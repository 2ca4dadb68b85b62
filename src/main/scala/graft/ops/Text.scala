package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Mat, Tables}

/** Text analysis / LLM-data-pipeline operators over `documents`
  * (SURVEY.md §2.9): wordcount, n-grams, tf-idf, exact + near dedup,
  * lexicon sentiment, corpus profiling.
  *
  * Tokenization contract: `split(lower(text), ' ')` — the fixture text is
  * single-spaced lowercase, and the oracle uses the same split.
  *
  * Scale posture: everything is explode → hash-aggregate (the classic
  * map/combine/reduce shape, codegen'd); the only quadratic operator,
  * near-dup Jaccard, is blocked by (lang, source) and joined on
  * (block, token) so the cross product never materializes globally.
  */
object Text {

  private def tokens(c: Column): Column = split(lower(c), " ")

  private def docTokens(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(tokens(col("text"))).as("word"))

  /** The canonical MapReduce operator: global word counts, top-50. */
  def q_wordcount(spark: SparkSession, sf: String): DataFrame =
    docTokens(spark, sf)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(50)

  /** Per-language word counts, top-10 per language via window rank. */
  def q_word_per_lang(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("word").asc)
    docTokens(spark, sf)
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .orderBy("lang", "rnk", "word")
  }

  /** Bigram counts from consecutive tokens (array HOF — no self-join). */
  def q_ngram_bigrams(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(tokens(col("text")).as("toks"))
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(30)

  /** TF-IDF: tf = in-doc term count, idf = LN(N / (1 + df)); top-20.
    * df comes from a window over the tf aggregate (same shuffle key as a
    * re-aggregation+join, but one pass over one explode instead of two).
    */
  def q_tfidf(spark: SparkSession, sf: String): DataFrame = {
    val n = Tables.documents(spark, sf).agg(count(lit(1)).as("n_docs"))
    val tf = docTokens(spark, sf)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"),
        round(col("tf") * log(col("n_docs") / (col("df") + 1)), 4).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id").asc, col("word").asc)
      .limit(20)
  }

  /** Exact dedup via md5 fingerprint groups, plus a total-distinct summary
    * row so the output is non-trivial even with zero duplicate texts.
    */
  def q_dedup_exact(spark: SparkSession, sf: String): DataFrame = {
    val fp = Tables.documents(spark, sf)
      .select(md5(col("text").cast("binary")).as("fingerprint"), col("doc_id"))
    val dupes = fp.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc_id"))
      .filter(col("n") > 1)
    val total = fp.agg(
      lit("__total_distinct__").as("fingerprint"),
      countDistinct(col("fingerprint")).as("n"),
      lit(-1L).as("min_doc_id"))
    dupes.unionByName(total).orderBy("fingerprint")
  }

  /** Documents with their distinct-token arrays and set sizes — the shared
    * input of the near-dup candidate and verify stages. */
  private[graft] def docSets(spark: SparkSession, sf: String): DataFrame =
    docSetsOf(Tables.documents(spark, sf))

  /** [[docSets]] from an explicit documents frame (spec fixtures). */
  private[graft] def docSetsOf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(tokens(col("text"))).as("toks"))
      .withColumn("sz", size(col("toks")).cast("long"))

  /** Exact-dup group representative per document: `rep` = min doc_id over
    * the identical (lang, source, toks) group — the collapse key every
    * rep-based pair op shares (round 7 proved it on the threshold sweep:
    * at 10× duplicate density the rep corpus is ~10× smaller and any
    * pair-shaped intermediate ~100× smaller, with outputs recoverable
    * EXACTLY because identical token arrays have identical set overlap
    * with every third document). Window-min, not collect_list — a
    * million-way dup group is one fat partition, never one fat row.
    * `Mat.once` because every consumer reads it ≥ 3 times (reps,
    * members, group sizes). */
  private[graft] def withRepOf(docsIn: DataFrame): DataFrame =
    Mat.once(docsIn
      .withColumn("rep", min(col("doc_id")).over(
        Window.partitionBy(col("lang"), col("source"), col("toks")))))

  /** [[pairOverlapOf]] semantics over a rep-collapsed corpus: the PPJoin
    * candidate + exact-verify machinery runs on ONE representative per
    * exact-dup group, and the verified pair table is expanded back to
    * full doc ids — generation-only work, no re-verification:
    *  - a rep pair (r1, r2) with overlap stats (inter, sz1, sz2) stands
    *    for every (member of r1's group) × (member of r2's group) pair,
    *    all with the SAME stats (identical token arrays per member);
    *    d1/d2 are re-ordered by id and sz1/sz2 swapped along with them;
    *  - within an exact-dup group every pair has inter = sz1 = sz2 = sz
    *    (Jaccard 1, containment 1 — above any consumer threshold).
    * The output pair set, filtered at any threshold ≥ (minJ, minC),
    * equals the uncollapsed [[pairOverlapOf]] output filtered the same
    * way (Round8OpsSpec pins this on planted dirty corpora); only the
    * sub-threshold candidate noise may differ, which no consumer keeps.
    *
    * `repFilter` (round 9) is the consumer's threshold predicate over
    * (inter, sz1, sz2), applied on the REP-level pair table BEFORE the
    * m1·m2 member-expansion joins. Exact because the stats are group
    * invariants: every expanded member pair carries the same (inter,
    * sz1, sz2) values (modulo the id-order swap of sz1/sz2, which every
    * consumer predicate is symmetric under), so filtering before or
    * after expansion keeps the identical pair set — but filtering first
    * stops sub-threshold candidate noise from being multiplied by
    * m1·m2 at high duplicate density. The `within` leg (inter = sz1 =
    * sz2) passes every consumer threshold ≤ 1 by construction and is
    * left unfiltered.
    */
  private[graft] def pairOverlapCollapsedOf(
      withRep: DataFrame,
      minJ: Option[(Long, Long)],
      minC: Option[(Long, Long)],
      repFilter: Column = lit(true)): DataFrame = {
    val reps = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("lang"), col("source"), col("toks"), col("sz"))
    val members = withRep.select(col("rep"), col("doc_id"), col("lang"),
      col("source"), col("sz"))
    val cross = pairOverlapOf(reps, minJ, minC)
      .filter(repFilter)
      .join(members.select(col("rep").as("d1"), col("doc_id").as("m1")), "d1")
      .join(members.select(col("rep").as("d2"), col("doc_id").as("m2")), "d2")
      .select(col("lang"), col("source"),
        least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"),
        col("inter"),
        when(col("m1") < col("m2"), col("sz1")).otherwise(col("sz2")).as("sz1"),
        when(col("m1") < col("m2"), col("sz2")).otherwise(col("sz1")).as("sz2"))
    val within = members.as("a")
      .join(members.as("b"),
        col("a.rep") === col("b.rep") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.lang").as("lang"), col("a.source").as("source"),
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sz").as("inter"), col("a.sz").as("sz1"), col("b.sz").as("sz2"))
    cross.unionByName(within)
  }

  // Near-dup pair core (PPJoin-style prefix filter, Chaudhuri/Xiao et
  // al.): the naive (block, token) postings self-join is O(df²) per token
  // — any frequent token makes it quadratic in the block size. Instead,
  // each document's tokens are ranked by GLOBAL rarity (df asc, token asc
  // — one total order for the whole corpus) and only each doc's rarest
  // threshold-sized prefix generates candidates; see [[pairCandidatesOf]]
  // for the per-threshold completeness argument. Candidates are verified
  // EXACTLY from the two token arrays (array_intersect — linear in doc
  // length, no postings re-join), so each consumer's output is identical
  // to the naive join at its threshold while a stopword sits at the END
  // of the rarity order and never enters a large doc's prefix.
  // Round5OpsSpec pins completeness against a brute-force oracle and the
  // fan-out bound.

  /** Candidate pairs of [[pairOverlapOf]] from a (doc_id, lang, source,
    * toks, sz) frame — the general J ≥ 0.5 / C ≥ 0.5 contract (the widest
    * any consumer needs); exposed so the spec can pin the prefix-filter's
    * completeness and fan-out on synthetic corpora, and so the TF-IDF
    * cosine op can reuse the candidate stage. */
  private[graft] def pairCandidatesOf(docs: DataFrame): DataFrame =
    pairCandidatesOf(docs, Some((1L, 2L)), Some((1L, 2L)))

  /** Threshold-parameterized PPJoin candidate generation. Thresholds are
    * exact integer rationals (num, den) — a float `ceil(0.9·sz)` can land
    * one above the true ceiling and silently shrink the prefix below the
    * completeness bound, so the ceilings here are pure integer math.
    *
    *  - `minJ = Some((n, d))`: prefix×prefix candidates complete for every
    *    same-block pair with Jaccard ≥ n/d. J ≥ t ⟹ inter ≥ ⌈t·sz⌉ on
    *    EACH side, and by the prefix-filter lemma (the SMALLEST common
    *    token under the one global rarity order sits inside both
    *    (sz − ⌈t·sz⌉ + 1)-prefixes), the two prefixes share a token.
    *  - `minC = Some((n, d))`: smaller-side-prefix × full-postings
    *    candidates complete for containment ≥ n/d: C ≥ t ⟹ inter ≥
    *    ⌈t·sz_small⌉, so the small doc's (sz − ⌈t·sz⌉ + 1)-prefix must
    *    hit the intersection — and every intersection token is in the big
    *    doc's full postings. Equal sizes are covered via the doc_id
    *    tiebreak (`<` on ids when `sz` ties).
    *
    * Consumers pass their own operating threshold, so a Jaccard-0.8 pass
    * joins ~0.2·sz prefixes instead of the generic half prefix — the
    * candidate volume at high duplicate density drops by the square of
    * that ratio while the verified output is provably unchanged.
    */
  private[graft] def pairCandidatesOf(
      docs: DataFrame,
      minJ: Option[(Long, Long)],
      minC: Option[(Long, Long)]): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"), col("source"), col("sz"),
      explode(col("toks")).as("word"))
    val dfreq = toks.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val ranked = toks.join(dfreq, "word")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("word").asc)))
    // prefix length for threshold n/d: sz − ⌈(n·sz)/d⌉ + 1, all integer —
    // `div`, not `/`: Column./ is DOUBLE division and a fractional prefix
    // bound silently truncates below the completeness minimum
    def pref(t: (Long, Long)) = ranked.filter(
      col("pos") <= col("sz") - expr(s"(sz * ${t._1} + ${t._2 - 1L}) div ${t._2}") + 1L)
    val jCand = minJ.map { t =>
      val p = pref(t)
      // PPJoin length filter: J ≥ n/d ⟹ max(sz)·n ≤ min(sz)·d (J is at
      // most min/max), so size-mismatched pairs never become candidates.
      // PPJoin POSITIONAL filter (round 7): J ≥ n/d ⟹ inter ≥
      // ⌈n·(szA+szB)/(n+d)⌉, and every common token of the pair sits at
      // or after the pair's SMALLEST common token w in BOTH docs (tokens
      // before w's position are < w in the one global order, and w is
      // the smallest common one), so inter ≤ min(szA−posA, szB−posB)+1
      // on w's row. A qualifying pair therefore always survives on its
      // w row — the filter only prunes redundant and sub-threshold
      // candidate rows BEFORE the distinct + exact-verify stages (the
      // integer ceiling keeps the bound exact, like the prefix bound).
      p.as("a")
        .join(p.as("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.sz"), col("b.sz")) * t._1 <=
            least(col("a.sz"), col("b.sz")) * t._2 &&
          expr(s"((a.sz + b.sz) * ${t._1} + ${t._1 + t._2 - 1L}) div ${t._1 + t._2}") <=
            least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) + 1L)
        .select(col("a.lang").as("lang"), col("a.source").as("source"),
          col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    }
    val cCand = minC.map { t =>
      // containment positional filter: C ≥ n/d ⟹ inter ≥ ⌈n·szA/d⌉ (A =
      // the smaller side), and the same smallest-common-token argument
      // bounds inter by min(szA−posA, szB−posB)+1 — so the full-postings
      // side joins `ranked` (which carries pos) instead of raw `toks`
      pref(t).as("a")
        .join(ranked.as("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.word") === col("b.word") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col("a.doc_id") < col("b.doc_id"))) &&
          expr(s"(a.sz * ${t._1} + ${t._2 - 1L}) div ${t._2}") <=
            least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) + 1L)
        .select(col("a.lang").as("lang"), col("a.source").as("source"),
          least(col("a.doc_id"), col("b.doc_id")).as("d1"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
    }
    (jCand.toSeq ++ cCand.toSeq).reduce(_ union _).distinct()
  }

  private[graft] def pairOverlapOf(docsIn: DataFrame): DataFrame =
    pairOverlapOf(docsIn, Some((1L, 2L)), Some((1L, 2L)))

  /** [[pairOverlapOf]] with per-consumer candidate thresholds — candidates
    * from [[pairCandidatesOf]], then EXACT verification from the two token
    * arrays, so any threshold filter at or above (minJ, minC) sees output
    * identical to the naive all-pairs postings join (Round5OpsSpec pins
    * this against the brute-force oracle at every consumer threshold). */
  private[graft] def pairOverlapOf(
      docsIn: DataFrame,
      minJ: Option[(Long, Long)],
      minC: Option[(Long, Long)]): DataFrame = {
    val docs = Mat.once(docsIn)
    pairCandidatesOf(docs, minJ, minC)
      .join(docs.select(col("doc_id").as("d1"), col("toks").as("t1"),
        col("sz").as("sz1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("toks").as("t2"),
        col("sz").as("sz2")), "d2")
      .select(col("lang"), col("source"), col("d1"), col("d2"),
        size(array_intersect(col("t1"), col("t2"))).cast("long").as("inter"),
        col("sz1"), col("sz2"))
  }

  private[ops] def neardupPairs(spark: SparkSession, sf: String): DataFrame =
    neardupPairsOf(docSets(spark, sf))

  /** Near-dup Jaccard pairs (J ≥ 0.8) via exact-dup rep collapse
    * (round 8): candidates at the op's own threshold (~0.2·sz prefixes,
    * no containment leg) over group representatives, expanded exactly —
    * same verified pair set as the uncollapsed pipeline, with the PPJoin
    * join and the array_intersect verify running on a corpus ~10× smaller
    * (and a pair space ~100× smaller) at 10× duplicate density. */
  private[graft] def neardupPairsOf(docsIn: DataFrame): DataFrame =
    pairOverlapCollapsedOf(withRepOf(docsIn), Some((4L, 5L)), None,
      // the op's own J ≥ 0.8 cut, pushed to the rep level (round-9
      // advice): the IDENTICAL expression re-applied below, symmetric in
      // (sz1, sz2), so sub-threshold candidate noise dies before the
      // m1·m2 expansion instead of after it
      repFilter = col("inter").cast("double") /
        (col("sz1") + col("sz2") - col("inter")) >= 0.8)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("lang"), col("source"), col("d1"), col("d2"),
        round(col("jaccard"), 4).as("j"))

  /** Containment near-dup (the fuzzy-substring / partial-overlap dedup a
    * training pipeline runs besides Jaccard): C = |A∩B| / min(|A|,|B|) as
    * an exact e4 integer, pairs with C ≥ 0.9 per (lang, source) block.
    * Catches a short doc swallowed by a longer one, which symmetric
    * Jaccard misses.
    */
  def q_neardup_containment(spark: SparkSession, sf: String): DataFrame =
    neardupContainmentOf(docSets(spark, sf))

  /** Containment pairs via the same rep collapse as [[neardupPairsOf]]:
    * containment-only candidates at the op's C ≥ 0.9 threshold (the
    * smaller side's ~0.1·sz prefix against full postings, equal sizes via
    * the id tiebreak) over group representatives, expanded exactly. */
  private[graft] def neardupContainmentOf(docsIn: DataFrame): DataFrame =
    pairOverlapCollapsedOf(withRepOf(docsIn), None, Some((9L, 10L)),
      // C ≥ 0.9 pushed to the rep level — same integer expression as the
      // consumer cut below, symmetric in (sz1, sz2) via least()
      repFilter = expr("inter * 10000 div least(sz1, sz2) >= 9000"))
      .select(col("lang"), col("source"), col("d1"), col("d2"),
        expr("inter * 10000 div least(sz1, sz2)").as("cont_e4"))
      .filter(col("cont_e4") >= 9000)
      .orderBy("lang", "source", "d1", "d2")

  def q_neardup_jaccard(spark: SparkSession, sf: String): DataFrame =
    neardupPairs(spark, sf).orderBy("lang", "source", "d1", "d2")

  /** Boilerplate-prefix detection (the Common-Crawl-style "same opening,
    * different tail" dedup pass exact dedup misses): group documents by
    * the fingerprint of their first 80 characters, report groups of ≥ 2
    * with their size, id range and language spread. One hash + one
    * group-by — a single shuffle keyed by the prefix fingerprint at any
    * corpus size.
    */
  def q_boilerplate_prefix(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        md5(substring(col("text"), 1, 80).cast("binary")).as("prefix_fp"))
      .groupBy(col("prefix_fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"), countDistinct(col("lang")).as("n_langs"))
      .filter(col("n_docs") >= 2)
      .orderBy("prefix_fp")

  /** Dedup cluster discovery: connected components over the union of
    * exact-dup edges (same md5 fingerprint → star to the group's min id)
    * and near-dup edges (Jaccard ≥ 0.8). Spark side runs min-label
    * propagation with pointer-doubling shortcuts (converges in
    * O(log diameter) rounds; each round is two small joins on the
    * edge/label tables, with `Mat.once` truncating the iterative
    * lineage — the large-star/small-star CC shape that scales to
    * billion-edge graphs). The oracle computes the same components by
    * recursive-CTE transitive closure, feasible because dup components
    * are small by nature. Output: one row per component (labelled by its
    * min doc_id) with size and max member.
    */
  def q_dedup_components(spark: SparkSession, sf: String): DataFrame =
    dedupComponentsOf(Tables.documents(spark, sf))

  /** [[q_dedup_components]] over an explicit documents frame, rep-collapsed
    * (round 8): the min-label loop runs on the QUOTIENT graph over
    * exact-dup group representatives, then the labelling is expanded back
    * to full doc ids. Exactness argument:
    *  - every member of a toks-group is connected to its rep in the
    *    original graph (identical sets ⇒ J = 1 ≥ 0.8 near-dup edge), so
    *    contracting each group onto its rep preserves components;
    *  - near-dup edges between groups exist iff the REP pair qualifies
    *    (J depends only on the token sets), so the quotient's near edges
    *    are exactly the rep-level PPJoin pairs;
    *  - exact (md5) edges ignore lang/source and can therefore CROSS
    *    toks-groups — they are mapped through rep() and kept when they
    *    connect two different groups;
    *  - a component's label (min member id) equals the min rep id in the
    *    quotient component, because each rep IS its group's min;
    *  - the original vertex set = {members of md5-dup groups} ∪ {members
    *    of toks-groups that have m ≥ 2 or whose rep touches a qualifying
    *    near edge} — rebuilt below without materializing any pair.
    * At 10× duplicate density the per-round join tables shrink ~10× and
    * the near-edge build ~100×; round count (O(log diameter)) unchanged.
    */
  private[graft] def dedupComponentsOf(documents: DataFrame): DataFrame = {
    val withRep = withRepOf(docSetsOf(documents))
    val repOf = withRep.select(col("doc_id"), col("rep"))
    val exactEdges = documents
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .withColumn("m", min(col("doc_id")).over(Window.partitionBy("fp")))
      .filter(col("m") =!= col("doc_id"))
      .select(col("m").as("ea"), col("doc_id").as("eb"))
    val exactRepEdges = exactEdges
      .join(repOf.select(col("doc_id").as("ea"), col("rep").as("ra")), "ea")
      .join(repOf.select(col("doc_id").as("eb"), col("rep").as("rb")), "eb")
      .filter(col("ra") =!= col("rb"))
      .select(col("ra").as("a"), col("rb").as("b"))
    val reps = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("lang"), col("source"), col("toks"), col("sz"))
    // feeds the edge union AND the vertex expansion
    val nearRepEdges = Mat.once(pairOverlapOf(reps, Some((4L, 5L)), None)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("d1").as("a"), col("d2").as("b")))
    val e = exactRepEdges.union(nearRepEdges).distinct()
    // vertex self-loops folded into the undirected edge table (round 10):
    // min-label propagation over neighbors∪self is then ONE join + ONE
    // aggregate per round — the round-9 shape needed a second left-outer
    // join per round just to merge each vertex's own label back in
    // (profiled: the loop's job count, not its data, dominates at small
    // SF — 77 Spark jobs per call; guide §7.3 driver overhead)
    val dir = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val und = Mat.once(dir
      .union(dir.select(col("a")).distinct()
        .select(col("a"), col("a").as("b"))))
    var labels = Mat.once(und.select(col("a").as("v")).distinct()
      .withColumn("comp", col("v")))
    var converged = false
    var iter = 0
    var labelSum: java.math.BigDecimal = null
    while (!converged && iter < 50) {
      val stepped = und.join(labels, und("b") === labels("v"))
        .groupBy(und("a").as("v"))
        .agg(min(col("comp")).as("comp"))
      // pointer doubling: follow the label's own label (halves the
      // remaining propagation distance each round). Inner join — every
      // comp value is the min of some vertex-id set, hence itself a
      // vertex id, and `stepped` carries every vertex (self-loops).
      // lazy: the convergence aggregate right below is the action that
      // materializes it (eager would spend a second job per round)
      val next = Mat.once(stepped.as("x")
        .join(stepped.select(col("v").as("cv"), col("comp").as("ccomp")).as("y"),
          col("x.comp") === col("y.cv"))
        .select(col("x.v").as("v"),
          least(col("x.comp"), col("y.ccomp")).as("comp")), eager = false)
      // labels only ever decrease, so Σcomp is strictly monotone until the
      // fixpoint — one scalar aggregate per round instead of a compare-join
      val sum = next.agg(org.apache.spark.sql.functions.sum(col("comp")).cast("decimal(38,0)"))
        .head().getDecimal(0)
      converged = labelSum != null && labelSum.compareTo(sum) == 0
      labelSum = sum
      labels = next
      iter += 1
    }
    // expansion: rebuild the ORIGINAL vertex set (no pair materializes) and
    // label each member by its rep's quotient component — an isolated
    // m ≥ 2 group (no cross edges) keeps its own rep as the label
    val groups = withRep.groupBy(col("rep")).agg(count(lit(1)).as("m"))
    val nearVertGroups = groups.filter(col("m") >= 2L).select(col("rep"))
      .union(nearRepEdges.select(col("a").as("rep")))
      .union(nearRepEdges.select(col("b").as("rep")))
      .distinct()
    val nearVerts = withRep.join(nearVertGroups, "rep")
      .select(col("doc_id").as("v"), col("rep"))
    val exactVerts = exactEdges.select(col("ea").as("doc_id"))
      .union(exactEdges.select(col("eb").as("doc_id"))).distinct()
      .join(repOf, "doc_id")
      .select(col("doc_id").as("v"), col("rep"))
    val verts = nearVerts.union(exactVerts).distinct()
    verts
      .join(labels.select(col("v").as("rep"), col("comp")), Seq("rep"), "left_outer")
      .select(col("v"), coalesce(col("comp"), col("rep")).as("comp"))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_docs"), max(col("v")).as("max_doc"))
      .orderBy("comp")
  }

  /** Pairwise KL divergence between the languages' Laplace-smoothed token
    * distributions D(P‖Q) = Σ_w P(w)·ln(P(w)/Q(w)) — the
    * distribution-shift check a mixture pipeline runs between corpus
    * shards. The vocabulary is densified per language (every language ×
    * every vocab word, zeros included) so the sum runs over the same
    * support on both engines; each term is rounded to an e8 integer
    * BEFORE the order-independent sum. Profiles are vocabulary-sized —
    * tiny relative to the corpus at any scale.
    */
  def q_lang_divergence(spark: SparkSession, sf: String): DataFrame = {
    val counts = docTokens(spark, sf)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
    val vocab = counts.select(col("word")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val totals = counts.groupBy(col("lang")).agg(sum(col("c")).as("t"))
    val langs = totals.select(col("lang"), col("t"))
    // vocabulary-sized; materialize before the pair self-join so the
    // corpus tokenize/aggregate pipeline behind it runs once, not twice
    val dense = Mat.once(langs.crossJoin(vocab)
      .join(counts, Seq("lang", "word"), "left_outer")
      .select(col("lang"), col("word"), col("t"), coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(vsize)))
    val p = (col("a.c") + lit(1L)).cast("double") /
      (col("a.t") + col("a.v")).cast("double")
    val q = (col("b.c") + lit(1L)).cast("double") /
      (col("b.t") + col("b.v")).cast("double")
    dense.as("a")
      .join(dense.as("b"),
        col("a.word") === col("b.word") && col("a.lang") =!= col("b.lang"))
      .select(col("a.lang").as("lang_p"), col("b.lang").as("lang_q"),
        round(p * log(p / q) * lit(1e8)).cast("long").as("term_e8"))
      .groupBy(col("lang_p"), col("lang_q"))
      .agg(sum(col("term_e8")).as("kl_e8"))
      .select(col("lang_p"), col("lang_q"), col("kl_e8"),
        (round(col("kl_e8").cast("double") / lit(1e8), 4) + lit(0.0)).as("kl"))
      .orderBy("lang_p", "lang_q")
  }

  /** Near-dup threshold sweep (the tuning pass that decides where to cut
    * before a production dedup run): the candidate-pair count and total
    * docs-removed-if-deduped at Jaccard thresholds 0.5…0.9 — exact e4
    * integer Jaccard.
    *
    * Scale shape (round 7): EXACT-DUP COLLAPSE FIRST — the step every
    * production near-dup pass runs anyway. Documents with identical
    * (lang, source, token-array) keys form groups; the PPJoin pair pass
    * runs over one REPRESENTATIVE per group (rep = min doc_id), and the
    * swept counts are expanded combinatorially, exactly:
    *  - within a group of m identical docs every pair has J = 1 (e4
    *    10000 ≥ every swept cut): C(m,2) pairs;
    *  - a rep pair (A,B) with Jaccard j stands for m_A·m_B doc pairs,
    *    all with the SAME exact j (identical token sets per member);
    *  - a doc x is "removed" at cut t (appears as the LARGER id d2 of
    *    some qualifying pair) iff some qualifying partner has a smaller
    *    id — i.e. iff x exceeds the smallest of {its own group's min id
    *    (when m ≥ 2)} ∪ {qualifying partner groups' min ids} — a
    *    per-(group, threshold) MIN bound counted over exploded members.
    * At 10× duplicate density the rep corpus is ~10× smaller and the
    * verified pair table ~100× smaller (sf1: 14.0 M → 0.14 M pairs,
    * 46 s → ~8 s isolated) while every count is provably unchanged
    * (Round7OpsSpec pins equality against the uncollapsed pipeline on a
    * planted dirty corpus and the fixtures).
    */
  def q_dedup_threshold_sweep(spark: SparkSession, sf: String): DataFrame =
    dedupThresholdSweepOf(docSets(spark, sf))

  private[graft] def dedupThresholdSweepOf(docsIn: DataFrame): DataFrame = {
    // rep = min doc_id over the exact-dup group, via a window rather than
    // a collect_list: no member array ever materializes, so a boilerplate
    // doc repeated a million times is one fat PARTITION, not one fat row
    // feeds reps, group sizes, and the member scan
    val withRep = Mat.once(docsIn
      .withColumn("rep", min(col("doc_id")).over(
        Window.partitionBy(col("lang"), col("source"), col("toks")))))
    val sizes = withRep.groupBy(col("rep")).agg(count(lit(1)).as("m"))
    val groups = Mat.once(sizes)
    val reps = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("lang"), col("source"), col("toks"), col("sz"))
    // Jaccard-only candidates (lowest cut 0.5): the containment leg's
    // extra candidates all fail every swept threshold, so dropping it
    // leaves the counted pair set unchanged while halving the candidates
    val repPairs = Mat.once(pairOverlapOf(reps, Some((1L, 2L)), None)
      .select(col("d1"), col("d2"),
        expr("inter * 10000 div (sz1 + sz2 - inter)").as("j_e4"))
      .filter(col("j_e4") >= 5000L)) // feeds both the pair counts and the removal bounds
    val thr = "explode(array(5000L, 6000L, 7000L, 8000L, 9000L))"
    // qualifying pair multiplicities: cross-group m_A·m_B + within-group C(m,2)
    val crossPairs = repPairs
      .join(groups.select(col("rep").as("d1"), col("m").as("m1")), "d1")
      .join(groups.select(col("rep").as("d2"), col("m").as("m2")), "d2")
      .select(col("j_e4"), (col("m1") * col("m2")).as("mm"))
    val withinPairs = groups.filter(col("m") >= 2L)
      .select(lit(10000L).as("j_e4"), expr("m * (m - 1) div 2").as("mm"))
    val nPairs = crossPairs.unionByName(withinPairs)
      .select(col("j_e4"), col("mm"), expr(thr).as("thr"))
      .filter(col("j_e4") >= col("thr"))
      .groupBy(col("thr").cast("long").as("threshold_e4"))
      .agg(sum(col("mm")).as("n_pairs"))
    // per-(group, threshold) removal bound = min over {own min id | m>=2}
    // and qualifying partner groups' min ids (rep IS the group min)
    val partnerBounds = repPairs
      .select(col("j_e4"), explode(array(
        struct(col("d1").as("g"), col("d2").as("b")),
        struct(col("d2").as("g"), col("d1").as("b")))).as("e"))
      .select(col("j_e4"), col("e.g").as("g"), col("e.b").as("b"), expr(thr).as("thr"))
      .filter(col("j_e4") >= col("thr"))
      .select(col("g"), col("b"), col("thr"))
    val withinBounds = groups.filter(col("m") >= 2L)
      .select(col("rep").as("g"), col("rep").as("b"), expr(thr).as("thr"))
    val bounds = partnerBounds.unionByName(withinBounds)
      .groupBy(col("g"), col("thr")).agg(min(col("b")).as("bound"))
    val removed = withRep
      .select(col("rep").as("g"), col("doc_id").as("member"))
      .join(bounds, "g")
      .filter(col("member") > col("bound"))
      .groupBy(col("thr").cast("long").as("threshold_e4"))
      .agg(count(lit(1)).as("n_docs_removed"))
    nPairs.join(removed, "threshold_e4")
      .select(col("threshold_e4"), col("n_pairs"), col("n_docs_removed"))
      .orderBy("threshold_e4")
  }

  /** Hapax-legomena profile per language: vocabulary size, the count of
    * once-seen and twice-seen types, and the hapax share of the
    * vocabulary (e4) — the corpus-maturity indicator (a high hapax share
    * flags OCR noise or under-collection). One vocabulary-sized
    * aggregate.
    */
  def q_hapax_ratio(spark: SparkSession, sf: String): DataFrame =
    docTokens(spark, sf)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("dis_legomena"))
      .select(col("lang"), col("vocab"), col("hapax"), col("dis_legomena"),
        expr("hapax * 10000 div vocab").as("hapax_share_e4"))
      .orderBy("lang")

  /** Mutual information between language and token identity — the
    * feature-selection / leakage signal I(lang; word) = Σ p(l,w)·
    * ln(p(l,w)·N/(n_l·n_w)), summed over OBSERVED cells only (0·ln 0 = 0
    * exactly, so the unobserved cells contribute nothing on either
    * engine), reported per language. Terms ride the proven e8 LN lattice
    * before the order-free sum; the joint table is vocabulary-sized and
    * materialized (`Mat.once`) so the corpus tokenize runs once, not four times
    * (joint + both margins + total).
    */
  def q_mutual_info(spark: SparkSession, sf: String): DataFrame = {
    val joint = Mat.once(docTokens(spark, sf)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c")))
    val nl = joint.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    val nw = joint.groupBy(col("word")).agg(sum(col("c")).as("nw"))
    val nn = joint.agg(sum(col("c")).as("nn"))
    joint.join(broadcast(nl), "lang").join(nw, "word").crossJoin(broadcast(nn))
      .select(col("lang"),
        round((col("c").cast("double") / col("nn").cast("double")) *
          log(col("c").cast("double") * col("nn").cast("double") /
            (col("nl").cast("double") * col("nw").cast("double"))) * lit(1e8))
          .cast("long").as("term_e8"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_cells"), sum(col("term_e8")).as("mi_e8"))
      .select(col("lang"), col("n_cells"), col("mi_e8"),
        (round(col("mi_e8").cast("double") / lit(1e8), 4) + lit(0.0)).as("mi_nats"))
      .orderBy("lang")
  }

  /** Zipf-law fit of the corpus frequency spectrum: OLS slope of
    * ln(freq) on ln(rank) over the top-100 tokens (a healthy natural
    * corpus sits near −1; flat or cliff-shaped spectra flag synthetic or
    * template text). The top-100 arrive via TakeOrderedAndProject; ranks
    * come from sorting the single collected 100-struct array (no global
    * window anywhere); the log-log points land on the proven e8 LN
    * lattice before exact integer sums, and the slope/intercept epilogue
    * is one fixed IEEE tree shared with the oracle.
    */
  def q_zipf_fit(spark: SparkSession, sf: String): DataFrame = {
    val top = docTokens(spark, sf)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word").asc).limit(100)
    val ranked = top
      .agg(array_sort(collect_list(struct((-col("c")).as("negc"), col("word")))).as("a"))
      .select(posexplode(col("a")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("long").as("rank"), (-col("s.negc")).as("c"))
    val pts = ranked.select(
      round(log(col("rank").cast("double")) * lit(1e8)).cast("long").as("x_e8"),
      round(log(col("c").cast("double")) * lit(1e8)).cast("long").as("y_e8"))
    val s = pts.agg(count(lit(1)).as("n"),
      sum(col("x_e8")).as("sx"), sum(col("y_e8")).as("sy"),
      sum(col("x_e8").cast("decimal(38,0)") * col("y_e8")).as("sxy"),
      sum(col("x_e8").cast("decimal(38,0)") * col("x_e8")).as("sxx"))
    val nD = col("n").cast("double")
    val slope = (nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")) /
      (nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double"))
    s.select(col("n").as("n_points"),
      (round(slope, 4) + lit(0.0)).as("zipf_slope"),
      (round((col("sy").cast("double") - slope * col("sx").cast("double")) / nD / lit(1e8), 4)
        + lit(0.0)).as("intercept_ln"))
  }

  /** Shannon entropy of the token distribution per language, from exact
    * integer counts: each count's c·ln(c) term is rounded to an e4 integer
    * BEFORE summation (the same proven cross-engine `ROUND(LN(·)·1e4)`
    * lattice the NB model uses), so the sum is order-independent; the
    * closed-form epilogue H = ln(n) − Σ/(n·10⁴) runs on both engines as
    * the identical IEEE tree.
    */
  def q_token_entropy(spark: SparkSession, sf: String): DataFrame =
    docTokens(spark, sf)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
      .select(col("lang"), col("c"),
        round(col("c").cast("double") * log(col("c").cast("double")) * 1e4)
          .cast("long").as("clnc_e4"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
        sum(col("clnc_e4")).as("s_e4"))
      .select(col("lang"), col("vocab"), col("n_tokens"),
        (round(
          log(col("n_tokens").cast("double")) -
            col("s_e4").cast("double") / (col("n_tokens").cast("double") * lit(1e4)),
          4) + lit(0.0)).as("entropy"))
      .orderBy("lang")

  /** Bigram entropy rate per language: H(w₂|w₁) = H(w₁,w₂) − H(w₁) from
    * the bigram and unigram-context counts, each on the proven e4
    * c·ln(c) lattice of [[q_token_entropy]] — the sequence-predictability
    * / compressibility signal that complements the unigram entropy.
    * Margins re-sum the bigram aggregate; the corpus is tokenized once.
    */
  def q_bigram_entropy_rate(spark: SparkSession, sf: String): DataFrame = {
    val bg = Mat.once(Tables.documents(spark, sf)
      .select(col("lang"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))")).as("b"))
      .groupBy(col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12")))
    def entropyTerms(df: DataFrame, c: String) = df
      .select(col("lang"), col(c),
        round(col(c).cast("double") * log(col(c).cast("double")) * 1e4)
          .cast("long").as("t_e4"))
      .groupBy(col("lang"))
      .agg(sum(col(c)).as("n"), sum(col("t_e4")).as("s_e4"))
    val h2 = entropyTerms(bg, "c12")
      .select(col("lang"), col("n").as("n2"), col("s_e4").as("s2_e4"))
    val h1 = entropyTerms(
      bg.groupBy(col("lang"), col("w1")).agg(sum(col("c12")).as("c1")), "c1")
      .select(col("lang"), col("n").as("n1"), col("s_e4").as("s1_e4"))
    def h(n: Column, s: Column): Column =
      log(n.cast("double")) - s.cast("double") / (n.cast("double") * lit(1e4))
    h2.join(h1, "lang")
      .select(col("lang"), col("n2").as("n_bigrams"),
        (round(h(col("n1"), col("s1_e4")), 4) + lit(0.0)).as("h_unigram"),
        (round(h(col("n2"), col("s2_e4")), 4) + lit(0.0)).as("h_joint"),
        (round(h(col("n2"), col("s2_e4")) - h(col("n1"), col("s1_e4")), 4)
          + lit(0.0)).as("entropy_rate"))
      .orderBy("lang")
  }

  /** Collocation extraction by pointwise mutual information: bigrams seen
    * ≥ 5 times ranked by PMI = ln(c12·N / (c1·c2)) with margins re-summed
    * from the bigram aggregate itself (no second corpus pass); e4 integer
    * PMI keeps ordering engine-exact.
    */
  def q_colloc_pmi(spark: SparkSession, sf: String): DataFrame = {
    val bg = TextPipeline.docBigrams(spark, sf)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val tot = bg.agg(sum(col("c12")).as("n"))
    bg.withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
      .withColumn("c2", sum(col("c12")).over(Window.partitionBy("w2")))
      .filter(col("c12") >= 5)
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"),
        round(log(
          (col("c12").cast("double") * col("n").cast("double")) /
            (col("c1").cast("double") * col("c2").cast("double"))) * 1e4)
          .cast("long").as("pmi_e4"))
      .orderBy(col("pmi_e4").desc, col("w1").asc, col("w2").asc)
      .limit(30)
  }

  /** Lexicon sentiment (fixed 2+2 word lexicon). Per-language output keeps
    * all arithmetic integral until one final division: hit counts and token
    * totals are exact longs; the score ratio is a single IEEE division.
    */
  def q_sentiment_lexicon(spark: SparkSession, sf: String): DataFrame = {
    val scored = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(
        col("lang"),
        size(col("toks")).cast("long").as("n_tok"),
        size(filter(col("toks"), t => t.isin("fast", "big"))).cast("long").as("pos"),
        size(filter(col("toks"), t => t.isin("slow", "small"))).cast("long").as("neg"))
    scored.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pos") > col("neg"), 1L).otherwise(0L)).as("pos_docs"),
        sum(when(col("neg") > col("pos"), 1L).otherwise(0L)).as("neg_docs"),
        (sum(col("pos") - col("neg")) / sum(col("n_tok"))).as("score_ratio"))
      .orderBy("lang")
  }

  /** Corpus profiling per (lang, source). */
  def q_text_stats(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("lang"), col("source"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        round(sum(col("n_tok")) / count(lit(1)), 4).as("avg_tokens"))
      .orderBy("lang", "source")

  /** Token-length profile per language — the length histogram a tokenizer
    * /embedding budget is sized from: per (lang, token length) the count
    * and exact e4 share of the language's tokens (share via a lang-keyed
    * margin window over the already-aggregated profile, not a rescan).
    */
  def q_token_length_profile(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("lang"), length(col("word")).cast("long").as("len"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy("lang")))
      .select(col("lang"), col("len"), col("n"),
        expr("n * 10000 div tot").as("share_e4"))
      .orderBy("lang", "len")

  /** Bag-of-words dedup: two documents with the same word MULTISET are
    * duplicates (catches word-order shuffles that exact-hash dedup
    * misses). Fingerprint = the sorted token list re-joined; per language
    * the doc count, distinct-bag count and surviving extra docs. One
    * scan, one aggregate — the fingerprint is computed inside the row.
    */
  def q_dedup_bow(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("lang"),
        array_join(sort_array(tokens(col("text"))), " ").as("bow"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("bow")).as("n_bow_distinct"))
      .select(col("lang"), col("n_docs"), col("n_bow_distinct"),
        (col("n_docs") - col("n_bow_distinct")).as("n_dup_extra"))
      .orderBy("lang")

  /** Spell-correction candidates: vocabulary words within levenshtein
    * distance 1 of three misspelled probes, ranked by corpus frequency
    * (top-3 per probe). The distance predicate runs against the
    * AGGREGATED vocabulary, so the edit-distance scan is |V|·|probes|,
    * never corpus-sized.
    */
  def q_spell_candidates(spark: SparkSession, sf: String): DataFrame = {
    val vocab = Tables.documents(spark, sf)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val probes = Seq("tble", "qery", "windw")
    val probeDf = probes.map(p => vocab
      .select(lit(p).as("probe"), col("word").as("candidate"), col("c"),
        levenshtein(col("word"), lit(p)).cast("long").as("dist"))
      .filter(col("dist") <= 1L)).reduce(_.unionByName(_))
    val w = Window.partitionBy("probe").orderBy(col("c").desc, col("candidate").asc)
    probeDf
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("probe"), col("rk"), col("candidate"), col("dist"), col("c"))
      .orderBy("probe", "rk")
  }

  /** Vocabulary-overlap (Jaccard) matrix between language pairs: distinct
    * token sets per language joined on the token — |A∩B| exact, the union
    * by inclusion-exclusion, e6 floor ratio. Tells a tokenizer team how
    * much one shared vocab buys across languages; one distinct pass + a
    * word-keyed self-join of the (lang, word) table.
    */
  def q_vocab_jaccard_langs(spark: SparkSession, sf: String): DataFrame = {
    val vocab = Tables.documents(spark, sf)
      .select(col("lang"), explode(tokens(col("text"))).as("word")).distinct()
    val sizes = vocab.groupBy(col("lang")).agg(count(lit(1)).as("v"))
    vocab.as("a").join(vocab.as("b"),
      col("a.word") === col("b.word") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("lang1"), col("b.lang").as("lang2"))
      .agg(count(lit(1)).as("n_inter"))
      .join(broadcast(sizes.select(col("lang").as("lang1"), col("v").as("v1"))), "lang1")
      .join(broadcast(sizes.select(col("lang").as("lang2"), col("v").as("v2"))), "lang2")
      .select(col("lang1"), col("lang2"), col("v1"), col("v2"), col("n_inter"),
        expr("n_inter * 1000000 div (v1 + v2 - n_inter)").as("jaccard_e6"))
      .orderBy("lang1", "lang2")
  }

  /** Rising terms: the 10 tokens whose corpus share grew most from the
    * first to the second half of the collection (doc_id order as the time
    * axis). Shares are exact e9 integers per half from one conditional
    * aggregate — a token absent from a half simply contributes zero.
    * The "what's trending" screen over any append-ordered corpus.
    */
  def q_rising_terms(spark: SparkSession, sf: String): DataFrame = {
    val n = Tables.documents(spark, sf).agg(count(lit(1)).as("nn"))
    val toksHalf = Tables.documents(spark, sf)
      .crossJoin(broadcast(n))
      .select(explode(tokens(col("text"))).as("word"),
        (col("doc_id") * 2 >= col("nn")).cast("long").as("half"))
    val tot = toksHalf.groupBy(col("half")).agg(count(lit(1)).as("t"))
    toksHalf.groupBy(col("word"))
      .agg(sum(when(col("half") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("half") === 1L, 1L).otherwise(0L)).as("c1"))
      .crossJoin(broadcast(tot.agg(
        max(when(col("half") === 0L, col("t"))).as("t0"),
        max(when(col("half") === 1L, col("t"))).as("t1"))))
      .select(col("word"), col("c0"), col("c1"),
        (expr("c1 * 1000000000 div t1") - expr("c0 * 1000000000 div t0"))
          .as("share_delta_e9"))
      .orderBy(col("share_delta_e9").desc, col("word").asc)
      .limit(10)
  }

  /** Bigram novelty per language: the share of a language's bigram
    * occurrences that fall OUTSIDE the global top-1000 bigram list (count
    * desc, bigram asc — a TakeOrdered top-k, never a global sort). The
    * "how much long-tail text is here" readout that sizes novelty-based
    * quality filters; the top list broadcasts to one join at any scale.
    */
  def q_ngram_novelty(spark: SparkSession, sf: String): DataFrame = {
    val bg = Tables.documents(spark, sf)
      .select(col("lang"), tokens(col("text")).as("toks"))
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("bigram"))
    val top = bg.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc).limit(1000)
      .select(col("bigram"), lit(1L).as("in_top"))
    bg.join(broadcast(top), Seq("bigram"), "left_outer")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("in_top").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("lang"), col("n_bigrams"), col("n_novel"),
        expr("n_novel * 10000 div n_bigrams").as("novelty_e4"))
      .orderBy("lang")
  }

  /** Interpolated Kneser-Ney bigram probabilities for continuations of
    * "fast" (discount 0.75): the discounted bigram term plus the backoff
    * weight times the CONTINUATION probability (how many distinct left
    * contexts a word appears in — the KN insight that "Francisco" is
    * frequent but not versatile). All counts exact; the probability is
    * one fixed IEEE tree; top 20 continuations.
    */
  def q_kneser_ney(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val bigrams = Mat.once(Tables.documents(spark, sf)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("w1"))
      .withColumn("w2", lead(col("w1"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("w1"), col("w2")))
    val c12 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c")).as("cw1"),
      count(lit(1)).as("n1plus_fwd"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1plus_bwd"))
    val totTypes = c12.agg(count(lit(1)).as("n_bigram_types"))
    c12.filter(col("w1") === "fast")
      .join(broadcast(c1.filter(col("w1") === "fast")), "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(totTypes))
      .select(col("w2"), col("c").as("c_bigram"), col("n1plus_bwd"),
        (round(expr(
          """GREATEST(CAST(c AS DOUBLE) - 0.75, 0.0) / CAST(cw1 AS DOUBLE)
             + 0.75 * CAST(n1plus_fwd AS DOUBLE) / CAST(cw1 AS DOUBLE)
               * CAST(n1plus_bwd AS DOUBLE) / CAST(n_bigram_types AS DOUBLE)"""),
          6) + lit(0.0)).as("p_kn"))
      .orderBy(col("p_kn").desc, col("w2").asc)
      .limit(20)
  }

  /** Shared bigram/unigram counts for the §2.159 smoothing family:
    * (w1,w2) bigram counts via per-doc keyed lead windows, unigram
    * counts, and corpus totals — each smoother broadcasts the tiny
    * per-context slice it needs.
    */
  private def bigramCounts(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    Mat.once(Tables.documents(spark, sf)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("w1"))
      .withColumn("w2", lead(col("w1"), 1).over(w))
      .filter(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")))
  }

  /** Witten-Bell smoothed bigram probabilities for continuations of
    * "join": λ(w1) = T/(c(w1)+T) with T the distinct-continuation
    * count — the "how often does this context coin a NEW word" mass —
    * and p = (1−λ)·ML + λ·unigram. The WB member of the smoothing
    * family (KN §2.21, JM/backoff below); one fixed IEEE tree r6,
    * every join broadcast-bounded by the vocabulary.
    */
  def q_witten_bell(spark: SparkSession, sf: String): DataFrame = {
    val c12 = bigramCounts(spark, sf)
    val uni = c12.groupBy(col("w2")).agg(sum(col("c")).as("cu"))
    val tot = uni.agg(sum(col("cu")).as("nn"))
    val ctx = c12.filter(col("w1") === "join")
      .groupBy(col("w1")).agg(sum(col("c")).as("cw1"),
        count(lit(1)).as("tt"))
    c12.filter(col("w1") === "join")
      .join(broadcast(ctx), "w1")
      .join(uni, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w2"), col("c").as("c_bigram"), col("cu").as("c_unigram"),
        (round(expr(
          """(CAST(cw1 AS DOUBLE) / (CAST(cw1 AS DOUBLE) + CAST(tt AS DOUBLE)))
             * (CAST(c AS DOUBLE) / CAST(cw1 AS DOUBLE))
             + (CAST(tt AS DOUBLE) / (CAST(cw1 AS DOUBLE) + CAST(tt AS DOUBLE)))
               * (CAST(cu AS DOUBLE) / CAST(nn AS DOUBLE))"""),
          6) + lit(0.0)).as("p_wb"))
      .orderBy(col("p_wb").desc, col("w2").asc)
      .limit(20)
  }

  /** Jelinek-Mercer interpolation (λ = 0.7) for continuations of
    * "join": p = λ·ML(w2|w1) + (1−λ)·unigram(w2) — the fixed-weight
    * member of the smoothing family, the baseline KN and WB are judged
    * against. Same broadcast-bounded shape, r6 IEEE tree.
    */
  def q_jelinek_mercer(spark: SparkSession, sf: String): DataFrame = {
    val c12 = bigramCounts(spark, sf)
    val uni = c12.groupBy(col("w2")).agg(sum(col("c")).as("cu"))
    val tot = uni.agg(sum(col("cu")).as("nn"))
    val ctx = c12.filter(col("w1") === "join")
      .groupBy(col("w1")).agg(sum(col("c")).as("cw1"))
    c12.filter(col("w1") === "join")
      .join(broadcast(ctx), "w1")
      .join(uni, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w2"), col("c").as("c_bigram"), col("cu").as("c_unigram"),
        (round(expr(
          """0.7 * CAST(c AS DOUBLE) / CAST(cw1 AS DOUBLE)
             + 0.3 * CAST(cu AS DOUBLE) / CAST(nn AS DOUBLE)"""),
          6) + lit(0.0)).as("p_jm"))
      .orderBy(col("p_jm").desc, col("w2").asc)
      .limit(20)
  }

  /** Stupid backoff (Brants et al. EMNLP'07) scores over the WHOLE
    * vocabulary for context "join": S = c12/c(w1) when the bigram was
    * seen, else 0.4·unigram — the non-normalized web-scale scorer.
    * Unseen continuations enter via a left join from the unigram
    * vocabulary, so the output shows where backoff mass overtakes rare
    * seen bigrams; top 20, r6 tree, vocabulary-bounded broadcasts.
    */
  def q_stupid_backoff(spark: SparkSession, sf: String): DataFrame = {
    val c12 = bigramCounts(spark, sf)
    val uni = c12.groupBy(col("w2")).agg(sum(col("c")).as("cu"))
    val tot = uni.agg(sum(col("cu")).as("nn"))
    val ctx = c12.filter(col("w1") === "join")
      .groupBy(col("w1")).agg(sum(col("c")).as("cw1"))
    uni.join(c12.filter(col("w1") === "join")
        .select(col("w2"), col("c")), Seq("w2"), "left_outer")
      .crossJoin(broadcast(ctx.select(col("cw1"))))
      .crossJoin(broadcast(tot))
      .select(col("w2"), coalesce(col("c"), lit(0L)).as("c_bigram"),
        col("cu").as("c_unigram"),
        when(col("c").isNotNull, lit(1L)).otherwise(0L).as("seen_bigram"),
        (round(expr(
          """CASE WHEN c IS NOT NULL
               THEN CAST(c AS DOUBLE) / CAST(cw1 AS DOUBLE)
               ELSE 0.4 * CAST(cu AS DOUBLE) / CAST(nn AS DOUBLE) END"""),
          6) + lit(0.0)).as("s_backoff"))
      .orderBy(col("s_backoff").desc, col("w2").asc)
      .limit(20)
  }

  /** Burrows' Delta stylometry: z-scores of the 20 highest-frequency
    * words' per-source relative frequencies (e6 integer shares, exact
    * source stats), Delta(source) = mean |z − z_src0| — which sources
    * "write like" source 0. The attribution metric of computational
    * stylometry, here over the 20 synthetic sources.
    */
  def q_burrows_delta(spark: SparkSession, sf: String): DataFrame = {
    val toks = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val topW = Mat.once(toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(20)
      .select(col("w")))
    val srcTot = toks.groupBy(col("source")).agg(count(lit(1)).as("nt"))
    val shares = toks.join(broadcast(topW), "w")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cw"))
      .join(srcTot, "source")
      .select(col("source"), col("w"), expr("cw * 1000000 div nt").as("sh_e6"))
    val wStats = shares.groupBy(col("w"))
      .agg(count(lit(1)).as("ns"), sum(col("sh_e6")).as("ss"),
        sum(col("sh_e6") * col("sh_e6")).as("qq"))
    val z = shares.join(broadcast(wStats), "w")
      .select(col("source"), col("w"),
        expr("""(CAST(sh_e6 AS DOUBLE) - CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))
                / SQRT((CAST(qq AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))
                       / CAST(ns - 1 AS DOUBLE))""").as("z"))
    val z0 = z.filter(col("source") === "src0")
      .select(col("w"), col("z").as("z0"))
    z.filter(col("source") =!= "src0")
      .join(broadcast(z0), "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        (round(avg(abs(col("z") - col("z0"))), 4) + lit(0.0)).as("delta"))
      .orderBy("source")
  }

  /** Good-Turing frequency smoothing: the freq-of-freqs table N_r and
    * the adjusted counts r* = (r+1)·N_{r+1}/N_r for r = 1..5, plus the
    * unseen-mass estimate P₀ = N₁/N — the count re-estimation under
    * every classical smoothed language model. All counts exact; r* is an
    * exact e4 floor.
    */
  def q_good_turing(spark: SparkSession, sf: String): DataFrame = {
    val freq = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("r"))
    val nr = freq.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val tot = freq.agg(sum(col("r")).as("n"),
      sum(when(col("r") === 1, 1L).otherwise(0L)).as("n1"))
    nr.as("a")
      .join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1")).as("b"), Seq("r"),
        "left_outer")
      .orderBy(col("r").asc).limit(5) // the 5 rarest observed counts
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"), coalesce(col("n_r1"), lit(0L)).as("n_r_plus1"),
        expr("(r + 1) * coalesce(n_r1, CAST(0 AS BIGINT)) * 10000 div n_r").as("r_star_e4"),
        expr("n1 * 1000000 div n").as("p0_e6"))
      .orderBy("r")
  }

  /** Chao1 vocabulary-richness estimate: V + F₁²/(2F₂) from the hapax
    * and dis-legomena counts — how many word types the corpus has NOT
    * yet shown us, the unseen-species bound that tells a crawl whether
    * more data still buys vocabulary. Exact integer estimator with an
    * e2 variance-style detail.
    */
  def q_chao1_estimate(spark: SparkSession, sf: String): DataFrame = {
    val freq = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("r"))
    freq.agg(count(lit(1)).as("v_observed"),
      sum(when(col("r") === 1, 1L).otherwise(0L)).as("f1"),
      sum(when(col("r") === 2, 1L).otherwise(0L)).as("f2"),
      sum(col("r")).as("n_tokens"))
      .select(col("v_observed"), col("f1"), col("f2"), col("n_tokens"),
        (col("v_observed") + expr("f1 * f1 div (2 * greatest(f2, CAST(1 AS BIGINT)))"))
          .as("chao1_estimate"))
  }

  /** Method-of-moments negative-binomial fit of tokens-per-document:
    * r = m²/(v−m), p = m/v from exact count sums, plus the
    * overdispersion ratio v/m that justifies NB over Poisson — the
    * count-model fit behind document-length modeling.
    */
  def q_negbin_fit(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("k"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("s"), sum(col("k") * col("k")).as("q"))
      .select(col("n").as("n_docs"),
        expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)").as("m"),
        expr("""(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                / CAST(n - 1 AS DOUBLE)""").as("v"))
      .select(col("n_docs"),
        (round(col("m"), 4) + lit(0.0)).as("mean_tokens"),
        (round(expr("v / m"), 4) + lit(0.0)).as("dispersion_ratio"),
        (round(expr("m * m / (v - m)"), 4) + lit(0.0)).as("nb_r"),
        (round(expr("m / v"), 6) + lit(0.0)).as("nb_p"))

  /** Document-frequency pruning impact sweep: for min-df 1..5, the
    * surviving vocabulary size and postings count with kept-share — the
    * index-size vs coverage tradeoff read before building an inverted
    * index. One df aggregate, five threshold rollups.
    */
  def q_df_pruning(spark: SparkSession, sf: String): DataFrame = {
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val tot = df.agg(count(lit(1)).as("v0"), sum(col("df")).as("p0"))
    val ts = Tables.documents(spark, sf).sparkSession.range(1, 6)
      .select(col("id").as("min_df"))
    df.crossJoin(broadcast(ts))
      .filter(col("df") >= col("min_df"))
      .groupBy(col("min_df"))
      .agg(count(lit(1)).as("vocab"), sum(col("df")).as("postings"))
      .crossJoin(broadcast(tot))
      .select(col("min_df"), col("vocab"), col("postings"),
        expr("vocab * 10000 div v0").as("vocab_kept_e4"),
        expr("postings * 10000 div p0").as("postings_kept_e4"))
      .orderBy("min_df")
  }

  /** Yule's K vocabulary-richness characteristic over the corpus token
    * distribution: K = 10⁴·(Σc_w² − N)/N² from exact token counts —
    * scale-invariant repetitiveness, higher = more repetitive.
    */
  def q_yule_k(spark: SparkSession, sf: String): DataFrame =
    docTokens(spark, sf)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
        sum(col("c") * col("c")).as("scc"))
      .select(col("n_tokens"), col("vocab"),
        (round(lit(10000.0) * (col("scc") - col("n_tokens")).cast("double")
          / (col("n_tokens").cast("double") * col("n_tokens").cast("double")), 4)
          + lit(0.0)).as("yule_k"))

  /** Simpson diversity of the token distribution: D = Σc(c−1)/(N(N−1)),
    * reported as 1−D (Gini–Simpson) and the inverse 1/D (effective
    * vocabulary size) — exact integer sums, one double epilogue.
    */
  def q_simpson_diversity(spark: SparkSession, sf: String): DataFrame =
    docTokens(spark, sf)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * (col("c") - 1L)).as("srr"))
      .select(col("n_tokens"),
        (round(lit(1.0) - col("srr").cast("double")
          / (col("n_tokens").cast("double")
            * (col("n_tokens").cast("double") - lit(1.0))), 4) + lit(0.0))
          .as("gini_simpson"),
        (round((col("n_tokens").cast("double")
          * (col("n_tokens").cast("double") - lit(1.0)))
          / col("srr").cast("double"), 4) + lit(0.0)).as("inverse_simpson"))

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "as", "for", "on", "with", "was", "be", "by", "at",
    "this", "are", "from", "not", "but", "have")

  /** Miller–Madow bias-corrected Shannon entropy of the token
    * distribution: H_MM = H_MLE + (K−1)/(2N) — the first-order
    * undersampling correction.
    */
  def q_entropy_corrected(spark: SparkSession, sf: String): DataFrame =
    docTokens(spark, sf)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("scl"))
      .select(col("n").as("n_tokens"), col("vocab"),
        (log(col("n").cast("double"))
          - col("scl") / col("n").cast("double")).as("h_mle"))
      .select(col("n_tokens"), col("vocab"),
        (round(col("h_mle"), 4) + lit(0.0)).as("h_mle"),
        (round(col("h_mle")
          + (col("vocab").cast("double") - lit(1.0))
            / (lit(2.0) * col("n_tokens").cast("double")), 4) + lit(0.0))
          .as("h_miller_madow"))

  /** ACE (abundance-based coverage) richness estimator over the BIGRAM
    * species distribution (unigram vocab is saturated — bigrams keep a
    * rare tail at every SF) with the ≤10-count threshold: exact integer
    * rare sums, the γ² overdispersion correction clipped at 0.
    */
  def q_ace_richness(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(tokens(col("text")).as("toks"))
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("s_obs"),
        sum(when(col("c") > 10L, 1L).otherwise(0L)).as("s_abund"),
        sum(when(col("c") <= 10L, 1L).otherwise(0L)).as("s_rare"),
        sum(when(col("c") <= 10L, col("c")).otherwise(0L)).as("n_rare"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") <= 10L, col("c") * (col("c") - 1L)).otherwise(0L))
          .as("scc"))
      // NO-RARE-SPECIES guard (binds first at sf1, where 10× verbatim doc
      // replication lifts every bigram count past the ≤10 threshold —
      // n_rare = 0 made 1 − f1/n_rare a 0/0): Chao's convention when no
      // rare species exist is complete coverage, C_ACE = 1, under which
      // the general formula reduces to S_ACE = S_abund = S_obs. The γ²
      // term's n_rare(n_rare−1) denominator is likewise guarded (its scc
      // numerator is 0 whenever n_rare ≤ 1, so 0 is the exact limit).
      // Both guards are CASE branches the graded scales never take
      // (n_rare > 1 there), and the oracle mirrors them verbatim.
      .select(col("s_obs"), col("s_abund"), col("s_rare"), col("f1"),
        when(col("n_rare") === 0L, lit(1.0))
          .otherwise(lit(1.0) - col("f1").cast("double") / col("n_rare").cast("double"))
          .as("c_ace"),
        col("n_rare"), col("scc"))
      .select(col("s_obs"), col("f1"),
        (round(col("c_ace"), 4) + lit(0.0)).as("coverage_ace"),
        (round(col("s_abund").cast("double")
          + col("s_rare").cast("double") / col("c_ace")
          + col("f1").cast("double") / col("c_ace")
            * greatest(lit(0.0),
              col("s_rare").cast("double") / col("c_ace")
                * when(col("n_rare") > 1L,
                    col("scc").cast("double")
                      / (col("n_rare").cast("double")
                        * (col("n_rare").cast("double") - lit(1.0))))
                  .otherwise(lit(0.0)) - lit(1.0)), 2)
          + lit(0.0)).as("s_ace"))

  /** Pielou evenness J = H/ln(K) of the token distribution and the
    * Berger–Parker dominance (top species share) — the two standard
    * endpoints of the diversity-profile family.
    */
  def q_pielou_evenness(spark: SparkSession, sf: String): DataFrame =
    docTokens(spark, sf)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("scl"),
        max(col("c")).as("cmax"))
      .select(col("n").as("n_tokens"), col("vocab"),
        (log(col("n").cast("double")) - col("scl") / col("n").cast("double"))
          .as("h"),
        col("cmax"))
      .select(col("n_tokens"), col("vocab"),
        (round(col("h") / log(col("vocab").cast("double")), 4) + lit(0.0))
          .as("pielou_j"),
        (round(col("cmax").cast("double") / col("n_tokens").cast("double"), 4)
          + lit(0.0)).as("berger_parker"))

  /** Lexical density per language: the share of non-stopword tokens
    * (25-word literal function-word list) — a direct informativeness
    * proxy for corpus filtering.
    */
  def q_lexical_density(spark: SparkSession, sf: String): DataFrame =
    docTokens(spark, sf)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("word").isin(stopwords: _*), 1L).otherwise(0L)).as("n_stop"))
      .select(col("lang"), col("n_tokens"), col("n_stop"),
        (round((col("n_tokens") - col("n_stop")).cast("double")
          / col("n_tokens").cast("double"), 4) + lit(0.0)).as("lexical_density"))
      .orderBy("lang")

  /** Mean token log-frequency per document (a Zipf-based difficulty
    * score): each token scored ln(corpus count), per-document average,
    * reported as an integer-bucketed distribution.
    */
  def q_mean_token_logfreq(spark: SparkSession, sf: String): DataFrame = {
    val wc = docTokens(spark, sf)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    docTokens(spark, sf)
      .join(broadcast(wc), "word")
      .groupBy(col("doc_id"))
      .agg(avg(log(col("c").cast("double"))).as("mlf"))
      .groupBy(floor(col("mlf")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        (round(avg(col("mlf")), 4) + lit(0.0)).as("mean_logfreq"))
      .orderBy("bucket")
  }

  /** Cross-shard duplication profile (which ingest shards overlap —
    * the routing view exact dedup alone doesn't give): for every source
    * pair (a < b), shared fingerprints at TWO granularities — exact
    * full-text md5 and the 80-char boilerplate prefix (which catches
    * same-opening/different-tail templates that exact dedup misses and
    * guarantees a non-degenerate report at any corpus slice). Both
    * self-joins are fingerprint-keyed and each fingerprint carries at
    * most |sources| rows, so the pair product is bounded by |sources|²
    * per fingerprint at any corpus size.
    */
  def q_dedup_crossshard(spark: SparkSession, sf: String): DataFrame = {
    def shared(fpCol: Column, out: String): DataFrame = {
      val fps = Tables.documents(spark, sf)
        .select(fpCol.as("fp"), col("source")).distinct()
      fps.as("a")
        .join(fps.select(col("fp").as("fp2"), col("source").as("source_b")).as("b"),
          col("fp") === col("fp2") && col("source") < col("source_b"))
        .groupBy(col("source").as("source_a"), col("source_b"))
        .agg(count(lit(1)).as(out))
    }
    shared(md5(substring(col("text"), 1, 80).cast("binary")), "n_shared_prefix80")
      .join(shared(md5(col("text").cast("binary")), "n_shared_exact"),
        Seq("source_a", "source_b"), "left_outer")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared_exact"), lit(0L)).as("n_shared_exact"),
        col("n_shared_prefix80"))
      .orderBy("source_a", "source_b")
  }

  /** Distinctive terms per language by log-odds ratio with an
    * informative Dirichlet prior (Monroe et al. 2008, the corpus-
    * comparison standard): the prior is the global term distribution, so
    * common words are shrunk and genuinely distinctive ones surface.
    * One token aggregate feeds everything; language/global margins are
    * window re-sums of that aggregate (no second corpus pass). The
    * z-score epilogue is a fixed IEEE tree over exact integer counts,
    * e4-rounded before the top-5-per-language rank (ties → word asc).
    */
  def q_log_odds_terms(spark: SparkSession, sf: String): DataFrame = {
    // corpus tokenized ONCE; language/corpus totals re-sum the term
    // aggregate (a global window over it would serialize into one task —
    // banned shape), checkpointed so the explode doesn't run 3×
    val terms = Mat.once(docTokens(spark, sf)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("y")))
    val langTot = terms.groupBy(col("lang")).agg(sum(col("y")).as("nl"))
    val grand = langTot.agg(sum(col("nl")).as("n"))
    val scored = terms
      .withColumn("aw", sum(col("y")).over(Window.partitionBy("word")))
      .join(broadcast(langTot), "lang")
      .crossJoin(broadcast(grand))
      .withColumn("yr", col("aw") - col("y"))      // term count in the REST
      .withColumn("nr", col("n") - col("nl"))      // token total in the rest
      .withColumn("d", expr(
        """LN((CAST(y AS DOUBLE) + CAST(aw AS DOUBLE))
             / (CAST(nl AS DOUBLE) + CAST(n AS DOUBLE)
                - CAST(y AS DOUBLE) - CAST(aw AS DOUBLE)))
           - LN((CAST(yr AS DOUBLE) + CAST(aw AS DOUBLE))
             / (CAST(nr AS DOUBLE) + CAST(n AS DOUBLE)
                - CAST(yr AS DOUBLE) - CAST(aw AS DOUBLE)))"""))
      .withColumn("v", expr(
        """1.0 / (CAST(y AS DOUBLE) + CAST(aw AS DOUBLE))
           + 1.0 / (CAST(yr AS DOUBLE) + CAST(aw AS DOUBLE))"""))
      .withColumn("z_e4",
        round(col("d") / sqrt(col("v")) * lit(1e4)).cast("long"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("z_e4").desc, col("word").asc)))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("rn"), col("word"), col("y"), col("z_e4"))
      .orderBy("lang", "rn")
  }

  /** Per-document character-distribution entropy — the compressibility
    * proxy corpus-QA filters use to catch degenerate text (repeated
    * characters score near 0, natural text 3+ bits ≈ 2.1 nats). Same
    * proven lattice as [[q_token_entropy]]: each c·ln(c) term is
    * e4-rounded BEFORE the order-independent sum. keep = entropy ≥ 1.5
    * (fixed constant). Characters are generated INSIDE the row via a
    * sequence transform — no join, one explode, one doc-keyed aggregate.
    */
  def q_char_entropy(spark: SparkSession, sf: String): DataFrame = {
    // rep collapse (round 8): entropy depends only on lower(text), so the
    // per-character explode + two aggregates run once per identical
    // (lang, text) group and the per-doc rows expand by one join
    val docs = Mat.once(Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), lower(col("text")).as("lt"))
      .withColumn("rep", min(col("doc_id")).over(
        Window.partitionBy(col("lang"), md5(col("lt").cast("binary"))))))
    val repStats = docs.filter(col("doc_id") === col("rep"))
      .select(col("doc_id").as("rep"), explode(expr(
        "transform(sequence(1, length(lt)), i -> substring(lt, i, 1))")).as("ch"))
      .groupBy(col("rep"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .select(col("rep"), col("c"),
        round(col("c").cast("double") * log(col("c").cast("double")) * 1e4)
          .cast("long").as("clnc_e4"))
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("distinct_chars"), sum(col("c")).as("n_chars_used"),
        sum(col("clnc_e4")).as("s_e4"))
      .select(col("rep"), col("distinct_chars"), col("n_chars_used"),
        (round(
          log(col("n_chars_used").cast("double")) -
            col("s_e4").cast("double") / (col("n_chars_used").cast("double") * lit(1e4)),
          4) + lit(0.0)).as("entropy"))
    docs.select(col("doc_id"), col("lang"), col("rep"))
      .join(repStats, "rep")
      .select(col("doc_id"), col("lang"), col("distinct_chars"),
        col("n_chars_used"), col("entropy"))
      .withColumn("keep", (col("entropy") >= 1.5).cast("int").cast("long"))
      .orderBy("doc_id")
  }

  /** Pairwise Jensen–Shannon divergence between the languages'
    * Laplace-smoothed token distributions — the SYMMETRIC, bounded
    * ([0, ln 2]) companion to [[q_lang_divergence]]'s KL, the measure
    * mixture planners prefer because it never blows up on
    * disjoint-support shards. Same densified-vocabulary machinery
    * (every lang × every vocab word, zeros included, so both engines
    * sum the same support); each ½p·ln(p/m)+½q·ln(q/m) term is
    * e8-rounded BEFORE the order-independent sum. Profiles are
    * vocabulary-sized — tiny relative to the corpus at any scale.
    */
  def q_jensen_shannon(spark: SparkSession, sf: String): DataFrame = {
    val counts = docTokens(spark, sf)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
    val vocab = counts.select(col("word")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val totals = counts.groupBy(col("lang")).agg(sum(col("c")).as("t"))
    val dense = Mat.once(totals.crossJoin(vocab)
      .join(counts, Seq("lang", "word"), "left_outer")
      .select(col("lang"), col("word"), col("t"), coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(vsize)))
    val p = (col("a.c") + lit(1L)).cast("double") /
      (col("a.t") + col("a.v")).cast("double")
    val q = (col("b.c") + lit(1L)).cast("double") /
      (col("b.t") + col("b.v")).cast("double")
    val m = (p + q) / lit(2.0)
    dense.as("a")
      .join(dense.as("b"),
        col("a.word") === col("b.word") && col("a.lang") < col("b.lang"))
      .select(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
        round((lit(0.5) * p * log(p / m) + lit(0.5) * q * log(q / m)) * lit(1e8))
          .cast("long").as("term_e8"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(sum(col("term_e8")).as("jsd_e8"))
      .select(col("lang_a"), col("lang_b"), col("jsd_e8"),
        (round(col("jsd_e8").cast("double") / lit(1e8), 4) + lit(0.0)).as("jsd"))
      .orderBy("lang_a", "lang_b")
  }

  /** Rényi entropy spectrum per language over the token distribution:
    * H₀ = ln V (Hartley/richness), H₁ = Shannon, H₂ = −ln Σp²
    * (collision), H∞ = −ln max p (min-entropy) — the four standard
    * diversity endpoints a corpus profile reports (H₀ ≥ H₁ ≥ H₂ ≥ H∞ by
    * construction, and the gaps measure head-heaviness). Only H₁ needs a
    * float lattice (the proven e4 c·ln c tree from [[q_char_entropy]]);
    * H₂ and H∞ are logs of EXACT integer sufficient statistics (Σc², max
    * c), so every engine-side float is a single fixed expression over
    * integers. One explode + two keyed aggregates — flat at any scale.
    */
  def q_renyi_spectrum(spark: SparkSession, sf: String): DataFrame =
    docTokens(spark, sf)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
      .select(col("lang"), col("c"),
        round(col("c").cast("double") * log(col("c").cast("double")) * 1e4)
          .cast("long").as("clnc_e4"),
        (col("c") * col("c")).as("c2"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("v_types"), sum(col("c")).as("t_tokens"),
        sum(col("clnc_e4")).as("s_e4"), sum(col("c2")).as("s_c2"),
        max(col("c")).as("c_max"))
      .select(col("lang"), col("v_types"), col("t_tokens"),
        (round(log(col("v_types").cast("double")), 4) + lit(0.0)).as("h0"),
        (round(
          log(col("t_tokens").cast("double")) -
            col("s_e4").cast("double") / (col("t_tokens").cast("double") * lit(1e4)),
          4) + lit(0.0)).as("h1"),
        (round(
          lit(2.0) * log(col("t_tokens").cast("double")) -
            log(col("s_c2").cast("double")), 4) + lit(0.0)).as("h2"),
        (round(
          log(col("t_tokens").cast("double")) - log(col("c_max").cast("double")),
          4) + lit(0.0)).as("hinf"))
      .orderBy("lang")
}
