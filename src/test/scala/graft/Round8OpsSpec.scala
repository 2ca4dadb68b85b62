package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops._

/** Round-8 gates: the exact-dup rep collapse (proven on the threshold
  * sweep in round 7) applied to the remaining pair-family heads —
  * q_neardup_jaccard / q_neardup_containment (shared pairOverlap core),
  * q_dedup_minhash_lsh / q_minhash_accuracy (shared LSH banding), and
  * q_dedup_components (quotient-graph CC). Each collapsed op is pinned
  * against the verbatim pre-round-8 uncollapsed pipeline on a planted
  * dirty corpus (mixed-size exact-dup groups with near-dup variants,
  * two (lang, source) blocks) AND on the sf fixture; connected
  * components is additionally pinned against a driver-side union-find —
  * an oracle independent of BOTH pipelines. The tf-idf cosine collapse
  * gets a dedicated big-dup-group corpus that exercises the 21-member /
  * 20-pairs-per-class truncation paths the round-6 randomized sweep
  * never reaches (its groups have ≤ 4 copies).
  */
class Round8OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  private def fixture(tables: (String, DataFrame)*): String = {
    val dir = TestSpark.tempDir("graft_r8")
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  private def docsTable(rows: Seq[(Long, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Dirty corpus: ~35 templates over two (lang, source) blocks, each
    * emitted 1..6 times verbatim (exact-dup groups) and sometimes with a
    * one-token suffix (near-dup neighbours ACROSS groups, J just under 1,
    * containment exactly 1). */
  private def dirtyDocs(seed: Long): Seq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 30).map(i => s"w$i")
    var id = 0L
    val out = scala.collection.mutable.Buffer[(Long, String, String, String)]()
    for (t <- 0 until 35) {
      val base = rnd.shuffle(vocab).take(6 + rnd.nextInt(10))
      val lang = if (rnd.nextBoolean()) "en" else "de"
      val source = if (t % 3 == 0) "wiki" else "web"
      for (c <- 0 until 1 + rnd.nextInt(6)) {
        val toksSeq = if (c > 0 && rnd.nextInt(3) == 0) base :+ s"x$t" else base
        out += ((id, toksSeq.mkString(" "), lang, source)); id += 1
      }
    }
    out.toSeq
  }

  // ---- verbatim pre-round-8 pipelines (the equality oracles) ---------------

  private def legacyNeardup(docs: DataFrame): DataFrame =
    Text.pairOverlapOf(docs, Some((4L, 5L)), None)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("lang"), col("source"), col("d1"), col("d2"),
        round(col("jaccard"), 4).as("j"))
      .orderBy("lang", "source", "d1", "d2")

  private def legacyContainment(docs: DataFrame): DataFrame =
    Text.pairOverlapOf(docs, None, Some((9L, 10L)))
      .select(col("lang"), col("source"), col("d1"), col("d2"),
        expr("inter * 10000 div least(sz1, sz2)").as("cont_e4"))
      .filter(col("cont_e4") >= 9000)
      .orderBy("lang", "source", "d1", "d2")

  private def th(t: Column): Column = graft.core.Det.hash32(t)

  private def legacyLshParts(documents: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val docTok = documents
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(split(lower(col("text")), " "))).as("word"))
    val sig = docTok
      .select(col("doc_id"), col("lang"), col("source"), th(col("word")).as("h"))
      .select(col("doc_id"), col("lang"), col("source"), col("h"),
        explode(sequence(lit(0), lit(7))).as("i"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("i"))
      .agg(min(expr("((2 * i + 1) * h + 7919 * i + 12345) % 1000000007")).as("sig"))
    val bands = sig
      .groupBy(col("doc_id"), col("lang"), col("source"), expr("i div 2").as("band"))
      .agg(sum(expr("sig * (CASE WHEN i % 2 = 0 THEN 4294967311 ELSE 1 END)")).as("bv"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    (docTok, sig, cand)
  }

  private def legacyLsh(documents: DataFrame): DataFrame = {
    val (docTok, _, cand) = legacyLshParts(documents)
    val arrs = docTok.groupBy(col("doc_id"))
      .agg(collect_list(col("word")).as("tarr"), count(lit(1)).as("sz"))
    cand
      .join(arrs.select(col("doc_id").as("d1"), col("tarr").as("t1"),
        col("sz").as("sz1")), "d1")
      .join(arrs.select(col("doc_id").as("d2"), col("tarr").as("t2"),
        col("sz").as("sz2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("t1"), col("t2"))).cast("long").as("inter"),
        col("sz1"), col("sz2"))
      .withColumn("j", col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("j") >= 0.5)
      .select(col("d1"), col("d2"), round(col("j"), 4).as("j"))
      .orderBy("d1", "d2")
  }

  private def legacyAccuracy(documents: DataFrame): DataFrame = {
    val (docTok, sig, cand) = legacyLshParts(documents)
    val matches = cand
      .join(sig.select(col("doc_id").as("d1"), col("i"), col("sig").as("s1")), Seq("d1"))
      .join(sig.select(col("doc_id").as("d2"), col("i"), col("sig").as("s2")), Seq("d2", "i"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(when(col("s1") === col("s2"), 1L).otherwise(0L)).as("matches"))
    val arrs = docTok.groupBy(col("doc_id"))
      .agg(collect_list(col("word")).as("tarr"), count(lit(1)).as("sz"))
    val exact = cand
      .join(arrs.select(col("doc_id").as("d1"), col("tarr").as("t1"),
        col("sz").as("sz1")), "d1")
      .join(arrs.select(col("doc_id").as("d2"), col("tarr").as("t2"),
        col("sz").as("sz2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("t1"), col("t2"))).cast("long").as("inter"),
        col("sz1"), col("sz2"))
      .select(col("d1"), col("d2"),
        expr("inter * 10000 div (sz1 + sz2 - inter)").as("exact_e4"))
    matches.join(exact, Seq("d1", "d2"))
      .select(col("d1"), col("d2"), col("matches"),
        (col("matches") * 1250).as("est_e4"), col("exact_e4"),
        abs(col("matches") * 1250 - col("exact_e4")).as("abs_err_e4"))
      .orderBy("d1", "d2")
  }

  // ---- the gates ------------------------------------------------------------

  test("near-dup jaccard: rep collapse equals the uncollapsed PPJoin pipeline") {
    for (seed <- Seq(11L, 12L)) {
      val docs = Text.docSetsOf(docsTable(dirtyDocs(seed)))
      assert(rows(Text.neardupPairsOf(docs).orderBy("lang", "source", "d1", "d2"))
        === rows(legacyNeardup(docs)), s"seed $seed")
    }
    val fx = Text.docSets(spark, sf)
    assert(rows(Text.q_neardup_jaccard(spark, sf)) === rows(legacyNeardup(fx)))
  }

  test("near-dup containment: rep collapse equals the uncollapsed pipeline") {
    for (seed <- Seq(21L, 22L)) {
      val docs = Text.docSetsOf(docsTable(dirtyDocs(seed)))
      assert(rows(Text.neardupContainmentOf(docs)) === rows(legacyContainment(docs)),
        s"seed $seed")
    }
    val fx = Text.docSets(spark, sf)
    assert(rows(Text.q_neardup_containment(spark, sf)) === rows(legacyContainment(fx)))
  }

  test("minhash LSH: rep collapse equals the uncollapsed sketch pipeline") {
    for (seed <- Seq(31L, 32L)) {
      val documents = docsTable(dirtyDocs(seed))
      assert(rows(TextPipeline.dedupMinhashLshOf(Text.docSetsOf(documents)))
        === rows(legacyLsh(documents)), s"seed $seed")
    }
    val fxDocs = Tables.documents(spark, sf)
    assert(rows(TextPipeline.q_dedup_minhash_lsh(spark, sf)) === rows(legacyLsh(fxDocs)))
  }

  test("simhash: rep collapse equals the uncollapsed sketch pipeline") {
    def legacySimhash(documents: DataFrame): DataFrame = {
      val sim = documents
        .select(col("doc_id"), col("lang"), col("source"),
          explode(array_distinct(split(lower(col("text")), " "))).as("word"))
        .select(col("doc_id"), col("lang"), col("source"), th(col("word")).as("h"))
        .select(col("doc_id"), col("lang"), col("source"), col("h"),
          explode(sequence(lit(0), lit(15))).as("j"))
        .groupBy(col("doc_id"), col("lang"), col("source"), col("j"))
        .agg(sum(expr("(CAST(shiftright(h, j) AS BIGINT) & 1) * 2 - 1")).as("s"))
        .groupBy(col("doc_id"), col("lang"), col("source"))
        .agg(sum(expr("CASE WHEN s > 0 THEN CAST(shiftleft(1, j) AS BIGINT) ELSE 0 END"))
          .as("simhash"))
      val bands = sim.select(col("doc_id"), col("lang"), col("source"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bv", expr("CAST(shiftright(simhash, band * 4) AS BIGINT) & 15"))
      bands.as("a")
        .join(bands.as("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy("d1", "d2")
    }
    for (seed <- Seq(71L, 72L)) {
      val documents = docsTable(dirtyDocs(seed))
      assert(rows(TextPipeline.dedupSimhashOf(Text.docSetsOf(documents)))
        === rows(legacySimhash(documents)), s"seed $seed")
    }
    assert(rows(TextPipeline.q_dedup_simhash(spark, sf))
      === rows(legacySimhash(Tables.documents(spark, sf))))
  }

  test("minhash accuracy: rep collapse equals the uncollapsed audit") {
    val documents = docsTable(dirtyDocs(41L))
    assert(rows(TextPipeline.minhashAccuracyOf(Text.docSetsOf(documents)))
      === rows(legacyAccuracy(documents)))
    val fxDocs = Tables.documents(spark, sf)
    assert(rows(TextPipeline.q_minhash_accuracy(spark, sf)) === rows(legacyAccuracy(fxDocs)))
  }

  /** Driver-side union-find over the legacy (uncollapsed) edge set — an
    * oracle independent of both CC implementations. */
  private def componentsOracle(documents: DataFrame): Seq[Seq[Any]] = {
    val near = legacyNeardup(Text.docSetsOf(documents))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = documents
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.filter(_.length >= 2).toSeq
      .flatMap { g =>
        val m = g.map(_._1).min
        g.map(_._1).filter(_ != m).map(d => (m, d))
      }
    val edges = near.toSeq ++ exact
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .groupBy(find).toSeq
      .map { case (c, vs) => Seq[Any](c, vs.size.toLong, vs.max) }
      .sortBy(_.head.asInstanceOf[Long])
  }

  test("dedup components: quotient-graph CC equals a driver-side union-find") {
    for (seed <- Seq(51L, 52L)) {
      val documents = docsTable(dirtyDocs(seed))
      assert(rows(Text.dedupComponentsOf(documents)) === componentsOracle(documents),
        s"seed $seed")
    }
    assert(rows(Text.q_dedup_components(spark, sf))
      === componentsOracle(Tables.documents(spark, sf)))
  }

  /** Brute-force all-pairs tf-idf cosine top-20 (the DuckDB oracle's
    * shape) — same twin as Round6OpsSpec's, re-stated here for the
    * big-dup-group corpus. */
  private def bruteForceTfidfTop20(dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("nn"))
    val tf = docs.select(col("doc_id"), col("lang"), col("source"),
        explode(split(lower(col("text")), " ")).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val w = tf.join(dfr, "word").crossJoin(broadcast(n))
      .select(col("doc_id"), col("lang"), col("source"), col("word"),
        (col("tf") * round(log(col("nn").cast("double") / (col("df") + lit(1L)).cast("double"))
          * lit(1e4)).cast("long")).as("w"))
    val norms = w.groupBy(col("doc_id").as("nd"))
      .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("nrm"))
    w.as("a")
      .join(w.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(sum(col("a.w").cast("decimal(38,0)") * col("b.w")).as("dot"))
      .join(norms.select(col("nd").as("d1"), col("nrm").as("n1")), "d1")
      .join(norms.select(col("nd").as("d2"), col("nrm").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (round(col("dot").cast("double") /
          sqrt(col("n1").cast("double") * col("n2").cast("double")), 6) + lit(0.0)).as("cos"))
      .orderBy(col("cos").desc, col("d1").asc, col("d2").asc).limit(20)
  }

  /** The pre-round-8 char-bigram language-ID core verbatim: grams exploded
    * over EVERY doc, per-doc and per-lang profiles from one aggregate. */
  private def legacyLangidPredictions(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val grams = documents
      .select(col("doc_id"), col("lang"),
        explode(Bridge.column(graft.functions.CharBigrams(Bridge.expression(col("text")))))
          .as("gram"))
    val gramCounts = grams.groupBy(col("doc_id"), col("lang"), col("gram"))
      .agg(count(lit(1)).as("c"))
    val langTop = gramCounts.groupBy(col("lang"), col("gram")).agg(sum(col("c")).as("c"))
      .withColumn("lrank", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("gram").asc)).cast("long"))
      .filter(col("lrank") <= 20)
      .select(col("lang").as("cand_lang"), col("gram"), col("lrank"))
    val docTop = gramCounts
      .withColumn("drank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("c").desc, col("gram").asc)).cast("long"))
      .filter(col("drank") <= 20)
      .select(col("doc_id"), col("gram"), col("drank"))
    val langs = documents.select(col("lang").as("cand_lang")).distinct()
    val dist = docTop
      .crossJoin(broadcast(langs))
      .join(broadcast(langTop), Seq("cand_lang", "gram"), "left_outer")
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(sum(coalesce(abs(col("drank") - col("lrank")), lit(20L))).as("dist"))
    dist.groupBy(col("doc_id"))
      .agg(min(struct(col("dist"), col("cand_lang"))).as("best"))
      .join(documents.select(col("doc_id"), col("lang").as("actual")), "doc_id")
      .select(col("doc_id"), col("best.cand_lang").as("predicted"),
        col("actual"), col("best.dist").as("dist"))
  }

  test("langid family / trigram profile / char entropy: rep collapse is exact") {
    val dirty = fixture("documents" -> docsTable(dirtyDocs(61L)))
    for (dir <- Seq(dirty, sf)) {
      val documents = Tables.documents(spark, dir)
      assert(rows(TextPipeline.q_langid_ngram(spark, dir))
        === rows(legacyLangidPredictions(documents).orderBy("doc_id")), s"$dir langid")
      val legacyCells = legacyLangidPredictions(documents)
        .groupBy(col("actual"), col("predicted")).agg(count(lit(1)).as("n"))
        .withColumn("row_tot", sum(col("n")).over(Window.partitionBy("actual")))
        .select(col("actual"), col("predicted"), col("n"),
          expr("n * 10000 div row_tot").as("row_share_e4"))
        .orderBy("actual", "predicted")
      assert(rows(TextPipeline.q_langid_confusion(spark, dir)) === rows(legacyCells),
        s"$dir confusion")
      val legacyTri = {
        val counts = documents.filter(col("n_chars") >= 3)
          .select(col("lang"), explode(expr(
            "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
            .as("g"))
          .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("lang").orderBy(col("n").desc, col("g").asc)
        counts
          .withColumn("tot", sum(col("n")).over(Window.partitionBy("lang")))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 20)
          .select(col("lang"), col("rk"), col("g").as("trigram"), col("n"),
            expr("n * 10000 div tot").as("share_e4"))
          .orderBy("lang", "rk")
      }
      assert(rows(TextPipeline.q_char_trigram_profile(spark, dir)) === rows(legacyTri),
        s"$dir trigram")
      val legacyEnt = documents
        .select(col("doc_id"), col("lang"), lower(col("text")).as("lt"))
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, length(lt)), i -> substring(lt, i, 1))")).as("ch"))
        .groupBy(col("doc_id"), col("lang"), col("ch"))
        .agg(count(lit(1)).as("c"))
        .select(col("doc_id"), col("lang"), col("c"),
          round(col("c").cast("double") * log(col("c").cast("double")) * 1e4)
            .cast("long").as("clnc_e4"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("distinct_chars"), sum(col("c")).as("n_chars_used"),
          sum(col("clnc_e4")).as("s_e4"))
        .select(col("doc_id"), col("lang"), col("distinct_chars"), col("n_chars_used"),
          (round(
            log(col("n_chars_used").cast("double")) -
              col("s_e4").cast("double") / (col("n_chars_used").cast("double") * lit(1e4)),
            4) + lit(0.0)).as("entropy"))
        .withColumn("keep", (col("entropy") >= 1.5).cast("int").cast("long"))
        .orderBy("doc_id")
      assert(rows(Text.q_char_entropy(spark, dir)) === rows(legacyEnt), s"$dir entropy")
    }
  }

  test("corpus novelty / dsir / textrank / funnel: rep collapse is exact") {
    val dirty = fixture("documents" -> docsTable(dirtyDocs(91L)))
    for (dir <- Seq(dirty, sf)) {
      val documents = Tables.documents(spark, dir)
      // corpus novelty — per-doc enumerated twin
      val nb = TextPipeline.docBigramsOf(documents)
        .select(col("doc_id"), col("w1"), col("w2")).distinct()
      val first = nb.groupBy(col("w1"), col("w2")).agg(min(col("doc_id")).as("first_doc"))
      val perDoc = nb.join(first, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nb"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("nv"))
      val legacyNovelty = documents.select(col("doc_id"), col("lang"))
        .join(perDoc, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("doc_bigrams"), sum(col("nv")).as("novel_bigrams"))
        .select(col("lang"), col("n_docs"), col("doc_bigrams"), col("novel_bigrams"),
          expr("novel_bigrams * 10000 div doc_bigrams").as("novelty_e4"))
        .orderBy("lang")
      assert(rows(TextPipeline.q_corpus_novelty(spark, dir)) === rows(legacyNovelty),
        s"$dir novelty")
      // dsir — per-occurrence enumerated twin
      val feats = TextPipeline.docBigramsOf(documents)
        .join(documents.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"),
          pmod(graft.core.Det.hash32(concat_ws(" ", col("w1"), col("w2"))),
            lit(1024L)).as("b"))
      val counts = feats.groupBy(col("b"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tb"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("rb"))
      val tots = counts.agg(sum(col("tb")).as("tt"), sum(col("rb")).as("rt"))
      val llr = counts.crossJoin(broadcast(tots))
        .select(col("b"), expr(
          """CAST(ROUND((ln(CAST(tb + 1 AS DOUBLE)) - ln(CAST(tt + 1024 AS DOUBLE))
                         - ln(CAST(rb + 1 AS DOUBLE)) + ln(CAST(rt + 1024 AS DOUBLE))) * 1e6)
             AS BIGINT)""").as("llr_e6"))
      val legacyDsir = feats.filter(col("lang") =!= "en")
        .join(broadcast(llr), "b")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("llr_e6")).as("score_e6"))
        .orderBy(col("score_e6").desc, col("doc_id").asc)
        .limit(20)
      assert(rows(TextPipeline.q_dsir_weights(spark, dir)) === rows(legacyDsir),
        s"$dir dsir")
      // textrank — the graph from per-doc positional pairs must be
      // identical, so the top-10 is; rebuild just the EDGE table
      val toksL = documents
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("w"))
      val legacyEdges = toksL.as("a")
        .join(toksL.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("b.pos") > col("a.pos") && col("b.pos") <= col("a.pos") + 2 &&
            col("a.w") =!= col("b.w"))
        .groupBy(col("a.w").as("u"), col("b.w").as("v"))
        .agg(count(lit(1)).as("c"))
        .orderBy("u", "v")
      val repToks = documents.groupBy(col("text")).agg(count(lit(1)).as("m"))
        .select(md5(col("text").cast("binary")).as("gid"), col("m"),
          posexplode(split(col("text"), " ")))
        .select(col("gid"), col("m"), col("pos"), col("col").as("w"))
      val repEdges = repToks.as("a")
        .join(repToks.as("b"),
          col("a.gid") === col("b.gid") &&
            col("b.pos") > col("a.pos") && col("b.pos") <= col("a.pos") + 2 &&
            col("a.w") =!= col("b.w"))
        .groupBy(col("a.w").as("u"), col("b.w").as("v"))
        .agg(sum(col("a.m")).as("c"))
        .orderBy("u", "v")
      assert(rows(repEdges) === rows(legacyEdges), s"$dir textrank edges")
      // funnel — five filter+agg stages over per-doc flags
      val rep = TextPipeline.docBigramsOf(documents)
        .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bg"), max(col("c")).as("top_c"))
        .select(col("doc_id"),
          (expr("top_c * 1000000 div n_bg") < 200000L).as("rep_ok"))
      val wDup = Window.partitionBy("text").orderBy("doc_id")
      val flags = documents
        .select(col("doc_id"), col("text"), col("n_chars"),
          size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
        .withColumn("first_of_text", row_number().over(wDup) === 1)
        .join(rep, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_chars"),
          (col("n_chars") >= 100L && col("n_chars") <= 5000L).as("len_ok"),
          (col("n_tok") >= 20L).as("tok_ok"),
          coalesce(col("rep_ok"), lit(false)).as("rep_ok"),
          col("first_of_text"))
      def stage(idx: Long, name: String, f: Column): DataFrame =
        flags.filter(f).agg(lit(idx).as("stage"), lit(name).as("gate"),
          count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      val legacyFunnel = stage(0L, "raw", lit(true))
        .unionByName(stage(1L, "length", col("len_ok")))
        .unionByName(stage(2L, "tokens", col("len_ok") && col("tok_ok")))
        .unionByName(stage(3L, "repetition",
          col("len_ok") && col("tok_ok") && col("rep_ok")))
        .unionByName(stage(4L, "exact_dedup",
          col("len_ok") && col("tok_ok") && col("rep_ok") && col("first_of_text")))
        .orderBy("stage")
      assert(rows(TextPipeline.q_pipeline_funnel(spark, dir)) === rows(legacyFunnel),
        s"$dir funnel")
    }
  }

  /** The pre-round-8 q_fuzzy_match aggregate verbatim: enumerate every
    * verified pair, then aggregate per block. */
  private def legacyFuzzyMatch(src: DataFrame): DataFrame =
    Relational.fuzzyPairsOf(src, "blk", "k", "nm")
      .groupBy(col("nationkey"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("d") === 1L, 1L).otherwise(0L)).as("n_d1"),
        min(struct(col("d"), col("n1"), col("n2"))).as("m"))
      .select(col("nationkey").cast("long").as("nationkey"), col("n_pairs"),
        col("n_d1"), col("m.d").as("best_d"), col("m.n1").as("best_1"),
        col("m.n2").as("best_2"))
      .orderBy("nationkey")

  test("fuzzy match: rep collapse equals the pair-enumerating aggregate") {
    import spark.implicits._
    // hand-built orientation-adversarial corpus: dup-name groups whose
    // key ranges interleave (both orientations live), strictly dominate
    // (reverse orientation dead), and singletons; plus a short name
    val handRows = Seq(
      (1, 10L, "supplier alpha 001"), (1, 50L, "supplier alpha 001"),
      (1, 20L, "supplier alpha 002"), (1, 30L, "supplier alpha 002"),
      (1, 60L, "supplier alpha 003"), (1, 70L, "supplier alpha 003"),
      (1, 80L, "zed"),
      (2, 11L, "acme manufacturing x"), (2, 12L, "acme manufacturing y"),
      (2, 13L, "totally unrelated nm"))
    val hand = handRows.toDF("blk", "k", "nm")
    assert(rows(Relational.fuzzyMatchOf(hand, "blk", "k", "nm"))
      === rows(legacyFuzzyMatch(hand)))
    // randomized: base names with 1-2 char edits, duplicated over
    // shuffled keys so rep/orientation structure is arbitrary
    val rnd = new scala.util.Random(81L)
    val bases = (0 until 12).map(i => f"vendor name nr $i%03d padded")
    var k = 0L
    val keys = rnd.shuffle((0 until 400).map(_.toLong * 3 + 7).toList).iterator
    val rndRows = bases.flatMap { b =>
      val variants = Seq(b, b.updated(3, 'x'), b.updated(5, 'q').updated(9, 'z'))
      variants.flatMap { v =>
        (0 until 1 + rnd.nextInt(4)).map { _ => (rnd.nextInt(3), keys.next(), v) }
      }
    }
    val rndDf = rndRows.toDF("blk", "k", "nm")
    assert(rows(Relational.fuzzyMatchOf(rndDf, "blk", "k", "nm"))
      === rows(legacyFuzzyMatch(rndDf)))
    // and the fixture
    val s = Tables.supplier(spark, sf)
      .select(col("s_nationkey").as("blk"), col("s_suppkey").as("k"),
        col("s_name").as("nm"))
    assert(rows(Relational.q_fuzzy_match(spark, sf)) === rows(legacyFuzzyMatch(s)))
  }

  test("centroidOf equals the posexplode per-(label, dim) ladder") {
    val ladder = Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("clabel"),
        posexplode(slice(Vectors.q7(col("embedding")), 1, 8)).as(Seq("dim", "x")))
      .groupBy(col("clabel"), col("dim"))
      .agg(round(sum(col("x")).cast("double") / count(lit(1)).cast("double"))
        .cast("long").as("c"))
      .groupBy(col("clabel"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)")
        .as("c_qe"))
      .orderBy("clabel")
    val vecSumForm = Vectors.centroidOf(Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("clabel"),
        slice(Vectors.q7(col("embedding")), 1, 8).as("v8")), "c_qe")
      .orderBy("clabel")
    assert(rows(vecSumForm) === rows(ladder))
  }

  test("kmeans_iter2 vec_sum recompute equals the legacy (cluster, dim) ladder") {
    val dims = Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(Vectors.q7(col("embedding"))).as(Seq("dim", "x_e7")))
    val legacy = {
      val a1 = Tables.embeddings(spark, sf)
        .select(col("vec_id"), Vectors.q7(col("embedding")).as("qe"))
        .crossJoin(broadcast(Tables.embeddings(spark, sf)
          .filter(col("vec_id") <= 9)
          .select(col("vec_id").as("cluster"), Vectors.q7(col("embedding")).as("seed_qe"))))
        .select(col("vec_id"), col("cluster"),
          Vectors.dist2E14(col("qe"), col("seed_qe")).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cluster"))).as("best"))
        .select(col("vec_id"), col("best.cluster").as("cluster"))
      val centroids = dims.join(a1, "vec_id")
        .groupBy(col("cluster"), col("dim"))
        .agg(round(round(sum(col("x_e7")) / (count(lit(1)) * lit(1e7)), 6) * 1e6)
          .cast("long").as("c_e6"))
      dims.join(broadcast(centroids), "dim")
        .groupBy(col("vec_id"), col("cluster"))
        .agg(sum((col("x_e7") - col("c_e6") * 10) * (col("x_e7") - col("c_e6") * 10)).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cluster"))).as("best"))
        .groupBy(col("best.cluster").as("cluster"))
        .agg(count(lit(1)).as("n"))
        .orderBy("cluster")
    }
    assert(rows(MLDeterministic.q_kmeans_iter2(spark, sf)) === rows(legacy))
  }

  test("tfidf cosine: big dup groups exercise the truncated expansion exactly") {
    // group A: 30 verbatim copies (435 within pairs, only the 20 smallest
    // (d1,d2) can rank — the 21-member and 20-per-class truncations both
    // fire); group B: 25 copies of a one-token variant (750 cross pairs
    // with A, high cosine); interleaved ids so the member-id order is not
    // the insertion order; plus noise docs
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val rows30 = (0 until 30).map(i => (i * 7L % 211L + 1000L, base, "en", "web"))
    val rows25 = (0 until 25).map(i => (i * 11L % 211L + 2000L, s"$base iota", "en", "web"))
    val noise = (0 until 12).map(i =>
      (3000L + i, s"noise$i filler$i other${i % 3} words", "en", "web"))
    val dir = fixture("documents" -> docsTable(rows30 ++ rows25 ++ noise))
    assert(rows(Retrieval.q_tfidf_cosine_docs(spark, dir))
      === rows(bruteForceTfidfTop20(dir)))
  }
}
