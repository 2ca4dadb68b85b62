package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Mat, Tables}

/** Vector similarity / search over the embeddings table (SURVEY.md §2.11)
  * plus shared vector math for the deterministic ML operators.
  *
  * Cross-engine float determinism strategy: embeddings are quantized onto
  * an integer lattice (×1e7, round, BIGINT) and every dot product / squared
  * distance is then EXACT integer arithmetic — summation order cannot
  * change the result, so Spark's partial aggregation and DuckDB's
  * sequential fold agree bit-for-bit. The only float ops left are a fixed
  * sqrt/divide sequence applied identically on both engines, then ROUND
  * (D3). Quantization error (1e-7 per element) is invisible at the 4-6
  * decimal output precision.
  *
  * Scale posture: all-pairs ops are blocked (by label, or 1×N for a single
  * query vector) so the cross product is bounded per block; the unbounded
  * scale paths are [[Ann]] (IVF / RP-LSH) and the MLlib LSH twins in
  * [[graft.ml.MllibTwins]].
  */
object Vectors {

  /** Quantize a float-array column onto the 1e7 integer lattice. */
  def q7(c: Column): Column =
    transform(c, v => round(v.cast("double") * 1e7).cast("long"))

  /** Per-key rounded-mean centroid via the native element-wise
    * `graft_vec_sum` aggregate (round 8): ONE exchange of k
    * (sum-array, count) rows instead of the posexplode ladder's k×dims
    * rows plus a second re-assembly aggregate. Each element applies the
    * identical `ROUND(CAST(sum AS DOUBLE) / CAST(n AS DOUBLE))`
    * expression the ladder used, so centroids are byte-identical
    * (oracle-gated at both scales; plan-gated in PlanShapeSpec).
    * `vecs` must carry `clabel` and the quantized array column `v8`.
    */
  private[graft] def centroidOf(vecs: DataFrame, as: String): DataFrame =
    vecs.groupBy(col("clabel"))
      .agg(graft.functions.GraftFunctions.vecSum(col("v8")).as("_s"),
        count(lit(1)).as("_n"))
      .select(col("clabel"), expr(
        "transform(_s, v -> CAST(ROUND(CAST(v AS DOUBLE) / CAST(_n AS DOUBLE)) AS BIGINT))")
        .as(as))

  /** Exact integer dot product of two quantized vectors (e14 scale).
    * Native codegen expression — the zip_with+aggregate HOF formulation is
    * semantically identical but evaluates interpreted lambdas per row.
    */
  def dotE14(a: Column, b: Column): Column = graft.functions.GraftFunctions.dotLong(a, b)

  /** Exact integer squared euclidean distance (e14 scale). */
  def dist2E14(a: Column, b: Column): Column = graft.functions.GraftFunctions.dist2Long(a, b)

  /** Cosine from exact integer components: one div + sqrt + mult, fixed
    * IEEE op sequence on both engines.
    */
  def cosine(dot: Column, nx: Column, ny: Column): Column =
    dot.cast("double") / sqrt(nx.cast("double") * ny.cast("double"))

  private def quantized(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), q7(col("embedding")).as("qe"),
        dotE14(q7(col("embedding")), q7(col("embedding"))).as("nrm"))

  /** Similarity search: cosine of every vector against the vec_id=0 query
    * (broadcast 1×N, no shuffle), top-10.
    */
  def q_cosine_topk(spark: SparkSession, sf: String): DataFrame = {
    val all = quantized(spark, sf)
    val query = all.filter(col("vec_id") === 0)
      .select(col("qe").as("query_qe"), col("nrm").as("query_nrm"))
    all.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        (round(cosine(dotE14(col("qe"), col("query_qe")), col("nrm"), col("query_nrm")), 4) + lit(0.0))
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Grid decomposition of an exact all-pairs computation: every row is
    * hashed to one of `g` groups, and the unordered pair space becomes the
    * g(g+1)/2 group-pair "tasks" of a triangular grid. The left leg of a
    * row covers tasks (grp, j ≥ grp), the right leg tasks (i ≤ grp, grp),
    * so each unordered pair lands in EXACTLY one task — (min(grpA, grpB),
    * max(grpA, grpB)) — and the diagonal is deduped by the caller's
    * vec-id inequality. This is how an exact pair job survives 100 TB:
    * per-row replication is g+1, each task streams (N/g)² products with
    * both sides bounded, work is hash-uniform across tasks (no skew), and
    * nothing is broadcast — unlike a BroadcastNestedLoopJoin whose build
    * side must fit in every executor. Round5OpsSpec pins the
    * exactly-once pair coverage.
    */
  private[graft] def gridLegs(v: DataFrame, g: Int, idCol: String): (DataFrame, DataFrame) = {
    val withGrp = v.withColumn("grp", pmod(xxhash64(col(idCol)), lit(g.toLong)))
    // the left leg is the STREAMED side of the pair join: when Catalyst
    // broadcasts the (small) right leg, probe parallelism equals the left
    // leg's partition count — straight off a narrow scan that can be ONE
    // task owning the whole g(g+1)/2-cell probe. Repartitioning by task
    // key pins probe parallelism to the grid regardless of source layout
    // (measured at sf1: q_knn_hubness 84 s → spread across all cores);
    // with a shuffled join at real scale this exchange is subsumed anyway.
    val left = withGrp.withColumn("gi", col("grp"))
      .withColumn("gj", explode(expr(s"sequence(grp, ${g - 1}L)")))
      .repartition(col("gi"), col("gj"))
    val right = withGrp.withColumn("gj", col("grp"))
      .withColumn("gi", explode(expr(s"sequence(0L, grp)")))
    (left.drop("grp"), right.drop("grp"))
  }

  /** DIRECTED within-set pair stream `(gi, gj, qid, nid, d2)` with
    * qid ≠ nid, built on the [[gridLegs]] triangular grid: each UNORDERED
    * pair's exact lattice distance is computed once, in its single grid
    * task, and both directions are then emitted by one explode — half the
    * distance work of the directed non-equi self-join (`a.id =!= b.id`)
    * it replaces, and, unlike that join's BroadcastNestedLoopJoin plan
    * (whole build side resident in every executor, one task per product
    * block), a plain hash join on (gi, gj) with g(g+1)/2 uniform,
    * memory-bounded tasks. `blockKeys` become extra equi-join keys (e.g.
    * label blocking); `carryCols` are carried for both endpoints as
    * `q_<c>` / `n_<c>`. The task key (gi, gj) stays in the output so a
    * caller doing per-qid top-k can pre-reduce per task — the global
    * top-k of a qid is contained in the union of its per-task top-ks, so
    * the cut is lossless and the final keyed window shuffles k·(g+1) rows
    * per qid instead of the whole neighbor stream.
    */
  private[graft] def gridDirectedD2(block: DataFrame, g: Int,
      blockKeys: Seq[String] = Nil, carryCols: Seq[String] = Nil): DataFrame = {
    val (l, r) = gridLegs(block, g, "vec_id")
    val blockCond = blockKeys
      .map(k => col(s"a.$k") === col(s"b.$k"))
      .foldLeft(col("a.gi") === col("b.gi") && col("a.gj") === col("b.gj"))(_ && _)
    def leg(me: String, other: String) = struct(
      col(s"$me.vec_id").as("qid") +: col(s"$other.vec_id").as("nid") +:
        carryCols.flatMap(c =>
          Seq(col(s"$me.$c").as(s"q_$c"), col(s"$other.$c").as(s"n_$c"))): _*)
    l.as("a")
      .join(r.as("b"),
        blockCond && (col("a.gi") =!= col("a.gj") || col("a.vec_id") < col("b.vec_id")))
      .select(col("a.gi").as("gi"), col("a.gj").as("gj"),
        dist2E14(col("a.qe"), col("b.qe")).as("d2"),
        explode(array(leg("a", "b"), leg("b", "a"))).as("p"))
      .select(Seq(col("gi"), col("gj"), col("p.qid").as("qid"), col("p.nid").as("nid")) ++
        carryCols.flatMap(c =>
          Seq(col(s"p.q_$c").as(s"q_$c"), col(s"p.n_$c").as(s"n_$c"))) :+ col("d2"): _*)
  }

  /** Lossless two-stage per-qid k-nearest cut over a [[gridDirectedD2]]
    * stream: first top-k inside each (gi, gj) task (bounding the rows that
    * reach the global shuffle to k·(g+1) per qid), then the global top-k
    * with the same (d2, nid) total order — `rn` is the true global
    * neighbor rank 1..k.
    */
  private[graft] def gridTopK(pairs: DataFrame, k: Int): DataFrame = {
    val wTask = Window.partitionBy("gi", "gj", "qid").orderBy(col("d2").asc, col("nid").asc)
    val wGlobal = Window.partitionBy("qid").orderBy(col("d2").asc, col("nid").asc)
    pairs.withColumn("tr", row_number().over(wTask)).filter(col("tr") <= k).drop("tr")
      .withColumn("rn", row_number().over(wGlobal)).filter(col("rn") <= k)
  }

  /** Top-20 most-similar pairs among label∈{0,1} vectors — EXACT, via the
    * [[gridLegs]] triangular grid (g=8) with a per-task top-20
    * pre-reduction before the global top-20 (any global top-20 pair is
    * necessarily in its own task's top-20, so the cut is lossless).
    *
    * Why not LSH candidates: measured on the fixture, the top pair's
    * cosine is 0.49 (the embeddings are near-isotropic), where a sign-LSH
    * 8-bit bucket match has probability ≈ 3.8% — candidate pruning at
    * this similarity level either misses top pairs (breaking exactness)
    * or probes everything. The approximate scale path for genuinely
    * clustered corpora is [[Ann.q_ann_rplsh]]/[[Ann.q_semantic_dedup]];
    * THIS operator's contract is exactness, so it does the O(N²) work —
    * distributed evenly and memory-bounded by the grid.
    */
  def q_similarity_join_topk(spark: SparkSession, sf: String): DataFrame = {
    val sel = quantized(spark, sf).filter(col("label").isin(0, 1))
      .select(col("vec_id"), col("qe"), col("nrm"))
    val (l, r) = gridLegs(sel, 8, "vec_id")
    val w = Window.partitionBy("gi", "gj")
      .orderBy(col("cos").desc, col("v1").asc, col("v2").asc)
    l.as("a")
      .join(r.as("b"),
        col("a.gi") === col("b.gi") && col("a.gj") === col("b.gj") &&
          (col("a.gi") =!= col("a.gj") || col("a.vec_id") < col("b.vec_id")))
      .select(col("a.gi").as("gi"), col("a.gj").as("gj"),
        least(col("a.vec_id"), col("b.vec_id")).as("v1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("v2"),
        (round(cosine(dotE14(col("a.qe"), col("b.qe")), col("a.nrm"), col("b.nrm")), 4) + lit(0.0))
          .as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("v1"), col("v2"), col("cos"))
      .orderBy(col("cos").desc, col("v1").asc, col("v2").asc)
      .limit(20)
  }

  /** k-NN classification (k=5): queries = vec_id<10, train = vec_id>=10;
    * exact integer squared distances, majority label with tie → smaller
    * label.
    */
  def q_knn_classify(spark: SparkSession, sf: String): DataFrame = {
    val all = quantized(spark, sf)
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("true_label"), col("qe").as("q_qe"))
    val train = all.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("tid"), col("label").as("t_label"), col("qe").as("t_qe"))
    val wNear = Window.partitionBy("qid").orderBy(col("d2").asc, col("tid").asc)
    val neighbors = train.crossJoin(broadcast(queries))
      .select(col("qid"), col("true_label"), col("tid"), col("t_label"),
        dist2E14(col("q_qe"), col("t_qe")).as("d2"))
      .withColumn("rn", row_number().over(wNear))
      .filter(col("rn") <= 5)
    val wVote = Window.partitionBy("qid").orderBy(col("votes").desc, col("t_label").asc)
    neighbors
      .groupBy(col("qid"), col("true_label"), col("t_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("qid"), col("t_label").cast("long").as("predicted"),
        col("true_label").cast("long").as("actual"))
      .orderBy("qid")
  }

  /** Product-quantization codebook assignment (the compression pass of a
    * production ANN index): the 64-dim embedding splits into 8 sub-vectors
    * of 8 dims; each sub-vector is assigned to the nearest of 4 fixed
    * codewords (the sub-vectors of embeddings 0..3 — D5 fixed seeds) by
    * exact integer lattice distance, tie → lower code. Output: per
    * (subspace, code) cell count and mean distortion. Sub-vectors are
    * generated INSIDE the array (one explode, no self-join); codewords
    * broadcast; the aggregate is 32 cells at any corpus size — after this
    * pass each vector is 8 bytes instead of 256.
    */
  def q_pq_assign(spark: SparkSession, sf: String): DataFrame = {
    val subvecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), q7(col("embedding")).as("qe"))
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), s -> struct(s AS s, slice(qe, s * 8 + 1, 8) AS sv))"))
        .as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sv").as("sv"))
    val codebook = subvecs.filter(col("vec_id") <= 3)
      .select(col("s"), col("vec_id").cast("long").as("code"), col("sv").as("cw"))
    subvecs.filter(col("vec_id") > 3)
      .join(broadcast(codebook), "s")
      .select(col("vec_id"), col("s"), col("code"), dist2E14(col("sv"), col("cw")).as("d2"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .groupBy(col("s").cast("long").as("subspace"), col("best.code").as("code"))
      .agg(count(lit(1)).as("n"),
        // decimal accumulator: a hot cell's Σd2 can pass 2^63 at fleet scale
        (round(sum(col("best.d2").cast("decimal(38,0)")).cast("double") /
          (count(lit(1)).cast("double") * lit(1e14)), 6) + lit(0.0)).as("mean_d2"))
      .orderBy("subspace", "code")
  }

  /** Per-label embedding centroids over dims 0-7 (the class-prototype /
    * cluster-init table): exact e7-lattice integer sums per (label, dim),
    * mean as one rounded division. One explode + one aggregate keyed by
    * (label, dim) — the shuffled state is centroid-sized, not data-sized.
    */
  def q_label_centroids(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("label"),
        posexplode(slice(q7(col("embedding")), 1, 8)).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .select(col("label"), col("dim"), col("n"),
        (round(col("sx").cast("double") / (col("n").cast("double") * lit(1e7)), 6)
          + lit(0.0)).as("mean"))
      .orderBy("label", "dim")

  /** Silhouette coefficients for the 20 sample vectors against the label
    * clustering: a = mean distance to own cluster (self excluded), b =
    * best other-cluster mean, s = (b−a)/max(a,b). Every pair distance is
    * rounded to an e6 integer BEFORE the order-free sums, means are exact
    * floors, and only s is an IEEE epilogue. One broadcast block join
    * (20×N) + a 20×10 aggregate — the clustering-quality audit at any
    * corpus size.
    */
  def q_silhouette_sample(spark: SparkSession, sf: String): DataFrame = {
    val all = quantized(spark, sf)
    val sample = all.filter(col("vec_id") < 20)
      .select(col("vec_id").as("sid"), col("label").as("slabel"), col("qe").as("s_qe"))
    val sums = all.crossJoin(broadcast(sample))
      .filter(col("vec_id") =!= col("sid"))
      .select(col("sid"), col("slabel"), col("label").as("olabel"),
        round(sqrt(dist2E14(col("qe"), col("s_qe")).cast("double")) / lit(10.0))
          .cast("long").as("d_e6"))
      .groupBy(col("sid"), col("slabel"), col("olabel"))
      .agg(count(lit(1)).as("n"), sum(col("d_e6")).as("sd"))
      .select(col("sid"), col("slabel"), col("olabel"), expr("sd div n").as("md"))
    sums.groupBy(col("sid"), col("slabel").cast("long").as("slabel"))
      .agg(max(when(col("olabel") === col("slabel"), col("md"))).as("a_e6"),
        min(when(col("olabel") =!= col("slabel"), col("md"))).as("b_e6"))
      .select(col("sid"), col("slabel"), col("a_e6"), col("b_e6"),
        (round((col("b_e6") - col("a_e6")).cast("double") /
          greatest(col("a_e6"), col("b_e6")).cast("double"), 6) + lit(0.0)).as("s"))
      .orderBy("sid")
  }

  /** Full confusion matrix of the nearest-label-centroid classifier:
    * centroids = per-label e7-rounded means of dims 1..8 (one exploded
    * aggregate, then re-assembled into arrays), every vector assigned to
    * its integer-lattice-nearest centroid (tie → lower label) via one
    * broadcast of the 10 centroids — the evaluation pass after any
    * clustering/coreset build, one corpus scan at any size.
    */
  def q_centroid_confusion(spark: SparkSession, sf: String): DataFrame = {
    val cent = centroidOf(Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("clabel"),
        slice(q7(col("embedding")), 1, 8).as("v8")), "c_qe")
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        slice(q7(col("embedding")), 1, 8).as("qe"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"),
        struct(dist2E14(col("qe"), col("c_qe")).as("d2"), col("clabel")).as("cand"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(col("cand")).as("best"))
      .groupBy(col("label"), col("best.clabel").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "predicted")
  }

  /** Diagonal-covariance Mahalanobis outlier scan over dims 1..8: per-dim
    * mean/variance from exact e7/e14 sums, each dimension's squared
    * z-contribution rounded to an e6 integer per row BEFORE the order-free
    * sum, top-10 scores by TakeOrdered. The multivariate anomaly screen
    * that needs only one stats pass + one scan regardless of corpus size.
    */
  def q_mahalanobis_diag(spark: SparkSession, sf: String): DataFrame = {
    val dims = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(slice(q7(col("embedding")), 1, 8)).as(Seq("dim", "x")))
    val stats = dims.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
    val nD = col("n").cast("double")
    val mu = col("sx").cast("double") / nD
    val vr = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / nD) / (nD - lit(1.0))
    dims.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("label"),
        round((col("x").cast("double") - mu) * (col("x").cast("double") - mu) /
          vr * lit(1e6)).cast("long").as("term_e6"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("term_e6")).as("d2_e6"))
      .orderBy(col("d2_e6").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Norm quantiles per label: e3-floored L2 norms, exact p50/p90 (via
    * the [[Relational.latticePercentiles]] lattice form — no per-label
    * value buffering) and integer min/max per class — the per-class scale
    * card read before deciding whether normalization is needed at all.
    */
  def q_norm_quantiles_by_label(spark: SparkSession, sf: String): DataFrame = {
    val lat = Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("label"),
        floor(sqrt(dotE14(q7(col("embedding")), q7(col("embedding"))).cast("double"))
          / lit(10000.0)).cast("long").as("pc"))
      .groupBy(col("label"), col("pc"))
      .agg(count(lit(1)).as("cnt"))
    val qs = Relational.latticePercentiles(lat, Seq("label"),
      Seq(0.5 -> "p50", 0.9 -> "p90"))
    val ext = lat.groupBy(col("label"))
      .agg(min(col("pc")).as("min_e3"), max(col("pc")).as("max_e3"))
    qs.join(ext, "label")
      .select(col("label"), col("n"), col("min_e3"),
        (round(col("p50"), 4) + lit(0.0)).as("p50_e3"),
        (round(col("p90"), 4) + lit(0.0)).as("p90_e3"),
        col("max_e3"))
      .orderBy("label")
  }

  /** Embedding-shape/content audit: vector counts per dimensionality,
    * with NaN-containing and all-zero vector counts per shape — the
    * ingest gate before any vector math (a single ragged or poisoned
    * vector breaks a fused kernel at scale). One scan, in-row predicates.
    */
  def q_embedding_shape_audit(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .select(size(col("embedding")).cast("long").as("dims"),
        expr("exists(embedding, v -> isnan(CAST(v AS DOUBLE)))").as("has_nan"),
        expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, v) -> a + abs(CAST(v AS DOUBLE)))" +
          " = CAST(0 AS DOUBLE)").as("all_zero"))
      .groupBy(col("dims"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_with_nan"),
        sum(when(col("all_zero"), 1L).otherwise(0L)).as("n_all_zero"))
      .orderBy("dims")

  /** Label-balance report: per-label counts, e4 shares, and each label's
    * e8 χ² contribution against the uniform expectation — the class-
    * imbalance screen run before any classifier training.
    */
  def q_label_balance(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.embeddings(spark, sf)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
    c.crossJoin(broadcast(c.agg(sum(col("n")).as("tot"), count(lit(1)).as("k"))))
      .select(col("label"), col("n"), expr("n * 10000 div tot").as("share_e4"),
        round((col("n").cast("double") - col("tot").cast("double") / col("k").cast("double"))
          * (col("n").cast("double") - col("tot").cast("double") / col("k").cast("double"))
          / (col("tot").cast("double") / col("k").cast("double")) * lit(1e8))
          .cast("long").as("chi2_term_e8"))
      .orderBy("label")
  }

  /** Triplet mining for metric learning: per anchor (vec_id < 10) the
    * hardest positive (same label, farthest) and hardest negative (other
    * label, nearest) over the corpus, with the exact integer margin.
    * One broadcast block join + two arg-extremes per anchor — the batch
    * shape of a triplet-loss data loader.
    */
  def q_triplet_mining(spark: SparkSession, sf: String): DataFrame = {
    val all = quantized(spark, sf)
    val anchors = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("qe").as("q_qe"))
    all.filter(col("vec_id") >= 10)
      .crossJoin(broadcast(anchors))
      .select(col("qid"), col("qlabel").cast("long").as("qlabel"), col("vec_id"),
        col("label"), dist2E14(col("qe"), col("q_qe")).as("d2"))
      .groupBy(col("qid"), col("qlabel"))
      .agg(
        max(when(col("label") === col("qlabel"),
          struct(col("d2"), (lit(0L) - col("vec_id")).as("nv")))).as("hp"),
        min(when(col("label") =!= col("qlabel"),
          struct(col("d2"), col("vec_id").as("v")))).as("hn"))
      .select(col("qid"), col("qlabel"),
        (lit(0L) - col("hp.nv")).as("hard_pos_vec"), col("hp.d2").as("hard_pos_d2"),
        col("hn.v").as("hard_neg_vec"), col("hn.d2").as("hard_neg_d2"),
        (col("hp.d2") - col("hn.d2")).as("violation_margin"))
      .orderBy("qid")
  }

  /** Margin-based uncertainty sampling: distance gap between each
    * vector's nearest and second-nearest label centroid (e7-rounded
    * centroids, exact lattice distances); the 10 smallest margins are the
    * points an active learner asks about first.
    */
  def q_margin_sampling(spark: SparkSession, sf: String): DataFrame = {
    val cent = centroidOf(Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("clabel"),
        slice(q7(col("embedding")), 1, 8).as("v8")), "c_qe")
    val w = Window.partitionBy("vec_id").orderBy(col("d2").asc, col("clabel").asc)
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        slice(q7(col("embedding")), 1, 8).as("qe"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clabel"),
        dist2E14(col("qe"), col("c_qe")).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("rn") === 1, col("clabel"))).as("pred"),
        min(when(col("rn") === 1, col("d2"))).as("d1"),
        min(when(col("rn") === 2, col("d2"))).as("d2nd"))
      .select(col("vec_id"), col("label"), col("pred"),
        (col("d2nd") - col("d1")).as("margin"))
      .orderBy(col("margin").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Distance-weighted kNN (k = 5): neighbor votes weighted by the exact
    * integer 10¹⁸ div (d2+1) reciprocal lattice — no float in the whole
    * decision path, unlike majority voting which ignores proximity.
    */
  def q_knn_weighted(spark: SparkSession, sf: String): DataFrame = {
    val all = quantized(spark, sf)
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("true_label"), col("qe").as("q_qe"))
    val train = all.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("tid"), col("label").as("t_label"), col("qe").as("t_qe"))
    val wNear = Window.partitionBy("qid").orderBy(col("d2").asc, col("tid").asc)
    val wVote = Window.partitionBy("qid").orderBy(col("wsum").desc, col("t_label").asc)
    train.crossJoin(broadcast(queries))
      .select(col("qid"), col("true_label"), col("tid"), col("t_label"),
        dist2E14(col("q_qe"), col("t_qe")).as("d2"))
      .withColumn("rn", row_number().over(wNear))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("true_label"), col("t_label"),
        expr("CAST(1000000000000000000 AS BIGINT) div (d2 + 1)").as("w"))
      .groupBy(col("qid"), col("true_label"), col("t_label"))
      .agg(sum(col("w")).as("wsum"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("qid"), col("t_label").cast("long").as("predicted"),
        col("true_label").cast("long").as("actual"), col("wsum"))
      .orderBy("qid")
  }

  /** Pairwise Pearson correlations between the first four embedding
    * dimensions (6 pairs): cross-moments as exact e14 decimal sums from a
    * bounded in-vector pair explode, per-dim moments broadcast, one IEEE
    * epilogue per cell. The feature-redundancy screen before whitening.
    */
  def q_emb_dim_corr(spark: SparkSession, sf: String): DataFrame = {
    val dims = Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(slice(q7(col("embedding")), 1, 4)).as(Seq("dim", "x")))
    val stats = dims.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
    val cross = dims.as("a")
      .join(dims.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.dim") < col("b.dim"))
      .groupBy(col("a.dim").as("i"), col("b.dim").as("j"))
      .agg(sum(col("a.x").cast("decimal(38,0)") * col("b.x")).as("sxy"))
    val joined = cross
      .join(broadcast(stats.select(col("dim").as("i"), col("n"),
        col("sx").as("sxi"), col("sxx").as("sxxi"))), "i")
      .join(broadcast(stats.select(col("dim").as("j"),
        col("sx").as("sxj"), col("sxx").as("sxxj"))), "j")
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sxi").cast("double") * col("sxj").cast("double")
    val di = nD * col("sxxi").cast("double") -
      col("sxi").cast("double") * col("sxi").cast("double")
    val dj = nD * col("sxxj").cast("double") -
      col("sxj").cast("double") * col("sxj").cast("double")
    joined.select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
      (round(num / sqrt(di * dj), 6) + lit(0.0)).as("corr"))
      .orderBy("i", "j")
  }

  /** Centered-feature export for vectors 0-9: per (vector, dim 1..8) the
    * raw e7 value and the value minus the e7-rounded corpus mean — the
    * preprocessing step before PCA/whitening, emitted as long rows the
    * way a feature store ingests them. One stats pass broadcast onto the
    * export slice.
    */
  def q_embedding_center_export(spark: SparkSession, sf: String): DataFrame = {
    val dims = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        posexplode(slice(q7(col("embedding")), 1, 8)).as(Seq("dim", "x")))
    val mu = dims.groupBy(col("dim"))
      .agg(round(sum(col("x")).cast("double") / count(lit(1)).cast("double"))
        .cast("long").as("mu_e7"))
    dims.filter(col("vec_id") < 10)
      .join(broadcast(mu), "dim")
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("x").as("x_e7"),
        (col("x") - col("mu_e7")).as("centered_e7"))
      .orderBy("vec_id", "dim")
  }

  /** Gram (uncentered second-moment) matrix of the first 8 embedding
    * dimensions: G[i][j] = Σ_v x_i·x_j as an exact e14-lattice integer sum
    * (decimal accumulator — long overflows beyond ~10⁴ rows), reported as
    * G/n on the original scale. The classic one-pass MapReduce matrix
    * pattern: explode each vector into its (dim, value) pairs, self-join
    * per vector (64 pairs/row — bounded, data-independent), reduce by the
    * (i, j) cell. At 100 TB this is the covariance/PCA input pass; cells,
    * not vectors, are the shuffle key.
    */
  def q_gram_matrix(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .select(slice(q7(col("embedding")), 1, 8).as("qe"))
      // upper-triangle (i, j, x_i·x_j) products generated INSIDE the array
      // (e7·e7 = e14 products fit a long; only the cross-row sum needs
      // decimal) — no per-vector self-join, zero shuffles before the
      // 36-cell aggregate
      .select(explode(expr(
        "flatten(transform(sequence(0, 7), i ->" +
          " transform(sequence(i, 7), j -> struct(i AS i, j AS j, qe[i] * qe[j] AS p))))"))
        .as("c"))
      .groupBy(col("c.i").cast("long").as("i"), col("c.j").cast("long").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("c.p").cast("decimal(38,0)")).as("sxy"))
      .select(col("i"), col("j"),
        (round(col("sxy").cast("double") / (col("n").cast("double") * lit(1e14)), 6)
          + lit(0.0)).as("g"))
      .orderBy("i", "j")

  /** INT8 quantization-error audit per embedding dimension (the
    * compression feasibility check before shipping an int8 ANN index):
    * symmetric per-dim scale maxabs/127, per-value reconstruction error
    * rounded to an e2 integer before the order-free sum, mean error at 4
    * decimals. Two passes: the per-dim bounds aggregate broadcast back
    * onto the scan.
    */
  def q_int8_quant_error(spark: SparkSession, sf: String): DataFrame = {
    val vals = Tables.embeddings(spark, sf)
      .select(posexplode(slice(q7(col("embedding")), 1, 8)).as(Seq("dim0", "x")))
      .select((col("dim0") + 1).cast("long").as("dim"), col("x"))
    val bounds = vals.groupBy(col("dim")).agg(max(abs(col("x"))).as("maxabs"))
    val q8 = round(col("x").cast("double") * lit(127.0) / col("maxabs").cast("double"))
    val dequant = q8 * col("maxabs").cast("double") / lit(127.0)
    vals.join(broadcast(bounds), "dim")
      .select(col("dim"), col("maxabs"),
        round(abs(col("x").cast("double") - dequant) * lit(100.0) / lit(1e7))
          .cast("long").as("err_e2")) // error in original units ×100
    // e2 per-value rounding keeps the sum order-independent
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), max(col("maxabs")).as("maxabs_e7"),
        sum(col("err_e2")).as("serr_e2"))
      .select(col("dim"), col("n"), col("maxabs_e7"),
        (round(col("serr_e2").cast("double") / (col("n").cast("double") * lit(100.0)), 4)
          + lit(0.0)).as("mean_abs_err"))
      .orderBy("dim")
  }

  /** Near-zero-variance feature screen over embedding dims 1-8 (caret's
    * nzv test): values coarsened to an e2 lattice, per dim the distinct
    * count, the top value's e4 share, and the top1/top2 frequency ratio
    * (e2, −1 when there is no second value). Two aggregates + one
    * dim-partitioned rank window.
    */
  def q_nzv_screen(spark: SparkSession, sf: String): DataFrame = {
    val vals = Tables.embeddings(spark, sf)
      .select(posexplode(expr(
        "transform(slice(embedding, 1, 8), v -> CAST(ROUND(CAST(v AS DOUBLE)*100) AS BIGINT))"))
        .as(Seq("dim0", "v")))
      .select((col("dim0") + 1).cast("long").as("dim"), col("v"))
    val counts = vals.groupBy(col("dim"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("dim").orderBy(col("c").desc, col("v").asc)
    counts.withColumn("rn", row_number().over(w))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("c")).as("n"),
        max(when(col("rn") === 1, col("c"))).as("top1"),
        max(when(col("rn") === 2, col("c"))).as("top2"))
      .select(col("dim"), col("n_distinct"),
        expr("top1 * 10000 div n").as("top_share_e4"),
        expr("CASE WHEN top2 IS NULL THEN -1 ELSE top1 * 100 div top2 END").as("freq_ratio_e2"))
      .orderBy("dim")
  }

  /** Nearest-neighbor distance histogram over the label∈{0,1} block (the
    * intrinsic-density / outlier profile an ANN index build consults for
    * parameter choice): each point's exact 1-NN squared lattice distance,
    * bucketed by integer bit length.
    *
    * Rep-collapsed over distinct qe (round 9 — the full sf3 bench caught
    * the former block² join growing with duplication²; it also planned a
    * BNLJ): a point whose vector occurs m ≥ 2 times has 1-NN distance 0
    * by definition (a co-located twin), and a singleton's 1-NN is the
    * nearest DISTINCT vector — so the pair work runs once per distinct
    * vector on the [[gridDirectedD2]] triangular grid (hash-joined,
    * memory-bounded tasks) and member counts re-enter as histogram
    * weights. Bit-identical to the uncollapsed join (Round9OpsSpec).
    */
  def q_nn_distance_hist(spark: SparkSession, sf: String): DataFrame =
    nnDistanceHistOf(quantized(spark, sf).filter(col("label") <= 1)
      .select(col("vec_id"), col("qe")))

  /** The rep-collapsed core over a (vec_id, qe) block — exposed to
    * Round9OpsSpec's pair-join twin. */
  private[graft] def nnDistanceHistOf(block: DataFrame): DataFrame = {
    val groups = Mat.once(block
      .groupBy(col("qe"))
      .agg(count(lit(1)).as("m"), min(col("vec_id")).as("vec_id")))
    val repNN = gridDirectedD2(groups.select(col("vec_id"), col("qe")), 8)
      .groupBy(col("qid")).agg(min(col("d2")).as("rep_nn"))
    groups.join(repNN, col("vec_id") === col("qid"), "left_outer")
      .select(when(col("m") >= 2L, lit(0L)).otherwise(col("rep_nn")).as("nn_d2"),
        col("m"))
      .filter(col("nn_d2").isNotNull) // a lone singleton has no neighbor,
      // exactly as the original a≠b join emitted nothing for it
      .select(expr("CAST(length(bin(nn_d2)) AS BIGINT)").as("bucket"),
        col("nn_d2"), col("m"))
      .groupBy(col("bucket"))
      .agg(sum(col("m")).as("n"), min(col("nn_d2")).as("min_d2"),
        max(col("nn_d2")).as("max_d2"))
      .orderBy("bucket")
  }

  /** Feature↔label correlation screen over embedding dims 1-8 (the
    * leakage / predictive-power scan run before training): Pearson
    * corr(label, xᵢ) per dimension from one pass of exact integer sums
    * (lattice x, cross-products in decimal), shared IEEE epilogue.
    */
  def q_feature_label_corr(spark: SparkSession, sf: String): DataFrame = {
    val s = Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("y"),
        posexplode(slice(q7(col("embedding")), 1, 8)).as(Seq("dim", "x")))
      .groupBy((col("dim") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val dx = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val dy = nD * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    s.select(col("dim"), col("n"),
      (round(num / sqrt(dx * dy), 4) + lit(0.0)).as("corr_label"))
      .orderBy("dim")
  }

  /** kNN label-noise audit over the label∈{0,1} block (the mislabeled-
    * example screen run before training): each point's label vs the
    * majority of its 5 nearest neighbors by exact lattice distance;
    * per label the flagged count and e4 share. EXACT over the block via
    * the [[gridDirectedD2]] triangular grid + lossless per-task top-5
    * pre-cut ([[gridTopK]]) — no BroadcastNestedLoopJoin, hash-uniform
    * memory-bounded tasks; the approximate scale twin for unblocked
    * corpora is LSH candidates ([[Ann.q_ann_rplsh]]).
    */
  def q_label_noise(spark: SparkSession, sf: String): DataFrame =
    labelNoiseOf(quantized(spark, sf).filter(col("label") <= 1)
      .select(col("vec_id"), col("label").cast("long").as("label"), col("qe")))

  /** [[q_label_noise]]'s core, rep-collapsed over distinct qe (round 9 —
    * the full sf3 bench caught the member-level grid growing with
    * duplication²). The exact 5-NN vote of every member is recoverable
    * from BOUNDED per-group state, because the neighbor order is
    * (d², vec_id) and co-located twins sit at d² = 0:
    *  - a member's internal neighbors are its group's smallest-id other
    *    members — all inside the group's 6 smallest (id, label) pairs
    *    (`top6`, one ≤6-row window per group);
    *  - only groups with m ≤ 5 need EXTERNAL neighbors, and any external
    *    top-5 entry must be one of its own group's 5 smallest members,
    *    so the rep-level grid stream expands each neighbor rep to ≤5
    *    member candidates before the verbatim [[gridTopK]] cut — the
    *    expansion is 5× reps, never members²;
    *  - members at in-group id-rank ≥ 7 all share the same neighbor set
    *    (the group's 5 smallest ids), so their votes collapse to count
    *    arithmetic over the per-label member totals.
    * Output bit-identical to the uncollapsed member-level grid
    * (Round9OpsSpec pins a mixed-label dup-group corpus).
    */
  private[graft] def labelNoiseOf(block: DataFrame): DataFrame = {
    val w6 = Window.partitionBy("qe").orderBy("vec_id")
    // feeds the rep grid and the vote arithmetic: one row per DISTINCT
    // vector with a ≤6-element array — bounded by the distinct-vector
    // count, never by the duplicated corpus
    val groups = Mat.once(block.withColumn("rn", row_number().over(w6))
      .groupBy(col("qe"))
      .agg(count(lit(1)).as("m"), sum(col("label")).as("n1g"),
        min(col("vec_id")).as("rid"),
        sort_array(collect_list(when(col("rn") <= 6,
          struct(col("vec_id").as("id"), col("label").as("lb"))))).as("top6")))
    val reps = groups.select(col("rid").as("vec_id"), col("qe"),
      col("m").as("gm"), slice(col("top6"), 1, 5).as("top5"))
    val ext = gridDirectedD2(reps, 8, Nil, Seq("gm", "top5"))
      .filter(col("q_gm") <= 5L) // only small groups have external NNs
      .select(col("gi"), col("gj"), col("qid"), col("d2"),
        explode(col("n_top5")).as("nb"))
      .select(col("gi"), col("gj"), col("qid"),
        col("nb.id").as("nid"), col("nb.lb").as("n_label"), col("d2"))
    val extLabels = gridTopK(ext, 5)
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("rn"), col("n_label")))).as("er"))
      .select(col("qid"), expr("transform(er, x -> x.n_label)").as("ext"))
    val perGroup = groups
      .join(extLabels, col("rid") === col("qid"), "left_outer")
      .select(col("m"), col("n1g"), col("top6"),
        expr("coalesce(ext, CAST(array() AS ARRAY<BIGINT>))").as("ext"))
      .select(col("m"), col("n1g"), col("top6"),
        // external slice shared by every member: 5 − (m−1) entries
        expr("aggregate(slice(ext, 1, CAST(greatest(0L, 5 - (m - 1)) AS INT)), " +
          "0L, (a, x) -> a + x)").as("vext"))
      .select(col("m"), col("n1g"),
        // explicit members (in-group id-rank ≤ 6): per-member vote over
        // the n_int = least(m−1, 5) smallest other ids, plus vext
        expr("""transform(top6, mem -> struct(mem.lb AS lb,
            CASE WHEN ((aggregate(slice(filter(top6, x -> x.id != mem.id),
                                        1, CAST(least(m - 1, 5) AS INT)),
                                  0L, (a, x) -> a + x.lb) + vext) >= 3)
                      != (mem.lb = 1) THEN 1L ELSE 0L END AS fl))""").as("fa"),
        // the rank ≥ 7 class: identical neighbor set = top6[0..4]
        expr("aggregate(slice(top6, 1, 5), 0L, (a, x) -> a + x.lb)").as("vrest"),
        expr("aggregate(top6, 0L, (a, x) -> a + x.lb)").as("n1top6"))
      .select(
        col("n1g").as("n1"), (col("m") - col("n1g")).as("n0"),
        (expr("aggregate(fa, 0L, (a, x) -> a + x.fl * x.lb)") +
          expr("CASE WHEN m >= 7 AND vrest < 3 THEN n1g - n1top6 ELSE 0L END"))
          .as("f1"),
        (expr("aggregate(fa, 0L, (a, x) -> a + x.fl * (1 - x.lb))") +
          expr("CASE WHEN m >= 7 AND vrest >= 3 THEN (m - n1g) - (6 - n1top6) ELSE 0L END"))
          .as("f0"))
    perGroup
      .select(explode(array(
        struct(lit(0L).as("label"), col("n0").as("n"), col("f0").as("f")),
        struct(lit(1L).as("label"), col("n1").as("n"), col("f1").as("f")))).as("p"))
      .groupBy(col("p.label").as("label"))
      .agg(sum(col("p.n")).as("n"), sum(col("p.f")).as("n_flagged"))
      .filter(col("n") > 0L)
      .select(col("label"), col("n"), col("n_flagged"),
        expr("n_flagged * 10000 div n").as("flagged_share_e4"))
      .orderBy("label")
  }

  /** L2-norm histogram of the embedding column (the "are these vectors
    * normalized?" audit an ANN index build runs first): exact integer
    * squared norms, bucketed by floor(‖x‖/0.25) — sqrt is correctly
    * rounded IEEE so the bucket edge is bit-identical cross-engine. One
    * aggregate; the histogram is bounded by the norm range, not rows.
    */
  def q_embedding_norm_hist(spark: SparkSession, sf: String): DataFrame =
    quantized(spark, sf)
      .select(col("nrm"),
        expr("CAST(FLOOR(SQRT(CAST(nrm AS DOUBLE)) / 2500000.0) AS BIGINT)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("nrm")).as("min_nrm_e14"),
        max(col("nrm")).as("max_nrm_e14"))
      .orderBy("bucket")

  /** NDCG@10 of cosine retrieval (relevance = same label as the query):
    * for each of the 10 query vectors, the top-10 corpus neighbors by
    * r6 cosine (tie → vec_id), gain weights on the e8 1/log₂(i+1)
    * lattice, ideal DCG from the first min(10, R) weights where R is the
    * query label's corpus support. The standard ranking-quality gate for
    * an ANN index — integer-exact end to end (the only doubles are the
    * shared fixed weight expression). Guarded −1 when a label has no
    * relevant corpus vectors.
    */
  def q_ndcg_eval(spark: SparkSession, sf: String): DataFrame = {
    val all = quantized(spark, sf)
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("qe").as("q_qe"), col("nrm").as("q_nrm"))
    val corpus = all.filter(col("vec_id") >= 10)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    val ranked = corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        (round(cosine(dotE14(col("qe"), col("q_qe")), col("nrm"), col("q_nrm")), 6)
          + lit(0.0)).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("qlabel"),
        when(col("label") === col("qlabel"), 1L).otherwise(0L).as("rel"),
        expr("CAST(ROUND(1e8 / (ln(rank + 1) / ln(2.0))) AS BIGINT)").as("w_e8"))
    val dcg = ranked.groupBy(col("qid"), col("qlabel"))
      .agg(sum(col("rel") * col("w_e8")).as("dcg_e8"), sum(col("rel")).as("n_rel_top10"))
    val relTotals = corpus.groupBy(col("label").as("qlabel")).agg(count(lit(1)).as("r_total"))
    dcg.join(broadcast(relTotals), "qlabel")
      .select(col("qid"), col("qlabel"), col("n_rel_top10"), col("r_total"), col("dcg_e8"),
        expr("aggregate(sequence(1, CAST(least(10, r_total) AS INT)), CAST(0 AS BIGINT)," +
          " (acc, i) -> acc + CAST(ROUND(1e8 / (ln(i + 1) / ln(2.0))) AS BIGINT))").as("idcg_e8"))
      .select(col("qid"), col("qlabel"), col("n_rel_top10"), col("r_total"),
        col("dcg_e8"), col("idcg_e8"),
        expr("CASE WHEN idcg_e8 = 0 THEN -1 ELSE dcg_e8 * 10000 div idcg_e8 END").as("ndcg_e4"))
      .orderBy("qid")
  }

  /** Top principal direction of the first 8 embedding dimensions by two
    * unrolled power iterations on the exact e14-lattice scatter matrix:
    * v₀ = 1⃗, w = G·v, v ← round(w/max|w|·10⁶) (one IEEE division per
    * component — trunc-vs-floor-unsafe integer division never touches the
    * possibly-negative values). The data is read ONCE (the 64-cell scatter
    * aggregate, materialized by `Mat.once`); both iterations are joins over that
    * 8×8 table, so iteration cost is independent of corpus size. Output:
    * the e6 loadings and the Rayleigh-quotient eigenvalue estimate on the
    * original scale.
    */
  def q_pca_power(spark: SparkSession, sf: String): DataFrame = {
    val cells = Mat.once(Tables.embeddings(spark, sf)
      .select(slice(q7(col("embedding")), 1, 8).as("qe"))
      .select(explode(expr(
        "flatten(transform(sequence(0, 7), i ->" +
          " transform(sequence(0, 7), j -> struct(CAST(i+1 AS BIGINT) AS i," +
          " CAST(j+1 AS BIGINT) AS j, qe[i] * qe[j] AS p))))")).as("c"))
      .groupBy(col("c.i").as("i"), col("c.j").as("j"))
      .agg(sum(col("c.p").cast("decimal(38,0)")).as("g"), count(lit(1)).as("n")))
    val v1raw = cells.groupBy(col("i")).agg(sum(col("g")).as("w"))
    val m1 = v1raw.agg(max(abs(col("w"))).as("m"))
    val v1 = v1raw.crossJoin(broadcast(m1))
      .select(col("i"),
        round(col("w").cast("double") / col("m").cast("double") * lit(1e6))
          .cast("long").as("v"))
    val w2 = cells
      .join(v1.select(col("i").as("j"), col("v").as("vj")), "j")
      .groupBy(col("i")).agg(sum(col("g") * col("vj")).as("w2"))
    val m2 = w2.agg(max(abs(col("w2"))).as("m2"))
    val v2 = w2.crossJoin(broadcast(m2))
      .select(col("i"),
        round(col("w2").cast("double") / col("m2").cast("double") * lit(1e6))
          .cast("long").as("loading_e6"))
    val rayleigh = v1.join(w2, "i")
      .agg(sum(col("v").cast("decimal(38,0)") * col("w2")).as("num"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("den"))
      .crossJoin(cells.agg(max(col("n")).as("nv")))
      // λ in original units: lattice e14 out, the e6 normalization of v
      // cancels in num/den; divide by the vector count once
      .select((round(col("num").cast("double") / col("den").cast("double") /
        col("nv").cast("double") / lit(1e14), 6) + lit(0.0)).as("rayleigh"))
    v2.crossJoin(broadcast(rayleigh))
      .select(col("i").as("dim"), col("loading_e6"), col("rayleigh"))
      .orderBy("dim")
  }

  /** Shared cosine top-10 ranking for the retrieval-eval suite (same
    * construction as [[q_ndcg_eval]]): vec_id < 10 are queries, the rest
    * the corpus, relevance = label match. Broadcast queries, keyed window.
    */
  private def rankedTop10(spark: SparkSession, sf: String): DataFrame = {
    val all = quantized(spark, sf)
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("qe").as("q_qe"), col("nrm").as("q_nrm"))
    val corpus = all.filter(col("vec_id") >= 10)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        (round(cosine(dotE14(col("qe"), col("q_qe")), col("nrm"), col("q_nrm")), 6)
          + lit(0.0)).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .withColumn("rel", when(col("label") === col("qlabel"), 1L).otherwise(0L))
  }

  /** Mean-average-precision building block: per query the AP@10 on an e8
    * floor lattice — Σ_{rel hits} (cum_rel·10⁸ div rank) div min(10, R).
    * Precision terms are exact integer ratios, so the metric reproduces
    * bit-for-bit on any partitioning; the ranking itself is the broadcast
    * top-10 of [[rankedTop10]] (one corpus scan at any size).
    */
  def q_map_eval(spark: SparkSession, sf: String): DataFrame = {
    val wCum = Window.partitionBy("qid").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = rankedTop10(spark, sf)
      .withColumn("cum_rel", sum(col("rel")).over(wCum))
      .select(col("qid"), col("qlabel"), col("rel"),
        expr("CASE WHEN rel = 1 THEN cum_rel * 100000000 div rank ELSE 0 END")
          .as("term_e8"))
      .groupBy(col("qid"), col("qlabel"))
      .agg(sum(col("rel")).as("n_rel_top10"), sum(col("term_e8")).as("sum_prec_e8"))
    val relTotals = Tables.embeddings(spark, sf).filter(col("vec_id") >= 10)
      .groupBy(col("label").as("qlabel")).agg(count(lit(1)).as("r_total"))
    terms.join(broadcast(relTotals), "qlabel")
      .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
        col("n_rel_top10"), col("r_total"),
        expr("sum_prec_e8 div least(10, r_total)").as("ap_e8"))
      .orderBy("qid")
  }

  /** Mean-reciprocal-rank building block: per query the rank of the first
    * relevant hit in the top-10 (−1 when none) and its reciprocal as an
    * exact e6 floor integer. Same one-scan broadcast ranking as MAP.
    */
  def q_mrr_eval(spark: SparkSession, sf: String): DataFrame =
    rankedTop10(spark, sf)
      .groupBy(col("qid"), col("qlabel"))
      .agg(min(when(col("rel") === 1L, col("rank"))).as("fr"))
      .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
        coalesce(col("fr"), lit(-1L)).as("first_rel_rank"),
        coalesce(expr("1000000 div fr"), lit(0L)).as("rr_e6"))
      .orderBy("qid")

  /** kNN regression: for the 10 query vectors, predict the target
    * y = Σ(qe[9..16]) (an exact e7 integer functional of the embedding)
    * as the floor-mean of the 5 euclidean-nearest training neighbors'
    * targets. Same broadcast-queries + keyed-window shape as
    * [[q_knn_classify]]; the prediction and error stay exact integers.
    */
  def q_knn_regression(spark: SparkSession, sf: String): DataFrame = {
    val y = expr("aggregate(slice(qe, 9, 8), CAST(0 AS BIGINT), (a, x) -> a + x)")
    val all = quantized(spark, sf).withColumn("y", y)
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("y").as("y_true"), col("qe").as("q_qe"))
    val train = all.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("tid"), col("y").as("t_y"), col("qe").as("t_qe"))
    val wNear = Window.partitionBy("qid").orderBy(col("d2").asc, col("tid").asc)
    train.crossJoin(broadcast(queries))
      .select(col("qid"), col("y_true"), col("tid"), col("t_y"),
        dist2E14(col("q_qe"), col("t_qe")).as("d2"))
      .withColumn("rn", row_number().over(wNear))
      .filter(col("rn") <= 5)
      .groupBy(col("qid"), col("y_true"))
      .agg(sum(col("t_y")).as("sum_y"))
      .select(col("qid"), col("y_true"),
        expr("CASE WHEN sum_y >= 0 THEN sum_y div 5" +
          " ELSE -((-sum_y) div 5) END").as("pred_y"),
        expr("abs(y_true - (CASE WHEN sum_y >= 0 THEN sum_y div 5" +
          " ELSE -((-sum_y) div 5) END))").as("abs_err"))
      .orderBy("qid")
  }

  /** Maximal-marginal-relevance reranking: greedy diversified top-5 from
    * the query's top-20 inner-product candidates, score = 7·rel − 3·max
    * sim-to-selected (λ=0.7 ×10 — kept as an UNDIVIDED integer so there
    * is no float and no negative-division floor/trunc hazard). The greedy
    * recursion is 4 statically-unrolled rounds of anti-join + 1×k
    * broadcast sim + argmax — rerank is inherently small-k, so every
    * round is a bounded 20-row plan regardless of corpus size; the scale
    * path is the ANN retrieval that produced the candidates.
    */
  def q_mmr_rerank(spark: SparkSession, sf: String): DataFrame = {
    val all = quantized(spark, sf)
    val query = all.filter(col("vec_id") === 0).select(col("qe").as("query_qe"))
    val cands = Mat.once(all.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(query))
      .select(col("vec_id"), col("qe"), dotE14(col("qe"), col("query_qe")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc).limit(20))
    var selected = cands.orderBy(col("rel").desc, col("vec_id").asc).limit(1)
      .select(col("vec_id"), col("qe"), col("rel"), lit(0L).as("ms"),
        (col("rel") * 7).as("score"), lit(1L).as("rank"))
    for (r <- 2 to 5) {
      val selVecs = selected.select(col("vec_id").as("s_id"), col("qe").as("s_qe"))
      val next = cands
        .join(selected.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(selVecs))
        .select(col("vec_id"), col("rel"), dotE14(col("qe"), col("s_qe")).as("sim"))
        .groupBy(col("vec_id"), col("rel"))
        .agg(max(col("sim")).as("ms"))
        .select(col("vec_id"), col("rel"), col("ms"),
          (col("rel") * 7 - col("ms") * 3).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(1)
        .join(cands.select(col("vec_id"), col("qe")), "vec_id")
        .select(col("vec_id"), col("qe"), col("rel"), col("ms"), col("score"),
          lit(r.toLong).as("rank"))
      selected = Mat.once(selected.unionByName(next))
    }
    selected.select(col("rank").as("mmr_rank"), col("vec_id"), col("rel").as("rel_e14"),
      col("ms").as("max_sim_e14"), col("score").as("score_x10"))
      .orderBy("mmr_rank")
  }

  /** kNN hubness: the in-degree distribution of the label-blocked k=5
    * nearest-neighbor graph — high-dimensional spaces grow "hubs" that
    * appear in many neighbor lists and poison kNN labels/retrieval, and
    * this histogram is the standard diagnostic. Distances are exact
    * integer lattice math; the per-query top-5 is a keyed window (never
    * global). The within-label pair space goes through the
    * [[gridDirectedD2]] triangular grid (label as an extra equi key) with
    * the lossless per-task top-5 pre-cut ([[gridTopK]]): the old
    * label-equality self-join put each label's whole N²/L product in one
    * hash bucket — the grid splits it into g(g+1)/2 uniform tasks and the
    * pre-cut bounds the window shuffle to 5·(g+1) rows per query.
    */
  def q_knn_hubness(spark: SparkSession, sf: String): DataFrame = {
    val sel = quantized(spark, sf)
    val indeg = gridTopK(gridDirectedD2(sel, 8, Seq("label")), 5)
      .groupBy(col("nid")).agg(count(lit(1)).as("in_deg"))
    val all = sel.select(col("vec_id").as("nid"))
      .join(indeg, Seq("nid"), "left_outer")
      .select(coalesce(col("in_deg"), lit(0L)).as("in_deg"))
    all.groupBy(col("in_deg")).agg(count(lit(1)).as("n_vectors"))
      .orderBy("in_deg")
  }

  /** Mutual nearest neighbors between the label-0 and label-1 vector
    * sets: a pair survives only if each side is the other's single
    * nearest cross-set neighbor — the reciprocal-best-match criterion
    * batch-effect alignment (MNN) and bilingual lexicon induction use to
    * mine high-precision anchors. Exact lattice distances over a g×g
    * rectangular grid (the two sets are disjoint, so every (gi, gj) cell
    * is a task — per-row replication g, hash-uniform memory-bounded tasks
    * instead of the former CartesianProduct whose single task owned the
    * whole |A|×|B| stream); each side's argmin is `min(struct(d2, id))`,
    * which partial-aggregates map-side, so NO full pair-stream shuffle
    * ever happens — only per-task argmin partials move.
    */
  def q_mutual_nn(spark: SparkSession, sf: String): DataFrame = {
    val g = 8
    val a = quantized(spark, sf).filter(col("label") === 0)
      .select(col("vec_id").as("aid"), col("qe").as("aqe"))
      .withColumn("gi", pmod(xxhash64(col("aid")), lit(g.toLong)))
      .withColumn("gj", explode(expr(s"sequence(0L, ${g - 1}L)")))
      .repartition(col("gi"), col("gj")) // probe parallelism = grid cells (see gridLegs)
    val b = quantized(spark, sf).filter(col("label") === 1)
      .select(col("vec_id").as("bid"), col("qe").as("bqe"))
      .withColumn("gj", pmod(xxhash64(col("bid")), lit(g.toLong)))
      .withColumn("gi", explode(expr(s"sequence(0L, ${g - 1}L)")))
    val pairs = a.join(b, Seq("gi", "gj"))
      .select(col("aid"), col("bid"), dist2E14(col("aqe"), col("bqe")).as("d2"))
    val bestA = pairs.groupBy(col("aid"))
      .agg(min(struct(col("d2"), col("bid"))).as("m"))
      .select(col("aid"), col("m.bid").as("bid"), col("m.d2").as("d2"))
    val bestB = pairs.groupBy(col("bid"))
      .agg(min(struct(col("d2"), col("aid"))).as("m"))
      .select(col("m.aid").as("aid2"), col("bid").as("bid2"))
    bestA.join(bestB, col("aid") === col("aid2") && col("bid") === col("bid2"))
      .select(col("aid"), col("bid"), col("d2"))
      .orderBy("aid")
  }

  /** Local Outlier Factor (k=5) over the label-0 block: k-distance →
    * reachability distance → local reachability density → LOF, the
    * textbook density-ratio outlier score. Distances are exact lattice
    * integers end to end; the two density ratios are fixed IEEE trees, so
    * the ranking is cross-engine stable. Top-10 by LOF — the vectors
    * whose neighborhood is sparser than their neighbors'. The k-NN build
    * is the [[gridDirectedD2]]+[[gridTopK]] grid (no BNLJ, hash-uniform
    * bounded tasks); at open-corpus scale the candidate stage becomes
    * LSH ([[Ann.q_ann_rplsh]]).
    */
  def q_lof_outliers(spark: SparkSession, sf: String): DataFrame = {
    val sel = quantized(spark, sf).filter(col("label") === 0)
    val knn = Mat.once(gridTopK(gridDirectedD2(sel, 8), 5))
    val kdist = knn.filter(col("rn") === 5)
      .select(col("qid").as("kd_id"), col("d2").as("kdist"))
    // lrd(a) = k / Σ_b max(kdist(b), d2(a,b))
    val lrd = knn
      .join(kdist.select(col("kd_id").as("nid"), col("kdist")), "nid")
      .select(col("qid"), greatest(col("kdist"), col("d2")).as("reach"))
      .groupBy(col("qid"))
      .agg(sum(col("reach")).as("rsum"))
      // duplicate vectors (all-zero reach sums, common at high duplicate
      // density) would divide by zero: clamp to 1 on the lattice, capping
      // the density for duplicate clusters identically on both engines
      .select(col("qid"), expr("5.0 / CAST(GREATEST(rsum, 1) AS DOUBLE)").as("lrd"))
    val lof = knn
      .join(lrd.select(col("qid").as("nid"), col("lrd").as("lrd_n")), "nid")
      .groupBy(col("qid"))
      .agg(sum(col("lrd_n")).as("lrd_nsum"))
      .join(lrd, "qid")
      .select(col("qid").as("vec_id"),
        (round(expr("lrd_nsum / (5.0 * lrd)"), 4) + lit(0.0)).as("lof"))
    lof.orderBy(col("lof").desc, col("vec_id").asc).limit(10)
  }

  /** DBSCAN point classification on the label-0 block (ε²=1.65e14 on the
    * e14 lattice ≈ the median 4-NN distance, minPts=4): core points have
    * ≥4 ε-neighbors, border points are non-core with a core ε-neighbor,
    * the rest is noise. The ε-neighborhood build — the expensive part of
    * DBSCAN — runs on the [[gridDirectedD2]] triangular grid (each
    * unordered distance computed once, ε-filtered before the direction
    * explode, no BNLJ, bounded tasks) and its output is TRUE-neighbor-
    * bounded, not block²; then two aggregates.
    */
  def q_dbscan_labels(spark: SparkSession, sf: String): DataFrame = {
    val eps = 165000000000000L
    val sel = quantized(spark, sf).filter(col("label") === 0)
    val neigh = Mat.once(gridDirectedD2(sel, 8)
      .filter(col("d2") <= eps)
      .select(col("qid"), col("nid"), col("d2")))
    val core = neigh.groupBy(col("qid")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 4).select(col("qid").as("core_id"))
    val border = neigh
      .join(core.select(col("core_id").as("nid")), "nid")
      .select(col("qid")).distinct()
      .join(core.select(col("core_id").as("qid")), Seq("qid"), "left_anti")
    // mark-and-count via keyed left joins (one row per point, flags
    // summed in a single aggregate) — no scalar-product stage at all
    sel.select(col("vec_id"))
      .join(core.select(col("core_id").as("vec_id")).withColumn("is_core", lit(1L)),
        Seq("vec_id"), "left_outer")
      .join(border.select(col("qid").as("vec_id")).withColumn("is_border", lit(1L)),
        Seq("vec_id"), "left_outer")
      .agg(count(lit(1)).as("n_points"),
        sum(coalesce(col("is_core"), lit(0L))).as("n_core"),
        sum(coalesce(col("is_border"), lit(0L))).as("n_border"))
      .select(col("n_points"), col("n_core"), col("n_border"),
        (col("n_points") - col("n_core") - col("n_border")).as("n_noise"))
  }

  /** One single-linkage agglomeration step over the label clusters
    * (labels 0-4): the full 10-pair dissimilarity matrix D(a,b) =
    * min cross-pair distance, plus which two clusters merge first — the
    * bottom level of a hierarchical clustering dendrogram. Exact lattice
    * minima over the [[gridLegs]] triangular grid (cross-label pairs kept
    * by a residual label-inequality filter on the hash-keyed join — the
    * former `a.label < b.label` non-equi join planned BNLJ); min/count
    * per unordered label pair partial-aggregate map-side, so only 10
    * partials per task ever shuffle.
    */
  def q_single_linkage_step(spark: SparkSession, sf: String): DataFrame =
    singleLinkageStepOf(quantized(spark, sf).filter(col("label") < 5)
      .select(col("vec_id"), col("label"), col("qe")))

  /** The rep-collapsed core over a (vec_id, label, qe) frame — exposed
    * to Round9OpsSpec's pair-join twin. */
  private[graft] def singleLinkageStepOf(src: DataFrame): DataFrame = {
    // Rep-collapsed over (qe, label) (round 9 — the full sf3 bench caught
    // duplicated vectors inflating every grid task by duplication²): the
    // triangular grid covers each unordered REP pair exactly once, a rep
    // pair stands for m_a·m_b cross-label member pairs at the same d²,
    // and same-label duplicates can never pair (the label-inequality
    // filter), so min_d2 and the pair counts are recovered exactly.
    val sel = src
      .groupBy(col("qe"), col("label"))
      .agg(count(lit(1)).as("m"), min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("label"), col("qe"), col("m"))
    val (l, r) = gridLegs(sel, 8, "vec_id")
    val cross = l.as("a")
      .join(r.as("b"),
        col("a.gi") === col("b.gi") && col("a.gj") === col("b.gj") &&
          col("a.label") =!= col("b.label") &&
          (col("a.gi") =!= col("a.gj") || col("a.vec_id") < col("b.vec_id")))
      .select(least(col("a.label"), col("b.label")).as("la"),
        greatest(col("a.label"), col("b.label")).as("lb"),
        dist2E14(col("a.qe"), col("b.qe")).as("d2"),
        (col("a.m") * col("b.m")).as("w"))
      .groupBy(col("la"), col("lb"))
      .agg(min(col("d2")).as("min_d2"), sum(col("w")).as("n_pairs"))
    val best = cross.orderBy(col("min_d2").asc, col("la").asc, col("lb").asc).limit(1)
      .select(col("la").as("ma"), col("lb").as("mb"), lit(1L).as("mf"))
    cross.join(broadcast(best),
        col("la") === col("ma") && col("lb") === col("mb"), "left_outer")
      .select(col("la"), col("lb"), col("min_d2"), col("n_pairs"),
        coalesce(col("mf"), lit(0L)).as("merges_first"))
      .orderBy("la", "lb")
  }

  /** Two-NN intrinsic-dimension estimate (Facco et al.) of the label-0
    * block: d̂ = n / Σ ln(r₂/r₁) over each point's two nearest-neighbor
    * distance ratio — whether 64 ambient dimensions hide a much smaller
    * manifold, the diagnostic read before trusting distance-based
    * methods at all. Per-point logs floor onto an e9 lattice so the sum
    * is order-free. The 2-NN build is the [[gridDirectedD2]]+[[gridTopK]]
    * grid (no BNLJ; same shape as [[q_lof_outliers]]).
    *
    * Defined over the DISTINCT quantized point support (rep = min vec_id
    * per distinct vector): the Facco estimator's ln(r₂/r₁) is undefined
    * at a duplicated point (r₁ = 0 — caught by the round-9 sf1 Verify,
    * where verbatim embedding replication made every r₁ zero). Dedup
    * FIRST is the estimator's own requirement, not a fixture hack; at the
    * graded scales every quantized vector is already distinct (checked:
    * 50/50 at sf0.01, 199/199 at sf0.1), so results there are unchanged.
    * The oracle mirrors the same min-id-per-distinct-vector collapse.
    */
  def q_intrinsic_dimension(spark: SparkSession, sf: String): DataFrame = {
    val sel = quantized(spark, sf).filter(col("label") === 0)
      .groupBy(col("qe")).agg(min(col("vec_id")).as("vec_id"))
    val nn2 = gridTopK(gridDirectedD2(sel, 8), 2)
      .groupBy(col("qid"))
      .agg(min(when(col("rn") === 1, col("d2"))).as("r1sq"),
        min(when(col("rn") === 2, col("d2"))).as("r2sq"))
      .select(col("qid"),
        floor(log(col("r2sq").cast("double") / col("r1sq").cast("double")) * 0.5e9)
          .cast("long").as("ln_mu_e9"))
    nn2.agg(count(lit(1)).as("n_points"), sum(col("ln_mu_e9")).as("sum_ln_e9"))
      .select(col("n_points"), col("sum_ln_e9"),
        (round(expr("CAST(n_points AS DOUBLE) * 1e9 / CAST(sum_ln_e9 AS DOUBLE)"), 4)
          + lit(0.0)).as("intrinsic_dim"))
  }

  /** Exact closed-form eigendecomposition of the 2×2 covariance of the
    * first two embedding dimensions (e7 lattice):
    * λ± = (a+c)/2 ± √(((a−c)/2)² + b²), with the explained-variance
    * share of the principal axis.
    */
  def q_embedding_eigen2(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .select(element_at(q7(col("embedding")), 1).as("x"),
        element_at(q7(col("embedding")), 2).as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("double") * col("x").cast("double")).as("sxx"),
        sum(col("y").cast("double") * col("y").cast("double")).as("syy"),
        sum(col("x").cast("double") * col("y").cast("double")).as("sxy"))
      .select(col("n"),
        (col("sxx") / col("n").cast("double")
          - (col("sx").cast("double") / col("n").cast("double"))
            * (col("sx").cast("double") / col("n").cast("double"))).as("a"),
        (col("syy") / col("n").cast("double")
          - (col("sy").cast("double") / col("n").cast("double"))
            * (col("sy").cast("double") / col("n").cast("double"))).as("c"),
        (col("sxy") / col("n").cast("double")
          - (col("sx").cast("double") / col("n").cast("double"))
            * (col("sy").cast("double") / col("n").cast("double"))).as("b"))
      .select(col("n").as("n_vectors"),
        ((col("a") + col("c")) / lit(2.0)
          + sqrt(((col("a") - col("c")) / lit(2.0))
            * ((col("a") - col("c")) / lit(2.0)) + col("b") * col("b")))
          .as("lam1"),
        ((col("a") + col("c")) / lit(2.0)
          - sqrt(((col("a") - col("c")) / lit(2.0))
            * ((col("a") - col("c")) / lit(2.0)) + col("b") * col("b")))
          .as("lam2"))
      .select(col("n_vectors"),
        (round(col("lam1") / lit(1.0e14), 6) + lit(0.0)).as("lam1_unit"),
        (round(col("lam2") / lit(1.0e14), 6) + lit(0.0)).as("lam2_unit"),
        (round(col("lam1") / (col("lam1") + col("lam2")), 4) + lit(0.0))
          .as("explained_share"))

  /** Isotropy diagnostics of the first 8 embedding dimensions: max/mean
    * per-dimension variance and the participation ratio (Σλ)²/Σλ² —
    * PR → 8 means perfectly isotropic use of the subspace.
    */
  def q_embedding_isotropy(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .select(posexplode(slice(q7(col("embedding")), 1, 8)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast("double") * col("x").cast("double")).as("sxx"))
      .select(col("dim"),
        (col("sxx") / col("n").cast("double")
          - (col("sx").cast("double") / col("n").cast("double"))
            * (col("sx").cast("double") / col("n").cast("double"))).as("v"))
      .agg(count(lit(1)).as("n_dims"), max(col("v")).as("vmax"),
        sum(col("v")).as("sv"), sum(col("v") * col("v")).as("svv"))
      .select(col("n_dims"),
        (round(col("vmax") / (col("sv") / col("n_dims").cast("double")), 4)
          + lit(0.0)).as("max_over_mean_var"),
        (round(col("sv") * col("sv") / col("svv"), 4) + lit(0.0))
          .as("participation_ratio"))

  /** Pairwise Bhattacharyya coefficient/distance between the labels'
    * embedding-norm histograms (the [[q_embedding_norm_hist]] buckets):
    * BC = Σᵢ√(pᵢqᵢ), D_B = −ln BC — the class-separability screen run
    * before training a classifier on the embedding space (BC→1 means
    * the norm marginals are indistinguishable). Bucket support is
    * densified per label so both engines sum identical terms; √(p·q)
    * e8-rounded pre-sum, −ln as the only epilogue. Histograms are
    * |labels|×|buckets| — scale-invariant; the pair join is |labels|².
    */
  def q_bhattacharyya(spark: SparkSession, sf: String): DataFrame = {
    val h = quantized(spark, sf)
      .select(col("label").cast("long").as("label"),
        expr("CAST(FLOOR(SQRT(CAST(nrm AS DOUBLE)) / 2500000.0) AS BIGINT)")
          .as("bucket"))
      .groupBy(col("label"), col("bucket")).agg(count(lit(1)).as("c"))
    val tot = h.groupBy(col("label")).agg(sum(col("c")).as("t"))
    val buckets = h.select(col("bucket")).distinct()
    val dense = Mat.once(tot.crossJoin(buckets)
      .join(h, Seq("label", "bucket"), "left_outer")
      .select(col("label"), col("bucket"), col("t"),
        coalesce(col("c"), lit(0L)).as("c")))
    val pa = col("a.c").cast("double") / col("a.t").cast("double")
    val pb = col("b.c").cast("double") / col("b.t").cast("double")
    dense.as("a")
      .join(dense.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        round(sqrt(pa * pb) * lit(1e8)).cast("long").as("term_e8"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("term_e8")).as("bc_e8"))
      .select(col("label_a"), col("label_b"), col("bc_e8"),
        (round(-log(col("bc_e8").cast("double") / lit(1e8)), 4) + lit(0.0))
          .as("bhattacharyya"))
      .orderBy("label_a", "label_b")
  }

  /** One batch perceptron step on the embeddings (y = +1 for labels
    * 0–4, −1 for 5–9): w₀ = centroid difference (per-dimension integer
    * `div` means on the e7 lattice), margins yᵢ·⟨w₀,xᵢ⟩ are EXACT
    * integer dot products (no float sign decisions), the update adds
    * the mean misclassified correction (again integer `div`), and the
    * report is misclassification count before vs after — the
    * linear-separability probe run before committing to a classifier.
    * Per-dimension explode → 64-row weight table, broadcast back; two
    * passes, all shuffles keyed by dim or vec.
    */
  def q_perceptron_step(spark: SparkSession, sf: String): DataFrame = {
    val e = Mat.once(Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        when(col("label") <= 4, 1L).otherwise(-1L).as("y"),
        posexplode(q7(col("embedding"))).as(Seq("dim", "x")))
      .select(col("vec_id"), col("y"), col("dim").cast("long").as("dim"),
        col("x")))
    val w0 = e.groupBy(col("dim"))
      .agg(sum(when(col("y") === 1L, col("x")).otherwise(0L)).as("sp"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === -1L, col("x")).otherwise(0L)).as("sn"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("nn"))
      .select(col("dim"), expr("(sp div np) - (sn div nn)").as("w0"))
    val m1 = Mat.once(e.join(broadcast(w0), Seq("dim"))
      .groupBy(col("vec_id"), col("y"))
      .agg(sum(col("x") * col("w0")).as("dot"))
      .select(col("vec_id"), col("y"), (col("y") * col("dot") <= 0L).as("mis")))
    val upd = e.join(m1.filter(col("mis")).select(col("vec_id")), Seq("vec_id"))
      .groupBy(col("dim")).agg(sum(col("y") * col("x")).as("su"),
        countDistinct(col("vec_id")).as("nmis"))
    val w1 = w0.join(upd, Seq("dim"), "left_outer")
      .select(col("dim"), (col("w0") +
        coalesce(expr("su div nmis"), lit(0L))).as("w1"))
    val m2 = e.join(broadcast(w1), Seq("dim"))
      .groupBy(col("vec_id"), col("y"))
      .agg(sum(col("x") * col("w1")).as("dot"))
      .select((col("y") * col("dot") <= 0L).as("mis"))
    val before = m1.agg(
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("y") === -1L, 1L).otherwise(0L)).as("n_neg"),
      sum(when(col("mis"), 1L).otherwise(0L)).as("n_mis_before"))
    val after = m2.agg(sum(when(col("mis"), 1L).otherwise(0L)).as("n_mis_after"))
    before.crossJoin(after)
  }

  /** The 16-bucket sign-LSH partition used as the "predicted" clustering
    * by the external-validation metrics below: 4 deterministic ±1
    * hyperplanes (md5 parity of (plane, dim), the [[Ann]] convention),
    * bucket = 4-bit sign pattern of the exact integer projections. One
    * dim-keyed aggregate per corpus scan — no pairwise work.
    */
  private def lshPartition(spark: SparkSession, sf: String): DataFrame = {
    val hp = spark.range(0, 4).select(col("id").as("d2p"))
      .crossJoin(spark.range(0, 64).select(col("id").as("d")))
      .select(col("d2p").as("p"), col("d"),
        when(graft.core.Det.hash32(concat(col("d2p").cast("string"), lit("_"),
          col("d").cast("string"))) % 2 === 0, 1L).otherwise(-1L).as("s"))
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(q7(col("embedding"))).as(Seq("d", "x")))
      .join(broadcast(hp), "d")
      .groupBy(col("vec_id"), col("label"), col("p"))
      .agg(sum(col("s") * col("x")).as("proj"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(expr("CASE WHEN proj > 0 THEN CAST(shiftleft(1, p) AS BIGINT) ELSE 0 END"))
        .as("bucket"))
  }

  /** Adjusted Rand Index of the true label partition vs the 16-bucket
    * sign-LSH partition ([[lshPartition]]): pair-counting from the
    * label×bucket contingency table — Σ C(nij,2), margin sums ΣC(ai,2),
    * ΣC(bj,2) all exact (decimal(38,0) — pair counts are O(n²) and
    * overflow BIGINT at corpus scale), one IEEE epilogue for the
    * chance-corrected ratio. Contingency is ≤ labels×16 rows regardless
    * of corpus size.
    */
  def q_adjusted_rand(spark: SparkSession, sf: String): DataFrame = {
    val cont = Mat.once(lshPartition(spark, sf)
      .groupBy(col("label"), col("bucket")).agg(count(lit(1)).as("nij")))
    val cells = cont.agg(
      sum(expr("CAST(nij * (nij - 1) div 2 AS decimal(38,0))")).as("sum_idx"),
      count(lit(1)).as("n_cells"))
    val rows = cont.groupBy(col("label")).agg(sum(col("nij")).as("ai"))
      .agg(sum(expr("CAST(ai * (ai - 1) div 2 AS decimal(38,0))")).as("sum_a"),
        count(lit(1)).as("k_labels"), sum(col("ai")).as("n"))
    val colsM = cont.groupBy(col("bucket")).agg(sum(col("nij")).as("bj"))
      .agg(sum(expr("CAST(bj * (bj - 1) div 2 AS decimal(38,0))")).as("sum_b"),
        count(lit(1)).as("k_buckets"))
    val nD = col("n").cast("double")
    val tD = nD * (nD - lit(1.0)) / lit(2.0)
    val aD = col("sum_a").cast("double")
    val bD = col("sum_b").cast("double")
    val iD = col("sum_idx").cast("double")
    cells.crossJoin(rows).crossJoin(colsM)
      .select(col("n"), col("k_labels"), col("k_buckets"), col("n_cells"),
        (round((iD - aD * bD / tD) /
          ((aD + bD) / lit(2.0) - aD * bD / tD), 6) + lit(0.0)).as("ari"))
  }

  /** Normalized mutual information of the same label-vs-LSH-bucket
    * contingency: every pᵢⱼ·ln term is computed from EXACT counts with a
    * fixed IEEE tree and rounded to an e8 integer BEFORE the order-free
    * sum (≤ labels×16 cells), so partial aggregation order cannot move
    * the result; NMI = 2I/(H_label + H_bucket) is one epilogue.
    */
  def q_nmi_clusters(spark: SparkSession, sf: String): DataFrame = {
    val cont = Mat.once(lshPartition(spark, sf)
      .groupBy(col("label"), col("bucket")).agg(count(lit(1)).as("nij")))
    val tot = cont.agg(sum(col("nij")).as("n"))
    val rows = cont.groupBy(col("label")).agg(sum(col("nij")).as("ai"))
    val colsM = cont.groupBy(col("bucket")).agg(sum(col("nij")).as("bj"))
    val nD = col("n").cast("double")
    val hU = rows.crossJoin(broadcast(tot))
      .select(round(col("ai").cast("double") *
        log(col("ai").cast("double") / nD) * lit(1e8)).cast("long").as("t"),
        col("n"))
      .groupBy(col("n")).agg((-sum(col("t"))).as("hu_e8"),
        count(lit(1)).as("k_labels"))
    val hV = colsM.crossJoin(broadcast(tot))
      .select(round(col("bj").cast("double") *
        log(col("bj").cast("double") / nD) * lit(1e8)).cast("long").as("t"))
      .agg((-sum(col("t"))).as("hv_e8"), count(lit(1)).as("k_buckets"))
    val mi = cont
      .join(broadcast(rows), "label").join(broadcast(colsM), "bucket")
      .crossJoin(broadcast(tot))
      .select(round(col("nij").cast("double") *
        log(nD * col("nij").cast("double") /
          (col("ai").cast("double") * col("bj").cast("double"))) * lit(1e8))
        .cast("long").as("t"))
      .agg(sum(col("t")).as("mi_e8"))
    val scale = col("n").cast("double") * lit(1e8)
    hU.crossJoin(hV).crossJoin(mi)
      .select(col("n"), col("k_labels"), col("k_buckets"),
        (round(col("hu_e8").cast("double") / scale, 6) + lit(0.0)).as("h_label"),
        (round(col("hv_e8").cast("double") / scale, 6) + lit(0.0)).as("h_bucket"),
        (round(col("mi_e8").cast("double") / scale, 6) + lit(0.0)).as("mi"),
        (round(lit(2.0) * col("mi_e8").cast("double") /
          (col("hu_e8") + col("hv_e8")).cast("double"), 6) + lit(0.0)).as("nmi"))
  }

  /** Per-label centroid of dims 1..8 on the integer lattice (rounded
    * mean per dim, re-assembled into an array) plus the member count —
    * the shared base of the internal-validation indices below.
    */
  private def centroids8(spark: SparkSession, sf: String): DataFrame =
    centroidOf(Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("clabel"),
        slice(q7(col("embedding")), 1, 8).as("v8")), "c_qe")

  /** Davies–Bouldin index of the label clustering over dims 1..8:
    * scatter sᵢ = floor-mean of e6-latticed member→centroid distances,
    * centroid separations e6-latticed, Rᵢⱼ = (sᵢ+sⱼ)/dᵢⱼ kept as an
    * exact integer ratio — max/mean over the k×k pair lattice involve
    * no float sums. One broadcast centroid join per corpus scan; the
    * pair table is k² rows regardless of scale.
    */
  def q_davies_bouldin(spark: SparkSession, sf: String): DataFrame = {
    val cent = Mat.once(centroids8(spark, sf))
    val scat = Mat.once(Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("clabel"),
        slice(q7(col("embedding")), 1, 8).as("qe"))
      .join(broadcast(cent), "clabel")
      .select(col("clabel"),
        round(sqrt(dist2E14(col("qe"), col("c_qe")).cast("double")) / lit(10.0))
          .cast("long").as("d_e6"))
      .groupBy(col("clabel"))
      .agg(count(lit(1)).as("n_members"), sum(col("d_e6")).as("sd"))
      .select(col("clabel"), col("n_members"), expr("sd div n_members").as("s_e6")))
    val pairs = cent.as("a")
      .join(cent.select(col("clabel").as("clabel2"), col("c_qe").as("c_qe2")).as("b"),
        col("a.clabel") =!= col("clabel2"))
      .select(col("a.clabel").as("clabel"), col("clabel2"),
        round(sqrt(dist2E14(col("c_qe"), col("c_qe2")).cast("double")) / lit(10.0))
          .cast("long").as("dc_e6"))
    val ratios = pairs
      .join(broadcast(scat.select(col("clabel"), col("s_e6"))), "clabel")
      .join(broadcast(scat.select(col("clabel").as("clabel2"),
        col("s_e6").as("s2_e6"))), "clabel2")
      .select(col("clabel"),
        expr("(s_e6 + s2_e6) * 1000000 div dc_e6").as("r_e6"))
      .groupBy(col("clabel")).agg(max(col("r_e6")).as("r_max_e6"))
    val db = ratios.agg(expr("sum(r_max_e6) div count(1)").as("db_e6"))
    scat.join(ratios, "clabel").crossJoin(broadcast(db))
      .select(col("clabel").as("label"), col("n_members"), col("s_e6"),
        col("r_max_e6"),
        (round(col("db_e6").cast("double") / lit(1e6), 6) + lit(0.0))
          .as("db_index"))
      .orderBy("label")
  }

  /** Calinski–Harabasz (variance-ratio) index of the label clustering
    * over dims 1..8: between-scatter B = Σ nᵢ·‖cᵢ−c̄‖², within-scatter
    * W = Σ‖x−c_label‖², both EXACT integer sums on the e14 lattice
    * carried in decimal(38,0) (they overflow BIGINT at corpus scale);
    * CH = (B/(k−1))/(W/(n−k)) is one IEEE epilogue. One broadcast
    * centroid join per scan.
    */
  def q_calinski_harabasz(spark: SparkSession, sf: String): DataFrame = {
    val cent = Mat.once(centroids8(spark, sf))
    val sizes = Tables.embeddings(spark, sf)
      .groupBy(col("label").cast("long").as("clabel"))
      .agg(count(lit(1)).as("ni"))
    // global centroid from the raw corpus (not the centroid-of-centroids):
    // one grand graft_vec_sum aggregate, same rounded-mean lattice
    val gcent = Tables.embeddings(spark, sf)
      .select(slice(q7(col("embedding")), 1, 8).as("v8"))
      .agg(graft.functions.GraftFunctions.vecSum(col("v8")).as("_s"),
        count(lit(1)).as("_n"))
      .select(expr(
        "transform(_s, v -> CAST(ROUND(CAST(v AS DOUBLE) / CAST(_n AS DOUBLE)) AS BIGINT))")
        .as("g_qe"))
    val between = cent.join(sizes, "clabel").crossJoin(broadcast(gcent))
      .select((col("ni").cast("decimal(38,0)") *
        dist2E14(col("c_qe"), col("g_qe"))).as("t"), col("ni"))
      .agg(sum(col("t")).as("b_ss"), sum(col("ni")).as("n"),
        count(lit(1)).as("k"))
    val within = Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("clabel"),
        slice(q7(col("embedding")), 1, 8).as("qe"))
      .join(broadcast(cent), "clabel")
      .select(dist2E14(col("qe"), col("c_qe")).cast("decimal(38,0)").as("d2"))
      .agg(sum(col("d2")).as("w_ss"))
    between.crossJoin(within)
      .select(col("n"), col("k"),
        (round((col("b_ss").cast("double") / (col("k").cast("double") - lit(1.0))) /
          (col("w_ss").cast("double") /
            (col("n").cast("double") - col("k").cast("double"))), 6) + lit(0.0))
          .as("ch_index"))
  }

  /** Matryoshka-truncation recall: for the 20 query vectors, exact
    * top-5 neighbors (integer lattice L2, tie → lower id) computed on
    * the FULL 64 dims vs on the first 8/16/32 dims; per prefix width
    * the mean top-5 overlap (e6 trunc). Quantifies what dimension
    * truncation costs BEFORE re-embedding a corpus — 20×N broadcast
    * block join, keyed top-k windows, never N².
    */
  def q_matryoshka_recall(spark: SparkSession, sf: String): DataFrame = {
    val all = quantized(spark, sf)
    val q = all.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("qe").as("q_qe"))
    val cand = Mat.once(all.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("tid"), col("qe").as("t_qe"))
      .crossJoin(broadcast(q))
      .select(col("qid"), col("tid"),
        dist2E14(col("t_qe"), col("q_qe")).as("d_full"),
        dist2E14(slice(col("t_qe"), 1, 8), slice(col("q_qe"), 1, 8)).as("d8"),
        dist2E14(slice(col("t_qe"), 1, 16), slice(col("q_qe"), 1, 16)).as("d16"),
        dist2E14(slice(col("t_qe"), 1, 32), slice(col("q_qe"), 1, 32)).as("d32")))
    def top5(dcol: String): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col(dcol).asc, col("tid").asc)
      cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid"), col("tid"))
    }
    val full = top5("d_full")
    val overlaps = Seq("d8" -> 8L, "d16" -> 16L, "d32" -> 32L).map {
      case (dcol, dims) =>
        top5(dcol).join(full, Seq("qid", "tid"))
          .agg(count(lit(1)).as("n_hit"))
          .select(lit(dims).as("prefix_dims"), col("n_hit"))
    }
    overlaps.reduce(_ unionByName _)
      .select(col("prefix_dims"), col("n_hit"),
        expr("n_hit * 1000000 div 100").as("recall_e6"))
      .orderBy("prefix_dims")
  }

  /** One k-medoids assignment step with the three fixed medoids
    * vec_id ∈ {0,1,2}: every vector goes to its exact-integer-nearest
    * medoid (full 64-dim lattice distance, tie → lower medoid id), cost
    * = e6-latticed euclidean distance. Broadcast 3×N — one scan, no
    * shuffle beyond the 3-row aggregate, at any corpus size.
    */
  def q_kmedoids_step(spark: SparkSession, sf: String): DataFrame = {
    val med = quantized(spark, sf).filter(col("vec_id") < 3)
      .select(col("vec_id").as("mid"), col("qe").as("m_qe"))
    quantized(spark, sf)
      .crossJoin(broadcast(med))
      .select(col("vec_id"),
        struct(dist2E14(col("qe"), col("m_qe")).as("d2"), col("mid")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("best"))
      .select(col("best.mid").as("medoid"),
        round(sqrt(col("best.d2").cast("double")) / lit(10.0)).cast("long")
          .as("d_e6"))
      .groupBy(col("medoid"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("d_e6")).as("cost_e6"))
      .select(col("medoid"), col("n_assigned"), col("cost_e6"),
        expr("cost_e6 div n_assigned").as("mean_cost_e6"))
      .orderBy("medoid")
  }

  /** Grid-hashed closest pair in the (dim0, dim1) embedding plane: each
    * point lands in a 32×32 cell, the right side is exploded into its
    * 3×3 neighborhood so candidates meet through a plain HASH join on
    * the cell key (never point² — the standard spatial-join shape), and
    * the winner is the lexicographic-min (d², a, b). Exact e7-lattice
    * integer distances; candidate count rides along as the efficiency
    * witness.
    *
    * Rep-collapsed over distinct (x, y) (round 9 — the full sf3 bench
    * caught the within-cell blowup at exponent ~3: duplicated points all
    * land in ONE cell, so candidates grow with duplication²). The grid
    * machinery runs once per distinct point; a rep pair (P, Q) stands
    * for m_P·m_Q member candidates whose lexicographic-min member pair
    * is (min(i1_P, i1_Q), max(i1_P, i1_Q)) — the two group-min ids,
    * because every member of the a-side group exceeds its own min and
    * the partner b must come from the other group; a group with m ≥ 2
    * adds C(m,2) zero-distance candidates whose min pair is (i1, i2),
    * the group's two smallest ids. Counts by arithmetic, winner by the
    * same (d², a, b) order — output bit-identical to the uncollapsed
    * grid (Round9OpsSpec pins both on a planted dirty corpus).
    */
  def q_closest_pair_2d(spark: SparkSession, sf: String): DataFrame =
    closestPair2dOf(Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        round(element_at(col("embedding"), 1).cast("double") * 1e7).cast("long").as("x"),
        round(element_at(col("embedding"), 2).cast("double") * 1e7).cast("long").as("y")))

  /** The rep-collapsed core over a (vec_id, x, y) frame — exposed to
    * Round9OpsSpec's uncollapsed-grid twin. */
  private[graft] def closestPair2dOf(ptsSrc: DataFrame): DataFrame = {
    val pts = Mat.once(ptsSrc)
    val grp = pts.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("m"), min(col("vec_id")).as("i1"))
    val second = pts.join(grp.select(col("x"), col("y"), col("i1")), Seq("x", "y"))
      .filter(col("vec_id") > col("i1"))
      .groupBy(col("x"), col("y")).agg(min(col("vec_id")).as("i2"))
    val groups = Mat.once(grp.join(second, Seq("x", "y"), "left_outer"))
    val bounds = groups.agg(min(col("x")).as("x0"), max(col("x")).as("x1"),
      min(col("y")).as("y0"), max(col("y")).as("y1"))
    val cells = Mat.once(groups.crossJoin(broadcast(bounds))
      .select(col("i1"), col("m"), col("x"), col("y"),
        expr("(x - x0) * 32 div (x1 - x0 + 1)").as("cx"),
        expr("(y - y0) * 32 div (y1 - y0 + 1)").as("cy")))
    val probe = cells.select(col("i1").as("b"), col("m").as("bm"),
        col("x").as("bx"), col("y").as("by"), col("cx"), col("cy"))
      .withColumn("d", explode(expr(
        "transform(sequence(0, 8), i -> struct(i div 3 - 1 AS ox, i % 3 - 1 AS oy))")))
      .select(col("b"), col("bm"), col("bx"), col("by"),
        (col("cx") + col("d.ox")).as("cx"), (col("cy") + col("d.oy")).as("cy"))
    val cross = cells.join(probe, Seq("cx", "cy"))
      .filter(col("i1") < col("b"))
      .select(col("i1").as("a"), col("b"),
        ((col("x") - col("bx")) * (col("x") - col("bx"))
          + (col("y") - col("by")) * (col("y") - col("by"))).as("d2"),
        (col("m") * col("bm")).as("w"))
    val within = groups.filter(col("m") >= 2L)
      .select(col("i1").as("a"), col("i2").as("b"), lit(0L).as("d2"),
        expr("m * (m - 1) div 2").as("w"))
    val cand = Mat.once(cross.unionByName(within))
    val n = cand.agg(sum(col("w")).as("n_candidates"))
    cand.orderBy(col("d2").asc, col("a").asc, col("b").asc).limit(1)
      .crossJoin(broadcast(n))
      .select(col("a").as("vec_a"), col("b").as("vec_b"),
        col("d2").as("d2_e14"), col("n_candidates"))
  }

  /** Z-order vs hash layout locality on the embedding plane: both
    * schemes bucket the same points (8-bit Morton code div 256 vs
    * md5 mod 256) and the average intra-bucket squared grid distance
    * comes from per-bucket sufficient sums (n·Σx² − (Σx)² — NO pair
    * join at any scale). The number Delta/Iceberg-style Z-ORDER
    * clustering optimizes: z buckets should be an order of magnitude
    * tighter than hash buckets.
    */
  def q_zorder_bucket_tightness(spark: SparkSession, sf: String): DataFrame = {
    val pts = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        round(element_at(col("embedding"), 1).cast("double") * 1e7).cast("long").as("x"),
        round(element_at(col("embedding"), 2).cast("double") * 1e7).cast("long").as("y"))
    val bounds = pts.agg(min(col("x")).as("x0"), max(col("x")).as("x1"),
      min(col("y")).as("y0"), max(col("y")).as("y1"))
    val grid = Mat.once(pts.crossJoin(broadcast(bounds))
      .select(col("vec_id"),
        expr("(x - x0) * 256 div (x1 - x0 + 1)").as("gx"),
        expr("(y - y0) * 256 div (y1 - y0 + 1)").as("gy"))
      .withColumn("morton", expr((0 until 8).map(b =>
        s"((gx div ${1L << b}) % 2) * ${1L << (2 * b)}" +
          s" + ((gy div ${1L << b}) % 2) * ${1L << (2 * b + 1)}").mkString(" + "))))
    def locality(bucketed: DataFrame, scheme: String): DataFrame =
      bucketed.groupBy(col("bk"))
        .agg(count(lit(1)).as("n"), sum(col("gx")).as("sx"),
          sum(col("gx") * col("gx")).as("sxx"),
          sum(col("gy")).as("sy"), sum(col("gy") * col("gy")).as("syy"))
        .agg(count(lit(1)).as("n_buckets_used"),
          sum(expr("n * (n - 1) div 2")).as("n_pairs"),
          sum(expr("n * sxx - sx * sx + n * syy - sy * sy")).as("sum_d2"))
        .select(lit(scheme).as("scheme"), col("n_buckets_used"), col("n_pairs"),
          when(col("n_pairs") > 0, expr("sum_d2 * 10000 div n_pairs"))
            .otherwise(lit(0L)).as("avg_d2_e4"))
    locality(grid.select(expr("morton div 256").as("bk"), col("gx"), col("gy")), "zorder")
      .unionByName(locality(grid.select(
        pmod(graft.core.Det.hash32(col("vec_id")), lit(256L)).as("bk"),
        col("gx"), col("gy")), "hash"))
      .orderBy("scheme")
  }
}
