package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Mat, Tables}

/** Approximate-nearest-neighbor scale paths over the embeddings table:
  * IVF (coarse-quantizer cell probing) and sign-random-projection LSH
  * bucketing, plus embedding-cosine near-dup. Brute-force cosine top-k
  * ([[Vectors.q_cosine_topk]]) is the exactness baseline these trade
  * against.
  *
  * Everything is deterministic and oracle-able: the IVF coarse centroids
  * are fixed seed vectors, the LSH hyperplanes are ±1 lattices derived
  * from md5 parity, and all projections/distances are exact integer
  * arithmetic on the 1e7-quantized vectors.
  *
  * Scale posture: both index structures turn the O(N²) search into
  * shuffle-on-bucket-key + within-bucket products. At 100 TB the same
  * plans hold: build is one pass (assign/bucket), probe touches only the
  * query's cell.
  */
object Ann {

  private def quantized(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), Vectors.q7(col("embedding")).as("qe"))
      .withColumn("nrm", Vectors.dotE14(col("qe"), col("qe")))

  /** Embedding-cosine near-duplicates: same-label pairs with cosine
    * ≥ 0.25 (p99 of the same-label pair distribution) — EXACT, via the
    * [[Vectors.gridLegs]] triangular grid (g=8) inside each label block.
    *
    * Why not the [[q_semantic_dedup]] LSH bucket stage: 0.25 is the p99
    * of a near-isotropic pair distribution — at that angle (≈75.5°) two
    * vectors agree on one sign-plane with probability only 0.58, so an
    * 8-bit bucket match fires for ≈1.3% of TRUE pairs; no banding scheme
    * separates cos 0.25 from the cos 0 bulk without probing everything.
    * An exact low-threshold pair scan is irreducibly O(N²) work; the
    * grid distributes it evenly with bounded task memory and per-row
    * replication g+1 (vs the former label-block self-join whose biggest
    * label owned the whole N²/|labels| product in one hash bucket).
    */
  def q_neardup_embedding(spark: SparkSession, sf: String): DataFrame = {
    val v = quantized(spark, sf)
    val (l, r) = Vectors.gridLegs(v, 8, "vec_id")
    l.as("a")
      .join(r.as("b"),
        col("a.gi") === col("b.gi") && col("a.gj") === col("b.gj") &&
          col("a.label") === col("b.label") &&
          (col("a.gi") =!= col("a.gj") || col("a.vec_id") < col("b.vec_id")))
      .select(col("a.label").as("label"),
        least(col("a.vec_id"), col("b.vec_id")).as("v1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("v2"),
        Vectors.cosine(Vectors.dotE14(col("a.qe"), col("b.qe")), col("a.nrm"), col("b.nrm"))
          .as("cos"))
      .filter(col("cos") >= 0.25)
      .select(col("label"), col("v1"), col("v2"), (round(col("cos"), 4) + lit(0.0)).as("cos"))
      .orderBy("label", "v1", "v2")
  }

  /** IVF-style ANN: coarse cells = nearest of the 10 fixed seed vectors
    * (vec_id 0..9); probe queries vec_id 10..14 against their own cell
    * only (nprobe=1), top-5 by cosine.
    */
  def q_ann_ivf(spark: SparkSession, sf: String): DataFrame = {
    val v = quantized(spark, sf)
    val seeds = v.filter(col("vec_id") <= 9)
      .select(col("vec_id").as("cell"), col("qe").as("seed_qe"))
    val assigned = v.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("label"), col("qe"), col("nrm"), col("cell"),
        Vectors.dist2E14(col("qe"), col("seed_qe")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("best"),
        first(col("qe")).as("qe"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("best.cell").as("cell"), col("qe"), col("nrm"))
    val queries = assigned.filter(col("vec_id").between(10, 14))
      .select(col("vec_id").as("qid"), col("cell"),
        col("qe").as("q_qe"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    assigned.join(broadcast(queries), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (round(Vectors.cosine(Vectors.dotE14(col("qe"), col("q_qe")), col("nrm"), col("q_nrm")), 4) + lit(0.0))
          .as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy("qid", "rnk", "vec_id")
  }

  /** Sign-random-projection LSH ANN: 8 deterministic ±1 hyperplanes
    * (md5 parity of (plane, dim)), 8-bit bucket per vector; the query
    * (vec_id 0) probes only its own bucket, top-5 by cosine.
    */
  def q_ann_rplsh(spark: SparkSession, sf: String): DataFrame = {
    val hp = spark.range(0, 8).select(col("id").as("p"))
      .crossJoin(spark.range(0, 64).select(col("id").as("d")))
      .select(col("p"), col("d"),
        when(graft.core.Det.hash32(concat(col("p").cast("string"), lit("_"),
          col("d").cast("string"))) % 2 === 0, 1L).otherwise(-1L).as("s"))
    val v = quantized(spark, sf)
    val dims = v.select(col("vec_id"), posexplode(col("qe")).as(Seq("d", "x")))
    val buckets = dims.join(broadcast(hp), "d")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(col("s") * col("x")).as("proj"))
      .groupBy(col("vec_id"))
      .agg(sum(expr("CASE WHEN proj > 0 THEN CAST(shiftleft(1, p) AS BIGINT) ELSE 0 END"))
        .as("bucket"))
    val withBucket = v.join(buckets, "vec_id")
    val query = withBucket.filter(col("vec_id") === 0)
      .select(col("bucket"), col("qe").as("q_qe"), col("nrm").as("q_nrm"))
    // rank WITHIN the bucket (a single bucket for one query, but the
    // partition key keeps multi-query batches parallel and avoids a
    // global single-partition window)
    val w = Window.partitionBy("bucket").orderBy(col("cos").desc, col("vec_id").asc)
    withBucket.join(broadcast(query), "bucket")
      .filter(col("vec_id") =!= 0)
      .select(col("bucket"), col("vec_id"),
        (round(Vectors.cosine(Vectors.dotE14(col("qe"), col("q_qe")), col("nrm"), col("q_nrm")), 4) + lit(0.0))
          .as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("vec_id"), col("cos"), col("rnk"))
      .orderBy("rnk", "vec_id")
  }

  /** Recall@5 of the IVF index against exact search: for the same five
    * queries as [[q_ann_ivf]], the cell-restricted top-5 is compared with
    * the exact cosine top-5 over the whole corpus (both rankings use the
    * identical r4-rounded cosine and vec_id tie-break). THE metric an ANN
    * index is tuned by — a 10-cell probe that misses recall gets more
    * probes, not shipped.
    */
  def q_ann_recall_eval(spark: SparkSession, sf: String): DataFrame = {
    val v = quantized(spark, sf)
    val seeds = v.filter(col("vec_id") <= 9)
      .select(col("vec_id").as("cell"), col("qe").as("seed_qe"))
    val assigned = v.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("qe"), col("nrm"), col("cell"),
        Vectors.dist2E14(col("qe"), col("seed_qe")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("best"),
        first(col("qe")).as("qe"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("best.cell").as("cell"), col("qe"), col("nrm"))
    val queries = assigned.filter(col("vec_id").between(10, 14))
      .select(col("vec_id").as("qid"), col("cell").as("q_cell"),
        col("qe").as("q_qe"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    val ivf = assigned.join(broadcast(queries), col("cell") === col("q_cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (round(Vectors.cosine(Vectors.dotE14(col("qe"), col("q_qe")),
          col("nrm"), col("q_nrm")), 4) + lit(0.0)).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("vec_id"), lit(1L).as("in_ivf"))
    val exact = v.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (round(Vectors.cosine(Vectors.dotE14(col("qe"), col("q_qe")),
          col("nrm"), col("q_nrm")), 4) + lit(0.0)).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("vec_id"))
    exact.join(ivf, Seq("qid", "vec_id"), "left_outer")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("in_ivf"), lit(0L))).as("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        expr("n_hit * 10000 div n_exact").as("recall_e4"))
      .orderBy("qid")
  }

  /** Semantic-dedup pipeline report: the SemDeDup-style candidate stage —
    * vectors are bucketed by the 8-plane sign-LSH signature (the
    * [[q_ann_rplsh]] hyperplanes), candidate pairs are SAME (label,
    * bucket) pairs only, and a pair is a semantic duplicate when its
    * r4-rounded exact cosine ≥ 0.40. Per label: vectors, occupied
    * buckets, candidate pairs actually scored, dup pairs, and distinct
    * vectors slated for removal (the higher vec_id of each dup pair —
    * keep-lowest survivorship). The bucket key bounds the pair product
    * at any corpus size — the all-pairs product never materializes.
    */
  def q_semantic_dedup(spark: SparkSession, sf: String): DataFrame = {
    val hp = spark.range(0, 8).select(col("id").as("p"))
      .crossJoin(spark.range(0, 64).select(col("id").as("d")))
      .select(col("p"), col("d"),
        when(graft.core.Det.hash32(concat(col("p").cast("string"), lit("_"),
          col("d").cast("string"))) % 2 === 0, 1L).otherwise(-1L).as("s"))
    val v = quantized(spark, sf)
    val dims = v.select(col("vec_id"), posexplode(col("qe")).as(Seq("d", "x")))
    val buckets = dims.join(broadcast(hp), "d")
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(col("s") * col("x")).as("proj"))
      .groupBy(col("vec_id"))
      .agg(sum(expr("CASE WHEN proj > 0 THEN CAST(shiftleft(1, p) AS BIGINT) ELSE 0 END"))
        .as("bucket"))
    val wb = Mat.once(v.join(buckets, "vec_id"))
    val pairs = wb.as("a")
      .join(wb.select(col("vec_id").as("vid2"), col("label").as("label2"),
        col("bucket").as("bucket2"), col("qe").as("qe2"),
        col("nrm").as("nrm2")).as("b"),
        col("a.bucket") === col("bucket2") && col("a.label") === col("label2")
          && col("a.vec_id") < col("vid2"))
      .select(col("a.label").as("label"), col("vid2"),
        (round(Vectors.cosine(Vectors.dotE14(col("qe"), col("qe2")),
          col("nrm"), col("nrm2")), 4) + lit(0.0)).as("cos"))
    val pairStats = pairs.groupBy(col("label"))
      .agg(count(lit(1)).as("n_cand_pairs"),
        sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("n_dup_pairs"),
        countDistinct(when(col("cos") >= 0.4, col("vid2"))).as("n_removed"))
    val base = wb.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), countDistinct(col("bucket")).as("n_buckets"))
    base.join(pairStats, Seq("label"), "left_outer")
      .select(col("label").cast("long").as("label"), col("n_vecs"), col("n_buckets"),
        coalesce(col("n_cand_pairs"), lit(0L)).as("n_cand_pairs"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .orderBy("label")
  }
}
