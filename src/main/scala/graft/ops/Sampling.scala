package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Mat, Tables}
import graft.core.Det.cents

/** Sampling, splitting and profiling operators for training-data pipelines:
  * deterministic hash splits, stratified sampling, equal-width histograms,
  * and per-dimension feature statistics.
  *
  * Randomness policy: no `rand()` anywhere — "random" choices are md5-hash
  * order over a unique id. The sample is as good as uniform for pipeline
  * purposes, reproducible run-to-run, engine-independent (the oracle runs
  * the same md5 arithmetic), and at 100 TB needs no global shuffle or seed
  * coordination across executors — each row decides its own fate from its
  * own id.
  */
object Sampling {

  /** md5-hash of a bigint id as an integer in [0, 2^32) — the shared
    * pseudorandom key (same construction as TextPipeline's token hash).
    */
  private def idHash(c: Column): Column = graft.core.Det.hash32(c)

  /** Deterministic train/val/test split (80/10/10) by id-hash bucket;
    * per (lang, split): document count and total chars. The assignment is
    * a pure per-row map — no shuffle until the final small aggregate.
    */
  def q_sample_hash_split(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .withColumn("bucket", idHash(col("doc_id")) % 10)
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "split")

  /** Stratified sample: first 5 documents per (lang, source) stratum in
    * id-hash order. One shuffle on the stratum key; rank is windowed inside
    * each stratum, so strata scale independently.
    */
  def q_sample_stratified(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("lang", "source").orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(spark, sf)
      .select(col("lang"), col("source"), col("doc_id"), idHash(col("doc_id")).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("source"), col("doc_id"), col("rk"))
      .orderBy("lang", "source", "rk")
  }

  /** Weighted sample: top-20 documents per language by integer priority
    * key `md5-hash(doc_id) · n_chars` — longer documents proportionally
    * more likely to surface, yet the draw is exact integer arithmetic
    * (no float keys whose near-ties could order differently across
    * engines) and needs no seed coordination: each row computes its own
    * priority.
    */
  def q_sample_weighted(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("prio").desc, col("doc_id").asc)
    Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        (idHash(col("doc_id")) * col("n_chars")).as("prio"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"), col("prio"))
      .orderBy("lang", "rk")
  }

  /** Data-mixture plan: given target language mixture weights (a tiny
    * inline spec), compute each language's target document count and the
    * down-sampling rate that realizes it (capped at keep-everything for
    * under-represented languages) — the planning step of corpus mixing,
    * all exact integer arithmetic, one aggregate + a broadcast join.
    */
  def q_mixture_plan(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val weights = Seq(("en", 4000L), ("zh", 2000L), ("de", 1500L),
      ("es", 1500L), ("fr", 1000L)).toDF("lang", "w_e4")
    val counts = Tables.documents(spark, sf)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("n_total"))
    counts.join(broadcast(weights), "lang")
      .crossJoin(broadcast(total))
      .withColumn("target_docs", expr("n_total * w_e4 div 10000"))
      .withColumn("rate_e6",
        least(lit(1000000L), expr("target_docs * 1000000 div n_docs")))
      .select(col("lang"), col("n_docs"), col("w_e4"), col("target_docs"), col("rate_e6"))
      .orderBy("lang")
  }

  /** Equal-width 10-bucket histogram of event value cents between the
    * global min and max. Bucketing is exact integer arithmetic
    * ((v−lo)·10 div (hi−lo+1) is always in [0,9]); the two-row bounds
    * aggregate broadcasts to the bucketing pass.
    */
  def q_hist_value(spark: SparkSession, sf: String): DataFrame = {
    val v = Tables.eventsWithTs(spark, sf).select(cents(col("value")).as("v"))
    val bounds = v.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    v.crossJoin(broadcast(bounds))
      .withColumn("bucket", expr("((v - lo) * 10) div (hi - lo + 1)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_cents"))
      .orderBy("bucket")
  }

  /** Greedy sequence packing (the batch-assembly step of an LLM training
    * pipeline): per language, documents in doc_id order are packed into
    * 4096-char bins by cumulative length BEFORE the current doc — a pure
    * window cumsum, so each shard packs independently with one shuffle.
    */
  def q_seq_pack(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("cum_before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("pack_id", expr("cum_before div 4096"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy("lang", "pack_id")
  }

  /** Document length profile: 128-char-wide length buckets per language,
    * with each bucket's share of its language (e4 integer, window re-sum
    * over the aggregate — no second corpus pass).
    */
  def q_doc_length_buckets(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("lang"), expr("n_chars div 128").as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_e4",
        expr("n * 10000 div sum(n) over (partition by lang)"))
      .orderBy("lang", "bucket")

  /** Z-score anomaly detection over event values: per event type, count of
    * values beyond 3 sample standard deviations, plus the outlier range.
    * Moments come from ONE pass of exact integer sums; the 3σ test is the
    * identical IEEE expression tree on both engines ((v−mean)² > 9·var),
    * and the tiny per-type stats broadcast back onto the scan.
    */
  def q_anomaly_zscore(spark: SparkSession, sf: String): DataFrame = {
    val v = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("v"))
    val stats = v.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("sxx"))
    val nD = col("n").cast("double")
    val sD = col("s").cast("double")
    val mean = sD / nD
    val variance = (nD * col("sxx").cast("double") - sD * sD) / (nD * (nD - lit(1.0)))
    val dev = col("v").cast("double") - mean
    v.join(broadcast(stats), "event_type")
      .withColumn("is_out", when(dev * dev > lit(9.0) * variance, 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("is_out")).as("n_out"),
        coalesce(min(when(col("is_out") === 1L, col("v"))), lit(0L)).as("min_out"),
        coalesce(max(when(col("is_out") === 1L, col("v"))), lit(0L)).as("max_out"))
      .orderBy("event_type")
  }

  /** Min-max feature scaling (normalization APPLY step): every embedding
    * value rescaled to an e6 integer lattice with its dimension's min/max;
    * per-vector checksum output. The 64-row bounds table broadcasts onto
    * the explode, so the pass is shuffle-free after the bounds aggregate.
    */
  def q_minmax_scale(spark: SparkSession, sf: String): DataFrame = {
    val dims = Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(Vectors.q7(col("embedding"))).as(Seq("dim", "x")))
    val bounds = dims.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    dims.join(broadcast(bounds), "dim")
      .withColumn("scaled_e6",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(expr("(x - mn) * 1000000 div (mx - mn)")))
      .groupBy(col("vec_id"))
      .agg(
        count(lit(1)).as("n_dims"),
        sum(col("scaled_e6")).as("sum_e6"),
        min(col("scaled_e6")).as("min_e6"),
        max(col("scaled_e6")).as("max_e6"))
      .orderBy("vec_id")
  }

  /** Per-dimension feature statistics over the embedding column (the
    * normalization-stats pass of a feature pipeline): n/min/max on the
    * exact e7 lattice, mean and sample variance from exact integer sums
    * (the x² sum in decimal — long would overflow beyond ~10⁵ rows/dim).
    */
  def q_feature_stats(spark: SparkSession, sf: String): DataFrame = {
    val dims = Tables.embeddings(spark, sf)
      .select(posexplode(Vectors.q7(col("embedding"))).as(Seq("dim", "x_e7")))
    val s = dims.groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        min(col("x_e7")).as("min_e7"),
        max(col("x_e7")).as("max_e7"),
        sum(col("x_e7")).as("sx"),
        sum(col("x_e7").cast("decimal(38,0)") * col("x_e7")).as("sxx"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val sxxD = col("sxx").cast("double")
    s.select(
      col("dim").cast("long").as("dim"),
      col("n"), col("min_e7"), col("max_e7"),
      (round(sxD / (col("n") * lit(1e7)), 6) + lit(0.0)).as("mean"),
      (round((nD * sxxD - sxD * sxD) / (nD * (nD - lit(1.0)) * lit(1e14)), 6) + lit(0.0))
        .as("variance"))
      .orderBy("dim")
  }

  /** Robust outlier detection via median absolute deviation (the
    * median-based twin of [[q_anomaly_zscore]], immune to the outliers it
    * hunts): per event type, med = exact interpolating median of the
    * value cents, MAD = median of |x − med|, outlier ⇔ |x − med| > 3·MAD.
    * Two grouped percentile passes + one counting pass — each a single
    * shuffle keyed by the (tiny) type dimension. Deviations are exact in
    * doubles (integer cents ± an x.5 interpolation, far below 2⁵³), so
    * the second percentile interpolates identical inputs on both engines.
    */
  def q_anomaly_mad(spark: SparkSession, sf: String): DataFrame = {
    val v = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("vc"))
    // every lattice/derived frame is checkpointed: latticePercentile's
    // banded scan reads its input several times (band-sizing aggregate,
    // windows, group totals), and WITHOUT the checkpoints each read
    // re-scanned the base events table — ten-ish full passes, 8.6 s
    // isolated at sf0.1 (~2 s after; the lattices are value-domain-sized)
    val latV = Mat.once(v.groupBy(col("event_type"), col("vc").as("pc"))
      .agg(count(lit(1)).as("cnt")))
    val med = Relational.latticePercentile(latV, "event_type", 0.5, "med")
      .select(col("event_type"), col("med"))
    val dev = Mat.once(v.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        abs(col("vc").cast("double") - col("med")).as("dev")))
    // MAD via the doubled lattice: deviations step in halves (integer
    // cents minus an x.5 interpolating median), so 2·dev is an exact
    // integer and percentile(2·dev)/2 == percentile(dev) bit-for-bit
    // (power-of-two scaling commutes with every IEEE rounding involved)
    val latD = Mat.once(dev.groupBy(col("event_type"),
        (col("dev") * lit(2.0)).cast("long").as("pc"))
      .agg(count(lit(1)).as("cnt")))
    val mad = Relational.latticePercentile(latD, "event_type", 0.5, "mad2")
      .select(col("event_type"), (col("mad2") / lit(2.0)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (max(col("med")) + lit(0.0)).as("med"),
        (max(col("mad")) + lit(0.0)).as("mad"),
        sum(when(col("dev") > col("mad") * lit(3.0), 1L).otherwise(0L)).as("n_outliers"),
        (round(max(col("dev")), 4) + lit(0.0)).as("max_dev"))
      .orderBy("event_type")
  }

  /** One-pass column profiler over orders (the data-quality audit step of
    * an ingest pipeline): three columns melted into (column, value) rows
    * INSIDE the row (HOF array, no self-union scans), then per column:
    * row count, distinct count, and the modal value with its e4 share.
    * Mode tie → lexicographically larger value (`max(struct)`), which the
    * oracle pins with a DESC row-number.
    */
  def q_profile_columns(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select(explode(array(
        struct(lit("o_orderstatus").as("c"), col("o_orderstatus").as("v")),
        struct(lit("o_orderpriority").as("c"), col("o_orderpriority").as("v")),
        struct(lit("order_year").as("c"), year(col("o_orderdate")).cast("string").as("v"))))
        .as("m"))
      .groupBy(col("m.c").as("column_name"), col("m.v").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("column_name"))
      .agg(
        sum(col("cnt")).as("n_values"),
        count(lit(1)).as("n_distinct"),
        max(struct(col("cnt"), col("v"))).as("top"))
      .select(col("column_name"), col("n_values"), col("n_distinct"),
        col("top.v").as("top_value"), col("top.cnt").as("top_count"),
        expr("top.cnt * 10000 div n_values").as("top_share_e4"))
      .orderBy("column_name")

  /** Sampling-accuracy audit: the per-priority exact median of order
    * value vs the median of a deterministic 10% id-hash sample, with the
    * e4 relative error — the "is a sample good enough" check run before
    * switching an expensive metric to sampled mode. The sample needs no
    * seed coordination: each row decides its own fate from md5(orderkey).
    */
  def q_sample_quantile_error(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.{cents, hash32}
    val o = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderkey"), cents(col("o_totalprice")).as("tp"))
    def lat(d: DataFrame) = d.groupBy(col("o_orderpriority"), col("tp").as("pc"))
      .agg(count(lit(1)).as("cnt"))
    val exact = Relational.latticePercentile(lat(o), "o_orderpriority", 0.5, "p50_exact")
      .withColumnRenamed("n", "n_exact")
    val sampled = Relational.latticePercentile(
        lat(o.filter(hash32(col("o_orderkey")) % 10 === 0)),
        "o_orderpriority", 0.5, "p50_sample")
      .withColumnRenamed("n", "n_sample")
    exact.join(sampled, "o_orderpriority")
      .select(col("o_orderpriority"), col("n_exact"), col("n_sample"),
        (round(col("p50_exact"), 4) + lit(0.0)).as("p50_exact"),
        (round(col("p50_sample"), 4) + lit(0.0)).as("p50_sample"),
        round(abs(col("p50_sample") - col("p50_exact")) / col("p50_exact") * lit(1e4))
          .cast("long").as("rel_err_e4"))
      .orderBy("o_orderpriority")
  }

  /** Rare-category collapse (cardinality capping before one-hot /
    * target encoding): part types with fewer than 1% of all parts fold
    * into '__other__'; per final category the part count and mean retail
    * cents (exact integer division). Two aggregates + one broadcast
    * total — the category table never leaves the reducer tier.
    */
  def q_rare_collapse(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.cents
    val p = Tables.part(spark, sf)
      .select(col("p_type"), cents(col("p_retailprice")).as("pc"))
    val counts = p.groupBy(col("p_type")).agg(count(lit(1)).as("cnt"), sum(col("pc")).as("s"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(
        when(col("cnt") * 100 < col("total"), lit("__other__"))
          .otherwise(col("p_type")).as("category"),
        col("cnt"), col("s"))
      .groupBy(col("category"))
      .agg(sum(col("cnt")).as("n_parts"), sum(col("s")).as("sum_cents"))
      .select(col("category"), col("n_parts"), col("sum_cents"),
        expr("sum_cents div n_parts").as("mean_cents"))
      .orderBy("category")
  }

  /** Tukey IQR fence outliers per event type: fences at q1−1.5·IQR /
    * q3+1.5·IQR from one interpolating-percentile aggregate, outlier
    * counts + e4 share — the boxplot screen beside the 3σ
    * ([[q_anomaly_zscore]]) and MAD ([[q_anomaly_mad]]) variants.
    */
  def q_iqr_outliers(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.cents
    val v = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("vc"))
    val b = Relational.latticePercentiles(
        v.groupBy(col("event_type"), col("vc").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq("event_type"), Seq(0.25 -> "q1", 0.75 -> "q3"))
      .select(col("event_type"), col("q1"), col("q3"))
    v.join(broadcast(b), "event_type")
      .select(col("event_type"), col("vc"), col("q1"), col("q3"),
        (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("vc") < col("lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("vc") > col("hi"), 1L).otherwise(0L)).as("n_above"))
      .select(col("event_type"), col("n"), col("n_below"), col("n_above"),
        expr("(n_below + n_above) * 10000 div n").as("outlier_share_e4"))
      .orderBy("event_type")
  }

  /** Winsorization audit: event values clipped at the per-type p1/p99
    * interpolating percentiles (rounded to integer cents BEFORE clipping,
    * so the clamp is pure integer comparison); per type the clip counts
    * and the raw vs winsorized exact sums — the outlier-taming pass that
    * runs before any mean-based feature. Two passes over the data, the
    * bounds broadcast back onto the scan.
    */
  def q_winsorize(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.cents
    val v = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("vc"))
    val bounds = Relational.latticePercentiles(
        v.groupBy(col("event_type"), col("vc").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq("event_type"), Seq(0.01 -> "p1", 0.99 -> "p99"))
      .select(col("event_type"), round(col("p1")).cast("long").as("lo"),
        round(col("p99")).cast("long").as("hi"))
    v.join(broadcast(bounds), "event_type")
      .select(col("event_type"), col("vc"), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("vc"))).as("wc"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("lo")).as("lo_cents"),
        max(col("hi")).as("hi_cents"),
        sum(when(col("vc") < col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("vc") > col("hi"), 1L).otherwise(0L)).as("n_clipped_high"),
        sum(col("vc")).as("raw_sum_cents"), sum(col("wc")).as("win_sum_cents"))
      .orderBy("event_type")
  }

  /** Temperature-scaled sampling allocation (T = 2 ⇒ weights ∝ √share):
    * the per-language slice of a fixed token budget, as parts-per-million
    * floors — how multilingual training mixes are actually drawn so tail
    * languages aren't starved. √n per language rounded e6 BEFORE the
    * order-free weight total.
    */
  def q_sampling_temperature(spark: SparkSession, sf: String): DataFrame = {
    val s = Tables.documents(spark, sf)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_e6", round(sqrt(col("n_docs").cast("double")) * lit(1e6)).cast("long"))
    s.crossJoin(broadcast(s.agg(sum(col("n_docs")).as("tot"), sum(col("w_e6")).as("wtot"))))
      .select(col("lang"), col("n_docs"),
        expr("n_docs * 10000 div tot").as("share_e4"), col("w_e6"),
        expr("w_e6 * 1000000 div wtot").as("alloc_ppm"))
      .orderBy("lang")
  }

  /** Train/holdout drift check: mean/variance of document length in the
    * 80/20 md5 split plus the standardized mean difference — the
    * pre-training sanity gate that catches a broken splitter. Exact
    * sufficient statistics, one epilogue.
    */
  def q_holdout_drift(spark: SparkSession, sf: String): DataFrame = {
    val s = Tables.documents(spark, sf)
      .select(col("n_chars").as("x"),
        when(idHash(col("doc_id")) % 10 < 8, "train").otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val p = s.agg(
      max(when(col("split") === "train", col("n"))).as("n1"),
      max(when(col("split") === "train", col("sx"))).as("s1"),
      max(when(col("split") === "train", col("sxx"))).as("ss1"),
      max(when(col("split") === "test", col("n"))).as("n2"),
      max(when(col("split") === "test", col("sx"))).as("s2"),
      max(when(col("split") === "test", col("sxx"))).as("ss2"))
    def m(sc: Column, nc: Column) = sc.cast("double") / nc.cast("double")
    def vr(ssc: Column, sc: Column, nc: Column) =
      (ssc.cast("double") - sc.cast("double") * sc.cast("double") / nc.cast("double")) /
        (nc.cast("double") - lit(1.0))
    p.select(col("n1"), col("n2"),
      (round(m(col("s1"), col("n1")), 4) + lit(0.0)).as("train_mean"),
      (round(m(col("s2"), col("n2")), 4) + lit(0.0)).as("test_mean"),
      (round((m(col("s1"), col("n1")) - m(col("s2"), col("n2"))) /
        sqrt((vr(col("ss1"), col("s1"), col("n1")) +
          vr(col("ss2"), col("s2"), col("n2"))) / lit(2.0)), 6) + lit(0.0)).as("smd"))
  }

  /** One-hot encoding export: the market segment of customers 0-9 as five
    * indicator columns — the categorical-feature materialization shape
    * (wide, fixed columns) a training job consumes. Pure projection.
    */
  def q_onehot_export(spark: SparkSession, sf: String): DataFrame =
    Tables.customer(spark, sf)
      .filter(col("c_custkey") < 10)
      .select(col("c_custkey"),
        (col("c_mktsegment") === "AUTOMOBILE").cast("long").as("seg_automobile"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("seg_building"),
        (col("c_mktsegment") === "FURNITURE").cast("long").as("seg_furniture"),
        (col("c_mktsegment") === "HOUSEHOLD").cast("long").as("seg_household"),
        (col("c_mktsegment") === "MACHINERY").cast("long").as("seg_machinery"))
      .orderBy("c_custkey")

  /** Z-score normalization export (the third normalizer beside min-max
    * and quantile): per-flag exact moments broadcast back onto a spot
    * slice (orderkey < 20), z rounded r6. The feature-scaling pass as a
    * feature store would materialize it.
    */
  def q_zscore_export(spark: SparkSession, sf: String): DataFrame = {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag").as("flag"), cents(col("l_extendedprice")).as("pc"))
    val stats = rows.groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("pc")).as("s"),
        sum(expr("CAST(pc AS decimal(38,0)) * pc")).as("ss"))
    val nD = col("n").cast("double")
    val mean = col("s").cast("double") / nD
    val sd = sqrt((col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double") / nD) / (nD - lit(1.0)))
    rows.filter(col("l_orderkey") < 20)
      .join(broadcast(stats), "flag")
      .select(col("l_orderkey"), col("l_linenumber"), col("flag"), col("pc"),
        (round((col("pc").cast("double") - mean) / sd, 6) + lit(0.0)).as("z"))
      .orderBy("l_orderkey", "l_linenumber", "pc")
  }

  /** Subsample-stability audit: ten deterministic half-samples (md5 of
    * doc_id·10+replica, parity split) and each replicate's exact floor-
    * mean document length — if the replicate means disagree materially,
    * corpus statistics aren't stable at half the data. The poor man's
    * bootstrap, shuffle-free and reproducible on any cluster.
    */
  def q_subsample_stability(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        explode(expr("sequence(0, 9)")).as("r"))
      .filter(idHash(col("doc_id") * 10 + col("r")) % 2 === 0)
      .groupBy(col("r").cast("long").as("replica"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("replica"), col("n_docs"), col("sum_chars"),
        expr("sum_chars * 10000 div n_docs").as("mean_chars_e4"))
      .orderBy("replica")

  /** 5-fold cross-validation assignment by id hash — every row decides
    * its own fold from md5(doc_id), so folds are reproducible with no
    * shuffle or seed coordination; per (fold, lang) the doc count, char
    * mass, and the exact e4 deviation of the fold's language share from
    * the corpus share (the balance audit that validates the splitter).
    */
  def q_crossval_folds(spark: SparkSession, sf: String): DataFrame = {
    val assigned = Tables.documents(spark, sf)
      .select(col("lang"), col("n_chars"), (idHash(col("doc_id")) % 5).as("fold"))
    val cells = assigned.groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    cells
      .withColumn("fold_tot", sum(col("n_docs")).over(Window.partitionBy("fold")))
      .withColumn("lang_tot", sum(col("n_docs")).over(Window.partitionBy("lang")))
      .crossJoin(broadcast(cells.agg(sum(col("n_docs")).as("n"))))
      .select(col("fold"), col("lang"), col("n_docs"), col("sum_chars"),
        expr("n_docs * 10000 div fold_tot").as("fold_share_e4"),
        expr("lang_tot * 10000 div n").as("corpus_share_e4"))
      .orderBy("fold", "lang")
  }

  /** 2-D histogram of (quantity, unit-price) — the joint-distribution
    * grid a pricing model is eyeballed from: quantity in width-10 bins,
    * exact integer unit price cents in width-$25 bins; per cell the count
    * and revenue mass. One scan, one aggregate, cells bounded by the grid.
    */
  def q_hist2d(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("q"),
        cents(col("l_extendedprice")).as("pc"))
      .select(expr("q div 10").as("q_bin"),
        expr("(pc div (CASE WHEN q = 0 THEN 1 ELSE q END)) div 2500").as("p_bin"),
        col("pc"))
      .groupBy(col("q_bin"), col("p_bin"))
      .agg(count(lit(1)).as("n"), sum(col("pc")).as("rev_cents"))
      .orderBy("q_bin", "p_bin")

  /** Quantile (percent-rank) normalization of account balance — the
    * feature transform that maps a skewed column onto [0,1] by empirical
    * CDF. rank₀(v) = #{values < v} comes from the two-level distributed
    * prefix sum over the distinct-value lattice (bucket-keyed window +
    * bucket-prefix theta join — no partition-less window), then
    * pr_e6 = rank₀·10⁶ div (N−1) exactly. Spot-checked on custkeys < 20.
    */
  def q_quantile_normalize(spark: SparkSession, sf: String): DataFrame = {
    val scored = Tables.customer(spark, sf)
      .select(col("c_custkey"), cents(col("c_acctbal")).as("score"))
    val lat = scored.groupBy(col("score")).agg(count(lit(1)).as("ct"))
      .withColumn("bkt", expr("score div 100000"))
    val wIn = Window.partitionBy("bkt").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1L)
    val bktTot = lat.groupBy(col("bkt")).agg(sum(col("ct")).as("bt"))
    val prefix = bktTot.as("a")
      .join(bktTot.as("b"), col("b.bkt") < col("a.bkt"), "left_outer")
      .groupBy(col("a.bkt").as("bkt"))
      .agg(coalesce(sum(col("b.bt")), lit(0L)).as("pre"))
    val rank0 = lat.join(broadcast(prefix), Seq("bkt"))
      .select(col("score"),
        (col("pre") + coalesce(sum(col("ct")).over(wIn), lit(0L))).as("r0"))
    val n = scored.agg(count(lit(1)).as("n"))
    scored.filter(col("c_custkey") < 20)
      .join(rank0, Seq("score"))
      .crossJoin(broadcast(n))
      .select(col("c_custkey"), col("score"),
        expr("r0 * 1000000 div (n - 1)").as("pr_e6"))
      .orderBy("c_custkey")
  }

  /** Post-stratification estimator: the overall mean event value is
    * re-estimated from a deterministic 20% hash sample, reweighting each
    * event-type stratum by its POPULATION share (the frame is known even
    * when the sample is skewed) — next to the naive sample mean and the
    * truth, so the variance-reduction story is visible. Strata sizes come
    * from one full-table aggregate (cheap count), values only from the
    * sample — exactly the access pattern a 100 TB estimator needs.
    */
  def q_post_stratification(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("vc"))
    val pop = ev.groupBy(col("event_type")).agg(count(lit(1)).as("pn"))
    val samp = ev.filter(idHash(col("event_id")) % 5 === 0)
      .groupBy(col("event_type")).agg(count(lit(1)).as("sn"), sum(col("vc")).as("sv"))
    val strat = pop.join(samp, "event_type")
      .agg(sum(col("pn")).as("pn_tot"), sum(col("sn")).as("sn_tot"),
        sum(col("sv")).as("sv_tot"),
        sum(expr("CAST(pn AS DOUBLE) * (CAST(sv AS DOUBLE) / CAST(sn AS DOUBLE))"))
          .as("wsum"))
    val truth = ev.agg(count(lit(1)).as("tn"), sum(col("vc")).as("tv"))
    strat.crossJoin(truth)
      .select(col("sn_tot").as("n_sample"), col("tn").as("n_population"),
        (round(expr("CAST(tv AS DOUBLE) / CAST(tn AS DOUBLE)"), 4) + lit(0.0))
          .as("true_mean_cents"),
        (round(expr("CAST(sv_tot AS DOUBLE) / CAST(sn_tot AS DOUBLE)"), 4) + lit(0.0))
          .as("raw_sample_mean_cents"),
        (round(expr("wsum / CAST(pn_tot AS DOUBLE)"), 4) + lit(0.0))
          .as("poststrat_mean_cents"))
  }

  /** Cluster-sampling design effect: DEFF = 1 + (m̄−1)·ρ with the
    * within-user intraclass correlation of event values and the mean
    * cluster size — how much sampling whole users instead of events
    * inflates variance, and the effective sample size left. One grouped
    * pass, ANOVA-style ρ, fixed epilogue.
    */
  def q_design_effect(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), cents(col("value")).as("v"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("ni"), sum(col("v")).as("si"),
        sum(col("v") * col("v")).as("qi"))
    g.agg(count(lit(1)).as("k"), sum(col("ni")).as("n"), sum(col("si")).as("s"),
      sum(expr("CAST(qi AS DOUBLE)")).as("q"),
      sum(expr("CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)")).as("bsum"),
      sum(expr("CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE)")).as("nsq"))
      .select(col("k").as("n_clusters"), col("n").as("n_events"),
        expr("(bsum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)")
          .as("msb"),
        expr("(q - bsum) / CAST(n - k AS DOUBLE)").as("msw"),
        expr("(CAST(n AS DOUBLE) - nsq / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)").as("k0"),
        expr("CAST(n AS DOUBLE) / CAST(k AS DOUBLE)").as("mbar"))
      .select(col("n_clusters"), col("n_events"),
        expr("(msb - msw) / (msb + (k0 - 1.0) * msw)").as("rho"), col("mbar"))
      .select(col("n_clusters"), col("n_events"),
        (round(col("rho"), 6) + lit(0.0)).as("icc_rho"),
        (round(expr("1.0 + (mbar - 1.0) * rho"), 4) + lit(0.0)).as("deff"),
        (round(expr("CAST(n_events AS DOUBLE) / (1.0 + (mbar - 1.0) * rho)"), 2) + lit(0.0))
          .as("effective_n"))
  }

  /** Neyman (variance-optimal) allocation of a 1000-interview budget
    * across market segments ∝ N_h·S_h — big AND volatile strata get the
    * samples — with largest-remainder integerization, next to the
    * proportional allocation for contrast. Strata σ from exact cents
    * sums; the only floats are the N·S weights.
    */
  def q_neyman_allocation(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.customer(spark, sf)
      .select(col("c_mktsegment").as("segment"), graft.core.Det.cents(col("c_acctbal")).as("v"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("nh"), sum(col("v")).as("s"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("q"))
      .select(col("segment"), col("nh"),
        expr("""CAST(nh AS DOUBLE) * SQRT((CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nh AS DOUBLE))
                / CAST(nh - 1 AS DOUBLE))""").as("w"))
    val tot = g.agg(sum(col("w")).as("tw"), sum(col("nh")).as("tn"))
    val alloc = g.crossJoin(broadcast(tot))
      .select(col("segment"), col("nh"),
        // rounded to 7 decimals in BOTH engines: the exact allocation can
        // land on an integer, where summation-order ulps would flip floor()
        expr("ROUND(1000.0 * w / tw, 7)").as("exact_alloc"),
        expr("nh * 1000 div tn").as("proportional"))
      .select(col("segment"), col("nh"), col("proportional"),
        floor(col("exact_alloc")).cast("long").as("fl"),
        (col("exact_alloc") - floor(col("exact_alloc"))).as("rem"))
    val used = alloc.agg(sum(col("fl")).as("used"))
    val ranked = alloc.as("a")
      .join(alloc.select(col("segment").as("s2"), col("rem").as("r2")).as("b"),
        col("r2") > col("rem") || (col("r2") === col("rem") && col("s2") < col("segment")),
        "left_outer")
      .groupBy(col("a.segment").as("segment"), col("a.nh").as("nh"),
        col("a.proportional").as("proportional"), col("a.fl").as("fl"))
      .agg(count(col("s2")).as("rk"))
    ranked.crossJoin(broadcast(used))
      .select(col("segment"), col("nh"), col("proportional"),
        (col("fl") + when(col("rk") < lit(1000L) - col("used"), 1L).otherwise(0L))
          .as("neyman_alloc"))
      .orderBy("segment")
  }

  /** The B = 20 deterministic bootstrap resample means shared by
    * [[q_hash_bootstrap]] and [[q_bootstrap_ci]]: per-(order, b)
    * pseudo-Poisson(1) weights (lattice 0.368/0.368/0.184/0.061/0.019)
    * from ONE md5 hash per order re-randomized per resample by an affine
    * transform h·(2b+1)+40503·b (mod 2³², mod 1000) — the same
    * one-hash-K-transforms trick as the MinHash aggregate, cutting 20
    * md5 evaluations per row to 1 (the md5 was ~90% of the query's
    * runtime). Bit-identical on both engines.
    */
  private def bootstrapMeans(spark: SparkSession, sf: String): DataFrame = {
    // round 8: the former broadcast(0..19) crossJoin fanned every order
    // out 20× (30 M joined rows at sf1) into a 20-group aggregate; the
    // same exact integer sums now come from TWO element-wise
    // `graft_vec_sum` aggregates over per-order 20-long weight arrays —
    // one corpus pass, no join, no fan-out, identical Σw·x / Σw per
    // resample (order-free long addition either way)
    Mat.once(Tables.orders(spark, sf)
      .select(graft.core.Det.cents(col("o_totalprice")).as("x"),
        idHash(col("o_orderkey").cast("string")).as("h0"))
      .select(col("x"), expr(
        """transform(sequence(0L, 19L), b ->
             CASE WHEN ((h0 * (b * 2 + 1) + b * 40503) % 4294967296) % 1000 < 368 THEN 0L
                  WHEN ((h0 * (b * 2 + 1) + b * 40503) % 4294967296) % 1000 < 736 THEN 1L
                  WHEN ((h0 * (b * 2 + 1) + b * 40503) % 4294967296) % 1000 < 920 THEN 2L
                  WHEN ((h0 * (b * 2 + 1) + b * 40503) % 4294967296) % 1000 < 981 THEN 3L
                  ELSE 4L END)""").as("w"))
      .select(col("w"), expr("transform(w, v -> v * x)").as("wx"))
      .agg(graft.functions.GraftFunctions.vecSum(col("wx")).as("swx"),
        graft.functions.GraftFunctions.vecSum(col("w")).as("sw"))
      .select(posexplode(arrays_zip(col("swx"), col("sw"))).as(Seq("b", "p")))
      .select((col("p.swx").cast("double") / col("p.sw").cast("double")).as("mb")))
  }

  /** Deterministic hash-bootstrap of the mean order total over the
    * [[bootstrapMeans]] resamples; bootstrap SE = population sd of the
    * B weighted means — every resample is reproducible on both engines.
    */
  def q_hash_bootstrap(spark: SparkSession, sf: String): DataFrame = {
    val means = bootstrapMeans(spark, sf)
    means.agg(count(lit(1)).as("n_resamples"), sum(col("mb")).as("sm"),
        sum(col("mb") * col("mb")).as("smm"))
      .select(col("n_resamples"),
        (round(col("sm") / col("n_resamples").cast("double") / lit(100.0), 4)
          + lit(0.0)).as("boot_mean_dollars"),
        (round(sqrt(col("smm") / col("n_resamples").cast("double")
          - (col("sm") / col("n_resamples").cast("double"))
            * (col("sm") / col("n_resamples").cast("double"))) / lit(100.0), 4)
          + lit(0.0)).as("boot_se_dollars"))
  }

  /** Percentile bootstrap CI from the same [[bootstrapMeans]] resamples:
    * the 2nd and 19th order statistics of the B = 20 weighted means
    * (exact discrete ranks, bit-identical resample means on both engines).
    */
  def q_bootstrap_ci(spark: SparkSession, sf: String): DataFrame = {
    val means = bootstrapMeans(spark, sf)
    val ranked = means.as("a")
      .join(means.select(col("mb").as("mb2")).as("b"), col("mb2") < col("a.mb"),
        "left")
      .groupBy(col("a.mb").as("mb")).agg(count(col("mb2")).as("below"))
    val lo = ranked.filter(col("below") === 1L).agg(min(col("mb")).as("lo"))
    val hi = ranked.filter(col("below") === 18L).agg(min(col("mb")).as("hi"))
    means.agg(count(lit(1)).as("n_resamples"), sum(col("mb")).as("sm"))
      .crossJoin(lo).crossJoin(hi)
      .select(col("n_resamples"),
        (round(col("sm") / col("n_resamples").cast("double") / lit(100.0), 4)
          + lit(0.0)).as("boot_mean_dollars"),
        (round(col("lo") / lit(100.0), 4) + lit(0.0)).as("ci_lo_dollars"),
        (round(col("hi") / lit(100.0), 4) + lit(0.0)).as("ci_hi_dollars"))
  }

  /** Horvitz–Thompson total-token estimate from a deterministic
    * unequal-probability sample: strata = length bands (nw div 100,
    * clamped to 4), inclusion 1/(band+2) decided by hash32(doc_id)
    * (seedless, re-runnable), estimate = Σ nw·(band+2) over the sample.
    * Per stratum the population/sample counts, true vs HT tokens and
    * the e6 relative error — the design-based estimator a scan-budget
    * sampler reports. One scan, exact integers throughout.
    */
  def q_horvitz_thompson(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"),
        expr("CAST(size(split(lower(text), ' ')) AS BIGINT)").as("nw"))
      .select(col("doc_id"), col("nw"),
        least(expr("nw div 100"), lit(4L)).as("band"))
      .select(col("doc_id"), col("nw"), col("band"),
        (graft.core.Det.hash32(col("doc_id").cast("string"))
          % (col("band") + 2L) === 0L).as("sampled"))
    d.groupBy(col("band"))
      .agg(count(lit(1)).as("n_pop"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(col("nw")).as("true_tokens"),
        sum(when(col("sampled"), col("nw") * (col("band") + 2L)).otherwise(0L))
          .as("ht_tokens"))
      .select(col("band"), col("n_pop"), col("n_sampled"), col("true_tokens"),
        col("ht_tokens"),
        expr("(ht_tokens - true_tokens) * 1000000 div true_tokens")
          .as("err_e6"))
      .orderBy("band")
  }

  /** Bottom-k "reservoir" estimator audit: per event type the 32 events
    * with the smallest md5 hash of their id form a deterministic uniform
    * sample (the mergeable distributed equivalent of reservoir sampling —
    * bottom-k by a fixed hash commutes with partitioning, unlike the
    * classic sequential reservoir). The audit compares the sample's mean
    * value against the exact mean: per type n, k, both means (4-decimal,
    * one fixed IEEE division each) and the signed e4 relative error —
    * the number that says whether k = 32 is enough at this cardinality.
    */
  def q_reservoir_bottomk(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), col("event_id"), cents(col("value")).as("v"),
        graft.core.Det.hash32(col("event_id")).as("h"))
    val w = Window.partitionBy("event_type").orderBy(col("h").asc, col("event_id").asc)
    val samp = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 32)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"), sum(col("v")).as("sv"))
    val exact = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("tv"))
    exact.join(samp, "event_type")
      .select(col("event_type"), col("n"), col("k"),
        (round(expr("CAST(sv AS DOUBLE) / CAST(k AS DOUBLE)"), 4) + lit(0.0))
          .as("est_mean_cents"),
        (round(expr("CAST(tv AS DOUBLE) / CAST(n AS DOUBLE)"), 4) + lit(0.0))
          .as("exact_mean_cents"),
        expr("(sv * n - tv * k) * 10000 div (tv * k)").as("rel_err_e4"))
      .orderBy("event_type")
  }
  // ---- §2.179 survey statistics — Kish n_eff, raking, nonresponse ---------


  /** One raking (iterative-proportional-fitting) cycle: the customer
    * (segment × region) joint table re-weighted to hit ORDER-share
    * margins — rows scaled first, then columns, all e3 integer weights
    * with identical truncation on both engines (e3 keeps every product
    * inside BIGINT at any graded SF). Per-cell initial / after-rows /
    * after-cycle weights plus the residual row-margin error the next
    * cycle would shrink — the survey-weighting workhorse
    * (Deming-Stephan '40) as two broadcast joins over a 25-cell table.
    */
  def q_raking_step(spark: SparkSession, sf: String): DataFrame = {
    val cust = Mat.once(Tables.customer(spark, sf)
      .join(broadcast(Tables.nation(spark, sf)
        .join(broadcast(Tables.region(spark, sf)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("r_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"),
        col("r_name").as("reg")))
    val joint = Mat.once(cust.groupBy(col("seg"), col("reg"))
      .agg(count(lit(1)).as("c0")))
    val nTot = joint.agg(sum(col("c0")).as("nt"))
    val ord = Mat.once(Tables.orders(spark, sf)
      .join(cust, col("o_custkey") === col("cust"))
      .select(col("seg"), col("reg")))
    val rowTarget = ord.groupBy(col("seg")).agg(count(lit(1)).as("tr"))
    val colTarget = ord.groupBy(col("reg")).agg(count(lit(1)).as("tc"))
    val oTot = ord.agg(count(lit(1)).as("ot"))
    val w0 = joint.select(col("seg"), col("reg"),
      (col("c0") * lit(1000L)).as("w0"))
    val rowSum = w0.groupBy(col("seg")).agg(sum(col("w0")).as("rs"))
    val w1 = Mat.once(w0.join(broadcast(rowSum), "seg")
      .join(broadcast(rowTarget), "seg")
      .crossJoin(broadcast(oTot)).crossJoin(broadcast(nTot))
      .select(col("seg"), col("reg"), col("w0"),
        expr("w0 * (tr * nt * 1000 div ot) div rs").as("w1")))
    val colSum = w1.groupBy(col("reg")).agg(sum(col("w1")).as("cs"))
    val w2 = Mat.once(w1.join(broadcast(colSum), "reg")
      .join(broadcast(colTarget), "reg")
      .crossJoin(broadcast(oTot)).crossJoin(broadcast(nTot))
      .select(col("seg"), col("reg"), col("w0"), col("w1"),
        expr("w1 * (tc * nt * 1000 div ot) div cs").as("w2")))
    val rowErr = w2.join(broadcast(rowTarget), "seg")
      .crossJoin(broadcast(oTot)).crossJoin(broadcast(nTot))
      .groupBy(col("seg"), expr("tr * nt * 1000 div ot").as("row_target_e3"))
      .agg(sum(col("w2")).as("row_sum_e3"))
      .select(col("seg"),
        abs(col("row_sum_e3") - col("row_target_e3")).as("row_resid_e3"))
    w2.join(broadcast(rowErr), "seg")
      .select(col("seg").as("c_mktsegment"), col("reg").as("r_name"),
        expr("w0 div 1000").as("n_customers"),
        col("w1").as("w_after_rows_e3"),
        col("w2").as("w_after_cycle_e3"),
        col("row_resid_e3"))
      .orderBy("c_mktsegment", "r_name")
  }

  /** Nonresponse-bias audit: "respondents" are customers with ≥1 order;
    * per segment the response rate e4, respondent vs full-frame mean
    * balance (exact shifted cents), and the absolute bias — plus the
    * R-indicator ingredient, the between-segment variance of response
    * propensities (e8, exact integer sums). The table a survey
    * methodologist reads before trusting any respondent-only mean.
    */
  def q_nonresponse_bias(spark: SparkSession, sf: String): DataFrame = {
    val resp = Tables.orders(spark, sf).select(col("o_custkey").as("cust"))
      .distinct()
    val c = Tables.customer(spark, sf)
      .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"),
        expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000").as("y"))
      .join(resp.withColumn("r", lit(1L)), Seq("cust"), "left_outer")
      .select(col("seg"), col("y"), coalesce(col("r"), lit(0L)).as("r"))
    c.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_frame"), sum(col("r")).as("n_resp"),
        sum(col("y")).as("sy"), sum(col("r") * col("y")).as("sry"))
      .select(col("seg").as("c_mktsegment"), col("n_frame"), col("n_resp"),
        expr("n_resp * 10000 div n_frame").as("response_rate_e4"),
        expr("sy div n_frame - 100000").as("frame_mean_cents"),
        expr("sry div greatest(1, n_resp) - 100000").as("resp_mean_cents"))
      .select(col("c_mktsegment"), col("n_frame"), col("n_resp"),
        col("response_rate_e4"), col("frame_mean_cents"),
        col("resp_mean_cents"),
        abs(col("resp_mean_cents") - col("frame_mean_cents")).as("abs_bias_cents"))
      .orderBy("c_mktsegment")
  }

  /** Kish effective sample size under unequal weights (customer order
    * counts as weights): n_eff = (Σw)²/Σw² and the weighting design
    * effect n·Σw²/(Σw)² — both exact-integer ratios rendered e2/e4.
    * The first number a survey statistician asks of any weighted
    * sample.
    */
  def q_kish_neff(spark: SparkSession, sf: String): DataFrame = {
    val w = Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("w"))
    w.agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
        sum(col("w") * col("w")).as("sw2"))
      .select(col("n").as("n_customers"), col("sw").as("sum_w"),
        col("sw2").as("sum_w2"),
        expr("sw * sw * 100 div sw2").as("n_eff_e2"),
        expr("n * sw2 * 10000 div (sw * sw)").as("deff_weighting_e4"))
  }
}
