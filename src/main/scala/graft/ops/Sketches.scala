package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Mat, Tables}
import graft.core.Det.hash32

/** Probabilistic-sketch operators (SURVEY.md §2.20), each built ONLY from
  * the shared [[graft.core.Det.hash32]] primitive so the sketch contents —
  * not just their accuracy — are bit-identical on Spark and the DuckDB
  * oracle. That turns normally "approximate" structures into exact
  * hash-comparable queries: the estimate is deterministic given the hash.
  *
  * Scale notes: every sketch here is an algebraic aggregate (map-side
  * partial merge, one small reduce), which is the whole point of sketches
  * at 100 TB — the shuffled state is the sketch (≤ KBs), never the data.
  */
object Sketches {

  /** Deterministic mergeable quantile sketch (log-scaled histogram, the
    * t-digest/KLL role): every value lands in a pure-integer bin —
    * (bit-length · 8) + the 3 bits after the leading one, i.e. 8 sub-bins
    * per octave, ≤ 3.1% relative width — and p50/p90/p99 are read back by
    * rank walk + linear interpolation inside the owning bin. The exact
    * interpolating percentile runs alongside for the observed error. The
    * sketch is an algebraic aggregate (bin → count/min/max merges by
    * min/max/sum), so at 100 TB the shuffled state is ~200 bins, never
    * the data — and sketches from different partitions/days merge
    * losslessly. All bin math is exact integers (`length(bin(x))` is the
    * proven cross-engine bit-length); the rank walk is a bounded
    * theta-join over the tiny bin table, not a global window.
    */
  def q_quantile_sketch(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.cents
    val v = Tables.orders(spark, sf).select(cents(col("o_totalprice")).as("c"))
    val binned = v
      .select(col("c"), expr("CAST(length(bin(c)) AS BIGINT)").as("blen"))
      .select(col("c"),
        expr("blen * 8 + CASE WHEN blen >= 4" +
          " THEN (c div CAST(pow(2, blen - 4) AS BIGINT)) % 8 ELSE 0 END").as("bin_id"))
    val sk = binned.groupBy(col("bin_id"))
      .agg(count(lit(1)).as("cnt"), min(col("c")).as("bmin"), max(col("c")).as("bmax"))
    val cum = sk.as("a")
      .join(sk.as("b"), col("b.bin_id") < col("a.bin_id"), "left_outer")
      .groupBy(col("a.bin_id").as("bin_id"), col("a.cnt").as("cnt"),
        col("a.bmin").as("bmin"), col("a.bmax").as("bmax"))
      .agg(coalesce(sum(col("b.cnt")), lit(0L)).as("cb"))
    val n = v.agg(count(lit(1)).as("n"))
    val exact = v.agg(percentile(col("c"),
      array(lit(0.5), lit(0.9), lit(0.99))).as("exq"))
    val targets = spark.range(1).select(explode(array(
      struct(lit(50L).as("q"), lit(1).as("qi")),
      struct(lit(90L).as("q"), lit(2).as("qi")),
      struct(lit(99L).as("q"), lit(3).as("qi")))).as("t"))
      .select(col("t.q").as("q"), col("t.qi").as("qi"))
    val rk = targets.crossJoin(broadcast(n))
      .select(col("q"), col("qi"), col("n"),
        greatest(lit(1L), expr("(n * q) div 100")).as("rk"))
    rk.join(broadcast(cum), col("cb") < col("rk") && col("rk") <= col("cb") + col("cnt"))
      .crossJoin(broadcast(exact))
      .select(col("q"), col("n"),
        expr("bmin + (bmax - bmin) * (rk - cb - 1) div cnt").as("est_cents"),
        element_at(col("exq"), col("qi")).as("ex"))
      .select(col("q"), col("n"), col("est_cents"),
        (round(col("ex"), 4) + lit(0.0)).as("exact_cents"),
        round(abs(col("est_cents").cast("double") - col("ex")) / col("ex") * lit(1e4))
          .cast("long").as("rel_err_e4"))
      .orderBy("q")
  }

  /** Deterministic HyperLogLog (p=8 → 256 buckets, 24-bit rank words)
    * cardinality estimates for lineitem part and supplier keys, next to
    * the exact COUNT(DISTINCT) for comparison. The harmonic-mean sum
    * Σ2^(−M_j) is carried ×2^25 as an EXACT integer (`s_scaled`) so
    * summation order cannot drift; the only floats are one fixed epilogue
    * expression and the standard small-range ln() correction, identical
    * trees on both engines.
    */
  def q_hll_estimate(spark: SparkSession, sf: String): DataFrame = {
    val li = Tables.lineitem(spark, sf)
    def side(c: String, name: String): DataFrame = {
      val buckets = li
        .select(hash32(col(c)).as("h"))
        .select(expr("h div 16777216").as("idx"), (col("h") % 16777216).as("w24"))
        .select(col("idx"),
          when(col("w24") === 0, lit(25))
            .otherwise(lit(25) - length(bin(col("w24")))).as("rank"))
        .groupBy("idx").agg(max(col("rank")).as("m"))
      val agg = buckets.agg(
        count(lit(1)).as("nb"),
        sum(expr("CAST(pow(2, 25 - m) AS BIGINT)")).as("ss"))
      val truth = li.agg(countDistinct(col(c)).as("n_true"))
      agg.crossJoin(truth)
        .select(
          lit(name).as("col_name"), col("n_true"),
          (lit(256) - col("nb")).cast("long").as("v_zero"),
          (col("ss") + (lit(256) - col("nb")) * lit(33554432L)).as("s_scaled"))
        .select(col("col_name"), col("n_true"), col("v_zero"), col("s_scaled"),
          expr(
            """ROUND(CASE
                 WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 33554432.0
                      / CAST(s_scaled AS DOUBLE) <= 640.0 AND v_zero > 0
                 THEN 256.0 * ln(256.0 / CAST(v_zero AS DOUBLE))
                 ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 33554432.0
                      / CAST(s_scaled AS DOUBLE)
               END, 2) + 0.0""").as("est_r2"))
    }
    side("l_partkey", "partkey").unionAll(side("l_suppkey", "suppkey"))
      .orderBy("col_name")
  }

  /** Count-min sketch (d=4 rows × w=64 buckets) over the document token
    * stream: per-token CMS estimate (min over the 4 hashed cells) next to
    * the true count. Estimates over-count by construction (`cms_c ≥
    * true_c` — the spec asserts it); with the fixed hash both engines
    * build byte-identical sketches. The sketch build is one groupBy of
    * 4·64 cells regardless of corpus size.
    */
  def q_cms_topk(spark: SparkSession, sf: String): DataFrame = {
    val tc = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("true_c"))
    val hashed = tc
      .select(col("term"), col("true_c"), explode(expr("sequence(0, 3)")).as("i"))
      .withColumn("b",
        hash32(concat(col("i").cast("string"), lit("|"), col("term"))) % 64)
    val sketch = hashed.groupBy("i", "b").agg(sum(col("true_c")).as("cell"))
    hashed.join(sketch, Seq("i", "b"))
      .groupBy("term")
      .agg(max(col("true_c")).as("true_c"), min(col("cell")).as("cms_c"))
      .orderBy("term")
  }

  /** Bloom-filter membership (k=3 hashes, m=4096 bits) of "customer has at
    * least one order": the filter is built from the distinct order custkeys
    * and probed with every customer; output is the 2×2 confusion summary.
    * False negatives are impossible (the spec asserts the FN cell is
    * empty); false positives are whatever the fixed hash produces —
    * identically on both engines. At scale this is THE pattern for
    * semi-join pushdown: ship the KB-sized bit set, not the key set.
    */
  def q_bloom_filter(spark: SparkSession, sf: String): DataFrame = {
    def bits(df: DataFrame, key: String): DataFrame =
      df.select(col(key).as("k"), explode(expr("sequence(0, 2)")).as("i"))
        .select(col("k"), col("i"),
          (hash32(concat(col("i").cast("string"), lit("|"), col("k").cast("string"))) % 4096)
            .as("bit"))
    val filterBits = bits(Tables.orders(spark, sf).select("o_custkey").distinct(), "o_custkey")
      .select("bit").distinct().withColumn("hit", lit(1))
    val present = Tables.orders(spark, sf).select(col("o_custkey").as("k")).distinct()
      .withColumn("present", lit(1))
    val probes = bits(Tables.customer(spark, sf), "c_custkey")
      .join(filterBits, Seq("bit"), "left_outer")
      .groupBy("k").agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
      .join(present, Seq("k"), "left_outer")
    probes
      .select(
        coalesce(col("present"), lit(0)).cast("long").as("actually_present"),
        when(col("hits") === 3, 1L).otherwise(0L).as("bloom_positive"))
      .groupBy("actually_present", "bloom_positive")
      .agg(count(lit(1)).as("n"))
      .orderBy("actually_present", "bloom_positive")
  }

  /** AMS (Alon-Matias-Szegedy) second-moment sketch over the token
    * stream: 8 independent ±1 hash signs, estimator e = (Σ count·sign)².
    * F2 = Σc² is the self-join size / collision mass of the stream; the
    * sketch needs 8 longs of state where the exact answer needs the whole
    * frequency vector. Both ride along here as exact integers (products
    * in decimal — c² passes 2⁶³ on a fleet-scale corpus), so the query
    * hash-matches while still demonstrating the sketch's accuracy.
    */
  def q_ams_f2(spark: SparkSession, sf: String): DataFrame = {
    val tc = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val est = tc
      .select(col("word"), col("c"), explode(expr("sequence(0, 7)")).as("est_id"))
      .select(col("est_id"), col("c"),
        (lit(1L) - lit(2L) * (hash32(concat(col("word"), lit("|"), col("est_id"))) % 2))
          .as("sign"))
      .groupBy(col("est_id"))
      .agg(sum(col("c") * col("sign")).as("s"))
      .select(col("est_id").cast("long").as("est_id"), col("s"),
        (col("s").cast("decimal(38,0)") * col("s")).cast("long").as("f2_est"))
    val exact = tc.agg(
      sum(col("c").cast("decimal(38,0)") * col("c")).cast("long").as("f2_exact"))
    est.crossJoin(broadcast(exact)).orderBy("est_id")
  }

  /** KMV (k-minimum-values) distinct-count sketch: hash every distinct
    * key, keep the 64 smallest hashes (a distributed top-k — the sketch
    * state is 64 longs at any cardinality), estimate
    * D ≈ (k−1)·2³²/h₍ₖ₎ from the k-th minimum, reported beside the exact
    * distinct count for the two lineitem key columns. Integer division
    * keeps it hash-exact cross-engine.
    */
  def q_kmv_distinct(spark: SparkSession, sf: String): DataFrame = {
    def side(keyCol: String): DataFrame = {
      val keys = Tables.lineitem(spark, sf).select(col(keyCol).as("k")).distinct()
      val mins = keys.select(hash32(col("k")).as("h")).orderBy(col("h").asc).limit(64)
      val sk = mins.agg(max(col("h")).as("h_k"), count(lit(1)).as("k_size"))
      val exact = keys.agg(count(lit(1)).as("exact_distinct"))
      sk.crossJoin(exact).select(lit(keyCol).as("column_name"), col("k_size"),
        col("h_k"), expr("(k_size - 1) * 4294967296 div h_k").as("kmv_estimate"),
        col("exact_distinct"))
    }
    side("l_partkey").unionAll(side("l_suppkey")).orderBy("column_name")
  }

  /** KMV sketch SET ALGEBRA: the union of two KMV sketches is the k
    * smallest of the merged hash sets (sketches are mergeable — the whole
    * reason they exist), and the intersection estimate falls out by
    * inclusion-exclusion. Estimates sit next to the exact counts so the
    * error is visible; everything is BIGINT arithmetic on the shared
    * [[graft.core.Det.hash32]], so the "approximate" structure is
    * hash-exact cross-engine. On a cluster each sketch is a 64-value
    * partial aggregate — audience-overlap at 100 TB without a distinct.
    */
  def q_kmv_setops(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
    def users(t: String): DataFrame =
      ev.filter(col("event_type") === t).select(col("user_id").as("k")).distinct()
    def est(keys: DataFrame, name: String): DataFrame =
      keys.select(hash32(col("k")).as("h")).orderBy(col("h").asc).limit(64)
        .agg(max(col("h")).as("hk"), count(lit(1)).as("ksz"))
        .select(expr("(ksz - 1) * 4294967296 div hk").as(s"est_$name"))
    val a = users("view")
    val b = users("click")
    val exact = a.agg(count(lit(1)).as("exact_view"))
      .crossJoin(b.agg(count(lit(1)).as("exact_click")))
      .crossJoin(a.join(b, "k").agg(count(lit(1)).as("exact_overlap")))
    est(a, "view").crossJoin(est(b, "click"))
      .crossJoin(est(a.unionByName(b).distinct(), "union"))
      .crossJoin(exact)
      .select(lit(64L).as("k"), col("est_view"), col("exact_view"),
        col("est_click"), col("exact_click"), col("est_union"),
        (col("exact_view") + col("exact_click") - col("exact_overlap")).as("exact_union"),
        (col("est_view") + col("est_click") - col("est_union")).as("est_overlap"),
        col("exact_overlap"))
  }

  /** Bloom-filter join prefilter accounting: a k=3/m=16384 Bloom of the
    * high-value order keys (total > $400k) is probed by every lineitem;
    * the report compares Bloom passes against the exact semi-join — the
    * false-positive rate IS the wasted shuffle a runtime-filter join
    * avoids shipping. Build side is a tiny bit-set aggregate; the probe
    * is a 3-bit broadcast lookup per row, no shuffle of the fact table.
    */
  def q_bloom_join_prefilter(spark: SparkSession, sf: String): DataFrame = {
    val hot = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey").as("k"))
    val ks = Tables.lineitem(spark, sf).select(col("l_orderkey").as("k"))
    def bits(keys: DataFrame): DataFrame =
      keys.crossJoin(spark.range(3).select(col("id").as("i")))
        .select((hash32(concat(col("i").cast("string"), lit("|"), col("k").cast("string")))
          % 16384).as("b"))
        .distinct()
    val bloom = Mat.once(bits(hot))
    // membership decided once per DISTINCT key (3 bit probes each), then
    // row counts come from a semi join back to the fact rows
    val probed = ks.distinct()
      .crossJoin(spark.range(3).select(col("id").as("i")))
      .select(col("k"),
        (hash32(concat(col("i").cast("string"), lit("|"), col("k").cast("string")))
          % 16384).as("b"))
      .join(bloom, Seq("b"), "left_semi")
      .groupBy(col("k")).agg(count(lit(1)).as("nb"))
      .filter(col("nb") === 3L)
      .select(col("k"))
    val passCount = ks.join(probed, Seq("k"), "left_semi").agg(count(lit(1)).as("n_pass"))
    val trueMatch = ks.join(hot, Seq("k"), "left_semi").agg(count(lit(1)).as("n_true"))
    val totals = ks.agg(count(lit(1)).as("n_lineitem"))
    val built = hot.agg(count(lit(1)).as("n_hot_orders"))
    totals.crossJoin(built).crossJoin(passCount).crossJoin(trueMatch)
      .select(col("n_lineitem"), col("n_hot_orders"), col("n_pass"), col("n_true"),
        (col("n_pass") - col("n_true")).as("false_positives"),
        expr("(n_pass - n_true) * 1000000 div n_lineitem").as("fp_rate_e6"),
        expr("n_true * 1000000 div n_lineitem").as("selectivity_e6"))
  }

  /** Bloom-filter sizing calculator from live cardinality: for target
    * false-positive rates 1% and 0.1%, the optimal bit count
    * m = −n·ln p/(ln 2)², hash count k = (m/n)·ln 2, and bits/element —
    * the capacity-planning arithmetic behind every runtime-filter
    * config, driven by the EXACT measured key count. ln constants are
    * literals.
    */
  def q_bloom_sizing(spark: SparkSession, sf: String): DataFrame = {
    val n = Tables.lineitem(spark, sf)
      .select(col("l_orderkey")).distinct().agg(count(lit(1)).as("n"))
    val targets = Tables.lineitem(spark, sf).sparkSession.range(0, 2)
      .select(when(col("id") === 0, 4.605170185988091).otherwise(6.907755278982137)
        .as("neg_ln_p"),
        when(col("id") === 0, "0.01").otherwise("0.001").as("target_fp"))
    n.crossJoin(broadcast(targets))
      .select(col("target_fp"), col("n").as("n_keys"),
        ceil(expr("CAST(n AS DOUBLE) * neg_ln_p / 0.4804530139182014")).cast("long")
          .as("m_bits"),
        expr("CAST(ROUND(neg_ln_p / 0.6931471805599453) AS BIGINT)").as("k_hashes"),
        (round(expr("neg_ln_p / 0.4804530139182014"), 4) + lit(0.0)).as("bits_per_key"))
      .orderBy("target_fp")
  }

  /** Linear counting (Whang et al.): per event type the m=1024-bit
    * bitmap of md5 user buckets, estimate −m·ln(V/m) from the EXACT
    * empty-bucket fraction vs the exact distinct count. The bitmap is
    * just `countDistinct(bucket)` — fully mergeable (bitwise OR), the
    * small-cardinality companion to HLL with error ~√m/m. All integer
    * until the one ln.
    */
  def q_linear_counting(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), col("user_id"),
        pmod(hash32(col("user_id")), lit(1024L)).as("bk"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        countDistinct(col("bk")).as("n_hit"))
      .select(col("event_type"), lit(1024L).as("m"), col("n_exact"), col("n_hit"),
        // a full bitmap saturates LC (ln 0): report -1/0, the "switch to
        // HLL" signal every LC deployment carries
        when(col("n_hit") >= 1024L, lit(-1L))
          .otherwise(expr(
            """CAST(ROUND(-1024.0 * ln(CAST(1024 - n_hit AS DOUBLE) / 1024.0))
               AS BIGINT)""")).as("est"),
        when(col("n_hit") >= 1024L, lit(0L))
          .otherwise(expr(
            """(CAST(ROUND(-1024.0 * ln(CAST(1024 - n_hit AS DOUBLE) / 1024.0))
                AS BIGINT) - n_exact) * 10000 div n_exact""")).as("err_e4"))
      .orderBy("event_type")

  /** Flajolet-Martin ρ-max sketch per event type: ρ = trailing zeros of
    * the shared md5 hash (h & −h is the lowest set bit — log2 of an
    * exact power, no loops), estimate 2^ρmax/0.77351 vs exact distinct
    * users. THE original 1985 probabilistic-counting paper as one
    * max-aggregate; the single-sketch variance is the documented
    * weakness the PCSA/HLL successors average away.
    */
  def q_fm_sketch(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), col("user_id"), hash32(col("user_id")).as("h"))
      .select(col("event_type"), col("user_id"),
        when(col("h") === 0L, 32L)
          .otherwise(expr("CAST(ROUND(LOG2(CAST(h & -h AS DOUBLE))) AS BIGINT)"))
          .as("rho"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"), max(col("rho")).as("max_rho"))
      .select(col("event_type"), col("n_exact"), col("max_rho"),
        expr("CAST(ROUND(POW(2.0, CAST(max_rho AS DOUBLE)) / 0.77351) AS BIGINT)")
          .as("est"))
      .orderBy("event_type")

  /** PCSA (stochastic averaging — the FM→HLL missing link) per event
    * type: 64 buckets by the low hash bits, per-bucket ρ-max of the
    * remaining bits, estimate (m/0.77351)·2^(Σρ/m). The Σρ is an exact
    * BIGINT so the arithmetic-mean exponent is one fixed tree —
    * averaging over buckets is exactly what cuts single-FM's ±1-octave
    * variance to ~10%.
    */
  def q_pcsa(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), col("user_id"), hash32(col("user_id")).as("h"))
      .select(col("event_type"), col("user_id"),
        pmod(col("h"), lit(64L)).as("bk"), expr("h div 64").as("w"))
      .select(col("event_type"), col("user_id"), col("bk"),
        when(col("w") === 0L, 26L)
          .otherwise(expr("CAST(ROUND(LOG2(CAST(w & -w AS DOUBLE))) AS BIGINT)"))
          .as("rho"))
      .groupBy(col("event_type"), col("bk"))
      .agg(countDistinct(col("user_id")).as("nd"), max(col("rho")).as("m"))
      .groupBy(col("event_type"))
      .agg(sum(col("nd")).as("n_exact"), count(lit(1)).as("n_buckets"),
        sum(col("m")).as("sum_rho"))
      .select(col("event_type"), col("n_exact"), col("n_buckets"), col("sum_rho"),
        expr("""CAST(ROUND(64.0 / 0.77351
                * POW(2.0, CAST(sum_rho AS DOUBLE) / 64.0)) AS BIGINT)""").as("est"))
      .orderBy("event_type")

  // ---- §2.161 frequency sketches — count-min, space-saving, lossy counting ----

  /** Count-min sketch (Cormode-Muthukrishnan '05), d=4 rows × w=256
    * buckets over part-key frequencies in lineitem: the sketch is an
    * algebraic aggregate on the shared md5 hash (bit-identical on both
    * engines), the point estimate is min over rows of the hashed bucket
    * sums, always an overcount; the top-10 true keys are audited against
    * the e·N/w error bound. The 1024-row sketch broadcasts to the probe.
    */
  def q_count_min_sketch(spark: SparkSession, sf: String): DataFrame = {
    val pk = Mat.once(Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey").as("pk")).agg(count(lit(1)).as("c")))
    val n = pk.agg(sum(col("c")).as("nn"))
    def bucket = (hash32(concat(lit("cms"), col("j"), lit(":"), col("pk")))
      % 256L).as("b")
    val sketch = pk
      .select(col("pk"), col("c"), explode(array(lit(0), lit(1), lit(2), lit(3)))
        .as("j"))
      .select(col("j"), bucket, col("c"))
      .groupBy(col("j"), col("b")).agg(sum(col("c")).as("bsum"))
    val top = pk.orderBy(col("c").desc, col("pk").asc).limit(10)
    top
      .select(col("pk"), col("c"), explode(array(lit(0), lit(1), lit(2), lit(3)))
        .as("j"))
      .select(col("pk"), col("c"), col("j"), bucket)
      .join(broadcast(sketch), Seq("j", "b"))
      .groupBy(col("pk"), col("c")).agg(min(col("bsum")).as("cms_est"))
      .crossJoin(broadcast(n))
      .select(col("pk").as("l_partkey"), col("c").as("true_cnt"),
        col("cms_est"), (col("cms_est") - col("c")).as("overcount"),
        expr("2718282 * nn div 256000000 + 1").as("bound_en_w"))
      .select(col("l_partkey"), col("true_cnt"), col("cms_est"),
        col("overcount"), col("bound_en_w"),
        when(col("overcount") <= col("bound_en_w"), 1L).otherwise(0L)
          .as("within_bound"))
      .orderBy(col("true_cnt").desc, col("l_partkey").asc)
  }

  /** Space-saving guarantee bands (Metwally et al. ICDT'05) for brand
    * frequencies at k ∈ {10, 25, 50} counters: any item with f·k > N is
    * GUARANTEED to sit in every k-counter summary, and no estimate errs
    * by more than N div k. The per-k row reports both plus the mass the
    * guaranteed set covers — all integer comparisons, no float ever.
    */
  def q_spacesaving_guarantee(spark: SparkSession, sf: String): DataFrame = {
    val f = Mat.once(Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("c")))
    val n = f.agg(sum(col("c")).as("nn"), count(lit(1)).as("n_items"))
    f.crossJoin(broadcast(n))
      .select(col("p_brand"), col("c"), col("nn"), col("n_items"),
        explode(array(lit(10L), lit(25L), lit(50L))).as("k"))
      .groupBy(col("k"))
      .agg(max(col("nn")).as("nn"), max(col("n_items")).as("n_items"),
        sum(when(col("c") * col("k") > col("nn"), 1L).otherwise(0L))
          .as("n_guaranteed"),
        sum(when(col("c") * col("k") > col("nn"), col("c")).otherwise(0L))
          .as("guaranteed_mass"))
      .select(col("k"), col("n_items"), expr("nn div k").as("err_bound"),
        col("n_guaranteed"),
        expr("guaranteed_mass * 10000 div nn").as("guaranteed_share_e4"))
      .orderBy("k")
  }

  /** Lossy-counting guarantee bands (Manku-Motwani VLDB'02) for brand
    * frequencies at support s = m/250 (m ∈ {8,10,12} straddling the
    * uniform share), ε = s/10: items with f ≥ sN are guaranteed OUTPUT,
    * items with f < (s−ε)N are guaranteed DROPPED, the rest is the
    * synopsis-dependent maybe zone; bucket width ⌈1/ε⌉ is the memory
    * witness. Pure integer threshold algebra on exact counts.
    */
  def q_lossy_counting_bands(spark: SparkSession, sf: String): DataFrame = {
    val f = Mat.once(Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("c")))
    val n = f.agg(sum(col("c")).as("nn"))
    f.crossJoin(broadcast(n))
      .select(col("c"), col("nn"),
        explode(array(lit(8L), lit(10L), lit(12L))).as("m"))
      .groupBy(col("m"))
      .agg(max(col("nn")).as("nn"),
        sum(when(col("c") * 250L >= col("m") * col("nn"), 1L).otherwise(0L))
          .as("n_guaranteed_in"),
        sum(when(col("c") * 2500L < col("m") * 9L * col("nn"), 1L)
          .otherwise(0L)).as("n_guaranteed_out"),
        count(lit(1)).as("n_items"))
      .select(col("m"), (col("m") * 40L).as("support_e4"),
        expr("(2500 + m - 1) div m").as("bucket_width"),
        col("n_guaranteed_in"),
        (col("n_items") - col("n_guaranteed_in") - col("n_guaranteed_out"))
          .as("n_maybe"),
        col("n_guaranteed_out"))
      .orderBy("m")
  }
  // ---- §2.169 population estimation — German tank, coupon, birthday -------

  /** German-tank estimation of the maximum order serial from a 2%
    * deterministic hash sample: the UMVU m + m/k − 1, the
    * method-of-moments 2·mean − 1, and the plain MLE m, each against
    * the true maximum with e4 relative error — the serial-number
    * population estimator as three one-aggregate rows. Sampling is the
    * shared md5 hash, so the sample (and thus every estimate) is
    * bit-identical cross-engine and stable under re-partitioning.
    */
  def q_german_tank(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val all = Tables.orders(spark, sf).select(col("o_orderkey").as("k"))
    val truth = all.agg(max(col("k")).as("true_max"))
    val s = all.filter(hash32(concat(lit("gt:"), col("k"))) % 100L < 2L)
      .agg(count(lit(1)).as("n"), max(col("k")).as("m"), sum(col("k")).as("sk"))
    s.crossJoin(broadcast(truth))
      .select(explode(array(
        struct(lit("umvu_max_gap").as("estimator"),
          expr("m + m div n - 1").as("estimate")),
        struct(lit("moments_2mean").as("estimator"),
          expr("2 * (sk div n) - 1").as("estimate")),
        struct(lit("mle_max").as("estimator"), col("m").as("estimate"))))
        .as("e"), col("n").as("sample_n"), col("true_max"))
      .select(col("e.estimator").as("estimator"), col("sample_n"),
        col("e.estimate").as("estimate"), col("true_max"),
        expr("abs(e.estimate - true_max) * 10000 div true_max").as("err_e4"))
      .orderBy("estimator")
  }

  /** Coupon-collector audit on the event-type alphabet: the exact draw
    * count until every type has been seen (completion point = the
    * lexicographically-last first occurrence, derived with two-step
    * min/max on (ns, id) — no global window, no struct aggregates) vs
    * the k·H_k expectation (e6 harmonic with per-term truncation, terms
    * indexed by the type rank so no sequence generator is needed).
    */
  def q_coupon_collector(spark: SparkSession, sf: String): DataFrame = {
    val ev = Mat.once(Tables.eventsWithTs(spark, sf)
      .select(col("event_type").as("t"), col("ts_nsl").as("ns"),
        col("event_id").as("id")))
    val firstTs = ev.groupBy(col("t")).agg(min(col("ns")).as("fns"))
      .select(col("t").as("ft"), col("fns"))
    val firsts = ev.join(firstTs,
        col("t") === col("ft") && col("ns") === col("fns"))
      .groupBy(col("ft"), col("fns")).agg(min(col("id")).as("fid"))
    val mxTs = firsts.agg(max(col("fns")).as("cns"))
    val comp = firsts.crossJoin(broadcast(mxTs))
      .filter(col("fns") === col("cns"))
      .agg(max(col("fns")).as("cns"), max(col("fid")).as("cid"))
    val draws = ev.crossJoin(broadcast(comp))
      .agg(sum(when(col("ns") < col("cns") ||
        (col("ns") === col("cns") && col("id") <= col("cid")), 1L)
        .otherwise(0L)).as("draws_to_complete"),
        count(lit(1)).as("n_events"))
    val types = firstTs.select(col("ft"))
    val ranked = types.join(broadcast(types.select(col("ft").as("b_t"))),
        col("b_t") < col("ft"), "left_outer")
      .groupBy(col("ft")).agg((count(col("b_t")) + 1L).as("i"))
    val harm = ranked.agg(count(lit(1)).as("k_types"),
      sum(expr("1000000 div i")).as("h_e6"))
    draws.crossJoin(broadcast(harm))
      .select(col("k_types"), col("n_events"), col("draws_to_complete"),
        (col("k_types") * col("h_e6")).as("expected_draws_e6"))
      .select(col("k_types"), col("n_events"), col("draws_to_complete"),
        col("expected_draws_e6"),
        expr("draws_to_complete * 10000000000 div expected_draws_e6")
          .as("actual_over_expected_e4"))
  }

  /** Birthday-collision audit: part keys into 4096 shared-md5 buckets —
    * the exact colliding-pair count Σc(c−1)/2 vs the pairwise
    * expectation n(n−1)/2m (exact integer), and occupied buckets vs
    * m(1−((m−1)/m)ⁿ) (one EXP∘LN tree, e2) — the load-factor rule of
    * thumb for hash sizing, measured. Two hash aggregates.
    */
  def q_birthday_collisions(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val b = Tables.part(spark, sf)
      .select((hash32(concat(lit("bd:"), col("p_partkey"))) % 4096L).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    b.agg(sum(col("c")).as("n"), count(lit(1)).as("occupied"),
        sum(expr("c * (c - 1) div 2")).as("actual_pairs"))
      .select(col("n").as("n_keys"), lit(4096L).as("m_buckets"),
        col("actual_pairs"),
        expr("n * (n - 1) div 8192").as("expected_pairs"),
        col("occupied").as("actual_occupied"),
        expr("""CAST(ROUND(CAST(4096 AS DOUBLE) * (CAST(1 AS DOUBLE)
               - EXP(CAST(n AS DOUBLE) * LN(CAST(4095 AS DOUBLE)
               / CAST(4096 AS DOUBLE)))) * 100) AS BIGINT)""")
          .as("expected_occupied_e2"))
  }
  // ---- §2.177 hashing theory — universal, Fibonacci, prime modulus --------

  /** Carter-Wegman universal hashing audit: four fixed (a, b) pairs of
    * h(x) = ((a·x + b) mod p) mod 1024 (p = 1e9+7) over order keys —
    * exact colliding-pair counts vs the n(n−1)/2m universality bound,
    * e4 ratio per pair. The bound holds in expectation over (a, b);
    * four concrete draws show the spread around it. Pure integer
    * arithmetic, one aggregate per pair via a 4-row lattice.
    */
  def q_universal_hash_audit(spark: SparkSession, sf: String): DataFrame = {
    val ab = Seq((1L, 123456789L, 98765431L), (2L, 679034479L, 4297L),
      (3L, 87178291L, 999999937L), (4L, 512927357L, 31337L))
    val lat = ab.map { case (i, a, b) =>
      struct(lit(i).as("pair_id"), lit(a).as("a"), lit(b).as("b")) }
    val buckets = Tables.orders(spark, sf).select(col("o_orderkey").as("x"))
      .select(col("x"), explode(array(lat: _*)).as("p"))
      .select(col("p.pair_id").as("pair_id"), col("p.a").as("a"),
        col("p.b").as("b"),
        expr("((p.a * x + p.b) % 1000000007) % 1024").as("bkt"))
      .groupBy(col("pair_id"), col("a"), col("b"), col("bkt"))
      .agg(count(lit(1)).as("c"))
    buckets.groupBy(col("pair_id"), col("a"), col("b"))
      .agg(sum(col("c")).as("n"), sum(expr("c * (c - 1) div 2")).as("collisions"))
      .select(col("pair_id"), col("a"), col("b"), col("n"), col("collisions"),
        expr("n * (n - 1) div 2048").as("expected_pairs"))
      .select(col("pair_id"), col("a"), col("b"), col("n"), col("collisions"),
        col("expected_pairs"),
        expr("collisions * 10000 div greatest(1, expected_pairs)")
          .as("ratio_e4"))
      .orderBy("pair_id")
  }

  /** Fibonacci (multiplicative) hashing vs plain modulo on the SAME
    * structured key population: h = (x·2654435769 mod 2³²) ≫ 22 against
    * x mod 1024 — the golden-ratio multiplier scrambles key structure
    * that a power-of-two modulus passes straight through. Exact
    * occupied/max-load/collision numbers per scheme; Knuth §6.4 as a
    * two-row table.
    */
  def q_fibonacci_hashing(spark: SparkSession, sf: String): DataFrame = {
    val keys = Mat.once(Tables.orders(spark, sf).select(col("o_orderkey").as("x")))
    def audit(name: String, bkt: Column): DataFrame =
      keys.select(bkt.as("b")).groupBy(col("b")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("occupied"),
          max(col("c")).as("max_load"),
          sum(expr("c * (c - 1) div 2")).as("collisions"))
        .select(lit(name).as("scheme"), col("n"), col("occupied"),
          col("max_load"), col("collisions"))
    audit("fibonacci", expr("((x * 2654435769) % 4294967296) div 4194304"))
      .unionByName(audit("plain_mod", expr("x % 1024")))
      .select(col("scheme"), col("n"), col("occupied"), col("max_load"),
        col("collisions"),
        expr("max_load * 1024 * 10000 div n").as("max_load_over_ideal_e4"))
      .orderBy("scheme")
  }

  /** Prime-vs-power-of-two modulus bias on structured keys: x mod 64
    * against x mod 61 — a composite modulus inherits every low-bit
    * pattern in the keys while a prime one mixes them; measured as
    * occupied residues, max/min load and the e4 max/min imbalance.
    * The oldest hash-table sizing rule, quantified on real keys.
    */
  def q_mod_prime_bias(spark: SparkSession, sf: String): DataFrame = {
    val keys = Mat.once(Tables.orders(spark, sf).select(col("o_orderkey").as("x")))
    def audit(name: String, m: Long): DataFrame =
      keys.select(expr(s"x % $m").as("b")).groupBy(col("b"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("occupied"),
          max(col("c")).as("max_load"), min(col("c")).as("min_load"))
        .select(lit(name).as("scheme"), lit(m).as("m"), col("n"),
          col("occupied"), col("max_load"), col("min_load"))
    audit("mod_64_composite", 64L).unionByName(audit("mod_61_prime", 61L))
      .select(col("scheme"), col("m"), col("n"), col("occupied"),
        col("max_load"), col("min_load"),
        expr("max_load * 10000 div greatest(1, min_load)")
          .as("imbalance_e4"))
      .orderBy("scheme")
  }
}
