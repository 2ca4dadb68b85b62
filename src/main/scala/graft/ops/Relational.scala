package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Det, Mat, Tables}
import graft.core.Det.{cents, pct, r4}

/** Relational operators: scans, filters/projections, aggregations, sorts,
  * top-k, set operations (SURVEY.md §2.1, §2.2, §2.4, §2.6, §2.7).
  *
  * All plans are declarative DataFrame ops so Catalyst handles pushdown,
  * pruning, partial aggregation and AQE re-planning; every query ends in a
  * total ORDER BY over a unique key set (determinism rule D1).
  */
object Relational {

  // ---- §2.1 scans ----------------------------------------------------------

  /** Full-scan COUNT(*) — exercises the vectorized parquet reader's
    * metadata-only count path (no column materialization).
    */
  def q_scan_lineitem_count(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf).agg(count(lit(1)).as("n"))

  /** Column-pruned, predicate-pushed scan: only 2 of 11 lineitem columns
    * reach the scan and the quantity filter lands in PushedFilters
    * (asserted by the plan-shape test).
    */
  def q_scan_pruned(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
      .filter(col("l_quantity") > 45)
      .orderBy("l_orderkey", "l_linenumber", "qty")

  // ---- §2.2 projection / filter -------------------------------------------

  /** Conjunctive/disjunctive predicate mix (range, BETWEEN, IN) plus a
    * derived money expression kept exact in cents×100 space (D2).
    */
  def q_filter_complex(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") <  lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_returnflag").isin("A", "R"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
          .as("disc_price_e4"))
      .orderBy("l_orderkey", "l_linenumber", "disc_price_e4")

  /** Computed projections over `part`: string ops + exact money cents. */
  def q_project_expr(spark: SparkSession, sf: String): DataFrame =
    Tables.part(spark, sf)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_uc"),
        substring(col("p_name"), 1, 8).as("name8"),
        cents(col("p_retailprice")).as("retail_cents"),
        (col("p_size") * 2).as("size2"))
      .orderBy("p_partkey")

  // ---- §2.4 aggregations ---------------------------------------------------

  /** TPC-H Q1 flavor: the flagship pricing summary. Exact integer math per
    * D2 — sums of cents (and cents×percent for the discounted price), with
    * the only float output a ROUND(...,4) average.
    */
  def q_agg_pricing_summary(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
          .as("sum_disc_e4"),
        count(lit(1)).as("n_rows"),
        r4(sum(col("l_quantity").cast("long")) / count(lit(1))).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Distinct counts — Catalyst rewrites the two-distinct agg via Expand
    * into two-phase partial/final aggregation (no driver-side dedup).
    */
  def q_agg_distinct(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy("l_returnflag")

  /** ROLLUP with grouping id; NULL group keys are COALESCE'd to a sentinel
    * so the cross-engine compare never depends on NULL sort/hash order.
    */
  def q_agg_rollup(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
          .as("rev_e4"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("rev_e4"), col("gid"))
      .orderBy("gid", "rf", "ls")

  /** CUBE over event type × day. */
  def q_agg_cube(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .withColumn("day", to_date(col("ts_us")))
      .cube(col("event_type"), col("day"))
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("value"))).as("value_cents"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(date_format(col("day"), "yyyy-MM-dd"), lit("1900-01-01")).as("day"),
        col("n"), col("value_cents"), col("gid"))
      .orderBy("gid", "event_type", "day")

  /** Explicit GROUPING SETS beyond rollup/cube: event counts + exact cents
    * at (type, day), (type), (day) and grand-total granularities in one
    * pass (Catalyst expands once and aggregates partial+final).
    */
  def q_grouping_sets(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .withColumn("day", date_format(col("ts_us"), "yyyy-MM-dd"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")),
          Seq(col("day")), Seq.empty),
        col("event_type"), col("day"))
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("value"))).as("value_cents"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("n"), col("value_cents"), col("gid"))
      .orderBy("gid", "event_type", "day")

  /** Multi-dimension distinct-user rollup in ONE logical pass: exact
    * COUNT(DISTINCT user_id) by (type, week), (type), (week) and grand
    * total via grouping sets — Catalyst's expand handles the distinct
    * per grouping set, so the stream is scanned once however many
    * dimensions are rolled up.
    */
  def q_distinct_rollup(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .withColumn("week", date_format(date_trunc("week", col("ts_us")), "yyyy-MM-dd"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("week")), Seq(col("event_type")),
          Seq(col("week")), Seq.empty),
        col("event_type"), col("week"))
      .agg(countDistinct(col("user_id")).as("distinct_users"),
        count(lit(1)).as("n_events"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("week"), lit("ALL")).as("week"),
        col("distinct_users"), col("n_events"), col("gid"))
      .orderBy("gid", "event_type", "week")

  /** Duplicate-key audit (the ingest data-quality gate before a table
    * is trusted as key-unique): the multiplicity histogram of the
    * (l_orderkey, l_linenumber) candidate key — how many key values
    * appear once, twice, … — plus per-bucket row totals. The fixture
    * really does carry duplicate pairs, so this op guards a real hazard.
    */
  def q_key_dup_audit(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("mult"))
      .groupBy(col("mult"))
      .agg(count(lit(1)).as("n_keys"), sum(col("mult")).as("n_rows"))
      .orderBy("mult")

  /** Line-number sequence-gap audit (the completeness check for a
    * position-keyed detail table): per order the max line number vs the
    * distinct line count — their difference is the number of missing
    * positions — reported as a gap histogram. Two aggregates.
    */
  def q_seq_gap_audit(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg((max(col("l_linenumber")).cast("long") -
        countDistinct(col("l_linenumber"))).as("gaps"))
      .groupBy(col("gaps"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("gaps")

  /** Customer value-tier transition matrix 1996 → 1997 (the migration /
    * churn-value view): yearly spend tiers at fixed cent thresholds
    * (0 = none, 1 < $150k, 2 < $400k, 3 ≥ $400k), one full-outer
    * key join, counts per (from, to) cell.
    */
  def q_tier_transition(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
    def tiers(y: Int, n: String) = o.filter(year(col("o_orderdate")) === y)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("c"))
      .select(col("o_custkey"),
        when(col("c") < 15000000L, 1L).when(col("c") < 40000000L, 2L)
          .otherwise(3L).as(n))
    tiers(1996, "from_tier").join(tiers(1997, "to_tier"), Seq("o_custkey"), "full_outer")
      .select(coalesce(col("from_tier"), lit(0L)).as("from_tier"),
        coalesce(col("to_tier"), lit(0L)).as("to_tier"))
      .groupBy(col("from_tier"), col("to_tier"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("from_tier", "to_tier")
  }

  /** Approximate distinct counts (HyperLogLog++) next to a bound derived
    * from them — no oracle (sketch internals are engine-specific; DuckDB's
    * HLL would hash differently). Declared for the rows-only check; the
    * within-5%-of-exact property is asserted in CapabilitiesSpec.
    */
  def q_approx_distinct(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"))
      .orderBy("l_returnflag")

  /** Moment statistics (variance / stddev / correlation), ROUND(,4) per D3. */
  def q_agg_stats(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .agg(
        r4(var_samp(col("l_quantity"))).as("var_qty"),
        r4(stddev_samp(col("l_quantity"))).as("std_qty"),
        (r4(corr(col("l_quantity"), col("l_extendedprice"))) + lit(0.0)).as("corr_qty_price"))

  /** Exact interpolating median + p90 over integer cents per priority
    * (lattice form — see [[latticePercentiles]]). */
  def q_agg_median(spark: SparkSession, sf: String): DataFrame =
    latticePercentiles(
        Tables.orders(spark, sf)
          .select(col("o_orderpriority"), cents(col("o_totalprice")).as("pc"))
          .groupBy(col("o_orderpriority"), col("pc"))
          .agg(count(lit(1)).as("cnt")),
        Seq("o_orderpriority"), Seq(0.5 -> "m", 0.9 -> "p"))
      .select(col("o_orderpriority"),
        r4(col("m")).as("median_cents"), r4(col("p")).as("p90_cents"))
      .orderBy("o_orderpriority")

  /** Arg-max / arg-min in one aggregation pass: per order priority, the
    * cheapest and the most expensive order. Spark's `max_by` breaks ties
    * arbitrarily, so the deterministic idiom is `max(struct(value, key))` —
    * lexicographic struct comparison pins the tie to the largest (resp.
    * smallest) key, which the oracle reproduces with a ROW_NUMBER window.
    */
  def q_agg_argmax(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select(col("o_orderpriority"), cents(col("o_totalprice")).as("tp"),
        col("o_orderkey").as("k"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        max(struct(col("tp"), col("k"))).as("mx"),
        min(struct(col("tp"), col("k"))).as("mn"))
      .select(col("o_orderpriority"), col("n"),
        col("mx.tp").as("max_cents"), col("mx.k").as("max_key"),
        col("mn.tp").as("min_cents"), col("mn.k").as("min_key"))
      .orderBy("o_orderpriority")

  /** Ordered array aggregation: per nation, the top-5 supplier names by
    * account balance as ONE csv column. `collect_list` has no intra-group
    * order guarantee, so the deterministic idiom is rank-first (window
    * row_number), then collect `struct(rank, name)` and `array_sort` —
    * the sort key is the rank, making the final order engine-independent.
    */
  def q_agg_collect(spark: SparkSession, sf: String): DataFrame = {
    val s = Tables.supplier(spark, sf)
      .select(col("s_nationkey"), col("s_name"), cents(col("s_acctbal")).as("bal"))
    val w = Window.partitionBy("s_nationkey").orderBy(col("bal").desc, col("s_name").asc)
    val top = s.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("s_nationkey"))
      .agg(expr("concat_ws(',', transform(array_sort(collect_list(struct(rn, s_name))), x -> x.s_name))")
        .as("top5"))
    val totals = s.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_sup"), sum(col("bal")).as("bal_cents"))
    totals.join(top, "s_nationkey")
      .join(broadcast(Tables.nation(spark, sf)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_sup"), col("bal_cents"), col("top5"))
      .orderBy("n_name")
  }

  /** Quantity-weighted average price per return flag: exact integer
    * numerator (Σ cents·qty in decimal — overflow-proof) and denominator,
    * one double division at the end — the weighted-mean shape every
    * feature pipeline needs, summation-order-proof.
    */
  def q_agg_weighted(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("p"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("q")).as("sum_qty"),
        sum(col("p").cast("decimal(38,0)") * col("q")).cast("decimal(38,0)").as("wsum"))
      .select(col("l_returnflag"), col("sum_qty"),
        (round(col("wsum").cast("double") / (col("sum_qty").cast("double") * lit(100.0)), 4)
          + lit(0.0)).as("wavg_price"))
      .orderBy("l_returnflag")

  /** Deterministic MODE: most frequent quantity per return flag (Spark's
    * `mode()` ties are unspecified, so the idiom is count-then-argmax via
    * `max(struct(cnt, value))` — ties resolve to the larger value on both
    * engines).
    */
  def q_agg_mode(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .groupBy(col("l_returnflag"), col("qty"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(max(struct(col("cnt"), col("qty"))).as("m"))
      .select(col("l_returnflag"), col("m.qty").as("mode_qty"), col("m.cnt").as("mode_cnt"))
      .orderBy("l_returnflag")

  /** Fuzzy entity matching: same-nation supplier name pairs within
    * Levenshtein distance ≤ 2, summarized per nation with the closest
    * example pair (min over `struct(d, name1, name2)` — deterministic tie
    * order).
    *
    * Scale design (positional q-gram rarity filter — the count-filter of
    * Gravano et al. crossed with the PPJoin rarity prefix): the former
    * nation-blocked all-pairs join is quadratic per block, and blocks
    * grow with the data (25 nations forever). Candidates instead come
    * from each name's 7 GLOBALLY-RAREST positional trigrams: two edits
    * touch at most 2·3 = 6 trigrams (an indel only SHIFTS the rest, by
    * ≤ 2 positions), so of any name's 7 rarest trigrams at least one
    * survives verbatim in every true match within position shift ≤ 2 —
    * caught by a band join (band = pos div 3; probe fans to bands
    * b−1, b, b+1). Templated name prefixes ("Supplier#…") have huge df
    * and therefore never enter a probe's rarest-7, so they cannot drive
    * fan-out — only the discriminative tail grams join, each with
    * rarity-bounded df. Pairs where BOTH sides have fewer than 7
    * trigrams (len < 9) fall back to an all-pairs check within the
    * nation — bounded, and empty on this fixture. Candidates are then
    * verified with EXACT levenshtein, so output is identical to the
    * naive blocked join (Round5OpsSpec pins this on the fixture and on
    * an adversarial templated/indel/short-string corpus).
    */
  def q_fuzzy_match(spark: SparkSession, sf: String): DataFrame =
    fuzzyMatchOf(Tables.supplier(spark, sf)
      .select(col("s_nationkey"), col("s_suppkey"), col("s_name")),
      "s_nationkey", "s_suppkey", "s_name")

  /** [[q_fuzzy_match]]'s per-block aggregate, rep-collapsed (round 8 —
    * the sf3 scaling probe caught the only exponent-2 grower left:
    * verbatim-replicated names make TRUE ed ≤ 2 pairs grow quadratically
    * with duplication, and the pair table was enumerated before this
    * aggregate). Identical (block, name) rows form a group
    * (m, kmin = rep key, kmax); the trigram candidate machinery runs
    * over ONE rep per distinct name, and the aggregate is recovered by
    * COUNT ARITHMETIC — no member pair ever materializes:
    *  - pair counts: a rep pair (A, B) with distance d stands for
    *    m_A·m_B member pairs of the same d (levenshtein depends only on
    *    the names); a group with m ≥ 2 adds C(m,2) within pairs at d = 0;
    *  - the min-example struct (d, n1, n2) carries names in
    *    ascending-KEY order, so a rep pair contributes its forward
    *    orientation always (rep_A < rep_B ≤ kmax_B) and its REVERSE
    *    orientation (d, n2, n1) exactly when kmin_B < kmax_A — emitted
    *    as a count-0 candidate row that competes in the min but not in
    *    the counts.
    * Candidate volume now scales with DISTINCT names per block, not
    * with duplication² (sf3: 95 s → the sf0.1-shaped cost);
    * Round8OpsSpec pins equality against the uncollapsed aggregate on
    * orientation-adversarial planted corpora and the fixture.
    */
  private[graft] def fuzzyMatchOf(src: DataFrame, blockCol: String,
      keyCol: String, nameCol: String): DataFrame = {
    val groups = Mat.once(src
      .groupBy(col(blockCol).as("blk"), col(nameCol).as("nm"))
      .agg(count(lit(1)).as("m"), min(col(keyCol)).as("kmin"),
        max(col(keyCol)).as("kmax"))) // feeds the rep pair build + both expansion joins
    val repPairs = fuzzyPairsOf(
      groups.select(col("blk"), col("kmin"), col("nm")), "blk", "kmin", "nm")
      .join(groups.select(col("blk").as("nationkey"), col("nm").as("n1"),
        col("m").as("m1"), col("kmax").as("kmax1")), Seq("nationkey", "n1"))
      .join(groups.select(col("blk").as("nationkey"), col("nm").as("n2"),
        col("m").as("m2"), col("kmin").as("kmin2")), Seq("nationkey", "n2"))
    val fwd = repPairs.select(col("nationkey"), col("d"), col("n1"), col("n2"),
      (col("m1") * col("m2")).as("mult"))
    val rev = repPairs.filter(col("kmin2") < col("kmax1"))
      .select(col("nationkey"), col("d"), col("n2").as("n1"),
        col("n1").as("n2"), lit(0L).as("mult"))
    val within = groups.filter(col("m") >= 2L)
      .select(col("blk").as("nationkey"), lit(0L).as("d"), col("nm").as("n1"),
        col("nm").as("n2"), expr("m * (m - 1) div 2").as("mult"))
    fwd.unionByName(rev).unionByName(within)
      .groupBy(col("nationkey"))
      .agg(
        sum(col("mult")).as("n_pairs"),
        sum(when(col("d") === 1L, col("mult")).otherwise(0L)).as("n_d1"),
        min(struct(col("d"), col("n1"), col("n2"))).as("m"))
      .select(col("nationkey").cast("long").as("nationkey"), col("n_pairs"),
        col("n_d1"), col("m.d").as("best_d"), col("m.n1").as("best_1"),
        col("m.n2").as("best_2"))
      .orderBy("nationkey")
  }

  /** Edit-distance ≤ 2 candidate generation + exact verify over a
    * (block, key, name) frame — see [[q_fuzzy_match]] for the positional
    * q-gram rarity argument. Returns one row per verified pair:
    * (nationkey, d, n1, n2) with (n1, n2) in ascending-key order (the
    * same orientation as the naive `a.key < b.key` join, so downstream
    * min-example aggregates are bit-identical). Exposed to the spec. */
  private[graft] def fuzzyPairsOf(
      src: DataFrame, blockCol: String, keyCol: String, nameCol: String): DataFrame = {
    // tiny relative to the pair space; feeds 4 legs
    val s = Mat.once(src.select(col(blockCol).as("blk"), col(keyCol).as("k"),
      col(nameCol).as("nm"), length(col(nameCol)).cast("long").as("len")))
    // positional trigrams (1-based pos), global df rarity order
    val grams = s.select(col("blk"), col("k"), col("len"),
        // CASE guard: sequence(1, n) runs DESCENDING for n < 1, so a
        // 1-2 char name must explode to an empty gram array instead
        posexplode(expr("CASE WHEN len >= 3 THEN transform(sequence(1, int(len) - 2), " +
          "p -> struct(p AS pos, substring(nm, p, 3) AS g)) " +
          "ELSE CAST(array() AS array<struct<pos: int, g: string>>) END")))
      .select(col("blk"), col("k"), col("len"),
        col("col.pos").cast("long").as("pos"), col("col.g").as("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val ranked = grams.join(dfreq, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy("k").orderBy(col("df").asc, col("g").asc, col("pos").asc)))
    // probe = each name's 7 rarest grams, fanned to bands b-1, b, b+1;
    // index = every gram at its own band. |posA - posB| <= 2 => bands
    // (width 3) differ by <= 1, so the surviving gram always collides.
    val probe = ranked.filter(col("rk") <= 7L)
      .select(col("blk"), col("k"), col("g"),
        explode(expr("array(pos div 3 - 1, pos div 3, pos div 3 + 1)")).as("band"))
    val idx = grams.select(col("blk"), col("k").as("k2"), col("g"),
      expr("pos div 3").as("band"))
    val gramCand = probe.join(idx, Seq("blk", "g", "band"))
      .filter(col("k") =!= col("k2"))
      .select(col("blk"), least(col("k"), col("k2")).as("k1"),
        greatest(col("k"), col("k2")).as("k2"))
    // both-short fallback: a name with < 7 trigrams (len < 9) cannot
    // pledge a surviving rare gram; pairs where EITHER side has >= 7
    // grams are still probe-covered from that side, so only short-short
    // pairs need the exhaustive leg (empty on real fixtures)
    val short = s.filter(col("len") < 9L)
    val shortCand = short.as("a")
      .join(short.as("b"),
        col("a.blk") === col("b.blk") && col("a.k") < col("b.k"))
      .select(col("a.blk").as("blk"), col("a.k").as("k1"), col("b.k").as("k2"))
    gramCand.union(shortCand).distinct()
      .join(s.select(col("k").as("k1"), col("nm").as("n1")), "k1")
      .join(s.select(col("k").as("k2"), col("nm").as("n2")), "k2")
      .withColumn("d", levenshtein(col("n1"), col("n2")).cast("long"))
      .filter(col("d") <= 2L)
      .select(col("blk").as("nationkey"), col("d"), col("n1"), col("n2"))
  }

  // ---- §2.6 sorts / top-k --------------------------------------------------

  /** Global top-10 customers by lifetime order value — Catalyst plans the
    * ORDER BY + LIMIT as TakeOrderedAndProject (per-partition top-k then a
    * single merge, no global sort).
    */
  def q_topk_customers(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("total_cents").desc, col("o_custkey").asc)
      .limit(10)

  /** Multi-key total sort (range-partitioned in distributed mode). */
  def q_sort_multi(spark: SparkSession, sf: String): DataFrame =
    Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_nationkey"), cents(col("s_acctbal")).as("acct_cents"))
      .orderBy(col("s_nationkey").asc, col("acct_cents").desc, col("s_suppkey").asc)

  // ---- §2.7 set operations -------------------------------------------------

  private def custkeysOfYear(spark: SparkSession, sf: String, y: Int): DataFrame =
    Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey").as("custkey"))
      .distinct()

  def q_set_intersect(spark: SparkSession, sf: String): DataFrame =
    custkeysOfYear(spark, sf, 1996)
      .intersect(custkeysOfYear(spark, sf, 1997))
      .orderBy("custkey")

  def q_set_except(spark: SparkSession, sf: String): DataFrame =
    custkeysOfYear(spark, sf, 1996)
      .except(custkeysOfYear(spark, sf, 1997))
      .orderBy("custkey")

  /** UNION ALL of the two distinct key sets, re-grouped — n=2 rows are the
    * intersection, so this exercises both UNION and UNION ALL semantics in
    * one deterministic output.
    */
  def q_set_union(spark: SparkSession, sf: String): DataFrame =
    custkeysOfYear(spark, sf, 1996)
      .union(custkeysOfYear(spark, sf, 1997))
      .groupBy("custkey")
      .agg(count(lit(1)).as("n"))
      .orderBy("custkey")

  /** Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL — the
    * multiplicity-preserving duals of §2.7's distinct set ops): customer
    * keys of 1996 vs 1997 orders WITH their order multiplicity. One row
    * per operation with its cardinality, plus the distinct-op sizes for
    * contrast — multiplicities make `intersect_all ≥ intersect`.
    */
  def q_set_bag_ops(spark: SparkSession, sf: String): DataFrame = {
    def bagOfYear(y: Int): DataFrame = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey").as("custkey"))
    val b96 = bagOfYear(1996); val b97 = bagOfYear(1997)
    def one(op: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    one("except_all", b96.exceptAll(b97))
      .unionByName(one("intersect_all", b96.intersectAll(b97)))
      .unionByName(one("except_distinct", b96.distinct().except(b97.distinct())))
      .unionByName(one("intersect_distinct", b96.distinct().intersect(b97.distinct())))
      .orderBy("op")
  }

  /** Missing-value imputation (the data-cleaning step of a feature
    * pipeline): treat zero-discount lineitems as missing, impute with the
    * per-returnflag exact interpolating median of the observed discount
    * percents; report per flag the observed/missing split, the imputed
    * value and the post-imputation mean. Two grouped passes (stats +
    * re-scan), both keyed by the tiny flag dimension.
    */
  def q_impute_missing(spark: SparkSession, sf: String): DataFrame = {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), pct(col("l_discount")).as("d"))
    val med = li.filter(col("d") > 0).groupBy(col("flag"))
      .agg(percentile(col("d"), lit(0.5)).as("imputed"))
    li.join(broadcast(med), "flag")
      .groupBy(col("flag"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("d") === 0, 1L).otherwise(0L)).as("n_missing"),
        sum(col("d")).as("s_obs"),
        (max(col("imputed")) + lit(0.0)).as("imputed_pct"))
      .select(col("flag"), col("n"), col("n_missing"), col("imputed_pct"),
        (round((col("s_obs").cast("double") +
          col("n_missing").cast("double") * col("imputed_pct")) /
          col("n").cast("double"), 4) + lit(0.0)).as("mean_pct_imputed"))
      .orderBy("flag")
  }

  // ---- pivot / unpivot -----------------------------------------------------

  /** PIVOT: daily event counts spread across one column per event type
    * (explicit value list — deterministic schema, no discovery pass).
    */
  def q_pivot_events(spark: SparkSession, sf: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.eventsWithTs(spark, sf)
      .withColumn("day", date_format(col("ts_us"), "yyyy-MM-dd"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    pivoted
      .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("day")
  }

  /** UNPIVOT (melt): part measures to long (key, value) rows. */
  def q_unpivot_part(spark: SparkSession, sf: String): DataFrame =
    Tables.part(spark, sf)
      .select(col("p_partkey"),
        col("p_size").cast("long").as("size"),
        cents(col("p_retailprice")).as("retail_cents"))
      .unpivot(
        Array(col("p_partkey")),
        Array(col("size"), col("retail_cents")),
        "measure", "value")
      .orderBy("p_partkey", "measure")

  /** Scalar subquery through the SQL entry path (E2): orders above the
    * global average order value — Catalyst rewrites the subquery to a
    * broadcast join under the hood.
    */
  def q_subquery_scalar(spark: SparkSession, sf: String): DataFrame = {
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    spark.sql("""
      SELECT o_orderpriority, COUNT(*) AS n
      FROM orders_v
      WHERE CAST(ROUND(o_totalprice*100) AS BIGINT) >
            (SELECT AVG(CAST(ROUND(o_totalprice*100) AS BIGINT)) FROM orders_v)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  /** Batch MERGE/upsert accounting (the SCD-style "latest wins" refresh):
    * 1997 per-customer aggregates merged onto the 1996 base by full-outer
    * key join; rows classify as updated (both), unchanged (base only) or
    * inserted (update only), with the post-merge value = COALESCE(update,
    * base). Both sides are key-unique pre-aggregates, so the merge is one
    * key-partitioned join at any scale.
    */
  def q_merge_upsert(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
    def yearAgg(y: Int, suffix: String) = o
      .filter(year(col("o_orderdate")) === y)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as(s"c_$suffix"))
    val base = yearAgg(1996, "base")
    val upd = yearAgg(1997, "upd")
    base.join(upd, Seq("o_custkey"), "full_outer")
      .select(
        when(col("c_base").isNotNull && col("c_upd").isNotNull, "updated")
          .when(col("c_base").isNotNull, "unchanged")
          .otherwise("inserted").as("status"),
        coalesce(col("c_upd"), col("c_base")).as("cfinal"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cfinal")).as("total_cents_final"))
      .orderBy("status")
  }

  /** Grouped quantile summary: the p25/p50/p75/p90 interpolating
    * percentiles of order value per priority from ONE percentile-array
    * aggregate per group (not four), rounded at 4 decimals. The grouped
    * twin of the global [[q_hist_equidepth]] boundary pass.
    */
  def q_grouped_quantiles(spark: SparkSession, sf: String): DataFrame =
    latticePercentiles(
        Tables.orders(spark, sf)
          .select(col("o_orderpriority"), cents(col("o_totalprice")).as("pc"))
          .groupBy(col("o_orderpriority"), col("pc"))
          .agg(count(lit(1)).as("cnt")),
        Seq("o_orderpriority"),
        Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75", 0.9 -> "q90"))
      .select(col("o_orderpriority"), col("n"),
        (round(col("q25"), 4) + lit(0.0)).as("p25"),
        (round(col("q50"), 4) + lit(0.0)).as("p50"),
        (round(col("q75"), 4) + lit(0.0)).as("p75"),
        (round(col("q90"), 4) + lit(0.0)).as("p90"))
      .orderBy("o_orderpriority")

  /** Schema-evolution union: two yearly aggregates with different column
    * sets and orders merged by NAME (`unionByName` with missing columns
    * null-filled — DuckDB's UNION ALL BY NAME), then audited per year:
    * row counts, non-null counts per branch-specific column, and
    * null-safe totals. The schema-drift-tolerant append every long-lived
    * ingest pipeline needs.
    */
  def q_union_by_name(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
    val y96 = o.filter(year(col("o_orderdate")) === 1996)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .withColumn("yr", lit(1996L))
    val y97 = o.filter(year(col("o_orderdate")) === 1997)
      .groupBy(col("o_custkey")).agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      .withColumn("yr", lit(1997L))
      .select(col("yr"), col("rev_cents"), col("o_custkey")) // scrambled on purpose
    y96.unionByName(y97, allowMissingColumns = true)
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("n_orders")).as("rows_with_orders"),
        count(col("rev_cents")).as("rows_with_rev"),
        sum(coalesce(col("n_orders"), lit(0L))).as("total_orders"),
        sum(coalesce(col("rev_cents"), lit(0L))).as("total_rev_cents"))
      .orderBy("yr")
  }

  /** Keyset (seek) pagination: page 3 of the orders feed ordered by
    * (total desc, key) — the boundary is the 20th row (min-of-top-20 via
    * TakeOrdered, NO global row_number), page 3 is a filtered TakeOrdered
    * below it. O(page) at any depth, unlike OFFSET which scans and
    * discards — the only pagination that survives a 100 TB feed.
    */
  def q_keyset_pagination(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .select(cents(col("o_totalprice")).as("tp"), col("o_orderkey").as("okey"))
    val boundary = o.orderBy(col("tp").desc, col("okey").asc).limit(20)
      .agg(min(struct(col("tp"), (lit(0L) - col("okey")).as("nk"))).as("b"))
      .select(col("b.tp").as("b_tp"), (lit(0L) - col("b.nk")).as("b_okey"))
    o.crossJoin(broadcast(boundary))
      .filter(col("tp") < col("b_tp") ||
        (col("tp") === col("b_tp") && col("okey") > col("b_okey")))
      .orderBy(col("tp").desc, col("okey").asc)
      .limit(10)
      .select(col("okey"), col("tp").as("total_cents"))
  }

  /** GROUP BY ALL syntax through the SQL path — the analyst shorthand
    * both engines now parse; semantics identical to the explicit list.
    */
  def q_group_by_all(spark: SparkSession, sf: String): DataFrame = {
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    spark.sql("""
      SELECT l_returnflag AS flag, l_linestatus AS status,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem_v GROUP BY ALL ORDER BY flag, status""")
  }

  /** Inline VALUES lookup table (per-priority SLA targets) joined against
    * order→first-ship latency — the config-as-data idiom that avoids a
    * config file round-trip; compliance shares per priority.
    */
  def q_values_lookup(spark: SparkSession, sf: String): DataFrame = {
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    spark.sql("""
      WITH sla(priority, target_days) AS (VALUES
             ('1-URGENT', 35), ('2-HIGH', 45), ('3-MEDIUM', 60),
             ('4-NOT SPECIFIED', 75), ('5-LOW', 90)),
           fs AS (SELECT l_orderkey, MIN(l_shipdate) AS first_ship
                  FROM lineitem_v GROUP BY l_orderkey),
           lat AS (SELECT o_orderpriority AS priority,
                          datediff(CAST(first_ship AS DATE), CAST(o_orderdate AS DATE)) AS days
                   FROM fs JOIN orders_v ON l_orderkey = o_orderkey)
      SELECT lat.priority, CAST(sla.target_days AS BIGINT) AS target_days,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CASE WHEN lat.days <= sla.target_days THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within,
             CAST(SUM(CASE WHEN lat.days <= sla.target_days THEN 1 ELSE 0 END) * 10000
                  div COUNT(*) AS BIGINT) AS within_e4
      FROM lat JOIN sla ON lat.priority = sla.priority
      GROUP BY lat.priority, sla.target_days ORDER BY lat.priority""")
  }

  /** Catalog-vs-realized price drift per brand: the quantity-weighted
    * realized unit price (exact Σprice/Σqty e4) against the catalog mean
    * retail price, as an e4 index — the pricing-governance screen.
    */
  def q_catalog_price_drift(spark: SparkSession, sf: String): DataFrame = {
    val realized = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey"), col("p_brand"), cents(col("p_retailprice")).as("rc"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"),
        sum(col("l_quantity").cast("long")).as("qty"))
    val catalog = Tables.part(spark, sf)
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_parts"), sum(cents(col("p_retailprice"))).as("rsum"))
    realized.join(catalog, "brand")
      .select(col("brand"), col("n_parts"),
        expr("rev * 100 div qty").as("realized_unit_e4"),
        expr("rsum * 100 div n_parts").as("catalog_unit_e4"))
      .select(col("brand"), col("n_parts"), col("realized_unit_e4"), col("catalog_unit_e4"),
        expr("CAST(CAST(realized_unit_e4 AS decimal(38,0)) * 10000" +
          " div catalog_unit_e4 AS BIGINT)").as("drift_index_e4"))
      .orderBy("brand")
  }

  /** LIKE / position string-predicate surface: pattern-match counts and
    * the exact mean match position (e4 floor) of a needle across the
    * corpus — the wildcard-scan shape Catalyst turns into StartsWith /
    * Contains fast paths where it can.
    */
  def q_like_patterns(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(spark, sf)
    def pat(name: String, cond: Column, posExpr: Column): DataFrame =
      d.agg(count(lit(1)).as("n_docs"),
        sum(when(cond, 1L).otherwise(0L)).as("n_match"),
        sum(when(cond, posExpr).otherwise(0L)).as("pos_sum"))
        .select(lit(name).as("pattern"), col("n_docs"), col("n_match"),
          expr("CASE WHEN n_match = 0 THEN -1 ELSE pos_sum * 10000 div n_match END")
            .as("mean_pos_e4"))
    pat("contains_fast_table", col("text").like("%fast table%"),
      instr(col("text"), "fast table").cast("long"))
      .unionByName(pat("starts_with_key", col("text").like("key%"), lit(1L)))
      .unionByName(pat("ends_with_scan", col("text").like("%scan"),
        (length(col("text")) - lit(3)).cast("long")))
      .orderBy("pattern")
  }

  /** Supplier-concentration audit: per part the supplier count and top-
    * supplier share (e4), histogrammed — the single-source-risk screen.
    * Two aggregates + a keyed rank on the (part, supplier) table.
    */
  def q_supplier_concentration(spark: SparkSession, sf: String): DataFrame = {
    val ps = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("l_partkey").orderBy(col("c").desc, col("l_suppkey").asc)
    ps.withColumn("rn", row_number().over(w))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_sup"), sum(col("c")).as("tot"),
        max(when(col("rn") === 1, col("c"))).as("top_c"))
      .select(col("n_sup"), expr("top_c * 10000 div tot").as("top_share_e4"))
      .groupBy(col("n_sup"), expr("top_share_e4 div 2500").as("share_band"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("n_sup", "share_band")
  }

  /** Decimal-integrity audit: money columns stored as binary doubles are
    * only APPROXIMATELY 2-decimal — this measures each column's maximum
    * deviation of x·100 from the nearest integer (e9) and how many rows
    * deviate beyond 10⁻⁶ cents. The audit that justifies the engine-wide
    * round-to-cents rule (D2): deviations exist, stay below half a cent,
    * and the rounding is therefore lossless.
    */
  def q_decimal_integrity(spark: SparkSession, sf: String): DataFrame = {
    def audit(df: DataFrame, c: String, name: String): DataFrame = {
      val dev = abs(col(c) * lit(100.0) - round(col(c) * lit(100.0)))
      df.agg(count(lit(1)).as("n_rows"),
        sum(when(dev > lit(1e-6), 1L).otherwise(0L)).as("n_above_1e6"),
        round(max(dev) * lit(1e9)).cast("long").as("max_dev_e9"))
        .select(lit(name).as("column_name"), col("n_rows"), col("n_above_1e6"),
          col("max_dev_e9"))
    }
    audit(Tables.orders(spark, sf), "o_totalprice", "o_totalprice")
      .unionByName(audit(Tables.lineitem(spark, sf), "l_extendedprice", "l_extendedprice"))
      .unionByName(audit(Tables.lineitem(spark, sf), "l_discount", "l_discount"))
      .orderBy("column_name")
  }

  /** Data-freshness report: the newest business date per table against
    * the newest across all three, with the lag in whole days — the
    * staleness gate an orchestrator checks before kicking downstream
    * jobs. Three tiny max-aggregates + one broadcast reference.
    */
  def q_data_freshness(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    def maxDay(df: DataFrame, c: String, name: String): DataFrame =
      df.agg(max(datediff(col(c).cast("date"), epoch)).cast("long").as("max_dayn"))
        .select(lit(name).as("table_name"), col("max_dayn"))
    val all = maxDay(Tables.orders(spark, sf), "o_orderdate", "orders")
      .unionByName(maxDay(Tables.lineitem(spark, sf), "l_shipdate", "lineitem"))
      .unionByName(Tables.eventsWithTs(spark, sf)
        .agg(max(expr("ts_usl div 86400000000")).as("max_dayn"))
        .select(lit("events").as("table_name"), col("max_dayn")))
    all.crossJoin(broadcast(all.agg(max(col("max_dayn")).as("ref"))))
      .select(col("table_name"), col("max_dayn"),
        (col("ref") - col("max_dayn")).as("staleness_days"))
      .orderBy("table_name")
  }

  /** Join-key skew profile of l_orderkey: how many keys carry each
    * multiplicity and the row mass per bucket — the audit that decides
    * whether the join needs salting BEFORE it runs (the q_join_salted
    * counterpart). Two aggregates, no join.
    */
  def q_join_skew_profile(spark: SparkSession, sf: String): DataFrame = {
    val mult = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("m"))
      .groupBy(col("m").as("multiplicity"))
      .agg(count(lit(1)).as("n_keys"))
    mult.crossJoin(broadcast(mult.agg(
      sum(col("n_keys")).as("tk"),
      sum(col("multiplicity") * col("n_keys")).as("tr"))))
      .select(col("multiplicity"), col("n_keys"),
        (col("multiplicity") * col("n_keys")).as("n_rows"),
        expr("multiplicity * n_keys * 10000 div tr").as("row_share_e4"))
      .orderBy("multiplicity")
  }

  /** Partition-planning estimate: rows, estimated bytes (measured string
    * mass + fixed per-row overhead) and the 128 MB-target partition count
    * per table — the sizing arithmetic behind
    * `spark.sql.files.maxPartitionBytes` tuning, as a query.
    */
  def q_partition_planning(spark: SparkSession, sf: String): DataFrame = {
    def plan(df: DataFrame, name: String, bytesExpr: Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(bytesExpr).as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"), col("est_bytes"),
          expr("(est_bytes + 134217727) div 134217728").as("parts_at_128mb"))
    plan(Tables.lineitem(spark, sf), "lineitem", lit(100L))
      .unionByName(plan(Tables.orders(spark, sf), "orders",
        lit(60L) + length(col("o_orderpriority")).cast("long")))
      .unionByName(plan(Tables.documents(spark, sf), "documents",
        lit(40L) + col("n_chars")))
      .orderBy("table_name")
  }

  /** Share-of-total matrix: (flag × status) revenue with exact e4 shares
    * of the row, the column, and the grand total — the margins readout a
    * crosstab report carries, computed with keyed margin windows plus one
    * broadcast total (never a partition-less window).
    */
  def q_share_matrix(spark: SparkSession, sf: String): DataFrame = {
    val base = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    base
      .withColumn("rowt", sum(col("rev")).over(Window.partitionBy("flag")))
      .withColumn("colt", sum(col("rev")).over(Window.partitionBy("status")))
      .crossJoin(broadcast(base.agg(sum(col("rev")).as("tot"))))
      .select(col("flag"), col("status"), col("rev").as("rev_cents"),
        expr("rev * 10000 div rowt").as("row_share_e4"),
        expr("rev * 10000 div colt").as("col_share_e4"),
        expr("rev * 10000 div tot").as("total_share_e4"))
      .orderBy("flag", "status")
  }

  /** Row-value IN predicate ((flag, status) IN (...)) through the SQL
    * path — the multi-column membership test Catalyst folds into a
    * struct-equality filter; counts per matched combination.
    */
  def q_rowvalue_in(spark: SparkSession, sf: String): DataFrame = {
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    spark.sql("""
      SELECT l_returnflag AS flag, l_linestatus AS status, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem_v
      WHERE (l_returnflag, l_linestatus) IN (('A', 'F'), ('R', 'F'), ('N', 'O'))
      GROUP BY 1, 2 ORDER BY 1, 2""")
  }

  /** Correlated LATERAL subquery (E2 SQL path): each customer's single
    * largest order joined laterally, aggregated per segment — the
    * per-row-top-1 idiom Catalyst rewrites into a ranked window join.
    */
  def q_lateral_topn(spark: SparkSession, sf: String): DataFrame = {
    Tables.customer(spark, sf).createOrReplaceTempView("customer_v")
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    spark.sql("""
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(top_cents) AS BIGINT) AS sum_top_cents
      FROM customer_v c,
           LATERAL (SELECT MAX(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS top_cents
                    FROM orders_v o WHERE o.o_custkey = c.c_custkey) t
      WHERE top_cents IS NOT NULL
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** Duplicate-transaction audit: orders sharing (customer, total, date)
    * are double-charge suspects; report the group-size distribution. One
    * aggregate on the natural key, one on the size — the fraud/ingest
    * screen that precedes any billing rollup.
    */
  def q_dup_transaction_audit(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .groupBy(col("o_custkey"), cents(col("o_totalprice")).as("tp"),
        col("o_orderdate"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("group_size"))
      .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_orders"))
      .orderBy("group_size")

  /** Price-consistency audit: parts sold at the most divergent unit
    * prices (floor e4 unit price lattice) — distinct price points, span,
    * top-10 by span. The catalog-quality screen that catches mispriced
    * SKUs; one aggregate on (part, price point) then a part-level reduce.
    */
  def q_price_consistency(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        expr("(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 100)" +
          " div CAST(l_quantity AS BIGINT)").as("unit_e4"))
      .groupBy(col("l_partkey"), col("unit_e4"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("c")).as("n_lines"), count(lit(1)).as("n_price_points"),
        min(col("unit_e4")).as("min_unit_e4"), max(col("unit_e4")).as("max_unit_e4"))
      .select(col("l_partkey"), col("n_lines"), col("n_price_points"),
        col("min_unit_e4"), col("max_unit_e4"),
        (col("max_unit_e4") - col("min_unit_e4")).as("span_e4"))
      .orderBy(col("span_e4").desc, col("l_partkey").asc)
      .limit(10)

  /** Geometric mean of extended price per return flag: per-row ln rounded
    * to an e6 integer (order-free sum), the mean-ln kept exact, and one
    * exp() epilogue rounded r4 — the only libm call sits on a single
    * aggregated value where a 1-ulp engine difference is ~10⁻¹¹ relative,
    * far inside the rounding granularity.
    */
  def q_geometric_mean(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"),
        round(log(cents(col("l_extendedprice")).cast("double")) * lit(1e6))
          .cast("long").as("lx_e6"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("lx_e6")).as("s"))
      .select(col("flag"), col("n"),
        expr("s div n").as("mean_ln_e6"),
        (round(exp(col("s").cast("double") / col("n").cast("double") / lit(1e6)) /
          lit(100.0), 4) + lit(0.0)).as("geo_mean"))
      .orderBy("flag")

  /** Harmonic mean of extended price per return flag: per-row reciprocal
    * on an e12 integer lattice, exact sum, one division epilogue — no
    * libm at all. The mean that prices-per-unit average correctly under.
    */
  def q_harmonic_mean(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"),
        round(lit(1e12) / cents(col("l_extendedprice")).cast("double"))
          .cast("long").as("r_e12"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("r_e12")).as("sr"))
      .select(col("flag"), col("n"), col("sr").as("sum_recip_e12"),
        (round(col("n").cast("double") * lit(1e12) / col("sr").cast("double") /
          lit(100.0), 4) + lit(0.0)).as("harm_mean"))
      .orderBy("flag")

  /** Exact percentile of a (group, value-lattice, count) frame WITHOUT
    * buffering values: the distinct-value lattice cumulates per group and
    * the bound is read off by rank, replicating Spark `percentile`'s own
    * math bit-for-bit — pos = p·(n−1) in double, keys at ranks
    * ⌊pos⌋/⌈pos⌉, value = (⌈pos⌉−pos)·k_lo + (pos−⌊pos⌋)·k_hi with the
    * two equal-key/integral-pos short-circuits Spark takes. This is the
    * scale-safe twin of `percentile(...)`: the builtin buffers every
    * DISTINCT group value with its count in one aggregation buffer (an
    * OpenHashMap that grows with the per-group value domain — for cents
    * lattices that is ≈N/|groups|, an executor-side collect), while the
    * lattice form is
    * two hash aggregates plus a [[BandedScan]] prefix scan whose windows
    * are keyed by (group, band) — parallel even with FEW or ZERO groups
    * (empty `groupCols` = global percentile, still no empty-partitionSpec
    * window). Round5OpsSpec pins equality against the builtin on fixture
    * and adversarial synthetic data.
    *
    * Input `lat` must have columns (groupCols..., value `pc` — integral
    * lattice, see BandedScan — and count `cnt` long); returns
    * (groupCols..., n, <name> double...) per group.
    */
  private[graft] def latticePercentiles(lat0: DataFrame, groupCols: Seq[String],
      ps: Seq[(Double, String)]): DataFrame = {
    // lattice-sized (distinct values × groups, NOT rows); materialized
    // once because several consumers read it — the banded scan's band
    // sizing aggregate, its windows and band totals, and the n aggregate.
    // Lazy, every caller's lattice lineage (scan + groupBy, often behind
    // further joins) ran once per consumer — q_qq_quantiles re-scanned
    // events six times across its two sides (round 10 plan audit).
    val lat = Mat.once(lat0)
    val cum = BandedScan.cumSums(lat, groupCols, "pc", Seq("cnt" -> "cum"))
    val nAgg = (if (groupCols.isEmpty) lat.groupBy()
      else lat.groupBy(groupCols.map(col): _*)).agg(sum(col("cnt")).as("n"))
    latticePercentilesFromCum(cum, nAgg, groupCols, ps)
  }

  /** [[latticePercentiles]] over a PRECOMPUTED prefix scan — callers that
    * also need the cumulative counts for their own rank rules (e.g. the
    * discrete-percentile twin) share ONE BandedScan pass instead of
    * re-scanning the lattice. `cum` must carry (groupCols..., pc, cnt,
    * cum); `nAgg` (groupCols..., n). */
  private[graft] def latticePercentilesFromCum(cum: DataFrame, nAgg: DataFrame,
      groupCols: Seq[String], ps: Seq[(Double, String)]): DataFrame = {
    val withN = if (groupCols.isEmpty) cum.crossJoin(broadcast(nAgg))
      else cum.join(broadcast(nAgg), groupCols)
    val posOf = ps.map { case (p, name) =>
      name -> (lit(p) * (col("n") - lit(1L)).cast("double")) }
    val keyAggs = posOf.flatMap { case (name, pos) => Seq(
      min(when(col("cum") >= floor(pos) + 1L, col("pc"))).as(s"${name}_lk"),
      min(when(col("cum") >= ceil(pos) + 1L, col("pc"))).as(s"${name}_hk"),
      max(pos).as(s"${name}_pos")) }
    val outs = ps.map { case (_, name) =>
      val (pos, lk, hk) = (col(s"${name}_pos"), col(s"${name}_lk"), col(s"${name}_hk"))
      when(ceil(pos) === floor(pos) || lk === hk, lk.cast("double"))
        .otherwise(
          (ceil(pos).cast("double") - pos) * lk.cast("double") +
          (pos - floor(pos).cast("double")) * hk.cast("double"))
        .as(name) }
    val grouped = if (groupCols.isEmpty) withN.groupBy()
      else withN.groupBy(groupCols.map(col): _*)
    grouped
      .agg(max(col("n")).as("n"), keyAggs: _*)
      .select(groupCols.map(col) ++ (col("n") +: outs): _*)
  }

  /** Single-group, single-percentile convenience over
    * [[latticePercentiles]]. */
  private[graft] def latticePercentile(lat: DataFrame, groupCol: String,
      p: Double, name: String): DataFrame =
    latticePercentiles(lat, Seq(groupCol), Seq(p -> name))

  /** 10%-trimmed mean per return flag in ONE pass over the distinct-cents
    * lattice: the cumulative count AND cumulative value windows run
    * together, the per-flag aggregate captures the first lattice row at
    * each of the four percentile ranks (min of a cum-led struct — cum is
    * strictly increasing, so min selects the row), the p10/p90 bounds are
    * reconstructed with `percentile`'s own interpolation math
    * ([[latticePercentiles]] has the shared derivation), and the interior
    * count/sum fall out of prefix-sum differences — no second scan, no
    * join, no per-group value buffering (the builtin `percentile` buffers
    * every group value in one aggregation buffer, N/|groups| memory).
    * Round5OpsSpec pins equality with the buffering formulation.
    */
  def q_trimmed_mean(spark: SparkSession, sf: String): DataFrame = {
    // lattice-sized; several consumers (the banded scan's sizing
    // aggregate, windows and band totals, nAgg) — lazy, the lineitem scan
    // + lattice groupBy ran once per consumer (same discipline as
    // latticePercentiles)
    val lat = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), cents(col("l_extendedprice")).as("pc"))
      .groupBy(col("flag"), col("pc"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("pv", col("pc") * col("cnt")))
    val nAgg = lat.groupBy(col("flag")).agg(sum(col("cnt")).as("n"))
    // twin banded prefix scans (count + value mass) — keyed by (flag,
    // band), so no per-flag window funnels N/|flags| rows into one task
    val cum = BandedScan
      .cumSums(lat, Seq("flag"), "pc", Seq("cnt" -> "cum", "pv" -> "cumv"))
      .join(broadcast(nAgg), "flag")
    val pos10 = lit(0.1) * (col("n") - lit(1L)).cast("double")
    val pos90 = lit(0.9) * (col("n") - lit(1L)).cast("double")
    def firstAt(rank: Column) = min(when(col("cum") >= rank,
      struct(col("cum"), col("cnt"), col("cumv"), col("pc"))))
    def interp(pos: Column, lk: Column, hk: Column): Column =
      when(ceil(pos) === floor(pos) || lk === hk, lk.cast("double"))
        .otherwise((ceil(pos).cast("double") - pos) * lk.cast("double") +
          (pos - floor(pos).cast("double")) * hk.cast("double"))
    cum.groupBy(col("flag"))
      .agg(firstAt(floor(pos10) + 1L).as("s10l"), firstAt(ceil(pos10) + 1L).as("s10h"),
        firstAt(floor(pos90) + 1L).as("s90l"), firstAt(ceil(pos90) + 1L).as("s90h"),
        max(pos10).as("pos10"), max(pos90).as("pos90"))
      .select(col("flag"), col("s10l"), col("s90l"), col("s90h"),
        interp(col("pos10"), col("s10l.pc"), col("s10h.pc")).as("lo"),
        interp(col("pos90"), col("s90l.pc"), col("s90h.pc")).as("hi"))
      // rows below the first kept value (pc >= lo: either s10l's own pc
      // qualifies, or the next lattice value does — nothing sits between)
      .select(col("flag"),
        when(col("s10l.pc").cast("double") >= col("lo"),
          col("s10l.cum") - col("s10l.cnt")).otherwise(col("s10l.cum")).as("nExcl"),
        when(col("s10l.pc").cast("double") >= col("lo"),
          col("s10l.cumv") - col("s10l.pc") * col("s10l.cnt"))
          .otherwise(col("s10l.cumv")).as("sExcl"),
        when(col("s90h.pc").cast("double") <= col("hi"), col("s90h.cum"))
          .otherwise(col("s90l.cum")).as("nThru"),
        when(col("s90h.pc").cast("double") <= col("hi"), col("s90h.cumv"))
          .otherwise(col("s90l.cumv")).as("sThru"))
      .select(col("flag"), (col("nThru") - col("nExcl")).as("n_kept"),
        (round((col("sThru") - col("sExcl")).cast("double") /
          (col("nThru") - col("nExcl")).cast("double") / lit(100.0), 4)
          + lit(0.0)).as("trimmed_mean"))
      .orderBy("flag")
  }

  /** Quantity-weighted median price per return flag: on the distinct
    * price lattice the quantity-mass cumulates (flag-keyed window) and
    * the median is the first value whose doubled cumulative weight
    * reaches the total — all integer, no interpolation ambiguity.
    */
  def q_weighted_median(spark: SparkSession, sf: String): DataFrame = {
    val lat = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), cents(col("l_extendedprice")).as("pc"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("flag"), col("pc"))
      .agg(sum(col("q")).as("w"))
    val win = Window.partitionBy("flag").orderBy("pc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lat
      .withColumn("cum", sum(col("w")).over(win))
      .withColumn("tot", sum(col("w")).over(Window.partitionBy("flag")))
      .groupBy(col("flag"))
      .agg(max(col("tot")).as("total_weight"),
        min(when(col("cum") * 2 >= col("tot"), col("pc"))).as("wmedian_cents"))
      .orderBy("flag")
  }

  /** The MapReduce combiner pattern made auditable: per-day partial
    * sufficient statistics (n, Σ, Σ² in decimal) merged to global moments
    * beside the same moments from one direct scan — byte-identical
    * because the statistics are exact integers, which is the entire
    * argument for partial aggregation at 100 TB.
    */
  def q_stats_merge_audit(spark: SparkSession, sf: String): DataFrame = {
    val raw = Tables.orders(spark, sf)
      .select(date_trunc("day", col("o_orderdate")).as("day"),
        cents(col("o_totalprice")).as("tp"))
    val partials = raw.groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("tp")).as("s"),
        sum(expr("CAST(tp AS decimal(38,0)) * tp")).as("ss"))
    val merged = partials.agg(count(lit(1)).as("n_partitions"),
      sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("ss")).as("ss"))
    val direct = raw.agg(count(lit(1)).as("dn"), sum(col("tp")).as("dsum"),
      sum(expr("CAST(tp AS decimal(38,0)) * tp")).as("dss"))
    def mean(s: Column, n: Column) = s.cast("double") / n.cast("double")
    def variance(ss: Column, s: Column, n: Column) =
      (ss.cast("double") - s.cast("double") * s.cast("double") / n.cast("double")) /
        (n.cast("double") - lit(1.0))
    merged.crossJoin(broadcast(direct))
      .select(col("n_partitions"), col("n"),
        (round(mean(col("s"), col("n")), 4) + lit(0.0)).as("merged_mean"),
        (round(variance(col("ss"), col("s"), col("n")), 4) + lit(0.0)).as("merged_var"),
        (round(mean(col("dsum"), col("dn")), 4) + lit(0.0)).as("direct_mean"),
        (round(variance(col("dss"), col("dsum"), col("dn")), 4) + lit(0.0)).as("direct_var"))
  }

  /** Correlated EXISTS through the SQL-string entry path (E2): customers
    * per segment holding at least one urgent order — Catalyst rewrites
    * the correlated predicate into a left-semi hash join; declaring it
    * as EXISTS (not a manual join) is exactly what lets the optimizer
    * pick broadcast-vs-shuffle per scale.
    */
  def q_subquery_exists(spark: SparkSession, sf: String): DataFrame = {
    Tables.customer(spark, sf).createOrReplaceTempView("customer_v")
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    spark.sql("""
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_with_urgent
      FROM customer_v c
      WHERE EXISTS (SELECT 1 FROM orders_v o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** IN / NOT IN subqueries as scalar counts (E2 SQL path): parts ever vs
    * never sold — the rewrite targets are a semi and an anti join (the
    * key columns are non-null, so NOT IN's three-valued trap is inert,
    * noted here because at 100 TB a null-laden NOT IN silently empties).
    */
  def q_subquery_in(spark: SparkSession, sf: String): DataFrame = {
    Tables.part(spark, sf).createOrReplaceTempView("part_v")
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    spark.sql("""
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM part_v
         WHERE p_partkey IN (SELECT l_partkey FROM lineitem_v)) AS n_parts_sold,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM part_v
         WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem_v)) AS n_parts_never_sold""")
  }

  /** FILTER-clause aggregates (E2 SQL path): per flag the overall count
    * beside filtered count/sum aggregates — one scan computes all three,
    * the idiom that replaces three self-joined subqueries.
    */
  def q_agg_filter_clause(spark: SparkSession, sf: String): DataFrame = {
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    spark.sql("""
      SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
             CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
                    FILTER (WHERE CAST(ROUND(l_discount*100) AS BIGINT) = 0), 0)
               AS BIGINT) AS rev_nodisc_cents
      FROM lineitem_v GROUP BY 1 ORDER BY 1""")
  }

  /** Entity-resolution blocking audit: candidate blocks keyed by
    * (segment, nation, $1000 balance band); block-size distribution and
    * the exact candidate-pair count vs the full N² — the scalability
    * check that decides whether a fuzzy-match pass is runnable at all.
    * One aggregate over the blocks; s·(s−1)/2 stays integer-exact.
    */
  def q_blocking_stats(spark: SparkSession, sf: String): DataFrame = {
    val blocks = Tables.customer(spark, sf)
      // +100000 offset keeps the band numerator positive — balances can be
      // negative and trunc-vs-floor integer division differs there
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        expr("(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) div 100000").as("band"))
      .agg(count(lit(1)).as("s"))
    blocks.agg(count(lit(1)).as("n_blocks"), sum(col("s")).as("n_rows"),
      max(col("s")).as("max_block"),
      sum(expr("s * (s - 1) div 2")).as("cand_pairs"))
      .select(col("n_rows"), col("n_blocks"), col("max_block"), col("cand_pairs"),
        expr("n_rows * (n_rows - 1) div 2").as("total_pairs"),
        expr("cand_pairs * 1000000 div (n_rows * (n_rows - 1) div 2)")
          .as("cand_share_e6"))
  }

  /** CUBE with grouping_id()/grouping() — the metadata columns a BI layer
    * uses to tell subtotal rows apart (flag = MSB, status = LSB on both
    * engines). Completes the §2.4 grouped-aggregate surface.
    */
  def q_grouping_id(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_linestatus"), cents(col("l_extendedprice")).as("pc"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"),
        count(lit(1)).as("n"), sum(col("pc")).as("rev_cents"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("gid"), col("g_flag"), col("g_status"), col("n"), col("rev_cents"))
      .orderBy("gid", "flag", "status")

  /** Referential-integrity audit across every FK relation in the star
    * schema: child row count and orphan count per relation (one outer
    * join each, unioned into the report). The ingest gate a warehouse
    * runs before exposing a snapshot.
    */
  def q_fk_integrity(spark: SparkSession, sf: String): DataFrame = {
    def rel(name: String, child: DataFrame, fk: String,
            parent: DataFrame, pk: String): DataFrame =
      child.select(col(fk)).join(parent.select(col(pk)).distinct(),
        col(fk) === col(pk), "left_outer")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relation"), col("n_child"), col("n_orphans"))
    rel("customer->nation", Tables.customer(spark, sf), "c_nationkey",
      Tables.nation(spark, sf), "n_nationkey")
      .unionByName(rel("lineitem->orders", Tables.lineitem(spark, sf), "l_orderkey",
        Tables.orders(spark, sf), "o_orderkey"))
      .unionByName(rel("lineitem->part", Tables.lineitem(spark, sf), "l_partkey",
        Tables.part(spark, sf), "p_partkey"))
      .unionByName(rel("lineitem->supplier", Tables.lineitem(spark, sf), "l_suppkey",
        Tables.supplier(spark, sf), "s_suppkey"))
      .unionByName(rel("orders->customer", Tables.orders(spark, sf), "o_custkey",
        Tables.customer(spark, sf), "c_custkey"))
      .orderBy("relation")
  }

  /** Discrete vs continuous percentiles side by side (p50/p90 of the
    * extended price per return flag): the discrete quantile returns an
    * actual element of the column, the continuous one interpolates — the
    * semantic difference every SLA/reporting consumer eventually trips on.
    *
    * The discrete rule is computed EXPLICITLY with pure integer rank
    * arithmetic (smallest value whose cumulative count `cum·10 ≥ p·10·n`)
    * over a (flag, value) histogram, identically on both engines — the
    * builtin `percentile_disc` and a hand-written oracle disagreed on
    * `p·n` double rounding for at least one group (r02/r03 hash fails).
    * The histogram keeps the cumulative window over DISTINCT values only
    * (bounded by the value domain, not the row count — the same shape as
    * q_hist_equidepth), so no global row sort at any scale.
    */
  def q_percentile_disc(spark: SparkSession, sf: String): DataFrame = {
    val b = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), cents(col("l_extendedprice")).as("pc"))
    // checkpointed lattice + ONE shared BandedScan: the continuous and
    // discrete rules both read the same prefix-scanned histogram — the
    // former shape re-scanned lineitem and re-ran the banded windows for
    // each rule (6.5 s isolated at sf0.1; ~1.5 s after)
    val hist = Mat.once(b.groupBy(col("flag"), col("pc")).agg(count(lit(1)).as("cnt")))
    val cum = BandedScan.cumSums(hist, Seq("flag"), "pc", Seq("cnt" -> "cum"))
    val nAgg = hist.groupBy(col("flag")).agg(sum(col("cnt")).as("n"))
    val cont = latticePercentilesFromCum(cum, nAgg, Seq("flag"),
        Seq(0.5 -> "c50", 0.9 -> "c90"))
      .select(col("flag"), col("n"),
        (round(col("c50"), 4) + lit(0.0)).as("p50_cont"),
        (round(col("c90"), 4) + lit(0.0)).as("p90_cont"))
    val disc = cum
      .join(broadcast(nAgg.select(col("flag"), col("n").as("nn"))), "flag")
      .groupBy(col("flag"))
      .agg(min(when(col("cum") * 10 >= col("nn") * 5, col("pc"))).as("p50_disc"),
        min(when(col("cum") * 10 >= col("nn") * 9, col("pc"))).as("p90_disc"))
    cont.join(disc, "flag")
      .select(col("flag"), col("n"), col("p50_disc"), col("p90_disc"),
        col("p50_cont"), col("p90_cont"))
      .orderBy("flag")
  }

  /** Surrogate-key generation audit: md5 hash keys derived from each
    * dimension's natural business key (never a sequence —
    * monotonically_increasing_id is nondeterministic and unjoinable
    * across recomputes at fleet scale). Reports natural-key duplicates,
    * hash collisions (md5 distinct < natural distinct — should be 0),
    * and first-nibble bucket skew (max share e4 + uniformity χ², 16
    * buckets) — the checks run before trusting hash keys for
    * bucketed-join layout.
    */
  def q_surrogate_hash_audit(spark: SparkSession, sf: String): DataFrame = {
    def audit(df: DataFrame, name: String, key: Column): DataFrame = {
      val keyed = df.select(key.cast("string").as("nk"),
        md5(key.cast("string").cast("binary")).as("sk"))
      val base = keyed.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("nk")).as("n_natural"),
        countDistinct(col("sk")).as("n_hash"))
      val buckets = keyed.select(substring(col("sk"), 1, 1).as("nib"), col("sk"))
        .distinct()
        .groupBy(col("nib")).agg(count(lit(1)).as("c"))
      val skew = buckets.agg(sum(col("c")).as("t"), max(col("c")).as("mx"),
        sum(expr("CAST(c AS DOUBLE) * CAST(c AS DOUBLE)")).as("ssq"))
        .select(expr("mx * 10000 div t").as("max_bucket_e4"),
          (round(expr(
            "ssq * 16.0 / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE))") - lit(1.0), 6)
            + lit(0.0)).as("skew_index"))
      base.crossJoin(skew).select(lit(name).as("table_name"), col("n_rows"),
        col("n_natural"), col("n_hash"),
        (col("n_natural") - col("n_hash")).as("n_collisions"),
        col("max_bucket_e4"), col("skew_index"))
    }
    audit(Tables.customer(spark, sf), "customer", col("c_name"))
      .unionByName(audit(Tables.supplier(spark, sf), "supplier", col("s_name")))
      .unionByName(audit(Tables.part(spark, sf), "part",
        concat_ws("|", col("p_name"), col("p_brand"), col("p_size"))))
      .orderBy("table_name")
  }

  /** Order→first-ship latency in BUSINESS days per priority: weekends
    * excluded by closed-form calendar arithmetic (full weeks × 5 plus a
    * remainder adjusted by whether Saturday/Sunday fall inside it) — no
    * calendar table join, so the expression stays inside whole-stage
    * codegen on the fact scan. The civil-day sibling is q_sla_days.
    */
  def q_business_days(spark: SparkSession, sf: String): DataFrame = {
    val fs = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(min(col("l_shipdate")).as("first_ship"))
    fs.join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("first_ship").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days"),
        weekday(col("o_orderdate")).cast("long").as("w1"))
      .select(col("priority"),
        (expr("(days div 7) * 5 + days % 7") -
          when(expr("(5 - w1 + 7) % 7").between(1, expr("days % 7")), 1L).otherwise(0L) -
          when(expr("(6 - w1 + 7) % 7").between(1, expr("days % 7")), 1L).otherwise(0L))
          .as("bd"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("bd")).as("total_bd"),
        max(col("bd")).as("max_bd"))
      .select(col("priority"), col("n_orders"), col("total_bd"), col("max_bd"),
        expr("total_bd * 10000 div n_orders").as("mean_bd_e4"))
      .orderBy("priority")
  }

  /** Skyline (Pareto frontier) of parts on (min price, max size). The
    * naive operator is an O(N²) dominance anti-join; this is the scalable
    * two-step: per price keep only the max size (anything smaller at the
    * same price is strictly dominated — one hash aggregate), then a
    * running-max sweep over the price-sorted survivors. The global window
    * runs on the price-DISTINCT table, not the fact table, so the
    * single-partition sort is bounded by price cardinality at any scale.
    */
  def q_skyline(spark: SparkSession, sf: String): DataFrame = {
    val pts = Tables.part(spark, sf)
      .select(cents(col("p_retailprice")).as("rc"), col("p_size").cast("long").as("sz"),
        col("p_partkey"))
    val best = pts.groupBy(col("rc")).agg(max(col("sz")).as("sz"))
      .withColumn("band", expr("rc div 10000"))
    // two-level prefix max: in-band running max (keyed window) + band-level
    // prefix via a theta join over the ~tens-of-bands table — the scalable
    // replacement for a partition-less global window
    val wIn = Window.partitionBy(col("band")).orderBy(col("rc").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bandMax = best.groupBy(col("band")).agg(max(col("sz")).as("bmax"))
    val bandPrev = bandMax.as("a")
      .join(bandMax.select(col("band").as("b2"), col("bmax").as("m2")).as("b"),
        col("b.b2") < col("a.band"), "left_outer")
      .groupBy(col("a.band").as("band")).agg(max(col("m2")).as("pband"))
    val frontier = best.withColumn("pin", max(col("sz")).over(wIn))
      .join(bandPrev, "band")
      .withColumn("pm", greatest(coalesce(col("pin"), lit(-1L)), coalesce(col("pband"), lit(-1L))))
      .filter(col("sz") > col("pm"))
      .select(col("rc"), col("sz"))
    frontier.join(pts, Seq("rc", "sz"))
      .groupBy(col("rc"), col("sz"))
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("min_partkey"))
      .orderBy("rc")
  }

  /** Greedy-prefix knapsack: select parts in value-density order
    * (retail cents per size unit, e4) until the cumulative size exceeds
    * the 1000-unit budget — the fractional-knapsack greedy minus the
    * fractional item. One running-sum window over the density-sorted
    * list; the budget bound means only the head of the sort matters
    * (TakeOrdered shape at scale, never a full materialized sort).
    */
  def q_knapsack_greedy(spark: SparkSession, sf: String): DataFrame = {
    val items = Tables.part(spark, sf)
      .select(col("p_partkey"), cents(col("p_retailprice")).as("vc"),
        col("p_size").cast("long").as("sz"))
      .select(col("p_partkey"), col("vc"), col("sz"),
        expr("vc * 10000 div sz").as("density_e4"))
      .withColumn("band", expr("density_e4 div 1000000"))
    // two-level prefix sum (in-band keyed window + theta join over band
    // totals) — no partition-less global window, same result
    val wIn = Window.partitionBy(col("band"))
      .orderBy(col("density_e4").desc, col("p_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val bandSum = items.groupBy(col("band")).agg(sum(col("sz")).as("bsz"))
    val bandPrev = bandSum.as("a")
      .join(bandSum.select(col("band").as("b2"), col("bsz").as("s2")).as("b"),
        col("b.b2") > col("a.band"), "left_outer")
      .groupBy(col("a.band").as("band")).agg(sum(col("s2")).as("psum"))
    items.withColumn("in_cum", sum(col("sz")).over(wIn))
      .join(bandPrev, "band")
      .withColumn("cum_sz", col("in_cum") + coalesce(col("psum"), lit(0L)))
      .filter(col("cum_sz") <= 1000L)
      .agg(count(lit(1)).as("n_selected"), sum(col("sz")).as("total_size"),
        sum(col("vc")).as("total_value_cents"), min(col("density_e4")).as("marginal_density_e4"))
      .select(lit(1000L).as("budget"), col("n_selected"), col("total_size"),
        col("total_value_cents"), col("marginal_density_e4"))
  }

  /** Psychological price-point analysis: the distribution of retail-price
    * cent endings (rc mod 100) — the ".99 effect" screen a pricing team
    * runs on a catalog. One aggregate + share arithmetic; top 10 endings.
    */
  def q_price_endings(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.part(spark, sf)
      .select((cents(col("p_retailprice")) % 100).as("ending"))
      .groupBy(col("ending")).agg(count(lit(1)).as("n_parts"))
    val tot = e.agg(sum(col("n_parts")).as("t"))
    e.crossJoin(broadcast(tot))
      .select(col("ending"), col("n_parts"), expr("n_parts * 10000 div t").as("share_e4"))
      .orderBy(col("n_parts").desc, col("ending").asc)
      .limit(10)
  }

  /** Consistent-hashing ring rebalance audit: customers are placed on a
    * hash ring with 4 virtual nodes per shard; adding a 9th shard moves
    * only the keys that land on its vnodes' arcs. Reports per-shard key
    * counts before/after and the moved-key share — the ~1/9 movement
    * guarantee that motivates consistent hashing over mod-N (which would
    * move 8/9). The key→vnode lookup is a broadcast theta join against
    * the ≤36-row vnode table.
    *
    * Counts are over DISTINCT RING POSITIONS (the 32-bit key hashes),
    * not customer rows: two custkeys colliding on h are one
    * indistinguishable point on the ring and move together, so the
    * position is the natural unit of the audit. The distinction first
    * binds at sf1 (≈260 birthday collisions among 1.5M keys in the 2³²
    * space — caught by the round-9 sf1 oracle pass, where the oracle's
    * per-row self-join also inflated collided keys k²); the oracle now
    * dedups to the same position space. Graded scales have no
    * collisions, so results there are unchanged.
    */
  def q_consistent_hash_rebalance(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    def vnodes(nShards: Int): DataFrame =
      spark.range(nShards.toLong).select(col("id").as("shard"))
        .crossJoin(spark.range(4).select(col("id").as("vn")))
        .select(col("shard"),
          hash32(concat(lit("shard"), col("shard"), lit("#v"), col("vn"))).as("pos"))
    val keys = Tables.customer(spark, sf).select(hash32(col("c_custkey")).as("h"))
    def assign(vn: DataFrame): DataFrame = {
      val wrap = vn.orderBy(col("pos").asc).limit(1)
        .select(col("shard").as("wrap_shard"))
      keys.crossJoin(broadcast(vn))
        .filter(col("pos") >= col("h"))
        .groupBy(col("h"))
        .agg(min(struct(col("pos"), col("shard"))).as("m"))
        .select(col("h"), col("m.shard").as("shard"))
        .unionByName(
          keys.join(vn.groupBy().agg(max(col("pos")).as("mx")).crossJoin(wrap),
            col("h") > col("mx"))
            .select(col("h"), col("wrap_shard").as("shard")))
    }
    val before = assign(vnodes(8)).withColumnRenamed("shard", "shard8")
    val after = assign(vnodes(9)).withColumnRenamed("shard", "shard9")
    // one row per ring position; the per-shard ledger AND the movement
    // total both read it — lazy, both full assignments ran twice
    // (round 10 plan audit: 80 Exchange nodes without it)
    val j = Mat.once(before.join(after, "h"))
    val perShard = j.groupBy(col("shard9").as("shard"))
      .agg(count(lit(1)).as("n_keys_after"),
        sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L)).as("n_arrived"))
    val tot = j.agg(count(lit(1)).as("t"),
      sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L)).as("moved"))
    perShard.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_keys_after"), col("n_arrived"),
        expr("moved * 10000 div t").as("total_moved_share_e4"))
      .orderBy("shard")
  }

  /** Z-order (Morton) layout locality audit: parts are laid out by the
    * bit-interleave of 4-bit price and size buckets, grouped into 16
    * contiguous "files". For a 4-bucket price-band predicate, the audit
    * counts files touched under Z-order vs under a price-linear layout —
    * the two-dimensional-skipping argument for Z-ordering, measured not
    * asserted. Bit mixing is plain integer arithmetic, codegen-friendly.
    */
  def q_zorder_locality(spark: SparkSession, sf: String): DataFrame = {
    val pts = Tables.part(spark, sf)
      .select(cents(col("p_retailprice")).as("rc"), col("p_size").cast("long").as("sz"))
    val mx = pts.agg(max(col("rc")).as("mrc"), max(col("sz")).as("msz"))
    val bucketed = pts.crossJoin(broadcast(mx))
      .select(expr("least(15, rc * 16 div (mrc + 1))").as("px"),
        expr("least(15, sz * 16 div (msz + 1))").as("sy"))
    val morton = bucketed.select(col("px"), col("sy"),
      expr("""((px div 1) % 2) * 2 + ((sy div 1) % 2) * 1
              + ((px div 2) % 2) * 8 + ((sy div 2) % 2) * 4
              + ((px div 4) % 2) * 32 + ((sy div 4) % 2) * 16
              + ((px div 8) % 2) * 128 + ((sy div 8) % 2) * 64""").as("z"))
    val filed = morton.select(col("px"), col("sy"),
      expr("z div 16").as("zfile"), col("px").as("linfile"))
    val hit = filed.filter(col("px").between(4, 7))
    val stats = hit.agg(count(lit(1)).as("n_match"),
      countDistinct(col("zfile")).as("z_files_touched"),
      countDistinct(col("linfile")).as("linear_files_touched"))
    val totals = filed.agg(count(lit(1)).as("n_rows"),
      countDistinct(col("zfile")).as("z_files_total"))
    stats.crossJoin(totals)
      .select(col("n_rows"), col("n_match"),
        expr("n_match * 10000 div n_rows").as("selectivity_e4"),
        col("z_files_touched"), col("z_files_total"), col("linear_files_touched"))
  }

  /** Join-cardinality estimation audit: the textbook |R|·|S|/max(ndv)
    * estimate against the true join size for the two fact joins — the
    * q-error a cost-based optimizer lives or dies by. All counts exact;
    * the estimate uses floor division identically on both engines.
    */
  def q_cardinality_estimation(spark: SparkSession, sf: String): DataFrame = {
    def audit(name: String, l: DataFrame, lk: String, r: DataFrame, rk: String): DataFrame = {
      val ls = l.agg(count(lit(1)).as("nl"), countDistinct(col(lk)).as("dl"))
      val rs = r.agg(count(lit(1)).as("nr"), countDistinct(col(rk)).as("dr"))
      val actual = l.join(r, col(lk) === col(rk)).agg(count(lit(1)).as("actual"))
      ls.crossJoin(rs).crossJoin(actual)
        .select(lit(name).as("join_name"), col("nl"), col("nr"),
          col("dl"), col("dr"),
          expr("CAST(CAST(nl AS decimal(38,0)) * nr div greatest(dl, dr) AS BIGINT)").as("estimated"),
          col("actual"))
        .select(col("join_name"), col("nl"), col("nr"), col("dl"), col("dr"),
          col("estimated"), col("actual"),
          expr("greatest(estimated * 10000 div actual, actual * 10000 div estimated)")
            .as("q_error_e4"))
    }
    audit("lineitem_orders", Tables.lineitem(spark, sf), "l_orderkey",
      Tables.orders(spark, sf), "o_orderkey")
      .unionByName(audit("lineitem_part", Tables.lineitem(spark, sf), "l_partkey",
        Tables.part(spark, sf), "p_partkey"))
      .orderBy("join_name")
  }

  /** Largest-remainder (Hamilton) apportionment of 1000 slots across
    * market segments by customer count: exact floor quotas, leftover
    * slots to the largest remainders (remainders are EXACT integers —
    * nᵢ·1000 mod N — so no float ever enters). The same algorithm
    * allocates samples to strata, executors to queues, seats to parties.
    */
  def q_largest_remainder(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment").as("segment")).agg(count(lit(1)).as("ni"))
    val tot = g.agg(sum(col("ni")).as("n"))
    val quotas = g.crossJoin(broadcast(tot))
      .select(col("segment"), col("ni"),
        expr("ni * 1000 div n").as("floor_seats"),
        expr("(ni * 1000) % n").as("rem"))
    val used = quotas.agg(sum(col("floor_seats")).as("used"))
    val ranked = quotas.as("a")
      .join(quotas.select(col("segment").as("s2"), col("rem").as("r2")).as("b"),
        col("r2") > col("rem") || (col("r2") === col("rem") && col("s2") < col("segment")),
        "left_outer")
      .groupBy(col("a.segment").as("segment"), col("a.ni").as("ni"),
        col("a.floor_seats").as("floor_seats"), col("a.rem").as("rem"))
      .agg(count(col("s2")).as("rk"))
    ranked.crossJoin(broadcast(used))
      .select(col("segment"), col("ni"), col("floor_seats"), col("rem"),
        when(col("rk") < lit(1000L) - col("used"), 1L).otherwise(0L).as("extra_seat"))
      .select(col("segment"), col("ni"), col("floor_seats"), col("extra_seat"),
        (col("floor_seats") + col("extra_seat")).as("seats"))
      .orderBy("segment")
  }

  /** Zone-map (min/max statistics) pruning audit: parts land in 16
    * partkey-range "files"; for a retail-price band predicate, a file
    * can be skipped iff its [min,max] price range misses the band. The
    * report counts candidate files (zone-map overlap) vs files with true
    * matches — the false-keep gap IS the benefit a sort/Z-order layout
    * would add. Two aggregates over derived file keys.
    */
  def q_zone_map_pruning(spark: SparkSession, sf: String): DataFrame = {
    val pts = Tables.part(spark, sf)
      .select(col("p_partkey"), cents(col("p_retailprice")).as("rc"))
    val mx = pts.agg(max(col("p_partkey")).as("mk"))
    val filed = pts.crossJoin(broadcast(mx))
      .select(expr("least(15, p_partkey * 16 div (mk + 1))").as("file"), col("rc"))
    val zones = filed.groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"), min(col("rc")).as("zmin"), max(col("rc")).as("zmax"),
        sum(when(col("rc").between(100000L, 120000L), 1L).otherwise(0L)).as("n_match"))
    zones
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("n_match")).as("n_match_rows"),
        sum(when(col("zmax") >= 100000L && col("zmin") <= 120000L, 1L).otherwise(0L))
          .as("files_kept_by_zonemap"),
        sum(when(col("n_match") > 0L, 1L).otherwise(0L)).as("files_with_matches"))
      .select(col("n_files"), col("n_rows"), col("n_match_rows"),
        col("files_kept_by_zonemap"), col("files_with_matches"),
        (col("files_kept_by_zonemap") - col("files_with_matches")).as("false_keeps"))
  }

  /** ETL row-count reconciliation across the fact join chain: lineitem
    * rows in, rows surviving the orders join and the part join, plus the
    * dangling-key accounting at each hop — the lineage audit a pipeline
    * runs after every load to prove no rows silently vanished. Exact
    * counts; anti-joins name the drop reasons.
    */
  def q_etl_reconciliation(spark: SparkSession, sf: String): DataFrame = {
    val l = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(spark, sf).select(col("o_orderkey"))
    val p = Tables.part(spark, sf).select(col("p_partkey"))
    val base = l.agg(count(lit(1)).as("lineitem_rows"))
    val afterO = l.join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("after_orders_join"))
    val afterOP = l.join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
      .agg(count(lit(1)).as("after_part_join"))
    val orphanO = l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("dropped_no_order"))
    val orphanP = l.join(p, col("l_partkey") === col("p_partkey"), "left_anti")
      .agg(count(lit(1)).as("dropped_no_part"))
    val emptyO = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orders_without_lines"))
    base.crossJoin(afterO).crossJoin(afterOP).crossJoin(orphanO).crossJoin(orphanP)
      .crossJoin(emptyO)
      .select(col("lineitem_rows"), col("after_orders_join"), col("after_part_join"),
        col("dropped_no_order"), col("dropped_no_part"), col("orders_without_lines"),
        (col("lineitem_rows") - col("after_part_join")).as("total_dropped"))
  }

  /** Cost-based join-order selection for the lineitem ⋈ orders ⋈
    * customer chain: both left-deep orders' estimated intermediate sizes
    * from the |R|·|S|/max(ndv) rule, the chosen order, and the actual
    * intermediate cardinalities — the enumerate-estimate-choose core of
    * a Selinger optimizer at its smallest. Exact counts; estimates use
    * decimal headroom.
    */
  def q_join_order_choice(spark: SparkSession, sf: String): DataFrame = {
    val l = Tables.lineitem(spark, sf).select(col("l_orderkey"))
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sf).select(col("c_custkey"))
    val stats = l.agg(count(lit(1)).as("nl"), countDistinct(col("l_orderkey")).as("dlo"))
      .crossJoin(o.agg(count(lit(1)).as("no"), countDistinct(col("o_orderkey")).as("doo"),
        countDistinct(col("o_custkey")).as("doc")))
      .crossJoin(c.agg(count(lit(1)).as("nc"), countDistinct(col("c_custkey")).as("dcc")))
    val actLO = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("act_lo"))
    val actOC = o.join(c, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("act_oc"))
    stats.crossJoin(actLO).crossJoin(actOC)
      .select(
        expr("CAST(CAST(nl AS decimal(38,0)) * no div greatest(dlo, doo) AS BIGINT)")
          .as("est_lo_first"),
        expr("CAST(CAST(no AS decimal(38,0)) * nc div greatest(doc, dcc) AS BIGINT)")
          .as("est_oc_first"),
        col("act_lo").as("actual_lo"), col("act_oc").as("actual_oc"))
      .select(col("est_lo_first"), col("est_oc_first"), col("actual_lo"), col("actual_oc"),
        when(col("est_oc_first") < col("est_lo_first"), "orders_customer_first")
          .otherwise("lineitem_orders_first").as("chosen_order"))
  }

  /** k-anonymity / l-diversity audit of the customer table under the
    * (segment, nation) quasi-identifier: equivalence-class sizes, the
    * minimum k, rows needing suppression at k<5, and the minimum
    * sensitive-attribute diversity per class — the privacy screen run
    * before any "anonymized" extract leaves the warehouse.
    */
  def q_k_anonymity(spark: SparkSession, sf: String): DataFrame = {
    val classes = Tables.customer(spark, sf)
      .select(col("c_mktsegment"), col("c_nationkey"),
        when(col("c_acctbal") >= 0.0, 1L).otherwise(0L).as("sens"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("k"), countDistinct(col("sens")).as("l"))
    classes.agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"),
      min(col("k")).as("min_k"), max(col("k")).as("max_k"),
      sum(when(col("k") < 5, col("k")).otherwise(0L)).as("rows_below_k5"),
      min(col("l")).as("min_l_diversity"))
      .select(col("n_classes"), col("n_rows"), col("min_k"), col("max_k"),
        col("rows_below_k5"),
        expr("rows_below_k5 * 10000 div n_rows").as("suppression_share_e4"),
        col("min_l_diversity"))
  }

  /** Run-length-encoding benefit audit for the columnar layout: within
    * each order (the natural write batch, linenumber order) count value
    * runs of the two low-cardinality flag columns; rows-per-run e4 is
    * the compression multiple RLE would deliver on the current sort
    * order. Keyed lag windows only (per order — bounded rows, never a
    * global sort); the question this answers at fleet scale is "is this
    * table worth Z-ordering before parquet-writing".
    */
  def q_rle_benefit(spark: SparkSession, sf: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique — tie-break by the flag
    // values themselves so the run count is engine-deterministic
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "rf", "ls")
    val runs = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .select(
        when(lag(col("rf"), 1).over(w).isNull ||
          lag(col("rf"), 1).over(w) =!= col("rf"), 1L).otherwise(0L).as("rf_start"),
        when(lag(col("ls"), 1).over(w).isNull ||
          lag(col("ls"), 1).over(w) =!= col("ls"), 1L).otherwise(0L).as("ls_start"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("rf_start")).as("rf_runs"), sum(col("ls_start")).as("ls_runs"))
    runs.select(lit("l_returnflag").as("column_name"), col("n_rows"),
        col("rf_runs").as("n_runs"),
        expr("n_rows * 10000 div rf_runs").as("rows_per_run_e4"))
      .unionByName(runs.select(lit("l_linestatus").as("column_name"), col("n_rows"),
        col("ls_runs").as("n_runs"),
        expr("n_rows * 10000 div ls_runs").as("rows_per_run_e4")))
      .orderBy("column_name")
  }

  // ---- §2.157 storage codec audit — Shannon bound, delta bits, dictionary ----

  /** Exact ⌈log2(n/c)⌉ via a double-log seed k0 (undershot by 1) and an
    * integer shift correction — the double only has to land within ±1 of
    * the truth, the `c·2^k ≥ n` checks are exact BIGINT, so both engines
    * agree bit-for-bit at any magnitude. `cCol`/`nCol` must be positive
    * BIGINT column names; result is BIGINT.
    */
  private def ceilLog2Ratio(cCol: String, nCol: String): (String, String) = (
    s"CAST(GREATEST(0.0, FLOOR(LN(CAST($nCol AS DOUBLE)/CAST($cCol AS DOUBLE))" +
      s"/LN(2.0)) - 1) AS INT)",
    s"CASE WHEN $cCol * shiftleft(CAST(1 AS BIGINT), k0) >= $nCol " +
      s"THEN CAST(k0 AS BIGINT) " +
      s"WHEN $cCol * shiftleft(CAST(1 AS BIGINT), k0 + 1) >= $nCol " +
      s"THEN CAST(k0 + 1 AS BIGINT) ELSE CAST(k0 + 2 AS BIGINT) END")

  /** Shannon code-length bound for entropy-coding the event_type column:
    * per symbol the ⌈log2(1/p)⌉ Shannon code bits (exact integers via
    * shift-corrected log), its e6 probability, its e6 expected-bits
    * contribution, and the r6 entropy term — the "how far from the
    * entropy floor is a prefix code" audit, H ≤ L < H+1 gated in the
    * spec. One aggregate; the symbol table is alphabet-bounded.
    */
  def q_shannon_code_bound(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.table(spark, sf, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val tot = g.agg(sum(col("cnt")).as("n"))
    val (k0, k) = ceilLog2Ratio("cnt", "n")
    g.crossJoin(broadcast(tot))
      .withColumn("k0", expr(k0))
      .withColumn("shannon_bits", expr(k))
      .select(col("event_type"), col("cnt"),
        expr("cnt * 1000000 div n").as("p_e6"),
        col("shannon_bits"),
        expr("cnt * shannon_bits * 1000000 div n").as("contribution_bits_e6"),
        (expr("ROUND(-(CAST(cnt AS DOUBLE)/CAST(n AS DOUBLE)) * " +
          "(LN(CAST(cnt AS DOUBLE)/CAST(n AS DOUBLE))/LN(2.0)), 6)") + lit(0.0))
          .as("entropy_term"))
      .orderBy("event_type")
  }

  /** Delta-encoding audit of per-user event timestamp streams: each
    * user's sorted ts gaps take bitwidth(gap) = ⌈log2(gap+1)⌉ bits
    * instead of 64; the histogram over gap widths reports how many gaps
    * land in each width and the bits saved vs plain int64 — the
    * parquet/time-series codec question "is this stream delta-friendly".
    * Keyed lag windows only; widths are exact via the shift-corrected
    * log, so both engines agree at any gap magnitude.
    */
  def q_delta_bits_audit(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_usl", "event_id")
    val gaps = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("ts_usl"), col("event_id"))
      .select(col("user_id"),
        (col("ts_usl") - lag(col("ts_usl"), 1).over(w)).as("gap"))
      .filter(col("gap").isNotNull)
      .select(col("user_id"), (col("gap") + 1L).as("gp1"))
    val one = lit(1L).cast("long")
    val (k0, k) = ceilLog2Ratio("one", "gp1")
    gaps.withColumn("one", one)
      .withColumn("k0", expr(k0))
      .withColumn("width_bits", expr(k))
      .groupBy(col("width_bits"))
      .agg(count(lit(1)).as("n_gaps"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("width_bits"), col("n_gaps"), col("n_users"),
        ((lit(64L) - col("width_bits")) * col("n_gaps")).as("saved_bits"))
      .orderBy("width_bits")
  }

  /** Dictionary-encoding audit for five low-cardinality string columns:
    * raw bits (8·Σ chars — the fixtures are ASCII, chars = bytes, the
    * contract both engines share), dictionary bits (8·Σ distinct-value
    * chars + n·⌈log2(d)⌉ index bits, exact), and the e4 savings share —
    * the "should this column be DICT-encoded in parquet" scorecard. Two
    * aggregates per column; the union is column-bounded.
    */
  def q_dict_encoding_audit(spark: SparkSession, sf: String): DataFrame = {
    def audit(df: DataFrame, c: String, label: String): DataFrame = {
      val base = Mat.once(df.select(col(c).as("v")))
      val n = base.agg(count(lit(1)).as("n"),
        sum(length(col("v")).cast("long")).as("sum_len"))
      val d = base.distinct()
        .agg(count(lit(1)).as("d"),
          sum(length(col("v")).cast("long")).as("dict_len"))
      val (k0, k) = ceilLog2Ratio("one", "d")
      n.crossJoin(d)
        .withColumn("one", lit(1L).cast("long"))
        .withColumn("k0", expr(k0))
        .withColumn("index_bits", expr(k))
        .select(lit(label).as("column_name"), col("n").as("n_rows"),
          col("d").as("n_distinct"), col("index_bits"),
          (col("sum_len") * 8L).as("raw_bits"),
          (col("dict_len") * 8L + col("n") * col("index_bits")).as("dict_bits"))
        .select(col("column_name"), col("n_rows"), col("n_distinct"),
          col("index_bits"), col("raw_bits"), col("dict_bits"),
          expr("(raw_bits - dict_bits) * 10000 div raw_bits").as("savings_e4"))
    }
    audit(Tables.table(spark, sf, "events"), "event_type", "events.event_type")
      .unionByName(audit(Tables.documents(spark, sf), "lang", "documents.lang"))
      .unionByName(audit(Tables.documents(spark, sf), "source", "documents.source"))
      .unionByName(audit(Tables.customer(spark, sf), "c_mktsegment",
        "customer.c_mktsegment"))
      .unionByName(audit(Tables.orders(spark, sf), "o_orderpriority",
        "orders.o_orderpriority"))
      .orderBy("column_name")
  }

  /** Attribute-value-independence audit — the selectivity assumption
    * every textbook optimizer makes: est(A=a ∧ B=b) = n·(n_a/n)·(n_b/n)
    * vs the actual cell count on the (o_orderstatus, o_orderpriority)
    * contingency lattice, INCLUDING empty cells (the overestimates AVI
    * is famous for). Per-cell integer q-error e4; the lattice is
    * value-bounded (statuses × priorities), marginals broadcast.
    */
  def q_avi_selectivity(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"))
    val n = o.agg(count(lit(1)).as("n"))
    val na = o.groupBy(col("st")).agg(count(lit(1)).as("na"))
    val nb = o.groupBy(col("pr")).agg(count(lit(1)).as("nb"))
    val act = o.groupBy(col("st"), col("pr")).agg(count(lit(1)).as("act"))
    broadcast(na).crossJoin(broadcast(nb))
      .join(act, Seq("st", "pr"), "left_outer")
      .crossJoin(broadcast(n))
      .select(col("st").as("o_orderstatus"), col("pr").as("o_orderpriority"),
        col("na").as("n_status"), col("nb").as("n_priority"),
        coalesce(col("act"), lit(0L)).as("actual_rows"),
        expr("na * nb div n").as("est_rows"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("n_status"),
        col("n_priority"), col("actual_rows"), col("est_rows"),
        expr("greatest(actual_rows, est_rows) * 10000 div " +
          "greatest(1, least(actual_rows, est_rows))").as("q_error_e4"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** Equi-width-histogram range-selectivity estimation — the optimizer's
    * other workhorse: a 16-bucket histogram over o_totalprice cents,
    * then for three domain-derived ranges the interpolated estimate
    * Σ cnt_b·overlap_b div width vs the actual count, with the integer
    * q-error. All boundaries live on the exact cent lattice (width =
    * span div 16 + 1), so both engines build the identical histogram;
    * the 16-row histogram and 3-row range table broadcast.
    */
  def q_histogram_selectivity(spark: SparkSession, sf: String): DataFrame = {
    val pc = Mat.once(Tables.orders(spark, sf)
      .select(cents(col("o_totalprice")).as("pc")))
    val mm = pc.agg(min(col("pc")).as("minc"), max(col("pc")).as("maxc"))
      .select(col("minc"), col("maxc"),
        expr("(maxc - minc) div 16 + 1").as("wb"),
        (col("maxc") - col("minc")).as("span"))
    val hist = Mat.once(pc.crossJoin(broadcast(mm))
      .groupBy(expr("(pc - minc) div wb").as("b"))
      .agg(count(lit(1)).as("cnt")))
    val ranges = Mat.once(mm.select(explode(array(
        struct(lit("r1_wide_low").as("range_name"),
          (col("minc") + expr("span div 8")).as("lo"),
          (col("minc") + expr("span div 2")).as("hi")),
        struct(lit("r2_upper_quarter").as("range_name"),
          (col("minc") + expr("span div 2")).as("lo"),
          (col("minc") + expr("3 * span div 4")).as("hi")),
        struct(lit("r3_narrow").as("range_name"),
          (col("minc") + expr("2 * span div 5")).as("lo"),
          (col("minc") + expr("2 * span div 5 + span div 50")).as("hi"))))
        .as("r"), col("minc"), col("wb"))
      .select(col("r.range_name").as("range_name"), col("r.lo").as("lo"),
        col("r.hi").as("hi"), col("minc"), col("wb")))
    val est = broadcast(ranges).crossJoin(hist)
      .select(col("range_name"), col("lo"), col("hi"), col("wb"), col("cnt"),
        (col("minc") + col("b") * col("wb")).as("sb"))
      .select(col("range_name"), col("lo"), col("hi"),
        expr("cnt * greatest(0, least(hi, sb + wb) - greatest(lo, sb)) div wb")
          .as("contrib"))
      .groupBy(col("range_name"), col("lo"), col("hi"))
      .agg(sum(col("contrib")).as("est_rows"))
    val act = pc.join(broadcast(ranges),
        col("pc") >= col("lo") && col("pc") < col("hi"))
      .groupBy(col("range_name")).agg(count(lit(1)).as("actual_rows"))
    est.join(act, Seq("range_name"), "left_outer")
      .select(col("range_name"), col("lo"), col("hi"), col("est_rows"),
        coalesce(col("actual_rows"), lit(0L)).as("actual_rows"))
      .select(col("range_name"), col("lo"), col("hi"), col("est_rows"),
        col("actual_rows"),
        expr("greatest(actual_rows, est_rows) * 10000 div " +
          "greatest(1, least(actual_rows, est_rows))").as("q_error_e4"))
      .orderBy("range_name")
  }

  /** Yannakakis full reducer on the region→nation→customer→orders chain
    * (filter r_name='ASIA' at the root): the semijoin cascade down then
    * back up, reporting each relation's row count raw / after the down
    * pass / after the up pass, plus the final join size. The classic
    * guarantee — no intermediate ever exceeds the output — is exactly
    * why distributed engines semijoin-reduce before shuffling; every
    * semijoin here is a broadcast of the (tiny) key set.
    */
  def q_yannakakis_reduction(spark: SparkSession, sf: String): DataFrame = {
    val reg = Tables.region(spark, sf).filter(col("r_name") === "ASIA")
      .select(col("r_regionkey").as("rk"))
    val nat = Tables.nation(spark, sf)
      .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
    val ord = Tables.orders(spark, sf).select(col("o_custkey").as("ck"))
    val natD = Mat.once(nat.join(broadcast(reg), "rk"))
    val custD = Mat.once(cust.join(broadcast(natD.select(col("nk"))), "nk"))
    val ordD = Mat.once(ord.join(custD.select(col("ck")).distinct(), "ck"))
    val custU = Mat.once(custD.join(ordD.select(col("ck")).distinct(), "ck"))
    val natU = natD.join(broadcast(custU.select(col("nk")).distinct()), "nk")
    def c(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("c"))
    val joinSize = ordD.agg(count(lit(1)).as("c")) // chain join size = reduced orders
    def row(name: String, raw: DataFrame, down: DataFrame, up: DataFrame) =
      c(raw).crossJoin(c(down).select(col("c").as("cd")))
        .crossJoin(c(up).select(col("c").as("cu")))
        .select(lit(name).as("relation"), col("c").as("rows_raw"),
          col("cd").as("rows_down"), col("cu").as("rows_up"))
    row("nation", nat, natD, natU)
      .unionByName(row("customer", cust, custD, custU))
      .unionByName(row("orders", ord, ordD, ordD))
      .unionByName(joinSize.select(lit("__join_result__").as("relation"),
        col("c").as("rows_raw"), col("c").as("rows_down"), col("c").as("rows_up")))
      .orderBy("relation")
  }

  /** Functional-dependency mining (TANE's candidate check) over six
    * declared A→B candidates: the FD holds iff |distinct A| =
    * |distinct (A,B)|, and the violation count is their difference —
    * both plain distinct aggregates, which is why FD profiling scales
    * to any table. Key-based FDs hold; attribute-pair candidates
    * mostly fail, quantifying how far each is from functional.
    */
  def q_fd_discovery(spark: SparkSession, sf: String): DataFrame = {
    def cand(df: DataFrame, table: String, a: String, b: String): DataFrame =
      df.agg(countDistinct(col(a)).as("n_lhs"),
        countDistinct(col(a), col(b)).as("n_pairs"))
        .select(lit(s"$table.$a").as("lhs"), lit(b).as("rhs"),
          col("n_lhs"), col("n_pairs"),
          when(col("n_lhs") === col("n_pairs"), 1L).otherwise(0L).as("holds"),
          (col("n_pairs") - col("n_lhs")).as("extra_rhs_values"))
    val cu = Tables.customer(spark, sf)
    val or = Tables.orders(spark, sf)
    val pa = Tables.part(spark, sf)
    cand(cu, "customer", "c_custkey", "c_mktsegment")
      .unionByName(cand(cu, "customer", "c_nationkey", "c_mktsegment"))
      .unionByName(cand(or, "orders", "o_orderkey", "o_orderstatus"))
      .unionByName(cand(or, "orders", "o_custkey", "o_orderpriority"))
      .unionByName(cand(pa, "part", "p_partkey", "p_brand"))
      .unionByName(cand(pa, "part", "p_brand", "p_type"))
      .orderBy("lhs", "rhs")
  }

  /** Factorized join counting: |R ⋈ S| computed WITHOUT materializing
    * the join — join the per-key count vectors and sum the products —
    * next to the materialized count it must equal. The identity
    * |R⋈S| = Σₖ c_R(k)·c_S(k) is what factorized/semi-ring query
    * processing pushes through plans; at 100 TB the count-vector join
    * shuffles |keys| rows instead of |output| rows.
    */
  def q_factorized_join_count(spark: SparkSession, sf: String): DataFrame = {
    def pair(left: DataFrame, lk: String, right: DataFrame, rk: String,
        name: String): DataFrame = {
      val cl = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("ca"))
      val cr = right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("cb"))
      val fact = cl.join(cr, "k").agg(sum(col("ca") * col("cb")).as("factorized"))
      val mat = left.select(col(lk).as("k"))
        .join(right.select(col(rk).as("k")), "k")
        .agg(count(lit(1)).as("materialized"))
      fact.crossJoin(mat)
        .select(lit(name).as("join_name"), col("factorized"), col("materialized"),
          when(col("factorized") === col("materialized"), 1L).otherwise(0L)
            .as("identity_holds"))
    }
    pair(Tables.orders(spark, sf), "o_custkey",
        Tables.customer(spark, sf), "c_custkey", "orders_x_customer")
      .unionByName(pair(Tables.lineitem(spark, sf), "l_orderkey",
        Tables.orders(spark, sf), "o_orderkey", "lineitem_x_orders"))
      .orderBy("join_name")
  }

  // ---- §2.162 physical design classics — HRU views, bitmap runs, Fagin TA --

  /** Harinarayan-Rajaraman-Ullman greedy view selection (SIGMOD'96) on the
    * 8-node cube lattice over (status, priority, order-month): node sizes
    * are one multi-distinct aggregate, the top view is always materialized,
    * and two greedy rounds pick the views maximizing the HRU benefit
    * Σ_{v⊆w} (cost(v) − |w|)⁺ — the classic (1−1/e)-of-optimal result.
    * Subset tests are bitmask ANDs on the 8-row lattice, so every join
    * after the size aggregate is a broadcast over ≤64 pairs.
    */
  def q_view_selection_hru(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf).select(
      col("o_orderstatus").as("a"), col("o_orderpriority").as("b"),
      date_format(col("o_orderdate"), "yyyy-MM").as("c"))
    val sz = o.agg(
      countDistinct(col("a")).as("sa"), countDistinct(col("b")).as("sb"),
      countDistinct(col("c")).as("sc"),
      countDistinct(col("a"), col("b")).as("sab"),
      countDistinct(col("a"), col("c")).as("sac"),
      countDistinct(col("b"), col("c")).as("sbc"),
      countDistinct(col("a"), col("b"), col("c")).as("sabc"))
    val lat = Mat.once(sz.select(explode(array(
        struct(lit(0L).as("mask"), lit("apex").as("node"), lit(1L).as("sz")),
        struct(lit(1L).as("mask"), lit("status").as("node"), col("sa").as("sz")),
        struct(lit(2L).as("mask"), lit("priority").as("node"), col("sb").as("sz")),
        struct(lit(3L).as("mask"), lit("status_priority").as("node"), col("sab").as("sz")),
        struct(lit(4L).as("mask"), lit("month").as("node"), col("sc").as("sz")),
        struct(lit(5L).as("mask"), lit("status_month").as("node"), col("sac").as("sz")),
        struct(lit(6L).as("mask"), lit("priority_month").as("node"), col("sbc").as("sz")),
        struct(lit(7L).as("mask"), lit("status_priority_month").as("node"),
          col("sabc").as("sz")))).as("n"))
      .select(col("n.mask").as("mask"), col("n.node").as("node"),
        col("n.sz").as("sz")))
    val top = lat.filter(col("mask") === 7L).select(col("sz").as("topsz"))
    val pairs = lat.select(col("mask").as("vmask"), col("sz").as("vsz"))
      .crossJoin(broadcast(lat.select(col("mask").as("wmask"), col("sz").as("wsz"))))
      .filter(col("vmask").bitwiseAND(col("wmask")) === col("vmask"))
    val b1 = pairs.filter(col("wmask") =!= 7L).crossJoin(broadcast(top))
      .groupBy(col("wmask"), col("wsz"))
      .agg(sum(greatest(lit(0L), col("topsz") - col("wsz"))).as("benefit_r1"))
    val p1 = b1.orderBy(col("benefit_r1").desc, col("wmask").asc).limit(1)
      .select(col("wmask").as("p1mask"), col("wsz").as("p1sz"))
    val cost1 = lat.crossJoin(broadcast(p1)).crossJoin(broadcast(top))
      .select(col("mask").as("vmask"),
        when(col("mask").bitwiseAND(col("p1mask")) === col("mask"), col("p1sz"))
          .otherwise(col("topsz")).as("cost1"))
    val b2 = pairs.join(broadcast(cost1), "vmask").crossJoin(broadcast(p1))
      .filter(col("wmask") =!= 7L && col("wmask") =!= col("p1mask"))
      .groupBy(col("wmask"), col("wsz"))
      .agg(sum(greatest(lit(0L), col("cost1") - col("wsz"))).as("benefit_r2"))
    val p2 = b2.orderBy(col("benefit_r2").desc, col("wmask").asc).limit(1)
      .select(col("wmask").as("p2mask"))
    lat.join(broadcast(b1.select(col("wmask").as("mask"), col("benefit_r1"))),
        Seq("mask"), "left_outer")
      .join(broadcast(b2.select(col("wmask").as("mask"), col("benefit_r2"))),
        Seq("mask"), "left_outer")
      .crossJoin(broadcast(p1)).crossJoin(broadcast(p2))
      .select(col("node"), col("mask"), col("sz").as("n_rows"),
        coalesce(col("benefit_r1"), lit(0L)).as("benefit_r1"),
        coalesce(col("benefit_r2"), lit(0L)).as("benefit_r2"),
        when(col("mask") === 7L, 0L)
          .when(col("mask") === col("p1mask"), 1L)
          .when(col("mask") === col("p2mask"), 2L)
          .otherwise(-1L).as("picked_round"))
      .orderBy("mask")
  }

  /** Bitmap-index run-length audit of o_orderstatus in o_orderkey order:
    * exact maximal-run counts per value, computed scale-out — a lag window
    * keyed by 65536-wide key bands plus a band-boundary join on band−1
    * (the key space is contiguously occupied, so the previous band exists;
    * the spec asserts run-count exactness against a brute-force order).
    * Reports literal-bitmap bits vs two-64-bit-words-per-run RLE bits —
    * the sizing rule a column store uses to pick bitmap encodings, and on
    * a key-ordered low-cardinality column RLE loses (ratio > 1), which is
    * exactly why engines cluster before encoding (see q_rle_layout).
    */
  def q_bitmap_index_audit(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("v"))
      .withColumn("band", expr("k div 65536"))
    val win = Window.partitionBy("band").orderBy("k")
    val lastOfBand = o.groupBy(col("band"))
      .agg(max_by(col("v"), col("k")).as("prev_last"))
      .withColumn("band", col("band") + 1L)
    val runs = o.withColumn("lagv", lag(col("v"), 1).over(win))
      .join(lastOfBand, Seq("band"), "left_outer")
      .withColumn("prevv", coalesce(col("lagv"), col("prev_last")))
      .filter(col("prevv").isNull || col("prevv") =!= col("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_runs"))
    val counts = o.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val n = o.agg(count(lit(1)).as("n_rows"))
    counts.join(runs, Seq("v")).crossJoin(broadcast(n))
      .select(col("v").as("o_orderstatus"), col("n_rows"), col("cnt"),
        col("n_runs"), expr("cnt * 10000 div n_runs").as("avg_run_len_e4"),
        col("n_rows").as("literal_bits"),
        (col("n_runs") * 128L + 64L).as("rle_bits"),
        expr("(n_runs * 128 + 64) * 10000 div n_rows").as("rle_over_literal_e4"))
      .orderBy("o_orderstatus")
  }

  /** Fagin's Threshold Algorithm audit (PODS'01 instance-optimal top-k):
    * brands carry two e6-share score lists (quantity share, revenue
    * share); sorted access descends both in lock-step and stops at the
    * first depth where the 5th-best fully-scored seen item beats the
    * threshold T(d) = x(d) + y(d). One row per round up to the stop —
    * n_seen / kth score / threshold — showing why TA touches a handful
    * of rounds, not the whole list. Ranks and per-depth k-th selection
    * are brand-bounded theta-count joins on broadcasts (25² pairs max),
    * never a global window.
    */
  def q_fagin_ta_rounds(spark: SparkSession, sf: String): DataFrame = {
    val base = Mat.once(Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("l_quantity").cast("long")).as("q"),
        sum(cents(col("l_extendedprice"))).as("r")))
    val tot = base.agg(sum(col("q")).as("tq"), sum(col("r")).as("tr"))
    val items = Mat.once(base.crossJoin(broadcast(tot))
      .select(col("p_brand"), expr("q * 1000000 div tq").as("xs"),
        expr("r * 1000000 div tr").as("ys"),
        expr("q * 1000000 div tq + r * 1000000 div tr").as("score")))
    def rankBy(c: String, out: String): DataFrame = {
      val b = items.select(col("p_brand").as("b_brand"), col(c).as("b_c"))
      items.join(broadcast(b),
          col("b_c") > col(c) ||
          (col("b_c") === col(c) && col("b_brand") < col("p_brand")),
          "left_outer")
        .groupBy(col("p_brand")).agg((count(col("b_brand")) + 1L).as(out))
    }
    val ranked = Mat.once(items.join(rankBy("xs", "r1"), "p_brand")
      .join(rankBy("ys", "r2"), "p_brand")
      .withColumn("ad", least(col("r1"), col("r2"))))
    val thr = ranked.select(col("r1").as("d"), col("xs"))
      .join(ranked.select(col("r2").as("d"), col("ys")), "d")
      .select(col("d"), (col("xs") + col("ys")).as("threshold_e6"))
    val seen = thr.join(
      broadcast(ranked.select(col("p_brand"), col("ad"), col("score"))),
      col("ad") <= col("d"))
    val nSeen = seen.groupBy(col("d"), col("threshold_e6"))
      .agg(count(lit(1)).as("n_seen"))
    val t = ranked.select(col("p_brand").as("t_brand"), col("ad").as("t_ad"),
      col("score").as("t_score"))
    val kth = seen.join(broadcast(t),
        col("t_ad") <= col("d") &&
        (col("t_score") > col("score") ||
         (col("t_score") === col("score") && col("t_brand") < col("p_brand"))),
        "left_outer")
      .groupBy(col("d"), col("p_brand"), col("score"))
      .agg(count(col("t_brand")).as("nbetter"))
      .filter(col("nbetter") === 4L)
      .select(col("d"), col("score").as("kth_score_e6"))
    val rounds = Mat.once(nSeen.join(kth, Seq("d"), "left_outer")
      .select(col("d").as("depth"), col("n_seen"),
        coalesce(col("kth_score_e6"), lit(-1L)).as("kth_score_e6"),
        col("threshold_e6"),
        when(coalesce(col("kth_score_e6"), lit(-1L)) >= col("threshold_e6"), 1L)
          .otherwise(0L).as("stopped")))
    val stopD = rounds.filter(col("stopped") === 1L)
      .agg(coalesce(min(col("depth")), lit(Long.MaxValue)).as("stop_depth"))
    rounds.crossJoin(broadcast(stopD))
      .filter(col("depth") <= col("stop_depth"))
      .select(col("depth"), col("n_seen"), col("kth_score_e6"),
        col("threshold_e6"), col("stopped"))
      .orderBy("depth")
  }
  // ---- §2.167 data placement — rendezvous hashing, failover, reshard cost --

  /** Rendezvous (highest-random-weight, Thaler-Ravishankar '96) placement
    * of part keys on 8 nodes: each key goes to argmax over nodes of the
    * shared md5 hash, encoded as one max aggregate over h·16+j (total
    * order identical to (h, node) lexicographic since j < 16 — no
    * struct/argmax needed, bit-identical cross-engine). Per-node load,
    * e6 share and deviation from the ideal 1/8 — HRW's balance claim,
    * measured. One explode + two hash aggregates, any scale.
    */
  def q_rendezvous_hashing(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val assign = Tables.part(spark, sf).select(col("p_partkey").as("pk"))
      .select(col("pk"), explode(sequence(lit(0L), lit(7L))).as("j"))
      .select(col("pk"), col("j"),
        hash32(concat(lit("hrw"), col("j"), lit(":"), col("pk"))).as("h"))
      .groupBy(col("pk"))
      .agg(max(col("h") * 16L + col("j")).as("mx"))
      .select(expr("mx % 16").as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_keys"))
    val tot = assign.agg(sum(col("n_keys")).as("n"))
    assign.crossJoin(broadcast(tot))
      .select(col("node"), col("n_keys"),
        expr("n_keys * 1000000 div n").as("share_e6"),
        expr("abs(n_keys * 1000000 div n - 125000)").as("dev_from_ideal_e6"))
      .orderBy("node")
  }

  /** HRW failover: node 3 dies, its keys move to their second-highest
    * node while every other key stays put — the minimal-disruption
    * property that makes rendezvous hashing a cache/shard router. The
    * backup winner comes from the SAME single aggregate (conditional
    * max over j≠3), so the whole reassignment is one pass. Per-node
    * before/after/delta; the spec pins "only node 3's keys moved".
    */
  def q_hrw_failover(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val m = Mat.once(Tables.part(spark, sf).select(col("p_partkey").as("pk"))
      .select(col("pk"), explode(sequence(lit(0L), lit(7L))).as("j"))
      .select(col("pk"), col("j"),
        hash32(concat(lit("hrw"), col("j"), lit(":"), col("pk"))).as("h"))
      .groupBy(col("pk"))
      .agg(max(col("h") * 16L + col("j")).as("m_all"),
        max(when(col("j") =!= 3L, col("h") * 16L + col("j"))).as("m_no3"))
      .select(expr("m_all % 16").as("before"),
        expr("(CASE WHEN m_all % 16 = 3 THEN m_no3 ELSE m_all END) % 16")
          .as("after")))
    val nodes = m.sparkSession.range(0L, 8L).select(col("id").as("node"))
    val b = m.groupBy(col("before").as("node")).agg(count(lit(1)).as("n_before"))
    val a = m.filter(col("after") =!= 3L)
      .groupBy(col("after").as("node")).agg(count(lit(1)).as("n_after"))
    nodes.join(broadcast(b), Seq("node"), "left_outer")
      .join(broadcast(a), Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("n_before"), lit(0L)).as("n_before"),
        when(col("node") === 3L, 0L).otherwise(coalesce(col("n_after"), lit(0L)))
          .as("n_after"))
      .select(col("node"), col("n_before"), col("n_after"),
        (col("n_after") - col("n_before")).as("delta"))
      .orderBy("node")
  }

  /** Resharding cost, 8 → 9 nodes, mod-N vs rendezvous: mod-N remaps
    * ~8/9 of all keys (h%8 vs h%9 agree only on 1/72·8 of the hash
    * ring) while HRW moves only the keys whose new node 8 wins
    * (~1/9) — the one-table argument for consistent placement under
    * elastic scaling. Both schemes measured exactly on the same key
    * population from the same shared-md5 hashes.
    */
  def q_shard_move_cost(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val keys = Mat.once(Tables.part(spark, sf).select(col("p_partkey").as("pk")))
    val hrw = keys
      .select(col("pk"), explode(sequence(lit(0L), lit(8L))).as("j"))
      .select(col("pk"), col("j"),
        hash32(concat(lit("hrw"), col("j"), lit(":"), col("pk"))).as("h"))
      .groupBy(col("pk"))
      .agg(max(when(col("j") < 8L, col("h") * 16L + col("j"))).as("m8"),
        max(col("h") * 16L + col("j")).as("m9"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(expr("m8 % 16") =!= expr("m9 % 16"), 1L).otherwise(0L))
          .as("n_moved"))
      .select(lit("hrw").as("scheme"), col("n_keys"), col("n_moved"))
    val modn = keys
      .select(hash32(concat(lit("hrw:"), col("pk"))).as("h"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(expr("h % 8") =!= expr("h % 9"), 1L).otherwise(0L))
          .as("n_moved"))
      .select(lit("mod_n").as("scheme"), col("n_keys"), col("n_moved"))
    hrw.unionByName(modn)
      .select(col("scheme"), col("n_keys"), col("n_moved"),
        expr("n_moved * 1000000 div n_keys").as("moved_share_e6"))
      .orderBy("scheme")
  }
}
