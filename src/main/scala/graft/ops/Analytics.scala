package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Baskets, Det, Guards, Mat, Tables}
import graft.core.Det.{cents, pct}

/** Time-series / product-analytics operators (SURVEY.md §2.21).
  *
  * Everything here follows the determinism contract: integer cents (D2),
  * unique total order (D1), float epilogues as one fixed IEEE expression
  * tree computed from exact integer sufficient statistics (D3).
  */
object Analytics {

  /** Undirected support-2 co-purchase edge list (u < v): part pairs
    * ordered together in ≥ 2 distinct orders — the node/edge universe of
    * the §2.17/§2.44/§2.154 graph family. Built the apriori way: one
    * shuffle keyed by order (collect_set dedups (order, part)), the
    * per-order pair fan-out generated inside the sorted basket array
    * (breadth² per basket — runtime-capped by
    * [[graft.core.Guards.boundedBasket]], so a whale basket fails loudly
    * instead of materializing its full pair set in one task), one
    * shuffle on the pair key. Replaces nine per-query copies of an
    * items×items self-join that streamed the same breadth² rows with no
    * breadth guard. Deliberately NOT cached across queries — per-query
    * independence is a bench contract; each caller materializes it
    * (`Mat.once`) when it fans out.
    */
  private[graft] def support2Edges(spark: SparkSession, sf: String): DataFrame =
    support2PairCounts(spark, sf)
      .filter(col("s") >= 2)
      .select(col("u"), col("v"))

  /** The (u, v, s) support counts behind [[support2Edges]] — exposed
    * (round 9) so the weighted-graph family (q_sssp_weighted /
    * q_boruvka_step: w = 1000 div s) and q_recsys_lift share the
    * basket-generator build instead of keeping their own items×items
    * self-joins (two extra shuffles + an unguarded breadth² join each). */
  private[graft] def support2PairCounts(spark: SparkSession, sf: String): DataFrame =
    Baskets.pairs(
      Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy(col("ok"))
        .agg(array_sort(collect_set(col("pk"))).as("items"))
        .select(Guards.boundedBasket(col("items"), Guards.PairBreadthCap,
          "support2Edges").as("items")),
      "u", "v")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("s"))

  /** OHLC candlestick bars: per (event_type, hour) the opening / highest /
    * lowest / closing event value plus count and volume. Open/close are
    * arg-min/arg-max by (ts, event_id) — `min(struct(...))` keeps the
    * whole thing one partial+final hash aggregate (no per-partition sort),
    * the idiom a 100 TB tick-bar build needs: one shuffle keyed by the
    * bar, never a global sort.
    */
  def q_ohlc_bars(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), date_trunc("hour", col("ts_us")).as("hour"),
        col("ts_usl"), col("event_id"), cents(col("value")).as("vc"))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("ts_usl"), col("event_id"), col("vc"))).as("o"),
        max(struct(col("ts_usl"), col("event_id"), col("vc"))).as("c"),
        max(col("vc")).as("high_cents"),
        min(col("vc")).as("low_cents"),
        sum(col("vc")).as("vol_cents"))
      .select(col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"), col("o.vc").as("open_cents"), col("high_cents"),
        col("low_cents"), col("c.vc").as("close_cents"), col("vol_cents"))
      .orderBy("event_type", "hour")

  /** First-order Markov transition matrix over each user's event sequence:
    * count of consecutive (src → dst) event-type transitions and the
    * row-normalized probability as an exact e6 integer. The row margin is
    * a window re-sum of the 25-cell aggregate itself — the corpus is
    * touched once, shuffled once (by user) for the lag.
    */
  def q_markov_transitions(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
    Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("ts_usl"), col("event_id"), col("event_type"))
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("c"))
      .withColumn("row_total", sum(col("c")).over(Window.partitionBy("src")))
      .select(col("src"), col("dst"), col("c"),
        expr("c * 1000000 div row_total").as("p_e6"))
      .orderBy("src", "dst")
  }

  /** Two-proportion A/B z-test: cohort = user-id parity, conversion =
    * "the user's lifetime purchase value exceeds the global per-user
    * median" (p ≈ 0.5 by construction, so the pooled variance can never
    * degenerate — a fixed rare-event cutoff goes to p ∈ {0,1} at small
    * SFs). Counts are exact integer aggregates; the z statistic is one
    * fixed IEEE epilogue over four integers, so the whole test is a tiny
    * reduction regardless of corpus size.
    */
  def q_ab_ztest(spark: SparkSession, sf: String): DataFrame = {
    val perUser = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", cents(col("value")))
        .otherwise(0L)).as("purchase_cents"))
    val median = Relational.latticePercentiles(
        perUser.groupBy(col("purchase_cents").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq(), Seq(0.5 -> "med"))
      .select(col("med"))
    val counts = perUser.crossJoin(broadcast(median))
      .groupBy((col("user_id") % 2).as("cohort"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("purchase_cents") > col("med"), 1L).otherwise(0L)).as("n_conv"))
    // pivot the 2 cohorts side by side via a self-agg (2 rows → 1)
    val wide = counts.agg(
      max(when(col("cohort") === 0, col("n_users"))).as("n0"),
      max(when(col("cohort") === 0, col("n_conv"))).as("c0"),
      max(when(col("cohort") === 1, col("n_users"))).as("n1"),
      max(when(col("cohort") === 1, col("n_conv"))).as("c1"))
    val p0 = col("c0").cast("double") / col("n0").cast("double")
    val p1 = col("c1").cast("double") / col("n1").cast("double")
    val p = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1")).cast("double")
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n0").cast("double") + lit(1.0) / col("n1").cast("double")))
    wide.select(col("n0"), col("c0"), col("n1"), col("c1"),
      (Det.r4(p0) + lit(0.0)).as("p0"),
      (Det.r4(p1) + lit(0.0)).as("p1"),
      (Det.r4((p1 - p0) / se) + lit(0.0)).as("z"))
  }

  /** Equi-depth (decile) histogram of order totals: the 9 interior decile
    * boundaries come from ONE exact interpolating percentile aggregate
    * over integer cents; every row then buckets itself against the
    * broadcast boundary array (`1 + |{b : cents > b}|`). Two passes, no
    * global sort — the classic quantile-bucketing shape for 100 TB
    * (contrast a global NTILE window, which would funnel the table through
    * one partition).
    */
  def q_hist_equidepth(spark: SparkSession, sf: String): DataFrame = {
    val tp = Tables.orders(spark, sf).select(cents(col("o_totalprice")).as("tp_cents"))
    val bounds = Relational.latticePercentiles(
        tp.groupBy(col("tp_cents").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq(), (1 to 9).map(i => i / 10.0 -> s"d$i"))
      .select(array((1 to 9).map(i => col(s"d$i")): _*).as("bounds"))
    tp.crossJoin(broadcast(bounds))
      .select(col("tp_cents"),
        expr("1 + size(filter(bounds, b -> tp_cents > b))").cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("tp_cents")).as("min_cents"),
        max(col("tp_cents")).as("max_cents"), sum(col("tp_cents")).as("sum_cents"))
      .orderBy("bucket")
  }

  /** Triangle count on the co-purchase graph: nodes = parts, edges = part
    * pairs ordered in the same order ≥ 2 times (the Apriori support-2
    * pair set). Triangles come from the canonical a<b<c two-join
    * enumeration over the ordered edge list — each triangle counted
    * exactly once, join keys are single node ids (shuffle-friendly), and
    * the edge list is orders of magnitude smaller than the raw fact table.
    */
  def q_triangle_count(spark: SparkSession, sf: String): DataFrame = {
    // the expensive per-order pair build runs ONCE: the edge list is tiny
    // (support-2 survivors), so materialize it before it fans out into the
    // three triangle-join references + the node/edge counts — without this
    // the pair explosion re-executes five times
    val edges = Mat.once(support2Edges(spark, sf))
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.v") === col("e2.u"))
      .join(edges.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = edges.agg(count(lit(1)).as("n_edges"))
    val nodes = edges.select(col("u").as("p")).union(edges.select(col("v").as("p")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    nodes.crossJoin(stats).crossJoin(tri)
  }

  /** Last-touch marketing attribution: each purchase's value is credited
    * to the user's most recent preceding non-purchase event type (the
    * "channel"); purchases with no preceding touch credit 'none'. The
    * carried channel is `last(..., ignoreNulls)` over an unbounded-
    * preceding-to-−1 frame — one user-keyed shuffle, state O(1) per row,
    * the same plan a streaming last-touch would keep in its state store.
    */
  def q_attribution_lasttouch(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("ts_usl"), col("event_id"), col("event_type"),
        cents(col("value")).as("vc"))
      .withColumn("channel",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("vc")).as("revenue_cents"))
      .orderBy("channel")
  }

  /** Cumulative distinct-user growth by day: per calendar day, the active
    * users (DAU), the first-ever-seen users, and the running total of
    * distinct users to date. The cumulative count comes from each user's
    * min-day (one user-keyed aggregate) re-summed over the tiny day table
    * with a bounded theta join — never a distinct-over-growing-window,
    * which would be quadratic state at fleet scale.
    */
  def q_dau_cumulative(spark: SparkSession, sf: String): DataFrame = {
    val userDays = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), to_date(col("ts_us")).as("day")).distinct()
    val dau = userDays.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val newUsers = userDays.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val days = dau.join(newUsers, Seq("day"), "left_outer")
      .select(col("day"), col("dau"), coalesce(col("new_users"), lit(0L)).as("new_users"))
    days.as("a")
      .join(days.select(col("day").as("d2"), col("new_users").as("nu2")).as("b"),
        col("b.d2") <= col("a.day"))
      .groupBy(col("a.day").as("day"), col("a.dau").as("dau"),
        col("a.new_users").as("new_users"))
      .agg(sum(col("b.nu2")).as("cum_users"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("new_users"), col("cum_users"))
      .orderBy("day")
  }

  /** Sequential pattern mining (the 2-step "A then later B" support
    * count): for every ordered pair of distinct event types, the number
    * of users whose FIRST A strictly precedes their FIRST B (ties on the
    * µs timestamp broken by event_id). First occurrences come from one
    * (user, type) window; the per-user 5×5 pair product is constant-
    * bounded, so the op is two user-keyed shuffles at any corpus size.
    */
  def q_seq_pattern(spark: SparkSession, sf: String): DataFrame = {
    val wFirst = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_usl").asc, col("event_id").asc)
    val firsts = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts_usl"), col("event_id"))
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts_usl"), col("event_id"))
    firsts.as("a")
      .join(firsts.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_type") =!= col("b.event_type") &&
        (col("a.ts_usl") < col("b.ts_usl") ||
          (col("a.ts_usl") === col("b.ts_usl") && col("a.event_id") < col("b.event_id"))))
      .groupBy(col("a.event_type").as("first_type"), col("b.event_type").as("then_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("first_type", "then_type")
  }

  /** Week-over-week revenue change per event type: weekly cents totals
    * with the previous week via `lag`, the relative change as ONE IEEE
    * division (a scaled integer div would hit trunc-vs-floor on negative
    * deltas). The weekly aggregate is tiny at any corpus size.
    */
  def q_wow_change(spark: SparkSession, sf: String): DataFrame = {
    val weekly = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), date_trunc("week", col("ts_us")).as("week"))
      .agg(sum(cents(col("value"))).as("rev_cents"))
    val w = Window.partitionBy("event_type").orderBy("week")
    weekly.withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .filter(col("prev_cents").isNotNull)
      .select(col("event_type"),
        date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("rev_cents"), col("prev_cents"),
        (round((col("rev_cents") - col("prev_cents")).cast("double") /
          col("prev_cents").cast("double"), 4) + lit(0.0)).as("wow_change"))
      .orderBy("event_type", "week")
  }

  /** Reorder latency: days between each customer's first and second
    * order (the repeat-purchase health metric), summarized per market
    * segment with exact interpolating median and p90. One customer-keyed
    * window + a broadcast dimension join + a tiny segment aggregate.
    */
  def q_reorder_latency(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val second = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 2)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), col("prev_date")).cast("long").as("gap_days"))
    second
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")), "o_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_reorders"),
        (Det.r4(percentile(col("gap_days"), lit(0.5))) + lit(0.0)).as("median_gap_days"),
        (Det.r4(percentile(col("gap_days"), lit(0.9))) + lit(0.0)).as("p90_gap_days"))
      .orderBy("c_mktsegment")
  }

  /** CUSUM changepoint detection on the daily event-count series, per
    * event type: S_d = Σ_{d'≤d} (x_{d'}·D − T) (the mean-centered
    * cumulative sum scaled ×D so it stays in exact integers — no
    * mean division), changepoint = the day maximizing |S_d|, tie → the
    * earlier day. The daily series is tiny at any corpus size, so the
    * cumulative window (partitioned by type) never sees the raw events.
    */
  def q_changepoint_cusum(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts_us")).as("day"))
      .agg(count(lit(1)).as("x"))
    val totals = daily.groupBy(col("event_type"))
      .agg(sum(col("x")).as("t"), count(lit(1)).as("d"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy("event_type").orderBy(abs(col("s")).desc, col("day").asc)
    daily.join(broadcast(totals), "event_type")
      .withColumn("s", sum(col("x") * col("d") - col("t")).over(w))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("d").as("n_days"),
        date_format(col("day"), "yyyy-MM-dd").as("changepoint_day"),
        col("s").as("cusum_scaled"))
      .orderBy("event_type")
  }

  /** Hour-of-day × day-of-week seasonality profile (the load/traffic
    * heatmap every event pipeline ships): per (dow, hour) event count and
    * mean value cents — one aggregate into a fixed 7×24 cell grid, so the
    * shuffled state is the profile, never the events.
    */
  def q_seasonality_profile(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(dayofweek(col("ts_us")).cast("long").as("dow"),
        hour(col("ts_us")).cast("long").as("hr"), cents(col("value")).as("vc"))
      .groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_cents"))
      .select(col("dow"), col("hr"), col("n"), col("sum_cents"),
        expr("sum_cents div n").as("avg_cents"))
      .orderBy("dow", "hr")

  /** Cohort lifetime-value matrix (the revenue twin of `q_retention`):
    * users cohorted by first-active day; per (cohort_day, day offset
    * 0..7) the purchase revenue cents and purchasing-user count. First
    * touch is one user-keyed aggregate; the matrix is a (cohort, offset)
    * aggregate — two shuffles at any scale.
    */
  def q_cohort_ltv(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), to_date(col("ts_us")).as("day"),
        col("event_type"), cents(col("value")).as("vc"))
    val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.filter(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .withColumn("offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("offset") <= 7)
      .groupBy(col("cohort_day"), col("offset"))
      .agg(countDistinct(col("user_id")).as("buyers"), sum(col("vc")).as("revenue_cents"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("offset"), col("buyers"), col("revenue_cents"))
      .orderBy("cohort_day", "offset")
  }

  /** Population Stability Index between the 1996 (expected) and 1997
    * (actual) order-value distributions — THE model-monitoring drift
    * metric: deciles fixed on the expected year, Laplace-smoothed shares
    * (no zero-cell blowup), per-bin (p−q)·ln(p/q) on the e8 LN lattice.
    * One percentile pass + two bucketing aggregates.
    */
  def q_psi_drift(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .select(year(col("o_orderdate")).as("yr"), cents(col("o_totalprice")).as("tp"))
    val bounds = Relational.latticePercentiles(
        o.filter(col("yr") === 1996)
          .groupBy(col("tp").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq(), (1 to 9).map(i => i / 10.0 -> s"d$i"))
      .select(array((1 to 9).map(i => col(s"d$i")): _*).as("bs"))
    val binned = o.filter(col("yr").isin(1996, 1997))
      .crossJoin(broadcast(bounds))
      .select(col("yr"), expr("1 + size(filter(bs, b -> tp > b))").cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("c96"),
        sum(when(col("yr") === 1997, 1L).otherwise(0L)).as("c97"))
    val totals = binned.agg(sum(col("c96")).as("t96"), sum(col("c97")).as("t97"))
    val p = (col("c96") + lit(1L)).cast("double") / (col("t96") + lit(10L)).cast("double")
    val q = (col("c97") + lit(1L)).cast("double") / (col("t97") + lit(10L)).cast("double")
    binned.crossJoin(broadcast(totals))
      .select(col("bin"), col("c96"), col("c97"),
        round((p - q) * log(p / q) * lit(1e8)).cast("long").as("psi_term_e8"))
      .orderBy("bin")
  }

  /** Ingest partition-health report: per event day the row count,
    * distinct users, payload characters and value cents, plus an
    * integer-arithmetic hot-partition flag (day volume > 1.5× the mean —
    * 2·n·days > 3·total, no division) — what a pipeline operator reads
    * before picking partition keys and salting. One day-keyed aggregate.
    */
  def q_partition_health(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("ts_us").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(length(col("props")).cast("long")).as("props_chars"),
        sum(cents(col("value"))).as("value_cents"))
    val tot = daily.agg(sum(col("n_events")).as("total"), count(lit(1)).as("days"))
    daily.crossJoin(broadcast(tot))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("n_users"), col("props_chars"), col("value_cents"),
        when(col("n_events") * 2 * col("days") > col("total") * 3, 1L)
          .otherwise(0L).as("hot_flag"))
      .orderBy("day")
  }

  /** Month-over-month top movers: the 10 largest absolute brand revenue
    * swings between consecutive calendar months (gaps don't pair — the
    * lag only counts when the previous observed month is exactly one
    * month back). The BI "what changed" report; windows are
    * brand-partitioned over the tiny (brand, month) aggregate.
    */
  def q_top_movers(spark: SparkSession, sf: String): DataFrame = {
    val bm = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), date_trunc("month", col("l_shipdate")).as("month"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    val w = Window.partitionBy("p_brand").orderBy("month")
    bm.withColumn("prev_month", lag(col("month"), 1).over(w))
      .withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .filter(col("prev_month").isNotNull &&
        col("prev_month") + expr("interval 1 month") === col("month"))
      .select(date_format(col("month"), "yyyy-MM").as("month"), col("p_brand"),
        col("prev_rev").as("prev_cents"), col("rev").as("cur_cents"),
        (col("rev") - col("prev_rev")).as("delta_cents"))
      .orderBy(abs(col("delta_cents")).desc, col("p_brand").asc, col("month").asc)
      .limit(10)
  }

  /** SaaS-style revenue growth accounting: per month the purchase
    * revenue decomposes into new / expansion / contraction / churned /
    * resurrected against each user's previous month, on a dense per-user
    * month scaffold (first activity month → global max month — zeros are
    * real months, so churn is visible). All exact integer cents; the
    * scaffold is users × calendar months, never event-sized.
    */
  def q_revenue_growth_accounting(spark: SparkSession, sf: String): DataFrame = {
    val rev = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("month", col("ts_us")).as("month"))
      .agg(sum(cents(col("value"))).as("rev"))
    val firstMonth = rev.groupBy(col("user_id")).agg(min(col("month")).as("fm"))
    val maxMonth = rev.agg(max(col("month")).as("mm"))
    val scaffold = firstMonth.crossJoin(broadcast(maxMonth))
      .select(col("user_id"),
        explode(expr("sequence(fm, mm, interval 1 month)")).as("month"))
    val dense = scaffold.join(rev, Seq("user_id", "month"), "left_outer")
      .select(col("user_id"), col("month"), coalesce(col("rev"), lit(0L)).as("rev"))
    val w = Window.partitionBy("user_id").orderBy("month")
    dense
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .groupBy(col("month"))
      .agg(
        sum(when(col("prev").isNull, col("rev")).otherwise(0L)).as("new_cents"),
        sum(when(col("prev") > 0 && col("rev") > col("prev"), col("rev") - col("prev"))
          .otherwise(0L)).as("expansion_cents"),
        sum(when(col("prev") > 0 && col("rev") > 0 && col("rev") < col("prev"),
          col("rev") - col("prev")).otherwise(0L)).as("contraction_cents"),
        sum(when(col("prev") > 0 && col("rev") === 0, -col("prev"))
          .otherwise(0L)).as("churned_cents"),
        sum(when(col("prev") === 0 && col("rev") > 0, col("rev"))
          .otherwise(0L)).as("resurrected_cents"))
      .select(date_format(col("month"), "yyyy-MM").as("month"),
        col("new_cents"), col("expansion_cents"), col("contraction_cents"),
        col("churned_cents"), col("resurrected_cents"),
        (col("new_cents") + col("expansion_cents") + col("contraction_cents") +
          col("churned_cents") + col("resurrected_cents")).as("net_change_cents"))
      .orderBy("month")
  }

  /** Linear multi-touch attribution: each purchase's revenue splits
    * equally (integer floor division, remainder to the purchase itself
    * as 'unattributed') across the user's non-purchase touches in the
    * preceding hour; per channel the touch count and credited cents.
    * The touch lookup is the bounded interval-join idiom of
    * `q_join_interval` — equi-key on user plus a residual µs predicate.
    */
  def q_attribution_linear(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_usl"))
    val purchases = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts_usl").as("p_ts"),
        cents(col("value")).as("rev"))
    val hour = 3600000000L
    val touches = purchases.join(ev, Seq("user_id"))
      .filter(col("event_type") =!= "purchase" &&
        col("ts_usl") >= col("p_ts") - hour && col("ts_usl") < col("p_ts"))
      .select(col("p_id"), col("rev"), col("event_type"))
    val perPurchase = touches.groupBy(col("p_id"), col("rev"))
      .agg(count(lit(1)).as("k"))
    val credited = touches
      .join(perPurchase.select(col("p_id"), col("k")), "p_id")
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"), sum(expr("rev div k")).as("credited_cents"))
    val unattributed = purchases
      .join(perPurchase.select(col("p_id"), col("k")), Seq("p_id"), "left_outer")
      .select(when(col("k").isNull, col("rev"))
        .otherwise(col("rev") - (expr("rev div k") * col("k"))).as("left_cents"))
      .agg(count(lit(1)).as("n_touches"), sum(col("left_cents")).as("credited_cents"))
      .select(lit("unattributed").as("channel"), col("n_touches"), col("credited_cents"))
    credited.unionByName(unattributed).orderBy("channel")
  }

  /** Herfindahl-Hirschman market-concentration index of brand revenue
    * per ship-year: Σ (e4 share)² as an exact e8-scale integer — the
    * antitrust-style concentration twin of [[q_gini_revenue]]. One
    * fact→dim join, one (year, brand) aggregate, one window re-sum.
    */
  def q_hhi_concentration(spark: SparkSession, sf: String): DataFrame = {
    val rev = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("long").as("yr"), col("p_brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("s"))
    rev
      .withColumn("tot", sum(col("s")).over(Window.partitionBy("yr")))
      .select(col("yr"), expr("s * 10000 div tot").as("share_e4"), col("tot"))
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_brands"), max(col("tot")).as("total_cents"),
        sum(col("share_e4") * col("share_e4")).as("hhi_e8"))
      .orderBy("yr")
  }

  /** Customer-to-customer similarity by purchased-part sets (the
    * collaborative neighborhood build): among the 50 most active
    * customers (order count, tie → custkey — a broadcast-sized block),
    * the top-20 pairs by exact e4 Jaccard over their distinct part sets.
    * At full scale the block becomes an LSH bucket; the join shape is
    * identical.
    */
  def q_user_similarity(spark: SparkSession, sf: String): DataFrame = {
    val top50 = Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("o_custkey").asc).limit(50)
      .select(col("o_custkey"))
    val sets = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(top50), "o_custkey")
      .select(col("o_custkey").as("cust"), col("l_partkey").as("pk")).distinct()
    val sizes = sets.groupBy(col("cust")).agg(count(lit(1)).as("sz"))
    sets.as("a").join(sets.as("b"),
        col("a.pk") === col("b.pk") && col("a.cust") < col("b.cust"))
      .groupBy(col("a.cust").as("c1"), col("b.cust").as("c2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("cust").as("c1"), col("sz").as("sz1")), "c1")
      .join(sizes.select(col("cust").as("c2"), col("sz").as("sz2")), "c2")
      .select(col("c1"), col("c2"),
        expr("inter * 10000 div (sz1 + sz2 - inter)").as("jaccard_e4"))
      .orderBy(col("jaccard_e4").desc, col("c1").asc, col("c2").asc)
      .limit(20)
  }

  /** Per-user feature-store export (the materialized feature vector a
    * churn/LTV model trains on), bounded to user_id < 100 for the
    * declared output: event volume, purchases, purchase revenue, active
    * days, tenure, and events-per-active-day (e2 integer). One user-keyed
    * aggregate; the bound is a pushed-down filter, not a collect.
    */
  def q_feature_store_export(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .filter(col("user_id") < 100)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        sum(when(col("event_type") === "purchase", cents(col("value")))
          .otherwise(0L)).as("purchase_cents"),
        countDistinct(col("ts_us").cast("date")).as("active_days"),
        (datediff(max(col("ts_us").cast("date")), min(col("ts_us").cast("date"))) + 1)
          .cast("long").as("tenure_days"))
      .select(col("user_id"), col("n_events"), col("n_purchases"), col("purchase_cents"),
        col("active_days"), col("tenure_days"),
        expr("n_events * 100 div tenure_days").as("events_per_day_e2"))
      .orderBy("user_id")

  /** DAU/MAU stickiness per month: Σ daily actives over the month's
    * observed days, divided by (days × monthly actives) — the canonical
    * engagement ratio, all exact integers with one e4 integer division.
    * Two distinct-aggregates over the tiny (user, day) table.
    */
  def q_stickiness(spark: SparkSession, sf: String): DataFrame = {
    val ud = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("ts_us").cast("date").as("day"),
        date_format(date_trunc("month", col("ts_us")), "yyyy-MM").as("month"))
      .distinct()
    val daily = ud.groupBy(col("month"), col("day")).agg(count(lit(1)).as("dau"))
      .groupBy(col("month"))
      .agg(sum(col("dau")).as("dau_sum"), count(lit(1)).as("n_days"))
    val monthly = ud.groupBy(col("month")).agg(countDistinct(col("user_id")).as("mau"))
    daily.join(monthly, "month")
      .select(col("month"), col("mau"), col("n_days"), col("dau_sum"),
        expr("dau_sum * 10000 div (n_days * mau)").as("stickiness_e4"))
      .orderBy("month")
  }

  /** Session conversion by engagement depth: 30-min-gap sessions
    * bucketed by event count (capped at 10+), per bucket the share that
    * contains a purchase — the "does depth convert" product question.
    * Same single user-keyed session shuffle as the other session ops.
    */
  def q_session_conversion(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsWithTs(spark, sf)
      .withColumn("prev_usl", lag(col("ts_usl"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_usl").isNull ||
             col("ts_usl") - col("prev_usl") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(wCum))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      .select(least(col("n_events"), lit(10L)).as("depth_bucket"), col("converted"))
      .groupBy(col("depth_bucket"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_converted"))
      .select(col("depth_bucket"), col("n_sessions"), col("n_converted"),
        expr("n_converted * 10000 div n_sessions").as("conv_e4"))
      .orderBy("depth_bucket")
  }

  /** Rolling 7-day exact median of daily order revenue (the robust
    * trend line a spiky series needs instead of a moving average): the
    * trailing window materializes as a ≤7-element list per day — sorted
    * in place, middle element taken — pure integers, year-partitioned
    * frames with the 6-day warm-up excluded like [[q_ma_crossover]].
    */
  def q_rolling_median(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.orders(spark, sf)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
      .withColumn("yr", year(col("day")))
    val w = Window.partitionBy("yr").orderBy("day")
    daily
      .withColumn("rn", row_number().over(w))
      .withColumn("win", collect_list(col("rev")).over(w.rowsBetween(-6, 0)))
      .filter(col("rn") >= 7)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("rev"),
        element_at(array_sort(col("win")), 4).as("med7"))
      .orderBy("day")
  }

  /** Inter-arrival time histogram per user stream: µs gaps between a
    * user's consecutive events, bucketed by integer bit length (the
    * proven cross-engine log₂ lattice — ~2× resolution per bucket).
    * The burstiness/Poisson-ness diagnostic for event pipelines; one
    * user-keyed window + a ≤64-row histogram at any volume.
    */
  def q_interarrival_hist(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
    Tables.eventsWithTs(spark, sf)
      .withColumn("gap", col("ts_usl") - lag(col("ts_usl"), 1).over(w))
      .filter(col("gap").isNotNull)
      .select(expr("CAST(length(bin(gap)) AS BIGINT)").as("bucket"), col("gap"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("gap")).as("min_us"), max(col("gap")).as("max_us"))
      .orderBy("bucket")
  }

  /** Rolling 7-day active users (WAU) per day: each distinct (user, day)
    * covers the next 7 calendar days via a bounded ×7 explode of the
    * already-tiny distinct table, then one distinct count per covered
    * day — never a distinct-over-sliding-window (which can't merge
    * partially). Days past the observed range are clipped.
    */
  def q_rolling_wau(spark: SparkSession, sf: String): DataFrame = {
    val ud = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("ts_us").cast("date").as("day")).distinct()
    val bounds = ud.agg(max(col("day")).as("max_day"))
    ud.select(col("user_id"), explode(expr("sequence(0, 6)")).as("off"), col("day"))
      .select(col("user_id"), expr("date_add(day, off)").as("cov_day"))
      .distinct()
      .crossJoin(broadcast(bounds))
      .filter(col("cov_day") <= col("max_day"))
      .groupBy(col("cov_day"))
      .agg(count(lit(1)).as("wau"))
      .select(date_format(col("cov_day"), "yyyy-MM-dd").as("day"), col("wau"))
      .orderBy("day")
  }

  /** Seasonal decomposition (STL-lite): per event type, the daily series
    * detrends against a centered 7-day moving sum (residual = rev·7 −
    * Σ window, pure integers — no division until the epilogue), and the
    * day-of-week seasonal index is the mean residual per (type, dow) as
    * one IEEE division. Interior days only (full 7-day windows).
    */
  def q_seasonal_decompose(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts_us")).as("day"))
      .agg(sum(cents(col("value"))).as("rev"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    daily
      .withColumn("ma_sum", sum(col("rev")).over(w))
      .withColumn("ma_n", count(lit(1)).over(w))
      .filter(col("ma_n") === 7)
      .select(col("event_type"), dayofweek(col("day")).cast("long").as("dow"),
        (col("rev") * 7 - col("ma_sum")).as("resid"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("resid")).as("sr"))
      .select(col("event_type"), col("dow"), col("n_days"),
        (round(col("sr").cast("double") / (col("n_days").cast("double") * lit(7.0)), 4)
          + lit(0.0)).as("seasonal_cents"))
      .orderBy("event_type", "dow")
  }

  /** Local-maximum peak detection on the daily revenue series per event
    * type (strict peaks: higher than both neighbors), with the tallest
    * peak per type as an arg-max struct — the alerting primitive behind
    * spike detection. The series is the calendar-bounded daily aggregate;
    * windows are type-partitioned.
    */
  def q_peak_detection(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts_us")).as("day"))
      .agg(sum(cents(col("value"))).as("rev"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .withColumn("nxt", lead(col("rev"), 1).over(w))
      .withColumn("is_peak",
        when(col("prev").isNotNull && col("nxt").isNotNull &&
             col("rev") > col("prev") && col("rev") > col("nxt"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("is_peak")).as("n_peaks"),
        max(when(col("is_peak") === 1L,
          struct(col("rev"), date_format(col("day"), "yyyy-MM-dd").as("d")))).as("top"))
      .select(col("event_type"), col("n_days"), col("n_peaks"),
        col("top.d").as("top_peak_day"), col("top.rev").as("top_peak_cents"))
      .orderBy("event_type")
  }

  /** Pareto coverage of order volume by part (the long-tail profile):
    * per return flag, parts ranked by quantity; k80 = how many top parts
    * cover 80% of the flag's volume (integer cross-multiplication — no
    * division), plus the top-10 parts' e4 share. Rank windows are
    * flag-partitioned over the part aggregate, not the raw scan.
    */
  def q_pareto_coverage(spark: SparkSession, sf: String): DataFrame = {
    val perPart = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("flag"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
    val w = Window.partitionBy("flag").orderBy(col("qty").desc, col("l_partkey").asc)
    val ranked = perPart
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("qty")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("qty")).over(Window.partitionBy("flag")))
    ranked.groupBy(col("flag"))
      .agg(count(lit(1)).as("n_parts"), max(col("tot")).as("total_qty"),
        min(when(col("cum") * 5 >= col("tot") * 4, col("rank"))).as("k80"),
        sum(when(col("rank") <= 10, col("qty")).otherwise(0L)).as("top10_qty"))
      .select(col("flag"), col("n_parts"), col("total_qty"), col("k80"),
        expr("top10_qty * 10000 div total_qty").as("top10_share_e4"))
      .orderBy("flag")
  }

  /** Weekly user-lifecycle states: each user's active weeks classify as
    * new (first ever), retained (active previous week too) or resurrected
    * (returning after a gap), plus the count of users whose activity gap
    * STARTS after this week — the growth-accounting decomposition every
    * product dashboard runs. One user-keyed shuffle for the lag/lead
    * windows, then a week-keyed aggregate.
    */
  def q_lifecycle_states(spark: SparkSession, sf: String): DataFrame = {
    val uw = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), date_trunc("week", col("ts_us")).as("week")).distinct()
    val w = Window.partitionBy("user_id").orderBy("week")
    val st = uw
      .withColumn("prev", lag(col("week"), 1).over(w))
      .withColumn("nxt", lead(col("week"), 1).over(w))
      .withColumn("state",
        when(col("prev").isNull, "new")
          .when(datediff(col("week").cast("date"), col("prev").cast("date")) === 7, "retained")
          .otherwise("resurrected"))
      .withColumn("churns_after",
        when(col("nxt").isNull ||
             datediff(col("nxt").cast("date"), col("week").cast("date")) > 7, 1L)
          .otherwise(0L))
    st.groupBy(col("week"))
      .agg(count(lit(1)).as("active_users"),
        sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("state") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        sum(col("churns_after")).as("n_churning_after"))
      .select(date_format(col("week"), "yyyy-MM-dd").as("week"), col("active_users"),
        col("n_new"), col("n_retained"), col("n_resurrected"), col("n_churning_after"))
      .orderBy("week")
  }

  /** Kaplan-Meier-style survival of "time to second order" per market
    * segment, reported as the cumulative hazard H(t) = Σ −ln(1−dₜ/nₜ) at
    * fixed horizons (7/30/60/90 days) — censoring = customers with no
    * second order, censored at the global last order date. No exp() is
    * ever taken (libm-unsafe): terms land on the e8 LN lattice and the
    * survival curve ships as exact hazard integers. The risk set comes
    * from one cumulative window over the per-day ending counts (never a
    * per-customer theta re-scan), so the heavy table is touched twice
    * (first/second order pass + segment join) regardless of scale.
    */
  def q_survival_hazard(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
    val anchor = o.agg(max(col("o_orderdate").cast("date")).as("anchor"))
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val firstSecond = o.select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate").cast("date")).as("f"),
        max(when(col("rn") === 2, col("o_orderdate").cast("date"))).as("s"))
    val times = firstSecond.crossJoin(broadcast(anchor))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        when(col("s").isNotNull, datediff(col("s"), col("f")))
          .otherwise(datediff(col("anchor"), col("f"))).cast("long").as("t"),
        when(col("s").isNotNull, 1L).otherwise(0L).as("event"))
    val perDay = times.groupBy(col("seg"), col("t"))
      .agg(sum(col("event")).as("d"), count(lit(1)).as("ending"))
    val segTotals = times.groupBy(col("seg")).agg(count(lit(1)).as("n_seg"))
    val wd = Window.partitionBy("seg").orderBy("t")
    val hazard = perDay.join(segTotals, "seg")
      .withColumn("at_risk", col("n_seg") - coalesce(
        sum(col("ending")).over(wd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("d") > 0 && col("d") < col("at_risk"))
      .withColumn("term_e8",
        round(-log(lit(1.0) - col("d").cast("double") / col("at_risk").cast("double"))
          * lit(1e8)).cast("long"))
      .withColumn("h_e8",
        sum(col("term_e8")).over(wd.rowsBetween(Window.unboundedPreceding, 0)))
    val horizons = spark.range(1)
      .select(explode(array(lit(7L), lit(30L), lit(60L), lit(90L))).as("horizon"))
    hazard.select(col("seg"), col("t"), col("h_e8"))
      .join(broadcast(horizons), col("t") <= col("horizon"))
      .groupBy(col("seg"), col("horizon"))
      .agg(max(struct(col("t"), col("h_e8"))).as("last"))
      .select(col("seg"), col("horizon"), col("last.h_e8").as("cum_hazard_e8"))
      .orderBy("seg", "horizon")
  }

  /** Weekly event-type mix drift: per week the e4 share of each event
    * type (zero-filled on a dense week×type scaffold so vanishing types
    * still count) and the L1 distance to the previous week's mix — the
    * distribution-drift monitor a streaming ingest runs per batch. The
    * scaffold is weeks×types (calendar-bounded), never event-sized.
    */
  def q_mix_drift(spark: SparkSession, sf: String): DataFrame = {
    val wk = Tables.eventsWithTs(spark, sf)
      .groupBy(date_trunc("week", col("ts_us")).as("week"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val dense = wk.select(col("week")).distinct()
      .crossJoin(wk.select(col("event_type")).distinct())
      .join(wk, Seq("week", "event_type"), "left_outer")
      .select(col("week"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
    val share = dense
      .withColumn("tot", sum(col("n")).over(Window.partitionBy("week")))
      .withColumn("share_e4", expr("n * 10000 div tot"))
    share
      .withColumn("prev_share",
        lag(col("share_e4"), 1).over(Window.partitionBy("event_type").orderBy("week")))
      .filter(col("prev_share").isNotNull)
      .groupBy(col("week"))
      .agg(max(col("tot")).as("total_events"),
        sum(abs(col("share_e4") - col("prev_share"))).as("l1_drift_e4"))
      .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("total_events"), col("l1_drift_e4"))
      .orderBy("week")
  }

  /** One-way ANOVA: does mean document length differ across languages?
    * F = (SSB/(k−1))/(SSW/(N−k)) from exact per-group integer sums; the
    * order-sensitive Σ S_g²/n_g is routed through an e6 integer per-group
    * term (decimal product, positive → trunc-safe) BEFORE the order-free
    * sum, then one fixed IEEE epilogue shared with the oracle.
    */
  def q_anova_f(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.documents(spark, sf)
      .select(col("lang"), col("n_chars").cast("long").as("x"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
        sum(col("x") * col("x")).as("sg2"))
      .select(col("ng"), col("sg"), col("sg2"),
        expr("CAST(sg AS decimal(38,0)) * sg * 1000000 div ng").cast("decimal(38,0)").as("t_e6"))
    val s = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("sg")).as("sx"), sum(col("sg2")).as("sxx"),
      sum(col("t_e6")).as("st_e6"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val ssb = col("st_e6").cast("double") / lit(1e6) -
      col("sx").cast("double") * col("sx").cast("double") / nD
    val ssw = col("sxx").cast("double") - col("st_e6").cast("double") / lit(1e6)
    s.select(col("k"), col("n"),
      (round(ssb, 4) + lit(0.0)).as("ssb"),
      (round(ssw, 4) + lit(0.0)).as("ssw"),
      (round((ssb / (kD - lit(1.0))) / (ssw / (nD - kD)), 4) + lit(0.0)).as("f_stat"))
  }

  /** Benford first-digit audit of order totals: observed first-digit
    * shares (e4 integers) beside the theoretical Benford share
    * round(log₁₀(1+1/d)·10⁴) — the classic bulk fraud/quality screen.
    * One digit-extraction pass + a 9-row aggregate at any table size.
    */
  def q_benford(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.orders(spark, sf)
      .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    val n = d.agg(sum(col("cnt")).as("n"))
    d.crossJoin(broadcast(n))
      .select(col("digit"), col("cnt"),
        expr("cnt * 10000 div n").as("share_e4"),
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0)) * lit(1e4)).cast("long").as("benford_e4"))
      .orderBy("digit")
  }

  /** Wald-Wolfowitz runs test for randomness of the daily revenue
    * direction, per calendar year (a complete, calendar-bounded series —
    * the same year-partitioned frame discipline as [[q_ma_crossover]]):
    * runs of consecutive up/down days counted exactly, then the normal
    * approximation z = (R−μ)/σ as one fixed IEEE epilogue over four
    * integers.
    */
  def q_runs_test(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.orders(spark, sf)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
      .withColumn("yr", year(col("day")))
    val w = Window.partitionBy("yr").orderBy("day")
    val signs = daily
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("up", (col("rev") >= col("prev")).cast("long"))
      .withColumn("chg", when(lag(col("up"), 1).over(w).isNull ||
        lag(col("up"), 1).over(w) =!= col("up"), 1L).otherwise(0L))
    val s = signs.groupBy(col("yr"))
      .agg(count(lit(1)).as("n_days"), sum(col("up")).as("n_up"),
        sum(lit(1L) - col("up")).as("n_down"), sum(col("chg")).as("runs"))
    val n1 = col("n_up").cast("double")
    val n2 = col("n_down").cast("double")
    val mu = lit(1.0) + lit(2.0) * n1 * n2 / (n1 + n2)
    val sig2 = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - lit(1.0)))
    s.select(col("yr").cast("long").as("yr"), col("n_days"), col("n_up"),
      col("n_down"), col("runs"),
      (round((col("runs").cast("double") - mu) / sqrt(sig2), 4) + lit(0.0)).as("z"))
      .orderBy("yr")
  }

  /** Gaps-and-islands activity streaks: a user's distinct active days
    * collapse into runs of consecutive days via the classic
    * day-number − row-number grouping key; per user the island count and
    * longest streak, reported as a longest-streak histogram. Everything
    * is user-partitioned integer arithmetic — the retention-adjacent
    * engagement metric that needs no calendar scaffold.
    */
  def q_streak_islands(spark: SparkSession, sf: String): DataFrame = {
    val days = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"),
        datediff(col("ts_us").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("dayn"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("dayn")
    val islands = days.withColumn("rn", row_number().over(w).cast("long"))
      .select(col("user_id"), (col("dayn") - col("rn")).as("grp"))
      .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"), max(col("len")).as("longest"))
      .groupBy(col("longest"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_islands")).as("total_islands"))
      .orderBy("longest")
  }

  /** Skewness and excess kurtosis of lineitem quantity per return flag,
    * from one pass of exact raw-moment sums (Σq..Σq⁴, the higher powers
    * in decimal) and a fixed shared IEEE epilogue — the distribution-
    * shape profile that decides normalization strategy before model
    * training. One partial+final aggregate at any table size.
    */
  def q_skew_kurtosis(spark: SparkSession, sf: String): DataFrame = {
    val s = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"),
        sum((col("q") * col("q")).cast("decimal(38,0)") * col("q")).as("s3"),
        sum((col("q") * col("q")).cast("decimal(38,0)") * (col("q") * col("q"))).as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val r2 = col("s2").cast("double") / nD
    val r3 = col("s3").cast("double") / nD
    val r4m = col("s4").cast("double") / nD
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    val m4 = r4m - lit(4.0) * mu * r3 + lit(6.0) * mu * mu * r2 -
      lit(3.0) * mu * mu * mu * mu
    s.select(col("flag"), col("n"),
      // m2^1.5 as m2·√m2: sqrt is correctly-rounded IEEE on both engines,
      // pow(x, 1.5) is a libm call that may differ by an ulp across them
      (round(m3 / (m2 * sqrt(m2)), 4) + lit(0.0)).as("skewness"),
      (round(m4 / (m2 * m2) - lit(3.0), 4) + lit(0.0)).as("kurtosis_excess"))
      .orderBy("flag")
  }

  /** Lag-1 autocorrelation of the daily revenue series per event type —
    * the time-series diagnostic behind seasonality/trend detection. The
    * raw stream collapses to a calendar-bounded daily aggregate first
    * (one shuffle); the Pearson epilogue runs on exact integer sufficient
    * statistics over the (prev, cur) lag pairs (cross-products in
    * decimal — daily cents² would pass 2⁶³ at fleet scale), cast to
    * double once in a fixed IEEE tree shared with the oracle.
    */
  def q_autocorr_daily(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts_us")).as("day"))
      .agg(sum(cents(col("value"))).as("rev"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val s = daily
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("prev")).as("sx"), sum(col("rev")).as("sy"),
        sum(col("prev").cast("decimal(38,0)") * col("rev")).as("sxy"),
        sum(col("prev").cast("decimal(38,0)") * col("prev")).as("sxx"),
        sum(col("rev").cast("decimal(38,0)") * col("rev")).as("syy"))
    val nD = col("n_pairs").cast("double")
    val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val dx = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val dy = nD * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    s.select(col("event_type"), col("n_pairs"),
      (round(num / sqrt(dx * dy), 4) + lit(0.0)).as("acf1"))
      .orderBy("event_type")
  }

  /** Autocorrelation function at lags {1, 2, 3, 7} of the per-type daily
    * value series — one keyed window pass computes all four lag columns,
    * stacked in-row (explode of a 4-struct array, no per-lag rescan), then
    * the Pearson epilogue per (type, lag) from exact integer/decimal
    * sufficient statistics. The multi-lag seasonality probe behind the
    * [[q_seasonality_profile]]-style dashboards.
    */
  def q_acf_multi_lag(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts_us")).as("day"))
      .agg(sum(cents(col("value"))).as("rev"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily
      .withColumn("p1", lag(col("rev"), 1).over(w))
      .withColumn("p2", lag(col("rev"), 2).over(w))
      .withColumn("p3", lag(col("rev"), 3).over(w))
      .withColumn("p7", lag(col("rev"), 7).over(w))
      .select(col("event_type"), col("rev"), explode(expr(
        "array(struct(CAST(1 AS BIGINT) AS k, p1 AS prev)," +
          " struct(CAST(2 AS BIGINT) AS k, p2 AS prev)," +
          " struct(CAST(3 AS BIGINT) AS k, p3 AS prev)," +
          " struct(CAST(7 AS BIGINT) AS k, p7 AS prev))")).as("x"))
      .filter(col("x.prev").isNotNull)
      .select(col("event_type"), col("x.k").as("k"), col("rev"), col("x.prev").as("prev"))
    val s = lagged.groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("prev")).as("sx"), sum(col("rev")).as("sy"),
        sum(col("prev").cast("decimal(38,0)") * col("rev")).as("sxy"),
        sum(col("prev").cast("decimal(38,0)") * col("prev")).as("sxx"),
        sum(col("rev").cast("decimal(38,0)") * col("rev")).as("syy"))
    val nD = col("n_pairs").cast("double")
    val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val dx = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val dy = nD * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    s.select(col("event_type"), col("k"), col("n_pairs"),
      (round(num / sqrt(dx * dy), 4) + lit(0.0)).as("acf"))
      .orderBy("event_type", "k")
  }

  /** Moving-average crossover signal on daily order revenue: trailing
    * 3-day vs 7-day means compared by integer cross-multiplication
    * (sum3·7 > sum7·3 ⇔ ma3 > ma7 — no division ever happens), emitting
    * the days where the signal flips. Windows are partitioned by calendar
    * year (a trailing row frame needs *some* partition; the daily series
    * is calendar-bounded so a year holds ≤ 366 rows at any data size) and
    * the first 6 in-year days are warm-up, excluded on both engines.
    */
  def q_ma_crossover(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.orders(spark, sf)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
      .withColumn("yr", year(col("day")))
    val w = Window.partitionBy("yr").orderBy("day")
    val sig = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("sum3", sum(col("rev")).over(w.rowsBetween(-2, 0)))
      .withColumn("sum7", sum(col("rev")).over(w.rowsBetween(-6, 0)))
      .withColumn("above", (col("sum3") * 7 > col("sum7") * 3).cast("int"))
      .withColumn("prev_above", lag(col("above"), 1).over(w))
    sig.filter(col("rn") >= 8 && col("prev_above").isNotNull &&
        col("above") =!= col("prev_above"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("sum3"), col("sum7"), col("above").cast("long").as("golden_cross"))
      .orderBy("day")
  }

  /** Revenue concentration per market segment: exact Gini coefficient of
    * customer lifetime order value via the rank formula
    * G = Σ(2i−n−1)·xᵢ / (n·Σx) (x ascending, ties broken by custkey),
    * plus the top-decile revenue share. Everything is integer until two
    * final e6 integer divisions; the rank window is segment-partitioned
    * and the term products ride in decimal (rank·cents passes 2⁶³ at
    * fleet scale).
    */
  def q_gini_revenue(spark: SparkSession, sf: String): DataFrame = {
    val perCust = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
      .join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("c_custkey"), col("x"))
    val w = Window.partitionBy("c_mktsegment").orderBy(col("x").asc, col("c_custkey").asc)
    val ranked = perCust
      .withColumn("i", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
    ranked.groupBy(col("c_mktsegment"))
      .agg(max(col("n")).as("n_customers"),
        sum(col("x")).as("total_cents"),
        sum((lit(2) * col("i") - col("n") - lit(1)).cast("decimal(38,0)") * col("x")).as("gnum"),
        sum(when(col("i") > col("n") - (col("n") / lit(10)).cast("long"), col("x"))
          .otherwise(lit(0L))).as("top_cents"))
      .select(col("c_mktsegment"), col("n_customers"), col("total_cents"),
        expr("gnum * 1000000 div (CAST(n_customers AS decimal(38,0)) * total_cents)")
          .cast("long").as("gini_e6"),
        expr("CAST(top_cents AS decimal(38,0)) * 1000000 div total_cents")
          .cast("long").as("top10_share_e6"))
      .orderBy("c_mktsegment")
  }

  /** RFM customer segmentation: recency (days to a fixed anchor),
    * frequency (orders), monetary (lifetime cents), each bucketed into
    * quintiles against boundaries from ONE interpolating-percentile
    * aggregate — rows bucket themselves against the broadcast boundary
    * arrays exactly like [[q_hist_equidepth]], so there is no global
    * NTILE sort anywhere (the 100 TB shape). Output: customer count and
    * monetary total per (r, f, m) cell.
    */
  def q_rfm_segments(spark: SparkSession, sf: String): DataFrame = {
    // one row per customer; materialized because FOUR consumers fan
    // out below (three quintile-boundary passes + the bucketing scan)
    // — lazy, the orders aggregate re-ran four times (round 10 plan
    // audit: 102 Exchange nodes without it)
    val base = Mat.once(Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(datediff(lit("1999-01-01").cast("date"), max(col("o_orderdate")).cast("date"))
          .cast("long").as("rec"),
        count(lit(1)).as("freq"),
        sum(cents(col("o_totalprice"))).as("mon")))
    def quintiles(c: String, name: String) = Relational.latticePercentiles(
        base.groupBy(col(c).as("pc")).agg(count(lit(1)).as("cnt")),
        Seq(), (1 to 4).map(i => i / 5.0 -> s"q$i"))
      .select(array((1 to 4).map(i => col(s"q$i")): _*).as(name))
    base.crossJoin(broadcast(quintiles("rec", "rb")))
      .crossJoin(broadcast(quintiles("freq", "fb")))
      .crossJoin(broadcast(quintiles("mon", "mb")))
      .select(col("mon"),
        expr("1 + size(filter(rb, b -> rec > b))").cast("long").as("r_bucket"),
        expr("1 + size(filter(fb, b -> freq > b))").cast("long").as("f_bucket"),
        expr("1 + size(filter(mb, b -> mon > b))").cast("long").as("m_bucket"))
      .groupBy("r_bucket", "f_bucket", "m_bucket")
      .agg(count(lit(1)).as("n_customers"), sum(col("mon")).as("monetary_cents"))
      .orderBy("r_bucket", "f_bucket", "m_bucket")
  }

  /** Degree profile of the customer↔part bipartite purchase graph: per
    * customer the count of distinct parts ever ordered, then the
    * distribution of that degree (customers and total quantity per
    * degree). Two keyed shuffles — the orderkey join and the custkey
    * aggregate; the degree histogram is bounded by max basket breadth,
    * not corpus size.
    */
  def q_bipartite_degree(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity").cast("long").as("q"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("l_partkey")).as("degree"), sum(col("q")).as("qty"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_customers"), sum(col("qty")).as("total_qty"))
      .orderBy("degree")

  /** TPC-H-Q3-flavor CTE query through the SQL-string entry path (E2):
    * top-10 open orders by discounted revenue shipped after mid-1996.
    * Exercises CTE parsing, a fact→dim shuffle join, aggregate-then-join
    * and TakeOrderedAndProject in one statement.
    */
  def q_cte_q3(spark: SparkSession, sf: String): DataFrame = {
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    spark.sql("""
      WITH rev AS (
        SELECT l_orderkey,
               SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS rev_e4
        FROM lineitem_v
        WHERE l_shipdate > TIMESTAMP '1996-06-30'
        GROUP BY l_orderkey)
      SELECT o.o_orderkey, o.o_orderpriority, r.rev_e4
      FROM rev r JOIN orders_v o ON r.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus <> 'F'
      ORDER BY r.rev_e4 DESC, o.o_orderkey LIMIT 10""")
  }

  /** Two-sample Kolmogorov-Smirnov test: event values of even- vs
    * odd-user-id cohorts. The ECDF difference is computed on the distinct
    * value lattice — per value-cents the cohort counts, cumulated by a
    * two-level distributed prefix sum (bucket-keyed windows + bucket-
    * prefix offsets) — and the supremum is kept exactly as the integer
    * |cum0·n1 − cum1·n0| before a single ÷(n0·n1) epilogue. At 100 TB the
    * lattice is millions of rows, not billions of events, and no stage
    * ever sorts it in one task.
    */
  def q_ks_test(spark: SparkSession, sf: String): DataFrame = {
    val vals = Tables.eventsWithTs(spark, sf)
      .select((col("user_id") % 2).as("cohort"), cents(col("value")).as("v"))
      .groupBy(col("v"))
      .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("c1"))
      .withColumn("bkt", expr("v div 10000"))
    // two-level distributed prefix sum: within-bucket cumulative (keyed
    // window) + bucket-prefix offsets from a tiny bucket-totals theta join
    // — no partition-less window anywhere, so the lattice never funnels
    // through one task no matter how many distinct values exist.
    val wIn = Window.partitionBy("bkt").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inCum = vals
      .withColumn("in0", sum(col("c0")).over(wIn))
      .withColumn("in1", sum(col("c1")).over(wIn))
    val bktTot = vals.groupBy(col("bkt"))
      .agg(sum(col("c0")).as("b0"), sum(col("c1")).as("b1"))
    val prefix = bktTot.as("a")
      .join(bktTot.as("b"), col("b.bkt") < col("a.bkt"), "left_outer")
      .groupBy(col("a.bkt").as("bkt"))
      .agg(coalesce(sum(col("b.b0")), lit(0L)).as("pre0"),
        coalesce(sum(col("b.b1")), lit(0L)).as("pre1"))
    val cum = inCum.join(broadcast(prefix), Seq("bkt"))
      .select(col("v"), (col("pre0") + col("in0")).as("cum0"),
        (col("pre1") + col("in1")).as("cum1"))
    val n = vals.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    cum.crossJoin(broadcast(n))
      .select(col("v"), col("n0"), col("n1"),
        abs(col("cum0") * col("n1") - col("cum1") * col("n0")).as("diff"))
      .orderBy(col("diff").desc, col("v").asc)
      .limit(1)
      .select(col("n0"), col("n1"), col("v").as("at_value_cents"),
        expr("diff * 1000000 div (n0 * n1)").as("ks_e6"))
  }

  /** Mann-Whitney U rank-sum test between order statuses 'F' and 'O' on
    * total price. Tie-corrected average ranks come off the distinct-value
    * lattice (rank×2 = 2·cum_before + tie_count + 1 keeps everything
    * integer); U, its mean and variance are the closed-form epilogue.
    * Same scale shape as the KS test: the rank prefix is the two-level
    * distributed prefix sum, never a partition-less window.
    */
  def q_mann_whitney(spark: SparkSession, sf: String): DataFrame = {
    val vals = Tables.orders(spark, sf)
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_orderstatus").as("g"), cents(col("o_totalprice")).as("v"))
      .groupBy(col("v"))
      .agg(sum(when(col("g") === "F", 1L).otherwise(0L)).as("cf"),
        count(lit(1)).as("ct"))
      .withColumn("bkt", expr("v div 1000000"))
    val wIn = Window.partitionBy("bkt").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1L)
    val bktTot = vals.groupBy(col("bkt")).agg(sum(col("ct")).as("bt"))
    val prefix = bktTot.as("a")
      .join(bktTot.as("b"), col("b.bkt") < col("a.bkt"), "left_outer")
      .groupBy(col("a.bkt").as("bkt"))
      .agg(coalesce(sum(col("b.bt")), lit(0L)).as("pre"))
    val ranked = vals.join(broadcast(prefix), Seq("bkt"))
      .withColumn("cumBefore",
        col("pre") + coalesce(sum(col("ct")).over(wIn), lit(0L)))
      .select(col("cf"), col("ct"),
        (col("cf") * (col("cumBefore") * 2L + col("ct") + 1L)).as("r1x2"),
        (col("ct") * (col("ct") * col("ct") - 1L)).as("tie3"))
    val s = ranked.agg(sum(col("cf")).as("n1"),
      sum(col("ct") - col("cf")).as("n2"),
      sum(col("r1x2")).as("r1_x2"), sum(col("tie3")).as("ties3"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val nn = n1 + n2
    val u1 = (col("u1_x2")).cast("double") / lit(2.0)
    val sigma2 = n1 * n2 / lit(12.0) *
      ((nn + lit(1.0)) - col("ties3").cast("double") / (nn * (nn - lit(1.0))))
    s.select(col("n1"), col("n2"),
        (col("r1_x2") - col("n1") * (col("n1") + 1L)).as("u1_x2"), col("ties3"))
      .select(col("n1"), col("n2"), col("u1_x2"),
        (round((u1 - n1 * n2 / lit(2.0)) / sqrt(sigma2), 4) + lit(0.0)).as("z"))
  }

  /** Cramér's V association between customer market segment and home
    * region (5×5 contingency). Each cell's χ² contribution is rounded to
    * an e8 integer BEFORE the total — integer summation is order-free, so
    * the statistic is reproducible regardless of partitioning; V is one
    * closed-form epilogue over the integer χ². The contingency table is a
    * broadcast-joined 25-row aggregate at any corpus size.
    */
  def q_cramers_v(spark: SparkSession, sf: String): DataFrame = {
    val base = Tables.customer(spark, sf)
      .join(broadcast(Tables.nation(spark, sf)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("n_regionkey").as("reg"))
      .agg(count(lit(1)).as("obs"))
    val cells = base
      .withColumn("rowt", sum(col("obs")).over(Window.partitionBy("seg")))
      .withColumn("colt", sum(col("obs")).over(Window.partitionBy("reg")))
      .crossJoin(broadcast(base.agg(sum(col("obs")).as("n"))))
    val num = (col("obs") * col("n") - col("rowt") * col("colt")).cast("double")
    val termE8 = round(num * num /
      (col("rowt") * col("colt")).cast("double") / col("n").cast("double") * lit(1e8))
      .cast("long")
    val s = cells
      .select(col("n"), col("seg"), col("reg"), termE8.as("t_e8"))
      .agg(max(col("n")).as("n"), countDistinct(col("seg")).as("r"),
        countDistinct(col("reg")).as("c"), sum(col("t_e8")).as("chi2_e8"))
    val chi2 = col("chi2_e8").cast("double") / lit(1e8)
    val minDim = least(col("r"), col("c")).cast("double") - lit(1.0)
    s.select(col("n"), col("r"), col("c"),
      (round(chi2, 4) + lit(0.0)).as("chi2"),
      (round(sqrt(chi2 / (col("n").cast("double") * minDim)), 6) + lit(0.0)).as("v"))
  }

  /** Demand-intermittency histogram: each part's share of active weeks
    * within its own demand span (exact e4), banded — the intermittent-
    * demand screen that tells a forecaster which parts need Croston-style
    * models instead of moving averages.
    */
  def q_demand_intermittency(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val weekly = Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        (datediff(date_trunc("week", col("l_shipdate")).cast("date"), epoch) / 7)
          .cast("long").as("wkn"))
      .distinct()
    weekly.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("active"), min(col("wkn")).as("w0"), max(col("wkn")).as("w1"))
      .select(expr("active * 10000 div (w1 - w0 + 1)").as("share_e4"))
      .select(expr("share_e4 div 2500").as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_parts"))
      .orderBy("band")
  }

  /** Accumulating-snapshot fact rows for orders 0-49: order date, first
    * and last shipment, line count and the exact day lags — the classic
    * warehouse pattern where one row accretes lifecycle milestones.
    */
  def q_accumulating_snapshot(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderkey") < 50)
      .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("ordered"),
        date_format(col("first_ship"), "yyyy-MM-dd").as("first_ship"),
        date_format(col("last_ship"), "yyyy-MM-dd").as("last_ship"), col("n_lines"),
        datediff(col("first_ship").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_first"),
        datediff(col("last_ship").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_last"))
      .orderBy("o_orderkey")

  /** Order-fulfillment mix by order month: fulfilled (every line status
    * 'F'), partial (mixed) or open (no 'F' line) — the operational
    * pipeline-state rollup, one line aggregate + one month aggregate.
    */
  def q_order_fulfillment(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("nf"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(sum(when(col("nf") === col("n"), 1L).otherwise(0L)).as("n_fulfilled"),
        sum(when(col("nf") > 0L && col("nf") < col("n"), 1L).otherwise(0L)).as("n_partial"),
        sum(when(col("nf") === 0L, 1L).otherwise(0L)).as("n_open"))
      .orderBy("month")

  /** Seasonal amplitude per event type: the ratio of the busiest to the
    * quietest day-of-week mean value (floor means, e4 ratio) — one number
    * for "how seasonal is this stream".
    */
  def q_seasonal_amplitude(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), weekday(col("ts_us")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("s"))
      .select(col("event_type"), expr("s div n").as("m"))
      .groupBy(col("event_type"))
      .agg(min(col("m")).as("min_dow_mean"), max(col("m")).as("max_dow_mean"))
      .select(col("event_type"), col("min_dow_mean"), col("max_dow_mean"),
        expr("max_dow_mean * 10000 div min_dow_mean").as("amplitude_e4"))
      .orderBy("event_type")

  /** Compaction candidates: (flag, month) ingest partitions under a 500-
    * row threshold — the small-files report a table-maintenance job
    * compacts from. One aggregate + share arithmetic.
    */
  def q_compaction_candidates(spark: SparkSession, sf: String): DataFrame = {
    val parts = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("flag"),
        date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_rows"))
    parts.filter(col("n_rows") < 500L)
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_small_partitions"), sum(col("n_rows")).as("rows_to_compact"),
        min(col("month")).as("first_month"), max(col("month")).as("last_month"))
      .orderBy("flag")
  }

  /** Region × order-priority revenue matrix through the full dimension
    * chain (region ← nation ← customer ← orders): the two small dims
    * broadcast, the single real shuffle is the orders aggregate — the
    * canonical star-join rollup shape.
    */
  def q_region_priority_matrix(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sf)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sf)
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("rev_cents"))
      .orderBy("region", "priority")

  /** XYZ demand-variability classes per brand: each part's weekly demand
    * CV (exact sums, one epilogue per part, e4-floored) classifies it as
    * X (CV<0.5) / Y (<1.0) / Z — the forecastability partner of the ABC
    * revenue classes. Two aggregates + a bounded class rollup.
    */
  def q_xyz_variability(spark: SparkSession, sf: String): DataFrame = {
    val weekly = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("l_partkey"),
        date_trunc("week", col("l_shipdate")).as("wk"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val perPart = weekly.groupBy(col("brand"), col("l_partkey"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"), sum(col("q") * col("q")).as("ss"))
      .filter(col("n") >= 2)
    val nD = col("n").cast("double")
    val mean = col("s").cast("double") / nD
    val sd = sqrt((col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double") / nD) / (nD - lit(1.0)))
    perPart
      .withColumn("cv_e4", round(sd / mean * lit(1e4)).cast("long"))
      .select(col("brand"),
        when(col("cv_e4") < 5000L, "X").when(col("cv_e4") < 10000L, "Y").otherwise("Z")
          .as("xyz"))
      .groupBy(col("brand"), col("xyz"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("brand", "xyz")
  }

  /** Difference-in-differences: weekend-vs-weekday purchase value, first
    * half of the data vs second (by median event day) — DiD = (we₂−wd₂) −
    * (we₁−wd₁) from four exact cell means, one epilogue. The causal-
    * inference workhorse as a single pass + broadcast split point.
    */
  def q_did_estimate(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(cents(col("value")).as("vc"),
        (weekday(col("ts_us")) >= 5).as("is_we"), expr("ts_usl div 86400000000").as("dayn"))
    val split = ev.agg(percentile(col("dayn"), lit(0.5)).as("mid"))
    val cells = ev.crossJoin(broadcast(split))
      .select(col("vc"), col("is_we"), (col("dayn").cast("double") > col("mid")).as("late"))
      .groupBy(col("is_we"), col("late"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"))
    val p = cells.agg(
      max(when(!col("is_we") && !col("late"), col("s"))).as("s_wd1"),
      max(when(!col("is_we") && !col("late"), col("n"))).as("n_wd1"),
      max(when(col("is_we") && !col("late"), col("s"))).as("s_we1"),
      max(when(col("is_we") && !col("late"), col("n"))).as("n_we1"),
      max(when(!col("is_we") && col("late"), col("s"))).as("s_wd2"),
      max(when(!col("is_we") && col("late"), col("n"))).as("n_wd2"),
      max(when(col("is_we") && col("late"), col("s"))).as("s_we2"),
      max(when(col("is_we") && col("late"), col("n"))).as("n_we2"))
    def m(s: String, n: String) = col(s).cast("double") / col(n).cast("double")
    p.select(col("n_wd1"), col("n_we1"), col("n_wd2"), col("n_we2"),
      (round((m("s_we2", "n_we2") - m("s_wd2", "n_wd2")) -
        (m("s_we1", "n_we1") - m("s_wd1", "n_wd1")), 4) + lit(0.0)).as("did_cents"))
  }

  /** Quarter-over-quarter growth: quarterly revenue paired with the prior
    * quarter by an add_months(3) equi-join (no window); growth as an e4
    * trunc integer — both engines truncate integer division toward zero,
    * so negative quarters need no special casing.
    */
  def q_qoq_growth(spark: SparkSession, sf: String): DataFrame = {
    val q = Tables.lineitem(spark, sf)
      .groupBy(date_trunc("quarter", col("l_shipdate")).as("qtr"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    val prev = q.select(add_months(col("qtr"), 3).cast("timestamp").as("qtr"),
      col("rev").as("prev_rev"))
    q.join(prev, Seq("qtr"))
      .select(date_format(col("qtr"), "yyyy-MM").as("quarter"),
        col("prev_rev"), col("rev"),
        expr("(rev - prev_rev) * 10000 div prev_rev").as("growth_e4"))
      .orderBy("quarter")
  }

  /** Receivables-aging buckets: open ('O') orders grouped by age against
    * the newest order date — 0-30/31-60/61-90/90+ day buckets with counts
    * and value mass. The finance-ops staple; one broadcast reference +
    * one aggregate.
    */
  def q_aging_buckets(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val o = Tables.orders(spark, sf)
      .select(col("o_orderstatus"),
        datediff(col("o_orderdate").cast("date"), epoch).cast("long").as("dayn"),
        cents(col("o_totalprice")).as("tp"))
    val ref = o.agg(max(col("dayn")).as("ref"))
    o.filter(col("o_orderstatus") === "O")
      .crossJoin(broadcast(ref))
      .select((col("ref") - col("dayn")).as("age"), col("tp"))
      .select(when(col("age") <= 30L, "a_0_30")
        .when(col("age") <= 60L, "b_31_60")
        .when(col("age") <= 90L, "c_61_90").otherwise("d_over_90").as("bucket"),
        col("tp"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"), sum(col("tp")).as("value_cents"))
      .orderBy("bucket")
  }

  /** Lorenz-curve points: customer lifetime spend bucketed into deciles
    * by the nine exact spend percentiles (decile 1 = lowest spend), with
    * the cumulative revenue share per decile as exact e4 integers (10-row
    * theta-join cumulative). The raw curve behind the Gini number.
    */
  def q_lorenz_curve(spark: SparkSession, sf: String): DataFrame = {
    val spend = Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(sum(cents(col("o_totalprice"))).as("sp"))
    val bounds = Relational.latticePercentiles(
        spend.groupBy(col("sp").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq(), (1 to 9).map(i => i / 10.0 -> s"d$i"))
      .select(array((1 to 9).map(i => col(s"d$i")): _*).as("bs"))
    // ≤10 rows, three consumers below (both self-join sides + the
    // total) — materialized so the spend⋈percentile pipeline above
    // runs once instead of three times (round 10 plan audit: 116
    // Exchange nodes without it; guide §2.4 repeated-subtree)
    val dec = Mat.once(spend.crossJoin(broadcast(bounds))
      .select(expr("1 + size(filter(bs, b -> sp > b))").cast("long").as("decile"),
        col("sp"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("sp")).as("spend_cents")))
    dec.as("a")
      .join(dec.select(col("decile").as("d2"), col("spend_cents").as("s2")).as("b"),
        col("b.d2") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"), col("a.n_customers").as("n_customers"),
        col("a.spend_cents").as("spend_cents"))
      .agg(sum(col("b.s2")).as("cum_spend"))
      .crossJoin(broadcast(dec.agg(sum(col("spend_cents")).as("tot"))))
      .select(col("decile"), col("n_customers"), col("spend_cents"),
        expr("cum_spend * 10000 div tot").as("cum_share_e4"))
      .orderBy("decile")
  }

  /** Fiscal-calendar revenue: fiscal year starts July 1; revenue and
    * order counts per (fiscal year, fiscal quarter) — the date-dimension
    * remap every finance consumer needs, as pure integer month
    * arithmetic on both engines.
    */
  def q_fiscal_calendar(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select(cents(col("o_totalprice")).as("tp"),
        year(col("o_orderdate")).cast("long").as("cy"),
        month(col("o_orderdate")).cast("long").as("cm"))
      .select(col("tp"),
        (col("cy") + when(col("cm") >= 7, 1L).otherwise(0L)).as("fy"),
        (expr("(cm + 5) % 12 div 3") + 1L).as("fq"))
      .groupBy(col("fy"), col("fq"))
      .agg(count(lit(1)).as("n_orders"), sum(col("tp")).as("rev_cents"))
      .orderBy("fy", "fq")

  /** Naive-forecast backtest: predict each week's revenue with the prior
    * week's (flag-keyed lag), exact e4 absolute percentage errors, floor
    * MAPE per flag — the baseline any forecasting model must beat, and
    * the same harness evaluates it.
    */
  def q_forecast_backtest(spark: SparkSession, sf: String): DataFrame = {
    val weekly = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("flag"),
        date_trunc("week", col("l_shipdate")).as("wk"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    val w = Window.partitionBy("flag").orderBy("wk")
    weekly
      .withColumn("pred", lag(col("rev"), 1).over(w))
      .filter(col("pred").isNotNull)
      .select(col("flag"), expr("abs(rev - pred) * 10000 div rev").as("ape_e4"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_weeks"), sum(col("ape_e4")).as("s"))
      .select(col("flag"), col("n_weeks"), expr("s div n_weeks").as("mape_e4"))
      .orderBy("flag")
  }

  /** Refund-rate trend: monthly share of 'R' return lines (e4) and the
    * month-over-month delta via the add_months equi-join (no window).
    * The quality KPI every ops review opens with.
    */
  def q_refund_rate_trend(spark: SparkSession, sf: String): DataFrame = {
    val monthly = Tables.lineitem(spark, sf)
      .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_r"))
      .select(col("month"), col("n"), col("n_r"),
        expr("n_r * 10000 div n").as("rate_e4"))
    val prev = monthly.select(add_months(col("month"), 1).cast("timestamp").as("month"),
      col("rate_e4").as("prev_rate_e4"))
    monthly.join(prev, Seq("month"), "left_outer")
      .select(date_format(col("month"), "yyyy-MM").as("month"), col("n"), col("n_r"),
        col("rate_e4"), (col("rate_e4") - col("prev_rate_e4")).as("delta_e4"))
      .orderBy("month")
  }

  /** First-shipment latency histogram: order date → earliest line
    * shipment, bucketed by week; order counts and e4 shares. The
    * complement of [[q_sla_days]] (which averages over ALL lines).
    */
  def q_first_ship_latency_hist(spark: SparkSession, sf: String): DataFrame = {
    val lat = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_shipdate")).as("first_ship"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select((datediff(col("first_ship").cast("date"), col("o_orderdate").cast("date"))
        .cast("long")).as("days"))
    val h = lat.select(expr("days div 7").as("week_bucket"))
      .groupBy(col("week_bucket")).agg(count(lit(1)).as("n_orders"))
    h.crossJoin(broadcast(h.agg(sum(col("n_orders")).as("tot"))))
      .select(col("week_bucket"), col("n_orders"),
        expr("n_orders * 10000 div tot").as("share_e4"))
      .orderBy("week_bucket")
  }

  /** Per-segment revenue index: each market segment's order count, share
    * of revenue, and average-order-value index vs the overall average
    * (e4 of 128-bit cross-products). The "which segments over-index"
    * slide, in one join + one aggregate.
    */
  def q_segment_index(spark: SparkSession, sf: String): DataFrame = {
    val seg = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("rev"))
    seg.crossJoin(broadcast(seg.agg(sum(col("n_orders")).as("tn"), sum(col("rev")).as("tr"))))
      .select(col("segment"), col("n_orders"), col("rev").as("rev_cents"),
        expr("rev * 10000 div tr").as("rev_share_e4"),
        expr("CAST(CAST(rev AS decimal(38,0)) * tn * 10000" +
          " div (CAST(n_orders AS decimal(38,0)) * tr) AS BIGINT)").as("aov_index_e4"))
      .orderBy("segment")
  }

  /** Budget-vs-actual variance: each month's revenue against the
    * straight-line monthly budget (year total ÷ 12) on a dense
    * (year × month) scaffold — months with no sales still report. The
    * variance is kept integer by scaling ×12 (actual·12 − year total).
    */
  def q_budget_variance(spark: SparkSession, sf: String): DataFrame = {
    val actual = Tables.lineitem(spark, sf)
      .groupBy(year(col("l_shipdate")).cast("long").as("yr"),
        month(col("l_shipdate")).cast("long").as("mo"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    val yearly = actual.groupBy(col("yr")).agg(sum(col("rev")).as("ytot"))
    val scaffold = yearly.select(col("yr"), col("ytot"),
      explode(expr("sequence(CAST(1 AS BIGINT), CAST(12 AS BIGINT))")).as("mo"))
    scaffold.join(actual, Seq("yr", "mo"), "left_outer")
      .select(col("yr"), col("mo"), coalesce(col("rev"), lit(0L)).as("actual_cents"),
        expr("ytot div 12").as("budget_floor_cents"),
        (coalesce(col("rev"), lit(0L)) * 12L - col("ytot")).as("variance_x12"))
      .orderBy("yr", "mo")
  }

  /** Concurrent-orders sweep line: +1 on the order date, −1 the day after
    * the order's last shipment, cumulated over the dense day axis with
    * the two-level distributed prefix sum (month-keyed windows +
    * month-prefix theta join — in-flight intervals cross month and year
    * boundaries, so a plain keyed window would be WRONG, not just slow).
    * Output per month: peak and end-of-month in-flight counts.
    */
  def q_orders_in_flight(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val spans = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(max(datediff(col("l_shipdate").cast("date"), epoch)).cast("long").as("endd"))
      .join(Tables.orders(spark, sf)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), epoch).cast("long").as("startd")),
        col("l_orderkey") === col("o_orderkey"))
    val deltas = spans.select(col("startd").as("dayn"), lit(1L).as("d"))
      .unionByName(spans.select((col("endd") + 1L).as("dayn"), lit(-1L).as("d")))
      .groupBy(col("dayn")).agg(sum(col("d")).as("delta"))
      .withColumn("mon", expr("dayn div 32"))
    val wIn = Window.partitionBy("mon").orderBy("dayn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val monTot = deltas.groupBy(col("mon")).agg(sum(col("delta")).as("mt"))
    val prefix = monTot.as("a")
      .join(monTot.as("b"), col("b.mon") < col("a.mon"), "left_outer")
      .groupBy(col("a.mon").as("mon"))
      .agg(coalesce(sum(col("b.mt")), lit(0L)).as("pre"))
    deltas.join(broadcast(prefix), Seq("mon"))
      .withColumn("inflight", col("pre") + sum(col("delta")).over(wIn))
      .groupBy(date_format(timestamp_seconds(col("dayn") * 86400L), "yyyy-MM").as("month"))
      .agg(max(col("inflight")).as("peak_in_flight"),
        min(struct((lit(0L) - col("dayn")).as("nd"), col("inflight"))).as("lastrow"))
      .select(col("month"), col("peak_in_flight"),
        col("lastrow.inflight").as("eom_in_flight"))
      .orderBy("month")
  }

  /** Event-type co-occurrence lift over users: for every unordered type
    * pair, P(both)/[P(a)·P(b)] as an exact e4 integer of cross-products —
    * the association screen behind "users who X also Y". One distinct
    * pass + a bounded pair explode per user (≤ C(5,2) rows each).
    */
  def q_event_cooccur_lift(spark: SparkSession, sf: String): DataFrame = {
    val ut = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
    val totals = ut.groupBy(col("event_type")).agg(count(lit(1)).as("nu"))
    val nUsers = ut.select(col("user_id")).distinct().agg(count(lit(1)).as("nn"))
    ut.as("a").join(ut.as("b"),
      col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(totals.select(col("event_type").as("t1"), col("nu").as("n1"))), "t1")
      .join(broadcast(totals.select(col("event_type").as("t2"), col("nu").as("n2"))), "t2")
      .crossJoin(broadcast(nUsers))
      .select(col("t1"), col("t2"), col("n_both"), col("n1"), col("n2"),
        expr("CAST(CAST(n_both AS decimal(38,0)) * nn * 10000 div" +
          " (CAST(n1 AS decimal(38,0)) * n2) AS BIGINT)").as("lift_e4"))
      .orderBy("t1", "t2")
  }

  /** Basket-size ↔ order-value correlation: Pearson r between an order's
    * line count and its revenue, from one order-level aggregate and exact
    * integer/decimal sufficient statistics. Answers "do bigger baskets
    * actually spend more" in two shuffles total.
    */
  def q_basket_value_corr(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("x"), sum(cents(col("l_extendedprice"))).as("y"))
    val s = o.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val dx = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val dy = nD * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    s.select(col("n").as("n_orders"),
      (round(num / sqrt(dx * dy), 6) + lit(0.0)).as("corr"))
  }

  /** Theil-Sen robust trend of daily revenue: the exact median of all
    * pairwise slopes (trunc-normalized e4 integers — slopes can be
    * negative). The pair join runs on the DAY AGGREGATE, whose size is
    * calendar-bounded (~2.5k rows → ~3M pairs) regardless of corpus size,
    * so the O(n²) stays constant at 100 TB. The outlier-immune answer to
    * "is revenue trending up".
    */
  def q_theil_sen(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.lineitem(spark, sf)
      .groupBy(datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("dayn"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    val pairs = daily.as("a")
      .join(daily.select(col("dayn").as("d2"), col("rev").as("r2")).as("b"),
        col("b.d2") > col("a.dayn"))
      .select(expr("CASE WHEN (r2 - rev) >= 0 THEN (r2 - rev) * 10000 div (d2 - dayn)" +
        " ELSE -((-(r2 - rev)) * 10000 div (d2 - dayn)) END").as("slope_e4"))
    pairs.agg(count(lit(1)).as("n_pairs"),
      (round(percentile(col("slope_e4"), lit(0.5)), 4) + lit(0.0)).as("median_slope_e4"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days"), col("n_pairs"), col("median_slope_e4"))
  }

  /** Slowly-changing-dimension year-end snapshots: for every calendar
    * year in the data, each customer's LATEST order status as of Dec 31
    * (orders fan out onto the tiny year scaffold, latest-per-(customer,
    * year) via a keyed row_number — the point-in-time reconstruction a
    * feature store replays). Output: customers per (year, status).
    */
  def q_scd_snapshot(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"), year(col("o_orderdate")).cast("long").as("oy"))
    val years = o.agg(min(col("oy")).as("y0"), max(col("oy")).as("y1"))
      .select(explode(expr("sequence(y0, y1)")).as("y"))
    val w = Window.partitionBy("o_custkey", "y")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    o.join(broadcast(years), col("oy") <= col("y"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("y"), col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("y", "status")
  }

  /** First-touch attribution (the complement of [[q_attribution_lasttouch]]):
    * each purchase credits the FIRST non-purchase event type in the user's
    * preceding history. Same user-keyed window shape; comparing the two
    * tables shows how much credit the models move between channels.
    */
  def q_attribution_firsttouch(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("ts_usl"), col("event_id"), col("event_type"),
        cents(col("value")).as("vc"))
      .withColumn("channel",
        first(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("vc")).as("revenue_cents"))
      .orderBy("channel")
  }

  /** New-vs-returning revenue split per day: a user's first active day
    * (one user-keyed aggregate) classifies every later purchase, the day
    * table then carries exact new/returning revenue and purchaser counts —
    * the acquisition-vs-retention decomposition on every growth dashboard.
    */
  def q_new_returning_revenue(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), to_date(col("ts_us")).as("day"),
        col("event_type"), cents(col("value")).as("vc"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    ev.filter(col("event_type") === "purchase")
      .join(firstDay, "user_id")
      .groupBy(col("day"))
      .agg(
        sum(when(col("day") === col("first_day"), col("vc")).otherwise(0L)).as("new_cents"),
        sum(when(col("day") =!= col("first_day"), col("vc")).otherwise(0L)).as("ret_cents"),
        countDistinct(when(col("day") === col("first_day"), col("user_id"))).as("new_buyers"),
        countDistinct(when(col("day") =!= col("first_day"), col("user_id"))).as("ret_buyers"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("new_cents"),
        col("ret_cents"), col("new_buyers"), col("ret_buyers"))
      .orderBy("day")
  }

  /** Ship-latency SLA profile per order priority: exact integer day gaps
    * order-date→ship-date, mean e4 floor, max, and the e4 share shipped
    * within 30 days — the fulfillment dashboard row. One fact→dim join
    * (orders is the smaller side only at test scale — the join keys on
    * l_orderkey, so it shuffles both sides once at any scale) + a 5-row
    * aggregate.
    */
  def q_sla_days(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("days")).as("sum_days"),
        max(col("days")).as("max_days"),
        sum(when(col("days") <= 30, 1L).otherwise(0L)).as("n_within_30"))
      .select(col("priority"), col("n"),
        expr("sum_days * 10000 div n").as("mean_days_e4"), col("max_days"),
        expr("n_within_30 * 10000 div n").as("within30_e4"))
      .orderBy("priority")

  /** Month-over-month revenue bridge: Δrevenue decomposed into a volume
    * effect (Δqty at last month's average unit price, e4 floor) and the
    * complementary price/mix effect (price_e4 = Δrev·10⁴ − volume_e4, so
    * the bridge closes EXACTLY by construction). Consecutive months pair
    * by an add_months equi-join on the tiny month aggregate — no window,
    * partition-less or otherwise, anywhere.
    */
  def q_revenue_bridge(spark: SparkSession, sf: String): DataFrame = {
    val monthly = Tables.lineitem(spark, sf)
      .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        sum(cents(col("l_extendedprice"))).as("rev"))
    val prev = monthly.select(add_months(col("month"), 1).cast("timestamp").as("month"),
      col("qty").as("pqty"), col("rev").as("prev_rev"))
    monthly.join(prev, Seq("month"))
      .select(date_format(col("month"), "yyyy-MM").as("month"),
        col("prev_rev"), col("rev"), col("pqty"), col("qty"),
        // trunc-normalized integer division (Δqty can be negative and the
        // engines' integer-divide semantics differ there); the numerator
        // needs 128-bit headroom — Δqty·rev·10⁴ overflows int64 at sf0.1
        expr("CAST(CASE WHEN CAST(qty - pqty AS decimal(38,0)) * prev_rev * 10000 >= 0" +
          " THEN (CAST(qty - pqty AS decimal(38,0)) * prev_rev * 10000) div pqty" +
          " ELSE -((-(CAST(qty - pqty AS decimal(38,0)) * prev_rev * 10000)) div pqty)" +
          " END AS BIGINT)").as("volume_effect_e4"))
      .select(col("month"), col("prev_rev"), col("rev"), col("pqty"), col("qty"),
        col("volume_effect_e4"),
        ((col("rev") - col("prev_rev")) * 10000L - col("volume_effect_e4"))
          .as("price_effect_e4"))
      .orderBy("month")
  }

  /** ABC inventory classification per brand: parts ranked by revenue
    * within their brand, cumulative-share cutoffs evaluated by integer
    * cross-multiplication (A ⇔ cum·5 ≤ tot·4, B ⇔ cum·20 ≤ tot·19 — no
    * division); per (brand, class) the part count and revenue mass. All
    * windows are brand-keyed; the classic 80/15/5 Pareto segmentation.
    */
  def q_abc_class(spark: SparkSession, sf: String): DataFrame = {
    val perPart = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    val w = Window.partitionBy("brand").orderBy(col("rev").desc, col("l_partkey").asc)
    perPart
      .withColumn("cum", sum(col("rev")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("rev")).over(Window.partitionBy("brand")))
      .withColumn("cls",
        when(col("cum") * 5 <= col("tot") * 4, "A")
          .when(col("cum") * 20 <= col("tot") * 19, "B").otherwise("C"))
      .groupBy(col("brand"), col("cls"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev_cents"))
      .orderBy("brand", "cls")
  }

  /** Weekday-vs-weekend value lift per event type: exact cents sums and
    * counts per side, lift = (weekend mean)/(weekday mean) as an e4 floor
    * of integer cross-products — no float division at all. ISO weekday
    * (Mon=0) on both engines. One 5-row aggregate.
    */
  def q_weekday_lift(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("vc"),
        (weekday(col("ts_us")) >= 5).as("is_we"))
      .groupBy(col("event_type"))
      .agg(sum(when(!col("is_we"), 1L).otherwise(0L)).as("wd_n"),
        sum(when(!col("is_we"), col("vc")).otherwise(0L)).as("wd_cents"),
        sum(when(col("is_we"), 1L).otherwise(0L)).as("we_n"),
        sum(when(col("is_we"), col("vc")).otherwise(0L)).as("we_cents"))
      .select(col("event_type"), col("wd_n"), col("wd_cents"), col("we_n"), col("we_cents"),
        expr("CAST(CAST(we_cents AS decimal(38,0)) * wd_n * 10000" +
          " div (CAST(wd_cents AS decimal(38,0)) * we_n) AS BIGINT)").as("lift_e4"))
      .orderBy("event_type")

  /** Maximum drawdown of the daily-revenue series per year: running peak
    * (keyed cumulative max — never a partition-less window) minus the
    * day's value; per year the worst drawdown and its earliest day via a
    * single min(struct(−dd, day)) arg-min (no second pass, no sort). The
    * canonical "how far below peak did the series fall" ops metric.
    */
  def q_drawdown(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.lineitem(spark, sf)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
      .withColumn("yr", year(col("day")).cast("long"))
    val w = Window.partitionBy("yr").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("dd", max(col("rev")).over(w) - col("rev"))
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_days"),
        min(struct((lit(0L) - col("dd")).as("negdd"), col("day"))).as("worst"))
      .select(col("yr"), col("n_days"),
        (lit(0L) - col("worst.negdd")).as("max_dd_cents"),
        date_format(col("worst.day"), "yyyy-MM-dd").as("worst_day"))
      .orderBy("yr")
  }

  /** Bollinger-band breaks on daily revenue: 7-day trailing mean ± 2σ,
    * evaluated entirely in integer/decimal arithmetic by clearing
    * denominators — break ⇔ 3·(7·rev − s₇)² > 14·(7·Σx² − s₇²) — so no
    * per-row float epilogue can drift. Counts of upward/downward breaks
    * per year; the rolling frames are year-keyed windows.
    */
  def q_bollinger_breaks(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.lineitem(spark, sf)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
      .withColumn("yr", year(col("day")).cast("long"))
    val w = Window.partitionBy("yr").orderBy("day").rowsBetween(-6, 0)
    val rolled = daily
      .withColumn("s7", sum(col("rev")).over(w))
      .withColumn("ss7", sum(expr("CAST(rev AS decimal(38,0)) * rev")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") === 7)
      .withColumn("dev7", expr("CAST(7 AS decimal(38,0)) * rev - s7"))
      .withColumn("lhs", expr("CAST(3 AS decimal(38,0)) * dev7 * dev7"))
      .withColumn("rhs", expr(
        "CAST(14 AS decimal(38,0)) * (CAST(7 AS decimal(38,0)) * ss7 - CAST(s7 AS decimal(38,0)) * s7)"))
    rolled.groupBy(col("yr"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("lhs") > col("rhs") && col("dev7") > 0, 1L).otherwise(0L))
          .as("n_break_up"),
        sum(when(col("lhs") > col("rhs") && col("dev7") < 0, 1L).otherwise(0L))
          .as("n_break_down"))
      .orderBy("yr")
  }

  /** Daily VWAP per return flag and ship month: Σprice/Σqty as an exact
    * e4 floor integer — the classic volume-weighted average that a naive
    * avg(price) gets wrong. One partial+final aggregate, no window.
    */
  def q_vwap_monthly(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("flag"),
        date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM").as("month"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        sum(cents(col("l_extendedprice"))).as("rev_cents"))
      .select(col("flag"), col("month"), col("qty"), col("rev_cents"),
        expr("rev_cents * 100 div qty").as("vwap_e4"))
      .orderBy("flag", "month")

  /** Basket-size distribution: how many orders carry k lines, with the
    * distinct-part and quantity mass per k — the order-shape profile that
    * sizes a co-occurrence/recsys build before running it. Two hash
    * aggregates (order, then k), no window, no sort until the k-row tail.
    */
  def q_basket_size_dist(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_partkey")).as("n_parts"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .groupBy(col("n_lines"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n_parts")).as("parts_total"),
        sum(col("qty")).as("qty_total"))
      .orderBy("n_lines")

  /** Cohen's d effect size of order total between URGENT and LOW priority
    * orders: exact integer sufficient statistics (n, Σcents, Σcents² in
    * decimal(38)) per group, pooled-SD epilogue. The canonical "is this
    * uplift practically significant" readout — two partial aggregates and
    * a 2-row reduce, no data movement beyond the group-by at any scale.
    */
  def q_cohens_d(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.orders(spark, sf)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority").as("grp"), cents(col("o_totalprice")).as("v"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(expr("CAST(v AS decimal(38,0)) * v")).as("ss"))
    val s = g.agg(
      sum(when(col("grp") === "1-URGENT", col("n"))).as("n1"),
      sum(when(col("grp") === "1-URGENT", col("s"))).as("s1"),
      sum(when(col("grp") === "1-URGENT", col("ss"))).as("ss1"),
      sum(when(col("grp") === "5-LOW", col("n"))).as("n2"),
      sum(when(col("grp") === "5-LOW", col("s"))).as("s2"),
      sum(when(col("grp") === "5-LOW", col("ss"))).as("ss2"))
    def m(sc: Column, nc: Column) = sc.cast("double") / nc.cast("double")
    def ssd(ssc: Column, sc: Column, nc: Column) =
      ssc.cast("double") - sc.cast("double") * sc.cast("double") / nc.cast("double")
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val pooled = sqrt((ssd(col("ss1"), col("s1"), col("n1")) +
      ssd(col("ss2"), col("s2"), col("n2"))) / (n1 + n2 - lit(2.0)))
    s.select(col("n1"), col("n2"),
      (round(m(col("s1"), col("n1")) / lit(100.0), 4) + lit(0.0)).as("mean1"),
      (round(m(col("s2"), col("n2")) / lit(100.0), 4) + lit(0.0)).as("mean2"),
      (round((m(col("s1"), col("n1")) - m(col("s2"), col("n2"))) / pooled, 6)
        + lit(0.0)).as("d"))
  }

  /** Time-decay marketing attribution: every purchase credits each
    * non-purchase touch of the same user in the preceding 3 days with
    * weight 2^(−age_days) — expressed in EXACT quarter-cent units
    * (4 >> age_days ∈ {4,2,1}), so unlike the textbook pow(0.5, Δt/λ)
    * formulation the credit sums are order-independent BIGINTs. The
    * user-keyed interval join is one shuffle; the 3-day horizon bounds
    * the per-user fan-out, which is what keeps the pair count linear-ish
    * when a 100 TB event log has years of history per user.
    */
  def q_attribution_time_decay(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_usl").as("p_ts"), cents(col("value")).as("vc"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts_usl").as("t_ts"), col("event_type").as("channel"))
    val dayUs = 86400000000L
    val credits = purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") && col("p_ts") - col("t_ts") <= lit(3L * dayUs))
      .select(col("channel"),
        expr(s"vc * shiftright(4L, CAST((p_ts - t_ts) div ${dayUs}L AS INT))")
          .as("credit_q"))
    val perChannel = credits.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"), sum(col("credit_q")).as("credit_qc"))
    val tot = perChannel.agg(sum(col("credit_qc")).as("t"))
    perChannel.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_touches"), col("credit_qc"),
        expr("credit_qc * 10000 div t").as("share_e4"))
      .orderBy("channel")
  }

  /** Kaplan-Meier survival curve of user lifetime (days between first and
    * last event; users still active in the final week of the window are
    * right-censored). Risk sets are a reverse running sum, the product-
    * limit estimator is exp of a forward running sum of ln(1 − d/n) —
    * both single ordered windows over the ~30-row lifetime table, so the
    * curve costs two tiny window passes after one user-keyed aggregate.
    */
  def q_kaplan_meier(spark: SparkSession, sf: String): DataFrame = {
    val obs = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts_us"))).as("d0"), max(to_date(col("ts_us"))).as("d1"))
      .select(datediff(col("d1"), col("d0")).cast("long").as("t"),
        when(col("d1") <= lit("2024-01-23").cast("date"), 1L).otherwise(0L).as("churned"))
    val byT = obs.groupBy(col("t"))
      .agg(count(lit(1)).as("n_at"), sum(col("churned")).as("d"))
    // risk sets and the product-limit prefix are bounded theta joins over
    // the ~30-row lifetime table (house rule: no partition-less windows)
    val risk = byT.as("a")
      .join(byT.select(col("t").as("t2"), col("n_at").as("na2")).as("b"),
        col("b.t2") >= col("a.t"))
      .groupBy(col("a.t").as("t"), col("a.n_at").as("n_at"), col("a.d").as("d"))
      .agg(sum(col("na2")).as("n_risk"))
      .withColumn("lnterm",
        when(col("d") > 0,
          log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")))
          .otherwise(lit(0.0)))
    risk.as("a")
      .join(risk.select(col("t").as("t2"), col("lnterm").as("l2")).as("b"),
        col("b.t2") <= col("a.t"))
      .groupBy(col("a.t").as("t"), col("a.n_risk").as("n_risk"), col("a.n_at").as("n_at"),
        col("a.d").as("d"))
      .agg(sum(col("l2")).as("cum"))
      .select(col("t"), col("n_risk"), col("d").as("n_churned"),
        (col("n_at") - col("d")).as("n_censored"),
        (round(exp(col("cum")), 4) + lit(0.0)).as("survival"))
      .orderBy("t")
  }

  /** Shapley-value marketing attribution under the unanimity game: each
    * purchase's value is split equally among the DISTINCT same-day
    * preceding touch channels (for v(S)=1{S≠∅} the Shapley value of a
    * member of S is exactly 1/|S| — the closed form practical Shapley
    * attribution uses). Credits are exact twelfths (12 = lcm(1..4), the
    * channel-universe size), so no float and no rounding loss.
    */
  def q_shapley_attribution(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts_us")).as("day"), col("ts_usl").as("p_ts"),
        col("event_id").as("pid"), cents(col("value")).as("vc"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), to_date(col("ts_us")).as("day"), col("ts_usl").as("t_ts"),
        col("event_type").as("channel"))
    val sets = purchases.join(touches, Seq("user_id", "day"))
      .filter(col("t_ts") < col("p_ts"))
      .select(col("pid"), col("vc"), col("channel")).distinct()
    val sizes = sets.groupBy(col("pid")).agg(count(lit(1)).as("ss"))
    val credits = sets.join(sizes, "pid")
      .select(col("channel"), expr("vc * (12 div ss)").as("c12"))
    val per = credits.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"), sum(col("c12")).as("credit_12ths"))
    val tot = per.agg(sum(col("credit_12ths")).as("t"))
    per.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_credits"), col("credit_12ths"),
        expr("credit_12ths * 10000 div t").as("share_e4"))
      .orderBy("channel")
  }

  /** Price-volume-mix decomposition of the 1996→1997 revenue change per
    * brand: ΔR = (p₁−p₀)q₀ (price) + p₀(q₁−q₀) (volume) + (p₁−p₀)(q₁−q₀)
    * (cross/mix) + residual from the floor-cent unit prices. Pure
    * products of exact integers — no signed division, so the engines'
    * floor-vs-trunc divide semantics never meet a negative.
    */
  def q_pvm_decomposition(spark: SparkSession, sf: String): DataFrame = {
    def yr(y: Int): DataFrame = Tables.lineitem(spark, sf)
      .filter(year(col("l_shipdate")) === y)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(col("l_quantity").cast("long")).as(s"q$y"),
        sum(cents(col("l_extendedprice"))).as(s"r$y"))
    yr(1996).join(yr(1997), "brand")
      .select(col("brand"), col("q1996"), col("q1997"),
        expr("r1996 div q1996").as("p0"), expr("r1997 div q1997").as("p1"),
        (col("r1997") - col("r1996")).as("delta_rev"))
      .select(col("brand"), col("q1996"), col("q1997"), col("p0"), col("p1"),
        col("delta_rev"),
        ((col("p1") - col("p0")) * col("q1996")).as("price_effect"),
        (col("p0") * (col("q1997") - col("q1996"))).as("volume_effect"),
        ((col("p1") - col("p0")) * (col("q1997") - col("q1996"))).as("mix_effect"))
      .select(col("brand"), col("q1996"), col("q1997"), col("p0"), col("p1"),
        col("delta_rev"), col("price_effect"), col("volume_effect"), col("mix_effect"),
        (col("delta_rev") - col("price_effect") - col("volume_effect") - col("mix_effect"))
          .as("floor_residual"))
      .orderBy("brand")
  }

  /** Risk-pooling benefit: the standard deviation of POOLED weekly
    * demand vs the sum of per-brand standard deviations — the √n-ish
    * variance reduction that justifies centralized inventory. Per-brand
    * and pooled stats from the same exact weekly sums; the e4 benefit
    * share is the headline number.
    */
  def q_risk_pooling(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val weekly = Mat.once(Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        (datediff(date_trunc("week", col("l_shipdate")).cast("date"), epoch) / 7)
          .cast("long").as("wk"))
      .agg(sum(col("l_quantity").cast("long")).as("u")))
    val perBrand = weekly.groupBy(col("brand"))
      .agg(count(lit(1)).as("nw"), sum(col("u")).as("s"), sum(col("u") * col("u")).as("q"))
      .select(expr(
        """SQRT((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nw AS DOUBLE))
                / CAST(nw - 1 AS DOUBLE))""").as("sd"))
      .agg(count(lit(1)).as("n_brands"), sum(col("sd")).as("sum_sd"))
    val pooled = weekly.groupBy(col("wk")).agg(sum(col("u")).as("u"))
      .agg(count(lit(1)).as("nw"), sum(col("u")).as("s"), sum(col("u") * col("u")).as("q"))
      .select(expr(
        """SQRT((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nw AS DOUBLE))
                / CAST(nw - 1 AS DOUBLE))""").as("pooled_sd"))
    perBrand.crossJoin(pooled)
      .select(col("n_brands"),
        (round(col("sum_sd"), 4) + lit(0.0)).as("sum_brand_sd"),
        (round(col("pooled_sd"), 4) + lit(0.0)).as("pooled_sd"),
        (round(expr("(sum_sd - pooled_sd) / sum_sd"), 6) + lit(0.0))
          .as("pooling_benefit"))
  }

  /** Laspeyres, Paasche and Fisher price indices 1996→1997 over parts
    * sold in both years (floor-cent unit prices, exact quantities) — the
    * index-number trio behind every inflation figure, as three ratio
    * epilogues over one pass of exact component sums.
    */
  def q_price_indices(spark: SparkSession, sf: String): DataFrame = {
    def yr(y: Int): DataFrame = Tables.lineitem(spark, sf)
      .filter(year(col("l_shipdate")) === y)
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as(s"r$y"),
        sum(col("l_quantity").cast("long")).as(s"q$y"))
      .select(col("l_partkey"), expr(s"r$y div q$y").as(s"p$y"), col(s"q$y"))
    val j = yr(1996).join(yr(1997), "l_partkey")
    j.agg(count(lit(1)).as("n_parts"),
      sum(col("p1996") * col("q1996")).as("p0q0"),
      sum(col("p1997") * col("q1996")).as("p1q0"),
      sum(col("p1996") * col("q1997")).as("p0q1"),
      sum(col("p1997") * col("q1997")).as("p1q1"))
      .select(col("n_parts"),
        expr("p1q0 * 10000 div p0q0").as("laspeyres_e4"),
        expr("p1q1 * 10000 div p0q1").as("paasche_e4"))
      .select(col("n_parts"), col("laspeyres_e4"), col("paasche_e4"),
        (round(expr(
          "SQRT(CAST(laspeyres_e4 AS DOUBLE) * CAST(paasche_e4 AS DOUBLE))"), 4)
          + lit(0.0)).as("fisher_e4"))
  }

  /** Restricted mean survival time to τ=25 days: the area under the
    * Kaplan-Meier user-lifetime curve — "expected active days within the
    * window", the modern replacement for a median that censoring makes
    * undefined. Reuses the KM construction (theta-join risk sets and
    * log-sum products); the integral is one more bounded join for the
    * step widths.
    */
  def q_rmst(spark: SparkSession, sf: String): DataFrame = {
    val obs = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts_us"))).as("d0"), max(to_date(col("ts_us"))).as("d1"))
      .select(datediff(col("d1"), col("d0")).cast("long").as("t"),
        when(col("d1") <= lit("2024-01-23").cast("date"), 1L).otherwise(0L).as("churned"))
    val byT = obs.groupBy(col("t"))
      .agg(count(lit(1)).as("n_at"), sum(col("churned")).as("d"))
    val risk = byT.as("a")
      .join(byT.select(col("t").as("t2"), col("n_at").as("na2")).as("b"),
        col("b.t2") >= col("a.t"))
      .groupBy(col("a.t").as("t"), col("a.d").as("d"))
      .agg(sum(col("na2")).as("n_risk"))
      .withColumn("lnterm",
        when(col("d") > 0,
          log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")))
          .otherwise(lit(0.0)))
    val surv = risk.as("a")
      .join(risk.select(col("t").as("t2"), col("lnterm").as("l2")).as("b"),
        col("b.t2") <= col("a.t"))
      .groupBy(col("a.t").as("t"))
      .agg(exp(sum(col("l2"))).as("s"))
    // step widths: from each event time to the next (capped at τ=25);
    // plus the S=1 area from 0 to the first event time
    val widths = surv.as("a")
      .join(surv.select(col("t").as("t2")).as("b"), col("b.t2") > col("a.t"), "left_outer")
      .groupBy(col("a.t").as("t"), col("a.s").as("s"))
      .agg(min(col("t2")).as("nxt"))
      .select(col("t"), col("s"),
        (least(coalesce(col("nxt"), lit(25L)), lit(25L)) - least(col("t"), lit(25L)))
          .as("w"))
    val head = surv.agg(min(col("t")).as("t0"))
      .select(least(col("t0"), lit(25L)).cast("double").as("area0"))
    widths.filter(col("w") > 0)
      .agg(sum(col("s") * col("w").cast("double")).as("area1"), count(lit(1)).as("n_steps"))
      .crossJoin(head)
      .select(col("n_steps"),
        (round(col("area0") + col("area1"), 4) + lit(0.0)).as("rmst_days"))
  }

  /** Mix-shift decomposition of the 1996→1997 mean unit price: the exact
    * identity Δmean = Σw₀Δp (rate effect at base mix) + Σp₁Δw (mix
    * effect at new prices) over brand weights — why the average moved
    * when no price did (or vice versa), the first question on any metric
    * dashboard. Floor-cent prices and quantity-share weights from exact
    * sums.
    */
  def q_mix_shift_decomposition(spark: SparkSession, sf: String): DataFrame = {
    def yr(y: Int): DataFrame = Tables.lineitem(spark, sf)
      .filter(year(col("l_shipdate")) === y)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(cents(col("l_extendedprice"))).as(s"r$y"),
        sum(col("l_quantity").cast("long")).as(s"q$y"))
    val j = Mat.once(yr(1996).join(yr(1997), "brand"))
    val tot = j.agg(sum(col("q1996")).as("tq0"), sum(col("q1997")).as("tq1"))
    j.crossJoin(broadcast(tot))
      .select(
        expr("CAST(r1996 div q1996 AS DOUBLE)").as("p0"),
        expr("CAST(r1997 div q1997 AS DOUBLE)").as("p1"),
        expr("CAST(q1996 AS DOUBLE) / CAST(tq0 AS DOUBLE)").as("w0"),
        expr("CAST(q1997 AS DOUBLE) / CAST(tq1 AS DOUBLE)").as("w1"))
      .agg(sum(expr("p0 * w0")).as("mean96"), sum(expr("p1 * w1")).as("mean97"),
        sum(expr("w0 * (p1 - p0)")).as("rate_effect"),
        sum(expr("p1 * (w1 - w0)")).as("mix_effect"))
      .select(
        (round(col("mean96"), 4) + lit(0.0)).as("mean_unit_price96"),
        (round(col("mean97"), 4) + lit(0.0)).as("mean_unit_price97"),
        (round(col("rate_effect"), 4) + lit(0.0)).as("rate_effect"),
        (round(col("mix_effect"), 4) + lit(0.0)).as("mix_effect"),
        (round(col("mean97") - col("mean96") - col("rate_effect") - col("mix_effect"), 4)
          + lit(0.0)).as("identity_check"))
  }

  /** Minimum-variance two-asset portfolio over daily view- and
    * purchase-revenue CHANGES: w* = (σ₂²−σ₁₂)/(σ₁²+σ₂²−2σ₁₂) and the
    * achieved portfolio σ vs either leg — Markowitz at its smallest,
    * over exact integer day-over-day diffs.
    */
  def q_min_variance_portfolio(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(when(col("event_type") === "view", cents(col("value"))).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L)).as("y"))
    val diffs = daily.as("a")
      .join(daily.select(col("t").as("t2"), col("x").as("x2"), col("y").as("y2")).as("b"),
        col("t2") === col("t") - 1)
      .select((col("x") - col("x2")).as("dx"), (col("y") - col("y2")).as("dy"))
    diffs.agg(count(lit(1)).as("n"), sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dx")).as("sxx"), sum(col("dy") * col("dy")).as("syy"),
      sum(col("dx") * col("dy")).as("sxy"))
      .select(col("n").as("n_days"),
        expr("(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)").as("v1"),
        expr("(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)").as("v2"),
        expr("(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)").as("cv"))
      .select(col("n_days"),
        expr("(v2 - cv) / (v1 + v2 - 2.0 * cv)").as("w1"), col("v1"), col("v2"), col("cv"))
      .select(col("n_days"),
        (round(col("w1"), 6) + lit(0.0)).as("weight_view"),
        (round(expr("SQRT(v1)"), 4) + lit(0.0)).as("sd_view"),
        (round(expr("SQRT(v2)"), 4) + lit(0.0)).as("sd_purchase"),
        (round(expr("SQRT(w1 * w1 * v1 + (1.0 - w1) * (1.0 - w1) * v2 + 2.0 * w1 * (1.0 - w1) * cv)"), 4)
          + lit(0.0)).as("sd_portfolio"))
  }

  /** Inverse-MSE forecast combination: two naive forecasters of daily
    * revenue (yesterday, same-day-last-week) are backtested, weighted by
    * 1/MSE and blended — combination beats both components whenever
    * their errors decorrelate, the standard first ensemble. Per-day
    * errors are exact integer diffs; only the weighting is float.
    */
  def q_forecast_combo(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("x"))
    val tri = daily.as("a")
      .join(daily.select(col("t").as("t1"), col("x").as("f1")).as("b"),
        col("t1") === col("t") - 1)
      .join(daily.select(col("t").as("t7"), col("x").as("f7")).as("c"),
        col("t7") === col("t") - 7)
      .select(col("x"), col("f1"), col("f7"),
        (col("x") - col("f1")).as("e1"), (col("x") - col("f7")).as("e7"))
    tri.agg(count(lit(1)).as("n"), sum(col("e1") * col("e1")).as("sse1"),
      sum(col("e7") * col("e7")).as("sse7"),
      sum(col("e1") * col("e7")).as("se17"))
      .select(col("n").as("n_days"), col("sse1"), col("sse7"), col("se17"),
        expr("CAST(sse7 AS DOUBLE) / (CAST(sse1 AS DOUBLE) + CAST(sse7 AS DOUBLE))").as("w1"))
      .select(col("n_days"), col("sse1"), col("sse7"),
        (round(col("w1"), 6) + lit(0.0)).as("weight_lag1"),
        // MSE of the blend: w²·SSE1 + (1-w)²·SSE7 + 2w(1-w)·SE17, all /n
        (round(expr(
          """(w1 * w1 * CAST(sse1 AS DOUBLE) + (1.0 - w1) * (1.0 - w1) * CAST(sse7 AS DOUBLE)
              + 2.0 * w1 * (1.0 - w1) * CAST(se17 AS DOUBLE)) / CAST(n_days AS DOUBLE)"""),
          4) + lit(0.0)).as("mse_combo"))
  }

  /** Lincoln-Petersen / Chapman capture-recapture estimate of the active
    * user population from two week-long observation windows, next to the
    * true distinct count — the population-size trick that also estimates
    * residual duplicates a dedup pass missed. Exact integer estimators.
    */
  def q_capture_recapture(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), to_date(col("ts_us")).as("day"))
    val w1 = ev.filter(col("day").between(lit("2024-01-01").cast("date"),
      lit("2024-01-07").cast("date"))).select(col("user_id")).distinct()
    val w2 = ev.filter(col("day").between(lit("2024-01-08").cast("date"),
      lit("2024-01-14").cast("date"))).select(col("user_id")).distinct()
    val n1 = w1.agg(count(lit(1)).as("n1"))
    val n2 = w2.agg(count(lit(1)).as("n2"))
    val m = w1.join(w2, "user_id").agg(count(lit(1)).as("m"))
    val truth = ev.select(col("user_id")).distinct().agg(count(lit(1)).as("true_users"))
    n1.crossJoin(n2).crossJoin(m).crossJoin(truth)
      .select(col("n1"), col("n2"), col("m"), col("true_users"),
        expr("n1 * n2 div m").as("lincoln_petersen"),
        expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").as("chapman"))
  }

  /** Long-run (stationary) customer-tier mix: weekly spend tiers (fixed
    * cent breakpoints), the week-over-week transition counts, and three
    * power iterations of πP on an e12 integer lattice — where the tier
    * distribution is heading if current dynamics hold. The same
    * integer-floor recursion as the PageRank operator, applied to a
    * behavioral Markov chain.
    */
  def q_stationary_tiers(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val weekly = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        (datediff(to_date(col("ts_us")), epoch) / 7).cast("long").as("wk"))
      .agg(sum(cents(col("value"))).as("v"))
      .select(col("user_id"), col("wk"),
        when(col("v") < 100000L, 0L).when(col("v") < 300000L, 1L)
          .when(col("v") < 600000L, 2L).otherwise(3L).as("tier"))
    val trans = Mat.once(weekly.as("a")
      .join(weekly.select(col("user_id").as("u2"), (col("wk") - 1).as("wk2"),
        col("tier").as("dst")).as("b"),
        col("user_id") === col("u2") && col("wk") === col("wk2"))
      .groupBy(col("tier").as("src"), col("dst"))
      .agg(count(lit(1)).as("c")))
    val rowTot = trans.groupBy(col("src")).agg(sum(col("c")).as("rt"))
    val states = trans.select(col("src").as("s")).unionByName(trans.select(col("dst").as("s")))
      .distinct()
    def step(pi: DataFrame): DataFrame =
      Mat.once(states.join(
        pi.join(rowTot.select(col("src").as("s"), col("rt")), "s")
          .join(trans.select(col("src").as("s"), col("dst"), col("c")), "s")
          .select(col("dst").as("s"), expr("(p * c) div rt").as("contrib"))
          .groupBy(col("s")).agg(sum(col("contrib")).as("pn")),
        Seq("s"), "left_outer")
        .select(col("s"), coalesce(col("pn"), lit(0L)).as("p")))
    val n0 = states.agg(count(lit(1)).as("k"))
    val pi0 = states.crossJoin(broadcast(n0))
      .select(col("s"), expr("1000000000000 div k").as("p"))
    val pi3 = step(step(step(pi0)))
    pi3.select(col("s").as("tier"), expr("p div 1000000").as("share_e6"))
      .orderBy("tier")
  }

  /** Overlapping-interval merge (gaps-and-islands on ranges): each
    * shipment opens a 7-day service window; per supplier the overlapping
    * windows coalesce into maximal islands. Island starts are flagged
    * where a window opens after every previous window closed (keyed
    * running max of end), island ids are the running flag count — two
    * supplier-keyed windows, no self-join. Reports windows→islands
    * compression and exact covered days for suppliers < 20.
    */
  def q_interval_merge(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val iv = Tables.lineitem(spark, sf)
      .filter(col("l_suppkey") < 20)
      .select(col("l_suppkey").as("supp"),
        datediff(col("l_shipdate").cast("date"), epoch).cast("long").as("s"))
      .distinct()
      .select(col("supp"), col("s"), (col("s") + 6L).as("e"))
    val wPrev = Window.partitionBy(col("supp")).orderBy(col("s").asc, col("e").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("supp")).orderBy(col("s").asc, col("e").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val isl = iv
      .withColumn("pmax", max(col("e")).over(wPrev))
      .withColumn("new_island",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(wRun))
    isl.groupBy(col("supp"), col("island"))
      .agg(min(col("s")).as("is0"), max(col("e")).as("ie"), count(lit(1)).as("nw"))
      .groupBy(col("supp"))
      .agg(sum(col("nw")).as("n_windows"), count(lit(1)).as("n_islands"),
        sum(col("ie") - col("is0") + 1L).as("covered_days"),
        max(col("ie") - col("is0") + 1L).as("longest_island_days"))
      .orderBy("supp")
  }

  /** Newsvendor stocking rule per brand: the 0.75 critical-fractile
    * quantile of weekly demand (holding:stockout cost 1:3) is the stock
    * level; the backtest counts weeks the rule would have over/under-
    * shot. Exact weekly units, exact interpolated quantile, integer
    * backtest — the inventory twin of the EOQ policy (how MUCH to hold
    * vs how much to ORDER).
    */
  def q_newsvendor(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val weekly = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        (datediff(date_trunc("week", col("l_shipdate")).cast("date"), epoch) / 7)
          .cast("long").as("wk"))
      .agg(sum(col("l_quantity").cast("long")).as("units"))
    val q = weekly.groupBy(col("brand"))
      .agg(count(lit(1)).as("n_weeks"), percentile(col("units"), lit(0.75)).as("q75"))
    weekly.join(q, "brand")
      .groupBy(col("brand"))
      .agg(max(col("n_weeks")).as("n_weeks"),
        (round(max(col("q75")), 4) + lit(0.0)).as("stock_level"),
        sum(when(col("units").cast("double") > col("q75"), 1L).otherwise(0L)).as("weeks_short"),
        sum(when(col("units").cast("double") <= col("q75"), 1L).otherwise(0L)).as("weeks_covered"))
      .orderBy("brand")
  }

  /** Economic order quantity per brand: EOQ = √(2·D·S/H) with demand D =
    * total units sold, fixed order cost S = $50, holding cost H = 20% of
    * the brand's exact mean unit price (floor cents) — the classic
    * inventory policy computed as one aggregate + one epilogue. The
    * demand and price stats are exact integers; only the final √ is
    * float.
    */
  def q_eoq_policy(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(col("l_quantity").cast("long")).as("demand_units"),
        sum(cents(col("l_extendedprice"))).as("rev"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .select(col("brand"), col("demand_units"),
        expr("rev div qty").as("unit_price_cents"))
      .select(col("brand"), col("demand_units"), col("unit_price_cents"),
        (round(expr(
          """SQRT(2.0 * CAST(demand_units AS DOUBLE) * 5000.0
                  / (0.2 * CAST(unit_price_cents AS DOUBLE)))"""), 4) + lit(0.0)).as("eoq_units"))
      .orderBy("brand")

  /** Monthly revenue in exact cents keyed by a linear month index —
    * shared spine for the econometric diagnostics below. */
  private def monthlyRevenue(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))

  /** Lo–MacKinlay variance-ratio test (q=4) on monthly revenue changes:
    * VR = Var(4-month diff) / (4·Var(1-month diff)). Under a random walk
    * VR≈1; VR<1 mean-reversion, VR>1 momentum. Diffs pair months via
    * exact integer month arithmetic; the z-statistic uses the iid
    * asymptotic variance 2(2q−1)(q−1)/(3qn).
    */
  def q_variance_ratio(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    def diffs(q: Int): DataFrame = rev.as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2") === col("m") + q)
      .select((col("rev2") - col("rev")).as("d"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d").cast("double") * col("d").cast("double")).as("sdd"))
      .select(col("n"),
        (col("sdd") / col("n").cast("double")
          - (col("sd").cast("double") / col("n").cast("double"))
            * (col("sd").cast("double") / col("n").cast("double"))).as(s"var$q"))
    diffs(1).select(col("n").as("n1"), col("var1"))
      .crossJoin(diffs(4).select(col("n").as("n4"), col("var4")))
      .select(col("n1"), col("n4"),
        (round(col("var4") / (lit(4.0) * col("var1")), 4) + lit(0.0)).as("vr"),
        (round((col("var4") / (lit(4.0) * col("var1")) - lit(1.0))
          / sqrt(lit(2.0 * 7 * 3 / 12.0) / col("n4").cast("double")), 4) + lit(0.0))
          .as("vr_z"))
  }

  /** Theil inequality indices over per-customer lifetime revenue:
    * T = (1/n)Σ(x/μ)ln(x/μ) (top-sensitive) and L = (1/n)Σln(μ/x)
    * (bottom-sensitive) — the decomposable entropy-based complements to
    * the Gini already in §2. Exact cent totals; only the per-customer
    * ln is float, and both outputs are dimensionless.
    */
  def q_theil_index(spark: SparkSession, sf: String): DataFrame = {
    val cust = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
      .filter(col("x") > 0)
    val tot = cust.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    cust.crossJoin(broadcast(tot))
      .select(col("n"),
        (col("x").cast("double") * col("n").cast("double")
          / col("sx").cast("double")).as("ratio"))
      .groupBy(col("n"))
      .agg(sum(col("ratio") * log(col("ratio"))).as("st"),
        sum(-log(col("ratio"))).as("sl"))
      .select(col("n").as("n_customers"),
        (round(col("st") / col("n").cast("double"), 4) + lit(0.0)).as("theil_t"),
        (round(col("sl") / col("n").cast("double"), 4) + lit(0.0)).as("theil_l"))
  }

  /** Process-capability indices for line-item quantity against spec
    * limits [5, 45]: Cp = (USL−LSL)/6σ, Cpk = min(USL−μ, μ−LSL)/3σ, and
    * the observed out-of-spec rate in ppm, per return flag. μ and σ come
    * from exact integer Σq and Σq² (q ≤ 50 so no overflow at any SF);
    * the epilogue is a single identical IEEE expression tree.
    */
  def q_process_capability(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sqq"),
        sum(when(col("q") < 5 || col("q") > 45, 1L).otherwise(0L)).as("oos"))
      .select(col("flag"), col("n"),
        (round(col("sq").cast("double") / col("n").cast("double"), 4) + lit(0.0))
          .as("mean_qty"),
        (round(sqrt(col("sqq").cast("double") / col("n").cast("double")
          - (col("sq").cast("double") / col("n").cast("double"))
            * (col("sq").cast("double") / col("n").cast("double"))), 4) + lit(0.0))
          .as("sd_qty"),
        (round(lit(40.0) / (lit(6.0) * sqrt(col("sqq").cast("double") / col("n").cast("double")
          - (col("sq").cast("double") / col("n").cast("double"))
            * (col("sq").cast("double") / col("n").cast("double")))), 4) + lit(0.0))
          .as("cp"),
        (round(least(lit(45.0) - col("sq").cast("double") / col("n").cast("double"),
          col("sq").cast("double") / col("n").cast("double") - lit(5.0))
          / (lit(3.0) * sqrt(col("sqq").cast("double") / col("n").cast("double")
            - (col("sq").cast("double") / col("n").cast("double"))
              * (col("sq").cast("double") / col("n").cast("double")))), 4) + lit(0.0))
          .as("cpk"),
        expr("CAST(oos * 1000000 div n AS BIGINT)").as("oos_ppm"))
      .orderBy("flag")

  /** Ljung–Box portmanteau test on monthly revenue changes: sample
    * autocorrelations ρ_k at lags 1..6 (overlapping-pair estimator with
    * the full-series variance denominator) and the cumulative statistic
    * Q(k) = n(n+2)Σ_{j≤k} ρ_j²/(n−j), which is χ²_k under white noise.
    * Lag pairing and the Q accumulation are bounded theta joins over
    * exact month indices.
    */
  def q_ljung_box(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val rev = monthlyRevenue(spark, sf)
    val d1 = Mat.once(rev.as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2") === col("m") + 1)
      .select(col("m"), (col("rev2") - col("rev")).as("d")))
    val base = d1.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
      sum(col("d").cast("double") * col("d").cast("double")).as("sdd"))
      .select(col("n"),
        (col("sd").cast("double") / col("n").cast("double")).as("mu"),
        (col("sdd")
          - (col("sd").cast("double") / col("n").cast("double"))
            * col("sd").cast("double")).as("ss"))
    val lags = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("lag")
    val rho = Mat.once(d1.crossJoin(broadcast(lags)).as("a")
      .join(d1.select(col("m").as("m2"), col("d").as("d2")).as("b"),
        col("m2") === col("m") + col("lag"))
      .crossJoin(broadcast(base))
      .groupBy(col("lag"), col("n"), col("ss"))
      .agg(sum((col("d").cast("double") - col("mu"))
        * (col("d2").cast("double") - col("mu"))).as("num"))
      .select(col("lag"), col("n"), (col("num") / col("ss")).as("rho")))
    rho.as("a")
      .join(rho.select(col("lag").as("lag2"), col("rho").as("rho2")).as("b"),
        col("lag2") <= col("a.lag"))
      .groupBy(col("a.lag").as("lag"), col("a.n").as("n"), col("a.rho").as("rho_raw"))
      .agg(sum(col("rho2") * col("rho2")
        / (col("n").cast("double") - col("lag2").cast("double"))).as("qsum"))
      .select(col("lag"), col("n"),
        (round(col("rho_raw"), 4) + lit(0.0)).as("rho"),
        (round(col("n").cast("double") * (col("n").cast("double") + 2) * col("qsum"), 4)
          + lit(0.0)).as("q_stat"))
      .orderBy("lag")
  }

  /** Durbin–Watson statistic of the residuals from OLS of monthly
    * revenue on the month index: DW = Σ(e_t−e_{t−1})²/Σe_t², ≈2(1−ρ̂₁).
    * The slope/intercept come from exact integer sums (month indices and
    * cent totals), so residuals are identical IEEE doubles on both
    * engines; the lag-1 pairing is an integer-key self join.
    */
  def q_durbin_watson(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val fit = rev.agg(count(lit(1)).as("n"), sum(col("m")).as("st"),
        sum(col("rev")).as("sy"), sum(col("m") * col("rev")).as("sty"),
        sum(col("m") * col("m")).as("stt"))
      .select(col("n"),
        ((col("n").cast("double") * col("sty").cast("double")
          - col("st").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double"))).as("b"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("st").cast("double") / col("n").cast("double")).as("tbar"))
    val resid = Mat.once(rev.crossJoin(broadcast(fit))
      .select(col("m"), col("n"),
        (col("rev").cast("double") - col("ybar")
          - col("b") * (col("m").cast("double") - col("tbar"))).as("e")))
    val num = resid.as("a")
      .join(resid.select(col("m").as("m2"), col("e").as("e2")).as("b"),
        col("m2") === col("m") + 1)
      .agg(sum((col("e2") - col("e")) * (col("e2") - col("e"))).as("num"))
    resid.groupBy(col("n"))
      .agg(sum(col("e") * col("e")).as("den"))
      .crossJoin(num)
      .select(col("n").as("n_months"),
        (round(col("num") / col("den"), 4) + lit(0.0)).as("dw"),
        (round(lit(1.0) - (col("num") / col("den")) / lit(2.0), 4) + lit(0.0))
          .as("rho1_approx"))
  }

  private def dailyRevenue(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .groupBy(datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))

  /** Jarque–Bera normality test of line-item quantity per return flag:
    * sample skewness and excess-kurtosis-from-3 via exact integer power
    * sums Σq..Σq⁴ (q ≤ 50, no overflow at any SF), then
    * JB = n/6·(S² + (K−3)²/4). The epilogue is one identical IEEE tree
    * (sqrt is correctly rounded, so the reject flag is bit-safe).
    */
  def q_jarque_bera(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("mode"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("mode"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"),
        sum(col("q") * col("q") * col("q")).as("s3"),
        sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
      .select(col("mode"), col("n"),
        (col("s1").cast("double") / col("n").cast("double")).as("mu"),
        (col("s2").cast("double") / col("n").cast("double")).as("a2"),
        (col("s3").cast("double") / col("n").cast("double")).as("a3"),
        (col("s4").cast("double") / col("n").cast("double")).as("a4"))
      .select(col("mode"), col("n"),
        (col("a2") - col("mu") * col("mu")).as("m2"),
        (col("a3") - lit(3.0) * col("mu") * col("a2")
          + lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"),
        (col("a4") - lit(4.0) * col("mu") * col("a3")
          + lit(6.0) * col("mu") * col("mu") * col("a2")
          - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu")).as("m4"))
      .select(col("mode"), col("n"),
        (col("m3") / (col("m2") * sqrt(col("m2")))).as("skew"),
        (col("m4") / (col("m2") * col("m2"))).as("kurt"))
      .select(col("mode"), col("n"),
        (round(col("skew"), 4) + lit(0.0)).as("skew"),
        (round(col("kurt"), 4) + lit(0.0)).as("kurt"),
        (round(col("n").cast("double") / lit(6.0)
          * (col("skew") * col("skew")
            + (col("kurt") - lit(3.0)) * (col("kurt") - lit(3.0)) / lit(4.0)), 4)
          + lit(0.0)).as("jb"),
        when(col("n").cast("double") / lit(6.0)
          * (col("skew") * col("skew")
            + (col("kurt") - lit(3.0)) * (col("kurt") - lit(3.0)) / lit(4.0))
          > lit(5.991465), 1L).otherwise(0L).as("reject_normal"))
      .orderBy("mode")

  /** Breusch–Pagan heteroskedasticity test on the monthly-revenue trend
    * fit: OLS residuals e from rev~m (exact-sum closed form, as in
    * Durbin–Watson), then the auxiliary R² of e² on m and LM = n·R²,
    * which is χ²₁ under homoskedasticity.
    */
  def q_breusch_pagan(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val fit = rev.agg(count(lit(1)).as("n"), sum(col("m")).as("st"),
        sum(col("rev")).as("sy"), sum(col("m") * col("rev")).as("sty"),
        sum(col("m") * col("m")).as("stt"))
      .select(col("n"), col("st"), col("stt"),
        ((col("n").cast("double") * col("sty").cast("double")
          - col("st").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double"))).as("b"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("st").cast("double") / col("n").cast("double")).as("tbar"))
    rev.crossJoin(broadcast(fit))
      .select(col("m"), col("n"), col("st"), col("stt"),
        (col("rev").cast("double") - col("ybar")
          - col("b") * (col("m").cast("double") - col("tbar"))).as("e"))
      .select(col("m"), col("n"), col("st"), col("stt"),
        (col("e") * col("e")).as("u"))
      .groupBy(col("n"), col("st"), col("stt"))
      .agg(sum(col("u")).as("su"), sum(col("u") * col("u")).as("suu"),
        sum(col("m").cast("double") * col("u")).as("smu"))
      .select(col("n").as("n_months"),
        ((col("n").cast("double") * col("smu") - col("st").cast("double") * col("su"))
          * (col("n").cast("double") * col("smu") - col("st").cast("double") * col("su"))
          / ((col("n").cast("double") * col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double"))
            * (col("n").cast("double") * col("suu") - col("su") * col("su"))))
          .as("r2_aux"))
      .select(col("n_months"),
        (round(col("r2_aux"), 6) + lit(0.0)).as("r2_aux"),
        (round(col("n_months").cast("double") * col("r2_aux"), 4) + lit(0.0)).as("lm"),
        when(col("n_months").cast("double") * col("r2_aux") > lit(3.841459), 1L)
          .otherwise(0L).as("reject_homosked"))
  }

  /** Chow structural-break F-test of the monthly revenue~month OLS at
    * 1998-01: per-period and pooled RSS from conditional exact sums in a
    * single pass (Σrev² and Σm·rev accumulated as doubles so the query
    * survives any SF), F = ((RSSp−RSS1−RSS2)/k)/((RSS1+RSS2)/(n−2k)),
    * k=2, vs the F(2,76) 5% critical value 3.117.
    */
  def q_chow_test(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
      .select(col("m"), col("rev"),
        when(col("m") < lit(1998L * 12 + 1), lit(0)).otherwise(lit(1)).as("p"))
    def rss(pfx: String): Column =
      (col(s"${pfx}syy") - (col(s"${pfx}sy") * col(s"${pfx}sy")) / col(s"${pfx}n"))
        .minus(((col(s"${pfx}sty") - col(s"${pfx}st") * col(s"${pfx}sy") / col(s"${pfx}n"))
          * (col(s"${pfx}sty") - col(s"${pfx}st") * col(s"${pfx}sy") / col(s"${pfx}n")))
          / (col(s"${pfx}stt") - col(s"${pfx}st") * col(s"${pfx}st") / col(s"${pfx}n")))
    def part(pfx: String, cond: Column): Seq[Column] = Seq(
      sum(when(cond, 1.0).otherwise(0.0)).as(s"${pfx}n"),
      sum(when(cond, col("m").cast("double")).otherwise(0.0)).as(s"${pfx}st"),
      sum(when(cond, col("m").cast("double") * col("m").cast("double"))
        .otherwise(0.0)).as(s"${pfx}stt"),
      sum(when(cond, col("rev").cast("double")).otherwise(0.0)).as(s"${pfx}sy"),
      sum(when(cond, col("rev").cast("double") * col("rev").cast("double"))
        .otherwise(0.0)).as(s"${pfx}syy"),
      sum(when(cond, col("m").cast("double") * col("rev").cast("double"))
        .otherwise(0.0)).as(s"${pfx}sty"))
    val aggs = part("a", col("p") === 0) ++ part("b", col("p") === 1) ++
      part("t", lit(true))
    rev.agg(aggs.head, aggs.tail: _*)
      .select(col("an").cast("long").as("n1"), col("bn").cast("long").as("n2"),
        rss("a").as("rss1"), rss("b").as("rss2"), rss("t").as("rssp"))
      .select(col("n1"), col("n2"),
        (round(((col("rssp") - col("rss1") - col("rss2")) / lit(2.0))
          / ((col("rss1") + col("rss2"))
            / (col("n1").cast("double") + col("n2").cast("double") - lit(4.0))), 4)
          + lit(0.0)).as("f_stat"),
        when(((col("rssp") - col("rss1") - col("rss2")) / lit(2.0))
          / ((col("rss1") + col("rss2"))
            / (col("n1").cast("double") + col("n2").cast("double") - lit(4.0)))
          > lit(3.117), 1L).otherwise(0L).as("break_detected"))
  }

  /** Kruskal–Wallis rank test of order totals (binned to exact $1000
    * cent-lattice values) across the five order priorities. Midranks
    * come from a value-level theta join (count-below + (t+1)/2 — exact
    * half-integers, so every rank sum is an exact double), tie-corrected
    * H = (12/(N(N+1)) ΣR_g²/n_g − 3(N+1)) / (1 − Σ(t³−t)/(N³−N)).
    */
  def q_kruskal_wallis(spark: SparkSession, sf: String): DataFrame = {
    val gv = Mat.once(Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"),
        expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 100000 AS BIGINT)")
          .as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt")))
    val vals = gv.groupBy(col("v")).agg(sum(col("cnt")).as("t"))
    val ranks = BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "ci"))
      .select(col("v"), col("t"),
        ((col("ci") - col("t")).cast("double")
          + (col("t").cast("double") + lit(1.0)) / lit(2.0)).as("midrank"))
    val tot = vals.agg(sum(col("t")).as("nn"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val grp = Mat.once(gv.join(ranks, "v")
      .groupBy(col("g"))
      .agg(sum(col("cnt")).as("n_g"),
        sum(col("cnt").cast("double") * col("midrank")).as("r_g")))
    val h = grp.crossJoin(broadcast(tot))
      .groupBy(col("nn"), col("ties"))
      .agg(sum(col("r_g") * col("r_g") / col("n_g").cast("double")).as("srr"))
      .select(
        (lit(12.0) / (col("nn").cast("double") * (col("nn").cast("double") + lit(1.0)))
          * col("srr") - lit(3.0) * (col("nn").cast("double") + lit(1.0))).as("h_raw"),
        (lit(1.0) - col("ties").cast("double")
          / ((col("nn").cast("double") * col("nn").cast("double") - lit(1.0))
            * col("nn").cast("double"))).as("corr"))
    grp.crossJoin(broadcast(h))
      .select(col("g").as("priority"), col("n_g"),
        (round(col("r_g") / col("n_g").cast("double"), 4) + lit(0.0)).as("mean_rank"),
        (round(col("h_raw"), 4) + lit(0.0)).as("h"),
        (round(col("h_raw") / col("corr"), 4) + lit(0.0)).as("h_adj"))
      .orderBy("priority")
  }

  /** Friedman test of mean order value across the five priorities
    * (treatments) blocked by month: within-block competition ranks via
    * exact cross-multiplied integer comparison (s_b·c_a > s_a·c_b, no
    * float ever compared), blocks restricted to all-5-present months,
    * Q = 12/(nk(k+1))·ΣR_j² − 3n(k+1) vs χ²₄ = 9.487729.
    */
  def q_friedman_test(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.orders(spark, sf)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"), col("o_orderpriority").as("g"))
      .agg(sum(cents(col("o_totalprice"))).as("s"), count(lit(1)).as("c")))
    val full = cell.groupBy(col("m")).agg(count(lit(1)).as("k"))
      .filter(col("k") === 5).select(col("m"))
    val blocks = cell.join(broadcast(full), "m")
    val ranked = blocks.as("a")
      .join(blocks.select(col("m").as("m2"), col("g").as("g2"),
        col("s").as("s2"), col("c").as("c2")).as("b"),
        col("m2") === col("a.m") && col("g2") =!= col("a.g"))
      .groupBy(col("a.m").as("m"), col("a.g").as("g"))
      .agg((lit(1L) + sum(when(col("s2") * col("a.c") > col("a.s") * col("c2"), 1L)
        .otherwise(0L))).as("rank"))
    val rj = Mat.once(ranked.groupBy(col("g")).agg(sum(col("rank")).as("r_sum"),
      count(lit(1)).as("n_blocks")))
    val q = rj.agg(max(col("n_blocks")).as("n"),
        sum(col("r_sum") * col("r_sum")).as("srr"))
      .select(col("n"),
        (lit(12.0) / (col("n").cast("double") * lit(30.0))
          * col("srr").cast("double")
          - lit(18.0) * col("n").cast("double")).as("q_stat"))
    rj.crossJoin(broadcast(q))
      .select(col("g").as("priority"), col("n_blocks"), col("r_sum"),
        (round(col("r_sum").cast("double") / col("n_blocks").cast("double"), 4)
          + lit(0.0)).as("mean_rank"),
        (round(col("q_stat"), 4) + lit(0.0)).as("q_stat"),
        when(col("q_stat") > lit(9.487729), 1L).otherwise(0L).as("reject_equal"))
      .orderBy("priority")
  }

  /** Wilcoxon signed-rank test of per-nation revenue 1996 vs 1997:
    * exact cent differences, competition ranks of |d| via integer
    * self-join counting, W⁺/W⁻ and the normal approximation
    * z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24).
    */
  def q_wilcoxon_signed_rank(spark: SparkSession, sf: String): DataFrame = {
    val d = Mat.once(Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("c_nationkey").as("nation"))
      .agg((sum(when(year(col("o_orderdate")) === 1997, cents(col("o_totalprice")))
        .otherwise(0L))
        - sum(when(year(col("o_orderdate")) === 1996, cents(col("o_totalprice")))
          .otherwise(0L))).as("d"))
      .filter(col("d") =!= 0L)
      .select(col("nation"), col("d"), abs(col("d")).as("ad")))
    val ranked = d.as("a")
      .join(d.select(col("nation").as("n2"), col("ad").as("ad2")).as("b"),
        col("n2") =!= col("a.nation"), "left")
      .groupBy(col("a.nation").as("nation"), col("a.d").as("d"))
      .agg((lit(1L) + coalesce(sum(when(col("ad2") < abs(col("a.d")), 1L)
        .otherwise(0L)), lit(0L))).as("rank"))
    ranked.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("d") > 0, col("rank")).otherwise(0L)).as("w_plus"),
        sum(when(col("d") < 0, col("rank")).otherwise(0L)).as("w_minus"))
      .select(col("n_pairs"), col("w_plus"), col("w_minus"),
        (round((col("w_plus").cast("double")
          - col("n_pairs").cast("double") * (col("n_pairs").cast("double") + lit(1.0))
            / lit(4.0))
          / sqrt(col("n_pairs").cast("double")
            * (col("n_pairs").cast("double") + lit(1.0))
            * (lit(2.0) * col("n_pairs").cast("double") + lit(1.0)) / lit(24.0)), 4)
          + lit(0.0)).as("z"))
  }

  /** Odds ratio of an item being returned (returnflag = 'R') for
    * deep-discount line items (discount ≥ 0.06) vs the rest: 2×2 exact
    * counts, Woolf log-interval CI95 = exp(ln OR ± 1.959964·√Σ1/nᵢ).
    */
  def q_odds_ratio(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select((col("l_discount") >= 0.06).as("expo"),
        (col("l_returnflag") === "R").as("late"))
      .agg(sum(when(col("expo") && col("late"), 1L).otherwise(0L)).as("a"),
        sum(when(col("expo") && !col("late"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("expo") && col("late"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("expo") && !col("late"), 1L).otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        ((col("a").cast("double") * col("d").cast("double"))
          / (col("b").cast("double") * col("c").cast("double"))).as("or_raw"),
        sqrt(lit(1.0) / col("a").cast("double") + lit(1.0) / col("b").cast("double")
          + lit(1.0) / col("c").cast("double") + lit(1.0) / col("d").cast("double"))
          .as("se"))
      .select(col("a"), col("b"), col("c"), col("d"),
        (round(col("or_raw"), 4) + lit(0.0)).as("odds_ratio"),
        (round(exp(log(col("or_raw")) - lit(1.959964) * col("se")), 4) + lit(0.0))
          .as("ci_lo"),
        (round(exp(log(col("or_raw")) + lit(1.959964) * col("se")), 4) + lit(0.0))
          .as("ci_hi"))

  /** 14-day RSI of daily order revenue: consecutive-day cent changes
    * split into gains/losses (exact integers), trailing-14-day sums via
    * a bounded theta join, RSI = 100 − 100/(1+RS) — every input exact,
    * so the decile bucketing is bit-safe — then the RSI decile
    * distribution with per-bucket mean.
    */
  def q_rsi_indicator(spark: SparkSession, sf: String): DataFrame = {
    val rev = dailyRevenue(spark, sf)
    val chg = Mat.once(rev.as("a")
      .join(rev.select(col("d").as("d2"), col("rev").as("rev2")).as("b"),
        col("d2") === col("d") + 1)
      .select(col("d2").as("d"),
        greatest(col("rev2") - col("rev"), lit(0L)).as("g"),
        greatest(col("rev") - col("rev2"), lit(0L)).as("l")))
    chg.as("a")
      .join(chg.select(col("d").as("d2"), col("g").as("g2"), col("l").as("l2")).as("b"),
        col("d2").between(col("a.d") - 13, col("a.d")))
      .groupBy(col("a.d").as("d"))
      .agg(sum(col("g2")).as("sg"), sum(col("l2")).as("sl"))
      .filter(col("sg") > 0L && col("sl") > 0L)
      .select((lit(100.0) - lit(100.0)
        / (lit(1.0) + col("sg").cast("double") / col("sl").cast("double"))).as("rsi"))
      .groupBy(floor(col("rsi") / lit(10.0)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_days"),
        (round(avg(col("rsi")), 4) + lit(0.0)).as("mean_rsi"))
      .orderBy("bucket")
  }

  /** Historical VaR/CVaR of daily revenue changes per year: the 5%
    * discrete quantile (k = ⌈n/20⌉-th smallest, exact via value-level
    * cumulative-count theta join) and the expected shortfall (mean of
    * the tail at or below VaR) in cents.
    */
  def q_var_cvar(spark: SparkSession, sf: String): DataFrame = {
    val rev = Tables.orders(spark, sf)
      .groupBy(datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").as("d"), year(col("o_orderdate")).cast("long").as("y"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    val chg = Mat.once(rev.as("a")
      .join(rev.select(col("d").as("d2"), col("y").as("y2"),
        col("rev").as("rev2")).as("b"),
        col("d2") === col("d") + 1)
      .select(col("y2").as("y"), (col("rev2") - col("rev")).as("diff")))
    val vals = chg.groupBy(col("y"), col("diff")).agg(count(lit(1)).as("cnt"))
    val stats = chg.groupBy(col("y")).agg(count(lit(1)).as("n"))
      .select(col("y"), col("n"), expr("CAST((n + 19) div 20 AS BIGINT)").as("k"))
    val cum = vals.as("a")
      .join(vals.select(col("y").as("y2"), col("diff").as("diff2"),
        col("cnt").as("cnt2")).as("b"),
        col("y2") === col("a.y") && col("diff2") <= col("a.diff"))
      .groupBy(col("a.y").as("y"), col("a.diff").as("diff"))
      .agg(sum(col("cnt2")).as("cum"))
    val varq = cum.join(broadcast(stats), "y")
      .filter(col("cum") >= col("k"))
      .groupBy(col("y"), col("n")).agg(min(col("diff")).as("var95"))
    chg.join(broadcast(varq.select(col("y"), col("var95"))), "y")
      .filter(col("diff") <= col("var95"))
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n_tail"), sum(col("diff")).as("s_tail"))
      .join(varq, "y")
      .select(col("y").as("yr"), col("n"), col("var95"), col("n_tail"),
        (round(col("s_tail").cast("double") / col("n_tail").cast("double"), 4)
          + lit(0.0)).as("cvar95"))
      .orderBy("yr")
  }

  /** Bartlett test of order-total variance homogeneity across the five
    * priorities: unbiased per-group variances from exact cent sums (Σx²
    * accumulated as doubles, scale-safe), T = [(N−k)ln(Sp²) −
    * Σ(nᵢ−1)ln(Sᵢ²)]/C with the standard small-sample correction C.
    */
  def q_bartlett_test(spark: SparkSession, sf: String): DataFrame = {
    val g = Mat.once(Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"),
        cents(col("o_totalprice")).as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast("double") * col("x").cast("double")).as("sxx"))
      .select(col("g"), col("n"),
        ((col("sxx") - (col("sx").cast("double") * col("sx").cast("double"))
          / col("n").cast("double"))
          / (col("n").cast("double") - lit(1.0))).as("s2")))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum((col("n").cast("double") - lit(1.0)) * col("s2")).as("pooled_num"),
        sum((col("n").cast("double") - lit(1.0)) * log(col("s2"))).as("sum_nl"),
        sum(lit(1.0) / (col("n").cast("double") - lit(1.0))).as("sum_inv"))
      .select(col("k"), col("nn"),
        ((col("nn").cast("double") - col("k").cast("double"))
          * log(col("pooled_num")
            / (col("nn").cast("double") - col("k").cast("double")))
          - col("sum_nl")).as("t_num"),
        (lit(1.0) + (col("sum_inv")
          - lit(1.0) / (col("nn").cast("double") - col("k").cast("double")))
          / (lit(3.0) * (col("k").cast("double") - lit(1.0)))).as("c_corr"))
    g.crossJoin(broadcast(tot))
      .select(col("g").as("priority"), col("n").as("n_g"),
        (round(col("s2") / lit(10000.0), 4) + lit(0.0)).as("var_dollars"),
        (round(col("t_num") / col("c_corr"), 4) + lit(0.0)).as("bartlett_t"),
        when(col("t_num") / col("c_corr") > lit(9.487729), 1L).otherwise(0L)
          .as("reject_homogeneous"))
      .orderBy("priority")
  }

  /** Engle–Granger cointegration step between the BUILDING and
    * AUTOMOBILE segments' monthly revenue series: closed-form OLS of A
    * on B (exact-sum inputs, cross products accumulated as doubles),
    * then the Durbin–Watson statistic of the cointegrating residuals —
    * DW → 0 means a unit root survives (no cointegration).
    */
  def q_engle_granger(spark: SparkSession, sf: String): DataFrame = {
    def seg(name: String, out: String): DataFrame =
      Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
        .agg(sum(cents(col("o_totalprice"))).as(out))
    val ab = Mat.once(seg("BUILDING", "ya").join(seg("AUTOMOBILE", "yb"), "m"))
    val fit = ab.agg(count(lit(1)).as("n"), sum(col("ya")).as("sa"),
        sum(col("yb")).as("sb"),
        sum(col("ya").cast("double") * col("yb").cast("double")).as("sab"),
        sum(col("yb").cast("double") * col("yb").cast("double")).as("sbb"))
      .select(col("n"),
        ((col("n").cast("double") * col("sab")
          - col("sa").cast("double") * col("sb").cast("double"))
          / (col("n").cast("double") * col("sbb")
            - col("sb").cast("double") * col("sb").cast("double"))).as("beta"),
        (col("sa").cast("double") / col("n").cast("double")).as("abar"),
        (col("sb").cast("double") / col("n").cast("double")).as("bbar"))
    val resid = Mat.once(ab.crossJoin(broadcast(fit))
      .select(col("m"), col("n"), col("beta"),
        (col("ya").cast("double") - col("abar")
          - col("beta") * (col("yb").cast("double") - col("bbar"))).as("e")))
    val num = resid.as("a")
      .join(resid.select(col("m").as("m2"), col("e").as("e2")).as("b"),
        col("m2") === col("m") + 1)
      .agg(sum((col("e2") - col("e")) * (col("e2") - col("e"))).as("num"))
    resid.groupBy(col("n"), col("beta"))
      .agg(sum(col("e") * col("e")).as("den"))
      .crossJoin(num)
      .select(col("n").as("n_months"),
        (round(col("beta"), 4) + lit(0.0)).as("beta"),
        (round(col("num") / col("den"), 4) + lit(0.0)).as("dw_resid"),
        when(col("num") / col("den") > lit(1.0), 1L).otherwise(0L)
          .as("cointegrated"))
  }

  /** Goodman–Kruskal gamma ordinal association between quantity and
    * the integer discount percent: concordant/discordant pair counts
    * from the (quantity, pct) contingency cells via a cell-level theta
    * join — exact integer products — γ = (C−D)/(C+D).
    */
  def q_goodman_kruskal_gamma(spark: SparkSession, sf: String): DataFrame = {
    val cells = Mat.once(Tables.lineitem(spark, sf)
      .groupBy(col("l_quantity").cast("long").as("x"),
        pct(col("l_discount")).as("y"))
      .agg(count(lit(1)).as("cnt")))
    cells.as("a")
      .join(cells.select(col("x").as("x2"), col("y").as("y2"),
        col("cnt").as("cnt2")).as("b"),
        col("x2") > col("a.x") && col("y2") =!= col("a.y"))
      .agg(sum(when(col("y2") > col("a.y"), col("a.cnt") * col("cnt2"))
        .otherwise(0L)).as("c_pairs"),
        sum(when(col("y2") < col("a.y"), col("a.cnt") * col("cnt2"))
          .otherwise(0L)).as("d_pairs"))
      .select(col("c_pairs"), col("d_pairs"),
        (round((col("c_pairs") - col("d_pairs")).cast("double")
          / (col("c_pairs") + col("d_pairs")).cast("double"), 4) + lit(0.0))
          .as("gamma"))
  }

  /** Atkinson inequality indices of per-customer lifetime revenue at
    * ε = 0.5 (A = 1 − ((1/n)Σ√(x/μ))², via correctly-rounded sqrt) and
    * ε = 2 (A = 1 − harmonic/μ), the standard welfare-weighted
    * complements to Theil/Gini already in §2.
    */
  def q_atkinson_index(spark: SparkSession, sf: String): DataFrame = {
    val cust = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
      .filter(col("x") > 0)
    val tot = cust.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    cust.crossJoin(broadcast(tot))
      .select(col("n"),
        (col("x").cast("double") * col("n").cast("double")
          / col("sx").cast("double")).as("ratio"))
      .groupBy(col("n"))
      .agg(sum(sqrt(col("ratio"))).as("sr"),
        sum(lit(1.0) / col("ratio")).as("sinv"))
      .select(col("n").as("n_customers"),
        (round(lit(1.0) - (col("sr") / col("n").cast("double"))
          * (col("sr") / col("n").cast("double")), 4) + lit(0.0)).as("atkinson_half"),
        (round(lit(1.0) - col("n").cast("double") / col("sinv"), 4) + lit(0.0))
          .as("atkinson_two"))
  }

  /** Sharpe and Sortino ratios of daily revenue changes per year:
    * population mean/σ from exact cent diffs (squares accumulated as
    * doubles), downside RMS over the negative diffs only.
    */
  def q_sharpe_sortino(spark: SparkSession, sf: String): DataFrame = {
    val rev = Tables.orders(spark, sf)
      .groupBy(datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").as("d"), year(col("o_orderdate")).cast("long").as("y"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    rev.as("a")
      .join(rev.select(col("d").as("d2"), col("y").as("y2"),
        col("rev").as("rev2")).as("b"),
        col("d2") === col("d") + 1)
      .select(col("y2").as("y"), (col("rev2") - col("rev")).as("diff"))
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n"), sum(col("diff")).as("sd"),
        sum(col("diff").cast("double") * col("diff").cast("double")).as("sdd"),
        sum(when(col("diff") < 0, col("diff").cast("double") * col("diff").cast("double"))
          .otherwise(0.0)).as("sneg"))
      .select(col("y").as("yr"), col("n"),
        (round((col("sd").cast("double") / col("n").cast("double"))
          / sqrt(col("sdd") / col("n").cast("double")
            - (col("sd").cast("double") / col("n").cast("double"))
              * (col("sd").cast("double") / col("n").cast("double"))), 4) + lit(0.0))
          .as("sharpe"),
        (round((col("sd").cast("double") / col("n").cast("double"))
          / sqrt(col("sneg") / col("n").cast("double")), 4) + lit(0.0)).as("sortino"))
      .orderBy("yr")
  }

  /** Kelly criterion from the daily revenue-change win/loss record:
    * p = wins/n, b = mean win / mean loss (exact cent sums), and the
    * optimal fraction f* = p − (1−p)/b.
    */
  def q_kelly_criterion(spark: SparkSession, sf: String): DataFrame = {
    val rev = dailyRevenue(spark, sf)
    rev.as("a")
      .join(rev.select(col("d").as("d2"), col("rev").as("rev2")).as("b"),
        col("d2") === col("d") + 1)
      .select((col("rev2") - col("rev")).as("diff"))
      .filter(col("diff") =!= 0L)
      .agg(count(lit(1)).as("n"),
        sum(when(col("diff") > 0, 1L).otherwise(0L)).as("n_win"),
        sum(when(col("diff") > 0, col("diff")).otherwise(0L)).as("s_win"),
        sum(when(col("diff") < 0, -col("diff")).otherwise(0L)).as("s_loss"))
      .select(col("n"), col("n_win"), (col("n") - col("n_win")).as("n_loss"),
        (col("n_win").cast("double") / col("n").cast("double")).as("p"),
        ((col("s_win").cast("double") / col("n_win").cast("double"))
          / (col("s_loss").cast("double")
            / (col("n") - col("n_win")).cast("double"))).as("b"))
      .select(col("n"), col("n_win"), col("n_loss"),
        (round(col("p"), 4) + lit(0.0)).as("p_win"),
        (round(col("b"), 4) + lit(0.0)).as("payoff_b"),
        (round(col("p") - (lit(1.0) - col("p")) / col("b"), 4) + lit(0.0))
          .as("kelly_f"))
  }

  /** Mann–Kendall trend test on monthly revenue: S = Σ sign(y_j − y_i)
    * over all i<j month pairs (exact integer theta join), tie-corrected
    * variance, and the continuity-corrected z — the nonparametric
    * companion to the Theil–Sen slope already in §2.
    */
  def q_mann_kendall(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val s = rev.as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2") > col("m"))
      .agg(sum(when(col("rev2") > col("rev"), 1L)
        .when(col("rev2") < col("rev"), -1L).otherwise(0L)).as("s"))
    val ties = rev.groupBy(col("rev")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)).as("tie_term"))
    val n = rev.agg(count(lit(1)).as("n"))
    n.crossJoin(s).crossJoin(ties)
      .select(col("n"), col("s").as("s_stat"),
        ((col("n").cast("double") * (col("n").cast("double") - lit(1.0))
          * (lit(2.0) * col("n").cast("double") + lit(5.0))
          - col("tie_term").cast("double")) / lit(18.0)).as("var_s"))
      .select(col("n").as("n_months"), col("s_stat"),
        (round((col("s_stat").cast("double")
          - signum(col("s_stat").cast("double")))
          / sqrt(col("var_s")), 4) + lit(0.0)).as("z"),
        when((col("s_stat").cast("double") - signum(col("s_stat").cast("double")))
          / sqrt(col("var_s")) > lit(1.959964), 1L)
          .when((col("s_stat").cast("double") - signum(col("s_stat").cast("double")))
            / sqrt(col("var_s")) < lit(-1.959964), -1L)
          .otherwise(0L).as("trend"))
  }

  /** Simple-exponential-smoothing backtest on monthly revenue with
    * α = 0.5 and a 12-month truncated kernel: ŷ_t = Σ_{k=1..12} 0.5^k
    * y_{t−k} — powers of ½ are exact doubles, so forecasts and errors
    * are exact — scored only on months with a full kernel, reporting
    * MAE/mean and RMSE/mean.
    */
  def q_ses_forecast(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val pred = rev.as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2").between(col("m") - 12, col("m") - 1))
      .groupBy(col("a.m").as("m"), col("a.rev").as("actual"))
      .agg(count(lit(1)).as("k"),
        sum(col("rev2").cast("double")
          * pow(lit(0.5), (col("a.m") - col("m2")).cast("double"))).as("yhat"))
      .filter(col("k") === 12)
    pred.agg(count(lit(1)).as("n_forecasts"),
        sum(col("actual")).as("sa"),
        sum(abs(col("actual").cast("double") - col("yhat"))).as("sae"),
        sum((col("actual").cast("double") - col("yhat"))
          * (col("actual").cast("double") - col("yhat"))).as("sse"))
      .select(col("n_forecasts"),
        (round((col("sae") / col("n_forecasts").cast("double"))
          / (col("sa").cast("double") / col("n_forecasts").cast("double")), 4)
          + lit(0.0)).as("mae_over_mean"),
        (round(sqrt(col("sse") / col("n_forecasts").cast("double"))
          / (col("sa").cast("double") / col("n_forecasts").cast("double")), 4)
          + lit(0.0)).as("rmse_over_mean"))
  }

  /** Method-of-moments Gamma fit of order totals per priority:
    * shape k̂ = μ²/σ², scale θ̂ = σ²/μ (population moments from exact
    * cent sums, squares accumulated as doubles), reported in dollars.
    */
  def q_gamma_mom(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast("double") * col("x").cast("double")).as("sxx"))
      .select(col("g"), col("n"),
        (col("sx").cast("double") / col("n").cast("double")).as("mu"),
        (col("sxx") / col("n").cast("double")
          - (col("sx").cast("double") / col("n").cast("double"))
            * (col("sx").cast("double") / col("n").cast("double"))).as("v"))
      .select(col("g").as("priority"), col("n"),
        (round(col("mu") * col("mu") / col("v"), 4) + lit(0.0)).as("shape_k"),
        (round(col("v") / col("mu") / lit(100.0), 4) + lit(0.0)).as("scale_dollars"))
      .orderBy("priority")

  /** Mood's median test of order totals ($100 cent bins) across the
    * five priorities: the grand lower median from a value-level
    * cumulative-count theta join, per-group above/not-above counts, and
    * the 2×k χ² against margin-derived expectations — all exact until
    * the single χ² epilogue, so the reject flag is bit-safe.
    */
  def q_moods_median_test(spark: SparkSession, sf: String): DataFrame = {
    val gv = Mat.once(Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"),
        expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
          .as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt")))
    val vals = gv.groupBy(col("v")).agg(sum(col("cnt")).as("t"))
    val tot = vals.agg(sum(col("t")).as("nn"))
      .select(col("nn"), expr("CAST((nn + 1) div 2 AS BIGINT)").as("k"))
    val med = BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "cum"))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= col("k"))
      .agg(min(col("v")).as("med"))
    val grp = Mat.once(gv.crossJoin(broadcast(med))
      .groupBy(col("g"))
      .agg(sum(when(col("v") > col("med"), col("cnt")).otherwise(0L)).as("above"),
        sum(when(col("v") <= col("med"), col("cnt")).otherwise(0L)).as("notabove")))
    val marg = grp.agg(sum(col("above")).as("ta"), sum(col("notabove")).as("tb"))
      .select(col("ta"), col("tb"), (col("ta") + col("tb")).as("nn"))
    val chi = Mat.once(grp.crossJoin(broadcast(marg))
      .select(col("g"), col("above"), col("notabove"),
        ((col("above").cast("double")
          - col("ta").cast("double") * (col("above") + col("notabove")).cast("double")
            / col("nn").cast("double"))
          * (col("above").cast("double")
            - col("ta").cast("double") * (col("above") + col("notabove")).cast("double")
              / col("nn").cast("double"))
          / (col("ta").cast("double") * (col("above") + col("notabove")).cast("double")
            / col("nn").cast("double"))
          + (col("notabove").cast("double")
            - col("tb").cast("double") * (col("above") + col("notabove")).cast("double")
              / col("nn").cast("double"))
            * (col("notabove").cast("double")
              - col("tb").cast("double") * (col("above") + col("notabove")).cast("double")
                / col("nn").cast("double"))
            / (col("tb").cast("double") * (col("above") + col("notabove")).cast("double")
              / col("nn").cast("double"))).as("contrib")))
    val stat = chi.agg(sum(col("contrib")).as("chi2"))
    chi.crossJoin(broadcast(stat))
      .select(col("g").as("priority"), col("above"), col("notabove"),
        (round(col("contrib"), 4) + lit(0.0)).as("contrib"),
        (round(col("chi2"), 4) + lit(0.0)).as("chi2"),
        when(col("chi2") > lit(9.487729), 1L).otherwise(0L).as("reject_equal_medians"))
      .orderBy("priority")
  }

  /** Mood dispersion (scale) test between even- and odd-custkey orders
    * on the $100 cent-bin lattice: midranks from a value-level theta
    * join, scores (midrank − (N+1)/2)² — exact quarter-integers — and
    * the normal approximation with the no-tie moments
    * E[T] = m(N²−1)/12, Var[T] = mn(N+1)(N²−4)/180.
    */
  def q_mood_dispersion(spark: SparkSession, sf: String): DataFrame = {
    val gv = Mat.once(Tables.orders(spark, sf)
      .select((col("o_custkey") % 2).cast("long").as("g"),
        expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
          .as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt")))
    val vals = gv.groupBy(col("v")).agg(sum(col("cnt")).as("t"))
    val mid = BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "ci"))
      .select(col("v"),
        ((col("ci") - col("t")).cast("double")
          + (col("t").cast("double") + lit(1.0)) / lit(2.0)).as("midrank"))
    val tot = gv.agg(sum(col("cnt")).as("nn"),
      sum(when(col("g") === 0, col("cnt")).otherwise(0L)).as("m"))
    gv.filter(col("g") === 0)
      .join(mid, "v")
      .crossJoin(broadcast(tot))
      .groupBy(col("nn"), col("m"))
      .agg(sum(col("cnt").cast("double")
        * (col("midrank") - (col("nn").cast("double") + lit(1.0)) / lit(2.0))
        * (col("midrank") - (col("nn").cast("double") + lit(1.0)) / lit(2.0)))
        .as("t_stat"))
      .select(col("nn").as("n_total"), col("m").as("n_even"),
        (round(col("t_stat"), 4) + lit(0.0)).as("t_stat"),
        (round((col("t_stat")
          - col("m").cast("double")
            * (col("nn").cast("double") * col("nn").cast("double") - lit(1.0))
            / lit(12.0))
          / sqrt(col("m").cast("double")
            * (col("nn").cast("double") - col("m").cast("double"))
            * (col("nn").cast("double") + lit(1.0))
            * (col("nn").cast("double") * col("nn").cast("double") - lit(4.0))
            / lit(180.0)), 4) + lit(0.0)).as("z"))
  }

  /** Hodges–Lehmann shift estimator between the 1996 and 1997 monthly
    * revenue series: the lower median of all 144 pairwise differences
    * (exact cents) via the [[BandedScan]] cumulative count (its bands
    * are sized from the sparse cent-difference lattice's own range, so
    * a handful of keyed windows replace an all-pairs theta join).
    */
  def q_hodges_lehmann(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val a = rev.filter(col("m").between(1996L * 12 + 1, 1996L * 12 + 12))
      .select(col("rev").as("ra"))
    val b = rev.filter(col("m").between(1997L * 12 + 1, 1997L * 12 + 12))
      .select(col("rev").as("rb"))
    val w = Mat.once(a.crossJoin(b).select((col("rb") - col("ra")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    val tot = w.agg(sum(col("cnt")).as("np"))
      .select(col("np"), expr("CAST((np + 1) div 2 AS BIGINT)").as("k"))
    BandedScan.cumSums(w, Seq.empty, "w", Seq("cnt" -> "cum"))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= col("k"))
      .agg(max(col("np")).as("n_pairs"), min(col("w")).as("hl_cents"))
      .select(col("n_pairs"), col("hl_cents"),
        (round(col("hl_cents").cast("double") / lit(100.0), 2) + lit(0.0))
          .as("hl_dollars"))
  }

  /** Pettitt changepoint test on monthly revenue: U_t = ΣΣ sign(y_j −
    * y_i) over pairs straddling t, K = max|U_t| with the earliest
    * argmax month, and the approximate p = 2exp(−6K²/(n³+n²)). Uses the
    * Mann–Whitney rank identity U_t = t(n+1) − 2·W_t (W_t = running
    * midrank sum over months ≤ t), which replaces the pair×cut double
    * theta join (O(n³) pairs) with two [[BandedScan]] prefix scans;
    * 2·midrank = 2·(strict below) + ties + 1 keeps every sum an exact
    * integer, so the result is bit-identical to the sign-sum form.
    */
  def q_pettitt_test(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val lat = rev.groupBy(col("rev").as("rv")).agg(count(lit(1)).as("tcnt"))
    val twomid = BandedScan.cumSums(lat, Seq.empty, "rv", Seq("tcnt" -> "ci"))
      .select(col("rv"),
        (lit(2L) * (col("ci") - col("tcnt")) + col("tcnt") + 1L).as("tm"))
    val byMonth = rev.join(twomid, col("rev") === col("rv"))
      .select(col("m"), col("tm"), lit(1L).as("one"))
    val u = Mat.once(BandedScan.cumSums(byMonth, Seq.empty, "m",
        Seq("tm" -> "w2", "one" -> "tpos")))
    val nm = rev.agg(count(lit(1)).as("nm"))
    val ut = u.crossJoin(broadcast(nm))
      .filter(col("tpos") < col("nm"))  // U_n ≡ 0: the empty cut, as before
      .select(col("m").as("t"),
        (col("tpos") * (col("nm") + 1L) - col("w2")).as("u_t"))
    val k = ut.agg(max(abs(col("u_t"))).as("k_stat"))
    val tstar = ut.crossJoin(broadcast(k))
      .filter(abs(col("u_t")) === col("k_stat"))
      .groupBy(col("k_stat")).agg(min(col("t")).as("t_star"))
    rev.agg(count(lit(1)).as("n_months"))
      .crossJoin(broadcast(tstar))
      .select(col("n_months"), col("k_stat"), col("t_star"),
        (round(lit(2.0) * exp(lit(-6.0) * col("k_stat").cast("double")
          * col("k_stat").cast("double")
          / (col("n_months").cast("double") * col("n_months").cast("double")
            * col("n_months").cast("double")
            + col("n_months").cast("double") * col("n_months").cast("double"))), 6)
          + lit(0.0)).as("p_approx"))
  }

  /** Bowley (quartile) skewness and the quartile coefficient of
    * dispersion of order totals per priority, from exact discrete
    * quartiles (⌈qn⌉-th smallest on the $100 cent-bin lattice via the
    * [[BandedScan]] prefix scan — O(V) per group instead of the O(V²)
    * all-pairs cumulative theta join).
    */
  def q_bowley_skewness(spark: SparkSession, sf: String): DataFrame = {
    val gv = Mat.once(Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"),
        expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
          .as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt")))
    val stats = gv.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .select(col("g"), col("n"),
        expr("CAST((n + 3) div 4 AS BIGINT)").as("k1"),
        expr("CAST((n + 1) div 2 AS BIGINT)").as("k2"),
        expr("CAST((3 * n + 3) div 4 AS BIGINT)").as("k3"))
    BandedScan.cumSums(gv, Seq("g"), "v", Seq("cnt" -> "cum"))
      .join(broadcast(stats), "g")
      .groupBy(col("g"), col("n"))
      .agg(min(when(col("cum") >= col("k1"), col("v"))).as("q1"),
        min(when(col("cum") >= col("k2"), col("v"))).as("q2"),
        min(when(col("cum") >= col("k3"), col("v"))).as("q3"))
      .select(col("g").as("priority"), col("n"), col("q1"), col("q2"), col("q3"),
        (round(((col("q3") + col("q1")).cast("double")
          - lit(2.0) * col("q2").cast("double"))
          / (col("q3") - col("q1")).cast("double"), 4) + lit(0.0)).as("bowley_skew"),
        (round((col("q3") - col("q1")).cast("double")
          / (col("q3") + col("q1")).cast("double"), 4) + lit(0.0)).as("qcd"))
      .orderBy("priority")
  }

  /** Dunn post-hoc pairwise comparisons after Kruskal–Wallis on the
    * $1000-binned order totals: tie-corrected pooled variance
    * N(N+1)/12 − Σ(t³−t)/(12(N−1)), z per priority pair, flagged at
    * the Bonferroni-corrected 2.807034 (10 comparisons).
    */
  def q_dunn_posthoc(spark: SparkSession, sf: String): DataFrame = {
    val gv = Mat.once(Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"),
        expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 100000 AS BIGINT)")
          .as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt")))
    val vals = gv.groupBy(col("v")).agg(sum(col("cnt")).as("t"))
    val mid = BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "ci"))
      .select(col("v"),
        ((col("ci") - col("t")).cast("double")
          + (col("t").cast("double") + lit(1.0)) / lit(2.0)).as("midrank"))
    val tot = vals.agg(sum(col("t")).as("nn"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val grp = Mat.once(gv.join(mid, "v")
      .groupBy(col("g"))
      .agg(sum(col("cnt")).as("n_g"),
        sum(col("cnt").cast("double") * col("midrank")).as("r_g")))
    grp.as("a")
      .join(grp.select(col("g").as("g2"), col("n_g").as("n_g2"),
        col("r_g").as("r_g2")).as("b"), col("a.g") < col("g2"))
      .crossJoin(broadcast(tot))
      .select(concat(col("a.g"), lit(" vs "), col("g2")).as("pair"),
        ((col("r_g") / col("n_g").cast("double")
          - col("r_g2") / col("n_g2").cast("double"))
          / sqrt((col("nn").cast("double") * (col("nn").cast("double") + lit(1.0))
            / lit(12.0)
            - col("ties").cast("double")
              / (lit(12.0) * (col("nn").cast("double") - lit(1.0))))
            * (lit(1.0) / col("n_g").cast("double")
              + lit(1.0) / col("n_g2").cast("double")))).as("z_raw"))
      .select(col("pair"), (round(col("z_raw"), 4) + lit(0.0)).as("z"),
        when(abs(col("z_raw")) > lit(2.807034), 1L).otherwise(0L).as("significant"))
      .orderBy("pair")
  }

  /** Flesch-style readability over documents: words as whitespace
    * tokens, sentences as sentence-punctuation runs + 1, syllables as
    * vowel runs (all exact regexp counts), score = 206.835 −
    * 1.015(w/s) − 84.6(syl/w), reported as a decile-bucketed
    * distribution (bit-safe flooring of exactly-derived doubles).
    */
  def q_readability_score(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(
        size(split(col("text"), " ")).cast("long").as("w"),
        (size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))) + 1)
          .cast("long").as("s"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0)))
          .cast("long").as("syl"))
      .select((lit(206.835)
        - lit(1.015) * (col("w").cast("double") / col("s").cast("double"))
        - lit(84.6) * (col("syl").cast("double") / col("w").cast("double")))
        .as("score"))
      .groupBy(floor(col("score") / lit(10.0)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        (round(avg(col("score")), 4) + lit(0.0)).as("mean_score"))
      .orderBy("bucket")

  /** Permutation entropy (order-3 ordinal patterns) of monthly revenue:
    * each consecutive triple maps to an exact comparison code,
    * H = −Σp ln p over the code distribution, normalized by ln 6
    * (pre-rounded literal).
    */
  def q_permutation_entropy(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val tri = rev.as("a")
      .join(rev.select(col("m").as("m1"), col("rev").as("rev1")).as("b"),
        col("m1") === col("m") + 1)
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("c"),
        col("m2") === col("m") + 2)
      .select((when(col("rev1") > col("rev"), 4L).otherwise(0L)
        + when(col("rev2") > col("rev"), 2L).otherwise(0L)
        + when(col("rev2") > col("rev1"), 1L).otherwise(0L)).as("code"))
    val dist = Mat.once(tri.groupBy(col("code")).agg(count(lit(1)).as("cnt")))
    val tot = dist.agg(sum(col("cnt")).as("n"))
    val h = dist.crossJoin(broadcast(tot))
      .agg(sum(-(col("cnt").cast("double") / col("n").cast("double"))
        * log(col("cnt").cast("double") / col("n").cast("double"))).as("h"))
    dist.crossJoin(broadcast(tot)).crossJoin(broadcast(h))
      .select(col("code"), col("cnt"),
        (round(col("cnt").cast("double") / col("n").cast("double"), 4) + lit(0.0))
          .as("p"),
        (round(col("h"), 4) + lit(0.0)).as("entropy"),
        (round(col("h") / lit(1.7917595), 4) + lit(0.0)).as("entropy_norm"))
      .orderBy("code")
  }

  /** Sample entropy (m=2, 10%-relative tolerance on the $1M cent-bin
    * lattice) of monthly revenue: template pairs matched with exact
    * integer tolerance |bᵢ−bⱼ| ≤ max(1, (bᵢ+bⱼ) div 20), SampEn =
    * −ln(A/B) over ordered i<j pairs.
    */
  def q_sample_entropy(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val tpl = Mat.once(rev.as("a")
      .join(rev.select(col("m").as("m1"), col("rev").as("rev1")).as("b"),
        col("m1") === col("m") + 1)
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("c"),
        col("m2") === col("m") + 2)
      .select(col("m"),
        expr("CAST(rev div 100000000 AS BIGINT)").as("b0"),
        expr("CAST(rev1 div 100000000 AS BIGINT)").as("b1"),
        expr("CAST(rev2 div 100000000 AS BIGINT)").as("b2")))
    tpl.as("a")
      .join(tpl.select(col("m").as("mj"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2")).as("b"),
        col("mj") > col("m")
          && abs(col("b0") - col("c0"))
            <= greatest(lit(1L), expr("CAST((b0 + c0) div 20 AS BIGINT)"))
          && abs(col("b1") - col("c1"))
            <= greatest(lit(1L), expr("CAST((b1 + c1) div 20 AS BIGINT)")))
      .agg(count(lit(1)).as("b_pairs"),
        sum(when(abs(col("b2") - col("c2"))
          <= greatest(lit(1L), expr("CAST((b2 + c2) div 20 AS BIGINT)")), 1L)
          .otherwise(0L)).as("a_pairs"))
      .select(col("b_pairs"), col("a_pairs"),
        (round(-log(col("a_pairs").cast("double") / col("b_pairs").cast("double")), 4)
          + lit(0.0)).as("sampen"))
  }

  /** Turning-points randomness test on monthly revenue: local extrema
    * from exact triple comparisons, E = 2(n−2)/3, Var = (16n−29)/90,
    * z = (T−E)/√Var — all integer until the single epilogue.
    */
  def q_turning_points(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val tp = rev.as("a")
      .join(rev.select(col("m").as("m1"), col("rev").as("rev1")).as("b"),
        col("m1") === col("m") + 1)
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("c"),
        col("m2") === col("m") + 2)
      .agg(sum(when((col("rev1") > col("rev") && col("rev1") > col("rev2"))
        || (col("rev1") < col("rev") && col("rev1") < col("rev2")), 1L)
        .otherwise(0L)).as("n_turning"))
    rev.agg(count(lit(1)).as("n_months")).crossJoin(tp)
      .select(col("n_months"), col("n_turning"),
        (round((col("n_turning").cast("double")
          - lit(2.0) * (col("n_months").cast("double") - lit(2.0)) / lit(3.0))
          / sqrt((lit(16.0) * col("n_months").cast("double") - lit(29.0))
            / lit(90.0)), 4) + lit(0.0)).as("z"))
  }

  /** Engle's ARCH LM test (lag 1) on the monthly-revenue trend
    * residuals: squared residuals regressed on their own lag,
    * LM = (n−1)·R², χ²₁ under no ARCH effect.
    */
  def q_arch_lm(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val fit = rev.agg(count(lit(1)).as("n"), sum(col("m")).as("st"),
        sum(col("rev")).as("sy"), sum(col("m") * col("rev")).as("sty"),
        sum(col("m") * col("m")).as("stt"))
      .select(col("n"),
        ((col("n").cast("double") * col("sty").cast("double")
          - col("st").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double"))).as("b"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("st").cast("double") / col("n").cast("double")).as("tbar"))
    val u = Mat.once(rev.crossJoin(broadcast(fit))
      .select(col("m"),
        ((col("rev").cast("double") - col("ybar")
          - col("b") * (col("m").cast("double") - col("tbar")))
          * (col("rev").cast("double") - col("ybar")
            - col("b") * (col("m").cast("double") - col("tbar")))).as("u")))
    u.as("a")
      .join(u.select(col("m").as("m2"), col("u").as("ul")).as("b"),
        col("m2") === col("m") - 1)
      .agg(count(lit(1)).as("np"), sum(col("u")).as("su"), sum(col("ul")).as("sl"),
        sum(col("u") * col("ul")).as("sul"), sum(col("u") * col("u")).as("suu"),
        sum(col("ul") * col("ul")).as("sll"))
      .select(col("np").as("n_pairs"),
        ((col("np").cast("double") * col("sul") - col("su") * col("sl"))
          * (col("np").cast("double") * col("sul") - col("su") * col("sl"))
          / ((col("np").cast("double") * col("sll") - col("sl") * col("sl"))
            * (col("np").cast("double") * col("suu") - col("su") * col("su"))))
          .as("r2"))
      .select(col("n_pairs"), (round(col("r2"), 6) + lit(0.0)).as("r2"),
        (round(col("n_pairs").cast("double") * col("r2"), 4) + lit(0.0)).as("lm"),
        when(col("n_pairs").cast("double") * col("r2") > lit(3.841459), 1L)
          .otherwise(0L).as("arch_effect"))
  }

  /** Higuchi-style fractal dimension of monthly revenue: exact absolute
    * curve lengths at lags k ∈ {1,2,4}, normalized per pair-step, and
    * the OLS slope of ln(length) on ln(1/k) (pre-rounded ln2 lattice
    * abscissae) — FD ≈ 1 for smooth trends, → 2 for noise.
    */
  def q_higuchi_fd(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val rev = monthlyRevenue(spark, sf)
    val lags = Seq(1L, 2L, 4L).toDF("k")
    val cl = Mat.once(rev.crossJoin(broadcast(lags)).as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2") === col("m") + col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("np"), sum(abs(col("rev2") - col("rev"))).as("clen"))
      .select(col("k"), col("np"), col("clen"),
        (col("clen").cast("double")
          / (col("np").cast("double") * col("k").cast("double"))).as("nl"))
      .select(col("k"), col("np"), col("clen"),
        when(col("k") === 1L, lit(0.0)).when(col("k") === 2L, lit(-0.6931472))
          .otherwise(lit(-1.3862944)).as("x"),
        log(col("nl")).as("y"), col("nl")))
    val slope = cl.agg(count(lit(1)).as("nk"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(((col("nk").cast("double") * col("sxy") - col("sx") * col("sy"))
        / (col("nk").cast("double") * col("sxx") - col("sx") * col("sx")))
        .as("fd"))
    cl.crossJoin(broadcast(slope))
      .select(col("k"), col("np").as("n_pairs"), col("clen").as("curve_len_cents"),
        (round(col("nl"), 4) + lit(0.0)).as("norm_len"),
        (round(col("fd"), 4) + lit(0.0)).as("fd"))
      .orderBy("k")
  }

  /** Local clustering coefficient distribution on the support-2
    * co-purchase graph (the q_triangle_count edge set): per-node
    * triangle and degree counts, lcc = 2T/(d(d−1)), bucketed on the
    * exact e1-floored lattice (both inputs integers, so the bucket is
    * bit-safe).
    */
  def q_local_clustering(spark: SparkSession, sf: String): DataFrame = {
    val edges = Mat.once(support2Edges(spark, sf))
    val deg = edges.select(col("u").as("p")).union(edges.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
    val triNodes = edges.as("e1")
      .join(edges.as("e2"), col("e1.v") === col("e2.u"))
      .join(edges.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val triCnt = triNodes.select(col("a").as("p"))
      .union(triNodes.select(col("b").as("p")))
      .union(triNodes.select(col("c").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("t"))
    deg.join(triCnt, Seq("p"), "left")
      .select(col("d"), coalesce(col("t"), lit(0L)).as("t"))
      .filter(col("d") >= 2)
      .select(expr("CAST((t * 20) div (d * (d - 1)) AS BIGINT)").as("bucket"),
        col("t"), col("d"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("t")).as("sum_tri"),
        (round(avg(col("d").cast("double")), 4) + lit(0.0)).as("mean_degree"))
      .orderBy("bucket")
  }

  /** Repeat-purchase curve: the share of customers with at least k
    * orders, k = 1..10 — exact counts via an order-count × threshold
    * theta join.
    */
  def q_repeat_purchase_curve(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val pc = Mat.once(Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("k_c"))
      .groupBy(col("k_c")).agg(count(lit(1)).as("nc")))
    val tot = pc.agg(sum(col("nc")).as("n_cust"))
    val ks = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L).toDF("k")
    ks.join(pc, col("k_c") >= col("k"))
      .groupBy(col("k")).agg(sum(col("nc")).as("n_ge_k"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_ge_k"),
        (round(col("n_ge_k").cast("double") / col("n_cust").cast("double"), 4)
          + lit(0.0)).as("share"))
      .orderBy("k")
  }

  /** Taguchi nominal-the-best quality loss of line-item quantity vs
    * target 25 per return flag: L̄ = (μ−T)² + σ² from exact integer
    * power sums, with the bias²/variance decomposition identity held
    * inside one IEEE tree.
    */
  def q_taguchi_loss(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sqq"))
      .select(col("flag"), col("n"),
        ((col("sq").cast("double") / col("n").cast("double") - lit(25.0))
          * (col("sq").cast("double") / col("n").cast("double") - lit(25.0)))
          .as("bias2"),
        (col("sqq").cast("double") / col("n").cast("double")
          - (col("sq").cast("double") / col("n").cast("double"))
            * (col("sq").cast("double") / col("n").cast("double"))).as("v"))
      .select(col("flag"), col("n"),
        (round(col("bias2"), 4) + lit(0.0)).as("bias_sq"),
        (round(col("v"), 4) + lit(0.0)).as("variance"),
        (round(col("bias2") + col("v"), 4) + lit(0.0)).as("taguchi_loss"))
      .orderBy("flag")

  /** Little's law consistency check L = λW on the order→first-ship
    * pipeline: W̄ from exact per-order latencies, λ from the span, and L
    * measured independently as the mean in-flight count over the
    * observed-day grid (orders × days range theta join) — the ratio
    * L/(λW) ≈ 1 up to boundary effects.
    */
  def q_littles_law(spark: SparkSession, sf: String): DataFrame = {
    val ship = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(min(col("l_shipdate")).as("sd"))
    val ord = Mat.once(Tables.orders(spark, sf)
      .join(ship, col("o_orderkey") === col("l_orderkey"))
      .select(datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").as("od"),
        datediff(col("sd"), lit("1992-01-01").cast("date")).cast("long").as("sdd"))
      .filter(col("sdd") >= col("od")))
    val days = Mat.once(ord.select(col("od").as("d")).distinct())
    val base = ord.agg(count(lit(1)).as("n_orders"),
      sum(col("sdd") - col("od")).as("sdur"))
    val span = days.agg(count(lit(1)).as("n_days"))
    val lgrid = ord.join(broadcast(days),
        col("d") >= col("od") && col("d") < col("sdd"))
      .agg(count(lit(1)).as("inflight_daysum"))
    base.crossJoin(span).crossJoin(lgrid)
      .select(col("n_orders"), col("n_days"),
        (round(col("sdur").cast("double") / col("n_orders").cast("double"), 4)
          + lit(0.0)).as("w_days"),
        (round(col("n_orders").cast("double") / col("n_days").cast("double"), 4)
          + lit(0.0)).as("lambda_per_day"),
        (round(col("inflight_daysum").cast("double") / col("n_days").cast("double"), 4)
          + lit(0.0)).as("l_inflight"),
        (round((col("inflight_daysum").cast("double") / col("n_days").cast("double"))
          / ((col("n_orders").cast("double") / col("n_days").cast("double"))
            * (col("sdur").cast("double") / col("n_orders").cast("double"))), 4)
          + lit(0.0)).as("littles_ratio"))
  }

  /** Erlang C staffing table for the purchase-event stream, load-
    * balanced into the minimal number of shards holding each shard's
    * offered load in (·,4] Erlangs (exact integer shard count, so the
    * table is scale-free): for s = 2..8 servers per shard, the waiting
    * probability C(s,a) via the k≤s−1 factorial series (exact factorial
    * literals) and the mean queue wait Wq = C/(s−a); ρ ≥ 1 rows dropped.
    */
  def q_erlang_c(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val rate = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("nev"),
        ((datediff(max(to_date(col("ts_us"))), min(to_date(col("ts_us"))))
          .cast("long") + 1L) * 24L).as("hours"))
      .select((col("nev").cast("double")
        / (col("hours").cast("double")
          * expr("CAST((nev + 4 * hours - 1) div (4 * hours) AS BIGINT)")
            .cast("double"))).as("a"))
    val servers = Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L).toDF("s")
    val facts = Seq((0L, 1.0), (1L, 1.0), (2L, 2.0), (3L, 6.0), (4L, 24.0),
      (5L, 120.0), (6L, 720.0), (7L, 5040.0), (8L, 40320.0)).toDF("k", "kfact")
    val series = servers.crossJoin(broadcast(facts))
      .filter(col("k") < col("s"))
      .crossJoin(broadcast(rate))
      .groupBy(col("s"), col("a"))
      .agg(sum(pow(col("a"), col("k").cast("double")) / col("kfact")).as("ser"))
    val sfact = facts.select(col("k").as("s"), col("kfact").as("sfact"))
    series.join(broadcast(sfact), "s")
      .filter(col("a") < col("s").cast("double"))
      .select(col("s"),
        (round(col("a"), 4) + lit(0.0)).as("offered_load"),
        (pow(col("a"), col("s").cast("double")) / col("sfact")
          / (lit(1.0) - col("a") / col("s").cast("double"))).as("tail"),
        col("ser"))
      .select(col("s"), col("offered_load"),
        (round(col("tail") / (col("ser") + col("tail")), 4) + lit(0.0))
          .as("p_wait"),
        (round((col("tail") / (col("ser") + col("tail")))
          / (col("s").cast("double") - col("offered_load")), 4) + lit(0.0))
          .as("wq_hours"))
      .orderBy("s")
  }

  /** Lorenz asymmetry coefficient of per-customer lifetime revenue:
    * S = F(μ) + L(μ) with the below-mean test done as the exact integer
    * comparison x·n < Σx (no float ever compared) — S > 1 means the
    * inequality is driven by a few large customers.
    */
  def q_lorenz_asymmetry(spark: SparkSession, sf: String): DataFrame = {
    val cust = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
    val tot = cust.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    cust.crossJoin(broadcast(tot))
      .groupBy(col("n"), col("sx"))
      .agg(sum(when(col("x") * col("n") < col("sx"), 1L).otherwise(0L)).as("below"),
        sum(when(col("x") * col("n") < col("sx"), col("x")).otherwise(0L))
          .as("below_mass"))
      .select(col("n").as("n_customers"),
        (round(col("below").cast("double") / col("n").cast("double"), 4) + lit(0.0))
          .as("f_mu"),
        (round(col("below_mass").cast("double") / col("sx").cast("double"), 4)
          + lit(0.0)).as("l_mu"),
        (round(col("below").cast("double") / col("n").cast("double")
          + col("below_mass").cast("double") / col("sx").cast("double"), 4)
          + lit(0.0)).as("lorenz_asymmetry"))
  }

  /** Palma ratio on the $100 cent-bin income lattice of per-customer
    * revenue: top-10% mass over bottom-40% mass with exact
    * largest/smallest-k boundary splitting via cumulative value counts.
    */
  def q_palma_ratio(spark: SparkSession, sf: String): DataFrame = {
    val vals = Mat.once(Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("xc"))
      .select(expr("CAST(xc div 10000 AS BIGINT)").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t")))
    val tot = vals.agg(sum(col("t")).as("n"), sum(col("v") * col("t")).as("mass"))
      .select(col("n"), col("mass"),
        expr("CAST((4 * n + 9) div 10 AS BIGINT)").as("k40"),
        expr("CAST((9 * n + 9) div 10 AS BIGINT)").as("k90"))
    val cum = Mat.once(BandedScan.cumSums(vals.withColumn("vt", col("v") * col("t")),
        Seq.empty, "v", Seq("t" -> "ct", "vt" -> "cmass"))
      .select(col("v"), col("t"), (col("ct") - col("t")).as("cb"),
        (col("cmass") - col("vt")).as("mb"))
      .crossJoin(broadcast(tot)))
    val b40 = cum.filter(col("cb") < col("k40") && col("cb") + col("t") >= col("k40"))
      .select(col("v").as("v40"),
        (col("mb") + (col("k40") - col("cb")) * col("v")).as("bottom40_mass"))
    val b90 = cum.filter(col("cb") < col("k90") && col("cb") + col("t") >= col("k90"))
      .select(col("v").as("v90"),
        (col("mb") + (col("k90") - col("cb")) * col("v")).as("below90_mass"))
    tot.crossJoin(broadcast(b40)).crossJoin(broadcast(b90))
      .select(col("n").as("n_customers"), col("v40"), col("v90"),
        col("bottom40_mass"), (col("mass") - col("below90_mass")).as("top10_mass"),
        (round((col("mass") - col("below90_mass")).cast("double")
          / col("bottom40_mass").cast("double"), 4) + lit(0.0)).as("palma_ratio"))
  }

  /** Rich-club coefficient of the support-2 co-purchase graph at degree
    * thresholds k ∈ {2,4,8}: φ(k) = 2E_k/(N_k(N_k−1)) over the subgraph
    * of nodes with degree > k — exact integer counts.
    */
  def q_rich_club(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val edges = Mat.once(support2Edges(spark, sf))
    val deg = edges.select(col("u").as("p")).union(edges.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
    val ks = Seq(2L, 4L, 8L).toDF("k")
    val nk = ks.join(deg, col("d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val ek = ks.crossJoin(edges)
      .join(deg.select(col("p").as("pu"), col("d").as("du")), col("u") === col("pu"))
      .join(deg.select(col("p").as("pv"), col("d").as("dv")), col("v") === col("pv"))
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .filter(col("n_nodes") >= 2)
      .select(col("k"), col("n_nodes"), col("n_edges"),
        (round(lit(2.0) * col("n_edges").cast("double")
          / (col("n_nodes").cast("double")
            * (col("n_nodes").cast("double") - lit(1.0))), 4) + lit(0.0))
          .as("phi"))
      .orderBy("k")
  }

  /** Discrete power-law fit of the co-purchase degree distribution:
    * MLE α = 1 + n/(Σln d − n·ln d_min) over nodes with degree ≥ 2
    * (d_min = 2, pre-rounded ln2 literal).
    */
  def q_degree_powerlaw(spark: SparkSession, sf: String): DataFrame = {
    val edges = support2Edges(spark, sf)
    edges.select(col("u").as("p")).union(edges.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2L)
      .agg(count(lit(1)).as("n_nodes"), sum(log(col("d").cast("double"))).as("sld"),
        sum(col("d")).as("sd"))
      .select(col("n_nodes"),
        (round(col("sd").cast("double") / col("n_nodes").cast("double"), 4)
          + lit(0.0)).as("mean_degree"),
        (round(lit(1.0) + col("n_nodes").cast("double")
          / (col("sld") - col("n_nodes").cast("double") * lit(0.6931472)), 4)
          + lit(0.0)).as("alpha"))
  }

  /** Welch unequal-variance t-test of order totals, URGENT vs LOW
    * priority: unbiased variances from exact cent sums, Satterthwaite
    * df, |t| against 1.959964.
    */
  def q_welch_ttest(spark: SparkSession, sf: String): DataFrame = {
    def grp(p: String, pfx: String): DataFrame =
      Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === p)
        .select(cents(col("o_totalprice")).as("x"))
        .agg(count(lit(1)).as(s"${pfx}n"), sum(col("x")).as(s"${pfx}s"),
          sum(col("x").cast("double") * col("x").cast("double")).as(s"${pfx}ss"))
    grp("1-URGENT", "a").crossJoin(grp("5-LOW", "b"))
      .select(col("an"), col("bn"),
        ((col("as").cast("double") / col("an").cast("double")
          - col("bs").cast("double") / col("bn").cast("double"))).as("dmean"),
        (((col("ass") - (col("as").cast("double") * col("as").cast("double"))
          / col("an").cast("double")) / (col("an").cast("double") - lit(1.0)))
          / col("an").cast("double")).as("va"),
        (((col("bss") - (col("bs").cast("double") * col("bs").cast("double"))
          / col("bn").cast("double")) / (col("bn").cast("double") - lit(1.0)))
          / col("bn").cast("double")).as("vb"))
      .select(col("an").as("n_urgent"), col("bn").as("n_low"),
        (round(col("dmean") / sqrt(col("va") + col("vb")), 4) + lit(0.0)).as("t"),
        (round((col("va") + col("vb")) * (col("va") + col("vb"))
          / (col("va") * col("va") / (col("an").cast("double") - lit(1.0))
            + col("vb") * col("vb") / (col("bn").cast("double") - lit(1.0))), 2)
          + lit(0.0)).as("df"),
        when(abs(col("dmean") / sqrt(col("va") + col("vb"))) > lit(1.959964), 1L)
          .otherwise(0L).as("reject_equal_means"))
  }

  /** Poisson dispersion (variance-to-mean) check of daily order counts
    * per year: VMR from exact sums, D = (n−1)·VMR ~ χ²_{n−1}, flagged
    * overdispersed when VMR > 1 + 2√(2/(n−1)).
    */
  def q_poisson_dispersion(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
          .cast("long").as("d"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .select(col("y").as("yr"), col("n"),
        (((col("scc").cast("double")
          - (col("sc").cast("double") * col("sc").cast("double"))
            / col("n").cast("double")) / (col("n").cast("double") - lit(1.0)))
          / (col("sc").cast("double") / col("n").cast("double"))).as("vmr"))
      .select(col("yr"), col("n").as("n_days"),
        (round(col("vmr"), 4) + lit(0.0)).as("vmr"),
        (round((col("n_days").cast("double") - lit(1.0)) * col("vmr"), 4) + lit(0.0))
          .as("d_stat"),
        when(col("vmr") > lit(1.0)
          + lit(2.0) * sqrt(lit(2.0) / (col("n_days").cast("double") - lit(1.0))),
          1L).otherwise(0L).as("overdispersed"))
      .orderBy("yr")

  /** Kupiec proportion-of-failures VaR backtest: the prior year's 5%
    * historical VaR applied out-of-sample to each next year's daily
    * revenue changes, LR = −2[(n−x)ln0.95 + x·ln0.05 − (n−x)ln(1−x/n)
    * − x·ln(x/n)] with pre-rounded ln literals, χ²₁ gate.
    */
  def q_kupiec_pof(spark: SparkSession, sf: String): DataFrame = {
    val rev = Tables.orders(spark, sf)
      .groupBy(datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").as("d"), year(col("o_orderdate")).cast("long").as("y"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    val chg = Mat.once(rev.as("a")
      .join(rev.select(col("d").as("d2"), col("y").as("y2"),
        col("rev").as("rev2")).as("b"),
        col("d2") === col("d") + 1)
      .select(col("y2").as("y"), (col("rev2") - col("rev")).as("diff")))
    val vals = chg.groupBy(col("y"), col("diff")).agg(count(lit(1)).as("cnt"))
    val stats = chg.groupBy(col("y")).agg(count(lit(1)).as("n"))
      .select(col("y"), col("n"), expr("CAST((n + 19) div 20 AS BIGINT)").as("k"))
    val varq = vals.as("a")
      .join(vals.select(col("y").as("y2"), col("diff").as("diff2"),
        col("cnt").as("cnt2")).as("b"),
        col("y2") === col("a.y") && col("diff2") <= col("a.diff"))
      .groupBy(col("a.y").as("y"), col("a.diff").as("diff"))
      .agg(sum(col("cnt2")).as("cum"))
      .join(broadcast(stats), "y")
      .filter(col("cum") >= col("k"))
      .groupBy(col("y")).agg(min(col("diff")).as("var95"))
    val bt = chg.join(broadcast(varq.select((col("y") + 1L).as("y"),
        col("var95"))), "y")
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("diff") <= col("var95"), 1L).otherwise(0L)).as("x"))
      .filter(col("x") > 0L && col("x") < col("n"))
    bt.select(col("y").as("yr"), col("n"), col("x"),
        (lit(-2.0) * ((col("n") - col("x")).cast("double") * lit(-0.0512933)
          + col("x").cast("double") * lit(-2.9957323)
          - (col("n") - col("x")).cast("double")
            * log(lit(1.0) - col("x").cast("double") / col("n").cast("double"))
          - col("x").cast("double")
            * log(col("x").cast("double") / col("n").cast("double")))).as("lr"))
      .select(col("yr"), col("n"), col("x"),
        (round(col("lr"), 4) + lit(0.0)).as("lr_pof"),
        when(col("lr") > lit(3.841459), 1L).otherwise(0L).as("reject_var_model"))
      .orderBy("yr")
  }

  /** G-test (likelihood-ratio χ²) of independence between return flag
    * and bulk quantity (> 25): G = 2ΣO·ln(O/E) over the 3×2 table with
    * margin-derived expectations — exact counts, one ln epilogue per
    * cell.
    */
  def q_g_test(spark: SparkSession, sf: String): DataFrame = {
    val cells = Mat.once(Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("r"),
        (col("l_quantity") > 25).cast("long").as("b"))
      .agg(count(lit(1)).as("o")))
    val rm = cells.groupBy(col("r")).agg(sum(col("o")).as("ro"))
    val cm = cells.groupBy(col("b")).agg(sum(col("o")).as("co"))
    val nn = cells.agg(sum(col("o")).as("nn"))
    val g = cells.join(broadcast(rm), "r").join(broadcast(cm), "b")
      .crossJoin(broadcast(nn))
      .agg(sum(col("o").cast("double")
        * log(col("o").cast("double")
          / (col("ro").cast("double") * col("co").cast("double")
            / col("nn").cast("double")))).as("hsum"))
      .select((lit(2.0) * col("hsum")).as("g_stat"))
    nn.crossJoin(broadcast(g))
      .select(col("nn").as("n_items"),
        (round(col("g_stat"), 4) + lit(0.0)).as("g_stat"),
        when(col("g_stat") > lit(5.991465), 1L).otherwise(0L)
          .as("reject_independent"))
  }

  /** Cohen's h effect size between the return rates of deep-discount
    * (≥ 0.06) and regular line items: h = 2asin√p₁ − 2asin√p₂ from
    * exact counts (asin/sqrt correctly rounded on both engines).
    */
  def q_cohen_h(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select((col("l_discount") >= 0.06).as("expo"),
        (col("l_returnflag") === "R").as("ret"))
      .agg(sum(when(col("expo") && col("ret"), 1L).otherwise(0L)).as("a"),
        sum(when(col("expo"), 1L).otherwise(0L)).as("ne"),
        sum(when(!col("expo") && col("ret"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("expo"), 1L).otherwise(0L)).as("nr"))
      .select(col("ne").as("n_deep"), col("nr").as("n_rest"),
        (col("a").cast("double") / col("ne").cast("double")).as("p1"),
        (col("c").cast("double") / col("nr").cast("double")).as("p2"))
      .select(col("n_deep"), col("n_rest"),
        (round(col("p1"), 4) + lit(0.0)).as("p1"),
        (round(col("p2"), 4) + lit(0.0)).as("p2"),
        (round(lit(2.0) * asin(sqrt(col("p1"))) - lit(2.0) * asin(sqrt(col("p2"))), 4)
          + lit(0.0)).as("cohen_h"))

  /** Cliff's delta and Vargha–Delaney A between URGENT and LOW order
    * totals on the $100 cent-bin lattice: dominance pair counts from a
    * cell-level cross join — exact integer products throughout.
    */
  def q_cliff_delta(spark: SparkSession, sf: String): DataFrame = {
    val gv = Mat.once(Tables.orders(spark, sf)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .groupBy(col("o_orderpriority").as("g"),
        expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
          .as("v"))
      .agg(count(lit(1)).as("cnt")))
    gv.filter(col("g") === "1-URGENT").select(col("v").as("v1"), col("cnt").as("c1"))
      .crossJoin(gv.filter(col("g") === "5-LOW")
        .select(col("v").as("v2"), col("cnt").as("c2")))
      .agg(sum(col("c1") * col("c2")).as("nm"),
        sum(when(col("v1") > col("v2"), col("c1") * col("c2")).otherwise(0L))
          .as("gt"),
        sum(when(col("v1") < col("v2"), col("c1") * col("c2")).otherwise(0L))
          .as("lt"),
        sum(when(col("v1") === col("v2"), col("c1") * col("c2")).otherwise(0L))
          .as("eq"))
      .select(col("nm").as("n_pairs"),
        (round((col("gt") - col("lt")).cast("double") / col("nm").cast("double"), 4)
          + lit(0.0)).as("cliff_delta"),
        (round((lit(2L) * col("gt") + col("eq")).cast("double")
          / (lit(2L) * col("nm")).cast("double"), 4) + lit(0.0)).as("vd_a"))
  }

  /** ANOVA effect sizes of order totals across the five priorities:
    * η² = SSB/SST and the less-biased ω² = (SSB − (k−1)MSW)/(SST + MSW)
    * — every sum of squares from exact cent sums accumulated as doubles.
    */
  def q_eta_squared(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x").cast("double") * col("x").cast("double")).as("ss"))
    g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"), sum(col("s")).as("st"),
        sum(col("ss")).as("sst"),
        sum((col("s").cast("double") * col("s").cast("double"))
          / col("n").cast("double")).as("sb"))
      .select(col("k"), col("nn"),
        (col("sb") - (col("st").cast("double") * col("st").cast("double"))
          / col("nn").cast("double")).as("ssb"),
        (col("sst") - (col("st").cast("double") * col("st").cast("double"))
          / col("nn").cast("double")).as("sstot"),
        (col("sst") - col("sb")).as("ssw"))
      .select(col("k"), col("nn").as("n_orders"),
        (round(col("ssb") / col("sstot"), 6) + lit(0.0)).as("eta_sq"),
        (round((col("ssb")
          - (col("k").cast("double") - lit(1.0))
            * (col("ssw") / (col("nn").cast("double") - col("k").cast("double"))))
          / (col("sstot")
            + col("ssw") / (col("nn").cast("double") - col("k").cast("double"))), 6)
          + lit(0.0)).as("omega_sq"))
  }

  /** Page's L trend test for ordered alternatives (priorities 1..5 by
    * their leading digit) blocked by month: L = Σj·R_j on the exact
    * Friedman competition ranks, z = (L − nk(k+1)²/4)/√(nk²(k+1)(k²−1)/144).
    */
  def q_page_trend(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.orders(spark, sf)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"), col("o_orderpriority").as("g"))
      .agg(sum(cents(col("o_totalprice"))).as("s"), count(lit(1)).as("c")))
    val full = cell.groupBy(col("m")).agg(count(lit(1)).as("k"))
      .filter(col("k") === 5).select(col("m"))
    val blocks = cell.join(broadcast(full), "m")
    val ranked = blocks.as("a")
      .join(blocks.select(col("m").as("m2"), col("g").as("g2"),
        col("s").as("s2"), col("c").as("c2")).as("b"),
        col("m2") === col("a.m") && col("g2") =!= col("a.g"))
      .groupBy(col("a.m").as("m"), col("a.g").as("g"))
      .agg((lit(1L) + sum(when(col("s2") * col("a.c") > col("a.s") * col("c2"), 1L)
        .otherwise(0L))).as("rank"))
    val rj = ranked.groupBy(col("g"))
      .agg(sum(col("rank")).as("r_sum"), count(lit(1)).as("n_blocks"))
      .select(expr("CAST(substring(g, 1, 1) AS BIGINT)").as("j"), col("r_sum"),
        col("n_blocks"))
    rj.agg(max(col("n_blocks")).as("n"), sum(col("j") * col("r_sum")).as("l_stat"))
      .select(col("n").as("n_blocks"), col("l_stat"),
        (round((col("l_stat").cast("double")
          - col("n").cast("double") * lit(45.0))
          / sqrt(col("n").cast("double") * lit(25.0)), 4) + lit(0.0))
          .as("z"))
  }

  /** Merkle-style partition content digest (incremental-sync change
    * detection: re-process only partitions whose digest moved — the
    * check count/key audits can't do, since a value edit keeps both):
    * per event-day, an ORDER-INDEPENDENT content digest = Σ row-hash
    * carried in decimal (exact at any row count) mod 2⁶¹−1; then a
    * month-level digest-of-digests over the day digests in day order.
    * Row hash covers every column through the shared md5 primitive, so
    * both engines agree bit-for-bit. One scan, one day-keyed aggregate,
    * one month-keyed rollup.
    */
  def q_partition_digest(spark: SparkSession, sf: String): DataFrame = {
    val rows = Tables.eventsWithTs(spark, sf)
      .select(date_format(col("ts_us"), "yyyy-MM-dd").as("day"),
        graft.core.Det.hash32(concat_ws("|",
          col("event_id"), col("ts_usl"), col("user_id"),
          col("event_type"), cents(col("value")), col("props"))).as("h"))
    val daily = rows.groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("h").cast("decimal(38,0)")) % lit(2305843009213693951L))
          .cast("long").as("digest"))
    val monthly = daily
      .groupBy(substring(col("day"), 1, 7).as("month"))
      .agg(md5(concat_ws(",",
        transform(
          array_sort(collect_list(struct(col("day"), col("digest")))),
          e => concat(e.getField("day"), lit(":"), e.getField("digest"))))
        .cast("binary")).as("month_digest"))
    daily.withColumn("month", substring(col("day"), 1, 7))
      .join(broadcast(monthly), "month")
      .select(col("day"), col("n_rows"), col("digest"), col("month_digest"))
      .orderBy("day")
  }

  /** Jonckheere–Terpstra ordered-alternative test across priorities
    * 1..5 on the $100 cent-bin lattice: J* = Σ_{j₁<j₂}(#(x₁<x₂) +
    * ½#(x₁=x₂)) from exact cell products, no-tie moments for z.
    *
    * Shape: for each target group j₂, the mass of all LOWER groups is
    * merged into one per-j₂ lattice and prefix-summed with the keyed
    * [[BandedScan]]; each j₂ cell then contributes qcnt·(strict prefix)
    * to J — replacing the old lattice×lattice theta join (~10⁸ pair
    * evaluations at sf0.1, quadratic in the price domain) with one
    * bounded 4× expand + a banded cumulative scan.
    */
  def q_jonckheere(spark: SparkSession, sf: String): DataFrame = {
    val gv = Mat.once(Tables.orders(spark, sf)
      .groupBy(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("j"),
        expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
          .as("v"))
      .agg(count(lit(1)).as("cnt")))
    val targets = gv.sparkSession.range(2, 6).select(col("id").as("j2"))
    val lower = gv.crossJoin(broadcast(targets)).filter(col("j") < col("j2"))
      .groupBy(col("j2"), col("v")).agg(sum(col("cnt")).as("dcnt"))
    val query = gv.filter(col("j") >= 2)
      .select(col("j").as("j2"), col("v"), col("cnt").as("qcnt"))
    val lat = Mat.once(lower.join(query, Seq("j2", "v"), "full_outer")
      .select(col("j2"), col("v"),
        coalesce(col("dcnt"), lit(0L)).as("dcnt"),
        coalesce(col("qcnt"), lit(0L)).as("qcnt")))
    val pairs = BandedScan.cumSums(lat, Seq("j2"), "v", Seq("dcnt" -> "ci"))
      .agg(sum(col("qcnt") * (col("ci") - col("dcnt"))).as("jgt"),
        sum(col("qcnt") * col("dcnt")).as("jeq"))
    val sizes = gv.groupBy(col("j")).agg(sum(col("cnt")).as("ng"))
      .agg(sum(col("ng")).as("nn"), sum(col("ng") * col("ng")).as("sn2"),
        sum(col("ng") * col("ng")
          * (lit(2L) * col("ng") + lit(3L))).as("sn23"))
    pairs.crossJoin(broadcast(sizes))
      .select(col("nn").as("n_orders"),
        ((lit(2L) * col("jgt") + col("jeq")).cast("double") / lit(2.0)).as("jstar"),
        ((col("nn") * col("nn") - col("sn2")).cast("double") / lit(4.0)).as("ej"),
        (((col("nn") * col("nn")).cast("double")
          * (lit(2.0) * col("nn").cast("double") + lit(3.0))
          - col("sn23").cast("double")) / lit(72.0)).as("vj"))
      .select(col("n_orders"),
        (round(col("jstar"), 1) + lit(0.0)).as("j_stat"),
        (round((col("jstar") - col("ej")) / sqrt(col("vj")), 4) + lit(0.0)).as("z"))
  }

  /** Deming (errors-in-variables, λ=1) regression of the BUILDING on
    * the AUTOMOBILE segment's monthly revenue: β = (s_yy − s_xx +
    * √((s_yy−s_xx)² + 4s_xy²))/(2s_xy) from exact-sum central moments.
    */
  def q_deming_regression(spark: SparkSession, sf: String): DataFrame = {
    def seg(name: String, out: String): DataFrame =
      Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
        .agg(sum(cents(col("o_totalprice"))).as(out))
    seg("BUILDING", "ya").join(seg("AUTOMOBILE", "yb"), "m")
      .agg(count(lit(1)).as("n"), sum(col("ya")).as("sa"), sum(col("yb")).as("sb"),
        sum(col("ya").cast("double") * col("ya").cast("double")).as("saa"),
        sum(col("yb").cast("double") * col("yb").cast("double")).as("sbb"),
        sum(col("ya").cast("double") * col("yb").cast("double")).as("sab"))
      .select(col("n"),
        (col("saa") / col("n").cast("double")
          - (col("sa").cast("double") / col("n").cast("double"))
            * (col("sa").cast("double") / col("n").cast("double"))).as("syy"),
        (col("sbb") / col("n").cast("double")
          - (col("sb").cast("double") / col("n").cast("double"))
            * (col("sb").cast("double") / col("n").cast("double"))).as("sxx"),
        (col("sab") / col("n").cast("double")
          - (col("sa").cast("double") / col("n").cast("double"))
            * (col("sb").cast("double") / col("n").cast("double"))).as("sxy"),
        (col("sa").cast("double") / col("n").cast("double")).as("ybar"),
        (col("sb").cast("double") / col("n").cast("double")).as("xbar"))
      .select(col("n").as("n_months"),
        (round((col("syy") - col("sxx")
          + sqrt((col("syy") - col("sxx")) * (col("syy") - col("sxx"))
            + lit(4.0) * col("sxy") * col("sxy"))) / (lit(2.0) * col("sxy")), 4)
          + lit(0.0)).as("deming_beta"),
        (round((col("ybar")
          - ((col("syy") - col("sxx")
            + sqrt((col("syy") - col("sxx")) * (col("syy") - col("sxx"))
              + lit(4.0) * col("sxy") * col("sxy"))) / (lit(2.0) * col("sxy")))
            * col("xbar")) / lit(100.0), 2) + lit(0.0)).as("alpha_dollars"))
  }

  /** Lin's concordance correlation between the two segments' monthly
    * revenue: ρc = 2s_xy/(s_xx + s_yy + (x̄−ȳ)²), with the Pearson r and
    * the bias-correction factor ρc/r.
    */
  def q_lin_ccc(spark: SparkSession, sf: String): DataFrame = {
    def seg(name: String, out: String): DataFrame =
      Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
        .agg(sum(cents(col("o_totalprice"))).as(out))
    seg("BUILDING", "ya").join(seg("AUTOMOBILE", "yb"), "m")
      .agg(count(lit(1)).as("n"), sum(col("ya")).as("sa"), sum(col("yb")).as("sb"),
        sum(col("ya").cast("double") * col("ya").cast("double")).as("saa"),
        sum(col("yb").cast("double") * col("yb").cast("double")).as("sbb"),
        sum(col("ya").cast("double") * col("yb").cast("double")).as("sab"))
      .select(col("n"),
        (col("saa") / col("n").cast("double")
          - (col("sa").cast("double") / col("n").cast("double"))
            * (col("sa").cast("double") / col("n").cast("double"))).as("syy"),
        (col("sbb") / col("n").cast("double")
          - (col("sb").cast("double") / col("n").cast("double"))
            * (col("sb").cast("double") / col("n").cast("double"))).as("sxx"),
        (col("sab") / col("n").cast("double")
          - (col("sa").cast("double") / col("n").cast("double"))
            * (col("sb").cast("double") / col("n").cast("double"))).as("sxy"),
        ((col("sa").cast("double") / col("n").cast("double"))
          - (col("sb").cast("double") / col("n").cast("double"))).as("dbar"))
      .select(col("n").as("n_months"),
        (round(col("sxy") / sqrt(col("sxx") * col("syy")), 4) + lit(0.0))
          .as("pearson_r"),
        (round(lit(2.0) * col("sxy")
          / (col("sxx") + col("syy") + col("dbar") * col("dbar")), 4) + lit(0.0))
          .as("lin_ccc"),
        (round((lit(2.0) * col("sxy")
          / (col("sxx") + col("syy") + col("dbar") * col("dbar")))
          / (col("sxy") / sqrt(col("sxx") * col("syy"))), 4) + lit(0.0))
          .as("bias_correction"))
  }

  /** Bland–Altman agreement between the two segments' monthly revenue:
    * exact cent differences, 1.959964σ limits of agreement (dollars)
    * and the count of months outside them.
    */
  def q_bland_altman(spark: SparkSession, sf: String): DataFrame = {
    def seg(name: String, out: String): DataFrame =
      Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
        .agg(sum(cents(col("o_totalprice"))).as(out))
    val d = Mat.once(seg("BUILDING", "ya").join(seg("AUTOMOBILE", "yb"), "m")
      .select(col("m"), (col("ya") - col("yb")).as("d")))
    val st = d.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d").cast("double") * col("d").cast("double")).as("sdd"))
      .select(col("n"),
        (col("sd").cast("double") / col("n").cast("double")).as("mu"),
        sqrt(col("sdd") / col("n").cast("double")
          - (col("sd").cast("double") / col("n").cast("double"))
            * (col("sd").cast("double") / col("n").cast("double"))).as("sig"))
    d.crossJoin(broadcast(st))
      .groupBy(col("n"), col("mu"), col("sig"))
      .agg(sum(when(col("d").cast("double") < col("mu") - lit(1.959964) * col("sig")
        || col("d").cast("double") > col("mu") + lit(1.959964) * col("sig"), 1L)
        .otherwise(0L)).as("n_outside"))
      .select(col("n").as("n_months"),
        (round(col("mu") / lit(100.0), 2) + lit(0.0)).as("mean_diff_dollars"),
        (round((col("mu") - lit(1.959964) * col("sig")) / lit(100.0), 2) + lit(0.0))
          .as("loa_lo_dollars"),
        (round((col("mu") + lit(1.959964) * col("sig")) / lit(100.0), 2) + lit(0.0))
          .as("loa_hi_dollars"),
        col("n_outside"))
  }

  /** Deterministic RANSAC trend fit on monthly revenue: every month
    * pair proposes a line, inliers are counted with the cross-
    * multiplied EXACT integer test |(y−y₁)Δm − Δy(m−m₁)| ≤ tol·Δm
    * (tol = mean monthly revenue div 10), the consensus winner is the
    * (inliers desc, m₁, m₂) argmax — no float enters the vote.
    */
  def q_ransac_trend(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val tol = rev.agg(sum(col("rev")).as("s"), count(lit(1)).as("n"))
      .select(expr("CAST(s div (10 * n) AS BIGINT)").as("tol"))
    val cand = rev.as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2") > col("m"))
      .select(col("m").as("m1"), col("rev").as("y1"), col("m2"), col("rev2").as("y2"))
    val votes = Mat.once(cand.crossJoin(broadcast(tol)).as("c")
      .join(rev.select(col("m").as("mm"), col("rev").as("yy")).as("p"),
        abs((col("yy") - col("y1")) * (col("m2") - col("m1"))
          - (col("y2") - col("y1")) * (col("mm") - col("m1")))
          <= col("tol") * (col("m2") - col("m1")))
      .groupBy(col("m1"), col("m2"), col("y1"), col("y2"))
      .agg(count(lit(1)).as("inliers")))
    val best = votes.agg(max(col("inliers")).as("best"))
    val win = votes.crossJoin(broadcast(best))
      .filter(col("inliers") === col("best"))
      .groupBy(col("best")).agg(min(struct(col("m1"), col("m2"), col("y1"),
        col("y2"), col("inliers"))).as("w"))
      .select(col("w.m1").as("m1"), col("w.m2").as("m2"),
        col("w.y1").as("y1"), col("w.y2").as("y2"),
        col("w.inliers").as("n_inliers"))
    win.crossJoin(broadcast(rev.agg(count(lit(1)).as("n_months"))))
      .select(col("m1"), col("m2"), col("n_inliers"), col("n_months"),
        (round((col("y2") - col("y1")).cast("double")
          / ((col("m2") - col("m1")).cast("double") * lit(100.0)), 2) + lit(0.0))
          .as("slope_dollars_per_month"),
        (round(col("n_inliers").cast("double") / col("n_months").cast("double"), 4)
          + lit(0.0)).as("inlier_share"))
  }

  /** Truncated Katz centrality (walks of length ≤ 3, α = ½) on the
    * support-2 co-purchase graph: score·8 = 4·d(u) + 2·Σ_{v∈N(u)}d(v) +
    * Σ_{v∈N(u)}Σ_{w∈N(v)}d(w) — an exact integer, so the top-10 ranking
    * never compares floats.
    */
  def q_katz_centrality(spark: SparkSession, sf: String): DataFrame = {
    val und = support2Edges(spark, sf)
    val dir = Mat.once(und.select(col("u"), col("v"))
      .union(und.select(col("v").as("u"), col("u").as("v"))))
    val deg = dir.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val s2 = dir.join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .groupBy(col("u")).agg(sum(col("dv")).as("s2"))
    val s3 = dir.join(s2.select(col("u").as("v"), col("s2").as("s2v")), "v")
      .groupBy(col("u")).agg(sum(col("s2v")).as("s3"))
    deg.join(s2, "u").join(s3, "u")
      .select(col("u").as("part"), col("d").as("degree"),
        (lit(4L) * col("d") + lit(2L) * col("s2") + col("s3")).as("score8"))
      .select(col("part"), col("degree"), col("score8"),
        (round(col("score8").cast("double") / lit(8.0), 4) + lit(0.0)).as("katz"))
      .orderBy(col("score8").desc, col("part").asc)
      .limit(10)
  }

  /** Sharp regression discontinuity of the return rate at the $30 000
    * extended-price cutoff (bandwidth $10 000): local linear fits on
    * each side via exact-sum closed forms, the jump is the difference
    * of the boundary intercepts.
    */
  def q_regression_discontinuity(spark: SparkSession, sf: String): DataFrame = {
    val w = Tables.lineitem(spark, sf)
      .filter(col("l_extendedprice") >= 20000.0 && col("l_extendedprice") <= 40000.0)
      .select((col("l_extendedprice") - lit(30000.0)).as("x"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"),
        (col("l_extendedprice") >= 30000.0).as("right"))
    def side(pfx: String, cond: Column): Seq[Column] = Seq(
      sum(when(cond, 1.0).otherwise(0.0)).as(s"${pfx}n"),
      sum(when(cond, col("x")).otherwise(0.0)).as(s"${pfx}sx"),
      sum(when(cond, col("x") * col("x")).otherwise(0.0)).as(s"${pfx}sxx"),
      sum(when(cond, col("y")).otherwise(0.0)).as(s"${pfx}sy"),
      sum(when(cond, col("x") * col("y")).otherwise(0.0)).as(s"${pfx}sxy"))
    val aggs = side("l", !col("right")) ++ side("r", col("right"))
    def ab(pfx: String): (Column, Column) = {
      val b = (col(s"${pfx}n") * col(s"${pfx}sxy")
        - col(s"${pfx}sx") * col(s"${pfx}sy"))
        ./(col(s"${pfx}n") * col(s"${pfx}sxx")
          - col(s"${pfx}sx") * col(s"${pfx}sx"))
      val a = (col(s"${pfx}sy") / col(s"${pfx}n"))
        .minus(b * (col(s"${pfx}sx") / col(s"${pfx}n")))
      (a, b)
    }
    val df0 = w.agg(aggs.head, aggs.tail: _*)
    val (al, bl) = ab("l")
    val (ar, br) = ab("r")
    df0.select(col("ln").cast("long").as("n_left"),
        col("rn").cast("long").as("n_right"),
        (round(ar - al, 4) + lit(0.0)).as("rd_jump"),
        (round(bl * lit(10000.0), 6) + lit(0.0)).as("slope_left_per_10k"),
        (round(br * lit(10000.0), 6) + lit(0.0)).as("slope_right_per_10k"))
  }

  /** Two-group log-rank test on user lifetimes (even vs odd user_id,
    * churn = inactive after 2024-01-23): risk sets per group from
    * bounded theta joins on the lifetime lattice, χ² = (O₁−E₁)²/V with
    * the hypergeometric variance — exact integers until the epilogue.
    */
  def q_logrank_test(spark: SparkSession, sf: String): DataFrame = {
    val obs = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts_us"))).as("d0"), max(to_date(col("ts_us"))).as("d1"))
      .select((col("user_id") % 2).cast("long").as("g"),
        datediff(col("d1"), col("d0")).cast("long").as("t"),
        when(col("d1") <= lit("2024-01-23").cast("date"), 1L).otherwise(0L)
          .as("churned"))
    val byT = Mat.once(obs.groupBy(col("t"))
      .agg(count(lit(1)).as("n_at"),
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_at1"),
        sum(col("churned")).as("d"),
        sum(when(col("g") === 0, col("churned")).otherwise(0L)).as("d1")))
    val risk = byT.as("a")
      .join(byT.select(col("t").as("t2"), col("n_at").as("na2"),
        col("n_at1").as("na12")).as("b"), col("t2") >= col("a.t"))
      .groupBy(col("a.t").as("t"), col("a.d").as("d"), col("a.d1").as("dd1"))
      .agg(sum(col("na2")).as("nr"), sum(col("na12")).as("nr1"))
      .filter(col("d") > 0 && col("nr") > 1)
    risk.agg(sum(col("dd1")).as("o1"),
        sum(col("d").cast("double") * col("nr1").cast("double")
          / col("nr").cast("double")).as("e1"),
        sum(col("d").cast("double")
          * (col("nr1").cast("double") / col("nr").cast("double"))
          * (lit(1.0) - col("nr1").cast("double") / col("nr").cast("double"))
          * (col("nr") - col("d")).cast("double")
          / (col("nr").cast("double") - lit(1.0))).as("v"))
      .select(col("o1").as("observed_g0"),
        (round(col("e1"), 4) + lit(0.0)).as("expected_g0"),
        (round((col("o1").cast("double") - col("e1"))
          * (col("o1").cast("double") - col("e1")) / col("v"), 4) + lit(0.0))
          .as("chi2"),
        when((col("o1").cast("double") - col("e1"))
          * (col("o1").cast("double") - col("e1")) / col("v") > lit(3.841459), 1L)
          .otherwise(0L).as("curves_differ"))
  }

  /** Nelson–Aalen cumulative hazard on the pooled user lifetimes:
    * H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ via the same bounded risk-set theta joins as
    * the KM query, with the variance estimate Σ dᵢ/nᵢ².
    */
  def q_nelson_aalen(spark: SparkSession, sf: String): DataFrame = {
    val obs = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts_us"))).as("d0"), max(to_date(col("ts_us"))).as("d1"))
      .select(datediff(col("d1"), col("d0")).cast("long").as("t"),
        when(col("d1") <= lit("2024-01-23").cast("date"), 1L).otherwise(0L)
          .as("churned"))
    val byT = obs.groupBy(col("t"))
      .agg(count(lit(1)).as("n_at"), sum(col("churned")).as("d"))
    val risk = Mat.once(byT.as("a")
      .join(byT.select(col("t").as("t2"), col("n_at").as("na2")).as("b"),
        col("t2") >= col("a.t"))
      .groupBy(col("a.t").as("t"), col("a.n_at").as("n_at"), col("a.d").as("d"))
      .agg(sum(col("na2")).as("nr")))
    risk.as("a")
      .join(risk.select(col("t").as("t2"), col("d").as("d2"),
        col("nr").as("nr2")).as("b"), col("t2") <= col("a.t"))
      .groupBy(col("a.t").as("t"), col("a.nr").as("n_risk"), col("a.d").as("d"))
      .agg(sum(col("d2").cast("double") / col("nr2").cast("double")).as("h"),
        sum(col("d2").cast("double")
          / (col("nr2").cast("double") * col("nr2").cast("double"))).as("vh"))
      .select(col("t"), col("n_risk"), col("d").as("n_churned"),
        (round(col("h"), 4) + lit(0.0)).as("na_cumhaz"),
        (round(sqrt(col("vh")), 4) + lit(0.0)).as("na_se"))
      .orderBy("t")
  }

  /** Yuen 20%-trimmed-mean test, URGENT vs LOW order totals on the
    * $100 cent-bin lattice: trimmed/winsorized sums built exactly from
    * value-level cumulative counts (per-bin clipped contributions),
    * t = (x̄ₜ₁−x̄ₜ₂)/√(d₁+d₂) with dᵢ = s²wᵢ(nᵢ−1)/(hᵢ(hᵢ−1)).
    */
  def q_yuen_ttest(spark: SparkSession, sf: String): DataFrame = {
    val gv = Mat.once(Tables.orders(spark, sf)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .groupBy(col("o_orderpriority").as("g"),
        expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
          .as("v"))
      .agg(count(lit(1)).as("cnt")))
    val stats = gv.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .select(col("g"), col("n"), expr("CAST(n div 5 AS BIGINT)").as("tr"))
    val cum = Mat.once(BandedScan.cumSums(gv, Seq("g"), "v", Seq("cnt" -> "ci"))
      .withColumn("cb", col("ci") - col("cnt")).drop("ci")
      .join(broadcast(stats), "g"))
    // per-bin kept mass inside ranks (tr, n-tr]: clip the bin's rank span
    val kept = cum.select(col("g"), col("v"), col("n"), col("tr"),
        (least(col("cb") + col("cnt"), col("n") - col("tr"))
          - greatest(col("cb"), col("tr"))).as("keep"))
      .select(col("g"), col("v"), col("n"), col("tr"),
        greatest(col("keep"), lit(0L)).as("keep"))
    val bounds = cum.groupBy(col("g"), col("n"), col("tr"))
      .agg(min(when(col("cb") + col("cnt") >= col("tr") + 1L, col("v"))).as("vlo"),
        min(when(col("cb") + col("cnt") >= col("n") - col("tr"), col("v"))).as("vhi"))
    val core = kept.groupBy(col("g"))
      .agg(sum(col("keep") * col("v")).as("tsum"),
        sum(col("keep") * col("v") * col("v")).as("tss"),
        sum(col("keep")).as("h"))
    val agg = Mat.once(core.join(bounds, "g")
      .select(col("g"), col("n"), col("tr"), col("h"),
        (col("tsum").cast("double") / col("h").cast("double")).as("tmean"),
        ((col("tss") + col("tr") * col("vlo") * col("vlo")
          + col("tr") * col("vhi") * col("vhi")).cast("double")
          / col("n").cast("double")
          - ((col("tsum") + col("tr") * col("vlo") + col("tr") * col("vhi"))
            .cast("double") / col("n").cast("double"))
            * ((col("tsum") + col("tr") * col("vlo") + col("tr") * col("vhi"))
              .cast("double") / col("n").cast("double"))).as("wvar"))
      .select(col("g"), col("n"), col("h"), col("tmean"),
        (col("wvar") * col("n").cast("double") / (col("n").cast("double") - lit(1.0))
          * (col("n").cast("double") - lit(1.0))
          / (col("h").cast("double") * (col("h").cast("double") - lit(1.0))))
          .as("dterm")))
    val a = agg.filter(col("g") === "1-URGENT")
      .select(col("n").as("n1"), col("h").as("h1"), col("tmean").as("tm1"),
        col("dterm").as("d1"))
    val b = agg.filter(col("g") === "5-LOW")
      .select(col("n").as("n2"), col("h").as("h2"), col("tmean").as("tm2"),
        col("dterm").as("d2"))
    a.crossJoin(b)
      .select(col("h1"), col("h2"),
        (round((col("tm1") - col("tm2")) / lit(100.0), 2) + lit(0.0))
          .as("trimmed_diff_dollars"),
        (round((col("tm1") - col("tm2")) / sqrt(col("d1") + col("d2")), 4)
          + lit(0.0)).as("yuen_t"),
        when(abs((col("tm1") - col("tm2")) / sqrt(col("d1") + col("d2")))
          > lit(1.959964), 1L).otherwise(0L).as("reject_equal_trimmed"))
  }

  /** ABC×XYZ inventory matrix: parts classed A/B/C by lifetime revenue
    * against the exact 80th/95th-percentile revenue bins ($100 lattice)
    * and X/Y/Z by the coefficient of variation of monthly demand —
    * every boundary evaluated on exact-derived values.
    */
  def q_abc_xyz_matrix(spark: SparkSession, sf: String): DataFrame = {
    val li = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_partkey").as("p"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .cast("long").as("m"),
        cents(col("l_extendedprice")).as("rev"),
        col("l_quantity").cast("long").as("q")))
    val part = li.groupBy(col("p"))
      .agg(expr("CAST(SUM(rev) div 10000 AS BIGINT)").as("rv"))
    val pm = li.groupBy(col("p"), col("m")).agg(sum(col("q")).as("qm"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("nm"), sum(col("qm")).as("sq"),
        sum(col("qm") * col("qm")).as("sqq"))
      .select(col("p"),
        (sqrt(col("sqq").cast("double") / col("nm").cast("double")
          - (col("sq").cast("double") / col("nm").cast("double"))
            * (col("sq").cast("double") / col("nm").cast("double")))
          / (col("sq").cast("double") / col("nm").cast("double"))).as("cv"))
    val vals = Mat.once(part.groupBy(col("rv")).agg(count(lit(1)).as("t")))
    val tot = vals.agg(sum(col("t")).as("n"))
      .select(col("n"), expr("CAST((4 * n + 4) div 5 AS BIGINT)").as("k80"),
        expr("CAST((19 * n + 19) div 20 AS BIGINT)").as("k95"))
    // cumulative counts over the rv lattice via BandedScan (round 8) —
    // the former rv2 <= rv theta self-join was O(V²) in distinct revenue
    // values and planned BNLJ; same cum values, same cuts
    val cuts = BandedScan.cumSums(vals, Seq.empty, "rv", Seq("t" -> "cum"))
      .crossJoin(broadcast(tot))
      .agg(min(when(col("cum") >= col("k80"), col("rv"))).as("c80"),
        min(when(col("cum") >= col("k95"), col("rv"))).as("c95"))
    part.join(pm, "p").crossJoin(broadcast(cuts))
      .select(
        when(col("rv") > col("c95"), "A")
          .when(col("rv") > col("c80"), "B").otherwise("C").as("abc"),
        when(col("cv") < 0.5, "X").when(col("cv") < 1.0, "Y").otherwise("Z")
          .as("xyz"),
        col("rv"))
      .groupBy(col("abc"), col("xyz"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rv")).as("rev_bins"))
      .orderBy("abc", "xyz")
  }

  private def copurchaseDir(spark: SparkSession, sf: String): DataFrame = {
    val und = support2Edges(spark, sf)
    und.select(col("u"), col("v"))
      .union(und.select(col("v").as("u"), col("u").as("v")))
  }

  /** Harmonic centrality truncated at 3 hops for the top-100-degree
    * seed nodes of the co-purchase graph (seed-bounded so the closure
    * never goes quadratic in the node count): h·6 = 6·|d1| + 3·|d2| +
    * 2·|d3| — an exact integer ranking.
    */
  def q_harmonic_centrality(spark: SparkSession, sf: String): DataFrame = {
    val dir = Mat.once(copurchaseDir(spark, sf))
    val deg = dir.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val seeds = deg.orderBy(col("d").desc, col("u").asc).limit(100)
      .select(col("u").as("s0"))
    val d1 = Mat.once(seeds.join(dir, col("s0") === col("u"))
      .select(col("s0"), col("v").as("w")))
    val r2 = d1.join(dir, col("w") === col("u"))
      .select(col("s0"), col("v").as("w")).distinct()
      .filter(col("w") =!= col("s0"))
    val d2 = Mat.once(r2.join(d1.select(col("s0"), col("w"), lit(1).as("hit")),
        Seq("s0", "w"), "left_anti"))
    val r3 = d2.join(dir, col("w") === col("u"))
      .select(col("s0"), col("v").as("w")).distinct()
      .filter(col("w") =!= col("s0"))
    val d3 = r3.join(d1, Seq("s0", "w"), "left_anti")
      .join(d2, Seq("s0", "w"), "left_anti")
    val c1 = d1.groupBy(col("s0")).agg(count(lit(1)).as("n1"))
    val c2 = d2.groupBy(col("s0")).agg(count(lit(1)).as("n2"))
    val c3 = d3.groupBy(col("s0")).agg(count(lit(1)).as("n3"))
    c1.join(c2, Seq("s0"), "left").join(c3, Seq("s0"), "left")
      .select(col("s0").as("part"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("n3"), lit(0L)).as("n3"))
      .select(col("part"), col("n1"), col("n2"), col("n3"),
        (lit(6L) * col("n1") + lit(3L) * col("n2") + lit(2L) * col("n3"))
          .as("h6"))
      .select(col("part"), col("n1"), col("n2"), col("n3"), col("h6"),
        (round(col("h6").cast("double") / lit(6.0), 4) + lit(0.0)).as("harmonic"))
      .orderBy(col("h6").desc, col("part").asc)
      .limit(10)
  }

  /** Burt's network constraint for the top-100-degree seeds of the
    * co-purchase graph: C_i = Σ_j (p_ij + Σ_q p_iq p_qj)² with
    * p = 1/degree — ranked on the e6-rounded score so the top-10 is
    * stable across engines.
    */
  def q_burt_constraint(spark: SparkSession, sf: String): DataFrame = {
    val dir = Mat.once(copurchaseDir(spark, sf))
    val deg = dir.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val seeds = deg.orderBy(col("d").desc, col("u").asc).limit(100)
      .select(col("u").as("i"), col("d").as("di"))
    val sedges = Mat.once(seeds.join(dir, col("i") === col("u"))
      .select(col("i"), col("di"), col("v").as("j")))
    val ind = sedges.as("e")
      .join(dir.select(col("u").as("i2"), col("v").as("q")).as("p1"),
        col("i2") === col("e.i"))
      .join(dir.select(col("u").as("q2"), col("v").as("j2")).as("p2"),
        col("q2") === col("q") && col("j2") === col("e.j"))
      .join(deg.select(col("u").as("qd"), col("d").as("dq")), col("qd") === col("q"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(lit(1.0) / col("e.di").cast("double")
        / col("dq").cast("double")).as("indirect"))
    sedges.join(ind, Seq("i", "j"), "left")
      .select(col("i"), col("di"),
        ((lit(1.0) / col("di").cast("double") + coalesce(col("indirect"), lit(0.0)))
          * (lit(1.0) / col("di").cast("double")
            + coalesce(col("indirect"), lit(0.0)))).as("cij"))
      .groupBy(col("i"), col("di"))
      .agg(sum(col("cij")).as("c"))
      .select(col("i").as("part"), col("di").as("degree"),
        (round(col("c"), 6) + lit(0.0)).as("constraint"))
      .orderBy(col("constraint").desc, col("part").asc)
      .limit(10)
  }

  private def brandMonthly(spark: SparkSession, sf: String, brand: String,
      q: String, p: String): DataFrame =
    Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === brand)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(sum(col("l_quantity").cast("long")).as(q),
        sum(cents(col("l_extendedprice"))).as(p + "_rev"),
        count(lit(1)).as(p + "_n"))

  /** Cross-price elasticity: ln(quantity of Brand#4) regressed on
    * ln(mean item price of Brand#2) across months — negative β means
    * substitution; own-series correlation reported alongside. All lns
    * applied to exact-derived ratios, identical IEEE trees.
    */
  def q_cross_elasticity(spark: SparkSession, sf: String): DataFrame = {
    val a = brandMonthly(spark, sf, "Brand#4", "qa", "pa")
      .select(col("m"), col("qa"))
    val b = brandMonthly(spark, sf, "Brand#2", "qb", "pb")
      .select(col("m"),
        (col("pb_rev").cast("double") / col("pb_n").cast("double")).as("priceb"))
    a.join(b, "m")
      .select(log(col("qa").cast("double")).as("ly"),
        log(col("priceb")).as("lx"))
      .agg(count(lit(1)).as("n"), sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("ly")).as("sxy"), sum(col("lx") * col("lx")).as("sxx"),
        sum(col("ly") * col("ly")).as("syy"))
      .select(col("n").as("n_months"),
        (round((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (col("n").cast("double") * col("sxx") - col("sx") * col("sx")), 4)
          + lit(0.0)).as("cross_elasticity"),
        (round((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n").cast("double") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n").cast("double") * col("syy") - col("sy") * col("sy"))), 4)
          + lit(0.0)).as("ln_corr"))
  }

  /** Safety stock and reorder point per return flag from weekly demand
    * variability: ss = z·σ_week·√LT with z = 1.6448536 (95% service)
    * and a 2-week literal lead time — σ from exact integer sums.
    */
  def q_safety_stock(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("flag"),
        expr("CAST(datediff(l_shipdate, DATE '1992-01-01') div 7 AS BIGINT)")
          .as("wk"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_weeks"), sum(col("q")).as("sq"),
        sum(col("q").cast("double") * col("q").cast("double")).as("sqq"))
      .select(col("flag"), col("n_weeks"),
        (col("sq").cast("double") / col("n_weeks").cast("double")).as("mu"),
        sqrt(col("sqq") / col("n_weeks").cast("double")
          - (col("sq").cast("double") / col("n_weeks").cast("double"))
            * (col("sq").cast("double") / col("n_weeks").cast("double"))).as("sig"))
      .select(col("flag"), col("n_weeks"),
        (round(col("mu"), 2) + lit(0.0)).as("mean_weekly_qty"),
        (round(col("sig"), 4) + lit(0.0)).as("sd_weekly_qty"),
        (round(lit(1.6448536) * col("sig") * sqrt(lit(2.0)), 2) + lit(0.0))
          .as("safety_stock"),
        (round(col("mu") * lit(2.0)
          + lit(1.6448536) * col("sig") * sqrt(lit(2.0)), 2) + lit(0.0))
          .as("reorder_point"))
      .orderBy("flag")

  private def sesPred(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    rev.as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2").between(col("m") - 12, col("m") - 1))
      .groupBy(col("a.m").as("m"), col("a.rev").as("actual"))
      .agg(count(lit(1)).as("k"),
        sum(col("rev2").cast("double")
          * pow(lit(0.5), (col("a.m") - col("m2")).cast("double"))).as("yhat"))
      .filter(col("k") === 12)
  }

  /** Theil's U2: the SES (α=½, 12-month kernel) forecast's RMSE
    * relative to the naive last-month forecast over the same months —
    * U2 < 1 means the model beats naive.
    */
  def q_theil_u2(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    sesPred(spark, sf)
      .join(rev.select((col("m") + 1L).as("m"), col("rev").as("naive")), "m")
      .agg(count(lit(1)).as("n"),
        sum((col("yhat") - col("actual").cast("double"))
          * (col("yhat") - col("actual").cast("double"))).as("ssm"),
        sum((col("naive") - col("actual")).cast("double")
          * (col("naive") - col("actual")).cast("double")).as("ssn"))
      .select(col("n").as("n_forecasts"),
        (round(sqrt(col("ssm") / col("ssn")), 4) + lit(0.0)).as("theil_u2"),
        when(col("ssm") < col("ssn"), 1L).otherwise(0L).as("beats_naive"))
  }

  /** Diebold–Mariano comparison of the SES and naive forecasts on
    * squared-error loss: d_t = e²_ses − e²_naive, DM = d̄/√(s²_d/n).
    */
  def q_diebold_mariano(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    sesPred(spark, sf)
      .join(rev.select((col("m") + 1L).as("m"), col("rev").as("naive")), "m")
      .select(((col("yhat") - col("actual").cast("double"))
        * (col("yhat") - col("actual").cast("double"))
        - (col("naive") - col("actual")).cast("double")
          * (col("naive") - col("actual")).cast("double")).as("d"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sdd"))
      .select(col("n").as("n_forecasts"),
        (round((col("sd") / col("n").cast("double"))
          / sqrt((col("sdd") / col("n").cast("double")
            - (col("sd") / col("n").cast("double"))
              * (col("sd") / col("n").cast("double"))) / col("n").cast("double")), 4)
          + lit(0.0)).as("dm_stat"),
        when(col("sd") < 0.0, 1L).otherwise(0L).as("ses_better"))
  }

  /** Mincer–Zarnowitz forecast-rationality regression actual = a +
    * b·forecast for the SES forecasts: intercept (dollars), slope, and
    * the t-statistic of b against 1 from the closed-form OLS variance.
    */
  def q_mincer_zarnowitz(spark: SparkSession, sf: String): DataFrame =
    sesPred(spark, sf)
      .select(col("actual").cast("double").as("y"), col("yhat").as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n"),
        ((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (col("n").cast("double") * col("sxx") - col("sx") * col("sx"))).as("b"),
        (col("sxx") - col("sx") * col("sx") / col("n").cast("double")).as("cxx"),
        (col("syy") - col("sy") * col("sy") / col("n").cast("double")).as("cyy"),
        (col("sxy") - col("sx") * col("sy") / col("n").cast("double")).as("cxy"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("sx").cast("double") / col("n").cast("double")).as("xbar"))
      .select(col("n").as("n_forecasts"),
        (round((col("ybar") - col("b") * col("xbar")) / lit(100.0), 2) + lit(0.0))
          .as("alpha_dollars"),
        (round(col("b"), 4) + lit(0.0)).as("beta"),
        (round((col("b") - lit(1.0))
          / sqrt(((col("cyy") - col("b") * col("cxy"))
            / (col("n").cast("double") - lit(2.0))) / col("cxx")), 4) + lit(0.0))
          .as("t_beta_vs_1"))

  /** Directional accuracy of the SES forecast: share of months where
    * the predicted month-over-month change has the correct sign, with
    * the binomial z against the 50% coin flip — the sign comparison is
    * exact (forecast deltas are exact dyadic doubles).
    */
  def q_directional_accuracy(spark: SparkSession, sf: String): DataFrame = {
    val p = Mat.once(sesPred(spark, sf))
    p.as("a")
      .join(p.select(col("m").as("m2"), col("actual").as("prev"),
        col("yhat").as("yh2")).as("b"), col("m2") === col("m") - 1)
      .select((signum(col("yhat") - col("prev").cast("double"))
        === signum((col("actual") - col("prev")).cast("double"))).as("hit"))
      .agg(count(lit(1)).as("n"), sum(when(col("hit"), 1L).otherwise(0L)).as("hits"))
      .select(col("n"), col("hits"),
        (round(col("hits").cast("double") / col("n").cast("double"), 4) + lit(0.0))
          .as("hit_rate"),
        (round((col("hits").cast("double")
          - col("n").cast("double") / lit(2.0))
          / sqrt(col("n").cast("double") / lit(4.0)), 4) + lit(0.0)).as("z"))
  }

  /** XmR (individuals / moving-range) control chart on daily revenue:
    * limits x̄ ± 2.66·m̄R from exact cent sums, out-of-limit day count —
    * the violation test compares exact integers to identically-derived
    * doubles on both engines.
    */
  def q_xmr_chart(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(dailyRevenue(spark, sf))
    val mr = rev.as("a")
      .join(rev.select(col("d").as("d2"), col("rev").as("rev2")).as("b"),
        col("d2") === col("d") + 1)
      .agg(count(lit(1)).as("nmr"), sum(abs(col("rev2") - col("rev"))).as("smr"))
    val st = rev.agg(count(lit(1)).as("n"), sum(col("rev")).as("s"))
    val lim = st.crossJoin(mr)
      .select(col("n"), col("nmr"),
        (col("s").cast("double") / col("n").cast("double")).as("xbar"),
        (col("smr").cast("double") / col("nmr").cast("double")).as("mrbar"))
      .select(col("n"), col("nmr"), col("xbar"), col("mrbar"),
        (col("xbar") + lit(2.66) * col("mrbar")).as("ucl"),
        (col("xbar") - lit(2.66) * col("mrbar")).as("lcl"))
    rev.crossJoin(broadcast(lim))
      .groupBy(col("n"), col("xbar"), col("mrbar"), col("ucl"), col("lcl"))
      .agg(sum(when(col("rev").cast("double") > col("ucl")
        || col("rev").cast("double") < col("lcl"), 1L).otherwise(0L))
        .as("n_violations"))
      .select(col("n").as("n_days"),
        (round(col("xbar") / lit(100.0), 2) + lit(0.0)).as("mean_dollars"),
        (round(col("mrbar") / lit(100.0), 2) + lit(0.0)).as("mrbar_dollars"),
        (round(col("ucl") / lit(100.0), 2) + lit(0.0)).as("ucl_dollars"),
        (round(col("lcl") / lit(100.0), 2) + lit(0.0)).as("lcl_dollars"),
        col("n_violations"))
  }

  /** p-chart of the weekly return proportion: pooled p̄, per-week
    * 3σ limits p̄ ± 3√(p̄(1−p̄)/n_w), counts of weeks above/below —
    * all comparisons on identically-derived doubles.
    */
  def q_p_chart(spark: SparkSession, sf: String): DataFrame = {
    val wk = Mat.once(Tables.lineitem(spark, sf)
      .groupBy(expr("CAST(datediff(l_shipdate, DATE '1992-01-01') div 7 AS BIGINT)")
        .as("wk"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r")))
    val pool = wk.agg(sum(col("n")).as("tn"), sum(col("r")).as("tr"))
      .select((col("tr").cast("double") / col("tn").cast("double")).as("pbar"))
    wk.crossJoin(broadcast(pool))
      .select(col("pbar"),
        (col("r").cast("double") / col("n").cast("double")).as("p"),
        (col("pbar") + lit(3.0) * sqrt(col("pbar") * (lit(1.0) - col("pbar"))
          / col("n").cast("double"))).as("ucl"),
        (col("pbar") - lit(3.0) * sqrt(col("pbar") * (lit(1.0) - col("pbar"))
          / col("n").cast("double"))).as("lcl"))
      .groupBy(col("pbar"))
      .agg(count(lit(1)).as("n_weeks"),
        sum(when(col("p") > col("ucl"), 1L).otherwise(0L)).as("n_above"),
        sum(when(col("p") < col("lcl"), 1L).otherwise(0L)).as("n_below"))
      .select(col("n_weeks"), (round(col("pbar"), 4) + lit(0.0)).as("pbar"),
        col("n_above"), col("n_below"))
  }

  /** Brand-assortment overlap between the BUILDING and AUTOMOBILE
    * segments: Jaccard of the purchased-brand sets — exact set
    * cardinalities from distinct joins.
    */
  def q_brand_overlap(spark: SparkSession, sf: String): DataFrame = {
    def brands(seg: String): DataFrame =
      Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === seg)
        .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("b")).distinct()
    val a = Mat.once(brands("BUILDING"))
    val b = Mat.once(brands("AUTOMOBILE"))
    val na = a.agg(count(lit(1)).as("n_building"))
    val nb = b.agg(count(lit(1)).as("n_automobile"))
    val ni = a.join(b, "b").agg(count(lit(1)).as("n_inter"))
    na.crossJoin(nb).crossJoin(ni)
      .select(col("n_building"), col("n_automobile"), col("n_inter"),
        (col("n_building") + col("n_automobile") - col("n_inter")).as("n_union"),
        (round(col("n_inter").cast("double")
          / (col("n_building") + col("n_automobile") - col("n_inter"))
            .cast("double"), 4) + lit(0.0)).as("jaccard"))
  }

  /** Share-of-wallet distribution: per customer the top brand's share
    * of lifetime spend (exact integer ratio, bit-safe decile bucket),
    * with per-bucket customer counts and mean share.
    */
  def q_share_of_wallet(spark: SparkSession, sf: String): DataFrame = {
    val cb = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("c"), col("p_brand").as("b"))
      .agg(sum(cents(col("l_extendedprice"))).as("s"))
    cb.groupBy(col("c"))
      .agg(max(col("s")).as("top"), sum(col("s")).as("tot"),
        count(lit(1)).as("n_brands"))
      .select(expr("CAST((top * 10) div tot AS BIGINT)").as("bucket"),
        col("top"), col("tot"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_customers"),
        (round(avg(col("top").cast("double") / col("tot").cast("double")), 4)
          + lit(0.0)).as("mean_share"))
      .orderBy("bucket")
  }

  private def interGaps(spark: SparkSession, sf: String): DataFrame = {
    val od = Tables.orders(spark, sf)
      .select(col("o_custkey").as("c"), col("o_orderdate").as("dt")).distinct()
    od.as("a")
      .join(od.select(col("c").as("c2"), col("dt").as("dt2")).as("b"),
        col("c2") === col("c") && col("dt2") > col("dt"))
      .groupBy(col("c"), col("dt"))
      .agg(min(col("dt2")).as("nxt"))
      .select(col("c"), datediff(col("nxt"), col("dt")).cast("long").as("t"))
      .filter(col("t") >= 1L)
  }

  /** Weibull fit of customer inter-purchase times via the Gumbel
    * log-moment method: k̂ = (π/√6)/sd(ln t) and
    * λ̂ = exp(mean(ln t) + γ/k̂) (pre-rounded π/√6 and Euler-γ
    * literals) — the closed form that needs no iteration.
    */
  def q_weibull_fit(spark: SparkSession, sf: String): DataFrame =
    interGaps(spark, sf)
      .select(log(col("t").cast("double")).as("lt"))
      .agg(count(lit(1)).as("n"), sum(col("lt")).as("sl"),
        sum(col("lt") * col("lt")).as("sll"))
      .select(col("n"),
        (col("sl") / col("n").cast("double")).as("ml"),
        sqrt(col("sll") / col("n").cast("double")
          - (col("sl") / col("n").cast("double"))
            * (col("sl") / col("n").cast("double"))).as("sdl"))
      .select(col("n").as("n_gaps"),
        (round(lit(1.2825498) / col("sdl"), 4) + lit(0.0)).as("shape_k"),
        (round(exp(col("ml") + lit(0.5772157) / (lit(1.2825498) / col("sdl"))), 2)
          + lit(0.0)).as("scale_days"),
        (round(exp(col("ml")), 2) + lit(0.0)).as("geo_mean_days"))

  /** Lognormal fit of order totals: μ/σ of ln(dollars), the exact
    * median exp(μ) and mean exp(μ+σ²/2) back-transforms.
    */
  def q_lognormal_fit(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select(log(cents(col("o_totalprice")).cast("double") / lit(100.0)).as("lx"))
      .agg(count(lit(1)).as("n"), sum(col("lx")).as("sl"),
        sum(col("lx") * col("lx")).as("sll"))
      .select(col("n"),
        (col("sl") / col("n").cast("double")).as("mu"),
        sqrt(col("sll") / col("n").cast("double")
          - (col("sl") / col("n").cast("double"))
            * (col("sl") / col("n").cast("double"))).as("sig"))
      .select(col("n").as("n_orders"),
        (round(col("mu"), 4) + lit(0.0)).as("mu_ln"),
        (round(col("sig"), 4) + lit(0.0)).as("sigma_ln"),
        (round(exp(col("mu")), 2) + lit(0.0)).as("median_dollars"),
        (round(exp(col("mu") + col("sig") * col("sig") / lit(2.0)), 2) + lit(0.0))
          .as("mean_dollars"))

  /** Entropy rate of the per-user event-type Markov chain: the plug-in
    * conditional entropy H = −Σ (c_ij/N)·ln(c_ij/rowtot_i) over the
    * exact transition counts (same keyed-window pairing as
    * q_markov_transitions).
    */
  def q_markov_entropy_rate(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
    val cells = Mat.once(Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("ts_usl"), col("event_id"), col("event_type"))
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("c")))
    val row = cells.groupBy(col("src")).agg(sum(col("c")).as("rt"))
    val tot = cells.agg(sum(col("c")).as("nn"))
    cells.join(broadcast(row), "src").crossJoin(broadcast(tot))
      .agg(max(col("nn")).as("n_transitions"),
        sum(-(col("c").cast("double") / col("nn").cast("double"))
          * log(col("c").cast("double") / col("rt").cast("double"))).as("h"))
      .select(col("n_transitions"),
        (round(col("h"), 4) + lit(0.0)).as("entropy_rate_nats"),
        (round(col("h") / lit(0.6931472), 4) + lit(0.0)).as("entropy_rate_bits"))
  }

  /** Pollaczek–Khinchine M/G/1 waiting time in service units at three
    * utilization literals: Wq/E[S] = ρ(1+CV²)/(2(1−ρ)) with the CV² of
    * the per-order item count as the service-time shape — scale-free by
    * construction.
    */
  def q_mg1_queue(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val cv2 = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
        sum(col("k") * col("k")).as("skk"))
      .select(col("n"),
        ((col("skk").cast("double") / col("n").cast("double")
          - (col("sk").cast("double") / col("n").cast("double"))
            * (col("sk").cast("double") / col("n").cast("double")))
          / ((col("sk").cast("double") / col("n").cast("double"))
            * (col("sk").cast("double") / col("n").cast("double")))).as("cv2"))
    val rhos = Seq(0.5, 0.8, 0.9).toDF("rho")
    cv2.crossJoin(broadcast(rhos))
      .select(col("rho"), col("n").as("n_orders"),
        (round(col("cv2"), 4) + lit(0.0)).as("service_cv2"),
        (round(col("rho") * (lit(1.0) + col("cv2"))
          / (lit(2.0) * (lit(1.0) - col("rho"))), 4) + lit(0.0))
          .as("wq_over_service"))
      .orderBy("rho")
  }

  /** h-index of parts by order-appearance counts: h = max over the
    * count support of min(v, #parts with count ≥ v) — exact integers
    * via a value-level suffix-count theta join.
    */
  def q_h_index(spark: SparkSession, sf: String): DataFrame = {
    val pc = Tables.lineitem(spark, sf)
      .select(col("l_partkey").as("p"), col("l_orderkey").as("ok")).distinct()
      .groupBy(col("p")).agg(count(lit(1)).as("c"))
    val vals = Mat.once(pc.groupBy(col("c")).agg(count(lit(1)).as("t")))
    vals.as("a")
      .join(vals.select(col("c").as("c2"), col("t").as("t2")).as("b"),
        col("c2") >= col("a.c"))
      .groupBy(col("a.c").as("v")).agg(sum(col("t2")).as("nge"))
      .select(least(col("v"), col("nge")).as("cand"))
      .agg(max(col("cand")).as("h_index"))
      .crossJoin(pc.agg(count(lit(1)).as("n_parts"),
        max(col("c")).as("max_count")))
      .select(col("n_parts"), col("max_count"), col("h_index"))
  }

  /** Purchase clumpiness (Zhang's Hc on normalized inter-purchase
    * gaps): per customer with ≥ 2 gaps, C = 1 + Σx·ln x / ln(n) —
    * reported as the mean per order-count tier (no per-row float
    * bucketing, so the grouping is exact).
    */
  def q_clumpiness(spark: SparkSession, sf: String): DataFrame = {
    val gaps = Mat.once(interGaps(spark, sf))
    val cust = gaps.groupBy(col("c"))
      .agg(count(lit(1)).as("ng"), sum(col("t")).as("st"))
      .filter(col("ng") >= 2)
    gaps.join(broadcast(cust), "c")
      .select(col("c"), col("ng"),
        (col("t").cast("double") / col("st").cast("double")).as("x"))
      .groupBy(col("c"), col("ng"))
      .agg(sum(col("x") * log(col("x"))).as("sxlx"))
      .select(col("ng"),
        (lit(1.0) + col("sxlx") / log(col("ng").cast("double"))).as("cl"))
      .groupBy(col("ng").as("n_gaps"))
      .agg(count(lit(1)).as("n_customers"),
        (round(avg(col("cl")), 4) + lit(0.0)).as("mean_clumpiness"))
      .orderBy("n_gaps")
  }

  private def dailyLossExceed(spark: SparkSession, sf: String): DataFrame = {
    val rev = dailyRevenue(spark, sf)
    val chg = Mat.once(rev.as("a")
      .join(rev.select(col("d").as("d2"), col("rev").as("rev2")).as("b"),
        col("d2") === col("d") + 1)
      .select(col("d2").as("d"), (col("rev2") - col("rev")).as("diff")))
    val vals = chg.groupBy(col("diff")).agg(count(lit(1)).as("cnt"))
    val tot = chg.agg(count(lit(1)).as("n"))
      .select(col("n"), expr("CAST((n + 19) div 20 AS BIGINT)").as("k"))
    val u = vals.as("a")
      .join(vals.select(col("diff").as("diff2"), col("cnt").as("cnt2")).as("b"),
        col("diff2") <= col("a.diff"))
      .groupBy(col("a.diff").as("diff")).agg(sum(col("cnt2")).as("cum"))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= col("k"))
      .agg(min(col("diff")).as("u"))
    chg.crossJoin(broadcast(u))
      .select(col("d"), col("u"), (col("u") - col("diff")).as("y"))
      .filter(col("y") > 0L)
  }

  /** Generalized-Pareto peaks-over-threshold fit of daily revenue
    * losses beyond the 5% historical VaR: method-of-moments
    * ξ = ½(1 − m²/s²), β = ½m(m²/s² + 1) from exact cent exceedances.
    */
  def q_gpd_pot(spark: SparkSession, sf: String): DataFrame =
    dailyLossExceed(spark, sf)
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y").cast("double") * col("y").cast("double")).as("syy"))
      .select(col("u").as("threshold_cents"), col("n").as("n_exceed"),
        (col("sy").cast("double") / col("n").cast("double")).as("m"),
        (col("syy") / col("n").cast("double")
          - (col("sy").cast("double") / col("n").cast("double"))
            * (col("sy").cast("double") / col("n").cast("double"))).as("s2"))
      .select(col("threshold_cents"), col("n_exceed"),
        (round(lit(0.5) * (lit(1.0) - col("m") * col("m") / col("s2")), 4)
          + lit(0.0)).as("xi"),
        (round(lit(0.5) * col("m") * (col("m") * col("m") / col("s2") + lit(1.0))
          / lit(100.0), 2) + lit(0.0)).as("beta_dollars"))

  /** Extremal index (runs estimator, run length 2) of the VaR-exceeding
    * loss days: θ = cluster starts / exceedances, where a start has no
    * exceedance on the prior two days — exact day-lattice logic.
    */
  def q_extremal_index(spark: SparkSession, sf: String): DataFrame = {
    val ex = Mat.once(dailyLossExceed(spark, sf).select(col("d")))
    val starts = ex.as("a")
      .join(ex.select(col("d").as("d2")).as("b"),
        col("d2") === col("d") - 1 || col("d2") === col("d") - 2, "left")
      .groupBy(col("a.d").as("d"))
      .agg(count(col("d2")).as("nprev"))
      .filter(col("nprev") === 0L)
    ex.agg(count(lit(1)).as("n_exceed"))
      .crossJoin(starts.agg(count(lit(1)).as("n_clusters")))
      .select(col("n_exceed"), col("n_clusters"),
        (round(col("n_clusters").cast("double") / col("n_exceed").cast("double"), 4)
          + lit(0.0)).as("extremal_index"))
  }

  /** Records test on monthly revenue: the count of running record highs
    * vs the i.i.d. expectation H_n (exact harmonic sums over the month
    * index), z = (R − H_n)/√(H_n − H_n²ᵗᵉʳᵐ).
    */
  def q_records_test(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val recs = rev.as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2") < col("m"), "left")
      .groupBy(col("a.m").as("m"), col("a.rev").as("rv"))
      .agg(coalesce(max(col("rev2")), lit(-1L)).as("prior_max"))
      .agg(sum(when(col("rv") > col("prior_max"), 1L).otherwise(0L)).as("n_records"))
    val minm = rev.agg(min(col("m")).as("m0"))
    val harm = rev.crossJoin(broadcast(minm))
      .select((col("m") - col("m0") + 1L).cast("double").as("i"))
      .agg(count(lit(1)).as("n"), sum(lit(1.0) / col("i")).as("h1"),
        sum(lit(1.0) / (col("i") * col("i"))).as("h2"))
    harm.crossJoin(recs)
      .select(col("n").as("n_months"), col("n_records"),
        (round(col("h1"), 4) + lit(0.0)).as("expected_records"),
        (round((col("n_records").cast("double") - col("h1"))
          / sqrt(col("h1") - col("h2")), 4) + lit(0.0)).as("z"))
  }

  /** Circular statistics of the order day-of-week (epoch-day mod 7,
    * pre-rounded cos/sin literals for the 7 angles): resultant length
    * R̄, circular variance 1−R̄, and the Rayleigh uniformity z = nR̄².
    */
  def q_circular_stats(spark: SparkSession, sf: String): DataFrame = {
    val cosw = Seq(1.0, 0.6234898, -0.2225209, -0.9009689, -0.9009689,
      -0.2225209, 0.6234898)
    val sinw = Seq(0.0, 0.7818315, 0.9749279, 0.4338837, -0.4338837,
      -0.9749279, -0.7818315)
    def lut(ws: Seq[Double]): Column =
      (1 until 7).foldLeft(when(col("dow") === 0L, lit(ws(0)))) { (acc, k) =>
        acc.when(col("dow") === k.toLong, lit(ws(k)))
      }.otherwise(lit(0.0))
    Tables.orders(spark, sf)
      .select((datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long") % 7).as("dow"))
      .groupBy(col("dow")).agg(count(lit(1)).as("nk"))
      .select(col("nk"), lut(cosw).as("cw"), lut(sinw).as("sw"))
      .agg(sum(col("nk")).as("n"),
        sum(col("nk").cast("double") * col("cw")).as("cc"),
        sum(col("nk").cast("double") * col("sw")).as("ss"))
      .select(col("n").as("n_orders"),
        (sqrt(col("cc") * col("cc") + col("ss") * col("ss"))
          / col("n").cast("double")).as("rbar"))
      .select(col("n_orders"),
        (round(col("rbar"), 6) + lit(0.0)).as("resultant_rbar"),
        (round(lit(1.0) - col("rbar"), 6) + lit(0.0)).as("circular_variance"),
        (round(col("n_orders").cast("double") * col("rbar") * col("rbar"), 4)
          + lit(0.0)).as("rayleigh_z"))
  }

  /** Somers' D (discount percent as the dependent ordinal vs quantity):
    * D_yx = (C−D)/(C+D+T_y) from exact contingency-cell pair products.
    */
  def q_somers_d(spark: SparkSession, sf: String): DataFrame = {
    val cells = Mat.once(Tables.lineitem(spark, sf)
      .groupBy(col("l_quantity").cast("long").as("x"),
        pct(col("l_discount")).as("y"))
      .agg(count(lit(1)).as("cnt")))
    cells.as("a")
      .join(cells.select(col("x").as("x2"), col("y").as("y2"),
        col("cnt").as("cnt2")).as("b"), col("x2") > col("a.x"))
      .agg(sum(when(col("y2") > col("a.y"), col("a.cnt") * col("cnt2"))
        .otherwise(0L)).as("c_pairs"),
        sum(when(col("y2") < col("a.y"), col("a.cnt") * col("cnt2"))
          .otherwise(0L)).as("d_pairs"),
        sum(when(col("y2") === col("a.y"), col("a.cnt") * col("cnt2"))
          .otherwise(0L)).as("ty_pairs"))
      .select(col("c_pairs"), col("d_pairs"), col("ty_pairs"),
        (round((col("c_pairs") - col("d_pairs")).cast("double")
          / (col("c_pairs") + col("d_pairs") + col("ty_pairs")).cast("double"), 4)
          + lit(0.0)).as("somers_d"))
  }

  /** Dixon's Q ratios for the monthly-revenue extremes: gap-to-range
    * ratios on both tails from exact discrete order statistics (min,
    * second-min, max, second-max via strict theta joins).
    */
  def q_dixon_q(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val ex = rev.agg(count(lit(1)).as("n"), min(col("rev")).as("x1"),
      max(col("rev")).as("xn"))
    val x2 = rev.crossJoin(broadcast(ex)).filter(col("rev") > col("x1"))
      .agg(min(col("rev")).as("x2"))
    val xn1 = rev.crossJoin(broadcast(ex)).filter(col("rev") < col("xn"))
      .agg(max(col("rev")).as("xn1"))
    ex.crossJoin(x2).crossJoin(xn1)
      .select(col("n").as("n_months"),
        (round((col("x2") - col("x1")).cast("double")
          / (col("xn") - col("x1")).cast("double"), 4) + lit(0.0)).as("q_low"),
        (round((col("xn") - col("xn1")).cast("double")
          / (col("xn") - col("x1")).cast("double"), 4) + lit(0.0)).as("q_high"))
  }

  /** Cook's distance for the monthly revenue~month OLS: exact-sum hat
    * values h = 1/n + (m−t̄)²/S_tt, D = e²h/(2s²(1−h)²), top-5 most
    * influential months on the e6-rounded score.
    */
  def q_cooks_distance(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val fit = rev.agg(count(lit(1)).as("n"), sum(col("m")).as("st"),
        sum(col("rev")).as("sy"), sum(col("m") * col("rev")).as("sty"),
        sum(col("m") * col("m")).as("stt"))
      .select(col("n"),
        ((col("n").cast("double") * col("sty").cast("double")
          - col("st").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double"))).as("b"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("st").cast("double") / col("n").cast("double")).as("tbar"),
        (col("stt").cast("double")
          - col("st").cast("double") * col("st").cast("double")
            / col("n").cast("double")).as("cstt"))
    val resid = Mat.once(rev.crossJoin(broadcast(fit))
      .select(col("m"), col("n"), col("cstt"), col("tbar"),
        (col("rev").cast("double") - col("ybar")
          - col("b") * (col("m").cast("double") - col("tbar"))).as("e"))
      .select(col("m"), col("n"),
        (lit(1.0) / col("n").cast("double")
          + (col("m").cast("double") - col("tbar"))
            * (col("m").cast("double") - col("tbar")) / col("cstt")).as("h"),
        col("e")))
    val s2 = resid.agg(max(col("n")).as("nn"), sum(col("e") * col("e")).as("rss"))
      .select((col("rss") / (col("nn").cast("double") - lit(2.0))).as("s2"))
    resid.crossJoin(broadcast(s2))
      .select(col("m"),
        (round(col("e") / lit(100.0), 2) + lit(0.0)).as("resid_dollars"),
        (round(col("h"), 6) + lit(0.0)).as("leverage"),
        (round(col("e") * col("e") * col("h")
          / (lit(2.0) * col("s2") * (lit(1.0) - col("h"))
            * (lit(1.0) - col("h"))), 6) + lit(0.0)).as("cooks_d"))
      .orderBy(col("cooks_d").desc, col("m").asc)
      .limit(5)
  }

  /** Theil's uncertainty coefficient between quantity tercile and
    * return flag: U(Y|X) = (H_X + H_Y − H_XY)/H_Y and the symmetric
    * 2I/(H_X+H_Y) — exact counts, ln epilogue per cell.
    */
  def q_uncertainty_coefficient(spark: SparkSession, sf: String): DataFrame = {
    val cells = Mat.once(Tables.lineitem(spark, sf)
      .groupBy(expr("CAST((CAST(l_quantity AS BIGINT) - 1) div 17 AS BIGINT)")
        .as("x"), col("l_returnflag").as("y"))
      .agg(count(lit(1)).as("c")))
    val hx = cells.groupBy(col("x")).agg(sum(col("c")).as("cx"))
    val hy = cells.groupBy(col("y")).agg(sum(col("c")).as("cy"))
    val nn = cells.agg(sum(col("c")).as("n"))
    def ent(df: DataFrame, cc: String): DataFrame =
      df.crossJoin(broadcast(nn))
        .agg(sum(-(col(cc).cast("double") / col("n").cast("double"))
          * log(col(cc).cast("double") / col("n").cast("double"))).as("h"))
    val hxy = ent(cells, "c").select(col("h").as("hxy"))
    val hxx = ent(hx, "cx").select(col("h").as("hx"))
    val hyy = ent(hy, "cy").select(col("h").as("hy"))
    nn.crossJoin(hxy).crossJoin(hxx).crossJoin(hyy)
      .select(col("n").as("n_items"),
        (round(col("hx") + col("hy") - col("hxy"), 6) + lit(0.0)).as("mi_nats"),
        (round((col("hx") + col("hy") - col("hxy")) / col("hy"), 4) + lit(0.0))
          .as("u_y_given_x"),
        (round(lit(2.0) * (col("hx") + col("hy") - col("hxy"))
          / (col("hx") + col("hy")), 4) + lit(0.0)).as("u_symmetric"))
  }

  /** Distribution-free 95% CI for the median order total ($100 bins):
    * rank bounds k = (n ± 1.959964√n)/2 (floored identically on both
    * engines), values recovered from the cumulative value lattice.
    */
  def q_median_ci(spark: SparkSession, sf: String): DataFrame = {
    val vals = Mat.once(Tables.orders(spark, sf)
      .select(expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
        .as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t")))
    val tot = vals.agg(sum(col("t")).as("n"))
      .select(col("n"),
        expr("CAST((n + 1) div 2 AS BIGINT)").as("k2"),
        floor((col("n").cast("double")
          - lit(1.959964) * sqrt(col("n").cast("double"))) / lit(2.0))
          .cast("long").as("klo"),
        (floor((col("n").cast("double")
          + lit(1.959964) * sqrt(col("n").cast("double"))) / lit(2.0))
          .cast("long") + 1L).as("khi"))
    BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "cum"))
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_orders"),
        min(when(col("cum") >= col("k2"), col("v"))).as("median_bin"),
        min(when(col("cum") >= col("klo"), col("v"))).as("ci_lo_bin"),
        min(when(col("cum") >= col("khi"), col("v"))).as("ci_hi_bin"))
  }

  private def strataTables(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("s"))
      .agg(sum(when(col("l_discount") >= 0.06 && col("l_returnflag") === "R", 1L)
        .otherwise(0L)).as("a"),
        sum(when(col("l_discount") >= 0.06 && col("l_returnflag") =!= "R", 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("l_discount") < 0.06 && col("l_returnflag") === "R", 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("l_discount") < 0.06 && col("l_returnflag") =!= "R", 1L)
          .otherwise(0L)).as("d"))

  /** Cochran–Mantel–Haenszel test of the discount→return association
    * stratified by order priority: continuity-corrected
    * (|Σa−ΣE|−½)²/ΣV with the exact hypergeometric moments per stratum.
    */
  def q_cmh_test(spark: SparkSession, sf: String): DataFrame =
    strataTables(spark, sf)
      .select(col("a"), (col("a") + col("b")).as("n1"),
        (col("c") + col("d")).as("n0"), (col("a") + col("c")).as("m1"),
        (col("b") + col("d")).as("m0"),
        (col("a") + col("b") + col("c") + col("d")).as("nn"))
      .agg(count(lit(1)).as("k"), sum(col("a")).as("sa"),
        sum(col("n1").cast("double") * col("m1").cast("double")
          / col("nn").cast("double")).as("se"),
        sum(col("n1").cast("double") * col("n0").cast("double")
          * col("m1").cast("double") * col("m0").cast("double")
          / (col("nn").cast("double") * col("nn").cast("double")
            * (col("nn").cast("double") - lit(1.0)))).as("sv"))
      .select(col("k").as("n_strata"), col("sa").as("sum_a"),
        (round(col("se"), 4) + lit(0.0)).as("sum_e"),
        (round((abs(col("sa").cast("double") - col("se")) - lit(0.5))
          * (abs(col("sa").cast("double") - col("se")) - lit(0.5)) / col("sv"), 4)
          + lit(0.0)).as("cmh_chi2"),
        when((abs(col("sa").cast("double") - col("se")) - lit(0.5))
          * (abs(col("sa").cast("double") - col("se")) - lit(0.5)) / col("sv")
          > lit(3.841459), 1L).otherwise(0L).as("reject_no_association"))

  /** Mantel–Haenszel common odds ratio across the priority strata with
    * the Robins–Breslow–Greenland log-SE interval.
    */
  def q_mantel_haenszel(spark: SparkSession, sf: String): DataFrame =
    strataTables(spark, sf)
      .select(col("a"), col("b"), col("c"), col("d"),
        (col("a") + col("b") + col("c") + col("d")).cast("double").as("nn"))
      .select(
        ((col("a") + col("d")).cast("double") / col("nn")).as("p"),
        ((col("b") + col("c")).cast("double") / col("nn")).as("q"),
        (col("a").cast("double") * col("d").cast("double") / col("nn")).as("r"),
        (col("b").cast("double") * col("c").cast("double") / col("nn")).as("s"))
      .agg(sum(col("r")).as("sr"), sum(col("s")).as("ss"),
        sum(col("p") * col("r")).as("spr"),
        sum(col("p") * col("s") + col("q") * col("r")).as("spsqr"),
        sum(col("q") * col("s")).as("sqs"))
      .select((col("sr") / col("ss")).as("or_mh"),
        sqrt(col("spr") / (lit(2.0) * col("sr") * col("sr"))
          + col("spsqr") / (lit(2.0) * col("sr") * col("ss"))
          + col("sqs") / (lit(2.0) * col("ss") * col("ss"))).as("se"))
      .select((round(col("or_mh"), 4) + lit(0.0)).as("or_mh"),
        (round(exp(log(col("or_mh")) - lit(1.959964) * col("se")), 4) + lit(0.0))
          .as("ci_lo"),
        (round(exp(log(col("or_mh")) + lit(1.959964) * col("se")), 4) + lit(0.0))
          .as("ci_hi"))

  /** Direct standardization of per-priority return rates to the overall
    * quantity-tercile mix: crude vs standardized rate per priority —
    * exact stratum counts, double epilogue.
    */
  def q_direct_standardization(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("g"),
        expr("CAST((CAST(l_quantity AS BIGINT) - 1) div 17 AS BIGINT)").as("st"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r")))
    val w = cell.groupBy(col("st")).agg(sum(col("n")).as("ns"))
    val tot = cell.agg(sum(col("n")).as("nt"))
    cell.join(broadcast(w), "st").crossJoin(broadcast(tot))
      .groupBy(col("g"))
      .agg(sum(col("r")).as("rg"), sum(col("n")).as("ng"),
        sum((col("r").cast("double") / col("n").cast("double"))
          * (col("ns").cast("double") / col("nt").cast("double"))).as("std"))
      .select(col("g").as("priority"),
        (round(col("rg").cast("double") / col("ng").cast("double"), 4) + lit(0.0))
          .as("crude_rate"),
        (round(col("std"), 4) + lit(0.0)).as("standardized_rate"))
      .orderBy("priority")
  }

  private def firstLastPriority(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select(col("o_custkey").as("cust"),
        (datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
          .cast("long") * 1000000000L + col("o_orderkey")).as("k"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("pr"))
      .groupBy(col("cust"))
      .agg(min_by(col("pr"), col("k")).as("i"), max_by(col("pr"), col("k")).as("j"),
        count(lit(1)).as("n_ord"))
      .filter(col("n_ord") >= 2)

  /** Bowker symmetry test on the customers' first→last order-priority
    * 5×5 transition table: χ² = Σ_{i<j}(n_ij−n_ji)²/(n_ij+n_ji), df=10
    * — the first/last picks use a unique (day,orderkey) integer key so
    * both engines agree bit-for-bit.
    */
  def q_bowker_symmetry(spark: SparkSession, sf: String): DataFrame = {
    val t = Mat.once(firstLastPriority(spark, sf)
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n")))
    val up = t.filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("n").as("nij"))
    val lo = t.filter(col("i") > col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("n").as("nji"))
    up.join(lo, Seq("i", "j"), "full_outer")
      .select(coalesce(col("nij"), lit(0L)).as("nij"),
        coalesce(col("nji"), lit(0L)).as("nji"))
      .filter(col("nij") + col("nji") > 0L)
      .agg(count(lit(1)).as("n_cells"),
        sum((col("nij") - col("nji")).cast("double")
          * (col("nij") - col("nji")).cast("double")
          / (col("nij") + col("nji")).cast("double")).as("chi2"))
      .select(col("n_cells"), (round(col("chi2"), 4) + lit(0.0)).as("bowker_chi2"),
        when(col("chi2") > lit(18.307038), 1L).otherwise(0L).as("reject_symmetry"))
  }

  /** Shorrocks mobility index of the same first→last priority table:
    * M = (k − Σ pᵢᵢ)/(k−1) over the 5 priority classes.
    */
  def q_shorrocks_mobility(spark: SparkSession, sf: String): DataFrame = {
    val t = Mat.once(firstLastPriority(spark, sf)
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n")))
    val row = t.groupBy(col("i")).agg(sum(col("n")).as("ri"))
    t.filter(col("i") === col("j"))
      .join(broadcast(row), "i")
      .agg(count(lit(1)).as("k"),
        sum(col("n").cast("double") / col("ri").cast("double")).as("tr"))
      .select(col("k").as("k_classes"),
        (round(col("tr"), 4) + lit(0.0)).as("trace_p"),
        (round((col("k").cast("double") - col("tr"))
          / (col("k").cast("double") - lit(1.0)), 4) + lit(0.0))
          .as("shorrocks_m"))
  }

  /** Concentration index of returned items across the customer spend
    * ranking ($100 lattice midranks): C = 2Σh·rank/(n·ΣH) − (n+1)/n —
    * positive C means returns concentrate among big spenders.
    */
  def q_concentration_index(spark: SparkSession, sf: String): DataFrame = {
    val cust = Mat.once(Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(expr("CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) div 10000 AS BIGINT)")
        .as("v"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("h")))
    val vals = cust.groupBy(col("v"))
      .agg(count(lit(1)).as("t"), sum(col("h")).as("hv"))
    val mid = BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "ci"))
      .select(col("v"), col("hv"),
        ((col("ci") - col("t")).cast("double")
          + (col("t").cast("double") + lit(1.0)) / lit(2.0)).as("midrank"))
    val tot = cust.agg(count(lit(1)).as("n"), sum(col("h")).as("ht"))
    mid.agg(sum(col("hv").cast("double") * col("midrank")).as("shr"))
      .crossJoin(broadcast(tot))
      .select(col("n").as("n_customers"), col("ht").as("total_returns"),
        (round(lit(2.0) * col("shr")
          / (col("n").cast("double") * col("ht").cast("double"))
          - (col("n").cast("double") + lit(1.0)) / col("n").cast("double"), 4)
          + lit(0.0)).as("concentration_index"))
  }

  /** Duncan dissimilarity and isolation indices of the BUILDING vs
    * AUTOMOBILE customer populations across nations: D = ½Σ|aᵢ/A −
    * bᵢ/B|, P* = Σ(aᵢ/A)(aᵢ/(aᵢ+bᵢ)).
    */
  def q_dissimilarity_index(spark: SparkSession, sf: String): DataFrame = {
    val c = Mat.once(Tables.customer(spark, sf)
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum(when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)).as("a"),
        sum(when(col("c_mktsegment") === "AUTOMOBILE", 1L).otherwise(0L)).as("b")))
    val tot = c.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    c.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_nations"),
        sum(abs(col("a").cast("double") / col("ta").cast("double")
          - col("b").cast("double") / col("tb").cast("double"))).as("sd"),
        sum((col("a").cast("double") / col("ta").cast("double"))
          * (col("a").cast("double") / (col("a") + col("b")).cast("double")))
          .as("iso"))
      .select(col("n_nations"),
        (round(col("sd") / lit(2.0), 4) + lit(0.0)).as("dissimilarity"),
        (round(col("iso"), 4) + lit(0.0)).as("isolation_building"))
  }

  /** Location quotients of market segments by nation:
    * LQ = (segment share within nation)/(segment share overall), top-10
    * concentrations on the e4-rounded score with exact tie-breaks.
    */
  def q_location_quotient(spark: SparkSession, sf: String): DataFrame = {
    val c = Mat.once(Tables.customer(spark, sf)
      .groupBy(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n")))
    val byN = c.groupBy(col("nk")).agg(sum(col("n")).as("nn"))
    val byS = c.groupBy(col("seg")).agg(sum(col("n")).as("ns"))
    val tot = c.agg(sum(col("n")).as("nt"))
    c.join(broadcast(byN), "nk").join(broadcast(byS), "seg")
      .crossJoin(broadcast(tot))
      .select(col("nk").as("nation"), col("seg"), col("n").as("n_customers"),
        (round((col("n").cast("double") / col("nn").cast("double"))
          / (col("ns").cast("double") / col("nt").cast("double")), 4) + lit(0.0))
          .as("lq"))
      .orderBy(col("lq").desc, col("nation").asc, col("seg").asc)
      .limit(10)
  }

  /** Moran's I and Geary's C of per-nation mean account balance with
    * same-region block weights: spatial autocorrelation on the
    * nation/region hierarchy — exact cent sums, one double epilogue.
    */
  def q_morans_i(spark: SparkSession, sf: String): DataFrame = {
    val natBal = Mat.once(Tables.customer(spark, sf)
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("nc"), sum(cents(col("c_acctbal"))).as("sb"))
      .join(broadcast(Tables.nation(spark, sf)
        .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))), "nk")
      .select(col("nk"), col("rk"),
        (col("sb").cast("double") / col("nc").cast("double")).as("x")))
    val mean = natBal.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .select(col("n"), (col("sx") / col("n").cast("double")).as("xbar"))
    val z = Mat.once(natBal.crossJoin(broadcast(mean))
      .select(col("nk"), col("rk"), (col("x") - col("xbar")).as("z"), col("n")))
    val pairs = z.as("a")
      .join(z.select(col("nk").as("nk2"), col("rk").as("rk2"),
        col("z").as("z2")).as("b"),
        col("rk2") === col("a.rk") && col("nk2") =!= col("a.nk"))
      .agg(count(lit(1)).as("w"), sum(col("z") * col("z2")).as("szz"),
        sum((col("z") - col("z2")) * (col("z") - col("z2"))).as("sdz"))
    val den = z.agg(max(col("n")).as("n"), sum(col("z") * col("z")).as("szsq"))
    den.crossJoin(pairs)
      .select(col("n").as("n_nations"), col("w").as("w_pairs"),
        (round((col("n").cast("double") / col("w").cast("double"))
          * col("szz") / col("szsq"), 4) + lit(0.0)).as("morans_i"),
        (round(((col("n").cast("double") - lit(1.0))
          / (lit(2.0) * col("w").cast("double")))
          * col("sdz") / col("szsq"), 4) + lit(0.0)).as("geary_c"))
  }

  /** Incidence rate ratio of returns, deep-discount vs regular items,
    * with the Woolf-style log CI: RR = (a/T₁)/(c/T₀),
    * CI = exp(ln RR ± 1.959964√(1/a+1/c)).
    */
  def q_rate_ratio_ci(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select((col("l_discount") >= 0.06).as("expo"),
        (col("l_returnflag") === "R").as("ret"))
      .agg(sum(when(col("expo") && col("ret"), 1L).otherwise(0L)).as("a"),
        sum(when(col("expo"), 1L).otherwise(0L)).as("t1"),
        sum(when(!col("expo") && col("ret"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("expo"), 1L).otherwise(0L)).as("t0"))
      .select(col("a"), col("t1"), col("c"), col("t0"),
        ((col("a").cast("double") / col("t1").cast("double"))
          / (col("c").cast("double") / col("t0").cast("double"))).as("rr"),
        sqrt(lit(1.0) / col("a").cast("double") + lit(1.0) / col("c").cast("double"))
          .as("se"))
      .select(col("a"), col("t1"), col("c"), col("t0"),
        (round(col("rr"), 4) + lit(0.0)).as("rate_ratio"),
        (round(exp(log(col("rr")) - lit(1.959964) * col("se")), 4) + lit(0.0))
          .as("ci_lo"),
        (round(exp(log(col("rr")) + lit(1.959964) * col("se")), 4) + lit(0.0))
          .as("ci_hi"))

  /** Breslow–Day homogeneity test of the per-stratum odds ratios
    * against the MH common OR: expected cell from the Citardauq root of
    * the per-stratum quadratic (stable as OR→1), χ² = Σ(a−A)²/V_A,
    * df = k−1.
    */
  def q_breslow_day(spark: SparkSession, sf: String): DataFrame = {
    val st = Mat.once(strataTables(spark, sf))
    val or = st
      .agg(sum(col("a").cast("double") * col("d").cast("double")
        / (col("a") + col("b") + col("c") + col("d")).cast("double")).as("sr"),
        sum(col("b").cast("double") * col("c").cast("double")
          / (col("a") + col("b") + col("c") + col("d")).cast("double")).as("ss"))
      .select((col("sr") / col("ss")).as("ormh"))
    val terms = st.crossJoin(broadcast(or))
      .select(col("a").cast("double").as("ad"),
        (col("a") + col("b")).cast("double").as("n1"),
        (col("a") + col("c")).cast("double").as("m1"),
        (col("a") + col("b") + col("c") + col("d")).cast("double").as("nn"),
        col("ormh"))
      .select(col("ad"), col("n1"), col("m1"), col("nn"), col("ormh"),
        (lit(1.0) - col("ormh")).as("a2"),
        (col("nn") - col("n1") - col("m1")
          + col("ormh") * (col("n1") + col("m1"))).as("b2"),
        (-col("ormh") * col("n1") * col("m1")).as("c2"))
      .select(col("ad"), col("n1"), col("m1"), col("nn"),
        (lit(2.0) * col("c2")
          / (-col("b2") - sqrt(col("b2") * col("b2")
            - lit(4.0) * col("a2") * col("c2")))).as("ae"))
      .select(col("ad"), col("ae"),
        (lit(1.0) / (lit(1.0) / col("ae") + lit(1.0) / (col("n1") - col("ae"))
          + lit(1.0) / (col("m1") - col("ae"))
          + lit(1.0) / (col("nn") - col("n1") - col("m1") + col("ae")))).as("va"))
    terms.agg(count(lit(1)).as("k"),
        sum((col("ad") - col("ae")) * (col("ad") - col("ae")) / col("va"))
          .as("chi2"))
      .select(col("k").as("n_strata"),
        (round(col("chi2"), 4) + lit(0.0)).as("breslow_day_chi2"),
        when(col("chi2") > lit(9.487729), 1L).otherwise(0L)
          .as("reject_homogeneous_or"))
  }

  /** Peto one-step odds ratio from the CMH moments:
    * ψ = exp(Σ(O−E)/ΣV) with CI exp((Σ(O−E) ± 1.959964√ΣV)/ΣV).
    */
  def q_peto_odds_ratio(spark: SparkSession, sf: String): DataFrame =
    strataTables(spark, sf)
      .select(col("a").cast("double").as("ad"),
        (col("a") + col("b")).cast("double").as("n1"),
        (col("c") + col("d")).cast("double").as("n0"),
        (col("a") + col("c")).cast("double").as("m1"),
        (col("b") + col("d")).cast("double").as("m0"),
        (col("a") + col("b") + col("c") + col("d")).cast("double").as("nn"))
      .agg(sum(col("ad") - col("n1") * col("m1") / col("nn")).as("soe"),
        sum(col("n1") * col("n0") * col("m1") * col("m0")
          / (col("nn") * col("nn") * (col("nn") - lit(1.0)))).as("sv"))
      .select((round(exp(col("soe") / col("sv")), 4) + lit(0.0)).as("peto_or"),
        (round(exp((col("soe") - lit(1.959964) * sqrt(col("sv"))) / col("sv")), 4)
          + lit(0.0)).as("ci_lo"),
        (round(exp((col("soe") + lit(1.959964) * sqrt(col("sv"))) / col("sv")), 4)
          + lit(0.0)).as("ci_hi"))

  /** Indirect standardization: per-priority SMR = observed/expected
    * returns with expectations from the overall quantity-tercile rates,
    * log-normal CI exp(ln SMR ± 1.959964/√O).
    */
  def q_smr_indirect(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("g"),
        expr("CAST((CAST(l_quantity AS BIGINT) - 1) div 17 AS BIGINT)").as("st"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r")))
    val ref = cell.groupBy(col("st"))
      .agg(sum(col("r")).as("rs"), sum(col("n")).as("ns"))
      .select(col("st"),
        (col("rs").cast("double") / col("ns").cast("double")).as("rate"))
    cell.join(broadcast(ref), "st")
      .groupBy(col("g"))
      .agg(sum(col("r")).as("o"), sum(col("n").cast("double") * col("rate")).as("e"))
      .select(col("g").as("priority"), col("o").as("observed"),
        floor(col("e") * lit(100.0)).cast("long").as("expected_e2"),
        (round(col("o").cast("double") / col("e"), 4) + lit(0.0)).as("smr"),
        (round(exp(log(col("o").cast("double") / col("e"))
          - lit(1.959964) / sqrt(col("o").cast("double"))), 4) + lit(0.0))
          .as("ci_lo"),
        (round(exp(log(col("o").cast("double") / col("e"))
          + lit(1.959964) / sqrt(col("o").cast("double"))), 4) + lit(0.0))
          .as("ci_hi"))
      .orderBy("priority")
  }

  /** Funnel plot of per-nation return SMRs against the pooled rate:
    * control limits 1 ± 1.959964√(1/E), each nation flagged −1/0/+1 —
    * all flags from identically-derived doubles.
    */
  def q_funnel_plot(spark: SparkSession, sf: String): DataFrame = {
    val nat = Mat.once(Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("o")))
    val pool = nat.agg(sum(col("o")).as("to"), sum(col("n")).as("tn"))
      .select((col("to").cast("double") / col("tn").cast("double")).as("pbar"))
    nat.crossJoin(broadcast(pool))
      .select(col("nk").as("nation"), col("o"),
        (col("n").cast("double") * col("pbar")).as("e"))
      .select(col("nation"), col("o"),
        floor(col("e") * lit(100.0)).cast("long").as("expected_e2"),
        (round(col("o").cast("double") / col("e"), 4) + lit(0.0)).as("smr"),
        when(col("o").cast("double") / col("e")
          > lit(1.0) + lit(1.959964) * sqrt(lit(1.0) / col("e")), 1L)
          .when(col("o").cast("double") / col("e")
            < lit(1.0) - lit(1.959964) * sqrt(lit(1.0) / col("e")), -1L)
          .otherwise(0L).as("flag"))
      .orderBy("nation")
  }

  /** Empirical-Bayes beta shrinkage of per-nation return rates: MoM
    * prior from the unweighted rate mean/variance, K = m(1−m)/v − 1,
    * shrunk = (O + mK)/(n + K).
    */
  def q_eb_shrinkage(spark: SparkSession, sf: String): DataFrame = {
    val nat = Mat.once(Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("o"))
      .select(col("nk"), col("n"), col("o"),
        (col("o").cast("double") / col("n").cast("double")).as("x")))
    val prior = nat.agg(count(lit(1)).as("kk"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select((col("sx") / col("kk").cast("double")).as("m"),
        (col("sxx") / col("kk").cast("double")
          - (col("sx") / col("kk").cast("double"))
            * (col("sx") / col("kk").cast("double"))).as("v"))
      .select(col("m"), (col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0))
        .as("bigk"))
    nat.crossJoin(broadcast(prior))
      .select(col("nk").as("nation"), col("n"), col("o"),
        (round(col("x"), 4) + lit(0.0)).as("raw_rate"),
        (round((col("o").cast("double") + col("m") * col("bigk"))
          / (col("n").cast("double") + col("bigk")), 4) + lit(0.0))
          .as("shrunk_rate"),
        (round(col("bigk"), 2) + lit(0.0)).as("prior_k"))
      .orderBy("nation")
  }

  /** Bühlmann credibility of per-nation monthly return rates:
    * EPV = mean within-nation variance, VHM = between-variance of
    * nation means minus EPV/n̄, k = EPV/VHM and the credibility
    * Z = n/(n+k) at the common month count.
    */
  def q_buhlmann_credibility(spark: SparkSession, sf: String): DataFrame = {
    val nm = Mat.once(Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg((sum(when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
        / count(lit(1)).cast("double")).as("x")))
    val within = Mat.once(nm.groupBy(col("nk"))
      .agg(count(lit(1)).as("t"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("nk"), col("t"),
        (col("sx") / col("t").cast("double")).as("xbar"),
        ((col("sxx") - col("sx") * col("sx") / col("t").cast("double"))
          / (col("t").cast("double") - lit(1.0))).as("s2")))
    val agg = within.agg(count(lit(1)).as("r"), avg(col("s2")).as("epv"),
        avg(col("t").cast("double")).as("tbar"),
        avg(col("xbar")).as("gx"),
        (sum(col("xbar") * col("xbar"))
          - sum(col("xbar")) * sum(col("xbar")) / count(lit(1)).cast("double"))
          .as("ssb"))
      .select(col("r"), col("epv"), col("tbar"),
        (col("ssb") / (col("r").cast("double") - lit(1.0))
          - col("epv") / col("tbar")).as("vhm"))
    agg.select(col("r").as("n_nations"),
        (round(col("epv"), 6) + lit(0.0)).as("epv"),
        (round(col("vhm"), 6) + lit(0.0)).as("vhm"),
        (round(when(col("vhm") > 0.0, col("epv") / col("vhm")).otherwise(lit(-1.0)),
          2) + lit(0.0)).as("buhlmann_k"),
        (round(when(col("vhm") > 0.0,
          col("tbar") / (col("tbar") + col("epv") / col("vhm"))).otherwise(lit(0.0)),
          4) + lit(0.0)).as("credibility_z"))
  }

  /** Cochran–Armitage trend test of the return proportion across the
    * ordered priorities (scores 1..5): z from exact counts with the
    * standard variance.
    */
  def q_cochran_armitage(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("s"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("a"))
      .agg(sum(col("n")).as("nn"), sum(col("a")).as("aa"),
        sum(col("s") * col("a")).as("ssa"), sum(col("s") * col("n")).as("ssn"),
        sum(col("s") * col("s") * col("n")).as("ss2n"))
      .select(col("nn"), col("aa"),
        (col("ssa").cast("double")
          - col("aa").cast("double") * col("ssn").cast("double")
            / col("nn").cast("double")).as("t"),
        ((col("aa").cast("double") / col("nn").cast("double"))
          * (lit(1.0) - col("aa").cast("double") / col("nn").cast("double"))
          * (col("ss2n").cast("double")
            - col("ssn").cast("double") * col("ssn").cast("double")
              / col("nn").cast("double"))).as("v"))
      .select(col("nn").as("n_items"), col("aa").as("n_returns"),
        (round(col("t") / sqrt(col("v")), 4) + lit(0.0)).as("ca_z"),
        when(abs(col("t") / sqrt(col("v"))) > lit(1.959964), 1L).otherwise(0L)
          .as("trend_detected"))

  /** Piecewise-linear trend of monthly revenue with one literal knot at
    * t = 40: the 3-parameter hinge regression solved exactly by
    * Cramer's rule over the exact-sum normal equations.
    */
  def q_piecewise_trend(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val m0 = rev.agg(min(col("m")).as("m0"))
    val t = rev.crossJoin(broadcast(m0))
      .select((col("m") - col("m0") + 1L).as("t"), col("rev"))
      .select(col("t"), greatest(col("t") - 40L, lit(0L)).as("h"),
        col("rev").cast("double").as("y"))
    t.agg(count(lit(1)).cast("double").as("s1"),
        sum(col("t")).cast("double").as("st"), sum(col("h")).cast("double").as("sh"),
        sum(col("t") * col("t")).cast("double").as("stt"),
        sum(col("t") * col("h")).cast("double").as("sth"),
        sum(col("h") * col("h")).cast("double").as("shh"),
        sum(col("y")).as("sy"), sum(col("t").cast("double") * col("y")).as("sty"),
        sum(col("h").cast("double") * col("y")).as("shy"))
      .select(col("s1"),
        (col("s1") * (col("stt") * col("shh") - col("sth") * col("sth"))
          - col("st") * (col("st") * col("shh") - col("sth") * col("sh"))
          + col("sh") * (col("st") * col("sth") - col("stt") * col("sh"))).as("dd"),
        (col("s1") * (col("sty") * col("shh") - col("sth") * col("shy"))
          - col("sy") * (col("st") * col("shh") - col("sth") * col("sh"))
          + col("sh") * (col("st") * col("shy") - col("sty") * col("sh"))).as("d2"),
        (col("s1") * (col("stt") * col("shy") - col("sty") * col("sth"))
          - col("st") * (col("st") * col("shy") - col("sty") * col("sh"))
          + col("sy") * (col("st") * col("sth") - col("stt") * col("sh"))).as("d3"))
      .select(col("s1").cast("long").as("n_months"),
        lit(40L).as("knot_t"),
        (round(col("d2") / col("dd") / lit(100.0), 4) + lit(0.0))
          .as("base_slope_dollars"),
        (round(col("d3") / col("dd") / lit(100.0), 4) + lit(0.0))
          .as("slope_change_dollars"))
  }

  /** Newey–West HAC t-statistic of the mean daily revenue change
    * (Bartlett kernel, 2 lags): σ²_NW = γ₀ + 2(⅔γ₁ + ⅓γ₂), compared
    * with the i.i.d. t — autocorrelation-robust inference.
    */
  def q_newey_west(spark: SparkSession, sf: String): DataFrame = {
    val rev = dailyRevenue(spark, sf)
    val chg = Mat.once(rev.as("a")
      .join(rev.select(col("d").as("d2"), col("rev").as("rev2")).as("b"),
        col("d2") === col("d") + 1)
      .select(col("d2").as("d"), (col("rev2") - col("rev")).as("x")))
    val mu = chg.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .select(col("n"), (col("sx").cast("double") / col("n").cast("double")).as("mu"))
    val z = Mat.once(chg.crossJoin(broadcast(mu))
      .select(col("d"), col("n"), col("mu"),
        (col("x").cast("double") - col("mu")).as("z")))
    def gamma(l: Int): DataFrame = z.as("a")
      .join(z.select(col("d").as("d2"), col("z").as("z2")).as("b"),
        col("d2") === col("d") + l)
      .agg(sum(col("z") * col("z2")).as(s"g$l"))
    val g0 = z.agg(max(col("n")).as("n"), max(col("mu")).as("mu"),
      sum(col("z") * col("z")).as("g0"))
    g0.crossJoin(gamma(1)).crossJoin(gamma(2))
      .select(col("n").as("n_days"),
        (round(col("mu") / lit(100.0), 2) + lit(0.0)).as("mean_change_dollars"),
        (round((col("mu")
          / sqrt(((col("g0") + lit(2.0) * (lit(2.0) / lit(3.0) * col("g1")
            + lit(1.0) / lit(3.0) * col("g2"))) / col("n").cast("double"))
            / col("n").cast("double"))), 4) + lit(0.0)).as("t_newey_west"),
        (round(col("mu") / sqrt((col("g0") / col("n").cast("double"))
          / col("n").cast("double")), 4) + lit(0.0)).as("t_iid"))
  }

  /** TOST equivalence test of URGENT vs LOW mean order totals with a
    * ±1%-of-pooled-mean margin: both one-sided Welch t's must clear
    * 1.6448536 for equivalence.
    */
  def q_tost_equivalence(spark: SparkSession, sf: String): DataFrame = {
    def grp(p: String, pfx: String): DataFrame =
      Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === p)
        .select(cents(col("o_totalprice")).as("x"))
        .agg(count(lit(1)).as(s"${pfx}n"), sum(col("x")).as(s"${pfx}s"),
          sum(col("x").cast("double") * col("x").cast("double")).as(s"${pfx}ss"))
    grp("1-URGENT", "a").crossJoin(grp("5-LOW", "b"))
      .select(col("an"), col("bn"),
        (col("as").cast("double") / col("an").cast("double")
          - col("bs").cast("double") / col("bn").cast("double")).as("dmean"),
        (((col("as") + col("bs")).cast("double")
          / (col("an") + col("bn")).cast("double")) / lit(100.0)).as("delta"),
        sqrt((((col("ass") - (col("as").cast("double") * col("as").cast("double"))
          / col("an").cast("double")) / (col("an").cast("double") - lit(1.0)))
          / col("an").cast("double"))
          + (((col("bss") - (col("bs").cast("double") * col("bs").cast("double"))
            / col("bn").cast("double")) / (col("bn").cast("double") - lit(1.0)))
            / col("bn").cast("double"))).as("se"))
      .select(col("an").as("n_urgent"), col("bn").as("n_low"),
        (round(col("dmean") / lit(100.0), 2) + lit(0.0)).as("diff_dollars"),
        (round(col("delta") / lit(100.0), 2) + lit(0.0)).as("margin_dollars"),
        (round((col("dmean") + col("delta")) / col("se"), 4) + lit(0.0)).as("t_lower"),
        (round((col("delta") - col("dmean")) / col("se"), 4) + lit(0.0)).as("t_upper"),
        when((col("dmean") + col("delta")) / col("se") > lit(1.6448536)
          && (col("delta") - col("dmean")) / col("se") > lit(1.6448536), 1L)
          .otherwise(0L).as("equivalent"))
  }

  /** Welch's heteroscedastic one-way ANOVA of order totals across the
    * five priorities: F* = [Σwⱼ(x̄ⱼ−x̃)²/(k−1)] / [1 + 2(k−2)/(k²−1)·Λ]
    * with wⱼ = nⱼ/s²ⱼ — exact sums, one double epilogue.
    */
  def q_welch_anova(spark: SparkSession, sf: String): DataFrame = {
    val g = Mat.once(Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x").cast("double") * col("x").cast("double")).as("ss"))
      .select(col("g"), col("n"),
        (col("s").cast("double") / col("n").cast("double")).as("xbar"),
        (col("n").cast("double")
          / ((col("ss") - (col("s").cast("double") * col("s").cast("double"))
            / col("n").cast("double")) / (col("n").cast("double") - lit(1.0))))
          .as("w")))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("w")).as("sw"),
      sum(col("w") * col("xbar")).as("swx"))
    val lam = g.crossJoin(broadcast(tot))
      .agg(max(col("k")).as("k"), max(col("sw")).as("sw"),
        max(col("swx")).as("swx"),
        sum((lit(1.0) - col("w") / col("sw")) * (lit(1.0) - col("w") / col("sw"))
          / (col("n").cast("double") - lit(1.0))).as("lam"),
        sum(col("w") * (col("xbar") - col("swx") / col("sw"))
          * (col("xbar") - col("swx") / col("sw"))).as("num"))
    lam.select(col("k").as("n_groups"),
        ((col("num") / (col("k").cast("double") - lit(1.0)))
          / (lit(1.0) + lit(2.0) * (col("k").cast("double") - lit(2.0))
            / (col("k").cast("double") * col("k").cast("double") - lit(1.0))
            * col("lam"))).as("fstar"),
        (((col("k").cast("double") * col("k").cast("double") - lit(1.0)) / lit(3.0))
          / col("lam")).as("df2"))
      .select(col("n_groups"), (round(col("fstar"), 4) + lit(0.0)).as("welch_f"),
        (round(col("df2"), 2) + lit(0.0)).as("df2"),
        when(col("fstar") > lit(2.372), 1L).otherwise(0L).as("reject_equal_means"))
  }

  private def twoGroupCells(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .groupBy(col("o_orderpriority").as("g"),
        expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
          .as("v"))
      .agg(count(lit(1)).as("cnt"))

  /** Energy distance between the URGENT and LOW order-total
    * distributions on the $100 lattice: E = 2E|X−Y| − E|X−X'| − E|Y−Y'|
    * from cell-pair products (accumulated as doubles, scale-safe),
    * plus the n₁n₂/(n₁+n₂)-scaled e-statistic.
    */
  def q_energy_distance(spark: SparkSession, sf: String): DataFrame = {
    val cells = Mat.once(twoGroupCells(spark, sf))
    def within(p: String, out: String): DataFrame = {
      val c = cells.filter(col("g") === p)
      c.as("a").crossJoin(c.select(col("v").as("v2"), col("cnt").as("c2")).as("b"))
        .agg(sum(col("cnt")).as("dummy"),
          sum(abs(col("v") - col("v2")).cast("double")
            * col("cnt").cast("double") * col("c2").cast("double")).as(out))
        .select(col(out))
    }
    val sizes = cells.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .agg(sum(when(col("g") === "1-URGENT", col("n")).otherwise(0L)).as("n1"),
        sum(when(col("g") === "5-LOW", col("n")).otherwise(0L)).as("n2"))
    val cross = cells.filter(col("g") === "1-URGENT").as("a")
      .crossJoin(cells.filter(col("g") === "5-LOW")
        .select(col("v").as("v2"), col("cnt").as("c2")).as("b"))
      .agg(sum(abs(col("v") - col("v2")).cast("double")
        * col("cnt").cast("double") * col("c2").cast("double")).as("sxy"))
    sizes.crossJoin(cross).crossJoin(within("1-URGENT", "sxx"))
      .crossJoin(within("5-LOW", "syy"))
      .select(col("n1"), col("n2"),
        (lit(2.0) * col("sxy") / (col("n1").cast("double") * col("n2").cast("double"))
          - col("sxx") / (col("n1").cast("double") * col("n1").cast("double"))
          - col("syy") / (col("n2").cast("double") * col("n2").cast("double")))
          .as("e"))
      .select(col("n1"), col("n2"),
        (round(col("e"), 4) + lit(0.0)).as("energy_distance_bins"),
        (round(col("n1").cast("double") * col("n2").cast("double")
          / (col("n1") + col("n2")).cast("double") * col("e"), 4) + lit(0.0))
          .as("e_statistic"))
  }

  /** RBF-kernel maximum mean discrepancy between the same two
    * distributions (bandwidth² = 2500 bins²): MMD² = K̄xx + K̄yy − 2K̄xy
    * over cell-pair kernel sums.
    */
  def q_mmd_rbf(spark: SparkSession, sf: String): DataFrame = {
    val cells = Mat.once(twoGroupCells(spark, sf))
    def kern(ga: String, gb: String, out: String): DataFrame =
      cells.filter(col("g") === ga).as("a")
        .crossJoin(cells.filter(col("g") === gb)
          .select(col("v").as("v2"), col("cnt").as("c2")).as("b"))
        .agg(sum(exp(-((col("v") - col("v2")) * (col("v") - col("v2")))
          .cast("double") / lit(5000.0))
          * col("cnt").cast("double") * col("c2").cast("double")).as(out))
        .select(col(out))
    val sizes = cells.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .agg(sum(when(col("g") === "1-URGENT", col("n")).otherwise(0L)).as("n1"),
        sum(when(col("g") === "5-LOW", col("n")).otherwise(0L)).as("n2"))
    sizes.crossJoin(kern("1-URGENT", "1-URGENT", "kxx"))
      .crossJoin(kern("5-LOW", "5-LOW", "kyy"))
      .crossJoin(kern("1-URGENT", "5-LOW", "kxy"))
      .select(col("n1"), col("n2"),
        (round(col("kxx") / (col("n1").cast("double") * col("n1").cast("double"))
          + col("kyy") / (col("n2").cast("double") * col("n2").cast("double"))
          - lit(2.0) * col("kxy")
            / (col("n1").cast("double") * col("n2").cast("double")), 6) + lit(0.0))
          .as("mmd_squared"))
  }

  /** Distance correlation between the BUILDING and AUTOMOBILE monthly
    * revenue series: double-centered exact cent distance matrices,
    * dCor = √(dCov²/√(dVarX·dVarY)).
    */
  def q_distance_correlation(spark: SparkSession, sf: String): DataFrame = {
    def seg(name: String, out: String): DataFrame =
      Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
        .agg(sum(cents(col("o_totalprice"))).as(out))
    val xy = Mat.once(seg("BUILDING", "x").join(seg("AUTOMOBILE", "y"), "m"))
    val pairs = Mat.once(xy.as("a")
      .join(xy.select(col("m").as("m2"), col("x").as("x2"), col("y").as("y2"))
        .as("b"), lit(true))
      .select(col("m"), col("m2"),
        abs(col("x") - col("x2")).cast("double").as("ax"),
        abs(col("y") - col("y2")).cast("double").as("byy")))
    val rm = pairs.groupBy(col("m"))
      .agg(avg(col("ax")).as("rax"), avg(col("byy")).as("rby"))
    val gm = pairs.agg(avg(col("ax")).as("gax"), avg(col("byy")).as("gby"),
      count(lit(1)).as("nsq"))
    val centered = pairs
      .join(broadcast(rm.select(col("m").as("mi"), col("rax").as("rai"),
        col("rby").as("rbi"))), col("mi") === col("m"))
      .join(broadcast(rm.select(col("m").as("mj"), col("rax").as("raj"),
        col("rby").as("rbj"))), col("mj") === col("m2"))
      .crossJoin(broadcast(gm))
      .select(
        (col("ax") - col("rai") - col("raj") + col("gax")).as("aa"),
        (col("byy") - col("rbi") - col("rbj") + col("gby")).as("bb"),
        col("nsq"))
    centered.groupBy(col("nsq"))
      .agg(sum(col("aa") * col("bb")).as("scov"),
        sum(col("aa") * col("aa")).as("svx"),
        sum(col("bb") * col("bb")).as("svy"))
      .select(
        (round(sqrt(sqrt((col("scov") / col("nsq").cast("double"))
          * (col("scov") / col("nsq").cast("double"))
          / ((col("svx") / col("nsq").cast("double"))
            * (col("svy") / col("nsq").cast("double"))))), 4) + lit(0.0))
          .as("dcor"),
        (round(col("scov") / col("nsq").cast("double") / lit(1.0e16), 6) + lit(0.0))
          .as("dcov2_e16"))
  }

  /** β-convergence of per-nation revenue: ln growth 1996→1997 regressed
    * on ln initial level — a negative slope means laggards catch up;
    * the R² rides along.
    */
  def q_beta_convergence(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum(when(year(col("o_orderdate")) === 1996, cents(col("o_totalprice")))
        .otherwise(0L)).as("r96"),
        sum(when(year(col("o_orderdate")) === 1997, cents(col("o_totalprice")))
          .otherwise(0L)).as("r97"))
      .filter(col("r96") > 0L && col("r97") > 0L)
      .select(log(col("r96").cast("double")).as("x"),
        log(col("r97").cast("double") / col("r96").cast("double")).as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_nations"),
        (round((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (col("n").cast("double") * col("sxx") - col("sx") * col("sx")), 4)
          + lit(0.0)).as("beta"),
        (round((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          * (col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / ((col("n").cast("double") * col("sxx") - col("sx") * col("sx"))
            * (col("n").cast("double") * col("syy") - col("sy") * col("sy"))), 4)
          + lit(0.0)).as("r2"))

  /** Theil T inequality of per-customer revenue decomposed into
    * between-region and within-region components (T = T_b + ΣwT_r, the
    * identity carried as an output check).
    */
  def q_theil_between_within(spark: SparkSession, sf: String): DataFrame = {
    val cust = Mat.once(Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sf)
        .select(col("n_nationkey"), col("n_regionkey").as("rk"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("o_custkey"), col("rk"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
      .filter(col("x") > 0L))
    val tot = cust.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val reg = cust.groupBy(col("rk"))
      .agg(count(lit(1)).as("nr"), sum(col("x")).as("yr"))
    val tWithin = cust.join(broadcast(reg), "rk")
      .select(col("rk"), col("yr"), col("nr"),
        (col("x").cast("double") * col("nr").cast("double")
          / col("yr").cast("double")).as("ratio"))
      .groupBy(col("rk"), col("yr"), col("nr"))
      .agg(sum((col("ratio") / col("nr").cast("double")) * log(col("ratio")))
        .as("tr"))
    val parts = tWithin.crossJoin(broadcast(tot))
      .agg(sum((col("yr").cast("double") / col("sx").cast("double")) * col("tr"))
        .as("t_within"),
        sum((col("yr").cast("double") / col("sx").cast("double"))
          * log((col("yr").cast("double") / col("sx").cast("double"))
            / (col("nr").cast("double") / col("n").cast("double"))))
          .as("t_between"))
    val tTotal = cust.crossJoin(broadcast(tot))
      .select((col("x").cast("double") * col("n").cast("double")
        / col("sx").cast("double")).as("ratio"), col("n"))
      .groupBy(col("n"))
      .agg(sum(col("ratio") * log(col("ratio"))).as("st"))
      .select((col("st") / col("n").cast("double")).as("t_total"))
    parts.crossJoin(tTotal)
      .select((round(col("t_total"), 4) + lit(0.0)).as("theil_total"),
        (round(col("t_between"), 4) + lit(0.0)).as("theil_between"),
        (round(col("t_within"), 4) + lit(0.0)).as("theil_within"),
        (round(col("t_between") + col("t_within") - col("t_total"), 6) + lit(0.0))
          .as("identity_gap"))
  }

  /** One-covariate ANCOVA: the URGENT-vs-LOW order-total difference
    * adjusted for customer account balance via the pooled within-group
    * slope — exact sums, closed-form epilogue.
    */
  def q_ancova_adjust(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.orders(spark, sf)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("y"),
        cents(col("c_acctbal")).as("x"))
    val g = Mat.once(d.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"), sum(col("x")).as("sx"),
        sum(col("x").cast("double") * col("y").cast("double")).as("sxy"),
        sum(col("x").cast("double") * col("x").cast("double")).as("sxx"))
      .select(col("g"), col("n"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("sx").cast("double") / col("n").cast("double")).as("xbar"),
        (col("sxy") - col("sx").cast("double") * col("sy").cast("double")
          / col("n").cast("double")).as("cxy"),
        (col("sxx") - col("sx").cast("double") * col("sx").cast("double")
          / col("n").cast("double")).as("cxx")))
    val bw = g.agg(sum(col("cxy")).as("scxy"), sum(col("cxx")).as("scxx"))
      .select((col("scxy") / col("scxx")).as("bw"))
    val a = g.filter(col("g") === "1-URGENT")
      .select(col("n").as("n1"), col("ybar").as("y1"), col("xbar").as("x1"))
    val b = g.filter(col("g") === "5-LOW")
      .select(col("n").as("n2"), col("ybar").as("y2"), col("xbar").as("x2"))
    a.crossJoin(b).crossJoin(bw)
      .select(col("n1"), col("n2"),
        (round((col("y1") - col("y2")) / lit(100.0), 2) + lit(0.0))
          .as("raw_diff_dollars"),
        (round(((col("y1") - col("y2"))
          - col("bw") * (col("x1") - col("x2"))) / lit(100.0), 2) + lit(0.0))
          .as("adjusted_diff_dollars"),
        (round(col("bw"), 6) + lit(0.0)).as("pooled_slope"))
  }

  /** Sample skewness/kurtosis of order totals per priority with their
    * large-sample standard errors √(6/n) and √(24/n) and the resulting
    * z-flags — the quick normality screen.
    */
  def q_moment_zscores(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x").cast("double") * col("x").cast("double")).as("s2"),
        sum(col("x").cast("double") * col("x").cast("double")
          * col("x").cast("double")).as("s3"),
        sum(col("x").cast("double") * col("x").cast("double")
          * col("x").cast("double") * col("x").cast("double")).as("s4"))
      .select(col("g"), col("n"),
        (col("s1").cast("double") / col("n").cast("double")).as("mu"),
        (col("s2") / col("n").cast("double")).as("a2"),
        (col("s3") / col("n").cast("double")).as("a3"),
        (col("s4") / col("n").cast("double")).as("a4"))
      .select(col("g"), col("n"),
        (col("a2") - col("mu") * col("mu")).as("m2"),
        (col("a3") - lit(3.0) * col("mu") * col("a2")
          + lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"),
        (col("a4") - lit(4.0) * col("mu") * col("a3")
          + lit(6.0) * col("mu") * col("mu") * col("a2")
          - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu")).as("m4"))
      .select(col("g").as("priority"), col("n"),
        (round(col("m3") / (col("m2") * sqrt(col("m2"))), 4) + lit(0.0)).as("skew"),
        (round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 4) + lit(0.0))
          .as("excess_kurt"),
        (round((col("m3") / (col("m2") * sqrt(col("m2"))))
          / sqrt(lit(6.0) / col("n").cast("double")), 4) + lit(0.0)).as("z_skew"),
        (round((col("m4") / (col("m2") * col("m2")) - lit(3.0))
          / sqrt(lit(24.0) / col("n").cast("double")), 4) + lit(0.0)).as("z_kurt"))
      .orderBy("priority")

  /** Biweight midvariance (robust scale) of order totals on the $100
    * lattice: exact discrete median and MAD, Tukey weights u = (v−med)/
    * (9·MAD), BWMV = n·Σt(v−med)²(1−u²)⁴/(Σt(1−u²)(1−5u²))².
    */
  def q_biweight_midvariance(spark: SparkSession, sf: String): DataFrame = {
    val vals = Mat.once(Tables.orders(spark, sf)
      .select(expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
        .as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t")))
    val tot = vals.agg(sum(col("t")).as("n"))
      .select(col("n"), expr("CAST((n + 1) div 2 AS BIGINT)").as("k"))
    val cum = Mat.once(BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "cum")))
    val med = cum.crossJoin(broadcast(tot))
      .filter(col("cum") >= col("k")).agg(min(col("v")).as("med"))
    val dev = vals.crossJoin(broadcast(med))
      .select(abs(col("v") - col("med")).as("av"), col("t"))
      .groupBy(col("av")).agg(sum(col("t")).as("t"))
    val madCum = BandedScan.cumSums(dev, Seq.empty, "av", Seq("t" -> "cum"))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= col("k")).agg(min(col("av")).as("mad"))
    vals.crossJoin(broadcast(med)).crossJoin(broadcast(madCum))
      .crossJoin(broadcast(tot.select(col("n"))))
      .select(col("n"), col("med"), col("mad"), col("t"),
        (col("v") - col("med")).cast("double").as("d"),
        ((col("v") - col("med")).cast("double")
          / (lit(9.0) * col("mad").cast("double"))).as("u"))
      .filter(col("u") > -1.0 && col("u") < 1.0)
      .groupBy(col("n"), col("med"), col("mad"))
      .agg(sum(col("t").cast("double") * col("d") * col("d")
        * (lit(1.0) - col("u") * col("u")) * (lit(1.0) - col("u") * col("u"))
        * (lit(1.0) - col("u") * col("u")) * (lit(1.0) - col("u") * col("u")))
        .as("num"),
        sum(col("t").cast("double") * (lit(1.0) - col("u") * col("u"))
          * (lit(1.0) - lit(5.0) * col("u") * col("u"))).as("den"))
      .select(col("n").as("n_orders"), col("med").as("median_bin"),
        col("mad").as("mad_bin"),
        (round(col("n").cast("double") * col("num") / (col("den") * col("den")), 2)
          + lit(0.0)).as("bwmv_bins2"),
        (round(sqrt(col("n").cast("double") * col("num")
          / (col("den") * col("den"))), 4) + lit(0.0)).as("robust_sd_bins"))
  }

  /** One-sample Cramér–von Mises test of the discount percents against
    * the discrete uniform on 0..10: W² = 1/(12n) + Σ((2i−1)/2n − F₀)²
    * with the per-bin rank-run sums in closed form (exact integer
    * series).
    */
  def q_cvm_uniform(spark: SparkSession, sf: String): DataFrame = {
    val vals = Mat.once(Tables.lineitem(spark, sf)
      .select(pct(col("l_discount")).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t")))
    val cum = BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "ci"))
      .withColumn("cb", col("ci") - col("t"))
    val tot = vals.agg(sum(col("t")).as("n"))
    cum.crossJoin(broadcast(tot))
      .select(col("n"), col("t").cast("double").as("td"),
        ((col("v") + 1L).cast("double") / lit(11.0)).as("f0"),
        ((lit(2L) * col("t") * col("cb") + col("t") * col("t")).cast("double"))
          .as("s1"),
        // the rank-run cube (cb+t)³ reaches ~2e20 at sf1 (6M rows), past
        // 2⁶³ — DECIMAL(38,0) products, and the /6 stays DECIMAL too
        // (`div` would overflow its LONG result). p(p+1)(2p+1) ≡ 0 mod 6
        // so the decimal division is exact; the oracle mirrors in HUGEINT
        // with `// 6`, both cast the identical exact integer to DOUBLE,
        // so graded-scale hashes are unchanged
        expr("""CAST((4 * ((CAST(cb AS DECIMAL(38,0)) + t) * (cb + t + 1) * (2 * (cb + t) + 1)
          - CAST(cb AS DECIMAL(38,0)) * (cb + 1) * (2 * cb + 1))) / 6
          - 2 * (2 * t * cb + t * t) - t AS DOUBLE)""").as("s2raw"))
      .select(col("n"),
        (col("td") * col("f0") * col("f0")
          - col("f0") * col("s1") / col("n").cast("double")
          + col("s2raw")
            / (lit(4.0) * col("n").cast("double") * col("n").cast("double")))
          .as("contrib"))
      .groupBy(col("n")).agg(sum(col("contrib")).as("sc"))
      .select(col("n").as("n_items"),
        (round(lit(1.0) / (lit(12.0) * col("n").cast("double")) + col("sc"), 6)
          + lit(0.0)).as("cvm_w2"),
        when(lit(1.0) / (lit(12.0) * col("n").cast("double")) + col("sc")
          > lit(0.461), 1L).otherwise(0L).as("reject_uniform"))
  }

  /** Hartley's F-max and Cochran's C variance-homogeneity screens
    * across the five priorities — the quick ratios before Bartlett.
    */
  def q_hartley_fmax(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x").cast("double") * col("x").cast("double")).as("ss"))
      .select(((col("ss") - (col("s").cast("double") * col("s").cast("double"))
        / col("n").cast("double")) / (col("n").cast("double") - lit(1.0))).as("v"))
      .agg(count(lit(1)).as("k"), max(col("v")).as("vmax"), min(col("v")).as("vmin"),
        sum(col("v")).as("sv"))
      .select(col("k").as("n_groups"),
        (round(col("vmax") / col("vmin"), 4) + lit(0.0)).as("hartley_fmax"),
        (round(col("vmax") / col("sv"), 4) + lit(0.0)).as("cochran_c"))

  /** Scheffé simultaneous interval for the URGENT−LOW mean contrast:
    * half-width √((k−1)F₀.₀₅)·√(MSW(1/n₁+1/n₅)) with the pooled
    * within-group mean square.
    */
  def q_scheffe_contrast(spark: SparkSession, sf: String): DataFrame = {
    val g = Mat.once(Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x").cast("double") * col("x").cast("double")).as("ss")))
    val msw = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("ss") - (col("s").cast("double") * col("s").cast("double"))
          / col("n").cast("double")).as("ssw"))
      .select(col("k"),
        (col("ssw") / (col("nn").cast("double") - col("k").cast("double")))
          .as("msw"))
    val a = g.filter(col("g") === "1-URGENT")
      .select(col("n").as("n1"),
        (col("s").cast("double") / col("n").cast("double")).as("m1"))
    val b = g.filter(col("g") === "5-LOW")
      .select(col("n").as("n5"),
        (col("s").cast("double") / col("n").cast("double")).as("m5"))
    a.crossJoin(b).crossJoin(msw)
      .select(col("n1"), col("n5"),
        ((col("m1") - col("m5")) / lit(100.0)).as("d"),
        (sqrt((col("k").cast("double") - lit(1.0)) * lit(2.372))
          * sqrt(col("msw") * (lit(1.0) / col("n1").cast("double")
            + lit(1.0) / col("n5").cast("double"))) / lit(100.0)).as("hw"))
      .select(col("n1"), col("n5"),
        (round(col("d"), 2) + lit(0.0)).as("contrast_dollars"),
        (round(col("hw"), 2) + lit(0.0)).as("scheffe_halfwidth"),
        when(abs(col("d")) > col("hw"), 1L).otherwise(0L).as("significant"))
  }

  /** Orthogonal polynomial contrasts (linear −2..2 and quadratic
    * 2,−1,−2,−1,2) of mean order value across the ordered priorities,
    * each with its pooled-MSW t-statistic.
    */
  def q_polynomial_contrasts(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val g = Mat.once(Tables.orders(spark, sf)
      .select(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("j"),
        cents(col("o_totalprice")).as("x"))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x").cast("double") * col("x").cast("double")).as("ss")))
    val msw = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("ss") - (col("s").cast("double") * col("s").cast("double"))
          / col("n").cast("double")).as("ssw"))
      .select((col("ssw") / (col("nn").cast("double") - col("k").cast("double")))
        .as("msw"))
    val coefs = Seq(("linear", 1L, -2.0), ("linear", 2L, -1.0), ("linear", 3L, 0.0),
      ("linear", 4L, 1.0), ("linear", 5L, 2.0),
      ("quadratic", 1L, 2.0), ("quadratic", 2L, -1.0), ("quadratic", 3L, -2.0),
      ("quadratic", 4L, -1.0), ("quadratic", 5L, 2.0))
      .toDF("contrast", "j", "cf")
    g.join(broadcast(coefs), "j")
      .groupBy(col("contrast"))
      .agg(sum(col("cf") * (col("s").cast("double") / col("n").cast("double")))
        .as("l"),
        sum(col("cf") * col("cf") / col("n").cast("double")).as("c2n"))
      .crossJoin(broadcast(msw))
      .select(col("contrast"),
        (round(col("l") / lit(100.0), 2) + lit(0.0)).as("estimate_dollars"),
        (round(col("l") / sqrt(col("msw") * col("c2n")), 4) + lit(0.0)).as("t"))
      .orderBy("contrast")
  }

  /** Survival concordance (Harrell's C) between user lifetime and the
    * event-count risk score: comparable pairs anchored at churned
    * shorter lifetimes, ties at half credit — exact cell-pair counting
    * on the (lifetime, score) lattice.
    */
  def q_survival_cindex(spark: SparkSession, sf: String): DataFrame = {
    val obs = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts_us"))).as("d0"), max(to_date(col("ts_us"))).as("d1"),
        count(lit(1)).as("score"))
      .select(datediff(col("d1"), col("d0")).cast("long").as("t"),
        when(col("d1") <= lit("2024-01-23").cast("date"), 1L).otherwise(0L)
          .as("e"),
        col("score"))
      .groupBy(col("t"), col("e"), col("score")).agg(count(lit(1)).as("c")))
    obs.filter(col("e") === 1L).as("a")
      .join(obs.select(col("t").as("t2"), col("score").as("sc2"),
        col("c").as("c2")).as("b"), col("t2") > col("a.t"))
      .agg(sum(col("c") * col("c2")).as("comparable"),
        sum(when(col("a.score") > col("sc2"), col("c") * col("c2"))
          .otherwise(0L)).as("concordant"),
        sum(when(col("a.score") === col("sc2"), col("c") * col("c2"))
          .otherwise(0L)).as("tied"))
      .select(col("comparable"), col("concordant"), col("tied"),
        (round((lit(2L) * col("concordant") + col("tied")).cast("double")
          / (lit(2L) * col("comparable")).cast("double"), 4) + lit(0.0))
          .as("c_index"))
  }

  /** TOPSIS multi-criteria ranking of nations on (revenue↑, orders↑,
    * return-rate↓): vector-normalized criteria, Euclidean distances to
    * the ideal/anti-ideal, closeness ranked on the e6-rounded score.
    */
  def q_topsis_ranking(spark: SparkSession, sf: String): DataFrame = {
    val nat = Mat.once(Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"),
        count(lit(1)).as("cnt"),
        (sum(when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
          / count(lit(1)).cast("double")).as("rr")))
    val norms = nat.agg(
      sqrt(sum(col("rev").cast("double") * col("rev").cast("double"))).as("nr"),
      sqrt(sum(col("cnt").cast("double") * col("cnt").cast("double"))).as("nc"),
      sqrt(sum(col("rr") * col("rr"))).as("nrr"))
    val scaled = Mat.once(nat.crossJoin(broadcast(norms))
      .select(col("nk"), (col("rev").cast("double") / col("nr")).as("v1"),
        (col("cnt").cast("double") / col("nc")).as("v2"),
        (col("rr") / col("nrr")).as("v3")))
    val ideals = scaled.agg(max(col("v1")).as("b1"), max(col("v2")).as("b2"),
      min(col("v3")).as("b3"), min(col("v1")).as("w1"), min(col("v2")).as("w2"),
      max(col("v3")).as("w3"))
    scaled.crossJoin(broadcast(ideals))
      .select(col("nk").as("nation"),
        sqrt((col("v1") - col("b1")) * (col("v1") - col("b1"))
          + (col("v2") - col("b2")) * (col("v2") - col("b2"))
          + (col("v3") - col("b3")) * (col("v3") - col("b3"))).as("dplus"),
        sqrt((col("v1") - col("w1")) * (col("v1") - col("w1"))
          + (col("v2") - col("w2")) * (col("v2") - col("w2"))
          + (col("v3") - col("w3")) * (col("v3") - col("w3"))).as("dminus"))
      .select(col("nation"),
        (round(col("dminus") / (col("dplus") + col("dminus")), 6) + lit(0.0))
          .as("closeness"))
      .orderBy(col("closeness").desc, col("nation").asc)
      .limit(5)
  }

  /** Theta-method forecast backtest: the 50/50 blend of the linear
    * trend extrapolation and the SES (α=½, 12-month kernel) forecast,
    * scored against both components by MAE — the M3-winning baseline.
    */
  def q_theta_forecast(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val fit = rev.agg(count(lit(1)).as("n"), sum(col("m")).as("st"),
        sum(col("rev")).as("sy"), sum(col("m") * col("rev")).as("sty"),
        sum(col("m") * col("m")).as("stt"))
      .select(
        ((col("n").cast("double") * col("sty").cast("double")
          - col("st").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double"))).as("b"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("st").cast("double") / col("n").cast("double")).as("tbar"))
    sesPred(spark, sf).crossJoin(broadcast(fit))
      .select(col("actual").cast("double").as("y"), col("yhat").as("ses"),
        (col("ybar") + col("b") * (col("m").cast("double") - col("tbar")))
          .as("trend"))
      .select(col("y"), col("ses"), col("trend"),
        ((col("ses") + col("trend")) / lit(2.0)).as("theta"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("y") - col("ses"))).as("mses"),
        sum(abs(col("y") - col("trend"))).as("mtrend"),
        sum(abs(col("y") - col("theta"))).as("mtheta"))
      .select(col("n").as("n_forecasts"),
        (round(col("mtheta") / col("n").cast("double") / lit(100.0), 2) + lit(0.0))
          .as("theta_mae_dollars"),
        (round(col("mses") / col("n").cast("double") / lit(100.0), 2) + lit(0.0))
          .as("ses_mae_dollars"),
        (round(col("mtrend") / col("n").cast("double") / lit(100.0), 2) + lit(0.0))
          .as("trend_mae_dollars"),
        when(col("mtheta") < col("mses") && col("mtheta") < col("mtrend"), 1L)
          .otherwise(0L).as("theta_wins"))
  }

  /** Tracking signal of the SES forecast: cumulative signed error over
    * MAD — |TS| > 4 flags a biased forecast.
    */
  def q_tracking_signal(spark: SparkSession, sf: String): DataFrame =
    sesPred(spark, sf)
      .select((col("actual").cast("double") - col("yhat")).as("e"))
      .agg(count(lit(1)).as("n"), sum(col("e")).as("se"),
        sum(abs(col("e"))).as("sae"))
      .select(col("n").as("n_forecasts"),
        (round(col("se") / lit(100.0), 2) + lit(0.0)).as("cum_error_dollars"),
        (round(col("sae") / col("n").cast("double") / lit(100.0), 2) + lit(0.0))
          .as("mad_dollars"),
        (round(col("se") / (col("sae") / col("n").cast("double")), 4) + lit(0.0))
          .as("tracking_signal"),
        when(abs(col("se") / (col("sae") / col("n").cast("double"))) > 4.0, 1L)
          .otherwise(0L).as("biased"))

  /** Maximum-subarray (best consecutive run) of monthly revenue
    * changes: prefix sums via a cumulative theta join, the best
    * (i,j] window as the exact pair argmax with (gain, i, j)
    * tie-breaking.
    */
  def q_max_subarray(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val base = rev.agg(min(col("m")).as("m0"))
    val pre = Mat.once(rev.as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2") <= col("a.m"))
      .groupBy(col("a.m").as("m")).agg(sum(col("rev2")).as("cum"))
      .crossJoin(broadcast(base))
      .select(col("m"), col("cum")))
    val zero = base.select((col("m0") - 1L).as("m"), lit(0L).as("cum"))
    val pts = Mat.once(pre.union(zero))
    val best = pts.as("a")
      .join(pts.select(col("m").as("mj"), col("cum").as("cumj")).as("b"),
        col("mj") > col("m"))
      .select(col("m").as("mi"), col("mj"), (col("cumj") - col("cum")).as("gain"))
    val mx = best.agg(max(col("gain")).as("g"))
    best.crossJoin(broadcast(mx))
      .filter(col("gain") === col("g"))
      .groupBy(col("g"))
      .agg(min(struct(col("mi"), col("mj"))).as("w"))
      .select((col("w.mi") + 1L).as("start_month"), col("w.mj").as("end_month"),
        (col("w.mj") - col("w.mi")).as("window_months"),
        (round(col("g").cast("double") / lit(100.0), 2) + lit(0.0))
          .as("total_gain_dollars"))
  }

  /** One-step SimRank between brands on the customer–brand bipartite
    * graph: s(a,b) = C·|N(a)∩N(b)|/(|N(a)||N(b)|) with C = 0.8 —
    * top-10 brand pairs on the e6-rounded score.
    */
  def q_simrank_step(spark: SparkSession, sf: String): DataFrame = {
    val cb = Mat.once(Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select(col("o_custkey").as("c"), col("p_brand").as("b")).distinct())
    val deg = cb.groupBy(col("b")).agg(count(lit(1)).as("d"))
    val common = cb.as("x")
      .join(cb.select(col("c").as("c2"), col("b").as("b2")).as("y"),
        col("c2") === col("c") && col("b2") > col("x.b"))
      .groupBy(col("x.b").as("ba"), col("b2").as("bb"))
      .agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("b").as("ba"), col("d").as("da")), "ba")
      .join(deg.select(col("b").as("bb"), col("d").as("db")), "bb")
      .select(col("ba"), col("bb"),
        (round(lit(0.8) * col("common").cast("double")
          / (col("da").cast("double") * col("db").cast("double")), 6) + lit(0.0))
          .as("simrank1"))
      .orderBy(col("simrank1").desc, col("ba").asc, col("bb").asc)
      .limit(10)
  }

  /** Grey relational grade between the BUILDING and AUTOMOBILE monthly
    * revenue series (ρ = 0.5): per-month coefficients
    * (Δmin + ρΔmax)/(Δ + ρΔmax) on exact cent gaps, averaged.
    */
  def q_gray_relational(spark: SparkSession, sf: String): DataFrame = {
    def seg(name: String, out: String): DataFrame =
      Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
        .agg(sum(cents(col("o_totalprice"))).as(out))
    val d = Mat.once(seg("BUILDING", "ya").join(seg("AUTOMOBILE", "yb"), "m")
      .select(col("m"), abs(col("ya") - col("yb")).as("dl")))
    val ext = d.agg(min(col("dl")).as("dmin"), max(col("dl")).as("dmax"),
      count(lit(1)).as("n"))
    d.crossJoin(broadcast(ext))
      .select(col("n"),
        ((col("dmin").cast("double") + lit(0.5) * col("dmax").cast("double"))
          / (col("dl").cast("double") + lit(0.5) * col("dmax").cast("double")))
          .as("xi"))
      .groupBy(col("n"))
      .agg(sum(col("xi")).as("sxi"))
      .select(col("n").as("n_months"),
        (round(col("sxi") / col("n").cast("double"), 4) + lit(0.0))
          .as("grey_relational_grade"))
  }

  /** One sweep of Tukey median polish on the priority × calendar-month
    * mean-revenue table: exact lattice row medians, column medians of
    * the residuals, and the final max |residual| — all medians discrete
    * and bit-safe.
    */
  def q_median_polish(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.orders(spark, sf)
      .groupBy(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("r"),
        month(col("o_orderdate")).cast("long").as("cmo"))
      .agg(expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div COUNT(*) AS BIGINT)")
        .as("v")))
    def medOf(df: DataFrame, key: String, value: String): DataFrame =
      df.as("a")
        .join(df.select(col(key).as("k2"), col(value).as("v2")).as("b"),
          col("k2") === col(key))
        .groupBy(col(key), col(value))
        .agg(sum(when(col("v2") < col(value), 1L).otherwise(0L)).as("below"),
          count(lit(1)).as("tot"))
        .filter(lit(2L) * col("below") < col("tot")
          && lit(2L) * (col("below") + lit(1L)) >= col("tot"))
        .groupBy(col(key)).agg(min(col(value)).as("med"))
    val rowMed = medOf(cell.select(col("r").as("rk"), col("v")), "rk", "v")
      .select(col("rk"), col("med").as("rmed"))
    val resid1 = Mat.once(cell.join(broadcast(rowMed), col("r") === col("rk"))
      .select(col("r"), col("cmo"), (col("v") - col("rmed")).as("e1")))
    val colMed = medOf(resid1.select(col("cmo").as("ck"), col("e1")), "ck", "e1")
      .select(col("ck"), col("med").as("cmed"))
    resid1.join(broadcast(colMed), col("cmo") === col("ck"))
      .select((col("e1") - col("cmed")).as("e2"))
      .agg(count(lit(1)).as("n_cells"),
        max(abs(col("e2"))).as("max_abs_resid"),
        sum(abs(col("e2"))).as("sum_abs_resid"))
      .select(col("n_cells"),
        (round(col("max_abs_resid").cast("double") / lit(100.0), 2) + lit(0.0))
          .as("max_abs_resid_dollars"),
        (round(col("sum_abs_resid").cast("double")
          / (col("n_cells").cast("double") * lit(100.0)), 2) + lit(0.0))
          .as("mean_abs_resid_dollars"))
  }

  /** Seasonal strength F_s = max(0, 1 − Var(remainder)/Var(detrended))
    * of monthly revenue: linear detrend, calendar-month seasonal means,
    * remainder variance ratio.
    */
  def q_seasonal_strength(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
      .select(col("m"), (col("m") % 12L).as("cmo"), col("rev"))
    val fit = rev.agg(count(lit(1)).as("n"), sum(col("m")).as("st"),
        sum(col("rev")).as("sy"), sum(col("m") * col("rev")).as("sty"),
        sum(col("m") * col("m")).as("stt"))
      .select(col("n"),
        ((col("n").cast("double") * col("sty").cast("double")
          - col("st").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double"))).as("b"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("st").cast("double") / col("n").cast("double")).as("tbar"))
    val det = Mat.once(rev.crossJoin(broadcast(fit))
      .select(col("cmo"),
        (col("rev").cast("double") - col("ybar")
          - col("b") * (col("m").cast("double") - col("tbar"))).as("e")))
    val seas = det.groupBy(col("cmo")).agg(avg(col("e")).as("smean"))
    det.join(broadcast(seas), "cmo")
      .select(col("e"), (col("e") - col("smean")).as("r"))
      .agg(count(lit(1)).as("n"), sum(col("e") * col("e")).as("se2"),
        sum(col("e")).as("se"), sum(col("r") * col("r")).as("sr2"),
        sum(col("r")).as("sr"))
      .select(col("n").as("n_months"),
        (round(greatest(lit(0.0), lit(1.0)
          - (col("sr2") / col("n").cast("double")
            - (col("sr") / col("n").cast("double"))
              * (col("sr") / col("n").cast("double")))
          / (col("se2") / col("n").cast("double")
            - (col("se") / col("n").cast("double"))
              * (col("se") / col("n").cast("double")))), 4) + lit(0.0))
          .as("seasonal_strength"))
  }

  /** Blomqvist's β (medial correlation) between the two segments'
    * monthly revenue: quadrant concordance around the exact lattice
    * medians, β = (n_same − n_diff)/(n_same + n_diff).
    */
  def q_blomqvist_beta(spark: SparkSession, sf: String): DataFrame = {
    def seg(name: String, out: String): DataFrame =
      Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
        .agg(sum(cents(col("o_totalprice"))).as(out))
    val xy = Mat.once(seg("BUILDING", "x").join(seg("AUTOMOBILE", "y"), "m"))
    def med(value: String): DataFrame = {
      val v = xy.select(col(value).as("v"))
      val tot = v.agg(count(lit(1)).as("n"))
        .select(expr("CAST((n + 1) div 2 AS BIGINT)").as("k"))
      // banded scan over the value lattice; cum = t·(inclusive row count)
      // reproduces the original row-pair count exactly even under ties.
      val lat = v.groupBy(col("v")).agg(count(lit(1)).as("t"))
      BandedScan.cumSums(lat, Seq.empty, "v", Seq("t" -> "ci"))
        .select(col("v"), (col("t") * col("ci")).as("cum"))
        .crossJoin(broadcast(tot))
        .filter(col("cum") >= col("k")).agg(min(col("v")).as(s"med_$value"))
    }
    xy.crossJoin(broadcast(med("x"))).crossJoin(broadcast(med("y")))
      .filter(col("x") =!= col("med_x") && col("y") =!= col("med_y"))
      .agg(count(lit(1)).as("n_used"),
        sum(when((col("x") > col("med_x")) === (col("y") > col("med_y")), 1L)
          .otherwise(0L)).as("same"))
      .select(col("n_used"), col("same"),
        (round((lit(2L) * col("same") - col("n_used")).cast("double")
          / col("n_used").cast("double"), 4) + lit(0.0)).as("blomqvist_beta"))
  }

  /** Hoeffding's D independence statistic between the two segments'
    * monthly revenue (strict ranks on exact cents, no ties at cent
    * resolution): D from the classical D₁/D₂/D₃ pair-count sums.
    */
  def q_hoeffding_d(spark: SparkSession, sf: String): DataFrame = {
    def seg(name: String, out: String): DataFrame =
      Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === name)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
        .agg(sum(cents(col("o_totalprice"))).as(out))
    val xy = Mat.once(seg("BUILDING", "x").join(seg("AUTOMOBILE", "y"), "m"))
    val ranks = Mat.once(xy.as("a")
      .join(xy.select(col("m").as("m2"), col("x").as("x2"), col("y").as("y2"))
        .as("b"), col("m2") =!= col("a.m"))
      .groupBy(col("a.m").as("m"))
      .agg((sum(when(col("x2") < col("a.x"), 1L).otherwise(0L)) + 1L).as("r"),
        (sum(when(col("y2") < col("a.y"), 1L).otherwise(0L)) + 1L).as("s"),
        sum(when(col("x2") < col("a.x") && col("y2") < col("a.y"), 1L)
          .otherwise(0L)).as("q")))
    ranks.agg(count(lit(1)).as("n"),
        sum(col("q") * (col("q") - 1L)).as("d1"),
        sum((col("r") - 1L) * (col("r") - 2L) * (col("s") - 1L)
          * (col("s") - 2L)).as("d2"),
        sum((col("r") - 2L) * (col("s") - 2L) * col("q")).as("d3"))
      .select(col("n").as("n_months"),
        (round(lit(30.0)
          * ((col("n").cast("double") - lit(2.0))
            * (col("n").cast("double") - lit(3.0)) * col("d1").cast("double")
            + col("d2").cast("double")
            - lit(2.0) * (col("n").cast("double") - lit(2.0))
              * col("d3").cast("double"))
          / (col("n").cast("double") * (col("n").cast("double") - lit(1.0))
            * (col("n").cast("double") - lit(2.0))
            * (col("n").cast("double") - lit(3.0))
            * (col("n").cast("double") - lit(4.0))), 6) + lit(0.0))
          .as("hoeffding_d"))
  }

  /** Concentration-inequality reality check on daily order counts: the
    * empirical tail P(X ≥ 1.5μ) against the Markov, Chebyshev and
    * Cantelli bounds at the same threshold — exact counts vs
    * identically-derived bounds.
    */
  def q_tail_bounds(spark: SparkSession, sf: String): DataFrame = {
    val dc = Mat.once(Tables.orders(spark, sf)
      .groupBy(datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").as("d"))
      .agg(count(lit(1)).as("c")))
    val st = dc.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .select(col("n"),
        (col("sc").cast("double") / col("n").cast("double")).as("mu"),
        (col("scc").cast("double") / col("n").cast("double")
          - (col("sc").cast("double") / col("n").cast("double"))
            * (col("sc").cast("double") / col("n").cast("double"))).as("v"))
    dc.crossJoin(broadcast(st))
      .groupBy(col("n"), col("mu"), col("v"))
      .agg(sum(when(col("c").cast("double") >= lit(1.5) * col("mu"), 1L)
        .otherwise(0L)).as("n_tail"))
      .select(col("n").as("n_days"),
        (round(lit(1.5) * col("mu"), 2) + lit(0.0)).as("threshold"),
        (round(col("n_tail").cast("double") / col("n").cast("double"), 4)
          + lit(0.0)).as("empirical_tail"),
        (round(col("mu") / (lit(1.5) * col("mu")), 4) + lit(0.0)).as("markov_bound"),
        (round(col("v") / (lit(0.25) * col("mu") * col("mu")), 4) + lit(0.0))
          .as("chebyshev_bound"),
        (round(col("v") / (col("v") + lit(0.25) * col("mu") * col("mu")), 4)
          + lit(0.0)).as("cantelli_bound"))
  }

  /** CLT diagnostic: the skewness of revenue at daily, weekly and
    * monthly aggregation — the shrink toward 0 as the aggregation
    * widens is the central limit theorem in the data.
    */
  def q_clt_diagnostic(spark: SparkSession, sf: String): DataFrame = {
    def skewOf(unit: String, grain: Column): DataFrame =
      Tables.orders(spark, sf)
        .groupBy(grain.as("g"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
        .agg(count(lit(1)).as("n"),
          sum(col("rev").cast("double")).as("s1"),
          sum(col("rev").cast("double") * col("rev").cast("double")).as("s2"),
          sum(col("rev").cast("double") * col("rev").cast("double")
            * col("rev").cast("double")).as("s3"))
        .select(lit(unit).as("level"), col("n"),
          (col("s1") / col("n").cast("double")).as("mu"),
          (col("s2") / col("n").cast("double")).as("a2"),
          (col("s3") / col("n").cast("double")).as("a3"))
        .select(col("level"), col("n"),
          (col("a2") - col("mu") * col("mu")).as("m2"),
          (col("a3") - lit(3.0) * col("mu") * col("a2")
            + lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"))
        .select(col("level"), col("n"),
          (round(col("m3") / (col("m2") * sqrt(col("m2"))), 4) + lit(0.0))
            .as("skew"))
    val day = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
      .cast("long")
    skewOf("1_daily", day)
      .union(skewOf("2_weekly", expr("CAST(datediff(o_orderdate, DATE '1992-01-01') div 7 AS BIGINT)")))
      .union(skewOf("3_monthly",
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long")))
      .orderBy("level")
  }

  /** Zero-inflated Poisson method-of-moments fit of customer-month
    * order counts (zeros included via the customer×month universe):
    * λ = (v + m̄² − m̄)/m̄, π = 1 − m̄/λ, with the observed zero share.
    */
  def q_zip_fit(spark: SparkSession, sf: String): DataFrame = {
    val months = Tables.orders(spark, sf)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m")).distinct()
    val custs = Tables.orders(spark, sf)
      .select(col("o_custkey").as("c")).distinct()
    val counts = Tables.orders(spark, sf)
      .groupBy(col("o_custkey").as("c"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(count(lit(1)).as("k"))
    custs.crossJoin(broadcast(months))
      .join(counts, Seq("c", "m"), "left")
      .select(coalesce(col("k"), lit(0L)).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
        sum(col("k") * col("k")).as("skk"),
        sum(when(col("k") === 0L, 1L).otherwise(0L)).as("z"))
      .select(col("n"),
        (col("sk").cast("double") / col("n").cast("double")).as("mbar"),
        (col("skk").cast("double") / col("n").cast("double")
          - (col("sk").cast("double") / col("n").cast("double"))
            * (col("sk").cast("double") / col("n").cast("double"))).as("v"),
        (col("z").cast("double") / col("n").cast("double")).as("z0"))
      .select(col("n").as("n_cells"),
        (round(col("mbar"), 4) + lit(0.0)).as("mean_count"),
        (round(col("v"), 4) + lit(0.0)).as("var_count"),
        (round((col("v") + col("mbar") * col("mbar") - col("mbar")) / col("mbar"), 4)
          + lit(0.0)).as("zip_lambda"),
        (round(lit(1.0) - col("mbar")
          / ((col("v") + col("mbar") * col("mbar") - col("mbar")) / col("mbar")), 4)
          + lit(0.0)).as("zip_pi_zero"),
        (round(col("z0"), 4) + lit(0.0)).as("observed_zero_share"))
  }

  /** DFBETAS of the monthly trend slope: standardized single-point
    * slope changes e(m−t̄)/((1−h)S_tt·se_b), top-5 most influential
    * months on the e6-rounded magnitude.
    */
  def q_dfbetas(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val fit = rev.agg(count(lit(1)).as("n"), sum(col("m")).as("st"),
        sum(col("rev")).as("sy"), sum(col("m") * col("rev")).as("sty"),
        sum(col("m") * col("m")).as("stt"))
      .select(col("n"),
        ((col("n").cast("double") * col("sty").cast("double")
          - col("st").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double"))).as("b"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("st").cast("double") / col("n").cast("double")).as("tbar"),
        (col("stt").cast("double")
          - col("st").cast("double") * col("st").cast("double")
            / col("n").cast("double")).as("cstt"))
    val resid = Mat.once(rev.crossJoin(broadcast(fit))
      .select(col("m"), col("n"), col("cstt"), col("tbar"),
        (lit(1.0) / col("n").cast("double")
          + (col("m").cast("double") - col("tbar"))
            * (col("m").cast("double") - col("tbar")) / col("cstt")).as("h"),
        (col("rev").cast("double") - col("ybar")
          - col("b") * (col("m").cast("double") - col("tbar"))).as("e")))
    val s2 = resid.agg(max(col("n")).as("nn"), max(col("cstt")).as("cs"),
        sum(col("e") * col("e")).as("rss"))
      .select((col("rss") / (col("nn").cast("double") - lit(2.0))).as("s2"),
        col("cs"))
    resid.crossJoin(broadcast(s2))
      .select(col("m"),
        (round((col("e") * (col("m").cast("double") - col("tbar"))
          / ((lit(1.0) - col("h")) * col("cstt")))
          / sqrt(col("s2") / col("cs")), 6) + lit(0.0)).as("dfbetas"))
      .select(col("m"), col("dfbetas"), abs(col("dfbetas")).as("mag"))
      .orderBy(col("mag").desc, col("m").asc)
      .limit(5)
      .select(col("m"), col("dfbetas"))
  }

  /** PRESS statistic and predicted R² of the monthly trend fit:
    * PRESS = Σ(e/(1−h))², R²_pred = 1 − PRESS/S_yy.
    */
  def q_press_statistic(spark: SparkSession, sf: String): DataFrame = {
    val rev = monthlyRevenue(spark, sf)
    val fit = rev.agg(count(lit(1)).as("n"), sum(col("m")).as("st"),
        sum(col("rev")).as("sy"), sum(col("m") * col("rev")).as("sty"),
        sum(col("m") * col("m")).as("stt"),
        sum(col("rev").cast("double") * col("rev").cast("double")).as("syy"))
      .select(col("n"),
        ((col("n").cast("double") * col("sty").cast("double")
          - col("st").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("stt").cast("double")
            - col("st").cast("double") * col("st").cast("double"))).as("b"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("st").cast("double") / col("n").cast("double")).as("tbar"),
        (col("stt").cast("double")
          - col("st").cast("double") * col("st").cast("double")
            / col("n").cast("double")).as("cstt"),
        (col("syy") - col("sy").cast("double") * col("sy").cast("double")
          / col("n").cast("double")).as("cyy"))
    rev.crossJoin(broadcast(fit))
      .select(col("n"), col("cyy"),
        ((col("rev").cast("double") - col("ybar")
          - col("b") * (col("m").cast("double") - col("tbar")))
          / (lit(1.0) - (lit(1.0) / col("n").cast("double")
            + (col("m").cast("double") - col("tbar"))
              * (col("m").cast("double") - col("tbar")) / col("cstt"))))
          .as("pe"),
        (col("rev").cast("double") - col("ybar")
          - col("b") * (col("m").cast("double") - col("tbar"))).as("e"))
      .groupBy(col("n"), col("cyy"))
      .agg(sum(col("pe") * col("pe")).as("press"),
        sum(col("e") * col("e")).as("rss"))
      .select(col("n").as("n_months"),
        (round(lit(1.0) - col("rss") / col("cyy"), 4) + lit(0.0)).as("r2_fit"),
        (round(lit(1.0) - col("press") / col("cyy"), 4) + lit(0.0)).as("r2_pred"),
        (round(col("press") / col("rss"), 4) + lit(0.0)).as("press_over_rss"))
  }

  /** Rank–size (Zipf) rule for nation revenues: ln(rank) on ln(revenue)
    * OLS slope (≈ −1 under Zipf), ranks exact via count-greater+1.
    */
  def q_rank_size_rule(spark: SparkSession, sf: String): DataFrame = {
    val nat = Mat.once(Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum(cents(col("o_totalprice"))).as("rev")))
    nat.as("a")
      .join(nat.select(col("nk").as("nk2"), col("rev").as("rev2")).as("b"),
        col("rev2") > col("a.rev")
          || (col("rev2") === col("a.rev") && col("nk2") < col("a.nk")), "left")
      .groupBy(col("a.nk").as("nk"), col("a.rev").as("rev"))
      .agg((count(col("nk2")) + 1L).as("rnk"))
      .select(log(col("rnk").cast("double")).as("x"),
        log(col("rev").cast("double")).as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_nations"),
        (round((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (col("n").cast("double") * col("sxx") - col("sx") * col("sx")), 4)
          + lit(0.0)).as("zipf_slope"),
        (round((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          * (col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / ((col("n").cast("double") * col("sxx") - col("sx") * col("sx"))
            * (col("n").cast("double") * col("syy") - col("sy") * col("sy"))), 4)
          + lit(0.0)).as("r2"))
  }

  /** Decile dispersion ratios of per-customer revenue on the $100
    * lattice: exact discrete P10/P50/P90 and the P90/P10, P90/P50
    * ratios.
    */
  def q_decile_ratio(spark: SparkSession, sf: String): DataFrame = {
    val vals = Mat.once(Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 10000 AS BIGINT)")
        .as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t")))
    val tot = vals.agg(sum(col("t")).as("n"))
      .select(col("n"),
        expr("CAST((n + 9) div 10 AS BIGINT)").as("k10"),
        expr("CAST((n + 1) div 2 AS BIGINT)").as("k50"),
        expr("CAST((9 * n + 9) div 10 AS BIGINT)").as("k90"))
    BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "cum"))
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_customers"),
        min(when(col("cum") >= col("k10"), col("v"))).as("p10_bin"),
        min(when(col("cum") >= col("k50"), col("v"))).as("p50_bin"),
        min(when(col("cum") >= col("k90"), col("v"))).as("p90_bin"))
      .select(col("n_customers"), col("p10_bin"), col("p50_bin"), col("p90_bin"),
        (round(col("p90_bin").cast("double") / col("p10_bin").cast("double"), 4)
          + lit(0.0)).as("p90_p10"),
        (round(col("p90_bin").cast("double") / col("p50_bin").cast("double"), 4)
          + lit(0.0)).as("p90_p50"))
  }

  /** Index of qualitative variation of the market-segment distribution:
    * IQV = (k/(k−1))(1 − Σp²) — 1 means perfectly even categories.
    */
  def q_iqv(spark: SparkSession, sf: String): DataFrame =
    Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("k"), sum(col("c")).as("n"),
        sum(col("c") * col("c")).as("scc"))
      .select(col("k").as("n_categories"), col("n").as("n_customers"),
        (round((col("k").cast("double") / (col("k").cast("double") - lit(1.0)))
          * (lit(1.0) - col("scc").cast("double")
            / (col("n").cast("double") * col("n").cast("double"))), 4) + lit(0.0))
          .as("iqv"))

  /** Pearson's second skewness coefficient 3(mean − median)/σ of order
    * totals on the $100 lattice (exact discrete median), with the
    * range-rule σ ≈ range/4 sanity ratio alongside.
    */
  def q_pearson_skew2(spark: SparkSession, sf: String): DataFrame = {
    val vals = Mat.once(Tables.orders(spark, sf)
      .select(expr("CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) div 10000 AS BIGINT)")
        .as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t")))
    val st = vals.agg(sum(col("t")).as("n"),
        sum(col("v") * col("t")).as("sv"),
        sum(col("v").cast("double") * col("v").cast("double")
          * col("t").cast("double")).as("svv"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .select(col("n"), col("vmin"), col("vmax"),
        expr("CAST((n + 1) div 2 AS BIGINT)").as("k"),
        (col("sv").cast("double") / col("n").cast("double")).as("mu"),
        sqrt(col("svv") / col("n").cast("double")
          - (col("sv").cast("double") / col("n").cast("double"))
            * (col("sv").cast("double") / col("n").cast("double"))).as("sig"))
    val med = BandedScan.cumSums(vals, Seq.empty, "v", Seq("t" -> "cum"))
      .crossJoin(broadcast(st.select(col("k"))))
      .filter(col("cum") >= col("k")).agg(min(col("v")).as("med"))
    st.crossJoin(med)
      .select(col("n").as("n_orders"),
        (round(lit(3.0) * (col("mu") - col("med").cast("double")) / col("sig"), 4)
          + lit(0.0)).as("pearson_skew2"),
        (round(col("sig")
          / ((col("vmax") - col("vmin")).cast("double") / lit(4.0)), 4) + lit(0.0))
          .as("sd_over_range4"))
  }

  /** Pairwise Hellinger distance between the nations' market-segment
    * mixes: H = √(1 − Σᵢ√(pᵢqᵢ)) — the bounded [0,1] metric (unlike KL)
    * segmentation monitors use to compare categorical profiles.
    * Segment support is densified (every nation × every segment, zeros
    * included) so both engines sum the same 5 terms; each √(p·q) is
    * e8-rounded before the order-free sum and only the final √(1−BC) is
    * a float epilogue. Profile table is |nations|×|segments| — tiny at
    * any scale; the pair join is |nations|²-bounded, never row-scaled.
    */
  def q_hellinger_distance(spark: SparkSession, sf: String): DataFrame = {
    val cn = Tables.customer(spark, sf)
      .join(broadcast(Tables.nation(spark, sf)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment")).agg(count(lit(1)).as("c"))
    val tot = cn.groupBy(col("n_name")).agg(sum(col("c")).as("t"))
    val segs = cn.select(col("c_mktsegment")).distinct()
    val dense = Mat.once(tot.crossJoin(segs)
      .join(cn, Seq("n_name", "c_mktsegment"), "left_outer")
      .select(col("n_name"), col("c_mktsegment"), col("t"),
        coalesce(col("c"), lit(0L)).as("c")))
    val pa = col("a.c").cast("double") / col("a.t").cast("double")
    val pb = col("b.c").cast("double") / col("b.t").cast("double")
    dense.as("a")
      .join(dense.as("b"),
        col("a.c_mktsegment") === col("b.c_mktsegment") &&
          col("a.n_name") < col("b.n_name"))
      .select(col("a.n_name").as("nation_a"), col("b.n_name").as("nation_b"),
        round(sqrt(pa * pb) * lit(1e8)).cast("long").as("term_e8"))
      .groupBy(col("nation_a"), col("nation_b"))
      .agg(sum(col("term_e8")).as("bc_e8"))
      .select(col("nation_a"), col("nation_b"), col("bc_e8"),
        (round(sqrt(greatest(lit(0.0),
          lit(1.0) - col("bc_e8").cast("double") / lit(1e8))), 4) + lit(0.0))
          .as("hellinger"))
      .orderBy("nation_a", "nation_b")
  }

  /** Total-variation distance of each month's order-priority mix from
    * the global mix: TV = ½Σᵢ|pᵢ−qᵢ| — the worst-case-event drift bound
    * (every other f-divergence upper-bounds it) a mix monitor alarms on.
    * The numerator is EXACT integer arithmetic (|cᵢ·N − gᵢ·n| summed
    * over densified priorities); the single float is the final
    * normalization by 2nN. One scan, three small keyed aggregates —
    * the monthly profile table is |months|×|priorities|, scale-invariant.
    */
  def q_total_variation(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderpriority").as("prio"))
    val mc = Mat.once(o.groupBy(col("month"), col("prio")).agg(count(lit(1)).as("c")))
    val mt = mc.groupBy(col("month")).agg(sum(col("c")).as("n"))
    val gc = mc.groupBy(col("prio")).agg(sum(col("c")).as("g"))
    val gt = gc.agg(sum(col("g")).as("nn"))
    mt.crossJoin(broadcast(gc)).crossJoin(broadcast(gt))
      .join(mc, Seq("month", "prio"), "left_outer")
      .select(col("month"), col("n"), col("nn"),
        abs(coalesce(col("c"), lit(0L)) * col("nn") - col("g") * col("n")).as("num"))
      .groupBy(col("month"), col("n"), col("nn"))
      .agg(sum(col("num")).as("s_abs"))
      .select(col("month"), col("n").as("n_orders"), col("s_abs"),
        (round(col("s_abs").cast("double") /
          (lit(2.0) * col("n").cast("double") * col("nn").cast("double")), 4)
          + lit(0.0)).as("tv"))
      .orderBy("month")
  }

  /** Two-sample Cramér–von Mises test (returnflag A vs R on quantity
    * cents): T = U/(mn(m+n)) − (4mn−1)/(6(m+n)) with
    * U = m·Σ_A(r−i)² + n·Σ_R(s−j)². Within a tied value the A-run
    * precedes the R-run (fixed deterministic order, documented — the
    * classic statistic assumes continuous data), which makes (rank −
    * own-index) CONSTANT across each run: Σ(r−i)² over the A-run at
    * value v is just ca(v)·(#R<v)², and for the R-run cr(v)·(#A≤v)². So
    * the whole statistic reduces to one value-lattice aggregate over
    * [[BandedScan]] cumulatives — no global sort, no per-row ranks, the
    * only shape that survives a 100× value domain. U is assembled in
    * doubles from exact ≤2⁵³ integers with one fixed IEEE tree.
    */
  def q_cvm_twosample(spark: SparkSession, sf: String): DataFrame = {
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag").as("rf"), cents(col("l_quantity")).as("qc"))
    val cell = Mat.once(li.groupBy(col("qc")).agg(
      sum(when(col("rf") === "A", 1L).otherwise(0L)).as("ca"),
      sum(when(col("rf") === "R", 1L).otherwise(0L)).as("cr")))
    val cum = BandedScan.cumSums(cell, Seq(), "qc",
      Seq("ca" -> "cuma", "cr" -> "cumr"))
    cum.agg(
      sum(col("ca") * (col("cumr") - col("cr")) * (col("cumr") - col("cr")))
        .as("sa"),
      sum(col("cr") * col("cuma") * col("cuma")).as("sr"),
      sum(col("ca")).as("m"), sum(col("cr")).as("n"))
      .select(col("m"), col("n"), col("sa"), col("sr"),
        (round(
          (col("m").cast("double") * col("sa").cast("double") +
            col("n").cast("double") * col("sr").cast("double")) /
            (col("m").cast("double") * col("n").cast("double") *
              (col("m") + col("n")).cast("double")) -
            (lit(4.0) * col("m").cast("double") * col("n").cast("double") - lit(1.0)) /
              (lit(6.0) * (col("m") + col("n")).cast("double")), 4) + lit(0.0))
          .as("t_stat"))
  }

  /** Grubbs' outlier test per market segment on account balances:
    * G = max|x−x̄|/s with the argmax customer (tie → min custkey). The
    * deviation ranking is EXACT integer arithmetic (|x·n − Σx| in
    * cents·n — no float compare decides the argmax); G itself is one
    * fixed double tree over integer sufficient statistics (n, Σx, Σx²).
    * Two keyed aggregates + one broadcast argmax join — no sort, no
    * window; the single-pass shape a 100 TB outlier sweep needs.
    */
  def q_grubbs_test(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(spark, sf)
      .select(col("c_mktsegment").as("segment"), col("c_custkey"),
        cents(col("c_acctbal")).as("bc"))
    val st = c.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("bc")).as("s"),
        sum(col("bc") * col("bc")).as("q"))
    val dev = c.join(broadcast(st), Seq("segment"))
      .select(col("segment"), col("c_custkey"), col("bc"),
        abs(col("bc") * col("n") - col("s")).as("dev"))
    val mx = dev.groupBy(col("segment")).agg(max(col("dev")).as("maxdev"))
    val nD = col("n").cast("double")
    val sD = col("s").cast("double")
    val qD = col("q").cast("double")
    dev.join(broadcast(mx), Seq("segment"))
      .filter(col("dev") === col("maxdev"))
      .groupBy(col("segment"), col("maxdev"))
      .agg(min(col("c_custkey")).as("outlier_custkey"))
      .join(st, Seq("segment"))
      .select(col("segment"), col("n"), col("outlier_custkey"),
        (round((col("maxdev").cast("double") / nD) /
          sqrt((nD * qD - sD * sD) / (nD * (nD - lit(1.0)))), 4) + lit(0.0))
          .as("g_stat"))
      .orderBy("segment")
  }

  /** Brown–Forsythe robust variance-homogeneity test across return
    * flags on quantity cents: one-way ANOVA F on zᵢⱼ = |xᵢⱼ − medⱼ|
    * (MEDIAN-centered — the robust variant of Levene). Group medians
    * come from the integer value lattice ([[BandedScan]] cumulative +
    * smallest v with cum ≥ (n+1)/2 — no sort); z is integer cents, so
    * every sufficient statistic (nⱼ, Σz, Σz²) is exact, the per-group
    * Σz²/n terms are e4-latticed before the cross-group sum, and F is
    * one double epilogue. Three keyed aggregates over a ≤|values|
    * lattice — scale-flat.
    */
  def q_brown_forsythe(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("rf"), cents(col("l_quantity")).as("qc"))
      .groupBy(col("rf"), col("qc")).agg(count(lit(1)).as("cnt")))
    val cum = BandedScan.cumSums(cell, Seq("rf"), "qc", Seq("cnt" -> "cum"))
    val gn = cell.groupBy(col("rf")).agg(sum(col("cnt")).as("ng"))
    val med = cum.join(broadcast(gn), Seq("rf"))
      .filter(col("cum") * 2L >= col("ng") + 1L)
      .groupBy(col("rf")).agg(min(col("qc")).as("med"))
    val z = cell.join(broadcast(med), Seq("rf"))
      .select(col("rf"), col("cnt"), abs(col("qc") - col("med")).as("z"))
    val g = z.groupBy(col("rf"))
      .agg(sum(col("cnt")).as("ng"), sum(col("cnt") * col("z")).as("sz"),
        sum(col("cnt") * col("z") * col("z")).as("qz"))
      .select(col("ng"), col("sz"), col("qz"),
        round(col("sz").cast("double") * col("sz").cast("double") /
          col("ng").cast("double") * lit(1e4)).cast("long").as("t1_e4"))
    val t = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("nn"),
      sum(col("sz")).as("szt"), sum(col("qz")).as("qzt"),
      sum(col("t1_e4")).as("st1_e4"))
    val nnD = col("nn").cast("double")
    val kD = col("k").cast("double")
    val ssb = col("st1_e4").cast("double") / lit(1e4) -
      col("szt").cast("double") * col("szt").cast("double") / nnD
    val ssw = col("qzt").cast("double") - col("st1_e4").cast("double") / lit(1e4)
    t.select(col("k").as("k_groups"), col("nn").as("n_total"),
      (round((ssb / (kD - lit(1.0))) / (ssw / (nnD - kD)), 4) + lit(0.0))
        .as("f_stat"))
  }

  /** Cochran's C homogeneity screen: is one weekday's event-value
    * variance an outlying share of the total? C = max s²ⱼ / Σ s²ⱼ over
    * the 7 weekday groups (Monday=0 — Spark `weekday` ↔ DuckDB
    * `isodow−1`). Each group variance is one fixed double tree over
    * exact integer (n, Σx, Σx²) and e4-latticed BEFORE the cross-group
    * max/sum, so the ratio is integer-exact; argmax tie → smaller
    * weekday. One aggregate over 7 groups — nothing scales with rows.
    */
  def q_cochran_c(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.eventsWithTs(spark, sf)
      .select(weekday(col("ts_us")).cast("long").as("dow"),
        cents(col("value")).as("vc"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"),
        sum(col("vc") * col("vc")).as("q"))
    val nD = col("n").cast("double")
    val s2 = (nD * col("q").cast("double") -
      col("s").cast("double") * col("s").cast("double")) /
      (nD * (nD - lit(1.0)))
    val lat = g.select(col("dow"), col("n"),
      round(s2 * lit(1e4)).cast("long").as("s2_e4"))
    val top = lat
      .select(struct(col("s2_e4").as("s2"), (-col("dow")).as("nd")).as("key"),
        col("s2_e4"))
      .agg(max(col("key")).as("mx"), sum(col("s2_e4")).as("tot"),
        count(lit(1)).as("k"))
    top.select(col("k").as("k_groups"),
      col("mx").getField("s2").as("max_s2_e4"), col("tot").as("sum_s2_e4"),
      (-col("mx").getField("nd")).as("argmax_dow"),
      (round(col("mx").getField("s2").cast("double") /
        col("tot").cast("double"), 4) + lit(0.0)).as("c_stat"))
  }

  /** Ansari–Bradley dispersion test (linestatus O vs F on discount
    * percent): scores min(rank, N+1−rank) pile the small scores on the
    * extremes, so W = Σ_O score detects scale differences. Within a
    * tied value the O-run precedes the F-run (fixed deterministic
    * order, documented — like [[q_cvm_twosample]]), which makes every
    * run's score sum a CLOSED FORM S(hi)−S(lo) of the prefix function
    * S(x) = Σ_{p≤x} min(p, N+1−p) — pure integer arithmetic, no per-row
    * ranks, no sort. Null moments use the exact score totals
    * ΣS = S(N), Σs² = Q(k)+Q(N−k) (Q = sum of squares), z is one double
    * epilogue. One tiny value lattice + [[BandedScan]] cumulative.
    */
  def q_ansari_bradley(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_linestatus").as("ls"), pct(col("l_discount")).as("dp"))
      .groupBy(col("dp"))
      .agg(sum(when(col("ls") === "O", 1L).otherwise(0L)).as("co"),
        count(lit(1)).as("ct")))
    val cum = BandedScan.cumSums(cell, Seq(), "dp", Seq("ct" -> "cumt"))
    val tot = cell.agg(sum(col("co")).as("m"), sum(col("ct")).as("nt"))
    // S(x) = sum_{p=1..x} min(p, T-p), T = N+1, kk = T div 2 — all
    // integer `div` arithmetic (Column `/` on longs would go double and
    // lose exactness past 2^53)
    def sp(x: String): Column = expr(
      s"(least($x, kk) * (least($x, kk) + 1)) div 2 + " +
        s"(CASE WHEN $x > kk THEN ($x - kk) * t - " +
        s"(($x * ($x + 1)) div 2 - (kk * (kk + 1)) div 2) ELSE 0 END)")
    val withTot = cum.crossJoin(broadcast(tot))
      .select(col("co"), col("ct"), col("cumt"), col("m"), col("nt"),
        (col("nt") + 1L).as("t"), expr("(nt + 1) div 2").as("kk"))
      .withColumn("x1", col("cumt") - col("ct") + col("co"))
      .withColumn("x0", col("cumt") - col("ct"))
    val w = withTot
      .select(col("m"), col("nt"), col("t"), col("kk"),
        (sp("x1") - sp("x0")).as("wrun"))
      .groupBy(col("m"), col("nt"), col("t"), col("kk"))
      .agg(sum(col("wrun")).as("w"))
    val mD = col("m").cast("double")
    val nD = (col("nt") - col("m")).cast("double")
    val ntD = col("nt").cast("double")
    w.withColumn("xn", col("nt"))
      .select(col("m"), (col("nt") - col("m")).as("n"), col("w").as("w_stat"),
        sp("xn").as("ssum"),
        // the score-square total Q(kk)+Q(nt−kk) crosses 2⁶³ at sf1
        // (kk ≈ 3e6 → each cube term ~9e18, their sum ~1.8e19) —
        // DECIMAL(38,0) products with an exact decimal /6
        // (p(p+1)(2p+1) ≡ 0 mod 6; `div` would overflow its LONG
        // result). Consumed only as DOUBLE in the z epilogue, and the
        // oracle mirrors in HUGEINT, so graded-scale hashes are
        // unchanged.
        expr("""CAST((CAST(kk AS DECIMAL(38,0)) * (kk + 1) * (2 * kk + 1)) / 6
          + (CAST(nt - kk AS DECIMAL(38,0)) * (nt - kk + 1) * (2 * (nt - kk) + 1)) / 6
          AS DECIMAL(38,0))""").as("ssq"),
        col("nt"))
      .select(col("m"), col("n"), col("w_stat"),
        (round((col("w_stat").cast("double") -
          mD * col("ssum").cast("double") / ntD) /
          sqrt(mD * nD *
            (ntD * col("ssq").cast("double") -
              col("ssum").cast("double") * col("ssum").cast("double")) /
            (ntD * ntD * (ntD - lit(1.0)))), 4) + lit(0.0)).as("z"))
  }

  /** Bartels' rank version of the von Neumann ratio — the rank test for
    * serial randomness of each event type's daily revenue series:
    * RVN = Σ(rₜ−rₜ₊₁)² / Σ(rₜ−r̄)², E[RVN] = 2 under randomness. Ranks
    * are made unique by the documented (rev, day) tie order, so the
    * denominator is the closed form n(n²−1)/12 and everything before
    * the z epilogue is integer-exact. Windows are keyed by event_type
    * (the day series is calendar-bounded per type — never a global
    * window over scaling rows).
    */
  def q_bartels_rank(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"),
        date_format(col("ts_us"), "yyyy-MM-dd").as("day"))
      .agg(sum(cents(col("value"))).as("rev"))
    val r = daily.withColumn("r",
      row_number().over(Window.partitionBy("event_type").orderBy("rev", "day"))
        .cast("long"))
    val d = r.withColumn("rn",
      lead(col("r"), 1).over(Window.partitionBy("event_type").orderBy("day")))
    val s = d.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("rn").isNotNull,
          (col("r") - col("rn")) * (col("r") - col("rn"))).otherwise(0L))
          .as("num"))
    val nD = col("n").cast("double")
    val rvn = col("num").cast("double") * lit(12.0) /
      (nD * (nD * nD - lit(1.0)))
    val varr = lit(4.0) * (nD - lit(2.0)) *
      (lit(5.0) * nD * nD - lit(2.0) * nD - lit(9.0)) /
      (lit(5.0) * nD * (nD + lit(1.0)) * (nD - lit(1.0)) * (nD - lit(1.0)))
    s.select(col("event_type"), col("n").as("n_days"), col("num"),
        (round(rvn, 4) + lit(0.0)).as("rvn"),
        (round((rvn - lit(2.0)) / sqrt(varr), 4) + lit(0.0)).as("z"))
      .orderBy("event_type")
  }

  /** Cuzick's Wilcoxon-type trend test across the ordered priority
    * groups 1..5 on order value: T = Σⱼ j·Rⱼ with midranks from the
    * value lattice (2·midrank = 2·#below + count + 1 — integer), so 2T
    * is exact; z uses the no-tie moments E[2T] = (N+1)·L₁,
    * Var[2T] = (N+1)(N·L₂−L₁²)/3 (documented, same convention as
    * [[q_mood_dispersion]]). One lattice + [[BandedScan]] cumulative +
    * one group-size aggregate — no sort, no pair joins.
    */
  def q_cuzick_trend(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .select(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("j"),
        cents(col("o_totalprice")).as("v"))
    val cell = Mat.once(o.groupBy(col("v"))
      .agg(count(lit(1)).as("ct"), sum(col("j")).as("sjc")))
    val cum = BandedScan.cumSums(cell, Seq(), "v", Seq("ct" -> "cumt"))
    val t2 = cum.agg(sum(col("sjc") *
      ((col("cumt") - col("ct")) * 2L + col("ct") + 1L)).as("t2"))
    val sizes = o.groupBy(col("j")).agg(count(lit(1)).as("nj"))
      .agg(sum(col("nj")).as("nn"), sum(col("j") * col("nj")).as("l1"),
        sum(col("j") * col("j") * col("nj")).as("l2"))
    val nnD = col("nn").cast("double")
    sizes.crossJoin(t2)
      .select(col("nn").as("n"), col("l1"), col("t2"),
        (round((col("t2").cast("double") -
          (nnD + lit(1.0)) * col("l1").cast("double")) /
          sqrt((nnD + lit(1.0)) *
            (nnD * col("l2").cast("double") -
              col("l1").cast("double") * col("l1").cast("double")) / lit(3.0)),
          4) + lit(0.0)).as("z"))
  }

  /** MASE + sMAPE of the seasonal-naive (season=7 days) forecast of
    * each event type's daily revenue — the scale-free forecast-accuracy
    * pair every backtest reports (MASE < 1 beats the one-step naive).
    * Lag pairing is exact integer day arithmetic via self-joins on
    * (type, day−7)/(type, day−1) — no windows, no gap assumptions;
    * numerators are exact integer |Δcents|; each sMAPE term is
    * e8-latticed before the mean. Two keyed equi-joins on a
    * calendar-bounded daily table.
    */
  def q_mase_smape(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts_us")), epoch).cast("long").as("dayn"))
      .agg(sum(cents(col("value"))).as("rev")))
    val s7 = daily.as("a")
      .join(daily.select(col("event_type"), (col("dayn") + 7L).as("dayn"),
        col("rev").as("rev7")).as("b"), Seq("event_type", "dayn"))
      .select(col("event_type"), abs(col("rev") - col("rev7")).as("ae"),
        round(lit(2.0) * abs(col("rev") - col("rev7")).cast("double") /
          (col("rev") + col("rev7")).cast("double") * lit(1e8))
          .cast("long").as("smape_e8"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n7"), sum(col("ae")).as("sae7"),
        sum(col("smape_e8")).as("ssm_e8"))
    val s1 = daily.as("a")
      .join(daily.select(col("event_type"), (col("dayn") + 1L).as("dayn"),
        col("rev").as("rev1")).as("b"), Seq("event_type", "dayn"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n1"), sum(abs(col("rev") - col("rev1"))).as("sae1"))
    s7.join(s1, Seq("event_type"))
      .select(col("event_type"), col("n7").as("n_scored"),
        (round((col("sae7").cast("double") / col("n7").cast("double")) /
          (col("sae1").cast("double") / col("n1").cast("double")), 4) + lit(0.0))
          .as("mase"),
        (round(col("ssm_e8").cast("double") / lit(1e8) /
          col("n7").cast("double"), 4) + lit(0.0)).as("smape"))
      .orderBy("event_type")
  }

  /** Croston's intermittent-demand forecast per brand: separate
    * recency-weighted (α=½, 8-term truncated kernel — weights are exact
    * powers of two, so every product is an EXACT double like
    * [[q_ses_forecast]]) estimates of demand SIZE ẑ over the last 8
    * demand weeks and of the INTER-DEMAND INTERVAL p̂ over the last 8
    * gaps; forecast per week = ẑ/p̂. Windows are keyed by brand (25
    * partitions of calendar-bounded week series); both kernels
    * normalize by their own Σw so partial histories stay unbiased.
    */
  def q_croston_forecast(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val wk = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        (datediff(date_trunc("week", col("l_shipdate")).cast("date"), epoch) / 7)
          .cast("long").as("wkn"))
      .agg(sum(cents(col("l_quantity"))).as("z"))
    val wDesc = Window.partitionBy("brand").orderBy(col("wkn").desc)
    val wAsc = Window.partitionBy("brand").orderBy("wkn")
    val r = wk
      .withColumn("idx", row_number().over(wDesc).cast("long"))
      .withColumn("gap", col("wkn") - lag(col("wkn"), 1).over(wAsc))
    val sz = r.filter(col("idx") <= 8L)
      .groupBy(col("brand"))
      .agg(sum(pow(lit(0.5), col("idx").cast("double")) *
        col("z").cast("double")).as("wz"),
        sum(pow(lit(0.5), col("idx").cast("double"))).as("ww"),
        max(col("idx")).as("k_used"))
    val gp = r.filter(col("idx") <= 8L && col("gap").isNotNull)
      .groupBy(col("brand"))
      .agg(sum(pow(lit(0.5), col("idx").cast("double")) *
        col("gap").cast("double")).as("wg"),
        sum(pow(lit(0.5), col("idx").cast("double"))).as("wwg"))
    val nw = wk.groupBy(col("brand")).agg(count(lit(1)).as("n_demand_weeks"))
    nw.join(sz, Seq("brand")).join(gp, Seq("brand"))
      .select(col("brand"), col("n_demand_weeks"),
        (round(col("wz") / col("ww"), 4) + lit(0.0)).as("zhat_cents"),
        (round(col("wg") / col("wwg"), 4) + lit(0.0)).as("phat_weeks"),
        (round((col("wz") / col("ww")) / (col("wg") / col("wwg")), 4) + lit(0.0))
          .as("croston_cents_per_week"))
      .orderBy("brand")
  }

  /** Brown's double exponential smoothing backtest on monthly revenue
    * (α=½, 12-month truncated kernels): S1 = EWMA(y), S2 = EWMA(S1),
    * forecast_{t+1} = 3·S1 − 2·S2 (level 2S1−S2 plus trend S1−S2).
    * Powers of ½ make every kernel product an exact double
    * ([[q_ses_forecast]]'s trick, applied twice — S1 values are exact
    * multiples of 2⁻¹², S2 of 2⁻²⁴), so forecasts and errors are exact;
    * scored only where both kernels are full. The month lattice is
    * calendar-bounded — both kernel joins are broadcast-sized at any
    * scale factor.
    */
  def q_brown_double_smoothing(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val s1 = Mat.once(rev.as("a")
      .join(rev.select(col("m").as("m2"), col("rev").as("rev2")).as("b"),
        col("m2").between(col("m") - 12, col("m") - 1))
      .groupBy(col("a.m").as("m"))
      .agg(count(lit(1)).as("k1"),
        sum(col("rev2").cast("double")
          * pow(lit(0.5), (col("a.m") - col("m2")).cast("double"))).as("s1"))
      .filter(col("k1") === 12))
    val s2 = s1.as("a")
      .join(s1.select(col("m").as("m2"), col("s1").as("s1b")).as("b"),
        col("m2").between(col("m") - 12, col("m") - 1))
      .groupBy(col("a.m").as("m"), col("a.s1").as("s1"))
      .agg(count(lit(1)).as("k2"),
        sum(col("s1b") * pow(lit(0.5), (col("a.m") - col("m2")).cast("double")))
          .as("s2"))
      .filter(col("k2") === 12)
    val pred = s2
      .select((col("m") + 1L).as("m"),
        (lit(3.0) * col("s1") - lit(2.0) * col("s2")).as("f"))
      .join(rev, Seq("m"))
    pred.agg(count(lit(1)).as("n_forecasts"), sum(col("rev")).as("sa"),
        sum(abs(col("rev").cast("double") - col("f"))).as("sae"),
        sum((col("rev").cast("double") - col("f"))
          * (col("rev").cast("double") - col("f"))).as("sse"))
      .select(col("n_forecasts"),
        (round((col("sae") / col("n_forecasts").cast("double"))
          / (col("sa").cast("double") / col("n_forecasts").cast("double")), 4)
          + lit(0.0)).as("mae_over_mean"),
        (round(sqrt(col("sse") / col("n_forecasts").cast("double"))
          / (col("sa").cast("double") / col("n_forecasts").cast("double")), 4)
          + lit(0.0)).as("rmse_over_mean"))
  }

  /** Spectral entropy of the daily revenue series over the candidate
    * periods 2–7 days ([[graft.ops.Events.q_periodogram]]'s grid): the
    * power shares are e6-latticed, each p·ln p term e8-latticed, and
    * H is normalized by ln 6 → [0,1] (1 = white noise, 0 = one pure
    * cycle) — the single-number "is there structure" screen a forecast
    * router uses before committing to a seasonal model.
    */
  def q_spectral_entropy(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("dayn"))
      .agg(sum(cents(col("value"))).as("x"))
    val d0 = raw.agg(min(col("dayn")).as("d0"))
    val daily = raw.crossJoin(broadcast(d0))
      .select((col("dayn") - col("d0")).as("t"), col("x"))
    val periods = spark.range(2, 8).select(col("id").as("p"))
    val pw = daily.crossJoin(broadcast(periods))
      .select(col("p"),
        expr("CAST(x AS DOUBLE) * cos(2.0 * 3.141592653589793 * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))").as("c"),
        expr("CAST(x AS DOUBLE) * sin(2.0 * 3.141592653589793 * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))").as("s"))
      .groupBy(col("p"))
      .agg(sum(col("c")).as("sc"), sum(col("s")).as("ss"))
      .select(col("p"), expr("sc * sc + ss * ss").as("power"))
    val tot = pw.agg(sum(col("power")).as("tp"))
    val terms = pw.crossJoin(broadcast(tot))
      .select(round(expr("power / tp * 1e6")).cast("long").as("p_e6"))
      .filter(col("p_e6") > 0L)
      .select(round((col("p_e6").cast("double") / lit(1e6)) *
        log(col("p_e6").cast("double") / lit(1e6)) * lit(1e8))
        .cast("long").as("term_e8"))
    terms.agg(count(lit(1)).as("n_periods"), sum(col("term_e8")).as("s_e8"))
      .select(col("n_periods"),
        (round(-col("s_e8").cast("double") / lit(1e8), 4) + lit(0.0)).as("h"),
        (round(-col("s_e8").cast("double") / lit(1e8) /
          log(lit(6.0)), 4) + lit(0.0)).as("h_norm"))
  }

  /** KPSS level-stationarity statistic per event type's daily revenue:
    * η = ΣₜSₜ²/(n²σ̂²) with Sₜ the partial sums of (y−ȳ) and the lag-0
    * long-run variance (documented variant). Scaling by n turns every
    * deviation into the EXACT integer dₜ = yₜ·n − Σy, the partial sums
    * Dₜ = n·Sₜ stay integer (cumulated in a type-keyed, calendar-
    * bounded window), squares accumulate in decimal(38,0), and the
    * whole statistic collapses to ΣD²/(n·Σd²) — one division, no
    * intermediate floats at all.
    */
  def q_kpss_stat(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"),
        date_format(col("ts_us"), "yyyy-MM-dd").as("day"))
      .agg(sum(cents(col("value"))).as("y"))
    val st = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val d = daily.join(broadcast(st), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"),
        (col("y") * col("n") - col("sy")).as("d"))
    val wc = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("dd", sum(col("d")).over(wc))
      .groupBy(col("event_type"), col("n"))
      .agg(sum(col("d").cast("decimal(38,0)") * col("d")).as("sd2"),
        sum(col("dd").cast("decimal(38,0)") * col("dd")).as("sdd2"))
      .select(col("event_type"), col("n").as("n_days"),
        (round(col("sdd2").cast("double") /
          (col("n").cast("double") * col("sd2").cast("double")), 6) + lit(0.0))
          .as("kpss"))
      .orderBy("event_type")
  }

  /** Bullwhip-effect ratio: Var(monthly ordered value) / Var(monthly
    * shipped value) — demand-signal amplification across the two stages
    * of the pipeline (ratio > 1 = upstream over-reaction, the classic
    * supply-chain instability alarm). Each stage is one scan → month
    * rollup; variances use exact integer cent sums with the
    * [[q_gamma_mom]] double-square accumulation; months are
    * calendar-bounded so both profiles are tiny at any scale.
    */
  def q_bullwhip_effect(spark: SparkSession, sf: String): DataFrame = {
    def mstats(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"), sum(col("rev")).as("s"),
        sum(col("rev").cast("double") * col("rev").cast("double")).as("q"))
    val o = mstats(monthlyRevenue(spark, sf))
      .select(col("n").as("n_o"), col("s").as("s_o"), col("q").as("q_o"))
    val s = mstats(Tables.lineitem(spark, sf)
      .groupBy((year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
        .cast("long").as("m"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev")))
      .select(col("n").as("n_s"), col("s").as("s_s"), col("q").as("q_s"))
    val vo = (col("q_o") - col("s_o").cast("double") * col("s_o").cast("double")
      / col("n_o").cast("double")) / col("n_o").cast("double")
    val vs = (col("q_s") - col("s_s").cast("double") * col("s_s").cast("double")
      / col("n_s").cast("double")) / col("n_s").cast("double")
    o.crossJoin(s)
      .select(col("n_o").as("n_months_orders"), col("n_s").as("n_months_ship"),
        (round(vo / vs, 4) + lit(0.0)).as("bullwhip_ratio"))
  }

  /** Gini mean difference of quantity per return flag — the robust
    * dispersion estimator E|X−X'| (more efficient than MAD near
    * normality, finite for heavy tails where variance is not). The
    * pairwise sum collapses on the value lattice to
    * Σ_v c(v)·[v·B(v) − W(v)] with B/W the strictly-below count/sum —
    * two [[BandedScan]] cumulative measures, no pair join, O(lattice)
    * work at any row count.
    */
  def q_gini_mean_difference(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("rf"), cents(col("l_quantity")).as("v"))
      .groupBy(col("rf"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("sv", col("c") * col("v")))
    val cum = BandedScan.cumSums(cell, Seq("rf"), "v",
      Seq("c" -> "cumc", "sv" -> "cumsv"))
    cum.select(col("rf"), col("c"),
        (col("c") * (col("v") * (col("cumc") - col("c")) -
          (col("cumsv") - col("sv")))).as("term"))
      .groupBy(col("rf"))
      .agg(sum(col("c")).as("n"), sum(col("term")).as("s"))
      .select(col("rf"), col("n"),
        (round(lit(2.0) * col("s").cast("double") /
          (col("n").cast("double") * (col("n").cast("double") - lit(1.0))), 4)
          + lit(0.0)).as("gmd_cents"))
      .orderBy("rf")
  }

  /** c-chart on daily error-event counts: center c̄, control limits
    * c̄ ± 3√c̄ (LCL floored at 0 — counts), days out of control. The
    * Poisson-count control chart ops teams run on failure streams;
    * complements the existing X-bar/XmR/p charts. One scan → day
    * rollup → one aggregate; the out-of-control comparison is done on
    * the e4-latticed limits so both engines flag identical days.
    */
  def q_c_chart(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "error")
      .groupBy(date_format(col("ts_us"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("c"))
    val st = daily.agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"))
      .select(col("n_days"), col("sc"),
        round((col("sc").cast("double") / col("n_days").cast("double") +
          lit(3.0) * sqrt(col("sc").cast("double") / col("n_days").cast("double")))
          * lit(1e4)).cast("long").as("ucl_e4"),
        round(greatest(lit(0.0),
          col("sc").cast("double") / col("n_days").cast("double") -
            lit(3.0) * sqrt(col("sc").cast("double") / col("n_days").cast("double")))
          * lit(1e4)).cast("long").as("lcl_e4"))
    daily.crossJoin(broadcast(st))
      .agg(max(col("n_days")).as("n_days"),
        (round(max(col("sc")).cast("double") / max(col("n_days")).cast("double"),
          4) + lit(0.0)).as("cbar"),
        (round(max(col("ucl_e4")).cast("double") / lit(1e4), 4) + lit(0.0))
          .as("ucl"),
        (round(max(col("lcl_e4")).cast("double") / lit(1e4), 4) + lit(0.0))
          .as("lcl"),
        sum(when(col("c") * 10000L > col("ucl_e4"), 1L)
          .when(col("c") * 10000L < col("lcl_e4"), 1L).otherwise(0L))
          .as("n_out_of_control"))
  }

  /** Nadaraya–Watson kernel regression of event value on hour-of-day
    * (Gaussian kernel, bandwidth 3h): ŷ(h) = Σᵢ K(h−hᵢ)·yᵢ / Σᵢ K(h−hᵢ)
    * over the 24-hour grid. Because hours are integers, only 24 kernel
    * values exist — each K is e12-latticed ONCE per (grid, source) hour
    * pair, and the regression collapses to integer products of the
    * lattice with the per-hour exact (Σy, n): a 24×24 broadcast
    * product, no row-scaled float work at all.
    */
  def q_kernel_regression(spark: SparkSession, sf: String): DataFrame = {
    val hs = Tables.eventsWithTs(spark, sf)
      .groupBy(hour(col("ts_us")).cast("long").as("hi"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sy"))
    val grid = hs.sparkSession.range(0, 24).select(col("id").as("h"))
    grid.crossJoin(broadcast(hs))
      .select(col("h"), col("n"), col("sy"),
        round(exp(-((col("h") - col("hi")) * (col("h") - col("hi")))
          .cast("double") / lit(18.0)) * lit(1e12)).cast("long").as("k_e12"))
      .groupBy(col("h"))
      .agg(sum(col("k_e12").cast("decimal(38,0)") * col("n")).as("den"),
        sum(col("k_e12").cast("decimal(38,0)") * col("sy")).as("num"))
      .select(col("h").as("hour"),
        (round(col("num").cast("double") / col("den").cast("double"), 4)
          + lit(0.0)).as("yhat_cents"))
      .orderBy("hour")
  }

  /** One Huber IRLS step for order value on basket size: OLS from exact
    * integer sums, residuals from the shared IEEE tree, robustness
    * weights wᵢ = min(1, 1.345·1.4826·med|r| ⁄ |r|) decided on the
    * INTEGER-rounded |r| lattice (the median via [[BandedScan]] — no
    * sort), then one weighted least-squares re-fit with the e6 integer
    * weights (weighted sums accumulate in decimal(38,0) — exact). The
    * report: OLS vs Huber slope/intercept and how many orders were
    * downweighted — the outlier-robust price-curve fit.
    */
  def q_huber_irls_step(spark: SparkSession, sf: String): DataFrame = {
    val xy = Mat.once(Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
      .join(Tables.orders(spark, sf)
        .select(col("o_orderkey").as("l_orderkey"),
          cents(col("o_totalprice")).as("y")), Seq("l_orderkey")))
    val s = xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val nD = col("n").cast("double")
    val b = (nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      (nD * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double"))
    val a = (col("sy").cast("double") - b * col("sx").cast("double")) / nD
    val withB = s.select(col("n"), round(b * lit(1e8)).cast("long").as("b_e8"),
      round(a * lit(1e4)).cast("long").as("a_e4"))
    val r = Mat.once(xy.crossJoin(broadcast(withB))
      .select(col("x"), col("y"), col("n"), col("b_e8"), col("a_e4"),
        abs(round(col("y").cast("double") -
          (col("a_e4").cast("double") / lit(1e4) +
            col("b_e8").cast("double") / lit(1e8) * col("x").cast("double"))))
          .cast("long").as("ar")))
    val lat = Mat.once(r.groupBy(col("ar")).agg(count(lit(1)).as("cnt")))
    val medv = BandedScan.cumSums(lat, Seq(), "ar", Seq("cnt" -> "cum"))
      .crossJoin(broadcast(lat.agg(sum(col("cnt")).as("nn"))))
      .filter(col("cum") * 2L >= col("nn") + 1L)
      .agg(min(col("ar")).as("med"))
    val wr = r.crossJoin(broadcast(medv))
      .select(col("x"), col("y"),
        when(col("ar") === 0L, lit(1000000L))
          .otherwise(least(lit(1000000L),
            round(lit(1.345) * lit(1.4826) * col("med").cast("double") /
              col("ar").cast("double") * lit(1e6)).cast("long"))).as("w"))
    val ws = wr.agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
      sum(col("w") * col("x")).as("swx"),
      sum(col("w").cast("decimal(38,0)") * col("y")).as("swy"),
      sum((col("w") * col("x")).cast("decimal(38,0)") * col("y")).as("swxy"),
      sum(col("w") * col("x") * col("x")).as("swx2"),
      sum(when(col("w") < 1000000L, 1L).otherwise(0L)).as("n_down"))
    val b1 = (col("sw").cast("double") * col("swxy").cast("double") -
      col("swx").cast("double") * col("swy").cast("double")) /
      (col("sw").cast("double") * col("swx2").cast("double") -
        col("swx").cast("double") * col("swx").cast("double"))
    val a1 = (col("swy").cast("double") - b1 * col("swx").cast("double")) /
      col("sw").cast("double")
    ws.crossJoin(broadcast(withB.select(col("b_e8"), col("a_e4"))))
      .select(col("n"), col("n_down").as("n_downweighted"),
        (round(col("b_e8").cast("double") / lit(1e8), 4) + lit(0.0))
          .as("b_ols_cents"),
        (round(col("a_e4").cast("double") / lit(1e4), 4) + lit(0.0))
          .as("a_ols_cents"),
        (round(b1, 4) + lit(0.0)).as("b_huber_cents"),
        (round(a1, 4) + lit(0.0)).as("a_huber_cents"))
  }

  /** Edge reciprocity of the directed event-type transition graph: the
    * share of off-diagonal edges whose reverse edge exists, plus the
    * weighted variant Σ min(c_st, c_ts) / Σ c_st — the feedback-loop
    * screen run on interaction graphs before assuming DAG-ness.
    * |types|²-bounded everywhere after the one edge aggregate.
    */
  def q_reciprocity(spark: SparkSession, sf: String): DataFrame = {
    val e = Mat.once(GraphMl.transitionEdges(spark, sf)
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("w")))
    val j = e.as("a")
      .join(e.select(col("src").as("dst"), col("dst").as("src"),
        col("w").as("wrev")).as("b"), Seq("src", "dst"), "left_outer")
    j.agg(count(lit(1)).as("n_edges"),
        sum(when(col("wrev").isNotNull, 1L).otherwise(0L)).as("n_reciprocated"),
        sum(least(col("w"), coalesce(col("wrev"), lit(0L)))).as("s_min"),
        sum(col("w")).as("s_w"))
      .select(col("n_edges"), col("n_reciprocated"),
        (round(col("n_reciprocated").cast("double") /
          col("n_edges").cast("double"), 4) + lit(0.0)).as("reciprocity"),
        (round(col("s_min").cast("double") / col("s_w").cast("double"), 4)
          + lit(0.0)).as("weighted_reciprocity"))
  }

  /** Per-nation mean account balance in EXACT rounded cents plus the
    * region key — the shared input of the §2.130 spatial-association
    * tests (same hierarchy-block weights as [[q_morans_i]]).
    */
  private def nationBalance(spark: SparkSession, sf: String): DataFrame =
    Tables.customer(spark, sf)
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("nc"), sum(cents(col("c_acctbal"))).as("sb"))
      .join(broadcast(Tables.nation(spark, sf)
        .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))), "nk")
      .select(col("nk"), col("rk"),
        round(col("sb").cast("double") / col("nc").cast("double"))
          .cast("long").as("xq"))

  /** Getis–Ord global G of per-nation mean balance with same-region
    * block weights: G = Σ_{i≠j, same region} xᵢxⱼ / Σ_{i≠j} xᵢxⱼ —
    * the "hot-spot" companion to [[q_morans_i]] (G above its expectation
    * W/(n(n−1)) = high values cluster). All products are exact integer
    * cent×cent sums; the denominator uses the (Σx)²−Σx² identity so no
    * all-pairs join ever runs — one broadcast region self-join sized
    * |nations|² worst case.
    */
  def q_getis_ord_g(spark: SparkSession, sf: String): DataFrame = {
    val x = Mat.once(nationBalance(spark, sf))
    val pairs = x.as("a")
      .join(x.select(col("nk").as("nk2"), col("rk").as("rk2"),
        col("xq").as("xq2")).as("b"),
        col("rk2") === col("a.rk") && col("nk2") =!= col("a.nk"))
      .agg(count(lit(1)).as("w"), sum(col("xq") * col("xq2")).as("num"))
    val tot = x.agg(count(lit(1)).as("n"), sum(col("xq")).as("sx"),
      sum(col("xq") * col("xq")).as("sxx"))
    tot.crossJoin(pairs)
      .select(col("n").as("n_nations"), col("w").as("w_pairs"),
        (round(col("num").cast("double") /
          (col("sx").cast("double") * col("sx").cast("double")
            - col("sxx").cast("double")), 6) + lit(0.0)).as("g"),
        (round(col("w").cast("double") /
          (col("n").cast("double") * (col("n").cast("double") - lit(1.0))), 6)
          + lit(0.0)).as("e_g"))
  }

  /** Join-count statistics on the binarized balance surface: a nation is
    * BLACK when its mean balance exceeds the cross-nation median (exact
    * integer median rule: smallest xq with 2·#{≤} ≥ n on the 25-value
    * lattice). Counts same-region ordered pairs by color — BB/BW/WW —
    * against the free-sampling expectations E[BB] = W·nb(nb−1)/(n(n−1)),
    * E[BW] = 2W·nb·nw/(n(n−1)): the categorical cousin of Moran's I for
    * hot-spot detection on coded maps.
    */
  def q_join_count_stat(spark: SparkSession, sf: String): DataFrame = {
    val x = Mat.once(nationBalance(spark, sf))
    val med = x.as("a")
      .join(x.select(col("xq").as("xq2")).as("b"), col("xq2") <= col("a.xq"))
      .groupBy(col("a.xq").as("xq")).agg(count(lit(1)).as("cle"))
      .crossJoin(broadcast(x.agg(count(lit(1)).as("n"))))
      .filter(col("cle") * 2L >= col("n"))
      .agg(min(col("xq")).as("m"))
    val colored = Mat.once(x.crossJoin(broadcast(med))
      .select(col("nk"), col("rk"), (col("xq") > col("m")).as("black")))
    val pairs = colored.as("a")
      .join(colored.select(col("nk").as("nk2"), col("rk").as("rk2"),
        col("black").as("black2")).as("b"),
        col("rk2") === col("a.rk") && col("nk2") =!= col("a.nk"))
      .agg(count(lit(1)).as("w"),
        sum(when(col("black") && col("black2"), 1L).otherwise(0L)).as("bb"),
        sum(when(col("black") =!= col("black2"), 1L).otherwise(0L)).as("bw"),
        sum(when(!col("black") && !col("black2"), 1L).otherwise(0L)).as("ww"))
    val counts = colored.agg(count(lit(1)).as("n"),
      sum(when(col("black"), 1L).otherwise(0L)).as("nb"))
    counts.crossJoin(pairs)
      .select(col("n").as("n_nations"), col("nb").as("n_black"),
        col("w").as("w_pairs"), col("bb"), col("bw"), col("ww"),
        (round(col("w").cast("double") * col("nb").cast("double")
          * (col("nb").cast("double") - lit(1.0))
          / (col("n").cast("double") * (col("n").cast("double") - lit(1.0))), 4)
          + lit(0.0)).as("e_bb"),
        (round(lit(2.0) * col("w").cast("double") * col("nb").cast("double")
          * (col("n") - col("nb")).cast("double")
          / (col("n").cast("double") * (col("n").cast("double") - lit(1.0))), 4)
          + lit(0.0)).as("e_bw"))
  }

  /** Local Moran's Iᵢ (LISA): per nation, Iᵢ = n·zᵢ·Σ_{j∈region, j≠i} zⱼ
    * / Σz² with the same-region block weights — the drill-down of the
    * global [[q_morans_i]] that names WHICH nations sit in hot/cold
    * clusters. Deviations are kept as EXACT integers (zᵢ = xqᵢ·n − Σxq,
    * n²-scaled), so the neighbor sums and Σz² are order-free; one double
    * epilogue per nation. Quadrant code: HH/LL/HL/LH from the signs.
    */
  def q_local_moran(spark: SparkSession, sf: String): DataFrame = {
    val x = Mat.once(nationBalance(spark, sf))
    val tot = x.agg(count(lit(1)).as("n"), sum(col("xq")).as("sx"))
    val z = Mat.once(x.crossJoin(broadcast(tot))
      .select(col("nk"), col("rk"), col("n"),
        (col("xq") * col("n") - col("sx")).as("z")))
    val regionSum = z.groupBy(col("rk"))
      .agg(sum(col("z")).as("rz"), count(lit(1)).as("rn"))
    val szsq = z.agg(sum(col("z").cast("decimal(38,0)") * col("z")).as("szsq"))
    z.join(broadcast(regionSum), "rk").crossJoin(broadcast(szsq))
      .select(col("nk"), col("rk"), (col("rn") - 1L).as("n_neighbors"),
        (round(col("n").cast("double") * col("z").cast("double")
          * (col("rz") - col("z")).cast("double")
          / col("szsq").cast("double"), 4) + lit(0.0)).as("local_i"),
        when(col("z") > 0L && (col("rz") - col("z")) > 0L, "HH")
          .when(col("z") < 0L && (col("rz") - col("z")) < 0L, "LL")
          .when(col("z") > 0L, "HL").otherwise("LH").as("quadrant"))
      .orderBy("nk")
  }

  /** Anderson–Darling uniformity test of the discount distribution per
    * return flag: discounts live on the 11-point cent lattice, mapped to
    * u = (d+1)/12 ∈ (0,1); A² = −n − (1/n)·Σᵢ(2i−1)[ln u₍ᵢ₎ +
    * ln(1−u₍ₙ₊₁₋ᵢ₎)] collapses to a VALUE-LATTICE aggregate because the
    * rank weights over a tie block [lo,hi] have closed integer sums
    * (Σ(2i−1) = hi²−(lo−1)², Σ(2n+1−2i) = c(2n+1)−(hi(hi+1)−lo(lo−1))).
    * ln terms are e8-latticed per distinct value; products go through
    * decimal(38,0) so the n² rank weights never overflow. No sort, no
    * ranks — one lattice + [[BandedScan]] + one aggregate.
    */
  def q_anderson_darling(spark: SparkSession, sf: String): DataFrame = {
    val cell = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), pct(col("l_discount")).as("d"))
      .groupBy(col("flag"), col("d")).agg(count(lit(1)).as("c"))
    val withCum = BandedScan.cumSums(cell, Seq("flag"), "d", Seq("c" -> "hi"))
      .withColumn("lo", col("hi") - col("c") + 1L)
    val n = withCum.groupBy(col("flag")).agg(sum(col("c")).as("n"))
    val terms = withCum.join(broadcast(n), "flag")
      .select(col("flag"), col("n"),
        (col("hi") * col("hi") - (col("lo") - 1L) * (col("lo") - 1L)).as("w1"),
        (col("c") * (lit(2L) * col("n") + 1L)
          - (col("hi") * (col("hi") + 1L) - col("lo") * (col("lo") - 1L)))
          .as("w2"),
        round(log((col("d").cast("double") + lit(1.0)) / lit(12.0)) * lit(1e8))
          .cast("long").as("t"),
        round(log(lit(1.0) - (col("d").cast("double") + lit(1.0)) / lit(12.0))
          * lit(1e8)).cast("long").as("s"))
    terms.groupBy(col("flag"), col("n"))
      .agg(sum(col("w1").cast("decimal(38,0)") * col("t")
        + col("w2").cast("decimal(38,0)") * col("s")).as("ssum"))
      .select(col("flag"), col("n"),
        (round(-col("n").cast("double")
          - col("ssum").cast("double") / (col("n").cast("double") * lit(1e8)), 4)
          + lit(0.0)).as("a2"))
      .orderBy("flag")
  }

  /** Cox–Stuart trend test on the daily revenue series per event type:
    * pair day i with day i+(n−m) (m = n div 2 — the middle day of an odd
    * series is skipped), count strictly-positive and strictly-negative
    * differences of the EXACT cent revenues, z = (2S⁺−m')/√m' with ties
    * dropped. Day indices come from a keyed calendar-bounded window; the
    * pairing is one self-equi-join on (type, index+lag) — no global sort.
    */
  def q_cox_stuart(spark: SparkSession, sf: String): DataFrame = {
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"),
        date_format(col("ts_us"), "yyyy-MM-dd").as("day"))
      .agg(sum(cents(col("value"))).as("rev"))
      .withColumn("i",
        row_number().over(Window.partitionBy("event_type").orderBy("day"))
          .cast("long")))
    val n = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val lagged = daily.join(broadcast(n), "event_type")
      .withColumn("m", expr("n div 2"))
      .filter(col("i") <= col("m"))
      .select(col("event_type"), col("n"), col("m"),
        (col("i") + col("n") - col("m")).as("i2"), col("rev").as("rev1"))
    lagged.join(daily.select(col("event_type"), col("i").as("i2"),
        col("rev").as("rev2")), Seq("event_type", "i2"))
      .groupBy(col("event_type"), col("n"))
      .agg(sum(when(col("rev2") > col("rev1"), 1L).otherwise(0L)).as("s_pos"),
        sum(when(col("rev2") < col("rev1"), 1L).otherwise(0L)).as("s_neg"))
      .select(col("event_type"), col("n").as("n_days"), col("s_pos"),
        col("s_neg"),
        (round((lit(2.0) * col("s_pos").cast("double")
          - (col("s_pos") + col("s_neg")).cast("double"))
          / sqrt((col("s_pos") + col("s_neg")).cast("double")), 4) + lit(0.0))
          .as("z"))
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz two-sample runs test (linestatus F vs O on the
    * quantity lattice): under the deterministic tie order (quantity asc,
    * F before O) the run count has a CLOSED FORM on the value lattice —
    * +1 inside any cell holding both groups, +1 at each boundary where
    * the trailing group of one occupied cell differs from the leading
    * group of the next (adjacency via a [[BandedScan]] dense index +
    * one self-equi-join, so no global-order window exists anywhere).
    * z uses the exact run moments μ = 2ab/(a+b)+1,
    * σ² = 2ab(2ab−a−b)/((a+b)²(a+b−1)).
    */
  def q_wald_wolfowitz(spark: SparkSession, sf: String): DataFrame = {
    val cell = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("v"),
        (col("l_linestatus") === "F").as("isF"))
      .groupBy(col("v"))
      .agg(sum(when(col("isF"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("isF"), 1L).otherwise(0L)).as("b"))
      .withColumn("occ", lit(1L))
    val idx = Mat.once(BandedScan.cumSums(cell, Seq.empty, "v", Seq("occ" -> "idx")))
    val internal = idx.agg(
      sum(when(col("a") > 0L && col("b") > 0L, 1L).otherwise(0L)).as("t_in"),
      sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    val bound = idx.as("x")
      .join(idx.select((col("idx") - 1L).as("idx"),
        col("a").as("a2"), col("b").as("b2")).as("y"), Seq("idx"))
      .agg(sum(when(
        when(col("b") > 0L, lit("O")).otherwise(lit("F")) =!=
          when(col("a2") > 0L, lit("F")).otherwise(lit("O")), 1L)
        .otherwise(0L)).as("t_bd"))
    val aD = col("ta").cast("double")
    val bD = col("tb").cast("double")
    val mu = lit(2.0) * aD * bD / (aD + bD) + lit(1.0)
    val sg2 = lit(2.0) * aD * bD * (lit(2.0) * aD * bD - aD - bD) /
      ((aD + bD) * (aD + bD) * (aD + bD - lit(1.0)))
    internal.crossJoin(bound)
      .select(col("ta").as("n_f"), col("tb").as("n_o"),
        (col("t_in") + col("t_bd") + 1L).as("runs"),
        (round(mu, 4) + lit(0.0)).as("mu"),
        (round(((col("t_in") + col("t_bd") + 1L).cast("double") - mu)
          / sqrt(sg2), 4) + lit(0.0)).as("z"))
  }

  /** Seasonal Mann–Kendall trend test per event type with hour-of-day
    * seasons: the MK S statistic is computed WITHIN each of the 24
    * seasonal series over the days of the month (no cross-season pairs —
    * diurnal cycle removed by construction) and summed; the variance
    * sums the per-season tie-corrected moments. The pair join is
    * calendar-bounded (≤ days² per season per type at any SF). Exact cent
    * revenues, one z epilogue.
    */
  def q_seasonal_mann_kendall(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), hour(col("ts_us")).cast("long").as("h"),
        date_format(col("ts_us"), "yyyy-MM-dd").as("day"))
      .agg(sum(cents(col("value"))).as("rev")))
    val s = cell.as("a")
      .join(cell.select(col("event_type"), col("h"), col("day").as("day2"),
        col("rev").as("rev2")).as("b"), Seq("event_type", "h"))
      .filter(col("day2") > col("day"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("rev2") > col("rev"), 1L)
        .when(col("rev2") < col("rev"), -1L).otherwise(0L)).as("s"))
    val seasonN = cell.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
    val tie = cell.groupBy(col("event_type"), col("h"), col("rev"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"), col("h"))
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)).as("tt"))
    val varS = seasonN.join(tie, Seq("event_type", "h"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_seasons"),
        sum(col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) - col("tt"))
          .as("var18"))
    s.join(varS, "event_type")
      .select(col("event_type"), col("n_seasons"), col("s").as("s_stat"),
        (round((col("s").cast("double") - signum(col("s").cast("double")))
          / sqrt(col("var18").cast("double") / lit(18.0)), 4) + lit(0.0)).as("z"))
      .orderBy("event_type")
  }

  /** Quade test (weighted blocked rank ANOVA) on the day × event-type
    * revenue table: within-day ranks r (deterministic (rev, type) order),
    * day weights = rank of the day's revenue RANGE (tiny |days|² theta
    * rank — calendar-bounded), scores kept 2-SCALED integers
    * S₂ = Q·(2r−(k+1)) so A = ΣS₂² and B = Σⱼ(ΣS₂)²/n are exact;
    * F = (n−1)B/(A−B) (the 4× scale cancels). Only complete blocks enter,
    * per the test's definition.
    */
  def q_quade_test(spark: SparkSession, sf: String): DataFrame = {
    val cell = Tables.eventsWithTs(spark, sf)
      .groupBy(date_format(col("ts_us"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(sum(cents(col("value"))).as("rev"))
    val k = cell.select(col("event_type")).distinct().count()
    val complete = Mat.once(cell.withColumn("nt",
        count(lit(1)).over(Window.partitionBy("day")))
      .filter(col("nt") === k).drop("nt"))
    val ranked = complete.withColumn("r",
      row_number().over(Window.partitionBy("day").orderBy("rev", "event_type"))
        .cast("long"))
    val rng = Mat.once(complete.groupBy(col("day"))
      .agg((max(col("rev")) - min(col("rev"))).as("range")))
    val q = rng.as("a")
      .join(rng.select(col("day").as("day2"), col("range").as("range2")).as("b"),
        col("range2") < col("a.range")
          || (col("range2") === col("a.range") && col("day2") < col("a.day")),
        "left_outer")
      .groupBy(col("a.day").as("day"))
      .agg((count(col("day2")) + 1L).as("qrank"))
    val scores = Mat.once(ranked.join(q, "day")
      .select(col("day"), col("event_type"),
        (col("qrank") * (lit(2L) * col("r") - lit(k + 1L))).as("s2")))
    val a = scores.agg(count(lit(1)).as("nk"),
      sum(col("s2") * col("s2")).as("a2"))
    val b = scores.groupBy(col("event_type")).agg(sum(col("s2")).as("sj"))
      .agg(count(lit(1)).as("kk"), sum(col("sj") * col("sj")).as("sb2"))
    a.crossJoin(b)
      .select(expr("nk div kk").as("n_blocks"), col("kk").as("k"),
        col("a2"), col("sb2"),
        (round((expr("nk div kk").cast("double") - lit(1.0))
          * (col("sb2").cast("double") / expr("nk div kk").cast("double"))
          / (col("a2").cast("double")
            - col("sb2").cast("double") / expr("nk div kk").cast("double")), 4)
          + lit(0.0)).as("f"))
  }

  /** Conover squared-ranks dispersion test per return flag on quantity,
    * median-centered (exact integer lattice medians — the documented
    * robust variant): z = |v − med_g| ranks across the COMBINED sample as
    * lattice midranks (2R = 2·below + c + 1 — integer), T_g = Σc·(2R)²
    * and ΣR⁴ through decimal(38,0); each group's standardized
    * z_g = (T_g − n_g·S̄)/√(n_g(N−n_g)/(N(N−1))·(ΣR⁴ − N·S̄²)) is one
    * double epilogue from broadcast totals — no cross-group float sums.
    */
  def q_conover_squared_ranks(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
    val medInput = BandedScan.cumSums(cell, Seq("g"), "v", Seq("c" -> "cum"))
    val ng = cell.groupBy(col("g")).agg(sum(col("c")).as("n_g"))
    val med = medInput.join(broadcast(ng), "g")
      .filter(col("cum") * 2L >= col("n_g"))
      .groupBy(col("g")).agg(min(col("v")).as("med"))
    val zcell = Mat.once(cell.join(broadcast(med), "g")
      .select(col("g"), abs(col("v") - col("med")).as("z"), col("c"))
      .groupBy(col("g"), col("z")).agg(sum(col("c")).as("c")))
    val comb = zcell.groupBy(col("z")).agg(sum(col("c")).as("ct"))
    val ranks = BandedScan.cumSums(comb, Seq.empty, "z", Seq("ct" -> "cum"))
      .select(col("z"), col("ct"),
        (lit(2L) * (col("cum") - col("ct")) + col("ct") + 1L).as("r2"))
    val tot = ranks.agg(sum(col("ct")).as("nn"),
      sum(col("ct").cast("decimal(38,0)") * col("r2") * col("r2")).as("sr2"),
      sum(col("ct").cast("decimal(38,0)") * col("r2") * col("r2")
        * col("r2") * col("r2")).as("sr4"))
    val tg = zcell.join(broadcast(ranks.select(col("z"), col("r2"))), "z")
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n_g"),
        sum(col("c").cast("decimal(38,0)") * col("r2") * col("r2")).as("t4"))
    val nD = col("nn").cast("double")
    val ngD = col("n_g").cast("double")
    // all in the 2-scaled lattice: T4 and sr2/sr4 carry (2R)² and (2R)⁴
    val sbar = col("sr2").cast("double") / nD
    val d2 = (col("sr4").cast("double") - nD * sbar * sbar) / (nD - lit(1.0))
    tg.crossJoin(broadcast(tot))
      .select(col("g").as("flag"), col("n_g"),
        (round((col("t4").cast("double") - ngD * sbar)
          / sqrt(ngD * (nD - ngD) / nD * d2), 4) + lit(0.0)).as("z"))
      .orderBy("flag")
  }

  /** Erlang-B blocking probability table: offered load a = mean hourly
    * arrivals / 10 Erlangs (derived from the event stream itself), loss
    * B(m) = (aᵐ/m!)/Σ_{k≤m} aᵏ/k! for m = 1..8 — the closed form, not
    * the recursion, so it's one 9-term lattice + a tiny ≤-theta join.
    * The capacity-planning companion to [[q_erlang_c]].
    */
  def q_erlang_b_loss(spark: SparkSession, sf: String): DataFrame = {
    val spanH = Tables.eventsWithTs(spark, sf)
      .agg(count(lit(1)).as("n"), min(col("ts_usl")).as("t0"),
        max(col("ts_usl")).as("t1"))
      .select((col("n").cast("double") /
        ((col("t1") - col("t0")).cast("double") / lit(3.6e9)) / lit(10.0)).as("a"))
    val fact = expr("CASE k WHEN 0 THEN 1.0 WHEN 1 THEN 1.0 WHEN 2 THEN 2.0 " +
      "WHEN 3 THEN 6.0 WHEN 4 THEN 24.0 WHEN 5 THEN 120.0 WHEN 6 THEN 720.0 " +
      "WHEN 7 THEN 5040.0 ELSE 40320.0 END")
    val terms = Mat.once(spanH.crossJoin(
        spark.range(0, 9).select(col("id").cast("long").as("k")))
      .select(col("k"), col("a"), (pow(col("a"), col("k").cast("double")) / fact).as("t")))
    terms.filter(col("k") >= 1L).as("m")
      .join(terms.select(col("k").as("k2"), col("t").as("t2")).as("d"),
        col("k2") <= col("m.k"))
      .groupBy(col("m.k").as("m"), col("a"), col("t"))
      .agg(sum(col("t2")).as("den"))
      .select(col("m"), (round(col("a"), 4) + lit(0.0)).as("offered_erlangs"),
        (round(col("t") / col("den"), 6) + lit(0.0)).as("blocking_b"))
      .orderBy("m")
  }

  /** Crow–AMSAA (NHPP power-law) reliability-growth fit on the error
    * event stream: t_i = hours since stream start, MLE β̂ = n/Σln(T/tᵢ),
    * λ̂ = n/T^β̂, instantaneous MTBF 1/(λ̂β̂T^{β̂−1}) — is the error rate
    * improving or degrading over the month? Each ln tᵢ is e8-latticed
    * before the order-free integer sum.
    */
  def q_crow_amsaa(spark: SparkSession, sf: String): DataFrame = {
    val t0 = Tables.eventsWithTs(spark, sf).agg(min(col("ts_usl")).as("t0"))
    val t = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "error")
      .crossJoin(broadcast(t0))
      .select(((col("ts_usl") - col("t0")).cast("double") / lit(3.6e9)).as("th"))
      .filter(col("th") > 0.0)
      .select(col("th"), round(log(col("th")) * lit(1e8)).cast("long").as("lt"))
    val s = t.agg(count(lit(1)).as("n"), sum(col("lt")).as("slt"),
      max(col("th")).as("bigT"))
    val nD = col("n").cast("double")
    val beta = nD / (nD * log(col("bigT"))
      - col("slt").cast("double") / lit(1e8))
    val lam = nD / pow(col("bigT"), beta)
    s.select(col("n").as("n_failures"),
        (round(col("bigT"), 4) + lit(0.0)).as("t_hours"),
        (round(beta, 4) + lit(0.0)).as("beta"),
        (round(lam, 6) + lit(0.0)).as("lambda"),
        (round(lit(1.0) / (lam * beta * pow(col("bigT"), beta - lit(1.0))), 4)
          + lit(0.0)).as("mtbf_inst_h"))
  }

  /** Suits index of discount progressivity: do discount dollars
    * concentrate on high-priced items? S = 1 − 2∫C(y)dy over the
    * price-ordered accumulation curve (y = cumulative revenue share,
    * C = cumulative discount-dollar share), trapezoid-integrated on the
    * price-cent lattice via [[BandedScan]] cumulatives — no sort, no
    * global window, and (round 7) no adjacency self-join: the previous
    * lattice row's cumulative is this row's cumulative minus its OWN
    * term (CTᵢ₋₁ = CTᵢ − ptᵢ), so the trapezoid numerator
    * Σ pyᵢ·(CTᵢ+CTᵢ₋₁) = Σ pyᵢ·(2·CTᵢ−ptᵢ) folds into the same single
    * aggregate as the totals. Exact in decimal(38,0) (identical terms,
    * order-free sum); S ∈ [−1, 1], positive = discounts progressive
    * w.r.t. price.
    */
  def q_suits_index(spark: SparkSession, sf: String): DataFrame = {
    val cell = Tables.lineitem(spark, sf)
      .select(cents(col("l_extendedprice")).as("v"),
        cents(col("l_extendedprice") * col("l_discount")).as("tax"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"), sum(col("tax")).as("pt"))
      .select(col("v"), (col("v") * col("c")).as("py"), col("pt"))
    // tt = Σpt, NOT max(ct): the two agree only while every pt ≥ 0 keeps
    // the cumsum monotone — the sum needs no such invariant (and matches
    // how q_kakwani_index computes its total)
    BandedScan.cumSums(cell, Seq.empty, "v", Seq("pt" -> "ct"))
      .agg(sum(col("pt")).as("tt"), sum(col("py")).as("ty"),
        count(lit(1)).as("n_cells"),
        sum(col("py").cast("decimal(38,0)")
          * (lit(2L) * col("ct") - col("pt"))).as("num"))
      .select(col("n_cells"),
        (round(lit(1.0) - col("num").cast("double")
          / (col("ty").cast("double") * col("tt").cast("double")), 4)
          + lit(0.0)).as("suits"))
  }

  /** Weighted log-rank family in one pass: the [[q_logrank_test]] risk
    * sets scored under the three classic weightings — w=1 (log-rank,
    * late-difference sensitive), w=nᵣ (Gehan–Breslow–Wilcoxon, early),
    * w=√nᵣ (Tarone–Ware, compromise) — U_w = Σw(d₁−d·n₁/n),
    * V_w = Σw²·hypergeometric variance, χ²_w = U²/V. Same bounded
    * risk-set theta join as the parent; one extra fixed-width aggregate.
    */
  def q_weighted_logrank(spark: SparkSession, sf: String): DataFrame = {
    val obs = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts_us"))).as("d0"), max(to_date(col("ts_us"))).as("d1"))
      .select((col("user_id") % 2).cast("long").as("g"),
        datediff(col("d1"), col("d0")).cast("long").as("t"),
        when(col("d1") <= lit("2024-01-23").cast("date"), 1L).otherwise(0L)
          .as("churned"))
    val byT = Mat.once(obs.groupBy(col("t"))
      .agg(count(lit(1)).as("n_at"),
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_at1"),
        sum(col("churned")).as("d"),
        sum(when(col("g") === 0, col("churned")).otherwise(0L)).as("d1")))
    val risk = byT.as("a")
      .join(byT.select(col("t").as("t2"), col("n_at").as("na2"),
        col("n_at1").as("na12")).as("b"), col("t2") >= col("a.t"))
      .groupBy(col("a.t").as("t"), col("a.d").as("d"), col("a.d1").as("dd1"))
      .agg(sum(col("na2")).as("nr"), sum(col("na12")).as("nr1"))
      .filter(col("d") > 0 && col("nr") > 1)
    val dD = col("d").cast("double")
    val nrD = col("nr").cast("double")
    val contrib = col("dd1").cast("double") - dD * col("nr1").cast("double") / nrD
    val vterm = dD * (col("nr1").cast("double") / nrD) *
      (lit(1.0) - col("nr1").cast("double") / nrD) *
      (col("nr") - col("d")).cast("double") / (nrD - lit(1.0))
    val s = risk.agg(
      sum(contrib).as("u1"), sum(vterm).as("v1"),
      sum(nrD * contrib).as("ug"), sum(nrD * nrD * vterm).as("vg"),
      sum(sqrt(nrD) * contrib).as("ut"), sum(nrD * vterm).as("vt"))
    s.select(
      (round(col("u1") * col("u1") / col("v1"), 4) + lit(0.0)).as("chi2_logrank"),
      (round(col("ug") * col("ug") / col("vg"), 4) + lit(0.0)).as("chi2_gehan"),
      (round(col("ut") * col("ut") / col("vt"), 4) + lit(0.0)).as("chi2_tarone_ware"))
  }

  /** Kakwani progressivity index of the discount "tariff" against the
    * price base: K = C_discount − Gini_price, both curves trapezoid-
    * integrated on the SAME price-cent lattice ordering (one
    * [[BandedScan]] with revenue/discount cumulatives). As in
    * [[q_suits_index]] (round 7) the adjacency self-join folds away —
    * the previous row's cumulative is this row's minus its own term, so
    * both integrals collapse into ONE aggregate over the scan (identical
    * decimal(38,0) terms, order-free sum). K > 0 = discounts
    * progressively favor high-priced lines.
    */
  def q_kakwani_index(spark: SparkSession, sf: String): DataFrame = {
    val cell = Tables.lineitem(spark, sf)
      .select(cents(col("l_extendedprice")).as("v"),
        cents(col("l_extendedprice") * col("l_discount")).as("tax"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"), sum(col("tax")).as("pt"))
      .select(col("v"), col("c"), (col("v") * col("c")).as("py"), col("pt"))
    val s = BandedScan.cumSums(cell, Seq.empty, "v",
      Seq("py" -> "cy", "pt" -> "ct"))
      .agg(sum(col("c")).as("tn"), sum(col("py")).as("ty"),
        sum(col("pt")).as("tt"), count(lit(1)).as("n_cells"),
        sum(col("c").cast("decimal(38,0)")
          * (lit(2L) * col("cy") - col("py"))).as("num_g"),
        sum(col("c").cast("decimal(38,0)")
          * (lit(2L) * col("ct") - col("pt"))).as("num_c"))
    val gini = lit(1.0) - col("num_g").cast("double") /
      (col("tn").cast("double") * col("ty").cast("double"))
    val conc = lit(1.0) - col("num_c").cast("double") /
      (col("tn").cast("double") * col("tt").cast("double"))
    s.select(col("n_cells"),
        (round(gini, 4) + lit(0.0)).as("gini_price"),
        (round(conc, 4) + lit(0.0)).as("conc_discount"),
        (round(conc - gini, 4) + lit(0.0)).as("kakwani"))
  }

  /** EWMA control chart on the daily error-count series (λ = ½, the
    * [[q_c_chart]] companion with memory): zₜ = Σ_{k=0..11} ½^{k+1}·xₜ₋ₖ
    * — a 12-term truncated kernel of EXACT dyadic weights, so every zₜ
    * is an exact double regardless of summation order. Asymptotic limits
    * c̄ ± 3·√c̄·√(λ/(2−λ)); only days with a full kernel are scored
    * (documented truncation). Calendar-bounded kernel join — at any SF
    * the chart is ≤ days rows.
    */
  def q_ewma_chart(spark: SparkSession, sf: String): DataFrame = {
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "error")
      .groupBy(to_date(col("ts_us")).as("day"))
      .agg(count(lit(1)).as("x")))
    val st = daily.agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"))
      .select(col("n_days"),
        (col("sx").cast("double") / col("n_days").cast("double")).as("cbar"))
    val kern = daily.as("t")
      .join(daily.select(col("day").as("day2"), col("x").as("x2")).as("k"),
        datediff(col("t.day"), col("day2")).between(0, 11))
      .groupBy(col("t.day").as("day"))
      .agg(count(lit(1)).as("nk"),
        sum(pow(lit(0.5), datediff(col("t.day"), col("day2"))
          .cast("double") + lit(1.0)) * col("x2").cast("double")).as("z"))
      .filter(col("nk") === 12L)
    val lim = sqrt(lit(1.0) / lit(3.0)) * lit(3.0) * sqrt(col("cbar"))
    kern.crossJoin(broadcast(st))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        (round(col("z"), 4) + lit(0.0)).as("ewma"),
        (round(col("cbar") + lim, 4) + lit(0.0)).as("ucl"),
        (round(col("cbar") - lim, 4) + lit(0.0)).as("lcl"),
        when(col("z") > col("cbar") + lim
          || col("z") < col("cbar") - lim, 1L).otherwise(0L).as("out_of_control"))
      .orderBy("day")
  }

  /** Cucconi two-sample location-scale test (linestatus F vs O on the
    * quantity lattice): midranks carried as 2R integers (the
    * [[q_conover_squared_ranks]] lattice convention), ΣR² and contrary
    * Σ(N+1−R)² kept exact in decimal(38,0) — U, V, ρ and the combined
    * C statistic are one fixed IEEE epilogue from exact integer
    * numerators (4·U_num = 6·Σ(2R)² − 4m(N+1)(2N+1)).
    */
  def q_cucconi_test(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_linestatus").as("g"), col("l_quantity").cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
    val comb = cell.groupBy(col("v")).agg(sum(col("c")).as("ct"))
    val ranks = BandedScan.cumSums(comb, Seq.empty, "v", Seq("ct" -> "cum"))
      .select(col("v"),
        (lit(2L) * (col("cum") - col("ct")) + col("ct") + 1L).as("r2"))
    val tot = cell.agg(sum(col("c")).as("nn"))
    val per = cell.join(broadcast(ranks), "v")
      .crossJoin(broadcast(tot))
      .groupBy(col("g"), col("nn"))
      .agg(sum(col("c")).as("m"),
        sum(col("c").cast("decimal(38,0)") * col("r2") * col("r2")).as("s1_4"),
        sum(col("c").cast("decimal(38,0)")
          * (lit(2L) * (col("nn") + 1L) - col("r2"))
          * (lit(2L) * (col("nn") + 1L) - col("r2"))).as("s2_4"))
      .filter(col("g") === "F")
    val nD = col("nn").cast("double")
    val mD = col("m").cast("double")
    val oD = nD - mD
    val denom = sqrt(mD * oD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0))
      * (lit(8.0) * nD + lit(11.0)) / lit(5.0))
    val u = (lit(6.0) * col("s1_4").cast("double") / lit(4.0)
      - mD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0))) / denom
    val v = (lit(6.0) * col("s2_4").cast("double") / lit(4.0)
      - mD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0))) / denom
    val rho = (lit(2.0) * (nD * nD - lit(4.0))
      / ((lit(2.0) * nD + lit(1.0)) * (lit(8.0) * nD + lit(11.0))) - lit(1.0))
    per.select(col("m").as("n_f"), (col("nn") - col("m")).as("n_o"),
      (round(u, 4) + lit(0.0)).as("u"),
      (round(v, 4) + lit(0.0)).as("v"),
      (round(rho, 6) + lit(0.0)).as("rho"),
      (round((u * u + v * v - lit(2.0) * rho * u * v)
        / (lit(2.0) * (lit(1.0) - rho * rho)), 4) + lit(0.0)).as("c_stat"))
  }

  /** Goodman–Kruskal λ (proportional-reduction-in-error) for predicting
    * market segment from nation on the customer table: λ = (Σ_x max_y
    * n_xy − max_y n_·y)/(n − max_y n_·y) — every term an exact integer
    * from one contingency aggregate; ties inside max are value-ties
    * (count maxima), so no ordering enters.
    */
  def q_gk_lambda(spark: SparkSession, sf: String): DataFrame = {
    val cont = Mat.once(Tables.customer(spark, sf)
      .groupBy(col("c_nationkey").cast("long").as("x"), col("c_mktsegment").as("y"))
      .agg(count(lit(1)).as("nxy")))
    val rowMax = cont.groupBy(col("x")).agg(max(col("nxy")).as("mx"))
      .agg(sum(col("mx")).as("sum_row_max"), count(lit(1)).as("k_x"))
    val colMax = cont.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
      .agg(max(col("ny")).as("max_col"), count(lit(1)).as("k_y"),
        sum(col("ny")).as("n"))
    rowMax.crossJoin(colMax)
      .select(col("n"), col("k_x"), col("k_y"), col("sum_row_max"), col("max_col"),
        (round((col("sum_row_max") - col("max_col")).cast("double")
          / (col("n") - col("max_col")).cast("double"), 6) + lit(0.0)).as("lambda"))
  }

  /** D'Agostino K² omnibus normality test of the discount lattice per
    * return flag: √b1 and b2 from EXACT integer moment sums (decimal
    * (38,0)), then the standard Z(√b1) (Johnson SU) and Z(b2)
    * (Anscombe–Glynn, cbrt — defined for negative arguments on both
    * engines) transformations as one fixed IEEE tree per group,
    * K² = Z₁² + Z₂². One lattice aggregate per flag, no sorting.
    */
  def q_dagostino_k2(spark: SparkSession, sf: String): DataFrame = {
    val s = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), pct(col("l_discount")).as("d"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("s2"),
        sum(col("d").cast("decimal(38,0)") * col("d") * col("d")).as("s3"),
        sum(col("d").cast("decimal(38,0)") * col("d") * col("d") * col("d")).as("s4"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mean * mean
    val m3 = (col("s3").cast("double") / nD
      - lit(3.0) * mean * (col("s2").cast("double") / nD)
      + lit(2.0) * mean * mean * mean)
    val m4 = (col("s4").cast("double") / nD
      - lit(4.0) * mean * (col("s3").cast("double") / nD)
      + lit(6.0) * mean * mean * (col("s2").cast("double") / nD)
      - lit(3.0) * mean * mean * mean * mean)
    val g1 = m3 / sqrt(m2 * m2 * m2)
    val b2 = m4 / (m2 * m2)
    // Z(√b1): Johnson SU approximation
    val y = g1 * sqrt((nD + lit(1.0)) * (nD + lit(3.0))
      / (lit(6.0) * (nD - lit(2.0))))
    val beta2 = (lit(3.0) * (nD * nD + lit(27.0) * nD - lit(70.0))
      * (nD + lit(1.0)) * (nD + lit(3.0))
      / ((nD - lit(2.0)) * (nD + lit(5.0)) * (nD + lit(7.0)) * (nD + lit(9.0))))
    val w2 = sqrt(lit(2.0) * (beta2 - lit(1.0))) - lit(1.0)
    val delta = lit(1.0) / sqrt(log(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - lit(1.0)))
    val z1 = delta * log(y / alpha + sqrt((y / alpha) * (y / alpha) + lit(1.0)))
    // Z(b2): Anscombe–Glynn
    val eb2 = lit(3.0) * (nD - lit(1.0)) / (nD + lit(1.0))
    val vb2 = (lit(24.0) * nD * (nD - lit(2.0)) * (nD - lit(3.0))
      / ((nD + lit(1.0)) * (nD + lit(1.0)) * (nD + lit(3.0)) * (nD + lit(5.0))))
    val x = (b2 - eb2) / sqrt(vb2)
    val sb = (lit(6.0) * (nD * nD - lit(5.0) * nD + lit(2.0))
      / ((nD + lit(7.0)) * (nD + lit(9.0)))
      * sqrt(lit(6.0) * (nD + lit(3.0)) * (nD + lit(5.0))
        / (nD * (nD - lit(2.0)) * (nD - lit(3.0)))))
    val a = (lit(6.0) + lit(8.0) / sb
      * (lit(2.0) / sb + sqrt(lit(1.0) + lit(4.0) / (sb * sb))))
    val z2 = (((lit(1.0) - lit(2.0) / (lit(9.0) * a))
      - cbrt((lit(1.0) - lit(2.0) / a)
        / (lit(1.0) + x * sqrt(lit(2.0) / (a - lit(4.0))))))
      / sqrt(lit(2.0) / (lit(9.0) * a)))
    s.select(col("flag"), col("n"),
      (round(g1, 6) + lit(0.0)).as("sqrt_b1"),
      (round(b2, 6) + lit(0.0)).as("b2"),
      (round(z1, 4) + lit(0.0)).as("z_skew"),
      (round(z2, 4) + lit(0.0)).as("z_kurt"),
      (round(z1 * z1 + z2 * z2, 4) + lit(0.0)).as("k2"))
      .orderBy("flag")
  }

  /** Runs-up-and-down randomness test of the daily revenue sequence per
    * event type: signs of consecutive-day deltas (exact cents, zero
    * deltas excluded as documented flats), runs = 1 + sign transitions,
    * E[R] = (2n−1)/3, Var[R] = (16n−29)/90 — exact integers until one
    * z epilogue. Two keyed windows (partitioned by type, ≤ days rows).
    */
  def q_runs_updown(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts_us")).as("day"))
      .agg(sum(cents(col("value"))).as("rev"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val signs = daily
      .select(col("event_type"), col("day"),
        (col("rev") - lag(col("rev"), 1).over(w)).as("delta"))
      .filter(col("delta").isNotNull && col("delta") =!= 0L)
      .select(col("event_type"), col("day"),
        when(col("delta") > 0L, 1L).otherwise(-1L).as("s"))
    val w2 = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val runs = signs
      .select(col("event_type"), col("s"),
        lag(col("s"), 1).over(w2).as("sp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_deltas"),
        (sum(when(col("sp").isNotNull && col("s") =!= col("sp"), 1L)
          .otherwise(0L)) + 1L).as("n_runs"))
    val nD = col("n_deltas").cast("double")
    runs.select(col("event_type"), col("n_deltas"), col("n_runs"),
      (round((col("n_runs").cast("double")
        - (lit(2.0) * nD - lit(1.0)) / lit(3.0))
        / sqrt((lit(16.0) * nD - lit(29.0)) / lit(90.0)), 4) + lit(0.0)).as("z"))
      .orderBy("event_type")
  }

  /** Pairwise Tukey-HSD q statistics for mean discount across return
    * flags: group moments from exact integer pct sums, pooled MSE one
    * fixed tree, qᵢⱼ = |x̄ᵢ−x̄ⱼ|/√(MSE/2·(1/nᵢ+1/nⱼ)) per unordered
    * pair — k²/2 rows from a broadcast self-join of the k-row stats.
    */
  def q_tukey_hsd(spark: SparkSession, sf: String): DataFrame = {
    val g = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), pct(col("l_discount")).as("d"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_g"), sum(col("d")).as("s1"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("s2")))
    val mse = g.agg(sum(col("n_g")).as("nn"), count(lit(1)).as("k"),
      sum(col("s2").cast("double")
        - col("s1").cast("double") * col("s1").cast("double")
          / col("n_g").cast("double")).as("sse"))
      .select(col("nn"), col("k"),
        (col("sse") / (col("nn") - col("k")).cast("double")).as("mse"))
    val pairs = g.as("a")
      .join(g.select(col("flag").as("flag2"), col("n_g").as("n2"),
        col("s1").as("t1")).as("b"), col("a.flag") < col("flag2"))
    pairs.crossJoin(broadcast(mse))
      .select(col("a.flag").as("flag_i"), col("flag2").as("flag_j"),
        col("n_g").as("n_i"), col("n2").as("n_j"),
        (round(abs(col("s1").cast("double") / col("n_g").cast("double")
          - col("t1").cast("double") / col("n2").cast("double")), 6)
          + lit(0.0)).as("mean_diff"),
        (round(abs(col("s1").cast("double") / col("n_g").cast("double")
          - col("t1").cast("double") / col("n2").cast("double"))
          / sqrt(col("mse") / lit(2.0)
            * (lit(1.0) / col("n_g").cast("double")
              + lit(1.0) / col("n2").cast("double"))), 4) + lit(0.0)).as("q_stat"))
      .orderBy("flag_i", "flag_j")
  }

  /** Geary's C spatial autocorrelation of per-nation floor-mean account
    * balance with same-region block weights (the [[q_morans_i]] /
    * [[q_getis_ord_g]] companion measuring local contrast, not
    * covariance): numerator Σw(xᵢ−xⱼ)² over ordered same-region pairs,
    * denominator via exact n·xᵢ−Σx deviations — all integer products in
    * decimal(38,0) until the single C epilogue. 25-row lattice.
    */
  def q_geary_c(spark: SparkSession, sf: String): DataFrame = {
    val x = Mat.once(Tables.customer(spark, sf)
      .groupBy(col("c_nationkey").cast("long").as("nk"))
      .agg(expr("sum(CAST(ROUND(c_acctbal*100) AS BIGINT)) div count(1)").as("x"))
      .join(Tables.nation(spark, sf)
        .select(col("n_nationkey").cast("long").as("nk"),
          col("n_regionkey").cast("long").as("rk")), "nk"))
    val tot = x.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val den = x.crossJoin(broadcast(tot))
      .select(((col("x") * col("n") - col("sx")).cast("decimal(38,0)")
        * (col("x") * col("n") - col("sx"))).as("d2"))
      .agg(sum(col("d2")).as("d4"))
    val num = x.as("a")
      .join(x.select(col("nk").as("nk2"), col("x").as("x2"),
        col("rk").as("rk2")).as("b"),
        col("a.rk") === col("rk2") && col("a.nk") =!= col("nk2"))
      .select(((col("x") - col("x2")).cast("decimal(38,0)")
        * (col("x") - col("x2"))).as("w2"))
      .agg(count(lit(1)).as("w"), sum(col("w2")).as("num"))
    tot.crossJoin(num).crossJoin(den)
      .select(col("n"), col("w").as("n_pairs"),
        (round((col("n") - 1L).cast("double") * col("n").cast("double")
          * col("n").cast("double") * col("num").cast("double")
          / (lit(2.0) * col("w").cast("double") * col("d4").cast("double")), 6)
          + lit(0.0)).as("geary_c"))
  }

  /** Dunnett-style many-to-one comparisons of mean discount against the
    * control flag 'N': pooled MSE from exact integer pct sums (the
    * [[q_tukey_hsd]] base), tᵢ = (x̄ᵢ−x̄_c)/√(MSE(1/nᵢ+1/n_c)) per
    * treatment group — the statistic a multiple-comparison-vs-control
    * readout reports (critical values are table lookups, not data).
    */
  def q_dunnett_control(spark: SparkSession, sf: String): DataFrame = {
    val g = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), pct(col("l_discount")).as("d"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_g"), sum(col("d")).as("s1"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("s2")))
    val mse = g.agg(sum(col("n_g")).as("nn"), count(lit(1)).as("k"),
      sum(col("s2").cast("double")
        - col("s1").cast("double") * col("s1").cast("double")
          / col("n_g").cast("double")).as("sse"))
      .select(col("nn"), col("k"),
        (col("sse") / (col("nn") - col("k")).cast("double")).as("mse"))
    val ctrl = g.filter(col("flag") === "N")
      .select(col("n_g").as("n_c"), col("s1").as("s1_c"))
    val diff = (col("s1").cast("double") / col("n_g").cast("double")
      - col("s1_c").cast("double") / col("n_c").cast("double"))
    g.filter(col("flag") =!= "N")
      .crossJoin(broadcast(ctrl)).crossJoin(broadcast(mse))
      .select(col("flag"), col("n_g").as("n_i"), col("n_c"),
        (round(diff, 6) + lit(0.0)).as("mean_diff"),
        (round(diff / sqrt(col("mse") * (lit(1.0) / col("n_g").cast("double")
          + lit(1.0) / col("n_c").cast("double"))), 4) + lit(0.0)).as("t_stat"))
      .orderBy("flag")
  }

  /** Games–Howell pairwise comparisons (unequal variances) of mean
    * discount across return flags: per-group s²ᵢ/nᵢ from exact sums,
    * t = |Δx̄|/√(v_i+v_j), Welch–Satterthwaite df = (vᵢ+vⱼ)²/(vᵢ²/(nᵢ−1)
    * +vⱼ²/(nⱼ−1)), studentized q = t√2 — the [[q_tukey_hsd]] companion
    * when pooling is unjustified.
    */
  def q_games_howell(spark: SparkSession, sf: String): DataFrame = {
    val g = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), pct(col("l_discount")).as("d"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_g"), sum(col("d")).as("s1"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("s2"))
      .select(col("flag"), col("n_g"), col("s1"),
        ((col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double")
            / col("n_g").cast("double"))
          / (col("n_g") - 1L).cast("double")
          / col("n_g").cast("double")).as("v")))
    val pairs = g.as("a")
      .join(g.select(col("flag").as("flag2"), col("n_g").as("n2"),
        col("s1").as("t1"), col("v").as("v2")).as("b"),
        col("a.flag") < col("flag2"))
    val t = (abs(col("s1").cast("double") / col("n_g").cast("double")
      - col("t1").cast("double") / col("n2").cast("double"))
      / sqrt(col("v") + col("v2")))
    pairs.select(col("a.flag").as("flag_i"), col("flag2").as("flag_j"),
      (round(t, 4) + lit(0.0)).as("t_stat"),
      (round((col("v") + col("v2")) * (col("v") + col("v2"))
        / (col("v") * col("v") / (col("n_g") - 1L).cast("double")
          + col("v2") * col("v2") / (col("n2") - 1L).cast("double")), 4)
        + lit(0.0)).as("df_welch"),
      (round(t * sqrt(lit(2.0)), 4) + lit(0.0)).as("q_stat"))
      .orderBy("flag_i", "flag_j")
  }

  /** Brunner–Munzel two-sample rank test (linestatus F vs O on the
    * quantity lattice): relative effect p̂ = P(X<Y)+½P(X=Y) and the
    * lawstat-form statistic W = n₁n₂(R̄₂−R̄₁)/((n₁+n₂)√(n₁v₁+n₂v₂)),
    * with combined AND within-group midranks carried as 2R integers
    * from two [[BandedScan]]s; per-cell deviations multiplied through
    * by n_g so every squared term is an exact integer (decimal(38,0))
    * — the Welch-style df follows the same exact sums.
    */
  def q_brunner_munzel(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_linestatus").as("g"), col("l_quantity").cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
    val comb = cell.groupBy(col("v")).agg(sum(col("c")).as("ct"))
    val ranks = BandedScan.cumSums(comb, Seq.empty, "v", Seq("ct" -> "cum"))
      .select(col("v"), (lit(2L) * (col("cum") - col("ct")) + col("ct") + 1L).as("r2"))
    val within = BandedScan.cumSums(cell, Seq("g"), "v", Seq("c" -> "cumg"))
      .select(col("g"), col("v"),
        (lit(2L) * (col("cumg") - col("c")) + col("c") + 1L).as("r2g"))
    val base = Mat.once(cell.join(broadcast(ranks), "v")
      .join(within, Seq("g", "v")))
    val gs = Mat.once(base.groupBy(col("g"))
      .agg(sum(col("c")).as("n_g"),
        sum(col("c").cast("decimal(38,0)") * col("r2")).as("sr2")))
    val dev = base.join(broadcast(gs), "g")
      .select(col("g"), col("c"),
        (col("n_g") * (col("r2") - col("r2g")) - col("sr2").cast("long")
          + col("n_g") * (col("n_g") + 1L)).as("dd"))
      .groupBy(col("g"))
      .agg(sum(col("c").cast("decimal(38,0)") * col("dd") * col("dd")).as("sdd"))
    val st = gs.join(dev, "g")
      .select(col("g"), col("n_g"), col("sr2"),
        (col("sdd").cast("double")
          / (lit(4.0) * col("n_g").cast("double") * col("n_g").cast("double")
            * (col("n_g") - 1L).cast("double"))).as("v_g"))
    val f = st.filter(col("g") === "F")
      .select(col("n_g").as("n1"), col("sr2").as("sr1"), col("v_g").as("v1"))
    val o = st.filter(col("g") === "O")
      .select(col("n_g").as("n2"), col("sr2").as("sr2o"), col("v_g").as("v2"))
    val n1D = col("n1").cast("double")
    val n2D = col("n2").cast("double")
    val m1 = col("sr1").cast("double") / (lit(2.0) * n1D)
    val m2 = col("sr2o").cast("double") / (lit(2.0) * n2D)
    val w = (n1D * n2D * (m2 - m1) / (n1D + n2D)
      / sqrt(n1D * col("v1") + n2D * col("v2")))
    f.crossJoin(o)
      .select(col("n1"), col("n2"),
        (round((m2 - (n2D + lit(1.0)) / lit(2.0)) / n1D, 6) + lit(0.0)).as("p_hat"),
        (round(w, 4) + lit(0.0)).as("w_stat"),
        (round((n1D * col("v1") + n2D * col("v2"))
          * (n1D * col("v1") + n2D * col("v2"))
          / ((n1D * col("v1")) * (n1D * col("v1")) / (n1D - lit(1.0))
            + (n2D * col("v2")) * (n2D * col("v2")) / (n2D - lit(1.0))), 4)
          + lit(0.0)).as("df_bm"))
  }

  /** Absorption probability into the 'purchase' state within ≤ 1/2/3
    * steps of the [[q_markov_transitions]] chain: transition probs are
    * exact e6 integers (trunc), each unrolled step is a ≤|types|-term
    * integer dot product re-truncated to e6 — the funnel question
    * ("how likely does a session reach purchase in k clicks") answered
    * on a 25-cell broadcast matrix, corpus touched once.
    */
  def q_markov_absorption(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_usl").asc, col("event_id").asc)
    val trans = Mat.once(Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("ts_usl"), col("event_id"), col("event_type"))
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("c"))
      .withColumn("row_total",
        sum(col("c")).over(Window.partitionBy("src")))
      .select(col("src"), col("dst"), expr("c * 1000000 div row_total").as("p_e6")))
    val a1 = trans.filter(col("dst") === "purchase")
      .select(col("src"), col("p_e6").as("a1_e6"))
    val a2 = Mat.once(trans.filter(col("dst") =!= "purchase")
      .join(broadcast(a1.select(col("src").as("dst"), col("a1_e6").as("a1_t"))),
        Seq("dst"), "left_outer")
      .groupBy(col("src"))
      .agg(sum(col("p_e6") * coalesce(col("a1_t"), lit(0L))).as("ind_e12"))
      .join(a1, Seq("src"), "full_outer")
      .select(col("src"),
        (coalesce(col("a1_e6"), lit(0L))
          + expr("coalesce(ind_e12, 0L) div 1000000")).as("a2_e6")))
    val a3 = trans.filter(col("dst") =!= "purchase")
      .join(broadcast(a2.select(col("src").as("dst"), col("a2_e6").as("a2_t"))),
        Seq("dst"), "left_outer")
      .groupBy(col("src"))
      .agg(sum(col("p_e6") * coalesce(col("a2_t"), lit(0L))).as("ind_e12"))
      .join(a1, Seq("src"), "full_outer")
      .select(col("src"),
        (coalesce(col("a1_e6"), lit(0L))
          + expr("coalesce(ind_e12, 0L) div 1000000")).as("a3_e6"))
    a1.join(a2, Seq("src"), "full_outer").join(a3, Seq("src"), "full_outer")
      .select(col("src"), coalesce(col("a1_e6"), lit(0L)).as("p1_e6"),
        col("a2_e6"), col("a3_e6"))
      .orderBy("src")
  }

  /** Relative risk of returns under deep discount (the [[q_odds_ratio]]
    * 2×2 read as a cohort study): RR = (a/(a+b))/(c/(c+d)), Katz
    * log-SE CI, attributable risk difference — exact counts, one
    * epilogue.
    */
  def q_relative_risk(spark: SparkSession, sf: String): DataFrame = {
    val c2 = Tables.lineitem(spark, sf)
      .select((col("l_discount") >= 0.06).as("expo"),
        (col("l_returnflag") === "R").as("out"))
      .agg(sum(when(col("expo") && col("out"), 1L).otherwise(0L)).as("a"),
        sum(when(col("expo") && !col("out"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("expo") && col("out"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("expo") && !col("out"), 1L).otherwise(0L)).as("d"))
    val p1 = col("a").cast("double") / (col("a") + col("b")).cast("double")
    val p0 = col("c").cast("double") / (col("c") + col("d")).cast("double")
    val se = sqrt(lit(1.0) / col("a").cast("double")
      - lit(1.0) / (col("a") + col("b")).cast("double")
      + lit(1.0) / col("c").cast("double")
      - lit(1.0) / (col("c") + col("d")).cast("double"))
    c2.select(col("a"), col("b"), col("c"), col("d"),
      (round(p1 / p0, 4) + lit(0.0)).as("rr"),
      (round(exp(log(p1 / p0) - lit(1.959964) * se), 4) + lit(0.0)).as("ci_lo"),
      (round(exp(log(p1 / p0) + lit(1.959964) * se), 4) + lit(0.0)).as("ci_hi"),
      (round(p1 - p0, 6) + lit(0.0)).as("risk_diff"))
  }

  /** Rogan–Gladen prevalence adjustment of the deep-discount share for
    * an imperfect detector (sens = 0.90, spec = 0.95 literals):
    * p̂ = (p_obs + spec − 1)/(sens + spec − 1), clamped to [0,1] —
    * the truth-inference step any noisy-classifier census needs.
    */
  def q_prevalence_adjust(spark: SparkSession, sf: String): DataFrame = {
    val s = Tables.lineitem(spark, sf)
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_discount") >= 0.06, 1L).otherwise(0L)).as("pos"))
    val pObs = col("pos").cast("double") / col("n").cast("double")
    val pAdj = (pObs + lit(0.95) - lit(1.0)) / (lit(0.90) + lit(0.95) - lit(1.0))
    s.select(col("n"), col("pos"),
      (round(pObs, 6) + lit(0.0)).as("p_observed"),
      (round(greatest(least(pAdj, lit(1.0)), lit(0.0)), 6) + lit(0.0))
        .as("p_adjusted"))
  }

  /** Linearly-weighted Cohen's κ between two ordinal 5-level raters of
    * an order — price band (trunc $50k steps, capped) vs priority rank
    * (leading digit of o_orderpriority): κ_w = 1 − n·Σ|i−j|·o_ij /
    * Σ|i−j|·r_i·c_j stays an EXACT integer ratio (decimal(38,0)
    * products) until one division. One contingency aggregate.
    */
  def q_weighted_kappa(spark: SparkSession, sf: String): DataFrame = {
    val cont = Mat.once(Tables.orders(spark, sf)
      .select(least(expr("CAST(ROUND(o_totalprice*100) AS BIGINT) div 5000000"),
        lit(4L)).as("i"),
        (substring(col("o_orderpriority"), 1, 1).cast("long") - 1L).as("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("o")))
    val rows = cont.groupBy(col("i")).agg(sum(col("o")).as("r"))
    val cols9 = cont.groupBy(col("j")).agg(sum(col("o")).as("cc"))
    val num = cont
      .select((abs(col("i") - col("j")).cast("decimal(38,0)") * col("o")).as("t"))
      .agg(sum(col("t")).as("svo"))
    val den = rows.crossJoin(cols9)
      .select((abs(col("i") - col("j")).cast("decimal(38,0)")
        * col("r") * col("cc")).as("t"))
      .agg(sum(col("t")).as("svrc"))
    val n = cont.agg(sum(col("o")).as("n"))
    n.crossJoin(num).crossJoin(den)
      .select(col("n"), col("svo").cast("long").as("weighted_disagree"),
        (round(lit(1.0) - col("n").cast("double") * col("svo").cast("double")
          / col("svrc").cast("double"), 6) + lit(0.0)).as("kappa_w"))
  }

  /** Tukey-fence outlier audit of extended price per return flag:
    * Q1/Q3 by the exact integer rank rule on the price-cent lattice
    * (keyed [[BandedScan]], bands sized per flag — the lattice is \|distinct
    * cents\| however big the table), fences at ±1.5·IQR carried in
    * half-cent integers (2·Q1 − 3·IQR needs no floats), outlier counts
    * and e6 rates exact.
    */
  def q_tukey_fences(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"), cents(col("l_extendedprice")).as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
    val cum = Mat.once(BandedScan.cumSums(cell, Seq("g"), "v", Seq("c" -> "cum")))
    val ng = cell.groupBy(col("g")).agg(sum(col("c")).as("n_g"))
    // both quartiles from ONE scan of the cum lattice: conditional min
    // inside a single aggregate instead of two filter+groupBy passes
    val qs = cum.join(broadcast(ng), "g")
      .groupBy(col("g")).agg(
        min(when(col("cum") * 4L >= col("n_g"), col("v"))).as("q1"),
        min(when(col("cum") * 4L >= col("n_g") * 3L, col("v"))).as("q3"))
    val fences = qs
      .select(col("g"), col("q1"), col("q3"),
        (lit(2L) * col("q1") - lit(3L) * (col("q3") - col("q1"))).as("lo2"),
        (lit(2L) * col("q3") + lit(3L) * (col("q3") - col("q1"))).as("hi2"))
    cell.join(broadcast(fences), "g")
      .groupBy(col("g"), col("q1"), col("q3"), col("lo2"), col("hi2"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("v") * 2L < col("lo2"), col("c")).otherwise(0L)).as("n_low"),
        sum(when(col("v") * 2L > col("hi2"), col("c")).otherwise(0L)).as("n_high"))
      .select(col("g").as("flag"), col("n"), col("q1"), col("q3"),
        col("n_low"), col("n_high"),
        expr("(n_low + n_high) * 1000000 div n").as("outlier_rate_e6"))
      .orderBy("flag")
  }

  /** Sequential probability ratio test (Wald SPRT) monitor on the daily
    * purchase-share series: H₀ p=0.18 vs H₁ p=0.22, per-day LLR
    * k·ln(p₁/p₀)+(n−k)·ln(q₁/q₀) from exact counts e8-latticed BEFORE
    * the calendar-bounded cumulative (day≤day theta join), boundaries
    * ±ln 19 (α=β=0.05). The always-on experiment monitor — ≤ days rows
    * at any SF.
    */
  def q_sprt_monitor(spark: SparkSession, sf: String): DataFrame = {
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(to_date(col("ts_us")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("k"))
      .select(col("day"),
        round((col("k").cast("double") * log(lit(0.22) / lit(0.18))
          + (col("n") - col("k")).cast("double")
            * log(lit(0.78) / lit(0.82))) * lit(1e8)).cast("long").as("llr_e8")))
    daily.as("t")
      .join(daily.select(col("day").as("day2"), col("llr_e8").as("l2")).as("p"),
        col("day2") <= col("t.day"))
      .groupBy(col("t.day").as("day"))
      .agg(sum(col("l2")).as("cum_e8"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        (round(col("cum_e8").cast("double") / lit(1e8), 6) + lit(0.0))
          .as("cum_llr"),
        when(col("cum_e8").cast("double") / lit(1e8) >= log(lit(19.0)),
          lit("accept_h1"))
          .when(col("cum_e8").cast("double") / lit(1e8) <= -log(lit(19.0)),
            lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
      .orderBy("day")
  }

  /** Behavioral-diversity entropy per user (event-type distribution,
    * c·ln(c/n) terms e8-latticed before the user sum), reported as the
    * e4-entropy band histogram with per-band trunc means — the
    * bot/power-user segmentation card. Two user-keyed aggregates.
    */
  def q_user_behavior_entropy(spark: SparkSession, sf: String): DataFrame = {
    val terms = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("user_id")))
      .select(col("user_id"), col("n"),
        round(col("c").cast("double")
          * log(col("c").cast("double") / col("n").cast("double")) * lit(1e8))
          .cast("long").as("t_e8"))
    val users = terms.groupBy(col("user_id"), col("n"))
      .agg((-sum(col("t_e8"))).as("s_e8"))
      .select(round(col("s_e8").cast("double") / (col("n").cast("double") * lit(1e8))
        * lit(1e4)).cast("long").as("h_e4"))
    users.groupBy(expr("h_e4 div 2500").as("band"))
      .agg(count(lit(1)).as("n_users"), expr("sum(h_e4) div count(1)").as("mean_h_e4"))
      .orderBy("band")
  }

  /** Lepage combined location-scale test (linestatus F vs O on the
    * quantity lattice): L = z_W² + z_A² with Wilcoxon scores = 2R
    * midranks and Ansari–Bradley scores a = min(2R, 2(N+1)−2R), both
    * standardized by the EXACT finite-population moments of the
    * observed score set (E = m·ā, Var = mn·Σ(a−ā)²/(N(N−1)) — ties
    * handled by construction). Score sums exact in decimal(38,0); the
    * two z's and L are one epilogue. Same lattice+BandedScan base as
    * [[q_cucconi_test]].
    */
  def q_lepage_test(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_linestatus").as("g"), col("l_quantity").cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
    val comb = cell.groupBy(col("v")).agg(sum(col("c")).as("ct"))
    val tot = cell.agg(sum(col("c")).as("nn"))
    val scores = BandedScan.cumSums(comb, Seq.empty, "v", Seq("ct" -> "cum"))
      .crossJoin(broadcast(tot))
      .select(col("v"),
        (lit(2L) * (col("cum") - col("ct")) + col("ct") + 1L).as("r2"),
        least(lit(2L) * (col("cum") - col("ct")) + col("ct") + 1L,
          lit(2L) * (col("nn") + 1L)
            - (lit(2L) * (col("cum") - col("ct")) + col("ct") + 1L)).as("a2"))
    val base = Mat.once(cell.join(broadcast(scores), "v"))
    val pop = base.agg(sum(col("c")).as("nn"),
      sum(col("c").cast("decimal(38,0)") * col("r2")).as("sr"),
      sum(col("c").cast("decimal(38,0)") * col("r2") * col("r2")).as("srr"),
      sum(col("c").cast("decimal(38,0)") * col("a2")).as("sa"),
      sum(col("c").cast("decimal(38,0)") * col("a2") * col("a2")).as("saa"))
    val f = base.filter(col("g") === "F")
      .agg(sum(col("c")).as("m"),
        sum(col("c").cast("decimal(38,0)") * col("r2")).as("tw"),
        sum(col("c").cast("decimal(38,0)") * col("a2")).as("ta"))
    val nD = col("nn").cast("double")
    val mD = col("m").cast("double")
    val oD = nD - mD
    def z(t: Column, s: Column, ss: Column): Column = {
      val sbar = s.cast("double") / nD
      val dev2 = ss.cast("double") - nD * sbar * sbar
      (t.cast("double") - mD * sbar) / sqrt(mD * oD * dev2 / (nD * (nD - lit(1.0))))
    }
    pop.crossJoin(f)
      .select(col("m").as("n_f"), (col("nn") - col("m")).as("n_o"),
        (round(z(col("tw"), col("sr"), col("srr")), 4) + lit(0.0)).as("z_wilcoxon"),
        (round(z(col("ta"), col("sa"), col("saa")), 4) + lit(0.0)).as("z_ansari"),
        (round(z(col("tw"), col("sr"), col("srr"))
          * z(col("tw"), col("sr"), col("srr"))
          + z(col("ta"), col("sa"), col("saa"))
            * z(col("ta"), col("sa"), col("saa")), 4) + lit(0.0)).as("lepage_l"))
  }

  /** Winsorized mean of quantity per return flag (p10/p90 clamping):
    * the clamp bounds come from the EXACT integer rank rule (smallest v
    * with 10·cum ≥ n / ≥ 9n) on the per-flag lattice, values clamped
    * and re-aggregated exactly — one division at the end. The robust-
    * location companion to the existing trimmed mean.
    */
  def q_winsorized_mean(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
    // lattice-sized (|flags|×|quantity domain| ≈ 150 rows); materialized
    // because BOTH clamp bounds below re-read it — lazy, each bound
    // re-evaluated the whole banded-scan subtree (round 10 plan audit:
    // 108 Exchange nodes without it)
    val cum = Mat.once(BandedScan.cumSums(cell, Seq("g"), "v", Seq("c" -> "cum")))
    val ng = cell.groupBy(col("g")).agg(sum(col("c")).as("n_g"))
    val lo = cum.join(broadcast(ng), "g")
      .filter(col("cum") * 10L >= col("n_g"))
      .groupBy(col("g")).agg(min(col("v")).as("lo"))
    val hi = cum.join(broadcast(ng), "g")
      .filter(col("cum") * 10L >= col("n_g") * 9L)
      .groupBy(col("g")).agg(min(col("v")).as("hi"))
    cell.join(broadcast(lo), "g").join(broadcast(hi), "g")
      .select(col("g"),
        (col("c") * greatest(least(col("v"), col("hi")), col("lo"))).as("wv"),
        col("c"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n"), sum(col("wv")).as("sw"))
      .join(broadcast(lo), "g").join(broadcast(hi), "g")
      .select(col("g").as("flag"), col("n"), col("lo").as("p10_clamp"),
        col("hi").as("p90_clamp"),
        (round(col("sw").cast("double") / col("n").cast("double"), 6)
          + lit(0.0)).as("winsorized_mean"))
      .orderBy("flag")
  }

  /** Quartile shape card of the quantity distribution: discrete Q1/Q2/Q3
    * by the exact integer rank rule (smallest v with 4·cum ≥ k·n),
    * quartile coefficient of dispersion (Q3−Q1)/(Q3+Q1), midhinge and
    * Tukey trimean — robust spread/location without a single sort.
    */
  def q_quartile_dispersion(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c")))
    val cum = Mat.once(BandedScan.cumSums(cell, Seq.empty, "v", Seq("c" -> "cum"))
      .crossJoin(broadcast(cell.agg(sum(col("c")).as("n")))))
    def q(k: Int): DataFrame = cum.filter(col("cum") * 4L >= col("n") * k.toLong)
      .agg(min(col("v")).as(s"q$k"))
    q(1).crossJoin(q(2)).crossJoin(q(3))
      .select(col("q1"), col("q2"), col("q3"),
        (round((col("q3") - col("q1")).cast("double")
          / (col("q3") + col("q1")).cast("double"), 6) + lit(0.0)).as("qcd"),
        (round((col("q1") + col("q3")).cast("double") / lit(2.0), 4)
          + lit(0.0)).as("midhinge"),
        (round((col("q1") + lit(2L) * col("q2") + col("q3")).cast("double")
          / lit(4.0), 4) + lit(0.0)).as("trimean"))
  }

  /** Dickey–Fuller unit-root statistic (no augmentation, constant
    * included) on monthly revenue: Δyₜ = α + β·yₜ₋₁ + ε via closed-form
    * OLS over EXACT integer cent sums (decimal(38,0) cross products),
    * t(β̂) = β̂/SE(β̂) one IEEE epilogue. The [[q_kpss_stat]] companion
    * (DF: H₀ unit root; KPSS: H₀ stationary). Month pairs via exact
    * month-index arithmetic — calendar-bounded at any SF.
    */
  def q_adf_stat(spark: SparkSession, sf: String): DataFrame = {
    val rev = Mat.once(monthlyRevenue(spark, sf))
    val pairs = rev.as("a")
      .join(rev.select((col("m") + 1L).as("m"), col("rev").as("prev")).as("b"),
        Seq("m"))
      .select(col("prev").as("x"), (col("rev") - col("prev")).as("y"))
    val s = pairs.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    // parens matter: a leading "- …" continuation line outside parens
    // parses as a DISCARDED unary-minus statement (Column has unary_-),
    // silently dropping the centering term — caught by the oracle gate
    val dxx = (nD * col("sxx").cast("double")
      - col("sx").cast("double") * col("sx").cast("double"))
    val beta = (nD * col("sxy").cast("double")
      - col("sx").cast("double") * col("sy").cast("double")) / dxx
    val alpha = (col("sy").cast("double") - beta * col("sx").cast("double")) / nD
    val sse = (col("syy").cast("double")
      - alpha * col("sy").cast("double") - beta * col("sxy").cast("double"))
    val se = sqrt(sse / (nD - lit(2.0)) * nD / dxx)
    s.select(col("n").as("n_obs"),
      (round(beta, 6) + lit(0.0)).as("beta"),
      (round(beta / se, 4) + lit(0.0)).as("df_t"))
  }

  /** Maximum drawdown + ulcer index of the cumulative daily revenue
    * curve: running peak via the day≤day theta join (calendar-bounded —
    * the chart is ≤ days rows at ANY corpus size), drawdown percents as
    * exact e6 trunc integers, ulcer = √(mean dd²) one epilogue.
    */
  def q_max_drawdown(spark: SparkSession, sf: String): DataFrame = {
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(to_date(col("ts_us")).as("day"))
      .agg(sum(cents(col("value"))).as("x")))
    val cum = Mat.once(daily.as("t")
      .join(daily.select(col("day").as("day2"), col("x").as("x2")).as("p"),
        col("day2") <= col("t.day"))
      .groupBy(col("t.day").as("day"))
      .agg(sum(col("x2")).as("c")))
    val dd = cum.as("t")
      .join(cum.select(col("day").as("day2"), col("c").as("c2")).as("p"),
        col("day2") <= col("t.day"))
      .groupBy(col("t.day").as("day"), col("t.c").as("c"))
      .agg(max(col("c2")).as("peak"))
      .select(col("day"), (col("peak") - col("c")).as("dd_cents"),
        expr("(peak - c) * 1000000 div peak").as("dd_pct_e6"))
    dd.agg(count(lit(1)).as("n_days"), max(col("dd_cents")).as("max_dd_cents"),
      max(col("dd_pct_e6")).as("max_dd_pct_e6"),
      sum(col("dd_pct_e6") * col("dd_pct_e6")).as("sdd2"))
      .select(col("n_days"), col("max_dd_cents"), col("max_dd_pct_e6"),
        (round(sqrt(col("sdd2").cast("double") / col("n_days").cast("double"))
          / lit(1e6), 6) + lit(0.0)).as("ulcer_index"))
  }

  /** Omega ratio of daily revenue against its own trunc-mean threshold:
    * Ω = Σ(x−τ)⁺ / Σ(τ−x)⁺ — both partial moments exact integer cents,
    * one final division. The gain/loss asymmetry card.
    */
  def q_omega_ratio(spark: SparkSession, sf: String): DataFrame = {
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(to_date(col("ts_us")).as("day"))
      .agg(sum(cents(col("value"))).as("x")))
    val tau = daily.agg(expr("sum(x) div count(1)").as("tau"))
    daily.crossJoin(broadcast(tau))
      .agg(count(lit(1)).as("n_days"), max(col("tau")).as("tau"),
        sum(greatest(col("x") - col("tau"), lit(0L))).as("gains_cents"),
        sum(greatest(col("tau") - col("x"), lit(0L))).as("losses_cents"))
      .select(col("n_days"), col("tau").as("tau_cents"), col("gains_cents"),
        col("losses_cents"),
        (round(col("gains_cents").cast("double")
          / col("losses_cents").cast("double"), 6) + lit(0.0)).as("omega"))
  }

  /** Hawkes-style branching-ratio estimate of the event stream: an
    * event is "triggered" when it follows the same user's previous
    * event within 60 s (exact µs rule) — triggered share among events
    * with a parent candidate ≈ the branching ratio of a self-exciting
    * process. Per event type, one user-keyed lag window, exact counts.
    */
  def q_hawkes_branching(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_usl").asc, col("event_id").asc)
    Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts_usl"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts_usl"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("prev_ts").isNotNull, 1L).otherwise(0L)).as("n_with_prev"),
        sum(when(col("prev_ts").isNotNull
          && col("ts_usl") - col("prev_ts") < 60000000L, 1L).otherwise(0L))
          .as("n_triggered"))
      .select(col("event_type"), col("n"), col("n_with_prev"), col("n_triggered"),
        expr("n_triggered * 1000000 div n_with_prev").as("branching_e6"))
      .orderBy("event_type")
  }

  /** Daily OEE (overall equipment effectiveness) read off the event
    * stream: availability = non-error share, performance = revenue vs
    * the best day, quality = purchases/(purchases+errors) — each an
    * EXACT e6 integer ratio (trunc div), OEE their product as one
    * epilogue. One daily aggregate + one broadcast best-day scalar.
    */
  def q_oee_daily(spark: SparkSession, sf: String): DataFrame = {
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(to_date(col("ts_us")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"),
        sum(cents(col("value"))).as("rev")))
    val best = daily.agg(max(col("rev")).as("max_rev"))
    daily.crossJoin(broadcast(best))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"),
        expr("(n - n_err) * 1000000 div n").as("avail_e6"),
        expr("rev * 1000000 div max_rev").as("perf_e6"),
        expr("n_purch * 1000000 div (n_purch + n_err)").as("qual_e6"))
      .select(col("day"), col("n"), col("avail_e6"), col("perf_e6"), col("qual_e6"),
        (round(col("avail_e6").cast("double") * col("perf_e6").cast("double")
          * col("qual_e6").cast("double") / lit(1e18), 6) + lit(0.0)).as("oee"))
      .orderBy("day")
  }

  /** Yule-Walker AR(2) fit of the daily revenue series with a one-step
    * forecast: r₁/r₂ exactly as [[graft.ops.MLDeterministic.q_pacf]]
    * (the same sufficient-statistic trees), then
    * φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²), the innovation
    * variance ratio 1 − φ₁r₁ − φ₂r₂, and
    * x̂ = μ + φ₁(x_T−μ) + φ₂(x_{T−1}−μ) where the last two observations
    * come from a later-count theta join (gap-proof — no calendar
    * assumption). One aggregate + three bounded joins at any scale.
    */
  def q_yule_walker_ar2(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("x")))
    val base = raw.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("q"))
    def lagSum(k: Int): DataFrame = raw.as("a")
      .join(raw.select(col("t").as("t2"), col("x").as("x2")).as("b"),
        col("t2") === col("t") + k)
      .agg(sum(col("x") * col("x2")).as(s"c$k"), count(lit(1)).as(s"n$k"),
        sum(col("x")).as(s"sa$k"), sum(col("x2")).as(s"sb$k"))
    val last2 = raw.as("a")
      .join(raw.select(col("t").as("t2")).as("b"), col("t2") > col("t"), "left_outer")
      .groupBy(col("a.t").as("t"), col("a.x").as("x"))
      .agg(count(col("t2")).as("n_later"))
      .filter(col("n_later") <= 1)
      .agg(sum(when(col("n_later") === 0, col("x"))).as("xt"),
        sum(when(col("n_later") === 1, col("x"))).as("xt1"))
    base.crossJoin(lagSum(1)).crossJoin(lagSum(2)).crossJoin(last2)
      .select(col("n").as("n_days"),
        expr("""(CAST(c1 AS DOUBLE) - CAST(sa1 AS DOUBLE) * CAST(sb1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))""").as("r1"),
        expr("""(CAST(c2 AS DOUBLE) - CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))""").as("r2"),
        expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)").as("mu"),
        col("xt"), col("xt1"))
      .select(col("n_days"),
        (round(expr("r1 * (1.0 - r2) / (1.0 - r1 * r1)"), 6) + lit(0.0)).as("phi1"),
        (round(expr("(r2 - r1 * r1) / (1.0 - r1 * r1)"), 6) + lit(0.0)).as("phi2"),
        (round(expr("""1.0 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1
                       - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2"""), 6)
          + lit(0.0)).as("innovar_ratio"),
        (round(expr("""mu + (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * (CAST(xt AS DOUBLE) - mu)
                       + ((r2 - r1 * r1) / (1.0 - r1 * r1)) * (CAST(xt1 AS DOUBLE) - mu)"""), 4)
          + lit(0.0)).as("forecast_cents"))
  }

  /** Hampel filter over daily revenue: per day the 7-day-window (±3
    * calendar days) rolling lower median and MAD via the bounded
    * day-distance theta join (≤7 partners per row — never a global
    * window), outlier iff |x−med| > 3·MAD (exact integer comparison ×2
    * against 6·MAD since MAD is a half-integer lattice ×2). Output: the
    * per-day card with the flag — the despiking pre-pass robust
    * monitoring pipelines run before any control chart.
    */
  def q_hampel_filter(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("x")))
    val near = raw.as("a")
      .join(raw.select(col("t").as("t2"), col("x").as("x2")).as("b"),
        col("t2").between(col("t") - 3, col("t") + 3))
    // lower median of the ≤7 window values: smallest x2 with 2·rank ≥ n+1
    val med = near.as("p")
      .join(raw.select(col("t").as("t3"), col("x").as("x3")).as("c"),
        col("t3").between(col("p.t") - 3, col("p.t") + 3) &&
          (col("x3") < col("x2") ||
            (col("x3") === col("x2") && col("t3") <= col("t2"))))
      .groupBy(col("p.t").as("t"), col("p.x").as("x"), col("t2"), col("x2"))
      .agg(count(lit(1)).as("rnk"))
      .withColumn("n_win", sum(lit(1L)).over(Window.partitionBy("t")))
      .filter(col("rnk") * 2 >= col("n_win") + 1)
      .groupBy(col("t"), col("x"), col("n_win"))
      .agg(min(col("x2")).as("med"))
    val dev = med.join(near.select(col("a.t").as("t"), col("t2"), col("x2")), "t")
      .select(col("t"), col("x"), col("n_win"), col("med"), col("t2"),
        abs(col("x2") - col("med")).as("d"))
    val mad = dev.as("p")
      .join(dev.select(col("t").as("t4"), col("t2").as("t4m"),
        col("d").as("d4")).as("q4"),
        col("t4") === col("p.t") &&
          (col("d4") < col("d") ||
            (col("d4") === col("d") && col("t4m") <= col("t2"))))
      .groupBy(col("p.t").as("t"), col("p.x").as("x"), col("p.n_win").as("n_win"),
        col("p.med").as("med"), col("p.t2").as("t2"), col("d"))
      .agg(count(lit(1)).as("rnk"))
      .filter(col("rnk") * 2 >= col("n_win") + 1)
      .groupBy(col("t"), col("x"), col("n_win"), col("med"))
      .agg(min(col("d")).as("mad"))
    mad.select(col("t").as("day"), col("x").as("rev_cents"), col("n_win"),
        col("med").as("med_cents"), col("mad").as("mad_cents"),
        when(abs(col("x") - col("med")) > col("mad") * 3, 1L).otherwise(0L)
          .as("is_outlier"))
      .orderBy("day")
  }

  /** Matched-sample price index numbers between the first and the last
    * order month: per-part unit values on an exact e2-cent lattice
    * (rev_cents·100 div qty), Laspeyres / Paasche / Fisher from exact
    * BIGINT cross-products, Törnqvist from per-part e12-latticed
    * ½(s₀+s₁)·ln(p₁/p₀) terms — every float folded per part BEFORE the
    * sum, so the four indexes are summation-order-proof at any scale.
    */
  def q_price_indexes(spark: SparkSession, sf: String): DataFrame = {
    val li = Tables.lineitem(spark, sf)
      .select((year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
        .cast("long").as("m"), col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("rev"))
    val bounds = li.agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
    val pm = li.crossJoin(broadcast(bounds))
      .filter(col("m") === col("m0") || col("m") === col("m1"))
      .groupBy(col("pk"), (col("m") === col("m1")).cast("int").as("cur"))
      .agg(sum(col("qty")).as("q"), sum(col("rev")).as("rev"))
      .withColumn("uv_e2", expr("rev * 100 div q"))
    val matched = Mat.once(pm.filter(col("cur") === 0)
      .select(col("pk"), col("q").as("q0"), col("rev").as("rev0"), col("uv_e2").as("p0"))
      .join(pm.filter(col("cur") === 1)
        .select(col("pk"), col("q").as("q1"), col("rev").as("rev1"), col("uv_e2").as("p1")),
        "pk"))
    val tots = matched.agg(sum(col("rev0")).as("t0"), sum(col("rev1")).as("t1"))
    val terms = matched.crossJoin(broadcast(tots))
      .select(col("pk"), col("q0"), col("q1"), col("p0"), col("p1"),
        expr("""CAST(ROUND((CAST(rev0 AS DOUBLE) / CAST(t0 AS DOUBLE)
                            + CAST(rev1 AS DOUBLE) / CAST(t1 AS DOUBLE)) * 0.5
                           * ln(CAST(p1 AS DOUBLE) / CAST(p0 AS DOUBLE)) * 1e12)
                AS BIGINT)""").as("torn_e12"))
    terms.agg(count(lit(1)).as("n_matched"),
        sum(col("p1") * col("q0")).as("l_num"), sum(col("p0") * col("q0")).as("l_den"),
        sum(col("p1") * col("q1")).as("p_num"), sum(col("p0") * col("q1")).as("p_den"),
        sum(col("torn_e12")).as("te12"))
      .select(col("n_matched"),
        expr("CAST(ROUND(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE) * 1e6) AS BIGINT)")
          .as("laspeyres_e6"),
        expr("CAST(ROUND(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE) * 1e6) AS BIGINT)")
          .as("paasche_e6"),
        expr("""CAST(ROUND(SQRT(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE)
                                * CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)) * 1e6)
                AS BIGINT)""").as("fisher_e6"),
        expr("CAST(ROUND(EXP(CAST(te12 AS DOUBLE) / 1e12) * 1e6) AS BIGINT)")
          .as("tornqvist_e6"))
  }

  /** Chained Laspeyres price-index series: consecutive-month links on
    * the matched-part e2 unit-value lattice, link ln pre-rounded to an
    * e9 BIGINT, and the chain reported in ln scale as the bounded
    * month-theta-join cumulative (a pure BIGINT — exp() of a thin-match
    * chain overflows, the ln chain never does). The
    * chain drifts from the direct index when prices oscillate; this is
    * the CPI-style monthly series next to [[q_price_indexes]]'
    * two-point comparison.
    */
  def q_chained_laspeyres(spark: SparkSession, sf: String): DataFrame = {
    val pm = Mat.once(Tables.lineitem(spark, sf)
      .select((year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
        .cast("long").as("m"), col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("rev"))
      .groupBy(col("m"), col("pk"))
      .agg(sum(col("qty")).as("q"), sum(col("rev")).as("rev"))
      .withColumn("uv_e2", expr("rev * 100 div q")))
    val links = Mat.once(pm.as("a")
      .join(pm.select((col("m") - 1).as("m"), col("pk"),
        col("q").as("q1x"), col("uv_e2").as("p1")).as("b"), Seq("m", "pk"))
      .groupBy((col("m") + 1).as("m"))
      .agg(count(lit(1)).as("n_matched"),
        sum(col("p1") * col("q")).as("num"), sum(col("uv_e2") * col("q")).as("den"))
      .select(col("m"), col("n_matched"),
        expr("CAST(ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) AS BIGINT)")
          .as("link_e6"),
        expr("CAST(ROUND(ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * 1e9) AS BIGINT)")
          .as("lnlink_e9")))
    links.as("a")
      .join(links.select(col("m").as("m2"), col("lnlink_e9").as("l2")).as("b"),
        col("m2") <= col("m"))
      .groupBy(col("a.m").as("m"), col("a.n_matched").as("n_matched"),
        col("a.link_e6").as("link_e6"))
      .agg(sum(col("l2")).as("cum_e9"))
      // chain reported in ln scale (exact integer): thin-match months make
      // exp() of the cumulative unbounded, while the ln chain stays a pure
      // BIGINT at any drift
      .select(col("m"), col("n_matched"), col("link_e6"),
        expr("cum_e9 div 1000").as("chained_ln_e6"))
      .orderBy("m")
  }

  /** ℓ-diversity audit of the release view (QI block = market segment ×
    * nation, sensitive attribute = order priority): per block the row
    * count, distinct-ℓ, entropy-ℓ (per-priority terms −p·ln p
    * pre-rounded e8 before the ≤5-term sum — order-proof), and the
    * ℓ≥3 verdict. The k-anonymity sibling counts rows; this one is the
    * attribute-disclosure check a privacy review actually needs.
    */
  def q_l_diversity(spark: SparkSession, sf: String): DataFrame = {
    val rel = Tables.orders(spark, sf)
      .select(col("o_custkey").as("cust"), col("o_orderpriority").as("sens"))
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat")), "cust")
    val cells = rel.groupBy(col("seg"), col("nat"), col("sens"))
      .agg(count(lit(1)).as("c"))
    cells
      .withColumn("n", sum(col("c")).over(Window.partitionBy("seg", "nat")))
      .select(col("seg"), col("nat"), col("n"),
        expr("""CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                           * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e8)
                AS BIGINT)""").as("term_e8"))
      .groupBy(col("seg"), col("nat"), col("n"))
      .agg(count(lit(1)).as("l_distinct"), sum(col("term_e8")).as("h_e8"))
      .select(col("seg"), col("nat"), col("n"), col("l_distinct"),
        expr("h_e8 div 100").as("entropy_e6"),
        when(col("l_distinct") >= 3, 1L).otherwise(0L).as("ok_l3"))
      .orderBy("seg", "nat")
  }

  /** Hierarchical forecast reconciliation on monthly revenue by nation:
    * holdout = the last month, naive per-nation forecast = mean of the
    * three months before it (bottom-up), direct total forecast = the
    * same rule on the total series, allocated top-down by each
    * nation's training-revenue share (e6). Output per nation: actual,
    * both forecasts, both absolute errors — the coherence-vs-accuracy
    * table every hierarchy reconciliation decision reads. All integer
    * cents; empty last-3 windows forecast 0 by the exact guard.
    */
  def q_forecast_reconcile(spark: SparkSession, sf: String): DataFrame = {
    val nm = Mat.once(Tables.orders(spark, sf)
      .select(col("o_custkey").as("cust"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"),
        cents(col("o_totalprice")).as("rev"))
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_nationkey").cast("long").as("nat")), "cust")
      .groupBy(col("nat"), col("m"))
      .agg(sum(col("rev")).as("rev")))
    val mmax = nm.agg(max(col("m")).as("mx"))
    val base = nm.crossJoin(broadcast(mmax))
    val bu = base.filter(col("m").between(col("mx") - 3, col("mx") - 1))
      .groupBy(col("nat")).agg(sum(col("rev")).as("s3"), count(lit(1)).as("c3"))
      .select(col("nat"), expr("s3 div c3").as("bu_fc"))
    val share = base.filter(col("m") < col("mx"))
      .groupBy(col("nat")).agg(sum(col("rev")).as("tr"))
    val grand = share.agg(sum(col("tr")).as("g"))
    val tdTot = base.filter(col("m").between(col("mx") - 3, col("mx") - 1))
      .groupBy(col("m")).agg(sum(col("rev")).as("mrev"))
      .agg(sum(col("mrev")).as("ts3"), count(lit(1)).as("tc3"))
      .select(expr("ts3 div tc3").as("td_total"))
    val actual = base.filter(col("m") === col("mx"))
      .select(col("nat"), col("rev").as("actual"))
    share.crossJoin(broadcast(grand)).crossJoin(broadcast(tdTot))
      // two-step lattice: share_e6 ≤ 1e6 keeps td_total·share inside BIGINT
      // where td_total·tr would overflow
      .select(col("nat"), col("tr"),
        expr("td_total * (tr * 1000000 div g) div 1000000").as("td_fc"))
      .join(bu, Seq("nat"), "left_outer")
      .join(actual, Seq("nat"), "left_outer")
      .select(col("nat"), coalesce(col("actual"), lit(0L)).as("actual_cents"),
        coalesce(col("bu_fc"), lit(0L)).as("bu_fc_cents"),
        col("td_fc").as("td_fc_cents"))
      .withColumn("bu_abs_err", abs(col("actual_cents") - col("bu_fc_cents")))
      .withColumn("td_abs_err", abs(col("actual_cents") - col("td_fc_cents")))
      .orderBy("nat")
  }

  /** LB_Keogh lower bound between the daily purchase and click revenue
    * series (dollars lattice, Sakoe-Chiba radius r = 2): envelope
    * U/L = max/min of the candidate inside ±r days (bounded theta
    * join), LB = Σ squared exceedance outside [L, U]. This is the
    * pruning bound every scalable DTW search evaluates INSTEAD of the
    * O(n²) warping DP — exact BIGINT dollars² so the bound is
    * summation-order-proof; days with an empty envelope window are
    * counted, not guessed.
    */
  def q_lbkeogh_bound(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(col("event_type"),
        datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("c"))
      .select(col("event_type"), col("t"), expr("c div 100").as("v")))
    val x = daily.filter(col("event_type") === "purchase").select(col("t"), col("v").as("x"))
    val y = daily.filter(col("event_type") === "click")
      .select(col("t").as("t2"), col("v").as("yv"))
    val env = x.join(y, col("t2").between(col("t") - 2, col("t") + 2), "left_outer")
      .groupBy(col("t"), col("x"))
      .agg(max(col("yv")).as("hi"), min(col("yv")).as("lo"), count(col("yv")).as("nw"))
    env.agg(count(lit(1)).as("n_days"),
        sum(when(col("nw") === 0, 1L).otherwise(0L)).as("n_nowindow"),
        sum(when(col("nw") > 0 && (col("x") > col("hi") || col("x") < col("lo")), 1L)
          .otherwise(0L)).as("n_exceed"),
        sum(when(col("nw") > 0 && col("x") > col("hi"),
            (col("x") - col("hi")) * (col("x") - col("hi")))
          .when(col("nw") > 0 && col("x") < col("lo"),
            (col("lo") - col("x")) * (col("lo") - col("x")))
          .otherwise(0L)).as("lb_dollars2"))
  }

  /** SLO error-budget burn-down: per day the error share of all events
    * against a 99% success SLO — burn rate (error rate ÷ budget, e4),
    * the running consumed/allowed budget via the calendar-bounded
    * cumulative, and the remaining budget e6 (negative = blown). Exact
    * integer arithmetic end to end; this is the on-call dashboard
    * number, computed the mergeable way (daily partials + prefix).
    */
  def q_error_budget_burn(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err")))
    daily.as("a")
      .join(daily.select(col("t").as("t2"), col("n").as("n2"),
        col("n_err").as("e2")).as("b"), col("t2") <= col("t"))
      .groupBy(col("a.t").as("day"), col("a.n").as("n"), col("a.n_err").as("n_err"))
      .agg(sum(col("n2")).as("cum_n"), sum(col("e2")).as("cum_err"))
      .select(col("day"), col("n"), col("n_err"),
        expr("n_err * 1000000 div n").as("err_rate_e6"),
        expr("n_err * 1000000 div n div 100").as("burn_e4"),
        col("cum_n"), col("cum_err"),
        expr("(cum_n div 100 - cum_err) * 1000000 div greatest(cum_n div 100, 1)")
          .as("budget_remaining_e6"))
      .orderBy("day")
  }

  /** Geometric adstock (λ=½, 8-day carryover) of daily click revenue
    * against purchase revenue: the adstock is an EXACT integer — lag-k
    * clicks weighted 2⁷⁻ᵏ via the bounded theta join — and both Pearson
    * correlations (raw and adstocked) come from exact sufficient sums.
    * The marketing-mix carryover transform, shuffled once on the day
    * key regardless of scale.
    */
  def q_adstock_correlation(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(when(col("event_type") === "click", cents(col("value")))
          .otherwise(0L)).as("cc"),
        sum(when(col("event_type") === "purchase", cents(col("value")))
          .otherwise(0L)).as("pc"))
      // $100 lattice: the 128-weighted adstock squared would overflow
      // BIGINT on cent sums at fleet scale; correlation is scale-free
      .select(col("t"), expr("cc div 10000").as("c"), expr("pc div 10000").as("p")))
    val ad = daily.as("a")
      .join(daily.select(col("t").as("t2"), col("c").as("c2")).as("b"),
        col("t2").between(col("t") - 7, col("t")))
      .groupBy(col("a.t").as("t"), col("a.c").as("c"), col("a.p").as("p"))
      .agg(sum(col("c2") *
        pow(lit(2.0), (lit(7L) - (col("a.t") - col("t2"))).cast("double"))
          .cast("long")).as("ad128"))
    def corr2(xc: String, yc: String, as_ : String): Column =
      round(expr(
        s"""(CAST(n AS DOUBLE) * CAST(s_${xc}${yc} AS DOUBLE)
             - CAST(s_$xc AS DOUBLE) * CAST(s_$yc AS DOUBLE))
           / (SQRT(CAST(n AS DOUBLE) * CAST(s_$xc$xc AS DOUBLE)
                   - CAST(s_$xc AS DOUBLE) * CAST(s_$xc AS DOUBLE))
              * SQRT(CAST(n AS DOUBLE) * CAST(s_$yc$yc AS DOUBLE)
                     - CAST(s_$yc AS DOUBLE) * CAST(s_$yc AS DOUBLE)))"""), 6)
        .as(as_)
    ad.agg(count(lit(1)).as("n"),
        sum(col("c")).as("s_c"), sum(col("p")).as("s_p"), sum(col("ad128")).as("s_a"),
        sum(col("c") * col("p")).as("s_cp"), sum(col("c") * col("c")).as("s_cc"),
        sum(col("p") * col("p")).as("s_pp"), sum(col("ad128") * col("p")).as("s_ap"),
        sum(col("ad128") * col("ad128")).as("s_aa"))
      .select(col("n").as("n_days"),
        (corr2("c", "p", "corr_raw") + lit(0.0)).as("corr_raw"),
        (corr2("a", "p", "corr_adstock") + lit(0.0)).as("corr_adstock"))
  }

  /** Recurrence quantification of the daily revenue series: pairs of
    * days within ε = range/10 of each other are recurrent (RR e6), and
    * a recurrent pair that stays recurrent one step later is diagonal
    * (DET e6 — the determinism measure separating structure from
    * noise). All exact integer comparisons; the pair space is
    * calendar-bounded (days², independent of event volume), which is
    * what makes RQA affordable at any scale.
    */
  def q_recurrence_quantification(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("x")))
    val eps = raw.agg(expr("(max(x) - min(x)) div 10").as("eps"))
    val rec = Mat.once(raw.as("a")
      .join(raw.select(col("t").as("t2"), col("x").as("x2")).as("b"),
        col("t2") > col("t"))
      .crossJoin(broadcast(eps))
      .select(col("t").as("i"), col("t2").as("j"),
        (abs(col("x") - col("x2")) <= col("eps")).as("r")))
    val base = rec.agg(count(lit(1)).as("n_pairs"),
      sum(when(col("r"), 1L).otherwise(0L)).as("n_rec"))
    val diag = rec.filter(col("r")).as("p")
      .join(rec.filter(col("r"))
        .select(col("i").as("i2"), col("j").as("j2")).as("q"),
        col("i2") === col("i") + 1 && col("j2") === col("j") + 1)
      .agg(count(lit(1)).as("n_diag"))
    val n = raw.agg(count(lit(1)).as("n_days"))
    n.crossJoin(base).crossJoin(diag)
      .select(col("n_days"), col("n_pairs"), col("n_rec"),
        expr("n_rec * 1000000 div n_pairs").as("rr_e6"),
        col("n_diag"),
        when(col("n_rec") > 0, expr("n_diag * 1000000 div n_rec"))
          .otherwise(lit(0L)).as("det_e6"))
  }

  /** Cornish-Fisher 95% quantile of daily revenue: the skew/kurtosis
    * expansion w = z + (z²−1)γ/6 + (z³−3z)κ/24 − (2z³−5z)γ²/36 applied
    * to exact moment sums (cubes/quartics accumulate as doubles —
    * cents³ overflows BIGINT), next to the normal quantile and the
    * exact empirical rank-rule quantile it tries to approximate. The
    * risk-desk VaR adjustment as one aggregate + one bounded rank join.
    */
  def q_cornish_fisher(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("x")))
    val mom = raw.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
      sum(col("x").cast("double") * col("x").cast("double")).as("s2"),
      sum(col("x").cast("double") * col("x").cast("double")
        * col("x").cast("double")).as("s3"),
      sum(col("x").cast("double") * col("x").cast("double")
        * col("x").cast("double") * col("x").cast("double")).as("s4"))
    val emp = raw.as("a")
      .join(raw.select(col("t").as("t2"), col("x").as("x2")).as("b"),
        col("x2") < col("x") || (col("x2") === col("x") && col("t2") <= col("t")))
      .groupBy(col("a.t").as("t"), col("a.x").as("x"))
      .agg(count(lit(1)).as("rn"))
      .crossJoin(broadcast(raw.agg(count(lit(1)).as("nn"))))
      .filter(col("rn") * 20 >= col("nn") * 19)
      .agg(min(col("x")).as("q95_emp"))
    mom.crossJoin(emp)
      .select(col("n").as("n_days"),
        expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").as("mu"),
        expr("""SQRT(s2 / CAST(n AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))""").as("sd"),
        col("s2"), col("s3"), col("s4"), col("s1"), col("n"), col("q95_emp"))
      .select(col("n_days"), col("mu"), col("sd"), col("q95_emp"),
        expr("""(s3 / CAST(n AS DOUBLE) - 3.0 * mu * (s2 / CAST(n AS DOUBLE))
                + 2.0 * mu * mu * mu) / (sd * sd * sd)""").as("g"),
        expr("""(s4 / CAST(n AS DOUBLE) - 4.0 * mu * (s3 / CAST(n AS DOUBLE))
                + 6.0 * mu * mu * (s2 / CAST(n AS DOUBLE))
                - 3.0 * mu * mu * mu * mu) / (sd * sd * sd * sd) - 3.0""").as("k"))
      .withColumn("z", lit(1.6448536269514722d))
      .select(col("n_days"),
        (round(col("g"), 6) + lit(0.0)).as("skew"),
        (round(col("k"), 6) + lit(0.0)).as("excess_kurtosis"),
        (round(expr("mu + z * sd"), 4) + lit(0.0)).as("q95_normal"),
        (round(expr(
          """mu + (z + (z * z - 1.0) * g / 6.0
               + (z * z * z - 3.0 * z) * k / 24.0
               - (2.0 * z * z * z - 5.0 * z) * g * g / 36.0) * sd"""), 4)
          + lit(0.0)).as("q95_cf"),
        col("q95_emp"))
  }

  /** Pinball (quantile) loss scorecard: the train-period p50/p90 of
    * daily revenue (exact rank rule) evaluated as constant quantile
    * forecasts over the last 14 days. Loss stays on the integer cent
    * lattice (τ in e2), so the scorecard is exact — the metric every
    * probabilistic-forecast benchmark reports, with the train/test
    * split a pure calendar filter.
    */
  def q_pinball_loss(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("x")))
    val cut = raw.agg((max(col("t")) - 13).as("tcut"))
    val train = Mat.once(raw.crossJoin(broadcast(cut)).filter(col("t") < col("tcut"))
      .select(col("t"), col("x")))
    val ranked = train.as("a")
      .join(train.select(col("t").as("t2"), col("x").as("x2")).as("b"),
        col("x2") < col("x") || (col("x2") === col("x") && col("t2") <= col("t")))
      .groupBy(col("a.t").as("t"), col("a.x").as("x"))
      .agg(count(lit(1)).as("rn"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("nn"))))
    val qs = ranked.filter(col("rn") * 2 >= col("nn"))
      .agg(min(col("x")).as("q")).withColumn("tau_e2", lit(50L))
      .unionByName(ranked.filter(col("rn") * 10 >= col("nn") * 9)
        .agg(min(col("x")).as("q")).withColumn("tau_e2", lit(90L)))
    val test = raw.crossJoin(broadcast(cut)).filter(col("t") >= col("tcut"))
      .select(col("x").as("y"))
    test.crossJoin(broadcast(qs))
      .groupBy(col("tau_e2"), col("q").as("q_pred_cents"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("y") >= col("q"), col("tau_e2") * (col("y") - col("q")))
          .otherwise((lit(100L) - col("tau_e2")) * (col("q") - col("y"))))
          .as("loss_e2"))
      .select(col("tau_e2"), col("q_pred_cents"), col("n_test"), col("loss_e2"),
        expr("loss_e2 div n_test").as("mean_loss_cents_e2"))
      .orderBy("tau_e2")
  }

  /** Process-mining bottleneck table: the directly-follows transitions
    * of each user's event stream ((ts, id)-ordered keyed lag — never a
    * global sort) with exact µs mean waiting time; the top-8
    * well-supported slowest hand-offs are where the process stalls,
    * and self-transitions flag rework loops. The duration-annotated
    * DFG every conformance-checking pipeline starts from.
    */
  def q_process_bottleneck(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_usl", "event_id")
    Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts_usl"), col("event_type"))
      .select(col("event_type").as("to_type"),
        lag(col("event_type"), 1).over(w).as("from_type"),
        (col("ts_usl") - lag(col("ts_usl"), 1).over(w)).as("gap_us"))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"), sum(col("gap_us")).as("sum_gap_us"))
      .filter(col("n") >= 5)
      .select(col("from_type"), col("to_type"), col("n"),
        expr("sum_gap_us div n").as("mean_gap_us"),
        when(col("from_type") === col("to_type"), 1L).otherwise(0L).as("is_rework"))
      .orderBy(col("mean_gap_us").desc, col("from_type").asc, col("to_type").asc)
      .limit(8)
  }

  /** Global clustering coefficient vs its configuration-model null:
    * C = 3·triangles/wedges (triangles via the wedge join — Σdeg²
    * bounded, never node³) against E[C]ᶜᵐ = (⟨d²⟩−⟨d⟩)²/(n·⟨d⟩³) from
    * the same one degree aggregate. The ratio says whether the
    * co-purchase graph clusters MORE than random given its degree
    * sequence — the null-model check every "community found!" claim
    * needs.
    */
  def q_clustering_null_model(spark: SparkSession, sf: String): DataFrame = {
    // checkpoint the EDGE LIST itself: e0 feeds the triangle join's e-leg
    // AND (doubled) both wedge legs + the degree aggregate — without this
    // the lineitem pair build re-executes for the un-checkpointed e-leg
    // (measured 2× the query's cost at sf0.1)
    val e0 = Mat.once(support2Edges(spark, sf))
    val ed = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
    val tri = e0.as("e")
      .join(ed.select(col("u").as("eu"), col("v").as("z1")).as("a"),
        col("e.u") === col("eu"))
      .join(ed.select(col("u").as("ev"), col("v").as("z2")).as("b"),
        col("e.v") === col("ev") && col("z1") === col("z2"))
      .agg((count(lit(1)) / 3).cast("long").as("triangles"))
    val degm = ed.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d") * (col("d") - 1)).as("wedges2"),
        sum(col("d") * col("d")).as("sd2"))
    degm.crossJoin(tri)
      .select(col("n").as("n_nodes"), expr("sd div 2").as("n_edges"),
        col("triangles"), expr("wedges2 div 2").as("wedges"),
        (round(expr(
          "6.0 * CAST(triangles AS DOUBLE) / CAST(wedges2 AS DOUBLE)"), 6)
          + lit(0.0)).as("c_global"),
        (round(expr(
          """(CAST(sd2 AS DOUBLE) / CAST(n AS DOUBLE) - CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(sd2 AS DOUBLE) / CAST(n AS DOUBLE) - CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE)
                * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)))"""), 6)
          + lit(0.0)).as("c_random"))
  }

  /** Molloy-Reed percolation audit of the co-purchase graph: κ = ⟨d²⟩/⟨d⟩
    * (giant component iff κ > 2) and the bond-percolation threshold
    * p_c = ⟨d⟩/(⟨d²⟩−⟨d⟩) — how much random edge loss the graph
    * survives. One degree aggregate; the robustness number behind
    * every "can we drop x% of the network" question.
    */
  def q_percolation_threshold(spark: SparkSession, sf: String): DataFrame = {
    val e0 = support2Edges(spark, sf)
    e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .groupBy(col("u")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sd2"))
      .select(col("n").as("n_nodes"), expr("sd div 2").as("n_edges"),
        (round(expr("CAST(sd2 AS DOUBLE) / CAST(sd AS DOUBLE)"), 6) + lit(0.0))
          .as("kappa"),
        when(expr("CAST(sd2 AS DOUBLE) / CAST(sd AS DOUBLE)") > 2.0, 1L)
          .otherwise(0L).as("giant_component"),
        (round(expr(
          "CAST(sd AS DOUBLE) / (CAST(sd2 AS DOUBLE) - CAST(sd AS DOUBLE))"), 6)
          + lit(0.0)).as("p_critical"))
  }

  /** AGM fractional-edge-cover bound (Atserias-Grohe-Marx 2008) for the
    * triangle join E(a,b)⋈E(b,c)⋈E(a,c) on the directed co-purchase
    * edge set: bound = m^{3/2}, vs the actual triangle-join output
    * (6·triangles). The tightness ratio is the worst-case-optimal-join
    * motivation number — binary join plans can exceed the bound
    * in intermediates, Leapfrog-style plans cannot. Triangles via the
    * keyed wedge join (basket-bounded edge build, never vertex²).
    */
  def q_agm_bound(spark: SparkSession, sf: String): DataFrame = {
    val e0 = Mat.once(support2Edges(spark, sf))
    val ed = Mat.once(e0.unionByName(e0.select(col("v").as("u"), col("u").as("v"))))
    val tri = e0.as("e")
      .join(ed.select(col("u").as("eu"), col("v").as("z1")).as("a"),
        col("e.u") === col("eu"))
      .join(ed.select(col("u").as("ev"), col("v").as("z2")).as("b"),
        col("e.v") === col("ev") && col("z1") === col("z2"))
      .agg(count(lit(1)).as("c3"))
      .select(expr("c3 div 3").as("triangles"))
    val m = ed.agg(count(lit(1)).as("m"))
    m.crossJoin(tri)
      .select(col("m").as("n_directed_edges"), col("triangles"),
        (col("triangles") * 6L).as("triangle_join_actual"),
        expr("CAST(FLOOR(CAST(m AS DOUBLE) * SQRT(CAST(m AS DOUBLE))) AS BIGINT)")
          .as("agm_bound"))
      .select(col("n_directed_edges"), col("triangles"),
        col("triangle_join_actual"), col("agm_bound"),
        expr("triangle_join_actual * 1000000 div agm_bound").as("tightness_e6"))
  }

  // ---- §2.156 rank aggregation — Condorcet, RRF, Kemeny, Bradley-Terry ----

  /** Segment "ballots": each market segment ranks every brand by exact
    * revenue cents (ties broken by brand name), the shared input of the
    * §2.156 rank-aggregation family. One fact shuffle on the agg key;
    * part is broadcast; the resulting lattice is segments×brands
    * (≤ 5×25) independent of scale factor.
    */
  private def segmentBallots(spark: SparkSession, sf: String): DataFrame = {
    val rev = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      .join(Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("p_brand").as("brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev_cents"))
    val w = Window.partitionBy("segment")
      .orderBy(col("rev_cents").desc, col("brand").asc)
    rev.select(col("segment"), col("brand"),
      row_number().over(w).cast("long").as("rk"))
  }

  /** Condorcet tournament over the segment ballots: for every brand
    * pair, in how many segments does a out-rank b; Copeland score =
    * majority wins − majority losses; the Condorcet winner (beats every
    * opponent head-to-head) flagged if one exists. The pair space is
    * candidate-bounded (brands², never data-bounded), so the tournament
    * costs the same at any scale factor once the ballots aggregate is
    * done.
    */
  def q_condorcet_copeland(spark: SparkSession, sf: String): DataFrame = {
    val b = Mat.once(segmentBallots(spark, sf))
    val duels = b.as("a")
      .join(b.select(col("segment").as("s2"), col("brand").as("b2"),
        col("rk").as("rk2")).as("bb"),
        col("segment") === col("s2") && col("brand") < col("b2"))
      .groupBy(col("brand").as("x"), col("b2").as("y"))
      .agg(sum(when(col("rk") < col("rk2"), 1L).otherwise(0L)).as("x_wins"),
        sum(when(col("rk") > col("rk2"), 1L).otherwise(0L)).as("y_wins"))
    val perBrand = duels
      .select(col("x").as("brand"),
        when(col("x_wins") > col("y_wins"), 1L).otherwise(0L).as("maj_win"),
        when(col("x_wins") < col("y_wins"), 1L).otherwise(0L).as("maj_loss"))
      .unionByName(duels.select(col("y").as("brand"),
        when(col("y_wins") > col("x_wins"), 1L).otherwise(0L).as("maj_win"),
        when(col("y_wins") < col("x_wins"), 1L).otherwise(0L).as("maj_loss")))
      .groupBy(col("brand"))
      .agg(sum(col("maj_win")).as("majority_wins"),
        sum(col("maj_loss")).as("majority_losses"),
        count(lit(1)).as("n_opponents"))
    perBrand
      .select(col("brand"), col("majority_wins"), col("majority_losses"),
        (col("majority_wins") - col("majority_losses")).as("copeland_score"),
        when(col("majority_wins") === col("n_opponents"), 1L).otherwise(0L)
          .as("is_condorcet_winner"))
      .orderBy(col("copeland_score").desc, col("brand").asc)
      .limit(10)
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09, k=60) of the five
    * segment ballots: score(b) = Σ_s 1e9 div (60 + rank_s(b)), the
    * integer-division e9 lattice making the sum order-free and
    * engine-exact. The same fusion merges retrieval result lists; here
    * it builds the cross-segment consensus brand ranking, with the
    * rank spread shown as the disagreement witness.
    */
  def q_rrf_fusion(spark: SparkSession, sf: String): DataFrame = {
    segmentBallots(spark, sf)
      .groupBy(col("brand"))
      .agg(sum(expr("1000000000 div (60 + rk)")).as("rrf_e9"),
        count(lit(1)).as("n_ballots"),
        min(col("rk")).as("best_rank"), max(col("rk")).as("worst_rank"))
      .orderBy(col("rrf_e9").desc, col("brand").asc)
      .limit(10)
  }

  /** Kemeny distance of each segment ballot from the global-revenue
    * consensus ranking: the number of discordant brand pairs (Kendall
    * tau distance), plus the e6-normalized distance over the C(n,2)
    * pair universe — which segment's taste diverges most from the
    * aggregate. Pairs are candidate-bounded (brands² per segment).
    */
  def q_kemeny_distance(spark: SparkSession, sf: String): DataFrame = {
    val b = Mat.once(segmentBallots(spark, sf))
    val grev = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev_cents"))
    // global consensus rank via the theta-count pattern (≤ brands² pairs,
    // keyed-parallel; no global window)
    val g = grev.as("a")
      .join(grev.select(col("brand").as("b2"), col("rev_cents").as("v2")).as("bb"),
        col("v2") > col("rev_cents") ||
          (col("v2") === col("rev_cents") && col("b2") < col("brand")), "left_outer")
      .groupBy(col("a.brand").as("brand"))
      .agg((count(col("b2")) + 1L).as("grk"))
    val withG = b.join(broadcast(g), "brand")
      .select(col("segment"), col("brand"), col("rk"), col("grk"))
    withG.as("a")
      .join(withG.select(col("segment").as("s2"), col("brand").as("b2"),
        col("rk").as("rk2"), col("grk").as("grk2")).as("bb"),
        col("segment") === col("s2") && col("brand") < col("b2"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("rk") < col("rk2")) =!= (col("grk") < col("grk2")), 1L)
          .otherwise(0L)).as("discordant"))
      .select(col("segment"), col("n_pairs"), col("discordant"),
        expr("discordant * 1000000 div n_pairs").as("kemeny_dist_e6"))
      .orderBy(col("segment"))
  }

  /** Bradley-Terry strength fit, two MM iterations (Hunter 2004) on the
    * segment-ballot pairwise wins: w⁽¹⁾ ∝ wins (the uniform-start
    * closed form), then w⁽²⁾ᵢ = Wᵢ·1e9 div Σⱼ nᵢⱼ·1e9 div (w⁽¹⁾ᵢ+w⁽¹⁾ⱼ)
    * on the e9 integer lattice — iteration 2 is where opponent strength
    * starts mattering, and the rank shift between the two is reported.
    * The duel matrix is candidate-bounded (≤ brands²).
    */
  def q_bradley_terry_step(spark: SparkSession, sf: String): DataFrame = {
    val b = Mat.once(segmentBallots(spark, sf))
    val duels = Mat.once(b.as("a")
      .join(b.select(col("segment").as("s2"), col("brand").as("b2"),
        col("rk").as("rk2")).as("bb"),
        col("segment") === col("s2") && col("brand") =!= col("b2"))
      .groupBy(col("brand").as("x"), col("b2").as("y"))
      .agg(sum(when(col("rk") < col("rk2"), 1L).otherwise(0L)).as("wins_xy"),
        count(lit(1)).as("n_xy")))
    val w1 = duels.groupBy(col("x").as("brand"))
      .agg(sum(col("wins_xy")).as("wins"))
      .select(col("brand"), col("wins"), (col("wins") * 1000L).as("w1_e3"))
    val denom = duels
      .join(broadcast(w1.select(col("brand").as("x"), col("w1_e3").as("wx"))), "x")
      .join(broadcast(w1.select(col("brand").as("y"), col("w1_e3").as("wy"))), "y")
      .groupBy(col("x").as("brand"))
      .agg(sum(expr("n_xy * 1000000000 div (wx + wy)")).as("den_e6"))
    val w2 = Mat.once(w1.join(denom, "brand")
      .select(col("brand"), col("wins"), col("w1_e3"),
        expr("wins * 1000000000 div den_e6").as("w2_e3")))
    // ranks via the theta-count pattern on the ≤ brands-row strength
    // table (no global window)
    def rk(c: String, as: String)(df: DataFrame): DataFrame =
      df.as("a").join(
        df.select(col("brand").as("b2"), col(c).as("v2")).as("bb"),
        col("v2") > col(c) ||
          (col("v2") === col(c) && col("b2") < col("brand")), "left_outer")
        .groupBy(df.columns.map(col): _*)
        .agg((count(col("b2")) + 1L).as(as))
    rk("w2_e3", "rank_iter2")(rk("w1_e3", "rank_iter1")(w2))
      .select(col("brand"), col("wins"), col("w1_e3"), col("w2_e3"),
        col("rank_iter1"), col("rank_iter2"),
        (col("rank_iter1") - col("rank_iter2")).as("rank_shift"))
      .orderBy(col("rank_iter2"), col("brand"))
      .limit(10)
  }

  // ---- §2.163 privacy risk & anonymization cost ---------------------------

  /** t-closeness audit (Li et al. ICDE'07) with the ordered-distance EMD:
    * equivalence classes are (status, order-month), the sensitive
    * attribute is the priority ordinal 1..5, and EMD = Σ|cumulative
    * p−q| / (m−1) between each class's distribution and the global one.
    * Probabilities are e6 integers (identical truncation on both
    * engines) and the 4 cumulative terms are explicit columns, so the
    * whole check is two hash aggregates plus one broadcast — the
    * attribute-disclosure gate that k-anonymity and ℓ-diversity miss
    * (a class can be diverse yet skewed toward LOW-priority). Top-15
    * classes by distance, with the t=0.15 verdict.
    */
  def q_t_closeness(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf).select(
      col("o_orderstatus").as("st"),
      date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
      expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("ord"))
    def dist(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = grouped
      .agg(count(lit(1)).as("n"),
        sum(when(col("ord") === 1L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("ord") === 2L, 1L).otherwise(0L)).as("c2"),
        sum(when(col("ord") === 3L, 1L).otherwise(0L)).as("c3"),
        sum(when(col("ord") === 4L, 1L).otherwise(0L)).as("c4"),
        sum(when(col("ord") === 5L, 1L).otherwise(0L)).as("c5"))
      .select(col("*"),
        expr("c1 * 1000000 div n").as("p1"), expr("c2 * 1000000 div n").as("p2"),
        expr("c3 * 1000000 div n").as("p3"), expr("c4 * 1000000 div n").as("p4"))
    val glob = dist(o.groupBy())
      .select(col("p1").as("q1"), col("p2").as("q2"), col("p3").as("q3"),
        col("p4").as("q4"))
    dist(o.groupBy(col("st"), col("mon"))).crossJoin(broadcast(glob))
      .select(col("st").as("o_orderstatus"), col("mon").as("month"),
        col("n").as("n_ec"),
        expr("""(abs(p1 - q1) + abs(p1 + p2 - q1 - q2)
               + abs(p1 + p2 + p3 - q1 - q2 - q3)
               + abs(p1 + p2 + p3 + p4 - q1 - q2 - q3 - q4)) div 4""")
          .as("emd_e6"))
      .select(col("o_orderstatus"), col("month"), col("n_ec"), col("emd_e6"),
        when(col("emd_e6") > 150000L, 1L).otherwise(0L).as("violates_t15"))
      .orderBy(col("emd_e6").desc, col("o_orderstatus"), col("month"))
      .limit(15)
  }

  /** Discernibility metric (Bayardo-Agrawal ICDE'05) across a 4-level
    * generalization lattice of the customer quasi-identifiers — (nation,
    * segment, $1000 balance band) → (nation, segment) → (nation) → ⊤:
    * DM = Σ_{|EC|≥k}|EC|² + n·Σ_{|EC|<k}|EC| at k=5, plus the achieved
    * k-anonymity (min class size) and the rows a suppression policy
    * would drop. Each level is one hash aggregate over customers; the
    * level summaries are 4 rows. The monotone DM-vs-k trade is the cost
    * curve an anonymization search (Incognito/Flash) walks.
    */
  def q_discernibility_metric(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(spark, sf).select(
      col("c_nationkey").cast("long").as("nat"), col("c_mktsegment").as("seg"),
      expr("(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
        .as("band"))
    val n = c.agg(count(lit(1)).as("n_total"))
    def level(name: String, keys: Seq[Column]): DataFrame = {
      val ecs =
        if (keys.isEmpty) c.groupBy(lit(1).as("g")).agg(count(lit(1)).as("ec"))
        else c.groupBy(keys: _*).agg(count(lit(1)).as("ec"))
      ecs.crossJoin(broadcast(n))
        .agg(count(lit(1)).as("n_ec"), min(col("ec")).as("min_ec"),
          sum(when(col("ec") < 5L, col("ec")).otherwise(0L)).as("n_suppressed"),
          sum(when(col("ec") >= 5L, col("ec") * col("ec"))
            .otherwise(col("ec") * col("n_total"))).as("dm"))
        .select(lit(name).as("level"), col("n_ec"), col("min_ec"),
          col("n_suppressed"), col("dm"))
    }
    level("g0_nat_seg_band", Seq(col("nat"), col("seg"), col("band")))
      .unionByName(level("g1_nat_seg", Seq(col("nat"), col("seg"))))
      .unionByName(level("g2_nat", Seq(col("nat"))))
      .unionByName(level("g3_top", Seq.empty))
      .orderBy("level")
  }

  /** Normalized certainty penalty (Xu et al. KDD'06) — the information-
    * loss side of the anonymization trade: for balance-band widths
    * $500/$2000/$8000 the numeric NCP is the record-weighted actual band
    * spread over the global range, and generalizing nation→region adds
    * the categorical subtree penalty |region|/|nations|. Six (width ×
    * generalize) rows of e6 penalties — read together with
    * q_discernibility_metric this is the cost/risk frontier. All sums
    * are exact integer cents with a single trailing division.
    */
  def q_ncp_generalization(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(spark, sf).select(
      col("c_nationkey").cast("long").as("nat"),
      (cents(col("c_acctbal")) + 100000L).as("bc"))
    val stats = c.agg(count(lit(1)).as("n"),
      (max(col("bc")) - min(col("bc"))).as("rng"))
    val bands = c
      .select(col("bc"), explode(array(lit(50000L), lit(200000L), lit(800000L)))
        .as("w"))
      .groupBy(col("w"), expr("bc div w").as("band"))
      .agg(count(lit(1)).as("cnt"), (max(col("bc")) - min(col("bc"))).as("spread"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_bands"),
        sum(col("cnt") * col("spread")).as("num_sum"))
    val regionSize = Tables.nation(spark, sf)
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("rsize"))
    val natCount = Tables.nation(spark, sf).agg(count(lit(1)).as("n_nat"))
    val catSum = c
      .join(broadcast(Tables.nation(spark, sf)
        .select(col("n_nationkey").cast("long").as("nat"), col("n_regionkey"))),
        "nat")
      .join(broadcast(regionSize), "n_regionkey")
      .agg(sum(col("rsize")).as("cat_sum"))
    bands.crossJoin(broadcast(stats)).crossJoin(broadcast(catSum))
      .crossJoin(broadcast(natCount))
      .select(col("w"), col("n_bands"), col("num_sum"), col("n"), col("rng"),
        col("cat_sum"), col("n_nat"),
        explode(array(lit(0L), lit(1L))).as("generalize_nation"))
      .select(col("w").as("w_cents"), col("generalize_nation"), col("n_bands"),
        expr("num_sum * 1000000 div (rng * n)").as("avg_num_ncp_e6"),
        when(col("generalize_nation") === 1L,
          expr("cat_sum * 1000000 div (n_nat * n)")).otherwise(0L)
          .as("avg_cat_ncp_e6"))
      .select(col("w_cents"), col("generalize_nation"), col("n_bands"),
        col("avg_num_ncp_e6"), col("avg_cat_ncp_e6"),
        expr("(avg_num_ncp_e6 + avg_cat_ncp_e6) div 2").as("total_ncp_e6"))
      .orderBy("w_cents", "generalize_nation")
  }
  // ---- §2.165 fair allocation — max-min water-filling, D'Hondt, Hamilton ---

  /** Max-min fair (water-filling) allocation of a capacity equal to 60%
    * of total demand across the 5 segment revenue demands: the water
    * level λ solves Σ min(dᵢ, λ) = C; ranks and prefix sums are
    * segment-bounded theta-counts, λ and the cutoff come from the
    * standard progressive-filling test d₍ᵢ₎ ≤ (C − prefix)/(n−i+1), and
    * the integer remainder goes to the first unsatisfied segments in
    * name order so Σ alloc = C exactly. The RFC-style fairness baseline
    * every shared-cluster scheduler states its guarantees against.
    */
  def q_maxmin_fairness(spark: SparkSession, sf: String): DataFrame = {
    val d = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("cust"))
      .groupBy(col("seg")).agg(sum(cents(col("o_totalprice"))).as("dem")))
    val tot = d.agg(sum(col("dem")).as("td"), count(lit(1)).as("n"))
      .select(col("td"), col("n"), expr("td * 6 div 10").as("cap"))
    val o = d.select(col("seg").as("o_seg"), col("dem").as("o_dem"))
    val ranked = Mat.once(d.join(broadcast(o),
        col("o_dem") < col("dem") ||
        (col("o_dem") === col("dem") && col("o_seg") < col("seg")), "left_outer")
      .groupBy(col("seg"), col("dem"))
      .agg((count(col("o_seg")) + 1L).as("rk"),
        coalesce(sum(col("o_dem")), lit(0L)).as("prefix"))
      .crossJoin(broadcast(tot))
      .select(col("seg"), col("dem"), col("rk"), col("prefix"), col("cap"),
        col("n"),
        when(col("dem") * (col("n") - col("rk") + 1L)
          <= col("cap") - col("prefix"), 1L).otherwise(0L).as("satisfied")))
    val cut = ranked
      .agg(coalesce(sum(col("satisfied")), lit(0L)).as("n_sat"),
        coalesce(sum(when(col("satisfied") === 1L, col("dem"))
          .otherwise(0L)), lit(0L)).as("sat_dem"))
      .crossJoin(broadcast(tot))
      .select(col("n_sat"), col("sat_dem"),
        when(col("n") > col("n_sat"),
          expr("(cap - sat_dem) div (n - n_sat)")).otherwise(lit(0L))
          .as("lambda"),
        when(col("n") > col("n_sat"),
          expr("(cap - sat_dem) % (n - n_sat)")).otherwise(lit(0L))
          .as("rem"))
    val unsatRank = ranked.filter(col("satisfied") === 0L)
      .select(col("seg").as("u_seg"))
    val extraRk = ranked.filter(col("satisfied") === 0L).as("x")
      .join(broadcast(unsatRank), col("u_seg") < col("seg"), "left_outer")
      .groupBy(col("seg")).agg(count(col("u_seg")).as("name_rk"))
    ranked.join(broadcast(extraRk), Seq("seg"), "left_outer")
      .crossJoin(broadcast(cut))
      .select(col("seg").as("c_mktsegment"), col("dem").as("demand_cents"),
        col("satisfied"), col("lambda").as("water_level_cents"),
        when(col("satisfied") === 1L, col("dem"))
          .otherwise(col("lambda")
            + when(col("name_rk") < col("rem"), 1L).otherwise(0L))
          .as("alloc_cents"))
      .orderBy("c_mktsegment")
  }

  /** D'Hondt (Jefferson) apportionment of 20 capacity slots across the
    * segment revenue demands: the 100 quotients d/k are ranked by exact
    * cross-multiplication (dᵢ·kⱼ vs dⱼ·kᵢ — no division, no floats),
    * the top 20 win. Reports the lower quota ⌊d·S/D⌋ and the
    * quota-violation flag — the divisor-method bias toward large
    * parties that Hamilton (q_hamilton_apportionment) never shows.
    */
  def q_dhondt_apportionment(spark: SparkSession, sf: String): DataFrame = {
    val d = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("cust"))
      .groupBy(col("seg")).agg(sum(cents(col("o_totalprice"))).as("dem")))
    val quot = d.select(col("seg"), col("dem"),
      explode(sequence(lit(1L), lit(20L))).as("k"))
    val o = quot.select(col("seg").as("o_seg"), col("dem").as("o_dem"),
      col("k").as("o_k"))
    val seats = quot.join(broadcast(o),
        col("o_dem") * col("k") > col("dem") * col("o_k") ||
        (col("o_dem") * col("k") === col("dem") * col("o_k") &&
          (col("o_seg") < col("seg") ||
           (col("o_seg") === col("seg") && col("o_k") < col("k")))),
        "left_outer")
      .groupBy(col("seg"), col("dem"), col("k"))
      .agg(count(col("o_seg")).as("nbetter"))
      .filter(col("nbetter") < 20L)
      .groupBy(col("seg"), col("dem")).agg(count(lit(1)).as("seats"))
    val tot = d.agg(sum(col("dem")).as("td"))
    d.join(seats.select(col("seg"), col("seats")), Seq("seg"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("seg").as("c_mktsegment"), col("dem").as("demand_cents"),
        coalesce(col("seats"), lit(0L)).as("seats"),
        expr("dem * 20 div td").as("lower_quota"),
        expr("(dem * 20 + td - 1) div td").as("upper_quota"),
        expr("dem * 200000 div td").as("ideal_share_e4"))
      .select(col("c_mktsegment"), col("demand_cents"), col("seats"),
        col("lower_quota"), col("upper_quota"), col("ideal_share_e4"),
        when(col("seats") < col("lower_quota")
          || col("seats") > col("upper_quota"), 1L).otherwise(0L)
          .as("quota_violated"))
      .orderBy("c_mktsegment")
  }

  /** Hamilton (largest-remainder) apportionment of the same 20 slots:
    * floor quotas ⌊d·S/D⌋, then the leftover seats go to the largest
    * exact remainders d·S mod D (ties by segment name) — always inside
    * quota, at the price of the Alabama paradox D'Hondt avoids. Pure
    * integer div/mod; remainder ranking is a segment-bounded
    * theta-count.
    */
  def q_hamilton_apportionment(spark: SparkSession, sf: String): DataFrame = {
    val d = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("cust"))
      .groupBy(col("seg")).agg(sum(cents(col("o_totalprice"))).as("dem")))
    val tot = d.agg(sum(col("dem")).as("td"))
    val q = Mat.once(d.crossJoin(broadcast(tot))
      .select(col("seg"), col("dem"),
        expr("dem * 20 div td").as("fl"), expr("(dem * 20) % td").as("rem")))
    val leftover = q.agg((lit(20L) - sum(col("fl"))).as("lo"))
    val o = q.select(col("seg").as("o_seg"), col("rem").as("o_rem"))
    val remRank = q.join(broadcast(o),
        col("o_rem") > col("rem") ||
        (col("o_rem") === col("rem") && col("o_seg") < col("seg")),
        "left_outer")
      .groupBy(col("seg"), col("dem"), col("fl"), col("rem"))
      .agg(count(col("o_seg")).as("rem_rk"))
    remRank.crossJoin(broadcast(leftover))
      .select(col("seg").as("c_mktsegment"), col("dem").as("demand_cents"),
        col("fl").as("floor_quota"), col("rem").as("remainder"),
        when(col("rem_rk") < col("lo"), 1L).otherwise(0L).as("extra_seat"))
      .select(col("c_mktsegment"), col("demand_cents"), col("floor_quota"),
        col("remainder"), col("extra_seat"),
        (col("floor_quota") + col("extra_seat")).as("seats"))
      .orderBy("c_mktsegment")
  }
  // ---- §2.166 monotone fitting — isotonic PAVA, calibration, audit --------

  /** Isotonic (monotone non-decreasing) regression of monthly mean order
    * revenue via the PAVA minimax closed form iso_i = max_{j≤i} min_{k≥i}
    * avg(j..k) (Barlow-Brunk '72): interval averages are exact-integer
    * e4 cents (weighted by order counts), and the month lattice is
    * calendar-bounded (≤~100 rows at ANY scale factor), so the O(n³)
    * triple join is a broadcast constant independent of data size —
    * the data-sized work is one month aggregate. Pooled months (fit ≠
    * observed) are where PAVA merged violators.
    */
  def q_isotonic_fit(spark: SparkSession, sf: String): DataFrame = {
    val mo = Mat.once(Tables.orders(spark, sf)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(sum(cents(col("o_totalprice"))).as("s"), count(lit(1)).as("c")))
    val iv = mo.select(col("m").as("j"))
      .crossJoin(broadcast(mo.select(col("m").as("k"))))
      .filter(col("j") <= col("k"))
    val ivAvg = iv
      .join(broadcast(mo), col("m").between(col("j"), col("k")))
      .groupBy(col("j"), col("k"))
      .agg(expr("sum(s) * 10000 div sum(c)").as("avg_e4"))
    val inner = ivAvg
      .join(broadcast(mo.select(col("m").as("i"))),
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j")).agg(min(col("avg_e4")).as("mn"))
    val iso = inner.groupBy(col("i")).agg(max(col("mn")).as("iso_e4"))
    mo.select(col("m"), expr("s * 10000 div c").as("obs_e4"))
      .join(iso, col("m") === col("i"))
      .select(col("m").as("month_idx"), col("obs_e4"), col("iso_e4"),
        when(col("obs_e4") =!= col("iso_e4"), 1L).otherwise(0L).as("pooled"))
      .orderBy("month_idx")
  }

  /** Isotonic calibration of P(order status = 'F') against ten
    * equi-width price bands — the PAVA step a calibrated classifier
    * pipeline runs on (score, outcome) pairs: per-band empirical e6
    * rates, then the same minimax closed form over the 10-row band
    * lattice. The probability-vs-score curve must be monotone before
    * it can be inverted; pooled bands show where raw rates violated
    * that.
    */
  def q_isotonic_calibration(spark: SparkSession, sf: String): DataFrame = {
    val pc = Tables.orders(spark, sf)
      .select(cents(col("o_totalprice")).as("pc"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val mm = pc.agg(min(col("pc")).as("minc"), max(col("pc")).as("maxc"))
      .select(col("minc"), expr("(maxc - minc) div 10 + 1").as("wb"))
    val bands = Mat.once(pc.crossJoin(broadcast(mm))
      .groupBy(expr("(pc - minc) div wb").as("b"))
      .agg(sum(col("y")).as("s"), count(lit(1)).as("c")))
    val iv = bands.select(col("b").as("j"))
      .crossJoin(broadcast(bands.select(col("b").as("k"))))
      .filter(col("j") <= col("k"))
    val ivAvg = iv
      .join(broadcast(bands), col("b").between(col("j"), col("k")))
      .groupBy(col("j"), col("k"))
      .agg(expr("sum(s) * 1000000 div sum(c)").as("rate_e6"))
    val inner = ivAvg
      .join(broadcast(bands.select(col("b").as("i"))),
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j")).agg(min(col("rate_e6")).as("mn"))
    val iso = inner.groupBy(col("i")).agg(max(col("mn")).as("iso_rate_e6"))
    bands.select(col("b"), col("c").as("n_orders"),
        expr("s * 1000000 div c").as("raw_rate_e6"))
      .join(iso, col("b") === col("i"))
      .select(col("b").as("band"), col("n_orders"), col("raw_rate_e6"),
        col("iso_rate_e6"),
        when(col("raw_rate_e6") =!= col("iso_rate_e6"), 1L).otherwise(0L)
          .as("pooled"))
      .orderBy("band")
  }

  /** Monotonicity audit of the monthly revenue-per-order series the
    * isotonic fit smooths: adjacent-month violations (count, share e4,
    * total downward mass e4) via a month→month−1 equi-join on the
    * calendar-bounded lattice — the "how non-monotone is this series"
    * number that decides whether an isotonic constraint is even
    * plausible. One summary row.
    */
  def q_monotone_violations(spark: SparkSession, sf: String): DataFrame = {
    val mo = Mat.once(Tables.orders(spark, sf)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(expr("sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) * 10000 div count(1)")
        .as("y_e4")))
    val prev = mo.select((col("m") + 1L).as("m"), col("y_e4").as("y_prev"))
    mo.join(prev, Seq("m"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("y_e4") < col("y_prev"), 1L).otherwise(0L))
          .as("n_violations"),
        sum(when(col("y_e4") < col("y_prev"), col("y_prev") - col("y_e4"))
          .otherwise(0L)).as("down_mass_e4"))
      .select(col("n_pairs"), col("n_violations"),
        expr("n_violations * 10000 div n_pairs").as("violation_share_e4"),
        col("down_mass_e4"))
  }
  // ---- §2.168 scheduling classics — Johnson, SPT, makespan bounds ---------

  /** Johnson's two-machine flow-shop rule (Naval Res. Logistics '54) on
    * 25 brand jobs (machine-A time from quantities, machine-B time from
    * revenue): the optimal sequence — p1<p2 ascending-p1 first, then
    * descending-p2 — and its makespan via the max-plus closed form
    * C = max_j (Σ_{i≤j} p1 + Σ_{i≥j} p2), compared against an
    * alphabetical baseline and the two-machine lower bound. Ranks and
    * prefix/suffix sums are brand-bounded theta-counts — no global
    * window, O(25²) broadcast pairs.
    */
  def q_johnson_two_machine(spark: SparkSession, sf: String): DataFrame = {
    val jobs = Mat.once(Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(expr("sum(CAST(l_quantity AS BIGINT)) div 100 + 1").as("p1"),
        expr("sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) div 100000000 + 1")
          .as("p2")))
    // Johnson key: group 0 (p1<p2) by p1 asc, group 1 by p2 desc; ties brand
    val keyed = jobs.select(col("p_brand"), col("p1"), col("p2"),
      when(col("p1") < col("p2"), 0L).otherwise(1L).as("grp"),
      when(col("p1") < col("p2"), col("p1")).otherwise(-col("p2")).as("ord"))
    def makespan(ranked: DataFrame): DataFrame = {
      val o = ranked.select(col("rk").as("o_rk"), col("p1").as("o_p1"),
        col("p2").as("o_p2"))
      ranked.join(broadcast(o), lit(true))
        .groupBy(col("rk"))
        .agg(sum(when(col("o_rk") <= col("rk"), col("o_p1")).otherwise(0L))
          .as("pre1"),
          sum(when(col("o_rk") >= col("rk"), col("o_p2")).otherwise(0L))
            .as("suf2"))
        .agg(max(col("pre1") + col("suf2")).as("makespan"))
    }
    val jRank = keyed.as("a").join(broadcast(keyed.select(
        col("grp").as("b_grp"), col("ord").as("b_ord"),
        col("p_brand").as("b_brand"))),
        col("b_grp") < col("grp") ||
        (col("b_grp") === col("grp") && (col("b_ord") < col("ord") ||
          (col("b_ord") === col("ord") && col("b_brand") < col("p_brand")))),
        "left_outer")
      .groupBy(col("p_brand"), col("p1"), col("p2"))
      .agg((count(col("b_brand")) + 1L).as("rk"))
    val aRank = jobs.as("a").join(broadcast(jobs.select(
        col("p_brand").as("b_brand"))),
        col("b_brand") < col("p_brand"), "left_outer")
      .groupBy(col("p_brand"), col("p1"), col("p2"))
      .agg((count(col("b_brand")) + 1L).as("rk"))
    val lb = jobs.agg(
      greatest(sum(col("p1")) + min(col("p2")),
        sum(col("p2")) + min(col("p1"))).as("lower_bound"))
    makespan(jRank).select(lit("johnson").as("schedule"), col("makespan"))
      .unionByName(makespan(aRank)
        .select(lit("alphabetical").as("schedule"), col("makespan")))
      .crossJoin(broadcast(lb))
      .orderBy("schedule")
  }

  /** SPT total-completion-time optimality on 25 nation jobs (processing
    * time = order count): Σ completion = Σ p₍ᵢ₎(n−i+1) under the
    * shortest-processing-time order vs the alphabetical baseline — the
    * exchange-argument classic every scheduler cites. Ranks by
    * theta-count; two summary rows.
    */
  def q_spt_completion(spark: SparkSession, sf: String): DataFrame = {
    val jobs = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_nationkey").cast("long").as("nat"))),
        col("o_custkey") === col("cust"))
      .groupBy(col("nat")).agg(count(lit(1)).as("p")))
    val n = jobs.agg(count(lit(1)).as("n"))
    def total(ranked: DataFrame, name: String): DataFrame =
      ranked.crossJoin(broadcast(n))
        .agg(sum(col("p") * (col("n") - col("rk") + 1L)).as("total_completion"),
          max(col("n")).as("n_jobs"))
        .select(lit(name).as("schedule"), col("total_completion"), col("n_jobs"))
    val spt = jobs.join(broadcast(jobs.select(col("nat").as("b_nat"),
        col("p").as("b_p"))),
        col("b_p") < col("p") ||
        (col("b_p") === col("p") && col("b_nat") < col("nat")), "left_outer")
      .groupBy(col("nat"), col("p")).agg((count(col("b_nat")) + 1L).as("rk"))
    val alpha = jobs.join(broadcast(jobs.select(col("nat").as("b_nat"))),
        col("b_nat") < col("nat"), "left_outer")
      .groupBy(col("nat"), col("p")).agg((count(col("b_nat")) + 1L).as("rk"))
    total(spt, "spt").unionByName(total(alpha, "by_key")).orderBy("schedule")
  }

  /** Parallel-machine makespan bounds for m ∈ {2,4,8}: the LP lower
    * bound max(⌈Σp/m⌉, p_max) and Graham's LPT guarantee
    * (4/3 − 1/3m)·OPT rendered as an exact-integer ceiling — the
    * capacity-planning envelope you can state WITHOUT running the
    * sequential greedy. Brand revenue-based job sizes; one aggregate
    * plus a 3-row parameter lattice.
    */
  def q_makespan_bounds(spark: SparkSession, sf: String): DataFrame = {
    val jobs = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(expr("sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) div 100000000 + 1")
        .as("p"))
    val s = jobs.agg(sum(col("p")).as("sp"), max(col("p")).as("pmax"),
      count(lit(1)).as("n_jobs"))
    s.select(col("sp"), col("pmax"), col("n_jobs"),
        explode(array(lit(2L), lit(4L), lit(8L))).as("m"))
      .select(col("m"), col("n_jobs"), col("sp").as("sum_p"),
        col("pmax").as("p_max"),
        greatest(expr("(sp + m - 1) div m"), col("pmax")).as("opt_lower_bound"))
      .select(col("m"), col("n_jobs"), col("sum_p"), col("p_max"),
        col("opt_lower_bound"),
        expr("((4 * m - 1) * opt_lower_bound + 3 * m - 1) div (3 * m)")
          .as("lpt_guarantee_ub"))
      .orderBy("m")
  }
  // ---- §2.172 robust scale — Rousseeuw-Croux Sn, Qn, MAD consistency ------

  /** Monthly mean-revenue series shared by the §2.172 scale estimators:
    * calendar-bounded (≤~100 rows at any SF), so the O(n²)/O(n³)
    * pairwise machinery below is a broadcast constant. */
  private def monthSeries(spark: SparkSession, sf: String): DataFrame =
    Mat.once(Tables.orders(spark, sf)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(expr("sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div count(1)")
        .as("y")))

  /** Rousseeuw-Croux Sn (JASA'93): lomed_i himed_{j≠i} |yᵢ−yⱼ| with the
    * 1.1926 consistency factor — the 58%-efficient, 50%-breakdown scale
    * estimator. Both nested medians are exact rank selections via
    * theta-counts over the month lattice (no sort, no window); the
    * inner selection is a pairs×pairs join bounded by the calendar.
    */
  def q_sn_estimator(spark: SparkSession, sf: String): DataFrame = {
    val ms = monthSeries(spark, sf)
    val pairs = Mat.once(ms.crossJoin(broadcast(ms.select(col("m").as("j"),
        col("y").as("yj"))))
      .filter(col("j") =!= col("m"))
      .select(col("m"), col("j"), abs(col("y") - col("yj")).as("d")))
    val n = ms.agg(count(lit(1)).as("n"))
    // inner high median: rank (n-1)/2 + 1 among each i's n-1 diffs
    val ranked = pairs.as("a").join(broadcast(pairs.select(col("m").as("m2"),
        col("j").as("j2"), col("d").as("d2"))),
        col("m2") === col("m") &&
        (col("d2") < col("d") ||
         (col("d2") === col("d") && col("j2") < col("j"))),
        "left_outer")
      .groupBy(col("m"), col("j"), col("d"))
      .agg((count(col("j2")) + 1L).as("rk"))
    val himed = ranked.crossJoin(broadcast(n))
      .filter(col("rk") === expr("(n - 1) div 2 + 1"))
      .select(col("m"), col("d").as("hm"))
    val lomed = himed.as("a").join(broadcast(himed.select(col("m").as("m2"),
        col("hm").as("hm2"))),
        col("hm2") < col("hm") ||
        (col("hm2") === col("hm") && col("m2") < col("m")), "left_outer")
      .groupBy(col("m"), col("hm")).agg((count(col("m2")) + 1L).as("rk"))
      .crossJoin(broadcast(n))
      .filter(col("rk") === expr("(n + 1) div 2"))
    lomed.select(col("n").as("n_months"), col("hm").as("sn_raw_cents"),
      expr("hm * 11926 div 10000").as("sn_cents"))
  }

  /** Rousseeuw-Croux Qn: the C(h,2)-th order statistic of all C(n,2)
    * pairwise gaps (h = n/2 + 1) with the 2.2219 factor — the
    * 82%-efficient sibling that needs no location estimate at all.
    * Selection is one theta-count rank over the bounded gap set.
    */
  def q_qn_estimator(spark: SparkSession, sf: String): DataFrame = {
    val ms = monthSeries(spark, sf)
    val gaps = Mat.once(ms.crossJoin(broadcast(ms.select(col("m").as("j"),
        col("y").as("yj"))))
      .filter(col("m") < col("j"))
      .select(col("m"), col("j"), abs(col("y") - col("yj")).as("d")))
    val n = ms.agg(count(lit(1)).as("n"))
      .select(col("n"), expr("n div 2 + 1").as("h"))
      .select(col("n"), col("h"), expr("h * (h - 1) div 2").as("k"))
    val ranked = gaps.as("a").join(broadcast(gaps.select(col("m").as("m2"),
        col("j").as("j2"), col("d").as("d2"))),
        col("d2") < col("d") ||
        (col("d2") === col("d") && (col("m2") < col("m") ||
          (col("m2") === col("m") && col("j2") < col("j")))), "left_outer")
      .groupBy(col("m"), col("j"), col("d"))
      .agg((count(col("m2")) + 1L).as("rk"))
    ranked.crossJoin(broadcast(n))
      .filter(col("rk") === col("k"))
      .select(col("n").as("n_months"), col("h"), col("k"),
        col("d").as("qn_raw_cents"),
        expr("d * 22219 div 10000").as("qn_cents"))
  }

  /** MAD with the 1.4826 Gaussian-consistency factor vs the exact
    * sample SD on the same series — the calibration check that tells
    * you whether the robust and classical scales agree (clean data) or
    * diverge (heavy tails). Medians are lomed rank selections; SD is
    * one √ on exact integer sums.
    */
  def q_mad_consistency(spark: SparkSession, sf: String): DataFrame = {
    val ms = monthSeries(spark, sf)
    val n = ms.agg(count(lit(1)).as("n"))
    def lomedOf(df: DataFrame, v: String): DataFrame =
      df.as("a").join(broadcast(df.select(col("m").as("m2"), col(v).as("v2"))),
          col("v2") < col(v) ||
          (col("v2") === col(v) && col("m2") < col("m")), "left_outer")
        .groupBy(col("m"), col(v)).agg((count(col("m2")) + 1L).as("rk"))
        .crossJoin(broadcast(n))
        .filter(col("rk") === expr("(n + 1) div 2"))
        .select(col(v).as("med"))
    val med = lomedOf(ms, "y")
    val dev = ms.crossJoin(broadcast(med))
      .select(col("m"), abs(col("y") - col("med")).as("ad"))
    val mad = lomedOf(dev, "ad").select(col("med").as("mad_cents"))
    val sd = ms.agg(count(lit(1)).as("nn"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("sy2"))
      .select(expr("""CAST(ROUND(SQRT((CAST(nn AS DOUBLE) * CAST(sy2 AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)))) AS BIGINT)""")
        .as("sd_cents"), col("nn").as("n_months"))
    sd.crossJoin(broadcast(mad))
      .select(col("n_months"), col("sd_cents"), col("mad_cents"),
        expr("mad_cents * 14826 div 10000").as("mad_consistent_cents"))
      .select(col("n_months"), col("sd_cents"), col("mad_cents"),
        col("mad_consistent_cents"),
        expr("mad_consistent_cents * 10000 div sd_cents").as("ratio_e4"))
  }
  // ---- §2.173 causal inference — DiD, event study, Wald IV ----------------

  /** Difference-in-differences on mean order value: treated = BUILDING-
    * segment customers, policy point = the calendar midpoint month
    * (data-derived integer), DiD = (ΔT) − (ΔC) — four exact-integer
    * group means (single truncating divisions) and their double
    * difference in cents. The 2×2 table every causal-claims review
    * starts by demanding.
    */
  def q_diff_in_diff(spark: SparkSession, sf: String): DataFrame = {
    val o = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("cust"))
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"),
        when(col("seg") === "BUILDING", 1L).otherwise(0L).as("treat"),
        cents(col("o_totalprice")).as("v")))
    val pivot = o.agg(expr("(min(m) + max(m) + 1) div 2").as("pv"))
    o.crossJoin(broadcast(pivot))
      .select(col("treat"), when(col("m") >= col("pv"), 1L).otherwise(0L)
        .as("post"), col("v"))
      .groupBy().agg(
        expr("sum(CASE WHEN treat = 1 AND post = 0 THEN v ELSE 0 END) div " +
          "sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)").as("t_pre"),
        expr("sum(CASE WHEN treat = 1 AND post = 1 THEN v ELSE 0 END) div " +
          "sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)").as("t_post"),
        expr("sum(CASE WHEN treat = 0 AND post = 0 THEN v ELSE 0 END) div " +
          "sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)").as("c_pre"),
        expr("sum(CASE WHEN treat = 0 AND post = 1 THEN v ELSE 0 END) div " +
          "sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)").as("c_post"))
      .select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
        ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
          .as("did_cents"))
  }

  /** Event-study coefficients around the same policy point: for each
    * relative month τ ∈ [−6, 6], the treated-minus-control gap net of
    * the τ = −1 baseline gap — flat pre-τ coefficients are the
    * parallel-trends evidence DiD needs. 13 calendar-bounded rows, all
    * integer-cents arithmetic.
    */
  def q_event_study(spark: SparkSession, sf: String): DataFrame = {
    val o = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("cust"))
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"),
        when(col("seg") === "BUILDING", 1L).otherwise(0L).as("treat"),
        cents(col("o_totalprice")).as("v")))
    val pivot = o.agg(expr("(min(m) + max(m) + 1) div 2").as("pv"))
    val gaps = Mat.once(o.crossJoin(broadcast(pivot))
      .select((col("m") - col("pv")).as("tau"), col("treat"), col("v"))
      .filter(col("tau").between(-6L, 6L))
      .groupBy(col("tau"))
      .agg(sum(when(col("treat") === 1L, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treat") === 0L, 1L).otherwise(0L)).as("n_c"),
        expr("sum(CASE WHEN treat = 1 THEN v ELSE 0 END) div " +
          "sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END)").as("mean_t"),
        expr("sum(CASE WHEN treat = 0 THEN v ELSE 0 END) div " +
          "sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END)").as("mean_c"))
      .select(col("tau"), col("n_t"), col("n_c"),
        (col("mean_t") - col("mean_c")).as("gap_cents")))
    val base = gaps.filter(col("tau") === -1L)
      .select(col("gap_cents").as("base_gap"))
    gaps.crossJoin(broadcast(base))
      .select(col("tau"), col("n_t"), col("n_c"), col("gap_cents"),
        (col("gap_cents") - col("base_gap")).as("coef_cents"))
      .orderBy("tau")
  }

  /** Wald instrumental-variable estimator: instrument z = customer's
    * nation sits in ASIA, endogenous x = orders per customer, outcome
    * y = spend per customer — β̂ = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) as one double
    * division over four exact-integer sums, e2 cents-per-order. The
    * simplest 2SLS there is; the four group means ship alongside so
    * the reader can recompute the ratio.
    */
  def q_wald_iv(spark: SparkSession, sf: String): DataFrame = {
    val z = Tables.customer(spark, sf)
      .join(broadcast(Tables.nation(spark, sf)
        .join(broadcast(Tables.region(spark, sf)), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), when(col("r_name") === "ASIA", 1L)
          .otherwise(0L).as("z"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("cust"), col("z"))
    val per = Tables.orders(spark, sf)
      .groupBy(col("o_custkey").as("cust"))
      .agg(count(lit(1)).as("x"), sum(cents(col("o_totalprice"))).as("y"))
      .join(z, "cust")
    per.agg(
        sum(when(col("z") === 1L, col("y"))).as("sy1"),
        sum(when(col("z") === 0L, col("y"))).as("sy0"),
        sum(when(col("z") === 1L, col("x"))).as("sx1"),
        sum(when(col("z") === 0L, col("x"))).as("sx0"),
        sum(col("z")).as("n1"),
        sum(lit(1L) - col("z")).as("n0"))
      .select(col("n1"), col("n0"),
        expr("sy1 div n1").as("mean_y_z1"), expr("sy0 div n0").as("mean_y_z0"),
        expr("sx1 * 10000 div n1").as("mean_x_z1_e4"),
        expr("sx0 * 10000 div n0").as("mean_x_z0_e4"),
        expr("""CASE WHEN sx1 * n0 = sx0 * n1 THEN CAST(0 AS BIGINT)
               ELSE CAST(ROUND((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 100) AS BIGINT)
               END""").as("wald_beta_e2"))
  }
  // ---- §2.174 auction theory — Vickrey revenue, reserve sweep, equivalence -

  /** Per-part auction table shared by §2.174: bids are lineitem prices
    * (cents), auctions keep ≥3 bids; two co-keyed passes derive the
    * highest bid, its multiplicity, and the highest strictly-lower bid
    * (so the duplicate-top case second-prices at the top value, the
    * standard Vickrey tie rule). */
  private def auctions(spark: SparkSession, sf: String): DataFrame = {
    val bids = Tables.lineitem(spark, sf)
      .select(col("l_partkey").as("pk"), cents(col("l_extendedprice")).as("b"))
    val top = bids.groupBy(col("pk"))
      .agg(count(lit(1)).as("n_bids"), max(col("b")).as("mx"))
      .filter(col("n_bids") >= 3L)
    Mat.once(bids.join(top, "pk")
      .groupBy(col("pk"), col("n_bids"), col("mx"))
      .agg(sum(when(col("b") === col("mx"), 1L).otherwise(0L)).as("cnt_mx"),
        max(when(col("b") < col("mx"), col("b"))).as("below"))
      .select(col("pk"), col("n_bids"), col("mx"),
        when(col("cnt_mx") >= 2L, col("mx")).otherwise(col("below"))
          .as("second")))
  }

  /** First-price vs second-price (Vickrey) revenue over the part
    * auctions — the mechanism-design baseline table: total revenue per
    * mechanism and the e4 share of second vs first. Ties at the top
    * second-price at the top value; everything exact integer cents.
    */
  def q_auction_revenue(spark: SparkSession, sf: String): DataFrame = {
    val a = auctions(spark, sf)
    a.agg(count(lit(1)).as("n_auctions"), sum(col("mx")).as("first_rev"),
        sum(col("second")).as("second_rev"))
      .select(explode(array(
        struct(lit("first_price").as("mechanism"),
          col("first_rev").as("revenue_cents")),
        struct(lit("second_price").as("mechanism"),
          col("second_rev").as("revenue_cents")))).as("m"),
        col("n_auctions"), col("first_rev"))
      .select(col("m.mechanism").as("mechanism"), col("n_auctions"),
        col("m.revenue_cents").as("revenue_cents"),
        expr("m.revenue_cents * 10000 div first_rev").as("share_of_first_e4"))
      .orderBy("mechanism")
  }

  /** Reserve-price sweep for the Vickrey auction: reserves at
    * {50,75,100,125,150}% of the mean top bid (exact integer lattice);
    * per reserve the sold count and revenue (0 if top < r, r if only
    * the top clears, else the second price) — the Myerson reserve
    * trade-off curve: higher reserves lose sales but lift per-sale
    * revenue. 5 broadcast-lattice rows.
    */
  def q_reserve_price_sweep(spark: SparkSession, sf: String): DataFrame = {
    val a = auctions(spark, sf)
    val base = a.agg(expr("sum(mx) div count(1)").as("mb"))
    a.crossJoin(broadcast(base))
      .select(col("mx"), col("second"), col("mb"),
        explode(array(lit(50L), lit(75L), lit(100L), lit(125L), lit(150L)))
          .as("pct"))
      .select(col("mx"), col("second"), col("pct"),
        expr("mb * pct div 100").as("r"))
      .groupBy(col("pct"), col("r"))
      .agg(count(lit(1)).as("n_auctions"),
        sum(when(col("mx") >= col("r"), 1L).otherwise(0L)).as("n_sold"),
        sum(when(col("mx") < col("r"), 0L)
          .when(col("second") < col("r"), col("r"))
          .otherwise(col("second"))).as("revenue_cents"))
      .select(col("pct").as("reserve_pct"), col("r").as("reserve_cents"),
        col("n_auctions"), col("n_sold"), col("revenue_cents"))
      .orderBy("reserve_pct")
  }

  /** Revenue-equivalence audit: the uniform-value equilibrium shade
    * b = v(n−1)/n applied to each auction's top value vs the actual
    * second-price revenue — the theorem says the two mechanisms earn
    * the same in expectation, and this measures how close this bid
    * population gets (e4 ratio). One pass over the shared auction
    * table.
    */
  def q_revenue_equivalence(spark: SparkSession, sf: String): DataFrame = {
    val a = auctions(spark, sf)
    a.agg(count(lit(1)).as("n_auctions"),
        sum(expr("mx * (n_bids - 1) div n_bids")).as("shaded_first_rev"),
        sum(col("second")).as("second_rev"))
      .select(col("n_auctions"), col("shaded_first_rev"), col("second_rev"),
        expr("shaded_first_rev * 10000 div second_rev").as("ratio_e4"))
  }
  // ---- §2.175 portfolio theory — min-variance, frontier, CAPM beta --------

  /** Minimum-variance two-asset weight for the BUILDING/MACHINERY
    * monthly revenue series: w* = (σ²_B − σ_AB)/(σ²_A + σ²_B − 2σ_AB)
    * on n-scaled centered sums that stay exact BIGINTs (revenues in
    * thousand-dollar units), rendered e6 — the Markowitz corner case
    * with a closed form. One month aggregate, one epilogue row.
    */
  def q_minvar_portfolio(spark: SparkSession, sf: String): DataFrame = {
    val m = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("cust"))
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(expr("""sum(CASE WHEN seg = 'BUILDING'
          THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) div 100000""")
          .as("x"),
        expr("""sum(CASE WHEN seg = 'MACHINERY'
          THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) div 100000""")
          .as("y"))
    // second moments in DECIMAL(38,0): at sf1 the centered n²-variances
    // reach ~1e15 and ×1e6 overflows a long (caught by the round-9 sf1
    // full-inventory Verify); the oracle mirrors with HUGEINT, both `div`
    // truncate toward zero, and the OUTPUT columns cast back to BIGINT so
    // the graded-scale schema+hash is unchanged
    m.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      .select(col("n").as("n_months"),
        expr("n * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("var_a_scaled"),
        expr("n * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("var_b_scaled"),
        expr("n * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("cov_scaled"))
      .select(col("n_months"),
        col("var_a_scaled").cast("long").as("var_a_scaled"),
        col("var_b_scaled").cast("long").as("var_b_scaled"),
        col("cov_scaled").cast("long").as("cov_scaled"),
        expr("""CAST((var_b_scaled - cov_scaled) * 1000000
               div (var_a_scaled + var_b_scaled - 2 * cov_scaled) AS BIGINT)""")
          .as("w_star_e6"))
  }

  /** Efficient-frontier sweep at quarter weights w ∈ {0..4}/4: the
    * exact-integer portfolio variance numerator w²σ²_A + (4−w)²σ²_B +
    * 2w(4−w)σ_AB, with the minimum flagged — the risk curve the
    * closed-form w* sits at the bottom of. 5 lattice rows, shares the
    * min-variance sufficient statistics.
    */
  def q_efficient_frontier(spark: SparkSession, sf: String): DataFrame = {
    val s = q_minvar_portfolio(spark, sf)
      .select(col("var_a_scaled"), col("var_b_scaled"), col("cov_scaled"))
    val sweep = Mat.once(s.select(col("*"),
        explode(array(lit(0L), lit(1L), lit(2L), lit(3L), lit(4L))).as("w"))
      .select(col("w").as("w_quarter"),
        expr("""w * w * var_a_scaled + (4 - w) * (4 - w) * var_b_scaled
               + 2 * w * (4 - w) * cov_scaled""").as("var_num")))
    val mn = sweep.agg(min(col("var_num")).as("mn"))
    sweep.crossJoin(broadcast(mn))
      .select(col("w_quarter"), col("var_num"),
        when(col("var_num") === col("mn"), 1L).otherwise(0L).as("is_min"))
      .orderBy("w_quarter")
  }

  /** CAPM beta of each segment's monthly revenue against the total
    * market: β = (nΣxy − ΣxΣy)/(nΣxx − Σx²) with x = market — five e6
    * rows from exact thousand-dollar sums; the β>1 segments are the
    * cyclical ones. Segment series and market series co-keyed on
    * month, one joint aggregate per segment via conditional sums.
    */
  def q_capm_beta(spark: SparkSession, sf: String): DataFrame = {
    val sm = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("cust"))
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"), col("seg"))
      .agg(expr("sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 100000")
        .as("y")))
    val mkt = sm.groupBy(col("m")).agg(sum(col("y")).as("x"))
    // DECIMAL(38,0) second moments for the same reason as
    // [[q_minvar_portfolio]]: the covariance numerator ×1e6 overflows a
    // long at sf1, and n·Σx² itself crosses 2⁶³ by sf3 (market monthly
    // totals ~6e7 in thousand-dollar units). Oracle mirrors in HUGEINT;
    // beta_e6 output stays BIGINT.
    sm.join(mkt, "m")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      .select(col("seg").as("c_mktsegment"), col("n").as("n_months"),
        expr("""CAST((n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
               div (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""")
          .as("beta_e6"))
      .orderBy("c_mktsegment")
  }
  // ---- §2.176 cooperative games — Shapley, Banzhaf, core ------------------

  /** Coalition values for the 3-player part-coverage game: players are
    * the AMERICA/ASIA/EUROPE customer blocs, v(S) = distinct parts any
    * coalition member ever ordered — a genuinely submodular coverage
    * game, so the solution concepts below are non-trivial. All seven
    * values come from ONE multi-distinct aggregate over the distinct
    * (region, part) pairs.
    */
  private def coalitionValues(spark: SparkSession, sf: String): DataFrame = {
    val rp = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(spark, sf)
          .join(broadcast(Tables.region(spark, sf)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("r_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("cust"), col("r_name").as("reg"))),
        col("o_custkey") === col("cust"))
      .filter(col("reg").isin("AMERICA", "ASIA", "EUROPE"))
      .select(col("reg"), col("l_partkey").as("pk")).distinct()
    rp.agg(
      countDistinct(when(col("reg") === "AMERICA", col("pk"))).as("va"),
      countDistinct(when(col("reg") === "ASIA", col("pk"))).as("vb"),
      countDistinct(when(col("reg") === "EUROPE", col("pk"))).as("vc"),
      countDistinct(when(col("reg").isin("AMERICA", "ASIA"), col("pk"))).as("vab"),
      countDistinct(when(col("reg").isin("AMERICA", "EUROPE"), col("pk"))).as("vac"),
      countDistinct(when(col("reg").isin("ASIA", "EUROPE"), col("pk"))).as("vbc"),
      countDistinct(col("pk")).as("vabc"))
  }

  /** Exact Shapley values (×6, the 3! permutation denominator) of the
    * coverage game via the closed 3-player form
    * 6φ_A = 2v(A) + [v(AB)−v(B)] + [v(AC)−v(C)] + 2[v(ABC)−v(BC)] —
    * pure integers, efficiency Σφ = 6v(ABC) gated in the spec. The
    * fair-division number for "which bloc's catalog breadth actually
    * matters".
    */
  def q_shapley_coverage(spark: SparkSession, sf: String): DataFrame =
    coalitionValues(spark, sf)
      .select(explode(array(
        struct(lit("AMERICA").as("player"),
          expr("2 * va + (vab - vb) + (vac - vc) + 2 * (vabc - vbc)")
            .as("shapley_x6"), col("va").as("solo_value")),
        struct(lit("ASIA").as("player"),
          expr("2 * vb + (vab - va) + (vbc - vc) + 2 * (vabc - vac)")
            .as("shapley_x6"), col("vb").as("solo_value")),
        struct(lit("EUROPE").as("player"),
          expr("2 * vc + (vac - va) + (vbc - vb) + 2 * (vabc - vab)")
            .as("shapley_x6"), col("vc").as("solo_value")))).as("p"),
        col("vabc").as("grand_value"))
      .select(col("p.player").as("player"), col("p.shapley_x6").as("shapley_x6"),
        col("p.solo_value").as("solo_value"), col("grand_value"))
      .orderBy("player")

  /** Banzhaf power (×4, the 2ⁿ⁻¹ denominator): each player's total
    * marginal contribution across the four coalitions it can join —
    * the probabilistic-voting cousin of Shapley, same seven exact
    * values, different weighting. Divergence between the two rankings
    * is the textbook caution against "the" power index.
    */
  def q_banzhaf_power(spark: SparkSession, sf: String): DataFrame =
    coalitionValues(spark, sf)
      .select(explode(array(
        struct(lit("AMERICA").as("player"),
          expr("va + (vab - vb) + (vac - vc) + (vabc - vbc)").as("banzhaf_x4")),
        struct(lit("ASIA").as("player"),
          expr("vb + (vab - va) + (vbc - vc) + (vabc - vac)").as("banzhaf_x4")),
        struct(lit("EUROPE").as("player"),
          expr("vc + (vac - va) + (vbc - vb) + (vabc - vab)").as("banzhaf_x4"))))
        .as("p"))
      .select(col("p.player").as("player"), col("p.banzhaf_x4").as("banzhaf_x4"))
      .orderBy("player")

  /** Anticore-stability audit of the Shapley allocation: for a
    * SUBMODULAR value game (coverage is) the Shapley value lies in the
    * anticore — Σ_{i∈S} φᵢ ≤ 6·v(S) for every coalition, with equality
    * at the grand coalition — so no coalition is allocated more than it
    * could generate alone. All seven constraints checked exactly (×6
    * scale); the spec pins every flag true and the efficiency slack 0.
    */
  def q_core_stability(spark: SparkSession, sf: String): DataFrame =
    coalitionValues(spark, sf)
      .select(col("*"),
        expr("2 * va + (vab - vb) + (vac - vc) + 2 * (vabc - vbc)").as("pa"),
        expr("2 * vb + (vab - va) + (vbc - vc) + 2 * (vabc - vac)").as("pb"),
        expr("2 * vc + (vac - va) + (vbc - vb) + 2 * (vabc - vab)").as("pc"))
      .select(explode(array(
        struct(lit("A").as("coalition"), col("pa").as("alloc_x6"),
          (col("va") * 6L).as("value_x6")),
        struct(lit("B").as("coalition"), col("pb").as("alloc_x6"),
          (col("vb") * 6L).as("value_x6")),
        struct(lit("C").as("coalition"), col("pc").as("alloc_x6"),
          (col("vc") * 6L).as("value_x6")),
        struct(lit("AB").as("coalition"), (col("pa") + col("pb")).as("alloc_x6"),
          (col("vab") * 6L).as("value_x6")),
        struct(lit("AC").as("coalition"), (col("pa") + col("pc")).as("alloc_x6"),
          (col("vac") * 6L).as("value_x6")),
        struct(lit("BC").as("coalition"), (col("pb") + col("pc")).as("alloc_x6"),
          (col("vbc") * 6L).as("value_x6")),
        struct(lit("ABC").as("coalition"),
          (col("pa") + col("pb") + col("pc")).as("alloc_x6"),
          (col("vabc") * 6L).as("value_x6")))).as("r"))
      .select(col("r.coalition").as("coalition"), col("r.alloc_x6").as("alloc_x6"),
        col("r.value_x6").as("value_x6"),
        (col("r.value_x6") - col("r.alloc_x6")).as("slack_x6"),
        when(col("r.alloc_x6") <= col("r.value_x6"), 1L).otherwise(0L)
          .as("satisfied"))
      .orderBy("coalition")
  // ---- §2.180 extreme values — PWM Gumbel fit, return levels, GEV shape ---

  /** Probability-weighted moments of the monthly block maxima of order
    * value: the exact integer PWM numerators B0 = Σx, B1 = Σ(r−1)x,
    * B2 = Σ(r−1)(r−2)x on the calendar-bounded maxima lattice (ranks
    * by theta-count). Shared by the three §2.180 estimators. */
  private def blockMaximaPwm(spark: SparkSession, sf: String): DataFrame = {
    val bm = Mat.once(Tables.orders(spark, sf)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(max(cents(col("o_totalprice"))).as("x")))
    val ranked = bm.join(broadcast(bm.select(col("m").as("m2"),
        col("x").as("x2"))),
        col("x2") < col("x") ||
        (col("x2") === col("x") && col("m2") < col("m")), "left_outer")
      .groupBy(col("m"), col("x")).agg((count(col("m2")) + 1L).as("r"))
    ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("b0n"),
      sum((col("r") - 1L) * col("x")).as("b1n"),
      sum((col("r") - 1L) * (col("r") - 2L) * col("x")).as("b2n"))
  }

  /** Gumbel fit by PWM (Landwehr '79, no Γ needed): σ = (2b1−b0)/ln2,
    * μ = b0 − γ_E·σ from the exact moment numerators, one staged
    * double tree, e2 cents — the closed-form extreme-value fit for
    * monthly maxima when the shape is near zero.
    */
  def q_gumbel_pwm_fit(spark: SparkSession, sf: String): DataFrame =
    blockMaximaPwm(spark, sf)
      .select(col("n").as("n_blocks"),
        expr("""CAST(ROUND((CAST(2 AS DOUBLE) * CAST(b1n AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
               - CAST(b0n AS DOUBLE) / CAST(n AS DOUBLE))
               / LN(CAST(2 AS DOUBLE)) * 100) AS BIGINT)""").as("sigma_e2"),
        expr("""CAST(ROUND((CAST(b0n AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(5772156649 AS DOUBLE) / CAST(10000000000 AS DOUBLE)
               * (CAST(2 AS DOUBLE) * CAST(b1n AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
               - CAST(b0n AS DOUBLE) / CAST(n AS DOUBLE))
               / LN(CAST(2 AS DOUBLE))) * 100) AS BIGINT)""").as("mu_e2"))

  /** Return levels from the Gumbel PWM fit: x_T = μ − σ·ln(−ln(1−1/T))
    * for T ∈ {10, 50, 100} months — the "100-month order value" a
    * capacity planner quotes, with the once-per-T exceedance
    * interpretation. Three rows, identical IEEE trees both engines.
    */
  def q_return_levels(spark: SparkSession, sf: String): DataFrame =
    blockMaximaPwm(spark, sf)
      .select(col("n"), col("b0n"), col("b1n"),
        explode(array(lit(10L), lit(50L), lit(100L))).as("t"))
      .select(col("t").as("horizon_blocks"),
        expr("""CAST(ROUND(((CAST(b0n AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(5772156649 AS DOUBLE) / CAST(10000000000 AS DOUBLE)
               * (CAST(2 AS DOUBLE) * CAST(b1n AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
               - CAST(b0n AS DOUBLE) / CAST(n AS DOUBLE))
               / LN(CAST(2 AS DOUBLE)))
               - (CAST(2 AS DOUBLE) * CAST(b1n AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
               - CAST(b0n AS DOUBLE) / CAST(n AS DOUBLE))
               / LN(CAST(2 AS DOUBLE))
               * LN(CAST(0 AS DOUBLE) - LN(CAST(1 AS DOUBLE)
               - CAST(1 AS DOUBLE) / CAST(t AS DOUBLE)))) * 100) AS BIGINT)""")
          .as("return_level_e2"))
      .orderBy("horizon_blocks")

  /** GEV shape by the Hosking '85 PWM approximation: c = (2b1−b0)/
    * (3b2−b0) − ln2/ln3, k = 7.8590c + 2.9554c² — no Γ required for
    * the shape alone — plus the |k| < 0.1 "Gumbel adequate" verdict
    * that justifies (or indicts) the two simpler §2.180 fits.
    */
  def q_gev_shape_pwm(spark: SparkSession, sf: String): DataFrame =
    blockMaximaPwm(spark, sf)
      .select(col("n").as("n_blocks"),
        expr("""(CAST(2 AS DOUBLE) * CAST(b1n AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
               - CAST(b0n AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(3 AS DOUBLE) * CAST(b2n AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                  * CAST(n - 2 AS DOUBLE))
               - CAST(b0n AS DOUBLE) / CAST(n AS DOUBLE))
               - LN(CAST(2 AS DOUBLE)) / LN(CAST(3 AS DOUBLE))""").as("c"))
      .select(col("n_blocks"),
        expr("CAST(ROUND(c * 100000000) AS BIGINT)").as("c_e8"),
        expr("""CAST(ROUND((CAST(78590 AS DOUBLE) / CAST(10000 AS DOUBLE) * c
               + CAST(29554 AS DOUBLE) / CAST(10000 AS DOUBLE) * c * c)
               * 1000000) AS BIGINT)""").as("k_shape_e6"))
      .select(col("n_blocks"), col("c_e8"), col("k_shape_e6"),
        when(abs(col("k_shape_e6")) < 100000L, 1L).otherwise(0L)
          .as("gumbel_adequate"))
  // ---- §2.182 discrete choice — logit shares, log-sum, elasticities -------

  /** One-row sufficient statistics for the 5-segment logit: per-segment
    * mean order price (exact integer division) and order counts, as
    * named columns so every downstream float expression is a FIXED
    * 5-term tree (no order-dependent aggregation of doubles). */
  private def logitStats(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("cust"))
      .select(col("seg"), cents(col("o_totalprice")).as("y"))
    def m(s: String, out: String) =
      expr(s"sum(CASE WHEN seg = '$s' THEN y ELSE 0 END) div " +
        s"sum(CASE WHEN seg = '$s' THEN 1 ELSE 0 END)").as("p_" + out)
    def c(s: String, out: String) =
      expr(s"sum(CASE WHEN seg = '$s' THEN 1 ELSE 0 END)").as("n_" + out)
    o.groupBy().agg(
      m("AUTOMOBILE", "auto"), m("BUILDING", "bld"), m("FURNITURE", "furn"),
      m("HOUSEHOLD", "hh"), m("MACHINERY", "mach"),
      c("AUTOMOBILE", "auto"), c("BUILDING", "bld"), c("FURNITURE", "furn"),
      c("HOUSEHOLD", "hh"), c("MACHINERY", "mach"),
      expr("sum(y) div count(1)").as("pbar"), count(lit(1)).as("n"))
  }

  private val logitDen =
    "(EXP(CAST(0 AS DOUBLE) - CAST(p_auto AS DOUBLE) / CAST(pbar AS DOUBLE))" +
    " + EXP(CAST(0 AS DOUBLE) - CAST(p_bld AS DOUBLE) / CAST(pbar AS DOUBLE))" +
    " + EXP(CAST(0 AS DOUBLE) - CAST(p_furn AS DOUBLE) / CAST(pbar AS DOUBLE))" +
    " + EXP(CAST(0 AS DOUBLE) - CAST(p_hh AS DOUBLE) / CAST(pbar AS DOUBLE))" +
    " + EXP(CAST(0 AS DOUBLE) - CAST(p_mach AS DOUBLE) / CAST(pbar AS DOUBLE)))"

  private def logitShare(p: String): String =
    s"EXP(CAST(0 AS DOUBLE) - CAST($p AS DOUBLE) / CAST(pbar AS DOUBLE)) / $logitDen"

  /** Multinomial-logit choice shares with utility u = −p/p̄ (β = 1/p̄):
    * predicted share exp(u_i)/Σexp(u_j) per segment — the denominator a
    * FIXED 5-term sum so both engines evaluate the identical IEEE
    * tree — against the actual order share, e6. The workhorse demand
    * model, fit-free and fully auditable.
    */
  def q_logit_shares(spark: SparkSession, sf: String): DataFrame = {
    val segs = Seq(("AUTOMOBILE", "p_auto", "n_auto"),
      ("BUILDING", "p_bld", "n_bld"), ("FURNITURE", "p_furn", "n_furn"),
      ("HOUSEHOLD", "p_hh", "n_hh"), ("MACHINERY", "p_mach", "n_mach"))
    val rows = segs.map { case (name, p, nn) =>
      struct(lit(name).as("seg"),
        expr(s"$nn * 1000000 div n").as("actual_share_e6"),
        expr(s"CAST(ROUND(${logitShare(p)} * 1000000) AS BIGINT)")
          .as("pred_share_e6")) }
    logitStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.seg").as("c_mktsegment"),
        col("r.actual_share_e6").as("actual_share_e6"),
        col("r.pred_share_e6").as("pred_share_e6"),
        (col("r.pred_share_e6") - col("r.actual_share_e6")).as("diff_e6"))
      .orderBy("c_mktsegment")
  }

  /** Log-sum (inclusive value) consumer surplus of the same logit:
    * IV = ln Σ exp(u_i), the expected maximum utility that makes
    * nested-logit trees and welfare deltas computable — one staged
    * tree, e6, with the share-weighted mean utility beside it.
    */
  def q_logsum_surplus(spark: SparkSession, sf: String): DataFrame =
    logitStats(spark, sf)
      .select(col("n").as("n_orders"), col("pbar").as("mean_price_cents"),
        expr(s"CAST(ROUND(LN($logitDen) * 1000000) AS BIGINT)")
          .as("logsum_e6"))

  /** Logit price elasticities at β = 1/p̄: own e_ii = −(p_i/p̄)(1−s_i)
    * and the cross effect each segment exerts, +(p_i/p̄)s_i — the
    * IIA-driven proportional-substitution pattern, per segment e6.
    * Same fixed trees as the shares.
    */
  def q_logit_elasticities(spark: SparkSession, sf: String): DataFrame = {
    val segs = Seq(("AUTOMOBILE", "p_auto"), ("BUILDING", "p_bld"),
      ("FURNITURE", "p_furn"), ("HOUSEHOLD", "p_hh"), ("MACHINERY", "p_mach"))
    val rows = segs.map { case (name, p) =>
      struct(lit(name).as("seg"),
        expr(s"""CAST(ROUND((CAST(0 AS DOUBLE) - CAST($p AS DOUBLE)
            / CAST(pbar AS DOUBLE))
            * (CAST(1 AS DOUBLE) - ${logitShare(p)}) * 1000000) AS BIGINT)""")
          .as("own_elasticity_e6"),
        expr(s"""CAST(ROUND(CAST($p AS DOUBLE) / CAST(pbar AS DOUBLE)
            * ${logitShare(p)} * 1000000) AS BIGINT)""")
          .as("cross_effect_e6")) }
    logitStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.seg").as("c_mktsegment"),
        col("r.own_elasticity_e6").as("own_elasticity_e6"),
        col("r.cross_effect_e6").as("cross_effect_e6"))
      .orderBy("c_mktsegment")
  }

  // ---- §2.183 claims reserving — chain ladder, BF ultimate ----------------

  /** Run-off triangle over the order book: origin = order YEAR, payment =
    * line-item ship YEAR, development age = ship−origin years clamped to
    * the 0..3+ ladder (negative synthetic lags excluded). One row per
    * origin with the four CUMULATIVE paid columns as exact cents — the
    * whole triangle is ONE shuffle (join on orderkey) plus one 7-row
    * aggregate, so the shape is identical at 100 TB.
    */
  private def clTriangle(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("ok"), year(col("o_orderdate")).as("origin"))
    val paid = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), year(col("l_shipdate")).as("ship_y"),
        cents(col("l_extendedprice")).as("paid"))
      .join(o, col("l_orderkey") === col("ok"))
      .withColumn("age", col("ship_y") - col("origin"))
      .filter(col("age") >= 0)
    paid.groupBy("origin").agg(
      sum(when(col("age") <= 0, col("paid")).otherwise(0L)).as("c0"),
      sum(when(col("age") <= 1, col("paid")).otherwise(0L)).as("c1"),
      sum(when(col("age") <= 2, col("paid")).otherwise(0L)).as("c2"),
      sum(col("paid")).as("c3"),
      max(col("ship_y")).as("max_ship_y"))
  }

  /** One-row chain-ladder sufficient statistics: the calendar cutoff year
    * and, per development age k ∈ {0,1,2}, the volume-weighted link-ratio
    * numerator Σᵢ C_{i,k+1} and denominator Σᵢ C_{i,k} over exactly the
    * origins whose age k+1 is observed (origin + k + 1 ≤ cutoff). All
    * sums exact cents; every float downstream is a fixed tree on these.
    */
  private def clStats(spark: SparkSession, sf: String): DataFrame = {
    val t = clTriangle(spark, sf)
    val cutoff = t.agg(max(col("max_ship_y")).as("cutoff"))
    t.crossJoin(broadcast(cutoff)).groupBy().agg(
      max(col("cutoff")).as("cutoff"),
      sum(when(col("origin") + 1 <= col("cutoff"), col("c0")).otherwise(0L)).as("den0"),
      sum(when(col("origin") + 1 <= col("cutoff"), col("c1")).otherwise(0L)).as("num0"),
      sum(when(col("origin") + 1 <= col("cutoff"), 1L).otherwise(0L)).as("n0"),
      sum(when(col("origin") + 2 <= col("cutoff"), col("c1")).otherwise(0L)).as("den1"),
      sum(when(col("origin") + 2 <= col("cutoff"), col("c2")).otherwise(0L)).as("num1"),
      sum(when(col("origin") + 2 <= col("cutoff"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("origin") + 3 <= col("cutoff"), col("c2")).otherwise(0L)).as("den2"),
      sum(when(col("origin") + 3 <= col("cutoff"), col("c3")).otherwise(0L)).as("num2"),
      sum(when(col("origin") + 3 <= col("cutoff"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("origin") + 3 <= col("cutoff"), col("c3")).otherwise(0L)).as("paid_full"))
  }

  /** Textual double expression for link ratio f_k — kept as ONE string so
    * the Spark and DuckDB trees are byte-identical. A development age with
    * no fully-observed origins (den_k = 0) gets the identity link ratio 1
    * on BOTH engines: without the guard Spark would ROUND(NaN) to 0 while
    * DuckDB errors on CAST(NAN AS BIGINT), so a short-span fixture would
    * diverge instead of matching. */
  private def clF(k: Int): String =
    s"(CASE WHEN den$k = 0 THEN CAST(1 AS DOUBLE) " +
      s"ELSE CAST(num$k AS DOUBLE) / CAST(den$k AS DOUBLE) END)"

  /** Chain-ladder development factors: per age k the volume-weighted link
    * ratio f_k = ΣC_{k+1}/ΣC_k with its exact integer numerator,
    * denominator, and origin count. The actuarial standard reserve
    * pattern (Mack 1993) as three fixed-tree ratios, e6.
    */
  def q_chain_ladder_factors(spark: SparkSession, sf: String): DataFrame = {
    val rows = (0 to 2).map { k =>
      struct(lit(k.toLong).as("dev_age"),
        col(s"n$k").as("n_origins"),
        col(s"den$k").as("paid_at_cents"),
        col(s"num$k").as("paid_next_cents"),
        expr(s"CAST(ROUND(${clF(k)} * 1000000) AS BIGINT)").as("factor_e6")) }
    clStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.dev_age").as("dev_age"), col("r.n_origins").as("n_origins"),
        col("r.paid_at_cents").as("paid_at_cents"),
        col("r.paid_next_cents").as("paid_next_cents"),
        col("r.factor_e6").as("factor_e6"))
      .orderBy("dev_age")
  }

  /** CASE tree: latest observed cumulative paid for an origin at its
    * latest observed age L = least(3, cutoff − origin). */
  private val clLatest =
    "(CASE LEAST(3, cutoff - origin) WHEN 0 THEN c0 WHEN 1 THEN c1 " +
      "WHEN 2 THEN c2 ELSE c3 END)"

  /** CASE tree: product of the remaining link ratios from age L to
    * ultimate, as a fixed multiplication tree per branch. */
  private def clTail: String =
    s"(CASE LEAST(3, cutoff - origin) " +
      s"WHEN 0 THEN ${clF(0)} * ${clF(1)} * ${clF(2)} " +
      s"WHEN 1 THEN ${clF(1)} * ${clF(2)} " +
      s"WHEN 2 THEN ${clF(2)} ELSE CAST(1 AS DOUBLE) END)"

  /** Per-origin chain-ladder projection: latest observed cumulative,
    * projected ultimate = latest × Π remaining f_k, and the IBNR reserve.
    * Cumulative columns guarantee f_k ≥ 1, so reserves are ≥ 0 by
    * construction. Triangle rows are calendar-bounded (years), so the
    * final table is tiny at any corpus scale.
    */
  def q_chain_ladder_reserve(spark: SparkSession, sf: String): DataFrame =
    clTriangle(spark, sf)
      .crossJoin(broadcast(clStats(spark, sf)))
      .select(col("origin").cast("long").as("origin_year"),
        expr("CAST(LEAST(3, cutoff - origin) AS BIGINT)").as("latest_age"),
        expr(clLatest).as("latest_cents"),
        expr(s"CAST(ROUND(CAST($clLatest AS DOUBLE) * $clTail) AS BIGINT)")
          .as("ultimate_cents"),
        expr(s"CAST(ROUND(CAST($clLatest AS DOUBLE) * $clTail) AS BIGINT) " +
          s"- $clLatest").as("reserve_cents"))
      .orderBy("origin_year")

  /** Bornhuetter-Ferguson ultimate: blend the chain-ladder tail with a
    * prior ultimate = origin-year premium × portfolio ELR (paid/premium
    * over fully-developed origins). BF ultimate = latest + prior ×
    * (1 − 1/Πf) — the stabilizer actuaries use when an immature origin's
    * own data is too thin to trust the pure link-ratio projection.
    */
  def q_bf_ultimate(spark: SparkSession, sf: String): DataFrame = {
    val premium = Tables.orders(spark, sf)
      .groupBy(year(col("o_orderdate")).as("origin"))
      .agg(sum(cents(col("o_totalprice"))).as("premium_cents"))
    val stats = clStats(spark, sf)
    val prem = premium.crossJoin(broadcast(stats))
      .groupBy().agg(
        sum(when(col("origin") + 3 <= col("cutoff"), col("premium_cents"))
          .otherwise(0L)).as("prem_full"))
    val pctDev = s"(CAST(1 AS DOUBLE) / $clTail)"
    clTriangle(spark, sf)
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(prem))
      .join(premium, Seq("origin"))
      .select(col("origin").cast("long").as("origin_year"),
        col("premium_cents"),
        expr("CAST(ROUND(CAST(paid_full AS DOUBLE) / CAST(prem_full AS DOUBLE)" +
          " * 1000000) AS BIGINT)").as("elr_e6"),
        expr(s"CAST(ROUND($pctDev * 1000000) AS BIGINT)").as("pct_developed_e6"),
        expr(s"CAST(ROUND(CAST($clLatest AS DOUBLE) " +
          s"+ CAST(premium_cents AS DOUBLE) " +
          s"* (CAST(paid_full AS DOUBLE) / CAST(prem_full AS DOUBLE)) " +
          s"* (CAST(1 AS DOUBLE) - $pctDev)) AS BIGINT)").as("bf_ultimate_cents"),
        expr(s"CAST(ROUND(CAST($clLatest AS DOUBLE) * $clTail) AS BIGINT)")
          .as("cl_ultimate_cents"))
      .orderBy("origin_year")
  }

  // ---- §2.184 fixed income — bond price, duration, convexity --------------

  /** One bond per nation, parameters derived from the data so the ladder
    * is deterministic at every SF: coupon_bps = 150 + 25·(Σ|supplier
    * acctbal cents| mod 17), maturity = 1 + nationkey mod 10 years, flat
    * market yield ybps = 350 + (global supplier count mod 150). The
    * portfolio is nation-bounded (≤ 25 rows), so every downstream op is
    * a broadcast regardless of corpus size.
    */
  private def bondLadder(spark: SparkSession, sf: String): DataFrame = {
    val perNation = Tables.supplier(spark, sf)
      .groupBy(col("s_nationkey").as("nk"))
      .agg(sum(abs(cents(col("s_acctbal")))).as("bal"),
        count(lit(1)).as("n_sup"))
    val global = Tables.supplier(spark, sf)
      .agg(count(lit(1)).as("n_all"))
    Tables.nation(spark, sf)
      .join(perNation, col("n_nationkey") === col("nk"))
      .crossJoin(broadcast(global))
      .select(col("n_nationkey").cast("long").as("bond_id"),
        col("n_name").as("issuer"),
        expr("150 + 25 * (bal % 17)").as("coupon_bps"),
        expr("CAST(1 + n_nationkey % 10 AS BIGINT)").as("maturity_y"),
        expr("CAST(350 + n_all % 150 AS BIGINT)").as("y_bps"))
  }

  /** Closed-form clean price per 100 face at a flat annual yield: the
    * annuity form c·F·(1−vᵀ)/y + F·vᵀ — NO per-cashflow double sum, so
    * there is no order-dependent aggregation anywhere. `y` names the
    * yield column (bps) so the bump-and-revalue convexity reuses the
    * identical tree at y±1bp.
    */
  private def bondPx(y: String): String = {
    val yd = s"(CAST($y AS DOUBLE) / CAST(10000 AS DOUBLE))"
    val v = s"(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + $yd))"
    val c = "(CAST(coupon_bps AS DOUBLE) / CAST(10000 AS DOUBLE))"
    s"($c * CAST(100 AS DOUBLE) * (CAST(1 AS DOUBLE) - POWER($v, maturity_y)) / $yd" +
      s" + CAST(100 AS DOUBLE) * POWER($v, maturity_y))"
  }

  /** Bond pricing: closed-form price, premium/discount flag, and current
    * yield (coupon/price) for the 25-bond ladder, e6. */
  def q_bond_pricing(spark: SparkSession, sf: String): DataFrame =
    bondLadder(spark, sf)
      .select(col("bond_id"), col("issuer"), col("coupon_bps"),
        col("maturity_y"), col("y_bps"),
        expr(s"CAST(ROUND(${bondPx("y_bps")} * 1000000) AS BIGINT)")
          .as("price_e6"),
        expr(s"CAST(ROUND(CAST(coupon_bps AS DOUBLE) / CAST(100 AS DOUBLE)" +
          s" / ${bondPx("y_bps")} * 1000000) AS BIGINT)")
          .as("current_yield_e6"),
        expr(s"CASE WHEN coupon_bps > y_bps THEN 1 ELSE 0 END")
          .cast("long").as("premium_flag"))
      .orderBy("bond_id")

  /** Macaulay duration via the closed geometric-gradient form
    * Σ t·vᵗ = v(1−(T+1)vᵀ+T·vᵀ⁺¹)/(1−v)², modified duration D/(1+y),
    * and DV01 — every term one fixed tree on the ladder row. */
  def q_bond_duration(spark: SparkSession, sf: String): DataFrame = {
    val yd = "(CAST(y_bps AS DOUBLE) / CAST(10000 AS DOUBLE))"
    val v = s"(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + $yd))"
    val c = "(CAST(coupon_bps AS DOUBLE) / CAST(10000 AS DOUBLE))"
    val sumTv = s"($v * (CAST(1 AS DOUBLE) - (CAST(maturity_y AS DOUBLE)" +
      s" + CAST(1 AS DOUBLE)) * POWER($v, maturity_y)" +
      s" + CAST(maturity_y AS DOUBLE) * POWER($v, maturity_y + 1))" +
      s" / ((CAST(1 AS DOUBLE) - $v) * (CAST(1 AS DOUBLE) - $v)))"
    val macaulay = s"(($c * CAST(100 AS DOUBLE) * $sumTv" +
      s" + CAST(maturity_y AS DOUBLE) * CAST(100 AS DOUBLE)" +
      s" * POWER($v, maturity_y)) / ${bondPx("y_bps")})"
    bondLadder(spark, sf)
      .select(col("bond_id"), col("maturity_y"), col("y_bps"),
        expr(s"CAST(ROUND($macaulay * 1000000) AS BIGINT)").as("macaulay_e6"),
        expr(s"CAST(ROUND($macaulay / (CAST(1 AS DOUBLE) + $yd) * 1000000)" +
          " AS BIGINT)").as("modified_e6"),
        expr(s"CAST(ROUND(${bondPx("y_bps")} * $macaulay" +
          s" / (CAST(1 AS DOUBLE) + $yd) / CAST(10000 AS DOUBLE) * 1000000)" +
          " AS BIGINT)").as("dv01_e6"))
      .orderBy("bond_id")
  }

  /** Effective convexity by bump-and-revalue at h = 1bp —
    * (P₊ + P₋ − 2P)/(P·h²) — plus the two bumped prices themselves; the
    * practitioner's model-free convexity, reusing the identical pricing
    * tree at three yields. */
  def q_bond_convexity(spark: SparkSession, sf: String): DataFrame = {
    val h = "(CAST(1 AS DOUBLE) / CAST(10000 AS DOUBLE))"
    val conv = s"((${bondPx("y_bps + 1")} + ${bondPx("y_bps - 1")}" +
      s" - CAST(2 AS DOUBLE) * ${bondPx("y_bps")})" +
      s" / (${bondPx("y_bps")} * $h * $h))"
    bondLadder(spark, sf)
      .select(col("bond_id"), col("maturity_y"), col("y_bps"),
        expr(s"CAST(ROUND(${bondPx("y_bps + 1")} * 1000000) AS BIGINT)")
          .as("price_up_e6"),
        expr(s"CAST(ROUND(${bondPx("y_bps - 1")} * 1000000) AS BIGINT)")
          .as("price_down_e6"),
        expr(s"CAST(ROUND($conv * 1000000) AS BIGINT)").as("convexity_e6"))
      .orderBy("bond_id")
  }

  // ---- §2.186 actuarial life table — lx/qx/ex, Lexis, Gompertz ------------

  /** Cohort life table over user lifetimes: age = DAYS between a user's
    * first and last event (the fixture stream spans ~a month, so days is
    * the natural actuarial grain), d_x = deaths at age x, survivors
    * l_x = Σ_{y≥x} d_y via a banded reverse-cumulative scan (age negated
    * so the inclusive BandedScan runs "from the oldest age down" — no
    * global window), and T2_x = Σ_{y≥x} (2l_y − d_y), person-days
    * lived ×2 kept exactly integral so e_x = T2/(2l) is the only float.
    */
  private def lifeTable(spark: SparkSession, sf: String): DataFrame = {
    // one row per age in days (bounded by the event span): computed once,
    // since the two chained scans read it several times each
    val ages = Mat.once(Tables.eventsWithTs(spark, sf)
      .select(col("user_id"),
        expr("ts_usl div 86400000000").as("m"))
      .groupBy("user_id").agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select((col("m1") - col("m0")).as("x"))
      .groupBy("x").agg(count(lit(1)).as("d"))
      .withColumn("nx", -col("x")))
    val lx = BandedScan.cumSums(ages, Nil, "nx", Seq("d" -> "lx"))
      .withColumn("L2", col("lx") * 2L - col("d"))
    BandedScan.cumSums(lx, Nil, "nx", Seq("L2" -> "T2"))
      .select(col("x").cast("long").as("age_days"), col("d"), col("lx"),
        col("L2"), col("T2"))
  }

  /** The classic cohort life table: per age in days the deaths d_x,
    * survivors l_x, mortality probability q_x = d_x/l_x (e6), and the
    * remaining life expectancy e_x = T_x/l_x (e6) under the standard
    * half-period-of-death convention. */
  def q_life_table(spark: SparkSession, sf: String): DataFrame =
    lifeTable(spark, sf)
      .select(col("age_days"), col("d").as("deaths"), col("lx"),
        expr("d * 1000000 div lx").as("qx_e6"),
        expr("CAST(ROUND(CAST(T2 AS DOUBLE) / (CAST(2 AS DOUBLE)" +
          " * CAST(lx AS DOUBLE)) * 1000000) AS BIGINT)").as("ex_e6"))
      .orderBy("age_days")

  /** Lexis surface: deaths on the (birth-cohort week × age-week band)
    * grid plus exact person-days — the demographer's diagram as one
    * two-key aggregate, scale-bounded by the calendar not the corpus. */
  def q_lexis_surface(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(col("user_id"),
        expr("ts_usl div 86400000000").as("m"))
      .groupBy("user_id").agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .groupBy(expr("CAST(m0 div 7 AS BIGINT)").as("cohort_w"),
        expr("CAST((m1 - m0) div 7 AS BIGINT)").as("age_band"))
      .agg(count(lit(1)).as("deaths"),
        sum(col("m1") - col("m0")).as("person_days"))
      .orderBy("cohort_w", "age_band")

  /** Central death rates m_x = d_x/(L2_x/2) and the Gompertz log-gradient
    * ln(m_{x+1}/m_x) — mortality's exponential-aging slope — via a
    * broadcast self-join of consecutive ages (the table is age-bounded,
    * never corpus-bounded). */
  def q_mortality_gradient(spark: SparkSession, sf: String): DataFrame = {
    // age-bounded (one row per distinct age); materialized because both
    // sides of the consecutive-age self-join below read it — lazy, the
    // whole life-table pipeline ran twice (round 10 plan audit: 72
    // Exchange nodes without it)
    val lt = Mat.once(lifeTable(spark, sf).filter(col("d") > 0L))
    val mx = "(CAST(2 AS DOUBLE) * CAST(d AS DOUBLE) / CAST(L2 AS DOUBLE))"
    val mxN = "(CAST(2 AS DOUBLE) * CAST(d_n AS DOUBLE) / CAST(L2_n AS DOUBLE))"
    val nxt = lt.select(col("age_days").as("age_n"), col("d").as("d_n"),
      col("L2").as("L2_n"))
    lt.join(broadcast(nxt), col("age_n") === col("age_days") + 1L)
      .select(col("age_days"),
        expr(s"CAST(ROUND($mx * 1000000) AS BIGINT)").as("mx_e6"),
        expr(s"CAST(ROUND($mxN * 1000000) AS BIGINT)").as("mx_next_e6"),
        expr(s"CAST(ROUND(LN($mxN / $mx) * 1000000) AS BIGINT)")
          .as("gompertz_slope_e6"))
      .orderBy("age_days")
  }

  // ---- §2.187 transportation problem — flows, NW corner, Vogel ------------

  /** Region→region shipment flows: every lineitem routed from its
    * supplier's region to its customer's region. ONE pass over lineitem
    * with two keyed shuffle joins (orders, supplier) and broadcast
    * dimension chains — the canonical star-join shape; the result is
    * 5×5 regardless of corpus size. Cost proxy per unit = mean discount
    * bps on the lane + 1 (exact integer division).
    */
  private def transportFlows(spark: SparkSession, sf: String): DataFrame = {
    val custRegion = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(Tables.nation(spark, sf)
        .select(col("n_nationkey").as("cn"), col("n_regionkey").as("dst"))),
        col("c_nationkey") === col("cn"))
      .select(col("c_custkey"), col("dst"))
    val suppRegion = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, sf)
        .select(col("n_nationkey").as("sn"), col("n_regionkey").as("src"))),
        col("s_nationkey") === col("sn"))
      .select(col("s_suppkey"), col("src"))
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"), pct(col("l_discount")).as("disc"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custRegion, col("o_custkey") === col("c_custkey"))
      .join(suppRegion, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .agg(count(lit(1)).as("flow"), sum(col("disc")).as("disc_sum"))
      .withColumn("cost", expr("disc_sum div flow + 1"))
  }

  /** Northwest-corner feasible plan: supplies = per-source totals,
    * demands = per-destination totals (both sum to N, so the problem is
    * balanced by construction); alloc_ij = overlap of the cumulative
    * intervals [S_{i−1},S_i) ∩ [D_{j−1},D_j) — the closed interval form
    * of the textbook NW sweep, no iteration. Cumulatives via the banded
    * scan; the 5×5 grid is a broadcast cross join.
    */
  def q_transport_plan_nw(spark: SparkSession, sf: String): DataFrame =
    transportPlanNwOf(Mat.once(transportFlows(spark, sf)))

  /** NW plan from an already-materialized flows table — shared with
    * [[q_transport_cost_gap]] so the lineitem→orders flows pipeline runs
    * once per query, not once per sub-plan. */
  private def transportPlanNwOf(fl: DataFrame): DataFrame = {
    val sup = BandedScan.cumSums(
      fl.groupBy("src").agg(sum(col("flow")).as("s")), Nil, "src", Seq("s" -> "cs"))
      .select(col("src"), (col("cs") - col("s")).as("s_lo"), col("cs").as("s_hi"))
    val dem = BandedScan.cumSums(
      fl.groupBy("dst").agg(sum(col("flow")).as("d")), Nil, "dst", Seq("d" -> "cd"))
      .select(col("dst"), (col("cd") - col("d")).as("d_lo"), col("cd").as("d_hi"))
    sup.crossJoin(broadcast(dem))
      .select(col("src"), col("dst"),
        expr("GREATEST(CAST(0 AS BIGINT)," +
          " LEAST(s_hi, d_hi) - GREATEST(s_lo, d_lo))").as("alloc"))
      .filter(col("alloc") > 0L)
      .join(broadcast(fl.select(col("src"), col("dst"), col("cost"))),
        Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("alloc"),
        coalesce(col("cost"), lit(0L)).as("lane_cost"),
        (col("alloc") * coalesce(col("cost"), lit(0L))).as("cost_total"))
      .orderBy("src", "dst")
  }

  /** Vogel approximation penalties: per source row and per destination
    * column, the spread between the cheapest and second-cheapest lane —
    * the regret ranking VAM allocates by. Keyed windows over the 5×5
    * cost matrix, row and column sides unioned. */
  def q_vogel_penalties(spark: SparkSession, sf: String): DataFrame = {
    val fl = Mat.once(transportFlows(spark, sf))
    def side(key: String, other: String, label: String) = {
      val w = Window.partitionBy(key).orderBy(col("cost").asc, col(other).asc)
      fl.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .groupBy(col(key).as("region"))
        .agg(min(col("cost")).as("best_cost"),
          max(col("cost")).as("second_cost"), count(lit(1)).as("n_lanes"))
        .select(lit(label).as("side"), col("region"),
          col("best_cost"), col("second_cost"),
          (col("second_cost") - col("best_cost")).as("penalty"),
          col("n_lanes"))
    }
    side("src", "dst", "row").unionAll(side("dst", "src", "col"))
      .orderBy("side", "region")
  }

  /** Cost audit: actual routing cost vs the NW-corner plan vs the
    * row-minimum lower bound Σᵢ sᵢ·minⱼ cᵢⱼ — how far observed and
    * naive-feasible sit above the cheapest conceivable assignment. */
  def q_transport_cost_gap(spark: SparkSession, sf: String): DataFrame = {
    val fl = Mat.once(transportFlows(spark, sf))
    val actual = fl.agg(sum(col("flow") * col("cost")).as("actual_cost"))
    val nw = transportPlanNwOf(fl)
      .agg(sum(col("cost_total")).as("nw_cost"))
    val lb = fl.groupBy("src")
      .agg(sum(col("flow")).as("s"), min(col("cost")).as("cmin"))
      .agg(sum(col("s") * col("cmin")).as("lb_cost"))
    actual.crossJoin(broadcast(nw)).crossJoin(broadcast(lb))
      .select(col("actual_cost"), col("nw_cost"), col("lb_cost"),
        expr("(actual_cost - lb_cost) * 1000000 div lb_cost")
          .as("actual_gap_e6"),
        expr("(nw_cost - lb_cost) * 1000000 div lb_cost").as("nw_gap_e6"))
  }

  // ---- §2.188 option pricing — Black-Scholes, parity, implied vol ---------

  /** Exact-rational double literal — both engines parse the identical
    * division tree, so the constant is bit-identical cross-engine. */
  private def frac(num: Long, den: Long): String =
    if (num < 0) s"(CAST(0 AS DOUBLE) - CAST(${-num} AS DOUBLE) / CAST($den AS DOUBLE))"
    else s"(CAST($num AS DOUBLE) / CAST($den AS DOUBLE))"

  /** Standard normal CDF as ONE portable fixed tree: the Zelen-Severo
    * (A&S 26.2.17) five-coefficient approximation (|ε| < 7.5e-8),
    * reflected for negative arguments. `x` must be a simple column
    * reference (it is repeated ~12 times in the tree).
    */
  private def normCdf(x: String): String = {
    def F(y: String): String = {
      val t = s"(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + ${frac(2316419L, 10000000L)} * $y))"
      val horner = s"($t * (${frac(319381530L, 1000000000L)} + $t * (${frac(-356563782L, 1000000000L)}" +
        s" + $t * (${frac(1781477937L, 1000000000L)} + $t * (${frac(-1821255978L, 1000000000L)}" +
        s" + $t * ${frac(1330274429L, 1000000000L)})))))"
      s"(CAST(1 AS DOUBLE) - EXP(CAST(0 AS DOUBLE) - $y * $y / CAST(2 AS DOUBLE))" +
        s" / SQRT(CAST(2 AS DOUBLE) * PI()) * $horner)"
    }
    s"(CASE WHEN $x >= CAST(0 AS DOUBLE) THEN ${F(x)}" +
      s" ELSE CAST(1 AS DOUBLE) - ${F(s"(CAST(0 AS DOUBLE) - $x)")} END)"
  }

  /** One option chain per part brand: spot = mean retail cents (exact
    * div), five moneyness strikes, data-derived vol (10–50%) and flat
    * rate (2–4%), T = 1y. Brand-bounded (≤ 25×5 rows) at any SF. */
  private def optionGrid(spark: SparkSession, sf: String): DataFrame = {
    val brands = Tables.part(spark, sf).groupBy(col("p_brand"))
      .agg(sum(cents(col("p_retailprice"))).as("sc"), count(lit(1)).as("n"))
      .select(col("p_brand"), expr("sc div n").as("s_cents"))
    val g = Tables.part(spark, sf).agg(count(lit(1)).as("n_all"))
    brands.crossJoin(broadcast(g))
      .select(col("p_brand"), col("s_cents"),
        expr("1000 + s_cents % 4000").as("sig_e4"),
        expr("200 + n_all % 200").as("r_bps"),
        explode(array(Seq(80L, 90L, 100L, 110L, 120L).map(lit): _*))
          .as("moneyness"))
      .withColumn("k_cents", expr("s_cents * moneyness div 100"))
      .withColumn("d1", expr(s"(LN($bsS / $bsK) + $bsR + $bsSig * $bsSig" +
        s" / CAST(2 AS DOUBLE)) / $bsSig"))
      .withColumn("d2", expr(s"d1 - $bsSig"))
  }

  private val bsS = "(CAST(s_cents AS DOUBLE) / CAST(100 AS DOUBLE))"
  private val bsK = "(CAST(k_cents AS DOUBLE) / CAST(100 AS DOUBLE))"
  private val bsSig = "(CAST(sig_e4 AS DOUBLE) / CAST(10000 AS DOUBLE))"
  private val bsR = "(CAST(r_bps AS DOUBLE) / CAST(10000 AS DOUBLE))"
  private def bsDisc = s"EXP(CAST(0 AS DOUBLE) - $bsR)"
  private def bsCall =
    s"($bsS * ${normCdf("d1")} - $bsK * $bsDisc * ${normCdf("d2")})"
  private def bsPut =
    s"($bsK * $bsDisc * (CAST(1 AS DOUBLE) - ${normCdf("d2")})" +
      s" - $bsS * (CAST(1 AS DOUBLE) - ${normCdf("d1")}))"

  /** Black-Scholes call/put prices (T = 1y) across the brand×moneyness
    * chain, e6, with d1 for delta-reading — the entire surface one
    * codegen'd projection over a broadcast-sized grid. */
  def q_black_scholes_grid(spark: SparkSession, sf: String): DataFrame =
    optionGrid(spark, sf)
      .select(col("p_brand"), col("moneyness"), col("s_cents"), col("k_cents"),
        col("sig_e4"), col("r_bps"),
        expr(s"CAST(ROUND($bsCall * 1000000) AS BIGINT)").as("call_e6"),
        expr(s"CAST(ROUND($bsPut * 1000000) AS BIGINT)").as("put_e6"),
        expr("CAST(ROUND(d1 * 1000000) AS BIGINT) + 0").as("d1_e6"))
      .orderBy("p_brand", "moneyness")

  /** Put-call parity audit: C − P must equal S − K·e^(−r) identically;
    * the absolute gap (e9) is the engine's floating-point honesty check
    * and must round to zero everywhere. */
  def q_put_call_parity(spark: SparkSession, sf: String): DataFrame =
    optionGrid(spark, sf)
      .select(col("p_brand"), col("moneyness"),
        expr(s"CAST(ROUND(($bsCall - $bsPut) * 1000000) AS BIGINT) + 0")
          .as("lhs_e6"),
        expr(s"CAST(ROUND(($bsS - $bsK * $bsDisc) * 1000000) AS BIGINT) + 0")
          .as("rhs_e6"),
        expr(s"CAST(ROUND(ABS(($bsCall - $bsPut) - ($bsS - $bsK * $bsDisc))" +
          s" * 1000000000) AS BIGINT)").as("parity_gap_e9"))
      .orderBy("p_brand", "moneyness")

  /** Implied volatility by deterministic grid search: target = the same
    * pricing tree at vol ×1.2; scan 64 candidate vols (5%..84.375%,
    * 1.25% step) and keep the lexicographic (|error|, vol) minimum —
    * recovering the bumped vol to within half a grid step, with no
    * iteration and no order-dependent float reduction. */
  def q_implied_vol_grid(spark: SparkSession, sf: String): DataFrame = {
    val target = s"CAST(tgt_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE)"
    val candSig = "(CAST(sigc_e4 AS DOUBLE) / CAST(10000 AS DOUBLE))"
    val cd1 = s"((LN($bsS / $bsK) + $bsR + $candSig * $candSig" +
      s" / CAST(2 AS DOUBLE)) / $candSig)"
    val base = optionGrid(spark, sf)
      .withColumn("sig_bump_e4", expr("sig_e4 * 12 div 10"))
      .drop("d1", "d2").withColumnRenamed("sig_e4", "sig_orig_e4")
      .withColumnRenamed("sig_bump_e4", "sig_e4")
      .withColumn("d1", expr(s"(LN($bsS / $bsK) + $bsR + $bsSig * $bsSig" +
        s" / CAST(2 AS DOUBLE)) / $bsSig"))
      .withColumn("d2", expr(s"d1 - $bsSig"))
      .withColumn("tgt_e9", expr(s"CAST(ROUND($bsCall * 1000000000) AS BIGINT)"))
    base
      .select(col("p_brand"), col("moneyness"), col("s_cents"), col("k_cents"),
        col("r_bps"), col("sig_e4").as("sig_true_e4"), col("tgt_e9"),
        explode(expr("sequence(0, 63)")).as("i"))
      .withColumn("sigc_e4", expr("CAST(500 + 125 * i AS BIGINT)"))
      .withColumn("cd1", expr(cd1))
      .withColumn("cd2", expr(s"cd1 - $candSig"))
      .withColumn("err_e9", expr(
        s"CAST(ROUND(ABS(($bsS * ${normCdf("cd1")} - $bsK * $bsDisc" +
          s" * ${normCdf("cd2")}) - $target) * 1000000000) AS BIGINT)"))
      .groupBy(col("p_brand"), col("moneyness"))
      .agg(min(struct(col("err_e9"), col("sigc_e4"))).as("best"),
        max(col("sig_true_e4")).as("sig_true_e4"))
      .select(col("p_brand"), col("moneyness"),
        col("best.sigc_e4").as("implied_e4"), col("sig_true_e4"),
        col("best.err_e9").as("err_e9"),
        (col("best.sigc_e4") - col("sig_true_e4")).as("grid_bias_e4"))
      .orderBy("p_brand", "moneyness")
  }

  // ---- §2.189 credit scorecard — PDO points, distribution, alignment ------

  /** Per-segment good/bad counts (bad = negative account balance) with
    * both classes present — the single-feature scorecard bin table.
    * One aggregate; segment-bounded output. */
  private def scorecardBins(spark: SparkSession, sf: String): DataFrame =
    Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment"))
      .agg(sum(when(col("c_acctbal") >= 0, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("n_bad"))
      .filter(col("n_good") > 0L && col("n_bad") > 0L)

  /** factor = PDO / ln 2 with PDO = 20: doubling the odds adds 20
    * points; offset anchors odds 19:1 at score 600. */
  private val scFactor = "(CAST(20 AS DOUBLE) / LN(CAST(2 AS DOUBLE)))"
  private val scOffset =
    s"(CAST(600 AS DOUBLE) - $scFactor * LN(CAST(19 AS DOUBLE)))"
  private val scLnOdds =
    "LN(CAST(n_good AS DOUBLE) / CAST(n_bad AS DOUBLE))"

  /** Industry-standard points-to-double-odds scorecard: per segment the
    * good/bad counts, empirical ln-odds (e6), and the PDO-scaled score
    * round(offset + factor·ln(odds)) — 600 at 19:1, +20 per doubling. */
  def q_scorecard_points(spark: SparkSession, sf: String): DataFrame =
    scorecardBins(spark, sf)
      .select(col("c_mktsegment"), col("n_good"), col("n_bad"),
        expr(s"CAST(ROUND($scLnOdds * 1000000) AS BIGINT)").as("ln_odds_e6"),
        expr(s"CAST(ROUND($scOffset + $scFactor * $scLnOdds) AS BIGINT)")
          .as("points"))
      .orderBy("c_mktsegment")

  /** Score each customer by its segment's points (broadcast apply) and
    * profile the score distribution: population, bads, bad rate (e6),
    * and lift vs the portfolio bad rate (e6) per score level. */
  def q_scorecard_distribution(spark: SparkSession, sf: String): DataFrame = {
    val pts = scorecardBins(spark, sf)
      .select(col("c_mktsegment").as("seg"),
        expr(s"CAST(ROUND($scOffset + $scFactor * $scLnOdds) AS BIGINT)")
          .as("points"))
    val scored = Tables.customer(spark, sf)
      .join(broadcast(pts), col("c_mktsegment") === col("seg"))
      .select(col("points"),
        when(col("c_acctbal") < 0, 1L).otherwise(0L).as("bad"))
    val total = scored.agg(count(lit(1)).as("n_all"), sum(col("bad")).as("b_all"))
    scored.groupBy("points")
      .agg(count(lit(1)).as("n"), sum(col("bad")).as("n_bad"))
      .crossJoin(broadcast(total))
      .select(col("points"), col("n"), col("n_bad"),
        expr("n_bad * 1000000 div n").as("bad_rate_e6"),
        expr("CAST(ROUND((CAST(n_bad AS DOUBLE) / CAST(n AS DOUBLE))" +
          " / (CAST(b_all AS DOUBLE) / CAST(n_all AS DOUBLE))" +
          " * 1000000) AS BIGINT)").as("lift_e6"))
      .orderBy("points")
  }

  /** Alignment audit: invert each bin's points back to implied ln-odds
    * (points − offset)/factor and compare with the empirical ln-odds —
    * the gap is pure integer-rounding noise iff the PDO scaling is
    * correctly calibrated (the scorecard governance check). */
  def q_scorecard_alignment(spark: SparkSession, sf: String): DataFrame =
    scorecardBins(spark, sf)
      .select(col("c_mktsegment"),
        expr(s"CAST(ROUND($scLnOdds * 1000000) AS BIGINT)").as("actual_e6"),
        expr(s"CAST(ROUND((CAST(CAST(ROUND($scOffset + $scFactor * $scLnOdds)" +
          s" AS BIGINT) AS DOUBLE) - $scOffset) / $scFactor * 1000000)" +
          " AS BIGINT)").as("implied_e6"))
      .withColumn("gap_e6", abs(col("actual_e6") - col("implied_e6")))
      .orderBy("c_mktsegment")

  // ---- §2.190 magnitude analytics — Gutenberg-Richter, Omori, GR curve ----

  /** Aki-MLE b-value per event type, treating event value as the
    * magnitude and the GLOBAL mean as the completeness cutoff Mc (both
    * exact integer stats): b = log10(e)/(mean_{≥Mc} − Mc). One corpus
    * pass for the cutoff, one for the per-type tail stats.
    *
    * Integer-div contract: the `sum div count` means here (and in
    * [[q_phase_profile]]) truncate toward zero on Spark but floor on
    * DuckDB — identical ONLY because event value is non-negative, a
    * precondition pinned by FixtureSchemaSpec ("events.value is
    * non-negative"). A signed mean must route through
    * CAST(ROUND(sum/count)) instead (the q_kyle_lambda pattern). */
  def q_gutenberg_richter(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("mc"))
    val cut = ev.agg(expr("sum(mc) div count(1)").as("cutoff"))
    ev.crossJoin(broadcast(cut))
      .filter(col("mc") >= col("cutoff"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_above"), sum(col("mc")).as("s"),
        max(col("cutoff")).as("cutoff_cents"))
      .select(col("event_type"), col("n_above"), col("cutoff_cents"),
        expr("s div n_above").as("mean_above_cents"),
        expr("CAST(ROUND((CAST(1 AS DOUBLE) / LN(CAST(10 AS DOUBLE)))" +
          " / ((CAST(s AS DOUBLE) / CAST(n_above AS DOUBLE)" +
          " - CAST(cutoff_cents AS DOUBLE)) / CAST(100 AS DOUBLE))" +
          " * 1000000) AS BIGINT)").as("b_value_e6"))
      .orderBy("event_type")
  }

  /** Shared power-of-two CASE bucket over a nonnegative column. */
  private def pow2Bucket(x: String): String = {
    val whens = (1 to 20)
      .map(b => s"WHEN $x < ${1L << b} THEN ${b - 1}").mkString(" ")
    s"(CASE $whens ELSE 20 END)"
  }

  /** Omori aftershock decay: take the strongest event (max value,
    * smallest id on ties) as the mainshock, bucket the events after it
    * by log2 seconds-since, and report the occurrence RATE per bucket —
    * Omori's 1/t^p law shows as a falling staircase. Mainshock found by
    * one struct-max aggregate; no ordering shuffle. */
  def q_omori_decay(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("event_id"), col("ts_usl"), cents(col("value")).as("mc"))
    val main = ev
      .agg(min(struct((-col("mc")).as("nm"), col("event_id"),
        col("ts_usl").as("t0"))).as("m"))
      .select(col("m.t0").as("t0"))
    ev.crossJoin(broadcast(main))
      .filter(col("ts_usl") > col("t0"))
      .withColumn("dt_s", expr("(ts_usl - t0) div 1000000"))
      .groupBy(expr(s"CAST(${pow2Bucket("dt_s")} AS BIGINT)").as("bucket"))
      .agg(count(lit(1)).as("n_after"))
      .select(col("bucket"), col("n_after"),
        expr("CASE WHEN bucket = 0 THEN CAST(2 AS BIGINT)" +
          " ELSE CAST(POW(2, bucket) AS BIGINT) END").as("width_s"),
        expr("n_after * 1000000 div (CASE WHEN bucket = 0" +
          " THEN CAST(2 AS BIGINT) ELSE CAST(POW(2, bucket) AS BIGINT) END)")
          .as("rate_e6"))
      .orderBy("bucket")
  }

  /** Frequency-magnitude (GR) curve: counts per 10-unit magnitude bin
    * and the cumulative N(≥m) via a banded reverse scan, with log10 N —
    * the straight line whose slope is −b and whose roll-off below the
    * completeness magnitude is the detectability audit. */
  def q_magnitude_completeness(spark: SparkSession, sf: String): DataFrame = {
    val bins = Tables.eventsWithTs(spark, sf)
      .select(expr("CAST(ROUND(value * 100) AS BIGINT) div 1000").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .withColumn("nb", -col("bin"))
    BandedScan.cumSums(bins, Nil, "nb", Seq("n" -> "cum_n"))
      .select(col("bin"), col("n"), col("cum_n"),
        expr("CAST(ROUND(LN(CAST(cum_n AS DOUBLE)) / LN(CAST(10 AS DOUBLE))" +
          " * 1000000) AS BIGINT)").as("log10_cum_e6"))
      .orderBy("bin")
  }

  // ---- §2.191 doubly-robust causal — AIPW, IPW diagnostics, positivity ----

  private val aipwSegs = Seq("AUTOMOBILE" -> "auto", "BUILDING" -> "bld",
    "FURNITURE" -> "furn", "HOUSEHOLD" -> "hh", "MACHINERY" -> "mach")

  /** One-row sufficient statistics for the observational study: treatment
    * T = custkey parity, outcome Y = lifetime order cents (0 for never-
    * buyers via left join), confounder X = market segment. Per segment:
    * arm counts and exact cents sums — every estimator downstream is a
    * fixed tree on these 20 integers. */
  private def aipwStats(spark: SparkSession, sf: String): DataFrame = {
    val spend = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("yy"))
    val obs = Tables.customer(spark, sf)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment").as("seg"), (col("c_custkey") % 2).as("t"),
        coalesce(col("yy"), lit(0L)).as("y"))
    val aggs = aipwSegs.flatMap { case (name, a) => Seq(
      expr(s"sum(CASE WHEN seg = '$name' AND t = 1 THEN 1 ELSE 0 END)").as(s"n1_$a"),
      expr(s"sum(CASE WHEN seg = '$name' AND t = 0 THEN 1 ELSE 0 END)").as(s"n0_$a"),
      expr(s"sum(CASE WHEN seg = '$name' AND t = 1 THEN y ELSE 0 END)").as(s"s1_$a"),
      expr(s"sum(CASE WHEN seg = '$name' AND t = 0 THEN y ELSE 0 END)").as(s"s0_$a"))
    }
    obs.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  private def aipwD(x: String) = s"CAST($x AS DOUBLE)"
  private def aipwNc(a: String) = s"(n1_$a + n0_$a)"
  private def aipwN = aipwSegs.map { case (_, a) => aipwNc(a) }.mkString("(", " + ", ")")
  private def aipwN1 = aipwSegs.map { case (_, a) => s"n1_$a" }.mkString("(", " + ", ")")
  private def aipwN0 = aipwSegs.map { case (_, a) => s"n0_$a" }.mkString("(", " + ", ")")
  private def aipwS1 = aipwSegs.map { case (_, a) => s"s1_$a" }.mkString("(", " + ", ")")
  private def aipwS0 = aipwSegs.map { case (_, a) => s"s0_$a" }.mkString("(", " + ", ")")
  private def aipwMu1 = s"(${aipwD(aipwS1)} / ${aipwD(aipwN1)})"
  private def aipwMu0 = s"(${aipwD(aipwS0)} / ${aipwD(aipwN0)})"
  private def aipwE(a: String) = s"(${aipwD(s"n1_$a")} / ${aipwD(aipwNc(a))})"
  /** Stratified (g-formula) ATE: Σ n_c(μ̂1c − μ̂0c)/N. */
  private def aipwG = aipwSegs.map { case (_, a) =>
    s"${aipwD(aipwNc(a))} * (${aipwD(s"s1_$a")} / ${aipwD(s"n1_$a")}" +
      s" - ${aipwD(s"s0_$a")} / ${aipwD(s"n0_$a")})" }
    .mkString("((", " + ", s") / ${aipwD(aipwN)})")
  /** AIPW Σψ with a deliberately UNADJUSTED outcome model (global arm
    * means) and the exact per-cell propensity — the augmentation repairs
    * the misspecification, reproducing the g-formula analytically. */
  private def aipwPsi = aipwSegs.map { case (_, a) =>
    s"((${aipwD(s"s1_$a")} - ${aipwD(s"n1_$a")} * $aipwMu1) / ${aipwE(a)}" +
      s" + ${aipwD(aipwNc(a))} * $aipwMu1" +
      s" - (${aipwD(s"s0_$a")} - ${aipwD(s"n0_$a")} * $aipwMu0)" +
      s" / (CAST(1 AS DOUBLE) - ${aipwE(a)})" +
      s" - ${aipwD(aipwNc(a))} * $aipwMu0)" }
    .mkString("((", " + ", s") / ${aipwD(aipwN)})")

  /** Average treatment effect three ways: naive arm difference,
    * stratified g-formula, and AIPW with a misspecified outcome model —
    * plus the doubly-robust identity gap (e9, must round to ~0): with a
    * saturated exact propensity the augmentation term cancels the model
    * bias analytically, so AIPW ≡ g-formula up to float path. Pure
    * +,*,/ trees — bit-identical cross-engine. */
  def q_aipw_ate(spark: SparkSession, sf: String): DataFrame =
    aipwStats(spark, sf)
      .select(
        expr(s"CAST(ROUND(($aipwMu1 - $aipwMu0) * 10000) AS BIGINT)")
          .as("naive_cents_e4"),
        expr(s"CAST(ROUND($aipwG * 10000) AS BIGINT)").as("gformula_cents_e4"),
        expr(s"CAST(ROUND($aipwPsi * 10000) AS BIGINT)").as("aipw_cents_e4"),
        expr(s"CAST(ROUND(ABS($aipwPsi - $aipwG) * 1000000) AS BIGINT)")
          .as("dr_gap_e6"))

  /** IPW weight table per segment: propensity (e6), the two inverse
    * weights (e6), and each cell's share of the total Horvitz-Thompson
    * mass — the overlap panel a reviewer reads before trusting any
    * weighted estimate. */
  def q_ipw_diagnostics(spark: SparkSession, sf: String): DataFrame = {
    val rows = aipwSegs.map { case (name, a) =>
      struct(lit(name).as("seg"), col(s"n1_$a").as("n1"), col(s"n0_$a").as("n0"),
        expr(s"CAST(ROUND(${aipwE(a)} * 1000000) AS BIGINT)").as("e_e6"),
        expr(s"CAST(ROUND(CAST(1 AS DOUBLE) / ${aipwE(a)} * 1000000) AS BIGINT)")
          .as("w1_e6"),
        expr(s"CAST(ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) - ${aipwE(a)})" +
          s" * 1000000) AS BIGINT)").as("w0_e6")) }
    aipwStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.seg").as("c_mktsegment"), col("r.n1").as("n1"),
        col("r.n0").as("n0"), col("r.e_e6").as("e_e6"),
        col("r.w1_e6").as("w1_e6"), col("r.w0_e6").as("w0_e6"))
      .orderBy("c_mktsegment")
  }

  /** Positivity audit: min(e, 1−e) per segment (e6), the 5%-clip flag,
    * and the ATO overlap weight e(1−e) share — where the estimand quietly
    * reweights itself when overlap thins. */
  def q_overlap_positivity(spark: SparkSession, sf: String): DataFrame = {
    val hSum = aipwSegs.map { case (_, a) =>
      s"${aipwD(aipwNc(a))} * ${aipwE(a)} * (CAST(1 AS DOUBLE) - ${aipwE(a)})" }
      .mkString("(", " + ", ")")
    val rows = aipwSegs.map { case (name, a) =>
      val h = s"${aipwD(aipwNc(a))} * ${aipwE(a)} * (CAST(1 AS DOUBLE) - ${aipwE(a)})"
      struct(lit(name).as("seg"),
        expr(s"CAST(ROUND(LEAST(${aipwE(a)}, CAST(1 AS DOUBLE) - ${aipwE(a)})" +
          s" * 1000000) AS BIGINT)").as("min_arm_e6"),
        expr(s"CASE WHEN ${aipwE(a)} >= ${aipwD("1")} / ${aipwD("20")}" +
          s" AND ${aipwE(a)} <= ${aipwD("19")} / ${aipwD("20")}" +
          s" THEN 1 ELSE 0 END").cast("long").as("positivity_ok"),
        expr(s"CAST(ROUND($h / $hSum * 1000000) AS BIGINT)").as("ato_share_e6")) }
    aipwStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.seg").as("c_mktsegment"),
        col("r.min_arm_e6").as("min_arm_e6"),
        col("r.positivity_ok").as("positivity_ok"),
        col("r.ato_share_e6").as("ato_share_e6"))
      .orderBy("c_mktsegment")
  }

  // ---- §2.193 reliability engineering — blocks, Birnbaum, budget ----------

  private val relRegions = Seq("AFRICA" -> "af", "AMERICA" -> "am",
    "ASIA" -> "as", "EUROPE" -> "eu", "MIDDLE EAST" -> "me")

  /** One-row reliability sufficient statistics: per region the supplier
    * count and the healthy count (positive balance) — the component-up
    * probability inputs, exact integers. */
  private def relStats(spark: SparkSession, sf: String): DataFrame = {
    val s = Tables.supplier(spark, sf)
      .join(broadcast(Tables.nation(spark, sf)
        .select(col("n_nationkey").as("nk"), col("n_regionkey"))),
        col("s_nationkey") === col("nk"))
      .join(broadcast(Tables.region(spark, sf)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), (col("s_acctbal") > 0).cast("long").as("up"))
    val aggs = relRegions.flatMap { case (name, a) => Seq(
      expr(s"sum(CASE WHEN r_name = '$name' THEN 1 ELSE 0 END)").as(s"n_$a"),
      expr(s"sum(CASE WHEN r_name = '$name' THEN up ELSE 0 END)").as(s"u_$a")) }
    s.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  /** Parallel-block availability of region `a`: a 4-way active
    * redundancy group (suppliers beyond 4 are cold spares, not counted,
    * so the unavailability (1−p)^min(n,4) never underflows to exact 0
    * and the downstream log stays finite): A = 1 − (1−p)^min(n,4) with
    * p = u/n. */
  private def relA(a: String): String = {
    val p = s"(CAST(u_$a AS DOUBLE) / CAST(n_$a AS DOUBLE))"
    s"(CAST(1 AS DOUBLE) - POWER(CAST(1 AS DOUBLE) - $p, LEAST(n_$a, 4)))"
  }
  private def relSys = relRegions.map { case (_, a) => relA(a) }.mkString("(", " * ", ")")

  /** Reliability block diagram: each region is a parallel block of its
    * suppliers (up = positive balance); per block the component count,
    * up-probability (e6), and block availability 1 − (1−p)^n (e9). */
  def q_reliability_block(spark: SparkSession, sf: String): DataFrame = {
    val rows = relRegions.map { case (name, a) =>
      struct(lit(name).as("r"), col(s"n_$a").as("n_sup"), col(s"u_$a").as("n_up"),
        expr(s"CAST(ROUND(CAST(u_$a AS DOUBLE) / CAST(n_$a AS DOUBLE)" +
          " * 1000000) AS BIGINT)").as("p_e6"),
        expr(s"CAST(ROUND(${relA(a)} * 1000000000) AS BIGINT)").as("avail_e9")) }
    relStats(spark, sf)
      .select(explode(array(rows: _*)).as("x"))
      .select(col("x.r").as("r_name"), col("x.n_sup").as("n_sup"),
        col("x.n_up").as("n_up"), col("x.p_e6").as("p_e6"),
        col("x.avail_e9").as("avail_e9"))
      .orderBy("r_name")
  }

  /** Birnbaum structural importance of each block in the series system:
    * ∂R/∂A_r = Π_{s≠r} A_s — which region's hardening buys the most
    * system availability. Fixed 4-term product per block. */
  def q_birnbaum_importance(spark: SparkSession, sf: String): DataFrame = {
    val rows = relRegions.map { case (name, a) =>
      val others = relRegions.collect { case (_, b) if b != a => relA(b) }
        .mkString("(", " * ", ")")
      struct(lit(name).as("r"),
        expr(s"CAST(ROUND($others * 1000000000) AS BIGINT)").as("birnbaum_e9"),
        expr(s"CAST(ROUND($others * (CAST(1 AS DOUBLE) - ${relA(a)})" +
          " * 1000000000) AS BIGINT)").as("risk_contrib_e9")) }
    relStats(spark, sf)
      .select(explode(array(rows: _*)).as("x"))
      .select(col("x.r").as("r_name"), col("x.birnbaum_e9").as("birnbaum_e9"),
        col("x.risk_contrib_e9").as("risk_contrib_e9"))
      .orderBy("r_name")
  }

  /** System availability budget: series-of-parallel availability, the
    * downtime minutes per year it implies, and the "number of nines"
    * −log10(1−A) — the SLO line item, one fixed tree. */
  def q_availability_budget(spark: SparkSession, sf: String): DataFrame =
    relStats(spark, sf)
      .select(
        expr(s"CAST(ROUND($relSys * 1000000000) AS BIGINT)").as("sys_avail_e9"),
        expr(s"CAST(ROUND((CAST(1 AS DOUBLE) - $relSys) * CAST(525960 AS DOUBLE)" +
          " * 100) AS BIGINT)").as("downtime_min_yr_e2"),
        expr(s"CAST(ROUND((CAST(0 AS DOUBLE) - LN(CAST(1 AS DOUBLE) - $relSys)" +
          " / LN(CAST(10 AS DOUBLE))) * 10000) AS BIGINT)").as("nines_e4"))

  // ---- §2.194 bipartite structure — lane graph, Hall deficiency -----------

  /** Thresholded region-level bipartite trade graph: keep lane S→D iff
    * its cost (mean discount bps) is at most the mean lane cost —
    * a data-derived sparsification that leaves a nontrivial adjacency.
    * Exposes per-source neighbor BITMASKS so the subset sweep below is
    * pure integer arithmetic. */
  private def hallLanes(spark: SparkSession, sf: String): DataFrame = {
    val fl = Mat.once(transportFlows(spark, sf))
    val thr = fl.agg(expr("sum(cost) div count(1)").as("mean_cost"))
    fl.crossJoin(broadcast(thr))
      .filter(col("cost") <= col("mean_cost"))
      .groupBy("src")
      .agg(sum(expr("CAST(POW(2, dst) AS BIGINT)")).as("nbr_mask"),
        count(lit(1)).as("degree"))
  }

  /** The sparsified lane adjacency itself: per source region its degree,
    * neighbor mask, and share of possible destinations (e6) — the base
    * audit for the Hall sweep. */
  def q_lane_adjacency(spark: SparkSession, sf: String): DataFrame =
    hallLanes(spark, sf)
      .select(col("src"), col("degree"), col("nbr_mask"),
        expr("degree * 1000000 div 5").as("coverage_e6"))
      .orderBy("src")

  /** Hall's condition, checked EXHAUSTIVELY: for every nonempty subset
    * of source regions (31 rows — the lattice is region-bounded, so
    * enumeration is scale-free) the neighborhood size |N(S)| via OR-ed
    * bitmasks and the deficiency max(0, |S|−|N(S)|). A positive row is
    * a constructive Hall-violation certificate. */
  def q_hall_deficiency(spark: SparkSession, sf: String): DataFrame = {
    val subsets = spark.range(1L, 32L).toDF("s_mask")
    subsets.join(broadcast(hallLanes(spark, sf)),
        expr("CAST(s_mask AS BIGINT) & CAST(POW(2, src) AS BIGINT) > 0"))
      .groupBy("s_mask")
      .agg(count(lit(1)).as("subset_size"),
        expr("bit_or(nbr_mask)").as("n_mask"))
      .select(col("s_mask"), col("subset_size"),
        expr("CAST(bit_count(n_mask) AS BIGINT)").as("neighborhood_size"),
        expr("GREATEST(CAST(0 AS BIGINT)," +
          " subset_size - CAST(bit_count(n_mask) AS BIGINT))").as("deficiency"))
      .orderBy("s_mask")
  }

  /** König/defect certificate: the worst Hall subset (max deficiency,
    * smallest mask on ties) and the defect-form matching bound
    * ν = m − max(deficiency) it implies for the 5×5 lane graph. */
  def q_matching_bound(spark: SparkSession, sf: String): DataFrame =
    q_hall_deficiency(spark, sf)
      .agg(min(struct((-col("deficiency")).as("nd"), col("s_mask"),
        col("subset_size"), col("neighborhood_size"))).as("w"),
        count(lit(1)).as("n_subsets"))
      .select(col("n_subsets"), col("w.s_mask").as("worst_mask"),
        col("w.subset_size").as("worst_size"),
        col("w.neighborhood_size").as("worst_neighborhood"),
        (-col("w.nd")).as("max_deficiency"),
        (lit(5L) + col("w.nd")).as("matching_bound"))

  // ---- §2.195 Bayesian A/B — Beta posteriors, decision, credible bounds ---

  /** One-row A/B sufficient statistics: cohort = user parity, converted
    * = at least one purchase event. Beta(1,1) prior. Exact integers. */
  private def bayesAbStats(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .select((col("user_id") % 2).as("cohort"), col("conv"))
      .groupBy().agg(
        expr("sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)").as("n_a"),
        expr("sum(CASE WHEN cohort = 0 THEN conv ELSE 0 END)").as("c_a"),
        expr("sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)").as("n_b"),
        expr("sum(CASE WHEN cohort = 1 THEN conv ELSE 0 END)").as("c_b"))

  /** Posterior mean α/(α+β) of cohort `x` under Beta(1,1). */
  private def bAbMean(x: String) =
    s"((CAST(1 AS DOUBLE) + CAST(c_$x AS DOUBLE))" +
      s" / (CAST(2 AS DOUBLE) + CAST(n_$x AS DOUBLE)))"
  /** Posterior variance αβ/((α+β)²(α+β+1)). */
  private def bAbVar(x: String) = {
    val al = s"(CAST(1 AS DOUBLE) + CAST(c_$x AS DOUBLE))"
    val be = s"(CAST(1 AS DOUBLE) + CAST(n_$x AS DOUBLE) - CAST(c_$x AS DOUBLE))"
    val ab = s"(CAST(2 AS DOUBLE) + CAST(n_$x AS DOUBLE))"
    s"($al * $be / ($ab * $ab * ($ab + CAST(1 AS DOUBLE))))"
  }

  /** Beta posteriors per cohort under a uniform prior: trials,
    * conversions, α/β, posterior mean (e6) and variance (e12). */
  def q_bayes_ab_posterior(spark: SparkSession, sf: String): DataFrame = {
    val rows = Seq("a", "b").map { x =>
      struct(lit(x).as("cohort"), col(s"n_$x").as("n_users"),
        col(s"c_$x").as("n_conv"),
        (col(s"c_$x") + 1L).as("alpha"),
        (col(s"n_$x") - col(s"c_$x") + 1L).as("beta"),
        expr(s"CAST(ROUND(${bAbMean(x)} * 1000000) AS BIGINT)").as("mean_e6"),
        expr(s"CAST(ROUND(${bAbVar(x)} * 1000000000000) AS BIGINT)")
          .as("var_e12")) }
    bayesAbStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.cohort").as("cohort"), col("r.n_users").as("n_users"),
        col("r.n_conv").as("n_conv"), col("r.alpha").as("alpha"),
        col("r.beta").as("beta"), col("r.mean_e6").as("mean_e6"),
        col("r.var_e12").as("var_e12"))
      .orderBy("cohort")
  }

  /** The ship/hold decision: z = (μ_B − μ_A)/√(v_A + v_B) and
    * P(B > A) ≈ Φ(z) via the portable normal-CDF tree, plus the
    * posterior-mean uplift — the one-row summary a launch review reads. */
  def q_bayes_ab_decision(spark: SparkSession, sf: String): DataFrame =
    bayesAbStats(spark, sf)
      .withColumn("z", expr(s"(${bAbMean("b")} - ${bAbMean("a")})" +
        s" / SQRT(${bAbVar("a")} + ${bAbVar("b")})"))
      .select(col("n_a"), col("n_b"),
        expr("CAST(ROUND(z * 1000000) AS BIGINT) + 0").as("z_e6"),
        expr(s"CAST(ROUND(${normCdf("z")} * 1000000) AS BIGINT)")
          .as("p_b_beats_a_e6"),
        expr(s"CAST(ROUND((${bAbMean("b")} - ${bAbMean("a")}) * 1000000)" +
          " AS BIGINT) + 0").as("uplift_e6"))

  /** Normal-approximation 95% credible intervals per cohort
    * (μ ± 1.96σ, e6) with the interval width — the overlap picture
    * behind the decision number. */
  def q_bayes_credible_bounds(spark: SparkSession, sf: String): DataFrame = {
    val z95 = frac(196L, 100L)
    val rows = Seq("a", "b").map { x =>
      struct(lit(x).as("cohort"),
        expr(s"CAST(ROUND((${bAbMean(x)} - $z95 * SQRT(${bAbVar(x)}))" +
          " * 1000000) AS BIGINT)").as("lo_e6"),
        expr(s"CAST(ROUND((${bAbMean(x)} + $z95 * SQRT(${bAbVar(x)}))" +
          " * 1000000) AS BIGINT)").as("hi_e6"),
        expr(s"CAST(ROUND(CAST(2 AS DOUBLE) * $z95 * SQRT(${bAbVar(x)})" +
          " * 1000000) AS BIGINT)").as("width_e6")) }
    bayesAbStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.cohort").as("cohort"), col("r.lo_e6").as("lo_e6"),
        col("r.hi_e6").as("hi_e6"), col("r.width_e6").as("width_e6"))
      .orderBy("cohort")
  }

  // ---- §2.196 period detection — epoch folding / phase dispersion ---------

  private val pdmPeriods: Seq[Long] = // candidate periods, µs: 2h..48h
    Seq(2L, 3L, 4L, 6L, 8L, 12L, 16L, 24L, 36L, 48L).map(_ * 3600000000L)

  /** Phase-dispersion statistics: fold event times at each candidate
    * period into 8 phase bins held as NAMED columns (n_0..n_7, s_0..s_7
    * plus the global Σv²) so every float downstream is a fixed 8-term
    * written-order tree — no order-dependent reduction anywhere. One
    * aggregate per period, unioned. */
  private def pdmStats(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("ts_usl").as("t"), cents(col("value")).as("v"))
    pdmPeriods.map { p =>
      val binned = ev.select(expr(s"(t % ${p}L) * 8 div ${p}L").as("bin"), col("v"))
      val aggs = (0 to 7).flatMap { b => Seq(
        expr(s"sum(CASE WHEN bin = $b THEN 1 ELSE 0 END)").as(s"n_$b"),
        expr(s"sum(CASE WHEN bin = $b THEN v ELSE 0 END)").as(s"s_$b")) } ++ Seq(
        count(lit(1)).as("n_total"), sum(col("v")).as("s_total"),
        sum(col("v") * col("v")).as("s2_total"))
      binned.groupBy().agg(aggs.head, aggs.tail: _*)
        .select(lit(p).as("period_us") +:
          (0 to 7).flatMap(b => Seq(col(s"n_$b"), col(s"s_$b"))) :+
          col("n_total") :+ col("s_total") :+ col("s2_total"): _*)
    }.reduce(_ unionAll _)
  }

  /** Σ_b S_b²/n_b as one fixed written-order 8-term tree (empty bins
    * contribute 0). */
  private def pdmWithin: String = (0 to 7).map { b =>
    s"(CASE WHEN n_$b = 0 THEN CAST(0 AS DOUBLE)" +
      s" ELSE CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)" +
      s" / CAST(n_$b AS DOUBLE) END)" }.mkString("(", " + ", ")")

  /** Phase-dispersion minimisation (Stellingwerf): per candidate period
    * θ = SS_within/SS_total with SS_within = Σv² − Σ_b S_b²/n_b.
    * θ ≪ 1 flags a real periodicity at that fold; a flat profile stays
    * ≈ 1. Deterministic: the only float math is a fixed 8-term tree on
    * exact integer sufficient statistics. */
  def q_phase_dispersion(spark: SparkSession, sf: String): DataFrame =
    pdmStats(spark, sf)
      .select(col("period_us"), lit(8L).as("n_bins"), col("n_total"),
        expr(s"CAST(ROUND((CAST(s2_total AS DOUBLE) - $pdmWithin)" +
          " / (CAST(s2_total AS DOUBLE) - CAST(s_total AS DOUBLE)" +
          " * CAST(s_total AS DOUBLE) / CAST(n_total AS DOUBLE))" +
          " * 1000000) AS BIGINT)").as("theta_e6"))
      .orderBy("period_us")

  /** The detected period: lexicographic (θ, period) minimum over the
    * candidate grid, with its dispersion ratio — one struct-min. */
  def q_best_period(spark: SparkSession, sf: String): DataFrame =
    q_phase_dispersion(spark, sf)
      .agg(min(struct(col("theta_e6"), col("period_us"))).as("b"),
        count(lit(1)).as("n_candidates"))
      .select(col("n_candidates"), col("b.period_us").as("best_period_us"),
        col("b.theta_e6").as("theta_e6"))

  /** Phase profile at the 24h fold: per phase bin the count, mean cents
    * and share e6 — the folded light-curve a human reads to confirm the
    * detected cycle. */
  def q_phase_profile(spark: SparkSession, sf: String): DataFrame = {
    val p = 24L * 3600000000L
    val ev = Tables.eventsWithTs(spark, sf)
      .select(expr(s"(ts_usl % ${p}L) * 8 div ${p}L").as("bin"),
        cents(col("value")).as("v"))
    val tot = ev.agg(count(lit(1)).as("n_all"))
    ev.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), expr("s div n").as("mean_cents"),
        expr("n * 1000000 div n_all").as("share_e6"))
      .orderBy("bin")
  }

  // ---- §2.197 random-walk path statistics — ballot, range, last zero ------

  /** Per-user ±1 walk: +1 on purchase, −1 on error (other events keep
    * the walk flat), stepped in (ts, id) order with a keyed cumulative
    * sum — the sample-path statistics classical fluctuation theory
    * (ballot problem, arcsine laws) describes. */
  private def userWalk(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("u").orderBy(col("t").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsWithTs(spark, sf)
      .select(col("user_id").as("u"), col("ts_usl").as("t"),
        col("event_id").as("id"),
        when(col("event_type") === "purchase", 1L)
          .when(col("event_type") === "error", -1L).otherwise(0L).as("step"))
      .withColumn("pos", sum(col("step")).over(w))
      .withColumn("j", count(lit(1)).over(w))
  }

  /** Ballot-problem audit: users whose purchase−error lead never goes
    * negative (the candidate "stays ahead"), the fleet share e6, and the
    * deepest deficit observed — one keyed walk pass + one user agg. */
  def q_walk_ballot(spark: SparkSession, sf: String): DataFrame =
    userWalk(spark, sf)
      .groupBy(col("u"))
      .agg(min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"),
        count(lit(1)).as("n_steps"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("min_pos") >= 0L, 1L).otherwise(0L)).as("never_behind"),
        min(col("min_pos")).as("deepest_deficit"),
        max(col("max_pos")).as("highest_lead"))
      .select(col("n_users"), col("never_behind"),
        expr("never_behind * 1000000 div n_users").as("never_behind_e6"),
        col("deepest_deficit"), col("highest_lead"))

  /** Walk range (max − min position) distribution: histogram of per-user
    * ranges with exact counts — the spread statistic diffusion scaling
    * (≈√n) predicts. */
  def q_walk_range(spark: SparkSession, sf: String): DataFrame =
    userWalk(spark, sf)
      .groupBy(col("u"))
      .agg((max(col("pos")) - min(col("pos"))).as("range"),
        count(lit(1)).as("n_steps"))
      .groupBy(col("range"))
      .agg(count(lit(1)).as("n_users"),
        min(col("n_steps")).as("min_steps"), max(col("n_steps")).as("max_steps"))
      .orderBy("range")

  /** Arcsine-law probe: the position of each walk's LAST zero crossing
    * as a share of its length (e6), bucketed into deciles — Lévy's
    * arcsine law says the mass piles up at the ends, not the middle. */
  def q_walk_last_zero(spark: SparkSession, sf: String): DataFrame =
    userWalk(spark, sf)
      .groupBy(col("u"))
      .agg(max(when(col("pos") === 0L, col("j")).otherwise(0L)).as("last_zero"),
        count(lit(1)).as("n_steps"))
      .select(expr("last_zero * 10 div (n_steps + 1)").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_users"))
      .orderBy("decile")

  // ---- §2.198 formal concept analysis — closures over shipping relation --

  /** The formal context: objects = supplier nations, attributes =
    * destination regions, incidence = "some lineitem ships from this
    * nation to that region". One star join, then each object carries its
    * attribute BITMASK, so closure arithmetic downstream is pure integer
    * ops on a nation-bounded table. */
  private def fcaObjects(spark: SparkSession, sf: String): DataFrame = {
    val custRegion = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(Tables.nation(spark, sf)
        .select(col("n_nationkey").as("cn"), col("n_regionkey").as("dst"))),
        col("c_nationkey") === col("cn"))
      .select(col("c_custkey"), col("dst"))
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custRegion, col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sf).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").cast("long").as("obj"),
        col("dst").cast("long").as("dst"))
      .distinct()
      .groupBy("obj")
      .agg(expr("bit_or(CAST(POW(2, dst) AS BIGINT))").as("attr_mask"))
  }

  /** Galois closure sweep over ALL 32 attribute subsets: extent size
    * (objects with every attribute in B) and the closure intent
    * (bit-AND of their masks; full set for an empty extent). A subset is
    * closed iff closure == B; the lattice is attribute-bounded, so the
    * sweep is exhaustive at any corpus size. */
  def q_fca_closure_sweep(spark: SparkSession, sf: String): DataFrame = {
    val objs = Mat.once(fcaObjects(spark, sf))
    spark.range(0L, 32L).toDF("b_mask")
      .join(broadcast(objs), expr("(attr_mask & b_mask) = b_mask"), "left")
      .groupBy("b_mask")
      .agg(count(col("obj")).as("extent_size"),
        coalesce(expr("bit_and(attr_mask)"), lit(31L)).as("closure_mask"))
      .select(col("b_mask"), col("extent_size"), col("closure_mask"),
        (col("closure_mask") === col("b_mask")).cast("long").as("is_closed"))
      .orderBy("b_mask")
  }

  /** Concept-lattice summary: distinct intents reachable from the sweep
    * (= the concept count), how many subsets are already closed, and the
    * top/bottom extents — the shape of the trade concept lattice. */
  def q_fca_concept_count(spark: SparkSession, sf: String): DataFrame = {
    val sweep = Mat.once(q_fca_closure_sweep(spark, sf))
    sweep.agg(count(lit(1)).as("n_subsets"),
      countDistinct(col("closure_mask")).as("n_concepts"),
      sum(col("is_closed")).as("n_closed"),
      max(when(col("b_mask") === 0L, col("extent_size"))).as("top_extent"),
      max(when(col("b_mask") === 31L, col("extent_size"))).as("bottom_extent"))
  }

  /** Attribute implications from single premises: for each destination
    * region a, the closure of {a} minus a — "shipping to a implies
    * shipping to X" — with the premise support. The implication basis a
    * category manager actually reads. */
  def q_fca_implications(spark: SparkSession, sf: String): DataFrame =
    q_fca_closure_sweep(spark, sf)
      .filter(col("b_mask").isin(1L, 2L, 4L, 8L, 16L))
      .select(
        expr("CASE b_mask WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 4 THEN 2" +
          " WHEN 8 THEN 3 ELSE 4 END").cast("long").as("premise_region"),
        col("extent_size").as("support"),
        expr("closure_mask & ~b_mask").as("implied_mask"),
        (expr("closure_mask & ~b_mask") =!= 0L).cast("long").as("has_implication"))
      .orderBy("premise_region")

  // ---- §2.199 Jackson network — traffic equations, utilization ------------

  private val jkTypes = Seq("click" -> "c", "error" -> "e",
    "purchase" -> "p", "signup" -> "s", "view" -> "v")

  /** One-row open-network statistics: stations = the 5 event types.
    * Per ordered pair (j,i) the user-consecutive transition count c_ji;
    * per station the totals n_j, exits x_j (last event of a user) and
    * external arrivals f_j (first event of a user); plus the global time
    * span. Routing p_ji = c_ji/n_j then satisfies Σᵢ p_ji < 1 exactly
    * (each visit either routes or exits), so the traffic equations have
    * a unique solution the fixed-point iteration converges to
    * geometrically. */
  private def jacksonStats(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("u").orderBy(col("t").asc, col("id").asc)
    val seq = Tables.eventsWithTs(spark, sf)
      .select(col("user_id").as("u"), col("ts_usl").as("t"),
        col("event_id").as("id"), col("event_type").as("et"))
      .withColumn("nxt", lead(col("et"), 1).over(w))
      .withColumn("prv", lag(col("et"), 1).over(w))
    val aggs =
      (for ((j, a) <- jkTypes; (i, b) <- jkTypes) yield
        expr(s"sum(CASE WHEN et = '$j' AND nxt = '$i' THEN 1 ELSE 0 END)")
          .as(s"c_$a$b")) ++
      jkTypes.map { case (j, a) =>
        expr(s"sum(CASE WHEN et = '$j' THEN 1 ELSE 0 END)").as(s"n_$a") } ++
      jkTypes.map { case (j, a) =>
        expr(s"sum(CASE WHEN et = '$j' AND nxt IS NULL THEN 1 ELSE 0 END)")
          .as(s"x_$a") } ++
      jkTypes.map { case (j, a) =>
        expr(s"sum(CASE WHEN et = '$j' AND prv IS NULL THEN 1 ELSE 0 END)")
          .as(s"f_$a") } ++
      Seq(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
    seq.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  /** Stats row + routing probabilities p_ji, external rates g_j (per
    * hour), and ten fixed-point sweeps of the traffic equations
    * λ⁽ᵏ⁺¹⁾ᵢ = γᵢ + Σⱼ λ⁽ᵏ⁾ⱼ p_ji materialised as columns l10_* — every
    * level references the PREVIOUS level's columns, so the expression
    * trees stay linear in the iteration count. */
  private def jacksonSolved(spark: SparkSession, sf: String): DataFrame = {
    var df = jacksonStats(spark, sf)
    for ((_, a) <- jkTypes; (_, b) <- jkTypes)
      df = df.withColumn(s"p_$a$b",
        expr(s"CAST(c_$a$b AS DOUBLE) / CAST(n_$a AS DOUBLE)"))
    for ((_, a) <- jkTypes)
      df = df.withColumn(s"g_$a",
        expr(s"CAST(f_$a AS DOUBLE) * CAST(3600000000 AS DOUBLE)" +
          s" / CAST(tmax - tmin AS DOUBLE)"))
    for ((_, a) <- jkTypes) df = df.withColumn(s"l0_$a", col(s"g_$a"))
    for (k <- 1 to 10; (_, i) <- jkTypes) {
      val inflow = jkTypes.map { case (_, j) => s"l${k - 1}_$j * p_$j$i" }
        .mkString(" + ")
      df = df.withColumn(s"l${k}_$i", expr(s"g_$i + $inflow"))
    }
    df
  }

  /** Solved per-station arrival rates: external γ, network λ (both per
    * hour, e6) and the visit ratio λ/γ — how much internal routing
    * amplifies each station's load. */
  def q_jackson_arrivals(spark: SparkSession, sf: String): DataFrame = {
    val rows = jkTypes.map { case (name, a) =>
      struct(lit(name).as("station"), col(s"n_$a").as("n_events"),
        expr(s"CAST(ROUND(g_$a * 1000000) AS BIGINT)").as("gamma_hr_e6"),
        expr(s"CAST(ROUND(l10_$a * 1000000) AS BIGINT)").as("lambda_hr_e6"),
        expr(s"CASE WHEN f_$a = 0 THEN CAST(0 AS BIGINT)" +
          s" ELSE CAST(ROUND(l10_$a / g_$a * 1000000) AS BIGINT) END")
          .as("visit_ratio_e6")) }
    jacksonSolved(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.station").as("station"), col("r.n_events").as("n_events"),
        col("r.gamma_hr_e6").as("gamma_hr_e6"),
        col("r.lambda_hr_e6").as("lambda_hr_e6"),
        col("r.visit_ratio_e6").as("visit_ratio_e6"))
      .orderBy("station")
  }

  private def jkMu: String =
    jkTypes.map { case (_, a) => s"l10_$a" }
      .mkString("(CAST(2 AS DOUBLE) * GREATEST(", ", ", "))")

  /** M/M/1 performance per station with capacity provisioned at 2× the
    * peak solved throughput (so every ρ ≤ 1/2 by construction): ρ,
    * wait W = 1/(μ−λ) in minutes, queue length L = λW. */
  def q_jackson_utilization(spark: SparkSession, sf: String): DataFrame = {
    val rows = jkTypes.map { case (name, a) =>
      struct(lit(name).as("station"),
        expr(s"CAST(ROUND(l10_$a / $jkMu * 1000000) AS BIGINT)").as("rho_e6"),
        expr(s"CAST(ROUND(CAST(60 AS DOUBLE) / ($jkMu - l10_$a) * 1000000)" +
          " AS BIGINT)").as("wait_min_e6"),
        expr(s"CAST(ROUND(l10_$a / ($jkMu - l10_$a) * 1000000) AS BIGINT)")
          .as("queue_len_e6")) }
    jacksonSolved(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.station").as("station"), col("r.rho_e6").as("rho_e6"),
        col("r.wait_min_e6").as("wait_min_e6"),
        col("r.queue_len_e6").as("queue_len_e6"))
      .orderBy("station")
  }

  /** Network rollup: the bottleneck station (max ρ, i.e. max λ under a
    * common μ), total queue length ΣL, total external rate Σγ, and the
    * network response time ΣL/Σγ (Little) in minutes — the capacity
    * headline. */
  def q_jackson_bottleneck(spark: SparkSession, sf: String): DataFrame = {
    val lSum = jkTypes.map { case (_, a) => s"(l10_$a / ($jkMu - l10_$a))" }
      .mkString("(", " + ", ")")
    val gSum = jkTypes.map { case (_, a) => s"g_$a" }.mkString("(", " + ", ")")
    val rows = jkTypes.map { case (name, a) =>
      struct(expr(s"CAST(ROUND(l10_$a * 1000000) AS BIGINT)").as("nl"),
        lit(name).as("station")) }
    jacksonSolved(spark, sf)
      .select(explode(array(rows: _*)).as("r"),
        expr(s"CAST(ROUND($lSum * 1000000) AS BIGINT)").as("total_queue_e6"),
        expr(s"CAST(ROUND($gSum * 1000000) AS BIGINT)").as("gamma_total_e6"),
        expr(s"CAST(ROUND($lSum / $gSum * CAST(60 AS DOUBLE) * 1000000)" +
          " AS BIGINT)").as("network_resp_min_e6"))
      .groupBy()
      .agg(max(col("r")).as("b"), max(col("total_queue_e6")).as("total_queue_e6"),
        max(col("gamma_total_e6")).as("gamma_total_e6"),
        max(col("network_resp_min_e6")).as("network_resp_min_e6"))
      .select(col("b.station").as("bottleneck"),
        col("b.nl").as("bottleneck_lambda_e6"), col("total_queue_e6"),
        col("gamma_total_e6"), col("network_resp_min_e6"))
  }

  // ---- §2.200 market microstructure — Roll, Kyle, Amihud ------------------

  /** Tick table: per (event_type, day) price series in cents with the
    * keyed-lag price change, its one-step lead, and a parity tick-rule
    * signed volume. Windows are keyed by (type, day) — parallelism grows
    * with the calendar, never a 5-partition hotspot. Day-level
    * estimates are rounded to integers and then averaged EXACTLY across
    * days, so no cross-day float reduction exists anywhere. */
  private def tickDays(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("et", "day").orderBy(col("t").asc, col("id").asc)
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type").as("et"), col("ts_usl").as("t"),
        col("event_id").as("id"), cents(col("value")).as("v"),
        expr("ts_usl div 86400000000").as("day"),
        expr("CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END").cast("long")
          .as("dir"))
      .withColumn("dp", col("v") - lag(col("v"), 1).over(w))
      .withColumn("dp_next", lead(col("dp"), 1).over(w))
      .withColumn("sv", col("dir") * col("v"))
  }

  /** Roll's implied effective spread 2√(−cov(Δp_t, Δp_{t+1})) per event
    * type: serial covariance from exact integer sums per day, spread
    * rounded to cents per day (0 where the covariance is nonnegative —
    * Roll undefined), then an exact integer mean across days. */
  def q_roll_spread(spark: SparkSession, sf: String): DataFrame =
    tickDays(spark, sf)
      .filter(col("dp").isNotNull && col("dp_next").isNotNull)
      .groupBy("et", "day")
      .agg(count(lit(1)).as("n"), sum(col("dp")).as("sx"),
        sum(col("dp_next")).as("sy"), sum(col("dp") * col("dp_next")).as("sxy"))
      .filter(col("n") >= 2L)
      .select(col("et"), col("day"),
        expr("CAST(ROUND(CASE WHEN CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)" +
          " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < CAST(0 AS DOUBLE)" +
          " THEN CAST(2 AS DOUBLE) * SQRT(CAST(0 AS DOUBLE)" +
          " - (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)" +
          " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))" +
          " ELSE CAST(0 AS DOUBLE) END) AS BIGINT)").as("spread_cents_day"))
      .groupBy("et")
      .agg(count(lit(1)).as("n_days"),
        expr("sum(spread_cents_day) div count(1)").as("roll_spread_cents"),
        sum(when(col("spread_cents_day") > 0L, 1L).otherwise(0L))
          .as("days_defined"))
      .orderBy("et")

  /** Kyle's lambda (price impact): per day the OLS slope of Δp on the
    * parity-signed volume from exact sums, e6 per day, then the exact
    * integer mean across days — how many cents the price moves per
    * signed cent of flow. */
  def q_kyle_lambda(spark: SparkSession, sf: String): DataFrame =
    tickDays(spark, sf)
      .filter(col("dp").isNotNull)
      .groupBy("et", "day")
      .agg(count(lit(1)).as("n"), sum(col("sv")).as("sx"),
        sum(col("dp")).as("sy"), sum(col("sv") * col("dp")).as("sxy"),
        sum(col("sv") * col("sv")).as("sxx"))
      .filter(col("n") >= 2L)
      .select(col("et"), col("day"),
        expr("CAST(ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
          " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
          " * 1000000) AS BIGINT)").as("lambda_day_e6"))
      .groupBy("et")
      .agg(count(lit(1)).as("n_days"),
        // day means can be negative: Spark `div` truncates while DuckDB
        // `//` floors, so the cross-day mean goes through ROUND instead
        expr("CAST(ROUND(CAST(sum(lambda_day_e6) AS DOUBLE)" +
          " / CAST(count(1) AS DOUBLE)) AS BIGINT) + 0").as("kyle_lambda_e6"))
      .orderBy("et")

  /** Amihud illiquidity: per day Σ|Δp| / Σv (e9), then the exact
    * integer mean across days per type — price move per cent of volume,
    * the workhorse illiquidity proxy. */
  def q_amihud_illiquidity(spark: SparkSession, sf: String): DataFrame =
    tickDays(spark, sf)
      .filter(col("dp").isNotNull)
      .groupBy("et", "day")
      .agg(sum(abs(col("dp"))).as("sad"), sum(col("v")).as("svol"),
        count(lit(1)).as("n"))
      .select(col("et"), col("day"),
        expr("CAST(ROUND(CAST(sad AS DOUBLE) / CAST(svol AS DOUBLE)" +
          " * 1000000000) AS BIGINT)").as("illiq_day_e9"))
      .groupBy("et")
      .agg(count(lit(1)).as("n_days"),
        expr("sum(illiq_day_e9) div count(1)").as("amihud_e9"),
        max(col("illiq_day_e9")).as("worst_day_e9"))
      .orderBy("et")

  // ---- §2.201 differential privacy — composition accounting ---------------

  /** One-row DP ledger: five mechanisms (one per event type), each with
    * a data-derived per-release budget ε_i = (100 + n_i mod 400)/1000 ∈
    * [0.1, 0.5] — exact e3 integers, so every bound below is a fixed
    * 5-term tree. */
  private def dpStats(spark: SparkSession, sf: String): DataFrame = {
    val aggs = jkTypes.map { case (j, a) =>
      expr(s"sum(CASE WHEN event_type = '$j' THEN 1 ELSE 0 END)").as(s"n_$a") }
    Tables.eventsWithTs(spark, sf).groupBy().agg(aggs.head, aggs.tail: _*)
      .select(jkTypes.map { case (_, a) =>
        expr(s"100 + n_$a % 400").as(s"e3_$a") } ++
        jkTypes.map { case (_, a) => col(s"n_$a") }: _*)
  }

  private def dpEps(a: String) =
    s"(CAST(e3_$a AS DOUBLE) / CAST(1000 AS DOUBLE))"
  private def dpSumEps = jkTypes.map { case (_, a) => dpEps(a) }
    .mkString("(", " + ", ")")
  private def dpSumEps2 = jkTypes.map { case (_, a) =>
    s"${dpEps(a)} * ${dpEps(a)}" }.mkString("(", " + ", ")")
  private def dpSumEpsExp = jkTypes.map { case (_, a) =>
    s"${dpEps(a)} * (EXP(${dpEps(a)}) - CAST(1 AS DOUBLE))" }
    .mkString("(", " + ", ")")
  /** Heterogeneous advanced composition (Dwork-Rothblum-Vadhan):
    * ε' = √(2 ln(1/δ) Σε²) + Σ ε(e^ε − 1). `lnInvDelta` is the ln(1/δ)
    * tree. */
  private def dpAdv(lnInvDelta: String) =
    s"(SQRT(CAST(2 AS DOUBLE) * $lnInvDelta * $dpSumEps2) + $dpSumEpsExp)"

  /** The composition headline: k mechanisms, basic Σε (exact e3), the
    * advanced-composition bound at δ = 1e−5 (e6), the accountant's
    * effective budget min(basic, advanced), and the signed gap — at
    * small k the √k term usually makes advanced WORSE, which is exactly
    * what the ledger should show. */
  def q_dp_composition(spark: SparkSession, sf: String): DataFrame = {
    val ln5 = "LN(CAST(100000 AS DOUBLE))"
    dpStats(spark, sf)
      .select(lit(5L).as("k_mechanisms"),
        expr(jkTypes.map { case (_, a) => s"e3_$a" }
          .mkString("(", " + ", ")")).as("basic_eps_e3"),
        expr(s"CAST(ROUND(${dpAdv(ln5)} * 1000000) AS BIGINT)")
          .as("advanced_eps_e6"),
        expr(s"CAST(ROUND(LEAST($dpSumEps, ${dpAdv(ln5)}) * 1000000)" +
          " AS BIGINT)").as("effective_eps_e6"),
        expr(s"CAST(ROUND((${dpAdv(ln5)} - $dpSumEps) * 1000000)" +
          " AS BIGINT) + 0").as("advanced_minus_basic_e6"))
  }

  /** Per-mechanism budget split: release count, ε (e3), and its share
    * of the basic total (e6) — the per-surface privacy ledger. */
  def q_dp_budget_split(spark: SparkSession, sf: String): DataFrame = {
    val tot = jkTypes.map { case (_, a) => s"e3_$a" }.mkString("(", " + ", ")")
    val rows = jkTypes.map { case (name, a) =>
      struct(lit(name).as("mechanism"), col(s"n_$a").as("n_releases"),
        col(s"e3_$a").as("eps_e3"),
        expr(s"e3_$a * 1000000 div $tot").as("share_e6")) }
    dpStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.mechanism").as("mechanism"),
        col("r.n_releases").as("n_releases"), col("r.eps_e3").as("eps_e3"),
        col("r.share_e6").as("share_e6"))
      .orderBy("mechanism")
  }

  /** ε(δ) trade-off curve: the advanced bound at δ = 1e−3/1e−5/1e−7 —
    * the failure-probability dial a privacy review turns. */
  def q_dp_delta_tradeoff(spark: SparkSession, sf: String): DataFrame = {
    val rows = Seq(3L -> "1000", 5L -> "100000", 7L -> "10000000").map {
      case (exp10, d) =>
        struct(lit(exp10).as("delta_exp10"),
          expr(s"CAST(ROUND(${dpAdv(s"LN(CAST($d AS DOUBLE))")} * 1000000)" +
            " AS BIGINT)").as("advanced_eps_e6")) }
    dpStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.delta_exp10").as("delta_exp10"),
        col("r.advanced_eps_e6").as("advanced_eps_e6"))
      .orderBy("delta_exp10")
  }

  // ---- §2.202 Leontief input-output — exact Cramer solve ------------------

  /** All 120 permutations of 0..4 in lexicographic order with parity —
    * the FIXED term order both engines evaluate the Leibniz determinant
    * in. */
  private def leontiefPerms: Seq[(Seq[Int], Int)] =
    (0 to 4).permutations.toSeq.map { p =>
      val inv = (for (i <- p.indices; j <- i + 1 until p.length
        if p(i) > p(j)) yield 1).sum
      (p, if (inv % 2 == 0) 1 else -1)
    }

  /** Leibniz determinant over entry-name function `m(row, col)`: a fixed
    * 120-term tree, identical text cross-engine. */
  private def leibnizDet(m: (Int, Int) => String): String =
    leontiefPerms.map { case (p, sgn) =>
      val prod = (0 to 4).map(i => m(i, p(i))).mkString(" * ")
      if (sgn > 0) s"($prod)" else s"(CAST(0 AS DOUBLE) - $prod)"
    }.mkString("(", " + ", ")")

  /** One-row inter-regional accounts: z_ij = discounted lineitem cents
    * from supplier region i to customer region j (intermediate flows),
    * f_j = undiscounted cents INTO region j (primary inputs), so gross
    * activity x_j = Σ_i z_ij + f_j is INPUT-side defined and every
    * technical-coefficient column sum (x_j − f_j)/x_j is < 1 whenever
    * any undiscounted line lands in j — Hawkins-Simon holds by
    * construction. The implied net final demand d_i = x_i − Σ_j z_ij
    * (row sums subtracted, exact integers) then satisfies x = Ax + d
    * identically, making the Cramer solve a pure float-precision
    * audit. */
  private def leontiefStats(spark: SparkSession, sf: String): DataFrame = {
    val fl = {
      val custRegion = Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(spark, sf)
          .select(col("n_nationkey").as("cn"), col("n_regionkey").as("dst"))),
          col("c_nationkey") === col("cn"))
        .select(col("c_custkey"), col("dst"))
      val suppRegion = Tables.supplier(spark, sf)
        .select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(Tables.nation(spark, sf)
          .select(col("n_nationkey").as("sn"), col("n_regionkey").as("src"))),
          col("s_nationkey") === col("sn"))
        .select(col("s_suppkey"), col("src"))
      Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_suppkey"),
          cents(col("l_extendedprice")).as("v"), pct(col("l_discount")).as("disc"))
        .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custRegion, col("o_custkey") === col("c_custkey"))
        .join(suppRegion, col("l_suppkey") === col("s_suppkey"))
    }
    val aggs =
      (for (i <- 0 to 4; j <- 0 to 4) yield
        expr(s"sum(CASE WHEN src = $i AND dst = $j AND disc > 0" +
          s" THEN v ELSE 0 END)").as(s"z_${i}_$j")) ++
      (0 to 4).map(j =>
        expr(s"sum(CASE WHEN dst = $j AND disc = 0 THEN v ELSE 0 END)")
          .as(s"f_$j"))
    var df = fl.groupBy().agg(aggs.head, aggs.tail: _*)
    for (j <- 0 to 4)
      df = df.withColumn(s"x_$j",
        expr((0 to 4).map(i => s"z_${i}_$j").mkString("(", " + ", ")") +
          s" + f_$j"))
    for (i <- 0 to 4)
      df = df.withColumn(s"d_$i",
        expr(s"x_$i - " +
          (0 to 4).map(j => s"z_${i}_$j").mkString("(", " + ", ")")))
    // technical coefficients and the Leontief matrix M = I − A
    for (i <- 0 to 4; j <- 0 to 4)
      df = df.withColumn(s"m_${i}_$j",
        expr(s"CAST(${if (i == j) 1 else 0} AS DOUBLE)" +
          s" - CAST(z_${i}_$j AS DOUBLE) / CAST(x_$j AS DOUBLE)"))
    df
  }

  /** Technical coefficients a_ij = z_ij/x_j with per-column input shares
    * — the 25-cell structure table plus the Hawkins-Simon style column
    * sum (< 1 exactly: f_j > 0 whenever any undiscounted line exists). */
  def q_leontief_coefficients(spark: SparkSession, sf: String): DataFrame = {
    val rows = for (i <- 0 to 4; j <- 0 to 4) yield
      struct(lit(i.toLong).as("src"), lit(j.toLong).as("dst"),
        col(s"z_${i}_$j").as("z_cents"),
        expr(s"CAST(ROUND(CAST(z_${i}_$j AS DOUBLE) / CAST(x_$j AS DOUBLE)" +
          " * 1000000) AS BIGINT)").as("a_e6"),
        expr("CAST(ROUND(" + (0 to 4).map(k =>
          s"CAST(z_${k}_$j AS DOUBLE) / CAST(x_$j AS DOUBLE)")
          .mkString("(", " + ", ")") + " * 1000000) AS BIGINT)")
          .as("colsum_e6"))
    leontiefStats(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.src").as("src"), col("r.dst").as("dst"),
        col("r.z_cents").as("z_cents"), col("r.a_e6").as("a_e6"),
        col("r.colsum_e6").as("colsum_e6"))
      .orderBy("src", "dst")
  }

  /** The Cramer determinants of a 5×5 system over the one-row `stats`:
    * `det` of the matrix `cell(i, j)` and `det_s` of the same matrix with
    * column s replaced by `rhs(i)`, plus the `keep` columns, as one row.
    * Each determinant is computed on its own exploded row (row −1 the
    * matrix, row s its column-s replacement): six 120-term Leibniz
    * determinants in one projection generate code past the JVM's 64 KB
    * method limit, while every row here runs the same expression tree on
    * the same values. */
  private def cramerDets(stats: DataFrame, cell: (Int, Int) => Column,
      rhs: Int => Column, keep: Seq[String]): DataFrame = {
    val cells = for (i <- 0 to 4; j <- 0 to 4) yield
      when(col("k") === j.toLong, rhs(i)).otherwise(cell(i, j)).as(s"a_${i}_$j")
    val keepCols = keep.map(col)
    val dets = stats.withColumn("k", explode(sequence(lit(-1L), lit(4L))))
      .select((col("k") +: cells) ++ keepCols: _*)
      .select((col("k") +: keepCols) :+
        expr(leibnizDet((i, j) => s"a_${i}_$j")).as("det"): _*)
    val aggs = keep.map(c => max(col(c)).as(c)) ++ (-1 to 4).map { k =>
      max(when(col("k") === k.toLong, col("det"))).as(if (k < 0) "det" else s"det_$k") }
    dets.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  /** EXACT Leontief solve by Cramer's rule: x̂ = (I−A)⁻¹f via six
    * 120-term Leibniz determinants (fixed lexicographic term order, pure
    * +,*,/ — bit-identical cross-engine). Since the accounts satisfy
    * x = Ax + f identically, x̂ must reproduce the observed gross output
    * up to float: the audit gap (e6, relative) rounds to 0. */
  def q_leontief_solve(spark: SparkSession, sf: String): DataFrame = {
    val df = cramerDets(leontiefStats(spark, sf), (i, j) => col(s"m_${i}_$j"),
      i => col(s"d_$i").cast("double"), (0 to 4).flatMap(i => Seq(s"x_$i", s"d_$i")))
    val rows = (0 to 4).map { s =>
      struct(lit(s.toLong).as("sector"), col(s"d_$s").as("final_demand_cents"),
        col(s"x_$s").as("observed_output_cents"),
        expr(s"CAST(ROUND(det_$s / det) AS BIGINT)").as("solved_output_cents"),
        expr(s"CAST(ROUND(ABS(det_$s / det - CAST(x_$s AS DOUBLE))" +
          s" / CAST(x_$s AS DOUBLE) * 1000000) AS BIGINT)").as("rel_gap_e6")) }
    df.select(explode(array(rows: _*)).as("r"))
      .select(col("r.sector").as("sector"),
        col("r.final_demand_cents").as("final_demand_cents"),
        col("r.observed_output_cents").as("observed_output_cents"),
        col("r.solved_output_cents").as("solved_output_cents"),
        col("r.rel_gap_e6").as("rel_gap_e6"))
      .orderBy("sector")
  }

  /** Output multipliers: column sums of (I−A)⁻¹, obtained by solving
    * Mᵀy = 1 with the same Cramer machinery — how many cents of
    * economy-wide output one final-demand cent in each sector drives.
    * Every multiplier ≥ 1 by the power-series positivity. */
  def q_leontief_multipliers(spark: SparkSession, sf: String): DataFrame = {
    val df = cramerDets(leontiefStats(spark, sf), (i, j) => col(s"m_${j}_$i"),
      _ => lit(1.0), Nil)
    val rows = (0 to 4).map { s =>
      struct(lit(s.toLong).as("sector"),
        expr(s"CAST(ROUND(det_$s / det * 1000000) AS BIGINT)")
          .as("multiplier_e6")) }
    df.select(explode(array(rows: _*)).as("r"))
      .select(col("r.sector").as("sector"),
        col("r.multiplier_e6").as("multiplier_e6"))
      .orderBy("sector")
  }

  // ---- §2.203 kernel density — quantized KDE grid, bandwidth, modes -------

  /** Bounds-and-scale row for the value KDE: exact min/max/Σ/Σ² cents
    * and Silverman's bandwidth h = 1.06·σ·n^(−1/5) as a fixed tree —
    * resolved once and broadcast. */
  private def kdeBounds(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(cents(col("value")).as("v"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
      .withColumn("sigma", expr("SQRT((CAST(s2 AS DOUBLE)" +
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))" +
        " / CAST(n AS DOUBLE))"))
      .withColumn("h", expr("CAST(106 AS DOUBLE) / CAST(100 AS DOUBLE)" +
        " * sigma * POWER(CAST(n AS DOUBLE)," +
        " CAST(0 AS DOUBLE) - CAST(1 AS DOUBLE) / CAST(5 AS DOUBLE))"))

  /** Grid point k of 16 (double cents). */
  private def kdeG(k: Int): String =
    s"(CAST(vmin AS DOUBLE) + CAST($k AS DOUBLE)" +
      " * (CAST(vmax AS DOUBLE) - CAST(vmin AS DOUBLE)) / CAST(15 AS DOUBLE))"

  /** Epanechnikov contribution of row value v at grid point k under
    * bandwidth expression `h`, QUANTIZED per row to an e6 integer — the
    * corpus-wide reduction is then an exact BIGINT sum, so the estimate
    * is deterministic at any parallelism. */
  private def kdeContrib(k: Int, h: String): String = {
    val u = s"((CAST(v AS DOUBLE) - ${kdeG(k)}) / $h)"
    s"sum(CAST(ROUND((CASE WHEN ABS($u) < CAST(1 AS DOUBLE)" +
      s" THEN CAST(3 AS DOUBLE) / CAST(4 AS DOUBLE)" +
      s" * (CAST(1 AS DOUBLE) - $u * $u) ELSE CAST(0 AS DOUBLE) END)" +
      s" * 1000000) AS BIGINT))"
  }

  /** One-row KDE sufficient statistics at bandwidth multiplier
    * num/den × Silverman: the 16 quantized kernel sums as named columns
    * plus the bounds row. */
  private def kdeStats(spark: SparkSession, sf: String,
                       num: Int, den: Int): DataFrame = {
    val h = s"(CAST($num AS DOUBLE) / CAST($den AS DOUBLE) * h)"
    val aggs = (0 to 15).map(k => expr(kdeContrib(k, h)).as(s"c_$k")) ++ Seq(
      max(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"),
      max(col("n")).as("n"), max(col("h")).as("h0"))
    Tables.eventsWithTs(spark, sf)
      .select(cents(col("value")).as("v"))
      .crossJoin(broadcast(kdeBounds(spark, sf)))
      .groupBy().agg(aggs.head, aggs.tail: _*)
      .withColumn("hh", expr(s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE) * h0"))
  }

  /** Density estimate at grid point k: Σc/(1e6·n·h). */
  private def kdeD(k: Int): String =
    s"(CAST(c_$k AS DOUBLE) / CAST(1000000 AS DOUBLE)" +
      " / (CAST(n AS DOUBLE) * hh))"

  /** The 16-point Epanechnikov KDE of event value at Silverman's
    * bandwidth: grid position (cents), quantized kernel mass, and the
    * density (e12 per cent) — a full density readout in ONE corpus pass
    * with zero float reductions. */
  def q_kde_grid(spark: SparkSession, sf: String): DataFrame = {
    val rows = (0 to 15).map { k =>
      struct(lit(k.toLong).as("k"),
        expr(s"CAST(ROUND(${kdeG(k)}) AS BIGINT)").as("grid_cents"),
        col(s"c_$k").as("kernel_mass_e6"),
        expr(s"CAST(ROUND(${kdeD(k)} * 1000000000000) AS BIGINT)")
          .as("density_e12")) }
    kdeStats(spark, sf, 1, 1)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.k").as("k"), col("r.grid_cents").as("grid_cents"),
        col("r.kernel_mass_e6").as("kernel_mass_e6"),
        col("r.density_e12").as("density_e12"))
      .orderBy("k")
  }

  /** Bandwidth sweep at ½×, 1×, 2× Silverman: approximate integrated
    * mass (trapezoid over the grid) and the first-difference roughness
    * Σ(d_{k+1}−d_k)² — the bias-variance dial made visible. Fixed
    * 15/16-term trees per row. */
  def q_kde_bandwidth_sweep(spark: SparkSession, sf: String): DataFrame =
    Seq((1, 2), (1, 1), (2, 1)).map { case (num, den) =>
      val step = "((CAST(vmax AS DOUBLE) - CAST(vmin AS DOUBLE))" +
        " / CAST(15 AS DOUBLE))"
      val mass = (0 to 15).map { k =>
        val w = if (k == 0 || k == 15) "CAST(1 AS DOUBLE) / CAST(2 AS DOUBLE)"
          else "CAST(1 AS DOUBLE)"
        s"$w * ${kdeD(k)}" }.mkString("(", " + ", s") * $step")
      val rough = (0 to 14).map { k =>
        s"(${kdeD(k + 1)} - ${kdeD(k)}) * (${kdeD(k + 1)} - ${kdeD(k)})" }
        .mkString("(", " + ", ")")
      kdeStats(spark, sf, num, den)
        .select(
          expr(s"CAST(ROUND(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)" +
            " * 1000000) AS BIGINT)").as("h_mult_e6"),
          expr("CAST(ROUND(hh * 100) AS BIGINT)").as("h_cents_e2"),
          expr(s"CAST(ROUND($mass * 1000000) AS BIGINT)").as("mass_e6"),
          expr(s"CAST(ROUND($rough * 1e18) AS BIGINT)").as("roughness_e18"))
    }.reduce(_ unionAll _).orderBy("h_mult_e6")

  /** Mode hunt on the Silverman grid: interior local maxima count and
    * the argmax grid point — multimodality screening from the same
    * one-row statistics, pure fixed trees. */
  def q_kde_modes(spark: SparkSession, sf: String): DataFrame = {
    val nModes = (1 to 14).map { k =>
      s"(CASE WHEN c_$k > c_${k - 1} AND c_$k > c_${k + 1}" +
        " THEN 1 ELSE 0 END)" }.mkString("(", " + ", ")")
    val best = (0 to 15).map(k =>
      s"(CASE WHEN c_$k = ${(0 to 15).map(j => s"c_$j")
        .mkString("GREATEST(", ", ", ")")} THEN $k ELSE -1 END)")
      .mkString("GREATEST(", ", ", ")")
    kdeStats(spark, sf, 1, 1)
      .select(expr(s"CAST($nModes AS BIGINT)").as("n_interior_modes"),
        expr(s"CAST($best AS BIGINT)").as("argmax_k"),
        expr((0 to 15).map(j => s"c_$j").mkString("GREATEST(", ", ", ")"))
          .as("peak_mass_e6"))
  }

  // ---- §2.204 bipartite motifs — butterflies, wedges, caterpillars --------

  /** Distinct customer→supplier incidence (the bipartite trade graph).
    * Dedup first so every motif count is simple-graph semantics. */
  private def bipEdges(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey").as("s"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey").as("c")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("c"), col("s")).distinct()

  /** Supplier co-occurrence: pairs of suppliers sharing a customer with
    * the shared-customer count m — generated inside each customer's
    * sorted supplier array (one shuffle on customer, one on pair; pair
    * fan-out bounded by per-customer breadth², the apriori discipline,
    * never |V|²). */
  private def bipPairs(spark: SparkSession, sf: String): DataFrame =
    bipPairsOf(bipEdges(spark, sf))

  /** [[bipPairs]] from an already-built (c, s) edge frame — so a caller
    * that ALSO aggregates the edges (q_butterfly_count) can checkpoint
    * them once and feed both consumers instead of re-running the
    * lineitem⋈orders dedup for the pair leg. */
  private def bipPairsOf(edges: DataFrame): DataFrame =
    Baskets.pairs(
      edges
        .groupBy(col("c"))
        .agg(array_sort(collect_set(col("s"))).as("items"))
        .select(Guards.boundedBasket(col("items"), Guards.PairBreadthCap,
          "bipPairs").as("items")),
      "s1", "s2")
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("m"))

  /** Bipartite motif census: edges, customer-side wedges ΣC(deg,2),
    * butterflies (4-cycles) ΣC(m,2) over supplier pairs, caterpillars
    * (3-paths) Σ_edges (deg_c−1)(deg_s−1), and the bipartite clustering
    * coefficient 4B/caterpillars (e6) — all exact integer sums. */
  def q_butterfly_count(spark: SparkSession, sf: String): DataFrame = {
    val edges = Mat.once(bipEdges(spark, sf))
    val degC = edges.groupBy("c").agg(count(lit(1)).as("dc"))
    val degS = edges.groupBy("s").agg(count(lit(1)).as("ds"))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    val wed = degC.agg(sum(expr("dc * (dc - 1) div 2")).as("wedges"))
    val bf = bipPairsOf(edges)
      .agg(sum(expr("m * (m - 1) div 2")).as("butterflies"),
        count(lit(1)).as("n_pairs"))
    val cat = edges.join(degC, "c").join(degS, "s")
      .agg(sum(expr("(dc - 1) * (ds - 1)")).as("caterpillars"))
    nE.crossJoin(broadcast(wed)).crossJoin(broadcast(bf))
      .crossJoin(broadcast(cat))
      .select(col("n_edges"), col("wedges"), col("n_pairs"),
        col("butterflies"), col("caterpillars"),
        expr("CAST(ROUND(CAST(4 AS DOUBLE) * CAST(butterflies AS DOUBLE)" +
          " / CAST(caterpillars AS DOUBLE) * 1000000) AS BIGINT)")
          .as("bipartite_cc_e6"))
  }

  /** Per-supplier butterfly participation: each pair (s1,s2,m) gives
    * both endpoints C(m,2) butterflies; the per-supplier ledger ranks
    * who sits in the densest co-supply structure. */
  def q_butterfly_suppliers(spark: SparkSession, sf: String): DataFrame =
    bipPairs(spark, sf)
      .select(explode(array(
        struct(col("s1").as("s"), col("m")),
        struct(col("s2").as("s"), col("m")))).as("e"))
      .groupBy(col("e.s").as("s_suppkey"))
      .agg(count(lit(1)).as("n_copairs"),
        sum(expr("e.m * (e.m - 1) div 2")).as("butterflies"),
        max(col("e.m")).as("max_shared"))
      .orderBy("s_suppkey")

  /** Customer-degree wedge distribution: per distinct-supplier degree
    * the customer count and wedge mass — where the 4-cycle raw material
    * concentrates. */
  def q_wedge_distribution(spark: SparkSession, sf: String): DataFrame =
    bipEdges(spark, sf)
      .groupBy("c").agg(count(lit(1)).as("dc"))
      .groupBy(col("dc").as("degree"))
      .agg(count(lit(1)).as("n_customers"),
        sum(expr("dc * (dc - 1) div 2")).as("wedges"))
      .orderBy("degree")

  // ---- §2.205 real-time scheduling — EDF, DBF, RM bounds ------------------

  /** One-row task-set model: each event type is a periodic task with
    * period T = observed span/(n−1) µs and WCET C = mean value cents
    * read as µs of work — exact integer division both. Implicit
    * deadlines D = T. */
  private def rtTasks(spark: SparkSession, sf: String): DataFrame = {
    val aggs = jkTypes.flatMap { case (j, a) => Seq(
      expr(s"sum(CASE WHEN event_type = '$j' THEN 1 ELSE 0 END)").as(s"n_$a"),
      expr(s"min(CASE WHEN event_type = '$j' THEN ts_usl END)").as(s"lo_$a"),
      expr(s"max(CASE WHEN event_type = '$j' THEN ts_usl END)").as(s"hi_$a"),
      expr(s"sum(CASE WHEN event_type = '$j'" +
        " THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)").as(s"s_$a")) }
    var df = Tables.eventsWithTs(spark, sf).groupBy().agg(aggs.head, aggs.tail: _*)
    for ((_, a) <- jkTypes) {
      df = df.withColumn(s"t_$a", expr(s"(hi_$a - lo_$a) div (n_$a - 1)"))
      df = df.withColumn(s"c_$a", expr(s"s_$a div n_$a"))
    }
    df
  }

  private def rtU(a: String) =
    s"(CAST(c_$a AS DOUBLE) / CAST(t_$a AS DOUBLE))"
  private def rtUSum = jkTypes.map { case (_, a) => rtU(a) }
    .mkString("(", " + ", ")")

  /** EDF schedulability table: per task the period, WCET, and
    * utilization share (e6), plus the task-set total and the EDF
    * feasibility flag U ≤ 1 (exact for implicit deadlines). */
  def q_edf_utilization(spark: SparkSession, sf: String): DataFrame = {
    val rows = jkTypes.map { case (name, a) =>
      struct(lit(name).as("task"), col(s"n_$a").as("n_jobs"),
        col(s"t_$a").as("period_us"), col(s"c_$a").as("wcet_us"),
        expr(s"CAST(ROUND(${rtU(a)} * 1000000) AS BIGINT)").as("u_e6"),
        expr(s"CAST(ROUND($rtUSum * 1000000) AS BIGINT)").as("u_total_e6"),
        expr(s"CASE WHEN $rtUSum <= CAST(1 AS DOUBLE) THEN 1 ELSE 0 END")
          .cast("long").as("edf_feasible")) }
    rtTasks(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.task").as("task"), col("r.n_jobs").as("n_jobs"),
        col("r.period_us").as("period_us"), col("r.wcet_us").as("wcet_us"),
        col("r.u_e6").as("u_e6"), col("r.u_total_e6").as("u_total_e6"),
        col("r.edf_feasible").as("edf_feasible"))
      .orderBy("task")
  }

  /** Demand-bound audit: DBF(t) = Σᵢ (⌊(t−Tᵢ)/Tᵢ⌋+1)·Cᵢ at horizons
    * t = k × max period, k = 1..8 — pure integer floor arithmetic, the
    * processor-demand criterion checked point by point. */
  def q_demand_bound_audit(spark: SparkSession, sf: String): DataFrame = {
    val tmax = jkTypes.map { case (_, a) => s"t_$a" }
      .mkString("GREATEST(", ", ", ")")
    val rows = (1 to 8).map { k =>
      val t = s"(CAST($k AS BIGINT) * $tmax)"
      val dbf = jkTypes.map { case (_, a) =>
        s"(CASE WHEN $t >= t_$a" +
          s" THEN (($t - t_$a) div t_$a + 1) * c_$a ELSE 0 END)" }
        .mkString("(", " + ", ")")
      struct(lit(k.toLong).as("k"), expr(t).as("horizon_us"),
        expr(dbf).as("demand_us"),
        expr(s"$t - $dbf").as("slack_us"),
        expr(s"CASE WHEN $dbf <= $t THEN 1 ELSE 0 END").cast("long")
          .as("dbf_ok")) }
    rtTasks(spark, sf)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.k").as("k"), col("r.horizon_us").as("horizon_us"),
        col("r.demand_us").as("demand_us"), col("r.slack_us").as("slack_us"),
        col("r.dbf_ok").as("dbf_ok"))
      .orderBy("k")
  }

  /** Fixed-priority bounds: total U vs the Liu-Layland limit
    * n(2^{1/n}−1) and the hyperbolic bound Π(Uᵢ+1) ≤ 2 — the two
    * classic sufficient tests side by side with their verdict flags. */
  def q_rm_bound(spark: SparkSession, sf: String): DataFrame = {
    val ll = "(CAST(5 AS DOUBLE) * (POWER(CAST(2 AS DOUBLE)," +
      " CAST(1 AS DOUBLE) / CAST(5 AS DOUBLE)) - CAST(1 AS DOUBLE)))"
    val hyp = jkTypes.map { case (_, a) =>
      s"(${rtU(a)} + CAST(1 AS DOUBLE))" }.mkString("(", " * ", ")")
    rtTasks(spark, sf)
      .select(
        expr(s"CAST(ROUND($rtUSum * 1000000) AS BIGINT)").as("u_total_e6"),
        expr(s"CAST(ROUND($ll * 1000000) AS BIGINT)").as("ll_bound_e6"),
        expr(s"CAST(ROUND($hyp * 1000000) AS BIGINT)").as("hyperbolic_e6"),
        expr(s"CASE WHEN $rtUSum <= $ll THEN 1 ELSE 0 END").cast("long")
          .as("rm_ll_pass"),
        expr(s"CASE WHEN $hyp <= CAST(2 AS DOUBLE) THEN 1 ELSE 0 END")
          .cast("long").as("rm_hyperbolic_pass"))
  }

  // ---- §2.206 coding theory — Hamming(7,4) audits -------------------------
  //
  // All bit manipulation is plain integer div/mod/add arithmetic (no
  // engine-specific xor/shift syntax), so the Spark and DuckDB trees are
  // the same mathematics even where the spelling differs (div vs //).

  /** Bit `i` (0-based) of integer expression `x`. `d` is the integer-
    * division spelling ("div" for Spark, "//" for DuckDB). */
  private def hBit(x: String, i: Int, d: String): String =
    s"(($x $d ${1L << i}) % 2)"

  /** Hamming(7,4) codeword of 4-bit expression `v`: positions 1..7 hold
    * p1 p2 d1 p3 d2 d3 d4, parities as sums mod 2. */
  private def hEncode(v: String, d: String): String = {
    val (d1, d2, d3, d4) =
      (hBit(v, 0, d), hBit(v, 1, d), hBit(v, 2, d), hBit(v, 3, d))
    val p1 = s"(($d1 + $d2 + $d4) % 2)"
    val p2 = s"(($d1 + $d3 + $d4) % 2)"
    val p3 = s"(($d2 + $d3 + $d4) % 2)"
    s"($p1 * 1 + $p2 * 2 + $d1 * 4 + $p3 * 8 + $d2 * 16 + $d3 * 32 + $d4 * 64)"
  }

  /** Syndrome of 7-bit word `r` — equals the 1-based error position. */
  private def hSyndrome(r: String, d: String): String = {
    val b = (1 to 7).map(p => hBit(r, p - 1, d))
    val s1 = s"((${b(0)} + ${b(2)} + ${b(4)} + ${b(6)}) % 2)"
    val s2 = s"((${b(1)} + ${b(2)} + ${b(5)} + ${b(6)}) % 2)"
    val s3 = s"((${b(3)} + ${b(4)} + ${b(5)} + ${b(6)}) % 2)"
    s"($s1 * 1 + $s2 * 2 + $s3 * 4)"
  }

  /** End-to-end Hamming(7,4) audit over the event stream: data nibble =
    * user_id mod 16, injected single-bit error at position event_id mod
    * 8 (0 = clean channel); per position the syndrome hit rate and the
    * decode success rate — both must be 100%, the single-error
    * correction guarantee checked exhaustively on live data. */
  def q_hamming74_audit(spark: SparkSession, sf: String): DataFrame = {
    val d = "div"
    val enc = hEncode("(user_id % 16)", d)
    val flip = s"(CASE WHEN pos = 0 THEN cw ELSE cw" +
      s" + (1 - 2 * ((cw $d (CASE WHEN pos = 0 THEN 1 ELSE" +
      s" CAST(POW(2, pos - 1) AS BIGINT) END)) % 2))" +
      s" * (CASE WHEN pos = 0 THEN 0 ELSE" +
      s" CAST(POW(2, pos - 1) AS BIGINT) END) END)"
    val base = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), (col("event_id") % 8L).as("pos"))
      .withColumn("cw", expr(enc))
      .withColumn("rcv", expr(flip))
      .withColumn("syn", expr(hSyndrome("rcv", d)))
      .withColumn("fixed", expr(s"CASE WHEN syn = 0 THEN rcv ELSE rcv" +
        s" + (1 - 2 * ((rcv $d CAST(POW(2, syn - 1) AS BIGINT)) % 2))" +
        s" * CAST(POW(2, syn - 1) AS BIGINT) END"))
    base.groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("syn") === col("pos"), 1L).otherwise(0L))
          .as("syndrome_hits"),
        sum(when(col("fixed") === col("cw"), 1L).otherwise(0L))
          .as("decode_ok"))
      .select(col("pos"), col("n"),
        col("syndrome_hits"), col("decode_ok"),
        expr("decode_ok * 1000000 div n").as("correct_rate_e6"))
      .orderBy("pos")
  }

  /** Weight enumerator of the code: the 16 codewords' Hamming-weight
    * histogram — must be the textbook A₀=1, A₃=7, A₄=7, A₇=1. */
  def q_hamming_weight_enumerator(spark: SparkSession, sf: String): DataFrame = {
    val enc = hEncode("CAST(id AS BIGINT)", "div")
    spark.range(0L, 16L).toDF("id")
      .withColumn("cw", expr(enc))
      .groupBy(expr("CAST(bit_count(cw) AS BIGINT)").as("weight"))
      .agg(count(lit(1)).as("n_codewords"))
      .orderBy("weight")
  }

  /** Pairwise-distance spectrum over all codeword pairs: the minimum
    * distance (= 3, the single-error-correction certificate), maximum,
    * and mean (e6). Distance via bitwise arithmetic per pair. */
  def q_hamming_min_distance(spark: SparkSession, sf: String): DataFrame = {
    val enc = hEncode("CAST(id AS BIGINT)", "div")
    val cws = spark.range(0L, 16L).toDF("id").withColumn("cw", expr(enc))
    val a = cws.select(col("id").as("ia"), col("cw").as("ca"))
    val b = cws.select(col("id").as("ib"), col("cw").as("cb"))
    a.join(broadcast(b), col("ia") < col("ib"))
      .select(expr("CAST(bit_count(ca ^ cb) AS BIGINT)").as("dist"))
      .agg(count(lit(1)).as("n_pairs"), min(col("dist")).as("min_distance"),
        max(col("dist")).as("max_distance"),
        expr("CAST(ROUND(CAST(sum(dist) AS DOUBLE) / CAST(count(1) AS DOUBLE)" +
          " * 1000000) AS BIGINT)").as("mean_distance_e6"))
  }

  // ---- §2.207 splines — Catmull-Rom, monotone Hermite, overshoot ----------

  /** Monthly revenue lattice (exact cents) with the 4-point stencil
    * attached via broadcast self-joins — the lattice is calendar-bounded
    * (≤ ~100 rows at any SF), so no window and no scale hazard. Rows
    * keep only months where the full p0..p3 stencil exists. */
  private def splineStencil(spark: SparkSession, sf: String): DataFrame = {
    val base = Mat.once(Tables.orders(spark, sf)
      .groupBy(expr("CAST(year(o_orderdate) * 12 + month(o_orderdate)" +
        " AS BIGINT)").as("m"))
      .agg(sum(cents(col("o_totalprice"))).as("p")))
    def at(off: Int, name: String) = broadcast(base.select(
      (col("m") - off.toLong).as(s"m_$name"), col("p").as(name)))
    base.select(col("m"), col("p").as("p1"))
      .join(at(-1, "p0"), col("m") === col("m_p0"))
      .join(at(1, "p2"), col("m") === col("m_p2"))
      .join(at(2, "p3"), col("m") === col("m_p3"))
      .select(col("m"), col("p0"), col("p1"), col("p2"), col("p3"))
  }

  /** Catmull-Rom midpoint interpolation per interior month segment:
    * p(½) = (−p0 + 9p1 + 9p2 − p3)/16 — the classic 4-point midpoint
    * rule, kept as an exact ×16 integer next to the linear midpoint ×2;
    * floats only in the final rounded cents. */
  def q_catmull_rom_interp(spark: SparkSession, sf: String): DataFrame =
    splineStencil(spark, sf)
      .select(col("m").as("month_idx"), col("p1").as("left_cents"),
        col("p2").as("right_cents"),
        expr("(0 - p0) + 9 * p1 + 9 * p2 - p3").as("cr_x16"),
        expr("CAST(ROUND(CAST((0 - p0) + 9 * p1 + 9 * p2 - p3 AS DOUBLE)" +
          " / CAST(16 AS DOUBLE)) AS BIGINT)").as("cr_mid_cents"),
        expr("CAST(ROUND(CAST(p1 + p2 AS DOUBLE) / CAST(2 AS DOUBLE))" +
          " AS BIGINT)").as("linear_mid_cents"))
      .orderBy("month_idx")

  /** Fritsch-Carlson monotone-Hermite tangents at each interior knot:
    * secants d₋/d₊, the centered tangent ×2 (exact), and the
    * monotonicity limiter — zero at sign changes, clamped to
    * 3·min(|d₋|,|d₊|) otherwise — with a flag for where the limiter
    * actually bit. Pure integer arithmetic. */
  def q_monotone_hermite(spark: SparkSession, sf: String): DataFrame =
    splineStencil(spark, sf)
      .select(col("m").as("month_idx"),
        (col("p1") - col("p0")).as("d_prev"),
        (col("p2") - col("p1")).as("d_next"),
        (col("p2") - col("p0")).as("tangent_x2"))
      .select(col("month_idx"), col("d_prev"), col("d_next"), col("tangent_x2"),
        expr("CASE WHEN SIGN(d_prev) * SIGN(d_next) <= 0 THEN CAST(0 AS BIGINT)" +
          " WHEN ABS(tangent_x2) > 6 * LEAST(ABS(d_prev), ABS(d_next))" +
          " THEN (CASE WHEN tangent_x2 > 0 THEN 1 ELSE -1 END)" +
          " * 6 * LEAST(ABS(d_prev), ABS(d_next))" +
          " ELSE tangent_x2 END").as("limited_x2"),
        expr("CASE WHEN SIGN(d_prev) * SIGN(d_next) <= 0" +
          " OR ABS(tangent_x2) > 6 * LEAST(ABS(d_prev), ABS(d_next))" +
          " THEN 1 ELSE 0 END").cast("long").as("limiter_hit"))
      .orderBy("month_idx")

  /** Spline-overshoot audit: segments where the Catmull-Rom midpoint
    * leaves the [min(p1,p2), max(p1,p2)] bracket (the wiggle linear
    * interpolation never shows), overshoot magnitudes, and the mean
    * |CR − linear| gap — why shape-preserving splines exist, in one
    * summary row. Exact ×16 arithmetic throughout. */
  def q_spline_overshoot_audit(spark: SparkSession, sf: String): DataFrame =
    splineStencil(spark, sf)
      .select(
        expr("(0 - p0) + 9 * p1 + 9 * p2 - p3").as("cr16"),
        expr("16 * LEAST(p1, p2)").as("lo16"),
        expr("16 * GREATEST(p1, p2)").as("hi16"),
        expr("8 * (p1 + p2)").as("lin16"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("cr16") < col("lo16") || col("cr16") > col("hi16"), 1L)
          .otherwise(0L)).as("overshoot_segments"),
        max(greatest(col("lo16") - col("cr16"), col("cr16") - col("hi16"),
          lit(0L))).as("max_overshoot_x16"),
        expr("CAST(ROUND(CAST(sum(ABS(cr16 - lin16)) AS DOUBLE)" +
          " / CAST(count(1) AS DOUBLE) / CAST(16 AS DOUBLE)) AS BIGINT)")
          .as("mean_cr_lin_gap_cents"))

  // ---- §2.208 population genetics — Hardy-Weinberg ------------------------

  /** Per-segment genotype counts: a diploid "locus" from two independent
    * customer-key bits (alleles a1 = key mod 2, a2 = key div 2 mod 2,
    * genotype = a1 + a2) — a population that should sit AT
    * Hardy-Weinberg equilibrium, making the tests calibration checks. */
  private def hwCounts(spark: SparkSession, sf: String): DataFrame =
    Tables.customer(spark, sf)
      .select(col("c_mktsegment"),
        expr("(c_custkey % 2) + ((c_custkey div 2) % 2)").as("g"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === 2L, 1L).otherwise(0L)).as("n2"))

  private val hwP =
    "((CAST(2 AS DOUBLE) * CAST(n2 AS DOUBLE) + CAST(n1 AS DOUBLE))" +
      " / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)))"
  private val hwQ = s"(CAST(1 AS DOUBLE) - $hwP)"

  /** Hardy-Weinberg χ² per segment: observed genotype counts vs np²,
    * 2npq, nq² — three fixed (O−E)²/E terms on exact integers; df = 1,
    * so χ² ≳ 3.84 flags departure at 5%. */
  def q_hardy_weinberg(spark: SparkSession, sf: String): DataFrame = {
    def term(o: String, e: String) =
      s"(($o - $e) * ($o - $e) / $e)"
    val e0 = s"(CAST(n AS DOUBLE) * $hwQ * $hwQ)"
    val e1 = s"(CAST(2 AS DOUBLE) * CAST(n AS DOUBLE) * $hwP * $hwQ)"
    val e2 = s"(CAST(n AS DOUBLE) * $hwP * $hwP)"
    val chi2 = s"(${term("CAST(n0 AS DOUBLE)", e0)}" +
      s" + ${term("CAST(n1 AS DOUBLE)", e1)}" +
      s" + ${term("CAST(n2 AS DOUBLE)", e2)})"
    hwCounts(spark, sf)
      .select(col("c_mktsegment"), col("n"), col("n0"), col("n1"), col("n2"),
        expr(s"CAST(ROUND($chi2 * 1000000) AS BIGINT)").as("chi2_e6"),
        expr(s"CASE WHEN $chi2 > CAST(384 AS DOUBLE) / CAST(100 AS DOUBLE)" +
          " THEN 1 ELSE 0 END").cast("long").as("disequilibrium_5pct"))
      .orderBy("c_mktsegment")
  }

  /** Allele frequencies and heterozygosity per segment: p, q, observed
    * Ho = n1/n and expected He = 2pq (e6 each) — the population-genetics
    * base table. */
  def q_allele_frequencies(spark: SparkSession, sf: String): DataFrame =
    hwCounts(spark, sf)
      .select(col("c_mktsegment"), col("n"),
        expr(s"CAST(ROUND($hwP * 1000000) AS BIGINT)").as("p_e6"),
        expr(s"CAST(ROUND($hwQ * 1000000) AS BIGINT)").as("q_e6"),
        expr("CAST(ROUND(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE) * 1000000)" +
          " AS BIGINT)").as("ho_e6"),
        expr(s"CAST(ROUND(CAST(2 AS DOUBLE) * $hwP * $hwQ * 1000000)" +
          " AS BIGINT)").as("he_e6"))
      .orderBy("c_mktsegment")

  /** Wright's inbreeding coefficient F = 1 − Ho/He per segment (≈ 0 for
    * this independent-bit locus) with the excess-homozygosity sign — the
    * F-statistics panel. */
  def q_inbreeding_coefficient(spark: SparkSession, sf: String): DataFrame = {
    val f = s"(CAST(1 AS DOUBLE) - (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))" +
      s" / (CAST(2 AS DOUBLE) * $hwP * $hwQ))"
    hwCounts(spark, sf)
      .select(col("c_mktsegment"),
        expr(s"CAST(ROUND($f * 1000000) AS BIGINT) + 0").as("f_e6"),
        expr(s"CASE WHEN $f > CAST(0 AS DOUBLE) THEN 1 ELSE 0 END")
          .cast("long").as("homozygote_excess"))
      .orderBy("c_mktsegment")
  }

  // ---- §2.209 forensic digits — Benford 2nd digit, last digit, pairs ------

  /** Second significant digit of order cents via an integer magnitude
    * CASE ladder (no float log10 — exact at power boundaries). */
  private val fdSecond: String = {
    val whens = (2 to 12).reverse.map { k =>
      s"WHEN v >= ${BigInt(10).pow(k - 1)} AND v < ${BigInt(10).pow(k)}" +
        s" THEN (v div ${BigInt(10).pow(k - 2)}) % 10"
    }.mkString(" ")
    s"(CASE $whens ELSE v % 10 END)"
  }

  /** Benford's SECOND-digit law: observed counts of the second
    * significant digit of order totals vs the 9-term expectation
    * P(d) = Σ_k log10(1+1/(10k+d)) — forensic accounting's subtler
    * screen, with per-digit χ² contributions (e6). */
  def q_benford_second_digit(spark: SparkSession, sf: String): DataFrame = {
    def pD(d: Int) = (1 to 9).map { k =>
      s"LN(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE)" +
        s" / CAST(${10 * k + d} AS DOUBLE)) / LN(CAST(10 AS DOUBLE))" }
      .mkString("(", " + ", ")")
    val exp = (0 to 9).map(d =>
      s"WHEN d2 = $d THEN ${pD(d)}").mkString("(CASE ", " ", " END)")
    Tables.orders(spark, sf)
      .select(cents(col("o_totalprice")).as("v"))
      .select(expr(fdSecond).as("d2"))
      .groupBy("d2").agg(count(lit(1)).as("n_obs"))
      .crossJoin(broadcast(Tables.orders(spark, sf)
        .agg(count(lit(1)).as("n_all"))))
      .select(col("d2"), col("n_obs"),
        expr(s"CAST(ROUND($exp * 1000000) AS BIGINT)").as("benford_p_e6"),
        expr(s"CAST(ROUND((CAST(n_obs AS DOUBLE) / CAST(n_all AS DOUBLE)" +
          s" - $exp) * (CAST(n_obs AS DOUBLE) / CAST(n_all AS DOUBLE)" +
          s" - $exp) / $exp * CAST(n_all AS DOUBLE) * 1000000) AS BIGINT)")
          .as("chi2_contrib_e6"))
      .orderBy("d2")
  }

  /** Last-digit uniformity: authentic transactional amounts carry a
    * uniform final digit; per digit the count, share (e6), and χ²
    * contribution vs 10% — rounding or fabrication shows instantly. */
  def q_last_digit_uniform(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select((cents(col("o_totalprice")) % 10L).as("d"))
      .groupBy("d").agg(count(lit(1)).as("n_obs"))
      .crossJoin(broadcast(Tables.orders(spark, sf)
        .agg(count(lit(1)).as("n_all"))))
      .select(col("d"), col("n_obs"),
        expr("n_obs * 1000000 div n_all").as("share_e6"),
        expr("CAST(ROUND((CAST(n_obs AS DOUBLE)" +
          " - CAST(n_all AS DOUBLE) / CAST(10 AS DOUBLE))" +
          " * (CAST(n_obs AS DOUBLE)" +
          " - CAST(n_all AS DOUBLE) / CAST(10 AS DOUBLE))" +
          " / (CAST(n_all AS DOUBLE) / CAST(10 AS DOUBLE)) * 1000000)" +
          " AS BIGINT)").as("chi2_contrib_e6"))
      .orderBy("d")

  /** First-digit × last-digit-parity independence: the 9×2 contingency
    * table with expected counts from the margins and per-cell χ²
    * contributions — digits of honest amounts don't conspire. */
  def q_digit_pair_independence(spark: SparkSession, sf: String): DataFrame = {
    val firstDigit = {
      val whens = (1 to 12).reverse.map { k =>
        s"WHEN v >= ${BigInt(10).pow(k - 1)} THEN v div ${BigInt(10).pow(k - 1)}" }
        .mkString(" ")
      s"(CASE $whens ELSE v END)"
    }
    val cells = Mat.once(Tables.orders(spark, sf)
      .select(cents(col("o_totalprice")).as("v"))
      .select(expr(firstDigit).as("d1"), (col("v") % 2L).as("par"))
      .groupBy("d1", "par").agg(count(lit(1)).as("n_obs")))
    val rowM = cells.groupBy("d1").agg(sum(col("n_obs")).as("n_row"))
    val colM = cells.groupBy("par").agg(sum(col("n_obs")).as("n_col"))
    val tot = cells.agg(sum(col("n_obs")).as("n_all"))
    cells.join(broadcast(rowM), "d1").join(broadcast(colM), "par")
      .crossJoin(broadcast(tot))
      .select(col("d1"), col("par"), col("n_obs"),
        expr("CAST(ROUND(CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)" +
          " / CAST(n_all AS DOUBLE) * 10000) AS BIGINT)").as("expected_e4"),
        expr("CAST(ROUND((CAST(n_obs AS DOUBLE) - CAST(n_row AS DOUBLE)" +
          " * CAST(n_col AS DOUBLE) / CAST(n_all AS DOUBLE))" +
          " * (CAST(n_obs AS DOUBLE) - CAST(n_row AS DOUBLE)" +
          " * CAST(n_col AS DOUBLE) / CAST(n_all AS DOUBLE))" +
          " / (CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)" +
          " / CAST(n_all AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("chi2_contrib_e6"))
      .orderBy("d1", "par")
  }

  // ---- §2.210 Mack chain-ladder variance ----------------------------------

  /** Per-(origin, age) link observations from the §2.183 triangle:
    * C_ik, C_{i,k+1}, the individual factor F_ik, and the Mack variance
    * term C_ik(F_ik − f_k)² QUANTIZED per origin to an exact integer
    * (×1e6) so the cross-origin reduction is a BIGINT sum — the same
    * no-float-reduction discipline as the day-level microstructure
    * estimators. */
  private def mackObs(spark: SparkSession, sf: String): DataFrame = {
    val rows = (0 to 2).map { k =>
      struct(lit(k.toLong).as("k"), col(s"c$k").as("cik"),
        col(s"c${k + 1}").as("cik1"),
        expr(s"CASE WHEN origin + ${k + 1} <= cutoff THEN 1 ELSE 0 END")
          .cast("long").as("observed"),
        col("origin").cast("long").as("origin_y")) }
    clTriangle(spark, sf)
      .crossJoin(broadcast(clStats(spark, sf)))
      .select(col("origin"), col("cutoff"),
        col("den0"), col("num0"), col("den1"), col("num1"),
        col("den2"), col("num2"),
        explode(array(rows: _*)).as("r"))
      .filter(col("r.observed") === 1L && col("r.cik") > 0L)
      .select(col("r.origin_y").as("origin_y"), col("r.k").as("k"),
        col("r.cik").as("cik"), col("r.cik1").as("cik1"),
        col("den0"), col("num0"), col("den1"), col("num1"),
        col("den2"), col("num2"))
      .withColumn("fk", expr("CASE k WHEN 0 THEN CAST(num0 AS DOUBLE)" +
        " / CAST(den0 AS DOUBLE) WHEN 1 THEN CAST(num1 AS DOUBLE)" +
        " / CAST(den1 AS DOUBLE) ELSE CAST(num2 AS DOUBLE)" +
        " / CAST(den2 AS DOUBLE) END"))
      .withColumn("fik", expr("CAST(cik1 AS DOUBLE) / CAST(cik AS DOUBLE)"))
      .withColumn("term_e6", expr("CAST(ROUND(CAST(cik AS DOUBLE)" +
        " * (fik - fk) * (fik - fk) * 1000000) AS BIGINT)"))
  }

  /** Mack's σ_k² per development age: Σᵢ C_ik(F_ik − f_k)²/(n−1) from
    * the quantized terms — the process-variance engine behind reserve
    * ranges (Mack 1993), with the volume-weighted f for context. */
  def q_mack_sigma(spark: SparkSession, sf: String): DataFrame =
    mackObs(spark, sf)
      .groupBy(col("k").as("dev_age"))
      .agg(count(lit(1)).as("n_origins"), sum(col("term_e6")).as("ssq_e6"),
        expr("CAST(ROUND(max(fk) * 1000000) AS BIGINT)").as("f_e6"))
      .filter(col("n_origins") > 1L)
      .select(col("dev_age"), col("n_origins"), col("f_e6"),
        expr("CAST(ROUND(CAST(ssq_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE)" +
          " / (CAST(n_origins AS DOUBLE) - CAST(1 AS DOUBLE)) * 100)" +
          " AS BIGINT)").as("sigma2_cents_e2"))
      .orderBy("dev_age")

  /** Link-ratio confidence bands: f_k ± 2σ_k/√S_k with S_k the total
    * volume at age k — which development factors the data actually
    * pins down. */
  def q_dev_factor_ci(spark: SparkSession, sf: String): DataFrame = {
    val sig = mackObs(spark, sf)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_origins"), sum(col("term_e6")).as("ssq_e6"),
        max(col("fk")).as("fk"), sum(col("cik")).as("sk"))
      .filter(col("n_origins") > 1L)
    val se = "SQRT(CAST(ssq_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE)" +
      " / (CAST(n_origins AS DOUBLE) - CAST(1 AS DOUBLE)))" +
      " / SQRT(CAST(sk AS DOUBLE))"
    sig.select(col("k").as("dev_age"),
        expr("CAST(ROUND(fk * 1000000) AS BIGINT)").as("f_e6"),
        expr(s"CAST(ROUND((fk - CAST(2 AS DOUBLE) * $se) * 1000000)" +
          " AS BIGINT)").as("lo_e6"),
        expr(s"CAST(ROUND((fk + CAST(2 AS DOUBLE) * $se) * 1000000)" +
          " AS BIGINT)").as("hi_e6"))
      .orderBy("dev_age")
  }

  /** Standardized Mack residuals (F_ik − f_k)√C_ik/σ_k per cell — the
    * diagnostic plot actuaries scan for trends before trusting the
    * chain ladder; the σ join is a broadcast of the tiny age table. */
  def q_mack_residuals(spark: SparkSession, sf: String): DataFrame = {
    val sig = mackObs(spark, sf)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_origins"), sum(col("term_e6")).as("ssq_e6"))
      .filter(col("n_origins") > 1L)
      .select(col("k").as("sk_k"),
        expr("SQRT(CAST(ssq_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE)" +
          " / (CAST(n_origins AS DOUBLE) - CAST(1 AS DOUBLE)))").as("sigma"))
    mackObs(spark, sf)
      .join(broadcast(sig), col("k") === col("sk_k"))
      .select(col("origin_y"), col("k").as("dev_age"),
        expr("CAST(ROUND((fik - fk) * SQRT(CAST(cik AS DOUBLE)) / sigma" +
          " * 1000000) AS BIGINT) + 0").as("residual_e6"))
      .orderBy("origin_y", "dev_age")
  }

  // ---- §2.211 inequality audits — Jensen, AM-GM, log-sum-exp --------------

  /** Jensen's gap E[f(X)] − f(E[X]) for the convex f(x) = x² on event
    * value cents, per event type: both sides from EXACT integer sums, so
    * the gap equals the population variance — reported with the variance
    * to make the identity visible (e2 cents²). */
  def q_jensen_gap(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
      .select(col("event_type"), col("n"),
        expr("CAST(ROUND((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))" +
          " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) * 100) AS BIGINT)")
          .as("jensen_gap_e2"),
        expr("CAST(ROUND((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)" +
          " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))" +
          " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) * 100) AS BIGINT)")
          .as("variance_e2"))
      .orderBy("event_type")

  /** AM-GM gap per event type: the geometric mean exp(mean ln v) with
    * per-row ln quantized to e9 integers (exact cross-row sum), vs the
    * exact arithmetic mean — AM ≥ GM with equality only for constant
    * values, the gap being a dispersion measure in cents. */
  def q_amgm_gap(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("v"))
      .filter(col("v") > 0L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(expr("CAST(ROUND(LN(CAST(v AS DOUBLE)) * 1000000000) AS BIGINT)"))
          .as("slog_e9"))
      .select(col("event_type"), col("n"),
        expr("s1 div n").as("am_cents"),
        expr("CAST(ROUND(EXP(CAST(slog_e9 AS DOUBLE)" +
          " / CAST(1000000000 AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)")
          .as("gm_cents"),
        expr("s1 div n - CAST(ROUND(EXP(CAST(slog_e9 AS DOUBLE)" +
          " / CAST(1000000000 AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)")
          .as("amgm_gap_cents"))
      .orderBy("event_type")

  /** Log-sum-exp audit per event type at temperature τ = global mean
    * cents: LSE = max + τ·ln Σ exp((v−max)/τ) with the Σ quantized per
    * row (exact reduction) — LSE sits in [max, max + τ·ln n], the
    * softmax-normalizer sandwich every LLM loss relies on. */
  def q_logsumexp_audit(spark: SparkSession, sf: String): DataFrame = {
    val tau = Tables.eventsWithTs(spark, sf)
      .agg(expr("sum(CAST(ROUND(value * 100) AS BIGINT)) div count(1)")
        .as("tau"))
    val mx = Tables.eventsWithTs(spark, sf)
      .select(col("event_type").as("et_m"), cents(col("value")).as("v"))
      .groupBy("et_m").agg(max(col("v")).as("vmax"))
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("v"))
      .join(broadcast(mx), col("event_type") === col("et_m"))
      .crossJoin(broadcast(tau))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("vmax")).as("vmax"),
        max(col("tau")).as("tau"),
        sum(expr("CAST(ROUND(EXP((CAST(v AS DOUBLE) - CAST(vmax AS DOUBLE))" +
          " / CAST(tau AS DOUBLE)) * 1000000000) AS BIGINT)")).as("sexp_e9"))
      .select(col("event_type"), col("n"), col("vmax").as("max_cents"),
        expr("CAST(ROUND((CAST(vmax AS DOUBLE) + CAST(tau AS DOUBLE)" +
          " * LN(CAST(sexp_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE)))" +
          " * 100) AS BIGINT)").as("lse_cents_e2"),
        expr("CAST(ROUND((CAST(vmax AS DOUBLE) + CAST(tau AS DOUBLE)" +
          " * LN(CAST(n AS DOUBLE))) * 100) AS BIGINT)").as("upper_cents_e2"))
      .orderBy("event_type")
  }
}
