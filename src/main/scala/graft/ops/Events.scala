package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Mat, Tables}
import graft.core.Det.cents

/** Event-time operators over the events table — the BATCH twins of the
  * streaming pipeline (SURVEY.md §2.10). These are what the oracle hashes;
  * the same logic re-expressed on `readStream` with watermarks lives in
  * [[graft.streaming.Streaming]] and is covered by MemoryStream tests.
  *
  * Window starts are emitted as 'yyyy-MM-dd HH:mm:ss' strings (UTC) so the
  * cross-engine compare never depends on timestamp physical types.
  */
object Events {

  /** Tumbling 1h windows via Spark's native window() — per (window_start,
    * event_type) count + exact cents value.
    */
  def q_stream_tumbling(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .groupBy(window(col("ts_us"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("value_cents"))
      .orderBy("win_start", "event_type")

  /** Sliding windows (1h length, 30min slide) — every event lands in
    * exactly 2 windows; counts per (window_start, event_type).
    */
  def q_stream_sliding(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .groupBy(window(col("ts_us"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))
      .orderBy("win_start", "event_type")

  /** Batch twin of streaming deduplication (dropDuplicates within a
    * watermark): raw vs distinct-(user, day) event counts per type. The
    * streaming twin in [[graft.streaming.Streaming]] keys its state the
    * same way, so state size is bounded by users×days inside the watermark.
    */
  def q_stream_dedup(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), col("user_id"),
        date_format(col("ts_us"), "yyyy-MM-dd").as("day"))
    val raw = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_raw"))
    val uniq = ev.distinct().groupBy(col("event_type")).agg(count(lit(1)).as("n_unique"))
    raw.join(uniq, "event_type").orderBy("event_type")
  }

  /** Strict ordered funnel view → click → purchase: each stage keeps the
    * user's earliest qualifying event AFTER the previous stage's time.
    * Three filtered min-aggregates chained by user-key joins (each stage's
    * survivor set only shrinks), then four single-row counts — the
    * standard scalable funnel shape, no per-user event sorting.
    */
  def q_funnel(spark: SparkSession, sf: String): DataFrame = {
    // exact nanosecond longs on BOTH engines (oracle: epoch_ns) — the stage
    // comparisons must see identical time resolution
    val e = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts_nsl").as("t"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("t") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("t") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t3"))
    e.agg(countDistinct(col("user_id")).as("n_users"))
      .crossJoin(s1.agg(count(lit(1)).as("n_view")))
      .crossJoin(s2.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(s3.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  /** Cohort retention: users grouped by first-active day, activity counted
    * per day offset 0..7. `distinct (user, day)` first, so the cohort join
    * and the final count stay proportional to active-user-days, not raw
    * events.
    */
  def q_retention(spark: SparkSession, sf: String): DataFrame = {
    val act = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), to_date(col("ts_us")).as("d")).distinct()
    val cohort = act.groupBy(col("user_id")).agg(min(col("d")).as("c"))
    act.join(cohort, "user_id")
      .withColumn("offset", datediff(col("d"), col("c")).cast("long"))
      .filter(col("offset") <= 7)
      .groupBy(date_format(col("c"), "yyyy-MM-dd").as("cohort_day"), col("offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset")
  }

  /** Recursive CTE (Spark 4's WITH RECURSIVE, through the SQL entry path):
    * a generated calendar scaffold from the event stream's min to max day
    * (bounded recursion — one level per day), LEFT JOINed back to daily
    * event counts so silent days appear as explicit zeros. The oracle runs
    * the whole calendar as one recursive SQL statement.
    */
  def q_recursive_calendar(spark: SparkSession, sf: String): DataFrame = {
    val ed = Tables.eventsWithTs(spark, sf).select(to_date(col("ts_us")).as("d"))
    // resolve the bounds ONCE (a 1-row aggregate) and inline them as date
    // literals — inside the recursive CTE the bounds subquery would be
    // recomputed per recursion level (30 full scans at 30 days of data)
    val b = ed.agg(min(col("d")).as("lo"), max(col("d")).as("hi")).head()
    if (b.isNullAt(0)) // empty input: empty calendar, not a parse error
      return spark.range(0).select(lit("").as("day"), lit(0L).as("n_events")).where(lit(false))
    val (lo, hi) = (b.getDate(0), b.getDate(1))
    // one recursion level per calendar day: the session default (100 levels)
    // fails on any span over ~3 months, so the CTE carries its own limit
    // sized to the span (a year of data is 366 levels, still trivial)
    val spanDays = java.time.temporal.ChronoUnit.DAYS.between(lo.toLocalDate, hi.toLocalDate)
    val days = spark.sql(s"""
      WITH RECURSIVE days(d) MAX RECURSION LEVEL ${spanDays + 10} AS (
        SELECT DATE'$lo'
        UNION ALL
        SELECT date_add(d, 1) FROM days WHERE d < DATE'$hi')
      SELECT d FROM days""")
    val daily = ed.groupBy(col("d")).agg(count(lit(1)).as("n"))
    days.join(daily, Seq("d"), "left")
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("day")
  }

  /** Sessionization with a 30-minute inactivity gap, computed with the
    * lag/cumulative-sum idiom (matches session_window merge semantics —
    * asserted by a streaming test). Exact integer µs throughout.
    */
  def q_stream_session(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
    val wOrder = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
    val wCum = wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("prev_usl", lag(col("ts_usl"), 1).over(wOrder))
      .withColumn("new_session",
        when(col("prev_usl").isNull ||
             col("ts_usl") - col("prev_usl") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(wCum))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** Session duration profile (the engagement histogram behind the
    * sessionization pass): same 30-minute-gap sessions as
    * [[q_stream_session]], then each session's µs duration lands in a
    * 10-minute bucket; per bucket the session count, total events and
    * mean events per session (e2 integer). One user-keyed shuffle for the
    * session windows, then a bounded histogram aggregate.
    */
  def q_session_duration(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
    val wOrder = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
    val wCum = wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("prev_usl", lag(col("ts_usl"), 1).over(wOrder))
      .withColumn("new_session",
        when(col("prev_usl").isNull ||
             col("ts_usl") - col("prev_usl") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(wCum))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_usl")) - min(col("ts_usl"))).as("dur_us"))
      .select(col("n_events"), expr("dur_us div 600000000").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("total_events"))
      .select(col("bucket"), col("n_sessions"), col("total_events"),
        expr("total_events * 100 div n_sessions").as("avg_events_e2"))
      .orderBy("bucket")
  }

  /** Time-series gap fill with linear interpolation: the hourly mean event
    * value per type on a COMPLETE hour scaffold (min..max observed hour),
    * silent hours linearly interpolated between their observed neighbors.
    * The interpolation is exact integer math — `(pv·(nh−h) + nv·(h−ph))
    * div (nh−ph)` with a provably positive numerator, so trunc-vs-floor
    * division can't diverge across engines. The hourly aggregate is tiny
    * at any corpus size, so the neighbor lookup (a bounded theta join on
    * the missing hours) never touches the raw events again.
    */
  def q_ts_interpolate(spark: SparkSession, sf: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val obs = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), expr(s"ts_usl div $hourUs").as("h"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sc"))
      .select(col("event_type"), col("h"), expr("sc div n").as("v"))
    val scaffold = obs.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
    val miss = scaffold.join(obs, Seq("event_type", "h"), "left_anti")
    val prev = miss.as("s")
      .join(obs.as("o"),
        col("s.event_type") === col("o.event_type") && col("o.h") < col("s.h"))
      .groupBy(col("s.event_type").as("event_type"), col("s.h").as("h"))
      .agg(max(struct(col("o.h"), col("o.v"))).as("p"))
    val next = miss.as("s")
      .join(obs.as("o"),
        col("s.event_type") === col("o.event_type") && col("o.h") > col("s.h"))
      .groupBy(col("s.event_type").as("event_type"), col("s.h").as("h"))
      .agg(min(struct(col("o.h"), col("o.v"))).as("nx"))
    val interp = prev.join(next, Seq("event_type", "h"))
      .select(col("event_type"), col("h"),
        expr("(p.v * (nx.h - h) + nx.v * (h - p.h)) div (nx.h - p.h)").as("v"),
        lit("interp").as("src"))
    obs.select(col("event_type"), col("h"), col("v"), lit("obs").as("src"))
      .unionByName(interp)
      .select(col("event_type"),
        date_format(timestamp_micros(col("h") * hourUs), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("v").as("v_cents"), col("src"))
      .orderBy("event_type", "hour")
  }

  /** Top-10 session opening paths: the first three event types of each
    * 30-minute-gap session (same sessionization as [[q_stream_session]])
    * joined into an 'a>b>c' path, counted corpus-wide. The classic
    * navigation-flow readout; everything is user-keyed windows plus one
    * path aggregate, and the top-k is TakeOrdered, not a global sort.
    */
  def q_session_path_topk(spark: SparkSession, sf: String): DataFrame = {
    val wOrder = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
    val wCum = wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSess = Window.partitionBy("user_id", "session_idx")
      .orderBy(col("ts_usl").asc, col("event_id").asc)
    Tables.eventsWithTs(spark, sf)
      .withColumn("prev_usl", lag(col("ts_usl"), 1).over(wOrder))
      .withColumn("new_session",
        when(col("prev_usl").isNull ||
             col("ts_usl") - col("prev_usl") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(wCum))
      .withColumn("rn", row_number().over(wSess))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(array_join(transform(array_sort(collect_list(struct(
        col("ts_usl"), col("event_id"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(10)
  }

  /** Time-weighted average value (TWAP) per event type: each observation
    * weighted by its exact µs holding time until the next same-type event
    * in the day (keyed lead; the day's last observation has no weight).
    * value·gap products accumulate in decimal — the aggregation VWAP's
    * time-domain sibling, and the correct average for irregularly sampled
    * series.
    */
  def q_twap(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("event_type", "day")
      .orderBy(col("ts_usl").asc, col("event_id").asc)
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), to_date(col("ts_us")).as("day"),
        col("ts_usl"), col("event_id"), cents(col("value")).as("vc"))
      .withColumn("nxt", lead(col("ts_usl"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type"), col("vc"), (col("nxt") - col("ts_usl")).as("gap"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_weighted"),
        sum(expr("CAST(vc AS decimal(38,0)) * gap")).as("vg"),
        sum(col("gap")).as("g"))
      .select(col("event_type"), col("n_weighted"),
        (round(col("vg").cast("double") / col("g").cast("double"), 4) + lit(0.0))
          .as("twap_cents"))
      .orderBy("event_type")
  }

  /** Five-number (boxplot) summary of event value per type: exact integer
    * min/max, exact interpolated quartiles (r4) — the distribution card a
    * monitoring UI renders per metric.
    */
  def q_five_number(spark: SparkSession, sf: String): DataFrame = {
    val lat = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("pc"))
      .groupBy(col("event_type"), col("pc"))
      .agg(count(lit(1)).as("cnt"))
    val qs = Relational.latticePercentiles(lat, Seq("event_type"),
      Seq(0.25 -> "q1x", 0.5 -> "medx", 0.75 -> "q3x"))
    lat.groupBy(col("event_type"))
      .agg(min(col("pc")).as("min_cents"), max(col("pc")).as("max_cents"))
      .join(qs, "event_type")
      .select(col("event_type"), col("n"), col("min_cents"),
        (round(col("q1x"), 4) + lit(0.0)).as("q1"),
        (round(col("medx"), 4) + lit(0.0)).as("median"),
        (round(col("q3x"), 4) + lit(0.0)).as("q3"),
        col("max_cents"))
      .orderBy("event_type")
  }

  /** Weekly retention curve: share of the user base active k weeks after
    * their first week (exact e4, cohort = everyone — offset 0 is 100% by
    * construction). One user-keyed min + one distinct pass; the single
    * curve behind every retention chart.
    */
  def q_weekly_retention_curve(spark: SparkSession, sf: String): DataFrame = {
    val uw = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), date_trunc("week", col("ts_us")).as("wk")).distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("w0"))
    val offsets = uw.join(first, "user_id")
      .select(col("user_id"),
        (datediff(col("wk").cast("date"), col("w0").cast("date")) / 7)
          .cast("long").as("wk_offset"))
      .distinct()
    val curve = offsets.groupBy(col("wk_offset")).agg(count(lit(1)).as("n_users"))
    curve.crossJoin(broadcast(first.agg(count(lit(1)).as("cohort"))))
      .select(col("wk_offset"), col("n_users"),
        expr("n_users * 10000 div cohort").as("retention_e4"))
      .orderBy("wk_offset")
  }

  /** Error-rate alerting: hourly error share (e4) vs the global mean,
    * hours flagged when 20% above it; reported per day as total vs
    * alerted hours — the monitoring rule a stream job would evaluate,
    * backfilled in batch. One hour aggregate + broadcast baseline.
    */
  def q_error_alert_hours(spark: SparkSession, sf: String): DataFrame = {
    val hourly = Tables.eventsWithTs(spark, sf)
      .groupBy(expr("ts_usl div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
      .select(col("hr"), col("n"), col("n_err"),
        expr("n_err * 10000 div n").as("rate_e4"))
    val base = hourly.agg(sum(col("n_err")).as("te"), sum(col("n")).as("tn"))
      .select(expr("te * 10000 div tn").as("global_e4"))
    hourly.crossJoin(broadcast(base))
      .select(
        expr("date_format(date_add(DATE '1970-01-01', CAST(hr div 24 AS INT)), 'yyyy-MM-dd')")
          .as("day"),
        when(col("rate_e4") * 10L > col("global_e4") * 12L, 1L).otherwise(0L).as("alert"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_hours"), sum(col("alert")).as("n_alert_hours"))
      .orderBy("day")
  }

  /** Capacity-planning percentiles: the p95 / max / floor-mean of hourly
    * event counts per type — the number an executor or consumer fleet is
    * sized against (plan for p95, alert at max).
    */
  def q_capacity_p95(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), expr("ts_usl div 3600000000").as("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("total"),
        (round(percentile(col("c"), lit(0.95)), 4) + lit(0.0)).as("p95_hourly"),
        max(col("c")).as("max_hourly"))
      .select(col("event_type"), col("n_hours"), col("max_hourly"), col("p95_hourly"),
        expr("total div n_hours").as("mean_hourly_floor"))
      .orderBy("event_type")

  /** Window-rollup invariance audit: 15-minute tumbling counts re-rolled
    * to the hour, checked against direct hourly aggregation per event
    * type. Zero mismatches is the invariant that makes multi-resolution
    * dashboards (and partial re-aggregation of streaming state) sound.
    */
  def q_window_rollup_audit(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), expr("ts_usl div 900000000").as("q15"))
    val q15 = ev.groupBy(col("event_type"), col("q15")).agg(count(lit(1)).as("n15"))
    val rolled = q15.groupBy(col("event_type"), expr("q15 div 4").as("hr"))
      .agg(sum(col("n15")).as("n_rolled"))
    val direct = ev.groupBy(col("event_type"), expr("q15 div 4").as("hr"))
      .agg(count(lit(1)).as("n_direct"))
    rolled.join(direct, Seq("event_type", "hr"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("n_rolled")).as("total_rolled"),
        sum(col("n_direct")).as("total_direct"),
        sum(when(col("n_rolled") =!= col("n_direct"), 1L).otherwise(0L)).as("n_mismatch"))
      .orderBy("event_type")
  }

  /** View→purchase conversion latency: per converting user the exact gap
    * between first view and first later purchase, reported as a whole-day
    * histogram plus the converting-user count per bucket. Two user-keyed
    * min-aggregates and a bounded histogram — the time-to-convert
    * readout behind funnel dashboards.
    */
  def q_funnel_latency(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts_usl"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_usl")).as("v_usl"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("ts_usl") >= col("v_usl"))
      .groupBy(col("user_id"), col("v_usl"))
      .agg(min(col("ts_usl")).as("p_usl"))
    conv
      .select(expr("(p_usl - v_usl) div 86400000000").as("days_bucket"))
      .groupBy(col("days_bucket"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("days_bucket")
  }

  /** Burstiness (Fano factor = var/mean of the daily event count) per
    * event type: exact integer daily counts, exact sufficient statistics,
    * one IEEE epilogue. Fano ≈ 1 is Poisson-like traffic; ≫ 1 means
    * campaign spikes — the capacity-planning number for a stream job.
    */
  def q_burstiness(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts_us")).as("day"))
      .agg(count(lit(1)).as("c"))
    val s = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
    val nD = col("n_days").cast("double")
    val mean = col("sc").cast("double") / nD
    val variance = (col("scc").cast("double") -
      col("sc").cast("double") * col("sc").cast("double") / nD) / (nD - lit(1.0))
    s.select(col("event_type"), col("n_days"),
      (round(mean, 4) + lit(0.0)).as("mean_daily"),
      (round(variance / mean, 4) + lit(0.0)).as("fano"))
      .orderBy("event_type")
  }

  /** Behavioral-entropy histogram: each user's event-type entropy
    * H = ln(n) − Σc·ln(c)/n computed from exact counts (the c·ln(c)
    * terms rounded e4 per cell before the order-free sum — the
    * [[graft.ops.Text]] bigram-entropy lattice), bucketed in quarter-nat
    * bins. Separates one-track users from browsers in one pass.
    */
  def q_session_entropy(spark: SparkSession, sf: String): DataFrame = {
    val cells = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("user_id"), col("c"),
        round(col("c").cast("double") * log(col("c").cast("double")) * lit(1e4))
          .cast("long").as("clc_e4"))
    val perUser = cells.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"), sum(col("clc_e4")).as("sclc_e4"))
      .select(round((log(col("n").cast("double")) -
        col("sclc_e4").cast("double") / lit(1e4) / col("n").cast("double")) * lit(1e4))
        .cast("long").as("h_e4"))
    perUser
      // the e4 lattice can leave H a hair below zero for one-type users;
      // clamp before the bucket division (trunc-vs-floor differs at <0)
      .select(expr("greatest(h_e4, CAST(0 AS BIGINT)) div 2500").as("bucket_qnat"))
      .groupBy(col("bucket_qnat"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("bucket_qnat")
  }

  /** Watermark-lateness profile — the out-of-orderness histogram that
    * sizes a Structured Streaming watermark: treating event_id as arrival
    * order, lateness = (running max event time seen so far) − (this
    * event's time). The running max is a two-level distributed prefix
    * (arrival-bucket-keyed windows + bucket-max theta join — no
    * partition-less window), lateness lands in 0/≤60s/≤5m/≤30m/beyond
    * buckets with exact e4 shares.
    */
  def q_watermark_lateness(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("event_id"), col("ts_usl"))
      .withColumn("bkt", expr("event_id div 100000"))
    val wIn = Window.partitionBy("bkt").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bktMax = ev.groupBy(col("bkt")).agg(max(col("ts_usl")).as("bm"))
    val prefix = bktMax.as("a")
      .join(bktMax.as("b"), col("b.bkt") < col("a.bkt"), "left_outer")
      .groupBy(col("a.bkt").as("bkt"))
      .agg(max(col("b.bm")).as("pre"))
    val late = ev.join(broadcast(prefix), Seq("bkt"))
      .withColumn("runmax",
        greatest(max(col("ts_usl")).over(wIn), coalesce(col("pre"), lit(Long.MinValue))))
      .select(expr("(runmax - ts_usl) div 1000000").as("late_s"))
      .select(when(col("late_s") === 0L, 0L)
        .when(col("late_s") <= 60L, 1L)
        .when(col("late_s") <= 300L, 2L)
        .when(col("late_s") <= 1800L, 3L).otherwise(4L).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    late.crossJoin(broadcast(late.agg(sum(col("n")).as("tot"))))
      .select(col("bucket"), col("n"), expr("n * 10000 div tot").as("share_e4"))
      .orderBy("bucket")
  }

  /** Inter-arrival regularity per event type: gaps inside (type, day)
    * partitions (keyed windows — a day bounds the partition at any
    * scale), the exact per-type median gap, and the e4 share of gaps
    * within [½·median, 2·median] — the pipeline-health readout that flags
    * bursty or stalled sources.
    */
  def q_ts_regularity(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("event_type", "day")
      .orderBy(col("ts_usl").asc, col("event_id").asc)
    val gaps = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), to_date(col("ts_us")).as("day"),
        col("ts_usl"), col("event_id"))
      .withColumn("prev", lag(col("ts_usl"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("ts_usl") - col("prev")).as("gap"))
    val med = Relational.latticePercentile(
        gaps.groupBy(col("event_type"), col("gap").as("pc")).agg(count(lit(1)).as("cnt")),
        "event_type", 0.5, "med")
      .select(col("event_type"), col("med"))
    gaps.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        when(col("gap").cast("double") * lit(2.0) >= col("med") &&
          col("gap").cast("double") <= col("med") * lit(2.0), 1L)
          .otherwise(0L).as("reg"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), max(col("med")).as("m"), sum(col("reg")).as("nr"))
      .select(col("event_type"), col("n_gaps"),
        (round(col("m"), 4) + lit(0.0)).as("median_gap_us"),
        expr("nr * 10000 div n_gaps").as("regular_share_e4"))
      .orderBy("event_type")
  }

  /** Repeat-purchase cadence: each user's median gap between consecutive
    * purchase events (exact integer hour gaps, per-user exact interpolated
    * median), reported as a histogram over whole-day buckets. One
    * user-keyed lag window + two aggregates; the retention-forecast input.
    */
  def q_purchase_interval_median(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
    val gaps = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_usl"), col("event_id"))
      .withColumn("prev", lag(col("ts_usl"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), expr("(ts_usl - prev) div 3600000000").as("gap_h"))
    gaps.groupBy(col("user_id"))
      .agg(percentile(col("gap_h"), lit(0.5)).as("med_h"))
      .select(floor(col("med_h") / lit(24.0)).cast("long").as("med_days_bucket"))
      .groupBy(col("med_days_bucket"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("med_days_bucket")
  }

  /** Last-observation-carried-forward gap fill: per return flag the daily
    * revenue series on a dense calendar scaffold (per-flag min..max day),
    * missing days filled by the last observed value — `last(ignoreNulls)`
    * over a flag-keyed window, the distributed LOCF idiom. Output per
    * flag: observed/missing day counts and the exact filled-series total.
    */
  def q_locf_fill(spark: SparkSession, sf: String): DataFrame = {
    val obs = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("flag"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("dayn"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    val scaffold = obs.groupBy(col("flag"))
      .agg(min(col("dayn")).as("d0"), max(col("dayn")).as("d1"))
      .select(col("flag"), explode(expr("sequence(d0, d1)")).as("dayn"))
    val w = Window.partitionBy("flag").orderBy("dayn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scaffold.join(obs, Seq("flag", "dayn"), "left_outer")
      .withColumn("filled", last(col("rev"), ignoreNulls = true).over(w))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("rev").isNull, 1L).otherwise(0L)).as("n_filled"),
        sum(col("filled")).as("filled_total_cents"))
      .orderBy("flag")
  }

  /** Lead-lag cross-correlation between the daily view-value and
    * purchase-value series at lags −3..+3 days (lag > 0 ⇒ views lead
    * purchases). Daily sums are exact BIGINT cents; each lag's Pearson r
    * is one fixed IEEE epilogue over the lag's five exact sums. Two tiny
    * aggregates and a 7×30 join — the series alignment is on the ~30-row
    * day table, never on raw events, so the shape is flat at any scale.
    */
  def q_cross_correlation(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    def daily(t: String): DataFrame = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === t)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("dayn"))
      .agg(sum(cents(col("value"))).as("s"))
    val v = daily("view").select(col("dayn"), col("s").as("x"))
    val p = daily("purchase").select(col("dayn").as("pdayn"), col("s").as("y"))
    val lags = spark.range(-3, 4).select(col("id").as("lag"))
    v.crossJoin(broadcast(lags))
      .join(p, col("pdayn") === col("dayn") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n_days"),
        (round(expr(
          """(CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"""),
          6) + lit(0.0)).as("r"))
      .orderBy("lag")
  }

  /** Browse-abandonment rate by day of week: the share of (user, day)
    * pairs with at least one view but no purchase that day. One
    * user-day aggregate then a 7-row rollup — the grain reduction comes
    * first, so the dow rollup never touches raw events twice.
    */
  def q_abandonment_rate(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"), to_date(col("ts_us")).as("day"))
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("hv"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("hp"))
      .groupBy(weekday(col("day")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_user_days"), sum(col("hv")).as("n_view_days"),
        sum(col("hv") * (lit(1L) - col("hp"))).as("n_abandoned"))
      .select(col("dow"), col("n_user_days"), col("n_view_days"), col("n_abandoned"),
        expr("n_abandoned * 10000 div n_view_days").as("abandon_rate_e4"))
      .orderBy("dow")

  /** Position-bias curve: click-through rate by within-session position
    * (rank of the event inside its user-day, event-time order). The CTR
    * decay over position is what a click model corrects for before using
    * clicks as relevance labels. One user-day window + a 10-row rollup.
    */
  def q_position_bias(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), to_date(col("ts_us")))
      .orderBy(col("ts_usl").asc, col("event_id").asc)
    Tables.eventsWithTs(spark, sf)
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <= 10L)
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"))
      .select(col("pos"), col("n_events"), col("n_clicks"),
        expr("n_clicks * 10000 div n_events").as("ctr_e4"))
      .orderBy("pos")
  }

  /** Behavioral-sequence similarity: each user's 30-day journey is
    * compressed to a string of daily dominant-event-type initials
    * (deterministic mode: count desc, type asc), then Levenshtein-aligned
    * against user 0's journey — the 10 nearest behavioral twins. The
    * expensive alignment runs on 150 compressed strings, never on raw
    * events; blocking (here: all-vs-one) is what keeps edit-distance
    * linkage tractable at scale.
    */
  def q_user_sequence_similarity(spark: SparkSession, sf: String): DataFrame = {
    val counts = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"), to_date(col("ts_us")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val wMode = Window.partitionBy("user_id", "day")
      .orderBy(col("c").desc, col("event_type").asc)
    val daily = counts.withColumn("rn", row_number().over(wMode)).filter(col("rn") === 1)
      .select(col("user_id"), col("day"), substring(col("event_type"), 1, 1).as("ch"))
    val seqs = daily.groupBy(col("user_id"))
      .agg(concat_ws("", array_sort(collect_list(struct(col("day"), col("ch"))))
        .getField("ch")).as("seq"))
    val q = seqs.filter(col("user_id") === 0)
      .select(col("seq").as("q_seq"))
    seqs.filter(col("user_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("user_id"), levenshtein(col("seq"), col("q_seq")).cast("long").as("edit_dist"),
        length(col("seq")).cast("long").as("seq_len"))
      .orderBy(col("edit_dist").asc, col("user_id").asc)
      .limit(10)
  }

  /** SAX symbolization of each event type's daily-revenue series: 5
    * six-day PAA segments, z-scored against the type's own exact
    * daily-sum statistics, mapped onto the 4-letter SAX alphabet
    * (±0.6745 / 0 breakpoints). The z epilogue is one fixed IEEE tree
    * per segment over exact BIGINT sums — PAA means are computed as
    * (segment sum, count) pairs, never as averaged floats.
    */
  def q_sax_symbolize(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts_us")), epoch).cast("long").as("dayn"))
      .agg(sum(cents(col("value"))).as("s"))
    val base = daily.groupBy(col("event_type"))
      .agg(min(col("dayn")).as("d0"), count(lit(1)).as("nd"),
        sum(col("s")).as("ts"), sum(col("s") * col("s")).as("tq"))
    val segs = daily.join(base, "event_type")
      .groupBy(col("event_type"), expr("(dayn - d0) div 6").as("seg"))
      .agg(sum(col("s")).as("ss"), count(lit(1)).as("sc"),
        max(col("ts")).as("ts"), max(col("tq")).as("tq"), max(col("nd")).as("nd"))
      .select(col("event_type"), col("seg"),
        expr(
          """(CAST(ss AS DOUBLE) / CAST(sc AS DOUBLE) - CAST(ts AS DOUBLE) / CAST(nd AS DOUBLE))
             / SQRT((CAST(tq AS DOUBLE) - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(nd AS DOUBLE))
                    / CAST(nd - 1 AS DOUBLE))""").as("z"))
      .select(col("event_type"), col("seg"),
        when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
          .when(col("z") < 0.6745, "c").otherwise("d").as("sym"),
        col("z"))
    segs.groupBy(col("event_type"))
      .agg(concat_ws("", array_sort(collect_list(struct(col("seg"), col("sym"))))
        .getField("sym")).as("sax"),
        (round(min(col("z")), 4) + lit(0.0)).as("min_z"),
        (round(max(col("z")), 4) + lit(0.0)).as("max_z"))
      .orderBy("event_type")
  }

  /** Unnormalized 2-level Haar wavelet energy decomposition of the daily
    * total-value series: pairwise sums/differences on the day index
    * (a=x₂ᵢ+x₂ᵢ₊₁, d=x₂ᵢ−x₂ᵢ₊₁ — all exact BIGINTs, no √2 anywhere),
    * energies per level. Detail-1 energy ≈ day-to-day noise, detail-2 ≈
    * 2-4-day swings, approx-2 ≈ the weekly trend floor — the multi-
    * resolution screen before picking a smoothing window. Three hash
    * aggregates on derived pair keys; no windows at all.
    */
  def q_haar_energy(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("dayn"))
      .agg(sum(cents(col("value"))).as("x"))
    val d0 = raw.agg(min(col("dayn")).as("d0"))
    val daily = raw.crossJoin(broadcast(d0))
      .select((col("dayn") - col("d0")).as("i"), col("x"))
    val l1 = daily.groupBy(expr("i div 2").as("p"))
      .agg(sum(col("x")).as("a1"),
        sum(col("x") * (lit(1L) - lit(2L) * (col("i") % 2))).as("d1"))
    val l2 = l1.groupBy(expr("p div 2").as("p2"))
      .agg(sum(col("a1")).as("a2"),
        sum(col("a1") * (lit(1L) - lit(2L) * (col("p") % 2))).as("d2"))
    val e0 = daily.agg(count(lit(1)).as("n_days"), sum(col("x") * col("x")).as("e_signal"))
    val e1 = l1.agg(sum(col("d1") * col("d1")).as("e_detail1"))
    val e2 = l2.agg(sum(col("d2") * col("d2")).as("e_detail2"),
      sum(col("a2") * col("a2")).as("e_approx2"))
    e0.crossJoin(e1).crossJoin(e2)
  }

  /** Streaming-state retention sweep: for watermark delays of 1 h / 6 h /
    * 24 h, how many event rows and distinct user keys the state store
    * would still hold at the stream's high-water mark. The sizing read
    * BEFORE deploying a stateful query — delay × key-cardinality is the
    * memory bill. One max + one broadcast + one aggregate per delay row.
    */
  def q_state_retention_sweep(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf).select(col("ts_usl"), col("user_id"))
    val hw = ev.agg(max(col("ts_usl")).as("hw"))
    val delays = ev.sparkSession.range(0, 3)
      .select(when(col("id") === 0, 3600000000L).when(col("id") === 1, 21600000000L)
        .otherwise(86400000000L).as("delay_us"))
    ev.crossJoin(broadcast(hw)).crossJoin(broadcast(delays))
      .filter(col("ts_usl") > col("hw") - col("delay_us"))
      .groupBy(expr("delay_us div 3600000000").as("delay_hours"))
      .agg(count(lit(1)).as("n_state_rows"), countDistinct(col("user_id")).as("n_open_keys"))
      .orderBy("delay_hours")
  }

  /** Q-Q alignment of the view vs purchase value distributions at 19
    * interior ventiles: exact interpolated quantiles of both series side
    * by side — the distribution-shape comparison a histogram hides. One
    * aggregate per series (array percentile), exploded on the shared
    * probability index.
    */
  def q_qq_quantiles(spark: SparkSession, sf: String): DataFrame = {
    val probs = (1 to 19).map(_ / 20.0)
    def side(t: String, as: String): DataFrame =
      Relational.latticePercentiles(
          Tables.eventsWithTs(spark, sf).filter(col("event_type") === t)
            .groupBy(cents(col("value")).as("pc")).agg(count(lit(1)).as("cnt")),
          Seq(), probs.zipWithIndex.map { case (p, i) => p -> s"v$i" })
        .select(array(probs.indices.map(i => col(s"v$i")): _*).as("qs"))
        .select(posexplode(col("qs")))
        .select(col("pos"), col("col").as(as))
    side("view", "view_q").join(side("purchase", "purchase_q"), "pos")
      .select((col("pos") * 5 + 5).cast("long").as("pct"),
        (round(col("view_q"), 4) + lit(0.0)).as("view_q"),
        (round(col("purchase_q"), 4) + lit(0.0)).as("purchase_q"))
      .orderBy("pct")
  }

  /** XmR (individuals / moving-range) control chart per event type: the
    * center line is the exact daily-total mean, the ±limits are
    * center ± 2.66·MR̄ (moving ranges are |Δ| of integer daily sums, so
    * MR̄ is exact-rational), and the out-of-control day count is the SPC
    * alarm total. One keyed lag window + one aggregate per type.
    */
  def q_control_chart(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts_us")).as("day"))
      .agg(sum(cents(col("value"))).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    val mr = daily
      .withColumn("mrange", abs(col("x") - lag(col("x"), 1).over(w)))
    val st = mr.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
        sum(col("mrange")).as("smr"), count(col("mrange")).as("nmr"))
    mr.join(st, "event_type")
      .select(col("event_type"), col("n_days"), col("x"),
        expr("CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)").as("center"),
        expr("2.66 * CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE)").as("band"))
      .groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"),
        (round(max(col("center")), 4) + lit(0.0)).as("center"),
        (round(max(col("center")) + max(col("band")), 4) + lit(0.0)).as("ucl"),
        (round(max(col("center")) - max(col("band")), 4) + lit(0.0)).as("lcl"),
        sum(when(col("x").cast("double") > col("center") + col("band"), 1L)
          .when(col("x").cast("double") < col("center") - col("band"), 1L)
          .otherwise(0L)).as("n_out_of_control"))
      .orderBy("event_type")
  }

  /** Discrete periodogram of the daily revenue series at candidate
    * periods 2-7 days: power(p) = (Σx·cos(2πt/p))² + (Σx·sin(2πt/p))²,
    * normalized to shares — "is there a weekly cycle" answered in one
    * pass. The trig arguments are the same rationals on both engines;
    * per-period sums are a 6×30 broadcast product, no shuffle beyond the
    * daily rollup.
    */
  def q_periodogram(spark: SparkSession, sf: String): DataFrame = {
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
    pw.crossJoin(broadcast(tot))
      .select(col("p").as("period_days"),
        (round(expr("power / tp"), 6) + lit(0.0)).as("power_share"))
      .orderBy("period_days")
  }

  /** Matrix profile (window=5, exclusion zone 3) of the daily revenue
    * series: for every 5-day window, the z-normalized distance to its
    * nearest non-trivial neighbor window — minima are motifs, maxima are
    * discords. Window stats come from exact sums; the 26×26 alignment is
    * a bounded index join on the ~30-row daily table, the small-series
    * twin of what a scalable STOMP would tile.
    */
  def q_matrix_profile(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("dayn"))
      .agg(sum(cents(col("value"))).as("x"))
    val d0 = raw.agg(min(col("dayn")).as("d0"), max(col("dayn")).as("d1"))
    val daily = raw.crossJoin(broadcast(d0))
      .select((col("dayn") - col("d0")).as("t"), col("x"),
        (col("d1") - col("d0") + 1L).as("nd"))
    val wins = Mat.once(daily.as("w")
      .join(daily.select(col("t").as("u"), col("x").as("xu")).as("e"),
        col("u").between(col("t"), col("t") + 4L))
      .groupBy(col("t"), col("nd"))
      .agg(count(lit(1)).as("wn"), sum(col("xu")).as("ws"),
        sum(col("xu") * col("xu")).as("wq"))
      .filter(col("wn") === 5L && col("t") <= col("nd") - 5L)
      .select(col("t"), col("ws"), col("wq")))
    // element-aligned cross-window products: offset k=0..4
    val elems = daily.select(col("t").as("et"), col("x"))
    val prod = wins.select(col("t").as("i"), col("ws").as("wsi"), col("wq").as("wqi"))
      .crossJoin(wins.select(col("t").as("j"), col("ws").as("wsj"), col("wq").as("wqj")))
      .filter(abs(col("i") - col("j")) >= 3L)
      .join(elems.select(col("et").as("ei"), col("x").as("xi")),
        col("ei").between(col("i"), col("i") + 4L))
      .join(elems.select(col("et").as("ej"), col("x").as("xj")),
        col("ej") - col("j") === col("ei") - col("i"))
      .groupBy(col("i"), col("j"), col("wsi"), col("wqi"), col("wsj"), col("wqj"))
      .agg(sum(col("xi") * col("xj")).as("sxy"))
    val dist = prod.select(col("i"), col("j"),
      (round(expr(
        """SQRT(GREATEST(0.0, 2.0 * 5.0 * (1.0 -
             (CAST(sxy AS DOUBLE) - 5.0 * (CAST(wsi AS DOUBLE) / 5.0) * (CAST(wsj AS DOUBLE) / 5.0))
             / (5.0 * SQRT((CAST(wqi AS DOUBLE) / 5.0 - (CAST(wsi AS DOUBLE) / 5.0) * (CAST(wsi AS DOUBLE) / 5.0))
                           * (CAST(wqj AS DOUBLE) / 5.0 - (CAST(wsj AS DOUBLE) / 5.0) * (CAST(wsj AS DOUBLE) / 5.0)))))))"""),
        4) + lit(0.0)).as("zdist"))
    val w = Window.partitionBy(col("i")).orderBy(col("zdist").asc, col("j").asc)
    dist.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("i").as("window_start"), col("j").as("nn_window"), col("zdist"))
      .orderBy("window_start")
  }

  /** Gumbel fit of 5-day block maxima of daily revenue by the method of
    * moments (β = s√6/π, μ = m − γβ with literal γ, π) plus the implied
    * exceedance probability of 1.5× the mean block max — extreme-value
    * sizing from exactly six numbers. Block maxima are exact integers;
    * only the moment epilogue and the double-exponential are float.
    */
  def q_gumbel_maxima(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("dayn"))
      .agg(sum(cents(col("value"))).as("x"))
    val d0 = raw.agg(min(col("dayn")).as("d0"))
    val blocks = raw.crossJoin(broadcast(d0))
      .groupBy(expr("(dayn - d0) div 5").as("blk"))
      .agg(max(col("x")).as("mx"))
    blocks.agg(count(lit(1)).as("nb"), sum(col("mx")).as("s"),
      sum(col("mx") * col("mx")).as("q"))
      .select(col("nb").as("n_blocks"),
        expr("CAST(s AS DOUBLE) / CAST(nb AS DOUBLE)").as("m"),
        expr("""SQRT((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nb AS DOUBLE))
                / CAST(nb - 1 AS DOUBLE))""").as("sd"))
      .select(col("n_blocks"),
        expr("sd * 2.449489742783178 / 3.141592653589793").as("beta"),
        col("m"), col("sd"))
      .select(col("n_blocks"),
        (round(col("m"), 4) + lit(0.0)).as("mean_block_max"),
        (round(expr("m - 0.5772156649 * beta"), 4) + lit(0.0)).as("gumbel_mu"),
        (round(col("beta"), 4) + lit(0.0)).as("gumbel_beta"),
        (round(expr("1.0 - exp(-exp(-(1.5 * m - (m - 0.5772156649 * beta)) / beta))"), 6)
          + lit(0.0)).as("p_exceed_150pct"))
  }

  /** M/M/1 queueing assessment of the error stream: arrival rate λ from
    * exact event counts, a declared service capacity μ = 50/hour, and
    * the steady-state utilization ρ, queue length Lq = ρ²/(1−ρ), and
    * wait Wq — the back-of-envelope every incident-response rota is
    * sized by, as a query.
    */
  def q_mm1_queue(spark: SparkSession, sf: String): DataFrame = {
    val span = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "error")
      .agg(count(lit(1)).as("n"), min(col("ts_usl")).as("t0"), max(col("ts_usl")).as("t1"))
    span.select(col("n").as("n_errors"),
      expr("CAST(n AS DOUBLE) * 3600000000.0 / CAST(t1 - t0 AS DOUBLE)").as("lambda_hr"))
      .select(col("n_errors"),
        (round(col("lambda_hr"), 4) + lit(0.0)).as("arrivals_per_hour"),
        (round(expr("lambda_hr / 50.0"), 6) + lit(0.0)).as("rho"),
        (round(expr("(lambda_hr / 50.0) * (lambda_hr / 50.0) / (1.0 - lambda_hr / 50.0)"), 6)
          + lit(0.0)).as("lq"),
        (round(expr(
          """(lambda_hr / 50.0) * (lambda_hr / 50.0) / (1.0 - lambda_hr / 50.0) / lambda_hr
             * 60.0"""), 6) + lit(0.0)).as("wq_minutes"))
  }

  /** Sessionization-threshold sensitivity sweep: session counts and mean
    * session size under inactivity gaps of 5/15/30/60 minutes — the
    * tuning table read before freezing a session definition, produced
    * from ONE keyed lag pass crossed with the threshold list.
    */
  def q_session_gap_sweep(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_usl").asc, col("event_id").asc)
    val gaps = Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("ts_usl"), col("event_id"))
      .withColumn("gap_us", col("ts_usl") - lag(col("ts_usl"), 1).over(w))
    val ts = gaps.sparkSession.range(0, 4)
      .select(when(col("id") === 0, 5L).when(col("id") === 1, 15L)
        .when(col("id") === 2, 30L).otherwise(60L).as("gap_min"))
    gaps.crossJoin(broadcast(ts))
      .groupBy(col("gap_min"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("gap_us").isNull ||
          col("gap_us") > col("gap_min") * 60000000L, 1L).otherwise(0L)).as("n_sessions"))
      .select(col("gap_min"), col("n_events"), col("n_sessions"),
        expr("n_events * 10000 div n_sessions").as("mean_events_per_session_e4"))
      .orderBy("gap_min")
  }

  /** Rolling 10-day regression beta of purchase revenue on view count:
    * per day, the OLS slope over the trailing window — the time-varying
    * sensitivity a single global regression averages away. Windows are
    * bounded day-index range joins (≤10 rows each) over the ~30-row
    * daily table; sums exact, slope one tree per day.
    */
  def q_rolling_beta(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L)).as("y"))
    daily.as("a")
      .join(daily.select(col("t").as("t2"), col("x").as("x2"), col("y").as("y2")).as("b"),
        col("t2").between(col("t") - 9, col("t")))
      .groupBy(col("a.t").as("t"))
      .agg(count(lit(1)).as("n"), sum(col("x2")).as("sx"), sum(col("y2")).as("sy"),
        sum(col("x2") * col("y2")).as("sxy"), sum(col("x2") * col("x2")).as("sxx"))
      .filter(col("n") === 10)
      .select(col("t").as("day_index"),
        (round(expr(
          """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""),
          4) + lit(0.0)).as("rolling_beta"))
      .orderBy("day_index")
  }

  /** Hurst exponent of the daily event-count series by rescaled-range
    * analysis: partition the 30-day series into full blocks of m ∈
    * {5, 10, 15} days, compute R/S per block (range of cumulative
    * deviations over the block sd), average per scale, and fit
    * ln(R/S) ~ ln(m) by OLS — H≈0.5 is a random walk, H>0.5 trending
    * traffic. Within-block cumulative sums are bounded theta joins
    * (≤15-element bands), never a partition-less window.
    */
  def q_hurst_exponent(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), lit("2024-01-01").cast("date"))
        .cast("long").as("d"))
      .agg(count(lit(1)).as("x"))
    val scales = Seq(5L, 10L, 15L).toDF("m")
    val cells = daily.crossJoin(broadcast(scales))
      .select(col("m"), expr("d div m").as("blk"), col("d"), col("x"))
    val blkStats = cells.groupBy(col("m"), col("blk"))
      .agg(count(lit(1)).as("nb"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("nb") === col("m"))
      .select(col("m"), col("blk"),
        (col("sx").cast("double") / col("nb").cast("double")).as("mu"),
        sqrt(col("sxx").cast("double") / col("nb").cast("double")
          - (col("sx").cast("double") / col("nb").cast("double"))
            * (col("sx").cast("double") / col("nb").cast("double"))).as("sd"))
    // cumulative deviation at day d = (partial sum through d) - (#days)*mu
    val cum = cells.as("a")
      .join(cells.select(col("m").as("m2"), col("blk").as("blk2"),
        col("d").as("d2"), col("x").as("x2")).as("b"),
        col("m2") === col("a.m") && col("blk2") === col("a.blk")
          && col("d2") <= col("a.d"))
      .groupBy(col("a.m").as("m"), col("a.blk").as("blk"), col("a.d").as("d"))
      .agg(sum(col("x2")).as("ps"), count(lit(1)).as("k"))
      .join(blkStats, Seq("m", "blk"))
      .filter(col("sd") > 0)
      .select(col("m"), col("blk"), col("sd"),
        (col("ps").cast("double") - col("k").cast("double") * col("mu")).as("cd"))
    val rs = Mat.once(cum.groupBy(col("m"), col("blk"), col("sd"))
      .agg((max(col("cd")) - min(col("cd"))).as("r"))
      .groupBy(col("m"))
      .agg(avg(col("r") / col("sd")).as("rs_mean"), count(lit(1)).as("n_blocks")))
    val fit = rs.select(log(col("m").cast("double")).as("lx"),
        log(col("rs_mean")).as("ly"))
      .agg(count(lit(1)).cast("double").as("n"), sum(col("lx")).as("sx"),
        sum(col("ly")).as("sy"), sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"))
      .select((round((col("n") * col("sxy") - col("sx") * col("sy"))
        / (col("n") * col("sxx") - col("sx") * col("sx")), 4) + lit(0.0))
        .as("hurst"))
    rs.crossJoin(broadcast(fit))
      .select(col("m").as("block_days"), col("n_blocks"),
        (round(col("rs_mean"), 4) + lit(0.0)).as("rs_mean"), col("hurst"))
      .orderBy("block_days")
  }

  /** Geometric adstock (decay 0.5, 7-day carryover) of daily view counts
    * vs same-day purchase counts: does smoothed past exposure correlate
    * with conversions better than raw same-day exposure? The adstock
    * convolution is a bounded theta join with exact powers of two, so
    * both engines agree bit-for-bit on the kernel.
    */
  def q_adstock_decay(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), lit("2024-01-01").cast("date"))
        .cast("long").as("d"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val ad = daily.as("a")
      .join(daily.select(col("d").as("d2"), col("x").as("x2")).as("b"),
        col("d2").between(col("a.d") - 7, col("a.d")))
      .groupBy(col("a.d").as("d"), col("a.x").as("x"), col("a.y").as("y"))
      .agg(sum(col("x2").cast("double")
        * pow(lit(0.5), (col("d") - col("d2")).cast("double"))).as("adstock"))
    ad.agg(count(lit(1)).as("n_days"),
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("double")).as("sx"), sum(col("y").cast("double")).as("sy"),
        sum(col("adstock")).as("sa"),
        sum(col("x").cast("double") * col("y").cast("double")).as("sxy"),
        sum(col("x").cast("double") * col("x").cast("double")).as("sxx"),
        sum(col("y").cast("double") * col("y").cast("double")).as("syy"),
        sum(col("adstock") * col("y").cast("double")).as("say"),
        sum(col("adstock") * col("adstock")).as("saa"))
      .select(col("n_days"),
        (round((col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 4) + lit(0.0))
          .as("corr_raw"),
        (round((col("n") * col("say") - col("sa") * col("sy"))
          / (sqrt(col("n") * col("saa") - col("sa") * col("sa"))
            * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 4) + lit(0.0))
          .as("corr_adstock"))
  }

  /** Bounce rate by day-of-week: a user-day with exactly one event is a
    * bounce; the day-of-week is the epoch-day index mod 7 (identical
    * integer arithmetic on both engines, no locale-dependent dow).
    */
  def q_bounce_rate(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"),
        datediff(to_date(col("ts_us")), lit("2024-01-01").cast("date"))
          .cast("long").as("d"))
      .agg(count(lit(1)).as("n_ev"))
      .groupBy((col("d") % 7).as("dow"))
      .agg(count(lit(1)).as("n_user_days"),
        sum(when(col("n_ev") === 1L, 1L).otherwise(0L)).as("n_bounce"))
      .select(col("dow"), col("n_user_days"), col("n_bounce"),
        (round(col("n_bounce").cast("double") / col("n_user_days").cast("double"), 4)
          + lit(0.0)).as("bounce_rate"))
      .orderBy("dow")

  /** Hour-of-day load profile: χ² against the uniform 24-hour split
    * plus the (deterministically tie-broken) peak hour — the hour comes
    * from exact µs integer arithmetic on both engines.
    */
  def q_hourly_profile(spark: SparkSession, sf: String): DataFrame = {
    val hours = Mat.once(Tables.eventsWithTs(spark, sf)
      .groupBy(expr("CAST((ts_usl div 3600000000) % 24 AS BIGINT)").as("h"))
      .agg(count(lit(1)).as("c")))
    val tot = hours.agg(sum(col("c")).as("n"))
    val chi = hours.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"),
        sum((col("c").cast("double") - col("n").cast("double") / lit(24.0))
          * (col("c").cast("double") - col("n").cast("double") / lit(24.0))
          / (col("n").cast("double") / lit(24.0))).as("chi2"),
        max(col("c")).as("cmax"))
    val peak = hours.crossJoin(broadcast(chi.select(col("cmax"))))
      .filter(col("c") === col("cmax"))
      .agg(min(col("h")).as("peak_hour"))
    chi.crossJoin(peak)
      .select(col("n").as("n_events"),
        (round(col("chi2"), 4) + lit(0.0)).as("chi2_uniform"),
        when(col("chi2") > lit(35.172462), 1L).otherwise(0L)
          .as("reject_uniform"),
        col("peak_hour"))
  }

  // ---- §2.160 sequential pattern mining — PrefixSpan pairs, GSP, contrast ----

  /** Per-(user, event_type) first/last position in the user's stream
    * (position = row_number by (ts_usl, event_id), the deterministic
    * sequence order). The closed form `minpos(A) < maxpos(B)` decides
    * "some A occurs before some B" without any occurrence² join — the
    * §2.160 miners all run on this alphabet-bounded table (users ×
    * ≤5 types).
    */
  private def userTypeSpans(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_usl", "event_id")
    Mat.once(Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("event_type"),
        row_number().over(w).cast("long").as("pos"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("pos")).as("minp"), max(col("pos")).as("maxp")))
  }

  /** PrefixSpan level-2 patterns — gap-allowed "A then B" support over
    * every ordered event-type pair: users whose stream contains some A
    * before some B (exact via the span closed form), confidence vs
    * users-with-A, and lift vs P(user has B). Pattern MINING over the
    * whole alphabet, unlike the fixed-stage funnel queries; the pair
    * space is alphabet², never occurrence².
    */
  def q_prefixspan_pairs(spark: SparkSession, sf: String): DataFrame = {
    val spans = userTypeSpans(spark, sf)
    val nUsers = spans.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val typeUsers = spans.groupBy(col("event_type"))
      .agg(count(lit(1)).as("t_users"))
    val sup = spans.as("a")
      .join(spans.select(col("user_id").as("u2"), col("event_type").as("tb"),
        col("maxp").as("maxp2")).as("b"),
        col("user_id") === col("u2") && col("event_type") =!= col("tb") &&
          col("minp") < col("maxp2"))
      .groupBy(col("event_type").as("type_a"), col("tb").as("type_b"))
      .agg(count(lit(1)).as("support_users"))
    sup
      .join(broadcast(typeUsers.select(col("event_type").as("type_a"),
        col("t_users").as("users_a"))), "type_a")
      .join(broadcast(typeUsers.select(col("event_type").as("type_b"),
        col("t_users").as("users_b"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("support_users"),
        col("users_a"), col("users_b"),
        expr("support_users * 10000 div users_a").as("confidence_e4"),
        expr("support_users * n_users * 10000 div (users_a * users_b)")
          .as("lift_e4"))
      .orderBy(col("support_users").desc, col("type_a"), col("type_b"))
      .limit(20)
  }

  /** GSP windowed sequential pairs (Srikant-Agrawal EDBT'96 max-gap):
    * "B within 24h after A" support per ordered type pair, next to the
    * gap-unbounded support — how much pattern mass the window constraint
    * removes. Occurrence pairs join calendar-bounded (same user, same or
    * adjacent day) then filter the exact µs gap — never occurrence²
    * across the stream.
    */
  def q_gsp_windowed_pairs(spark: SparkSession, sf: String): DataFrame = {
    val ev = Mat.once(Tables.eventsWithTs(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts_usl"),
        expr("ts_usl div 86400000000").as("day")))
    // register each B occurrence under its own day AND the previous day so
    // the pair join is a pure (user, day) equi-join — per-bucket bounded,
    // never occurrence² across a user's whole stream
    val evb = ev.select(col("user_id").as("u2"), col("event_type").as("tb"),
        col("ts_usl").as("ts2"),
        explode(array(col("day"), col("day") - 1L)).as("dayb"))
    val windowed = ev.join(evb,
        col("user_id") === col("u2") && col("day") === col("dayb") &&
          col("event_type") =!= col("tb") &&
          col("ts2") > col("ts_usl") &&
          col("ts2") - col("ts_usl") <= lit(86400000000L))
      .select(col("user_id"), col("event_type").as("type_a"),
        col("tb").as("type_b")).distinct()
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("support_24h"))
    val spans = userTypeSpans(spark, sf)
    val anyGap = spans.as("a")
      .join(spans.select(col("user_id").as("u2"), col("event_type").as("tb"),
        col("maxp").as("maxp2")).as("b"),
        col("user_id") === col("u2") && col("event_type") =!= col("tb") &&
          col("minp") < col("maxp2"))
      .groupBy(col("event_type").as("type_a"), col("tb").as("type_b"))
      .agg(count(lit(1)).as("support_any_gap"))
    anyGap.join(windowed, Seq("type_a", "type_b"), "left_outer")
      .select(col("type_a"), col("type_b"), col("support_any_gap"),
        coalesce(col("support_24h"), lit(0L)).as("support_24h"))
      .select(col("type_a"), col("type_b"), col("support_any_gap"),
        col("support_24h"),
        expr("(support_any_gap - support_24h) * 10000 div support_any_gap")
          .as("window_loss_e4"))
      .orderBy("type_a", "type_b")
  }

  /** Contrast sequential patterns: A-then-B support rate per user cohort
    * (above vs below the mean per-user event value), the e4 support gap
    * ranked — which behavioural sequences discriminate high-value users.
    * The emerging-pattern flavour of sequence mining; cohort tags join
    * broadcast, the pair space stays alphabet-bounded.
    */
  def q_contrast_sequences(spark: SparkSession, sf: String): DataFrame = {
    val userVal = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id")).agg(sum(cents(col("value"))).as("v"))
    val meanV = userVal.agg((sum(col("v")) / count(lit(1))).as("mv"))
    val cohorts = Mat.once(userVal.crossJoin(broadcast(meanV))
      .select(col("user_id"),
        when(col("v").cast("double") >= col("mv"), lit("high"))
          .otherwise(lit("low")).as("cohort")))
    val cohortSizes = cohorts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("c_users"))
    val spans = userTypeSpans(spark, sf)
    val pairUsers = spans.as("a")
      .join(spans.select(col("user_id").as("u2"), col("event_type").as("tb"),
        col("maxp").as("maxp2")).as("b"),
        col("user_id") === col("u2") && col("event_type") =!= col("tb") &&
          col("minp") < col("maxp2"))
      .select(col("user_id"), col("event_type").as("type_a"),
        col("tb").as("type_b"))
    val rates = pairUsers.join(cohorts, "user_id")
      .groupBy(col("type_a"), col("type_b"), col("cohort"))
      .agg(count(lit(1)).as("sup"))
      .join(broadcast(cohortSizes), "cohort")
      .select(col("type_a"), col("type_b"), col("cohort"),
        expr("sup * 10000 div c_users").as("rate_e4"))
    val hi = rates.filter(col("cohort") === "high")
      .select(col("type_a"), col("type_b"), col("rate_e4").as("rate_high_e4"))
    val lo = rates.filter(col("cohort") === "low")
      .select(col("type_a"), col("type_b"), col("rate_e4").as("rate_low_e4"))
    hi.join(lo, Seq("type_a", "type_b"), "full_outer")
      .select(col("type_a"), col("type_b"),
        coalesce(col("rate_high_e4"), lit(0L)).as("rate_high_e4"),
        coalesce(col("rate_low_e4"), lit(0L)).as("rate_low_e4"))
      .select(col("type_a"), col("type_b"), col("rate_high_e4"),
        col("rate_low_e4"),
        abs(col("rate_high_e4") - col("rate_low_e4")).as("contrast_e4"))
      .orderBy(col("contrast_e4").desc, col("type_a"), col("type_b"))
      .limit(15)
  }
  // ---- §2.171 online decision rules — ski rental, secretary, prophet ------

  /** Ski-rental audit on per-user event counts as "days": always-rent,
    * buy-immediately (B=10), and the break-even rule (rent B−1 days,
    * then buy) against the offline OPT = min(d, B) — the (2−1/B)-
    * competitive classic, measured as exact integer totals. One keyed
    * aggregate + a 3-row strategy lattice.
    */
  def q_ski_rental(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("d"))
    d.agg(
        sum(col("d")).as("rent_total"),
        (count(lit(1)) * 10L).as("buy_total"),
        sum(when(col("d") < 10L, col("d")).otherwise(19L)).as("breakeven_total"),
        sum(least(col("d"), lit(10L))).as("opt_total"))
      .select(explode(array(
        struct(lit("always_rent").as("strategy"),
          col("rent_total").as("total_cost")),
        struct(lit("buy_immediately").as("strategy"),
          col("buy_total").as("total_cost")),
        struct(lit("breakeven_rule").as("strategy"),
          col("breakeven_total").as("total_cost")))).as("s"),
        col("opt_total"))
      .select(col("s.strategy").as("strategy"),
        col("s.total_cost").as("total_cost"), col("opt_total"),
        expr("s.total_cost * 10000 div opt_total").as("ratio_vs_opt_e4"))
      .orderBy("strategy")
  }

  /** Secretary 1/e rule on each user's event-value sequence: skip the
    * first ⌊n/e⌋ values (e via the 36788/100000 integer rational), then
    * take the first value beating the observation-phase max; success =
    * that pick equals the sequence max. The measured success share sits
    * around the 1/e ≈ 0.3679 optimum the stopping theorem promises.
    * All per-user work is user-keyed windows + co-keyed joins.
    */
  def q_secretary_rule(spark: SparkSession, sf: String): DataFrame = {
    val win = Window.partitionBy("u").orderBy("ns", "id")
    val seq = Mat.once(Tables.eventsWithTs(spark, sf)
      .select(col("user_id").as("u"), col("ts_nsl").as("ns"),
        col("event_id").as("id"), cents(col("value")).as("v"))
      .withColumn("rn", row_number().over(win).cast("long")))
    val st = seq.groupBy(col("u"))
      .agg(count(lit(1)).as("n"), max(col("v")).as("vmax"))
      .filter(col("n") >= 5L)
      .select(col("u"), col("vmax"), expr("n * 36788 div 100000").as("r"))
    val mr = seq.join(st, "u").filter(col("rn") <= col("r"))
      .groupBy(col("u")).agg(max(col("v")).as("mr"))
    val pick = seq.join(st, "u").join(mr, "u")
      .filter(col("rn") > col("r") && col("v") > col("mr"))
      .groupBy(col("u")).agg(min_by(col("v"), col("rn")).as("picked"))
    st.join(pick, Seq("u"), "left_outer")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("picked") === col("vmax"), 1L).otherwise(0L))
          .as("n_success"))
      .select(col("n_users"), col("n_success"),
        expr("n_success * 10000 div n_users").as("success_share_e4"),
        lit(3679L).as("theory_1_over_e_e4"))
  }

  /** Prophet-inequality threshold rule: per user take the first value v
    * with 2v ≥ max — the picked total is provably ≥ half the prophet's
    * Σmax, and the audit reports the measured e4 ratio next to the 5000
    * guarantee. Same keyed-sequence machinery as the secretary rule;
    * the two together are the stopping-theory corner of the suite.
    */
  def q_prophet_threshold(spark: SparkSession, sf: String): DataFrame = {
    val win = Window.partitionBy("u").orderBy("ns", "id")
    val seq = Mat.once(Tables.eventsWithTs(spark, sf)
      .select(col("user_id").as("u"), col("ts_nsl").as("ns"),
        col("event_id").as("id"), cents(col("value")).as("v"))
      .withColumn("rn", row_number().over(win).cast("long")))
    val st = seq.groupBy(col("u")).agg(max(col("v")).as("vmax"))
    val pick = seq.join(st, "u")
      .filter(col("v") * 2L >= col("vmax"))
      .groupBy(col("u")).agg(min_by(col("v"), col("rn")).as("picked"),
        max(col("vmax")).as("vmax"))
    pick.agg(count(lit(1)).as("n_users"), sum(col("picked")).as("picked_total"),
        sum(col("vmax")).as("prophet_total"))
      .select(col("n_users"), col("picked_total"), col("prophet_total"),
        expr("picked_total * 10000 div prophet_total").as("ratio_e4"),
        lit(5000L).as("guarantee_e4"))
  }

  // ---- §2.185 cache / working-set analytics -------------------------------

  /** Global access-sequence numbers over the event stream WITHOUT a
    * global window: band the timeline with the banded scan's in-plan
    * sizing ([[BandedScan.withBand]], ≤ √n + 1 bands), row_number within
    * each band (keyed window), then add the banded prefix count of
    * earlier bands. Returns (key, rn) — key = user_id (the "cache line"),
    * rn = 1-based position in the (ts, event_id) total order — and the
    * one-row access total `n`. Building it runs no Spark job.
    */
  private def accessSeq(spark: SparkSession, sf: String): (DataFrame, DataFrame) = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("user_id").as("key"), col("ts_usl").as("t"),
        col("event_id").as("id"))
    val banded = BandedScan.withBand(ev, Nil, "t", "band")
    val wIn = Window.partitionBy("band").orderBy(col("t"), col("id"))
    val inBand = banded.withColumn("r_in", row_number().over(wIn).cast("long"))
    val prefix = BandedScan
      .cumSums(banded.groupBy("band").agg(count(lit(1)).as("cnt")),
        Nil, "band", Seq("cnt" -> "cum"))
      .select(col("band"), (col("cum") - col("cnt")).as("prev"))
    (inBand.join(prefix, "band")
      .select(col("key"), (col("prev") + col("r_in")).as("rn")),
      ev.agg(count(lit(1)).as("n")))
  }

  /** Reuse distances: rn − previous rn of the same key (a keyed window),
    * null for compulsory first accesses; plus the access total. */
  private def reuseDist(spark: SparkSession, sf: String): (DataFrame, DataFrame) = {
    val (acc, n) = accessSeq(spark, sf)
    val w = Window.partitionBy("key").orderBy("rn")
    (acc.withColumn("d", col("rn") - lag(col("rn"), 1).over(w))
      .filter(col("d").isNotNull), n)
  }

  /** Shared CASE tree: power-of-two reuse-distance bucket 0..20. */
  private val reuseBucket: String = {
    val whens = (1 to 20)
      .map(bkt => s"WHEN d < ${1L << bkt} THEN ${bkt - 1}").mkString(" ")
    s"(CASE $whens ELSE 20 END)"
  }

  /** Reuse-distance histogram — the locality profile cache sizing reads
    * off directly: per power-of-two bucket the access count, its share
    * of ALL accesses (e6), and the exact min/max distance seen. The
    * global sequence numbering is banded (no single-task window), so
    * the whole profile is shuffle-bounded at any corpus size.
    */
  def q_reuse_distance(spark: SparkSession, sf: String): DataFrame = {
    val (r, n) = reuseDist(spark, sf)
    r.groupBy(expr(s"CAST($reuseBucket AS BIGINT)").as("bucket"))
      .agg(count(lit(1)).as("n_accesses"),
        min(col("d")).as("d_min"), max(col("d")).as("d_max"))
      .crossJoin(broadcast(n))
      .select(col("bucket"), col("n_accesses"),
        expr("n_accesses * 1000000 div n").as("share_e6"),
        col("d_min"), col("d_max"))
      .orderBy("bucket")
  }

  /** LRU hit-rate curve by cache size (16..4096 lines) under the classic
    * time-distance approximation: temporal reuse distance >= stack
    * distance, so counting accesses with d <= c only counts guaranteed
    * hits and each point LOWER-bounds the true LRU hit rate. Per size the
    * hits, hit share of all accesses (e6), plus the compulsory-miss row
    * the curve asymptotes to.
    */
  def q_lru_hit_curve(spark: SparkSession, sf: String): DataFrame = {
    val (r, n) = reuseDist(spark, sf)
    val sizes = Seq(16L, 64L, 256L, 1024L, 4096L)
    val aggs = sizes.map(c =>
      sum(when(col("d") <= c, 1L).otherwise(0L)).as(s"h_$c")) :+
      count(lit(1)).as("n_reuses")
    val one = r.groupBy().agg(aggs.head, aggs.tail: _*).crossJoin(broadcast(n))
    val rows = sizes.map { c =>
      struct(lit(c).as("cache_size"), col(s"h_$c").as("hits"),
        expr(s"h_$c * 1000000 div n").as("hit_rate_e6")) }
    one.select(col("n_reuses"), col("n"), explode(array(rows: _*)).as("r"))
      .select(col("r.cache_size").as("cache_size"), col("r.hits").as("hits"),
        col("r.hit_rate_e6").as("hit_rate_e6"),
        (col("n") - col("n_reuses")).as("compulsory_misses"))
      .orderBy("cache_size")
  }

  /** Denning working-set curve: for tumbling windows of 1h / 6h / 24h,
    * the number of windows, the mean and max distinct keys per window —
    * how resident-set demand scales with the observation interval. Each
    * scale is one exact (window, key) distinct + count, keyed end to end.
    */
  def q_working_set_curve(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("user_id").as("key"), col("ts_usl").as("t"))
    val taus = Seq(3600000000L, 21600000000L, 86400000000L)
    taus.map { tau =>
      ev.select(expr(s"t div ${tau}L").as("w"), col("key")).distinct()
        .groupBy("w").agg(count(lit(1)).as("m"))
        .agg(count(lit(1)).as("n_windows"), sum(col("m")).as("sum_ws"),
          max(col("m")).as("max_ws"))
        .select(lit(tau).as("window_us"), col("n_windows"),
          expr("sum_ws * 1000000 div n_windows").as("mean_ws_e6"),
          col("max_ws"))
    }.reduce(_ unionAll _).orderBy("window_us")
  }

  // ---- §2.192 rate limiting — token bucket / GCRA conformance -------------

  /** Per-user virtual token-bucket backlog via the EXACT-INTEGER Lindley
    * closed form: with one token per `refillUs` µs, the µs-scaled
    * backlog after arrival n is
    *   Q·R = n·R − t_n − min_{j≤n}((j−1)·R − t_j),  clamped ≥ 0
    * — a keyed running minimum instead of the sequential recursion, so
    * the whole conformance audit is one window pass per user with no
    * iteration and no floats. `q_scaled` is in µs·tokens; a violation
    * is Q > burst (shaper semantics: the virtual backlog is not reset
    * on violation, mirroring GCRA's theoretical arrival time). */
  private def tokenBucket(spark: SparkSession, sf: String,
                          refillUs: Long): DataFrame = {
    val w = Window.partitionBy("u").orderBy(col("t").asc, col("id").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsWithTs(spark, sf)
      .select(col("user_id").as("u"), col("ts_usl").as("t"),
        col("event_id").as("id"))
      .withColumn("j", row_number().over(w).cast("long"))
      .withColumn("a", (col("j") - 1L) * refillUs - col("t"))
      .withColumn("amin", min(col("a")).over(wRun))
      .withColumn("q_scaled",
        greatest(lit(0L), col("j") * refillUs - col("t") - col("amin")))
  }

  /** Token-bucket conformance per user at 1 token / 60 s, burst 5:
    * arrivals, peak backlog (e6 tokens), violations, and the first
    * violating position — the per-principal rate-limit report. */
  def q_token_bucket_audit(spark: SparkSession, sf: String): DataFrame = {
    val r = 60000000L
    tokenBucket(spark, sf, r)
      .withColumn("viol", (col("q_scaled") > lit(5L * r)).cast("long"))
      .groupBy(col("u").as("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr(s"max(q_scaled) * 1000000 div ${r}L").as("peak_tokens_e6"),
        sum(col("viol")).as("n_violations"),
        min(when(col("viol") === 1L, col("j"))).as("first_violation_at"))
      .orderBy("user_id")
  }

  /** Fleet-wide rate-limit summary at the same policy: principals,
    * offenders, violation mass, and the share of all traffic that a
    * shaper would have delayed (e6). */
  def q_rate_limit_summary(spark: SparkSession, sf: String): DataFrame = {
    val r = 60000000L
    tokenBucket(spark, sf, r)
      .withColumn("viol", (col("q_scaled") > lit(5L * r)).cast("long"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n"), sum(col("viol")).as("v"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("v") > 0L, 1L).otherwise(0L)).as("offending_users"),
        sum(col("n")).as("n_events"), sum(col("v")).as("n_violations"))
      .select(col("n_users"), col("offending_users"), col("n_events"),
        col("n_violations"),
        expr("n_violations * 1000000 div n_events").as("violation_share_e6"))
  }

  /** GCRA conformance sweep across refill periods (10/30/60/120 s,
    * burst 5): violations per policy — the capacity-planning curve for
    * picking a limit. One windowed pass per policy, unioned. */
  def q_gcra_conformance_sweep(spark: SparkSession, sf: String): DataFrame =
    Seq(10000000L, 30000000L, 60000000L, 120000000L).map { r =>
      tokenBucket(spark, sf, r)
        .withColumn("viol", (col("q_scaled") > lit(5L * r)).cast("long"))
        .agg(count(lit(1)).as("n_events"), sum(col("viol")).as("n_violations"))
        .select(lit(r).as("refill_us"), col("n_events"), col("n_violations"),
          expr("n_violations * 1000000 div n_events").as("violation_share_e6"))
    }.reduce(_ unionAll _).orderBy("refill_us")
}
