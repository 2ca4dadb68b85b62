package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops._

/** Branch-liveness gates for queries whose fixture output is DEGENERATE at
  * the oracle scale (found by `scripts/degeneracy_audit.py` over the sf0.01
  * Verify dump): the DuckDB hash-match of an all-zero / single-branch result
  * proves both engines agree on the dead path, but says nothing about the
  * live one. Each test here writes a tiny synthetic fixture (schema-exact,
  * so it passes `Tables.assertSchema`) on which the interesting branch MUST
  * fire, and asserts hand-computed expected values.
  *
  * Hand-computed cases: log-rank / weighted log-rank / RMST / C-index on a
  * 6-user cohort with 4 churn events; a revenue series with a real
  * drawdown; a zone-map false keep; a 16×16 Z-order grid; a 2-state Markov
  * chain with stationary distribution (1/3, 2/3); perfectly-associated
  * categorical MI; between-region Theil inequality; rare-category collapse;
  * intermittent demand bands; NaN / all-zero embedding rows.
  */
class DegeneracySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Write `tables` as `<dir>/<name>.parquet` and return the dir. */
  private def fixture(tables: (String, DataFrame)*): String = {
    val dir = TestSpark.tempDir("graft_degen")
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  private def ts(c: org.apache.spark.sql.Column) = to_timestamp(c)

  /** events fixture rows: (event_id, "yyyy-MM-dd HH:mm:ss", user_id, type, value). */
  private def eventsTable(rows: Seq[(Long, String, Long, String, Double)]): DataFrame =
    rows.toDF("event_id", "tss", "user_id", "event_type", "value")
      .select(col("event_id"), ts(col("tss")).as("ts"), col("user_id"),
        col("event_type"), col("value"), lit("{}").as("props"))

  /** part fixture rows: (p_partkey, p_type, p_size, p_retailprice). */
  private def partTable(rows: Seq[(Long, String, Int, Double)]): DataFrame =
    rows.toDF("p_partkey", "p_type", "p_size", "p_retailprice")
      .select(col("p_partkey"), concat(lit("part"), col("p_partkey")).as("p_name"),
        lit("Brand#1").as("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))

  /** lineitem fixture rows: (l_orderkey, l_partkey, l_quantity, "yyyy-MM-dd"). */
  private def lineitemTable(rows: Seq[(Long, Long, Double, String)]): DataFrame =
    rows.toDF("l_orderkey", "l_partkey", "l_quantity", "sd")
      .select(col("l_orderkey"), col("l_partkey"), lit(1L).as("l_suppkey"),
        lit(1).as("l_linenumber"), col("l_quantity"),
        lit(100.0).as("l_extendedprice"), lit(0.0).as("l_discount"),
        lit(0.0).as("l_tax"), lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
        ts(concat(col("sd"), lit(" 00:00:00"))).as("l_shipdate"))

  // ---- survival family: 6-user cohort, 4 churn events ----------------------
  //
  // user (id, group = id%2, span, #events, churned by 2024-01-23):
  //   u2 g0 t=10 score=2 churned   u4 g0 t=20 score=3 churned
  //   u6 g0 t=30 score=4 censored  u1 g1 t=15 score=3 churned
  //   u3 g1 t=22 score=5 churned   u5 g1 t=30 score=2 censored
  // Risk sets at death times t=10/15/20/22: nr=6/5/4/3, nr1(g0)=3/2/2/1.
  private lazy val survivalDir: String = {
    def span(uid: Long, base: Long, dates: Seq[String]): Seq[(Long, String, Long, String, Double)] =
      dates.zipWithIndex.map { case (d, i) => (base + i, s"$d 12:00:00", uid, "purchase", 1.0) }
    fixture("events" -> eventsTable(
      span(1L, 100L, Seq("2024-01-01", "2024-01-09", "2024-01-16")) ++
      span(2L, 200L, Seq("2024-01-01", "2024-01-11")) ++
      span(3L, 300L, Seq("2024-01-01", "2024-01-05", "2024-01-10", "2024-01-15", "2024-01-23")) ++
      span(4L, 400L, Seq("2024-01-01", "2024-01-10", "2024-01-21")) ++
      span(5L, 500L, Seq("2024-01-05", "2024-02-04")) ++
      span(6L, 600L, Seq("2024-01-01", "2024-01-10", "2024-01-20", "2024-01-31"))))
  }

  test("log-rank: the chi2 branch fires on a churning cohort (hand-computed)") {
    val r = Analytics.q_logrank_test(spark, survivalDir).collect()
    assert(r.length === 1)
    // O1 = 2; E1 = 3/6 + 2/5 + 2/4 + 1/3 = 1.7333; V = 0.25+0.24+0.25+2/9
    assert(r(0).getAs[Long]("observed_g0") === 2L)
    assert(r(0).getAs[Double]("expected_g0") === 1.7333)
    assert(r(0).getAs[Double]("chi2") === 0.0739)
    assert(r(0).getAs[Long]("curves_differ") === 0L)
  }

  test("weighted log-rank: Gehan and Tarone-Ware weights diverge from plain (hand-computed)") {
    val r = Analytics.q_weighted_logrank(spark, survivalDir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Double]("chi2_logrank") === 0.0739)
    // Gehan: U = Σ nr·contrib = 3−2+2−1 = 2, V = 9+6+4+2 = 21 → 4/21
    assert(r(0).getAs[Double]("chi2_gehan") === 0.1905)
    assert(r(0).getAs[Double]("chi2_tarone_ware") === 0.1298)
  }

  test("RMST: KM steps integrate to 19.5 days at tau=25 (hand-computed)") {
    val r = Analytics.q_rmst(spark, survivalDir).collect()
    assert(r.length === 1)
    // S = 5/6, 2/3, 1/2, 1/3 on widths 5, 5, 2, 3 after the S=1 head of 10
    assert(r(0).getAs[Long]("n_steps") === 4L)
    assert(r(0).getAs[Double]("rmst_days") === 19.5)
  }

  test("survival C-index: concordant/tied pairs counted on the live branch (hand-computed)") {
    val r = Analytics.q_survival_cindex(spark, survivalDir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("comparable") === 14L)
    assert(r(0).getAs[Long]("concordant") === 4L)
    assert(r(0).getAs[Long]("tied") === 2L)
    assert(r(0).getAs[Double]("c_index") === 0.3571) // (2·4+2)/(2·14)
  }

  // ---- drawdown: needs a NEGATIVE daily total to be non-vacuous -------------

  test("max drawdown: a down day produces the 6000-cent trough (hand-computed)") {
    val dir = fixture("events" -> eventsTable(Seq(
      (1L, "2024-01-01 12:00:00", 1L, "purchase", 100.0),
      (2L, "2024-01-02 12:00:00", 1L, "refund", -60.0),
      (3L, "2024-01-03 12:00:00", 1L, "purchase", 20.0))))
    val r = Analytics.q_max_drawdown(spark, dir).collect()
    assert(r.length === 1)
    // cum = 10000, 4000, 6000 cents; peak stays 10000
    assert(r(0).getAs[Long]("n_days") === 3L)
    assert(r(0).getAs[Long]("max_dd_cents") === 6000L)
    assert(r(0).getAs[Long]("max_dd_pct_e6") === 600000L)
    val ulcer = math.sqrt((600000.0 * 600000.0 + 400000.0 * 400000.0) / 3.0) / 1e6
    assert(math.abs(r(0).getAs[Double]("ulcer_index") - ulcer) < 1e-6)
  }

  // ---- physical-design audits ----------------------------------------------

  test("zone map: a straddling zone with no matching row is a false keep (hand-computed)") {
    // 16 files × 2 parts; file0 = [$1100,$1105] (kept, 2 matches),
    // file1 = [$900,$1500] (kept, 0 matches → the false keep), rest $2000
    val price = (pk: Long) => pk match {
      case 1L => 1100.0; case 2L => 1105.0; case 3L => 900.0; case 4L => 1500.0
      case _ => 2000.0
    }
    val dir = fixture("part" -> partTable((1L to 32L).map(pk => (pk, "T", 1, price(pk)))))
    val r = Relational.q_zone_map_pruning(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_files") === 16L)
    assert(r(0).getAs[Long]("n_rows") === 32L)
    assert(r(0).getAs[Long]("n_match_rows") === 2L)
    assert(r(0).getAs[Long]("files_kept_by_zonemap") === 2L)
    assert(r(0).getAs[Long]("files_with_matches") === 1L)
    assert(r(0).getAs[Long]("false_keeps") === 1L)
  }

  test("z-order locality: a full 16x16 grid selects 4 of 16 z-files (hand-computed)") {
    // price i cents × size j covers the grid exactly: px = i, sy = j
    val rows = for (i <- 0 to 15; j <- 0 to 15)
      yield ((i * 16 + j + 1).toLong, "T", j, i * 0.01)
    val dir = fixture("part" -> partTable(rows))
    val r = Relational.q_zorder_locality(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_rows") === 256L)
    assert(r(0).getAs[Long]("n_match") === 64L) // px ∈ [4,7] × 16 sy values
    assert(r(0).getAs[Long]("selectivity_e4") === 2500L)
    // px ∈ 4..7 ⇒ px₃=0, px₂=1 ⇒ zfile = 2 + 4·sy₃ + sy₂ ∈ {2,3,6,7}
    assert(r(0).getAs[Long]("z_files_touched") === 4L)
    assert(r(0).getAs[Long]("z_files_total") === 16L)
    assert(r(0).getAs[Long]("linear_files_touched") === 4L)
  }

  test("IN-subquery: the never-sold branch is non-zero on a gapped part list") {
    val dir = fixture(
      "part" -> partTable((1L to 10L).map(pk => (pk, "T", 1, 100.0))),
      "lineitem" -> lineitemTable((1L to 7L).map(pk => (pk, pk, 1.0, "2024-01-01"))))
    val r = Relational.q_subquery_in(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_parts_sold") === 7L)
    assert(r(0).getAs[Long]("n_parts_never_sold") === 3L)
  }

  test("rare-category collapse: sub-1% categories fold into OTHER (hand-computed)") {
    val rows = (1L to 198L).map(pk => (pk, "common", 1, 100.0)) ++
      Seq((199L, "rare1", 1, 100.0), (200L, "rare2", 1, 100.0))
    val dir = fixture("part" -> partTable(rows))
    val r = MLDeterministic.q_rare_category_collapse(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_before") === 3L)
    assert(r(0).getAs[Long]("n_after") === 2L) // common + OTHER
    assert(r(0).getAs[Long]("n_collapsed") === 2L)
    assert(r(0).getAs[Long]("rows_other") === 2L)
    assert(r(0).getAs[Long]("other_share_e6") === 10000L) // 2/200
  }

  // ---- experiment / information-theory screens ------------------------------

  test("SRM check: a 60/40 split trips the chi2 gate (hand-computed)") {
    val rows = (1L to 60L).map(i => (i, s"2024-01-0${i % 9 + 1} 12:00:00", 2L * i, "view", 1.0)) ++
      (61L to 100L).map(i => (i, "2024-01-02 12:00:00", 2L * (i - 61L) + 1L, "view", 1.0))
    val dir = fixture("events" -> eventsTable(rows))
    val r = MLDeterministic.q_srm_check(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n0") === 60L)
    assert(r(0).getAs[Long]("n1") === 40L)
    assert(r(0).getAs[Double]("chi2") === 4.0) // (10²+10²)/50
    assert(r(0).getAs[Long]("srm_flag") === 1L)
  }

  test("uncertainty coefficient: perfect association gives U = 1 (hand-computed)") {
    // qty 10 → band 0 always flag A; qty 20 → band 1 always flag R
    val rows = (1L to 50L).map(i => (i, 1L, 10.0, "A")) ++
      (51L to 100L).map(i => (i, 1L, 20.0, "R"))
    val li = rows.toDF("l_orderkey", "l_partkey", "l_quantity", "rf")
      .select(col("l_orderkey"), col("l_partkey"), lit(1L).as("l_suppkey"),
        lit(1).as("l_linenumber"), col("l_quantity"), lit(100.0).as("l_extendedprice"),
        lit(0.0).as("l_discount"), lit(0.0).as("l_tax"), col("rf").as("l_returnflag"),
        lit("O").as("l_linestatus"), ts(lit("2024-01-01 00:00:00")).as("l_shipdate"))
    val dir = fixture("lineitem" -> li)
    val r = Analytics.q_uncertainty_coefficient(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_items") === 100L)
    assert(r(0).getAs[Double]("mi_nats") === 0.693147) // ln 2
    assert(r(0).getAs[Double]("u_y_given_x") === 1.0)
    assert(r(0).getAs[Double]("u_symmetric") === 1.0)
  }

  test("Theil decomposition: between-region inequality is the live term (hand-computed)") {
    val orders = Seq((1L, 1L, 100.0), (2L, 2L, 100.0), (3L, 3L, 300.0), (4L, 4L, 300.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .select(col("o_orderkey"), col("o_custkey"), lit("O").as("o_orderstatus"),
        col("o_totalprice"), ts(lit("2024-01-01 00:00:00")).as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"))
    val cust = Seq((1L, 1), (2L, 1), (3L, 2), (4L, 2))
      .toDF("c_custkey", "c_nationkey")
      .select(col("c_custkey"), concat(lit("c"), col("c_custkey")).as("c_name"),
        col("c_nationkey"), lit(0.0).as("c_acctbal"), lit("BUILDING").as("c_mktsegment"))
    val nation = Seq((1, "N1", 1), (2, "N2", 2)).toDF("n_nationkey", "n_name", "n_regionkey")
    val dir = fixture("orders" -> orders, "customer" -> cust, "nation" -> nation)
    val r = Analytics.q_theil_between_within(spark, dir).collect()
    assert(r.length === 1)
    // two equal-within regions at 100 vs 300: T_total = T_between = 0.1308
    assert(r(0).getAs[Double]("theil_total") === 0.1308)
    assert(r(0).getAs[Double]("theil_between") === 0.1308)
    assert(r(0).getAs[Double]("theil_within") === 0.0)
    assert(r(0).getAs[Double]("identity_gap") === 0.0)
  }

  // ---- demand / markov / embedding screens ----------------------------------

  test("demand intermittency: active-share bands 0, 2 and 4 all populate (hand-computed)") {
    val dir = fixture("lineitem" -> lineitemTable(Seq(
      (1L, 1L, 1.0, "2024-01-01"), (2L, 1L, 1.0, "2024-01-22"), // 2 of 4 weeks → band 2
      (3L, 2L, 1.0, "2024-01-01"), (4L, 2L, 1.0, "2024-01-08"),
      (5L, 2L, 1.0, "2024-01-15"), //                               3 of 3 → band 4
      (6L, 3L, 1.0, "2024-01-01"), (7L, 3L, 1.0, "2024-03-04")))) // 2 of 10 → band 0
    val r = Analytics.q_demand_intermittency(spark, dir).collect()
      .map(x => (x.getAs[Long]("band"), x.getAs[Long]("n_parts"))).toSeq
    assert(r === Seq((0L, 1L), (2L, 1L), (4L, 1L)))
  }

  test("stationary tiers: 2-state chain converges toward (1/3, 2/3) (hand-computed)") {
    // u10 wk-tiers 0,1,0,1 and u11 tiers 1,1: P = [[0,1],[1/2,1/2]];
    // three integer power steps from uniform: π₃ = (0.3125, 0.6875)
    val dir = fixture("events" -> eventsTable(Seq(
      (1L, "2024-01-01 12:00:00", 10L, "purchase", 500.0),
      (2L, "2024-01-08 12:00:00", 10L, "purchase", 1500.0),
      (3L, "2024-01-15 12:00:00", 10L, "purchase", 500.0),
      (4L, "2024-01-22 12:00:00", 10L, "purchase", 1500.0),
      (5L, "2024-01-01 12:00:00", 11L, "purchase", 1200.0),
      (6L, "2024-01-08 12:00:00", 11L, "purchase", 1100.0))))
    val r = Analytics.q_stationary_tiers(spark, dir).collect()
      .map(x => (x.getAs[Long]("tier"), x.getAs[Long]("share_e6"))).toSeq
    assert(r === Seq((0L, 312500L), (1L, 687500L)))
  }

  test("growth accounting: expansion/contraction/churn/resurrection all fire (hand-computed)") {
    // u1: 100 → 150 → 120 (expansion then contraction);
    // u2: 200 → absent → 80 (churn then resurrection)
    val dir = fixture("events" -> eventsTable(Seq(
      (1L, "2024-01-05 12:00:00", 1L, "purchase", 100.0),
      (2L, "2024-02-05 12:00:00", 1L, "purchase", 150.0),
      (3L, "2024-03-05 12:00:00", 1L, "purchase", 120.0),
      (4L, "2024-01-06 12:00:00", 2L, "purchase", 200.0),
      (5L, "2024-03-06 12:00:00", 2L, "purchase", 80.0))))
    val r = Analytics.q_revenue_growth_accounting(spark, dir).collect()
      .map(x => (x.getAs[String]("month"), x.getAs[Long]("new_cents"),
        x.getAs[Long]("expansion_cents"), x.getAs[Long]("contraction_cents"),
        x.getAs[Long]("churned_cents"), x.getAs[Long]("resurrected_cents"),
        x.getAs[Long]("net_change_cents"))).toSeq
    assert(r === Seq(
      ("2024-01", 30000L, 0L, 0L, 0L, 0L, 30000L),
      ("2024-02", 0L, 5000L, 0L, -20000L, 0L, -15000L),
      ("2024-03", 0L, 0L, -3000L, 0L, 8000L, 5000L)))
  }

  test("rate limit: a same-instant burst of 8 yields 3 violations (hand-computed)") {
    // u1: 8 arrivals at one instant at 1 token/60s, burst 5 → backlog j·r
    // exceeds 5r from the 6th arrival; u2 is a conforming control
    val burst = (1L to 8L).map(i => (i, "2024-01-01 00:00:00 ", 1L, "view", 1.0))
      .map { case (i, t, u, ty, v) => (i, t.trim, u, ty, v) }
    val dir = fixture("events" -> eventsTable(burst ++ Seq(
      (9L, "2024-01-01 00:00:00", 2L, "view", 1.0),
      (10L, "2024-01-01 00:02:00", 2L, "view", 1.0))))
    val r = Events.q_rate_limit_summary(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_users") === 2L)
    assert(r(0).getAs[Long]("offending_users") === 1L)
    assert(r(0).getAs[Long]("n_events") === 10L)
    assert(r(0).getAs[Long]("n_violations") === 3L)
    assert(r(0).getAs[Long]("violation_share_e6") === 300000L)
  }

  test("token bucket audit: the burst user peaks at 8 tokens, first violation at 6 (hand-computed)") {
    val burst = (1L to 8L).map(i => (i, "2024-01-01 00:00:00", 1L, "view", 1.0))
    val dir = fixture("events" -> eventsTable(burst ++ Seq(
      (9L, "2024-01-01 00:00:00", 2L, "view", 1.0),
      (10L, "2024-01-01 00:02:00", 2L, "view", 1.0))))
    val r = Events.q_token_bucket_audit(spark, dir).collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("n_events"),
        x.getAs[Long]("peak_tokens_e6"), x.getAs[Long]("n_violations"),
        Option(x.getAs[java.lang.Long]("first_violation_at")).map(_.toLong))).toSeq
    // same-instant arrivals: backlog j·r peaks at 8 tokens, > burst 5 from j=6
    assert(r === Seq((1L, 8L, 8000000L, 3L, Some(6L)),
      (2L, 2L, 1000000L, 0L, None)))
  }

  test("embedding shape audit: NaN and all-zero vectors are counted (hand-computed)") {
    val emb = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f), 0),
      (2L, Seq(Float.NaN, 0.0f, 0.0f, 0.0f), 0),
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f), 1),
      (4L, Seq(1.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val dir = fixture("embeddings" -> emb)
    val r = Vectors.q_embedding_shape_audit(spark, dir).collect()
      .map(x => (x.getAs[Long]("dims"), x.getAs[Long]("n_vectors"),
        x.getAs[Long]("n_with_nan"), x.getAs[Long]("n_all_zero"))).toSeq
    assert(r === Seq((2L, 1L, 0L, 0L), (4L, 3L, 1L, 1L)))
  }

  // ---- dirty corpus: the exact-dup detector family ---------------------------
  //
  // The sf0.01 documents fixture contains NO exact text duplicates, so every
  // exact-dup detector column (dup_docs, n_removed, n_dup_docs, n_absorbed,
  // n_shared_exact, ...) is zero in every oracle run. This corpus plants:
  // T1 ×3 (two web + one wiki exact dups), a token permutation of T1 (a
  // bag-of-words dup that is NOT an exact dup), a single-token doc, a
  // uniform-token doc, and a clean French control.
  private def docsTable(rows: Seq[(Long, String, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "lang", "source")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))

  private lazy val dirtyDir: String = fixture("documents" -> docsTable(Seq(
    (1L, "alpha beta gamma delta", "en", "web"),
    (2L, "alpha beta gamma delta", "en", "web"),
    (3L, "beta alpha delta gamma", "en", "web"), // bow dup, not exact
    (4L, "alpha beta gamma delta", "en", "wiki"), // cross-source exact dup
    (5L, "epsilon zeta", "fr", "web"),
    (6L, "solo", "en", "web"),
    (7L, "aa aa aa", "en", "web"))))

  test("dedup apply: exact duplicates are removed, bow permutations kept (hand-computed)") {
    val r = TextPipeline.q_dedup_apply(spark, dirtyDir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[String]("source"),
        x.getAs[Long]("n_docs"), x.getAs[Long]("n_kept"), x.getAs[Long]("n_removed"))).toSeq
    // fp(T1) group {1,2,4} keeps min id 1 → doc 2 (web) and doc 4 (wiki) removed
    assert(r === Seq(("en", "web", 5L, 4L, 1L), ("en", "wiki", 1L, 0L, 1L),
      ("fr", "web", 1L, 1L, 0L)))
  }

  test("corpus report: duplicate volume is counted per language (hand-computed)") {
    val r = TextPipeline.q_corpus_report(spark, dirtyDir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[Long]("n_docs"),
        x.getAs[Long]("n_chars"), x.getAs[Long]("n_tokens"), x.getAs[Long]("vocab"),
        x.getAs[Long]("ttr_e4"), x.getAs[Long]("mean_chars"),
        x.getAs[Long]("dup_docs"), x.getAs[Long]("dup_groups"))).toSeq
    assert(r === Seq(
      ("en", 6L, 100L, 20L, 6L, 3000L, 16L, 3L, 1L),
      ("fr", 1L, 12L, 2L, 2L, 10000L, 12L, 0L, 0L)))
  }

  test("degenerate docs: single-token, uniform and short detectors fire (hand-computed)") {
    val r = TextPipeline.q_degenerate_docs(spark, dirtyDir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[Long]("n_docs"),
        x.getAs[Long]("n_single_tok"), x.getAs[Long]("n_uniform"),
        x.getAs[Long]("n_short"))).toSeq
    assert(r === Seq(("en", 6L, 1L, 1L, 2L), ("fr", 1L, 0L, 0L, 1L)))
  }

  test("bag-of-words dedup: a token permutation collapses with its source (hand-computed)") {
    val r = Text.q_dedup_bow(spark, dirtyDir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[Long]("n_docs"),
        x.getAs[Long]("n_bow_distinct"), x.getAs[Long]("n_dup_extra"))).toSeq
    // en bows: {T1-sorted ×4, solo, aa aa aa} → 3 distinct of 6 docs
    assert(r === Seq(("en", 6L, 3L, 3L), ("fr", 1L, 1L, 0L)))
  }

  test("structure dedup: identical length templates group, permutations do not (hand-computed)") {
    val r = TextPipeline.q_structure_dedup(spark, dirtyDir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[Long]("n_docs"),
        x.getAs[Long]("n_templates"), x.getAs[Long]("n_dup_docs"),
        x.getAs[Long]("max_group"))).toSeq
    // en templates: "5,4,5,5"×3, "4,5,5,5", "4", "2,2,2"
    assert(r === Seq(("en", 6L, 4L, 3L, 3L), ("fr", 1L, 1L, 0L, 1L)))
  }

  test("golden record: the bow group absorbs 3 members across 2 sources (hand-computed)") {
    val r = TextPipeline.q_golden_record(spark, dirtyDir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[Long]("n_golden"),
        x.getAs[Long]("n_absorbed"), x.getAs[Long]("n_mixed_lang_groups"),
        x.getAs[Long]("n_mixed_source_groups"))).toSeq
    assert(r === Seq(("en", 3L, 3L, 0L, 1L), ("fr", 1L, 0L, 0L, 0L)))
  }

  test("cross-shard dedup: the web/wiki shared exact fingerprint is found (hand-computed)") {
    val r = Text.q_dedup_crossshard(spark, dirtyDir).collect()
      .map(x => (x.getAs[String]("source_a"), x.getAs[String]("source_b"),
        x.getAs[Long]("n_shared_exact"), x.getAs[Long]("n_shared_prefix80"))).toSeq
    assert(r === Seq(("web", "wiki", 1L, 1L)))
  }

  test("doc entropy filter: a repeated-token doc scores H=0 and is flagged (hand-computed)") {
    val dir = fixture("documents" -> docsTable(Seq(
      (1L, "aa aa aa", "en", "s1"),
      (2L, "one two three four five six seven eight", "en", "s1"))))
    val r = TextPipeline.q_doc_entropy_filter(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_docs") === 2L)
    assert(r(0).getAs[Long]("n_low_entropy") === 1L) // H=0 < 1.5 nats
    assert(r(0).getAs[Long]("mean_h_e4") === 10397L) // (0 + ln8·1e4) div 2
  }

  test("OOV rate: tokens past the top-100 vocabulary count as OOV (hand-computed)") {
    val text = (1 to 120).map(i => f"w$i%03d").mkString(" ")
    val dir = fixture("documents" -> docsTable(Seq((1L, text, "en", "web"))))
    val r = TextPipeline.q_oov_rate(spark, dir).collect()
    assert(r.length === 1)
    // 120 once-seen tokens; count-tie → word asc keeps w001..w100
    assert(r(0).getAs[Long]("n_tokens") === 120L)
    assert(r(0).getAs[Long]("n_oov") === 20L)
    assert(r(0).getAs[Long]("oov_e4") === 1666L)
  }

  test("n-gram novelty: the 1001st distinct bigram is novel (hand-computed)") {
    val text = (0 to 1001).map(i => f"t$i%04d").mkString(" ")
    val dir = fixture("documents" -> docsTable(Seq((1L, text, "en", "web"))))
    val r = Text.q_ngram_novelty(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_bigrams") === 1001L)
    assert(r(0).getAs[Long]("n_novel") === 1L) // "t1000 t1001" falls off the top-1000
    assert(r(0).getAs[Long]("novelty_e4") === 9L)
  }

  test("semantic dedup: planted identical embeddings are found and removed (hand-computed)") {
    val patt = (0 until 64).map(i => 0.1f * (i % 5 + 1))
    val e0 = Seq.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val e1 = Seq.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    val emb = Seq((1L, patt, 0), (2L, patt, 0), (3L, e0, 1), (4L, e1, 1))
      .toDF("vec_id", "embedding", "label")
    val dir = fixture("embeddings" -> emb)
    val r = Ann.q_semantic_dedup(spark, dir).collect()
      .map(x => (x.getAs[Long]("label"), x)).toMap
    // label 0: identical pair → same LSH bucket, cos=1 ≥ 0.4, one removal
    assert(r(0L).getAs[Long]("n_vecs") === 2L)
    assert(r(0L).getAs[Long]("n_buckets") === 1L)
    assert(r(0L).getAs[Long]("n_cand_pairs") === 1L)
    assert(r(0L).getAs[Long]("n_dup_pairs") === 1L)
    assert(r(0L).getAs[Long]("n_removed") === 1L)
    // label 1: orthogonal pair, cos=0 — never a dup whatever its buckets
    assert(r(1L).getAs[Long]("n_dup_pairs") === 0L)
    assert(r(1L).getAs[Long]("n_removed") === 0L)
  }

  test("Kaplan-Meier: the product-limit curve steps at each churn time (hand-computed)") {
    val r = Analytics.q_kaplan_meier(spark, survivalDir).collect()
      .map(x => (x.getAs[Long]("t"), x.getAs[Long]("n_risk"),
        x.getAs[Long]("n_churned"), x.getAs[Long]("n_censored"),
        x.getAs[Double]("survival"))).toSeq
    assert(r === Seq((10L, 6L, 1L, 0L, 0.8333), (15L, 5L, 1L, 0L, 0.6667),
      (20L, 4L, 1L, 0L, 0.5), (22L, 3L, 1L, 0L, 0.3333), (30L, 2L, 0L, 2L, 0.3333)))
  }

  test("Nelson-Aalen: cumulative hazard and SE accumulate per churn time (hand-computed)") {
    val r = Analytics.q_nelson_aalen(spark, survivalDir).collect()
      .map(x => (x.getAs[Long]("t"), x.getAs[Long]("n_risk"),
        x.getAs[Long]("n_churned"), x.getAs[Double]("na_cumhaz"),
        x.getAs[Double]("na_se"))).toSeq
    assert(r === Seq((10L, 6L, 1L, 0.1667, 0.1667), (15L, 5L, 1L, 0.3667, 0.2603),
      (20L, 4L, 1L, 0.6167, 0.3609), (22L, 3L, 1L, 0.95, 0.4913),
      (30L, 2L, 0L, 0.95, 0.4913)))
  }

  // ---- SPC alarms: the fixture series never leaves its control bands --------

  test("control chart: a 5x spike day lands above the UCL (hand-computed)") {
    val rows = (1 to 10).map(d => (d.toLong, f"2024-01-$d%02d 12:00:00", 1L, "view", 100.0)) :+
      (11L, "2024-01-11 12:00:00", 1L, "view", 500.0)
    val dir = fixture("events" -> eventsTable(rows))
    val r = Events.q_control_chart(spark, dir).collect()
    assert(r.length === 1)
    // center = 150000/11, one moving range of 40000 over 10 → band 10640
    assert(r(0).getAs[Long]("n_days") === 11L)
    assert(r(0).getAs[Double]("center") === 13636.3636)
    assert(r(0).getAs[Double]("ucl") === 24276.3636)
    assert(r(0).getAs[Double]("lcl") === 2996.3636)
    assert(r(0).getAs[Long]("n_out_of_control") === 1L)
  }

  test("EWMA chart: a 20x error burst drives the smoothed count past UCL (hand-computed)") {
    var id = 0L
    val rows = (1 to 20).flatMap { d =>
      val k = if (d <= 17) 1 else 20
      (1 to k).map { _ => id += 1; (id, f"2024-02-$d%02d 12:00:00", 1L, "error", 1.0) }
    }
    val dir = fixture("events" -> eventsTable(rows))
    val r = Analytics.q_ewma_chart(spark, dir).collect() // full 12-day kernels: days 12..20
    assert(r.length === 9)
    assert(r.forall(_.getAs[Double]("ucl") === 7.2485)) // cbar 3.85 + 3·√(3.85/3)
    assert(r.forall(_.getAs[Double]("lcl") === 0.4515))
    val z = r.map(_.getAs[Double]("ewma")).toSeq
    assert(z === Seq(0.9998, 0.9998, 0.9998, 0.9998, 0.9998, 0.9998,
      10.4998, 15.2498, 17.6248))
    assert(r.map(_.getAs[Long]("out_of_control")).toSeq === Seq(0L, 0L, 0L, 0L, 0L, 0L, 1L, 1L, 1L))
  }

  test("Page-Hinkley: a 10x level shift raises the alarm on day 10 (hand-computed)") {
    val rows = (1 to 10).map { d =>
      (d.toLong, f"2024-03-$d%02d 12:00:00", 1L, "purchase", if (d <= 5) 200.0 else 2000.0)
    }
    val dir = fixture("events" -> eventsTable(rows))
    val r = MLDeterministic.q_page_hinkley(spark, dir).collect()
    assert(r.length === 10)
    assert(r.map(_.getAs[Double]("ph_stat")).toSeq === Seq(-10000.0, -20000.0,
      -30000.0, -40000.0, -50000.0, 90000.0, 208571.4286, 311071.4286,
      401071.4286, 481071.4286))
    assert(r.map(_.getAs[Long]("alarm")).toSeq ===
      Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 1L))
  }

  test("IQR outliers: both fence sides count their planted points (hand-computed)") {
    val rows = (1 to 96).map(i => (i.toLong, "2024-01-01 12:00:00", i.toLong, "buy", 100.0)) ++
      Seq((97L, "2024-01-01 12:00:00", 97L, "buy", 0.50),
        (98L, "2024-01-01 12:00:00", 98L, "buy", 0.50),
        (99L, "2024-01-01 12:00:00", 99L, "buy", 1000.0),
        (100L, "2024-01-01 12:00:00", 100L, "buy", 1000.0))
    val dir = fixture("events" -> eventsTable(rows))
    val r = Sampling.q_iqr_outliers(spark, dir).collect()
    assert(r.length === 1)
    // q1 = q3 = 10000 cents (96% of mass), so the fences collapse onto it
    assert(r(0).getAs[Long]("n") === 100L)
    assert(r(0).getAs[Long]("n_below") === 2L)
    assert(r(0).getAs[Long]("n_above") === 2L)
    assert(r(0).getAs[Long]("outlier_share_e4") === 400L)
  }

  test("Tukey fences: inner-quartile collapse exposes low and high tails (hand-computed)") {
    val prices = Seq.fill(96)(100.0) ++ Seq(0.50, 0.50, 1000.0, 1000.0)
    val li = prices.zipWithIndex.map { case (p, i) => ((i + 1).toLong, p) }
      .toDF("l_orderkey", "ep")
      .select(col("l_orderkey"), lit(1L).as("l_partkey"), lit(1L).as("l_suppkey"),
        lit(1).as("l_linenumber"), lit(1.0).as("l_quantity"),
        col("ep").as("l_extendedprice"), lit(0.0).as("l_discount"),
        lit(0.0).as("l_tax"), lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
        ts(lit("2024-01-01 00:00:00")).as("l_shipdate"))
    val dir = fixture("lineitem" -> li)
    val r = Analytics.q_tukey_fences(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("q1") === 10000L)
    assert(r(0).getAs[Long]("q3") === 10000L)
    assert(r(0).getAs[Long]("n_low") === 2L)
    assert(r(0).getAs[Long]("n_high") === 2L)
    assert(r(0).getAs[Long]("outlier_rate_e6") === 40000L)
  }

  // ---- hypothesis-test rejections -------------------------------------------

  /** orders fixture rows: (o_orderkey, o_custkey, o_totalprice, priority, "yyyy-MM-dd"). */
  private def ordersTable(rows: Seq[(Long, Long, Double, String, String)]): DataFrame =
    rows.toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority", "od")
      .select(col("o_orderkey"), col("o_custkey"), lit("O").as("o_orderstatus"),
        col("o_totalprice"), ts(concat(col("od"), lit(" 00:00:00"))).as("o_orderdate"),
        col("o_orderpriority"))

  /** customer fixture rows: (c_custkey, c_nationkey, c_mktsegment). */
  private def custTable(rows: Seq[(Long, Int, String)]): DataFrame =
    rows.toDF("c_custkey", "c_nationkey", "c_mktsegment")
      .select(col("c_custkey"), concat(lit("c"), col("c_custkey")).as("c_name"),
        col("c_nationkey"), lit(0.0).as("c_acctbal"), col("c_mktsegment"))

  test("Bartlett: one exploded-variance group rejects homogeneity (hand-computed)") {
    val tight = Seq(100.00, 101.00, 102.00, 103.00)
    val wide = Seq(100.00, 300.00, 500.00, 700.00)
    val pr = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED")
    val rows = pr.zipWithIndex.flatMap { case (p, g) =>
      tight.zipWithIndex.map { case (v, i) => ((g * 4 + i + 1).toLong, 1L, v, p, "2024-01-05") }
    } ++ wide.zipWithIndex.map { case (v, i) => ((16 + i + 1).toLong, 1L, v, "5-LOW", "2024-01-05") }
    val dir = fixture("orders" -> ordersTable(rows))
    val r = Analytics.q_bartlett_test(spark, dir).collect()
    assert(r.length === 5)
    // tight groups: s² = 50000/3 cents² = 1.6667 $²; wide: 2e9/3 = 66666.6667 $²
    assert(r.take(4).forall(_.getAs[Double]("var_dollars") === 1.6667))
    assert(r(4).getAs[Double]("var_dollars") === 66666.6667)
    val t = r(0).getAs[Double]("bartlett_t")
    assert(t > 90.5 && t < 91.3, s"bartlett T $t outside the hand-computed window")
    assert(r.forall(_.getAs[Long]("reject_homogeneous") === 1L))
  }

  test("Mood's median test: disjoint groups reject equal medians (hand-computed)") {
    val rows = (1 to 5).map(i => (i.toLong, 1L, 100.0, "1-URGENT", "2024-01-05")) ++
      (6 to 10).map(i => (i.toLong, 1L, 900.0, "5-LOW", "2024-01-05"))
    val dir = fixture("orders" -> ordersTable(rows))
    val r = Analytics.q_moods_median_test(spark, dir).collect()
      .map(x => (x.getAs[String]("priority"), x.getAs[Long]("above"),
        x.getAs[Long]("notabove"), x.getAs[Double]("contrib"),
        x.getAs[Double]("chi2"), x.getAs[Long]("reject_equal_medians"))).toSeq
    assert(r === Seq(("1-URGENT", 0L, 5L, 5.0, 10.0, 1L), ("5-LOW", 5L, 0L, 5.0, 10.0, 1L)))
  }

  test("Friedman: a consistent within-block ordering rejects rank equality (hand-computed)") {
    val values = Map("1-URGENT" -> 500.0, "2-HIGH" -> 400.0, "3-MEDIUM" -> 300.0,
      "4-NOT SPECIFIED" -> 200.0, "5-LOW" -> 100.0)
    val rows = for ((m, mi) <- Seq("2024-01-15", "2024-02-15", "2024-03-15").zipWithIndex;
                    ((p, v), pi) <- values.toSeq.zipWithIndex)
      yield ((mi * 5 + pi + 1).toLong, 1L, v, p, m)
    val dir = fixture("orders" -> ordersTable(rows))
    val r = Analytics.q_friedman_test(spark, dir).collect()
      .map(x => (x.getAs[String]("priority"), x.getAs[Long]("n_blocks"),
        x.getAs[Long]("r_sum"), x.getAs[Double]("mean_rank"),
        x.getAs[Double]("q_stat"), x.getAs[Long]("reject_equal"))).toSeq
    // ranks 1..5 in every one of 3 blocks → Q = 12/(3·30)·495 − 54 = 12
    assert(r === Seq(("1-URGENT", 3L, 3L, 1.0, 12.0, 1L), ("2-HIGH", 3L, 6L, 2.0, 12.0, 1L),
      ("3-MEDIUM", 3L, 9L, 3.0, 12.0, 1L), ("4-NOT SPECIFIED", 3L, 12L, 4.0, 12.0, 1L),
      ("5-LOW", 3L, 15L, 5.0, 12.0, 1L)))
  }

  test("Holm: only the leading segment survives the step-down (hand-computed)") {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val cust = segs.zipWithIndex.flatMap { case (s, g) =>
      (1 to 100).map(i => ((g * 100 + i).toLong, 1, s))
    }
    // AUTOMOBILE: 50/100 urgent; others: 10/100 → pooled 18%
    val orders = segs.zipWithIndex.flatMap { case (s, g) =>
      (1 to 100).map { i =>
        val urgent = if (g == 0) i <= 50 else i <= 10
        ((g * 100 + i).toLong, (g * 100 + i).toLong,
          100.0, if (urgent) "1-URGENT" else "3-MEDIUM", "2024-01-05")
      }
    }
    val dir = fixture("orders" -> ordersTable(orders), "customer" -> custTable(cust))
    val r = MLDeterministic.q_holm_correction(spark, dir).collect()
      .map(x => (x.getAs[String]("segment"), x.getAs[Double]("chi2"),
        x.getAs[Long]("holm_rank"), x.getAs[Double]("crit_value"),
        x.getAs[Long]("rejected"))).toSeq
    // chi2: (50−18)²·(1/18+1/82) = 102400/1476; ties rank by name asc
    assert(r === Seq(("AUTOMOBILE", 69.3767, 1L, 6.6349, 1L),
      ("BUILDING", 4.336, 2L, 6.2385, 0L), ("FURNITURE", 4.336, 3L, 5.7305, 0L),
      ("HOUSEHOLD", 4.336, 4L, 5.0239, 0L), ("MACHINERY", 4.336, 5L, 3.8415, 0L)))
  }

  /** One nation's order means inflated by 2000 cents over mu=10500 with
    * sigma=√2.6e7: z₁ = 3.9223 (p ≈ 0.0025), the rest z = −0.9806
    * (p ≈ 0.317) — exactly one discovery under both FDR procedures. */
  private lazy val fdrDir: String = {
    val cust = (1 to 500).map(i => (i.toLong, (i - 1) / 100 + 1, "BUILDING"))
    val orders = (1 to 500).map { i =>
      val nation = (i - 1) / 100 + 1
      val lowHalf = (i - 1) % 100 < 50
      val price = if (nation == 1) { if (lowHalf) 75.0 else 175.0 }
                  else { if (lowHalf) 50.0 else 150.0 }
      (i.toLong, i.toLong, price, "3-MEDIUM", "2024-01-05")
    }
    fixture("orders" -> ordersTable(orders), "customer" -> custTable(cust))
  }

  test("Benjamini-Hochberg: the inflated nation is the only rejection (hand-computed)") {
    val r = MLDeterministic.q_benjamini_hochberg(spark, fdrDir).collect()
      .map(x => (x.getAs[Number]("nationkey").longValue, x.getAs[Long]("n_orders"),
        x.getAs[Double]("z"), x.getAs[Long]("bh_rank"), x.getAs[Long]("rejected"))).toSeq
    assert(r === Seq((1L, 100L, 3.9223, 1L, 1L), (2L, 100L, -0.9806, 2L, 0L),
      (3L, 100L, -0.9806, 3L, 0L), (4L, 100L, -0.9806, 4L, 0L),
      (5L, 100L, -0.9806, 5L, 0L)))
  }

  test("Benjamini-Yekutieli: the harmonic correction still admits the discovery (hand-computed)") {
    val r = MLDeterministic.q_benjamini_yekutieli(spark, fdrDir).collect()
      .map(x => (x.getAs[Number]("nationkey").longValue, x.getAs[Long]("by_rank"),
        x.getAs[Double]("c_m"), x.getAs[Long]("rejected"))).toSeq
    // C(5) = 1+1/2+1/3+1/4+1/5; p₁ ≈ 0.0025 ≤ 0.02/C(5) = 0.00876
    assert(r === Seq((1L, 1L, 2.283333, 1L), (2L, 2L, 2.283333, 0L),
      (3L, 3L, 2.283333, 0L), (4L, 4L, 2.283333, 0L), (5L, 5L, 2.283333, 0L)))
  }

  test("Dunn post-hoc: disjoint rank blocks give z = -4.3589, significant (hand-computed)") {
    val rows = (1 to 10).map(i => (i.toLong, 1L, 500.0, "1-URGENT", "2024-01-05")) ++
      (11 to 20).map(i => (i.toLong, 1L, 1500.0, "5-LOW", "2024-01-05"))
    val dir = fixture("orders" -> ordersTable(rows))
    val r = Analytics.q_dunn_posthoc(spark, dir).collect()
      .map(x => (x.getAs[String]("pair"), x.getAs[Double]("z"),
        x.getAs[Long]("significant"))).toSeq
    // midranks 5.5 vs 15.5; ties = 2·990: z = −10/√((35 − 1980/228)·0.2)
    assert(r === Seq(("1-URGENT vs 5-LOW", -4.3589, 1L)))
  }

  test("Poisson dispersion: a burst day overdisperses the daily counts (hand-computed)") {
    val rows = (1 to 10).map(d => (d.toLong, 1L, 100.0, "3-MEDIUM", f"1995-01-$d%02d")) ++
      (11 to 33).map(i => (i.toLong, 1L, 100.0, "3-MEDIUM", "1995-01-11"))
    val dir = fixture("orders" -> ordersTable(rows))
    val r = Analytics.q_poisson_dispersion(spark, dir).collect()
    assert(r.length === 1)
    // counts [1×10, 23]: var = 44, mean = 3 → VMR = 44/3
    assert(r(0).getAs[Long]("yr") === 1995L)
    assert(r(0).getAs[Long]("n_days") === 11L)
    assert(r(0).getAs[Double]("vmr") === 14.6667)
    assert(r(0).getAs[Double]("d_stat") === 146.6667)
    assert(r(0).getAs[Long]("overdispersed") === 1L)
  }

  test("leverage points: a lone x=100 among x=10 reaches leverage 1.0 (hand-computed)") {
    val rows = (1 to 99).map(i => (i.toLong, 1L, 10.0, "2024-01-01")) :+
      (100L, 1L, 100.0, "2024-01-01")
    val dir = fixture("lineitem" -> lineitemTable(rows))
    val r = MLDeterministic.q_leverage_points(spark, dir).collect()
      .map(x => (x.getAs[Long]("x"), x.getAs[Long]("n_rows"),
        x.getAs[Double]("leverage"), x.getAs[Long]("high_influence"))).toSeq
    // Sxx = 8019: h(10) = 1/100 + 0.81/8019; h(100) = 1/100 + 7938.81/8019 = 1
    assert(r === Seq((10L, 99L, 0.01010101, 0L), (100L, 1L, 1.0, 1L)))
  }

  test("learning curve: a perfectly linear relation holds r2 = 1 at every sample size") {
    val li = (1 to 400).map { i =>
      val x = (i % 50) + 1
      (i.toLong, x.toLong, x.toDouble)
    }.toDF("l_orderkey", "q", "ep")
      .select(col("l_orderkey"), lit(1L).as("l_partkey"), lit(1L).as("l_suppkey"),
        lit(1).as("l_linenumber"), col("q").cast("double").as("l_quantity"),
        col("ep").as("l_extendedprice"), lit(0.0).as("l_discount"),
        lit(0.0).as("l_tax"), lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
        ts(lit("2024-01-01 00:00:00")).as("l_shipdate"))
    val dir = fixture("lineitem" -> li)
    val r = MLDeterministic.q_learning_curve(spark, dir).collect()
    assert(r.map(_.getAs[Long]("pct")).toSeq === Seq(10L, 20L, 40L, 80L, 100L))
    // y = 100x cents exactly → slope 100, r² = 1 at every training fraction
    r.foreach { x =>
      assert(x.getAs[Double]("slope") === 100.0)
      assert(x.getAs[Double]("r2") === 1.0)
    }
    val ns = r.map(_.getAs[Long]("n")).toSeq
    assert(ns === ns.sorted && ns.last === 400L)
  }

  test("funnel plot: over- and under-performing rates flag +1 and -1 (hand-computed)") {
    val cust = custTable(Seq((1L, 1, "BUILDING"), (2L, 2, "BUILDING")))
    val orders = ordersTable(Seq((1L, 1L, 100.0, "3-MEDIUM", "2024-01-05"),
      (2L, 2L, 100.0, "3-MEDIUM", "2024-01-05")))
    val li = (1 to 200).map { i =>
      val okey = if (i <= 100) 1L else 2L
      val rf = if (i <= 50) "R" else "N" // nation 1: 50% returns; nation 2: 0%
      (i.toLong, okey, rf)
    }.toDF("id", "l_orderkey", "rf")
      .select(col("l_orderkey"), lit(1L).as("l_partkey"), lit(1L).as("l_suppkey"),
        col("id").cast("int").as("l_linenumber"), lit(1.0).as("l_quantity"),
        lit(100.0).as("l_extendedprice"), lit(0.0).as("l_discount"),
        lit(0.0).as("l_tax"), col("rf").as("l_returnflag"), lit("O").as("l_linestatus"),
        ts(lit("2024-01-01 00:00:00")).as("l_shipdate"))
    val dir = fixture("customer" -> cust, "orders" -> orders, "lineitem" -> li)
    val r = Analytics.q_funnel_plot(spark, dir).collect()
      .map(x => (x.getAs[Number]("nation").longValue, x.getAs[Long]("o"),
        x.getAs[Long]("expected_e2"), x.getAs[Double]("smr"),
        x.getAs[Long]("flag"))).toSeq
    // pooled rate 0.25, e = 25: SMR 2.0 > 1+1.96/5, SMR 0 < 1−1.96/5
    assert(r === Seq((1L, 50L, 2500L, 2.0, 1L), (2L, 0L, 2500L, 0.0, -1L)))
  }

  test("max-min fairness: small demands satisfy, the large one hits the water level (hand-computed)") {
    val cust = custTable(Seq((1L, 1, "AUTOMOBILE"), (2L, 1, "BUILDING"), (3L, 1, "MACHINERY")))
    val orders = ordersTable(Seq((1L, 1L, 10.0, "3-MEDIUM", "2024-01-05"),
      (2L, 2L, 10.0, "3-MEDIUM", "2024-01-05"), (3L, 3L, 100.0, "3-MEDIUM", "2024-01-05")))
    val dir = fixture("orders" -> orders, "customer" -> cust)
    val r = Analytics.q_maxmin_fairness(spark, dir).collect()
      .map(x => (x.getAs[String]("c_mktsegment"), x.getAs[Long]("demand_cents"),
        x.getAs[Long]("satisfied"), x.getAs[Long]("water_level_cents"),
        x.getAs[Long]("alloc_cents"))).toSeq
    // cap = 60% of 12000 = 7200; the two 1000s fit, C gets λ = 5200
    assert(r === Seq(("AUTOMOBILE", 1000L, 1L, 5200L, 1000L),
      ("BUILDING", 1000L, 1L, 5200L, 1000L), ("MACHINERY", 10000L, 0L, 5200L, 5200L)))
  }

  test("D'Hondt: a dominant party sweeps all seats past its upper quota (hand-computed)") {
    // demands 8800/400/400/400: every 8800/k quotient (k ≤ 20) beats 400,
    // so AUTOMOBILE takes all 20 seats; upper quota = ceil(17.6) = 18
    val cust = custTable(Seq((1L, 1, "AUTOMOBILE"), (2L, 1, "BUILDING"),
      (3L, 1, "FURNITURE"), (4L, 1, "HOUSEHOLD")))
    val orders = ordersTable(Seq((1L, 1L, 88.0, "3-MEDIUM", "2024-01-05"),
      (2L, 2L, 4.0, "3-MEDIUM", "2024-01-05"), (3L, 3L, 4.0, "3-MEDIUM", "2024-01-05"),
      (4L, 4L, 4.0, "3-MEDIUM", "2024-01-05")))
    val dir = fixture("orders" -> orders, "customer" -> cust)
    val r = Analytics.q_dhondt_apportionment(spark, dir).collect()
      .map(x => (x.getAs[String]("c_mktsegment"), x.getAs[Long]("demand_cents"),
        x.getAs[Long]("seats"), x.getAs[Long]("lower_quota"),
        x.getAs[Long]("upper_quota"), x.getAs[Long]("quota_violated"))).toSeq
    assert(r === Seq(("AUTOMOBILE", 8800L, 20L, 17L, 18L, 1L),
      ("BUILDING", 400L, 0L, 0L, 1L, 0L), ("FURNITURE", 400L, 0L, 0L, 1L, 0L),
      ("HOUSEHOLD", 400L, 0L, 0L, 1L, 0L)))
  }

  test("Hardy-Weinberg: a homozygote-only segment is out of equilibrium (hand-computed)") {
    // custkeys 3,4,7,8 → genotypes 2,0,2,0: p = q = 0.5, chi2 = 1+2+1 = 4
    val dir = fixture("customer" -> custTable(Seq(
      (3L, 1, "BUILDING"), (4L, 1, "BUILDING"), (7L, 1, "BUILDING"), (8L, 1, "BUILDING"))))
    val r = Analytics.q_hardy_weinberg(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n") === 4L)
    assert(r(0).getAs[Long]("n0") === 2L)
    assert(r(0).getAs[Long]("n1") === 0L)
    assert(r(0).getAs[Long]("n2") === 2L)
    assert(r(0).getAs[Long]("chi2_e6") === 4000000L)
    assert(r(0).getAs[Long]("disequilibrium_5pct") === 1L)
  }

  test("cold items: a singleton-basket part and a never-sold brand both surface (hand-computed)") {
    val parts = partTable(Seq((1L, "T", 1, 100.0), (2L, "T", 1, 100.0),
      (3L, "T", 1, 100.0), (4L, "T", 1, 100.0), (5L, "T", 1, 100.0)))
      .withColumn("p_brand", when(col("p_partkey") <= 4L, "Brand#1").otherwise("Brand#2"))
    val li = lineitemTable(Seq((1L, 1L, 1.0, "2024-01-01"), (1L, 2L, 1.0, "2024-01-01"),
      (2L, 3L, 1.0, "2024-01-01"))) // order 1 = {p1,p2}, order 2 = {p3} singleton
    val dir = fixture("part" -> parts, "lineitem" -> li)
    val r = MLDeterministic.q_coverage_cold_items(spark, dir).collect()
      .map(x => (x.getAs[String]("p_brand"), x.getAs[Long]("n_catalog"),
        x.getAs[Long]("n_sold"), x.getAs[Long]("n_cooccur"),
        x.getAs[Long]("cold_share_e4"))).toSeq
    assert(r === Seq(("Brand#1", 4L, 3L, 2L, 3333L), ("Brand#2", 1L, 0L, 0L, -1L)))
  }

  test("partition health: a 16x day is flagged hot (hand-computed)") {
    var id = 0L
    val rows = (1 to 5).flatMap { d =>
      val k = if (d < 5) 1 else 16
      (1 to k).map { _ => id += 1; (id, f"2024-01-0$d%01d 12:00:00", 1L, "view", 1.0) }
    }
    val dir = fixture("events" -> eventsTable(rows))
    val r = Analytics.q_partition_health(spark, dir).collect()
      .map(x => (x.getAs[String]("day"), x.getAs[Long]("n_events"),
        x.getAs[Long]("n_users"), x.getAs[Long]("props_chars"),
        x.getAs[Long]("value_cents"), x.getAs[Long]("hot_flag"))).toSeq
    // hot when n·2·days > total·3, i.e. n > 6 of the 20 events
    assert(r === Seq(("2024-01-01", 1L, 1L, 2L, 100L, 0L),
      ("2024-01-02", 1L, 1L, 2L, 100L, 0L), ("2024-01-03", 1L, 1L, 2L, 100L, 0L),
      ("2024-01-04", 1L, 1L, 2L, 100L, 0L), ("2024-01-05", 16L, 1L, 32L, 1600L, 1L)))
  }

  test("supplier concentration: dominant and sole suppliers land in their bands (hand-computed)") {
    val li = Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L), (4L, 1L, 2L),
      (5L, 2L, 7L), (6L, 2L, 7L))
      .toDF("id", "l_partkey", "l_suppkey")
      .select(col("id").as("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        lit(1).as("l_linenumber"), lit(1.0).as("l_quantity"),
        lit(100.0).as("l_extendedprice"), lit(0.0).as("l_discount"),
        lit(0.0).as("l_tax"), lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
        ts(lit("2024-01-01 00:00:00")).as("l_shipdate"))
    val dir = fixture("lineitem" -> li)
    val r = Relational.q_supplier_concentration(spark, dir).collect()
      .map(x => (x.getAs[Long]("n_sup"), x.getAs[Long]("share_band"),
        x.getAs[Long]("n_parts"))).toSeq
    // part 1: 3-of-4 lines from its top supplier → 7500 → band 3;
    // part 2: sole supplier → 10000 → band 4
    assert(r === Seq((1L, 4L, 1L), (2L, 3L, 1L)))
  }

  test("nonresponse bias: responders' balances diverge from the frame (hand-computed)") {
    val cust = Seq((1L, 100.0), (2L, 300.0), (3L, -100.0), (4L, 100.0))
      .toDF("c_custkey", "bal")
      .select(col("c_custkey"), concat(lit("c"), col("c_custkey")).as("c_name"),
        lit(1).as("c_nationkey"), col("bal").as("c_acctbal"),
        lit("BUILDING").as("c_mktsegment"))
    val orders = ordersTable(Seq((1L, 1L, 100.0, "3-MEDIUM", "2024-01-05"),
      (2L, 2L, 100.0, "3-MEDIUM", "2024-01-05"))) // only customers 1 and 2 respond
    val dir = fixture("customer" -> cust, "orders" -> orders)
    val r = Sampling.q_nonresponse_bias(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_frame") === 4L)
    assert(r(0).getAs[Long]("n_resp") === 2L)
    assert(r(0).getAs[Long]("response_rate_e4") === 5000L)
    assert(r(0).getAs[Long]("frame_mean_cents") === 10000L) // (100+300−100+100)/4
    assert(r(0).getAs[Long]("resp_mean_cents") === 20000L) // (100+300)/2
    assert(r(0).getAs[Long]("abs_bias_cents") === 10000L)
  }

  test("contrast sequences: the high cohort's view-then-purchase pattern contrasts (hand-computed)") {
    val dir = fixture("events" -> eventsTable(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 11:00:00", 1L, "purchase", 99.0), // u1: high cohort
      (3L, "2024-01-01 10:00:00", 2L, "view", 1.0)))) // u2: low, no pair
    val r = Events.q_contrast_sequences(spark, dir).collect()
      .map(x => (x.getAs[String]("type_a"), x.getAs[String]("type_b"),
        x.getAs[Long]("rate_high_e4"), x.getAs[Long]("rate_low_e4"),
        x.getAs[Long]("contrast_e4"))).toSeq
    assert(r === Seq(("view", "purchase", 10000L, 0L, 10000L)))
  }

  test("scalar JSON: $.k extraction aggregates a real payload (hand-computed)") {
    val ev = Seq((1L, """{"k": 3}"""), (2L, """{"k": 7}"""))
      .toDF("event_id", "props")
      .select(col("event_id"), ts(lit("2024-01-01 12:00:00")).as("ts"),
        lit(1L).as("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), col("props"))
    val dir = fixture("events" -> ev)
    val r = Scalars.q_scalar_json(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n") === 2L)
    assert(r(0).getAs[Long]("sum_k") === 10L)
    assert(r(0).getAs[Number]("min_k").intValue === 3)
    assert(r(0).getAs[Number]("max_k").intValue === 7)
  }

  test("Good-Turing: hapaxes give a non-zero unseen mass p0 (hand-computed)") {
    val dir = fixture("documents" -> docsTable(Seq((1L, "a a a b b c", "en", "web"))))
    val r = Text.q_good_turing(spark, dir).collect()
      .map(x => (x.getAs[Long]("r"), x.getAs[Long]("n_r"),
        x.getAs[Long]("n_r_plus1"), x.getAs[Long]("r_star_e4"),
        x.getAs[Long]("p0_e6"))).toSeq
    // freqs a:3 b:2 c:1 → N=6, N₁=1: p₀ = 1/6; r* = (r+1)·N_{r+1}/N_r
    assert(r === Seq((1L, 1L, 1L, 20000L, 166666L), (2L, 1L, 1L, 30000L, 166666L),
      (3L, 1L, 0L, 0L, 166666L)))
  }

  test("lifecycle states: retained, resurrected and churning users classify (hand-computed)") {
    val dir = fixture("events" -> eventsTable(Seq(
      (1L, "2024-01-01 12:00:00", 1L, "view", 1.0),
      (2L, "2024-01-08 12:00:00", 1L, "view", 1.0),
      (3L, "2024-01-22 12:00:00", 1L, "view", 1.0), // gap week → resurrected
      (4L, "2024-01-01 12:00:00", 2L, "view", 1.0)))) // one-week user → churns
    val r = Analytics.q_lifecycle_states(spark, dir).collect()
      .map(x => (x.getAs[String]("week"), x.getAs[Long]("active_users"),
        x.getAs[Long]("n_new"), x.getAs[Long]("n_retained"),
        x.getAs[Long]("n_resurrected"), x.getAs[Long]("n_churning_after"))).toSeq
    assert(r === Seq(("2024-01-01", 2L, 2L, 0L, 0L, 1L),
      ("2024-01-08", 1L, 0L, 1L, 0L, 1L), ("2024-01-22", 1L, 0L, 0L, 1L, 1L)))
  }
}
