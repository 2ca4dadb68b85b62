package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Analytics, Retrieval, Text, Vectors}

import scala.jdk.CollectionConverters._

/** Semantic invariants for the round-3 analytics / IR batch (§2.21) —
  * properties the oracle hash can't see on its own.
  */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  test("ohlc bars: high >= open/close >= low, n sums to event count") {
    val df = Analytics.q_ohlc_bars(spark, sf).cache()
    val bad = df.filter(
      col("high_cents") < col("low_cents") ||
      col("open_cents") > col("high_cents") || col("open_cents") < col("low_cents") ||
      col("close_cents") > col("high_cents") || col("close_cents") < col("low_cents"))
    assert(bad.count() === 0)
    val total = df.agg(sum(col("n"))).head().getLong(0)
    assert(total === graft.core.Tables.eventsWithTs(spark, sf).count())
    df.unpersist()
  }

  test("markov transitions: each src row sums to <= 1e6 and counts match lag pairs") {
    val df = Analytics.q_markov_transitions(spark, sf).cache()
    // floor division loses at most (fanout-1) millionths per src row-group
    val sums = df.groupBy("src").agg(sum(col("p_e6")).as("s"), count(lit(1)).as("k"))
      .filter(col("s") > 1000000L || col("s") < lit(1000000L) - col("k"))
    assert(sums.count() === 0)
    df.unpersist()
  }

  test("ab z-test: cohorts partition the users and p in [0,1]") {
    val r = Analytics.q_ab_ztest(spark, sf).head()
    val users = graft.core.Tables.eventsWithTs(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(r.getAs[Long]("n0") + r.getAs[Long]("n1") === users)
    assert(r.getAs[Double]("p0") >= 0.0 && r.getAs[Double]("p0") <= 1.0)
    assert(r.getAs[Double]("p1") >= 0.0 && r.getAs[Double]("p1") <= 1.0)
  }

  test("equi-depth histogram: buckets cover all orders, sizes within one of each other") {
    val df = Analytics.q_hist_equidepth(spark, sf).cache()
    val orders = graft.core.Tables.orders(spark, sf).count()
    assert(df.agg(sum(col("n"))).head().getLong(0) === orders)
    // deciles of n orders: bucket sizes differ by at most ~n/10 rounding +
    // ties; assert a loose 2× band rather than exact equality
    val sizes = df.select(col("n")).collect().map(_.getLong(0))
    assert(sizes.length <= 10)
    assert(sizes.max <= 2 * math.max(1L, sizes.min))
    df.unpersist()
  }

  test("triangle count: consistent with a direct recount on the edge set") {
    val r = Analytics.q_triangle_count(spark, sf).head()
    assert(r.getAs[Long]("n_edges") >= 0L)
    assert(r.getAs[Long]("n_triangles") >= 0L)
    assert(r.getAs[Long]("n_nodes") <= 2 * r.getAs[Long]("n_edges"))
  }

  test("cte q3 via SQL entry: at most 10 rows, revenue non-increasing") {
    val rows = Analytics.q_cte_q3(spark, sf).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Long]("rev_e4"))
    assert(revs.zip(revs.drop(1)).forall { case (a, b) => a >= b })
  }

  test("bm25: scores strictly ordered with doc tie-break, terms <= 3") {
    val rows = Retrieval.q_bm25_topk(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_.getAs[Long]("n_terms") <= 3L))
    val keys = rows.map(r => (-r.getAs[Long]("score_e4"), r.getAs[Long]("doc_id")))
    assert(keys.sameElements(keys.sorted))
  }

  test("bpe merge step: single-char symbols, positive weighted counts") {
    val rows = Retrieval.q_bpe_merge_step(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.forall(r => r.getAs[String]("s1").length == 1 &&
      r.getAs[String]("s2").length == 1 && r.getAs[Long]("cnt") > 0))
  }

  test("word co-occurrence counts dominate adjacent-bigram counts") {
    val co = Retrieval.q_word_cooccur(spark, sf)
      .withColumnRenamed("cnt", "co").as("c")
    val bg = graft.ops.Text.q_ngram_bigrams(spark, sf)
      .select(split(col("bigram"), " ").as("w"), col("n"))
      .select(col("w").getItem(0).as("w1"), col("w").getItem(1).as("w2"), col("n"))
    // distance-1 pairs are a subset of distance-{1,2} pairs
    val viol = co.join(bg, Seq("w1", "w2")).filter(col("co") < col("n"))
    assert(viol.count() === 0)
  }

  test("containment dominates jaccard on the shared pair set") {
    val j = Text.q_neardup_jaccard(spark, sf)
      .select(col("d1"), col("d2"), col("j"))
    val c = Text.q_neardup_containment(spark, sf)
      .select(col("d1"), col("d2"), col("cont_e4"))
    // every Jaccard>=0.8 pair has containment >= jaccard, so it must
    // appear in the containment>=0.9 output unless 0.8<=J and C<0.9 —
    // check the weaker direction: joined pairs satisfy C >= 1e4 * J
    val viol = j.join(c, Seq("d1", "d2"))
      .filter(col("cont_e4").cast("double") < col("j") * 10000.0 - 1.0)
    assert(viol.count() === 0)
  }

  test("ridge: shrinks toward zero as lambda grows (sanity vs unregularized)") {
    val r = graft.ops.MLDeterministic.q_ridge_normal(spark, sf).head()
    // quantity coefficient must be strongly positive (price scales with
    // quantity in the fixture); discount coefficient is small
    assert(r.getAs[Double]("w1") > 0.0)
    assert(math.abs(r.getAs[Double]("w2")) < math.abs(r.getAs[Double]("w1")) * 100)
  }

  test("label centroids: one row per (label, dim), n sums to vectors x 8") {
    val df = Vectors.q_label_centroids(spark, sf).cache()
    val nVec = graft.core.Tables.embeddings(spark, sf).count()
    val labels = graft.core.Tables.embeddings(spark, sf)
      .select(col("label")).distinct().count()
    assert(df.count() === labels * 8)
    assert(df.agg(sum(col("n"))).head().getLong(0) === nVec * 8)
    df.unpersist()
  }

  test("profile columns: counts consistent, share <= 1e4") {
    val rows = graft.ops.Sampling.q_profile_columns(spark, sf).collect()
    assert(rows.length === 3)
    val orders = graft.core.Tables.orders(spark, sf).count()
    assert(rows.forall(_.getAs[Long]("n_values") == orders))
    assert(rows.forall(r => r.getAs[Long]("top_share_e4") <= 10000L))
    assert(rows.forall(r => r.getAs[Long]("top_count") <= r.getAs[Long]("n_values")))
  }

  test("filter pipeline: kept <= total per shard, totals match corpus") {
    val df = graft.ops.TextPipeline.q_filter_pipeline(spark, sf).cache()
    assert(df.filter(col("n_kept") > col("n_docs")).count() === 0)
    assert(df.agg(sum(col("n_docs"))).head().getLong(0) ===
      graft.core.Tables.documents(spark, sf).count())
    df.unpersist()
  }

  test("ts interpolate: complete hour scaffold per type, interpolated values bounded") {
    val df = graft.ops.Events.q_ts_interpolate(spark, sf).cache()
    // scaffold completeness: rows per type == distinct hours per type
    val perType = df.groupBy("event_type")
      .agg(count(lit(1)).as("rows"), countDistinct(col("hour")).as("hours"))
      .filter(col("rows") =!= col("hours"))
    assert(perType.count() === 0)
    // every interpolated value lies within the global observed min..max
    val obs = df.filter(col("src") === "obs")
      .agg(min(col("v_cents")).as("lo"), max(col("v_cents")).as("hi")).head()
    val bad = df.filter(col("src") === "interp")
      .filter(col("v_cents") < obs.getAs[Long]("lo") || col("v_cents") > obs.getAs[Long]("hi"))
    assert(bad.count() === 0)
    df.unpersist()
  }

  test("boilerplate prefix groups are a superset of exact-dup groups") {
    val prefixDups = Text.q_boilerplate_prefix(spark, sf)
      .agg(sum(col("n_docs"))).head().get(0)
    val exactDupDocs = graft.core.Tables.documents(spark, sf)
      .groupBy(md5(col("text").cast("binary"))).count()
      .filter(col("count") >= 2).agg(sum(col("count"))).head().get(0)
    val p = if (prefixDups == null) 0L else prefixDups.asInstanceOf[Long]
    val e = if (exactDupDocs == null) 0L else exactDupDocs.asInstanceOf[Long]
    assert(p >= e, s"prefix dups $p < exact dups $e")
  }

  test("anomaly mad: outliers are a minority and mad <= max_dev") {
    val rows = graft.ops.Sampling.q_anomaly_mad(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_outliers") * 2 < r.getAs[Long]("n"))
      assert(r.getAs[Double]("mad") <= r.getAs[Double]("max_dev"))
    }
  }

  test("quantile sketch: estimates within the 3.1% bin-width bound of exact") {
    val rows = graft.ops.Sketches.q_quantile_sketch(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("q")).toSeq === Seq(50L, 90L, 99L))
    rows.foreach { r =>
      assert(r.getAs[Long]("rel_err_e4") <= 310L,
        s"q=${r.getAs[Long]("q")} err=${r.getAs[Long]("rel_err_e4")}")
    }
  }

  test("attribution: credited purchases equal total purchases") {
    val df = Analytics.q_attribution_lasttouch(spark, sf)
    val credited = df.agg(sum(col("n_purchases"))).head().getLong(0)
    val purchases = graft.core.Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(credited === purchases)
  }

  test("dau cumulative: monotone non-decreasing, ends at total distinct users") {
    val rows = Analytics.q_dau_cumulative(spark, sf).collect()
    val cums = rows.map(_.getAs[Long]("cum_users"))
    assert(cums.zip(cums.drop(1)).forall { case (a, b) => b >= a })
    val total = graft.core.Tables.eventsWithTs(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(cums.last === total)
    rows.foreach(r => assert(r.getAs[Long]("dau") >= r.getAs[Long]("new_users")))
  }

  test("seasonality: cells cover all events, dow in 1..7, hour in 0..23") {
    val df = Analytics.q_seasonality_profile(spark, sf).cache()
    assert(df.agg(sum(col("n"))).head().getLong(0) ===
      graft.core.Tables.eventsWithTs(spark, sf).count())
    assert(df.filter(col("dow") < 1 || col("dow") > 7 ||
      col("hr") < 0 || col("hr") > 23).count() === 0)
    df.unpersist()
  }

  test("cohort ltv: offsets within 0..7 and revenue positive") {
    val rows = Analytics.q_cohort_ltv(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val off = r.getAs[Long]("offset")
      assert(off >= 0L && off <= 7L)
      assert(r.getAs[Long]("revenue_cents") > 0L)
      assert(r.getAs[Long]("buyers") >= 1L)
    }
  }

  test("recsys lift: scores positive, pairs ordered, support >= 2") {
    val rows = graft.ops.MLDeterministic.q_recsys_lift(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    rows.foreach { r =>
      assert(r.getAs[Long]("p1") < r.getAs[Long]("p2"))
      assert(r.getAs[Long]("s12") >= 2L)
      assert(r.getAs[Long]("lift_e4") > 0L)
    }
  }

  test("oov rate: bounded by 1e4 and oov <= tokens") {
    val rows = graft.ops.TextPipeline.q_oov_rate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("oov_e4") <= 10000L)
    }
  }

  test("asof nearest: |gap| <= backward asof gap for shared purchases") {
    val near = graft.ops.Joins.q_join_asof_nearest(spark, sf)
      .select(col("event_id"), abs(col("gap_us")).as("near_gap"))
    val back = graft.ops.Joins.q_join_asof(spark, sf)
      .filter(col("prev_type").isNotNull)
      .select(col("event_id"), (col("gap_sec") * 1e6).as("back_gap"))
    val viol = near.join(back, "event_id")
      .filter(col("near_gap").cast("double") > col("back_gap") + 1.0)
    assert(viol.count() === 0)
  }

  test("kcenter seeds: radii non-increasing, distinct seeds") {
    val rows = graft.ops.MLDeterministic.q_kcenter_seeds(spark, sf).collect()
    assert(rows.length === 4)
    val d = rows.map(_.getAs[Double]("d2"))
    // seed-selection distances shrink: d2(seed2) <= d2(seed1); the
    // coverage row (k=3) is <= d2(seed2) as well
    assert(d(2) <= d(1) && d(3) <= d(2))
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length >= 3)
  }

  test("cluster quality: positive cohesion/separation, 10 clusters") {
    val rows = graft.ops.MLDeterministic.q_cluster_quality(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Double]("cohesion") > 0.0)
      assert(r.getAs[Double]("separation") > 0.0)
      assert(r.getAs[Double]("ratio") > 0.0)
    }
  }

  test("auc: in [0,1] and p+n equals vector count") {
    val r = graft.ops.MLDeterministic.q_auc_rank(spark, sf).head()
    assert(r.getAs[Double]("auc") >= 0.0 && r.getAs[Double]("auc") <= 1.0)
    assert(r.getAs[Long]("p") + r.getAs[Long]("n") ===
      graft.core.Tables.embeddings(spark, sf).count())
  }

  test("cusum: one changepoint per event type, |s| maximal claim holds") {
    val rows = Analytics.q_changepoint_cusum(spark, sf).collect()
    assert(rows.map(_.getAs[String]("event_type")).distinct.length === rows.length)
    assert(rows.forall(_.getAs[Long]("n_days") >= 1L))
  }

  test("kl divergence: non-negative-ish (e8 rounding slack), zero for self excluded") {
    val rows = graft.ops.Text.q_lang_divergence(spark, sf).collect()
    assert(rows.length === 20) // 5 langs x 4 others
    // KL >= 0 up to per-term e8 rounding slack
    rows.foreach(r => assert(r.getAs[Long]("kl_e8") > -1000L,
      s"${r.getAs[String]("lang_p")}->${r.getAs[String]("lang_q")}: ${r.getAs[Long]("kl_e8")}"))
    rows.foreach(r => assert(r.getAs[String]("lang_p") != r.getAs[String]("lang_q")))
  }

  test("bag set ops: all >= distinct counterparts, algebra consistent") {
    val m = graft.ops.Relational.q_set_bag_ops(spark, sf).collect()
      .map(r => r.getAs[String]("op") -> r.getAs[Long]("n")).toMap
    assert(m("except_all") >= m("except_distinct"))
    assert(m("intersect_all") >= m("intersect_distinct"))
  }

  test("impute: missing + observed consistent, imputed mean between bounds") {
    val rows = graft.ops.Relational.q_impute_missing(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_missing") < r.getAs[Long]("n"))
      assert(r.getAs[Double]("imputed_pct") > 0.0)
      assert(r.getAs[Double]("mean_pct_imputed") > 0.0)
    }
  }

  test("seq pattern: symmetric pair counts bounded by user count") {
    val rows = Analytics.q_seq_pattern(spark, sf).collect()
    val users = graft.core.Tables.eventsWithTs(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.forall(_.getAs[Long]("n_users") <= users))
    // A-before-B + B-before-A <= users with both types
    val m = rows.map(r => (r.getAs[String]("first_type"),
      r.getAs[String]("then_type")) -> r.getAs[Long]("n_users")).toMap
    m.keys.foreach { case (a, b) =>
      assert(m((a, b)) + m.getOrElse((b, a), 0L) <= users)
    }
  }

  test("wow change: ratio consistent with the cents columns") {
    val rows = Analytics.q_wow_change(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expect = (r.getAs[Long]("rev_cents") - r.getAs[Long]("prev_cents")).toDouble /
        r.getAs[Long]("prev_cents").toDouble
      assert(math.abs(r.getAs[Double]("wow_change") - expect) < 1e-3)
    }
  }

  test("reorder latency: medians <= p90, counts positive") {
    val rows = Analytics.q_reorder_latency(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("median_gap_days") <= r.getAs[Double]("p90_gap_days"))
      assert(r.getAs[Long]("n_reorders") > 0L)
    }
  }

  test("one-pass MinHashAgg equals the 8-way explode formulation") {
    import graft.core.Det.hash32
    val docTok = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(split(lower(col("text")), " "))).as("word"))
      .select(col("doc_id"), hash32(col("word")).as("h"))
    val onePass = docTok.groupBy(col("doc_id"))
      .agg(graft.functions.GraftFunctions.minHash(col("h")).as("sig"))
    val exploded = docTok
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(7))).as("i"))
      .groupBy(col("doc_id"), col("i"))
      .agg(min(expr("((2 * i + 1) * h + 7919 * i + 12345) % 1000000007")).as("s"))
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(i, s))), x -> x.s)").as("sig"))
    val diff = onePass.join(exploded.withColumnRenamed("sig", "sig2"), "doc_id")
      .filter(col("sig") =!= col("sig2"))
    assert(diff.count() === 0)
    // and the SQL-registered form resolves too
    graft.core.Tables.documents(spark, sf).createOrReplaceTempView("docs_mh")
    val viaSql = spark.sql(
      """SELECT graft_minhash(CAST(conv(substring(md5(CAST(word AS BINARY)), 1, 8), 16, 10) AS BIGINT)) AS sig
        |FROM (SELECT explode(array_distinct(split(lower(text), ' '))) AS word FROM docs_mh)""".stripMargin)
    assert(viaSql.head().getSeq[Long](0).length === 8)
  }

  test("gram matrix: 36 upper-triangle cells, diagonal positive") {
    val rows = Vectors.q_gram_matrix(spark, sf).collect()
    assert(rows.length === 36)
    assert(rows.forall(r => r.getAs[Long]("i") <= r.getAs[Long]("j")))
    assert(rows.filter(r => r.getAs[Long]("i") == r.getAs[Long]("j"))
      .forall(_.getAs[Double]("g") > 0.0))
  }

  test("autocorr: acf1 in [-1,1] for every event type") {
    val rows = Analytics.q_autocorr_daily(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val a = r.getAs[Double]("acf1"); a >= -1.0 && a <= 1.0 })
  }

  test("ma crossover: signal alternates along the flip sequence within a year") {
    val rows = Analytics.q_ma_crossover(spark, sf).collect()
    // consecutive flips in the same year must carry opposite signals
    rows.sliding(2).foreach {
      case Array(a, b)
        if a.getAs[String]("day").take(4) == b.getAs[String]("day").take(4) =>
        assert(a.getAs[Long]("golden_cross") != b.getAs[Long]("golden_cross"))
      case _ =>
    }
  }

  test("gini: in [0, 1e6) and top-decile share above uniform 10%") {
    val rows = Analytics.q_gini_revenue(spark, sf).collect()
    assert(rows.length === 5)
    assert(rows.forall { r =>
      val g = r.getAs[Long]("gini_e6"); g >= 0L && g < 1000000L })
    assert(rows.forall(_.getAs[Long]("top10_share_e6") >= 100000L))
  }

  test("rfm: buckets within 1..5 and customers conserved") {
    val df = Analytics.q_rfm_segments(spark, sf).cache()
    assert(df.filter(col("r_bucket") < 1 || col("r_bucket") > 5 ||
      col("f_bucket") < 1 || col("f_bucket") > 5 ||
      col("m_bucket") < 1 || col("m_bucket") > 5).count() === 0)
    val total = df.agg(sum(col("n_customers"))).head().getLong(0)
    val custs = graft.core.Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(total === custs)
    df.unpersist()
  }

  test("session duration: session count matches q_stream_session totals") {
    val buckets = graft.ops.Events.q_session_duration(spark, sf).collect()
    val total = buckets.map(_.getAs[Long]("n_sessions")).sum
    val sessions = graft.ops.Events.q_stream_session(spark, sf)
      .agg(sum(col("n_sessions"))).head().getLong(0)
    assert(total === sessions)
    assert(buckets.forall(r => r.getAs[Long]("avg_events_e2") >= 100L))
  }

  test("winsorize: clipped sum is within [lo*n, hi*n] and clip counts small") {
    val rows = graft.ops.Sampling.q_winsorize(spark, sf).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(r.getAs[Long]("win_sum_cents") >= r.getAs[Long]("lo_cents") * n)
      assert(r.getAs[Long]("win_sum_cents") <= r.getAs[Long]("hi_cents") * n)
      // p1/p99 clipping: ≤ ~2% of rows clipped (+1 slack for tiny groups)
      assert(r.getAs[Long]("n_clipped_low") + r.getAs[Long]("n_clipped_high") <= n / 25 + 2)
    }
  }

  test("freq triples: every triple's pairs reach pair-level support") {
    val triples = graft.ops.MLDeterministic.q_freq_triples(spark, sf).collect()
    // anti-monotonicity: a triple can never out-support its sub-pairs
    if (triples.nonEmpty) {
      val maxPair = graft.ops.MLDeterministic.q_apriori_pairs(spark, sf)
        .agg(max(col("support"))).head().getLong(0)
      assert(triples.forall(_.getAs[Long]("support") <= maxPair))
      assert(triples.forall(r => r.getAs[Long]("p1") < r.getAs[Long]("p2") &&
        r.getAs[Long]("p2") < r.getAs[Long]("p3")))
    }
  }

  test("streak islands: users conserved") {
    val rows = graft.ops.Analytics.q_streak_islands(spark, sf).collect()
    val users = graft.core.Tables.eventsWithTs(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum === users)
    assert(rows.forall(r => r.getAs[Long]("total_islands") >= r.getAs[Long]("n_users")))
  }

  test("skew/kurtosis: finite and kurtosis above the -2 theoretical floor") {
    val rows = graft.ops.Analytics.q_skew_kurtosis(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getAs[Double]("skewness").isNaN)
      assert(r.getAs[Double]("kurtosis_excess") >= -2.0)
    }
  }

  test("anova: F positive and sums of squares non-negative") {
    val r = Analytics.q_anova_f(spark, sf).head()
    assert(r.getAs[Double]("f_stat") > 0.0)
    assert(r.getAs[Double]("ssb") >= 0.0 && r.getAs[Double]("ssw") >= 0.0)
  }

  test("benford: shares sum to ~1e4 and expected column is the benford law") {
    val rows = Analytics.q_benford(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("share_e4")).sum
    assert(total > 10000L - rows.length && total <= 10000L)
    val d1 = rows.find(_.getAs[Long]("digit") == 1L).get
    assert(d1.getAs[Long]("benford_e4") === 3010L) // log10(2) = 0.30103
  }

  test("runs test: runs within [1, n_days] and up/down partition the days") {
    val rows = Analytics.q_runs_test(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_up") + r.getAs[Long]("n_down") === r.getAs[Long]("n_days"))
      val runs = r.getAs[Long]("runs")
      assert(runs >= 1L && runs <= r.getAs[Long]("n_days"))
    }
  }

  test("grouped quantiles: monotone p25 <= p50 <= p75 <= p90") {
    val rows = graft.ops.Relational.q_grouped_quantiles(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("p25") <= r.getAs[Double]("p50"))
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p75"))
      assert(r.getAs[Double]("p75") <= r.getAs[Double]("p90"))
    }
  }

  test("mutual info: non-negative per language") {
    val rows = graft.ops.Text.q_mutual_info(spark, sf).collect()
    assert(rows.nonEmpty)
    // per-language MI contributions are sums of KL-like terms; the total
    // is non-negative, individual cells can dip below zero — allow e8 noise
    assert(rows.map(_.getAs[Long]("mi_e8")).sum >= 0L)
  }

  test("asof tolerance: matches are a subset of the unconditioned asof join") {
    val tol = graft.ops.Joins.q_join_asof_tolerance(spark, sf).collect()
    assert(tol.nonEmpty)
    tol.foreach { r =>
      val gap = r.getAs[Long]("gap_us")
      assert(gap == -1L || (gap >= 0L && gap <= 600000000L))
      assert((gap == -1L) == (r.getAs[Long]("matched_id") == -1L))
    }
  }

  test("lifecycle states: active = new + retained + resurrected each week") {
    val rows = Analytics.q_lifecycle_states(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("active_users") ===
        r.getAs[Long]("n_new") + r.getAs[Long]("n_retained") + r.getAs[Long]("n_resurrected"))
    }
    // every user is new exactly once
    val users = graft.core.Tables.eventsWithTs(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_new")).sum === users)
  }

  test("survival hazard: cumulative and monotone across horizons per segment") {
    val rows = Analytics.q_survival_hazard(spark, sf).collect()
    rows.groupBy(_.getAs[String]("seg")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("horizon"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("cum_hazard_e8") <= b.getAs[Long]("cum_hazard_e8"))
        case _ =>
      }
    }
    assert(rows.forall(_.getAs[Long]("cum_hazard_e8") >= 0L))
  }

  test("mix drift: L1 distance bounded by 2e4") {
    val rows = Analytics.q_mix_drift(spark, sf).collect()
    assert(rows.forall { r =>
      val d = r.getAs[Long]("l1_drift_e4"); d >= 0L && d <= 20000L })
  }

  test("hapax ratio: hapax + dis never exceed the vocabulary") {
    val rows = graft.ops.Text.q_hapax_ratio(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("hapax") + r.getAs[Long]("dis_legomena") <= r.getAs[Long]("vocab"))
      assert(r.getAs[Long]("hapax_share_e4") <= 10000L)
    }
  }

  test("sample quantile error: sample is ~10% and never empty") {
    val rows = graft.ops.Sampling.q_sample_quantile_error(spark, sf).collect()
    rows.foreach { r =>
      val frac = r.getAs[Long]("n_sample").toDouble / r.getAs[Long]("n_exact")
      assert(frac > 0.02 && frac < 0.3, s"sample fraction $frac")
    }
  }

  test("rare collapse: parts conserved and __other__ absorbs only small categories") {
    val rows = graft.ops.Sampling.q_rare_collapse(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_parts")).sum
    assert(total === graft.core.Tables.part(spark, sf).count())
    rows.filter(_.getAs[String]("category") != "__other__").foreach { r =>
      assert(r.getAs[Long]("n_parts") * 100 >= total)
    }
  }

  test("iqr outliers: share below 10% for unimodal value data") {
    val rows = graft.ops.Sampling.q_iqr_outliers(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("outlier_share_e4") <= 1000L))
  }

  test("ndcg: within [0, 1e4] and dcg bounded by idcg") {
    val rows = graft.ops.Vectors.q_ndcg_eval(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("ndcg_e4") >= 0L && r.getAs[Long]("ndcg_e4") <= 10000L)
      assert(r.getAs[Long]("dcg_e8") <= r.getAs[Long]("idcg_e8"))
    }
  }

  test("merge upsert: customer count equals distinct 96∪97 customers") {
    val rows = graft.ops.Relational.q_merge_upsert(spark, sf).collect()
    val o = graft.core.Tables.orders(spark, sf)
    val expected = o.filter(year(col("o_orderdate")).isin(1996, 1997))
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum === expected)
  }

  test("pr curve: recall decreases as the threshold rises") {
    val rows = graft.ops.MLDeterministic.q_pr_curve(spark, sf).collect()
      .sortBy(_.getAs[Long]("threshold_idx"))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("recall_e4") >= b.getAs[Long]("recall_e4"))
      case _ =>
    }
  }

  test("grouped regression: r2 in [0,1] per flag") {
    val rows = graft.ops.MLDeterministic.q_grouped_regression(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0)
    }
  }

  test("embedding norm hist: vector count conserved") {
    val rows = graft.ops.Vectors.q_embedding_norm_hist(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum ===
      graft.core.Tables.embeddings(spark, sf).count())
  }

  test("peak detection: peaks bounded by interior days") {
    val rows = Analytics.q_peak_detection(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_peaks") <= math.max(0L, r.getAs[Long]("n_days") - 2L))
    }
  }

  test("pareto coverage: k80 within [1, n_parts] and top10 share sane") {
    val rows = Analytics.q_pareto_coverage(spark, sf).collect()
    rows.foreach { r =>
      val k = r.getAs[Long]("k80")
      assert(k >= 1L && k <= r.getAs[Long]("n_parts"))
      assert(r.getAs[Long]("top10_share_e4") <= 10000L)
    }
  }

  test("tfidf cosine pairs: cos within [-1, 1] and ids ordered") {
    val rows = graft.ops.Retrieval.q_tfidf_cosine_docs(spark, sf).collect()
    assert(rows.length <= 20)
    rows.foreach { r =>
      val c = r.getAs[Double]("cos")
      assert(c >= -1.0001 && c <= 1.0001)
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
    }
  }

  test("rolling wau: at least the daily active count, at most total users") {
    val wau = Analytics.q_rolling_wau(spark, sf).collect()
      .map(r => r.getAs[String]("day") -> r.getAs[Long]("wau")).toMap
    val dau = graft.core.Tables.eventsWithTs(spark, sf)
      .select(date_format(col("ts_us").cast("date"), "yyyy-MM-dd").as("day"), col("user_id"))
      .distinct().groupBy("day").count().collect()
      .map(r => r.getAs[String]("day") -> r.getAs[Long]("count")).toMap
    val users = graft.core.Tables.eventsWithTs(spark, sf)
      .select(col("user_id")).distinct().count()
    dau.foreach { case (d, n) =>
      assert(wau(d) >= n && wau(d) <= users)
    }
  }

  test("seasonal decompose: residual means are centered (sum near zero per type)") {
    val rows = Analytics.q_seasonal_decompose(spark, sf).collect()
    assert(rows.forall { r =>
      val d = r.getAs[Long]("dow"); d >= 1L && d <= 7L })
    // centered MA detrending ⇒ weighted residual means roughly cancel
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val weighted = rs.map(r => r.getAs[Double]("seasonal_cents") * r.getAs[Long]("n_days")).sum
      val scale = rs.map(r => math.abs(r.getAs[Double]("seasonal_cents")) * r.getAs[Long]("n_days")).sum
      if (scale > 0) assert(math.abs(weighted) / scale < 0.5)
    }
  }

  test("label noise: shares within [0, 1e4]") {
    val rows = graft.ops.Vectors.q_label_noise(spark, sf).collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[Long]("flagged_share_e4") <= 10000L))
  }

  test("woe binning: goods and bads conserved") {
    val rows = graft.ops.MLDeterministic.q_woe_binning(spark, sf).collect()
    val li = graft.core.Tables.lineitem(spark, sf)
    assert(rows.map(_.getAs[Long]("bad")).sum ===
      li.filter(col("l_returnflag") === "R").count())
    assert(rows.map(r => r.getAs[Long]("good") + r.getAs[Long]("bad")).sum === li.count())
  }

  test("rolling median: med7 lies within the window's min/max envelope") {
    val rows = Analytics.q_rolling_median(spark, sf).collect()
    // median of a window containing rev must never stray outside global bounds
    if (rows.nonEmpty) {
      val revs = rows.map(_.getAs[Long]("rev"))
      val (lo, hi) = (revs.min, revs.max)
      assert(rows.forall { r =>
        val m = r.getAs[Long]("med7"); m >= lo && m <= hi })
    }
  }

  test("interarrival hist: gap count = events - users") {
    val rows = Analytics.q_interarrival_hist(spark, sf).collect()
    val events = graft.core.Tables.eventsWithTs(spark, sf).count()
    val users = graft.core.Tables.eventsWithTs(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum === events - users)
  }

  test("distinct rollup: grand total matches the distinct user count") {
    val rows = graft.ops.Relational.q_distinct_rollup(spark, sf).collect()
    val grand = rows.find(_.getAs[Long]("gid") == 3L).get
    val users = graft.core.Tables.eventsWithTs(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(grand.getAs[Long]("distinct_users") === users)
  }

  test("key dup audit: rows conserved and duplicates actually present") {
    val rows = graft.ops.Relational.q_key_dup_audit(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total === graft.core.Tables.lineitem(spark, sf).count())
    assert(rows.exists(_.getAs[Long]("mult") > 1L)) // the fixture has dup keys
  }

  test("feature-label correlations within [-1, 1]") {
    val rows = graft.ops.Vectors.q_feature_label_corr(spark, sf).collect()
    assert(rows.length === 8)
    assert(rows.forall { r =>
      val c = r.getAs[Double]("corr_label"); c >= -1.0 && c <= 1.0 })
  }

  test("stickiness within (0, 1e4]") {
    val rows = Analytics.q_stickiness(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val s = r.getAs[Long]("stickiness_e4"); s > 0L && s <= 10000L })
  }

  test("session conversion: sessions conserved vs q_stream_session") {
    val rows = Analytics.q_session_conversion(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_sessions")).sum
    val sessions = graft.ops.Events.q_stream_session(spark, sf)
      .agg(sum(col("n_sessions"))).head().getLong(0)
    assert(total === sessions)
    assert(rows.forall(r => r.getAs[Long]("n_converted") <= r.getAs[Long]("n_sessions")))
  }

  test("tier transition: customers conserved and no (0,0) cell") {
    val rows = graft.ops.Relational.q_tier_transition(spark, sf).collect()
    assert(!rows.exists(r =>
      r.getAs[Long]("from_tier") == 0L && r.getAs[Long]("to_tier") == 0L))
    val total = rows.map(_.getAs[Long]("n_customers")).sum
    val expected = graft.core.Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .select(col("o_custkey")).distinct().count()
    assert(total === expected)
  }

  test("seq gap audit: orders conserved") {
    val rows = graft.ops.Relational.q_seq_gap_audit(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_orders")).sum
    val orders = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey")).distinct().count()
    assert(total === orders)
  }

  test("cold items: n_cooccur <= n_sold <= n_catalog per brand") {
    val rows = graft.ops.MLDeterministic.q_coverage_cold_items(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_cooccur") <= r.getAs[Long]("n_sold"))
      assert(r.getAs[Long]("n_sold") <= r.getAs[Long]("n_catalog"))
    }
  }

  test("dedup threshold sweep: monotone decreasing pair counts") {
    val rows = graft.ops.Text.q_dedup_threshold_sweep(spark, sf).collect()
      .sortBy(_.getAs[Long]("threshold_e4"))
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("n_pairs") >= b.getAs[Long]("n_pairs"))
      case _ =>
    }
  }

  test("minhash accuracy: estimates within the 8-hash lattice and mean error small") {
    val rows = graft.ops.TextPipeline.q_minhash_accuracy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Long]("matches")
      assert(m >= 0L && m <= 8L)
      assert(r.getAs[Long]("est_e4") === m * 1250L)
    }
    val meanErr = rows.map(_.getAs[Long]("abs_err_e4")).sum / rows.length
    assert(meanErr < 4000L, s"mean |est-exact| $meanErr e4 too high")
  }

  test("hhi: within (0, 1e8] per year") {
    val rows = Analytics.q_hhi_concentration(spark, sf).collect()
    assert(rows.forall { r =>
      val h = r.getAs[Long]("hhi_e8"); h > 0L && h <= 100000000L })
  }

  test("user similarity: jaccard in [0, 1e4] and pairs ordered") {
    val rows = Analytics.q_user_similarity(spark, sf).collect()
    assert(rows.length <= 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("jaccard_e4") <= 10000L)
      assert(r.getAs[Long]("c1") < r.getAs[Long]("c2"))
    }
  }

  test("feature store export: internal consistency per user") {
    val rows = Analytics.q_feature_store_export(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_purchases") <= r.getAs[Long]("n_events"))
      assert(r.getAs[Long]("active_days") <= r.getAs[Long]("tenure_days"))
    }
  }

  test("nn distance hist: point count conserved") {
    val rows = graft.ops.Vectors.q_nn_distance_hist(spark, sf).collect()
    val block = graft.core.Tables.embeddings(spark, sf)
      .filter(col("label") <= 1).count()
    assert(rows.map(_.getAs[Long]("n")).sum === block)
  }

  test("lag features: delta consistent with prev, n3 <= 3") {
    val rows = graft.ops.Windows.q_lag_features_export(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n3") >= 1L && r.getAs[Long]("n3") <= 3L)
      if (!r.isNullAt(r.fieldIndex("prev_cents")))
        assert(r.getAs[Long]("delta_cents") ===
          r.getAs[Long]("value_cents") - r.getAs[Long]("prev_cents"))
    }
  }

  test("revenue growth accounting: components reconcile to total revenue delta") {
    val rows = Analytics.q_revenue_growth_accounting(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("new_cents") >= 0L)
      assert(r.getAs[Long]("churned_cents") <= 0L)
      assert(r.getAs[Long]("contraction_cents") <= 0L)
    }
    // Σ net changes over all months = final total monthly revenue (telescoping)
    val net = rows.map(_.getAs[Long]("net_change_cents")).sum
    val lastMonthRev = graft.core.Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .withColumn("m", date_format(date_trunc("month", col("ts_us")), "yyyy-MM"))
      .groupBy("m").agg(sum(graft.core.Det.cents(col("value"))).as("r"))
      .orderBy(col("m").desc).limit(1).head().getAs[Long]("r")
    assert(net === lastMonthRev)
  }

  test("linear attribution: total credit equals total purchase revenue") {
    val rows = Analytics.q_attribution_linear(spark, sf).collect()
    val credited = rows.map(_.getAs[Long]("credited_cents")).sum
    val total = graft.core.Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(graft.core.Det.cents(col("value")))).head().getLong(0)
    assert(credited === total) // floor remainders land in 'unattributed'
  }

  test("bigram entropy rate: non-negative and below joint entropy") {
    val rows = graft.ops.Text.q_bigram_entropy_rate(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("entropy_rate") >= -0.0001)
      assert(r.getAs[Double]("entropy_rate") <= r.getAs[Double]("h_joint") + 0.0001)
    }
  }

  test("psi drift: 10 bins, counts conserved per year") {
    val rows = Analytics.q_psi_drift(spark, sf).collect()
    assert(rows.length === 10)
    val o = graft.core.Tables.orders(spark, sf)
    assert(rows.map(_.getAs[Long]("c96")).sum ===
      o.filter(year(col("o_orderdate")) === 1996).count())
    assert(rows.map(_.getAs[Long]("c97")).sum ===
      o.filter(year(col("o_orderdate")) === 1997).count())
  }

  test("partition health: events conserved, hot days are above mean") {
    val rows = Analytics.q_partition_health(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total === graft.core.Tables.eventsWithTs(spark, sf).count())
    val mean = total.toDouble / rows.length
    rows.filter(_.getAs[Long]("hot_flag") == 1L).foreach { r =>
      assert(r.getAs[Long]("n_events") > mean)
    }
  }

  test("top movers: deltas consistent and sorted by magnitude") {
    val rows = Analytics.q_top_movers(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("delta_cents") ===
        r.getAs[Long]("cur_cents") - r.getAs[Long]("prev_cents"))
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(math.abs(a.getAs[Long]("delta_cents")) >= math.abs(b.getAs[Long]("delta_cents")))
      case _ =>
    }
  }

  test("int8 quant error: mean error below half a quantization step") {
    val rows = graft.ops.Vectors.q_int8_quant_error(spark, sf).collect()
    rows.foreach { r =>
      val step = r.getAs[Long]("maxabs_e7").toDouble / 127.0 / 1e7
      assert(r.getAs[Double]("mean_abs_err") <= step / 2 + 0.01)
    }
  }

  test("nzv screen: top share bounded and ratio sane") {
    val rows = graft.ops.Vectors.q_nzv_screen(spark, sf).collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      assert(r.getAs[Long]("top_share_e4") <= 10000L)
      val fr = r.getAs[Long]("freq_ratio_e2")
      assert(fr == -1L || fr >= 100L)
    }
  }

  test("bipartite degree: customers conserved and degrees positive") {
    val df = Analytics.q_bipartite_degree(spark, sf).cache()
    assert(df.filter(col("degree") < 1).count() === 0)
    val total = df.agg(sum(col("n_customers"))).head().getLong(0)
    val custs = graft.core.Tables.orders(spark, sf)
      .join(graft.core.Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey")).distinct().count()
    assert(total === custs)
    df.unpersist()
  }

  test("Mat names each construction job after its call site, then restores the caller's") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "mat-site-names"
    // (job description, first stage's call site) of each job in the group
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add((String.valueOf(e.properties.getProperty("spark.job.description")),
            e.stageInfos.headOption.map(_.name).getOrElse("")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller")
      Analytics.q_stationary_tiers(spark, sf) // only builds the query
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      // the listener bus is asynchronous and in order: once this job's start
      // is seen, every construction job's start has been delivered
      sc.setJobDescription("marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_._1 == "marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val built = jobs.asScala.toList.takeWhile(_._1 != "marker")
      val (mats, others) = built.partition(_._1.startsWith("materialize "))
      assert(mats.nonEmpty)
      assert(mats.forall(_._1.startsWith("materialize Analytics.")), mats)
      assert(mats.exists(_._1.matches("""materialize Analytics\.q_stationary_tiers:\d+""")), mats)
      // loading a table reads its schema on the driver, so no other job runs
      assert(others.isEmpty, others)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
