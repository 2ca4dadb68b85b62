package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Det

/** Edge cases the fixtures cannot exercise (they have zero nulls and no
  * planted ties): null join keys, null-vs-empty aggregation, top-k tie
  * stability, cents rounding at boundaries.
  */
class EdgeCasesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  test("null join keys never match (inner, semi, anti)") {
    import spark.implicits._
    val a = Seq((Some(1L), "a1"), (None, "a2")).toDF("k", "va")
    val b = Seq((Some(1L), "b1"), (None, "b2")).toDF("k", "vb")
    assert(a.join(b, a("k") === b("k")).count() === 1)            // null ≠ null
    assert(a.join(b, a("k") === b("k"), "left_semi").count() === 1)
    assert(a.join(b, a("k") === b("k"), "left_anti").count() === 1) // the null row survives anti
    // null-safe equality is the opt-in
    assert(a.join(b, a("k") <=> b("k")).count() === 2)
  }

  test("aggregates on empty input vs all-null input") {
    import spark.implicits._
    val empty = Seq.empty[(String, Option[Double])].toDF("g", "v")
    assert(empty.agg(sum("v")).head().isNullAt(0))
    assert(empty.agg(count(lit(1))).head().getLong(0) === 0L)
    val nulls = Seq(("a", None: Option[Double]), ("a", None)).toDF("g", "v")
    val r = nulls.groupBy("g").agg(sum("v").as("s"), count(col("v")).as("c")).head()
    assert(r.isNullAt(1) && r.getLong(2) === 0L) // SUM all-null = NULL, COUNT(col) = 0
  }

  test("top-k with exact ties is stable under the id tie-breaker") {
    import spark.implicits._
    val df = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 99L))
      .toDF("id", "score")
    val top2 = df.orderBy(col("score").desc, col("id").asc).limit(2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 === Seq(1L, 2L)) // deterministic despite 3-way score tie
  }

  test("cents conversion handles FP representation noise and negatives") {
    import spark.implicits._
    val vals = Seq(19.99, 0.01, -5.07, 123456.78, 0.0).toDF("v")
    val got = vals.select(Det.cents(col("v"))).collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1999L, 1L, -507L, 12345678L, 0L))
  }

  test("rank vs row_number diverge exactly on ties") {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score").desc)
    val df = Seq(("a", 10), ("b", 10), ("c", 9)).toDF("id", "score")
      .withColumn("rnk", rank().over(w))
      .withColumn("rn", row_number().over(w))
      .collect().map(r => (r.getString(0), r.getInt(2), r.getInt(3)))
    assert(df.count(x => x._2 == 1) === 2) // rank: both tied rows are 1
    assert(df.map(_._3).sorted.toSeq === Seq(1, 2, 3)) // row_number: unique
  }

  test("window lag over a single-row partition yields null delta") {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy("t")
    val df = Seq((1L, 10L), (2L, 20L), (2L, 30L)).toDF("u", "t")
      .withColumn("prev", lag(col("t"), 1).over(w))
    val u1 = df.filter(col("u") === 1).head()
    assert(u1.isNullAt(2))
  }

  test("max(struct) argmax ties resolve to the larger key on both engines") {
    import spark.implicits._
    val m = Seq((1L, 10L), (2L, 10L), (3L, 9L)).toDF("k", "v")
      .agg(max(struct(col("v"), col("k"))).as("m"))
      .select(col("m.k")).head().getLong(0)
    assert(m === 2L) // tied v=10 → larger k wins (matches ORDER BY v DESC, k DESC rn=1)
  }

  test("seq_pack: a document larger than the bin still lands in exactly one pack") {
    val packs = graft.ops.Sampling.q_seq_pack(spark, sf).collect()
    val docsInPacks = packs.map(_.getAs[Long]("n_docs")).sum
    val docs = graft.core.Tables.documents(spark, sf).count()
    assert(docsInPacks === docs, "packing must partition the corpus exactly")
  }

  test("minmax scaling bounds: per-vector min/max stay inside [0, 1e6]") {
    val rows = graft.ops.Sampling.q_minmax_scale(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_e6") >= 0L && r.getAs[Long]("max_e6") <= 1000000L)
    }
  }

  test("EWMA of a constant series is the constant times the weight sum") {
    import spark.implicits._
    // user with >=8 events, all value v: ewma_e6 = v * Σw after warmup
    val wsum = Seq(1000000L, 500000L, 250000L, 125000L, 62500L, 31250L, 15625L, 7812L).sum
    val ewma = graft.ops.Windows.q_window_ewma(spark, sf)
    // the EWMA is dominated by the LAGGED values, so bound it by the
    // table-wide max |v| (a per-row bound on the current value is
    // data-dependent and latently flaky)
    val maxAbsV = ewma.agg(max(abs(col("v")))).head().getLong(0)
    val sample = ewma.limit(200).collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      assert(math.abs(r.getAs[Long]("ewma_e6")) <= maxAbsV * wsum,
        "ewma magnitude must be bounded by the largest value × Σweights")
    }
  }

  test("chi-square output is a single well-formed row with dof (flags-1)(statuses-1)") {
    val r = graft.ops.MLDeterministic.q_chi_square(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("dof") ===
      (row.getAs[Long]("n_flags") - 1) * (row.getAs[Long]("n_statuses") - 1))
    assert(row.getAs[Double]("chi2") >= 0.0)
  }

  /** The calendar has no gaps and covers every event day of `dir`. */
  private def checkCalendar(session: org.apache.spark.sql.SparkSession, dir: String): Seq[String] = {
    val days = graft.ops.Events.q_recursive_calendar(session, dir).collect()
    val dates = days.map(_.getAs[String]("day"))
    assert(dates.length >= 2)
    assert(dates.toSeq === dates.sorted.toSeq)
    val total = days.map(_.getAs[Long]("n_events")).sum
    assert(total === graft.core.Tables.eventsWithTs(session, dir).count())
    // scaffold is contiguous: length equals datediff(min, max) + 1
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val lo = java.time.LocalDate.parse(dates.head, fmt)
    val hi = java.time.LocalDate.parse(dates.last, fmt)
    assert(dates.length.toLong === java.time.temporal.ChronoUnit.DAYS.between(lo, hi) + 1)
    dates.toSeq
  }

  test("recursive calendar has no gaps and covers every event day") {
    checkCalendar(spark, sf)
  }

  test("recursive calendar spans more than 100 days at the default recursion limit") {
    // one recursion level per day: the CTE sizes its own limit, so a fresh
    // session keeps Spark's default of 100 levels before and after
    val fresh = spark.newSession()
    Graft.attach(fresh)
    import fresh.implicits._
    val limit = "spark.sql.cteRecursionLevelLimit"
    assert(fresh.conf.get(limit) === "100")
    val dir = TestSpark.tempDir("graft_calendar")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 12, 0)
    Seq(0L, 45L, 150L).map(d => (d, t0.plusDays(d), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val dates = checkCalendar(fresh, dir)
    assert(dates.length === 151)
    assert(fresh.conf.get(limit) === "100")
  }
}
