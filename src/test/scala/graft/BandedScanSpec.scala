package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.BandedScan

import scala.jdk.CollectionConverters._

/** Unit spec for the shared [[BandedScan]] primitive (~50 query call
  * sites): inclusive cumulative sums vs a brute-force theta-join oracle
  * on input shapes that stress the in-plan band sizing — dense, sparse
  * and wide, signed, a single row, empty, and groups whose value ranges
  * differ by orders of magnitude. Also pins the plan shape (no
  * empty-partitionSpec window) and that building a scan runs no job.
  */
class BandedScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A value lattice (g, v, x, y) from (g, v) pairs: duplicates dropped,
    * signed measures derived from the row's position. */
  private def latticeOf(gv: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    gv.distinct.zipWithIndex.map { case ((g, v), i) =>
      (g, v, (i * 37L) % 101L - 50L, (i * 17L) % 11L)
    }.toDF("g", "v", "x", "y").localCheckpoint()
  }

  /** Deterministic lattice: v from a hash so values are sparse, unordered
    * and signed. */
  private def lattice(n: Int, groups: Int): DataFrame =
    latticeOf((0 until n).map(i => ((i % groups).toLong, ((i * 2654435761L) % 10007L) - 5003L)))

  private def bruteCum(df: DataFrame, grouped: Boolean): DataFrame = {
    val a = df.as("a")
    val b = df.select(col("g").as("bg"), col("v").as("bv"),
      col("x").as("bx"), col("y").as("by")).as("b")
    val cond = if (grouped) col("a.g") === col("bg") && col("bv") <= col("a.v")
               else col("bv") <= col("a.v")
    a.join(b, cond)
      .groupBy(col("a.g").as("g"), col("a.v").as("v"))
      .agg(sum(col("bx")).as("cx_expect"), sum(col("by")).as("cy_expect"))
  }

  private def assertMatches(actual: DataFrame, expected: DataFrame,
                            cols: Seq[(String, String)]): Unit = {
    val j = actual.join(expected, Seq("g", "v"))
    val bad = cols.map { case (a, e) =>
      sum(when(col(a) === col(e), 0L).otherwise(1L))
    }.reduce(_ + _)
    assert(j.agg(coalesce(bad, lit(0L)).as("bad")).head().getLong(0) === 0L,
      "banded cum sums diverge from brute-force oracle")
    assert(actual.count() === expected.count())
  }

  private def checkShape(df: DataFrame): Unit = {
    assertMatches(BandedScan.cumSums(df, Seq.empty, "v", Seq("x" -> "cx", "y" -> "cy")),
      bruteCum(df, grouped = false), Seq("cx" -> "cx_expect", "cy" -> "cy_expect"))
    assertMatches(BandedScan.cumSums(df, Seq("g"), "v", Seq("x" -> "cx", "y" -> "cy")),
      bruteCum(df, grouped = true), Seq("cx" -> "cx_expect", "cy" -> "cy_expect"))
  }

  test("dense lattice matches brute force") {
    checkShape(latticeOf((0 until 300).map(i => ((i % 3).toLong, i.toLong))))
  }

  test("sparse lattice over a wide range matches brute force") {
    checkShape(latticeOf((0 until 300).map(i =>
      ((i % 2).toLong, (i * 7919L) % 641L * 1000000007L))))
  }

  test("signed lattice matches brute force") {
    checkShape(lattice(600, 5))
  }

  test("single row is its own cumulative sum") {
    checkShape(latticeOf(Seq((0L, -42L))))
  }

  test("empty input gives an empty scan") {
    val df = latticeOf(Seq((0L, 1L))).filter(col("v") > 1L)
    checkShape(df)
    assert(BandedScan.cumSums(df, Seq("g"), "v", Seq("x" -> "cx")).count() === 0L)
  }

  test("groups with disjoint ranges of very different widths match brute force") {
    // group 0: 200 dense values in [0, 200); group 1: 50 values spread
    // over 10^15; group 2: one value far below both
    checkShape(latticeOf((0 until 200).map(i => (0L, i.toLong)) ++
      (0 until 50).map(i => (1L, 1000000000000L + i * 20000000000000L)) :+
      ((2L, -5000000000000000L))))
  }

  test("groups whose first band differs stay independent") {
    import spark.implicits._
    // group 0 lives entirely in positive values, group 1 in negative ones
    val df = Seq((0L, 10L, 1L), (0L, 300L, 2L), (0L, 900L, 4L),
      (1L, -900L, 8L), (1L, -300L, 16L), (1L, -10L, 32L))
      .toDF("g", "v", "x").localCheckpoint()
    val got = BandedScan.cumSums(df, Seq("g"), "v", Seq("x" -> "cx"))
      .select("g", "v", "cx").orderBy("g", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 10L, 1L), (0L, 300L, 3L), (0L, 900L, 7L),
      (1L, -900L, 8L), (1L, -300L, 24L), (1L, -10L, 56L)))
  }

  test("strict-variant contract: inclusive minus own measure") {
    val df = lattice(100, 1)
    val strict = BandedScan.cumSums(df, Seq.empty, "v", Seq("x" -> "ci"))
      .withColumn("cs", col("ci") - col("x"))
    // strict cum of the minimum value is 0
    val mn = strict.orderBy("v").limit(1).select("cs").head().getLong(0)
    assert(mn === 0L)
  }

  test("non-integral vCol fails fast with a clear message") {
    import spark.implicits._
    val df = Seq((1.5, 1L)).toDF("v", "x")
    val e = intercept[IllegalArgumentException](
      BandedScan.cumSums(df, Seq.empty, "v", Seq("x" -> "c")))
    assert(e.getMessage.contains("vCol 'v' must be integral"))
  }

  test("non-integral measure fails fast with a clear message") {
    import spark.implicits._
    val df = Seq((1L, 0.5, 1L)).toDF("v", "x", "y")
    val e = intercept[IllegalArgumentException](
      BandedScan.cumSums(df, Seq.empty, "v", Seq("y" -> "cy", "x" -> "cx")))
    assert(e.getMessage.contains("measure 'x' must be integral"))
  }

  test("building a scan launches no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val df = lattice(300, 3)
    val sc = spark.sparkContext
    val group = "banded-scan-construction"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      BandedScan.cumSums(df, Seq("g"), "v", Seq("x" -> "cx", "y" -> "cy"))
      BandedScan.cumSums(df, Seq.empty, "v", Seq("x" -> "cx"))
      // the listener bus is asynchronous and in order: once the marker
      // job's start is seen, any construction job's start has been too
      sc.setJobDescription("marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_ == "marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.asScala.toList === List("marker"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("no empty-partitionSpec window, grouped or not") {
    val df = lattice(300, 2)
    for (groups <- Seq(Seq("g"), Seq.empty[String])) {
      val plan = BandedScan.cumSums(df, groups, "v", Seq("x" -> "cx"))
        .queryExecution.optimizedPlan
      val bare = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      assert(bare.isEmpty, "found a global (unkeyed) window in the banded scan")
    }
  }
}
