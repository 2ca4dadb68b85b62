package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public facade — the one-stop entry point for library users.
  *
  * {{{
  * val spark = Graft.session()                    // configured local session
  * val li    = Graft.table(spark, dataDir, "lineitem")
  * val top   = Graft.query("q_topk_customers")(spark, dataDir)
  * }}}
  *
  * Programmatic users can also take any existing session and call
  * [[attach]] to install the read confs and the graft function surface
  * (`graft_dot`, `graft_dist2`, `graft_tokenize`, `graft_cosine_centroid`).
  */
object Graft {

  /** The engine's session settings. [[session]] applies each one only if
    * the launcher has not set it already (a `-Dspark.*` system property or
    * a `spark-submit --conf`), so any of them can be overridden per run,
    * e.g. `-Dspark.sql.adaptive.coalescePartitions.minPartitionSize=1m`.
    */
  private val sessionDefaults: Seq[(String, String)] = Seq(
    "spark.ui.enabled" -> "false",
    // AQE's partition coalescing floors every post-shuffle partition at
    // minPartitionSize (default 1m) even with parallelismFirst=true; on
    // compute-heavy but byte-light stages (pair/gram fan-out joins from
    // a few-MB shuffle) that floor serialized 32 cores down to 2 tasks
    // (profiled round 10: q_rouge_recall's 2.7 s stage → 1.0 s at 32
    // tasks). At cluster scale post-shuffle partitions are ≫1m and the
    // floor never binds, so production behavior is unchanged.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // The UI is off but the status stores still retain per-execution
    // plan graphs and per-job/stage/task rollups for the REST API
    // (defaults: 1000 executions / 1000 jobs / 1000 stages / 100k
    // tasks). A 976-query run accumulates all of it as dead heap —
    // the round-10 decile analysis showed queries mid-suite running
    // 1.5-2× their fresh-JVM time. Retain a handful for postmortems.
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "64",
    "spark.ui.retainedStages" -> "64",
    "spark.ui.retainedTasks" -> "2000")

  /** A session configured the way the engine expects: the settings above,
    * plus UTC, nanos-timestamp reads and the graft functions ([[attach]]).
    * `shufflePartitions` should be ≈ total cores on the cluster (set to
    * explicit values in tests/bench; leave default 200 on real clusters
    * only if AQE coalescing is on — it is by default).
    */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val conf = new SparkConf() // already holds every spark.* system property
    sessionDefaults.foreach { case (k, v) => conf.setIfMissing(k, v) }
    val s = SparkSession.builder()
      .config(conf)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .getOrCreate()
    attach(s)
    s
  }

  /** The session of the local mains (`Bench`, `Verify`, `tools.*`):
    * `local[n]` with n shuffle partitions, n = `SPARK_GRAFT_CPUS` (default 4). */
  private[graft] def localSession(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    val s = session(s"local[$cpus]", cpus)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Install graft's read confs + function surface on a live session.
    *
    * `events.parquet` stores `ts` as INT64 TIMESTAMP(NANOS) which Spark 4.x
    * refuses by default ([PARQUET_TYPE_ILLEGAL]); `nanosAsLong` reads it as
    * raw nanosecond longs, from which `Tables.eventsWithTs` derives a
    * microsecond-floored timestamp that matches DuckDB's own µs truncation
    * bit-for-bit. Both confs are read-time confs, safe on a live session.
    * Queries never write them: building a query leaves the conf alone.
    */
  def attach(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    functions.GraftFunctions.register(spark)
  }

  /** Load one of the engine's tables from a data directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") core.Tables.eventsWithTs(spark, dir)
    else core.Tables.table(spark, dir, name)

  /** Look up a declared operator by its SURVEY.md §2 key. */
  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries(name)

  /** All declared operator keys. */
  def queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Register all fixture tables as temp views for the SQL entry path. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      core.Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }
}
