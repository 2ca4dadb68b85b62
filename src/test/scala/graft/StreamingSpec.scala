package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streaming

case class Ev(ts_us: Timestamp, event_type: String, value: Double, user_id: Long)

/** Structured Streaming twins: MemoryStream-driven equivalence with the
  * batch operators, watermark late-data semantics, stateful ops.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def runToCompletion(stream: MemoryStream[Ev], out: String,
                              build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                              mode: OutputMode = OutputMode.Complete()): Unit = {
    val q = build(stream.toDF())
      .writeStream.format("memory").queryName(out).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  test("streaming tumbling counts equal the batch computation") {
    import spark.implicits._
    val events = Seq(
      Ev(ts(5), "view", 1.00, 1), Ev(ts(20), "view", 2.00, 1),
      Ev(ts(65), "view", 3.00, 2), Ev(ts(70), "click", 4.00, 2))
    val stream = MemoryStream[Ev](spark)
    stream.addData(events: _*)
    runToCompletion(stream, "tumbling_out", Streaming.tumblingCounts)
    val streamed = spark.table("tumbling_out")
      .select(col("win_start"), col("event_type"), col("n"), col("value_cents"))
      .collect().toSet
    val batch = events.toDF()
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(graft.core.Det.cents(col("value"))).as("value_cents"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("value_cents"))
      .collect().toSet
    assert(streamed === batch)
  }

  test("streaming OHLC bars equal the batch computation") {
    import spark.implicits._
    val events = Seq(
      Ev(ts(5), "view", 3.00, 1), Ev(ts(20), "view", 1.00, 1),
      Ev(ts(40), "view", 2.00, 1), Ev(ts(65), "view", 5.00, 2))
    val stream = MemoryStream[Ev](spark)
    stream.addData(events: _*)
    runToCompletion(stream, "ohlc_out", Streaming.ohlcBars)
    val streamed = spark.table("ohlc_out").collect().toSet
    val batch = Streaming.ohlcBars(events.toDF()).collect().toSet
    assert(streamed === batch)
    // first hour: open=300 (00:05), close=200 (00:40), high=300, low=100
    val h0 = streamed.find(r => r.getAs[java.sql.Timestamp]("win_start").toString
      .startsWith("2024-01-01 00:00")).get
    assert(h0.getAs[Long]("open_cents") === 300L)
    assert(h0.getAs[Long]("close_cents") === 200L)
    assert(h0.getAs[Long]("high_cents") === 300L)
    assert(h0.getAs[Long]("low_cents") === 100L)
  }

  test("late event beyond the watermark is dropped from append output") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val q = Streaming.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append()).start()
    stream.addData(Ev(ts(10), "view", 1.0, 1))
    q.processAllAvailable()
    // advance event time far ahead => watermark passes hour-0 window
    stream.addData(Ev(ts(300), "view", 1.0, 1))
    q.processAllAvailable()
    // this event is 290 min late — behind the watermark, must be ignored
    stream.addData(Ev(ts(11), "view", 99.0, 1))
    q.processAllAvailable()
    stream.addData(Ev(ts(400), "view", 1.0, 1))
    q.processAllAvailable()
    q.stop()
    val hour0 = spark.table("late_out")
      .filter(col("win_start") === ts(0)).collect()
    assert(hour0.forall(_.getAs[Long]("n") === 1L)) // late row not counted
  }

  test("session_window merges events within the 30-minute gap") {
    import spark.implicits._
    val events = Seq(
      Ev(ts(0), "view", 1.0, 7), Ev(ts(10), "view", 1.0, 7),   // session 1
      Ev(ts(100), "view", 1.0, 7),                             // session 2
      Ev(ts(105), "view", 1.0, 8))                             // other user
    val stream = MemoryStream[Ev](spark)
    stream.addData(events: _*)
    runToCompletion(stream, "session_out", Streaming.sessionCounts)
    val rows = spark.table("session_out").collect()
    val u7 = rows.filter(_.getAs[Long]("user_id") == 7L)
    assert(u7.length === 2)
    assert(u7.map(_.getAs[Long]("n_events")).sorted.toSeq === Seq(1L, 2L))
  }

  test("mapGroupsWithState accumulates running user totals across batches") {
    import spark.implicits._
    val stream = MemoryStream[Streaming.UserEvent](spark)
    val q = Streaming.runningUserTotals(stream.toDS())
      .writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Update()).start()
    stream.addData(Streaming.UserEvent(1, 1.50), Streaming.UserEvent(1, 2.50))
    q.processAllAvailable()
    stream.addData(Streaming.UserEvent(1, 1.00))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("state_out").collect()
      .filter(_.getAs[Long]("user_id") == 1L)
      .maxBy(_.getAs[Long]("n"))
    assert(last.getAs[Long]("n") === 3L)
    assert(last.getAs[Long]("total_cents") === 500L)
  }

  test("transformWithState (RocksDB store) matches mapGroupsWithState totals") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Streaming.UserEvent](spark)
      val q = Streaming.runningUserTotalsTws(stream.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update()).start()
      stream.addData(Streaming.UserEvent(5, 2.25), Streaming.UserEvent(5, 0.75))
      q.processAllAvailable()
      stream.addData(Streaming.UserEvent(5, 1.00))
      q.processAllAvailable()
      q.stop()
      val last = spark.table("tws_out").collect()
        .filter(_.getAs[Long]("user_id") == 5L)
        .maxBy(_.getAs[Long]("n"))
      assert(last.getAs[Long]("n") === 3L)
      assert(last.getAs[Long]("total_cents") === 400L)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("file sink writes streaming output to parquet with checkpointing") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_sink")
    val stream = MemoryStream[Ev](spark)
    stream.addData(Ev(ts(1), "view", 1.0, 1), Ev(ts(2), "click", 2.0, 2))
    val q = graft.streaming.Streaming.startFileSink(
      stream.toDF(), s"$dir/out", s"$dir/ckpt")
    q.awaitTermination() // AvailableNow trigger: terminates when drained
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 2)
    assert(back.columns.toSet === Set("ts_us", "event_type", "value", "user_id"))
  }

  test("genuinely unbounded source: rate stream feeds a windowed aggregate") {
    // the sandbox has no Kafka, but Spark's built-in rate source IS an
    // unbounded streaming source — this closes the "MemoryStream-only"
    // gap: micro-batches arrive on their own schedule, the aggregation
    // keeps running state, and the query is stopped (not drained) like a
    // production stream would be
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
    val agg = rate
      .withWatermark("timestamp", "5 seconds")
      .groupBy(expr("value % 10").as("bucket"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("max_v"))
    val q = agg.writeStream.format("memory").queryName("rate_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      // liveness, not wall-clock: poll the query's INPUT progress (not
      // the output bucket count — the output can trail the input on a
      // loaded machine) until >=10 source rows are ingested, then
      // synchronize with processAllAvailable. value%10 covers all 10
      // buckets once >=10 INPUT rows have been processed, so the exact
      // coverage assert is gated on that input fact: if the 120 s
      // deadline ever fires first, the test still checks liveness but
      // skips the coverage assert instead of re-creating the old flake.
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def inputRows = q.recentProgress.map(_.numInputRows).sum
      var inputs = 0L
      while (inputs < 10 && System.nanoTime() < deadline) {
        Thread.sleep(500)
        inputs = inputRows
      }
      q.processAllAvailable()
      val buckets = spark.table("rate_out").count()
      if (inputs >= 10) {
        assert(buckets === 10L, s"expected all 10 buckets after drain, got $buckets")
      } else {
        assert(buckets > 0L,
          s"rate source processed only $inputs rows in 120 s and no bucket appeared")
      }
      val total = spark.table("rate_out")
        .agg(sum(col("n"))).head().getLong(0)
      assert(total > 0L)
    } finally q.stop()
  }

  test("streaming dedup drops same-fingerprint duplicates in the horizon") {
    import spark.implicits._
    case class Doc(ts_us: Timestamp, fingerprint: String)
    val stream = MemoryStream[(Timestamp, String)](spark)
    val q = Streaming.dedupByKey(
      stream.toDF().toDF("ts_us", "fingerprint"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    stream.addData((ts(1), "fp1"), (ts(1), "fp1"), (ts(2), "fp2"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() === 2)
  }
}
