package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.core.Tables

/** The fixture-schema guard: the driver regenerates the parquet fixtures
  * between rounds and has changed physical types before (events.ts
  * INT64-nanos → timestamp[us], which broke 135 queries at analysis time).
  * These tests make any future drift fail HERE, in one place, with the
  * guard's readable message — instead of as scattered DATATYPE_MISMATCHes.
  */
class FixtureSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  test("every fixture table matches the declared schema contract") {
    // Tables.table runs the guard on every load; loading all ten is the test.
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      Tables.table(spark, sf, t)
  }

  test("Tables loads each table with the schema Spark would infer") {
    // the loader reads the schema from the footer on the driver instead of
    // running Spark's inference job; both must agree on every table
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      assert(Tables.table(spark, sf, t).schema ===
        spark.read.parquet(s"$sf/$t.parquet").schema, t)
  }

  test("guard names the table and column on type drift") {
    val bad = Tables.table(spark, sf, "events")
      .withColumn("value", org.apache.spark.sql.functions.col("value").cast("string"))
    val e = intercept[IllegalStateException](Tables.assertSchema("events", bad.schema))
    assert(e.getMessage.contains("events"))
    assert(e.getMessage.contains("value"))
  }

  test("guard names missing columns") {
    val bad = Tables.table(spark, sf, "events").drop("props")
    val e = intercept[IllegalStateException](Tables.assertSchema("events", bad.schema))
    assert(e.getMessage.contains("missing column props"))
  }

  test("eventsWithTs adapts to both shipped ts layouts") {
    import org.apache.spark.sql.functions._
    val ev = Tables.eventsWithTs(spark, sf)
    assert(ev.schema("ts_usl").dataType === LongType)
    assert(ev.schema("ts_nsl").dataType === LongType)
    assert(ev.schema("ts_us").dataType === TimestampType)
    // ns long is exactly µs·1000 and both derive from the same raw column
    val r = ev.select(sum(when(col("ts_nsl") === col("ts_usl") * 1000L, 0L)
      .otherwise(1L)).as("bad")).head()
    assert(r.getLong(0) === 0L)
    // the µs values must round-trip through the timestamp derivation
    val rt = ev.select(sum(when(unix_micros(col("ts_us")) === col("ts_usl"), 0L)
      .otherwise(1L)).as("bad")).head()
    assert(rt.getLong(0) === 0L)
  }

  test("events.value is non-negative (integer-div floor/trunc contract)") {
    import org.apache.spark.sql.functions._
    // q_gutenberg_richter / q_phase_profile (and other `sum div count`
    // means over value cents) rely on Spark's `div` (truncate toward zero)
    // agreeing with DuckDB's `//` (floor) — identical only for
    // non-negative operands. This pins the precondition so a fixture
    // regeneration with signed values fails HERE, not as a silent
    // cross-engine off-by-one.
    val bad = Tables.eventsWithTs(spark, sf)
      .agg(sum(when(col("value") < 0, 1L).otherwise(0L)).as("neg"))
      .head().getLong(0)
    assert(bad === 0L, "events.value went negative: audit every `div` mean")
  }

  test("eventsWithTs rejects an unknown ts layout loudly") {
    import org.apache.spark.sql.functions._
    val bad = Tables.table(spark, sf, "events")
      .withColumn("ts", col("ts").cast("string"))
    val e = intercept[IllegalStateException](Tables.assertSchema("events", bad.schema))
    assert(e.getMessage.contains("ts"))
  }

  test("legacy INT64-nanos ts layout still derives identical ts_usl/ts_us") {
    import org.apache.spark.sql.functions._
    // rounds 1-2 shipped ts as raw nanosecond longs (read under
    // nanosAsLong); synthesize that layout from the current fixture and
    // check the adaptive loader lands on the same derived columns
    val dir = TestSpark.tempDir("graft_nanos")
    val cur = Tables.eventsWithTs(spark, sf)
    cur.select(col("event_id"), (col("ts_usl") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val legacy = Tables.eventsWithTs(spark, dir)
    assert(legacy.schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(Tables.table(spark, dir, "events").schema ===
      spark.read.parquet(s"$dir/events.parquet").schema)
    val diff = legacy.select(col("event_id"), col("ts_usl").as("usl_legacy"))
      .join(cur.select(col("event_id"), col("ts_usl")), "event_id")
      .agg(sum(when(col("usl_legacy") === col("ts_usl"), 0L).otherwise(1L))
        .as("bad")).head().getLong(0)
    assert(diff === 0L, "legacy nanos branch diverges from timestamp branch")
    assert(legacy.count() === cur.count())
  }
}
