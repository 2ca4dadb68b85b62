package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Central table loader for the driver-generated parquet fixtures.
  *
  * All queries load tables through here, so every read passes the
  * fixture-schema guard. The read confs the loaders rely on
  * (`nanosAsLong`, UTC) are installed once per session by `Graft.attach`;
  * loading a table writes no session conf.
  *
  * Scale note: each table is a single parquet file at test scale, but the
  * loaders take any directory layout `spark.read.parquet` accepts — at
  * production scale the same paths would be partitioned directories and the
  * plans below (declarative DataFrame ops) pick up partition pruning and
  * split-parallel scans with no code change.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = footerSchema(spark, path)
    assertSchema(name, schema)
    spark.read.schema(schema).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` would infer, read from one
    * footer on the driver: inference runs a Spark job on every load, and
    * loading happens while a query is built. Like Spark without schema
    * merging, it takes the first data file of a directory, prefers the
    * Spark schema stored in the footer and converts under the session's
    * SQLConf, so `nanosAsLong` and NTZ inference give the same types.
    */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val root = fs.makeQualified(new Path(path))
    val file =
      if (!fs.getFileStatus(root).isDirectory) root
      else {
        val files = fs.listFiles(root, true)
        Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
          .filterNot(_.toString.stripPrefix(root.toString).split('/')
            .exists(n => n.startsWith("_") || n.startsWith("."))) // hidden, summary
          .minByOption(_.toString)
          .getOrElse(throw new IllegalStateException(s"no parquet data file under $path"))
      }
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  // ---- fixture-schema guard -------------------------------------------------
  //
  // The driver regenerates the fixtures between rounds and has already changed
  // physical types once (events.ts INT64-nanos → timestamp[us]), which broke
  // 135 queries with scattered analysis-time errors. This guard pins the
  // engine's assumptions in ONE place: any column set / type drift outside the
  // accepted alternatives fails immediately with a readable message naming the
  // table, column, and both types. Footer-only check — no data is read.

  private type TypeOk = DataType => Boolean
  private def is(t: DataType): TypeOk = _ == t
  /** Date-like: every consumer goes through to_date/date_trunc/date_format,
    * which accept any of these. */
  private val dateLike: TypeOk =
    t => t == TimestampNTZType || t == TimestampType || t == DateType
  /** events.ts layouts seen so far; [[eventsWithTs]] adapts per-schema. */
  private val eventTs: TypeOk =
    t => t == LongType || t == TimestampNTZType || t == TimestampType
  private val floatArray: TypeOk =
    { case ArrayType(FloatType, _) => true; case _ => false }

  private val expectedSchemas: Map[String, Seq[(String, TypeOk, String)]] = Map(
    "region" -> Seq(
      ("r_regionkey", is(IntegerType), "int"), ("r_name", is(StringType), "string")),
    "nation" -> Seq(
      ("n_nationkey", is(IntegerType), "int"), ("n_name", is(StringType), "string"),
      ("n_regionkey", is(IntegerType), "int")),
    "customer" -> Seq(
      ("c_custkey", is(LongType), "bigint"), ("c_name", is(StringType), "string"),
      ("c_nationkey", is(IntegerType), "int"), ("c_acctbal", is(DoubleType), "double"),
      ("c_mktsegment", is(StringType), "string")),
    "supplier" -> Seq(
      ("s_suppkey", is(LongType), "bigint"), ("s_name", is(StringType), "string"),
      ("s_nationkey", is(IntegerType), "int"), ("s_acctbal", is(DoubleType), "double")),
    "part" -> Seq(
      ("p_partkey", is(LongType), "bigint"), ("p_name", is(StringType), "string"),
      ("p_brand", is(StringType), "string"), ("p_type", is(StringType), "string"),
      ("p_size", is(IntegerType), "int"), ("p_retailprice", is(DoubleType), "double")),
    "orders" -> Seq(
      ("o_orderkey", is(LongType), "bigint"), ("o_custkey", is(LongType), "bigint"),
      ("o_orderstatus", is(StringType), "string"), ("o_totalprice", is(DoubleType), "double"),
      ("o_orderdate", dateLike, "timestamp/date"),
      ("o_orderpriority", is(StringType), "string")),
    "lineitem" -> Seq(
      ("l_orderkey", is(LongType), "bigint"), ("l_partkey", is(LongType), "bigint"),
      ("l_suppkey", is(LongType), "bigint"), ("l_linenumber", is(IntegerType), "int"),
      ("l_quantity", is(DoubleType), "double"), ("l_extendedprice", is(DoubleType), "double"),
      ("l_discount", is(DoubleType), "double"), ("l_tax", is(DoubleType), "double"),
      ("l_returnflag", is(StringType), "string"), ("l_linestatus", is(StringType), "string"),
      ("l_shipdate", dateLike, "timestamp/date")),
    "events" -> Seq(
      ("event_id", is(LongType), "bigint"), ("ts", eventTs, "bigint-nanos/timestamp"),
      ("user_id", is(LongType), "bigint"), ("event_type", is(StringType), "string"),
      ("value", is(DoubleType), "double"), ("props", is(StringType), "string")),
    "documents" -> Seq(
      ("doc_id", is(LongType), "bigint"), ("text", is(StringType), "string"),
      ("lang", is(StringType), "string"), ("source", is(StringType), "string"),
      ("n_chars", is(LongType), "bigint")),
    "embeddings" -> Seq(
      ("vec_id", is(LongType), "bigint"), ("embedding", floatArray, "array<float>"),
      ("label", is(IntegerType), "int")))

  /** Throws with a single readable message if `schema` drifted from the
    * declared contract for fixture `name`. */
  def assertSchema(name: String, schema: StructType): Unit =
    expectedSchemas.get(name).foreach { exp =>
      val actual = schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = exp.collect { case (c, _, _) if !actual.contains(c) => c }
      val wrong = exp.collect {
        case (c, ok, want) if actual.get(c).exists(t => !ok(t)) =>
          s"$c is ${actual(c).simpleString} (engine expects $want)"
      }
      val extra = actual.keySet -- exp.map(_._1)
      if (missing.nonEmpty || wrong.nonEmpty)
        throw new IllegalStateException(
          s"fixture schema drift in table '$name': " +
            (missing.map(c => s"missing column $c") ++ wrong).mkString("; ") +
            (if (extra.nonEmpty) s"; new columns ${extra.mkString(",")}" else "") +
            " — the driver regenerated the fixtures with a new layout; update " +
            "graft.core.Tables (expectedSchemas and any affected loader) in one place")
    }

  def region(spark: SparkSession, sf: String): DataFrame   = table(spark, sf, "region")
  def nation(spark: SparkSession, sf: String): DataFrame   = table(spark, sf, "nation")
  def customer(spark: SparkSession, sf: String): DataFrame = table(spark, sf, "customer")
  def supplier(spark: SparkSession, sf: String): DataFrame = table(spark, sf, "supplier")
  def part(spark: SparkSession, sf: String): DataFrame     = table(spark, sf, "part")
  def orders(spark: SparkSession, sf: String): DataFrame   = table(spark, sf, "orders")
  def lineitem(spark: SparkSession, sf: String): DataFrame = table(spark, sf, "lineitem")
  def documents(spark: SparkSession, sf: String): DataFrame = table(spark, sf, "documents")
  def embeddings(spark: SparkSession, sf: String): DataFrame = table(spark, sf, "embeddings")

  /** `events` with a µs-precision `ts_us` timestamp, an exact `ts_usl`
    * µs long, and an exact `ts_nsl` ns long, derived from whatever physical
    * type the fixture stores `ts` as. The driver has shipped two layouts so
    * far, and this loader adapts per-schema so every downstream query sees
    * one stable contract:
    *
    *  - INT64 TIMESTAMP(NANOS): read as raw ns longs under `nanosAsLong`
    *    (set by `Graft.attach`); µs floor MUST be integer division (`div`) —
    *    `col/1000` goes through double and 2024-epoch nanos (~1.7e18)
    *    exceed double's 2^53 exact-integer range.
    *  - timestamp[us] (reads as TIMESTAMP_NTZ): wall-clock equals DuckDB's
    *    naive TIMESTAMP under the UTC session; cast NTZ→LTZ (interpreted in
    *    the UTC session TZ) then `unix_micros` is exact.
    *
    * `ts_us` is always a session-TZ TIMESTAMP (`timestamp_micros`), so
    * parquet output type is identical under both fixture layouts. `ts_nsl`
    * matches DuckDB `epoch_ns(ts)` bit-for-bit under both layouts (on the
    * µs fixture epoch_ns = µs·1000).
    */
  def eventsWithTs(spark: SparkSession, sf: String): DataFrame = {
    val raw = table(spark, sf, "events")
    val usl = raw.schema("ts").dataType match {
      case LongType         => expr("ts div 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case TimestampType    => unix_micros(col("ts"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — fixture schema drifted; " +
          "extend Tables.eventsWithTs for the new layout")
    }
    raw.withColumn("ts_usl", usl)
      .withColumn("ts_us", timestamp_micros(col("ts_usl")))
      .withColumn("ts_nsl", col("ts_usl") * lit(1000L))
  }
}
