package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.multimodal.Multimodal
import graft.sources.Sources

/** Sources, multimodal plumbing, UDF surface, approximate aggregates. */
class CapabilitiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  test("csv and json round-trip with explicit schemas") {
    val dir = TestSpark.tempDir("graft_src")
    val df = graft.core.Tables.nation(spark, sf)
    Sources.writeCsv(df, s"$dir/nation_csv")
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val back = Sources.readCsv(spark, s"$dir/nation_csv", schema)
    assert(back.count() === df.count())
    assert(back.select(sum(col("n_nationkey"))).head().getLong(0) ===
      df.select(sum(col("n_nationkey"))).head().getLong(0))

    df.write.mode("overwrite").json(s"$dir/nation_json")
    val jback = Sources.readJsonLines(spark, s"$dir/nation_json", schema)
    assert(jback.count() === df.count())
  }

  test("partitioned parquet sink enables partition pruning") {
    val dir = TestSpark.tempDir("graft_part")
    Sources.writeParquet(graft.core.Tables.orders(spark, sf),
      s"$dir/orders_p", partitionBy = Seq("o_orderpriority"))
    val pruned = Sources.readParquet(spark, s"$dir/orders_p")
      .filter(col("o_orderpriority") === "1-URGENT")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"), plan)
  }

  test("bucketed tables co-locate: sort-merge join with zero exchanges") {
    import spark.implicits._
    val a = (1 to 2000).map(i => (i.toLong, i * 2L)).toDF("k", "va")
    val b = (1 to 2000).map(i => (i.toLong, i * 3L)).toDF("k", "vb")
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bucket_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bucket_b")
    // force SMJ (a broadcast join would skip the shuffle trivially and
    // prove nothing about bucket co-location)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "k")
      assert(j.count() === 2000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        "bucketed-by-key join must not shuffle either side:\n" + plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stub media decode is deterministic with stable schema and batching") {
    val items = Multimodal.syntheticMedia(spark, 30)
    val dec = new Multimodal.StubDecoder(16)
    val a = Multimodal.decodeFeatures(items, dec).collect().sortBy(_.media_id)
    val b = Multimodal.decodeFeatures(items.repartition(7), dec).collect().sortBy(_.media_id)
    assert(a.length === 30)
    assert(a.zip(b).forall { case (x, y) =>
      x.feature.toSeq == y.feature.toSeq && x.n_frames == y.n_frames })
    assert(a.forall(_.feature.length === 16))
    assert(a.forall(f => f.feature.forall(v => v >= -1.0f && v <= 1.0f)))
  }

  test("frame sampling emits one row per sampled frame, passthrough others") {
    val items = Multimodal.syntheticMedia(spark, 9).toDF()
    val frames = Multimodal.sampleFrames(items, everyMs = 1000)
    val byKind = frames.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind("image") === 3) // one row per non-video item
    assert(byKind("video") > 3)   // videos explode to duration/1000 frames
  }

  // the registration tests use a fresh session: the shared one already has
  // the functions (Graft.session attaches them), so registering there again
  // would only replace them
  test("registered UDFs and native SQL functions work through spark.sql") {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    val toks = s.sql("SELECT graft_tokenize('Fast, QUERY!! scan') AS t")
      .head().getSeq[String](0)
    assert(toks === Seq("fast", "query", "scan"))
    val dot = s.sql("SELECT graft_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .head().getLong(0)
    assert(dot === 32L)
    val d2 = s.sql("SELECT graft_dist2(array(1L, 2L), array(3L, 1L)) AS d")
      .head().getLong(0)
    assert(d2 === 5L)
  }

  test("centroid UDAF computes the element-wise mean") {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    graft.core.Tables.embeddings(s, sf).createOrReplaceTempView("emb_t")
    val c = s.sql(
      "SELECT graft_cosine_centroid(embedding) AS c FROM emb_t WHERE vec_id < 4")
      .head().getSeq[Double](0)
    assert(c.length === 64)
    assert(c.forall(v => math.abs(v) <= 1.0))
  }

  test("map functions: from_json to MapType, keys, element access") {
    val ev = graft.core.Tables.table(spark, sf, "events")
      .select(from_json(col("props"), MapType(StringType, IntegerType)).as("m"))
    val row = ev.select(
      map_keys(col("m")).as("ks"),
      element_at(col("m"), "k").as("k_val")).head()
    assert(row.getSeq[String](0) === Seq("k"))
    assert(row.getInt(1) >= 0)
    val total = ev.agg(sum(element_at(col("m"), "k"))).head().getLong(0)
    assert(total > 0)
  }

  test("approx_count_distinct stays within 5% of exact") {
    val li = graft.core.Tables.lineitem(spark, sf)
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).head()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
  }

  // The declared q_approx_distinct entry is no-oracle by design (HLL sketch
  // internals are engine-specific, so a DuckDB hash compare is impossible);
  // THIS is its verification: every per-group estimate within 5% of the
  // exact distinct count, non-empty output, stable schema (SURVEY §2.4).
  test("q_approx_distinct: every group estimate within 5% of exact") {
    val got = graft.ops.Relational.q_approx_distinct(spark, sf)
    assert(got.columns.toSeq ===
      Seq("l_returnflag", "approx_parts", "approx_supps"))
    val exact = graft.core.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"))
    val rows = got.join(exact, "l_returnflag").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (ap, as_) = (r.getAs[Long]("approx_parts"), r.getAs[Long]("approx_supps"))
      val (ep, es) = (r.getAs[Long]("exact_parts"), r.getAs[Long]("exact_supps"))
      assert(math.abs(ap - ep).toDouble / ep < 0.05, s"parts: $ap vs $ep")
      assert(math.abs(as_ - es).toDouble / es < 0.05, s"supps: $as_ vs $es")
    }
  }

  test("Graft facade: attach, table load, query lookup, view registration") {
    val s = spark.newSession()
    Graft.attach(s)
    assert(s.sql("SELECT graft_dot(array(1L, 2L), array(3L, 4L))").head().getLong(0) === 11L)
    assert(Graft.table(s, sf, "events").columns.contains("ts_us"))
    assert(Graft.queryNames.size === SparkEntry.queries.size)
    assert(Graft.query("q_topk_customers")(s, sf).count() === 10)
    Graft.registerViews(s, sf)
    assert(s.sql("SELECT count(*) FROM lineitem").head().getLong(0) === 6000L)
  }

  test("SparkSessionExtensions injection registers graft functions") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.extensions.GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.graftbridge.Bridge.registerExtensions(ext)
    assert(reg.functionExists(FunctionIdentifier("graft_dot")))
    assert(reg.functionExists(FunctionIdentifier("graft_dist2")))
    val e = reg.lookupFunction(FunctionIdentifier("graft_dot"),
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(Array(2L, 3L)),
          org.apache.spark.sql.catalyst.expressions.Literal.create(Array(4L, 5L))))
    assert(e.eval(null) === 23L)
  }
}
