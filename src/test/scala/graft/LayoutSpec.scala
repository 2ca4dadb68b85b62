package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Layout, Tables}

/** Physical layout: bucketed co-located joins and salted skew joins. */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  test("bucketed tables join without an Exchange on either side") {
    Layout.saveBucketed(Tables.orders(spark, sf), "orders_b", "o_orderkey", 4)
    Layout.saveBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4)
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"), "o_orderkey")
      .groupBy("o_orderkey").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    // and it computes the same thing as the plain join
    val plain = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey").count()
    assert(joined.orderBy("o_orderkey").collect().toSeq ===
      plain.orderBy("o_orderkey").collect().toSeq)
  }

  test("partitioned sink produces partition-pruned scans") {
    val dir = TestSpark.tempDir("graft_part")
    graft.sources.Sources.writeParquet(
      Tables.lineitem(spark, sf), dir, partitionBy = Seq("l_returnflag"))
    val pruned = spark.read.parquet(dir).filter(col("l_returnflag") === "A")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("l_returnflag"), s"no partition pruning in:\n$plan")
    // the pruned scan reads exactly the A partition
    val expected = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "A").count()
    assert(pruned.count() === expected)
  }

  test("salted join returns exactly the plain join's result") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val orders = Tables.orders(spark, sf).select(
      col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(orders, "l_orderkey")
      .groupBy("o_orderpriority").agg(sum(col("l_quantity").cast("long")).as("q"))
    val salted = Layout.saltedJoin(li, orders, "l_orderkey",
      saltSource = col("l_partkey"), salts = 8)
      .groupBy("o_orderpriority").agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(salted.orderBy("o_orderpriority").collect().toSeq ===
      plain.orderBy("o_orderpriority").collect().toSeq)
  }

  test("every materialization in src/main goes through core.Mat") {
    // one primitive owns mechanism, storage and job naming; a hand-written
    // checkpoint or cache elsewhere bypasses all three (and a .cache()
    // outlives the query in the shared CacheManager)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft/core/Mat.scala"))).toList
    val banned = """localCheckpoint\(|\.cache\(\)|\.persist\(|\.checkpoint\(""".r
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if banned.findFirstIn(code.split("//", 2)(0)).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: $code"
    assert(files.size > 20, s"scanned only ${files.size} files")
    assert(hits.isEmpty, s"materialize through graft.core.Mat.once:\n${hits.mkString("\n")}")
  }
}
