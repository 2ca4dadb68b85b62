package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.GraphMl

/** Invariant tests for the classic-MapReduce surface (SURVEY.md §2.19):
  * matrix multiply, PageRank, split finding, logistic gradient, inverted
  * index. Cross-engine value equality is the oracle's job; these pin the
  * algebraic invariants that hold at any scale factor.
  */
class GraphMlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  test("matmul: C row/col sums equal products of A and B marginals") {
    // Σ_ik C(i,k) = Σ_j (Σ_i A(i,j)) · (Σ_k B(j,k))
    val c = GraphMl.q_matmul(spark, sf).agg(sum("c")).head().getLong(0)
    val a = graft.core.Tables.lineitem(spark, sf)
      .groupBy((col("l_partkey") % 40).as("j"))
      .agg(sum(col("l_quantity").cast("long")).as("aj"))
    val b = graft.core.Tables.part(spark, sf)
      .groupBy((col("p_partkey") % 40).as("j"))
      .agg(sum(col("p_size").cast("long")).as("bj"))
    val expected = a.join(b, "j")
      .agg(sum(col("aj") * col("bj"))).head().getLong(0)
    assert(c === expected)
  }

  test("pagerank: each iteration conserves sub-stochastic e12 mass") {
    val pr = GraphMl.q_pagerank(spark, sf).collect()
    assert(pr.nonEmpty)
    val n = pr.length
    for (colName <- Seq("p1", "p2", "p3")) {
      val total = pr.map(_.getAs[Long](colName)).sum
      // teleport mass is exact; link mass ≤ 0.85e12 with only floor losses
      assert(total <= 1000000000000L, s"$colName mass must not exceed 1e12")
      assert(total > 150000000000L / n * n - n, s"$colName must carry at least the teleport mass")
    }
    // probabilities stay positive and bounded
    pr.foreach(r => assert(r.getAs[Long]("p3") > 0 && r.getAs[Long]("p3") < 1000000000000L))
  }

  test("tree split: gains are non-negative and left+right partitions the data") {
    val rows = GraphMl.q_tree_split(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = graft.core.Tables.lineitem(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Double]("gain_r6") >= 0.0, "Gini gain is never negative")
      assert(r.getAs[Long]("nl") + r.getAs[Long]("nr") === n)
    }
  }

  test("logreg step: gradient identity g0 = n - 2·count(y=1)") {
    val r = GraphMl.q_logreg_step(spark, sf).head()
    val nR = graft.core.Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "R").count()
    assert(r.getAs[Long]("g0") === r.getAs[Long]("n") - 2 * nR)
    // w = -g/(2n) must have the opposite sign of g
    assert(math.signum(r.getAs[Double]("w0_r8")) === -math.signum(r.getAs[Long]("g0").toDouble))
  }

  test("inverted index: df equals posting length when df <= 15, prefix else") {
    val rows = GraphMl.q_inverted_index(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getAs[Long]("df")
      val nPost = r.getAs[String]("postings").split(",").length
      if (df <= 15) assert(nPost === df) else assert(nPost === 15)
    }
  }

  test("pagerank and tree split leave nothing in the shared CacheManager") {
    // their shared tables are per-query materializations, so a rerun
    // recomputes from parquet instead of reading the previous run's blocks
    GraphMl.q_pagerank(spark, sf).collect()
    GraphMl.q_tree_split(spark, sf).collect()
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }
}
