package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs at sf0.001 and is deterministic: two
  * executions produce identical row sequences (guards the D1 total-order
  * contract without needing the DuckDB oracle in-JVM).
  *
  * Round 10: the ~976 per-query tests are split across six shard suites
  * (stable name-hash partition, no query lost — the shard-coverage test
  * below pins that) so the forked-JVM-per-suite test grouping in
  * build.sbt can run them in parallel; one JVM ran this suite alone in
  * ~25 min, past the driver's test budget (VERIFY_r09 tests_ok=false).
  */
abstract class QueriesSmokeShard(shard: Int) extends AnyFunSuite {
  protected lazy val spark = TestSpark.spark
  import TestSpark.sf

  // queries whose smoke-scale result is legitimately EMPTY (documented
  // per key); everything else returning 0 rows is a silent-vacuity bug —
  // the round-4 verdict flagged q_source_overlap verifying nothing for
  // three rounds because its hash-matched result was the empty matrix
  private val emptyAtSmokeScale = Set(
    "q_source_overlap", // empty at EVERY sf (no cross-source dup texts);
                        // non-empty path spec-covered in Round5OpsSpec
    "q_fuzzy_match", // 23 rows at the sf0.01 oracle scale; the sf0.001
                     // corpus has no qualifying fuzzy pairs
    "q_ann_rplsh" // 2 rows at sf0.01; at sf0.001 the query's 8-bit LSH
                  // bucket holds no neighbors
  )

  QueriesSmokeShard.shardQueries(shard).foreach { case (name, fn) =>
    test(s"$name runs, is deterministic, and is non-vacuous at sf0.001") {
      // building a query must not write session conf (the session's read
      // confs are installed once by Graft.attach, not per table read)
      val before = spark.conf.getAll
      val df = fn(spark, sf)
      val after = spark.conf.getAll
      val written = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(written.isEmpty, s"$name wrote session conf while being built: " +
        written.toSeq.sorted.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", "))
      val a = df.collect().map(_.toString).toSeq
      val b = fn(spark, sf).collect().map(_.toString).toSeq
      assert(a === b, s"$name not deterministic")
      if (emptyAtSmokeScale(name)) assert(a.isEmpty,
        s"$name now returns rows at smoke scale — remove it from the empty allowlist")
      else assert(a.nonEmpty,
        s"$name returned 0 rows at smoke scale — its oracle hash-match is vacuous")
    }
  }
}

object QueriesSmokeShard {
  val nShards = 6
  // stable across JVMs (String.hashCode is specified arithmetic, not
  // identity-based), so every query lands in exactly one shard suite
  def shardOf(name: String): Int = math.floorMod(name.hashCode, nShards)
  def shardQueries(shard: Int): Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.filter { case (name, _) => shardOf(name) == shard }
}

class QueriesSmokeSpecB extends QueriesSmokeShard(1)
class QueriesSmokeSpecC extends QueriesSmokeShard(2)
class QueriesSmokeSpecD extends QueriesSmokeShard(3)
class QueriesSmokeSpecE extends QueriesSmokeShard(4)
class QueriesSmokeSpecF extends QueriesSmokeShard(5)

class QueriesSmokeSpec extends QueriesSmokeShard(0) {
  import TestSpark.sf

  test("entry returns rows at smoke scale") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("shards cover every declared query exactly once") {
    val all = (0 until QueriesSmokeShard.nShards)
      .flatMap(s => QueriesSmokeShard.shardQueries(s).map(_._1))
    assert(all.sorted === SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a suite class runs each shard") {
    // a shard without a concrete suite class is never run, while the
    // coverage test above still passes — so pin the classes to nShards
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/scala/graft/QueriesSmokeSpec.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val shards = "class \\w+ extends QueriesSmokeShard\\((\\d+)\\)".r
      .findAllMatchIn(src).map(_.group(1).toInt).toSeq
    assert(shards.sorted === (0 until QueriesSmokeShard.nShards))
  }

  private val capabilityOnly = Set("q_approx_distinct", "q_kmeans_converged")

  test("no duplicate keys in the OracleSql map literal") {
    // a Map literal silently keeps only the LAST binding for a repeated
    // key — a new oracle reusing an existing name would shadow the old
    // SQL with no compile error (it happened once)
    val path = "src/main/scala/graft/oracle/OracleSql.scala"
    // explicit UTF-8: the sources carry µ/× in Scaladoc and the test
    // JVM's platform default charset may be ASCII
    val src = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val keys = "\"(q_\\w+)\"\\s*->".r.findAllMatchIn(src)
      .map(_.group(1)).toSeq
    val dups = keys.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty, s"$path declares duplicate keys: ${dups.mkString(", ")}")
  }

  test("the registry rejects a twice-declared key and a non-query q_ method, " +
      "and a query throws its own exception") {
    import QueryModuleFakes._
    val dup = intercept[IllegalArgumentException](SparkEntry.registry(Seq(Throws, Twin)))
    assert(dup.getMessage.contains("q_fake") && dup.getMessage.contains("QueryModuleFakes$Throws") &&
      dup.getMessage.contains("QueryModuleFakes$Twin"), dup.getMessage)
    val bad = intercept[IllegalArgumentException](SparkEntry.registry(Seq(WrongSignature)))
    assert(bad.getMessage.contains("QueryModuleFakes$WrongSignature.q_fake"), bad.getMessage)
    // q_fake's default-argument getter (q_fake$default$2) is not a query
    val reg = SparkEntry.registry(Seq(Throws))
    assert(reg.keySet === Set("q_fake"))
    intercept[ArithmeticException](reg("q_fake")(null, "sf"))
  }

  test("every query has an oracle or is explicitly capability-only") {
    assert(capabilityOnly.subsetOf(SparkEntry.queries.keySet),
      s"capability-only keys not declared: ${capabilityOnly -- SparkEntry.queries.keySet}")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- capabilityOnly
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty,
      "oracle SQL for undeclared queries")
  }
}

/** Stand-ins for ops modules, for the registry's failure modes. */
object QueryModuleFakes {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  object Throws {
    def q_fake(spark: SparkSession, sf: String = "unused"): DataFrame =
      throw new ArithmeticException("a query's own failure")
  }
  object Twin {
    def q_fake(spark: SparkSession, sf: String): DataFrame = spark.emptyDataFrame
  }
  object WrongSignature {
    def q_fake(spark: SparkSession): DataFrame = spark.emptyDataFrame
  }
}
