package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import java.util.Locale

/** Benchmark main: times `.count()` over every query in
  * [[SparkEntry.queries]] at `SPARK_GRAFT_SF_DIR` and prints ONE compact
  * JSON line on stdout.
  *
  * Output-contract notes (learned from round 1, where the driver failed to
  * parse the result): the consumer sees only the LAST ~2000 characters of
  * the run's output, and sbt appends a `[success] Total time: ...` line
  * after the program exits. So the JSON line is (a) printed after
  * `spark.stop()` so nothing else lands behind it but sbt's epilogue,
  * (b) kept well under the window by carrying only the 15 slowest queries
  * inline (3-decimal seconds, Locale.ROOT so a comma-decimal JVM locale
  * cannot corrupt the JSON) while `value` still sums ALL queries, and
  * (c) passed through un-prefixed via `run / outputStrategy :=
  * StdoutOutput`. A query that throws is counted in `n_failed` and named
  * in `failed` rather than silently logged as a fast success. Full
  * per-query detail goes to `target/bench_detail.json` (best-effort — the
  * stdout line is the contract, the file is auxiliary).
  *
  * Contention control (round 6): this VM's timing band is ±20% and
  * driver-side load spikes have inflated in-suite numbers 5-20× (round 5:
  * q_bollinger_breaks read 25.5 s in-suite, 1.2 s isolated — the judge
  * had to re-run by hand). After the full pass, the 5 slowest queries are
  * RE-TIMED in the same quiet JVM and both numbers ship: stdout carries
  * `isolated` next to `queries`, bench_detail.json carries the full
  * suite map plus the isolated re-runs, so a reader can tell a real
  * regression (isolated stays slow) from suite/VM contention (isolated
  * snaps back) without access to sbt. An isolated re-run that throws is
  * reported as -1, never as its (meaningless) wall time.
  */
object Bench {
  private def f3(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
  // every name and reason that reaches JSON goes through this (round-9
  // advice: the detail/isolated/slowest keys and failed entries used raw
  // interpolation — safe for identifier-shaped names, but one query name
  // with a quote would have emitted invalid JSON in three places)
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  // a failure records WHY (exception class + first message line) for
  // bench_detail.json — a bare name in `failed` forced a manual re-run
  // to learn what broke (round-7 advice)
  private def reasonOf(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator
      .take(1).mkString.take(200)
    s"${e.getClass.getSimpleName}: $msg"
  }

  /** The whole measurement pass as a pure-ish core returning
    * (stdoutLine, detailJson) — extracted from main (round 9) so
    * BenchFormatSpec can plant a throwing and a succeed-then-throw query
    * and assert the failure reasons reach both JSON documents and both
    * still parse, without forking a JVM or touching target/. */
  private[graft] def run(
      spark: SparkSession,
      sfDir: String,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : (String, String) = {
    val results = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(reasonOf(e)) }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val total = results.map(_._2).sum
    val failed = results.filter(_._3.isDefined).map(_._1)
    val byName = queries.toMap
    // isolated re-time of the 5 slowest successes, back-to-back in the
    // now-quiet JVM (codegen warm, no interleaved suite stages). A re-run
    // that THROWS ships -1, not a short normal-looking duration — the
    // isolated figure is the authoritative round-over-round comparator
    // (BASELINE.md), so a crash must be distinguishable from a fast run.
    val isolated = results.filter(_._3.isEmpty).sortBy(-_._2).take(5).map { case (name, _, _) =>
      val fn = byName(name)
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(reasonOf(e)) }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val isolatedJson = isolated
      .map { case (k, v, err) => jstr(k) + ":" + (if (err.isEmpty) f3(v) else "-1") }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, v, _) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    // failure reasons, suite + isolated (isolated keys prefixed) — the
    // diagnostic that saves a re-run when something breaks
    val errorsJson = (results.collect { case (k, _, Some(r)) => (k, r) } ++
      isolated.collect { case (k, _, Some(r)) => ("isolated:" + k, r) })
      .map { case (k, r) => jstr(k) + ":" + jstr(r) }
      .mkString("{", ",", "}")
    val detailLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$detail,"isolated":$isolatedJson,"failed":${failed.map(jstr).mkString("[", ",", "]")},"errors":$errorsJson,"sf":${jstr(sfDir)}}"""
    val slowest = results.sortBy(-_._2).take(15)
      .map { case (k, v, _) => jstr(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    val failedField =
      if (failed.isEmpty) ""
      else s""","failed":${failed.take(10).map(jstr).mkString("[", ",", "]")}"""
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size}$failedField,"queries":$slowest,"isolated":$isolatedJson,"sf":${jstr(sfDir)}}"""
    (line, detailLine)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.localSession()
    // JVM/codegen warmup so classloading cost doesn't land on the first
    // measured query; touches the same read path the queries use.
    graft.core.Tables.region(spark, sfDir).groupBy("r_name").count().count()
    // Dev-only subset filter (comma-separated keys), mirroring Verify; the
    // driver never sets this, so its runs always time the full inventory.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val (line, detailLine) = run(spark, sfDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) })
    try {
      Files.write(Paths.get("target/bench_detail.json"),
        (detailLine + "\n").getBytes(StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // auxiliary; never lose the stdout line
    spark.stop()
    println(line)
  }
}
