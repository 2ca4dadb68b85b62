package graft.tools

import scala.util.control.NonFatal

/** Dev utility: print the formatted physical plan and wall time for the
  * named queries (all queries if none given). Not part of the driver
  * contract — used to audit pushdown/broadcast/codegen plan shapes.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [queryName...]
  *
  * `SPARK_GRAFT_EXPLAIN_ONLY=1` skips the final `.count()` only: queries
  * that materialize intermediates while they are built (`Mat.once`,
  * `isEmpty`/`collect` probes) still run those jobs; the `Mat.once` jobs
  * are named `materialize <Module>.<method>:<line>`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else graft.Graft.queryNames
    val spark = graft.Graft.localSession()
    // SPARK_GRAFT_EXPLAIN_ONLY=1: skip the final action (plan sweep
    // over the full inventory — prints one summary line per query with
    // the Exchange count and plan size instead of the full text)
    val planOnly = sys.env.get("SPARK_GRAFT_EXPLAIN_ONLY").contains("1")
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        if (planOnly) {
          val exch = "Exchange".r.findAllIn(plan).size
          val smj = "SortMergeJoin".r.findAllIn(plan).size
          val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
          val cart = "CartesianProduct".r.findAllIn(plan).size
          println(s"PLAN $name exchanges=$exch smj=$smj bnlj=$bnl cartesian=$cart chars=${plan.length}")
        } else {
          println(s"\n===== $name =====")
          println(plan)
          val t0 = System.nanoTime()
          val n = df.count()
          println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      } catch { case NonFatal(e) =>
        println(s"PLAN $name ERROR ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    spark.stop()
  }
}
