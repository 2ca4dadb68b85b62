package graft.core

import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** The engine's one materialization primitive: every table an op computes
  * once and reads several times (a shared subtree, a convergence round, a
  * recursion level) goes through [[once]]. Mechanism, storage and naming
  * live here alone.
  *
  * SIZE CONTRACT: [[once]] is a local checkpoint. It stores partitions on
  * EXECUTOR-LOCAL storage and truncates lineage, so a lost executor cannot
  * recompute them. It is therefore only used for tables whose size is
  * bounded by something other than the corpus (each call site says what
  * bounds its table). On a cluster where executor loss is routine, swap
  * `localCheckpoint` below for reliable checkpointing
  * (`sc.setCheckpointDir` + `.checkpoint`): same semantics, a durable write
  * instead of local blocks. Every materialization is in-query by
  * construction: recomputed from parquet on every invocation, never reused
  * across queries or runs (nothing is left in the shared `CacheManager`).
  */
object Mat {

  /** `df` computed once for this query. Eager by default: the job runs
    * now, described as `materialize <Module>.<method>:<line>` of the
    * calling op, with the caller's job description restored afterwards
    * (a per-thread property, so concurrent sessions never see each
    * other's names). `eager = false` defers the job to the first action
    * on the result. */
  def once(df: DataFrame, eager: Boolean = true): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"materialize ${site()}")
    try df.localCheckpoint(eager)
    finally sc.setJobDescription(caller)
  }

  /** `Module.method:line` of the first `graft.ops` frame on the stack (the
    * first frame outside this object when no op is calling). */
  private def site(): String = {
    val frames = StackWalker.getInstance()
      .walk(s => s.iterator().asScala.toList)
      .filterNot(_.getClassName.startsWith("graft.core.Mat"))
    val f = frames.find(_.getClassName.startsWith("graft.ops.")).getOrElse(frames.head)
    val module = f.getClassName.stripSuffix("$").split('.').last
    // lambdas and local defs compile to `$anonfun$q_x$1` / `step$1`
    val method = f.getMethodName.stripPrefix("$anonfun$").takeWhile(_ != '$')
    s"$module.$method:${f.getLineNumber}"
  }
}
