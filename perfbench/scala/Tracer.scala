package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType

import graft.Graft

/** A timed interval of one query. Spans of a query share its `qid`;
  * `parent` names the enclosing span ("" for a root). Times are
  * `System.nanoTime`. */
final case class Span(qid: String, name: String, parent: String, startNs: Long, endNs: Long) {
  def json: String =
    s"""{"qid":${Json.str(qid)},"name":${Json.str(name)},"parent":${Json.str(parent)},""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

object Tracer {
  /** Spans stay in memory until the run writes them out. */
  val spans = new ConcurrentLinkedQueue[Span]()
  val PhaseKey = "perfbench.phase"

  private object Plans extends AdaptiveSparkPlanHelper
  def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    Plans.collectWithSubqueries(plan) { case e: Exchange => e }.size
}

/** Per-layer counters for one traced window. Listener events are
  * attributed to a query through the job group its client thread sets
  * (`t<window>.<i>`), and to a phase of that query through the
  * [[Tracer.PhaseKey]] local property, so warm-up and untraced jobs never
  * count. Sums are totals over the window; `run.py` turns them into
  * per-query figures. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private final class Agg {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, waitMs = 0L
    var inBytes, inRecords, shWrite, shRead, fetchWaitMs, spill, outBytes, outRecords = 0L
  }

  private val byPhase = mutable.Map.empty[String, Agg]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (group.startsWith("t")) {
        val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("run")
        byPhase.getOrElseUpdate(phase, new Agg).jobs += 1
        e.stageIds.foreach(s => if (!stagePhase.contains(s)) stagePhase(s) = phase)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      stageSubmitMs((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagePhase.get(e.stageInfo.stageId).foreach(p => byPhase.getOrElseUpdate(p, new Agg).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stagePhase.get(e.stageId).foreach { p =>
        val a = byPhase.getOrElseUpdate(p, new Agg)
        a.tasks += 1
        if (!e.taskInfo.successful) a.failedTasks += 1
        stageSubmitMs.get((e.stageId, e.stageAttemptId))
          .foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecords += m.inputMetrics.recordsRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.diskBytesSpilled
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRecords += m.outputMetrics.recordsWritten
        }
      }
  }

  // catalyst figures, summed over the window's queries
  private var planNs, analysisMs, optimizationMs, planningMs, exchangeCount = 0L

  private val heapBean = ManagementFactory.getMemoryMXBean
  private def gcMsNow: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  @volatile private var sampling = true
  @volatile private var heapPeak = 0L
  private val sampler = new Thread(() => {
    while (sampling) {
      heapPeak = math.max(heapPeak, heapBean.getHeapMemoryUsage.getUsed)
      Thread.sleep(10)
    }
  }, "perfbench-heap-sampler")
  sampler.setDaemon(true)

  private var compiles0, compileNs0, gcMs0 = 0L

  def start(): Unit = {
    org.apache.spark.perfbench.Hooks.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
    gcMs0 = gcMsNow
    sampler.start()
  }

  /** Runs one query with spans around each layer call; returns result rows
    * (-1 when written, whose rows come from the output metrics). */
  def tracedQuery(session: SparkSession, plan: Harness.Plan, qid: String, name: String,
                  results: java.util.Map[String, (Array[Row], StructType)]): Long = {
    val sc = session.sparkContext
    def timed[T](span: String, phase: String)(f: => T): T = {
      sc.setLocalProperty(PhaseKey, phase)
      val s = System.nanoTime()
      try f finally spans.add(Span(qid, span, "query", s, System.nanoTime()))
    }
    val q0 = System.nanoTime()
    try {
      val df = timed("ops.construct", "construct")(Graft.query(name)(session, plan.fixture))
      val qe = df.queryExecution
      val p0 = System.nanoTime()
      timed("catalyst.plan", "plan")(qe.executedPlan)
      val planDurNs = System.nanoTime() - p0
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val span = if (plan.writers(name)) "sources.write" else "driver.collect"
      val rows = timed(span, "run")(plan.deliver(name, df, s"${plan.out}/res/$qid")) match {
        case Some(r) => results.put(qid, (r, df.schema)); r.length.toLong
        case None => -1L
      }
      val ex = Tracer.exchanges(qe.executedPlan)
      synchronized {
        planNs += planDurNs
        analysisMs += ms("analysis"); optimizationMs += ms("optimization"); planningMs += ms("planning")
        exchangeCount += ex
      }
      rows
    } finally {
      sc.setLocalProperty(PhaseKey, null)
      spans.add(Span(qid, "query", "", q0, System.nanoTime()))
    }
  }

  /** Stops counting and returns the window's totals as a JSON object. */
  def finish(wallNs: Long): String = {
    org.apache.spark.perfbench.Hooks.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    sampling = false
    sampler.join()
    val all = byPhase.values
    def sum(f: Agg => Long) = all.map(f).sum
    val construct = byPhase.getOrElse("construct", new Agg)
    val out = Seq(
      "cores" -> cores.toDouble,
      "window_wall_s" -> wallNs / 1e9,
      "construct_jobs" -> construct.jobs.toDouble,
      "jobs" -> sum(_.jobs).toDouble,
      "stages" -> sum(_.stages).toDouble,
      "tasks" -> sum(_.tasks).toDouble,
      "failed_tasks" -> sum(_.failedTasks).toDouble,
      "task_wait_s" -> sum(_.waitMs) / 1e3,
      "task_busy_s" -> sum(_.runMs) / 1e3,
      "task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "task_gc_s" -> sum(_.gcMs) / 1e3,
      "scan_rows" -> sum(_.inRecords).toDouble,
      "scan_bytes" -> sum(_.inBytes).toDouble,
      "shuffle_write_bytes" -> sum(_.shWrite).toDouble,
      "shuffle_read_bytes" -> sum(_.shRead).toDouble,
      "fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "spill_bytes" -> sum(_.spill).toDouble,
      "rows_written" -> sum(_.outRecords).toDouble,
      "bytes_written" -> sum(_.outBytes).toDouble,
      "plan_s" -> planNs / 1e9,
      "analysis_s" -> analysisMs / 1e3,
      "optimization_s" -> optimizationMs / 1e3,
      "planning_s" -> planningMs / 1e3,
      "exchanges" -> exchangeCount.toDouble,
      "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
      "codegen_compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
      "jvm_gc_s" -> (gcMsNow - gcMs0) / 1e3,
      "jvm_heap_used_peak_bytes" -> heapPeak.toDouble)
    out.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
  }
}
