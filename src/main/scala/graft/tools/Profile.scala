package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Dev utility: per-JOB wall-time breakdown for the named queries — the
  * local-mode substitute for the Spark UI's job/stage pages (guide §1/§7;
  * the UI is disabled in driver runs). For each query it runs the plan
  * twice (cold, then warm — codegen and scan caches primed) and prints
  * every Spark job the warm run launched, with its duration, stage count
  * and task count, so a flat-cost query's overhead can be attributed to
  * eager materializations, driver-side sizing actions, and the final
  * action. Construction jobs appear by site name: `core.Mat` describes
  * each as `materialize <Module>.<method>:<line>`. Not part of the
  * driver contract.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <queryName...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.tail.toSeq
    val spark = graft.Graft.localSession()

    case class Job(id: Int, desc: String, var ms: Long = -1,
                   var start: Long = 0, var stages: Int = 0)
    case class Stage(id: Int, name: String, ms: Long, tasks: Int,
                     inRec: Long, shRdRec: Long, shRdMb: Double,
                     shWrRec: Long, shWrMb: Double, outRec: Long)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.LinkedHashMap.empty[Int, Stage]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = Job(e.jobId, desc, start = e.time, stages = e.stageInfos.size)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(j => j.ms = e.time - j.start)
      }
      // per-stage task metrics — the local-mode substitute for the UI's
      // stage table: where the records/bytes actually moved
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          val m = si.taskMetrics
          val ms = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          stages(si.stageId) = Stage(si.stageId, si.name.takeWhile(_ != '\n'),
            ms, si.numTasks,
            m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.recordsWritten,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.outputMetrics.recordsWritten)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // warm the scan path once so the first profiled query is comparable
    graft.core.Tables.region(spark, sfDir).groupBy("r_name").count().count()

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // cold pass
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val cold = (System.nanoTime() - t0) / 1e9
      // warm pass, jobs recorded
      jobs.synchronized { jobs.clear(); stages.clear() }
      val t1 = System.nanoTime()
      fn(spark, sfDir).count()
      val warm = (System.nanoTime() - t1) / 1e9
      Thread.sleep(300) // let job-end events drain (listener bus is async)
      println(f"\n===== $name cold=$cold%.2fs warm=$warm%.2fs =====")
      jobs.synchronized {
        val js = jobs.values.toSeq
        val accounted = js.map(_.ms).filter(_ > 0).sum / 1e3
        js.foreach { j =>
          println(f"  job ${j.id}%4d ${j.ms}%6d ms  stages=${j.stages}%2d  ${j.desc.take(80)}")
        }
        println(f"  jobs=${js.size} accounted=$accounted%.2fs (gap to warm = driver/planning time)")
        stages.values.toSeq.sortBy(-_.ms).take(12).foreach { s =>
          println(f"  stage ${s.id}%4d ${s.ms}%6d ms tasks=${s.tasks}%3d " +
            f"in=${s.inRec}%9d shRd=${s.shRdRec}%9d/${s.shRdMb}%8.1fMB " +
            f"shWr=${s.shWrRec}%9d/${s.shWrMb}%8.1fMB  ${s.name.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
