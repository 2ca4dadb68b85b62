package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.Graft
import graft.sources.Sources

/** The benchmark's JVM side. `run.py` chooses the queries and checks the
  * outputs; this program only issues them and times them.
  *
  *   Harness oracle <out.json>   dump `SparkEntry.oracleSql` as JSON
  *   Harness run <plan file>     set up, warm up, run the timed windows
  *
  * A plan is a `key=value` text file (see [[Plan]]). The session comes
  * from `Graft.session`; every other Spark setting arrives as a `-Dspark.*`
  * system property, which SparkConf picks up, so the program has no
  * switch of its own. Each timed window is a closed loop: `clients`
  * threads, each with its own `newSession()`, pull the next query from a
  * shared cursor until the window's queries are all issued. A window that
  * is still running after `limit` seconds issues no more queries, and
  * `run.py` fails the run for the queries it left out. A query's time
  * runs from the `Graft.query` call until its last row is delivered: written
  * through `Sources.writeParquet` for the queries the plan lists under
  * `writers` (the pipeline families), collected to the driver otherwise.
  * Collected rows are kept and written out only after the last window,
  * so the output check never lands inside a timed window.
  */
object Harness {

  final case class Window(traced: Boolean, queries: Vector[String])

  final case class Plan(fixture: String, cores: Int, clients: Int, writers: Set[String],
                        limit: Double, out: String, warmup: Vector[String],
                        windows: Vector[Window]) {
    /** Runs `name`'s delivery: its rows when collected, None when written. */
    def deliver(name: String, df: DataFrame, path: String): Option[Array[Row]] =
      if (writers(name)) { Sources.writeParquet(df, path); None }
      else Some(df.collect())
  }

  object Plan {
    def load(path: String): Plan = {
      val kv = Files.readAllLines(Paths.get(path)).asScala.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }
      def one(k: String) = kv.collectFirst { case (`k`, v) => v }
        .getOrElse(sys.error(s"plan has no $k"))
      def names(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toVector
      Plan(one("fixture"), one("cores").toInt, one("clients").toInt, names(one("writers")).toSet,
        one("limit").toDouble, one("out"), names(one("warmup")),
        kv.collect { case ("window", v) =>
          val (mode, qs) = v.span(_ != ':')
          Window(mode == "traced", names(qs.drop(1)))
        }.toVector)
    }
  }

  /** Hands out query indices to the client threads of a window, until all
    * are issued or the deadline has passed. */
  final class Cursor(length: Int) {
    private var pos = 0
    def next(deadlineNs: Long): Int = synchronized {
      if (pos >= length || System.nanoTime() >= deadlineNs) -1 else { pos += 1; pos - 1 }
    }
  }

  /** Runs `f` over `items` on `threads` threads and waits for all of them. */
  private def parallel[T](items: Seq[T], threads: Int, name: String)(f: T => Unit): Unit = {
    val cursor = new Cursor(items.length)
    val ts = (0 until threads).map { c =>
      new Thread(() => {
        var i = cursor.next(Long.MaxValue)
        while (i >= 0) { f(items(i)); i = cursor.next(Long.MaxValue) }
      }, s"$name-$c")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** One timed query. Times are ns from the start of its window. */
  final case class Record(window: Int, qid: String, client: Int, name: String,
                          startNs: Long, endNs: Long, rows: Long, error: Option[String])

  def main(args: Array[String]): Unit = args(0) match {
    case "oracle" =>
      val json = graft.SparkEntry.oracleSql.toSeq.sorted
        .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
      Files.write(Paths.get(args(1)), json.getBytes(StandardCharsets.UTF_8))
    case "run" => run(Plan.load(args(1)))
    case other => sys.error(s"unknown mode $other")
  }

  private def reasonOf(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
    s"${e.getClass.getName}: $msg"
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)

  def run(plan: Plan): Unit = {
    // Set up: start the session through Graft.session and run the warm-up
    // queries with the workload's delivery, one thread per core so the JIT
    // warms in less wall time. Warm-up queries are disjoint from every
    // timed one.
    val spark = Graft.session(s"local[${plan.cores}]", plan.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val warmErrors = new ConcurrentLinkedQueue[(String, String)]()
    parallel(plan.warmup.indices, plan.cores, "perfbench-warmup") { i =>
      val name = plan.warmup(i)
      val sc = spark.sparkContext
      sc.setJobGroup(s"w$i", name, interruptOnCancel = false)
      try plan.deliver(name, Graft.query(name)(spark, plan.fixture), s"${plan.out}/warm/$i")
      catch { case e: Throwable => warmErrors.add(name -> reasonOf(e)) }
      finally sc.clearJobGroup()
    }
    val readyMs = System.currentTimeMillis()

    val records = new ConcurrentLinkedQueue[Record]()
    val results = new java.util.concurrent.ConcurrentHashMap[String, (Array[Row], org.apache.spark.sql.types.StructType)]()
    val windowsJson = plan.windows.zipWithIndex.map { case (w, wi) =>
      val tracer = if (w.traced) Some(new Tracer(spark, plan.cores)) else None
      val cursor = new Cursor(w.queries.length)
      val t0 = System.nanoTime()
      val deadline = t0 + (plan.limit * 1e9).toLong
      val sessions = (0 until plan.clients).map { _ =>
        val s = spark.newSession(); Graft.attach(s); s
      }
      tracer.foreach(_.start())
      val threads = sessions.zipWithIndex.map { case (session, c) =>
        new Thread(() => {
          val sc = session.sparkContext
          var i = cursor.next(deadline)
          while (i >= 0) {
            val name = w.queries(i)
            val qid = s"${if (w.traced) "t" else "u"}$wi.$i"
            sc.setJobGroup(qid, name, interruptOnCancel = false)
            val start = System.nanoTime() - t0
            var rows = 0L
            val err = try {
              rows = tracer match {
                case Some(t) => t.tracedQuery(session, plan, qid, name, results)
                case None =>
                  val df = Graft.query(name)(session, plan.fixture)
                  plan.deliver(name, df, s"${plan.out}/res/$qid") match {
                    case Some(r) => results.put(qid, (r, df.schema)); r.length.toLong
                    case None => -1L
                  }
              }
              None
            } catch { case e: Throwable => Some(reasonOf(e)) }
            finally sc.clearJobGroup()
            records.add(Record(wi, qid, c, name, start, System.nanoTime() - t0, rows, err))
            i = cursor.next(deadline)
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val wallNs = System.nanoTime() - t0
      val layers = tracer.map(_.finish(wallNs)).getOrElse("null")
      s"""{"traced":${w.traced},"wall_s":${wallNs / 1e9},"layers":$layers}"""
    }

    // write every collected result for the output check (outside the windows)
    val checkSpans = new ConcurrentLinkedQueue[Span]()
    parallel(results.asScala.toSeq, plan.cores, "perfbench-check") { case (qid, (rows, schema)) =>
      val s = System.nanoTime()
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${plan.out}/res/$qid")
      checkSpans.add(Span(qid, "check", "", s, System.nanoTime()))
    }
    results.clear()

    val recs = records.asScala.toSeq.sortBy(r => (r.window, r.startNs))
    val recJson = recs.map { r =>
      s"""{"window":${r.window},"qid":${Json.str(r.qid)},"client":${r.client},""" +
        s""""name":${Json.str(r.name)},"start_s":${r.startNs / 1e9},"end_s":${r.endNs / 1e9},""" +
        s""""rows":${r.rows},"error":${r.error.map(Json.str).getOrElse("null")}}"""
    }
    val spanJson = (Tracer.spans.asScala.toSeq ++ checkSpans.asScala).map(_.json)
    val json =
      s"""{"session_ms":$sessionMs,"ready_ms":$readyMs,""" +
        s""""vm_hwm_kb":${vmHwmKb()},""" +
        s""""warmup_errors":${warmErrors.asScala.toSeq.map { case (n, e) => Json.str(n) + ":" + Json.str(e) }.mkString("{", ",", "}")},""" +
        s""""windows":${windowsJson.mkString("[", ",", "]")},""" +
        s""""queries":${recJson.mkString("[", ",", "]")},""" +
        s""""spans":${spanJson.mkString("[", ",", "]")}}"""
    Files.write(Paths.get(s"${plan.out}/result.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
