package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (JVM-forked once). */
object TestSpark {
  /** This JVM's private scratch directory under target/, deleted when the
    * JVM exits. */
  private lazy val root: Path = {
    val dir = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target")), "graft_test")
    sys.addShutdownHook(deleteTree(dir))
    dir
  }

  /** A fresh directory for one test's files, removed with [[root]]. */
  def tempDir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  lazy val spark: SparkSession = {
    // give each test JVM a fresh PRIVATE derby home + warehouse — suites
    // fork into parallel JVMs (build.sbt testGrouping) and derby locks
    // its system directory per process, so a shared path would make
    // concurrent suites fail on the catalog lock.
    System.setProperty("derby.system.home", root.resolve("derby").toString)
    // Graft.session's SparkConf reads every spark.* system property
    System.setProperty("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
    val s = Graft.session("local[4]", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  private def deleteTree(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}
