package graft

import java.lang.reflect.{InvocationTargetException, Method}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.ops._
import graft.oracle.OracleSql

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q_agg_pricing_summary(spark, "/root/testdata/sf0.001")

  /** The modules that declare queries (SURVEY.md §2 lists every key under
    * its section). A query is one public `q_<key>(spark, sf)` method on one
    * of them; nothing else names it.
    */
  private val modules: Seq[AnyRef] = Seq(
    Relational, Joins, Windows, Scalars, Text, Events, Vectors,
    MLDeterministic, TextPipeline, Ann, Sampling, Sketches, GraphMl,
    Retrieval, Analytics, graft.multimodal.Multimodal)

  /** Every declared query by key. Built once: `Graft.query` and the test
    * shards look keys up in it per call. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = registry(modules)

  /** Each public `q_[a-z0-9_]+` method of `modules` as a query keyed by its
    * name (`$` never matches, so default-argument getters are skipped).
    * Fails naming module and method on a signature other than
    * `(SparkSession, String) => Dataset`, or on a key two modules declare.
    * A query that throws surfaces its own exception, not the reflective
    * wrapper.
    */
  private[graft] def registry(
      modules: Seq[AnyRef]): Map[String, (SparkSession, String) => DataFrame] = {
    def owner(m: AnyRef) = m.getClass.getName.stripSuffix("$")
    val queryName = "q_[a-z0-9_]+".r
    val declared: Seq[(String, AnyRef, Method)] = for {
      m <- modules
      meth <- m.getClass.getMethods.toSeq if queryName.matches(meth.getName)
    } yield {
      require(meth.getParameterTypes.toSeq == Seq(classOf[SparkSession], classOf[String]) &&
        classOf[Dataset[_]].isAssignableFrom(meth.getReturnType),
        s"${owner(m)}.${meth.getName} is not a query: it must be " +
          s"(SparkSession, String) => DataFrame, found $meth")
      (meth.getName, m, meth)
    }
    declared.groupBy(_._1).foreach { case (key, ds) =>
      require(ds.size == 1,
        s"query $key is declared more than once: ${ds.map(d => owner(d._2)).mkString(", ")}")
    }
    declared.map { case (key, m, meth) =>
      key -> { (spark: SparkSession, sf: String) =>
        try meth.invoke(m, spark, sf).asInstanceOf[DataFrame]
        catch { case e: InvocationTargetException => throw e.getCause }
      }
    }.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = OracleSql.sql
}
