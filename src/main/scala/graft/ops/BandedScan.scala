package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Banded prefix scan — the scale-safe replacement for the cumulative
  * value-lattice theta join (`b.v <= a.v`).
  *
  * The plain lattice join is O(V²) in the number of distinct values V:
  * correct, but quadratic in the value domain, so a 100× wider price
  * range blows it up 10,000×. A single global window is banned too
  * (empty partitionSpec ⇒ every row in one task). The banded scan is
  * the best of both:
  *
  *   1. size the bands per group, inside the plan: one aggregate gives
  *      each group's (min, max, n) and `bw = ⌈(max − min + 1)/√n⌉`, and
  *      each row gets band `(v − min) div bw` (monotone in v);
  *   2. running sum WITHIN each (group, band) via a keyed window —
  *      parallel across bands, ≤ √n values per band on a dense lattice;
  *   3. add the total of all EARLIER bands of the group through a
  *      broadcast theta join over the band-total table.
  *
  * Cost per group: at most √n + 1 bands, so the theta join in step 3
  * makes at most about n/2 (band, earlier band) pairs and the whole scan
  * is O(n) work at any value range or group skew — each group is sized
  * by its own range, so a narrow group next to a wide one gets no extra
  * bands. No recursion is needed, building the scan runs no Spark job,
  * and the plan's shape does not depend on the data. Every window stays
  * keyed, so the PlanShapeSpec global-window ban holds by construction.
  */
object BandedScan {

  /** Adds, per (measure column → output column) pair, an inclusive
    * running sum: Σ of the measure over all rows with the same group keys
    * and `vCol` ≤ this row's. Rows must be unique per (groupCols, vCol) —
    * i.e. `df` is a value lattice — and `vCol` must be non-null (a null
    * value gets no band and its row drops out). `vCol` and the measures
    * must be integral: banding adds in a different order than a sort
    * would, and only integer sums are exact in any order. Negative values
    * are fine. For the strict (`<`) variant subtract the row's own
    * measure from the result.
    */
  def cumSums(df: DataFrame, groupCols: Seq[String], vCol: String,
              measures: Seq[(String, String)]): DataFrame = {
    require(measures.nonEmpty, "need at least one measure")
    requireIntegral(df, vCol, "vCol", "scale float values onto an integer lattice first")
    measures.foreach { case (x, _) =>
      requireIntegral(df, x, "measure", "sum exact integer units (cents, counts) instead")
    }
    val band = "__band"
    val banded = withBand(df, groupCols, vCol, band)
    val keyCols = groupCols :+ band

    val wIn = Window.partitionBy(keyCols.map(col): _*).orderBy(col(vCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBand = measures.zipWithIndex.foldLeft(banded) {
      case (d, ((x, _), i)) => d.withColumn(s"__incum_$i", sum(col(x)).over(wIn))
    }

    val btotAggs = measures.zipWithIndex.map {
      case ((x, _), i) => sum(col(x)).as(s"__btot_$i")
    }
    val bandTot = banded.groupBy(keyCols.map(col): _*)
      .agg(btotAggs.head, btotAggs.tail: _*)

    // strict (<) per-band prefix of the band totals: broadcast theta join
    // over the ≤ √n + 1 bands of each group
    val rhs = bandTot.select(
      groupCols.map(c => col(c).as(s"__g_$c")) ++
        (col(band).as("__band2") +:
          measures.indices.map(i => col(s"__btot_$i"))): _*)
    val eqKeys: Option[Column] =
      groupCols.map(c => col(c) === col(s"__g_$c")).reduceOption(_ && _)
    val cond = eqKeys.map(_ && col("__band2") < col(band))
      .getOrElse(col("__band2") < col(band))
    val prevAggs = measures.indices.map(i =>
      sum(col(s"__btot_$i")).as(s"__prev_$i"))
    val prev = bandTot.select(keyCols.map(col): _*).as("a")
      .join(broadcast(rhs).as("b"), cond, "left")
      .groupBy(keyCols.map(col): _*)
      .agg(prevAggs.head, prevAggs.tail: _*)

    val joined = inBand.join(prev, keyCols)
    val withCums = measures.zipWithIndex.foldLeft(joined) {
      case (d, ((_, cumCol), i)) =>
        d.withColumn(cumCol,
          col(s"__incum_$i") + coalesce(col(s"__prev_$i"), lit(0L)))
    }
    val drops = Seq(band) ++
      measures.indices.flatMap(i => Seq(s"__incum_$i", s"__prev_$i"))
    withCums.drop(drops: _*)
  }

  /** `df` plus column `band`: each row's band under the per-group sizing
    * of [[cumSums]], `(v − min_g) div ⌈(max_g − min_g + 1)/√n_g⌉`, from
    * one (min, max, count) aggregate per group joined back by broadcast.
    * Bands are monotone in `vCol` within a group and number at most
    * √n_g + 1. Lazy: no Spark job runs. */
  private[ops] def withBand(df: DataFrame, groupCols: Seq[String], vCol: String,
                            band: String): DataFrame = {
    val v = col(vCol).cast("long")
    val aggs = Seq(min(v).as("__vmin"), max(v).as("__vmax"), count(lit(1)).as("__vn"))
    val stats = (if (groupCols.isEmpty) df.groupBy() else df.groupBy(groupCols.map(col): _*))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__bw", greatest(lit(1L), ceil(
        (col("__vmax") - col("__vmin") + 1L).cast("double") / sqrt(col("__vn").cast("double")))))
    val withStats = if (groupCols.isEmpty) df.crossJoin(broadcast(stats))
      else df.join(broadcast(stats), groupCols)
    withStats.withColumn(band, expr(s"(CAST(`$vCol` AS BIGINT) - __vmin) div __bw"))
      .drop("__vmin", "__vmax", "__vn", "__bw")
  }

  private def requireIntegral(df: DataFrame, c: String, role: String, hint: String): Unit = {
    val t = df.schema(c).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(t),
      s"BandedScan $role '$c' must be integral, got ${t.simpleString} — $hint")
  }
}
