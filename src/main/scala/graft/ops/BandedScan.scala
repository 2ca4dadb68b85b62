package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.core.Mat

/** Multi-level banded prefix scan — the scale-safe replacement for the
  * cumulative value-lattice theta join (`b.v <= a.v`).
  *
  * The plain lattice join is O(V²) in the number of distinct values V:
  * correct, but quadratic in the value domain, so a 100× wider price
  * range blows it up 10,000×. A single global window is banned too
  * (empty partitionSpec ⇒ every row in one task). The banded scan is
  * the best of both:
  *
  *   1. assign each value a band `v div bandWidth` (monotone in v);
  *   2. running sum WITHIN each (group, band) via a keyed window —
  *      parallel across bands, ≤ bandWidth distinct values per task;
  *   3. add the total of all EARLIER bands. The band table is V/bandWidth
  *      rows; its own strict prefix is computed by RECURSING the banded
  *      scan on it (each level shrinks the problem by bandWidth×), and
  *      only the last level falls back to a broadcast theta join — so
  *      the O(B²) pair blow-up the theta join would cost on a wide value
  *      domain never materializes.
  *
  * With the recursion, total work per group is O(V) window rows per
  * level × O(log_bw V) levels, and the terminal theta join sees
  * ≤ V/bandWidth^maxDepth rows. Every window stays keyed, so the
  * PlanShapeSpec global-window ban holds by construction.
  *
  * Prefer [[cumSumAuto]]/[[cumSumsAuto]] when the value range is not
  * known at code-write time: they derive bandWidth from the OBSERVED
  * bounds (one tiny scalar aggregate, resolved once like the
  * q_recursive_calendar calendar bounds), so a 100× wider domain gets a
  * proportionally wider band instead of 100× more bands.
  */
object BandedScan {

  /** Adds `cumCol` = Σ of `xCol` over all rows with the same group
    * keys and `vCol` ≤ this row's (inclusive running sum). Rows must
    * be unique per (groupCols, vCol) — i.e. `df` is a value lattice —
    * and `vCol` must be integral and non-null (a null value would form
    * its own band with null cums; [[cumSums]] rejects non-integral
    * types up front). Negative values are fine: truncating `div` makes
    * band 0 twice as wide but keeps band assignment monotone. For the
    * strict (`<`) variant subtract the row's own measure from the result.
    */
  def cumSum(df: DataFrame, groupCols: Seq[String], vCol: String,
             xCol: String, cumCol: String, bandWidth: Long = 256L): DataFrame =
    cumSums(df, groupCols, vCol, Seq(xCol -> cumCol), bandWidth)

  /** [[cumSum]] with bandWidth derived from the observed value range:
    * bandWidth ≈ (range+1)/√n keeps band count ≈ √n at ANY domain width.
    * Costs one extra tiny aggregate over `df` — callers with an expensive
    * lattice lineage should `Mat.once` it first (they already do).
    */
  def cumSumAuto(df: DataFrame, groupCols: Seq[String], vCol: String,
                 xCol: String, cumCol: String): DataFrame =
    cumSumsAuto(df, groupCols, vCol, Seq(xCol -> cumCol))

  /** Multi-measure [[cumSumAuto]]. Round 9: the recursion depth is also
    * derived from the observed band count — when the band table is small
    * enough for the terminal broadcast theta join directly (≤ 2048 bands
    * ⇒ ≤ ~2M joined pairs before the aggregate), depth 1 skips the two
    * recursion levels whose windows/joins replicated the input subtree
    * and added ~8 exchanges of pure fixed cost per query (guide §2.4/
    * §7.3 — q_trimmed_mean planned 46 Exchange nodes at depth 3). The
    * choice stays scale-adaptive: a 10⁶×-wider lattice gets more bands
    * and automatically recurses deeper, exactly as before.
    */
  def cumSumsAuto(df: DataFrame, groupCols: Seq[String], vCol: String,
                  measures: Seq[(String, String)]): DataFrame = {
    val b = df.agg(min(col(vCol).cast("long")).as("mn"),
      max(col(vCol).cast("long")).as("mx"), count(lit(1)).as("n")).head()
    if (b.isNullAt(0)) cumSums(df, groupCols, vCol, measures) // empty input
    else {
      val range = b.getLong(1) - b.getLong(0) + 1
      val n = math.max(b.getLong(2), 1L)
      val bw = math.max(1L, math.ceil(range / math.sqrt(n.toDouble)).toLong)
      val bands = range / bw + 1
      val depth =
        if (bands <= BroadcastBandCap) 1
        else if (bands <= BroadcastBandCap * bw) 2
        else 3
      cumSums(df, groupCols, vCol, measures, bw, depth)
    }
  }

  /** Max bands the terminal broadcast theta join takes directly: the
    * join materializes ≤ cap²/2 (band, earlier-band) rows per group
    * before its aggregate — ~2M at 2048, well inside one task's budget,
    * while a 2048-row broadcast is trivial. */
  private val BroadcastBandCap = 2048L

  /** Multi-measure variant: one scan adds an inclusive running sum per
    * (measure column → output column) pair. `maxDepth` bounds the
    * recursion on the band table; the default 3 makes the terminal theta
    * join see ≤ V/bandWidth³ rows.
    */
  def cumSums(df: DataFrame, groupCols: Seq[String], vCol: String,
              measures: Seq[(String, String)],
              bandWidth: Long = 256L, maxDepth: Int = 3): DataFrame = {
    require(bandWidth > 0, "bandWidth must be positive")
    require(measures.nonEmpty, "need at least one measure")
    val vType = df.schema(vCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(vType),
      s"BandedScan vCol '$vCol' must be integral, got ${vType.simpleString} — " +
        "scale float values onto an integer lattice first")
    // level-unique name: the recursive call's vCol IS the parent's band
    // column, so a fixed "__band" would overwrite it
    val band = s"__band_d$maxDepth"
    // backticks: survive special-character column names in the div expr
    val banded = df.withColumn(band, expr(s"`$vCol` div $bandWidth"))
    val keyCols = groupCols :+ band

    val wIn = Window.partitionBy(keyCols.map(col): _*).orderBy(col(vCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBand = measures.zipWithIndex.foldLeft(banded) {
      case (d, ((x, _), i)) => d.withColumn(s"__incum_$i", sum(col(x)).over(wIn))
    }

    val btotAggs = measures.zipWithIndex.map {
      case ((x, _), i) => sum(col(x)).as(s"__btot_$i")
    }
    val bandTot0 = banded.groupBy(keyCols.map(col): _*)
      .agg(btotAggs.head, btotAggs.tail: _*)
    // Round 9: when the scan RECURSES, materialize the (small) band-total
    // table first — otherwise each deeper level re-plans and re-evaluates
    // the full input subtree (the window + two joins per level stacked
    // the SAME df lineage 2^depth times: q_trimmed_mean's plan carried 46
    // Exchange nodes). One tiny eager job per recursing level flattens
    // the recursion onto a LogicalRDD; the depth-1 path (now the common
    // one via [[cumSumsAuto]]) stays lazy and single-job. The band-total
    // table is |groups|·(V/bandWidth) rows (≈ |groups|·√n by
    // cumSumsAuto's band sizing), never corpus-sized.
    val bandTot =
      if (maxDepth > 1) Mat.once(bandTot0) else bandTot0

    // strict (<) per-band prefix of the band totals: recurse the banded
    // scan on the band table while depth remains, else broadcast theta
    // join (the table is by then V/bandWidth^depth rows — tiny).
    val prev: DataFrame =
      if (maxDepth > 1) {
        val rec = cumSums(bandTot, groupCols, band,
          measures.indices.map(i => s"__btot_$i" -> s"__bcum_$i"),
          bandWidth, maxDepth - 1)
        measures.indices.foldLeft(rec) { (d, i) =>
          d.withColumn(s"__prev_$i", col(s"__bcum_$i") - col(s"__btot_$i"))
        }.select(keyCols.map(col) ++
          measures.indices.map(i => col(s"__prev_$i")): _*)
      } else {
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
        bandTot.select(keyCols.map(col): _*).as("a")
          .join(broadcast(rhs).as("b"), cond, "left")
          .groupBy(keyCols.map(col): _*)
          .agg(prevAggs.head, prevAggs.tail: _*)
      }

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
}
