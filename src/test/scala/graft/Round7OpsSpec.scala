package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops._

/** Round-7 gates: (1) the q_kmeans_converged driver-centroid rewrite is
  * byte-identical to the pre-round-7 shuffle-per-round Lloyd loop,
  * re-created here as the in-spec oracle; (2) the native `graft_vec_sum`
  * element-wise array-sum aggregate equals the posexplode + per-dim sum
  * ladder it replaces and fails loudly on ragged / null-element input.
  */
class Round7OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** The pre-round-7 Lloyd-to-convergence loop verbatim: broadcast
    * centroid TABLE, crossJoin + per-vec_id min-struct assignment,
    * posexplode + two-level centroid aggregation, localCheckpoint per
    * round. Kept as the equality oracle for the driver-centroid rewrite —
    * every rounding step is the same Spark expression, so the tables must
    * match exactly (same iterations, same clusters, same e4 mean_dist2).
    */
  private def kmeansConvergedLegacy(maxIter: Int): DataFrame = {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Vectors.q7(col("embedding")).as("qe"))
      .localCheckpoint()
    var cent = vecs.filter(col("vec_id") <= 9)
      .select(col("vec_id").as("cluster"),
        expr("transform(qe, x -> CAST(ROUND(CAST(x AS DOUBLE) / 10.0D) AS BIGINT))")
          .as("c_e6"))
      .localCheckpoint()
    def assign(c: DataFrame) =
      vecs.crossJoin(broadcast(
          c.select(col("cluster"), expr("transform(c_e6, v -> v * 10)").as("ce7"))))
        .select(col("vec_id"), col("cluster"),
          Vectors.dist2E14(col("qe"), col("ce7")).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cluster"))).as("best"))
        .select(col("vec_id"), col("best.cluster").as("cluster"),
          col("best.d2").as("d2"))
    var it = 0
    var moved = Long.MaxValue
    while (moved > 0L && it < maxIter) {
      val fresh = vecs.join(assign(cent).select(col("vec_id"), col("cluster")), "vec_id")
        .select(col("cluster"), posexplode(col("qe")).as(Seq("dim", "x_e7")))
        .groupBy(col("cluster"), col("dim"))
        .agg(round(round(sum(col("x_e7")) / (count(lit(1)) * lit(1e7)), 6) * 1e6)
          .cast("long").as("c_new"))
        .groupBy(col("cluster"))
        .agg(expr("transform(sort_array(collect_list(struct(dim, c_new))), s -> s.c_new)")
          .as("c_fresh"))
      val stepped = cent.join(fresh, Seq("cluster"), "left_outer")
        .select(col("cluster"),
          coalesce(col("c_fresh"), col("c_e6")).as("c_e6"),
          expr("aggregate(zip_with(coalesce(c_fresh, c_e6), c_e6, (a, b) -> abs(a - b)), " +
            "CAST(0 AS BIGINT), (m, v) -> GREATEST(m, v))").as("delta"))
        .localCheckpoint()
      moved = stepped.agg(max(col("delta"))).head().getLong(0)
      cent = stepped.drop("delta")
      it += 1
    }
    assign(cent)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        (round(sum(col("d2")) / (count(lit(1)) * lit(1e14)), 4) + lit(0.0)).as("mean_dist2"))
      .withColumn("n_iters", lit(it.toLong))
      .withColumn("converged", lit(moved == 0L))
      .orderBy("cluster")
  }

  test("kmeans converged: driver-centroid rewrite equals the legacy shuffle-per-round loop") {
    val legacy = rows(kmeansConvergedLegacy(maxIter = 30))
    val rewrite = rows(MLDeterministic.q_kmeans_converged(spark, sf))
    assert(rewrite === legacy)
  }

  test("graft_vec_sum equals the posexplode per-dimension sum ladder") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), (col("vec_id") % 7).as("g"),
        Vectors.q7(col("embedding")).as("qe"))
    val native = vecs.groupBy(col("g"))
      .agg(graft.functions.GraftFunctions.vecSum(col("qe")).as("s"))
      .orderBy("g")
    val ladder = vecs
      .select(col("g"), posexplode(col("qe")).as(Seq("dim", "x")))
      .groupBy(col("g"), col("dim")).agg(sum(col("x")).as("sx"))
      .groupBy(col("g"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, sx))), s -> s.sx)").as("s"))
      .orderBy("g")
    assert(rows(native) === rows(ladder))
  }

  test("graft_vec_sum: null arrays are skipped, all-null group yields null") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1L, 2L))), (1L, None), (1L, Some(Seq(10L, 20L))),
      (2L, None))
      .toDF("g", "v")
    val out = df.groupBy("g")
      .agg(graft.functions.GraftFunctions.vecSum(col("v")).as("s"))
      .orderBy("g").collect()
    assert(out(0).getSeq[Long](1) === Seq(11L, 22L))
    assert(out(1).isNullAt(1))
  }

  test("graft_vec_sum: ragged input fails loudly") {
    import spark.implicits._
    val df = Seq((1L, Seq(1L, 2L)), (1L, Seq(1L, 2L, 3L))).toDF("g", "v")
    val e = intercept[Exception] {
      df.groupBy("g").agg(graft.functions.GraftFunctions.vecSum(col("v"))).collect()
    }
    assert(e.getMessage.contains("ragged") ||
      Option(e.getCause).exists(_.getMessage.contains("ragged")))
  }

  test("support-2 edge rewrite equals the legacy items×items self-join") {
    // the nine graph queries' shared edge build moved from a per-order
    // postings self-join to the guarded collect_set + chained-generator
    // pair fan-out; the support-2 edge SET must be identical — asserted
    // against the PRODUCTION helper, not an inline twin
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val legacy = items.as("a")
      .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= 2)
      .select(col("u"), col("v"))
      .orderBy("u", "v")
    val rewritten = Analytics.support2Edges(spark, sf).orderBy("u", "v")
    assert(rows(rewritten) === rows(legacy))
  }

  test("Baskets.pairs/triples equal the nested-transform HOF form on random baskets") {
    import spark.implicits._
    // randomized breadths 1..12 including singleton baskets (zero fan-out)
    val rnd = new scala.util.Random(11L)
    val baskets = (0 until 50).map { g =>
      (g.toLong, rnd.shuffle((0L until 40L).toList).take(1 + rnd.nextInt(12)).sorted)
    }.toDF("g", "items").select(col("items"))
    val pairsHof = baskets.select(explode(expr(
        """flatten(transform(items, (x, i) ->
           transform(slice(items, i + 2, size(items)), y -> struct(x AS u, y AS v))))"""))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v")).orderBy("u", "v")
    val pairsGen = graft.core.Baskets.pairs(baskets, "u", "v").orderBy("u", "v")
    assert(rows(pairsGen) === rows(pairsHof))
    val triplesHof = baskets.select(explode(expr(
        """flatten(flatten(transform(items, (x, i) ->
           transform(slice(items, i + 2, size(items)), (y, j) ->
             transform(slice(items, i + j + 3, size(items)),
               z -> struct(x AS a, y AS b, z AS c))))))"""))
        .as("t"))
      .select(col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"))
      .orderBy("a", "b", "c")
    val triplesGen = graft.core.Baskets.triples(baskets, "a", "b", "c")
      .orderBy("a", "b", "c")
    assert(rows(triplesGen) === rows(triplesHof))
  }

  test("whale-basket guard: an over-cap basket fails loudly, under-cap passes through") {
    import spark.implicits._
    val items = spark.range(6).select(lit(1L).as("g"), col("id").as("x"))
      .groupBy("g").agg(array_sort(collect_set(col("x"))).as("items"))
    // under the cap: column passes through unchanged
    val ok = items.select(graft.core.Guards.boundedBasket(col("items"), 6L, "spec")
      .as("items")).collect()
    assert(ok.head.getSeq[Long](0) === (0L to 5L))
    // over the cap: the task fails with the op name and the breadth
    val e = intercept[Exception] {
      items.select(graft.core.Guards.boundedBasket(col("items"), 5L, "specOp")
        .as("items")).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("specOp") && msg.contains("basket breadth"), msg)
  }

  test("whale-basket guard fires inside q_apriori_pairs on a planted 1025-part order") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_whale")
    // one whale order spanning PairBreadthCap+1 distinct parts
    val whale = spark.range(graft.core.Guards.PairBreadthCap + 1)
      .select(lit(1L).as("l_orderkey"), col("id").as("l_partkey"),
        lit(1L).as("l_suppkey"), lit(1).as("l_linenumber"),
        lit(1.0).as("l_quantity"), lit(100.0).as("l_extendedprice"),
        lit(0.0).as("l_discount"), lit(0.0).as("l_tax"),
        lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
        to_timestamp(lit("1996-01-01 00:00:00")).as("l_shipdate"))
    whale.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val e = intercept[Exception] {
      MLDeterministic.q_apriori_pairs(spark, dir).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("q_apriori_pairs") && msg.contains("exceeds the documented"), msg)
  }

  /** The pre-round-7 uncollapsed sweep verbatim: PPJoin over ALL docs,
    * exact verify, ×5 threshold explode — the equality oracle for the
    * exact-dup-collapse rewrite. */
  private def legacySweep(docs: DataFrame): DataFrame = {
    val pairs = Text.pairOverlapOf(docs, Some((1L, 2L)), None)
      .select(col("d1"), col("d2"),
        expr("inter * 10000 div (sz1 + sz2 - inter)").as("j_e4"))
    pairs
      .select(col("d1"), col("d2"), col("j_e4"),
        explode(expr("array(5000, 6000, 7000, 8000, 9000)")).as("thr"))
      .filter(col("j_e4") >= col("thr"))
      .groupBy(col("thr").cast("long").as("threshold_e4"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("d2")).as("n_docs_removed"))
      .orderBy("threshold_e4")
  }

  test("threshold sweep: exact-dup collapse equals the uncollapsed pipeline on a dirty corpus") {
    import spark.implicits._
    // randomized corpus with planted exact-dup groups (m in 1..4) over two
    // language blocks — near-dup pairs across groups arise at every swept
    // threshold; the collapsed combinatorial counts must match the
    // brute-ish uncollapsed pipeline exactly
    val rnd = new scala.util.Random(7L)
    val vocab = (0 until 40).map(i => s"w$i")
    var id = 0L
    val docRows = scala.collection.mutable.Buffer[(Long, String, String, Seq[String])]()
    for (_ <- 0 until 60) {
      val toks = rnd.shuffle(vocab).take(8 + rnd.nextInt(10))
      val lang = if (rnd.nextBoolean()) "en" else "de"
      for (_ <- 0 to rnd.nextInt(3)) { docRows += ((id, lang, "src", toks)); id += 1 }
    }
    val docs = docRows.toSeq.toDF("doc_id", "lang", "source", "toks")
      .withColumn("sz", size(col("toks")).cast("long"))
    assert(rows(Text.dedupThresholdSweepOf(docs)) === rows(legacySweep(docs)))
    // and on the clean sf0.01 fixture (mostly singleton groups)
    assert(rows(Text.q_dedup_threshold_sweep(spark, sf)) ===
      rows(legacySweep(Text.docSets(spark, sf))))
  }

  test("graft_vec_sum is SQL-callable after registration") {
    // a fresh session: the shared one already has the function
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    Seq((1L, Seq(3L, 4L))).toDF("g", "v").createOrReplaceTempView("vs_in")
    val out = s.sql("SELECT graft_vec_sum(v) AS s FROM vs_in GROUP BY g").collect()
    assert(out.head.getSeq[Long](0) === Seq(3L, 4L))
  }
}
