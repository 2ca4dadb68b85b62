package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops._

/** Round-6 gates: the seven dense pair ops that still planned
  * BroadcastNestedLoopJoin / CartesianProduct (q_knn_hubness, q_mutual_nn,
  * q_lof_outliers, q_dbscan_labels, q_single_linkage_step, q_label_noise,
  * q_intrinsic_dimension) were re-routed through the gridDirectedD2 /
  * gridLegs triangular grid. Each test pins the grid version's output
  * against the pre-round-6 naive non-equi self-join, re-created here as
  * the in-spec oracle — identical rows, identical order where the op
  * orders. Plan-shape (no BNLJ / no data×data CartesianProduct) is gated
  * in PlanShapeSpec alongside the other grid ops.
  */
class Round6OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  /** The shared quantized-embedding projection the ops use. */
  private def quantized(): DataFrame =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), Vectors.q7(col("embedding")).as("qe"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("knn hubness grid matches the naive label-blocked self-join") {
    val sel = quantized()
    val pairs = sel.as("a")
      .join(sel.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
        Vectors.dist2E14(col("a.qe"), col("b.qe")).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    val indeg = pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .groupBy(col("nid")).agg(count(lit(1)).as("in_deg"))
    val naive = sel.select(col("vec_id").as("nid"))
      .join(indeg, Seq("nid"), "left_outer")
      .select(coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .groupBy(col("in_deg")).agg(count(lit(1)).as("n_vectors"))
      .orderBy("in_deg")
    assert(rows(Vectors.q_knn_hubness(spark, sf)) === rows(naive))
  }

  test("mutual NN grid matches the naive cross-join twin") {
    val a = quantized().filter(col("label") === 0)
      .select(col("vec_id").as("aid"), col("qe").as("aqe"))
    val b = quantized().filter(col("label") === 1)
      .select(col("vec_id").as("bid"), col("qe").as("bqe"))
    val pairs = a.crossJoin(b)
      .select(col("aid"), col("bid"), Vectors.dist2E14(col("aqe"), col("bqe")).as("d2"))
    val wA = Window.partitionBy(col("aid")).orderBy(col("d2").asc, col("bid").asc)
    val wB = Window.partitionBy(col("bid")).orderBy(col("d2").asc, col("aid").asc)
    val bestA = pairs.withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("aid"), col("bid"), col("d2"))
    val bestB = pairs.withColumn("rn", row_number().over(wB)).filter(col("rn") === 1)
      .select(col("aid").as("aid2"), col("bid").as("bid2"))
    val naive = bestA.join(bestB, col("aid") === col("aid2") && col("bid") === col("bid2"))
      .select(col("aid"), col("bid"), col("d2"))
      .orderBy("aid")
    val got = Vectors.q_mutual_nn(spark, sf)
    assert(got.count() > 0, "mutual-NN fixture produced no reciprocal pairs")
    assert(rows(got) === rows(naive))
  }

  test("LOF grid matches the naive all-pairs twin") {
    val sel = quantized().filter(col("label") === 0)
    val pairs = sel.as("a")
      .join(sel.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
        Vectors.dist2E14(col("a.qe"), col("b.qe")).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    val knn = pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .localCheckpoint()
    val kdist = knn.filter(col("rn") === 5)
      .select(col("qid").as("kd_id"), col("d2").as("kdist"))
    val lrd = knn
      .join(kdist.select(col("kd_id").as("nid"), col("kdist")), "nid")
      .select(col("qid"), greatest(col("kdist"), col("d2")).as("reach"))
      .groupBy(col("qid"))
      .agg(sum(col("reach")).as("rsum"))
      .select(col("qid"), expr("5.0 / CAST(GREATEST(rsum, 1) AS DOUBLE)").as("lrd"))
    val naive = knn
      .join(lrd.select(col("qid").as("nid"), col("lrd").as("lrd_n")), "nid")
      .groupBy(col("qid"))
      .agg(sum(col("lrd_n")).as("lrd_nsum"))
      .join(lrd, "qid")
      .select(col("qid").as("vec_id"),
        (round(expr("lrd_nsum / (5.0 * lrd)"), 4) + lit(0.0)).as("lof"))
      .orderBy(col("lof").desc, col("vec_id").asc).limit(10)
    assert(rows(Vectors.q_lof_outliers(spark, sf)) === rows(naive))
  }

  test("DBSCAN grid matches the naive epsilon-neighborhood twin") {
    val eps = 165000000000000L
    val sel = quantized().filter(col("label") === 0)
    val neigh = sel.as("a")
      .join(sel.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
        Vectors.dist2E14(col("a.qe"), col("b.qe")).as("d2"))
      .filter(col("d2") <= eps)
    val core = neigh.groupBy(col("qid")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 4).select(col("qid").as("core_id"))
    val border = neigh
      .join(core.select(col("core_id").as("nid")), "nid")
      .select(col("qid")).distinct()
      .join(core.select(col("core_id").as("qid")), Seq("qid"), "left_anti")
    val naive = sel.agg(count(lit(1)).as("n_points"))
      .crossJoin(core.agg(count(lit(1)).as("n_core")))
      .crossJoin(border.agg(count(lit(1)).as("n_border")))
      .select(col("n_points"), col("n_core"), col("n_border"),
        (col("n_points") - col("n_core") - col("n_border")).as("n_noise"))
    assert(rows(Vectors.q_dbscan_labels(spark, sf)) === rows(naive))
  }

  test("single-linkage grid matches the naive label-inequality twin") {
    val sel = quantized().filter(col("label") < 5)
    val cross = sel.as("a")
      .join(sel.as("b"), col("a.label") < col("b.label"))
      .select(col("a.label").as("la"), col("b.label").as("lb"),
        Vectors.dist2E14(col("a.qe"), col("b.qe")).as("d2"))
      .groupBy(col("la"), col("lb"))
      .agg(min(col("d2")).as("min_d2"), count(lit(1)).as("n_pairs"))
    val best = cross.orderBy(col("min_d2").asc, col("la").asc, col("lb").asc).limit(1)
      .select(col("la").as("ma"), col("lb").as("mb"))
    val naive = cross.crossJoin(broadcast(best))
      .select(col("la"), col("lb"), col("min_d2"), col("n_pairs"),
        when(col("la") === col("ma") && col("lb") === col("mb"), 1L).otherwise(0L)
          .as("merges_first"))
      .orderBy("la", "lb")
    val got = Vectors.q_single_linkage_step(spark, sf)
    assert(rows(got) === rows(naive))
    // the 5-label dissimilarity matrix must be complete: C(5,2) rows
    assert(got.count() === 10L)
  }

  test("label-noise grid matches the naive block self-join twin") {
    val block = quantized().filter(col("label") <= 1)
      .select(col("vec_id"), col("label"), col("qe"))
    val w = Window.partitionBy("a_id").orderBy(col("d2").asc, col("b_id").asc)
    val flagged = block.as("a")
      .join(block.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("a.label").as("a_label"),
        col("b.vec_id").as("b_id"), col("b.label").as("b_label"),
        Vectors.dist2E14(col("a.qe"), col("b.qe")).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("a_id"), col("a_label"))
      .agg(sum(when(col("b_label") === 1, 1L).otherwise(0L)).as("votes1"))
      .select(col("a_label"),
        when((col("votes1") >= 3) =!= (col("a_label") === 1), 1L).otherwise(0L).as("flagged"))
    val naive = flagged.groupBy(col("a_label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"), sum(col("flagged")).as("n_flagged"))
      .select(col("label"), col("n"), col("n_flagged"),
        expr("n_flagged * 10000 div n").as("flagged_share_e4"))
      .orderBy("label")
    assert(rows(Vectors.q_label_noise(spark, sf)) === rows(naive))
  }

  test("intrinsic-dimension grid matches the naive 2-NN twin") {
    val sel = quantized().filter(col("label") === 0)
    val pairs = sel.as("a")
      .join(sel.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
        Vectors.dist2E14(col("a.qe"), col("b.qe")).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    val naive = pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .groupBy(col("qid"))
      .agg(min(when(col("rn") === 1, col("d2"))).as("r1sq"),
        min(when(col("rn") === 2, col("d2"))).as("r2sq"))
      .select(col("qid"),
        floor(log(col("r2sq").cast("double") / col("r1sq").cast("double")) * 0.5e9)
          .cast("long").as("ln_mu_e9"))
      .agg(count(lit(1)).as("n_points"), sum(col("ln_mu_e9")).as("sum_ln_e9"))
      .select(col("n_points"), col("sum_ln_e9"),
        (round(expr("CAST(n_points AS DOUBLE) * 1e9 / CAST(sum_ln_e9 AS DOUBLE)"), 4)
          + lit(0.0)).as("intrinsic_dim"))
    assert(rows(Vectors.q_intrinsic_dimension(spark, sf)) === rows(naive))
  }

  // ---- tfidf cosine completeness certificate --------------------------------

  private def fixture(tables: (String, DataFrame)*): String = {
    val dir = TestSpark.tempDir("graft_r6")
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  private def docsTable(rows: Seq[(Long, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  test("tfidf certificate: a rare-heavy low-Jaccard pair is found via the adaptive leg") {
    // docs 100/101: share only r1 r2 r3 (tf=50 each, df=2) among 24
    // distinct tokens — J = 3/45, C = 3/24, BOTH below the structural
    // candidate thresholds, and the 21 unique df=1 tokens are RARER than
    // the shared ones, pushing r1-r3 out of the rarity half-prefix. Their
    // cosine is ≈1 (the shared mass dominates both norms), so exactness
    // REQUIRES the norm-adaptive leg. 19 identical filler pairs at cos 1.0
    // fill ranks 1-19 and keep the 20th cosine above the 3/4 certificate.
    def uniq(p: String) = (1 to 21).map(i => s"$p$i").mkString(" ")
    val rare = (("r1 " * 50) + ("r2 " * 50) + ("r3 " * 50)).trim
    val fillers = (0 until 19).flatMap { i =>
      val t = s"f${i}a f${i}b f${i}c"
      Seq((200L + 2 * i, t, "en", "web"), (201L + 2 * i, t, "en", "web"))
    }
    val dir = fixture("documents" -> docsTable(
      Seq((100L, s"${uniq("ua")} $rare", "en", "web"),
          (101L, s"${uniq("ub")} $rare", "en", "web")) ++ fillers))
    val got = Retrieval.q_tfidf_cosine_docs(spark, dir).collect()
    assert(got.length === 20)
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)),
      s"adaptive leg missed the rare-heavy low-J pair; got ${pairs.mkString(",")}")
    // and the result equals the brute-force all-pairs postings twin
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("nn"))
    val tf = docs.select(col("doc_id"), col("lang"), col("source"),
        explode(split(lower(col("text")), " ")).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val w = tf.join(dfr, "word").crossJoin(broadcast(n))
      .select(col("doc_id"), col("lang"), col("source"), col("word"),
        (col("tf") * round(log(col("nn").cast("double") / (col("df") + lit(1L)).cast("double"))
          * lit(1e4)).cast("long")).as("w"))
    val norms = w.groupBy(col("doc_id").as("nd"))
      .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("nrm"))
    val naive = w.as("a")
      .join(w.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(sum(col("a.w").cast("decimal(38,0)") * col("b.w")).as("dot"))
      .join(norms.select(col("nd").as("d1"), col("nrm").as("n1")), "d1")
      .join(norms.select(col("nd").as("d2"), col("nrm").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (round(col("dot").cast("double") /
          sqrt(col("n1").cast("double") * col("n2").cast("double")), 6) + lit(0.0)).as("cos"))
      .orderBy(col("cos").desc, col("d1").asc, col("d2").asc).limit(20)
    assert(rows(Retrieval.q_tfidf_cosine_docs(spark, dir)) === rows(naive))
  }

  test("tfidf certificate: randomized corpora — exact top-20 whenever it passes") {
    // the certificate's contract across corpus shapes the fixture never
    // takes: for each seeded random corpus, EITHER the query returns and
    // must equal the brute-force all-pairs twin, OR it fires the
    // certificate (cannot certify) — never a silently wrong result. At
    // least a third of the seeds must take the pass branch so the sweep
    // is non-vacuous.
    val rnd = new scala.util.Random(42)
    var passed = 0
    for (seed <- 0 until 6) {
      val vocab = (0 until 40).map(i => s"w$i")
      // duplicate clusters: ~10 templates, each emitted 3-4 times (some
      // verbatim, some with one extra token) → plenty of cos≈1 pairs so
      // the 20th candidate cosine clears 3/4 on most seeds; plus random
      // singleton docs as noise. Same-(lang,source) within a cluster.
      val templates = (0 until 10).map { t =>
        val len = 6 + rnd.nextInt(12)
        Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      var id = -1L
      val rows = templates.zipWithIndex.flatMap { case (t, ti) =>
        val copies = 3 + rnd.nextInt(2)
        (0 until copies).map { c =>
          id += 1
          val text = if (c > 0 && rnd.nextBoolean()) s"$t x$ti" else t
          (id, text, "en", if (ti % 2 == 0) "web" else "wiki")
        }
      } ++ (0 until 10 + rnd.nextInt(10)).map { _ =>
        id += 1
        val len = 5 + rnd.nextInt(15)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "),
          "en", if (rnd.nextBoolean()) "web" else "wiki")
      }
      val dir = fixture("documents" -> docsTable(rows))
      val outcome = try Some(Retrieval.q_tfidf_cosine_docs(spark, dir).collect())
      catch {
        case e: Exception =>
          def msgs(t: Throwable): Seq[String] =
            if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
          assert(msgs(e).exists(_.contains("completeness certificate failed")),
            s"seed $seed: unexpected failure ${msgs(e).mkString(" | ")}")
          None
      }
      outcome.foreach { got =>
        passed += 1
        val naive = bruteForceTfidfTop20(dir).collect()
        assert(got.map(_.toSeq).toSeq === naive.map(_.toSeq).toSeq,
          s"seed $seed: certified result diverged from brute force")
      }
    }
    assert(passed >= 2, s"only $passed/6 seeds passed the certificate — sweep vacuous")
  }

  /** Brute-force all-pairs tf-idf cosine top-20 (the oracle's shape). */
  private def bruteForceTfidfTop20(dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("nn"))
    val tf = docs.select(col("doc_id"), col("lang"), col("source"),
        explode(split(lower(col("text")), " ")).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val w = tf.join(dfr, "word").crossJoin(broadcast(n))
      .select(col("doc_id"), col("lang"), col("source"), col("word"),
        (col("tf") * round(log(col("nn").cast("double") / (col("df") + lit(1L)).cast("double"))
          * lit(1e4)).cast("long")).as("w"))
    val norms = w.groupBy(col("doc_id").as("nd"))
      .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("nrm"))
    w.as("a")
      .join(w.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(sum(col("a.w").cast("decimal(38,0)") * col("b.w")).as("dot"))
      .join(norms.select(col("nd").as("d1"), col("nrm").as("n1")), "d1")
      .join(norms.select(col("nd").as("d2"), col("nrm").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (round(col("dot").cast("double") /
          sqrt(col("n1").cast("double") * col("n2").cast("double")), 6) + lit(0.0)).as("cos"))
      .orderBy(col("cos").desc, col("d1").asc, col("d2").asc).limit(20)
  }

  test("tfidf certificate: fires loudly when exactness cannot be certified") {
    // fewer than 20 candidate pairs exist — nothing proves the missing
    // ranks, so the query must FAIL, not silently return a short result
    val dir = fixture("documents" -> docsTable(Seq(
      (1L, "alpha beta shared", "en", "web"),
      (2L, "gamma delta shared", "en", "web"),
      (3L, "epsilon zeta", "en", "web"))))
    val e = intercept[Exception] {
      Retrieval.q_tfidf_cosine_docs(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("completeness certificate failed")),
      s"expected the certificate failure, got: ${messages(e).mkString(" | ")}")
  }

  test("gridDirectedD2 emits every directed pair exactly once (randomized ids)") {
    import spark.implicits._
    // 97 rows with adversarial id spacing (hash collisions across groups)
    val ids = (0 until 97).map(i => i.toLong * 1000003L)
    val v = ids.toDF("vec_id")
      .withColumn("qe", array(col("vec_id").cast("long"), lit(1L)))
    val got = Vectors.gridDirectedD2(v, 8)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 97 * 96, s"directed pair count ${got.length}")
    assert(got.toSet.size === got.length, "a directed pair was emitted twice")
    assert(got.forall { case (q, n) => q != n })
    // blockKeys variant: pairs restricted to equal labels, still
    // exactly-once directed (3 blocks of 33/32/32 rows)
    val vb = v.withColumn("label", pmod(col("vec_id"), lit(3L)))
    val gotB = Vectors.gridDirectedD2(vb, 8, Seq("label"))
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byLabel = ids.groupBy(_ % 3).values.map(_.size).toSeq
    val want = byLabel.map(s => s * (s - 1)).sum
    assert(gotB.length === want, s"blocked directed count ${gotB.length} != $want")
    assert(gotB.toSet.size === gotB.length)
    assert(gotB.forall { case (q, n) => q % 3 == n % 3 && q != n })
  }
}
