package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Mat, Tables}
import graft.core.Det.{cents, pct}

/** Deterministic, oracle-able formulations of the reference's ML surface
  * (SURVEY.md §2.12): closed-form linear regression, multinomial Naive
  * Bayes, unrolled K-Means Lloyd iterations, Apriori pair mining. The
  * MLlib twins of these live in [[graft.ml.MllibTwins]].
  *
  * The MapReduce lineage is visible in the shape: every algorithm is a
  * sum-reduction over exact integers (sufficient statistics, vote counts,
  * lattice distances) followed by a fixed scalar epilogue — which is
  * exactly what makes them distributable AND hash-comparable.
  */
object MLDeterministic {

  /** Closed-form simple linear regression l_extendedprice_cents ~
    * l_quantity via exact integer sufficient statistics (one partial+final
    * aggregate — the canonical MR sum-reduction), then a fixed double
    * epilogue for slope/intercept/r².
    */
  def q_linreg_normal(spark: SparkSession, sf: String): DataFrame = {
    val sums = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("x"), cents(col("l_extendedprice")).as("y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        // y² up to 1e14/row: sum in decimal(38) (exact, like DuckDB's
        // HUGEINT) — a long would overflow beyond ~60k rows
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    // identical double expression tree on both engines (D3). The exact
    // integer sums are cast to double FIRST: products like n·Σxy overflow
    // int64 at sf ≥ 0.1 (found by the sf0.1 stress preflight), and the
    // cast-then-multiply sequence is bit-identical across engines.
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val sxyD = col("sxy").cast("double")
    val sxxD = col("sxx").cast("double")
    val syyD = col("syy").cast("double")
    val num = nD * sxyD - sxD * syD
    val denX = nD * sxxD - sxD * sxD
    sums.select(
      col("n"),
      (round(num / denX, 4) + lit(0.0)).as("slope"),
      (round((syD - (num / denX) * sxD) / nD, 4) + lit(0.0)).as("intercept"),
      (round((num * num) / (denX * (nD * syyD - syD * syD)), 4) + lit(0.0)).as("r2"))
  }

  /** Pairwise Pearson correlation matrix of the four lineitem measures
    * (quantity, price cents, discount pct, tax pct) from ONE pass of exact
    * integer sufficient statistics — 15 sums, then a fixed double epilogue
    * per pair. Cross-product sums ride in decimal(38,0) (DuckDB: HUGEINT);
    * price², at cents scale, overflows int64 beyond ~10⁵ rows.
    */
  def q_corr_matrix(spark: SparkSession, sf: String): DataFrame = {
    def dsum(x: Column, y: Column): Column = sum(x.cast("decimal(38,0)") * y)
    val s = Tables.lineitem(spark, sf)
      .select(
        col("l_quantity").cast("long").as("q"),
        cents(col("l_extendedprice")).as("p"),
        pct(col("l_discount")).as("d"),
        pct(col("l_tax")).as("t"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("s_q"), sum(col("p")).as("s_p"),
        sum(col("d")).as("s_d"), sum(col("t")).as("s_t"),
        dsum(col("q"), col("q")).as("s_qq"), dsum(col("p"), col("p")).as("s_pp"),
        dsum(col("d"), col("d")).as("s_dd"), dsum(col("t"), col("t")).as("s_tt"),
        dsum(col("q"), col("p")).as("s_qp"), dsum(col("q"), col("d")).as("s_qd"),
        dsum(col("q"), col("t")).as("s_qt"), dsum(col("p"), col("d")).as("s_pd"),
        dsum(col("p"), col("t")).as("s_pt"), dsum(col("d"), col("t")).as("s_dt"))
    // identical IEEE epilogue on both engines: every exact sum is cast to
    // double FIRST (see q_linreg_normal), then one fixed expression tree
    def corrOf(sxy: String, sx: String, sy: String, sxx: String, syy: String): Column = {
      val nD = col("n").cast("double")
      val num = nD * col(sxy).cast("double") - col(sx).cast("double") * col(sy).cast("double")
      val dx = nD * col(sxx).cast("double") - col(sx).cast("double") * col(sx).cast("double")
      val dy = nD * col(syy).cast("double") - col(sy).cast("double") * col(sy).cast("double")
      round(num / sqrt(dx * dy), 4) + lit(0.0)
    }
    s.select(
      corrOf("s_qp", "s_q", "s_p", "s_qq", "s_pp").as("qty_price"),
      corrOf("s_qd", "s_q", "s_d", "s_qq", "s_dd").as("qty_disc"),
      corrOf("s_qt", "s_q", "s_t", "s_qq", "s_tt").as("qty_tax"),
      corrOf("s_pd", "s_p", "s_d", "s_pp", "s_dd").as("price_disc"),
      corrOf("s_pt", "s_p", "s_t", "s_pp", "s_tt").as("price_tax"),
      corrOf("s_dt", "s_d", "s_t", "s_dd", "s_tt").as("disc_tax"))
      .unpivot(
        Array.empty[Column],
        Array(col("qty_price"), col("qty_disc"), col("qty_tax"),
          col("price_disc"), col("price_tax"), col("disc_tax")),
        "pair", "r")
      .orderBy("pair")
  }

  /** Spearman rank correlation (min-rank variant) of quantity vs price per
    * return flag: RANK() assigns identical integer ranks on both engines
    * (ties → min rank), then the Pearson epilogue runs on exact integer
    * rank sums — same one-pass sufficient-statistics shape as
    * [[q_corr_matrix]], rank products carried in decimal.
    */
  def q_corr_spearman(spark: SparkSession, sf: String): DataFrame = {
    val t = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("q"), cents(col("l_extendedprice")).as("p"))
      .withColumn("rq", rank().over(Window.partitionBy("flag").orderBy("q")).cast("long"))
      .withColumn("rp", rank().over(Window.partitionBy("flag").orderBy("p")).cast("long"))
    def dsum(x: Column, y: Column): Column = sum(x.cast("decimal(38,0)") * y)
    val s = t.groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        sum(col("rq")).as("sq"), sum(col("rp")).as("sp"),
        dsum(col("rq"), col("rq")).as("sqq"), dsum(col("rp"), col("rp")).as("spp"),
        dsum(col("rq"), col("rp")).as("sqp"))
    val nD = col("n").cast("double")
    val num = nD * col("sqp").cast("double") - col("sq").cast("double") * col("sp").cast("double")
    val dx = nD * col("sqq").cast("double") - col("sq").cast("double") * col("sq").cast("double")
    val dy = nD * col("spp").cast("double") - col("sp").cast("double") * col("sp").cast("double")
    s.select(col("flag"), col("n"),
      (round(num / sqrt(dx * dy), 4) + lit(0.0)).as("rho"))
      .orderBy("flag")
  }

  /** Chi-square independence test of return flag × line status from the
    * exact contingency table: marginals via window re-sums of the cell
    * counts, each cell's (o−e)²/e term rounded to an e6 integer BEFORE the
    * (order-independent) sum, one fixed epilogue. The whole test is two
    * shuffles: the cell aggregate and the single-row collapse.
    */
  def q_chi_square(spark: SparkSession, sf: String): DataFrame = {
    val cellCounts = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("f"), col("l_linestatus").as("s"))
      .agg(count(lit(1)).as("o"))
    val obs = cellCounts
      .withColumn("rowtot", sum(col("o")).over(Window.partitionBy("f")))
      .withColumn("coltot", sum(col("o")).over(Window.partitionBy("s")))
      // grand total via a broadcast 1-row aggregate, not a global window
      .crossJoin(broadcast(cellCounts.agg(sum(col("o")).as("n"))))
    val e = col("rowtot").cast("double") * col("coltot").cast("double") / col("n").cast("double")
    val d = col("o").cast("double") - e
    val cells = obs.select(col("f"), col("s"), col("n"),
      round(d * d / e * 1e6).cast("long").as("term_e6"))
    cells.agg(
      max(col("n")).as("n"),
      countDistinct(col("f")).as("n_flags"),
      countDistinct(col("s")).as("n_statuses"),
      sum(col("term_e6")).as("s_e6"))
      .select(col("n"), col("n_flags"), col("n_statuses"),
        ((col("n_flags") - 1L) * (col("n_statuses") - 1L)).as("dof"),
        (round(col("s_e6").cast("double") / lit(1e6), 4) + lit(0.0)).as("chi2"))
  }

  private def docTokens(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), explode(split(lower(col("text")), " ")).as("word"))

  /** Naive Bayes model components as exact integer counts + e4-scaled
    * integer log-likelihoods: llh_e4 = ROUND(LN((c_wc+1)/(c_c+V))·1e4).
    * Integer scores make the downstream argmax summation-order-proof.
    */
  private def nbModel(spark: SparkSession, sf: String)
    : (DataFrame, DataFrame, DataFrame) = {
    val toks = docTokens(spark, sf)
    val wc = toks.groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c_wc"))
    // class totals and vocabulary are RE-aggregations of wc — deriving them
    // from the (lang, word) counts instead of re-exploding the corpus cuts
    // the model build from three corpus passes to one
    val cc = wc.groupBy(col("lang")).agg(sum(col("c_wc")).as("c_c"))
    val v = wc.agg(countDistinct(col("word")).as("v"))
    val likelihood = wc.join(cc, "lang").crossJoin(broadcast(v))
      .select(col("lang"), col("word"),
        round(log((col("c_wc") + 1).cast("double") / (col("c_c") + col("v"))) * 1e4)
          .cast("long").as("llh_e4"))
    val docsPerLang = Tables.documents(spark, sf)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_c"))
    val nDocs = Tables.documents(spark, sf).agg(count(lit(1)).as("n"))
    val prior = docsPerLang.crossJoin(broadcast(nDocs))
      .select(col("lang"),
        round(log(col("n_c").cast("double") / col("n")) * 1e4).cast("long").as("prior_e4"))
    // default (unseen-in-class) log-likelihood per class
    val default = cc.crossJoin(broadcast(v))
      .select(col("lang"),
        round(log(lit(1.0) / (col("c_c") + col("v"))) * 1e4).cast("long").as("def_e4"))
    (likelihood, prior, default)
  }

  /** NB training output: top-5 tokens per language by likelihood, plus one
    * prior row per language (rnk=0).
    */
  def q_naivebayes_train(spark: SparkSession, sf: String): DataFrame = {
    val (likelihood, prior, _) = nbModel(spark, sf)
    val w = Window.partitionBy("lang").orderBy(col("llh_e4").desc, col("word").asc)
    val top = likelihood
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("word").as("item"), col("llh_e4").as("logp_e4"), col("rnk"))
    val priors = prior.select(col("lang"), lit("__prior__").as("item"),
      col("prior_e4").as("logp_e4"), lit(0L).as("rnk"))
    top.unionByName(priors).orderBy("lang", "rnk", "item")
  }

  /** NB prediction: score every document against every class over its
    * DISTINCT tokens (set-of-words), unseen tokens falling back to the
    * class default; argmax with tie → lexicographically smaller language.
    * Scores are exact integer e4-log sums. Appends one summary row
    * (doc_id=-1) carrying the global correct-prediction count.
    */
  /** Per-document NB predictions (doc_id, predicted, actual, hit) — the
    * scoring pipeline shared by [[q_naivebayes_predict]] (which appends
    * the summary row) and [[q_eval_f1]] (which aggregates the confusion
    * matrix into per-class metrics).
    */
  private[ops] def nbPredict(spark: SparkSession, sf: String): DataFrame = {
    val (likelihood, prior, default) = nbModel(spark, sf)
    // pivot the model to word → one integer score column per language
    // (classes are few and fixed; the per-class default fills unseen
    // (class, word) cells) — scoring becomes ONE broadcast join + ONE
    // aggregation instead of a 5× row expansion with a window argmax
    // one tiny job to enumerate the classes, then explicit pivot values —
    // auto-discovery would run a distinct scan per pivot (3×)
    val langs = prior.select(col("lang")).collect().map(_.getString(0)).toSeq.sorted
    val wordScores = likelihood.groupBy(col("word")).pivot("lang", langs).agg(first(col("llh_e4")))
    val defRow = default.groupBy().pivot("lang", langs).agg(first(col("def_e4")))
      .select(langs.map(l => col(l).as(s"def_$l")): _*)
    val priorRow = prior.groupBy().pivot("lang", langs).agg(first(col("prior_e4")))
      .select(langs.map(l => col(l).as(s"prior_$l")): _*)
    val docWords = docTokens(spark, sf).select(col("doc_id"), col("word")).distinct()
    val sumCols = langs.map(l => sum(col(s"s_$l")).as(s"s_$l"))
    val scored = docWords
      .join(broadcast(wordScores), "word")
      .crossJoin(broadcast(defRow))
      .select(col("doc_id") +:
        langs.map(l => coalesce(col(l), col(s"def_$l")).as(s"s_$l")): _*)
      .groupBy(col("doc_id"))
      .agg(sumCols.head, sumCols.tail: _*)
      .crossJoin(broadcast(priorRow))
      .withColumn("scores",
        array(langs.map(l => col(s"s_$l") + col(s"prior_$l")): _*))
    // argmax over the fixed-width score vector; tie → smallest index =
    // lexicographically smallest language (columns are sorted)
    val pred = scored
      .withColumn("best", expr(
        s"array_max(transform(sequence(0, ${langs.size - 1}), i -> struct(scores[i] AS s, -i AS ni)))"))
      .select(col("doc_id"),
        element_at(array(langs.map(lit): _*), lit(1) - col("best.ni")).as("predicted"))
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("lang").as("actual")), "doc_id")
      .select(col("doc_id"), col("predicted"), col("actual"),
        when(col("predicted") === col("actual"), 1L).otherwise(0L).as("hit"))
    pred
  }

  def q_naivebayes_predict(spark: SparkSession, sf: String): DataFrame = {
    // per-doc rows + the grand-total summary row in ONE pass via grouping
    // sets (a union of pred with pred.agg would execute the scoring
    // pipeline twice)
    nbPredict(spark, sf)
      .groupingSets(
        Seq(Seq(col("doc_id"), col("predicted"), col("actual")), Seq.empty),
        col("doc_id"), col("predicted"), col("actual"))
      .agg(sum(col("hit")).as("hit"))
      .select(
        coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        coalesce(col("predicted"), lit("__summary__")).as("predicted"),
        coalesce(col("actual"), lit("__correct__")).as("actual"),
        col("hit"))
      .orderBy("doc_id")
  }

  /** Per-class precision / recall / F1 of the NB classifier — the model
    * evaluation pass every training pipeline runs after scoring. The
    * confusion matrix is one (actual, predicted) aggregate (≤ classes²
    * cells at any corpus size); metrics are exact e4 integer divisions
    * with −1 sentinels for undefined cells (a class never predicted).
    */
  def q_eval_f1(spark: SparkSession, sf: String): DataFrame = {
    // ≤ classes² rows; materialized because the precision and recall
    // margins below each re-read it — lazy, the whole NB train+score
    // pipeline ran twice (round 10 plan audit: 106 Exchange nodes)
    val conf = Mat.once(nbPredict(spark, sf)
      .groupBy(col("actual"), col("predicted")).agg(count(lit(1)).as("n")))
    val byPred = conf.groupBy(col("predicted").as("class"))
      .agg(sum(when(col("actual") === col("predicted"), col("n")).otherwise(0L)).as("tp"),
        sum(when(col("actual") =!= col("predicted"), col("n")).otherwise(0L)).as("fp"))
    val byAct = conf.groupBy(col("actual").as("class"))
      .agg(sum(when(col("actual") =!= col("predicted"), col("n")).otherwise(0L)).as("fn"))
    byAct.join(byPred, Seq("class"), "full_outer")
      .select(col("class"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        coalesce(col("fn"), lit(0L)).as("fn"))
      .select(col("class"), col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp = 0 THEN -1 ELSE tp * 10000 div (tp + fp) END").as("precision_e4"),
        expr("CASE WHEN tp + fn = 0 THEN -1 ELSE tp * 10000 div (tp + fn) END").as("recall_e4"),
        expr("CASE WHEN 2*tp + fp + fn = 0 THEN -1" +
          " ELSE 2 * tp * 10000 div (2*tp + fp + fn) END").as("f1_e4"))
      .orderBy("class")
  }

  /** Smoothed mean-target encoding of a categorical feature (p_brand →
    * expected retail price): enc = (Σ target + m·global_mean)/(n + m)
    * with m = 10, all in exact integer cents (the global mean is one
    * integer division, documented as floor). The classic leakage-free
    * categorical featurization — one aggregate per category plus one
    * broadcast global row, no matter the table size.
    */
  def q_target_encoding(spark: SparkSession, sf: String): DataFrame = {
    val parts = Tables.part(spark, sf)
      .select(col("p_brand"), cents(col("p_retailprice")).as("pc"))
    val global = parts.agg(sum(col("pc")).as("ts"), count(lit(1)).as("tn"))
      .select(expr("ts div tn").as("gmean"))
    parts.groupBy(col("p_brand")).agg(count(lit(1)).as("n"), sum(col("pc")).as("s"))
      .crossJoin(broadcast(global))
      .select(col("p_brand"), col("n"), col("s"),
        expr("(s + 10 * gmean) div (n + 10)").as("enc_cents"),
        col("gmean").as("global_mean_cents"))
      .orderBy("p_brand")
  }

  /** Farthest-first (k-center / Gonzalez) seeding, 3 unrolled rounds:
    * seed 0 = vector 0 [D5]; each next seed is the point maximizing its
    * min squared lattice distance to the chosen set (tie → lower id);
    * a final row reports the coverage radius (the worst-covered point).
    * Each round is one broadcast of a single seed row + one arg-max
    * aggregate — the deterministic init a K-Means/K-center run wants at
    * scale, touching the data k times with no shuffle growth.
    */
  def q_kcenter_seeds(spark: SparkSession, sf: String): DataFrame = {
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Vectors.q7(col("embedding")).as("qe"))
    def argmax(df: DataFrame, d: String) =
      df.agg(max(struct(col(d).as("d"), (-col("vec_id")).as("ni"), col("qe"))).as("m"))
        .select((-col("m.ni")).as("vid"), col("m.d").as("dd"), col("m.qe").as("sqe"))
    val s0 = all.filter(col("vec_id") === 0).select(col("qe").as("sqe"))
    val d1 = all.crossJoin(broadcast(s0))
      .select(col("vec_id"), col("qe"), Vectors.dist2E14(col("qe"), col("sqe")).as("dmin"))
    val p1 = argmax(d1, "dmin")
    val d2 = d1.crossJoin(broadcast(p1.select(col("sqe"))))
      .select(col("vec_id"), col("qe"),
        least(col("dmin"), Vectors.dist2E14(col("qe"), col("sqe"))).as("dmin"))
    val p2 = argmax(d2, "dmin")
    val d3 = d2.crossJoin(broadcast(p2.select(col("sqe"))))
      .select(col("vec_id"), col("qe"),
        least(col("dmin"), Vectors.dist2E14(col("qe"), col("sqe"))).as("dmin"))
    val p3 = argmax(d3, "dmin")
    def row(k: Long, p: DataFrame) = p.select(lit(k).as("k"), col("vid").as("vec_id"),
      (round(col("dd").cast("double") / lit(1e14), 6) + lit(0.0)).as("d2"))
    spark.range(1).select(lit(0L).as("k"), lit(0L).as("vec_id"), lit(0.0).as("d2"))
      .unionByName(row(1L, p1)).unionByName(row(2L, p2)).unionByName(row(3L, p3))
      .orderBy("k")
  }

  /** Cluster-quality index for the fixed 10-seed assignment of
    * [[q_kmeans_step]]: per cluster the size, cohesion (mean intra
    * squared distance), separation (min squared distance from this seed
    * to any other seed) and their ratio — the Davies-Bouldin-flavor
    * health check a clustering pipeline runs after every iteration.
    * Intra sums carry in decimal (Σd2 can pass 2⁶³); the 10×10 seed-pair
    * table is constant-sized at any corpus scale.
    */
  def q_cluster_quality(spark: SparkSession, sf: String): DataFrame = {
    val assigned = kmeansAssign(spark, sf)
    val intra = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("d2").cast("decimal(38,0)")).as("sd2"))
    val seeds = Tables.embeddings(spark, sf).filter(col("vec_id") <= 9)
      .select(col("vec_id").as("cluster"), Vectors.q7(col("embedding")).as("qe"))
    val sep = seeds.as("a")
      .join(broadcast(seeds.select(col("cluster").as("c2"), col("qe").as("qe2")).as("b")),
        col("a.cluster") =!= col("c2"))
      .select(col("a.cluster").as("cluster"),
        Vectors.dist2E14(col("a.qe"), col("qe2")).as("pd2"))
      .groupBy(col("cluster")).agg(min(col("pd2")).as("sep"))
    val cohesion = col("sd2").cast("double") / (col("n").cast("double") * lit(1e14))
    val separation = col("sep").cast("double") / lit(1e14)
    intra.join(sep, "cluster")
      .select(col("cluster"), col("n"),
        (round(cohesion, 4) + lit(0.0)).as("cohesion"),
        (round(separation, 4) + lit(0.0)).as("separation"),
        (round(cohesion / separation, 4) + lit(0.0)).as("ratio"))
      .orderBy("cluster")
  }

  /** Exact AUC of "embedding dim-0 predicts label ≤ 4" via the
    * Mann-Whitney U statistic over a FIXED score lattice: scores bucket
    * to e2 cells (shifted positive first — trunc-vs-floor on negatives
    * differs across engines), the per-bucket (pos, neg) histogram is
    * tiny and bounded by the value range at any corpus size, and
    * 2U = Σ_b pos_b·(2·negBelow_b + neg_b) counts discordant pairs
    * exactly (within-bucket ties at half credit). No global sort, no
    * N² — the rank statistic becomes one histogram + one bounded theta
    * re-sum.
    */
  def q_auc_rank(spark: SparkSession, sf: String): DataFrame = {
    val scored = Tables.embeddings(spark, sf)
      .select(when(col("label") <= 4, 1L).otherwise(0L).as("y"),
        element_at(Vectors.q7(col("embedding")), 1).as("x"))
      .select(col("y"), expr("(x + 1000000000) div 100000").as("b"))
    val hist = scored.groupBy(col("b"))
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val below = hist.as("a")
      .join(hist.select(col("b").as("b2"), col("nn").as("nn2")).as("x"),
        col("b2") < col("a.b"), "left_outer")
      .groupBy(col("a.b").as("b"), col("a.np").as("np"), col("a.nn").as("nn"))
      .agg(coalesce(sum(col("nn2")), lit(0L)).as("below"))
    below
      .agg(
        sum(col("np")).as("p"), sum(col("nn")).as("n"),
        sum(col("np") * (lit(2L) * col("below") + col("nn"))).as("u2"))
      .select(col("p"), col("n"),
        (round(col("u2").cast("double") /
          (lit(2.0) * col("p").cast("double") * col("n").cast("double")), 6)
          + lit(0.0)).as("auc"))
  }

  /** Cold-item coverage per brand (the recsys cold-start report): of the
    * parts ever sold, how many never co-occur with another part in any
    * order — those get no collaborative signal. n_catalog from the part
    * dim, n_sold / n_cooccur from the order-item table, cold share e4.
    */
  def q_coverage_cold_items(spark: SparkSession, sf: String): DataFrame = {
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val basketSize = items.groupBy(col("ok")).agg(count(lit(1)).as("bsz"))
    val partStats = items.join(basketSize, "ok")
      .groupBy(col("pk"))
      .agg(max(when(col("bsz") >= 2, 1L).otherwise(0L)).as("cooccurs"))
    val p = Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))
    p.join(partStats, col("p_partkey") === col("pk"), "left_outer")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_catalog"),
        sum(when(col("pk").isNotNull, 1L).otherwise(0L)).as("n_sold"),
        sum(coalesce(col("cooccurs"), lit(0L))).as("n_cooccur"))
      .select(col("p_brand"), col("n_catalog"), col("n_sold"), col("n_cooccur"),
        expr("CASE WHEN n_sold = 0 THEN -1" +
          " ELSE (n_sold - n_cooccur) * 10000 div n_sold END").as("cold_share_e4"))
      .orderBy("p_brand")
  }

  /** Weight-of-evidence binning of quantity against the 'R' return-flag
    * target (the credit-scoring categorical encoding): quantity deciles
    * against broadcast percentile boundaries, per bin the good/bad
    * counts and WOE = ln((good·BAD)/(bad·GOOD)) on the e4 LN lattice —
    * NULL where a cell is empty (both engines agree on the sentinel).
    */
  def q_woe_binning(spark: SparkSession, sf: String): DataFrame = {
    val v = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("q"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("bad"))
    val bounds = v.agg(percentile(col("q"),
      array((1 to 9).map(i => lit(i / 10.0)): _*)).as("bs"))
    val binned = v.crossJoin(broadcast(bounds))
      .select(expr("1 + size(filter(bs, b -> q > b))").cast("long").as("bin"), col("bad"))
      .groupBy(col("bin"))
      .agg(sum(lit(1L) - col("bad")).as("good"), sum(col("bad")).as("bad"))
    val totals = binned.agg(sum(col("good")).as("tg"), sum(col("bad")).as("tb"))
    binned.crossJoin(broadcast(totals))
      .select(col("bin"), col("good"), col("bad"),
        when(col("good") > 0 && col("bad") > 0,
          round(log((col("good").cast("double") * col("tb").cast("double")) /
            (col("bad").cast("double") * col("tg").cast("double"))) * lit(1e4)).cast("long"))
          .as("woe_e4"))
      .orderBy("bin")
  }

  /** Per-group OLS (the per-segment model fit a feature pipeline runs
    * after pooled regression — the Simpson's-paradox check): slope /
    * intercept / r² of extendedprice ~ quantity per return flag, exact
    * integer sufficient statistics and the identical IEEE epilogue of
    * [[q_linreg_normal]]. Still one partial+final aggregate.
    */
  def q_grouped_regression(spark: SparkSession, sf: String): DataFrame = {
    val sums = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("x"), cents(col("l_extendedprice")).as("y"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val num = nD * col("sxy").cast("double") - sxD * syD
    val denX = nD * col("sxx").cast("double") - sxD * sxD
    sums.select(col("flag"), col("n"),
      (round(num / denX, 4) + lit(0.0)).as("slope"),
      (round((syD - (num / denX) * sxD) / nD, 4) + lit(0.0)).as("intercept"),
      (round((num * num) / (denX * (nD * col("syy").cast("double") - syD * syD)), 4)
        + lit(0.0)).as("r2"))
      .orderBy("flag")
  }

  /** Precision/recall curve for the [[q_auc_rank]] scorer ("embedding
    * dim 0 predicts label ≤ 4") at five score-quantile thresholds:
    * predicted-positive = score ≥ threshold, exact confusion counts per
    * threshold, e4 metrics with −1 sentinels. The thresholds come from
    * one percentile aggregate; the scan then fans out ×5 against the
    * broadcast threshold row — never a per-threshold rescan.
    */
  def q_pr_curve(spark: SparkSession, sf: String): DataFrame = {
    val scored = Tables.embeddings(spark, sf)
      .select(when(col("label") <= 4, 1L).otherwise(0L).as("y"),
        element_at(Vectors.q7(col("embedding")), 1).as("x"))
    val probs = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
    val thr = Relational.latticePercentiles(
        scored.groupBy(col("x").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq(), probs.zipWithIndex.map { case (p, i) => p -> s"t$i" })
      .select(array(probs.indices.map(i => col(s"t$i")): _*).as("ts"))
    scored.crossJoin(broadcast(thr))
      .select(col("y"), col("x"), posexplode(col("ts")).as(Seq("i", "t")))
      .groupBy((col("i") + 1).cast("long").as("threshold_idx"))
      .agg((round(max(col("t")), 4) + lit(0.0)).as("threshold"),
        sum(when(col("x") >= col("t") && col("y") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("x") >= col("t") && col("y") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("x") < col("t") && col("y") === 1L, 1L).otherwise(0L)).as("fn"))
      .select(col("threshold_idx"), col("threshold"), col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp = 0 THEN -1 ELSE tp * 10000 div (tp + fp) END").as("precision_e4"),
        expr("CASE WHEN tp + fn = 0 THEN -1 ELSE tp * 10000 div (tp + fn) END").as("recall_e4"))
      .orderBy("threshold_idx")
  }

  /** Item-item co-occurrence lift (the collaborative-filtering "people
    * who bought X also bought Y" score): for part pairs co-ordered ≥ 2
    * times, lift = P(a,b)/(P(a)·P(b)) as an exact e4 integer —
    * `s12·N·10⁴ div (s1·s2)` over the distinct order-item table. Top-30
    * by (lift desc, pair). The pair space is per-order (bounded by basket
    * size); item supports are a broadcastable dimension at any scale.
    */
  def q_recsys_lift(spark: SparkSession, sf: String): DataFrame = {
    val items = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct())
    val n = items.select(col("ok")).distinct().agg(count(lit(1)).as("n_orders"))
    val support = items.groupBy(col("pk")).agg(count(lit(1)).as("s"))
    // round 9: in-basket pair generation (one shuffle keyed by order +
    // codegen generators) instead of the items×items self-join — same
    // pair multiset (items is (ok, pk)-distinct, so collect_set = the
    // order's exact item set), two fewer shuffles, breadth-guarded
    val pairs = graft.core.Baskets.pairs(
        items.groupBy(col("ok"))
          .agg(array_sort(collect_set(col("pk"))).as("items"))
          .select(graft.core.Guards.boundedBasket(col("items"),
            graft.core.Guards.PairBreadthCap, "q_recsys_lift").as("items")),
        "p1", "p2")
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("s12"))
      .filter(col("s12") >= 2)
    pairs
      .join(broadcast(support.select(col("pk").as("p1"), col("s").as("s1"))), "p1")
      .join(broadcast(support.select(col("pk").as("p2"), col("s").as("s2"))), "p2")
      .crossJoin(broadcast(n))
      .select(col("p1"), col("p2"), col("s12"), col("s1"), col("s2"),
        expr("s12 * n_orders * 10000 div (s1 * s2)").as("lift_e4"))
      .orderBy(col("lift_e4").desc, col("p1").asc, col("p2").asc)
      .limit(30)
  }

  /** Ridge regression (closed form, 2 features, λ=1000, no intercept):
    * solve (XᵀX + λI)w = Xᵀy for y = extended-price cents over features
    * x1 = quantity, x2 = discount percent. One aggregate of six exact
    * integer sufficient statistics (the cross-moment sums in decimal —
    * long would overflow at fleet scale), then the 2×2 closed-form
    * inverse as one fixed IEEE epilogue. The canonical "normal equations
    * by sum-reduction" MapReduce pattern, one job at any data size.
    */
  def q_ridge_normal(spark: SparkSession, sf: String): DataFrame = {
    def dsum(x: Column, y: Column): Column = sum(x.cast("decimal(38,0)") * y)
    val lam = lit(1000.0)
    val s = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("x1"),
        pct(col("l_discount")).as("x2"),
        cents(col("l_extendedprice")).as("z"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("x1"), col("x1")).as("sxx"), dsum(col("x1"), col("x2")).as("sxy"),
        dsum(col("x2"), col("x2")).as("syy"), dsum(col("x1"), col("z")).as("sxz"),
        dsum(col("x2"), col("z")).as("syz"))
    val sxx = col("sxx").cast("double"); val sxy = col("sxy").cast("double")
    val syy = col("syy").cast("double"); val sxz = col("sxz").cast("double")
    val syz = col("syz").cast("double")
    val det = (sxx + lam) * (syy + lam) - sxy * sxy
    s.select(col("n"),
      (round(((syy + lam) * sxz - sxy * syz) / det, 6) + lit(0.0)).as("w1"),
      (round(((sxx + lam) * syz - sxy * sxz) / det, 6) + lit(0.0)).as("w2"))
  }

  /** One K-Means Lloyd iteration, k=10, seeds = vectors 0..9: assignment
    * by exact integer lattice distance (tie → lower seed), per-cluster
    * count and mean squared distance.
    */
  def q_kmeans_step(spark: SparkSession, sf: String): DataFrame = {
    val assigned = kmeansAssign(spark, sf)
    assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("d2")) / (count(lit(1)) * lit(1e14)), 4).as("mean_dist2"))
      .orderBy("cluster")
  }

  /** Iteration-1 assignment shared by step/iter2: (vec_id, cluster, d2).
    * argmin is `min(struct(d2, cluster))` — lexicographic struct ordering
    * gives the tie → lower cluster id rule inside a hash aggregate (partial
    * + final, no per-partition sort like a window would need).
    */
  private def kmeansAssign(spark: SparkSession, sf: String): DataFrame = {
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Vectors.q7(col("embedding")).as("qe"))
    val seeds = all.filter(col("vec_id") <= 9)
      .select(col("vec_id").as("cluster"), col("qe").as("seed_qe"))
    all.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cluster"), Vectors.dist2E14(col("qe"), col("seed_qe")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cluster"))).as("best"))
      .select(col("vec_id"), col("best.cluster").as("cluster"), col("best.d2").as("d2"))
  }

  /** Two unrolled Lloyd iterations: recompute centroids as per-dimension
    * means ROUND(,6) (then re-quantized to an e6 lattice), re-assign, emit
    * iteration-2 cluster sizes.
    *
    * Round 8: the centroid recompute is ONE k-group `graft_vec_sum`
    * aggregate over whole quantized arrays (the q_kmeans_converged round
    * shape — 64× fewer shuffled rows than the former (cluster, dim)
    * posexplode ladder, byte-identical ROUND(ROUND(Σ/(n·1e7),6)·1e6)
    * arithmetic per element), and the iteration-2 re-assignment is the
    * native dist2 argmin against the ≤ k broadcast centroid arrays —
    * one N-row exchange instead of the former N×64-row join + N×k
    * aggregate. The oracle keeps the relational (cluster, dim, value)
    * shape; outputs hash-match at both graded scales.
    */
  def q_kmeans_iter2(spark: SparkSession, sf: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Vectors.q7(col("embedding")).as("qe"))
    val assign1 = kmeansAssign(spark, sf).select(col("vec_id"), col("cluster"))
    val centroids = vecs.join(assign1, "vec_id")
      .groupBy(col("cluster"))
      .agg(graft.functions.GraftFunctions.vecSum(col("qe")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cluster"), expr(
        "transform(s, v -> CAST(ROUND(ROUND(CAST(v AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * 1e7), 6) * 1e6) AS BIGINT))").as("c_e6"))
    // iteration-2 squared distance: Σ(x_e7 − 10·c_e6)² — exact integers
    vecs.crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct(Vectors.dist2E14(col("qe"),
          expr("transform(c_e6, v -> v * 10)")).as("d2"), col("cluster")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("best"))
      .groupBy(col("best.cluster").as("cluster"))
      .agg(count(lit(1)).as("n"))
      .orderBy("cluster")
  }

  /** Lloyd's K-Means run TO CONVERGENCE — the reference's defining
    * chained-iteration semantic ("run MR jobs until the centroids stop
    * moving") as a driver loop, k=10, seeds = vectors 0..9. Stops when no
    * centroid coordinate moves on the e6 lattice (exact fixpoint) or
    * after `maxIter` rounds. A cluster that loses all members keeps its
    * previous centroid, so k stays 10 and the loop is deterministic. No
    * oracle — a convergence LOOP isn't one SQL statement; Round5OpsSpec
    * gates convergence, Lloyd monotonicity, and determinism instead.
    *
    * Plan shape (round 7): the k=10 centroids live on the DRIVER between
    * rounds (k rows — bounded by the op's contract, never by the data,
    * like the ≤5-row language list in [[nbPredict]]), so
    * each Lloyd round is ONE Spark job with ONE aggregate exchange:
    * assignment is a pure projection against the k literal centroid
    * arrays (argmin over k native-codegen dist2 calls — no crossJoin, no
    * per-vec_id shuffle), and the centroid recompute is a k-group
    * `graft_vec_sum` + `count` (element-wise long-array
    * TypedImperativeAggregate — partial-aggregable, map-side combined,
    * no posexplode). The former plan paid a localCheckpoint + three
    * shuffles + an N×dims explode per round — pure orchestration at
    * ~20 rounds (12.9 s isolated at sf0.1, the suite's slowest query).
    * The per-round collect is k rows of k×dims longs; every rounding
    * step (e7 points, e6 centroids ×10, half-up ROUND) stays in Spark
    * expressions, byte-identical to the [[q_kmeans_iter2]] arithmetic,
    * so iterations, assignments and the final table are unchanged.
    *
    * Output: per-cluster size and mean squared distance at the fixpoint,
    * plus the iteration count and convergence flag.
    */
  def q_kmeans_converged(spark: SparkSession, sf: String): DataFrame =
    kmeansConverged(spark, sf, maxIter = 30)

  /** Best-cluster struct (d2, cluster) for column `qe` against driver-held
    * centroids — `array_min` over k structs mirrors the former
    * `min(struct(d2, cluster))` tie-break exactly. */
  private def kmeansBest(cent: Seq[(Long, Array[Long])], qeType: org.apache.spark.sql.types.DataType): Column =
    array_min(array(cent.map { case (cl, ce6) =>
      struct(
        Vectors.dist2E14(col("qe"),
          typedlit(ce6.map(_ * 10L).toSeq).cast(qeType)).as("d2"),
        lit(cl).as("cluster"))
    }: _*))

  /** One Lloyd round's centroid statistics — exposed so PlanShapeSpec can
    * assert the round plan carries exactly ONE exchange (the k-group
    * aggregate; assignment is projection-only). */
  private[graft] def kmeansRoundAgg(vecs: DataFrame,
      cent: Seq[(Long, Array[Long])]): DataFrame =
    vecs
      .select(kmeansBest(cent, vecs.schema("qe").dataType).as("best"), col("qe"))
      .select(col("best.cluster").as("cluster"), col("qe"))
      .groupBy(col("cluster"))
      .agg(graft.functions.GraftFunctions.vecSum(col("qe")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cluster"), expr(
        "transform(s, v -> CAST(ROUND(ROUND(CAST(v AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * 1e7), 6) * 1e6) AS BIGINT))").as("c_new"))

  private[graft] def kmeansConverged(spark: SparkSession, sf: String,
      maxIter: Int): DataFrame = {
    val vecs = Mat.once(Tables.embeddings(spark, sf)
      .select(col("vec_id"), Vectors.q7(col("embedding")).as("qe")))
    val qeType = vecs.schema("qe").dataType
    // seed centroids: same Spark ROUND(x/10) expression as before, k rows
    var cent: Seq[(Long, Array[Long])] = vecs.filter(col("vec_id") <= 9)
      .select(col("vec_id").as("cluster"),
        expr("transform(qe, x -> CAST(ROUND(CAST(x AS DOUBLE) / 10.0D) AS BIGINT))")
          .as("c_e6"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1).toSeq
    var it = 0
    var moved = Long.MaxValue
    while (moved > 0L && it < maxIter) {
      val freshMap = kmeansRoundAgg(vecs, cent).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      // empty cluster keeps its previous centroid; movement = max
      // element-wise lattice shift across clusters (exact long math)
      var worst = 0L
      cent = cent.map { case (cl, old) =>
        freshMap.get(cl) match {
          case Some(nw) =>
            var i = 0
            while (i < old.length) {
              val d = math.abs(nw(i) - old(i))
              if (d > worst) worst = d
              i += 1
            }
            (cl, nw)
          case None => (cl, old)
        }
      }
      moved = worst
      it += 1
    }
    vecs.select(kmeansBest(cent, qeType).as("best"))
      .select(col("best.cluster").as("cluster"), col("best.d2").as("d2"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        (round(sum(col("d2")) / (count(lit(1)) * lit(1e14)), 4) + lit(0.0)).as("mean_dist2"))
      .withColumn("n_iters", lit(it.toLong))
      .withColumn("converged", lit(moved == 0L))
      .orderBy("cluster")
  }

  /** Apriori frequent pair mining: baskets = orders, items = distinct
    * l_partkey per order; pairs (p1<p2) with support ≥ 3, top-30. The
    * threshold is a flat 3 — support does NOT grow with scale factor here
    * (the item universe scales with the data, so max pair support stays ~3
    * at every SF; a scale-proportional threshold empties the output).
    * Pure integer counting — the classic MR pair-emission pattern as one
    * basket aggregate + one pair aggregate.
    */
  def q_apriori_pairs(spark: SparkSession, sf: String): DataFrame = {
    // collect each basket's distinct items once, emit ordered pairs with
    // chained codegen generators (Baskets.pairs) — one shuffle on basket +
    // one on pair, instead of a distinct + self-join (which re-shuffles
    // the item table twice)
    val baskets = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("items"))
      .select(graft.core.Guards.boundedBasket(col("items"),
        graft.core.Guards.PairBreadthCap, "q_apriori_pairs").as("items"))
    graft.core.Baskets.pairs(baskets, "p1", "p2")
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 3L)
      .select(col("p1"), col("p2"), col("support"))
      .orderBy(col("support").desc, col("p1").asc, col("p2").asc)
      .limit(30)
  }

  /** Apriori level 3: frequent item TRIPLES per order basket, support ≥ 2,
    * top-20. Triples are generated inside the sorted basket array (three
    * chained codegen generators over index slices, Baskets.triples —
    * candidate count is bounded by basket breadth³, data-independent), so
    * like [[q_apriori_pairs]] there is exactly one shuffle on the basket
    * key and one on the triple.
    */
  def q_freq_triples(spark: SparkSession, sf: String): DataFrame = {
    val baskets = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("items"))
      .select(graft.core.Guards.boundedBasket(col("items"),
        graft.core.Guards.TripleBreadthCap, "q_freq_triples").as("items"))
    graft.core.Baskets.triples(baskets, "p1", "p2", "p3")
      .groupBy(col("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2L)
      .orderBy(col("support").desc, col("p1").asc, col("p2").asc, col("p3").asc)
      .limit(20)
  }

  /** Sample-ratio-mismatch (SRM) check for the parity A/B assignment:
    * χ² of the two cohort sizes against 50/50 — the guardrail every
    * experiment readout runs FIRST (an SRM invalidates the experiment
    * regardless of the metric). One aggregate, one epilogue.
    */
  def q_srm_check(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.eventsWithTs(spark, sf)
      .select(col("user_id")).distinct()
      .groupBy((col("user_id") % 2).as("cohort"))
      .agg(count(lit(1)).as("n"))
    val p = c.agg(max(when(col("cohort") === 0, col("n"))).as("n0"),
      max(when(col("cohort") === 1, col("n"))).as("n1"))
    val tot = (col("n0") + col("n1")).cast("double")
    val e = tot / lit(2.0)
    val chi2 = (col("n0").cast("double") - e) * (col("n0").cast("double") - e) / e +
      (col("n1").cast("double") - e) * (col("n1").cast("double") - e) / e
    p.select(col("n0"), col("n1"),
      (round(chi2, 6) + lit(0.0)).as("chi2"),
      (chi2 > lit(3.841)).cast("long").as("srm_flag"))
  }

  /** Discount-depth effectiveness: per discount level (exact integer
    * percent) the line count, mean quantity (e4 floor) and revenue — does
    * a deeper discount actually move more units. One aggregate.
    */
  def q_discount_depth(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(pct(col("l_discount")).as("discount_pct"))
      .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity").cast("long")).as("qty"),
        sum(cents(col("l_extendedprice"))).as("rev_cents"))
      .select(col("discount_pct"), col("n_lines"),
        expr("qty * 10000 div n_lines").as("mean_qty_e4"), col("rev_cents"))
      .orderBy("discount_pct")

  /** One-way ANOVA of embedding L2-norm across labels (e3-floored per-row
    * norms — the scale keeps the ×10⁶ between-group lattice inside int64 —
    * exact group stats, F epilogue): "does the embedding norm leak the
    * label", the representation-quality probe.
    */
  def q_norm_anova(spark: SparkSession, sf: String): DataFrame = {
    import graft.ops.{Vectors => V}
    val g = Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("label"),
        floor(sqrt(graft.functions.GraftFunctions
          .dotLong(V.q7(col("embedding")), V.q7(col("embedding"))).cast("double"))
          / lit(10000.0)).cast("long").as("x"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sg2"),
        expr("CAST(SUM(x) AS decimal(38,0)) * SUM(x) * 1000000 div COUNT(1)").as("t_e6"))
    val s = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("sg")).as("sx"), sum(col("sg2")).as("sxx"), sum(col("t_e6")).as("st_e6"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val ssb = col("st_e6").cast("double") / lit(1e6) -
      col("sx").cast("double") * col("sx").cast("double") / nD
    val ssw = col("sxx").cast("double") - col("st_e6").cast("double") / lit(1e6)
    s.select(col("k"), col("n"),
      (round((ssb / (kD - lit(1.0))) / (ssw / (nD - kD)), 4) + lit(0.0)).as("f_stat"))
  }

  /** Association rules for the top-10 co-purchase pairs: support,
    * directional confidences and lift, all exact e4 integer ratios from
    * basket counts (128-bit lift numerator). The step after Apriori that
    * actually ships to a recommender; one basket pass, one pair pass,
    * broadcast item supports.
    */
  def q_rule_confidence(spark: SparkSession, sf: String): DataFrame = {
    val baskets = Mat.once(Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("items"))
      .select(graft.core.Guards.boundedBasket(col("items"),
        graft.core.Guards.PairBreadthCap, "q_rule_confidence").as("items")))
    val nB = baskets.agg(count(lit(1)).as("nb"))
    val itemSup = baskets.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("sup"))
    val pairSup = graft.core.Baskets.pairs(baskets, "p1", "p2")
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("sup_ab"))
      .filter(col("sup_ab") >= 2)
    pairSup
      .join(broadcast(itemSup.select(col("item").as("p1"), col("sup").as("sup_a"))), "p1")
      .join(broadcast(itemSup.select(col("item").as("p2"), col("sup").as("sup_b"))), "p2")
      .crossJoin(broadcast(nB))
      .select(col("p1"), col("p2"), col("sup_ab"), col("sup_a"), col("sup_b"),
        expr("sup_ab * 10000 div sup_a").as("conf_ab_e4"),
        expr("sup_ab * 10000 div sup_b").as("conf_ba_e4"),
        expr("CAST(CAST(sup_ab AS decimal(38,0)) * nb * 10000" +
          " div (CAST(sup_a AS decimal(38,0)) * sup_b) AS BIGINT)").as("lift_e4"))
      .orderBy(col("sup_ab").desc, col("p1").asc, col("p2").asc)
      .limit(10)
  }

  /** Medoid search over the first 50 vectors: the points minimizing total
    * distance to the rest of the block (e8-floored per-pair distances,
    * exact integer totals, top-3 ascending). The k-medoids seeding step,
    * as one bounded block pair join.
    */
  def q_medoid_sample(spark: SparkSession, sf: String): DataFrame = {
    import graft.ops.{Vectors => V}
    val block = Tables.embeddings(spark, sf).filter(col("vec_id") < 50)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        V.q7(col("embedding")).as("qe"))
    block.as("a")
      .join(block.select(col("vec_id").as("oid"), col("qe").as("o_qe")).as("b"),
        col("a.vec_id") =!= col("oid"))
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        graft.functions.GraftFunctions.dist2Long(col("a.qe"), col("o_qe")).as("d2"))
      .select(col("vec_id"), col("label"), expr("d2 div 1000000").as("d2_e8"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("d2_e8")).as("total_d2_e8"))
      .orderBy(col("total_d2_e8").asc, col("vec_id").asc)
      .limit(3)
  }

  /** Elbow (inertia) curve for k = 1..4: every vector assigned to the
    * nearest of the first k embeddings (fixed D5 seeds), inertia = Σ of
    * per-row e8-floored squared distances — exact integers at any corpus
    * size. One broadcast of ≤4 seed vectors, one scan per k fanned out of
    * the same assignment table; the model-selection readout before a
    * full k-means run.
    */
  def q_elbow_inertia(spark: SparkSession, sf: String): DataFrame = {
    import graft.ops.{Vectors => V}
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), V.q7(col("embedding")).as("qe"))
    val seeds = all.filter(col("vec_id") < 4)
      .select(col("vec_id").as("sid"), col("qe").as("s_qe"))
    val d = all.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("sid"),
        graft.functions.GraftFunctions.dist2Long(col("qe"), col("s_qe")).as("d2"))
    Seq(1L, 2L, 3L, 4L).map { k =>
      d.filter(col("sid") < k)
        .groupBy(col("vec_id"))
        .agg(min(col("d2")).as("best"))
        .agg(lit(k).as("k"), count(lit(1)).as("n"),
          sum(expr("best div 1000000")).as("inertia_e8"))
    }.reduce(_.unionByName(_)).orderBy("k")
  }

  /** Learning curve: OLS slope/R² of price~quantity on nested hash
    * subsets (10/20/40/80/100% by md5 of the full row key — duplicates
    * hash together, which only means they enter the same subset). The
    * "does more data still help" diagnostic; each point is the same
    * one-pass exact-sums regression on a filtered scan.
    */
  def q_learning_curve(spark: SparkSession, sf: String): DataFrame = {
    val h = graft.core.Det.hash32(concat_ws("_", col("l_orderkey"),
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity")))
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("x"),
        cents(col("l_extendedprice")).as("y"), (h % 100).as("bucket"))
      .select(col("x"), col("y"), explode(expr("array(10, 20, 40, 80, 100)")).as("p"),
        col("bucket"))
      .filter(col("bucket") < col("p"))
    val sums = rows.groupBy(col("p").cast("long").as("pct"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val dx = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val dy = nD * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    sums.select(col("pct"), col("n"),
      (round(num / dx, 4) + lit(0.0)).as("slope"),
      (round(num * num / (dx * dy), 4) + lit(0.0)).as("r2"))
      .orderBy("pct")
  }

  /** Deterministic permutation test: the observed even/odd-user gap in
    * mean purchase value beside ten hash-permuted cohort assignments
    * (md5(user·16+replica) parity). Every replica is one filtered-scan
    * aggregate over the same per-user table; the observed row is replica
    * −1. Exceedance counting is the reader's one-liner.
    */
  def q_permutation_test(spark: SparkSession, sf: String): DataFrame = {
    val perUser = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("s"))
    val reps = perUser
      .select(col("user_id"), col("n"), col("s"),
        explode(expr("sequence(-1, 9)")).as("r"))
      .withColumn("cohort",
        when(col("r") === -1L, col("user_id") % 2)
          .otherwise(graft.core.Det.hash32(col("user_id") * 16 + col("r")) % 2))
    reps.groupBy(col("r").cast("long").as("replica"))
      .agg(
        sum(when(col("cohort") === 0, col("s")).otherwise(0L)).as("s0"),
        sum(when(col("cohort") === 0, col("n")).otherwise(0L)).as("n0"),
        sum(when(col("cohort") === 1, col("s")).otherwise(0L)).as("s1"),
        sum(when(col("cohort") === 1, col("n")).otherwise(0L)).as("n1"))
      .select(col("replica"), col("n0"), col("n1"),
        (round(col("s0").cast("double") / col("n0").cast("double") -
          col("s1").cast("double") / col("n1").cast("double"), 4) + lit(0.0))
          .as("mean_diff_cents"))
      .orderBy("replica")
  }

  /** ANOVA post-hoc pairwise z-scores between return flags on extended
    * price: per-pair mean difference over pooled standard error, straight
    * from the 3-row exact-stats aggregate (theta self-join on flag order).
    */
  def q_anova_posthoc(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), cents(col("l_extendedprice")).as("v"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(expr("CAST(v AS decimal(38,0)) * v")).as("ss"))
    def m(p: String) = col(s"$p.s").cast("double") / col(s"$p.n").cast("double")
    def v(p: String) =
      (col(s"$p.ss").cast("double") -
        col(s"$p.s").cast("double") * col(s"$p.s").cast("double") / col(s"$p.n").cast("double")) /
        (col(s"$p.n").cast("double") - lit(1.0))
    g.as("a").join(g.as("b"), col("a.flag") < col("b.flag"))
      .select(col("a.flag").as("flag1"), col("b.flag").as("flag2"),
        col("a.n").as("n1"), col("b.n").as("n2"),
        (round((m("a") - m("b")) /
          sqrt(v("a") / col("a.n").cast("double") + v("b") / col("b.n").cast("double")), 4)
          + lit(0.0)).as("z"))
      .orderBy("flag1", "flag2")
  }

  /** Log-log price elasticity per part brand: regress y = ln(quantity) on
    * x = ln(unit price) — both rounded to e6 integer lattices per row, so
    * the sufficient statistics are order-free integer/decimal sums; the
    * OLS slope (= elasticity) is one IEEE epilogue over double-cast sums.
    * Same one-shuffle shape as [[q_grouped_regression]], plus the log
    * lattice that makes the slope a unit-free elasticity.
    */
  def q_price_elasticity(spark: SparkSession, sf: String): DataFrame = {
    val sums = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        round(log(cents(col("l_extendedprice")).cast("double") /
          col("l_quantity").cast("double")) * lit(1e6)).cast("long").as("x"),
        round(log(col("l_quantity").cast("double")) * lit(1e6)).cast("long").as("y"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val num = nD * col("sxy").cast("double") - sxD * syD
    val den = nD * col("sxx").cast("double") - sxD * sxD
    sums.select(col("brand"), col("n"),
      (round(num / den, 6) + lit(0.0)).as("elasticity"),
      (round((syD - (num / den) * sxD) / nD / lit(1e6), 6) + lit(0.0))
        .as("intercept_ln"))
      .orderBy("brand")
  }

  /** Probability-calibration (reliability-diagram) bins: a deterministic
    * scoring function — soft-sign squash p = ½ + s/(2(1+|s|)) of the exact
    * e7 margin Σ(qe[1..8]) — is binned into 10 equal-width probability
    * buckets; per bin the count, floor-mean predicted probability, and
    * observed odd-label rate, all on e6 integer lattices (each row's p is
    * rounded e6 BEFORE the order-free integer sum). The squash is
    * algebraic (+,*,/,abs only), so both engines compute the identical
    * IEEE value — no libm exp() to drift. One scan, 10-row aggregate.
    */
  def q_calibration_bins(spark: SparkSession, sf: String): DataFrame = {
    val s = col("s_e7").cast("double") / lit(1e7)
    val p = lit(0.5) + s / (lit(2.0) * (lit(1.0) + abs(s)))
    Tables.embeddings(spark, sf)
      .select(col("label"),
        expr("aggregate(transform(slice(embedding, 1, 8)," +
          " v -> CAST(ROUND(CAST(v AS DOUBLE) * 1e7) AS BIGINT))," +
          " CAST(0 AS BIGINT), (a, x) -> a + x)").as("s_e7"))
      .select(col("label"), round(p * lit(1e6)).cast("long").as("p_e6"))
      .select(col("label"), col("p_e6"),
        least(lit(9L), expr("p_e6 div 100000")).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p_e6")).as("sp"),
        sum(when(col("label") % 2 === 1, 1L).otherwise(0L)).as("n_pos"))
      .select(col("bin"), col("n"),
        expr("sp div n").as("mean_pred_e6"),
        expr("n_pos * 1000000 div n").as("pos_rate_e6"))
      .orderBy("bin")
  }

  /** Decile lift table — the classic scorecard readout: customers bucketed
    * into score deciles by the nine exact score percentiles (decile 1 =
    * top scores; broadcast-bounds bucketing, the same 100 TB shape as the
    * equi-depth histogram — no global NTILE sort anywhere), outcome =
    * lifetime spend above the global median. Per decile the positive rate
    * and cumulative lift as exact integer e6 ratios; the 10-row cumulative
    * is a theta self-join on the aggregate, not a partition-less window.
    */
  def q_decile_lift(spark: SparkSession, sf: String): DataFrame = {
    val spend = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("spend"))
    val med = Relational.latticePercentiles(
        spend.groupBy(col("spend").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq(), Seq(0.5 -> "m"))
      .select(col("m"))
    val scored = Tables.customer(spark, sf)
      .select(col("c_custkey"), cents(col("c_acctbal")).as("score"))
    val bounds = Relational.latticePercentiles(
        scored.groupBy(col("score").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq(), (1 to 9).map(i => i / 10.0 -> s"d$i"))
      .select(array((1 to 9).map(i => col(s"d$i")): _*).as("bounds"))
    // ≤10 rows; materialized because THREE consumers fan out below
    // (the cumulative self-join's two sides + the totals row) — lazy,
    // each would re-evaluate the whole scored⋈spend⋈percentile
    // pipeline, tripling the work and planning a 194-Exchange tree
    // (round 10 plan audit; guide §2.4 repeated-subtree)
    val dec = Mat.once(scored
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .crossJoin(broadcast(med))
      .crossJoin(broadcast(bounds))
      .select(
        expr("10 - size(filter(bounds, b -> score > b))").cast("long").as("decile"),
        when(coalesce(col("spend"), lit(0L)).cast("double") > col("m"), 1L)
          .otherwise(0L).as("pos"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos")))
    val tot = dec.agg(sum(col("n")).as("tot_n"), sum(col("n_pos")).as("tot_pos"))
    dec.as("a")
      .join(dec.select(col("decile").as("d2"), col("n").as("n2"),
        col("n_pos").as("p2")).as("b"), col("b.d2") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"), col("a.n").as("n"),
        col("a.n_pos").as("n_pos"))
      .agg(sum(col("b.n2")).as("cum_n"), sum(col("b.p2")).as("cum_pos"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 div n").as("rate_e6"),
        expr("cum_pos * tot_n * 1000000 div (cum_n * tot_pos)").as("cum_lift_e6"))
      .orderBy("decile")
  }

  /** Inter-rater agreement between two deterministic document "raters"
    * (A: length ≥ 30 tokens; B: type-token ratio ≥ 0.5): the 2×2
    * confusion as exact counts plus Cohen's κ (chance-corrected
    * agreement) and the Matthews correlation coefficient — the two
    * standard agreement metrics a labeling pipeline reports before
    * trusting auto-labels. Counts are one map-side-combinable aggregate;
    * the epilogues are fixed IEEE trees over the four BIGINT cells.
    */
  def q_rater_agreement(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(
        (size(split(col("text"), " ")) >= 30).cast("long").as("a"),
        (size(array_distinct(split(col("text"), " "))) * 2 >=
          size(split(col("text"), " "))).cast("long").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        (round(expr(
          """((CAST(n11 AS DOUBLE) + CAST(n00 AS DOUBLE)) / CAST(n AS DOUBLE)
              - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                 + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             / (1.0 - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                 + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"""), 6) + lit(0.0))
          .as("kappa"),
        (round(expr(
          """(CAST(n11 AS DOUBLE) * CAST(n00 AS DOUBLE)
              - CAST(n10 AS DOUBLE) * CAST(n01 AS DOUBLE))
             / SQRT(CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                    * CAST(n00 + n10 AS DOUBLE) * CAST(n00 + n01 AS DOUBLE))"""),
          6) + lit(0.0)).as("mcc"))

  /** Kendall's τ-b between per-brand total revenue and total quantity:
    * exact concordant / discordant / tied pair counts from the 25-brand
    * aggregate's self-join (300 pairs — the O(G²) is on groups, never on
    * rows), τ-b epilogue in double. The rank-based sibling of the
    * Spearman query: τ is what survives heavy ties and tiny G.
    */
  def q_kendall_tau(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("x"),
        sum(col("l_quantity").cast("long")).as("y"))
    val pairs = g.as("a")
      .join(g.select(col("brand").as("b2"), col("x").as("x2"), col("y").as("y2")).as("b"),
        col("a.brand") < col("b.b2"))
    pairs
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("x") < col("x2") && col("y") < col("y2")) ||
          (col("x") > col("x2") && col("y") > col("y2")), 1L).otherwise(0L)).as("concordant"),
        sum(when((col("x") < col("x2") && col("y") > col("y2")) ||
          (col("x") > col("x2") && col("y") < col("y2")), 1L).otherwise(0L)).as("discordant"),
        sum(when(col("x") === col("x2") && col("y") =!= col("y2"), 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("y") === col("y2") && col("x") =!= col("x2"), 1L).otherwise(0L)).as("ties_y"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        (round(expr(
          """(CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
             / SQRT(CAST(concordant + discordant + ties_x AS DOUBLE)
                    * CAST(concordant + discordant + ties_y AS DOUBLE))"""),
          6) + lit(0.0)).as("tau_b"))
  }

  /** Brown-Forsythe (median-based Levene) test of variance homogeneity of
    * event value across the 5 event types. |x − group median| doubled is
    * an exact integer (cents are integers, the interpolated median is a
    * half-integer), so the spread scores aggregate exactly; the W
    * statistic (one-way ANOVA on the scores) is a fixed IEEE epilogue
    * over BIGINT sums. W ≫ F-crit ≈ 2.37 (k−1=4, large N) ⇒ the types'
    * value spreads genuinely differ — the gate before pooling variances.
    */
  def q_levene_test(spark: SparkSession, sf: String): DataFrame = {
    val vals = Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("vc"))
    val med = Relational.latticePercentile(
        vals.groupBy(col("event_type"), col("vc").as("pc")).agg(count(lit(1)).as("cnt")),
        "event_type", 0.5, "med")
      .select(col("event_type"), col("med"))
    val z = vals.join(broadcast(med), "event_type")
      .select(col("event_type"),
        round(abs(col("vc").cast("double") - col("med")) * 2).cast("long").as("z2"))
    val grp = z.groupBy(col("event_type"))
      .agg(count(lit(1)).as("ni"), sum(col("z2")).as("si"),
        sum(col("z2") * col("z2")).as("qi"))
    grp
      .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
        sum(col("si")).as("s"),
        sum(expr("CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)")).as("bsum"),
        sum(expr("CAST(qi AS DOUBLE) - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)" +
          " / CAST(ni AS DOUBLE)")).as("wsum"))
      .select(col("k").as("k_groups"), col("n").as("n_total"),
        (round(expr(
          """(CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))
             * (bsum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / wsum"""),
          6) + lit(0.0)).as("w_stat"))
      .select(col("k_groups"), col("n_total"), col("w_stat"),
        when(col("w_stat") > 2.372, 1L).otherwise(0L).as("heteroscedastic"))
  }

  /** Partial correlation: does per-user view count correlate with
    * purchase spend once error count is controlled for? All three
    * pairwise Pearsons come from ONE pass of exact BIGINT sufficient
    * statistics over the 150-user aggregate; the partial-r epilogue
    * r_xy·z = (r_xy − r_xz r_yz)/√((1−r_xz²)(1−r_yz²)) is computed from
    * the already-rounded pairwise r columns so both engines feed it
    * identical doubles.
    */
  def q_partial_correlation(spark: SparkSession, sf: String): DataFrame = {
    val u = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L)).as("y"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("z"))
    def r(a: String, b: String, sab: String): String =
      s"""(CAST(n AS DOUBLE) * CAST($sab AS DOUBLE) - CAST(s$a AS DOUBLE) * CAST(s$b AS DOUBLE))
          / (SQRT(CAST(n AS DOUBLE) * CAST(s$a$a AS DOUBLE) - CAST(s$a AS DOUBLE) * CAST(s$a AS DOUBLE))
             * SQRT(CAST(n AS DOUBLE) * CAST(s$b$b AS DOUBLE) - CAST(s$b AS DOUBLE) * CAST(s$b AS DOUBLE)))"""
    u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("z")).as("sz"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"), sum(col("y") * col("z")).as("syz"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"))
      .select(col("n").as("n_users"),
        (round(expr(r("x", "y", "sxy")), 6) + lit(0.0)).as("r_xy"),
        (round(expr(r("x", "z", "sxz")), 6) + lit(0.0)).as("r_xz"),
        (round(expr(r("y", "z", "syz")), 6) + lit(0.0)).as("r_yz"))
      .select(col("n_users"), col("r_xy"), col("r_xz"), col("r_yz"),
        (round(expr("(r_xy - r_xz * r_yz) / SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))"),
          6) + lit(0.0)).as("partial_r_xy_z"))
  }

  /** Two rounds of gradient-boosted regression stumps for retail price ~
    * size: round 1 fits the best variance-reducing threshold on the
    * size-histogram's cumulative sums (the regression twin of
    * q_tree_split), round 2 refits on the integer-cent residuals against
    * round 1's floor-cent leaf means. Everything until the SSE epilogue
    * is exact BIGINT; the argmin is a deterministic (sse, threshold)
    * sort. The additive-ensemble recursion is what distinguishes this
    * from the single-stump query.
    */
  def q_boosting_stump(spark: SparkSession, sf: String): DataFrame = {
    def bestSplit(d: DataFrame, rnd: Long): DataFrame = {
      // d: (f feature value, yv target) rows
      val h = d.groupBy(col("f"))
        .agg(count(lit(1)).as("cn"), sum(col("yv")).as("cy"),
          sum(col("yv") * col("yv")).as("cyy"))
      val tot = h.agg(sum(col("cn")).as("tn"), sum(col("cy")).as("ty"),
        sum(col("cyy")).as("tyy"))
      // cumulative sums over the ~50-row size histogram via bounded theta
      // join (house rule: no partition-less windows), like q_tree_split
      Mat.once(h.as("t")
        .join(h.select(col("f").as("f2"), col("cn").as("cn2"), col("cy").as("cy2"),
          col("cyy").as("cyy2")).as("s"), col("s.f2") <= col("t.f"))
        .groupBy(col("t.f").as("f"))
        .agg(sum(col("cn2")).as("ln"), sum(col("cy2")).as("ly"), sum(col("cyy2")).as("lyy"))
        .crossJoin(broadcast(tot))
        .filter(col("ln") < col("tn")) // a split must leave a non-empty right side
        .select(lit(rnd).as("round"), col("f").as("threshold"),
          col("ln").as("n_left"), (col("tn") - col("ln")).as("n_right"),
          col("ly"), (col("ty") - col("ly")).as("ry"), col("lyy"),
          (col("tyy") - col("lyy")).as("ryy"))
        .select(col("round"), col("threshold"), col("n_left"), col("n_right"),
          col("ly"), col("ry"),
          (round(expr(
            """(CAST(lyy AS DOUBLE) - CAST(ly AS DOUBLE) * CAST(ly AS DOUBLE) / CAST(n_left AS DOUBLE))
               + (CAST(ryy AS DOUBLE) - CAST(ry AS DOUBLE) * CAST(ry AS DOUBLE) / CAST(n_right AS DOUBLE))"""),
            4) + lit(0.0)).as("sse"))
        .orderBy(col("sse").asc, col("threshold").asc).limit(1))
    }
    val base = Tables.part(spark, sf)
      .select(col("p_size").cast("long").as("f"), cents(col("p_retailprice")).as("yv"))
    val s1 = bestSplit(base, 1L)
    // residuals against round 1's floor-cent leaf means (exact integers)
    val resid = base.crossJoin(broadcast(s1.select(col("threshold").as("t1"),
      expr("ly div n_left").as("ml"), expr("ry div n_right").as("mr"))))
      .select(col("f"),
        (col("yv") - when(col("f") <= col("t1"), col("ml")).otherwise(col("mr"))).as("yv"))
    val s2 = bestSplit(resid, 2L)
    s1.unionByName(s2)
      .select(col("round"), col("threshold"), col("n_left"), col("n_right"),
        (round(col("ly").cast("double") / col("n_left").cast("double"), 4) + lit(0.0))
          .as("mean_left"),
        (round(col("ry").cast("double") / col("n_right").cast("double"), 4) + lit(0.0))
          .as("mean_right"),
        col("sse"))
      .orderBy("round")
  }

  /** Adjusted standardized residuals of the segment × priority
    * contingency table: which cells drive the χ² — (o−e)/√(e(1−rᵢ/n)
    * (1−cⱼ/n)) per cell, the diagnostic read after a significant
    * independence test. Counts and margins are exact; the per-cell
    * epilogue is one fixed IEEE tree.
    */
  def q_chi2_residuals(spark: SparkSession, sf: String): DataFrame = {
    val cells = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment"))), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("o"))
    val rm = cells.groupBy(col("segment")).agg(sum(col("o")).as("ri"))
    val cm = cells.groupBy(col("priority")).agg(sum(col("o")).as("cj"))
    val n = cells.agg(sum(col("o")).as("n"))
    cells.join(broadcast(rm), "segment").join(broadcast(cm), "priority")
      .crossJoin(broadcast(n))
      .select(col("segment"), col("priority"), col("o"),
        (round(expr("CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE)"), 4)
          + lit(0.0)).as("expected"),
        (round(expr(
          """(CAST(o AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))
             / SQRT(CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE)
                    * (1.0 - CAST(ri AS DOUBLE) / CAST(n AS DOUBLE))
                    * (1.0 - CAST(cj AS DOUBLE) / CAST(n AS DOUBLE)))"""),
          4) + lit(0.0)).as("adj_residual"))
      .orderBy("segment", "priority")
  }

  /** CUPED variance reduction: per user, pre-period (Jan 1-15) value is
    * the covariate x, experiment-period (Jan 16+) value the metric y.
    * θ = cov(x,y)/var(x) and the achievable variance reduction ρ² are one
    * epilogue over exact BIGINT sums — the standard pre-experiment check
    * "is the covariate worth wiring into the assignment pipeline".
    */
  def q_cuped(spark: SparkSession, sf: String): DataFrame = {
    val cut = lit("2024-01-16").cast("date")
    val u = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(sum(when(to_date(col("ts_us")) < cut, cents(col("value"))).otherwise(0L)).as("x"),
        sum(when(to_date(col("ts_us")) >= cut, cents(col("value"))).otherwise(0L)).as("y"))
    u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_users"),
        expr("CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)")
          .as("cv"),
        expr("CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)")
          .as("vx"),
        expr("CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)")
          .as("vy"))
      .select(col("n_users"),
        (round(expr("cv / vx"), 6) + lit(0.0)).as("theta"),
        (round(expr("cv * cv / (vx * vy)"), 6) + lit(0.0)).as("variance_reduction"))
  }

  /** Instrumental-variable (Wald/2SLS single-instrument) estimate of the
    * click → purchase-spend effect, instrumented by per-user signup
    * count: β_IV = cov(z,y)/cov(z,x), reported next to the naive OLS β
    * and the first-stage correlation (instrument strength). One pass of
    * exact sufficient statistics, three fixed epilogues.
    */
  def q_iv_estimate(spark: SparkSession, sf: String): DataFrame = {
    val u = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L)).as("y"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("z"))
    u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("z")).as("sz"), sum(col("x") * col("y")).as("sxy"),
      sum(col("z") * col("y")).as("szy"), sum(col("z") * col("x")).as("szx"),
      sum(col("x") * col("x")).as("sxx"), sum(col("z") * col("z")).as("szz"))
      .select(col("n").as("n_users"),
        (round(expr(
          """(CAST(n AS DOUBLE) * CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(szx AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sx AS DOUBLE))"""),
          6) + lit(0.0)).as("beta_iv"),
        (round(expr(
          """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""),
          6) + lit(0.0)).as("beta_ols"),
        (round(expr(
          """(CAST(n AS DOUBLE) * CAST(szx AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sx AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"""),
          6) + lit(0.0)).as("first_stage_r"))
  }

  /** Sequential probability ratio test on the daily purchase share
    * (H0 p=0.18 vs H1 p=0.22, A/B error 5%): the cumulative log-
    * likelihood ratio walks day by day (one ordered running-sum window
    * over the 30-row daily table) and each day is labeled
    * accept_h1 / accept_h0 / continue against the ±ln(19) Wald bounds —
    * the always-valid sequential monitor an experimentation platform
    * runs instead of a fixed-horizon test.
    */
  def q_sprt_boundary(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(to_date(col("ts_us")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("s"))
    // cumulative via bounded theta join over the ~30-row daily table — the
    // house rule bans partition-less windows even on tiny aggregates
    daily.as("t")
      .join(daily.select(col("day").as("d2"), col("n").as("n2"), col("s").as("s2")).as("p"),
        col("p.d2") <= col("t.day"))
      .groupBy(col("t.day").as("day"))
      .agg(sum(col("s2")).as("cum_s"), sum(col("n2")).as("cum_n"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("cum_s"), col("cum_n"),
        // pre-rounded LLR weights (ln(p1/p0), ln(q1/q0)): live engine ln()
        // differs by an ulp between JVM and C libm and the error amplifies
        // by cum_n — platforms precompute these constants anyway
        (round(expr(
          """CAST(cum_s AS DOUBLE) * 0.2006707
             + CAST(cum_n - cum_s AS DOUBLE) * (-0.0500104)"""), 4) + lit(0.0)).as("llr"))
      .select(col("day"), col("cum_s"), col("cum_n"), col("llr"),
        when(col("llr") > 2.9444, "accept_h1")
          .when(col("llr") < -2.9444, "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy("day")
  }

  /** Wilson 95% score interval for the urgent-order share per market
    * segment — the interval that behaves at extreme p̂ and small n where
    * the naive Wald interval collapses. Exact counts, one fixed epilogue
    * per segment.
    */
  def q_wilson_ci(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment"))), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("s"))
      .select(col("segment"), col("n"), col("s"),
        (round(expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"), 6) + lit(0.0)).as("p_hat"),
        (round(expr(
          """(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 3.8416 / (2.0 * CAST(n AS DOUBLE))
              - 1.96 * SQRT((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                            * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                            + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + 3.8416 / CAST(n AS DOUBLE))"""), 6) + lit(0.0)).as("wilson_lo"),
        (round(expr(
          """(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 3.8416 / (2.0 * CAST(n AS DOUBLE))
              + 1.96 * SQRT((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                            * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                            + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + 3.8416 / CAST(n AS DOUBLE))"""), 6) + lit(0.0)).as("wilson_hi"))
      .orderBy("segment")

  /** Beta-Bernoulli posterior per event type for P(value > $100) from a
    * uniform Beta(1,1) prior: posterior (α, β), the EXACT e6 floor
    * posterior mean, and a normal-approximation 95% credible interval —
    * conjugate Bayesian updating as a one-aggregate query.
    */
  def q_beta_posterior(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(cents(col("value")) > 10000L, 1L).otherwise(0L)).as("s"))
      .select(col("event_type"), (col("s") + 1L).as("alpha"),
        (col("n") - col("s") + 1L).as("beta"),
        expr("(s + 1) * 1000000 div (n + 2)").as("post_mean_e6"),
        (round(expr(
          """CAST(s + 1 AS DOUBLE) / CAST(n + 2 AS DOUBLE)
             - 1.96 * SQRT(CAST(s + 1 AS DOUBLE) * CAST(n - s + 1 AS DOUBLE)
                           / (CAST(n + 2 AS DOUBLE) * CAST(n + 2 AS DOUBLE) * CAST(n + 3 AS DOUBLE)))"""),
          6) + lit(0.0)).as("ci_lo"),
        (round(expr(
          """CAST(s + 1 AS DOUBLE) / CAST(n + 2 AS DOUBLE)
             + 1.96 * SQRT(CAST(s + 1 AS DOUBLE) * CAST(n - s + 1 AS DOUBLE)
                           / (CAST(n + 2 AS DOUBLE) * CAST(n + 2 AS DOUBLE) * CAST(n + 3 AS DOUBLE)))"""),
          6) + lit(0.0)).as("ci_hi"))
      .orderBy("event_type")

  /** Three unrolled generalized-ESD rounds on error-event values: each
    * round recomputes exact sufficient statistics on the remaining data,
    * extracts the max-|z| observation (argmax over one fixed IEEE z tree,
    * event_id tie-break), and compares its R statistic against the
    * round's critical value (α=0.05 literals). The iterative re-fit is
    * what distinguishes ESD from a one-shot z-score screen: a masked
    * second outlier surfaces once the first is removed.
    */
  def q_esd_outliers(spark: SparkSession, sf: String): DataFrame = {
    val lambdas = Seq(3.02, 3.01, 3.01)
    var remaining = Mat.once(Tables.eventsWithTs(spark, sf)
      .filter(col("event_type") === "error")
      .select(col("event_id"), cents(col("value")).as("vc")))
    var out: DataFrame = null
    for (r <- 1 to 3) {
      val st = remaining.agg(count(lit(1)).as("n"), sum(col("vc")).as("s"),
        sum(col("vc") * col("vc")).as("q"))
      val top = Mat.once(remaining.crossJoin(broadcast(st))
        .select(col("event_id"), col("vc"), col("n"),
          expr(
            """ABS(CAST(vc AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / SQRT((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n - 1 AS DOUBLE))""").as("z"))
        .orderBy(col("z").desc, col("event_id").asc).limit(1)
        .select(lit(r.toLong).as("round"), col("event_id"), col("vc").as("value_cents"),
          col("n").as("n_remaining"), (round(col("z"), 4) + lit(0.0)).as("r_stat"),
          lit(lambdas(r - 1)).as("lambda_crit"),
          when(col("z") > lambdas(r - 1), 1L).otherwise(0L).as("is_outlier")))
      out = if (out == null) top else out.unionByName(top)
      remaining = Mat.once(remaining
        .join(top.select(col("event_id")), Seq("event_id"), "left_anti"))
    }
    out.orderBy("round")
  }

  /** Hill estimator of the order-value tail index: α̂ = k / Σln(xᵢ/x₍k₊₁₎)
    * over the k=100 largest order totals. Each per-row ln is floored onto
    * an e9 integer lattice so the sum is order-independent; the final α̂
    * is one scalar epilogue. α̂ ≈ how heavy the revenue tail is — the
    * number that decides whether mean-based capacity planning is safe.
    */
  def q_hill_tail_index(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
      .select(cents(col("o_totalprice")).as("tp"), col("o_orderkey"))
    val top100 = o.orderBy(col("tp").desc, col("o_orderkey").asc).limit(100)
    // x_(k+1): min of the top-101 (ties across the boundary contribute
    // ln(1)=0 to the sum, the standard Hill convention)
    val xk = o.orderBy(col("tp").desc, col("o_orderkey").asc).limit(101)
      .agg(min(col("tp")).as("xk"))
    top100.crossJoin(broadcast(xk))
      .select(col("tp"), col("xk"),
        floor(log(col("tp").cast("double") / col("xk").cast("double")) * 1e9)
          .cast("long").as("ln_e9"))
      .agg(count(lit(1)).as("k"), max(col("xk")).as("xk_cents"),
        sum(col("ln_e9")).as("sum_ln_e9"))
      .select(col("k"), col("xk_cents"), col("sum_ln_e9"),
        (round(expr("CAST(k AS DOUBLE) * 1e9 / CAST(sum_ln_e9 AS DOUBLE)"), 4) + lit(0.0))
          .as("hill_alpha"))
  }

  /** ECOD-style tail outlier score: per event type the two-sided
    * empirical tail probability of each value (ties-inclusive RANGE
    * frames, so both engines count identically), score = −ln of the
    * smaller tail; the 10 most extreme observations. No distribution
    * assumptions, no parameters — the ECDF is the model.
    */
  def q_ecod_outlier(spark: SparkSession, sf: String): DataFrame = {
    val wLe = Window.partitionBy(col("event_type")).orderBy(col("vc").asc)
      .rangeBetween(Window.unboundedPreceding, 0)
    val wGe = Window.partitionBy(col("event_type")).orderBy(col("vc").desc)
      .rangeBetween(Window.unboundedPreceding, 0)
    val wN = Window.partitionBy(col("event_type"))
    Tables.eventsWithTs(spark, sf)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("vc"))
      .withColumn("c_le", count(lit(1)).over(wLe))
      .withColumn("c_ge", count(lit(1)).over(wGe))
      .withColumn("n", count(lit(1)).over(wN))
      .select(col("event_id"), col("event_type"), col("vc"),
        (round(expr(
          """-ln(CAST(LEAST(c_le, c_ge) AS DOUBLE) / CAST(n AS DOUBLE))"""), 4)
          + lit(0.0)).as("tail_score"))
      .orderBy(col("tail_score").desc, col("event_id").asc)
      .limit(10)
  }

  /** Regression leverage profile: h(x) = 1/n + (x−x̄)²/Sxx for each
    * distinct quantity value in the price~quantity regression, with the
    * standard 2(p+1)/n influence flag — which x-values could single-
    * handedly steer the fit. Leverage depends only on x, so the profile
    * is a ~50-row epilogue over one pass of exact sums.
    */
  def q_leverage_points(spark: SparkSession, sf: String): DataFrame = {
    val xs = Tables.lineitem(spark, sf).select(col("l_quantity").cast("long").as("x"))
    val st = xs.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"))
    xs.groupBy(col("x")).agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(st))
      .select(col("x"), col("n_rows"), col("n"),
        (round(expr(
          """1.0 / CAST(n AS DOUBLE)
             + (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"""),
          8) + lit(0.0)).as("leverage"))
      .select(col("x"), col("n_rows"), col("leverage"),
        when(col("leverage") > expr("4.0 / CAST(n AS DOUBLE)"), 1L).otherwise(0L)
          .as("high_influence"))
      .orderBy("x")
  }

  /** Two-feature OLS (purchase spend ~ views + clicks) by the explicit
    * 2×2 normal-equations inverse over centered exact sums — the
    * multiple-regression step up from the single-feature closed form.
    * Reports both betas, the intercept and R², all as fixed IEEE
    * epilogues over one pass of BIGINT sufficient statistics.
    */
  def q_ols_two_features(spark: SparkSession, sf: String): DataFrame = {
    val u = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x1"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x2"),
        sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L)).as("y"))
    u.agg(count(lit(1)).as("n"), sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
      sum(col("y")).as("sy"), sum(col("x1") * col("x1")).as("s11"),
      sum(col("x2") * col("x2")).as("s22"), sum(col("x1") * col("x2")).as("s12"),
      sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .select(col("n").as("n_users"),
        expr("CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)").as("c11"),
        expr("CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)").as("c22"),
        expr("CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)").as("c12"),
        expr("CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE)").as("c1y"),
        expr("CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE)").as("c2y"),
        expr("CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)").as("cyy"),
        expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").as("m1"),
        expr("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)").as("m2"),
        expr("CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").as("my"))
      .select(col("n_users"),
        expr("(c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12)").as("b1"),
        expr("(c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12)").as("b2"),
        col("m1"), col("m2"), col("my"), col("c1y"), col("c2y"), col("cyy"))
      .select(col("n_users"),
        (round(expr("my - b1 * m1 - b2 * m2"), 4) + lit(0.0)).as("b0"),
        (round(col("b1"), 6) + lit(0.0)).as("beta_views"),
        (round(col("b2"), 6) + lit(0.0)).as("beta_clicks"),
        (round(expr("(b1 * c1y + b2 * c2y) / cyy"), 6) + lit(0.0)).as("r2"))
  }

  /** Gaussian naive Bayes on the e3-floored embedding norm: per-label
    * mean/variance from exact sums, then the 10 lowest-id vectors are
    * classified by argmax log-likelihood + log-prior (deterministic
    * struct argmax, label tie-break). The continuous-feature sibling of
    * the multinomial NB pair.
    */
  def q_gaussian_nb(spark: SparkSession, sf: String): DataFrame = {
    val feat = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        floor(sqrt(Vectors.dotE14(Vectors.q7(col("embedding")), Vectors.q7(col("embedding")))
          .cast("double")) / lit(10000.0)).cast("long").as("x"))
    val st = feat.groupBy(col("label"))
      .agg(count(lit(1)).as("nl"), sum(col("x")).as("sl"), sum(col("x") * col("x")).as("ql"))
    val tot = feat.agg(count(lit(1)).as("n"))
    val test = feat.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("label").as("true_label"), col("x"))
    val scored = test.crossJoin(broadcast(st)).crossJoin(broadcast(tot))
      .select(col("vec_id"), col("true_label"), col("label"),
        expr(
          """-0.5 * ln((CAST(ql AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
                       / CAST(nl - 1 AS DOUBLE))
             - (CAST(x AS DOUBLE) - CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
               * (CAST(x AS DOUBLE) - CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
               / (2.0 * (CAST(ql AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
                  / CAST(nl - 1 AS DOUBLE))
             + ln(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))""").as("ll"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("ll").desc, col("label").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("true_label"), col("label").as("predicted"),
        (round(col("ll"), 4) + lit(0.0)).as("loglik"))
      .orderBy("vec_id")
  }

  /** Simpson's-paradox screen for the price~quantity relationship: the
    * pooled OLS slope next to each return-flag stratum's slope, with a
    * per-stratum sign-agreement flag — the aggregation-reversal check
    * run before trusting any pooled trend. One grouped pass + one pooled
    * pass of exact sums.
    */
  def q_simpson_paradox(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("x"),
        cents(col("l_extendedprice")).as("y"))
    def slopeExpr: String =
      """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""
    val grouped = d.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("g").as("scope"), col("n"),
        (round(expr(slopeExpr), 6) + lit(0.0)).as("slope"))
    val overall = d.groupBy(lit("ALL").as("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("g").as("scope"), col("n"),
        (round(expr(slopeExpr), 6) + lit(0.0)).as("slope"))
    val all = grouped.unionByName(overall)
    val ovr = overall.select(col("slope").as("pooled_slope"))
    all.crossJoin(broadcast(ovr))
      .select(col("scope"), col("n"), col("slope"),
        when((col("slope") >= 0.0) === (col("pooled_slope") >= 0.0), 1L).otherwise(0L)
          .as("sign_agrees_pooled"))
      .orderBy("scope")
  }

  /** Quantile treatment effects at the nine interior deciles: per-user
    * purchase spend, arms = user-id parity (the fixture's synthetic
    * assignment), QTE(q) = q-th treated quantile − q-th control quantile.
    * Where the average effect hides heterogeneity, the QTE curve shows
    * WHERE in the distribution the effect lives. Two array percentiles +
    * one exploded join.
    */
  def q_qte_deciles(spark: SparkSession, sf: String): DataFrame = {
    val u = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L))
        .as("y"))
      .select((col("user_id") % 2).as("arm"), col("y"))
    val probs = (1 to 9).map(_ / 10.0)
    def side(a: Int, as: String): DataFrame = Relational.latticePercentiles(
        u.filter(col("arm") === a)
          .groupBy(col("y").as("pc")).agg(count(lit(1)).as("cnt")),
        Seq(), probs.zipWithIndex.map { case (p, i) => p -> s"v$i" })
      .select(array(probs.indices.map(i => col(s"v$i")): _*).as("qs"))
      .select(posexplode(col("qs"))).select(col("pos"), col("col").as(as))
    side(1, "treated_q").join(side(0, "control_q"), "pos")
      .select(((col("pos") + 1) * 10).cast("long").as("decile"),
        (round(col("treated_q"), 4) + lit(0.0)).as("treated_q"),
        (round(col("control_q"), 4) + lit(0.0)).as("control_q"),
        (round(col("treated_q") - col("control_q"), 4) + lit(0.0)).as("qte"))
      .orderBy("decile")
  }

  /** James-Stein (empirical-Bayes) shrinkage of per-segment mean account
    * balances toward the grand mean: factor B = max(0, 1 − (k−3)·s̄²/SSB)
    * with s̄² the mean within-segment variance of a group mean. The
    * shrunk estimates dominate the raw means in total squared error —
    * the first tool against the winner's curse in segment league tables.
    */
  def q_james_stein(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.customer(spark, sf)
      .select(col("c_mktsegment").as("segment"), cents(col("c_acctbal")).as("v"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("ni"), sum(col("v")).as("si"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("qi"))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("si")).as("s"), sum(col("ni")).as("n"),
      sum(expr("CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)")).as("msum"),
      sum(expr("""(CAST(si AS DOUBLE) / CAST(ni AS DOUBLE))
                  * (CAST(si AS DOUBLE) / CAST(ni AS DOUBLE))""")).as("m2sum"),
      sum(expr("""(CAST(qi AS DOUBLE) - CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / CAST(ni AS DOUBLE))
                  / (CAST(ni - 1 AS DOUBLE) * CAST(ni AS DOUBLE))""")).as("varsum"))
    g.crossJoin(broadcast(tot))
      .select(col("segment"), col("ni"),
        expr("CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)").as("raw_mean"),
        expr("msum / CAST(k AS DOUBLE)").as("grand"),
        expr("""GREATEST(0.0, 1.0 - (CAST(k - 3 AS DOUBLE) * (varsum / CAST(k AS DOUBLE)))
                / (m2sum - msum * msum / CAST(k AS DOUBLE)))""").as("b"))
      .select(col("segment"), col("ni"),
        (round(col("raw_mean"), 4) + lit(0.0)).as("raw_mean_cents"),
        (round(col("b"), 6) + lit(0.0)).as("shrink_factor"),
        (round(expr("grand + b * (raw_mean - grand)"), 4) + lit(0.0))
          .as("shrunk_mean_cents"))
      .orderBy("segment")
  }

  /** Baron-Kenny mediation decomposition for views → clicks → spend:
    * path a = slope(clicks~views), path b and the direct effect from the
    * two-feature OLS of spend on views+clicks, indirect = a·b, total =
    * slope(spend~views), proportion mediated — one pass of exact sums,
    * three staged epilogues sharing the same centered moments.
    */
  def q_mediation(spark: SparkSession, sf: String): DataFrame = {
    val u = Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("m"),
        sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L)).as("y"))
    u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("m")).as("sm"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("m") * col("m")).as("smm"), sum(col("x") * col("m")).as("sxm"),
      sum(col("x") * col("y")).as("sxy"), sum(col("m") * col("y")).as("smy"))
      .select(col("n").as("n_users"),
        expr("CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)").as("cxx"),
        expr("CAST(n AS DOUBLE) * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)").as("cmm"),
        expr("CAST(n AS DOUBLE) * CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sm AS DOUBLE)").as("cxm"),
        expr("CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)").as("cxy"),
        expr("CAST(n AS DOUBLE) * CAST(smy AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sy AS DOUBLE)").as("cmy"))
      .select(col("n_users"),
        expr("cxm / cxx").as("a"),
        expr("(cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm)").as("b"),
        expr("(cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm)").as("direct"),
        expr("cxy / cxx").as("total"))
      .select(col("n_users"),
        (round(col("a"), 6) + lit(0.0)).as("path_a"),
        (round(col("b"), 6) + lit(0.0)).as("path_b"),
        (round(col("direct"), 6) + lit(0.0)).as("direct_effect"),
        (round(expr("a * b"), 6) + lit(0.0)).as("indirect_effect"),
        (round(col("total"), 6) + lit(0.0)).as("total_effect"),
        (round(expr("a * b / total"), 6) + lit(0.0)).as("prop_mediated"))
  }

  /** Two-sample power analysis from observed variability: per event
    * type, the per-arm sample size to detect a 5%-of-mean lift at
    * α=0.05 / power 0.8 — n = 2(z_α/2+z_β)²σ²/δ². The experiment-sizing
    * arithmetic every A/B platform runs; z constants are literals, σ²
    * comes from exact sums, the ceil is the only integerization.
    */
  def q_power_analysis(spark: SparkSession, sf: String): DataFrame =
    Tables.eventsWithTs(spark, sf)
      .select(col("event_type"), cents(col("value")).as("vc"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"),
        sum(col("vc") * col("vc")).as("q"))
      .select(col("event_type"), col("n"),
        expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)").as("mean_c"),
        expr("""(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                / CAST(n - 1 AS DOUBLE)""").as("var_c"))
      .select(col("event_type"), col("n"),
        (round(col("mean_c"), 4) + lit(0.0)).as("mean_cents"),
        (round(expr("SQRT(var_c)"), 4) + lit(0.0)).as("sd_cents"),
        ceil(expr("2.0 * 7.849 * var_c / (0.05 * mean_c * 0.05 * mean_c)")).cast("long")
          .as("n_per_arm"))
      .orderBy("event_type")

  /** Split-conformal prediction interval for event value: the per-type
    * mean model is fit on the hash-even calibration half, the 90th
    * percentile absolute residual is the interval half-width, and
    * empirical coverage is checked on the held-out half — finite-sample
    * valid intervals with no distribution assumptions, the modern
    * uncertainty wrapper for any point model.
    *
    * Percentile-audit note: this is the one retained builtin `percentile`
    * over an sf-scaling value set (|vc − mean| residuals). The lattice
    * form would need the residuals rescaled by nc to stay integral, and
    * the current green hash depends on Spark's and DuckDB's DIFFERENT
    * interpolation formulas agreeing at r4 on these exact double inputs —
    * rescaling changes those inputs on one side only. Documented
    * trade-off: correctness stability over the buffer bound here.
    */
  def q_conformal_interval(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("vc"),
        (hash32(col("event_id")) % 2).as("half"))
    val model = ev.filter(col("half") === 0)
      .groupBy(col("event_type")).agg(count(lit(1)).as("nc"), sum(col("vc")).as("sc"))
    val calib = ev.filter(col("half") === 0)
      .join(broadcast(model), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("nc")).as("n_calib"),
        percentile(abs(col("vc").cast("double")
          - expr("CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)")), lit(0.9)).as("q90"))
    ev.filter(col("half") === 1)
      .join(broadcast(model), "event_type")
      .join(broadcast(calib), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n_calib")).as("n_calib"), count(lit(1)).as("n_test"),
        (round(max(col("q90")), 4) + lit(0.0)).as("half_width"),
        sum(when(abs(col("vc").cast("double")
          - expr("CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)")) <= col("q90"), 1L)
          .otherwise(0L)).as("n_covered"))
      .select(col("event_type"), col("n_calib"), col("n_test"), col("half_width"),
        expr("n_covered * 10000 div n_test").as("coverage_e4"))
      .orderBy("event_type")
  }

  /** Two unrolled iterative-proportional-fitting (raking) rounds on the
    * segment × priority contingency table toward uniform 1/5 margins:
    * row factors then column factors, reporting per-cell weights and the
    * residual column-margin error. The survey-weighting workhorse,
    * expressed as two broadcast-join rescalings.
    */
  def q_ipf_raking(spark: SparkSession, sf: String): DataFrame = {
    val cells = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment"))), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("o"))
    val n = cells.agg(sum(col("o")).as("n"))
    val w0 = cells.crossJoin(broadcast(n))
      .select(col("segment"), col("priority"), col("o"), col("n"),
        col("o").cast("double").as("w"))
    val rowAdj = w0.groupBy(col("segment")).agg(sum(col("w")).as("rw"))
    val w1 = w0.join(broadcast(rowAdj), "segment")
      .select(col("segment"), col("priority"), col("o"), col("n"),
        expr("w * (CAST(n AS DOUBLE) / 5.0) / rw").as("w"))
    val colAdj = w1.groupBy(col("priority")).agg(sum(col("w")).as("cw"))
    val w2 = w1.join(broadcast(colAdj), "priority")
      .select(col("segment"), col("priority"), col("o"), col("n"),
        expr("w * (CAST(n AS DOUBLE) / 5.0) / cw").as("w"))
    w2.select(col("segment"), col("priority"), col("o"),
      (round(expr("w / CAST(o AS DOUBLE)"), 6) + lit(0.0)).as("rake_weight"),
      (round(col("w"), 4) + lit(0.0)).as("raked_count"))
      .orderBy("segment", "priority")
  }

  /** Off-policy replay evaluation (rejection sampling): arms = event
    * types, rewards = value cents, history split in hash halves. The
    * greedy policy (best phase-1 arm) and an ε=0.2-greedy variant are
    * replayed against the held-out log — an estimate only counts when
    * the policy's action matches the logged one, the unbiased
    * counterfactual trick (Li et al.'s bandit replay). Exploration
    * choices are hash-derived, so the whole evaluation is deterministic.
    */
  def q_offpolicy_replay(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val ev = Tables.eventsWithTs(spark, sf)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("vc"),
        (hash32(col("event_id")) % 2).as("half"))
    val arms = ev.filter(col("half") === 0)
      .groupBy(col("event_type")).agg(count(lit(1)).as("na"), sum(col("vc")).as("sa"))
      .select(col("event_type"), expr("sa * 10000 div na").as("mean_e4"))
    val best = arms.orderBy(col("mean_e4").desc, col("event_type").asc).limit(1)
      .select(col("event_type").as("best_arm"))
    // alphabetical arm index via bounded theta join (no global window)
    val armIdx = arms.select(col("event_type")).as("a")
      .join(arms.select(col("event_type").as("e2")).as("b"),
        col("b.e2") < col("a.event_type"), "left_outer")
      .groupBy(col("a.event_type").as("event_type"))
      .agg(count(col("e2")).as("idx"))
    val test = ev.filter(col("half") === 1)
      .crossJoin(broadcast(best))
      .withColumn("explore", (hash32(concat(lit("x"), col("event_id"))) % 5 === 0))
      .withColumn("rand_idx", hash32(concat(lit("a"), col("event_id"))) % 5)
    val withAction = test
      .join(broadcast(armIdx.select(col("event_type").as("rand_arm"), col("idx"))),
        col("rand_idx") === col("idx"))
      .select(col("event_type"), col("vc"), col("best_arm"),
        when(col("explore"), col("rand_arm")).otherwise(col("best_arm")).as("eg_action"))
    def policy(name: String, actionCol: Column): DataFrame =
      withAction.select((col("event_type") === actionCol).cast("long").as("m"), col("vc"))
        .agg(count(lit(1)).as("n_test"), sum(col("m")).as("n_matched"),
          sum(col("vc") * col("m")).as("sv"))
        .select(lit(name).as("policy"), col("n_test"), col("n_matched"),
          expr("n_matched * 10000 div n_test").as("match_rate_e4"),
          expr("sv * 10000 div n_matched").as("est_reward_e4"))
    val logging = withAction
      .agg(count(lit(1)).as("n_test"), sum(col("vc")).as("sv"))
      .select(lit("logging").as("policy"), col("n_test"), col("n_test").as("n_matched"),
        lit(10000L).as("match_rate_e4"), expr("sv * 10000 div n_test").as("est_reward_e4"))
    policy("greedy", col("best_arm"))
      .unionByName(policy("egreedy_02", col("eg_action")))
      .unionByName(logging)
      .orderBy("policy")
  }

  /** Fairness audit of the length-based document classifier across
    * language groups: per-group selection rate (demographic parity),
    * TPR and FPR (equalized odds) against the type-token-ratio label,
    * with the global max selection-rate gap alongside — the
    * disparate-impact screen run before shipping any auto-labeler.
    * Exact counts, e4 rates.
    */
  def q_fairness_audit(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(spark, sf)
      .select(col("lang"),
        (size(split(col("text"), " ")) >= 30).cast("long").as("pred"),
        (size(array_distinct(split(col("text"), " "))) * 2 >=
          size(split(col("text"), " "))).cast("long").as("label"))
    val per = d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("pred")).as("np"),
        sum(col("label")).as("nl"),
        sum(col("pred") * col("label")).as("tp"),
        sum(col("pred") * (lit(1L) - col("label"))).as("fp"))
      .select(col("lang"), col("n"),
        expr("np * 10000 div n").as("sel_rate_e4"),
        expr("tp * 10000 div nl").as("tpr_e4"),
        expr("fp * 10000 div (n - nl)").as("fpr_e4"))
    val gap = per.agg((max(col("sel_rate_e4")) - min(col("sel_rate_e4"))).as("dp_gap_e4"))
    per.crossJoin(broadcast(gap)).orderBy("lang")
  }

  /** 1-D earth mover's distance between the first- and second-half value
    * distributions (100-cent bins): EMD = Σ|F_A − F_B| over the support,
    * computed with EXACT integer numerators (|cumA·n_B − cumB·n_A|) so
    * only the final normalization is float — the metric drift monitor
    * that, unlike PSI, respects the value ordering.
    */
  def q_emd_drift(spark: SparkSession, sf: String): DataFrame = {
    val cut = lit("2024-01-16").cast("date")
    val b = Tables.eventsWithTs(spark, sf)
      .select(expr("CAST(ROUND(value*100) AS BIGINT) div 100").as("bin"),
        when(to_date(col("ts_us")) < cut, 1L).otherwise(0L).as("a"))
      .groupBy(col("bin"))
      .agg(sum(col("a")).as("ca"), sum(lit(1L) - col("a")).as("cb"))
    val cum = b.as("t")
      .join(b.select(col("bin").as("b2"), col("ca").as("ca2"), col("cb").as("cb2")).as("p"),
        col("p.b2") <= col("t.bin"))
      .groupBy(col("t.bin").as("bin"))
      .agg(sum(col("ca2")).as("cuma"), sum(col("cb2")).as("cumb"))
    val tot = b.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cum.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_bins"), max(col("na")).as("n_first"),
        max(col("nb")).as("n_second"),
        sum(abs(col("cuma") * col("nb") - col("cumb") * col("na"))).as("emd_num"))
      .select(col("n_bins"), col("n_first"), col("n_second"),
        (round(expr(
          "CAST(emd_num AS DOUBLE) / (CAST(n_first AS DOUBLE) * CAST(n_second AS DOUBLE))"),
          6) + lit(0.0)).as("emd_bins"))
  }

  /** Rank-biased overlap (p=0.9) between the revenue and quantity brand
    * rankings: RBO = (1−p)·Σ_d p^(d−1)·|top_A(d) ∩ top_B(d)|/d — the
    * top-weighted ranking-agreement metric search evaluation uses where
    * Spearman over-weights the tail. Ranks come from bounded theta
    * joins; only the geometric weights are float.
    */
  def q_rank_biased_overlap(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"),
        sum(col("l_quantity").cast("long")).as("qty"))
    def rank(metric: String, as: String): DataFrame =
      g.as("a").join(g.select(col("brand").as("b2"), col(metric).as("m2")).as("b"),
        col("m2") > col(metric) ||
          (col("m2") === col(metric) && col("b2") < col("brand")), "left_outer")
        .groupBy(col("a.brand").as("brand"))
        .agg((count(col("b2")) + 1L).as(as))
    val ranks = Mat.once(rank("rev", "ra").join(rank("qty", "rb"), "brand"))
    val depths = spark.range(1, 26).select(col("id").as("d"))
    val overlap = ranks.crossJoin(broadcast(depths))
      .filter(col("ra") <= col("d") && col("rb") <= col("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("ov"))
    overlap
      .select(col("d"), col("ov"),
        expr("0.1 * pow(0.9, CAST(d - 1 AS DOUBLE)) * CAST(ov AS DOUBLE) / CAST(d AS DOUBLE)")
          .as("term"))
      .agg(sum(col("term")).as("rbo_sum"), sum(col("ov")).as("ov_total"))
      .select((round(col("rbo_sum"), 6) + lit(0.0)).as("rbo_p09"), col("ov_total"))
  }

  /** Successive halving over 8 threshold-classifier configs (predict
    * return when quantity ≤ t): round 1 scores every config on the
    * hash-even half, the top 4 graduate to a full-data round 2 — the
    * multi-fidelity AutoML schedule, with every accuracy an exact e6
    * integer and the promotion rank a bounded theta join.
    */
  def q_successive_halving(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val d = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("q"),
        (col("l_returnflag") === "A").cast("long").as("y"),
        (hash32(concat(col("l_orderkey").cast("string"), lit("#"),
          col("l_linenumber").cast("string"))) % 2).as("half"))
    val configs = spark.range(1, 9).select((col("id") * 5).as("t"))
    def acc(data: DataFrame, as: String): DataFrame =
      data.crossJoin(broadcast(configs))
        .select(col("t"),
          (when(col("q") <= col("t"), 1L).otherwise(0L) === col("y")).cast("long").as("ok"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n"), sum(col("ok")).as("nok"))
        .select(col("t"), expr(s"nok * 1000000 div n").as(as))
    val r1 = acc(d.filter(col("half") === 0), "acc1_e6")
    val promoted = r1.as("a")
      .join(r1.select(col("t").as("t2"), col("acc1_e6").as("a2")).as("b"),
        col("a2") > col("acc1_e6") ||
          (col("a2") === col("acc1_e6") && col("t2") < col("t")), "left_outer")
      .groupBy(col("a.t").as("t"), col("a.acc1_e6").as("acc1_e6"))
      .agg(count(col("t2")).as("n_better"))
      .select(col("t"), col("acc1_e6"), (col("n_better") < 4L).cast("long").as("survived"))
    val r2 = acc(d, "acc2_e6")
    promoted.join(r2, "t")
      .select(col("t").as("threshold"), col("acc1_e6"), col("survived"),
        when(col("survived") === 1L, col("acc2_e6")).otherwise(lit(-1L)).as("acc2_e6"))
      .orderBy("threshold")
  }

  /** Partial autocorrelation of the daily revenue series at lags 1-2 by
    * the Durbin-Levinson closed form: φ₁₁ = r₁, φ₂₂ = (r₂−r₁²)/(1−r₁²).
    * Lag alignments are bounded theta joins on the ~30-row day table (no
    * global window); r₁/r₂ are fixed IEEE trees over exact sums — the
    * AR-order diagnostic next to the plain ACF query.
    */
  def q_pacf(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val raw = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("x"))
    val base = raw.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("q"))
    def lagSum(k: Int): DataFrame = raw.as("a")
      .join(raw.select(col("t").as("t2"), col("x").as("x2")).as("b"),
        col("t2") === col("t") + k)
      .agg(sum(col("x") * col("x2")).as(s"c$k"), count(lit(1)).as(s"n$k"),
        sum(col("x")).as(s"sa$k"), sum(col("x2")).as(s"sb$k"))
    base.crossJoin(lagSum(1)).crossJoin(lagSum(2))
      .select(col("n").as("n_days"),
        expr("""(CAST(c1 AS DOUBLE) - CAST(sa1 AS DOUBLE) * CAST(sb1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))""").as("r1"),
        expr("""(CAST(c2 AS DOUBLE) - CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))""").as("r2"))
      .select(col("n_days"),
        (round(col("r1"), 6) + lit(0.0)).as("pacf_lag1"),
        (round(expr("(r2 - r1 * r1) / (1.0 - r1 * r1)"), 6) + lit(0.0)).as("pacf_lag2"))
  }

  /** UCB1 allocation indices per arm (event type): mean reward +
    * √(2 ln N / nᵢ) from the logged history — which arm a bandit would
    * pull next and the implied exploration bonus ordering. The index is
    * one fixed IEEE tree over exact counts; the pull-priority rank is a
    * bounded theta join.
    */
  def q_ucb_allocation(spark: SparkSession, sf: String): DataFrame = {
    val arms = Tables.eventsWithTs(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ni"), sum(cents(col("value"))).as("si"))
    val tot = arms.agg(sum(col("ni")).as("n"))
    val idx = arms.crossJoin(broadcast(tot))
      .select(col("event_type"), col("ni"),
        (round(expr("CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)"), 4) + lit(0.0))
          .as("mean_cents"),
        (round(expr(
          """CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)
             + 24500.0 * SQRT(2.0 * ln(CAST(n AS DOUBLE)) / CAST(ni AS DOUBLE))"""),
          4) + lit(0.0)).as("ucb_index"))
    idx.as("a")
      .join(idx.select(col("event_type").as("e2"), col("ucb_index").as("u2")).as("b"),
        col("u2") > col("ucb_index") ||
          (col("u2") === col("ucb_index") && col("e2") < col("event_type")), "left_outer")
      .groupBy(col("a.event_type").as("event_type"), col("a.ni").as("n_pulls"),
        col("a.mean_cents").as("mean_cents"), col("a.ucb_index").as("ucb_index"))
      .agg((count(col("e2")) + 1L).as("pull_priority"))
      .orderBy("event_type")
  }

  /** Holm sequentially-rejective multiple-testing correction over the
    * five per-segment urgent-share χ² tests (1 df): statistics ranked
    * descending meet increasingly lenient critical literals
    * (α/5, α/4, …); rejection stops at the first failure — the
    * family-wise-error guard a metrics platform applies before flagging
    * segments. Exact counts; the χ² and the stop-rule are fixed trees.
    */
  def q_holm_correction(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment"))), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("s"))
    val tot = g.agg(sum(col("n")).as("tn"), sum(col("s")).as("ts"))
    val stat = g.crossJoin(broadcast(tot))
      .select(col("segment"), col("n"), col("s"),
        // χ² vs the pooled urgent share: (o-e)²/e + ((n-o)-(n-e))²/(n-e)
        expr(
          """(CAST(s AS DOUBLE) - CAST(n AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
             * (CAST(s AS DOUBLE) - CAST(n AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
             * (1.0 / (CAST(n AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
                + 1.0 / (CAST(n AS DOUBLE) * (1.0 - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))))""")
          .as("chi2"))
    val ranked = stat.as("a")
      .join(stat.select(col("segment").as("s2"), col("chi2").as("c2")).as("b"),
        col("c2") > col("chi2") || (col("c2") === col("chi2") && col("s2") < col("segment")),
        "left_outer")
      .groupBy(col("a.segment").as("segment"), col("a.chi2").as("chi2"))
      .agg((count(col("s2")) + 1L).as("rk"))
    // Holm critical values for α=0.05, m=5: χ²₁ quantiles at α/5..α/1
    val crit = ranked.select(col("segment"), col("chi2"), col("rk"),
      when(col("rk") === 1, 6.6349).when(col("rk") === 2, 6.2385)
        .when(col("rk") === 3, 5.7305).when(col("rk") === 4, 5.0239)
        .otherwise(3.8415).as("crit"))
      .withColumn("passes", (col("chi2") > col("crit")).cast("long"))
    // sequential stop: rejected only if every smaller rank also passed
    val rejected = crit.as("a")
      .join(crit.select(col("rk").as("rk2"), col("passes").as("p2")).as("b"),
        col("rk2") <= col("rk"))
      .groupBy(col("a.segment").as("segment"), col("a.chi2").as("chi2"),
        col("a.rk").as("holm_rank"), col("a.crit").as("crit_value"))
      .agg(min(col("p2")).as("rejected"))
    rejected.select(col("segment"), (round(col("chi2"), 4) + lit(0.0)).as("chi2"),
      col("holm_rank"), col("crit_value"), col("rejected"))
      .orderBy("holm_rank")
  }

  /** Decision-curve analysis of the quantity≤25 return-risk classifier:
    * net benefit NB(t) = TP/n − FP/n · t/(1−t) across thresholds
    * 0.1-0.5, against the treat-all and treat-none baselines — the
    * utility-aware evaluation that precision/recall curves ignore.
    * Exact counts; per-threshold epilogue.
    */
  def q_decision_curve(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.lineitem(spark, sf)
      .select((col("l_quantity") <= 25.0).cast("long").as("pred"),
        (col("l_returnflag") === "A").cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("ny"),
        sum(col("pred") * col("y")).as("tp"),
        sum(col("pred") * (lit(1L) - col("y"))).as("fp"))
    val ts = Tables.lineitem(spark, sf).sparkSession.range(1, 6)
      .select((col("id").cast("double") / 10.0).as("t"))
    d.crossJoin(broadcast(ts))
      .select(col("t"), col("n"), col("tp"), col("fp"),
        (round(expr(
          """CAST(tp AS DOUBLE) / CAST(n AS DOUBLE)
             - CAST(fp AS DOUBLE) / CAST(n AS DOUBLE) * t / (1.0 - t)"""), 6) + lit(0.0))
          .as("net_benefit_model"),
        (round(expr(
          """CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
             - (1.0 - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) * t / (1.0 - t)"""), 6)
          + lit(0.0)).as("net_benefit_treat_all"))
      .orderBy("t")
  }

  /** Upper-tail dependence between daily view and purchase revenue:
    * P(purchase > its q80 | view > its q80) vs the independence baseline
    * 0.2 — do the two streams spike together? Exact day counts over
    * percentile thresholds; the extreme-value diagnostic correlation
    * misses.
    */
  def q_tail_dependence(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.eventsWithTs(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts_us")).as("day"), col("event_type"))
      .agg(sum(cents(col("value"))).as("v"))
    val wide = daily.groupBy(col("day"))
      .agg(max(when(col("event_type") === "view", col("v"))).as("x"),
        max(when(col("event_type") === "purchase", col("v"))).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val qs = wide.agg(percentile(col("x"), lit(0.8)).as("qx"),
      percentile(col("y"), lit(0.8)).as("qy"))
    wide.crossJoin(broadcast(qs))
      .agg(count(lit(1)).as("n_days"),
        sum((col("x").cast("double") > col("qx")).cast("long")).as("n_x_hi"),
        sum((col("y").cast("double") > col("qy")).cast("long")).as("n_y_hi"),
        sum(((col("x").cast("double") > col("qx")) &&
          (col("y").cast("double") > col("qy"))).cast("long")).as("n_both_hi"))
      .select(col("n_days"), col("n_x_hi"), col("n_y_hi"), col("n_both_hi"),
        (round(expr("CAST(n_both_hi AS DOUBLE) / CAST(n_x_hi AS DOUBLE)"), 6) + lit(0.0))
          .as("lambda_upper"))
  }

  /** One-lag Granger test: does yesterday's view count improve today's
    * purchase-revenue prediction beyond its own lag? Restricted
    * (y~y₋₁) and unrestricted (y~y₋₁+x₋₁) OLS via exact sums, F =
    * (SSE_r − SSE_u)/(SSE_u/(n−3)). The predictive-causality screen for
    * metric dashboards. All alignments are bounded day-index joins.
    */
  def q_granger_test(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L))
        .as("y"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"))
    val tri = daily.as("a")
      .join(daily.select(col("t").as("t1"), col("y").as("yl"), col("x").as("xl")).as("b"),
        col("t1") === col("t") - 1)
      .select(col("y"), col("yl"), col("xl"))
    val s = tri.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"), sum(col("yl")).as("s1"),
      sum(col("xl")).as("s2"), sum(col("yl") * col("yl")).as("s11"),
      sum(col("xl") * col("xl")).as("s22"), sum(col("yl") * col("xl")).as("s12"),
      sum(col("yl") * col("y")).as("s1y"), sum(col("xl") * col("y")).as("s2y"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    s.select(col("n").as("n_days"),
      expr("CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)").as("c11"),
      expr("CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)").as("c22"),
      expr("CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)").as("c12"),
      expr("CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE)").as("c1y"),
      expr("CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE)").as("c2y"),
      expr("CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)").as("cyy"))
      .select(col("n_days"),
        expr("cyy - c1y * c1y / c11").as("sse_r"),
        expr("""cyy - (c22 * c1y * c1y - 2.0 * c12 * c1y * c2y + c11 * c2y * c2y)
                / (c11 * c22 - c12 * c12)""").as("sse_u"))
      .select(col("n_days"),
        (round(expr("(sse_r - sse_u) / (sse_u / CAST(n_days - 3 AS DOUBLE))"), 4)
          + lit(0.0)).as("f_stat"))
      .select(col("n_days"), col("f_stat"),
        when(col("f_stat") > 4.2, 1L).otherwise(0L).as("granger_significant"))
  }

  /** Kendall's W concordance among THREE brand rankings (revenue,
    * quantity, order count): W = 12·S/(m²(n³−n)) from exact integer rank
    * sums — do the three league tables even agree before anyone debates
    * which to use? Ranks via bounded theta joins; everything integer
    * until the final ratio.
    */
  def q_kendall_w(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("m1"),
        sum(col("l_quantity").cast("long")).as("m2"),
        countDistinct(col("l_orderkey")).as("m3"))
    def rank(metric: String, as: String): DataFrame =
      g.as("a").join(g.select(col("brand").as("b2"), col(metric).as("v2")).as("b"),
        col("v2") > col(metric) ||
          (col("v2") === col(metric) && col("b2") < col("brand")), "left_outer")
        .groupBy(col("a.brand").as("brand")).agg((count(col("b2")) + 1L).as(as))
    val ranks = rank("m1", "r1").join(rank("m2", "r2"), "brand")
      .join(rank("m3", "r3"), "brand")
      .select(col("brand"), (col("r1") + col("r2") + col("r3")).as("rsum"))
    ranks
      .agg(count(lit(1)).as("n"), sum(col("rsum")).as("st"),
        sum(col("rsum") * col("rsum")).as("sq"))
      .select(col("n").as("n_brands"),
        (round(expr(
          """12.0 * (CAST(sq AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
             / (9.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"""),
          6) + lit(0.0)).as("kendall_w"))
  }

  /** Delete-one-block jackknife standard error of the mean order total:
    * 10 hash blocks, leave-one-out means, SE² = (g−1)/g · Σ(m₋ᵢ − m̄)².
    * The resampling variance estimate that works on any statistic a
    * cluster can compute per block — no replication of the data, one
    * pass for the block sums.
    */
  def q_jackknife_se(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val blocks = Tables.orders(spark, sf)
      .select((hash32(col("o_orderkey")) % 10).as("blk"), cents(col("o_totalprice")).as("v"))
      .groupBy(col("blk")).agg(count(lit(1)).as("nb"), sum(col("v")).as("sb"))
    val tot = blocks.agg(sum(col("nb")).as("n"), sum(col("sb")).as("s"),
      count(lit(1)).as("g"))
    // leave-one-out means floor onto an e6-cent lattice so the Σm and Σm²
    // epilogue sums are ORDER-FREE exact integers (the repo's standard
    // idiom): summing raw doubles diverged from DuckDB by one ulp at sf1
    // and the value sat exactly on a round-4 boundary (6789.67395 — caught
    // by the round-9 sf1 oracle pass). m_loo itself is one deterministic
    // IEEE division of exact-integer-valued doubles, identical on both
    // engines; the squares go through DECIMAL(38,0) (≈2.3e23 per block,
    // past 2⁶³ — HUGEINT on the DuckDB side), and the epilogue casts the
    // exact sums to double with identical expression trees.
    val loo = blocks.crossJoin(broadcast(tot))
      .select(col("blk"),
        expr("""CAST(FLOOR((CAST(s AS DOUBLE) - CAST(sb AS DOUBLE))
                / (CAST(n AS DOUBLE) - CAST(nb AS DOUBLE)) * 1e6) AS BIGINT)""")
          .as("ml_e6"),
        expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)").as("m_all"), col("g"))
    loo.agg(max(col("g")).as("g"),
      sum(expr("CAST(ml_e6 AS DECIMAL(38,0)) * ml_e6")).as("sq"),
      sum(col("ml_e6")).as("sm"),
      max(col("m_all")).as("m_all"))
      .select(col("g").as("n_blocks"),
        (round(col("m_all"), 4) + lit(0.0)).as("mean_cents"),
        (round(expr(
          """SQRT((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
                  * (CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                     / CAST(g AS DOUBLE))) / 1e6"""), 4) + lit(0.0))
          .as("jackknife_se_cents"))
  }

  /** Page-Hinkley sequential drift detector over the daily revenue
    * series: PH_t = Σ(xᵢ − mean_i − δ) with the running prefix mean,
    * alarm when PH_t − min PH exceeds λ — the streaming change monitor
    * that, unlike CUSUM against a FIXED baseline, adapts its reference
    * as it goes. Prefix stats are bounded theta joins on the ~30-row
    * day table; δ=10000, λ=500000 cents are declared literals.
    */
  def q_page_hinkley(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("x"))
    val prefix = daily.as("a")
      .join(daily.select(col("t").as("t2"), col("x").as("x2")).as("b"),
        col("t2") <= col("t"))
      .groupBy(col("a.t").as("t"), col("a.x").as("x"))
      .agg(count(lit(1)).as("i"), sum(col("x2")).as("si"))
      .select(col("t"), col("x"),
        expr("CAST(x AS DOUBLE) - CAST(si AS DOUBLE) / CAST(i AS DOUBLE) - 10000.0")
          .as("term"))
    val ph = prefix.as("a")
      .join(prefix.select(col("t").as("t2"), col("term").as("term2")).as("b"),
        col("t2") <= col("t"))
      .groupBy(col("a.t").as("t"), col("a.x").as("x"))
      .agg(sum(col("term2")).as("ph"))
    val alarm = ph.as("a")
      .join(ph.select(col("t").as("t2"), col("ph").as("ph2")).as("b"),
        col("t2") <= col("t"))
      .groupBy(col("a.t").as("t"), col("a.x").as("x"), col("a.ph").as("ph"))
      .agg(min(col("ph2")).as("phmin"))
    alarm.select(col("t").as("day_index"), col("x").as("revenue_cents"),
      (round(col("ph"), 4) + lit(0.0)).as("ph_stat"),
      when(col("ph") - col("phmin") > 500000.0, 1L).otherwise(0L).as("alarm"))
      .orderBy("day_index")
  }

  /** Intraclass correlation ICC(1,1) of order totals within customers
    * (one-way random effects): (MSB − MSW)/(MSB + (k̄−1)·MSW) with the
    * unbalanced-design k̄ correction — how much of order-value variance
    * is "the customer" vs noise, the reliability number behind any
    * per-customer personalization claim.
    */
  def q_icc(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.orders(spark, sf)
      .select(col("o_custkey").as("c"), cents(col("o_totalprice")).as("v"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("ni"), sum(col("v")).as("si"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("qi"))
      .filter(col("ni") >= 2)
    g.agg(count(lit(1)).as("k"), sum(col("ni")).as("n"), sum(col("si")).as("s"),
      sum(expr("CAST(qi AS DOUBLE)")).as("q"),
      sum(expr("CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)")).as("bsum"),
      sum(expr("CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE)")).as("nsq"))
      .select(col("k").as("n_customers"), col("n").as("n_orders"),
        expr("(bsum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)")
          .as("msb"),
        expr("(q - bsum) / CAST(n - k AS DOUBLE)").as("msw"),
        expr("(CAST(n AS DOUBLE) - nsq / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)").as("k0"))
      .select(col("n_customers"), col("n_orders"),
        (round(expr("(msb - msw) / (msb + (k0 - 1.0) * msw)"), 6) + lit(0.0)).as("icc"))
  }

  /** Grid-search quantile regression (τ = 0.5 and 0.9) of price on
    * quantity through the origin: ten candidate slopes, the pinball loss
    * of each accumulated as EXACT scaled integers (τ·10 weights), argmin
    * per τ — the conditional-quantile line a mean regression can't give,
    * with zero float anywhere.
    */
  def q_quantile_regression_grid(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("x"), cents(col("l_extendedprice")).as("y"))
    val grid = spark.range(0, 10).select((lit(2000L) + col("id") * 200L).as("b"))
    val losses = Mat.once(d.crossJoin(broadcast(grid))
      .select(col("b"), (col("y") - col("b") * col("x")).as("r"))
      .groupBy(col("b"))
      .agg(sum(greatest(col("r") * 5L, col("r") * -5L)).as("loss50_x10"),
        sum(greatest(col("r") * 9L, col("r") * -1L)).as("loss90_x10")))
    def best(lossCol: String, tau: String): DataFrame =
      losses.orderBy(col(lossCol).asc, col("b").asc).limit(1)
        .select(lit(tau).as("tau"), col("b").as("best_slope_cents"),
          col(lossCol).as("pinball_loss_x10"))
    best("loss50_x10", "0.5").unionByName(best("loss90_x10", "0.9")).orderBy("tau")
  }

  /** Empirical copula of daily (view, purchase) revenue at the 3×3
    * quartile grid: Ĉ(u,v) vs the independence product u·v — WHERE in
    * the joint distribution the dependence lives, the structure a single
    * correlation number flattens. Ranks via bounded theta joins; counts
    * exact.
    */
  def q_empirical_copula(spark: SparkSession, sf: String): DataFrame = {
    val daily = Mat.once(Tables.eventsWithTs(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts_us")).as("day"), col("event_type"))
      .agg(sum(cents(col("value"))).as("v"))
      .groupBy(col("day"))
      .agg(max(when(col("event_type") === "view", col("v"))).as("x"),
        max(when(col("event_type") === "purchase", col("v"))).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull))
    val ranked = daily.as("a")
      .join(daily.select(col("day").as("d2"), col("x").as("x2"), col("y").as("y2")).as("b"),
        col("a.day") =!= col("d2"), "left_outer")
      .groupBy(col("a.day").as("day"))
      .agg(count(lit(1)).as("n0"),
        sum(when(col("x2") < col("a.x") ||
          (col("x2") === col("a.x") && col("d2") < col("a.day")), 1L).otherwise(0L)).as("rx"),
        sum(when(col("y2") < col("a.y") ||
          (col("y2") === col("a.y") && col("d2") < col("a.day")), 1L).otherwise(0L)).as("ry"))
    val n = daily.agg(count(lit(1)).as("n"))
    val grid = spark.range(1, 4).select((col("id") * 25L).as("u"))
      .crossJoin(spark.range(1, 4).select((col("id") * 25L).as("v")))
    ranked.crossJoin(broadcast(n)).crossJoin(broadcast(grid))
      .groupBy(col("u"), col("v"), col("n"))
      .agg(sum(when((col("rx") + 1L) * 100L <= col("u") * col("n") &&
        (col("ry") + 1L) * 100L <= col("v") * col("n"), 1L).otherwise(0L)).as("c"))
      .select(col("u").as("u_pct"), col("v").as("v_pct"),
        expr("c * 10000 div n").as("copula_e4"),
        expr("u * v").as("independence_e4"),
        (expr("c * 10000 div n") - expr("u * v")).as("excess_e4"))
      .orderBy("u_pct", "v_pct")
  }

  /** One binary-segmentation round on the daily revenue series: every
    * candidate split's two-segment SSE from prefix sums (bounded theta
    * joins), argmin split, and the variance reduction vs the unsplit fit
    * — the offline changepoint locator beside the sequential CUSUM and
    * Page-Hinkley monitors.
    */
  def q_binary_segmentation(spark: SparkSession, sf: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Tables.eventsWithTs(spark, sf)
      .groupBy(datediff(to_date(col("ts_us")), epoch).cast("long").as("t"))
      .agg(sum(cents(col("value"))).as("x"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("q"))
    val prefix = daily.as("a")
      .join(daily.select(col("t").as("t2"), col("x").as("x2")).as("b"),
        col("t2") <= col("t"))
      .groupBy(col("a.t").as("t"))
      .agg(count(lit(1)).as("nl"), sum(col("x2")).as("sl"), sum(col("x2") * col("x2")).as("ql"))
    val scored = prefix.crossJoin(broadcast(tot))
      .filter(col("nl") < col("n"))
      .select(col("t"), col("nl"),
        expr(
          """(CAST(ql AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
             + (CAST(q - ql AS DOUBLE) - CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE)
                / CAST(n - nl AS DOUBLE))""").as("sse_split"),
        expr("CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")
          .as("sse_total"),
        expr("CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)").as("mean_left"),
        expr("CAST(s - sl AS DOUBLE) / CAST(n - nl AS DOUBLE)").as("mean_right"))
    scored.orderBy(col("sse_split").asc, col("t").asc).limit(1)
      .select(col("t").as("split_after_day"), col("nl").as("n_left"),
        (round(col("mean_left"), 4) + lit(0.0)).as("mean_left"),
        (round(col("mean_right"), 4) + lit(0.0)).as("mean_right"),
        (round(expr("1.0 - sse_split / sse_total"), 6) + lit(0.0)).as("variance_explained"))
  }

  /** One Newton step of Platt scaling from the zero initialization for
    * the quantity→return-flag score: at (a,b)=(0,0) every p=½, so the
    * gradient and Hessian are EXACT integer sums (p(1−p)=¼ constant) and
    * the 2×2 Newton solve is a closed-form epilogue — the first
    * calibration iteration with no exp() anywhere.
    */
  def q_platt_step(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("s"),
        (col("l_returnflag") === "A").cast("long").as("y"))
    d.agg(count(lit(1)).as("n"), sum(col("s")).as("ss"), sum(col("s") * col("s")).as("sq"),
      sum(col("y")).as("sy"), sum(col("s") * col("y")).as("ssy"))
      .select(col("n").as("n_rows"),
        // g = Σ(½−y)[s,1]; H = ¼[Σs² Σs; Σs n]; step = −H⁻¹g
        expr("0.5 * CAST(ss AS DOUBLE) - CAST(ssy AS DOUBLE)").as("g1"),
        expr("0.5 * CAST(n AS DOUBLE) - CAST(sy AS DOUBLE)").as("g2"),
        expr("0.25 * CAST(sq AS DOUBLE)").as("h11"),
        expr("0.25 * CAST(ss AS DOUBLE)").as("h12"),
        expr("0.25 * CAST(n AS DOUBLE)").as("h22"))
      .select(col("n_rows"),
        (round(expr("-(h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12)"), 6) + lit(0.0))
          .as("delta_a"),
        (round(expr("-(h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12)"), 6) + lit(0.0))
          .as("delta_b"))
  }

  /** Four-look O'Brien-Fleming group-sequential monitor of the parity
    * A/B test on purchase rate: cumulative z at each weekly look against
    * the spending boundaries {4.333, 2.963, 2.359, 2.014} — the
    * peek-safe sequential design that spends almost no α early. Counts
    * exact, z a fixed tree per look.
    */
  def q_alpha_spending(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
      .select((col("user_id") % 2).as("arm"),
        (col("event_type") === "purchase").cast("long").as("y"),
        (datediff(to_date(col("ts_us")), lit("2024-01-01").cast("date")) / 7)
          .cast("long").as("wk"))
    val looks = spark.range(0, 4).select(col("id").as("look"))
    val cum = ev.crossJoin(broadcast(looks))
      .filter(col("wk") <= col("look"))
      .groupBy(col("look"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("s1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("s0"))
    cum.select(col("look"), col("n1"), col("n0"),
      (round(expr(
        """(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
           / SQRT((CAST(s1 + s0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                  * (1.0 - CAST(s1 + s0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                  * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE)))"""), 4)
        + lit(0.0)).as("z"),
      when(col("look") === 0, 4.333).when(col("look") === 1, 2.963)
        .when(col("look") === 2, 2.359).otherwise(2.014).as("obf_bound"))
      .select(col("look"), col("n1"), col("n0"), col("z"), col("obf_bound"),
        when(abs(col("z")) > col("obf_bound"), 1L).otherwise(0L).as("crossed"))
      .orderBy("look")
  }

  /** One Weiszfeld iteration toward the geometric median of the 50
    * quantity-level (x, mean-price) representative points: inverse-
    * distance reweighting from the weighted centroid — the robust
    * location step that, unlike the mean, ignores how FAR outliers are.
    * Representative points keep the inverse-distance sum to 50 terms.
    */
  def q_weiszfeld_step(spark: SparkSession, sf: String): DataFrame = {
    val pts = Mat.once(Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("x"), cents(col("l_extendedprice")).as("y"))
      .groupBy(col("x"))
      .agg(count(lit(1)).as("w"), sum(col("y")).as("sy"))
      .select(col("x").cast("double").as("px"),
        expr("CAST(sy AS DOUBLE) / CAST(w AS DOUBLE) / 100.0").as("py"), col("w")))
    val c0 = pts.agg(
      expr("SUM(px * CAST(w AS DOUBLE)) / SUM(CAST(w AS DOUBLE))").as("cx0"),
      expr("SUM(py * CAST(w AS DOUBLE)) / SUM(CAST(w AS DOUBLE))").as("cy0"))
    val stepped = pts.crossJoin(broadcast(c0))
      .select(col("px"), col("py"), col("cx0"), col("cy0"),
        expr(
          """CAST(w AS DOUBLE) / SQRT((px - cx0) * (px - cx0) + (py - cy0) * (py - cy0))""")
          .as("iw"))
      .agg(max(col("cx0")).as("cx0"), max(col("cy0")).as("cy0"),
        expr("SUM(px * iw) / SUM(iw)").as("cx1"),
        expr("SUM(py * iw) / SUM(iw)").as("cy1"))
    stepped.select(
      (round(col("cx0"), 4) + lit(0.0)).as("centroid_x"),
      (round(col("cy0"), 4) + lit(0.0)).as("centroid_y"),
      (round(col("cx1"), 4) + lit(0.0)).as("weiszfeld_x"),
      (round(col("cy1"), 4) + lit(0.0)).as("weiszfeld_y"),
      (round(expr(
        "SQRT((cx1 - cx0) * (cx1 - cx0) + (cy1 - cy0) * (cy1 - cy0))"), 4) + lit(0.0))
        .as("shift"))
  }

  /** One lasso coordinate-descent update for the price~quantity slope:
    * the OLS solution next to the soft-thresholded S(ρ, λ)/Sxx shrunk
    * coefficient at two λ levels — the mechanics of L1 shrinkage in one
    * closed step over exact centered sums.
    */
  def q_lasso_step(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long").as("x"), cents(col("l_extendedprice")).as("y"))
    val s = d.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_rows"),
        expr("CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)").as("rho"),
        expr("CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)").as("cxx"))
    val lam = d.sparkSession.range(0, 2)
      .select(when(col("id") === 0, 0.25).otherwise(0.75).as("lam_share"))
    s.crossJoin(broadcast(lam))
      .select(col("n_rows"), col("lam_share"),
        (round(expr("rho / cxx"), 6) + lit(0.0)).as("beta_ols"),
        // λ is declared as a share of |ρ| so the threshold is scale-free
        (round(expr(
          """CASE WHEN rho > lam_share * ABS(rho) THEN (rho - lam_share * ABS(rho)) / cxx
                  WHEN rho < -lam_share * ABS(rho) THEN (rho + lam_share * ABS(rho)) / cxx
                  ELSE 0.0 END"""), 6) + lit(0.0)).as("beta_lasso"))
      .orderBy("lam_share")
  }

  /** Two-model uplift by activity quartile: per user-activity quartile,
    * the parity-arm purchase-rate difference — WHO should be targeted,
    * the question a single average treatment effect can't answer. Exact
    * counts, e4 rates.
    *
    * The rank rk = #{act' < act} + #{same act, smaller user_id} is
    * DECOMPOSED (round 9 — the full sf3 bench caught the former
    * user×user rank theta join at exponent 2): the first term cumulates
    * the per-activity-level count table (distinct activity levels are
    * bounded by max events/user, so the cumulation is a broadcast theta
    * join over a tiny frame), the second is a row_number inside the act
    * partition — partition size = one tie class, never the user table.
    */
  def q_uplift_quartiles(spark: SparkSession, sf: String): DataFrame =
    upliftQuartilesOf(Tables.eventsWithTs(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("act"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select(col("user_id"), col("act"), col("np"), (col("user_id") % 2).as("arm")))

  /** The rank-decomposed core over a (user_id, act, np, arm) frame —
    * exposed to Round9OpsSpec's theta-join twin. */
  private[graft] def upliftQuartilesOf(u: DataFrame): DataFrame = {
    // tiny: one row per distinct activity level
    val actCnt = Mat.once(u.groupBy(col("act")).agg(count(lit(1)).as("cnt")))
    val below = actCnt.as("a")
      .join(broadcast(actCnt.select(col("act").as("act2"), col("cnt").as("cnt2"))),
        col("act2") < col("act"), "left_outer")
      .groupBy(col("a.act").as("act"))
      .agg(coalesce(sum(col("cnt2")), lit(0L)).as("below"))
    val ranked = u.join(broadcast(below), "act")
      .withColumn("rk", col("below") +
        (row_number().over(Window.partitionBy(col("act"))
          .orderBy(col("user_id"))) - 1).cast("long"))
      .select(col("user_id"), col("act"), col("np"), col("arm"), col("rk"))
    val n = u.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .select(expr("least(3, rk * 4 div n)").as("quartile"), col("arm"),
        col("act"), col("np"))
      .groupBy(col("quartile"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("arm") === 1, col("np")).otherwise(0L)).as("p_treat"),
        sum(when(col("arm") === 0, col("np")).otherwise(0L)).as("p_ctrl"))
      .select(col("quartile"), col("n_treat"), col("n_ctrl"),
        expr("p_treat * 10000 div greatest(n_treat, CAST(1 AS BIGINT))").as("rate_treat_e4"),
        expr("p_ctrl * 10000 div greatest(n_ctrl, CAST(1 AS BIGINT))").as("rate_ctrl_e4"),
        (expr("p_treat * 10000 div greatest(n_treat, CAST(1 AS BIGINT))")
          - expr("p_ctrl * 10000 div greatest(n_ctrl, CAST(1 AS BIGINT))")).as("uplift_e4"))
      .orderBy("quartile")
  }

  /** Exposure-based ranking fairness: the revenue brand ranking's
    * 1/log₂(rank+1) exposure mass split by brand-number parity, against
    * the groups' item shares — whether a ranking's attention matches
    * representation, the metric behind fairness-of-exposure re-ranking.
    */
  def q_exposure_fairness(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    val ranked = g.as("a")
      .join(g.select(col("brand").as("b2"), col("rev").as("r2")).as("b"),
        col("r2") > col("rev") || (col("r2") === col("rev") && col("b2") < col("brand")),
        "left_outer")
      .groupBy(col("a.brand").as("brand"))
      .agg((count(col("b2")) + 1L).as("rank"))
      .select(col("brand"), col("rank"),
        (split(col("brand"), "#").getItem(1).cast("long") % 2).as("grp"),
        expr("1.0 / (ln(CAST(rank + 1 AS DOUBLE)) / ln(2.0))").as("exposure"))
    val tot = ranked.agg(count(lit(1)).as("nb"), sum(col("exposure")).as("te"))
    ranked.crossJoin(broadcast(tot))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_brands"),
        (round(sum(expr("exposure / te")), 6) + lit(0.0)).as("exposure_share"),
        (round(expr("CAST(COUNT(1) AS DOUBLE) / CAST(MAX(nb) AS DOUBLE)"), 6) + lit(0.0))
          .as("item_share"))
      .orderBy("grp")
  }

  /** Hypergeometric enrichment of the token "fast" in English documents
    * vs the whole corpus: observed count against the hypergeometric
    * mean/variance (normal approximation z) plus the e4 fold enrichment
    * — the over-representation test run on every corpus slice before
    * claiming a subcorpus "talks differently".
    */
  def q_enrichment_test(spark: SparkSession, sf: String): DataFrame = {
    val toks = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
    val st = toks.agg(count(lit(1)).as("nn"),
      sum(when(col("w") === "fast", 1L).otherwise(0L)).as("kk"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      sum(when(col("lang") === "en" && col("w") === "fast", 1L).otherwise(0L)).as("k_en"))
    st.select(col("nn").as("corpus_tokens"), col("kk").as("corpus_fast"),
      col("n_en").as("en_tokens"), col("k_en").as("en_fast"),
      (round(expr(
        """(CAST(k_en AS DOUBLE) - CAST(n_en AS DOUBLE) * CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
           / SQRT(CAST(n_en AS DOUBLE) * (CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
                  * (1.0 - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
                  * (CAST(nn - n_en AS DOUBLE) / CAST(nn - 1 AS DOUBLE)))"""), 4)
        + lit(0.0)).as("enrichment_z"),
      expr("CAST(CAST(k_en AS decimal(38,0)) * nn * 10000 div (CAST(n_en AS decimal(38,0)) * kk) AS BIGINT)")
        .as("fold_enrichment_e4"))
  }

  /** Borda-count rank aggregation of the revenue / quantity / order-count
    * brand rankings into one consensus list: score = Σ(n − rankᵢ), all
    * exact integers — the consensus companion to the Kendall-W agreement
    * number. Top 10 with the three component ranks shown.
    */
  def q_borda_count(spark: SparkSession, sf: String): DataFrame = {
    val g = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("m1"),
        sum(col("l_quantity").cast("long")).as("m2"),
        countDistinct(col("l_orderkey")).as("m3"))
    def rank(metric: String, as: String): DataFrame =
      g.as("a").join(g.select(col("brand").as("b2"), col(metric).as("v2")).as("b"),
        col("v2") > col(metric) ||
          (col("v2") === col(metric) && col("b2") < col("brand")), "left_outer")
        .groupBy(col("a.brand").as("brand")).agg((count(col("b2")) + 1L).as(as))
    val ranks = rank("m1", "r1").join(rank("m2", "r2"), "brand")
      .join(rank("m3", "r3"), "brand")
    val n = g.agg(count(lit(1)).as("n"))
    ranks.crossJoin(broadcast(n))
      .select(col("brand"), col("r1"), col("r2"), col("r3"),
        (col("n") * 3 - col("r1") - col("r2") - col("r3")).as("borda_score"))
      .orderBy(col("borda_score").desc, col("brand").asc)
      .limit(10)
  }

  /** One ChiMerge step for supervised discretization of quantity against
    * the return-flag classes: the χ² of every ADJACENT value pair's 2×3
    * table (dense integer support, so adjacency is f+1), lowest-χ² pairs
    * merge first. Exact counts; the 5 most mergeable boundaries shown —
    * the bottom-up partner of the top-down q_tree_split.
    */
  def q_chimerge_step(spark: SparkSession, sf: String): DataFrame = {
    val h = Tables.lineitem(spark, sf)
      .groupBy(col("l_quantity").cast("long").as("f"))
      .agg(sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("ca"),
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cn"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cr"))
    val pairs = h.as("a")
      .join(h.select((col("f") - 1).as("f"), col("ca").as("ca2"), col("cn").as("cn2"),
        col("cr").as("cr2")).as("b"), Seq("f"))
      .select(col("f"), (col("ca") + col("cn") + col("cr")).as("n1"),
        (col("ca2") + col("cn2") + col("cr2")).as("n2"),
        col("ca"), col("cn"), col("cr"), col("ca2"), col("cn2"), col("cr2"))
    def cell(o: String, rowN: String, colSum: String): String =
      s"""(CAST($o AS DOUBLE) - CAST($rowN AS DOUBLE) * CAST($colSum AS DOUBLE)
           / CAST(n1 + n2 AS DOUBLE))
          * (CAST($o AS DOUBLE) - CAST($rowN AS DOUBLE) * CAST($colSum AS DOUBLE)
             / CAST(n1 + n2 AS DOUBLE))
          / (CAST($rowN AS DOUBLE) * CAST($colSum AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"""
    pairs
      .select(col("f").as("boundary_low"), (col("f") + 1).as("boundary_high"),
        (round(expr(
          cell("ca", "n1", "(ca + ca2)") + "+" + cell("cn", "n1", "(cn + cn2)") + "+" +
            cell("cr", "n1", "(cr + cr2)") + "+" + cell("ca2", "n2", "(ca + ca2)") + "+" +
            cell("cn2", "n2", "(cn + cn2)") + "+" + cell("cr2", "n2", "(cr + cr2)")),
          4) + lit(0.0)).as("chi2"))
      .orderBy(col("chi2").asc, col("boundary_low").asc)
      .limit(5)
  }

  /** Sign test for the hypothesis "median order total = $1500": counts
    * above/below, the normal-approximation z, and the decision at 1.96 —
    * the assumption-free location test that needs nothing but counts.
    */
  def q_sign_test(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select(cents(col("o_totalprice")).as("tp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("tp") > 150000L, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("tp") < 150000L, 1L).otherwise(0L)).as("n_below"),
        sum(when(col("tp") === 150000L, 1L).otherwise(0L)).as("n_ties"))
      .select(col("n"), col("n_above"), col("n_below"), col("n_ties"),
        (round(expr(
          """(CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE))
             / SQRT(CAST(n_above + n_below AS DOUBLE))"""), 4) + lit(0.0)).as("z"))
      .select(col("n"), col("n_above"), col("n_below"), col("n_ties"), col("z"),
        when(abs(col("z")) > 1.96, 1L).otherwise(0L).as("reject_median_150k"))

  /** Cronbach's alpha over a 4-item "scale": each customer's 1997
    * quarterly revenue (missing quarters = 0 — absence is signal for a
    * consistency measure). α = k/(k−1)·(1 − Σvar_item/var_total) asks
    * whether quarters move together per customer. Item variances are
    * population moments of exact cent sums; only the final ratio is
    * float, and it is dimensionless.
    */
  def q_cronbach_alpha(spark: SparkSession, sf: String): DataFrame = {
    val items = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1997)
      .groupBy(col("o_custkey"))
      .agg(sum(when(quarter(col("o_orderdate")) === 1, cents(col("o_totalprice")))
          .otherwise(0L)).as("q1"),
        sum(when(quarter(col("o_orderdate")) === 2, cents(col("o_totalprice")))
          .otherwise(0L)).as("q2"),
        sum(when(quarter(col("o_orderdate")) === 3, cents(col("o_totalprice")))
          .otherwise(0L)).as("q3"),
        sum(when(quarter(col("o_orderdate")) === 4, cents(col("o_totalprice")))
          .otherwise(0L)).as("q4"))
      .withColumn("t", col("q1") + col("q2") + col("q3") + col("q4"))
    def popVar(n: Column, s: Column, ss: Column): Column =
      ss / n - (s / n) * (s / n)
    items.agg(count(lit(1)).as("n"),
        sum(col("q1")).as("s1"), sum(col("q1").cast("decimal(38,0)") * col("q1")).as("ss1"),
        sum(col("q2")).as("s2"), sum(col("q2").cast("decimal(38,0)") * col("q2")).as("ss2"),
        sum(col("q3")).as("s3"), sum(col("q3").cast("decimal(38,0)") * col("q3")).as("ss3"),
        sum(col("q4")).as("s4"), sum(col("q4").cast("decimal(38,0)") * col("q4")).as("ss4"),
        sum(col("t")).as("st"), sum(col("t").cast("decimal(38,0)") * col("t")).as("sst"))
      .select(col("n"),
        ((popVar(col("n").cast("double"), col("s1").cast("double"), col("ss1").cast("double"))
          + popVar(col("n").cast("double"), col("s2").cast("double"), col("ss2").cast("double"))
          + popVar(col("n").cast("double"), col("s3").cast("double"), col("ss3").cast("double"))
          + popVar(col("n").cast("double"), col("s4").cast("double"), col("ss4").cast("double")))
          / popVar(col("n").cast("double"), col("st").cast("double"), col("sst").cast("double")))
          .as("var_ratio"))
      .select(col("n").as("n_customers"),
        (round(col("var_ratio"), 4) + lit(0.0)).as("item_total_var_ratio"),
        (round((lit(4.0) / lit(3.0)) * (lit(1.0) - col("var_ratio")), 4) + lit(0.0))
          .as("cronbach_alpha"))
  }

  /** Murphy decomposition of the Brier score for a grouped forecaster:
    * train on pre-mid-1998 shipments to get each brand's return rate p_k,
    * score on later shipments (outcome: returnflag = 'R'). Brier =
    * REL − RES + UNC with the brand as the binning unit; the identity
    * check must come back 0.0. Everything is ratios of exact counts —
    * the canonical "is my calibrated model actually resolving anything"
    * diagnostic at corpus scale.
    */
  def q_brier_decomposition(spark: SparkSession, sf: String): DataFrame = {
    val branded = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("l_shipdate"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("o"))
    val train = branded.filter(col("l_shipdate") < lit("1998-07-01").cast("date"))
      .groupBy(col("brand"))
      .agg((sum(col("o")).cast("double") / count(lit(1)).cast("double")).as("p"))
    val ev = Mat.once(branded.filter(col("l_shipdate") >= lit("1998-07-01").cast("date"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("nk"), sum(col("o")).as("sk"))
      .join(broadcast(train), "brand"))
    val tot = ev.agg(sum(col("nk")).as("nn"), sum(col("sk")).as("so"))
      .select(col("nn"), (col("so").cast("double") / col("nn").cast("double")).as("obar"))
    ev.crossJoin(broadcast(tot))
      .select(col("nn"), col("obar"),
        (col("nk").cast("double") * (col("p") - col("sk").cast("double") / col("nk").cast("double"))
          * (col("p") - col("sk").cast("double") / col("nk").cast("double"))).as("rel_k"),
        (col("nk").cast("double")
          * (col("sk").cast("double") / col("nk").cast("double") - col("obar"))
          * (col("sk").cast("double") / col("nk").cast("double") - col("obar"))).as("res_k"),
        (col("nk").cast("double") * col("p") * col("p")
          - lit(2.0) * col("p") * col("sk").cast("double")
          + col("sk").cast("double")).as("brier_k"))
      .groupBy(col("nn"), col("obar"))
      .agg(sum(col("rel_k")).as("rel"), sum(col("res_k")).as("res"),
        sum(col("brier_k")).as("brier"))
      .select(col("nn").as("n_eval"),
        (round(col("brier") / col("nn").cast("double"), 4) + lit(0.0)).as("brier"),
        (round(col("rel") / col("nn").cast("double"), 4) + lit(0.0)).as("reliability"),
        (round(col("res") / col("nn").cast("double"), 4) + lit(0.0)).as("resolution"),
        (round(col("obar") * (lit(1.0) - col("obar")), 4) + lit(0.0)).as("uncertainty"),
        (round(col("brier") / col("nn").cast("double")
          - (col("rel") / col("nn").cast("double")
            - col("res") / col("nn").cast("double")
            + col("obar") * (lit(1.0) - col("obar"))), 4) + lit(0.0)).as("identity_check"))
  }

  /** Benjamini–Hochberg step-up FDR control (α=0.10) across 25
    * per-nation mean-order-value z-tests: two-sided p-values via the
    * logistic approximation to the normal CDF (p = 2/(1+e^{1.702|z|}),
    * pre-rounded to 7 decimals in both engines so a boundary ulp can
    * never flip a rejection), ranked by (p, nationkey) with a bounded
    * theta join, rejecting all ranks ≤ max{i : p_(i) ≤ i·α/m}. More
    * powerful than the Holm correction already in §2 — the pair shows
    * FWER vs FDR on the same data.
    */
  def q_benjamini_hochberg(spark: SparkSession, sf: String): DataFrame = {
    val joined = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"), cents(col("o_totalprice")).as("tp")))
    val g = joined.agg(count(lit(1)).as("n"), sum(col("tp")).as("s"),
        sum(col("tp").cast("decimal(38,0)") * col("tp")).as("ss"))
      .select((col("s").cast("double") / col("n").cast("double")).as("mu"),
        sqrt(col("ss").cast("double") / col("n").cast("double")
          - (col("s").cast("double") / col("n").cast("double"))
            * (col("s").cast("double") / col("n").cast("double"))).as("sigma"))
    val pvals = Mat.once(joined.groupBy(col("nk"))
      .agg(count(lit(1)).as("ni"), sum(col("tp")).as("si"))
      .crossJoin(broadcast(g))
      .select(col("nk"), col("ni"),
        ((col("si").cast("double") / col("ni").cast("double") - col("mu"))
          / (col("sigma") / sqrt(col("ni").cast("double")))).as("z"))
      .select(col("nk"), col("ni"), col("z"),
        round(lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("z")))), 7).as("p")))
    val m = pvals.agg(count(lit(1)).as("m"))
    val ranked = pvals.as("a")
      .join(pvals.select(col("p").as("p2"), col("nk").as("nk2")).as("b"),
        col("p2") < col("a.p") || (col("p2") === col("a.p") && col("nk2") <= col("a.nk")))
      .groupBy(col("a.nk").as("nk"), col("a.ni").as("ni"), col("a.z").as("z"),
        col("a.p").as("p"))
      .agg(count(lit(1)).as("bh_rank"))
      .crossJoin(broadcast(m))
      .withColumn("passes",
        when(col("p") <= col("bh_rank").cast("double") * lit(0.10)
          / col("m").cast("double"), 1L).otherwise(0L))
    val kstar = ranked.agg(coalesce(max(when(col("passes") === 1, col("bh_rank"))),
      lit(0L)).as("kstar"))
    ranked.crossJoin(broadcast(kstar))
      .select(col("nk").as("nationkey"), col("ni").as("n_orders"),
        (round(col("z"), 4) + lit(0.0)).as("z"),
        (col("p") + lit(0.0)).as("p_approx"), col("bh_rank"),
        when(col("bh_rank") <= col("kstar"), 1L).otherwise(0L).as("rejected"))
      .orderBy("nationkey")
  }

  /** McNemar paired test comparing two rule classifiers of returned
    * items (returnflag = 'R') on the same line items — A: discount
    * ≥ 0.05; B: quantity > 25. Discordant counts b (A right, B wrong)
    * and c (B right, A wrong); χ² = (b−c)²/(b+c) plus the
    * continuity-corrected variant — all from exact integer counts, so
    * the reject flag is bit-safe.
    */
  def q_mcnemar(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select((col("l_returnflag") === "R").as("t"),
        (col("l_discount") >= 0.05).as("pa"),
        (col("l_quantity") > 25).as("pb"))
      .select((col("pa") === col("t")).as("ra"), (col("pb") === col("t")).as("rb"))
      .agg(sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("c"))
      .select(col("b").as("a_only_right"), col("c").as("b_only_right"),
        (round((col("b") - col("c")).cast("double") * (col("b") - col("c")).cast("double")
          / (col("b") + col("c")).cast("double"), 4) + lit(0.0)).as("chi2"),
        (round((abs(col("b") - col("c")).cast("double") - lit(1.0))
          * (abs(col("b") - col("c")).cast("double") - lit(1.0))
          / (col("b") + col("c")).cast("double"), 4) + lit(0.0)).as("chi2_cc"),
        when((abs(col("b") - col("c")).cast("double") - lit(1.0))
          * (abs(col("b") - col("c")).cast("double") - lit(1.0))
          / (col("b") + col("c")).cast("double") > lit(3.841459), 1L)
          .otherwise(0L).as("classifiers_differ"))

  /** Cochran's Q test of whether customer purchase activity differs
    * across 1996/1997/1998 (k=3 matched binary treatments per customer
    * block): Q = (k−1)[kΣC_j² − (ΣC_j)²] / (kΣR_i − ΣR_i²) — every term
    * an exact integer count, so the reject flag is bit-safe.
    */
  def q_cochran_q(spark: SparkSession, sf: String): DataFrame = {
    val rows = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")).isin(1996, 1997, 1998))
      .groupBy(col("o_custkey"))
      .agg(max(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L)).as("y1"),
        max(when(year(col("o_orderdate")) === 1997, 1L).otherwise(0L)).as("y2"),
        max(when(year(col("o_orderdate")) === 1998, 1L).otherwise(0L)).as("y3"))
    rows.agg(count(lit(1)).as("n_blocks"),
        sum(col("y1")).as("c1"), sum(col("y2")).as("c2"), sum(col("y3")).as("c3"),
        sum((col("y1") + col("y2") + col("y3"))
          * (col("y1") + col("y2") + col("y3"))).as("srr"),
        sum(col("y1") + col("y2") + col("y3")).as("sr"))
      .select(col("n_blocks"), col("c1"), col("c2"), col("c3"),
        (lit(2.0) * (lit(3.0) * (col("c1") * col("c1") + col("c2") * col("c2")
          + col("c3") * col("c3")).cast("double")
          - (col("sr") * col("sr")).cast("double"))
          / (lit(3.0) * col("sr").cast("double") - col("srr").cast("double")))
          .as("q_raw"))
      .select(col("n_blocks"), col("c1"), col("c2"), col("c3"),
        (round(col("q_raw"), 4) + lit(0.0)).as("q_stat"),
        when(col("q_raw") > lit(5.991465), 1L).otherwise(0L).as("reject_equal"))
  }

  /** Storey's π₀ null-proportion estimate at λ = 0.5 over the same
    * per-nation p-surrogates as the BH query: π₀ = #{p > λ}/((1−λ)m),
    * with the raw-0.05 significant count — the standard multiple-
    * testing diagnostic before FDR thresholding.
    */
  def q_storey_pi0(spark: SparkSession, sf: String): DataFrame = {
    val joined = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"), cents(col("o_totalprice")).as("tp")))
    val g = joined.agg(count(lit(1)).as("n"), sum(col("tp")).as("s"),
        sum(col("tp").cast("decimal(38,0)") * col("tp")).as("ss"))
      .select((col("s").cast("double") / col("n").cast("double")).as("mu"),
        sqrt(col("ss").cast("double") / col("n").cast("double")
          - (col("s").cast("double") / col("n").cast("double"))
            * (col("s").cast("double") / col("n").cast("double"))).as("sigma"))
    joined.groupBy(col("nk"))
      .agg(count(lit(1)).as("ni"), sum(col("tp")).as("si"))
      .crossJoin(broadcast(g))
      .select(col("nk"),
        ((col("si").cast("double") / col("ni").cast("double") - col("mu"))
          / (col("sigma") / sqrt(col("ni").cast("double")))).as("z"))
      .select(round(lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("z")))), 7)
        .as("p"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("p") > 0.5, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("p") <= 0.05, 1L).otherwise(0L)).as("n_sig_raw"))
      .select(col("m"), col("n_above"), col("n_sig_raw"),
        (round(col("n_above").cast("double")
          / (lit(0.5) * col("m").cast("double")), 4) + lit(0.0)).as("pi0"))
  }

  /** One EM iteration for a two-component 1D Gaussian mixture on order
    * totals (dollars), from the fixed literal init μ=(100000, 300000),
    * σ² = 10¹⁰, π = ½: responsibilities collapse to a logistic in the
    * exact quadratic difference, then the M-step reweights — identical
    * IEEE trees on both engines.
    */
  def q_gmm_em_step(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .select((cents(col("o_totalprice")).cast("double") / lit(100.0)).as("x"))
      .select(col("x"),
        (lit(1.0) / (lit(1.0)
          + exp(((col("x") - lit(300000.0)) * (col("x") - lit(300000.0))
            - (col("x") - lit(100000.0)) * (col("x") - lit(100000.0)))
            / lit(2.0e10)))).as("r2"))
      .agg(count(lit(1)).as("n"), sum(col("r2")).as("sr2"),
        sum(col("r2") * col("x")).as("sx2"),
        sum((lit(1.0) - col("r2")) * col("x")).as("sx1"))
      .select(col("n").as("n_orders"),
        (round(col("sr2") / col("n").cast("double"), 4) + lit(0.0)).as("pi2_new"),
        (round(col("sx1") / (col("n").cast("double") - col("sr2")), 2) + lit(0.0))
          .as("mu1_new"),
        (round(col("sx2") / col("sr2"), 2) + lit(0.0)).as("mu2_new"))

  /** Propensity-stratum covariate balance: a fixed literal logit score
    * s = −2 + 30·discount + 0.02·quantity (pure IEEE arithmetic, no
    * libm, so stratum boundaries are bit-safe), five literal strata,
    * standardized difference of quantity between high-price "treated"
    * and the rest within each stratum.
    */
  def q_propensity_balance(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select((lit(-2.0) + lit(30.0) * col("l_discount")
        + lit(0.02) * col("l_quantity").cast("double")).as("s"),
        (col("l_extendedprice") > 30000.0).as("tr"),
        col("l_quantity").cast("long").as("q"))
      .select(when(col("s") < -1.0, 0L).when(col("s") < -0.5, 1L)
        .when(col("s") < 0.0, 2L).when(col("s") < 0.5, 3L).otherwise(4L)
        .as("stratum"), col("tr"), col("q"))
      .groupBy(col("stratum"))
      .agg(sum(when(col("tr"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("tr"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("tr"), col("q")).otherwise(0L)).as("sqt"),
        sum(when(!col("tr"), col("q")).otherwise(0L)).as("sqc"),
        sum(when(col("tr"), col("q") * col("q")).otherwise(0L)).as("sqqt"),
        sum(when(!col("tr"), col("q") * col("q")).otherwise(0L)).as("sqqc"))
      .filter(col("nt") > 0 && col("nc") > 0)
      .select(col("stratum"), col("nt"), col("nc"),
        (round((col("sqt").cast("double") / col("nt").cast("double")
          - col("sqc").cast("double") / col("nc").cast("double"))
          / sqrt(((col("sqqt").cast("double") / col("nt").cast("double")
            - (col("sqt").cast("double") / col("nt").cast("double"))
              * (col("sqt").cast("double") / col("nt").cast("double")))
            + (col("sqqc").cast("double") / col("nc").cast("double")
              - (col("sqc").cast("double") / col("nc").cast("double"))
                * (col("sqc").cast("double") / col("nc").cast("double"))))
            / lit(2.0)), 4) + lit(0.0)).as("std_diff_qty"))
      .orderBy("stratum")

  /** Benjamini–Yekutieli FDR (valid under arbitrary dependence) over
    * the same per-nation p-surrogates as BH: threshold rank·q/(m·c(m))
    * with c(m) = Σ1/i recovered exactly from the rank column itself.
    */
  def q_benjamini_yekutieli(spark: SparkSession, sf: String): DataFrame = {
    val joined = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"), cents(col("o_totalprice")).as("tp")))
    val g = joined.agg(count(lit(1)).as("n"), sum(col("tp")).as("s"),
        sum(col("tp").cast("decimal(38,0)") * col("tp")).as("ss"))
      .select((col("s").cast("double") / col("n").cast("double")).as("mu"),
        sqrt(col("ss").cast("double") / col("n").cast("double")
          - (col("s").cast("double") / col("n").cast("double"))
            * (col("s").cast("double") / col("n").cast("double"))).as("sigma"))
    val pvals = Mat.once(joined.groupBy(col("nk"))
      .agg(count(lit(1)).as("ni"), sum(col("tp")).as("si"))
      .crossJoin(broadcast(g))
      .select(col("nk"),
        ((col("si").cast("double") / col("ni").cast("double") - col("mu"))
          / (col("sigma") / sqrt(col("ni").cast("double")))).as("z"))
      .select(col("nk"),
        round(lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("z")))), 7).as("p")))
    val ranked = Mat.once(pvals.as("a")
      .join(pvals.select(col("p").as("p2"), col("nk").as("nk2")).as("b"),
        col("p2") < col("a.p") || (col("p2") === col("a.p") && col("nk2") <= col("a.nk")))
      .groupBy(col("a.nk").as("nk"), col("a.p").as("p"))
      .agg(count(lit(1)).as("rk")))
    val mc = ranked.agg(count(lit(1)).as("m"),
      sum(lit(1.0) / col("rk").cast("double")).as("cm"))
    val flagged = ranked.crossJoin(broadcast(mc))
      .withColumn("passes",
        when(col("p") <= col("rk").cast("double") * lit(0.10)
          / (col("m").cast("double") * col("cm")), 1L).otherwise(0L))
    val kstar = flagged.agg(coalesce(max(when(col("passes") === 1, col("rk"))),
      lit(0L)).as("kstar"))
    flagged.crossJoin(broadcast(kstar))
      .select(col("nk").as("nationkey"), (col("p") + lit(0.0)).as("p_approx"),
        col("rk").as("by_rank"), (round(col("cm"), 6) + lit(0.0)).as("c_m"),
        when(col("rk") <= col("kstar"), 1L).otherwise(0L).as("rejected"))
      .orderBy("nationkey")
  }

  /** Log loss (cross-entropy) and Brier-free skill of the literal
    * logistic score s = −2 + 30·discount + 0.02·quantity predicting
    * returns: LL = −mean[y ln p + (1−y)ln(1−p)] vs the base-rate
    * entropy, skill = 1 − LL/H₀.
    */
  def q_log_loss(spark: SparkSession, sf: String): DataFrame = {
    val scored = Tables.lineitem(spark, sf)
      .select((lit(1.0) / (lit(1.0) + exp(-(lit(-2.0) + lit(30.0) * col("l_discount")
        + lit(0.02) * col("l_quantity").cast("double"))))).as("p"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
    scored.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * log(col("p"))
          + (lit(1.0) - col("y")) * log(lit(1.0) - col("p"))).as("sll"))
      .select(col("n").as("n_items"),
        (col("sy") / col("n").cast("double")).as("base"),
        (-col("sll") / col("n").cast("double")).as("ll"))
      .select(col("n_items"), (round(col("ll"), 6) + lit(0.0)).as("log_loss"),
        (round(-(col("base") * log(col("base"))
          + (lit(1.0) - col("base")) * log(lit(1.0) - col("base"))), 6) + lit(0.0))
          .as("base_entropy"),
        (round(lit(1.0) - col("ll") / (-(col("base") * log(col("base"))
          + (lit(1.0) - col("base")) * log(lit(1.0) - col("base")))), 4)
          + lit(0.0)).as("skill_score"))
  }

  /** KS discrimination of the same literal logistic score between
    * returned and kept items: the supremum CDF gap on the bit-safe
    * e2-floored score lattice, kept exactly as |cum₁n₀ − cum₀n₁| before
    * one division.
    */
  def q_score_ks(spark: SparkSession, sf: String): DataFrame = {
    val cells = Mat.once(Tables.lineitem(spark, sf)
      .select(floor((lit(-2.0) + lit(30.0) * col("l_discount")
        + lit(0.02) * col("l_quantity").cast("double")) * lit(100.0))
        .cast("long").as("s"),
        (col("l_returnflag") === "R").as("ret"))
      .groupBy(col("s"))
      .agg(sum(when(col("ret"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("ret"), 1L).otherwise(0L)).as("c0")))
    val tot = cells.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"))
    cells.as("a")
      .join(cells.select(col("s").as("s2"), col("c1").as("c12"),
        col("c0").as("c02")).as("b"), col("s2") <= col("a.s"))
      .groupBy(col("a.s").as("s"))
      .agg(sum(col("c12")).as("cum1"), sum(col("c02")).as("cum0"))
      .crossJoin(broadcast(tot))
      .agg(max(col("n1")).as("n1"), max(col("n0")).as("n0"),
        max(abs(col("cum1") * col("n0") - col("cum0") * col("n1")))
          .as("supint"))
      .select(col("n1"), col("n0"),
        (round(col("supint").cast("double")
          / (col("n1").cast("double") * col("n0").cast("double")), 4) + lit(0.0))
          .as("ks_discrimination"))
  }

  /** Fisher's combined −2Σln p (χ²₂ₘ) and Stouffer's Σz/√m over the
    * per-nation p-surrogates of the BH pipeline — the two canonical
    * p-value pooling rules side by side.
    */
  def q_fisher_combined(spark: SparkSession, sf: String): DataFrame = {
    val joined = Mat.once(Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"), cents(col("o_totalprice")).as("tp")))
    val g = joined.agg(count(lit(1)).as("n"), sum(col("tp")).as("s"),
        sum(col("tp").cast("decimal(38,0)") * col("tp")).as("ss"))
      .select((col("s").cast("double") / col("n").cast("double")).as("mu"),
        sqrt(col("ss").cast("double") / col("n").cast("double")
          - (col("s").cast("double") / col("n").cast("double"))
            * (col("s").cast("double") / col("n").cast("double"))).as("sigma"))
    joined.groupBy(col("nk"))
      .agg(count(lit(1)).as("ni"), sum(col("tp")).as("si"))
      .crossJoin(broadcast(g))
      .select(((col("si").cast("double") / col("ni").cast("double") - col("mu"))
        / (col("sigma") / sqrt(col("ni").cast("double")))).as("z"))
      .select(col("z"),
        round(lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("z")))), 7).as("p"))
      .agg(count(lit(1)).as("m"), sum(-lit(2.0) * log(col("p"))).as("fisher"),
        sum(col("z")).as("sz"))
      .select(col("m").as("n_tests"), (lit(2L) * col("m")).as("df"),
        (round(col("fisher"), 4) + lit(0.0)).as("fisher_chi2"),
        (round(col("sz") / sqrt(col("m").cast("double")), 4) + lit(0.0))
          .as("stouffer_z"))
  }

  /** Tetrachoric correlation (cosine approximation) and Yule's Q for
    * the deep-discount × returned 2×2 table: r ≈ cos(π/(1+√(ad/bc))),
    * Q = (ad−bc)/(ad+bc) — exact counts, pre-rounded π literal.
    */
  def q_tetrachoric(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select((col("l_discount") >= 0.06).as("expo"),
        (col("l_returnflag") === "R").as("ret"))
      .agg(sum(when(col("expo") && col("ret"), 1L).otherwise(0L)).as("a"),
        sum(when(col("expo") && !col("ret"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("expo") && col("ret"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("expo") && !col("ret"), 1L).otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        (round((col("a").cast("double") * col("d").cast("double")
          - col("b").cast("double") * col("c").cast("double"))
          / (col("a").cast("double") * col("d").cast("double")
            + col("b").cast("double") * col("c").cast("double")), 4) + lit(0.0))
          .as("yule_q"),
        (round(cos(lit(3.1415927) / (lit(1.0)
          + sqrt(col("a").cast("double") * col("d").cast("double")
            / (col("b").cast("double") * col("c").cast("double"))))), 4) + lit(0.0))
          .as("tetrachoric_r"))

  /** Matthews correlation, Youden's J and balanced accuracy of the
    * deep-discount rule (discount ≥ 0.05) predicting returned items:
    * exact confusion counts, the 4-factor denominator multiplied in
    * doubles so it survives any SF.
    */
  def q_mcc_youden(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select((col("l_discount") >= 0.05).as("pred"),
        (col("l_returnflag") === "R").as("t"))
      .agg(sum(when(col("pred") && col("t"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("t"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("t"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("t"), 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        (round((col("tp").cast("double") * col("tn").cast("double")
          - col("fp").cast("double") * col("fn").cast("double"))
          / sqrt((col("tp") + col("fp")).cast("double")
            * (col("tp") + col("fn")).cast("double")
            * (col("tn") + col("fp")).cast("double")
            * (col("tn") + col("fn")).cast("double")), 4) + lit(0.0)).as("mcc"),
        (round(col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
          + col("tn").cast("double") / (col("tn") + col("fp")).cast("double")
          - lit(1.0), 4) + lit(0.0)).as("youden_j"),
        (round((col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
          + col("tn").cast("double") / (col("tn") + col("fp")).cast("double"))
          / lit(2.0), 4) + lit(0.0)).as("balanced_acc"))

  /** Fleiss' kappa across three rule raters of line items (deep
    * discount, bulk quantity, high price as binary "flag" votes):
    * per-item agreement P_i = (y(y−1) + (3−y)(2−y))/6, chance
    * agreement from the pooled yes-share — exact integer sums
    * throughout, one double epilogue.
    */
  def q_fleiss_kappa(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .select((when(col("l_discount") >= 0.05, 1L).otherwise(0L)
        + when(col("l_quantity") > 25, 1L).otherwise(0L)
        + when(col("l_extendedprice") > 30000.0, 1L).otherwise(0L)).as("y"))
      .agg(count(lit(1)).as("n_items"), sum(col("y")).as("sy"),
        sum(col("y") * (col("y") - 1L)
          + (lit(3L) - col("y")) * (lit(2L) - col("y"))).as("agree6"))
      .select(col("n_items"),
        (col("agree6").cast("double")
          / (lit(6.0) * col("n_items").cast("double"))).as("pbar"),
        (col("sy").cast("double")
          / (lit(3.0) * col("n_items").cast("double"))).as("pyes"))
      .select(col("n_items"), (round(col("pbar"), 4) + lit(0.0)).as("p_agree"),
        (round(col("pyes"), 4) + lit(0.0)).as("p_yes"),
        (round((col("pbar")
          - (col("pyes") * col("pyes")
            + (lit(1.0) - col("pyes")) * (lit(1.0) - col("pyes"))))
          / (lit(1.0)
            - (col("pyes") * col("pyes")
              + (lit(1.0) - col("pyes")) * (lit(1.0) - col("pyes")))), 4)
          + lit(0.0)).as("fleiss_kappa"))

  /** Viterbi decoding of the most probable 3-step event-type path under
    * the first-order Markov chain (HMM decode, the dynamic-programming
    * classic): start distribution = each user's FIRST event type,
    * transitions = the [[GraphMl.transitionEdges]] graph. True DP — one
    * per-state max-join per step over the |types|² transition table
    * (never path enumeration), so decode depth is linear work at any
    * alphabet size. Scores are ln-probabilities e8-rounded per edge
    * BEFORE the 3-term integer sum (exact on both engines); ties →
    * lexicographically larger predecessor (the max(struct) rule, pinned).
    */
  def q_viterbi_path(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_usl").asc, col("event_id").asc)
    // ≤|types| rows; the total AND the start scores read it — lazy,
    // the per-user first-event window pass ran twice
    val starts = Mat.once(ev
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("event_type").as("s0")).agg(count(lit(1)).as("c")))
    val nUsers = starts.agg(sum(col("c")).as("tot"))
    val s0 = starts.crossJoin(broadcast(nUsers))
      .select(col("s0"),
        round(log(col("c").cast("double") / col("tot").cast("double")) * 1e8)
          .cast("long").as("sc0"))
    // |types|²-bounded; both DP steps read it — lazy, the events window
    // pass behind transitionEdges ran twice
    val tr = Mat.once(GraphMl.transitionEdges(spark, sf)
      .select(col("src"), col("dst"),
        round(log(col("w").cast("double") / col("out_w").cast("double")) * 1e8)
          .cast("long").as("lt")))
    val v1 = s0.join(tr, col("s0") === col("src"))
      .groupBy(col("dst").as("s1"))
      .agg(max(struct((col("sc0") + col("lt")).as("sc"), col("s0"))).as("m"))
      .select(col("s1"), col("m.sc").as("sc1"), col("m.s0").as("p0"))
    val v2 = v1.join(tr, col("s1") === col("src"))
      .groupBy(col("dst").as("s2"))
      .agg(max(struct((col("sc1") + col("lt")).as("sc"), col("s1"), col("p0"))).as("m"))
      .select(col("s2"), col("m.sc").as("sc2"), col("m.s1").as("p1"), col("m.p0").as("p0"))
    v2.agg(max(struct(col("sc2").as("sc"), col("s2"), col("p1"), col("p0"))).as("m"))
      .select(col("m.p0").as("step0"), col("m.p1").as("step1"),
        col("m.s2").as("step2"), col("m.sc").as("score_e8"))
  }

  /** HMM forward pass (sum-product sibling of [[q_viterbi_path]]'s
    * max-product): the MARGINAL state distribution after 1 and 2
    * transitions from the per-user start distribution, αₜ₊₁(s') =
    * Σₛ αₜ(s)·P(s,s'). Each product term is e12-latticed before the
    * order-free sum, and the second step consumes the first step's
    * integer lattice — so both engines propagate identical integers
    * through both matrix-vector products. Everything after the edge
    * aggregate is |types|²-bounded.
    */
  def q_hmm_forward(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_usl").asc, col("event_id").asc)
    // ≤|types| rows; the user total AND the α₂ product read it — lazy,
    // the per-user first-event window pass ran twice
    val starts = Mat.once(ev
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("event_type").as("s0")).agg(count(lit(1)).as("c")))
    val nUsers = starts.agg(sum(col("c")).as("tot"))
    // |types|²-bounded; both matrix-vector products below read it — lazy,
    // the full events window pass behind transitionEdges ran twice
    val tr = Mat.once(GraphMl.transitionEdges(spark, sf))
    // ≤|types| rows; read by the α₃ product AND the final join
    val a2 = Mat.once(starts.crossJoin(broadcast(nUsers))
      .join(tr, col("s0") === col("src"))
      .select(col("dst"),
        round((col("c").cast("double") / col("tot").cast("double")) *
          (col("w").cast("double") / col("out_w").cast("double")) * lit(1e12))
          .cast("long").as("t_e12"))
      .groupBy(col("dst").as("state"))
      .agg(sum(col("t_e12")).as("a2_e12")))
    val a3 = a2
      .join(tr, col("state") === col("src"))
      .select(col("dst"),
        round((col("a2_e12").cast("double") / lit(1e12)) *
          (col("w").cast("double") / col("out_w").cast("double")) * lit(1e12))
          .cast("long").as("t_e12"))
      .groupBy(col("dst").as("state"))
      .agg(sum(col("t_e12")).as("a3_e12"))
    a2.join(a3, Seq("state"), "full_outer")
      .select(col("state"),
        (round(coalesce(col("a2_e12"), lit(0L)).cast("double") / lit(1e12), 6)
          + lit(0.0)).as("alpha2"),
        (round(coalesce(col("a3_e12"), lit(0L)).cast("double") / lit(1e12), 6)
          + lit(0.0)).as("alpha3"))
      .orderBy("state")
  }

  /** One AdaBoost round (uniform initial weights) for the returns
    * classifier y = ±1 (R vs not) over the 11-threshold discount-pct
    * stump family × 2 polarities: weighted error = plain error counts
    * (exact integers) in round 1, best stump by (err, t, polarity)
    * total order, α = ½ln((n−e)/e) and the normalizer Z = 2√(ε(1−ε))
    * one epilogue. Lattice aggregate + a 22-row broadcast stump grid —
    * no per-row model state at any scale.
    */
  def q_adaboost_round(spark: SparkSession, sf: String): DataFrame = {
    val cell = Mat.once(Tables.lineitem(spark, sf)
      .select(pct(col("l_discount")).as("d"),
        when(col("l_returnflag") === "R", 1L).otherwise(-1L).as("y"))
      .groupBy(col("d"), col("y")).agg(count(lit(1)).as("c")))
    val stumps = spark.range(0, 11).select(col("id").as("t"))
      .crossJoin(spark.range(0, 2).select((col("id") * 2L - 1L).as("p")))
    val err = cell.crossJoin(broadcast(stumps))
      .select(col("t"), col("p"), col("c"),
        when(col("d") >= col("t"), col("p")).otherwise(-col("p")).as("pred"),
        col("y"))
      .groupBy(col("t"), col("p"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("pred") =!= col("y"), col("c")).otherwise(0L)).as("e"))
    val eD = col("e").cast("double")
    val nD = col("n").cast("double")
    err.orderBy(col("e").asc, col("t").asc, col("p").asc).limit(1)
      .select(col("t").as("threshold"), col("p").as("polarity"),
        col("n"), col("e").as("n_err"),
        (round(eD / nD, 6) + lit(0.0)).as("err_rate"),
        (round(lit(0.5) * log((nD - eD) / eD), 6) + lit(0.0)).as("alpha"),
        (round(lit(2.0) * sqrt(eD / nD * (lit(1.0) - eD / nD)), 6)
          + lit(0.0)).as("z_norm"))
  }

  /** Rare-category collapsing audit for the part-type feature: any
    * category with share < 1% (exact integer rule 100·n < N) folds into
    * OTHER. Reports cardinality before/after, rows folded and the OTHER
    * share — the cardinality-control step before one-hot/target
    * encoding. One aggregate + one broadcast total.
    */
  def q_rare_category_collapse(spark: SparkSession, sf: String): DataFrame = {
    val cat = Mat.once(Tables.part(spark, sf)
      .groupBy(col("p_type")).agg(count(lit(1)).as("n")))
    val tot = cat.agg(sum(col("n")).as("nn"), count(lit(1)).as("n_before"))
    cat.crossJoin(broadcast(tot))
      .select(col("nn"), col("n_before"),
        when(col("n") * 100L < col("nn"), 1L).otherwise(0L).as("rare"),
        col("n"))
      .groupBy(col("nn"), col("n_before"))
      .agg(sum(col("rare")).as("n_collapsed"),
        sum(when(col("rare") === 1L, col("n")).otherwise(0L)).as("rows_other"))
      .select(col("n_before"),
        (col("n_before") - col("n_collapsed")
          + when(col("n_collapsed") > 0L, 1L).otherwise(0L)).as("n_after"),
        col("n_collapsed"), col("rows_other"),
        expr("rows_other * 1000000 div nn").as("other_share_e6"))
  }

  /** Diagnostic likelihood ratios of the discount-rule returns detector
    * (the [[q_mcc_youden]] 2×2 read as a screening test): sensitivity,
    * specificity, LR⁺ = sens/(1−spec), LR⁻ = (1−sens)/spec and the
    * diagnostic odds ratio — exact counts, one epilogue each.
    */
  def q_likelihood_ratios(spark: SparkSession, sf: String): DataFrame = {
    val c2 = Tables.lineitem(spark, sf)
      .select((col("l_discount") >= 0.05).as("pred"),
        (col("l_returnflag") === "R").as("t"))
      .agg(sum(when(col("pred") && col("t"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("t"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("t"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("t"), 1L).otherwise(0L)).as("tn"))
    val sens = col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
    val spec = col("tn").cast("double") / (col("tn") + col("fp")).cast("double")
    c2.select(col("tp"), col("fp"), col("fn"), col("tn"),
      (round(sens, 6) + lit(0.0)).as("sensitivity"),
      (round(spec, 6) + lit(0.0)).as("specificity"),
      (round(sens / (lit(1.0) - spec), 4) + lit(0.0)).as("lr_pos"),
      (round((lit(1.0) - sens) / spec, 4) + lit(0.0)).as("lr_neg"),
      (round(sens / (lit(1.0) - spec) / ((lit(1.0) - sens) / spec), 4)
        + lit(0.0)).as("dor"))
  }

  /** Hosmer–Lemeshow calibration χ² over the [[q_calibration_bins]]
    * construct (soft-sign score of the first-8-dim embedding sum, odd
    * label as outcome, 10 fixed e6-score bins — fixed BANDS, not rank
    * deciles, so no global sort at any scale): per-bin term
    * (O−n·p̄)²/(n·p̄(1−p̄)) from exact integer counts, e8-latticed
    * BEFORE the order-free sum; df = bins − 2.
    */
  def q_hosmer_lemeshow(spark: SparkSession, sf: String): DataFrame = {
    val s = col("s_e7").cast("double") / lit(1e7)
    val p = lit(0.5) + s / (lit(2.0) * (lit(1.0) + abs(s)))
    val bins = Tables.embeddings(spark, sf)
      .select(col("label"),
        expr("aggregate(transform(slice(embedding, 1, 8)," +
          " v -> CAST(ROUND(CAST(v AS DOUBLE) * 1e7) AS BIGINT))," +
          " CAST(0 AS BIGINT), (a, x) -> a + x)").as("s_e7"))
      .select(col("label"), round(p * lit(1e6)).cast("long").as("p_e6"))
      .select(col("label"), col("p_e6"),
        least(lit(9L), expr("p_e6 div 100000")).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p_e6")).as("sp"),
        sum(when(col("label") % 2 === 1, 1L).otherwise(0L)).as("n_pos"))
    val pbar = col("sp").cast("double") / (col("n").cast("double") * lit(1e6))
    val e = col("n").cast("double") * pbar
    val term = ((col("n_pos").cast("double") - e) * (col("n_pos").cast("double") - e)
      / (e * (lit(1.0) - pbar)))
    bins
      .select(round(term * lit(1e8)).cast("long").as("t_e8"))
      .agg(count(lit(1)).as("n_bins"), sum(col("t_e8")).as("s_e8"))
      .select(col("n_bins"), (col("n_bins") - 2L).as("df"),
        (round(col("s_e8").cast("double") / lit(1e8), 4) + lit(0.0)).as("hl_chi2"))
  }

  /** One ALS user half-step (rank 2, λ=0.1) on the implicit
    * customer×brand rating matrix (rating = distinct orders containing
    * the brand). Item factors are a fixed deterministic e4 lattice from
    * the shared md5 hash (what a converged factor table looks like to
    * the solver — the update math is identical), so each user's ridge
    * normal equations accumulate as exact BIGINT sums and the 2×2
    * closed-form solve is one fixed IEEE tree. This is the half-step
    * every distributed ALS iterates: broadcast item factors, one
    * user-keyed aggregate, no shuffle beyond the ratings group-by.
    */
  def q_als_user_step(spark: SparkSession, sf: String): DataFrame = {
    val ratings = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust"))
      .join(Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")), "ok")
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))), "pk")
      .select(col("cust"), col("brand"), col("ok")).distinct()
      .groupBy(col("cust"), col("brand"))
      .agg(count(lit(1)).as("r"))
    val factors = Tables.part(spark, sf).select(col("p_brand").as("brand")).distinct()
      .select(col("brand"),
        (pmod(graft.core.Det.hash32(col("brand")), lit(2001L)) - 1000L).as("v1"),
        (pmod(graft.core.Det.hash32(concat(col("brand"), lit("#2"))), lit(2001L))
          - 1000L).as("v2"))
    ratings.join(broadcast(factors), "brand")
      .groupBy(col("cust"))
      .agg(count(lit(1)).as("n_brands"), sum(col("r")).as("sum_r"),
        sum(col("v1") * col("v1")).as("a11"), sum(col("v1") * col("v2")).as("a12"),
        sum(col("v2") * col("v2")).as("a22"),
        sum(col("r") * col("v1")).as("b1"), sum(col("r") * col("v2")).as("b2"))
      .select(col("cust"), col("n_brands"), col("sum_r"),
        (round(expr(
          """((CAST(a22 AS DOUBLE) / 1e8 + 0.1) * (CAST(b1 AS DOUBLE) / 1e4)
              - (CAST(a12 AS DOUBLE) / 1e8) * (CAST(b2 AS DOUBLE) / 1e4))
             / ((CAST(a11 AS DOUBLE) / 1e8 + 0.1) * (CAST(a22 AS DOUBLE) / 1e8 + 0.1)
                - (CAST(a12 AS DOUBLE) / 1e8) * (CAST(a12 AS DOUBLE) / 1e8))"""), 6)
          + lit(0.0)).as("u1"),
        (round(expr(
          """((CAST(a11 AS DOUBLE) / 1e8 + 0.1) * (CAST(b2 AS DOUBLE) / 1e4)
              - (CAST(a12 AS DOUBLE) / 1e8) * (CAST(b1 AS DOUBLE) / 1e4))
             / ((CAST(a11 AS DOUBLE) / 1e8 + 0.1) * (CAST(a22 AS DOUBLE) / 1e8 + 0.1)
                - (CAST(a12 AS DOUBLE) / 1e8) * (CAST(a12 AS DOUBLE) / 1e8))"""), 6)
          + lit(0.0)).as("u2"))
      .orderBy(col("n_brands").desc, col("cust").asc)
      .limit(10)
  }

  /** Slope One deviation matrix on the same implicit ratings: for each
    * co-rated brand pair the mean rating difference (e6 integer ratio of
    * the exact diff sum). The pair build is user-bounded (≤ #brands per
    * user — never item², the same shape as the Apriori family); the
    * top-10 best-supported deviations are exactly the table the O(1)
    * Slope One predictor looks up at serve time.
    */
  def q_slope_one(spark: SparkSession, sf: String): DataFrame = {
    val ratings = Mat.once(Tables.orders(spark, sf)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust"))
      .join(Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")), "ok")
      .join(broadcast(Tables.part(spark, sf)
        .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))), "pk")
      .select(col("cust"), col("brand"), col("ok")).distinct()
      .groupBy(col("cust"), col("brand"))
      .agg(count(lit(1)).as("r")))
    ratings.as("a")
      .join(ratings.as("b"),
        col("a.cust") === col("b.cust") && col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_i"), col("b.brand").as("brand_j"))
      .agg(count(lit(1)).as("n_corated"),
        sum(col("a.r") - col("b.r")).as("sumdiff"))
      .select(col("brand_i"), col("brand_j"), col("n_corated"),
        expr("sumdiff * 1000000 div n_corated").as("dev_e6"))
      .orderBy(col("n_corated").desc, col("brand_i").asc, col("brand_j").asc)
      .limit(10)
  }
  // ---- §2.164 record linkage — Fellegi-Sunter, EM step, threshold sweep ----

  /** Shared Fellegi-Sunter core: customers blocked by (nation, $500
    * balance band), field surrogates f1=segment, f2=cent digits,
    * f3=last dollar digit; the agreement pattern lattice is the full 2³.
    * Returns (a1,a2,a3,n_pairs) with zero-count patterns present.
    *
    * Pattern counts come from COUNTING, not pair enumeration (round 9 —
    * the full sf3 bench caught the blocked pair join as an exponent-2
    * grower hiding behind count-pruned plans: blocks are bounded in
    * NUMBER, so block size, and with it within-block pairs², grows with
    * the data). For every field subset T ⊆ {f1,f2,f3}, the pairs
    * agreeing on AT LEAST T are N_T = Σ_g C(c_g, 2) over groups keyed by
    * (block ∪ T) — one linear groupBy each; the exact-pattern counts are
    * the Möbius inversion n(S) = Σ_{T ⊇ S} (−1)^{|T\S|} N_T. Eight
    * linear aggregates replace the quadratic join, with identical output
    * (Round9OpsSpec pins equality against the verbatim pair join).
    * C(c,2) accumulates in DECIMAL(38,0) so a single 10⁹-customer block
    * cannot overflow the intermediate; the public n_pairs stays BIGINT.
    */
  private def fsPatterns(spark: SparkSession, sf: String): DataFrame =
    fsPatternsOf(Tables.customer(spark, sf).select(
      col("c_custkey").as("cust"), col("c_nationkey").cast("long").as("nat"),
      col("c_mktsegment").as("seg"),
      expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000").as("bc"))
      .select(col("cust"), col("nat"), col("seg"),
        expr("bc % 100").as("f2"), expr("(bc div 100) % 10").as("f3"),
        expr("bc div 50000").as("bb")))

  /** The counting core over a prepared (cust, nat, seg, f2, f3, bb)
    * frame — exposed to Round9OpsSpec's pair-join twin. */
  private[graft] def fsPatternsOf(src: DataFrame): DataFrame = {
    val c = Mat.once(src) // feeds the 8 counting aggregates
    def nT(out: String, fields: String*): DataFrame =
      c.groupBy((Seq("nat", "bb") ++ fields).map(col): _*)
        .agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(expr(
          "CAST(cnt AS DECIMAL(38,0)) * (cnt - 1) / 2")),
          expr("CAST(0 AS DECIMAL(38,0))")).as(out))
    val t = nT("t0")
      .crossJoin(nT("t1", "seg")).crossJoin(nT("t2", "f2"))
      .crossJoin(nT("t3", "f3"))
      .crossJoin(nT("t12", "seg", "f2")).crossJoin(nT("t13", "seg", "f3"))
      .crossJoin(nT("t23", "f2", "f3"))
      .crossJoin(nT("t123", "seg", "f2", "f3"))
    def pat(a1: Int, a2: Int, a3: Int, e: String) = struct(
      lit(a1.toLong).as("a1"), lit(a2.toLong).as("a2"), lit(a3.toLong).as("a3"),
      expr(s"CAST($e AS BIGINT)").as("n_pairs"))
    t.select(explode(array(
        pat(0, 0, 0, "t0 - t1 - t2 - t3 + t12 + t13 + t23 - t123"),
        pat(0, 0, 1, "t3 - t13 - t23 + t123"),
        pat(0, 1, 0, "t2 - t12 - t23 + t123"),
        pat(0, 1, 1, "t23 - t123"),
        pat(1, 0, 0, "t1 - t12 - t13 + t123"),
        pat(1, 0, 1, "t13 - t123"),
        pat(1, 1, 0, "t12 - t123"),
        pat(1, 1, 1, "t123"))).as("p"))
      .select(col("p.a1").as("a1"), col("p.a2").as("a2"),
        col("p.a3").as("a3"), col("p.n_pairs").as("n_pairs"))
  }

  /** Chance-agreement u-probabilities per field (P(agree | random pair),
    * Σ_v c_v(c_v−1) over N(N−1)) as one broadcastable row of doubles
    * built from exact integer sufficient statistics (single division —
    * bit-identical cross-engine).
    */
  private def fsU(spark: SparkSession, sf: String): DataFrame = {
    val c = Mat.once(Tables.customer(spark, sf).select(
      col("c_mktsegment").as("f1"),
      expr("(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) % 100").as("f2"),
      expr("((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) div 100) % 10")
        .as("f3")))
    val n = c.agg(count(lit(1)).as("n"))
    def chance(f: String): DataFrame = c.groupBy(col(f))
      .agg(count(lit(1)).as("cv"))
      .agg(sum(expr("cv * (cv - 1)")).as(s"s_$f"))
    chance("f1").crossJoin(chance("f2")).crossJoin(chance("f3"))
      .crossJoin(n)
      .select(
        expr("CAST(s_f1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)").as("u1"),
        expr("CAST(s_f2 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)").as("u2"),
        expr("CAST(s_f3 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)").as("u3"))
  }

  /** Fellegi-Sunter record-linkage weights (JASA'69): per agreement
    * pattern the pair count, the e6 log2 match/non-match weight sum
    * (m fixed at 0.9, u from chance agreement), and the three-way
    * decision at the ±1.5e6/−3e6 thresholds. The pattern table is the
    * full 2³ lattice; pair generation is block-bounded (see
    * q_blocking_stats for the reduction-ratio side).
    */
  def q_fellegi_sunter(spark: SparkSession, sf: String): DataFrame = {
    val w = fsU(spark, sf).select(
      expr("CAST(ROUND(LN(0.9 / u1) / LN(2.0) * 1000000) AS BIGINT)").as("wa1"),
      expr("CAST(ROUND(LN(0.9 / u2) / LN(2.0) * 1000000) AS BIGINT)").as("wa2"),
      expr("CAST(ROUND(LN(0.9 / u3) / LN(2.0) * 1000000) AS BIGINT)").as("wa3"),
      expr("CAST(ROUND(LN(0.1 / (1.0 - u1)) / LN(2.0) * 1000000) AS BIGINT)").as("wd1"),
      expr("CAST(ROUND(LN(0.1 / (1.0 - u2)) / LN(2.0) * 1000000) AS BIGINT)").as("wd2"),
      expr("CAST(ROUND(LN(0.1 / (1.0 - u3)) / LN(2.0) * 1000000) AS BIGINT)").as("wd3"))
    fsPatterns(spark, sf).crossJoin(broadcast(w))
      .select(col("a1"), col("a2"), col("a3"), col("n_pairs"),
        (col("a1") * col("wa1") + (lit(1L) - col("a1")) * col("wd1")
          + col("a2") * col("wa2") + (lit(1L) - col("a2")) * col("wd2")
          + col("a3") * col("wa3") + (lit(1L) - col("a3")) * col("wd3"))
          .as("score_e6"))
      .select(col("a1"), col("a2"), col("a3"), col("n_pairs"), col("score_e6"),
        when(col("score_e6") >= 1500000L, 1L)
          .when(col("score_e6") <= -3000000L, -1L).otherwise(0L).as("decision"))
      .orderBy("a1", "a2", "a3")
  }

  /** One Fellegi-Sunter EM iteration (Winkler'88) from the pattern
    * counts: E-step posteriors g_p under (λ=0.1, m=0.9, u=chance),
    * pre-rounded to e9 integers so the M-step sums are order-proof,
    * then per-field m/u re-estimates and the new λ — each a single
    * exact-integer division rendered e6. Three field rows.
    */
  def q_em_linkage_step(spark: SparkSession, sf: String): DataFrame = {
    // one row; materialized because the E-step AND the M-step epilogue
    // both cross-join it — lazy, the four chance-agreement aggregates
    // ran twice (round 10 plan audit: 90 Exchange nodes without it)
    val u = Mat.once(fsU(spark, sf))
    val g = fsPatterns(spark, sf).crossJoin(broadcast(u))
      .select(col("a1"), col("a2"), col("a3"), col("n_pairs"),
        col("u1"), col("u2"), col("u3"),
        expr("""CAST(ROUND(
            (0.1 * (CASE WHEN a1 = 1 THEN 0.9 ELSE 0.1 END)
                 * (CASE WHEN a2 = 1 THEN 0.9 ELSE 0.1 END)
                 * (CASE WHEN a3 = 1 THEN 0.9 ELSE 0.1 END))
          / (0.1 * (CASE WHEN a1 = 1 THEN 0.9 ELSE 0.1 END)
                 * (CASE WHEN a2 = 1 THEN 0.9 ELSE 0.1 END)
                 * (CASE WHEN a3 = 1 THEN 0.9 ELSE 0.1 END)
           + 0.9 * (CASE WHEN a1 = 1 THEN u1 ELSE 1.0 - u1 END)
                 * (CASE WHEN a2 = 1 THEN u2 ELSE 1.0 - u2 END)
                 * (CASE WHEN a3 = 1 THEN u3 ELSE 1.0 - u3 END))
          * 1000000000) AS BIGINT)""").as("gp"))
    val s = g.agg(
      sum(col("gp") * col("n_pairs")).as("sw"),
      sum((lit(1000000000L) - col("gp")) * col("n_pairs")).as("sv"),
      sum(col("gp") * col("n_pairs") * col("a1")).as("sw1"),
      sum(col("gp") * col("n_pairs") * col("a2")).as("sw2"),
      sum(col("gp") * col("n_pairs") * col("a3")).as("sw3"),
      sum((lit(1000000000L) - col("gp")) * col("n_pairs") * col("a1")).as("sv1"),
      sum((lit(1000000000L) - col("gp")) * col("n_pairs") * col("a2")).as("sv2"),
      sum((lit(1000000000L) - col("gp")) * col("n_pairs") * col("a3")).as("sv3"),
      sum(col("n_pairs")).as("np"))
    s.crossJoin(broadcast(u))
      .select(explode(array(
        struct(lit("f1_segment").as("field"),
          expr("CAST(ROUND(u1 * 1000000) AS BIGINT)").as("u0_e6"),
          expr("CAST(ROUND(CAST(sw1 AS DOUBLE) / CAST(sw AS DOUBLE) * 1000000) AS BIGINT)").as("m1_e6"),
          expr("CAST(ROUND(CAST(sv1 AS DOUBLE) / CAST(sv AS DOUBLE) * 1000000) AS BIGINT)").as("u1_e6"),
          expr("CAST(ROUND(CAST(sw AS DOUBLE) / CAST(np * 1000000000 AS DOUBLE) * 1000000) AS BIGINT)").as("lambda1_e6")),
        struct(lit("f2_cent_digits").as("field"),
          expr("CAST(ROUND(u2 * 1000000) AS BIGINT)").as("u0_e6"),
          expr("CAST(ROUND(CAST(sw2 AS DOUBLE) / CAST(sw AS DOUBLE) * 1000000) AS BIGINT)").as("m1_e6"),
          expr("CAST(ROUND(CAST(sv2 AS DOUBLE) / CAST(sv AS DOUBLE) * 1000000) AS BIGINT)").as("u1_e6"),
          expr("CAST(ROUND(CAST(sw AS DOUBLE) / CAST(np * 1000000000 AS DOUBLE) * 1000000) AS BIGINT)").as("lambda1_e6")),
        struct(lit("f3_dollar_digit").as("field"),
          expr("CAST(ROUND(u3 * 1000000) AS BIGINT)").as("u0_e6"),
          expr("CAST(ROUND(CAST(sw3 AS DOUBLE) / CAST(sw AS DOUBLE) * 1000000) AS BIGINT)").as("m1_e6"),
          expr("CAST(ROUND(CAST(sv3 AS DOUBLE) / CAST(sv AS DOUBLE) * 1000000) AS BIGINT)").as("u1_e6"),
          expr("CAST(ROUND(CAST(sw AS DOUBLE) / CAST(np * 1000000000 AS DOUBLE) * 1000000) AS BIGINT)").as("lambda1_e6"))))
        .as("r"))
      .select(col("r.field").as("field"), col("r.u0_e6").as("u0_e6"),
        col("r.m1_e6").as("m1_e6"), col("r.u1_e6").as("u1_e6"),
        col("r.lambda1_e6").as("lambda1_e6"))
      .orderBy("field")
  }

  /** Decision-threshold sweep over the Fellegi-Sunter score: for nine
    * e6 thresholds −4..4 the pairs classified as matches and their e6
    * share — the clerical-review-load curve the two FS thresholds are
    * chosen from. Pattern scores as in q_fellegi_sunter; the sweep is
    * a 9-row broadcast lattice against the 8-row pattern table.
    */
  def q_linkage_threshold_sweep(spark: SparkSession, sf: String): DataFrame = {
    val scored = Mat.once(q_fellegi_sunter(spark, sf)
      .select(col("n_pairs"), col("score_e6")))
    val tot = scored.agg(sum(col("n_pairs")).as("np"))
    val ts = scored.sparkSession.range(-4L, 5L)
      .select((col("id") * 1000000L).as("t_e6"))
    broadcast(ts).crossJoin(scored)
      .groupBy(col("t_e6"))
      .agg(sum(when(col("score_e6") >= col("t_e6"), col("n_pairs"))
        .otherwise(0L)).as("n_match"))
      .crossJoin(broadcast(tot))
      .select(col("t_e6"), col("n_match"),
        expr("n_match * 1000000 div np").as("match_share_e6"))
      .orderBy("t_e6")
  }
  // ---- §2.170 growth curves — logistic, Gompertz, Bass diffusion ----------

  /** Shared adoption series: first-purchase month per customer →
    * adopters per month, cumulative adopters (month-lattice theta join,
    * calendar-bounded), and the 1..T month rank. */
  private def adoption(spark: SparkSession, sf: String): DataFrame = {
    val fm = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(min(year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
    val ad = Mat.once(fm.groupBy(col("m")).agg(count(lit(1)).as("n_ad")))
    val lat = ad.select(col("m").as("m2"), col("n_ad").as("n2"))
    val cum = ad.join(broadcast(lat), col("m2") <= col("m"))
      .groupBy(col("m"), col("n_ad")).agg(sum(col("n2")).as("cum_n"))
    val rk = ad.join(broadcast(ad.select(col("m").as("m3"))),
        col("m3") < col("m"), "left_outer")
      .groupBy(col("m")).agg((count(col("m3")) + 1L).as("t"))
    cum.join(rk, "m")
  }

  /** Logistic growth fit of cumulative adopters: with capacity
    * K = 1.05·N_final, the transform y = ln(N/(K−N)) is linear in
    * time, so the fit is plain OLS — y pre-rounded to e8 integers
    * (order-proof sums), slope/intercept as single exact-integer
    * divisions e6. The S-curve every adoption forecast starts from;
    * the slope IS the logistic growth rate r.
    */
  def q_logistic_growth_fit(spark: SparkSession, sf: String): DataFrame = {
    val a = adoption(spark, sf)
    val k = a.agg(expr("max(cum_n) * 21 div 20").as("kk"))
    val y = a.crossJoin(broadcast(k))
      .select(col("t"),
        expr("""CAST(ROUND(LN(CAST(cum_n AS DOUBLE)
               / CAST(kk - cum_n AS DOUBLE)) * 100000000) AS BIGINT)""")
          .as("y8"), col("kk"))
    y.agg(count(lit(1)).as("tt"), sum(col("t")).as("st"),
        sum(col("t") * col("t")).as("st2"), sum(col("y8")).as("sy"),
        sum(col("t") * col("y8")).as("sty"), max(col("kk")).as("k_capacity"))
      .select(col("tt").as("n_months"), col("k_capacity"),
        expr("(tt * sty - st * sy) div ((tt * st2 - st * st) * 100)")
          .as("slope_e6"),
        expr("""(sy * (tt * st2 - st * st) - (tt * sty - st * sy) * st)
               div (tt * (tt * st2 - st * st) * 100)""").as("intercept_e6"))
  }

  /** Gompertz growth fit of the same series: z = ln(ln(K/N)) is linear
    * in time (slope −c), the asymmetric S-curve that peaks earlier than
    * the logistic — same e8 pre-rounding + exact-integer OLS epilogue.
    * Read next to q_logistic_growth_fit: whichever line is straighter
    * (future round: SSE) is the better adoption model.
    */
  def q_gompertz_fit(spark: SparkSession, sf: String): DataFrame = {
    val a = adoption(spark, sf)
    val k = a.agg(expr("max(cum_n) * 21 div 20").as("kk"))
    val y = a.crossJoin(broadcast(k))
      .select(col("t"),
        expr("""CAST(ROUND(LN(LN(CAST(kk AS DOUBLE)
               / CAST(cum_n AS DOUBLE))) * 100000000) AS BIGINT)""")
          .as("y8"), col("kk"))
    y.agg(count(lit(1)).as("tt"), sum(col("t")).as("st"),
        sum(col("t") * col("t")).as("st2"), sum(col("y8")).as("sy"),
        sum(col("t") * col("y8")).as("sty"), max(col("kk")).as("k_capacity"))
      .select(col("tt").as("n_months"), col("k_capacity"),
        expr("(tt * sty - st * sy) div ((tt * st2 - st * st) * 100)")
          .as("slope_e6"),
        expr("""(sy * (tt * st2 - st * st) - (tt * sty - st * sy) * st)
               div (tt * (tt * st2 - st * st) * 100)""").as("intercept_e6"))
  }

  /** Bass diffusion fit (Srinivasan-Mason OLS): adopters/month regressed
    * on lagged cumulative adopters and its square (scaled to hundreds so
    * every sufficient statistic is an exact BIGINT), coefficients via a
    * 3×3 Cramer solve on doubles cast from the exact sums, then the
    * market-size root m = (−b−√(b²−4ac))/2c and p = a/m, q = −c·m — the
    * innovation/imitation split of the adoption curve. One staged IEEE
    * tree; e-scaled outputs.
    */
  def q_bass_diffusion_ols(spark: SparkSession, sf: String): DataFrame = {
    val ad0 = Mat.once(adoption(spark, sf))
    // data-derived scale keeps x <= ~500 at every SF: exact BIGINT x^4 sums
    // without collapsing to zero on tiny fixtures
    val sc = ad0.agg(expr("max(cum_n) div 500 + 1").as("sc"))
    val a = ad0.crossJoin(broadcast(sc))
      .select(col("n_ad").as("y"),
        expr("(cum_n - n_ad) div sc").as("x"))
    a.agg(count(lit(1)).as("tt"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x") * col("y")).as("sx2y"))
      .select(col("tt").as("n_months"),
        expr("""CAST(tt AS DOUBLE) * (CAST(s2 AS DOUBLE) * CAST(s4 AS DOUBLE)
               - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))
               - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s4 AS DOUBLE)
               - CAST(s3 AS DOUBLE) * CAST(s2 AS DOUBLE))
               + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))""").as("det"),
        col("s1"), col("s2"), col("s3"), col("s4"), col("sy"), col("sxy"),
        col("sx2y"), col("tt"))
      .select(col("n_months"),
        expr("""(CAST(sy AS DOUBLE) * (CAST(s2 AS DOUBLE) * CAST(s4 AS DOUBLE)
               - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))
               - CAST(s1 AS DOUBLE) * (CAST(sxy AS DOUBLE) * CAST(s4 AS DOUBLE)
               - CAST(s3 AS DOUBLE) * CAST(sx2y AS DOUBLE))
               + CAST(s2 AS DOUBLE) * (CAST(sxy AS DOUBLE) * CAST(s3 AS DOUBLE)
               - CAST(s2 AS DOUBLE) * CAST(sx2y AS DOUBLE))) / det""").as("ca"),
        expr("""(CAST(tt AS DOUBLE) * (CAST(sxy AS DOUBLE) * CAST(s4 AS DOUBLE)
               - CAST(s3 AS DOUBLE) * CAST(sx2y AS DOUBLE))
               - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s4 AS DOUBLE)
               - CAST(s3 AS DOUBLE) * CAST(s2 AS DOUBLE))
               + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(sx2y AS DOUBLE)
               - CAST(sxy AS DOUBLE) * CAST(s2 AS DOUBLE))) / det""").as("cb"),
        expr("""(CAST(tt AS DOUBLE) * (CAST(s2 AS DOUBLE) * CAST(sx2y AS DOUBLE)
               - CAST(sxy AS DOUBLE) * CAST(s3 AS DOUBLE))
               - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(sx2y AS DOUBLE)
               - CAST(sxy AS DOUBLE) * CAST(s2 AS DOUBLE))
               + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))) / det""").as("cc"))
      .select(col("n_months"),
        expr("CAST(ROUND(ca * 10000) AS BIGINT)").as("a_e4"),
        expr("CAST(ROUND(cb * 10000) AS BIGINT)").as("b_e4"),
        expr("CAST(ROUND(cc * 1000000) AS BIGINT)").as("c_e6"),
        expr("""CAST(ROUND((0.0 - cb - SQRT(cb * cb - CAST(4 AS DOUBLE)
               * ca * cc)) / (CAST(2 AS DOUBLE) * cc) * 100) AS BIGINT)""")
          .as("m_scaled_e2"),
        expr("""CAST(ROUND(ca / ((0.0 - cb - SQRT(cb * cb - CAST(4 AS DOUBLE)
               * ca * cc)) / (CAST(2 AS DOUBLE) * cc)) * 1000000) AS BIGINT)""")
          .as("p_scaled_e6"),
        expr("""CAST(ROUND((0.0 - cc) * ((0.0 - cb - SQRT(cb * cb
               - CAST(4 AS DOUBLE) * ca * cc)) / (CAST(2 AS DOUBLE) * cc))
               * 1000000) AS BIGINT)""").as("q_scaled_e6"))
  }
  // ---- §2.181 conformal prediction — split conformal, sweep, groups -------

  /** Shared split-conformal base: hash-split orders into train(50%)/
    * calib(25%)/test(25%), fit ŷ = per-segment train mean, score
    * s = \|y − ŷ\| cents on calib+test. The calib score lattice gets its
    * cumulative counts via the banded scan (scale-safe, no global
    * window); qhat(k) is the smallest score whose cumulative count
    * reaches k. */
  private def conformalScores(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val o = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("cust"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("cust"))
      .select(col("o_orderkey").as("k"), col("seg"),
        cents(col("o_totalprice")).as("y"))
      .withColumn("split", hash32(concat(lit("cp:"), col("k"))) % 4L)
    val fit = o.filter(col("split") <= 1L).groupBy(col("seg"))
      .agg(expr("sum(y) div count(1)").as("yhat"))
    Mat.once(o.filter(col("split") >= 2L).join(broadcast(fit), "seg")
      .select(col("split"), col("seg"), abs(col("y") - col("yhat")).as("s")))
  }

  /** Split-conformal prediction interval at α = 0.1 (Vovk/Lei-Wasserman):
    * qhat = the ⌈(n_cal+1)(1−α)⌉-th calibration score via a banded-scan
    * cumulative over the score lattice, then the finite-sample coverage
    * guarantee checked on the held-out test split — the
    * distribution-free UQ recipe, end to end in five exact-integer
    * steps.
    */
  def q_split_conformal(spark: SparkSession, sf: String): DataFrame = {
    val scored = conformalScores(spark, sf)
    val calib = scored.filter(col("split") === 2L)
    val lattice = Mat.once(calib.groupBy(col("s")).agg(count(lit(1)).as("cnt")))
    val cum = BandedScan.cumSums(lattice, Seq.empty, "s", Seq("cnt" -> "cum"))
    val ncal = calib.agg(count(lit(1)).as("ncal"))
    val qhat = cum.crossJoin(broadcast(ncal))
      .filter(col("cum") >= expr("((ncal + 1) * 9 + 9) div 10"))
      .agg(min(col("s")).as("qhat_cents"), max(col("ncal")).as("n_cal"))
    scored.filter(col("split") === 3L).crossJoin(broadcast(qhat))
      .agg(max(col("qhat_cents")).as("qhat_cents"), max(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        sum(when(col("s") <= col("qhat_cents"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("n_cal"), col("n_test"), col("qhat_cents"), col("n_covered"),
        expr("n_covered * 10000 div n_test").as("coverage_e4"),
        lit(9000L).as("target_e4"))
  }

  /** Conformal α sweep {0.2, 0.1, 0.05}: per row the rank k, qhat and
    * the test coverage against its 1−α target — tighter α must produce
    * wider intervals (monotone qhat), which the spec pins. One banded
    * cumulative reused across the sweep.
    */
  def q_conformal_alpha_sweep(spark: SparkSession, sf: String): DataFrame = {
    val scored = conformalScores(spark, sf)
    val calib = scored.filter(col("split") === 2L)
    val lattice = Mat.once(calib.groupBy(col("s")).agg(count(lit(1)).as("cnt")))
    val cum = Mat.once(BandedScan.cumSums(lattice, Seq.empty, "s", Seq("cnt" -> "cum")))
    val ncal = calib.agg(count(lit(1)).as("ncal"))
    val ks = ncal.select(col("ncal"),
        explode(array(lit(20L), lit(10L), lit(5L))).as("a100"))
      .select(col("a100"),
        expr("((ncal + 1) * (100 - a100) + 99) div 100").as("kk"),
        col("ncal"))
    val qhats = cum.crossJoin(broadcast(ks))
      .filter(col("cum") >= col("kk"))
      .groupBy(col("a100"), col("kk"), col("ncal"))
      .agg(min(col("s")).as("qhat_cents"))
    scored.filter(col("split") === 3L).crossJoin(broadcast(qhats))
      .groupBy(col("a100"), col("kk"), col("ncal"), col("qhat_cents"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("s") <= col("qhat_cents"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("a100").as("alpha_e2"), col("kk").as("rank_k"),
        col("qhat_cents"), col("n_test"), col("n_covered"),
        expr("n_covered * 10000 div n_test").as("coverage_e4"),
        expr("(100 - a100) * 100").as("target_e4"))
      .orderBy("alpha_e2")
  }

  /** Conditional-coverage audit: the α = 0.1 GLOBAL qhat applied per
    * segment on the test split — marginal conformal guarantees say
    * nothing about per-group coverage, and this table shows which
    * segments are under-covered (the motivation for Mondrian/
    * group-conditional conformal). Five rows.
    */
  def q_conformal_group_coverage(spark: SparkSession, sf: String): DataFrame = {
    val scored = conformalScores(spark, sf)
    val calib = scored.filter(col("split") === 2L)
    val lattice = Mat.once(calib.groupBy(col("s")).agg(count(lit(1)).as("cnt")))
    val cum = BandedScan.cumSums(lattice, Seq.empty, "s", Seq("cnt" -> "cum"))
    val ncal = calib.agg(count(lit(1)).as("ncal"))
    val qhat = cum.crossJoin(broadcast(ncal))
      .filter(col("cum") >= expr("((ncal + 1) * 9 + 9) div 10"))
      .agg(min(col("s")).as("qhat_cents"))
    scored.filter(col("split") === 3L).crossJoin(broadcast(qhat))
      .groupBy(col("seg"), col("qhat_cents"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("s") <= col("qhat_cents"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("seg").as("c_mktsegment"), col("qhat_cents"), col("n_test"),
        col("n_covered"),
        expr("n_covered * 10000 div n_test").as("coverage_e4"))
      .orderBy("c_mktsegment")
  }
}
