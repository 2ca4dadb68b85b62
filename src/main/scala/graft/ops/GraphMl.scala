package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Mat, Tables}
import graft.core.Det.pct

/** The remaining *classic MapReduce algorithm* surface (SURVEY.md §2.19):
  * sparse matrix multiplication, PageRank, decision-tree split finding,
  * a logistic-regression gradient step, and an inverted index. These are
  * the canonical textbook MapReduce examples, re-expressed as declarative
  * Spark plans: the "map" becomes a projection, the "shuffle on key"
  * becomes a `groupBy`/`join` Catalyst plans as a hash shuffle, and the
  * "reduce" becomes an exact-integer aggregate — which is also what makes
  * every one of them hash-comparable against the DuckDB oracle.
  */
object GraphMl {

  /** Sparse matrix multiply C = A·B as the classic join-on-inner-dimension
    * MapReduce algorithm. A(i,j) is lineitem quantity summed into a 50×40
    * grid of (orderkey, partkey) residues; B(j,k) is part size summed into
    * 40×20. The join key is the inner dimension j: at scale A is
    * shuffle-partitioned by j while the much smaller B side broadcasts —
    * exactly the "row-block × broadcast matrix" plan a 100 TB A demands.
    * All values are exact integers; per-cell products stay far below int64
    * even at sf 100.
    */
  def q_matmul(spark: SparkSession, sf: String): DataFrame = {
    val a = Tables.lineitem(spark, sf)
      .select((col("l_orderkey") % 50).as("i"), (col("l_partkey") % 40).as("j"),
        col("l_quantity").cast("long").as("v"))
      .groupBy("i", "j").agg(sum(col("v")).as("a"))
    val b = Tables.part(spark, sf)
      .select((col("p_partkey") % 40).as("j"), (col("p_size") % 20).as("k"),
        col("p_size").cast("long").as("v"))
      .groupBy("j", "k").agg(sum(col("v")).as("b"))
    a.join(broadcast(b), "j")
      .groupBy("i", "k")
      .agg(sum(col("a") * col("b")).as("c"))
      .orderBy("i", "k")
  }

  /** Edges of the event-type transition graph: consecutive events of the
    * same user (µs timestamp, event_id tie-break — the as-of idiom) define
    * a weighted directed edge src→dst, joined with each source's total
    * out-weight. The heavy part — one window pass over all events plus the
    * edge aggregation — is fully distributed; the resulting graph is tiny
    * (|event types|² at most).
    */
  private[ops] def transitionEdges(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.eventsWithTs(spark, sf)
    val w = Window.partitionBy("user_id").orderBy(col("ts_usl").asc, col("event_id").asc)
    val edges = ev
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    val outs = edges.groupBy("src").agg(sum(col("w")).as("out_w"))
    edges.join(outs, "src")
  }

  /** PageRank, 3 unrolled power iterations over the event-type transition
    * graph, in EXACT e12-scaled integer arithmetic: each source's damped
    * per-unit share `(p·85) div (100·out_w)` is floored ONCE per source
    * (so the reduce-side sum is order-independent — the property that
    * makes the classic MapReduce PageRank hash-comparable), then scaled by
    * the integer edge weight. `share·w ≤ 0.85·p`, so nothing approaches
    * int64 at any scale. Dangling mass is dropped (no out-edge → no
    * contribution), identically on both engines.
    */
  def q_pagerank(spark: SparkSession, sf: String): DataFrame = {
    val en = Mat.once(transitionEdges(spark, sf))
    val nodes = Mat.once(Tables.table(spark, sf, "events")
      .select(col("event_type").as("v")).distinct())
    // the node count is a genuine scalar input of the formula (teleport
    // base 0.15/N): resolve it once, like q_recursive_calendar's bounds
    val n = nodes.count()
    val base = 150000000000L / n
    def step(p: DataFrame): DataFrame = {
      // SQL `div` = exact integer division (Spark `/` on longs is a double
      // divide whose truncation can round across an integer boundary).
      // Dataset aliases: each iteration re-joins the same `en`/`nodes`
      // lineage, which otherwise trips the ambiguous-self-join check.
      val contrib = p.as("pp").join(en.as("ee"), col("pp.v") === col("ee.src"))
        .select(col("ee.dst").as("dv"), col("pp.p").as("p"),
          col("ee.w").as("w"), col("ee.out_w").as("out_w"))
        .select(col("dv").as("v"), (expr("(p * 85) div (100 * out_w)") * col("w")).as("c"))
        .groupBy("v").agg(sum(col("c")).as("c"))
      nodes.as("nn").join(contrib.as("cc"), col("nn.v") === col("cc.v"), "left_outer")
        .select(col("nn.v").as("v"), (lit(base) + coalesce(col("cc.c"), lit(0L))).as("p"))
    }
    val p0 = nodes.select(col("v"), lit(1000000000000L / n).as("p"))
    val p1 = step(p0)
    val p2 = step(p1)
    val p3 = step(p2)
    p1.withColumnRenamed("p", "p1")
      .join(p2.withColumnRenamed("p", "p2"), "v")
      .join(p3.withColumnRenamed("p", "p3"), "v")
      .orderBy("v")
  }

  /** Decision-tree split finding (the MapReduce "histogram then scan"
    * algorithm): Gini gain of every candidate threshold `l_quantity ≤ t`
    * predicting l_returnflag. One distributed pass builds per-value class
    * histograms (≤ 50 rows); the cumulative left/right counts then come
    * from a bounded theta self-join on the histogram, NOT a global window
    * (empty-partition windows are banned at scale) and NOT a second data
    * pass. The gain epilogue is one fixed double expression tree over
    * exact integer counts (D3).
    */
  def q_tree_split(spark: SparkSession, sf: String): DataFrame = {
    val h = Mat.once(Tables.lineitem(spark, sf)
      .groupBy(col("l_quantity").cast("long").as("q"))
      .agg(
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("ca"),
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cn"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cr")))
    val cum = h.as("t").join(h.as("s"), col("s.q") <= col("t.q"))
      .groupBy(col("t.q").as("t"))
      .agg(sum(col("s.ca")).as("la"), sum(col("s.cn")).as("ln"), sum(col("s.cr")).as("lr"))
    val tot = h.agg(sum(col("ca")).as("ta"), sum(col("cn")).as("tn"), sum(col("cr")).as("tr"))
    def gini(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      lit(1.0) - (a * lit(1.0) / n) * (a * lit(1.0) / n) -
        (b * lit(1.0) / n) * (b * lit(1.0) / n) - (c * lit(1.0) / n) * (c * lit(1.0) / n)
    cum.crossJoin(tot)
      .withColumn("nl", col("la") + col("ln") + col("lr"))
      .withColumn("nt", col("ta") + col("tn") + col("tr"))
      .withColumn("nr", col("nt") - col("nl"))
      .filter(col("nr") > 0) // the max threshold has an empty right side
      .select(
        col("t"), col("nl"), col("nr"),
        (round(
          gini(col("ta"), col("tn"), col("tr"), col("nt")) -
            (col("nl") * lit(1.0) / col("nt")) * gini(col("la"), col("ln"), col("lr"), col("nl")) -
            (col("nr") * lit(1.0) / col("nt")) *
              gini(col("ta") - col("la"), col("tn") - col("ln"), col("tr") - col("lr"), col("nr")),
          6) + lit(0.0)).as("gain_r6"))
      .orderBy("t")
  }

  /** One exact batch gradient-descent step of logistic regression
    * (y = [l_returnflag='R'] on features [1, quantity, discount%]) from
    * w = 0, where sigmoid(0) = 1/2 exactly: the doubled gradient
    * 2·Σ(σ(0)−y)·x = Σ(1−2y)·x is a pure integer sum-reduction — the
    * MapReduce ML pattern (map: per-row term; reduce: sum) with no float
    * until the final per-coefficient division, a single IEEE op on both
    * engines.
    */
  def q_logreg_step(spark: SparkSession, sf: String): DataFrame = {
    val d = Tables.lineitem(spark, sf).select(
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
      col("l_quantity").cast("long").as("x1"),
      pct(col("l_discount")).as("x2"))
    d.agg(
      count(lit(1)).as("n"),
      sum(lit(1L) - lit(2L) * col("y")).as("g0"),
      sum((lit(1L) - lit(2L) * col("y")) * col("x1")).as("g1"),
      sum((lit(1L) - lit(2L) * col("y")) * col("x2")).as("g2"))
      .select(
        col("n"), col("g0"), col("g1"), col("g2"),
        (round(-col("g0") / (lit(2.0) * col("n")), 8) + lit(0.0)).as("w0_r8"),
        (round(-col("g1") / (lit(2.0) * col("n")), 8) + lit(0.0)).as("w1_r8"),
        (round(-col("g2") / (lit(2.0) * col("n")), 8) + lit(0.0)).as("w2_r8"))
  }

  /** Inverted index (the original MapReduce example): term → document
    * frequency + the first 15 posting doc_ids as a comma-joined string.
    * Map: (term, doc_id) per distinct term per document; reduce: count +
    * sorted posting-list head. The truncated posting string keeps the
    * output row bounded no matter how hot the term — at corpus scale a
    * full posting list is a table, not a cell.
    */
  def q_inverted_index(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(split(lower(col("text")), " "))).as("term"))
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        expr("array_join(transform(slice(array_sort(collect_set(doc_id)), 1, 15)," +
          " x -> CAST(x AS STRING)), ',')").as("postings"))
      .orderBy("term")

  /** Undirected co-purchase edge list (support ≥ 2 part pairs, both
    * directions) — the same graph as the triangle count, shared by the
    * label-propagation and BFS operators below. `Mat.once` because
    * every consumer fans out into multiple self-references.
    */
  private def coPurchaseEdges(spark: SparkSession, sf: String): DataFrame = {
    // Round 9: the items×items self-join (distinct + join + aggregate =
    // 3 shuffles, unguarded breadth² fan-out) is replaced by the shared
    // basket-generator build the §2.44 family already used — one shuffle
    // keyed by order, codegen pair generation inside the sorted basket,
    // one shuffle on the pair key (Round7OpsSpec pins the pair-multiset
    // equality of the two forms; Round9OpsSpec pins the weighted variant).
    val e = Analytics.support2Edges(spark, sf)
    Mat.once(e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v"))))
  }

  /** Weighted co-purchase edges (w = 1000 div support, both directions) —
    * the [[q_sssp_weighted]]/[[q_boruvka_step]] graph, on the same shared
    * basket-generator build as [[coPurchaseEdges]]. */
  private def weightedCoPurchaseEdges(spark: SparkSession, sf: String): DataFrame = {
    val e0 = Analytics.support2PairCounts(spark, sf)
      .filter(col("s") >= 2)
    // the support-2 edge list is bounded by Σ_baskets breadth² with
    // breadth runtime-capped by Guards.boundedBasket
    Mat.once(e0.select(col("u"), col("v"), expr("1000 div s").as("w"))
      .unionByName(e0.select(col("v").as("u"), col("u").as("v"),
        expr("1000 div s").as("w"))))
  }

  /** One synchronous label-propagation step on the co-purchase graph:
    * initial community = partkey mod 10, each node adopts the mode of its
    * neighbors' labels (count desc, label asc — the deterministic
    * tie-break every parallel LP needs). Output: the (old, new) label
    * flow matrix with node counts — how much the communities move in one
    * round. Edges shuffle once on the destination node; no iteration
    * state beyond the edge list.
    */
  def q_label_propagation(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val votes = edges
      .select(col("u").as("node"), (col("v") % 10).as("nlabel"))
      .groupBy(col("node"), col("nlabel"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("node").orderBy(col("c").desc, col("nlabel").asc)
    votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy((col("node") % 10).as("old_label"), col("nlabel").as("new_label"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("old_label", "new_label")
  }

  /** Three unrolled BFS rounds from the minimum node of the co-purchase
    * graph: per level the reachable-node count and id range. Each round
    * is one join frontier→edges plus an anti-join against the visited
    * set — the textbook distributed BFS, statically unrolled so the plan
    * is pure DataFrame ops (the iterative generalization is
    * q_dedup_components' convergence loop).
    */
  def q_bfs_levels(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val l0 = edges.agg(min(col("u")).as("node"))
    def expand(frontier: DataFrame, visited: DataFrame): DataFrame =
      Mat.once(edges.join(frontier.select(col("node").as("u")), "u")
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti"))
    val l1 = expand(l0, l0)
    val v1 = l0.unionByName(l1)
    val l2 = expand(l1, v1)
    val v2 = v1.unionByName(l2)
    val l3 = expand(l2, v2)
    Seq((l0, 0L), (l1, 1L), (l2, 2L), (l3, 3L))
      .map { case (df, lvl) =>
        df.agg(lit(lvl).as("level"), count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      }
      .reduce(_.unionByName(_))
      .orderBy("level")
  }

  /** Adamic-Adar link prediction on the co-purchase graph: for the top-10
    * non-adjacent part pairs, Σ_z 1/ln(deg z) over their common neighbors
    * z. The hub weight is pre-rounded to integer e6 per node so the score
    * is an exact BIGINT sum — immune to float summation order — and the
    * pair enumeration reuses the two-hop join shape of the triangle count
    * (join keys are single node ids; the fan-out is bounded by Σdeg², the
    * quantity any neighborhood-based link predictor must touch).
    */
  def q_adamic_adar(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val hubs = edges.groupBy(col("u").as("z"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2) // a deg-1 node cannot be a common neighbor; also keeps ln > 0
      .select(col("z"),
        expr("CAST(ROUND(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT)").as("w_e6"))
    val pairs = edges.as("a")
      .join(edges.as("b"), col("a.u") === col("b.u") && col("a.v") < col("b.v"))
      .select(col("a.u").as("z"), col("a.v").as("x"), col("b.v").as("y"))
      .join(hubs, "z")
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"), sum(col("w_e6")).as("score_e6"))
    val existing = edges.filter(col("u") < col("v"))
      .select(col("u").as("x"), col("v").as("y"))
    pairs.join(existing, Seq("x", "y"), "left_anti")
      .orderBy(col("score_e6").desc, col("x").asc, col("y").asc)
      .limit(10)
      .select(col("x").as("u"), col("y").as("v"), col("n_common"), col("score_e6"))
  }

  /** Degree assortativity of the co-purchase graph: the Pearson
    * correlation of endpoint degrees over the directed edge list (each
    * undirected edge contributes both directions — the standard Newman
    * convention). Sufficient statistics are exact BIGINT sums; the
    * correlation epilogue casts each sum to double first and evaluates
    * one fixed IEEE tree (the sf0.1-safe pattern). r < 0 means hubs link
    * to leaves (dissortative — typical of co-purchase graphs).
    */
  def q_graph_assortativity(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val deg = edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .agg(count(lit(1)).as("n"), sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(col("du") * col("dv")).as("sxy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"))
      .select(col("n").as("n_directed_edges"),
        (round(expr(
          """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"""),
          6) + lit(0.0)).as("assortativity"))
  }

  /** Two statically-unrolled 3-core peeling rounds on the co-purchase
    * graph: each round drops nodes with degree < 3 and re-induces the
    * subgraph (two semi-joins on the surviving node set). Per-round node/
    * edge counts and the degree range show how fast the periphery erodes
    * — the k-core decomposition's fixed-depth prefix, same pattern as the
    * unrolled BFS (the converged generalization is an iterative loop like
    * q_dedup_components).
    */
  def q_kcore_peel(spark: SparkSession, sf: String): DataFrame = {
    def stats(g: DataFrame, round: Long): DataFrame =
      g.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .agg(lit(round).as("round"), count(lit(1)).as("n_nodes"),
          sum(col("deg")).as("n_directed_edges"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
    def peel(g: DataFrame): DataFrame = {
      val survivors = g.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 3).select(col("u").as("node"))
      Mat.once(g.join(survivors.select(col("node").as("u")), "u")
        .join(survivors.select(col("node").as("v")), "v")
        .select(col("u"), col("v")))
    }
    val g0 = coPurchaseEdges(spark, sf)
    val g1 = peel(g0)
    val g2 = peel(g1)
    stats(g0, 0L).unionByName(stats(g1, 1L)).unionByName(stats(g2, 2L))
      .orderBy("round")
  }

  /** Three statically-unrolled Bellman-Ford relaxation rounds from the
    * minimum node of the weighted co-purchase graph (edge cost =
    * 1000 div support — stronger ties are cheaper). Each round is one
    * join dist→edges + a min re-aggregate — the min-plus semiring product
    * every distributed SSSP is built from; costs are exact BIGINTs.
    * Output: the 10 closest nodes after round 3.
    */
  def q_sssp_weighted(spark: SparkSession, sf: String): DataFrame = {
    val edges = weightedCoPurchaseEdges(spark, sf)
    val src = edges.agg(min(col("u")).as("node")).withColumn("dist", lit(0L))
    def relax(d: DataFrame): DataFrame =
      Mat.once(d.join(edges, col("node") === col("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
        .unionByName(d)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
    val d3 = relax(relax(relax(src)))
    d3.orderBy(col("dist").asc, col("node").asc).limit(10)
  }

  /** Newman modularity Q of the partkey-mod-10 community assignment on
    * the co-purchase graph: Q = Σᵢ(eᵢᵢ/m₂ − (aᵢ/m₂)²) over the directed
    * edge list (m₂ = 2m). All counts are exact; only the 10 per-community
    * terms are float. The companion number to q_label_propagation — "did
    * the communities it found mean anything".
    */
  def q_graph_modularity(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val comm = edges.select((col("u") % 10).as("cu"), (col("v") % 10).as("cv"))
    val per = comm.groupBy(col("cu"))
      .agg(count(lit(1)).as("a_i"),
        sum(when(col("cu") === col("cv"), 1L).otherwise(0L)).as("e_ii"))
    val m2 = comm.agg(count(lit(1)).as("m2"))
    per.crossJoin(broadcast(m2))
      .select(expr(
        """CAST(e_ii AS DOUBLE) / CAST(m2 AS DOUBLE)
           - (CAST(a_i AS DOUBLE) / CAST(m2 AS DOUBLE)) * (CAST(a_i AS DOUBLE) / CAST(m2 AS DOUBLE))""")
        .as("term"), col("m2"))
      .agg(count(lit(1)).as("n_communities"), max(col("m2")).as("m2"),
        sum(col("term")).as("q"))
      .select(col("n_communities"), expr("m2 div 2").as("n_edges"),
        (round(col("q"), 6) + lit(0.0)).as("modularity"))
  }

  /** Two unrolled HITS iterations on the customer→part purchase
    * bipartite graph (unweighted distinct edges): hubs = buyers whose
    * baskets concentrate on authoritative parts, authorities = parts
    * bought by strong hubs. Scores stay on an exact e6 integer lattice
    * (no normalization — only the final ranking matters, and integer
    * sums are order-independent). Top-10 authorities.
    */
  def q_hits_scores(spark: SparkSession, sf: String): DataFrame = {
    val edges = Mat.once(Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct())
    // a0 = 1e6 for every part → h1(c) = Σ a0, a1(p) = Σ h1, h2, a2
    val h1 = edges.groupBy(col("c")).agg((count(lit(1)) * 1000000L).as("h"))
    val a1 = edges.join(h1, "c").groupBy(col("p")).agg(sum(col("h")).as("a"))
    val h2 = edges.join(a1, "p").groupBy(col("c")).agg(sum(col("a")).as("h"))
    val a2 = edges.join(h2, "c").groupBy(col("p")).agg(sum(col("h")).as("authority"))
    a2.orderBy(col("authority").desc, col("p").asc).limit(10)
      .select(col("p").as("partkey"), col("authority"))
  }

  /** Targeted-attack robustness of the co-purchase graph: surviving
    * edge/node shares after removing the top-0/10/50 highest-degree
    * hubs — the attack-tolerance curve that tells you whether the
    * network's function rides on a few hubs. Hub sets are TakeOrdered
    * lists; removal is two anti-joins per scenario.
    */
  def q_graph_robustness(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val base = edges.agg(count(lit(1)).as("e0"))
    def scenario(k: Int): DataFrame = {
      val hubs = deg.orderBy(col("deg").desc, col("u").asc).limit(k)
        .select(col("u").as("hub"))
      val kept = edges
        .join(hubs.select(col("hub").as("u")), Seq("u"), "left_anti")
        .join(hubs.select(col("hub").as("v")), Seq("v"), "left_anti")
      kept.agg(count(lit(1)).as("e_kept"),
        countDistinct(col("u")).as("nodes_kept"))
        .select(lit(k.toLong).as("hubs_removed"), col("e_kept"), col("nodes_kept"))
    }
    scenario(0).unionByName(scenario(10)).unionByName(scenario(50))
      .crossJoin(broadcast(base))
      .select(col("hubs_removed"), col("nodes_kept"), col("e_kept"),
        expr("e_kept * 10000 div e0").as("edges_kept_e4"))
      .orderBy("hubs_removed")
  }

  /** Global efficiency of the directed event-type transition graph:
    * E = (1/(n(n−1)))·Σ_{s≠t} 1/d(s,t) with shortest hop-distances from
    * up to 3 unrolled min-plus steps (the graph is |types|-bounded at any
    * SF, and 3 hops saturate a near-complete digraph; unreachable pairs
    * contribute 0, as defined). Inverse distances are e6-latticed
    * integers (1000000 div d) so the sum is order-free.
    */
  def q_graph_efficiency(spark: SparkSession, sf: String): DataFrame = {
    val e = Mat.once(transitionEdges(spark, sf)
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")))
    val d1 = e.select(col("src"), col("dst"), lit(1L).as("d"))
    val d2 = e.as("a")
      .join(e.select(col("src").as("mid"), col("dst").as("dst2")).as("b"),
        col("a.dst") === col("mid"))
      .filter(col("a.src") =!= col("dst2"))
      .select(col("a.src").as("src"), col("dst2").as("dst"), lit(2L).as("d"))
      .distinct()
    val d3 = d2.select(col("src"), col("dst").as("mid2"))
      .join(e.select(col("src").as("mid2"), col("dst").as("dst3")), Seq("mid2"))
      .filter(col("src") =!= col("dst3"))
      .select(col("src"), col("dst3").as("dst"), lit(3L).as("d"))
      .distinct()
    val best = Mat.once(d1.unionByName(d2).unionByName(d3)
      .groupBy(col("src"), col("dst")).agg(min(col("d")).as("d")))
    val n = Tables.eventsWithTs(spark, sf)
      .select(col("event_type")).distinct().count()
    best.agg(count(lit(1)).as("n_pairs_reachable"),
        sum(expr("1000000 div d")).as("s_inv"), max(col("d")).as("diam"))
      .select(lit(n).as("n_nodes"), col("n_pairs_reachable"),
        col("diam").as("diameter_le3"),
        (round(col("s_inv").cast("double")
          / (lit(n.toDouble) * (lit(n.toDouble) - lit(1.0)) * lit(1e6)), 4)
          + lit(0.0)).as("efficiency"))
  }

  /** Link-prediction score battery on the co-purchase graph — Jaccard,
    * resource-allocation (Σ 1/deg(z), e6 trunc-div lattice) and
    * preferential attachment for every 2-hop non-edge pair, top-10 by
    * RA. The [[q_adamic_adar]] wedge join with two extra exact-integer
    * scores; degrees broadcast, candidate pairs bounded by wedge count,
    * never node². */
  def q_link_prediction(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val deg = edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val hubs = deg.select(col("node").as("z"),
      expr("1000000 div deg").as("w_e6"))
    val pairs = edges.as("a")
      .join(edges.as("b"), col("a.u") === col("b.u") && col("a.v") < col("b.v"))
      .select(col("a.u").as("z"), col("a.v").as("x"), col("b.v").as("y"))
      .join(hubs, "z")
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"), sum(col("w_e6")).as("ra_e6"))
    val existing = edges.filter(col("u") < col("v"))
      .select(col("u").as("x"), col("v").as("y"))
    pairs.join(existing, Seq("x", "y"), "left_anti")
      .join(broadcast(deg.select(col("node").as("x"), col("deg").as("dx"))), "x")
      .join(broadcast(deg.select(col("node").as("y"), col("deg").as("dy"))), "y")
      .select(col("x").as("u"), col("y").as("v"), col("n_common"), col("ra_e6"),
        expr("n_common * 1000000 div (dx + dy - n_common)").as("jaccard_e6"),
        (col("dx") * col("dy")).as("pref_attach"))
      .orderBy(col("ra_e6").desc, col("u").asc, col("v").asc)
      .limit(10)
  }

  /** One k-truss support-pruning step (k = 4) on the co-purchase graph:
    * per-edge triangle support via the wedge join (common-neighbor
    * count, never node²), then the support histogram with the kept
    * verdict (support ≥ k−2 survives the first peel). The one-step view
    * tells how much of the graph a full truss decomposition would
    * discard immediately.
    */
  def q_ktruss_step(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val und = Mat.once(edges.filter(col("u") < col("v")))
    val support = und.as("e")
      .join(edges.select(col("u").as("eu"), col("v").as("z1")).as("a"),
        col("e.u") === col("eu"))
      .join(edges.select(col("u").as("ev"), col("v").as("z2")).as("b"),
        col("e.v") === col("ev") && col("z1") === col("z2"))
      .groupBy(col("e.u").as("u"), col("e.v").as("v"))
      .agg(count(lit(1)).as("support"))
    und.join(support, Seq("u", "v"), "left_outer")
      .select(coalesce(col("support"), lit(0L)).as("support"))
      .groupBy(col("support"))
      .agg(count(lit(1)).as("n_edges"))
      .select(col("support"), col("n_edges"),
        when(col("support") >= 2L, 1L).otherwise(0L).as("kept_k4"))
      .orderBy("support")
  }

  /** Bounded eccentricity from the five highest-degree hubs: a
    * multi-source BFS (frontier keyed by (seed, node)) unrolled three
    * rounds — one edge join + one anti-join per round, all seeds expand
    * in the SAME frontier DataFrame so the round count, not the seed
    * count, fixes the number of shuffles. Output per seed: nodes newly
    * reached at hops 1-3 and the 3-bounded eccentricity (how far the
    * hub's influence actually extends). Hop-bounded by design: on a
    * 100 TB graph the full eccentricity is a Θ(diameter)-round job,
    * while the k-bounded variant is the fixed-cost neighborhood profile
    * every hub audit starts with.
    */
  def q_graph_eccentricity(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val seeds = Mat.once(edges.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("node").asc)
      .limit(5))
    val f0 = seeds.select(col("node").as("seed"), col("node"))
    def expand(frontier: DataFrame, visited: DataFrame): DataFrame =
      Mat.once(frontier.join(edges.select(col("u").as("node"), col("v")), "node")
        .select(col("seed"), col("v").as("node")).distinct()
        .join(visited, Seq("seed", "node"), "left_anti"))
    val f1 = expand(f0, f0)
    val v1 = f0.unionByName(f1)
    val f2 = expand(f1, v1)
    val v2 = v1.unionByName(f2)
    val f3 = expand(f2, v2)
    val levels = f1.withColumn("lvl", lit(1L))
      .unionByName(f2.withColumn("lvl", lit(2L)))
      .unionByName(f3.withColumn("lvl", lit(3L)))
    seeds.select(col("node").as("seed"), col("deg"))
      .join(levels.groupBy(col("seed")).agg(
        sum(when(col("lvl") === 1L, 1L).otherwise(0L)).as("n_hop1"),
        sum(when(col("lvl") === 2L, 1L).otherwise(0L)).as("n_hop2"),
        sum(when(col("lvl") === 3L, 1L).otherwise(0L)).as("n_hop3"),
        max(col("lvl")).as("ecc3")), Seq("seed"), "left_outer")
      .select(col("seed"), col("deg"),
        coalesce(col("n_hop1"), lit(0L)).as("n_hop1"),
        coalesce(col("n_hop2"), lit(0L)).as("n_hop2"),
        coalesce(col("n_hop3"), lit(0L)).as("n_hop3"),
        coalesce(col("ecc3"), lit(0L)).as("ecc3"))
      .orderBy("seed")
  }

  /** Double-sweep diameter lower bound, 3-hop-bounded: BFS from the
    * minimum node, pick the farthest node reached (max level, then min
    * id — the deterministic periphery pick), BFS again from there. The
    * second sweep's eccentricity is the classic cheap diameter lower
    * bound (two BFS instead of all-pairs). Both sweeps reuse the same
    * unrolled frontier/anti-join rounds as [[q_bfs_levels]]; the
    * peripheral pick is a 1-row sort-limit broadcast into sweep 2.
    */
  def q_graph_diameter2sweep(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    def expand(frontier: DataFrame, visited: DataFrame): DataFrame =
      Mat.once(frontier.join(edges.select(col("u").as("node"), col("v")), "node")
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti"))
    def sweep(src: DataFrame): DataFrame = {
      val f0 = Mat.once(src)
      val f1 = expand(f0, f0)
      val v1 = f0.unionByName(f1)
      val f2 = expand(f1, v1)
      val v2 = v1.unionByName(f2)
      val f3 = expand(f2, v2)
      f0.withColumn("lvl", lit(0L))
        .unionByName(f1.withColumn("lvl", lit(1L)))
        .unionByName(f2.withColumn("lvl", lit(2L)))
        .unionByName(f3.withColumn("lvl", lit(3L)))
    }
    val s1 = sweep(edges.agg(min(col("u")).as("node")))
    val far = Mat.once(s1.orderBy(col("lvl").desc, col("node").asc).limit(1))
    val s2 = sweep(far.select(col("node")))
    val a1 = s1.agg(max(col("lvl")).as("ecc1"), count(lit(1)).as("n_reached1"))
    val a2 = s2.agg(max(col("lvl")).as("ecc2"), count(lit(1)).as("n_reached2"))
    s1.filter(col("lvl") === 0L).select(col("node").as("start_node"))
      .crossJoin(far.select(col("node").as("periphery_node")))
      .crossJoin(a1).crossJoin(a2)
      .select(col("start_node"), col("periphery_node"),
        col("ecc1"), col("n_reached1"), col("ecc2"), col("n_reached2"),
        greatest(col("ecc1"), col("ecc2")).as("diameter_lb"))
  }

  /** One Borůvka MST round on the weighted co-purchase graph (edge cost
    * = 1000 div support, the q_sssp_weighted metric): every node picks
    * its cheapest incident edge (cost asc, neighbor asc — the
    * deterministic tie-break Borůvka needs to stay cycle-free), the
    * picks are deduped to undirected edges, and the round summary says
    * how far one parallel round gets: components drop from n_nodes to
    * n_nodes − n_picked. The per-node pick is a node-partitioned
    * window (never global); this is the textbook first round of
    * distributed MST at any scale.
    */
  def q_boruvka_step(spark: SparkSession, sf: String): DataFrame = {
    val edges = weightedCoPurchaseEdges(spark, sf)
    val wMin = Window.partitionBy("u").orderBy(col("w").asc, col("v").asc)
    val picks = edges.withColumn("rn", row_number().over(wMin))
      .filter(col("rn") === 1)
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"), col("w"))
    val und = picks.groupBy(col("a"), col("b"))
      .agg(max(col("w")).as("w"), count(lit(1)).as("n_pickers"))
    val nodes = edges.agg(countDistinct(col("u")).as("n_nodes"))
    und.agg(count(lit(1)).as("n_picked"), sum(col("w")).as("total_w"),
        sum(when(col("n_pickers") === 2L, 1L).otherwise(0L)).as("n_mutual"))
      .crossJoin(broadcast(nodes))
      .select(col("n_nodes"), col("n_picked"), col("total_w"), col("n_mutual"),
        (col("n_nodes") - col("n_picked")).as("n_components_after"))
  }

  /** Local bridges (Granovetter weak ties): edges whose endpoints share
    * NO common neighbor — removing one lengthens the u→v path to ≥ 3.
    * Support comes from the same wedge join as [[q_ktruss_step]] (never
    * node²); the top-10 bridges by endpoint-degree product are the
    * highest-traffic weak ties, the ones a connectivity-critical
    * pipeline monitors. `n_bridges_total` rides along on every row so
    * the single query also answers "how much of the graph is
    * triangle-free tissue".
    */
  def q_local_bridges(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val und = Mat.once(edges.filter(col("u") < col("v")))
    val supported = und.as("e")
      .join(edges.select(col("u").as("eu"), col("v").as("z1")).as("a"),
        col("e.u") === col("eu"))
      .join(edges.select(col("u").as("ev"), col("v").as("z2")).as("b"),
        col("e.v") === col("ev") && col("z1") === col("z2"))
      .select(col("e.u").as("u"), col("e.v").as("v")).distinct()
    val deg = edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val bridges = Mat.once(und.join(supported, Seq("u", "v"), "left_anti")
      .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), "v"))
    val tot = bridges.agg(count(lit(1)).as("n_bridges_total"))
    bridges.crossJoin(broadcast(tot))
      .orderBy((col("deg_u") * col("deg_v")).desc, col("u").asc, col("v").asc)
      .limit(10)
      .select(col("u"), col("v"), col("deg_u"), col("deg_v"),
        (col("deg_u") * col("deg_v")).as("degprod"), col("n_bridges_total"))
  }

  /** One Jones–Plassmann coloring round on the co-purchase graph: a node
    * takes the first color iff its (md5-hash, id) priority beats every
    * neighbor's — the classic distributed-coloring selection rule (each
    * round is one edge-keyed max-aggregate; no sequential order
    * anywhere). Output: the independent-set size, its share, and the
    * conflict count (edges with both endpoints selected — zero by
    * construction, and the query proves it rather than asserts it).
    */
  def q_jones_plassmann(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val pri = Mat.once(edges.select(col("u").as("node")).distinct()
      .select(col("node"), graft.core.Det.hash32(col("node")).as("h")))
    val beaten = edges
      .join(pri.select(col("node").as("u"), col("h").as("hu")), "u")
      .join(pri.select(col("node").as("v"), col("h").as("hv")), "v")
      .filter(col("hv") > col("hu") || (col("hv") === col("hu") && col("v") > col("u")))
      .select(col("u").as("node")).distinct()
    val sel = Mat.once(pri.join(beaten, Seq("node"), "left_anti")
      .select(col("node")))
    val n = pri.agg(count(lit(1)).as("n_nodes"))
    val k = sel.agg(count(lit(1)).as("n_colored"))
    val conflicts = edges.filter(col("u") < col("v"))
      .join(sel.select(col("node").as("u")), "u")
      .join(sel.select(col("node").as("v")), "v")
      .agg(count(lit(1)).as("n_conflicts"))
    n.crossJoin(k).crossJoin(conflicts)
      .select(col("n_nodes"), col("n_colored"),
        expr("n_colored * 10000 div n_nodes").as("frac_e4"), col("n_conflicts"))
  }

  /** One power-iteration step of spectral bisection: x₁ = L·x₀ with the
    * Laplacian applied as one edge join (deg·x₀ − Σ_neighbor x₀) from
    * the deterministic ±1 parity start. Output: both partition sizes and
    * the cut size before/after — the signature every distributed
    * spectral partitioner produces per iteration (matrix-free, the
    * matvec IS the edge shuffle).
    */
  def q_spectral_bisection_step(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val x0 = Mat.once(edges.select(col("u").as("node")).distinct()
      .select(col("node"), ((col("node") % 2) * 2 - 1).as("x")))
    val x1 = Mat.once(edges
      .join(x0.select(col("node").as("u"), col("x").as("xu")), "u")
      .join(x0.select(col("node").as("v"), col("x").as("xv")), "v")
      .groupBy(col("u").as("node"), col("xu"))
      .agg(count(lit(1)).as("deg"), sum(col("xv")).as("nsum"))
      .select(col("node"), col("xu").as("x_old"),
        (col("deg") * col("xu") - col("nsum")).as("x_new")))
    def cut(sign: DataFrame): DataFrame = edges.filter(col("u") < col("v"))
      .join(sign.select(col("node").as("u"), col("s").as("su")), "u")
      .join(sign.select(col("node").as("v"), col("s").as("sv")), "v")
      .agg(sum(when(col("su") =!= col("sv"), 1L).otherwise(0L)).as("c"))
    val before = cut(x1.select(col("node"),
      when(col("x_old") >= 0, 1L).otherwise(-1L).as("s")))
    val after = cut(x1.select(col("node"),
      when(col("x_new") >= 0, 1L).otherwise(-1L).as("s")))
    val sizes = x1.agg(
      sum(when(col("x_new") >= 0, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("x_new") < 0, 1L).otherwise(0L)).as("n_neg"))
    sizes.crossJoin(before.select(col("c").as("cut_before")))
      .crossJoin(after.select(col("c").as("cut_after")))
  }

  /** One Charikar/Bahmani densest-subgraph peeling round: drop every
    * node whose degree is ≤ the average (deg·n ≤ 2m — exact integer
    * rule, ε = 0), then re-measure. Output: nodes/edges/density (e6)
    * before and after plus the removed count — the per-round signature
    * of the MapReduce densest-subgraph algorithm (Bahmani et al.,
    * VLDB'12), whose full run just iterates this exact step.
    */
  def q_densest_subgraph_peel(spark: SparkSession, sf: String): DataFrame = {
    val und = Mat.once(coPurchaseEdges(spark, sf).filter(col("u") < col("v")))
    val deg = Mat.once(und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    val tot = deg.agg(count(lit(1)).as("n0"), sum(col("deg")).as("m2"))
    val keep = Mat.once(deg.crossJoin(broadcast(tot))
      .filter(col("deg") * col("n0") > col("m2"))
      .select(col("node")))
    val kept = und
      .join(keep.select(col("node").as("u")), "u")
      .join(keep.select(col("node").as("v")), "v")
      .agg(count(lit(1)).as("m1"))
    val kn = keep.agg(count(lit(1)).as("n1"))
    tot.crossJoin(kn).crossJoin(kept)
      .select(col("n0"), expr("m2 div 2").as("m0"),
        expr("(m2 div 2) * 1000000 div n0").as("rho0_e6"),
        col("n1"), col("m1"),
        when(col("n1") > 0, expr("m1 * 1000000 div n1")).otherwise(lit(0L))
          .as("rho1_e6"),
        (col("n0") - col("n1")).as("n_removed"))
  }

  /** Friendship paradox on the co-purchase graph: "your neighbors have
    * more co-purchases than you" — mean degree Σd/n vs mean neighbor
    * degree Σd²/Σd, both from ONE degree aggregate (the ratio is
    * Feld's classic 1 + Var/μ² inflation). Ratio as a fixed IEEE tree
    * over exact sums (Σd²·n vs (Σd)² overflows BIGINT at fleet scale —
    * cast first). The single-aggregate shape costs one shuffle at any
    * graph size.
    */
  def q_friendship_paradox(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("sd"),
        sum(col("deg") * col("deg")).as("sd2"))
      .select(col("n_nodes"), expr("sd div 2").as("n_edges"),
        expr("sd * 10000 div n_nodes").as("mean_deg_e4"),
        expr("sd2 * 10000 div sd").as("mean_neighbor_deg_e4"),
        (round(expr(
          """CAST(sd2 AS DOUBLE) * CAST(n_nodes AS DOUBLE)
             / (CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))"""), 6) + lit(0.0))
          .as("paradox_ratio"))
  }

  /** Newman's categorical assortativity of the co-purchase graph by part
    * brand: r = (E·tr − Σₘaᵍbᵍ)/(E² − Σₘaᵍbᵍ) over the ≤25-brand mixing
    * matrix — all sufficient statistics exact BIGINTs (trace, margins)
    * from one edge-keyed aggregate after a broadcast brand join; only
    * the final r is float. The label-mixing companion to the degree
    * assortativity and modularity queries.
    */
  def q_attribute_assortativity(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val lab = Tables.part(spark, sf)
      .select(col("p_partkey").as("node"), col("p_brand").as("g"))
    val el = edges
      .join(broadcast(lab.select(col("node").as("u"), col("g").as("gu"))), "u")
      .join(broadcast(lab.select(col("node").as("v"), col("g").as("gv"))), "v")
    val cells = Mat.once(el.groupBy(col("gu"), col("gv")).agg(count(lit(1)).as("c")))
    val tr = cells.filter(col("gu") === col("gv")).agg(sum(col("c")).as("tr"))
    val margins = cells.groupBy(col("gu")).agg(sum(col("c")).as("a"))
      .join(cells.groupBy(col("gv").as("gu")).agg(sum(col("c")).as("b")), "gu")
    val sumab = margins.agg(count(lit(1)).as("n_labels"),
      sum(col("a") * col("b")).as("sab"))
    val e = cells.agg(sum(col("c")).as("e"))
    sumab.crossJoin(tr).crossJoin(e)
      .select(col("n_labels"), col("e").as("n_directed_edges"), col("tr").as("trace"),
        (round(expr(
          """(CAST(e AS DOUBLE) * CAST(tr AS DOUBLE) - CAST(sab AS DOUBLE))
             / (CAST(e AS DOUBLE) * CAST(e AS DOUBLE) - CAST(sab AS DOUBLE))"""), 6)
          + lit(0.0)).as("assortativity_r"))
  }
  // ---- §2.178 contagion — threshold cascade, seed compare, SIS mean-field --

  /** Granovetter linear-threshold cascade on the co-purchase graph:
    * seeds are the 5 highest-degree parts, a node activates once ≥2
    * neighbors are active, three synchronous rounds statically
    * unrolled — per-round active/new counts. Each round is one
    * frontier⋈edges co-keyed join plus an anti-join; the monotone
    * closure every influence-maximization paper simulates.
    */
  def q_threshold_cascade(spark: SparkSession, sf: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sf)
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val seeds = Mat.once(deg.orderBy(col("d").desc, col("u").asc).limit(5)
      .select(col("u").as("node")))
    def step(active: DataFrame): DataFrame = {
      val newly = edges
        .join(active.select(col("node").as("v")), "v")
        .groupBy(col("u")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2L)
        .select(col("u").as("node"))
        .join(active, Seq("node"), "left_anti")
      Mat.once(active.unionByName(newly))
    }
    val a1 = step(seeds)
    val a2 = step(a1)
    val a3 = step(a2)
    def row(r: Long, a: DataFrame): DataFrame =
      a.agg(count(lit(1)).as("n_active")).select(lit(r).as("round"),
        col("n_active"))
    val rounds = Mat.once(row(0L, seeds).unionByName(row(1L, a1))
      .unionByName(row(2L, a2)).unionByName(row(3L, a3)))
    val prev = rounds.select((col("round") + 1L).as("round"),
      col("n_active").as("prev_active"))
    rounds.join(broadcast(prev), Seq("round"), "left_outer")
      .select(col("round"), col("n_active"),
        (col("n_active") - coalesce(col("prev_active"), lit(0L))).as("n_new"))
      .orderBy("round")
  }

  /** Seed-selection comparison for the same cascade: top-degree seeds
    * vs shared-md5 "random" seeds (5 each), coverage after two rounds
    * as an e4 share of all nodes — the degree-heuristic vs random
    * baseline every influence-max evaluation starts with.
    */
  def q_cascade_seed_compare(spark: SparkSession, sf: String): DataFrame = {
    import graft.core.Det.hash32
    val edges = coPurchaseEdges(spark, sf)
    val deg = Mat.once(edges.groupBy(col("u")).agg(count(lit(1)).as("d")))
    val nNodes = deg.agg(count(lit(1)).as("nn"))
    def run(seeds: DataFrame): DataFrame = {
      def step(active: DataFrame): DataFrame = {
        val newly = edges
          .join(active.select(col("node").as("v")), "v")
          .groupBy(col("u")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2L)
          .select(col("u").as("node"))
          .join(active, Seq("node"), "left_anti")
        Mat.once(active.unionByName(newly))
      }
      step(step(Mat.once(seeds)))
    }
    val topDeg = deg.orderBy(col("d").desc, col("u").asc).limit(5)
      .select(col("u").as("node"))
    val hashSeeds = deg
      .orderBy(hash32(concat(lit("seed:"), col("u"))).asc, col("u").asc)
      .limit(5).select(col("u").as("node"))
    def row(name: String, seeds: DataFrame): DataFrame =
      run(seeds).agg(count(lit(1)).as("active_r2"))
        .crossJoin(broadcast(nNodes))
        .select(lit(name).as("strategy"), lit(5L).as("n_seeds"),
          col("active_r2"), expr("active_r2 * 10000 div nn").as("coverage_e4"))
    row("top_degree", topDeg).unionByName(row("hash_random", hashSeeds))
      .orderBy("strategy")
  }

  /** Mean-field SIS epidemic on the co-purchase degree statistics:
    * x_{t+1} = x + β⟨k⟩x(1−x) − γx (β=0.1, γ=0.2) unrolled four steps
    * on e6 integers (identical truncation both engines), plus the
    * heterogeneous threshold λ_c = ⟨k⟩/⟨k²⟩ and the β/γ verdict —
    * whether this contact graph sustains an endemic state. One degree
    * aggregate; everything else is a 1-row integer recursion.
    */
  def q_sis_meanfield(spark: SparkSession, sf: String): DataFrame = {
    val deg = coPurchaseEdges(spark, sf).groupBy(col("u"))
      .agg(count(lit(1)).as("d"))
    val s = deg.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sd2"))
      .select(col("n"), expr("sd * 1000 div n").as("kavg_e3"),
        expr("sd * 1000000 div sd2").as("lambda_c_e6"))
    s.select(col("n").as("n_nodes"), col("kavg_e3"), col("lambda_c_e6"),
        lit(50000L).as("x0_e6"))
      .select(col("*"), expr(sisStep("x0_e6")).as("x1_e6"))
      .select(col("*"), expr(sisStep("x1_e6")).as("x2_e6"))
      .select(col("*"), expr(sisStep("x2_e6")).as("x3_e6"))
      .select(col("*"), expr(sisStep("x3_e6")).as("x4_e6"))
      .select(col("n_nodes"), col("kavg_e3"), col("lambda_c_e6"),
        col("x0_e6"), col("x1_e6"), col("x2_e6"), col("x3_e6"), col("x4_e6"),
        when(lit(500000L) > col("lambda_c_e6"), 1L).otherwise(0L)
          .as("above_threshold"))
  }

  /** One SIS mean-field step as SQL text (shared Spark/DuckDB shape):
    * x' = clamp(x + β⟨k⟩x(1−x)/scales − γx/1000). */
  private def sisStep(x: String): String =
    s"""least(1000000, greatest(0,
       $x + (kavg_e3 * $x * (1000000 - $x)) div 10000000000
       - (200 * $x) div 1000))"""
}
