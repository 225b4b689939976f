package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality over document-similarity graphs.
  *
  * The curation use case: in a near-dup graph (nodes = documents, edges =
  * pairs above a similarity cutoff), high-centrality nodes are template
  * spam — boilerplate pages that near-duplicate MANY other pages without
  * any single pair forming a tight cluster. Degree alone misses multi-hop
  * hubs; PageRank propagates "duplicated-ness" along the graph, the same
  * signal CommonCrawl-derived pipelines use to down-rank template farms.
  * (The reference engine has no graph operator — this is scale-path
  * breadth on top of the dedup family's pair output.)
  *
  * Integer-exact by construction so the DuckDB oracle replays every
  * iteration bit-for-bit: ranks are micro-units (1e6 = 1.0), the damping
  * update is `150000 + (85 * sum_contrib) div 100` (d = 0.85), and each
  * neighbor contribution is `rank div degree` — all BIGINT floor
  * divisions of non-negative values, no float anywhere.
  *
  * Scale shape: the edge list is OUTPUT-sized (pairs above a threshold),
  * orders of magnitude smaller than the corpus. Each iteration is one
  * keyed equi-join (edges x ranks on the source id) plus one keyed
  * aggregate (sum of contributions by destination) — shuffle keys are
  * node ids, so AQE handles hub skew with split partitions. The edge +
  * degree frame is localCheckpointed ONCE and reused by every round;
  * ranks are checkpointed per round so round N's plan does not replay
  * rounds 1..N-1 (the duplicateClusters precedent), and the rank side of
  * each round's join carries a size-GATED broadcast hint (the checkpointed
  * frame has no stats, so the planner would otherwise sort-merge-exchange
  * BOTH sides every round). Driver state: nothing but the loop counter
  * and one node count — no data collect anywhere.
  */
object Graph {

  /** Per-round broadcast gate for the rank/label frame in the iterative
    * operators: one (long, long) row per NODE, so the 2M-row default is
    * ~32 MB of payload (a ~150 MB hash relation) — comfortably
    * broadcastable on the bench box, far past every bench fixture. Above
    * the gate the round join falls back to the sort-merge exchanges it
    * always had; the gate costs ONE count of the checkpointed node list
    * per operator call.
    *
    * Tunable (`graft.graph.rankBroadcastMaxRows`) because the hint
    * BYPASSES `spark.sql.autoBroadcastJoinThreshold`: a small-memory
    * deployment that lowers the Spark threshold must be able to lower
    * this gate too rather than OOM on a forced ~150 MB hash relation.
    */
  val RankBroadcastMaxRowsDefault = 2000000L
  def rankBroadcastMaxRows(df: DataFrame): Long = {
    val key = "graft.graph.rankBroadcastMaxRows"
    df.sparkSession.conf.getOption(key).fold(RankBroadcastMaxRowsDefault) { v =>
      try v.toLong
      catch {
        case e: NumberFormatException =>
          throw new IllegalArgumentException(s"$key must be a row count (a long), got '$v'", e)
      }
    }
  }

  /** Mutual-kNN graph: keep a directed kNN edge only when its REVERSE
    * edge also exists — the standard sparsifier that turns a noisy kNN
    * graph into semantic-cluster structure (one-sided edges into hub
    * vectors are what chain unrelated clusters together; mutuality is
    * the cheapest robust filter). Input is any ANN-family kNN frame
    * (qid, neighbor, rank, score): exact [[graft.ann.Ann.knnJoin]] for
    * oracle replay, `knnJoinBlocked`/NN-descent at corpus scale — the
    * mutuality check itself is ONE self-join on the output-sized edge
    * list, keyed both sides. Output: (a, b, score) with a < b, one row
    * per mutual pair (cosine is symmetric, and both directions compute
    * the identical dot-product sum, so either side's score is THE
    * score).
    */
  def mutualKnn(knn: DataFrame): DataFrame = {
    val e = knn.select(col("qid"), col("neighbor"), col("score")).localCheckpoint()
    e.as("x").join(e.as("y"),
        col("x.qid") === col("y.neighbor") && col("x.neighbor") === col("y.qid") &&
          col("x.qid") < col("x.neighbor"))
      .select(col("x.qid").as("a"), col("x.neighbor").as("b"),
        col("x.score").as("score"))
  }

  /** Symmetrize an undirected pair list (a,b) into a directed distinct
    * edge list with per-source degree attached. Also returns the node
    * frame (id, deg) — the degree aggregate IS the distinct node list
    * (every node of a symmetrized edge appears as a source), so callers
    * that need it skip a second edge-sized distinct.
    */
  private def symmetrizeWithDegree(pairs: DataFrame): (DataFrame, DataFrame) = {
    // pairs is usually a whole candidate-generation pipeline: materialize
    // it once (output-sized) before the union reads it twice, and the
    // symmetrized set once before the degree join reads THAT twice
    val p0 = pairs.select(col("a"), col("b")).localCheckpoint()
    val edges = p0
      .unionByName(p0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    (edges.join(deg, "a"), deg.select(col("a").as("id"), col("deg")))
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the O(log n)-round scale path past
    * [[graft.dedup.Dedup.duplicateClusters]]'s two routes: the
    * union-find route collects the edge list (capped at ~2M edges) and
    * the min-label-propagation route needs O(diameter) rounds, which on
    * a pathological chain of near-dups is O(n). Large-star hangs every
    * node's larger neighbors onto its neighborhood minimum (halving tall
    * trees), small-star re-hangs the smaller neighbors; the fixed point
    * is a star forest rooted at each component's minimum id, reached in
    * logarithmically many rounds regardless of diameter.
    *
    * Output: (id, comp) for every node in an edge, comp = the component's
    * minimum id — identical to duplicateClusters, so the two are
    * interchangeable (and cross-checked in GraphSpec).
    *
    * Scale shape: each round is two keyed min-aggregates + two keyed
    * equi-joins over the CURRENT edge set, which only ever shrinks-or-
    * stays output-sized (large-star can transiently add edges but the
    * star-ward rewiring collapses them next round); no collect, driver
    * state = the round counter + a constant-size convergence signature.
    * Edges localCheckpoint per round so round N's plan doesn't replay
    * rounds 1..N−1 (the pageRank precedent).
    */
  def connectedComponentsLss(pairs: DataFrame, maxRounds: Int = 40): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u")
        .agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient (big, small): v < u for every surviving edge
      val ori = e.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val mins = ori.groupBy("u").agg(min("v").as("m"))
      ori.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionByName(mins.select(col("u").as("a"), col("m").as("b")))
        .distinct()
    }
    var edges = pairs
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val nodes = edges.select(col("a").as("id"))
      .unionByName(edges.select(col("b").as("id"))).distinct().localCheckpoint()
    // convergence signature: one tiny aggregate action per round — the
    // edge set at the fixed point reproduces itself exactly
    def sig(e: DataFrame): (Long, Long, Long) = {
      // hash folded into [0, 1e9) before summing: the ANSI-mode sum stays
      // exact to ~9e9 edges instead of overflowing on full-range hashes
      val r = e.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("a"), col("b")), lit(1000000007L))), lit(0L)),
        coalesce(sum(pmod(xxhash64(col("b"), col("a")), lit(1000000007L))), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var last = sig(edges)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      edges = smallStar(largeStar(edges)).localCheckpoint()
      val s = sig(edges)
      converged = s == last
      last = s
      round += 1
    }
    require(converged, s"large-star/small-star did not converge in $maxRounds rounds")
    // star forest: every non-root points at its component min; roots are
    // exactly the nodes never appearing on the child side
    val labels = edges.select(col("a").as("id"), col("b").as("comp"))
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Deterministic synchronous label propagation (Raghavan–Albert–Kumara
    * 2007, with a bit-reproducible tie rule): init label(v) = v, then
    * each round every node takes its neighbors' most frequent CURRENT
    * label, ties to the smallest label. Communities, where
    * [[connectedComponentsLss]] gives components — on a dense near-dup
    * or mutual-kNN graph, LPA splits a connected blob into its tight
    * cores. Fixed round count: a bounded pipeline stage (vanilla LPA's
    * open-ended fixpoint can oscillate under synchronous update; bounded
    * rounds + the deterministic tie rule keep it replayable).
    *
    * Scale shape: each round is ONE keyed join (edge × current label) +
    * one (node, label) count aggregate + one per-node argmax window over
    * that node's distinct neighbor LABELS (≤ degree rows); labels
    * localCheckpoint per round (the pageRank precedent).
    */
  def labelPropagation(pairs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds 1..20, got $rounds")
    // The checkpointed label frame has no stats, so the planner would
    // sort-merge every round: exchange + sort BOTH the edge frame and the
    // node-sized label frame. The size-GATED broadcast hint on the label
    // side drops each round to edge-scan + broadcast join + the two
    // fundamental shuffles (the (u,lbl) count and the argmax window's
    // re-key): 4 Exchange + 2 Sort per round down to 2 Exchange. Past the
    // gate (node count > RankBroadcastMaxRows) the hint is withheld and
    // the round keeps the exchanges it always had; nothing regresses.
    val sym = pairs.select(col("a").as("u"), col("b").as("v"))
      .unionByName(pairs.select(col("b").as("u"), col("a").as("v")))
      .distinct().localCheckpoint()
    var labels = sym.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")).localCheckpoint()
    val hint: DataFrame => DataFrame =
      if (labels.count() <= rankBroadcastMaxRows(labels)) broadcast _ else identity
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("n").desc, col("lbl").asc)
    var r = 0
    while (r < rounds) {
      labels = sym
        .join(hint(labels.withColumnRenamed("id", "v")), "v")
        .groupBy("u", "lbl").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("u").as("id"), col("lbl"))
        .localCheckpoint()
      r += 1
    }
    labels
  }

  /** Per-node triangle count + local clustering coefficient over the
    * undirected pair graph — the companion structure signal to
    * [[pageRank]]: in a near-dup graph, high clustering (your neighbors
    * also duplicate each other) marks a tight template CLUSTER, while
    * high degree with low clustering marks a hub page duplicating many
    * unrelated pages. Returns (id, deg, tri, cc_micro) for every node in
    * an edge; cc_micro = ⌊2·tri·10^6 / (deg·(deg−1))⌋, 0 for deg < 2 (the
    * usual convention, and it keeps the report column null-free).
    *
    * Scale shape: the classic wedge join is Σ deg² — quadratic in hub
    * degree. Here every edge is ORIENTED from its (degree, id)-smaller
    * endpoint (Schank–Wagner / Cohen's MapReduce form), so each triangle
    * is generated exactly once at its smallest-degree corner and the
    * wedge count drops to O(m^{3/2}) regardless of hub skew. Three keyed
    * equi-joins (wedge build + closing-edge probe), one explode bounded
    * by 3·triangles, keyed aggregates with map-side combine — no window,
    * no collect, output-sized intermediates throughout.
    */
  def triangles(pairs: DataFrame): DataFrame = {
    // id-canonical distinct edge set (a < b): closing-edge probe target
    val e = pairs
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()
    val deg = e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // orient each edge from the (deg, id)-lexicographically smaller side
    val dd = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val oriented = dd.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("u"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("v"))
      .localCheckpoint()
    // wedges at the smallest-degree corner; x<y dedupes the unordered pair
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("w"), col("e1.v").as("x"), col("e2.v").as("y"))
    val tris = wedges
      .join(e, wedges("x") === e("a") && wedges("y") === e("b"))
      .select(col("w"), col("x"), col("y"))
    val perNode = tris
      .select(explode(array(col("w"), col("x"), col("y"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          expr("(2000000L * coalesce(tri, 0L)) div (deg * (deg - 1L))"))
          .otherwise(lit(0L)).as("cc_micro"))
  }

  /** Fixed-iteration integer PageRank over the undirected graph defined by
    * `pairs` (columns a, b — each row one undirected edge; symmetrized and
    * deduplicated here). Returns (id, deg, rank_micro) for every node that
    * appears in an edge. In the symmetrized graph every node has deg >= 1
    * and >= 1 in-edge, so there are no dangling nodes and the classic
    * update needs no leak correction.
    */
  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * concentrated on a seed set instead of spread uniformly: relevance
    * TO THE SEEDS rather than global centrality ("which documents sit
    * near this trusted slice in the near-dup graph" — the graph form of
    * a trusted-corpus affinity score). Same integer micro arithmetic and
    * same one-join-one-agg round shape; the restart vector gives each
    * seed `(0.15·n·1e6) div |seeds|` so total teleport mass matches the
    * uniform variant's. `isSeed` must be a deterministic predicate over
    * the node id (it is evaluated inside the plan each round AND once in
    * a 1-row seed-count aggregate).
    */
  def pageRankPersonalized(
      pairs: DataFrame,
      isSeed: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      iters: Int = 5): DataFrame = {
    require(iters >= 1, "pageRankPersonalized needs at least one iteration")
    // same round shape as [[pageRank]] — see the gated-broadcast notes
    // there; the gate count rides the existing seed-count aggregate
    val (edgesRaw, nodes) = symmetrizeWithDegree(pairs)
    val edges = edgesRaw.localCheckpoint()
    val cnt = nodes.agg(count(lit(1)).as("n"),
      sum(when(isSeed(col("id")), 1L).otherwise(0L)).as("ns")).head()
    val (n, ns) = (cnt.getLong(0), cnt.getLong(1))
    require(ns > 0, "personalization needs at least one seed in the graph")
    val hint: DataFrame => DataFrame =
      if (n <= rankBroadcastMaxRows(edges)) broadcast _ else identity
    val restart = (150000L * n) / ns
    def restartOf(id: org.apache.spark.sql.Column) =
      when(isSeed(id), lit(restart)).otherwise(lit(0L))
    var ranks = nodes.select(col("id"), restartOf(col("id")).as("rank_micro"))
    for (_ <- 1 to iters) {
      val r = hint(ranks)
      ranks = edges
        .join(r, edges("a") === r("id"))
        .select(col("b").as("id"), expr("rank_micro div deg").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
        .select(col("id"),
          (restartOf(col("id")) + expr("(85L * s) div 100L")).as("rank_micro"))
        .localCheckpoint()
    }
    nodes.join(hint(ranks), "id")
      .select(col("id"), col("deg"), col("rank_micro"))
  }

  def pageRank(pairs: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // The checkpointed rank frame has no stats, so the planner would
    // sort-merge every round: exchange + sort BOTH the edge frame and the
    // node-sized rank frame. The size-GATED broadcast hint on the rank
    // side drops each round to edge-scan + broadcast join + the round's
    // one fundamental shuffle (the contribution aggregate): 3 Exchange +
    // 2 Sort per round down to 1 Exchange. Past the gate (node count >
    // RankBroadcastMaxRows) the hint is withheld and the round keeps the
    // exchanges it always had; nothing regresses.
    val (edgesRaw, nodes) = symmetrizeWithDegree(pairs)
    val edges = edgesRaw.localCheckpoint()
    val hint: DataFrame => DataFrame =
      if (nodes.count() <= rankBroadcastMaxRows(nodes)) broadcast _ else identity
    var ranks = nodes.select(col("id"), lit(1000000L).as("rank_micro"))
    for (_ <- 1 to iters) {
      // one keyed join + one keyed agg per round — no re-join against the
      // node list: in the symmetrized graph every node has >= 1 in-edge,
      // so the contribution aggregate already covers the full node set
      val r = hint(ranks)
      ranks = edges
        .join(r, edges("a") === r("id"))
        .select(col("b").as("id"),
          expr("rank_micro div deg").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
        .select(col("id"),
          expr("150000L + (85L * s) div 100L").as("rank_micro"))
        .localCheckpoint()
    }
    nodes.join(hint(ranks), "id")
      .select(col("id"), col("deg"), col("rank_micro"))
  }
}
