package graft

import graft.operators.Graph

/** Integer PageRank over the near-dup pair graph: hand-computed path-graph
  * values, orientation/duplicate invariance, and the no-dangling property
  * of the symmetrized update.
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  private def ranks(pairs: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] =
    Graph.pageRank(pairs.toDF("a", "b"), iters).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("deg"), r.getAs[Long]("rank_micro"))).toMap

  test("mutualKnn keeps exactly the reciprocated edges, canonicalized a<b") {
    // 1<->2 mutual; 3->1 one-sided (1's list is full of 2); 3<->4 mutual
    val knn = Seq(
      (1L, 2L, 1, 0.9), (2L, 1L, 1, 0.9),
      (3L, 1L, 1, 0.4),
      (3L, 4L, 2, 0.8), (4L, 3L, 1, 0.8),
      (4L, 2L, 2, 0.3))
      .toDF("qid", "neighbor", "rank", "score")
    val got = Graph.mutualKnn(knn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 0.9), (3L, 4L, 0.8)))
  }

  test("path graph 1-2-3: two hand-computed iterations") {
    // symmetrized degs: 1->1, 2->2, 3->1
    // iter1: r2 = 150000 + 85*(1e6+1e6)/100 = 1850000
    //        r1 = r3 = 150000 + 85*(1e6 div 2)/100 = 575000
    // iter2: r2 = 150000 + (85*1150000) div 100 = 1127500
    //        r1 = r3 = 150000 + (85*(1850000 div 2)) div 100 = 936250
    val one = ranks(Seq((1L, 2L), (2L, 3L)), iters = 1)
    assert(one(1L) == (1L, 575000L))
    assert(one(2L) == (2L, 1850000L))
    assert(one(3L) == (1L, 575000L))
    val two = ranks(Seq((1L, 2L), (2L, 3L)), iters = 2)
    assert(two(1L) == (1L, 936250L))
    assert(two(2L) == (2L, 1127500L))
    assert(two(3L) == (1L, 936250L))
  }

  test("pair orientation and duplicate pair rows do not change the result") {
    val base = ranks(Seq((1L, 2L), (2L, 3L)), iters = 3)
    val flipped = ranks(Seq((2L, 1L), (3L, 2L)), iters = 3)
    val dup = ranks(Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L)), iters = 3)
    assert(flipped == base)
    assert(dup == base)
  }

  private def tris(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
    Graph.triangles(pairs.toDF("a", "b")).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("deg"), r.getAs[Long]("tri"),
          r.getAs[Long]("cc_micro"))).toMap

  test("triangles: K4 — every node in 3 triangles with clustering 1.0") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val m = tris(k4)
    assert(m.size == 4)
    assert(m.values.forall(_ == ((3L, 3L, 1000000L))))
  }

  test("triangles: path graph has none; cc 0 for deg<2 and open wedges") {
    val m = tris(Seq((1L, 2L), (2L, 3L)))
    assert(m(1L) == ((1L, 0L, 0L))) // deg<2: cc 0 by convention
    assert(m(2L) == ((2L, 0L, 0L))) // open wedge: 0/(2*1)
    assert(m(3L) == ((1L, 0L, 0L)))
  }

  test("triangles: triangle with a pendant edge, hand-computed cc") {
    val m = tris(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(m(1L) == ((2L, 1L, 1000000L)))
    assert(m(2L) == ((2L, 1L, 1000000L)))
    // deg 3, one triangle: 2*1e6/(3*2) = 333333
    assert(m(3L) == ((3L, 1L, 333333L)))
    assert(m(4L) == ((1L, 0L, 0L)))
  }

  test("triangles: orientation, duplicates, and self-loops don't change counts") {
    val base = tris(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val messy = tris(Seq((2L, 1L), (3L, 2L), (1L, 3L), (1L, 2L), (1L, 1L)))
    assert(messy == base)
  }

  private def lss(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponentsLss(pairs.toDF("a", "b")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap

  test("LSS components: long chain collapses to the minimum in few rounds") {
    // path 1-2-...-50: min-label propagation needs O(n) rounds; LSS O(log n)
    val chain = (1L until 50L).map(i => (i, i + 1))
    val m = lss(chain)
    assert(m.size == 50)
    assert(m.values.forall(_ == 1L))
  }

  test("LSS components: multiple components, orientation + duplicates") {
    val m = lss(Seq((5L, 3L), (3L, 9L), (9L, 5L), (20L, 21L), (21L, 20L), (30L, 31L)))
    assert(m(3L) == 3L && m(5L) == 3L && m(9L) == 3L)
    assert(m(20L) == 20L && m(21L) == 20L)
    assert(m(30L) == 30L && m(31L) == 30L)
  }

  test("LSS components agree with duplicateClusters on a pseudo-random graph") {
    // deterministic sparse graph over 200 nodes
    val pairs = (1 to 260).map { i =>
      val a = (i * 2654435761L) % 200L
      val b = (i * 40503L + 7) % 200L
      (a, b)
    }.filter { case (a, b) => a != b }
    val a = lss(pairs)
    val b = graft.dedup.Dedup.duplicateClusters(pairs.toDF("a", "b")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
    assert(a == b)
  }

  test("personalized: mass concentrates around the seed, not the hub") {
    import org.apache.spark.sql.functions.col
    // star 1-2,1-3,1-4 plus a far chain 4-5-6: seed node 6 sits at the
    // chain's end — its neighborhood must outrank the hub's leaves
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val r = Graph.pageRankPersonalized(pairs, id => id === 6, iters = 5)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Long]("rank_micro")).toMap
    assert(r(6L) > r(2L) && r(5L) > r(2L),
      s"seed neighborhood should outrank far leaves: $r")
    // uniform pageRank on the same graph ranks hub 1 on top; PPR must not
    val uni = Graph.pageRank(pairs, iters = 5)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Long]("rank_micro")).toMap
    assert(uni(1L) == uni.values.max && r(1L) != r.values.max)
    // graph without any seed fails loudly
    intercept[IllegalArgumentException] {
      Graph.pageRankPersonalized(pairs, id => id === 99, iters = 1).collect()
    }
  }

  test("hub node outranks leaves; disconnected components don't interact") {
    // star 10-(11,12,13) plus isolated edge 20-21
    val m = ranks(Seq((10L, 11L), (10L, 12L), (10L, 13L), (20L, 21L)), iters = 5)
    assert(m(10L)._2 > m(11L)._2)
    assert(m(11L) == m(12L) && m(12L) == m(13L))
    // the isolated pair is a symmetric 2-cycle: rank stays at the
    // fixed point 150000 + 85*1e6/100 = 1000000 every iteration
    assert(m(20L) == (1L, 1000000L))
    assert(m(21L) == (1L, 1000000L))
  }

  test("a malformed rankBroadcastMaxRows names its conf key and value") {
    import spark.implicits._
    val key = "graft.graph.rankBroadcastMaxRows"
    val df = Seq(1L).toDF("a")
    spark.conf.set(key, "2M")
    try {
      val e = intercept[IllegalArgumentException](Graph.rankBroadcastMaxRows(df))
      assert(e.getMessage.contains(key) && e.getMessage.contains("'2M'"), e.getMessage)
      assert(e.getCause.isInstanceOf[NumberFormatException])
      spark.conf.set(key, "12345")
      assert(Graph.rankBroadcastMaxRows(df) == 12345L)
    } finally spark.conf.unset(key)
    assert(Graph.rankBroadcastMaxRows(df) == Graph.RankBroadcastMaxRowsDefault)
  }
}
