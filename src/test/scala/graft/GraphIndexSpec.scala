package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ann.GraphIndex
import graft.ingest.DeterministicHashEmbedder

/** Persistent kNN-graph index: exact incremental maintenance (upsert and
  * delete row-identical to a full rebuild, with the reverse-adjacency
  * sidecar staying consistent), the hub-delete path past the broadcast
  * gate, and medoid-routed beam-search serving from persisted state.
  */
class GraphIndexSpec extends SparkSpec {
  import spark.implicits._

  private val K = 4

  private def newApi(): Api = {
    val wh = Files.createTempDirectory("graft-wh").toString
    new Api(spark, wh, new DeterministicHashEmbedder(32))
  }

  private def docsDf(is: Seq[Int]): DataFrame =
    is.map(i => s"document number $i carries words w$i and w${i % 7}").toDF("content")

  private def adjacency(api: Api, entry: graft.model.CollectionEntry): Seq[(String, String, Int)] =
    GraphIndex.load(spark, api.catalog, entry)
      .select("qid", "neighbor", "rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .sortBy(x => (x._1, x._3))

  /** The reverse sidecar must always hold exactly the forward edge set
    * (with each row living in its NEIGHBOR's hash bucket).
    */
  private def assertReverseConsistent(api: Api, entry: graft.model.CollectionEntry): Unit = {
    val fwd = GraphIndex.load(spark, api.catalog, entry)
      .select("qid", "neighbor")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val rev = GraphIndex.loadReverse(spark, api.catalog, entry)
      .select("qid", "neighbor")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rev == fwd)
  }

  test("write-path upsert maintenance is row-identical to a full rebuild") {
    // the Api write path (stage/applyPending) maintains the graph index
    // automatically; the result must equal a from-scratch rebuild
    val api = newApi()
    api.createCollection("g1", documents = Some(docsDf(0 until 30)))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "g1"))
    GraphIndex.build(spark, api.catalog, entry, K)
    assert(api.addDocuments("g1", docsDf(30 until 36)) == 6)
    val incremental = adjacency(api, entry)
    assert(incremental.map(_._1).distinct.size == 36)
    assertReverseConsistent(api, entry)
    GraphIndex.build(spark, api.catalog, entry, K)
    assert(incremental == adjacency(api, entry))
  }

  test("write-path delete maintenance is row-identical to a full rebuild") {
    val api = newApi()
    api.createCollection("g2", documents = Some(docsDf(0 until 30)))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "g2"))
    GraphIndex.build(spark, api.catalog, entry, K)

    val victims = api.catalog.readDocuments(entry)
      .select("id").as[String].collect().sorted.take(5).toSeq
    api.deleteDocuments("g2", victims)
    val incremental = adjacency(api, entry)
    assertReverseConsistent(api, entry)

    GraphIndex.build(spark, api.catalog, entry, K)
    assert(incremental == adjacency(api, entry))
    // no deleted id survives anywhere in the adjacency
    assert(!incremental.exists(e => victims.contains(e._1) || victims.contains(e._2)))
  }

  test("hub-node delete past the broadcast gate is row-identical to a rebuild") {
    // every doc shares the hub's dominant token, so the hub is an in-edge
    // of (nearly) every node: deleting it makes |affected| ~ corpus.
    // broadcastGate = 0 forces the partitioned-cross recompute path the
    // gate would pick for a real hub at deployment scale.
    val api = newApi()
    val docs = ("hub shared shared shared shared" +:
      (0 until 24).map(i => s"shared shared shared shared leaf$i word${i % 3}")).toDF("content")
    api.createCollection("g4", documents = Some(docs))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "g4"))
    GraphIndex.build(spark, api.catalog, entry, K)
    val meta = GraphIndex.loadMeta(spark, api.catalog, entry).get

    val hubId = api.catalog.readDocuments(entry)
      .filter(col("content").startsWith("hub"))
      .select("id").as[String].collect().head
    // reference result: the api write path deletes through the default
    // (broadcast) gate and test 2 proves that path rebuild-identical
    api.deleteDocuments("g4", Seq(hubId))
    val viaDefaultGate = adjacency(api, entry)
    assert(GraphIndex.loadMeta(spark, api.catalog, entry).contains(meta))

    // same delete replayed on an identical corpus through the FORCED
    // partitioned-cross path (gate 0): mirror the write order — document
    // rows go first, then the index maintains itself
    val api2 = newApi()
    api2.createCollection("g4b", documents = Some(docs))
    val entry2 = api2.catalog.getCollection(api2.catalog.physicalName("default", "g4b"))
    GraphIndex.build(spark, api2.catalog, entry2, K)
    graft.ingest.Ingest.mergeDelete(spark, api2.catalog, entry2, Seq(hubId))
    GraphIndex.delete(spark, api2.catalog, entry2, Seq(hubId), K,
      GraphIndex.DefaultBuckets, broadcastGate = 0L)
    val viaCross = adjacency(api2, entry2)
    assertReverseConsistent(api2, entry2)

    assert(viaCross == viaDefaultGate)
    assert(!viaCross.exists(e => e._1 == hubId || e._2 == hubId))
  }

  test("re-upserting existing content with a changed pinned embedding stays rebuild-identical") {
    // content-addressed id is UNCHANGED but the stored vector moves
    // (Embed.withEmbeddings only fills nulls) — the write path must route
    // the id through delete-then-upsert or other nodes keep stale edges
    val api = newApi()
    api.createCollection("g6", documents = Some(docsDf(0 until 20)))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "g6"))
    GraphIndex.build(spark, api.catalog, entry, K)
    val emb = new DeterministicHashEmbedder(32)
    val pinned = (0 until 3)
      .map(i => (s"document number $i carries words w$i and w${i % 7}",
        emb.embedQuery(s"shifted embedding $i").toSeq))
      .toDF("content", "embedding")
    assert(api.addDocuments("g6", pinned) == 3)
    val incremental = adjacency(api, entry)
    assertReverseConsistent(api, entry)
    GraphIndex.build(spark, api.catalog, entry, K)
    assert(incremental == adjacency(api, entry))

    // a mixed write: new content plus a changed-vector re-upsert, so one
    // node can both lose an edge and admit a batch edge
    val mixed = (20 until 23).map(i =>
        (s"document number $i carries words w$i and w${i % 7}", Option.empty[Seq[Float]])) :+
      ("document number 5 carries words w5 and w5", Some(emb.embedQuery("moved again 5").toSeq))
    assert(api.addDocuments("g6", mixed.toDF("content", "embedding")) == 4)
    val afterMixed = adjacency(api, entry)
    assertReverseConsistent(api, entry)
    GraphIndex.build(spark, api.catalog, entry, K)
    assert(afterMixed == adjacency(api, entry))
  }

  test("a zero-norm embedding is not a graph node and does not break a graph-indexed write") {
    val api = newApi()
    api.createCollection("g7", documents = Some(docsDf(0 until 20)))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "g7"))
    GraphIndex.build(spark, api.catalog, entry, K)
    val batch = Seq(
      ("an all-zero pinned embedding", Some(Seq.fill(32)(0f))),
      ("document number 20 carries words w20 and w6", Option.empty[Seq[Float]]))
    assert(api.addDocuments("g7", batch.toDF("content", "embedding")) == 2)
    val zeroIds = api.catalog.readDocuments(entry)
      .filter(col("norm") === 0).select("id").as[String].collect().toSeq
    assert(zeroIds.size == 1)
    val incremental = adjacency(api, entry)
    assert(!incremental.exists(e => zeroIds.contains(e._1) || zeroIds.contains(e._2)))
    assertReverseConsistent(api, entry)
    GraphIndex.build(spark, api.catalog, entry, K)
    assert(incremental == adjacency(api, entry))
  }

  test("a graph index without its reverse sidecar fails the next write and stays untouched") {
    val api = newApi()
    api.createCollection("g8", documents = Some(docsDf(0 until 20)))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "g8"))
    GraphIndex.build(spark, api.catalog, entry, K)
    graft.catalog.PartitionedTable.deleteDir(
      java.nio.file.Paths.get(GraphIndex.reversePath(api.catalog, entry)))
    def graphFiles: Set[(String, Long, Long)] = {
      val stream = Files.walk(java.nio.file.Paths.get(GraphIndex.indexPath(api.catalog, entry)))
      try stream.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet
      finally stream.close()
    }
    val before = graphFiles
    val ex = intercept[IllegalArgumentException] {
      api.addDocuments("g8", docsDf(20 until 22))
    }
    assert(ex.getMessage.contains("reverse sidecar"))
    assert(graphFiles == before)
  }

  test("beam search serves from the persisted medoid entry points") {
    val api = newApi()
    api.createCollection("g3", documents = Some(docsDf(0 until 40)))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "g3"))
    GraphIndex.build(spark, api.catalog, entry, K)

    // build persisted the centroid + medoid sidecars
    val med = GraphIndex.loadMedoids(spark, api.catalog, entry).get
      .collect().map(_.getString(1)).toSeq
    assert(med.nonEmpty && med.size <= GraphIndex.MedoidClusters)

    val emb = new DeterministicHashEmbedder(32)
    val qs = Seq(0 -> emb.embedQuery("document number 7").toSeq)
    val viaIndex = GraphIndex.search(spark, api.catalog, entry, qs,
      entries = 4, beam = 8, hops = 3, k = 5)
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted
    // the same walk, recomputed from scratch over the same persisted
    // medoid entries — serving must equal first-principles beam search
    val vecs = api.catalog.readDocuments(entry).select("id", "embedding", "norm")
    val entryPoints = graft.ann.GraphSearch.routeEntries(
      vecs, GraphIndex.loadMedoids(spark, api.catalog, entry).get.select("id"),
      qs, entries = 4)
    val fresh = graft.ann.GraphSearch.beamSearchWithEntries(
      graft.ann.Ann.knnJoin(vecs, K).select("qid", "neighbor"),
      vecs, qs, entryPoints, beam = 8, hops = 3, k = 5)
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted
    assert(viaIndex.toSeq == fresh.toSeq)
    // the index dir is physically partitioned by qid hash bucket
    val dirs = new java.io.File(GraphIndex.indexPath(api.catalog, entry))
      .listFiles().map(_.getName).filter(_.startsWith("bucket="))
    assert(dirs.length > 1)
  }

  test("searchFiltered serves visited ∩ pred from persisted state with the oversample floor") {
    val api = newApi()
    api.createCollection("g6", documents = Some(docsDf(0 until 40)))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "g6"))
    GraphIndex.build(spark, api.catalog, entry, K)

    val emb = new DeterministicHashEmbedder(32)
    val qs = Seq(0 -> emb.embedQuery("document number 7").toSeq)
    // ids are uuid strings here — a content-independent selective pred
    val pred = substring(col("id"), 1, 1).isin("0", "1", "2", "3")

    // a caller-requested beam of 2 is floored to the reference's
    // post-filter oversample (max(10k,100) candidates): with hops=3 and
    // degree K=4 the walk must run at beam ceil(100/(3*5)) = 7
    val viaIndex = GraphIndex.searchFiltered(spark, api.catalog, entry, qs, pred,
      entries = 4, beam = 2, hops = 3, k = 5)
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    val vecs = api.catalog.readDocuments(entry).select("id", "embedding", "norm")
    val entryPoints = graft.ann.GraphSearch.routeEntries(
      vecs, GraphIndex.loadMedoids(spark, api.catalog, entry).get.select("id"),
      qs, entries = 4)
    val flooredBeam = math.ceil(100.0 / (3 * (K + 1))).toInt
    val fresh = graft.ann.GraphSearch.beamSearchFilteredWithEntries(
      graft.ann.Ann.knnJoin(vecs, K).select("qid", "neighbor"),
      vecs, qs, entryPoints, beam = flooredBeam, hops = 3, k = 5, pred = pred)
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(viaIndex == fresh)
    // every served row satisfies the predicate
    assert(viaIndex.forall { case (_, id) => "0123".contains(id.head) })
    assert(viaIndex.nonEmpty)
  }

  test("deleting a medoid repairs the entry-point table from stored centroids") {
    val api = newApi()
    api.createCollection("g5", documents = Some(docsDf(0 until 30)))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "g5"))
    GraphIndex.build(spark, api.catalog, entry, K)
    val victim = GraphIndex.loadMedoids(spark, api.catalog, entry).get
      .orderBy("cluster_id").collect().head.getString(1)
    api.deleteDocuments("g5", Seq(victim))
    val after = GraphIndex.loadMedoids(spark, api.catalog, entry).get
      .collect().map(_.getString(1)).toSeq
    // no dangling entry point, and every medoid still exists in the corpus
    assert(!after.contains(victim))
    val live = api.catalog.readDocuments(entry).select("id").as[String].collect().toSet
    assert(after.forall(live.contains))
    // serving still works end to end
    val emb = new DeterministicHashEmbedder(32)
    val res = GraphIndex.search(spark, api.catalog, entry,
      Seq(0 -> emb.embedQuery("document number 3").toSeq), k = 3, beam = 8)
    assert(res.count() == 3)
  }
}
