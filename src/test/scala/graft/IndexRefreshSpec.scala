package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.{Ann, GraphIndex, IvfIndex, PqIndex, SignLshIndex}
import graft.ingest.DeterministicHashEmbedder
import graft.search.{ChunkIndex, ChunkIvfIndex, ChunkPqIndex, LexIndex}

/** The incremental write-path refresh (Indexes.stage/applyPending) must be
  * row-equivalent to a full rebuild of every derived index — upserts,
  * deletes, bucket-emptying deletes, and post-empty re-adds included —
  * for all nine persisted index types on one collection.
  */
class IndexRefreshSpec extends SparkSpec {

  private def rows(df: DataFrame, cols: String*): Set[String] =
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def assertIndexesMatchFullRebuild(api: Api, name: String): Unit = {
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", name))
    val docs = api.catalog.readDocuments(entry)

    val lex = LexIndex.load(spark, api.catalog, entry)
    assert(rows(lex, "id", "dl", "term", "tf", "bucket") ==
      rows(LexIndex.indexRows(docs), "id", "dl", "term", "tf", "bucket"),
      "lex postings must equal a from-scratch build")

    val cents = IvfIndex.loadCentroids(spark, api.catalog, entry)
    val ivf = IvfIndex.loadIndex(spark, api.catalog, entry)
    assert(rows(ivf, "id", "cluster_id") ==
      rows(Ann.assign(docs.select("id", "embedding", "norm"), cents), "id", "cluster_id"),
      "ivf assignments must equal a from-scratch reassign")

    val cbOpt = PqIndex.loadCodebooks(spark, api.catalog, entry)
    cbOpt.foreach { cb =>
      val pq = PqIndex.load(spark, api.catalog, entry)
      assert(rows(pq, "id", "codes", "cluster_id") ==
        rows(PqIndex.encodeRows(spark, api.catalog, entry,
          docs.select("id", "embedding", "norm"), cb), "id", "codes", "cluster_id"),
        "pq codes must equal a from-scratch re-encode")
    }

    val meta = SignLshIndex.requireMeta(spark, api.catalog, entry)
    val lsh = SignLshIndex.load(spark, api.catalog, entry)
    assert(rows(lsh, "id", "table", "key") ==
      rows(SignLshIndex.band(docs.select("id", "embedding", "norm"), meta),
        "id", "table", "key"),
      "lsh bands must equal a from-scratch build")

    val mhMeta = graft.dedup.MinHashIndex.requireMeta(spark, api.catalog, entry)
    val mh = graft.dedup.MinHashIndex.load(spark, api.catalog, entry)
    assert(rows(mh, "id", "band", "key", "pbucket") ==
      rows(graft.dedup.MinHashIndex.indexRows(docs.select("id", "content"), mhMeta),
        "id", "band", "key", "pbucket"),
      "minhash bands must equal a from-scratch build")

    val chunkMeta = ChunkIndex.loadMeta(spark, api.catalog, entry).get
    val chunks = ChunkIndex.indexRows(docs.select("id", "content"), Emb, chunkMeta.maxTokens)
    assert(rows(ChunkIndex.load(spark, api.catalog, entry), "id", "chunk_idx", "vec", "bucket") ==
      rows(chunks, "id", "chunk_idx", "vec", "bucket"),
      "chunk vectors must equal a from-scratch build")

    val civf = ChunkIvfIndex.load(spark, api.catalog, entry)
    assert(rows(civf, "id", "embedding", "cluster_id") ==
      rows(ChunkIvfIndex.indexRows(chunks, cents), "id", "embedding", "cluster_id"),
      "doc-aligned chunk-IVF assignments must equal a from-scratch build")

    val cpq = ChunkPqIndex.load(spark, api.catalog, entry)
    assert(rows(cpq, "id", "codes", "cluster_id") ==
      rows(ChunkPqIndex.encodeChunkRows(spark, api.catalog, entry, chunks,
        ChunkPqIndex.loadCodebooks(spark, api.catalog, entry).get), "id", "codes", "cluster_id"),
      "chunk-PQ codes must equal a from-scratch re-encode")

    val graph = GraphIndex.load(spark, api.catalog, entry)
    assert(rows(graph, "qid", "neighbor", "rank") ==
      rows(Ann.knnJoin(docs.select("id", "embedding", "norm"), GraphK), "qid", "neighbor", "rank"),
      "graph adjacency must equal a from-scratch build")
    assert(rows(GraphIndex.loadReverse(spark, api.catalog, entry), "qid", "neighbor") ==
      rows(graph, "qid", "neighbor"), "graph reverse sidecar must mirror the adjacency")
  }

  private val Emb = new DeterministicHashEmbedder(32)
  private val GraphK = 3

  test("incremental refresh == full rebuild across upsert / delete / empty / re-add") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val api = new Api(spark, wh, Emb)
    import spark.implicits._

    val docs = (0 until 60).map(i => s"alpha beta doc number $i").toDF("content")
    api.createCollection("inc", documents = Some(docs))
    api.buildLexicalIndex("inc")
    api.buildAnnIndex("inc", nClusters = 4)
    api.buildPqIndex("inc", m = 4, k = 4, iters = 1)
    api.buildLshIndex("inc", bits = 4, tables = 2)
    api.buildMinHashIndex("inc", bands = 16, shingleN = 3)
    api.buildChunkIndex("inc", maxTokens = 3)
    api.buildChunkIvfIndex("inc")
    api.buildChunkPqIndex("inc", m = 4, k = 4, iters = 1)
    GraphIndex.build(spark, api.catalog,
      api.catalog.getCollection(api.catalog.physicalName("default", "inc")), GraphK)
    assertIndexesMatchFullRebuild(api, "inc")

    // upsert: brand-new content plus re-sent existing content
    api.addDocuments("inc",
      (Seq("gamma delta fresh one", "gamma epsilon fresh two") ++
        Seq("alpha beta doc number 3")).toDF("content"))
    assertIndexesMatchFullRebuild(api, "inc")
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "inc"))

    // the new docs must be SERVED by the refreshed indexes
    val lexHit = LexIndex.searchTf(
      LexIndex.load(spark, api.catalog, entry), Seq(0 -> "gamma delta fresh"), 3)
    assert(lexHit.count() > 0, "new doc must be findable through the postings index")

    // delete a slice (including one of the new docs)
    val all = api.catalog.readDocuments(entry)
      .select("id", "content").collect().map(r => r.getString(0) -> r.getString(1))
    val victimIds = all.filter { case (_, c) =>
      c.endsWith("fresh one") || c.contains("number 1") }.map(_._1).toSeq
    assert(victimIds.nonEmpty)
    api.deleteDocuments("inc", victimIds)
    assertIndexesMatchFullRebuild(api, "inc")
    assert(rows(LexIndex.load(spark, api.catalog, entry), "id")
      .intersect(victimIds.toSet).isEmpty, "no stale postings for deleted ids")

    // empty the collection entirely — every index partition must drain
    val rest = api.catalog.readDocuments(entry).select("id")
      .collect().map(_.getString(0)).toSeq
    api.deleteDocuments("inc", rest)
    assert(api.catalog.readDocuments(entry).count() == 0)
    assert(LexIndex.load(spark, api.catalog, entry).count() == 0)
    assert(IvfIndex.loadIndex(spark, api.catalog, entry).count() == 0)
    assert(PqIndex.load(spark, api.catalog, entry).count() == 0)
    assert(SignLshIndex.load(spark, api.catalog, entry).count() == 0)
    assert(graft.dedup.MinHashIndex.load(spark, api.catalog, entry).count() == 0)
    assert(ChunkIndex.load(spark, api.catalog, entry).count() == 0)
    assert(ChunkIvfIndex.load(spark, api.catalog, entry).count() == 0)
    assert(ChunkPqIndex.load(spark, api.catalog, entry).count() == 0)
    assert(GraphIndex.load(spark, api.catalog, entry).count() == 0)

    // re-add after the emptying delete: rows must re-enter all indexes
    api.addDocuments("inc", Seq("zeta reborn alpha").toDF("content"))
    assertIndexesMatchFullRebuild(api, "inc")
    assert(LexIndex.load(spark, api.catalog, entry).count() > 0)
    assert(SignLshIndex.load(spark, api.catalog, entry).count() > 0)
    assert(IvfIndex.loadIndex(spark, api.catalog, entry).count() > 0)
    assert(ChunkPqIndex.load(spark, api.catalog, entry).count() > 0)

    api.deleteCollection("inc", confirm = true)
  }

  test("stage is a no-op (None) when the collection has no derived index") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val api = new Api(spark, wh, new DeterministicHashEmbedder(16))
    import spark.implicits._
    api.createCollection("plain", documents = Some(Seq("just a doc").toDF("content")))
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "plain"))
    val d = api.catalog.readDocuments(entry)
    assert(Indexes.stage(spark, api.catalog, entry,
      oldRows = d.limit(0), newRows = d).isEmpty)
    api.deleteCollection("plain", confirm = true)
  }
}
