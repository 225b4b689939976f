package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.ann.{GraphIndex, PqIndex}
import graft.ingest.DeterministicHashEmbedder
import graft.model.{CollectionEntry, ErrorCodes, GraftException}

/** The registry's presence rule, per index: an index dir without its write
  * job's `_SUCCESS` is absent — its search route answers the governed
  * not-found error and a write leaves its files exactly as they were.
  */
class IndexRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def newApi(): Api =
    new Api(spark, Files.createTempDirectory("graft-wh").toString, new DeterministicHashEmbedder(32))

  private def entryOf(api: Api, name: String): CollectionEntry =
    api.catalog.getCollection(api.catalog.physicalName("default", name))

  private def docs(is: Range): DataFrame =
    is.map(i => s"registry doc $i about topic t${i % 4} with words w$i").toDF("content")

  /** Every file under `dir` with its size and modification time. */
  private def files(dir: String): Set[(String, Long, Long)] = {
    val stream = Files.walk(Paths.get(dir))
    try stream.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet
    finally stream.close()
  }

  private def notFound(code: String)(route: => Any): Unit =
    assert(intercept[GraftException](route).code == code)

  test("an index without its _SUCCESS is absent: governed on its route, untouched by writes") {
    val api = newApi()
    api.createCollection("reg", documents = Some(docs(0 until 16)))
    val entry = entryOf(api, "reg")
    api.buildLexicalIndex("reg")
    api.buildAnnIndex("reg", nClusters = 3)
    api.buildPqIndex("reg", m = 4, k = 4, iters = 1)
    api.buildLshIndex("reg", bits = 4, tables = 2)
    api.buildMinHashIndex("reg", bands = 16, shingleN = 3)
    api.buildChunkIndex("reg", maxTokens = 4)
    api.buildChunkIvfIndex("reg")
    api.buildChunkPqIndex("reg", m = 4, k = 4, iters = 1)
    GraphIndex.build(spark, api.catalog, entry, k = 3)
    assert(Indexes.All.forall(_.exists(api.catalog, entry)))
    // a rejected build argument is refused before any index is touched
    def indexFiles = Indexes.All.map(ix => files(ix.indexPath(api.catalog, entry)))
    val built = indexFiles
    intercept[IllegalArgumentException](api.buildAnnIndex("reg", nClusters = -1))
    intercept[IllegalArgumentException](api.buildAnnIndex("reg", nClusters = 3, trainFraction = 0))
    intercept[IllegalArgumentException](
      api.buildChunkIvfIndex("reg", trainOn = "chunks", nClusters = -1))
    intercept[IllegalArgumentException](
      api.buildChunkIvfIndex("reg", trainOn = "chunks", trainFraction = 1.5))
    assert(indexFiles == built, "a rejected build argument touched an index")

    val q = "registry doc 3 about topic t3 with words w3"
    val routes: Map[String, () => Any] = Map(
      "lexical" -> (() => api.lexicalSearchBm25Indexed("reg", Seq(q), 3)),
      "ivf" -> (() => api.semanticSearchApprox("reg", Seq(q), 3)),
      "pq" -> (() => api.semanticSearchPq("reg", Seq(q), 3)),
      "lsh" -> (() => api.semanticSearchLsh("reg", Seq(q), 3)),
      "minhash" -> (() => api.addDocumentsDedupContent("reg", Seq(q).toDF("content"), 0.5)),
      "chunkvecs" -> (() => api.maxsimSearch("reg", q, 3, candidateSource = "chunk")),
      "chunkivf" -> (() => api.maxsimSearch("reg", q, 3, candidateSource = "chunkivf")),
      "chunkpq" -> (() => api.maxsimSearch("reg", q, 3, candidateSource = "cpq")),
      "graph" -> (() => GraphIndex.search(spark, api.catalog, entry,
        Seq(0 -> new DeterministicHashEmbedder(32).embedQuery(q).toSeq))))
    assert(routes.keySet == Indexes.All.map(_.key).toSet)

    // dependents first, so each route's own presence check is the one hit;
    // a write after every second index, while the rest are still
    // maintained, must leave every absent index's files as they were
    var absent = Seq.empty[DerivedIndex]
    Indexes.All.reverse.grouped(2).zipWithIndex.foreach { case (pair, i) =>
      pair.foreach { ix =>
        Files.delete(Paths.get(ix.indexPath(api.catalog, entry), "_SUCCESS"))
        absent :+= ix
        notFound(ix.notFound)(routes(ix.key)())
      }
      val before = absent.map(a => files(a.indexPath(api.catalog, entry)))
      api.addDocuments("reg", docs(100 + i to 100 + i))
      assert(absent.map(a => files(a.indexPath(api.catalog, entry))) == before,
        s"a write touched an absent index (${absent.map(_.key)})")
    }
    assert(api.describeCollection("reg")("indexes") == Map.empty)
  }

  test("PQ after a crash mid-buildAnnIndex: absent until the rebuild re-encodes it") {
    val api = newApi()
    api.createCollection("crash", documents = Some(docs(0 until 30)))
    val entry = entryOf(api, "crash")
    api.buildAnnIndex("crash", nClusters = 3)
    api.buildPqIndex("crash", m = 4, k = 4, iters = 1)
    // a quantizer rebuild that dies after it started rewriting: the codes
    // it would have re-encoded must read as absent, not as codes keyed to
    // the old quantizer
    val table = Paths.get(api.catalog.tablePath(entry))
    val aside = Paths.get(s"$table.aside")
    Files.move(table, aside)
    try intercept[Exception](api.buildAnnIndex("crash", nClusters = 3))
    finally Files.move(aside, table)
    assert(!PqIndex.exists(api.catalog, entry))
    val q = Seq("registry doc 3 about topic t3 with words w3")
    notFound(ErrorCodes.AnnIndexNotFound)(api.semanticSearchPq("crash", q, 3))
    val before = files(PqIndex.indexPath(api.catalog, entry))
    api.addDocuments("crash", docs(30 until 32))
    api.deleteDocuments("crash", api.catalog.readDocuments(entry).select("id").as[String]
      .collect().take(2).toSeq)
    assert(files(PqIndex.indexPath(api.catalog, entry)) == before)
    // rebuilt, and re-encoded by the next quantizer rebuild
    api.buildAnnIndex("crash", nClusters = 5)
    api.buildPqIndex("crash", m = 4, k = 4, iters = 1)
    api.buildAnnIndex("crash", nClusters = 4)
    def rows(df: DataFrame): Set[String] =
      df.select("id", "codes", "cluster_id").collect().map(_.toString).toSet
    assert(rows(PqIndex.load(spark, api.catalog, entry)) ==
      rows(PqIndex.encodeRows(spark, api.catalog, entry,
        api.catalog.readDocuments(entry).select("id", "embedding", "norm"),
        PqIndex.loadCodebooks(spark, api.catalog, entry).get)))
    assert(PqIndex.load(spark, api.catalog, entry).select("cluster_id").distinct().count() > 1)
    assert(api.semanticSearchPq("crash", q, 3).results.head.content == q.head)
  }
}
