package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Api, McpServer, McpSurface}
import graft.ingest.DeterministicHashEmbedder

/** The served collection: the first `Docs` rows of the generated
  * `documents` table, written through `Api.addDocuments` with the hash
  * embedder at its default dimension, with an IVF and a lexical index.
  */
object Corpus {
  val Name = "bench"
  val Docs = 5000
  val IvfClusters = 64
  val K = 10
  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(" ")

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  def load(spark: SparkSession, dir: String): IndexedSeq[Doc] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source").orderBy("doc_id").limit(Docs).collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toIndexedSeq

  def frame(spark: SparkSession, rows: Seq[(String, Map[String, String])]): DataFrame = {
    import spark.implicits._
    rows.toDF("content", "metadata")
  }

  def api(spark: SparkSession, work: String): Api =
    new Api(spark, s"$work/warehouse", new DeterministicHashEmbedder())

  def stored(api: Api): IndexedSeq[(String, String)] =
    api.catalog.readDocuments(api.getCollection(Name)).select("id", "content")
      .collect().map(r => r.getString(0) -> r.getString(1)).sortBy(_._1).toIndexedSeq

  /** A 3-8 word span of a stored document. */
  def question(rng: Random, docs: IndexedSeq[(String, String)]): String = {
    val words = docs(rng.nextInt(docs.size))._2.split(" ")
    val n = math.min(words.length, 3 + rng.nextInt(6))
    val from = rng.nextInt(words.length - n + 1)
    words.slice(from, from + n).mkString(" ")
  }

  def freshText(rng: Random): String =
    Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")

  /** Files under `root` with their sizes. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
}

/** Timed writes through `Api.addDocuments` / `deleteDocuments`. The
  * bytes each write leaves in the warehouse are summed for the write
  * amplification.
  */
final class Writer(api: Api, rec: Recorder, warehouse: Path, phase: String) {
  var contentBytes = 0L
  var bytesWritten = 0L
  private var files = Corpus.files(warehouse)

  private def write(kind: String, expect: Int, bytes: Long)(body: => Long): Unit = {
    rec.time(kind, phase, 0) { _ => body.toInt -> expect }
    val after = Corpus.files(warehouse)
    bytesWritten += after.collect { case (p, s) if !files.get(p).contains(s) => s }.sum
    files = after
    contentBytes += bytes
  }

  def upsert(rows: Seq[(String, Map[String, String])]): Unit =
    write("upsert", rows.map(_._1).distinct.size, rows.map(_._1.getBytes("UTF-8").length.toLong).sum) {
      api.addDocuments(Corpus.Name, Corpus.frame(api.spark, rows))
    }

  def delete(ids: Seq[String]): Unit =
    write("delete", ids.size, 0L) { api.deleteDocuments(Corpus.Name, ids); ids.size.toLong }
}

/** `fixture`: writes the served collection once per build, through the
  * public write path, then builds its indexes.
  */
object Fixture {
  def run(o: Opts, rec: Recorder): Map[String, Any] = {
    val api = Corpus.api(rec.spark, o.work)
    val load = new Writer(api, rec, Paths.get(s"${o.work}/warehouse"), "load")
    api.createCollection(Corpus.Name, overwrite = true)
    Corpus.load(rec.spark, o.data).grouped(graft.model.Limits.MaxDocuments).zipWithIndex.foreach {
      case (batch, i) =>
        load.upsert(batch.map(d => d.text ->
          Map("lang" -> d.lang, "source" -> d.source, "doc" -> d.docId.toString)))
        rec.log(s"loaded batch ${i + 1}")
    }
    rec.time("build_ivf", "load", 0) { _ => api.buildAnnIndex(Corpus.Name, Corpus.IvfClusters); 0 -> 0 }
    rec.time("build_lexical", "load", 0) { _ => api.buildLexicalIndex(Corpus.Name); 0 -> 0 }
    rec.markMeasureStart()
    Map.empty
  }
}

/** The writes of a `serve` run, on its own copy of the collection: one
  * seeded upsert (half updates of stored documents, half new ones) and one
  * delete of other ids, then the end-state checks.
  */
object Churn {
  val UpdateDocs = 100
  val DeleteIds = 20

  def run(api: Api, rec: Recorder, warehouse: Path, stored: IndexedSeq[(String, String)],
      seed: Long): Map[String, Any] = {
    val rng = new Random(seed)
    val picked = rng.shuffle(stored.indices.toVector).take(UpdateDocs / 2 + DeleteIds).map(stored)
    val (updates, deletes) = picked.splitAt(UpdateDocs / 2)
    val fresh = Seq.fill(UpdateDocs - updates.size)(Corpus.freshText(rng))
    val rev = Map("rev" -> "1")
    val writer = new Writer(api, rec, warehouse, "write")
    val start = rec.nowMs
    writer.upsert(updates.map(_._2 -> rev) ++ fresh.map(_ -> rev))
    writer.delete(deletes.map(_._1))
    val writerWall = rec.nowMs - start
    val end = api.catalog.readDocuments(api.getCollection(Corpus.Name))
      .agg(count(lit(1)), sum(octet_length(col("content"))).cast("long")).collect()(0)
    val (docCount, live) = (end.getLong(0), end.getLong(1))
    val got = api.getDocumentsByIds(Corpus.Name, updates.map(_._1)).select("id", "content", "metadata")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getMap[String, String](2).toMap)).toMap
    val storedContent = stored.map(_._2).toSet
    val found = updates.headOption.forall { case (id, c) =>
      api.semanticSearchApprox(Corpus.Name, Seq(c), Corpus.K).results.exists(_.id == id)
    }
    Map(
      "count" -> docCount,
      "expected_count" -> (stored.size + fresh.distinct.count(f => !storedContent(f)) - deletes.size),
      "updated_ok" -> updates.forall { case (id, c) =>
        got.get(id).exists { case (content, meta) => content == c && meta.get("rev") == rev.get("rev") } },
      "updated_found" -> found,
      "docs_written" -> (UpdateDocs + deletes.size), "writer_wall_ms" -> writerWall,
      "content_bytes_ingested" -> writer.contentBytes, "bytes_written" -> writer.bytesWritten,
      "warehouse_bytes" -> Corpus.files(warehouse).values.sum, "live_content_bytes" -> live)
  }
}

/** A McpSurface whose `vectorSearch` records its own duration and runs
  * under the job group of the benchmark operation that sent the question,
  * so that jobs started on the server's worker threads are attributed.
  */
final class TimedSurface(api: Api, pending: ConcurrentHashMap[String, ConcurrentLinkedQueue[String]],
    inner: ConcurrentHashMap[String, Double]) extends McpSurface(api) {
  override def vectorSearch(action: String, collectionName: String, question: String,
      numberResults: Int, semanticWeight: Double, lexicalWeight: Double, rrfK: Int,
      dbType: String, semanticMode: String, lexicalMode: String): Map[String, Any] = {
    def call() = super.vectorSearch(action, collectionName, question,
      numberResults, semanticWeight, lexicalWeight, rrfK, dbType, semanticMode, lexicalMode)
    // in-process calls arrive with no pending question and keep their
    // caller's job group
    Option(pending.get(question)).flatMap(q => Option(q.poll())) match {
      case None => call()
      case Some(opId) =>
        val t0 = System.nanoTime()
        try Trace.inGroup(api.spark, opId)(call())
        finally inner.put(opId, (System.nanoTime() - t0) / 1e6)
    }
  }
}

/** The seven serving routes, reached the way a caller reaches them. */
final class Routes(val api: Api, traced: Boolean) {
  import Routes._
  val pending = new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  val inner = new ConcurrentHashMap[String, Double]()
  val surface: McpSurface = if (traced) new TimedSurface(api, pending, inner) else new McpSurface(api)
  private val server = new McpServer(surface, api.spark, workerThreads = 4)
  private val url = URI.create(s"http://127.0.0.1:${server.start()}/mcp")
  private val calls = new java.util.concurrent.atomic.AtomicLong(0L)

  def stop(): Unit = server.stop()

  private def hits(res: Map[String, Any]): Seq[(String, Double)] =
    res("results").asInstanceOf[Seq[Map[String, Any]]]
      .map(h => h("id").toString -> h("score").asInstanceOf[Double])

  private def http(client: HttpClient, opId: String, action: String, q: String): Seq[(String, Double)] = {
    if (traced) pending.computeIfAbsent(q, _ => new ConcurrentLinkedQueue[String]()).add(opId)
    val body = Harness.mapper.writeValueAsString(Map("jsonrpc" -> "2.0",
      "id" -> calls.incrementAndGet(), "method" -> "tools/call",
      "params" -> Map("name" -> "vector_search", "arguments" -> Map(
        "action" -> action, "collection_name" -> Corpus.Name, "question" -> q,
        "number_results" -> Corpus.K))))
    val resp = client.send(HttpRequest.newBuilder(url)
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    val result = Harness.mapper.readTree(resp.body()).get("result")
    if (resp.statusCode() != 200 || result == null || result.get("isError").asBoolean(true))
      throw new IllegalStateException(s"HTTP ${resp.statusCode()}: ${resp.body().take(300)}")
    val text = result.get("content").get(0).get("text").asText()
    hits(Harness.mapper.readValue(text, classOf[Map[String, Any]]))
  }

  /** Run one request; returns its hits as (id, score). */
  def call(route: String, client: HttpClient, opId: String, q: String, ids: Seq[String]): Seq[(String, Double)] =
    route match {
      case "sem_exact" => http(client, opId, "semantic_search", q)
      case "lex_scan" => http(client, opId, "lexical_search", q)
      case "hybrid_scan" => http(client, opId, "search", q)
      case "sem_approx" => hits(surface.vectorSearch("semantic_search", Corpus.Name, q,
        Corpus.K, semanticMode = "approx"))
      case "lex_bm25_idx" => hits(surface.vectorSearch("lexical_search", Corpus.Name, q,
        Corpus.K, lexicalMode = "bm25_indexed"))
      case "hybrid_idx" => hits(surface.vectorSearch("search", Corpus.Name, q, Corpus.K,
        semanticMode = "approx", lexicalMode = "bm25_indexed"))
      case "get_by_ids" => api.getDocumentsByIds(Corpus.Name, ids).select("id", "content")
        .collect().map(r => r.getString(0) -> (r.getString(1).hashCode & 0xffffffffL).toDouble)
        .sortBy(_._1).toSeq
    }

  /** Draw a request for `route`: the question, or the ids to look up. */
  def draw(route: String, rng: Random, stored: IndexedSeq[(String, String)]): (String, Seq[String]) =
    if (route == "get_by_ids")
      "" -> Seq.fill(1 + rng.nextInt(5))(stored(rng.nextInt(stored.size))._1).distinct
    else Corpus.question(rng, stored) -> Nil

  /** Time one request as an operation of `rec`. */
  def timed(rec: Recorder, route: String, phase: String, clientNo: Int, client: HttpClient,
      req: (String, Seq[String]), collectionSize: Long): Op =
    rec.time(route, phase, clientNo) { opId =>
      val expect = if (route == "get_by_ids") req._2.size else math.min(Corpus.K.toLong, collectionSize).toInt
      call(route, client, opId, req._1, req._2).size -> expect
    }
}

object Routes {
  val All: Seq[String] = Seq("sem_exact", "lex_scan", "hybrid_scan",
    "sem_approx", "lex_bm25_idx", "hybrid_idx", "get_by_ids")
  val ProbeSeed = 20261017L
}

/** `serve`: closed-loop serving over a copy of the fixture collection at
  * one client, then four, then the writes of `Churn` on that copy.
  *
  * The measured work is fixed so that every run measures the same route
  * mix; the seed picks the questions, ids and written documents. Each of
  * four clients sends the same number of requests, client c starting at
  * route 2c; then one client walks whole rotations of the seven routes.
  * `c4` runs first because it also finishes the warm-up: a request is
  * still a third slower on its second execution than on its third.
  */
object Serve {
  val C4Clients = 4

  def run(o: Opts, rec: Recorder): Map[String, Any] = {
    val api = Corpus.api(rec.spark, o.work)
    val stored = Corpus.stored(api)
    val n = stored.size.toLong
    val routes = new Routes(api, o.trace)
    // --seconds sizes the work: on a 4-core machine two rounds of c4
    // requests take about 9 s, a c1 rotation about 11 s and the writes
    // about 22 s
    val c1Cycles = math.max(1, math.round(o.seconds / 20).toInt)
    val c4PerClient = 2
    try {
      val client = HttpClient.newHttpClient()
      rec.log("collection open")
      // the probe set doubles as the warm-up: every route once
      val probes = Serve.probes(routes, stored, client)
      rec.sampleLiveHeap()
      rec.markMeasureStart()
      val c4 = clients(C4Clients, o.seed, "c4") { (c, cr, http, i) =>
        val r = Routes.All((2 * c + i) % Routes.All.size)
        routes.timed(rec, r, "c4", c, http, routes.draw(r, cr, stored), n)
        i + 1 < c4PerClient
      }
      c4.foreach(_.join())
      val rng = new Random(o.seed)
      for (_ <- 1 to c1Cycles; r <- Routes.All)
        routes.timed(rec, r, "c1", 0, client, routes.draw(r, rng, stored), n)
      val ingest = Churn.run(api, rec, Paths.get(s"${o.work}/warehouse"), stored, o.seed)
      rec.sampleLiveHeap()
      Map("probes" -> probes, "inner_ms" -> routes.inner.asScala.toMap, "ingest" -> ingest)
    } finally routes.stop()
  }

  /** Start `count` client threads; each calls `step(client, rng, http, i)`
    * for i = 0, 1, ... until it returns false.
    */
  def clients(count: Int, seed: Long, name: String)(
      step: (Int, Random, HttpClient, Int) => Boolean): Seq[Thread] =
    (0 until count).map { c =>
      val t = new Thread(() => {
        val rng = new Random(seed * 31 + c)
        val http = HttpClient.newHttpClient()
        var i = 0
        while (step(c, rng, http, i)) i += 1
      }, s"perfbench-$name-$c")
      t.start()
      t
    }

  /** The fixed probe set (independent of the run seed) with its results.
    * The seven requests run at once: they are also the warm-up, and a cold
    * JVM spends most of it compiling, which spreads over the cores.
    */
  def probes(routes: Routes, stored: IndexedSeq[(String, String)], client: HttpClient): Map[String, Any] = {
    val rng = new Random(Routes.ProbeSeed)
    val requests = Routes.All.map(r => r -> routes.draw(r, rng, stored))
    graft.Checkpoints.parallel(requests.map { case (r, (q, ids)) => () =>
      val hits = routes.call(r, client, "", q, ids)
      r -> Map("question" -> q, "ids" -> hits.map(_._1), "scores" -> hits.map(_._2))
    }).toMap
  }
}
