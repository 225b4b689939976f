package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ingest.{DeterministicHashEmbedder, Ingest, Sanitize}
import graft.model.{ErrorCodes, GraftException}

/** End-to-end contract tests — ports of the observable semantics asserted
  * in the reference's tests/test_vector_api.py and
  * tests/test_all_backends.py (5-doc corpus, FIXTURES.md §2).
  */
class ApiSpec extends SparkSpec {

  private def newApi(tenant: String = "default"): Api = {
    val dir = Files.createTempDirectory("graft-wh").toString
    new Api(spark, dir, new DeterministicHashEmbedder(64), tenant)
  }

  /** The canonical 5-doc corpus (reference: tests/test_all_backends.py:68-99). */
  private def corpus(): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      ("Python is a high-level programming language known for its simplicity.",
        Map("category" -> "programming", "language" -> "python")),
      ("Machine learning is a subset of artificial intelligence.",
        Map("category" -> "ai", "topic" -> "ml")),
      ("Vector databases are optimized for similarity search and embeddings.",
        Map("category" -> "database", "type" -> "vector")),
      ("PostgreSQL is a powerful relational database with extensions.",
        Map("category" -> "database", "type" -> "relational")),
      ("ChromaDB is an open-source vector database built for AI applications.",
        Map("category" -> "database", "type" -> "vector")))
    import spark.implicits._
    rows.toDF("content", "metadata")
  }

  test("create + ingest + hybrid search end-to-end") {
    val api = newApi()
    val st = api.createCollection("memory", documents = Some(corpus()))
    assert(st.status == "ready")
    assert(st.documents_added == 5)
    val res = api.search("memory", "vector database", numberResults = 3)
    assert(res.results.size == 3)
    // RRF scores positive and non-increasing
    val scores = res.results.map(_.score)
    assert(scores.forall(_ > 0))
    assert(scores == scores.sorted.reverse)
    // top hit should be a database doc (hash embedder is content-random, so
    // the lexical signal dominates; 'simple'-config semantics don't stem,
    // matching pg's to_tsvector('simple'...) — postgres.py:189-196)
    assert(res.results.head.content.toLowerCase.contains("database"))
  }

  test("semantic search returns similarity in [0,1] and respects threshold") {
    val api = newApi()
    api.createCollection("mem2", documents = Some(corpus()))
    val res = api.semanticSearch("mem2", Seq("machine learning"), 3)
    assert(res.results.size == 3)
    assert(res.results.forall(h => h.score >= -1.0 && h.score <= 1.0))
    val none = api.semanticSearch("mem2", Seq("machine learning"), 3,
      distanceThreshold = 0.0)
    assert(none.results.forall(h => 1.0 - h.score <= 0.0))
  }

  test("lexical search ranks by term frequency") {
    val api = newApi()
    api.createCollection("mem3", documents = Some(corpus()))
    val res = api.lexicalSearch("mem3", Seq("database"), 5)
    assert(res.results.nonEmpty)
    assert(res.results.forall(_.content.toLowerCase.contains("database")))
  }

  test("duplicate inline contents dedupe to one document") {
    val api = newApi()
    import spark.implicits._
    val dup = Seq("same text", "same text", "same text").toDF("content")
    val st = api.createCollection("dedup", documents = Some(dup))
    assert(st.documents_added == 1)
  }

  test("upsert keeps ids unique across batches") {
    val api = newApi()
    import spark.implicits._
    api.createCollection("ups", documents = Some(Seq("a doc", "b doc").toDF("content")))
    val added = api.addDocuments("ups", Seq("b doc", "c doc").toDF("content"))
    // documents_added counts the prepared batch (vector_api.py:435-439),
    // not the merged table size
    assert(added == 2)
    assert(api.getDocumentsByIds("ups",
      Seq(Ingest.contentIdScala("b doc"))).count() == 1)
    // the merged table still holds the union of both batches
    assert(api.getDocumentsByIds("ups", Seq("a doc", "b doc", "c doc")
      .map(Ingest.contentIdScala)).count() == 3)
  }

  test("insert (_upsert=false): in-batch duplicate ids and existing ids raise") {
    val api = newApi()
    import spark.implicits._
    api.createCollection("ins", documents = Some(Seq("seed doc").toDF("content")))
    assert(intercept[GraftException](
      api.insertDocuments("ins", Seq("dup doc", "dup doc").toDF("content"))).code
      == ErrorCodes.DocumentIdsDuplicate)
    assert(intercept[GraftException](
      api.insertDocuments("ins", Seq("seed doc").toDF("content"))).code
      == ErrorCodes.DocumentExists)
    // batch-size semantics: one fresh doc inserted -> 1 (not table total)
    assert(api.insertDocuments("ins", Seq("fresh doc").toDF("content")) == 1)
  }

  test("bloom gate: insert semantics identical with the sketch built") {
    val api = newApi()
    import spark.implicits._
    api.createCollection("bg", documents = Some(Seq("seed doc").toDF("content")))
    assert(api.buildBloomGate("bg") == 1L)
    // existing id still raises through the gate (no false negatives)
    assert(intercept[GraftException](
      api.insertDocuments("bg", Seq("seed doc").toDF("content"))).code
      == ErrorCodes.DocumentExists)
    // fresh docs insert; the sketch must LEARN them (noteInserted), so a
    // re-insert of the same content raises — a stale sketch would wave the
    // duplicate through as definitely-new
    assert(api.insertDocuments("bg", Seq("fresh one", "fresh two").toDF("content")) == 2)
    assert(intercept[GraftException](
      api.insertDocuments("bg", Seq("fresh two").toDF("content"))).code
      == ErrorCodes.DocumentExists)
    // streaming-style upsert writes maintain it too (addDocuments path)
    api.addDocuments("bg", Seq("via upsert").toDF("content"))
    assert(intercept[GraftException](
      api.insertDocuments("bg", Seq("via upsert").toDF("content"))).code
      == ErrorCodes.DocumentExists)
    // delete then re-insert: stale bloom bits route to the exact check,
    // which finds the id gone — insert succeeds (false positives only
    // cost work, never block a legal insert)
    api.deleteDocuments("bg", Seq(Ingest.contentIdScala("fresh one")))
    assert(api.insertDocuments("bg", Seq("fresh one").toDF("content")) == 1)
  }

  test("diverse search: lambda=1 reduces to plain semantic order; k unique hits") {
    val api = newApi()
    api.createCollection("div", documents = Some(corpus()))
    val plain = api.semanticSearch("div", Seq("vector database"), 3)
      .results.map(_.id)
    val pure = api.semanticSearchDiverse("div", "vector database", 3, lambda = 1.0)
      .results.map(_.id)
    assert(pure == plain, "lambda=1 is pure relevance = plain semantic order")
    val div = api.semanticSearchDiverse("div", "vector database", 3, lambda = 0.5)
    assert(div.results.size == 3)
    assert(div.results.map(_.id).distinct.size == 3, "no duplicate hits")
    assert(div.results.forall(h => h.content != null))
  }

  test("searches on an empty collection return empty results, not errors") {
    // reference: tests/test_all_backends.py:553-577 — one (empty) result
    // list per query on a fresh collection
    val api = newApi()
    api.createCollection("void")
    assert(api.semanticSearch("void", Seq("anything"), 5).results.isEmpty)
    assert(api.lexicalSearch("void", Seq("anything"), 5).results.isEmpty)
    assert(api.lexicalSearchBm25("void", Seq("anything"), 5).results.isEmpty)
    assert(api.search("void", "anything", 5).results.isEmpty)
  }

  test("describeCollection reports counts, dimension, and live indexes") {
    val api = newApi()
    api.createCollection("desc1", documents = Some(corpus()))
    val before = api.describeCollection("desc1")
    assert(before("documents") == 5L && before("dimension") == 64)
    assert(before("indexes").asInstanceOf[Map[String, Long]].isEmpty)
    api.buildLexicalIndex("desc1")
    api.buildMinHashIndex("desc1", bands = 8, shingleN = 2)
    val after = api.describeCollection("desc1")
    val idx = after("indexes").asInstanceOf[Map[String, Long]]
    assert(idx.keySet == Set("lexical", "minhash") &&
      idx("lexical") > 0 && idx("minhash") > 0)
    val missing = intercept[GraftException](api.describeCollection("nope"))
    assert(missing.code == ErrorCodes.CollectionNotFound)
    // an index drained EMPTY by deletes still describes (as 0 rows) — the
    // observability surface must survive the emptied-index state
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "desc1"))
    val allIds = api.catalog.readDocuments(entry)
      .select("id").collect().map(_.getString(0)).toSeq
    api.deleteDocuments("desc1", allIds)
    val drained = api.describeCollection("desc1")
    assert(drained("documents") == 0L)
    assert(drained("indexes").asInstanceOf[Map[String, Long]] ==
      Map("lexical" -> 0L, "minhash" -> 0L))
  }

  test("near-dup ingest gate rejects by index-pruned cosine, writes the rest") {
    val api = newApi()
    api.createCollection("gate1", documents = Some(corpus()))
    // no index yet -> governed error, nothing written
    val noIdx = intercept[GraftException](
      api.addDocumentsDedup("gate1", corpus(), cosineThreshold = 0.9))
    assert(noIdx.code == ErrorCodes.AnnIndexNotFound)
    api.buildLshIndex("gate1", bits = 1, tables = 8)
    import spark.implicits._
    val incoming = Seq(
      ("Rust is a systems programming language focused on safety.",
        Map("category" -> "programming")))
      .toDF("content", "metadata")
    // threshold above any possible cosine: everything writes
    val (w1, r1) = api.addDocumentsDedup("gate1", incoming, cosineThreshold = 1.1)
    assert(w1 == 1L && r1 == 0L)
    // re-adding the same content is an idempotent update (same id), never
    // a near-dup rejection even at a threshold every bucket-mate clears
    val (w2, r2) = api.addDocumentsDedup("gate1", incoming, cosineThreshold = 1.1)
    assert(w2 == 1L && r2 == 0L)
    // threshold below any cosine: a fresh doc colliding with ANY stored
    // bucket-mate (certain at bits=1, tables=8 over 6 docs) is rejected
    val fresh = Seq(("Completely new document about container orchestration.",
      Map.empty[String, String])).toDF("content", "metadata")
    val (w3, r3) = api.addDocumentsDedup("gate1", fresh, cosineThreshold = -1.0)
    assert(w3 == 0L && r3 == 1L)
  }

  test("near-dup ingest gate embeds each document exactly once") {
    val dir = Files.createTempDirectory("graft-wh").toString
    val api = new Api(spark, dir, new CountingEmbedder(64))
    api.createCollection("gate2", documents = Some(corpus()))
    api.buildLshIndex("gate2", bits = 4, tables = 4)
    import spark.implicits._
    val incoming = Seq(
      ("Rust is a systems programming language focused on safety.",
        Map("category" -> "programming")),
      ("Go is a compiled language designed at a search company.",
        Map("category" -> "programming")))
      .toDF("content", "metadata")
    CountingEmbedder.texts.set(0)
    val (w, _) = api.addDocumentsDedup("gate2", incoming, cosineThreshold = 1.1)
    assert(w == 2L)
    // the gate's embed pass is the ONLY model call: the kept rows carry
    // their vectors into the write, which must not re-embed them
    assert(CountingEmbedder.texts.get() == 2,
      s"expected 2 embedded texts, saw ${CountingEmbedder.texts.get()}")
  }

  test("concurrent writers through two Api handles serialize per warehouse") {
    // The write lock is keyed by warehouse path (WriteLocks), so two Api
    // instances over the SAME warehouse must serialize their bucket-swap
    // MERGEs — interleaved writers would otherwise drop each other's rows
    // or leave an index partition half-swapped.
    val dir = Files.createTempDirectory("graft-wh").toString
    val api1 = new Api(spark, dir, new DeterministicHashEmbedder(64))
    val api2 = new Api(spark, dir, new DeterministicHashEmbedder(64))
    api1.createCollection("cc1")
    api1.buildLexicalIndex("cc1")
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = (0 until 6).map { i =>
      val api = if (i % 2 == 0) api1 else api2
      Future {
        api.addDocuments("cc1",
          (0 until 10).map(j => s"writer $i distinct document number $j")
            .toDF("content"))
      }
    }
    Await.result(Future.sequence(writes), 120.seconds)
    // every writer's batch survived (ids are content-derived, all distinct)
    val entry = api1.catalog.getCollection(api1.catalog.physicalName("default", "cc1"))
    assert(api1.catalog.readDocuments(entry).count() == 60L)
    // the incrementally-maintained index matches a from-scratch rebuild
    val served = graft.search.LexIndex.load(spark, api1.catalog, entry)
      .select("id", "term").collect().map(r => (r.getString(0), r.getString(1))).toSet
    graft.search.LexIndex.build(spark, api1.catalog, entry)
    val rebuilt = graft.search.LexIndex.load(spark, api1.catalog, entry)
      .select("id", "term").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(served == rebuilt, "incremental index diverged from rebuild under concurrency")
  }

  test("delete requires confirm=true exactly") {
    val api = newApi()
    api.createCollection("del1")
    val e = intercept[GraftException](api.deleteCollection("del1", confirm = false))
    assert(e.code == ErrorCodes.DeleteConfirmationRequired)
    assert(api.deleteCollection("del1", confirm = true).status == "deleted")
  }

  test("collection name validation") {
    val api = newApi()
    for (bad <- Seq("", "1abc", "has space", "x" * 41, "semi;colon"))
      assert(intercept[GraftException](api.createCollection(bad)).code
        == ErrorCodes.CollectionNameInvalid)
    api.createCollection("Valid_Name_9")
  }

  test("search parameter validation error codes") {
    val api = newApi()
    api.createCollection("v", documents = Some(corpus()))
    assert(intercept[GraftException](
      api.search("v", "q", semanticWeight = 1.5)).code == ErrorCodes.SemanticWeightInvalid)
    assert(intercept[GraftException](
      api.search("v", "q", lexicalWeight = -0.1)).code == ErrorCodes.LexicalWeightInvalid)
    assert(intercept[GraftException](
      api.search("v", "q", semanticWeight = 0.0, lexicalWeight = 0.0)).code
      == ErrorCodes.SearchWeightsInvalid)
    assert(intercept[GraftException](
      api.search("v", "q", rrfK = 0)).code == ErrorCodes.RrfKInvalid)
    assert(intercept[GraftException](
      api.search("v", "q", rrfK = 10001)).code == ErrorCodes.RrfKInvalid)
    assert(intercept[GraftException](
      api.search("v", "q", numberResults = 0)).code == ErrorCodes.ResultCountInvalid)
    assert(intercept[GraftException](
      api.search("v", "", numberResults = 1)).code == ErrorCodes.SearchQuestionInvalid)
  }

  test("tenant-scoped listing filters and strips prefix") {
    val dir = Files.createTempDirectory("graft-wh").toString
    val e = new DeterministicHashEmbedder(64)
    val a = new Api(spark, dir, e, tenant = "tenantA")
    val b = new Api(spark, dir, e, tenant = "tenantB")
    a.createCollection("alpha"); a.createCollection("beta")
    b.createCollection("gamma")
    assert(a.listCollections() == Seq("alpha", "beta"))
    assert(b.listCollections() == Seq("gamma"))
  }

  test("metadata private keys dropped and paths redacted") {
    val api = newApi()
    import spark.implicits._
    val df = Seq(
      ("see /home/user/secret/file.txt for details",
        Map("category" -> "x", "filepath" -> "/a/b", "source_url" -> "http://x",
          "note" -> "path /var/log/app/x.log here"))
    ).toDF("content", "metadata")
    api.createCollection("san", documents = Some(df))
    val res = api.lexicalSearch("san", Seq("details"), 5)
    val hit = res.results.head
    assert(hit.content.contains("[REDACTED_PATH]"))
    assert(!hit.content.contains("/home/user"))
    assert(!hit.metadata.contains("filepath"))
    assert(!hit.metadata.contains("source_url"))
    assert(hit.metadata("note").contains("[REDACTED_PATH]"))
    assert(hit.metadata.contains("category"))
  }

  test("searchMany: batched hybrid fusion matches per-question search results") {
    val api = newApi()
    api.createCollection("batch", documents = Some(corpus()))
    // the batch hybrid runs the same legs as search (exact semantic + TF scan)
    val many = api.searchIndexedMany("batch", Seq("vector database", "spark engine"), 3,
      semanticMode = "exact", lexicalMode = "scan")
    val one0 = api.search("batch", "vector database", 3)
    val one1 = api.search("batch", "spark engine", 3)
    // responses flatten query_idx but keep (query_idx, score desc) order,
    // so the batch must equal the per-question results concatenated
    def ids(r: Seq[HitRow]) = r.map(h => (h.id, math.round(h.score * 1e9)))
    assert(ids(many.results) == ids(one0.results) ++ ids(one1.results))
    // weight/rrf_k validation applies to the batch path too
    assert(intercept[GraftException](api.searchIndexedMany("batch", Seq("q"), rrfK = 0,
      semanticMode = "exact", lexicalMode = "scan")).code == ErrorCodes.RrfKInvalid)
  }

  test("PII entities redacted by default on the ingest -> search round trip") {
    val api = newApi()
    import spark.implicits._
    val df = Seq(
      ("billing details ping alice@example.com or call 555-867-5309 today",
        Map("owner" -> "bob@example.com", "category" -> "billing"))
    ).toDF("content", "metadata")
    api.createCollection("pii", documents = Some(df))
    val res = api.lexicalSearch("pii", Seq("billing"), 5)
    val hit = res.results.head
    assert(hit.content.contains("[REDACTED_EMAIL]"))
    assert(hit.content.contains("[REDACTED_PHONE]"))
    assert(!hit.content.contains("alice@example.com"))
    assert(!hit.content.contains("555-867-5309"))
    assert(hit.metadata("owner") == "[REDACTED_EMAIL]")
    // the stored id is content-addressed AFTER sanitization (vector_api.py:312-314)
    val sanitized = Sanitize.sanitizeString(
      "billing details ping alice@example.com or call 555-867-5309 today")
    assert(api.getDocumentsByIds("pii", Seq(Ingest.contentIdScala(sanitized))).count() == 1)
  }

  test("get/delete documents; missing ids silently absent; empty ids error") {
    val api = newApi()
    import spark.implicits._
    api.createCollection("docs", documents = Some(Seq("one doc", "two doc").toDF("content")))
    val id1 = Ingest.contentIdScala("one doc")
    assert(api.getDocumentsByIds("docs", Seq(id1, "nonexistent")).count() == 1)
    assert(intercept[GraftException](api.getDocumentsByIds("docs", Seq.empty)).code
      == ErrorCodes.DocumentIdsRequired)
    api.deleteDocuments("docs", Seq(id1))
    assert(api.getDocumentsByIds("docs", Seq(id1)).count() == 0)
    // null ids are the governed code, not an NPE from building the filter
    assert(intercept[GraftException](api.deleteDocuments("docs", null)).code
      == ErrorCodes.DocumentIdsRequired)
    assert(intercept[GraftException](api.deleteDocuments("docs", Seq.empty)).code
      == ErrorCodes.DocumentIdsRequired)
  }

  test("deleteDocumentsWhere: confirm gate, batched sweep, index maintenance") {
    val api = newApi()
    import spark.implicits._
    val docs = (0 until 30).map(i =>
      if (i % 3 == 0) s"expired record $i with retired words"
      else s"kept record $i with living words").toDF("content")
    api.createCollection("ttl", documents = Some(docs))
    api.buildLexicalIndex("ttl")
    // destructive op is opt-in twice, like collection deletion
    assert(intercept[GraftException](
      api.deleteDocumentsWhere("ttl", col("content").contains("expired"))).code
      == ErrorCodes.DeleteConfirmationRequired)
    // maxBatch 4 forces multiple resolve+delete rounds over the 10 matches
    val removed = api.deleteDocumentsWhere("ttl",
      col("content").contains("expired"), confirm = true, maxBatch = 4)
    assert(removed == 10)
    val remaining = api.catalog.readDocuments(
      api.catalog.getCollection(api.catalog.physicalName("default", "ttl")))
    assert(remaining.count() == 20)
    assert(remaining.filter(col("content").contains("expired")).count() == 0)
    // derived indexes maintained through every batch: the dropped-content
    // term is gone from the postings-served search too
    assert(api.lexicalSearchIndexed("ttl", Seq("retired"), 5).results.isEmpty)
    assert(api.lexicalSearchIndexed("ttl", Seq("living"), 5).results.nonEmpty)
    // a sweep matching nothing is a no-op, not an error
    assert(api.deleteDocumentsWhere("ttl",
      col("content").contains("expired"), confirm = true) == 0L)
  }

  test("deleteDocumentsWhere resolveOnce: one scan, identical end state, resumable") {
    val api = newApi()
    import spark.implicits._
    def mkDocs = (0 until 30).map(i =>
      if (i % 3 == 0) s"expired record $i with retired words"
      else s"kept record $i with living words").toDF("content")
    // two identical collections: one swept re-resolving, one resolve-once
    api.createCollection("ttlA", documents = Some(mkDocs))
    api.createCollection("ttlB", documents = Some(mkDocs))
    api.buildLexicalIndex("ttlB")
    val predicate = col("content").contains("expired")
    assert(api.deleteDocumentsWhere("ttlA", predicate, confirm = true,
      maxBatch = 4) == 10L)
    // maxBatch 4 forces multiple drain rounds from the sink
    assert(api.deleteDocumentsWhere("ttlB", predicate, confirm = true,
      maxBatch = 4, resolveOnce = true) == 10L)
    def rows(name: String) = api.catalog.readDocuments(
        api.catalog.getCollection(api.catalog.physicalName("default", name)))
      .select("id", "content").collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1).toSeq
    assert(rows("ttlB") == rows("ttlA") && rows("ttlB").size == 20)
    // indexes maintained through the sink-drained batches too
    assert(api.lexicalSearchIndexed("ttlB", Seq("retired"), 5).results.isEmpty)
    assert(api.lexicalSearchIndexed("ttlB", Seq("living"), 5).results.nonEmpty)
    // both sidecars are gone after a completed drain
    val entryB = api.catalog.getCollection(api.catalog.physicalName("default", "ttlB"))
    val leftovers = java.nio.file.Files.list(
        java.nio.file.Paths.get(api.catalog.tablePath(entryB)).getParent)
      .toArray.map(_.toString).filter(_.contains(".sweep"))
    assert(leftovers.isEmpty, s"sweep sidecars left behind: ${leftovers.toSeq}")
    // crash-resume: a pre-existing sink for the SAME predicate is drained
    // (not re-scanned), and ids already deleted re-drain as no-ops
    api.createCollection("ttlC", documents = Some(mkDocs))
    val entryC = api.catalog.getCollection(api.catalog.physicalName("default", "ttlC"))
    val predKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(predicate.toString.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val sink = api.catalog.tablePath(entryC) + s".sweep-$predKey"
    val matched = api.catalog.readDocuments(entryC).filter(predicate).select("id")
      .withColumn("pbucket", Ingest.idBucket(col("id")))
      .withColumn("__key", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lpad(col("pbucket").cast("string"), 3, "0"),
        org.apache.spark.sql.functions.lit("|"), col("id")))
    matched.write.partitionBy("pbucket").parquet(sink) // the "crashed" sweep's scan
    val firstTwo = matched.select("id").limit(2).collect().map(_.getString(0)).toSeq
    api.deleteDocuments("ttlC", firstTwo) // progress the crash made
    val resumed = api.deleteDocumentsWhere("ttlC", predicate, confirm = true,
      maxBatch = 3, resolveOnce = true)
    // drains the full sink; the 2 already-deleted ids fail the live
    // re-check, so only the 8 still-matching rows count as removed
    assert(resumed == 8L)
    val remC = api.catalog.readDocuments(entryC)
    assert(remC.count() == 20 && remC.filter(predicate).count() == 0)
    // a TORN sink (dir without the write job's _SUCCESS — a crash mid
    // initial scan) must be rescanned, never drained as if complete
    api.createCollection("ttlD", documents = Some(mkDocs))
    val entryD = api.catalog.getCollection(api.catalog.physicalName("default", "ttlD"))
    val tornSink = java.nio.file.Paths.get(
      api.catalog.tablePath(entryD) + s".sweep-$predKey")
    java.nio.file.Files.createDirectories(tornSink) // partial dir, no _SUCCESS
    assert(api.deleteDocumentsWhere("ttlD", predicate, confirm = true,
      maxBatch = 4, resolveOnce = true) == 10L)
    val remD = api.catalog.readDocuments(entryD)
    assert(remD.count() == 20 && remD.filter(predicate).count() == 0)
  }

  test("resolveOnce resume of a PRE-partitioned-layout sink rescans instead of silently completing") {
    val api = newApi()
    import spark.implicits._
    def mkDocs = (0 until 30).map(i =>
      if (i % 3 == 0) s"expired record $i with retired words"
      else s"kept record $i with living words").toDF("content")
    api.createCollection("ttlF", documents = Some(mkDocs))
    val predicate = col("content").contains("expired")
    val entryF = api.catalog.getCollection(api.catalog.physicalName("default", "ttlF"))
    val predKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(predicate.toString.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val sink = api.catalog.tablePath(entryF) + s".sweep-$predKey"
    // the r12 sink layout: flat parquet files, no pbucket= partition dirs
    val matched = api.catalog.readDocuments(entryF).filter(predicate).select("id")
      .withColumn("__key", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lpad(
          Ingest.idBucket(col("id")).cast("string"), 3, "0"),
        org.apache.spark.sql.functions.lit("|"), col("id")))
    matched.write.parquet(sink)
    val firstTwo = matched.select("id").limit(2).collect().map(_.getString(0)).toSeq
    api.deleteDocuments("ttlF", firstTwo) // the crashed sweep's progress
    // the partition-pruned drain cannot read a flat sink — it must be
    // treated as debris and rescanned, NEVER drained-as-empty (which
    // would delete the sink with 8 matches still stored)
    val resumed = api.deleteDocumentsWhere("ttlF", predicate, confirm = true,
      maxBatch = 4, resolveOnce = true)
    assert(resumed == 8L)
    val rem = api.catalog.readDocuments(entryF)
    assert(rem.count() == 20 && rem.filter(predicate).count() == 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(sink)))
  }

  test("resolveOnce resume re-verifies against the LIVE rows: a row re-tagged since the scan survives") {
    val api = newApi()
    import spark.implicits._
    // metadata predicate: content-addressed ids mean a row's CONTENT can
    // never change under its id, but its METADATA can — the one mutation
    // that makes a crashed sweep's sink a stale snapshot
    val docs = (0 until 12).map(i =>
      (s"record $i body", Map("tier" -> (if (i % 2 == 0) "old" else "new"))))
      .toDF("content", "metadata")
    api.createCollection("ttlE", documents = Some(docs))
    val predicate = col("metadata")("tier") === "old"
    val entryE = api.catalog.getCollection(api.catalog.physicalName("default", "ttlE"))
    val predKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(predicate.toString.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val sink = api.catalog.tablePath(entryE) + s".sweep-$predKey"
    api.catalog.readDocuments(entryE).filter(predicate).select("id")
      .withColumn("pbucket", Ingest.idBucket(col("id")))
      .withColumn("__key", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lpad(col("pbucket").cast("string"), 3, "0"),
        org.apache.spark.sql.functions.lit("|"), col("id")))
      .write.partitionBy("pbucket").parquet(sink) // crashed sweep's scan
    // between crash and resume, one matched row is re-tagged tier=new —
    // its id is IN the sink, but its live row no longer matches
    api.addDocuments("ttlE",
      Seq(("record 0 body", Map("tier" -> "new"))).toDF("content", "metadata"))
    val resumed = api.deleteDocumentsWhere("ttlE", predicate, confirm = true,
      maxBatch = 4, resolveOnce = true)
    assert(resumed == 5L) // 6 sink ids, 1 re-tagged and spared
    val rem = api.catalog.readDocuments(entryE)
    assert(rem.count() == 7) // 6 tier=new originals + the re-tagged row
    assert(rem.filter(col("content") === "record 0 body").count() == 1)
    assert(rem.filter(predicate).count() == 0)
  }

  test("collection_not_found and collection_exists and dimension mismatch") {
    val api = newApi()
    assert(intercept[GraftException](api.addDocuments("missing_coll",
      { import spark.implicits._; Seq("x doc").toDF("content") })).code
      == ErrorCodes.CollectionNotFound)
    api.createCollection("once")
    // overwrite=false + getOrCreate=false via catalog directly
    val phys = api.catalog.physicalName("default", "once")
    assert(intercept[GraftException](
      api.catalog.createCollection(phys, 64, overwrite = false, getOrCreate = false)).code
      == ErrorCodes.CollectionExists)
    assert(intercept[GraftException](
      api.catalog.createCollection(phys, 128)).code
      == ErrorCodes.CollectionVectorSchemaMismatch)
  }
}

/** Embedder that counts every text it actually embeds — executor-side
  * increments land on the driver-JVM singleton under local[...] masters,
  * which is where the suite runs.
  */
object CountingEmbedder {
  val texts = new java.util.concurrent.atomic.AtomicInteger(0)
}

final class CountingEmbedder(dim: Int)
    extends graft.ingest.Embedder {
  private val inner = new graft.ingest.DeterministicHashEmbedder(dim)
  override def dimension: Int = dim
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    CountingEmbedder.texts.addAndGet(texts.size)
    inner.embedBatch(texts)
  }
}
