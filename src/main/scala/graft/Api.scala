package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ingest.{Embed, Embedder, Ingest, Sanitize}
import graft.model.{ErrorCodes, GraftException, Limits}
import graft.search.{Hybrid, Lexical, Semantic}

/** Response shapes mirroring the reference's public returns
  * (vector_api.py:411, :435-439, :453, :474-476, :496, :516, :566).
  */
final case class OpStatus(status: String, collection: String, documents_added: Long)
final case class HitRow(id: String, content: String,
    metadata: Map[String, String], score: Double)
final case class SearchResponse(results: Seq[HitRow])

/** The governed API facade — validation, tenancy, error firewall, and
  * result sanitization around the engine operators. Port of the observable
  * semantics of `vector_mcp.vector_api.Api` (all checks byte-exact where
  * tests assert them — tests/test_vector_api.py).
  */
final class Api(
    val spark: SparkSession,
    warehouseDir: String,
    embedder: Embedder,
    tenant: String = "default") {

  val catalog = new Catalog(spark, warehouseDir)

  /** Serializes mutating operations — the engine analog of the reference's
    * per-process RLock around backend acquisition and writes
    * (vector_api.py:202): concurrent searches are safe (reads of immutable
    * parquet snapshots), but two concurrent writers would race the
    * bucket-swap MERGE and index-partition swaps. Reentrant (JVM monitor),
    * so gated paths may call each other. The lock is PER WAREHOUSE, not
    * per Api instance — streaming compaction and any second Api handle
    * over the same warehouse serialize against the same monitor, and
    * share its serving snapshot (graft.catalog.WarehouseMonitor).
    */
  private val writeLock = catalog.monitor

  // ---- validation (vector_api.py §2.4) ----

  private val CollectionRe = "^[A-Za-z][A-Za-z0-9_]{0,39}$".r

  def validCollection(name: String): String = {
    if (name == null || CollectionRe.findFirstIn(name).isEmpty)
      throw new GraftException(ErrorCodes.CollectionNameInvalid)
    name
  }

  def validQuestion(q: String): String = {
    if (q == null || q.isEmpty || q.getBytes("UTF-8").length > Limits.MaxQuestionBytes)
      throw new GraftException(ErrorCodes.SearchQuestionInvalid)
    q
  }

  /** A query batch must contain at least one question — an empty batch is
    * the batch-shaped analog of the reference's empty-question rejection
    * (vector_api.py:230), and guards the engine's per-query plan union
    * (reduce over a non-empty list) from ever seeing Seq.empty.
    */
  def validQuestions(qs: Seq[String]): Seq[String] = {
    if (qs == null || qs.isEmpty)
      throw new GraftException(ErrorCodes.SearchQuestionInvalid)
    qs.map(validQuestion)
  }

  def validLimit(n: Int): Int = {
    if (n < 1 || n > Limits.MaxResults)
      throw new GraftException(ErrorCodes.ResultCountInvalid)
    n
  }

  def validWeightsAndK(semanticWeight: Double, lexicalWeight: Double, rrfK: Int): Unit = {
    if (semanticWeight.isNaN || semanticWeight.isInfinite ||
        semanticWeight < 0.0 || semanticWeight > 1.0)
      throw new GraftException(ErrorCodes.SemanticWeightInvalid)
    if (lexicalWeight.isNaN || lexicalWeight.isInfinite ||
        lexicalWeight < 0.0 || lexicalWeight > 1.0)
      throw new GraftException(ErrorCodes.LexicalWeightInvalid)
    if (semanticWeight + lexicalWeight <= 0)
      throw new GraftException(ErrorCodes.SearchWeightsInvalid)
    if (rrfK < 1 || rrfK > Limits.MaxRrfK)
      throw new GraftException(ErrorCodes.RrfKInvalid)
  }

  /** Error firewall (vector_api.py:268-282). */
  def invoke[T](body: => T): T =
    try body
    catch {
      case e: GraftException => throw e
      case e: Throwable =>
        throw new GraftException(ErrorCodes.firewall(e.getMessage))
    }

  private def physical(logical: String): String =
    catalog.physicalName(tenant, validCollection(logical))

  // ---- DDL ----

  def createCollection(
      name: String,
      overwrite: Boolean = false,
      documents: Option[DataFrame] = None): OpStatus = writeLock {
    val phys = physical(name)
    catalog.createCollection(phys, embedder.dimension, overwrite)
    val added = documents match {
      case Some(df) => addDocuments(name, df)
      case None => 0L
    }
    OpStatus("ready", name, added)
  }

  def listCollections(): Seq[String] = catalog.listCollections(tenant)

  /** get_collection: handle lookup; collection_not_found when absent
    * (base.py:107-117).
    */
  def getCollection(name: String): graft.model.CollectionEntry =
    catalog.getCollection(physical(name))

  def deleteCollection(name: String, confirm: Boolean): OpStatus = writeLock {
    if (!confirm) throw new GraftException(ErrorCodes.DeleteConfirmationRequired)
    catalog.deleteCollection(physical(name))
    OpStatus("deleted", name, 0)
  }

  // ---- ingest ----

  /** Sanitize -> id -> dedup -> bounds -> embed -> norm -> MERGE. */
  def addDocuments(name: String, batch: DataFrame): Long =
    writeDocuments(name, batch, upsert = true)

  /** update_documents = insert_documents(_upsert=true) everywhere in the
    * reference (base.py:159-172).
    */
  def updateDocuments(name: String, batch: DataFrame): Long =
    addDocuments(name, batch)

  /** insert_documents(_upsert=false): duplicate ids within the prepared
    * batch or ids already stored raise (base.py:139-157 semantics via
    * epistemic_graph.py:198-204). The prepare step's content-dedup is the
    * _load_documents layer; this guard protects caller-supplied batches.
    */
  def insertDocuments(name: String, batch: DataFrame): Long =
    writeDocuments(name, batch, upsert = false)

  private def writeDocuments(name: String, batch: DataFrame, upsert: Boolean): Long = writeLock {
    val entry = catalog.getCollection(physical(name))
    val prepared =
      if (upsert) Ingest.prepare(batch)
      else {
        val p = Ingest.prepareNoDedup(batch)
        Ingest.assertNoDuplicateIds(p)
        p
      }
    Ingest.checkBounds(prepared)
    val embedded = Ingest.withNorm(Embed.withEmbeddings(prepared, embedder)).cache()
    try {
      // documents_added = size of the prepared/embedded batch, NOT the
      // merged table count (vector_api.py:435-439 returns len(documents)).
      val added = embedded.count()
      val existing = catalog.readDocuments(entry)
      // existence check: through the persisted bloom sketch when one is
      // built (O(batch), zero corpus I/O when nothing possibly-exists);
      // exact corpus semi-join otherwise — identical semantics either way
      if (!upsert) ingest.BloomGate.loadIndex(catalog, entry) match {
        case Some(b) => Ingest.assertNoneExistBloom(catalog, entry, embedded, b)
        case None => Ingest.assertNoneExist(existing, embedded)
      }
      // incremental index maintenance (Indexes scaladoc): stage the delta
      // BEFORE the rewrite (old rows still readable), apply AFTER; the
      // old-rows probe prunes to the batch's buckets, so even the staging
      // scan is bucket-bounded
      val buckets = Ingest.bucketsOf(embedded)
      val replaced = catalog.readDocumentsPhysical(entry)
        .filter(col("bucket").isin(buckets: _*)).drop("bucket")
        .join(embedded.select("id"), Seq("id"), "left_semi")
      val pending = Indexes.stage(spark, catalog, entry,
        oldRows = replaced, newRows = embedded)
      // bucket-level MERGE: only the batch's id buckets are rewritten
      Ingest.mergeUpsert(spark, catalog, entry, embedded, Some(buckets))
      Indexes.applyPending(pending, embedder)
      // bloom sidecar maintenance is O(batch) like the other indexes
      ingest.BloomGate.noteInserted(catalog, entry, embedded)
      added
    } finally embedded.unpersist()
  }

  /** Near-duplicate-rejecting upsert — dedup-on-write against the EXISTING
    * corpus (the ingest gate a continuously-fed training store needs;
    * within-batch content-exact dedup is the normal prepare step). A batch
    * row is rejected when some stored document with a DIFFERENT id has
    * embedding cosine >= `cosineThreshold`; an identical-content row keeps
    * its id and flows through as the usual idempotent update.
    *
    * Candidates come from the persisted sign-LSH index: the batch's own
    * band keys prune the index scan to the (table, key) partitions a
    * near-dup could inhabit — O(batch x tables) partitions touched however
    * large the corpus — then exact cosine verifies every candidate.
    * Requires a built LSH index (governed `ann_index_not_found` otherwise).
    *
    * @return (written, rejected) counts
    */
  def addDocumentsDedup(
      name: String,
      batch: DataFrame,
      cosineThreshold: Double): (Long, Long) = invoke { writeLock {
    val entry = catalog.getCollection(physical(validCollection(name)))
    // governed index check BEFORE any embedding work
    graft.ann.SignLshIndex.requireMeta(spark, catalog, entry)
    val prepared = Ingest.prepare(batch)
    Ingest.checkBounds(prepared)
    val embedded = Ingest.withNorm(Embed.withEmbeddings(prepared, embedder)).cache()
    try {
      val total = embedded.count()
      val rejectedIds = graft.ann.SignLshIndex.nearDupIds(
        spark, catalog, entry, embedded, cosineThreshold)
      // keep the batch's embeddings: withEmbeddings only embeds rows whose
      // embedding is null, so the model runs ONCE per batch (the gate's
      // embed pass), not once for the gate and again for the write
      val keep = embedded.join(rejectedIds, Seq("id"), "left_anti")
        .select("content", "metadata", "embedding").cache()
      try {
        val written = if (keep.isEmpty) 0L else addDocuments(name, keep)
        (written, total - written)
      } finally keep.unpersist()
    } finally embedded.unpersist()
  } }

  def deleteDocuments(name: String, ids: Seq[String]): Unit = writeLock {
    // governed BEFORE any expression references ids: `isin(ids: _*)` on a
    // null Seq NPEs eagerly while the filter is built
    if (ids == null || ids.isEmpty)
      throw new GraftException(ErrorCodes.DocumentIdsRequired)
    val entry = catalog.getCollection(physical(name))
    val existing = catalog.readDocuments(entry)
    val pending = Indexes.stage(spark, catalog, entry,
      oldRows = catalog.readDocumentsForIds(entry, ids)
        .filter(col("id").isin(ids: _*)),
      newRows = existing.limit(0))
    // bucket-level delete: touched buckets computed driver-side from ids
    Ingest.mergeDelete(spark, catalog, entry, ids)
    Indexes.applyPending(pending, embedder)
  }

  /** Predicate-scoped deletion — the retention/TTL/compliance sweep
    * (delete everything matching `pred` over the document columns:
    * content, metadata map, id). Ids resolve in driver-bounded batches
    * of `maxBatch` (a sweep matching millions of rows walks the batches,
    * it never collects them at once) and deletion rides the existing id
    * path so every derived index maintains itself exactly as for
    * [[deleteDocuments]]. The WHOLE sweep holds the warehouse write lock
    * (the monitor is reentrant into the inner id-deletes), so a
    * concurrent upsert can never flip a row's predicate match between
    * its resolution and its deletion. `confirm` gates it like collection
    * deletion; returns the number of ids drained by this invocation.
    *
    * Two resolution modes, same end state (ApiSpec pins the identity):
    *   - re-resolve (default, `resolveOnce = false`): each round scans
    *     the post-delete table for the next `maxBatch` matches. Cost:
    *     ceil(matched / maxBatch) corpus scans WITH the predicate
    *     evaluated each time + O(matched × bucket) rewrite work. Crash-
    *     restartable for free (rerun; deleted rows no longer match).
    *     Right for small sweeps and cheap predicates.
    *   - resolve-once (`resolveOnce = true`): ONE corpus scan writes the
    *     matched ids to a predicate-keyed parquet sink beside the table,
    *     PARTITIONED BY the id bucket and sorted by the BUCKET-major key
    *     `__key = lpad(bucket)|id`; batches then drain the sink in __key
    *     order past a persisted cursor — each batch reads ONE bucket
    *     partition (partition-pruned `pbucket = b`, `__key > cursor`
    *     pushed into that partition's sorted scan), so per-batch sink
    *     I/O is O(sink/buckets), flat in the total match count, and the
    *     corpus is never rescanned. Bucket-major draining also clusters
    *     each batch's DELETE into one id bucket instead of rewriting all
    *     256 (id-order draining measured 1.8× the whole sweep's cost).
    *     Each drained batch is RE-VERIFIED against the live table before
    *     deleting (a bucket-pruned point lookup re-applying `pred`):
    *     within one invocation the write lock makes this a no-op check,
    *     but a crash-RESUMED sweep drains a sink scanned before the
    *     crash, and without the re-check an id upserted meanwhile with
    *     content that no longer matches would be deleted from the stale
    *     snapshot. Crash-restartable: rerunning the same sweep finds the
    *     sink (keyed by the predicate's expression hash) and resumes
    *     past the cursor; a crash between delete and cursor advance
    *     re-drains that batch, and a re-drained id either no longer
    *     exists (fails the re-check) or still matches (idempotent
    *     re-delete). Both sidecars are removed when the drain completes.
    *     Right for large sweeps and expensive predicates. Returns the
    *     number of ids this invocation actually deleted (a resumed sweep
    *     does not re-count the crashed run's progress).
    */
  def deleteDocumentsWhere(
      name: String,
      pred: org.apache.spark.sql.Column,
      confirm: Boolean = false,
      maxBatch: Int = Limits.MaxDocuments,
      resolveOnce: Boolean = false): Long = writeLock {
    if (!confirm) throw new GraftException(ErrorCodes.DeleteConfirmationRequired)
    require(maxBatch >= 1 && maxBatch <= Limits.MaxDocuments,
      s"maxBatch $maxBatch out of range")
    val entry = catalog.getCollection(physical(validCollection(name)))
    var removed = 0L
    if (!resolveOnce) {
      var more = true
      while (more) {
        val ids = catalog.readDocuments(entry).filter(pred)
          .select("id").limit(maxBatch)
          .collect().map(_.getString(0)).toSeq
        if (ids.isEmpty) more = false
        else {
          deleteDocuments(name, ids)
          removed += ids.size
          more = ids.size == maxBatch
        }
      }
    } else {
      import java.nio.file.{Files, Paths}
      // sink keyed by the predicate's expression so a crashed sweep can
      // only ever be resumed by the SAME sweep — a different predicate
      // hashes to a different sink and starts its own scan
      val predKey = java.security.MessageDigest.getInstance("SHA-256")
        .digest(pred.toString.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      val sink = catalog.tablePath(entry) + s".sweep-$predKey"
      val cursorPath = Paths.get(sink + ".cursor")
      // trust the sink only when its write JOB committed (_SUCCESS): a
      // crash mid-scan leaves a partial dir that a bare existence check
      // would drain as if complete — silently skipping matched rows. A
      // torn sink (and any cursor pointing into it) is debris: clear it
      // and rescan — already-deleted rows no longer match, so the
      // restarted sweep converges to the same end state.
      if (Files.exists(Paths.get(sink)) &&
          !Files.exists(Paths.get(sink, "_SUCCESS"))) {
        graft.catalog.PartitionedTable.deleteDir(Paths.get(sink))
        Files.deleteIfExists(cursorPath)
      }
      // a committed sink in the PRE-PARTITIONED layout (top-level parquet
      // files instead of pbucket= dirs — a sweep that crashed under the
      // old binary) cannot be drained by the partition-pruned loop below;
      // silently skipping it would delete the sink with its matches never
      // deleted. Treat it as debris and rescan: already-deleted rows no
      // longer match, so the restarted sweep converges correctly.
      if (Files.exists(Paths.get(sink))) {
        val stream = Files.list(Paths.get(sink))
        val legacy =
          try stream.toArray.exists(_.toString.endsWith(".parquet"))
          finally stream.close()
        if (legacy) {
          graft.catalog.PartitionedTable.deleteDir(Paths.get(sink))
          Files.deleteIfExists(cursorPath)
        }
      }
      if (!Files.exists(Paths.get(sink)))
        // drain key is BUCKET-major: consecutive batches then cluster
        // into few id buckets, so each batch's delete rewrites ~its
        // share of buckets instead of ALL of them (id-ordered draining
        // spread every 1000-id batch across all 256 buckets — measured
        // 1.8x the whole sweep's cost at 64x corpus). The sink lands
        // PARTITIONED BY that bucket and sorted by __key within each
        // partition, so every drain batch below partition-prunes to one
        // bucket dir instead of top-N-scanning the whole sink
        // (ceil(M/maxBatch) whole-sink scans were O(M²/maxBatch) sink
        // I/O at 10M matches)
        catalog.readDocuments(entry).filter(pred).select("id").distinct()
          .withColumn("pbucket", Ingest.idBucket(col("id")))
          .withColumn("__key", concat(
            lpad(col("pbucket").cast("string"), 3, "0"),
            lit("|"), col("id")))
          .repartition(col("pbucket"))
          .sortWithinPartitions("__key")
          .write.partitionBy("pbucket").parquet(sink)
      var cursor: Option[String] =
        if (Files.exists(cursorPath)) Some(Files.readString(cursorPath)) else None
      // driver-side partition listing: the bucket dirs in drain order
      // (bucket count is fixed at 256 — never match-count-sized)
      val sinkBuckets = {
        val stream = Files.list(Paths.get(sink))
        try stream.toArray
          .map(_.toString.split('/').last)
          .collect { case s if s.startsWith("pbucket=") =>
            s.stripPrefix("pbucket=").toInt }
          .sorted.toSeq
        finally stream.close()
      }
      if (sinkBuckets.nonEmpty) {
        val sinkDf = spark.read.parquet(sink)
        // resume inside (or after) the cursor's bucket; earlier buckets
        // are fully drained — their partitions are never re-read
        var bi = cursor match {
          case Some(c) =>
            val cb = c.take(3).toInt
            val i = sinkBuckets.indexWhere(_ >= cb)
            if (i < 0) sinkBuckets.size else i
          case None => 0
        }
        while (bi < sinkBuckets.size) {
          val batch = cursor.foldLeft(
              sinkDf.filter(col("pbucket") === sinkBuckets(bi)))(
              (df, c) => df.filter(col("__key") > c))
            .orderBy("__key").limit(maxBatch)
            .select("id", "__key").collect()
          if (batch.isEmpty) bi += 1
          else {
            val ids = batch.map(_.getString(0)).toSeq
            // re-verify before deleting: only ids whose CURRENT row still
            // matches the predicate (bucket-pruned point lookup). A
            // resumed sweep's sink is a pre-crash snapshot — an id
            // upserted since with non-matching content must survive.
            val still = catalog.readDocumentsForIds(entry, ids)
              .filter(col("id").isin(ids: _*)).filter(pred)
              .select("id").collect().map(_.getString(0)).toSeq
            if (still.nonEmpty) deleteDocuments(name, still)
            // cursor advances AFTER the delete: a crash between the two
            // re-drains this batch on resume, and the re-check makes the
            // re-drain idempotent
            val tmp = Paths.get(sink + ".cursor.tmp")
            Files.writeString(tmp, batch.last.getString(1))
            Files.move(tmp, cursorPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            cursor = Some(batch.last.getString(1))
            removed += still.size
          }
        }
      }
      Files.deleteIfExists(cursorPath)
      graft.catalog.PartitionedTable.deleteDir(Paths.get(sink))
    }
    removed
  }

  def getDocumentsByIds(name: String, ids: Seq[String]): DataFrame = {
    val entry = catalog.getCollection(physical(name))
    // bucket-pruned point lookup; missing-ids semantics live in getByIds
    Ingest.getByIds(catalog.readDocumentsForIds(entry, ids), ids)
  }

  // ---- search: one route table ----
  //
  // Every question route is `request` (validation, then the collection
  // lookup), a leg from `semanticHits`/`lexicalHits` or an RRF fusion of
  // one of each, and `respond` (the payload join). The scan routes that
  // carry their payload through the top-k (semanticSearch, lexicalSearch,
  // lexicalSearchBm25), the MMR re-rank and the phrase snippet serialize
  // their own frames.

  private type Entry = graft.model.CollectionEntry

  private def docs(entry: Entry): DataFrame = catalog.readDocuments(entry)

  /** Rows a semantic leg may score: a zero-norm embedding has no cosine
    * (it would raise DIVIDE_BY_ZERO under ANSI and fail the request), so
    * it never takes a top-k slot or an RRF rank. Lexical legs still see it.
    */
  private def scorable(rows: DataFrame): DataFrame = rows.filter(col("norm") > 0)

  private def embed(qs: Seq[(Int, String)]): Seq[(Int, Seq[Float])] =
    qs.map { case (i, q) => i -> embedder.embedQuery(q).toSeq }

  /** The prologue of every question route: the result count, the route's
    * own argument `checks`, the question batch (sanitized, indexed by
    * position), then the collection lookup — so an invalid request never
    * reports a storage or index error.
    */
  private def request[T](name: String, questions: Seq[String], nResults: Int,
      checks: => Unit = ())(body: (Entry, Seq[(Int, String)], Int) => T): T = {
    val k = validLimit(nResults)
    checks
    val qs = validQuestions(questions).map(Sanitize.sanitizeString).zipWithIndex.map(_.swap)
    body(catalog.getCollection(physical(name)), qs, k)
  }

  /** A route served from a (query_idx, id, score) frame: [[request]], then
    * [[respond]].
    */
  private def serve(name: String, questions: Seq[String], nResults: Int,
      checks: => Unit = (), attribute: Boolean = false)(
      hits: (Entry, Seq[(Int, String)], Int) => DataFrame): SearchResponse =
    request(name, questions, nResults, checks)((e, qs, k) => respond(e, hits(e, qs, k), attribute))

  /** The payload join: hits (query_idx, id, score) get their content and
    * metadata, in (question, score desc, id) order. `attribute` records
    * each hit's question in its metadata under the reserved "query_idx"
    * key (per-question counts vary, so a flat batch response cannot be
    * sliced by stride).
    */
  private def respond(entry: Entry, hits: DataFrame, attribute: Boolean): SearchResponse =
    withPayload(entry, hits.orderBy(col("query_idx"), col("score").desc, col("id").asc), attribute)

  /** Content and metadata for `ranked` (query_idx, id, score), kept in
    * its order. The hits (at most k per question) are collected first and
    * their documents read by a bucket-pruned point lookup, joined here on
    * the driver: a request reads only its hits' buckets, and no hash
    * table over the documents is built (a broadcast hash join on the
    * string id allocates a whole memory page per request, whatever its
    * size). Non-finite scores are dropped and the payload is sanitized,
    * as [[serialize]] does.
    */
  private def withPayload(entry: Entry, ranked: DataFrame, attribute: Boolean): SearchResponse = {
    val hits = ranked.select(col("query_idx"), col("id").cast("string"), col("score")).collect()
      .filter(r => !r.isNullAt(2) && math.abs(r.getDouble(2)) < Double.MaxValue)
    val ids = hits.map(_.getString(1)).distinct.toSeq
    val payload: Map[String, (String, Map[String, String])] =
      if (ids.isEmpty) Map.empty
      else Ingest.getByIds(catalog.readDocumentsForIds(entry, ids), ids)
        .select(col("id"), Sanitize.sanitizeText(col("content")),
          Sanitize.sanitizeMetadata(col("metadata")))
        .collect().map(r => r.getString(0) ->
          (r.getString(1), Option(r.getMap[String, String](2)).map(_.toMap).getOrElse(Map.empty)))
        .toMap
    SearchResponse(hits.toSeq.map { r =>
      val id = r.getString(1)
      val (content, stored) = payload.getOrElse(id, (null, Map.empty[String, String]))
      // "query_idx" is reserved (Api.withQueryIdx): a stored value never survives
      val metadata =
        if (attribute) stored - "query_idx" + ("query_idx" -> r.get(0).toString) else stored
      HitRow(id, content, metadata, r.getDouble(2))
    })
  }

  /** The semantic leg of `mode` ([[McpSurface.SemanticModes]]): (query_idx,
    * id, score), top-k per question. maxsim embeds per token itself, so
    * only the single-vector modes embed the questions.
    */
  private def semanticHits(entry: Entry, mode: String, qs: Seq[(Int, String)], k: Int): DataFrame =
    mode match {
      case "exact" => Semantic.search(scorable(docs(entry)), embed(qs), k)
      case "approx" => approxHits(entry, embed(qs), k)
      case "lsh" => lshHits(entry, embed(qs), k)
      case "pq" => pqHits(entry, embed(qs), k)
      case "maxsim" => maxsimHits(entry, qs, k)
      case _ => throw new GraftException(ErrorCodes.SearchActionInvalid)
    }

  /** The lexical leg of `mode` ([[McpSurface.LexicalModes]]): (query_idx,
    * id, score), top-k per question.
    */
  private def lexicalHits(entry: Entry, mode: String, qs: Seq[(Int, String)], k: Int): DataFrame =
    mode match {
      case "scan" => Lexical.search(docs(entry), qs, k)
      case "bm25" => Lexical.searchBm25Many(docs(entry), qs, k)
      case "indexed" => graft.search.LexIndex.searchTf(
        graft.search.LexIndex.load(spark, catalog, entry), qs, k)
      case "bm25_indexed" => bm25Hits(entry, qs, k)
      case _ => throw new GraftException(ErrorCodes.SearchActionInvalid)
    }

  /** The route table behind both MCP search tools: `action` with its
    * resolved modes over a question batch. `single` marks the
    * per-question tool: its hybrid checks the question before the
    * weights, and its maxsim and hybrid hits carry no question
    * attribution.
    */
  private[graft] def route(
      action: String, semanticMode: String, lexicalMode: String, name: String,
      questions: Seq[String], nResults: Int, semanticWeight: Double,
      lexicalWeight: Double, rrfK: Int, single: Boolean): SearchResponse =
    (action, semanticMode, lexicalMode) match {
      case ("semantic_search", "exact", _) => semanticSearch(name, questions, nResults)
      case ("semantic_search", "diverse", _) => semanticSearchDiverse(name, questions.head, nResults)
      case ("semantic_search", m, _) =>
        serve(name, questions, nResults, attribute = !single && m == "maxsim")(semanticHits(_, m, _, _))
      case ("lexical_search", _, "scan") => lexicalSearch(name, questions, nResults)
      case ("lexical_search", _, "bm25") => lexicalSearchBm25(name, questions, nResults)
      case ("lexical_search", _, "phrase") => phraseSearch(name, questions.head, nResults)
      case ("lexical_search", _, m) => serve(name, questions, nResults)(lexicalHits(_, m, _, _))
      case (_, sm, lm) if single => searchIndexed(name, questions.head, nResults,
        semanticWeight, lexicalWeight, rrfK, sm, lm)
      case (_, sm, lm) => searchIndexedMany(name, questions, nResults,
        semanticWeight, lexicalWeight, rrfK, sm, lm)
    }

  def semanticSearch(
      name: String, questions: Seq[String], nResults: Int = 10,
      distanceThreshold: Double = -1.0): SearchResponse =
    request(name, questions, nResults) { (e, qs, k) =>
      serialize(Semantic.search(scorable(docs(e)), embed(qs), k, distanceThreshold,
        payload = Seq("content", "metadata")))
    }

  /** Build (or rebuild) the persistent chunk-vector index — the
    * late-interaction serving state ([[graft.search.ChunkIndex]]):
    * per-chunk normalized embeddings, id-bucket-partitioned like the
    * documents table, maintained incrementally by every subsequent
    * write. Returns the chunk-row count.
    */
  def buildChunkIndex(name: String,
      maxTokens: Int = graft.search.ChunkIndex.DefaultMaxTokens): Long =
    writeLock {
      val entry = catalog.getCollection(physical(validCollection(name)))
      // the chunk-level IVF and the residual-PQ codes derive FROM these
      // rows: a re-chunk re-derives them
      Indexes.rebuildWithDependents(spark, catalog, entry, graft.search.ChunkIndex) {
        graft.search.ChunkIndex.build(spark, catalog, entry, embedder, maxTokens).count()
      }
    }

  /** Build (or rebuild) the chunk-level IVF candidate index — the PLAID
    * serving shape ([[graft.search.ChunkIvfIndex]]): the persisted chunk
    * vectors assigned to a quantizer and stored partitioned by cluster,
    * so maxsim candidate generation probes clusters of CHUNK vectors
    * (multi-topic documents surface through whichever chunk matches a
    * token — the recall the pooled doc-level route loses).
    *
    * `trainOn` picks the quantizer:
    *   - "doc" (default): align to the collection's doc-level IVF
    *     centroids (requires that index; one quantizer for the whole
    *     collection — rebuilding it re-assigns this index too). Drops
    *     any previous chunk-trained sidecar.
    *   - "chunks": train `nClusters` centroids on the CHUNK vectors
    *     themselves (PLAID's recipe, arXiv:2205.09707) with
    *     deterministic decimal-exact k-means (`kmeansIters` Lloyd
    *     rounds, optional `trainFraction` hash sample) into the index's
    *     own sidecar; independent of the doc-level quantizer from then
    *     on (a doc-IVF rebuild leaves it untouched), frozen across
    *     writes like every production IVF. `nClusters = 0` auto-sizes
    *     to ~sqrt(chunk rows), floor 16 — the standard IVF sizing.
    *
    * Requires the chunk index (and, for "doc", the doc-level IVF);
    * governed `ann_index_not_found` otherwise. Maintained incrementally
    * by every write. Returns the indexed chunk-row count.
    */
  def buildChunkIvfIndex(
      name: String,
      trainOn: String = "doc",
      nClusters: Int = 64,
      kmeansIters: Int = 2,
      trainFraction: Double = 1.0): Long = writeLock {
    require(Set("doc", "chunks").contains(trainOn),
      s"trainOn '$trainOn' not in {doc, chunks}")
    // checked before the dependents are invalidated, like buildAnnIndex
    if (trainOn == "chunks") {
      require(nClusters >= 0, s"nClusters $nClusters out of range")
      validTrainFraction(trainFraction)
    }
    val entry = catalog.getCollection(physical(validCollection(name)))
    graft.search.ChunkIndex.requirePresent(catalog, entry)
    if (trainOn == "doc") graft.ann.IvfIndex.requirePresent(catalog, entry)
    // residual-PQ codes key their partitions AND values on the quantizer
    // this build may replace: re-encoded under the new one
    Indexes.rebuildWithDependents(spark, catalog, entry, graft.search.ChunkIvfIndex) {
      if (trainOn == "doc")
        graft.search.ChunkIvfIndex.buildDocAligned(spark, catalog, entry).count()
      else
        graft.search.ChunkIvfIndex.buildChunkTrained(
          spark, catalog, entry, nClusters, kmeansIters, trainFraction).count()
    }
  }

  /** Build (or rebuild) the residual-PQ chunk-code index — PLAID's
    * compressed storage recipe ([[graft.search.ChunkPqIndex]]): every
    * chunk vector stored as its IVF cluster plus m low-bit residual
    * codes, so maxsim candidate generation reads codes instead of float
    * vectors (the order-of-magnitude candidate-scan I/O cut at
    * token-level granularity). Requires the chunk index and a chunk
    * quantizer (the chunk-IVF's own chunk-trained sidecar when present,
    * the doc-level IVF centroids otherwise); governed
    * `ann_index_not_found` without them. Codebooks are frozen at build
    * time; writes maintain the affected clusters incrementally;
    * quantizer rebuilds re-encode. Returns the coded chunk-row count.
    */
  def buildChunkPqIndex(
      name: String,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 2,
      trainFraction: Double = 1.0): Long = writeLock {
    val entry = catalog.getCollection(physical(validCollection(name)))
    graft.search.ChunkIndex.requirePresent(catalog, entry)
    if (!graft.search.ChunkIvfIndex.quantizerExists(catalog, entry))
      throw new GraftException(ErrorCodes.AnnIndexNotFound)
    graft.search.ChunkPqIndex.build(spark, catalog, entry, m, k, iters, trainFraction)
  }

  /** Late-interaction (maxsim) search from the persisted chunk index:
    * the query's tokens each embed once, every token matches its best
    * chunk per document, and a document's score is the SUM of those best
    * cosines — multi-topic documents score on all topics where the
    * single-vector routes average them away.
    *
    * Candidate generation routes on `candidateSource`:
    *   - "cpq": per-token shortlists decoded from the RESIDUAL-PQ chunk
    *     codes ([[graft.search.ChunkIndex.searchCpq]] — the PLAID
    *     storage shape: the candidate scan reads m small ints per chunk
    *     instead of the float vector; probes the same clusters as
    *     "chunkivf", exact rescore identical).
    *   - "chunkivf": per-token shortlists from the CHUNK-LEVEL IVF index
    *     ([[graft.search.ChunkIndex.searchChunkIvf]] — the PLAID shape:
    *     candidates probe clusters of the scored vectors themselves, so
    *     multi-topic documents surface through whichever chunk matches).
    *   - "ivf": per-token document shortlists from the DOC-LEVEL IVF
    *     index ([[graft.search.ChunkIndex.searchAnn]] — corpus-pruned
    *     probes, per-request cost decoupled from stored chunk rows).
    *   - "chunk": the per-token top-T rule over the chunk table itself
    *     (exact per-token bests, but candidate generation scans every
    *     chunk row — fine at modest corpora, linear at scale).
    *   - "auto" (default): best built pruned route wins —
    *     chunkivf > ivf > chunk.
    * Forcing an unbuilt index route is governed `ann_index_not_found`.
    * Every route rescores its shortlist with the identical exact maxsim;
    * recall of each candidate rule is graded in `q_search_maxsim_pruned`
    * (chunk), `q_search_maxsim_ann` (ivf), and `q_search_maxsim_civf`
    * (chunkivf).
    */
  def maxsimSearch(
      name: String, question: String, nResults: Int = 10,
      perTokenT: Int = 25, maxQueryTokens: Int = 16,
      candidateSource: String = "auto",
      where: Option[org.apache.spark.sql.Column] = None): SearchResponse =
    maxsim(name, Seq(question), nResults, perTokenT, maxQueryTokens, candidateSource, where,
      attribute = false)

  /** Batched late-interaction (maxsim) search — [[maxsimSearch]] over a
    * question LIST. Every candidate route's serving core is already a
    * multi-query FRAME unit (one batched candidate plan, one exact
    * rescore plan — [[graft.search.ChunkIndex.searchFrames]] /
    * `searchAnn` / `searchChunkIvf` take the whole `(query_idx, text)`
    * batch), so Q questions cost ONE plan pair at ANY Q — there is no
    * per-question plan loop to cross over from, unlike the IVF-serving
    * loop that needed [[Api.BatchedServeThreshold]] (QSweep's
    * serve_maxsim_many_* rows price the loop alternative at 10-30× the
    * drive time). Validation, candidate routing, and per-question scores
    * are identical to the single-question route (MaxsimManySpec pins
    * result identity); results order (query_idx, score desc, id), each
    * hit's question under the "query_idx" metadata key.
    */
  def maxsimSearchMany(
      name: String, questions: Seq[String], nResults: Int = 10,
      perTokenT: Int = 25, maxQueryTokens: Int = 16,
      candidateSource: String = "auto",
      where: Option[org.apache.spark.sql.Column] = None): SearchResponse =
    maxsim(name, questions, nResults, perTokenT, maxQueryTokens, candidateSource, where,
      attribute = true)

  private def maxsim(
      name: String, questions: Seq[String], nResults: Int, perTokenT: Int,
      maxQueryTokens: Int, candidateSource: String,
      where: Option[org.apache.spark.sql.Column], attribute: Boolean): SearchResponse =
    serve(name, questions, nResults, validMaxsimParams(perTokenT, maxQueryTokens, candidateSource),
      attribute)(maxsimHits(_, _, _, perTokenT, maxQueryTokens, candidateSource, where))

  private def validMaxsimParams(
      perTokenT: Int, maxQueryTokens: Int, candidateSource: String): Unit = {
    require(perTokenT >= 1 && perTokenT <= 10000,
      s"perTokenT $perTokenT out of range")
    require(maxQueryTokens >= 1 && maxQueryTokens <= 256,
      s"maxQueryTokens $maxQueryTokens out of range")
    require(Set("auto", "chunk", "ivf", "chunkivf", "cpq").contains(candidateSource),
      s"candidateSource '$candidateSource' not in {auto, chunk, ivf, chunkivf, cpq}")
  }

  /** Diversity-aware semantic search: exact top-(k·oversample) shortlist,
    * MMR re-rank ([[graft.search.Mmr]], λ trades relevance vs diversity),
    * top-k out with the MMR score as the reported score. The expensive
    * part stays the fully-distributed retrieval leg; the greedy re-rank
    * runs over the serving-bounded shortlist (n_results guard × a small
    * oversample). The standard serving step between retrieval and
    * [[graft.search.ContextAssembly]].
    */
  def semanticSearchDiverse(
      name: String, question: String, nResults: Int = 10,
      lambda: Double = 0.5, oversample: Int = 4): SearchResponse =
    request(name, Seq(question), nResults,
      require(oversample >= 1 && nResults.toLong * oversample <= 10000,
        s"oversample $oversample out of range for k=$nResults")) { (e, qs, k) =>
      val short = Semantic.search(scorable(docs(e)), embed(qs), k * oversample, payload = Seq("embedding"))
        .select("id", "score", "embedding")
      withPayload(e, graft.search.Mmr.rerank(short, k, lambda).orderBy(col("rank"))
        .select(lit(0).as("query_idx"), col("id"), col("mmr").as("score")), attribute = false)
    }

  /** Build (or rebuild) the collection's persistent ANN index (IVF layout,
    * cluster-partitioned parquet — see graft.ann.IvfIndex).
    */
  def buildAnnIndex(
      name: String, nClusters: Int, kmeansIters: Int = 0,
      trainFraction: Double = 1.0): DataFrame = writeLock {
    // checked before the dependents are invalidated: a rejected call must
    // leave every index as it was
    require(nClusters >= 1, s"nClusters $nClusters out of range")
    validTrainFraction(trainFraction)
    val entry = catalog.getCollection(physical(name))
    // the PQ codes, and a DOC-ALIGNED chunk-level IVF and its residual-PQ
    // codes, are partitioned (PQ residuals also VALUED) under the IVF
    // quantizer this build replaces: each re-derives under the new one
    Indexes.rebuildWithDependents(spark, catalog, entry, graft.ann.IvfIndex) {
      graft.ann.IvfIndex.build(spark, catalog, entry, nClusters, kmeansIters, trainFraction)
    }
  }

  private def validTrainFraction(f: Double): Unit =
    require(f > 0 && f <= 1, s"trainFraction $f out of (0,1]")

  /** Approximate semantic search through the ANN index, carrying the
    * reference's recall knob: candidates considered >= max(10*k, 100)
    * (mongodb.py:277). Probes are chosen adaptively — smallest set of
    * nearest clusters whose cumulative size reaches numCandidates — then
    * scoring within probed partitions is exact.
    */
  def semanticSearchApprox(
      name: String,
      questions: Seq[String],
      nResults: Int = 10): SearchResponse =
    serve(name, questions, nResults)(semanticHits(_, "approx", _, _))

  /** IVF-approx hits (query_idx, id, score) for prepared query vectors —
    * the serving core shared by [[semanticSearchApprox]] and the
    * index-served hybrid ([[searchIndexed]]). Index + centroids are both
    * loaded from the persisted build artifacts (IvfIndex.build wrote them
    * together), so they can never diverge, and cluster ids are normalized
    * to Long on both sides of the size lookup.
    */
  private def approxHits(
      entry: graft.model.CollectionEntry,
      qs: Seq[(Int, Seq[Float])],
      k: Int): DataFrame = {
    val numCandidates = math.max(10 * k, 100)
    // past the batch threshold the per-query loop below would plan Q
    // unioned scans (driver-bound — the QSweep cliff); the batched route
    // serves the whole batch in ONE adaptive-nprobe plan with identical
    // scores/tie-breaks (AnnServeSpec parity)
    val assigned = scorable(graft.ann.IvfIndex.loadIndex(spark, catalog, entry))
    if (qs.size > Api.BatchedServeThreshold)
      return graft.ann.Ann.ivfTopKBatchAdaptive(assigned,
        graft.ann.IvfIndex.loadCentroids(spark, catalog, entry),
        qs, k, numCandidates)
    val clusterSizes = graft.ann.IvfIndex.clusterSizes(spark, catalog, entry)
    val centroidRows = graft.ann.IvfIndex.centroidRows(spark, catalog, entry)
    val results = qs.map { case (qIdx, qVec) =>
        val qNorm = math.sqrt(qVec.map(v => v.toDouble * v.toDouble).sum)
        val ranked = centroidRows.map { r =>
          val c = r.getSeq[Float](1)
          val dot = c.zip(qVec).map { case (x, y) => x.toDouble * y.toDouble }.sum
          (1.0 - dot / (r.getDouble(2) * qNorm), r.getLong(0))
        }.sortBy(identity)
        val probes = graft.ann.IvfIndex.adaptiveProbes(
          ranked.toSeq, clusterSizes, numCandidates)
        assigned
          .filter(col("cluster_id").isin(probes: _*))
          .withColumn("score",
            graft.search.Semantic.scoreAgainst(col("embedding"), col("norm"), qVec))
          .withColumn("query_idx", lit(qIdx))
          .select("query_idx", "id", "score")
          .orderBy(col("score").desc, col("id").asc)
          .limit(k)
      }
    results.reduce(_ unionAll _)
  }

  def lexicalSearch(
      name: String, questions: Seq[String], nResults: Int = 10): SearchResponse =
    request(name, questions, nResults) { (e, qs, k) =>
      serialize(Lexical.search(docs(e), qs, k, payload = Seq("content", "metadata")))
    }

  /** Positional phrase search over the collection: query terms ADJACENT
    * and IN ORDER, ranked by phrase occurrence count, with a snippet
    * highlight around the first occurrence carried in the metadata
    * (`snippet`, `phrase_tf` keys). Scale shape = the slot-emission form
    * of [[graft.search.Lexical.phraseSearch]]: one keyed shuffle over
    * phrase-term rows only; content/metadata re-read for the ≤ k winners.
    */
  def phraseSearch(
      name: String, question: String, nResults: Int = 10,
      window: Int = 5): SearchResponse =
    request(name, Seq(question), nResults,
      require(window >= 0 && window <= 100, s"window $window out of range")) { (e, qs, k) =>
      val d = docs(e)
      val hits = Lexical.phraseSearch(d.select(col("id"), col("content")), qs, k, window)
      val payload = hits.alias("h")
        .join(d.alias("d"), col("h.id") === col("d.id"))
        .select(col("h.id").as("id"), col("d.content").as("content"),
          // snippet/phrase_tf are reserved response keys: stored metadata
          // carrying either would throw under the default map-key dedup
          // policy (withReservedMeta strips them first)
          Api.withReservedMeta(col("d.metadata"),
            map(lit("snippet"), col("h.snippet"),
              lit("phrase_tf"), col("h.phrase_tf").cast("string"))).as("metadata"),
          col("h.phrase_tf").cast("double").as("score"))
        .orderBy(col("score").desc, col("id"))
      serialize(payload)
    }

  /** Build (or rebuild) the collection's persistent sign-LSH ANN index
    * (graft.ann.SignLshIndex) — the angular-hash alternative to the IVF
    * layout, partitioned by (table, key) for probe-time pruning.
    */
  def buildLshIndex(name: String, bits: Int = 8, tables: Int = 8): DataFrame = writeLock {
    val entry = catalog.getCollection(physical(name))
    graft.ann.SignLshIndex.build(spark, catalog, entry, embedder.dimension, bits, tables)
  }

  /** Build the persistent MinHash content index — enables
    * [[addDocumentsDedupContent]] (textual dedup-on-write) at O(batch)
    * probe cost per write. Maintained incrementally by every write path
    * like the other derived indexes.
    */
  def buildMinHashIndex(name: String, bands: Int = 16, shingleN: Int = 3): DataFrame =
    writeLock {
      val entry = catalog.getCollection(physical(name))
      graft.dedup.MinHashIndex.build(spark, catalog, entry, bands, shingleN)
    }

  /** Content-side near-dup ingest gate: reject batch documents whose TEXT
    * near-duplicates an already-ingested document (n-gram Jaccard >=
    * `jaccardThreshold`, exact-verified over candidates from the persistent
    * MinHash index), then write the survivors. The content twin of the
    * embedding-side [[addDocumentsDedup]]: that one catches semantic
    * duplicates through the embedder; this one catches textual
    * near-duplicates (boilerplate edits, near-identical crawls) without
    * touching the embedding model — rejected rows are dropped BEFORE the
    * embed pass, so the model runs only for documents that will actually
    * land. Returns (written, rejected). Same-id re-upserts are not
    * self-flagged (update semantics preserved). Governed
    * `dedup_index_not_found` when the index was never built.
    */
  def addDocumentsDedupContent(
      name: String,
      batch: DataFrame,
      jaccardThreshold: Double): (Long, Long) = invoke { writeLock {
    val entry = catalog.getCollection(physical(validCollection(name)))
    // governed index check BEFORE any pipeline work
    graft.dedup.MinHashIndex.requireMeta(spark, catalog, entry)
    val prepared = Ingest.prepare(batch)
    Ingest.checkBounds(prepared)
    val staged = prepared.cache()
    try {
      val total = staged.count()
      val rejectedIds = graft.dedup.MinHashIndex.nearDupIds(
        spark, catalog, entry, staged.select("id", "content"), jaccardThreshold)
      val keep = staged.join(rejectedIds, Seq("id"), "left_anti")
        .select("content", "metadata").cache()
      try {
        val written = if (keep.isEmpty) 0L else addDocuments(name, keep)
        (written, total - written)
      } finally keep.unpersist()
    } finally staged.unpersist()
  } }

  /** Approximate semantic search through the sign-LSH index. Layout
    * parameters (bits, tables, seed, dim) come from the sidecar meta
    * persisted at build time, so search always matches the build
    * configuration — including over an index a delete emptied; a missing
    * index surfaces the governed `ann_index_not_found` instead of a raw
    * storage error.
    */
  def semanticSearchLsh(
      name: String, questions: Seq[String], nResults: Int = 10,
      multiProbe: Int = 0): SearchResponse =
    serve(name, questions, nResults)((e, qs, k) => lshHits(e, embed(qs), k, multiProbe))

  /** Build (or rebuild) the collection's persistent IVF-PQ index
    * (graft.ann.PqIndex) — cluster-partitioned PQ codes + persisted
    * codebooks, the reference's literal "IVF-PQ" engine-side ANN
    * (epistemic_graph.py:5-8). Reuses the IvfIndex centroids when
    * buildAnnIndex ran first (one quantizer for both layouts).
    * `residual = true` quantizes (embedding - centroid) instead of raw
    * vectors — the IVFADC design; needs the IVF centroids (built first),
    * otherwise the build records a raw encoding.
    */
  def buildPqIndex(
      name: String, m: Int = 8, k: Int = 16, iters: Int = 3,
      residual: Boolean = false, trainFraction: Double = 1.0): Unit = writeLock {
    val entry = catalog.getCollection(physical(name))
    graft.ann.PqIndex.build(
      spark, catalog, entry, embedder.dimension, m, k, iters, residual, trainFraction)
  }

  /** Approximate semantic search through the IVF-PQ index: probe-pruned
    * ADC over codes (embeddings never scanned), exact cosine re-rank of
    * the oversampled shortlist. Carries the reference's recall knob
    * (candidates >= max(10*k, 100), mongodb.py:277); a missing index
    * surfaces the governed `ann_index_not_found`.
    */
  def semanticSearchPq(
      name: String, questions: Seq[String], nResults: Int = 10,
      oversample: Int = 4): SearchResponse =
    serve(name, questions, nResults)((e, qs, k) => pqHits(e, embed(qs), k, oversample))

  /** Build (or rebuild) the collection's persistent lexical index —
    * term-bucket-partitioned postings (graft.search.LexIndex), the durable
    * analog of the reference's GIN index (postgres.py:189-196).
    */
  def buildLexicalIndex(name: String): DataFrame = writeLock {
    val entry = catalog.getCollection(physical(name))
    graft.search.LexIndex.build(spark, catalog, entry)
  }

  /** Storage maintenance: bin-pack fragmented partitions of the documents
    * table and every existing derived index. The engine's OWN write path
    * cannot fragment — stage-and-swap repartitions on the partition key,
    * landing ONE file per touched dir per write (BucketedTableSpec proves
    * the no-op) — so this is the safety net for externally-written tables,
    * crash debris, and config drift. Row-identical layout rewrite; returns
    * (table-or-index name -> partitions compacted). Runs under the write
    * lock like any other physical rewrite.
    */
  def compactStorage(name: String, maxFiles: Int = 4): Map[String, Int] = writeLock {
    val entry = catalog.getCollection(physical(name))
    import graft.catalog.PartitionedTable.compact
    Indexes.All.flatMap { ix =>
      ix.compactKey.map(_ -> (if (!ix.exists(catalog, entry)) 0
        else compact(spark, ix.indexPath(catalog, entry), ix.partCols, ix.sortCols, maxFiles).size))
    }.toMap + ("documents" -> compact(spark, catalog.tablePath(entry), Seq("bucket"), Nil, maxFiles).size)
  }

  /** Build the bloom existence-prefilter sidecar: one corpus pass for the
    * id sketch, after which insert_documents' existence check is O(batch)
    * (zero corpus I/O when no batch id possibly exists — the common
    * incremental-ingest case). Maintained incrementally by every write;
    * rebuild to reclaim fpp headroom after heavy churn. Returns the number
    * of ids sketched.
    */
  def buildBloomGate(name: String, fpp: Double = 0.01): Long = writeLock {
    val entry = catalog.getCollection(physical(name))
    ingest.BloomGate.buildIndex(spark, catalog, entry, fpp = fpp)
  }

  /** TF lexical search through the persistent index: bucket-pruned postings
    * scan, no document content touched until the final payload join.
    */
  def lexicalSearchIndexed(
      name: String, questions: Seq[String], nResults: Int = 10): SearchResponse =
    serve(name, questions, nResults)(lexicalHits(_, "indexed", _, _))

  /** BM25 lexical search through the persistent index: bucket-pruned
    * postings slice; scores bit-identical to the scan path.
    */
  def lexicalSearchBm25Indexed(
      name: String, questions: Seq[String], nResults: Int = 10): SearchResponse =
    serve(name, questions, nResults)(lexicalHits(_, "bm25_indexed", _, _))

  /** BM25 lexical search — the scoring the reference's retriever names
    * (retriever/retriever.py:90-101). One shared corpus-stats pass for the
    * whole question batch, then a scan + bounded top-k per question.
    */
  def lexicalSearchBm25(
      name: String, questions: Seq[String], nResults: Int = 10): SearchResponse =
    request(name, questions, nResults) { (e, qs, k) =>
      serialize(Lexical.searchBm25Many(docs(e), qs, k, payload = Seq("content", "metadata")))
    }

  /** BM25 hits (query_idx, id, score) from the persistent lexical index,
    * scored with the serving snapshot's (N, avgdl).
    */
  private def bm25Hits(
      entry: graft.model.CollectionEntry,
      qs: Seq[(Int, String)],
      k: Int): DataFrame =
    graft.search.LexIndex.searchBm25(graft.search.LexIndex.load(spark, catalog, entry), qs, k,
      stats = Some(graft.search.LexIndex.stats(spark, catalog, entry)))

  /** Sign-LSH hits (query_idx, id, score) for prepared query vectors —
    * layout from the persisted sidecar meta; governed error when the
    * index was never built.
    */
  private def lshHits(
      entry: graft.model.CollectionEntry,
      qs: Seq[(Int, Seq[Float])],
      k: Int,
      multiProbe: Int = 0): DataFrame = {
    val index = scorable(graft.ann.SignLshIndex.load(spark, catalog, entry))
    val meta = graft.ann.SignLshIndex.requireMeta(spark, catalog, entry)
    graft.ann.SignLshIndex.search(
      index, qs, k, meta.dim, meta.bits, meta.tables, meta.seed, multiProbe = multiProbe)
  }

  /** Maxsim hits (query_idx, id, score) for sanitized (query_idx, text)
    * pairs — the serving core shared by [[maxsimSearch]],
    * [[maxsimSearchMany]], and the maxsim-leg hybrid ([[searchIndexed]]
    * semanticMode="maxsim"). The WHOLE batch serves in one plan pair on
    * every route. Candidate routing follows [[maxsimSearch]]'s
    * `candidateSource` semantics: auto prefers the best pruned route
    * whose index exists; a missing chunk index (or forcing an unbuilt
    * route) is governed `ann_index_not_found`.
    */
  /** `where` (metadata-filtered maxsim): the predicate — over the document
    * columns (id, content, metadata) — restricts SERVING to the matching
    * sub-corpus. It is pushed as an ordinary filter into the documents
    * scan (one id-projection pass), and the allowed-id set then restricts
    * each route BEFORE its shortlist ranks: per-token top-T and the
    * adaptive probe pool fill from the sub-corpus, so filtered top-k
    * fills k instead of post-filtering an unfiltered shortlist under-full
    * (the q_ann_ivf_filtered pushdown-vs-postfilter lesson, graded for
    * this route in `q_search_maxsim_filtered`).
    */
  private def maxsimHits(
      entry: graft.model.CollectionEntry,
      qs: Seq[(Int, String)],
      k: Int,
      perTokenT: Int = 25,
      maxQueryTokens: Int = 16,
      candidateSource: String = "auto",
      where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    graft.search.ChunkIndex.requirePresent(catalog, entry)
    val hasIvf = graft.ann.IvfIndex.exists(catalog, entry)
    val hasChunkIvf = graft.search.ChunkIvfIndex.exists(catalog, entry) &&
      graft.search.ChunkIvfIndex.quantizerExists(catalog, entry)
    val hasCpq = graft.search.ChunkPqIndex.usable(catalog, entry)
    // auto preference: residual-PQ codes (built explicitly = opted into
    // the compressed serving shape; probes the same clusters as chunkivf
    // at ~1/10 the candidate-scan I/O) > chunk-level IVF (best pruned
    // recall — candidates from the scored vectors themselves) >
    // doc-level IVF > chunk scan
    val route = candidateSource match {
      case "cpq" =>
        if (!hasCpq) throw new GraftException(ErrorCodes.AnnIndexNotFound)
        "cpq"
      case "chunkivf" =>
        if (!hasChunkIvf) throw new GraftException(ErrorCodes.AnnIndexNotFound)
        "chunkivf"
      case "ivf" =>
        if (!hasIvf) throw new GraftException(ErrorCodes.AnnIndexNotFound)
        "ivf"
      case "chunk" => "chunk"
      case _ =>
        if (hasCpq) "cpq"
        else if (hasChunkIvf) "chunkivf" else if (hasIvf) "ivf" else "chunk"
    }
    val allowed = where.map(p => catalog.readDocuments(entry).filter(p)
      .select(col("id").as("doc_id")))
    val limit = graft.ann.GraphSearch.DefaultBroadcastRowLimit
    route match {
      case "cpq" => graft.search.ChunkIndex.searchCpq(spark,
        catalog, entry, embedder, qs, k, perTokenT, maxQueryTokens, limit,
        allowedDocs = allowed)
      case "chunkivf" => graft.search.ChunkIndex.searchChunkIvf(spark,
        catalog, entry, embedder, qs, k, perTokenT, maxQueryTokens, limit,
        allowedDocs = allowed)
      case "ivf" => graft.search.ChunkIndex.searchAnn(spark, catalog, entry,
        embedder, qs, k, perTokenT, maxQueryTokens, limit,
        allowedDocs = allowed)
      case _ => graft.search.ChunkIndex.search(spark, catalog, entry,
        embedder, qs, k, perTokenT, maxQueryTokens, limit,
        allowedDocs = allowed)
    }
  }

  /** IVF-PQ hits (query_idx, id, score) for prepared query vectors. */
  private def pqHits(
      entry: graft.model.CollectionEntry,
      qs: Seq[(Int, Seq[Float])],
      k: Int,
      oversample: Int = 4): DataFrame =
    graft.ann.PqIndex.search(spark, catalog, entry,
      scorable(docs(entry)).select("id", "embedding", "norm"), qs, k,
      numCandidates = math.max(10L * k, 100L), oversample = oversample)

  /** Hybrid RRF search (vector_api.py:518-566): the exact semantic leg
    * fused with the TF scan leg.
    */
  def search(
      name: String, question: String, numberResults: Int = 10,
      semanticWeight: Double = 0.5, lexicalWeight: Double = 0.5,
      rrfK: Int = 60): SearchResponse =
    searchIndexed(name, question, numberResults, semanticWeight, lexicalWeight, rrfK,
      semanticMode = "exact", lexicalMode = "scan")

  /** Index-served hybrid RRF: the 100 TB serving shape — both fusion
    * inputs come from persistent indexes (semantic via IVF / sign-LSH /
    * IVF-PQ / maxsim-over-the-chunk-index, lexical via the bucket-pruned
    * posting index), so the corpus content is never scanned; only the
    * fused top-k joins back for its payload. Any other leg pair fuses the
    * same way ([[search]] is exact + scan). The question is checked
    * before the weights; an unknown mode is governed like an unknown
    * action.
    */
  def searchIndexed(
      name: String, question: String, numberResults: Int = 10,
      semanticWeight: Double = 0.5, lexicalWeight: Double = 0.5,
      rrfK: Int = 60,
      semanticMode: String = "approx",
      lexicalMode: String = "bm25_indexed"): SearchResponse =
    hybrid(name, Seq(question), numberResults, semanticWeight, lexicalWeight, rrfK,
      semanticMode, lexicalMode, attribute = false,
      checks = { validQuestion(question); validWeightsAndK(semanticWeight, lexicalWeight, rrfK) })

  /** The hybrid core: each leg serves the whole question batch in one
    * plan, and [[graft.search.Hybrid.rrf]] fuses them once (it is
    * query_idx-keyed with a per-query limit).
    */
  private def hybrid(
      name: String, questions: Seq[String], numberResults: Int,
      semanticWeight: Double, lexicalWeight: Double, rrfK: Int,
      semanticMode: String, lexicalMode: String, attribute: Boolean,
      checks: => Unit): SearchResponse =
    serve(name, questions, numberResults, checks, attribute) { (e, qs, k) =>
      Hybrid.rrf(invoke(semanticHits(e, semanticMode, qs, k)),
        invoke(lexicalHits(e, lexicalMode, qs, k)), semanticWeight, lexicalWeight, rrfK, k)
    }

  /** Index-health / drift probe ([[graft.ann.IndexHealth]]): recompute
    * the named index's quantization stats (mean residual to the frozen
    * centroids, assignment entropy) and compare against the baseline
    * persisted at (re)build time. `rebuild_recommended = true` when the
    * mean residual grew, or the entropy fell, by more than
    * `IndexHealth.DriftRatioPercent` — the silent recall decay a
    * continuously-ingesting corpus inflicts on a frozen quantizer, made
    * measurable BEFORE users notice worse retrieval. Point-in-time read:
    * one index scan + cluster-sized aggregate, no corpus access.
    * `index` ∈ {"ivf", "chunkivf"}; governed `ann_index_not_found` when
    * the index (or its baseline sidecar) is missing.
    */
  def indexHealth(name: String, index: String = "ivf"): Map[String, Any] = {
    // request validation precedes the firewall (sibling-route precedence)
    require(Set("ivf", "chunkivf").contains(index),
      s"index '$index' not in {ivf, chunkivf}")
    indexHealthInner(name, index)
  }

  private def indexHealthInner(name: String, index: String): Map[String, Any] = invoke {
    val entry = catalog.getCollection(physical(validCollection(name)))
    import graft.ann.IndexHealth
    val (basePath, current) = index match {
      case "ivf" =>
        (IndexHealth.ivfBaselinePath(catalog, entry),
          IndexHealth.statsRow(
            graft.ann.IvfIndex.loadIndex(spark, catalog, entry),
            graft.ann.IvfIndex.loadCentroids(spark, catalog, entry)))
      case _ =>
        if (!graft.search.ChunkIvfIndex.exists(catalog, entry) ||
            !graft.search.ChunkIvfIndex.quantizerExists(catalog, entry))
          throw new GraftException(ErrorCodes.AnnIndexNotFound)
        (IndexHealth.chunkIvfBaselinePath(catalog, entry),
          IndexHealth.statsRow(
            graft.search.ChunkIvfIndex.load(spark, catalog, entry),
            graft.search.ChunkIvfIndex.quantizer(spark, catalog, entry)))
    }
    val baseline = IndexHealth.readStatsRow(spark, basePath)
      .getOrElse(throw new GraftException(ErrorCodes.AnnIndexNotFound))
    IndexHealth.compare(baseline, current) + ("index" -> index)
  }

  /** Batched hybrid RRF — [[searchIndexed]] over a question LIST, any leg
    * pair: Q questions cost one plan per leg + one fusion instead of the
    * 2Q single-question plans a caller loop pays (the QSweep-measured
    * driver cliff). The weights are checked before the questions;
    * per-question results equal the per-question route's (MaxsimManySpec
    * pins the identity), each hit's question under the "query_idx"
    * metadata key.
    */
  def searchIndexedMany(
      name: String, questions: Seq[String], numberResults: Int = 10,
      semanticWeight: Double = 0.5, lexicalWeight: Double = 0.5,
      rrfK: Int = 60,
      semanticMode: String = "approx",
      lexicalMode: String = "bm25_indexed"): SearchResponse =
    hybrid(name, questions, numberResults, semanticWeight, lexicalWeight, rrfK,
      semanticMode, lexicalMode, attribute = true,
      checks = validWeightsAndK(semanticWeight, lexicalWeight, rrfK))

  /** Collection statistics — the observability half of the doctor surface
    * (model.BackendPolicy.backendStatus is the availability half): document
    * count, frozen dimension, and which persistent derived indexes exist
    * with their row counts. Point reads only — the documents count is a
    * parquet-metadata count (no scan), index counts read only the indexes
    * that exist.
    */
  def describeCollection(name: String): Map[String, Any] = invoke {
    val entry = catalog.getCollection(physical(validCollection(name)))
    val indexes = Indexes.All.filter(_.exists(catalog, entry))
      .map(ix => ix.key -> ix.load(spark, catalog, entry).count()).toMap
    Map(
      "collection" -> name,
      "documents" -> docs(entry).count(),
      "dimension" -> entry.dimension,
      "indexes" -> indexes)
  }

  /** Result serialization (vector_api.py:368-386): drop non-finite scores,
    * sanitize content/metadata on the way out.
    */
  private def serialize(df: DataFrame): SearchResponse = {
    val clean = df
      .filter(!isnan(col("score")) && abs(col("score")) < lit(Double.MaxValue))
      .withColumn("content", Sanitize.sanitizeText(col("content")))
      .withColumn("metadata", Sanitize.sanitizeMetadata(col("metadata")))
    val rows = clean.collect().map { r =>
      HitRow(
        String.valueOf(r.get(r.fieldIndex("id"))),
        r.getAs[String]("content"),
        Option(r.getAs[Map[String, String]]("metadata")).getOrElse(Map.empty),
        r.getAs[Double]("score"))
    }
    SearchResponse(rows.toSeq)
  }
}

object Api {
  /** Attach response-reserved key/value pairs to a stored metadata map.
    * The reserved keys are STRIPPED from the stored side first: Spark's
    * default `spark.sql.mapKeyDedupPolicy=EXCEPTION` makes a plain
    * `map_concat` THROW at serialize time whenever a document's own
    * metadata already carries one of the keys — and even under LAST_WIN
    * a user-supplied value would corrupt the response attribution. The
    * engine owns these keys in responses ("query_idx", "snippet",
    * "phrase_tf" — documented reserved); stored values never shadow them.
    */
  private[graft] def withReservedMeta(
      metadata: org.apache.spark.sql.Column,
      reserved: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    map_concat(
      map_filter(
        coalesce(metadata, map().cast("map<string,string>")),
        (k, _) => !array_contains(map_keys(reserved), k)),
      reserved)
  }

  /** Attach the hit's question index to its metadata map under
    * "query_idx" — the batched engine-extension routes' attribution key
    * (per-question hit counts vary, so a flat response cannot be sliced
    * by stride). "query_idx" is a reserved response key
    * ([[withReservedMeta]]): a stored value under it never survives.
    */
  private[graft] def withQueryIdx(
      metadata: org.apache.spark.sql.Column,
      queryIdx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    withReservedMeta(metadata,
      org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("query_idx"),
        queryIdx.cast("string")))

  /** Question-batch size past which IVF-approx serving switches from the
    * per-query planned loop (fastest at interactive Q) to the one-plan
    * batched adaptive route ([[graft.ann.Ann.ivfTopKBatchAdaptive]]) —
    * the QSweep-measured crossover is driver planning time, not executor
    * work, so the threshold is deliberately small.
    */
  val BatchedServeThreshold = 32
}
