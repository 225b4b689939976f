package graft.search

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Indexes.Delta
import graft.catalog.Catalog
import graft.functions.{TextFunctions, VectorFunctions}
import graft.ingest.{Embed, Embedder, Ingest}
import graft.model.CollectionEntry

/** Persistent chunk-vector index — the late-interaction ([[MaxSim]])
  * serving state, maintained on the write path like every other derived
  * index ([[graft.Indexes]] scaladoc; reference parity: the backends
  * index within upsert, postgres.py:189-196).
  *
  * One row per (document, chunk): the document's token-window chunks
  * (the [[graft.retriever.Retriever.chunk]] rule, `maxTokens` from the
  * persisted meta) embedded through the collection's embedder and
  * L2-NORMALIZED at index time, so serving's dot products ARE cosine
  * and no norm column travels through the scoring joins. Rows live
  * PARTITIONED BY the same id-hash bucket as the documents table
  * (`Ingest.idBucket`), which makes the shortlist rescore a
  * bucket-pruned point fetch and lets the write path rewrite exactly
  * the batch's buckets — O(Δ × bucket) maintenance at any corpus size.
  *
  * Write-time cost is the late-interaction trade stated plainly: every
  * upserted document embeds ALL its chunks (ColBERT-family indexes
  * embed every token); the embed call is per-partition batched like the
  * document-level pass and paid once per write, never at query time.
  *
  * Serving: query tokens embed driver-side (one batch call), a
  * candidate rule shortlists documents, and the final score is the exact
  * maxsim over the shortlist ([[MaxSim.topK]](candidates) — literally:
  * every route calls it). Candidate routes, worst to best at scale:
  *   - [[search]] (chunk route): per-token top-T over the chunk table
  *     (the `q_search_maxsim_pruned` grading surface) — candidate
  *     generation is chunk-table-linear, fine at modest corpora;
  *   - [[searchAnn]] (doc-level ANN route): per-token shortlists from
  *     the DOC-LEVEL IVF index (`q_search_maxsim_ann`) — probe-pruned,
  *     per-request cost decoupled from stored chunk rows
  *     (ChunkIndexProbe's chunk_serve_ann row), but the pooled doc
  *     vector averages a multi-topic document's directions away;
  *   - [[searchChunkIvf]] (chunk-level ANN route, the PLAID shape):
  *     per-token DOC shortlists ranked by best probed CHUNK from the
  *     [[ChunkIvfIndex]] (`q_search_maxsim_civf`) — probe-pruned AND
  *     candidates come from the scored vectors themselves, so the only
  *     recall loss is quantization; `candidateSource` auto prefers it.
  */
object ChunkIndex extends graft.DerivedIndex {

  val DefaultMaxTokens = 64

  val key = "chunkvecs"
  protected val suffix = ".chunkvecs"
  val partCols = Seq("bucket")
  val sortCols = Seq("id", "chunk_idx")
  val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, chunk_idx INT, vec ARRAY<FLOAT>, bucket INT")

  override def sidecars(catalog: Catalog, entry: CollectionEntry): Seq[(String, String)] =
    Seq("meta" -> metaPath(catalog, entry))

  /** Chunk rows share the documents table's id-bucket layout: the
    * affected partitions are exactly the changed ids' buckets (no chunking
    * or embedding at stage time).
    */
  def affectedKeys(d: Delta): Seq[Seq[Any]] = d.shared("id buckets") {
    graft.Indexes.keysOf(d.ids.select(Ingest.idBucket(col("id")).as("bucket")), partCols)
  }

  /** The fresh batch's chunk rows, embedded ONCE per write (the write-time
    * model cost) for this index and the two chunk-level indexes.
    */
  def freshRows(d: Delta): DataFrame = d.shared("fresh chunks") {
    val meta = loadMeta(d.spark, d.catalog, d.entry).get
    d.cache(indexRows(d.fresh.select("id", "content"), d.embedder, meta.maxTokens))
  }

  def metaPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".chunkvecs.meta"

  final case class ChunkMeta(maxTokens: Int)

  def loadMeta(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Option[ChunkMeta] =
    graft.Indexes.readMeta[ChunkMeta](spark, metaPath(catalog, entry))

  /** Index rows for a document batch (id, content):
    * (id, chunk_idx, vec normalized ARRAY<FLOAT>, bucket).
    */
  def indexRows(rows: DataFrame, embedder: Embedder, maxTokens: Int): DataFrame = {
    val chunked = rows
      .withColumn("__words", split(col("content"), "\\s+"))
      .withColumn("__chunks",
        transform(sequence(lit(0),
          greatest(ceil(size(col("__words")).cast("double") / maxTokens).cast("int"),
            lit(1)) - 1),
          i => concat_ws(" ", slice(col("__words"), i * maxTokens + 1, lit(maxTokens)))))
      .select(col("id"), posexplode(col("__chunks")).as(Seq("chunk_idx", "content")))
      .filter(length(col("content")) > 0)
      .withColumn("embedding", lit(null).cast("array<float>"))
    Embed.withEmbeddings(chunked, embedder)
      .withColumn("__n", VectorFunctions.l2Norm(col("embedding")))
      .select(col("id"), col("chunk_idx"),
        // zero vectors stay zero instead of dividing to NaN
        when(col("__n") > 0,
          expr("transform(embedding, v -> cast(v / __n as float))"))
          .otherwise(col("embedding")).as("vec"),
        Ingest.idBucket(col("id")).as("bucket"))
  }

  /** Build (or rebuild) from the collection's documents table; persists
    * the meta sidecar so incremental maintenance and rebuilds keep the
    * same chunking.
    */
  def build(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      embedder: Embedder,
      maxTokens: Int = DefaultMaxTokens): DataFrame = catalog.monitor {
    // crash ordering: drop any OLD index first, then meta, then the new
    // index. Every crash window is then harmless-or-loud — no-index
    // states don't serve or maintain, index-without-meta fails
    // Indexes.stage's sidecar check — and the silent failure mode is
    // unreachable: new-meta + OLD-index (a rebuild with different
    // maxTokens crashing between the writes would maintain a 64-token
    // index at 32-token chunking forever) cannot occur because the old
    // index is already gone when the new meta lands.
    graft.catalog.PartitionedTable.deleteDir(Paths.get(indexPath(catalog, entry)))
    graft.Indexes.writeMeta(spark, metaPath(catalog, entry), ChunkMeta(maxTokens))
    writeFull(catalog, entry, indexRows(
      catalog.readDocuments(entry).select(col("id"), col("content")), embedder, maxTokens))
    load(spark, catalog, entry)
  }

  /** Maxsim serving from the persisted index.
    *
    * @param queries    (query_idx, query text); each query's tokens come
    *                   from the canonical tokenizer, capped at
    *                   `maxQueryTokens` (first occurrences win)
    * @param k          documents per query
    * @param perTokenT  shortlist width per query token (the
    *                   `q_search_maxsim_pruned`-graded candidate rule)
    * @param maxQueryTokens serving guard on the per-query token count:
    *                   tokens past the cap are DROPPED before embedding
    *                   (their topics contribute nothing to the score), so
    *                   callers with genuinely long queries must raise it
    *                   — the cap bounds embed cost and the candidate
    *                   frame, it is not part of maxsim semantics
    * @return (query_idx, id, score) — maxsim over normalized vectors
    *         (sum of per-token best cosines), score desc, id asc
    */
  def search(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      embedder: Embedder,
      queries: Seq[(Int, String)],
      k: Int,
      perTokenT: Int = 25,
      maxQueryTokens: Int = 16,
      broadcastRowLimit: Long = graft.ann.GraphSearch.DefaultBroadcastRowLimit,
      allowedDocs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val (toks, chunkVecs) = embedQueryTokens(
      spark, catalog, entry, embedder, queries, maxQueryTokens)
    if (toks.isEmpty) return emptyResult(chunkVecs)
    val q = toks.toDF("query_idx", "tok_idx", "vec")
    // filtered serving: restrict the chunk frame BEFORE the per-token
    // top-T, so the shortlist (and so top-k) FILLS from the sub-corpus
    // instead of post-filtering an unfiltered shortlist under-full
    val vecsIn = allowedDocs.fold(chunkVecs)(a =>
      chunkVecs.join(a.select("doc_id"), Seq("doc_id"), "left_semi"))
    searchFrames(vecsIn, q, k, perTokenT, broadcastRowLimit)
      .select(col("query_idx"), col("doc_id").as("id"), col("score"))
  }

  /** Frame-level chunk-route serving core (the QSweep-measured unit):
    * candidate rule — one chunk scan, per-(query, token) top-T docs by
    * best chunk dot — then the exact maxsim rescore over the shortlist
    * join. The query-token frame follows the serving size gate
    * (broadcast while the driver-known row bound fits, shuffle-hash past
    * it — GraphSearch.mkMark semantics, result-identical either way).
    * NOTHING is pinned in executor storage (no checkpoint/persist): a
    * lost executor recomputes its slice, and serving leaves
    * getPersistentRDDs untouched (ChunkIndexSpec pins both).
    */
  def searchFrames(
      chunkVecs: DataFrame,
      queryTokens: DataFrame,
      k: Int,
      perTokenT: Int,
      broadcastRowLimit: Long = graft.ann.GraphSearch.DefaultBroadcastRowLimit): DataFrame = {
    val underLimit = queryTokens.queryExecution.optimizedPlan.maxRows
      .exists(_ <= broadcastRowLimit)
    val qv = queryTokens.select(col("query_idx"), col("tok_idx"), col("vec").as("qv"))
    val byTok = org.apache.spark.sql.expressions.Window
      .partitionBy("query_idx", "tok_idx")
      .orderBy(col("best").desc, col("doc_id").asc)
    val cand = chunkVecs
      .crossJoin(if (underLimit) broadcast(qv) else qv)
      .withColumn("dp", VectorFunctions.dot(col("vec"), col("qv")))
      .groupBy("query_idx", "tok_idx", "doc_id")
      .agg(max(col("dp")).as("best"))
      .withColumn("rn", row_number().over(byTok))
      .filter(col("rn") <= perTokenT)
      .select("query_idx", "doc_id").distinct()
    MaxSim.topK(chunkVecs, queryTokens, k, candidates = Some(cand),
      broadcastRowLimit)
  }

  /** ANN-pruned maxsim serving — the 100 TB candidate route. Per-token
    * document candidates come from the DOC-LEVEL IVF index (corpus-pruned
    * probes: [[graft.ann.Ann.ivfTopKBatchAdaptive]] with the query's
    * TOKEN vectors as the batch — one plan for all tokens), so candidate
    * generation never scans the chunk table; the exact maxsim rescore
    * then touches only the shortlisted documents' chunk rows (the
    * doc_id-keyed, bucket-prunable [[MaxSim.topK]] shortlist join). Per-
    * request cost is probed-clusters + shortlist-bounded — decoupled from
    * stored chunk rows (ChunkIndexProbe measures exactly that), where
    * [[search]]'s chunk-route candidate rule is chunk-table-linear by
    * construction. Recall vs the exact-scan truth is graded end-to-end in
    * `q_search_maxsim_ann` at two shortlist widths.
    *
    * @param perTokenT per-token candidate width: top-T documents per query
    *                  token by DOC-LEVEL cosine (union over tokens forms
    *                  the query's shortlist)
    */
  def searchAnn(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      embedder: Embedder,
      queries: Seq[(Int, String)],
      k: Int,
      perTokenT: Int = 25,
      maxQueryTokens: Int = 16,
      broadcastRowLimit: Long = graft.ann.GraphSearch.DefaultBroadcastRowLimit,
      allowedDocs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val (toks, chunkVecs) = embedQueryTokens(
      spark, catalog, entry, embedder, queries, maxQueryTokens)
    if (toks.isEmpty) return emptyResult(chunkVecs)
    val qdf = toks.toDF("query_idx", "tok_idx", "vec")
    // filtered serving restricts the INDEX rows before candidate
    // ranking (the q_ann_ivf_filtered pushdown shape): per-token top-T
    // and the adaptive probe pool both see the sub-corpus, so the
    // shortlist fills with qualifying documents; the rescore then only
    // touches their chunk rows through the candidate join
    val assigned = graft.ann.IvfIndex.loadIndex(spark, catalog, entry)
    val assignedIn = allowedDocs.fold(assigned)(a =>
      assigned.join(a.select(col("doc_id").as("id")), Seq("id"), "left_semi"))
    val cand = annCandidates(spark, assignedIn,
      graft.ann.IvfIndex.loadCentroids(spark, catalog, entry),
      toks, perTokenT, broadcastRowLimit)
    MaxSim.topK(chunkVecs, qdf, k, candidates = Some(cand), broadcastRowLimit)
      .select(col("query_idx"), col("doc_id").as("id"), col("score"))
  }

  /** Per-query document shortlists from an IVF index — the ANN candidate
    * generator behind [[searchAnn]] and [[searchChunkIvf]] (and the
    * QSweep-measured unit): each token is its own ANN query in ONE
    * batched adaptive-probe plan; the composite key maps per-token
    * shortlists back to their query driver-side (token count per request
    * is bounded by queries × maxQueryTokens, so the key map is tiny and
    * broadcast). `docIdOf` maps an index row's id to its document —
    * identity for the doc-level index, the key split for the chunk-level
    * one. Returns (query_idx, doc_id) distinct.
    */
  def annCandidates(
      spark: SparkSession,
      assigned: DataFrame,
      centroids: DataFrame,
      toks: Seq[(Int, Int, Array[Float])],
      perTokenT: Int,
      broadcastRowLimit: Long = graft.ann.GraphSearch.DefaultBroadcastRowLimit): DataFrame = {
    import spark.implicits._
    val tokBatch = toks.zipWithIndex.map { case ((_, _, v), key) => key -> v.toSeq }
    val perTok = graft.ann.Ann.ivfTopKBatchAdaptive(
      assigned, centroids, tokBatch, perTokenT,
      numCandidates = math.max(10L * perTokenT, 100L), broadcastRowLimit)
    tokShortlistsToDocs(spark, perTok, toks)
  }

  /** Per-query document shortlists from the CHUNK-LEVEL IVF index — the
    * PLAID candidate generator behind [[searchChunkIvf]]: per token, the
    * top-T DOCUMENTS ranked by their best probed chunk
    * ([[graft.ann.Ann.ivfGroupTopKBatchAdaptive]] grouped on the row
    * key's doc id — ranking raw chunk rows would let one strong
    * document's chunks crowd the shortlist), then the per-query union.
    * Returns (query_idx, doc_id) distinct.
    */
  def chunkIvfCandidates(
      spark: SparkSession,
      assignedChunks: DataFrame,
      centroids: DataFrame,
      toks: Seq[(Int, Int, Array[Float])],
      perTokenT: Int,
      broadcastRowLimit: Long = graft.ann.GraphSearch.DefaultBroadcastRowLimit): DataFrame = {
    val tokBatch = toks.zipWithIndex.map { case ((_, _, v), key) => key -> v.toSeq }
    val perTok = graft.ann.Ann.ivfGroupTopKBatchAdaptive(
      assignedChunks, centroids, tokBatch, perTokenT,
      numCandidates = math.max(10L * perTokenT, 100L), broadcastRowLimit,
      groupIdOf = ChunkIvfIndex.docIdOf)
    tokShortlistsToDocs(spark, perTok, toks)
  }

  /** Per-query document shortlists from the RESIDUAL-PQ codes — the
    * PLAID-compressed candidate generator behind [[searchCpq]]: per
    * token, the top-T DOCUMENTS ranked by their best probed chunk's
    * APPROXIMATE ADC score decoded from codes alone
    * ([[ChunkPqIndex.adcGroupTopK]] — the candidate scan never reads a
    * float vector), then the per-query union. Probe pruning is identical
    * to the raw chunk-IVF route (same quantizer, same adaptive window).
    * Returns (query_idx, doc_id) distinct.
    */
  def cpqCandidates(
      spark: SparkSession,
      codes: DataFrame,
      centroids: DataFrame,
      cb: graft.ann.Pq.Codebooks,
      toks: Seq[(Int, Int, Array[Float])],
      perTokenT: Int,
      broadcastRowLimit: Long = graft.ann.GraphSearch.DefaultBroadcastRowLimit): DataFrame = {
    val tokBatch = toks.zipWithIndex.map { case ((_, _, v), key) => key -> v.toSeq }
    val perTok = ChunkPqIndex.adcGroupTopK(
      codes, centroids, cb, tokBatch, perTokenT,
      numCandidates = math.max(10L * perTokenT, 100L), broadcastRowLimit,
      groupIdOf = ChunkIvfIndex.docIdOf)
    tokShortlistsToDocs(spark, perTok, toks)
  }

  /** Residual-PQ maxsim serving — the PLAID storage shape
    * ([[ChunkPqIndex]]): candidate generation probes the same clusters
    * as the chunk-IVF route but READS ONLY CODES (m small ints per
    * chunk instead of the full float vector — the order-of-magnitude
    * candidate-scan I/O cut that makes token-level indexes storable at
    * 100 TB), scoring each probed chunk with the code-decoded
    * approximate dot; the exact maxsim rescore over the shortlist is
    * the route's only embedding read (raw chunk rows, bucket-pruned),
    * identical to every sibling route.
    */
  def searchCpq(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      embedder: Embedder,
      queries: Seq[(Int, String)],
      k: Int,
      perTokenT: Int = 25,
      maxQueryTokens: Int = 16,
      broadcastRowLimit: Long = graft.ann.GraphSearch.DefaultBroadcastRowLimit,
      allowedDocs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val (toks, chunkVecs) = embedQueryTokens(
      spark, catalog, entry, embedder, queries, maxQueryTokens)
    if (toks.isEmpty) return emptyResult(chunkVecs)
    val qdf = toks.toDF("query_idx", "tok_idx", "vec")
    val cb = ChunkPqIndex.loadCodebooks(spark, catalog, entry)
      .getOrElse(throw new graft.model.GraftException(
        graft.model.ErrorCodes.AnnIndexNotFound))
    // filtered serving: restrict the coded rows before candidate ranking
    // (key split recovers the doc id), so per-token top-T docs and the
    // probe pool fill from the sub-corpus — the same pushdown shape as
    // the chunk-IVF route
    val codes = ChunkPqIndex.load(spark, catalog, entry)
    val codesIn = allowedDocs.fold(codes)(a =>
      codes.withColumn("__doc", ChunkIvfIndex.docIdOf(col("id")))
        .join(a.select(col("doc_id").as("__doc")), Seq("__doc"), "left_semi")
        .drop("__doc"))
    val cand = cpqCandidates(spark, codesIn,
      ChunkIvfIndex.quantizer(spark, catalog, entry), cb,
      toks, perTokenT, broadcastRowLimit)
    MaxSim.topK(chunkVecs, qdf, k, candidates = Some(cand), broadcastRowLimit)
      .select(col("query_idx"), col("doc_id").as("id"), col("score"))
  }

  /** Map per-token shortlists (query_idx = composite token key) back to
    * their queries and union per query. The key map is bounded by
    * queries × maxQueryTokens — tiny and broadcast.
    */
  private def tokShortlistsToDocs(
      spark: SparkSession,
      perTok: DataFrame,
      toks: Seq[(Int, Int, Array[Float])]): DataFrame = {
    import spark.implicits._
    val keyToQuery = toks.zipWithIndex
      .map { case ((qIdx, _, _), key) => (key, qIdx) }
      .toDF("tok_key", "query_idx")
    perTok.withColumnRenamed("query_idx", "tok_key")
      .join(broadcast(keyToQuery), "tok_key")
      .select(col("query_idx"), col("id").as("doc_id")).distinct()
  }

  /** Chunk-level-IVF maxsim serving — the PLAID candidate route
    * ([[ChunkIvfIndex]]): per-token shortlists probe the CHUNK vectors'
    * clusters, so candidates come from the same vectors the rescore
    * sums — multi-topic documents (whose pooled doc vector averages
    * their directions away, hiding them from the doc-level route)
    * surface through whichever chunk matches the token. Per-token top-T
    * CHUNK rows map to their documents and union per query; the exact
    * maxsim rescore is the same shortlist join as every other route.
    */
  def searchChunkIvf(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      embedder: Embedder,
      queries: Seq[(Int, String)],
      k: Int,
      perTokenT: Int = 25,
      maxQueryTokens: Int = 16,
      broadcastRowLimit: Long = graft.ann.GraphSearch.DefaultBroadcastRowLimit,
      allowedDocs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val (toks, chunkVecs) = embedQueryTokens(
      spark, catalog, entry, embedder, queries, maxQueryTokens)
    if (toks.isEmpty) return emptyResult(chunkVecs)
    val qdf = toks.toDF("query_idx", "tok_idx", "vec")
    // filtered serving: restrict the chunk-IVF rows (keyed doc#chunk —
    // the doc id recovers by key split) before candidate ranking, so
    // per-token top-T docs and the probe pool fill from the sub-corpus
    val idx = ChunkIvfIndex.load(spark, catalog, entry)
    val idxIn = allowedDocs.fold(idx)(a =>
      idx.withColumn("__doc", ChunkIvfIndex.docIdOf(col("id")))
        .join(a.select(col("doc_id").as("__doc")), Seq("__doc"), "left_semi")
        .drop("__doc"))
    val cand = chunkIvfCandidates(spark, idxIn,
      ChunkIvfIndex.quantizer(spark, catalog, entry),
      toks, perTokenT, broadcastRowLimit)
    MaxSim.topK(chunkVecs, qdf, k, candidates = Some(cand), broadcastRowLimit)
      .select(col("query_idx"), col("doc_id").as("id"), col("score"))
  }

  private def emptyResult(chunkVecs: DataFrame): DataFrame =
    chunkVecs.select(lit(0).as("query_idx"), col("doc_id").as("id"),
      lit(0.0).as("score")).limit(0)

  /** Driver-side query-token embedding shared by the serving routes:
    * tokens from the canonical tokenizer, capped at `maxQueryTokens`
    * (first occurrences win), embedded in ONE batch call FOR THE WHOLE
    * QUERY BATCH and L2-normalized to match the index rows. One model
    * call per request, not per question — a per-query embed loop would
    * be the batched routes' driver cliff at serving-batch Q (the same
    * class as the per-query plan loop QSweep prices), and embedBatch
    * embeds each text independently, so results are identical. Returns
    * ((query_idx, tok_idx, vec) triples — empty when no query yields a
    * token, chunk-vector frame).
    */
  private def embedQueryTokens(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      embedder: Embedder,
      queries: Seq[(Int, String)],
      maxQueryTokens: Int): (Seq[(Int, Int, Array[Float])], DataFrame) = {
    val perQuery: Seq[(Int, Seq[String])] = queries.map { case (qIdx, text) =>
      qIdx -> TextFunctions.TokenPattern.r.findAllIn(text.toLowerCase)
        .toSeq.take(maxQueryTokens)
    }
    val flat = perQuery.flatMap(_._2)
    val embedded =
      if (flat.isEmpty) Seq.empty[Array[Float]] else embedder.embedBatch(flat)
    val keys = perQuery.flatMap { case (qIdx, ts) =>
      ts.indices.map(i => (qIdx, i)) }
    val toks: Seq[(Int, Int, Array[Float])] =
      keys.zip(embedded).map { case ((qIdx, i), v) =>
        val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
        (qIdx, i, if (n > 0) v.map(x => (x / n).toFloat) else v)
      }
    val chunkVecs = load(spark, catalog, entry)
      .select(col("id").as("doc_id"), col("vec"))
    (toks, chunkVecs)
  }
}
