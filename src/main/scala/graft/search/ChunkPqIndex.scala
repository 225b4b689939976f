package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Indexes.Delta
import graft.ann.Pq
import graft.catalog.Catalog
import graft.functions.VectorFunctions
import graft.model.CollectionEntry

/** Residual-PQ compression of the chunk vectors — PLAID's actual storage
  * recipe (Santhanam et al., arXiv:2205.09707 §3: every token embedding
  * is stored as its IVF centroid id plus LOW-BIT CODES of the residual,
  * because raw token vectors don't fit at token-level granularity). The
  * chunk table is the fattest artifact a late-interaction collection
  * has — one full-dimension float vector PER CHUNK, dwarfing the
  * documents table — so at 100 TB the candidate-generation copy of those
  * vectors is the scan-I/O bottleneck. This index replaces it:
  *
  *   - one row per chunk: (id = "doc#chunk", codes = m small ints,
  *     cluster_id), PARTITIONED BY the chunk's IVF cluster under the
  *     SAME quantizer the chunk-level IVF uses
  *     ([[ChunkIvfIndex.quantizer]] — own chunk-trained sidecar when
  *     present, doc centroids otherwise), so probe pruning is physical
  *     partition pruning exactly like the raw chunk-IVF route;
  *   - per-subspace codebooks trained on the RESIDUALS (chunk vector −
  *     assigned centroid; [[Pq.residualOf]]) — the IVFADC design: within
  *     a cluster residuals concentrate near 0, so the m×k codebook
  *     budget spends its resolution on a small ball (Jegou et al., PQ
  *     for nearest neighbor search) — persisted beside the codes like
  *     every quantizer in this engine (never re-derived from rows);
  *   - serving decodes APPROXIMATE maxsim candidate scores from the
  *     codes alone ([[adcGroupTopK]]): per token, approx ⟨q, chunk⟩ =
  *     ⟨q, centroid⟩ (rides the probe row) + Σ_j ⟨q_j, cw_j[code_j]⟩
  *     (m lookups in a per-token table) — the candidate scan reads ONLY
  *     (id, codes, cluster_id), never a float vector; the exact maxsim
  *     rescore then touches only the shortlisted documents' RAW chunk
  *     rows through the id-bucket-pruned [[MaxSim.topK]] shortlist join
  *     (the ONLY embedding read on the route, PLAID §3.4's final
  *     re-ranking step).
  *
  * At the engine's defaults (m=8 codes vs dim floats) the candidate
  * artifact is ~an order of magnitude smaller than the raw chunk-IVF
  * index it substitutes (ChunkIndexProbe measures the actual ratio), so
  * a collection can serve the `cpq` route WITHOUT the raw chunk-IVF
  * index at all — codes for candidates, the chunk table for rescore.
  *
  * Maintenance mirrors [[graft.ann.PqIndex]]: codebooks are FROZEN at
  * build time (retraining is an explicit [[build]]); writes re-encode
  * only the affected clusters' rows under the frozen codebooks
  * ([[graft.Indexes]] two-phase partition rebuild, O(Δ × cluster));
  * quantizer rebuilds invalidate-first and [[reencode]] re-derives every
  * code under the new centroids.
  */
object ChunkPqIndex extends graft.DerivedIndex {

  val key = "chunkpq"
  protected val suffix = ".chunkvecs.pq"
  val partCols = Seq("cluster_id")
  val sortCols = Seq("id")
  val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, codes ARRAY<INT>, cluster_id BIGINT")
  override protected val freshKeys = true
  override protected def docId: Column = ChunkIvfIndex.docIdOf(col("id"))

  override def sidecars(catalog: Catalog, entry: CollectionEntry): Seq[(String, String)] =
    ("codebooks" -> codebooksPath(catalog, entry)) +:
      ChunkIvfIndex.quantizerSidecar(catalog, entry)

  /** Re-encoded when the chunk rows or their quantizer are rebuilt. */
  override def dependsOn(catalog: Catalog, entry: CollectionEntry): Seq[graft.DerivedIndex] =
    ChunkIvfIndex +: ChunkIvfIndex.dependsOn(catalog, entry)

  override def derivable(catalog: Catalog, entry: CollectionEntry): Boolean =
    ChunkIvfIndex.quantizerExists(catalog, entry)

  override def rederive(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Unit =
    reencode(spark, catalog, entry)

  /** The chunk-IVF cluster set (one quantizer, computed once for both). */
  def affectedKeys(d: Delta): Seq[Seq[Any]] = ChunkIvfIndex.affectedKeys(d)

  /** Fresh codes under the FROZEN codebooks and current quantizer. */
  def freshRows(d: Delta): DataFrame = d.cache(encodeChunkRows(d.spark, d.catalog, d.entry,
    ChunkIndex.freshRows(d), loadCodebooks(d.spark, d.catalog, d.entry).get))

  def codebooksPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".chunkvecs.pq.codebooks"

  /** A servable index: present ([[exists]]) with a readable quantizer.
    * Any crash window between a parent rebuild and this index's re-encode
    * reads as index-absent (auto routing falls back, maintenance skips),
    * never serves codes keyed to a stale quantizer/chunking.
    */
  def usable(catalog: Catalog, entry: CollectionEntry): Boolean =
    exists(catalog, entry) && ChunkIvfIndex.quantizerExists(catalog, entry)

  /** Build (or rebuild) from the persisted chunk index: assign every
    * chunk vector under the collection's chunk quantizer
    * ([[ChunkIvfIndex.quantizer]]), train per-subspace codebooks on the
    * residuals (deterministic [[Pq.train]]; `trainFraction` bounds the
    * training scans at 100 TB — encoding always covers every row),
    * persist the codebooks, and write the codes cluster-partitioned.
    * Returns the coded row count.
    */
  def build(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 2,
      trainFraction: Double = 1.0): Long = catalog.monitor {
    require(trainFraction > 0 && trainFraction <= 1,
      s"trainFraction $trainFraction out of (0,1]")
    val dim = entry.dimension
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    // crash ordering: old codes first (absent from here on), then the new
    // codebooks — a codebook/codes pairing from two different builds can
    // never serve
    invalidate(catalog, entry)
    val cents = ChunkIvfIndex.quantizer(spark, catalog, entry)
    val residuals = residualRows(
      ChunkIvfIndex.indexRows(ChunkIndex.load(spark, catalog, entry), cents), cents)
    val train =
      if (trainFraction >= 1.0) residuals
      else graft.operators.Sampling.sample(residuals, "id", trainFraction)
    val cb = Pq.train(train.select("id", "embedding"), dim, m, k, iters)
    Pq.saveCodebooks(spark, codebooksPath(catalog, entry), cb)
    writeFull(catalog, entry, encodeAssigned(residuals, cb, dim))
    load(spark, catalog, entry).count()
  }

  /** Re-derive every code from the CURRENT chunk index under the CURRENT
    * quantizer with the EXISTING frozen codebooks — the parent-rebuild
    * hook (re-chunk, quantizer retrain), mirroring
    * [[graft.ann.PqIndex.reencode]]. No-op when no codebooks exist.
    */
  def reencode(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Unit =
    loadCodebooks(spark, catalog, entry).foreach { cb =>
      writeFull(catalog, entry, encodeChunkRows(spark, catalog, entry,
        ChunkIndex.load(spark, catalog, entry), cb))
    }

  /** Residual rows (id, embedding = vec − assigned centroid, cluster_id)
    * for assigned chunk rows (id, embedding, norm, cluster_id).
    */
  private def residualRows(assigned: DataFrame, centroids: DataFrame): DataFrame =
    Pq.residualOf(assigned,
      centroids.select(col("centroid_id").as("cluster_id"), col("centroid")))

  /** Codes (id, codes, cluster_id) for residual rows under codebooks. */
  private def encodeAssigned(residuals: DataFrame, cb: Pq.Codebooks, dim: Int): DataFrame =
    Pq.encode(residuals.select("id", "embedding"), dim, cb)
      .join(residuals.select(col("id"), col("cluster_id")), "id")

  /** Codes for chunk rows (id, chunk_idx, vec) — the row-level unit of
    * [[reencode]] (whole table) and write-path maintenance (Δ batch):
    * assign under the current quantizer, take residuals, encode under the
    * frozen codebooks.
    */
  def encodeChunkRows(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      chunkRows: DataFrame,
      cb: Pq.Codebooks): DataFrame = {
    val cents = ChunkIvfIndex.quantizer(spark, catalog, entry)
    encodeAssigned(
      residualRows(ChunkIvfIndex.indexRows(chunkRows, cents), cents),
      cb, entry.dimension)
  }

  /** The persisted codebooks, or None when never built. */
  def loadCodebooks(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry): Option[Pq.Codebooks] =
    Pq.loadCodebooks(spark, codebooksPath(catalog, entry))

  /** Per-query top-k GROUPS by approximate ADC dot product over coded
    * rows — the [[graft.ann.Ann.ivfGroupTopKBatchAdaptive]] shape with
    * the cosine score replaced by the code-decoded approximation:
    *
    *   approx⟨q, row⟩ = ⟨q, centroid(cluster)⟩ + Σ_j ⟨q_j, cw_j[code_j]⟩
    *
    * Probe selection is IDENTICAL to the raw route (adaptive cumulative-
    * size window over the broadcast centroid table, cosine distance
    * ranking) — so the two routes probe the same partitions and differ
    * only in what the probed scan READS: codes here, float vectors
    * there. The centroid term rides the probe row (cluster-count-sized);
    * the per-subspace tables are driver-built (queries × m × k doubles)
    * and broadcast-joined, so scoring is m array lookups per row inside
    * codegen — no explode, no float column. Group ids rank as STRINGS
    * (tie-break parity with the raw route).
    */
  def adcGroupTopK(
      codes: DataFrame, // (id, codes, cluster_id)
      centroids: DataFrame, // (centroid_id, centroid, centroid_norm)
      cb: Pq.Codebooks,
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      numCandidates: Long,
      broadcastRowLimit: Long = graft.ann.GraphSearch.DefaultBroadcastRowLimit,
      groupIdOf: Column => Column = identity): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    if (queries.isEmpty)
      return codes.withColumn("score", lit(0.0))
        .withColumn("query_idx", lit(0)).select("query_idx", "id", "score").limit(0)
    val m = cb.size
    val mark = graft.ann.GraphSearch.mkMark(
      queries.size.toLong * math.max(numCandidates, k.toLong) <= broadcastRowLimit)
    val qdf = mark(
      queries.toDF("query_idx", "qv")
        .withColumn("qv", col("qv").cast("array<double>"))
        .withColumn("qn", VectorFunctions.l2Norm(col("qv"))))
    val sizes = codes.groupBy(col("cluster_id").as("centroid_id"))
      .agg(count(lit(1)).as("__csize"))
    val cents = broadcast(
      centroids.select("centroid_id", "centroid", "centroid_norm")
        .join(sizes, Seq("centroid_id"), "left")
        .na.fill(0L, Seq("__csize")))
    val byQd = Window.partitionBy("query_idx")
      .orderBy(col("d").asc, col("centroid_id").asc)
    val probes = qdf.crossJoin(cents)
      .withColumn("d",
        lit(1.0) - VectorFunctions.dot(col("centroid"), col("qv")) /
          (col("centroid_norm") * col("qn")))
      // the ⟨q, centroid⟩ term of every probed row's approximate score
      // rides the (cluster-count-sized) probe frame
      .withColumn("cdot", VectorFunctions.dot(col("centroid"), col("qv")))
      .withColumn("__pool",
        coalesce(sum(col("__csize")).over(
          byQd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("__pool") < numCandidates)
      .select(col("query_idx"), col("centroid_id").as("cluster_id"), col("cdot"))
    // per-query subspace dot tables tbl[j][c] = ⟨q_j, cw_j[c]⟩ —
    // queries × m × k doubles, driver-built, broadcast
    val tables = queries.map { case (qIdx, qVec) =>
      val ds = qVec.length / m
      (qIdx, cb.zipWithIndex.map { case (words, j) =>
        words.map { w =>
          var s = 0.0; var i = 0
          while (i < ds) { s += qVec(j * ds + i).toDouble * w(i).toDouble; i += 1 }
          s
        }.toSeq
      })
    }.toDF("query_idx", "tbl")
    val scored = mark(probes)
      .join(codes, "cluster_id")
      .join(broadcast(tables), "query_idx")
      .withColumn("score",
        col("cdot") + aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (c, j) => element_at(element_at(col("tbl"), j + 1), c + 1)),
          lit(0.0), (acc, x) => acc + x))
      .groupBy(col("query_idx"), groupIdOf(col("id")).as("id"))
      .agg(max(col("score")).as("score"))
    val globalW = Window.partitionBy("query_idx")
      .orderBy(col("score").desc, col("id").asc)
    scored
      .withColumn("rn", row_number().over(globalW)).filter(col("rn") <= k)
      .select("query_idx", "id", "score")
  }
}
