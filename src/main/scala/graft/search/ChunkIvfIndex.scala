package graft.search

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Indexes.Delta
import graft.catalog.Catalog
import graft.functions.VectorFunctions
import graft.model.CollectionEntry

/** Chunk-level IVF — the PLAID-shape candidate index for late-interaction
  * serving (Santhanam et al., "PLAID: An Efficient Engine for Late
  * Interaction Retrieval", arXiv:2205.09707: ColBERTv2 serving routes
  * candidate generation through an IVF over the TOKEN/chunk embeddings
  * themselves). Every chunk vector of the persisted [[ChunkIndex]] is
  * assigned to a quantizer and stored PARTITIONED BY cluster, so
  * per-token candidate generation probes the nearest clusters and scans
  * only those partitions' chunk rows.
  *
  * Two quantizer sources, chosen at build time:
  *   - doc-aligned (default): the collection's doc-level IVF centroids
  *     (ONE quantizer for the whole collection — the same centroid table
  *     the doc-level index and PQ codes key on; simplest maintenance
  *     invariant, but doc-vector centroids can quantize multi-topic
  *     chunk vectors poorly);
  *   - chunk-trained ([[buildChunkTrained]], `Api.buildChunkIvfIndex
  *     (trainOn = "chunks")`): k-means over the CHUNK vectors themselves
  *     — PLAID's actual recipe (arXiv:2205.09707 trains the IVF on the
  *     token embeddings it serves) — persisted in this index's OWN
  *     centroid sidecar ([[centroidsPath]]). A chunk-trained index is
  *     independent of the doc-level quantizer: rebuilding the doc IVF
  *     neither invalidates nor re-assigns it, and serving/maintenance
  *     read [[quantizer]] (own sidecar when present, doc centroids
  *     otherwise) so both layouts flow through identical machinery.
  *
  * Why this exists next to the doc-level route
  * ([[ChunkIndex.searchAnn]]): a pooled document vector AVERAGES a
  * multi-topic document's directions away — the exact failure mode
  * maxsim is built to fix — so doc-level candidates systematically miss
  * the documents where maxsim most disagrees with single-vector scoring.
  * Chunk-level candidates come from the SAME vectors the rescore sums,
  * so the only recall loss is IVF quantization (`q_search_maxsim_civf`
  * grades it against exact truth alongside the doc-level route's
  * `q_search_maxsim_ann`).
  *
  * Row layout: (id = "<doc_id>#<chunk_idx>", embedding = the normalized
  * chunk vector, norm, cluster_id), partitioned by cluster_id — exactly
  * the frame shape [[graft.ann.Ann.ivfTopKBatchAdaptive]] serves from,
  * with the doc id recoverable by splitting the row key (document ids
  * are uuid-hex, '#'-free by construction). Maintenance is the standard
  * two-phase partition rebuild ([[graft.Indexes]]): a write touching Δ
  * documents rewrites only the clusters their old and new chunk vectors
  * inhabit — O(Δ × cluster) work at any corpus size. Rebuilding the chunk
  * index, or the doc-level IVF of a doc-aligned index (new centroids),
  * re-derives this index too ([[graft.Indexes.rebuildWithDependents]]),
  * keeping the one-quantizer invariant.
  */
object ChunkIvfIndex extends graft.DerivedIndex {

  val key = "chunkivf"
  protected val suffix = ".chunkvecs.ivf"
  val partCols = Seq("cluster_id")
  val sortCols = Seq("id")
  val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, embedding ARRAY<FLOAT>, norm DOUBLE, cluster_id BIGINT")
  override protected val freshKeys = true
  override protected def docId: org.apache.spark.sql.Column = docIdOf(col("id"))

  override def sidecars(catalog: Catalog, entry: CollectionEntry): Seq[(String, String)] =
    quantizerSidecar(catalog, entry)

  /** The chunk index, and the quantizer unless it is the own sidecar. */
  private[search] def quantizerSidecar(catalog: Catalog, entry: CollectionEntry) =
    Seq("chunk index" -> Paths.get(ChunkIndex.indexPath(catalog, entry), "_SUCCESS").toString) ++
      (if (hasOwnCentroids(catalog, entry)) Nil
       else Seq("IVF centroids" -> graft.ann.IvfIndex.centroidsPath(catalog, entry)))

  override def dependsOn(catalog: Catalog, entry: CollectionEntry): Seq[graft.DerivedIndex] =
    ChunkIndex +: (if (hasOwnCentroids(catalog, entry)) Nil else Seq(graft.ann.IvfIndex))

  override def derivable(catalog: Catalog, entry: CollectionEntry): Boolean =
    quantizerExists(catalog, entry)

  override def rederive(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Unit =
    build(spark, catalog, entry)

  /** The clusters of the changed ids' STORED chunk rows under the current
    * quantizer (a bucket-pruned chunk-index read, never a full scan) —
    * shared with the chunk-PQ codes, which partition on the same
    * quantizer. The fresh batch's clusters join at apply time.
    */
  def affectedKeys(d: Delta): Seq[Seq[Any]] = d.shared("chunk clusters") {
    val buckets = ChunkIndex.affectedKeys(d)
    if (buckets.isEmpty) Nil
    else graft.Indexes.keysOf(indexRows(
      ChunkIndex.load(d.spark, d.catalog, d.entry)
        .filter(graft.Indexes.inPartitions(ChunkIndex.partCols, buckets))
        .join(d.ids, Seq("id"), "left_semi"),
      quantizer(d.spark, d.catalog, d.entry)), partCols)
  }

  def freshRows(d: Delta): DataFrame = d.shared("chunk ivf rows") {
    d.cache(indexRows(ChunkIndex.freshRows(d), quantizer(d.spark, d.catalog, d.entry)))
  }

  /** The OWN centroid sidecar of a chunk-trained index ([[buildChunkTrained]]);
    * absent for doc-aligned indexes. Shares the table-path prefix, so
    * collection deletion's prefix sweep takes it with everything else.
    */
  def centroidsPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".chunkvecs.ivf.centroids"

  /** Chunk-trained quantizer present (dir + its write job's _SUCCESS). */
  def hasOwnCentroids(catalog: Catalog, entry: CollectionEntry): Boolean =
    Files.exists(Paths.get(centroidsPath(catalog, entry))) &&
      Files.exists(Paths.get(centroidsPath(catalog, entry), "_SUCCESS"))

  /** SOME quantizer is readable for this index: its own chunk-trained
    * sidecar, or the collection's doc-level IVF centroids.
    */
  def quantizerExists(catalog: Catalog, entry: CollectionEntry): Boolean =
    hasOwnCentroids(catalog, entry) ||
      Files.exists(Paths.get(graft.ann.IvfIndex.centroidsPath(catalog, entry)))

  /** The centroid table this index keys its partitions on: the own
    * chunk-trained sidecar when present, the doc-level IVF centroids
    * otherwise. Serving and write-path maintenance BOTH resolve through
    * here, so the two can never disagree on the quantizer.
    */
  def quantizer(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DataFrame =
    if (hasOwnCentroids(catalog, entry))
      spark.read.parquet(centroidsPath(catalog, entry))
    else graft.ann.IvfIndex.loadCentroids(spark, catalog, entry)

  /** Index rows for chunk-index rows (id, chunk_idx, vec):
    * (id = doc#chunk, doc-recoverable, embedding, norm, cluster_id).
    */
  def indexRows(chunkRows: DataFrame, centroids: DataFrame): DataFrame =
    graft.ann.Ann.assign(
      chunkRows.select(
        concat(col("id"), lit("#"), col("chunk_idx")).as("id"),
        col("vec").as("embedding"))
        .withColumn("norm", VectorFunctions.l2Norm(col("embedding"))),
      centroids)

  /** Build (or rebuild) from the persisted chunk index, PRESERVING the
    * current quantizer source ([[quantizer]]) — the re-derive entry the
    * parent rebuilds (re-chunk, doc-quantizer rebuild) call.
    */
  def build(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DataFrame =
    writeAssigned(spark, catalog, entry, quantizer(spark, catalog, entry))

  /** Build doc-ALIGNED: key the index on the collection's doc-level IVF
    * centroids and DROP any chunk-trained sidecar (the explicit switch
    * back from a chunk-trained layout). Crash ordering: index dir first
    * (every window reads index-absent), then the sidecar — a crash
    * between the two leaves an orphaned sidecar and no index, which the
    * next build simply resolves through [[quantizer]].
    */
  def buildDocAligned(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DataFrame =
    catalog.monitor {
      invalidate(catalog, entry)
      graft.catalog.PartitionedTable.deleteDir(Paths.get(centroidsPath(catalog, entry)))
      writeAssigned(spark, catalog, entry,
        graft.ann.IvfIndex.loadCentroids(spark, catalog, entry))
    }

  /** Build with a quantizer TRAINED ON THE CHUNK VECTORS themselves —
    * the PLAID recipe (arXiv:2205.09707): deterministic decimal-exact
    * Lloyd ([[graft.ann.Ann.kmeansCentroids]]) over the persisted chunk
    * rows (optionally a deterministic hash-of-key `trainFraction`
    * sample — the 100 TB training bound; ASSIGNMENT always covers every
    * chunk row). The centroids land in this index's own sidecar; from
    * then on the quantizer is FROZEN across writes and doc-IVF rebuilds
    * (what a production IVF does — retraining is an explicit rebuild
    * through here). Crash ordering: index dir is dropped first, so every
    * window below reads index-absent; an orphaned new-centroid sidecar
    * (crash between the centroid and index writes) is a valid trained
    * quantizer the next [[build]] picks up. `nClusters` >= 0 and
    * `trainFraction` in (0,1] are checked by
    * [[graft.Api.buildChunkIvfIndex]] before any dependent is invalidated.
    */
  def buildChunkTrained(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      nClusters: Int,
      kmeansIters: Int = 2,
      trainFraction: Double = 1.0): DataFrame = catalog.monitor {
    invalidate(catalog, entry)
    val chunks = ChunkIndex.load(spark, catalog, entry).select(
        concat(col("id"), lit("#"), col("chunk_idx")).as("id"),
        col("vec").as("embedding"))
      .withColumn("norm", VectorFunctions.l2Norm(col("embedding")))
    // nClusters = 0 sizes the quantizer to the corpus: ~sqrt(N) partitions
    // (the standard IVF sizing guidance, and the shape PLAID's ColBERTv2
    // index uses) with a floor of 16 — a parquet-metadata count, no scan
    val k =
      if (nClusters > 0) nClusters
      else math.max(16, math.ceil(math.sqrt(chunks.count().toDouble)).toInt)
    val train =
      if (trainFraction >= 1.0) chunks
      else graft.operators.Sampling.sample(chunks, "id", trainFraction)
    val cents = graft.ann.Ann.kmeansCentroids(train, k, kmeansIters)
    graft.catalog.PartitionedTable.deleteDir(
      Paths.get(centroidsPath(catalog, entry)))
    cents.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(centroidsPath(catalog, entry))
    writeAssigned(spark, catalog, entry,
      spark.read.parquet(centroidsPath(catalog, entry)))
  }

  private def writeAssigned(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      centroids: DataFrame): DataFrame = catalog.monitor {
    invalidate(catalog, entry)
    // invalidate-first: drop the PREVIOUS build's health baseline before
    // the index lands, so a crash between the index write and the fresh
    // baseline below reads as baseline-missing (governed
    // ann_index_not_found from Api.indexHealth) — never as a valid new
    // index silently compared against the prior build's distribution
    graft.catalog.PartitionedTable.deleteDir(Paths.get(
      graft.ann.IndexHealth.chunkIvfBaselinePath(catalog, entry)))
    writeFull(catalog, entry, indexRows(ChunkIndex.load(spark, catalog, entry), centroids))
    // every full (re)build re-baselines the drift probe's sidecar
    graft.ann.IndexHealth.writeBaseline(load(spark, catalog, entry), centroids,
      graft.ann.IndexHealth.chunkIvfBaselinePath(catalog, entry))
    load(spark, catalog, entry)
  }

  /** The doc id a chunk-row key belongs to. */
  def docIdOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring_index(id, "#", 1)
}
