package graft.ann

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Indexes.Delta
import graft.catalog.Catalog
import graft.model.CollectionEntry

/** Persistent IVF-PQ index — the reference's literal engine-side ANN claim
  * ("IVF-PQ", vector_mcp/vectordb/epistemic_graph.py:5-8) as a Spark
  * storage layout:
  *
  *   - the corpus's PQ codes (m small ints per vector, [[Pq]]) written
  *     PARTITIONED BY the vector's IVF cluster, so a probe is a
  *     physically pruned scan (PartitionFilters) that reads ONLY
  *     (id, codes) — never the float embeddings;
  *   - the per-subspace codebooks persisted next to the codes (the
  *     quantizer is part of the index, exactly like IvfIndex's centroid
  *     table and SignLshIndex's meta sidecar — never re-derived from
  *     rows, so it survives a delete that empties the collection);
  *   - serving = driver-side probe selection over the tiny centroid
  *     table, ADC over the probed partitions' codes, then exact cosine
  *     re-rank of the tiny oversampled shortlist against the documents
  *     table (the only touch of the embedding column).
  *
  * At 100 TB the arithmetic is the point: a 768-dim float corpus stores
  * 3 KiB of floats per vector but only m bytes of codes — the ADC scan
  * reads ~1/100 of the bytes, over ~nprobe/K of the partitions.
  *
  * The IVF layer reuses the collection's persisted [[IvfIndex]] centroids
  * when they exist (one quantizer for both indexes); without them the
  * codes live in a single cluster-0 partition — ADC still scans only
  * codes, there is just no partition pruning.
  */
object PqIndex extends graft.DerivedIndex {

  val key = "pq"
  protected val suffix = ".pq"
  val partCols = Seq("cluster_id")
  val sortCols = Nil
  val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, codes ARRAY<INT>, cluster_id BIGINT")

  override def sidecars(catalog: Catalog, entry: CollectionEntry): Seq[(String, String)] =
    Seq("codebooks" -> codebooksPath(catalog, entry))

  /** Re-encoded whenever the IVF quantizer it partitions on is rebuilt. */
  override def dependsOn(catalog: Catalog, entry: CollectionEntry): Seq[graft.DerivedIndex] =
    Seq(IvfIndex)

  override def rederive(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Unit =
    reencode(spark, catalog, entry)

  /** The IVF cluster set (computed once for both indexes); without
    * centroids every code lives in the single cluster-0 partition.
    */
  def affectedKeys(d: Delta): Seq[Seq[Any]] =
    if (hasCentroids(d.catalog, d.entry)) IvfIndex.affectedKeys(d) else Seq(Seq(0L))

  def freshRows(d: Delta): DataFrame =
    encodeRows(d.spark, d.catalog, d.entry, d.fresh,
      loadCodebooks(d.spark, d.catalog, d.entry).get)

  def codebooksPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".pq.codebooks"

  def metaPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".pq.meta"

  private def hasCentroids(catalog: Catalog, entry: CollectionEntry): Boolean =
    Files.exists(Paths.get(IvfIndex.centroidsPath(catalog, entry)))

  final case class PqMeta(residual: Boolean)

  /** Whether the persisted codes are RESIDUAL-encoded (quantized
    * embedding - centroid, the IVFADC design) — part of the index's
    * identity like the codebooks themselves: decoding/serving must use
    * the same convention the build used. Indexes without a meta sidecar
    * predate residual support and are raw-encoded.
    */
  def isResidual(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Boolean =
    graft.Indexes.readMeta[PqMeta](spark, metaPath(catalog, entry)).exists(_.residual)

  /** Build (or rebuild) the index from the collection's documents table:
    * train codebooks (deterministic, [[Pq.train]]), persist them, encode
    * every vector, and write the codes cluster-partitioned. The old codes
    * are invalidated first, so codebooks and codes of two different
    * builds never serve together.
    */
  def build(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      dim: Int,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      residual: Boolean = false,
      trainFraction: Double = 1.0): Unit = catalog.monitor {
    require(trainFraction > 0 && trainFraction <= 1,
      s"trainFraction $trainFraction out of (0,1]")
    invalidate(catalog, entry)
    val docs = catalog.readDocuments(entry)
      .select(col("id"), col("embedding"), col("norm"))
    // codebooks, like the IVF quantizer, need a REPRESENTATIVE sample,
    // not every row: trainFraction < 1 bounds the per-iteration training
    // scans with the deterministic hash-of-id gate (IvfIndex.build has the
    // same knob and rationale); ENCODING below always covers the corpus
    val trainDocs =
      if (trainFraction >= 1.0) docs
      else graft.operators.Sampling.sample(docs, "id", trainFraction)
    // residual encoding needs an IVF quantizer to take residuals AGAINST;
    // without centroids it degenerates to raw encoding, so record raw
    val doResidual = residual && hasCentroids(catalog, entry)
    val trainRows =
      if (!doResidual) trainDocs.select("id", "embedding")
      else {
        val cents = IvfIndex.loadCentroids(spark, catalog, entry)
        Pq.residualOf(
          Ann.assign(trainDocs, cents),
          cents.select(col("centroid_id").as("cluster_id"), col("centroid")))
          .select("id", "embedding")
      }
    val cb = Pq.train(trainRows, dim, m, k, iters)
    Pq.saveCodebooks(spark, codebooksPath(catalog, entry), cb)
    graft.Indexes.writeMeta(spark, metaPath(catalog, entry), PqMeta(doResidual))
    writeFull(catalog, entry, encodeRows(spark, catalog, entry, docs, cb))
  }

  /** PQ-encode a set of rows (id, embedding, norm) and attach their IVF
    * cluster — the row-level unit [[build]] (whole table) and the write
    * path's incremental partition refresh (Δ batch only) share. Honors
    * the index's persisted encoding convention: residual indexes encode
    * (embedding - assigned centroid) under the SAME quantizer every
    * earlier row used.
    */
  def encodeRows(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      rows: DataFrame,
      cb: Pq.Codebooks): DataFrame = {
    val dim = cb.size * cb.head.head.length
    if (!hasCentroids(catalog, entry))
      return Pq.encode(rows.select("id", "embedding"), dim, cb)
        .withColumn("cluster_id", lit(0L))
    val cents = IvfIndex.loadCentroids(spark, catalog, entry)
    val assigned = Ann.assign(rows.select("id", "embedding", "norm"), cents)
    if (isResidual(spark, catalog, entry)) {
      val residuals = Pq.residualOf(assigned,
        cents.select(col("centroid_id").as("cluster_id"), col("centroid")))
      Pq.encode(residuals.select("id", "embedding"), dim, cb)
        .join(residuals.select(col("id"), col("cluster_id")), "id")
    } else {
      Pq.encode(rows.select("id", "embedding"), dim, cb)
        .join(assigned.select(col("id"), col("cluster_id")), "id")
    }
  }

  /** Re-derive the persisted codes from the CURRENT documents table under
    * the EXISTING persisted codebooks (the quantizer stays fixed, exactly
    * like [[IvfIndex.reassign]]; retraining is an explicit [[build]]).
    */
  def reencode(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Unit =
    loadCodebooks(spark, catalog, entry).foreach { cb =>
      writeFull(catalog, entry, encodeRows(spark, catalog, entry,
        catalog.readDocuments(entry).select(col("id"), col("embedding"), col("norm")), cb))
    }

  /** The persisted codebooks, or None when no PQ index was ever built. */
  def loadCodebooks(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry): Option[Pq.Codebooks] =
    Pq.loadCodebooks(spark, codebooksPath(catalog, entry))

  /** Approximate top-k through the persisted index: driver-side probe
    * selection (adaptive, numCandidates oversampling floor — reference
    * mongodb.py:277) over the centroid table, ADC over the probed
    * partitions' codes, exact cosine re-rank of the shortlist against
    * `vectors` (the documents table — the only embedding read).
    */
  def search(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      vectors: DataFrame, // (id, embedding, norm)
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      numCandidates: Long,
      oversample: Int = 4): DataFrame = {
    val index = load(spark, catalog, entry)
    val cb = loadCodebooks(spark, catalog, entry).getOrElse(
      throw new graft.model.GraftException(graft.model.ErrorCodes.AnnIndexNotFound))
    val hasCentroids = this.hasCentroids(catalog, entry)
    val centroidRows =
      if (!hasCentroids) Array.empty[org.apache.spark.sql.Row]
      else IvfIndex.loadCentroids(spark, catalog, entry)
        .select("centroid_id", "centroid", "centroid_norm").collect()
    val (pruned, probedIds) =
      if (!hasCentroids) (index, Seq.empty[Long])
      else {
        val clusterSizes = index.groupBy("cluster_id").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val probes = queries.flatMap { case (_, qVec) =>
          val qNorm = math.sqrt(qVec.map(v => v.toDouble * v.toDouble).sum)
          val ranked = centroidRows.map { r =>
            val c = r.getSeq[Float](1)
            val dot = c.zip(qVec).map { case (x, y) => x.toDouble * y.toDouble }.sum
            (1.0 - dot / (r.getDouble(2) * qNorm), r.getLong(0))
          }.sortBy(identity)
          IvfIndex.adaptiveProbes(ranked.toSeq, clusterSizes, numCandidates)
        }.distinct
        (index.filter(col("cluster_id").isin(probes: _*)), probes)
      }
    if (isResidual(spark, catalog, entry)) {
      // residual codes are meaningless without the centroids they were
      // taken against — a missing quantizer is a governed error, not an
      // empty result
      if (!hasCentroids)
        throw new graft.model.GraftException(graft.model.ErrorCodes.AnnIndexNotFound)
      // per-(query, probed-cluster) ADC tables against the SAME centroids
      // the codes were residual-encoded with
      val centroidMap = centroidRows
        .filter(r => probedIds.contains(r.getLong(0)))
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      Pq.searchAdcRerankClustered(pruned.select("id", "codes", "cluster_id"),
        vectors, cb, centroidMap, queries, k, oversample)
    } else
      Pq.searchAdcRerank(pruned.select("id", "codes"), vectors, cb, queries, k, oversample)
  }
}
