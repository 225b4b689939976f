package graft.ann

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.functions.VectorFunctions
import graft.model.CollectionEntry

/** Persistent IVF index for a collection: the documents' vectors assigned
  * to deterministic centroids and written PARTITIONED BY cluster_id.
  *
  * This is the piece that makes ANN a *storage layout* rather than custom
  * Catalyst (SURVEY §7.3): at query time the probe filter
  * `cluster_id IN (...)` becomes physical partition pruning — on a 100 TB
  * collection with K clusters, an nprobe-probe query reads ~nprobe/K of
  * the data, and `.explain` shows it in PartitionFilters.
  *
  * Centroids are the embeddings of the K smallest doc ids (deterministic,
  * reproducible across builds — SURVEY §7.4 exactness note); swapping in
  * KMeans centroids changes recall, not the machinery.
  */
object IvfIndex {

  def indexPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".ivf"

  def centroidsPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".ivf.centroids"

  /** Build (or rebuild) the index from the collection's documents table.
    *
    * Both artifacts are MATERIALIZED at build time — the assignments
    * (partitioned by cluster_id) and the centroid table itself — so a later
    * mutation of the documents table cannot silently desynchronize the
    * centroids a search probes against from the persisted assignments.
    * Returns the persisted centroid table (read back, not the lazy plan).
    */
  def build(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      nClusters: Int,
      kmeansIters: Int = 0,
      trainFraction: Double = 1.0): DataFrame = catalog.monitor {
    require(trainFraction > 0 && trainFraction <= 1,
      s"trainFraction $trainFraction out of (0,1]")
    val docs = catalog.readDocuments(entry)
      .select(col("id"), col("embedding"), col("norm"))
    // kmeansIters > 0 refines the deterministic seeds with decimal-exact
    // Lloyd iterations (Ann.kmeansCentroids) — better quantization, still
    // bit-reproducible across builds and cluster layouts.
    // trainFraction < 1 trains Lloyd on a DETERMINISTIC hash-of-id sample
    // (operators.Sampling: partitioning-independent, reproducible) — the
    // 100 TB recipe: quantizer quality needs a representative sample, not
    // every row, so training cost is bounded while ASSIGNMENT still covers
    // the full corpus (reassign below). Centroids stay bit-reproducible
    // because the sample is a pure function of ids.
    val trainSet =
      if (trainFraction >= 1.0) docs
      else graft.operators.Sampling.sample(docs, "id", trainFraction)
    val centroids =
      if (kmeansIters > 0) Ann.kmeansCentroids(trainSet, nClusters, kmeansIters)
      else trainSet
        .orderBy("id").limit(nClusters)
        .select(monotonically_increasing_id().as("centroid_id"),
          col("embedding").as("centroid"), col("norm").as("centroid_norm"))
    centroids.write.mode(SaveMode.Overwrite).parquet(centroidsPath(catalog, entry))
    reassign(spark, catalog, entry)
  }

  /** Re-derive the persisted assignments from the CURRENT documents table
    * against the EXISTING persisted centroids (the quantizer stays fixed —
    * what a production IVF does on writes; retraining is an explicit
    * rebuild). Called by [[build]] and by the write path's derived-index
    * refresh.
    */
  def reassign(
      spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DataFrame = catalog.monitor {
    val docs = catalog.readDocuments(entry)
      .select(col("id"), col("embedding"), col("norm"))
    // invalidate-first for the health sidecar: a crash between the index
    // write and the re-baseline below must read as baseline-missing
    // (governed ann_index_not_found), never as a fresh index silently
    // compared against the PREVIOUS build's distribution
    graft.catalog.PartitionedTable.deleteDir(java.nio.file.Paths.get(
      IndexHealth.ivfBaselinePath(catalog, entry)))
    Ann.assign(docs, loadCentroids(spark, catalog, entry))
      // one writer per cluster partition: without this, every input task
      // writes a file into every cluster dir it touches (tasks x clusters
      // small files); with it the layout is one file per cluster
      .repartition(col("cluster_id"))
      .write
      .partitionBy("cluster_id")
      .mode(SaveMode.Overwrite)
      .parquet(indexPath(catalog, entry))
    // every full (re)assign re-baselines the health sidecar: the probe's
    // "build-time distribution" is exactly this moment's corpus
    IndexHealth.writeBaseline(loadIndex(spark, catalog, entry),
      loadCentroids(spark, catalog, entry),
      IndexHealth.ivfBaselinePath(catalog, entry))
    loadCentroids(spark, catalog, entry)
  }

  /** The persisted centroid table of the last [[build]]. */
  def loadCentroids(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DataFrame =
    catalog.snapshot("relation", centroidsPath(catalog, entry)) {
      spark.read.parquet(centroidsPath(catalog, entry))
    }

  /** The centroid rows (centroid_id, centroid, centroid_norm) on the
    * driver, for probe ranking.
    */
  def centroidRows(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): IndexedSeq[Row] =
    catalog.snapshot("centroid rows", centroidsPath(catalog, entry)) {
      loadCentroids(spark, catalog, entry)
        .select("centroid_id", "centroid", "centroid_norm").collect().toIndexedSeq
    }

  /** Rows per cluster of the persisted assignments (the adaptive probe
    * pool sizes).
    */
  def clusterSizes(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Map[Long, Long] =
    catalog.snapshot("cluster sizes", indexPath(catalog, entry)) {
      loadIndex(spark, catalog, entry).groupBy("cluster_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

  /** Schema the assignments are read back under. Spelling it out (instead
    * of inference) pins `cluster_id` to Long: partition-column inference
    * would type the directory values as Integer, mismatching the Long
    * centroid_id domain in driver-side Map lookups (Integer != Long under
    * universal equality). A declared schema keeps the column a true
    * partition column, so probe filters still prune physically.
    */
  private val IndexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", StringType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("norm", DoubleType),
      StructField("cluster_id", LongType)))
  }

  /** The persisted assignments with `cluster_id: Long` (see [[IndexSchema]]). */
  def loadIndex(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DataFrame =
    catalog.snapshot("relation", indexPath(catalog, entry)) {
      spark.read.schema(IndexSchema).parquet(indexPath(catalog, entry))
    }

  /** Adaptive probe selection: the smallest prefix of distance-ranked
    * clusters whose cumulative size reaches `numCandidates` (the
    * oversampling floor, reference mongodb.py:277). Driver-side over the
    * tiny centroid ranking — the cluster-count domain, not the corpus.
    */
  def adaptiveProbes(
      rankedClusters: Seq[(Double, Long)], // (distance, cluster_id) ascending
      clusterSizes: Map[Long, Long],
      numCandidates: Long): Seq[Long] = {
    val probes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var pool = 0L
    rankedClusters.iterator.takeWhile(_ => pool < numCandidates).foreach {
      case (_, cid) =>
        probes += cid
        pool += clusterSizes.getOrElse(cid, 0L)
    }
    probes.toSeq
  }

  /** Approximate top-k through the index: driver-side probe selection over
    * the (tiny, persisted) centroid table, then a partition-pruned scan.
    */
  def search(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      nprobe: Int): DataFrame =
    Ann.ivfTopK(loadIndex(spark, catalog, entry),
      loadCentroids(spark, catalog, entry), queries, k, nprobe)
}
