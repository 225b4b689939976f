package graft.ann

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.catalog.{Catalog, PartitionedTable}
import graft.functions.VectorFunctions
import graft.model.CollectionEntry

/** Persistent kNN-graph index — the adjacency table [[GraphSearch]] serves
  * beam-search queries from, stored id-hash-bucket-partitioned like every
  * other derived index (README "persistent indexes are write-consistent
  * and INCREMENTALLY maintained").
  *
  * Unlike the rest of the index family, graph edges are NOT row-local: a
  * node's adjacency depends on every other row, so this index overrides
  * the registry's partition rebuild ([[graft.DerivedIndex.maintain]]) and
  * maintains itself EXACTLY with one Δ×corpus scoring pass per write:
  *
  *  - [[upsert]]: (1) the batch's own top-k comes from scoring batch ×
  *    corpus (one corpus scan, batch broadcast); (2) an EXISTING node's
  *    top-k can only change by admitting a batch vector, and cosine is
  *    symmetric — so the same scored pass, read in the other direction,
  *    finds every affected node (its current k-th score < its best batch
  *    score) and the merge of (current edges ∪ batch candidates) re-ranked
  *    to k is bit-identical to a full rebuild. O(|batch| × corpus) dots,
  *    bucket-pruned rewrites.
  *  - [[delete]]: removal only shrinks candidate sets, so the only nodes
  *    whose lists change are those that LOST an edge; they recompute
  *    against the surviving corpus (affected × corpus), everyone else's
  *    rows are untouched. Affected discovery reads the REVERSE-adjacency
  *    sidecar pruned to the deleted ids' neighbor buckets — O(edges
  *    pointing at the batch), never an index scan (legacy indexes without
  *    the sidecar fall back to the narrow forward scan). The recompute's
  *    affected-vector frame is broadcast only below
  *    [[AffectedBroadcastMaxRows]]; a hub-node delete (thousands of
  *    in-edges) instead runs the partitioned cross product — same result,
  *    no driver-sized broadcast.
  *
  * Alongside the adjacency, build() persists SERVING state:
  *  - `.knng.rev`: the reverse adjacency (same rows, partitioned by the
  *    NEIGHBOR's hash bucket — LexIndex's term-bucket trade applied to
  *    in-edges), maintained incrementally with the forward table.
  *  - `.knng.cents` + `.knng.medoids`: deterministic k-means centroids and
  *    the per-cluster medoid (the member nearest its centroid) — the
  *    graph's ENTRY POINTS. [[search]] routes each query to its best
  *    `entries` medoids and beam-walks from there (the two-layer
  *    HNSW/DiskANN shape with the quantizer as the upper layer), all from
  *    persisted state. A delete that kills a medoid repairs those
  *    clusters from the stored centroids; upserts leave medoids in place
  *    (entry points are routing QUALITY state — any graph node is a valid
  *    entry — and the next build()/refresh re-optimizes them).
  *
  * Both write paths are proven row-identical to `build` by GraphIndexSpec
  * (including a hub-node delete past the broadcast gate). Graph
  * construction here is the exact [[Ann.knnJoin]]; NN-descent or
  * blocked-kNN drop in for approximate builds at corpus scale — the
  * maintenance algebra above only needs "top-k among candidates" and is
  * exact relative to whichever graph it maintains.
  */
object GraphIndex extends graft.DerivedIndex {

  val key = "graph"
  override val compactKey = None
  protected val suffix = ".knng"
  val partCols = Seq("bucket")
  val sortCols = Seq("qid", "rank")
  val schema = StructType.fromDDL("qid STRING, neighbor STRING, rank INT, score DOUBLE, bucket INT")
  private val ReverseSchema = StructType.fromDDL("qid STRING, neighbor STRING, bucket INT")

  override def sidecars(catalog: Catalog, entry: CollectionEntry): Seq[(String, String)] =
    Seq("meta" -> metaPath(catalog, entry))

  /** Unused: [[maintain]] finds its own touched buckets. */
  def affectedKeys(d: graft.Indexes.Delta): Seq[Seq[Any]] = Nil

  def freshRows(d: graft.Indexes.Delta): DataFrame = d.fresh.select("id")

  /** The write's changed ids that no longer exist were deleted; the rest
    * are the upserted batch. Delete FIRST: its affected recomputes see the
    * post-write corpus, and upsert dedupes any already-admitted edge.
    *
    * Content-addressed ids USUALLY make an update old-id-gone +
    * new-id-fresh, but addDocuments accepts caller-PINNED embeddings
    * (Embed.withEmbeddings fills only nulls): re-upserting identical
    * content with a different embedding keeps the id, and upsert alone
    * would leave other nodes' stale edges scoring the OLD vector. Any
    * present id already in the graph therefore goes through delete first —
    * its in-edges recompute against the post-write corpus (which holds the
    * new vector), restoring the row-identical-to-rebuild invariant; for an
    * unchanged re-upsert the recompute is redundant but exact, and the cost
    * stays batch-bounded.
    */
  override def maintain(d: graft.Indexes.Delta, staged: Seq[Seq[Any]]): Unit = {
    import d.spark.implicits._
    val gm = loadMeta(d.spark, d.catalog, d.entry).get
    val current = d.catalog.readDocuments(d.entry).select("id")
    val goneIds = d.ids.join(current, Seq("id"), "left_anti").as[String].collect().toSeq
    val presentIds = d.ids.join(current, Seq("id"), "left_semi").as[String].collect().toSeq
    val preExisting =
      if (presentIds.isEmpty) Seq.empty[String]
      else load(d.spark, d.catalog, d.entry).select("qid").distinct()
        .join(broadcast(presentIds.toDF("qid")), Seq("qid"), "left_semi")
        .as[String].collect().toSeq
    delete(d.spark, d.catalog, d.entry, goneIds ++ preExisting, gm.k, gm.buckets)
    upsert(d.spark, d.catalog, d.entry, presentIds, gm.k, gm.buckets)
  }

  def metaPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".knng.meta"

  def reversePath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".knng.rev"

  def centroidsPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".knng.cents"

  def medoidsPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".knng.medoids"

  /** (k, buckets) persist in a sidecar at build time — index parameters
    * are index STATE, never derived from rows (a delete that empties the
    * collection must not forget them; same rule as SignLshIndex).
    */
  final case class GraphMeta(k: Int, buckets: Int)

  def loadMeta(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Option[GraphMeta] =
    graft.Indexes.readMeta[GraphMeta](spark, metaPath(catalog, entry))

  val DefaultBuckets = 64

  /** Entry-point clusters persisted at build time. Small constant: the
    * medoid table is the broadcast side of every query's routing step.
    */
  val MedoidClusters = 16

  /** Above this many affected nodes, delete's recompute stops
    * broadcasting the affected-vector frame and runs the partitioned
    * cross product instead: the work is |affected| × corpus dots either
    * way, but a hub-node delete must not stage thousands of embedding
    * rows through the driver.
    */
  val AffectedBroadcastMaxRows = 4096L

  private def bucketOf(id: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(id.cast("string")), lit(buckets.toLong)).cast("int")

  private def vectorsOf(catalog: Catalog, entry: CollectionEntry): DataFrame =
    catalog.readDocuments(entry).select(col("id"), col("embedding"), col("norm"))

  private def idFrame(spark: SparkSession, ids: Seq[String], name: String): DataFrame = {
    import spark.implicits._
    ids.toDF(name)
  }

  /** Build (or rebuild) the full adjacency: exact k-NN per node, written
    * partitioned by the qid's hash bucket; plus the meta sidecar, the
    * reverse sidecar and the entry-point centroid/medoid sidecars. The
    * index is invalidated and the old reverse sidecar dropped first, so no
    * crash window pairs the new adjacency with the old reverse edges.
    */
  def build(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      k: Int,
      buckets: Int = DefaultBuckets): Unit = catalog.monitor {
    invalidate(catalog, entry)
    PartitionedTable.deleteDir(java.nio.file.Paths.get(reversePath(catalog, entry)))
    graft.Indexes.writeMeta(spark, metaPath(catalog, entry), GraphMeta(k, buckets))
    writeFull(catalog, entry, Ann.knnJoin(vectorsOf(catalog, entry), k)
      .withColumn("bucket", bucketOf(col("qid"), buckets)))
    // reverse sidecar from the freshly written forward table (narrow read;
    // re-deriving it would run the n² knnJoin twice)
    PartitionedTable.write(load(spark, catalog, entry)
      .select(col("qid"), col("neighbor"), bucketOf(col("neighbor"), buckets).as("bucket")),
      reversePath(catalog, entry), partCols, Seq("neighbor"))
    buildEntryPoints(spark, catalog, entry)
  }

  /** Deterministic entry points: decimal-exact k-means centroids (tiny,
    * persisted for medoid repair) and per-cluster medoids — the cluster
    * member with the highest cosine to its centroid, ties to the smaller
    * id. The medoid table is what [[search]] routes queries through.
    */
  private def buildEntryPoints(
      spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Unit = {
    val vecs = vectorsOf(catalog, entry)
    val cents = Ann.kmeansCentroids(vecs, MedoidClusters, iters = 2)
    cents.write.mode(SaveMode.Overwrite).parquet(centroidsPath(catalog, entry))
    medoidsOf(vecs, cents)
      .write.mode(SaveMode.Overwrite).parquet(medoidsPath(catalog, entry))
  }

  /** Per-cluster medoid of `vectors` under `centroids`: one partial-agg
    * pass (min over (-cosine, id) structs — no corpus-wide window).
    */
  def medoidsOf(vectors: DataFrame, centroids: DataFrame): DataFrame =
    Ann.assign(vectors, centroids)
      .join(broadcast(centroids), col("cluster_id") === col("centroid_id"))
      .withColumn("sc",
        VectorFunctions.dot(col("embedding"), col("centroid")) /
          (col("norm") * col("centroid_norm")))
      .groupBy("cluster_id")
      .agg(min(struct((-col("sc")).as("nsc"), col("id").as("id"))).as("m"))
      .select(col("cluster_id"), col("m.id").as("id"))

  def loadReverse(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Option[DataFrame] =
    if (!pathExists(reversePath(catalog, entry))) None
    else Some(spark.read.schema(ReverseSchema).parquet(reversePath(catalog, entry)))

  def loadMedoids(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Option[DataFrame] =
    if (!pathExists(medoidsPath(catalog, entry))) None
    else Some(spark.read.parquet(medoidsPath(catalog, entry)))

  private def pathExists(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  /** Beam-search the persisted graph (see [[GraphSearch.beamSearch]]).
    * With the medoid sidecar present (every post-r8 build), each query
    * enters at its `entries` nearest PERSISTED medoids; legacy indexes
    * fall back to the smallest-id entries.
    */
  def search(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      queries: Seq[(Int, Seq[Float])],
      entries: Int = 4,
      beam: Int = 8,
      hops: Int = 3,
      k: Int = 5,
      broadcastRowLimit: Long = GraphSearch.DefaultBroadcastRowLimit): DataFrame = {
    val graph = load(spark, catalog, entry).select("qid", "neighbor")
    val vecs = vectorsOf(catalog, entry)
    loadMedoids(spark, catalog, entry) match {
      case Some(med) =>
        val entryPoints = GraphSearch.routeEntries(
          vecs, med.select("id"), queries, entries, broadcastRowLimit)
        GraphSearch.beamSearchWithEntries(graph, vecs, queries, entryPoints,
          beam, hops, k, broadcastRowLimit)
      case None =>
        GraphSearch.beamSearch(graph, vecs, queries, entries, beam, hops, k,
          broadcastRowLimit)
    }
  }

  /** Filtered beam search over the persisted graph: top-k among the
    * walk's visited set that satisfies `pred` (see
    * [[GraphSearch.beamSearchFiltered]] for why the WALK stays
    * unfiltered). The beam is floored so the visited-candidate budget —
    * roughly entries + hops × beam × (degree + 1) nodes — stays at or
    * above the reference's post-filter oversample
    * `numCandidates = max(10·k, 100)`
    * (vector_mcp/vectordb/mongodb.py:277): a caller asking for a small
    * beam with a selective predicate would otherwise answer top-k from a
    * candidate pool smaller than the reference guarantees. Degree comes
    * from the persisted meta sidecar — index state, never re-derived.
    */
  def searchFiltered(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      queries: Seq[(Int, Seq[Float])],
      pred: org.apache.spark.sql.Column,
      entries: Int = 4,
      beam: Int = 8,
      hops: Int = 3,
      k: Int = 5,
      broadcastRowLimit: Long = GraphSearch.DefaultBroadcastRowLimit): DataFrame = {
    val graph = load(spark, catalog, entry).select("qid", "neighbor")
    val vecs = vectorsOf(catalog, entry)
    val degree = loadMeta(spark, catalog, entry).map(_.k).getOrElse(8)
    val minCandidates = math.max(10 * k, 100)
    val effBeam = math.max(beam,
      math.ceil(minCandidates.toDouble / (math.max(hops, 1) * (degree + 1))).toInt)
    loadMedoids(spark, catalog, entry) match {
      case Some(med) =>
        val entryPoints = GraphSearch.routeEntries(
          vecs, med.select("id"), queries, entries, broadcastRowLimit)
        GraphSearch.beamSearchFilteredWithEntries(
          graph, vecs, queries, entryPoints, effBeam, hops, k, pred,
          broadcastRowLimit)
      case None =>
        GraphSearch.beamSearchFiltered(
          graph, vecs, queries, entries, effBeam, hops, k, pred,
          broadcastRowLimit)
    }
  }

  /** Exact incremental maintenance after a batch of `batchIds` was
    * UPSERTED into the documents table (new or replaced vectors; replaced
    * ids must have gone through [[delete]] first if their vectors changed
    * — the write path calls delete-then-upsert for updates).
    */
  def upsert(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      batchIds: Seq[String],
      k: Int,
      buckets: Int = DefaultBuckets): Unit = if (batchIds.nonEmpty) catalog.monitor {
    // the batch arrives as a frame, not an isin literal tree: API batches
    // are ~1000 ids, but applyPending may hand this arbitrary deltas
    val batchDf = broadcast(idFrame(spark, batchIds, "batch_id").localCheckpoint())
    val corpus = vectorsOf(catalog, entry).localCheckpoint()
    val batch = broadcast(
      corpus.join(batchDf, col("id") === col("batch_id"), "left_semi")
        .select(col("id").as("bid"), col("embedding").as("bv"), col("norm").as("bn"))
        .localCheckpoint())
    // ONE corpus scan scores every (corpus row, batch row) pair
    val scored = corpus.crossJoin(batch)
      .filter(col("id") =!= col("bid"))
      .withColumn("score",
        VectorFunctions.dot(col("bv"), col("embedding")) / (col("bn") * col("norm")))
      .select("id", "bid", "score")
      .localCheckpoint()

    // (1) batch nodes' own adjacency: top-k of batch × corpus
    val wBatch = Window.partitionBy("bid").orderBy(col("score").desc, col("id").asc)
    val batchAdj = scored
      .withColumn("rank", row_number().over(wBatch)).filter(col("rank") <= k)
      .select(col("bid").as("qid"), col("id").as("neighbor"), col("rank"), col("score"))

    // (2) existing nodes that must admit a batch edge: current k-th score
    //     (or missing, for under-filled lists) < best batch score
    val idx0 = load(spark, catalog, entry).localCheckpoint()
    val idx = idx0.join(batchDf, col("qid") === col("batch_id"), "left_anti")
    val kth = idx.groupBy("qid")
      .agg(min(when(col("rank") === k, col("score"))).as("kth"))
    val bestBatch = scored.join(batchDf, col("id") === col("batch_id"), "left_anti")
      .groupBy(col("id").as("qid")).agg(max("score").as("best"))
    // >= not >: an exact score TIE (identical vectors are common — replica
    // corpora, dedup fixtures) can still admit the batch edge via the
    // id-asc tie-break. Over-marking is safe (the merge re-rank computes
    // the exact answer); under-marking would diverge from a rebuild.
    val affectedIds = bestBatch.join(kth, Seq("qid"), "left")
      .filter(col("kth").isNull || col("best") >= col("kth"))
      .select("qid").localCheckpoint()

    // merge current edges with batch candidates, re-rank to k
    val wQ = Window.partitionBy("qid").orderBy(col("score").desc, col("neighbor").asc)
    val merged = idx.join(affectedIds, "qid").select("qid", "neighbor", "score")
      .unionByName(scored
        .join(affectedIds.withColumnRenamed("qid", "id"), "id")
        .select(col("id").as("qid"), col("bid").as("neighbor"), col("score")))
      // a (qid, batch-neighbor) edge can already be in idx when a write
      // path ran delete() first (its recompute saw the post-write corpus)
      // — a duplicate edge would displace a true one from the top-k
      .dropDuplicates("qid", "neighbor")
      .withColumn("rank", row_number().over(wQ)).filter(col("rank") <= k)
      .select("qid", "neighbor", "rank", "score")

    val touchedQids = batchDf.select(col("batch_id").as("qid"))
      .unionByName(affectedIds).distinct().localCheckpoint()
    val touched = touchedQids
      .select(bucketOf(col("qid"), buckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    val newEdges = batchAdj.unionByName(merged).localCheckpoint()
    val untouchedRows = idx
      .join(affectedIds, Seq("qid"), "left_anti")
      .withColumn("bucket", bucketOf(col("qid"), buckets))
      .filter(col("bucket").isin(touched.map(_.asInstanceOf[Any]): _*))
    val replacement = untouchedRows
      .unionByName(newEdges.withColumn("bucket", bucketOf(col("qid"), buckets)))
    PartitionedTable.replacePartitions(replacement, indexPath(catalog, entry),
      partCols, sortCols, affectedDirs = touched.map(b => s"bucket=$b"))
    replaceReverse(spark, catalog, entry, touchedQids,
      oldEdges = idx0.join(touchedQids, Seq("qid"), "left_semi").select("qid", "neighbor"),
      newEdges = newEdges.select("qid", "neighbor"), buckets)
  }

  /** Exact incremental maintenance after `ids` were DELETED from the
    * documents table. Nodes that lost an edge recompute against the
    * surviving corpus; everyone else is untouched (deletion cannot improve
    * a candidate that was already losing).
    */
  def delete(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      ids: Seq[String],
      k: Int,
      buckets: Int = DefaultBuckets,
      broadcastGate: Long = AffectedBroadcastMaxRows): Unit = if (ids.nonEmpty) catalog.monitor {
    val goneDf = broadcast(idFrame(spark, ids, "gone_id").localCheckpoint())
    val idx = load(spark, catalog, entry).localCheckpoint()
    // who pointed at a deleted id: the reverse sidecar prunes the read to
    // the deleted ids' neighbor buckets; legacy indexes scan the (narrow)
    // forward table
    val inEdges = loadReverse(spark, catalog, entry) match {
      case Some(rev) =>
        val goneBuckets = goneDf
          .select(bucketOf(col("gone_id"), buckets).as("bucket"))
          .distinct().collect().map(_.getInt(0)).map(_.asInstanceOf[Any])
        rev.filter(col("bucket").isin(goneBuckets: _*))
          .join(goneDf, col("neighbor") === col("gone_id"), "left_semi")
      case None =>
        idx.join(goneDf, col("neighbor") === col("gone_id"), "left_semi")
    }
    val affectedIds = inEdges
      .join(goneDf, col("qid") === col("gone_id"), "left_anti")
      .select("qid").distinct().localCheckpoint()
    val corpus = vectorsOf(catalog, entry).localCheckpoint() // post-delete
    val affVecs = corpus
      .join(affectedIds.withColumnRenamed("qid", "id"), "id")
      .select(col("id").as("aid"), col("embedding").as("av"), col("norm").as("an"))
    // hub-node gate: past AffectedBroadcastMaxRows the affected frame no
    // longer fits a sane broadcast — run the partitioned cross product
    val nAffected = affectedIds.count()
    val aff =
      if (nAffected <= broadcastGate) broadcast(affVecs)
      else affVecs.localCheckpoint()
    val wA = Window.partitionBy("aid").orderBy(col("score").desc, col("id").asc)
    val recomputed = corpus.crossJoin(aff)
      .filter(col("id") =!= col("aid"))
      .withColumn("score",
        VectorFunctions.dot(col("av"), col("embedding")) / (col("an") * col("norm")))
      .withColumn("rank", row_number().over(wA)).filter(col("rank") <= k)
      .select(col("aid").as("qid"), col("id").as("neighbor"), col("rank"), col("score"))
      .localCheckpoint()

    val touchedQids = affectedIds
      .unionByName(goneDf.select(col("gone_id").as("qid")))
      .distinct().localCheckpoint()
    val touched = touchedQids
      .select(bucketOf(col("qid"), buckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    val untouchedRows = idx
      .join(goneDf, col("qid") === col("gone_id"), "left_anti")
      .join(affectedIds, Seq("qid"), "left_anti")
      .withColumn("bucket", bucketOf(col("qid"), buckets))
      .filter(col("bucket").isin(touched.map(_.asInstanceOf[Any]): _*))
    val replacement = untouchedRows
      .unionByName(recomputed.withColumn("bucket", bucketOf(col("qid"), buckets)))
    PartitionedTable.replacePartitions(replacement, indexPath(catalog, entry),
      partCols, sortCols, affectedDirs = touched.map(b => s"bucket=$b"))
    replaceReverse(spark, catalog, entry, touchedQids,
      oldEdges = idx.join(touchedQids, Seq("qid"), "left_semi").select("qid", "neighbor"),
      newEdges = recomputed.select("qid", "neighbor"), buckets)
    repairMedoids(spark, catalog, entry, goneDf, corpus)
  }

  /** Incremental reverse-sidecar maintenance: replace the rows of
    * `touchedQids` inside the neighbor buckets their old+new edges span.
    * A touched qid's old edges define every reverse bucket it can appear
    * in, so the bucket set is complete by construction. No-op for legacy
    * indexes without the sidecar (build() creates it on the next rebuild).
    */
  private def replaceReverse(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      touchedQids: DataFrame,
      oldEdges: DataFrame,
      newEdges: DataFrame,
      buckets: Int): Unit = loadReverse(spark, catalog, entry).foreach { rev =>
    val rb = oldEdges.select("neighbor").unionByName(newEdges.select("neighbor"))
      .select(bucketOf(col("neighbor"), buckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (rb.isEmpty) return
    val replacement = rev
      .filter(col("bucket").isin(rb.map(_.asInstanceOf[Any]): _*))
      .select("qid", "neighbor")
      .join(touchedQids, Seq("qid"), "left_anti")
      .unionByName(newEdges)
      .withColumn("bucket", bucketOf(col("neighbor"), buckets))
    PartitionedTable.replacePartitions(replacement, reversePath(catalog, entry),
      partCols, Seq("neighbor"),
      affectedDirs = rb.map(b => s"bucket=$b"))
  }

  /** A deleted id that was serving as a cluster's entry medoid leaves a
    * dangling entry point — recompute the medoid of exactly those clusters
    * from the persisted centroids over the surviving corpus (one pass,
    * only when a medoid actually died).
    */
  private def repairMedoids(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      goneDf: DataFrame,
      corpus: DataFrame): Unit = {
    if (!pathExists(medoidsPath(catalog, entry)) ||
        !pathExists(centroidsPath(catalog, entry))) return
    val med = spark.read.parquet(medoidsPath(catalog, entry)).localCheckpoint()
    val dead = med.join(goneDf, col("id") === col("gone_id"), "left_semi")
      .select("cluster_id").collect().map(_.getLong(0))
    if (dead.isEmpty) return
    val cents = spark.read.parquet(centroidsPath(catalog, entry))
    val repaired = medoidsOf(corpus, cents)
      .filter(col("cluster_id").isin(dead.map(_.asInstanceOf[Any]): _*))
    val kept = med.filter(!col("cluster_id").isin(dead.map(_.asInstanceOf[Any]): _*))
    // medoid table is MedoidClusters rows — full overwrite via a staging
    // swap (never read-and-overwrite one path in a job)
    val out = kept.unionByName(repaired).localCheckpoint()
    out.write.mode(SaveMode.Overwrite).parquet(medoidsPath(catalog, entry))
  }
}
