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
  * and INCREMENTALLY maintained"). Documents with a zero-norm embedding
  * have no cosine and are not graph nodes ([[vectorsOf]]).
  *
  * Unlike the rest of the index family, graph edges are NOT row-local: a
  * node's adjacency depends on every other row, so this index overrides
  * the registry's partition rebuild ([[graft.DerivedIndex.maintain]]) and
  * maintains itself EXACTLY with one Δ pass per write ([[applyDelta]]).
  * With X the write's changed ids (gone, re-upserted or new), A the
  * in-edge sources of X (the REVERSE sidecar pruned to X's neighbor
  * buckets — O(edges pointing at X), never an index scan) minus X, and
  * R = A ∪ the post-write batch:
  *
  *  1. one pass scores post-write corpus × R (R broadcast up to
  *     [[AffectedBroadcastMaxRows]]; a hub delete with thousands of
  *     in-edges runs the partitioned cross product instead);
  *  2. each R node's list is its top-k from that pass — A's lists lost an
  *     edge or point at a moved vector, the batch's are new;
  *  3. every other node's list holds no X id, so removals cannot change
  *     it and it can only ADMIT batch edges: cosine is symmetric, so the
  *     same pass read in the other direction gives its best batch score,
  *     and where that reaches its k-th score the merge of (current edges ∪
  *     batch candidates) re-ranked to k is its rebuilt list;
  *  4. the forward table and the reverse sidecar are each swapped once,
  *     over the buckets of R ∪ admitted ∪ X;
  *  5. medoids that X removed are repaired from the stored centroids.
  *
  * Alongside the adjacency, build() persists SERVING state:
  *  - `.knng.rev`: the reverse adjacency (same rows, partitioned by the
  *    NEIGHBOR's hash bucket — LexIndex's term-bucket trade applied to
  *    in-edges), a required sidecar maintained with the forward table.
  *  - `.knng.cents` + `.knng.medoids`: deterministic k-means centroids and
  *    the per-cluster medoid (the member nearest its centroid) — the
  *    graph's ENTRY POINTS. [[search]] routes each query to its best
  *    `entries` medoids and beam-walks from there (the two-layer
  *    HNSW/DiskANN shape with the quantizer as the upper layer), all from
  *    persisted state. Writes leave surviving medoids in place (entry
  *    points are routing QUALITY state — any graph node is a valid entry
  *    — and the next build()/refresh re-optimizes them).
  *
  * Maintenance is proven row-identical to `build` by GraphIndexSpec
  * (including a hub-node delete past the broadcast gate and a mixed
  * write). Graph construction here is the exact [[Ann.knnJoin]];
  * NN-descent or blocked-kNN drop in for approximate builds at corpus
  * scale — the maintenance algebra above only needs "top-k among
  * candidates" and is exact relative to whichever graph it maintains.
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
    Seq("meta" -> metaPath(catalog, entry), "reverse" -> reversePath(catalog, entry))

  /** Unused: [[maintain]] finds its own touched buckets. */
  def affectedKeys(d: graft.Indexes.Delta): Seq[Seq[Any]] = Nil

  def freshRows(d: graft.Indexes.Delta): DataFrame = d.fresh.select("id")

  /** Every changed id is in X. Content-addressed ids USUALLY make an
    * update old-id-gone + new-id-fresh, but addDocuments accepts
    * caller-PINNED embeddings (Embed.withEmbeddings fills only nulls):
    * re-upserting identical content with a different embedding keeps the
    * id, so its in-edges must recompute against the new vector. For an
    * unchanged re-upsert the recompute is redundant but exact; a new id has
    * no in-edges and no rows, so it adds nothing beyond its batch role.
    */
  override def maintain(d: graft.Indexes.Delta, staged: Seq[Seq[Any]]): Unit = {
    val gm = loadMeta(d.spark, d.catalog, d.entry).get
    applyDelta(d.spark, d.catalog, d.entry, d.ids, gm.k, gm.buckets, AffectedBroadcastMaxRows)
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

  /** Above this many R nodes, the scoring pass stops broadcasting R's
    * vectors and runs the partitioned cross product instead: the work is
    * |R| × corpus dots either way, but a hub-node delete must not stage
    * thousands of embedding rows through the driver.
    */
  val AffectedBroadcastMaxRows = 4096L

  private def bucketOf(id: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(id.cast("string")), lit(buckets.toLong)).cast("int")

  /** The graph's nodes: every document with a nonzero norm (a zero
    * vector has no cosine). Build, maintenance, entry points and search
    * all read through here.
    */
  private def vectorsOf(catalog: Catalog, entry: CollectionEntry): DataFrame =
    catalog.readDocuments(entry).filter(col("norm") > 0)
      .select(col("id"), col("embedding"), col("norm"))

  /** Build (or rebuild) the full adjacency: exact k-NN per node, written
    * partitioned by the qid's hash bucket; plus the meta sidecar, the
    * reverse sidecar and the entry-point centroid/medoid sidecars. The
    * index is invalidated first and the reverse sidecar is written before
    * the forward table, from the same kNN rows, so a present index always
    * has the reverse edges of its own adjacency.
    */
  def build(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      k: Int,
      buckets: Int = DefaultBuckets): Unit = catalog.monitor {
    invalidate(catalog, entry)
    graft.Indexes.writeMeta(spark, metaPath(catalog, entry), GraphMeta(k, buckets))
    // checkpointed once: the n² knnJoin must not run for each table
    val knn = Ann.knnJoin(vectorsOf(catalog, entry), k).localCheckpoint()
    PartitionedTable.write(knn.select(col("qid"), col("neighbor"),
      bucketOf(col("neighbor"), buckets).as("bucket")),
      reversePath(catalog, entry), partCols, Seq("neighbor"))
    writeFull(catalog, entry, knn.withColumn("bucket", bucketOf(col("qid"), buckets)))
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

  def loadReverse(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DataFrame =
    spark.read.schema(ReverseSchema).parquet(reversePath(catalog, entry))

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

  /** Exact incremental maintenance after `ids` were DELETED from the
    * documents table: [[applyDelta]] with X = `ids` and no batch.
    */
  def delete(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      ids: Seq[String],
      k: Int,
      buckets: Int = DefaultBuckets,
      broadcastGate: Long = AffectedBroadcastMaxRows): Unit = {
    import spark.implicits._
    applyDelta(spark, catalog, entry, ids.toDF("id"), k, buckets, broadcastGate)
  }

  /** The one Δ pass (see the object scaladoc) after the documents whose
    * ids are `changed` were written or deleted. The post-write batch is
    * X's ids that are still graph nodes.
    */
  private def applyDelta(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      changed: DataFrame,
      k: Int,
      buckets: Int,
      broadcastGate: Long): Unit = catalog.monitor {
    val x = broadcast(changed.select(col("id").as("xid")))
    val xBuckets = x.select(bucketOf(col("xid"), buckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (xBuckets.isEmpty) return
    // who pointed at X: the reverse sidecar pruned to X's neighbor buckets
    val sources = loadReverse(spark, catalog, entry)
      .filter(col("bucket").isin(xBuckets.map(_.asInstanceOf[Any]): _*))
      .join(x, col("neighbor") === col("xid"), "left_semi")
      .select(col("qid").as("id"))
    val corpus = vectorsOf(catalog, entry) // post-write
    val r = corpus.join(sources.unionByName(changed.select("id")).distinct(), "id")
      .join(x, col("id") === col("xid"), "left")
      .select(col("id").as("rid"), col("embedding").as("rv"), col("norm").as("rn"),
        col("xid").isNotNull.as("batch"))
      .localCheckpoint()
    val rIds = r.select(col("rid").as("qid"))
    val sizes = r.agg(count(lit(1)), count(when(col("batch"), 1))).head()
    val (nR, nBatch) = (sizes.getLong(0), sizes.getLong(1))

    // (1) ONE corpus × R pass, kept narrow: R's top-k rows plus every
    //     batch score (read in the other direction by step 3)
    val wR = Window.partitionBy("rid").orderBy(col("score").desc, col("id").asc)
    val scored = corpus.crossJoin(if (nR <= broadcastGate) broadcast(r) else r)
      .filter(col("id") =!= col("rid"))
      .withColumn("score",
        VectorFunctions.dot(col("rv"), col("embedding")) / (col("rn") * col("norm")))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= k || col("batch"))
      .select("id", "rid", "batch", "rank", "score")
      .localCheckpoint()

    // (2) R's rebuilt lists
    val rLists = scored.filter(col("rank") <= k)
      .select(col("rid").as("qid"), col("id").as("neighbor"), col("rank"), col("score"))

    // (3) every other node admits batch edges where its best batch score
    //     reaches its current k-th score (or its list is under-filled).
    //     >= not >: an exact score TIE (identical vectors are common —
    //     replica corpora, dedup fixtures) can still admit the batch edge
    //     via the id-asc tie-break. Over-marking is safe (the merge
    //     re-rank computes the exact answer); under-marking would diverge
    //     from a rebuild.
    val idx = load(spark, catalog, entry).localCheckpoint()
    val toOthers = scored.filter(col("batch"))
      .join(rIds, col("id") === col("qid"), "left_anti")
      .select(col("id").as("qid"), col("rid").as("neighbor"), col("score"))
    val kth = idx.groupBy("qid")
      .agg(min(when(col("rank") === k, col("score"))).as("kth"))
    val admitted = toOthers.groupBy("qid").agg(max("score").as("best"))
      .join(kth, Seq("qid"), "left")
      .filter(col("kth").isNull || col("best") >= col("kth"))
      .select("qid")
    val wQ = Window.partitionBy("qid").orderBy(col("score").desc, col("neighbor").asc)
    val merged = idx.select("qid", "neighbor", "score")
      .unionByName(toOthers)
      .join(admitted, "qid")
      .withColumn("rank", row_number().over(wQ)).filter(col("rank") <= k)
      .select("qid", "neighbor", "rank", "score")

    // (4) one swap per table over the buckets of R ∪ admitted ∪ X (an
    //     admitted node has a merged row)
    val newEdges = (if (nBatch > 0) rLists.unionByName(merged) else rLists).localCheckpoint()
    val touchedQids = rIds.unionByName(newEdges.select("qid"))
      .unionByName(x.select(col("xid").as("qid"))).distinct()
    val touched = touchedQids
      .select(bucketOf(col("qid"), buckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    val untouchedRows = idx
      .filter(col("bucket").isin(touched.map(_.asInstanceOf[Any]): _*))
      .join(touchedQids, Seq("qid"), "left_anti")
    PartitionedTable.replacePartitions(
      untouchedRows.unionByName(newEdges.withColumn("bucket", bucketOf(col("qid"), buckets))),
      indexPath(catalog, entry), partCols, sortCols, affectedDirs = touched.map(b => s"bucket=$b"))
    replaceReverse(spark, catalog, entry, touchedQids,
      oldEdges = idx.join(touchedQids, Seq("qid"), "left_semi").select("qid", "neighbor"),
      newEdges = newEdges.select("qid", "neighbor"), buckets)

    // (5) medoids X removed
    repairMedoids(spark, catalog, entry, x, corpus)
  }

  /** Incremental reverse-sidecar maintenance: replace the rows of
    * `touchedQids` inside the neighbor buckets their old+new edges span.
    * A touched qid's old edges define every reverse bucket it can appear
    * in, so the bucket set is complete by construction.
    */
  private def replaceReverse(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      touchedQids: DataFrame,
      oldEdges: DataFrame,
      newEdges: DataFrame,
      buckets: Int): Unit = {
    val rb = oldEdges.select("neighbor").unionByName(newEdges.select("neighbor"))
      .select(bucketOf(col("neighbor"), buckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (rb.isEmpty) return
    val replacement = loadReverse(spark, catalog, entry)
      .filter(col("bucket").isin(rb.map(_.asInstanceOf[Any]): _*))
      .select("qid", "neighbor")
      .join(touchedQids, Seq("qid"), "left_anti")
      .unionByName(newEdges)
      .withColumn("bucket", bucketOf(col("neighbor"), buckets))
    PartitionedTable.replacePartitions(replacement, reversePath(catalog, entry),
      partCols, Seq("neighbor"),
      affectedDirs = rb.map(b => s"bucket=$b"))
  }

  /** A changed id (`x`) that was serving as a cluster's entry medoid
    * leaves a dangling or moved entry point — recompute the medoid of
    * exactly those clusters from the persisted centroids over the
    * surviving corpus (one pass, only when such a medoid exists).
    */
  private def repairMedoids(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      x: DataFrame,
      corpus: DataFrame): Unit = {
    if (!pathExists(medoidsPath(catalog, entry)) ||
        !pathExists(centroidsPath(catalog, entry))) return
    val med = spark.read.parquet(medoidsPath(catalog, entry)).localCheckpoint()
    val dead = med.join(x, col("id") === col("xid"), "left_semi")
      .select("cluster_id").collect().map(_.getLong(0))
    if (dead.isEmpty) return
    val cents = spark.read.parquet(centroidsPath(catalog, entry))
    val repaired = medoidsOf(corpus, cents)
      .filter(col("cluster_id").isin(dead.map(_.asInstanceOf[Any]): _*))
    val kept = med.filter(!col("cluster_id").isin(dead.map(_.asInstanceOf[Any]): _*))
    // medoid table is MedoidClusters rows: a full overwrite from a
    // localCheckpoint, so the job never reads the path it overwrites
    val out = kept.unionByName(repaired).localCheckpoint()
    out.write.mode(SaveMode.Overwrite).parquet(medoidsPath(catalog, entry))
  }
}
