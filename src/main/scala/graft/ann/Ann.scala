package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import graft.functions.{VectorExpressions, VectorFunctions}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * - [[bruteTopK]]: the exact baseline — per-query scan + bounded-heap
  *   top-k (`TakeOrderedAndProject`), identical plan shape to
  *   graft.search.Semantic.
  * - [[ivfTopK]]: the scale path — IVF-style partition pruning. Vectors are
  *   assigned once (at ingest) to their nearest centroid; a query probes
  *   only the `nprobe` nearest centroid partitions, so the scan prunes to
  *   nprobe/K of the corpus. With `cluster_id` as a Parquet partition
  *   column, Catalyst turns the probe filter into physical partition
  *   pruning — no custom strategy required (SURVEY §7.3).
  *
  * Centroid determinism: [[representativeCentroids]] picks the embedding of
  * the minimum-id member per cluster label rather than a floating-point
  * mean, so assignment and probing are bit-reproducible in any oracle
  * (KMeans means are order-of-summation dependent).
  */
object Ann {

  /** Exact top-k per query vector. queries: (query_idx, vector). */
  def bruteTopK(
      vectors: DataFrame, // (id, embedding, norm)
      queries: Seq[(Int, Seq[Float])],
      k: Int): DataFrame =
    graft.search.Semantic.search(vectors, queries, k)

  /** One deterministic representative vector per label group (the
    * minimum-id member). min(struct) aggregation, not a window: partial
    * aggregation collapses each label's rows map-side, so no full-corpus
    * shuffle — and the struct's lexicographic order (id asc) picks the
    * same row a row_number window would.
    */
  def representativeCentroids(vectors: DataFrame, labelCol: String): DataFrame =
    vectors
      .groupBy(col(labelCol).as("centroid_id"))
      .agg(min(struct(col("id"), col("embedding"), col("norm"))).as("m"))
      .select(col("centroid_id"), col("m.embedding").as("centroid"),
        col("m.norm").as("centroid_norm"))

  /** Assign every vector to its nearest centroid (done once, at ingest).
    * Ties break on centroid_id ascending — deterministic.
    *
    * The argmin runs as ONE native expression per row over the baked
    * centroid matrix ([[graft.functions.VectorExpressions.NearestCentroidIndex]]):
    * N input rows -> N output rows, no vector-x-centroid row product, no
    * shuffle. The declarative crossJoin(broadcast) + argmin-aggregate
    * form materialized N x K ~520-byte rows before anything could reduce
    * them — measured 400+ s at 128k vectors x 1024 centroids on 32
    * cores vs seconds for the fused loop; same dot-product summation
    * order, same (dist asc, centroid_id asc) choice, bit-identical
    * assignments. The centroid matrix is K x dim floats (a few MB even
    * at 100 TB scale), carried to executors as a codegen reference
    * object — the same "broadcast the small side" physics as before,
    * without paying for the product's row headers.
    */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val idType = centroids.schema("centroid_id").dataType
    val rows = centroids.select("centroid_id", "centroid", "centroid_norm").collect()
    if (rows.isEmpty)
      return vectors.select(col("id"), col("embedding"), col("norm"),
        lit(null).cast(idType).as("cluster_id")).limit(0)
    // ascending centroid_id = the argmin's tie-break order
    val sorted = idType match {
      case org.apache.spark.sql.types.StringType => rows.sortBy(_.getString(0))
      case org.apache.spark.sql.types.IntegerType => rows.sortBy(_.getInt(0))
      case org.apache.spark.sql.types.LongType => rows.sortBy(_.getLong(0))
      case _ => rows.sortBy(_.get(0).toString)
    }
    val mat = sorted.map(_.getSeq[Float](1).toArray)
    val norms = sorted.map(_.getDouble(2))
    val ids = sorted.map(r => lit(r.get(0)))
    val idx = graft.functions.VectorFunctions.nearestCentroidIndex(
      col("embedding"), col("norm"), mat, norms)
    // element_at over an all-literal array: constant-folded to one
    // Literal(ArrayData) at optimization time, O(1) per row
    vectors.select(col("id"), col("embedding"), col("norm"),
      element_at(array(ids.toIndexedSeq: _*), idx + lit(1)).as("cluster_id"))
  }

  /** Offline exact kNN self-join: every vector's top-k neighbors
    * (excluding itself) as (qid, neighbor, rank, score) — the workhorse
    * of mutual kNN, graph-index builds, triplet mining and semantic dedup.
    *
    * Blocked top-k kernel, not an all-pairs join:
    *   1. the candidate side is packed into about `defaultParallelism`
    *      blocks — rows of `array<struct<id, embedding, norm>>`, one keyed
    *      `collect_list` on an id hash — with more blocks when one would
    *      pass [[BlockBytes]], judged from the optimizer's size estimate
    *      (or, for a frame without statistics, one count job);
    *   2. the spread query side joins the blocks, not the vectors: n*B
    *      rows instead of n*(n-1). The blocks are broadcast while the
    *      candidate side fits Spark's broadcast threshold, and joined as a
    *      cartesian product of partitions above it;
    *   3. per (query, block), [[VectorExpressions.BlockTopK]] scans the
    *      block with [[VectorFunctions.dot]]'s arithmetic and returns its
    *      best k, plus every candidate tied with the k-th score;
    *   4. the candidates are exploded and ranked by the same
    *      `row_number` window (score desc, id asc) as the join it
    *      replaces, so the output is hash-identical. The window stays
    *      because the kernel's ties are unresolved on purpose: the id
    *      tie-break (Long or String ordering) happens in one place, and
    *      any global top-k row is in its block's top k with ties.
    *
    * The candidate count is at most n * B * (k + ties), so the window
    * sorts a few rows per query instead of n - 1.
    */
  def knnJoin(vectors: DataFrame, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    // the query side drives the join's parallelism: a corpus read from
    // one parquet file is ONE partition, which would scan every block in
    // a single task. The narrow n-row shuffle is noise next to the
    // scoring it parallelizes; already-spread inputs skip it.
    val target = spark.sparkContext.defaultParallelism
    val rows = vectors.select(col("id"), col("embedding"), col("norm"))
    // both sides read this one frame: one scan, its exchange reused, and
    // the block packing runs over the spread partitions too
    val cands =
      if (rows.rdd.getNumPartitions >= target) rows
      else rows.repartition(target)
    // the candidate side's bytes: the optimizer's estimate, free to read;
    // a frame without statistics (RDD-backed) is measured by one job
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val estimate = cands.queryExecution.optimizedPlan.stats.sizeInBytes
    val bytes =
      if (estimate < conf.defaultSizeInBytes) estimate.toLong
      else {
        val r = cands.agg(count(lit(1)), max(size(col("embedding")))).head()
        r.getLong(0) * candidateBytes(cands, if (r.isNullAt(1)) 0 else r.getInt(1))
      }
    // empty hash keys pack nothing, so at most n blocks exist
    val nBlocks = math.max(target.toLong, (bytes + BlockBytes - 1) / BlockBytes)
    val blocks = packBlocks(cands, nBlocks)
    val side =
      if (bytes <= conf.autoBroadcastJoinThreshold) broadcast(blocks)
      else blocks.hint("shuffle_replicate_nl")
    // the query side keeps the candidate side's names: a renaming
    // projection would be pushed below the exchange and stop its reuse
    val scored = cands.crossJoin(side.select(col("cands")))
      .select(col("id").as("qid"), explode(VectorExpressions.blockTopK(
        col("id"), col("embedding"), col("norm"), col("cands"), k)).as("c"))
      .select(col("qid"), col("c.id").as("id"), col("c.score").as("score"))
    // ONE window, top-k pruned map-side: the rn <= k filter on a
    // row_number window triggers InferWindowGroupLimit (SPARK-37099)
    rankCandidates(scored, Seq("qid"), k)
  }

  /** Upper bound on the bytes of one packed candidate block: one block is
    * one row, scanned whole per query and held whole by its task.
    */
  private val BlockBytes: Long = 16L << 20

  /** Approximate packed bytes of one (id, embedding, norm) candidate of
    * `dim` elements: the struct's fixed part, id bytes and the array.
    */
  private def candidateBytes(cands: DataFrame, dim: Int): Long = {
    val elem = cands.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => 4
      case _ => 8
    }
    64L + dim.toLong * elem
  }

  /** One row per (grouping keys..., id hash mod `nBlocks`) with the
    * block's candidates as `cands: array<struct<id, embedding, norm>>`.
    */
  private def packBlocks(rows: DataFrame, nBlocks: Long, keys: Column*): DataFrame = {
    // the kernel reads float or double elements; other numeric types
    // widen to double exactly as the dot product's own conversion does
    val embedding = rows.schema("embedding").dataType match {
      case ArrayType(FloatType | DoubleType, _) => col("embedding")
      case _ => col("embedding").cast("array<double>").as("embedding")
    }
    rows.groupBy(keys :+ pmod(xxhash64(col("id")), lit(nBlocks)).as("block"): _*)
      .agg(collect_list(struct(col("id"), embedding, col("norm"))).as("cands"))
  }

  /** Rank exploded (qid, id, score) candidates per `by` key: score desc,
    * id asc, keep k.
    */
  private def rankCandidates(scored: DataFrame, by: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col("score").desc, col("id").asc)
    scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("id").as("neighbor"), col("rn").as("rank"), col("score"))
  }

  /** Deterministic Lloyd (k-means) refinement of the IVF centroids.
    *
    * Floating-point means are order-of-summation dependent, so naive
    * distributed k-means is not reproducible across partition layouts. Here
    * every per-dimension sum accumulates in DECIMAL (exact, commutative),
    * divides exactly, and only then casts — centroids are bit-identical on
    * any cluster, which keeps index builds reproducible (the same property
    * [[representativeCentroids]] has, with far better quantization).
    *
    * Seeds = embeddings of the K smallest ids. Each iteration materializes
    * the K centroids to the driver (K x dim floats — tiny) so iteration
    * plans stay flat instead of nesting. Empty clusters keep their previous
    * centroid.
    */
  def kmeansCentroids(
      vectors: DataFrame, // (id, embedding, norm)
      k: Int,
      iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    def toDf(rows: Seq[(Long, Seq[Float])]): DataFrame =
      rows.toDF("centroid_id", "centroid")
        .select(col("centroid_id"), col("centroid").cast("array<float>"))
        .withColumn("centroid_norm", VectorFunctions.l2Norm(col("centroid")))
    var current: Seq[(Long, Seq[Float])] = vectors.orderBy("id").limit(k)
      .select("embedding").collect()
      .zipWithIndex.map { case (r, i) => i.toLong -> r.getSeq[Float](0) }.toSeq
    for (_ <- 0 until iters) {
      val assigned = assign(vectors, toDf(current))
      val means = assigned
        .select(col("cluster_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("cluster_id", "dim")
        .agg((sum(col("v").cast("decimal(27,10)")) / count(lit(1)))
          .cast("double").as("m"))
        .groupBy("cluster_id")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m").cast("float")).as("centroid"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      current = current.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    toDf(current)
  }

  /** Blocked kNN self-join — the 100 TB path for [[knnJoin]]. Vectors are
    * assigned to IVF clusters once, then the self-join runs WITHIN each
    * cluster: the shuffle is keyed by cluster_id and the pair count drops
    * from N^2 to sum over clusters of |c|^2. Approximate at cluster
    * boundaries (a neighbor in a different cluster is missed), which is the
    * standard recall/cost trade — the blocked result is exact for vectors
    * whose true k neighbors share their cluster.
    *
    * Returns (qid, neighbor, rank, score) like [[knnJoin]], ranks local to
    * the probed block.
    */
  def knnJoinBlocked(vectors: DataFrame, k: Int, centroids: DataFrame): DataFrame = {
    // materialize the assignment so the self-join reads it twice instead of
    // re-running the vector-x-centroid assignment on both sides (at scale:
    // persist to the cluster-partitioned index and use knnJoinWithin)
    val assigned = assign(vectors, centroids).cache()
    knnJoinWithin(assigned, k)
  }

  /** Within-cluster kNN over a MATERIALIZED assignment (cached, or read
    * back from the cluster-partitioned index parquet): [[knnJoin]]'s
    * kernel with the IVF clusters as the blocks. Each cluster is packed
    * into one block row — into hash sub-blocks when the largest cluster
    * would pass [[BlockBytes]] (sized by one small aggregate job) — and
    * the queries join their cluster's blocks on cluster_id, the only
    * join. Per query that is one kernel call per sub-block instead of
    * |c| - 1 scored rows; ties, ranking and output are [[knnJoin]]'s, per
    * (cluster_id, qid).
    */
  def knnJoinWithin(assigned: DataFrame, k: Int): DataFrame = {
    val cands = assigned.select(col("id"), col("embedding"), col("norm"), col("cluster_id"))
    // the largest cluster sets the sub-block count of every cluster: one,
    // unless that cluster would pass BlockBytes as one block
    val largest = cands.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), max(size(col("embedding"))).as("dim"))
      .agg(max(col("n")), max(col("dim"))).head()
    val bytes = if (largest.isNullAt(0)) 0L else largest.getLong(0) *
      candidateBytes(cands, if (largest.isNullAt(1)) 0 else largest.getInt(1))
    val blocks = packBlocks(cands, math.max(1L, (bytes + BlockBytes - 1) / BlockBytes),
      col("cluster_id"))
    val scored = cands
      .select(col("cluster_id"), col("id").as("qid"), col("embedding").as("qv"),
        col("norm").as("qn"))
      .join(blocks, Seq("cluster_id"))
      .select(col("cluster_id"), col("qid"), explode(VectorExpressions.blockTopK(
        col("qid"), col("qv"), col("qn"), col("cands"), k)).as("c"))
      .select(col("cluster_id"), col("qid"), col("c.id").as("id"), col("c.score").as("score"))
    // qid -> cluster_id is functional (each vector is assigned once), so
    // ranking per (cluster_id, qid) equals ranking per qid — and a
    // shuffled join's output is already distributed by cluster_id, so
    // the window then needs no second shuffle
    rankCandidates(scored, Seq("cluster_id", "qid"), k)
  }

  /** IVF search: probe the nprobe nearest centroids, exact top-k within the
    * probed partitions. `assigned` is the output of [[assign]] (at scale:
    * read back from Parquet partitioned by cluster_id, giving partition
    * pruning for free).
    */
  def ivfTopK(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      nprobe: Int): DataFrame = {
    val centroidRows = centroids
      .select("centroid_id", "centroid", "centroid_norm").collect()
    val results = queries.map { case (qIdx, qVec) =>
      val qNorm = math.sqrt(qVec.map(v => v.toDouble * v.toDouble).sum)
      // driver-side probe selection over the (tiny) centroid table
      val probeIds = centroidRows.map { r =>
        val c = r.getSeq[Float](1)
        val dot = c.zip(qVec).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val d = 1.0 - dot / (r.getDouble(2) * qNorm)
        (d, r.get(0))
      }.sortBy { case (d, id) => (d, id.toString) }.take(nprobe).map(_._2)
      assigned
        .filter(col("cluster_id").isin(probeIds.toIndexedSeq: _*))
        .withColumn("score",
          graft.search.Semantic.scoreAgainst(col("embedding"), col("norm"), qVec))
        .withColumn("query_idx", lit(qIdx))
        .select("query_idx", "id", "score")
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
    }
    // empty batch -> zero-row result with the result schema (see Semantic)
    results.reduceOption(_ unionAll _).getOrElse(
      assigned
        .withColumn("score", lit(0.0))
        .withColumn("query_idx", lit(0))
        .select("query_idx", "id", "score")
        .limit(0))
  }

  /** Batched IVF search — [[ivfTopK]] at serving-batch Q.
    *
    * [[ivfTopK]] plans ONE scan per query (driver-side probe selection,
    * Q unioned plans): the right shape at interactive Q <= a few dozen,
    * and unplannable at batched-serving Q (10^4 queries = 10^4 unioned
    * scans — the driver, not the cluster, becomes the bottleneck). This
    * route keeps the whole batch in ONE plan of three joins:
    *
    *   1. route: queries x centroids (centroid table broadcast — it is
    *      cluster-count-sized, never query- or corpus-sized), rank per
    *      query by (distance asc, centroid_id-as-string asc) — the same
    *      order the driver loop sorts by — keep nprobe;
    *   2. probe: the (query_idx, cluster_id) pairs join `assigned` on
    *      cluster_id, so only probed cluster slices are scanned
    *      (partition-pruned when `assigned` is stored partitioned by
    *      cluster_id);
    *   3. rescore + per-query top-k via the two-level row_number (local
    *      pre-top-k bounds the window shuffle to ~partitions*k rows per
    *      query).
    *
    * The query-derived frames follow the same size gate as
    * [[GraphSearch]]: broadcast while Q*nprobe (and the probed candidate
    * bound) fits `broadcastRowLimit`, shuffle-hash hints above it.
    * Scoring reuses the identical double arithmetic (sequential-fold dot,
    * same operand grouping), so the result frame is bit-identical to the
    * per-query loop's — AnnServeSpec asserts equality on both gate paths.
    */
  def ivfTopKBatch(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      nprobe: Int,
      broadcastRowLimit: Long = GraphSearch.DefaultBroadcastRowLimit): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    if (queries.isEmpty)
      return assigned.withColumn("score", lit(0.0))
        .withColumn("query_idx", lit(0)).select("query_idx", "id", "score").limit(0)
    val mark = GraphSearch.mkMark(
      queries.size.toLong * nprobe * k <= broadcastRowLimit)
    val qdf = GraphSearch.queryFrame(spark, queries, mark)
    // 1. probe selection: same distance, same (d, id-as-string) order as
    // the driver loop in ivfTopK
    val byQd = Window.partitionBy("query_idx")
      .orderBy(col("d").asc, col("centroid_id").cast("string").asc)
    val probes = qdf
      .crossJoin(broadcast(
        centroids.select("centroid_id", "centroid", "centroid_norm")))
      .withColumn("d",
        lit(1.0) - VectorFunctions.dot(col("centroid"), col("qv")) /
          (col("centroid_norm") * col("qn")))
      .withColumn("rn", row_number().over(byQd))
      .filter(col("rn") <= nprobe)
      .select(col("query_idx"), col("centroid_id").as("cluster_id"))
    // 2+3. probed slices, exact rescore, bounded two-level top-k
    val scored = mark(probes)
      .join(assigned, "cluster_id")
      .join(qdf, "query_idx")
      .withColumn("score",
        VectorFunctions.dot(col("embedding"), col("qv")) / (col("norm") * col("qn")))
      .select("query_idx", "id", "score")
    // one window, map-side group-limit pruned (see knnJoin)
    val globalW = Window.partitionBy("query_idx")
      .orderBy(col("score").desc, col("id").asc)
    scored
      .withColumn("rn", row_number().over(globalW)).filter(col("rn") <= k)
      .select("query_idx", "id", "score")
  }

  /** Batched ADAPTIVE-nprobe IVF search — the one-plan form of the
    * governed serving loop (Api.approxHits): each query probes ranked
    * clusters (distance asc, cluster_id asc — the driver loop's numeric
    * tuple order) until the candidate pool reaches
    * `numCandidates = max(10k, 100)`, i.e. a cluster is probed iff the
    * cumulative size of strictly-closer clusters is still short of the
    * target ([[IvfIndex.adaptiveProbes]]'s takeWhile, as a cumulative
    * window over the broadcast centroid x size table). Scoring and
    * tie-breaks are bit-identical to the loop (AnnServeSpec); Q enters
    * only through frame sizes, never plan count — the route
    * [[Api.semanticSearchApprox]] switches to past its batch threshold.
    */
  def ivfTopKBatchAdaptive(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      numCandidates: Long,
      broadcastRowLimit: Long = GraphSearch.DefaultBroadcastRowLimit): DataFrame = {
    val spark = assigned.sparkSession
    if (queries.isEmpty)
      return assigned.withColumn("score", lit(0.0))
        .withColumn("query_idx", lit(0)).select("query_idx", "id", "score").limit(0)
    // probe frame bound: in the worst case (1-row clusters) a query
    // probes ~numCandidates clusters, so the gate sizes on Q * the
    // ACTUAL candidate target — not a hardcoded 10k assumption
    val mark = GraphSearch.mkMark(
      queries.size.toLong * math.max(numCandidates, k.toLong)
        <= broadcastRowLimit)
    val qdf = GraphSearch.queryFrame(spark, queries, mark)
    // cluster sizes ride the (cluster-count-sized) centroid broadcast;
    // empty clusters count 0, exactly like the loop's getOrElse(0)
    val sizes = assigned.groupBy(col("cluster_id").as("centroid_id"))
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
      .withColumn("__pool",
        coalesce(sum(col("__csize")).over(
          byQd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("__pool") < numCandidates)
      .select(col("query_idx"), col("centroid_id").as("cluster_id"))
    val scored = mark(probes)
      .join(assigned, "cluster_id")
      .join(qdf, "query_idx")
      .withColumn("score",
        VectorFunctions.dot(col("embedding"), col("qv")) / (col("norm") * col("qn")))
      .select("query_idx", "id", "score")
    // one window, map-side group-limit pruned (see knnJoin)
    val globalW = Window.partitionBy("query_idx")
      .orderBy(col("score").desc, col("id").asc)
    scored
      .withColumn("rn", row_number().over(globalW)).filter(col("rn") <= k)
      .select("query_idx", "id", "score")
  }

  /** GROUPED batched adaptive IVF — [[ivfTopKBatchAdaptive]] where rows
    * belong to groups (`groupIdOf(id)`) and each query's top-k is over
    * GROUPS ranked by their best probed row. The late-interaction
    * chunk-level candidate route needs this: ranking raw chunk rows lets
    * one strong document's chunks crowd the per-token shortlist
    * (measured: 75 chunk slots -> only ~28 distinct docs on the civf
    * fixture), where ranking documents by their best probed chunk fills
    * every slot with a distinct candidate — the q_search_maxsim_pruned
    * rule, probe-pruned. The group-max aggregate combiner-collapses
    * map-side; the final window sees at most the probed group count per
    * query. Group ids rank as STRINGS (tie-break parity with the row-key
    * form).
    */
  def ivfGroupTopKBatchAdaptive(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      numCandidates: Long,
      broadcastRowLimit: Long = GraphSearch.DefaultBroadcastRowLimit,
      groupIdOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): DataFrame = {
    val spark = assigned.sparkSession
    if (queries.isEmpty)
      return assigned.withColumn("score", lit(0.0))
        .withColumn("query_idx", lit(0)).select("query_idx", "id", "score").limit(0)
    val mark = GraphSearch.mkMark(
      queries.size.toLong * math.max(numCandidates, k.toLong)
        <= broadcastRowLimit)
    val qdf = GraphSearch.queryFrame(spark, queries, mark)
    val sizes = assigned.groupBy(col("cluster_id").as("centroid_id"))
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
      .withColumn("__pool",
        coalesce(sum(col("__csize")).over(
          byQd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("__pool") < numCandidates)
      .select(col("query_idx"), col("centroid_id").as("cluster_id"))
    val byGroupBest = mark(probes)
      .join(assigned, "cluster_id")
      .join(qdf, "query_idx")
      .withColumn("score",
        VectorFunctions.dot(col("embedding"), col("qv")) / (col("norm") * col("qn")))
      .groupBy(col("query_idx"), groupIdOf(col("id")).as("id"))
      .agg(max(col("score")).as("score"))
    val globalW = Window.partitionBy("query_idx")
      .orderBy(col("score").desc, col("id").asc)
    byGroupBest
      .withColumn("rn", row_number().over(globalW)).filter(col("rn") <= k)
      .select("query_idx", "id", "score")
  }
}
