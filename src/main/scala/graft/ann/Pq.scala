package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Product quantization — the "PQ" half of the reference's native ANN claim
  * (IVF-PQ, reference: vector_mcp/vectordb/epistemic_graph.py:5-8).
  *
  * The embedding column is the fattest column a vector corpus has; at
  * 100 TB it dominates storage and scan cost. PQ splits each dim-vector
  * into `m` subvectors, k-means-quantizes every subspace to `k` codewords,
  * and stores only the m code ids (m bytes-ish vs 4*dim) — scans for
  * candidate generation read codes, not floats, and score with a per-query
  * distance TABLE (ADC: asymmetric distance computation, sum of m lookups).
  *
  * Everything is deterministic (seeded by data order, decimal-exact means —
  * same contract as [[Ann.kmeansCentroids]]) so codebooks and codes are
  * bit-reproducible across builds and partition layouts.
  *
  * Dataflow: training and encoding are RELATIONAL — (id, subspace, subvec)
  * rows joined against a BROADCAST codeword table, argmin via a
  * `min(struct(dist, code))` aggregate (deterministic ties: lowest code).
  * One pass covers all m subspaces; nothing driver-side ever sees a
  * per-vector row.
  */
object Pq {

  /** Codebooks: codebooks(j)(c) = codeword c of subspace j (dim/m floats). */
  type Codebooks = Seq[Seq[Array[Float]]]

  /** Persist codebooks as a (j, code, cw) table at `path`. */
  def saveCodebooks(spark: SparkSession, path: String, cb: Codebooks): Unit = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (words, j) =>
      words.zipWithIndex.map { case (w, c) => (j, c, w.toSeq) }
    }.toDF("j", "code", "cw")
      .select(col("j"), col("code"), col("cw").cast("array<float>").as("cw"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** The codebooks persisted at `path`, or None when there are none. */
  def loadCodebooks(spark: SparkSession, path: String): Option[Codebooks] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) None
    else {
      val rows = spark.read.parquet(path)
        .select("j", "code", "cw").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray)
        .toMap
      val m = rows.keys.map(_._1).max + 1
      val k = rows.keys.map(_._2).max + 1
      Some((0 until m).map(j => (0 until k).map(c => rows((j, c)))))
    }

  private def subLen(dim: Int, m: Int): Int = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    dim / m
  }

  /** (id, j, subvec) rows — one per (vector, subspace). */
  private def subRows(vectors: DataFrame, dim: Int, m: Int): DataFrame = {
    val ds = subLen(dim, m)
    val subs = (0 until m).map(j => slice(col("embedding"), j * ds + 1, ds))
    vectors.select(col("id"), posexplode(array(subs: _*)).as(Seq("j", "subvec")))
  }

  /** Broadcast-able codeword table (j, code, cw). */
  private def codewordDf(vectors: DataFrame, cb: Codebooks): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (words, j) =>
      words.zipWithIndex.map { case (w, c) => (j, c, w.toSeq) }
    }.toDF("j", "code", "cw")
      .select(col("j"), col("code"), col("cw").cast("array<float>").as("cw"))
  }

  /** Nearest codeword per (id, j): argmin of squared L2, ties to the lowest
    * code id. Output (id, j, code).
    */
  private def assignCodes(sub: DataFrame, cwDf: DataFrame): DataFrame =
    sub.join(broadcast(cwDf), "j")
      .withColumn("d", VectorFunctions.l2DistanceSq(col("subvec"), col("cw")))
      .groupBy("id", "j")
      .agg(min(struct(col("d"), col("code"))).getField("code").as("code"))

  /** Train deterministic per-subspace codebooks.
    *
    * Init: the first `k` vectors by id seed every subspace's codewords.
    * Each Lloyd iteration assigns all subspaces in ONE pass (broadcast
    * join) and recomputes means decimal-exactly (order-independent, so
    * bit-reproducible on any cluster layout).
    */
  def train(
      vectors: DataFrame, // (id, embedding)
      dim: Int,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 3): Codebooks = {
    val ds = subLen(dim, m)
    val seeds = vectors.orderBy("id").limit(k).select("embedding").collect()
      .map(_.getSeq[Float](0))
    require(seeds.nonEmpty, "PQ training needs a non-empty corpus")
    var cb: Codebooks = (0 until m).map { j =>
      (0 until k).map { c =>
        val v = seeds(c % seeds.length)
        v.slice(j * ds, (j + 1) * ds).toArray
      }
    }
    val sub = subRows(vectors, dim, m)
    for (_ <- 0 until iters) {
      val assigned = assignCodes(sub, codewordDf(vectors, cb))
      val means = sub.join(assigned, Seq("id", "j"))
        .select(col("j"), col("code"), posexplode(col("subvec")).as(Seq("dim", "v")))
        .groupBy("j", "code", "dim")
        .agg((sum(col("v").cast("decimal(27,10)")) / count(lit(1)))
          .cast("double").as("mv"))
        .groupBy("j", "code")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mv")))),
          s => s.getField("mv").cast("float")).as("cw"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray)
        .toMap
      cb = cb.zipWithIndex.map { case (words, j) =>
        words.zipWithIndex.map { case (old, c) => means.getOrElse((j, c), old) }
      }
    }
    cb
  }

  /** Encode every vector to its m-code array: (id, codes ARRAY<INT>). */
  def encode(vectors: DataFrame, dim: Int, cb: Codebooks): DataFrame = {
    val m = cb.size
    assignCodes(subRows(vectors, dim, m), codewordDf(vectors, cb))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("code")))),
        s => s.getField("code")).as("codes"))
  }

  /** ADC top-k: the query builds its m x k distance table DRIVER-SIDE
    * (m*k subvector distances — microseconds), then every encoded row is
    * scored with m array lookups; ascending approximate squared L2,
    * bounded top-k. The corpus scan touches ONLY (id, codes).
    */
  def searchAdc(
      codes: DataFrame, // (id, codes)
      cb: Codebooks,
      queries: Seq[(Int, Seq[Float])],
      k: Int): DataFrame = {
    val m = cb.size
    val results = queries.map { case (qIdx, qVec) =>
      val ds = qVec.length / m
      val table: Seq[Seq[Double]] = cb.zipWithIndex.map { case (words, j) =>
        val sub = qVec.slice(j * ds, (j + 1) * ds)
        words.map { w =>
          var s = 0.0; var i = 0
          while (i < ds) {
            val d = sub(i).toDouble - w(i).toDouble; s += d * d; i += 1
          }
          s
        }
      }
      val tableLit = array(table.map(row => array(row.map(lit): _*)): _*)
      val score = aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, j) => element_at(element_at(tableLit, j + 1), c + 1)),
        lit(0.0), (acc, x) => acc + x)
      codes
        .withColumn("adist", score)
        .withColumn("query_idx", lit(qIdx))
        .select("query_idx", "id", "adist")
        .orderBy(col("adist").asc, col("id").asc)
        .limit(k)
    }
    results.reduceOption(_ unionAll _).getOrElse(
      codes.withColumn("adist", lit(0.0)).withColumn("query_idx", lit(0))
        .select("query_idx", "id", "adist").limit(0))
  }

  /** Residual vectors for IVFADC: embedding - assigned centroid, in FLOAT
    * (element-wise; float subtraction is oracle-mirrorable as
    * CAST(double_sub AS REAL)). Input needs (id, embedding, cluster_id);
    * centroids (cluster_id, centroid) broadcast-join in. Output keeps the
    * cluster for partitioned writes and per-cluster ADC tables.
    *
    * Residual quantization is what makes IVF-PQ accurate (Jegou et al.,
    * "Product Quantization for Nearest Neighbor Search", IVFADC): within a
    * cluster the residuals concentrate near 0, so the same m x k codebook
    * budget spends its resolution on a much smaller ball than raw-vector
    * encoding.
    */
  def residualOf(assigned: DataFrame, centroids: DataFrame): DataFrame =
    assigned
      .join(broadcast(centroids.select(col("cluster_id"), col("centroid"))), "cluster_id")
      .select(col("id"),
        zip_with(col("embedding"), col("centroid"), (x, y) => x - y).as("embedding"),
        col("cluster_id"))

  /** ADC top-k over residual-encoded codes: the distance table is PER
    * (query, cluster) — table[j][code] = ||(q - centroid_cluster)_j -
    * cw[j][code]||^2 — selected in-row by a map literal keyed on
    * cluster_id. Everything else matches [[searchAdc]]: tables built
    * driver-side (nprobe * m * k doubles), the scan reads only
    * (id, codes, cluster_id), bounded top-k.
    */
  def searchAdcClustered(
      codes: DataFrame, // (id, codes, cluster_id)
      cb: Codebooks,
      centroidsByCluster: Map[Long, Seq[Float]],
      queries: Seq[(Int, Seq[Float])],
      k: Int): DataFrame = {
    val m = cb.size
    val results = queries.map { case (qIdx, qVec) =>
      val ds = qVec.length / m
      val tablesByCluster = centroidsByCluster.toSeq.sortBy(_._1).map { case (cid, cent) =>
        // float residual first (mirrors residualOf), then double distances
        val qr = qVec.zip(cent).map { case (x, y) => x - y }
        val table: Seq[Seq[Double]] = cb.zipWithIndex.map { case (words, j) =>
          val sub = qr.slice(j * ds, (j + 1) * ds)
          words.map { w =>
            var s = 0.0; var i = 0
            while (i < ds) {
              val d = sub(i).toDouble - w(i).toDouble; s += d * d; i += 1
            }
            s
          }
        }
        lit(cid) -> array(table.map(row => array(row.map(lit): _*)): _*)
      }
      val tableOfRow = element_at(
        map(tablesByCluster.flatMap { case (c, t) => Seq(c, t) }: _*), col("cluster_id"))
      val score = aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, j) => element_at(element_at(tableOfRow, j + 1), c + 1)),
        lit(0.0), (acc, x) => acc + x)
      codes
        .filter(col("cluster_id").isin(centroidsByCluster.keys.toSeq: _*))
        .withColumn("adist", score)
        .withColumn("query_idx", lit(qIdx))
        .select("query_idx", "id", "adist")
        .orderBy(col("adist").asc, col("id").asc)
        .limit(k)
    }
    results.reduceOption(_ unionAll _).getOrElse(
      codes.withColumn("adist", lit(0.0)).withColumn("query_idx", lit(0))
        .select("query_idx", "id", "adist").limit(0))
  }

  /** [[searchAdcClustered]] + exact cosine re-rank of the oversampled
    * shortlist — the residual-index analog of [[searchAdcRerank]].
    */
  def searchAdcRerankClustered(
      codes: DataFrame, // (id, codes, cluster_id)
      vectors: DataFrame, // (id, embedding, norm)
      cb: Codebooks,
      centroidsByCluster: Map[Long, Seq[Float]],
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      oversample: Int = 4): DataFrame =
    rerank(searchAdcClustered(codes, cb, centroidsByCluster, queries, k * oversample),
      vectors, queries, k)

  /** The serving shape at scale: ADC over codes produces an oversampled
    * shortlist (k * oversample, the mongodb.py:277 numCandidates idea),
    * then ONLY the shortlist joins back to the float vectors for exact
    * cosine re-ranking. The full-corpus scan never touches the embedding
    * column.
    */
  def searchAdcRerank(
      codes: DataFrame, // (id, codes)
      vectors: DataFrame, // (id, embedding, norm)
      cb: Codebooks,
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      oversample: Int = 4): DataFrame =
    rerank(searchAdc(codes, cb, queries, k * oversample), vectors, queries, k)

  /** Exact cosine re-rank of an ADC shortlist (query_idx, id, adist)
    * against the float vectors — the only embedding read in any PQ
    * serving path.
    */
  private[ann] def rerank(
      shortlist: DataFrame,
      vectors: DataFrame, // (id, embedding, norm)
      queries: Seq[(Int, Seq[Float])],
      k: Int): DataFrame = {
    val qNorms = queries.map { case (i, q) =>
      i -> math.sqrt(q.map(v => v.toDouble * v.toDouble).sum)
    }.toMap
    val results = queries.map { case (qIdx, qVec) =>
      val qArr = array(qVec.map(lit): _*)
      shortlist.filter(col("query_idx") === qIdx)
        .join(vectors.select(col("id"), col("embedding"), col("norm")), "id")
        .withColumn("score",
          VectorFunctions.dot(col("embedding"), qArr) /
            (col("norm") * lit(qNorms(qIdx))))
        .select(col("query_idx"), col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
    }
    results.reduceOption(_ unionAll _).getOrElse(
      shortlist.withColumn("score", lit(0.0))
        .select("query_idx", "id", "score").limit(0))
  }
}
