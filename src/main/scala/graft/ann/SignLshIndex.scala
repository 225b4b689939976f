package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Indexes.Delta
import graft.catalog.Catalog
import graft.functions.VectorFunctions
import graft.model.CollectionEntry

/** Persistent random-hyperplane (sign) LSH index — the second ANN layout
  * next to [[IvfIndex]], with the complementary recall profile: IVF prunes
  * by nearest-centroid region (good for clustered corpora), sign-LSH by
  * angular hash agreement (distribution-free; recall for a pair at angular
  * similarity s is 1-(1-s^bits)^tables, tunable without rebuilding data
  * statistics).
  *
  * Layout: one row per (vector, table) with the vector's sign-key in that
  * table, written PARTITIONED BY (table, key). A query computes its own
  * key per table DRIVER-SIDE (the hyperplanes are seeded, engine-versioned
  * constants — reproducible on any cluster), probes exactly `tables`
  * partitions, and ranks the union of those buckets with exact cosine —
  * approximation affects WHICH rows are scanned, never their scores.
  */
/** Build-time configuration of a sign-LSH index, persisted as a one-row
  * sidecar table next to the index itself. The layout parameters are part
  * of the index — never derived from index ROWS, which a write that
  * empties the collection takes away. The sidecar survives empty rebuilds.
  */
final case class LshMeta(bits: Int, tables: Int, seed: Long, dim: Int)

object SignLshIndex extends graft.DerivedIndex {

  val key = "lsh"
  override val compactKey = Some("signlsh")
  protected val suffix = ".signlsh"
  val partCols = Seq("table", "key")
  val sortCols = Nil
  val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, embedding ARRAY<FLOAT>, norm DOUBLE, `table` INT, `key` STRING")

  override def sidecars(catalog: Catalog, entry: CollectionEntry): Seq[(String, String)] =
    Seq("meta" -> metaPath(catalog, entry))

  private def meta(d: Delta): LshMeta =
    d.shared("lsh meta")(requireMeta(d.spark, d.catalog, d.entry))

  def affectedKeys(d: Delta): Seq[Seq[Any]] =
    graft.Indexes.keysOf(band(d.both, meta(d)), partCols)

  def freshRows(d: Delta): DataFrame = band(d.fresh, meta(d))

  def metaPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".signlsh.meta"

  /** The persisted build parameters, or None when no index was ever built. */
  def loadMeta(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Option[LshMeta] =
    graft.Indexes.readMeta[LshMeta](spark, metaPath(catalog, entry))

  /** Like [[loadMeta]] but governed: missing index/meta surfaces the stable
    * error code instead of a raw storage exception (ADVICE r3: no ungoverned
    * NPE on a null meta row).
    */
  def requireMeta(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): LshMeta =
    loadMeta(spark, catalog, entry).getOrElse(
      throw new graft.model.GraftException(graft.model.ErrorCodes.AnnIndexNotFound))

  /** Deterministic hyperplanes: tables x bits x dim gaussians from a seeded
    * RNG — identical sequence at build and query time.
    */
  def planes(dim: Int, bits: Int, tables: Int, seed: Long): Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian())))
  }

  /** Column form of one table's sign key over `embedding`. */
  private def keyCol(tablePlanes: Seq[Array[Double]]): Column =
    tablePlanes.map { p =>
      val lits = array(p.toIndexedSeq.map(lit): _*)
      when(VectorFunctions.dot(col("embedding"), lits) >= 0, lit("1")).otherwise(lit("0"))
    }.reduce(concat(_, _))

  /** Driver-side mirror of [[keyCol]] for a query vector. */
  def keyOf(vec: Seq[Float], tablePlanes: Seq[Array[Double]]): String =
    probeKeysOf(vec, tablePlanes, 0).head

  /** Multi-probe key set for one table: the query's own sign-key first,
    * then `extraProbes` single-bit-flip neighbors in MARGIN order — the
    * bits whose hyperplane projection is closest to zero are the likeliest
    * to differ between a vector and its near-neighbors (standard
    * multi-probe LSH perturbation ordering). Flipping low-margin bits
    * first buys most of the recall of extra tables without storing them.
    */
  def probeKeysOf(
      vec: Seq[Float],
      tablePlanes: Seq[Array[Double]],
      extraProbes: Int): Seq[String] = {
    val dots = tablePlanes.map { p =>
      p.iterator.zip(vec.iterator).map { case (x, y) => x * y.toDouble }.sum
    }
    val base = dots.map(d => if (d >= 0) '1' else '0').toArray
    val flips = dots.zipWithIndex.sortBy { case (d, _) => math.abs(d) }
      .take(math.max(0, extraProbes)).map(_._2)
    new String(base) +: flips.map { i =>
      val k = base.clone()
      k(i) = if (k(i) == '1') '0' else '1'
      new String(k)
    }
  }

  /** The index rows (id, embedding, norm, table, key) for a set of
    * documents under a given layout — the row-level unit both [[build]]
    * (whole table) and the write path's incremental partition refresh
    * (Δ batch only) share.
    */
  def band(docs: DataFrame, meta: LshMeta): DataFrame = {
    val ps = planes(meta.dim, meta.bits, meta.tables, meta.seed)
    docs.select(col("id"), col("embedding"), col("norm"),
      posexplode(array(ps.map(keyCol): _*)).as(Seq("table", "key")))
  }

  /** Build (or rebuild) the index from the collection's documents table.
    * The meta sidecar lands before the index rows, so a crash between the
    * two reads as index-absent, never as new rows under old parameters.
    */
  def build(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      dim: Int,
      bits: Int = 8,
      tables: Int = 8,
      seed: Long = 42L): DataFrame = catalog.monitor {
    invalidate(catalog, entry)
    val meta = LshMeta(bits, tables, seed, dim)
    graft.Indexes.writeMeta(spark, metaPath(catalog, entry), meta)
    writeFull(catalog, entry,
      band(catalog.readDocuments(entry).select(col("id"), col("embedding"), col("norm")), meta))
    load(spark, catalog, entry)
  }

  /** Ids of `batch` rows ((id, embedding, norm)) that near-duplicate an
    * already-indexed document with a DIFFERENT id at cosine >= `threshold`
    * — the candidate core of dedup-on-write (Api.addDocumentsDedup, and
    * the streaming compaction gate). The batch's own band keys prune the
    * index scan to O(batch x tables) (table, key) partitions regardless
    * of corpus size; exact cosine verifies every candidate. Governed
    * `ann_index_not_found` when no index/meta exists.
    */
  def nearDupIds(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      batch: DataFrame, // (id, embedding, norm)
      threshold: Double): DataFrame = {
    val meta = requireMeta(spark, catalog, entry)
    val banded = band(batch, meta)
    val probeParts = banded.select("table", "key").distinct().collect()
    // one disjunct per table with its key set — matches the (table, key)
    // partition layout, so the scan physically prunes
    val pred = probeParts.groupBy(_.getInt(0)).map { case (t, rows) =>
      col("table") === t &&
        col("key").isin(rows.map(_.getString(1)).toIndexedSeq: _*)
    }.reduceOption(_ || _).getOrElse(lit(false))
    load(spark, catalog, entry)
      .filter(pred)
      .select(col("id").as("eid"), col("embedding").as("ee"),
        col("norm").as("en"), col("table"), col("key"))
      .join(batchSide(banded), Seq("table", "key"))
      .filter(col("eid") =!= col("nid"))
      .filter(graft.functions.VectorFunctions.dot(col("ee"), col("ne")) /
        (col("en") * col("nn")) >= threshold)
      .select(col("nid").as("id")).distinct()
  }

  private def batchSide(banded: DataFrame): DataFrame =
    banded.select(col("id").as("nid"), col("embedding").as("ne"),
      col("norm").as("nn"), col("table"), col("key"))

  /** Corpus-wide embedding near-dup PAIRS served FROM the index (the
    * embedding-side analog of [[graft.dedup.MinHashIndex.nearDupPairs]]):
    * candidates are index rows sharing a (table, key) — the guarded
    * keyed self-join from the dedup family (stop-bucket blacklist +
    * singleton drop, skew bounded by `maxBucketSize`) — and the exact
    * cosine verify reads embeddings straight from the candidate rows;
    * nothing outside the index is touched. Recall follows the index's
    * (bits, tables) like [[graft.dedup.Dedup.embeddingNearDupsLsh]]:
    * a verified SUBSET of the exact all-pairs answer, with 1-(1-s^bits)
    * ^tables recall per pair. Output: (a, b, cosine), a < b.
    */
  def nearDupPairs(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      threshold: Double,
      maxBucketSize: Int = 1000): DataFrame = {
    requireMeta(spark, catalog, entry) // governed missing-index error
    val idx = load(spark, catalog, entry)
    val cands = graft.dedup.Dedup.bucketPairs(
      idx.select("id", "table", "key"), "table", "key", maxBucketSize)
    val va = idx.select(col("id").as("a"), col("embedding").as("ea"),
      col("norm").as("na")).distinct()
    val vb = idx.select(col("id").as("b"), col("embedding").as("eb"),
      col("norm").as("nb")).distinct()
    cands.join(va, "a").join(vb, "b")
      .withColumn("cosine",
        VectorFunctions.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** Approximate top-k: probe each query's own (table, key) buckets — a
    * `tables`-partition pruned scan — then exact cosine over the union.
    * A vector always lands in its own buckets, so a stored vector queried
    * by its own embedding has recall 1 at rank 1.
    *
    * `multiProbe` > 0 additionally probes that many single-bit-flip
    * neighbor keys per table (lowest-margin bits first,
    * [[probeKeysOf]]) — still a pruned scan of
    * `tables * (1 + multiProbe)` partitions, trading a linear scan-width
    * increase for the recall that would otherwise need more tables on
    * disk.
    */
  def search(
      index: DataFrame,
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      dim: Int,
      bits: Int = 8,
      tables: Int = 8,
      seed: Long = 42L,
      multiProbe: Int = 0): DataFrame = {
    val ps = planes(dim, bits, tables, seed)
    val results = queries.map { case (qIdx, qVec) =>
      val probeKeys = ps.zipWithIndex.map { case (tp, t) =>
        (t, probeKeysOf(qVec, tp, multiProbe)) }
      val probed = probeKeys.map { case (t, keys) =>
        index.filter(col("table") === t && col("key").isin(keys: _*))
      }.reduce(_ unionAll _)
      probed
        .select("id", "embedding", "norm").distinct() // a vector can match in several tables
        .withColumn("score",
          graft.search.Semantic.scoreAgainst(col("embedding"), col("norm"), qVec))
        .withColumn("query_idx", lit(qIdx))
        .select("query_idx", "id", "score")
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
    }
    results.reduceOption(_ unionAll _).getOrElse(
      index
        .withColumn("score", lit(0.0)).withColumn("query_idx", lit(0))
        .select("query_idx", "id", "score").limit(0))
  }
}
