package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Indexes.Delta
import graft.catalog.Catalog
import graft.model.CollectionEntry

/** Build-time configuration of a persistent MinHash index, persisted as a
  * one-row sidecar table next to the index itself (same durability
  * contract as [[graft.ann.LshMeta]]: the parameters are part of the
  * index, never derived from index rows, so they survive a write that
  * empties the collection).
  */
final case class MinHashMeta(bands: Int, shingleN: Int)

/** Persistent MinHash band-bucket index over document CONTENT — the
  * content-dedup counterpart of the embedding-side
  * [[graft.ann.SignLshIndex]]. Powers dedup-on-write against the whole
  * corpus at O(batch) probe cost: without it, gating a batch for textual
  * near-duplicates means re-shingling and re-banding every document ever
  * ingested on every write.
  *
  * Layout: one row per (document, band) with the band's minhash bucket
  * key, physically partitioned by `pbucket = hash(band, key) mod
  * NumBuckets` — the [[graft.search.LexIndex]] trick: a fixed number of
  * partition dirs (no per-key dir explosion; bucket-key cardinality is
  * ~p^2), rows sorted by `key` inside each file so parquet row-group
  * min/max stats prune key lookups within a dir. A probing batch computes
  * its own band keys, visits only its keys' pbucket dirs, and every
  * candidate it surfaces is verified with EXACT Jaccard over full shingle
  * sets — the index decides which pairs get looked at, never what is
  * reported (same exactness stance as [[Dedup.minHashNearDups]]).
  *
  * Maintained incrementally by [[graft.Indexes]] like every other derived
  * index: a write stages the affected pbucket partitions from the delta's
  * own band keys and rewrites only those — O(batch), not O(corpus).
  */
object MinHashIndex extends graft.DerivedIndex {

  val key = "minhash"
  protected val suffix = ".minhash"
  val partCols = Seq("pbucket")
  val sortCols = Seq("key")
  val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, band INT, `key` STRING, pbucket INT")
  override def notFound: String = graft.model.ErrorCodes.DedupIndexNotFound

  override def sidecars(catalog: Catalog, entry: CollectionEntry): Seq[(String, String)] =
    Seq("meta" -> metaPath(catalog, entry))

  private def meta(d: Delta): MinHashMeta =
    d.shared("minhash meta")(requireMeta(d.spark, d.catalog, d.entry))

  def affectedKeys(d: Delta): Seq[Seq[Any]] =
    graft.Indexes.keysOf(indexRows(d.both, meta(d)), partCols)

  def freshRows(d: Delta): DataFrame = indexRows(d.fresh, meta(d))

  /** Physical partition-dir count; same sizing logic as
    * [[graft.search.LexIndex.NumBuckets]].
    */
  val NumBuckets = 64

  def metaPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + ".minhash.meta"

  def loadMeta(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Option[MinHashMeta] =
    graft.Indexes.readMeta[MinHashMeta](spark, metaPath(catalog, entry))

  /** Governed form: a missing index surfaces the stable error code, not a
    * raw storage exception.
    */
  def requireMeta(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): MinHashMeta =
    loadMeta(spark, catalog, entry).getOrElse(
      throw new graft.model.GraftException(graft.model.ErrorCodes.DedupIndexNotFound))

  /** The index rows (id, band, key, pbucket) for a set of documents
    * ((id, content)) under a given layout — the row-level unit [[build]]
    * (whole table) and the incremental partition refresh (Δ batch only)
    * share. Banding config matches [[Dedup.minHashNearDups]]: 32 seeded
    * permutations, `bands` keys of 32/bands concatenated min-hashes.
    */
  def indexRows(docs: DataFrame, meta: MinHashMeta): DataFrame = {
    val sets = Dedup.shingleSets(docs.select(col("id"), col("content")), meta.shingleN)
    val sigs = Dedup.minHashSignatures(
      sets.select(col("id"), explode(col("shs")).as("sh")))
    val rowsPerBand = Dedup.MinHashSeeds.size / meta.bands
    val bandKeys = (0 until meta.bands).map { b =>
      concat_ws("_", (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    }
    sigs.select(col("id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
      .withColumn("pbucket",
        pmod(xxhash64(col("band"), col("key")), lit(NumBuckets)).cast("int"))
  }

  /** Build (or rebuild) the index from the collection's documents table. */
  def build(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      bands: Int = 16,
      shingleN: Int = 3): DataFrame = catalog.monitor {
    require(Dedup.MinHashSeeds.size % bands == 0,
      s"bands=$bands must divide ${Dedup.MinHashSeeds.size}")
    invalidate(catalog, entry)
    val meta = MinHashMeta(bands, shingleN)
    graft.Indexes.writeMeta(spark, metaPath(catalog, entry), meta)
    writeFull(catalog, entry,
      indexRows(catalog.readDocuments(entry).select(col("id"), col("content")), meta))
    load(spark, catalog, entry)
  }

  /** Ids of `batch` rows ((id, content)) whose text near-duplicates an
    * already-ingested document with a DIFFERENT id at Jaccard >=
    * `threshold` — the content-side dedup-on-write core
    * (Api.addDocumentsDedupContent). Probe cost is O(batch): the batch's
    * own band keys select at most NumBuckets pbucket partitions (row-group
    * stats prune inside each), candidate pairs are distinct (batch id,
    * corpus id) band collisions, and only the CANDIDATE corpus documents —
    * an output-sized set — are re-read (bucket-pruned point scan) and
    * re-shingled for the exact-Jaccard verify. Same-id collisions are
    * ignored, so re-upserting a document never self-flags.
    */
  /** Candidate-id reads switch strategy at this count: below it, ids
    * collect to the driver and fetch through the id-bucket-pruned point
    * scan (fastest when candidates are output-sized — the normal case);
    * above it — a duplicate-heavy corpus can make one band bucket's
    * candidates corpus-sized — the read degrades to a distributed
    * left-semi join against the documents table: same rows, no
    * driver-side materialization to blow up.
    */
  private[graft] val CollectLimit = 100000

  /** Shingle sets of the candidate documents, by whichever read strategy
    * the candidate count calls for (see [[CollectLimit]]).
    */
  private[graft] def candidateSets(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      candIds: DataFrame, // (id), distinct
      shingleN: Int,
      collectLimit: Int = CollectLimit): DataFrame = {
    val n = candIds.count()
    // readDocumentsForIds prunes to the ids' BUCKETS (the physical lever);
    // the exact id cut happens here, so bucket-mates are never shingled
    val docs =
      if (n <= collectLimit) {
        val ids = candIds.collect().map(_.getString(0)).toSeq
        catalog.readDocumentsForIds(entry, ids)
          .filter(col("id").isin(ids: _*))
      } else catalog.readDocuments(entry).join(candIds, Seq("id"), "left_semi")
    Dedup.shingleSets(docs.select(col("id"), col("content")), shingleN)
  }

  /** Corpus-wide near-dup PAIRS served FROM the index — offline dedup
    * without re-shingling or re-banding the corpus: candidates are index
    * rows sharing a (band, key) (same guarded self-join as
    * [[Dedup.minHashNearDups]]: stop-bucket blacklist + singleton drop,
    * skew bounded by `maxBucketSize`), and only the documents appearing
    * in some candidate pair — an output-sized set — are re-read and
    * re-shingled for the exact-Jaccard verify. Identical pair set to
    * [[Dedup.minHashNearDups]] at the index's banding config
    * (spec-asserted); the signature/banding computation over the whole
    * corpus is what the persisted index amortizes across runs.
    */
  def nearDupPairs(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      threshold: Double,
      maxBucketSize: Int = 1000): DataFrame = {
    val meta = requireMeta(spark, catalog, entry)
    val banded = load(spark, catalog, entry).select("id", "band", "key")
    val cands = Dedup.bucketPairs(banded, "band", "key", maxBucketSize)
      .localCheckpoint()
    val candIds = cands.select(col("a").as("id"))
      .unionByName(cands.select(col("b").as("id")))
      .distinct()
    val sets = candidateSets(spark, catalog, entry, candIds, meta.shingleN)
    Dedup.verifyJaccard(cands, sets, threshold)
  }

  def nearDupIds(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      batch: DataFrame, // (id, content)
      threshold: Double): DataFrame = {
    val meta = requireMeta(spark, catalog, entry)
    val batchSets = Dedup.shingleSets(
      batch.select(col("id"), col("content")), meta.shingleN).localCheckpoint()
    val batchBands = indexRows(batch, meta)
      .select(col("id").as("nid"), col("band"), col("key"), col("pbucket"))
      .localCheckpoint()
    val parts = batchBands.select("pbucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (parts.isEmpty) return batch.select("id").limit(0)
    val cands = load(spark, catalog, entry)
      .filter(col("pbucket").isin(parts: _*))
      .select(col("id").as("eid"), col("band"), col("key"))
      .join(batchBands.drop("pbucket"), Seq("band", "key"))
      .filter(col("eid") =!= col("nid"))
      .select("nid", "eid").distinct().localCheckpoint()
    // candidate corpus docs: output-sized in the normal case and fetched
    // via the id-bucket-pruned point scan; corpus-sized in pathological
    // duplicate-heavy buckets, where the read degrades to a semi-join
    // (candidateSets). The index stores no shingle arrays — they would
    // multiply corpus storage by the band count.
    val corpusSets = candidateSets(spark, catalog, entry,
      cands.select(col("eid").as("id")).distinct(), meta.shingleN)
    cands
      .join(batchSets.select(col("id").as("nid"), col("shs").as("shn"),
        col("len").as("ln")), "nid")
      .join(corpusSets.select(col("id").as("eid"), col("shs").as("she"),
        col("len").as("le")), "eid")
      .withColumn("inter",
        graft.functions.VectorExpressions.sortedIntersectCount(col("shn"), col("she")))
      .filter(col("inter").cast("double") /
        (col("ln") + col("le") - col("inter")).cast("double") >= threshold)
      .select(col("nid").as("id")).distinct()
  }
}
