package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.functions.{TextFunctions, VectorFunctions}
import graft.model.{CollectionEntry, ErrorCodes, GraftException}

/** Document ingestion: sanitize -> content-address -> dedup -> embed ->
  * upsert, with the reference's bounds and error taxonomy.
  *
  * Write path (no ACID table format available): MERGE is an anti-join of
  * the existing table against the incoming batch, unioned with the batch,
  * written to a staging dir and swapped in (SURVEY §7.4). At 100 TB the
  * documents table is hash-partitioned by id prefix (`id_bucket`), so a
  * bounded batch (<= 1000 docs, vector_api.py:47-49) rewrites only the
  * buckets it touches, not the table.
  */
object Ingest {

  /** Content-addressed document id.
    *
    * Reference: `uuid5(NAMESPACE_OID, sha256(sanitized_content))`
    * (vector_api.py:312-314). uuid5 is a sha1 post-pass over the digest —
    * pure formatting, no added entropy — so per SURVEY §1.4 the engine's
    * stable surrogate is the sha256 hex itself formatted as a UUID-shaped
    * string (first 32 hex chars, dashed). Deterministic, collision-bounded
    * by sha256, and reproducible in any SQL oracle (DuckDB `sha256()`).
    */
  def contentId(content: Column): Column = {
    val h = sha2(content, 256)
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  /** Driver-side scalar mirror of [[contentId]]. */
  def contentIdScala(content: String): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(content.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20, 32)}"
  }

  /** Exact uuid5 (RFC 4122, SHA-1, NAMESPACE_OID) for callers that need
    * byte parity with the reference's ids; driver-side scalar.
    */
  def uuid5Oid(name: String): String = {
    val ns = Array(0x6b, 0xa7, 0xb8, 0x12, 0x9d, 0xad, 0x11, 0xd1,
      0x80, 0xb4, 0x00, 0xc0, 0x4f, 0xd4, 0x30, 0xc8).map(_.toByte)
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(ns); md.update(name.getBytes("UTF-8"))
    val d = md.digest().take(16)
    d(6) = ((d(6) & 0x0f) | 0x50).toByte // version 5
    d(8) = ((d(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
    val hex = d.map("%02x".format(_)).mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-${hex.substring(16, 20)}-${hex.substring(20, 32)}"
  }

  /** Prepare a raw (content[, metadata][, embedding]) batch: sanitize,
    * derive ids, drop duplicate ids keeping the LAST occurrence
    * (vector_api.py:363-366 — dict insert order, last wins).
    * `ord` must be a monotonically increasing input-order column.
    */
  def prepare(batch: DataFrame): DataFrame = {
    val withCols = batch
      .withColumn("content", Sanitize.sanitizeText(col("content")))
      .withColumn("metadata",
        if (batch.columns.contains("metadata")) Sanitize.sanitizeMetadata(col("metadata"))
        else map().cast("map<string,string>"))
      .withColumn("embedding",
        if (batch.columns.contains("embedding")) col("embedding").cast("array<float>")
        else lit(null).cast("array<float>"))
      .withColumn("id", contentId(col("content")))
      .withColumn("__ord", monotonically_increasing_id())
    // last-wins dedup by id
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("__ord").desc)
    withCols
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__ord")
  }

  /** prepare() without the last-wins id dedup — for insert_documents
    * callers whose batches must be id-unique (checked separately).
    */
  def prepareNoDedup(batch: DataFrame): DataFrame =
    batch
      .withColumn("content", Sanitize.sanitizeText(col("content")))
      .withColumn("metadata",
        if (batch.columns.contains("metadata")) Sanitize.sanitizeMetadata(col("metadata"))
        else map().cast("map<string,string>"))
      .withColumn("embedding",
        if (batch.columns.contains("embedding")) col("embedding").cast("array<float>")
        else lit(null).cast("array<float>"))
      .withColumn("id", contentId(col("content")))

  /** Bounds from vector_api.py:47-49 / :332-341, as one aggregate pass. */
  def checkBounds(batch: DataFrame): Unit = {
    val r = batch.agg(
      count(lit(1)).as("n"),
      max(octet_length(col("content")).cast("long")).as("maxb"),
      sum(octet_length(col("content")).cast("long")).as("totb"),
      min(octet_length(col("content")).cast("long")).as("minb")).collect()(0)
    val n = r.getAs[Long]("n")
    if (n == 0) throw new GraftException(ErrorCodes.DocumentInputRequired)
    if (n > graft.model.Limits.MaxDocuments)
      throw new GraftException(ErrorCodes.DocumentCountExceeded)
    if (r.getAs[Long]("maxb") > graft.model.Limits.MaxDocumentBytes ||
        r.getAs[Long]("minb") == 0L)
      throw new GraftException(ErrorCodes.DocumentContentInvalid)
    if (r.getAs[Long]("totb") > graft.model.Limits.MaxDocumentTotalBytes)
      throw new GraftException(ErrorCodes.DocumentTotalSizeExceeded)
  }

  /** Duplicate ids WITHIN a batch => `document_ids_duplicate`
    * (epistemic_graph.py:198-200, qdrant.py:177-179). One aggregate pass.
    */
  def assertNoDuplicateIds(batch: DataFrame): Unit = {
    val r = batch.agg(
      count(lit(1)).as("n"),
      countDistinct(col("id")).as("d")).collect()(0)
    if (r.getAs[Long]("n") != r.getAs[Long]("d"))
      throw new GraftException(ErrorCodes.DocumentIdsDuplicate)
  }

  /** Insert with `_upsert=false` semantics: any id already present =>
    * `document_exists` — ONE batched anti-check (a semi-join count), the
    * distributed analog of the reference's batched existence check
    * (epistemic_graph.py:201-204).
    */
  def assertNoneExist(existing: DataFrame, batch: DataFrame): Unit = {
    val clash = existing.join(batch.select("id"), Seq("id"), "left_semi").limit(1).count()
    if (clash > 0) throw new GraftException(ErrorCodes.DocumentExists)
  }

  /** Bloom-accelerated existence check: identical semantics to
    * [[assertNoneExist]] (bloom filters have no false negatives, so every
    * real duplicate reaches the exact phase) at O(batch) cost against a
    * corpus-sized table. The batch's ids split against the corpus sketch;
    * when nothing possibly-exists — the common incremental-ingest case —
    * NO corpus read happens at all; otherwise the exact semi-join runs
    * over only the suspects' id buckets (the getByIds point-scan shape),
    * not the whole table.
    */
  def assertNoneExistBloom(
      catalog: graft.catalog.Catalog, entry: graft.model.CollectionEntry,
      batch: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): Unit = {
    // batch is caller-cached; the suspect slice is fpp-sized + real dups
    val (_, possibly) = BloomGate.split(batch.select("id"), "id", bloom)
    val suspects = possibly.localCheckpoint()
    if (suspects.limit(1).count() == 0L) return // zero corpus I/O
    val buckets = bucketsOf(suspects)
    val clash = catalog.readDocumentsPhysical(entry)
      .filter(col("bucket").isin(buckets: _*))
      .join(suspects, Seq("id"), "left_semi").limit(1).count()
    if (clash > 0) throw new GraftException(ErrorCodes.DocumentExists)
  }

  /** Delete by id list = anti-join rewrite (postgres.py:283-294). */
  def deletePlan(existing: DataFrame, ids: Seq[String]): DataFrame = {
    if (ids == null || ids.isEmpty)
      throw new GraftException(ErrorCodes.DocumentIdsRequired)
    existing.filter(!col("id").isin(ids: _*))
  }

  /** Point lookup; missing ids silently absent (base.py:233-253,
    * epistemic_graph.py:265-269).
    */
  def getByIds(existing: DataFrame, ids: Seq[String]): DataFrame = {
    if (ids == null || ids.isEmpty)
      throw new GraftException(ErrorCodes.DocumentIdsRequired)
    existing.filter(col("id").isin(ids: _*))
  }

  /** Add the precomputed L2 norm column (scale: one array pass at ingest
    * buys every future query two array passes).
    */
  def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", VectorFunctions.l2Norm(col("embedding")))

  /** Derived posting/TF table — the "inverted index" analog
    * (postgres GIN index, postgres.py:189-196) as a plain DataFrame:
    * (id, term, tf, dl). Built once at ingest; lexical search over an
    * indexed collection is then a semi-join on terms instead of a content
    * scan. Fully codegen'd (explode + hash aggregate).
    */
  def postings(docs: DataFrame): DataFrame = {
    docs
      .select(col("id"), TextFunctions.tokens(col("content")).as("toks"))
      .withColumn("dl", size(col("toks")))
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
  }

  /** Bucket count of the documents table's id-hash partitioning. 64 keeps
    * tiny dev collections from fragmenting; the 100 TB deployment knob is
    * this one constant (e.g. 4096 → ~25 GB rewrite units).
    *
    * The bucketed layout is the engine's v1 (and only) on-disk format:
    * every path that writes a documents table partitions by `bucket`, so
    * bucket-pruned reads and bucket-level merges see every row by
    * construction. There is no reader for un-bucketed root-level files —
    * a table produced by something else entirely must be re-ingested, not
    * mounted; and changing NumDocBuckets on an EXISTING warehouse
    * likewise requires a rebuild (ids would hash to different buckets).
    */
  val NumDocBuckets = 64

  /** Stable id → bucket hash (first two hex chars of md5, mod buckets) —
    * the same definable-anywhere form as LexIndex.bucketOf, so any oracle
    * can replay the layout.
    */
  def idBucket(id: Column): Column =
    conv(substring(md5(id), 1, 2), 16, 10).cast("int") % NumDocBuckets

  /** Driver-side mirror of [[idBucket]] — lets delete-by-ids compute its
    * touched buckets with zero Spark jobs.
    */
  def idBucketScala(id: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8"))
    (d(0) & 0xff) % NumDocBuckets
  }

  /** MERGE a prepared batch into the table by rewriting ONLY the id
    * buckets the batch touches: surviving rows of those buckets (anti-join
    * on batch ids) plus the batch. An old and new version of an id share a
    * bucket (bucket = f(id)), so the touched set is exactly the batch's
    * buckets — O(batch × bucket) work per write at any corpus size.
    */
  /** The distinct id buckets a batch maps to (one tiny job). */
  def bucketsOf(batch: DataFrame): Seq[Int] =
    batch.select(idBucket(col("id")).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq

  def mergeUpsert(
      spark: SparkSession, catalog: Catalog, entry: CollectionEntry,
      batch: DataFrame, bucketsHint: Option[Seq[Int]] = None): Unit = catalog.monitor {
    val cols = Seq("id", "content", "metadata", "embedding", "norm")
    val withBucket = batch.select(cols.map(col): _*)
      .withColumn("bucket", idBucket(col("id")))
    val buckets = bucketsHint.getOrElse(bucketsOf(batch))
    val existing = catalog.readDocumentsPhysical(entry)
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(batch.select("id")), Seq("id"), "left_anti")
      .select((cols :+ "bucket").map(col): _*)
    graft.catalog.PartitionedTable.replacePartitions(
      existing.unionByName(withBucket), catalog.tablePath(entry),
      Seq("bucket"), sortCol = None,
      affectedDirs = buckets.map(b => s"bucket=$b"))
  }

  /** Delete ids by rewriting only their buckets (computed driver-side —
    * no job). Validation matches [[deletePlan]].
    */
  def mergeDelete(
      spark: SparkSession, catalog: Catalog, entry: CollectionEntry,
      ids: Seq[String]): Unit = catalog.monitor {
    if (ids == null || ids.isEmpty)
      throw new GraftException(ErrorCodes.DocumentIdsRequired)
    val buckets = ids.map(idBucketScala).distinct
    val survivors = catalog.readDocumentsPhysical(entry)
      .filter(col("bucket").isin(buckets: _*))
      .filter(!col("id").isin(ids: _*))
    graft.catalog.PartitionedTable.replacePartitions(
      survivors, catalog.tablePath(entry),
      Seq("bucket"), sortCol = None,
      affectedDirs = buckets.map(b => s"bucket=$b"))
  }
}
