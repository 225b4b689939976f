package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ingest.Ingest
import graft.model.CollectionEntry

/** Persistent lexical (inverted) index: the postings table (id, dl, term,
  * tf) written PARTITIONED BY a stable hash bucket of the term — the
  * lexical analog of [[graft.ann.IvfIndex]] and the engine's durable
  * counterpart of the reference's GIN index over to_tsvector
  * (reference: vector_mcp/vectordb/postgres.py:189-196).
  *
  * Query-time shape at any scale: a term list maps (driver-side, same hash)
  * to its bucket set, the scan prunes to those parquet partitions
  * (PartitionFilters, physically skipped dirs), and the term equality
  * filter lands as a pushed data filter inside the surviving buckets. A
  * 3-term query over a B-bucket index reads <= 3/B of the postings
  * regardless of corpus size.
  */
object LexIndex extends graft.DerivedIndex {

  val key = "lexical"
  override val compactKey = Some("postings")
  protected val suffix = ".postings"
  val partCols = Seq("bucket")
  // rows sorted by term inside each file so parquet row-group min/max
  // stats prune term lookups within a bucket
  val sortCols = Seq("term")
  val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, dl INT, term STRING, tf BIGINT, bucket INT")

  /** Bucket count: enough for 64x scan pruning, few enough that tiny
    * collections do not fragment into thousands of files.
    */
  val NumBuckets = 64

  /** Stable term -> bucket hash, definable identically in any SQL oracle:
    * first two hex chars of md5, mod NumBuckets.
    */
  def bucketOf(term: Column): Column =
    conv(substring(md5(term), 1, 2), 16, 10).cast("int") % NumBuckets

  /** Driver-side mirror of [[bucketOf]] for query terms. */
  def bucketOfScala(term: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    ((d(0) & 0xff)) % NumBuckets
  }

  /** The index rows (id, dl, term, tf, bucket) for a set of documents —
    * the row-level unit both [[build]] (whole table) and the write path's
    * incremental partition refresh (Δ batch only) share.
    */
  def indexRows(docs: DataFrame): DataFrame =
    Ingest.postings(docs.select(col("id"), col("content")))
      .withColumn("bucket", bucketOf(col("term")))

  def affectedKeys(d: graft.Indexes.Delta): Seq[Seq[Any]] =
    graft.Indexes.keysOf(indexRows(d.both), partCols)

  def freshRows(d: graft.Indexes.Delta): DataFrame = indexRows(d.fresh)

  /** Build (or rebuild) the index from the collection's documents table. */
  def build(
      spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DataFrame = catalog.monitor {
    writeFull(catalog, entry, indexRows(catalog.readDocuments(entry)))
    load(spark, catalog, entry)
  }

  /** BM25 document statistics: N documents, mean document length. */
  final case class DocStats(n: Double, avgdl: Double)

  /** [[DocStats]] of a postings frame — one distinct aggregate over its
    * (id, dl) projection. An empty index (every document deleted since
    * the build) aggregates avg(dl) to NULL; any non-zero stand-in is
    * fine there, its pruned slice is empty so no row is ever scored.
    */
  def docStats(index: DataFrame): DocStats = {
    val r = index.select("id", "dl").distinct()
      .agg(count(lit(1)).as("n"), avg(col("dl").cast("double")).as("avgdl"))
      .collect()(0)
    DocStats(r.getLong(0).toDouble, if (r.isNullAt(1)) 1.0 else r.getDouble(1))
  }

  /** The persisted index's [[DocStats]], from the warehouse's serving
    * snapshot: derived once per write generation, not once per query.
    */
  def stats(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DocStats =
    catalog.snapshot("bm25 stats", indexPath(catalog, entry)) {
      docStats(load(spark, catalog, entry))
    }

  /** The bucket-pruned, term-filtered postings slice for a term list: the
    * bucket IN (...) predicate prunes partitions physically, term IN (...)
    * pushes into the surviving parquet.
    */
  def prunedPostings(index: DataFrame, terms: Seq[String]): DataFrame = {
    if (terms.isEmpty) return index.limit(0)
    val buckets = terms.map(bucketOfScala).distinct
    index
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
  }

  /** TF-sum top-k through the persistent index (plan shape of
    * [[Lexical.searchIndexed]] over the pruned slice).
    */
  def searchTf(index: DataFrame, queries: Seq[(Int, String)], k: Int): DataFrame = {
    val results = queries.map { case (qIdx, q) =>
      val terms = Lexical.tokenizeQuery(q)
      prunedPostings(index, terms)
        .groupBy("id")
        .agg(sum(col("tf")).cast("double").as("score"))
        .withColumn("query_idx", lit(qIdx))
        .select("query_idx", "id", "score")
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
    }
    results.reduceOption(_ unionAll _).getOrElse(
      Lexical.searchIndexed(index.select("id", "dl", "term", "tf"), Seq(0 -> ""), k).limit(0))
  }

  /** BM25 top-k through the persistent index. Everything term-wise runs on
    * the pruned slice only; the whole-population stats (N, avgdl) come
    * from `stats` — the serving snapshot's [[stats]] for a served index —
    * or, when absent, one [[docStats]] aggregate over `index`. Scores are
    * bit-identical to [[Lexical.searchBm25Indexed]] (same literal-ordered
    * term sum).
    */
  def searchBm25(
      index: DataFrame,
      queries: Seq[(Int, String)],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      stats: Option[DocStats] = None): DataFrame = {
    val allTerms = queries.flatMap { case (_, q) => Lexical.tokenizeQuery(q) }.distinct
    val sliced = prunedPostings(index, allTerms)
      .select("id", "dl", "term", "tf")
    val full = index.select("id", "dl", "term", "tf")
    val DocStats(n, avgdl) = stats.getOrElse(docStats(index))
    val dfByTerm: Map[String, Double] =
      if (allTerms.isEmpty) Map.empty
      else sliced.groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val results = queries.map { case (qIdx, q) =>
      val terms = Lexical.tokenizeQuery(q)
      val matched =
        if (terms.isEmpty) sliced.limit(0)
        else sliced.filter(col("term").isin(terms: _*))
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"f_$i")
      }
      val pivoted =
        if (tfCols.isEmpty) matched.select(col("id"), col("dl"))
        else matched.groupBy("id", "dl").agg(tfCols.head, tfCols.tail: _*)
      val score = terms.zipWithIndex.map { case (t, i) =>
        val df = dfByTerm.getOrElse(t, 0.0)
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        val f = col(s"f_$i").cast("double")
        lit(idf) * (f * (k1 + 1)) /
          (f + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / lit(avgdl)))
      }.reduceOption(_ + _).getOrElse(lit(0.0))
      pivoted
        .withColumn("score", score)
        .filter(col("score") > 0)
        .withColumn("query_idx", lit(qIdx))
        .select("query_idx", "id", "score")
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
    }
    results.reduceOption(_ unionAll _).getOrElse(
      Lexical.searchIndexed(full, Seq(0 -> ""), k).limit(0))
  }
}
