package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{Catalog, PartitionedTable}
import graft.model.{CollectionEntry, ErrorCodes, GraftException}

/** One persisted derived index: a partitioned parquet table beside the
  * documents table, plus the sidecars it is read and maintained with.
  *
  * Presence is one rule for every index: the index dir holds its write
  * job's `_SUCCESS`. A build invalidates its index first (drops the
  * marker), so every crash window reads as index-absent — search routes
  * answer the governed not-found error and writes leave the files alone —
  * never as a torn index. A present index whose required sidecar is gone
  * cannot be maintained at its build parameters, so a write fails loudly
  * naming the sidecar ([[requireIntact]]).
  */
trait DerivedIndex {

  /** Key in `Api.describeCollection`. */
  def key: String

  /** Key in `Api.compactStorage`; None keeps the index out of compaction. */
  def compactKey: Option[String] = Some(key)

  /** Suffix of the index dir after the documents table path. */
  protected def suffix: String

  def partCols: Seq[String]

  /** Within-partition sort of every write: full builds, maintenance and
    * compaction alike.
    */
  def sortCols: Seq[String]

  /** Declared read schema: partition columns keep their written types, and
    * an index a delete drained empty still reads (as zero rows).
    */
  def schema: StructType

  /** (label, path) of each sidecar a present index cannot be maintained
    * without.
    */
  def sidecars(catalog: Catalog, entry: CollectionEntry): Seq[(String, String)] = Nil

  /** The indexes whose rebuild re-derives this one
    * ([[Indexes.rebuildWithDependents]]).
    */
  def dependsOn(catalog: Catalog, entry: CollectionEntry): Seq[DerivedIndex] = Nil

  /** Governed error of a search route over an absent index. */
  def notFound: String = ErrorCodes.AnnIndexNotFound

  def indexPath(catalog: Catalog, entry: CollectionEntry): String =
    catalog.tablePath(entry) + suffix

  /** Present: the index dir and its write job's `_SUCCESS`. */
  def exists(catalog: Catalog, entry: CollectionEntry): Boolean =
    Files.exists(Paths.get(indexPath(catalog, entry), "_SUCCESS"))

  def requirePresent(catalog: Catalog, entry: CollectionEntry): Unit =
    if (!exists(catalog, entry)) throw new GraftException(notFound)

  def requireIntact(catalog: Catalog, entry: CollectionEntry): Unit =
    sidecars(catalog, entry).foreach { case (label, p) =>
      require(Files.exists(Paths.get(p)),
        s"$key index exists without its $label sidecar ($p) — rebuild it before writing")
    }

  /** Drop the `_SUCCESS` marker: the index reads as absent until a build
    * rewrites the whole dir.
    */
  def invalidate(catalog: Catalog, entry: CollectionEntry): Unit = catalog.monitor {
    Files.deleteIfExists(Paths.get(indexPath(catalog, entry), "_SUCCESS"))
  }

  /** The index rows, from the warehouse's serving snapshot; governed
    * [[notFound]] when the index is absent.
    */
  def load(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): DataFrame = {
    requirePresent(catalog, entry)
    catalog.snapshot("relation", indexPath(catalog, entry)) {
      spark.read.schema(schema).parquet(indexPath(catalog, entry))
    }
  }

  /** The one full-build write: every row of the index, overwritten. */
  protected def writeFull(catalog: Catalog, entry: CollectionEntry, rows: DataFrame): Unit =
    catalog.monitor {
      PartitionedTable.write(rows, indexPath(catalog, entry), partCols, sortCols)
    }

  /** Partition values (one Seq per partition, in [[partCols]] order) the
    * write's old and new rows live in — staged BEFORE the documents
    * rewrite, while the old rows are still readable.
    */
  def affectedKeys(d: Indexes.Delta): Seq[Seq[Any]]

  /** This index's rows for the write's fresh batch. */
  def freshRows(d: Indexes.Delta): DataFrame

  /** Whether the fresh rows add partitions to the staged keys (known only
    * once the batch is embedded, at apply time).
    */
  protected def freshKeys: Boolean = false

  /** The document an index row belongs to. */
  protected def docId: Column = col("id")

  /** Rewrite the affected partitions: their rows minus every changed
    * document's, plus the fresh rows.
    */
  def maintain(d: Indexes.Delta, staged: Seq[Seq[Any]]): Unit = {
    val fresh = freshRows(d)
    val keys = if (freshKeys) (staged ++ Indexes.keysOf(fresh, partCols)).distinct else staged
    if (keys.nonEmpty) {
      val kept = load(d.spark, d.catalog, d.entry)
        .filter(Indexes.inPartitions(partCols, keys))
        .withColumn("__doc", docId)
        .join(broadcast(d.ids.select(col("id").as("__doc"))), Seq("__doc"), "left_anti")
        .drop("__doc")
      PartitionedTable.replacePartitions(kept.unionByName(fresh),
        indexPath(d.catalog, d.entry), partCols, sortCols,
        keys.map(k => partCols.zip(k).map { case (c, v) => s"$c=$v" }.mkString("/")))
    }
  }

  /** Whether [[rederive]] can run (a dependent whose quantizer is gone
    * cannot, and is dropped instead).
    */
  def derivable(catalog: Catalog, entry: CollectionEntry): Boolean = true

  /** Re-derive the whole index from its rebuilt parent, under its own
    * frozen parameters.
    */
  def rederive(spark: SparkSession, catalog: Catalog, entry: CollectionEntry): Unit =
    throw new UnsupportedOperationException(s"$key index has no parent to re-derive from")
}

/** The registry of persisted derived indexes and the write-path protocol
  * that keeps them consistent with document writes.
  *
  * Reference parity: every backend maintains its indexes transactionally
  * with document writes (pg updates GIN/HNSW per INSERT, qdrant/mongo
  * index within upsert), and INCREMENTALLY: every index but the graph is
  * partitioned on a key that is a deterministic function of a row's
  * content/embedding (term hash bucket, IVF cluster, LSH table+key, id
  * bucket), so a write touching Δ documents computes exactly which
  * partitions the old and new versions of those rows live in, and
  * rewrites only those — O(Δ × partition) work per write.
  *
  * Two-phase protocol around the documents-table rewrite:
  *   1. [[stage]] BEFORE the rewrite — snapshots the changed rows (old
  *      versions still readable + incoming batch) off the table's lineage
  *      via localCheckpoint and computes each present index's affected
  *      partitions.
  *   2. [[applyPending]] AFTER the rewrite — each index, in registry
  *      order, [[DerivedIndex.maintain]]s its affected partitions (a
  *      partition left with no rows is deleted). The result is
  *      row-identical to a full rebuild (IndexRefreshSpec).
  */
object Indexes {

  /** Registry order: an index comes after every index it derives from. */
  lazy val All: Seq[DerivedIndex] = Seq(
    graft.search.LexIndex, graft.ann.IvfIndex, graft.ann.PqIndex,
    graft.ann.SignLshIndex, graft.dedup.MinHashIndex, graft.search.ChunkIndex,
    graft.search.ChunkIvfIndex, graft.search.ChunkPqIndex, graft.ann.GraphIndex)

  /** One write's delta, shared by every index's maintenance: the changed
    * rows' old versions, the fresh batch and the distinct changed ids
    * (all localCheckpoint'd, so they outlive the documents rewrite), plus
    * values two indexes share — the IVF/PQ and chunk-IVF/chunk-PQ cluster
    * sets, the fresh batch's embedded chunks — computed once.
    */
  final class Delta private[Indexes] (
      val spark: SparkSession,
      val catalog: Catalog,
      val entry: CollectionEntry,
      val old: DataFrame,
      val fresh: DataFrame,
      val ids: DataFrame) {
    val both: DataFrame = old.unionByName(fresh)
    private[graft] var embedder: graft.ingest.Embedder = _
    private val memo = mutable.HashMap.empty[String, Any]
    private val cached = mutable.Buffer.empty[DataFrame]

    def shared[T](name: String)(compute: => T): T =
      memo.getOrElseUpdate(name, compute).asInstanceOf[T]

    /** Cache `df` until the write's maintenance ends. */
    def cache(df: DataFrame): DataFrame = { cached += df; df.cache() }

    private[Indexes] def release(): Unit = cached.foreach(_.unpersist())
  }

  /** What one write touches: its delta and each present index's staged
    * partition values. Built by [[stage]]; consumed once by
    * [[applyPending]].
    */
  final case class Pending(delta: Delta, work: Seq[(DerivedIndex, Seq[Seq[Any]])])

  private val DeltaCols = Seq("id", "content", "embedding", "norm")

  /** Distinct values of `cols` over `rows` (one job). */
  def keysOf(rows: DataFrame, cols: Seq[String]): Seq[Seq[Any]] =
    rows.select(cols.map(col): _*).distinct().collect().map(_.toSeq).toSeq

  /** Rows in the partitions `keys` (pruned physically). */
  def inPartitions(cols: Seq[String], keys: Seq[Seq[Any]]): Column =
    if (cols.size == 1) col(cols.head).isin(keys.map(_.head): _*)
    else keys.map(k => cols.zip(k).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
      .reduce(_ || _)

  /** Phase 1 (call BEFORE the documents-table rewrite). `oldRows`: the
    * pre-write versions of the ids this write replaces or deletes;
    * `newRows`: the incoming batch; both with (id, content, embedding,
    * norm). None when no derived index is present: nothing to maintain,
    * no snapshot cost.
    */
  def stage(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      oldRows: DataFrame,
      newRows: DataFrame): Option[Pending] = {
    val live = All.filter(_.exists(catalog, entry))
    if (live.isEmpty) return None
    live.foreach(_.requireIntact(catalog, entry))
    // localCheckpoint severs lineage from the table path: the snapshots
    // stay valid (and Δ-sized) after the rewrite swaps the table dirs
    val old = oldRows.select(DeltaCols.map(col): _*).localCheckpoint()
    val fresh = newRows.select(DeltaCols.map(col): _*).localCheckpoint()
    val ids = old.unionByName(fresh).select("id").distinct().localCheckpoint()
    val d = new Delta(spark, catalog, entry, old, fresh, ids)
    Some(Pending(d, live.map(ix => ix -> ix.affectedKeys(d))))
  }

  /** Phase 2 (call AFTER the documents-table rewrite). `embedder` is the
    * collection's: the chunk index embeds the fresh batch's chunks here
    * (the late-interaction write-time cost; every other index derives its
    * rows without a model call).
    */
  def applyPending(pending: Option[Pending], embedder: graft.ingest.Embedder): Unit =
    pending.foreach { p =>
      p.delta.catalog.monitor {
        p.delta.embedder = embedder
        try p.work.foreach { case (ix, keys) => ix.maintain(p.delta, keys) }
        finally p.delta.release()
      }
    }

  /** Rebuild `parent` through `build` with its dependents kept
    * consistent: invalidate every present dependent (a crash anywhere
    * below then reads as dependent-absent, never as an index keyed to the
    * old parent), run `build`, then re-derive each dependent in registry
    * order — or drop it when it can no longer be derived (its quantizer
    * is gone). Dependents are resolved before `build`, which may change
    * them.
    */
  def rebuildWithDependents[T](
      spark: SparkSession, catalog: Catalog, entry: CollectionEntry, parent: DerivedIndex)(
      build: => T): T = catalog.monitor {
    val deps = All.foldLeft(Seq.empty[DerivedIndex]) { (acc, ix) =>
      if (ix.dependsOn(catalog, entry).exists(p => p == parent || acc.contains(p))) acc :+ ix
      else acc
    }.filter(_.exists(catalog, entry))
    deps.foreach(_.invalidate(catalog, entry))
    val out = build
    deps.foreach { d =>
      if (d.derivable(catalog, entry)) d.rederive(spark, catalog, entry)
      else PartitionedTable.deleteDir(Paths.get(d.indexPath(catalog, entry)))
    }
    out
  }

  /** A one-row sidecar table (an index's build parameters). */
  def writeMeta[T <: Product: TypeTag](spark: SparkSession, path: String, meta: T): Unit = {
    import spark.implicits._
    Seq(meta).toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  def readMeta[T <: Product: TypeTag](spark: SparkSession, path: String): Option[T] =
    if (!Files.exists(Paths.get(path))) None
    else {
      import spark.implicits._
      spark.read.parquet(path).as[T].collect().headOption
    }
}
