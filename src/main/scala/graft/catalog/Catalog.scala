package graft.catalog

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.model.{CollectionEntry, ErrorCodes, GraftException, Schemas}
import PartitionedTable.deleteDir

/** Collection catalog + DDL — the engine's storage layer.
  *
  * One Parquet directory per collection under a warehouse dir, plus a tiny
  * `_catalog` Parquet table `(collection_name, table_name, dimension)`,
  * one `table_name=` partition per collection, mirroring the reference's
  * registry table
  * (reference: vector_mcp/vectordb/postgres.py:106-115). Physical table
  * naming is the same scheme: `vm_` + first 24 hex chars of
  * sha256(collection_name) (postgres.py:33-35). Tenant scoping prefixes the
  * logical name with `t_<sha256(tenant)[:16]>_` (vector_api.py:216-223).
  *
  * Scale note: catalog rows are O(#collections) — always tiny — and each
  * catalog mutation swaps only its own collection's row. Collection DATA paths are what grow;
  * they are only ever appended/swapped as whole Parquet dirs, and at 100 TB
  * a collection dir is partitioned (see Ingest.upsert) so a swap touches
  * only affected partitions.
  */
final class Catalog(spark: SparkSession, val warehouseDir: String) {

  private val catalogDir = s"$warehouseDir/_catalog"

  /** The warehouse's write monitor ([[WarehouseMonitor]]): every mutator
    * of this warehouse's files runs inside it, and reads memoize their
    * file-derived state through [[snapshot]].
    */
  val monitor: WarehouseMonitor = WriteLocks.forWarehouse(warehouseDir)

  /** Memoize `compute` — a pure function of the files under `path` — in
    * the warehouse's serving snapshot, per session.
    */
  def snapshot[T](kind: String, path: String)(compute: => T): T =
    monitor.snapshot((kind, path, spark))(compute)

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Physical table dir name for a collection (postgres.py:33-35). */
  def tableName(collection: String): String = "vm_" + sha256Hex(collection).take(24)

  def tablePath(entry: CollectionEntry): String = s"$warehouseDir/${entry.table_name}"

  /** Derived artifact dirs that live NEXT TO the table dir (ANN index,
    * persisted centroids, posting index, staging). They must die with the
    * collection: a recreate under the same name maps to the same table
    * path, and a surviving index would silently serve the previous
    * incarnation's data.
    */
  private def deleteTableAndDerived(entry: CollectionEntry): Unit = {
    val table = Paths.get(tablePath(entry))
    deleteDir(table)
    // every derived artifact is a SIBLING named "<table>.<suffix>" —
    // delete by prefix instead of an enumerated suffix list, which
    // silently leaked newer sidecars (the chunk index survived a
    // collection delete and would have been resurrected STALE by a
    // same-name re-create; predicate-sweep sinks carry a hash in the
    // name and can never be enumerated)
    val parent = table.getParent
    val prefix = table.getFileName.toString + "."
    if (parent != null && Files.exists(parent)) {
      val stream = Files.list(parent)
      try stream.iterator().asScala
        .filter(_.getFileName.toString.startsWith(prefix))
        .foreach(deleteDir)
      finally stream.close()
    }
  }

  /** Tenant-scoped physical collection name (vector_api.py:216-223). */
  def physicalName(tenant: String, logical: String): String =
    s"t_${sha256Hex(tenant).take(16)}_$logical"

  def entries(): Seq[CollectionEntry] = snapshot("entries", catalogDir) {
    if (!Files.exists(Paths.get(catalogDir))) Seq.empty
    else {
      import spark.implicits._
      spark.read.schema(Schemas.catalog).parquet(catalogDir)
        .as[CollectionEntry].collect().toSeq
    }
  }

  /** Replace one collection's catalog row (`None` removes it). The catalog
    * is partitioned by `table_name`, so the write swaps only that
    * collection's partition through [[PartitionedTable.replacePartitions]]:
    * a crash mid-swap leaves its manifest, which the next write rolls
    * forward, and no write can drop another collection's row.
    */
  private def writeEntry(tableName: String, row: Option[CollectionEntry]): Unit = {
    import spark.implicits._
    PartitionedTable.replacePartitions(spark.createDataset(row.toSeq).toDF(), catalogDir,
      Seq("table_name"), Nil, Seq(s"table_name=$tableName"))
  }

  /** 3-case create contract (reference: vectordb/base.py:88-105):
    * missing -> create; exists+overwrite -> drop & recreate;
    * exists+no-overwrite -> get if getOrCreate else `collection_exists`.
    * Re-opening with a different dimension raises
    * `collection_vector_schema_mismatch` (postgres.py:163-172).
    */
  def createCollection(
      name: String,
      dimension: Int,
      overwrite: Boolean = false,
      getOrCreate: Boolean = true): CollectionEntry = monitor {
    if (dimension <= 0) throw new GraftException(ErrorCodes.EmbeddingInvalid)
    val es = entries()
    es.find(_.collection_name == name) match {
      case Some(e) if !overwrite =>
        if (!getOrCreate) throw new GraftException(ErrorCodes.CollectionExists)
        if (e.dimension != dimension)
          throw new GraftException(ErrorCodes.CollectionVectorSchemaMismatch)
        e
      case existing =>
        val entry = CollectionEntry(name, tableName(name), dimension)
        if (existing.isDefined) deleteTableAndDerived(entry)
        // materialize an empty table with the frozen schema, in the
        // bucket-partitioned physical layout (an empty partitioned write
        // creates no stray root-level data file — every data file the
        // table will ever hold lives under a bucket= dir)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.documentsPhysical)
          .write.partitionBy("bucket")
          .mode(SaveMode.Overwrite).parquet(tablePath(entry))
        writeEntry(entry.table_name, Some(entry))
        entry
    }
  }

  /** `collection_not_found` when absent (postgres.py:209-214). */
  def getCollection(name: String): CollectionEntry =
    entries().find(_.collection_name == name)
      .getOrElse(throw new GraftException(ErrorCodes.CollectionNotFound))

  /** All collection names, sorted (postgres.py:216-223). */
  def listCollections(): Seq[String] = entries().map(_.collection_name).sorted

  /** Tenant view: filter by prefix, strip it, dedupe, sort
    * (vector_api.py:455-476).
    */
  def listCollections(tenant: String): Seq[String] = {
    val prefix = s"t_${sha256Hex(tenant).take(16)}_"
    listCollections().filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix)).distinct.sorted
  }

  /** Drop table dir + derived indexes + catalog row (postgres.py:225-239). */
  def deleteCollection(name: String): Unit = monitor {
    val entry = getCollection(name)
    deleteTableAndDerived(entry)
    writeEntry(entry.table_name, None)
  }

  /** The logical documents table (bucket partition column dropped). */
  def readDocuments(entry: CollectionEntry): DataFrame =
    readDocumentsPhysical(entry).drop("bucket")

  /** The physical layout: logical columns + the id-hash `bucket` partition
    * column (declared, not inferred — see IvfIndex.schema), for
    * writers doing partition-level merges and readers that prune buckets.
    */
  def readDocumentsPhysical(entry: CollectionEntry): DataFrame =
    snapshot("relation", tablePath(entry)) {
      spark.read.schema(Schemas.documentsPhysical).parquet(tablePath(entry))
    }

  /** Point lookups with physical bucket pruning: ids map driver-side to
    * their buckets, the scan skips every other partition dir. The missing-
    * ids-silently-absent semantics stay in Ingest.getByIds.
    */
  def readDocumentsForIds(entry: CollectionEntry, ids: Seq[String]): DataFrame = {
    if (ids == null || ids.isEmpty) return readDocuments(entry)
    val buckets = ids.map(graft.ingest.Ingest.idBucketScala).distinct
    readDocumentsPhysical(entry)
      .filter(org.apache.spark.sql.functions.col("bucket").isin(buckets: _*))
      .drop("bucket")
  }
}
