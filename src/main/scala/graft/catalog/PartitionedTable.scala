package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Partition-level replacement for hash/cluster-partitioned parquet tables
  * (the documents table's id buckets and every derived index).
  *
  * [[replacePartitions]] rebuilds ONLY the named partition dirs from
  * `replacement` (which must contain rows for exactly those partitions):
  * write to a sibling `.delta` staging dir, record the affected dirs in a
  * manifest there, then per partition delete the live dir and move the
  * staged one in — an absent staged dir means the partition drained empty
  * and the delete stands alone, so a stale partition can never survive a
  * write that emptied it. The same swap discipline as a full rewrite
  * (never reads and overwrites one path in a single job); on a
  * distributed filesystem each move is one rename.
  *
  * A crash mid-swap leaves the manifest behind; [[rollForward]] finishes
  * that swap (idempotently) before the table is written again, and a
  * staging dir without a manifest — the live table never touched — is
  * discarded.
  */
object PartitionedTable {

  private val Staging = ".delta"
  private val Manifest = "_MANIFEST"

  /** One write of `rows` to `path`: one writer per partition (no
    * tasks × partitions small files), rows sorted within each file so
    * parquet row-group stats prune on `sortCols`, overwrite.
    */
  def write(rows: DataFrame, path: String, partCols: Seq[String], sortCols: Seq[String]): Unit = {
    val repart = rows.repartition(partCols.map(col): _*)
    (if (sortCols.isEmpty) repart else repart.sortWithinPartitions(sortCols.map(col): _*))
      .write.partitionBy(partCols: _*).mode(SaveMode.Overwrite).parquet(path)
  }

  def replacePartitions(
      replacement: DataFrame,
      tablePath: String,
      partCols: Seq[String],
      sortCols: Seq[String],
      affectedDirs: Seq[String]): Unit = {
    rollForward(tablePath)
    stage(replacement, tablePath, partCols, sortCols, affectedDirs)
    rollForward(tablePath)
  }

  /** The first half of [[replacePartitions]]: the staged write, then the
    * manifest of `affectedDirs`, each marked with whether it has a staged
    * replacement (an unmarked dir drained empty). The live table is
    * untouched until [[rollForward]].
    */
  def stage(
      replacement: DataFrame,
      tablePath: String,
      partCols: Seq[String],
      sortCols: Seq[String],
      affectedDirs: Seq[String]): Unit = {
    val staging = Paths.get(tablePath + Staging)
    write(replacement, staging.toString, partCols, sortCols)
    val lines = affectedDirs.map(rel => s"${Files.exists(staging.resolve(rel))}\t$rel")
    val tmp = staging.resolve(Manifest + ".tmp")
    Files.write(tmp, lines.asJava)
    Files.move(tmp, staging.resolve(Manifest), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Finish an interrupted swap of `tablePath`: for each manifest entry,
    * delete the live dir and move the staged one in — an entry whose
    * staged dir is already gone was moved before the crash and is left
    * alone, so a repeated roll-forward changes nothing. A staging dir
    * without a manifest is discarded.
    */
  def rollForward(tablePath: String): Unit = {
    val staging = Paths.get(tablePath + Staging)
    val manifest = staging.resolve(Manifest)
    if (Files.exists(manifest))
      Files.readAllLines(manifest).asScala.filter(_.nonEmpty).foreach { line =>
        val Array(staged, rel) = line.split("\t", 2)
        val src = staging.resolve(rel)
        val target = Paths.get(s"$tablePath/$rel")
        if (staged.toBoolean) {
          if (Files.exists(src)) {
            deleteDir(target)
            Files.createDirectories(target.getParent)
            Files.move(src, target, StandardCopyOption.ATOMIC_MOVE)
          }
        } else deleteDir(target)
      }
    deleteDir(staging)
  }

  /** [[rollForward]] every table of `warehouseDir` with a leftover
    * staging dir — a write then starts from finished tables.
    */
  private[catalog] def rollForwardAll(warehouseDir: String): Unit = {
    val dir = Paths.get(warehouseDir)
    if (Files.isDirectory(dir))
      listAll(dir).map(_.toString).filter(_.endsWith(Staging))
        .foreach(p => rollForward(p.stripSuffix(Staging)))
  }

  def deleteDir(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally stream.close()
    }

  /** Children of `dir`, with the listing stream CLOSED (an unclosed
    * Files.list leaks a file handle per call — a long-lived driver JVM
    * running periodic maintenance would bleed descriptors).
    */
  private def listAll(dir: Path): Seq[Path] = {
    val stream = Files.list(dir)
    try stream.toArray.toSeq.map(_.asInstanceOf[Path])
    finally stream.close()
  }

  /** Bin-pack fragmented partitions. Every incremental write leaves at
    * least one new file in each touched partition dir, so a frequently-
    * written bucket accumulates files and scan cost grows with WRITE COUNT
    * instead of data size — the classic small-files problem. This rewrites
    * ONLY partitions holding more than `maxFiles` parquet files, each down
    * to one file (bucket/partition granularity IS the size unit — the
    * bucket-count constant is the deployment sizing knob), through the
    * same stage-and-swap discipline as [[replacePartitions]]. Pure layout:
    * row-identical, no schema or partitioning change. Returns the relative
    * partition dirs compacted.
    */
  def compactPartitions(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      partCols: Seq[String],
      sortCol: Option[String],
      maxFiles: Int = 4): Seq[String] =
    compact(spark, tablePath, partCols, sortCol.toSeq, maxFiles)

  /** [[compactPartitions]] with the table's full sort key. */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      partCols: Seq[String],
      sortCols: Seq[String],
      maxFiles: Int): Seq[String] = {
    require(maxFiles >= 1, s"need maxFiles >= 1 (got $maxFiles)")
    val base = Paths.get(tablePath)
    if (!Files.exists(base)) return Seq.empty
    // partition dirs = partCols.size levels of `col=value` directories
    def partDirs(dir: Path, level: Int): Seq[Path] =
      if (level == partCols.size) Seq(dir)
      else {
        val prefix = partCols(level) + "="
        val kids = listAll(dir)
          .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix))
        kids.flatMap(partDirs(_, level + 1))
      }
    val fragmented = partDirs(base, 0).filter { d =>
      listAll(d).count(_.getFileName.toString.endsWith(".parquet")) > maxFiles
    }
    if (fragmented.isEmpty) return Seq.empty
    val rels = fragmented.map(d => base.relativize(d).toString)
    // basePath keeps the partition columns while reading only the
    // fragmented dirs; replacePartitions' repartition on the partition
    // keys lands each key in one task = one output file per dir
    val df = spark.read.option("basePath", tablePath)
      .parquet(fragmented.map(_.toString): _*)
    replacePartitions(df, tablePath, partCols, sortCols, rels)
    rels
  }
}
