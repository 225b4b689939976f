package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.catalog.PartitionedTable
import graft.ingest.{DeterministicHashEmbedder, Ingest}

/** An interrupted partition swap is finished (or discarded) before the
  * table is written again: each crash state below is the on-disk state a
  * crash at that point of `replacePartitions` leaves, and after the next
  * write the table equals a full rebuild.
  */
class PartitionSwapSpec extends SparkSpec {
  import spark.implicits._

  private val Cols = Seq("id", "v", "bucket")

  private def frame(rows: Seq[(String, Int, Int)]): DataFrame = rows.toDF(Cols: _*)

  private def rowsOf(path: String): Set[(String, Int, Int)] =
    spark.read.parquet(path).select(Cols.head, Cols.tail: _*).as[(String, Int, Int)].collect().toSet

  private val base = for (b <- 0 until 4; i <- 0 until 3) yield (s"r$b-$i", i, b)
  // the interrupted write: bucket 1 gets new rows, bucket 2 drains empty
  private val crashed = Seq(("n1-0", 7, 1), ("n1-1", 8, 1))
  private val crashedDirs = Seq("bucket=1", "bucket=2")
  // the next write touches bucket 3
  private val next = Seq(("n3-0", 9, 3))

  private def table(): String = {
    val path = Files.createTempDirectory("graft-swap").resolve("t").toString
    PartitionedTable.write(frame(base), path, Seq("bucket"), Seq("id"))
    path
  }

  private def nextWrite(path: String): Unit =
    PartitionedTable.replacePartitions(frame(base.filter(_._3 == 3) ++ next), path,
      Seq("bucket"), Seq("id"), Seq("bucket=3"))

  private val rebuilt = base.filterNot(r => r._3 == 1 || r._3 == 2).toSet ++ crashed ++ next

  private def stageCrashed(path: String): Unit =
    PartitionedTable.stage(frame(crashed), path, Seq("bucket"), Seq("id"), crashedDirs)

  test("a staged swap that never started is finished by the next write") {
    val path = table()
    stageCrashed(path)
    nextWrite(path)
    assert(rowsOf(path) == rebuilt)
    assert(!Files.exists(Paths.get(path + ".delta")))
  }

  test("a crash between deleting a partition and moving its replacement in loses nothing") {
    val path = table()
    stageCrashed(path)
    PartitionedTable.deleteDir(Paths.get(path, "bucket=1"))
    nextWrite(path)
    assert(rowsOf(path) == rebuilt)
  }

  test("a crash partway through the swap loop leaves no mix of old and new partitions") {
    val path = table()
    stageCrashed(path)
    PartitionedTable.deleteDir(Paths.get(path, "bucket=1"))
    Files.move(Paths.get(path + ".delta", "bucket=1"), Paths.get(path, "bucket=1"))
    nextWrite(path)
    assert(rowsOf(path) == rebuilt)
    // finishing is idempotent: a second roll-forward changes nothing
    PartitionedTable.rollForward(path)
    assert(rowsOf(path) == rebuilt)
  }

  test("a staging dir without a manifest is discarded: the live table was never touched") {
    val path = table()
    PartitionedTable.write(frame(crashed), path + ".delta", Seq("bucket"), Seq("id"))
    nextWrite(path)
    assert(rowsOf(path) == base.toSet ++ next)
    assert(!Files.exists(Paths.get(path + ".delta")))
  }

  test("the catalog: a crash between deleting a row and moving its replacement in loses no collection") {
    val wh = Files.createTempDirectory("graft-catalog").toString
    val catalog = new graft.catalog.Catalog(spark, wh)
    Seq("a", "b").foreach(catalog.createCollection(_, 4))
    // re-creating b at dimension 8 staged its row, deleted the live one and died
    val b = catalog.tableName("b")
    PartitionedTable.stage(Seq(graft.model.CollectionEntry("b", b, 8)).toDF(),
      s"$wh/_catalog", Seq("table_name"), Nil, Seq(s"table_name=$b"))
    PartitionedTable.deleteDir(Paths.get(wh, "_catalog", s"table_name=$b"))
    catalog.createCollection("c", 4)
    assert(catalog.listCollections() == Seq("a", "b", "c"))
    assert(catalog.getCollection("b").dimension == 8)
    assert(!Files.exists(Paths.get(wh, "_catalog.delta")))
  }

  test("the documents table: the next write finishes an interrupted swap before it reads") {
    val api = new Api(spark, Files.createTempDirectory("graft-wh").toString,
      new DeterministicHashEmbedder(16))
    val texts = (0 until 40).map(i => s"swap document $i")
    api.createCollection("swap", documents = Some(texts.toDF("content")))
    api.buildLexicalIndex("swap")
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "swap"))
    val tablePath = api.catalog.tablePath(entry)
    val victim = Ingest.contentIdScala(texts(5))
    val b = Ingest.idBucketScala(victim)
    // a compaction of the victim's bucket staged its (row-identical) swap,
    // deleted the live dir and died
    PartitionedTable.stage(api.catalog.readDocumentsPhysical(entry).filter($"bucket" === b),
      tablePath, Seq("bucket"), Nil, Seq(s"bucket=$b"))
    PartitionedTable.deleteDir(Paths.get(tablePath, s"bucket=$b"))
    // the next write deletes from that bucket: its index maintenance reads
    // the victim's row before any swap of its own
    api.deleteDocuments("swap", Seq(victim))
    val ids = api.catalog.readDocuments(entry).select("id").as[String].collect().toSet
    assert(ids == texts.filterNot(_ == texts(5)).map(Ingest.contentIdScala).toSet)
    assert(graft.search.LexIndex.load(spark, api.catalog, entry).select("id").as[String]
      .collect().toSet == ids, "the lexical index kept the deleted document")
  }
}
