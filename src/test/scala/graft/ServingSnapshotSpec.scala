package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.ingest.{DeterministicHashEmbedder, Ingest}
import graft.model.{ErrorCodes, GraftException}
import graft.search.LexIndex

/** Serving snapshot (graft.catalog.WarehouseMonitor): reads memoize the
  * warehouse's file-derived state once per write, and every mutator ends
  * the generation — the next read after a write sees that write, through
  * the same handle or another handle over the same warehouse.
  */
class ServingSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 64
  private val Name = "rw"
  private val Topics = Seq("spark joins", "vector search", "stream ingest",
    "index build", "query plans", "storage layout", "retired topic")

  private def text(i: Int): String =
    s"record r$i covers ${Topics(i % Topics.size)} and item$i in detail"

  private def frame(texts: Seq[String]): DataFrame = texts.toDF("content")

  private def newWarehouse(): String = Files.createTempDirectory("graft-wh").toString

  private def newApi(dir: String): Api = new Api(spark, dir, new DeterministicHashEmbedder(Dim))

  private def idOf(content: String): String = Ingest.contentIdScala(content)

  /** Check every served view of `reader` against the model `expected`
    * (id -> content): counts, point lookups (live and `gone` ids), exact
    * and IVF-approx top-1 for `newest`, and BM25 from the lexical index
    * against the BM25 scan, scores included.
    */
  private def assertServes(reader: Api, expected: Map[String, String], gone: Seq[String],
      newest: Seq[String]): Unit = {
    assert(reader.describeCollection(Name)("documents") == expected.size.toLong, "document count")
    val probe = (expected.keys.toSeq.sorted.take(5) ++ gone).distinct
    val got = reader.getDocumentsByIds(Name, probe).select("id", "content").as[(String, String)]
      .collect().toMap
    assert(got == expected.filter { case (id, _) => probe.contains(id) }, "point lookup")
    newest.foreach { c =>
      val id = idOf(c)
      assert(reader.semanticSearch(Name, Seq(c), 3).results.head.id == id, s"exact top-1 for $c")
      val approx = reader.semanticSearchApprox(Name, Seq(c), 3).results
      assert(approx.head.id == id && math.abs(approx.head.score - 1.0) < 1e-6,
        s"approx top-1 for $c")
      assert(approx.forall(h => expected.contains(h.id)), "approx returned a stale id")
    }
    Seq("spark joins", "retired topic", "item3 item151 item160").foreach { q =>
      val indexed = reader.lexicalSearchBm25Indexed(Name, Seq(q), 1000).results.map(h => h.id -> h.score)
      val scanned = reader.lexicalSearchBm25(Name, Seq(q), 1000).results.map(h => h.id -> h.score)
      if (q == "spark joins") assert(indexed.nonEmpty)
      assert(indexed == scanned, s"indexed BM25 for '$q' diverged from the scan")
      assert(indexed.forall { case (id, _) => expected.contains(id) }, "bm25 returned a stale id")
    }
  }

  /** Rewrite one partition dir of `table` as two files holding the same
    * rows — the fragmentation an external writer leaves for
    * compactStorage to repair.
    */
  private def fragment(table: String): Unit = {
    def bytes(dir: Path): Long = Files.list(dir).iterator().asScala.map(Files.size).sum
    val dir = Files.list(Paths.get(table)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .maxBy(bytes)
    val rows = spark.read.parquet(dir.toString)
    val data = rows.collect()
    assert(data.length >= 2, s"$dir holds too few rows to fragment")
    val staged = Files.createTempDirectory("graft-frag").resolve("out").toString
    spark.createDataFrame(data.toSeq.asJava, rows.schema).repartition(2).write.parquet(staged)
    Files.list(dir).iterator().asScala.toList.foreach(Files.delete)
    Files.list(Paths.get(staged)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.move(p, dir.resolve(p.getFileName)))
  }

  test("every mutator's effects are visible to the next read, through either handle") {
    val dir = newWarehouse()
    val writer = newApi(dir)
    val other = newApi(dir)
    var model = (0 until 150).map(text).map(c => idOf(c) -> c).toMap
    writer.createCollection(Name, documents = Some(frame((0 until 150).map(text))))
    writer.buildAnnIndex(Name, nClusters = 40)
    writer.buildLexicalIndex(Name)
    assertServes(writer, model, Nil, Seq(text(7)))
    assertServes(other, model, Nil, Seq(text(8)))

    // addDocuments: new documents
    val added = (150 until 170).map(text)
    writer.addDocuments(Name, frame(added))
    model ++= added.map(c => idOf(c) -> c)
    assertServes(writer, model, Nil, added.take(2))
    assertServes(other, model, Nil, added.takeRight(2))

    // addDocuments: an update of a stored document (same content, new metadata)
    writer.addDocuments(Name, Seq((text(3), Map("rev" -> "2"))).toDF("content", "metadata"))
    val meta = other.getDocumentsByIds(Name, Seq(idOf(text(3)))).select("metadata")
      .as[Map[String, String]].collect().toSeq
    assert(meta == Seq(Map("rev" -> "2")))

    // deleteDocuments
    val deleted = (0 until 5).map(i => idOf(text(i)))
    other.deleteDocuments(Name, deleted)
    model --= deleted
    assertServes(writer, model, deleted, Seq(text(9)))

    // deleteDocumentsWhere
    val retired = model.filter(_._2.contains("retired topic")).keys.toSeq
    assert(retired.nonEmpty)
    assert(writer.deleteDocumentsWhere(Name, col("content").contains("retired topic"),
      confirm = true) == retired.size.toLong)
    model --= retired
    assertServes(other, model, retired, Seq(text(10)))

    // buildAnnIndex: a rebuild under a different quantizer
    other.buildAnnIndex(Name, nClusters = 48)
    assertServes(writer, model, Nil, Seq(text(11), text(161)))

    // buildLexicalIndex: a rebuild
    writer.buildLexicalIndex(Name)
    assertServes(other, model, Nil, Seq(text(12)))

    // compactStorage: the table and both served indexes fragmented behind
    // graft's back, then compacted — reads must not keep the replaced files
    val entry = writer.getCollection(Name)
    fragment(writer.catalog.tablePath(entry))
    fragment(graft.ann.IvfIndex.indexPath(writer.catalog, entry))
    fragment(LexIndex.indexPath(writer.catalog, entry))
    val compacted = other.compactStorage(Name, maxFiles = 1)
    assert(Seq("documents", "ivf", "postings").forall(compacted(_) >= 1), compacted)
    assertServes(writer, model, Nil, Seq(text(15)))

    // streaming compaction
    val staging = Files.createTempDirectory("graft-staging").resolve("s").toString
    val streamed = (170 until 175).map(text)
    frame(streamed).withColumn("id", Ingest.contentId(col("content")))
      .withColumn("ingest_ts", current_timestamp()).write.parquet(staging)
    assert(graft.streaming.StreamingIngest.compact(spark, writer.catalog, entry, staging,
      new DeterministicHashEmbedder(Dim)) == streamed.size.toLong)
    model ++= streamed.map(c => idOf(c) -> c)
    assertServes(other, model, Nil, streamed.take(2))
    assertServes(writer, model, Nil, streamed.takeRight(1))
  }

  test("overwrite-create of a populated collection: the next search sees an empty collection") {
    val dir = newWarehouse()
    val api = newApi(dir)
    val other = newApi(dir)
    api.createCollection(Name, documents = Some(frame((0 until 40).map(text))))
    api.buildAnnIndex(Name, nClusters = 4)
    api.buildLexicalIndex(Name)
    val ids = (0 until 40).map(i => idOf(text(i)))
    // warm the snapshot on both handles
    Seq(api, other).foreach { a =>
      assert(a.semanticSearch(Name, Seq(text(1)), 5).results.size == 5)
      assert(a.lexicalSearchBm25Indexed(Name, Seq("spark joins"), 5).results.nonEmpty)
      assert(a.getDocumentsByIds(Name, ids).count() == 40L)
    }
    api.createCollection(Name, overwrite = true)
    Seq(api, other).foreach { a =>
      assert(a.semanticSearch(Name, Seq(text(1)), 5).results.isEmpty)
      assert(a.lexicalSearch(Name, Seq("spark joins"), 5).results.isEmpty)
      assert(a.search(Name, text(1), 5).results.isEmpty)
      assert(a.getDocumentsByIds(Name, ids).count() == 0L)
      assert(a.describeCollection(Name) ==
        Map("collection" -> Name, "documents" -> 0L, "dimension" -> Dim, "indexes" -> Map()))
    }
    // and the recreated collection serves its own writes
    api.addDocuments(Name, frame(Seq(text(100))))
    assert(other.semanticSearch(Name, Seq(text(100)), 5).results.map(_.id) == Seq(idOf(text(100))))
  }

  test("deleteCollection: the next read is collection_not_found; a re-create starts empty") {
    val dir = newWarehouse()
    val api = newApi(dir)
    val other = newApi(dir)
    api.createCollection(Name, documents = Some(frame((0 until 20).map(text))))
    assert(other.semanticSearch(Name, Seq(text(2)), 3).results.nonEmpty)
    assert(other.listCollections() == Seq(Name))
    api.deleteCollection(Name, confirm = true)
    assert(other.listCollections().isEmpty)
    val e = intercept[GraftException](other.semanticSearch(Name, Seq(text(2)), 3))
    assert(e.code == ErrorCodes.CollectionNotFound)
    assert(intercept[GraftException](other.getDocumentsByIds(Name, Seq(idOf(text(2)))))
      .code == ErrorCodes.CollectionNotFound)
    api.createCollection(Name)
    assert(other.semanticSearch(Name, Seq(text(2)), 3).results.isEmpty)
  }

  /** (description, call sites) of the jobs `body` runs, attributed by a
    * job group of their own. A job's call sites are its stages' and, for
    * a job of a SQL execution, the execution's: jobs Spark runs on its
    * own threads (adaptive query stages) carry no graft frame themselves.
    */
  private def jobsOf(group: String)(body: => Unit): Seq[(String, String)] = {
    val jobs = new ConcurrentLinkedQueue[(String, String, String)]()
    val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add((Option(e.properties.getProperty("spark.job.description")).getOrElse(""),
            e.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n"),
            Option(e.properties.getProperty("spark.sql.execution.id")).getOrElse("")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId.toString, s.details)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq.map { case (desc, sites, exec) =>
      desc -> (sites + "\n" + execSites.getOrDefault(exec, ""))
    }
  }

  /** The snapshot's derivations — a job started from one of these frames
    * re-derives state that only a write can change.
    */
  private val Derivations = Seq("Catalog.entries", "Catalog.$anonfun$entries",
    "Catalog.readDocumentsPhysical", "Catalog.$anonfun$readDocumentsPhysical",
    "IvfIndex$.loadIndex", "IvfIndex$.$anonfun$loadIndex",
    "IvfIndex$.loadCentroids", "IvfIndex$.$anonfun$loadCentroids",
    "IvfIndex$.clusterSizes", "IvfIndex$.$anonfun$clusterSizes",
    "IvfIndex$.centroidRows", "IvfIndex$.$anonfun$centroidRows",
    "LexIndex$.load", "LexIndex$.$anonfun$load",
    "LexIndex$.stats", "LexIndex$.$anonfun$stats")

  private def derivations(jobs: Seq[(String, String)]): Seq[(String, String)] =
    jobs.filter { case (desc, sites) =>
      desc.startsWith("Listing leaf files") || Derivations.exists(sites.contains)
    }

  test("a repeated index-served request with no write in between re-derives nothing") {
    val api = newApi(newWarehouse())
    // enough documents and clusters that listing the table, the IVF index
    // and the postings each run as a parallel Spark job when resolved
    api.createCollection(Name, documents = Some(frame((0 until 300).map(text))))
    api.buildAnnIndex(Name, nClusters = 40)
    api.buildLexicalIndex(Name)
    Seq[(String, String, () => Unit)](
      ("approx", "IvfIndex$.$anonfun$clusterSizes",
        () => api.semanticSearchApprox(Name, Seq(text(5)), 10)),
      ("bm25_indexed", "LexIndex$.$anonfun$stats",
        () => api.lexicalSearchBm25Indexed(Name, Seq("vector search item5"), 10))
    ).zipWithIndex.foreach { case ((route, statsFrame, request), i) =>
      // a write ends the generation: the next request resolves the snapshot
      api.addDocuments(Name, frame(Seq(text(1000 + i))))
      val cold = derivations(jobsOf(s"snapshot-cold-$route")(request()))
      assert(cold.exists(_._1.startsWith("Listing leaf files")),
        s"$route: the cold request must list files as a Spark job (else this guard is vacuous)")
      Seq("Catalog.$anonfun$entries", statsFrame).foreach { f =>
        assert(cold.exists(_._2.contains(f)), s"$route: no cold job from $f")
      }
      // and the request after it reuses the snapshot
      val warm = jobsOf(s"snapshot-warm-$route")(request())
      assert(warm.nonEmpty, s"$route: the warm request still runs its search")
      assert(derivations(warm).isEmpty,
        s"$route re-derived snapshot state with no write in between:\n" +
          derivations(warm).map(_._2.linesIterator.take(3).mkString(" | ")).mkString("\n"))
    }
  }
}
