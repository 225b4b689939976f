package graft

import org.apache.spark.sql.functions._
import graft.ann.GraphIndex
import graft.ingest.DeterministicHashEmbedder

/** Empirical cost probe for the persistent kNN-graph index's incremental
  * maintenance — the evidence behind SCALE.md's delete row:
  *
  *  - at a FIXED corpus, delete cost must track |affected| (the nodes
  *    that lost an edge), because affected discovery is a bucket-pruned
  *    reverse-sidecar read and the recompute scores affected × corpus;
  *  - across corpus sizes at fixed batch, the recompute leg grows with
  *    the corpus — that is the documented Δ×corpus maintenance algebra,
  *    not a defect — while DISCOVERY stays bucket-pruned (it reads only
  *    the deleted ids' neighbor buckets, never the whole index).
  *
  * Victim batches are disjoint consecutive id slices of a 5k-doc corpus
  * (corpus shrinks < 12% over the run — approximately constant), plus a
  * constructed HUB corpus where one document is an in-edge of nearly
  * every node, exercising the broadcast gate's cross-product path.
  *
  *   java -cp ... graft.GraphIndexProbe [sfDir]
  *
  * Prints one JSON line per step: {"op":...,"victims":N,"corpus":C,
  * "sec":S}. Evidence tooling like ScaleProbe — not a library surface.
  */
object GraphIndexProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // API batches are bounded at Limits.MaxDocuments (the reference's
    // contract) — load in chunks; the index builds once afterwards
    def load(tag: String, contents: Seq[String]): Api = {
      val wh = java.nio.file.Files.createTempDirectory("graft-gip").toString
      val api = new Api(spark, wh, new DeterministicHashEmbedder(32))
      api.createCollection(tag, documents = Some(contents.take(1000).toDF("content")))
      contents.drop(1000).grouped(1000).foreach(c => api.addDocuments(tag, c.toDF("content")))
      api
    }

    def probe(tag: String, contents: Seq[String], batches: Seq[Int]): Unit = {
      val api = load(tag, contents)
      val entry = api.catalog.getCollection(api.catalog.physicalName("default", tag))
      val t0 = System.nanoTime()
      GraphIndex.build(spark, api.catalog, entry, k = 8)
      println(f"""{"op":"${tag}_build","victims":0,"corpus":${contents.size},"sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
      var remaining = api.catalog.readDocuments(entry)
        .select("id").as[String].collect().sorted.toSeq
      batches.foreach { n =>
        val victims = remaining.take(n)
        remaining = remaining.drop(n)
        val c = remaining.size + n
        val t1 = System.nanoTime()
        api.deleteDocuments(tag, victims)
        println(f"""{"op":"${tag}_delete","victims":$n,"corpus":$c,"sec":${(System.nanoTime() - t1) / 1e9}%.3f}""")
      }
    }

    // |affected| axis: fixed ~5k corpus, victim batches 5 / 50 / 500
    val base = Tables.textCorpus(spark, sfDir)
      .select("content").as[String].collect().toSeq
    probe("ax_affected", base, Seq(5, 50, 500))

    // corpus axis: same 50-victim batch at quarter / half / full corpus
    probe("ax_corpus_q", base.take(base.size / 4), Seq(50))
    probe("ax_corpus_h", base.take(base.size / 2), Seq(50))

    // hub corpus: every doc shares the hub's tokens -> deleting the hub
    // makes |affected| ~ corpus and (with the default gate) exercises
    // the size-gated path decision on a real hub
    val hub = "hubdoc shared shared shared shared" +:
      (0 until 2000).map(i => s"shared shared shared shared leaf$i w${i % 5}")
    val api = load("hub", hub)
    val entry = api.catalog.getCollection(api.catalog.physicalName("default", "hub"))
    GraphIndex.build(spark, api.catalog, entry, k = 8)
    val hubId = api.catalog.readDocuments(entry)
      .filter(col("content").startsWith("hubdoc"))
      .select("id").as[String].collect().head
    val t2 = System.nanoTime()
    api.deleteDocuments("hub", Seq(hubId))
    println(f"""{"op":"hub_delete","victims":1,"corpus":${hub.size},"sec":${(System.nanoTime() - t2) / 1e9}%.3f}""")

    spark.stop()
  }
}
