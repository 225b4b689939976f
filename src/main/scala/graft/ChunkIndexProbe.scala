package graft

import graft.ingest.DeterministicHashEmbedder

/** Empirical cost probe for the persistent chunk-vector index — the
  * evidence behind SCALE.md's chunk-index rows:
  *
  *  - UPSERT at a growing corpus with a FIXED batch must stay ~flat:
  *    maintenance rewrites only the batch's id buckets (surviving rows
  *    of those buckets + freshly chunked/embedded batch), so corpus
  *    size enters only through per-bucket row counts (corpus/256);
  *  - SERVE cost is the per-token candidate scan — linear in stored
  *    chunk rows (the documented exact-truth shape; the graded
  *    shortlist rule caps the rescore, not the scan).
  *
  *   java -cp ... graft.ChunkIndexProbe
  *
  * Prints one JSON line per step: {"op":...,"corpus":N,"batch":B,
  * "sec":S}. Evidence tooling like ScaleProbe — not a library surface.
  */
object ChunkIndexProbe {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def doc(i: Int, tag: String): String =
      (0 until 40).map(j => s"w${(i * 17 + j * 3) % 211}$tag").mkString(s"doc $i ", " ", "")

    def run(n: Int, warm: Boolean): Unit = {
      val wh = java.nio.file.Files.createTempDirectory("graft-cip").toString
      val api = new Api(spark, wh, new DeterministicHashEmbedder(32))
      val contents = (0 until n).map(doc(_, "base"))
      api.createCollection("c", documents = Some(contents.take(1000).toDF("content")))
      contents.drop(1000).grouped(1000).foreach(c => api.addDocuments("c", c.toDF("content")))
      api.buildChunkIndex("c", maxTokens = 16)
      val batch = (0 until 200).map(doc(_, "fresh")).toDF("content")
      val t0 = System.nanoTime()
      api.addDocuments("c", batch)
      val up = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val res = api.maxsimSearch("c", "w17base w40base w63base", nResults = 10,
        candidateSource = "chunk")
      val serve = (System.nanoTime() - t1) / 1e9
      require(res.results.nonEmpty)
      // the ANN candidate route: doc-level IVF shortlists feed the
      // bucket-prunable rescore — serve cost must DECOUPLE from stored
      // chunk rows (probes + shortlist work only)
      api.buildAnnIndex("c", nClusters = 64)
      val t2 = System.nanoTime()
      val resAnn = api.maxsimSearch("c", "w17base w40base w63base",
        nResults = 10, candidateSource = "ivf")
      val serveAnn = (System.nanoTime() - t2) / 1e9
      require(resAnn.results.nonEmpty)
      // chunk-level IVF (PLAID) route: probe-pruned like the doc-level
      // route, candidates from the scored vectors themselves
      api.buildChunkIvfIndex("c")
      val t3 = System.nanoTime()
      val resCivf = api.maxsimSearch("c", "w17base w40base w63base",
        nResults = 10, candidateSource = "chunkivf")
      val serveCivf = (System.nanoTime() - t3) / 1e9
      require(resCivf.results.nonEmpty)
      // chunk-TRAINED quantizer (PLAID's recipe): same serving machinery,
      // centroids k-means-fitted to the chunk vectors — serve cost must
      // stay in the probe-pruned family; upsert re-measured so the
      // frozen-own-quantizer maintenance is priced too
      api.buildChunkIvfIndex("c", trainOn = "chunks", nClusters = 64,
        kmeansIters = 1)
      val t4 = System.nanoTime()
      val resCt = api.maxsimSearch("c", "w17base w40base w63base",
        nResults = 10, candidateSource = "chunkivf")
      val serveCt = (System.nanoTime() - t4) / 1e9
      require(resCt.results.nonEmpty)
      val batch2 = (200 until 400).map(doc(_, "fresh")).toDF("content")
      val t5 = System.nanoTime()
      api.addDocuments("c", batch2)
      val upCt = (System.nanoTime() - t5) / 1e9
      if (!warm) {
        println(f"""{"op":"chunk_upsert","corpus":$n,"batch":200,"sec":$up%.3f}""")
        println(f"""{"op":"chunk_serve","corpus":$n,"batch":0,"sec":$serve%.3f}""")
        println(f"""{"op":"chunk_serve_ann","corpus":$n,"batch":0,"sec":$serveAnn%.3f}""")
        println(f"""{"op":"chunk_serve_civf","corpus":$n,"batch":0,"sec":$serveCivf%.3f}""")
        println(f"""{"op":"chunk_serve_civf_trained","corpus":$n,"batch":0,"sec":$serveCt%.3f}""")
        println(f"""{"op":"chunk_upsert_civf_trained","corpus":$n,"batch":200,"sec":$upCt%.3f}""")
      }
      spark.catalog.clearCache(); System.gc()
    }

    run(1000, warm = true) // JIT/janino warmup
    Seq(1000, 4000, 16000).foreach(run(_, warm = false))
    spark.stop()
  }
}
