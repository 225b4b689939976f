package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-batch scaling probe for the ANN serving routes — the Q axis,
  * complementing [[ScaleProbe]]'s corpus-multiplier (M) axis.
  *
  * Every serving SCALE row sweeps the corpus at Q <= 8 queries; this
  * probe fixes the corpus (the sf0.1 vector table replicated 8-fold =
  * 16k vectors with a synthetic 8-NN graph and a 64-cluster IVF
  * assignment) and sweeps the QUERY batch Q = 100 / 1k / 10k, timing
  * each route on BOTH sides of the broadcast gate:
  *
  *   - `*_bcast`  forces the interactive-Q plan (every query-derived
  *     frame broadcast, `broadcastRowLimit = Long.MaxValue`);
  *   - `*_shuffle` forces the batched-serving plan
  *     (`broadcastRowLimit = 0`: shuffle-hash joins keyed on id /
  *     query_idx / cluster_id).
  *
  * Result identity between the two paths is AnnServeSpec territory; this
  * probe measures where the crossover lives. `serve_ivf_loop` (the
  * per-query unioned-plan route) runs at Q = 100 only: its cost is
  * DRIVER planning time linear in Q — the very bottleneck
  * [[graft.ann.Ann.ivfTopKBatch]] exists to remove — and at Q >= 1k it
  * is minutes of pure plan analysis.
  *
  *   java -cp ... graft.QSweep /root/testdata/sf0.1 100,1000,10000
  *
  * Prints one JSON line per (Q, op): {"qn":Q,"op":...,"rows":N,"sec":S}.
  * Evidence tooling like ScaleProbe — not part of the library surface.
  */
object QSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qns = args.lift(1).getOrElse("100,1000,10000")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    // fixed corpus: 8x the sf0.1 vectors, dense long ids, synthetic 8-NN
    // graph (the ScaleProbe ann_graph_beam recipe), 64-cluster IVF
    val base = Tables.vectors(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window.orderBy("id", "rep")
    val vecs = base
      .select(col("*"), explode(sequence(lit(0), lit(7))).as("rep"))
      .withColumn("id", row_number().over(w).cast("long") - 1)
      .select("id", "embedding", "norm")
      .repartition(cpus.toInt).localCheckpoint()
    val n = vecs.count()
    val graph = vecs.select(col("id").as("qid"),
        explode(sequence(lit(1), lit(8))).as("j"))
      .select(col("qid"),
        pmod(col("qid") * 2654435761L + col("j") * 40503L, lit(n)).as("neighbor"))
      .filter(col("neighbor") =!= col("qid"))
      .repartition(cpus.toInt).localCheckpoint()
    val cents = graft.ann.Ann.kmeansCentroids(
      base.select("id", "embedding", "norm"), 64, 2).localCheckpoint()
    val assigned = graft.ann.Ann.assign(vecs, cents)
      .repartition(cpus.toInt).localCheckpoint()
    // late-interaction maxsim serving state: 4 chunk rows per document
    // (the replicated vectors grouped by id/4 — 4k docs x 4 chunks), a
    // doc-level vector per document (its first chunk) and its IVF
    // assignment for the ANN candidate route
    val chunkVecs = vecs
      .select(floor(col("id") / 4).cast("long").as("doc_id"),
        col("embedding").as("vec"))
      .repartition(cpus.toInt).localCheckpoint()
    val docVecs = vecs.filter(pmod(col("id"), lit(4)) === 0)
      .select(floor(col("id") / 4).cast("long").as("id"),
        col("embedding"), col("norm"))
      .repartition(cpus.toInt).localCheckpoint()
    val assignedDocs = graft.ann.Ann.assign(docVecs, cents)
      .repartition(cpus.toInt).localCheckpoint()
    // chunk-level IVF layout for the PLAID candidate route: every chunk
    // row keyed doc#ordinal, assigned to the same centroids
    val assignedChunkRows = graft.ann.Ann.assign(
      vecs.select(
        concat_ws("#", floor(col("id") / 4).cast("long"), pmod(col("id"), lit(4))).as("id"),
        col("embedding"), col("norm")), cents)
      .repartition(cpus.toInt).localCheckpoint()
    graph.count(); cents.count(); assigned.count()
    chunkVecs.count(); assignedDocs.count()
    assignedChunkRows.count() // untimed prep

    // deterministic synthetic query batch: corpus vectors, perturbed so
    // routing is non-degenerate; driver-side Seq like the serving API
    val baseRows = base.orderBy("id").select("embedding").collect()
      .map(_.getSeq[Float](0))
    def queryBatch(q: Int): Seq[(Int, Seq[Float])] =
      (0 until q).map { i =>
        val b = baseRows(i % baseRows.length)
        i -> b.zipWithIndex.map { case (v, d) =>
          v * (1f + ((i * 31 + d) % 7 - 3) / 100f)
        }
      }

    def timed(op: String, qn: Int, warm: Boolean)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      if (!warm)
        println(f"""{"qn":$qn,"op":"$op","rows":$rows,"sec":$sec%.3f}""")
      spark.catalog.clearCache(); System.gc()
    }

    def runAll(qn: Int, warm: Boolean): Unit = {
      val qs = queryBatch(qn)
      def gs(limit: Long) = graft.ann.GraphSearch.beamSearch(
        graph, vecs, qs, entries = 4, beam = 8, hops = 3, k = 5,
        broadcastRowLimit = limit)
      def gsf(limit: Long) = graft.ann.GraphSearch.beamSearchFiltered(
        graph, vecs, qs, entries = 4, beam = 8, hops = 3, k = 5,
        pred = pmod(col("id"), lit(2)) === 0, broadcastRowLimit = limit)
      def ivf(limit: Long) = graft.ann.Ann.ivfTopKBatch(
        assigned, cents, qs, k = 10, nprobe = 3, broadcastRowLimit = limit)
      timed("serve_graph_beam_bcast", qn, warm)(gs(Long.MaxValue).count())
      timed("serve_graph_beam_shuffle", qn, warm)(gs(0L).count())
      timed("serve_graph_filtered_bcast", qn, warm)(gsf(Long.MaxValue).count())
      timed("serve_graph_filtered_shuffle", qn, warm)(gsf(0L).count())
      timed("serve_ivf_batch_bcast", qn, warm)(ivf(Long.MaxValue).count())
      timed("serve_ivf_batch_shuffle", qn, warm)(ivf(0L).count())
      // the governed route's plan (Api.semanticSearchApprox past the
      // batch threshold): adaptive probe widths, numCandidates = 100
      def ivfAdaptive(limit: Long) = graft.ann.Ann.ivfTopKBatchAdaptive(
        assigned, cents, qs, k = 10, numCandidates = 100L,
        broadcastRowLimit = limit)
      timed("serve_ivf_adaptive_bcast", qn, warm)(ivfAdaptive(Long.MaxValue).count())
      timed("serve_ivf_adaptive_shuffle", qn, warm)(ivfAdaptive(0L).count())
      if (qn <= 100)
        timed("serve_ivf_loop", qn, warm)(
          graft.ann.Ann.ivfTopK(assigned, cents, qs, k = 10, nprobe = 3).count())
      // maxsim serving, both candidate routes at both gate legs. Each
      // query carries 4 tokens (perturbed corpus vectors, like qs).
      import spark.implicits._
      val tokSeq: Seq[(Int, Int, Array[Float])] = queryBatch(qn * 4)
        .map { case (key, v) => (key / 4, key % 4, v.toArray) }
      val qToks = tokSeq.toDF("query_idx", "tok_idx", "vec")
      def maxsimScan(limit: Long) = graft.search.ChunkIndex.searchFrames(
        chunkVecs, qToks, k = 10, perTokenT = 25, broadcastRowLimit = limit)
      def maxsimAnn(limit: Long) = {
        val cand = graft.search.ChunkIndex.annCandidates(
          spark, assignedDocs, cents, tokSeq, perTokenT = 25,
          broadcastRowLimit = limit)
        graft.search.MaxSim.topK(chunkVecs, qToks, k = 10,
          candidates = Some(cand), broadcastRowLimit = limit)
      }
      // the scan route's candidate frame is chunks x tokens — at Q=10k
      // (40k token rows x 16k chunk rows = 640M scored pairs) it IS the
      // demonstrated non-starter; measured through Q=1k, excluded above
      // like serve_ivf_loop (same class of evidence, opposite axis)
      if (qn <= 1000) {
        timed("serve_maxsim_scan_bcast", qn, warm)(maxsimScan(Long.MaxValue).count())
        timed("serve_maxsim_scan_shuffle", qn, warm)(maxsimScan(0L).count())
      }
      timed("serve_maxsim_ann_bcast", qn, warm)(maxsimAnn(Long.MaxValue).count())
      timed("serve_maxsim_ann_shuffle", qn, warm)(maxsimAnn(0L).count())
      def maxsimCivf(limit: Long) = {
        val cand = graft.search.ChunkIndex.chunkIvfCandidates(
            spark, assignedChunkRows, cents, tokSeq, perTokenT = 25,
            broadcastRowLimit = limit)
          .select(col("query_idx"), col("doc_id").cast("long").as("doc_id"))
        graft.search.MaxSim.topK(chunkVecs, qToks, k = 10,
          candidates = Some(cand), broadcastRowLimit = limit)
      }
      timed("serve_maxsim_civf_bcast", qn, warm)(maxsimCivf(Long.MaxValue).count())
      timed("serve_maxsim_civf_shuffle", qn, warm)(maxsimCivf(0L).count())
      // the per-question plan LOOP that Api.maxsimSearchMany exists to
      // remove: Q independent candidate+rescore plan pairs — driver
      // planning linear in Q, the serve_ivf_loop cliff on the maxsim
      // axis. Measured at Q <= 100 only, same evidence class.
      if (qn <= 100)
        timed("serve_maxsim_civf_loop", qn, warm) {
          (0 until qn).map { qi =>
            val sub = tokSeq.filter(_._1 == qi)
            val subDf = sub.toDF("query_idx", "tok_idx", "vec")
            val cand = graft.search.ChunkIndex.chunkIvfCandidates(
                spark, assignedChunkRows, cents, sub, perTokenT = 25)
              .select(col("query_idx"), col("doc_id").cast("long").as("doc_id"))
            graft.search.MaxSim.topK(chunkVecs, subDf, k = 10,
              candidates = Some(cand)).count()
          }.sum
        }
      // hybrid-maxsim composition (Api.searchIndexed semanticMode=
      // "maxsim" / the q_hybrid_maxsim fusion): the maxsim leg serves
      // through the chunk-level-IVF route exactly as above, then RRF
      // fuses with a second rank leg and takes the bounded top-k. The
      // lexical leg here is a driver-synthesized Q x 10 rank frame
      // (constant cost — its own Q-scaling is the lexical index's
      // evidence), so the row prices the FUSION overhead on top of the
      // measured maxsim leg: rank windows + fuse join + top-k.
      def hybridMaxsim(limit: Long) = {
        val sem = maxsimCivf(limit)
          .select(col("query_idx"), col("doc_id").cast("string").as("id"),
            col("score"))
        val lex = (0 until qn).flatMap(qi => (0 until 10).map(r =>
            (qi, ((qi.toLong * 37 + r * 101) % n).toString, 10.0 - r)))
          .toDF("query_idx", "id", "score")
        graft.search.Hybrid.rrf(sem, lex, 0.6, 0.4, 60, 10)
      }
      timed("serve_hybrid_maxsim_bcast", qn, warm)(hybridMaxsim(Long.MaxValue).count())
      timed("serve_hybrid_maxsim_shuffle", qn, warm)(hybridMaxsim(0L).count())
    }

    // nothing inside runAll persists or checkpoints, so no per-Q cache
    // hygiene is needed (contrast ScaleProbe's localCheckpoint sweep)
    runAll(qns.min, warm = true) // JIT/janino warmup, untimed
    qns.foreach(runAll(_, warm = false))
    spark.stop()
  }
}
