package graft

import Verify.q

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val ordered = SparkEntry.selected.map(g => g.name -> g.harness)
    // JIT/codegen warmup at the smallest sf so timed numbers measure the
    // engine, not cold-JVM compilation (standard practice; same queries).
    // Warmup errors are swallowed here ONLY because the same failure
    // re-raises in the timed run below, where it is recorded per-query.
    val warmDir = "/root/testdata/sf0.001"
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1" && sfDir != warmDir)
      ordered.foreach { case (_, fn) =>
        try fn(spark, warmDir).queryExecution.toRdd.count() catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    // best-of-N per query (default 2): a single GC pause or transient
    // machine contention during one execution otherwise lands verbatim in
    // the reported number (r03 saw one query at 18x its steady-state time);
    // min-of-reps reports the engine's cost, not the box's worst moment
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    val results: Seq[(String, Either[String, Double])] = ordered.map { case (name, fn) =>
      val attempts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // toRdd.count(), NOT count(): a count() aggregate lets the optimizer
        // prune every projected column (a per-doc score, a rebuilt string)
        // and drop unique-keyed joins — some queries then "benchmark" a
        // fraction of their real plan. toRdd executes the FULL physical
        // plan and materializes every output column, which is what the
        // driver's Verify pays when it writes parquet.
        // A failed query is an err entry in the output JSON, excluded from
        // `total` — NEVER a fast fake time (r4 shipped 5 broken queries as
        // ~0.07s "successes" exactly that way).
        val err =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // release per-query cached intermediates so later queries aren't
        // starved by accumulated storage memory
        spark.catalog.clearCache()
        System.gc()
        (err, dt)
      }
      attempts.flatMap(_._1).headOption match {
        case Some(e) => name -> Left(e)
        case None    => name -> Right(attempts.map(_._2).min)
      }
    }
    val ok = results.collect { case (k, Right(v)) => k -> v }
    val errors = results.collect { case (k, Left(e)) => k -> e }
    val qs = ok.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    errors.foreach { case (k, e) => System.err.println(s"[bench] FAILED $k: $e") }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","errors":$errJson,"n_ok":${ok.size},"n_err":${errors.size}}""")
    // full per-query timing artifact, slowest first — the driver's BENCH
    // tail truncates alphabetically and loses the head, so round-over-
    // round comparison needs this committed file (SPARK_GRAFT_TIMINGS_OUT
    // overrides; empty disables)
    val timingsOut = sys.env.getOrElse("SPARK_GRAFT_TIMINGS_OUT", "/root/repo/BENCH_timings.json")
    if (timingsOut.nonEmpty) try {
      val body = ok.sortBy(-_._2)
        .map { case (k, v) => f"  ${q(k)}: $v%.3f" }
        .mkString("{\n", ",\n", ",\n") +
        s"""  "_total_sec": $total,\n  "_sf": ${q(sfDir)},\n""" +
        s"""  "_n_ok": ${ok.size},\n  "_errors": $errJson\n}\n"""
      java.nio.file.Files.write(java.nio.file.Paths.get(timingsOut),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Exception => System.err.println(s"[bench] timings write failed: $e") }
    spark.stop()
  }
}
