package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection

/** `batch_heavy`: graded queries from `SparkEntry.queries`, run the way
  * `graft.Bench` runs them — a warm-up pass at the small scale factor,
  * then the best of several timed executions of the full physical plan per
  * query, with the cache cleared and a GC between executions — except that
  * the warm-up runs the queries concurrently, and that each query runs
  * three times, once per round over all the queries. Spreading a query's
  * executions over the run keeps one burst of load from other processes
  * on the machine from slowing all of them.
  */
object BatchHeavy {
  val Queries: Seq[String] = Seq("q_dedup_editdist", "q_knn_mutual", "q1_pricing")
  /** Timed executions per query; the fastest one counts, as in graft.Bench. */
  val Reps = 3

  /** Execute the whole plan once; returns (rows, order-independent hash).
    * Each output row is hashed in its UnsafeRow form and the hashes are
    * summed, so the result does not depend on row order or partitioning.
    */
  def execute(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r => n += 1; h += proj(r).hashCode().toLong & 0xffffffffL }
      Iterator(n -> h)
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }

  def run(o: Opts, rec: Recorder): Map[String, Any] = {
    val spark = rec.spark
    val all = graft.SparkEntry.queries
    // warm-up: the queries at the small scale factor, all at once (a cold
    // JVM spends most of it compiling, which spreads over the cores);
    // a failure here shows again in the timed pass
    graft.Checkpoints.parallel(Queries.map(q => () =>
      try execute(all(q)(spark, o.warm)) catch { case _: Throwable => () }))
    spark.catalog.clearCache()
    rec.sampleLiveHeap()
    rec.markMeasureStart()
    val outs = (for (rep <- 1 to Reps; q <- Queries) yield {
      var out = (-1L, 0L)
      rec.time(q, "batch", 0, id = s"$q#$rep") { opId =>
        val df = all(q)(spark, o.data)
        out = execute(df)
        rec.trace.foreach(_.executed(opId, df.queryExecution))
        0 -> 0
      }
      spark.catalog.clearCache()
      rec.sampleLiveHeap()
      q -> out
    }).groupMap(_._1)(_._2)
    val results = Queries.map { q =>
      // executions that disagree report no rows, which fails the check
      val rows = if (outs(q).distinct.size == 1) outs(q).head._1 else -1L
      q -> Map("rows" -> rows, "hash" -> outs(q).head._2)
    }
    Map("results" -> results.toMap)
  }
}
