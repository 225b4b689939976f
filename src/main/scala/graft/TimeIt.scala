package graft


/** Dev harness: per-query wall time at a given sf dir. */
object TimeIt {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // optional: query-name substrings to run (default: all)
    val filters = args.drop(1).toSeq
    val spark = Sessions.local(8)
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "ERROR"))
    val t00 = System.nanoTime()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filters.isEmpty || filters.exists(name.contains) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      val n = df.queryExecution.toRdd.count() // full plan, no count-pruning (see Bench)
      spark.catalog.clearCache()
      val t1 = System.nanoTime()
      println(f"$name%-28s plan=${(tPlan - t0) / 1e9}%6.2fs exec=${(t1 - tPlan) / 1e9}%6.2fs rows=$n")
    }
    println(f"total ${(System.nanoTime() - t00) / 1e9}%6.2fs")
    spark.stop()
  }
}
