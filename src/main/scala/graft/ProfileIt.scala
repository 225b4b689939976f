package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev harness (not driver contract): per-query wall time plus scheduler
  * shape — job count, stage count, task count, summed executor run time —
  * under the SAME session config as [[Bench]], and the part of the wall
  * time spent building the frame (`build_s`). Separates "this query is
  * barrier-heavy" (many sequential jobs over tiny data) from "this query
  * is compute-heavy" (few jobs, high task time), which is the first
  * question of guide §1 at a scale factor where per-job scheduling
  * overhead rivals real work.
  *
  *   SPARK_GRAFT_ONLY=q_a,q_b java ... graft.ProfileIt /root/testdata/sf0.1
  */
object ProfileIt {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val traceJobs = sys.env.get("SPARK_GRAFT_TRACE") contains "1"
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (traceJobs) {
          val sites = j.stageInfos.flatMap(si => si.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("ProfileIt"))
              .orElse(Some(si.name)))
            .map(_.trim.replaceAll("^at ", "").take(60)).distinct.mkString(" | ")
          jobStartNs.put(j.jobId, (System.nanoTime(), s"stages=${j.stageInfos.size} $sites".take(200)))
        }
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (traceJobs) Option(jobStartNs.remove(e.jobId)).foreach { case (t0, site) =>
          println(f"    job ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e3}%9.0fus  $site")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        taskTimeMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        if (traceJobs && s.stageInfo.taskMetrics.executorRunTime >= 100) {
          val frames = s.stageInfo.details.linesIterator
            .filter(l => l.contains("graft.") && !l.contains("ProfileIt"))
            .take(4).map(_.trim.replaceAll("^at ", "").take(80)).mkString(" | ")
          val scopes = s.stageInfo.rddInfos.sortBy(_.id)
            .flatMap(r => r.scope.map(_.name)).distinct.mkString(">")
          val site = if (frames.nonEmpty) frames else scopes
          println(f"    stage ${s.stageInfo.stageId}%4d run=${s.stageInfo.taskMetrics.executorRunTime}%6dms tasks=${s.stageInfo.numTasks}%3d  ${site.take(160)}")
        }
      }
    })
    val ordered = SparkEntry.selected.map(g => g.name -> g.harness)
    // same warmup discipline as Bench
    val warmDir = "/root/testdata/sf0.001"
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1" && sfDir != warmDir)
      ordered.foreach { case (_, fn) =>
        try fn(spark, warmDir).queryExecution.toRdd.count() catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    println(f"${"query"}%-28s ${"best_s"}%8s ${"build_s"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"taskTime_s"}%10s")
    ordered.foreach { case (name, fn) =>
      val measured = (1 to reps).map { _ =>
        jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0L)
        val t0 = System.nanoTime()
        // build_s: the harness call alone — analysis plus any eager
        // checkpoint or collect it runs before returning its frame
        val df = fn(spark, sfDir)
        val built = (System.nanoTime() - t0) / 1e9
        df.queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        (dt, built, jobs.get, stages.get, tasks.get, taskTimeMs.get / 1e3)
      }
      val best = measured.minBy(_._1)
      // session-accumulation diagnostic: persistent RDDs (localCheckpoint
      // blocks live here until the ContextCleaner reaps them)
      val rdds = spark.sparkContext.getPersistentRDDs.size
      println(f"$name%-28s ${best._1}%8.3f ${best._2}%8.3f ${best._3}%5d ${best._4}%7d ${best._5}%6d ${best._6}%10.2f  rdds=$rdds%4d")
    }
    spark.stop()
  }
}
