package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.storage.StorageLevel

/** `Checkpoints.parallel` failure handling and `Checkpoints.free`'s
  * freed / no-op contract.
  */
class CheckpointsSpec extends SparkSpec {

  test("parallel returns results in input order") {
    val out = Checkpoints.parallel(Seq(
      () => { Thread.sleep(200); 1 }, () => 2, () => spark.range(3).count().toInt))
    assert(out == Seq(1, 2, 3))
  }

  test("parallel: a failing leg cancels its siblings' tagged jobs and rethrows its own error") {
    val sc = spark.sparkContext
    val active = new ConcurrentHashMap[Int, String]()
    val started = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .flatMap(_.split(",").find(_.startsWith(Checkpoints.TagPrefix)))
          .foreach { tag => active.put(e.jobId, tag); started.countDown() }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = active.remove(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](Checkpoints.parallel(Seq(
        // a sibling that would hold its job for two minutes
        () => {
          sc.setInterruptOnCancel(true)
          sc.parallelize(0 until 2, 2).map { i => Thread.sleep(120000); i }.count()
        },
        () => {
          assert(started.await(60, TimeUnit.SECONDS), "sibling job never started")
          throw new IllegalStateException("leg failed")
        })))
      assert(e.getMessage == "leg failed")
      assert((System.nanoTime() - t0) / 1e9 < 60, "parallel waited for the hung sibling")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ({ org.apache.spark.ListenerDrain(sc); !active.isEmpty } &&
          System.nanoTime() < deadline) Thread.sleep(100)
      assert(active.isEmpty, s"jobs still active under the leg tag: $active")
    } finally sc.removeSparkListener(listener)
  }

  test("free releases a checkpoint's blocks and reports it") {
    val cp = spark.range(100).localCheckpoint()
    val rdd = cp.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(Checkpoints.free(cp))
    assert(rdd.getStorageLevel == StorageLevel.NONE)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }

  test("free over a select of a checkpoint is a reported no-op") {
    val cp = spark.range(100).localCheckpoint()
    val rdd = cp.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(!Checkpoints.free(cp.select("id")))
    assert(rdd.getStorageLevel != StorageLevel.NONE, "the checkpoint must stay persisted")
    assert(cp.count() == 100)
    assert(Checkpoints.free(cp))
  }
}
