package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic release of `localCheckpoint` blocks.
  *
  * `Dataset.unpersist` only touches CacheManager entries, so a
  * checkpointed frame's RDD blocks linger until the ContextCleaner GCs
  * the RDD reference — in a long session the blocks of every
  * per-operator-call checkpoint accumulate between periodic GCs. A
  * checkpointed Dataset's logical plan IS the `LogicalRDD` wrapping the
  * persisted RDD, so the blocks can be dropped the moment the last
  * consumer has materialized, mirroring the `persist()/unpersist()`
  * discipline the operators already follow for cached frames.
  */
object Checkpoints {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Best-effort: unpersists the checkpointed RDD behind `ds` and returns
    * true. Returns false, and logs a warning naming the plan's root node,
    * when the plan is not a bare checkpoint (e.g. a `select` over one):
    * nothing is released then. Only call once every downstream consumer
    * of `ds` has been materialized — the blocks are NOT recomputable.
    */
  def free(ds: Dataset[_]): Boolean = ds.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
      true
    case plan =>
      log.warn(s"Checkpoints.free released nothing: the plan's root is " +
        s"${plan.nodeName}, not a checkpoint's LogicalRDD")
      false
  }

  /** Run independent thunks CONCURRENTLY on a small driver pool and
    * return their results in input order (guide §2.6: Spark's scheduler
    * runs several jobs at once inside one application; eager
    * checkpoints/collects built sequentially leave the cluster idle
    * between barrier jobs, so a multi-leg fixture pays sum-of-legs wall
    * time for work that is pairwise independent). Each thunk may build
    * plans, collect, and checkpoint — SparkSession is thread-safe and
    * job-description state is thread-local.
    *
    * Every leg's Spark jobs carry one job tag per call ([[TagPrefix]] +
    * a unique suffix). The first leg to fail, in completion order, stops
    * the call: the tag's jobs are cancelled, the other legs' futures are
    * cancelled and the pool is interrupted, so no sibling keeps running
    * past the error and a hung sibling cannot block it. The failing
    * leg's own exception is rethrown unwrapped, so a failing query is
    * recorded by the bench exactly as before.
    */
  def parallel[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = TagPrefix + java.util.UUID.randomUUID()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, 8))
    val done = new java.util.concurrent.ExecutorCompletionService[T](pool)
    val futs = thunks.map(t => done.submit(
      new java.util.concurrent.Callable[T] {
        def call(): T = {
          sc.foreach(_.addJobTag(tag))
          try t() finally sc.foreach(_.removeJobTag(tag))
        }
      }))
    try {
      futs.indices.foreach(_ => done.take().get())
      futs.map(_.get())
    } catch { case e: Throwable =>
      sc.foreach(_.cancelJobsWithTag(tag, "a sibling leg of Checkpoints.parallel failed"))
      futs.foreach(_.cancel(true))
      pool.shutdownNow()
      throw (e match {
        case x: java.util.concurrent.ExecutionException => x.getCause
        case other => other
      })
    } finally pool.shutdown()
  }

  /** Prefix of the job tag [[parallel]] puts on every leg's Spark jobs. */
  val TagPrefix = "graft-parallel-"

  /** Two heterogeneous thunks, concurrently. */
  def join2[A, B](fa: () => A, fb: () => B): (A, B) = {
    val out = parallel[Any](Seq(fa.asInstanceOf[() => Any],
      fb.asInstanceOf[() => Any]))
    (out(0).asInstanceOf[A], out(1).asInstanceOf[B])
  }

  /** Checkpoint several INDEPENDENT frames with ONE concurrent
    * materialization wave: plan truncation happens immediately (lazy
    * `localCheckpoint` swaps each plan for its `LogicalRDD`, identical
    * fencing semantics to the eager form), then all RDDs materialize as
    * overlapping jobs instead of one barrier job at a time.
    */
  def parCheckpoint(dfs: Seq[org.apache.spark.sql.DataFrame])
      : Seq[org.apache.spark.sql.DataFrame] = {
    val cps = dfs.map(_.localCheckpoint(eager = false))
    parallel(cps.map(df => () => materialize(df)))
    cps
  }

  /** Force a (lazy-)checkpointed frame's blocks to exist — the same
    * `rdd.count()` the eager form runs, callable from a pool thread.
    */
  def materialize(ds: Dataset[_]): Unit = ds.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.count()
    case _ => ds.queryExecution.toRdd.count()
  }
}
