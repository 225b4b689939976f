package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Command-line options, all given by `perfbench/run.py`. */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, warm: String, work: String, out: String, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("warm"), m("work"), m("out"), m("cores").toInt)
  }
}

/** One timed operation. Times are milliseconds on the epoch clock, taken
  * from `System.nanoTime` so that sub-millisecond differences survive.
  */
final case class Op(
    id: String, kind: String, phase: String, client: Int,
    startMs: Double, endMs: Double, ok: Boolean, error: String) {
  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "phase" -> phase,
    "client" -> client, "start_ms" -> startMs, "end_ms" -> endMs, "ok" -> ok,
    "error" -> error)
}

/** Records operations and JVM state for one run. */
final class Recorder(val spark: SparkSession, val trace: Option[Trace]) {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var heapPeak = 0L
  private var measureStartMs = -1.0
  private var gcAtStart = 0L

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[perfbench] $up%7.2fs $msg")
  }
  def nextId(kind: String): String = s"$kind#${seq.incrementAndGet()}"

  /** Time `body`, which returns (hits, expectedHits). A thrown exception
    * or a hit count other than the expected one marks the op failed.
    */
  def time(kind: String, phase: String, client: Int, id: String = null)(
      body: String => (Int, Int)): Op = {
    val opId = if (id == null) nextId(kind) else id
    val t0 = nowMs
    val err =
      try {
        val (h, e) = trace match {
          case Some(_) => Trace.inGroup(spark, opId)(body(opId))
          case None => body(opId)
        }
        if (h == e) "" else s"hits $h != expected $e"
      } catch {
        case t: Throwable => s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").take(300)}"
      }
    val op = Op(opId, kind, phase, client, t0, nowMs, err.isEmpty, err)
    ops.add(op)
    op
  }

  def all: Seq[Op] = ops.asScala.toSeq

  /** Full GCs until one frees less than 1 MB, then note the heap still in
    * use: the live-heap sample. Later GCs collect what Spark's context
    * cleaner released after the earlier ones (broadcast and shuffle state
    * held by weak references).
    */
  def sampleLiveHeap(): Unit = {
    def gc(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var before = gc()
    Thread.sleep(200)
    var used = gc()
    var rounds = 1
    while (before - used > (1L << 20) && rounds < 5) {
      Thread.sleep(200)
      before = used
      used = gc()
      rounds += 1
    }
    if (used > heapPeak) heapPeak = used
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** End of set-up: the first timed operation starts now. */
  def markMeasureStart(): Unit = {
    log("set-up done")
    gcAtStart = gcMs
    measureStartMs = nowMs
  }

  def summary(extra: Map[String, Any]): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Map(
      "setup_s" -> (measureStartMs - jvmStart) / 1000.0,
      "heap_live_peak_mb" -> heapPeak / 1048576.0,
      "gc_ms" -> (gcMs - gcAtStart),
      "ops" -> all.sortBy(_.startMs).map(_.toMap)) ++
      trace.map(t => "trace" -> t.records()).toMap ++ extra
  }
}

object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The session `graft.Bench` builds, plus local dirs kept in the run's
    * work directory.
    */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spark = session(o)
    val trace = if (o.trace) Some(Trace.install(spark)) else None
    val rec = new Recorder(spark, trace)
    rec.log("session up")
    try {
      val extra = o.workload match {
        case "fixture" => Fixture.run(o, rec)
        case "serve" => Serve.run(o, rec)
        case "batch_heavy" => BatchHeavy.run(o, rec)
        case "classes" =>
          graft.SparkEntry.queries("q1_pricing")(spark, o.warm).queryExecution.toRdd.count()
          Map.empty[String, Any]
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val out = rec.summary(extra ++ Map("workload" -> o.workload, "seed" -> o.seed,
        "cores" -> o.cores))
      mapper.writeValue(new java.io.File(o.out), out)
    } finally spark.stop()
  }
}
