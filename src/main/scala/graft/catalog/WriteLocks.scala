package graft.catalog

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Per-warehouse write monitors. Every mutator of a warehouse's tables and
  * derived indexes — Api write paths AND streaming compaction — must
  * run inside the SAME monitor, or two writers race the bucket-swap
  * MERGE / index-partition swaps (one deletes a live dir while the other
  * is mid-move, or both stage into the same .delta dir). Keyed by the
  * canonical warehouse path so two handles over one warehouse share a
  * monitor; JVM-local, like the reference's per-process RLock
  * (vector_api.py:202) — cross-process coordination is storage-layer
  * territory (a lock service or transactional table format), out of scope
  * for the engine.
  */
object WriteLocks {
  private val locks = new ConcurrentHashMap[String, WarehouseMonitor]()

  def forWarehouse(warehouseDir: String): WarehouseMonitor = {
    val key =
      try java.nio.file.Paths.get(warehouseDir).toAbsolutePath.normalize.toString
      catch { case _: Exception => warehouseDir }
    locks.computeIfAbsent(key, _ => new WarehouseMonitor(key))
  }
}

/** One warehouse's write monitor and its serving snapshot.
  *
  * `apply(body)` runs a write: exclusive and reentrant (a JVM monitor), so
  * gated paths may call each other. The outermost write first finishes any
  * partition swap a crash interrupted ([[PartitionedTable.rollForward]]),
  * so its reads see finished tables.
  *
  * [[snapshot]] memoizes state that is a pure function of the warehouse's
  * files — catalog entries, resolved relations (a reused DataFrame keeps
  * its listed file index), index statistics — so consecutive reads stop
  * re-deriving it. Never results or rows. Invalidation is a seqlock:
  * `seq` is odd while a write is in progress and moves to the next even
  * value (the memo cleared) when the outermost write ends. A read beside
  * an in-progress write computes fresh and stores nothing, so a writer
  * always sees the files as they are; a read stores its value only when
  * no write began or ended while it computed, and a stored value is used
  * only at the generation it was computed at.
  */
final class WarehouseMonitor private[catalog] (warehouseDir: String) {
  private val seq = new AtomicLong(0L)
  private var depth = 0 // guarded by this
  private val memo = new ConcurrentHashMap[Any, (Long, Any)]()

  def apply[T](body: => T): T = synchronized {
    if (depth == 0) seq.incrementAndGet()
    depth += 1
    try {
      if (depth == 1) PartitionedTable.rollForwardAll(warehouseDir)
      body
    } finally {
      depth -= 1
      if (depth == 0) {
        memo.clear()
        seq.incrementAndGet()
      }
    }
  }

  def snapshot[T](key: Any)(compute: => T): T = {
    val gen = seq.get()
    if ((gen & 1L) == 1L) compute
    else {
      val hit = memo.get(key)
      if (hit != null && hit._1 == gen) hit._2.asInstanceOf[T]
      else {
        val value = compute
        if (seq.get() == gen) memo.put(key, (gen, value))
        value
      }
    }
  }

  private[catalog] def memoized: Int = memo.size
}
