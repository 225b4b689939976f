package graft.catalog

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The serving snapshot's seqlock protocol (WarehouseMonitor): a memoized
  * value is served only at the write generation it was computed at, and
  * nothing computed beside or across a write is ever stored.
  */
class WarehouseMonitorSpec extends AnyFunSuite {

  private def monitor(): WarehouseMonitor =
    WriteLocks.forWarehouse(Files.createTempDirectory("graft-wh").toString)

  /** Run `body` on another thread and wait for it. */
  private def onOtherThread(body: => Unit): Unit = {
    val t = new Thread(() => body)
    t.start()
    t.join(30000)
    assert(!t.isAlive, "helper thread did not finish")
  }

  test("two handles over one warehouse share one monitor") {
    val dir = Files.createTempDirectory("graft-wh")
    assert(WriteLocks.forWarehouse(dir.toString) eq
      WriteLocks.forWarehouse(dir.resolve("x").resolve("..").toString))
  }

  test("with no write in between, a snapshot computes once") {
    val m = monitor()
    val computed = new AtomicInteger(0)
    def read() = m.snapshot("k") { computed.incrementAndGet() }
    assert(read() == 1 && read() == 1 && read() == 1)
    assert(computed.get() == 1)
  }

  test("a write ends the generation: the next read recomputes") {
    val m = monitor()
    val computed = new AtomicInteger(0)
    def read() = m.snapshot("k") { computed.incrementAndGet() }
    assert(read() == 1)
    m { () }
    assert(read() == 2 && read() == 2)
    // nested writes end the generation once, when the outermost ends
    m { m { () }; () }
    assert(read() == 3 && computed.get() == 3)
  }

  test("while a write is in progress, snapshot recomputes and stores nothing") {
    val m = monitor()
    val computed = new AtomicInteger(0)
    def read(key: String) = m.snapshot(key) { computed.incrementAndGet() }
    assert(read("k") == 1 && m.memoized == 1)
    val inWrite = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val writer = new Thread(() => m {
      inWrite.countDown()
      release.await(30, TimeUnit.SECONDS)
      ()
    })
    writer.start()
    assert(inWrite.await(30, TimeUnit.SECONDS))
    // a reader on another thread, beside the write: the stored value is
    // not served, and what it computes is not stored
    var seen = Seq.empty[Int]
    onOtherThread { seen = Seq(read("k"), read("k2"), read("k2")) }
    assert(seen == Seq(2, 3, 4))
    assert(m.memoized == 1, "nothing may be stored while a write is in progress")
    release.countDown()
    writer.join(30000)
    assert(m.memoized == 0)
    assert(read("k") == 5 && read("k") == 5 && m.memoized == 1)
  }

  test("a read a write begins and ends across stores nothing") {
    val m = monitor()
    val computed = new AtomicInteger(0)
    val v = m.snapshot("k") {
      computed.incrementAndGet()
      onOtherThread(m { () })
      "computed before the write"
    }
    assert(v == "computed before the write")
    assert(m.memoized == 0)
    assert(m.snapshot("k") { computed.incrementAndGet(); "after" } == "after")
    assert(computed.get() == 2)
  }

  test("a failed computation stores nothing") {
    val m = monitor()
    intercept[IllegalStateException](m.snapshot("k") { throw new IllegalStateException("boom") })
    assert(m.memoized == 0)
    assert(m.snapshot("k")(7) == 7)
  }
}
