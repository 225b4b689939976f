package graft

import java.nio.file.{Files, Path, Paths}
import graft.catalog.Catalog
import graft.ingest.DocumentInputs

/** Directory walks close their streams: repeated catalog writes and
  * document-root scans, succeeding or failing, do not grow the process's
  * open file descriptors.
  */
class DirectoryStreamSpec extends SparkSpec {

  private def openFds(): Int = {
    val stream = Files.list(Paths.get("/proc/self/fd"))
    try stream.count().toInt finally stream.close()
  }

  /** Runs `body` `n` times after one warm-up call; the open descriptors
    * may not grow by more than a few (other threads open files too).
    */
  private def noFdGrowth(what: String, n: Int)(body: => Unit): Unit = {
    body
    val before = openFds()
    (1 to n).foreach(_ => body)
    val grown = openFds() - before
    assert(grown < n / 2, s"$what: $grown descriptors opened by $n calls stayed open")
  }

  private def docRoot(): Path = {
    val root = Files.createTempDirectory("graft-fd-docs")
    Files.createDirectories(root.resolve("sub/deeper"))
    Files.writeString(root.resolve("a.txt"), "alpha")
    Files.writeString(root.resolve("sub/deeper/b.txt"), "beta")
    root
  }

  test("document-root scans close their walk on success and on failure") {
    val ok = docRoot()
    noFdGrowth("successful scan", 40) {
      DocumentInputs.resolveDocumentInputs(ok.toString, includeConfiguredDirectory = true)
    }
    val bad = docRoot()
    Files.createSymbolicLink(bad.resolve("sub/deeper/link.txt"), bad.resolve("a.txt"))
    noFdGrowth("rejected scan", 40) {
      intercept[IllegalArgumentException](
        DocumentInputs.resolveDocumentInputs(bad.toString, includeConfiguredDirectory = true))
    }
  }

  test("catalog writes close their directory walks") {
    val catalog = new Catalog(spark, Files.createTempDirectory("graft-fd-wh").toString)
    noFdGrowth("catalog write", 10) {
      catalog.createCollection("fd_probe", 8, overwrite = true)
      catalog.deleteCollection("fd_probe")
    }
  }
}
