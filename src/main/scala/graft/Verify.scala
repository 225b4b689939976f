package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in oracle SQL would otherwise make a JSON reader of
  // oracle_sql.json fail and silently lose every oracle. Bench's JSON
  // line uses the same quoter.
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failing query must be a loud, machine-readable artifact — not just a
    // stderr line. r4 lost 5 queries silently: Verify logged and moved on,
    // and the driver's correctness file simply shrank. Every failure lands
    // in outDir/_errors.json AND on stdout.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected = SparkEntry.selected
    selected.foreach { g =>
      try g.harness(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        failures(g.name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        System.err.println(s"[verify] ${g.name} FAILED: ${e.getMessage}")
      }
      finally spark.catalog.clearCache()
    }
    val json = selected
      .map(g => s"${q(g.name)}: ${q(g.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (failures.nonEmpty) {
      println(s"[verify] ${failures.size} of ${selected.size} queries FAILED: " +
        failures.keys.mkString(", "))
    } else {
      println(s"[verify] all ${selected.size} queries wrote results")
    }
    spark.stop()
  }
}
