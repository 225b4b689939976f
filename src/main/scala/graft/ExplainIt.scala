package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dev harness (not driver contract): dump `explain("formatted")` for the
  * named queries into a directory — the before/after plan evidence the
  * optimization rounds commit under plans/.
  *
  *   java ... graft.ExplainIt /root/testdata/sf0.001 plans/r14 suffix q_a q_b
  */
object ExplainIt {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      println(s"wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
