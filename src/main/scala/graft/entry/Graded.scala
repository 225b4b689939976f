package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-graded query: the Spark harness over a testdata dir, the
  * DuckDB SQL computing the same rows over the same parquet tables, and
  * the caption PlanDump heads its plan with. Each `*Queries` object lists
  * its queries once, as its `graded` table; [[graft.SparkEntry]] builds
  * the name-keyed maps from the tables.
  */
final case class Graded(
    name: String,
    harness: (SparkSession, String) => DataFrame,
    oracle: String,
    caption: String)

object Graded {

  /** The table keyed by query name. A name listed twice fails, naming it:
    * a map would silently keep one of the two entries.
    */
  def byName(table: Seq[Graded]): Map[String, Graded] = {
    val twice = table.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(twice.isEmpty, s"graded query listed twice: ${twice.toSeq.sorted.mkString(", ")}")
    table.map(g => g.name -> g).toMap
  }
}
