package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.entry._

/** The graded-query contract (SURVEY.md §7).
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 (or a
  * pipeline-extension operator) on the driver's testdata; `oracleSql` holds
  * the equivalent DuckDB SQL over the same parquet tables. Column names,
  * types, and row order are aligned on both sides; floating scores are
  * rounded (6-9 digits) to absorb summation-order ulps. Both maps are
  * built once from [[table]], where each query is listed once.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * hybrid RRF search (the reference's richest path, vector_api.py:518-566).
    */
  def entry(spark: SparkSession): DataFrame = {
    // caller-provided session: avoid the minutes-long one-time ICU case-map
    // build on cold JVMs (results identical on ASCII corpora)
    try spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    catch { case _: Throwable => () }
    queries("q_hybrid_rrf")(spark, "/root/testdata/sf0.001")
  }

  /** Every graded query, one entry each, family by family. */
  lazy val table: Seq[Graded] =
    SearchQueries.graded ++ CoreQueries.graded ++ DedupQueries.graded ++
      TextQueries.graded ++ TermQueries.graded ++ QualityQueries.graded ++
      EvalQueries.graded ++ OlapQueries.graded ++ OpsQueries.graded ++
      WebQueries.graded ++ ChatQueries.graded

  private lazy val byName: Map[String, Graded] = Graded.byName(table)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, g) => n -> g.harness }

  lazy val oracleSql: Map[String, String] = byName.map { case (n, g) => n -> g.oracle }

  /** The graded queries in name order; with SPARK_GRAFT_ONLY=q_a,q_b set,
    * only those (a local iteration loop; unset, every query runs).
    */
  def selected: Seq[Graded] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    table.filter(g => only.forall(_.contains(g.name))).sortBy(_.name)
  }
}
