package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation helpers.
  *
  * AQE (on by default) already splits skewed SHUFFLE partitions for joins;
  * what it cannot fix is a single hot GROUP BY key whose partial aggregates
  * all land on one reducer. The classic remedy is two-phase salted
  * aggregation: aggregate on (key, salt) first — spreading the hot key over
  * `salts` reducers — then merge the per-salt partials. Works for any
  * algebraic aggregate (sum/count/min/max and compositions like the
  * engine's decimal-sum pattern).
  */
object SkewTools {

  /** Two-phase salted sum/count aggregation.
    *
    * @param df       input
    * @param keyCols  grouping keys
    * @param aggs     (inputCol -> "sum"|"count"|"min"|"max") output keeps
    *                 the input column name
    * @param salts    salt fan-out for phase 1
    */
  def saltedAgg(
      df: DataFrame,
      keyCols: Seq[String],
      aggs: Map[String, String],
      salts: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val phase1 = salted
      .groupBy((keyCols :+ "__salt").map(col): _*)
      .agg(aggs.head match { case (c, f) => phase1Agg(c, f) },
        aggs.tail.map { case (c, f) => phase1Agg(c, f) }.toSeq: _*)
    phase1
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head match { case (c, f) => phase2Agg(c, f) },
        aggs.tail.map { case (c, f) => phase2Agg(c, f) }.toSeq: _*)
  }

  private def phase1Agg(c: String, f: String): Column = f match {
    case "sum" => sum(col(c)).as(c)
    case "count" => count(col(c)).as(c)
    case "min" => min(col(c)).as(c)
    case "max" => max(col(c)).as(c)
    case other => throw new IllegalArgumentException(s"unsupported agg $other")
  }

  /** Merge of phase-1 partials: count partials merge by SUM. */
  private def phase2Agg(c: String, f: String): Column = f match {
    case "sum" | "count" => sum(col(c)).as(c)
    case "min" => min(col(c)).as(c)
    case "max" => max(col(c)).as(c)
    case other => throw new IllegalArgumentException(s"unsupported agg $other")
  }

  /** Salted equi-join for a skewed FACT side against a small-but-not-tiny
    * dimension (too big to broadcast, hot join keys on the fact side).
    * The fact side gets a per-row salt (any assignment works — salting only
    * redistributes, never changes the join result); the dimension side is
    * replicated across all `salts` values so every (key, salt) shard finds
    * its match. A hot key's rows then spread over `salts` reducers instead
    * of one. Result == `fact.join(dim, key)` (inner), with the two helper
    * columns dropped.
    *
    * When the dimension fits in memory, prefer `broadcast(dim)` — salting
    * is for the middle regime AQE's skew-join cannot reach (e.g. when the
    * skew is in a single key within one huge partition pre-shuffle).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int = 16): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)).cast("int"))
    val replicatedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(replicatedDim, Seq(key, "__salt")).drop("__salt")
  }
}
