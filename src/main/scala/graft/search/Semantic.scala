package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Exact distributed cosine top-k — the semantic_search operator.
  *
  * Reference semantics (vector_mcp/vectordb/postgres.py:316-348):
  *   - multi-query: one result list per query;
  *   - score returned = similarity = 1 - cosine_distance;
  *   - ORDER BY distance ASC LIMIT k  (i.e. similarity DESC);
  *   - distance_threshold t >= 0: keep iff (1 - similarity) <= t, pushed
  *     below the top-k (postgres.py:329-333).
  *
  * Spark-first design: the per-query plan is
  *   Scan(parquet, pruned to [id, embedding, norm]) -> Project(score)
  *   -> Filter(threshold) -> TakeOrderedAndProject(k)
  * `TakeOrderedAndProject` IS the distributed bounded-heap top-k (per
  * partition heap + driver merge), so no full sort and no shuffle of the
  * corpus ever happens — this is the property that survives 100 TB.
  * Queries are broadcast as literals (a handful of floats each), never
  * joined, so the corpus scan is the only distributed work; with Q queries
  * we run Q scans unioned (shared-scan reuse via the parquet cache is the
  * scale knob; Q is bounded by the API at a handful per call).
  *
  * The documents table stores a precomputed L2 `norm` column at ingest
  * (FIXTURES.md §1) so scoring does ONE array fold per row, not three.
  */
object Semantic {

  /** Cosine score of a stored (embedding, norm) row against a constant
    * query vector. The query norm is folded into a literal at plan time.
    */
  def scoreAgainst(embedding: Column, norm: Column, query: Seq[Float]): Column = {
    val qNorm = math.sqrt(query.map(v => v.toDouble * v.toDouble).sum)
    // one literal for the whole vector: per-element `lit`s would each
    // capture a stack trace and give the analyzer `dim` children to
    // resolve and fold on every request, for the same folded plan. Not
    // `typedLit`: it derives the type through Scala runtime reflection on
    // every request
    dot(embedding, lit(query.map(_.toDouble).toArray)) / (norm * lit(qNorm))
  }

  /** Multi-query exact top-k.
    *
    * @param docs   DataFrame with at least (id, embedding, norm) plus any
    *               payload columns to carry through.
    * @param queries (query_idx, query_vector) pairs — already embedded.
    * @param k      n_results (1..1000, validated at the Api layer).
    * @param distanceThreshold reference semantics: active iff >= 0.
    * @param payload extra column names to carry into the result.
    * @return (query_idx, id, <payload...>, score) — top-k per query, score
    *         descending, ties broken by id ascending (deterministic).
    */
  def search(
      docs: DataFrame,
      queries: Seq[(Int, Seq[Float])],
      k: Int,
      distanceThreshold: Double = -1.0,
      payload: Seq[String] = Nil
  ): DataFrame = {
    val results = queries.map { case (qIdx, qVec) =>
      val scored = docs
        .withColumn("score", scoreAgainst(col("embedding"), col("norm"), qVec))
        .withColumn("query_idx", lit(qIdx))
      val filtered =
        if (distanceThreshold >= 0)
          scored.filter(lit(1.0) - col("score") <= lit(distanceThreshold))
        else scored
      filtered
        .select((Seq("query_idx", "id") ++ payload ++ Seq("score")).map(col): _*)
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
    }
    // Empty query batch -> empty result WITH the result schema (a plan for
    // a dummy query, truncated to zero rows — Catalyst's OptimizeLimitZero
    // folds it to an empty LocalRelation, so nothing is ever scanned).
    // The Api layer additionally rejects empty batches up front.
    results.reduceOption(_ unionAll _).getOrElse(
      search(docs, Seq(0 -> Seq(0f)), k, distanceThreshold, payload).limit(0))
  }

  /** Window-based variant for LARGE query batches (offline kNN join):
    * one pass over (docs x queries) with per-partition pre-top-k, used when
    * unioned per-query scans would mean too many scans. The two-level
    * row_number (physical-partition local top-k, then global top-k over
    * survivors) keeps the window shuffle bounded to ~numPartitions*k rows
    * per query instead of the whole corpus.
    */
  def searchMany(
      docs: DataFrame,
      queriesDf: DataFrame, // (query_idx, query_vec ARRAY<FLOAT|DOUBLE>)
      k: Int
  ): DataFrame = {
    val joined = docs
      .join(broadcast(queriesDf))
      .withColumn("score",
        cosinePrenormed(col("embedding"), col("query_vec"), col("norm"), l2Norm(col("query_vec"))))
      .select("query_idx", "id", "score")
    // one window, map-side group-limit pruned (see Ann.knnJoin): the
    // rn <= k filter triggers InferWindowGroupLimit, so each map
    // partition emits at most k rows per query before the exchange
    val globalW = Window.partitionBy("query_idx")
      .orderBy(col("score").desc, col("id").asc)
    joined
      .withColumn("rn", row_number().over(globalW)).filter(col("rn") <= k)
      .select("query_idx", "id", "score")
  }
}
