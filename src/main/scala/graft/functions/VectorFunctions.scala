package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector scoring primitives as codegen-friendly Column expressions.
  *
  * All math is done with Spark built-in higher-order functions
  * (`zip_with` / `aggregate` / `transform`) so the whole scoring pipeline
  * stays inside WholeStageCodegen — no Scala UDF in the hot path.
  *
  * Semantics mirror the reference's cosine scoring: score = similarity
  * = 1 - cosine_distance (reference: vector_mcp/vectordb/postgres.py:334-343,
  * brute-force form couchbase.py:338-368).
  *
  * All arithmetic is performed in DOUBLE regardless of the storage type
  * (arrays are stored ARRAY<FLOAT> for footprint — at 100 TB the 2x saving
  * on the fattest column matters — but scored in double for numeric
  * stability and oracle parity).
  */
object VectorFunctions {

  /** Element-wise dot product of two ARRAY<numeric> columns, in double.
    * Left-to-right sequential fold => deterministic summation order.
    * Backed by the native codegen expression (VectorExpressions.DotProduct);
    * the HOF formulation it replaces was interpreted (~1000x slower/row).
    */
  def dot(a: Column, b: Column): Column =
    VectorExpressions.dotNative(a, b)

  /** L2 norm of an ARRAY<numeric> column, in double. */
  def l2Norm(a: Column): Column =
    VectorExpressions.l2NormNative(a)

  /** Squared L2 distance of two ARRAY<numeric> columns, in double. */
  def l2DistanceSq(a: Column, b: Column): Column =
    VectorExpressions.l2DistanceSqNative(a, b)

  /** Cosine similarity of two vector columns (recomputes both norms). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine similarity with precomputed norms — the scale path: the
    * documents table stores `norm` at ingest so a query scan does one dot
    * product + one division per row instead of three array folds.
    */
  def cosinePrenormed(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** True iff every element of the vector is finite (no NaN/Inf).
    * Mirrors the embedding validation in base.py:64-75.
    */
  def allFinite(a: Column): Column =
    forall(a, x => !isnan(x.cast("double")) && abs(x.cast("double")) <= lit(Double.MaxValue))

  /** 0-based argmin index into a baked centroid matrix by cosine distance
    * (see [[VectorExpressions.NearestCentroidIndex]]); rows must pass
    * centroids pre-sorted in the desired tie-break order.
    */
  def nearestCentroidIndex(
      embedding: Column, norm: Column,
      centroids: Array[Array[Float]], centroidNorms: Array[Double]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      VectorExpressions.NearestCentroidIndex(
        org.apache.spark.sql.GraftSqlBridge.expression(embedding),
        org.apache.spark.sql.GraftSqlBridge.expression(norm),
        centroids, centroidNorms))
}
