package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.functions.VectorFunctions

/** The blocked top-k kNN kernel against the all-pairs formulation it
  * replaced: row for row, including score bits, on tied, NaN, zero-norm,
  * null-id, Long- and String-keyed, float and double inputs and the edge
  * sizes.
  */
class KnnKernelSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The former `Ann.knnJoin`: every (q, c) pair with q <> c, scored,
    * ranked by one row_number window.
    */
  private def allPairsKnn(vectors: DataFrame, k: Int): DataFrame = {
    val a = vectors.select(col("id").as("qid"), col("embedding").as("qv"), col("norm").as("qn"))
    val b = vectors.select(col("id"), col("embedding"), col("norm"))
    val scored = a.join(b, col("qid") =!= col("id"))
      .withColumn("score",
        VectorFunctions.dot(col("qv"), col("embedding")) / (col("qn") * col("norm")))
      .select("qid", "id", "score")
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("id").as("neighbor"), col("rn").as("rank"), col("score"))
  }

  /** The former `Ann.knnJoinWithin`: the same pairs, restricted to a cluster. */
  private def allPairsWithin(assigned: DataFrame, k: Int): DataFrame = {
    val a = assigned.select(col("id").as("qid"), col("embedding").as("qv"),
      col("norm").as("qn"), col("cluster_id"))
    val b = assigned.select(col("id"), col("embedding"), col("norm"), col("cluster_id"))
    val scored = a.join(b, Seq("cluster_id"))
      .filter(col("qid") =!= col("id"))
      .withColumn("score",
        VectorFunctions.dot(col("qv"), col("embedding")) / (col("qn") * col("norm")))
      .select("cluster_id", "qid", "id", "score")
    val w = Window.partitionBy("cluster_id", "qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("id").as("neighbor"), col("rn").as("rank"), col("score"))
  }

  /** Rows in a canonical order, scores as raw bits (NaN compares equal). */
  private def rows(df: DataFrame): Seq[(String, String, Int, Option[Long])] =
    df.collect().toSeq.map { r =>
      (String.valueOf(r.get(0)), String.valueOf(r.get(1)), r.getInt(2),
        if (r.isNullAt(3)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(3))))
    }.sortBy(t => (t._1, t._3))

  /** Vectors (id, embedding, norm, cluster_id) with duplicates (tied
    * scores) and, optionally, NaN and zero vectors and a null id.
    * `stringIds` keys them by zero-padded strings, else by Long;
    * `double` stores array<double> instead of array<float>.
    */
  private def vectors(seed: Int, n: Int, dim: Int, stringIds: Boolean = false,
      double: Boolean = false, nanRows: Int = 0, zeroRows: Int = 0,
      nullId: Boolean = false): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val base = Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    // every fifth vector repeats an earlier one: exact score ties
    for (i <- 5 until n by 5) base(i) = base(rnd.nextInt(i)).clone()
    for (i <- 0 until math.min(nanRows, n)) base(n - 1 - i)(0) = Float.NaN
    for (i <- 0 until math.min(zeroRows, n)) base(i) = Array.fill(dim)(0f)
    val df = base.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, i % 3) }
      .toDF("id", "embedding", "cluster_id")
    val typed = df
      .withColumn("id", when(lit(nullId) && col("id") === 1, lit(null))
        .otherwise(if (stringIds) format_string("v%04d", col("id")) else col("id")))
      .withColumn("embedding",
        if (double) col("embedding").cast("array<double>") else col("embedding"))
    typed.withColumn("norm", VectorFunctions.l2Norm(col("embedding")))
      .select("id", "embedding", "norm", "cluster_id")
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema")
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what: ${g.diff(w).take(5)} vs ${w.diff(g).take(5)}")
  }

  test("knnJoin and knnJoinWithin equal the all-pairs join row for row") {
    val cases = for {
      seed <- 1 to 3
      stringIds <- Seq(false, true)
    } yield (seed, stringIds, seed % 2 == 0)
    for ((seed, stringIds, double) <- cases; k <- Seq(1, 3)) {
      val v = vectors(seed, n = 23 + 7 * seed, dim = 8, stringIds, double, nanRows = 2,
        nullId = seed == 3)
      val what = s"seed=$seed stringIds=$stringIds double=$double k=$k"
      val flat = v.select("id", "embedding", "norm")
      assertSame(Ann.knnJoin(flat, k), allPairsKnn(flat, k), s"knnJoin $what")
      assertSame(Ann.knnJoinWithin(v, k), allPairsWithin(v, k), s"knnJoinWithin $what")
    }
  }

  test("edge sizes: k >= n-1, k = 0, a single row, an empty input, no statistics") {
    val v = vectors(7, n = 9, dim = 4)
    val flat = v.select("id", "embedding", "norm")
    for (k <- Seq(0, 8, 9, 50)) {
      assertSame(Ann.knnJoin(flat, k), allPairsKnn(flat, k), s"knnJoin k=$k")
      assertSame(Ann.knnJoinWithin(v, k), allPairsWithin(v, k), s"knnJoinWithin k=$k")
    }
    // an RDD-backed frame has no size estimate: its blocks are sized by a count job
    val noStats = spark.createDataFrame(flat.rdd, flat.schema)
    assertSame(Ann.knnJoin(noStats, 3), allPairsKnn(noStats, 3), "knnJoin without statistics")
    for (input <- Seq(flat.limit(1), flat.limit(0))) {
      assert(Ann.knnJoin(input, 3).count() == 0)
      assert(Ann.knnJoin(input, 3).schema == allPairsKnn(input, 3).schema)
      assert(Ann.knnJoinWithin(v.limit(input.count().toInt), 3).count() == 0)
    }
  }

  test("zero-norm vectors: DIVIDE_BY_ZERO under ANSI, null scores without it") {
    val v = vectors(11, n = 12, dim = 4, zeroRows = 2)
    val flat = v.select("id", "embedding", "norm")
    def causes(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val e = intercept[Exception](Ann.knnJoin(flat, 3).collect())
    assert(causes(e).exists(_.getMessage.contains("DIVIDE_BY_ZERO")), e.toString)
    intercept[Exception](allPairsKnn(flat, 3).collect())
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assertSame(Ann.knnJoin(flat, 3), allPairsKnn(flat, 3), "knnJoin, ANSI off")
      assertSame(Ann.knnJoinWithin(v, 3), allPairsWithin(v, 3), "knnJoinWithin, ANSI off")
      assert(Ann.knnJoin(flat, 3).filter(col("score").isNull).count() > 0)
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("knnJoin scores at most n * B * k candidates, not n * (n - 1)") {
    val n = 60
    val k = 3
    // no duplicate rows: Gaussian scores do not tie
    val flat = vectors(3, n, dim = 8).filter(col("id") % 5 =!= 0 || col("id") === 0)
      .select("id", "embedding", "norm")
    val m = flat.count()
    val knn = Ann.knnJoin(flat, k)
    knn.collect()
    val explodeRows = collect(knn.queryExecution.executedPlan) {
      case g: GenerateExec => g.metrics("numOutputRows").value
    }
    assert(explodeRows.size == 1)
    val blocks = math.min(m, spark.sparkContext.defaultParallelism.toLong)
    assert(explodeRows.head <= m * blocks * k,
      s"${explodeRows.head} candidates > n*B*k = ${m * blocks * k}")
    assert(explodeRows.head < m * (m - 1))
  }
}
