package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.TextFunctions
import Fixtures._

/** Oracle-checked queries for the evaluation/monitoring tail: exact
  * tie-aware AUC of the trained quality classifier, PSI distribution
  * drift between corpus slices, and weighted deterministic sampling.
  * Every oracle is a full DuckDB replay over the raw tables.
  */
object EvalQueries {

  // ---- Poisson-bootstrap confidence interval for mean tokens/doc
  //      (operators.Bootstrap): 32 deterministic hash-drawn Poisson(1)
  //      resamples in ONE corpus pass, percentile CI from the replica
  //      means. The oracle replays the md5 draws, the inverse-CDF
  //      weights (shared integer thresholds), every replica mean, and
  //      the order statistics. ----
  def bootstrapCi(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bootstrap.meanCi(
      t(s, dir, "documents").select(col("doc_id").as("id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("tokens")),
      "id", "tokens", b = 32)

  val bootstrapCiSql: String = {
    val wExpr = graft.operators.Bootstrap.CdfThresholds
      .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH d AS (SELECT doc_id AS id, CAST(len($toksD) AS BIGINT) AS v
       |           FROM documents),
       |reps AS (SELECT CAST(unnest(range(32)) AS BIGINT) AS rep),
       |x AS (SELECT d.id, d.v, r.rep,
       |        ('0x' || substr(md5(CAST(d.id AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)), 1, 8))::BIGINT AS u
       |      FROM d CROSS JOIN reps r),
       |wts AS (SELECT id, v, rep, $wExpr AS w FROM x),
       |m AS (SELECT rep,
       |        (CAST(sum(w * v) AS BIGINT) * 1000000) // CAST(sum(w) AS BIGINT) AS mean_micro
       |      FROM wts GROUP BY rep),
       |o AS (SELECT mean_micro,
       |        row_number() OVER (ORDER BY mean_micro, rep) AS rn FROM m),
       |pt AS (SELECT (CAST(sum(v) AS BIGINT) * 1000000) // count(*) AS point_micro,
       |              CAST(count(*) AS BIGINT) AS n
       |       FROM d)
       |SELECT CAST(32 AS BIGINT) AS b, pt.n AS n_rows, pt.point_micro,
       |  (SELECT mean_micro FROM o WHERE rn = 2) AS lo_micro,
       |  (SELECT mean_micro FROM o WHERE rn = 31) AS hi_micro
       |FROM pt""".stripMargin
  }

  // ---- embedding-centroid semantic drift (operators.Drift
  //      .semanticDrift): label<5 slice as the reference corpus, label>=5
  //      as the incoming one; per-dimension centroid deltas plus the
  //      centroid-cosine and shift-L2 summary, all micro-exact. ----
  def driftSemantic(s: SparkSession, dir: String): DataFrame = {
    val all = graft.Tables.vectors(s, dir)
    graft.operators.Drift.semanticDrift(
        all.filter(col("label") < 5), all.filter(col("label") >= 5))
      .orderBy("dim")
  }

  val driftSemanticSql: String =
    """WITH q AS (
      |  SELECT CASE WHEN label < 5 THEN 0 ELSE 1 END AS side, i AS dim,
      |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
      |  FROM embeddings, UNNEST(range(len(embedding))) AS u(i)),
      |m AS (SELECT side, dim, CAST(count(*) AS BIGINT) AS n,
      |        CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS mean_micro
      |      FROM q GROUP BY 1, 2),
      |j AS (SELECT r.dim, r.n AS n_ref, c.n AS n_cur,
      |        r.mean_micro AS ref_mean_micro, c.mean_micro AS cur_mean_micro,
      |        c.mean_micro - r.mean_micro AS delta_micro
      |      FROM (SELECT * FROM m WHERE side = 0) r
      |      JOIN (SELECT * FROM m WHERE side = 1) c USING (dim)),
      |s AS (SELECT
      |        CAST(floor(CAST(sum(ref_mean_micro * cur_mean_micro) AS DOUBLE)
      |          / (sqrt(CAST(sum(ref_mean_micro * ref_mean_micro) AS DOUBLE))
      |             * sqrt(CAST(sum(cur_mean_micro * cur_mean_micro) AS DOUBLE))) * 1e6)
      |          AS BIGINT) AS centroid_cos_micro,
      |        CAST(floor(sqrt(CAST(sum(delta_micro * delta_micro) AS DOUBLE)))
      |          AS BIGINT) AS shift_l2_micro
      |      FROM j)
      |SELECT j.*, s.centroid_cos_micro, s.shift_l2_micro
      |FROM j CROSS JOIN s ORDER BY dim""".stripMargin

  // ---- mergeable profile (operators.Profile.profileLong /
  //      mergeProfiles): the engine computes corpus stats by MERGING the
  //      profiles of two disjoint halves; the oracle computes the same
  //      stats directly over the whole table. Hash equality proves the
  //      merge exact — the O(batch) stats-maintenance contract. ----
  def profileMerge(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cols = Seq("doc_id", "n_chars")
    graft.operators.Profile.mergeProfiles(
        graft.operators.Profile.profileLong(docs.filter(col("doc_id") % 2 === 0), cols),
        graft.operators.Profile.profileLong(docs.filter(col("doc_id") % 2 === 1), cols))
      .orderBy("column")
  }

  val profileMergeSql: String =
    """SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
      |       CAST(min(doc_id) AS BIGINT) AS min_value,
      |       CAST(max(doc_id) AS BIGINT) AS max_value,
      |       CAST(sum(doc_id) AS BIGINT) AS sum_value
      |FROM documents
      |UNION ALL
      |SELECT 'n_chars', CAST(count(*) AS BIGINT),
      |       CAST(count(*) - count(n_chars) AS BIGINT),
      |       CAST(min(n_chars) AS BIGINT), CAST(max(n_chars) AS BIGINT),
      |       CAST(sum(n_chars) AS BIGINT)
      |FROM documents
      |ORDER BY "column"""".stripMargin

  // ---- per-group OLS trend (operators.Trend.groupOls): chars-per-doc
  //      regressed on tokens-per-doc within each language — exact BIGINT
  //      sufficient statistics, shared-sequence floored doubles. ----
  def trendOls(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trend.groupOls(
        t(s, dir, "documents").select(col("lang"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("toks"),
          col("n_chars")),
        "lang", "toks", "n_chars")
      .orderBy("group")

  val trendOlsSql: String =
    s"""WITH d AS (SELECT lang, CAST(len($toksD) AS BIGINT) AS x,
       |                  CAST(n_chars AS BIGINT) AS y
       |           FROM documents),
       |g AS (SELECT lang AS "group", CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |        CAST(sum(x * x) AS BIGINT) AS sxx,
       |        CAST(sum(x * y) AS BIGINT) AS sxy
       |      FROM d GROUP BY 1)
       |SELECT "group", n,
       |  CASE WHEN n * sxx - sx * sx = 0 THEN 0
       |       ELSE CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
       |              / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6) AS BIGINT)
       |  END AS slope_micro,
       |  CASE WHEN n * sxx - sx * sx = 0 THEN 0
       |       ELSE CAST(floor(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
       |              - (CAST(n * sxy - sx * sy AS DOUBLE)
       |                 / CAST(n * sxx - sx * sx AS DOUBLE))
       |                * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)
       |  END AS intercept_value
       |FROM g ORDER BY "group"""".stripMargin

  // ---- exact AUC of the trained quality classifier (operators.Eval):
  //      the same fully-replayed 2-round training run as
  //      q_quality_classifier (shared CTE chain), then the tie-aware
  //      rank-form AUC — engine side via the bucket-sliced distributed
  //      prefix sum (no global sort), oracle side via the naive global
  //      window; hash equality proves the distributed form exact. ----
  def classifierAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = classifierScores(s, dir)
      .select(col("margin_micro"), col("label").cast("long").as("pos"))
    graft.operators.Eval.aucExact(scored)
  }

  val classifierAucSql: String =
    s"""WITH $clfTrainCtes,
       |dist AS (SELECT margin_micro AS m, CAST(sum(label) AS BIGINT) AS np,
       |                CAST(count(*) - sum(label) AS BIGINT) AS nn
       |         FROM m2 GROUP BY 1),
       |cum AS (SELECT m, np, nn,
       |          CAST(coalesce(sum(nn) OVER (ORDER BY m
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |            AS below
       |        FROM dist)
       |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
       |       CAST(count(*) AS BIGINT) AS n_margins,
       |       (CAST(sum(np * (2 * below + nn)) AS BIGINT) * 1000000)
       |         // (2 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)) AS auc_micro,
       |       (CAST(sum(np * (2 * below + nn)) AS BIGINT) * 1000000)
       |         // (CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)) - 1000000
       |         AS gini_micro
       |FROM cum""".stripMargin

  // ---- PSI distribution drift (operators.Drift): length distribution of
  //      the ten original sources (len-4 names src0..src9) vs the ten
  //      newer sources (len-5 names src10..src19) — the "does the new
  //      crawl look like the reference corpus" check. The current side's
  //      minimum undercuts the reference range, so the edge-bin clamp
  //      path is live in the hash. ----
  def driftPsi(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.operators.Drift.psi(
      d.filter(length(col("source")) === 4).select(col("n_chars")),
      d.filter(length(col("source")) === 5).select(col("n_chars")),
      "n_chars", bins = 10)
      .orderBy("bin")
  }

  val driftPsiSql: String =
    s"""WITH ref AS (SELECT n_chars FROM documents WHERE len(source) = 4),
       |cur AS (SELECT n_chars FROM documents WHERE len(source) = 5),
       |st AS (SELECT CAST(min(n_chars) AS BIGINT) AS mn,
       |              CAST((max(n_chars) - min(n_chars)) // 10 + 1 AS BIGINT) AS w,
       |              CAST(count(*) AS BIGINT) AS nr FROM ref),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cur),
       |br AS (SELECT least(greatest((n_chars - st.mn) // st.w, 0), 9) AS bin,
       |              count(*) AS cr
       |       FROM ref CROSS JOIN st GROUP BY 1),
       |bc AS (SELECT least(greatest((n_chars - st.mn) // st.w, 0), 9) AS bin,
       |              count(*) AS cc
       |       FROM cur CROSS JOIN st GROUP BY 1),
       |grid AS (SELECT b.bin, CAST(st.mn + b.bin * st.w AS BIGINT) AS lo,
       |           CAST(COALESCE(br.cr, 0) AS BIGINT) AS n_ref,
       |           CAST(COALESCE(bc.cc, 0) AS BIGINT) AS n_cur,
       |           CAST(floor(
       |             ((COALESCE(br.cr, 0) + 1)::DOUBLE / (st.nr + 10)
       |               - (COALESCE(bc.cc, 0) + 1)::DOUBLE / (nc.n + 10))
       |             * ln(((COALESCE(br.cr, 0) + 1)::DOUBLE / (st.nr + 10))
       |                / ((COALESCE(bc.cc, 0) + 1)::DOUBLE / (nc.n + 10)))
       |             * 1e9) AS BIGINT) AS term_nano
       |         FROM (SELECT unnest(range(10)) AS bin) b
       |         CROSS JOIN st CROSS JOIN nc
       |         LEFT JOIN br USING (bin) LEFT JOIN bc USING (bin))
       |SELECT CAST(bin AS BIGINT) AS bin, lo, n_ref, n_cur, term_nano,
       |       CAST(sum(term_nano) OVER () AS BIGINT) AS psi_nano
       |FROM grid ORDER BY bin""".stripMargin

  // ---- weighted deterministic sampling (operators.Sampling, Efraimidis–
  //      Spirakis via hash-Gumbel keys): global top-50 by token-count
  //      weight (TakeOrderedAndProject) and the per-language k=20 carve
  //      (WindowGroupLimit). Both fully replayed incl. the micro-keys. ----
  private def weightedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("lang"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("weight"))

  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedFixedSize(weightedDocs(s, dir), "id", "weight", 50)
      .select(col("id").as("doc_id"), col("weight"))
      .orderBy("doc_id")

  private val weightedKeySqlCte: String =
    s"""d AS (SELECT doc_id AS id, lang, CAST(len($toksD) AS BIGINT) AS weight
       |      FROM documents),
       |k AS (SELECT lang, id, weight,
       |        CAST(floor(ln(weight::DOUBLE) * 1e6) AS BIGINT) +
       |        CAST(floor(-ln(-ln(
       |          ((('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
       |            / 4294967296.0))) * 1e6) AS BIGINT) AS key
       |      FROM d WHERE weight > 0)""".stripMargin

  val sampleWeightedSql: String =
    s"""WITH $weightedKeySqlCte
       |SELECT id AS doc_id, weight FROM (
       |  SELECT id, weight FROM k
       |  ORDER BY key DESC, CAST(id AS VARCHAR) LIMIT 50)
       |ORDER BY doc_id""".stripMargin

  def sampleWeightedGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .weightedFixedSizePerGroup(weightedDocs(s, dir), "id", "weight", "lang", 20)
      .select(col("lang"), col("id").as("doc_id"), col("weight"))
      .orderBy("lang", "doc_id")

  val sampleWeightedGroupSql: String =
    s"""WITH $weightedKeySqlCte,
       |r AS (SELECT lang, id, weight,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY key DESC, CAST(id AS VARCHAR)) AS rn
       |      FROM k)
       |SELECT lang, id AS doc_id, weight FROM r WHERE rn <= 20
       |ORDER BY lang, doc_id""".stripMargin

  val graded: Seq[Graded] = Seq(
    Graded("q_bootstrap_ci", bootstrapCi, bootstrapCiSql,
      "Poisson bootstrap: B-way explode collapses map-side to B rows per partition"),
    Graded("q_drift_semantic", driftSemantic, driftSemanticSql,
      "semantic drift: two dim-keyed combiner aggs -> d-row join -> broadcast summary"),
    Graded("q_profile_merge", profileMerge, profileMergeSql,
      "mergeable profile: two 1-row aggs -> |cols|-row merge agg (metadata-sized)"),
    Graded("q_trend_ols", trendOls, trendOlsSql,
      "grouped OLS: one keyed sufficient-statistics agg -> closed-form projection"),
    Graded("q_classifier_auc", classifierAuc, classifierAucSql,
      "exact AUC: distinct-margin agg + bucket-sliced prefix sum, window PARTITIONED by bucket (no global sort)"),
    Graded("q_drift_psi", driftPsi, driftPsiSql,
      "PSI drift: two pruned scans -> 10-key aggs -> bins-sized grid, single-row broadcast total"),
    Graded("q_sample_weighted", sampleWeighted, sampleWeightedSql,
      "weighted sample: Gumbel micro-key + TakeOrderedAndProject heap"),
    Graded("q_sample_weighted_group", sampleWeightedGroup, sampleWeightedGroupSql,
      "per-group weighted sample: Gumbel keys + per-group bounded window"))
}
