package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Fixture code shared by the grading harnesses: DuckDB CTE fragments the
  * oracles interpolate, and the Spark frames several harnesses build the
  * same way. Each is code, not a result: every harness call builds its
  * own frames and nothing is cached across queries or runs.
  */
object Fixtures {

  /** DuckDB replay of `Retriever.chunk(maxTokens = 20)` over a CTE
    * `w(doc_id, words)`: `n` counts each document's windows and `c` holds
    * each window's text (empty past the last word).
    */
  val chunkWindowCtes: String =
    """n AS (SELECT doc_id, words,
      |             greatest(CAST(ceil(len(words) / 20.0) AS INTEGER), 1) AS n_chunks
      |      FROM w),
      |c AS (SELECT doc_id,
      |             array_to_string(words[i*20+1 : i*20+20], ' ') AS chunk
      |      FROM n, (SELECT unnest(range(100)) AS i) ix
      |      WHERE ix.i < n.n_chunks)""".stripMargin

  /** DuckDB `TextFunctions.tokens`: the lowercased `[a-z0-9_]{2,}` runs of `text`. */
  val toksD = "regexp_extract_all(lower(text), '[a-z0-9_]{2,}')"

  /** DuckDB distinct word-3-shingle sets `sh(id, sh)` of the documents
    * with at least 3 tokens.
    */
  val shingleCte: String =
    """sh AS (
      |  SELECT id, list_distinct(list_transform(range(len(w) - 2),
      |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
      |  FROM (SELECT doc_id AS id,
      |          regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS w
      |        FROM documents)
      |  WHERE len(w) >= 3)""".stripMargin

  /** [[shingleCte]] plus the inverted-index form of pairwise Jaccard:
    * `f(id, s)` shingle rows, `sizes(id, l)` and `co(a, b, inter)`, the
    * shared-shingle count of every pair a < b sharing one.
    */
  val jaccardCoCtes: String =
    s"""$shingleCte,
       |f AS (SELECT id, unnest(sh) AS s FROM sh),
       |sizes AS (SELECT id, len(sh) AS l FROM sh),
       |co AS (SELECT x.id AS a, y.id AS b, count(*) AS inter
       |       FROM f x JOIN f y ON x.s = y.s AND x.id < y.id
       |       GROUP BY x.id, y.id)""".stripMargin

  /** Over [[jaccardCoCtes]]: `p(a, b)`, the pairs with Jaccard >= `threshold`. */
  def jaccardPairsCte(threshold: Double): String =
    s"""p AS (SELECT co.a, co.b FROM co
       |      JOIN sizes sa ON co.a = sa.id JOIN sizes sb ON co.b = sb.id
       |      WHERE CAST(inter AS DOUBLE) / (sa.l + sb.l - inter) >= $threshold)""".stripMargin

  /** Connected components of the pair graph `p` (needs WITH RECURSIVE):
    * `edges` both ways, `reach` its closure, `comp(id, comp)` labelled by
    * the component's min id.
    */
  val componentCtes: String =
    """edges AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
      |reach(src, t) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.t = e.a),
      |comp AS (SELECT src AS id, least(src, min(t)) AS comp
      |         FROM reach GROUP BY src)""".stripMargin

  /** Span removal in DuckDB over `d(doc_id, toks)`: each document's tokens
    * at positions outside the covered spans `cov(doc_id, p)`, rejoined with
    * single spaces, with the token count before and after.
    */
  val spanStripSql: String =
    """tp AS (SELECT doc_id, i AS p, toks[i+1] AS tok
      |       FROM d, UNNEST(range(len(toks))) AS u(i)),
      |kept AS (SELECT tp.doc_id, tp.p, tp.tok FROM tp
      |         LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
      |         WHERE cov.p IS NULL),
      |c AS (SELECT doc_id, count(*) AS kept_tokens,
      |        string_agg(tok, ' ' ORDER BY p) AS cleaned
      |      FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, len(d.toks) AS tok_len,
      |       coalesce(c.kept_tokens, 0) AS kept_tokens,
      |       coalesce(c.cleaned, '') AS cleaned
      |FROM d LEFT JOIN c USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** DuckDB replay of the Gopher quality statistics, as select-list
    * columns over `words`, `lines`, `n_hash` and `n_ell` in scope.
    */
  val gopherStatCols: String =
    """    CAST(len(words) AS BIGINT) AS n_words,
      |    CASE WHEN len(words) = 0 THEN 0.0
      |         ELSE list_reduce(list_prepend(0, list_transform(words, w -> length(w))),
      |                (a, b) -> a + b) * 1.0 / len(words) END AS mean_word_len,
      |    CASE WHEN len(words) = 0 THEN 0.0
      |         ELSE (n_hash + n_ell) * 1.0 / len(words) END AS symbol_ratio,
      |    CASE WHEN len(lines) = 0 THEN 0.0
      |         ELSE len(list_filter(lines, l -> starts_with(l, '•')
      |                OR starts_with(l, '- ') OR starts_with(l, '* ')))
      |              * 1.0 / len(lines) END AS bullet_frac,
      |    CASE WHEN len(lines) = 0 THEN 0.0
      |         ELSE len(list_filter(lines, l -> ends_with(l, '...')))
      |              * 1.0 / len(lines) END AS ellipsis_frac,
      |    CASE WHEN len(words) = 0 THEN 0.0
      |         ELSE len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
      |              * 1.0 / len(words) END AS alpha_frac,
      |    CAST(len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
      |      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT)
      |      AS n_req_stops""".stripMargin

  /** DuckDB replay of `Ann.representativeCentroids(vecs, "label")` over a
    * CTE `e(id, label, v)`: `cent(centroid_id, c)`, each label's min-id
    * vector.
    */
  val repCentroidCte: String =
    """cent AS (
      |  SELECT label AS centroid_id, v AS c FROM (
      |    SELECT label, v, row_number() OVER (PARTITION BY label ORDER BY id) AS rn FROM e)
      |  WHERE rn = 1)""".stripMargin

  /** [[repCentroidCte]] plus the `Ann.assign` replay `assign(id, v,
    * cluster_id)`: each vector's nearest centroid by cosine distance, ties
    * to the smaller centroid id. The oracles spell the cluster_id rename
    * in the outer or (`renameInner`) the inner select; the rows agree.
    */
  def ivfAssignCtes(renameInner: Boolean): String = {
    val (outer, inner) =
      if (renameInner) ("cluster_id", "cent.centroid_id AS cluster_id")
      else ("centroid_id AS cluster_id", "cent.centroid_id")
    s"""$repCentroidCte,
       |assign AS (
       |  SELECT id, v, $outer FROM (
       |    SELECT e.id, e.v, $inner,
       |           row_number() OVER (PARTITION BY e.id
       |             ORDER BY 1.0 - list_cosine_similarity(e.v, cent.c), cent.centroid_id) AS rn
       |    FROM e CROSS JOIN cent)
       |  WHERE rn = 1)""".stripMargin
  }

  /** Recall of an ANN answer against exact `truth`, both `(query_idx, id)`:
    * per query `k_eff` = |truth|, `n_hits` = |truth ∩ approx| and
    * `recall` = n_hits / k_eff rounded to 6 digits.
    */
  def recallByQuery(truth: DataFrame, approx: DataFrame): DataFrame = {
    val hits = truth.join(approx.select("query_idx", "id"), Seq("query_idx", "id"))
      .groupBy("query_idx").agg(count(lit(1)).as("n_hits"))
    truth.groupBy("query_idx").agg(count(lit(1)).as("k_eff"))
      .join(hits, Seq("query_idx"), "left")
      .select(col("query_idx"), col("k_eff"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("k_eff").cast("double"), 6).as("recall"))
  }

  /** Every document's 20-token chunks with their dim-8 hash embeddings:
    * `(doc_id, content, embedding)`.
    */
  def chunkEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text").as("content"))
    val chunks = graft.retriever.Retriever.chunk(docs, maxTokens = 20)
      .select(col("doc_id"), col("content"),
        lit(null).cast("array<float>").as("embedding"))
    graft.ingest.Embed.withEmbeddings(chunks, new graft.ingest.DeterministicHashEmbedder(8))
  }

  /** Shared CTE chain replaying 2 training rounds of the mean-pooled
    * biased model (eta = 4): feats → per-doc feature counts → round-0
    * gradients at p = 0.5 → (bias1, w1) → margins → round-1 gradients →
    * (bias2, w2) → final margins `m2`.
    */
  val clfTrainCtes: String =
    s"""d AS (SELECT doc_id AS id, lang, source,
       |        CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS label,
       |        $toksD AS toks, CAST(len($toksD) AS BIGINT) AS tokens
       |      FROM documents),
       |feats AS (SELECT DISTINCT id, label, bucket FROM (
       |  SELECT id, label, ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS bucket
       |  FROM (
       |    SELECT id, label, unnest(toks) AS t FROM d
       |    UNION ALL
       |    SELECT id, label, unnest(list_transform(range(len(toks) - 1),
       |             i -> toks[i+1] || ' ' || toks[i+2])) AS t
       |    FROM d WHERE len(toks) >= 2))),
       |lbl AS (SELECT DISTINCT id, label FROM feats),
       |nb AS (SELECT id, CAST(count(*) AS BIGINT) AS nf FROM feats GROUP BY id),
       |n AS (SELECT count(*) AS n FROM nb),
       |pd0 AS (SELECT nb.id, lbl.label, nb.nf,
       |         CAST(round((0.5 - lbl.label) * 1e6, 0) AS BIGINT) AS dm,
       |         CAST(round((0.5 - lbl.label) * 1e6 / nb.nf, 0) AS BIGINT) AS cm
       |       FROM nb JOIN lbl USING (id)),
       |g0 AS (SELECT f.bucket, CAST(sum(pd0.cm) AS BIGINT) AS g
       |       FROM feats f JOIN pd0 USING (id) GROUP BY 1),
       |b1 AS (SELECT CAST(-round(4.0 * CAST(sum(pd0.dm) AS DOUBLE) / n.n, 0)
       |           AS BIGINT) AS bias
       |       FROM pd0 CROSS JOIN n GROUP BY n.n),
       |w1 AS (SELECT b.bucket,
       |         CAST(-round(4.0 * CAST(COALESCE(g0.g, 0) AS DOUBLE) / n.n, 0)
       |           AS BIGINT) AS w
       |       FROM (SELECT unnest(range(64)) AS bucket) b
       |       LEFT JOIN g0 USING (bucket) CROSS JOIN n),
       |m1 AS (SELECT f.id,
       |         CAST(b1.bias + round(CAST(sum(w1.w) AS DOUBLE) / nb.nf, 0)
       |           AS BIGINT) AS margin
       |       FROM feats f JOIN w1 USING (bucket) JOIN nb USING (id) CROSS JOIN b1
       |       GROUP BY f.id, nb.nf, b1.bias),
       |pd1 AS (SELECT m1.id, lbl.label, nb.nf,
       |         1.0 / (1.0 + exp(-m1.margin / 1e6)) AS p
       |       FROM m1 JOIN lbl USING (id) JOIN nb USING (id)),
       |pd1q AS (SELECT id, nf,
       |          CAST(round((p - label) * 1e6, 0) AS BIGINT) AS dm,
       |          CAST(round((p - label) * 1e6 / nf, 0) AS BIGINT) AS cm
       |        FROM pd1),
       |g1 AS (SELECT f.bucket, CAST(sum(pd1q.cm) AS BIGINT) AS g
       |       FROM feats f JOIN pd1q USING (id) GROUP BY 1),
       |b2 AS (SELECT CAST(b1.bias -
       |           round(4.0 * CAST(sum(pd1q.dm) AS DOUBLE) / n.n, 0) AS BIGINT) AS bias
       |       FROM pd1q CROSS JOIN n CROSS JOIN b1 GROUP BY n.n, b1.bias),
       |w2 AS (SELECT w1.bucket,
       |         CAST(w1.w - round(4.0 * CAST(COALESCE(g1.g, 0) AS DOUBLE) / n.n, 0)
       |           AS BIGINT) AS w
       |       FROM w1 LEFT JOIN g1 USING (bucket) CROSS JOIN n),
       |m2 AS (SELECT f.id, lbl.label,
       |         CAST(b2.bias + round(CAST(sum(w2.w) AS DOUBLE) / nb.nf, 0)
       |           AS BIGINT) AS margin_micro
       |       FROM feats f JOIN w2 USING (bucket) JOIN nb USING (id)
       |         JOIN lbl USING (id) CROSS JOIN b2
       |       GROUP BY f.id, lbl.label, nb.nf, b2.bias)""".stripMargin

  /** The graded quality classifier's scoring pass (the columns of
    * `QualityClassifier.score`): every document labelled by whether its
    * source is src0, 64-bucket features, 2 training rounds.
    */
  def classifierScores(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        when(col("source") === "src0", 1).otherwise(0).as("label"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    // featurize once: training does 2 passes + the scoring pass
    val feats = graft.operators.QualityClassifier.features(docs, 64)
      .localCheckpoint()
    val model = graft.operators.QualityClassifier.train(feats, buckets = 64, iters = 2)
    graft.operators.QualityClassifier.score(feats, model)
  }
}
