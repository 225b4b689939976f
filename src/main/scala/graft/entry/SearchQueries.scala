package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.search.{Semantic, Lexical, Hybrid}
import graft.Tables._
import Fixtures._

/** Oracle-checked queries for the search surface of SURVEY.md §2.3:
  * semantic top-k (plain, filtered, thresholded), lexical TF and BM25
  * (content scan and posting table), hybrid RRF fusion, and the RAG
  * context fitted to a token budget.
  */
object SearchQueries {

  // ---- §2.3 semantic_search: exact cosine top-k, multi-query ----
  def semanticTopk(s: SparkSession, dir: String): DataFrame = {
    val docs = vectors(s, dir)
    val qs = queryVectors(s, dir, Seq(0, 1, 2))
    Semantic.search(docs, qs, 10)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  // ---- filtered vector search (metadata predicate + top-k): pure
  //      composition — the attribute filter sits UNDER the scoring
  //      projection, so Catalyst pushes it into the parquet scan
  //      (PushedFilters on label) and the top-k heap only sees
  //      qualifying rows. No operator code needed; the plan is the
  //      feature. ----
  def semanticFiltered(s: SparkSession, dir: String): DataFrame = {
    val docs = vectors(s, dir).filter(col("label") === 1)
    val qs = queryVectors(s, dir, Seq(0, 1, 2))
    Semantic.search(docs, qs, 10, payload = Seq("label"))
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  // ---- serving tail: RAG context assembly — top-20 retrieval per query
  //      fitted to a 400-token context budget (greedy prefix in rank
  //      order; per-query window, shortlist-bounded) ----
  def ragContext(s: SparkSession, dir: String): DataFrame = {
    val docs = vectors(s, dir)
    val qs = queryVectors(s, dir, Seq(0, 1, 2))
    val hits = Semantic.search(docs, qs, 20)
    val tokens = t(s, dir, "documents").select(col("doc_id").as("id"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("tokens"))
    graft.search.ContextAssembly.assemble(hits.join(tokens, "id"), 400L)
      .select(col("query_idx"), col("rank"), col("id"),
        round(col("score"), 6).as("score"), col("tokens"), col("cum_tokens"))
      .orderBy("query_idx", "rank")
  }

  // ---- §2.3 semantic_search with distance_threshold (keep iff 1-sim <= t) ----
  def semanticThreshold(s: SparkSession, dir: String): DataFrame = {
    val docs = vectors(s, dir)
    val qs = queryVectors(s, dir, Seq(0, 1, 2))
    Semantic.search(docs, qs, 10, distanceThreshold = 0.55)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  // ---- §2.3 lexical_search: TF-sum scoring (epistemic_graph fallback) ----
  def lexicalTf(s: SparkSession, dir: String): DataFrame = {
    val docs = textCorpus(s, dir)
    Lexical.search(docs, Seq((0, "spark join"), (1, "vector stream")), 10)
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  // ---- §2.2/§2.3 index-backed lexical search over the ingest-time
  //      posting table (the GIN-index analog, postgres.py:189-196) ----
  def lexicalIndexed(s: SparkSession, dir: String): DataFrame = {
    // cache: both query branches share one postings build (at scale the
    // postings are the persisted LexIndex, not an inline recompute)
    val postings = graft.ingest.Ingest.postings(textCorpus(s, dir)).cache()
    Lexical.searchIndexed(postings, Seq((0, "spark join"), (1, "vector stream")), 10)
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  // ---- §2.3 lexical_search v1: BM25 (retriever/retriever.py:90-101 intent) ----
  def lexicalBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = textCorpus(s, dir)
    Lexical.searchBm25(docs, 0, "spark join table", 10)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("score").desc, col("id"))
  }

  // ---- §2.3 lexical_search v1 multi-query: one shared stats pass ----
  def lexicalBm25Multi(s: SparkSession, dir: String): DataFrame = {
    val docs = textCorpus(s, dir)
    Lexical.searchBm25Many(docs,
      Seq((0, "spark join table"), (1, "vector stream data")), 10)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  // ---- §2.2/§2.3 index-backed BM25 over the posting table (content
  //      never scanned at query time; same math, same oracle shape) ----
  def lexicalBm25Indexed(s: SparkSession, dir: String): DataFrame = {
    // cache: stats, df, and the per-query pivots all read the postings
    val postings = graft.ingest.Ingest.postings(textCorpus(s, dir)).cache()
    Lexical.searchBm25Indexed(postings,
      Seq((0, "spark join table"), (1, "vector stream data")), 10)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  // ---- §2.3 hybrid search: weighted RRF fusion (vector_api.py:556-565) ----
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = corpus(s, dir)
    val qv = queryVectors(s, dir, Seq(0))
    val sem = Semantic.search(docs, qv, 10)
    val lex = Lexical.search(docs, Seq((0, "spark join")), 10)
    Hybrid.rrf(sem, lex, 0.5, 0.5, 60, 10)
      .withColumn("score", round(col("score"), 9))
      .orderBy(col("score").desc, col("id"))
  }

  // ---- §2.3 batched hybrid RRF: ONE plan for a 2-question batch — the
  //      semantic legs share a docs×queries pass, the lexical legs share
  //      one BM25 stats aggregate (Hybrid.rrfMany serving path) ----
  def hybridRrfMany(s: SparkSession, dir: String): DataFrame = {
    val docs = corpus(s, dir)
    import s.implicits._
    val queriesDf = queryVectors(s, dir, Seq(0, 1))
      .map { case (i, v) => (i, v) }.toDF("query_idx", "query_vec")
    Hybrid.rrfMany(docs, queriesDf,
      Seq((0, "spark join table"), (1, "vector stream data")),
      0.5, 0.5, 60, 10)
      .withColumn("score", round(col("score"), 9))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  // ---- §2.3 hybrid RRF with the lexical leg served from the posting
  //      table — the Api.searchIndexed serving shape under the oracle
  //      (BM25-from-postings is bit-exact vs the content scan) ----
  def hybridRrfIndexed(s: SparkSession, dir: String): DataFrame = {
    val docs = corpus(s, dir).cache()
    val qv = queryVectors(s, dir, Seq(0))
    val sem = Semantic.search(docs, qv, 10)
    val postings = graft.ingest.Ingest.postings(docs.select("id", "content")).cache()
    val lex = Lexical.searchBm25Indexed(postings, Seq((0, "spark join")), 10)
    Hybrid.rrf(sem, lex, 0.5, 0.5, 60, 10)
      .withColumn("score", round(col("score"), 9))
      .orderBy(col("score").desc, col("id"))
  }

  // DuckDB fragments shared by several oracles.
  private def tfD(t: String) = s"len(list_filter(toks, x -> x = '$t'))"

  /** One BM25 term's score contribution (k1=1.2, b=0.75), from per-doc
    * frequency column f$i and per-term df column df$i in scope.
    */
  private def bm25TermD(i: Int): String =
    s"ln(1.0 + (n - df$i + 0.5)/(df$i + 0.5)) * (f$i*2.2)/(f$i + 1.2*(0.25 + 0.75*dl/avgdl))"

  /** BM25 of the two queries (0: spark join table), (1: vector stream
    * data) over `docs`, a token CTE `(id, toks)` and its optional filter:
    * `f` per-doc term frequencies, `st` corpus stats, `s(query_idx, id, sc)`.
    */
  private def bm25ManyCtes(docs: String): String = {
    val terms = Seq("spark", "join", "table", "vector", "stream", "data")
    val fCols = terms.zipWithIndex
      .map { case (t, i) => s"CAST(${tfD(t)} AS DOUBLE) AS f$i" }.mkString(",\n|             ")
    val dfCols = terms.indices
      .map(i => s"CAST(sum(CASE WHEN f$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(",\n|              ")
    s"""f AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl,
       |             $fCols FROM $docs),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
       |              $dfCols
       |       FROM f),
       |s AS (SELECT CAST(0 AS INTEGER) AS query_idx, id,
       |             ${bm25TermD(0)}
       |           + ${bm25TermD(1)}
       |           + ${bm25TermD(2)} AS sc
       |      FROM f CROSS JOIN st
       |      UNION ALL
       |      SELECT CAST(1 AS INTEGER), id,
       |             ${bm25TermD(3)}
       |           + ${bm25TermD(4)}
       |           + ${bm25TermD(5)}
       |      FROM f CROSS JOIN st)""".stripMargin
  }

  /** Shared multi-query BM25 oracle. `statsFilter` distinguishes the scan
    * path (stats over every document) from the index-backed path (stats
    * over indexed documents, i.e. those with at least one token).
    */
  private def bm25MultiSqlD(statsFilter: String): String =
    s"""WITH d AS (SELECT doc_id AS id, $toksD AS toks FROM documents),
       |${bm25ManyCtes("d" + statsFilter)},
       |t AS (SELECT query_idx, id, sc,
       |             row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
       |      FROM s WHERE sc > 0)
       |SELECT query_idx, id, round(sc, 6) AS score FROM t WHERE rn <= 10
       |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  /** Exact cosine ranking of every embedding against vec_ids 0..2: `q`,
    * `s(query_idx, id, sc)` and `t`, s`where` ranked per query (`rn`).
    */
  private def semanticRankCtes(where: String): String =
    s"""q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id IN (0,1,2)),
       |s AS (SELECT q.qid AS query_idx, e.vec_id AS id,
       |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sc
       |      FROM q CROSS JOIN embeddings e),
       |t AS (SELECT query_idx, id, sc,
       |             row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
       |      FROM s$where)""".stripMargin

  /** The single-query hybrid's semantic leg: documents joined to their
    * embeddings `c`, query vec_id 0 `q`, and its top-10 ranks `sem`.
    */
  private val hybridSemCtes: String =
    """c AS (SELECT d.doc_id AS id, d.text, CAST(e.embedding AS DOUBLE[]) AS v
      |           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |semall AS (SELECT id, list_cosine_similarity(v, qv) AS sc FROM c CROSS JOIN q),
      |sem AS (SELECT id, rnk FROM (
      |          SELECT id, row_number() OVER (ORDER BY sc DESC, id) AS rnk FROM semall)
      |        WHERE rnk <= 10)""".stripMargin

  /** The single-query hybrid's tail: top-10 ranks `lex` of the lexical
    * scores `lexs(id, score)`, RRF fusion (weights 0.5/0.5, k 60), top 10.
    */
  private val hybridFuseSql: String =
    """lex AS (SELECT id, rnk FROM (
      |          SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rnk
      |          FROM lexs WHERE score > 0)
      |        WHERE rnk <= 10),
      |u AS (SELECT id, 0.5/(60.0 + rnk) AS contrib FROM sem
      |      UNION ALL
      |      SELECT id, 0.5/(60.0 + rnk) FROM lex),
      |fz AS (SELECT CAST(0 AS INTEGER) AS query_idx, id, sum(contrib) AS score
      |       FROM u GROUP BY id),
      |t AS (SELECT query_idx, id, score, row_number() OVER (ORDER BY score DESC, id) AS rn
      |      FROM fz)
      |SELECT query_idx, id, round(score, 9) AS score FROM t WHERE rn <= 10
      |ORDER BY round(score, 9) DESC, id""".stripMargin

  val semanticTopkSql: String =
    s"""WITH ${semanticRankCtes("")}
       |SELECT query_idx, id, round(sc, 6) AS score FROM t WHERE rn <= 10
       |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  val semanticFilteredSql: String =
    """WITH q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id IN (0,1,2)),
      |s AS (SELECT q.qid AS query_idx, e.vec_id AS id, e.label,
      |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sc
      |      FROM q CROSS JOIN embeddings e WHERE e.label = 1),
      |t AS (SELECT query_idx, id, label, sc,
      |             row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |      FROM s)
      |SELECT query_idx, id, label, round(sc, 6) AS score FROM t WHERE rn <= 10
      |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  val ragContextSql: String =
    s"""WITH ${semanticRankCtes("")},
       |h AS (SELECT t.query_idx, t.id, t.sc,
       |             CAST(len($toksD) AS BIGINT) AS tokens
       |      FROM t JOIN documents d ON t.id = d.doc_id WHERE t.rn <= 20),
       |r AS (SELECT query_idx, id, sc, tokens,
       |             row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rank,
       |             CAST(sum(tokens) OVER (PARTITION BY query_idx ORDER BY sc DESC, id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |      FROM h)
       |SELECT query_idx, CAST(rank AS INTEGER) AS rank, id, round(sc, 6) AS score,
       |       tokens, cum_tokens
       |FROM r WHERE cum_tokens <= 400
       |ORDER BY query_idx, rank""".stripMargin

  val semanticThresholdSql: String =
    s"""WITH ${semanticRankCtes(" WHERE 1.0 - sc <= 0.55")}
       |SELECT query_idx, id, round(sc, 6) AS score FROM t WHERE rn <= 10
       |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  /** Also the oracle of the posting-table route: the same rows. */
  val lexicalTfSql: String =
    s"""WITH d AS (SELECT doc_id AS id, $toksD AS toks FROM documents),
       |s AS (SELECT CAST(0 AS INTEGER) AS query_idx, id,
       |             CAST(${tfD("spark")} + ${tfD("join")} AS DOUBLE) AS score FROM d
       |      UNION ALL
       |      SELECT CAST(1 AS INTEGER), id,
       |             CAST(${tfD("vector")} + ${tfD("stream")} AS DOUBLE) FROM d),
       |t AS (SELECT query_idx, id, score,
       |             row_number() OVER (PARTITION BY query_idx ORDER BY score DESC, id) AS rn
       |      FROM s WHERE score > 0)
       |SELECT query_idx, id, score FROM t WHERE rn <= 10
       |ORDER BY query_idx, score DESC, id""".stripMargin

  val lexicalBm25Sql: String =
    s"""WITH d AS (SELECT doc_id AS id, $toksD AS toks FROM documents),
       |f AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl,
       |             CAST(${tfD("spark")} AS DOUBLE) AS f0,
       |             CAST(${tfD("join")} AS DOUBLE) AS f1,
       |             CAST(${tfD("table")} AS DOUBLE) AS f2 FROM d),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
       |              CAST(sum(CASE WHEN f0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
       |              CAST(sum(CASE WHEN f1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
       |              CAST(sum(CASE WHEN f2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
       |       FROM f),
       |s AS (SELECT id,
       |             ${bm25TermD(0)}
       |           + ${bm25TermD(1)}
       |           + ${bm25TermD(2)} AS sc
       |      FROM f CROSS JOIN st),
       |t AS (SELECT id, sc, row_number() OVER (ORDER BY sc DESC, id) AS rn
       |      FROM s WHERE sc > 0)
       |SELECT CAST(0 AS INTEGER) AS query_idx, id, round(sc, 6) AS score FROM t WHERE rn <= 10
       |ORDER BY round(sc, 6) DESC, id""".stripMargin

  val lexicalBm25MultiSql: String = bm25MultiSqlD(statsFilter = "")

  val lexicalBm25IndexedSql: String = bm25MultiSqlD(statsFilter = " WHERE len(toks) > 0")

  val hybridRrfSql: String =
    s"""WITH $hybridSemCtes,
       |lexs AS (SELECT id, CAST(${tfD("spark")} + ${tfD("join")} AS DOUBLE) AS score
       |         FROM (SELECT id, $toksD AS toks FROM c)),
       |$hybridFuseSql""".stripMargin

  val hybridRrfManySql: String =
    s"""WITH c AS (SELECT d.doc_id AS id, d.text, CAST(e.embedding AS DOUBLE[]) AS v
       |           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |q AS (SELECT CAST(vec_id AS INTEGER) AS query_idx, CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id IN (0,1)),
       |semall AS (SELECT q.query_idx, c.id, list_cosine_similarity(c.v, q.qv) AS sc
       |           FROM c CROSS JOIN q),
       |sem AS (SELECT query_idx, id, rnk FROM (
       |          SELECT query_idx, id,
       |                 row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rnk
       |          FROM semall)
       |        WHERE rnk <= 10),
       |tk AS (SELECT id, $toksD AS toks FROM (SELECT id, text FROM c)),
       |${bm25ManyCtes("tk")},
       |lex AS (SELECT query_idx, id, rnk FROM (
       |          SELECT query_idx, id,
       |                 row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rnk
       |          FROM s WHERE sc > 0)
       |        WHERE rnk <= 10),
       |u AS (SELECT query_idx, id, 0.5/(60.0 + rnk) AS contrib FROM sem
       |      UNION ALL
       |      SELECT query_idx, id, 0.5/(60.0 + rnk) FROM lex),
       |fz AS (SELECT query_idx, id, sum(contrib) AS score
       |       FROM u GROUP BY query_idx, id),
       |t AS (SELECT query_idx, id, score,
       |             row_number() OVER (PARTITION BY query_idx ORDER BY score DESC, id) AS rn
       |      FROM fz)
       |SELECT query_idx, id, round(score, 9) AS score FROM t WHERE rn <= 10
       |ORDER BY query_idx, round(score, 9) DESC, id""".stripMargin

  val hybridRrfIndexedSql: String =
    s"""WITH $hybridSemCtes,
       |tk AS (SELECT id, $toksD AS toks FROM c),
       |f AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl,
       |             CAST(${tfD("spark")} AS DOUBLE) AS f0,
       |             CAST(${tfD("join")} AS DOUBLE) AS f1 FROM tk),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
       |              CAST(sum(CASE WHEN f0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
       |              CAST(sum(CASE WHEN f1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
       |       FROM f WHERE dl > 0),
       |lexs AS (SELECT id,
       |             ${bm25TermD(0)}
       |           + ${bm25TermD(1)} AS score
       |         FROM f CROSS JOIN st),
       |$hybridFuseSql""".stripMargin

  val graded: Seq[Graded] = Seq(
    Graded("q_semantic_topk", semanticTopk, semanticTopkSql,
      "semantic search: exact cosine top-k, no corpus shuffle"),
    Graded("q_semantic_filtered", semanticFiltered, semanticFilteredSql,
      "filtered vector search: predicate pushed into the scan under the top-k"),
    Graded("q_rag_context", ragContext, ragContextSql,
      "context assembly: per-query bounded window over the serving shortlist"),
    Graded("q_semantic_threshold", semanticThreshold, semanticThresholdSql,
      "thresholded semantic search: 1-sim <= t filter under the bounded top-k"),
    Graded("q_lexical_tf", lexicalTf, lexicalTfSql,
      "TF-sum scoring: token match join + query-keyed agg, bounded top-k"),
    Graded("q_lexical_indexed", lexicalIndexed, lexicalTfSql,
      "index-backed lexical search: persisted posting table probe — content never rescanned"),
    Graded("q_lexical_bm25", lexicalBm25, lexicalBm25Sql,
      "BM25: token-keyed postings + 1-row corpus stats broadcast, per-query bounded top-k"),
    Graded("q_lexical_bm25_multi", lexicalBm25Multi, lexicalBm25MultiSql,
      "multi-query BM25: ONE shared stats/posting pass for all queries"),
    Graded("q_lexical_bm25_indexed", lexicalBm25Indexed, lexicalBm25IndexedSql,
      "BM25 from the posting table only"),
    Graded("q_hybrid_rrf", hybridRrf, hybridRrfSql,
      "hybrid RRF: bounded per-query aggregate fusion, no global window"),
    Graded("q_hybrid_rrf_many", hybridRrfMany, hybridRrfManySql,
      "batched hybrid: one docs×queries semantic pass + shared-stats BM25 legs"),
    Graded("q_hybrid_rrf_indexed", hybridRrfIndexed, hybridRrfIndexedSql,
      "hybrid RRF with the lexical leg served from the persisted posting table (GIN analog)"))
}
