package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import Fixtures._

/** Oracle-checked queries for the text-analysis + multimodal pipeline
  * operators (language ID heuristic, quality scoring, token counting,
  * document fingerprinting, binary-payload decode plumbing).
  */
object TextQueries {

  /** Language-ID heuristic: English-stopword density. */
  def textLangid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        round(TextFunctions.stopwordRatio(col("__toks")), 6).as("stopword_ratio"),
        TextFunctions.langIdEn(col("__toks")).as("predicted"))
      .orderBy("doc_id")

  val textLangidSql: String = {
    val stops = TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, $toksD AS toks FROM documents),
       |r AS (SELECT doc_id,
       |        CASE WHEN len(toks) = 0 THEN 0.0
       |             ELSE CAST(len(list_filter(toks, x -> list_contains([$stops], x))) AS DOUBLE)
       |                  / len(toks) END AS ratio
       |      FROM d)
       |SELECT doc_id, round(ratio, 6) AS stopword_ratio,
       |       CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'unknown' END AS predicted
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Quality score: blend of length band, alphabetic ratio, mean word
    * length band, stopword presence (C4/Gopher-style cheap signals).
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextFunctions.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        round(TextFunctions.qualityScoreFromToks(col("text"), col("__toks")), 6)
          .as("quality"))
      .orderBy("doc_id")

  val textQualitySql: String = {
    val stops = TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, text, $toksD AS toks FROM documents),
       |m AS (SELECT doc_id,
       |        CAST(len(toks) AS DOUBLE) AS ntok,
       |        CAST(length(text) AS DOUBLE) AS nchar,
       |        CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS alpha,
       |        CASE WHEN len(toks) = 0 THEN 0.0
       |             ELSE list_reduce(list_prepend(0.0,
       |                    list_transform(toks, t -> CAST(length(t) AS DOUBLE))),
       |                  (a, b) -> a + b) / len(toks) END AS meanlen,
       |        CASE WHEN len(toks) = 0 THEN 0.0
       |             ELSE CAST(len(list_filter(toks, x -> list_contains([$stops], x))) AS DOUBLE)
       |                  / len(toks) END AS stopratio
       |      FROM d)
       |SELECT doc_id, round(
       |    least(ntok / 50.0, 1.0) * 0.4 +
       |    (CASE WHEN nchar = 0 THEN 0.0 ELSE alpha / nchar END) * 0.3 +
       |    (CASE WHEN meanlen >= 3 AND meanlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 +
       |    least(stopratio * 10.0, 1.0) * 0.1, 6) AS quality
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Token counting: regex tokens, distinct tokens, whitespace-split words,
    * BPE-ish pre-tokens (LLM-token-count proxy), plus a corpus-level
    * rollup per lang.
    */
  def textTokens(s: SparkSession, dir: String): DataFrame = {
    val toks = col("__toks")
    t(s, dir, "documents")
      .select(col("lang"), col("text"),
        TextFunctions.tokens(col("text")).as("__toks"))
      .select(col("lang"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        size(split(col("text"), " ")).cast("long").as("n_ws"),
        size(TextFunctions.bpeTokens(col("text"))).cast("long").as("n_bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tok"),
        sum("n_distinct").as("total_distinct"), sum("n_ws").as("total_ws"),
        sum("n_bpe").as("total_bpe"))
      .orderBy("lang")
  }

  val textTokensSql: String =
    s"""WITH d AS (SELECT lang,
       |        CAST(len($toksD) AS BIGINT) AS n_tok,
       |        CAST(len(list_distinct($toksD)) AS BIGINT) AS n_distinct,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
       |        CAST(len(regexp_extract_all(lower(text),
       |          '''(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+'))
       |          AS BIGINT) AS n_bpe
       |      FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS total_tok,
       |       CAST(sum(n_distinct) AS BIGINT) AS total_distinct,
       |       CAST(sum(n_ws) AS BIGINT) AS total_ws,
       |       CAST(sum(n_bpe) AS BIGINT) AS total_bpe
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** Rolling polynomial fingerprint over the token stream (order-sensitive,
    * unlike MinHash).
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.fingerprint(TextFunctions.tokens(col("text"))).as("fingerprint"))
      .orderBy("doc_id")

  val textFingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform($toksD, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
       |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  /** CCNet paragraph dedup: documents re-chunked into 3-token
    * pseudo-paragraphs (the corpus has no newlines; both engines replay
    * the chunking), then corpus-wide first-occurrence paragraph
    * deduplication with per-doc reassembly
    * ([[graft.dedup.CorpusFilters.paragraphDedup]]).
    */
  def textParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val docs = t(s, dir, "documents").select(col("doc_id").as("id"),
      array_join(transform(
        sequence(lit(0), greatest(ceil(size(toks) / 3.0).cast("int") - 1, lit(0))),
        i => array_join(slice(toks, i * 3 + 1, lit(3)), " ")), "\n").as("content"))
    graft.dedup.CorpusFilters.paragraphDedup(docs).orderBy("id")
  }

  val textParagraphDedupSql: String =
    s"""WITH d0 AS (SELECT doc_id AS id, $toksD AS toks FROM documents),
       |d AS (SELECT id, array_to_string(list_transform(
       |        range(greatest(CAST(ceil(len(toks)/3.0) AS INT), 1)),
       |        i -> array_to_string(toks[i*3+1:i*3+3], ' ')), chr(10)) AS content
       |      FROM d0),
       |p0 AS (SELECT id, string_split(content, chr(10)) AS parts FROM d),
       |p AS (SELECT id, u.i AS pos, parts[u.i+1] AS par
       |      FROM p0, UNNEST(range(len(parts))) u(i)
       |      WHERE trim(parts[u.i+1]) <> ''),
       |k AS (SELECT id, pos, par FROM (
       |        SELECT id, pos, par,
       |               row_number() OVER (PARTITION BY par ORDER BY id, pos) AS rn
       |        FROM p) WHERE rn = 1),
       |r AS (SELECT id, CAST(count(*) AS BIGINT) AS kept_pars,
       |             string_agg(par, chr(10) ORDER BY pos) AS cleaned
       |      FROM k GROUP BY id),
       |n AS (SELECT id, CAST(len(list_filter(string_split(content, chr(10)),
       |             x -> trim(x) <> '')) AS BIGINT) AS n_pars FROM d)
       |SELECT n.id, n.n_pars, coalesce(r.kept_pars, 0) AS kept_pars,
       |       coalesce(r.cleaned, '') AS cleaned
       |FROM n LEFT JOIN r USING (id) ORDER BY id""".stripMargin

  /** Curation pipeline v6 — the round-7 composition: corpus-wide PARAGRAPH
    * dedup ([[graft.dedup.CorpusFilters.paragraphDedup]]) feeds the
    * quality scorer over the CLEANED text, and survivors flow through the
    * per-language token-budget fill into a rollup. One composed plan; the
    * oracle replays every stage (paragraph chain, quality formula on the
    * deduped text, greedy fill, rollup) in DuckDB.
    */
  def pipelineCurate6(s: SparkSession, dir: String): DataFrame = {
    val toks0 = TextFunctions.tokens(col("text"))
    val synth = t(s, dir, "documents").select(col("doc_id").as("id"),
      array_join(transform(
        sequence(lit(0), greatest(ceil(size(toks0) / 3.0).cast("int") - 1, lit(0))),
        i => array_join(slice(toks0, i * 3 + 1, lit(3)), " ")), "\n").as("content"))
    val deduped = graft.dedup.CorpusFilters.paragraphDedup(synth)
      .filter(col("kept_pars") > 0)
    val scored = deduped
      .join(t(s, dir, "documents").select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .select(col("id"), col("lang").as("group"), col("cleaned"),
        TextFunctions.tokens(col("cleaned")).as("__toks"))
      .select(col("id"), col("group"),
        round(TextFunctions.qualityScoreFromToks(col("cleaned"), col("__toks")), 6)
          .as("quality"),
        size(col("__toks")).cast("long").as("tokens"))
    graft.operators.Mixture.tokenBudgetFill(scored, budget = 1500L)
      .groupBy(col("group").as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("kept_tokens"),
        sum("id").as("id_checksum"))
      .orderBy("lang")
  }

  val pipelineCurate6Sql: String = {
    val stops = TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH ${"" /* paragraph chain over synthesized 3-token paragraphs */}
       |d0 AS (SELECT doc_id AS id, lang, $toksD AS toks FROM documents),
       |d AS (SELECT id, array_to_string(list_transform(
       |        range(greatest(CAST(ceil(len(toks)/3.0) AS INT), 1)),
       |        i -> array_to_string(toks[i*3+1:i*3+3], ' ')), chr(10)) AS content
       |      FROM d0),
       |p0 AS (SELECT id, string_split(content, chr(10)) AS parts FROM d),
       |p AS (SELECT id, u.i AS pos, parts[u.i+1] AS par
       |      FROM p0, UNNEST(range(len(parts))) u(i)
       |      WHERE trim(parts[u.i+1]) <> ''),
       |kf AS (SELECT id, pos, par FROM (
       |         SELECT id, pos, par,
       |                row_number() OVER (PARTITION BY par ORDER BY id, pos) AS rn
       |         FROM p) WHERE rn = 1),
       |r AS (SELECT id, string_agg(par, chr(10) ORDER BY pos) AS cleaned
       |      FROM kf GROUP BY id),
       |cl AS (SELECT r.id, d0.lang, r.cleaned,
       |         regexp_extract_all(lower(r.cleaned), '[a-z0-9_]{2,}') AS toks
       |       FROM r JOIN d0 ON d0.id = r.id),
       |m AS (SELECT id, lang,
       |        CAST(len(toks) AS DOUBLE) AS ntok,
       |        CAST(len(toks) AS BIGINT) AS tokens,
       |        CAST(length(cleaned) AS DOUBLE) AS nchar,
       |        CAST(length(regexp_replace(lower(cleaned), '[^a-z]', '', 'g')) AS DOUBLE) AS alpha,
       |        CASE WHEN len(toks) = 0 THEN 0.0
       |             ELSE list_reduce(list_prepend(0.0,
       |                    list_transform(toks, t -> CAST(length(t) AS DOUBLE))),
       |                  (a, b) -> a + b) / len(toks) END AS meanlen,
       |        CASE WHEN len(toks) = 0 THEN 0.0
       |             ELSE CAST(len(list_filter(toks, x -> list_contains([$stops], x))) AS DOUBLE)
       |                  / len(toks) END AS stopratio
       |      FROM cl),
       |q AS (SELECT id, lang, tokens, round(
       |        least(ntok / 50.0, 1.0) * 0.4 +
       |        (CASE WHEN nchar = 0 THEN 0.0 ELSE alpha / nchar END) * 0.3 +
       |        (CASE WHEN meanlen >= 3 AND meanlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 +
       |        least(stopratio * 10.0, 1.0) * 0.1, 6) AS quality
       |      FROM m),
       |c AS (SELECT lang, id, quality, tokens,
       |        sum(tokens) OVER (PARTITION BY lang ORDER BY quality DESC, id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM q),
       |kk AS (SELECT lang, id, tokens FROM c WHERE cum <= 1500)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(tokens) AS BIGINT) AS kept_tokens,
       |       CAST(sum(id) AS BIGINT) AS id_checksum
       |FROM kk GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** The bigram Kneser-Ney model (discount 0.75) trained on `rp(w1, w2)`:
    * bigram counts `big`, context stats `ctx`, continuation counts `cont`,
    * type totals `tot`.
    */
  private val knModelCtes: String =
    """big AS (SELECT w1, w2, count(*) AS c12 FROM rp GROUP BY w1, w2),
      |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1r
      |        FROM big GROUP BY w1),
      |cont AS (SELECT w2, count(*) AS nl FROM big GROUP BY w2),
      |tot AS (SELECT (SELECT count(*) FROM big) AS b_types,
      |               (SELECT count(*) FROM cont) AS w_types)""".stripMargin

  /** Each bigram occurrence `occ(w1, w2)`'s negative log-likelihood under
    * [[knModelCtes]] in micro units, `t_micro`: the select-list column and
    * the FROM clause joining the model.
    */
  private val knNllFrom: String =
    """        CAST(floor(-ln(
      |          CASE WHEN ctx.c1 IS NULL
      |            THEN CAST(coalesce(cont.nl, 0) + 1 AS DOUBLE)
      |                 / CAST(tot.b_types + tot.w_types + 1 AS DOUBLE)
      |            ELSE greatest(CAST(coalesce(big.c12, 0) AS DOUBLE) - 0.75, 0.0)
      |                   / CAST(ctx.c1 AS DOUBLE)
      |                 + 0.75 * CAST(ctx.n1r AS DOUBLE) / CAST(ctx.c1 AS DOUBLE)
      |                   * (CAST(coalesce(cont.nl, 0) + 1 AS DOUBLE)
      |                      / CAST(tot.b_types + tot.w_types + 1 AS DOUBLE))
      |          END) * 1e6) AS BIGINT) AS t_micro
      |      FROM occ LEFT JOIN big ON occ.w1 = big.w1 AND occ.w2 = big.w2
      |               LEFT JOIN ctx ON occ.w1 = ctx.w1
      |               LEFT JOIN cont ON occ.w2 = cont.w2
      |               CROSS JOIN tot)""".stripMargin

  /** Curation pipeline v7 — the round-7 composition: Gopher rule gate
    * → multi-language trigram-profile ID → Kneser–Ney perplexity terciles
    * per predicted language (LM trained on the GATED src0 slice; tail
    * dropped) → per-language token-budget fill by KN quality. One composed
    * plan, no driver round-trips; the oracle replays every stage.
    *
    * Gate policy: all rules except the required-stopword count, which is
    * relaxed to ≥ 1 — the synthetic corpus is keyword prose carrying "the"
    * but rarely a second function word, so the paper's ≥ 2 would zero the
    * corpus and make every downstream stage vacuous (q_filter_gopher keeps
    * the faithful ≥ 2 flag for the operator itself).
    */
  def pipelineCurate7(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val gated = graft.dedup.CorpusFilters
      .gopherRules(base.select(col("id"), col("text").as("content")), minWords = 20)
      .filter(col("pass_words") && col("pass_meanlen") && col("pass_symbol") &&
        col("pass_bullet") && col("pass_ellipsis") && col("pass_alpha") &&
        col("n_req_stops") >= 1)
      .select("id")
    // materialize once: the gopher gate + tokenization feed FOUR consumers
    // (langid, the src0 LM train slice, scoring, the fill's token counts) —
    // without the checkpoint the gate re-executes per consumer
    val kept = base.join(gated, "id").localCheckpoint()
    val langs = graft.functions.LangId.classify(kept.select(col("id"), col("text")))
      .select(col("id"), col("predicted"))
    val toks = kept.select(col("id"), col("source"),
      TextFunctions.tokens(col("text")).as("toks")).localCheckpoint()
    val lm = graft.dedup.Perplexity.trainKn(
      toks.filter(col("source") === "src0").select("id", "toks"))
    val scored = graft.dedup.Perplexity.scoreKn(toks.select("id", "toks"), lm)
      .join(langs, "id")
    val bucketed = graft.dedup.Perplexity.buckets(scored, "predicted")
      .filter(col("bucket") =!= "tail")
    val fillIn = bucketed
      .join(toks.select(col("id"), size(col("toks")).cast("long").as("tokens")), "id")
      .select(col("id"), col("predicted").as("group"),
        round(-col("avg_nll"), 6).as("quality"), col("tokens"))
    graft.operators.Mixture.tokenBudgetFill(fillIn, budget = 1200L)
      .groupBy(col("group").as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("kept_tokens"),
        sum("id").as("id_checksum"))
      .orderBy("lang")
  }

  val pipelineCurate7Sql: String =
    s"""WITH g0 AS (SELECT doc_id AS id, text, source FROM documents),
       |gm AS (SELECT id, text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), w -> length(w) > 0) AS words,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |      l -> length(l) > 0) AS lines,
       |    length(text) - length(replace(text, '#', '')) AS n_hash,
       |    (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) // 3 AS n_ell
       |  FROM g0),
       |gs AS (SELECT id,
       |$gopherStatCols
       |  FROM gm),
       |gk AS (SELECT id FROM gs
       |       WHERE n_words >= 20 AND n_words <= 100000
       |         AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |         AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
       |         AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
       |         AND n_req_stops >= 1),
       |d AS (SELECT g0.id, g0.text, g0.source FROM g0 JOIN gk USING (id)),
       |prof(lang_p, tri, w) AS (VALUES ${graft.functions.LangId.profileValuesSql}),
       |nn AS (SELECT id, trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS nrm
       |       FROM d),
       |tris AS (SELECT id, unnest(CASE WHEN length(nrm) < 3 THEN []
       |           ELSE list_transform(range(1, length(nrm) - 1),
       |                  i -> substr(nrm, CAST(i AS INTEGER), 3)) END) AS tri
       |         FROM nn),
       |lsc AS (SELECT id, lang_p, CAST(sum(w) AS BIGINT) AS score
       |        FROM tris JOIN prof USING (tri) GROUP BY 1, 2),
       |lbest AS (SELECT id, lang_p FROM (
       |           SELECT id, lang_p, row_number() OVER (PARTITION BY id
       |             ORDER BY score DESC, lang_p ASC) AS rn FROM lsc) WHERE rn = 1),
       |lang_of AS (SELECT d.id, coalesce(b.lang_p, 'unknown') AS grp
       |            FROM d LEFT JOIN lbest b ON d.id = b.id),
       |dt AS (SELECT id, source, $toksD AS toks FROM d),
       |rp AS (SELECT toks[i+1] AS w1, toks[i+2] AS w2
       |       FROM dt, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)
       |       WHERE source = 'src0'),
       |$knModelCtes,
       |occ AS (SELECT id, toks[i+1] AS w1, toks[i+2] AS w2, count(*) AS occ
       |        FROM dt, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)
       |        GROUP BY id, w1, w2),
       |sc AS (SELECT occ.id, occ.occ,
       |$knNllFrom,
       |ag AS (SELECT id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
       |        CAST(sum(occ * t_micro) AS BIGINT) AS nll_micro
       |      FROM sc GROUP BY id),
       |jj AS (SELECT ag.id, lang_of.grp, ag.n_bigrams, ag.nll_micro,
       |        CAST(ag.nll_micro AS DOUBLE) / (CAST(ag.n_bigrams AS DOUBLE) * 1e6) AS avg_nll
       |      FROM ag JOIN lang_of ON ag.id = lang_of.id),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY avg_nll, id) AS rn,
       |        count(*) OVER (PARTITION BY grp) AS n FROM jj),
       |bk AS (SELECT id, grp, avg_nll FROM rr WHERE rn * 3 <= n * 2),
       |fi AS (SELECT bk.id, bk.grp, round(-bk.avg_nll, 6) AS quality,
       |         CAST(len(dt.toks) AS BIGINT) AS tokens
       |       FROM bk JOIN dt ON bk.id = dt.id),
       |cu AS (SELECT grp, id, tokens,
       |        sum(tokens) OVER (PARTITION BY grp ORDER BY quality DESC, id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM fi),
       |kk AS (SELECT grp, id, tokens FROM cu WHERE cum <= 1200)
       |SELECT grp AS lang, count(*) AS n_docs,
       |       CAST(sum(tokens) AS BIGINT) AS kept_tokens,
       |       CAST(sum(id) AS BIGINT) AS id_checksum
       |FROM kk GROUP BY grp ORDER BY lang""".stripMargin

  /** BPE merge training: 8 rounds of highest-frequency-pair merges over
    * the corpus vocabulary ([[graft.operators.Bpe]]). The oracle replays
    * ALL 8 rounds — pair counts, lexical tie-break argmax, and the exact
    * left-to-right non-overlapping merge application (positional form:
    * match runs, even offsets applied) — so a hash match proves the whole
    * training loop, not just the final table's shape.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.train(
      t(s, dir, "documents").select(col("doc_id").as("id"),
        TextFunctions.tokens(col("text")).as("toks")),
      merges = 8).orderBy("merge_rank")

  /** Corpus segmentation under the learned table: every vocabulary word's
    * subword pieces after the same 8 merges — the apply half of the loop,
    * sharing the oracle's round chain so train and segment are checked
    * against one derivation.
    */
  def bpeSegment(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("doc_id").as("id"),
      TextFunctions.tokens(col("text")).as("toks"))
    val rules = graft.operators.Bpe.train(toks, merges = 8)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.segmentWords(toks, rules).orderBy("word")
  }

  val bpeSegmentSql: String =
    s"""WITH ${bpeChainSql(8)}
       |SELECT word, array_to_string(syms, ' ') AS pieces,
       |       CAST(len(syms) AS INTEGER) AS n_pieces, n
       |FROM w9 ORDER BY word""".stripMargin

  val bpeTrainSql: String = {
    val T = 8
    s"""WITH ${bpeChainSql(T)},
       |mm AS (${(1 to T).map(t => s"SELECT * FROM m$t").mkString(" UNION ALL ")})
       |SELECT merge_rank, s1 AS lhs, s2 AS rhs, s1 || s2 AS merged, cnt
       |FROM mm ORDER BY merge_rank""".stripMargin
  }

  /** The shared T-round BPE derivation (w1..w{T+1}, p/b/m/x/r/ap/pos per
    * round) — materialized CTEs, since DuckDB inlines plain CTE chains
    * exponentially.
    */
  private def bpeChainSql(T: Int): String = {
    val rounds = (1 to T).map { t =>
      s"""p$t AS MATERIALIZED (SELECT syms[i+1] AS s1, syms[i+2] AS s2, CAST(sum(n) AS BIGINT) AS cnt
         |        FROM w$t, UNNEST(range(greatest(len(syms)-1, 0))) AS u(i)
         |        GROUP BY 1, 2),
         |b$t AS MATERIALIZED (SELECT s1, s2 FROM p$t ORDER BY cnt DESC, s1, s2 LIMIT 1),
         |m$t AS (SELECT $t AS merge_rank, s1, s2, (SELECT max(cnt) FROM p$t) AS cnt FROM b$t),
         |x$t AS MATERIALIZED (SELECT w.word, u.i
         |        FROM w$t w, b$t b, UNNEST(range(greatest(len(w.syms)-1, 0))) AS u(i)
         |        WHERE w.syms[u.i+1] = b.s1 AND w.syms[u.i+2] = b.s2),
         |r$t AS (SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS rg FROM x$t),
         |ap$t AS MATERIALIZED (SELECT word, i FROM (
         |           SELECT word, i, min(i) OVER (PARTITION BY word, rg) AS rs FROM r$t)
         |         WHERE (i - rs) % 2 = 0),
         |pos$t AS (SELECT word, n, syms, u.i FROM w$t, UNNEST(range(len(syms))) AS u(i)),
         |w${t + 1} AS MATERIALIZED (
         |  SELECT p.word,
         |    list(CASE WHEN a1.i IS NOT NULL THEN p.syms[p.i+1] || p.syms[p.i+2]
         |              ELSE p.syms[p.i+1] END ORDER BY p.i) AS syms,
         |    any_value(p.n) AS n
         |  FROM pos$t p
         |  LEFT JOIN ap$t a1 ON a1.word = p.word AND a1.i = p.i
         |  LEFT JOIN ap$t a2 ON a2.word = p.word AND a2.i = p.i - 1
         |  WHERE a2.i IS NULL
         |  GROUP BY p.word)""".stripMargin
    }.mkString(",\n")
    s"""w1 AS MATERIALIZED (
       |  SELECT word, string_split(word, '') AS syms, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest($toksD) AS word FROM documents)
       |  GROUP BY word),
       |$rounds""".stripMargin
  }

  /** Multimodal decode plumbing: binary payloads through the batched
    * mapPartitions "decoder" (deterministic stub — see Multimodal docs).
    */
  def mmDecode(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        lit("image").as("modality"),
        col("text").cast("binary").as("data"))
    Multimodal.decode(media)
      .select(col("id"), col("byte_len"), col("width"), col("height"),
        col("n_frames"), col("fingerprint"))
      .orderBy("id")
  }

  val mmDecodeSql: String =
    """SELECT doc_id AS id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
      |  CAST(32 + octet_length(CAST(text AS BLOB)) % 608 AS INTEGER) AS width,
      |  CAST(32 + (octet_length(CAST(text AS BLOB)) * 7) % 448 AS INTEGER) AS height,
      |  CAST(1 + octet_length(CAST(text AS BLOB)) % 16 AS INTEGER) AS n_frames,
      |  sha256(text) AS fingerprint
      |FROM documents ORDER BY id""".stripMargin

  /** REAL image decode roundtrip: deterministic solid-color PNGs are
    * ImageIO-ENCODED from per-doc arithmetic (dims 8..31 x 8..23, RGB from
    * doc_id), then ImageIO-DECODED by [[Multimodal.decode]] — recovered
    * width/height/luma must match the encode-side arithmetic, which the
    * oracle replays without ever seeing the bytes. A byte-length stub
    * cannot pass this (PNG byte length does not determine dims); only a
    * real pixel decode can. `luma` is the mean-luma grid cell scaled back
    * to 0..255 (solid fill → every cell identical, `f_spread` = 0 proves
    * it).
    */
  def mmDecodeImage(s: SparkSession, dir: String): DataFrame = {
    val png = udf((id: Long) => Multimodal.solidPng(
      (8 + id % 24).toInt, (8 + (id * 3) % 16).toInt,
      (id % 256).toInt, ((id * 5) % 256).toInt, ((id * 11) % 256).toInt))
    val media = t(s, dir, "documents")
      .select(col("doc_id").as("id"), lit("image").as("modality"),
        png(col("doc_id").cast("long")).as("data"))
    Multimodal.decode(media)
      .select(col("id"), col("width"), col("height"), col("n_frames"),
        round(element_at(col("features"), 1) * 255).cast("long").as("luma"),
        round((array_max(col("features")) - array_min(col("features")))
          * 1e6).cast("long").as("f_spread"))
      .orderBy("id")
  }

  val mmDecodeImageSql: String =
    """WITH m AS (SELECT doc_id AS id,
      |  8 + doc_id % 24 AS w, 8 + (doc_id*3) % 16 AS h,
      |  doc_id % 256 AS r, (doc_id*5) % 256 AS g, (doc_id*11) % 256 AS b
      |  FROM documents)
      |SELECT id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  1 AS n_frames,
      |  CAST((299*r + 587*g + 114*b) // 1000 AS BIGINT) AS luma,
      |  CAST(0 AS BIGINT) AS f_spread
      |FROM m ORDER BY id""".stripMargin

  /** REAL GIF/BMP decode roundtrip (the remaining JDK-native image
    * containers past PNG/JPEG): solid fills alternate GIF/BMP by parity,
    * every 7th doc an ANIMATED GIF whose real frame count the decoder
    * must recover from the reader's own image index (`ImageIO.read`
    * alone only ever sees frame 1). Fill luma and dims replay from doc
    * arithmetic — GIF's palette and BMP's raw RGB are both byte-exact on
    * solid fills.
    */
  def mmDecodeFormats(s: SparkSession, dir: String): DataFrame = {
    val img = udf((id: Long) => {
      val w = (8 + id % 24).toInt
      val h = (6 + (id * 5) % 18).toInt
      val r = (id % 256).toInt
      val g = ((id * 7) % 256).toInt
      val b = ((id * 13) % 256).toInt
      if (id % 7 == 0)
        Multimodal.animatedGif(w, h,
          Seq.fill((1 + id % 4).toInt)((r, g, b)))
      else if (id % 3 == 0) Multimodal.solidImage(w, h, r, g, b, "tiff")
      else if (id % 2 == 0) Multimodal.solidImage(w, h, r, g, b, "gif")
      else Multimodal.solidImage(w, h, r, g, b, "bmp")
    })
    val media = t(s, dir, "documents")
      .select(col("doc_id").as("id"), lit("image").as("modality"),
        img(col("doc_id").cast("long")).as("data"))
    Multimodal.decode(media)
      .select(col("id"), col("width"), col("height"), col("n_frames"),
        round(element_at(col("features"), 1) * 255).cast("long").as("luma"),
        round((array_max(col("features")) - array_min(col("features")))
          * 1e6).cast("long").as("f_spread"))
      .orderBy("id")
  }

  val mmDecodeFormatsSql: String =
    """WITH m AS (SELECT doc_id AS id,
      |  8 + doc_id % 24 AS w, 6 + (doc_id*5) % 18 AS h,
      |  doc_id % 256 AS r, (doc_id*7) % 256 AS g, (doc_id*13) % 256 AS b,
      |  CASE WHEN doc_id % 7 = 0 THEN 1 + doc_id % 4 ELSE 1 END AS nf
      |  FROM documents)
      |SELECT id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(nf AS INTEGER) AS n_frames,
      |  CAST((299*r + 587*g + 114*b) // 1000 AS BIGINT) AS luma,
      |  CAST(0 AS BIGINT) AS f_spread
      |FROM m ORDER BY id""".stripMargin

  /** Decode each document's synthesized audio bytes `wav(doc_id)`: sample
    * rate, channels, frame count, recovered RMS amplitude and the spread
    * of the window features, per id.
    */
  private def decodedAudioStats(s: SparkSession, dir: String,
      wav: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame = {
    val media = t(s, dir, "documents")
      .select(col("doc_id").as("id"), lit("audio").as("modality"),
        wav(col("doc_id").cast("long")).as("data"))
    Multimodal.decode(media)
      .select(col("id"), col("width").as("sample_rate"),
        col("height").as("channels"), col("n_frames"),
        round(element_at(col("features"), 1) * 32768).cast("long").as("rms_amp"),
        round((array_max(col("features")) - array_min(col("features")))
          * 1e6).cast("long").as("f_spread"))
      .orderBy("id")
  }

  /** REAL audio decode roundtrip: deterministic mono PCM WAVs
    * (square-wave samples, dims/rate/amplitude from per-doc arithmetic)
    * are encoded, then decoded by `javax.sound.sampled` through
    * [[Multimodal.decode]] — recovered sample rate, channel count, frame
    * count, and per-window RMS (which equals the amplitude exactly for a
    * square wave) must match the encode-side arithmetic the oracle
    * replays without seeing any bytes. A byte-length stub cannot pass.
    */
  def mmDecodeAudio(s: SparkSession, dir: String): DataFrame =
    decodedAudioStats(s, dir, udf((id: Long) => Multimodal.squareWav(
      (400 + id % 600).toInt, (8000 + (id % 4) * 4000).toInt,
      (1000 + id % 20000).toInt)))

  val mmDecodeAudioSql: String =
    """SELECT doc_id AS id,
      |  CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
      |  1 AS channels,
      |  CAST(400 + doc_id % 600 AS INTEGER) AS n_frames,
      |  CAST(1000 + doc_id % 20000 AS BIGINT) AS rms_amp,
      |  CAST(0 AS BIGINT) AS f_spread
      |FROM documents ORDER BY id""".stripMargin

  /** REAL FLAC decode roundtrip: the same per-doc square waves as
    * [[mmDecodeAudio]], but compressed through [[Multimodal.squareFlac]]
    * into genuine FLAC streams (CONSTANT/FIXED/LPC subframes, Rice
    * residuals, CRC-8/16 verified; every third doc stereo through both
    * decorrelation modes). FLAC is lossless, so the SAME closed-form
    * oracle holds: recovered RMS == amplitude, bit-for-bit — a stub,
    * a wrong predictor, or a broken Rice reader all break the hash.
    */
  def mmDecodeFlac(s: SparkSession, dir: String): DataFrame =
    decodedAudioStats(s, dir, udf((id: Long) => Multimodal.squareFlac(
      (400 + id % 600).toInt, (8000 + (id % 4) * 4000).toInt,
      (1000 + id % 20000).toInt, stereo = id % 3 == 0)))

  val mmDecodeFlacSql: String =
    """SELECT doc_id AS id,
      |  CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) AS channels,
      |  CAST(400 + doc_id % 600 AS INTEGER) AS n_frames,
      |  CAST(1000 + doc_id % 20000 AS BIGINT) AS rms_amp,
      |  CAST(0 AS BIGINT) AS f_spread
      |FROM documents ORDER BY id""".stripMargin

  /** REAL G.711 (μ-law / A-law) decode roundtrip: per-doc companded
    * square waves — codeword segment/mantissa from doc arithmetic, law by
    * parity — go through the direct RIFF walk + ITU-T expand tables; the
    * recovered RMS must equal the codeword's linear decode, which the
    * oracle computes from the SAME public segment arithmetic without
    * seeing any bytes. A fallback to the stub or a wrong table cell
    * breaks the hash.
    */
  def mmDecodeG711(s: SparkSession, dir: String): DataFrame =
    decodedAudioStats(s, dir, udf((id: Long) => {
      val exp = (id % 8).toInt
      val mant = ((id * 3) % 16).toInt
      if (id % 2 == 0)
        Multimodal.g711Wav((200 + id % 100).toInt, 8000, law = 7,
          codeword = ~((exp << 4) | mant) & 0xff) // positive μ-law code
      else
        Multimodal.g711Wav((200 + id % 100).toInt, 8000, law = 6,
          codeword = ((exp << 4) | mant) ^ 0x55) // A-law code, sign bit 0
    }))

  val mmDecodeG711Sql: String =
    """WITH p AS (SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS seg,
      |                  CAST((doc_id * 3) % 16 AS INTEGER) AS mant
      |           FROM documents)
      |SELECT doc_id AS id, 8000 AS sample_rate, 1 AS channels,
      |  CAST(200 + doc_id % 100 AS INTEGER) AS n_frames,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |    THEN ((mant * 8 + 132) * (1 << seg)) - 132
      |    ELSE CASE WHEN seg = 0 THEN mant * 16 + 8
      |              WHEN seg = 1 THEN mant * 16 + 264
      |              ELSE (mant * 16 + 264) * (1 << (seg - 1)) END
      |    END AS BIGINT) AS rms_amp,
      |  CAST(0 AS BIGINT) AS f_spread
      |FROM p ORDER BY id""".stripMargin

  /** REAL IMA ADPCM decode roundtrip: all-zero-nibble blocks hold their
    * header predictor (step index pinned at 0 makes every delta 0), so
    * ±predictor blocks decode to a block-granular square wave whose RMS
    * and frame count the oracle replays from block geometry alone —
    * while the decoder still walks real headers, nibbles, and block
    * bounds.
    */
  def mmDecodeAdpcm(s: SparkSession, dir: String): DataFrame =
    decodedAudioStats(s, dir, udf((id: Long) => {
      val p = (500 + id % 30000).toInt
      val blocks = (2 + id % 4).toInt
      Multimodal.imaAdpcmWav(8000, 32,
        Seq.tabulate(blocks)(b => if (b % 2 == 0) p else -p))
    }))

  val mmDecodeAdpcmSql: String =
    """SELECT doc_id AS id, 8000 AS sample_rate, 1 AS channels,
      |  CAST((2 + doc_id % 4) * 57 AS INTEGER) AS n_frames,
      |  CAST(500 + doc_id % 30000 AS BIGINT) AS rms_amp,
      |  CAST(0 AS BIGINT) AS f_spread
      |FROM documents ORDER BY id""".stripMargin

  /** REAL video-container decode roundtrip: deterministic AVIs (1..5
    * solid frames each, dims/colors from per-doc arithmetic) go through
    * the pure-JVM RIFF walker + per-frame ImageIO decode — recovered
    * frame dims, true frame COUNT, and first-frame luma must match the
    * encode-side arithmetic. Frames here are PNG payloads (byte-exact
    * luma for the oracle); the decoder accepts any ImageIO-decodable
    * frame, which in the wild means MJPEG.
    */
  def mmDecodeVideo(s: SparkSession, dir: String): DataFrame = {
    val avi = udf((id: Long) => {
      val w = (16 + id % 16).toInt
      val h = (12 + (id * 3) % 12).toInt
      val n = (1 + id % 5).toInt
      Multimodal.mjpegAvi(Seq.tabulate(n)(f =>
        Multimodal.solidPng(w, h, ((id + f) % 256).toInt,
          ((id * 5) % 256).toInt, ((id * 11) % 256).toInt)))
    })
    val media = t(s, dir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"), lit("video").as("modality"),
        avi(col("doc_id").cast("long")).as("data"))
    Multimodal.decode(media)
      .select(col("id"), col("width"), col("height"), col("n_frames"),
        round(element_at(col("features"), 1) * 255).cast("long").as("luma"))
      .orderBy("id")
  }

  val mmDecodeVideoSql: String =
    """SELECT doc_id AS id,
      |  CAST(16 + doc_id % 16 AS INTEGER) AS width,
      |  CAST(12 + (doc_id*3) % 12 AS INTEGER) AS height,
      |  CAST(1 + doc_id % 5 AS INTEGER) AS n_frames,
      |  CAST((299*(doc_id % 256) + 587*((doc_id*5) % 256)
      |      + 114*((doc_id*11) % 256)) // 1000 AS BIGINT) AS luma
      |FROM documents WHERE doc_id % 5 = 0 ORDER BY id""".stripMargin

  /** REAL pixel resize roundtrip: solid PNGs (varied dims straddling the
    * 128 cap) go through [[Multimodal.resizePixels]] — actual box-sampled
    * pixels, re-encoded PNG — and the OUTPUT bytes are decoded again:
    * recovered dims must equal the integer scaling arithmetic and the
    * solid fill's luma must survive resampling exactly (integer area
    * average of a constant is the constant). The oracle replays the
    * arithmetic without seeing any bytes.
    */
  def mmResizeReal(s: SparkSession, dir: String): DataFrame = {
    val png = udf((id: Long) => Multimodal.solidPng(
      (40 + id % 96).toInt, (30 + (id * 3) % 76).toInt,
      (id % 256).toInt, ((id * 5) % 256).toInt, ((id * 11) % 256).toInt))
    // 1-in-5 deterministic slice: the roundtrip proof is per-image — more
    // images add deflate cost (the dominant term), not evidence
    val media = t(s, dir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"), lit("image").as("modality"),
        png(col("doc_id").cast("long")).as("data"))
    // materialized: the meta branch and the re-decode branch below would
    // otherwise each replay the whole encode->decode->resize->encode chain
    // (PNG deflate is the cost — measured 2x on the sf0.1 bench)
    val resized = Multimodal.resizePixels(media, maxDim = 64).localCheckpoint()
    val dec = Multimodal.decode(
      resized.select(col("id"), lit("image").as("modality"), col("data")))
    resized.select("id", "width", "height", "out_w", "out_h", "resized")
      .join(dec.select(col("id"), col("width").as("dec_w"),
        col("height").as("dec_h"),
        round(element_at(col("features"), 1) * 255).cast("long").as("luma")), "id")
      .orderBy("id")
  }

  val mmResizeRealSql: String =
    """WITH m AS (SELECT doc_id AS id,
      |  40 + doc_id % 96 AS w, 30 + (doc_id*3) % 76 AS h,
      |  doc_id % 256 AS r, (doc_id*5) % 256 AS g, (doc_id*11) % 256 AS b
      |  FROM documents WHERE doc_id % 5 = 0),
      |d AS (SELECT id, w, h, greatest(w, h) AS mx, r, g, b FROM m),
      |o AS (SELECT id, w, h,
      |  CASE WHEN mx <= 64 THEN w ELSE greatest(1, CAST(w * 64 // mx AS INTEGER)) END AS out_w,
      |  CASE WHEN mx <= 64 THEN h ELSE greatest(1, CAST(h * 64 // mx AS INTEGER)) END AS out_h,
      |  mx > 64 AS resized, r, g, b FROM d)
      |SELECT id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(out_w AS INTEGER) AS out_w, CAST(out_h AS INTEGER) AS out_h, resized,
      |  CAST(out_w AS INTEGER) AS dec_w, CAST(out_h AS INTEGER) AS dec_h,
      |  CAST((299*r + 587*g + 114*b) // 1000 AS BIGINT) AS luma
      |FROM o ORDER BY id""".stripMargin

  /** Frame-sampling shape over the decoded media: every 2nd frame of each
    * payload's n_frames — the (id, frame_idx) layout a video pipeline feeds
    * into per-frame embedding.
    */
  def mmFrames(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        lit("video").as("modality"),
        col("text").cast("binary").as("data"))
    Multimodal.sampleFrames(Multimodal.decode(media), everyNth = 2)
      .select(col("id"), col("n_frames"), col("frame_idx"))
      .orderBy("id", "frame_idx")
  }

  val mmFramesSql: String =
    """WITH m AS (SELECT doc_id AS id,
      |             CAST(1 + octet_length(CAST(text AS BLOB)) % 16 AS INTEGER) AS n_frames
      |           FROM documents),
      |f AS (SELECT id, n_frames, CAST(unnest(range(n_frames)) AS INTEGER) AS frame_idx FROM m)
      |SELECT id, n_frames, frame_idx FROM f WHERE frame_idx % 2 = 0
      |ORDER BY id, frame_idx""".stripMargin

  /** Resize planning over the decoded media: aspect-preserving dims capped
    * at 200 (chosen below the stub's 32..639 width range so both branches
    * of the scale decision appear in the output).
    */
  def mmResize(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        lit("image").as("modality"),
        col("text").cast("binary").as("data"))
    Multimodal.resizeStub(Multimodal.decode(media), maxDim = 200)
      .orderBy("id")
  }

  val mmResizeSql: String =
    """WITH d AS (SELECT doc_id AS id,
      |  CAST(32 + octet_length(CAST(text AS BLOB)) % 608 AS INTEGER) AS width,
      |  CAST(32 + (octet_length(CAST(text AS BLOB)) * 7) % 448 AS INTEGER) AS height
      |  FROM documents),
      |m AS (SELECT id, width, height, greatest(width, height) AS mx FROM d)
      |SELECT id, width, height,
      |  CASE WHEN mx <= 200 THEN width
      |       ELSE greatest(1, CAST(floor(CAST(width AS BIGINT) * 200 / mx) AS INTEGER)) END AS out_w,
      |  CASE WHEN mx <= 200 THEN height
      |       ELSE greatest(1, CAST(floor(CAST(height AS BIGINT) * 200 / mx) AS INTEGER)) END AS out_h,
      |  mx > 200 AS resized
      |FROM m ORDER BY id""".stripMargin

  /** End-to-end curation pipeline — the composition showpiece: quality
    * filter (rounded-score threshold, so the gate is engine-stable) →
    * English lang-ID gate → exact content dedup (min-id survivor) →
    * deterministic 50% sample → per-source rollup. Every stage is an
    * engine operator ([[graft.functions.TextFunctions]],
    * [[graft.dedup.Dedup]]-style exact dedup, [[graft.operators.Sampling]]);
    * one scan + one dedup shuffle + one rollup, no collect between stages.
    */
  def pipelineCurate(s: SparkSession, dir: String): DataFrame = {
    val filtered = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"),
        TextFunctions.tokens(col("text")).as("__toks"))
      .withColumn("quality",
        round(TextFunctions.qualityScoreFromToks(col("text"), col("__toks")), 6))
      .withColumn("stopr", round(TextFunctions.stopwordRatio(col("__toks")), 6))
      .filter(col("quality") >= 0.5 && col("stopr") >= 0.05)
      .drop("__toks")
    val kept = filtered
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(struct(col("doc_id"), col("source"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.source").as("source"))
    graft.operators.Sampling.sample(kept, "doc_id", 0.5)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_checksum"))
      .orderBy("source")
  }

  val pipelineCurateSql: String = {
    val stops = TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH d0 AS (SELECT doc_id, text, source, $toksD AS toks FROM documents),
       |m AS (SELECT doc_id, text, source,
       |        CAST(len(toks) AS DOUBLE) AS ntok,
       |        CAST(length(text) AS DOUBLE) AS nchar,
       |        CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS alpha,
       |        CASE WHEN len(toks) = 0 THEN 0.0
       |             ELSE list_reduce(list_prepend(0.0,
       |                    list_transform(toks, t -> CAST(length(t) AS DOUBLE))),
       |                  (a, b) -> a + b) / len(toks) END AS meanlen,
       |        CASE WHEN len(toks) = 0 THEN 0.0
       |             ELSE CAST(len(list_filter(toks, x -> list_contains([$stops], x))) AS DOUBLE)
       |                  / len(toks) END AS stopratio
       |      FROM d0),
       |q AS (SELECT doc_id, text, source,
       |        round(least(ntok / 50.0, 1.0) * 0.4 +
       |          (CASE WHEN nchar = 0 THEN 0.0 ELSE alpha / nchar END) * 0.3 +
       |          (CASE WHEN meanlen >= 3 AND meanlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 +
       |          least(stopratio * 10.0, 1.0) * 0.1, 6) AS quality,
       |        round(stopratio, 6) AS stopr FROM m),
       |f AS (SELECT doc_id, text, source FROM q WHERE quality >= 0.5 AND stopr >= 0.05),
       |k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY sha256(text)),
       |k2 AS (SELECT k.doc_id, f.source FROM k JOIN f USING (doc_id)),
       |smp AS (SELECT doc_id, source FROM k2
       |        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 5000)
       |SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM smp GROUP BY 1 ORDER BY source""".stripMargin
  }

  /** Deterministic stratified sampling — reproducible corpus downsampling
    * ([[graft.operators.Sampling]]): per-language keep rates (en 10%,
    * others 50%) gated on a pure hash of the id, so the sample is identical
    * on any cluster/partitioning. One scan, no shuffle.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratified(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        idCol = "doc_id", strataCol = "lang",
        rates = Map("en" -> 0.1), defaultRate = 0.5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("lang")

  val sampleStratifiedSql: String =
    """WITH d AS (SELECT doc_id, lang,
      |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS h
      |  FROM documents)
      |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM d WHERE h < CASE WHEN lang = 'en' THEN 1000 ELSE 5000 END
      |GROUP BY 1 ORDER BY lang""".stripMargin

  /** Benchmark decontamination: train docs (doc_id % 97 != 0) sharing word
    * 3-grams with the held-out eval slice (doc_id % 97 = 0), flagged at
    * shingle-containment >= 0.05 ([[graft.dedup.Dedup.containment]] —
    * inverted-index bipartite join, no train x eval cross product).
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text").as("content"))
    graft.dedup.Dedup.containment(
        docs.filter(col("id") % 97 =!= 0), docs.filter(col("id") % 97 === 0),
        threshold = 0.05, shingleN = 3)
      .withColumn("containment", round(col("containment"), 6))
      .orderBy("train_id", "eval_id")
  }

  val decontaminateSql: String =
    s"""WITH $shingleCte,
      |t AS (SELECT id, unnest(sh) AS s FROM sh WHERE id % 97 <> 0),
      |e AS (SELECT id, unnest(sh) AS s FROM sh WHERE id % 97 = 0),
      |sizes AS (SELECT id, len(sh) AS l FROM sh),
      |co AS (SELECT t.id AS train_id, e.id AS eval_id, count(*) AS inter
      |       FROM t JOIN e ON t.s = e.s GROUP BY 1, 2)
      |SELECT train_id, eval_id,
      |       round(CAST(inter AS DOUBLE) / l, 6) AS containment
      |FROM co JOIN sizes ON co.train_id = sizes.id
      |WHERE CAST(inter AS DOUBLE) / l >= 0.05
      |ORDER BY train_id, eval_id""".stripMargin

  /** Media similarity end-to-end: binary payload → decode ([[Multimodal
    * .decode]]) → feature extraction ([[Multimodal.featuresStub]],
    * per-partition encoder-session template) → exact cosine top-k
    * ([[graft.ann.Ann.bruteTopK]]). From the features on, media similarity
    * IS vector similarity — the same ANN serving paths (IVF/LSH/PQ) apply
    * unchanged at scale.
    */
  def mmSimilarity(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents")
      .select(col("doc_id").as("id"), lit("image").as("modality"),
        col("text").cast("binary").as("data"))
    val feats = Multimodal.featuresStub(Multimodal.decode(media))
      .withColumnRenamed("features", "embedding")
      .withColumn("norm", graft.functions.VectorFunctions.l2Norm(col("embedding")))
      .cache() // the query lookup and the corpus scan share one build
    val qs = feats.filter(col("id").isin(0L, 1L, 2L))
      .select("id", "embedding").collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1)).sortBy(_._1).toSeq
    graft.ann.Ann.bruteTopK(feats, qs, 5)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  /** Media similarity over REAL decoded features: deterministic gray-stripe
    * PNGs (stripe gray values from per-doc arithmetic, stripes aligned with
    * the 2x4 luma grid) are encoded, decoded by javax.imageio, reduced to
    * luma-grid features, and searched by exact cosine top-k. Gray luma is
    * integer-exact, so the oracle reproduces the features in closed form —
    * a byte-length stub cannot pass this.
    */
  def mmSimilarityReal(s: SparkSession, dir: String): DataFrame = {
    val png = udf((id: Long) => Multimodal.stripePng(8, 4, Seq(
      (id % 256).toInt, ((id * 7 + 13) % 256).toInt,
      ((id * 29 + 5) % 256).toInt, ((id * 53 + 101) % 256).toInt)))
    val media = t(s, dir, "documents")
      .select(col("doc_id").as("id"), lit("image").as("modality"),
        png(col("doc_id").cast("long")).as("data"))
    val feats = Multimodal.decode(media)
      .select(col("id"), col("features").as("embedding"))
      .withColumn("norm", graft.functions.VectorFunctions.l2Norm(col("embedding")))
      .cache() // the query lookup and the corpus scan share one decode pass
    val qs = feats.filter(col("id").isin(0L, 1L, 2L))
      .select("id", "embedding").collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1)).sortBy(_._1).toSeq
    graft.ann.Ann.bruteTopK(feats, qs, 5)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  val mmSimilarityRealSql: String =
    """WITH v AS (SELECT doc_id AS id,
      |        [doc_id % 256, (doc_id * 7 + 13) % 256,
      |         (doc_id * 29 + 5) % 256, (doc_id * 53 + 101) % 256] AS s
      |      FROM documents),
      |f AS (SELECT id, list_transform(s || s,
      |        x -> CAST(CAST(x / 255.0 AS FLOAT) AS DOUBLE)) AS fv
      |      FROM v),
      |q AS (SELECT id AS qid, fv AS qv FROM f WHERE id IN (0, 1, 2)),
      |sc AS (SELECT q.qid AS query_idx, f.id,
      |             list_cosine_similarity(f.fv, q.qv) AS sc
      |       FROM q CROSS JOIN f),
      |t AS (SELECT query_idx, id, sc,
      |             row_number() OVER (PARTITION BY query_idx
      |               ORDER BY sc DESC, id) AS rn FROM sc)
      |SELECT CAST(query_idx AS INTEGER) AS query_idx, id, round(sc, 6) AS score
      |FROM t WHERE rn <= 5 ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  val mmSimilaritySql: String =
    """WITH f AS (SELECT doc_id AS id,
      |        list_transform(range(8), i -> CAST(CAST(('0x' ||
      |          substr(sha256(text), CAST(i*4+1 AS INTEGER), 4)) AS BIGINT)
      |          / 65535.0 AS REAL)) AS vf
      |      FROM documents),
      |fd AS (SELECT id, CAST(vf AS DOUBLE[]) AS v FROM f),
      |q AS (SELECT id AS qid, v AS qv FROM fd WHERE id IN (0, 1, 2)),
      |s AS (SELECT q.qid AS query_idx, fd.id,
      |             list_cosine_similarity(fd.v, q.qv) AS sc
      |      FROM q CROSS JOIN fd),
      |t AS (SELECT query_idx, id, sc,
      |             row_number() OVER (PARTITION BY query_idx
      |               ORDER BY sc DESC, id) AS rn FROM s)
      |SELECT CAST(query_idx AS INTEGER) AS query_idx, id, round(sc, 6) AS score
      |FROM t WHERE rn <= 5 ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  /** Corpus distribution stats — exact token-count percentiles per
    * language (the length-distribution fingerprint every curation run
    * reports). Spark's exact `percentile` and DuckDB's `quantile_cont`
    * share the linear-interpolation definition, so the values hash-match
    * without rounding games; at 100 TB swap in approx_percentile and drop
    * the oracle to rows-only.
    */
  def textPercentiles(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextFunctions.tokens(col("text"))).cast("double")
    t(s, dir, "documents")
      .groupBy("lang")
      .agg(percentile(nTok, array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
      .select(col("lang"),
        round(element_at(col("q"), 1), 6).as("p50"),
        round(element_at(col("q"), 2), 6).as("p90"),
        round(element_at(col("q"), 3), 6).as("p99"))
      .orderBy("lang")
  }

  val textPercentilesSql: String =
    s"""WITH d AS (SELECT lang, CAST(len($toksD) AS DOUBLE) AS n FROM documents),
       |q AS (SELECT lang, quantile_cont(n, [0.5, 0.9, 0.99]) AS q FROM d GROUP BY 1)
       |SELECT lang, round(q[1], 6) AS p50, round(q[2], 6) AS p90,
       |       round(q[3], 6) AS p99
       |FROM q ORDER BY lang""".stripMargin

  /** Gopher-style within-document repetition signals (dup n-gram fraction
    * and top n-gram coverage for n = 2, 3). Rounded for float parity.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    graft.dedup.CorpusFilters.repetitionSignals(
      t(s, dir, "documents"), ns = Seq(2, 3),
      idCol = "doc_id", contentCol = "text")
      .select(col("id").as("doc_id"), col("n"),
        col("total_ngrams"), col("distinct_ngrams"),
        round(col("dup_frac"), 6).as("dup_frac"),
        round(col("top_frac"), 6).as("top_frac"))
      .orderBy("doc_id", "n")

  val textRepetitionSql: String =
    s"""WITH d AS (SELECT doc_id, $toksD AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, 2 AS n, array_to_string(toks[i+1:i+2], ' ') AS g
       |  FROM d, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)
       |  UNION ALL
       |  SELECT doc_id, 3 AS n, array_to_string(toks[i+1:i+3], ' ') AS g
       |  FROM d, UNNEST(range(greatest(len(toks)-2, 0))) AS u(i)),
       |c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY doc_id, n, g),
       |a AS (SELECT doc_id, n,
       |        CAST(sum(c) AS BIGINT) AS total_ngrams,
       |        count(*) AS distinct_ngrams,
       |        max(c) AS top_count
       |      FROM c GROUP BY doc_id, n)
       |SELECT doc_id, n, total_ngrams, distinct_ngrams,
       |       round(1.0 - CAST(distinct_ngrams AS DOUBLE) / total_ngrams, 6) AS dup_frac,
       |       round(CAST(top_count AS DOUBLE) / total_ngrams, 6) AS top_frac
       |FROM a ORDER BY doc_id, n""".stripMargin

  /** Corpus-boilerplate coverage: fraction of each document's token
    * positions inside a 3-gram shared by >= 5 documents.
    */
  def textBoilerplate(s: SparkSession, dir: String): DataFrame =
    graft.dedup.CorpusFilters.boilerplateCoverage(
      t(s, dir, "documents"), n = 3, minDf = 5,
      idCol = "doc_id", contentCol = "text")
      .select(col("id").as("doc_id"), col("tok_len").cast("long").as("tok_len"),
        col("covered_tokens"),
        round(col("boilerplate_frac"), 6).as("boilerplate_frac"))
      .orderBy("doc_id")

  val textBoilerplateSql: String =
    s"""WITH d AS (SELECT doc_id, $toksD AS toks FROM documents),
       |g AS (SELECT doc_id, len(toks) AS tok_len, i AS pos,
       |        array_to_string(toks[i+1:i+3], ' ') AS g
       |      FROM d, UNNEST(range(greatest(len(toks)-2, 0))) AS u(i)),
       |boiler AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM g)
       |           GROUP BY g HAVING count(*) >= 5),
       |cov AS (SELECT doc_id, count(DISTINCT p) AS covered_tokens
       |        FROM (SELECT doc_id, UNNEST(generate_series(pos, pos+2)) AS p
       |              FROM g WHERE g.g IN (SELECT g FROM boiler)) e
       |        GROUP BY doc_id)
       |SELECT d.doc_id, len(d.toks) AS tok_len,
       |       coalesce(cov.covered_tokens, 0) AS covered_tokens,
       |       round(CASE WHEN len(d.toks) = 0 THEN 0.0
       |             ELSE CAST(coalesce(cov.covered_tokens, 0) AS DOUBLE)
       |                  / len(d.toks) END, 6) AS boilerplate_frac
       |FROM d LEFT JOIN cov ON d.doc_id = cov.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Curation pipeline v2 — the round-5 signals composed end-to-end:
    * Gopher repetition gates (dup-2-gram fraction, top-2-gram coverage) ∧
    * corpus-boilerplate coverage gate → exact-dedup winner per digest →
    * per-source rollup. Thresholds sit at the corpus's p80-p90 so each
    * gate does real work. One driver program, no collect between stages;
    * every shuffle keys on id/gram/digest/source. A document too short to
    * have 2-gram slots has no defined repetition signal and drops
    * (Gopher filters on defined signals only).
    */
  def pipelineCurate2(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text").as("content"), col("source"))
    // ONE tokenizer pass feeds both gates (the scan-dominating stage at
    // 100 TB — persist and fan out instead of re-tokenizing per gate)
    val tokd = graft.dedup.CorpusFilters.tokenized(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val rep = graft.dedup.CorpusFilters.repetitionSignalsFromToks(tokd, ns = Seq(2))
      .filter(col("dup_frac") <= 0.05 && col("top_frac") <= 0.06)
      .select("id")
    val boil = graft.dedup.CorpusFilters.boilerplateCoverageFromToks(tokd, n = 3, minDf = 5)
      .filter(col("boilerplate_frac") <= 0.2)
      .select("id")
    docs
      .join(rep, Seq("id"), "left_semi")
      .join(boil, Seq("id"), "left_semi")
      .groupBy(sha2(col("content"), 256).as("digest"))
      .agg(min(struct(col("id"), col("source"))).as("k"))
      .select(col("k.id").as("id"), col("k.source").as("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("id").as("id_checksum"))
      .orderBy("source")
  }

  val pipelineCurate2Sql: String =
    s"""WITH d AS (SELECT doc_id, text, source, $toksD AS toks FROM documents),
       |g2 AS (SELECT doc_id, array_to_string(toks[i+1:i+2], ' ') AS g
       |       FROM d, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)),
       |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
       |rep AS (SELECT doc_id FROM (
       |          SELECT doc_id, 1.0 - CAST(count(*) AS DOUBLE)/sum(c) AS dupf,
       |                 CAST(max(c) AS DOUBLE)/sum(c) AS topf
       |          FROM c2 GROUP BY doc_id) r
       |        WHERE dupf <= 0.05 AND topf <= 0.06),
       |g3 AS (SELECT doc_id, len(toks) AS tok_len, i AS pos,
       |         array_to_string(toks[i+1:i+3], ' ') AS g
       |       FROM d, UNNEST(range(greatest(len(toks)-2, 0))) AS u(i)),
       |b AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM g3) bg
       |      GROUP BY g HAVING count(*) >= 5),
       |cov AS (SELECT doc_id, count(DISTINCT p) AS cv
       |        FROM (SELECT doc_id, UNNEST(generate_series(pos, pos+2)) AS p
       |              FROM g3 WHERE g3.g IN (SELECT g FROM b)) e
       |        GROUP BY doc_id),
       |boil AS (SELECT d.doc_id FROM d LEFT JOIN cov USING (doc_id)
       |         WHERE CASE WHEN len(toks) = 0 THEN 0.0
       |               ELSE CAST(coalesce(cv, 0) AS DOUBLE)/len(toks) END <= 0.2),
       |kept AS (SELECT d.doc_id, d.text, d.source FROM d
       |         WHERE d.doc_id IN (SELECT doc_id FROM rep)
       |           AND d.doc_id IN (SELECT doc_id FROM boil)),
       |k AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(text)),
       |k2 AS (SELECT k.doc_id, kept.source FROM k JOIN kept USING (doc_id))
       |SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM k2 GROUP BY 1 ORDER BY source""".stripMargin

  /** Boilerplate removal: cleaned documents with corpus-frequent 3-gram
    * spans cut (tok_len cast long for oracle dtype parity).
    */
  def textBoilerplateStrip(s: SparkSession, dir: String): DataFrame =
    graft.dedup.CorpusFilters.boilerplateStrip(
      t(s, dir, "documents"), n = 3, minDf = 5,
      idCol = "doc_id", contentCol = "text")
      .select(col("id").as("doc_id"), col("tok_len").cast("long").as("tok_len"),
        col("kept_tokens"), col("cleaned"))
      .orderBy("doc_id")

  val textBoilerplateStripSql: String =
    s"""WITH d AS (SELECT doc_id, $toksD AS toks FROM documents),
       |g AS (SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+3], ' ') AS g
       |      FROM d, UNNEST(range(greatest(len(toks)-2, 0))) AS u(i)),
       |b AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM g) bg
       |      GROUP BY g HAVING count(*) >= 5),
       |cov AS (SELECT DISTINCT doc_id, p
       |        FROM (SELECT doc_id, UNNEST(generate_series(pos, pos+2)) AS p
       |              FROM g WHERE g.g IN (SELECT g FROM b)) e),
       |$spanStripSql""".stripMargin

  /** The budget-fill input: (id, group = lang, 6-digit quality score, tokens). */
  private def budgetDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("lang").as("group"), col("text"),
        TextFunctions.tokens(col("text")).as("__toks"))
      .select(col("id"), col("group"),
        round(TextFunctions.qualityScoreFromToks(col("text"), col("__toks")), 6)
          .as("quality"),
        size(col("__toks")).cast("long").as("tokens"))

  /** Its DuckDB replay through `c`: the quality score of every document
    * and its running per-language token sum `cum` in fill order.
    */
  private val budgetFillCtes: String = {
    val stops = TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString(", ")
    s"""d AS (SELECT doc_id, lang, text, $toksD AS toks FROM documents),
       |m AS (SELECT doc_id, lang,
       |        CAST(len(toks) AS DOUBLE) AS ntok,
       |        CAST(len(toks) AS BIGINT) AS tokens,
       |        CAST(length(text) AS DOUBLE) AS nchar,
       |        CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS alpha,
       |        CASE WHEN len(toks) = 0 THEN 0.0
       |             ELSE list_reduce(list_prepend(0.0,
       |                    list_transform(toks, t -> CAST(length(t) AS DOUBLE))),
       |                  (a, b) -> a + b) / len(toks) END AS meanlen,
       |        CASE WHEN len(toks) = 0 THEN 0.0
       |             ELSE CAST(len(list_filter(toks, x -> list_contains([$stops], x))) AS DOUBLE)
       |                  / len(toks) END AS stopratio
       |      FROM d),
       |q AS (SELECT doc_id, lang, tokens, round(
       |        least(ntok / 50.0, 1.0) * 0.4 +
       |        (CASE WHEN nchar = 0 THEN 0.0 ELSE alpha / nchar END) * 0.3 +
       |        (CASE WHEN meanlen >= 3 AND meanlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 +
       |        least(stopratio * 10.0, 1.0) * 0.1, 6) AS quality
       |      FROM m),
       |c AS (SELECT lang, doc_id, quality, tokens,
       |        sum(tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM q)""".stripMargin
  }

  /** Token-budget mixture fill per language (Mixture.tokenBudgetFill,
    * threshold form) under the greedy-definition oracle: keep docs in
    * (quality DESC, doc_id) order while the per-lang running token sum
    * stays within budget. The oracle IS the naive window form — hash
    * equality proves the scalable two-level implementation is exact.
    */
  def mixtureBudget(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixture.tokenBudgetFill(budgetDocs(s, dir), budget = 2000L)
      .select(col("group").as("lang"), col("id").as("doc_id"),
        col("quality"), col("tokens"))
      .orderBy("lang", "doc_id")

  val mixtureBudgetSql: String =
    s"""WITH $budgetFillCtes
       |SELECT lang, doc_id, quality, tokens FROM c WHERE cum <= 2000
       |ORDER BY lang, doc_id""".stripMargin

  /** Deterministic export sharding (Mixture.exportShards): md5-derived
    * shard + stable pseudo-random within-shard position, oracle-replayed
    * byte-for-byte from the same md5 definition as stableHash32.
    */
  def exportShardsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixture.exportShards(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"), 8)
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy("shard", "pos")

  val exportShardsSql: String =
    """WITH h AS (SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
      |  FROM documents)
      |SELECT CAST(h1 % 8 AS INTEGER) AS shard,
      |       CAST(row_number() OVER (PARTITION BY h1 % 8
      |         ORDER BY h2, CAST(doc_id AS VARCHAR)) AS BIGINT) AS pos,
      |       doc_id
      |FROM h ORDER BY shard, pos""".stripMargin

  /** Curation pipeline v3 — the training-export tail: quality scoring →
    * per-lang token-budget mixture fill → deterministic shard layout, ONE
    * composed plan (no driver round-trips between stages), replayed in
    * full by the oracle. The shape a 100 TB export job has: scan+score,
    * one bin aggregate + tiny windows, then a shard-keyed bounded window.
    */
  def pipelineCurate3(s: SparkSession, dir: String): DataFrame = {
    val kept = graft.operators.Mixture.tokenBudgetFill(budgetDocs(s, dir), budget = 2000L)
    graft.operators.Mixture.exportShards(kept, col("id"), 4)
      .select(col("shard"), col("pos"), col("id").as("doc_id"),
        col("group").as("lang"), col("quality"), col("tokens"))
      .orderBy("shard", "pos")
  }

  val pipelineCurate3Sql: String = {
    s"""WITH $budgetFillCtes,
       |k AS (SELECT lang, doc_id, quality, tokens FROM c WHERE cum <= 2000),
       |h AS (SELECT k.*,
       |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
       |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
       |      FROM k)
       |SELECT CAST(h1 % 4 AS INTEGER) AS shard,
       |       CAST(row_number() OVER (PARTITION BY h1 % 4
       |         ORDER BY h2, CAST(doc_id AS VARCHAR)) AS BIGINT) AS pos,
       |       doc_id, lang, quality, tokens
       |FROM h ORDER BY shard, pos""".stripMargin
  }

  /** Per-source token cap (Mixture.domainTokenCap) under the greedy
    * oracle: per source, keep docs in (hash-bucket, doc_id) order while
    * the running token sum stays within cap — unbiased deterministic
    * per-domain downsampling.
    */
  def domainCap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("source").as("group"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("tokens"))
    graft.operators.Mixture.domainTokenCap(docs, col("id"), cap = 600L)
      .select(col("group").as("source"), col("id").as("doc_id"),
        col("quality"), col("tokens"))
      .orderBy("source", "doc_id")
  }

  val domainCapSql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |        CAST(len($toksD) AS BIGINT) AS tokens,
       |        -CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |          % 4096 AS DOUBLE) AS quality
       |      FROM documents),
       |c AS (SELECT source, doc_id, quality, tokens,
       |        sum(tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM d)
       |SELECT source, doc_id, quality, tokens FROM c WHERE cum <= 600
       |ORDER BY source, doc_id""".stripMargin

  /** Temperature-scaled mixture (Mixture.temperatureMixture) under the
    * greedy oracle: per-source token budgets ∝ sqrt(group tokens) (alpha
    * 0.5), split by integer micro-weights (exact cross-engine arithmetic),
    * fill in unbiased (hash-bucket, id) order.
    */
  def mixtureTemperature(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("source").as("group"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("tokens"))
    graft.operators.Mixture.temperatureMixture(docs, alpha = 0.5, targetTokens = 5000L)
      .select(col("group").as("source"), col("id").as("doc_id"),
        col("quality"), col("tokens"))
      .orderBy("source", "doc_id")
  }

  val mixtureTemperatureSql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |        CAST(len($toksD) AS BIGINT) AS tokens,
       |        -CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |          % 4096 AS DOUBLE) AS quality
       |      FROM documents),
       |g AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS n_tokens FROM d GROUP BY source),
       |w AS (SELECT source, n_tokens,
       |        CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.5) * 1000000, 0) AS BIGINT) AS w
       |      FROM g),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM w),
       |b AS (SELECT source,
       |        least(CAST((CAST(w AS HUGEINT) * 5000) // CAST(tot AS HUGEINT) AS BIGINT),
       |              n_tokens) AS budget
       |      FROM w CROSS JOIN t),
       |c AS (SELECT d.source, d.doc_id, d.quality, d.tokens, b.budget,
       |        sum(d.tokens) OVER (PARTITION BY d.source ORDER BY d.quality DESC, d.doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM d JOIN b ON d.source = b.source)
       |SELECT source, doc_id, quality, tokens FROM c WHERE cum <= budget
       |ORDER BY source, doc_id""".stripMargin

  /** CCNet-style LM quality filter (Perplexity): add-one bigram model
    * trained on the src0 reference slice, every document scored by mean
    * negative log likelihood per bigram (micro-nat integer sums — exact
    * under any reduce order), head/middle/tail thirds per language by
    * integer rank cuts. The oracle replays the whole pipeline including
    * the unknown-token fallback.
    */
  def textPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("lang"), col("source"),
        TextFunctions.tokens(col("text")).as("toks"))
    val lm = graft.dedup.Perplexity.train(
      docs.filter(col("source") === "src0").select("id", "toks"))
    val scored = graft.dedup.Perplexity.score(docs.select("id", "toks"), lm)
      .join(docs.select("id", "lang"), Seq("id"))
    graft.dedup.Perplexity.buckets(scored, "lang")
      .select(col("id").as("doc_id"), col("lang"), col("n_bigrams"),
        col("nll_micro"), round(col("avg_nll"), 6).as("avg_nll"), col("bucket"))
      .orderBy("doc_id")
  }

  /** Kneser–Ney variant of the CCNet pipeline: same dataflow, the KenLM
    * smoothing family at bigram order. The oracle replays the full model —
    * discounted probabilities, continuation counts, backoff — in SQL.
    */
  def textPerplexityKn(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("lang"), col("source"),
        TextFunctions.tokens(col("text")).as("toks"))
    val lm = graft.dedup.Perplexity.trainKn(
      docs.filter(col("source") === "src0").select("id", "toks"))
    val scored = graft.dedup.Perplexity.scoreKn(docs.select("id", "toks"), lm)
      .join(docs.select("id", "lang"), Seq("id"))
    graft.dedup.Perplexity.buckets(scored, "lang")
      .select(col("id").as("doc_id"), col("lang"), col("n_bigrams"),
        col("nll_micro"), round(col("avg_nll"), 6).as("avg_nll"), col("bucket"))
      .orderBy("doc_id")
  }

  val textPerplexityKnSql: String =
    s"""WITH d AS (SELECT doc_id, lang, source, $toksD AS toks FROM documents),
       |rp AS (SELECT toks[i+1] AS w1, toks[i+2] AS w2
       |       FROM d, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)
       |       WHERE source = 'src0'),
       |$knModelCtes,
       |occ AS (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2, count(*) AS occ
       |        FROM d, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)
       |        GROUP BY doc_id, w1, w2),
       |s AS (SELECT occ.doc_id, occ.occ,
       |$knNllFrom,
       |a AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
       |        CAST(sum(occ * t_micro) AS BIGINT) AS nll_micro
       |      FROM s GROUP BY doc_id),
       |j AS (SELECT a.doc_id, d.lang, a.n_bigrams, a.nll_micro,
       |        CAST(a.nll_micro AS DOUBLE) / (CAST(a.n_bigrams AS DOUBLE) * 1e6) AS avg_nll
       |      FROM a JOIN d ON a.doc_id = d.doc_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rn,
       |        count(*) OVER (PARTITION BY lang) AS n FROM j)
       |SELECT doc_id, lang, n_bigrams, nll_micro, round(avg_nll, 6) AS avg_nll,
       |       CASE WHEN rn * 3 <= n THEN 'head'
       |            WHEN rn * 3 <= n * 2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM r ORDER BY doc_id""".stripMargin

  val textPerplexitySql: String =
    s"""WITH d AS (SELECT doc_id, lang, source, $toksD AS toks FROM documents),
       |rp AS (SELECT toks[i+1] AS w1, toks[i+2] AS w2
       |       FROM d, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)
       |       WHERE source = 'src0'),
       |big AS (SELECT w1, w2, count(*) AS c12 FROM rp GROUP BY w1, w2),
       |uni AS (SELECT w1, count(*) AS c1 FROM rp GROUP BY w1),
       |voc AS (SELECT count(DISTINCT w) AS v
       |        FROM (SELECT UNNEST(toks) AS w FROM d WHERE source = 'src0')),
       |occ AS (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2, count(*) AS occ
       |        FROM d, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)
       |        GROUP BY doc_id, w1, w2),
       |s AS (SELECT occ.doc_id, occ.occ,
       |        CAST(floor(-ln(CAST(coalesce(big.c12, 0) + 1 AS DOUBLE)
       |          / CAST(coalesce(uni.c1, 0) + voc.v AS DOUBLE)) * 1e6) AS BIGINT) AS t_micro
       |      FROM occ LEFT JOIN big ON occ.w1 = big.w1 AND occ.w2 = big.w2
       |               LEFT JOIN uni ON occ.w1 = uni.w1
       |               CROSS JOIN voc),
       |a AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
       |        CAST(sum(occ * t_micro) AS BIGINT) AS nll_micro
       |      FROM s GROUP BY doc_id),
       |j AS (SELECT a.doc_id, d.lang, a.n_bigrams, a.nll_micro,
       |        CAST(a.nll_micro AS DOUBLE) / (CAST(a.n_bigrams AS DOUBLE) * 1e6) AS avg_nll
       |      FROM a JOIN d ON a.doc_id = d.doc_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rn,
       |        count(*) OVER (PARTITION BY lang) AS n FROM j)
       |SELECT doc_id, lang, n_bigrams, nll_micro, round(avg_nll, 6) AS avg_nll,
       |       CASE WHEN rn*3 <= n THEN 'head'
       |            WHEN rn*3 <= n*2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM r ORDER BY doc_id""".stripMargin

  /** Sequence packing (Pack.packOffsets): stable-shuffle concat-and-split
    * layout — every document's global token-stream offset and context
    * windows at L=512. Oracle replays the exclusive prefix sum as one
    * DuckDB window over the same md5 shuffle order; hash equality proves
    * the distributed prefix sum (range partitions + driver offsets)
    * identical to the naive global-window definition.
    */
  def packOffsetsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("tokens"))
    graft.operators.Pack.packOffsets(docs, 512L)
      .select(col("id").as("doc_id"), col("tokens"), col("offset"),
        col("seq"), col("pos_in_seq"), col("seq_last"))
      .orderBy("offset", "doc_id")
  }

  val packOffsetsSql: String =
    s"""WITH d AS (SELECT doc_id, CAST(len($toksD) AS BIGINT) AS tokens,
       |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
       |      FROM documents),
       |o AS (SELECT doc_id, tokens,
       |        CAST(COALESCE(sum(tokens) OVER (ORDER BY h2, CAST(doc_id AS VARCHAR)
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
       |      FROM d)
       |SELECT doc_id, tokens, "offset",
       |       "offset" // 512 AS seq,
       |       "offset" % 512 AS pos_in_seq,
       |       greatest("offset", "offset" + tokens - 1) // 512 AS seq_last
       |FROM o ORDER BY "offset", doc_id""".stripMargin

  /** Per-sequence manifest (Pack.sequenceManifest): which slice of which
    * document each L=64 context window carries — the join frame an export
    * writer uses to emit window contents. L=64 sits under the corpus's max
    * document length so multi-window spans are exercised.
    */
  def packManifestQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("tokens"))
    val packed = graft.operators.Pack.packOffsets(docs, 64L)
    graft.operators.Pack.sequenceManifest(packed, 64L)
      .select(col("seq"), col("id").as("doc_id"), col("doc_begin"),
        col("doc_end"), col("offset"), col("tokens"))
      .orderBy("seq", "offset")
  }

  val packManifestSql: String =
    s"""WITH d AS (SELECT doc_id, CAST(len($toksD) AS BIGINT) AS tokens,
       |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
       |      FROM documents),
       |o AS (SELECT doc_id, tokens,
       |        CAST(COALESCE(sum(tokens) OVER (ORDER BY h2, CAST(doc_id AS VARCHAR)
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
       |      FROM d WHERE tokens > 0),
       |m AS (SELECT unnest(range("offset" // 64,
       |          (greatest("offset", "offset" + tokens - 1) // 64) + 1)) AS seq,
       |        doc_id, "offset", tokens
       |      FROM o)
       |SELECT seq, doc_id,
       |       greatest(0, seq * 64 - "offset") AS doc_begin,
       |       least(tokens, seq * 64 + 64 - "offset") AS doc_end,
       |       "offset", tokens
       |FROM m ORDER BY seq, "offset"""".stripMargin

  /** DSIR importance resampling (operators.Dsir): hashed unigram+bigram
    * bucket distributions for the src0 target slice vs the whole corpus,
    * micro-nat log-ratio weights, hash-derived Gumbel top-100. Full DuckDB
    * replay: feature hashing, smoothing, the integer weight sums, and the
    * Gumbel keys.
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val B = 4096
    // tokenize once: counts (target + raw) and the weight pass all read it
    val base = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("source"),
        TextFunctions.tokens(col("text")).as("toks"))
      .localCheckpoint()
    val target = base.filter(col("source") === "src0").select("id", "toks")
    val raw = base.select("id", "toks")
    val table = graft.operators.Dsir.importanceTable(
      graft.operators.Dsir.bucketCounts(target, B),
      graft.operators.Dsir.bucketCounts(raw, B), B)
    val w = graft.operators.Dsir.importanceWeights(raw, table, B)
    graft.operators.Dsir.resampleTopK(w, 100)
      .select(col("id").as("doc_id"), col("n_feats"), col("w_micro"),
        round(col("avg_w"), 6).as("avg_w"), col("key_micro"))
      .orderBy(col("key_micro").desc, col("doc_id"))
  }

  /** DSIR importance weights over hashed features `feats(id, source, bucket)`:
    * target (src0) and raw bucket counts, the smoothed log-ratio table `tab`
    * in micro units, and per-document bucket occurrences `occ`.
    */
  private val dsirCtes: String =
    """tc AS (SELECT bucket, count(*) AS ct FROM feats WHERE source = 'src0' GROUP BY 1),
      |rc AS (SELECT bucket, count(*) AS cr FROM feats GROUP BY 1),
      |nt AS (SELECT count(*) AS n FROM feats WHERE source = 'src0'),
      |nr AS (SELECT count(*) AS n FROM feats),
      |tab AS (
      |  SELECT b.bucket,
      |         CAST(floor((ln((COALESCE(tc.ct, 0) + 1)::DOUBLE / (nt.n + 4096))
      |                   - ln((COALESCE(rc.cr, 0) + 1)::DOUBLE / (nr.n + 4096))) * 1e6)
      |           AS BIGINT) AS r_micro
      |  FROM (SELECT unnest(range(4096)) AS bucket) b
      |  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
      |  CROSS JOIN nt CROSS JOIN nr),
      |occ AS (SELECT id, bucket, count(*) AS occ FROM feats GROUP BY 1, 2)""".stripMargin

  val dsirSelectSql: String =
    s"""WITH d AS (SELECT doc_id AS id, source, $toksD AS toks FROM documents),
       |feats AS (
       |  SELECT id, source,
       |         ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096 AS bucket
       |  FROM (
       |    SELECT id, source, unnest(toks) AS t FROM d
       |    UNION ALL
       |    SELECT id, source, unnest(list_transform(range(len(toks) - 1),
       |             i -> toks[i+1] || ' ' || toks[i+2])) AS t
       |    FROM d WHERE len(toks) >= 2)),
       |$dsirCtes,
       |w AS (SELECT id, CAST(sum(occ) AS BIGINT) AS n_feats,
       |        CAST(sum(occ * r_micro) AS BIGINT) AS w_micro
       |      FROM occ JOIN tab USING (bucket) GROUP BY id),
       |g AS (SELECT id, n_feats, w_micro,
       |        CAST(w_micro AS DOUBLE) / (n_feats * 1e6) AS avg_w,
       |        w_micro + CAST(floor(-ln(-ln(
       |          ((('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
       |            / 4294967296.0))) * 1e6) AS BIGINT) AS key_micro
       |      FROM w)
       |SELECT id AS doc_id, n_feats, w_micro, round(avg_w, 6) AS avg_w, key_micro
       |FROM g ORDER BY key_micro DESC, CAST(id AS VARCHAR) LIMIT 100""".stripMargin

  /** Curation pipeline v4 — the full selection-to-trainer tail with the
    * round-6 operators: length gate → DSIR importance selection against
    * the src0 target slice → sequence packing of the selected corpus into
    * L=256 context windows. One composed plan; the only driver
    * round-trips are the bounded ones the operators document (DSIR's
    * B-row table build is pure dataflow, packing collects B bucket
    * subtotals). The oracle replays every stage.
    */
  def pipelineCurate4(s: SparkSession, dir: String): DataFrame = {
    val B = 4096
    val base = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("source"),
        TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("tokens", size(col("toks")).cast("long"))
      .localCheckpoint()
    val eligible = base.filter(col("tokens") >= 20)
    val target = eligible.filter(col("source") === "src0").select("id", "toks")
    val tab = graft.operators.Dsir.importanceTable(
      graft.operators.Dsir.bucketCounts(target, B),
      graft.operators.Dsir.bucketCounts(eligible.select("id", "toks"), B), B)
    val picked = graft.operators.Dsir.resampleTopK(
      graft.operators.Dsir.importanceWeights(eligible.select("id", "toks"), tab, B), 200)
    val withTokens = picked.select("id")
      .join(eligible.select("id", "tokens"), "id")
    graft.operators.Pack.packOffsets(withTokens, 256L)
      .select(col("id").as("doc_id"), col("tokens"), col("offset"),
        col("seq"), col("pos_in_seq"), col("seq_last"))
      .orderBy("offset", "doc_id")
  }

  val pipelineCurate4Sql: String =
    s"""WITH d AS (SELECT doc_id AS id, source, $toksD AS toks,
       |        CAST(len($toksD) AS BIGINT) AS tokens
       |      FROM documents),
       |el AS (SELECT * FROM d WHERE tokens >= 20),
       |feats AS (
       |  SELECT id, source,
       |         ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096 AS bucket
       |  FROM (
       |    SELECT id, source, unnest(toks) AS t FROM el
       |    UNION ALL
       |    SELECT id, source, unnest(list_transform(range(len(toks) - 1),
       |             i -> toks[i+1] || ' ' || toks[i+2])) AS t
       |    FROM el WHERE len(toks) >= 2)),
       |$dsirCtes,
       |w AS (SELECT id, CAST(sum(occ * r_micro) AS BIGINT) AS w_micro
       |      FROM occ JOIN tab USING (bucket) GROUP BY id),
       |picked AS (
       |  SELECT id FROM w
       |  ORDER BY w_micro + CAST(floor(-ln(-ln(
       |      ((('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
       |        / 4294967296.0))) * 1e6) AS BIGINT) DESC, CAST(id AS VARCHAR)
       |  LIMIT 200),
       |pt AS (SELECT el.id, el.tokens,
       |        CAST(('0x' || substr(md5(CAST(el.id AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
       |      FROM picked JOIN el ON picked.id = el.id),
       |o AS (SELECT id, tokens,
       |        CAST(COALESCE(sum(tokens) OVER (ORDER BY h2, CAST(id AS VARCHAR)
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
       |      FROM pt)
       |SELECT id AS doc_id, tokens, "offset",
       |       "offset" // 256 AS seq,
       |       "offset" % 256 AS pos_in_seq,
       |       greatest("offset", "offset" + tokens - 1) // 256 AS seq_last
       |FROM o ORDER BY "offset", doc_id""".stripMargin

  /** One-pass corpus profile (operators.Profile): per-column row / null /
    * exact-distinct counts and native-order min/max over the documents
    * table. Columns chosen integer/varchar so string-cast min/max render
    * identically in both engines.
    */
  def corpusProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(
        t(s, dir, "documents"), Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy("column")

  val corpusProfileSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |       count(*) - count($c) AS n_nulls,
         |       count(DISTINCT $c) AS n_distinct,
         |       CAST(min($c) AS VARCHAR) AS min_value,
         |       CAST(max($c) AS VARCHAR) AS max_value
         |FROM documents""".stripMargin
    Seq("doc_id", "lang", "source", "n_chars").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** Trained quality classifier (operators.QualityClassifier): 2 rounds of
    * full-batch logistic regression (mean-pooled hashed features + bias,
    * B=64), label = "is src0", then the scoring pass. The oracle replays
    * BOTH training rounds (micro-quantized gradients make every cross-row
    * sum exact integer arithmetic) and the final margins/probabilities.
    * On THIS synthetic corpus all sources share one token distribution,
    * so the trained p collapses to the class prior for both labels — the
    * oracle proves training-math parity; QualityClassifierSpec's
    * separable/imbalanced corpora prove the model actually learns.
    */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    classifierScores(s, dir)
      .select(col("id").as("doc_id"), col("label"),
        col("margin_micro"), round(col("p"), 6).as("p"))
      .orderBy("doc_id")
  }

  val qualityClassifierSql: String =
    s"""WITH $clfTrainCtes
       |SELECT id AS doc_id, label, margin_micro,
       |       round(1.0 / (1.0 + exp(-margin_micro / 1e6)), 6) AS p
       |FROM m2 ORDER BY doc_id""".stripMargin

  /** Reliability (calibration) report for the trained quality classifier:
    * bin the training corpus into 10 equi-width margin bins over the
    * OBSERVED margin range (width = ((max-min) div 10) + 1, so bin is
    * always 0..9 — a fixed absolute width would collapse to one bin: the
    * 2-round model's margins span only ~0.01 units) and compare the mean
    * predicted probability against the empirical positive rate per bin —
    * the standard check before trusting classifier scores as selection
    * weights (an over-confident filter silently skews the mixture).
    * All-bin arithmetic is exact: integer bin edges from a single-row
    * min/max aggregate, counts, micro-quantized probability sums, and
    * integer-division rates. Training is the same fully-replayed 2-round
    * run as q_quality_classifier (shared CTE chain); the report adds one
    * tiny min/max agg plus one |bins|-sized keyed aggregate.
    */
  def classifierCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = classifierScores(s, dir)
      .select(col("margin_micro"), col("label").cast("long").as("pos"),
        round(col("p") * lit(1e6), 0).cast("long").as("p_micro"))
      .localCheckpoint()
    // single-row stats aggregate (the bounded-collect pattern): bin edges
    // must be literals so the bin expression stays a narrow map
    val r = scored.agg(min("margin_micro"), max("margin_micro")).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val w = (mx - mn) / 10 + 1
    scored
      .select(expr(s"(margin_micro - ${mn}L) div ${w}L").as("bin"),
        col("pos"), col("p_micro"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"),
        sum("p_micro").as("sum_p_micro"))
      .select(col("bin"), expr(s"${mn}L + bin * ${w}L").as("lo_micro"),
        col("n_docs"), col("n_pos"),
        expr("(n_pos * 1000000L) div n_docs").as("pos_rate_micro"),
        expr("sum_p_micro div n_docs").as("mean_p_micro"))
      .orderBy("bin")
  }

  val classifierCalibrationSql: String =
    s"""WITH $clfTrainCtes,
       |sc AS (SELECT id, label, margin_micro,
       |         CAST(round((1.0 / (1.0 + exp(-margin_micro / 1e6))) * 1e6, 0) AS BIGINT)
       |           AS p_micro
       |       FROM m2),
       |st AS (SELECT min(margin_micro) AS mn,
       |              ((max(margin_micro) - min(margin_micro)) // 10) + 1 AS w
       |       FROM sc),
       |b AS (SELECT (sc.margin_micro - st.mn) // st.w AS bin,
       |             st.mn, st.w, sc.label, sc.p_micro
       |      FROM sc CROSS JOIN st)
       |SELECT bin, CAST(mn + bin * w AS BIGINT) AS lo_micro,
       |  count(*) AS n_docs,
       |  CAST(sum(label) AS BIGINT) AS n_pos,
       |  (CAST(sum(label) AS BIGINT) * 1000000) // count(*) AS pos_rate_micro,
       |  CAST(sum(p_micro) AS BIGINT) // count(*) AS mean_p_micro
       |FROM b GROUP BY bin, mn, w ORDER BY bin""".stripMargin

  /** Precision/recall/F1 threshold sweep of the trained quality
    * classifier — the operating-point report completing the eval trio:
    * q_classifier_auc grades ranking, q_classifier_calibration grades
    * probabilities, this grades each candidate DECISION THRESHOLD. 11
    * thresholds span the observed margin range (same integer bin-edge
    * rule as calibration); per threshold: exact integer confusion counts
    * and micro P/R/F1 (a vacuous empty prediction set scores precision
    * 1e6 by convention — no NULLs, no dtype drift). One corpus pass: the
    * 11-way explode collapses map-side to 11 rows per partition before
    * the exchange.
    */
  def classifierPr(s: SparkSession, dir: String): DataFrame = {
    val scored = classifierScores(s, dir)
      .select(col("margin_micro"), col("label").cast("long").as("pos"))
      .localCheckpoint()
    val r = scored.agg(min("margin_micro"), max("margin_micro")).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val w = (mx - mn) / 10 + 1
    val ths = (0 to 10).map(i => struct(lit(i.toLong).as("i"), lit(mn + i * w).as("thr")))
    scored
      .select(explode(array(ths: _*)).as("th"), col("margin_micro"), col("pos"))
      .groupBy(col("th.i").as("i"), col("th.thr").as("thr_micro"))
      .agg(
        sum(col("pos")).as("p"),
        sum(when(col("margin_micro") >= col("th.thr"), col("pos")).otherwise(0L)).as("tp"),
        sum(when(col("margin_micro") >= col("th.thr") && col("pos") === 0, 1L)
          .otherwise(0L)).as("fp"))
      .select(col("i"), col("thr_micro"),
        (col("tp") + col("fp")).as("n_pred"), col("tp"), col("fp"),
        when(col("tp") + col("fp") === 0, lit(1000000L))
          .otherwise(expr("(tp * 1000000L) div (tp + fp)")).as("precision_micro"),
        expr("(tp * 1000000L) div p").as("recall_micro"),
        when(expr("2L*tp + fp + (p - tp)") === 0, lit(0L))
          .otherwise(expr("(2L * tp * 1000000L) div (2L*tp + fp + (p - tp))"))
          .as("f1_micro"))
      .orderBy("i")
  }

  val classifierPrSql: String =
    s"""WITH $clfTrainCtes,
       |sc AS (SELECT id, label, margin_micro FROM m2),
       |st AS (SELECT min(margin_micro) AS mn,
       |              ((max(margin_micro) - min(margin_micro)) // 10) + 1 AS w
       |       FROM sc),
       |th AS (SELECT CAST(g.i AS BIGINT) AS i,
       |              CAST(st.mn + g.i * st.w AS BIGINT) AS thr_micro
       |       FROM (SELECT unnest(range(11)) AS i) g CROSS JOIN st),
       |x AS (SELECT th.i, th.thr_micro,
       |        CAST(sum(sc.label) AS BIGINT) AS p,
       |        CAST(sum(CASE WHEN sc.margin_micro >= th.thr_micro THEN sc.label ELSE 0 END) AS BIGINT) AS tp,
       |        CAST(sum(CASE WHEN sc.margin_micro >= th.thr_micro AND sc.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp
       |      FROM sc CROSS JOIN th GROUP BY 1, 2)
       |SELECT i, thr_micro, tp + fp AS n_pred, tp, fp,
       |  CASE WHEN tp + fp = 0 THEN 1000000 ELSE (tp * 1000000) // (tp + fp) END AS precision_micro,
       |  (tp * 1000000) // p AS recall_micro,
       |  CASE WHEN 2*tp + fp + (p - tp) = 0 THEN 0
       |       ELSE (2 * tp * 1000000) // (2*tp + fp + (p - tp)) END AS f1_micro
       |FROM x ORDER BY i""".stripMargin

  /** Vocabulary coverage (operators.Vocab): types needed to cover 50/90/
    * 95/99% of token mass, from count-of-counts — the oracle computes the
    * naive full-sort cumulative form; equality proves the block-exact
    * driver math right.
    */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame =
    graft.operators.Vocab.coverage(
        t(s, dir, "documents")
          .select(col("doc_id").as("id"), TextFunctions.tokens(col("text")).as("toks")))
      .orderBy("coverage_target")

  val vocabCoverageSql: String =
    s"""WITH d AS (SELECT doc_id, $toksD AS toks FROM documents),
       |tf AS (SELECT t AS tok, count(*) AS f
       |       FROM (SELECT unnest(toks) AS t FROM d) GROUP BY 1),
       |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total,
       |               CAST(count(*) AS BIGINT) AS vocab FROM tf),
       |r AS (SELECT f,
       |        CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT) AS rnk,
       |        CAST(sum(f) OVER (ORDER BY f DESC, tok
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |      FROM tf),
       |targets AS (SELECT unnest([0.5, 0.9, 0.95, 0.99]) AS coverage_target),
       |need AS (SELECT coverage_target,
       |           CAST(ceil(coverage_target * tot.total) AS BIGINT) AS need,
       |           tot.vocab, tot.total
       |         FROM targets CROSS JOIN tot)
       |SELECT n.coverage_target, CAST(min(r.rnk) AS BIGINT) AS vocab_needed,
       |       n.vocab AS vocab_size, n.total AS tokens_total
       |FROM need n JOIN r ON r.cum >= n.need
       |GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin

  /** Curation pipeline v5 — the trained-filter form of the selection
    * pipeline (the GPT-3/LLaMA recipe): train the quality classifier on
    * the trusted slice, gate the corpus at p ≥ 0.5, then fill per-language
    * token budgets preferring higher classifier score. The oracle replays
    * training (both rounds), the sigmoid gate, and the greedy fill.
    */
  def pipelineCurate5(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("lang"),
        when(col("source") === "src0", 1).otherwise(0).as("label"),
        TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("tokens", size(col("toks")).cast("long"))
      .localCheckpoint()
    val feats = graft.operators.QualityClassifier.features(base, 64).localCheckpoint()
    val model = graft.operators.QualityClassifier.train(feats, 64, iters = 2)
    val scored = graft.operators.QualityClassifier.score(feats, model)
      .localCheckpoint()
    // gate: classifier margin at or above the corpus mean — an exact
    // integer comparison (margin·N ≥ Σ margins), robust to class prior
    // where an absolute p-cutoff is not (2-round underfit models sit
    // entirely on one side of 0.5)
    val Array(totalMargin, cnt) = scored
      .agg(coalesce(sum("margin_micro"), lit(0L)), count(lit(1)))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val gated = scored
      .filter(col("margin_micro") * cnt >= totalMargin)
      .join(base.select("id", "lang", "tokens"), "id")
      .select(col("id"), col("lang").as("group"),
        round(col("p"), 2).as("quality"), col("tokens"))
    graft.operators.Mixture.tokenBudgetFill(gated, budget = 1500L)
      .select(col("group").as("lang"), col("id").as("doc_id"),
        col("quality"), col("tokens"))
      .orderBy("lang", "doc_id")
  }

  val pipelineCurate5Sql: String =
    s"""WITH $clfTrainCtes,
       |tot AS (SELECT CAST(sum(margin_micro) AS BIGINT) AS t,
       |               CAST(count(*) AS BIGINT) AS c FROM m2),
       |gated AS (SELECT d.id, d.lang,
       |            round(1.0 / (1.0 + exp(-m2.margin_micro / 1e6)), 2) AS quality,
       |            d.tokens
       |          FROM m2 JOIN d USING (id) CROSS JOIN tot
       |          WHERE m2.margin_micro * tot.c >= tot.t),
       |c AS (SELECT lang, id, quality, tokens,
       |        CAST(sum(tokens) OVER (PARTITION BY lang
       |          ORDER BY quality DESC, id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |      FROM gated)
       |SELECT lang, id AS doc_id, quality, tokens FROM c WHERE cum <= 1500
       |ORDER BY lang, doc_id""".stripMargin

  /** Fixed-size deterministic sample (Sampling.fixedSize): exactly 50
    * lowest-hash documents — the eval-set carve a fraction gate can't
    * express; compiles to TakeOrderedAndProject.
    */
  def sampleFixed(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.fixedSize(
        t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id", 50)
      .orderBy("doc_id")

  val sampleFixedSql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang FROM documents
      |  ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
      |           CAST(doc_id AS VARCHAR)
      |  LIMIT 50)
      |ORDER BY doc_id""".stripMargin

  /** Per-group fixed-size sample (Sampling.fixedSizePerGroup): 5 lowest-
    * hash documents per language — the per-stratum eval carve.
    */
  def sampleFixedGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.fixedSizePerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", 5)
      .orderBy("lang", "doc_id")

  val sampleFixedGroupSql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
      |             CAST(doc_id AS VARCHAR)) AS rn
      |  FROM documents)
      |WHERE rn <= 5 ORDER BY lang, doc_id""".stripMargin

  /** Canonical text normalization (TextFunctions.normalizeText) over
    * synthesized messy content (tabs, control chars, case, runs of
    * spaces) so every rule fires with corpus variety.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("  MiXeD\tCase\u0001ctrl  "), substring(col("text"), 1, 40),
          lit("   tail\u007F  ")).as("raw"))
      .select(col("doc_id"),
        TextFunctions.normalizeText(col("raw")).as("normalized"))
      .orderBy("doc_id")

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(
      |    lower('  MiXeD' || chr(9) || 'Case' || chr(1) || 'ctrl  ' ||
      |          substr(text, 1, 40) || '   tail' || chr(127) || '  '),
      |    '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS normalized
      |FROM documents ORDER BY doc_id""".stripMargin

  /** NFC normalization: composed ("é") and decomposed ("e"+combining
    * acute) spellings of the same word must unify byte-identically in
    * both engines; n_chars drops to the composed count, proving real
    * composition (a pass-through would differ in length AND bytes).
    */
  def textNormalizeNfc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 40),
          lit(" caf\u00e9 cafe\u0301 \u00e9e\u0301\u00e9 ")).as("raw"))
      .select(col("doc_id"),
        TextFunctions.normalizeTextNfc(col("raw")).as("normalized"))
      .select(col("doc_id"), col("normalized"),
        length(col("normalized")).as("n_chars"))
      .orderBy("doc_id")

  val textNormalizeNfcSql: String =
    """WITH n AS (SELECT doc_id,
      |  nfc_normalize(trim(regexp_replace(regexp_replace(
      |    lower(substr(text, 1, 40) ||
      |          ' caf' || chr(233) || ' cafe' || chr(769) || ' ' ||
      |          chr(233) || 'e' || chr(769) || chr(233) || ' '),
      |    '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS normalized
      |  FROM documents)
      |SELECT doc_id, normalized, length(normalized) AS n_chars
      |FROM n ORDER BY doc_id""".stripMargin

  val graded: Seq[Graded] = Seq(
    Graded("q_sample_fixed", sampleFixed, sampleFixedSql,
      "fixed-size sample: hash order + TakeOrderedAndProject heap"),
    Graded("q_sample_fixed_group", sampleFixedGroup, sampleFixedGroupSql,
      "per-group fixed sample: group-keyed bounded window (WindowGroupLimit)"),
    Graded("q_text_normalize", textNormalize, textNormalizeSql,
      "normalization: control-char/whitespace canon in a single narrow projection"),
    Graded("q_text_normalize_nfc", textNormalizeNfc, textNormalizeNfcSql,
      "NFC normalization: per-row canonical composition, zero shuffle"),
    Graded("q_pipeline_curate5", pipelineCurate5, pipelineCurate5Sql,
      "curation v5: train classifier on the trusted slice -> gate at p>=0.5 -> per-lang fill, composed"),
    Graded("q_vocab_coverage", vocabCoverage, vocabCoverageSql,
      "vocab coverage: count-of-counts agg + block-exact cumulative mass — no full sort"),
    Graded("q_quality_classifier", qualityClassifier, qualityClassifierSql,
      "trained quality filter: literal weight array, narrow scoring pass, integer-exact gradient sums"),
    Graded("q_classifier_calibration", classifierCalibration, classifierCalibrationSql,
      "calibration: trained margins -> literal bin edges -> 10-key agg"),
    Graded("q_classifier_pr", classifierPr, classifierPrSql,
      "PR curve: distinct-margin agg + bucket-sliced prefix sums, window PARTITIONED by bucket (no global sort)"),
    Graded("q_corpus_profile", corpusProfile, corpusProfileSql,
      "corpus profile: ONE combiner-collapsed aggregate over pruned columns"),
    Graded("q_pipeline_curate4", pipelineCurate4, pipelineCurate4Sql,
      "curation v4: length gate -> DSIR selection -> sequence packing, one plan"),
    Graded("q_dsir_select", dsirSelect, dsirSelectSql,
      "DSIR: hashed n-gram bucket importance weights, per-row micro-nat score + Gumbel top-k heap"),
    Graded("q_pack_offsets", packOffsetsQ, packOffsetsSql,
      "sequence packing: bucket-sliced distributed prefix sum, ONE corpus shuffle"),
    Graded("q_pack_manifest", packManifestQ, packManifestSql,
      "packing manifest: window->doc slice join frame, output window-sized"),
    Graded("q_text_perplexity", textPerplexity, textPerplexitySql,
      "CCNet bigram LM: reference-slice model frame joined onto doc bigrams, micro-nat integer sums"),
    Graded("q_text_perplexity_kn", textPerplexityKn, textPerplexityKnSql,
      "Kneser-Ney LM: checkpointed type table feeds context/continuation legs, keyed joins"),
    Graded("q_mixture_temperature", mixtureTemperature, mixtureTemperatureSql,
      "temperature mixture: source-count agg + 1-row total broadcast, integer micro-weight split"),
    Graded("q_mixture_budget", mixtureBudget, mixtureBudgetSql,
      "token-budget fill: bin aggregate + tiny window, boundary fill as range-sliced prefix sum"),
    Graded("q_export_shards", exportShardsQ, exportShardsSql,
      "export sharding: hash-derived shard, per-shard bounded row_number"),
    Graded("q_pipeline_curate3", pipelineCurate3, pipelineCurate3Sql,
      "curation v3: quality -> per-lang token-budget fill -> shard layout, ONE composed plan"),
    Graded("q_domain_cap", domainCap, domainCapSql,
      "per-source token cap: source-keyed running-sum window in (hash, doc) order, one exchange"),
    Graded("q_text_boilerplate_strip", textBoilerplateStrip, textBoilerplateStripSql,
      "boilerplate strip: corpus-frequent 3-gram spans cut via df-frame probe, docs rebuilt"),
    Graded("q_pipeline_curate2", pipelineCurate2, pipelineCurate2Sql,
      "curation v2: repetition + boilerplate gates -> dedup -> rollup, keyed only"),
    Graded("q_text_repetition", textRepetition, textRepetitionSql,
      "repetition gates: dup-line/paragraph + top-ngram shares per row, keyed only by doc"),
    Graded("q_text_boilerplate", textBoilerplate, textBoilerplateSql,
      "boilerplate coverage: combiner-collapsed df + semi-join probe"),
    Graded("q_text_percentiles", textPercentiles, textPercentilesSql,
      "length percentiles: exact percentile agg over one exchange"),
    Graded("q_mm_similarity", mmSimilarity, mmSimilaritySql,
      "media similarity: decode -> per-partition feature extraction -> exact cosine top-k, narrow until the heap"),
    Graded("q_mm_similarity_real", mmSimilarityReal, mmSimilarityRealSql,
      "real-fixture media similarity: the same plan over decoded pixels"),
    Graded("q_pipeline_curate", pipelineCurate, pipelineCurateSql,
      "curation pipeline: quality -> langid -> dedup -> sample in one plan"),
    Graded("q_sample_stratified", sampleStratified, sampleStratifiedSql,
      "stratified sample: per-language hash-gate rates in one narrow filter pass"),
    Graded("q_decontaminate", decontaminate, decontaminateSql,
      "decontamination: eval-slice 3-gram frame probes train shingles at containment >= 0.05; leak rows output-sized"),
    Graded("q_text_langid", textLangid, textLangidSql,
      "language ID: native trigram profile scores vs broadcast profiles, per-row argmax"),
    Graded("q_text_quality", textQuality, textQualitySql,
      "quality scoring: length/punct/stopword ratios in ONE native stats pass"),
    Graded("q_text_tokens", textTokens, textTokensSql,
      "token counting: whitespace + BPE-ish regex in a narrow projection"),
    Graded("q_text_fingerprint", textFingerprint, textFingerprintSql,
      "rolling polynomial fingerprint: order-sensitive per-row fold, narrow"),
    Graded("q_bpe_train", bpeTrain, bpeTrainSql,
      "BPE training: per-round pair-count keyed agg + broadcast merge application; state stays vocab-sized"),
    Graded("q_bpe_segment", bpeSegment, bpeSegmentSql,
      "BPE segmentation: broadcast merge ranks, per-row fold — zero shuffle"),
    Graded("q_dedup_paragraph", textParagraphDedup, textParagraphDedupSql,
      "paragraph dedup: paragraph explode -> hash-keyed first-occurrence, docs rebuilt by position"),
    Graded("q_pipeline_curate6", pipelineCurate6, pipelineCurate6Sql,
      "curation v6: paragraph dedup feeds the quality scorer over CLEANED text, composed"),
    Graded("q_pipeline_curate7", pipelineCurate7, pipelineCurate7Sql,
      "curation v7: gopher gate -> langid -> KN terciles -> fill, ONE composed plan"),
    Graded("q_mm_decode", mmDecode, mmDecodeSql,
      "multimodal decode: opaque binary -> typed metadata in a per-partition narrow map"),
    Graded("q_mm_decode_image", mmDecodeImage, mmDecodeImageSql,
      "image decode (PNG/JPEG/GIF/BMP/TIFF): pure-JVM per-partition map, no shuffle"),
    Graded("q_mm_resize_real", mmResizeReal, mmResizeRealSql,
      "real-fixture resize: box-filter means with an exact integer oracle"),
    Graded("q_mm_decode_audio", mmDecodeAudio, mmDecodeAudioSql,
      "WAV PCM decode: header + frame stats per row, narrow"),
    Graded("q_mm_decode_flac", mmDecodeFlac, mmDecodeFlacSql,
      "FLAC decode: pure-JVM lossless decompress (Rice + LPC) in a per-partition narrow map"),
    Graded("q_mm_decode_g711", mmDecodeG711, mmDecodeG711Sql,
      "G.711 mu/A-law decode: table-driven expansion per row, narrow"),
    Graded("q_mm_decode_adpcm", mmDecodeAdpcm, mmDecodeAdpcmSql,
      "IMA ADPCM decode: per-row predictor replay, narrow — output metadata-sized"),
    Graded("q_mm_decode_formats", mmDecodeFormats, mmDecodeFormatsSql,
      "format router: magic-byte dispatch to the right pure-JVM decoder in one pass"),
    Graded("q_mm_decode_video", mmDecodeVideo, mmDecodeVideoSql,
      "MJPEG-AVI probe: container parse + frame index per row, narrow"),
    Graded("q_mm_frames", mmFrames, mmFramesSql,
      "frame sampling: per-row frame-index slice, output frames-sized"),
    Graded("q_mm_resize", mmResize, mmResizeSql,
      "resize plumbing: deterministic box filter over decoded pixels, per-partition batches"))
}
