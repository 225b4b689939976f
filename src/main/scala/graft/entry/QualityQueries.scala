package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.t
import graft.ann.Ann
import graft.dedup.{CorpusFilters, Dedup}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.HeavyHitters
import Fixtures._

/** Oracle-checked queries for the round-7 quality/evaluation additions:
  * the C4 cleaning gate, Flesch readability, sketch-routed heavy-hitter
  * terms, cross-corpus near-dup join, ANN recall evaluation, and the
  * k-means cluster-balance report. Every oracle is a full DuckDB replay
  * over the raw tables.
  */
object QualityQueries {

  // ---- C4 cleaning gate (Raffel 2020 §2.2). The synthetic corpus has no
  //      newlines or punctuation, so BOTH sides replay a deterministic
  //      structure synthesis first (the q_dedup_paragraph precedent):
  //      4-token lines, terminal punctuation on lines 0,2 mod 3 (none on
  //      1 mod 3 — those lines get dropped), a code brace appended for
  //      doc_id % 7 == 0 and a "lorem ipsum" line for doc_id % 11 == 0,
  //      so every rule (line punctuation, line word count, sentence
  //      count, brace, lorem) has live signal. ----
  def filterC4(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nChunks = greatest(ceil(size(toks) / 4.0).cast("int"), lit(1))
    val lines = transform(sequence(lit(0), nChunks - 1), i =>
      concat(array_join(slice(toks, i * 4 + 1, lit(4)), " "),
        when(i % 3 === 0, lit(".")).when(i % 3 === 1, lit("")).otherwise(lit("!"))))
    val synth = concat(array_join(lines, "\n"),
      when(col("doc_id") % 7 === 0, lit(" {")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit("\nlorem ipsum has five words."))
        .otherwise(lit("")))
    // localCheckpoint: the synthesis chain is a lambda HOF (no CSE) that
    // three downstream consumers (line stats, lorem flag, brace flag)
    // would each re-inline; the checkpoint makes the bench measure the
    // operator, not the test scaffolding (production inputs arrive as
    // real text)
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), synth.as("content")).localCheckpoint()
    CorpusFilters.c4Rules(docs, minLineWords = 4, minSentences = 8)
      .withColumn("kept_frac", round(col("kept_frac"), 6))
      .orderBy("id")
  }

  val filterC4Sql: String =
    s"""WITH d0 AS (SELECT doc_id, $toksD AS toks FROM documents),
       |synth AS (SELECT doc_id,
       |    array_to_string(list_transform(
       |      range(greatest(CAST(ceil(len(toks) / 4.0) AS INT), 1)),
       |      i -> array_to_string(toks[i*4+1:i*4+4], ' ') ||
       |           CASE WHEN i % 3 = 0 THEN '.' WHEN i % 3 = 1 THEN '' ELSE '!' END),
       |      chr(10))
       |    || CASE WHEN doc_id % 7 = 0 THEN ' {' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'lorem ipsum has five words.' ELSE '' END
       |    AS text
       |  FROM d0),
       |m AS (SELECT doc_id AS id, text,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |      l -> length(l) > 0) AS lines
       |  FROM synth),
       |k AS (SELECT id, text, lines,
       |    list_filter(lines, l -> regexp_matches(l, '[.!?"]$$')
       |      AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> length(w) > 0)) >= 4)
       |      AS kept
       |  FROM m),
       |c AS (SELECT id,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(len(kept) AS BIGINT) AS n_kept,
       |    array_to_string(kept, chr(10)) AS cleaned,
       |    contains(lower(text), 'lorem ipsum') AS has_lorem,
       |    contains(text, '{') AS has_brace
       |  FROM k)
       |SELECT id, n_lines, n_kept,
       |  round(CASE WHEN n_lines = 0 THEN 0.0 ELSE n_kept * 1.0 / n_lines END, 6) AS kept_frac,
       |  CAST(len(regexp_extract_all(cleaned, '[.!?]+', 0)) AS BIGINT) AS n_sentences,
       |  has_lorem, has_brace,
       |  len(regexp_extract_all(cleaned, '[.!?]+', 0)) >= 8
       |    AND NOT has_lorem AND NOT has_brace AS keep,
       |  cleaned
       |FROM c ORDER BY id""".stripMargin

  // ---- Flesch readability: deterministic syllable heuristic (vowel-group
  //      runs, min 1 per token); the raw corpus has no sentence
  //      punctuation so every doc counts as one sentence (the guard path)
  //      and words-per-sentence carries the length signal. ----
  def textReadability(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text").as("content"))
    CorpusFilters.readability(docs).orderBy("id")
  }

  val textReadabilitySql: String =
    s"""WITH d AS (SELECT doc_id AS id, text, $toksD AS toks FROM documents),
       |s AS (SELECT id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks,
       |        w -> greatest(CAST(len(regexp_extract_all(w, '[aeiouy]+', 0)) AS BIGINT),
       |                      CAST(1 AS BIGINT)))),
       |      (a, b) -> a + b) AS BIGINT) AS n_syllables,
       |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+', 0)), 1) AS BIGINT)
       |      AS n_sentences
       |  FROM d)
       |SELECT id, n_words, n_syllables, n_sentences,
       |  CASE WHEN n_words = 0 THEN 0.0
       |       ELSE round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       |                  - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
       |  END AS flesch,
       |  CASE WHEN n_words = 0 THEN 0.0
       |       ELSE round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       |                  + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       |                  - 15.59, 6)
       |  END AS fk_grade
       |FROM s ORDER BY id""".stripMargin

  // ---- sketch-routed heavy hitters: Misra–Gries candidates + exact
  //      recount. The oracle is the exact full groupBy top-k — equality
  //      proves the sketch route loses nothing (capacity exceeds the
  //      vocabulary here, so candidate coverage is total; the eviction
  //      regime is spec-proven on skewed synthetic data). ----
  def termsTopK(s: SparkSession, dir: String): DataFrame = {
    val toksDf = t(s, dir, "documents")
      .select(col("doc_id").as("id"), TextFunctions.tokens(col("text")).as("toks"))
    HeavyHitters.topKTerms(toksDf, k = 20, capacity = 65536)
  }

  val termsTopKSql: String =
    s"""WITH f AS (SELECT unnest($toksD) AS term FROM documents),
       |c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1),
       |r AS (SELECT term, n, row_number() OVER (ORDER BY n DESC, term ASC) AS rank FROM c)
       |SELECT CAST(rank AS INT) AS rank, term, n FROM r WHERE rank <= 20
       |ORDER BY rank""".stripMargin

  // ---- lexical diversity: per-doc type-token ratio + hapax fraction
  //      (vocabulary-richness quality cues). Ratios divide exact integer
  //      counts, so both sides compute identical doubles. ----
  def textDiversity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text").as("content"))
    CorpusFilters.lexicalDiversity(docs)
      .withColumn("ttr", round(col("ttr"), 6))
      .withColumn("hapax_frac", round(col("hapax_frac"), 6))
      .orderBy("id")
  }

  val textDiversitySql: String =
    s"""WITH d AS (SELECT doc_id AS id, $toksD AS toks FROM documents),
       |tf AS (SELECT id, term, count(*) AS tf FROM (
       |         SELECT id, unnest(toks) AS term FROM d) GROUP BY 1, 2),
       |a AS (SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |             CAST(count(*) AS BIGINT) AS n_types,
       |             CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
       |      FROM tf GROUP BY 1)
       |SELECT d.id, coalesce(a.n_tokens, 0) AS n_tokens,
       |       coalesce(a.n_types, 0) AS n_types,
       |       coalesce(a.n_hapax, 0) AS n_hapax,
       |       round(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
       |             ELSE CAST(a.n_types AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) END, 6) AS ttr,
       |       round(CASE WHEN coalesce(a.n_types, 0) = 0 THEN 0.0
       |             ELSE CAST(a.n_hapax AS DOUBLE) / CAST(a.n_types AS DOUBLE) END, 6) AS hapax_frac
       |FROM d LEFT JOIN a USING (id) ORDER BY d.id""".stripMargin

  // ---- Zipf fit over the exact top-30 term counts: micro-nat-quantized
  //      least squares — every sum is an exact BIGINT on both sides, so
  //      the closed-form slope/intercept are bit-identical doubles. ----
  def termsZipf(s: SparkSession, dir: String): DataFrame = {
    val toksDf = t(s, dir, "documents")
      .select(col("doc_id").as("id"), TextFunctions.tokens(col("text")).as("toks"))
    HeavyHitters.zipfFit(toksDf, k = 30, capacity = 65536)
  }

  val termsZipfSql: String =
    s"""WITH f AS (SELECT unnest($toksD) AS term FROM documents),
       |c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1),
       |r AS (SELECT term, n, row_number() OVER (ORDER BY n DESC, term ASC) AS rank FROM c
       |      QUALIFY rank <= 30),
       |p AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
       |             CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y
       |      FROM r),
       |sums AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |                CAST(sum(x * x) AS BIGINT) AS sxx,
       |                CAST(sum(x * y) AS BIGINT) AS sxy
       |         FROM p),
       |fit AS (SELECT k,
       |          CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE) AS slope,
       |          sx, sy
       |        FROM sums)
       |SELECT k, round(slope, 6) AS slope,
       |       round((CAST(sy AS DOUBLE) / k - slope * (CAST(sx AS DOUBLE) / k)) / 1000000.0, 6)
       |         AS intercept
       |FROM fit""".stripMargin

  // ---- cross-corpus near-dup join: even doc_ids play the reference
  //      corpus, odd the incoming batch. Oracle = exact bipartite
  //      Jaccard via the inverted index (recall argument identical to
  //      q_dedup_minhash). ----
  def dedupAcross(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"), col("text").as("content"))
    Dedup.minHashNearDupsAcross(
        base.filter(col("id") % 2 === 0), base.filter(col("id") % 2 === 1),
        threshold = 0.6)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("a", "b")
  }

  val dedupAcrossSql: String =
    s"""WITH $shingleCte,
      |f AS (SELECT id, unnest(sh) AS s FROM sh),
      |sizes AS (SELECT id, len(sh) AS l FROM sh),
      |co AS (SELECT x.id AS a, y.id AS b, count(*) AS inter
      |       FROM f x JOIN f y ON x.s = y.s AND x.id % 2 = 0 AND y.id % 2 = 1
      |       GROUP BY x.id, y.id)
      |SELECT co.a, co.b,
      |  round(CAST(inter AS DOUBLE) / (sa.l + sb.l - inter), 6) AS jaccard
      |FROM co JOIN sizes sa ON co.a = sa.id JOIN sizes sb ON co.b = sb.id
      |WHERE CAST(inter AS DOUBLE) / (sa.l + sb.l - inter) >= 0.6
      |ORDER BY co.a, co.b""".stripMargin

  // ---- per-document novelty vs a reference corpus: fraction of the
  //      incoming (odd-id) documents' distinct 3-gram shingles absent
  //      from the reference (even-id) corpus — the "how much of this
  //      crawl is new text" report. ----
  def textNovelty(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id").as("id"), col("text").as("content"))
    Dedup.noveltyScore(base.filter(col("id") % 2 === 1), base.filter(col("id") % 2 === 0))
      .withColumn("novelty", round(col("novelty"), 6))
      .orderBy("id")
  }

  val textNoveltySql: String =
    s"""WITH $shingleCte,
      |ref AS (SELECT DISTINCT unnest(sh) AS sg FROM sh WHERE id % 2 = 0),
      |d AS (SELECT id, unnest(sh) AS sg FROM sh WHERE id % 2 = 1),
      |tot AS (SELECT id, CAST(count(*) AS BIGINT) AS n_shingles FROM d GROUP BY 1),
      |seen AS (SELECT id, CAST(count(*) AS BIGINT) AS n_seen
      |         FROM d JOIN ref USING (sg) GROUP BY id)
      |SELECT t.id, t.n_shingles,
      |  t.n_shingles - coalesce(s.n_seen, 0) AS n_novel,
      |  round((t.n_shingles - coalesce(s.n_seen, 0)) * 1.0 / t.n_shingles, 6) AS novelty
      |FROM tot t LEFT JOIN seen s USING (id) ORDER BY t.id""".stripMargin

  // ---- ANN recall evaluation: recall@10 of the nprobe=2 IVF route
  //      against the exact brute-force ground truth — the index-quality
  //      report an ANN deployment is judged by. Both legs replay in
  //      DuckDB (the q_semantic_topk and q_ann_ivf fragments), so the
  //      recall arithmetic is fully oracle-checked. ----
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val cents = Ann.representativeCentroids(vecs, "label").cache()
    val assigned = Ann.assign(vecs, cents).cache()
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    val truth = Ann.bruteTopK(vecs, qs, 10).select("query_idx", "id")
    val approx = Ann.ivfTopK(assigned, cents, qs, k = 10, nprobe = 2)
      .select("query_idx", "id")
    recallByQuery(truth, approx)
      .select(col("query_idx"), col("n_hits"), col("recall"))
      .orderBy("query_idx")
  }

  val annRecallSql: String =
    s"""WITH e AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2)),
      |bs AS (SELECT q.qid AS query_idx, e.id,
      |              list_cosine_similarity(e.v, q.qv) AS sc
      |       FROM q CROSS JOIN e),
      |truth AS (SELECT query_idx, id FROM (
      |            SELECT query_idx, id,
      |                   row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |            FROM bs) WHERE rn <= 10),
      |${ivfAssignCtes(renameInner = false)},
      |probes AS (
      |  SELECT qid, centroid_id FROM (
      |    SELECT q.qid, cent.centroid_id,
      |           row_number() OVER (PARTITION BY q.qid
      |             ORDER BY 1.0 - list_cosine_similarity(q.qv, cent.c), cent.centroid_id) AS rn
      |    FROM q CROSS JOIN cent)
      |  WHERE rn <= 2),
      |scored AS (
      |  SELECT q.qid AS query_idx, a.id, list_cosine_similarity(a.v, q.qv) AS sc
      |  FROM q JOIN probes p ON p.qid = q.qid
      |  JOIN assign a ON a.cluster_id = p.centroid_id),
      |approx AS (SELECT query_idx, id FROM (
      |             SELECT query_idx, id,
      |                    row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |             FROM scored) WHERE rn <= 10),
      |hits AS (SELECT t.query_idx, CAST(count(*) AS BIGINT) AS n_hits
      |         FROM truth t JOIN approx x ON t.query_idx = x.query_idx AND t.id = x.id
      |         GROUP BY t.query_idx),
      |keff AS (SELECT query_idx, CAST(count(*) AS BIGINT) AS k_eff FROM truth GROUP BY 1)
      |SELECT k.query_idx, coalesce(h.n_hits, 0) AS n_hits,
      |       round(coalesce(h.n_hits, 0) * 1.0 / k.k_eff, 6) AS recall
      |FROM keff k LEFT JOIN hits h ON k.query_idx = h.query_idx
      |ORDER BY k.query_idx""".stripMargin

  // ---- curation pipeline v8 — the round-7 web-crawl composition: C4
  //      line cleaning (on the synthesized structure) → cross-corpus
  //      NOVELTY of the incoming (odd-id) half against the reference
  //      (even-id) half, both post-cleaning → keep docs at least half
  //      novel → per-language rollup (doc count, token mass, micro-exact
  //      mean novelty). One composed plan; the oracle replays synthesis,
  //      every C4 rule, the shingle novelty join, the gate, and the
  //      rollup. ----
  def pipelineCurate8(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nChunks = greatest(ceil(size(toks) / 4.0).cast("int"), lit(1))
    val lines = transform(sequence(lit(0), nChunks - 1), i =>
      concat(array_join(slice(toks, i * 4 + 1, lit(4)), " "),
        when(i % 3 === 0, lit(".")).when(i % 3 === 1, lit("")).otherwise(lit("!"))))
    val synth = concat(array_join(lines, "\n"),
      when(col("doc_id") % 7 === 0, lit(" {")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit("\nlorem ipsum has five words."))
        .otherwise(lit("")))
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("lang"), synth.as("content")).localCheckpoint()
    val c4 = CorpusFilters.c4Rules(docs, minLineWords = 4, minSentences = 8)
      .filter(col("keep")).select(col("id"), col("cleaned").as("content"))
      .localCheckpoint() // both novelty sides + the token join reuse it
    val inc = c4.filter(col("id") % 2 === 1)
    val nov = Dedup.noveltyScore(inc, c4.filter(col("id") % 2 === 0))
    nov.filter(col("novelty") >= 0.5)
      .join(docs.select(col("id"), col("lang")), "id")
      .join(inc.select(col("id"),
        size(TextFunctions.tokens(col("content"))).cast("long").as("n_tok")), "id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        sum(round(col("novelty") * 1e6, 0).cast("long")).as("sum_novelty_micro"))
      .select(col("lang"), col("n_docs"), col("sum_tokens"),
        round(col("sum_novelty_micro").cast("double") / 1e6 /
          col("n_docs").cast("double"), 6).as("mean_novelty"))
      .orderBy("lang")
  }

  val pipelineCurate8Sql: String =
    s"""WITH d0 AS (SELECT doc_id, lang, $toksD AS toks FROM documents),
       |synth AS (SELECT doc_id, lang,
       |    array_to_string(list_transform(
       |      range(greatest(CAST(ceil(len(toks) / 4.0) AS INT), 1)),
       |      i -> array_to_string(toks[i*4+1:i*4+4], ' ') ||
       |           CASE WHEN i % 3 = 0 THEN '.' WHEN i % 3 = 1 THEN '' ELSE '!' END),
       |      chr(10))
       |    || CASE WHEN doc_id % 7 = 0 THEN ' {' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'lorem ipsum has five words.' ELSE '' END
       |    AS text
       |  FROM d0),
       |m AS (SELECT doc_id AS id, lang, text,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |      l -> length(l) > 0) AS lines
       |  FROM synth),
       |k AS (SELECT id, lang, text,
       |    list_filter(lines, l -> regexp_matches(l, '[.!?"]$$')
       |      AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> length(w) > 0)) >= 4)
       |      AS kept
       |  FROM m),
       |c AS (SELECT id, lang, array_to_string(kept, chr(10)) AS cleaned,
       |    contains(lower(text), 'lorem ipsum') AS has_lorem,
       |    contains(text, '{') AS has_brace
       |  FROM k),
       |cf AS (SELECT id, lang, cleaned FROM c
       |  WHERE len(regexp_extract_all(cleaned, '[.!?]+', 0)) >= 8
       |    AND NOT has_lorem AND NOT has_brace),
       |tk AS (SELECT id, lang, regexp_extract_all(lower(cleaned), '[a-z0-9_]{2,}') AS w
       |  FROM cf),
       |ss AS (SELECT id, lang, CAST(len(w) AS BIGINT) AS n_tok,
       |    list_distinct(list_transform(range(len(w) - 2),
       |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
       |  FROM tk WHERE len(w) >= 3),
       |ref AS (SELECT DISTINCT unnest(sh) AS sg FROM ss WHERE id % 2 = 0),
       |dd AS (SELECT id, unnest(sh) AS sg FROM ss WHERE id % 2 = 1),
       |tot AS (SELECT id, CAST(count(*) AS BIGINT) AS n_shingles FROM dd GROUP BY 1),
       |seen AS (SELECT id, CAST(count(*) AS BIGINT) AS n_seen
       |         FROM dd JOIN ref USING (sg) GROUP BY id),
       |nov AS (SELECT t.id,
       |          (t.n_shingles - coalesce(s.n_seen, 0)) * 1.0 / t.n_shingles AS novelty
       |        FROM tot t LEFT JOIN seen s USING (id)),
       |sel AS (SELECT n.id, n.novelty, ss.lang, ss.n_tok
       |        FROM nov n JOIN ss ON n.id = ss.id WHERE n.novelty >= 0.5)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       |  round(CAST(sum(CAST(round(novelty * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
       |        / 1000000.0 / CAST(count(*) AS DOUBLE), 6) AS mean_novelty
       |FROM sel GROUP BY lang ORDER BY lang""".stripMargin

  // ---- curation pipeline v9 — the skew-AWARE rollup: the q_skew_report
  //      diagnosis wired into a pipeline. Quality gate (token-count
  //      bounds) → per-language rollup, where languages holding >30% of
  //      the gated corpus (the report's hot-key rule; 'en' on this
  //      corpus) route through SkewTools.saltedAgg's two-phase
  //      (key, salt) aggregation and every other language takes the
  //      plain keyed agg — the salted plan engages ONLY on diagnosed-hot
  //      keys. Salting is oracle-PROVEN exact (q_skew_salted_agg), so
  //      the oracle is the plain GROUP BY: identical rows no matter
  //      which branch a key took. The diagnosis pass is one cheap keyed
  //      count + a driver-side threshold on its (|langs|-row) result. ----
  def pipelineCurate9(s: SparkSession, dir: String): DataFrame = {
    val gated = t(s, dir, "documents")
      .select(col("lang"), col("n_chars"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok").between(20, 2000))
      .localCheckpoint() // diagnosis + both rollup branches read it
    val counts = gated.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = counts.map(_._2).sum
    val hot = counts.collect { case (k, n) if n * 10L > total * 3L => k }.toSeq
    val aggs = Map("n_tok" -> "sum", "n_chars" -> "sum", "one" -> "count")
    val withOne = gated.withColumn("one", lit(1L))
    val hotAgg = graft.functions.SkewTools.saltedAgg(
      withOne.filter(col("lang").isin(hot: _*)), Seq("lang"), aggs, salts = 16)
    val coldAgg = withOne.filter(!col("lang").isin(hot: _*))
      .groupBy("lang")
      .agg(sum(col("n_tok")).as("n_tok"), sum(col("n_chars")).as("n_chars"),
        count(col("one")).as("one"))
    hotAgg.unionByName(coldAgg)
      .select(col("lang"), col("one").as("n_docs"), col("n_tok").as("sum_tokens"),
        expr("(n_chars * 1000000L) div one").as("mean_chars_micro"))
      .orderBy("lang")
  }

  val pipelineCurate9Sql: String =
    s"""WITH d AS (SELECT lang, n_chars, CAST(len($toksD) AS BIGINT) AS n_tok
       |           FROM documents),
       |g AS (SELECT * FROM d WHERE n_tok BETWEEN 20 AND 2000)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       |       (CAST(sum(n_chars) AS BIGINT) * 1000000) // count(*) AS mean_chars_micro
       |FROM g GROUP BY lang ORDER BY lang""".stripMargin

  // ---- per-dimension embedding statistics (operators.Profile
  //      .embeddingStats — integer-exact micro quantization, shared
  //      floor-division form; see the operator scaladoc). ----
  def embedStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.embeddingStats(Tables.vectors(s, dir))
      .orderBy("dim")

  private val embedStatsSql: String =
    """WITH q AS (
      |  SELECT i AS dim,
      |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
      |  FROM embeddings, UNNEST(range(len(embedding))) AS u(i)),
      |a AS (SELECT dim, count(*) AS n, min(q) AS min_micro, max(q) AS max_micro,
      |        CAST(sum(q) AS BIGINT) AS sum_q,
      |        CAST(sum(q * q) AS BIGINT) AS sum_q2
      |      FROM q GROUP BY dim)
      |SELECT dim, n, min_micro, max_micro,
      |  CAST(floor(CAST(sum_q AS DOUBLE) / n) AS BIGINT) AS mean_micro,
      |  CAST(floor(CAST(sum_q2 AS DOUBLE) / n) AS BIGINT)
      |    - CAST(floor(CAST(sum_q AS DOUBLE) / n) AS BIGINT)
      |      * CAST(floor(CAST(sum_q AS DOUBLE) / n) AS BIGINT) AS var_micro2
      |FROM a ORDER BY dim""".stripMargin

  // ---- Matryoshka-style dimension-truncation sweep: recall@10 of
  //      prefix-truncated cosine search (dims 8/16/32/64) against the
  //      full-dimension exact top-10 — prices how many leading
  //      dimensions a cheap first-pass index needs before the exact
  //      re-rank. Pure composition: four truncated bruteTopK legs in one
  //      union plan against one checkpointed ground-truth leg. ----
  def annDimSweep(s: SparkSession, dir: String): DataFrame = {
    val full = Tables.vectors(s, dir)
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    val truth = Ann.bruteTopK(full, qs, 10).select(col("query_idx"), col("id"))
      .localCheckpoint() // 4 sweep legs join it; the full scan runs once
    val legs = Seq(8, 16, 32, 64).map { d =>
      val tv = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), slice(col("embedding"), 1, d).as("embedding"))
        .withColumn("norm", VectorFunctions.l2Norm(col("embedding")))
      val qd = qs.map { case (i, v) => (i, v.take(d)) }
      Ann.bruteTopK(tv, qd, 10)
        .select(lit(d.toLong).as("dim"), col("query_idx"), col("id"))
    }.reduce(_ unionByName _)
    legs.join(truth, Seq("query_idx", "id"))
      .groupBy("dim", "query_idx")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("dim"), col("query_idx"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(10.0), 6).as("recall"))
      .orderBy("dim", "query_idx")
  }

  val annDimSweepSql: String =
    """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2)),
      |bs AS (SELECT q.qid AS query_idx, e.id,
      |              list_cosine_similarity(e.v, q.qv) AS sc
      |       FROM q CROSS JOIN e),
      |truth AS (SELECT query_idx, id FROM (
      |            SELECT query_idx, id,
      |                   row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |            FROM bs) WHERE rn <= 10),
      |dims AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS dim),
      |ts AS (SELECT d.dim, q.qid AS query_idx, e.id,
      |              list_cosine_similarity(e.v[1:CAST(d.dim AS INT)],
      |                                     q.qv[1:CAST(d.dim AS INT)]) AS sc
      |       FROM dims d CROSS JOIN q CROSS JOIN e),
      |tk AS (SELECT dim, query_idx, id FROM (
      |         SELECT dim, query_idx, id,
      |                row_number() OVER (PARTITION BY dim, query_idx
      |                  ORDER BY sc DESC, id) AS rn
      |         FROM ts) WHERE rn <= 10),
      |h AS (SELECT tk.dim, tk.query_idx, CAST(count(*) AS BIGINT) AS n_hits
      |      FROM tk JOIN truth t ON tk.query_idx = t.query_idx AND tk.id = t.id
      |      GROUP BY 1, 2)
      |SELECT dim, query_idx, n_hits,
      |       round(CAST(n_hits AS DOUBLE) / 10.0, 6) AS recall
      |FROM h ORDER BY dim, query_idx""".stripMargin

  // ---- top principal component by power iteration (operators.Pca):
  //      3 fully-replayed rounds — centering, the two keyed projections,
  //      the 2^20 rescale, the exact-integer renormalization — plus the
  //      explained-variance ratio in HUGEINT. Oracle = the same
  //      arithmetic as unrolled CTEs over the raw embeddings. ----
  def embedPca(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.topComponent(
        Tables.t(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding")), iters = 3)
      .orderBy("dim")

  private val embedPcaSql: String = {
    val iter = (1 to 3).map { k =>
      s"""s$k AS (SELECT c.id,
         |        CAST(floor(CAST(sum(c.x * v.w) AS DOUBLE) / 1e6) AS BIGINT) AS sm
         |      FROM c JOIN v${k - 1} v USING (dim) GROUP BY c.id),
         |y$k AS (SELECT c.dim, CAST(sum(s$k.sm * c.x) AS BIGINT) AS y
         |      FROM c JOIN s$k USING (id) GROUP BY c.dim),
         |m$k AS (SELECT CAST(max(abs(y)) AS DOUBLE) AS m FROM y$k),
         |k$k AS (SELECT dim,
         |        CAST(floor(CAST(y AS DOUBLE) * 1048576.0 / m) AS BIGINT) AS yk
         |      FROM y$k CROSS JOIN m$k),
         |n$k AS (SELECT sqrt(CAST(sum(yk * yk) AS DOUBLE)) AS norm FROM k$k),
         |v$k AS (SELECT dim,
         |        CAST(floor(CAST(yk AS DOUBLE) * 1e6 / norm) AS BIGINT) AS w
         |      FROM k$k CROSS JOIN n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id AS id, i AS dim,
       |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
       |  FROM embeddings, UNNEST(range(len(embedding))) AS u(i)),
       |da AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
       |              CAST(sum(q) AS BIGINT) AS sq
       |       FROM q GROUP BY 1),
       |mu AS (SELECT dim, CAST(floor(CAST(sq AS DOUBLE) / n) AS BIGINT) AS mu, n
       |       FROM da),
       |c AS (SELECT q.id, q.dim, q.q - mu.mu AS x FROM q JOIN mu USING (dim)),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM mu),
       |v0 AS (SELECT dim, CAST(floor(1e6 / sqrt(CAST(nd.d AS DOUBLE))) AS BIGINT) AS w
       |       FROM mu CROSS JOIN nd),
       |$iter,
       |proj AS (SELECT c.id,
       |           CAST(floor(CAST(sum(c.x * v3.w) AS DOUBLE) / 1e9) AS BIGINT) AS p
       |         FROM c JOIN v3 USING (dim) GROUP BY c.id),
       |pst AS (SELECT CAST(count(*) AS HUGEINT) AS np, CAST(sum(p) AS HUGEINT) AS sp,
       |               CAST(sum(p * p) AS HUGEINT) AS spp
       |        FROM proj),
       |vt AS (SELECT CAST(sum(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
       |                 - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)) AS HUGEINT) AS tot
       |       FROM (SELECT dim, CAST(count(*) AS BIGINT) AS n,
       |               CAST(sum(x) AS BIGINT) AS sx,
       |               CAST(sum(x * x) AS BIGINT) AS sxx
       |             FROM c GROUP BY 1)),
       |ex AS (SELECT CAST(((np * spp - sp * sp) * 1000000 * 1000000) // tot
       |         AS BIGINT) AS explained_ppm
       |       FROM pst CROSS JOIN vt)
       |SELECT mu.dim, mu.mu AS mean_micro, v3.w AS v_micro, ex.explained_ppm
       |FROM mu JOIN v3 USING (dim) CROSS JOIN ex ORDER BY dim""".stripMargin
  }

  // ---- ranking-quality evaluation: NDCG@10 + MRR of the nprobe=2 IVF
  //      route judged by exact-cosine graded relevance (the brute-force
  //      top-10 is the qrel set; docs outside it score 0, the standard
  //      top-k-qrels convention). Relevance grades and rank-discount
  //      weights are micro-quantized integers SHARED with the oracle as
  //      literals (the LangId profile-constant precedent), so every DCG
  //      sum is exact on both sides. ----
  private val ndcgWeights: Seq[Long] =
    (1 to 10).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  def annNdcg(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val cents = Ann.representativeCentroids(vecs, "label").cache()
    val assigned = Ann.assign(vecs, cents).cache()
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy("query_idx").orderBy(col("score").desc, col("id"))
    val wArr = array(ndcgWeights.map(lit): _*)
    val truth = Ann.bruteTopK(vecs, qs, 10)
      .withColumn("rel_micro",
        round(greatest(col("score"), lit(0.0)) * 1e6, 0).cast("long"))
      .withColumn("rn", row_number().over(qw))
      .select("query_idx", "id", "rel_micro", "rn").cache()
    val ranked = Ann.ivfTopK(assigned, cents, qs, k = 10, nprobe = 2)
      .withColumn("rank", row_number().over(qw))
      .select("query_idx", "id", "rank")
    val dcg = ranked
      .join(truth.select("query_idx", "id", "rel_micro"), Seq("query_idx", "id"), "left")
      .withColumn("g", coalesce(col("rel_micro"), lit(0L)) * element_at(wArr, col("rank")))
      .groupBy("query_idx").agg(sum(col("g")).as("dcg_micro"))
    val idcg = truth
      .withColumn("g", col("rel_micro") * element_at(wArr, col("rn")))
      .groupBy("query_idx").agg(sum(col("g")).as("idcg_micro"))
    val best = truth.filter(col("rn") === 1).select(col("query_idx"), col("id"))
    val rr = ranked.join(best, Seq("query_idx", "id"))
      .select(col("query_idx"),
        round(lit(1e6) / col("rank"), 0).cast("long").as("rr_micro"))
    idcg.join(dcg, Seq("query_idx"), "left").join(rr, Seq("query_idx"), "left")
      .select(col("query_idx"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        col("idcg_micro"),
        round(coalesce(col("dcg_micro"), lit(0L)).cast("double") /
          col("idcg_micro").cast("double"), 6).as("ndcg"),
        coalesce(col("rr_micro"), lit(0L)).as("rr_micro"))
      .orderBy("query_idx")
  }

  val annNdcgSql: String = {
    val wVals = ndcgWeights.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, CAST($w AS BIGINT))" }.mkString(", ")
    s"""WITH e AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id IN (0,1,2)),
       |wt(rank, wmicro) AS (VALUES $wVals),
       |bs AS (SELECT q.qid AS query_idx, e.id,
       |              list_cosine_similarity(e.v, q.qv) AS sc
       |       FROM q CROSS JOIN e),
       |truth AS (SELECT query_idx, id,
       |            CAST(round(greatest(sc, 0.0) * 1000000.0, 0) AS BIGINT) AS rel_micro,
       |            rn
       |          FROM (SELECT query_idx, id, sc,
       |                  row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
       |                FROM bs) WHERE rn <= 10),
       |${ivfAssignCtes(renameInner = false)},
       |probes AS (
       |  SELECT qid, centroid_id FROM (
       |    SELECT q.qid, cent.centroid_id,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY 1.0 - list_cosine_similarity(q.qv, cent.c), cent.centroid_id) AS rn
       |    FROM q CROSS JOIN cent)
       |  WHERE rn <= 2),
       |ranked AS (SELECT query_idx, id, rn AS rank FROM (
       |             SELECT q.qid AS query_idx, a.id,
       |                    row_number() OVER (PARTITION BY q.qid
       |                      ORDER BY list_cosine_similarity(a.v, q.qv) DESC, a.id) AS rn
       |             FROM q JOIN probes p ON p.qid = q.qid
       |             JOIN assign a ON a.cluster_id = p.centroid_id) WHERE rn <= 10),
       |dcg AS (SELECT r.query_idx,
       |          CAST(sum(coalesce(t.rel_micro, 0) * wt.wmicro) AS BIGINT) AS dcg_micro
       |        FROM ranked r
       |        LEFT JOIN truth t ON r.query_idx = t.query_idx AND r.id = t.id
       |        JOIN wt ON wt.rank = r.rank
       |        GROUP BY r.query_idx),
       |idcg AS (SELECT query_idx,
       |           CAST(sum(rel_micro * wt.wmicro) AS BIGINT) AS idcg_micro
       |         FROM truth JOIN wt ON wt.rank = truth.rn
       |         GROUP BY query_idx),
       |best AS (SELECT query_idx, id FROM truth WHERE rn = 1),
       |rr AS (SELECT r.query_idx,
       |         CAST(round(1000000.0 / r.rank, 0) AS BIGINT) AS rr_micro
       |       FROM ranked r JOIN best b ON r.query_idx = b.query_idx AND r.id = b.id)
       |SELECT i.query_idx, coalesce(d.dcg_micro, 0) AS dcg_micro, i.idcg_micro,
       |       round(CAST(coalesce(d.dcg_micro, 0) AS DOUBLE) / CAST(i.idcg_micro AS DOUBLE), 6)
       |         AS ndcg,
       |       coalesce(rr.rr_micro, 0) AS rr_micro
       |FROM idcg i LEFT JOIN dcg d ON i.query_idx = d.query_idx
       |LEFT JOIN rr ON i.query_idx = rr.query_idx
       |ORDER BY i.query_idx""".stripMargin
  }

  // ---- cluster-balance report: per-cluster membership counts and
  //      cosine-to-centroid statistics (the k-means quality check run
  //      before trusting SemDeDup/IVF partitions). Per-row cosines are
  //      rounded to 6 digits then micro-quantized so the mean aggregates
  //      EXACT integers — group sums of raw doubles would hash-diverge
  //      on summation order. ----
  def clusterBalance(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val cents = Ann.representativeCentroids(vecs, "label").cache()
    val cos = VectorFunctions.cosinePrenormed(
      col("embedding"), col("centroid"), col("norm"), col("centroid_norm"))
    Ann.assign(vecs, cents)
      .join(broadcast(cents), col("cluster_id") === col("centroid_id"))
      .withColumn("cos6", round(cos, 6))
      .withColumn("micro", round(col("cos6") * 1e6, 0).cast("long"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"), sum(col("micro")).as("sum_micro"),
        min(col("cos6")).as("min_cos"), max(col("cos6")).as("max_cos"))
      .select(col("cluster_id"), col("n"),
        round(col("sum_micro").cast("double") / 1e6 / col("n").cast("double"), 6)
          .as("mean_cos"),
        col("min_cos"), col("max_cos"))
      .orderBy("cluster_id")
  }

  val clusterBalanceSql: String =
    s"""WITH e AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${ivfAssignCtes(renameInner = true)},
      |x AS (SELECT a.cluster_id,
      |             round(list_cosine_similarity(a.v, cent.c), 6) AS cos6
      |      FROM assign a JOIN cent ON a.cluster_id = cent.centroid_id),
      |g AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(CAST(round(cos6 * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_micro,
      |             min(cos6) AS min_cos, max(cos6) AS max_cos
      |      FROM x GROUP BY 1)
      |SELECT cluster_id, n,
      |       round(CAST(sum_micro AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6) AS mean_cos,
      |       min_cos, max_cos
      |FROM g ORDER BY cluster_id""".stripMargin

  val graded: Seq[Graded] = Seq(
    Graded("q_filter_c4", filterC4, filterC4Sql,
      "C4 gate: ONE native C4LineStats pass per row (CSE-deduped struct fields), no shuffle"),
    Graded("q_text_readability", textReadability, textReadabilitySql,
      "readability: syllable-estimate expression + per-doc agg, narrow"),
    Graded("q_terms_topk", termsTopK, termsTopKSql, "top-k terms: token-keyed agg + heap"),
    Graded("q_terms_zipf", termsZipf, termsZipfSql,
      "Zipf fit: rank from bucket-partitioned prefix sums + closed-form OLS on log-log sufficient stats"),
    Graded("q_text_diversity", textDiversity, textDiversitySql,
      "lexical diversity: per-doc distinct/total token aggs, one exchange"),
    Graded("q_text_novelty", textNovelty, textNoveltySql,
      "novelty: distinct-shingle agg + LEFT SEMI probe, per-doc keyed counts"),
    Graded("q_embed_stats", embedStats, embedStatsSql,
      "embedding stats: narrow posexplode + 64-key combiner-collapsed agg"),
    Graded("q_embed_pca", embedPca, embedPcaSql,
      "PCA power round: broadcast 64-row component join + two keyed aggs per pass"),
    Graded("q_ann_dim_sweep", annDimSweep, annDimSweepSql,
      "dim sweep: four truncated top-k legs unioned against ONE checkpointed truth leg"),
    Graded("q_pipeline_curate8", pipelineCurate8, pipelineCurate8Sql,
      "curation v8: C4 clean -> bipartite novelty gate -> rollup, one composed plan"),
    Graded("q_pipeline_curate9", pipelineCurate9, pipelineCurate9Sql,
      "skew-aware rollup: diagnosed-hot keys through two-phase salted agg, cold keys plain — one union"),
    Graded("q_dedup_across", dedupAcross, dedupAcrossSql,
      "cross-corpus near-dup: bipartite (band,bucket) inner join, candidates output-shaped"),
    Graded("q_ann_recall", annRecall, annRecallSql,
      "ANN recall report: both retrieval legs bounded top-k, hit join on (query,id)"),
    Graded("q_ann_ndcg", annNdcg, annNdcgSql,
      "NDCG/MRR eval: bounded top-k legs + per-query discount-weight join"),
    Graded("q_cluster_balance", clusterBalance, clusterBalanceSql,
      "cluster balance: narrow centroid-argmin projection + ONE keyed count agg"))
}
