package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ingest.{DeterministicHashEmbedder, Embed, Ingest, Sanitize}
import Fixtures._

/** Oracle-checked queries for the reference-surface operators of SURVEY §2
  * (DDL listing, validation, sanitization, id derivation, dedup, MERGE,
  * delete, point lookup, batch embedding).
  *
  * Each query runs the REAL engine code path on testdata-derived inputs and
  * is paired (in SparkEntry.oracleSql) with DuckDB SQL computing the same
  * math. Floats are rounded identically on both sides; every output has a
  * total ORDER BY for row-order-stable hashing.
  */
object CoreQueries {

  /** vector_api.py:455-476 — tenant listing: prefix filter, strip, dedupe,
    * sort. Collection names synthesized from documents.source for two
    * tenants; listing runs for tenantA.
    */
  def collectionList(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents").select(col("source")).distinct()
    def phys(tenant: String, d: DataFrame) =
      d.select(concat(lit("t_"), substring(sha2(lit(tenant), 256), 1, 16),
        lit("_"), col("source")).as("name"))
    val all = phys("tenantA", src)
      .unionAll(phys("tenantB", src.filter(col("source").isin("src0", "src1"))))
    val prefix = concat(lit("t_"), substring(sha2(lit("tenantA"), 256), 1, 16), lit("_"))
    all
      .filter(col("name").startsWith(prefix))
      .select(substring(col("name"), 20, 1000).as("collection_name"))
      .distinct()
      .orderBy("collection_name")
  }

  val collectionListSql: String =
    """WITH src AS (SELECT DISTINCT source FROM documents),
      |all_names AS (
      |  SELECT 't_' || substr(sha256('tenantA'), 1, 16) || '_' || source AS name FROM src
      |  UNION ALL
      |  SELECT 't_' || substr(sha256('tenantB'), 1, 16) || '_' || source FROM src
      |  WHERE source IN ('src0', 'src1'))
      |SELECT DISTINCT substr(name, 20) AS collection_name FROM all_names
      |WHERE starts_with(name, 't_' || substr(sha256('tenantA'), 1, 16) || '_')
      |ORDER BY collection_name""".stripMargin

  /** vector_api.py:39 — collection-name regex classification. */
  def nameValidation(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents").select(col("source")).distinct()
    val cands = src.select(col("source").as("name"))
      .unionAll(src.select(concat(col("source"), lit(" bad")).as("name")))
      .unionAll(src.select(concat(lit("9"), col("source")).as("name")))
      .unionAll(src.select(concat(lit("_"), col("source")).as("name")))
    cands
      .withColumn("valid", col("name").rlike("^[A-Za-z][A-Za-z0-9_]{0,39}$"))
      .orderBy("name", "valid")
  }

  val nameValidationSql: String =
    """WITH src AS (SELECT DISTINCT source FROM documents),
      |c AS (SELECT source AS name FROM src
      |      UNION ALL SELECT source || ' bad' FROM src
      |      UNION ALL SELECT '9' || source FROM src
      |      UNION ALL SELECT '_' || source FROM src)
      |SELECT name, regexp_matches(name, '^[A-Za-z][A-Za-z0-9_]{0,39}$') AS valid
      |FROM c ORDER BY name, valid""".stripMargin

  /** vector_api.py:44-46, :284-285 — local-path redaction. Inputs are
    * constructed so the Java-only lookbehind is irrelevant (paths preceded
    * by whitespace), keeping the oracle regex RE2-safe.
    */
  def sanitizePaths(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("see /home/"), col("source"), lit("/data/f.txt and C:\\tmp\\x.bin then "),
          substring(col("text"), 1, 40)).as("content"))
    d.select(col("doc_id"), Sanitize.redactPaths(col("content")).as("content"))
      .orderBy("doc_id")
  }

  val sanitizePathsSql: String =
    """SELECT doc_id,
      |  regexp_replace(
      |    'see /home/' || source || '/data/f.txt and C:\tmp\x.bin then ' || substr(text, 1, 40),
      |    '(?:[A-Za-z]:[\\/][^\s<>"'']+|/(?:[^/\s]+/)+[^\s<>"'']*|\\\\[^\s\\]+\\[^\s]+)',
      |    '[REDACTED_PATH]', 'g') AS content
      |FROM documents ORDER BY doc_id""".stripMargin

  /** PII entity redaction (email/ssn/phone + path pass) under the oracle —
    * content synthesized deterministically per document so every entity
    * kind appears with corpus variety; patterns RE2-safe by construction
    * (Sanitize.redactEntities scaladoc), so DuckDB replays them verbatim.
    */
  def sanitizePii(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("reach "), col("source"),
          lit("@corp.io ssn 123-45-6789 tel 555-867-5309 or (555) 123-4567 at /var/log/app.log end "),
          substring(col("text"), 1, 30)).as("content"))
    d.select(col("doc_id"),
        Sanitize.sanitizeTextFull(col("content")).as("content"))
      .orderBy("doc_id")
  }

  val sanitizePiiSql: String =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    'reach ' || source || '@corp.io ssn 123-45-6789 tel 555-867-5309 or (555) 123-4567 at /var/log/app.log end ' || substr(text, 1, 30),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED_EMAIL]', 'g'),
      |    '\b\d{3}-\d{2}-\d{4}\b', '[REDACTED_SSN]', 'g'),
      |    '\b(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b', '[REDACTED_PHONE]', 'g'),
      |    '(?:[A-Za-z]:[\\/][^\s<>"'']+|/(?:[^/\s]+/)+[^\s<>"'']*|\\\\[^\s\\]+\\[^\s]+)',
      |    '[REDACTED_PATH]', 'g') AS content
      |FROM documents ORDER BY doc_id""".stripMargin

  /** vector_api.py:312-314 — content-addressed id derivation (engine's
    * stable sha256 surrogate, SURVEY §1.4).
    */
  def idDerivation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), Ingest.contentId(col("text")).as("id"))
      .orderBy("doc_id")

  val idDerivationSql: String =
    """SELECT doc_id,
      |  substr(sha256(text), 1, 8) || '-' || substr(sha256(text), 9, 4) || '-' ||
      |  substr(sha256(text), 13, 4) || '-' || substr(sha256(text), 17, 4) || '-' ||
      |  substr(sha256(text), 21, 12) AS id
      |FROM documents ORDER BY doc_id""".stripMargin

  /** vector_api.py:363-366 — dedup by content id, LAST wins, over the
    * engine's ALWAYS-ON sanitize default (ids are derived from the
    * sanitized content, vector_api.py:312-314): raw content carries an
    * email per source group; the kept rows prove redaction happened
    * BEFORE id derivation. Duplicates constructed by keying on `source`
    * (20 groups over 500 docs); input order = doc_id.
    */
  def ingestDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("source"), lit(" contact "), col("source"), lit("@corp.io")).as("content"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("doc_id").desc)
    d.withColumn("content", Sanitize.sanitizeText(col("content")))
      .withColumn("id", Ingest.contentId(col("content")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("doc_id").as("kept_doc_id"), col("content"))
      .orderBy("content")
  }

  val ingestDedupSql: String =
    """WITH raw AS (SELECT doc_id, source || ' contact ' || source || '@corp.io' AS content
      |             FROM documents),
      |san AS (SELECT doc_id,
      |  regexp_replace(content,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED_EMAIL]', 'g') AS content
      |  FROM raw),
      |d AS (SELECT doc_id, content,
      |  substr(sha256(content),1,8) || '-' || substr(sha256(content),9,4) || '-' ||
      |  substr(sha256(content),13,4) || '-' || substr(sha256(content),17,4) || '-' ||
      |  substr(sha256(content),21,12) AS id FROM san),
      |r AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY doc_id DESC) AS rn FROM d)
      |SELECT id, doc_id AS kept_doc_id, content FROM r WHERE rn = 1 ORDER BY content""".stripMargin

  /** postgres.py:262-276 — MERGE upsert: existing 0..399, update batch
    * 300..499 with new payloads; result = anti-join + batch. The batch
    * passes the engine's always-on sanitize default (its contact email is
    * redacted, shifting content_len by exactly
    * len("[REDACTED_EMAIL]") − len("ops@corp.io") — visible in the hash).
    */
  def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    val all = t(s, dir, "documents")
    val existing = all.filter(col("doc_id") < 400)
      .select(col("doc_id").as("id"), lit("v1").as("version"), col("text").as("content"))
    val batch = all.filter(col("doc_id") >= 300)
      .select(col("doc_id").as("id"), lit("v2").as("version"),
        Sanitize.sanitizeText(
          concat(col("text"), lit(" [updated] contact ops@corp.io"))).as("content"))
    existing.join(batch.select("id"), Seq("id"), "left_anti")
      .unionByName(batch)
      .select(col("id"), col("version"), length(col("content")).as("content_len"))
      .orderBy("id")
  }

  val upsertMergeSql: String =
    """WITH existing AS (SELECT doc_id AS id, 'v1' AS version, text AS content
      |                  FROM documents WHERE doc_id < 400),
      |batch AS (SELECT doc_id AS id, 'v2' AS version,
      |            regexp_replace(text || ' [updated] contact ops@corp.io',
      |              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |              '[REDACTED_EMAIL]', 'g') AS content
      |          FROM documents WHERE doc_id >= 300)
      |SELECT id, version, CAST(length(content) AS INTEGER) AS content_len FROM (
      |  SELECT * FROM existing WHERE id NOT IN (SELECT id FROM batch)
      |  UNION ALL SELECT * FROM batch)
      |ORDER BY id""".stripMargin

  /** postgres.py:283-294 — delete-by-ids as an anti filter; survivors
    * summarized per source.
    */
  def deleteDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(!col("doc_id").isin(0L to 99L: _*))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"))
      .orderBy("source")

  val deleteDocsSql: String =
    """SELECT source, count(*) AS n, min(doc_id) AS min_id
      |FROM documents WHERE doc_id NOT IN (SELECT unnest(range(100)))
      |GROUP BY source ORDER BY source""".stripMargin

  /** base.py:233-253 — point lookup; missing ids silently absent. */
  def getByIds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id").isin(3L, 141L, 297L, 499L, 100000L))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  val getByIdsSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (3, 141, 297, 499, 100000) ORDER BY doc_id""".stripMargin

  /** base.py:64-75 — embedding validation (dimension + finiteness), and a
    * constructed invalid row to prove the filter bites.
    */
  def embedValidate(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .unionAll(t(s, dir, "embeddings").limit(1)
        .select(lit(-1L).as("vec_id"),
          array(lit(Float.NaN), lit(1.0f)).as("embedding")))
    e.withColumn("dim_ok", size(col("embedding")) === 64)
      .withColumn("finite_ok", graft.functions.VectorFunctions.allFinite(col("embedding")))
      .groupBy("dim_ok", "finite_ok")
      .agg(count(lit(1)).as("n"))
      .orderBy("dim_ok", "finite_ok")
  }

  val embedValidateSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings
      |           UNION ALL SELECT -1, ['NaN'::FLOAT, 1.0::FLOAT]),
      |f AS (SELECT len(embedding) = 64 AS dim_ok,
      |             len(list_filter(embedding, x -> isnan(x) OR NOT abs(CAST(x AS DOUBLE)) <= 1.7976931348623157e308)) = 0 AS finite_ok
      |      FROM e)
      |SELECT dim_ok, finite_ok, count(*) AS n FROM f GROUP BY 1, 2 ORDER BY dim_ok, finite_ok""".stripMargin

  /** base.py:34-75 + tests/test_all_backends.py:44-64 — the mapPartitions
    * batch embedder, end-to-end vs the oracle's SQL replay of the
    * deterministic hash formula (dim=8 for compactness).
    */
  def embedDeterministic(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("text").as("content"),
        lit(null).cast("array<float>").as("embedding"))
    val embedded = Embed.withEmbeddings(d, new DeterministicHashEmbedder(8))
    embedded
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "value")))
      .select(col("doc_id"), col("dim"),
        round(col("value").cast("double"), 2).as("value"))
      .orderBy("doc_id", "dim")
  }

  val embedDeterministicSql: String =
    """WITH i AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS dim),
      |v AS (SELECT doc_id, dim,
      |        (('0x' || substr(sha256(text || CAST(dim AS VARCHAR)), 1, 15))::BIGINT % 100) / 100.0 AS value
      |      FROM documents CROSS JOIN i)
      |SELECT doc_id, dim, round(value, 2) AS value FROM v ORDER BY doc_id, dim""".stripMargin

  /** The RAG ingestion composition end to end: chunk every document into
    * token windows, embed EACH CHUNK (per-partition batch embedder), and
    * mean-pool the chunk embeddings back to one document vector — the
    * "late chunking" layout where retrieval serves chunks but
    * doc-level ops (dedup, clustering) want one vector per document.
    * Pooling is exact: embedder outputs are hundredths by construction,
    * so the mean runs in integer micro units (sum(cent·10⁴) div k) —
    * partitioning-invariant, oracle-replayable. One chunk explode + one
    * (doc, dim)-keyed aggregate; nothing corpus-sized beyond the chunk
    * rows themselves.
    */
  def chunkEmbedPool(s: SparkSession, dir: String): DataFrame =
    chunkEmbeddings(s, dir)
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("doc_id"), col("dim"),
        round(col("v").cast("double") * 100, 0).cast("long").as("cent"))
      .groupBy("doc_id", "dim")
      .agg(count(lit(1)).as("n_chunks"), sum(col("cent") * 10000L).as("sm"))
      .select(col("doc_id"), col("dim"), col("n_chunks"),
        expr("sm div n_chunks").as("pooled_micro"))
      .orderBy("doc_id", "dim")

  val chunkEmbedPoolSql: String =
    raw"""WITH w AS (SELECT doc_id, regexp_split_to_array(content, '\s+') AS words
      |           FROM (SELECT doc_id, text AS content FROM documents)),
      |$chunkWindowCtes,
      |ck AS (SELECT doc_id, chunk FROM c WHERE length(chunk) > 0),
      |i AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS dim),
      |v AS (SELECT doc_id, dim,
      |        ('0x' || substr(sha256(chunk || CAST(dim AS VARCHAR)), 1, 15))::BIGINT % 100 AS cent
      |      FROM ck CROSS JOIN i)
      |SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(cent * 10000) AS BIGINT) // count(*) AS pooled_micro
      |FROM v GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin

  /** Retriever token-window chunking (tests/reproduce_chunking.py:15-19 —
    * <=N-token chunks, rejoined with single spaces), replayed over the
    * documents table at a small window so most docs split.
    */
  def retrieverChunks(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text").as("content"))
    graft.retriever.Retriever.chunk(docs, maxTokens = 20)
      .select(col("doc_id"), col("content").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("integer"))
      .select(col("doc_id"), col("chunk_len"), col("chunk"))
      .orderBy("doc_id", "chunk")
  }

  val retrieverChunksSql: String =
    raw"""WITH w AS (SELECT doc_id, regexp_split_to_array(content, '\s+') AS words
      |           FROM (SELECT doc_id, text AS content FROM documents)),
      |$chunkWindowCtes
      |SELECT doc_id, CAST(length(chunk) AS INTEGER) AS chunk_len, chunk
      |FROM c WHERE length(chunk) > 0 ORDER BY doc_id, chunk""".stripMargin

  /** Overlapping RAG chunking (Retriever.chunkOverlap): size 20 / stride
    * 12 token windows with the no-fully-contained-window count rule,
    * chunk_idx for provenance. Oracle replays starts, slices, and the
    * window-count formula.
    */
  def chunkOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text").as("content"))
    graft.retriever.Retriever.chunkOverlap(docs, chunkSize = 20, stride = 12)
      .select(col("doc_id"), col("chunk_idx"),
        length(col("content")).cast("integer").as("chunk_len"),
        col("content").as("chunk"))
      .orderBy("doc_id", "chunk_idx")
  }

  val chunkOverlapSql: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS words
      |           FROM documents),
      |n AS (SELECT doc_id, words,
      |             1 + CAST((greatest(len(words) - 20, 0) + 11) // 12 AS INTEGER) AS n_chunks
      |      FROM w),
      |c AS (SELECT doc_id, ix.i AS chunk_idx,
      |             array_to_string(words[i*12+1 : i*12+20], ' ') AS chunk
      |      FROM n, (SELECT CAST(unnest(range(100)) AS INTEGER) AS i) ix
      |      WHERE ix.i < n.n_chunks)
      |SELECT doc_id, chunk_idx, CAST(length(chunk) AS INTEGER) AS chunk_len, chunk
      |FROM c WHERE length(chunk) > 0 ORDER BY doc_id, chunk_idx""".stripMargin

  /** Leakage-safe split (operators.Split): near-dup pairs (MinHash 0.6)
    * → components → whole-cluster train/eval assignment by component
    * hash. Oracle replays the pair set, the recursive closure, and the
    * hash gate; the invariant "no pair straddles the split" is implied by
    * hash-of-comp and checked in the spec.
    */
  def leakageSplitQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text").as("content"))
    val pairs = graft.dedup.Dedup.minHashNearDups(docs, threshold = 0.6).select("a", "b")
    graft.operators.Split.leakageSafeSplit(docs, pairs, evalPermille = 200)
      .select(col("id").as("doc_id"), col("comp"), col("split"))
      .orderBy("doc_id")
  }

  val leakageSplitSql: String =
    s"""WITH RECURSIVE $jaccardCoCtes,
      |${jaccardPairsCte(0.6)},
      |$componentCtes,
      |lab AS (SELECT d.doc_id AS id, COALESCE(comp.comp, d.doc_id) AS comp
      |        FROM documents d LEFT JOIN comp ON d.doc_id = comp.id)
      |SELECT id AS doc_id, comp,
      |       CASE WHEN ('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 8))::BIGINT
      |                 % 1000 < 200
      |            THEN 'eval' ELSE 'train' END AS split
      |FROM lab ORDER BY doc_id""".stripMargin

  // ---- corpus PII-exposure scan: per-language counts of documents
  //      containing each PII entity class (email / SSN / NANP phone /
  //      local path) plus an any-entity rate in exact micro units — the
  //      compliance report a corpus owner runs BEFORE deciding whether
  //      always-on redaction suffices. Detection reuses the very regexes
  //      the sanitizer redacts with ([[Sanitize]]), so scan and redact can
  //      never disagree about what counts as PII. PII is synthesized onto
  //      deterministic row subsets (the sanitizePii precedent — raw
  //      synthetic text carries none), exercising every counter including
  //      overlaps. One narrow scan + one keyed agg; no shuffle beyond the
  //      |lang|-sized groupBy. ----
  def piiScan(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" contact "), col("source"), lit("@corp.io"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" ssn 123-45-6789")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" call 555-867-5309")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" log /var/log/app.log")).otherwise(lit(""))
        ).as("content"))
    val flags = d.select(col("lang"),
      col("content").rlike(Sanitize.EmailRegex).cast("long").as("has_email"),
      col("content").rlike(Sanitize.SsnRegex).cast("long").as("has_ssn"),
      col("content").rlike(Sanitize.PhoneRegex).cast("long").as("has_phone"),
      col("content").rlike(Sanitize.LocalPathRegex).cast("long").as("has_path"))
    flags
      .withColumn("has_any",
        greatest(col("has_email"), col("has_ssn"), col("has_phone"), col("has_path")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("has_email").as("n_email"), sum("has_ssn").as("n_ssn"),
        sum("has_phone").as("n_phone"), sum("has_path").as("n_path"),
        sum("has_any").as("n_any"))
      .select(col("lang"), col("n_docs"), col("n_email"), col("n_ssn"),
        col("n_phone"), col("n_path"),
        expr("(n_any * 1000000L) div n_docs").as("pii_rate_micro"))
      .orderBy("lang")
  }

  val piiScanSql: String =
    """WITH d AS (
      |  SELECT lang,
      |    text
      |      || CASE WHEN doc_id % 3 = 0 THEN ' contact ' || source || '@corp.io' ELSE '' END
      |      || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END
      |      || CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END
      |      || CASE WHEN doc_id % 11 = 0 THEN ' log /var/log/app.log' ELSE '' END
      |      AS content
      |  FROM documents),
      |fl AS (SELECT lang,
      |    CASE WHEN regexp_matches(content, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') THEN 1 ELSE 0 END AS has_email,
      |    CASE WHEN regexp_matches(content, '\b\d{3}-\d{2}-\d{4}\b') THEN 1 ELSE 0 END AS has_ssn,
      |    CASE WHEN regexp_matches(content, '\b(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b') THEN 1 ELSE 0 END AS has_phone,
      |    CASE WHEN regexp_matches(content, '(?:[A-Za-z]:[\\/][^\s<>"'']+|/(?:[^/\s]+/)+[^\s<>"'']*|\\\\[^\s\\]+\\[^\s]+)') THEN 1 ELSE 0 END AS has_path
      |  FROM d)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(has_email) AS BIGINT) AS n_email,
      |  CAST(sum(has_ssn) AS BIGINT) AS n_ssn,
      |  CAST(sum(has_phone) AS BIGINT) AS n_phone,
      |  CAST(sum(has_path) AS BIGINT) AS n_path,
      |  (CAST(sum(greatest(has_email, has_ssn, has_phone, has_path)) AS BIGINT) * 1000000)
      |    // count(*) AS pii_rate_micro
      |FROM fl GROUP BY lang ORDER BY lang""".stripMargin

  val graded: Seq[Graded] = Seq(
    Graded("q_pii_scan", piiScan, piiScanSql,
      "PII scan: native redaction expression per row + ppm rollup"),
    Graded("q_chunk_overlap", chunkOverlapQ, chunkOverlapSql,
      "overlapping chunker: per-doc window slices exploded, output chunk-sized"),
    Graded("q_split_leakage", leakageSplitQ, leakageSplitSql,
      "split leakage: train/test shingle probe join, leak rows output-sized"),
    Graded("q_collection_list", collectionList, collectionListSql,
      "catalog listing: tenant-prefix filter over the metadata table — catalog-sized, no corpus touch"),
    Graded("q_name_validation", nameValidation, nameValidationSql,
      "collection-name guard: regex validation projection — catalog-sized"),
    Graded("q_sanitize_paths", sanitizePaths, sanitizePathsSql,
      "path sanitization: codegen'd regex chain in a single projection"),
    Graded("q_sanitize_pii", sanitizePii, sanitizePiiSql,
      "PII sanitization: one projection pass, Luhn fold inside codegen"),
    Graded("q_id_derivation", idDerivation, idDerivationSql,
      "uuid5(sha256) id derivation: narrow per-row expression, zero shuffle"),
    Graded("q_ingest_dedup", ingestDedup, ingestDedupSql,
      "ingest last-wins dedup: id-keyed window on arrival order, one exchange"),
    Graded("q_upsert_merge", upsertMerge, upsertMergeSql,
      "upsert MERGE: id-keyed full-outer with last-wins resolution"),
    Graded("q_delete_docs", deleteDocs, deleteDocsSql,
      "delete_documents: broadcast id-set LEFT ANTI — one corpus pass"),
    Graded("q_get_by_ids", getByIds, getByIdsSql,
      "get_documents_by_ids: IN-list pushed into the parquet scan (PushedFilters)"),
    Graded("q_embed_validate", embedValidate, embedValidateSql,
      "embedding validation: dim/finite/norm checks in ONE projection + rollup agg"),
    Graded("q_embed_deterministic", embedDeterministic, embedDeterministicSql,
      "deterministic embedder: per-partition batch embed, narrow map — no shuffle"),
    Graded("q_chunk_embed_pool", chunkEmbedPool, chunkEmbedPoolSql,
      "chunk-embed-pool: chunk explode -> per-partition batch embed -> (doc,dim) agg"),
    Graded("q_retriever_chunks", retrieverChunks, retrieverChunksSql,
      "retriever chunking: 512-token windows per doc, explode output-sized"))
}
