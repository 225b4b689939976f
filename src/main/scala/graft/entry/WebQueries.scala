package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.operators.Web

/** Oracle-checked queries for the web-curation operators (URL
  * canonicalization + host rollup). The documents table carries no URL
  * column, so both engine and oracle derive the SAME deterministic messy
  * URL per document (mixed case, default ports, duplicate slashes,
  * trailing slashes, tracking params, fragments — one mess archetype per
  * id % 4) and the queries grade the canonicalization itself.
  */
object WebQueries {

  /** documents + a deterministic raw URL per row (the messy-web fixture). */
  private def urlFrame(s: SparkSession, dir: String): DataFrame = {
    val idStr = col("id").cast("string")
    t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("source"), col("text"), col("lang"))
      .withColumn("url",
        when(col("id") % 4 === 0, concat(
          lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM:443//docs//"),
          idStr, lit("/?utm_source=feed&b=2&a=1#frag")))
        .when(col("id") % 4 === 1, concat(
          lit("http://www."), col("source"), lit(".example.com:80/page/"),
          idStr, lit("?gclid=XYZ&q=term")))
        .when(col("id") % 4 === 2, concat(
          lit("https://Www."), col("source"), lit(".Example.Com/page/"),
          idStr, lit("/")))
        .otherwise(concat(
          lit("HTTP://"), col("source"), lit(".EXAMPLE.COM/index//"),
          idStr, lit("?z=9&a=1&utm_campaign=x"))))
  }

  /** Shared DuckDB CTE: the same URL fixture + full normalization replay
    * (every regexp step mirrors [[Web.urlNormalize]] 1:1; RE2 needs the
    * 'g' flag where Spark's regexp_replace is global by default).
    */
  private val urlNormCte: String =
    """u AS (SELECT doc_id AS id, source, text, lang,
      |  CASE CAST(doc_id % 4 AS INTEGER)
      |    WHEN 0 THEN 'HTTPS://WWW.' || upper(source) || '.Example.COM:443//docs//' ||
      |                 CAST(doc_id AS VARCHAR) || '/?utm_source=feed&b=2&a=1#frag'
      |    WHEN 1 THEN 'http://www.' || source || '.example.com:80/page/' ||
      |                 CAST(doc_id AS VARCHAR) || '?gclid=XYZ&q=term'
      |    WHEN 2 THEN 'https://Www.' || source || '.Example.Com/page/' ||
      |                 CAST(doc_id AS VARCHAR) || '/'
      |    ELSE 'HTTP://' || source || '.EXAMPLE.COM/index//' ||
      |         CAST(doc_id AS VARCHAR) || '?z=9&a=1&utm_campaign=x'
      |  END AS url FROM documents),
      |p0 AS (SELECT id, source, text, lang, url,
      |  regexp_replace(url, '#.*$', '') AS nf FROM u),
      |p1 AS (SELECT *, lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM p0),
      |p2 AS (SELECT *, lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
      |  regexp_extract(rest, '^[^/?#]*(.*)$', 1) AS pathq FROM p1),
      |p3 AS (SELECT *,
      |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |       ELSE hostport END AS host,
      |  regexp_extract(pathq, '^([^?]*)', 1) AS rawpath,
      |  regexp_extract(pathq, '\?(.*)$', 1) AS query FROM p2),
      |p4 AS (SELECT *,
      |  regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'), '^(.+?)/+$', '\1') AS pth,
      |  coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
      |    x -> NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid)(=|$)')
      |         AND x <> '')), '&'), '') AS q1 FROM p3),
      |norm AS (SELECT id, source, text, lang, host,
      |  scheme || '://' || host || (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
      |    (CASE WHEN q1 = '' THEN '' ELSE '?' || q1 END) AS url_norm
      |  FROM p4)""".stripMargin

  // ---- URL canonicalization: per-document canonical form + host. ----
  def webUrlnorm(s: SparkSession, dir: String): DataFrame =
    urlFrame(s, dir)
      .select(col("id"),
        Web.urlNormalize(col("url")).as("url_norm"),
        Web.urlHost(col("url")).as("host"))
      .orderBy("id")

  val webUrlnormSql: String =
    s"""WITH $urlNormCte
       |SELECT id, url_norm, host FROM norm ORDER BY id""".stripMargin

  // ---- per-host curation rollup: docs, distinct canonical URLs, bytes,
  //      exact-dup ppm (sha256 of content), language mix. ----
  def webHosts(s: SparkSession, dir: String): DataFrame =
    Web.hostRollup(urlFrame(s, dir), "url", "text", "lang").orderBy("host")

  val webHostsSql: String =
    s"""WITH $urlNormCte,
       |agg AS (SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(count(DISTINCT url_norm) AS BIGINT) AS n_urls,
       |          CAST(sum(len(text)) AS BIGINT) AS total_chars,
       |          CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_uniq,
       |          CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |        FROM norm GROUP BY host),
       |lm AS (SELECT host, lang AS majority_lang FROM (
       |         SELECT host, lang,
       |                row_number() OVER (PARTITION BY host
       |                  ORDER BY count(*) DESC, lang ASC) AS rn
       |         FROM norm GROUP BY host, lang) WHERE rn = 1)
       |SELECT agg.host, n_docs, n_urls, total_chars,
       |       (n_docs - n_uniq) * 1000000 // n_docs AS dup_ppm,
       |       n_langs, lm.majority_lang
       |FROM agg JOIN lm ON agg.host = lm.host
       |ORDER BY agg.host""".stripMargin

  val graded: Seq[Graded] = Seq(
    Graded("q_web_urlnorm", webUrlnorm, webUrlnormSql,
      "URL canonicalization: codegen'd string builtins only — zero shuffle, zero UDF"),
    Graded("q_web_hosts", webHosts, webHostsSql,
      "per-host rollup: ONE combiner-collapsed keyed agg, host-count-sized output"))
}
