package graft.ingest

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-format loaders feeding the ingest pipeline — the engine analog of
  * the reference's SimpleDirectoryReader delegation (vector_api.py:344-347).
  * Parity scope: plain text, JSONL, HTML (+ binary for multimodal
  * payloads); PDF/EPUB parsing stays a documented gap (SURVEY §2.2), now
  * enforced by the governed `document_parse_unsupported` error rather than
  * a silent text-read of binary bytes.
  *
  * Inputs MUST come from DocumentInputs.resolveDocumentInputs — the
  * filesystem policy runs before any Spark IO (mcp_server.py:133-138).
  */
object Loaders {

  /** Formats the reference parses through SimpleDirectoryReader deps (pypdf,
    * ebooklib — pyproject.toml:8) that this engine has NO parser for. A
    * wholetext read of these binaries would silently ingest garbage bytes;
    * the governed `document_parse_unsupported` error fails the batch instead
    * (same fail-closed stance as the optional-dependency boundary,
    * db_utils.py:66-105).
    */
  private val UnparseableExtensions = Set("pdf", "epub", "docx")

  private def extOf(p: Path): String = {
    val n = p.getFileName.toString
    val i = n.lastIndexOf('.')
    if (i < 0) "" else n.substring(i + 1).toLowerCase
  }

  private def requireParseable(paths: IterableOnce[Path]): Unit =
    if (paths.iterator.exists(p => UnparseableExtensions(extOf(p))))
      throw new graft.model.GraftException(
        graft.model.ErrorCodes.DocumentParseUnsupported)

  /** One row per file: (content, metadata{} ) — wholetext so a document is
    * a file, not a line. Metadata deliberately carries no path/origin keys
    * (they would be dropped by the sanitizer anyway — vector_api.py:40-43).
    */
  def loadTextFiles(spark: SparkSession, paths: Seq[Path]): DataFrame = {
    requireParseable(paths)
    spark.read
      .option("wholetext", "true")
      .text(paths.map(_.toString): _*)
      .select(col("value").as("content"),
        map().cast("map<string,string>").as("metadata"))
  }

  /** Whole directory as text documents (post-policy root). The driver-side
    * extension walk is bounded: directory inputs already passed the
    * <=1000-file policy scan (document_inputs.py:13-16) before reaching any
    * loader.
    */
  def loadTextDirectory(spark: SparkSession, dir: Path): DataFrame = {
    val walk = java.nio.file.Files.walk(dir)
    try requireParseable(
      scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
        .filter(java.nio.file.Files.isRegularFile(_)))
    finally walk.close()
    spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .text(dir.toString)
      .select(col("value").as("content"),
        map().cast("map<string,string>").as("metadata"))
  }

  /** JSONL corpus — the standard training-data interchange shape: one
    * document per line, `{"content": "...", "metadata": {"k": "v", ...}}`.
    * Parsed with an EXPLICIT schema (no inference pass — at 100 TB a
    * schema-inference scan would read the corpus twice), metadata values
    * coerced to strings per the engine's document model. Lines that fail
    * to parse or carry no `content` are dropped (corpus-ingestion
    * semantics: a bad line invalidates the line, not the batch); callers
    * needing strictness can diff counts against `spark.read.text`.
    */
  def loadJsonl(spark: SparkSession, paths: Seq[Path]): DataFrame = {
    val schema = "content STRING, metadata MAP<STRING,STRING>"
    spark.read
      .text(paths.map(_.toString): _*)
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType
        .fromDDL(schema)).as("j"))
      .select(col("j.content").as("content"),
        coalesce(col("j.metadata"), map().cast("map<string,string>"))
          .as("metadata"))
      .filter(col("content").isNotNull)
  }

  /** HTML files as text documents: wholetext read + the codegen'd
    * [[graft.functions.TextFunctions.htmlToText]] strip (script/style
    * removal, block-tag newlines, entity decode). Closes the HTML part of
    * the SimpleDirectoryReader delegation (vector_api.py:344-347);
    * PDF/EPUB stay documented gaps (binary formats need parsers the
    * container does not ship). Documents whose markup strips to empty are
    * dropped — the reference's reader likewise yields no document for
    * content-free files.
    */
  def loadHtmlFiles(spark: SparkSession, paths: Seq[Path]): DataFrame =
    stripHtml(spark.read
      .option("wholetext", "true")
      .text(paths.map(_.toString): _*))

  /** Whole directory of HTML (post-policy root). */
  def loadHtmlDirectory(spark: SparkSession, dir: Path): DataFrame =
    stripHtml(spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .text(dir.toString))

  private def stripHtml(raw: DataFrame): DataFrame =
    raw
      .select(graft.functions.TextFunctions.htmlToText(col("value")).as("content"),
        map().cast("map<string,string>").as("metadata"))
      .filter(length(col("content")) > 0)

  /** Inline contents (vector_api.py:332-341 bounds checked upstream). */
  def loadInline(spark: SparkSession, contents: Seq[String]): DataFrame = {
    import spark.implicits._
    contents.toDF("content")
      .select(col("content"), map().cast("map<string,string>").as("metadata"))
  }

  // ------------------------------------------------- binary-document parse

  private val pdfTextUdf = udf((b: Array[Byte]) =>
    if (b == null) null else DocParse.pdfToText(b).orNull)
  private val epubTextUdf = udf((b: Array[Byte]) =>
    if (b == null) null else DocParse.epubToText(b).orNull)

  /** PDF documents via the scoped pure-JVM extractor ([[DocParse.pdfToText]]
    * — uncompressed/Flate content streams, standard string encodings). A
    * file the extractor cannot decode fails the batch with the governed
    * `document_parse_unsupported` error — never a silent empty/garbage
    * document. The pre-check job is bounded: path inputs already passed the
    * <=1000-file / <=512 MiB policy.
    */
  def loadPdfFiles(spark: SparkSession, paths: Seq[Path]): DataFrame =
    failClosed(spark.read.format("binaryFile")
      .load(paths.map(_.toString): _*)
      .select(pdfTextUdf(col("content")).as("content"),
        map().cast("map<string,string>").as("metadata")))

  /** EPUB documents: archive-order XHTML extraction ([[DocParse.epubToText]]),
    * same fail-closed contract as [[loadPdfFiles]].
    */
  def loadEpubFiles(spark: SparkSession, paths: Seq[Path]): DataFrame =
    failClosed(spark.read.format("binaryFile")
      .load(paths.map(_.toString): _*)
      .select(epubTextUdf(col("content")).as("content"),
        map().cast("map<string,string>").as("metadata")))

  private val docxTextUdf = udf((b: Array[Byte]) =>
    if (b == null) null else DocParse.docxToText(b).orNull)
  private val markdownUdf = udf((s: String) =>
    if (s == null) null else DocParse.markdownToText(s))
  private val xmlUdf = udf((s: String) =>
    if (s == null) null else DocParse.xmlToText(s))
  private val rtfUdf = udf((s: String) =>
    if (s == null) null else DocParse.rtfToText(s).orNull)
  private val csvUdf = udf((s: String) =>
    if (s == null) null else DocParse.csvToText(s))

  /** DOCX via the pure-JVM WordprocessingML extractor
    * ([[DocParse.docxToText]]), fail-closed like PDF/EPUB.
    */
  def loadDocxFiles(spark: SparkSession, paths: Seq[Path]): DataFrame =
    failClosed(spark.read.format("binaryFile")
      .load(paths.map(_.toString): _*)
      .select(docxTextUdf(col("content")).as("content"),
        map().cast("map<string,string>").as("metadata")))

  /** Markdown as text documents: wholetext + formatting strip
    * ([[DocParse.markdownToText]]) — content kept, markup dropped.
    */
  def loadMarkdownFiles(spark: SparkSession, paths: Seq[Path]): DataFrame =
    spark.read.option("wholetext", "true")
      .text(paths.map(_.toString): _*)
      .select(markdownUdf(col("value")).as("content"),
        map().cast("map<string,string>").as("metadata"))
      .filter(length(col("content")) > 0)

  /** XML as text documents: CDATA-aware tag strip + entity decode
    * ([[DocParse.xmlToText]]); empty results (markup-only files) drop.
    */
  def loadXmlFiles(spark: SparkSession, paths: Seq[Path]): DataFrame =
    spark.read.option("wholetext", "true")
      .text(paths.map(_.toString): _*)
      .select(xmlUdf(col("value")).as("content"),
        map().cast("map<string,string>").as("metadata"))
      .filter(length(col("content")) > 0)

  /** RTF via the pure-JVM group-aware scanner ([[DocParse.rtfToText]]),
    * fail-closed like PDF/EPUB/DOCX: a payload that is not `{\rtf…}` or
    * yields no text raises `document_parse_unsupported`.
    */
  def loadRtfFiles(spark: SparkSession, paths: Seq[Path]): DataFrame =
    failClosed(spark.read.option("wholetext", "true")
      .text(paths.map(_.toString): _*)
      .select(rtfUdf(col("value")).as("content"),
        map().cast("map<string,string>").as("metadata")))

  /** CSV: one document per file, rows rendered `v1, v2, …` in file order
    * (minimal RFC 4180 — quoted fields keep commas/newlines).
    */
  def loadCsvFiles(spark: SparkSession, paths: Seq[Path]): DataFrame =
    spark.read.option("wholetext", "true")
      .text(paths.map(_.toString): _*)
      .select(csvUdf(col("value")).as("content"),
        map().cast("map<string,string>").as("metadata"))
      .filter(length(col("content")) > 0)

  /** Jupyter notebooks: cell sources concatenated in order, pure
    * `from_json` (no UDF) — `source` handled in BOTH its JSON spellings
    * (array of lines, single string) by parsing twice and coalescing.
    */
  def loadIpynbFiles(spark: SparkSession, paths: Seq[Path]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val arrSchema = StructType.fromDDL(
      "cells ARRAY<STRUCT<cell_type: STRING, source: ARRAY<STRING>>>")
    val strSchema = StructType.fromDDL(
      "cells ARRAY<STRUCT<cell_type: STRING, source: STRING>>")
    spark.read.option("wholetext", "true")
      .text(paths.map(_.toString): _*)
      .select(
        from_json(col("value"), arrSchema).as("a"),
        from_json(col("value"), strSchema).as("s"))
      // a string-source notebook parses under the array schema as cells
      // with NULL sources (empty text, not null) — nullif makes coalesce
      // actually fall through to the string-schema branch
      .select(coalesce(
        nullif(array_join(transform(col("a.cells"),
          c => concat_ws("", c.getField("source"))), "\n\n"), lit("")),
        nullif(array_join(col("s.cells.source"), "\n\n"), lit(""))).as("content"),
        map().cast("map<string,string>").as("metadata"))
      .filter(length(col("content")) > 0)
  }

  private def failClosed(parsed: DataFrame): DataFrame = {
    if (parsed.filter(col("content").isNull || length(col("content")) === 0)
        .limit(1).count() > 0)
      throw new graft.model.GraftException(
        graft.model.ErrorCodes.DocumentParseUnsupported)
    parsed
  }

  /** Extension-routed loading — the engine's SimpleDirectoryReader analog
    * (vector_api.py:344-347): pdf/epub through the binary extractors, jsonl
    * and html through their structured loaders, everything else wholetext.
    * One DataFrame out (unionByName over the per-format parts).
    */
  def loadAuto(spark: SparkSession, paths: Seq[Path]): DataFrame = {
    val byKind = paths.groupBy { p =>
      extOf(p) match {
        case "pdf" => "pdf"
        case "epub" => "epub"
        case "docx" => "docx"
        case "jsonl" => "jsonl"
        case "ipynb" => "ipynb"
        case "html" | "htm" => "html"
        case "md" | "markdown" => "md"
        case "csv" => "csv"
        case "xml" => "xml"
        case "rtf" => "rtf"
        case _ => "text"
      }
    }
    val parts = Seq(
      byKind.get("text").map(ps => loadTextFiles(spark, ps)),
      byKind.get("jsonl").map(ps => loadJsonl(spark, ps)),
      byKind.get("html").map(ps => loadHtmlFiles(spark, ps)),
      byKind.get("md").map(ps => loadMarkdownFiles(spark, ps)),
      byKind.get("csv").map(ps => loadCsvFiles(spark, ps)),
      byKind.get("xml").map(ps => loadXmlFiles(spark, ps)),
      byKind.get("rtf").map(ps => loadRtfFiles(spark, ps)),
      byKind.get("ipynb").map(ps => loadIpynbFiles(spark, ps)),
      byKind.get("pdf").map(ps => loadPdfFiles(spark, ps)),
      byKind.get("epub").map(ps => loadEpubFiles(spark, ps)),
      byKind.get("docx").map(ps => loadDocxFiles(spark, ps))).flatten
    require(parts.nonEmpty, "document input required")
    parts.reduce(_ unionByName _)
  }

  /** Extension-routed whole-directory load (post-policy root): driver-side
    * bounded walk (the <=1000-file policy scan already ran), then
    * [[loadAuto]] over the regular files found.
    */
  def loadDirectoryAuto(spark: SparkSession, dir: Path): DataFrame = {
    val walk = java.nio.file.Files.walk(dir)
    val files =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toVector.sorted
      finally walk.close()
    loadAuto(spark, files)
  }
}
