package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.catalog.Catalog
import graft.ingest.{Embed, Embedder, Ingest, Sanitize}
import graft.model.CollectionEntry

/** Structured Streaming extension: continuous document ingest and
  * event-stream analytics.
  *
  * The reference is strictly batch (ingestion is bounded request/response —
  * SURVEY §1.3), so this module is the 100 TB-pipeline extension: the same
  * sanitize -> content-address -> dedup semantics applied to an unbounded
  * source, plus the streaming analogs of the events queries
  * (windowed aggregation with watermark, session windows via
  * flatMapGroupsWithState).
  *
  * All transforms reuse the BATCH column functions (Sanitize/Ingest) —
  * one code path, two execution modes, which is exactly what Structured
  * Streaming's incremental-query model is for.
  */
object StreamingIngest {

  /** Continuous ingest pipeline over a streaming (content[, metadata])
    * source: sanitize, derive content-addressed ids, drop duplicate ids
    * within the watermark horizon (streaming analog of the batch last-wins
    * dedup — streaming keeps FIRST-wins, the only semantics expressible
    * without unbounded state), stamp ingest time.
    *
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`) is what
    * bounds the dedup state: keys older than the watermark horizon are
    * evicted, so state size tracks the horizon, not the stream's lifetime.
    * Plain `dropDuplicates("id")` would never evict (the event-time column
    * is not part of the keys) — global dedup with unbounded state.
    */
  def ingestPipeline(source: DataFrame, watermark: String = "10 minutes"): DataFrame =
    source
      .withColumn("content", Sanitize.sanitizeText(col("content")))
      .withColumn("id", Ingest.contentId(col("content")))
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("id")

  /** Rate-limited file source: a directory watched as an unbounded stream,
    * at most `maxFilesPerTrigger` files per micro-batch — the ingestion
    * throttle for continuous document drops (one line = one document).
    * At scale this is the standard landing-zone pattern: producers write
    * files, the stream paces itself through the backlog.
    */
  def fileSource(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .select(col("value").as("content"))

  /** Periodic batch MERGE of the streaming staging dir into the governed
    * collection table. The stream's watermark dedup bounds state but cannot
    * see across restarts or late micro-batches, so compaction re-resolves
    * id collisions (latest ingest_ts wins) before the upsert. Returns the
    * number of documents merged.
    *
    * This is a maintenance job, not an API ingest call: the reference's
    * 1000-doc request bound (vector_api.py:47-49) governs request payloads,
    * not table maintenance, so no bounds check here.
    */
  /** Trained-quality compaction gate: a persisted
    * [[graft.operators.QualityClassifier.Model]] plus its bucket count and
    * the minimum micro-margin a micro-batch row must score to land —
    * score-on-ingest, the production deployment shape for a trained
    * filter (train offline, gate the stream).
    */
  final case class QualityGate(
      model: graft.operators.QualityClassifier.Model,
      buckets: Int,
      minMarginMicro: Long)

  /** C4 compaction gate ([[graft.dedup.CorpusFilters.c4Rules]]): the one
    * REWRITING gate — surviving rows land with their line-filtered
    * `cleaned` text (so ids are content-addressed on what is actually
    * stored), pages failing the sentence/lorem/brace rules drop entirely.
    */
  final case class C4Gate(minLineWords: Int = 5, minSentences: Int = 3)

  /** Chat-structure compaction gate ([[graft.operators.Chat]]): contents
    * are JSON message transcripts, and conversations failing the
    * structural audit — unparseable JSON (zero turns), broken
    * user/assistant alternation, missing user start or assistant end,
    * optionally a missing system turn — never land. Runs FIRST (before
    * sanitize/dedup/embed): a malformed transcript must never cost a
    * model call, the same pre-embed stance as every other gate.
    */
  final case class ChatGate(requireSystem: Boolean = false)

  /** Continuous-profiling sidecars maintained per compaction batch (see
    * [[SketchMaintenance]]): an HLL register table over the landed ids
    * (distinct-documents-ever-ingested, exact-merge across batches) and a
    * CMS cell table over the landed tokens (heavy-hitter vocabulary).
    * Parameters are sketch identity — fixed for the sidecar's lifetime.
    */
  final case class ProfileSketches(
      hllPath: String,
      cmsPath: String,
      p: Int = graft.operators.Hll.DefaultP,
      width: Int = 1024,
      depth: Int = 4)

  def compact(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      stagingPath: String,
      embedder: Embedder,
      nearDupCosine: Option[Double] = None,
      nearDupJaccard: Option[Double] = None,
      qualityGate: Option[QualityGate] = None,
      langAllow: Option[Set[String]] = None,
      c4Gate: Option[C4Gate] = None,
      profile: Option[ProfileSketches] = None,
      chatGate: Option[ChatGate] = None): Long = {
    // the two structural gates are mutually exclusive: ChatGate validates
    // the content AS a JSON transcript, C4Gate REWRITES the content as
    // prose lines — running both would line-mangle the JSON the chat gate
    // just validated (and ids are content-addressed on what lands)
    require(chatGate.isEmpty || c4Gate.isEmpty,
      "chatGate and c4Gate are mutually exclusive: C4 line-rewriting would mangle a validated JSON transcript")
    val staged = spark.read.parquet(stagingPath)
    val w = Window.partitionBy("id").orderBy(col("ingest_ts").desc)
    val latest0 = staged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("content"))
    // chat-structure gate runs FIRST: the content IS the transcript, and
    // an unparseable one produces zero turns -> no audit row -> the semi
    // join drops it governed (the from_json null case)
    val latest = chatGate.fold(latest0) { g =>
      // distinct first: two staged docs with IDENTICAL valid transcripts
      // would otherwise share one conv_id and double every turn, failing
      // the alternation audit for both (prepare() collapses duplicate
      // contents to one id anyway, so nothing is lost)
      val withId = latest0.distinct().select(col("content").as("cid"), col("content"))
      val valid = graft.operators.Chat.alternationReport(
          graft.operators.Chat.parseConversations(withId, "cid", "content"))
        .filter(col("valid") &&
          (if (g.requireSystem) col("has_system") else lit(true)))
        .select(col("conv_id").as("cid"))
      withId.join(valid, Seq("cid"), "left_semi").select(col("content"))
    }
    // C4 gate runs FIRST when configured (it excludes ChatGate, above) —
    // it rewrites content (kept lines only), and
    // everything downstream (content-addressed ids, sanitize, dedup and
    // quality gates, the embed pass) must see the stored text, not the
    // raw crawl. The raw content doubles as the row id here: c4Rules
    // only needs a carrier column, and duplicate contents collapse to
    // one id at prepare() anyway.
    val cleaned = c4Gate.fold(latest) { g =>
      graft.dedup.CorpusFilters.c4Rules(
          latest.select(col("content").as("id"), col("content")),
          g.minLineWords, g.minSentences)
        .filter(col("keep"))
        .select(col("cleaned").as("content"))
    }
    // prepare() re-derives the same content-addressed ids (idempotent on
    // already-sanitized content), so stream and batch stay one code path
    val prepared = Ingest.prepare(cleaned)
    // content-jaccard gate runs BEFORE the embed pass (same stance as
    // Api.addDocumentsDedupContent: textually duplicated rows never reach
    // the embedding model); candidate core = the persistent MinHash index
    val textGated = nearDupJaccard.fold(prepared) { t =>
      prepared.join(graft.dedup.MinHashIndex.nearDupIds(
          spark, catalog, entry, prepared.select("id", "content"), t),
        Seq("id"), "left_anti")
    }
    // language gate (multilingual pipelines: only the allowed languages
    // land) — trigram-profile classification, pre-embed like every gate:
    // a wrong-language row must never cost a model call
    val langGated = langAllow.fold(textGated) { allowed =>
      textGated.join(
        graft.functions.LangId.classify(textGated.select(col("id"), col("content").as("text")))
          .filter(col("predicted").isin(allowed.toSeq: _*))
          .select("id"),
        Seq("id"), "left_semi")
    }
    // trained-quality gate runs pre-embed too (a low-quality row must
    // never cost a model call): mean-pooled margin under the persisted
    // classifier, rows below the floor drop here
    val qualityGated = qualityGate.fold(langGated) { g =>
      // builds on langGated, not textGated: gates COMPOSE — scoring the
      // pre-language-gate frame here silently un-dropped disallowed
      // languages whenever both gates were configured (r7 fix, spec-pinned)
      val feats = graft.operators.QualityClassifier.features(
        langGated.select(col("id"), lit(0).as("label"),
          graft.functions.TextFunctions.tokens(col("content")).as("toks")),
        g.buckets)
      langGated.join(
        graft.operators.QualityClassifier.score(feats, g.model)
          .filter(col("margin_micro") < g.minMarginMicro).select("id"),
        Seq("id"), "left_anti")
    }
    // cached so the gate's band/verify pass and the merge share ONE
    // embedding run (a real model call must not execute twice per batch)
    val all = Ingest.withNorm(Embed.withEmbeddings(qualityGated, embedder)).cache()
    // optional index-backed near-dup gate (same candidate core as
    // Api.addDocumentsDedup): micro-batch rows near-duplicating an
    // already-stored document drop before the merge — streaming dedup
    // against the CORPUS, not just within the watermark horizon
    val embedded = nearDupCosine.fold(all) { t =>
      all.join(graft.ann.SignLshIndex.nearDupIds(spark, catalog, entry, all, t),
        Seq("id"), "left_anti")
    }.cache()
    // compaction mutates the same table + index dirs the Api write paths
    // do — it must hold the SAME per-warehouse monitor (WriteLocks), or a
    // concurrent add_documents races the bucket/partition swaps
    try catalog.monitor {
      val merged = embedded.count()
      val existing = catalog.readDocuments(entry)
      // compaction is a write like any other: persisted derived indexes
      // must reflect the merged table — incrementally, so per-micro-batch
      // maintenance cost tracks the batch size, not the corpus size
      // (graft.Indexes scaladoc)
      val buckets = Ingest.bucketsOf(embedded)
      val replaced = catalog.readDocumentsPhysical(entry)
        .filter(col("bucket").isin(buckets: _*)).drop("bucket")
        .join(embedded.select("id"), Seq("id"), "left_semi")
      val pending = graft.Indexes.stage(spark, catalog, entry,
        oldRows = replaced, newRows = embedded)
      // bucket-level MERGE: compaction rewrites only the micro-batch's
      // id buckets, so maintenance cost tracks batch size, not corpus size
      Ingest.mergeUpsert(spark, catalog, entry, embedded, Some(buckets))
      graft.Indexes.applyPending(pending, embedder)
      // bloom existence sketch is a derived index like the rest: fold the
      // micro-batch's ids in so batch-API inserts keep their O(batch) check
      graft.ingest.BloomGate.noteInserted(catalog, entry, embedded)
      // continuous profiling: fold the batch's HLL registers / CMS cells
      // into the persisted sketch tables — exact merges, so the stored
      // sketch equals a full-corpus recompute (SketchMaintenance scaladoc)
      profile.foreach { pr =>
        SketchMaintenance.foldHll(pr.hllPath, embedded.select("id"), Seq(), "id", pr.p)
        SketchMaintenance.foldCms(pr.cmsPath,
          embedded.select(explode(
            graft.functions.TextFunctions.tokens(col("content"))).as("tok")),
          "tok", pr.width, pr.depth)
      }
      merged
    } finally { embedded.unpersist(); all.unpersist() }
  }

  /** Write the ingest stream to a Parquet collection dir (append-only
    * staging; compaction into the main table is a periodic batch MERGE).
    */
  def startIngest(
      pipeline: DataFrame,
      path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    pipeline.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .start()

  /** Windowed event counts with a watermark — the streaming analog of
    * OlapQueries.eventsWindow. Input needs (ts: timestamp, event_type,
    * value).
    */
  def windowedCounts(events: DataFrame,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream-stream click-attribution join — the interval-join shape
    * (impression at t, click in [t, t + attributionWindow] for the same
    * user) as a genuine two-sided Structured Streaming join. Watermarks on
    * BOTH inputs plus the event-time bound in the join condition are what
    * make state finite: Spark retains impression state only until
    * click-watermark passes imp_ts + window and click state only until
    * imp-watermark passes click_ts, so at any moment each executor holds a
    * bounded time slice of both streams regardless of total stream length
    * — the 100 TB/day property. Batch analog: operators.RangeJoin /
    * eventsFunnel's as-of chain. Inner join, so output is append-safe.
    *
    * Inputs: impressions(imp_user long, imp_ts timestamp, campaign);
    * clicks(click_user long, click_ts timestamp).
    */
  def attributionJoin(
      impressions: DataFrame,
      clicks: DataFrame,
      attributionWindow: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val imp = impressions.withWatermark("imp_ts", watermark)
    val clk = clicks.withWatermark("click_ts", watermark)
    imp.join(clk,
        expr(s"""imp_user = click_user AND
                |click_ts >= imp_ts AND
                |click_ts <= imp_ts + interval $attributionWindow""".stripMargin))
      .select(col("imp_user").as("user_id"), col("campaign"),
        col("imp_ts"), col("click_ts"),
        expr("timestampdiff(MILLISECOND, imp_ts, click_ts)").as("latency_ms"))
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Int, sum_value: Double)

  /** Gap-based sessionization with custom state — the
    * flatMapGroupsWithState shape (KeyValueGroupedDataset) for semantics
    * the built-in session_window can't express (e.g. emitting enriched
    * session records on timeout). Batch analog: OlapQueries.eventsSessionize.
    */
  def sessionize(
      spark: SparkSession,
      events: DataFrame,
      gapMs: Long = 30L * 60 * 1000): DataFrame = {
    import spark.implicits._
    val typed = events.select(col("user_id").cast("long"),
      col("ts").cast("timestamp"), col("value").cast("double")).as[Event]
    typed
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.last, s.n, s.sum))
          } else {
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= SessionOut(user, s.start, s.last, s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }.toDF()
  }
}
