package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe: replicate the sf0.1 corpus M-fold and time the
  * heavy operators at each multiplier, as evidence that their cost curves
  * are linear in corpus size (the property that must survive 100 TB).
  *
  * Replication suffixes EVERY token with the replica index
  * (`w -> wx<rep>`), so each replica preserves the base corpus's
  * internal near-duplicate structure (and token count) while sharing
  * zero shingles/terms across replicas — true output (near-dup pairs, index rows) therefore
  * grows exactly M-fold, and any super-linear runtime is the OPERATOR's
  * doing, not the workload's. Embedding replicas keep the base vectors
  * (ANN serving is top-k-bounded, so identical copies don't change its
  * cost shape) with ids re-salted to stay distinct.
  *
  *   java -cp ... graft.ScaleProbe /root/testdata/sf0.1 1,8,64
  *
  * Prints one JSON line per (multiplier, op): {"mult":M,"op":...,
  * "rows":N,"sec":S}. Not part of the library surface or the driver
  * contract — evidence tooling like PlanDump.
  */
object ScaleProbe {

  private def saltedDocs(base: DataFrame, mult: Int): DataFrame =
    base.select(col("*"), explode(sequence(lit(0), lit(mult - 1))).as("rep"))
      .select(
        concat_ws("#", col("id"), col("rep")).as("id"),
        concat_ws(" ",
          transform(split(col("content"), " "),
            w => concat(w, lit("x"), col("rep")))).as("content"))

  private def saltedVectors(base: DataFrame, mult: Int): DataFrame =
    base.select(col("*"), explode(sequence(lit(0), lit(mult - 1))).as("rep"))
      .select(
        concat_ws("#", col("id"), col("rep")).as("id"),
        col("embedding"), col("norm"))

  /** Events replicated with per-replica user/event-id salting: every
    * replica's users are DISJOINT, so keyed temporal operators see M x the
    * key count at CONSTANT per-key event density — per-key window/join work
    * is unchanged and true output grows exactly M-fold. Timestamps are
    * untouched (the time range is the workload's, not the replica's).
    */
  private def saltedEvents(base: DataFrame, mult: Int): DataFrame =
    base.select(col("*"), explode(sequence(lit(0), lit(mult - 1))).as("rep"))
      .select(
        (col("event_id") * mult + col("rep")).as("event_id"),
        col("ts"),
        (col("user_id") * mult + col("rep")).as("user_id"),
        col("event_type"), col("value"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = args.lift(1).getOrElse("1,8,64").split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val printTimer: (Int, String, () => Long) => Unit = (mult, op, f) => {
      val t0 = System.nanoTime()
      val rows = f()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"mult":$mult,"op":"$op","rows":$rows,"sec":$sec%.3f}""")
      spark.catalog.clearCache()
      System.gc()
    }
    // untimed warmup at the smallest multiplier: JIT + janino compilation
    // would otherwise land entirely in the first timed row
    runAll(spark, sfDir, mults.min, cpus.toInt, (_, _, f) => { f(); () })
    mults.foreach { m =>
      // release the PREVIOUS multiplier's localCheckpoint blocks: they are
      // unreachable from here on but invisible to clearCache(), and letting
      // them accumulate turns later multipliers' rows into GC-pressure
      // measurements (quality_classifier at 64x: 30s in-sweep vs 7s in a
      // fresh JVM before this unpersist existed).
      // INVARIANT: no frame may be reused ACROSS multipliers — this blanket
      // unpersist truncates localCheckpoint lineage irrecoverably, so any
      // future cross-multiplier cached table would fail (checkpointed) or
      // silently recompute (cached). Each runAll builds its frames fresh.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      runAll(spark, sfDir, m, cpus.toInt, printTimer)
    }
    spark.stop()
  }

  private def runAll(
      spark: SparkSession, sfDir: String, m: Int, cpus: Int,
      timer: (Int, String, () => Long) => Unit): Unit = {
    // SPARK_GRAFT_OPS=a,b restricts the sweep (iteration loop)
    val only = sys.env.get("SPARK_GRAFT_OPS").map(_.split(",").toSet)
    def time(op: String)(f: => Long): Unit =
      if (only.forall(_.contains(op))) timer(m, op, () => f)
    val docs = saltedDocs(Tables.textCorpus(spark, sfDir), m)
      .repartition(cpus).localCheckpoint() // materialized, evenly spread
    // repartition matters: the base parquet is ONE file, and explode keeps
    // its partitioning — narrow operators downstream would otherwise run
    // single-task (measured: the whole blocked-kNN stage on one core)
    val vecs = saltedVectors(Tables.vectors(spark, sfDir), m)
      .repartition(cpus).localCheckpoint()
    val qs = Tables.queryVectors(spark, sfDir, Seq(0, 1, 2))

    time("dedup_exact")(graft.dedup.Dedup.exact(docs).count())
    time("dedup_minhash")(
      graft.dedup.Dedup.minHashNearDups(docs, threshold = 0.6).count())
    time("dedup_simhash")(
      graft.dedup.Dedup.simHashNearDups(docs).count())
    time("dedup_simhash64")(
      graft.dedup.Dedup.simHash64NearDups(docs).count())
    time("dedup_ngram_prefix")(
      graft.dedup.Dedup.ngramJaccardPrefix(docs, threshold = 0.5).count())
    time("text_repetition")(
      graft.dedup.CorpusFilters.repetitionSignals(docs).count())
    // salting keeps per-replica gram dfs intact, so the flagged vocabulary
    // (and with it true output) grows exactly M-fold
    time("text_boilerplate")(
      graft.dedup.CorpusFilters.boilerplateCoverage(docs, n = 3, minDf = 5).count())
    // count() alone lets the optimizer skip the reassembly aggregate (the
    // final left join contributes no rows to a bare count); summing over
    // `cleaned` forces the full transform
    time("text_boilerplate_strip")(
      graft.dedup.CorpusFilters.boilerplateStrip(docs, n = 3, minDf = 5)
        .agg(count(lit(1)), sum(length(col("cleaned")))).collect()(0).getLong(0))
    // same forced-reassembly shape as boilerplate_strip: a bare count would
    // let the optimizer drop the rebuild aggregate
    time("dedup_spans")(
      graft.dedup.CorpusFilters.spanDedup(docs, k = 5)
        .agg(count(lit(1)), sum(length(col("cleaned")))).collect()(0).getLong(0))
    // C4 gate: one native-expression pass per row — must stay linear-flat
    // (the lambda-HOF form it replaced re-inlined the line analysis ~7x);
    // the sum over `cleaned` forces the rewrite, not just the flags
    time("filter_c4")(
      graft.dedup.CorpusFilters.c4Rules(docs, minLineWords = 2, minSentences = 1)
        .agg(count(lit(1)), sum(length(col("cleaned")))).collect()(0).getLong(0))
    // readability: narrow per-row arithmetic, the cheapest gate in the set
    time("text_readability")(
      graft.dedup.CorpusFilters.readability(docs)
        .agg(count(lit(1)), sum(col("n_syllables"))).collect()(0).getLong(0))
    // heavy hitters: the whole point is NO vocabulary-sized shuffle — the
    // candidate union is <= capacity x partitions rows and the recount is
    // a broadcast semi-join, so the curve should track the token-stream
    // scan. Salting grows the vocab M-fold; capacity stays comfortably
    // above it at every multiplier, keeping the result exact
    time("terms_topk")(
      graft.operators.HeavyHitters.topKTerms(
        docs.select(col("id"),
          graft.functions.TextFunctions.tokens(col("content")).as("toks")),
        k = 20, capacity = 65536).count())
    // cross-corpus near-dup join: replica-internal near-dup structure
    // straddles the hash-parity split, so true output grows M-fold; the
    // bipartite (band,bucket) inner join must keep candidates output-shaped
    time("dedup_across") {
      val par = graft.functions.TextFunctions.stableHash32(col("id")) % 2
      graft.dedup.Dedup.minHashNearDupsAcross(
        docs.filter(par === 0), docs.filter(par === 1), threshold = 0.6).count()
    }
    // novelty: distinct reference shingles (vocab-sized agg) + a LEFT SEMI
    // probe per incoming shingle — both legs linear in corpus size
    time("text_novelty") {
      val par = graft.functions.TextFunctions.stableHash32(col("id")) % 2
      graft.dedup.Dedup.noveltyScore(
          docs.filter(par === 1), docs.filter(par === 0))
        .agg(count(lit(1)), sum(col("n_novel"))).collect()(0).getLong(0)
    }
    // perplexity: the reference slice is a fixed FRACTION (hash-of-id 1/20),
    // so the LM grows with the corpus like a real per-snapshot retrain; the
    // group column gives ~20 languages so the bucket windows stay
    // per-group-bounded (the documented exact form — approx cutoffs are the
    // swap-in past that)
    time("text_perplexity") {
      val toks = graft.dedup.CorpusFilters.tokenized(docs)
      val lm = graft.dedup.Perplexity.train(
        toks.filter(graft.functions.TextFunctions.stableHash32(col("id")) % 20 === 0))
      val scored = graft.dedup.Perplexity.score(toks, lm)
        .withColumn("lang",
          concat(lit("g"), graft.functions.TextFunctions.stableHash32(col("id")) % 20))
      graft.dedup.Perplexity.buckets(scored)
        .agg(count(lit(1)), sum(col("nll_micro"))).collect()(0).getLong(0)
    }
    // Kneser-Ney variant: same dataflow as text_perplexity plus the
    // continuation/context legs — all vocabulary-table-sized keyed aggs
    time("text_perplexity_kn") {
      val toks = graft.dedup.CorpusFilters.tokenized(docs)
      val lm = graft.dedup.Perplexity.trainKn(
        toks.filter(graft.functions.TextFunctions.stableHash32(col("id")) % 20 === 0))
      val scored = graft.dedup.Perplexity.scoreKn(toks, lm)
        .withColumn("lang",
          concat(lit("g"), graft.functions.TextFunctions.stableHash32(col("id")) % 20))
      graft.dedup.Perplexity.buckets(scored)
        .agg(count(lit(1)), sum(col("nll_micro"))).collect()(0).getLong(0)
    }
    // SQ8 serving: train = one min/max agg, encode = narrow transform, ADC =
    // codes-only scan with bounded top-k — the whole path should be one
    // linear pass regardless of M
    time("ann_sq") {
      val model = graft.ann.Sq.train(vecs.select("id", "embedding"))
      val codes = graft.ann.Sq.encode(vecs.select("id", "embedding"), model)
      graft.ann.Sq.searchAdcRerank(codes, vecs, model, qs, k = 10, oversample = 4).count()
    }
    // bloom existence prefilter: the sketch build is the one corpus pass
    // (linear by construction); the per-batch check is the operator under
    // test and must stay FLAT in M — with a fresh batch (the common
    // incremental-ingest case) it touches zero corpus bytes
    var bloomSketch: org.apache.spark.util.sketch.BloomFilter = null
    time("bloom_build") {
      bloomSketch = graft.ingest.BloomGate.build(
        docs, "id", expectedItems = 10000L * m, fpp = 0.01)
      bloomSketch.bitSize()
    }
    time("bloom_check") {
      val batch = docs.select(concat(col("id"), lit("~new")).as("id"))
        .limit(1000).localCheckpoint()
      graft.ingest.BloomGate.notExisting(
        docs.select("id"), batch, "id", bloomSketch).count()
    }
    // approx swap-ins vs their exact oracles: the exact forms pay a
    // per-group sort (percentile) / an Expand duplication (distinct); the
    // sketch forms (GK percentile, HLL distinct) are mergeable partials —
    // the gap is the price of exactness the 100 TB path avoids
    val profDocs = docs.select(col("id"), col("content"),
      (graft.functions.TextFunctions.stableHash32(col("id")) % 20).as("grp"),
      length(col("content")).cast("double").as("v"))
    time("percentiles_exact")(
      graft.operators.Profile.percentiles(profDocs, "grp", "v").count())
    time("percentiles_approx")(
      graft.operators.Profile.percentiles(profDocs, "grp", "v", approx = true).count())
    time("profile_exact")(
      graft.operators.Profile.profile(profDocs, Seq("id", "content", "grp")).count())
    time("profile_approx")(
      graft.operators.Profile.profile(profDocs, Seq("id", "content", "grp"),
        approxDistinct = true).count())
    // paragraph dedup: explode + one content-keyed argmin + per-doc
    // reassembly — should track corpus size linearly
    time("dedup_paragraph") {
      val pd = docs.select(col("id"),
        regexp_replace(col("content"), "( \\S+ \\S+ \\S+)", "$1\n").as("content"))
      graft.dedup.CorpusFilters.paragraphDedup(pd)
        .agg(count(lit(1)), sum(length(col("cleaned")))).collect()(0).getLong(0)
    }
    // mining family: blocked hard negatives (cluster-keyed candidates) and
    // pool-based random negatives (anchors x poolSize, never x corpus) —
    // both should stay flat-ish per anchor as the corpus grows
    // salted ids are strings — anchor selection goes through the parity
    // hash, not arithmetic; positives = self (already excluded) keeps the
    // probe about timing, not pair semantics
    def miningAnchors = vecs
      .filter(graft.functions.TextFunctions.stableHash32(col("id")) % 100 === 0)
      .select(col("id").as("anchor_id"))
    def miningPositives = miningAnchors
      .select(col("anchor_id"), col("anchor_id").as("pos_id"))
    time("hard_negatives_blocked") {
      // cluster count scales WITH the corpus (16 per base replica — the
      // IVF sizing convention: K grows so per-cluster size stays bounded;
      // a fixed K would make the blocked join O(N^2/K), measured 31s at
      // 64x vs ~2s with scaled K)
      val cents = graft.ann.Ann.representativeCentroids(
        vecs.withColumn("label",
          graft.functions.TextFunctions.stableHash32(col("id")) % (16 * m)), "label")
      graft.operators.Mining.hardNegativesBlocked(
        vecs, miningAnchors, miningPositives, 10, cents).count()
    }
    time("random_negatives") {
      graft.operators.Mining.randomNegatives(
        vecs, miningAnchors, miningPositives, 10, 1024).count()
    }
    // BPE training: one corpus pass to the vocab-sized word table, then
    // per-round keyed pair aggs over that table — rounds should scale with
    // VOCAB (which the salted replicas grow M-fold), staying shuffles over
    // a table far below corpus size
    time("bpe_train")(
      graft.operators.Bpe.train(
        docs.select(col("id"),
          graft.functions.TextFunctions.tokens(col("content")).as("toks")),
        merges = 4).count())
    // unigram-LM: one corpus pass to the word table, seeding/EM over that
    // (inventory alphabet-bounded); salting grows the vocab M-fold so the
    // curve tracks VOCAB growth, not corpus growth
    time("unigram_train")(
      graft.operators.UnigramLm.train(
        docs.select(col("id"),
          graft.functions.TextFunctions.tokens(col("content")).as("toks")),
        rounds = 1).count())
    // term statistics: tf/df and unigram/bigram keyed aggs over the salted
    // token stream (vocab grows M-fold, per-replica term structure intact);
    // sums force the scoring math the optimizer would prune under count()
    time("keywords_tfidf") {
      graft.operators.Keywords.tfidfTopK(
          docs.select(col("id"),
            graft.functions.TextFunctions.tokens(col("content")).as("toks")), 5)
        .agg(count(lit(1)), sum(col("tfidf"))).collect()(0).getLong(0)
    }
    time("collocations_pmi") {
      graft.operators.Keywords.pmiCollocations(
          docs.select(col("id"),
            graft.functions.TextFunctions.tokens(col("content")).as("toks")),
          50, 5L)
        .agg(count(lit(1)), sum(col("pmi"))).collect()(0).getLong(0)
    }
    // Gopher rule gate: narrow per-row column work, no shuffle at all —
    // the curve should be a clean linear scan
    time("filter_gopher") {
      graft.dedup.CorpusFilters.gopherRules(docs, minWords = 20)
        .agg(count(lit(1)), sum(col("keep").cast("long"))).collect()(0).getLong(0)
    }
    // language ID: narrow trigram explode + broadcast profile join + one
    // (doc, lang) keyed agg — should be a single linear pass
    time("langid_multi") {
      graft.functions.LangId.classify(docs.select(col("id"), col("content").as("text")))
        .agg(count(lit(1)), sum(col("score"))).collect()(0).getLong(0)
    }
    // phrase search: the posexplode scan is the only corpus-sized stage;
    // only phrase-term rows shuffle. Query terms use replica 0's salted
    // spelling, so matches exist and their count stays CONSTANT as M
    // grows — the curve isolates the scan from the (tiny) shuffle.
    time("phrase_search") {
      graft.search.Lexical.phraseSearch(docs,
          Seq(0 -> "tablex0 hashx0", 1 -> "customerx0 joinx0"), k = 10, window = 3)
        .agg(count(lit(1)), sum(col("phrase_tf"))).collect()(0).getLong(0)
    }
    time("semantic_topk")(
      graft.ann.Ann.bruteTopK(vecs, qs, 10).count())
    // JL projection + projected shortlist + exact re-rank: one narrow
    // projection pass and a bounded heap — should track semantic_topk
    time("ann_rp")(
      graft.ann.Rp.searchRerank(vecs, qs, seed = 42L, targetDim = 16,
        dim = 64, k = 10, oversample = 4).count())
    // temporal family: count() would prune the carried match columns, so
    // every probe sums an output column the operator had to compute
    val events = saltedEvents(Tables.t(spark, sfDir, "events"), m)
      .withColumn("tsu",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"))
      .repartition(cpus).localCheckpoint()
    time("events_asof") {
      val clicks = events.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("tsu"))
      val views = events.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("tsu").as("vtsu"))
      graft.operators.AsOfJoin.asof(clicks, views, Seq("user_id"), "tsu", "vtsu",
          leftCols = Seq("click_id", "tsu"), rightCols = Seq("view_id", "vtsu"),
          rightTieBreak = Seq("view_id"))
        .agg(count(lit(1)), avg(col("vtsu"))).collect()(0).getLong(0) // avg: epoch-us sums overflow long at 64x
    }
    time("events_range") {
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tsu").as("ptsu"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsu").as("ctsu"), col("value"))
      graft.operators.RangeJoin.range(purchases, clicks, Seq("user_id"),
          "ptsu", "ctsu", before = 1800000000L, after = 0L,
          leftCols = Seq("event_id"), rightCols = Seq("value"))
        .agg(count(lit(1)), sum(col("value"))).collect()(0).getLong(0)
    }
    time("events_sessionize") {
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
      events
        .withColumn("prev", lag(col("tsu"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev").isNull || col("tsu") - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_sess")).over(
          byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n"), max("tsu").as("end_tsu"))
        .agg(count(lit(1)), avg(col("end_tsu"))).collect()(0).getLong(0)
    }
    // cohort retention: (user, week) distinct + per-user min + user join —
    // user count grows M-fold at constant per-user density, so every stage
    // is keyed work over M× keys
    time("events_retention") {
      val weekExpr = expr("tsu div 604800000000")
      val weeks = events.select(col("user_id"), weekExpr.as("week")).distinct()
      val first = weeks.groupBy("user_id").agg(min(col("week")).as("cohort"))
      weeks.join(first, "user_id")
        .withColumn("week_offset", col("week") - col("cohort"))
        .groupBy("cohort", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .agg(count(lit(1)), sum(col("n_active"))).collect()(0).getLong(0)
    }
    time("events_window") {
      events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), sum(col("n"))).collect()(0).getLong(0)
    }
    // mixture family: budgets/shard counts scale WITH the corpus (the 100 TB
    // recipe — fixed budgets would shrink output share as M grows and fixed
    // shard counts would grow per-shard windows); quality from a
    // materialized token column, tokens synthesized per doc
    val mixDocs = docs
      .select(col("id"), graft.functions.TextFunctions.tokens(col("content")).as("__toks"),
        (graft.functions.TextFunctions.stableHash32(col("id")) % 20).as("grp"))
      .select(col("id"), concat(lit("g"), col("grp")).as("group"),
        round(greatest(least(size(col("__toks")).cast("double") / 50.0, lit(1.0)), lit(0.0)) * 8, 0).as("quality"),
        size(col("__toks")).cast("long").as("tokens"))
    time("mixture_fill") {
      graft.operators.Mixture.tokenBudgetFill(mixDocs, budget = 2000L * m)
        .agg(count(lit(1)), sum(col("tokens"))).collect()(0).getLong(0)
    }
    time("mixture_fill_skew") {
      // adversarial shape: ONE dominant (group, quality) bin — every doc
      // lands in the boundary bin, so the fill degenerates to a corpus-sized
      // ordered prefix sum within a single window partition unless guarded
      val skew = mixDocs.select(col("id"), lit("g0").as("group"),
        lit(1.0).as("quality"), col("tokens"))
      graft.operators.Mixture.tokenBudgetFill(skew, budget = 2000L * m)
        .agg(count(lit(1)), sum(col("tokens"))).collect()(0).getLong(0)
    }
    time("domain_cap") {
      graft.operators.Mixture.domainTokenCap(
          mixDocs.select("id", "group", "tokens"), col("id"), cap = 2000L * m)
        .agg(count(lit(1)), sum(col("tokens"))).collect()(0).getLong(0)
    }
    time("export_shards") {
      graft.operators.Mixture.exportShards(docs.select("id"), col("id"), 16 * m)
        .agg(count(lit(1)), max(col("pos"))).collect()(0).getLong(0)
    }
    // packing: the prefix sum must stay one corpus shuffle; sum over
    // pos_in_seq forces the window output (count alone would prune it)
    time("pack_offsets") {
      graft.operators.Pack.packOffsets(
          mixDocs.select("id", "tokens"), seqLen = 512L)
        .agg(count(lit(1)), sum(col("pos_in_seq"))).collect()(0).getLong(0)
    }
    // DSIR: target slice is a fixed fraction (grows with the corpus, like
    // a real trusted-domain crawl); k scales with M so selection share is
    // constant and the top-k heap is the only bounded structure
    time("dsir_select") {
      val toks = graft.dedup.CorpusFilters.tokenized(docs)
      val target = toks.filter(
        graft.functions.TextFunctions.stableHash32(col("id")) % 20 === 0)
      val B = 4096
      val tab = graft.operators.Dsir.importanceTable(
        graft.operators.Dsir.bucketCounts(target, B),
        graft.operators.Dsir.bucketCounts(toks, B), B)
      graft.operators.Dsir.resampleTopK(
          graft.operators.Dsir.importanceWeights(toks, tab, B), 100 * m)
        .agg(count(lit(1)), sum(col("key_micro"))).collect()(0).getLong(0)
    }
    // classifier: T=2 full-batch rounds — each round is one pass over the
    // persisted feature frame; label = hash slice (fixed fraction)
    time("quality_classifier") {
      val toks = graft.dedup.CorpusFilters.tokenized(docs)
        .withColumn("label",
          (graft.functions.TextFunctions.stableHash32(col("id")) % 20 === 0)
            .cast("int"))
      // persist (NOT localCheckpoint): the probe must free these blocks
      // eagerly after the op — clearCache() does not reach checkpoint
      // RDDs, and letting multipliers' feature frames pile up turns the
      // later sweep rows into GC-pressure measurements
      val feats = graft.operators.QualityClassifier.features(toks, 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val w = graft.operators.QualityClassifier.train(feats, 64, iters = 2)
        graft.operators.QualityClassifier.score(feats, w)
          .agg(count(lit(1)), sum(col("margin_micro"))).collect()(0).getLong(0)
      } finally feats.unpersist(blocking = true)
    }
    time("corpus_profile") {
      graft.operators.Profile.profile(docs, Seq("id", "content")).count()
    }
    // SemDeDup: cluster count scales with the corpus (constant per-cluster
    // size bounds the within-cluster pair join — same recipe as
    // knn_blocked); centroids train on the bounded base sample
    time("dedup_semantic") {
      val train = Tables.vectors(spark, sfDir).select("id", "embedding", "norm")
      val cents = graft.ann.Ann.kmeansCentroids(train, 16 * m, 2)
      graft.dedup.Dedup.semDeDup(vecs, cents, threshold = 0.9)
        .agg(count(lit(1)), sum(col("keep").cast("long"))).collect()(0).getLong(0)
    }
    time("knn_blocked") {
      // the 100 TB recipe: cluster COUNT scales with the corpus (keeps
      // per-cluster size — and the within-cluster join — constant);
      // centroids train on a bounded, DEDUPLICATED sample (here: the base
      // vectors before replication — training on the replicated corpus
      // seeds duplicate centroids, which collapse into few giant skewed
      // clusters), never the full corpus
      val train = Tables.vectors(spark, sfDir)
        .select("id", "embedding", "norm")
      val cents = graft.ann.Ann.kmeansCentroids(train, 16 * m, 2)
      val assigned = graft.ann.Ann.assign(vecs, cents)
      graft.ann.Ann.knnJoinWithin(assigned, 5).count()
    }
    // near-dup graph PageRank: replicas share no shingles, so the edge
    // list (and the graph) grows exactly M-fold; 5 iterations of keyed
    // join+agg must track the edge count, not the corpus pair space.
    // late-r8: the ADAPTIVE route, as the query runs it — on this
    // replica corpus the per-doc candidate fan-out stays ~261 at every
    // multiplier (replicas share no shingles), so the diagnosis picks
    // the plain route; a df-spiky corpus would flip it to the prefix
    // route whose 64x fresh-JVM curve is measured at 117.5 s
    time("graph_pagerank") {
      val pairs = graft.dedup.Dedup.ngramJaccardAdaptive(docs, threshold = 0.3)
        .select("a", "b")
      graft.operators.Graph.pageRank(pairs, iters = 5)
        .agg(count(lit(1)), sum(col("rank_micro"))).collect()(0).getLong(0)
    }
    // session transition matrix: per-user windows at constant per-key
    // density (salted users are disjoint), transition output bounded by
    // |event-type|^2 — the curve must track the event count
    time("events_markov") {
      graft.operators.Transitions.sessionTransitions(
          events.select(col("user_id"), col("event_id"), col("event_type"),
            col("tsu").as("ts_ms")),
          gapMs = 1800000000L) // tsu is micros; same 30-min gap
        .agg(count(lit(1)), sum(col("n"))).collect()(0).getLong(0)
    }
    // per-dim embedding stats: one narrow explode + a 64-key combine-
    // friendly agg — the flattest curve in the sweep if healthy
    time("embed_stats") {
      graft.operators.Profile.embeddingStats(vecs)
        .agg(count(lit(1)), sum(col("n"))).collect()(0).getLong(0)
    }
    // exact AUC: distinct-margin agg + B-bucket prefix sum — the curve
    // must track the scored-row scan, never a global sort (margins here
    // are token counts vs a length label: dense ties, the hard case)
    time("classifier_auc") {
      val scored = docs.select(
        length(col("content")).cast("long").as("margin_micro"),
        (graft.functions.TextFunctions.stableHash32(col("id")) % 2).as("pos"))
      graft.operators.Eval.aucExact(scored)
        .agg(sum(col("n_pos") + col("n_neg"))).collect()(0).getLong(0)
    }
    // PSI drift: two narrow scans + bins-sized grid — flat-by-construction
    time("drift_psi") {
      val par = graft.functions.TextFunctions.stableHash32(col("id")) % 2
      val lens = docs.select(length(col("content")).cast("long").as("v"), par.as("p"))
      graft.operators.Drift.psi(
          lens.filter(col("p") === 0).select("v"),
          lens.filter(col("p") === 1).select("v"), "v", bins = 10)
        .agg(count(lit(1)), sum(col("n_ref"))).collect()(0).getLong(0)
    }
    // weighted sampling: TakeOrderedAndProject heap — must track the scan
    time("sample_weighted") {
      graft.operators.Sampling.weightedFixedSize(
          docs.select(col("id"), length(col("content")).cast("long").as("w")),
          "id", "w", 1000)
        .agg(count(lit(1)), sum(col("w"))).collect()(0).getLong(0)
    }
    // LSS components: O(log n) rounds of keyed min-agg+join over the
    // M-fold edge list — compare against the union-find route's collect
    time("dedup_clusters_lss") {
      val pairs = graft.dedup.Dedup.minHashNearDups(docs, threshold = 0.6)
        .select("a", "b").localCheckpoint()
      graft.operators.Graph.connectedComponentsLss(pairs)
        .agg(count(lit(1))).collect()(0).getLong(0)
    }
    // triangle census: degree-ordered wedges keep the join O(m^1.5);
    // replicas share no shingles so the edge list grows exactly M-fold.
    // late-r8: adaptive pair generation, as in graph_pagerank
    time("graph_triangles") {
      val pairs = graft.dedup.Dedup.ngramJaccardAdaptive(docs, threshold = 0.3)
        .select("a", "b")
      graft.operators.Graph.triangles(pairs)
        .agg(count(lit(1)), sum(col("tri"))).collect()(0).getLong(0)
    }
    // hourly anomaly: one keyed count over events + grid-sized tail;
    // salted users leave the (type, day, hour) grid CONSTANT while the
    // counts grow M-fold — the curve must track the event scan
    time("events_anomaly") {
      graft.operators.Anomaly.hourlyZScores(
          events.select(col("event_type"), expr("tsu div 1000").as("ts_ms")))
        .agg(count(lit(1)), sum(col("cnt"))).collect()(0).getLong(0)
    }
    // PCA power iteration: 3 rounds x (broadcast join + two keyed aggs)
    // over the M-fold long form; driver state d longs per round
    time("embed_pca") {
      graft.operators.Pca.topComponent(
          vecs.select(col("id"), col("embedding")), iters = 3)
        .agg(count(lit(1)), sum(col("v_micro"))).collect()(0).getLong(0)
    }
    // NN-descent: per-node candidate work is (2k)^2-bounded, so the curve
    // must track the node count (each round = 2 bounded self-joins + 2
    // vector-fetch joins + a per-node window). Ids must be dense 0..n-1:
    // re-key the salted vectors by row_number over (id) — probe-only
    // densification, the operator contract documents exportShards as the
    // production densifier
    time("ann_nndescent") {
      val w = org.apache.spark.sql.expressions.Window.orderBy("id")
      val dense = vecs
        .withColumn("id", row_number().over(w).cast("long") - 1)
        .repartition(cpus).localCheckpoint()
      graft.ann.NnDescent.build(dense, k = 5, rounds = 2)
        .agg(count(lit(1)), sum(col("dst"))).collect()(0).getLong(0)
    }
    // asymmetric containment: same inverted-index candidate join as
    // dedup_ngram; the direction fan-out doubles only output-sized rows
    time("dedup_containment") {
      graft.dedup.Dedup.ngramContainmentPairs(docs, threshold = 0.6).count()
    }
    // the one-sided prefix route: stop shingles fall out of probe
    // prefixes, so the d^2 candidate blowup above cannot happen
    time("dedup_containment_prefix") {
      graft.dedup.Dedup.ngramContainmentPairsPrefix(docs, threshold = 0.6).count()
    }
    // edit-distance join over a DISTINCT 24-char window vocabulary
    // drawn from the BASE corpus at M-fold density (per-replica window
    // offsets (rep*13)%176 — all 64 offsets distinct): the vocabulary
    // grows ~M-fold in NATURAL text (4.6k -> 36k -> 266k strings), so
    // char-q-gram df rides real language statistics. The word-salted
    // `docs` frame is wrong for a CHARACTER-level operator: replicas
    // disjoint in tokens share ~every 2-gram at identical positions,
    // which grows candidates M-squared by construction — a workload
    // artifact (fuzzy-VALUE matching runs on distinct vocabularies,
    // and real vocabulary growth brings new grams with it)
    def editVocab: DataFrame = graft.Tables.textCorpus(spark, sfDir)
      .select(col("content"),
        explode(sequence(lit(0), lit(m - 1))).as("rep"))
      .select(expr(
        "substring(content, cast(rep * 13 % 176 + 1 as int), 24)").as("str"))
      .filter(length(col("str")) === 24)
      .distinct().select(col("str").as("id"), col("str"))
      .repartition(cpus)
    // q=2 saturates its ~26^2 gram-type space as the vocabulary grows
    // (prefix buckets then multiply quadratically) — measured super-linear
    // by design; the row documents WHY q must grow with vocabulary size
    time("dedup_editdist") {
      graft.dedup.EditJoin.editDistancePairs(editVocab, k = 2).count()
    }
    // q=3: 27x the type space — the knob that keeps prefix buckets sparse
    // at corpus-scale vocabularies (prefix lengthens to k*q+1 = 7, a fair
    // trade: candidates shrink multiplicatively, prefixes grow additively)
    time("dedup_editdist_q3") {
      graft.dedup.EditJoin.editDistancePairs(editVocab, k = 2, q = 3).count()
    }
    // bootstrap CI: one B-way explode + B-row aggregate; must be ~linear
    // in rows x B with no driver growth
    time("bootstrap_ci") {
      graft.operators.Bootstrap.meanCi(
          docs.select(col("id"), length(col("content")).cast("long").as("v")),
          "id", "v", b = 32)
        .collect()(0).getLong(2)
    }
    // snapshot diff: ONE full-outer join on 16-byte digests — linear in
    // the union of the snapshots (bucket-aligned zero-shuffle on the real
    // id-bucketed tables; the probe pays the generic shuffle form)
    time("snapshot_diff") {
      val d = docs.withColumn("h",
        pmod(graft.functions.TextFunctions.stableHash32(col("id")), lit(20)))
      val oldS = d.filter(col("h") =!= 0).select("id", "content")
      val newS = d.filter(col("h") =!= 1).select(col("id"),
        when(col("h") === 2, concat(col("content"), lit(" v2")))
          .otherwise(col("content")).as("content"))
      graft.operators.CorpusDiff.diff(oldS, newS).count()
    }
    // compaction planning: inventory grows M-fold (64*M files); the plan
    // is metadata-sized work — one aggregate over the corpus to build the
    // inventory dominates, the planner itself is file-count-bounded
    time("compaction_plan") {
      val files = docs.groupBy(
          pmod(graft.functions.TextFunctions.stableHash32(col("id")), lit(64 * m))
            .as("file_id"))
        .agg(sum(length(col("content"))).as("bytes"))
      graft.operators.Compaction.plan(files, target = 16384L, span = 16L).count()
    }
    // z-order: a per-row codegen'd bit fold + one keyed aggregate — must
    // stay linear-flat like filter_c4
    time("zorder_report") {
      val ev = events.select(
        pmod(col("user_id"), lit(1024)).as("x"),
        pmod(expr("tsu DIV 60000000"), lit(1024)).as("y"))
      graft.operators.ZOrder.boxReport(ev, col("x"), col("y"), bits = 10, buckets = 64)
        .count()
    }
    // extended sanitize (Luhn cards + IPv4 + standard chain): one
    // projection pass, no shuffle — linear-flat
    time("sanitize_extended") {
      docs.select(graft.ingest.Sanitize.sanitizeTextExtended(col("content")).as("c"))
        .agg(count(lit(1)), sum(length(col("c")))).collect()(0).getLong(0)
    }
    // per-slice KL divergence: tokenize/explode -> three keyed aggs + one
    // token-keyed join (salting grows the vocabulary M-fold) — ~linear
    time("corpus_kl") {
      val d = docs.select(
        pmod(graft.functions.TextFunctions.stableHash32(col("id")), lit(20))
          .cast("string").as("slice"),
        graft.functions.TextFunctions.tokens(col("content")).as("tokens"))
      graft.operators.Divergence.klBySlice(d, "slice").count()
    }
    // sequence patterns: ONE keyed aggregate + per-row regex; salted
    // events = M x the users at constant per-user length — linear
    time("events_pattern") {
      val ev = events.select(col("user_id"), col("event_id"), col("tsu"),
        expr("""CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
               |     WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
               |     ELSE 'e' END""".stripMargin).as("code"))
      graft.operators.Sequences.patternCounts(
          graft.operators.Sequences.encode(ev, "user_id", "tsu", "event_id", col("code")),
          "v[^p]*p")
        .agg(count(lit(1)), sum(col("matches"))).collect()(0).getLong(0)
    }
    // data contracts: every check a conditional count in ONE aggregate
    // pass (+ the distinct) — must be linear-flat
    time("data_contract") {
      graft.operators.Contracts.report(docs, Seq(
        graft.operators.Contracts.Complete("content", 1000000L),
        graft.operators.Contracts.Unique("id", 1000000L),
        graft.operators.Contracts.Satisfies("len_min_20",
          length(col("content")) >= 20, 900000L))).count()
    }
    // equal-frequency binning: work lives in the DISTINCT-VALUE table
    // (lengths — grows far slower than the corpus) — expect sub-linear
    time("feature_binning") {
      graft.operators.Binning.report(
        docs.select(length(col("content")).cast("long").as("value")), nBins = 10).count()
    }
    // incremental curation: diff + gate over the ~15% delta — cost tracks
    // the DELTA slice plus one digest diff, not a full-corpus gate
    time("pipeline_incremental") {
      val d = docs.withColumn("h",
        pmod(graft.functions.TextFunctions.stableHash32(col("id")), lit(20)))
      val oldS = d.filter(col("h") =!= 0).select("id", "content")
      val newS = d.filter(col("h") =!= 1).select(col("id"),
        when(col("h") === 2, concat(col("content"), lit(" v2")))
          .otherwise(col("content")).as("content")).localCheckpoint()
      val delta = graft.operators.CorpusDiff.diff(oldS, newS)
        .filter(col("status").isin("added", "changed"))
      newS.join(delta, "id")
        .withColumn("tokens",
          size(graft.functions.TextFunctions.tokens(col("content"))).cast("long"))
        .filter(col("tokens") >= 20)
        .agg(count(lit(1)), sum("tokens")).collect()(0).getLong(0)
    }
    // graph-beam ANN serving: the adjacency table grows M-fold (synthetic
    // hash-derived 8-NN graph — the probe times SEARCH, not the offline
    // build), but per-query work is O(entries + hops * beam * k) point
    // probes — the curve that must stay ~flat for serving at 100 TB
    time("ann_graph_beam") {
      val w = org.apache.spark.sql.expressions.Window.orderBy("id")
      val dense = vecs
        .withColumn("id", row_number().over(w).cast("long") - 1)
        .repartition(cpus).localCheckpoint()
      val n = dense.count()
      val graph = dense.select(col("id").as("qid"),
          explode(sequence(lit(1), lit(8))).as("j"))
        .select(col("qid"),
          pmod(col("qid") * 2654435761L + col("j") * 40503L, lit(n)).as("neighbor"))
        .filter(col("neighbor") =!= col("qid"))
        .repartition(cpus).localCheckpoint()
      val qs = Tables.queryVectors(spark, sfDir, Seq(0, 1, 2))
      graft.ann.GraphSearch.beamSearch(graph, dense, qs,
        entries = 4, beam = 8, hops = 3, k = 5).count()
    }
    // greedy k-center: k passes, each ONE narrow distance map folded into
    // a running min + a 1-row argmax — must be linear in corpus x k with
    // no pair term (replica vectors are copies; distances repeat, ids
    // break ties, the traversal stays deterministic)
    time("coreset_kcenter") {
      graft.operators.Coreset.kCenter(
        vecs.select(xxhash64(col("id")).as("vid"), col("embedding")),
        "vid", "embedding", k = 8).count()
    }
    // SymSpell corrections: the vocabulary (and its delete expansion)
    // grows M-fold under replica salting while the query side stays
    // constant — cost must track |vocab| x L^2, never the corpus text
    time("search_spell") {
      graft.search.Spell.corrections(docs,
        terms = Seq("sparcx0", "qeryx0", "windoex0"),
        maxDist = 2, topK = 3).count()
    }
    // length-bucketed batching: one histogram aggregate (bounded by max
    // token count, constant across multipliers) + one keyed window
    time("pack_batches") {
      graft.operators.Batching.paddingReport(
        graft.operators.Batching.byLength(
          docs.select(col("id"),
            size(graft.functions.TextFunctions.tokens(col("content")))
              .as("n_tok"))
            .select(xxhash64(col("id")).as("id"), col("n_tok")),
          "id", "n_tok", batchSize = 64)).count()
    }
    // mergeable-sketch family: all three are one narrow map + one
    // combiner-collapsed aggregate whose OUTPUT is sketch-sized (m
    // registers / d·w cells / groups·k signatures) regardless of corpus —
    // the flat curves are the whole point of sketching at 100 TB
    time("sketch_hll") {
      graft.operators.Hll.estimate(
        graft.operators.Hll.registers(
          docs.select(explode(graft.functions.TextFunctions
            .distinctTokens(col("content"))).as("term")),
          Seq.empty, "term"), Seq.empty).count()
    }
    time("sketch_cms") {
      graft.operators.Cms.sketch(
        docs.select(explode(graft.functions.TextFunctions
          .tokens(col("content"))).as("term")),
        "term", width = 1024, depth = 4).count()
    }
    time("sketch_bottomk") {
      val toks = docs
        .withColumn("src", substring(col("id"), 1, 2))
        .select(col("src"), explode(graft.functions.TextFunctions
          .distinctTokens(col("content"))).as("term"))
      graft.operators.BottomK.jaccardEstimates(
        graft.operators.BottomK.signatures(toks, "src", "term", 128), 128)
        .count()
    }
    // SCD2 history build: two key-partitioned windows over one exchange;
    // replica users are disjoint so per-key run lengths are constant and
    // output grows exactly M-fold
    time("events_scd2") {
      graft.operators.Scd2.fromChangeLog(
        events.select(col("user_id"), col("event_id"), col("event_type"),
          col("tsu")),
        "user_id", Seq("event_type"), "tsu", Seq("event_id")).count()
    }
    // incremental SCD2 vs full rebuild — the operator's value claim. The
    // delta is the last 1% of the time range (the daily-ingest shape), so
    // applyDelta must track the DELTA keys' history while the rebuild
    // rides the corpus curve; both consume identical checkpointed inputs
    // built untimed. Result equality is DedupSpec/oracle territory
    // (merge==rebuild is the q_events_scd2_incr gate); this pair measures
    // the crossover only.
    lazy val scd2Changes = events.select(col("user_id"), col("event_id"),
      col("event_type"), col("tsu"))
    lazy val scd2Cut = scd2Changes.agg(expr("percentile(tsu, 0.99)"))
      .head().getDouble(0)
    lazy val scd2Hist = graft.operators.Scd2.fromChangeLog(
        scd2Changes.filter(col("tsu") <= scd2Cut), "user_id",
        Seq("event_type"), "tsu", Seq("event_id"))
      .repartition(cpus).localCheckpoint()
    lazy val scd2Delta = scd2Changes.filter(col("tsu") > scd2Cut)
      .repartition(cpus).localCheckpoint()
    // lazy prep frames must materialize UNTIMED (a lazy val dereferenced
    // inside the timed thunk would bill the prep to the first row)
    if (only.forall(o => o.contains("events_scd2_apply_delta") ||
        o.contains("events_scd2_rebuild"))) { scd2Hist.count(); scd2Delta.count() }
    time("events_scd2_apply_delta") {
      graft.operators.Scd2.applyDelta(scd2Hist, scd2Delta, "user_id",
        Seq("event_type"), "tsu", Seq("event_id")).count()
    }
    time("events_scd2_rebuild") {
      graft.operators.Scd2.fromChangeLog(scd2Changes, "user_id",
        Seq("event_type"), "tsu", Seq("event_id")).count()
    }
    // LPA communities: per round ONE keyed join + vote agg + per-node
    // argmax over <= degree rows. Pair generation is the dedup family's
    // cost (measured in its own rows) — the edge list is checkpointed
    // UNTIMED so this row isolates the 2 label rounds over M-fold edges.
    lazy val lpaPairs = graft.dedup.Dedup.minHashNearDups(docs, threshold = 0.6)
      .select("a", "b").localCheckpoint()
    if (only.forall(_.contains("graph_lpa"))) lpaPairs.count() // untimed pair gen
    time("graph_lpa") {
      graft.operators.Graph.labelPropagation(lpaPairs, rounds = 2)
        .agg(count(lit(1)),
          // force the label column without overflowing the ANSI long sum
          sum(pmod(xxhash64(col("lbl")), lit(1000000007L))))
        .collect()(0).getLong(0)
    }
    // ER star clusters: Ed-Join candidates + banded verify over the
    // natural-text window vocabulary (same M-fold growth as
    // dedup_editdist), then LSS components over the output-sized pair
    // set. q=3 keeps prefix buckets sparse; 64x is skipped for the same
    // workload-density reason as dedup_editdist_q3 — the near-identical-
    // window pair DENSITY itself grows super-linearly, lower-bounding any
    // correct algorithm (the q_er_clusters query's real domain is
    // key/name vocabularies, where output is sparse)
    if (m <= 8) time("er_clusters") {
      val pairs = graft.dedup.EditJoin.editDistancePairs(editVocab, k = 2, q = 3)
        .select(col("src").as("a"), col("dst").as("b"))
      graft.operators.Graph.connectedComponentsLss(pairs)
        .agg(count(lit(1))).collect()(0).getLong(0)
    }
    // association rules: baskets (salted users) grow M-fold at constant
    // per-basket item count, so the basket-keyed self-join fan-out
    // (<= basket^2 per basket, capped at 256) stays linear in baskets
    time("events_assoc") {
      graft.operators.Association.pairRules(
          events.select(col("user_id"), pmod(col("event_id"), lit(50)).as("item")),
          "user_id", "item", minPairCount = 2)
        .agg(count(lit(1)), sum(col("pair_n"))).collect()(0).getLong(0)
    }
    // RAG attribution: answers are a fixed FRACTION of the corpus (1/50),
    // 2 sentences x 3 contexts each — the (answer, gram) match join grows
    // M-fold with per-row gram counts constant; argmax windows are
    // shortlist-bounded
    time("rag_attribution") {
      val anchors = docs.filter(
        graft.functions.TextFunctions.stableHash32(col("id")) % 50 === 0)
      val sentences = anchors
        .select(col("id").as("answer_id"),
          explode(array(lit(0), lit(1))).as("sent_idx"),
          graft.functions.TextFunctions.tokens(col("content")).as("__t"))
        .select(col("answer_id"), col("sent_idx"),
          expr("concat_ws(' ', slice(__t, sent_idx * 8 + 1, 8))").as("text"))
      val contexts = anchors
        .select(col("id").as("answer_id"),
          explode(sequence(lit(0), lit(2))).as("off"), col("content"))
        .select(col("answer_id"),
          concat_ws("~", col("answer_id"), col("off")).as("doc_id"),
          col("content"))
      graft.search.Attribution.attribute(sentences, contexts)
        .agg(count(lit(1)), sum(col("n_match"))).collect()(0).getLong(0)
    }
    // LTR features: the serve IS the cost (one corpus BM25 pass); feature
    // assembly touches the k-row shortlist only — the curve must track
    // the serve, with zero shortlist-size dependence on M
    time("search_ltr") {
      graft.search.LtrFeatures.features(docs, 0, "tablex0 hashx0", 10)
        .agg(count(lit(1)), sum(col("tf_sum"))).collect()(0).getLong(0)
    }
    // MAD outliers: three keyed aggs (median, MAD, flags) over M-fold rows
    // at CONSTANT group count — exact per-group percentiles are the cost;
    // the group-sized med/MAD frames broadcast back
    time("eval_outliers") {
      graft.operators.Anomaly.madOutliers(
          events.select(col("event_type"), col("value")), "event_type", "value")
        .agg(count(lit(1)), sum(col("n_outliers"))).collect()(0).getLong(0)
    }
    // seasonal MASE: the (series, hour) grid is CONSTANT in M (time range
    // and type set fixed) while counts grow — the corpus pass is the keyed
    // count; the lag windows run over grid-sized series. Expect ~flat
    // after the count agg's linear scan
    time("events_seasonal") {
      val hourly = events
        .select(col("event_type"), expr("tsu div 3600000000").as("hour"))
        .groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
      graft.operators.Anomaly.seasonalNaive(
          hourly, "event_type", "hour", "n", season = 24)
        .agg(count(lit(1)), sum(col("n_periods"))).collect()(0).getLong(0)
    }
    // per-host web rollup: synthetic URLs over the salted corpus; host
    // count scales with M (constant per-host doc density) so the keyed
    // agg stays combiner-collapsed and the rollup frame host-count-sized
    time("web_hosts") {
      val urls = docs
        .withColumn("url", concat(lit("HTTPS://WWW.h"),
          pmod(graft.functions.TextFunctions.stableHash32(col("id")),
            lit(256 * m)).cast("string"),
          lit(".Example.COM:443//docs//"), col("id"),
          lit("/?utm_source=feed&b=2&a=1#frag")))
        .withColumn("lang", concat(lit("l"),
          pmod(graft.functions.TextFunctions.stableHash32(col("id")), lit(10))))
      graft.operators.Web.hostRollup(urls, "url", "content", "lang")
        .agg(count(lit(1)), sum(col("n_docs"))).collect()(0).getLong(0)
    }
    // script-aware near-dup: half the corpus transliterated into CJK at
    // ONE IDEOGRAPH PER WORD (xxhash of the token into a PER-REPLICA
    // 320-ideograph literal alphabet), the way real CJK text carries
    // ~one ideograph per morpheme — char trigrams on the transliterated
    // half ARE word trigrams in disguise, so the true pair density
    // matches the base corpus's near-dup structure and output grows
    // M-fold (disjoint alphabets = the char-level analogue of token
    // salting). Two rejected workloads, for the record: per-CHAR
    // codepoint arithmetic (Spark's chr() is mod-256 Latin-1 — replicas
    // silently collapsed onto each other and the docs never routed CJK;
    // measured 75k pairs at 64x through the WORD route) and per-CHAR
    // literal alphabets (English letter trigrams over 36 ideographs are
    // so concentrated that 78% of ALL within-replica pairs pass t=0.5 —
    // all-pairs-dense by workload, 2.4M pairs at 1x). Prep is
    // checkpointed untimed.
    lazy val msDocs = {
      val alphabets = (0 until m).map(r =>
        new String((0 until 320).map(i => (0x4e00 + r * 320 + i).toChar).toArray))
      docs
        .withColumn("rep", element_at(split(col("id"), "#"), -1).cast("int"))
        .withColumn("alpha",
          element_at(typedLit(alphabets), col("rep") + 1))
        .withColumn("content",
          when(graft.functions.TextFunctions.stableHash32(col("id")) % 2 === 0,
            expr("""concat_ws('', transform(split(lower(content), ' '),
                   |  w -> substr(alpha, cast(pmod(xxhash64(w), 320) as int) + 1, 1)))""".stripMargin))
            .otherwise(col("content")))
        .select("id", "content")
        .repartition(cpus).localCheckpoint()
    }
    if (only.forall(_.contains("dedup_multiscript"))) msDocs.count() // untimed prep
    time("dedup_multiscript") {
      graft.dedup.Dedup.multiscriptNearDups(msDocs, threshold = 0.5).count()
    }
    // filtered graph-ANN serving: the SAME synthetic M-fold graph as
    // ann_graph_beam (built untimed here so the row isolates SERVING),
    // walked unfiltered, answered from visited ∧ predicate — per-query
    // work stays O(entries + hops·beam·k) point probes, so the curve
    // must stay as flat as the unfiltered row
    lazy val beamGraph = {
      val w = org.apache.spark.sql.expressions.Window.orderBy("id")
      val dense = vecs
        .withColumn("id", row_number().over(w).cast("long") - 1)
        .repartition(cpus).localCheckpoint()
      val n = dense.count()
      val graph = dense.select(col("id").as("qid"),
          explode(sequence(lit(1), lit(8))).as("j"))
        .select(col("qid"),
          pmod(col("qid") * 2654435761L + col("j") * 40503L, lit(n)).as("neighbor"))
        .filter(col("neighbor") =!= col("qid"))
        .repartition(cpus).localCheckpoint()
      (dense, graph)
    }
    if (only.forall(_.contains("ann_graph_filtered"))) {
      beamGraph._1.count(); beamGraph._2.count()
    }
    time("ann_graph_filtered") {
      graft.ann.GraphSearch.beamSearchFiltered(beamGraph._2, beamGraph._1,
        Tables.queryVectors(spark, sfDir, Seq(0, 1, 2)),
        entries = 4, beam = 8, hops = 3, k = 5,
        pred = pmod(col("id"), lit(2)) === 0).count()
    }
    // filtered IVF: cluster count ∝ corpus (the knn_blocked recipe), so
    // both routes scan per-probe cluster slices of CONSTANT size — the
    // pushdown row filters under the bounded heap, the postfilter row
    // oversamples max(10k,100) unfiltered then filters
    lazy val ivfParts = {
      val train = Tables.vectors(spark, sfDir).select("id", "embedding", "norm")
      val cents = graft.ann.Ann.kmeansCentroids(train, 16 * m, 2).localCheckpoint()
      val assigned = graft.ann.Ann.assign(vecs, cents)
        .repartition(cpus).localCheckpoint()
      (cents, assigned)
    }
    if (only.forall(o => o.contains("ann_ivf_pushdown") ||
        o.contains("ann_ivf_postfilter") || o.contains("index_health"))) {
      ivfParts._1.count(); ivfParts._2.count()
    }
    time("ann_ivf_pushdown") {
      graft.ann.Ann.ivfTopK(
        ivfParts._2.filter(pmod(xxhash64(col("id")), lit(2)) === 0),
        ivfParts._1, Tables.queryVectors(spark, sfDir, Seq(0, 1, 2)),
        k = 10, nprobe = 3).count()
    }
    time("ann_ivf_postfilter") {
      graft.ann.Ann.ivfTopK(ivfParts._2, ivfParts._1,
          Tables.queryVectors(spark, sfDir, Seq(0, 1, 2)), k = 100, nprobe = 3)
        .filter(pmod(xxhash64(col("id")), lit(2)) === 0).count()
    }
    // index-health drift probe: one column-pruned index scan into a
    // cluster-keyed aggregate (map-side combine), then cluster-sized
    // work only — the curve must track the plain scan, K ∝ corpus
    time("index_health") {
      graft.ann.IndexHealth.stats(ivfParts._2, ivfParts._1)
        .collect().headOption.map(_.getAs[Long]("n")).getOrElse(0L)
    }
    // cross-set semantic decontamination: the benchmark (eval) side is
    // FIXED-SIZE while train grows M-fold; K ∝ corpus keeps per-cluster
    // candidates constant, so cost tracks the train assignment scan and
    // output stays eval-sized
    time("semantic_contamination") {
      val base = Tables.vectors(spark, sfDir).select("id", "embedding", "norm")
      val cents = graft.ann.Ann.kmeansCentroids(base, 16 * m, 2)
      val evalSet = base.filter(
        graft.functions.TextFunctions.stableHash32(col("id").cast("string")) % 20 === 0)
      graft.dedup.Dedup.semanticContamination(
          // salted ids are strings; the operator keys train ids as longs
          vecs.select(xxhash64(col("id")).as("id"), col("embedding"), col("norm")),
          evalSet, cents, threshold = 0.9)
        .agg(count(lit(1)), sum(col("n_hits"))).collect()(0).getLong(0)
    }
    // SFT budget trim: M x the conversations at CONSTANT turn count —
    // two conversation-keyed windows, per-key state bounded by context
    // length forever
    time("chat_budget") {
      val turns = docs
        .select(col("id").as("conv_id"),
          explode(sequence(lit(0), lit(7))).as("i"))
        .select(col("conv_id"), col("i").as("turn_idx"),
          when(col("i") === 0, lit("system"))
            .when(pmod(col("i"), lit(2)) === 1, lit("user"))
            .otherwise(lit("assistant")).as("role"),
          (lit(5) + pmod(col("i") * 7, lit(9))).cast("long").as("tokens"))
      graft.operators.Chat.contextBudgetTrim(turns, budget = 40L, "tokens")
        .agg(count(lit(1)), sum(col("tokens"))).collect()(0).getLong(0)
    }
    // SFT structural audit incl. the JSON roundtrip: M x the
    // conversations at constant turn count — from_json is per-row narrow
    // work, the audit one conversation-keyed agg; must be ~linear
    time("chat_validate") {
      val msgs = docs
        .select(col("id").as("conv_id"),
          expr("""to_json(transform(sequence(0, 7), i -> struct(
                 |  CASE WHEN i = 0 THEN 'system'
                 |       WHEN i % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
                 |  concat('turn ', i) AS content)))""".stripMargin).as("msgs"))
      graft.operators.Chat.alternationReport(
          graft.operators.Chat.parseConversations(msgs, "conv_id", "msgs"))
        .agg(count(lit(1)), sum(when(col("valid"), 1L).otherwise(0L)))
        .collect()(0).getLong(0)
    }
    // DPO pair construction: M x the prompts at CONSTANT K=4 responses —
    // one prompt-keyed window + one prompt-keyed self-join, per-key work
    // bounded by K^2 forever
    time("pref_build") {
      val responses = docs
        .select(col("id").as("prompt_id"),
          explode(sequence(lit(1), lit(4))).as("k"), col("content"))
        .select(col("prompt_id"), col("k").as("resp_id"),
          substring(col("content"), col("k") * 7, lit(40)).as("resp"),
          pmod(xxhash64(col("prompt_id"), col("k")), lit(10)).as("sc"))
      graft.operators.Preference.buildPairs(
          responses, "prompt_id", "resp_id", "resp", "sc", bestVsRest = false)
        .count()
    }
    // late-interaction maxsim: the chunk-vector table grows M-fold. The
    // full-scan route (exact truth) must be linear in chunk rows; the
    // candidate-pruned route aggregates only the FIXED shortlist's chunk
    // rows — its residual growth is the unbucketed probe table's join
    // scan (production stores chunks id-bucketed, making the fetch a
    // bucket-pruned point lookup)
    lazy val maxsimChunks = {
      val chunks = graft.retriever.Retriever.chunk(
        docs.select(col("id").as("doc_id"), col("content")), maxTokens = 20)
      chunks.select(col("doc_id"),
          expr("""transform(sequence(0, 7),
                 |  d -> cast(pmod(xxhash64(concat(content, d)), 100) as double))"""
            .stripMargin).as("vec"))
        .repartition(cpus).localCheckpoint()
    }
    lazy val maxsimToks = {
      val spark = docs.sparkSession
      import spark.implicits._
      Seq((0, 0, "data"), (0, 1, "analysis"), (0, 2, "system"),
          (1, 0, "market"), (1, 1, "music"), (1, 2, "research"))
        .toDF("query_idx", "tok_idx", "tok")
        .select(col("query_idx"), col("tok_idx"),
          expr("""transform(sequence(0, 7),
                 |  d -> cast(pmod(xxhash64(concat(tok, d)), 100) as double))"""
            .stripMargin).as("vec"))
    }
    if (only.forall(o => o.contains("search_maxsim") || o.contains("search_maxsim_pruned")))
      maxsimChunks.count() // untimed prep (chunking is ingest cost)
    time("search_maxsim") {
      graft.search.MaxSim.topK(maxsimChunks, maxsimToks, k = 10).count()
    }
    time("search_maxsim_pruned") {
      val cand = maxsimChunks.select("doc_id").distinct()
        .filter(pmod(xxhash64(col("doc_id")), lit(64L * m)) === 0)
        .crossJoin(maxsimToks.select("query_idx").distinct())
        .select("query_idx", "doc_id")
      graft.search.MaxSim.topK(maxsimChunks, maxsimToks, k = 10,
        candidates = Some(cand)).count()
    }
    // predicate-sweep deletion, both resolution modes over a REAL
    // warehouse (matched count ∝ M, fixed maxBatch so the round count
    // grows with M): re-resolve pays rounds × corpus-scan-with-predicate
    // (O(M²/maxBatch) resolution work), resolve-once pays ONE corpus scan
    // + sink-sized drains (O(M)). The id-batch delete work (bucket
    // rewrites) is identical in both modes — the delta between the two
    // rows IS the resolution strategy's cost.
    def mkSweepApi(tag: String): Api = {
      val wh = java.nio.file.Files.createTempDirectory(s"graft-sweep-$tag").toString
      val emb = new graft.ingest.DeterministicHashEmbedder(16)
      val api = new Api(spark, wh, emb)
      api.createCollection("c")
      val entry = api.catalog.getCollection(api.catalog.physicalName("default", "c"))
      // bulk load through the internal merge — probe PREP, not the
      // governed batch path (whose 1000-doc bound would make M-fold
      // prep a 320-round loop at 64x)
      val embedded = graft.ingest.Ingest.withNorm(
        graft.ingest.Embed.withEmbeddings(
          graft.ingest.Ingest.prepare(docs.select("content")), emb))
      graft.ingest.Ingest.mergeUpsert(spark, api.catalog, entry, embedded)
      api
    }
    // one lazily-built warehouse PER op: a single-op run pays one prep
    lazy val sweepRescan = mkSweepApi("rescan")
    lazy val sweepOnce = mkSweepApi("once")
    if (only.forall(_.contains("delete_sweep_rescan"))) { sweepRescan; () }
    if (only.forall(_.contains("delete_sweep_once"))) { sweepOnce; () }
    // ~19% of content-derived uuid ids (first hex nibble in {0,1,2})
    val sweepPred = substring(col("id"), 1, 1).isin("0", "1", "2")
    time("delete_sweep_rescan") {
      sweepRescan.deleteDocumentsWhere("c", sweepPred,
        confirm = true, maxBatch = 1000)
    }
    time("delete_sweep_once") {
      sweepOnce.deleteDocumentsWhere("c", sweepPred,
        confirm = true, maxBatch = 1000, resolveOnce = true)
    }
    // FLAC decode: encode+decode are per-row narrow work (no shuffle
    // anywhere) — the curve must be a clean linear scan like filter_c4
    time("flac_decode") {
      val mk = udf((id: Long) => graft.multimodal.Multimodal.squareFlac(
        (400 + id % 600).toInt, 16000, (1000 + id % 20000).toInt))
      val media = docs
        .select(pmod(xxhash64(col("id")), lit(1000000L)).as("id"),
          lit("audio").as("modality"))
        .withColumn("data", mk(col("id")))
      graft.multimodal.Multimodal.decode(media)
        .agg(count(lit(1)), sum(col("n_frames"))).collect()(0).getLong(0)
    }
  }
}
