package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: the `explain("formatted")` output of the headline
  * queries, as reviewable evidence of the physical properties the engine
  * promises (bounded top-k, broadcasts, pushdown, partition pruning,
  * whole-stage codegen spans). Regenerate after planner-affecting changes:
  *
  *   java -cp ... graft.PlanDump /root/testdata/sf0.001 PLANS.md
  */
object PlanDump {

  private val Headliners = Seq(
    "q1_pricing" -> "TPC-H Q1: decimal-exact aggregation",
    "q5_nation" -> "TPC-H Q5: star join (broadcast dims + pushed region filter)",
    "q_semantic_topk" -> "semantic search: exact cosine top-k, no corpus shuffle",
    "q_lexical_bm25_indexed" -> "BM25 from the posting table only",
    "q_dedup_minhash" -> "MinHash LSH: keyed bucket joins, no all-pairs product",
    "q_corpus_rollup" -> "ROLLUP grouping sets: Expand + ONE aggregate exchange",
    "q_ann_ivf" -> "IVF probe: cluster-pruned scan + bounded top-k",
    "q_ann_pq" -> "PQ: ADC over codes (no embedding scan) + exact re-rank",
    "q_ann_pq_residual" -> "residual IVF-PQ: per-(query,cluster) ADC tables over codes",
    "q_ann_knn_blocked" -> "blocked kNN: within-cluster keyed self-join",
    "q_top_orders_per_customer" -> "per-key top-k window (WindowGroupLimit)",
    "q_events_asof" -> "as-of join: one keyed shuffle + ordered window, no inequality theta-join",
    "q_events_range" -> "range join: bucketed equi-join, range filter inside the join stage",
    "q_pipeline_curate" -> "curation pipeline: quality -> langid -> dedup -> sample in one plan",
    "q_pipeline_curate2" -> "curation v2: repetition + boilerplate gates -> dedup -> rollup, keyed only",
    "q_text_boilerplate" -> "boilerplate coverage: combiner-collapsed df + semi-join probe",
    "q_dedup_ngram_prefix" -> "PPJoin: xxhash64-keyed prefix candidates + sorted-merge verify",
    "q_hybrid_rrf" -> "hybrid RRF: bounded per-query aggregate fusion, no global window",
    "q_hybrid_rrf_many" -> "batched hybrid: one docs×queries semantic pass + shared-stats BM25 legs",
    "q_events_sessionize" -> "sessionize: user-keyed lag + running sum, one exchange",
    "q_events_window" -> "tumbling window agg over TIMESTAMP_NTZ: combiner-collapsed",
    "q_mixture_budget" -> "token-budget fill: bin aggregate + tiny window, boundary fill as range-sliced prefix sum",
    "q_export_shards" -> "export sharding: hash-derived shard, per-shard bounded row_number",
    "q_pack_offsets" -> "sequence packing: bucket-sliced distributed prefix sum, ONE corpus shuffle",
    "q_pipeline_curate4" -> "curation v4: length gate -> DSIR selection -> sequence packing, one plan",
    "q_quality_classifier" -> "trained quality filter: literal weight array, narrow scoring pass, integer-exact gradient sums",
    "q_dedup_semantic" -> "SemDeDup: cluster-keyed cosine pairs, never all-pairs",
    "q_rag_context" -> "context assembly: per-query bounded window over the serving shortlist",
    "q_keywords_tfidf" -> "TF-IDF keywords: (doc,term)/(term) keyed aggs, per-doc bounded window",
    "q_text_langid_multi" -> "language ID: native CharTrigrams generate + broadcast profile join + keyed argmax",
    "q_phrase_search" -> "phrase search: slot emission + ONE (id,p0) keyed shuffle, no positional self-join",
    "q_unigram_train" -> "unigram-LM: vocab-sized word table, Viterbi over broadcast costs, keyed usage agg",
    "q_events_retention" -> "cohort retention: keyed distinct -> per-user min -> co-partitioned join",
    "q_cluster_topics" -> "cluster topics: narrow centroid argmin + cluster-keyed term aggs",
    "q_text_perplexity_kn" -> "Kneser-Ney LM: checkpointed type table feeds context/continuation legs, keyed joins",
    "q_pipeline_curate7" -> "curation v7: gopher gate -> langid -> KN terciles -> fill, ONE composed plan",
    "q_semantic_filtered" -> "filtered vector search: predicate pushed into the scan under the top-k",
    "q_filter_c4" -> "C4 gate: ONE native C4LineStats pass per row (CSE-deduped struct fields), no shuffle",
    "q_dedup_across" -> "cross-corpus near-dup: bipartite (band,bucket) inner join, candidates output-shaped",
    "q_text_novelty" -> "novelty: distinct-shingle agg + LEFT SEMI probe, per-doc keyed counts",
    "q_ann_recall" -> "ANN recall report: both retrieval legs bounded top-k, hit join on (query,id)",
    "q_pipeline_curate8" -> "curation v8: C4 clean -> bipartite novelty gate -> rollup, one composed plan",
    "q_graph_pagerank" -> "near-dup PageRank: output-sized edge list, per-round ONE keyed join + agg",
    "q_dedup_survivor" -> "survivor selection: component-keyed argmax window over the cluster join",
    "q_corpus_overlap" -> "corpus overlap: corpus-keyed signature agg + broadcast pair compare",
    "q_events_markov" -> "Markov transitions: partitioned session windows + |types|^2-bounded aggs",
    "q_classifier_calibration" -> "calibration: trained margins -> literal bin edges -> 10-key agg",
    "q_embed_stats" -> "embedding stats: narrow posexplode + 64-key combiner-collapsed agg",
    "q_ann_ndcg" -> "NDCG/MRR eval: bounded top-k legs + per-query discount-weight join",
    "q_classifier_auc" -> "exact AUC: distinct-margin agg + bucket-sliced prefix sum, window PARTITIONED by bucket (no global sort)",
    "q_drift_psi" -> "PSI drift: two pruned scans -> 10-key aggs -> bins-sized grid, single-row broadcast total",
    "q_sample_weighted" -> "weighted sample: Gumbel micro-key + TakeOrderedAndProject heap",
    "q_graph_triangles" -> "triangle census: degree-ordered orientation, wedge equi-join + closing-edge probe (O(m^1.5))",
    "q_dedup_clusters_lss" -> "LSS components: per-round keyed min-aggs + joins, edge set output-sized",
    "q_events_anomaly" -> "hourly anomaly: keyed count + broadcast grid zero-fill + |grid| stats aggs",
    "q_embed_pca" -> "PCA power round: broadcast 64-row component join + two keyed aggs per pass",
    "q_ann_dim_sweep" -> "dim sweep: four truncated top-k legs unioned against ONE checkpointed truth leg",
    "q_events_paths" -> "session paths: user-keyed session windows -> |types|^3-bounded count -> top-k heap",
    "q_events_abtest" -> "A/B readout: unit-keyed agg -> 2-row arm agg -> single-row z projection",
    "q4_priority" -> "TPC-H Q4 shape: LeftSemi hash join, range predicate in the join condition",
    "q18_large" -> "TPC-H Q18 shape: HAVING-side partial agg -> surviving-key join-back -> top-10 heap",
    "q19_disjunct" -> "TPC-H Q19 shape: broadcast hash join with the OR arms as residual condition",
    "q11_important" -> "TPC-H Q11 shape: two keyed aggs + 1-row broadcast threshold (no second corpus pass)",
    "q22_segment" -> "TPC-H Q22 shape: 1-row broadcast scalar + LeftAnti dormancy join",
    "q_corpus_cube" -> "CUBE: Expand x4 grouping sets, ONE aggregate exchange (partials collapse map-side)",
    "q_corpus_pivot" -> "pivot: explicit value list -> ONE aggregate, no distinct-values job",
    "q_ann_nndescent" -> "NN-descent round: bounded neighbor self-joins + vector-fetch joins + per-src window",
    "q_graph_ppr" -> "personalized PageRank round: one keyed join + agg, seed-conditional restart projection",
    "q_dedup_containment" -> "containment pairs: inverted-index candidate join, direction fan-out output-sized",
    "q_bootstrap_ci" -> "Poisson bootstrap: B-way explode collapses map-side to B rows per partition",
    "q_drift_semantic" -> "semantic drift: two dim-keyed combiner aggs -> d-row join -> broadcast summary",
    "q_profile_merge" -> "mergeable profile: two 1-row aggs -> |cols|-row merge agg (metadata-sized)",
    "q_trend_ols" -> "grouped OLS: one keyed sufficient-statistics agg -> closed-form projection",
    "q_chunk_embed_pool" -> "chunk-embed-pool: chunk explode -> per-partition batch embed -> (doc,dim) agg",
    "q_dedup_containment_prefix" -> "one-sided prefix containment: rarity-prefix probe join vs RAW (un-windowed) indexed shingles",
    "q_dedup_editdist" -> "Ed-Join: positional char-q-gram prefix candidates + levenshtein verify, light leg broadcast",
    "q_mine_triplets" -> "triplet mining: output-sized pair/kNN frames, anti-join + per-anchor bounded window",
    "q_knn_mutual_clusters" -> "mutual-kNN clustering: reciprocity self-join -> components over output-sized edges",
    "q2_mincost" -> "TPC-H Q2 shape: per-part min agg joined back (decorrelated scalar subquery)",
    "q7_volume" -> "TPC-H Q7 shape: fact reaching TWO broadcast nation dims through supplier and customer",
    "q8_share" -> "TPC-H Q8 shape: 6-table star + LeftSemi region gate + conditional-ratio agg",
    "q13_distribution" -> "TPC-H Q13 shape: LEFT join count(col) histogram (null-preserving count)",
    "q15_topsupplier" -> "TPC-H Q15 shape: 1-row max broadcast back against its own aggregate input",
    "q17_smallqty" -> "TPC-H Q17 shape: per-part avg decorrelated to agg + join-back, cross-multiplied compare",
    "q21_waiting" -> "TPC-H Q21 shape: LeftSemi (other supplier exists) + LeftAnti (no other returner) on the fact",
    "q_ann_graph_beam" -> "graph-beam ANN: medoid-routed entries + broadcast frontier probes + point vector fetches, corpus-size-independent per hop",
    "q_pipeline_curate9" -> "skew-aware rollup: diagnosed-hot keys through two-phase salted agg, cold keys plain — one union",
    "q_privacy_kanon" -> "k-anonymity audit: ONE combiner-collapsed QI-class agg x broadcast k values, no second corpus pass",
    "q_search_expanded" -> "PRF expansion: two bounded BM25 serves around R-doc candidate mining + broadcast-probed df scan",
    "q_search_spell" -> "SymSpell: vocab-sized delete expansion join vs broadcast query variants, banded levenshtein verify",
    "q_mine_kcenter" -> "k-center: k narrow running-min distance maps + 1-row argmax each — no joins, no pair space",
    "q_pack_batches" -> "length batching: histogram agg -> driver offsets -> keyed in-length window (no global sort)",
    "q_events_scd2" -> "SCD2 build: two key-partitioned windows sharing one exchange",
    "q_events_pit" -> "point-in-time: SCD2 build + backward as-of union window (no range join)",
    "q_profile_hll" -> "HLL: narrow hash map + (group, register) max agg — output 512 registers regardless of corpus",
    "q_profile_cms" -> "CMS: d-way explode + combiner-collapsed cell counts; probes broadcast",
    "q_dedup_source_sim" -> "bottom-k: distinct + WindowGroupLimit signatures; estimation reads groups x k rows only",
    "q_events_assoc" -> "association rules: basket-keyed self-join (fan-out sum basket^2, capped), exact ppm",
    "q_eval_outliers" -> "MAD outliers: three keyed aggs, group-sized median/MAD frames broadcast back",
    "q_er_clusters" -> "ER: Ed-Join prefix candidates + banded verify -> star components",
    "q_graph_lpa" -> "LPA: per round one keyed join + vote agg + per-node argmax over <= degree rows",
    "q_rag_attribution" -> "attribution: (answer, gram)-keyed match join, argmax bounded by shortlist",
    "q_events_seasonal" -> "seasonal MASE: two lag windows over one series-keyed exchange + one agg",
    "q_search_ltr" -> "LTR features: serve top-k + one-pass stats agg + shortlist-only assembly",
    "q_pref_build" -> "DPO pair construction: prompt-keyed window (best) + prompt-keyed self-join bounded by K responses/prompt, content-identical pairs dropped via sha",
    "q_pipeline_pref" -> "producer->audit composition: buildPairs (all ordered, prompt-keyed K^2) into the length-bias combiner-collapsed agg; identical_ppm 0 by construction",
    "q_chat_budget_tools" -> "tool-aware budget trim: anchor window (nearest preceding assistant) + reverse-sum suffix + user-aligned cut + orphan-tool drop — all conversation-keyed windows, context-length-bounded state",
    "q_chat_tools" -> "tool-role audit: JSON roundtrip + conversation-keyed agg, role-grammar HOF (tool only after assistant) — per-key state bounded by context length",
    "q_chat_tools_ids" -> "id-matched tool audit: JSON roundtrip with call-id columns; parallel-result runs verified BY ID against the run-head assistant's call list (window-carried, no self-join) — conversation-keyed, context-length-bounded",
    "q_chat_budget_tools_ids" -> "id-anchored budget trim: tool anchors resolve to the assistant CARRYING the call id (window-collected carrier list + array HOF), suffix + user-aligned cut unchanged — all conversation-keyed windows",
    "q_search_maxsim_pruned" -> "pruned maxsim serving graded vs exact truth: per-token top-T doc shortlist (the chunk-ANN route's rule), maxsim rescore on the shortlist only, hit-count join",
    "q_search_maxsim_ann" -> "ANN-pruned maxsim serving graded vs exact truth at two widths: per-token doc shortlists from the batched adaptive-probe doc-level IVF (probe-pruned, never chunk-table-linear), union per query, exact maxsim rescore on the shortlist join",
    "q_hybrid_maxsim" -> "maxsim as a hybrid RRF leg: late-interaction ranks fused with the TF lexical ranks via the reference RRF math (ranks only — both legs bounded top-k, fusion over <= 2*limit rows per query)",
    "q_search_maxsim_civf" -> "chunk-level-IVF maxsim serving (PLAID shape) graded vs exact truth at two widths x TWO quantizer training spaces (pooled-doc vs chunk-sampled — multi-topic fixture where pooling averages the topics away): per-token DOC shortlists ranked by best probed CHUNK (grouped adaptive-probe route), exact rescore on the shortlist join",
    "q_search_maxsim_filtered" -> "metadata-FILTERED maxsim through the chunk-level IVF: allowed-id pushdown restricts the index rows BEFORE the per-token rank and probe pool (filtered top-k FILLS k from the sub-corpus), graded vs the FILTERED exact truth at two widths",
    "q_search_maxsim_cpq" -> "residual-PQ maxsim candidates (PLAID compressed storage): the ADC leg ranks per-token DOC shortlists from (cluster, codes) rows alone — centroid dot + broadcast per-token subspace tables, NO float-vector read in the candidate scan — graded vs the raw chunk-IVF rule and exact truth at two widths",
    "q_index_drift" -> "index-health drift probe: per-row nano-floored residuals to the frozen centroids + entropy from exact cluster counts, ref vs planted-drift slices, integer-arithmetic rebuild flag (one scan + cluster-keyed combine per slice)",
    "q_search_maxsim" -> "late-interaction maxsim: chunk-vector scan x broadcast query tokens, TWO combiner-collapsed keyed aggs (max per token-doc, sum per doc), bounded top-k window; serving path joins candidates on doc_id (bucket-pruned chunk fetch)",
    "q_snapshot_diff" -> "snapshot diff: full-outer join on 16-byte digests, keyed status rollup",
    "q_compaction_plan" -> "compaction plan: file-inventory agg -> bucketed prefix sum (window partitioned by coarse bucket)",
    "q_zorder_layout" -> "z-order: per-row codegen'd bit fold + ONE keyed aggregate",
    "q_sanitize_extended" -> "extended sanitize: single projection pass, Luhn fold inside codegen",
    "q_events_overlap" -> "interval-overlap join: bucket explode + keyed equi-join, NO inequality theta-join",
    "q_corpus_kl" -> "per-slice KL: keyed aggs + ONE token-keyed join, micro-nat integer sum",
    "q_lexical_boolean" -> "boolean retrieval: term-pruned postings, AND = keyed count, NOT = left-anti",
    "q_feature_binning" -> "equal-frequency binning: value-count prefix sum (partitioned window) + broadcast bin map",
    "q_events_pattern" -> "sequence patterns: ONE keyed aggregate + per-row regex, no self-joins",
    "q_ann_graph_ivf" -> "two-layer serving: IVF reps route the query into the graph beam")

  /** The remainder of the registered surface, in name order — every query in
    * `SparkEntry.queries` gets a plan heading (enforced below), so the
    * no-cartesian / no-unpartitioned-window review surface covers the whole
    * engine, not a curated subset.
    */
  private val Extended = Seq(
    "q10_returns" -> "TPC-H Q10: R-flag pushed to the fact scan, broadcast customer/nation dims, top-20 revenue heap",
    "q12_priority" -> "TPC-H Q12: shipmode + date range all in PushedFilters, 2-key conditional agg",
    "q14_promo" -> "TPC-H Q14: month-pruned fact x broadcast part, single conditional-ratio aggregate",
    "q16_suppcount" -> "TPC-H Q16: LeftAnti complaint suppliers, distinct-supplier count per (brand, type, size)",
    "q20_excess" -> "TPC-H Q20: half-of-shipped threshold agg joined back, LeftSemi chain up to suppliers",
    "q3_revenue" -> "TPC-H Q3: segment-filtered broadcast dims + top-10 revenue heap",
    "q6_forecast" -> "TPC-H Q6: every predicate in PushedFilters, ONE 1-row aggregate — no join, no second exchange",
    "q9_profit" -> "TPC-H Q9: part-name gate pruned at the scan, 2-dim broadcast star, (nation, year) keyed agg",
    "q_ann_brute" -> "brute-force cosine baseline: ONE narrow score projection + TakeOrderedAndProject heap, zero shuffle",
    "q_ann_graph_filtered" -> "filtered graph ANN: unfiltered medoid beam, visited-set AND predicate rescore (oversample floor max(10k,100)), recall vs exact filtered truth",
    "q_ann_graph_recall" -> "graph-beam recall report: beam leg vs checkpointed exact-truth leg, hit join on (query,id)",
    "q_ann_hamming" -> "Hamming shortlist: 64-bit sign-LSH xor+popcount prefilter, exact cosine re-rank of survivors only",
    "q_ann_ivf_filtered" -> "filtered IVF ANN: predicate pushed under the cluster-pruned top-k (pushdown) vs oversampled post-filter — recall graded vs exact filtered truth",
    "q_ann_knn_join" -> "kNN self-join: cluster-blocked candidate pairs + per-src bounded window — no all-pairs product",
    "q_ann_rp" -> "random-projection LSH: per-row bit-fold bucket key, bucket-keyed candidate join + exact re-rank",
    "q_ann_sq" -> "SQ8 scalar quantization: int8-code ADC scan (no embedding read) + exact re-rank of the shortlist",
    "q_bpe_segment" -> "BPE segmentation: broadcast merge ranks, per-row fold — zero shuffle",
    "q_bpe_train" -> "BPE training: per-round pair-count keyed agg + broadcast merge application; state stays vocab-sized",
    "q_chunk_overlap" -> "overlapping chunker: per-doc window slices exploded, output chunk-sized",
    "q_chat_budget" -> "chat budget trim: conversation-keyed reverse running sum + user-alignment cut — two windows, one exchange",
    "q_chat_validate" -> "chat structural audit: from_json parse + per-conversation role-array HOFs, conversation-keyed agg only",
    "q_classifier_pr" -> "PR curve: distinct-margin agg + bucket-sliced prefix sums, window PARTITIONED by bucket (no global sort)",
    "q_cluster_balance" -> "cluster balance: narrow centroid-argmin projection + ONE keyed count agg",
    "q_cluster_purity" -> "cluster purity: (cluster,label) keyed counts -> per-cluster argmax window over label-sized groups",
    "q_collection_list" -> "catalog listing: tenant-prefix filter over the metadata table — catalog-sized, no corpus touch",
    "q_collocations_pmi" -> "PMI collocations: bigram/unigram keyed aggs + broadcast totals, micro-nat integer log-ratios",
    "q_corpus_histogram" -> "equi-width histogram: 1-row min/max broadcast + bin-keyed counts, both passes combiner-collapsed",
    "q_corpus_profile" -> "corpus profile: ONE combiner-collapsed aggregate over pruned columns",
    "q_data_contract" -> "data contract: every Deequ-style check as a conditional count in ONE aggregate — single corpus pass",
    "q_decontaminate" -> "decontamination: eval-slice 3-gram frame probes train shingles at containment >= 0.05; leak rows output-sized",
    "q_decontaminate_semantic" -> "semantic decontamination: bipartite cluster-blocked eval x train cosine, per-eval bounded argmax — output eval-sized",
    "q_dedup_clusters" -> "near-dup components: MinHash pair gen + star rounds, edge set output-sized",
    "q_dedup_embedding" -> "embedding near-dup: cluster-keyed cosine pairs over threshold — never all-pairs",
    "q_dedup_exact" -> "exact dedup: sha256-keyed agg, ONE exchange, min-id winners",
    "q_dedup_minhash_sig" -> "MinHash signatures: native per-row expression — signature column out, zero shuffle",
    "q_dedup_multiscript" -> "script-aware near-dup: per-row CJK char-ngram / Latin word-gram routing (native CharNgrams), banded LSH bucket join",
    "q_dedup_ngram" -> "n-gram Jaccard: inverted-index candidate join + sorted-merge verify; diagnosis frames released try/finally",
    "q_dedup_paragraph" -> "paragraph dedup: paragraph explode -> hash-keyed first-occurrence, docs rebuilt by position",
    "q_dedup_simhash" -> "SimHash-32: per-row fingerprint expression + banded Hamming candidate join",
    "q_dedup_simhash64" -> "SimHash-64: the same banded plan at 64-bit fingerprint precision",
    "q_dedup_spans" -> "ExactSubstr span removal (keep-first): 5-gram occurrence index, later spans cut, first survives",
    "q_dedup_stats" -> "dup-health histogram: cluster-size keyed counts, size-1 filled from the 1-row corpus total",
    "q_dedup_sweep" -> "threshold sweep: ONE persisted pair frame scored once, cutoffs applied as a broadcast grid",
    "q_delete_docs" -> "delete_documents: broadcast id-set LEFT ANTI — one corpus pass",
    "q_domain_cap" -> "per-source token cap: source-keyed running-sum window in (hash, doc) order, one exchange",
    "q_dsir_select" -> "DSIR: hashed n-gram bucket importance weights, per-row micro-nat score + Gumbel top-k heap",
    "q_embed_deterministic" -> "deterministic embedder: per-partition batch embed, narrow map — no shuffle",
    "q_embed_validate" -> "embedding validation: dim/finite/norm checks in ONE projection + rollup agg",
    "q_events_asof_chunked" -> "skew-bounded as-of: 1-hour chunk-local windows + carry summaries — same oracle as the global as-of",
    "q_events_asof_forward" -> "forward as-of: earliest-following match via ordered window, one keyed shuffle",
    "q_events_asof_nearest" -> "nearest as-of: backward+forward union window, (|dt|, direction) argmin — no theta-join",
    "q_events_funnel" -> "funnel: TWO backward as-of joins + gap filters, hourly conversion counts",
    "q_events_rolling" -> "rolling 1-hour features: RANGE frame over ONE user-keyed exchange",
    "q_events_scd2_incr" -> "incremental SCD2: delta keys isolated by semi/anti join, windows over delta-sized slices; merge==rebuild oracle",
    "q_filter_gopher" -> "Gopher gates: ONE native per-row stats pass, gates as projections — no shuffle",
    "q_get_by_ids" -> "get_documents_by_ids: IN-list pushed into the parquet scan (PushedFilters)",
    "q_hard_negatives" -> "hard negatives: kNN shortlist anti-joined vs positives, per-anchor bounded window",
    "q_hybrid_rrf_indexed" -> "hybrid RRF with the lexical leg served from the persisted posting table (GIN analog)",
    "q_id_derivation" -> "uuid5(sha256) id derivation: narrow per-row expression, zero shuffle",
    "q_ingest_dedup" -> "ingest last-wins dedup: id-keyed window on arrival order, one exchange",
    "q_knn_mutual" -> "mutual kNN: bounded kNN legs + reciprocity self-join on (src, dst)",
    "q_lexical_bm25" -> "BM25: token-keyed postings + 1-row corpus stats broadcast, per-query bounded top-k",
    "q_lexical_bm25_multi" -> "multi-query BM25: ONE shared stats/posting pass for all queries",
    "q_lexical_indexed" -> "index-backed lexical search: persisted posting table probe — content never rescanned",
    "q_lexical_tf" -> "TF-sum scoring: token match join + query-keyed agg, bounded top-k",
    "q_lsh_planner" -> "LSH planner: analytic (bands, rows) S-curve on a literal grid — metadata-sized, no corpus touch",
    "q_mixture_temperature" -> "temperature mixture: source-count agg + 1-row total broadcast, integer micro-weight split",
    "q_mm_decode" -> "multimodal decode: opaque binary -> typed metadata in a per-partition narrow map",
    "q_mm_decode_adpcm" -> "IMA ADPCM decode: per-row predictor replay, narrow — output metadata-sized",
    "q_mm_decode_audio" -> "WAV PCM decode: header + frame stats per row, narrow",
    "q_mm_decode_flac" -> "FLAC decode: pure-JVM lossless decompress (Rice + LPC) in a per-partition narrow map",
    "q_mm_decode_formats" -> "format router: magic-byte dispatch to the right pure-JVM decoder in one pass",
    "q_mm_decode_g711" -> "G.711 mu/A-law decode: table-driven expansion per row, narrow",
    "q_mm_decode_image" -> "image decode (PNG/JPEG/GIF/BMP/TIFF): pure-JVM per-partition map, no shuffle",
    "q_mm_decode_video" -> "MJPEG-AVI probe: container parse + frame index per row, narrow",
    "q_mm_frames" -> "frame sampling: per-row frame-index slice, output frames-sized",
    "q_mm_resize" -> "resize plumbing: deterministic box filter over decoded pixels, per-partition batches",
    "q_mm_resize_real" -> "real-fixture resize: box-filter means with an exact integer oracle",
    "q_mm_similarity" -> "media similarity: decode -> per-partition feature extraction -> exact cosine top-k, narrow until the heap",
    "q_mm_similarity_real" -> "real-fixture media similarity: the same plan over decoded pixels",
    "q_name_validation" -> "collection-name guard: regex validation projection — catalog-sized",
    "q_pack_manifest" -> "packing manifest: window->doc slice join frame, output window-sized",
    "q_pii_scan" -> "PII scan: native redaction expression per row + ppm rollup",
    "q_pipeline_curate3" -> "curation v3: quality -> per-lang token-budget fill -> shard layout, ONE composed plan",
    "q_pipeline_curate5" -> "curation v5: train classifier on the trusted slice -> gate at p>=0.5 -> per-lang fill, composed",
    "q_pipeline_curate6" -> "curation v6: paragraph dedup feeds the quality scorer over CLEANED text, composed",
    "q_pipeline_incremental" -> "incremental curation: snapshot diff -> gate ADDED+CHANGED only — cost tracks the delta",
    "q_pipeline_sketch_incr" -> "incremental sketches: stored registers merged with the delta == full rebuild, graded by an independent oracle",
    "q_pref_bias" -> "DPO length-bias audit: narrow token-count projection + ONE source-keyed combiner-collapsed agg",
    "q_pref_dups" -> "duplicate-response audit: sha256-keyed agg, output dup-group-sized",
    "q_profile_cms_cells" -> "raw CMS cells: d-way explode, combiner-collapsed counts — auditable cell dump",
    "q_profile_hll_regs" -> "raw HLL registers: (group, register) max agg — 512 rows regardless of corpus",
    "q_random_negatives" -> "random negatives: seeded-hash picks anti-joined vs positives",
    "q_retriever_chunks" -> "retriever chunking: 512-token windows per doc, explode output-sized",
    "q_sample_fixed" -> "fixed-size sample: hash order + TakeOrderedAndProject heap",
    "q_sample_fixed_group" -> "per-group fixed sample: group-keyed bounded window (WindowGroupLimit)",
    "q_sample_stratified" -> "stratified sample: per-language hash-gate rates in one narrow filter pass",
    "q_sample_weighted_group" -> "per-group weighted sample: Gumbel keys + per-group bounded window",
    "q_sanitize_paths" -> "path sanitization: codegen'd regex chain in a single projection",
    "q_sanitize_pii" -> "PII sanitization: one projection pass, Luhn fold inside codegen",
    "q_search_facet_cap" -> "facet caps: per-facet rank window over the serve shortlist only",
    "q_search_mmr" -> "MMR re-rank: greedy over the k-sized shortlist (k^2 bounded) — corpus untouched",
    "q_semantic_threshold" -> "thresholded semantic search: 1-sim <= t filter under the bounded top-k",
    "q_skew_report" -> "skew diagnosis: key-count agg + heavy-hitter heap, report-sized output",
    "q_skew_salted_agg" -> "salted aggregation: diagnosed-hot keys through two-phase salt, cold keys plain, one union",
    "q_skew_salted_join" -> "salted join: hot keys replicated against the salted build side, cold keys plain equi-join",
    "q_split_leakage" -> "split leakage: train/test shingle probe join, leak rows output-sized",
    "q_terms_topk" -> "top-k terms: token-keyed agg + heap",
    "q_terms_zipf" -> "Zipf fit: rank from bucket-partitioned prefix sums + closed-form OLS on log-log sufficient stats",
    "q_text_boilerplate_strip" -> "boilerplate strip: corpus-frequent 3-gram spans cut via df-frame probe, docs rebuilt",
    "q_text_diversity" -> "lexical diversity: per-doc distinct/total token aggs, one exchange",
    "q_text_fingerprint" -> "rolling polynomial fingerprint: order-sensitive per-row fold, narrow",
    "q_text_langid" -> "language ID: native trigram profile scores vs broadcast profiles, per-row argmax",
    "q_text_normalize" -> "normalization: control-char/whitespace canon in a single narrow projection",
    "q_text_normalize_nfc" -> "NFC normalization: per-row canonical composition, zero shuffle",
    "q_text_percentiles" -> "length percentiles: exact percentile agg over one exchange",
    "q_text_perplexity" -> "CCNet bigram LM: reference-slice model frame joined onto doc bigrams, micro-nat integer sums",
    "q_text_quality" -> "quality scoring: length/punct/stopword ratios in ONE native stats pass",
    "q_text_readability" -> "readability: syllable-estimate expression + per-doc agg, narrow",
    "q_text_repetition" -> "repetition gates: dup-line/paragraph + top-ngram shares per row, keyed only by doc",
    "q_text_tokens" -> "token counting: whitespace + BPE-ish regex in a narrow projection",
    "q_unigram_segment" -> "Unigram-LM Viterbi: broadcast piece costs, per-row DP — no shuffle",
    "q_upsert_merge" -> "upsert MERGE: id-keyed full-outer with last-wins resolution",
    "q_vocab_coverage" -> "vocab coverage: count-of-counts agg + block-exact cumulative mass — no full sort",
    "q_web_hosts" -> "per-host rollup: ONE combiner-collapsed keyed agg, host-count-sized output",
    "q_web_urlnorm" -> "URL canonicalization: codegen'd string builtins only — zero shuffle, zero UDF",
    "q_wordpiece_segment" -> "WordPiece: greedy longest-match vs broadcast vocab, narrow per-row")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val all = Headliners ++ Extended
    val covered = all.map(_._1).toSet
    val registered = SparkEntry.queries.keySet
    require(covered == registered,
      s"PLANS coverage drift — missing: ${(registered -- covered).toSeq.sorted.mkString(",")}; " +
        s"stale: ${(covered -- registered).toSeq.sorted.mkString(",")}")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the FULL query surface\n\n")
    sb.append(s"Generated by `graft.PlanDump` on `$sfDir`. What to look for:\n")
    sb.append("`TakeOrderedAndProject` (bounded top-k), `BroadcastHashJoin`\n")
    sb.append("(small side broadcast), `PushedFilters`/`ReadSchema` (scan\n")
    sb.append("pushdown + pruning), `PartitionFilters` (physical partition\n")
    sb.append("pruning), `WholeStageCodegen` spans, and the ABSENCE of\n")
    sb.append("`CartesianProduct`/global `Sort` in search/dedup paths.\n\n")
    sb.append("Reading note: cluster assignment in the ANN sections is a\n")
    sb.append("single narrow projection — the `nearestcentroidindex(...)`\n")
    sb.append("native expression loops over the baked K-centroid matrix per\n")
    sb.append("row (no vector-x-centroid join exists anywhere in the plan);\n")
    sb.append("the serving joins are keyed (see PlanSpec's all-pairs guards).\n\n")
    sb.append("Scale note (adaptive dedup route): its pair set materializes\n")
    sb.append("through a configurable `Dedup.PairSink` — `Local`\n")
    sb.append("(localCheckpoint, the zero-config single-JVM default used\n")
    sb.append("here), `Reliable` (sparkContext checkpoint dir — the\n")
    sb.append("executor-loss-tolerant 100 TB default), or `Table(path)`\n")
    sb.append("(parquet write + read-back, a resumable pipeline artifact).\n")
    sb.append("All three sinks return the identical frame (DedupSpec).\n")
    for ((name, caption) <- all) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name — $caption\n\n```text\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(outPath), sb.toString)
    spark.stop()
  }
}
