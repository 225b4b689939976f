package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ann.{Ann, GraphSearch}
import graft.ingest.Sanitize
import graft.operators.{Compaction, CorpusDiff, ZOrder}
import graft.functions.TextFunctions
import Fixtures._

/** Table-maintenance / layout / serving-infrastructure operators — the
  * round-7 ops tail: snapshot diff, small-file compaction planning,
  * Z-order layout, graph-guided ANN serving, and the extended
  * (Luhn-validated card + IPv4) sanitize chain. Each is oracle-replayed
  * end to end; scale adjudications live on the operator objects.
  */
object OpsQueries {

  // ---- corpus snapshot diff ----
  // Two snapshots derived deterministically from the documents table by
  // the oracle-replayable stableHash32(id): ~5% of ids exist only in the
  // old snapshot (removed), ~5% only in the new (added), ~5% have revised
  // content (changed); the rest are unchanged.
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.textCorpus(s, dir)
      .withColumn("h", pmod(TextFunctions.stableHash32(col("id").cast("string")), lit(20)))
    val oldSnap = d.filter(col("h") =!= 0).select(col("id"), col("content"))
    val newSnap = d.filter(col("h") =!= 1).select(
      col("id"),
      when(col("h") === 2, concat(col("content"), lit(" [rev2]")))
        .otherwise(col("content")).as("content"))
    CorpusDiff.summary(oldSnap, newSnap).orderBy("status")
  }

  val snapshotDiffSql: String =
    """WITH d AS (SELECT doc_id AS id, text AS content,
      |                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 20 AS h
      |           FROM documents),
      |o AS (SELECT id, md5(content) AS dg FROM d WHERE h <> 0),
      |n AS (SELECT id, md5(CASE WHEN h = 2 THEN content || ' [rev2]' ELSE content END) AS dg
      |      FROM d WHERE h <> 1),
      |j AS (SELECT coalesce(o.id, n.id) AS id,
      |             CASE WHEN o.id IS NULL THEN 'added'
      |                  WHEN n.id IS NULL THEN 'removed'
      |                  WHEN o.dg <> n.dg THEN 'changed'
      |                  ELSE 'unchanged' END AS status
      |      FROM o FULL OUTER JOIN n ON o.id = n.id)
      |SELECT status, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_checksum
      |FROM j GROUP BY 1 ORDER BY status""".stripMargin

  // ---- small-file compaction planning ----
  // The file inventory is derived from the corpus (64 hash-bucket "files"
  // with their byte totals) so the planner's input is reproducible; the
  // plan slices the id-ordered inventory into ~16 KiB merge groups.
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val files = Tables.textCorpus(s, dir)
      .groupBy(pmod(TextFunctions.stableHash32(col("id").cast("string")), lit(64)).as("file_id"))
      .agg(sum(length(col("content"))).as("bytes"))
    Compaction.plan(files, target = 16384L, span = 16L).orderBy("merge_group")
  }

  val compactionPlanSql: String =
    """WITH f AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 64 AS file_id,
      |                  CAST(sum(length(text)) AS BIGINT) AS bytes
      |           FROM documents GROUP BY 1),
      |w AS (SELECT file_id, bytes,
      |             coalesce(CAST(sum(bytes) OVER (ORDER BY file_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS bef
      |      FROM f)
      |SELECT bef // 16384 AS merge_group, count(*) AS n_files,
      |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
      |       min(file_id) AS first_file, max(file_id) AS last_file
      |FROM w GROUP BY 1 ORDER BY merge_group""".stripMargin

  // ---- Z-order layout report ----
  // events laid out on the Morton curve of (user bucket, minute bucket);
  // the report shows each z-range's bounding box in both dimensions — the
  // property parquet min-max skipping prunes on.
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events").select(
      pmod(col("user_id"), lit(1024)).as("x"),
      pmod(expr("timestampdiff(MINUTE, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"), lit(1024)).as("y"))
    ZOrder.boxReport(ev, col("x"), col("y"), bits = 10, buckets = 64)
      .orderBy("z_bucket")
  }

  val zorderLayoutSql: String =
    """WITH e AS (SELECT user_id % 1024 AS x, (epoch_ms(ts) // 60000) % 1024 AS y FROM events),
      |z AS (SELECT x, y,
      |             CAST(list_sum(list_transform(range(0, 10), i ->
      |               (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i+1)))) AS BIGINT) AS zv
      |      FROM e)
      |SELECT zv // 16384 AS z_bucket, count(*) AS n,
      |       min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
      |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin

  // ---- graph-guided ANN (beam search over the kNN graph) ----
  /** Per-cluster medoids — the persisted `.knng.medoids` entry-point
    * algorithm ([[graft.ann.GraphIndex.build]]) replayed over the label
    * clusters: centroid direction = decimal-EXACT per-dimension sum
    * (scale-invariant for cosine, so no division — both engines exact-sum
    * then round identically to double), medoid = the member with the
    * highest cosine to it, ties to the smaller id. One partial-agg pass,
    * no corpus window.
    */
  private def labelMedoids(vecs: DataFrame): DataFrame = {
    val sums = vecs
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum(col("v").cast("decimal(27,10)")).cast("double").as("m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        x => x.getField("m")).as("cv"))
      .withColumn("cn", graft.functions.VectorFunctions.l2Norm(col("cv")))
    vecs.join(broadcast(sums), "label")
      .withColumn("sc",
        graft.functions.VectorFunctions.dot(col("embedding"), col("cv")) /
          (col("norm") * col("cn")))
      .groupBy("label")
      .agg(min(struct((-col("sc")).as("nsc"), col("id").as("id"))).as("m"))
      .select(col("m.id").as("id"))
  }

  /** The exact 8-NN graph `(qid, neighbor)` every graph-beam harness walks. */
  private def knnGraph(vecs: DataFrame): DataFrame =
    Ann.knnJoin(vecs, 8).select(col("qid"), col("neighbor"))

  def annGraphBeam(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    // offline index build (exact 8-NN graph; localCheckpoint = the
    // persisted adjacency table the two search hops probe) ∥ the medoid
    // table — independent fixture legs, overlapped (guide §2.6)
    val (graph, medoids) = graft.Checkpoints.join2(
      () => knnGraph(vecs).localCheckpoint(),
      () => labelMedoids(vecs).localCheckpoint())
    // entry points = the persisted medoid table's stand-in (the
    // q_lexical_indexed pattern): each query routes to its 4 nearest
    // cluster medoids and walks from there — GraphIndex.search's exact
    // serving shape, proven on real persisted sidecars by GraphIndexSpec
    val entryPoints = GraphSearch.routeEntries(vecs, medoids, qs, entries = 4)
    GraphSearch.beamSearchWithEntries(graph, vecs, qs, entryPoints, beam = 8, hops = 2, k = 5)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  /** Medoid entry points in DuckDB terms: decimal-exact per-dim label
    * sums (the centroid direction), medoid = max-cosine member (tie min
    * id) — the [[labelMedoids]] replay.
    */
  private val medoidCtes: String =
    """el AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
      |ms AS (SELECT label, d.i AS dim,
      |              CAST(sum(CAST(v[d.i+1] AS DECIMAL(27,10))) AS DOUBLE) AS m
      |       FROM el, UNNEST(range(len(v))) AS d(i) GROUP BY label, d.i),
      |cent AS (SELECT label, list(m ORDER BY dim) AS cv FROM ms GROUP BY label),
      |med AS (SELECT id FROM (
      |          SELECT el.id, row_number() OVER (PARTITION BY el.label
      |                 ORDER BY list_cosine_similarity(el.v, c.cv) DESC, el.id) AS rn
      |          FROM el JOIN cent c ON el.label = c.label) WHERE rn = 1)""".stripMargin

  // The DuckDB side of the graph-beam harnesses: the exact 8-NN graph
  // `g(qid, neighbor)` over `e` and the three queries `q(query_idx, qv)`;
  // the walk from the `n0` entries of `entrySet` nearest each query, two
  // hops over g keeping a beam of 8 (CTE names suffixed `x`); the top-5
  // answer of an unfiltered walk, scored (beamAnswerSql) or as ids
  // (beamTopCtes); and exact top-5 truth under the two filter predicates.
  private val graphCtes: String =
    """g AS (SELECT qid, neighbor FROM (
      |        SELECT a.id AS qid, b.id AS neighbor,
      |               row_number() OVER (PARTITION BY a.id
      |                 ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.id) AS rn
      |        FROM e a JOIN e b ON a.id <> b.id) WHERE rn <= 8),
      |q AS (SELECT CAST(vec_id AS INTEGER) AS query_idx, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2))""".stripMargin

  private def beamWalkCtes(x: String, entrySet: String, n0: Int): String =
    s"""f0$x AS (SELECT query_idx, id FROM (
       |         SELECT q.query_idx, e.id,
       |                row_number() OVER (PARTITION BY q.query_idx
       |                  ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.id) AS rn
       |         FROM q CROSS JOIN e
       |         WHERE e.id IN ($entrySet)) WHERE rn <= $n0),
       |u1$x AS (SELECT f.query_idx, g.neighbor AS id FROM f0$x f JOIN g ON g.qid = f.id
       |       UNION SELECT query_idx, id FROM f0$x),
       |f1$x AS (SELECT query_idx, id FROM (
       |         SELECT u.query_idx, u.id,
       |                row_number() OVER (PARTITION BY u.query_idx
       |                  ORDER BY list_cosine_similarity(e.v, q.qv) DESC, u.id) AS rn
       |         FROM u1$x u JOIN e ON e.id = u.id JOIN q ON q.query_idx = u.query_idx) WHERE rn <= 8),
       |u2$x AS (SELECT f.query_idx, g.neighbor AS id FROM f1$x f JOIN g ON g.qid = f.id
       |       UNION SELECT query_idx, id FROM f1$x)""".stripMargin

  private val beamAnswerSql: String =
    """f2 AS (SELECT query_idx, id, sc FROM (
      |         SELECT u.query_idx, u.id, list_cosine_similarity(e.v, q.qv) AS sc,
      |                row_number() OVER (PARTITION BY u.query_idx
      |                  ORDER BY list_cosine_similarity(e.v, q.qv) DESC, u.id) AS rn
      |         FROM u2 u JOIN e ON e.id = u.id JOIN q ON q.query_idx = u.query_idx) WHERE rn <= 8)
      |SELECT query_idx, id, round(sc, 6) AS score FROM (
      |  SELECT query_idx, id, sc,
      |         row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |  FROM f2) WHERE rn <= 5
      |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  private def beamTopCtes(x: String): String =
    s"""f2$x AS (SELECT query_idx, id FROM (
       |         SELECT u.query_idx, u.id,
       |                row_number() OVER (PARTITION BY u.query_idx
       |                  ORDER BY list_cosine_similarity(e.v, q.qv) DESC, u.id) AS rn
       |         FROM u2$x u JOIN e ON e.id = u.id JOIN q ON q.query_idx = u.query_idx) WHERE rn <= 8),
       |approx$x AS (SELECT query_idx, id FROM (
       |             SELECT f.query_idx, f.id,
       |                    row_number() OVER (PARTITION BY f.query_idx
       |                      ORDER BY list_cosine_similarity(e.v, q.qv) DESC, f.id) AS rn
       |             FROM f2$x f JOIN e ON e.id = f.id JOIN q ON q.query_idx = f.query_idx)
       |           WHERE rn <= 5)""".stripMargin

  private val filteredTruthCtes: String =
    """truth_s AS (SELECT query_idx, id FROM (
      |              SELECT q.query_idx, e.id,
      |                     row_number() OVER (PARTITION BY q.query_idx
      |                       ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.id) AS rn
      |              FROM q CROSS JOIN e WHERE e.id % 97 = 0) WHERE rn <= 5),
      |truth_h AS (SELECT query_idx, id FROM (
      |              SELECT q.query_idx, e.id,
      |                     row_number() OVER (PARTITION BY q.query_idx
      |                       ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.id) AS rn
      |              FROM q CROSS JOIN e WHERE e.id % 2 = 0) WHERE rn <= 5)""".stripMargin

  val annGraphBeamSql: String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$medoidCtes,
      |$graphCtes,
      |${beamWalkCtes("", "SELECT id FROM med", 4)},
      |$beamAnswerSql""".stripMargin

  // ---- IVF-routed graph beam: the two-layer serving composition ----
  // Coarse layer = the IVF deterministic representatives (min-id member
  // per label); each query enters the graph at its 3 nearest reps and
  // walks from there — a two-layer HNSW shape with the quantizer on top.
  def annGraphIvf(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val graph = knnGraph(vecs).localCheckpoint()
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    import s.implicits._
    val qframe = qs.toDF("query_idx", "qv")
      .withColumn("qv", col("qv").cast("array<double>"))
      .withColumn("qn", graft.functions.VectorFunctions.l2Norm(col("qv")))
    val reps = vecs.groupBy("label").agg(min("id").as("id"))
      .join(vecs.select("id", "embedding", "norm"), "id")
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy("query_idx").orderBy(col("sc").desc, col("id").asc)
    val entries = qframe.crossJoin(broadcast(reps))
      .withColumn("sc", graft.functions.VectorFunctions.dot(col("qv"), col("embedding"))
        / (col("qn") * col("norm")))
      .withColumn("rn", row_number().over(byQ)).filter(col("rn") <= 3)
      .select("query_idx", "id")
    GraphSearch.beamSearchWithEntries(graph, vecs, qs, entries, beam = 8, hops = 2, k = 5)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  val annGraphIvfSql: String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$graphCtes,
      |reps AS (SELECT min(vec_id) AS id FROM embeddings GROUP BY label),
      |${beamWalkCtes("", "SELECT id FROM reps", 3)},
      |$beamAnswerSql""".stripMargin

  // ---- graph-beam recall: grade BOTH entry routes against exact truth ----
  // The eval that closes the graph-index loop (build -> serve -> grade),
  // the way q_ann_recall grades the IVF route — now per ROUTE:
  //   - 'entry_at_query': the legacy smallest-id entry set. On this
  //     fixture ids 0..3 CONTAIN the query points (queries are vec_ids
  //     0,1,2), so its recall is a degenerate upper bound — the walk
  //     starts AT the answer. Kept as the labeled artifact it is.
  //   - 'medoid': the production route GraphIndex.search serves from the
  //     persisted entry-point table. This corpus is measured
  //     near-orthogonal (avg within-label cosine 0.0016 vs 0.0003
  //     cross), the regime where NO sublinear entry strategy can climb
  //     to an exact query point — the honest recall for a graph walk
  //     that does not start at the answer.
  def annGraphRecall(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    // graph build ∥ exact truth ∥ medoid table — three independent
    // fixture legs, overlapped (guide §2.6)
    val w = graft.Checkpoints.parCheckpoint(Seq(
      knnGraph(vecs),
      Ann.bruteTopK(vecs, qs, 5).select("query_idx", "id"),
      labelMedoids(vecs)))
    val (graph, truth, medoids) = (w(0), w(1), w(2))
    val medoidEntries = GraphSearch.routeEntries(vecs, medoids, qs, entries = 4)
    val routes = Seq(
      "entry_at_query" -> GraphSearch.beamSearch(
        graph, vecs, qs, entries = 4, beam = 8, hops = 2, k = 5),
      "medoid" -> GraphSearch.beamSearchWithEntries(
        graph, vecs, qs, medoidEntries, beam = 8, hops = 2, k = 5))
    routes.map { case (name, approx) =>
      recallByQuery(truth, approx)
        .select(lit(name).as("route"), col("query_idx"), col("n_hits"), col("recall"))
    }.reduce(_ unionByName _).orderBy("route", "query_idx")
  }

  val annGraphRecallSql: String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$medoidCtes,
      |$graphCtes,
      |truth AS (SELECT query_idx, id FROM (
      |            SELECT q.query_idx, e.id,
      |                   row_number() OVER (PARTITION BY q.query_idx
      |                     ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.id) AS rn
      |            FROM q CROSS JOIN e) WHERE rn <= 5),
      |${beamWalkCtes("m", "SELECT id FROM med", 4)},
      |${beamTopCtes("m")},
      |${beamWalkCtes("s", "SELECT id FROM e ORDER BY id LIMIT 4", 8)},
      |${beamTopCtes("s")},
      |ke AS (SELECT query_idx, count(*) AS k_eff FROM truth GROUP BY 1),
      |hm AS (SELECT t.query_idx, count(*) AS n_hits
      |       FROM truth t JOIN approxm a ON t.query_idx = a.query_idx AND t.id = a.id
      |       GROUP BY 1),
      |hs AS (SELECT t.query_idx, count(*) AS n_hits
      |       FROM truth t JOIN approxs a ON t.query_idx = a.query_idx AND t.id = a.id
      |       GROUP BY 1)
      |SELECT route, query_idx, n_hits, recall FROM (
      |  SELECT 'entry_at_query' AS route, ke.query_idx,
      |         CAST(coalesce(hs.n_hits, 0) AS BIGINT) AS n_hits,
      |         round(CAST(coalesce(hs.n_hits, 0) AS DOUBLE) / k_eff, 6) AS recall
      |  FROM ke LEFT JOIN hs ON ke.query_idx = hs.query_idx
      |  UNION ALL
      |  SELECT 'medoid' AS route, ke.query_idx,
      |         CAST(coalesce(hm.n_hits, 0) AS BIGINT) AS n_hits,
      |         round(CAST(coalesce(hm.n_hits, 0) AS DOUBLE) / k_eff, 6) AS recall
      |  FROM ke LEFT JOIN hm ON ke.query_idx = hm.query_idx)
      |ORDER BY route, query_idx""".stripMargin

  // ---- filtered graph ANN: answer from visited-set ∩ predicate ----
  // Grades GraphSearch.beamSearchFilteredWithEntries (the route
  // GraphIndex.searchFiltered serves) against exact FILTERED truth on a
  // selective (~1%: id % 97 = 0, 6/500 rows at sf0.01) and a
  // non-selective (50%: id % 2 = 0) predicate. The walk is UNFILTERED —
  // identical to q_ann_graph_beam's medoid route — so the oracle shares
  // that replay and only the final rescore differs: top-k among
  // (entries ∪ hop1-candidates ∪ hop2-candidates) ∧ pred. Recall vs the
  // filtered brute scan is the graded artifact, per predicate per query.
  def annGraphFiltered(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    // graph build ∥ the medoid-entry chain — independent fixture legs,
    // overlapped (guide §2.6)
    val (graph, medoidEntries) = graft.Checkpoints.join2(
      () => knnGraph(vecs).localCheckpoint(),
      () => GraphSearch.routeEntries(
        vecs, labelMedoids(vecs).localCheckpoint(), qs, entries = 4).localCheckpoint())
    val preds = Seq(
      "sel_1pct" -> (pmod(col("id"), lit(97)) === 0),
      "half" -> (pmod(col("id"), lit(2)) === 0))
    // the walk is UNFILTERED and therefore identical for every predicate:
    // materialize its visited set ONCE and pay only the final
    // visited ∧ pred rescore per predicate (was: one full walk per pred)
    val visited = GraphSearch.visitedWithEntries(
      graph, vecs, qs, medoidEntries, beam = 8, hops = 2, k = 5).localCheckpoint()
    preds.map { case (name, pred) =>
      val truth = Ann.bruteTopK(vecs.filter(pred), qs, 5).select("query_idx", "id")
      val approx = GraphSearch.filteredRescoreTopK(
        visited, vecs, qs, k = 5, pred, beam = 8, hops = 2)
      recallByQuery(truth, approx).select(lit(name).as("pred"),
        col("query_idx"), col("k_eff"), col("n_hits"), col("recall"))
    }.reduce(_ unionByName _).orderBy("pred", "query_idx")
  }

  val annGraphFilteredSql: String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$medoidCtes,
      |$graphCtes,
      |${beamWalkCtes("", "SELECT id FROM med", 4)},
      |vis AS (SELECT query_idx, id FROM u1 UNION SELECT query_idx, id FROM u2),
      |$filteredTruthCtes,
      |ans_s AS (SELECT query_idx, id FROM (
      |            SELECT v.query_idx, v.id,
      |                   row_number() OVER (PARTITION BY v.query_idx
      |                     ORDER BY list_cosine_similarity(e.v, q.qv) DESC, v.id) AS rn
      |            FROM vis v JOIN e ON e.id = v.id JOIN q ON q.query_idx = v.query_idx
      |            WHERE e.id % 97 = 0) WHERE rn <= 5),
      |ans_h AS (SELECT query_idx, id FROM (
      |            SELECT v.query_idx, v.id,
      |                   row_number() OVER (PARTITION BY v.query_idx
      |                     ORDER BY list_cosine_similarity(e.v, q.qv) DESC, v.id) AS rn
      |            FROM vis v JOIN e ON e.id = v.id JOIN q ON q.query_idx = v.query_idx
      |            WHERE e.id % 2 = 0) WHERE rn <= 5),
      |ke_s AS (SELECT query_idx, count(*) AS k_eff FROM truth_s GROUP BY 1),
      |ke_h AS (SELECT query_idx, count(*) AS k_eff FROM truth_h GROUP BY 1),
      |h_s AS (SELECT t.query_idx, count(*) AS n_hits
      |        FROM truth_s t JOIN ans_s a ON t.query_idx = a.query_idx AND t.id = a.id
      |        GROUP BY 1),
      |h_h AS (SELECT t.query_idx, count(*) AS n_hits
      |        FROM truth_h t JOIN ans_h a ON t.query_idx = a.query_idx AND t.id = a.id
      |        GROUP BY 1)
      |SELECT pred, query_idx, k_eff, n_hits, recall FROM (
      |  SELECT 'sel_1pct' AS pred, k.query_idx, CAST(k.k_eff AS BIGINT) AS k_eff,
      |         CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |         round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / k.k_eff, 6) AS recall
      |  FROM ke_s k LEFT JOIN h_s h ON k.query_idx = h.query_idx
      |  UNION ALL
      |  SELECT 'half' AS pred, k.query_idx, CAST(k.k_eff AS BIGINT) AS k_eff,
      |         CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |         round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / k.k_eff, 6) AS recall
      |  FROM ke_h k LEFT JOIN h_h h ON k.query_idx = h.query_idx)
      |ORDER BY pred, query_idx""".stripMargin

  // ---- filtered IVF ANN: predicate pushdown vs post-filter oversample ----
  // The reference's TWO filtered-search strategies on the IVF route,
  // graded against exact FILTERED truth like q_ann_graph_filtered:
  // (a) PUSHDOWN — the metadata predicate filters the probed clusters
  // BEFORE the top-k heap (the WHERE-under-ORDER-BY shape of
  // /root/reference/vector_mcp/vectordb/postgres.py:329-338; exact within
  // the probe set, recall loss only from nprobe), and (b) POST-FILTER —
  // an unfiltered oversampled serve (numCandidates = max(10·k, 100),
  // /root/reference/vector_mcp/vectordb/mongodb.py:277) filtered after
  // the fact (index-agnostic; loses recall when the predicate is
  // selective and the oversample window fills with non-qualifying rows).
  // Output: recall@k per (predicate, route, query), both replayed 1:1.
  def annIvfFiltered(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = Tables.vectors(s, dir)
    val centroids = Ann.representativeCentroids(vecs, "label").localCheckpoint()
    val assigned = Ann.assign(vecs, centroids).localCheckpoint()
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    val k = 5
    val numCandidates = math.max(10 * k, 100)
    val preds = Seq(
      "sel_1pct" -> (pmod(col("id"), lit(97)) === 0),
      "half" -> (pmod(col("id"), lit(2)) === 0))
    preds.map { case (name, pred) =>
      val truth = Ann.bruteTopK(vecs.filter(pred), qs, k)
        .select("query_idx", "id").localCheckpoint()
      val pre = Ann.ivfTopK(assigned.filter(pred), centroids, qs, k, nprobe = 3)
        .select(col("query_idx"), col("id"), lit("pushdown").as("route"))
      val w = Window.partitionBy("query_idx")
        .orderBy(col("score").desc, col("id"))
      val post = Ann.ivfTopK(assigned, centroids, qs, numCandidates, nprobe = 3)
        .filter(pred)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select(col("query_idx"), col("id"), lit("postfilter").as("route"))
      val approx = pre.unionByName(post)
      val hits = truth.join(approx, Seq("query_idx", "id"))
        .groupBy("route", "query_idx").agg(count(lit(1)).as("n_hits"))
      val keff = truth.groupBy("query_idx").agg(count(lit(1)).as("k_eff"))
      Seq("pushdown", "postfilter").map(rt =>
          keff.select(lit(name).as("pred"), lit(rt).as("route"),
            col("query_idx"), col("k_eff")))
        .reduce(_ unionByName _)
        .join(hits, Seq("route", "query_idx"), "left")
        .select(col("pred"), col("route"), col("query_idx"), col("k_eff"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("k_eff").cast("double"), 6).as("recall"))
    }.reduce(_ unionByName _).orderBy("pred", "route", "query_idx")
  }

  val annIvfFilteredSql: String =
    s"""WITH e AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${ivfAssignCtes(renameInner = false)},
      |q AS (SELECT CAST(vec_id AS INTEGER) AS query_idx, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2)),
      |probes AS (
      |  SELECT query_idx, centroid_id FROM (
      |    SELECT q.query_idx, cent.centroid_id,
      |           row_number() OVER (PARTITION BY q.query_idx
      |             ORDER BY 1.0 - list_cosine_similarity(q.qv, cent.c), cent.centroid_id) AS rn
      |    FROM q CROSS JOIN cent)
      |  WHERE rn <= 3),
      |scored AS (
      |  SELECT q.query_idx, a.id, list_cosine_similarity(a.v, q.qv) AS sc
      |  FROM q JOIN probes p ON p.query_idx = q.query_idx
      |  JOIN assign a ON a.cluster_id = p.centroid_id),
      |pre_s AS (SELECT query_idx, id FROM (
      |            SELECT query_idx, id, row_number() OVER (PARTITION BY query_idx
      |              ORDER BY sc DESC, id) AS rn
      |            FROM scored WHERE id % 97 = 0) WHERE rn <= 5),
      |pre_h AS (SELECT query_idx, id FROM (
      |            SELECT query_idx, id, row_number() OVER (PARTITION BY query_idx
      |              ORDER BY sc DESC, id) AS rn
      |            FROM scored WHERE id % 2 = 0) WHERE rn <= 5),
      |over_c AS (SELECT query_idx, id, sc FROM (
      |             SELECT query_idx, id, sc, row_number() OVER (PARTITION BY query_idx
      |               ORDER BY sc DESC, id) AS rn
      |             FROM scored) WHERE rn <= 100),
      |post_s AS (SELECT query_idx, id FROM (
      |             SELECT query_idx, id, row_number() OVER (PARTITION BY query_idx
      |               ORDER BY sc DESC, id) AS rn
      |             FROM over_c WHERE id % 97 = 0) WHERE rn <= 5),
      |post_h AS (SELECT query_idx, id FROM (
      |             SELECT query_idx, id, row_number() OVER (PARTITION BY query_idx
      |               ORDER BY sc DESC, id) AS rn
      |             FROM over_c WHERE id % 2 = 0) WHERE rn <= 5),
      |$filteredTruthCtes,
      |legs AS (
      |  SELECT 'sel_1pct' AS pred, 'pushdown' AS route, query_idx, id FROM pre_s
      |  UNION ALL
      |  SELECT 'sel_1pct', 'postfilter', query_idx, id FROM post_s
      |  UNION ALL
      |  SELECT 'half', 'pushdown', query_idx, id FROM pre_h
      |  UNION ALL
      |  SELECT 'half', 'postfilter', query_idx, id FROM post_h),
      |truths AS (
      |  SELECT 'sel_1pct' AS pred, query_idx, id FROM truth_s
      |  UNION ALL
      |  SELECT 'half', query_idx, id FROM truth_h),
      |ke AS (SELECT pred, query_idx, CAST(count(*) AS BIGINT) AS k_eff
      |       FROM truths GROUP BY 1, 2),
      |routes(route) AS (VALUES ('pushdown'), ('postfilter')),
      |h AS (SELECT l.pred, l.route, l.query_idx, CAST(count(*) AS BIGINT) AS n_hits
      |      FROM truths t JOIN legs l
      |        ON t.pred = l.pred AND t.query_idx = l.query_idx AND t.id = l.id
      |      GROUP BY 1, 2, 3)
      |SELECT ke.pred, r.route, ke.query_idx, ke.k_eff,
      |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |       round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ke.k_eff, 6) AS recall
      |FROM ke CROSS JOIN routes r
      |LEFT JOIN h ON h.pred = ke.pred AND h.route = r.route
      |  AND h.query_idx = ke.query_idx
      |ORDER BY ke.pred, r.route, ke.query_idx""".stripMargin

  // ---- extended sanitize: Luhn-validated cards + IPv4 ----
  // Adversarial rows are synthesized from the id (16-digit dashed card
  // candidate — Luhn-valid for ~10% of ids — plus an IPv4 and an email),
  // so the oracle can CONSTRUCT the expected redaction independently
  // instead of replaying the engine's regexes.
  def sanitizeExtended(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.textCorpus(s, dir).select(col("id"))
      .withColumn("raw",
        lpad(((col("id").cast("long") * 7919L + 123456789L) % 1000000000000L).cast("string"), 16, "0"))
      .withColumn("cc", concat_ws("-",
        substring(col("raw"), 1, 4), substring(col("raw"), 5, 4),
        substring(col("raw"), 9, 4), substring(col("raw"), 13, 4)))
      .withColumn("ip", concat(lit("10."), pmod(col("id"), lit(256)), lit("."),
        pmod(expr("id DIV 256"), lit(256)), lit("."), pmod(col("id"), lit(200)) + 1))
      .withColumn("text2", concat(lit("contact bob@example.com at "), col("ip"),
        lit(" card "), col("cc")))
    d.select(col("id"),
        Sanitize.luhnValid(col("raw")).as("cc_valid"),
        Sanitize.sanitizeTextExtended(col("text2")).as("redacted"))
      .orderBy("id")
  }

  val sanitizeExtendedSql: String =
    """WITH d AS (SELECT doc_id AS id,
      |                  lpad(CAST((doc_id * 7919 + 123456789) % 1000000000000 AS VARCHAR), 16, '0') AS raw
      |           FROM documents),
      |c AS (SELECT id, raw,
      |             substr(raw,1,4) || '-' || substr(raw,5,4) || '-' || substr(raw,9,4) || '-' || substr(raw,13,4) AS cc,
      |             '10.' || (id % 256) || '.' || ((id // 256) % 256) || '.' || (id % 200 + 1) AS ip,
      |             CAST(list_sum(list_transform(range(1, 17), i ->
      |               CASE WHEN i % 2 = 0 THEN
      |                 CASE WHEN 2 * CAST(substr(reverse(raw), CAST(i AS INT), 1) AS INT) > 9
      |                      THEN 2 * CAST(substr(reverse(raw), CAST(i AS INT), 1) AS INT) - 9
      |                      ELSE 2 * CAST(substr(reverse(raw), CAST(i AS INT), 1) AS INT) END
      |               ELSE CAST(substr(reverse(raw), CAST(i AS INT), 1) AS INT) END)) AS BIGINT) AS luhn_sum
      |      FROM d)
      |SELECT id, luhn_sum % 10 = 0 AS cc_valid,
      |       'contact [REDACTED_EMAIL] at [REDACTED_IP] card ' ||
      |         CASE WHEN luhn_sum % 10 = 0 THEN '[REDACTED_CC]' ELSE cc END AS redacted
      |FROM c ORDER BY id""".stripMargin

  // ---- interval-overlap join: cross-user session co-presence ----
  // Sessions (30-min gap) self-joined on time overlap across DIFFERENT
  // users via the bucketed decomposition (no theta-join); top-20 user
  // pairs by total overlapped milliseconds.
  def eventsOverlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val ev = Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        expr("timestampdiff(MILLISECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)").as("ts_ms"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val sess = ev.groupBy("user_id", "session_idx")
      .agg(min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"))
      .localCheckpoint() // both sides of the self-join read it
    val l = sess.select(col("user_id").as("ua"), col("start_ms").as("sa"), col("end_ms").as("ea"))
    val r = sess.select(col("user_id").as("ub"), col("start_ms").as("sb"), col("end_ms").as("eb"))
    graft.operators.IntervalJoin.overlap(l, r, "sa", "ea", "sb", "eb", width = 3600000L)
      .filter(col("ua") < col("ub"))
      .groupBy("ua", "ub")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(col("overlap_end") - col("overlap_start")).as("overlap_ms"))
      .orderBy(col("overlap_ms").desc, col("ua"), col("ub"))
      .limit(20)
  }

  val eventsOverlapSql: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
      |                   lag(epoch_ms(ts)) OVER (PARTITION BY user_id
      |                     ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |            FROM events),
      |sflag AS (SELECT user_id, event_id, ts_ms,
      |                 CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
      |                      THEN 1 ELSE 0 END AS new_sess
      |          FROM ev),
      |sidx AS (SELECT user_id, ts_ms,
      |                sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |         FROM sflag),
      |sess AS (SELECT user_id, session_idx,
      |                min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
      |         FROM sidx GROUP BY 1, 2),
      |p AS (SELECT a.user_id AS ua, b.user_id AS ub,
      |             greatest(a.start_ms, b.start_ms) AS o_start,
      |             least(a.end_ms, b.end_ms) AS o_end
      |      FROM sess a JOIN sess b
      |        ON a.start_ms <= b.end_ms AND b.start_ms <= a.end_ms
      |       AND a.user_id < b.user_id)
      |SELECT ua, ub, count(*) AS n_overlaps,
      |       CAST(sum(o_end - o_start) AS BIGINT) AS overlap_ms
      |FROM p GROUP BY 1, 2
      |ORDER BY overlap_ms DESC, ua, ub LIMIT 20""".stripMargin

  // ---- per-source KL divergence: the domain-shift report ----
  def corpusKl(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("source"),
      TextFunctions.tokens(col("text")).as("tokens"))
    graft.operators.Divergence.klBySlice(d, "source")
      .withColumnRenamed("slice", "source")
  }

  val corpusKlSql: String =
    """WITH d AS (SELECT source AS slice,
      |                  regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS toks
      |           FROM documents),
      |tok AS (SELECT slice, unnest(toks) AS t FROM d),
      |st AS (SELECT slice, t, count(*) AS c_st FROM tok GROUP BY 1, 2),
      |ct AS (SELECT t, count(*) AS c_t FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n, count(*) AS v FROM ct),
      |ns AS (SELECT slice, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
      |terms AS (SELECT st.slice, ns.n_s,
      |            floor(1000000.0
      |              * (CAST(st.c_st + 1 AS DOUBLE) / CAST(ns.n_s + tot.v AS DOUBLE))
      |              * ln((CAST(st.c_st + 1 AS DOUBLE) / CAST(ns.n_s + tot.v AS DOUBLE))
      |                / (CAST(ct.c_t + 1 AS DOUBLE) / CAST(tot.n + tot.v AS DOUBLE)))) AS term_micro
      |          FROM st JOIN ct USING (t) JOIN ns ON st.slice = ns.slice CROSS JOIN tot)
      |SELECT slice AS source, max(n_s) AS n_tokens, count(*) AS support,
      |       CAST(sum(term_micro) AS BIGINT) AS kl_micro
      |FROM terms GROUP BY slice ORDER BY source""".stripMargin

  // ---- boolean retrieval (AND / NOT over the posting table) ----
  def lexicalBoolean(s: SparkSession, dir: String): DataFrame = {
    val postings = graft.ingest.Ingest.postings(Tables.textCorpus(s, dir))
    graft.search.Lexical.searchBoolean(postings,
      must = Seq("spark", "join"), mustNot = Seq("stream"), k = 20)
  }

  val lexicalBooleanSql: String =
    """WITH d AS (SELECT doc_id AS id,
      |                  regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS toks
      |           FROM documents),
      |m AS (SELECT id,
      |             len(list_filter(toks, x -> x = 'spark')) AS f0,
      |             len(list_filter(toks, x -> x = 'join')) AS f1,
      |             len(list_filter(toks, x -> x = 'stream')) AS f2
      |      FROM d)
      |SELECT id, CAST(f0 + f1 AS DOUBLE) AS score FROM m
      |WHERE f0 > 0 AND f1 > 0 AND f2 = 0
      |ORDER BY score DESC, id LIMIT 20""".stripMargin

  // ---- equal-frequency feature binning (document-length deciles) ----
  def featureBinning(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables.t(s, dir, "documents")
      .select(length(col("text")).cast("long").as("value"))
    graft.operators.Binning.report(vals, nBins = 10)
  }

  val featureBinningSql: String =
    """WITH v AS (SELECT CAST(length(text) AS BIGINT) AS value FROM documents),
      |c AS (SELECT value, count(*) AS cnt FROM v GROUP BY 1),
      |w AS (SELECT value,
      |             coalesce(CAST(sum(cnt) OVER (ORDER BY value
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below
      |      FROM c),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      |b AS (SELECT v.value, (w.below * 10) // t.n AS bin
      |      FROM v JOIN w ON v.value = w.value CROSS JOIN t)
      |SELECT bin, count(*) AS n, min(value) AS v_min, max(value) AS v_max,
      |       (CAST(sum(value) AS BIGINT) * 1000000) // count(*) AS v_mean_micro
      |FROM b GROUP BY 1 ORDER BY bin""".stripMargin

  // ---- facet-capped semantic top-k: serving-side diversity by hard
  //      per-facet quota (at most C hits per label facet), the cheap
  //      production sibling of MMR — two bounded windows, no pair scoring
  def searchFacetCap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.vectors(s, dir)
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    val hits = graft.search.Semantic.search(docs, qs, 50, payload = Seq("label"))
    val perFacet = Window.partitionBy("query_idx", "label")
      .orderBy(col("score").desc, col("id").asc)
    val overall = Window.partitionBy("query_idx")
      .orderBy(col("score").desc, col("id").asc)
    hits
      .withColumn("frn", row_number().over(perFacet)).filter(col("frn") <= 2)
      .withColumn("rn", row_number().over(overall)).filter(col("rn") <= 10)
      .select(col("query_idx"), col("id"), col("label"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_idx"), round(col("score"), 6).desc, col("id"))
  }

  val searchFacetCapSql: String =
    """WITH q AS (SELECT CAST(vec_id AS INTEGER) AS query_idx, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id IN (0,1,2)),
      |s AS (SELECT q.query_idx, e.vec_id AS id, e.label,
      |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sc
      |      FROM q CROSS JOIN embeddings e),
      |shortlist AS (SELECT query_idx, id, label, sc FROM (
      |    SELECT query_idx, id, label, sc,
      |           row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |    FROM s) WHERE rn <= 50),
      |capped AS (SELECT query_idx, id, label, sc FROM (
      |    SELECT query_idx, id, label, sc,
      |           row_number() OVER (PARTITION BY query_idx, label ORDER BY sc DESC, id) AS frn
      |    FROM shortlist) WHERE frn <= 2)
      |SELECT query_idx, id, label, round(sc, 6) AS score FROM (
      |  SELECT query_idx, id, label, sc,
      |         row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |  FROM capped) WHERE rn <= 10
      |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  // ---- join-skew diagnostics: the report that tells an operator owner
  //      WHICH keys need salting before the 100 TB run — per-key-decile
  //      mass distribution + exact integer Gini-style concentration and
  //      the top hot keys
  def skewReport(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("key")).agg(count(lit(1)).as("n"))
    val binned = graft.operators.Binning.report(
      keyed.select(col("n").as("value")), nBins = 10)
    binned.select(lit("decile").as("kind"), col("bin").cast("long").as("k"),
      col("n"), col("v_min"), col("v_max"), col("v_mean_micro"))
      .unionByName(
        keyed.orderBy(col("n").desc, col("key").asc).limit(5)
          .select(lit("hot").as("kind"), col("key").cast("long").as("k"),
            lit(1L).as("n"), col("n").as("v_min"), col("n").as("v_max"),
            (col("n") * 1000000L).as("v_mean_micro")))
      .orderBy("kind", "k")
  }

  val skewReportSql: String =
    """WITH keyed AS (SELECT l_orderkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
      |v AS (SELECT n AS value FROM keyed),
      |c AS (SELECT value, count(*) AS cnt FROM v GROUP BY 1),
      |w AS (SELECT value,
      |             coalesce(CAST(sum(cnt) OVER (ORDER BY value
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below
      |      FROM c),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM v),
      |b AS (SELECT v.value, (w.below * 10) // t.total AS bin
      |      FROM v JOIN w ON v.value = w.value CROSS JOIN t),
      |deciles AS (
      |  SELECT 'decile' AS kind, bin AS k, count(*) AS n,
      |         min(value) AS v_min, max(value) AS v_max,
      |         (CAST(sum(value) AS BIGINT) * 1000000) // count(*) AS v_mean_micro
      |  FROM b GROUP BY bin),
      |hot AS (
      |  SELECT 'hot' AS kind, key AS k, CAST(1 AS BIGINT) AS n,
      |         keyed.n AS v_min, keyed.n AS v_max, keyed.n * 1000000 AS v_mean_micro
      |  FROM keyed ORDER BY keyed.n DESC, key LIMIT 5)
      |SELECT * FROM deciles UNION ALL SELECT * FROM hot
      |ORDER BY kind, k""".stripMargin

  // ---- pseudo-relevance-feedback query expansion (RM3-style, integer-
  //      exact term selection): base BM25 top-10 → expansion terms by
  //      (feedback tf DESC, corpus df ASC, term) → expanded BM25. The
  //      oracle replays BOTH serves with ORDERED sums (sum(... ORDER BY
  //      term ordinal) = the engine's left-to-right term fold) and the
  //      integer candidate ranking. ----
  def searchExpanded(s: SparkSession, dir: String): DataFrame =
    graft.search.Expansion.expandedBm25(
      Tables.textCorpus(s, dir), 0, "spark join", 10)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("score").desc, col("id"))

  /** BM25 of the query (spark, join) through the tf/df tables: `d`, `st`,
    * the terms `q0`, `tf0`, `df0` and scores `s0`.
    */
  private val expandedBm25Ctes: String =
    """d AS (SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS toks
      |           FROM documents),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(len(toks)) AS avgdl FROM d),
      |q0(ord, term) AS (VALUES (0, 'spark'), (1, 'join')),
      |tf0 AS (SELECT d.id, len(d.toks) AS dl, q.ord, q.term,
      |               len(list_filter(d.toks, x -> x = q.term)) AS tf
      |        FROM d CROSS JOIN q0 q),
      |df0 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf0 WHERE tf > 0 GROUP BY term),
      |s0 AS (SELECT t.id,
      |         sum(ln(1 + (st.n - df0.df + 0.5)/(df0.df + 0.5))
      |             * (t.tf*2.2)/(t.tf + 1.2*(0.25 + 0.75*t.dl/st.avgdl))
      |             ORDER BY t.ord) AS score
      |       FROM tf0 t JOIN df0 USING (term) CROSS JOIN st
      |       WHERE t.tf > 0 GROUP BY t.id)""".stripMargin

  val searchExpandedSql: String =
    s"""WITH $expandedBm25Ctes,
      |fb AS (SELECT id FROM s0 ORDER BY score DESC, id LIMIT 10),
      |cand AS (SELECT term, CAST(count(*) AS BIGINT) AS fbtf
      |         FROM (SELECT unnest(toks) AS term FROM d JOIN fb USING (id))
      |         WHERE term NOT IN ('spark', 'join') GROUP BY term),
      |dfc AS (SELECT u.term, CAST(count(*) AS BIGINT) AS df
      |        FROM (SELECT unnest(list_distinct(toks)) AS term FROM d) u
      |        JOIN cand ON u.term = cand.term GROUP BY u.term),
      |exp AS (SELECT term, rn FROM (
      |          SELECT c.term, row_number() OVER (ORDER BY c.fbtf DESC, dfc.df ASC, c.term ASC) AS rn
      |          FROM cand c JOIN dfc USING (term)) WHERE rn <= 5),
      |qf AS (SELECT ord, term FROM q0 UNION ALL SELECT rn + 1 AS ord, term FROM exp),
      |tff AS (SELECT d.id, len(d.toks) AS dl, q.ord, q.term,
      |               len(list_filter(d.toks, x -> x = q.term)) AS tf
      |        FROM d CROSS JOIN qf q),
      |dff AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tff WHERE tf > 0 GROUP BY term),
      |sf AS (SELECT t.id,
      |         sum(ln(1 + (st.n - dff.df + 0.5)/(dff.df + 0.5))
      |             * (t.tf*2.2)/(t.tf + 1.2*(0.25 + 0.75*t.dl/st.avgdl))
      |             ORDER BY t.ord) AS score
      |       FROM tff t JOIN dff USING (term) CROSS JOIN st
      |       WHERE t.tf > 0 GROUP BY t.id),
      |res AS (SELECT id, score FROM sf ORDER BY score DESC, id LIMIT 10)
      |SELECT CAST(0 AS INTEGER) AS query_idx, id, round(score, 6) AS score
      |FROM res ORDER BY round(score, 6) DESC, id""".stripMargin

  // ---- oracle-replayable HyperLogLog: per-language distinct-token
  //      sketch. q_profile_hll_regs replays EVERY register (md5-derived
  //      60-bit hash, exact bin-length ranks); q_profile_hll replays the
  //      estimates with the harmonic denominator kept as an exact
  //      integer, next to the true distinct count. ----
  private def hllTokens(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(col("lang"),
        explode(TextFunctions.distinctTokens(col("text"))).as("term"))

  def profileHllRegs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Hll.registers(hllTokens(s, dir), Seq("lang"), "term")
      .orderBy("lang", "reg_idx")

  // The HLL sketch in DuckDB (512 registers, 52-bit hashes): the distinct
  // terms per language `tk`, each hash `h`'s register index and rank
  // `r`, and the per-language register maxima `g` with their harmonic
  // sum `e`.
  private val hllTermsCte: String =
    """tk AS (SELECT DISTINCT lang, unnest(list_distinct(
      |             regexp_extract_all(lower(text), '[a-z0-9_]{2,}'))) AS term
      |           FROM documents)""".stripMargin

  private val hllRankCte: String =
    """r AS (SELECT lang, h >> 51 AS reg_idx,
      |             CASE WHEN (h & ((1::BIGINT << 51) - 1)) = 0 THEN 52
      |                  ELSE 52 - length(bin(h & ((1::BIGINT << 51) - 1)))
      |             END AS rho
      |      FROM h)""".stripMargin

  private val hllSumCtes: String =
    """g AS (SELECT lang, reg_idx, max(rho) AS reg FROM r GROUP BY 1, 2),
      |e AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_set,
      |             CAST(sum(1::BIGINT << (52 - reg)) AS BIGINT)
      |               + (512 - count(*)) * (1::BIGINT << 52) AS s_int
      |      FROM g GROUP BY 1)""".stripMargin

  val profileHllRegsSql: String =
    s"""WITH $hllTermsCte,
      |h AS (SELECT lang, CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
      |      FROM tk),
      |$hllRankCte
      |SELECT lang, reg_idx, CAST(max(rho) AS INTEGER) AS reg
      |FROM r GROUP BY lang, reg_idx ORDER BY lang, reg_idx""".stripMargin

  def profileHll(s: SparkSession, dir: String): DataFrame = {
    val toks = hllTokens(s, dir)
    val est = graft.operators.Hll.estimate(
      graft.operators.Hll.registers(toks, Seq("lang"), "term"), Seq("lang"))
    val exact = toks.groupBy("lang")
      .agg(countDistinct(col("term")).as("exact"))
    est.join(exact, "lang")
      .withColumn("err_ppm",
        round(abs(col("est") - col("exact")) / col("exact") * 1e6).cast("long"))
      .select("lang", "n_set", "s_int", "est", "exact", "err_ppm")
      .orderBy("lang")
  }

  val profileHllSql: String =
    s"""WITH $hllTermsCte,
      |h AS (SELECT lang, term,
      |             CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
      |      FROM tk),
      |$hllRankCte,
      |$hllSumCtes,
      |f AS (SELECT lang, n_set, s_int,
      |             (0.7213 / (1 + 1.079 / 512)) * 512 * 512 * (1::BIGINT << 52)
      |               / s_int AS raw
      |      FROM e),
      |x AS (SELECT lang, CAST(count(DISTINCT term) AS BIGINT) AS exact
      |      FROM tk GROUP BY 1)
      |SELECT f.lang, n_set, s_int,
      |       round(CASE WHEN raw <= 2.5 * 512 AND n_set < 512
      |                  THEN 512 * ln(512.0 / (512 - n_set))
      |                  ELSE raw END, 3) AS est,
      |       exact,
      |       CAST(round(abs(round(CASE WHEN raw <= 2.5 * 512 AND n_set < 512
      |                  THEN 512 * ln(512.0 / (512 - n_set))
      |                  ELSE raw END, 3) - exact) / exact * 1e6) AS BIGINT) AS err_ppm
      |FROM f JOIN x ON f.lang = x.lang ORDER BY f.lang""".stripMargin

  // ---- incremental sketch maintenance: the stored sketch of the old
  //      corpus merged with the delta's sketch must equal a full
  //      rebuild — and the ORACLE builds its registers from the whole
  //      corpus in one pass, so the merge path is graded against an
  //      independent engine, not against our own rebuild. ----
  def pipelineSketchIncr(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        explode(TextFunctions.distinctTokens(col("text"))).as("term"))
    val old = graft.operators.Hll.registers(
      toks.filter(col("doc_id") % 2 === 0), Seq("lang"), "term")
    val delta = graft.operators.Hll.registers(
      toks.filter(col("doc_id") % 2 === 1), Seq("lang"), "term")
    graft.operators.Hll.estimate(
      graft.operators.Hll.merge(old, delta, Seq("lang")), Seq("lang"))
      .orderBy("lang")
  }

  val pipelineSketchIncrSql: String =
    s"""WITH $hllTermsCte,
      |h AS (SELECT lang, CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
      |      FROM tk),
      |$hllRankCte,
      |$hllSumCtes
      |SELECT lang, n_set, s_int,
      |       round(CASE WHEN (0.7213 / (1 + 1.079 / 512)) * 512 * 512
      |                       * (1::BIGINT << 52) / s_int <= 2.5 * 512
      |                       AND n_set < 512
      |                  THEN 512 * ln(512.0 / (512 - n_set))
      |                  ELSE (0.7213 / (1 + 1.079 / 512)) * 512 * 512
      |                       * (1::BIGINT << 52) / s_int END, 3) AS est
      |FROM e ORDER BY lang""".stripMargin

  // ---- bottom-k corpus-similarity sketch: pairwise source-vocabulary
  //      Jaccard from 128-hash signatures, graded against the exact
  //      pairwise Jaccard — estimates AND signatures are deterministic
  //      integer arithmetic, so the oracle replays both in ppm. ----
  def dedupSourceSim(s: SparkSession, dir: String): DataFrame = {
    val k = 128
    val toks = Tables.t(s, dir, "documents")
      .select(col("source"),
        explode(TextFunctions.distinctTokens(col("text"))).as("term"))
    val est = graft.operators.BottomK.jaccardEstimates(
      graft.operators.BottomK.signatures(toks, "source", "term", k), k)
    val sets = toks.distinct()
    val sizes = sets.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sets.toDF("grp_a", "term")
      .join(sets.toDF("grp_b", "term"), "term")
      .filter(col("grp_a") < col("grp_b"))
      .groupBy("grp_a", "grp_b").agg(count(lit(1)).as("x"))
    est
      .join(sizes.toDF("grp_a", "na"), "grp_a")
      .join(sizes.toDF("grp_b", "nb"), "grp_b")
      .join(inter, Seq("grp_a", "grp_b"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
      .withColumn("exact_ppm",
        expr("x * 1000000 div (na + nb - x)"))
      .select("grp_a", "grp_b", "k_used", "inter", "est_ppm", "exact_ppm")
      .orderBy("grp_a", "grp_b")
  }

  val dedupSourceSimSql: String =
    """WITH tk AS (SELECT DISTINCT source, unnest(list_distinct(
      |             regexp_extract_all(lower(text), '[a-z0-9_]{2,}'))) AS term
      |           FROM documents),
      |h AS (SELECT source, term,
      |             CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
      |      FROM tk),
      |sig AS (SELECT source, h FROM (
      |          SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |          FROM h) WHERE rn <= 128),
      |pr AS (SELECT a.source AS grp_a, b.source AS grp_b
      |       FROM (SELECT DISTINCT source FROM sig) a
      |       CROSS JOIN (SELECT DISTINCT source FROM sig) b
      |       WHERE a.source < b.source),
      |u AS (SELECT pr.grp_a, pr.grp_b, sig.h,
      |             max(CASE WHEN sig.source = pr.grp_a THEN 1 ELSE 0 END) AS in_a,
      |             max(CASE WHEN sig.source = pr.grp_b THEN 1 ELSE 0 END) AS in_b
      |      FROM pr JOIN sig ON sig.source = pr.grp_a OR sig.source = pr.grp_b
      |      GROUP BY pr.grp_a, pr.grp_b, sig.h),
      |uk AS (SELECT * FROM (
      |         SELECT *, row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS rn
      |         FROM u) WHERE rn <= 128),
      |e AS (SELECT grp_a, grp_b, CAST(count(*) AS BIGINT) AS k_used,
      |             CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS inter
      |      FROM uk GROUP BY 1, 2),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1),
      |ix AS (SELECT a.source AS grp_a, b.source AS grp_b, CAST(count(*) AS BIGINT) AS x
      |       FROM tk a JOIN tk b ON a.term = b.term AND a.source < b.source
      |       GROUP BY 1, 2)
      |SELECT e.grp_a, e.grp_b, e.k_used, e.inter,
      |       e.inter * 1000000 // e.k_used AS est_ppm,
      |       COALESCE(ix.x, 0) * 1000000 // (sa.n + sb.n - COALESCE(ix.x, 0)) AS exact_ppm
      |FROM e
      |JOIN sz sa ON sa.source = e.grp_a
      |JOIN sz sb ON sb.source = e.grp_b
      |LEFT JOIN ix ON ix.grp_a = e.grp_a AND ix.grp_b = e.grp_b
      |ORDER BY e.grp_a, e.grp_b""".stripMargin

  // ---- oracle-replayable Count-Min sketch over corpus term
  //      frequencies: q_profile_cms_cells replays every non-zero cell;
  //      q_profile_cms probes known terms and grades the (never-under)
  //      estimates against exact counts. ----
  private val CmsW = 1024
  private val CmsD = 4

  private def cmsTerms(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(explode(TextFunctions.tokens(col("text"))).as("term"))

  def profileCmsCells(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cms.sketch(cmsTerms(s, dir), "term", CmsW, CmsD)
      .orderBy("row", "bucket")

  val profileCmsCellsSql: String =
    """WITH tk AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_]{2,}')) AS term
      |           FROM documents),
      |c AS (SELECT r.row,
      |             CAST('0x' || substr(md5(concat(CAST(r.row AS VARCHAR), ':', term)), 1, 15)
      |                  AS BIGINT) % 1024 AS bucket
      |      FROM tk CROSS JOIN (VALUES (0), (1), (2), (3)) r(row))
      |SELECT CAST(row AS INTEGER) AS row, bucket, CAST(count(*) AS BIGINT) AS cnt
      |FROM c GROUP BY row, bucket ORDER BY row, bucket""".stripMargin

  def profileCms(s: SparkSession, dir: String): DataFrame = {
    val terms = cmsTerms(s, dir)
    val probes = Seq("spark", "query", "window", "customer", "zzz_absent")
    val est = graft.operators.Cms.estimate(
      graft.operators.Cms.sketch(terms, "term", CmsW, CmsD),
      probes, CmsW, CmsD)
    val exact = terms.filter(col("term").isin(probes: _*))
      .groupBy(col("term").as("key"))
      .agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("key"), "left")
      .select(col("key"), col("est"),
        coalesce(col("exact"), lit(0L)).as("exact"),
        (col("est") - coalesce(col("exact"), lit(0L))).as("overcount"))
      .orderBy("key")
  }

  val profileCmsSql: String =
    """WITH tk AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_]{2,}')) AS term
      |           FROM documents),
      |c AS (SELECT r.row,
      |             CAST('0x' || substr(md5(concat(CAST(r.row AS VARCHAR), ':', term)), 1, 15)
      |                  AS BIGINT) % 1024 AS bucket,
      |             CAST(count(*) AS BIGINT) AS cnt
      |      FROM tk CROSS JOIN (VALUES (0), (1), (2), (3)) r(row)
      |      GROUP BY 1, 2),
      |q(key) AS (VALUES ('spark'), ('query'), ('window'), ('customer'), ('zzz_absent')),
      |pr AS (SELECT q.key, r.row,
      |              CAST('0x' || substr(md5(concat(CAST(r.row AS VARCHAR), ':', q.key)), 1, 15)
      |                   AS BIGINT) % 1024 AS bucket
      |       FROM q CROSS JOIN (VALUES (0), (1), (2), (3)) r(row)),
      |e AS (SELECT pr.key, min(COALESCE(c.cnt, 0)) AS est
      |      FROM pr LEFT JOIN c ON pr.row = c.row AND pr.bucket = c.bucket
      |      GROUP BY pr.key),
      |x AS (SELECT term AS key, CAST(count(*) AS BIGINT) AS exact
      |      FROM tk WHERE term IN ('spark', 'query', 'window', 'customer')
      |      GROUP BY 1)
      |SELECT e.key, e.est, COALESCE(x.exact, 0) AS exact,
      |       e.est - COALESCE(x.exact, 0) AS overcount
      |FROM e LEFT JOIN x ON e.key = x.key ORDER BY e.key""".stripMargin

  // ---- length-bucketed inference batching (padding-waste minimizer):
  //      token-length-DESC batches of 16; the oracle replays the global
  //      rank as one window (the engine computes the identical rank via
  //      the histogram-offset + keyed-window decomposition). ----
  def packBatches(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.textCorpus(s, dir)
      .select(col("id"),
        size(TextFunctions.tokens(col("content"))).as("n_tok"))
    val assigned = graft.operators.Batching.byLength(d, "id", "n_tok", batchSize = 16)
    graft.operators.Batching.paddingReport(assigned)
  }

  val packBatchesSql: String =
    """WITH d AS (SELECT doc_id AS id,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9_]{2,}')) AS BIGINT) AS len
      |  FROM documents),
      |r AS (SELECT id, len,
      |             row_number() OVER (ORDER BY len DESC, id) - 1 AS rank FROM d),
      |b AS (SELECT *, rank // 16 AS batch FROM r)
      |SELECT batch, CAST(count(*) AS BIGINT) AS n_docs,
      |       max(len) AS max_len, CAST(sum(len) AS BIGINT) AS sum_len,
      |       CAST(count(*) * max(len) - sum(len) AS BIGINT) AS pad_waste
      |FROM b GROUP BY batch ORDER BY batch""".stripMargin

  // ---- greedy k-center coreset selection (Gonzalez farthest-point):
  //      5 diversity-maximizing representatives over the embeddings;
  //      the oracle replays every round as a chained argmax with the
  //      same running-min cosine distances. ----
  def mineKcenter(s: SparkSession, dir: String): DataFrame =
    graft.operators.Coreset.kCenter(
      Tables.t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
      .withColumn("sel_dist", round(col("sel_dist"), 6))
      .orderBy("rank")

  val mineKcenterSql: String =
    """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |s1 AS (SELECT id, v FROM e ORDER BY id LIMIT 1),
      |d1 AS (SELECT e.id, e.v, 1 - list_cosine_similarity(e.v, s1.v) AS md
      |       FROM e CROSS JOIN s1),
      |s2 AS (SELECT id, v, md FROM d1 WHERE id NOT IN (SELECT id FROM s1)
      |       ORDER BY md DESC, id LIMIT 1),
      |d2 AS (SELECT d1.id, d1.v,
      |              LEAST(d1.md, 1 - list_cosine_similarity(d1.v, s2.v)) AS md
      |       FROM d1 CROSS JOIN s2),
      |s3 AS (SELECT id, v, md FROM d2 WHERE id NOT IN
      |         (SELECT id FROM s1 UNION ALL SELECT id FROM s2)
      |       ORDER BY md DESC, id LIMIT 1),
      |d3 AS (SELECT d2.id, d2.v,
      |              LEAST(d2.md, 1 - list_cosine_similarity(d2.v, s3.v)) AS md
      |       FROM d2 CROSS JOIN s3),
      |s4 AS (SELECT id, v, md FROM d3 WHERE id NOT IN
      |         (SELECT id FROM s1 UNION ALL SELECT id FROM s2
      |          UNION ALL SELECT id FROM s3)
      |       ORDER BY md DESC, id LIMIT 1),
      |d4 AS (SELECT d3.id, d3.v,
      |              LEAST(d3.md, 1 - list_cosine_similarity(d3.v, s4.v)) AS md
      |       FROM d3 CROSS JOIN s4),
      |s5 AS (SELECT id, v, md FROM d4 WHERE id NOT IN
      |         (SELECT id FROM s1 UNION ALL SELECT id FROM s2
      |          UNION ALL SELECT id FROM s3 UNION ALL SELECT id FROM s4)
      |       ORDER BY md DESC, id LIMIT 1)
      |SELECT CAST(1 AS INTEGER) AS rank, id, -1.0 AS sel_dist FROM s1
      |UNION ALL SELECT 2, id, round(md, 6) FROM s2
      |UNION ALL SELECT 3, id, round(md, 6) FROM s3
      |UNION ALL SELECT 4, id, round(md, 6) FROM s4
      |UNION ALL SELECT 5, id, round(md, 6) FROM s5
      |ORDER BY rank""".stripMargin

  // ---- SymSpell spelling correction: deletion-neighborhood blocking
  //      over the corpus vocabulary + exact banded Levenshtein verify;
  //      the oracle brute-forces levenshtein() over the SAME vocabulary
  //      (document frequency, tokenizer-deduped) — the blocking must
  //      lose no candidate and the (dist, freq DESC, term) rank must
  //      agree term for term. ----
  def searchSpell(s: SparkSession, dir: String): DataFrame =
    graft.search.Spell.corrections(
      Tables.textCorpus(s, dir),
      terms = Seq("sparc", "qery", "windoe", "custmer"),
      maxDist = 2, topK = 3)
      .orderBy("term", "rank")

  val searchSpellSql: String =
    """WITH v AS (SELECT term AS suggestion, CAST(count(*) AS BIGINT) AS freq
      |           FROM (SELECT unnest(list_distinct(
      |                   regexp_extract_all(lower(text), '[a-z0-9_]{2,}'))) AS term
      |                 FROM documents)
      |           GROUP BY 1),
      |q(term) AS (VALUES ('sparc'), ('qery'), ('windoe'), ('custmer')),
      |c AS (SELECT q.term, v.suggestion,
      |             levenshtein(q.term, v.suggestion) AS dist, v.freq
      |      FROM q CROSS JOIN v
      |      WHERE levenshtein(q.term, v.suggestion) <= 2),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY term
      |               ORDER BY dist, freq DESC, suggestion) AS INTEGER) AS rank
      |      FROM c)
      |SELECT term, rank, suggestion, CAST(dist AS INTEGER) AS dist, freq
      |FROM r WHERE rank <= 3 ORDER BY term, rank""".stripMargin

  // ---- seasonal-naive predictability (MASE frame): hourly event counts
  //      per type, season = 24h; exact integer error sums and ppm ratio.
  //      Decides which series carry real seasonality vs drift. ----
  def eventsSeasonal(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.t(s, dir, "events")
      .select(col("event_type"),
        expr("timestampdiff(HOUR, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
          .as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
    graft.operators.Anomaly.seasonalNaive(
      hourly, "event_type", "hour", "n", season = 24)
      .orderBy("series")
  }

  val eventsSeasonalSql: String =
    """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
      |                  CAST(count(*) AS BIGINT) AS n
      |           FROM events GROUP BY 1, 2),
      |l AS (SELECT event_type, n,
      |             abs(n - lag(n, 24) OVER w) AS s,
      |             abs(n - lag(n, 1) OVER w) AS d
      |      FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
      |e AS (SELECT event_type AS series, CAST(count(*) AS BIGINT) AS n_periods,
      |             CAST(count(s) AS BIGINT) AS n_seasonal,
      |             CAST(COALESCE(sum(s), 0) AS BIGINT) AS sum_abs_seasonal,
      |             CAST(count(d) AS BIGINT) AS n_naive,
      |             CAST(COALESCE(sum(d), 0) AS BIGINT) AS sum_abs_naive
      |      FROM l GROUP BY 1)
      |SELECT *,
      |       CASE WHEN sum_abs_naive = 0 OR n_seasonal = 0 THEN -1
      |            ELSE sum_abs_seasonal * n_naive * 1000000
      |                 // (sum_abs_naive * n_seasonal) END AS mase_ppm
      |FROM e ORDER BY series""".stripMargin

  // ---- RAG answer attribution (provenance): synthesized answers whose
  //      sentence s is the first 8 tokens of doc answer_id+s, contexts =
  //      docs answer_id..answer_id+2 — the engine must attribute each
  //      sentence by max 3-gram containment, and the oracle replays the
  //      whole n-gram argmax from the same token arithmetic. ----
  def ragAttribution(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("answer_id"))
    val sentences = base
      .select(col("answer_id"), explode(array(lit(0), lit(1))).as("sent_idx"))
      .join(docs, col("doc_id") === col("answer_id") + col("sent_idx"))
      .select(col("answer_id"), col("sent_idx"),
        TextFunctions.tokens(col("text")).as("__t"))
      .select(col("answer_id"), col("sent_idx"),
        expr("concat_ws(' ', slice(__t, 1, 8))").as("text"))
    val contexts = base
      .select(col("answer_id"),
        explode(array(lit(0), lit(1), lit(2))).as("off"))
      .join(docs, col("doc_id") === col("answer_id") + col("off"))
      .select(col("answer_id"), col("doc_id"), col("text").as("content"))
    graft.search.Attribution.attribute(sentences, contexts)
      .orderBy("answer_id", "sent_idx")
  }

  val ragAttributionSql: String =
    """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS toks
      |           FROM documents),
      |a AS (SELECT doc_id AS answer_id FROM d WHERE doc_id % 50 = 0),
      |sent AS (SELECT a.answer_id, s.i AS sent_idx, d2.toks[1:8] AS st
      |         FROM a CROSS JOIN (VALUES (0), (1)) s(i)
      |         JOIN d d2 ON d2.doc_id = a.answer_id + s.i),
      |sg AS (SELECT answer_id, sent_idx,
      |              list_distinct([array_to_string(st[i:i+2], ' ')
      |                             for i in range(1, greatest(len(st) - 1, 1))]) AS gs
      |       FROM sent),
      |ctx AS (SELECT a.answer_id, d2.doc_id,
      |               list_distinct([array_to_string(d2.toks[i:i+2], ' ')
      |                              for i in range(1, greatest(len(d2.toks) - 1, 1))]) AS gs
      |        FROM a CROSS JOIN (VALUES (0), (1), (2)) o(i)
      |        JOIN d d2 ON d2.doc_id = a.answer_id + o.i),
      |se AS (SELECT answer_id, sent_idx, len(gs) AS n_grams, unnest(gs) AS g FROM sg),
      |ce AS (SELECT answer_id, doc_id, unnest(gs) AS g FROM ctx),
      |m AS (SELECT se.answer_id, se.sent_idx, se.n_grams, ce.doc_id,
      |             CAST(count(*) AS BIGINT) AS n_match
      |      FROM se JOIN ce ON se.answer_id = ce.answer_id AND se.g = ce.g
      |      GROUP BY 1, 2, 3, 4),
      |best AS (SELECT * FROM (
      |           SELECT m.*, row_number() OVER (PARTITION BY answer_id, sent_idx
      |                    ORDER BY n_match DESC, doc_id) AS rn FROM m)
      |         WHERE rn = 1)
      |SELECT sg.answer_id, sg.sent_idx,
      |       COALESCE(best.doc_id, -1) AS doc_id,
      |       COALESCE(best.n_match, 0) AS n_match,
      |       CAST(len(sg.gs) AS BIGINT) AS n_grams,
      |       CASE WHEN len(sg.gs) = 0 THEN 0
      |            ELSE COALESCE(best.n_match, 0) * 1000000 // len(sg.gs) END
      |         AS coverage_ppm
      |FROM sg LEFT JOIN best
      |  ON sg.answer_id = best.answer_id AND sg.sent_idx = best.sent_idx
      |ORDER BY sg.answer_id, sg.sent_idx""".stripMargin

  // ---- entity resolution: Ed-Join fuzzy pairs (k<=2) clustered by
  //      large-star/small-star components, canonical = cluster-min name;
  //      the oracle recomputes the same clusters by brute-force
  //      levenshtein + RECURSIVE transitive closure — the iterative star
  //      algorithm graded against an independent closure. ----
  def erClusters(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.t(s, dir, "part")
      .select(col("p_name").as("str")).distinct()
      .select(col("str").as("id"), col("str"))
    val pairs = graft.dedup.EditJoin.editDistancePairs(names, k = 2)
      .select(col("src").as("a"), col("dst").as("b"))
    val comps = graft.operators.Graph.connectedComponentsLss(pairs)
    names.select(col("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id").as("name"),
        coalesce(col("comp"), col("id")).as("canonical"))
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_members"), max(col("name")).as("max_name"))
      .filter(col("n_members") >= 2)
      .orderBy("canonical")
  }

  val erClustersSql: String =
    """WITH RECURSIVE n AS (SELECT DISTINCT p_name AS name FROM part),
      |e AS (SELECT a.name AS a, b.name AS b FROM n a, n b
      |      WHERE a.name < b.name AND levenshtein(a.name, b.name) <= 2),
      |sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
      |reach(node, r) AS (
      |  SELECT name, name FROM n
      |  UNION
      |  SELECT sym.b, reach.r FROM reach JOIN sym ON sym.a = reach.node),
      |lab AS (SELECT node AS name, min(r) AS canonical FROM reach GROUP BY node)
      |SELECT canonical, CAST(count(*) AS BIGINT) AS n_members,
      |       max(name) AS max_name
      |FROM lab GROUP BY canonical HAVING count(*) >= 2
      |ORDER BY canonical""".stripMargin

  // ---- robust outlier report: per event_type, median/MAD modified
  //      z-score flags (k = 3.5) over the value column; medians and
  //      flag counts replay via quantile_cont. ----
  def evalOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.madOutliers(
      Tables.t(s, dir, "events"), "event_type", "value")
      .select(col("group"), col("n"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
        col("n_outliers"), col("outlier_ppm"))
      .orderBy("group")

  val evalOutliersSql: String =
    """WITH m AS (SELECT event_type AS grp,
      |                  quantile_cont(value, 0.5) AS med
      |           FROM events GROUP BY 1),
      |d AS (SELECT e.event_type AS grp, e.value, m.med
      |      FROM events e JOIN m ON e.event_type = m.grp),
      |md AS (SELECT grp, quantile_cont(abs(value - med), 0.5) AS mad
      |       FROM d GROUP BY 1)
      |SELECT d.grp AS "group", CAST(count(*) AS BIGINT) AS n,
      |       round(any_value(d.med), 6) AS med,
      |       round(any_value(md.mad), 6) AS mad,
      |       CAST(sum(CASE WHEN abs(d.value - d.med) > 3.5 * 1.4826 * md.mad
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       CAST(sum(CASE WHEN abs(d.value - d.med) > 3.5 * 1.4826 * md.mad
      |                     THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*)
      |         AS outlier_ppm
      |FROM d JOIN md ON d.grp = md.grp
      |GROUP BY d.grp ORDER BY d.grp""".stripMargin

  // ---- market-basket association rules over the event stream: items
  //      are the props payload's k, baskets are users; top 50 rules by
  //      lift, every cell exact integer ppm. ----
  def eventsAssoc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Association.pairRules(
      Tables.t(s, dir, "events")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("item")),
      "user_id", "item", minPairCount = 2)
      .orderBy(col("lift_ppm").desc, col("a"), col("b"))
      .limit(50)

  val eventsAssocSql: String =
    """WITH b0 AS (SELECT DISTINCT user_id AS basket,
      |                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS item
      |            FROM events),
      |b AS (SELECT * FROM b0 WHERE basket IN
      |        (SELECT basket FROM b0 GROUP BY basket HAVING count(*) <= 256)),
      |n AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM b),
      |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS ic FROM b GROUP BY 1),
      |p AS (SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS pair_n
      |      FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
      |      GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT p.a, p.b, p.pair_n,
      |       p.pair_n * 1000000 // n.n AS support_ppm,
      |       p.pair_n * 1000000 // ca.ic AS conf_ab_ppm,
      |       p.pair_n * 1000000 // cb.ic AS conf_ba_ppm,
      |       p.pair_n * n.n * 1000000 // (ca.ic * cb.ic) AS lift_ppm
      |FROM p CROSS JOIN n
      |JOIN ic ca ON ca.item = p.a
      |JOIN ic cb ON cb.item = p.b
      |ORDER BY lift_ppm DESC, p.a, p.b LIMIT 50""".stripMargin

  // ---- learning-to-rank feature extraction: the BM25 top-10 turned
  //      into a LETOR training table (one row per candidate, one column
  //      per ranking signal); the oracle replays the serve AND every
  //      feature cell. ----
  def searchLtr(s: SparkSession, dir: String): DataFrame =
    graft.search.LtrFeatures.features(
      Tables.textCorpus(s, dir), 0, "spark join", 10)
      .withColumn("bm25", round(col("bm25"), 6))
      .orderBy(col("bm25").desc, col("id"))

  val searchLtrSql: String =
    s"""WITH $expandedBm25Ctes,
      |top AS (SELECT id, score FROM s0 ORDER BY score DESC, id LIMIT 10),
      |f AS (SELECT t.id,
      |        CAST(sum(CASE WHEN t.tf > 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_match,
      |        CAST(sum(t.tf) AS BIGINT) AS tf_sum,
      |        CAST(min(t.dl) AS BIGINT) AS dl,
      |        CAST(min(CASE WHEN t.tf > 0 THEN df0.df END) AS BIGINT) AS df_min
      |      FROM tf0 t JOIN df0 USING (term)
      |      WHERE t.id IN (SELECT id FROM top)
      |      GROUP BY t.id)
      |SELECT CAST(0 AS INTEGER) AS query_idx, top.id,
      |       round(top.score, 6) AS bm25,
      |       f.n_match, f.tf_sum, f.dl, COALESCE(f.df_min, 0) AS df_min
      |FROM top JOIN f ON top.id = f.id
      |ORDER BY round(top.score, 6) DESC, top.id""".stripMargin

  // ---- k-anonymity / l-diversity privacy audit: per candidate k, the
  //      violating QI classes, rows needing suppression (exact ppm) and
  //      the attribute-disclosure floor (classes with ONE sensitive
  //      value). QI = (lang, n_chars-century band), sensitive = source;
  //      one combiner-collapsed class aggregate × 4 broadcast k values ----
  def privacyKanon(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.kAnonymityReport(
      Tables.t(s, dir, "documents")
        .select(col("lang"), expr("n_chars div 100").as("size_band"), col("source")),
      qiCols = Seq("lang", "size_band"), sensitiveCol = "source",
      ks = Seq(2, 5, 10, 20))

  val privacyKanonSql: String =
    """WITH c AS (SELECT lang, n_chars // 100 AS size_band,
      |                  CAST(count(*) AS BIGINT) AS sz,
      |                  count(DISTINCT source) AS ndiv
      |           FROM documents GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(sz) AS BIGINT) AS total FROM c),
      |k(k) AS (VALUES (2), (5), (10), (20))
      |SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
      |       CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
      |       CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
      |       CAST(sum(CASE WHEN ndiv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lowdiv_classes,
      |       (CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT) * 1000000)
      |         // (SELECT total FROM t) AS suppressed_ppm
      |FROM c CROSS JOIN k GROUP BY k ORDER BY k""".stripMargin

  // ---- sequence-pattern matching (lightweight MATCH_RECOGNIZE) ----
  // conversions per user = non-overlapping matches of "view, then
  // anything but purchase, then purchase" over the time-ordered event
  // code string
  def eventsPattern(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events").select(
      col("user_id"), col("event_id"),
      expr("timestampdiff(MILLISECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)").as("ts_ms"),
      expr("""CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
             |     WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
             |     ELSE 'e' END""".stripMargin).as("code"))
    graft.operators.Sequences.patternCounts(
        graft.operators.Sequences.encode(ev, "user_id", "ts_ms", "event_id", col("code")),
        "v[^p]*p")
      .select(col("key").as("user_id"),
        length(col("seq")).cast("long").as("n_events"),
        col("matches").as("conversions"))
      .orderBy("user_id")
  }

  val eventsPatternSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
      |                  CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
      |                       WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
      |                       ELSE 'e' END AS code
      |           FROM events),
      |s AS (SELECT user_id, string_agg(code, '' ORDER BY ts_ms, event_id) AS seq
      |      FROM e GROUP BY 1)
      |SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
      |       CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS BIGINT) AS conversions
      |FROM s ORDER BY user_id""".stripMargin

  // ---- data-contract checks (the Deequ-style promotion gate) ----
  def dataContract(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
    graft.operators.Contracts.report(d, Seq(
      graft.operators.Contracts.Complete("text", 1000000L),
      graft.operators.Contracts.Complete("lang", 1000000L),
      graft.operators.Contracts.Unique("doc_id", 1000000L),
      graft.operators.Contracts.Unique("text", 900000L),
      graft.operators.Contracts.Satisfies("len_min_20",
        length(col("text")) >= 20, 900000L)))
  }

  val dataContractSql: String =
    """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_text,
      |    CAST(sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_lang,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS u_id,
      |    CAST(count(DISTINCT text) AS BIGINT) AS u_text,
      |    CAST(sum(CASE WHEN length(text) >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS c_len
      |  FROM documents)
      |SELECT * FROM (
      |  SELECT 'complete(text)' AS "check", c_text * 1000000 // n AS metric_ppm,
      |         CAST(1000000 AS BIGINT) AS min_ppm, c_text * 1000000 // n >= 1000000 AS pass FROM m
      |  UNION ALL
      |  SELECT 'complete(lang)', c_lang * 1000000 // n,
      |         CAST(1000000 AS BIGINT), c_lang * 1000000 // n >= 1000000 FROM m
      |  UNION ALL
      |  SELECT 'unique(doc_id)', u_id * 1000000 // n,
      |         CAST(1000000 AS BIGINT), u_id * 1000000 // n >= 1000000 FROM m
      |  UNION ALL
      |  SELECT 'unique(text)', u_text * 1000000 // n,
      |         CAST(900000 AS BIGINT), u_text * 1000000 // n >= 900000 FROM m
      |  UNION ALL
      |  SELECT 'satisfies(len_min_20)', c_len * 1000000 // n,
      |         CAST(900000 AS BIGINT), c_len * 1000000 // n >= 900000 FROM m)
      |ORDER BY "check"""".stripMargin

  // ---- incremental curation: gate ONLY the snapshot delta ----
  // The daily-ingest shape: diff yesterday's corpus against today's, run
  // the quality gate over ADDED + CHANGED docs only (unchanged docs keep
  // their verdicts; removed docs just leave) — curation cost tracks the
  // DELTA, not the corpus.
  def pipelineIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.textCorpus(s, dir)
      .withColumn("h", pmod(TextFunctions.stableHash32(col("id").cast("string")), lit(20)))
    val oldSnap = d.filter(col("h") =!= 0).select(col("id"), col("content"))
    val newSnap = d.filter(col("h") =!= 1).select(
      col("id"),
      when(col("h") === 2, concat(col("content"), lit(" [rev2]")))
        .otherwise(col("content")).as("content")).localCheckpoint()
    val delta = graft.operators.CorpusDiff.diff(oldSnap, newSnap)
      .filter(col("status").isin("added", "changed"))
    val gated = newSnap.join(delta, "id")
      .withColumn("tokens", size(TextFunctions.tokens(col("content"))).cast("long"))
      .withColumn("kept", col("tokens") >= 20)
    gated.groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("tokens")).otherwise(0L)).as("kept_tokens"),
        sum(col("id").cast("long")).as("id_checksum"))
      .orderBy("status")
  }

  val pipelineIncrementalSql: String =
    """WITH d AS (SELECT doc_id AS id, text AS content,
      |                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 20 AS h
      |           FROM documents),
      |o AS (SELECT id, content FROM d WHERE h <> 0),
      |nn AS (SELECT id, CASE WHEN h = 2 THEN content || ' [rev2]' ELSE content END AS content
      |       FROM d WHERE h <> 1),
      |delta AS (SELECT coalesce(o.id, nn.id) AS id,
      |                 CASE WHEN o.id IS NULL THEN 'added'
      |                      WHEN nn.id IS NULL THEN 'removed'
      |                      WHEN md5(o.content) <> md5(nn.content) THEN 'changed'
      |                      ELSE 'unchanged' END AS status
      |          FROM o FULL OUTER JOIN nn ON o.id = nn.id),
      |g AS (SELECT delta.status, nn.id,
      |             CAST(len(regexp_extract_all(lower(nn.content), '[a-z0-9_]{2,}')) AS BIGINT) AS tokens
      |      FROM delta JOIN nn ON delta.id = nn.id
      |      WHERE delta.status IN ('added', 'changed'))
      |SELECT status, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN tokens >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      |       CAST(sum(CASE WHEN tokens >= 20 THEN tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
      |       CAST(sum(id) AS BIGINT) AS id_checksum
      |FROM g GROUP BY status ORDER BY status""".stripMargin

  // ---- late-interaction maxsim retrieval (search.MaxSim) ----
  // Chunk-level vector table = the q_chunk_embed_pool layout WITHOUT the
  // pooling (20-token chunks, deterministic dim-8 embeddings in integer
  // cent units); two 3-token queries score sum-over-tokens of
  // max-over-chunks dot product — all integer arithmetic, so the two
  // keyed aggregates + bounded top-k replay hash-identically in DuckDB.
  // The DuckDB side of the maxsim fixtures: the chunk CTEs w..ck plus the
  // embedding dims i; the two 3-token queries qt with their cents qv
  // (`centering` " - 50" for the centered fixtures); the exact cosine
  // maxsim over normalized chunk and token vectors, down to its top-10
  // `truth` (`truthFilter` restricts the documents ranked).
  private val maxsimChunkCtes: String =
    raw"""w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS words
         |           FROM documents),
         |$chunkWindowCtes,
         |ck AS (SELECT doc_id, chunk FROM c WHERE length(chunk) > 0),
         |i AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS dim)""".stripMargin

  private def maxsimTokenCtes(centering: String): String =
    s"""qt AS (SELECT * FROM (VALUES (0, 0, 'data'), (0, 1, 'analysis'),
       |                             (0, 2, 'system'), (1, 0, 'market'),
       |                             (1, 1, 'music'), (1, 2, 'research'))
       |                  v(query_idx, tok_idx, tok)),
       |qv AS (SELECT query_idx, tok_idx, dim,
       |         ('0x' || substr(sha256(tok || CAST(dim AS VARCHAR)), 1, 15))::BIGINT % 100$centering AS cent
       |       FROM qt CROSS JOIN i)""".stripMargin

  private def maxsimCosineTruth(truthFilter: String): String =
    s"""cn AS (SELECT doc_id, chunk, sqrt(sum(CAST(cent * cent AS DOUBLE))) AS nrm
       |       FROM cv GROUP BY 1, 2),
       |nv AS (SELECT cv.doc_id, cv.chunk, cv.dim, cv.cent / cn.nrm AS x
       |       FROM cv JOIN cn ON cn.doc_id = cv.doc_id AND cn.chunk = cv.chunk),
       |qn AS (SELECT query_idx, tok_idx, sqrt(sum(CAST(cent * cent AS DOUBLE))) AS nrm
       |       FROM qv GROUP BY 1, 2),
       |nq AS (SELECT qv.query_idx, qv.tok_idx, qv.dim, qv.cent / qn.nrm AS x
       |       FROM qv JOIN qn ON qn.query_idx = qv.query_idx
       |                      AND qn.tok_idx = qv.tok_idx),
       |dp AS (SELECT nq.query_idx, nq.tok_idx, nv.doc_id, nv.chunk,
       |              sum(nq.x * nv.x) AS dotp
       |       FROM nv JOIN nq USING (dim)
       |       GROUP BY 1, 2, 3, 4),
       |best AS (SELECT query_idx, tok_idx, doc_id, max(dotp) AS best
       |         FROM dp GROUP BY 1, 2, 3),
       |sc AS (SELECT query_idx, doc_id, sum(best) AS score
       |       FROM best GROUP BY 1, 2),
       |truth AS (SELECT query_idx, doc_id FROM (
       |            SELECT *, row_number() OVER (PARTITION BY query_idx
       |                        ORDER BY score DESC, doc_id ASC) AS rn FROM sc$truthFilter)
       |          WHERE rn <= 10)""".stripMargin

  /** The integer cents `cv` of the plain chunks, the tokens, and each
    * token's best chunk dot product per document, `best`.
    */
  private val maxsimBestCtes: String =
    s"""cv AS (SELECT doc_id, chunk, dim,
       |         ('0x' || substr(sha256(chunk || CAST(dim AS VARCHAR)), 1, 15))::BIGINT % 100 AS cent
       |       FROM ck CROSS JOIN i),
       |${maxsimTokenCtes("")},
       |dp AS (SELECT qv.query_idx, qv.tok_idx, cv.doc_id, cv.chunk,
       |              sum(qv.cent * cv.cent) AS dotp
       |       FROM cv JOIN qv USING (dim)
       |       GROUP BY 1, 2, 3, 4),
       |best AS (SELECT query_idx, tok_idx, doc_id, max(dotp) AS best
       |         FROM dp GROUP BY 1, 2, 3)""".stripMargin

  /** The multi-topic fixture's chunk cents: two topics per document, the
    * chunk's hash parity picks one (`tk`), plus 16 x the topic's cents.
    */
  private val maxsimTopicCtes: String =
    """tk AS (SELECT doc_id, chunk,
      |         'gtopic' || CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || 'x' ||
      |             CAST(('0x' || substr(sha256(chunk), 1, 15))::BIGINT % 2 AS VARCHAR)),
      |             1, 15))::BIGINT % 32 AS VARCHAR) AS topic
      |       FROM ck),
      |cv AS (SELECT tk.doc_id, tk.chunk, i.dim,
      |         ('0x' || substr(sha256(tk.chunk || CAST(i.dim AS VARCHAR)), 1, 15))::BIGINT % 100 - 50
      |           + 16 * (('0x' || substr(sha256(tk.topic || CAST(i.dim AS VARCHAR)), 1, 15))::BIGINT % 100 - 50) AS cent
      |       FROM tk CROSS JOIN i)""".stripMargin

  // The doc-level IVF candidate leg of the centered fixtures: chunk cents
  // plus 16 x their document's cents (`dc`, `cv`); the representative
  // min-id centroid per doc_id % 16 over pooled doc vectors `dv` (`crep`,
  // `cvd`, `cn2`); each token's probed clusters under the pool rule at
  // both widths, sized by `sizes(cluster_id, csize)` (`qk`..`probes`);
  // and the grade of each width's candidates `cand` against `truth`.
  private val maxsimDocTopicCtes: String =
    """dc AS (SELECT doc_id, dim,
      |         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || CAST(dim AS VARCHAR)), 1, 15))::BIGINT % 100 - 50 AS dcent
      |       FROM documents CROSS JOIN i),
      |cv AS (SELECT ck.doc_id, ck.chunk, i.dim,
      |         ('0x' || substr(sha256(ck.chunk || CAST(i.dim AS VARCHAR)), 1, 15))::BIGINT % 100 - 50
      |           + 16 * dc.dcent AS cent
      |       FROM ck CROSS JOIN i
      |       JOIN dc ON dc.doc_id = ck.doc_id AND dc.dim = i.dim)""".stripMargin

  private val maxsimDocCentroidCtes: String =
    """crep AS (SELECT id % 16 AS centroid_id, id FROM (
      |           SELECT id, row_number() OVER (PARTITION BY id % 16
      |                           ORDER BY id) AS rn
      |           FROM (SELECT DISTINCT id FROM dv))
      |         WHERE rn = 1),
      |cvd AS (SELECT crep.centroid_id, dv.dim, dv.m
      |        FROM crep JOIN dv ON dv.id = crep.id),
      |cn2 AS (SELECT centroid_id, sqrt(sum(m * m)) AS nrm FROM cvd GROUP BY 1)""".stripMargin

  private def maxsimProbeCtes(sizes: String): String =
    s"""qk AS (SELECT query_idx * 3 + tok_idx AS tok_key, query_idx, dim,
       |              CAST(cent AS DOUBLE) AS qc
       |       FROM qv),
       |qn2 AS (SELECT tok_key, sqrt(sum(qc * qc)) AS nrm FROM qk GROUP BY 1),
       |qdot AS (SELECT qk.tok_key, cvd.centroid_id, sum(qk.qc * cvd.m) AS dt
       |         FROM qk JOIN cvd USING (dim) GROUP BY 1, 2),
       |pr AS (SELECT q.tok_key, q.centroid_id,
       |              1.0 - q.dt / (c2.nrm * qn2.nrm) AS d,
       |              coalesce(s.csize, 0) AS csize
       |       FROM qdot q
       |       JOIN cn2 c2 ON c2.centroid_id = q.centroid_id
       |       JOIN qn2 ON qn2.tok_key = q.tok_key
       |       LEFT JOIN $sizes s ON s.cluster_id = q.centroid_id),
       |pool AS (SELECT tok_key, centroid_id,
       |                coalesce(sum(csize) OVER (PARTITION BY tok_key
       |                  ORDER BY d, centroid_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |                  0) AS pool
       |         FROM pr),
       |widths AS (SELECT CAST(unnest([5, 25]) AS BIGINT) AS t_width),
       |probes AS (SELECT w.t_width, p.tok_key, p.centroid_id
       |           FROM widths w JOIN pool p
       |             ON p.pool < greatest(10 * w.t_width, 100))""".stripMargin

  private val maxsimWidthGradeSql: String =
    """pruned AS (SELECT t_width, query_idx, doc_id FROM (
      |             SELECT c.t_width, s.query_idx, s.doc_id,
      |                    row_number() OVER (PARTITION BY c.t_width, s.query_idx
      |                      ORDER BY s.score DESC, s.doc_id ASC) AS rn
      |             FROM sc s JOIN cand c
      |               ON s.query_idx = c.query_idx AND s.doc_id = c.doc_id)
      |           WHERE rn <= 10),
      |nc AS (SELECT t_width, query_idx, CAST(count(*) AS BIGINT) AS n_candidates
      |       FROM cand GROUP BY 1, 2),
      |h AS (SELECT p.t_width, p.query_idx, CAST(count(*) AS BIGINT) AS n_hits
      |      FROM pruned p JOIN truth t
      |        ON t.query_idx = p.query_idx AND t.doc_id = p.doc_id
      |      GROUP BY 1, 2)
      |SELECT nc.t_width, nc.query_idx, nc.n_candidates,
      |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
      |FROM nc LEFT JOIN h
      |  ON h.t_width = nc.t_width AND h.query_idx = nc.query_idx
      |ORDER BY nc.t_width, nc.query_idx""".stripMargin

  private def maxsimCents = expr(
    "transform(embedding, v -> cast(round(cast(v as double) * 100, 0) as double))")

  private def maxsimChunkVecs(s: SparkSession, dir: String): DataFrame = {
    chunkEmbeddings(s, dir).select(col("doc_id"), maxsimCents.as("vec"))
  }

  /** The hash embeddings of the two 3-token queries' tokens. */
  private def maxsimTokenEmbeddings(s: SparkSession): DataFrame = {
    import s.implicits._
    val qtoks = Seq((0, 0, "data"), (0, 1, "analysis"), (0, 2, "system"),
        (1, 0, "market"), (1, 1, "music"), (1, 2, "research"))
      .toDF("query_idx", "tok_idx", "content")
      .withColumn("embedding", lit(null).cast("array<float>"))
    graft.ingest.Embed.withEmbeddings(qtoks, new graft.ingest.DeterministicHashEmbedder(8))
  }

  private def maxsimQueryToks(s: SparkSession, dir: String): DataFrame = {
    // broadcast-hinted at the source: the embed pass goes through an
    // ExistingRDD (no static row bound), so MaxSim.topK's maxRows size
    // gate can't see that this frame is queries × tokens = 6 rows — the
    // hint makes the exact-scan join a BroadcastNestedLoopJoin instead
    // of a left×right-partitioned CartesianProduct
    broadcast(maxsimTokenEmbeddings(s)
      .select(col("query_idx"), col("tok_idx"), maxsimCents.as("vec")))
  }

  def searchMaxsim(s: SparkSession, dir: String): DataFrame =
    graft.search.MaxSim.topK(maxsimChunkVecs(s, dir), maxsimQueryToks(s, dir), k = 10)
      .withColumn("score", col("score").cast("long"))
      .orderBy("query_idx", "doc_id")

  val searchMaxsimSql: String =
    s"""WITH $maxsimChunkCtes,
      |$maxsimBestCtes,
      |sc AS (SELECT query_idx, doc_id, CAST(sum(best) AS BIGINT) AS score
      |       FROM best GROUP BY 1, 2),
      |rk AS (SELECT query_idx, doc_id, score,
      |              row_number() OVER (PARTITION BY query_idx
      |                                 ORDER BY score DESC, doc_id ASC) AS rn
      |       FROM sc)
      |SELECT query_idx, doc_id, score FROM rk WHERE rn <= 10
      |ORDER BY query_idx, doc_id""".stripMargin

  // ---- pruned maxsim serving, graded against its own exact truth ----
  // Candidate generation is the CHUNK route (the ColBERT/XTR serving
  // shape): for each query token, the top-T=25 documents by best chunk
  // dot product; a document is a candidate if ANY token shortlists it.
  // In production that per-token shortlist comes from the chunk-level
  // ANN index (sign-LSH/IVF over chunk vectors) — here the rule itself
  // is graded exactly: n_hits = |pruned top-10 ∩ exact top-10| per
  // query, everything replayed 1:1 in DuckDB (q_ann_recall convention).
  def searchMaxsimPruned(s: SparkSession, dir: String): DataFrame = {
    // the two root frames are independent — overlap their barrier jobs
    val (chunkVecs, queryToks) = graft.Checkpoints.join2(
      () => maxsimChunkVecs(s, dir).localCheckpoint(),
      () => maxsimQueryToks(s, dir).localCheckpoint())
    // ONE chunk x token scan feeds both the candidate rule and the exact
    // truth: per-(query, token, doc) best chunk dot, materialized once.
    // truth = sum-over-tokens top-10 of this frame — exactly
    // MaxSim.topK's internal decomposition (pinned by MaxSimSpec and the
    // q_search_maxsim oracle), so no second corpus scan is paid here.
    val best = chunkVecs.crossJoin(broadcast(queryToks
        .select(col("query_idx"), col("tok_idx"), col("vec").as("qv"))))
      .withColumn("dp", graft.functions.VectorFunctions.dot(col("vec"), col("qv")))
      .groupBy("query_idx", "tok_idx", "doc_id")
      .agg(max(col("dp")).as("best"))
      .localCheckpoint()
    val byTok = org.apache.spark.sql.expressions.Window
      .partitionBy("query_idx", "tok_idx")
      .orderBy(col("best").desc, col("doc_id").asc)
    val cand = best
      .withColumn("rn", row_number().over(byTok))
      .filter(col("rn") <= 25)
      .select("query_idx", "doc_id").distinct()
      .localCheckpoint()
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy("query_idx")
      .orderBy(col("score").desc, col("doc_id").asc)
    val truth = best.groupBy("query_idx", "doc_id")
      .agg(sum(col("best")).as("score"))
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= 10)
      .select("query_idx", "doc_id")
    // the pruned leg exercises the OPERATOR's shortlist path end to end
    maxsimShortlist(chunkVecs, queryToks, truth, cand).orderBy("query_idx")
  }

  val searchMaxsimPrunedSql: String =
    s"""WITH $maxsimChunkCtes,
      |$maxsimBestCtes,
      |cand AS (SELECT DISTINCT query_idx, doc_id FROM (
      |           SELECT *, row_number() OVER (PARTITION BY query_idx, tok_idx
      |                       ORDER BY best DESC, doc_id ASC) AS rn FROM best)
      |         WHERE rn <= 25),
      |sc AS (SELECT query_idx, doc_id, sum(best) AS score
      |       FROM best GROUP BY 1, 2),
      |truth AS (SELECT query_idx, doc_id FROM (
      |            SELECT *, row_number() OVER (PARTITION BY query_idx
      |                        ORDER BY score DESC, doc_id ASC) AS rn FROM sc)
      |          WHERE rn <= 10),
      |pruned AS (SELECT query_idx, doc_id FROM (
      |             SELECT sc.*, row_number() OVER (PARTITION BY sc.query_idx
      |                           ORDER BY sc.score DESC, sc.doc_id ASC) AS rn
      |             FROM sc JOIN cand USING (query_idx, doc_id))
      |           WHERE rn <= 10)
      |SELECT c2.query_idx, CAST(c2.n_candidates AS BIGINT) AS n_candidates,
      |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
      |FROM (SELECT query_idx, count(*) AS n_candidates FROM cand GROUP BY 1) c2
      |LEFT JOIN (SELECT p.query_idx, count(*) AS n_hits
      |           FROM pruned p JOIN truth t USING (query_idx, doc_id)
      |           GROUP BY 1) h ON h.query_idx = c2.query_idx
      |ORDER BY c2.query_idx""".stripMargin

  // ---- ANN-pruned maxsim serving, graded against exact maxsim truth ----
  // The ChunkIndex.searchAnn composition end to end. Fixture geometry:
  // the plain hash embedder makes every string's vector independent, so
  // chunks of one document share NOTHING — a regime where no doc-level
  // structure exists and any doc-level index is uninformative by
  // construction. Real embedders are the opposite: a document's chunks
  // share its dominant direction. The ANN fixture models that explicitly
  // — chunk vec = chunk cents + 16 × the document's own cents (integer,
  // so maxsim still replays hash-identically) — then the doc-level
  // vector is the MEAN of the document's chunk vectors (the
  // `q_chunk_embed_pool` pooling), quantized into an 16-cluster IVF
  // (representative min-id centroids per doc_id%16 — deterministic, fully
  // replayable). Serving: per-TOKEN candidate shortlists from the
  // batched adaptive-probe route (pool rule: probe clusters in distance
  // order until cumulative size of strictly-closer clusters reaches
  // numCandidates), union per query, exact maxsim rescore on the
  // shortlist. Graded at TWO widths (top-2 and top-10 docs per token):
  // n_candidates = |shortlist|, n_hits = |pruned top-10 ∩ exact top-10|.
  // Candidate generation cost is probed-clusters-sized — never
  // chunk-table-linear (the q_search_maxsim_pruned route's limitation
  // this route exists to remove).
  // centered cents (hash%100 - 50): vectors span the full sphere instead
  // of the positive orthant, so between-document cosine differences are
  // O(1) and the doc component genuinely dominates ranking (uncentered
  // cents squeeze all cosines into ~[0.85, 0.95], where even the 1/16
  // chunk residual reshuffles the top ranks)
  private def maxsimCentsCentered = expr(
    "transform(embedding, v -> cast(round(cast(v as double) * 100, 0) - 50 as double))")

  private def maxsimAnnChunkVecs(s: SparkSession, dir: String): DataFrame =
    maxsimAnnChunkVecsKeyed(s, dir).select("doc_id", "vec")

  /** The correlated chunk vectors WITH a per-chunk row key
    * (doc_id#chunk-text — unique under the fixture's no-duplicate-chunk
    * corpora, string-ordered identically in both engines).
    */
  private def maxsimAnnChunkVecsKeyed(s: SparkSession, dir: String): DataFrame = {
    val cc = chunkEmbeddings(s, dir)
      .select(col("doc_id"),
        concat(col("doc_id").cast("string"), lit("#"), col("content")).as("ckey"),
        maxsimCentsCentered.as("vec"))
    val docCents = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("doc_id").cast("string").as("content"))
      .withColumn("embedding", lit(null).cast("array<float>"))
    val dv = graft.ingest.Embed.withEmbeddings(docCents, new graft.ingest.DeterministicHashEmbedder(8))
      .select(col("doc_id"), maxsimCentsCentered.as("dvec"))
    cc.join(dv, "doc_id")
      .select(col("doc_id"), col("ckey"),
        zip_with(col("vec"), col("dvec"), (c, d) => c + d * lit(16)).as("vec"))
  }

  private def maxsimAnnQueryToks(s: SparkSession, dir: String): DataFrame =
    maxsimTokenEmbeddings(s)
      .select(col("query_idx"), col("tok_idx"), maxsimCentsCentered.as("vec"))

  /** `vec` scaled to unit length. */
  private def normalized(df: DataFrame): DataFrame = df
    .withColumn("__n", graft.functions.VectorFunctions.l2Norm(col("vec")))
    .withColumn("vec", expr("transform(vec, x -> x / __n)"))
    .drop("__n")

  /** One graded shortlist: per query, the candidate count and how many of
    * the exact rescore's top-10 over `cand` are in `truth`.
    */
  private def maxsimShortlist(chunkVecs: DataFrame, queryToks: DataFrame,
      truth: DataFrame, cand: DataFrame): DataFrame = {
    val pruned = graft.search.MaxSim.topK(chunkVecs, queryToks, k = 10,
      candidates = Some(cand))
    val nCand = cand.groupBy("query_idx").agg(count(lit(1)).as("n_candidates"))
    val hits = pruned.select("query_idx", "doc_id")
      .join(truth, Seq("query_idx", "doc_id"), "left_semi")
      .groupBy("query_idx").agg(count(lit(1)).as("n_hits"))
    nCand.join(hits, Seq("query_idx"), "left")
      .na.fill(0L, Seq("n_hits"))
  }

  private def maxsimDocVecs(rawChunkVecs: DataFrame): DataFrame = {
    // pooled doc vector = per-dim SUM of the doc's RAW chunk vectors:
    // same direction as the mean (cosine is scale-invariant) but INTEGER
    // — dots and squared norms stay exact in any summation order, so the
    // candidate leg replays bit-identically in SQL (sums <= ~34k per dim
    // are float-exact, squared sums < 2^53)
    rawChunkVecs
      .select(col("doc_id").as("id"), posexplode(col("vec")).as(Seq("dim", "v")))
      .groupBy("id", "dim").agg(sum(col("v")).as("m"))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        x => x.getField("m").cast("float")).as("embedding"))
      .withColumn("norm", graft.functions.VectorFunctions.l2Norm(col("embedding")))
  }

  def searchMaxsimAnn(s: SparkSession, dir: String): DataFrame = {
    // cosine space throughout — the REAL serving geometry (ChunkIndex
    // L2-normalizes at index time, so served maxsim sums cosines and the
    // IVF candidate rule ranks by the same measure; raw integer dots
    // would decouple the two through document-norm variation). Exactness
    // budget, stated honestly: norms are sqrt of integer sums (correctly
    // rounded -> bit-identical across engines) and the ANN candidate leg
    // is all-integer-derived (bit-identical ranks); the maxsim legs' dot
    // products and per-doc sums fold normalized DOUBLES, whose
    // accumulation order differs between engines — a rank boundary flips
    // only if two DISTINCT documents score within ~1 ULP, which the 16x
    // doc-component separation makes vanishing (exact ties from
    // duplicate text produce identical doubles in both engines and break
    // on doc_id). Outputs stay counts-only — the q_ann_recall-accepted
    // risk class.
    // Concurrent fixture waves — the searchMaxsimCivf rationale (guide
    // §2.6): independent legs materialize as overlapping jobs.
    val (raw, rawToks) = graft.Checkpoints.join2(
      () => maxsimAnnChunkVecs(s, dir).localCheckpoint(),
      () => maxsimAnnQueryToks(s, dir).localCheckpoint())
    val w1 = graft.Checkpoints.parCheckpoint(Seq(
      normalized(raw), normalized(rawToks), maxsimDocVecs(raw)))
    val (chunkVecs, queryToks, docVecs) = (w1(0), w1(1), w1(2))
    // quantizer chain ∥ exact truth — pairwise independent branches
    val (centsAssigned, truth) = graft.Checkpoints.join2(
      () => {
        val cents = graft.ann.Ann.representativeCentroids(
          docVecs.withColumn("label", pmod(col("id"), lit(16L))), "label")
          .localCheckpoint()
        (cents, graft.ann.Ann.assign(docVecs, cents).localCheckpoint())
      },
      () => {
        val t = graft.search.MaxSim.topK(chunkVecs, queryToks, k = 10)
          .select("query_idx", "doc_id").localCheckpoint()
        t
      })
    val (cents, assigned) = centsAssigned
    // token batch for the doc-level ANN: key = query_idx*3 + tok_idx
    // (the fixture has exactly 3 tokens per query); RAW integer cents —
    // cosine is scale-invariant and integer dots replay exactly
    val toks = rawToks.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    // the two width shortlists, concurrently (each output-bounded,
    // three consumers — see the q_search_maxsim_civf leg)
    val candByT = graft.Checkpoints.parallel(Seq(5, 25).map(t => () => {
      val tokBatch = toks.toIndexedSeq.map { case (qi, ti, v) =>
        (qi * 3 + ti, v.map(_.toFloat)) }
      graft.ann.Ann.ivfTopKBatchAdaptive(
          assigned, cents, tokBatch, t,
          numCandidates = math.max(10L * t, 100L))
        .select(floor(col("query_idx") / 3).cast("int").as("query_idx"),
          col("id").cast("long").as("doc_id")).distinct().localCheckpoint()
    }))
    def annLeg(t: Int, cand: DataFrame): DataFrame =
      maxsimShortlist(chunkVecs, queryToks, truth, cand).withColumn("t_width", lit(t.toLong))
    annLeg(5, candByT(0)).unionByName(annLeg(25, candByT(1)))
      .select("t_width", "query_idx", "n_candidates", "n_hits")
      .orderBy("t_width", "query_idx")
  }

  val searchMaxsimAnnSql: String =
    s"""WITH $maxsimChunkCtes,
       |$maxsimDocTopicCtes,
      |${maxsimTokenCtes(" - 50")},
      |${maxsimCosineTruth("")},
      |dv AS (SELECT doc_id AS id, dim, CAST(sum(cent) AS DOUBLE) AS m
      |       FROM cv GROUP BY 1, 2),
      |dn AS (SELECT id, sqrt(sum(m * m)) AS nrm FROM dv GROUP BY 1),
      |$maxsimDocCentroidCtes,
      |adot AS (SELECT dv.id, cvd.centroid_id, sum(dv.m * cvd.m) AS dt
      |         FROM dv JOIN cvd USING (dim) GROUP BY 1, 2),
      |assign AS (SELECT id, cluster_id FROM (
      |             SELECT a.id, a.centroid_id AS cluster_id,
      |                    row_number() OVER (PARTITION BY a.id
      |                      ORDER BY 1.0 - a.dt / (dnn.nrm * c2.nrm),
      |                               a.centroid_id) AS rn
      |             FROM adot a
      |             JOIN dn dnn ON dnn.id = a.id
      |             JOIN cn2 c2 ON c2.centroid_id = a.centroid_id)
      |           WHERE rn = 1),
      |csize AS (SELECT cluster_id, count(*) AS csize FROM assign GROUP BY 1),
      |${maxsimProbeCtes("csize")},
      |sdot AS (SELECT qk.tok_key, min(qk.query_idx) AS query_idx, dv.id,
      |                sum(qk.qc * dv.m) AS dt
      |         FROM qk JOIN dv USING (dim) GROUP BY qk.tok_key, dv.id),
      |sct AS (SELECT p.t_width, sd.tok_key, sd.query_idx, sd.id,
      |               row_number() OVER (PARTITION BY p.t_width, sd.tok_key
      |                 ORDER BY sd.dt / (dnn.nrm * qn2.nrm) DESC,
      |                          sd.id ASC) AS rn
      |        FROM sdot sd
      |        JOIN assign a ON a.id = sd.id
      |        JOIN probes p ON p.tok_key = sd.tok_key
      |                     AND p.centroid_id = a.cluster_id
      |        JOIN dn dnn ON dnn.id = sd.id
      |        JOIN qn2 ON qn2.tok_key = sd.tok_key),
      |cand AS (SELECT DISTINCT s.t_width, s.query_idx, s.id AS doc_id
      |         FROM sct s WHERE s.rn <= s.t_width),
      |$maxsimWidthGradeSql""".stripMargin

  // ---- maxsim as a hybrid RRF leg (Api.searchIndexed semanticMode=
  //      "maxsim", McpSurface hybrid `search`): the late-interaction
  //      ranks fuse with the TF lexical ranks through the reference's
  //      RRF math unchanged — RRF consumes ranks only, so the maxsim
  //      scorer needs no rescaling to join the fusion. Maxsim leg =
  //      q_search_maxsim's integer cent-unit scorer (query 0: "data
  //      analysis system"); lexical leg = TF over the same words;
  //      weights 0.6/0.4, rrf_k 60, k 10 — both legs and the fused
  //      arithmetic replay 1:1 in DuckDB. ----
  def hybridMaxsim(s: SparkSession, dir: String): DataFrame = {
    val qtoks = maxsimQueryToks(s, dir).filter(col("query_idx") === 0)
    val sem = graft.search.MaxSim.topK(maxsimChunkVecs(s, dir), qtoks, k = 10)
      .select(col("query_idx"), col("doc_id").as("id"), col("score"))
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text").as("content"))
    val lex = graft.search.Lexical.search(docs, Seq((0, "data analysis system")), 10)
    graft.search.Hybrid.rrf(sem, lex, 0.6, 0.4, 60, 10)
      .withColumn("score", round(col("score"), 9))
      .orderBy(col("score").desc, col("id").asc)
  }

  val hybridMaxsimSql: String =
    s"""WITH $maxsimChunkCtes,
      |cv AS (SELECT doc_id, chunk, dim,
      |         ('0x' || substr(sha256(chunk || CAST(dim AS VARCHAR)), 1, 15))::BIGINT % 100 AS cent
      |       FROM ck CROSS JOIN i),
      |qt AS (SELECT * FROM (VALUES (0, 'data'), (1, 'analysis'), (2, 'system'))
      |                  v(tok_idx, tok)),
      |qv AS (SELECT tok_idx, dim,
      |         ('0x' || substr(sha256(tok || CAST(dim AS VARCHAR)), 1, 15))::BIGINT % 100 AS cent
      |       FROM qt CROSS JOIN i),
      |dp AS (SELECT qv.tok_idx, cv.doc_id, cv.chunk,
      |              sum(qv.cent * cv.cent) AS dotp
      |       FROM cv JOIN qv USING (dim)
      |       GROUP BY 1, 2, 3),
      |best AS (SELECT tok_idx, doc_id, max(dotp) AS best
      |         FROM dp GROUP BY 1, 2),
      |sc AS (SELECT doc_id, sum(best) AS score FROM best GROUP BY 1),
      |sem AS (SELECT doc_id AS id, rnk FROM (
      |          SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
      |          FROM sc)
      |        WHERE rnk <= 10),
      |tk AS (SELECT doc_id AS id,
      |              regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS toks
      |       FROM documents),
      |lexs AS (SELECT id,
      |                CAST(len(list_filter(toks, x -> x = 'data'))
      |                   + len(list_filter(toks, x -> x = 'analysis'))
      |                   + len(list_filter(toks, x -> x = 'system')) AS DOUBLE) AS score
      |         FROM tk),
      |lex AS (SELECT id, rnk FROM (
      |          SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rnk
      |          FROM lexs WHERE score > 0)
      |        WHERE rnk <= 10),
      |u AS (SELECT id, 0.6/(60.0 + rnk) AS contrib FROM sem
      |      UNION ALL
      |      SELECT id, 0.4/(60.0 + rnk) FROM lex),
      |fz AS (SELECT CAST(0 AS INTEGER) AS query_idx, id, sum(contrib) AS score
      |       FROM u GROUP BY id),
      |t AS (SELECT query_idx, id, score,
      |             row_number() OVER (ORDER BY score DESC, id ASC) AS rn
      |      FROM fz)
      |SELECT query_idx, id, round(score, 9) AS score FROM t WHERE rn <= 10
      |ORDER BY round(score, 9) DESC, id""".stripMargin

  // ---- chunk-level-IVF maxsim serving (the PLAID route), graded vs
  //      exact maxsim truth at the same two widths as the doc-level
  //      route. Same correlated fixture; the candidate leg assigns the
  //      CHUNK vectors themselves to the 16 representative centroids,
  //      probes per token (pool rule, numCandidates = max(10T, 100) over
  //      CHUNK-cluster sizes), ranks DOCUMENTS per token by their best
  //      probed chunk (raw chunk-row ranking lets one strong doc crowd
  //      the shortlist — measured 75 slots -> ~28 distinct docs; doc ids
  //      rank as strings in both engines), and unions the per-token
  //      top-T docs per query. Every candidate-leg quantity is integer-derived —
  //      bit-identical ranks — and recall should beat the doc-level
  //      route's: candidates come from the scored vectors themselves, so
  //      the only loss is IVF quantization. ----
  /** MULTI-TOPIC correlated chunk vectors for the chunk-quantizer grading:
    * each document carries TWO topic directions (the chunk text's hash
    * parity picks one), chunk vec = chunk cents + 16 × the topic's cents.
    * The pooled doc vector (per-dim sum of the doc's chunks) AVERAGES the
    * two directions away — the precise multi-topic failure mode maxsim
    * exists to score and the chunk-trained PLAID quantizer
    * (arXiv:2205.09707 trains on the token embeddings themselves) exists
    * to candidate-generate for. Everything integer-derived, replayable.
    */
  private def maxsimCivfChunkVecsKeyed(s: SparkSession, dir: String): DataFrame = {
    // the doc's two topics come from a GLOBAL pool of 32 shared topic
    // directions (hash of doc id + the chunk text's hash parity), so the
    // chunk-vector space has real cluster structure — the structure a
    // chunk-trained quantizer recovers and doc pooling averages away.
    // Materialized ONCE: cc feeds both the topic-vocabulary distinct and
    // the topic join below — left lazy, the corpus-sized chunk-embedding
    // mapPartitions pass executes twice (measured ~25 s executor time per
    // pass at sf0.1)
    val embedder = new graft.ingest.DeterministicHashEmbedder(8)
    val cc = chunkEmbeddings(s, dir)
      .select(col("doc_id"),
        concat(col("doc_id").cast("string"), lit("#"), col("content")).as("ckey"),
        concat(lit("gtopic"),
          pmod(expr("cast(conv(substring(sha2(concat(cast(doc_id as string), 'x', " +
              "cast(cast(conv(substring(sha2(content, 256), 1, 15), 16, 10) as bigint) % 2 as string)), " +
              "256), 1, 15), 16, 10) as bigint)"),
            lit(32L)).cast("string")).as("topic"),
        maxsimCentsCentered.as("vec"))
      .localCheckpoint()
    val topics = cc.select(col("topic").as("content")).distinct()
      .withColumn("embedding", lit(null).cast("array<float>"))
    val tv = graft.ingest.Embed.withEmbeddings(topics, embedder)
      .select(col("content").as("topic"), maxsimCentsCentered.as("tvec"))
    // checkpoint the (bounded, chunk-count-sized) result HERE so cc's
    // blocks — needed only for this join — release deterministically
    // instead of lingering until ContextCleaner GC; both callers
    // previously re-checkpointed the returned frame anyway
    val out = cc.join(tv, "topic")
      .select(col("doc_id"), col("ckey"),
        zip_with(col("vec"), col("tvec"), (c, t) => c + t * lit(16)).as("vec"))
      .localCheckpoint()
    graft.Checkpoints.free(cc)
    out
  }

  def searchMaxsimCivf(s: SparkSession, dir: String): DataFrame = {
    val rawKeyed = maxsimCivfChunkVecsKeyed(s, dir)
    val raw = rawKeyed.select("doc_id", "vec")
    val rawToks = maxsimAnnQueryToks(s, dir).localCheckpoint()
    // The harness is a DAG of independent fixture legs joined only at the
    // end; eager checkpoints built one at a time serialized ~100 barrier
    // jobs (driver-latency-bound: ~17 s executor time across 32 cores vs
    // ~6 s wall). Materialize each dependency WAVE concurrently instead
    // (guide §2.6) — identical frames, overlapping jobs.
    // Wave 1: the four root frames (all depend only on rawKeyed/rawToks).
    val w1 = graft.Checkpoints.parCheckpoint(Seq(
      normalized(raw),
      normalized(rawToks),
      maxsimDocVecs(raw),
      // chunk-trained quantizer input (PLAID, arXiv:2205.09707): the
      // CHUNK vectors the index stores, keyed by ckey
      rawKeyed.select(col("ckey").as("id"),
          expr("transform(vec, v -> cast(v as float))").as("embedding"),
          col("doc_id"))
        .withColumn("norm",
          graft.functions.VectorFunctions.l2Norm(col("embedding")))))
    val (chunkVecs, queryToks, docVecs, chunkAsVecs) = (w1(0), w1(1), w1(2), w1(3))
    // Wave 2: both quantizers + the exact truth — pairwise independent.
    // doc-trained: representative min-id POOLED DOC vector per id%16 (the
    // one-quantizer-per-collection default); chunk-trained: centroids
    // SAMPLED from the chunk vectors themselves (representative min-ckey
    // chunk per hash(ckey)%64 — the k-means-init step of the production
    // buildChunkTrained), fully integer-derived and bit-replayable; the
    // graded difference isolates the TRAINING SPACE (pooled doc vs chunk).
    val w2 = graft.Checkpoints.parCheckpoint(Seq(
      graft.ann.Ann.representativeCentroids(
        docVecs.withColumn("label", pmod(col("id"), lit(16L))), "label"),
      graft.ann.Ann.representativeCentroids(
        chunkAsVecs.withColumn("label",
          pmod(expr("cast(conv(substring(sha2(id, 256), 1, 15), 16, 10) as bigint)"),
            lit(64L))), "label"),
      graft.search.MaxSim.topK(chunkVecs, queryToks, k = 10)
        .select("query_idx", "doc_id")))
    val (centsDoc, centsChunk, truth) = (w2(0), w2(1), w2(2))
    val toks = rawToks.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).map(_.toFloat).toArray))
    // Wave 3: ONE chunk assignment per quantizer, shared by both width
    // legs (assignment is the fixture's expensive pass — re-deriving it
    // per leg doubled this query's bench cost). Ann.assign collects its
    // centroid frame at construction, so each runs fully inside a thunk.
    val assigned3 = graft.Checkpoints.parallel(Seq(centsChunk, centsDoc).map(c =>
      () => graft.ann.Ann.assign(
        chunkAsVecs.select("id", "embedding", "norm"), c).localCheckpoint()))
    val assignedByQz = Seq(
      "chunk" -> (centsChunk, assigned3(0)),
      "doc" -> (centsDoc, assigned3(1)))
    // Wave 4: the four graded shortlists — the candidate frame is
    // output-bounded (≤ queries × tokens × T docs) and feeds THREE
    // consumers (the rescore join, the n_candidates count, and the
    // rescore's own broadcast build) — left lazy, the whole
    // adaptive-probe pipeline re-executes per consumer.
    val legSpecs = assignedByQz.flatMap { case (qz, (cents, assigned)) =>
      Seq(5, 25).map(t => (qz, cents, assigned, t)) }
    val candByLeg = graft.Checkpoints.parallel(legSpecs.map {
      case (_, cents, assigned, t) => () =>
        graft.search.ChunkIndex.chunkIvfCandidates(
            s, assigned, cents, toks.toIndexedSeq, t)
          .select(col("query_idx"), col("doc_id").cast("long").as("doc_id"))
          .distinct().localCheckpoint()
    })
    def leg(qz: String, cand: DataFrame, t: Int): DataFrame =
      maxsimShortlist(chunkVecs, queryToks, truth, cand)
        .withColumn("t_width", lit(t.toLong))
        .withColumn("quantizer", lit(qz))
    legSpecs.zip(candByLeg).map { case ((qz, _, _, t), cand) => leg(qz, cand, t) }
      .reduce(_ unionByName _)
      .select("quantizer", "t_width", "query_idx", "n_candidates", "n_hits")
      .orderBy("quantizer", "t_width", "query_idx")
  }

  val searchMaxsimCivfSql: String =
    s"""WITH $maxsimChunkCtes,
      |$maxsimTopicCtes,
      |${maxsimTokenCtes(" - 50")},
      |${maxsimCosineTruth("")},
      |dv AS (SELECT doc_id AS id, dim, CAST(sum(cent) AS DOUBLE) AS m
      |       FROM cv GROUP BY 1, 2),
      |crep AS (SELECT id % 16 AS centroid_id, id FROM (
      |           SELECT id, row_number() OVER (PARTITION BY id % 16
      |                           ORDER BY id) AS rn
      |           FROM (SELECT DISTINCT id FROM dv))
      |         WHERE rn = 1),
      |clab AS (SELECT doc_id, chunk,
      |                CAST(doc_id AS VARCHAR) || '#' || chunk AS ckey,
      |                ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#' || chunk),
      |                  1, 15))::BIGINT % 64 AS lbl
      |         FROM ck),
      |crep2 AS (SELECT lbl AS centroid_id, doc_id, chunk FROM (
      |            SELECT *, row_number() OVER (PARTITION BY lbl
      |                            ORDER BY ckey) AS rn
      |            FROM clab)
      |          WHERE rn = 1),
      |cvd AS (SELECT 'doc' AS qz, crep.centroid_id, dv.dim, dv.m
      |        FROM crep JOIN dv ON dv.id = crep.id
      |        UNION ALL
      |        SELECT 'chunk' AS qz, crep2.centroid_id, cv.dim,
      |               CAST(cv.cent AS DOUBLE) AS m
      |        FROM crep2 JOIN cv ON cv.doc_id = crep2.doc_id
      |                          AND cv.chunk = crep2.chunk),
      |cn2 AS (SELECT qz, centroid_id, sqrt(sum(m * m)) AS nrm
      |        FROM cvd GROUP BY 1, 2),
      |cadot AS (SELECT cvd.qz, cv.doc_id, cv.chunk, cvd.centroid_id,
      |                 sum(CAST(cv.cent AS DOUBLE) * cvd.m) AS dt
      |          FROM cv JOIN cvd USING (dim) GROUP BY 1, 2, 3, 4),
      |cassign AS (SELECT qz, doc_id, chunk, cluster_id FROM (
      |              SELECT a.qz, a.doc_id, a.chunk, a.centroid_id AS cluster_id,
      |                     row_number() OVER (PARTITION BY a.qz, a.doc_id, a.chunk
      |                       ORDER BY 1.0 - a.dt / (cnx.nrm * c2.nrm),
      |                                a.centroid_id) AS rn
      |              FROM cadot a
      |              JOIN cn cnx ON cnx.doc_id = a.doc_id AND cnx.chunk = a.chunk
      |              JOIN cn2 c2 ON c2.qz = a.qz AND c2.centroid_id = a.centroid_id)
      |            WHERE rn = 1),
      |ccsize AS (SELECT qz, cluster_id, count(*) AS csize
      |           FROM cassign GROUP BY 1, 2),
      |qk AS (SELECT query_idx * 3 + tok_idx AS tok_key, query_idx, dim,
      |              CAST(cent AS DOUBLE) AS qc
      |       FROM qv),
      |qn2 AS (SELECT tok_key, sqrt(sum(qc * qc)) AS nrm FROM qk GROUP BY 1),
      |qdot AS (SELECT cvd.qz, qk.tok_key, cvd.centroid_id, sum(qk.qc * cvd.m) AS dt
      |         FROM qk JOIN cvd USING (dim) GROUP BY 1, 2, 3),
      |pr AS (SELECT q.qz, q.tok_key, q.centroid_id,
      |              1.0 - q.dt / (c2.nrm * qn2.nrm) AS d,
      |              coalesce(s.csize, 0) AS csize
      |       FROM qdot q
      |       JOIN cn2 c2 ON c2.qz = q.qz AND c2.centroid_id = q.centroid_id
      |       JOIN qn2 ON qn2.tok_key = q.tok_key
      |       LEFT JOIN ccsize s ON s.qz = q.qz AND s.cluster_id = q.centroid_id),
      |pool AS (SELECT qz, tok_key, centroid_id,
      |                coalesce(sum(csize) OVER (PARTITION BY qz, tok_key
      |                  ORDER BY d, centroid_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |                  0) AS pool
      |         FROM pr),
      |widths AS (SELECT CAST(unnest([5, 25]) AS BIGINT) AS t_width),
      |probes AS (SELECT p.qz, w.t_width, p.tok_key, p.centroid_id
      |           FROM widths w JOIN pool p
      |             ON p.pool < greatest(10 * w.t_width, 100)),
      |csdot AS (SELECT qk.tok_key, min(qk.query_idx) AS query_idx,
      |                 cv.doc_id, cv.chunk,
      |                 sum(qk.qc * CAST(cv.cent AS DOUBLE)) AS dt
      |          FROM qk JOIN cv USING (dim)
      |          GROUP BY qk.tok_key, cv.doc_id, cv.chunk),
      |sbest AS (SELECT p.qz, p.t_width, sd.tok_key, sd.query_idx, sd.doc_id,
      |                 max(sd.dt / (cnx.nrm * qn2.nrm)) AS s
      |          FROM csdot sd
      |          JOIN cassign a ON a.doc_id = sd.doc_id AND a.chunk = sd.chunk
      |          JOIN probes p ON p.qz = a.qz AND p.tok_key = sd.tok_key
      |                       AND p.centroid_id = a.cluster_id
      |          JOIN cn cnx ON cnx.doc_id = sd.doc_id AND cnx.chunk = sd.chunk
      |          JOIN qn2 ON qn2.tok_key = sd.tok_key
      |          GROUP BY 1, 2, 3, 4, 5),
      |sct AS (SELECT *, row_number() OVER (PARTITION BY qz, t_width, tok_key
      |              ORDER BY s DESC, CAST(doc_id AS VARCHAR) ASC) AS rn
      |        FROM sbest),
      |cand AS (SELECT DISTINCT s.qz, s.t_width, s.query_idx, s.doc_id
      |         FROM sct s WHERE s.rn <= s.t_width),
      |pruned AS (SELECT qz, t_width, query_idx, doc_id FROM (
      |             SELECT c.qz, c.t_width, s.query_idx, s.doc_id,
      |                    row_number() OVER (PARTITION BY c.qz, c.t_width, s.query_idx
      |                      ORDER BY s.score DESC, s.doc_id ASC) AS rn
      |             FROM sc s JOIN cand c
      |               ON s.query_idx = c.query_idx AND s.doc_id = c.doc_id)
      |           WHERE rn <= 10),
      |nc AS (SELECT qz, t_width, query_idx, CAST(count(*) AS BIGINT) AS n_candidates
      |       FROM cand GROUP BY 1, 2, 3),
      |h AS (SELECT p.qz, p.t_width, p.query_idx, CAST(count(*) AS BIGINT) AS n_hits
      |      FROM pruned p JOIN truth t
      |        ON t.query_idx = p.query_idx AND t.doc_id = p.doc_id
      |      GROUP BY 1, 2, 3)
      |SELECT nc.qz AS quantizer, nc.t_width, nc.query_idx, nc.n_candidates,
      |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
      |FROM nc LEFT JOIN h
      |  ON h.qz = nc.qz AND h.t_width = nc.t_width AND h.query_idx = nc.query_idx
      |ORDER BY nc.qz, nc.t_width, nc.query_idx""".stripMargin

  // ---- residual-PQ chunk-code candidates (the PLAID compression,
  //      ChunkPqIndex), graded vs exact maxsim truth NEXT TO the raw
  //      chunk-IVF route at the same two widths. Same multi-topic
  //      fixture and chunk-sampled-64 quantizer as q_search_maxsim_civf's
  //      chunk leg; the 'adc' leg encodes every chunk's RESIDUAL
  //      (chunk − assigned centroid) into m=2 subspaces × k=8 codewords
  //      (codebooks = the first 8 residual vectors by chunk key — the
  //      deterministic Pq.train init, iters=0 — so training replays
  //      bit-exactly in SQL) and ranks candidates by the code-DECODED
  //      approximate dot ⟨q,centroid⟩ + Σ_j ⟨q_j, cw_j[code_j]⟩, while
  //      the 'raw' leg ranks the same probed clusters by the true chunk
  //      cosine. Candidate sets then rescore exactly and grade against
  //      the exact truth: the adc leg's n_hits sitting at/near the raw
  //      leg's shows the compression costs little recall while its scan
  //      reads codes instead of float vectors. Every candidate-leg
  //      quantity is integer-derived — bit-identical ranks. ----
  def searchMaxsimCpq(s: SparkSession, dir: String): DataFrame = {
    val rawKeyed = maxsimCivfChunkVecsKeyed(s, dir)
    val raw = rawKeyed.select("doc_id", "vec")
    val rawToks = maxsimAnnQueryToks(s, dir).localCheckpoint()
    // Concurrent fixture waves — the searchMaxsimCivf rationale (guide
    // §2.6): the harness DAG's independent legs materialize as
    // overlapping jobs instead of one barrier job at a time.
    // Wave 1: the three root frames. candidate-leg chunk vectors
    // NORMALIZED then milli-QUANTIZED (floor(v/‖v‖·1000)): PLAID encodes
    // normalized token embeddings — an unnormalized fixture would
    // penalize the ADC leg for norm variance, not quantization — and
    // flooring to integer milli units keeps every candidate-leg quantity
    // integer-derived (the oracle replay discipline: int dots exact in
    // any order) while preserving the cosine geometry to 1e-3
    val w1 = graft.Checkpoints.parCheckpoint(Seq(
      normalized(raw),
      normalized(rawToks),
      rawKeyed
        .withColumn("__n", graft.functions.VectorFunctions.l2Norm(col("vec")))
        .select(col("ckey").as("id"),
          expr("transform(vec, v -> cast(floor(v / __n * 1000.0) as float))")
            .as("embedding"))
        .withColumn("norm",
          graft.functions.VectorFunctions.l2Norm(col("embedding")))))
    val (chunkVecs, queryToks, chunkAsVecs) = (w1(0), w1(1), w1(2))
    val centsChunk = graft.ann.Ann.representativeCentroids(
      chunkAsVecs.withColumn("label",
        pmod(expr("cast(conv(substring(sha2(id, 256), 1, 15), 16, 10) as bigint)"),
          lit(64L))), "label")
      .localCheckpoint()
    val toks = rawToks.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).map(_.toFloat).toArray))
    // Exact truth ∥ the PQ build chain (assign → residuals → train →
    // encode) — the two branches never read each other's frames.
    // iters=0: codebooks ARE the deterministic init (first 32 residual
    // vectors by chunk key, sliced per subspace) — the SQL-replayable
    // training floor; production builds run Lloyd rounds on top
    val (truth, pqChain) = graft.Checkpoints.join2(
      () => {
        val t = graft.search.MaxSim.topK(chunkVecs, queryToks, k = 10)
          .select("query_idx", "doc_id").localCheckpoint()
        t
      },
      () => {
        val assigned = graft.ann.Ann.assign(
          chunkAsVecs.select("id", "embedding", "norm"), centsChunk)
          .localCheckpoint()
        val residuals = graft.ann.Pq.residualOf(assigned,
            centsChunk.select(col("centroid_id").as("cluster_id"), col("centroid")))
          .localCheckpoint()
        val cb = graft.ann.Pq.train(residuals.select("id", "embedding"),
          dim = 8, m = 4, k = 32, iters = 0)
        val codes = graft.ann.Pq.encode(residuals.select("id", "embedding"), 8, cb)
          .join(residuals.select(col("id"), col("cluster_id")), "id")
          .localCheckpoint()
        (assigned, cb, codes)
      })
    val (assigned, cb, codes) = pqChain
    // The four graded shortlists, concurrently (each is output-bounded
    // and feeds three consumers — see the q_search_maxsim_civf leg)
    val legSpecs = Seq("raw", "adc").flatMap(l => Seq(5, 25).map(t => (l, t)))
    val candByLeg = graft.Checkpoints.parallel(legSpecs.map { case (name, t) =>
      () => (name match {
        case "raw" => graft.search.ChunkIndex.chunkIvfCandidates(
          s, assigned, centsChunk, toks.toIndexedSeq, t)
        case _ => graft.search.ChunkIndex.cpqCandidates(
          s, codes, centsChunk, cb, toks.toIndexedSeq, t)
      })
        .select(col("query_idx"), col("doc_id").cast("long").as("doc_id"))
        .distinct().localCheckpoint()
    })
    def leg(name: String, cand: DataFrame, t: Int): DataFrame =
      maxsimShortlist(chunkVecs, queryToks, truth, cand)
        .withColumn("t_width", lit(t.toLong))
        .withColumn("leg", lit(name))
    legSpecs.zip(candByLeg).map { case ((name, t), cand) => leg(name, cand, t) }
      .reduce(_ unionByName _)
      .select("leg", "t_width", "query_idx", "n_candidates", "n_hits")
      .orderBy("leg", "t_width", "query_idx")
  }

  val searchMaxsimCpqSql: String =
    s"""WITH $maxsimChunkCtes,
      |$maxsimTopicCtes,
      |${maxsimTokenCtes(" - 50")},
      |${maxsimCosineTruth("")},
      |qcv AS (SELECT cv.doc_id, cv.chunk, cv.dim,
      |               floor(cv.cent / cn.nrm * 1000) AS qc2
      |        FROM cv JOIN cn ON cn.doc_id = cv.doc_id
      |                       AND cn.chunk = cv.chunk),
      |cnq AS (SELECT doc_id, chunk, sqrt(sum(qc2 * qc2)) AS nrm
      |        FROM qcv GROUP BY 1, 2),
      |clab AS (SELECT doc_id, chunk,
      |                CAST(doc_id AS VARCHAR) || '#' || chunk AS ckey,
      |                ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#' || chunk),
      |                  1, 15))::BIGINT % 64 AS lbl
      |         FROM ck),
      |crep AS (SELECT lbl AS centroid_id, doc_id, chunk FROM (
      |           SELECT *, row_number() OVER (PARTITION BY lbl
      |                           ORDER BY ckey) AS rn
      |           FROM clab)
      |         WHERE rn = 1),
      |cvd AS (SELECT crep.centroid_id, q.dim, q.qc2 AS m
      |        FROM crep JOIN qcv q ON q.doc_id = crep.doc_id
      |                            AND q.chunk = crep.chunk),
      |cn2 AS (SELECT centroid_id, sqrt(sum(m * m)) AS nrm
      |        FROM cvd GROUP BY 1),
      |cadot AS (SELECT q.doc_id, q.chunk, cvd.centroid_id,
      |                 sum(q.qc2 * cvd.m) AS dt
      |          FROM qcv q JOIN cvd USING (dim) GROUP BY 1, 2, 3),
      |cassign AS (SELECT doc_id, chunk, cluster_id FROM (
      |              SELECT a.doc_id, a.chunk, a.centroid_id AS cluster_id,
      |                     row_number() OVER (PARTITION BY a.doc_id, a.chunk
      |                       ORDER BY 1.0 - a.dt / (cnx.nrm * c2.nrm),
      |                                a.centroid_id) AS rn
      |              FROM cadot a
      |              JOIN cnq cnx ON cnx.doc_id = a.doc_id AND cnx.chunk = a.chunk
      |              JOIN cn2 c2 ON c2.centroid_id = a.centroid_id)
      |            WHERE rn = 1),
      |ccsize AS (SELECT cluster_id, count(*) AS csize
      |           FROM cassign GROUP BY 1),
      |${maxsimProbeCtes("ccsize")},
      |csdot AS (SELECT qk.tok_key, min(qk.query_idx) AS query_idx,
      |                 q.doc_id, q.chunk,
      |                 sum(qk.qc * q.qc2) AS dt
      |          FROM qk JOIN qcv q USING (dim)
      |          GROUP BY qk.tok_key, q.doc_id, q.chunk),
      |sbraw AS (SELECT p.t_width, sd.tok_key, sd.query_idx, sd.doc_id,
      |                 max(sd.dt / (cnx.nrm * qn2.nrm)) AS s
      |          FROM csdot sd
      |          JOIN cassign a ON a.doc_id = sd.doc_id AND a.chunk = sd.chunk
      |          JOIN probes p ON p.tok_key = sd.tok_key
      |                       AND p.centroid_id = a.cluster_id
      |          JOIN cnq cnx ON cnx.doc_id = sd.doc_id AND cnx.chunk = sd.chunk
      |          JOIN qn2 ON qn2.tok_key = sd.tok_key
      |          GROUP BY 1, 2, 3, 4),
      |sctraw AS (SELECT *, row_number() OVER (PARTITION BY t_width, tok_key
      |                 ORDER BY s DESC, CAST(doc_id AS VARCHAR) ASC) AS rn
      |           FROM sbraw),
      |candraw AS (SELECT DISTINCT 'raw' AS leg, s.t_width, s.query_idx, s.doc_id
      |            FROM sctraw s WHERE s.rn <= s.t_width),
      |res AS (SELECT cl.ckey, q.doc_id, q.chunk, q.dim, a.cluster_id,
      |               q.qc2 - cvd.m AS r
      |        FROM qcv q
      |        JOIN clab cl ON cl.doc_id = q.doc_id AND cl.chunk = q.chunk
      |        JOIN cassign a ON a.doc_id = q.doc_id AND a.chunk = q.chunk
      |        JOIN cvd ON cvd.centroid_id = a.cluster_id AND cvd.dim = q.dim),
      |cwd AS (SELECT sd.code, r.dim, r.r AS wv
      |        FROM (SELECT ckey, CAST(row_number() OVER (ORDER BY ckey) - 1
      |                       AS INTEGER) AS code
      |              FROM (SELECT DISTINCT ckey FROM res)
      |              QUALIFY row_number() OVER (ORDER BY ckey) <= 32) sd
      |        JOIN res r ON r.ckey = sd.ckey),
      |enc AS (SELECT doc_id, chunk, j, code FROM (
      |          SELECT doc_id, chunk, j, code,
      |                 row_number() OVER (PARTITION BY doc_id, chunk, j
      |                   ORDER BY d, code) AS rn
      |          FROM (SELECT r.doc_id, r.chunk, r.dim // 2 AS j, w.code,
      |                       sum((r.r - w.wv) * (r.r - w.wv)) AS d
      |                FROM res r JOIN cwd w ON w.dim = r.dim
      |                GROUP BY 1, 2, 3, 4))
      |        WHERE rn = 1),
      |tdot AS (SELECT qk.tok_key, w.dim // 2 AS j, w.code,
      |                sum(qk.qc * w.wv) AS dt
      |         FROM qk JOIN cwd w USING (dim)
      |         GROUP BY 1, 2, 3),
      |approx AS (SELECT qk2.tok_key, min(qk2.query_idx) AS query_idx,
      |                  e.doc_id, e.chunk, a.cluster_id,
      |                  min(qd.dt) + sum(td.dt) AS s
      |           FROM enc e
      |           JOIN cassign a ON a.doc_id = e.doc_id AND a.chunk = e.chunk
      |           JOIN (SELECT DISTINCT tok_key, query_idx FROM qk) qk2 ON true
      |           JOIN qdot qd ON qd.tok_key = qk2.tok_key
      |                       AND qd.centroid_id = a.cluster_id
      |           JOIN tdot td ON td.tok_key = qk2.tok_key
      |                       AND td.j = e.j AND td.code = e.code
      |           GROUP BY qk2.tok_key, e.doc_id, e.chunk, a.cluster_id),
      |sbadc AS (SELECT p.t_width, ax.tok_key, ax.query_idx, ax.doc_id,
      |                 max(ax.s) AS s
      |          FROM approx ax
      |          JOIN probes p ON p.tok_key = ax.tok_key
      |                       AND p.centroid_id = ax.cluster_id
      |          GROUP BY 1, 2, 3, 4),
      |sctadc AS (SELECT *, row_number() OVER (PARTITION BY t_width, tok_key
      |                 ORDER BY s DESC, CAST(doc_id AS VARCHAR) ASC) AS rn
      |           FROM sbadc),
      |candadc AS (SELECT DISTINCT 'adc' AS leg, s.t_width, s.query_idx, s.doc_id
      |            FROM sctadc s WHERE s.rn <= s.t_width),
      |cand AS (SELECT * FROM candraw UNION ALL SELECT * FROM candadc),
      |pruned AS (SELECT leg, t_width, query_idx, doc_id FROM (
      |             SELECT c.leg, c.t_width, s.query_idx, s.doc_id,
      |                    row_number() OVER (PARTITION BY c.leg, c.t_width, s.query_idx
      |                      ORDER BY s.score DESC, s.doc_id ASC) AS rn
      |             FROM sc s JOIN cand c
      |               ON s.query_idx = c.query_idx AND s.doc_id = c.doc_id)
      |           WHERE rn <= 10),
      |nc AS (SELECT leg, t_width, query_idx, CAST(count(*) AS BIGINT) AS n_candidates
      |       FROM cand GROUP BY 1, 2, 3),
      |h AS (SELECT p.leg, p.t_width, p.query_idx, CAST(count(*) AS BIGINT) AS n_hits
      |      FROM pruned p JOIN truth t
      |        ON t.query_idx = p.query_idx AND t.doc_id = p.doc_id
      |      GROUP BY 1, 2, 3)
      |SELECT nc.leg, nc.t_width, nc.query_idx, nc.n_candidates,
      |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
      |FROM nc LEFT JOIN h
      |  ON h.leg = nc.leg AND h.t_width = nc.t_width AND h.query_idx = nc.query_idx
      |ORDER BY nc.leg, nc.t_width, nc.query_idx""".stripMargin

  // ---- metadata-FILTERED maxsim serving through the chunk-level IVF ----
  // Governed tenant/date-slice retrieval must FILL top-k from the
  // sub-corpus: the allowed-id set restricts the INDEX rows before the
  // per-token rank and the adaptive probe pool (the exact serving shape
  // of Api.maxsimSearch(where = ...) on the chunkivf route), so every
  // candidate is a qualifying document — post-filtering an unfiltered
  // shortlist under-fills k instead (the q_ann_ivf_filtered lesson).
  // Planted predicate doc_id % 3 = 0 (~1/3 of the corpus); graded vs the
  // FILTERED exact maxsim truth at the same two widths as the
  // unfiltered routes. Same correlated fixture as q_search_maxsim_ann;
  // every candidate-leg quantity integer-derived, fully replayed.
  def searchMaxsimFiltered(s: SparkSession, dir: String): DataFrame = {
    // Concurrent fixture waves — the searchMaxsimCivf rationale (guide
    // §2.6): independent legs materialize as overlapping jobs.
    val (rawKeyed, rawToks) = graft.Checkpoints.join2(
      () => maxsimAnnChunkVecsKeyed(s, dir).localCheckpoint(),
      () => maxsimAnnQueryToks(s, dir).localCheckpoint())
    val raw = rawKeyed.select("doc_id", "vec")
    val w1 = graft.Checkpoints.parCheckpoint(Seq(
      normalized(raw), normalized(rawToks), maxsimDocVecs(raw)))
    val (chunkVecs, queryToks, docVecs) = (w1(0), w1(1), w1(2))
    // quantize-assign-filter chain ∥ the filtered exact truth
    val (centsAssignedIn, truth) = graft.Checkpoints.join2(
      () => {
        val cents = graft.ann.Ann.representativeCentroids(
          docVecs.withColumn("label", pmod(col("id"), lit(16L))), "label")
          .localCheckpoint()
        val chunkAssigned = graft.ann.Ann.assign(
          rawKeyed.select(col("ckey").as("id"),
              expr("transform(vec, v -> cast(v as float))").as("embedding"))
            .withColumn("norm",
              graft.functions.VectorFunctions.l2Norm(col("embedding"))),
          cents).localCheckpoint()
        // the serving route's pushdown: index rows restricted to allowed
        // docs BEFORE ranking (ChunkIndex.searchChunkIvf allowedDocs
        // semantics); checkpointed once and shared by both width legs
        val assignedIn = chunkAssigned.filter(
          pmod(substring_index(col("id"), "#", 1).cast("long"), lit(3L)) === 0)
          .localCheckpoint()
        graft.Checkpoints.free(chunkAssigned)
        (cents, assignedIn)
      },
      () => {
        val t = graft.search.MaxSim.topK(
            chunkVecs.filter(pmod(col("doc_id"), lit(3L)) === 0), queryToks, k = 10)
          .select("query_idx", "doc_id").localCheckpoint()
        t
      })
    val (cents, assignedIn) = centsAssignedIn
    val toks = rawToks.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).map(_.toFloat).toArray))
    // the two width shortlists, concurrently (each output-bounded,
    // three consumers — see the q_search_maxsim_civf leg)
    val candByT = graft.Checkpoints.parallel(Seq(5, 25).map(t => () =>
      graft.search.ChunkIndex.chunkIvfCandidates(
          s, assignedIn, cents, toks.toIndexedSeq, t)
        .select(col("query_idx"), col("doc_id").cast("long").as("doc_id"))
        .distinct().localCheckpoint()))
    def leg(t: Int, cand: DataFrame): DataFrame =
      maxsimShortlist(chunkVecs, queryToks, truth, cand).withColumn("t_width", lit(t.toLong))
    leg(5, candByT(0)).unionByName(leg(25, candByT(1)))
      .select("t_width", "query_idx", "n_candidates", "n_hits")
      .orderBy("t_width", "query_idx")
  }

  val searchMaxsimFilteredSql: String =
    s"""WITH $maxsimChunkCtes,
       |$maxsimDocTopicCtes,
      |${maxsimTokenCtes(" - 50")},
      |${maxsimCosineTruth(" WHERE doc_id % 3 = 0")},
      |dv AS (SELECT doc_id AS id, dim, CAST(sum(cent) AS DOUBLE) AS m
      |       FROM cv GROUP BY 1, 2),
      |$maxsimDocCentroidCtes,
      |cadot AS (SELECT cv.doc_id, cv.chunk, cvd.centroid_id,
      |                 sum(CAST(cv.cent AS DOUBLE) * cvd.m) AS dt
      |          FROM cv JOIN cvd USING (dim) GROUP BY 1, 2, 3),
      |cassign AS (SELECT doc_id, chunk, cluster_id FROM (
      |              SELECT a.doc_id, a.chunk, a.centroid_id AS cluster_id,
      |                     row_number() OVER (PARTITION BY a.doc_id, a.chunk
      |                       ORDER BY 1.0 - a.dt / (cnx.nrm * c2.nrm),
      |                                a.centroid_id) AS rn
      |              FROM cadot a
      |              JOIN cn cnx ON cnx.doc_id = a.doc_id AND cnx.chunk = a.chunk
      |              JOIN cn2 c2 ON c2.centroid_id = a.centroid_id)
      |            WHERE rn = 1),
      |ccsize AS (SELECT cluster_id, count(*) AS csize FROM cassign
      |           WHERE doc_id % 3 = 0 GROUP BY 1),
      |${maxsimProbeCtes("ccsize")},
      |csdot AS (SELECT qk.tok_key, min(qk.query_idx) AS query_idx,
      |                 cv.doc_id, cv.chunk,
      |                 sum(qk.qc * CAST(cv.cent AS DOUBLE)) AS dt
      |          FROM qk JOIN cv USING (dim)
      |          GROUP BY qk.tok_key, cv.doc_id, cv.chunk),
      |sbest AS (SELECT p.t_width, sd.tok_key, sd.query_idx, sd.doc_id,
      |                 max(sd.dt / (cnx.nrm * qn2.nrm)) AS s
      |          FROM csdot sd
      |          JOIN cassign a ON a.doc_id = sd.doc_id AND a.chunk = sd.chunk
      |                        AND a.doc_id % 3 = 0
      |          JOIN probes p ON p.tok_key = sd.tok_key
      |                       AND p.centroid_id = a.cluster_id
      |          JOIN cn cnx ON cnx.doc_id = sd.doc_id AND cnx.chunk = sd.chunk
      |          JOIN qn2 ON qn2.tok_key = sd.tok_key
      |          GROUP BY 1, 2, 3, 4),
      |sct AS (SELECT *, row_number() OVER (PARTITION BY t_width, tok_key
      |              ORDER BY s DESC, CAST(doc_id AS VARCHAR) ASC) AS rn
      |        FROM sbest),
      |cand AS (SELECT DISTINCT s.t_width, s.query_idx, s.doc_id
      |         FROM sct s WHERE s.rn <= s.t_width),
      |$maxsimWidthGradeSql""".stripMargin

  // ---- index-health drift probe (ann.IndexHealth): frozen-quantizer
  //      recall decay made measurable. Fixture: 8-dim integer vectors
  //      clustered around 16 label directions (the proven correlated
  //      recipe); the REF slice is the build-time corpus the centroids
  //      (representative min-id per label) were trained on, the CUR
  //      slice re-points every odd vec_id at a DIFFERENT direction set
  //      — the planted drift. The probe's stats (per-row residual
  //      nano-floored before the exact long aggregate, entropy from
  //      exact cluster counts) and the integer-arithmetic flag rule
  //      (100·cur > 125·ref residual, 100·cur < 75·ref entropy) replay
  //      bit-identically, so the oracle PREDICTS the rebuild flag from
  //      the planting arithmetic. ----
  def indexDrift(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), pmod(col("vec_id"), lit(16L)).as("label"))
    def cent(salt: String, key: org.apache.spark.sql.Column, d: Int) =
      conv(substring(sha2(concat(lit(salt), key.cast("string"),
        lit("_"), lit(d.toString)), 256), 1, 15), 16, 10).cast("long") % 100 - 50
    def dirArr(salt: String) = array((0 until 8).map(d =>
      cent(salt, col("label"), d) * 16): _*)
    val noiseArr = array((0 until 8).map(d => cent("n", col("vec_id"), d)): _*)
    def asVec(dirs: org.apache.spark.sql.Column) =
      zip_with(dirs, noiseArr, (a, b) => (a + b).cast("float"))
    val refRows = ids.select(col("vec_id").as("id"), col("label"),
        asVec(dirArr("lbl")).as("embedding"))
      .withColumn("norm", graft.functions.VectorFunctions.l2Norm(col("embedding")))
      .localCheckpoint()
    val curRows = ids.select(col("vec_id").as("id"),
        when(pmod(col("vec_id"), lit(2L)) === 0, asVec(dirArr("lbl")))
          .otherwise(asVec(dirArr("wlbl"))).as("embedding"))
      .withColumn("norm", graft.functions.VectorFunctions.l2Norm(col("embedding")))
      .localCheckpoint()
    val cents = graft.ann.Ann.representativeCentroids(refRows, "label")
      .localCheckpoint()
    val sRef = graft.ann.IndexHealth.stats(
        graft.ann.Ann.assign(refRows.drop("label"), cents), cents)
      .select(col("n").as("n_ref"), col("mean_res_nano").as("res_ref_nano"),
        col("entropy_nano").as("ent_ref_nano"))
    val sCur = graft.ann.IndexHealth.stats(
        graft.ann.Ann.assign(curRows, cents), cents)
      .select(col("n").as("n_cur"), col("mean_res_nano").as("res_cur_nano"),
        col("entropy_nano").as("ent_cur_nano"))
    sRef.crossJoin(sCur)
      // the production flag rule (IndexHealth.compare) verbatim, incl.
      // the degenerate-baseline guards: max(ref, 0) against on-centroid
      // rows flooring to -1 nano, and the absolute MinResidualNano floor
      .withColumn("residual_drift",
        (col("res_cur_nano") > lit(graft.ann.IndexHealth.MinResidualNano) &&
          lit(100L) * col("res_cur_nano") >
            lit(125L) * greatest(col("res_ref_nano"), lit(0L)))
          .cast("long"))
      .withColumn("entropy_collapse",
        (lit(100L) * col("ent_cur_nano") < lit(75L) * col("ent_ref_nano"))
          .cast("long"))
      .withColumn("rebuild_recommended",
        greatest(col("residual_drift"), col("entropy_collapse")))
  }

  val indexDriftSql: String =
    """WITH ids AS (SELECT vec_id, vec_id % 16 AS label FROM embeddings),
      |i AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS dim),
      |lv AS (SELECT l.label, i.dim,
      |         (('0x' || substr(sha256('lbl' || CAST(l.label AS VARCHAR) || '_' || CAST(i.dim AS VARCHAR)), 1, 15))::BIGINT % 100 - 50) * 16 AS c
      |       FROM (SELECT DISTINCT label FROM ids) l CROSS JOIN i),
      |wv AS (SELECT l.label, i.dim,
      |         (('0x' || substr(sha256('wlbl' || CAST(l.label AS VARCHAR) || '_' || CAST(i.dim AS VARCHAR)), 1, 15))::BIGINT % 100 - 50) * 16 AS c
      |       FROM (SELECT DISTINCT label FROM ids) l CROSS JOIN i),
      |nv AS (SELECT ids.vec_id, i.dim,
      |         ('0x' || substr(sha256('n' || CAST(ids.vec_id AS VARCHAR) || '_' || CAST(i.dim AS VARCHAR)), 1, 15))::BIGINT % 100 - 50 AS c
      |       FROM ids CROSS JOIN i),
      |refv AS (SELECT ids.vec_id, ids.label, nv.dim, lv.c + nv.c AS x
      |         FROM ids
      |         JOIN nv ON nv.vec_id = ids.vec_id
      |         JOIN lv ON lv.label = ids.label AND lv.dim = nv.dim),
      |curv AS (SELECT ids.vec_id, ids.label, nv.dim,
      |                CASE WHEN ids.vec_id % 2 = 0 THEN lv.c ELSE wv.c END + nv.c AS x
      |         FROM ids
      |         JOIN nv ON nv.vec_id = ids.vec_id
      |         JOIN lv ON lv.label = ids.label AND lv.dim = nv.dim
      |         JOIN wv ON wv.label = ids.label AND wv.dim = nv.dim),
      |crep AS (SELECT label, min(vec_id) AS mid FROM ids GROUP BY 1),
      |cvd AS (SELECT r.label AS centroid_id, r.dim, CAST(r.x AS DOUBLE) AS c
      |        FROM refv r JOIN crep ON crep.mid = r.vec_id),
      |cn AS (SELECT centroid_id, sqrt(sum(c * c)) AS nrm FROM cvd GROUP BY 1),
      |rn AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * x)) AS nrm FROM refv GROUP BY 1),
      |un AS (SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * x)) AS nrm FROM curv GROUP BY 1),
      |radot AS (SELECT r.vec_id, cvd.centroid_id, sum(CAST(r.x AS DOUBLE) * cvd.c) AS dt
      |          FROM refv r JOIN cvd USING (dim) GROUP BY 1, 2),
      |cadot AS (SELECT r.vec_id, cvd.centroid_id, sum(CAST(r.x AS DOUBLE) * cvd.c) AS dt
      |          FROM curv r JOIN cvd USING (dim) GROUP BY 1, 2),
      |rassign AS (SELECT vec_id, cluster_id, res_nano FROM (
      |              SELECT a.vec_id, a.centroid_id AS cluster_id,
      |                     CAST(floor((1.0 - a.dt / (rn.nrm * cn.nrm)) * 1e9) AS BIGINT) AS res_nano,
      |                     row_number() OVER (PARTITION BY a.vec_id
      |                       ORDER BY 1.0 - a.dt / (rn.nrm * cn.nrm), a.centroid_id) AS rk
      |              FROM radot a
      |              JOIN rn ON rn.vec_id = a.vec_id
      |              JOIN cn ON cn.centroid_id = a.centroid_id)
      |            WHERE rk = 1),
      |cassign AS (SELECT vec_id, cluster_id, res_nano FROM (
      |              SELECT a.vec_id, a.centroid_id AS cluster_id,
      |                     CAST(floor((1.0 - a.dt / (un.nrm * cn.nrm)) * 1e9) AS BIGINT) AS res_nano,
      |                     row_number() OVER (PARTITION BY a.vec_id
      |                       ORDER BY 1.0 - a.dt / (un.nrm * cn.nrm), a.centroid_id) AS rk
      |              FROM cadot a
      |              JOIN un ON un.vec_id = a.vec_id
      |              JOIN cn ON cn.centroid_id = a.centroid_id)
      |            WHERE rk = 1),
      |rpc AS (SELECT cluster_id, count(*) AS nc, CAST(sum(res_nano) AS BIGINT) AS sr
      |        FROM rassign GROUP BY 1),
      |cpc AS (SELECT cluster_id, count(*) AS nc, CAST(sum(res_nano) AS BIGINT) AS sr
      |        FROM cassign GROUP BY 1),
      |rtot AS (SELECT CAST(sum(nc) AS BIGINT) AS n, CAST(sum(sr) AS BIGINT) AS s FROM rpc),
      |ctot AS (SELECT CAST(sum(nc) AS BIGINT) AS n, CAST(sum(sr) AS BIGINT) AS s FROM cpc),
      |rstat AS (SELECT rtot.n AS n_ref, rtot.s // rtot.n AS res_ref_nano,
      |                 CAST(sum(CAST(floor(-(CAST(rpc.nc AS DOUBLE) / CAST(rtot.n AS DOUBLE)) *
      |                   ln(CAST(rpc.nc AS DOUBLE) / CAST(rtot.n AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS ent_ref_nano
      |          FROM rpc CROSS JOIN rtot GROUP BY 1, 2),
      |cstat AS (SELECT ctot.n AS n_cur, ctot.s // ctot.n AS res_cur_nano,
      |                 CAST(sum(CAST(floor(-(CAST(cpc.nc AS DOUBLE) / CAST(ctot.n AS DOUBLE)) *
      |                   ln(CAST(cpc.nc AS DOUBLE) / CAST(ctot.n AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS ent_cur_nano
      |          FROM cpc CROSS JOIN ctot GROUP BY 1, 2)
      |SELECT r.n_ref, CAST(r.res_ref_nano AS BIGINT) AS res_ref_nano, r.ent_ref_nano,
      |       c.n_cur, CAST(c.res_cur_nano AS BIGINT) AS res_cur_nano, c.ent_cur_nano,
      |       CAST(CASE WHEN c.res_cur_nano > 10000
      |                  AND 100 * c.res_cur_nano > 125 * greatest(r.res_ref_nano, 0)
      |                 THEN 1 ELSE 0 END AS BIGINT) AS residual_drift,
      |       CAST(CASE WHEN 100 * c.ent_cur_nano < 75 * r.ent_ref_nano THEN 1 ELSE 0 END AS BIGINT) AS entropy_collapse,
      |       CAST(CASE WHEN (c.res_cur_nano > 10000
      |                       AND 100 * c.res_cur_nano > 125 * greatest(r.res_ref_nano, 0))
      |                   OR 100 * c.ent_cur_nano < 75 * r.ent_ref_nano THEN 1 ELSE 0 END AS BIGINT) AS rebuild_recommended
      |FROM rstat r CROSS JOIN cstat c""".stripMargin

  val graded: Seq[Graded] = Seq(
    Graded("q_search_maxsim", searchMaxsim, searchMaxsimSql,
      "late-interaction maxsim: chunk-vector scan x broadcast query tokens, TWO combiner-collapsed keyed aggs (max per token-doc, sum per doc), bounded top-k window; serving path joins candidates on doc_id (bucket-pruned chunk fetch)"),
    Graded("q_search_maxsim_pruned", searchMaxsimPruned, searchMaxsimPrunedSql,
      "pruned maxsim serving graded vs exact truth: per-token top-T doc shortlist (the chunk-ANN route's rule), maxsim rescore on the shortlist only, hit-count join"),
    Graded("q_search_maxsim_ann", searchMaxsimAnn, searchMaxsimAnnSql,
      "ANN-pruned maxsim serving graded vs exact truth at two widths: per-token doc shortlists from the batched adaptive-probe doc-level IVF (probe-pruned, never chunk-table-linear), union per query, exact maxsim rescore on the shortlist join"),
    Graded("q_search_maxsim_civf", searchMaxsimCivf, searchMaxsimCivfSql,
      "chunk-level-IVF maxsim serving (PLAID shape) graded vs exact truth at two widths x TWO quantizer training spaces (pooled-doc vs chunk-sampled — multi-topic fixture where pooling averages the topics away): per-token DOC shortlists ranked by best probed CHUNK (grouped adaptive-probe route), exact rescore on the shortlist join"),
    Graded("q_search_maxsim_cpq", searchMaxsimCpq, searchMaxsimCpqSql,
      "residual-PQ maxsim candidates (PLAID compressed storage): the ADC leg ranks per-token DOC shortlists from (cluster, codes) rows alone — centroid dot + broadcast per-token subspace tables, NO float-vector read in the candidate scan — graded vs the raw chunk-IVF rule and exact truth at two widths"),
    Graded("q_search_maxsim_filtered", searchMaxsimFiltered, searchMaxsimFilteredSql,
      "metadata-FILTERED maxsim through the chunk-level IVF: allowed-id pushdown restricts the index rows BEFORE the per-token rank and probe pool (filtered top-k FILLS k from the sub-corpus), graded vs the FILTERED exact truth at two widths"),
    Graded("q_index_drift", indexDrift, indexDriftSql,
      "index-health drift probe: per-row nano-floored residuals to the frozen centroids + entropy from exact cluster counts, ref vs planted-drift slices, integer-arithmetic rebuild flag (one scan + cluster-keyed combine per slice)"),
    Graded("q_hybrid_maxsim", hybridMaxsim, hybridMaxsimSql,
      "maxsim as a hybrid RRF leg: late-interaction ranks fused with the TF lexical ranks via the reference RRF math (ranks only — both legs bounded top-k, fusion over <= 2*limit rows per query)"),
    Graded("q_snapshot_diff", snapshotDiff, snapshotDiffSql,
      "snapshot diff: full-outer join on 16-byte digests, keyed status rollup"),
    Graded("q_compaction_plan", compactionPlan, compactionPlanSql,
      "compaction plan: file-inventory agg -> bucketed prefix sum (window partitioned by coarse bucket)"),
    Graded("q_zorder_layout", zorderLayout, zorderLayoutSql,
      "z-order: per-row codegen'd bit fold + ONE keyed aggregate"),
    Graded("q_ann_graph_beam", annGraphBeam, annGraphBeamSql,
      "graph-beam ANN: medoid-routed entries + broadcast frontier probes + point vector fetches, corpus-size-independent per hop"),
    Graded("q_sanitize_extended", sanitizeExtended, sanitizeExtendedSql,
      "extended sanitize: single projection pass, Luhn fold inside codegen"),
    Graded("q_events_overlap", eventsOverlap, eventsOverlapSql,
      "interval-overlap join: bucket explode + keyed equi-join, NO inequality theta-join"),
    Graded("q_corpus_kl", corpusKl, corpusKlSql,
      "per-slice KL: keyed aggs + ONE token-keyed join, micro-nat integer sum"),
    Graded("q_lexical_boolean", lexicalBoolean, lexicalBooleanSql,
      "boolean retrieval: term-pruned postings, AND = keyed count, NOT = left-anti"),
    Graded("q_feature_binning", featureBinning, featureBinningSql,
      "equal-frequency binning: value-count prefix sum (partitioned window) + broadcast bin map"),
    Graded("q_search_facet_cap", searchFacetCap, searchFacetCapSql,
      "facet caps: per-facet rank window over the serve shortlist only"),
    Graded("q_skew_report", skewReport, skewReportSql,
      "skew diagnosis: key-count agg + heavy-hitter heap, report-sized output"),
    Graded("q_events_pattern", eventsPattern, eventsPatternSql,
      "sequence patterns: ONE keyed aggregate + per-row regex, no self-joins"),
    Graded("q_data_contract", dataContract, dataContractSql,
      "data contract: every Deequ-style check as a conditional count in ONE aggregate — single corpus pass"),
    Graded("q_pipeline_incremental", pipelineIncremental, pipelineIncrementalSql,
      "incremental curation: snapshot diff -> gate ADDED+CHANGED only — cost tracks the delta"),
    Graded("q_ann_graph_ivf", annGraphIvf, annGraphIvfSql,
      "two-layer serving: IVF reps route the query into the graph beam"),
    Graded("q_ann_graph_recall", annGraphRecall, annGraphRecallSql,
      "graph-beam recall report: beam leg vs checkpointed exact-truth leg, hit join on (query,id)"),
    Graded("q_ann_graph_filtered", annGraphFiltered, annGraphFilteredSql,
      "filtered graph ANN: unfiltered medoid beam, visited-set AND predicate rescore (oversample floor max(10k,100)), recall vs exact filtered truth"),
    Graded("q_ann_ivf_filtered", annIvfFiltered, annIvfFilteredSql,
      "filtered IVF ANN: predicate pushed under the cluster-pruned top-k (pushdown) vs oversampled post-filter — recall graded vs exact filtered truth"),
    Graded("q_privacy_kanon", privacyKanon, privacyKanonSql,
      "k-anonymity audit: ONE combiner-collapsed QI-class agg x broadcast k values, no second corpus pass"),
    Graded("q_search_expanded", searchExpanded, searchExpandedSql,
      "PRF expansion: two bounded BM25 serves around R-doc candidate mining + broadcast-probed df scan"),
    Graded("q_search_spell", searchSpell, searchSpellSql,
      "SymSpell: vocab-sized delete expansion join vs broadcast query variants, banded levenshtein verify"),
    Graded("q_mine_kcenter", mineKcenter, mineKcenterSql,
      "k-center: k narrow running-min distance maps + 1-row argmax each — no joins, no pair space"),
    Graded("q_pack_batches", packBatches, packBatchesSql,
      "length batching: histogram agg -> driver offsets -> keyed in-length window (no global sort)"),
    Graded("q_profile_hll_regs", profileHllRegs, profileHllRegsSql,
      "raw HLL registers: (group, register) max agg — 512 rows regardless of corpus"),
    Graded("q_profile_hll", profileHll, profileHllSql,
      "HLL: narrow hash map + (group, register) max agg — output 512 registers regardless of corpus"),
    Graded("q_profile_cms_cells", profileCmsCells, profileCmsCellsSql,
      "raw CMS cells: d-way explode, combiner-collapsed counts — auditable cell dump"),
    Graded("q_profile_cms", profileCms, profileCmsSql,
      "CMS: d-way explode + combiner-collapsed cell counts; probes broadcast"),
    Graded("q_dedup_source_sim", dedupSourceSim, dedupSourceSimSql,
      "bottom-k: distinct + WindowGroupLimit signatures; estimation reads groups x k rows only"),
    Graded("q_pipeline_sketch_incr", pipelineSketchIncr, pipelineSketchIncrSql,
      "incremental sketches: stored registers merged with the delta == full rebuild, graded by an independent oracle"),
    Graded("q_search_ltr", searchLtr, searchLtrSql,
      "LTR features: serve top-k + one-pass stats agg + shortlist-only assembly"),
    Graded("q_events_assoc", eventsAssoc, eventsAssocSql,
      "association rules: basket-keyed self-join (fan-out sum basket^2, capped), exact ppm"),
    Graded("q_eval_outliers", evalOutliers, evalOutliersSql,
      "MAD outliers: three keyed aggs, group-sized median/MAD frames broadcast back"),
    Graded("q_er_clusters", erClusters, erClustersSql,
      "ER: Ed-Join prefix candidates + banded verify -> star components"),
    Graded("q_rag_attribution", ragAttribution, ragAttributionSql,
      "attribution: (answer, gram)-keyed match join, argmax bounded by shortlist"),
    Graded("q_events_seasonal", eventsSeasonal, eventsSeasonalSql,
      "seasonal MASE: two lag windows over one series-keyed exchange + one agg"))
}
