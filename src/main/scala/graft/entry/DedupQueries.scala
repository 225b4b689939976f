package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.t
import graft.ann.{Ann, Pq, Sq}
import graft.dedup.{Dedup, EditJoin}
import Fixtures._

/** Oracle-checked queries for the dedup + similarity-search pipeline
  * operators. LSH-based operators (MinHash, SimHash blocking) verify every
  * candidate with the exact measure, so the oracle can be the exact
  * all-pairs computation — at sf scale the band parameters make recall
  * lossless (see Dedup scaladocs).
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id").as("id"), col("text").as("content"))

  /** Exact pairwise Jaccard in the INVERTED-INDEX shape (unnest -> shingle
    * self-join -> pair groupBy), identical results to the naive all-pairs
    * `list_intersect` formulation but ~250x faster in DuckDB at sf0.1
    * (1.8s vs 439s measured): pairs above any threshold > 0 share >= 1
    * shingle, so counting co-occurrences enumerates exactly the pairs the
    * all-pairs join would keep. Keeps the driver's oracle replay cheap.
    */
  private def jaccardInvertedSqlD(threshold: Double): String =
    s"""WITH $jaccardCoCtes
       |SELECT co.a, co.b,
       |  round(CAST(inter AS DOUBLE) / (sa.l + sb.l - inter), 6) AS jaccard
       |FROM co JOIN sizes sa ON co.a = sa.id JOIN sizes sb ON co.b = sb.id
       |WHERE CAST(inter AS DOUBLE) / (sa.l + sb.l - inter) >= $threshold
       |ORDER BY co.a, co.b""".stripMargin

  // ---- exact dedup ----
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(
      t(s, dir, "documents").select(col("doc_id").as("id"), col("source").as("content")))
      .orderBy("digest")

  val dedupExactSql: String =
    """SELECT sha256(source) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin

  // ---- MinHash LSH near-dups (threshold 0.6; planted pairs sit >= 0.8) ----
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashNearDups(docs(s, dir), threshold = 0.6)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("a", "b")

  val dedupMinhashSql: String = jaccardInvertedSqlD(0.6)

  // ---- MinHash SIGNATURES replayed bit-for-bit: q_dedup_minhash proves
  //      the verified pair set equals exact Jaccard, but the signature
  //      arithmetic itself (md5-derived 32-bit shingle hash, 32
  //      (a·h+b) mod p permutation minima) was previously only
  //      spec-covered. This oracle recomputes every (id, m0..m31) row in
  //      DuckDB from the same engine-versioned seed constants, so a
  //      silent change to the permutation family or hash canon breaks
  //      the gate. No overflow: a,b < p = 1e9+7 and h < 2^32, so
  //      a·h + b < 4.4e18 fits BIGINT on both engines. ----
  def dedupMinhashSig(s: SparkSession, dir: String): DataFrame = {
    val sets = Dedup.shingleSets(docs(s, dir))
    Dedup.minHashSignatures(
        sets.select(col("id"), explode(col("shs")).as("sh")))
      .orderBy("id")
  }

  val dedupMinhashSigSql: String = {
    val p = graft.functions.TextFunctions.MinHashP
    val cols = Dedup.MinHashSeeds.zipWithIndex
      .map { case ((a, b), i) => s"min(($a * h + $b) % $p) AS m$i" }
      .mkString(",\n|       ")
    s"""WITH $shingleCte,
       |f AS (SELECT id, unnest(sh) AS s FROM sh),
       |hx AS (SELECT id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM f)
       |SELECT id, CAST(count(*) AS BIGINT) AS n_sh,
       |       $cols
       |FROM hx GROUP BY id ORDER BY id""".stripMargin
  }

  // ---- exact n-gram Jaccard via inverted index (same oracle shape).
  //      The PPJoin-style prefix+size-filtered variant
  //      (Dedup.ngramJaccardPrefix) returns identical results (DedupSpec
  //      equality test) and is the skewed-corpus scale path; at this sf
  //      the plain form's single shingle join is cheaper than the
  //      prefix pass's extra df/rank shuffles, so the bench keeps it. ----
  def dedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(docs(s, dir), threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("a", "b")

  val dedupNgramSql: String = jaccardInvertedSqlD(0.5)

  // ---- asymmetric containment pairs: quote/subset detection — documents
  //      whose shingle set is >= 60% contained in another document's,
  //      both directions emitted. Catches the tweet-inside-article case
  //      symmetric Jaccard structurally misses. ----
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(docs(s, dir), threshold = 0.6)
      .withColumn("containment", round(col("containment"), 6))
      .orderBy("src", "dst")

  val dedupContainmentSql: String =
    s"""WITH $jaccardCoCtes,
       |sized AS (SELECT co.a, co.b, co.inter, sa.l AS la, sb.l AS lb
       |          FROM co JOIN sizes sa ON co.a = sa.id
       |          JOIN sizes sb ON co.b = sb.id),
       |dirs AS (SELECT a AS src, b AS dst, inter, la AS src_len FROM sized
       |         UNION ALL
       |         SELECT b AS src, a AS dst, inter, lb AS src_len FROM sized)
       |SELECT src, dst,
       |       round(CAST(inter AS DOUBLE) / CAST(src_len AS DOUBLE), 6) AS containment
       |FROM dirs
       |WHERE CAST(inter AS DOUBLE) / CAST(src_len AS DOUBLE) >= 0.6
       |ORDER BY src, dst""".stripMargin

  // ---- the one-sided prefix-filtered containment variant under the SAME
  //      oracle as q_dedup_containment: candidate pruning must not change
  //      a single directed pair. ----
  def dedupContainmentPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairsPrefix(docs(s, dir), threshold = 0.6)
      .withColumn("containment", round(col("containment"), 6))
      .orderBy("src", "dst")

  // ---- edit-distance similarity join over the distinct part-name
  //      vocabulary: typo-grade fuzzy value matching (Ed-Join q-gram
  //      prefix filtering; the character-level member of the dedup
  //      family — word-shingle ops are blind to single-character
  //      edits). Distinct values first: fuzzy VALUE matching is the
  //      realistic form, and id-grade duplicates would otherwise
  //      quadratically re-derive the same string pair. ----
  def dedupEditdist(s: SparkSession, dir: String): DataFrame = {
    val names = t(s, dir, "part")
      .select(col("p_name").as("str")).distinct()
      .select(col("str").as("id"), col("str"))
    EditJoin.editDistancePairs(names, k = 2)
      .orderBy("src", "dst")
  }

  val dedupEditdistSql: String =
    """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
      |SELECT a.name AS src, b.name AS dst,
      |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      |FROM n a, n b
      |WHERE a.name < b.name AND levenshtein(a.name, b.name) <= 2
      |ORDER BY src, dst""".stripMargin

  // ---- contrastive triplet mining: (anchor, positive, hard-negative)
  //      training rows for embedding models — positives = exact-Jaccard
  //      near-dup directions, hard negatives = the anchor's top-3
  //      NON-duplicate cosine neighbors from a k=10 exact kNN
  //      (knnJoinBlocked/IVF is the corpus-scale kNN swap-in; the mine
  //      itself only touches output-sized frames). ----
  def mineTriplets(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardAdaptive(docs(s, dir), threshold = 0.5).select("a", "b")
    val knn = Ann.knnJoin(Tables.vectors(s, dir), k = 10)
    graft.operators.Triplets.mine(pairs, knn, nNeg = 3)
      .withColumn("neg_cos", round(col("neg_cos"), 6))
      .orderBy("anchor", "positive", "negative")
  }

  val mineTripletsSql: String =
    s"""WITH $jaccardCoCtes,
       |jp AS (SELECT co.a, co.b
       |       FROM co JOIN sizes sa ON co.a = sa.id JOIN sizes sb ON co.b = sb.id
       |       WHERE CAST(inter AS DOUBLE) / (sa.l + sb.l - inter) >= 0.5),
       |anch AS (SELECT a AS anchor, b AS positive FROM jp
       |         UNION ALL SELECT b, a FROM jp),
       |e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |knn AS (SELECT qid, neighbor, sc FROM (
       |    SELECT x.id AS qid, y.id AS neighbor,
       |           list_cosine_similarity(x.v, y.v) AS sc,
       |           row_number() OVER (PARTITION BY x.id
       |             ORDER BY list_cosine_similarity(x.v, y.v) DESC, y.id) AS rn
       |    FROM e x JOIN e y ON x.id <> y.id)
       |  WHERE rn <= 10),
       |negs AS (SELECT qid, neighbor, sc,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY sc DESC, neighbor) AS nrn
       |         FROM knn k
       |         WHERE NOT EXISTS (SELECT 1 FROM anch
       |                           WHERE anch.anchor = k.qid
       |                             AND anch.positive = k.neighbor))
       |SELECT anch.anchor, anch.positive, negs.neighbor AS negative,
       |       round(negs.sc, 6) AS neg_cos
       |FROM anch JOIN negs ON anch.anchor = negs.qid
       |WHERE negs.nrn <= 3
       |ORDER BY anchor, positive, negative""".stripMargin

  // ---- mutual-kNN graph: the standard sparsifier turning a noisy kNN
  //      graph into semantic-cluster structure (one-sided edges into
  //      hubs are what chain unrelated clusters; mutuality is the
  //      cheapest robust filter) — edges, then connected components as
  //      the corpus's semantic clustering. ----
  private def mutualEdges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.mutualKnn(Ann.knnJoin(Tables.vectors(s, dir), k = 3))

  def knnMutual(s: SparkSession, dir: String): DataFrame =
    mutualEdges(s, dir)
      .withColumn("score", round(col("score"), 6))
      .orderBy("a", "b")

  private val knnMutualCte =
    """e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |knn AS (SELECT qid, neighbor, sc FROM (
      |    SELECT x.id AS qid, y.id AS neighbor,
      |           list_cosine_similarity(x.v, y.v) AS sc,
      |           row_number() OVER (PARTITION BY x.id
      |             ORDER BY list_cosine_similarity(x.v, y.v) DESC, y.id) AS rn
      |    FROM e x JOIN e y ON x.id <> y.id)
      |  WHERE rn <= 3),
      |m AS (SELECT x.qid AS a, x.neighbor AS b, x.sc
      |      FROM knn x JOIN knn y
      |        ON x.qid = y.neighbor AND x.neighbor = y.qid
      |      WHERE x.qid < x.neighbor)""".stripMargin

  val knnMutualSql: String =
    s"""WITH $knnMutualCte
       |SELECT a, b, round(sc, 6) AS score FROM m ORDER BY a, b""".stripMargin

  /** Label-propagation communities over the mutual-kNN graph (2
    * deterministic synchronous rounds, most-frequent-neighbor-label with
    * min-label ties) — the community structure WITHIN the connected
    * components q_knn_mutual_clusters reports. The oracle replays both
    * rounds as chained vote/argmax CTEs.
    */
  def graphLpa(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagation(
      mutualEdges(s, dir).select("a", "b"), rounds = 2)
      .groupBy("lbl").agg(count(lit(1)).as("n_members"),
        sum("id").as("member_checksum"))
      .select(col("lbl").as("community"), col("n_members"),
        col("member_checksum"))
      .orderBy("community")

  val graphLpaSql: String =
    s"""WITH $knnMutualCte,
       |edges AS (SELECT a AS u, b AS v FROM m UNION SELECT b AS u, a AS v FROM m),
       |l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM edges),
       |r1 AS (SELECT u AS id, lbl FROM (
       |         SELECT c.*, row_number() OVER (PARTITION BY u ORDER BY n DESC, lbl) AS rn
       |         FROM (SELECT e.u, l.lbl, count(*) AS n
       |               FROM edges e JOIN l0 l ON l.id = e.v GROUP BY 1, 2) c)
       |       WHERE rn = 1),
       |r2 AS (SELECT u AS id, lbl FROM (
       |         SELECT c.*, row_number() OVER (PARTITION BY u ORDER BY n DESC, lbl) AS rn
       |         FROM (SELECT e.u, l.lbl, count(*) AS n
       |               FROM edges e JOIN r1 l ON l.id = e.v GROUP BY 1, 2) c)
       |       WHERE rn = 1)
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(sum(id) AS BIGINT) AS member_checksum
       |FROM r2 GROUP BY 1 ORDER BY community""".stripMargin

  def knnMutualClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(mutualEdges(s, dir).select("a", "b"))
      .groupBy("comp").agg(count(lit(1)).as("n_members"),
        sum("id").as("member_checksum"))
      .select(col("comp").as("keep_id"), col("n_members"), col("member_checksum"))
      .orderBy("keep_id")

  val knnMutualClustersSql: String =
    s"""WITH RECURSIVE $knnMutualCte,
       |edges AS (SELECT a, b FROM m UNION SELECT b AS a, a AS b FROM m),
       |reach(src, t) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.t = e2.a),
       |comp AS (SELECT src AS id, least(src, min(t)) AS comp
       |         FROM reach GROUP BY src)
       |SELECT comp AS keep_id, count(*) AS n_members,
       |       CAST(sum(id) AS BIGINT) AS member_checksum
       |FROM comp GROUP BY 1 ORDER BY keep_id""".stripMargin

  // ---- cluster purity: the mutual-kNN clustering evaluated against the
  //      embeddings' planted labels — per-cluster majority label, member
  //      count, and integer micro purity (majority/members). The eval
  //      closing the clustering loop: q_knn_mutual_clusters builds the
  //      clusters, this grades them. ----
  def clusterPurity(s: SparkSession, dir: String): DataFrame = {
    val comps = Dedup.duplicateClusters(mutualEdges(s, dir).select("a", "b"))
    val labeled = comps.join(
      t(s, dir, "embeddings").select(col("vec_id").as("id"), col("label")), "id")
    val counts = labeled.groupBy("comp", "label").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("comp").orderBy(col("n").desc, col("label").asc)
    counts
      .withColumn("members", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("comp")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("comp").as("cluster"), col("members").as("n_members"),
        col("label").as("majority_label"), col("n").as("majority_n"),
        expr("n * 1000000L div members").as("purity_micro"))
      .orderBy("cluster")
  }

  val clusterPuritySql: String =
    s"""WITH RECURSIVE $knnMutualCte,
       |edges AS (SELECT a, b FROM m UNION SELECT b AS a, a AS b FROM m),
       |reach(src, t) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.t = e2.a),
       |comp AS (SELECT src AS id, least(src, min(t)) AS comp
       |         FROM reach GROUP BY src),
       |cnt AS (SELECT comp.comp, emb.label, count(*) AS n
       |        FROM comp JOIN embeddings emb ON comp.id = emb.vec_id
       |        GROUP BY 1, 2),
       |tot AS (SELECT comp, CAST(sum(n) AS BIGINT) AS members FROM cnt GROUP BY 1),
       |top AS (SELECT comp, label, n FROM (
       |    SELECT comp, label, n,
       |           row_number() OVER (PARTITION BY comp ORDER BY n DESC, label ASC) AS rn
       |    FROM cnt) WHERE rn = 1)
       |SELECT top.comp AS cluster, tot.members AS n_members,
       |       top.label AS majority_label, top.n AS majority_n,
       |       CAST(top.n * 1000000 // tot.members AS BIGINT) AS purity_micro
       |FROM top JOIN tot ON top.comp = tot.comp
       |ORDER BY cluster""".stripMargin

  // ---- threshold sweep: the tuning report for picking a near-dup cutoff —
  //      pair counts and affected-document counts at every candidate
  //      threshold from ONE candidate-generation pass (the expensive
  //      shingle join runs once; the 7-way threshold fan-out multiplies
  //      only the output-sized pair list). ----
  def dedupSweep(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val pairs = Dedup.ngramJaccardAdaptive(docs(s, dir), threshold = 0.3)
    val tDf = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold")
    val hit = pairs.crossJoin(broadcast(tDf))
      .filter(col("jaccard") >= col("threshold"))
    val np = hit.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nd = hit
      .select(col("threshold"), explode(array(col("a"), col("b"))).as("d"))
      .groupBy("threshold").agg(countDistinct(col("d")).as("n_docs"))
    np.join(nd, "threshold").orderBy("threshold")
  }

  val dedupSweepSql: String =
    s"""WITH $jaccardCoCtes,
       |pj AS (SELECT co.a, co.b,
       |         CAST(inter AS DOUBLE) / (sa.l + sb.l - inter) AS j
       |       FROM co JOIN sizes sa ON co.a = sa.id JOIN sizes sb ON co.b = sb.id
       |       WHERE CAST(inter AS DOUBLE) / (sa.l + sb.l - inter) >= 0.3),
       |th(t) AS (VALUES (CAST(0.3 AS DOUBLE)), (CAST(0.4 AS DOUBLE)),
       |  (CAST(0.5 AS DOUBLE)), (CAST(0.6 AS DOUBLE)), (CAST(0.7 AS DOUBLE)),
       |  (CAST(0.8 AS DOUBLE)), (CAST(0.9 AS DOUBLE))),
       |p2 AS (SELECT t, a, b FROM pj CROSS JOIN th WHERE j >= t),
       |np AS (SELECT t, count(*) AS n_pairs FROM p2 GROUP BY 1),
       |nd AS (SELECT t, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
       |       FROM (SELECT t, unnest([a, b]) AS d FROM p2) GROUP BY 1)
       |SELECT np.t AS threshold, n_pairs, n_docs
       |FROM np JOIN nd ON np.t = nd.t ORDER BY threshold""".stripMargin

  // ---- duplicate clusters: minhash pairs -> connected components; the
  //      keep-decision layer over pairwise near-dups. Oracle replays the
  //      pairs (inverted-index jaccard) then a recursive-CTE transitive
  //      closure with min-reachable-id as the component label. ----
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashNearDups(docs(s, dir), threshold = 0.6)
      .select("a", "b")
    Dedup.duplicateClusters(pairs)
      .groupBy(col("comp").as("keep_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("member_checksum"))
      .orderBy("keep_id")
  }

  // ---- the same duplicate-cluster report through the large-star/
  //      small-star component path (operators.Graph) — the O(log n)-round
  //      route past the union-find edge cap and the O(diameter) label
  //      propagation. Same oracle as q_dedup_clusters: hash equality
  //      proves the two component algorithms interchangeable. ----
  def dedupClustersLss(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashNearDups(docs(s, dir), threshold = 0.6)
      .select("a", "b")
    graft.operators.Graph.connectedComponentsLss(pairs)
      .groupBy(col("comp").as("keep_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("member_checksum"))
      .orderBy("keep_id")
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $jaccardCoCtes,
       |${jaccardPairsCte(0.6)},
       |$componentCtes
       |SELECT comp AS keep_id, count(*) AS n_members,
       |       CAST(sum(id) AS BIGINT) AS member_checksum
       |FROM comp GROUP BY 1 ORDER BY keep_id""".stripMargin

  // ---- duplication health report: cluster-size histogram — the corpus
  //      metric a dedup pass is judged by ("X% of docs sit in dup groups
  //      of size k"). Size-1 clusters = docs in no near-dup pair, counted
  //      from the corpus total so the report covers ALL documents. ----
  def dedupStats(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minHashNearDups(d, threshold = 0.6).select("a", "b")
    // comps feeds the sizes plan, the eager inPairs count, AND the final
    // union plan — checkpoint so the component pipeline runs once, not 3x
    // (semDeDup persists its assignment frame for the same reason)
    val comps = Dedup.duplicateClusters(pairs).localCheckpoint()
    val sizes = comps.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val inPairs = comps.select(count(lit(1))).head().getLong(0)
    val total = d.select(count(lit(1))).head().getLong(0)
    import s.implicits._
    val singletons = Seq((1L, total - inPairs)).toDF("cluster_size", "n_clusters")
    sizes.unionByName(singletons)
      .groupBy("cluster_size").agg(sum("n_clusters").as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")
  }

  val dedupStatsSql: String =
    s"""WITH RECURSIVE $jaccardCoCtes,
       |${jaccardPairsCte(0.6)},
       |$componentCtes,
       |cs AS (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp),
       |hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |         FROM cs GROUP BY cluster_size
       |         UNION ALL
       |         SELECT 1 AS cluster_size,
       |                (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp)),
       |agg AS (SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
       |        FROM hist GROUP BY cluster_size)
       |SELECT cluster_size, n_clusters,
       |       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
       |FROM agg ORDER BY cluster_size""".stripMargin

  // ---- SimHash near-dups (full fingerprint replay in the oracle) ----
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDups(docs(s, dir), maxHamming = 3, blocks = 6)
      .orderBy("a", "b")

  val dedupSimhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]{2,}')) AS tok
      |  FROM documents),
      |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM toks),
      |bits AS (
      |  SELECT doc_id, i,
      |         sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN (SELECT CAST(unnest(range(32)) AS INTEGER) AS i)
      |  GROUP BY doc_id, i),
      |fp AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS fp
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS a, b.doc_id AS b,
      |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp, b.fp)) <= 3
      |ORDER BY a, b""".stripMargin

  def dedupSimhash64(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash64NearDups(docs(s, dir), maxHamming = 3, blocks = 4)
      .orderBy("a", "b")

  val dedupSimhash64Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]{2,}')) AS tok
      |  FROM documents),
      |h AS (SELECT doc_id,
      |        ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hh,
      |        ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hl FROM toks),
      |bits AS (
      |  SELECT doc_id, i,
      |         sum(CASE WHEN (hh >> i) & 1 = 1 THEN 1 ELSE -1 END) AS sh,
      |         sum(CASE WHEN (hl >> i) & 1 = 1 THEN 1 ELSE -1 END) AS sl
      |  FROM h CROSS JOIN (SELECT CAST(unnest(range(32)) AS INTEGER) AS i)
      |  GROUP BY doc_id, i),
      |fp AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN sh > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS fp_hi,
      |         sum(CASE WHEN sl > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS fp_lo
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS a, b.doc_id AS b,
      |       CAST(bit_count(xor(a.fp_hi, b.fp_hi))
      |          + bit_count(xor(a.fp_lo, b.fp_lo)) AS INTEGER) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo)) <= 3
      |ORDER BY a, b""".stripMargin

  // ---- hard-negative mining (contrastive-training data op) ----
  //      anchors = every 50th vector; positives = the (anchor, anchor+1)
  //      pair; top-5 most-similar non-positive non-self negatives. Exact
  //      form (the oracle); the blocked IVF variant is the scale path,
  //      recall-spec'd in MiningSpec.
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val anchors = vecs.filter(col("id") % 50 === 0)
      .select(col("id").as("anchor_id"))
    val positives = anchors.select(col("anchor_id"),
      (col("anchor_id") + 1).as("pos_id"))
    graft.operators.Mining.hardNegatives(vecs, anchors, positives, k = 5)
      .withColumn("score", round(col("score"), 6))
      .orderBy("anchor_id", "rank")
  }

  val hardNegativesSql: String =
    """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |a AS (SELECT id AS anchor_id, v AS qv FROM e WHERE id % 50 = 0),
      |s AS (SELECT a.anchor_id, e.id, list_cosine_similarity(a.qv, e.v) AS score
      |      FROM a JOIN e ON e.id <> a.anchor_id AND e.id <> a.anchor_id + 1),
      |t AS (SELECT anchor_id, id, score,
      |             row_number() OVER (PARTITION BY anchor_id ORDER BY score DESC, id) AS rank
      |      FROM s)
      |SELECT anchor_id, id AS negative, CAST(rank AS INTEGER) AS rank,
      |       round(score, 6) AS score
      |FROM t WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin

  // ---- random negatives: same anchors/positives, hash-pool selection ----
  def randomNegatives(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val anchors = vecs.filter(col("id") % 50 === 0)
      .select(col("id").as("anchor_id"))
    val positives = anchors.select(col("anchor_id"),
      (col("anchor_id") + 1).as("pos_id"))
    graft.operators.Mining.randomNegatives(vecs, anchors, positives,
      k = 5, poolSize = 200, seed = 7)
      .orderBy("anchor_id", "rank")
  }

  val randomNegativesSql: String =
    """WITH e AS (SELECT vec_id AS id FROM embeddings),
      |pool AS (SELECT id FROM e
      |         ORDER BY ('0x' || substr(md5(id || ':' || 7), 1, 8))::BIGINT, id
      |         LIMIT 200),
      |a AS (SELECT id AS anchor_id FROM e WHERE id % 50 = 0),
      |c AS (SELECT a.anchor_id, p.id FROM a CROSS JOIN pool p
      |      WHERE p.id <> a.anchor_id AND p.id <> a.anchor_id + 1),
      |t AS (SELECT anchor_id, id,
      |        row_number() OVER (PARTITION BY anchor_id ORDER BY
      |          ('0x' || substr(md5(anchor_id || ':' || id || ':' || 7), 1, 8))::BIGINT, id) AS rank
      |      FROM c)
      |SELECT anchor_id, id AS negative, CAST(rank AS INTEGER) AS rank
      |FROM t WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin

  // ---- embedding cosine near-dups ----
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(Tables.vectors(s, dir), threshold = 0.4)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("a", "b")

  // ---- cross-set SEMANTIC decontamination: planted leaks flagged ----
  // eval = the id%10=0 slice PLUS planted leaks (train vectors with
  // id%25=0 re-keyed +100000, embeddings byte-identical — the "eval item
  // leaked into train" shape n-gram containment can't see once text is
  // re-embedded). Threshold 0.99 inside the label-blocked cells flags
  // EXACTLY the plants: the corpus's max unrelated same-cell cosine is
  // ~0.41, so every eval row is a positive OR negative assertion and the
  // oracle replays assignment, bipartite cosine, count, and argmax 1:1.
  def decontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val train = vecs.filter(col("id") % 10 =!= 0)
    val evalSet = vecs.filter(col("id") % 10 === 0)
      .unionByName(train.filter(col("id") % 25 === 0)
        .withColumn("id", col("id") + 100000))
    val cents = Ann.representativeCentroids(vecs, "label")
    Dedup.semanticContamination(train, evalSet, cents, threshold = 0.99)
      .withColumn("top_cosine", round(col("top_cosine"), 6))
      .orderBy("eval_id")
  }

  val decontaminateSemanticSql: String =
    s"""WITH e AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$repCentroidCte,
      |tr AS (SELECT id, v FROM e WHERE id % 10 <> 0),
      |ev AS (SELECT id, v FROM e WHERE id % 10 = 0
      |       UNION ALL
      |       SELECT id + 100000, v FROM e WHERE id % 10 <> 0 AND id % 25 = 0),
      |atr AS (SELECT id, v, centroid_id AS cl FROM (
      |    SELECT t.id, t.v, cent.centroid_id,
      |           row_number() OVER (PARTITION BY t.id
      |             ORDER BY 1.0 - list_cosine_similarity(t.v, cent.c), cent.centroid_id) AS rn
      |    FROM tr t CROSS JOIN cent) WHERE rn = 1),
      |aev AS (SELECT id, v, centroid_id AS cl FROM (
      |    SELECT t.id, t.v, cent.centroid_id,
      |           row_number() OVER (PARTITION BY t.id
      |             ORDER BY 1.0 - list_cosine_similarity(t.v, cent.c), cent.centroid_id) AS rn
      |    FROM ev t CROSS JOIN cent) WHERE rn = 1),
      |h AS (SELECT aev.id AS eval_id, atr.id AS train_id,
      |             list_cosine_similarity(aev.v, atr.v) AS c
      |      FROM aev JOIN atr ON aev.cl = atr.cl
      |      WHERE list_cosine_similarity(aev.v, atr.v) >= 0.99),
      |p AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_hits FROM h GROUP BY 1),
      |b AS (SELECT eval_id, train_id, c FROM (
      |        SELECT h.*, row_number() OVER (PARTITION BY eval_id
      |          ORDER BY c DESC, train_id) AS rn FROM h) WHERE rn = 1)
      |SELECT aev.id AS eval_id,
      |       CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
      |       CAST(coalesce(b.train_id, -1) AS BIGINT) AS top_train_id,
      |       round(coalesce(b.c, 0.0), 6) AS top_cosine,
      |       coalesce(p.n_hits, 0) > 0 AS contaminated
      |FROM aev LEFT JOIN p ON p.eval_id = aev.id
      |LEFT JOIN b ON b.eval_id = aev.id
      |ORDER BY eval_id""".stripMargin

  val dedupEmbeddingSql: String =
    """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.id AS a, b.id AS b,
      |       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      |FROM e a JOIN e b ON a.id < b.id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
      |ORDER BY a, b""".stripMargin

  // ---- SemDeDup: cluster-then-dedup-within (Abbas et al. 2023) — the
  //      oracle replays assignment (label-seeded deterministic centroids,
  //      same fragment as q_ann_ivf), within-cluster cosine pairs, and the
  //      recursive-CTE component closure with min-id survivors. ----
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val centroids = Ann.representativeCentroids(vecs, "label").cache()
    Dedup.semDeDup(vecs, centroids, threshold = 0.4)
      .orderBy("id")
  }

  val dedupSemanticSql: String =
    s"""WITH RECURSIVE
      |e AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${ivfAssignCtes(renameInner = true)},
      |p AS (SELECT x.id AS a, y.id AS b
      |      FROM assign x JOIN assign y
      |        ON x.cluster_id = y.cluster_id AND x.id < y.id
      |      WHERE list_cosine_similarity(x.v, y.v) >= 0.4),
      |edges AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
      |reach(src, t) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.t = e2.a),
      |comp AS (SELECT src AS id, least(src, min(t)) AS comp
      |         FROM reach GROUP BY src)
      |SELECT a2.id, a2.cluster_id, COALESCE(comp.comp, a2.id) AS comp,
      |       COALESCE(comp.comp, a2.id) = a2.id AS keep
      |FROM assign a2 LEFT JOIN comp ON a2.id = comp.id
      |ORDER BY a2.id""".stripMargin

  // ---- ANN: random-projection (JL) candidate generation + exact re-rank.
  //      The oracle replays the md5-derived sign matrix, the left-fold
  //      projections of corpus and queries, projected-cosine shortlists,
  //      and the exact-cosine re-rank. ----
  def annRp(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    graft.ann.Rp.searchRerank(vecs, qs, seed = 42L, targetDim = 16, dim = 64,
        k = 5, oversample = 4)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  val annRpSql: String =
    """WITH mat AS (
      |  SELECT j, list_transform(range(64), i ->
      |      CASE WHEN ('0x' || substr(md5('rp:42:' || j || ':' || i), 1, 8))::BIGINT % 2 = 0
      |           THEN 1.0 ELSE -1.0 END) AS srow
      |  FROM (SELECT unnest(range(16)) AS j)),
      |e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pr AS (SELECT e.id, m.j,
      |        list_reduce(list_prepend(0.0, list_transform(range(64),
      |          i -> e.v[i+1] * m.srow[i+1])), (a, b) -> a + b) AS y
      |      FROM e CROSS JOIN mat m),
      |pv AS (SELECT id, list(y ORDER BY j) AS p FROM pr GROUP BY id),
      |pn AS (SELECT id, p,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(p, x -> x * x)),
      |          (a, b) -> a + b)) AS pnorm
      |      FROM pv),
      |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2)),
      |qpr AS (SELECT q.qid, q.qv, m.j,
      |        list_reduce(list_prepend(0.0, list_transform(range(64),
      |          i -> q.qv[i+1] * m.srow[i+1])), (a, b) -> a + b) AS y
      |      FROM q CROSS JOIN mat m),
      |qpv AS (SELECT qid, any_value(qv) AS qv, list(y ORDER BY j) AS qp
      |      FROM qpr GROUP BY qid),
      |qpn AS (SELECT qid, qv, qp,
      |        sqrt(list_reduce(list_prepend(0.0, list_transform(qp, x -> x * x)),
      |          (a, b) -> a + b)) AS qnorm
      |      FROM qpv),
      |sc AS (SELECT qpn.qid AS query_idx, pn.id, qpn.qv,
      |        list_reduce(list_prepend(0.0, list_transform(range(16),
      |          i -> pn.p[i+1] * qpn.qp[i+1])), (a, b) -> a + b)
      |          / (pn.pnorm * qpn.qnorm) AS psc
      |      FROM pn CROSS JOIN qpn),
      |shortlist AS (SELECT query_idx, id, qv FROM (
      |    SELECT query_idx, id, qv,
      |           row_number() OVER (PARTITION BY query_idx ORDER BY psc DESC, id) AS rn
      |    FROM sc) WHERE rn <= 20),
      |rr AS (SELECT s.query_idx, s.id,
      |        list_cosine_similarity(e.v, s.qv) AS score
      |      FROM shortlist s JOIN e ON s.id = e.id)
      |SELECT query_idx, id, round(score, 6) AS score FROM (
      |  SELECT query_idx, id, score,
      |         row_number() OVER (PARTITION BY query_idx ORDER BY score DESC, id) AS rn
      |  FROM rr) WHERE rn <= 5
      |ORDER BY query_idx, round(score, 6) DESC, id""".stripMargin

  // ---- ANN: sign-bit binary codes + Hamming shortlist + exact re-rank
  //      (the 8-bytes-per-word linear-scan member of the quantized
  //      family; smooth recall decay vs SignLsh's bucket cliffs). ----
  def annHamming(s: SparkSession, dir: String): DataFrame = {
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    graft.ann.Hamming.searchRerank(Tables.vectors(s, dir), qs, dim = 64,
        k = 5, oversample = 4)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  val annHammingSql: String =
    """WITH u AS (SELECT vec_id, unnest(embedding) AS v,
      |                  generate_subscripts(embedding, 1) AS i FROM embeddings),
      |c AS (SELECT vec_id AS id,
      |        bit_or(CASE WHEN v > 0 AND i <= 32 THEN (1::BIGINT << (i-1)) ELSE 0::BIGINT END) AS lo,
      |        bit_or(CASE WHEN v > 0 AND i > 32 THEN (1::BIGINT << (i-33)) ELSE 0::BIGINT END) AS hi
      |      FROM u GROUP BY 1),
      |e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2)),
      |qc AS (SELECT CAST(id AS INTEGER) AS qid, lo AS qlo, hi AS qhi
      |       FROM c WHERE id IN (0,1,2)),
      |h AS (SELECT qc.qid AS query_idx, c.id,
      |        bit_count(xor(c.lo, qc.qlo)) + bit_count(xor(c.hi, qc.qhi)) AS ham
      |      FROM c CROSS JOIN qc),
      |shortlist AS (SELECT query_idx, id FROM (
      |    SELECT query_idx, id,
      |           row_number() OVER (PARTITION BY query_idx ORDER BY ham ASC, id ASC) AS rn
      |    FROM h) WHERE rn <= 20),
      |rr AS (SELECT s.query_idx, s.id, list_cosine_similarity(e.v, q.qv) AS score
      |       FROM shortlist s JOIN e ON s.id = e.id JOIN q ON q.qid = s.query_idx)
      |SELECT query_idx, id, round(score, 6) AS score FROM (
      |  SELECT query_idx, id, score,
      |         row_number() OVER (PARTITION BY query_idx ORDER BY score DESC, id) AS rn
      |  FROM rr) WHERE rn <= 5
      |ORDER BY query_idx, round(score, 6) DESC, id""".stripMargin

  // ---- ANN: exact brute-force top-k ----
  def annBrute(s: SparkSession, dir: String): DataFrame = {
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2, 3, 4))
    Ann.bruteTopK(Tables.vectors(s, dir), qs, 5)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  val annBruteSql: String =
    """WITH q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
      |s AS (SELECT q.qid AS query_idx, e.vec_id AS id,
      |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sc
      |      FROM q CROSS JOIN embeddings e),
      |t AS (SELECT query_idx, id, sc,
      |             row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn FROM s)
      |SELECT query_idx, id, round(sc, 6) AS score FROM t WHERE rn <= 5
      |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  // ---- ANN: IVF partition pruning (deterministic representative centroids) ----
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val centroids = Ann.representativeCentroids(vecs, "label").cache()
    // materialize the assignment once: ivfTopK's per-query branches would
    // otherwise each recompute the vector-x-centroid assignment (at scale
    // the assignment is the persisted IvfIndex, not an inline recompute)
    val assigned = Ann.assign(vecs, centroids).cache()
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    Ann.ivfTopK(assigned, centroids, qs, k = 5, nprobe = 3)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  val annIvfSql: String =
    s"""WITH e AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${ivfAssignCtes(renameInner = false)},
      |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2)),
      |probes AS (
      |  SELECT qid, centroid_id FROM (
      |    SELECT q.qid, cent.centroid_id,
      |           row_number() OVER (PARTITION BY q.qid
      |             ORDER BY 1.0 - list_cosine_similarity(q.qv, cent.c), cent.centroid_id) AS rn
      |    FROM q CROSS JOIN cent)
      |  WHERE rn <= 3),
      |scored AS (
      |  SELECT q.qid AS query_idx, a.id,
      |         list_cosine_similarity(a.v, q.qv) AS sc
      |  FROM q JOIN probes p ON p.qid = q.qid
      |  JOIN assign a ON a.cluster_id = p.centroid_id),
      |t AS (SELECT query_idx, id, sc,
      |             row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |      FROM scored)
      |SELECT query_idx, id, round(sc, 6) AS score FROM t WHERE rn <= 5
      |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  // ---- ANN: PQ codes + ADC shortlist + exact re-rank (IVF-PQ's PQ half).
  //      iters=0 keeps training oracle-expressible: codeword (j,c) is
  //      subspace j of the c-th-smallest-id vector (graft.ann.Pq.train
  //      seeding), so DuckDB replays codebooks, code assignment (argmin
  //      squared-L2, ties to lowest code), the ADC shortlist, and the
  //      exact cosine re-rank end to end. ----
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val cb = Pq.train(vecs.select("id", "embedding"), dim = 64, m = 4, k = 8, iters = 0)
    // cache: each query's ADC branch scans the codes, not the floats
    val codes = Pq.encode(vecs.select("id", "embedding"), 64, cb).cache()
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    Pq.searchAdcRerank(codes, vecs.select("id", "embedding", "norm"), cb, qs,
      k = 5, oversample = 4)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  /** PQ encoding in DuckDB: each sub-vector `sub(id, j, sv)`'s nearest
    * codeword of `cw(j, code, cw)` (ties to the smaller code).
    */
  private val pqCodesCte: String =
    """codes AS (SELECT id, j, code FROM (
      |    SELECT sub.id, sub.j, cw.code,
      |           row_number() OVER (PARTITION BY sub.id, sub.j ORDER BY
      |             list_sum(list_transform(range(1, 17),
      |               i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))), cw.code) AS rn
      |    FROM sub JOIN cw ON sub.j = cw.j)
      |  WHERE rn = 1)""".stripMargin

  /** The PQ answer from per-subspace distances `perj(qid, id, j, dj)`:
    * the 20 smallest ADC distances per query, rescored by exact cosine, top 5.
    */
  private val pqRescoreSql: String =
    """adist AS (SELECT qid, id, list_sum(list(dj ORDER BY j)) AS ad
      |          FROM perj GROUP BY qid, id),
      |short AS (SELECT qid, id FROM (
      |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY ad ASC, id) AS rn
      |    FROM adist)
      |  WHERE rn <= 20),
      |scored AS (SELECT q.qid AS query_idx, e.id,
      |                  list_cosine_similarity(e.v, q.qv) AS sc
      |           FROM short JOIN q ON q.qid = short.qid JOIN e ON e.id = short.id),
      |t AS (SELECT query_idx, id, sc,
      |             row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |      FROM scored)
      |SELECT query_idx, id, round(sc, 6) AS score FROM t WHERE rn <= 5
      |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  val annPqSql: String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |js AS (SELECT CAST(j AS INTEGER) AS j FROM generate_series(0, 3) t(j)),
      |seed AS (SELECT code, v FROM (
      |    SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS code, v FROM e)
      |  WHERE code < 8),
      |cw AS (SELECT js.j, seed.code, list_slice(seed.v, js.j*16 + 1, js.j*16 + 16) AS cw
      |       FROM js CROSS JOIN seed),
      |sub AS (SELECT e.id, js.j, list_slice(e.v, js.j*16 + 1, js.j*16 + 16) AS sv
      |        FROM e CROSS JOIN js),
      |$pqCodesCte,
      |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2)),
      |qsub AS (SELECT q.qid, js.j, list_slice(q.qv, js.j*16 + 1, js.j*16 + 16) AS qsv
      |         FROM q CROSS JOIN js),
      |perj AS (SELECT qsub.qid, codes.id, codes.j,
      |                list_sum(list_transform(range(1, 17),
      |                  i -> (qsv[i] - cw.cw[i]) * (qsv[i] - cw.cw[i]))) AS dj
      |         FROM codes JOIN cw ON cw.j = codes.j AND cw.code = codes.code
      |         JOIN qsub ON qsub.j = codes.j),
      |$pqRescoreSql""".stripMargin

  // ---- ANN: SQ8 scalar quantization — per-dimension min/max byte codes,
  //      linearized approximate-dot ADC shortlist (weight vector per
  //      query, constant term rank-invariant), exact cosine re-rank.
  //      Every stage (bounds, codes, weights, left-fold scores, re-rank)
  //      is replayed in DuckDB. ----
  def annSq(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val model = Sq.train(vecs.select("id", "embedding"))
    // cache: each query's ADC branch scans the codes, not the floats
    val codes = Sq.encode(vecs.select("id", "embedding"), model).cache()
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    Sq.searchAdcRerank(codes, vecs.select("id", "embedding", "norm"), model, qs,
      k = 5, oversample = 4)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  val annSqSql: String =
    """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |mm AS (SELECT i, min(v[i+1]) AS lo, max(v[i+1]) AS hi
      |       FROM e, UNNEST(range(64)) AS u(i) GROUP BY i),
      |arr AS (SELECT list(lo ORDER BY i) AS minv,
      |               list(hi - lo ORDER BY i) AS scalev FROM mm),
      |codes AS (SELECT id, list_transform(range(1, 65), d ->
      |    CASE WHEN arr.scalev[d] = 0 THEN 0
      |         ELSE CAST(least(greatest(floor((v[d] - arr.minv[d]) * 255.0
      |                / arr.scalev[d]), 0), 255) AS INTEGER) END) AS codes
      |  FROM e CROSS JOIN arr),
      |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2)),
      |w AS (SELECT q.qid, q.qv,
      |        list_transform(range(1, 65), d -> q.qv[d] * arr.scalev[d] / 255.0) AS w
      |      FROM q CROSS JOIN arr),
      |ad AS (SELECT w.qid, c.id,
      |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(range(1, 65),
      |             d -> CAST(c.codes[d] AS DOUBLE) * w.w[d])),
      |           (a, b) -> a + b) AS ad
      |       FROM codes c CROSS JOIN w),
      |short AS (SELECT qid, id FROM (
      |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY ad DESC, id) AS rn
      |    FROM ad)
      |  WHERE rn <= 20),
      |scored AS (SELECT q.qid AS query_idx, e.id,
      |                  list_cosine_similarity(e.v, q.qv) AS sc
      |           FROM short JOIN q ON q.qid = short.qid JOIN e ON e.id = short.id),
      |t AS (SELECT query_idx, id, sc,
      |             row_number() OVER (PARTITION BY query_idx ORDER BY sc DESC, id) AS rn
      |      FROM scored)
      |SELECT query_idx, id, round(sc, 6) AS score FROM t WHERE rn <= 5
      |ORDER BY query_idx, round(sc, 6) DESC, id""".stripMargin

  // ---- serving: MMR diversity re-rank over a brute-force top-20
  //      shortlist (λ=0.5, k=5). The oracle unrolls the greedy selection:
  //      step n picks the argmax of 0.5·rel − 0.5·max-cosine-to-selected
  //      among unselected candidates (ties to the lower id). λ=0.5 is
  //      exactly representable, so the combine is bit-identical in both
  //      engines. ----
  def searchMmr(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val qs = Tables.queryVectors(s, dir, Seq(0))
    val short = Ann.bruteTopK(vecs, qs, 20)
      .join(vecs.select(col("id"), col("embedding")), "id")
      .select("id", "score", "embedding")
    graft.search.Mmr.rerank(short, k = 5, lambda = 0.5)
      .withColumn("score", round(col("score"), 6))
      .withColumn("mmr", round(col("mmr"), 6))
      .orderBy("rank")
  }

  val searchMmrSql: String = {
    val steps = (2 to 5).map { n =>
      s"""s$n AS (SELECT $n AS rank, c.id, c.score, c.v,
         |        0.5*c.score - 0.5*(SELECT max(list_cosine_similarity(c.v, p.v))
         |                           FROM p${n - 1} p) AS mmr
         |       FROM short c WHERE c.id NOT IN (SELECT id FROM p${n - 1})
         |       ORDER BY mmr DESC, c.id LIMIT 1),
         |p$n AS (SELECT * FROM p${n - 1} UNION ALL SELECT * FROM s$n)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |short AS (SELECT id, list_cosine_similarity(e.v, q.qv) AS score, e.v AS v
       |          FROM e CROSS JOIN q ORDER BY score DESC, id LIMIT 20),
       |s1 AS (SELECT 1 AS rank, id, score, v, 0.5*score - 0.5*0.0 AS mmr
       |       FROM short ORDER BY mmr DESC, id LIMIT 1),
       |p1 AS (SELECT * FROM s1),
       |$steps
       |SELECT rank, id, round(score, 6) AS score, round(mmr, 6) AS mmr
       |FROM p5 ORDER BY rank""".stripMargin
  }

  // ---- ANN: residual IVF-PQ (IVFADC — Jegou et al.): codes quantize
  //      (vector - assigned centroid); each (query, cluster) pair gets its
  //      own ADC table from the query's residual against that cluster's
  //      centroid. iters=0 + representative centroids keep every stage
  //      DuckDB-replayable: assignment, float residuals (double-sub
  //      rounded to REAL == float subtraction), residual-seeded codebooks,
  //      argmin codes, per-cluster ADC shortlist, exact re-rank. ----
  def annPqResidual(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val centroids = Ann.representativeCentroids(vecs, "label").cache()
    val assigned = Ann.assign(vecs, centroids).cache()
    val residuals = Pq.residualOf(assigned,
      centroids.select(col("centroid_id").as("cluster_id"), col("centroid")))
    val cb = Pq.train(residuals.select("id", "embedding"), dim = 64, m = 4, k = 8, iters = 0)
    // cache: each query's ADC branch scans codes, not floats. cluster_id
    // normalizes to long (the label column is int here; the persisted
    // PqIndex layout is long)
    val codes = Pq.encode(residuals.select("id", "embedding"), 64, cb)
      .join(assigned.select(col("id"), col("cluster_id").cast("long").as("cluster_id")),
        "id").cache()
    val centroidMap = centroids.select("centroid_id", "centroid").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getSeq[Float](1)).toMap
    val qs = Tables.queryVectors(s, dir, Seq(0, 1, 2))
    Pq.searchAdcRerankClustered(codes, vecs.select("id", "embedding", "norm"),
      cb, centroidMap, qs, k = 5, oversample = 4)
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_idx"), col("score").desc, col("id"))
  }

  val annPqResidualSql: String =
    s"""WITH e AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |js AS (SELECT CAST(j AS INTEGER) AS j FROM generate_series(0, 3) t(j)),
      |cent AS (SELECT label AS cl, v AS c FROM (
      |    SELECT label, v, row_number() OVER (PARTITION BY label ORDER BY id) AS rn FROM e)
      |  WHERE rn = 1),
      |assign AS (SELECT id, cl FROM (
      |    SELECT e.id, cent.cl,
      |           row_number() OVER (PARTITION BY e.id
      |             ORDER BY 1.0 - list_cosine_similarity(e.v, cent.c), cent.cl) AS rn
      |    FROM e CROSS JOIN cent)
      |  WHERE rn = 1),
      |res AS (SELECT e.id, a.cl,
      |               list_transform(range(1, 65),
      |                 i -> CAST(CAST(e.v[i] - cent.c[i] AS REAL) AS DOUBLE)) AS rv
      |        FROM e JOIN assign a ON a.id = e.id JOIN cent ON cent.cl = a.cl),
      |seed AS (SELECT code, rv FROM (
      |    SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS code, rv FROM res)
      |  WHERE code < 8),
      |cw AS (SELECT js.j, seed.code, list_slice(seed.rv, js.j*16 + 1, js.j*16 + 16) AS cw
      |       FROM js CROSS JOIN seed),
      |sub AS (SELECT res.id, js.j, list_slice(res.rv, js.j*16 + 1, js.j*16 + 16) AS sv
      |        FROM res CROSS JOIN js),
      |$pqCodesCte,
      |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id IN (0,1,2)),
      |qres AS (SELECT q.qid, cent.cl,
      |                list_transform(range(1, 65),
      |                  i -> CAST(CAST(q.qv[i] - cent.c[i] AS REAL) AS DOUBLE)) AS qrv
      |         FROM q CROSS JOIN cent),
      |qsub AS (SELECT qres.qid, qres.cl, js.j,
      |                list_slice(qres.qrv, js.j*16 + 1, js.j*16 + 16) AS qsv
      |         FROM qres CROSS JOIN js),
      |perj AS (SELECT qsub.qid, codes.id, codes.j,
      |                list_sum(list_transform(range(1, 17),
      |                  i -> (qsv[i] - cw.cw[i]) * (qsv[i] - cw.cw[i]))) AS dj
      |         FROM codes
      |         JOIN assign ON assign.id = codes.id
      |         JOIN qsub ON qsub.j = codes.j AND qsub.cl = assign.cl
      |         JOIN cw ON cw.j = codes.j AND cw.code = codes.code),
      |$pqRescoreSql""".stripMargin

  // ---- kNN self-join: top-3 neighbors of the first 50 vectors ----
  def annKnnJoin(s: SparkSession, dir: String): DataFrame =
    Ann.knnJoin(Tables.vectors(s, dir).filter(col("id") < 50), 3)
      .withColumn("score", round(col("score"), 6))
      .orderBy("qid", "rank")

  val annKnnJoinSql: String =
    """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 50),
      |s AS (SELECT a.id AS qid, b.id AS nid,
      |             list_cosine_similarity(a.v, b.v) AS sc
      |      FROM e a JOIN e b ON a.id <> b.id),
      |t AS (SELECT qid, nid, sc,
      |             row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid) AS rn
      |      FROM s)
      |SELECT qid, nid AS neighbor, CAST(rn AS INTEGER) AS rank, round(sc, 6) AS score
      |FROM t WHERE rn <= 3 ORDER BY qid, rank""".stripMargin

  // ---- blocked kNN self-join: within-cluster pairs only (100 TB path) ----
  def annKnnBlocked(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.vectors(s, dir)
    val centroids = Ann.representativeCentroids(vecs, "label")
    Ann.knnJoinBlocked(vecs, 3, centroids)
      .withColumn("score", round(col("score"), 6))
      .orderBy("qid", "rank")
  }

  val annKnnBlockedSql: String =
    s"""WITH e AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${ivfAssignCtes(renameInner = true)},
      |s AS (SELECT a.id AS qid, b.id AS nid,
      |             list_cosine_similarity(a.v, b.v) AS sc
      |      FROM assign a JOIN assign b
      |        ON a.cluster_id = b.cluster_id AND a.id <> b.id),
      |t AS (SELECT qid, nid, sc,
      |             row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid) AS rn
      |      FROM s)
      |SELECT qid, nid AS neighbor, CAST(rn AS INTEGER) AS rank, round(sc, 6) AS score
      |FROM t WHERE rn <= 3 ORDER BY qid, rank""".stripMargin

  // ---- MinHash-LSH parameter planner: the analytic S-curve table behind
  //      choosing (bands, rows) for a 32-permutation signature — candidate
  //      probability 1-(1-s^r)^b on a Jaccard grid for every divisor
  //      split. The empirical companion is q_dedup_sweep (measured counts
  //      at candidate cutoffs); this prices the blocking BEFORE running
  //      it, which at 100 TB is the difference between a tuned first try
  //      and a wasted corpus pass. Powers are literal repeated
  //      multiplication in one shared left-assoc order — no libm pow, so
  //      both engines produce bit-identical doubles. ----
  def lshPlanner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grid = (1 to 19).map(i => i * 50000L).toDF("s_micro")
    val splits = Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))
    splits.map { case (b, r) =>
      val srExpr = (1 to r).map(_ => "(s_micro * 1e-6)").mkString(" * ")
      val pExpr = (1 to b).map(_ => "(1.0 - sr)").mkString(" * ")
      grid
        .selectExpr(s"CAST($b AS BIGINT) AS bands",
          s"CAST($r AS BIGINT) AS rows_per_band", "s_micro", s"$srExpr AS sr")
        .selectExpr("bands", "rows_per_band", "s_micro",
          s"CAST(floor((1.0 - ($pExpr)) * 1e6) AS BIGINT) AS p_candidate_micro")
    }.reduce(_ unionByName _).orderBy("bands", "s_micro")
  }

  val lshPlannerSql: String = {
    val splits = Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))
    val arms = splits.map { case (b, r) =>
      val srExpr = (1 to r).map(_ => "(s_micro * 1e-6)").mkString(" * ")
      val pExpr = (1 to b).map(_ => "(1.0 - sr)").mkString(" * ")
      s"""SELECT bands, rows_per_band, s_micro,
         |  CAST(floor((1.0 - ($pExpr)) * 1e6) AS BIGINT) AS p_candidate_micro
         |FROM (SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |             s_micro, $srExpr AS sr FROM grid)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH grid AS (SELECT CAST((i + 1) * 50000 AS BIGINT) AS s_micro
       |              FROM (SELECT unnest(range(19)) AS i))
       |$arms
       |ORDER BY bands, s_micro""".stripMargin
  }

  // ---- NN-descent kNN-graph construction (Dong 2011): ring init + 2
  //      neighbor-of-neighbor refinement rounds, k=3, over the first 200
  //      vectors. The oracle unrolls both rounds — candidate DISTINCT
  //      sets, cosine, per-src top-k — so the whole construction replays
  //      bit-for-bit. Per-node candidate work is (2k)^2-bounded: the
  //      100 TB kNN-graph path that routes around knnJoinBlocked's
  //      cluster-boundary blindness. ----
  def annNnDescent(s: SparkSession, dir: String): DataFrame =
    graft.ann.NnDescent.build(
        Tables.vectors(s, dir).filter(col("id") < 200), k = 3, rounds = 2)
      .withColumn("score", round(col("score"), 6))
      .orderBy("src", "rank")

  val annNnDescentSql: String = {
    // one refinement round over graph g$i -> scored s$j and top-k g$j
    def roundCtes(i: Int, j: Int): String =
      s"""u$j AS (SELECT src, dst FROM g$i UNION ALL SELECT dst, src FROM g$i),
         |c$j AS (SELECT DISTINCT src, dst FROM (
         |          SELECT a.src, b.dst FROM u$j a JOIN u$j b ON a.dst = b.src
         |          UNION ALL SELECT src, dst FROM u$j)
         |        WHERE src <> dst),
         |s$j AS (SELECT c.src, c.dst, list_cosine_similarity(ea.v, eb.v) AS sc
         |        FROM c$j c JOIN e ea ON ea.id = c.src JOIN e eb ON eb.id = c.dst),
         |g$j AS (SELECT src, dst FROM (
         |          SELECT src, dst,
         |                 row_number() OVER (PARTITION BY src ORDER BY sc DESC, dst) AS rn
         |          FROM s$j)
         |        WHERE rn <= 3)""".stripMargin
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings WHERE vec_id < 200),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |g0 AS (SELECT id AS src,
       |              (id + 1 + ('0x' || substr(md5(CAST(id AS VARCHAR) || '_' || CAST(d.d AS VARCHAR)), 1, 8))::BIGINT
       |                % (nn.n - 1)) % nn.n AS dst
       |       FROM e CROSS JOIN nn CROSS JOIN (SELECT unnest([1, 2, 3]) AS d) d),
       |${roundCtes(0, 1)},
       |${roundCtes(1, 2)}
       |SELECT src, dst, CAST(rn AS INTEGER) AS rank, round(sc, 6) AS score
       |FROM (SELECT src, dst, sc,
       |             row_number() OVER (PARTITION BY src ORDER BY sc DESC, dst) AS rn
       |      FROM s2)
       |WHERE rn <= 3 ORDER BY src, rank""".stripMargin
  }

  // ---- the PPJoin prefix+size-filtered variant under the SAME oracle as
  //      q_dedup_ngram: candidate pruning must not change a single pair ----
  def dedupNgramPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPrefix(docs(s, dir), threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("a", "b")

  // ---- script-aware near-dup detection on a mixed-script corpus: the
  //      §2-parity ASCII tokenizer provably MISSES the planted CJK pair
  //      (its shingle sets are empty there — ascii_found = 0), while the
  //      script-routed mode (char trigrams for no-space scripts, \p{L}
  //      word 3-grams elsewhere) finds both pairs. The corpus is an
  //      inline literal so engine and oracle see identical bytes. ----
  private val multiscriptCorpus: Seq[(Long, String)] = Seq(
    1L -> "Apache Spark is a distributed engine for large scale data processing.",
    2L -> "Apache Spark is a distributed engine for large scale data analytics.",
    3L -> "分布式数据处理引擎用于大规模数据分析与机器学习任务的高效执行",
    4L -> "分布式数据处理引擎用于大规模数据分析和机器学习任务的高效执行",
    5L -> "これはテストのための日本語の文章ですトークン化の確認用",
    6L -> "今天天气很好我们一起去公园散步吧",
    7L -> "Completely different English text about storage systems and columnar file formats.")

  def dedupMultiscript(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val corpus = multiscriptCorpus.toDF("id", "content")
    val multi = Dedup.multiscriptNearDups(corpus, threshold = 0.5)
    val ascii = Dedup.ngramJaccard(corpus, threshold = 0.5)
      .select(col("a"), col("b"), lit(1).as("ascii_found"))
    multi
      .join(ascii, Seq("a", "b"), "left")
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"),
        coalesce(col("ascii_found"), lit(0)).as("ascii_found"))
      .orderBy("a", "b")
  }

  val dedupMultiscriptSql: String = {
    val values = multiscriptCorpus
      .map { case (id, c) => s"(CAST($id AS BIGINT), '$c')" }
      .mkString(",\n|    ")
    // RE2 spells the engine's \uXXXX codepoint ranges as \x{...}; the
    // sets are identical by construction (explicit ranges, no script
    // property tables). regexp_replace needs the 'g' flag — DuckDB
    // replaces only the first match by default, Spark replaces all.
    val cjk = """\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}"""
    s"""WITH corpus(id, content) AS (VALUES
       |    $values),
       |feat AS (SELECT id,
       |    len(regexp_replace(lower(content), '[^$cjk]', '', 'g')) AS cjk,
       |    len(regexp_replace(lower(content), '\\s', '', 'g')) AS ns,
       |    regexp_replace(lower(content), '[^a-z0-9$cjk]', '', 'g') AS cs,
       |    regexp_extract_all(lower(content), '[\\p{L}0-9_]{2,}') AS w
       |  FROM corpus),
       |sh AS (SELECT id, list_distinct(
       |    CASE WHEN cjk * 10 >= ns * 3
       |      THEN list_transform(range(greatest(len(cs) - 2, 0)),
       |             i -> substr(cs, CAST(i + 1 AS INTEGER), 3))
       |      ELSE list_transform(range(greatest(len(w) - 2, 0)),
       |             i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
       |    END) AS shs FROM feat),
       |f AS (SELECT id, unnest(shs) AS s FROM sh),
       |sizes AS (SELECT id, len(shs) AS l FROM sh),
       |co AS (SELECT x.id AS a, y.id AS b, count(*) AS inter
       |       FROM f x JOIN f y ON x.s = y.s AND x.id < y.id GROUP BY 1, 2),
       |mj AS (SELECT co.a, co.b,
       |         CAST(inter AS DOUBLE) / (sa.l + sb.l - inter) AS j
       |       FROM co JOIN sizes sa ON co.a = sa.id
       |            JOIN sizes sb ON co.b = sb.id
       |       WHERE CAST(inter AS DOUBLE) / (sa.l + sb.l - inter) >= 0.5),
       |aw AS (SELECT id, list_distinct(
       |         list_transform(range(greatest(len(w2) - 2, 0)),
       |           i -> w2[i+1] || ' ' || w2[i+2] || ' ' || w2[i+3])) AS shs
       |       FROM (SELECT id,
       |               regexp_extract_all(lower(content), '[a-z0-9_]{2,}') AS w2
       |             FROM corpus)),
       |af AS (SELECT id, unnest(shs) AS s FROM aw),
       |asz AS (SELECT id, len(shs) AS l FROM aw),
       |aco AS (SELECT x.id AS a, y.id AS b, count(*) AS inter
       |        FROM af x JOIN af y ON x.s = y.s AND x.id < y.id GROUP BY 1, 2),
       |aj AS (SELECT aco.a, aco.b
       |       FROM aco JOIN asz sa ON aco.a = sa.id
       |            JOIN asz sb ON aco.b = sb.id
       |       WHERE CAST(inter AS DOUBLE) / (sa.l + sb.l - inter) >= 0.5)
       |SELECT mj.a, mj.b, round(mj.j, 6) AS jaccard,
       |       CAST(CASE WHEN aj.a IS NULL THEN 0 ELSE 1 END AS INTEGER)
       |         AS ascii_found
       |FROM mj LEFT JOIN aj ON mj.a = aj.a AND mj.b = aj.b
       |ORDER BY mj.a, mj.b""".stripMargin
  }

  // ---- duplicated-span removal (ExactSubstr keep-first, Lee et al. 2022)
  //      at 5-token span granularity: later occurrences of any repeated
  //      span are cut, the first survives; oracle replays the keep-first
  //      rule with a per-gram window ----
  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    graft.dedup.CorpusFilters.spanDedup(
      t(s, dir, "documents"), k = 5, idCol = "doc_id", contentCol = "text")
      .select(col("id").as("doc_id"), col("tok_len").cast("long").as("tok_len"),
        col("kept_tokens"), col("cleaned"))
      .orderBy("doc_id")

  val dedupSpansSql: String =
    s"""WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS toks
      |           FROM documents),
      |g AS (SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+5], ' ') AS g
      |      FROM d, UNNEST(range(greatest(len(toks)-4, 0))) AS u(i)),
      |r AS (SELECT doc_id, pos,
      |        row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      |      FROM g),
      |cov AS (SELECT DISTINCT doc_id, p
      |        FROM (SELECT doc_id, UNNEST(generate_series(pos, pos+4)) AS p
      |              FROM r WHERE rn > 1) e),
      |$spanStripSql""".stripMargin

  // ---- near-dup graph PageRank: template-spam centrality over the
  //      exact-Jaccard pair graph at threshold 0.3 (the sweep-proven
  //      cutoff). High-rank nodes near-duplicate many others without any
  //      single tight cluster — the down-rank signal for boilerplate
  //      farms. Integer micro-rank arithmetic (d = 0.85 as 85/100 BIGINT
  //      division) so the oracle replays all 5 iterations bit-for-bit
  //      as unrolled CTEs. ----
  def graphPagerank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRank(
      Dedup.ngramJaccardAdaptive(docs(s, dir), threshold = 0.3).select("a", "b"),
      iters = 5)
      .orderBy(desc("rank_micro"), col("id"))

  val graphPagerankSql: String = {
    val steps = (1 to 5).map { i =>
      s"""c$i AS (SELECT e.b AS id, CAST(sum(r${i - 1}.r // d.deg) AS BIGINT) AS s
         |       FROM edges e JOIN r${i - 1} ON e.a = r${i - 1}.id
         |       JOIN deg d ON d.id = e.a GROUP BY e.b),
         |r$i AS (SELECT n.id, CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
         |       FROM deg n LEFT JOIN c$i c ON n.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $jaccardCoCtes,
       |${jaccardPairsCte(0.3)},
       |edges AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
       |deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$steps
       |SELECT n.id, n.deg, r5.r AS rank_micro
       |FROM deg n JOIN r5 ON n.id = r5.id
       |ORDER BY rank_micro DESC, n.id""".stripMargin
  }

  // ---- personalized PageRank over the same near-dup graph: teleport
  //      mass concentrated on the id%10==0 seed slice — affinity TO the
  //      seeds rather than global centrality. Oracle unrolls all 5
  //      rounds with the seed-conditional restart vector. ----
  def graphPpr(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRankPersonalized(
      Dedup.ngramJaccardAdaptive(docs(s, dir), threshold = 0.3).select("a", "b"),
      isSeed = id => id % 10 === 0, iters = 5)
      .orderBy(desc("rank_micro"), col("id"))

  val graphPprSql: String = {
    val steps = (1 to 5).map { i =>
      s"""c$i AS (SELECT e.b AS id, CAST(sum(r${i - 1}.r // d.deg) AS BIGINT) AS s
         |       FROM edges e JOIN r${i - 1} ON e.a = r${i - 1}.id
         |       JOIN deg d ON d.id = e.a GROUP BY e.b),
         |r$i AS (SELECT n.id,
         |         CAST((CASE WHEN n.id % 10 = 0 THEN rst.rv ELSE 0 END)
         |              + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
         |       FROM deg n LEFT JOIN c$i c ON n.id = c.id CROSS JOIN rst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $jaccardCoCtes,
       |${jaccardPairsCte(0.3)},
       |edges AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
       |deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |               CAST(sum(CASE WHEN id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ns
       |        FROM deg),
       |rst AS (SELECT (150000 * n) // ns AS rv FROM cnt),
       |r0 AS (SELECT id, CASE WHEN id % 10 = 0 THEN rst.rv ELSE CAST(0 AS BIGINT) END AS r
       |       FROM deg CROSS JOIN rst),
       |$steps
       |SELECT n.id, n.deg, r5.r AS rank_micro
       |FROM deg n JOIN r5 ON n.id = r5.id
       |ORDER BY rank_micro DESC, n.id""".stripMargin
  }

  // ---- near-dup graph triangle census: per-node triangle counts +
  //      local clustering coefficient over the same exact-Jaccard pair
  //      graph as q_graph_pagerank — high clustering = tight template
  //      cluster, high degree + low clustering = hub page. The oracle
  //      replays the degree-ordered orientation, the wedge join, the
  //      closing-edge probe, and the integer cc arithmetic. ----
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangles(
      Dedup.ngramJaccardAdaptive(docs(s, dir), threshold = 0.3).select("a", "b"))
      .orderBy("id")

  val graphTrianglesSql: String =
    s"""WITH $jaccardCoCtes,
       |${jaccardPairsCte(0.3)},
       |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
       |      FROM p WHERE a <> b),
       |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
       |        FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
       |        GROUP BY 1),
       |o AS (SELECT CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.a < e.b)
       |               THEN e.a ELSE e.b END AS u,
       |             CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.a < e.b)
       |               THEN e.b ELSE e.a END AS v
       |      FROM e JOIN deg x ON e.a = x.id JOIN deg y ON e.b = y.id),
       |w AS (SELECT e1.u AS w, e1.v AS x, e2.v AS y
       |      FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v),
       |tr AS (SELECT w.w, w.x, w.y FROM w JOIN e ON w.x = e.a AND w.y = e.b),
       |pn AS (SELECT id, CAST(count(*) AS BIGINT) AS tri
       |       FROM (SELECT w AS id FROM tr UNION ALL SELECT x FROM tr
       |             UNION ALL SELECT y FROM tr)
       |       GROUP BY 1)
       |SELECT d.id, d.deg, CAST(COALESCE(pn.tri, 0) AS BIGINT) AS tri,
       |       CAST(CASE WHEN d.deg >= 2
       |         THEN (2000000 * COALESCE(pn.tri, 0)) // (d.deg * (d.deg - 1))
       |         ELSE 0 END AS BIGINT) AS cc_micro
       |FROM deg d LEFT JOIN pn USING (id)
       |ORDER BY d.id""".stripMargin

  // ---- quality-aware dedup survivor selection: instead of the min-id
  //      survivor, keep the highest-token-count member of each near-dup
  //      cluster (tie -> min id) — the NeMo-Curator-style "keep the
  //      richest copy" policy a curation pass actually wants. Composes
  //      minhash pairs -> components -> a per-cluster argmax (window
  //      PARTITIONED by component; bounded groups). ----
  def dedupSurvivor(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minHashNearDups(d, threshold = 0.6).select("a", "b")
    val comps = Dedup.duplicateClusters(pairs)
    val toks = d.select(col("id"),
      size(regexp_extract_all(lower(col("content")), lit("[a-z0-9_]{2,}"), lit(0)))
        .cast("long").as("tokens"))
    val m = comps.join(toks, "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("comp").orderBy(desc("tokens"), col("id"))
    val best = m.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("comp"), col("id").as("keep_id"), col("tokens").as("keep_tokens"))
    val sizesByComp = m.groupBy("comp")
      .agg(count(lit(1)).as("n_members"), sum("tokens").as("cluster_tokens"))
    best.join(sizesByComp, "comp")
      .select("comp", "keep_id", "keep_tokens", "n_members", "cluster_tokens")
      .orderBy("comp")
  }

  val dedupSurvivorSql: String =
    s"""WITH RECURSIVE $jaccardCoCtes,
       |${jaccardPairsCte(0.6)},
       |$componentCtes,
       |toks AS (SELECT doc_id AS id,
       |           CAST(len(regexp_extract_all(lower(text), '[a-z0-9_]{2,}')) AS BIGINT)
       |             AS tokens
       |         FROM documents),
       |m AS (SELECT comp.comp, comp.id, toks.tokens
       |      FROM comp JOIN toks ON comp.id = toks.id),
       |best AS (SELECT comp, id AS keep_id, tokens AS keep_tokens FROM (
       |           SELECT comp, id, tokens,
       |             row_number() OVER (PARTITION BY comp
       |               ORDER BY tokens DESC, id) AS rn
       |           FROM m) WHERE rn = 1),
       |cs AS (SELECT comp, count(*) AS n_members,
       |         CAST(sum(tokens) AS BIGINT) AS cluster_tokens
       |       FROM m GROUP BY comp)
       |SELECT best.comp, keep_id, keep_tokens, n_members, cluster_tokens
       |FROM best JOIN cs ON best.comp = cs.comp
       |ORDER BY best.comp""".stripMargin

  // ---- corpus-overlap sketch: pairwise similarity BETWEEN sub-corpora
  //      (source groups) from corpus-level MinHash signatures — the
  //      "how much does this crawl overlap that one" report, where the
  //      sketch estimate (matching permutation minima / 32) is the 100 TB
  //      path (one keyed agg per corpus, 33 longs per corpus to compare)
  //      and the exact distinct-shingle Jaccard rides along as the
  //      reference column the estimate is judged by. The oracle replays
  //      BOTH: the signature arithmetic bit-for-bit from the
  //      engine-versioned seeds (the q_dedup_minhash_sig precedent) and
  //      the exact inverted-index intersection. ----
  def corpusOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val shd = t(s, dir, "documents")
      .select(col("source"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("source"), explode(TextFunctions.shingles(col("toks"), 3)).as("sh"))
      .distinct().localCheckpoint()
    val sigs = Dedup.minHashSignatures(shd.select(col("source").as("id"), col("sh")))
    val sz = shd.groupBy(col("source")).agg(count(lit(1)).as("l"))
    val inter = shd.as("x").join(shd.as("y"),
        col("x.sh") === col("y.sh") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    val a = sigs.select(col("id").as("src_a") +:
      (0 until 32).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sigs.select(col("id").as("src_b") +:
      (0 until 32).map(i => col(s"m$i").as(s"b$i")): _*)
    val nMatch = (0 until 32)
      .map(i => (col(s"a$i") === col(s"b$i")).cast("long"))
      .reduce(_ + _)
    a.crossJoin(broadcast(b)).filter(col("src_a") < col("src_b"))
      .withColumn("n_match", nMatch)
      .select(col("src_a"), col("src_b"), col("n_match"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sz.select(col("source").as("src_a"), col("l").as("la")), "src_a")
      .join(sz.select(col("source").as("src_b"), col("l").as("lb")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_match"),
        expr("(n_match * 1000000L) div 32").as("est_jaccard_micro"),
        col("inter"), (col("la") + col("lb") - col("inter")).as("unions"),
        expr("(inter * 1000000L) div (la + lb - inter)").as("exact_jaccard_micro"))
      .orderBy("src_a", "src_b")
  }

  val corpusOverlapSql: String = {
    val p = graft.functions.TextFunctions.MinHashP
    val cols = Dedup.MinHashSeeds.zipWithIndex
      .map { case ((sa, sb), i) => s"min(($sa * h + $sb) % $p) AS m$i" }
      .mkString(",\n|         ")
    val matches = (0 until 32)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH d AS (SELECT source,
       |        regexp_extract_all(lower(text), '[a-z0-9_]{2,}') AS w
       |      FROM documents),
       |shd AS (SELECT DISTINCT source, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
       |        FROM d, UNNEST(range(len(w) - 2)) AS u(i)
       |        WHERE len(w) >= 3),
       |hx AS (SELECT source, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM shd),
       |sig AS (SELECT source,
       |         $cols
       |        FROM hx GROUP BY source),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS l FROM shd GROUP BY source),
       |ix AS (SELECT x.source AS src_a, y.source AS src_b, count(*) AS inter
       |       FROM shd x JOIN shd y ON x.s = y.s AND x.source < y.source
       |       GROUP BY 1, 2),
       |pm AS (SELECT a.source AS src_a, b.source AS src_b,
       |         CAST($matches AS BIGINT) AS n_match
       |       FROM sig a JOIN sig b ON a.source < b.source)
       |SELECT pm.src_a, pm.src_b, pm.n_match,
       |  (pm.n_match * 1000000) // 32 AS est_jaccard_micro,
       |  CAST(coalesce(ix.inter, 0) AS BIGINT) AS inter,
       |  sa.l + sb.l - coalesce(ix.inter, 0) AS unions,
       |  (CAST(coalesce(ix.inter, 0) AS BIGINT) * 1000000)
       |    // (sa.l + sb.l - coalesce(ix.inter, 0)) AS exact_jaccard_micro
       |FROM pm LEFT JOIN ix ON pm.src_a = ix.src_a AND pm.src_b = ix.src_b
       |JOIN sz sa ON pm.src_a = sa.source
       |JOIN sz sb ON pm.src_b = sb.source
       |ORDER BY pm.src_a, pm.src_b""".stripMargin
  }

  val graded: Seq[Graded] = Seq(
    Graded("q_corpus_overlap", corpusOverlap, corpusOverlapSql,
      "corpus overlap: corpus-keyed signature agg + broadcast pair compare"),
    Graded("q_graph_pagerank", graphPagerank, graphPagerankSql,
      "near-dup PageRank: output-sized edge list, per-round ONE keyed join + agg"),
    Graded("q_graph_ppr", graphPpr, graphPprSql,
      "personalized PageRank round: one keyed join + agg, seed-conditional restart projection"),
    Graded("q_graph_triangles", graphTriangles, graphTrianglesSql,
      "triangle census: degree-ordered orientation, wedge equi-join + closing-edge probe (O(m^1.5))"),
    Graded("q_dedup_survivor", dedupSurvivor, dedupSurvivorSql,
      "survivor selection: component-keyed argmax window over the cluster join"),
    Graded("q_dedup_spans", dedupSpans, dedupSpansSql,
      "ExactSubstr span removal (keep-first): 5-gram occurrence index, later spans cut, first survives"),
    Graded("q_ann_sq", annSq, annSqSql,
      "SQ8 scalar quantization: int8-code ADC scan (no embedding read) + exact re-rank of the shortlist"),
    Graded("q_search_mmr", searchMmr, searchMmrSql,
      "MMR re-rank: greedy over the k-sized shortlist (k^2 bounded) — corpus untouched"),
    Graded("q_dedup_ngram_prefix", dedupNgramPrefix, jaccardInvertedSqlD(0.5),
      "PPJoin: xxhash64-keyed prefix candidates + sorted-merge verify"),
    Graded("q_dedup_multiscript", dedupMultiscript, dedupMultiscriptSql,
      "script-aware near-dup: per-row CJK char-ngram / Latin word-gram routing (native CharNgrams), banded LSH bucket join"),
    Graded("q_ann_knn_join", annKnnJoin, annKnnJoinSql,
      "kNN self-join: cluster-blocked candidate pairs + per-src bounded window — no all-pairs product"),
    Graded("q_ann_knn_blocked", annKnnBlocked, annKnnBlockedSql,
      "blocked kNN: within-cluster keyed self-join"),
    Graded("q_ann_nndescent", annNnDescent, annNnDescentSql,
      "NN-descent round: bounded neighbor self-joins + vector-fetch joins + per-src window"),
    Graded("q_lsh_planner", lshPlanner, lshPlannerSql,
      "LSH planner: analytic (bands, rows) S-curve on a literal grid — metadata-sized, no corpus touch"),
    Graded("q_dedup_exact", dedupExact, dedupExactSql,
      "exact dedup: sha256-keyed agg, ONE exchange, min-id winners"),
    Graded("q_dedup_minhash", dedupMinhash, dedupMinhashSql,
      "MinHash LSH: keyed bucket joins, no all-pairs product"),
    Graded("q_dedup_minhash_sig", dedupMinhashSig, dedupMinhashSigSql,
      "MinHash signatures: native per-row expression — signature column out, zero shuffle"),
    Graded("q_dedup_clusters", dedupClusters, dedupClustersSql,
      "near-dup components: MinHash pair gen + star rounds, edge set output-sized"),
    Graded("q_dedup_clusters_lss", dedupClustersLss, dedupClustersSql,
      "LSS components: per-round keyed min-aggs + joins, edge set output-sized"),
    Graded("q_dedup_stats", dedupStats, dedupStatsSql,
      "dup-health histogram: cluster-size keyed counts, size-1 filled from the 1-row corpus total"),
    Graded("q_dedup_ngram", dedupNgram, dedupNgramSql,
      "n-gram Jaccard: inverted-index candidate join + sorted-merge verify; diagnosis frames released try/finally"),
    Graded("q_dedup_sweep", dedupSweep, dedupSweepSql,
      "threshold sweep: ONE persisted pair frame scored once, cutoffs applied as a broadcast grid"),
    Graded("q_dedup_containment", dedupContainment, dedupContainmentSql,
      "containment pairs: inverted-index candidate join, direction fan-out output-sized"),
    Graded("q_dedup_containment_prefix", dedupContainmentPrefix, dedupContainmentSql,
      "one-sided prefix containment: rarity-prefix probe join vs RAW (un-windowed) indexed shingles"),
    Graded("q_dedup_editdist", dedupEditdist, dedupEditdistSql,
      "Ed-Join: positional char-q-gram prefix candidates + levenshtein verify, light leg broadcast"),
    Graded("q_mine_triplets", mineTriplets, mineTripletsSql,
      "triplet mining: output-sized pair/kNN frames, anti-join + per-anchor bounded window"),
    Graded("q_knn_mutual", knnMutual, knnMutualSql,
      "mutual kNN: bounded kNN legs + reciprocity self-join on (src, dst)"),
    Graded("q_knn_mutual_clusters", knnMutualClusters, knnMutualClustersSql,
      "mutual-kNN clustering: reciprocity self-join -> components over output-sized edges"),
    Graded("q_graph_lpa", graphLpa, graphLpaSql,
      "LPA: per round one keyed join + vote agg + per-node argmax over <= degree rows"),
    Graded("q_cluster_purity", clusterPurity, clusterPuritySql,
      "cluster purity: (cluster,label) keyed counts -> per-cluster argmax window over label-sized groups"),
    Graded("q_dedup_simhash", dedupSimhash, dedupSimhashSql,
      "SimHash-32: per-row fingerprint expression + banded Hamming candidate join"),
    Graded("q_dedup_simhash64", dedupSimhash64, dedupSimhash64Sql,
      "SimHash-64: the same banded plan at 64-bit fingerprint precision"),
    Graded("q_dedup_embedding", dedupEmbedding, dedupEmbeddingSql,
      "embedding near-dup: cluster-keyed cosine pairs over threshold — never all-pairs"),
    Graded("q_decontaminate_semantic", decontaminateSemantic, decontaminateSemanticSql,
      "semantic decontamination: bipartite cluster-blocked eval x train cosine, per-eval bounded argmax — output eval-sized"),
    Graded("q_hard_negatives", hardNegatives, hardNegativesSql,
      "hard negatives: kNN shortlist anti-joined vs positives, per-anchor bounded window"),
    Graded("q_random_negatives", randomNegatives, randomNegativesSql,
      "random negatives: seeded-hash picks anti-joined vs positives"),
    Graded("q_dedup_semantic", dedupSemantic, dedupSemanticSql,
      "SemDeDup: cluster-keyed cosine pairs, never all-pairs"),
    Graded("q_ann_rp", annRp, annRpSql,
      "random-projection LSH: per-row bit-fold bucket key, bucket-keyed candidate join + exact re-rank"),
    Graded("q_ann_hamming", annHamming, annHammingSql,
      "Hamming shortlist: 64-bit sign-LSH xor+popcount prefilter, exact cosine re-rank of survivors only"),
    Graded("q_ann_brute", annBrute, annBruteSql,
      "brute-force cosine baseline: ONE narrow score projection + TakeOrderedAndProject heap, zero shuffle"),
    Graded("q_ann_ivf", annIvf, annIvfSql, "IVF probe: cluster-pruned scan + bounded top-k"),
    Graded("q_ann_pq", annPq, annPqSql, "PQ: ADC over codes (no embedding scan) + exact re-rank"),
    Graded("q_ann_pq_residual", annPqResidual, annPqResidualSql,
      "residual IVF-PQ: per-(query,cluster) ADC tables over codes"))
}
