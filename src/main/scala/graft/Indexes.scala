package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.{Ann, GraphIndex, IvfIndex, LshMeta, PqIndex, SignLshIndex}
import graft.catalog.Catalog
import graft.model.CollectionEntry
import graft.search.LexIndex

/** Derived-index maintenance shared by every write path (API upsert/delete
  * and streaming compaction).
  *
  * Reference parity: every backend maintains its indexes transactionally
  * with document writes (pg updates GIN/HNSW per INSERT, qdrant/mongo index
  * within upsert) — so any PERSISTED derived index here must reflect the
  * table after a write instead of silently serving stale rows. And like
  * those backends, maintenance is INCREMENTAL, not a full rebuild
  * (ADVICE r3): every index is partitioned on a key that is a
  * deterministic function of a row's content/embedding (term hash bucket,
  * IVF cluster, LSH table+key), so a write touching Δ documents can
  * compute exactly which partitions the old and new versions of those
  * rows live in, and rewrite only those — O(Δ × bucket) work per write,
  * independent of corpus size.
  *
  * Two-phase protocol around the documents-table rewrite:
  *   1. [[stage]] BEFORE the rewrite — snapshots the changed rows
  *      (old versions still readable + incoming batch) off the table's
  *      lineage via localCheckpoint and computes each index's affected
  *      partition values eagerly.
  *   2. [[applyPending]] AFTER the rewrite — for each index, rebuilds
  *      the affected partitions only (surviving rows ∖ changed ids
  *      ∪ fresh rows of the new batch) into a staging dir and swaps the
  *      partition dirs in; a partition left with no rows is deleted,
  *      so dynamic-overwrite's "empty partition survives" hazard cannot
  *      produce stale index rows.
  *
  * Semantics are identical to a full rebuild (same index ROWS — file
  * layout aside), which [[refreshDerived]] still provides for explicit
  * rebuilds and legacy indexes without staged state.
  */
object Indexes {

  /** Eagerly-staged description of what one write touches: the changed-id
    * snapshot (pre-rewrite, lineage-free) and each existing index's
    * affected partition values. Built by [[stage]]; consumed once by
    * [[applyPending]].
    */
  final case class Pending(
      ids: DataFrame, // distinct changed ids (old ∪ new), localCheckpoint'd
      lexBuckets: Option[Seq[Int]],
      ivfClusters: Option[Seq[Long]],
      pqClusters: Option[Seq[Long]],
      lsh: Option[(LshMeta, Seq[(Int, String)])],
      minhash: Option[(graft.dedup.MinHashMeta, Seq[Int])] = None,
      graph: Option[GraphIndex.GraphMeta] = None,
      chunk: Option[(graft.search.ChunkIndex.ChunkMeta, Seq[Int])] = None,
      chunkIvf: Option[Seq[Long]] = None,
      chunkPq: Option[Seq[Long]] = None)

  private def exists(p: String) = Files.exists(Paths.get(p))

  private val DeltaCols = Seq("id", "content", "embedding", "norm")

  /** Phase 1 (call BEFORE the documents-table rewrite): snapshot the
    * write's delta and compute affected index partitions.
    *
    * `oldRows`: pre-write versions of the ids this write replaces or
    * deletes (empty for pure inserts). `newRows`: the incoming batch
    * (empty for deletes). Both need (id, content, embedding, norm).
    * Returns None when the collection has no persisted derived index —
    * then there is nothing to maintain and no snapshot cost is paid.
    */
  def stage(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      dim: Int,
      oldRows: DataFrame,
      newRows: DataFrame): Option[Pending] = {
    val hasLex = exists(LexIndex.indexPath(catalog, entry))
    val hasIvf = exists(IvfIndex.centroidsPath(catalog, entry)) &&
      exists(IvfIndex.indexPath(catalog, entry))
    val hasPq = exists(PqIndex.indexPath(catalog, entry)) &&
      exists(PqIndex.codebooksPath(catalog, entry))
    val lshMeta =
      if (exists(SignLshIndex.indexPath(catalog, entry)))
        SignLshIndex.metaOrDerive(spark, catalog, entry, dim)
      else None
    val mhMeta =
      if (exists(graft.dedup.MinHashIndex.indexPath(catalog, entry)))
        graft.dedup.MinHashIndex.loadMeta(spark, catalog, entry)
      else None
    val graphMeta =
      if (exists(GraphIndex.indexPath(catalog, entry)))
        GraphIndex.loadMeta(spark, catalog, entry)
      else None
    val chunkMeta =
      if (exists(graft.search.ChunkIndex.indexPath(catalog, entry))) {
        val m = graft.search.ChunkIndex.loadMeta(spark, catalog, entry)
        // a chunk index without its meta sidecar cannot be maintained at
        // the indexed chunking — skipping silently would leave maxsim
        // serving stale rows after this write, so fail the write loudly
        // (buildChunkIndex repairs; build writes meta before index data,
        // so only pre-fix crash debris can reach this state)
        require(m.isDefined,
          "chunk index exists without its meta sidecar — rebuild via buildChunkIndex before writing")
        m
      } else None
    if (!hasLex && !hasIvf && !hasPq && lshMeta.isEmpty && mhMeta.isEmpty &&
      graphMeta.isEmpty && chunkMeta.isEmpty) return None

    // localCheckpoint severs lineage from the table path: the snapshots
    // stay valid (and Δ-sized) after the rewrite swaps the table dirs.
    val oldSnap = oldRows.select(DeltaCols.map(col): _*).localCheckpoint()
    val newSnap = newRows.select(DeltaCols.map(col): _*).localCheckpoint()
    val both = oldSnap.unionByName(newSnap)
    val ids = both.select("id").distinct().localCheckpoint()

    val lexBuckets =
      if (!hasLex) None
      else Some(LexIndex.indexRows(both)
        .select("bucket").distinct().collect().map(_.getInt(0)).toSeq)
    // IVF and PQ partition on the same quantizer (the persisted centroid
    // table), so the cluster set is computed once and shared; a PQ index
    // without centroids lives in the single cluster-0 partition.
    val clusterSet =
      if (!hasIvf && !(hasPq && exists(IvfIndex.centroidsPath(catalog, entry)))) None
      else {
        val cents = IvfIndex.loadCentroids(spark, catalog, entry)
        // per-version assignment: Ann.assign picks one row per id (argmin
        // aggregate on id), so a changed embedding's old and new clusters
        // must be derived from separate passes over the two snapshots
        def clustersOf(rows: DataFrame): Seq[Long] =
          Ann.assign(rows, cents).select("cluster_id").distinct()
            .collect().map(_.getLong(0)).toSeq
        Some((clustersOf(oldSnap) ++ clustersOf(newSnap)).distinct)
      }
    val ivfClusters = if (hasIvf) clusterSet else None
    val pqClusters =
      if (!hasPq) None
      else clusterSet.orElse(Some(Seq(0L)))
    val lsh = lshMeta.map { m =>
      val parts = SignLshIndex.band(both, m)
        .select("table", "key").distinct().collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
      (m, parts)
    }
    val minhash = mhMeta.map { m =>
      val parts = graft.dedup.MinHashIndex.indexRows(both, m)
        .select("pbucket").distinct().collect().map(_.getInt(0)).toSeq
      (m, parts)
    }
    // chunk rows share the documents table's id-bucket layout, so the
    // affected partition set is exactly the changed ids' buckets — no
    // chunking or embedding happens at stage time
    val chunk = chunkMeta.map { m =>
      (m, ids.select(graft.ingest.Ingest.idBucket(col("id")).as("bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq)
    }
    // chunk-level IVF: the affected clusters of the OLD versions are the
    // changed ids' stored chunk rows re-assigned under the index's
    // CURRENT quantizer (own chunk-trained sidecar when present, doc
    // centroids otherwise; bucket-pruned chunk-index read — never a full
    // scan); the new batch's clusters are computed in applyPending where
    // the fresh chunk rows are embedded once for both chunk indexes
    val hasChunkIvf = graft.search.ChunkIvfIndex.exists(catalog, entry)
    val hasChunkPq = graft.search.ChunkPqIndex.usable(catalog, entry)
    // the chunk-level IVF and the residual-PQ codes partition on the SAME
    // quantizer (ChunkIvfIndex.quantizer resolves one table for both), so
    // the affected-cluster set is computed once and shared: the changed
    // ids' stored chunk rows re-assigned under the current centroids
    // (bucket-pruned chunk-index read — never a full scan)
    val chunkClusterSet =
      if (!hasChunkIvf && !hasChunkPq) None
      else {
        require(chunk.isDefined,
          "chunk-level IVF / chunk-PQ codes exist without the chunk index — rebuild before writing")
        chunk.map { case (_, buckets) =>
          if (buckets.isEmpty) Seq.empty[Long]
          else graft.search.ChunkIvfIndex.indexRows(
              graft.search.ChunkIndex.load(spark, catalog, entry)
                .filter(col("bucket").isin(buckets: _*))
                .join(ids, Seq("id"), "left_semi"),
              graft.search.ChunkIvfIndex.quantizer(spark, catalog, entry))
            .select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq
        }
      }
    val chunkIvf = if (hasChunkIvf) chunkClusterSet else None
    val chunkPq = if (hasChunkPq) chunkClusterSet else None
    Some(Pending(ids, lexBuckets, ivfClusters, pqClusters, lsh, minhash,
      graphMeta, chunk, chunkIvf, chunkPq))
  }

  /** Phase 2 (call AFTER the documents-table rewrite): rewrite each
    * index's affected partitions. `newRows` is the same incoming batch
    * passed to [[stage]] (still cached by the caller). `embedder` is the
    * collection's embedder — the chunk-vector index embeds the fresh
    * batch's chunks here (the late-interaction write-time cost; every
    * other index derives its rows without a model call).
    */
  def applyPending(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      pending: Option[Pending],
      newRows: DataFrame,
      embedder: graft.ingest.Embedder): Unit = catalog.monitor { pending.foreach { p =>
    val fresh = newRows.select(DeltaCols.map(col): _*)
    p.lexBuckets.foreach { buckets =>
      val idx = LexIndex.load(spark, catalog, entry)
        .filter(col("bucket").isin(buckets: _*))
        .join(broadcast(p.ids), Seq("id"), "left_anti")
        .unionByName(LexIndex.indexRows(fresh))
      replacePartitions(idx, LexIndex.indexPath(catalog, entry),
        Seq("bucket"), sortCol = Some("term"),
        affectedDirs = buckets.map(b => s"bucket=$b"))
    }
    p.ivfClusters.foreach { clusters =>
      val cents = IvfIndex.loadCentroids(spark, catalog, entry)
      val idx = IvfIndex.loadIndex(spark, catalog, entry)
        .filter(col("cluster_id").isin(clusters: _*))
        .join(broadcast(p.ids), Seq("id"), "left_anti")
        .unionByName(Ann.assign(fresh, cents))
      replacePartitions(idx, IvfIndex.indexPath(catalog, entry),
        Seq("cluster_id"), sortCol = None,
        affectedDirs = clusters.map(c => s"cluster_id=$c"))
    }
    p.pqClusters.foreach { clusters =>
      PqIndex.loadCodebooks(spark, catalog, entry).foreach { cb =>
        val idx = PqIndex.load(spark, catalog, entry)
          .filter(col("cluster_id").isin(clusters: _*))
          .join(broadcast(p.ids), Seq("id"), "left_anti")
          .unionByName(PqIndex.encodeRows(spark, catalog, entry, fresh, cb))
        replacePartitions(idx, PqIndex.indexPath(catalog, entry),
          Seq("cluster_id"), sortCol = None,
          affectedDirs = clusters.map(c => s"cluster_id=$c"))
      }
    }
    p.lsh.foreach { case (m, parts) =>
      if (parts.nonEmpty) {
        val pred = parts.map { case (t, k) =>
          col("table") === t && col("key") === k
        }.reduce(_ || _)
        val idx = SignLshIndex.load(spark, catalog, entry)
          .filter(pred)
          .join(broadcast(p.ids), Seq("id"), "left_anti")
          .unionByName(SignLshIndex.band(fresh, m))
        replacePartitions(idx, SignLshIndex.indexPath(catalog, entry),
          Seq("table", "key"), sortCol = None,
          affectedDirs = parts.map { case (t, k) => s"table=$t/key=$k" })
      }
    }
    p.minhash.foreach { case (m, parts) =>
      if (parts.nonEmpty) {
        val idx = graft.dedup.MinHashIndex.load(spark, catalog, entry)
          .filter(col("pbucket").isin(parts: _*))
          .join(broadcast(p.ids), Seq("id"), "left_anti")
          .unionByName(graft.dedup.MinHashIndex.indexRows(fresh, m))
        replacePartitions(idx, graft.dedup.MinHashIndex.indexPath(catalog, entry),
          Seq("pbucket"), sortCol = Some("key"),
          affectedDirs = parts.map(b => s"pbucket=$b"))
      }
    }
    // the fresh batch's chunk rows are embedded ONCE (the write-time
    // model cost) and shared by the chunk index and the chunk-level IVF
    val freshChunks = p.chunk
      .filter { case (_, buckets) =>
        buckets.nonEmpty || p.chunkIvf.isDefined || p.chunkPq.isDefined }
      .map { case (m, _) =>
        graft.search.ChunkIndex.indexRows(
          fresh.select("id", "content"), embedder, m.maxTokens).cache()
      }
    try {
      p.chunk.foreach { case (_, buckets) =>
        if (buckets.nonEmpty) {
          val idx = graft.search.ChunkIndex.load(spark, catalog, entry)
            .filter(col("bucket").isin(buckets: _*))
            .join(broadcast(p.ids), Seq("id"), "left_anti")
            .unionByName(freshChunks.get)
          replacePartitions(idx, graft.search.ChunkIndex.indexPath(catalog, entry),
            Seq("bucket"), sortCol = Some("id"),
            affectedDirs = buckets.map(b => s"bucket=$b"))
        }
      }
      p.chunkIvf.foreach { oldClusters =>
        val cents = graft.search.ChunkIvfIndex.quantizer(spark, catalog, entry)
        val freshRows = graft.search.ChunkIvfIndex
          .indexRows(freshChunks.get, cents).cache()
        try {
          val newClusters = freshRows.select("cluster_id").distinct()
            .collect().map(_.getLong(0)).toSeq
          val affected = (oldClusters ++ newClusters).distinct
          if (affected.nonEmpty) {
            val idx = graft.search.ChunkIvfIndex.load(spark, catalog, entry)
              .filter(col("cluster_id").isin(affected: _*))
              .withColumn("__doc", graft.search.ChunkIvfIndex.docIdOf(col("id")))
              .join(broadcast(p.ids.withColumnRenamed("id", "__doc")),
                Seq("__doc"), "left_anti")
              .drop("__doc")
              .unionByName(freshRows)
            replacePartitions(idx,
              graft.search.ChunkIvfIndex.indexPath(catalog, entry),
              Seq("cluster_id"), sortCol = Some("id"),
              affectedDirs = affected.map(c => s"cluster_id=$c"))
          }
        } finally freshRows.unpersist()
      }
      p.chunkPq.foreach { oldClusters =>
        graft.search.ChunkPqIndex.loadCodebooks(spark, catalog, entry).foreach { cb =>
          // fresh codes under the FROZEN codebooks and current quantizer
          // (the PqIndex maintenance discipline at chunk granularity)
          val freshCodes = graft.search.ChunkPqIndex.encodeChunkRows(
            spark, catalog, entry, freshChunks.get, cb).cache()
          try {
            val newClusters = freshCodes.select("cluster_id").distinct()
              .collect().map(_.getLong(0)).toSeq
            val affected = (oldClusters ++ newClusters).distinct
            if (affected.nonEmpty) {
              val idx = graft.search.ChunkPqIndex.load(spark, catalog, entry)
                .filter(col("cluster_id").isin(affected: _*))
                .withColumn("__doc", graft.search.ChunkIvfIndex.docIdOf(col("id")))
                .join(broadcast(p.ids.withColumnRenamed("id", "__doc")),
                  Seq("__doc"), "left_anti")
                .drop("__doc")
                .unionByName(freshCodes)
              replacePartitions(idx,
                graft.search.ChunkPqIndex.codesPath(catalog, entry),
                Seq("cluster_id"), sortCol = Some("id"),
                affectedDirs = affected.map(c => s"cluster_id=$c"))
            }
          } finally freshCodes.unpersist()
        }
      }
    } finally freshChunks.foreach(_.unpersist())
    p.graph.foreach { gm =>
      // graph edges are not row-local (a node's list depends on other
      // rows), so the graph maintains itself with its Δ×corpus algebra
      // instead of the partition-rebuild pattern above: changed ids that
      // no longer exist were deleted; the rest are the upserted batch.
      // delete FIRST: its affected recomputes see the post-write corpus,
      // and upsert dedupes any already-admitted edge.
      val current = catalog.readDocuments(entry).select("id")
      val changed = p.ids.select("id")
      val goneIds = changed.join(current, Seq("id"), "left_anti")
        .collect().map(_.getString(0)).toSeq
      val presentIds = changed.join(current, Seq("id"), "left_semi")
        .collect().map(_.getString(0)).toSeq
      // Content-addressed ids USUALLY make an update old-id-gone +
      // new-id-fresh, but addDocuments accepts caller-PINNED embeddings
      // (Embed.withEmbeddings fills only nulls): re-upserting identical
      // content with a different embedding keeps the id, and upsert alone
      // would leave other nodes' stale edges scoring the OLD vector.
      // Any present id already in the graph therefore goes through delete
      // first — its in-edges recompute against the post-write corpus
      // (which holds the new vector), restoring the row-identical-to-
      // rebuild invariant; for an unchanged re-upsert the recompute is
      // redundant but exact, and the cost stays batch-bounded.
      val preExisting =
        if (presentIds.isEmpty) Seq.empty[String]
        else {
          import spark.implicits._
          GraphIndex.load(spark, catalog, entry).select("qid").distinct()
            .join(org.apache.spark.sql.functions.broadcast(presentIds.toDF("qid")),
              Seq("qid"), "left_semi")
            .as[String].collect().toSeq
        }
      GraphIndex.delete(spark, catalog, entry, goneIds ++ preExisting, gm.k, gm.buckets)
      GraphIndex.upsert(spark, catalog, entry, presentIds, gm.k, gm.buckets)
    }
  } }

  private def replacePartitions(
      replacement: DataFrame,
      indexPath: String,
      partCols: Seq[String],
      sortCol: Option[String],
      affectedDirs: Seq[String]): Unit =
    graft.catalog.PartitionedTable.replacePartitions(
      replacement, indexPath, partCols, sortCol, affectedDirs)

  /** Full rebuild of whichever persisted derived indexes exist for
    * `entry` — the explicit-rebuild path (and the fallback when no
    * staged delta is available). `dim` is the collection's embedding
    * dimension (for LSH re-banding).
    */
  def refreshDerived(
      spark: SparkSession,
      catalog: Catalog,
      entry: CollectionEntry,
      dim: Int,
      embedder: Option[graft.ingest.Embedder] = None): Unit = {
    if (exists(LexIndex.indexPath(catalog, entry)))
      LexIndex.build(spark, catalog, entry)
    if (exists(graft.search.ChunkIndex.indexPath(catalog, entry))) {
      // a silent skip would leave maxsim serving stale rows while every
      // sibling index rebuilt — the exact failure this file's contract
      // forbids; a chunk-indexed collection REQUIRES the embedder here
      require(embedder.isDefined,
        "refreshDerived on a chunk-indexed collection needs its embedder (the chunk index embeds at rebuild)")
      // invalidate the derived chunk-level IVF BEFORE the parent rewrite
      // (Api.buildChunkIndex's crash ordering): a crash between the two
      // rebuilds must read as index-absent, never as a stale sidecar
      val hadChunkIvf = graft.search.ChunkIvfIndex.exists(catalog, entry)
      if (hadChunkIvf) graft.search.ChunkIvfIndex.invalidate(catalog, entry)
      val hadChunkPq = graft.search.ChunkPqIndex.usable(catalog, entry)
      if (hadChunkPq) graft.search.ChunkPqIndex.invalidate(catalog, entry)
      for {
        e <- embedder
        m <- graft.search.ChunkIndex.loadMeta(spark, catalog, entry)
      } graft.search.ChunkIndex.build(spark, catalog, entry, e, m.maxTokens)
      if (hadChunkIvf)
        graft.search.ChunkIvfIndex.build(spark, catalog, entry)
      if (hadChunkPq)
        graft.search.ChunkPqIndex.reencode(spark, catalog, entry)
    }
    if (exists(IvfIndex.centroidsPath(catalog, entry)) &&
        exists(IvfIndex.indexPath(catalog, entry)))
      IvfIndex.reassign(spark, catalog, entry)
    if (exists(PqIndex.indexPath(catalog, entry)) &&
        exists(PqIndex.codebooksPath(catalog, entry)))
      PqIndex.reencode(spark, catalog, entry)
    if (exists(SignLshIndex.indexPath(catalog, entry))) {
      // (bits, tables, seed) come from the persisted sidecar meta written at
      // build time — never derived from index rows, which go away when a
      // delete empties the collection (ADVICE r3). Legacy indexes without a
      // sidecar fall back to row-derivation once; build() then writes the
      // sidecar, making the parameters durable from that point on.
      val meta = SignLshIndex.metaOrDerive(spark, catalog, entry, dim)
      meta.foreach { m =>
        SignLshIndex.build(spark, catalog, entry, m.dim,
          bits = m.bits, tables = m.tables, seed = m.seed)
      }
    }
    if (exists(graft.dedup.MinHashIndex.indexPath(catalog, entry)))
      graft.dedup.MinHashIndex.loadMeta(spark, catalog, entry).foreach { m =>
        graft.dedup.MinHashIndex.build(spark, catalog, entry,
          bands = m.bands, shingleN = m.shingleN)
      }
    if (exists(GraphIndex.indexPath(catalog, entry)))
      GraphIndex.loadMeta(spark, catalog, entry).foreach { gm =>
        GraphIndex.build(spark, catalog, entry, gm.k, gm.buckets)
      }
  }
}
