package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.index._

/** Incremental index ingestion via Structured Streaming — the streaming
  * sink of the BM25 write pipeline (see [[IndexBuilder]]) and the
  * engine's analog of jvector's concurrent incremental insert + OPTIMIZE
  * (GraphIndexBuilder.addGraphNode:314-362, IPCService OPTIMIZE:215-230),
  * re-expressed as the idiomatic Spark pattern from SURVEY.md §2.1 B2:
  * `writeStream.foreachBatch` appends micro-segments; `refresh` is the
  * OPTIMIZE step that recomputes dictionary + stats; full compaction
  * (InvertedIndex.compact + save / a rebuild) merges micro-segments away.
  *
  * A micro-batch runs the same numbering, DocMeta pass, SPIMI encoder and
  * chunk writer as a bulk build. Each becomes its own shard id
  * (numShards + batchId), so its (term, shard) posting runs are
  * self-contained and globally valid next to the bulk segments — no
  * rewrite of existing data, exactly like jvector's out-of-order inline
  * node writes. Within the batch, docIds follow the options' within-shard
  * order (url, or (docLen, url) for docOrder "length"). Because
  * block-max metadata is integer (maxTf, minDl), the avgdl drift caused
  * by appends never invalidates stored segments (see Model.Block).
  *
  * Exactly-once: every per-batch write is an idempotent overwrite of a
  * batch-owned, version-scoped chunk dir (`chunk=v<V>-s<batchId>`), docIds
  * derive from the PARENT SNAPSHOT's nextDocId high-water mark (monotone
  * even across compactions — never from mutable files), and the single
  * commit point is the catalog snapshot naming the new chunks + the new
  * stats + the batch high-water mark. A crash anywhere before the commit
  * leaves the table at its previous snapshot; the replayed batch recomputes
  * the identical chunk, overwrites it, and commits once (round-1 ADVICE #1:
  * no duplicate DocMeta rows, no double-counted stats, ever). The batch's
  * manifest row is atomically published bookkeeping, not the commit. */
object StreamingIndex {

  /** Start ingesting a streaming DataFrame of pages (url, text, lang)
    * into the index at `dir`. Exactly-once per batch via the streaming
    * checkpoint + snapshot-committed idempotent chunks. */
  def start(pages: DataFrame, dir: String, checkpoint: String,
            opts: IndexBuilder.Options = IndexBuilder.Options()): StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the checkpoint dir IS the stream identity: batchIds are scoped
        // to it (same checkpoint resumes the sequence; a new checkpoint
        // restarts at 0)
        appendBatch(batch.sparkSession, batch, dir, opts, batchId,
          streamId = checkpoint)
      }
      .start()

  /** Append one micro-batch as a micro-segment chunk and commit it as a
    * new catalog snapshot.
    * @param failBeforeCommit test hook: do every write, then crash just
    *   before the snapshot commit (the replay-safety injection point). */
  def appendBatch(spark: SparkSession, batch: DataFrame, dir: String,
                  opts: IndexBuilder.Options, batchId: Long,
                  failBeforeCommit: Boolean = false,
                  streamId: String = ""): Unit = {
    import spark.implicits._
    if (batch.isEmpty) return
    val snap = SegmentCatalog.current(spark, dir)
    // committed replay: skip — but only for the SAME stream. A new stream
    // (fresh checkpoint) restarts batchIds at 0; without the identity its
    // first maxStreamBatch+1 batches of genuinely new data would be
    // indistinguishable from a replay and silently dropped (round-2
    // ADVICE). Shard-id reuse across streams is safe: docIds come from
    // the monotone nextDocId high-water mark, so two chunks sharing a
    // shard id still have disjoint, sorted block docId ranges.
    if (streamId == snap.streamId && batchId <= snap.maxStreamBatch) return
    // version-scoped chunk id: a replayed batch recomputes the SAME id
    // (same parent snapshot), while chunks referenced by other snapshots
    // (e.g. a restarted stream after compaction) can never be clobbered
    val cid = s"v${snap.version + 1}-s$batchId"

    val t0 = System.nanoTime()
    val in = IndexBuilder.normalize(spark, batch).as[(String, String, String)]
    // allocate docIds from the snapshot's high-water mark, NOT numDocs:
    // a compaction shrinks numDocs but surviving docs keep their ids, so
    // only nextDocId (monotone) can never re-issue a live id
    val nb = IndexBuilder.number(in, IndexBuilder.withinShardCols(opts),
      math.max(1, math.min(opts.rangePartitions, 8)), assumeSorted = false, base = snap.nextDocId)
    val shard = snap.stats.numShards + batchId.toInt // one shard per micro-batch
    val batchShard: Long => Int = _ => shard
    val batchDocs = nb.numDocs
    val batchTokens = try {
      val tokens = ResumableBuild.writeDocs(IndexBuilder.docMeta(nb, batchShard), dir, cid)
      ResumableBuild.writeChunk(spark,
        IndexBuilder.spimiBlocks(nb.sorted, nb.offsets, batchShard, opts = opts),
        dir, cid, s"$dir/manifest/chunk-$cid.json", 100000 + batchId.toInt, batchDocs, t0)
      tokens
    } finally nb.release()
    val newStats = IndexBuilder.statsOf(snap.stats.numDocs + batchDocs,
      snap.stats.totalTokens + batchTokens, snap.stats.numShards)

    if (failBeforeCommit)
      throw new RuntimeException(s"injected crash before commit of batch $batchId")

    // THE commit: chunks + stats + high-water mark become visible atomically
    SegmentCatalog.commit(spark, dir, snap.copy(
      version = snap.version + 1, parent = snap.version, op = "append",
      tsMs = System.currentTimeMillis(), formatVersion = SegmentCatalog.FormatVersion,
      blockChunks = snap.blockChunks :+ cid,
      docChunks = snap.docChunks :+ cid,
      stats = newStats, maxStreamBatch = batchId,
      nextDocId = snap.nextDocId + batchDocs, streamId = streamId))
    // invalidate this session's cached listings of the (reused) table roots
    Seq("blocks", "docs").foreach(p => spark.catalog.refreshByPath(s"$dir/$p"))
  }

  /** OPTIMIZE: recompute the dictionary over the current snapshot's bulk +
    * micro segments (df/cf/bounds must reflect appended docs before
    * querying) and commit it as a new snapshot. */
  def refresh(spark: SparkSession, dir: String): InvertedIndex = {
    Seq("blocks", "docs", "dict").foreach(p => spark.catalog.refreshByPath(s"$dir/$p"))
    val snap = SegmentCatalog.current(spark, dir)
    val blocks = SegmentCatalog.readBlocks(spark, dir, snap)
    val dict = IndexBuilder.dictFromBlocks(spark, blocks)
    val v = snap.version + 1
    SegmentCatalog.writeDict(dict, dir, v)
    SegmentCatalog.commit(spark, dir, snap.copy(
      version = v, parent = snap.version, op = "refresh",
      tsMs = System.currentTimeMillis(), formatVersion = SegmentCatalog.FormatVersion,
      dictVersion = v))
    InvertedIndex.load(spark, dir)
  }
}
