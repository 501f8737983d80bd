package graft.index

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The chunked, on-disk sink of the BM25 write pipeline (see
  * [[IndexBuilder]]): the same numbering, DocMeta pass and SPIMI blocks
  * as a one-shot build, written as checkpointed chunks a restart can skip
  * (jvector's incremental on-disk write + resume:
  * OnDiskGraphIndexWriter.writeInline:62-84 and
  * GraphIndexBuilder.load:684-706, with the metamorphic guarantee
  * "incremental ≡ bulk" of TestOnDiskGraphIndex.java:215-262).
  *
  * The corpus is cut into `numChunks` groups of whole shards — each chunk
  * is a contiguous docId range, so its compressed blocks are globally
  * valid as-is (blocks are self-contained docId runs; a (term, shard)
  * posting list is just its blocks ordered by firstDocId, regardless of
  * which chunk wrote them — the same reason jvector can write node
  * payloads out of order at precomputed offsets).
  *
  * Per chunk: one Spark job → parquet segment dir `blocks/chunk=<id>` +
  * one manifest JSON with lineage + metrics (docs, postings, blocks,
  * bytes, ms, docs/sec), both via [[writeChunk]], the writer streaming
  * micro-batches share. Restart skips chunks whose manifest row exists
  * and whose segment dir committed (_SUCCESS). Dictionary + stats are
  * recomputed from the union of segments at finalize (one dictionary scan
  * over every committed chunk), so a resumed build is segment-identical
  * AND dictionary-identical to a one-shot build.
  */
object ResumableBuild {

  /** Wall seconds per named build phase of the LAST build() on this
    * thread's JVM — written unconditionally (a few map puts per build).
    * The bench subprocess serializes this into its JSON line so the
    * driver-recorded BENCH file carries the per-phase evidence needed to
    * tell host noise (spiky totals, flat phase interiors) from serial
    * fraction (one phase growing with parallelism). Keys: "sort+count",
    * "docs-write", "chunkN-write", "dict-write", "total". */
  val lastPhaseSecs = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** @param failAfterChunks test hook: throw after the k-th chunk commits
    *   and start no later chunk (the kill-and-resume metamorphic test's
    *   injection point); needs `parallelChunks == 1`.
    * @param assumeSorted the corpus is already partitioned + url-sorted at
    *   rest (the realistic 10^12-doc layout: a crawl table is ingested
    *   once, never re-sorted per build). Skips the global range shuffle;
    *   docIds are positional over the table's own partition layout —
    *   still dense + deterministic, per SURVEY.md §7.3.
    * @param parallelChunks threads running the docs write and the chunk
    *   jobs (they are independent; resume granularity is unchanged); 1
    *   runs them one after another, docs first. Overlapping jobs hides
    *   per-stage scheduling barriers on big executors. */
  def build(spark: SparkSession, webpages: DataFrame, dir: String,
            opts: IndexBuilder.Options = IndexBuilder.Options(),
            numChunks: Int = 8,
            failAfterChunks: Option[Int] = None,
            assumeSorted: Boolean = false,
            parallelChunks: Int = 1): InvertedIndex = {
    import spark.implicits._
    require(failAfterChunks.isEmpty || parallelChunks == 1,
      "failAfterChunks needs parallelChunks = 1")
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val in = IndexBuilder.normalize(spark, webpages).as[(String, String, String)]
    lastPhaseSecs.clear()
    val buildT0 = System.nanoTime()
    def phase[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      lastPhaseSecs.put(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    // stage 1 (always recomputed — deterministic given the input).
    // assumeSorted keeps the table's own partition layout (docIds are
    // positional), so docOrder can only reorder WITHIN partitions: the
    // "length" layout drops its hash-bucket leading key (positional
    // shards replace it) and sorts each partition by (docLen, url) — the
    // within-shard length gradient block-max pruning needs still appears,
    // partition-by-partition. Silently ignoring docOrder here was a
    // round-3 bug (url sort regardless of the option).
    val nb = phase("sort+count") {
      IndexBuilder.number(in,
        if (assumeSorted) IndexBuilder.withinShardCols(opts) else IndexBuilder.orderCols(opts),
        opts.rangePartitions, assumeSorted, base = 0L)
    }
    val numDocs = nb.numDocs
    val nShards = opts.numShards
    val shardOf = IndexBuilder.rangeShards(numDocs, nShards)

    // Chunk ids are scoped by the version this build WILL commit, so a
    // re-build into an existing catalog writes fresh dirs and can never
    // mutate chunks a retained snapshot references (nor mistake a prior
    // build's manifests for its own resume state). Stable across resume
    // attempts: the version only advances at the final commit.
    val prevSnap = SegmentCatalog.currentVersion(spark, dir)
      .map(v => SegmentCatalog.readSnapshot(spark, dir, v))
    val buildVersion = prevSnap.map(_.version).getOrElse(0L) + 1
    def chunkId(c: Int): String = s"v$buildVersion-$c"

    // One docs chunk dir per build, published by the final snapshot
    // commit; it runs alongside the chunk jobs, since nothing downstream
    // of the chunks needs it. The global token count (the only stat the
    // finalize step needs) rides on the write itself.
    val docsChunkId = s"v$buildVersion-docs"
    @volatile var totTok = 0L
    def docsWrite(): Unit = phase("docs-write") {
      totTok = writeDocs(IndexBuilder.docMeta(nb, shardOf), dir, docsChunkId)
    }

    // chunk c = a group of whole shards (contiguous docId range). Chunks
    // align to shard boundaries so a (term, shard) posting run is never
    // split across chunks — which makes the chunked block layout
    // byte-identical to the one-shot one.
    def chunkOfShard(s: Int): Int = s * numChunks / nShards
    // shard s starts at the smallest docId with docId*nShards/numDocs == s
    def shardLoDoc(s: Int): Long =
      if (s >= nShards) numDocs else (s.toLong * numDocs + nShards - 1) / nShards
    def chunkDocRange(c: Int): (Long, Long) = {
      val ss = (0 until nShards).filter(chunkOfShard(_) == c)
      if (ss.isEmpty) (0L, 0L) else (shardLoDoc(ss.min), shardLoDoc(ss.max + 1))
    }
    val chunks = (0 until numChunks).filter(c => (0 until nShards).exists(chunkOfShard(_) == c))

    def runChunk(c: Int): Unit = {
      val maniPath = s"$dir/manifest/v$buildVersion-chunk-$c.json"
      val segDir = SegmentCatalog.blocksChunkPath(dir, chunkId(c))
      if (!(fs.exists(new Path(maniPath)) && fs.exists(new Path(segDir, "_SUCCESS")))) {
        val t0 = System.nanoTime()
        val (dLo, dHi) = chunkDocRange(c)
        // SPIMI over the chunk's docId range; rows outside it are skipped
        // BEFORE tokenization (cheap row skip). At cluster scale the
        // corpus would be a sorted table and this filter prunes whole
        // files by url range; the docId math is identical.
        phase(s"chunk$c-write") {
          writeChunk(spark, IndexBuilder.spimiBlocks(nb.sorted, nb.offsets, shardOf,
            (dLo, dHi), opts), dir, chunkId(c), maniPath, c, dHi - dLo, t0)
        }
      }
    }
    // one scheduler: the docs write and the chunks on `parallelChunks`
    // threads; the first failure stops every chunk not yet started
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelChunks)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val abort = new java.util.concurrent.atomic.AtomicBoolean(false)
    def task(body: => Unit): Future[Unit] = Future {
      if (!abort.get) try body catch { case e: Throwable => abort.set(true); throw e }
    }
    try {
      val tasks = task(docsWrite()) +: chunks.zipWithIndex.map { case (c, i) =>
        task {
          runChunk(c)
          if (failAfterChunks.contains(i + 1) && i + 1 < chunks.size)
            throw new RuntimeException(s"injected failure after ${i + 1} chunks")
        }
      }
      tasks.foreach(Await.result(_, Duration.Inf))
    } finally {
      // drain in-flight chunk jobs even on the failure path: a same-JVM
      // resume must never race a background write to the same dir
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
      nb.release()
    }
    val docs = SegmentCatalog.readDocChunks(spark, dir, Seq(docsChunkId))
    val stats = IndexBuilder.statsOf(numDocs, totTok, nShards)

    // finalize: one dictionary scan over every committed chunk (it reads
    // only term, tfBytes, maxTf and minDl), then EVERYTHING (chunks + dict
    // + stats) publishes as one atomic snapshot commit — readers never see
    // a build mid-flight.
    val version = buildVersion
    val dict = phase("dict-write") {
      SegmentCatalog.writeDict(IndexBuilder.dictFromBlocks(spark,
        SegmentCatalog.readBlockChunks(spark, dir, chunks.map(chunkId))), dir, version)
      SegmentCatalog.readDictVersion(spark, dir, version)
    }
    val snap = SegmentCatalog.commit(spark, dir, SegmentCatalog.Snapshot(
      version = version, parent = version - 1, op = "build",
      tsMs = System.currentTimeMillis(), formatVersion = SegmentCatalog.FormatVersion,
      blockChunks = chunks.map(chunkId), docChunks = Seq(docsChunkId),
      dictVersion = version, stats = stats,
      maxStreamBatch = prevSnap.map(_.maxStreamBatch).getOrElse(-1L),
      nextDocId = math.max(numDocs, prevSnap.map(_.nextDocId).getOrElse(0L))))
    lastPhaseSecs.put("total", (System.nanoTime() - buildT0) / 1e9)
    InvertedIndex(spark, docs, SegmentCatalog.readBlocks(spark, dir, snap), dict, stats)
  }

  /** Write a docs chunk; returns its token total, observed on the write
    * (no read-back aggregate over the doc table). */
  private[graft] def writeDocs(docs: Dataset[DocMeta], dir: String, cid: String): Long = {
    val obs = Observation(s"graft-docs-$cid-${System.nanoTime()}")
    SegmentCatalog.writeDocsChunk(
      docs.observe(obs, coalesce(sum(col("docLen")), lit(0L)).as("totTok")), dir, cid)
    obs.get("totTok").asInstanceOf[Long]
  }

  /** Write one blocks chunk and publish its manifest row at `maniPath`
    * (the chunk's lineage + metrics; `t0` starts its elapsed time). The
    * row's block/posting/metadata-byte counts are observed on the write
    * itself: a read-back aggregate per chunk was a driver-scheduled serial
    * fraction that Amdahl-limited the build's N -> 4N scaling. */
  private[graft] def writeChunk(spark: SparkSession, blocks: Dataset[Block], dir: String,
                                cid: String, maniPath: String, chunk: Int, docs: Long,
                                t0: Long): Unit = {
    // varbyte encoded length, as a codegen'd CASE chain (== Codec.vlen
    // for the non-negative ints block metadata holds)
    def vlen(c: Column) = when(c < 128, 1L).when(c < (1 << 14), 2L)
      .when(c < (1 << 21), 3L).when(c < (1 << 28), 4L).otherwise(5L)
    val obs = Observation(s"graft-$cid-${System.nanoTime()}")
    SegmentCatalog.writeBlocksChunk(blocks.observe(obs,
      count(lit(1)).as("blocks"),
      coalesce(sum(col("n")).cast("long"), lit(0L)).as("postings"),
      coalesce(sum(vlen(col("maxTf")) + vlen(col("minDl"))), lit(0L)).as("metaBytes")),
      dir, cid)
    val m = obs.get
    val ms = (System.nanoTime() - t0) / 1000000
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new Path(SegmentCatalog.blocksChunkPath(dir, cid))).getLength
    val json =
      s"""{"chunk":$chunk,"status":"done","docs":$docs,""" +
      s""""postings":${m("postings")},"blocks":${m("blocks")},"bytes":$bytes,""" +
      s""""elapsedMs":$ms,"docsPerSec":${if (ms == 0) 0.0 else docs * 1000.0 / ms},""" +
      s""""metaBytes":${m("metaBytes")}}"""
    SegmentCatalog.publishJson(spark, maniPath, json.getBytes("UTF-8"))
  }

  def readBlocks(spark: SparkSession, dir: String): Dataset[Block] =
    SegmentCatalog.readBlocks(spark, dir, SegmentCatalog.current(spark, dir))

  def readManifest(spark: SparkSession, dir: String): Seq[ManifestRow] = {
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"$dir/manifest")
    if (!fs.exists(p)) return Seq.empty
    import spark.implicits._
    val files = fs.listStatus(p).map(_.getPath.toString).filter(_.endsWith(".json"))
    if (files.isEmpty) Seq.empty
    else {
      val raw = spark.read.json(files.toIndexedSeq: _*)
      val withMeta = if (raw.columns.contains("metaBytes")) raw
                     else raw.withColumn("metaBytes", lit(0L))
      withMeta
        .selectExpr("cast(chunk as int) chunk", "status", "cast(docs as long) docs",
          "cast(postings as long) postings", "cast(blocks as long) blocks",
          "cast(bytes as long) bytes", "cast(elapsedMs as long) elapsedMs",
          "cast(docsPerSec as double) docsPerSec", "cast(metaBytes as long) metaBytes")
        .as[ManifestRow].collect().toSeq.sortBy(_.chunk)
    }
  }
}
