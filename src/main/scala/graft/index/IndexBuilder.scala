package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Codec, Text}

/** The BM25 write pipeline — one pipeline behind every build, whose three
  * sinks differ only in where the output goes: [[build]] keeps it in
  * memory, [[ResumableBuild.build]] writes docId-range chunks a restart
  * can skip, and [[graft.streaming.StreamingIndex.appendBatch]] writes
  * one micro-batch chunk. It is the Spark re-architecture of jvector's
  * bulk build (GraphIndexBuilder.build, graph/GraphIndexBuilder.java:
  * 156-166), which is a parallel loop over the same insert its
  * incremental writes call — Spark stage boundaries replace its
  * ForkJoinPool + lock-free CAS machinery:
  *
  *  1. [[number]]: dense docIds — sort by [[orderCols]] (range shuffle, or
  *     the table's own partitions when assumeSorted) + per-partition
  *     counts + prefix-sum offsets from a docId base (NOT row_number over
  *     a single partition, NOT monotonically_increasing_id — ordinal
  *     renumbering, jvector OnDiskGraphIndexWriter
  *     .getSequentialRenumbering:163-176);
  *  2. [[docMeta]]: one narrow pass to DocMeta rows; the sinks that write
  *     them observe the token total on the write (global stats N, avgdl);
  *  3. [[spimiBlocks]]: tokenize + per-partition compressed partial runs
  *     (tf is doc-local — the SPIMI insight), one compact shuffle, and a
  *     merge that cuts each (term, shard) run into 128-posting blocks with
  *     exact block-max metadata;
  *  4. dictionary: [[dictFromBlocks]] (map-side combined aggregate).
  *
  * A shard function maps docIds to shards: contiguous docId ranges for a
  * build, one fresh shard per streaming micro-batch. The on-disk sinks
  * write each blocks chunk with its manifest row through one writer
  * ([[ResumableBuild.writeChunk]]), so the one-shot, resumed and streamed
  * layouts are the same code (jvector proves inline ≡ bulk writes,
  * OnDiskGraphIndexWriter.writeInline:62-84, TestOnDiskGraphIndex.java:
  * 215-262; our resume and equivalence tests mirror it).
  */
object IndexBuilder {

  final case class Options(
      numShards: Int = 32,
      rangePartitions: Int = 32,
      quantizedBounds: Boolean = false,
      docOrder: String = "url")

  /** Sort keys that define docId assignment order (stage 1).
    *
    *  - "url" (default): lexicographic url — the web-standard layout;
    *    clusters same-site pages for delta-gap compression.
    *  - "length": (hash(url) % numShards, docLen, url) — score-clustered
    *    layout (the standard document-reordering remedy, cf. Ding & Suel's
    *    BMW observation that docId assignment bounds block-max tightness).
    *    BM25's length normalization makes per-block score bounds track doc
    *    length, so sorting by length makes blockMax DECLINE across a docId
    *    range and lets WAND's θ prune head-term blocks — with random/url
    *    order every 128-posting block of a head term contains a short doc,
    *    blockMax ≈ global max everywhere, and no θ can skip (measured ~0%
    *    on same-df conjunctions, BASELINE.md round 3). The leading
    *    hash-bucket key matters: shards are contiguous docId ranges and
    *    each runs WAND with its OWN θ, so the length decline must happen
    *    WITHIN each shard's range, not globally (a global length sort just
    *    makes every shard internally uniform again — measured zero skip).
    *    Results stay score-identical per url: scores depend on (tf, df,
    *    dl), never on docId; only tie ORDER among equal scores can differ.
    */
  private[graft] def orderCols(opts: Options): Seq[Column] =
    if (opts.docOrder == "length")
      pmod(xxhash64(col("url")), lit(opts.numShards.toLong)) +: withinShardCols(opts)
    else withinShardCols(opts)

  /** The order within one shard: (docLen, url) for "length", url otherwise.
    * Used where docIds cannot be spread over hash buckets — an
    * assumeSorted build keeps the table's own partitions, and a
    * micro-batch is a single shard. */
  private[graft] def withinShardCols(opts: Options): Seq[Column] =
    if (opts.docOrder == "length")
      Seq(udf((t: String) => Text.countTokens(t)).apply(col("text")), col("url"))
    else Seq(col("url"))

  /** Lossy-but-admissible block-bound quantization (the C5 uint8 option;
    * reference analog: jvector pq/LocallyAdaptiveVectorQuantization
    * .java:72-99 — lossy bound metadata, exact rerank preserved). Values
    * keep at most 4 significant bits (a 4-bit mantissa + exponent ≈ one
    * byte per value): maxTf rounds UP and minDl rounds DOWN, so the
    * block's computed upper bound can only grow — WAND pruning stays
    * admissible and results remain rank-identical (scoring always decodes
    * the exact per-posting tf/dl payloads; only skip decisions read the
    * bounds). Cost: bounds are up to 1/8 looser, so marginally fewer
    * blocks skip; gain: block metadata collapses to ~128 distinct codes,
    * which parquet RLE/varint encodes into a fraction of the exact bytes
    * at 10^12-doc metadata volume. */
  object Quant {
    private def shiftOf(v: Int): Int = {
      val bits = 32 - Integer.numberOfLeadingZeros(v)
      if (bits <= 4) 0 else bits - 4
    }
    /** Smallest value >= v with at most 4 significant bits. */
    def ceil4(v: Int): Int = {
      if (v <= 0) return v
      val s = shiftOf(v)
      ((v + (1 << s) - 1) >> s) << s
    }
    /** Largest value <= v with at most 4 significant bits. */
    def floor4(v: Int): Int = {
      if (v <= 0) return v
      (v >> shiftOf(v)) << shiftOf(v)
    }
  }

  /** Apply bound quantization to a block's metadata (payloads untouched). */
  def quantizeBlock(b: Block): Block =
    b.copy(maxTf = Quant.ceil4(b.maxTf), minDl = Quant.floor4(b.minDl))

  /** Normalize an input table to (url, text, lang); html-only inputs run
    * the frozen extractor. */
  def normalize(spark: SparkSession, webpages: DataFrame): DataFrame = {
    import spark.implicits._
    val cols = webpages.columns.toSet
    val withText =
      if (cols.contains("text")) webpages
      else webpages.withColumn("text",
        udf((h: Array[Byte]) => Text.extract(new String(h, "UTF-8")))
          .apply($"html"))
    withText.select($"url",
      $"text",
      (if (cols.contains("lang")) coalesce($"lang", lit("")) else lit(""))
        .as("lang"))
  }

  /** One-shot build. Input must have (url, text|html, lang?). */
  def build(spark: SparkSession, webpages: DataFrame,
            opts: Options = Options()): InvertedIndex = {
    import spark.implicits._
    val in = normalize(spark, webpages).as[(String, String, String)]
    val nb = number(in, orderCols(opts), opts.rangePartitions, assumeSorted = false, base = 0L)
    val shardOf = rangeShards(nb.numDocs, opts.numShards)
    val docs = docMeta(nb, shardOf).persist()
    // the docs cache must be filled anyway: its one aggregate fills it
    val totTok = if (nb.numDocs == 0) 0L else docs.agg(sum($"docLen")).as[Long].head()
    val blocks = spimiBlocks(nb.sorted, nb.offsets, shardOf, opts = opts).persist()
    val dict = dictFromBlocks(spark, blocks).persist()
    // force caches before dropping the sorted input: repartitionByRange
    // re-samples on recompute, so lineage replay must never re-run it
    blocks.count(); dict.count()
    nb.release()
    InvertedIndex(spark, docs, blocks, dict, statsOf(nb.numDocs, totTok, opts.numShards))
  }

  /** Stage 1 output: the input in docId order, and each partition's first
    * absolute docId (`offsets(p)`; the last entry is one past the last
    * doc). `cached` when the range shuffle's output is persisted. */
  private[graft] final case class Numbered(
      sorted: Dataset[(String, String, String)],
      offsets: Broadcast[Array[Long]], cached: Boolean) {
    def numDocs: Long = offsets.value.last - offsets.value.head
    def release(): Unit = if (cached) sorted.unpersist()
  }

  /** Stage 1, shared by every build: sort the normalized input by `order`,
    * count each partition, and prefix-sum the counts from `base` (0 for a
    * build, the snapshot's nextDocId for an append).
    *
    * Range mode shuffles into `parts` range partitions and caches the
    * result: the range partitioner resamples on recompute, so the docIds
    * would not be stable otherwise. assumeSorted keeps the table's own
    * partitions (docIds are positional — still dense and deterministic,
    * SURVEY.md §7.3) and does not cache: recomputation is deterministic,
    * and at corpus scale you stream from the table instead of caching it.
    * Its counts come from the SOURCE partitioning projected to zero
    * columns (file-split planning depends on file sizes, not on the read
    * schema), so the parquet reader serves them from row-group metadata. */
  private[graft] def number(in: Dataset[(String, String, String)], order: Seq[Column],
                            parts: Int, assumeSorted: Boolean, base: Long): Numbered = {
    import in.sparkSession.implicits._
    val sorted =
      if (assumeSorted) in.sortWithinPartitions(order: _*)
      else in.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*).persist()
    val counts = (if (assumeSorted) in else sorted).toDF().select()
      .mapPartitions(it => Iterator((TaskContext.getPartitionId(), it.size.toLong)))
      .collect().toMap
    val n = counts.keys.maxOption.fold(1)(_ + 1)
    val offsets = new Array[Long](n + 1)
    offsets(0) = base
    (0 until n).foreach(p => offsets(p + 1) = offsets(p) + counts.getOrElse(p, 0L))
    Numbered(sorted, in.sparkSession.sparkContext.broadcast(offsets), cached = !assumeSorted)
  }

  /** Range shards of a build: `nShards` contiguous docId ranges over [0, numDocs). */
  private[graft] def rangeShards(numDocs: Long, nShards: Int): Long => Int =
    docId => if (numDocs == 0) 0 else math.min(nShards - 1, (docId * nShards / numDocs).toInt)

  /** Stage 2: one DocMeta row per doc (docLen via the allocation-free
    * token counter), narrow over the numbered input. */
  private[graft] def docMeta(nb: Numbered, shardOf: Long => Int): Dataset[DocMeta] = {
    import nb.sorted.sparkSession.implicits._
    val offB = nb.offsets
    nb.sorted.mapPartitions { it =>
      var i = offB.value(TaskContext.getPartitionId())
      it.map { case (url, text, lang) =>
        val d = DocMeta(i, shardOf(i), url, Text.countTokens(text), lang); i += 1; d
      }
    }
  }

  private[graft] def statsOf(numDocs: Long, totTok: Long, nShards: Int): IndexStats =
    IndexStats(numDocs, totTok, if (numDocs == 0) 0.0 else totTok.toDouble / numDocs, nShards)

  /** Dictionary from blocks: df = Σ postings per block (one posting per
    * doc), cf = Σ tfs, both counted from `tfBytes`, so over a saved index
    * the scan reads only `term`, `tfBytes`, `maxTf` and `minDl`;
    * (maxTf, minDl) = global tf-part bound inputs. Map-side partial
    * aggregation is automatic (hash agg). */
  def dictFromBlocks(spark: SparkSession, blocks: Dataset[Block]): Dataset[DictEntry] = {
    import spark.implicits._
    blocks.groupBy($"term").agg(
      sum(SegmentCatalog.postingsOf($"tfBytes")).cast("long").as("df"),
      sum(SegmentCatalog.tfSumOf($"tfBytes")).cast("long").as("cf"),
      max($"maxTf").as("maxTf"),
      min($"minDl").as("minDl"))
      .as[DictEntry]
  }

  /** SPIMI proper, the bulk path: invert each input partition into
    * COMPRESSED partial runs first (per-partition term hashmap, spilled as
    * delta-varbyte blocks when the posting budget is hit — the classic
    * single-pass-in-memory-indexing spill), then shuffle only those
    * compact runs and merge each (term, shard)'s runs into the final
    * 128-posting blocks. Vs shuffling raw (term, docId, tf, dl) rows this
    * moves ~10x fewer bytes — the difference between a merge that is
    * shuffle-bound and one that is tokenize-bound at 100 TB.
    *
    * Runs from different input partitions cover disjoint increasing docId
    * ranges (docIds are positional in the url-sorted input), so the merge
    * is concatenation-after-sort-by-firstDocId; the final block layout is
    * a pure function of each (term, shard)'s full posting run —
    * independent of partitioning, chunking, and spill points — which is
    * what makes resumed ≡ one-shot byte-identical, and a micro-batch's
    * blocks the same 128-posting cut of its (term, shard) runs.
    * `keepRange` restricts the output to one chunk's docId range. */
  private[graft] def spimiBlocks(
      sorted: Dataset[(String, String, String)],
      offsets: Broadcast[Array[Long]],
      shardOf: Long => Int,
      keepRange: (Long, Long) = (0L, Long.MaxValue), opts: Options): Dataset[Block] = {
    import sorted.sparkSession.implicits._
    val (dLo, dHi) = keepRange
    val partial: Dataset[Block] = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      // whole-partition pruning: if this partition's docId range is
      // disjoint from the chunk's, never pull the iterator — rows are
      // not deserialized and the lazy parquet scan does no work
      if (pid + 1 < offsets.value.length &&
          (offsets.value(pid + 1) <= dLo || offsets.value(pid) >= dHi)) {
        Iterator.empty
      } else spimiPartition(it, offsets.value(pid), dLo, dHi, shardOf)
    }
    val merged = mergeRuns(partial)
    if (opts.quantizedBounds) merged.map(quantizeBlock) else merged
  }

  /** Postings a partition's term map holds before it spills its runs. */
  private val SpillBudget = 1000000

  private def spimiPartition(it: Iterator[(String, String, String)], base: Long,
                             dLo: Long, dHi: Long, shardOf: Long => Int): Iterator[Block] = {
      var i = base
      val map = new TermMap
      var out = List.empty[Iterator[Block]]
      def flush(): Unit = if (map.pending > 0) {
        val runs = new scala.collection.mutable.ArrayBuffer[Block](map.size)
        map.foreachEntry((term, buf) => buf.emitRuns(term, runs))
        map.clear()
        out = runs.iterator :: out
      }
      // Streaming ASCII path: occurrences flow straight into the partition-
      // level TermMap (tf aggregated at the tail of each term's PostBuf —
      // all occurrences of (term, doc) arrive before any later doc's). No
      // per-doc hashmap, no tuple array, no sort, and a String is allocated
      // once per DISTINCT term per partition, not once per occurrence —
      // the allocation (= GC stop-the-world = serial fraction) of the build
      // hot path drops ~an order of magnitude. Final block bytes are
      // unchanged: mergeRuns sorts runs by firstDocId, so partial-run emit
      // order never reaches the layout (the resumed ≡ one-shot byte test
      // pins this).
      val sink = new Text.TokenSink {
        var shard = 0
        var docId = 0L
        var dl = 0
        def token(buf: Array[Char], len: Int): Unit =
          map.getOrInsert(buf, len).addOcc(map, shard, docId, dl)
      }
      it.foreach { case (_, text, _) =>
        val docId = i; i += 1
        if (docId >= dLo && docId < dHi) {
          val shard = shardOf(docId)
          sink.shard = shard; sink.docId = docId
          sink.dl = Text.countTokens(text)
          if (Text.tokenizeInto(text, sink) < 0) {
            // non-ASCII doc: frozen termFreqs fallback, same map
            val (tfs, len) = Text.termFreqs(text)
            sink.dl = len
            var t = 0
            while (t < tfs.length) {
              val (term, tf) = tfs(t)
              map.getOrInsert(term).add(shard, docId, tf, len)
              map.pending += 1
              t += 1
            }
          }
          if (map.pending >= SpillBudget) flush()
        }
      }
      flush()
      out.reverse.iterator.flatten
  }

  /** Open-addressed interning map term -> PostBuf for the SPIMI pass.
    * Probed with raw token chars (String.hashCode-compatible), so the hot
    * loop allocates nothing on a hit. Linear probing, power-of-2 capacity,
    * grown at 70% load. */
  private final class TermMap {
    private var cap = 1 << 15
    private var mask = cap - 1
    private var keys = new Array[String](cap)
    private var vals = new Array[PostBuf](cap)
    var size = 0
    var pending = 0L // postings buffered since last flush (spill budget)
    private def slot(h0: Int): Int = (h0 ^ (h0 >>> 16)) & mask
    def getOrInsert(buf: Array[Char], n: Int): PostBuf = {
      var h = 0
      var i = 0
      while (i < n) { h = 31 * h + buf(i); i += 1 }
      var idx = slot(h)
      while (true) {
        val k = keys(idx)
        if (k == null) {
          val term = new String(buf, 0, n)
          val b = new PostBuf
          keys(idx) = term; vals(idx) = b; size += 1
          if (size * 10 > cap * 7) grow()
          return b
        }
        if (k.length == n && { var j = 0
            while (j < n && k.charAt(j) == buf(j)) j += 1; j == n })
          return vals(idx)
        idx = (idx + 1) & mask
      }
      null // unreachable
    }
    def getOrInsert(term: String): PostBuf = {
      var idx = slot(term.hashCode)
      while (true) {
        val k = keys(idx)
        if (k == null) {
          val b = new PostBuf
          keys(idx) = term; vals(idx) = b; size += 1
          if (size * 10 > cap * 7) grow()
          return b
        }
        if (k == term || k.equals(term)) return vals(idx)
        idx = (idx + 1) & mask
      }
      null // unreachable
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap *= 2; mask = cap - 1
      keys = new Array[String](cap)
      vals = new Array[PostBuf](cap)
      var i = 0
      while (i < ok.length) {
        val k = ok(i)
        if (k != null) {
          var idx = slot(k.hashCode)
          while (keys(idx) != null) idx = (idx + 1) & mask
          keys(idx) = k; vals(idx) = ov(i)
        }
        i += 1
      }
    }
    def foreachEntry(f: (String, PostBuf) => Unit): Unit = {
      var i = 0
      while (i < cap) {
        if (keys(i) != null) f(keys(i), vals(i))
        i += 1
      }
    }
    def clear(): Unit = {
      java.util.Arrays.fill(keys.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], null)
      size = 0; pending = 0
    }
  }

  /** Merge each (term, shard)'s disjoint partial runs into final blocks. */
  private def mergeRuns(partial: Dataset[Block]): Dataset[Block] = {
    import partial.sparkSession.implicits._
    val bs = Codec.BlockSize
    partial.groupByKey(b => (b.term, b.shard)).flatMapGroups {
      (key: (String, Int), runs: Iterator[Block]) =>
        val (term, shard) = key
        val rs = runs.toArray.sortBy(_.firstDocId)
        if (rs.length == 1 && rs(0).n <= bs) Iterator(rs(0))
        else {
          val total = rs.map(_.n).sum
          val ids = new Array[Long](total)
          val tfs = new Array[Int](total)
          val dls = new Array[Int](total)
          var o = 0
          rs.foreach { r =>
            val rIds = Codec.decodeDocIds(r.docBytes, -1L)
            val rTfs = Codec.decodeTfs(r.tfBytes)
            val rDls = Codec.decodeTfs(r.dlBytes)
            System.arraycopy(rIds, 0, ids, o, rIds.length)
            System.arraycopy(rTfs, 0, tfs, o, rTfs.length)
            System.arraycopy(rDls, 0, dls, o, rDls.length)
            o += rIds.length
          }
          (0 until total by bs).iterator.map { lo =>
            val hi = math.min(lo + bs, total)
            encodeBlock(term, shard, ids.slice(lo, hi), tfs.slice(lo, hi),
              dls.slice(lo, hi))
          }
        }
    }
  }

  /** Per-term growable posting buffer for the SPIMI pass; docIds (and
    * therefore shards) arrive in increasing order. */
  private final class PostBuf {
    private var shards = new Array[Int](4)
    private var ids = new Array[Long](4)
    private var tfs = new Array[Int](4)
    private var dls = new Array[Int](4)
    private var n = 0
    def add(shard: Int, docId: Long, tf: Int, dl: Int): Unit = {
      if (n == ids.length) {
        val c = n * 2
        shards = java.util.Arrays.copyOf(shards, c)
        ids = java.util.Arrays.copyOf(ids, c)
        tfs = java.util.Arrays.copyOf(tfs, c)
        dls = java.util.Arrays.copyOf(dls, c)
      }
      shards(n) = shard; ids(n) = docId; tfs(n) = tf; dls(n) = dl
      n += 1
    }
    /** One streamed occurrence: aggregate into the tail posting when it is
      * the same doc (all of a doc's occurrences of this term arrive
      * consecutively), else append a new posting and charge the spill
      * budget. */
    def addOcc(m: TermMap, shard: Int, docId: Long, dl: Int): Unit = {
      if (n > 0 && ids(n - 1) == docId) tfs(n - 1) += 1
      else { add(shard, docId, 1, dl); m.pending += 1 }
    }
    /** One compressed run per shard boundary (shards are non-decreasing). */
    def emitRuns(term: String, out: scala.collection.mutable.ArrayBuffer[Block]): Unit = {
      var lo = 0
      while (lo < n) {
        var hi = lo + 1
        while (hi < n && shards(hi) == shards(lo)) hi += 1
        out += encodeBlock(term, shards(lo),
          java.util.Arrays.copyOfRange(ids, lo, hi),
          java.util.Arrays.copyOfRange(tfs, lo, hi),
          java.util.Arrays.copyOfRange(dls, lo, hi))
        lo = hi
      }
    }
  }

  /** Encode one self-contained block. (maxTf, minDl) give the block-max
    * bound inputs; a (maxTf, minDl) pair dominates every posting because
    * tfPartial is monotone up in tf and down in docLen. */
  def encodeBlock(term: String, shard: Int, ids: Array[Long], tfs: Array[Int],
                  dls: Array[Int]): Block = {
    var maxTf = 0
    var minDl = Int.MaxValue
    var tfSum = 0L
    var i = 0
    while (i < ids.length) {
      if (tfs(i) > maxTf) maxTf = tfs(i)
      if (dls(i) < minDl) minDl = dls(i)
      tfSum += tfs(i)
      i += 1
    }
    Block(term, Model.bucketOf(term), shard, ids.head, ids.last, ids.length,
      Codec.encodeDocIds(ids, -1L), Codec.encodeTfs(tfs), Codec.encodeTfs(dls),
      maxTf, minDl, tfSum)
  }
}
