package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Text

/** The built index: document-sharded compressed posting blocks + dictionary
  * + doc metadata + global stats. Search is shard-local Block-Max WAND with
  * a tiny global top-k merge (SURVEY.md §3.1 "our equivalent": exactly two
  * boundary crossings — broadcast out, top-k collect back).
  *
  * All members are Datasets so Catalyst drives pruning: query-term filters
  * push down to the parquet scan of `blocks` (term + bucket columns), and
  * only matching blocks are shuffled to their shard scorer.
  */
final case class InvertedIndex(
    spark: SparkSession,
    docs: Dataset[DocMeta],
    blocks: Dataset[Block],
    dict: Dataset[DictEntry],
    stats: IndexStats,
    sharded: Boolean = false,
    @transient hotDict: java.util.HashMap[String, DictEntry] = null,
    hotComplete: Boolean = false) {

  import spark.implicits._

  private def planEntry(e: DictEntry): (String, (Double, Double)) =
    e.term -> InvertedIndex.idfUb(e.df, e.maxTf, e.minDl, stats.numDocs, stats.avgdl)

  /** Driver-side per-query constants: idf + upper bound per term — the
    * ADC-style precompute (jvector pq/PQDecoder.java:38-60): all per-posting
    * work at score time is one mul/add. With a [[prepared]] index the hot
    * dictionary answers from driver memory (the serving-path analog of
    * jvector's CachingGraphIndex hot region, graph/disk/CachingGraphIndex
    * .java:29-46) — no Spark job per query; only terms outside a capped hot
    * dict fall back to a dict scan. */
  private[index] def queryPlanFor(query: String): Map[String, (Double, Double)] =
    queryPlan(query)

  private def queryPlan(query: String): Map[String, (Double, Double)] = {
    val terms = Text.tokenize(query).distinct.toSeq
    if (terms.isEmpty) Map.empty
    else if (hotDict != null) {
      val found = terms.flatMap(t => Option(hotDict.get(t)))
      val missing =
        if (hotComplete) Nil else terms.filterNot(hotDict.containsKey)
      val extra =
        if (missing.isEmpty) Nil
        else dict.filter($"term".isin(missing: _*)).collect().toSeq
      (found ++ extra).map(planEntry).toMap
    } else {
      dict.filter($"term".isin(terms: _*)).collect().map(planEntry).toMap
    }
  }

  private def emptyResult: DataFrame =
    spark.emptyDataset[ScoredDoc].toDF()

  /** Query-optimized clone: blocks co-located by doc-shard and cached, so
    * every subsequent search is a narrow in-memory scan + per-partition
    * WAND — no per-query shuffle (the hot-region cache idea of jvector's
    * CachingGraphIndex:29-46, as a one-time exchange amortized over all
    * queries). Correct because a shard is a docId range: co-locating by
    * shard puts every block that can touch a given doc in one partition. */
  def prepared(numPartitions: Int = 0,
               hotDictCap: Int = InvertedIndex.DefaultHotDictCap): InvertedIndex = {
    val p = if (numPartitions > 0) numPartitions
            else spark.sparkContext.defaultParallelism
    // co-locate by shard, but SORT each partition by term: the in-memory
    // columnar cache keeps per-batch min/max stats, so a term-sorted cache
    // prunes whole batches against the query's isin(term) filter — the
    // per-query scan touches only the handful of batches that can contain
    // the query terms (same trick as the on-disk bucket partitioning).
    val b = blocks.repartition(p, $"shard")
      .sortWithinPartitions($"term", $"firstDocId").persist()
    val d = dict.persist()
    b.count()
    copy(blocks = b, dict = d, sharded = true).withHotDict(hotDictCap)
  }

  /** Copy with a driver-resident dictionary so [[queryPlanFor]] needs no
    * Spark job: the whole vocab if it fits the cap (a lookup miss then
    * means "term not in corpus" — no fallback job), else the top cap terms
    * by collection frequency (misses fall back to a dict scan).
    * ~60 B/entry: the default cap costs the serving driver ~250 MB. */
  def withHotDict(cap: Int = InvertedIndex.DefaultHotDictCap): InvertedIndex = {
    val vocab = dict.count()
    val (entries, complete) =
      if (vocab <= cap) (dict.collect(), true)
      else (dict.orderBy($"cf".desc, $"term".asc).limit(cap).collect(), false)
    val hm = new java.util.HashMap[String, DictEntry](entries.length * 2)
    entries.foreach(e => hm.put(e.term, e))
    copy(hotDict = hm, hotComplete = complete)
  }

  /** Candidate blocks for a term set: the bucket filter prunes partition
    * directories of a saved index (partitionBy("bucket")) and parquet
    * row groups via min/max stats before the term filter even runs —
    * query scans touch only files that can contain the query's terms. */
  private def candidateBlocks(terms: Seq[String]): Dataset[Block] = {
    val buckets = terms.map(Model.bucketOf).distinct
    blocks.filter($"bucket".isin(buckets: _*) && $"term".isin(terms: _*))
  }

  /** Run `f` once per doc-shard over its candidate blocks: a prepared
    * (shard-co-located) index needs no exchange — one call per partition
    * (blocks of one term from several shards concatenate validly: shards
    * are disjoint increasing docId ranges); otherwise group by shard. */
  private def perShard[T: Encoder](cand: Dataset[Block])(
      f: Iterator[Block] => Iterator[T]): Dataset[T] =
    if (sharded) cand.mapPartitions(f)
    else cand.groupByKey(_.shard).flatMapGroups((_, it) => f(it))

  /** Exact top-k BM25 (k1=1.2, b=0.75), rank-identical to brute force:
    * (score desc, docId asc). Optional metadata filter (docs predicate) and
    * tombstone set (deleted docIds, jvector markNodeDeleted analog:
    * candidates anti-joined at query time until compaction). */
  def search(query: String, k: Int,
             docFilter: Option[Column] = None,
             tombstones: Option[Dataset[Long]] = None): DataFrame =
    topK(query, k, docFilter, tombstones, null)

  /** Page after a previous hit: exact top-k among docs ranking strictly
    * after `(afterScore, afterDocId)` in (score desc, docId asc) order —
    * true result-set pagination (jvector GraphSearcher.resume:223-311,
    * stateless re-expression): page1 = search(q, k); page2 =
    * searchAfter(q, k, page1.last). No k′ over-fetch: the WAND heap simply
    * rejects hits at-or-before the cursor, and θ-pruning works off the
    * post-cursor heap, so each page costs one normal top-k pass. */
  def searchAfter(query: String, k: Int,
                  afterScore: Double, afterDocId: Long): DataFrame =
    topK(query, k, None, None, ScoredDoc(afterDocId, afterScore))

  private def topK(query: String, k: Int, docFilter: Option[Column],
                   tombstones: Option[Dataset[Long]], after: ScoredDoc): DataFrame = {
    val plan = queryPlan(query)
    if (plan.isEmpty || k <= 0) return emptyResult
    val planB = spark.sparkContext.broadcast(plan)
    val avgdl = stats.avgdl
    val kk = k
    val wand = (it: Iterator[Block], f: Wand.DocFilter) =>
      Wand.topK(Searcher.pack(it), planB.value, kk, avgdl, f, after, null).iterator

    val cand = candidateBlocks(plan.keys.toSeq)

    val localTopK: Dataset[ScoredDoc] =
      if (docFilter.isEmpty && tombstones.isEmpty)
        perShard(cand)(wand(_, Wand.DocFilter.All))
      else {
        // co-locate the accept/deny doc sets with their shard's blocks so
        // the filter bitmap is built executor-side, never on the driver
        val allowAll = docFilter.isEmpty
        val allow = docFilter match {
          case Some(p) => docs.filter(p).map(d => (d.shard, d.docId, false))
          case None => spark.emptyDataset[(Int, Long, Boolean)]
        }
        val deny = tombstones match {
          case Some(t) =>
            docs.join(t.toDF("docId"), Seq("docId"), "left_semi").as[DocMeta]
              .map(d => (d.shard, d.docId, true))
          case None => spark.emptyDataset[(Int, Long, Boolean)]
        }
        val acc = allow.union(deny)
        cand.groupByKey(_.shard).cogroup(acc.groupByKey(_._1)) { (_, bIt, aIt) =>
          val allowSet = new java.util.HashSet[java.lang.Long]()
          val denySet = new java.util.HashSet[java.lang.Long]()
          aIt.foreach { case (_, d, isDeny) =>
            if (isDeny) denySet.add(d) else allowSet.add(d)
          }
          wand(bIt, new Wand.DocFilter(allowAll, allowSet, denySet))
        }
      }
    // global merge: tiny (numShards × k rows) — TakeOrderedAndProject
    localTopK.toDF().orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Threshold query: all docs with score >= tau (jvector's similarity
    * threshold search, GraphSearcher.java:112-115 — exact here). */
  def searchThreshold(query: String, tau: Double): DataFrame = {
    val plan = queryPlan(query)
    if (plan.isEmpty) return emptyResult
    val planB = spark.sparkContext.broadcast(plan)
    val avgdl = stats.avgdl
    perShard(candidateBlocks(plan.keys.toSeq)) { it =>
      Wand.threshold(Searcher.pack(it), planB.value, tau, avgdl, Wand.DocFilter.All, null)
    }.toDF()
  }

  /** Batch search: one shared pass over the candidate blocks scores every
    * query (jvector's parallel batch driver, SiftSmall.java:92-113, as a
    * shared-scan: terms of all queries broadcast together; each shard's
    * term map is built once and serves every query). */
  def searchAll(queries: Seq[(Int, String)], k: Int): DataFrame = {
    val plans = queries.map { case (qid, q) => (qid, queryPlan(q)) }
      .filter(_._2.nonEmpty)
    if (plans.isEmpty) return spark.emptyDataset[(Int, Long, Double)]
      .toDF("queryId", "docId", "score")
    val plansB = spark.sparkContext.broadcast(plans)
    val allTerms = plans.flatMap(_._2.keys).distinct
    val avgdl = stats.avgdl
    val kk = k
    val local = perShard(candidateBlocks(allTerms)) { it =>
      val store = Searcher.pack(it)
      plansB.value.iterator.flatMap { case (qid, plan) =>
        Wand.topK(store, plan, kk, avgdl, Wand.DocFilter.All, null, null)
          .iterator.map(sd => (qid, sd.docId, sd.score))
      }
    }.toDF("queryId", "docId", "score")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"queryId").orderBy($"score".desc, $"docId".asc)
    local.withColumn("rank", row_number().over(w)).filter($"rank" <= k)
  }

  /** Batch search over a DATASET of queries — the query-log-scale driver
    * (SURVEY §2.6; [[searchAll]] is its driver-side sibling for small
    * interactive batches). Fully distributed: queries tokenize executor-
    * side, meet the dictionary in a term equi-join to form per-(query,
    * term) plans, meet the blocks in a second term equi-join, and one WAND
    * runs per (query, shard) group. Shuffle is O(Σ_q candidate blocks of
    * q) — blocks never replicate to queries that don't contain their term,
    * and no per-query driver work exists at all. Scores are computed with
    * the same kernels as [[search]], so results are value-identical. */
  def searchMany(queries: Dataset[(Int, String)], k: Int,
                 pruneTermCap: Int = InvertedIndex.SearchManyPruneCap): DataFrame = {
    if (k <= 0) return spark.emptyDataset[(Int, Long, Double)]
      .toDF("queryId", "docId", "score")
    val n = stats.numDocs
    val avgdl = stats.avgdl
    val kk = k
    val qterms = queries.flatMap { case (qid, q) =>
      Text.tokenize(q).distinct.map(t => (qid, t))
    }.toDF("queryId", "qterm")
    // small-query-log fast path: when the batch's distinct term set fits
    // the cap, collect it once and (a) push the SAME bucket+term isin
    // filters into the block scan that the single-query path uses —
    // parquet row-group/page pruning, so the scan never reads postings of
    // terms outside the log — and (b) broadcast the tiny qplan join side,
    // so candidate blocks don't shuffle for the equi-join. An over-cap
    // log skips the collect and keeps the pure shuffle-join shape.
    val distinctTerms = qterms.select($"qterm").distinct()
      .limit(pruneTermCap + 1).as[String].collect()
    val small = distinctTerms.length <= pruneTermCap
    val blocksSrc = if (small) candidateBlocks(distinctTerms.toIndexedSeq) else blocks
    val qplan = qterms
      .join(dict.toDF(), $"qterm" === $"term")
      .select($"queryId", $"term", $"df", $"maxTf", $"minDl")
      .as[(Int, String, Long, Int, Int)]
      .map { case (qid, t, df, maxTf, minDl) =>
        val (idf, ub) = InvertedIndex.idfUb(df, maxTf, minDl, n, avgdl)
        (qid, t, idf, ub)
      }.toDF("queryId", "term", "idf", "ub")
    val qplanSide = if (small) broadcast(qplan) else qplan
    val cand = blocksSrc.joinWith(qplanSide.as[(Int, String, Double, Double)],
      blocksSrc("term") === qplanSide("term"))
    cand.groupByKey { case (b, p) => (p._1, b.shard) }
      .flatMapGroups { (key: (Int, Int),
                        it: Iterator[(Block, (Int, String, Double, Double))]) =>
        val qid = key._1
        val rows = it.toArray
        val plan = rows.map { case (_, (_, t, idf, ub)) => t -> (idf, ub) }.toMap
        Wand.topK(Searcher.pack(rows.iterator.map(_._1)), plan, kk, avgdl,
          Wand.DocFilter.All, null, null).iterator.map(sd => (qid, sd.docId, sd.score))
      }
      .toDF("queryId", "docId", "score")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"queryId").orderBy($"score".desc, $"docId".asc)))
      .filter($"rank" <= k).drop("rank")
  }

  /** Compaction (jvector cleanup()/removeDeletedNodes,
    * GraphIndexBuilder.java:437-531 — touches only affected nodes): rewrite
    * blocks dropping tombstoned docs, recompute dictionary + stats.
    * Returns a new index.
    *
    * Fully distributed — no driver-side tombstone state: the tombstone set
    * is semi-joined with docs to (shard, docId) rows and cogrouped with the
    * blocks of its shard (the same co-location the search deny-set path
    * uses), so each task sees only its shard's dead ids. A block is decoded
    * ONLY if its stored [firstDocId, lastDocId] range intersects a dead id
    * (binary search over the per-shard sorted dead array); everything else
    * passes through byte-identical. Block-max metadata is integer
    * (maxTf, minDl), so the new avgdl never forces a stats-driven rewrite. */
  def compact(tombstones: Dataset[Long],
              metrics: InvertedIndex.CompactMetrics = null,
              broadcastCap: Int = InvertedIndex.CompactBroadcastCap): InvertedIndex = {
    val newDocs = docs.join(tombstones.toDF("docId"), Seq("docId"), "left_anti")
      .as[DocMeta].persist()
    val nd = newDocs.count()
    val totTok = if (nd == 0) 0L else newDocs.agg(sum($"docLen")).as[Long].head()
    val newAvg = if (nd == 0) 0.0 else totTok.toDouble / nd
    val deadByShard = docs.join(tombstones.toDF("docId"), Seq("docId"), "left_semi")
      .as[DocMeta].map(d => (d.shard, d.docId))
    val accPass = spark.sparkContext.longAccumulator("compact.passthrough")
    val accRewrite = spark.sparkContext.longAccumulator("compact.rewritten")
    // hybrid dead-set distribution: the usual case (a deletion batch far
    // smaller than the corpus) broadcasts per-shard sorted dead arrays and
    // rewrites blocks in a NARROW map — zero exchange of the block table.
    // Only a dead set too big to broadcast pays the shard cogroup, which
    // stays the correct 100 TB shape (each task sees only its shard's
    // dead ids, no driver state).
    val newBlocks =
      if (tombstones.limit(broadcastCap + 1).count() <= broadcastCap) {
        val deadMap = deadByShard.collect().groupBy(_._1).map { case (s, arr) =>
          val a = arr.map(_._2); java.util.Arrays.sort(a); s -> a
        }
        val deadB = spark.sparkContext.broadcast(deadMap)
        blocks.mapPartitions(_.flatMap { b =>
          InvertedIndex.compactBlock(b,
            deadB.value.getOrElse(b.shard, Array.emptyLongArray),
            accPass, accRewrite)
        })
      } else {
        blocks.groupByKey(_.shard)
          .cogroup(deadByShard.groupByKey(_._1)) { (_, bIt, dIt) =>
            val dead = dIt.map(_._2).toArray
            java.util.Arrays.sort(dead)
            if (dead.isEmpty) bIt.map { b => accPass.add(1); b }
            else bIt.flatMap(InvertedIndex.compactBlock(_, dead, accPass, accRewrite))
          }
      }
    newBlocks.persist()
    val newDict = IndexBuilder.dictFromBlocks(spark, newBlocks)
    if (metrics != null) { // force once so the accumulators are final
      newBlocks.count()
      metrics.passthrough = accPass.value
      metrics.rewritten = accRewrite.value
    }
    InvertedIndex(spark, newDocs, newBlocks, newDict.persist(),
      IndexStats(nd, totTok, newAvg, stats.numShards))
  }

  /** Persist the index as a new snapshot of the segment catalog at `dir`
    * (jvector OnDiskGraphIndexWriter analog; format versioned from day
    * one, Header.java:55-67). On a fresh dir this commits v1; on an
    * existing catalog it commits a full-rewrite snapshot (the previous
    * version stays readable until [[SegmentCatalog.expireSnapshots]]) —
    * which is exactly how a compacted index replaces its source in place:
    * `ix.compact(dead).save(dir)` is a snapshot swap, not a dir mutation. */
  def save(dir: String): Unit = {
    val prev = SegmentCatalog.currentVersion(spark, dir)
      .map(v => SegmentCatalog.readSnapshot(spark, dir, v))
    val v = prev.map(_.version).getOrElse(0L) + 1
    val cid = s"w$v" // writer-owned chunk id: never collides across versions
    SegmentCatalog.writeBlocksChunk(blocks, dir, cid)
    SegmentCatalog.writeDocsChunk(docs, dir, cid)
    SegmentCatalog.writeDict(dict, dir, v)
    SegmentCatalog.commit(spark, dir, SegmentCatalog.Snapshot(
      version = v, parent = v - 1, op = if (v == 1) "save" else "rewrite",
      tsMs = System.currentTimeMillis(), formatVersion = SegmentCatalog.FormatVersion,
      blockChunks = Seq(cid), docChunks = Seq(cid), dictVersion = v,
      stats = stats,
      // rewrite onto an existing table must carry the streaming replay
      // mark and docId allocation high-water mark FORWARD — a compaction
      // shrinks numDocs, never the id space or the batch history. The
      // mark is derived from the DATA (max surviving docId + 1), not
      // numDocs: compacting into a FRESH dir has no parent snapshot, and
      // its numDocs undercounts a sparse id space — a later append would
      // re-issue surviving ids, breaking the disjoint-range invariant
      // prepared/HotIndex co-location relies on
      maxStreamBatch = prev.map(_.maxStreamBatch).getOrElse(-1L),
      streamId = prev.map(_.streamId).getOrElse(""),
      nextDocId = {
        val dataHwm =
          if (stats.numDocs == 0) 0L
          else docs.agg(max($"docId")).as[Long].head() + 1L
        math.max(dataHwm, prev.map(_.nextDocId).getOrElse(0L))
      }))
  }

  /** Release this index's cached datasets. Call on the OLD index after a
    * compact/refresh swap — a long-lived serving session that compacts
    * repeatedly would otherwise accumulate one cached copy of blocks +
    * dict per generation (no-op on anything not persisted). */
  def unpersist(): Unit = {
    docs.unpersist(); blocks.unpersist(); dict.unpersist()
  }
}

object InvertedIndex {
  /** Default hot-dict size: 4M terms ≈ 250 MB driver heap — covers the
    * full vocab of a web corpus's head by orders of magnitude (query terms
    * are Zipf-distributed; tail misses fall back to a dict scan). */
  val DefaultHotDictCap = 4000000

  /** Distinct-term count up to which [[InvertedIndex.searchMany]] collects
    * the query log's term set for scan pushdown + a broadcast plan join.
    * Sized so the isin literal list stays cheap to plan (~1k strings). */
  val SearchManyPruneCap = 1024

  /** Tombstone count up to which [[InvertedIndex.compact]] broadcasts the
    * per-shard dead arrays (~8 MB of longs at the cap) instead of
    * cogrouping the whole block table by shard. */
  val CompactBroadcastCap = 1000000

  /** A term's query-plan constants: (idf, idf · tf-part bound at the
    * term's global (maxTf, minDl)) — the ADC-style precompute every BM25
    * plan uses, driver-side ([[InvertedIndex.queryPlanFor]]) and
    * executor-side ([[InvertedIndex.searchMany]]). */
  private[graft] def idfUb(df: Long, maxTf: Int, minDl: Int,
                           numDocs: Long, avgdl: Double): (Double, Double) = {
    val idf = Text.idf(df, numDocs)
    (idf, idf * Text.tfPartial(maxTf, minDl.toLong, avgdl))
  }

  /** Rewrite one block against a SORTED dead-id array: pass it through
    * untouched (no decode) unless its [firstDocId, lastDocId] range
    * intersects a dead id. Static so both compact paths share it without
    * capturing the (non-serializable) index in their closures. */
  private[index] def compactBlock(b: Block, dead: Array[Long],
      accPass: org.apache.spark.util.LongAccumulator,
      accRewrite: org.apache.spark.util.LongAccumulator): Iterator[Block] = {
    // first dead id >= lo, then check it is <= hi
    def intersects(lo: Long, hi: Long): Boolean = {
      var a = 0; var b = dead.length
      while (a < b) { val m = (a + b) >>> 1; if (dead(m) < lo) a = m + 1 else b = m }
      a < dead.length && dead(a) <= hi
    }
    if (dead.isEmpty || !intersects(b.firstDocId, b.lastDocId)) {
      accPass.add(1); Iterator(b)
    } else {
      accRewrite.add(1)
      val ids = graft.core.Codec.decodeDocIds(b.docBytes, -1L)
      val tfs = graft.core.Codec.decodeTfs(b.tfBytes)
      val dls = graft.core.Codec.decodeTfs(b.dlBytes)
      val keep = ids.indices.filter(i =>
        java.util.Arrays.binarySearch(dead, ids(i)) < 0)
      if (keep.isEmpty) Iterator.empty
      else Iterator(IndexBuilder.encodeBlock(b.term, b.shard,
        keep.map(ids).toArray, keep.map(tfs).toArray, keep.map(dls).toArray))
    }
  }

  /** Block-touch counters from one [[InvertedIndex.compact]] run — lets
    * callers (and tests) assert that range skipping passed untouched blocks
    * through without decoding them. */
  final class CompactMetrics { var passthrough = 0L; var rewritten = 0L }

  /** Load a catalog snapshot (default: current; pass `version` for time
    * travel to any unexpired snapshot). */
  def load(spark: SparkSession, dir: String,
           version: Option[Long] = None): InvertedIndex =
    SegmentCatalog.load(spark, dir, version)
}

/** Executor-side glue between block sets and the WAND kernel: every BM25
  * search — [[HotIndex]] partitions (shards packed, then merged) and
  * DataFrame shard groups alike — packs its blocks with [[pack]] and
  * resolves its plan with [[plan]], so
  * the pinned layout, the term set and the term-sorted cursor order (which
  * fixes the fp summation order, hence bit-identical scores across paths)
  * are decided in one place. */
private[graft] object Searcher {

  /** One partition's (or shard group's) blocks as one immutable column
    * store: blocks grouped by term, each term's run sorted by firstDocId,
    * block metadata in primitive arrays and every payload byte in one
    * array. Pinned, a block costs its ~32 B of metadata plus its payload,
    * not a `Block` object with three byte arrays and a term string.
    * @param terms sorted term index: term `terms(r)` owns range r (empty
    *   for a ranges-only store, addressed by position)
    * @param start range r is blocks `start(r) until start(r + 1)`
    * @param off block i's `docBytes ++ tfBytes ++ dlBytes` start at
    *   `payload(off(i))`; each section holds `n(i)` varbytes, so decoding
    *   needs no per-section offsets */
  final class Store private[Searcher] (
      val terms: Array[String],
      val start: Array[Int],
      val first: Array[Long],
      val last: Array[Long],
      val maxTf: Array[Int],
      val minDl: Array[Int],
      val n: Array[Int],
      val off: Array[Int],
      val payload: Array[Byte]) extends Serializable {
    /** The range holding `term`'s blocks, or -1 when there are none. */
    def range(term: String): Int =
      math.max(-1, java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term))

    /** Pinned size as a partition budget counts it: the payload plus the
      * block metadata arrays (`first`, `last`, `maxTf`, `minDl`, `n`,
      * `off`). Both add up exactly across [[merge]]; the term index does
      * not, since stores share terms. */
    def bytes: Long = payload.length + MetaBytesPerBlock * first.length

    /** Bytes of block `i`'s payload: blocks are laid out in index order. */
    private[Searcher] def payloadEnd(i: Int): Int =
      if (i + 1 < off.length) off(i + 1) else payload.length
  }

  /** Bytes of metadata a store holds per block: two longs, four ints. */
  val MetaBytesPerBlock = 32L

  /** Largest payload one store can address (an `Array[Byte]` index). */
  private val MaxPayload = Int.MaxValue - 8

  /** A store never splits a shard, so only a rebuild with more (hence
    * smaller) shards gets under the cap. */
  private def requireAddressable(bytes: Long): Unit =
    require(bytes <= MaxPayload,
      s"$bytes bytes of postings in one store, over the 2 GiB a packed store " +
      "can address; a store holds whole shards, so rebuild the index with more shards")

  private val byFirstDocId: java.util.Comparator[Block] =
    (a: Block, b: Block) => java.lang.Long.compare(a.firstDocId, b.firstDocId)

  /** Pack one partition's blocks: one grouping pass by term, the term keys
    * sorted once, each term's blocks sorted by firstDocId, then one copy. */
  def pack(it: Iterator[Block]): Store = {
    val byTerm = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Block]]()
    it.foreach { b =>
      byTerm.computeIfAbsent(b.term, _ => new scala.collection.mutable.ArrayBuffer[Block](2)) += b
    }
    val terms = byTerm.keySet.toArray(new Array[String](0))
    java.util.Arrays.sort(terms.asInstanceOf[Array[AnyRef]])
    copy(terms, terms.map { t =>
      val bs = byTerm.get(t).toArray
      if (bs.length > 1) java.util.Arrays.sort(bs, byFirstDocId)
      bs
    })
  }

  /** Pack runs already sorted by firstDocId as ranges, range r = `runs(r)`,
    * with no term index: the `Array[Block]` entry points of [[Wand]]. */
  def pack(runs: Seq[Array[Block]]): Store = copy(Array.empty[String], runs.toArray)

  private def copy(terms: Array[String], runs: Array[Array[Block]]): Store = {
    val start = new Array[Int](runs.length + 1)
    var bytes = 0L
    var r = 0
    while (r < runs.length) {
      start(r + 1) = start(r) + runs(r).length
      runs(r).foreach(b => bytes += b.docBytes.length + b.tfBytes.length + b.dlBytes.length)
      r += 1
    }
    requireAddressable(bytes)
    val nb = start(runs.length)
    val first, last = new Array[Long](nb)
    val maxTf, minDl, n, off = new Array[Int](nb)
    val payload = new Array[Byte](bytes.toInt)
    var i = 0
    var o = 0
    def put(bs: Array[Byte]): Unit = {
      System.arraycopy(bs, 0, payload, o, bs.length); o += bs.length
    }
    runs.foreach(_.foreach { b =>
      first(i) = b.firstDocId; last(i) = b.lastDocId
      maxTf(i) = b.maxTf; minDl(i) = b.minDl; n(i) = b.n; off(i) = o
      put(b.docBytes); put(b.tfBytes); put(b.dlBytes)
      i += 1
    })
    new Store(terms, start, first, last, maxTf, minDl, n, off, payload)
  }

  /** Merge stores into the one [[pack]] would build from all their
    * blocks: the sorted term indexes merge, and each term's blocks merge
    * by firstDocId across the stores that hold the term. Any split of a
    * block set into stores merges back the same way: a term's blocks never
    * share a docId, so firstDocId orders them totally. One store is
    * returned as it is. */
  def merge(stores: IndexedSeq[Store]): Store = {
    if (stores.length == 1) return stores(0)
    val in = stores.toArray
    val k = in.length
    val bytes = in.map(_.payload.length.toLong).sum
    requireAddressable(bytes)
    val nb = in.map(_.first.length).sum
    val first, last = new Array[Long](nb)
    val maxTf, minDl, n, off = new Array[Int](nb)
    val payload = new Array[Byte](bytes.toInt)
    val terms = Array.newBuilder[String]
    val start = Array.newBuilder[Int]
    val next = new Array[Int](k)    // each store's next range
    val at, end = new Array[Int](k) // each store's blocks of the current term
    var i = 0
    var o = 0
    var more = true
    while (more) {
      var t: String = null
      var s = 0
      while (s < k) {
        val ts = in(s).terms
        if (next(s) < ts.length && (t == null || ts(next(s)).compareTo(t) < 0)) t = ts(next(s))
        s += 1
      }
      more = t != null
      if (more) {
        terms += t
        start += i
        s = 0
        while (s < k) {
          val st = in(s)
          val r = next(s)
          if (r < st.terms.length && st.terms(r) == t) {
            at(s) = st.start(r); end(s) = st.start(r + 1); next(s) = r + 1
          } else { at(s) = 0; end(s) = 0 }
          s += 1
        }
        var b = 0
        while (b >= 0) {
          b = -1
          s = 0
          while (s < k) {
            if (at(s) < end(s) && (b < 0 || in(s).first(at(s)) < in(b).first(at(b)))) b = s
            s += 1
          }
          if (b >= 0) {
            val st = in(b)
            val j = at(b)
            first(i) = st.first(j); last(i) = st.last(j)
            maxTf(i) = st.maxTf(j); minDl(i) = st.minDl(j); n(i) = st.n(j); off(i) = o
            val len = st.payloadEnd(j) - st.off(j)
            System.arraycopy(st.payload, st.off(j), payload, o, len)
            o += len; i += 1; at(b) = j + 1
          }
        }
      }
    }
    start += i
    new Store(terms.result(), start.result(), first, last, maxTf, minDl, n, off, payload)
  }

  /** One query's (idf, ub, range) cursor inputs from a store, in term
    * order; a shared-scan store may hold terms the query does not contain,
    * and a query term the store lacks drops out. */
  def plan(q: Map[String, (Double, Double)], s: Store): Seq[(Double, Double, Int)] =
    q.toSeq.sortBy(_._1).flatMap { case (t, (idf, ub)) =>
      val r = s.range(t)
      if (r < 0) None else Some((idf, ub, r))
    }
}
