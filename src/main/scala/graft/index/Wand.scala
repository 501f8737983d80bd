package graft.index

import graft.core.{Codec, DoubleTopK, Text}

/** Executor-local Block-Max WAND scorer over one doc-shard's posting
  * blocks — the engine's re-expression of jvector's greedy best-first
  * top-k search with early termination (graph/GraphSearcher.java:245-306:
  * bounded result heap, stop when best-possible < current-kth). Here the
  * same "upper bound vs θ" logic drives exact block skipping: a block is
  * decoded only if the idf·tf-part bound of the blocks covering the pivot can
  * still beat θ, so payload bytes for skipped blocks are never read. The
  * cursors run over a packed [[Searcher.Store]]: block metadata in
  * primitive columns, apart from one payload array (the locality idea of
  * jvector's FusedADC layout, graph/disk/FusedADC.java:87-106), so a skip
  * touches only the metadata columns.
  *
  * Two kinds of entry point share the loop: the store ones (every engine
  * path: [[HotIndex]] partitions, DataFrame shard groups) and the
  * `Seq[(idf, ub, Array[Block])]` ones, which pack their input as ranges
  * in the order given and run the same cursors.
  *
  * Every BM25 search runs ONE pivot/skip loop; only its sink differs
  * (one loop, like jvector's GraphSearcher.search serving top-k, threshold
  * and resume): [[topK]] keeps a bounded heap whose k-th score is θ and
  * applies the pagination cursor on offer; [[threshold]] pins θ just below
  * τ and keeps every doc scoring >= τ.
  *
  * All scores are exact doubles; pruning uses true upper bounds, so the
  * result is rank-identical to brute force (no approximate stop needed —
  * unlike the reference's probabilistic ScoreTracker.java:80-96).
  */
object Wand {

  /** Per-term cursor over one range of a packed [[Searcher.Store]] (the
    * term's blocks, firstDocId ascending). Block metadata is read from the
    * store's primitive columns; `shallowTo` moves over it only. A block's
    * payload decodes lazily, on first deep access, in place into three
    * buffers reused for every block — nothing is allocated per block. The
    * buffers are sized to the term's largest block on the first decode, so
    * a cursor that decodes nothing allocates nothing. */
  final class TermCursor(val idf: Double, val ub: Double,
                         s: Searcher.Store, range: Int, avgdl: Double) {
    private val begin = s.start(range)
    private val end = s.start(range + 1)
    private var bi = begin
    private var pi = 0
    private var pn = 0 // postings in the decoded block
    private var decodedBi = -1
    private var bmBi = -1
    private var bm = 0.0
    private var ids: Array[Long] = null
    private var tfs: Array[Long] = null
    private var dls: Array[Long] = null
    var decodedBlocks = 0L // metric: blocks actually decoded (vs skipped)

    def blocks: Int = end - begin

    @inline private def exhausted: Boolean = bi >= end

    private def decode(): Unit = if (decodedBi != bi) {
      if (ids == null) {
        var m = 0
        var i = begin
        while (i < end) { m = math.max(m, s.n(i)); i += 1 }
        ids = new Array[Long](m); tfs = new Array[Long](m); dls = new Array[Long](m)
      }
      pn = s.n(bi)
      val o = Codec.readDocIds(s.payload, s.off(bi), pn, -1L, ids)
      Codec.readTfs(s.payload, Codec.readTfs(s.payload, o, pn, tfs), pn, dls)
      decodedBi = bi
      decodedBlocks += 1
      pi = 0
    }

    def curDoc: Long =
      if (exhausted) Long.MaxValue
      else if (decodedBi == bi) ids(pi)
      else s.first(bi)

    /** Upper bound of this term's contribution for any doc in the current
      * block (exact block-max, evaluated under the CURRENT avgdl from the
      * stored (maxTf, minDl) integers), computed once per block. */
    def blockMax: Double =
      if (exhausted) 0.0
      else {
        if (bmBi != bi) {
          bm = idf * Text.tfPartial(s.maxTf(bi), s.minDl(bi).toLong, avgdl)
          bmBi = bi
        }
        bm
      }

    def blockLast: Long = if (exhausted) Long.MaxValue else s.last(bi)

    def score: Double = { decode(); idf * Text.tfPartial(tfs(pi).toInt, dls(pi), avgdl) }

    /** Advance block pointer so blockLast >= target; metadata only. */
    def shallowTo(target: Long): Unit =
      while (!exhausted && s.last(bi) < target) { bi += 1 }

    /** Advance to first posting with docId >= target. Stays metadata-only
      * when the landing block's firstDocId already satisfies the target —
      * a skip that lands at a block boundary never decodes the payload
      * (decode defers to the first deep access), so chained block skips
      * touch only block headers. */
    def advanceTo(target: Long): Unit = {
      shallowTo(target)
      if (!exhausted && !(decodedBi != bi && s.first(bi) >= target)) {
        decode()
        if (ids(pi) < target) {
          var lo = pi; var hi = pn
          while (lo < hi) { // first index with ids >= target
            val mid = (lo + hi) >>> 1
            if (ids(mid) < target) lo = mid + 1 else hi = mid
          }
          pi = lo
          if (pi >= pn) { bi += 1; advanceTo(target) }
        }
      }
    }

    def next(): Unit = {
      decode()
      pi += 1
      if (pi >= pn) { bi += 1; pi = 0 }
    }
  }

  /** Accept/deny predicate over docIds for filtered search + tombstones
    * (jvector's Bits acceptOrds, util/Bits.java:32-96). */
  final class DocFilter(allowAll: Boolean, allow: java.util.HashSet[java.lang.Long],
                        deny: java.util.HashSet[java.lang.Long]) extends Serializable {
    @inline def accepts(d: Long): Boolean =
      (allowAll || allow.contains(d)) && !deny.contains(d)
  }
  object DocFilter {
    val All = new DocFilter(true, new java.util.HashSet(), new java.util.HashSet())
  }

  /** Block-decode counters, ADDED TO by every [[topK]] / [[threshold]]
    * call that receives them — lets callers (and tests) assert that
    * block-max pruning actually skipped payloads. */
  final class SearchStats { var decodedBlocks = 0L; var totalBlocks = 0L }

  /** Exact top-k BM25 over one shard.
    * @param termBlocks per query term: (idf, ub, blocks sorted by firstDocId)
    * @param after pagination cursor (jvector GraphSearcher.resume:223-311
    *   analog, stateless): only docs ranking strictly AFTER (score desc,
    *   docId asc) this hit enter the heap — searchAfter(page-N-last) is
    *   exactly page N+1. Pruning stays exact: θ comes from the heap of
    *   post-cursor hits only, so no qualifying doc is ever skipped.
    * @return hits (score desc, docId asc), at most k
    */
  def topK(termBlocks: Seq[(Double, Double, Array[Block])], k: Int,
           avgdl: Double, filter: DocFilter = DocFilter.All,
           after: ScoredDoc = null,
           stats: SearchStats = null): Array[ScoredDoc] = {
    val top = new Top(k, after)
    run(Searcher.pack(termBlocks.map(_._3)), ranges(termBlocks), avgdl, filter, stats, top)
    top.drain()
  }

  /** [[topK]] over a packed store: `plan` (term -> (idf, ub)) resolves to
    * the store's term ranges through [[Searcher.plan]]. */
  private[graft] def topK(s: Searcher.Store, plan: Map[String, (Double, Double)], k: Int,
                          avgdl: Double, filter: DocFilter, after: ScoredDoc,
                          stats: SearchStats): Array[ScoredDoc] = {
    val top = new Top(k, after)
    run(s, Searcher.plan(plan, s), avgdl, filter, stats, top)
    top.drain()
  }

  /** All docs with BM25 score >= tau over one shard, in docId order
    * (threshold query, the analog of jvector's similarity-threshold search
    * GraphSearcher.java:112-115 — but exact here): any run of blocks whose
    * Σ blockMax < τ is jumped over without decoding its payload bytes, so
    * threshold queries over frequent terms touch only blocks that can
    * reach τ. */
  def threshold(termBlocks: Seq[(Double, Double, Array[Block])], tau: Double,
                avgdl: Double, filter: DocFilter = DocFilter.All,
                stats: SearchStats = null): Iterator[ScoredDoc] = {
    val atLeast = new AtLeast(tau)
    run(Searcher.pack(termBlocks.map(_._3)), ranges(termBlocks), avgdl, filter, stats, atLeast)
    atLeast.out.iterator
  }

  /** [[threshold]] over a packed store (see the store [[topK]]). */
  private[graft] def threshold(s: Searcher.Store, plan: Map[String, (Double, Double)],
                               tau: Double, avgdl: Double, filter: DocFilter,
                               stats: SearchStats): Iterator[ScoredDoc] = {
    val atLeast = new AtLeast(tau)
    run(s, Searcher.plan(plan, s), avgdl, filter, stats, atLeast)
    atLeast.out.iterator
  }

  /** The `Array[Block]` entries' cursor inputs: range i of the store they
    * pack is their i-th term, in the order given. */
  private def ranges(termBlocks: Seq[(Double, Double, Array[Block])]): Seq[(Double, Double, Int)] =
    termBlocks.indices.map(i => (termBlocks(i)._1, termBlocks(i)._2, i))

  /** Where the loop puts a scored doc, and the bar θ a doc's upper bound
    * must strictly beat to be worth scoring. */
  private sealed abstract class Sink {
    def theta: Double
    def offer(s: Double, d: Long): Unit
  }

  /** Top-k: θ rises with the heap's k-th score. */
  private final class Top(k: Int, after: ScoredDoc) extends Sink {
    val heap = new DoubleTopK(k)
    def theta: Double = heap.threshold
    def offer(s: Double, d: Long): Unit =
      if (after == null || s < after.score || (s == after.score && d > after.docId))
        heap.offer(s, d)
    def drain(): Array[ScoredDoc] = heap.drain().map { case (s, d) => ScoredDoc(d, s) }
  }

  /** Threshold: θ fixed at nextDown(τ), since for doubles
    * x > nextDown(τ) ⇔ x >= τ — a bound that can REACH τ qualifies. */
  private final class AtLeast(tau: Double) extends Sink {
    val out = scala.collection.mutable.ArrayBuffer[ScoredDoc]()
    val theta: Double = Math.nextDown(tau)
    def offer(s: Double, d: Long): Unit = if (s >= tau) out += ScoredDoc(d, s)
  }

  /** The pivot/skip loop. Pivot: first doc-sorted cursor prefix whose Σ ub
    * beats θ (strict: for top-k a later candidate has a larger docId, so
    * a score tie loses the tie-break). Skip: when the block maxima at the
    * pivot cannot beat θ, jump past the nearest block end undecoded. */
  private def run(store: Searcher.Store, terms: Seq[(Double, Double, Int)], avgdl: Double,
                  filter: DocFilter, stats: SearchStats, sink: Sink): Unit = {
    val cursors = terms
      .map { case (idf, ub, r) => new TermCursor(idf, ub, store, r, avgdl) }
      .toArray
    val order = cursors.indices.toArray // sorted by curDoc each round
    var done = cursors.isEmpty

    while (!done) {
      // sort cursor order by current doc (tiny: |query terms| — insertion sort)
      var si = 1
      while (si < order.length) {
        val v = order(si); val vd = cursors(v).curDoc
        var sj = si - 1
        while (sj >= 0 && cursors(order(sj)).curDoc > vd) {
          order(sj + 1) = order(sj); sj -= 1
        }
        order(sj + 1) = v
        si += 1
      }

      val theta = sink.theta
      var acc = 0.0
      var pivotIdx = -1
      var i = 0
      while (i < order.length && pivotIdx == -1) {
        acc += cursors(order(i)).ub
        if (acc > theta) pivotIdx = i
        i += 1
      }

      if (pivotIdx == -1 || cursors(order(pivotIdx)).curDoc == Long.MaxValue) {
        done = true
      } else {
        val pivotDoc = cursors(order(pivotIdx)).curDoc
        // extend pivot over cursors tied at pivotDoc: they contribute to
        // its score, so the block-max check must include them
        while (pivotIdx + 1 < order.length &&
               cursors(order(pivotIdx + 1)).curDoc == pivotDoc) pivotIdx += 1
        // block-max refinement: shallow-position blocks at pivotDoc.
        // NOTE shallowTo may push a cursor's curDoc PAST pivotDoc (its
        // remaining blocks all start later); such cursors contribute 0.
        var bmSum = 0.0
        var j = 0
        while (j <= pivotIdx) {
          val c = cursors(order(j)); c.shallowTo(pivotDoc)
          if (c.curDoc <= pivotDoc) bmSum += c.blockMax
          j += 1
        }
        if (bmSum <= theta) {
          // no doc in these blocks can beat θ: jump past the nearest block
          // end (payloads of skipped blocks are never decoded)
          var d = Long.MaxValue
          var j2 = 0
          while (j2 <= pivotIdx) {
            val c = cursors(order(j2))
            if (c.curDoc <= pivotDoc) d = math.min(d, c.blockLast)
            j2 += 1
          }
          var target = if (d == Long.MaxValue) pivotDoc + 1 else d + 1
          // cap the jump by EVERY cursor already past the pivot — including
          // cursors that drifted there during shallow positioning (their
          // upcoming blocks were not in bmSum, so docs they cover from
          // their curDoc on cannot be skipped). target stays > pivotDoc.
          var jn = 0
          while (jn < order.length) {
            val cd = cursors(order(jn)).curDoc
            if (cd > pivotDoc && cd < target) target = cd
            jn += 1
          }
          // advance everything below target (the pivot cursor is < target,
          // so at least one cursor moves: guaranteed progress)
          var j3 = 0
          while (j3 < order.length) {
            val c = cursors(order(j3))
            if (c.curDoc < target) c.advanceTo(target)
            j3 += 1
          }
        } else {
          // bring every lagging cursor up to the pivot (WAND invariant:
          // no doc below pivotDoc can beat θ, so nothing is skipped)
          var moved = false
          var j4 = 0
          while (j4 < order.length) {
            val c = cursors(order(j4))
            if (c.curDoc < pivotDoc) { c.advanceTo(pivotDoc); moved = true }
            j4 += 1
          }
          if (!moved) {
            // all cursors >= pivotDoc; the pivot cursor itself sits exactly
            // on pivotDoc (shallowTo never moves a cursor off its current
            // doc), so score it and step those cursors — progress
            if (filter.accepts(pivotDoc)) {
              // sum in cursor-array (term-sorted) order, NOT doc-sorted
              // order: fp addition isn't associative, and ties must break
              // identically for every doc (SURVEY.md §7.3 rank-identity)
              var s = 0.0
              var j5 = 0
              while (j5 < cursors.length) {
                if (cursors(j5).curDoc == pivotDoc) s += cursors(j5).score
                j5 += 1
              }
              sink.offer(s, pivotDoc)
            }
            var j6 = 0
            while (j6 < order.length) {
              if (cursors(order(j6)).curDoc == pivotDoc) cursors(order(j6)).next()
              j6 += 1
            }
          }
        }
      }
    }
    if (stats != null) {
      stats.decodedBlocks += cursors.map(_.decodedBlocks).sum
      stats.totalBlocks += cursors.map(_.blocks.toLong).sum
    }
  }
}
