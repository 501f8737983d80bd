package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import scala.collection.mutable

/** Graph-based ANN: cluster-partitioned navigable-small-world graphs —
  * the Spark-first counterpart of the reference's core data structure
  * (jvector graph/GraphIndexBuilder.java:154-210 insert-and-prune,
  * graph/GraphSearcher.java:245-306 best-first beam search).
  *
  * A monolithic in-memory proximity graph cannot shard: beam search
  * chases edges anywhere in the corpus, so a 10^12-vector graph would
  * need every executor to see every vector. The distributed re-expression
  * keeps the reference's search *shape* (greedy beam over a bounded-degree
  * graph) but bounds it to units an executor can hold:
  *
  *  - PARTITION by coarse k-means cluster (the IVF layer this repo
  *    already has — `Ann.kmeansCentroids`): each cluster's vectors land in
  *    one task, sized by `kCenters` (10^12 vectors / 10^6 centers ≈ 10^6
  *    nodes per graph — an executor-resident unit).
  *  - BUILD one NSW graph per cluster inside `mapPartitions` (no driver
  *    state, no cross-cluster edges): insert nodes in key order; each new
  *    node beam-searches the partial graph (efConstruction frontier) and
  *    links bidirectionally to its `m` nearest; neighbor lists prune to
  *    2m closest when they overflow (GraphIndexBuilder.java's
  *    insert/backlink/prune cycle, minus levels — the cluster layer
  *    replaces HNSW's upper levels as the coarse router).
  *  - SEARCH probes the `nProbe` nearest clusters only (centroid ranking
  *    on the driver, file-level partition pruning on a loaded graph) and
  *    runs the reference-style best-first beam (`ef` frontier) inside
  *    each probed cluster, entering at the cluster's MEDIOID (the node
  *    nearest its routing centroid — jvector refreshes an approximate
  *    medioid entry the same way, GraphIndexBuilder.java:552-576); global
  *    top-k is a tiny sorted merge of nProbe·k candidates. Searches
  *    report `visitedCount` (graph/SearchResult.java:22-53) so
  *    recall-vs-cost curves measure WORK, not just knobs. Every search
  *    (and every `HotAnn` search) is ONE kernel, [[searchCluster]],
  *    varied on two axes only: the Scorer (exact cosine, PQ-ADC or
  *    LVQ-fused — the fused two rerank the beam's survivors exactly, the
  *    reference's SearchScoreProvider split) and the Policy (top-k,
  *    after-cursor, or threshold flood).
  *  - MUTATE incrementally (the reference's core contract —
  *    addGraphNode GraphIndexBuilder.java:314-362, markNodeDeleted /
  *    removeDeletedNodes :427-531): [[append]] inserts new vectors into
  *    only the touched clusters' graphs; [[delete]] tombstones keys that
  *    search then traverses THROUGH but never returns (the `Bits
  *    acceptOrds` pattern, GraphSearcher.java:191,258); [[compact]]
  *    purges tombstones by rebuilding only the affected clusters.
  *
  * Vectors are stored float32 (what the reference stores,
  * vector/types/VectorFloat.java) and widened to double inside every
  * kernel: the arithmetic sees exactly the doubles the old double-array
  * storage saw (the source embeddings are float32), so scores are
  * bit-identical while the resident set and shuffle volume halve.
  *
  * Exactness/recall contract (mirrors `Ann.ivfTopK`'s nProbe == kCenters
  * and `Pq.topK`'s full-rerank gate modes): at nProbe == kCenters and
  * ef >= cluster size the frontier admits every node and the search
  * degenerates to the exact scan — that is the gate configuration, so the
  * DuckDB oracle is brute force. Production knobs (nProbe < kCenters,
  * ef ~ 4k) trade recall for work; NswSpec pins recall@10 on both random
  * and clustered corpora, and the recall-vs-cost curve is recorded in
  * BASELINE.md.
  *
  * Determinism: insertion order, beam tie-breaks, and prune tie-breaks
  * all order by (similarity, then smaller node id) — given the centroids,
  * each cluster's adjacency is a pure function of its member set plus the
  * append history (batch boundaries), so rebuilds reproduce bit-identical
  * graphs. (The centroids themselves inherit `Ann.kmeansCentroids`'
  * contract: the training SAMPLE is partitioning-independent, but
  * partial-sum addition order follows the input partitioning, so exact
  * centroid bits are reproducible for a given input layout — same as the
  * IVF path.)
  */
object Nsw {

  /** On-disk format of a saved graph (meta.json + adj parquet).
    * v2 (round 4): float32 vectors, per-cluster medioid entry flag,
    * tombstone list in meta. v1 graphs load with entry = smallest-key
    * node (the v1 search behavior) and no tombstones. */
  val FormatVersion = 2L

  /** Closure cap on the driver-resident tombstone set (the vector twin of
    * `HotIndex.FilterSetCap`): `Graph.deleted` ships with EVERY search
    * closure, so it is meant for the small-live-deny-set regime —
    * [[compact]] is the durable path for anything bigger. */
  val FilterSetCap = 1000000

  private def requireDenyCapped(deleted: Array[Long]): Unit =
    require(deleted.length <= FilterSetCap,
      s"tombstone set of ${deleted.length} keys exceeds the serving closure " +
      s"cap ($FilterSetCap); Nsw.compact the graph instead of shipping the " +
      "deny set with every query")

  /** Set-membership predicates that stay O(1) in PLAN size: `isin` builds
    * one literal expression per element (driver memory + analysis cost
    * O(|set|) per operation — at the 10^6-cluster target a bulk append or
    * compact can touch 10^4-10^5 clusters), so beyond a small bound the
    * predicate becomes a single deterministic closure over the broadcast-
    * sized Set. The closure form doesn't push into parquet partition
    * pruning, which is why small sets (search probes, nProbe <= 64) keep
    * the literal form. */
  private val InlineSetMax = 64
  private[ops] def inIntSet(c: org.apache.spark.sql.Column,
                            s: Set[Int]): org.apache.spark.sql.Column =
    if (s.size <= InlineSetMax) c.isin(s.toSeq: _*)
    else udf((x: Int) => s.contains(x)).apply(c)
  private[ops] def inLongSet(c: org.apache.spark.sql.Column,
                             s: Set[Long]): org.apache.spark.sql.Column =
    if (s.size <= InlineSetMax) c.isin(s.toSeq: _*)
    else udf((x: Long) => s.contains(x)).apply(c)

  /** @param m             edges added per insert (degree cap = 2m)
    * @param efConstruction beam width while building
    * @param kCenters      coarse clusters = graph partitions
    * @param iters         Lloyd rounds for the coarse centroids */
  final case class Params(m: Int = 8, efConstruction: Int = 48,
                          kCenters: Int = 8, iters: Int = 2)

  /** adj rows: (c: Int, key: Long, v: Array[Float], nbrs: Array[Long],
    * entry: Boolean) — neighbor lists carry KEYS (stable across save/load
    * re-partitioning; search rebuilds the key -> index map per cluster);
    * `entry` marks the cluster's medioid.
    *
    * @param clusterLocal whether every cluster's rows are physically
    *   co-located in one Spark partition. True for in-session builds
    *   (build() repartitions by `c` and persists that layout); FALSE for a
    *   load()ed graph — spark.read splits a big cluster's parquet across
    *   scan partitions (~128 MB splits), and beam-searching a FRAGMENT
    *   silently drops cross-fragment neighbor edges (recall loss). Search
    *   reassembles clusters (one shuffle of only the probed clusters'
    *   rows) whenever this is false.
    * @param deleted tombstoned keys: search traverses through them but
    *   never returns them; [[compact]] purges them. Driver-resident and
    *   broadcast per query — the "small live deny set" regime, with
    *   compaction as the durable path (same design language as the BM25
    *   side's HotIndex deny sets).
    * @param pq when set ([[attachPq]]), adj rows also carry an m-byte PQ
    *   code per node and [[topKFused]] can traverse on ADC lookups
    *   instead of full vectors — the reference's fused-codes layout
    *   (graph/disk/FusedADC.java:87-106 stores neighbor codes inline
    *   with the adjacency for exactly this traversal).
    * @param lvq when set ([[attachLvq]]), adj rows carry per-node LVQ
    *   codes (lu/lbias/lscale) and [[topKFusedLvq]] traverses on the
    *   near-lossless 4x representation — the reference's LVQ-in-graph
    *   layout (graph/disk/LVQ.java wraps the adjacency the same way).
    *   At most one of pq/lvq is attached at a time (each attach re-maps
    *   the rows and drops the other's columns). */
  final case class Graph(adj: DataFrame, centroids: Array[Array[Double]],
                         params: Params, clusterLocal: Boolean = true,
                         deleted: Array[Long] = Array.emptyLongArray,
                         pq: Option[Pq.Model] = None,
                         lvq: Option[Lvq.Model] = None) {
    def unpersist(): Unit = adj.unpersist()
  }

  /** Per-query work metrics (jvector SearchResult.java:22-53): nodes
    * whose vectors were scored, summed over probed clusters. */
  final class SearchMetrics {
    @volatile var visited: Long = 0L
  }

  /** Widening cosine kernels — float32 storage, double arithmetic in the
    * same accumulation order as the codegen CosineSim expression
    * (VectorExprs.scala:95-103), so beam scores are bit-identical to the
    * brute-force scan's (the gate oracle casts the float embeddings to
    * double the same way). */
  private[ops] def cosineQF(a: Array[Double], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val bi = b(i).toDouble
      dot += a(i) * bi; na += a(i) * a(i); nb += bi * bi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private[ops] def cosineFF(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val ai = a(i).toDouble
      val bi = b(i).toDouble
      dot += ai * bi; na += ai * ai; nb += bi * bi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Best-first beam search over nodes [0, n) (GraphSearcher.java:245-306
    * re-expressed): returns (results, visitedCount) where results are up
    * to `ef` ACCEPTED (idx, sim) sorted by (sim desc, idx asc). ef >= n
    * degenerates to the exact scan (the frontier admits every node) — the
    * gate's exact mode. `accept` filters RESULT admission only: the beam
    * traverses through rejected (tombstoned) nodes, exactly the
    * reference's `Bits acceptOrds` contract (GraphSearcher.java:191,258 —
    * deleted nodes keep routing until cleanup()). */
  private[ops] def beamSearchBy(score: Int => Double,
                                adj: Array[Array[Int]], n: Int, entry: Int,
                                ef: Int, accept: (Int, Double) => Boolean = null)
      : (Array[(Int, Double)], Int) = {
    if (n <= 0) return (Array.empty, 0)
    if (ef >= n) return exactScan(score, n, accept)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](FrontierOrder)
    // dequeues the WORST kept result (lowest sim, tie -> larger idx)
    val res = mutable.PriorityQueue.empty[(Double, Int)](FrontierOrder.reverse)
    val visited = new java.util.BitSet(n)
    var visitedCount = 0
    def admit(s: Double, i: Int): Boolean = accept == null || accept(i, s)
    val es = score(entry)
    visited.set(entry)
    visitedCount += 1
    cand.enqueue((es, entry))
    if (admit(es, entry)) res.enqueue((es, entry))
    while (cand.nonEmpty) {
      val (cs, ci) = cand.dequeue()
      if (res.size >= ef && cs < res.head._1) {
        cand.clear() // frontier can't beat the kept set: terminate
      } else {
        val nbrs = adj(ci)
        var j = 0
        while (j < nbrs.length) {
          val nb = nbrs(j)
          if (nb < n && !visited.get(nb)) {
            visited.set(nb)
            visitedCount += 1
            val s = score(nb)
            if (res.size < ef || s > res.head._1) {
              cand.enqueue((s, nb))
              if (admit(s, nb)) {
                res.enqueue((s, nb))
                if (res.size > ef) res.dequeue()
              }
            }
          }
          j += 1
        }
      }
    }
    val out = res.dequeueAll.toArray.map(p => (p._2, p._1))
    java.util.Arrays.sort(out, ResultOrder)
    (out, visitedCount)
  }

  /** The gate mode of both traversals: score every node once, keep the
    * accepted ones, (sim desc, idx asc). */
  private def exactScan(score: Int => Double, n: Int, accept: (Int, Double) => Boolean)
      : (Array[(Int, Double)], Int) = {
    val all = Array.tabulate(n)(i => (i, score(i)))
    val kept = if (accept == null) all else all.filter(p => accept(p._1, p._2))
    java.util.Arrays.sort(kept, ResultOrder)
    (kept, n)
  }

  /** Frontier max-heap order: higher sim first, tie -> smaller idx first. */
  private val FrontierOrder = new Ordering[(Double, Int)] {
    def compare(a: (Double, Int), b: (Double, Int)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else Integer.compare(b._2, a._2)
    }
  }

  private val ResultOrder = new java.util.Comparator[(Int, Double)] {
    def compare(a: (Int, Double), b: (Int, Double)): Int = {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else Integer.compare(a._1, b._1)
    }
  }

  /** Diverse neighbor selection (the reference's occlusion prune,
    * graph/GraphIndexBuilder.java retained-diversity heuristic; same rule
    * as HNSW's SELECT-NEIGHBORS-HEURISTIC): walking candidates best-first,
    * a candidate is kept unless it is closer to an already-kept neighbor
    * than to the base node — occluded edges add no reachability, and in a
    * tight cluster closest-M pruning makes every list point at the same
    * hub set, stranding perimeter nodes (measured: clustered-corpus
    * recall@10 0.8 with closest-M vs 1.0 with this rule). Spilled
    * candidates backfill remaining slots (keep-pruned-connections). */
  private def selectDiverse(cands: Array[(Int, Double)], limit: Int,
                            vecs: Array[Array[Float]]): Array[Int] = {
    val kept = new mutable.ArrayBuffer[Int](limit)
    val spill = new mutable.ArrayBuffer[Int]()
    var t = 0
    while (t < cands.length && kept.size < limit) {
      val (c, simToBase) = cands(t)
      var occluded = false
      var k = 0
      while (!occluded && k < kept.size) {
        if (cosineFF(vecs(c), vecs(kept(k))) > simToBase) occluded = true
        k += 1
      }
      if (occluded) spill += c else kept += c
      t += 1
    }
    (kept ++ spill.take(limit - kept.size)).toArray
  }

  /** Insert node `i` into the partial graph over vecs[0, i): beam-search
    * for natural candidates, diversity-prune, link bidirectionally, prune
    * overflowing neighbor lists (GraphIndexBuilder.addGraphNode:314-362,
    * re-expressed single-threaded per cluster — Spark's task isolation
    * replaces its concurrent-insert protocol). Shared verbatim by the
    * bulk build and [[append]], which is what makes "append ≡ the build
    * having seen those nodes" literal. */
  private def insertNode(vecs: Array[Array[Float]], adj: Array[Array[Int]],
                         i: Int, m: Int, efC: Int): Unit = {
    val maxDeg = 2 * m
    def prune(j: Int): Unit = if (adj(j).length > maxDeg) {
      val scored = adj(j).map(x => (x, cosineFF(vecs(j), vecs(x))))
      java.util.Arrays.sort(scored, ResultOrder)
      adj(j) = selectDiverse(scored, maxDeg, vecs)
    }
    val qd = toDoubles(vecs(i))
    val (cands, _) = beamSearchBy(x => cosineQF(qd, vecs(x)), adj, i, 0, efC)
    val nbrs = selectDiverse(cands, math.min(m, cands.length), vecs)
    var t = 0
    while (t < nbrs.length) {
      val j = nbrs(t)
      adj(i) = adj(i) :+ j
      adj(j) = adj(j) :+ i
      prune(j)
      t += 1
    }
    prune(i)
  }

  /** One cluster's NSW adjacency (insert in index order; callers pass
    * vectors sorted by key so the result depends only on the cluster's
    * membership, not on task scheduling). */
  private[ops] def buildCluster(vecs: Array[Array[Float]],
                                m: Int, efC: Int): Array[Array[Int]] = {
    val n = vecs.length
    val adj = Array.fill(n)(Array.empty[Int])
    var i = 1
    while (i < n) {
      insertNode(vecs, adj, i, m, efC)
      i += 1
    }
    adj
  }

  /** The cluster's medioid: node most similar to the routing centroid
    * (ties -> smaller idx). The search entry point, refreshed on every
    * build/append/compact of the cluster (jvector
    * GraphIndexBuilder.approximateMedioid:552-576). */
  private[ops] def entryOf(vecs: Array[Array[Float]],
                           centroid: Array[Double]): Int = {
    var best = 0
    var bestS = Double.NegativeInfinity
    var i = 0
    while (i < vecs.length) {
      val s = cosineQF(centroid, vecs(i))
      if (s > bestS) { bestS = s; best = i }
      i += 1
    }
    best
  }

  /** One cluster materialized for the per-partition kernels: keys sorted
    * ascending, float32 vectors, index-based adjacency, medioid entry,
    * and the per-node fused codes a [[Scorer]] reads (null when none). */
  private[ops] final case class ClusterArrays(keys: Array[Long],
                                              vecs: Array[Array[Float]],
                                              adj: Array[Array[Int]],
                                              entry: Int,
                                              codes: Array[AnyRef] = null)

  /** Single-pass assembly of one cluster's rows (sorted by key; neighbor
    * KEYS remapped to local indices, cross-cluster strays dropped — they
    * cannot exist in a well-formed graph). Pre-sized, no groupBy/sortBy
    * intermediate copies (round-3 verdict: the old path buffered a
    * partition ~3x). `codes`, when non-empty, is parallel to `rows` and
    * follows the same (stable) key permutation. */
  private[ops] def assemble(rows: mutable.ArrayBuffer[(Long, Array[Float], Array[Long], Boolean)],
                            codes: mutable.ArrayBuffer[AnyRef] = null)
      : ClusterArrays = {
    val sortedCodes =
      if (codes == null || codes.isEmpty) null
      else rows.indices.sortBy(rows(_)._1).map(codes(_)).toArray
    val sorted = rows.sortInPlaceBy(_._1)
    val n = sorted.length
    val keys = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    var i = 0
    while (i < n) { keys(i) = sorted(i)._1; vecs(i) = sorted(i)._2; i += 1 }
    val idxOf = new java.util.HashMap[Long, Integer](n * 2)
    i = 0
    while (i < n) { idxOf.put(keys(i), i); i += 1 }
    val adj = new Array[Array[Int]](n)
    var entry = 0
    i = 0
    while (i < n) {
      val nk = sorted(i)._3
      val buf = new mutable.ArrayBuilder.ofInt
      buf.sizeHint(nk.length)
      var j = 0
      while (j < nk.length) {
        val x = idxOf.get(nk(j))
        if (x != null) buf += x.intValue()
        j += 1
      }
      adj(i) = buf.result()
      if (sorted(i)._4) entry = i
      i += 1
    }
    ClusterArrays(keys, vecs, adj, entry, sortedCodes)
  }

  private val BaseCols = Seq(col("c"), col("key"), col("v"), col("nbrs"), col("entry"))

  /** The adjacency rows' base columns, typed (c, key, v, nbrs, entry). */
  private[ops] def nodes(adj: DataFrame): Dataset[(Int, Long, Seq[Float], Seq[Long], Boolean)] = {
    val spark = adj.sparkSession
    import spark.implicits._
    adj.select(BaseCols: _*).as[(Int, Long, Seq[Float], Seq[Long], Boolean)]
  }

  private def toFloatArray(s: Seq[Float]): Array[Float] = s.toArray

  private def toDoubles(v: Array[Float]): Array[Double] = {
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i).toDouble; i += 1 }
    out
  }

  /** (c, key, v) rows: each vector cast to float32 and routed to its
    * nearest centroid — the one assignment build, append and compact share. */
  private def route(spark: SparkSession, emb: DataFrame, keyCol: String, vecCol: String,
                    cB: Broadcast[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    emb.select(col(keyCol).cast("long").as("key"),
        transform(col(vecCol), x => x.cast("float")).as("v"))
      .as[(Long, Seq[Float])]
      .map { case (k, v) => (Ann.nearestCentroid(toDoubles(toFloatArray(v)), cB.value), k, v) }
      .toDF("c", "key", "v")
  }

  /** Build every cluster among one partition's (c, key, v) rows from
    * scratch (a task may hold several clusters; each builds independently). */
  private def buildClusters(it: Iterator[(Int, Long, Seq[Float])], m: Int, efC: Int,
                            centroids: Array[Array[Double]])
      : Iterator[(Int, Long, Seq[Float], Seq[Long], Boolean)] = {
    val byCluster = new java.util.HashMap[Int,
      mutable.ArrayBuffer[(Long, Array[Float], Array[Long], Boolean)]]()
    it.foreach { case (c, k, v) =>
      byCluster.computeIfAbsent(c, _ => new mutable.ArrayBuffer)
        .append((k, toFloatArray(v), Array.emptyLongArray, false))
    }
    import scala.jdk.CollectionConverters._
    byCluster.asScala.iterator.flatMap { case (c, rows) =>
      val ca = assemble(rows)
      emitRows(c, ca.keys, ca.vecs, buildCluster(ca.vecs, m, efC),
        entryOf(ca.vecs, centroids(c)))
    }
  }

  /** Emit a built cluster back to rows. */
  private def emitRows(c: Int, keys: Array[Long], vecs: Array[Array[Float]],
                       adj: Array[Array[Int]], entry: Int)
      : Iterator[(Int, Long, Seq[Float], Seq[Long], Boolean)] =
    keys.indices.iterator.map { i =>
      (c, keys(i), vecs(i).toSeq, adj(i).map(keys(_)).toSeq, i == entry)
    }

  /** NOTE on precision (public contract, shared by build/append/save):
    * vectors are STORED float32 (the reference's storage type). For
    * float32 source embeddings — the overwhelmingly common case — all
    * scores are bit-identical to brute force over the originals. A corpus
    * whose embeddings are genuinely double-precision is quantized to
    * float32 on ingest: similarities can then differ from brute force
    * over the doubles in near-tie orderings. Keep such corpora on the
    * brute/IVF double paths, or accept the quantization explicitly. */
  def build(spark: SparkSession, emb: DataFrame, keyCol: String,
            vecCol: String, params: Params = Params()): Graph = {
    val centroids = Ann.kmeansCentroids(spark, emb, keyCol, vecCol,
      params.kCenters, params.iters)
    buildWithCentroids(spark, emb, keyCol, vecCol, centroids, params)
  }

  /** Build against FIXED routing centroids (the shared lower half of
    * [[build]], [[append]] and [[compact]]: all three must agree on the
    * assignment for per-cluster rebuilds to be metamorphic). */
  def buildWithCentroids(spark: SparkSession, emb: DataFrame, keyCol: String,
                         vecCol: String, centroids: Array[Array[Double]],
                         params: Params): Graph = {
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)
    // one shuffle keyed by cluster; a task may receive several clusters
    // (hash collisions) and builds each independently
    val m = params.m
    val efC = params.efConstruction
    val adj = route(spark, emb, keyCol, vecCol, cB)
      .repartition(params.kCenters, col("c"))
      .as[(Int, Long, Seq[Float])]
      .mapPartitions(it => buildClusters(it, m, efC, cB.value))
      .toDF("c", "key", "v", "nbrs", "entry")
    Graph(adj.persist(), centroids, params)
  }

  /** Incremental insert (reference addGraphNode,
    * GraphIndexBuilder.java:314-362 — B2 applied to the vector side):
    * route the new vectors to their clusters and insert them into ONLY
    * the touched clusters' graphs; untouched clusters' rows pass through
    * unread. Insertion order within a batch is key order, so the result
    * is a pure function of (existing graph, batch membership). The
    * entry medioid is refreshed per touched cluster. Centroids stay
    * FIXED (the router is the stable part, same as the BM25 side's
    * shards; re-clustering is a rebuild).
    *
    * The parent graph's cache is RELEASED once the appended graph is
    * materialized (same contract as [[attachPqWith]]) — chaining appends
    * holds one cached generation, not one per call. Callers that still
    * need the parent afterwards recompute it from lineage (deterministic:
    * the adjacency is a pure function of membership + batch history). */
  def append(spark: SparkSession, graph: Graph, emb: DataFrame,
             keyCol: String, vecCol: String): Graph =
    appendTouched(spark, graph, emb, keyCol, vecCol)._1

  /** [[append]] + the set of cluster ids the batch touched — computed from
    * the routing pass append does anyway, so callers that need it for an
    * incremental persist ([[saveTouched]], [[graft.streaming.StreamingNsw]])
    * don't route the batch a second time. */
  def appendTouched(spark: SparkSession, graph: Graph, emb: DataFrame,
                    keyCol: String, vecCol: String): (Graph, Set[Int]) = {
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(graph.centroids)
    val fresh = route(spark, emb, keyCol, vecCol, cB).persist()
    val touched = fresh.select("c").distinct().as[Int].collect().toSet
    if (touched.isEmpty) { fresh.unpersist(); return (graph, touched) }
    val m = graph.params.m
    val efC = graph.params.efConstruction
    // appended/compacted graphs drop any fused PQ codes (new nodes have
    // none and the codebooks would be stale) — re-run attachPq if needed
    val untouchedRows = graph.adj.filter(!inIntSet(col("c"), touched))
      .select(BaseCols: _*)
    val existing = nodes(graph.adj.filter(inIntSet(col("c"), touched)))
      .map { case (c, k, v, nb, e) => (c, k, v, nb, e, false) }
    val incoming = fresh.as[(Int, Long, Seq[Float])]
      .map { case (c, k, v) => (c, k, v, Seq.empty[Long], false, true) }
    val rebuilt = existing.union(incoming)
      .repartition(math.max(1, touched.size), col("_1"))
      .mapPartitions { it =>
        // existing rows keep their adjacency; new rows (flagged) insert
        // one at a time in key order — the literal addGraphNode loop
        val byCluster = new java.util.HashMap[Int,
          (mutable.ArrayBuffer[(Long, Array[Float], Array[Long], Boolean)],
           mutable.ArrayBuffer[(Long, Array[Float])])]()
        it.foreach { case (c, k, v, nb, e, isNew) =>
          val slot = byCluster.computeIfAbsent(c,
            _ => (new mutable.ArrayBuffer, new mutable.ArrayBuffer))
          if (isNew) slot._2.append((k, toFloatArray(v)))
          else slot._1.append((k, toFloatArray(v), nb.toArray, e))
        }
        import scala.jdk.CollectionConverters._
        byCluster.asScala.iterator.flatMap { case (c, (old, news)) =>
          val ca = assemble(old)
          val n0 = ca.keys.length
          // IDEMPOTENT on duplicate keys: a key already in the cluster is
          // skipped (re-adding a vector is a no-op, and a replayed
          // streaming batch — StreamingNsw's exactly-once story — must
          // reproduce the identical graph, not duplicate nodes)
          val present = new java.util.HashSet[java.lang.Long](n0 * 2)
          var p = 0
          while (p < n0) { present.add(ca.keys(p)); p += 1 }
          val add0 = news.filter(kv => !present.contains(kv._1))
            .sortInPlaceBy(_._1)
          val add = new mutable.ArrayBuffer[(Long, Array[Float])](add0.length)
          add0.foreach { kv => // within-batch duplicates: first one wins
            if (add.isEmpty || add.last._1 != kv._1) add += kv
          }
          val n = n0 + add.length
          val keys = java.util.Arrays.copyOf(ca.keys, n)
          val vecs = java.util.Arrays.copyOf(ca.vecs, n)
          val adj = java.util.Arrays.copyOf(ca.adj, n)
          var i = 0
          while (i < add.length) {
            keys(n0 + i) = add(i)._1
            vecs(n0 + i) = add(i)._2
            adj(n0 + i) = Array.empty[Int]
            i += 1
          }
          i = n0
          while (i < n) {
            if (i == 0) () else insertNode(vecs, adj, i, m, efC)
            i += 1
          }
          emitRows(c, keys, vecs, adj, entryOf(vecs, cB.value(c)))
        }
      }.toDF("c", "key", "v", "nbrs", "entry")
    val merged = untouchedRows.union(rebuilt)
    val out = Graph(merged.persist(), graph.centroids, graph.params,
      clusterLocal = false, deleted = graph.deleted)
    out.adj.count() // materialize before dropping the inputs
    fresh.unpersist()
    graph.adj.unpersist() // release the parent generation (no-op if unpersisted)
    (out, touched)
  }

  /** Tombstone keys (reference markNodeDeleted,
    * GraphIndexBuilder.java:427-453): search traverses through them but
    * never returns them; [[compact]] is the purge. */
  def delete(graph: Graph, keys: Seq[Long]): Graph =
    graph.copy(deleted = (graph.deleted.toSet ++ keys).toArray.sorted)

  /** Purge tombstones (reference removeDeletedNodes,
    * GraphIndexBuilder.java:427-531): clusters holding a tombstoned key
    * are REBUILT from their live members (per-cluster rebuild = exactly
    * the graph a fresh buildWithCentroids would produce for that
    * membership — NswSpec asserts the equivalence); untouched clusters
    * pass through unread. */
  def compact(spark: SparkSession, graph: Graph): Graph = {
    import spark.implicits._
    if (graph.deleted.isEmpty) return graph
    val deadB = spark.sparkContext.broadcast(graph.deleted.toSet)
    val cB = spark.sparkContext.broadcast(graph.centroids)
    val affected = graph.adj
      .filter(inLongSet(col("key"), deadB.value))
      .select("c").distinct().as[Int].collect().toSet
    if (affected.isEmpty) return graph.copy(deleted = Array.emptyLongArray)
    val untouchedRows = graph.adj.filter(!inIntSet(col("c"), affected))
      .select(BaseCols: _*)
    val m = graph.params.m
    val efC = graph.params.efConstruction
    val rebuilt = nodes(graph.adj.filter(inIntSet(col("c"), affected)))
      .mapPartitions { it =>
        val live = it.collect { case (c, k, v, _, _) if !deadB.value.contains(k) => (c, k, v) }
        buildClusters(live, m, efC, cB.value)
      }.toDF("c", "key", "v", "nbrs", "entry")
    // affected clusters must reassemble into one task each: the graph may
    // be clusterLocal=false (post-append/loaded)
    val out = Graph(untouchedRows.union(rebuilt).persist(), graph.centroids,
      graph.params, clusterLocal = false)
    out.adj.count()
    out
  }

  // ---- search: one kernel, probe → assemble → beam/flood → rerank → merge.
  // Every DataFrame search below and every HotAnn search runs
  // [[searchCluster]]; they differ only in the Scorer and the Policy.

  /** How a search scores nodes — the reference's SearchScoreProvider
    * (GraphSearcher.java:116-120,330-348): `nav` drives the traversal.
    * A scorer that navigates on fused codes is approximate, so the beam's
    * survivors are rescored exactly on their full vectors before the cut
    * (the extractScores step). */
  private[ops] sealed abstract class Scorer(val reranks: Boolean) extends Serializable {
    def q: Array[Double]
    def nav(ca: ClusterArrays): Int => Double
  }

  /** Exact float cosine on the node vectors. */
  private[ops] final case class Exact(q: Array[Double]) extends Scorer(reranks = false) {
    def nav(ca: ClusterArrays): Int => Double = i => cosineQF(q, ca.vecs(i))
  }

  /** PQ-ADC over the inline m-byte codes: per-query tables of partial
    * dots and partial centroid magnitudes, approxCos(code) =
    * Σdot / (|q|·sqrt(Σmag)) — 2 lookups per subspace (the CosineDecoder
    * shape, pq/PQDecoder.java). */
  private[ops] final case class PqAdc(q: Array[Double], model: Pq.Model)
      extends Scorer(reranks = true) {
    private val dotT = model.dotTables(q)
    private val magT = model.codebooks.map(_.map { c =>
      var d = 0.0
      var i = 0
      while (i < c.length) { d += c(i) * c(i); i += 1 }
      d
    })
    private val invQNorm = {
      var qn = 0.0
      q.foreach(x => qn += x * x)
      if (qn == 0) 0.0 else 1.0 / math.sqrt(qn)
    }
    def nav(ca: ClusterArrays): Int => Double = { i =>
      val code = ca.codes(i).asInstanceOf[Array[Byte]]
      var dot = 0.0
      var mag = 0.0
      var s = 0
      while (s < dotT.length) {
        val ci = code(s) & 0xFF
        dot += dotT(s)(ci); mag += magT(s)(ci); s += 1
      }
      if (mag == 0) 0.0 else dot * invQNorm / math.sqrt(mag)
    }
  }

  /** LVQ fused-decomposition cosine over the per-node 1-byte/dim codes. */
  private[ops] final case class LvqFused(q: Array[Double], model: Lvq.Model)
      extends Scorer(reranks = true) {
    private val (qMu, qSum, qn2) = model.queryParts(q)
    private val invQNorm = if (qn2 == 0) 0.0 else 1.0 / math.sqrt(qn2)
    def nav(ca: ClusterArrays): Int => Double = { i =>
      val (u, bias, scale) = ca.codes(i).asInstanceOf[(Array[Byte], Float, Float)]
      model.approxCos(q, qMu, qSum, invQNorm, u, bias, scale)
    }
  }

  /** What a search keeps: the best `k` of a beam with frontier `ef`
    * (strictly after `cursor` in (sim desc, key asc) order when set), or
    * every node scoring >= tau via [[thresholdFlood]]. */
  private[ops] sealed trait Policy extends Serializable { def limit: Int }
  private[ops] final case class Beam(k: Int, ef: Int,
                                     cursor: Option[(Double, Long)] = None) extends Policy {
    def limit: Int = k
  }
  private[ops] final case class Flood(tau: Double, maxVisit: Int) extends Policy {
    def limit: Int = Int.MaxValue
  }

  /** One cluster's search: traverse on `scorer.nav` from the medioid
    * entry, admitting only keys outside `deny` (tombstones route, never
    * return — GraphSearcher.java:191,258), rerank exactly when the scorer
    * is approximate, cut to the policy. Returns ((key, sim) in (sim desc,
    * key asc) order, visitedCount). */
  private[ops] def searchCluster(ca: ClusterArrays, scorer: Scorer, policy: Policy,
                                 deny: Set[Long]): (Array[(Long, Double)], Int) = {
    val keys = ca.keys
    val live: (Int, Double) => Boolean =
      if (deny.isEmpty) null else (i, _) => !deny.contains(keys(i))
    val (hits, visited) = policy match {
      case Flood(tau, maxVisit) =>
        require(!scorer.reranks, "threshold search scores exactly")
        thresholdFlood(scorer.nav(ca), ca.adj, keys.length, ca.entry, tau, maxVisit, live)
      case Beam(k, ef, cursor) =>
        val accept: (Int, Double) => Boolean = cursor match {
          case None => live
          case Some((cSim, cKey)) => (i, s) =>
            (s < cSim || (s == cSim && keys(i) > cKey)) && (live == null || live(i, s))
        }
        val (beam, v) = beamSearchBy(scorer.nav(ca), ca.adj, keys.length, ca.entry, ef, accept)
        val ranked = if (!scorer.reranks) beam else {
          val exact = beam.map { case (i, _) => (i, cosineQF(scorer.q, ca.vecs(i))) }
          java.util.Arrays.sort(exact, ResultOrder)
          exact
        }
        (ranked.take(k), v)
    }
    (hits.map { case (i, s) => (keys(i), s) }, visited)
  }

  /** Final merge of per-cluster hits: (sim desc, key asc), first `limit`. */
  private[ops] def mergeHits(hits: Array[(Long, Double)],
                             limit: Int): Array[(Long, Double)] = {
    scala.util.Sorting.stableSort(hits, (x: (Long, Double), y: (Long, Double)) =>
      x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))
    hits.take(limit)
  }

  /** The one per-partition body of the DataFrame search: group the
    * partition's rows by cluster, assemble each (its codes follow the
    * same key permutation), run [[searchCluster]]. */
  private def searchRows[R](rows: Dataset[R], kB: Broadcast[(Scorer, Policy, Set[Long])],
                            visitedAcc: LongAccumulator)
                           (read: R => (Int, (Long, Array[Float], Array[Long], Boolean), AnyRef))
      : DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.mapPartitions { it =>
      val (sc, pol, deny) = kB.value
      val byCluster = new java.util.HashMap[Int,
        (mutable.ArrayBuffer[(Long, Array[Float], Array[Long], Boolean)],
         mutable.ArrayBuffer[AnyRef])]()
      it.foreach { r =>
        val (c, row, code) = read(r)
        val slot = byCluster.computeIfAbsent(c,
          _ => (new mutable.ArrayBuffer, new mutable.ArrayBuffer))
        slot._1.append(row)
        if (code != null) slot._2.append(code)
      }
      import scala.jdk.CollectionConverters._
      byCluster.asScala.iterator.flatMap { case (_, (members, codes)) =>
        val (h, visited) = searchCluster(assemble(members, codes), sc, pol, deny)
        if (visitedAcc != null) visitedAcc.add(visited.toLong)
        h.iterator
      }
    }.toDF("key", "sim")
  }

  /** One read row: (cluster, its [[assemble]] row, its fused code or null). */
  private def node(c: Int, k: Long, v: Seq[Float], nb: Seq[Long], e: Boolean, code: AnyRef) =
    (c, (k, toFloatArray(v), nb.toArray, e), code)

  /** The DataFrame path of every `Nsw` search: probe the nProbe nearest
    * clusters, reassemble them when the layout is fragmented, run
    * [[searchCluster]] on each, order (sim desc, key asc) and cut.
    * @param metrics when non-null, receives the summed visitedCount; the
    *   per-cluster hits are then collected once (so the count is exact)
    *   and merged locally. */
  private def search(graph: Graph, nProbe: Int, scorer: Scorer, policy: Policy,
                     metrics: SearchMetrics): DataFrame = {
    requireDenyCapped(graph.deleted)
    val spark = graph.adj.sparkSession
    import spark.implicits._
    val probes = Ann.probeOrder(graph.centroids, scorer.q, nProbe).toSeq
    val kB = spark.sparkContext.broadcast((scorer, policy, graph.deleted.toSet))
    val visitedAcc: LongAccumulator =
      if (metrics == null) null else spark.sparkContext.longAccumulator("nswVisited")
    val probed0 = graph.adj.filter(col("c").isin(probes: _*))
    // a loaded/appended graph's clusters may be split across partitions:
    // reassemble each probed cluster into one partition so the search sees
    // the WHOLE adjacency (the probe filter pushes below this exchange, so
    // partition-dir pruning still applies and only probed rows shuffle)
    val probed = if (graph.clusterLocal) probed0
                 else probed0.repartition(math.max(1, probes.size), col("c"))
    // each scorer reads only its own columns (the exact one none of the
    // fused codes); the rows then meet in the one per-partition body
    val hits = scorer match {
      case _: Exact =>
        searchRows(nodes(probed), kB, visitedAcc) {
          case (c, k, v, nb, e) => node(c, k, v, nb, e, null) }
      case _: PqAdc =>
        searchRows(probed.select(BaseCols :+ col("code"): _*)
          .as[(Int, Long, Seq[Float], Seq[Long], Boolean, Array[Byte])], kB, visitedAcc) {
          case (c, k, v, nb, e, code) => node(c, k, v, nb, e, code) }
      case _: LvqFused =>
        searchRows(probed.select(BaseCols ++ Seq(col("lu"), col("lbias"), col("lscale")): _*)
          .as[(Int, Long, Seq[Float], Seq[Long], Boolean, Array[Byte], Float, Float)],
          kB, visitedAcc) {
          case (c, k, v, nb, e, u, bias, scale) => node(c, k, v, nb, e, (u, bias, scale)) }
    }
    if (metrics != null) {
      val rows = hits.as[(Long, Double)].collect()
      metrics.visited = visitedAcc.value
      mergeHits(rows, policy.limit).toSeq.toDF("key", "sim")
    } else {
      val ordered = hits.orderBy(col("sim").desc, col("key").asc)
      policy match { case b: Beam => ordered.limit(b.k); case _: Flood => ordered }
    }
  }

  private[ops] def toQuery(query: Seq[Float]): Array[Double] =
    query.map(_.toDouble).toArray

  /** Probe the nProbe nearest clusters; beam-search each from its medioid
    * entry; merge top-k. nProbe == kCenters && ef >= cluster size == exact
    * (gate mode). Tombstoned keys are traversed through, never returned.
    * @param metrics when non-null, receives the summed visitedCount. */
  def topK(graph: Graph, query: Seq[Float], k: Int, nProbe: Int,
           ef: Int, metrics: SearchMetrics = null): DataFrame =
    search(graph, nProbe, Exact(toQuery(query)), Beam(k, ef), metrics)

  /** Threshold (range) search kernel — all nodes with score >= tau,
    * jvector's threshold query re-expressed (GraphSearcher.java:112-115
    * search(..., threshold, ...) with ScoreTracker.java:44-97 deciding
    * when further exploration stops paying):
    *
    *  - maxVisit >= n: the exact full scan (every node scored once, keep
    *    >= tau) — the gate mode, mirroring ef >= n in [[beamSearchBy]].
    *  - else: best-first FLOOD. Greedy ascent from the entry until the
    *    tau-level set is reached (while no result is found, the best
    *    frontier node expands regardless of score); once inside, every
    *    popped node with score >= tau expands and every scored node
    *    >= tau is a result. A popped node < tau with results in hand
    *    terminates (max-heap: nothing better remains). Work is bounded by
    *    the level set's size + its one-hop boundary + maxVisit; recall
    *    depends on the level set being graph-connected — NswSpec pins it
    *    against brute force on the planted corpus.
    *
    * `accept` filters RESULT admission only (tombstone traverse-through,
    * same as the beam). Returns ((idx, score) sorted sim desc/idx asc,
    * visitedCount). */
  private[ops] def thresholdFlood(score: Int => Double, adj: Array[Array[Int]],
                                  n: Int, entry: Int, tau: Double,
                                  maxVisit: Int,
                                  accept: (Int, Double) => Boolean = null)
      : (Array[(Int, Double)], Int) = {
    if (n <= 0) return (Array.empty, 0)
    if (maxVisit >= n)
      return exactScan(score, n, (i, s) => s >= tau && (accept == null || accept(i, s)))
    val cand = mutable.PriorityQueue.empty[(Double, Int)](FrontierOrder)
    val res = new mutable.ArrayBuffer[(Int, Double)]()
    val visited = new java.util.BitSet(n)
    var visitedCount = 0
    var found = 0
    def admitRes(i: Int, s: Double): Unit =
      if (s >= tau) {
        found += 1
        if (accept == null || accept(i, s)) res += ((i, s))
      }
    val es = score(entry)
    visited.set(entry)
    visitedCount += 1
    cand.enqueue((es, entry))
    admitRes(entry, es)
    var stop = false
    while (!stop && cand.nonEmpty && visitedCount < maxVisit) {
      val (cs, ci) = cand.dequeue()
      if (cs < tau && found > 0) stop = true // nothing >= tau remains
      else {
        val nbrs = adj(ci)
        var j = 0
        while (j < nbrs.length) {
          val nb = nbrs(j)
          if (nb < n && !visited.get(nb)) {
            visited.set(nb)
            visitedCount += 1
            val s = score(nb)
            cand.enqueue((s, nb))
            admitRes(nb, s)
          }
          j += 1
        }
      }
    }
    val out = res.toArray
    java.util.Arrays.sort(out, ResultOrder)
    (out, visitedCount)
  }

  /** All vectors with cosine >= tau — the graph-accelerated range query
    * (the dedup-adjacent "give me everything this similar"; the BM25
    * side's exact theta:=tau skipping is `Wand.threshold`, this is the
    * vector twin). nProbe == kCenters && maxVisit >= cluster size == the
    * exact scan (gate mode); production knobs flood only the tau-level
    * set of the probed clusters. Returns (key, sim), sim desc / key asc.
    * Tombstoned keys are traversed through, never returned. */
  def threshold(graph: Graph, query: Seq[Float], tau: Double, nProbe: Int,
                maxVisit: Int = Int.MaxValue,
                metrics: SearchMetrics = null): DataFrame =
    search(graph, nProbe, Exact(toQuery(query)), Flood(tau, maxVisit), metrics)

  /** Page 2 and beyond: top-k results strictly AFTER `cursor` = (sim,
    * key) in the (sim desc, key asc) result order — the vector twin of
    * the BM25 side's exact `searchAfter` (cursor semantics identical:
    * reject at-or-before-cursor in result ADMISSION, traverse freely;
    * reference GraphSearcher.resume:223-311 continues past previously
    * returned results the same way). Exact at nProbe == kCenters &&
    * ef >= cluster size: page1 ++ page2 == top-2k, metamorphically
    * (NswSpec). In production, `ef` bounds how deep a page chain can
    * reach (page n needs the beam to have kept n*k candidates). */
  def searchAfter(graph: Graph, query: Seq[Float], k: Int,
                  cursor: (Double, Long), nProbe: Int, ef: Int,
                  metrics: SearchMetrics = null): DataFrame =
    search(graph, nProbe, Exact(toQuery(query)), Beam(k, ef, Some(cursor)), metrics)
  /** Attach PQ codes to the graph: train codebooks on the graph's own
    * vectors (bounded deterministic sample, Pq.train contract) and store
    * an m-byte code INLINE with each node's adjacency row — the
    * reference's fused layout (graph/disk/FusedADC.java:62-64,87-106
    * keeps neighbor codes beside the adjacency so traversal never touches
    * full vectors). [[topKFused]] then navigates on ADC lookups: at the
    * documented 10^6-node/0.5 GB cluster target, the beam's working set
    * drops from 4·d bytes/node to m bytes/node (~16-32x). */
  def attachPq(spark: SparkSession, graph: Graph, m: Int,
               anisotropicThreshold: Double = 0.0): Graph =
    attachPqWith(spark, graph,
      Pq.train(spark, graph.adj.select(col("key"), col("v")), "key", "v", m),
      anisotropicThreshold)

  /** Re-encode against an EXISTING model (no retrain) — how a fused graph
    * composes with [[append]]/[[compact]], which deliberately drop codes
    * (new nodes have none): re-attach with the model the graph was fused
    * with and unchanged nodes get byte-identical codes back (encode is a
    * pure function of (model, vector)), while only the re-encode map —
    * one narrow pass — is paid. The reference's incremental writer
    * re-encodes the same way (PQVectors are rebuilt from the same
    * ProductQuantization when vectors are added). */
  def attachPqWith(spark: SparkSession, graph: Graph, model: Pq.Model,
                   anisotropicThreshold: Double = 0.0): Graph = {
    import spark.implicits._
    val pcm = if (anisotropicThreshold > 0)
      Pq.parallelCostMultiplier(anisotropicThreshold, model.dim) else 0.0
    val mB = spark.sparkContext.broadcast(model)
    val adj2 = nodes(graph.adj)
      .map { case (c, k, v, nb, e) =>
        val arr = toDoubles(toFloatArray(v))
        val code = if (pcm > 0) mB.value.encodeOneAnisotropic(arr, pcm)
                   else mB.value.encodeOne(arr)
        (c, k, v, nb, e, code)
      }.toDF("c", "key", "v", "nbrs", "entry", "code")
    // narrow map: the cluster layout is preserved
    val out = Graph(adj2.persist(), graph.centroids, graph.params,
      graph.clusterLocal, graph.deleted, Some(model))
    out.adj.count()
    graph.adj.unpersist()
    out
  }

  /** PQ-fused search (reference GraphSearcher.java:330-348 approximate
    * traversal + exact rerank, with FusedADC's inline codes): the beam
    * scores nodes by ADC cosine over their m-byte codes ([[PqAdc]]), then
    * the surviving <= ef candidates are rescored EXACTLY on their full
    * vectors before the top-k cut. Navigation is approximate, results are
    * exact-scored — result quality depends only on whether the true
    * top-k survive the beam, which NswSpec pins against the exact-vector
    * beam knob-for-knob. */
  def topKFused(graph: Graph, query: Seq[Float], k: Int, nProbe: Int,
                ef: Int, metrics: SearchMetrics = null): DataFrame = {
    val model = graph.pq.getOrElse(
      throw new IllegalArgumentException("attachPq first: graph carries no codes"))
    search(graph, nProbe, PqAdc(toQuery(query), model), Beam(k, ef), metrics)
  }
  /** Attach LVQ codes to the graph: train the (tiny — one mean vector)
    * model on the graph's own vectors and store each node's per-vector
    * uint8 code + (bias, scale) INLINE with its adjacency row — the
    * reference's LVQ-in-graph layout (graph/disk/LVQ.java wraps the
    * on-disk adjacency with exactly this per-node quantized view;
    * pq/LocallyAdaptiveVectorQuantization.java:72-150). Where PQ-fused
    * traversal trades ~4% recall for 16-32x beam-memory compression,
    * LVQ-fused keeps the beam near-lossless at ~4x — the default tier
    * when the cluster graphs fit at 1 byte/dim. */
  def attachLvq(spark: SparkSession, graph: Graph): Graph =
    attachLvqWith(spark, graph,
      Lvq.train(spark, graph.adj.select(col("key"), col("v")), "key", "v"))

  /** Re-encode against an EXISTING LVQ model (no retrain) — the
    * [[attachPqWith]] twin: unchanged nodes get byte-identical codes
    * back (encode is a pure function of (model, vector)). */
  def attachLvqWith(spark: SparkSession, graph: Graph, model: Lvq.Model): Graph = {
    import spark.implicits._
    val mB = spark.sparkContext.broadcast(model)
    val adj2 = nodes(graph.adj)
      .map { case (c, k, v, nb, e) =>
        val (u, bias, scale) = mB.value.encodeOne(toDoubles(toFloatArray(v)))
        (c, k, v, nb, e, u, bias, scale)
      }.toDF("c", "key", "v", "nbrs", "entry", "lu", "lbias", "lscale")
    val out = Graph(adj2.persist(), graph.centroids, graph.params,
      graph.clusterLocal, graph.deleted, pq = None, lvq = Some(model))
    out.adj.count()
    graph.adj.unpersist()
    out
  }

  /** LVQ-fused search: the beam scores nodes by the fused-decomposition
    * cosine over their 1-byte/dim codes (near-lossless — OpsSpec measures
    * code-only recall 0.987 on the hard corpus), then the surviving <= ef
    * candidates are rescored EXACTLY on their full vectors before the
    * top-k cut — same navigate-approximate/score-exact contract as
    * [[topKFused]], at the middle compression tier. */
  def topKFusedLvq(graph: Graph, query: Seq[Float], k: Int, nProbe: Int,
                   ef: Int, metrics: SearchMetrics = null): DataFrame = {
    val model = graph.lvq.getOrElse(
      throw new IllegalArgumentException("attachLvq first: graph carries no LVQ codes"))
    search(graph, nProbe, LvqFused(toQuery(query), model), Beam(k, ef), metrics)
  }

  /** Persist: centroid/param/tombstone meta as format-versioned JSON,
    * adjacency parquet PARTITIONED BY cluster — a loaded graph's probe
    * filter prunes whole partition directories at the file level (same
    * layout contract as Ann.saveIvf). Payload first, meta.json LAST via
    * atomic rename: meta is the commit marker, so a crashed save leaves a
    * metaless payload dir that artifact GC can collect. */
  def save(spark: SparkSession, graph: Graph, dir: String): Unit = {
    graph.adj.write.mode("overwrite").partitionBy("c").parquet(s"$dir/adj")
    publishMeta(spark, graph, dir, maxStreamBatch = -1L)
  }

  /** Persist ONLY the touched clusters' partition dirs (dynamic partition
    * overwrite: untouched cluster files are not rewritten, not even
    * listed) and republish meta — the incremental write a streaming
    * append needs at the 10^6-cluster scale, where a full [[save]] per
    * micro-batch would rewrite the whole graph. Requires `dir` to already
    * hold a saved graph (the non-touched partitions).
    * @param maxStreamBatch replay mark recorded in meta (see
    *   [[graft.streaming.StreamingNsw]]); -1 leaves batch history
    *   unclaimed. */
  def saveTouched(spark: SparkSession, graph: Graph, dir: String,
                  touched: Set[Int], maxStreamBatch: Long = -1L): Unit = {
    if (touched.nonEmpty) {
      var rows = graph.adj.filter(inIntSet(col("c"), touched))
      // schema stability across partial overwrites: if the dir already
      // holds fused code columns (PQ `code` or LVQ `lu`/`lbias`/`lscale`)
      // but THIS graph carries none (append/compact drop them), write
      // explicit null columns so the dir never mixes schemas (whose union
      // would depend on which footer the reader samples); load() trusts
      // meta.json's pq/lvq nodes, not the file schema, so nulls are inert
      val fusedCols = Seq("code" -> "binary", "lu" -> "binary",
        "lbias" -> "float", "lscale" -> "float")
      if (fusedCols.exists { case (c2, _) => !rows.columns.contains(c2) }) {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
          spark.sparkContext.hadoopConfiguration)
        val adjPath = new org.apache.hadoop.fs.Path(s"$dir/adj")
        if (fs.exists(adjPath)) {
          val existing = spark.read.parquet(s"$dir/adj").columns.toSet
          fusedCols.foreach { case (c2, tpe) =>
            if (existing.contains(c2) && !rows.columns.contains(c2))
              rows = rows.withColumn(c2, lit(null).cast(tpe))
          }
        }
      }
      // sever lineage from the destination before the dynamic-partition
      // overwrite: an appended graph's plan READS $dir/adj (untouched rows
      // pass through from the loaded parent), so if its cached blocks were
      // evicted mid-write Spark would recompute touched partitions from
      // the very files being overwritten — localCheckpoint materializes
      // the rows first, making the write input self-contained
      val staged = rows.localCheckpoint(true)
      staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("c").parquet(s"$dir/adj")
      staged.unpersist()
    }
    publishMeta(spark, graph, dir, maxStreamBatch)
  }

  /** The replay mark of a saved graph (-1 when none recorded). */
  def loadStreamBatch(spark: SparkSession, dir: String): Long = {
    val m = readMeta(spark, dir)
    if (m.has("maxStreamBatch")) m.get("maxStreamBatch").asLong() else -1L
  }

  private def readMeta(spark: SparkSession, dir: String): com.fasterxml.jackson.databind.JsonNode = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$dir/meta.json"))
    val json = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
  }

  private def publishMeta(spark: SparkSession, graph: Graph, dir: String,
                          maxStreamBatch: Long): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("formatVersion", FormatVersion)
    root.put("m", graph.params.m)
    root.put("efConstruction", graph.params.efConstruction)
    if (maxStreamBatch >= 0) root.put("maxStreamBatch", maxStreamBatch)
    root.set("centroids", mapper.valueToTree(graph.centroids)
      : com.fasterxml.jackson.databind.JsonNode)
    root.set("deleted", mapper.valueToTree(graph.deleted)
      : com.fasterxml.jackson.databind.JsonNode)
    graph.pq.foreach { model =>
      val pq = root.putObject("pq")
      pq.put("m", model.m)
      pq.put("dim", model.dim)
      val _ = pq.set[com.fasterxml.jackson.databind.JsonNode]("codebooks",
        mapper.valueToTree(model.codebooks))
    }
    graph.lvq.foreach { model =>
      val lv = root.putObject("lvq")
      val _ = lv.set[com.fasterxml.jackson.databind.JsonNode]("center",
        mapper.valueToTree(model.center))
    }
    graft.index.SegmentCatalog.publishJson(spark, s"$dir/meta.json",
      mapper.writeValueAsBytes(root))
  }

  def load(spark: SparkSession, dir: String): Graph = {
    val mNode = readMeta(spark, dir)
    val v = if (mNode.has("formatVersion")) mNode.get("formatVersion").asLong() else 0L
    require(v <= FormatVersion, s"unsupported NSW graph format v$v")
    val cn = mNode.get("centroids")
    val centroids = Array.tabulate(cn.size()) { c =>
      val cent = cn.get(c)
      Array.tabulate(cent.size())(cent.get(_).asDouble())
    }
    val deleted =
      if (mNode.has("deleted")) {
        val dn = mNode.get("deleted")
        Array.tabulate(dn.size())(dn.get(_).asLong())
      } else Array.emptyLongArray
    val params = Params(m = mNode.get("m").asInt(),
      efConstruction = mNode.get("efConstruction").asInt(),
      kCenters = centroids.length)
    val pqModel =
      if (mNode.has("pq")) {
        val pn = mNode.get("pq")
        val cbNode = pn.get("codebooks")
        val codebooks = Array.tabulate(cbNode.size()) { s =>
          val sub = cbNode.get(s)
          Array.tabulate(sub.size()) { c =>
            val cent = sub.get(c)
            Array.tabulate(cent.size())(cent.get(_).asDouble())
          }
        }
        Some(Pq.Model(pn.get("m").asInt(), pn.get("dim").asInt(), codebooks))
      } else None
    val raw = spark.read.parquet(s"$dir/adj")
    // v1 back-compat: double vectors, no entry flag (entry = smallest-key
    // node, i.e. local index 0 — the v1 search behavior). Fused codes are
    // gated on META.JSON's pq node, not on parquet schema sampling: a
    // partially-overwritten dir can legitimately hold files with a (null)
    // code column after the model was dropped, and which footer the scan
    // samples first must not decide whether the graph "has" codes.
    val baseCols = Seq(col("c").cast("int").as("c"), col("key"),
      transform(col("v"), x => x.cast("float")).as("v"), col("nbrs"),
      (if (raw.columns.contains("entry")) col("entry") else lit(false))
        .as("entry"))
    val lvqModel =
      if (mNode.has("lvq")) {
        val cn2 = mNode.get("lvq").get("center")
        Some(Lvq.Model(Array.tabulate(cn2.size())(cn2.get(_).asDouble())))
      } else None
    val withCodes = pqModel.isDefined && raw.columns.contains("code")
    val withLvq = lvqModel.isDefined && raw.columns.contains("lu")
    val cols = baseCols ++
      (if (withCodes) Seq(col("code")) else Nil) ++
      (if (withLvq) Seq(col("lu"), col("lbias"), col("lscale")) else Nil)
    val adj = raw.select(cols: _*)
    // clusterLocal = false: the scan's split planning knows nothing about
    // cluster boundaries — search must reassemble probed clusters
    Graph(adj, centroids, params, clusterLocal = false, deleted = deleted,
      pq = if (withCodes) pqModel else None,
      lvq = if (withLvq) lvqModel else None)
  }
}
