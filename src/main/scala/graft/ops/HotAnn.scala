package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import graft.index.HotIndex

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}
import scala.util.control.NonFatal

/** Long-lived vector-serving handle over a built NSW graph — the ANN twin
  * of the BM25 side's `graft.index.HotIndex`, and the engine's analog of
  * the reference's resident query service (jvector
  * jvector-examples/.../IPCService.java:239-306 serves SEARCH from a graph
  * held hot in memory).
  *
  * `Nsw.topK` replans a Catalyst job per query (~100 ms-class): right for
  * batch scoring, wrong for a serving loop. Here each cluster's graph is
  * materialized ONCE as assembled arrays (keys, float32 vectors, index
  * adjacency, medioid entry) in a cached RDD of `P = min(kCenters,
  * defaultParallelism)` partitions: cluster `c` lives on partition
  * `c mod P`, so a job never runs more tasks than there are cores. A
  * query ranks centroids on the driver, and its
  * search runs on ONLY the partitions that hold its nProbe probed
  * clusters — no planning, no shuffle, no scan. The driver merge is
  * nProbe·k rows.
  *
  * Searches are batched: one job ([[HotIndex.serve]]) runs a whole batch
  * of requests over the union of their probed partitions, each task
  * searching every (request, probed cluster) pair it holds, and the
  * driver merges hits per request ([[searchAll]]). Concurrent `topK`,
  * `threshold` and `searchAfter` callers share those jobs through a
  * flat-combining coalescer: a caller enqueues its request, and whichever
  * caller holds the handle's one dispatch permit drains the queue and runs
  * everything queued as one job on its own thread, while the others wait
  * for their answers. A lone caller runs exactly one job, on its own
  * thread, under its own local properties. There is no dispatcher thread
  * and no timer: a batch is whatever arrived while the previous job ran.
  *
  * Each probed cluster runs the same per-cluster kernel as the DataFrame
  * path (`Nsw.searchCluster` with the exact scorer), so results and
  * visited counts are identical to `Nsw.topK`/`threshold`/`searchAfter`
  * at the same knobs, batched or not — NswSpec pins the parity. Like
  * HotIndex, this is a deliberately non-declarative serving surface over
  * the same persisted format the DataFrame path reads.
  */
final class HotAnn private (
    parts: RDD[HotAnn.Shelf],
    centroids: Array[Array[Double]],
    deleted: Set[Long]) {

  /** Partitions of the pinned RDD. */
  private[graft] def numPartitions: Int = parts.getNumPartitions

  /** Id of the pinned RDD: the key of its `getRDDStorageInfo` entry. */
  private[graft] def rddId: Int = parts.id

  /** Exact same contract as [[Nsw.topK]]: probe the nProbe nearest
    * clusters, beam from each medioid with frontier `ef`, merge
    * (sim desc, key asc) top-k. Tombstoned keys traverse, never return.
    * @param metrics when non-null, receives the summed visitedCount. */
  def topK(query: Seq[Float], k: Int, nProbe: Int, ef: Int,
           metrics: Nsw.SearchMetrics = null): Array[(Long, Double)] =
    one(HotAnn.Request(query, nProbe, Nsw.Beam(k, ef)), metrics)

  /** O(1) deny-set swap: a DELETE only changes the tombstone filter, so
    * the serving cache (pinned per-cluster arrays) is REUSED — the new
    * handle shares `parts` with this one (close() on either unpins both;
    * close exactly one). The new handle has its own request queue, so a
    * batch this handle already runs keeps this handle's deny set. The
    * membership-changing mutations (WRITE, OPTIMIZE) need a full re-pin
    * instead. */
  def withDeleted(d: Set[Long]): HotAnn = {
    require(d.size <= Nsw.FilterSetCap,
      s"tombstone set of ${d.size} keys exceeds the serving closure cap " +
      s"(${Nsw.FilterSetCap}); Nsw.compact the graph and re-pin instead")
    new HotAnn(parts, centroids, d)
  }

  /** Serving twin of [[Nsw.threshold]]: all keys with cosine >= tau in
    * the probed clusters, (sim desc, key asc). Results are collected to
    * the caller, so the serving result cap (`Nsw.FilterSetCap`, the
    * `HotIndex.searchThreshold` guard) holds on each probed cluster and on
    * the merged result: a tau that matches more rows must use the
    * distributed `Nsw.threshold` DataFrame path instead. */
  def threshold(query: Seq[Float], tau: Double, nProbe: Int,
                maxVisit: Int = Int.MaxValue,
                metrics: Nsw.SearchMetrics = null): Array[(Long, Double)] =
    threshold(query, tau, nProbe, maxVisit, metrics, Nsw.FilterSetCap)

  /** [[threshold]] under a given result cap. */
  private[graft] def threshold(query: Seq[Float], tau: Double, nProbe: Int, maxVisit: Int,
                               metrics: Nsw.SearchMetrics, cap: Int): Array[(Long, Double)] =
    one(HotAnn.Request(query, nProbe, Nsw.Flood(tau, maxVisit), cap), metrics)

  /** Serving twin of [[Nsw.searchAfter]]: top-k strictly after `cursor`
    * in (sim desc, key asc) order — page 2+ without refetching page 1. */
  def searchAfter(query: Seq[Float], k: Int, cursor: (Double, Long),
                  nProbe: Int, ef: Int,
                  metrics: Nsw.SearchMetrics = null): Array[(Long, Double)] =
    one(HotAnn.Request(query, nProbe, Nsw.Beam(k, ef, Some(cursor))), metrics)

  /** Batch serving, the twin of `HotIndex.searchAll`: every query's
    * [[topK]] in ONE job over the partitions its probes touch; answers in
    * the order of `queries`. */
  def searchAll(queries: Seq[Seq[Float]], k: Int, nProbe: Int,
                ef: Int): IndexedSeq[Array[(Long, Double)]] =
    run(queries.map(HotAnn.Request(_, nProbe, Nsw.Beam(k, ef)))).map(_.get._1)

  private def one(req: HotAnn.Request, metrics: Nsw.SearchMetrics): Array[(Long, Double)] = {
    val (hits, visited) = run(Seq(req)).head.get
    if (metrics != null) metrics.visited = visited
    hits
  }

  // ---- the coalescer: requests waiting for a job, and the one dispatch
  // permit, both guarded by `queue`'s monitor
  private val queue = new java.util.ArrayList[HotAnn.Pending]()
  private var dispatching = false

  /** Answers `reqs`, each (hits, visitedCount) or the failure of that
    * request alone, in one batch with whatever other callers queued. The
    * caller enqueues its requests at once; if no batch is running it takes
    * the permit and runs the queue, else it waits for the running batch to
    * end and then either finds its answers or takes the permit itself.
    * Every request of one caller therefore lands in the same batch. */
  private[graft] def run(reqs: Seq[HotAnn.Request])
      : IndexedSeq[Try[(Array[(Long, Double)], Long)]] = {
    val mine = reqs.map(new HotAnn.Pending(_)).toIndexedSeq
    val batch = queue.synchronized {
      mine.foreach(queue.add)
      while (dispatching && mine.exists(_.result == null)) queue.wait()
      if (mine.forall(_.result != null)) IndexedSeq.empty
      else {
        dispatching = true
        val b = queue.asScala.toIndexedSeq
        queue.clear()
        b
      }
    }
    if (batch.nonEmpty) dispatch(batch)
    mine.map(_.result)
  }

  /** Runs `batch` as one job on this thread, then hands the permit on. */
  private def dispatch(batch: IndexedSeq[HotAnn.Pending]): Unit =
    try {
      val out =
        try HotAnn.runBatch(parts, centroids, deleted, batch.map(_.req))
        catch { case NonFatal(e) => batch.map(_ => Failure(e)) }
      batch.zip(out).foreach { case (p, r) => p.result = r }
    } finally queue.synchronized {
      // a fatal error on this thread must not leave the batch's other
      // callers waiting
      batch.foreach { p =>
        if (p.result == null)
          p.result = Failure(new IllegalStateException("the batch's dispatching caller failed"))
      }
      dispatching = false
      queue.notifyAll()
    }

  def close(): Unit = parts.unpersist()
}

object HotAnn {

  /** One pinned partition: its assembled clusters by cluster id. */
  private[ops] type Shelf = Map[Int, Nsw.ClusterArrays]

  /** One search of a batch: a query vector, how many clusters it probes
    * and what it keeps. A flood's hits are held to `cap` per cluster and
    * in total. */
  private[graft] final case class Request(query: Seq[Float], nProbe: Int, policy: Nsw.Policy,
                                          cap: Int = Nsw.FilterSetCap)

  /** A queued request; `result` is set once by the batch that runs it. */
  private final class Pending(val req: Request) {
    var result: Try[(Array[(Long, Double)], Long)] = _
  }

  /** A request as the tasks run it. */
  private final case class Work(scorer: Nsw.Exact, policy: Nsw.Policy, cap: Int,
                                probes: Array[Int]) {
    def flood: Boolean = policy.isInstanceOf[Nsw.Flood]
  }

  /** What one partition found for request `req`: its hits, the nodes it
    * visited and, when a flood went over the cap in one of its clusters,
    * that cluster's hit count (the hits are then withheld), else -1. */
  private final case class Found(req: Int, hits: Array[(Long, Double)], visited: Long,
                                 overCap: Int)

  /** One job for a batch: each task searches every (request, probed
    * cluster) pair its shelf holds, and the driver merges each request's
    * hits. A request over the cap fails alone. */
  private def runBatch(parts: RDD[Shelf], centroids: Array[Array[Double]], deny: Set[Long],
                       reqs: IndexedSeq[Request]): IndexedSeq[Try[(Array[(Long, Double)], Long)]] = {
    val p = parts.getNumPartitions
    val work = reqs.map { r =>
      val scorer = Nsw.Exact(Nsw.toQuery(r.query))
      Work(scorer, r.policy, r.cap, Ann.probeOrder(centroids, scorer.q, r.nProbe))
    }
    val partitions = work.flatMap(_.probes).map(_ % p).distinct.sorted
    val perPart = HotIndex.serve(parts, partitions)(it => searchShelf(it.next(), work, deny))
    val hits = Array.fill(reqs.size)(mutable.ArrayBuilder.make[(Long, Double)])
    val visited = new Array[Long](reqs.size)
    val overCap = Array.fill(reqs.size)(-1)
    perPart.foreach(_.foreach { f =>
      hits(f.req) ++= f.hits
      visited(f.req) += f.visited
      overCap(f.req) = math.max(overCap(f.req), f.overCap)
    })
    work.indices.map { j =>
      Try {
        val w = work(j)
        if (overCap(j) >= 0)
          HotIndex.requireUnderCap(overCap(j), w.cap, "in one cluster", "Nsw.threshold")
        val all = hits(j).result()
        if (w.flood)
          HotIndex.requireUnderCap(all.length, w.cap, "across the probed clusters", "Nsw.threshold")
        (Nsw.mergeHits(all, w.policy.limit), visited(j))
      }
    }
  }

  /** The task body of [[runBatch]]: the shared per-cluster kernel for
    * every request on every probed cluster this shelf holds. */
  private def searchShelf(shelf: Shelf, work: IndexedSeq[Work], deny: Set[Long]): Array[Found] = {
    val out = mutable.ArrayBuilder.make[Found]
    work.indices.foreach { j =>
      val w = work(j)
      val here = w.probes.flatMap(shelf.get)
      if (here.nonEmpty) {
        val hits = mutable.ArrayBuilder.make[(Long, Double)]
        var visited = 0L
        var over = -1
        here.foreach { ca =>
          val (h, v) = Nsw.searchCluster(ca, w.scorer, w.policy, deny)
          visited += v
          if (w.flood && h.length > w.cap) over = math.max(over, h.length)
          else hits ++= h
        }
        out += Found(j, if (over >= 0) Array.empty else hits.result(), visited, over)
      }
    }
    out.result()
  }

  /** Materialize the serving cache: `min(kCenters, defaultParallelism)`
    * partitions, cluster c on partition c mod P, each partition one shelf
    * of its assembled clusters (empty clusters hold nothing), pinned in
    * executor memory. */
  def apply(graph: Nsw.Graph): HotAnn = {
    require(graph.deleted.length <= Nsw.FilterSetCap,
      s"tombstone set of ${graph.deleted.length} keys exceeds the serving " +
      s"closure cap (${Nsw.FilterSetCap}); Nsw.compact before pinning")
    val k = math.max(1, graph.centroids.length)
    val p = math.max(1, math.min(k, graph.adj.sparkSession.sparkContext.defaultParallelism))
    val parts = Nsw.nodes(graph.adj).rdd
      .map { case (c, key, v, nbrs, e) => (c, (key, v, nbrs, e)) }
      // HashPartitioner(p) sends cluster c to partition c mod p
      .partitionBy(new HashPartitioner(p))
      .mapPartitions({ it =>
        val rows = mutable.HashMap.empty[Int,
          mutable.ArrayBuffer[(Long, Array[Float], Array[Long], Boolean)]]
        it.foreach { case (c, (key, v, nbrs, e)) =>
          rows.getOrElseUpdate(c, new mutable.ArrayBuffer).append((key, v.toArray, nbrs.toArray, e))
        }
        Iterator.single[Shelf](rows.map { case (c, rs) => c -> Nsw.assemble(rs) }.toMap)
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_ONLY)
    parts.count() // materialize before first query
    new HotAnn(parts, graph.centroids, graph.deleted.toSet)
  }
}
