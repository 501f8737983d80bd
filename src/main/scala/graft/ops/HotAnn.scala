package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import graft.index.HotIndex

import scala.collection.mutable

/** Long-lived vector-serving handle over a built NSW graph — the ANN twin
  * of the BM25 side's `graft.index.HotIndex`, and the engine's analog of
  * the reference's resident query service (jvector
  * jvector-examples/.../IPCService.java:239-306 serves SEARCH from a graph
  * held hot in memory).
  *
  * `Nsw.topK` replans a Catalyst job per query (~100 ms-class): right for
  * batch scoring, wrong for a serving loop. Here each cluster's graph is
  * materialized ONCE as assembled arrays (keys, float32 vectors, index
  * adjacency, medioid entry) in a cached RDD whose partition index IS the
  * cluster id; a query then ranks centroids on the driver and issues one
  * Spark job over ONLY the nProbe probed partitions — no planning, no
  * shuffle, no scan, and unprobed clusters don't even get a task. The
  * driver merge is nProbe·k rows.
  *
  * Each probed partition runs the same per-cluster kernel as the
  * DataFrame path (`Nsw.searchCluster` with the exact scorer), so results
  * and visited counts are identical to `Nsw.topK`/`threshold`/
  * `searchAfter` at the same knobs — NswSpec pins the parity. Like
  * HotIndex, this is a deliberately non-declarative serving surface over
  * the same persisted format the DataFrame path reads.
  */
final class HotAnn private (
    parts: RDD[Nsw.ClusterArrays],
    centroids: Array[Array[Double]],
    deleted: Set[Long]) {

  /** Exact same contract as [[Nsw.topK]]: probe the nProbe nearest
    * clusters, beam from each medioid with frontier `ef`, merge
    * (sim desc, key asc) top-k. Tombstoned keys traverse, never return.
    * @param metrics when non-null, receives the summed visitedCount. */
  def topK(query: Seq[Float], k: Int, nProbe: Int, ef: Int,
           metrics: Nsw.SearchMetrics = null): Array[(Long, Double)] =
    search(query, nProbe, Nsw.Beam(k, ef), metrics)

  /** O(1) deny-set swap: a DELETE only changes the tombstone filter, so
    * the serving cache (pinned per-cluster arrays) is REUSED — the new
    * handle shares `parts` with this one (close() on either unpins both;
    * close exactly one). The membership-changing mutations (WRITE,
    * OPTIMIZE) need a full re-pin instead. */
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
    search(query, nProbe, Nsw.Flood(tau, maxVisit), metrics, cap)

  /** Serving twin of [[Nsw.searchAfter]]: top-k strictly after `cursor`
    * in (sim desc, key asc) order — page 2+ without refetching page 1. */
  def searchAfter(query: Seq[Float], k: Int, cursor: (Double, Long),
                  nProbe: Int, ef: Int,
                  metrics: Nsw.SearchMetrics = null): Array[(Long, Double)] =
    search(query, nProbe, Nsw.Beam(k, ef, Some(cursor)), metrics)

  /** One serving job over the probed partitions, each running the shared
    * per-cluster kernel, then the merge of their hits. A flood's hits are
    * held to `cap` per cluster and in total. */
  private def search(query: Seq[Float], nProbe: Int, policy: Nsw.Policy,
                     metrics: Nsw.SearchMetrics,
                     cap: Int = Nsw.FilterSetCap): Array[(Long, Double)] = {
    val scorer = Nsw.Exact(Nsw.toQuery(query))
    val deny = deleted
    val flood = policy.isInstanceOf[Nsw.Flood]
    val perCluster = HotIndex.serve(parts,
        Ann.probeOrder(centroids, scorer.q, nProbe).toIndexedSeq) { it =>
      if (!it.hasNext) (Array.empty[(Long, Double)], 0)
      else {
        val (hits, visited) = Nsw.searchCluster(it.next(), scorer, policy, deny)
        if (flood) HotIndex.requireUnderCap(hits.length, cap, "in one cluster", "Nsw.threshold")
        (hits, visited)
      }
    }
    if (metrics != null) metrics.visited = perCluster.map(_._2.toLong).sum
    val all = perCluster.flatMap(_._1).toArray
    if (flood) HotIndex.requireUnderCap(all.length, cap, "across the probed clusters", "Nsw.threshold")
    Nsw.mergeHits(all, policy.limit)
  }

  def close(): Unit = parts.unpersist()
}

object HotAnn {

  /** Materialize the serving cache: one assembled cluster per RDD
    * partition (partition index == cluster id, so probe pruning is
    * partition selection), pinned in executor memory. */
  def apply(graph: Nsw.Graph): HotAnn = {
    require(graph.deleted.length <= Nsw.FilterSetCap,
      s"tombstone set of ${graph.deleted.length} keys exceeds the serving " +
      s"closure cap (${Nsw.FilterSetCap}); Nsw.compact before pinning")
    val k = math.max(1, graph.centroids.length)
    val parts = Nsw.nodes(graph.adj).rdd
      .map { case (c, key, v, nbrs, e) => (c, (key, v, nbrs, e)) }
      // HashPartitioner(k) sends cluster c to partition c for c in [0, k)
      .partitionBy(new HashPartitioner(k))
      .mapPartitions({ it =>
        val rows = new mutable.ArrayBuffer[(Long, Array[Float], Array[Long], Boolean)]()
        it.foreach { case (_, (key, v, nbrs, e)) =>
          rows.append((key, v.toArray, nbrs.toArray, e))
        }
        if (rows.isEmpty) Iterator.empty
        else Iterator.single(Nsw.assemble(rows))
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_ONLY)
    parts.count() // materialize before first query
    new HotAnn(parts, graph.centroids, graph.deleted.toSet)
  }
}
