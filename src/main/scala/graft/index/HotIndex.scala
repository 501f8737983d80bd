package graft.index

import org.apache.spark.{HashPartitioner, NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import graft.core.DoubleTopK

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.util.control.NonFatal

/** Long-lived serving handle over a built index — the engine's analog of
  * the reference's resident query service (jvector
  * jvector-examples/.../IPCService.java:325-368 serves from a graph held
  * hot in memory; graph/disk/CachingGraphIndex.java:29-46 caches the hot
  * region near the entry point).
  *
  * The batch/search DataFrame path re-plans through Catalyst per query —
  * right for throughput, wrong for a serving loop where planning dominates
  * (~100 ms/query). Here the index is materialized ONCE as a cached RDD
  * holding one packed [[Searcher.Store]] per partition: the partition's
  * blocks grouped by term, block metadata in primitive arrays and all
  * payload bytes in one array, so the pinned cache costs the blocks'
  * varbyte payload, ~32 B of metadata per block and one string per term.
  * A partition holds whole shards, so one WAND run per partition is valid
  * (a shard holds every posting of its docs). A query is then one Spark
  * job over those stores — a binary-search term lookup + the WAND kernel
  * decoding in place + a driver-side k-way merge, no per-query planning,
  * shuffle, or scan. The query plan itself (idf + upper bound per term)
  * comes from the driver-resident hot dictionary. The stores and the
  * kernel inputs come from [[Searcher]], the same code the DataFrame path
  * runs, so both paths score bit-identically.
  *
  * Layout by size, not by cores: the pin holds the fewest partitions
  * that keep each store under [[HotIndex.PartitionBytes]], so a small
  * index is one partition and a lone query runs one task: every extra
  * task of a serving job costs scheduler time, while WAND over a few MB
  * takes a fraction of a millisecond. The pin itself stays parallel:
  * every shard is packed on its own, and the shard stores then merge into
  * the partition stores ([[Searcher.merge]]).
  *
  * A batch gets every core without pinning more partitions: a view whose
  * task t reads pinned partition t mod P (a narrow dependency, no copy)
  * runs P × s tasks, s = min(#queries, ⌈cores / P⌉), and task t scores the
  * queries whose index is ≡ ⌊t / P⌋ (mod s). In cluster mode the
  * DAGScheduler follows that narrow dependency to the cached block, so
  * each task prefers the executor holding its partition.
  *
  * This is the one deliberately non-declarative surface of the engine
  * (SURVEY §2.4 P5): serving latency is a per-partition imperative
  * problem, and the RDD is built from the same Dataset[Block] the batch
  * path queries — one format, two access paths.
  */
final class HotIndex private (
    ix: InvertedIndex,
    parts: RDD[Searcher.Store]) {

  def stats: IndexStats = ix.stats

  /** Id of the pinned RDD: the key of its `getRDDStorageInfo` entry. */
  private[graft] def rddId: Int = parts.id

  /** Build the kernel filter from serving-side id sets, enforcing the
    * closure-size guard: these arrays ship with EVERY job closure, so they
    * are meant for the "small live set" regime — a caller holding 10⁷
    * tombstones must compact (the durable path) instead of silently
    * serializing them into each query. */
  private def mkFilter(allow: Array[Long], deny: Array[Long]): Wand.DocFilter = {
    require(deny.length <= HotIndex.FilterSetCap,
      s"deny set of ${deny.length} docIds exceeds the serving closure cap " +
      s"(${HotIndex.FilterSetCap}); compact() the index instead of shipping " +
      "tombstones with every query")
    require(allow == null || allow.length <= HotIndex.FilterSetCap,
      s"allow set of ${allow.length} docIds exceeds the serving closure cap " +
      s"(${HotIndex.FilterSetCap}); use the DataFrame path (search with a " +
      "docFilter predicate) for large metadata filters")
    if (allow == null && deny.isEmpty) Wand.DocFilter.All
    else {
      val a = new java.util.HashSet[java.lang.Long]()
      if (allow != null) allow.foreach(a.add(_))
      val d = new java.util.HashSet[java.lang.Long]()
      deny.foreach(d.add(_))
      new Wand.DocFilter(allow == null, a, d)
    }
  }

  /** Exact top-k BM25, rank-identical to [[InvertedIndex.search]]:
    * (score desc, docId asc).
    * @param deny tombstoned docIds excluded from results (the serving-path
    *   twin of the batch path's tombstone Dataset; ships with the job
    *   closure — meant for the usual "small live deny set" regime, with
    *   compaction + a fresh HotIndex as the durable path). */
  def search(query: String, k: Int, deny: Array[Long] = Array.emptyLongArray): Array[ScoredDoc] =
    searchAll(Seq((0, query)), k, deny).headOption.map(_._2).getOrElse(Array.empty)

  /** Accept-list serving twin of [[InvertedIndex.search]] with a docFilter:
    * only docIds in `allow` (minus `deny`) are scored. The caller resolves
    * its metadata predicate to ids once (e.g. from a driver-held doc map);
    * large predicates belong on the DataFrame path. */
  def searchFiltered(query: String, k: Int, allow: Array[Long],
                     deny: Array[Long] = Array.emptyLongArray): Array[ScoredDoc] =
    runTopK(Seq((0, query)), k, mkFilter(allow, deny), null)
      .headOption.map(_._2).getOrElse(Array.empty)

  /** Pagination serving twin of [[InvertedIndex.searchAfter]]: exact top-k
    * among docs ranking strictly after (afterScore, afterDocId). */
  def searchAfter(query: String, k: Int, afterScore: Double, afterDocId: Long,
                  deny: Array[Long] = Array.emptyLongArray): Array[ScoredDoc] =
    runTopK(Seq((0, query)), k, mkFilter(null, deny),
      ScoredDoc(afterDocId, afterScore)).headOption.map(_._2).getOrElse(Array.empty)

  /** Threshold serving twin of [[InvertedIndex.searchThreshold]]: ALL docs
    * with score >= tau, (score desc, docId asc) — the one WAND loop with
    * its threshold sink.
    *
    * Result-size guard (mirror of [[HotIndex.FilterSetCap]]): the serving
    * path materializes the full result set on the DRIVER, so a low τ on a
    * head term would otherwise pull O(corpus) rows into driver memory.
    * Each partition checks its own hit count BEFORE shipping results and
    * fails loudly past `maxResults` — bulk threshold scans belong on the
    * distributed DataFrame path ([[InvertedIndex.searchThreshold]]). */
  def searchThreshold(query: String, tau: Double,
                      deny: Array[Long] = Array.emptyLongArray,
                      maxResults: Int = HotIndex.ThresholdResultCap): Array[ScoredDoc] = {
    val plan = ix.queryPlanFor(query)
    if (plan.isEmpty) return Array.empty
    val filter = mkFilter(null, deny)
    val avgdl = ix.stats.avgdl
    val cap = maxResults
    val perPart = sliced(1) { (s, _) =>
      val hits = Wand.threshold(s, plan, tau, avgdl, filter, null).toArray
      HotIndex.requireUnderCap(hits.length, cap, "in one partition",
        "InvertedIndex.searchThreshold")
      hits
    }
    val all = perPart.flatten.toArray
    HotIndex.requireUnderCap(all.length, cap, "in total", "InvertedIndex.searchThreshold")
    scala.util.Sorting.stableSort(all,
      (x: ScoredDoc, y: ScoredDoc) =>
        x.score > y.score || (x.score == y.score && x.docId < y.docId))
    all
  }

  /** Batch serving: ONE job scores every query against each partition's
    * store (shared scan, jvector SiftSmall.java:92-113 parallel batch
    * analog), fanned out over query slices so the batch gets every core;
    * returns per-query exact top-k. */
  def searchAll(queries: Seq[(Int, String)], k: Int,
                deny: Array[Long] = Array.emptyLongArray): Seq[(Int, Array[ScoredDoc])] =
    runTopK(queries, k, mkFilter(null, deny), null)

  private def runTopK(queries: Seq[(Int, String)], k: Int,
                      filter: Wand.DocFilter,
                      after: ScoredDoc): Seq[(Int, Array[ScoredDoc])] = {
    val plans = queries.map { case (qid, q) => (qid, ix.queryPlanFor(q)) }
    if (k <= 0 || plans.forall(_._2.isEmpty)) return plans.map(p => (p._1, Array.empty[ScoredDoc]))
    val avgdl = ix.stats.avgdl
    val kk = k
    val slices = math.min(plans.size, maxSlices)
    val perPart = sliced(slices) { (s, slice) =>
      plans.iterator.zipWithIndex.collect { case ((qid, plan), j) if j % slices == slice =>
        (qid, Wand.topK(s, plan, kk, avgdl, filter, after, null))
      }.toList
    }
    // tiny driver merge: numPartitions × k candidates per query, grouped
    // once so the merge is O(Q·P), not O(Q²·P)
    val byQid = new java.util.HashMap[Int, DoubleTopK]()
    plans.foreach { case (qid, _) => byQid.put(qid, new DoubleTopK(k)) }
    perPart.foreach(_.foreach { case (q, hits) =>
      val heap = byQid.get(q)
      hits.foreach(sd => heap.offer(sd.score, sd.docId))
    })
    plans.map { case (qid, _) =>
      (qid, byQid.get(qid).drain().map { case (s, d) => ScoredDoc(d, s) })
    }
  }

  /** Partitions of the pinned RDD. */
  private[graft] def numPartitions: Int = parts.getNumPartitions

  /** Query slices a batch fans out to: enough for every core. */
  private val maxSlices = {
    val cores = parts.sparkContext.defaultParallelism
    math.max(1, (cores + numPartitions - 1) / numPartitions)
  }

  /** Task t of [[sliced]] reads pinned partition t mod P. */
  private lazy val fanOut: RDD[Searcher.Store] =
    new Gather(parts, Array.tabulate(numPartitions * maxSlices)(t => Array(t % numPartitions)))

  /** The one serving job: `f(store, slice)` for every pinned partition's
    * store and every slice in [0, `slices`), one task each. */
  private def sliced[T](slices: Int)(f: (Searcher.Store, Int) => T): Seq[T] = {
    val p = numPartitions
    HotIndex.serve(if (slices == 1) parts else fanOut, 0 until p * slices) { it =>
      val slice = TaskContext.get.partitionId / p
      it.map(f(_, slice)).toList // drained, so the cached block's read lock is released
    }.flatten
  }

  def close(): Unit = parts.unpersist()
}

object HotIndex {
  /** Max docIds a serving-path allow/deny array may hold: ~8 MB of longs,
    * serialized into EVERY query's job closure. Larger sets must go
    * through compaction (deny) or the DataFrame path (allow). */
  val FilterSetCap = 1000000

  /** Max rows a serving-path threshold query may return: results land in
    * ONE driver array, so unbounded τ-scans must use the DataFrame path. */
  val ThresholdResultCap = 1000000

  /** The serving result cap of a threshold query, checked on each
    * partition's (or cluster's) hits before they ship and again on the
    * merged result, since both land in driver memory. `dfPath` names the
    * distributed twin that has no cap. */
  private[graft] def requireUnderCap(n: Int, cap: Int, scope: String, dfPath: String): Unit =
    require(n <= cap,
      s"threshold query matched $n rows $scope, over the serving result cap " +
      s"($cap); run bulk threshold scans on the DataFrame path ($dfPath)")

  /** The one way a serving handle runs a job: `f` over each of
    * `partitions` of `rdd`, results in the order of `partitions`, as
    * `SparkContext.runJob` returns them.
    *
    * `runJob` would hand `f`, wrapped in a lambda of its own, to
    * `SparkContext.clean`, whose `ClosureCleaner` reads and parses that
    * lambda's class bytecode from the spark-core jar on every call. Here
    * `f` travels inside the named class [[ServeTask]], on which `clean`
    * returns at once, and `submitJob` hands its own wrapper to the
    * scheduler uncleaned. The scheduler still serializes the task binary,
    * so a task capturing something unserializable still fails its job.
    *
    * A failed job rethrows the scheduler's exception, whose message
    * carries the task's reason, with the caller's stack appended (as
    * `runJob` does), not the `awaitResult` wrapper of
    * `SimpleFutureAction.get`. The result handler fills `out` on the
    * scheduler's thread before the job's future completes, and awaiting
    * that completion makes the writes visible here. */
  private[graft] def serve[T, U](rdd: RDD[T], partitions: Seq[Int])(
      f: Iterator[T] => U): IndexedSeq[U] = {
    val out = new Array[Any](partitions.size)
    val job = rdd.sparkContext.submitJob(rdd, new ServeTask(f), partitions,
      (i: Int, r: U) => out(i) = r, ())
    try Await.result(job, Duration.Inf)
    catch {
      case NonFatal(e) =>
        e.setStackTrace(e.getStackTrace ++ Thread.currentThread.getStackTrace.tail)
        throw e
    }
    out.toIndexedSeq.asInstanceOf[IndexedSeq[U]]
  }

  /** The partition function of every serving job; see [[serve]]. */
  private final class ServeTask[T, U](f: Iterator[T] => U)
      extends (Iterator[T] => U) with Serializable {
    def apply(it: Iterator[T]): U = f(it)
  }

  /** Largest store the pin puts in one partition, payload plus block
    * metadata ([[Searcher.Store.bytes]]): an eighth of the 2 GiB a store can
    * address, yet enough that an index of a few hundred MB pins a handful
    * of partitions. Only a shard larger than this gets a store over it. */
  val PartitionBytes: Long = 256L << 20

  /** Materialize the serving cache: the fewest partitions that keep each
    * packed [[Searcher.Store]] within [[PartitionBytes]], pinned in
    * executor memory. */
  def apply(ix: InvertedIndex): HotIndex = apply(ix, PartitionBytes)

  /** [[apply]] under a given partition budget. Every shard is packed in
    * parallel; the driver then groups the shards in shard order, starting
    * a partition whenever the next shard would take it over `budget`, and
    * each partition merges its shards' stores. */
  private[graft] def apply(ix0: InvertedIndex, budget: Long): HotIndex = {
    val ix = if (ix0.hotDict != null) ix0 else ix0.withHotDict()
    val sc = ix.spark.sparkContext
    val packers = math.max(1, math.min(sc.defaultParallelism, ix.stats.numShards))
    val shards = ix.blocks.rdd
      .map(b => (b.shard, b))
      .partitionBy(new HashPartitioner(packers))
      .mapPartitions { it =>
        val byShard = new java.util.HashMap[Int, ArrayBuffer[Block]]()
        it.foreach { case (s, b) => byShard.computeIfAbsent(s, _ => new ArrayBuffer[Block]) += b }
        byShard.asScala.iterator.map { case (s, bs) => (s, Searcher.pack(bs.iterator)) }
      }
      .persist(StorageLevel.MEMORY_ONLY)
    // (shard, packer partition, bytes), in shard order
    val sized = serve(shards, shards.partitions.indices)(_.map { case (s, st) => (s, st.bytes) }.toList)
      .zipWithIndex.flatMap { case (ss, p) => ss.map { case (s, b) => (s, p, b) } }.sortBy(_._1)
    val groups = ArrayBuffer(ArrayBuffer.empty[(Int, Int, Long)])
    var used = 0L
    sized.foreach { case u @ (_, _, b) =>
      if (groups.last.nonEmpty && used + b > budget) { groups += ArrayBuffer.empty; used = 0L }
      groups.last += u
      used += b
    }
    val members = groups.map(_.map(_._1).toArray).toArray
    val parts = new Gather(shards, groups.map(_.map(_._2).distinct.sorted.toArray).toArray)
      .mapPartitionsWithIndex { (j, it) =>
        val mine = it.toMap
        Iterator.single(Searcher.merge(members(j).map(mine).toIndexedSeq))
      }
      .persist(StorageLevel.MEMORY_ONLY)
    parts.count() // materialize before first query
    shards.unpersist(blocking = false)
    new HotIndex(ix, parts)
  }
}

/** A narrow view of `parent`: partition i reads the parent partitions
  * `reads(i)`, in order, with no shuffle and no copy. */
private[index] final class Gather[T: ClassTag](parent: RDD[T], reads: Array[Array[Int]])
    extends RDD[T](parent.sparkContext, Seq(new NarrowDependency[T](parent) {
      def getParents(i: Int): Seq[Int] = reads(i).toSeq
    })) {
  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](reads.length)(Gather.Part(_))

  override def compute(split: Partition, ctx: TaskContext): Iterator[T] =
    reads(split.index).iterator.flatMap(p => parent.iterator(parent.partitions(p), ctx))
}

private[index] object Gather {
  final case class Part(index: Int) extends Partition
}
