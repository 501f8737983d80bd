package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Nsw

/** Streaming vector ingestion — the vector twin of [[StreamingIndex]]
  * (reference B2: concurrent incremental `addGraphNode`,
  * jvector graph/GraphIndexBuilder.java:314-362, driven per micro-batch
  * instead of per thread): each `foreachBatch` routes the batch's vectors
  * to their clusters, inserts them into ONLY the touched clusters' graphs
  * (`Nsw.append`), and persists ONLY the touched cluster partitions
  * (`Nsw.saveTouched`, dynamic partition overwrite) — at the documented
  * 10^6-cluster scale a micro-batch rewrite touches a handful of
  * partition dirs, never the graph.
  *
  * Exactly-once across restarts:
  *  - the replay mark (`maxStreamBatch` in meta.json) is advanced by the
  *    same atomic meta publish that commits the batch's partitions, and
  *    batches at-or-under the mark are skipped on replay;
  *  - a crash BETWEEN the adj write and the meta publish is healed by
  *    idempotence, not bookkeeping: `Nsw.append` treats a live key
  *    written with the same vector as a no-op, so the replayed batch finds
  *    its rows written and then advances the mark (a key it un-tombstoned
  *    is rewritten once more, since the old meta still tombstones it).
  * A batch repeating a key with differing vectors is rejected by
  * `Nsw.append` before anything is written, which stops the query.
  * The checkpoint dir is the stream identity (same contract as
  * StreamingIndex): resuming with the same checkpoint continues the
  * batchId sequence the mark was written against.
  *
  * The coarse router (centroids) stays FIXED across appends — the same
  * stable-router contract as `Nsw.append`; re-clustering is a rebuild.
  * Each committed batch's graph owns its rows (`Nsw.Graph`), so the
  * resident graph never stacks a plan on its predecessors; the one it
  * replaces is retired once nothing serves it.
  * Fused PQ codes, if present, are dropped by the first append (new nodes
  * have none) — re-attach offline with `Nsw.attachPqWith`. */
object StreamingNsw {

  /** Live serving over a streaming-ingested graph — the reference IPC
    * service's concurrent WRITE+SEARCH (IPCService.java:107-230 accepts
    * writes and searches on one resident index): searches always run
    * against the latest COMMITTED batch's graph. [[refresh]] keeps the
    * previous generation serving with a one-generation grace (closed on
    * the refresh after next), so a search racing a refresh never loses
    * the arrays under its feet mid-query. A generation is retired — its
    * cache and its checkpoint released — only when its grace handle
    * closes: until then an evicted pinned block can still be recomputed
    * from it. */
  final class LiveAnn private[streaming] (first: Nsw.Graph) {
    @volatile private var hot = graft.ops.HotAnn(first)
    private var graph = first
    private var retiring: (graft.ops.HotAnn, Nsw.Graph) = null
    private[streaming] def refresh(g: Nsw.Graph): Unit = synchronized {
      retire()
      val next = graft.ops.HotAnn(g)
      retiring = (hot, graph)
      hot = next
      graph = g
    }
    /** The previous generation's handle and graph, while its grace lasts. */
    private[graft] def grace: Option[(graft.ops.HotAnn, Nsw.Graph)] = synchronized(Option(retiring))
    private def retire(): Unit = if (retiring != null) {
      retiring._1.close()
      retiring._2.unpersist()
      retiring = null
    }
    def topK(query: Seq[Float], k: Int, nProbe: Int, ef: Int,
             metrics: Nsw.SearchMetrics = null): Array[(Long, Double)] =
      hot.topK(query, k, nProbe, ef, metrics)
    def threshold(query: Seq[Float], tau: Double, nProbe: Int,
                  maxVisit: Int = Int.MaxValue): Array[(Long, Double)] =
      hot.threshold(query, tau, nProbe, maxVisit)
    def searchAfter(query: Seq[Float], k: Int, cursor: (Double, Long),
                    nProbe: Int, ef: Int): Array[(Long, Double)] =
      hot.searchAfter(query, k, cursor, nProbe, ef)
    /** Retires every generation the handle holds; stop the query first. */
    def close(): Unit = synchronized {
      retire()
      hot.close()
      graph.unpersist()
    }
  }

  /** Streaming ingestion + a live serving handle: the stream commits each
    * micro-batch durably (touched partitions + meta, exactly-once) and
    * the handle's searches see it as soon as the commit lands. Stop the
    * query, then close the handle. */
  def startServing(spark: SparkSession, vectors: DataFrame, keyCol: String,
                   vecCol: String, dir: String, checkpoint: String)
      : (StreamingQuery, LiveAnn) = {
    val graph = Nsw.load(spark, dir)
    val live = new LiveAnn(graph)
    val q = run(spark, vectors, keyCol, vecCol, dir, checkpoint, graph,
      commit = (_, next) => live.refresh(next)) // the handle retires the previous one
    (q, live)
  }

  def start(spark: SparkSession, vectors: DataFrame, keyCol: String,
            vecCol: String, dir: String, checkpoint: String): StreamingQuery =
    run(spark, vectors, keyCol, vecCol, dir, checkpoint, Nsw.load(spark, dir),
      commit = (previous, _) => previous.unpersist())

  /** The stream from resident graph `first`; `commit(previous, next)` runs
    * after each batch that changed the graph is durable, and owns
    * retiring `previous`. */
  private def run(spark: SparkSession, vectors: DataFrame, keyCol: String, vecCol: String,
                  dir: String, checkpoint: String, first: Nsw.Graph,
                  commit: (Nsw.Graph, Nsw.Graph) => Unit): StreamingQuery = {
    // resident graph: replaced after each committed batch
    @volatile var graph = first
    @volatile var mark = Nsw.loadStreamBatch(spark, dir)
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > mark) {
          val s = batch.sparkSession
          // ONE routing pass: append routes the batch to clusters anyway
          // and returns the touched set (appendTouched) — the old second
          // pass here also skipped append's float cast, so an
          // array<double> stream failed analysis on its first batch
          val (next, touched) = Nsw.appendTouched(s, graph, batch, keyCol, vecCol)
          Nsw.saveTouched(s, next, dir, touched, maxStreamBatch = batchId)
          if (next ne graph) {
            val previous = graph
            graph = next
            commit(previous, next)
          } // else: nothing changed (an empty or replayed batch) — the mark still advances
          mark = batchId
        }
      }
      .start()
  }
}
