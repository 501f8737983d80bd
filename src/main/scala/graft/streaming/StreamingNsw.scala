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
  *    idempotence, not bookkeeping: `Nsw.append` skips keys already
  *    present in a cluster, so the replayed batch rebuilds byte-identical
  *    partitions and then advances the mark.
  * The checkpoint dir is the stream identity (same contract as
  * StreamingIndex): resuming with the same checkpoint continues the
  * batchId sequence the mark was written against.
  *
  * The coarse router (centroids) stays FIXED across appends — the same
  * stable-router contract as `Nsw.append`; re-clustering is a rebuild.
  * Fused PQ codes, if present, are dropped by the first append (new nodes
  * have none) — re-attach offline with `Nsw.attachPqWith`. */
object StreamingNsw {

  /** Live serving over a streaming-ingested graph — the reference IPC
    * service's concurrent WRITE+SEARCH (IPCService.java:107-230 accepts
    * writes and searches on one resident index): searches always run
    * against the latest COMMITTED batch's graph. [[refresh]] retires the
    * previous generation's cache with a one-generation grace (closed on
    * the refresh after next), so a search racing a refresh never loses
    * the arrays under its feet mid-query. */
  final class LiveAnn private[streaming] (initial: graft.ops.HotAnn) {
    @volatile private var hot = initial
    private var retiring: graft.ops.HotAnn = null
    private[streaming] def refresh(g: Nsw.Graph): Unit = synchronized {
      if (retiring != null) retiring.close()
      val next = graft.ops.HotAnn(g)
      retiring = hot
      hot = next
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
    def close(): Unit = synchronized {
      if (retiring != null) { retiring.close(); retiring = null }
      hot.close()
    }
  }

  /** Streaming ingestion + a live serving handle: the stream commits each
    * micro-batch durably (touched partitions + meta, exactly-once) and
    * the handle's searches see it as soon as the commit lands. Stop the
    * query, then close the handle. */
  def startServing(spark: SparkSession, vectors: DataFrame, keyCol: String,
                   vecCol: String, dir: String, checkpoint: String)
      : (StreamingQuery, LiveAnn) = {
    val live = new LiveAnn(graft.ops.HotAnn(Nsw.load(spark, dir)))
    val q = start(spark, vectors, keyCol, vecCol, dir, checkpoint,
      onCommit = live.refresh)
    (q, live)
  }

  def start(spark: SparkSession, vectors: DataFrame, keyCol: String,
            vecCol: String, dir: String, checkpoint: String,
            onCommit: Nsw.Graph => Unit = _ => ()): StreamingQuery = {
    // resident graph: loaded once, replaced after each committed batch
    @volatile var graph = Nsw.load(spark, dir)
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
            graph.unpersist() // no-op: appendTouched already released it
            // each append stacks a DAG on its parent; re-anchor the
            // resident lineage on the just-persisted parquet periodically
            // so a long-lived stream can't grow an unbounded plan
            graph = if (batchId % 16 == 15) {
              next.unpersist()
              val g = Nsw.load(s, dir)
              g.copy(adj = g.adj.persist())
            } else next
            onCommit(graph) // serving refresh hook (after the commit)
          } // else: empty batch — nothing appended, the mark still advances
          mark = batchId
        }
      }
      .start()
  }
}
