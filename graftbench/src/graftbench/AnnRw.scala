package graftbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.ops.{Ann, HotAnn, Nsw}

/** `ann-rw`: a seeded set of hard vectors (overlapping clusters plus
  * uniform outliers) built into an NSW graph and pinned in `HotAnn`, then
  * one client running `HotAnn.topK` reads with writes interleaved at fixed
  * points: insert of a new key, upsert of a live key, delete of another
  * and a write of it again, delete of a third, and one compaction at the
  * end of the window. Each write is followed by a read that must see it.
  * The beam and the re-pin do the work; BM25 is idle. The build metrics
  * come from `Nsw.build` (vectors are the documents here), after the
  * window. */
final class AnnRw(run: Run) {
  private val tr = run.tracer
  private val n: Long = if (run.tiny) 1500L else 6000L
  private val params = Nsw.Params(m = 8, efConstruction = 32, kCenters = 16, iters = 2)
  private val (nProbe, ef) = (4, 48)
  private val partitions = 8
  private val readsBetweenWrites = if (run.tiny) 5 else 200
  private val savedDir = s"${run.work}/graph"

  private val queryVecs = (0 until (if (run.tiny) 20 else 200)).map(j => Inputs.freshVector(run.seed, 0, j))
  private val sample = queryVecs.take(8)
  private val recallSample = queryVecs.take(if (run.tiny) 12 else 20)

  /** Cycle c writes a new key, upserts an original key, deletes another
    * and writes it again, then deletes a third, which stays deleted until
    * the compaction that ends the window. */
  private final case class Cycle(insertKey: Long, upsertKey: Long, rewriteKey: Long, deleteKey: Long)
  private val schedule: IndexedSeq[Cycle] = {
    val rnd = new java.util.Random(run.seed * 31L + 7L)
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < 96) keys += (rnd.nextDouble() * n).toLong
    keys.toIndexedSeq.grouped(3).zipWithIndex.map { case (Seq(u, r, d), c) => Cycle(n + c, u, r, d) }.toIndexedSeq
  }

  private var graph: Nsw.Graph = null
  private var hot: HotAnn = null
  /** Keys whose vector the writes replaced or added, and keys deleted. */
  private val changed = mutable.LinkedHashMap[Long, Array[Float]]()
  private val deleted = mutable.LinkedHashSet[Long]()

  private val readMs, tracedReadMs, untracedReadMs = mutable.ArrayBuffer[Double]()
  private val visited = mutable.ArrayBuffer[Double]()
  private val fresh = mutable.ArrayBuffer[Double]()
  private var cursor = 0

  private def emb() = Inputs.vectors(run.spark, run.seed, n, partitions)

  private val buildSecs = mutable.ArrayBuffer[(Int, Double)]()

  /** `Nsw.build` over the vectors; `measured` builds are the build
    * samples (the first build of the JVM is not: it pays the JIT warm-up). */
  private def build(measured: Boolean): Nsw.Graph = {
    val (g, ms) = Stats.timeMs(tr.span(s"ops.ann.build.local${run.cores}") {
      val g = Nsw.build(run.spark, emb(), "vec_id", "embedding", params)
      g.adj.count()
      g
    })
    if (measured) buildSecs += run.cores -> ms / 1000
    g
  }

  private def repin(): Unit = {
    if (hot != null) hot.close()
    hot = tr.span("ops.ann.repin") { HotAnn(graph) }
  }

  private def ordered(res: Array[(Long, Double)]): Boolean =
    res.indices.drop(1).forall { i =>
      val (a, b) = (res(i - 1), res(i))
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
    }

  private def read(measured: Boolean = true): Unit = {
    val q = queryVecs(cursor % queryVecs.size)
    cursor += 1
    val recorded = !tr.enabled || cursor % 2 == 0
    tr.recording = recorded
    val m = new Nsw.SearchMetrics
    val (res, ms) = Stats.timeMs(tr.request(cursor.toLong) {
      tr.span("ann.topK") { hot.topK(q.toSeq, 10, nProbe, ef, m) }
    })
    tr.recording = true
    if (measured) {
      readMs += ms
      if (tr.enabled) (if (recorded) tracedReadMs else untracedReadMs) += ms
      visited += m.visited.toDouble
    }
    run.attempt("ann.read") {
      if (res.length > 10) Some(s"${res.length} hits for k=10")
      else if (res.map(_._1).distinct.length != res.length) Some("a key returned twice")
      else if (!ordered(res)) Some("hits not in (sim desc, key asc) order")
      else res.find(h => deleted.contains(h._1)).map(h => s"deleted key ${h._1} returned")
    }
  }

  /** Whether the pinned handle returns `key` with vector `v` (cosine 1 with
    * itself), searching every cluster with a wide beam. */
  private def sees(key: Long, v: Array[Float]): Boolean =
    hot.topK(v.toSeq, 10, params.kCenters, 512).exists(h => h._1 == key && h._2 > 1 - 1e-6)

  /** A write of `v` under `key` is visible when the key answers with `v`
    * and no longer with the vector it replaced. */
  private def visible(key: Long, v: Array[Float], replaced: Option[Array[Float]]): Boolean =
    sees(key, v) && !replaced.exists(sees(key, _))

  private def append(key: Long, v: Array[Float]): Unit = {
    val spark = run.spark
    import spark.implicits._
    val batch = Seq((key, v.toSeq)).toDF("vec_id", "embedding")
    graph = tr.span("ops.ann.append") { Nsw.appendTouched(spark, graph, batch, "vec_id", "embedding")._1 }
    repin()
  }

  /** Compaction as the engine's own serving loop runs it (`annserve
    * :opt`): purge, then cut the compacted graph's lineage, so later
    * writes do not recompute the whole write history. */
  private def compact(): Unit = {
    graph = tr.span("ops.ann.compact") {
      val g = Nsw.compact(run.spark, graph)
      if (g eq graph) g
      else {
        val cut = g.copy(adj = g.adj.localCheckpoint(true))
        g.adj.unpersist()
        cut
      }
    }
    repin()
  }

  private def delete(key: Long): Unit = {
    graph = tr.span("ops.ann.delete") {
      val g = Nsw.delete(graph, Seq(key))
      hot = hot.withDeleted(g.deleted.toSet) // shares the pinned clusters
      g
    }
  }

  /** Write `v` under `key` and check the next read sees it. If the first
    * write returns a wrong result, the client falls back to the path the
    * API offers for replacing a stored key (tombstone, compact, insert);
    * the op then counts as wrong on first try, and as failed only if the
    * fallback is wrong too. */
  private def write(op: String, key: Long, v: Array[Float], replaced: Option[Array[Float]]): Unit = {
    val t0 = System.nanoTime()
    run.attempt(op) {
      append(key, v)
      if (visible(key, v, replaced)) None
      else {
        val s = run.op(op)
        s.wrongFirstTry += 1
        if (s.reasons.size < 5)
          s.reasons += s"key $key does not answer with the written vector alone; retried via delete+compact"
        delete(key)
        compact()
        append(key, v)
        if (visible(key, v, replaced)) None
        else Some(s"key $key not visible after delete+compact+insert")
      }
    }
    fresh += (System.nanoTime() - t0) / 1e9
    deleted -= key
    changed(key) = v
  }

  private def cycle(c: Int): Unit = {
    val s = schedule(c % schedule.size)
    def reads(): Unit = (0 until readsBetweenWrites).foreach(_ => read())
    reads()
    write("ann.insert", s.insertKey, Inputs.freshVector(run.seed, 1, c), None)
    reads()
    write("ann.upsert", s.upsertKey, Inputs.freshVector(run.seed, 2, c),
      Some(Inputs.vector(run.seed, s.upsertKey)))
    reads()
    remove(s.rewriteKey)
    reads()
    write("ann.write_after_delete", s.rewriteKey, Inputs.freshVector(run.seed, 3, c), None)
    reads()
    remove(s.deleteKey)
  }

  private def remove(key: Long): Unit = {
    val t0 = System.nanoTime()
    run.attempt("ann.delete") {
      delete(key)
      deleted += key
      changed -= key
      if (returned(key)) Some(s"deleted key $key still returned") else None
    }
    fresh += (System.nanoTime() - t0) / 1e9
  }

  /** Whether a wide search with the key's original vector returns it. */
  private def returned(key: Long): Boolean =
    hot.topK(Inputs.vector(run.seed, key).toSeq, 10, params.kCenters, 512).exists(_._1 == key)

  /** The live key set after the writes, as the oracle scans it. */
  private def live() = {
    val spark = run.spark
    import spark.implicits._
    val gone = (deleted ++ changed.keys).toSeq
    emb().filter(!col("vec_id").isin(gone: _*))
      .union(changed.toSeq.map { case (k, v) => (k, v.toSeq) }.toDF("vec_id", "embedding"))
  }

  def apply(): Unit = tr.span(run.workload) {
    run.session(run.nproc)
    val t0 = System.nanoTime()
    graph = build(measured = false)
    repin()
    tr.span("ops.ann.save") { Nsw.save(run.spark, graph, savedDir) }
    // JIT warm-up of the read path: its first few hundred calls run cold
    (0 until (if (run.tiny) 10 else 100)).foreach(_ => read(measured = false))
    run.setE2e("setup_s", (System.nanoTime() - t0) / 1e9)
    run.log("setup done")
    run.setE2e("serve_mem_mb", Report.storageMb(run))
    run.setE2e("index_bytes_per_text_byte", Report.dirBytes(savedDir).toDouble / (n * Inputs.Dim * 4))
    describeInputs()

    val end = System.nanoTime() + (run.seconds * 1e9).toLong
    var c = 0
    do { cycle(c); c += 1 } while (System.nanoTime() < end)
    val tc = System.nanoTime()
    run.attempt("ann.compact") {
      compact()
      if (graph.deleted.nonEmpty) Some(s"${graph.deleted.length} tombstones left after compact")
      else deleted.find(returned).map(k => s"deleted key $k returned after compact")
    }
    fresh += (System.nanoTime() - tc) / 1e9
    run.notes("write_cycles") = c
    run.log(s"window done: $c write cycles, ${readMs.size} reads")

    batchQps()
    dataFramePath()
    recall()
    hot.close()
    run.log("batch, DataFrame path and recall done")

    // warm builds alternating between the levels, each in a fresh session
    Seq(1, run.nproc, 1, run.nproc).foreach { cores =>
      run.session(cores)
      build(measured = true)
    }
    def docsPerS(cores: Int) = n / Stats.median(run.sample(s"build_s_local$cores",
      buildSecs.filter(_._1 == cores).map(_._2).toSeq))
    run.setE2e("build_docs_per_s_1core", docsPerS(1))
    run.setE2e("build_docs_per_s", docsPerS(run.nproc))
    Report.scalingEff(run, docsPerS(run.nproc), docsPerS(1))
    run.log("level builds done")
    readMetrics()
  }

  /** The first 100 query vectors at once from nproc client threads
    * (`HotAnn` has no batch call); each answer must equal the single-client
    * one. */
  private def batchQps(): Unit = {
    val batch = queryVecs.take(100)
    val want = sample.map(q => hot.topK(q.toSeq, 10, nProbe, ef).toSeq)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(run.nproc)
    try {
      val secs = (1 to 3).map { _ =>
        val (res, ms) = Stats.timeMs(tr.span("ann.batch") {
          batch.map(q => pool.submit(new java.util.concurrent.Callable[Array[(Long, Double)]] {
            def call(): Array[(Long, Double)] = hot.topK(q.toSeq, 10, nProbe, ef)
          })).map(_.get())
        })
        sample.indices.foreach { i =>
          run.attempt("ann.batch")(if (res(i).toSeq == want(i)) None else Some(s"query $i differs from the single-client answer"))
        }
        ms / 1000
      }
      run.sample("batch_s", secs)
      run.setE2e("batch_qps", batch.size / Stats.median(secs))
    } finally pool.shutdown()
  }

  /** `Nsw.topK` over the graph saved after the writes and loaded back (the
    * unpinned, per-query Catalyst path); it must equal the pinned answer. */
  private def dataFramePath(): Unit = {
    val dir = s"${run.work}/graph-after"
    tr.span("ops.ann.save") { Nsw.save(run.spark, graph, dir) }
    val loaded = Nsw.load(run.spark, dir)
    val ms = sample.zipWithIndex.map { case (q, i) =>
      tr.request(100000L + i) {
        val (df, planMs) = Stats.timeMs(tr.span("ops.ann.df.plan") {
          val df = Nsw.topK(loaded, q.toSeq, 10, nProbe, ef)
          df.queryExecution.executedPlan
          df
        })
        val (rows, execMs) = Stats.timeMs(tr.span("ops.ann.df.exec") { df.collect() })
        val got = rows.toSeq.map(r => (r.getLong(0), r.getDouble(1)))
        val want = hot.topK(q.toSeq, 10, nProbe, ef).toSeq
        run.attempt("ann.topK_vs_dataframe")(if (got == want) None else Some(s"query $i: $got != $want"))
        planMs + execMs
      }
    }
    run.sample("df_query_ms", ms)
    run.setE2e("df_query_p50_ms", Stats.median(ms))
  }

  /** recall@10 of the serving knobs against `Ann.bruteTopK` (cosine) over
    * the live set; hits both return must carry the same similarity. */
  private def recall(): Unit = {
    val liveDf = live().persist()
    val rs = recallSample.zipWithIndex.map { case (q, i) =>
      val want = tr.span("ann.bruteforce") {
        Ann.bruteTopK(liveDf, "vec_id", "embedding", q.toSeq, 10, Ann.Cosine).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toMap
      }
      val got = hot.topK(q.toSeq, 10, nProbe, ef)
      run.attempt("ann.vs_bruteforce") {
        got.collectFirst { case (k, s) if want.get(k).exists(w => math.abs(w - s) > 1e-9) =>
          s"query $i key $k sim $s != ${want(k)}" }
      }
      got.count(h => want.contains(h._1)).toDouble / want.size
    }
    liveDf.unpersist()
    run.sample("recall_at_10", rs)
    run.setE2e("recall_at_10", Stats.mean(rs))
  }

  private def readMetrics(): Unit = {
    val xs = run.sample("query_ms", readMs.toSeq)
    run.setE2e("query_p50_ms", Stats.median(xs))
    run.setE2e("query_p99_ms", Stats.quantile(xs, 0.99))
    run.notes("query_samples") = xs.size
    run.notes("query_samples_above_p99") = Stats.above(xs, 0.99)
    run.notes("query_ms_per_100_reads") = Report.blockMedians(xs)
    run.sample("fresh_s", fresh.toSeq)
    run.setE2e("fresh_s", Stats.median(fresh.toSeq))
    if (tr.enabled) {
      tr.drain()
      def secs(name: String) = Stats.median(tr.named(name).map(_.ms / 1000))
      run.setLayer("ops.ann.visited", Stats.median(visited.toSeq))
      run.setLayer("ops.ann.append_s", secs("ops.ann.append"))
      run.setLayer("ops.ann.repin_s", secs("ops.ann.repin"))
      run.setLayer("ops.ann.delete_s", secs("ops.ann.delete"))
      run.setLayer("ops.ann.compact_s", secs("ops.ann.compact"))
      run.setLayer("ops.ann.build_s", tr.named(s"ops.ann.build.local${run.nproc}").head.ms / 1000)
      Report.traceLayers(run, "ann.topK", s"ops.ann.build.local${run.nproc}",
        tracedReadMs.toSeq, untracedReadMs.toSeq)
      Metrics.Bm25Layers.foreach(run.setLayer(_, 0.0))
    }
  }

  private def describeInputs(): Unit = {
    val outliers = (0L until n).count { i =>
      new scala.util.Random(run.seed * 1000003L + i * 2654435761L + 13).nextDouble() < Inputs.OutlierShare
    }
    run.hashes("vectors") = Inputs.frameHash(emb())._1
    run.hashes("query_vectors") = Inputs.sha256(queryVecs.map(_.mkString(",")))
    run.hashes("write_schedule") = Inputs.sha256(schedule.map(c => s"${c.insertKey},${c.upsertKey},${c.deleteKey}"))
    run.inputs ++= Seq(
      "vectors" -> n, "dim" -> Inputs.Dim, "data_clusters" -> Inputs.DataClusters,
      "outlier_share" -> outliers.toDouble / n, "graph_clusters" -> params.kCenters,
      "n_probe" -> nProbe, "ef" -> ef, "query_vectors" -> queryVecs.size,
      "reads_between_writes" -> readsBetweenWrites)
  }
}
