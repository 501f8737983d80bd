package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.{Codec, Text}
import graft.corpus.WebCorpus
import graft.index._
import graft.streaming.StreamingIndex

/** `bm25`: one seeded corpus written to parquet at rest (the
  * `assumeSorted` layout), built and pinned in `HotIndex` in setup. The
  * measuring window is a closed loop of `HotIndex.search` calls from one
  * client over a query list that mixes head, mid and tail Zipf terms,
  * per-doc rare terms, unknown and repeated terms. Then `searchAll` over
  * the list, the DataFrame path over the saved unpinned index, the
  * brute-force oracle, micro-batches (append → refresh → pin → a query
  * that must see the batch), and one warm bulk build at `local[1]` and one
  * at `local[nproc]`, each in a fresh session. Tokenizing, encoding and
  * segment writes, planning, WAND/decode and `runJob` all do work here;
  * the vector layers are idle.
  */
final class Bm25(run: Run) {
  private val tr = run.tracer
  private val nDocs: Long = if (run.tiny) 300L else 4000L
  private val corpusParts = 8
  private val opts = IndexBuilder.Options(numShards = 16, rangePartitions = 16)
  private val numChunks = 4
  private val batchDocs: Long = if (run.tiny) 20L else 100L
  private val corpusPath = s"${run.work}/corpus"
  private val MicroBatches = 1

  private val queries = Inputs.queries(run.seed, nDocs, if (run.tiny) 0.1 else 1.0)
  private val sample = Inputs.stratified(queries, perKind = 2)
  /** The sample minus unknown and repeated terms, for the slow DataFrame path. */
  private val dfSample = sample.filterNot(q => q.kind == "unknown" || q.kind == "repeated")

  private final case class Built(cores: Int, secs: Double, phases: Map[String, Double])
  private val builds = mutable.ArrayBuffer[Built]()
  private var buildSeq = 0
  private var textBytes = 0L

  private val readMs = mutable.ArrayBuffer[Double]()
  private val tracedReadMs = mutable.ArrayBuffer[Double]()
  private val untracedReadMs = mutable.ArrayBuffer[Double]()
  private var cursor = 0

  // ---- steps

  private def genCorpus(): Unit = tr.span("corpus.generate") {
    Inputs.pages(run.spark, run.seed, 0, nDocs, corpusParts).write.parquet(corpusPath)
  }

  /** A bulk build of the corpus; `measured` builds are the build samples
    * (the first build of the JVM is not: it pays the JIT warm-up). */
  private def bulkBuild(measured: Boolean): (InvertedIndex, String) = {
    buildSeq += 1
    val dir = s"${run.work}/ix-$buildSeq"
    val cores = run.cores
    val (ix, ms) = Stats.timeMs(tr.span(s"index.build.local$cores") {
      ResumableBuild.build(run.spark, run.spark.read.parquet(corpusPath), dir, opts,
        numChunks = numChunks, assumeSorted = true, parallelChunks = numChunks)
    })
    if (measured) builds += Built(cores, ms / 1000, ResumableBuild.lastPhaseSecs.asScala.toMap)
    run.attempt("bm25.build") {
      if (ix.stats.numDocs == nDocs) None
      else Some(s"built numDocs ${ix.stats.numDocs} != corpus rows $nDocs")
    }
    (ix, dir)
  }

  private def pin(ix: InvertedIndex): HotIndex = tr.span("index.hot.pin") { HotIndex(ix) }

  private def wrong(res: Array[ScoredDoc]): Option[String] = {
    val ordered = res.indices.drop(1).forall { i =>
      val (a, b) = (res(i - 1), res(i))
      a.score > b.score || (a.score == b.score && a.docId < b.docId)
    }
    if (res.length > 10) Some(s"${res.length} hits for k=10")
    else if (!ordered) Some("hits not in (score desc, docId asc) order")
    else if (res.exists(d => !(d.score > 0) || d.score.isInfinite)) Some("non-positive score")
    else None
  }

  /** One closed-loop read: the next query of the list, timed end to end
    * unless it is a warm-up read. */
  private def read(hot: HotIndex, measured: Boolean = true): Unit = {
    val q = queries(cursor % queries.size)
    cursor += 1
    // the traced run alternates recorded and unrecorded reads, so the
    // tracing overhead is measured inside one noise window
    val recorded = !tr.enabled || cursor % 2 == 0
    tr.recording = recorded
    val (res, ms) = Stats.timeMs(tr.request(cursor.toLong) {
      tr.span("bm25.search") { hot.search(q.text, 10) }
    })
    tr.recording = true
    if (measured) {
      readMs += ms
      if (tr.enabled) (if (recorded) tracedReadMs else untracedReadMs) += ms
    }
    run.attempt("bm25.search")(wrong(res))
  }

  private def hits(res: Array[ScoredDoc]): Seq[(Long, Double)] = res.toSeq.map(d => (d.docId, d.score))

  private def sameHits(got: Seq[(Long, Double)], want: Seq[(Long, Double)], tol: Double): Option[String] =
    if (got.map(_._1) != want.map(_._1)) Some(s"docIds ${got.map(_._1)} != ${want.map(_._1)}")
    else got.zip(want).collectFirst {
      case ((d, a), (_, b)) if math.abs(a - b) > tol => s"doc $d score $a != $b"
    }

  /** The seeded sample through the DataFrame path over the saved, unpinned
    * index and through the brute-force oracle; returns recall@10 of the
    * pinned handle against the oracle. */
  private def checkSample(dir: String, hot: HotIndex): Double = {
    val spark = run.spark
    val hotHits = sample.map(q => q.id -> hits(hot.search(q.text, 10))).toMap
    val saved = InvertedIndex.load(spark, dir)
    val dfMs = mutable.ArrayBuffer[Double]()
    dfSample.foreach { q =>
      tr.request(100000L + q.id) {
        val (df, planMs) = Stats.timeMs(tr.span("index.df.plan") {
          val df = saved.search(q.text, 10)
          df.queryExecution.executedPlan
          df
        })
        val (rows, execMs) = Stats.timeMs(tr.span("index.df.exec") {
          df.select("docId", "score").collect()
        })
        dfMs += planMs + execMs
        run.attempt("bm25.search_vs_dataframe") {
          sameHits(rows.toSeq.map(r => (r.getLong(0), r.getDouble(1))), hotHits(q.id), 1e-9)
        }
      }
    }
    run.sample("df_query_ms", dfMs.toSeq)
    run.setE2e("df_query_p50_ms", Stats.median(dfMs.toSeq))

    val docs = saved.docs.select("docId", "url")
      .join(spark.read.parquet(corpusPath).select("url", "text"), "url")
    val brute = tr.span("index.bruteforce") {
      BruteForce.topK(spark, docs, "docId", "text", sample.map(q => (q.id, q.text)), 10)
        .collect()
    }.groupBy(_.getAs[Int]("queryId")).map { case (qid, rows) =>
      qid -> rows.sortBy(_.getAs[Int]("rank")).toSeq
        .map(r => (r.getAs[Long]("docKey"), r.getAs[Double]("score")))
    }
    val recalls = sample.flatMap { q =>
      val want = brute.getOrElse(q.id, Nil)
      run.attempt("bm25.search_vs_bruteforce")(sameHits(hotHits(q.id), want, 1e-6))
      if (want.isEmpty) None
      else Some(hotHits(q.id).map(_._1).toSet.intersect(want.map(_._1).toSet).size.toDouble / want.size)
    }
    Stats.mean(recalls)
  }

  /** K micro-batches: append → refresh → pin, then a query for a term only
    * the new batch holds, on the new handle (the freshness probe). */
  private def microBatches(dir: String, hot0: HotIndex, k: Int): HotIndex = {
    val spark = run.spark
    var hot = hot0
    val fresh = mutable.ArrayBuffer[Double]()
    (0 until k).foreach { b =>
      val from = nDocs + b * batchDocs
      val batch = Inputs.pages(spark, run.seed, from, from + batchDocs, 2)
      // per-doc rare terms (`rare<i>x<j>`) occur in doc i only
      val (probeDoc, probeTerm) = (from until from + batchDocs).iterator.flatMap { i =>
        Text.tokenize(WebCorpus.page(run.seed, i).text).find(_.startsWith(s"rare${i}x")).map(i -> _)
      }.next()
      val t0 = System.nanoTime()
      tr.span("streaming.appendBatch") {
        StreamingIndex.appendBatch(spark, batch, dir, opts, b.toLong, streamId = "graftbench")
      }
      val ix = tr.span("streaming.refresh") { StreamingIndex.refresh(spark, dir) }
      val next = pin(ix)
      val res = tr.span("bm25.search") { next.search(probeTerm, 10) }
      fresh += (System.nanoTime() - t0) / 1e9
      val total = nDocs + (b + 1) * batchDocs
      run.attempt("bm25.append") {
        if (ix.stats.numDocs != total) Some(s"numDocs ${ix.stats.numDocs} != $total after batch $b")
        else if (res.length != 1 || res(0).docId < from)
          Some(s"'$probeTerm' of appended doc $probeDoc: ${res.map(_.docId).mkString(",")}")
        else None
      }
      hot.close()
      hot = next
    }
    run.sample("fresh_s", fresh.toSeq)
    run.setE2e("fresh_s", Stats.median(fresh.toSeq))
    hot
  }

  /** `searchAll` over the query list five times over (1000 queries, long
    * enough that one scheduling hiccup does not set the figure), in one
    * call, three times; each sample answer must equal its single search. */
  private def batchQps(hot: HotIndex): Unit = {
    val copies = 5
    val qs = (0 until copies).flatMap(c => queries.map(q => (c * queries.size + q.id, q.text)))
    val one = sample.map(q => q.id -> hits(hot.search(q.text, 10))).toMap
    val secs = (1 to 3).map { _ =>
      val (res, ms) = Stats.timeMs(tr.span("bm25.searchAll") { hot.searchAll(qs, 10) })
      val byId = res.toMap
      sample.foreach { q =>
        run.attempt("bm25.searchAll")(sameHits(hits(byId(q.id)), one(q.id), 0.0))
      }
      ms / 1000
    }
    run.sample("batch_s", secs)
    run.setE2e("batch_qps", qs.size / Stats.median(secs))
  }

  private def sizeOf(dir: String): Long =
    Seq("blocks", "dict", "docs").map(d => Report.dirBytes(s"$dir/$d")).sum

  private def describeInputs(ix: InvertedIndex): Unit = {
    val spark = run.spark
    val corpus = spark.read.parquet(corpusPath)
    val (hash, bytes) = Inputs.frameHash(corpus, sum(octet_length(col("text"))))
    textBytes = bytes
    run.hashes("corpus") = hash
    run.hashes("queries") = Inputs.sha256(queries.map(q => s"${q.kind}\t${q.text}"))
    run.hashes("micro_batches") = Inputs.sha256((nDocs until nDocs + MicroBatches * batchDocs)
      .map(i => WebCorpus.page(run.seed, i)).map(p => s"${p.url}\t${p.text}\t${p.lang}"))
    val terms = queries.flatMap(q => Text.tokenize(q.text)).distinct
    val df = ix.dict.filter(col("term").isin(terms: _*)).select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val classes = queries.map(q => dfClass(Text.tokenize(q.text).flatMap(df.get)))
    run.inputs ++= Seq(
      "docs" -> nDocs, "text_bytes" -> textBytes, "vocabulary" -> ix.dict.count(),
      "avg_doc_tokens" -> ix.stats.avgdl, "micro_batch_docs" -> batchDocs,
      "queries" -> queries.size,
      "query_kind_share" -> shares(queries.map(_.kind)),
      "query_df_class_share" -> shares(classes),
      "terms_per_query_share" -> shares(queries.map(q => Text.tokenize(q.text).length.toString)))
  }

  /** A query's class is that of its most frequent known term: its posting
    * list bounds the WAND work. */
  private def dfClass(dfs: Seq[Long]): String =
    if (dfs.isEmpty) "unknown"
    else if (dfs.max >= nDocs / 20) "head"
    else if (dfs.max >= nDocs / 200) "mid"
    else "tail"

  private def shares(xs: Seq[String]): Map[String, Double] =
    scala.collection.immutable.ListMap(xs.groupBy(identity)
      .map { case (k, v) => k -> v.size.toDouble / xs.size }.toSeq.sortBy(_._1): _*)

  /** Replays the sample layer by layer outside Spark: planning from the
    * driver-resident dictionary, then `Wand.topK` over each serving
    * partition's blocks (the partitioning `HotIndex` uses), then a bare
    * decode of every block the sample's terms own. */
  private def replay(dir: String, hot: HotIndex): Unit = tr.span("index.query.replay") {
    val spark = run.spark
    val ix = InvertedIndex.load(spark, dir).withHotDict()
    val hd = ix.hotDict
    val (n, avgdl) = (ix.stats.numDocs, ix.stats.avgdl)
    val terms = sample.flatMap(q => Text.tokenize(q.text)).distinct
    val blocks = ix.blocks.filter(col("term").isin(terms: _*)).collect()
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism, ix.stats.numShards))
    val byPart = (0 until parts).map { p =>
      blocks.filter(b => math.floorMod(b.shard, parts) == p).groupBy(_.term)
        .map { case (t, bs) => t -> bs.sortBy(_.firstDocId) }
    }
    val byTerm = blocks.groupBy(_.term)
    def plan(q: String): Map[String, (Double, Double)] =
      Text.tokenize(q).distinct.flatMap(t => Option(hd.get(t))).map { e =>
        val idf = Text.idf(e.df, n)
        e.term -> (idf, idf * Text.tfPartial(e.maxTf, e.minDl.toLong, avgdl))
      }.toMap

    val planMs, wandMs, wandMaxMs = mutable.ArrayBuffer[Double]()
    val decoded, total = mutable.Map[String, Long]().withDefaultValue(0L)
    sample.foreach { q =>
      val passes = (1 to 3).map { _ =>
        val (pl, pms) = Stats.timeMs(plan(q.text))
        val per = byPart.map { m =>
          val tb = pl.toSeq.sortBy(_._1).flatMap { case (t, (idf, ub)) => m.get(t).map(bs => (idf, ub, bs)) }
          val st = new Wand.SearchStats
          val (res, ms) = Stats.timeMs(Wand.topK(tb, 10, avgdl, stats = st))
          (res, ms, st)
        }
        (pl, pms, per)
      }
      planMs += Stats.median(passes.map(_._2))
      wandMs += Stats.median(passes.map(_._3.map(_._2).sum))
      wandMaxMs += Stats.median(passes.map(_._3.map(_._2).max))
      val (pl, _, per) = passes.head
      val cls = dfClass(pl.keys.toSeq.map(t => hd.get(t).df))
      decoded(cls) += per.map(_._3.decodedBlocks).sum
      total(cls) += per.map(_._3.totalBlocks).sum
      val merged = per.flatMap(_._1).sortBy(d => (-d.score, d.docId)).take(10)
      run.attempt("bm25.replay_vs_hot")(sameHits(hits(merged.toArray), hits(hot.search(q.text, 10)), 0.0))
    }
    val decodeMs = (1 to 5).map { _ =>
      Stats.timeMs(sample.foreach { q =>
        plan(q.text).keys.foreach(t => byTerm.getOrElse(t, Array.empty[Block]).foreach { b =>
          Codec.decodeDocIds(b.docBytes, -1L); Codec.decodeTfs(b.tfBytes); Codec.decodeTfs(b.dlBytes)
        })
      })._2
    }
    def ratio(d: Long, t: Long): Double = if (t == 0) 0.0 else d.toDouble / t
    run.setLayer("core.decode_ms", Stats.median(decodeMs))
    run.setLayer("index.query.plan_ms", Stats.median(planMs.toSeq))
    run.setLayer("index.query.wand_ms", Stats.median(wandMs.toSeq))
    run.setLayer("index.query.wand_max_shard_ms", Stats.median(wandMaxMs.toSeq))
    run.setLayer("index.query.blocks_decoded", decoded.values.sum.toDouble)
    run.setLayer("index.query.blocks_total", total.values.sum.toDouble)
    run.setLayer("index.query.decode_ratio", ratio(decoded.values.sum, total.values.sum))
    run.setLayer("index.query.decode_ratio_head", ratio(decoded("head"), total("head")))
    run.setLayer("index.query.decode_ratio_tail", ratio(decoded("tail"), total("tail")))
  }

  private def buildMetrics(): Unit = {
    val atN = builds.filter(_.cores == run.nproc).toSeq
    val at1 = builds.filter(_.cores == 1).toSeq
    def docsPerS(bs: Seq[Built]) = nDocs / Stats.median(bs.map(_.secs))
    run.sample(s"build_s_local${run.nproc}", atN.map(_.secs))
    run.sample("build_s_local1", at1.map(_.secs))
    run.setE2e("build_docs_per_s", docsPerS(atN))
    run.setE2e("build_docs_per_s_1core", docsPerS(at1))
    Report.scalingEff(run, docsPerS(atN), docsPerS(at1))
    run.setE2e("index_bytes_per_text_byte", indexBytes.toDouble / textBytes)
    Seq("" -> atN, "_1core" -> at1).foreach { case (suffix, bs) =>
      def med(f: Map[String, Double] => Double) = Stats.median(bs.map(b => f(b.phases)))
      def chunks(m: Map[String, Double]) = m.collect { case (k, v) if k.matches("chunk\\d+-write") => v }
      run.setLayer(s"index.build.sort_count_s$suffix", med(_.getOrElse("sort+count", Double.NaN)))
      run.setLayer(s"index.build.chunk_write_s$suffix", med(chunks(_).sum))
      run.setLayer(s"index.build.chunk_write_max_s$suffix", med(chunks(_).max))
      run.setLayer(s"index.build.dict_s$suffix", med(_.getOrElse("dict-write", Double.NaN)))
      run.setLayer(s"index.build.docs_write_s$suffix", med(_.getOrElse("docs-write", Double.NaN)))
      run.setLayer(s"index.build.total_s$suffix", med(_.getOrElse("total", Double.NaN)))
    }
    manifest.foreach { case (k, v) => run.setLayer(s"index.build.$k", v.toDouble) }
  }

  private var indexBytes = 0L
  private var manifest: Seq[(String, Long)] = Nil

  /** Size and manifest of a fresh local[nproc] build, before any append. */
  private def recordIndex(dir: String): Unit = {
    indexBytes = sizeOf(dir)
    val rows = ResumableBuild.readManifest(run.spark, dir)
    manifest = Seq("postings" -> rows.map(_.postings).sum, "blocks" -> rows.map(_.blocks).sum,
      "bytes" -> rows.map(_.bytes).sum)
  }

  private def readMetrics(): Unit = {
    val xs = run.sample("query_ms", readMs.toSeq)
    run.setE2e("query_p50_ms", Stats.median(xs))
    run.setE2e("query_p99_ms", Stats.quantile(xs, 0.99))
    run.notes("query_samples") = xs.size
    run.notes("query_samples_above_p99") = Stats.above(xs, 0.99)
    run.notes("query_ms_per_100_reads") = Report.blockMedians(xs)
    if (tr.enabled) {
      tr.drain()
      def secs(name: String) = Stats.median(tr.named(name).map(_.ms / 1000))
      run.setLayer("streaming.append_s", secs("streaming.appendBatch"))
      run.setLayer("streaming.refresh_s", secs("streaming.refresh"))
      run.setLayer("index.hot.pin_s", secs("index.hot.pin"))
      val df = (tr.named("index.df.plan") ++ tr.named("index.df.exec")).groupBy(_.req).values.toSeq
      run.setLayer("index.df.plan_ms", Stats.median(tr.named("index.df.plan").map(_.ms)))
      run.setLayer("index.df.exec_ms", Stats.median(tr.named("index.df.exec").map(_.ms)))
      run.setLayer("index.df.input_bytes",
        Stats.median(df.map(_.map(s => tr.sparkTotal(s).inputBytes).sum.toDouble)))
      Report.traceLayers(run, "bm25.search", s"index.build.local${run.nproc}",
        tracedReadMs.toSeq, untracedReadMs.toSeq)
      Metrics.AnnLayers.foreach(run.setLayer(_, 0.0))
      val texts = (0L until math.min(nDocs, 200L)).map(i => WebCorpus.page(run.seed, i).text)
      run.setLayer("core.termfreqs_ms",
        Stats.median((1 to 5).map(_ => Stats.timeMs(texts.foreach(Text.termFreqs))._2)))
    }
  }

  // ---- the workload

  def apply(): Unit = tr.span(run.workload) {
    run.session(run.nproc)
    val t0 = System.nanoTime()
    genCorpus()
    val (ix, dir) = bulkBuild(measured = false)
    val hot = pin(ix)
    // JIT warm-up of the read path: its first few hundred calls run cold
    (0 until (if (run.tiny) 10 else 150)).foreach(_ => read(hot, measured = false))
    run.setE2e("setup_s", (System.nanoTime() - t0) / 1e9)
    run.setE2e("serve_mem_mb", Report.storageMb(run))
    run.log("setup done")
    describeInputs(ix)

    val end = System.nanoTime() + (run.seconds * 1e9).toLong
    while (System.nanoTime() < end || readMs.size < queries.size) read(hot)
    run.log(s"window done: ${readMs.size} reads")
    batchQps(hot)
    run.setE2e("recall_at_10", checkSample(dir, hot))
    if (tr.enabled) replay(dir, hot)
    run.log("checks done")
    microBatches(dir, hot, MicroBatches).close()
    run.log("micro-batches done")
    // one warm build at each level, each in a fresh session
    run.session(1)
    bulkBuild(measured = true)
    run.session(run.nproc)
    recordIndex(bulkBuild(measured = true)._2)
    run.log("level builds done")
    buildMetrics()
    readMetrics()
  }
}
