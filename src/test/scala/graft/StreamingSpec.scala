package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.corpus.WebCorpus
import graft.index._
import graft.streaming._

/** Streaming-path tests: incremental micro-segment ingestion must agree
  * with the brute-force oracle over the full corpus after refresh (the
  * metamorphic incremental ≡ bulk guarantee, jvector
  * TestOnDiskGraphIndex.java:215-262), and streaming window/state ops
  * must agree with their batch equivalents. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("StreamingNsw: micro-batch vector appends, touched-only writes, replay-safe mark") {
    import spark.implicits._
    import graft.ops.{Ann, Nsw}
    val dir = java.nio.file.Files.createTempDirectory("graft-snsw").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snsw-ckpt").toString
    val rnd = new scala.util.Random(45)
    val cs = Array.fill(4)(Array.fill(16)(rnd.nextGaussian()))
    def near(c: Int, noise: Double, seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      cs(c).map(x => (x + noise * r.nextGaussian()).toFloat).toSeq
    }
    val base = (0L until 400L).map(i => (i, near((i % 4).toInt, 0.3, i.toInt)))
    val baseDf = base.toDF("vec_id", "embedding")
    val g0 = Nsw.build(spark, baseDf, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2))
    Nsw.save(spark, g0, dir)
    g0.unpersist()

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingNsw.start(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", dir, ckpt)
    // batch 0: vectors across all clusters
    val b1 = (1000L until 1080L).map(i => (i, near((i % 4).toInt, 0.3, i.toInt)))
    mem.addData(b1)
    q.processAllAvailable()
    // record per-cluster partition files before a single-cluster batch
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def filesOf(c: Int): Map[String, Long] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/adj/c=$c")
      if (!fs.exists(p)) Map.empty
      else fs.listStatus(p).map(st =>
        st.getPath.getName -> st.getModificationTime).toMap
    }
    val snap = (0 until 4).map(filesOf)
    // batch 1: vectors hugging centroid 0 only
    val loadedMid = Nsw.load(spark, dir)
    val c0 = loadedMid.centroids.zipWithIndex.minBy { case (c, _) =>
      c.zip(cs(0)).map { case (x, y) => (x - y) * (x - y) }.sum
    }._2 // the saved-centroid id nearest generator cluster 0
    val b2 = (2000L until 2030L).map { i =>
      (i, loadedMid.centroids(c0).map(x => (x + 0.01 * new scala.util.Random(i.toInt)
        .nextGaussian()).toFloat).toSeq)
    }
    mem.addData(b2)
    q.processAllAvailable()
    q.stop()
    // touched-only persistence: at least the untouched clusters' files are
    // byte-for-byte the same objects (same names, same mtimes)
    val untouchedUnchanged = (0 until 4).count(c =>
      c != c0 && filesOf(c) == snap(c))
    assert(untouchedUnchanged == 3,
      s"expected 3 untouched cluster dirs unchanged, got $untouchedUnchanged")
    assert(filesOf(c0) != snap(c0), "the touched cluster must have been rewritten")
    // the union serves exactly: exact-mode search == brute force over all
    val loaded = Nsw.load(spark, dir)
    val allDf = (base ++ b1 ++ b2).toDF("vec_id", "embedding")
    val qv = near(1, 0.2, 9999)
    val got = Nsw.topK(loaded, qv, 10, nProbe = 4, ef = Int.MaxValue)
      .select($"key").as[Long].collect().toSeq
    val want = Ann.bruteTopK(allDf, "vec_id", "embedding", qv, 10, Ann.Cosine)
      .select($"key").as[Long].collect().toSeq
    assert(got == want, "streamed graph diverged from brute force over the union")
    // replay mark recorded; an append REPLAY of batch 1 is a no-op
    assert(Nsw.loadStreamBatch(spark, dir) == 1L)
    val replayed = Nsw.append(spark, loaded, b2.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val a = loaded.adj.select($"key", $"nbrs").as[(Long, Seq[Long])]
      .collect().sortBy(_._1).toSeq
    val b = replayed.adj.select($"key", $"nbrs").as[(Long, Seq[Long])]
      .collect().sortBy(_._1).toSeq
    assert(a == b, "duplicate-key append must be a graph no-op (replay heal)")
    replayed.unpersist()
  }

  test("incremental streaming ingest + refresh == brute force over full corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val opts = IndexBuilder.Options(numShards = 4, rangePartitions = 4)

    val all = (0L until 400L).map(i => WebCorpus.page(11L, i))
    val bulk = all.take(300)
    val stream1 = all.slice(300, 350)
    val stream2 = all.slice(350, 400)
    def toDf(ps: Seq[WebCorpus.Page]) =
      ps.map(p => (p.url, p.text, p.lang)).toDF("url", "text", "lang")

    ResumableBuild.build(spark, toDf(bulk), dir, opts, numChunks = 2)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    val q = StreamingIndex.start(mem.toDF().toDF("url", "text", "lang"), dir, ckpt, opts)
    mem.addData(stream1.map(p => (p.url, p.text, p.lang)): _*)
    q.processAllAvailable()
    mem.addData(stream2.map(p => (p.url, p.text, p.lang)): _*)
    q.processAllAvailable()
    q.stop()

    val ix = StreamingIndex.refresh(spark, dir)
    assert(ix.stats.numDocs == 400)

    val corpus = toDf(all)
    val query = "t0 t1 t5"
    val got = ix.search(query, 10).as[(Long, Double)].collect().toSeq
    val urls = ix.docs.select($"docId", $"url").as[(Long, String)].collect().toMap
    val want = BruteForce.topK(spark, corpus, "url", "text", Seq((0, query)), 10)
      .orderBy($"rank").select($"docKey".cast("string"), $"score")
      .as[(String, Double)].collect().toSeq
    assert(got.map(g => urls(g._1)).toSet == want.map(_._1).toSet)
    val wantByUrl = want.toMap
    got.foreach { case (d, s) =>
      assert(math.abs(s - wantByUrl(urls(d))) < 1e-9)
    }
    // replayed batch is idempotent: re-append batch 0 OF THE SAME STREAM
    // (the checkpoint dir is the stream identity) -> no change
    StreamingIndex.appendBatch(spark, toDf(stream1), dir, opts, 0L, streamId = ckpt)
    val ix2 = StreamingIndex.refresh(spark, dir)
    assert(ix2.stats.numDocs == 400)
  }

  test("a NEW stream (fresh checkpoint) onto an appended index is not mistaken for a replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-newstream").toString
    val opts = IndexBuilder.Options(numShards = 4, rangePartitions = 4)
    val all = (0L until 300L).map(i => WebCorpus.page(19L, i))
    def toDf(ps: Seq[WebCorpus.Page]) =
      ps.map(p => (p.url, p.text, p.lang)).toDF("url", "text", "lang")
    ResumableBuild.build(spark, toDf(all.take(200)), dir, opts, numChunks = 2)
    // stream A appends batches 0 and 1
    StreamingIndex.appendBatch(spark, toDf(all.slice(200, 230)), dir, opts, 0L, streamId = "ckpt-A")
    StreamingIndex.appendBatch(spark, toDf(all.slice(230, 260)), dir, opts, 1L, streamId = "ckpt-A")
    assert(SegmentCatalog.current(spark, dir).stats.numDocs == 260)
    // replay of A's batch 1 is a no-op
    StreamingIndex.appendBatch(spark, toDf(all.slice(230, 260)), dir, opts, 1L, streamId = "ckpt-A")
    assert(SegmentCatalog.current(spark, dir).stats.numDocs == 260)
    // a NEW stream restarts batchIds at 0 — its genuinely new data must
    // NOT be dropped as a replay of A's batch 0 (round-2 ADVICE)
    StreamingIndex.appendBatch(spark, toDf(all.drop(260)), dir, opts, 0L, streamId = "ckpt-B")
    val ix = StreamingIndex.refresh(spark, dir)
    assert(ix.stats.numDocs == 300, "new stream's first batch was dropped")
    assert(ix.docs.select($"docId").distinct().count() == 300,
      "docId collision across streams")
    // B's own replay is now the no-op
    StreamingIndex.appendBatch(spark, toDf(all.drop(260)), dir, opts, 0L, streamId = "ckpt-B")
    assert(SegmentCatalog.current(spark, dir).stats.numDocs == 300)
    // search stays value-correct with shard ids shared across streams
    // (disjoint docId ranges keep every (term, shard) run valid)
    val query = "t0 t1 t5"
    val got = ix.search(query, 10).as[(Long, Double)].collect().toSeq
    val urls = ix.docs.select($"docId", $"url").as[(Long, String)].collect().toMap
    val want = BruteForce.topK(spark, toDf(all), "url", "text", Seq((0, query)), 10)
      .orderBy($"rank").select($"docKey".cast("string"), $"score")
      .as[(String, Double)].collect().toSeq
    assert(got.map(g => urls(g._1)) == want.map(_._1))
    got.zip(want).foreach { case ((_, gs), (_, ws)) => assert(math.abs(gs - ws) < 1e-9) }
  }

  test("a stream id with a quote and a backslash commits a readable snapshot; its replay is skipped") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-escape").toString
    val opts = IndexBuilder.Options(numShards = 4, rangePartitions = 4)
    val all = (0L until 240L).map(i => WebCorpus.page(23L, i))
    def toDf(ps: Seq[WebCorpus.Page]) =
      ps.map(p => (p.url, p.text, p.lang)).toDF("url", "text", "lang")
    ResumableBuild.build(spark, toDf(all.take(200)), dir, opts, numChunks = 1)
    val ckpt = "ck\"1\\x"
    StreamingIndex.appendBatch(spark, toDf(all.drop(200)), dir, opts, 0L, streamId = ckpt)
    val snap = SegmentCatalog.current(spark, dir)
    assert(snap.streamId == ckpt && snap.maxStreamBatch == 0L && snap.stats.numDocs == 240)
    StreamingIndex.appendBatch(spark, toDf(all.drop(200)), dir, opts, 0L, streamId = ckpt)
    assert(SegmentCatalog.current(spark, dir).version == snap.version, "replay committed again")
    assert(StreamingIndex.refresh(spark, dir).stats.numDocs == 240)
  }

  test("append crash before snapshot commit: replay is exactly-once (no dup docs, no double-counted stats)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val opts = IndexBuilder.Options(numShards = 4, rangePartitions = 4)
    val all = (0L until 260L).map(i => WebCorpus.page(13L, i))
    def toDf(ps: Seq[WebCorpus.Page]) =
      ps.map(p => (p.url, p.text, p.lang)).toDF("url", "text", "lang")
    ResumableBuild.build(spark, toDf(all.take(200)), dir, opts, numChunks = 2)
    val base = SegmentCatalog.current(spark, dir)
    assert(base.stats.numDocs == 200)
    // crash AFTER all writes, BEFORE the snapshot commit
    intercept[RuntimeException] {
      StreamingIndex.appendBatch(spark, toDf(all.drop(200)), dir, opts, 0L,
        failBeforeCommit = true)
    }
    // table is untouched: still the parent snapshot, stats un-bumped
    val after = SegmentCatalog.current(spark, dir)
    assert(after.version == base.version && after.stats == base.stats)
    // replay commits exactly once
    StreamingIndex.appendBatch(spark, toDf(all.drop(200)), dir, opts, 0L)
    val ix = StreamingIndex.refresh(spark, dir)
    assert(ix.stats.numDocs == 260)
    assert(ix.docs.count() == 260) // no duplicate DocMeta rows
    assert(ix.docs.select($"docId").distinct().count() == 260)
    assert(ix.stats.totalTokens ==
      ix.docs.agg(sum($"docLen")).as[Long].head()) // stats not double-counted
    // and a second replay of the committed batch is a no-op
    StreamingIndex.appendBatch(spark, toDf(all.drop(200)), dir, opts, 0L)
    assert(SegmentCatalog.current(spark, dir).stats.numDocs == 260)
  }

  test("append after compaction never re-issues surviving docIds; rewrite keeps the replay mark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-append").toString
    val opts = IndexBuilder.Options(numShards = 4, rangePartitions = 4)
    val all = (0L until 300L).map(i => WebCorpus.page(17L, i))
    def toDf(ps: Seq[WebCorpus.Page]) =
      ps.map(p => (p.url, p.text, p.lang)).toDF("url", "text", "lang")
    ResumableBuild.build(spark, toDf(all.take(200)), dir, opts, numChunks = 2)
    StreamingIndex.appendBatch(spark, toDf(all.slice(200, 250)), dir, opts, 0L)
    // compact away some docs and swap the snapshot in place
    val preCompact = StreamingIndex.refresh(spark, dir)
    val dead = preCompact.docs.filter($"docId" < 20L).select($"docId").as[Long]
    preCompact.compact(dead).save(dir)
    val snap = SegmentCatalog.current(spark, dir)
    assert(snap.stats.numDocs == 230 && snap.nextDocId == 250,
      s"numDocs=${snap.stats.numDocs} nextDocId=${snap.nextDocId}")
    assert(snap.maxStreamBatch == 0L, "rewrite must keep the replay mark")
    // a replay of committed batch 0 is still a no-op after the rewrite
    StreamingIndex.appendBatch(spark, toDf(all.slice(200, 250)), dir, opts, 0L)
    assert(SegmentCatalog.current(spark, dir).stats.numDocs == 230)
    // the NEXT batch allocates ids 250.. (above every surviving id)
    StreamingIndex.appendBatch(spark, toDf(all.drop(250)), dir, opts, 1L)
    val ix = StreamingIndex.refresh(spark, dir)
    assert(ix.stats.numDocs == 280)
    assert(ix.docs.count() == 280)
    assert(ix.docs.select($"docId").distinct().count() == 280,
      "docId collision after compaction+append")
  }

  test("micro-batch blocks == naive termFreqs postings cut into 128-runs; manifest counts them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-microblocks").toString
    val opts = IndexBuilder.Options(numShards = 4, rangePartitions = 4)
    val all = (0L until 500L).map(i => WebCorpus.page(29L, i))
    def toDf(ps: Seq[WebCorpus.Page]) =
      ps.map(p => (p.url, p.text, p.lang)).toDF("url", "text", "lang")
    ResumableBuild.build(spark, toDf(all.take(200)), dir, opts, numChunks = 2)
    val batch = all.drop(200)
    val batchId = 3L
    StreamingIndex.appendBatch(spark, toDf(batch), dir, opts, batchId)
    val cid = SegmentCatalog.current(spark, dir).blockChunks.last
    val shard = opts.numShards + batchId.toInt
    // naive pass: url order from the parent's nextDocId (200), one
    // Text.termFreqs per doc, each term's postings cut every 128 docIds
    val byUrl = batch.sortBy(_.url).zipWithIndex.map { case (p, i) => (p, 200L + i) }
    val want = byUrl
      .flatMap { case (p, docId) =>
        val (tfs, len) = core.Text.termFreqs(p.text)
        tfs.map { case (t, tf) => (t, docId, tf, len) }
      }
      .groupBy(_._1).toSeq.flatMap { case (t, ps) =>
        ps.sortBy(_._2).grouped(128).map(run => IndexBuilder.encodeBlock(t, shard,
          run.map(_._2).toArray, run.map(_._3).toArray, run.map(_._4).toArray))
      }
    assert(want.exists(_.n == 128), "precondition: some term occurs in > 128 batch docs")
    def key(b: Block) = (b.term, b.bucket, b.shard, b.firstDocId, b.lastDocId, b.n,
      b.docBytes.toSeq, b.tfBytes.toSeq, b.dlBytes.toSeq, b.maxTf, b.minDl, b.tfSum)
    val got = SegmentCatalog.readBlockChunks(spark, dir, Seq(cid)).collect()
    assert(got.length == want.length)
    assert(got.map(key).toSet == want.map(key).toSet)
    val docs = SegmentCatalog.readDocChunks(spark, dir, Seq(cid)).collect()
      .map(d => (d.docId, d.url, d.shard)).sorted.toSeq
    assert(docs == byUrl.map { case (p, docId) => (docId, p.url, shard) })
    // the batch's manifest row reports exactly what its blocks hold
    val row = ResumableBuild.readManifest(spark, dir).find(_.chunk == 100000 + batchId)
    assert(row.exists(r => r.status == "done" && r.docs == batch.size &&
      r.postings == got.map(_.n.toLong).sum && r.blocks == got.length &&
      r.metaBytes == got.map(b => core.Codec.vlen(b.maxTf) + core.Codec.vlen(b.minDl)).sum),
      s"manifest row $row")
  }

  test("micro-batches honour docOrder=length: docLen non-decreasing in docId, same scores") {
    import spark.implicits._
    val all = (0L until 320L).map(i => WebCorpus.page(31L, i))
    def toDf(ps: Seq[WebCorpus.Page]) =
      ps.map(p => (p.url, p.text, p.lang)).toDF("url", "text", "lang")
    def appended(order: String): InvertedIndex = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-order-$order").toString
      val opts = IndexBuilder.Options(numShards = 4, rangePartitions = 4, docOrder = order)
      ResumableBuild.build(spark, toDf(all.take(200)), dir, opts, numChunks = 2)
      StreamingIndex.appendBatch(spark, toDf(all.drop(200)), dir, opts, 0L)
      StreamingIndex.refresh(spark, dir)
    }
    val (byUrl, byLen) = (appended("url"), appended("length"))
    val lens = byLen.docs.filter($"docId" >= 200L).select($"docId", $"docLen")
      .as[(Long, Int)].collect().sortBy(_._1).map(_._2).toSeq
    val inversions = lens.indices.drop(1).count(i => lens(i - 1) > lens(i))
    assert(lens.size == 120 && inversions == 0,
      s"appended docs ignore docOrder=length: $inversions docLen inversions")
    for (q <- Seq("t0 t1", "t7", "t5 t100 t2000")) {
      def scores(ix: InvertedIndex) = ix.search(q, 20).as[(Long, Double)].collect().map(_._2).toSeq
      assert(scores(byUrl) == scores(byLen), s"score sequence differs for '$q'")
    }
  }

  test("streaming hourly window agg == batch equivalent") {
    import spark.implicits._
    val events = (0 until 500).map { i =>
      (new java.sql.Timestamp(1700000000000L + i * 347000L), s"type${i % 3}", i * 1.5)
    }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = StreamOps.hourlyCounts(
      mem.toDF().toDF("ts", "event_type", "value"))
    val q = sdf.writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hourly")
      .select($"h_epoch", $"event_type", $"cnt", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSet
    val want = StreamOps.hourlyCounts(events.toDF("ts", "event_type", "value"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("stateful sessionize == batch lag-window sessionization") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val events = (0 until 300).map { i =>
      (rnd.nextInt(10).toLong, 1700000000L + rnd.nextInt(100000).toLong)
    }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("update").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    q.stop()
    // last update per user = final session count
    val got = spark.table("sessions").groupBy($"user_id")
      .agg(max($"n_sessions").as("n"), max($"n_events").as("e"))
      .as[(Long, Long, Long)].collect().map { case (u, n, e) => u -> ((n, e)) }.toMap
    // batch oracle via lag window
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"u").orderBy($"t")
    val want = events.toDF("u", "t")
      .withColumn("prev", lag($"t", 1).over(w))
      .withColumn("ns", when($"prev".isNull || $"t" - $"prev" > 1800, 1).otherwise(0))
      .groupBy($"u").agg(sum($"ns").as("n"), count(lit(1)).as("e"))
      .as[(Long, Long, Long)].collect().map { case (u, n, e) => u -> ((n, e)) }.toMap
    assert(got == want)
  }

  test("StreamingNsw.startServing: live searches see each committed batch (WRITE+SEARCH)") {
    import spark.implicits._
    import graft.ops.{Ann, Nsw}
    val dir = java.nio.file.Files.createTempDirectory("graft-snsw-serve").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snsw-serve-ckpt").toString
    val rnd = new scala.util.Random(46)
    val base = (0L until 300L).map(i => (i, Seq.fill(12)(rnd.nextGaussian().toFloat)))
    val baseDf = base.toDF("vec_id", "embedding")
    val g0 = Nsw.build(spark, baseDf, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    Nsw.save(spark, g0, dir)
    g0.unpersist()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val (q, live) = StreamingNsw.startServing(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", dir, ckpt)
    def bruteOver(rows: Seq[(Long, Seq[Float])], qv: Seq[Float]): Seq[Long] = {
      import spark.implicits._
      Ann.bruteTopK(rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        qv, 10, Ann.Cosine).select($"key").as[Long].collect().toSeq
    }
    // pre-batch: the handle serves the saved base graph, exactly
    def gvec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(12)(r.nextGaussian().toFloat)
    }
    val qv0 = gvec(7)
    assert(live.topK(qv0, 10, nProbe = 4, ef = Int.MaxValue).map(_._1).toSeq
      == bruteOver(base, qv0))
    // batch 1 commits -> the SAME handle sees the union, exactly
    val b1 = (5000L until 5040L).map(i => (i, gvec(i.toInt)))
    mem.addData(b1)
    q.processAllAvailable()
    assert(live.topK(qv0, 10, nProbe = 4, ef = Int.MaxValue).map(_._1).toSeq
      == bruteOver(base ++ b1, qv0))
    // a written vector is findable by ITS OWN value at sim ~1
    val probe = b1.head._2
    val top = live.topK(probe, 1, nProbe = 4, ef = Int.MaxValue)
    assert(top.head._1 == 5000L && top.head._2 > 0.9999)
    // batch 2: a second refresh (exercises the one-generation retirement)
    val b2 = (6000L until 6020L).map(i => (i, gvec(i.toInt)))
    mem.addData(b2)
    q.processAllAvailable()
    assert(live.topK(qv0, 10, nProbe = 4, ef = Int.MaxValue).map(_._1).toSeq
      == bruteOver(base ++ b1 ++ b2, qv0))
    // the grace handle still serves batch 1's generation: with its cached
    // blocks dropped (as an eviction would), its searches recompute them
    // from that generation, which is therefore not retired yet
    val (graceHot, graceGen) = live.grace.get
    val pinned = spark.sparkContext.getPersistentRDDs(graceHot.rddId)
    pinned.unpersist(blocking = true)
    pinned.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    Seq(qv0, gvec(8), b2.head._2).foreach { qv =>
      val want = Nsw.topK(graceGen, qv, 10, nProbe = 4, ef = 48).as[(Long, Double)].collect().toSeq
      assert(graceHot.topK(qv, 10, nProbe = 4, ef = 48).toSeq == want)
    }
    assert(graceHot.topK(qv0, 10, nProbe = 4, ef = Int.MaxValue).map(_._1).toSeq
      == bruteOver(base ++ b1, qv0))
    // the serving surfaces compose: threshold + pagination over the union
    val page1 = live.topK(qv0, 5, nProbe = 4, ef = Int.MaxValue)
    val page2 = live.searchAfter(qv0, 5, (page1.last._2, page1.last._1),
      nProbe = 4, ef = Int.MaxValue)
    assert((page1 ++ page2).map(_._1).toSeq ==
      live.topK(qv0, 10, nProbe = 4, ef = Int.MaxValue).map(_._1).toSeq)
    val tau = page1.last._2
    val th = live.threshold(qv0, tau, nProbe = 4)
    assert(th.map(_._1).toSeq == page1.map(_._1).toSeq,
      "threshold at the 5th score must return exactly the top 5")
    q.stop()
    live.close()
  }
}
