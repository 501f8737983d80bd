package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.corpus.WebCorpus
import graft.index._

/** End-to-end engine tests on the seeded synthetic corpus: the WAND path
  * must be rank-identical (and score-equal to 1e-9) to the brute-force
  * Catalyst oracle — the engine's analog of jvector's recall + metamorphic
  * suites (TestVectorGraph, TestOnDiskGraphIndex incremental ≡ bulk). */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  lazy val corpus = WebCorpus.generate(spark, 1200, seed = 42L, partitions = 8).persist()
  lazy val index: InvertedIndex =
    IndexBuilder.build(spark, corpus, IndexBuilder.Options(numShards = 8, rangePartitions = 8))

  // queries hitting head/mid/tail df classes + unknown + repeated terms
  val queryStrings: Seq[String] = Seq(
    "t0 t1", "t5 t100 t2000", "t30000 t0", "t7", "t42 t42 t9999",
    "nosuchterm12345", "t1 t2 t3 t4 t5", "t123 t456 t789",
    "rare3x0", "t0 t1 t2 nosuchterm t50")

  def engineTopK(q: String, k: Int): Seq[(Long, Double)] = {
    import spark.implicits._
    index.search(q, k).select($"docId", $"score").as[(Long, Double)].collect().toSeq
  }

  lazy val urlMap: Map[Long, String] = {
    import spark.implicits._
    index.docs.select($"docId", $"url").as[(Long, String)].collect().toMap
  }
  def urlOf(docId: Long): String = urlMap(docId)

  def oracleTopK(qs: Seq[(Int, String)], k: Int): Map[Int, Seq[(String, Double)]] = {
    import spark.implicits._
    BruteForce.topK(spark, corpus, "url", "text", qs, k)
      .orderBy($"queryId", $"rank")
      .select($"queryId", $"docKey".cast("string"), $"score")
      .as[(Int, String, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
  }

  test("corpus invariant: extract(html) == text byte-identically per url") {
    import spark.implicits._
    val bad = corpus.select($"html", $"text").as[(Array[Byte], String)]
      .filter { case (h, t) => graft.core.Text.extract(new String(h, "UTF-8")) != t }
      .count()
    assert(bad == 0)
  }

  test("wand top-10 rank-identical to brute-force oracle (all query classes)") {
    val qs = queryStrings.zipWithIndex.map { case (q, i) => (i, q) }
    val oracle = oracleTopK(qs, 10)
    qs.foreach { case (qid, q) =>
      val got = engineTopK(q, 10).map { case (d, s) => (urlOf(d), s) }
      val want = oracle.getOrElse(qid, Seq.empty)
      assert(got.map(_._1) == want.map(_._1), s"rank mismatch for '$q'")
      got.zip(want).foreach { case ((_, gs), (_, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"score mismatch for '$q': $gs vs $ws")
      }
    }
  }

  test("searchAll matches per-query search") {
    import spark.implicits._
    val qs = queryStrings.take(5).zipWithIndex.map { case (q, i) => (i, q) }
    val batch = index.searchAll(qs, 10)
      .select($"queryId", $"docId", $"score")
      .as[(Int, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(t => (t._2, t._3))).toMap
    qs.foreach { case (qid, q) =>
      assert(batch.getOrElse(qid, Seq.empty) == engineTopK(q, 10), s"batch mismatch '$q'")
    }
  }

  test("searchMany (Dataset query log) == per-query search") {
    import spark.implicits._
    val qs = queryStrings.zipWithIndex.map { case (q, i) => (i, q) }
    val batch = index.searchMany(qs.toDS(), 10)
      .select($"queryId", $"docId", $"score")
      .as[(Int, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(t => (t._2, t._3))).toMap
    qs.foreach { case (qid, q) =>
      assert(batch.getOrElse(qid, Seq.empty) == engineTopK(q, 10),
        s"searchMany mismatch '$q'")
    }
  }

  test("searchMany degenerate queries: unknown terms and empty strings drop out cleanly") {
    import spark.implicits._
    val qs = Seq((0, "t0 t1"), (1, "zzznope qqqnope"), (2, ""), (3, "t7"))
    val res = index.searchMany(qs.toDS(), 5)
      .select($"queryId", $"docId").as[(Int, Long)].collect().toSeq
      .groupBy(_._1)
    assert(res.contains(0) && res.contains(3))
    assert(!res.contains(1) && !res.contains(2)) // no rows, no failure
  }

  test("searchAfter pagination: page1 ++ page2 == top-2k") {
    import spark.implicits._
    Seq("t0 t1", "t5 t100 t2000", "t7").foreach { q =>
      val all = engineTopK(q, 20)
      val page1 = engineTopK(q, 10)
      if (page1.size == 10) {
        val (lastD, lastS) = page1.last
        val page2 = index.searchAfter(q, 10, lastS, lastD)
          .select($"docId", $"score").as[(Long, Double)].collect().toSeq
        assert(page1 ++ page2 == all, s"pagination mismatch for '$q'")
      }
    }
    // cursor past the end -> empty page
    assert(index.searchAfter("t0", 10, -1e9, Long.MaxValue).count() == 0)
  }

  test("threshold query == filtered brute force") {
    import spark.implicits._
    val q = "t5 t100 t2000"
    val tau = {
      val top = engineTopK(q, 10)
      if (top.size >= 5) top(4)._2 else 0.5
    }
    val got = index.searchThreshold(q, tau)
      .select($"docId", $"score").as[(Long, Double)].collect().toSeq.sortBy(_._1)
    // oracle: all scored docs from brute force with score >= tau
    val all = BruteForce.topK(spark, corpus, "url", "text", Seq((0, q)), Int.MaxValue)
      .filter($"score" >= tau).select($"docKey".cast("string"), $"score")
      .as[(String, Double)].collect().toMap
    assert(got.size == all.size)
    got.foreach { case (d, s) =>
      val ws = all(urlOf(d))
      assert(math.abs(s - ws) < 1e-9)
    }
  }

  test("filtered search (lang) == brute force over filtered corpus") {
    import spark.implicits._
    val q = "t1 t2 t3"
    val got = index.search(q, 10, docFilter = Some($"lang" === "de"))
      .select($"docId", $"score").as[(Long, Double)].collect().toSeq
    val want = {
      val sub = corpus.filter($"lang" === "de")
      // df/avgdl stay global in the engine (filter restricts candidates,
      // not stats) — so oracle scores against FULL corpus stats, ranked
      // over the filtered candidate set (jvector Bits semantics: search
      // space unchanged, results filtered)
      val full = BruteForce.topK(spark, corpus, "url", "text", Seq((0, q)), Int.MaxValue)
      full.join(sub.select($"url".as("docKey")), "docKey")
        .orderBy($"score".desc, $"docKey".asc).limit(10)
        .select($"docKey", $"score").as[(String, Double)].collect().toSeq
    }
    assert(got.map(t => urlOf(t._1)) == want.map(_._1))
    got.zip(want).foreach { case ((_, gs), (_, ws)) => assert(math.abs(gs - ws) < 1e-9) }
  }

  test("tombstoned docs excluded; compaction gives identical results") {
    import spark.implicits._
    val q = "t0 t1"
    val full = engineTopK(q, 10)
    val dead = full.take(3).map(_._1)
    val deadDs = spark.createDataset(dead.toSeq)
    val viaTomb = index.search(q, 10, tombstones = Some(deadDs))
      .select($"docId").as[Long].collect().toSeq
    assert(viaTomb.intersect(dead).isEmpty)
    val compacted = index.compact(deadDs)
    val viaCompact = compacted.search(q, 10).select($"docId").as[Long].collect().toSeq
    assert(viaCompact.intersect(dead).isEmpty)
    // rank agreement between tombstone path and compacted index is NOT
    // exact by design (compaction recomputes global stats); assert the
    // tombstone path against brute force with original stats instead:
    val oracle = BruteForce.topK(spark, corpus, "url", "text", Seq((0, q)), 13)
    val deadUrls = dead.map(urlOf).toSet
    val wantT = oracle.filter(!$"docKey".isin(deadUrls.toSeq: _*))
      .orderBy($"score".desc, $"docKey".asc).limit(10)
      .select($"docKey").as[String].collect().toSeq
    assert(viaTomb.map(urlOf) == wantT)
  }

  test("compaction range-skips: untouched blocks pass through undecoded") {
    import spark.implicits._
    val total = index.blocks.count()
    // tombstones matching no live doc -> zero blocks decoded/rewritten
    val m0 = new InvertedIndex.CompactMetrics
    index.compact(spark.createDataset(Seq(99999999L)), m0)
    assert(m0.rewritten == 0, "no-dead compaction must decode zero blocks")
    assert(m0.passthrough == total)
    // localized tombstones -> only [firstDocId,lastDocId]-intersecting
    // blocks are decoded; everything else passes through
    val dead = Seq(3L, 4L, 5L)
    val m1 = new InvertedIndex.CompactMetrics
    val compacted = index.compact(spark.createDataset(dead), m1)
    val intersecting = index.blocks
      .filter($"firstDocId" <= 5L && $"lastDocId" >= 3L).count()
    assert(m1.rewritten > 0 && m1.rewritten <= intersecting,
      s"rewritten=${m1.rewritten} intersecting=$intersecting")
    assert(m1.passthrough + m1.rewritten == total)
    assert(compacted.search("t0 t1", 10).as[(Long, Double)].collect()
      .forall(h => !dead.contains(h._1)))
  }

  test("hybrid compaction: broadcast path ≡ cogroup path, and broadcasts don't shuffle blocks") {
    import spark.implicits._
    val dead = spark.createDataset(Seq(3L, 4L, 5L, 900L))
    val mB = new InvertedIndex.CompactMetrics
    val mC = new InvertedIndex.CompactMetrics
    val viaBroadcast = index.compact(dead, mB) // small set -> broadcast path
    val viaCogroup = index.compact(dead, mC, broadcastCap = 0) // force cogroup
    def blockSet(ix: InvertedIndex) = ix.blocks.collect()
      .map(b => (b.term, b.shard, b.firstDocId, b.n,
        b.docBytes.toSeq, b.tfBytes.toSeq, b.dlBytes.toSeq, b.maxTf, b.minDl)).toSet
    assert(blockSet(viaBroadcast) == blockSet(viaCogroup))
    assert(mB.rewritten == mC.rewritten && mB.passthrough == mC.passthrough)
    // the broadcast path rewrites blocks in a NARROW map — no exchange
    val ex = viaBroadcast.blocks.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.isEmpty, "broadcast compaction must not shuffle the block table")
    viaBroadcast.unpersist(); viaCogroup.unpersist()
  }

  test("fresh-dir save after compaction: nextDocId derives from the data, not numDocs") {
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("graft-freshdir").toString
    // kill the LOW docIds so numDocs < max surviving docId (sparse space)
    val compacted = index.compact(spark.createDataset((0L until 20L).toSeq))
    compacted.save(outDir) // fresh dir: no parent snapshot to carry the HWM
    val snap = SegmentCatalog.current(spark, outDir)
    val maxId = compacted.docs.agg(max($"docId")).as[Long].head()
    assert(snap.nextDocId == maxId + 1,
      s"nextDocId=${snap.nextDocId} but max surviving docId=$maxId")
    assert(snap.nextDocId > snap.stats.numDocs,
      "regression: nextDocId fell back to numDocs on a sparse id space")
    compacted.unpersist()
  }

  test("expire: in-flight above-hint snapshot survives the grace window; stale orphan dies") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-grace").toString
    index.save(dir) // v1
    val snap = SegmentCatalog.current(spark, dir)
    // simulate a commit that crashed before its hint swap: commit v2 (which
    // swaps the hint), then roll the hint back to v1
    SegmentCatalog.commit(spark, dir, snap.copy(
      version = 2L, parent = 1L, op = "rewrite", tsMs = System.currentTimeMillis()))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val hint = new org.apache.hadoop.fs.Path(s"$dir/catalog/version-hint.text")
    val out = fs.create(hint, true); out.write("1".getBytes("UTF-8")); out.close()
    assert(SegmentCatalog.hintVersion(spark, dir).contains(1L))
    // fresh orphan: the default grace window protects the possibly-in-flight
    // commit (its hint swap may still be coming) — nothing is deleted
    SegmentCatalog.expireSnapshots(spark, dir, keepLast = 1)
    assert(SegmentCatalog.listSnapshots(spark, dir).map(_.version) == Seq(1L, 2L))
    // stale orphan (grace elapsed): deleted; the current table is intact
    SegmentCatalog.expireSnapshots(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(SegmentCatalog.listSnapshots(spark, dir).map(_.version) == Seq(1L))
    assert(InvertedIndex.load(spark, dir).search("t0 t1", 5).count() == 5)
    // hint loss: reader-facing resolution falls back to the highest
    // committed snapshot instead of declaring the catalog absent
    fs.delete(hint, false)
    assert(SegmentCatalog.hintVersion(spark, dir).isEmpty)
    assert(SegmentCatalog.currentVersion(spark, dir).contains(1L))
    assert(InvertedIndex.load(spark, dir).search("t0 t1", 5).count() == 5)
  }

  test("orphan GC: crashed build's chunks die, everything any snapshot references survives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gc").toString
    val opts = IndexBuilder.Options(numShards = 8, rangePartitions = 8)
    val small = WebCorpus.generate(spark, 300, seed = 23L, partitions = 8)
    // crash a build mid-write: chunks v1-0, v1-1 (+ docs chunk) exist,
    // referenced by NO snapshot
    intercept[RuntimeException] {
      ResumableBuild.build(spark, small, dir, opts, numChunks = 4, failAfterChunks = Some(2))
    }
    // a different writer commits v1 with its own chunks (op=save, cid=w1)
    index.save(dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    assert(exists(SegmentCatalog.blocksChunkPath(dir, "v1-0")), "precondition: orphan exists")
    // fresh orphans survive the default grace window (an in-flight writer
    // looks exactly like this)
    assert(SegmentCatalog.removeOrphans(spark, dir).isEmpty)
    // dry run reports but deletes nothing
    val dry = SegmentCatalog.removeOrphans(spark, dir, graceMs = 0L, dryRun = true)
    assert(dry.blockChunks.toSet == Set("v1-0", "v1-1") &&
      dry.docChunks == Seq("v1-docs"), s"dry=$dry")
    assert(exists(SegmentCatalog.blocksChunkPath(dir, "v1-0")))
    // real GC past the grace window: orphans + their manifests gone
    val r = SegmentCatalog.removeOrphans(spark, dir, graceMs = 0L)
    assert(r.blockChunks.toSet == Set("v1-0", "v1-1"))
    assert(!exists(SegmentCatalog.blocksChunkPath(dir, "v1-0")))
    assert(!exists(SegmentCatalog.docsChunkPath(dir, "v1-docs")))
    assert(!exists(s"$dir/manifest/v1-chunk-0.json"))
    // the committed snapshot's chunks are intact and the table still serves
    assert(exists(SegmentCatalog.blocksChunkPath(dir, "w1")))
    assert(InvertedIndex.load(spark, dir).search("t0 t1", 5).count() == 5)
    // and a re-run finds nothing left
    assert(SegmentCatalog.removeOrphans(spark, dir, graceMs = 0L).isEmpty)
  }

  test("resumable build ≡ one-shot build (kill after 2 chunks, resume)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val dirFull = java.nio.file.Files.createTempDirectory("graft-full").toString
    val opts = IndexBuilder.Options(numShards = 8, rangePartitions = 8)
    val small = WebCorpus.generate(spark, 400, seed = 7L, partitions = 8)
    intercept[RuntimeException] {
      ResumableBuild.build(spark, small, dir, opts, numChunks = 4, failAfterChunks = Some(2))
    }
    val resumed = ResumableBuild.build(spark, small, dir, opts, numChunks = 4)
    val oneShot = ResumableBuild.build(spark, small, dirFull, opts, numChunks = 4)
    def blockSet(ix: InvertedIndex) = ix.blocks.collect()
      .map(b => (b.term, b.shard, b.firstDocId, b.n,
        b.docBytes.toSeq, b.tfBytes.toSeq, b.dlBytes.toSeq, b.maxTf, b.minDl)).toSet
    assert(blockSet(resumed) == blockSet(oneShot)) // segment-level equality
    assert(resumed.dict.collect().toSet == oneShot.dict.collect().toSet)
    assert(resumed.stats == oneShot.stats)
    val manifest = ResumableBuild.readManifest(spark, dir)
    assert(manifest.size == 4 && manifest.forall(_.status == "done"))
    assert(manifest.forall(_.docsPerSec >= 0))
  }

  test("one-shot build ≡ resumable build (range mode, 1 and 4 chunks)") {
    // corpus small enough that range sampling sees every row, so both
    // builds cut the same range partitions and number docs identically
    val opts = IndexBuilder.Options(numShards = 8, rangePartitions = 8)
    val small = WebCorpus.generate(spark, 400, seed = 7L, partitions = 8)
    def blockSet(ix: InvertedIndex) = ix.blocks.collect()
      .map(b => (b.term, b.bucket, b.shard, b.firstDocId, b.lastDocId, b.n,
        b.docBytes.toSeq, b.tfBytes.toSeq, b.dlBytes.toSeq, b.maxTf, b.minDl, b.tfSum))
      .toSet
    val oneShot = IndexBuilder.build(spark, small, opts)
    val (blocks, dict, docs) =
      (blockSet(oneShot), oneShot.dict.collect().toSet, oneShot.docs.collect().toSet)
    assert(docs.size == 400 && docs.map(_.docId) == (0L until 400L).toSet)
    for (numChunks <- Seq(1, 4)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-eq$numChunks").toString
      val chunked = ResumableBuild.build(spark, small, dir, opts, numChunks = numChunks)
      assert(blockSet(chunked) == blocks, s"block set differs at numChunks=$numChunks")
      assert(chunked.dict.collect().toSet == dict, s"dict differs at numChunks=$numChunks")
      assert(chunked.stats == oneShot.stats, s"stats differ at numChunks=$numChunks")
      assert(chunked.docs.collect().toSet == docs, s"docs differ at numChunks=$numChunks")
    }
  }

  test("save/load round-trip preserves search results") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-save").toString
    index.save(dir)
    val loaded = InvertedIndex.load(spark, dir)
    val q = "t5 t100 t2000"
    val got = loaded.search(q, 10).select($"docId", $"score").as[(Long, Double)].collect().toSeq
    assert(got == engineTopK(q, 10))
    assert(loaded.stats == index.stats)
  }

  test("prepared (shard-co-located) index gives identical results, no exchange") {
    import spark.implicits._
    val prep = index.prepared()
    queryStrings.take(6).foreach { q =>
      val got = prep.search(q, 10).as[(Long, Double)].collect().toSeq
      assert(got == engineTopK(q, 10), s"prepared mismatch for '$q'")
    }
    val exchanges = prep.search("t0 t1", 10).queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      "prepared search should not shuffle candidate blocks by shard")
    val t = prep.searchThreshold("t5 t100 t2000", 0.5).as[(Long, Double)].collect().toSet
    val t0 = index.searchThreshold("t5 t100 t2000", 0.5).as[(Long, Double)].collect().toSet
    assert(t == t0)
  }

  test("quantized bounds (C5 uint8 option): rank-identical, metadata collapses") {
    import spark.implicits._
    val qIx = IndexBuilder.build(spark, corpus,
      IndexBuilder.Options(numShards = 8, rangePartitions = 8, quantizedBounds = true))
    queryStrings.foreach { q =>
      val got = qIx.search(q, 10).select($"docId", $"score")
        .as[(Long, Double)].collect().toSeq
      assert(got == engineTopK(q, 10), s"quantized-bound mismatch for '$q'")
    }
    val t = qIx.searchThreshold("t5 t100 t2000", 0.5).as[(Long, Double)].collect().toSet
    assert(t == index.searchThreshold("t5 t100 t2000", 0.5)
      .as[(Long, Double)].collect().toSet)
    // every stored bound is a 4-significant-bit fixed point
    val bad = qIx.blocks.filter(b =>
      IndexBuilder.Quant.ceil4(b.maxTf) != b.maxTf ||
      IndexBuilder.Quant.floor4(b.minDl) != b.minDl).count()
    assert(bad == 0)
    // distinct metadata codes collapse vs the exact index
    val qDistinct = qIx.blocks.select($"maxTf", $"minDl").distinct().count()
    val eDistinct = index.blocks.select($"maxTf", $"minDl").distinct().count()
    assert(qDistinct < eDistinct, s"quantized=$qDistinct exact=$eDistinct")
  }

  test("catalog: compaction is a snapshot swap; time travel; expire") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    index.save(dir) // v1
    val v1 = InvertedIndex.load(spark, dir)
    val q = "t0 t1"
    val before = v1.search(q, 10).as[(Long, Double)].collect().toSeq
    val dead = before.take(2).map(_._1)
    // in-place compaction = snapshot swap (v2), old version untouched
    v1.compact(spark.createDataset(dead)).save(dir)
    assert(SegmentCatalog.currentVersion(spark, dir).contains(2L))
    val v2 = InvertedIndex.load(spark, dir)
    assert(v2.search(q, 10).as[(Long, Double)].collect()
      .forall(h => !dead.contains(h._1)))
    // time travel: snapshot 1 still serves the pre-compaction results
    val tt = InvertedIndex.load(spark, dir, version = Some(1L))
    assert(tt.search(q, 10).as[(Long, Double)].collect().toSeq == before)
    assert(SegmentCatalog.listSnapshots(spark, dir).map(_.op) == Seq("save", "rewrite"))
    // expire: v1's chunks are deleted, current still loads + searches
    SegmentCatalog.expireSnapshots(spark, dir, keepLast = 1)
    assert(SegmentCatalog.listSnapshots(spark, dir).map(_.version) == Seq(2L))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      SegmentCatalog.blocksChunkPath(dir, "w1"))))
    spark.catalog.refreshByPath(s"$dir/blocks")
    assert(InvertedIndex.load(spark, dir).search(q, 5).count() == 5)
  }

  test("cold-path candidate scan pushes bucket+term filters into the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-push").toString
    index.save(dir)
    val loaded = InvertedIndex.load(spark, dir)
    val planStr = loaded.search("t0 t1", 10).queryExecution.toString
    assert(planStr.contains("PushedFilters: [In(bucket, ") &&
      planStr.contains("In(term, "),
      s"missing pushdown in plan:\n${planStr.take(2000)}")
    // searchMany with a small query log gets the SAME pushdown (the log's
    // distinct term set is collected and applied before the plan join)
    import spark.implicits._
    val qs = Seq((0, "t0 t1"), (1, "t5 t7")).toDS()
    val manyPlan = loaded.searchMany(qs, 10).queryExecution.toString
    assert(manyPlan.contains("PushedFilters: [In(bucket, ") &&
      manyPlan.contains("In(term, "),
      s"searchMany missing scan pushdown:\n${manyPlan.take(2000)}")
    // results are unchanged by the pruning (and by the over-cap fallback)
    val got = loaded.searchMany(qs, 10)
      .select($"queryId", $"docId", $"score").as[(Int, Long, Double)]
      .collect().toSeq.sortBy(r => (r._1, -r._3, r._2))
    val fallback = loaded.searchMany(qs, 10, pruneTermCap = 0)
      .select($"queryId", $"docId", $"score").as[(Int, Long, Double)]
      .collect().toSeq.sortBy(r => (r._1, -r._3, r._2))
    assert(got == fallback)
    assert(got.filter(_._1 == 0).map(t => (t._2, t._3)) == engineTopK("t0 t1", 10))
  }

  test("catalog commit conflict: same version committed twice fails cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-conflict").toString
    index.save(dir) // v1
    val snap = SegmentCatalog.current(spark, dir)
    intercept[Exception] {
      SegmentCatalog.commit(spark, dir, snap.copy(op = "rogue"))
    } // snap-00000001.json exists -> create(overwrite=false) must throw
    assert(SegmentCatalog.current(spark, dir).op == "save") // table unchanged
  }

  test("HotIndex serving path rank- and score-identical to DataFrame search") {
    val hot = HotIndex(index)
    (queryStrings :+ "").foreach { q =>
      val got = hot.search(q, 10).map(sd => (sd.docId, sd.score)).toSeq
      assert(got == engineTopK(q, 10), s"HotIndex mismatch for '$q'")
    }
    assert(hot.search("t0", 0).isEmpty)
    // batch serving: one job, same results per query
    val batch = hot.searchAll(queryStrings.take(5).zipWithIndex.map(_.swap), 10).toMap
    queryStrings.take(5).zipWithIndex.foreach { case (q, i) =>
      assert(batch(i).map(sd => (sd.docId, sd.score)).toSeq == engineTopK(q, 10))
    }
    // tombstone-aware serving == batch tombstone path
    import spark.implicits._
    val dead = engineTopK("t0 t1", 3).map(_._1).toArray
    val got = hot.search("t0 t1", 10, deny = dead).map(sd => (sd.docId, sd.score)).toSeq
    val want = index.search("t0 t1", 10,
      tombstones = Some(spark.createDataset(dead.toSeq)))
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
    hot.close()
  }

  test("HotIndex serving parity: threshold, searchAfter, filtered — identical to DataFrame path") {
    import spark.implicits._
    val hot = HotIndex(index)
    // threshold parity (incl. with a deny set)
    val q = "t5 t100 t2000"
    val tau = engineTopK(q, 10).lift(4).map(_._2).getOrElse(0.5)
    val gotT = hot.searchThreshold(q, tau).map(sd => (sd.docId, sd.score)).toSeq
    val wantT = index.searchThreshold(q, tau).as[(Long, Double)]
      .collect().toSeq.sortBy(r => (-r._2, r._1))
    assert(gotT == wantT, "threshold serving mismatch")
    val deadT = gotT.take(2).map(_._1).toArray
    val gotTD = hot.searchThreshold(q, tau, deny = deadT).map(_.docId)
    assert(gotTD.intersect(deadT).isEmpty && gotTD.length == gotT.size - 2)
    // searchAfter parity
    val page1 = hot.search("t0 t1", 10)
    val last = page1.last
    val got2 = hot.searchAfter("t0 t1", 10, last.score, last.docId)
      .map(sd => (sd.docId, sd.score)).toSeq
    val want2 = index.searchAfter("t0 t1", 10, last.score, last.docId)
      .select($"docId", $"score").as[(Long, Double)].collect().toSeq
    assert(got2 == want2, "searchAfter serving mismatch")
    assert(page1.map(sd => (sd.docId, sd.score)).toSeq ++ got2 == engineTopK("t0 t1", 20))
    // filtered (allow-set) parity with the docFilter DataFrame path
    val allowIds = index.docs.filter($"lang" === "de").select($"docId").as[Long].collect()
    val gotF = hot.searchFiltered("t1 t2 t3", 10, allowIds)
      .map(sd => (sd.docId, sd.score)).toSeq
    val wantF = index.search("t1 t2 t3", 10, docFilter = Some($"lang" === "de"))
      .select($"docId", $"score").as[(Long, Double)].collect().toSeq
    assert(gotF == wantF, "filtered serving mismatch")
    // closure-size guard: an over-cap deny/allow set fails loudly
    intercept[IllegalArgumentException] {
      hot.search("t0", 10, deny = new Array[Long](HotIndex.FilterSetCap + 1))
    }
    intercept[IllegalArgumentException] {
      hot.searchFiltered("t0", 10, new Array[Long](HotIndex.FilterSetCap + 1))
    }
    // result-size guard: a low τ on a head term matching more rows than
    // maxResults must fail loudly (never silently materialize O(corpus)
    // rows on the driver) and point at the DataFrame path
    val low = hot.searchThreshold("t0 t1", 0.0001)
    assert(low.length > 4, "guard-test premise: head term matches many rows")
    val capped = intercept[Exception] {
      hot.searchThreshold("t0 t1", 0.0001, maxResults = low.length - 1)
    }
    def msgChain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgChain(t.getCause)
    assert(msgChain(capped).contains("serving result cap"), msgChain(capped))
    hot.close()

    // one partition holding several bulk shards plus an appended
    // micro-batch shard, with terms of exactly 128 and 129 postings in one
    // shard (one full block; a full block plus one)
    val dir = java.nio.file.Files.createTempDirectory("graft-hot-packed").toString
    val opts = IndexBuilder.Options(numShards = 3, rangePartitions = 3)
    val rnd = new scala.util.Random(128)
    val pages = (0 until 540).map { i =>
      val words = Seq.fill(5 + rnd.nextInt(30))(s"w${rnd.nextInt(12)}") ++
        (if (i < 128 || i >= 510) Seq.fill(1 + rnd.nextInt(3))("p128") else Nil) ++
        (if (i < 129 || i >= 520) Seq.fill(1 + rnd.nextInt(3))("p129") else Nil)
      (f"https://packed.example/$i%04d", rnd.shuffle(words).mkString(" "), "en")
    }
    ResumableBuild.build(spark, pages.take(500).toDF("url", "text", "lang"), dir, opts, numChunks = 1)
    graft.streaming.StreamingIndex.appendBatch(spark, pages.drop(500).toDF("url", "text", "lang"),
      dir, opts, 0L, streamId = "packed")
    val live = graft.streaming.StreamingIndex.refresh(spark, dir)
    def runs(t: String, shard: Int) = live.blocks.filter($"term" === t && $"shard" === shard)
      .select($"n").as[Int].collect().sorted.toSeq
    assert(runs("p128", 0) == Seq(128) && runs("p129", 0) == Seq(1, 128))
    assert(live.blocks.select($"shard").distinct().count() == 4) // 3 bulk + the micro-batch
    val one = HotIndex(live, budget = Long.MaxValue)
    assert(one.numPartitions == 1)
    def dfRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"docId", $"score").as[(Long, Double)].collect().toSeq
    def rows(h: Array[ScoredDoc]) = h.map(sd => (sd.docId, sd.score)).toSeq
    Seq("p128", "p129", "p128 p129", "p128 w3", "p129 w0 w7").foreach { q =>
      Seq(10, 200).foreach { k =>
        assert(rows(one.search(q, k)) == dfRows(live.search(q, k)), s"packed search '$q' k=$k")
      }
      val top = dfRows(live.search(q, 20))
      val tauP = top(9)._2
      assert(rows(one.searchThreshold(q, tauP)) ==
        dfRows(live.searchThreshold(q, tauP)).sortBy(r => (-r._2, r._1)), s"packed threshold '$q'")
      assert(rows(one.searchAfter(q, 10, top(9)._2, top(9)._1)) == top.drop(10),
        s"packed searchAfter '$q'")
    }
    one.close()
  }

  test("serve loop: malformed lines answer ERROR and the loop goes on; the pin is released") {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve").toString
    index.save(dir)
    def pinnedIds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = pinnedIds
    val outs = scala.collection.mutable.ArrayBuffer[String]()
    IndexCli.serveLoop(spark, dir, 5, Iterator(
      ":t abc t0",     // tau is not a number
      ":d 1,x t0 t1",  // a deny id is not a number
      ":a 0.5 y t0",   // the cursor docId is not a number
      "t0 t1 t5",
      "",              // quits: the line after it is never read
      "t7"), outs += _)
    assert(outs.size == 5 && outs(0).startsWith("ready"), outs.mkString("\n"))
    assert(outs.slice(1, 4).forall(_.startsWith("ERROR NumberFormatException: ")), outs.mkString("\n"))
    assert(pinnedIds -- before == Set.empty, "the serving pin outlived the loop")
    val hot = HotIndex(InvertedIndex.load(spark, dir))
    val want = try hot.search("t0 t1 t5", 5) finally hot.close()
    assert(want.nonEmpty && outs(4).split("] ", 2)(1) ==
      want.map(sd => f"${sd.docId}:${sd.score}%.3f").mkString(" "), outs(4))
  }

  test("HotIndex pins packed stores: cache memSize <= half the same blocks as term -> Array[Block] maps") {
    val hot = HotIndex(index)
    val st = spark.sparkContext.getRDDStorageInfo.filter(_.id == hot.rddId)
    assert(st.length == 1 && st(0).numCachedPartitions == st(0).numPartitions)
    val pinned = st(0).memSize
    // the layout a pinned partition replaced: one Block object per block
    // in a term -> firstDocId-sorted blocks map per partition
    val part = new org.apache.spark.HashPartitioner(st(0).numPartitions)
    val maps = index.blocks.collect().groupBy(b => part.getPartition(b.shard)).values.map { bs =>
      val m = new java.util.HashMap[String, Array[Block]]()
      bs.groupBy(_.term).foreach { case (t, tb) => m.put(t, tb.sortBy(_.firstDocId)) }
      m
    }.toArray
    val asMaps = org.apache.spark.util.SizeEstimator.estimate(maps)
    info(f"pinned ${pinned / 1e6}%.2f MB vs ${asMaps / 1e6}%.2f MB as Block maps")
    assert(pinned > 0 && pinned * 2 <= asMaps, s"pinned $pinned B vs $asMaps B as Block maps")
    hot.close()
  }

  test("HotIndex failures carry their reason at the top level; a failed job leaves the handle serving") {
    val hot = HotIndex(index)
    // the per-partition result cap fails inside a task: the message the
    // caller sees first (what `annserve` prints) must name the reason
    val capped = intercept[Exception] {
      hot.searchThreshold("t0 t1", 0.0001, maxResults = 1)
    }
    assert(capped.getMessage.contains("in one partition"), capped.getMessage)
    // a serving task that captures something unserializable fails its
    // job with a SparkException naming the class; the pinned RDD answers
    // the next call unchanged
    val before = hot.search("t0 t1", 10).toSeq
    val pinned = spark.sparkContext.getPersistentRDDs(hot.rddId)
    final class NotShippable(val n: Int)
    val held = new NotShippable(3)
    val bad = intercept[org.apache.spark.SparkException] {
      HotIndex.serve(pinned, pinned.partitions.indices)(it => it.size + held.n)
    }
    assert(bad.getMessage.contains("NotShippable"), bad.getMessage)
    assert(HotIndex.serve(pinned, pinned.partitions.indices)(_.size).sum ==
      pinned.getNumPartitions)
    assert(hot.search("t0 t1", 10).toSeq == before)
    hot.close()
  }

  /** Bytes the pin counts for `ix`'s blocks (payload plus block metadata). */
  def pinnedBytes(ix: InvertedIndex): Long = ix.blocks.collect().map(b =>
    b.docBytes.length + b.tfBytes.length + b.dlBytes.length + Searcher.MetaBytesPerBlock).sum

  /** Handles pinning `index` at 1, 2 and 3 partitions: 8 range shards of
    * similar size, so 0.6 of the total groups them 4+4 (or 5+3) and 0.44
    * of it groups them 3+3+2. */
  def layouts(): Seq[HotIndex] = {
    val total = pinnedBytes(index)
    val hots = Seq(HotIndex(index), HotIndex(index, (total * 0.6).toLong),
      HotIndex(index, (total * 0.44).toLong))
    assert(hots.map(_.numPartitions) == Seq(1, 2, 3), "premise: the budgets give 1, 2, 3 partitions")
    hots
  }

  test("HotIndex job shape: single calls run one task per pinned partition; a batch fans out over P x min(#queries, ceil(cores/P)) query slices") {
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val qs = (0 until 50).map(i => (i, s"t$i t${i * 37}"))
    layouts().foreach { hot =>
      val p = hot.numPartitions
      val tasks = (n: Int) => 0 until p * math.min(n, (cores + p - 1) / p)
      val calls = Seq[(String, () => Int, Seq[Int])](
        ("search", () => hot.search("t0 t1", 10).length, 0 until p),
        ("searchThreshold", () => hot.searchThreshold("t5 t100 t2000", 1.0).length, 0 until p),
        ("searchAll of 50", () => hot.searchAll(qs, 10).count(_._2.nonEmpty), tasks(50)),
        ("searchAll of 2", () => hot.searchAll(qs.take(2), 10).count(_._2.nonEmpty), tasks(2)))
      calls.foreach { case (name, call, want) =>
        val (hits, shape) = ServingProbes.jobShape(sc)(call())
        assert(hits > 0, s"$name: premise, the call finds something")
        assert(shape == ServingProbes.Shape(1, want), s"$name at P=$p: $shape")
      }
      // a batch smaller than the cores runs one task per (partition, query),
      // never one per core: no task gets an empty query slice
      assert(tasks(2).size == 2 * p && tasks(50).size <= 50 * p)
      hot.close()
    }
  }

  test("HotIndex layouts: pinned at 1, 2 and 3 partitions, every serving call answers bit-identically to InvertedIndex.search") {
    import spark.implicits._
    def bits(h: Seq[(Long, Double)]) = h.map { case (d, s) => (d, java.lang.Double.doubleToRawLongBits(s)) }
    def of(h: Array[ScoredDoc]) = bits(h.toSeq.map(sd => (sd.docId, sd.score)))
    def df(d: org.apache.spark.sql.DataFrame) = bits(d.select($"docId", $"score").as[(Long, Double)].collect().toSeq)
    val qs = queryStrings.zipWithIndex.map(_.swap)
    val dead = engineTopK("t0 t1", 3).map(_._1).toArray
    val top = engineTopK("t0 t1", 20)
    val tau = engineTopK("t5 t100 t2000", 10)(4)._2
    val wantTop = qs.map { case (_, q) => df(index.search(q, 10)) }
    val wantDeny = df(index.search("t0 t1", 10, tombstones = Some(spark.createDataset(dead.toSeq))))
    val wantAfter = df(index.searchAfter("t0 t1", 10, top(9)._2, top(9)._1))
    val wantTau = bits(index.searchThreshold("t5 t100 t2000", tau).as[(Long, Double)].collect()
      .toSeq.sortBy(r => (-r._2, r._1)))
    assert(wantTop.count(_.nonEmpty) > 5 && wantDeny.nonEmpty && wantAfter.nonEmpty &&
      wantTau.size >= 5, "premise: the calls find documents")
    layouts().foreach { hot =>
      val p = hot.numPartitions
      val all = hot.searchAll(qs, 10).toMap
      val small = hot.searchAll(qs.take(2), 10).toMap // fewer queries than cores
      assert(qs.map { case (i, _) => of(all(i)) } == wantTop, s"searchAll at P=$p")
      assert(qs.take(2).map { case (i, _) => of(small(i)) } == wantTop.take(2), s"small searchAll at P=$p")
      assert(qs.map { case (_, q) => of(hot.search(q, 10)) } == wantTop, s"search at P=$p")
      assert(of(hot.search("t0 t1", 10, deny = dead)) == wantDeny, s"deny-filtered search at P=$p")
      assert(of(hot.searchAfter("t0 t1", 10, top(9)._2, top(9)._1)) == wantAfter, s"searchAfter at P=$p")
      assert(of(hot.searchThreshold("t5 t100 t2000", tau)) == wantTau, s"searchThreshold at P=$p")
      hot.close()
    }
  }

  test("HotIndex concurrent callers: 4 threads x 25 queries answer bit-identically to one thread") {
    val hot = HotIndex(index)
    val qs = (0 until 25).map(i => s"t$i t${i * 41} t${i * 997}")
    def bits(h: Array[ScoredDoc]) =
      h.map(sd => (sd.docId, java.lang.Double.doubleToRawLongBits(sd.score))).toSeq
    val want = qs.map(q => bits(hot.search(q, 10)))
    assert(want.count(_.nonEmpty) > 20, "premise: the queries find documents")
    val got = ServingProbes.concurrently(4, qs.size)(i => bits(hot.search(qs(i), 10)))
    assert(got.size == 100)
    got.foreach { case (i, g) => assert(g == want(i), s"query '${qs(i)}' differs under concurrency") }
    hot.close()
  }

  test("empty and degenerate queries") {
    assert(engineTopK("", 10).isEmpty)
    assert(engineTopK("zzzznope", 10).isEmpty)
    assert(engineTopK("t0", 0).isEmpty)
  }
}
