package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops._

/** Cluster-partitioned NSW graph ANN (Nsw.scala): exact at max knobs,
  * recall pinned at production knobs on random AND clustered corpora,
  * deterministic adjacency, save/load identity. */
class NswSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-nsw-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def randVec(rnd: scala.util.Random, d: Int): Seq[Float] =
    Seq.fill(d)(rnd.nextGaussian().toFloat)

  /** Gaussian-mixture corpus — the "harder than uniform" distribution:
    * points concentrate near a few directions, so greedy descent has
    * real local optima to escape. */
  private def clustered(rnd: scala.util.Random, n: Int, d: Int, centers: Int) = {
    val cs = Array.fill(centers)(Array.fill(d)(rnd.nextGaussian()))
    (0L until n.toLong).map { i =>
      val c = cs(rnd.nextInt(centers))
      (i, c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq)
    }
  }

  private def bruteTop(emb: org.apache.spark.sql.DataFrame, q: Seq[Float],
                       k: Int): Seq[Long] = {
    import spark.implicits._
    Ann.bruteTopK(emb, "vec_id", "embedding", q, k, Ann.Cosine)
      .select($"key").as[Long].collect().toSeq
  }

  test("exact mode (nProbe=k, ef>=n) equals brute force, rank for rank") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val emb = (0L until 600L).map(i => (i, randVec(rnd, 16)))
      .toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    for (seed <- 1 to 4) {
      val q = randVec(new scala.util.Random(seed), 16)
      val got = Nsw.topK(g, q, 10, nProbe = 4, ef = Int.MaxValue)
        .select($"key").as[Long].collect().toSeq
      assert(got == bruteTop(emb, q, 10), s"query seed $seed")
    }
    g.unpersist()
  }

  test("beam recall@10 on random and clustered corpora; probes trade recall") {
    import spark.implicits._
    val rnd = new scala.util.Random(32)
    val corpora = Seq(
      "random" -> (0L until 2000L).map(i => (i, randVec(rnd, 24))),
      "clustered" -> clustered(rnd, 2000, 24, 8))
    corpora.foreach { case (name, rows) =>
      val emb = rows.toDF("vec_id", "embedding")
      val g = Nsw.build(spark, emb, "vec_id", "embedding",
        Nsw.Params(m = 8, efConstruction = 48, kCenters = 8, iters = 2))
      val queries = (101 to 110).map(s => randVec(new scala.util.Random(s), 24))
      def recall(nProbe: Int, ef: Int): Double = {
        val hits = queries.map { q =>
          val truth = bruteTop(emb, q, 10).toSet
          val got = Nsw.topK(g, q, 10, nProbe, ef)
            .select($"key").as[Long].collect().toSet
          (truth & got).size
        }.sum
        hits.toDouble / (10.0 * queries.size)
      }
      val full = recall(nProbe = 8, ef = 64)
      assert(full >= 0.9, s"$name: beam recall@10 with all probes = $full")
      val partial = recall(nProbe = 2, ef = 64)
      info(f"$name: recall@10 ef=64 nProbe=8 -> $full%.2f, nProbe=2 -> $partial%.2f")
      assert(partial <= full + 1e-9)
      g.unpersist()
    }
  }

  test("adjacency is deterministic across rebuilds") {
    import spark.implicits._
    val rnd = new scala.util.Random(33)
    val rows = (0L until 500L).map(i => (i, randVec(rnd, 12)))
    // same input layout twice: centroid bits and therefore adjacency must
    // reproduce exactly (cross-parallelism bits vary only via k-means
    // partial-sum order — documented, same contract as the IVF path)
    def checksum(): (Long, String, Seq[(Long, Seq[Long])]) = {
      val emb = spark.createDataset(rows).repartition(3)
        .toDF("vec_id", "embedding")
      val g = Nsw.build(spark, emb, "vec_id", "embedding",
        Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
      val s = g.adj.select(xxhash64(col("c"), col("key"),
          to_json(col("nbrs"))).as("h"))
        .agg(expr("bit_xor(h)")).as[Long].head()
      val cent = g.centroids.map(_.mkString(",")).mkString(";")
      val dump = g.adj.select(col("key"), col("nbrs"))
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
      g.unpersist()
      (s, cent, dump)
    }
    val (s1, c1, d1) = checksum()
    val (s2, c2, d2) = checksum()
    assert(c1 == c2, "centroids differ across rebuilds")
    val diff = d1.zip(d2).filter { case (a, b) => a != b }
    assert(diff.isEmpty, s"adjacency differs at ${diff.take(3)}")
    assert(s1 == s2)
  }

  test("save/load round-trip serves identical results") {
    import spark.implicits._
    val rnd = new scala.util.Random(34)
    val emb = clustered(rnd, 800, 16, 4).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2))
    val q = randVec(new scala.util.Random(7), 16)
    val before = Nsw.topK(g, q, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-nsw-rt").toString
    Nsw.save(spark, g, dir)
    g.unpersist()
    val loaded = Nsw.load(spark, dir)
    val after = Nsw.topK(loaded, q, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toSeq
    assert(before == after)
    // probe filter on the loaded (partitionBy c) layout prunes partitions
    val plan = Nsw.topK(loaded, q, 10, nProbe = 1, ef = 48)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("c#"),
      "expected partition pruning on the cluster column")
  }

  test("medioid entry + visitedCount: beam does bounded work from a good start") {
    import spark.implicits._
    val rnd = new scala.util.Random(36)
    val emb = clustered(rnd, 2000, 24, 8).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 8, efConstruction = 48, kCenters = 8, iters = 2))
    // exactly one entry flag per cluster, and it IS the medioid
    val entries = g.adj.filter($"entry").select($"c").as[Int].collect()
    assert(entries.sorted.toSeq == (0 until 8), s"entry flags per cluster: ${entries.toSeq}")
    val queries = (201 to 210).map(s => randVec(new scala.util.Random(s), 24))
    var recallHits = 0
    var visitedTot = 0L
    queries.foreach { q =>
      val truth = bruteTop(emb, q, 10).toSet
      val m = new Nsw.SearchMetrics
      val got = Nsw.topK(g, q, 10, nProbe = 8, ef = 24, metrics = m)
        .select($"key").as[Long].collect().toSet
      recallHits += (truth & got).size
      assert(m.visited > 0)
      visitedTot += m.visited
    }
    val recall = recallHits / (10.0 * queries.size)
    // medioid entry at a SMALL ef must already reach high recall
    assert(recall >= 0.85, s"recall@10 ef=24 from medioid entry = $recall")
    // and the beam visits a bounded neighborhood, not the whole corpus
    assert(visitedTot < 2000L * queries.size,
      s"visited $visitedTot across ${queries.size} queries — beam degenerated to scans")
    info(f"recall@10 ef=24: $recall%.2f, avg visited/query: ${visitedTot / queries.size}")
    g.unpersist()
  }

  test("append == incremental addGraphNode: recall parity with batch rebuild") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val all = clustered(rnd, 1500, 16, 4)
    val (base, extra) = all.splitAt(1000)
    val baseDf = base.toDF("vec_id", "embedding")
    val extraDf = extra.toDF("vec_id", "embedding")
    val allDf = all.toDF("vec_id", "embedding")
    val g0 = Nsw.build(spark, baseDf, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2))
    val g1 = Nsw.append(spark, g0, extraDf, "vec_id", "embedding")
    // same coarse router as a batch rebuild would get with these centroids
    val batch = Nsw.buildWithCentroids(spark, allDf, "vec_id", "embedding",
      g0.centroids, g0.params)
    // exact mode: appended graph must be EXACTLY brute force over the union
    val q = randVec(new scala.util.Random(8), 16)
    val gotExact = Nsw.topK(g1, q, 10, nProbe = 4, ef = Int.MaxValue)
      .select($"key").as[Long].collect().toSeq
    assert(gotExact == bruteTop(allDf, q, 10), "append lost/duplicated nodes")
    // production knobs: recall within eps of the batch-rebuilt graph
    val queries = (301 to 312).map(s => randVec(new scala.util.Random(s), 16))
    def recall(g: Nsw.Graph): Double = {
      val hits = queries.map { qq =>
        val truth = bruteTop(allDf, qq, 10).toSet
        val got = Nsw.topK(g, qq, 10, nProbe = 3, ef = 48)
          .select($"key").as[Long].collect().toSet
        (truth & got).size
      }.sum
      hits / (10.0 * queries.size)
    }
    val (rAppend, rBatch) = (recall(g1), recall(batch))
    info(f"recall@10: append $rAppend%.3f vs batch rebuild $rBatch%.3f")
    assert(rAppend >= rBatch - 0.05,
      f"appended graph recall $rAppend%.3f below batch $rBatch%.3f - 0.05")
    // append is deterministic: same batch twice -> identical adjacency
    val g1b = Nsw.append(spark, g0, extraDf, "vec_id", "embedding")
    val d1 = g1.adj.select($"key", $"nbrs").as[(Long, Seq[Long])]
      .collect().sortBy(_._1).toSeq
    val d1b = g1b.adj.select($"key", $"nbrs").as[(Long, Seq[Long])]
      .collect().sortBy(_._1).toSeq
    assert(d1 == d1b, "append not deterministic")
    Seq(g0, g1, g1b, batch).foreach(_.unpersist())
  }

  test("delete tombstones exclude keys exactly; compact == per-cluster rebuild") {
    import spark.implicits._
    val rnd = new scala.util.Random(38)
    val rows = clustered(rnd, 1000, 16, 4)
    val emb = rows.toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2))
    val q = randVec(new scala.util.Random(9), 16)
    val top = bruteTop(emb, q, 10)
    val dead = top.take(3) ++ Seq(500L, 501L)
    val gDel = Nsw.delete(g, dead)
    // exact mode: results == brute force minus the tombstones, rank for rank
    val liveDf = rows.filterNot(r => dead.contains(r._1)).toDF("vec_id", "embedding")
    val gotExact = Nsw.topK(gDel, q, 10, nProbe = 4, ef = Int.MaxValue)
      .select($"key").as[Long].collect().toSeq
    assert(gotExact == bruteTop(liveDf, q, 10), "tombstones not excluded exactly")
    // production knobs: traverse-through, never returned
    val gotBeam = Nsw.topK(gDel, q, 10, nProbe = 4, ef = 48)
      .select($"key").as[Long].collect().toSeq
    assert(gotBeam.intersect(dead).isEmpty)
    // compact purges: rows gone, tombstone list cleared, and each affected
    // cluster's adjacency is EXACTLY what a fresh build of its live
    // membership produces (reference removeDeletedNodes semantics)
    val gc = Nsw.compact(spark, gDel)
    assert(gc.deleted.isEmpty)
    assert(gc.adj.filter($"key".isin(dead: _*)).count() == 0)
    val want = Nsw.buildWithCentroids(spark, liveDf, "vec_id", "embedding",
      g.centroids, g.params)
    val a = gc.adj.select($"key", $"nbrs").as[(Long, Seq[Long])]
      .collect().sortBy(_._1).toSeq
    val b = want.adj.select($"key", $"nbrs").as[(Long, Seq[Long])]
      .collect().sortBy(_._1).toSeq
    assert(a == b, "compacted adjacency differs from fresh rebuild of live set")
    // searches on the compacted graph serve normally
    assert(Nsw.topK(gc, q, 10, nProbe = 4, ef = Int.MaxValue)
      .select($"key").as[Long].collect().toSeq == bruteTop(liveDf, q, 10))
    Seq(g, gc, want).foreach(_.unpersist())
  }

  test("save/load round-trips tombstones; v2 format carries entry flags") {
    import spark.implicits._
    val rnd = new scala.util.Random(39)
    val emb = clustered(rnd, 600, 16, 4).toDF("vec_id", "embedding")
    val g0 = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2))
    val g = Nsw.delete(g0, Seq(5L, 6L, 7L))
    val dir = java.nio.file.Files.createTempDirectory("graft-nsw-v2").toString
    Nsw.save(spark, g, dir)
    val loaded = Nsw.load(spark, dir)
    assert(loaded.deleted.toSeq == Seq(5L, 6L, 7L))
    assert(loaded.adj.filter(col("entry")).count() == 4)
    val q = randVec(new scala.util.Random(10), 16)
    val want = Nsw.topK(g, q, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toSeq
    val got = Nsw.topK(loaded, q, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
    g0.unpersist()
  }

  test("HotAnn serving path identical to Nsw.topK at every knob setting") {
    import spark.implicits._
    val rnd = new scala.util.Random(40)
    val emb = clustered(rnd, 1500, 16, 4).toDF("vec_id", "embedding")
    val g0 = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2))
    val g = Nsw.delete(g0, Seq(10L, 11L)) // serving must honor tombstones too
    val hot = HotAnn(g)
    for {
      seed <- 1 to 3
      (nProbe, ef) <- Seq((4, Int.MaxValue), (2, 48), (4, 16))
    } {
      val q = randVec(new scala.util.Random(seed), 16)
      val want = Nsw.topK(g, q, 10, nProbe, ef)
        .as[(Long, Double)].collect().toSeq
      val got = hot.topK(q, 10, nProbe, ef).toSeq
      assert(got == want, s"HotAnn mismatch at nProbe=$nProbe ef=$ef seed=$seed")
    }
    // visited metrics agree between the two paths
    val q = randVec(new scala.util.Random(4), 16)
    val mHot = new Nsw.SearchMetrics
    val mDf = new Nsw.SearchMetrics
    hot.topK(q, 10, 4, 32, metrics = mHot)
    Nsw.topK(g, q, 10, 4, 32, metrics = mDf).collect()
    assert(mHot.visited == mDf.visited && mHot.visited > 0)
    // warm serving is planning-free: after the first call, a query is a
    // single job over probed partitions — sanity-bound the latency
    hot.topK(q, 10, 2, 48)
    val t0 = System.nanoTime()
    (0 until 5).foreach(_ => hot.topK(q, 10, 2, 48))
    val msPer = (System.nanoTime() - t0) / 5e6
    info(f"HotAnn warm topK: $msPer%.1f ms/query")
    assert(msPer < 500, f"warm serving query took $msPer%.1f ms")
    hot.close()
    g0.unpersist()
  }

  test("PQ-fused traversal: ADC navigation + exact rerank tracks the exact-vector beam") {
    import spark.implicits._
    val rnd = new scala.util.Random(44)
    val emb = clustered(rnd, 2000, 32, 8).toDF("vec_id", "embedding")
    val g0 = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 8, efConstruction = 48, kCenters = 8, iters = 2))
    val g = Nsw.attachPq(spark, g0, m = 8) // 8 bytes/node vs 128 (float32)
    assert(g.pq.isDefined && g.adj.columns.contains("code"))
    val queries = (601 to 610).map(s => randVec(new scala.util.Random(s), 32))
    def recallOf(run: Seq[Float] => Set[Long]): Double = {
      val hits = queries.map { q =>
        val truth = bruteTop(emb, q, 10).toSet
        (truth & run(q)).size
      }.sum
      hits / (10.0 * queries.size)
    }
    val rExact = recallOf(q => Nsw.topK(g, q, 10, nProbe = 4, ef = 48)
      .select($"key").as[Long].collect().toSet)
    val m = new Nsw.SearchMetrics
    val rFused = recallOf(q => Nsw.topKFused(g, q, 10, nProbe = 4, ef = 48,
      metrics = if (q == queries.head) m else null)
      .select($"key").as[Long].collect().toSet)
    info(f"recall@10 nProbe=4 ef=48: exact-vector beam $rExact%.3f, PQ-fused $rFused%.3f")
    assert(m.visited > 0)
    // ADC navigation may lose a little recall to code quantization, never
    // much — and the final SCORES are exact either way
    assert(rFused >= rExact - 0.08,
      f"fused recall $rFused%.3f fell too far below exact $rExact%.3f")
    // returned scores are exact cosine: where both paths return a key,
    // the score must be IDENTICAL (rerank uses the same kernel)
    val q0 = queries.head
    val ex = Nsw.topK(g, q0, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toMap
    val fu = Nsw.topKFused(g, q0, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toMap
    val common = ex.keySet & fu.keySet
    assert(common.nonEmpty && common.forall(k => ex(k) == fu(k)),
      "fused results must carry exact scores")
    // fused codes + model survive save/load; fused search identical after
    val dir = java.nio.file.Files.createTempDirectory("graft-nsw-fused").toString
    Nsw.save(spark, g, dir)
    val loaded = Nsw.load(spark, dir)
    assert(loaded.pq.isDefined)
    val before = Nsw.topKFused(g, q0, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toSeq
    val after = Nsw.topKFused(loaded, q0, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toSeq
    assert(before == after)
    // incremental + fused compose: append drops codes (new nodes have
    // none); re-attaching with the SAME model restores byte-identical
    // codes for unchanged nodes and fused search works over the union
    val extra = (5000L until 5100L).map(i => (i, randVec(new scala.util.Random(i.toInt), 32)))
      .toDF("vec_id", "embedding")
    val appended = Nsw.append(spark, g, extra, "vec_id", "embedding")
    assert(appended.pq.isEmpty && !appended.adj.columns.contains("code"))
    val refused = Nsw.attachPqWith(spark, appended, g.pq.get)
    val oldCodes = g.adj.select($"key", $"code").as[(Long, Array[Byte])]
      .collect().toMap
    val newCodes = refused.adj.select($"key", $"code").as[(Long, Array[Byte])]
      .collect().toMap
    assert(oldCodes.forall { case (k, c) =>
      java.util.Arrays.equals(c, newCodes(k)) },
      "re-encode with the same model must reproduce unchanged nodes' codes")
    assert(newCodes.size == oldCodes.size + 100)
    assert(Nsw.topKFused(refused, q0, 10, nProbe = 4, ef = 48).count() == 10)
    refused.unpersist()
    g.unpersist()
  }

  test("threshold search: exact == brute sim>=tau; flood does bounded work; HotAnn parity") {
    import spark.implicits._
    val rnd = new scala.util.Random(45)
    val rows = clustered(rnd, 2000, 16, 6)
    val emb = rows.toDF("vec_id", "embedding")
    val g0 = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 8, efConstruction = 32, kCenters = 6, iters = 2))
    val g = Nsw.delete(g0, Seq(42L, 43L)) // tombstones traverse, never return
    // query near a cluster center so the tau-level set is non-trivial
    val q = rows(17)._2
    val tau = 0.8
    def bruteThresh(dead: Set[Long]): Seq[(Long, Double)] =
      Ann.bruteTopK(emb, "vec_id", "embedding", q, 2000, Ann.Cosine)
        .as[(Long, Double)].collect().toSeq
        .filter { case (k2, s) => s >= tau && !dead.contains(k2) }
        .sortBy { case (k2, s) => (-s, k2) }
    val want = bruteThresh(Set(42L, 43L))
    assert(want.size >= 20, s"test needs a non-trivial level set, got ${want.size}")
    // exact mode: nProbe = kCenters, maxVisit >= cluster size
    val gotExact = Nsw.threshold(g, q, tau, nProbe = 6)
      .as[(Long, Double)].collect().toSeq
    assert(gotExact == want, "exact-mode threshold != brute force")
    // production flood: high recall at bounded work
    val m = new Nsw.SearchMetrics
    val gotFlood = Nsw.threshold(g, q, tau, nProbe = 3, maxVisit = 500, metrics = m)
      .as[(Long, Double)].collect().toSeq
    val recall = gotFlood.map(_._1).toSet.intersect(want.map(_._1).toSet).size.toDouble / want.size
    info(f"threshold flood: recall ${recall}%.2f visiting ${m.visited} of 2000 nodes")
    assert(recall >= 0.85, f"flood recall $recall%.2f")
    assert(m.visited < 2000, "flood degenerated to a full scan")
    assert(gotFlood.forall(_._2 >= tau) && gotFlood.map(_._1).intersect(Seq(42L, 43L)).isEmpty)
    // HotAnn serving twin: identical at the same knobs
    val hot = HotAnn(g)
    assert(hot.threshold(q, tau, nProbe = 6).toSeq == gotExact)
    assert(hot.threshold(q, tau, nProbe = 3, maxVisit = 500).toSeq == gotFlood)
    hot.close()
    g0.unpersist()
  }

  test("searchAfter pagination: page1 ++ page2 == top-2k; HotAnn twin; cursor chains") {
    import spark.implicits._
    val rnd = new scala.util.Random(46)
    val emb = clustered(rnd, 1200, 16, 4).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2))
    val hot = HotAnn(g)
    for (seed <- 1 to 3) {
      val q = randVec(new scala.util.Random(seed), 16)
      // exact mode: pages partition the brute-force ranking exactly
      val top20 = Nsw.topK(g, q, 20, nProbe = 4, ef = Int.MaxValue)
        .as[(Long, Double)].collect().toSeq
      val page1 = Nsw.topK(g, q, 10, nProbe = 4, ef = Int.MaxValue)
        .as[(Long, Double)].collect().toSeq
      val cursor = (page1.last._2, page1.last._1)
      val page2 = Nsw.searchAfter(g, q, 10, cursor, nProbe = 4, ef = Int.MaxValue)
        .as[(Long, Double)].collect().toSeq
      assert(page1 ++ page2 == top20, s"page1+page2 != top-2k (seed $seed)")
      // serving twin identical
      assert(hot.searchAfter(q, 10, cursor, nProbe = 4, ef = Int.MaxValue).toSeq == page2)
      // chaining: page3 via page2's cursor continues the ranking
      val page3 = Nsw.searchAfter(g, q, 10, (page2.last._2, page2.last._1),
        nProbe = 4, ef = Int.MaxValue).as[(Long, Double)].collect().toSeq
      val top30 = Nsw.topK(g, q, 30, nProbe = 4, ef = Int.MaxValue)
        .as[(Long, Double)].collect().toSeq
      assert(page1 ++ page2 ++ page3 == top30)
    }
    // production knobs: page 2 at finite ef must not repeat page-1 keys and
    // must rank below the cursor
    val q = randVec(new scala.util.Random(9), 16)
    val p1 = Nsw.topK(g, q, 10, nProbe = 2, ef = 64)
      .as[(Long, Double)].collect().toSeq
    val p2 = Nsw.searchAfter(g, q, 10, (p1.last._2, p1.last._1), nProbe = 2, ef = 64)
      .as[(Long, Double)].collect().toSeq
    assert(p2.map(_._1).toSet.intersect(p1.map(_._1).toSet).isEmpty)
    assert(p2.forall { case (k2, s) =>
      s < p1.last._2 || (s == p1.last._2 && k2 > p1.last._1) })
    hot.close()
    g.unpersist()
  }

  test("bulk tombstones: 10^5-key delete+compact completes without literal-list plans") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = clustered(rnd, 600, 16, 4)
    val emb = rows.toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    // 100k tombstones (a bulk-delete batch): a literal isin over this set
    // would serialize 10^5 literals into every plan — the de-literaled
    // predicates must keep plan size O(1) and finish promptly
    val dead = (1000000L until 1100000L) ++ Seq(3L, 4L, 5L)
    val gDel = Nsw.delete(g, dead)
    val searched = Nsw.topK(gDel, randVec(new scala.util.Random(1), 16),
      10, nProbe = 4, ef = Int.MaxValue)
    val plan = searched.queryExecution.analyzed.toString
    assert(plan.length < 100000, s"plan blew up to ${plan.length} chars")
    val live = rows.filterNot(r => Seq(3L, 4L, 5L).contains(r._1))
      .toDF("vec_id", "embedding")
    assert(searched.select($"key").as[Long].collect().toSeq ==
      bruteTop(live, randVec(new scala.util.Random(1), 16), 10))
    val gc = Nsw.compact(spark, gDel)
    assert(gc.deleted.isEmpty && gc.adj.count() == 597)
    assert(Nsw.topK(gc, randVec(new scala.util.Random(2), 16), 10,
      nProbe = 4, ef = Int.MaxValue).select($"key").as[Long].collect().toSeq ==
      bruteTop(live, randVec(new scala.util.Random(2), 16), 10))
    gc.unpersist()
    g.unpersist()
  }

  test("deny-set closure cap: oversized tombstone sets fail loudly toward compact") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val emb = (0L until 50L).map(i => (i, randVec(rnd, 8))).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 4, efConstruction = 16, kCenters = 2, iters = 1))
    val over = Nsw.delete(g, (0L until (Nsw.FilterSetCap + 1L)).toSeq)
    val e = intercept[IllegalArgumentException] {
      Nsw.topK(over, randVec(rnd, 8), 5, nProbe = 2, ef = Int.MaxValue)
    }
    assert(e.getMessage.contains("compact"),
      "cap violation must point the caller at Nsw.compact")
    g.unpersist()
  }

  test("appendTouched: one routing pass feeds saveTouched; double input appends once") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val emb = clustered(rnd, 400, 8, 4).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 4, efConstruction = 16, kCenters = 4, iters = 2))
    // array<double> input batch: append must cast, not throw (the
    // StreamingNsw routing bug class)
    val extra = (9000L until 9020L)
      .map(i => (i, Seq.fill(8)(new scala.util.Random(i).nextGaussian())))
      .toDF("vec_id", "embedding")
    val (g1, touched) = Nsw.appendTouched(spark, g, extra, "vec_id", "embedding")
    assert(touched.nonEmpty && touched.subsetOf((0 until 4).toSet))
    // the touched set is exactly the clusters whose membership changed
    val changed = g1.adj.filter($"key" >= 9000L).select($"c").as[Int]
      .collect().toSet
    assert(touched == changed)
    g1.unpersist()
  }

  test("annserve loop: WRITE is searchable, DELETE filters, OPTIMIZE compacts — durable") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val emb = clustered(rnd, 600, 8, 4).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    val dir = java.nio.file.Files.createTempDirectory("graft-annserve").toString
    Nsw.save(spark, g, dir)
    g.unpersist()
    // a brand-new vector, far from nothing in particular — query IT
    val v = Seq.fill(8)(rnd.nextGaussian().toFloat)
    val vs = v.mkString(",")
    val script = Iterator(
      s":p 4 2000000000 $vs", // SEARCH before write: 9999 absent
      s":w 9999 $vs",         // WRITE
      s":p 4 2000000000 $vs", // sees its own write at sim 1.0
      s":t 0.99 $vs",         // THRESHOLD: only the written near-identical vector
      s":a 0.5 0 $vs",        // NEXT PAGE after cursor (0.5, 0): 9999 excluded
      ":del 9999",            // DELETE tombstones it
      s":p 4 2000000000 $vs", // filtered again
      ":opt",                 // OPTIMIZE purges the tombstone
      s":p 4 2000000000 $vs") // still filtered after compact
    val outs = scala.collection.mutable.ArrayBuffer[String]()
    graft.IndexCli.annServeLoop(spark, dir, 5, script, outs += _)
    // outs: 0 ready, then one line per script command
    assert(outs(0).contains("ready") && outs.size == 10)
    assert(!outs(1).contains("9999:"), "9999 must not exist pre-write")
    assert(outs(2).contains("WROTE 9999"))
    assert(outs(3).contains("9999:1.0000"), s"write not visible: ${outs(3)}")
    assert(outs(4).contains("9999:1.0000") && !outs(4).split("] ")(1).trim.contains(" "),
      s"threshold 0.99 must return exactly the written vector: ${outs(4)}")
    assert(!outs(5).contains("9999:"), s"page after (0.5, 0) must exclude 9999: ${outs(5)}")
    assert(outs(6).contains("DELETED"))
    assert(!outs(7).contains("9999:"), "tombstone not honored")
    assert(outs(8).contains("OPTIMIZED"))
    assert(!outs(9).contains("9999:"), "compact resurrected a tombstone")
    // durability: a FRESH load of the dir reflects the full history
    val reloaded = Nsw.load(spark, dir)
    assert(reloaded.deleted.isEmpty, "optimize must clear tombstones durably")
    assert(reloaded.adj.filter($"key" === 9999L).count() == 0,
      "compacted node must be gone from the stored graph")
    assert(reloaded.adj.count() == 600)
    // the untouched corpus still serves identically after the lifecycle
    val q2 = randVec(new scala.util.Random(3), 8)
    assert(Nsw.topK(reloaded, q2, 10, nProbe = 4, ef = Int.MaxValue)
      .select($"key").as[Long].collect().toSeq == bruteTop(emb, q2, 10))
    // OPTIMIZE with nothing to purge — on the loaded graph, after a WRITE
    // (whose graph still reads the dir) before any DELETE, and twice in a
    // row — is a no-op: it must not rewrite the dir from a plan reading it
    val w = Seq.fill(8)(rnd.nextGaussian().toFloat).mkString(",")
    val outs2 = scala.collection.mutable.ArrayBuffer[String]()
    graft.IndexCli.annServeLoop(spark, dir, 5,
      Iterator(":opt", s":w 8888 $w", ":opt", ":opt", s":p 4 2000000000 $w"), outs2 += _)
    assert(outs2.size == 6, outs2.mkString("\n"))
    assert(outs2(1).contains("OPTIMIZED (600 nodes") &&
      Seq(3, 4).forall(outs2(_).contains("OPTIMIZED (601 nodes")), outs2.mkString("\n"))
    assert(outs2(2).contains("WROTE 8888") && outs2(5).contains("8888:1.0000"))
    val reloaded2 = Nsw.load(spark, dir)
    assert(reloaded2.adj.count() == 601 && reloaded2.adj.filter($"key" === 8888L).count() == 1)
  }

  test("annserve loop: malformed lines answer ERROR and the loop goes on; cache released") {
    import spark.implicits._
    val rnd = new scala.util.Random(51)
    val emb = clustered(rnd, 300, 8, 2).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 4, efConstruction = 16, kCenters = 2, iters = 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-annserve-bad").toString
    Nsw.save(spark, g, dir)
    g.unpersist()
    val q = randVec(new scala.util.Random(4), 8)
    val qs = q.mkString(",")
    val pinned = spark.sparkContext.getPersistentRDDs.size
    val outs = scala.collection.mutable.ArrayBuffer[String]()
    graft.IndexCli.annServeLoop(spark, dir, 5, Iterator(
      ":w abc 1,2,3,4,5,6,7,8", // key is not a number
      "1,x,3,4,5,6,7,8",        // bad float
      ":del",                   // DELETE without keys
      ":w 77 1,2",              // wrong dimension: must not write
      ":t notatau " + qs,
      s":p 2 2000000000 $qs"), outs += _)
    assert(outs.size == 7, outs.mkString("\n"))
    assert(outs.slice(1, 6).forall(_.startsWith("ERROR")), outs.mkString("\n"))
    assert(outs(6).split("] ")(1).split(" ").toSeq.map(_.split(":")(0).toLong) ==
      bruteTop(emb, q, 5), s"search after bad lines: ${outs(6)}")
    assert(Nsw.load(spark, dir).adj.count() == 300, "a failed write changed the graph")
    assert(spark.sparkContext.getPersistentRDDs.size == pinned, "serving cache leaked")
    // the cache is released even when the input itself fails
    val failing = Iterator(qs) ++ new Iterator[String] {
      def hasNext = true
      def next() = throw new java.io.UncheckedIOException(new java.io.IOException("input closed"))
    }
    intercept[java.io.UncheckedIOException] {
      graft.IndexCli.annServeLoop(spark, dir, 5, failing, _ => ())
    }
    assert(spark.sparkContext.getPersistentRDDs.size == pinned, "serving cache leaked on a failing input")
  }

  test("LVQ-fused traversal: near-lossless beam, exact scores, round-trips, re-attach") {
    import spark.implicits._
    val rnd = new scala.util.Random(48)
    val emb = clustered(rnd, 2000, 32, 8).toDF("vec_id", "embedding")
    val g0 = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 8, efConstruction = 48, kCenters = 8, iters = 2))
    val g = Nsw.attachLvq(spark, g0) // 32+8 bytes/node vs 128 (float32)
    assert(g.lvq.isDefined && g.adj.columns.contains("lu"))
    val queries = (801 to 810).map(s => randVec(new scala.util.Random(s), 32))
    def recallOf(run: Seq[Float] => Set[Long]): Double = {
      val hits = queries.map { q =>
        val truth = bruteTop(emb, q, 10).toSet
        (truth & run(q)).size
      }.sum
      hits / (10.0 * queries.size)
    }
    val rExact = recallOf(q => Nsw.topK(g, q, 10, nProbe = 4, ef = 48)
      .select($"key").as[Long].collect().toSet)
    val m = new Nsw.SearchMetrics
    val rFused = recallOf(q => Nsw.topKFusedLvq(g, q, 10, nProbe = 4, ef = 48,
      metrics = if (q == queries.head) m else null)
      .select($"key").as[Long].collect().toSet)
    info(f"recall@10 nProbe=4 ef=48: exact-vector beam $rExact%.3f, LVQ-fused $rFused%.3f")
    assert(m.visited > 0)
    // the LVQ tier is near-lossless: the fused beam must track the exact
    // beam much tighter than PQ's 0.08 allowance
    assert(rFused >= rExact - 0.02,
      f"LVQ-fused recall $rFused%.3f fell below exact $rExact%.3f - 0.02")
    // returned scores are exact cosine where both paths return a key
    val q0 = queries.head
    val ex = Nsw.topK(g, q0, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toMap
    val fu = Nsw.topKFusedLvq(g, q0, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toMap
    val common = ex.keySet & fu.keySet
    assert(common.nonEmpty && common.forall(k => ex(k) == fu(k)))
    // save/load round-trips the model + codes; fused search identical
    val dir = java.nio.file.Files.createTempDirectory("graft-nsw-lvq").toString
    Nsw.save(spark, g, dir)
    val loaded = Nsw.load(spark, dir)
    assert(loaded.lvq.isDefined && loaded.pq.isEmpty)
    assert(Nsw.topKFusedLvq(loaded, q0, 10, nProbe = 4, ef = 48)
      .as[(Long, Double)].collect().toSeq ==
      Nsw.topKFusedLvq(g, q0, 10, nProbe = 4, ef = 48)
        .as[(Long, Double)].collect().toSeq)
    // append drops LVQ codes (contract); re-attach with the same model
    // reproduces unchanged nodes' codes byte-identically
    val extra = (7000L until 7050L).map(i =>
      (i, randVec(new scala.util.Random(i.toInt), 32)))
      .toDF("vec_id", "embedding")
    val appended = Nsw.append(spark, g, extra, "vec_id", "embedding")
    assert(appended.lvq.isEmpty && !appended.adj.columns.contains("lu"))
    val reattached = Nsw.attachLvqWith(spark, appended, g.lvq.get)
    val oldCodes = g.adj.select($"key", $"lu").as[(Long, Array[Byte])]
      .collect().toMap
    val newCodes = reattached.adj.select($"key", $"lu").as[(Long, Array[Byte])]
      .collect().toMap
    assert(oldCodes.forall { case (k, c) =>
      java.util.Arrays.equals(c, newCodes(k)) })
    assert(newCodes.size == oldCodes.size + 50)
    assert(Nsw.topKFusedLvq(reattached, q0, 10, nProbe = 4, ef = 48).count() == 10)
    reattached.unpersist()
    g.unpersist()
  }

  test("fragmented loaded graph reassembles clusters before beam search") {
    import spark.implicits._
    // A load()ed graph's clusters arrive split across scan partitions at
    // production sizes (~128 MB parquet splits). Beam-searching a FRAGMENT
    // silently drops cross-fragment edges -> recall loss. Simulate the
    // worst fragmentation (random row-level split) and require results
    // identical to the in-session cluster-local graph at production knobs.
    val rnd = new scala.util.Random(35)
    val emb = clustered(rnd, 1200, 16, 4).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2))
    val fragmented = g.copy(adj = g.adj.repartition(13), clusterLocal = false)
    for (seed <- 1 to 3) {
      val q = randVec(new scala.util.Random(seed), 16)
      val want = Nsw.topK(g, q, 10, nProbe = 3, ef = 32)
        .as[(Long, Double)].collect().toSeq
      val got = Nsw.topK(fragmented, q, 10, nProbe = 3, ef = 32)
        .as[(Long, Double)].collect().toSeq
      assert(got == want, s"fragmented graph diverged (seed $seed)")
    }
    // every scorer and policy must reassemble the same way: the fused
    // codes ride through the same key permutation as the vectors, and
    // tombstones hit the same keys on both layouts
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.as[(Long, Double)].collect().toSeq
    def frag(x: Nsw.Graph): Nsw.Graph =
      x.copy(adj = x.adj.repartition(13), clusterLocal = false)
    val gDel = Nsw.delete(g, Seq(3L, 77L, 401L))
    val fragDel = frag(gDel)
    for (seed <- 1 to 3) {
      val q = randVec(new scala.util.Random(seed), 16)
      val page1 = rows(Nsw.topK(gDel, q, 10, nProbe = 3, ef = 32))
      assert(rows(Nsw.topK(fragDel, q, 10, nProbe = 3, ef = 32)) == page1)
      val cursor = (page1.last._2, page1.last._1)
      assert(rows(Nsw.searchAfter(fragDel, q, 10, cursor, nProbe = 3, ef = 32)) ==
        rows(Nsw.searchAfter(gDel, q, 10, cursor, nProbe = 3, ef = 32)),
        s"fragmented searchAfter diverged (seed $seed)")
      val tau = page1(4)._2
      val th = rows(Nsw.threshold(gDel, q, tau, nProbe = 3, maxVisit = 150))
      assert(th.nonEmpty)
      assert(rows(Nsw.threshold(fragDel, q, tau, nProbe = 3, maxVisit = 150)) == th,
        s"fragmented threshold diverged (seed $seed)")
    }
    val gPq = Nsw.delete(Nsw.attachPq(spark, g, m = 4), Seq(3L, 77L, 401L))
    val fragPq = frag(gPq)
    for (seed <- 1 to 3) {
      val q = randVec(new scala.util.Random(seed), 16)
      assert(rows(Nsw.topKFused(fragPq, q, 10, nProbe = 3, ef = 32)) ==
        rows(Nsw.topKFused(gPq, q, 10, nProbe = 3, ef = 32)),
        s"fragmented PQ-fused graph diverged (seed $seed)")
    }
    val gLvq = Nsw.delete(Nsw.attachLvq(spark, gPq), Seq(3L, 77L, 401L))
    val fragLvq = frag(gLvq)
    for (seed <- 1 to 3) {
      val q = randVec(new scala.util.Random(seed), 16)
      assert(rows(Nsw.topKFusedLvq(fragLvq, q, 10, nProbe = 3, ef = 32)) ==
        rows(Nsw.topKFusedLvq(gLvq, q, 10, nProbe = 3, ef = 32)),
        s"fragmented LVQ-fused graph diverged (seed $seed)")
    }
    gLvq.unpersist()
    g.unpersist()
  }

  test("search kernel axes: scorers agree at gate mode; HotAnn visited parity per policy") {
    import spark.implicits._
    val rnd = new scala.util.Random(49)
    val emb = clustered(rnd, 1200, 16, 4).toDF("vec_id", "embedding")
    val g0 = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2))
    val g = Nsw.delete(g0, Seq(20L, 21L))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.as[(Long, Double)].collect().toSeq
    // gate mode (every cluster, unbounded frontier): the approximate
    // scorers only steer the beam, the exact rerank decides — so all
    // three scorers return the exact top-k, rank for rank and score for score
    val gPq = Nsw.attachPq(spark, g, m = 4)
    val gLvq = Nsw.attachLvq(spark, gPq)
    for (seed <- 1 to 3) {
      val q = randVec(new scala.util.Random(seed), 16)
      val exact = rows(Nsw.topK(gLvq, q, 10, nProbe = 4, ef = Int.MaxValue))
      assert(exact.size == 10 && !exact.exists(r => r._1 == 20L || r._1 == 21L))
      assert(rows(Nsw.topKFused(gPq, q, 10, nProbe = 4, ef = Int.MaxValue)) == exact,
        s"PQ-fused != exact at gate mode (seed $seed)")
      assert(rows(Nsw.topKFusedLvq(gLvq, q, 10, nProbe = 4, ef = Int.MaxValue)) == exact,
        s"LVQ-fused != exact at gate mode (seed $seed)")
    }
    // the serving twin runs the same kernel: equal visited for every policy
    val hot = HotAnn(gLvq)
    val q = randVec(new scala.util.Random(5), 16)
    val page1 = hot.topK(q, 10, 3, 24)
    val cursor = (page1.last._2, page1.last._1)
    val (mHot, mDf) = (new Nsw.SearchMetrics, new Nsw.SearchMetrics)
    val hotAfter = hot.searchAfter(q, 10, cursor, 3, 24, metrics = mHot).toSeq
    assert(rows(Nsw.searchAfter(gLvq, q, 10, cursor, 3, 24, metrics = mDf)) == hotAfter)
    assert(mHot.visited == mDf.visited && mHot.visited > 0,
      s"searchAfter visited: HotAnn ${mHot.visited} vs DataFrame ${mDf.visited}")
    val tau = page1(4)._2
    assert(rows(Nsw.threshold(gLvq, q, tau, 3, maxVisit = 120)) ==
      hot.threshold(q, tau, 3, maxVisit = 120).toSeq)
    hot.close()
    gLvq.unpersist()
    g0.unpersist()
  }

  test("threshold metrics count each flood once: DataFrame visited == HotAnn visited") {
    import spark.implicits._
    // the DataFrame threshold is an unlimited sort, whose range-partition
    // sampling job re-runs the per-cluster search — the visited count
    // must come from one execution of it, not from both
    val rnd = new scala.util.Random(50)
    val emb = clustered(rnd, 1200, 16, 4).toDF("vec_id", "embedding")
    val g = Nsw.delete(Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 32, kCenters = 4, iters = 2)), Seq(20L))
    val hot = HotAnn(g)
    for ((nProbe, maxVisit) <- Seq((3, 120), (4, Int.MaxValue))) {
      val q = randVec(new scala.util.Random(nProbe), 16)
      val tau = hot.topK(q, 10, nProbe, Int.MaxValue).last._2
      val (mHot, mDf) = (new Nsw.SearchMetrics, new Nsw.SearchMetrics)
      val hotTh = hot.threshold(q, tau, nProbe, maxVisit, metrics = mHot).toSeq
      assert(Nsw.threshold(g, q, tau, nProbe, maxVisit, metrics = mDf)
        .as[(Long, Double)].collect().toSeq == hotTh)
      assert(mHot.visited == mDf.visited && mHot.visited > 0,
        s"threshold visited: HotAnn ${mHot.visited} vs DataFrame ${mDf.visited}")
    }
    hot.close()
    g.unpersist()
  }

  test("saveTouched refuses fused columns the dir's adj files lack; dir unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val emb = clustered(rnd, 300, 8, 4).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 4, efConstruction = 16, kCenters = 4, iters = 2))
    val dir = java.nio.file.Files.createTempDirectory("graft-touched-guard").toString
    Nsw.save(spark, g, dir)
    def listing(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> (p.toFile.length, p.toFile.lastModified)).toMap
      finally files.close()
    }
    val before = listing()
    val fused = Nsw.attachLvq(spark, g)
    val e = intercept[IllegalArgumentException] {
      Nsw.saveTouched(spark, fused, dir, Set(0))
    }
    assert(e.getMessage.contains("lu"), e.getMessage)
    assert(listing() == before, "a refused saveTouched must write nothing")
    assert(Nsw.load(spark, dir).lvq.isEmpty)
    fused.unpersist()
  }

  test("annserve loop: a :w + :del + :opt session leaves none of its RDDs persistent") {
    import spark.implicits._
    val rnd = new scala.util.Random(54)
    val emb = clustered(rnd, 300, 8, 3).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 4, efConstruction = 16, kCenters = 3, iters = 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-annserve-release").toString
    Nsw.save(spark, g, dir)
    g.unpersist()
    val v = Seq.fill(8)(rnd.nextGaussian().toFloat).mkString(",")
    // every RDD the session creates gets an id above this one
    val mark = spark.sparkContext.emptyRDD[Int].id
    val outs = scala.collection.mutable.ArrayBuffer[String]()
    graft.IndexCli.annServeLoop(spark, dir, 5, Iterator(
      s":w 7777 $v", ":del 7777,3", ":opt", s":w 7778 $v", ":del 7778", ":opt",
      s":p 3 2000000000 $v"), outs += _)
    assert(outs.size == 8 && !outs.exists(_.startsWith("ERROR")), outs.mkString("\n"))
    assert(outs(3).contains("OPTIMIZED (299 nodes") && outs(6).contains("OPTIMIZED (299 nodes"),
      outs.mkString("\n"))
    val left = spark.sparkContext.getPersistentRDDs.keys.filter(_ > mark).toSeq.sorted
    assert(left.isEmpty, s"RDDs the session left persistent: ${left.mkString(", ")}")
    assert(Nsw.load(spark, dir).adj.count() == 299)
  }

  test("HotAnn.threshold caps the merged result, not only each cluster") {
    import spark.implicits._
    val rnd = new scala.util.Random(55)
    val rows = clustered(rnd, 400, 8, 4)
    val g = Nsw.build(spark, rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    val hot = HotAnn(g)
    val q = rows(0)._2
    // tau = -1 matches every node: each cluster returns its members
    val all = hot.threshold(q, -1.0, nProbe = 4)
    assert(all.length == 400)
    val sizes = g.adj.groupBy($"c").count().select($"count").as[Long].collect()
    assert(sizes.length == 4 && sizes.max < 400)
    def msgChain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgChain(t.getCause)
    // every cluster fits the cap, the merged result does not
    val total = intercept[IllegalArgumentException] {
      hot.threshold(q, -1.0, 4, Int.MaxValue, null, sizes.max.toInt)
    }
    assert(msgChain(total).contains("across the probed clusters"), msgChain(total))
    // a cluster over the cap: its task withholds the rows and flags the
    // request, and the caller checks that flag after the job and fails the call
    val one = intercept[Exception] {
      hot.threshold(q, -1.0, 4, Int.MaxValue, null, sizes.max.toInt - 1)
    }
    assert(msgChain(one).contains("in one cluster"), msgChain(one))
    assert(hot.threshold(q, -1.0, 4, Int.MaxValue, null, 400).toSeq == all.toSeq)
    hot.close()
    g.unpersist()
  }

  test("HotAnn failures carry their reason at the top level") {
    import spark.implicits._
    val rnd = new scala.util.Random(56)
    val rows = clustered(rnd, 400, 8, 4)
    val g = Nsw.build(spark, rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    val hot = HotAnn(g)
    val q = rows(0)._2
    val before = hot.topK(q, 10, 4, 32).toSeq
    // tau = -1 matches every node, so every cluster is over a cap of 1
    val one = intercept[Exception] {
      hot.threshold(q, -1.0, 4, Int.MaxValue, null, 1)
    }
    assert(one.getMessage.contains("in one cluster"), one.getMessage)
    assert(hot.topK(q, 10, 4, 32).toSeq == before)
    hot.close()
    g.unpersist()
  }

  test("HotAnn job shape: topK(nProbe = 2) runs one job with a task on each probed cluster only") {
    import spark.implicits._
    val rnd = new scala.util.Random(57)
    val rows = clustered(rnd, 600, 8, 6)
    val g = Nsw.build(spark, rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 6, iters = 2))
    val hot = HotAnn(g)
    // six clusters on four cores: cluster c lives on partition c mod P
    val p = hot.numPartitions
    assert(p == math.min(6, spark.sparkContext.defaultParallelism))
    val probedSets = (0 until 6).map { i =>
      val q = rows(i * 97)._2
      val (hits, shape) = ServingProbes.jobShape(spark.sparkContext)(hot.topK(q, 10, nProbe = 2, ef = 32))
      val probed = Ann.probeOrder(g.centroids, q.map(_.toDouble).toArray, 2).toSeq.sorted
      assert(hits.length == 10)
      assert(shape == ServingProbes.Shape(1, probed.map(_ % p).distinct.sorted),
        s"query $i: $shape, probes $probed")
      probed
    }
    assert(probedSets.flatten.distinct.size > 2, "premise: the queries probe different clusters")
    hot.close()
    g.unpersist()
  }

  test("HotAnn concurrent callers: 4 threads x 25 queries answer bit-identically to one thread") {
    import spark.implicits._
    val rnd = new scala.util.Random(58)
    val rows = clustered(rnd, 800, 8, 4)
    val g = Nsw.build(spark, rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    val hot = HotAnn(g)
    val qs = (0 until 25).map(i => randVec(new scala.util.Random(100 + i), 8))
    def bits(h: Array[(Long, Double)]) =
      h.map { case (key, sim) => (key, java.lang.Double.doubleToRawLongBits(sim)) }.toSeq
    val want = qs.map(q => bits(hot.topK(q, 10, 2, 32)))
    assert(want.forall(_.size == 10))
    val got = ServingProbes.concurrently(4, qs.size)(i => bits(hot.topK(qs(i), 10, 2, 32)))
    assert(got.size == 100)
    got.foreach { case (i, a) => assert(a == want(i), s"query $i differs under concurrency") }
    // mixed kinds and probe counts, so coalesced batches mix them too:
    // call i is topK, threshold or searchAfter by i mod 3 and probes
    // 1 + i mod 4 clusters; its visited count must match as well
    val cursors = qs.map { q => val h = hot.topK(q, 10, 2, 32); (h(4)._2, h(4)._1) }
    def call(i: Int): (Seq[(Long, Long)], Long) = {
      val m = new Nsw.SearchMetrics
      val nProbe = 1 + i % 4
      val h = i % 3 match {
        case 0 => hot.topK(qs(i), 10, nProbe, 32, m)
        case 1 => hot.threshold(qs(i), 0.5, nProbe, 150, m)
        case _ => hot.searchAfter(qs(i), 10, cursors(i), nProbe, 32, m)
      }
      (bits(h), m.visited)
    }
    val wantMixed = qs.indices.map(call)
    assert(wantMixed.forall(_._2 > 0) && qs.indices.exists(i => i % 3 == 1 && wantMixed(i)._1.size > 10))
    ServingProbes.concurrently(4, qs.size)(call).foreach { case (i, a) =>
      assert(a == wantMixed(i), s"mixed call $i differs under concurrency")
    }
    // a lone caller runs exactly one job, on its own thread
    val sc = spark.sparkContext
    assert(ServingProbes.jobShape(sc)(hot.topK(qs(0), 10, 2, 32))._2.jobs == 1)
    // the batch runner: one job, at most one task per pinned partition,
    // and each answer is that query's own topK
    val (all, shape) = ServingProbes.jobShape(sc)(hot.searchAll(qs, 10, 2, 32))
    assert(shape.jobs == 1 && shape.taskPartitions.size <= hot.numPartitions &&
      shape.taskPartitions.distinct == shape.taskPartitions, s"$shape")
    assert(all.map(bits) == want)
    hot.close()
    g.unpersist()
  }

  test("HotAnn withDeleted during an in-flight batch: the batch keeps the old deny set") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val rows = clustered(rnd, 800, 8, 4)
    val g = Nsw.build(spark, rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    val hot = HotAnn(g)
    val qs = (0 until 25).map(i => randVec(new scala.util.Random(200 + i), 8))
    val want = qs.map(q => hot.topK(q, 10, 2, 32).toSeq)
    val gone = want.flatMap(_.take(2).map(_._1)).toSet
    val sc = spark.sparkContext
    val (key, tag) = ("graft.test.swap", java.util.UUID.randomUUID.toString)
    val submitted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) submitted.countDown()
    }
    sc.addSparkListener(listener)
    val pool = Executors.newSingleThreadExecutor()
    try {
      // every task slot is held, so the old handle's batch job is submitted
      // but cannot finish before the swap
      val (inFlight, swapped) = ServingProbes.withSlotsHeld(sc) {
        val f = pool.submit(new Callable[Seq[Seq[(Long, Double)]]] {
          def call(): Seq[Seq[(Long, Double)]] = {
            sc.setLocalProperty(key, tag)
            hot.searchAll(qs, 10, 2, 32).map(_.toSeq)
          }
        })
        assert(submitted.await(60, TimeUnit.SECONDS), "the old handle's batch never started")
        assert(!f.isDone)
        (f, hot.withDeleted(gone))
      }
      assert(inFlight.get(120, TimeUnit.SECONDS) == want, "the swap reached the in-flight batch")
      val fresh = swapped.searchAll(qs, 10, 2, 32)
      assert(fresh.forall(_.forall(h => !gone(h._1))))
      val gDel = Nsw.delete(g, gone.toSeq)
      (0 until 3).foreach { i =>
        assert(fresh(i).toSeq == Nsw.topK(gDel, qs(i), 10, 2, 32).as[(Long, Double)].collect().toSeq)
      }
    } finally {
      pool.shutdownNow()
      sc.removeSparkListener(listener)
    }
    hot.close()
    g.unpersist()
  }

  test("HotAnn batch: an over-cap threshold request fails alone; its batch mates answer as single calls") {
    import spark.implicits._
    val rnd = new scala.util.Random(60)
    val rows = clustered(rnd, 400, 8, 4)
    val g = Nsw.build(spark, rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    val hot = HotAnn(g)
    val maxCluster = g.adj.groupBy($"c").count().select($"count").as[Long].collect().max.toInt
    val (q0, q1, q2) = (rows(0)._2, rows(101)._2, rows(202)._2)
    val page = hot.topK(q2, 10, 2, 32)
    val cursor = (page.last._2, page.last._1)
    val reqs = Seq(
      HotAnn.Request(q0, 4, Nsw.Beam(10, 32)),
      // tau = -1 matches every node: over the cap in one cluster ...
      HotAnn.Request(q1, 4, Nsw.Flood(-1.0, Int.MaxValue), maxCluster - 1),
      HotAnn.Request(q2, 2, Nsw.Beam(10, 32, Some(cursor))),
      // ... and here only across the probed clusters
      HotAnn.Request(q0, 4, Nsw.Flood(-1.0, Int.MaxValue), maxCluster),
      HotAnn.Request(q1, 3, Nsw.Flood(0.9, Int.MaxValue)))
    val (out, shape) = ServingProbes.jobShape(spark.sparkContext)(hot.run(reqs))
    assert(shape.jobs == 1, s"$shape")
    def failure(i: Int): String = {
      val e = out(i).failed.get
      assert(e.isInstanceOf[IllegalArgumentException], s"request $i: $e")
      e.getMessage
    }
    assert(failure(1).contains("in one cluster"), failure(1))
    assert(failure(3).contains("across the probed clusters"), failure(3))
    val singles = Seq[Nsw.SearchMetrics => Array[(Long, Double)]](
      m => hot.topK(q0, 10, 4, 32, m),
      m => hot.searchAfter(q2, 10, cursor, 2, 32, m),
      m => hot.threshold(q1, 0.9, 3, metrics = m))
    Seq(0, 2, 4).zip(singles).foreach { case (i, single) =>
      val m = new Nsw.SearchMetrics
      val want = single(m).toSeq
      assert(want.nonEmpty)
      assert(out(i).get._1.toSeq == want && out(i).get._2 == m.visited, s"request $i")
    }
    hot.close()
    g.unpersist()
  }

  test("HotAnn pins min(kCenters, cores) partitions; kCenters < cores or an empty cluster answers like Nsw.topK") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val emb = clustered(rnd, 900, 8, 6).toDF("vec_id", "embedding")
    val cores = spark.sparkContext.defaultParallelism
    def servesLikeNsw(g: Nsw.Graph, kCenters: Int): Unit = {
      val hot = HotAnn(g)
      assert(hot.numPartitions == math.min(kCenters, cores))
      for (seed <- 1 to 3; nProbe <- Seq(1, 2, kCenters)) {
        val q = randVec(new scala.util.Random(seed), 8)
        assert(hot.topK(q, 10, nProbe, 32).toSeq ==
          Nsw.topK(g, q, 10, nProbe, 32).as[(Long, Double)].collect().toSeq,
          s"kCenters=$kCenters nProbe=$nProbe seed=$seed")
      }
      hot.close()
    }
    def build(kCenters: Int) = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = kCenters, iters = 2))
    assert(cores > 2, "premise: kCenters = 2 is fewer than the cores")
    val g2 = build(2)
    servesLikeNsw(g2, 2)
    g2.unpersist()
    // compaction leaves cluster 0 without a row: its shelf holds nothing
    val g8 = build(8)
    val members = g8.adj.filter($"c" === 0).select($"key").as[Long].collect()
    assert(members.nonEmpty)
    val g8e = Nsw.compact(spark, Nsw.delete(g8, members.toSeq))
    assert(g8e.adj.filter($"c" === 0).count() == 0 && g8e.centroids.length == 8)
    servesLikeNsw(g8, 8)
    servesLikeNsw(g8e, 8)
    g8e.unpersist()
    g8.unpersist()
  }

  /** (c, key, nbrs, entry) rows, by key: what a mutation leaves behind. */
  private def graphRows(g: Nsw.Graph): Seq[(Int, Long, Seq[Long], Boolean)] = {
    import spark.implicits._
    g.adj.select($"c", $"key", $"nbrs", $"entry").as[(Int, Long, Seq[Long], Boolean)]
      .collect().sortBy(_._2).toSeq
  }

  /** The (cluster, vector) rows that store `key`. */
  private def stored(g: Nsw.Graph, key: Long): Seq[(Int, Seq[Float])] = {
    import spark.implicits._
    g.adj.filter($"key" === key).select($"c", $"v").as[(Int, Seq[Float])].collect().toSeq
  }

  /** The graph a write must equal: the API's replace-by-hand path of
    * tombstoning the keys, compacting and inserting the batch. */
  private def viaCompact(g: Nsw.Graph, batch: org.apache.spark.sql.DataFrame,
                         keys: Seq[Long]): Nsw.Graph =
    Nsw.append(spark, Nsw.compact(spark, Nsw.delete(g, keys)), batch, "vec_id", "embedding")

  /** Exact mode over every cluster: the top hit of `v` is `key` at sim 1. */
  private def answersWith(g: Nsw.Graph, key: Long, v: Seq[Float]): Boolean = {
    import spark.implicits._
    val top = Nsw.topK(g, v, 1, nProbe = g.centroids.length, ef = Int.MaxValue)
      .as[(Long, Double)].collect()
    top.headOption.exists(h => h._1 == key && h._2 > 1 - 1e-6)
  }

  private def upsertFixture(seed: Int) = {
    import spark.implicits._
    val rows = clustered(new scala.util.Random(seed), 400, 8, 4)
    val g = Nsw.build(spark, rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    (rows, g)
  }

  test("upsert within the same cluster replaces the stored vector") {
    import spark.implicits._
    val (rows, g) = upsertFixture(60)
    val (key, old) = rows(17)
    val oc = stored(g, key).head._1
    val v = old.map(x => x + 0.02f)
    val batch = Seq((key, v)).toDF("vec_id", "embedding")
    val (g1, touched) = Nsw.appendTouched(spark, g, batch, "vec_id", "embedding")
    assert(stored(g1, key) == Seq((oc, v)), "the key must hold the new vector, in its cluster")
    assert(touched == Set(oc))
    assert(g1.adj.count() == 400)
    assert(answersWith(g1, key, v) && !answersWith(g1, key, old))
    // the upsert builds exactly the graph the tombstone + compact + insert path does
    val want = viaCompact(g, batch, Seq(key))
    assert(graphRows(g1) == graphRows(want))
    Seq(g1, want, g).foreach(_.unpersist())
  }

  test("upsert whose new vector routes to another cluster leaves the key in exactly one row") {
    import spark.implicits._
    val (rows, g) = upsertFixture(61)
    val (key, old) = rows(5)
    val oc = stored(g, key).head._1
    // a vector next to a member of another cluster
    val other = rows.find(r => stored(g, r._1).head._1 != oc).get
    val v = other._2.map(x => x + 0.001f)
    val batch = Seq((key, v)).toDF("vec_id", "embedding")
    val (g1, touched) = Nsw.appendTouched(spark, g, batch, "vec_id", "embedding")
    val now = stored(g1, key)
    assert(now.size == 1 && now.head._2 == v, s"rows of key $key: $now")
    assert(now.head._1 != oc, "premise: the new vector routes to another cluster")
    assert(touched == Set(oc, now.head._1))
    assert(g1.adj.count() == 400)
    assert(answersWith(g1, key, v) && !answersWith(g1, key, old))
    val want = viaCompact(g, batch, Seq(key))
    assert(graphRows(g1) == graphRows(want))
    Seq(g1, want, g).foreach(_.unpersist())
  }

  test("a write after delete clears that key's tombstone and stores the written vector") {
    import spark.implicits._
    val (rows, g) = upsertFixture(62)
    val (key, v) = rows(9) // written back bit-identically: a tombstoned key is no no-op
    val other = rows(10)._1
    val gDel = Nsw.delete(g, Seq(key, other))
    val batch = Seq((key, v)).toDF("vec_id", "embedding")
    val (g1, touched) = Nsw.appendTouched(spark, gDel, batch, "vec_id", "embedding")
    assert(g1.deleted.toSeq == Seq(other), "only the written key's tombstone clears")
    assert(stored(g1, key).map(_._2) == Seq(v))
    assert(touched == stored(g1, key).map(_._1).toSet)
    assert(answersWith(g1, key, v))
    assert(stored(g1, other).nonEmpty, "an append purges no other tombstoned row")
    val gOne = Nsw.delete(g, Seq(key)) // its only tombstone is the written key
    val want = viaCompact(gOne, batch, Seq(key))
    assert(graphRows(Nsw.append(spark, gOne, batch, "vec_id", "embedding")) == graphRows(want))
    Seq(g1, want, g).foreach(_.unpersist())
  }

  test("metamorphic: appendTouched(g, batch) == appendTouched(compact(delete(g, keys)), batch)") {
    import spark.implicits._
    val (_, g) = upsertFixture(63)
    // tombstoned keys the graph does not store, and keys it has never seen
    val rnd = new scala.util.Random(64)
    val batchRows = (9001L to 9010L).map(k => (k, randVec(rnd, 8)))
    val keys = batchRows.map(_._1)
    val gDead = Nsw.delete(g, keys.take(3))
    val batch = batchRows.toDF("vec_id", "embedding")
    val (g1, touched) = Nsw.appendTouched(spark, gDead, batch, "vec_id", "embedding")
    val want = viaCompact(gDead, batch, keys)
    assert(graphRows(g1) == graphRows(want))
    assert(touched == graphRows(g1).filter(_._2 >= 9001L).map(_._1).toSet)
    Seq(g1, want, g).foreach(_.unpersist())
  }

  test("a replayed batch is a no-op: no cluster touched, identical rows") {
    import spark.implicits._
    val (rows, g) = upsertFixture(65)
    val rnd = new scala.util.Random(66)
    // new keys, an upsert and a key twice with one vector
    val fresh = (9001L to 9006L).map(k => (k, randVec(rnd, 8)))
    val batch = (fresh ++ Seq((rows(3)._1, randVec(rnd, 8)), fresh.head))
      .toDF("vec_id", "embedding")
    val (g1, t1) = Nsw.appendTouched(spark, g, batch, "vec_id", "embedding")
    assert(t1.nonEmpty && g1.adj.count() == 406)
    val (g2, t2) = Nsw.appendTouched(spark, g1, batch, "vec_id", "embedding")
    assert(t2.isEmpty, s"a replay touched clusters $t2")
    assert(graphRows(g2) == graphRows(g1))
    Seq(g1, g).foreach(_.unpersist())
  }

  test("5 chained append -> delete -> compact cycles: flat plans, no earlier generation, owned RDDs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def fromRdd(rows: Seq[(Long, Seq[Float])]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 4), schema)
    val rnd = new scala.util.Random(67)
    val emb = fromRdd(clustered(rnd, 400, 8, 4)).persist()
    emb.count()
    // every RDD the chain creates gets an id above this one
    val mark = spark.sparkContext.emptyRDD[Int].id
    val g0 = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 6, efConstruction = 24, kCenters = 4, iters = 2))
    def plan(g: Nsw.Graph) = g.adj.queryExecution.logical
    def rddIds(g: Nsw.Graph) = plan(g).collect { case r: LogicalRDD => r.rdd.id }.toSet
    val outputs = scala.collection.mutable.ArrayBuffer[Nsw.Graph]()
    var g = g0
    for (cycle <- 0 until 5) {
      val base = 10000L + 10 * cycle
      val appended = Nsw.append(spark, g, fromRdd((base until base + 5).map(k => (k, randVec(rnd, 8)))),
        "vec_id", "embedding")
      val compacted = Nsw.compact(spark, Nsw.delete(appended, Seq(base, cycle.toLong)))
      for (out <- Seq(appended, compacted)) {
        assert(plan(out).collect { case p => p }.size == plan(outputs.headOption.getOrElse(out))
          .collect { case p => p }.size, s"cycle $cycle: the plan grew\n${plan(out)}")
        val earlier = outputs.flatMap(rddIds).toSet ++ rddIds(g0)
        assert((rddIds(out) & earlier).isEmpty, s"cycle $cycle reads an earlier generation")
        // at most max(kCenters, |touched| + 1) partitions, however many writes came before
        assert(out.adj.rdd.getNumPartitions <= 4 + 1,
          s"cycle $cycle: ${out.adj.rdd.getNumPartitions} partitions")
        outputs += out
      }
      assert(compacted.deleted.isEmpty && compacted.adj.count() == 400 + 3 * (cycle + 1))
      g = compacted
    }
    (g0 +: outputs).foreach(_.unpersist())
    val left = spark.sparkContext.getPersistentRDDs.keys.filter(_ > mark).toSeq.sorted
    assert(left.isEmpty, s"RDDs the chain left persistent: ${left.mkString(", ")}")
    assert(emb.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "a caller's cached input must stay cached")
    emb.unpersist()
  }

  test("a batch repeating a key with differing vectors is rejected; the graph is unchanged") {
    import spark.implicits._
    val (rows, g) = upsertFixture(70)
    val (key, old) = rows(21)
    val before = graphRows(g)
    val batch = Seq((9001L, old), (key, old.map(_ + 0.5f)), (key, old.map(_ - 0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Nsw.appendTouched(spark, g, batch, "vec_id", "embedding")
    }
    assert(e.getMessage.endsWith(s"in one batch: $key"), e.getMessage)
    assert(graphRows(g) == before && stored(g, key).map(_._2) == Seq(old))
    g.unpersist()
  }

  test("annserve :w moving a cluster's only member: the reloaded dir stores the key in one row") {
    import spark.implicits._
    // three fixed routing centroids; cluster 2 holds exactly one key
    val axis = (i: Int, x: Double) => Array.tabulate(8)(j => if (j == i) x else 0.0)
    val rnd = new scala.util.Random(71)
    def near(i: Int) = axis(i, 10.0).map(x => (x + rnd.nextGaussian()).toFloat).toSeq
    val lone = 500L
    val rows = (0L until 200L).map(k => (k, near((k % 2).toInt))) :+ (lone -> near(2))
    val g = Nsw.buildWithCentroids(spark, rows.toDF("vec_id", "embedding"), "vec_id",
      "embedding", Array.tabulate(3)(axis(_, 10.0)),
      Nsw.Params(m = 4, efConstruction = 16, kCenters = 3, iters = 1))
    assert(stored(g, lone).map(_._1) == Seq(2) && g.adj.filter($"c" === 2).count() == 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-annserve-move").toString
    Nsw.save(spark, g, dir)
    g.unpersist()
    val v = near(0)
    val outs = scala.collection.mutable.ArrayBuffer[String]()
    graft.IndexCli.annServeLoop(spark, dir, 5, Iterator(s":w $lone ${v.mkString(",")}"), outs += _)
    assert(outs.size == 2 && outs(1).contains(s"WROTE $lone"), outs.mkString("\n"))
    val reloaded = Nsw.load(spark, dir)
    assert(stored(reloaded, lone) == Seq((0, v)), "the key must live in exactly one row")
    assert(reloaded.adj.count() == 201 && reloaded.adj.filter($"c" === 2).isEmpty)
    assert(answersWith(reloaded, lone, v) && !answersWith(reloaded, lone, rows.last._2))
  }

  test("annserve :opt keeps LVQ codes: reloaded dir is fused and answers as before") {
    import spark.implicits._
    val rnd = new scala.util.Random(68)
    val emb = clustered(rnd, 300, 8, 3).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 4, efConstruction = 16, kCenters = 3, iters = 1))
    val fused = Nsw.attachLvq(spark, g)
    val dir = java.nio.file.Files.createTempDirectory("graft-annserve-lvq").toString
    Nsw.save(spark, fused, dir)
    Seq(fused, g).foreach(_.unpersist())
    val q = randVec(new scala.util.Random(5), 8)
    def answer(x: Nsw.Graph) = Nsw.topKFusedLvq(x, q, 5, nProbe = 3, ef = Int.MaxValue)
      .as[(Long, Double)].collect().toSeq
    val before = answer(Nsw.load(spark, dir))
    val dead = (0L until 300L).find(k => !before.exists(_._1 == k)).get
    val outs = scala.collection.mutable.ArrayBuffer[String]()
    graft.IndexCli.annServeLoop(spark, dir, 5, Iterator(s":del $dead", ":opt"), outs += _)
    assert(outs.size == 3 && outs(2).contains("OPTIMIZED (299 nodes"), outs.mkString("\n"))
    val reloaded = Nsw.load(spark, dir)
    assert(reloaded.lvq.isDefined, "OPTIMIZE saved the graph without its LVQ model")
    assert(reloaded.adj.columns.contains("lu"))
    assert(answer(reloaded) == before)
  }

  test("annserve :del of an absent key then :opt keeps the dir loadable, same rows, no tombstones") {
    import spark.implicits._
    val rnd = new scala.util.Random(69)
    val emb = clustered(rnd, 300, 8, 3).toDF("vec_id", "embedding")
    val g = Nsw.build(spark, emb, "vec_id", "embedding",
      Nsw.Params(m = 4, efConstruction = 16, kCenters = 3, iters = 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-annserve-absent").toString
    Nsw.save(spark, g, dir)
    g.unpersist()
    def rowsOf(x: Nsw.Graph) = x.adj.select($"c", $"key", $"v", $"nbrs", $"entry")
      .as[(Int, Long, Seq[Float], Seq[Long], Boolean)].collect().sortBy(_._2).toSeq
    val before = rowsOf(Nsw.load(spark, dir))
    val outs = scala.collection.mutable.ArrayBuffer[String]()
    graft.IndexCli.annServeLoop(spark, dir, 5, Iterator(":del 123456789", ":opt"), outs += _)
    assert(outs.size == 3 && outs(2).contains("OPTIMIZED (300 nodes, 0 tombstones)"),
      outs.mkString("\n"))
    val reloaded = Nsw.load(spark, dir)
    assert(reloaded.deleted.isEmpty)
    assert(rowsOf(reloaded) == before)
  }
}
