package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.{Span, Seconds}
import graft.core.{Codec, Text}
import graft.index.{Block, IndexBuilder, ScoredDoc, Searcher, Wand}
import scala.util.Random

/** Randomized equivalence: Block-Max WAND vs naive exact scoring, pure
  * Scala (no Spark) — the fast inner loop of the rank-identity guarantee.
  * Pattern: jvector's randomized per-operator tests (TestVectorGraph). */
class WandSpec extends AnyFunSuite with TimeLimits {

  /** Build per-term blocks + a naive score map from a random corpus. */
  def makeCorpus(rnd: Random, nDocs: Int, vocab: Int):
      (Seq[(Double, Double, Array[Block])], Map[Long, Double], Double) = {
    val docs = (0 until nDocs).map { _ =>
      val len = 1 + rnd.nextInt(30)
      Array.fill(len)(s"w${rnd.nextInt(vocab)}")
    }
    val avgdl = docs.map(_.length).sum.toDouble / nDocs
    val n = nDocs.toLong
    // postings per term
    val byTerm = scala.collection.mutable.Map[String, Vector[(Long, Int, Int)]]()
    docs.zipWithIndex.foreach { case (toks, d) =>
      toks.groupBy(identity).foreach { case (t, occ) =>
        byTerm(t) = byTerm.getOrElse(t, Vector.empty) :+ ((d.toLong, occ.length, toks.length))
      }
    }
    val queryTerms = (0 until 3).map(_ => s"w${rnd.nextInt(vocab)}").distinct
      .filter(byTerm.contains)
    val termBlocks = queryTerms.map { t =>
      val ps = byTerm(t).sortBy(_._1)
      val idf = Text.idf(ps.length.toLong, n)
      // small block size to exercise multi-block skipping
      val blocks = ps.grouped(4).map { g =>
        IndexBuilder.encodeBlock(t, 0, g.map(_._1).toArray, g.map(_._2).toArray,
          g.map(_._3).toArray)
      }.toArray
      val ub = idf * blocks.map(b => Text.tfPartial(b.maxTf, b.minDl.toLong, avgdl)).max
      (idf, ub, blocks)
    }
    // naive exact scores
    val naive = scala.collection.mutable.Map[Long, Double]()
    queryTerms.foreach { t =>
      val idf = Text.idf(byTerm(t).length.toLong, n)
      byTerm(t).foreach { case (d, tf, dl) =>
        naive(d) = naive.getOrElse(d, 0.0) + idf * Text.tfPartial(tf, dl, avgdl)
      }
    }
    (termBlocks, naive.toMap, avgdl)
  }

  /** One serving partition's blocks: `bulk` range shards of `perShard`
    * docs plus an appended micro-batch shard of `batch` docs after them,
    * every (term, shard) run cut into [[Codec.BlockSize]] blocks. Shard 0
    * holds exactly 128 postings of `p128` and 129 of `p129` (one full
    * block; a full block plus one), and the micro-batch holds both again.
    * @return the query's term-sorted (idf, ub, blocks), the naive scores,
    *   avgdl, every block of the partition and the query plan */
  def makePartition(rnd: Random, bulk: Int = 3, perShard: Int = 150, batch: Int = 40):
      (Seq[(Double, Double, Array[Block])], Map[Long, Double], Double, Array[Block],
        Map[String, (Double, Double)]) = {
    val nDocs = bulk * perShard + batch
    val vocab = 4 + rnd.nextInt(30)
    val docs = (0 until nDocs).map { d =>
      val planted =
        (if (d < 128 || d >= bulk * perShard + batch / 2) Seq.fill(1 + rnd.nextInt(3))("p128") else Nil) ++
        (if (d < 129 || d >= bulk * perShard + batch / 4) Seq.fill(1 + rnd.nextInt(3))("p129") else Nil)
      Array.fill(1 + rnd.nextInt(30))(s"w${rnd.nextInt(vocab)}") ++ planted
    }
    def shardOf(d: Long): Int = math.min(bulk, (d / perShard).toInt)
    val avgdl = docs.map(_.length).sum.toDouble / nDocs
    val byTerm = scala.collection.mutable.Map[String, Vector[(Long, Int, Int)]]()
    docs.zipWithIndex.foreach { case (toks, d) =>
      toks.groupBy(identity).foreach { case (t, occ) =>
        byTerm(t) = byTerm.getOrElse(t, Vector.empty) :+ ((d.toLong, occ.length, toks.length))
      }
    }
    val blocksOf = byTerm.map { case (t, ps) =>
      t -> ps.sortBy(_._1).groupBy(p => shardOf(p._1)).toSeq.sortBy(_._1).flatMap { case (sh, run) =>
        run.grouped(Codec.BlockSize).map { g =>
          IndexBuilder.encodeBlock(t, sh, g.map(_._1).toArray, g.map(_._2).toArray, g.map(_._3).toArray)
        }
      }.toArray
    }
    val query = (Seq("p128", "p129") ++ Seq.fill(rnd.nextInt(3))(s"w${rnd.nextInt(vocab)}"))
      .distinct.filter(byTerm.contains).sorted
    val plan = query.map { t =>
      val idf = Text.idf(byTerm(t).length.toLong, nDocs.toLong)
      t -> (idf, idf * blocksOf(t).map(b => Text.tfPartial(b.maxTf, b.minDl.toLong, avgdl)).max)
    }.toMap
    val naive = scala.collection.mutable.Map[Long, Double]()
    query.foreach { t =>
      val idf = plan(t)._1
      byTerm(t).foreach { case (d, tf, dl) =>
        naive(d) = naive.getOrElse(d, 0.0) + idf * Text.tfPartial(tf, dl, avgdl)
      }
    }
    (query.map(t => (plan(t)._1, plan(t)._2, blocksOf(t))), naive.toMap, avgdl,
      blocksOf.values.flatten.toArray, plan)
  }

  test("wand topK == naive exact topK (500 random corpora)") {
    failAfter(Span(120, Seconds)) {
      val rnd = new Random(1234)
      (0 until 500).foreach { iter =>
        val (termBlocks, naive, avgdl) = makeCorpus(rnd, 20 + rnd.nextInt(300), 2 + rnd.nextInt(30))
        val k = 1 + rnd.nextInt(15)
        val got = Wand.topK(termBlocks, k, avgdl).toSeq
        val want = naive.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
          .map { case (d, s) => ScoredDoc(d, s) }
        assert(got.map(_.docId) == want.map(_.docId), s"iter=$iter k=$k")
        got.zip(want).foreach { case (g, w) =>
          assert(math.abs(g.score - w.score) < 1e-12, s"iter=$iter")
        }
      }
    }
  }

  test("wand threshold == naive filter (200 random corpora)") {
    failAfter(Span(60, Seconds)) {
      val rnd = new Random(99)
      (0 until 200).foreach { iter =>
        val (termBlocks, naive, avgdl) = makeCorpus(rnd, 20 + rnd.nextInt(200), 2 + rnd.nextInt(20))
        val tau = 0.2 + rnd.nextDouble() * 2
        val got = Wand.threshold(termBlocks, tau, avgdl).toSeq.sortBy(_.docId)
        val want = naive.toSeq.filter(_._2 >= tau).sortBy(_._1)
          .map { case (d, s) => ScoredDoc(d, s) }
        assert(got.map(_.docId) == want.map(_.docId), s"iter=$iter tau=$tau")
      }
    }
  }

  test("wand with filter excludes denied docs") {
    val rnd = new Random(5)
    val (termBlocks, naive, avgdl) = makeCorpus(rnd, 200, 5)
    val deny = new java.util.HashSet[java.lang.Long]()
    naive.keys.filter(_ % 3 == 0).foreach(d => deny.add(d))
    val f = new Wand.DocFilter(true, new java.util.HashSet(), deny)
    val got = Wand.topK(termBlocks, 10, avgdl, f).toSeq
    assert(got.forall(_.docId % 3 != 0))
    val want = naive.toSeq.filter(_._1 % 3 != 0).sortBy { case (d, s) => (-s, d) }
      .take(10).map { case (d, s) => ScoredDoc(d, s) }
    assert(got.map(_.docId) == want.map(_.docId))
  }

  test("threshold skips blocks that cannot reach tau (block-max pruning)") {
    // one frequent term, 2000 docs: most postings are weak (tf=1, long doc),
    // a few planted strong ones (tf=9, short doc). τ sits between the weak
    // and strong block maxes, so only blocks containing a planted posting
    // (plus boundary neighbors) should ever decode.
    val n = 2000L
    val strong = Set(37L, 555L, 1203L, 1800L)
    val ps = (0L until n).map { d =>
      if (strong(d)) (d, 9, 8) else (d, 1, 120)
    }
    val avgdl = ps.map(_._3).sum.toDouble / n
    val idf = Text.idf(n, n) // df = n (term in every doc)
    val blocks = ps.grouped(4).map { g =>
      IndexBuilder.encodeBlock("t", 0, g.map(_._1).toArray, g.map(_._2).toArray,
        g.map(_._3).toArray)
    }.toArray
    val ub = idf * blocks.map(b => Text.tfPartial(b.maxTf, b.minDl.toLong, avgdl)).max
    val weakMax = idf * Text.tfPartial(1, 120L, avgdl)
    val strongScore = idf * Text.tfPartial(9, 8L, avgdl)
    val tau = (weakMax + strongScore) / 2
    assert(weakMax < tau && tau < strongScore)
    val stats = new Wand.SearchStats
    val got = Wand.threshold(Seq((idf, ub, blocks)), tau, avgdl, stats = stats).toSeq
    assert(got.map(_.docId).sorted == strong.toSeq.sorted)
    assert(stats.totalBlocks == blocks.length.toLong)
    // 4 planted postings -> at most a handful of decoded blocks out of 500
    assert(stats.decodedBlocks <= strong.size + 2,
      s"decoded ${stats.decodedBlocks} of ${stats.totalBlocks}")
  }

  test("searchAfter cursor == naive rank window (200 random corpora)") {
    failAfter(Span(60, Seconds)) {
      val rnd = new Random(555)
      (0 until 200).foreach { iter =>
        val (termBlocks, naive, avgdl) = makeCorpus(rnd, 20 + rnd.nextInt(200), 2 + rnd.nextInt(20))
        val ranked = naive.toSeq.sortBy { case (d, s) => (-s, d) }
        if (ranked.size > 3) {
          val k = 1 + rnd.nextInt(5)
          val cut = rnd.nextInt(ranked.size - 1)
          val (cd, cs) = ranked(cut)
          val got = Wand.topK(termBlocks, k, avgdl, after = ScoredDoc(cd, cs)).toSeq
          val want = ranked.drop(cut + 1).take(k).map { case (d, s) => ScoredDoc(d, s) }
          assert(got.map(_.docId) == want.map(_.docId), s"iter=$iter cut=$cut k=$k")
        }
      }
    }
  }

  test("quantized block bounds: rank-identical topK + threshold (200 random corpora)") {
    failAfter(Span(60, Seconds)) {
      val rnd = new Random(777)
      (0 until 200).foreach { iter =>
        val (termBlocks, naive, avgdl) = makeCorpus(rnd, 20 + rnd.nextInt(200), 2 + rnd.nextInt(20))
        // quantize every block's bound metadata; recompute per-term ub
        val qBlocks = termBlocks.map { case (idf, _, bs) =>
          val qb = bs.map(IndexBuilder.quantizeBlock)
          val ub = idf * qb.map(b => Text.tfPartial(b.maxTf, b.minDl.toLong, avgdl)).max
          (idf, ub, qb)
        }
        val k = 1 + rnd.nextInt(10)
        val got = Wand.topK(qBlocks, k, avgdl).toSeq
        val want = naive.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
          .map { case (d, s) => ScoredDoc(d, s) }
        assert(got.map(_.docId) == want.map(_.docId), s"iter=$iter k=$k")
        got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-12) }
        val tau = 0.2 + rnd.nextDouble() * 2
        val gt = Wand.threshold(qBlocks, tau, avgdl).toSeq.sortBy(_.docId)
        val wt = naive.toSeq.filter(_._2 >= tau).sortBy(_._1)
        assert(gt.map(_.docId) == wt.map(_._1), s"iter=$iter tau=$tau")
      }
    }
  }

  test("Quant: admissible 4-significant-bit rounding") {
    val rnd = new Random(77)
    (0 until 5000).foreach { _ =>
      val v = 1 + rnd.nextInt(1 << 24)
      val up = IndexBuilder.Quant.ceil4(v)
      val dn = IndexBuilder.Quant.floor4(v)
      assert(up >= v && dn <= v, s"v=$v up=$up dn=$dn")
      assert(up <= v + v / 8, s"ceil4 too loose: $v -> $up") // <= 12.5% over
      assert(dn >= v - v / 8 - 1, s"floor4 too loose: $v -> $dn")
      // idempotent: quantized values are fixed points
      assert(IndexBuilder.Quant.ceil4(up) == up && IndexBuilder.Quant.floor4(dn) == dn)
    }
    (1 to 16).foreach(v => assert(IndexBuilder.Quant.ceil4(v) == v &&
      IndexBuilder.Quant.floor4(v) == v)) // small values exact
  }

  test("wand decodes fewer blocks than exist when k is small (skipping works)") {
    // top-k twin of "threshold skips blocks that cannot reach tau": once
    // the k=1 heap holds a planted strong posting, no weak block and no
    // later strong block (equal score, larger docId) can beat θ
    val n = 2000L
    val strong = Set(37L, 555L, 1203L, 1800L)
    val ps = (0L until n).map { d =>
      if (strong(d)) (d, 9, 8) else (d, 1, 120)
    }
    val avgdl = ps.map(_._3).sum.toDouble / n
    val idf = Text.idf(n, n)
    val blocks = ps.grouped(4).map { g =>
      IndexBuilder.encodeBlock("t", 0, g.map(_._1).toArray, g.map(_._2).toArray,
        g.map(_._3).toArray)
    }.toArray
    val ub = idf * blocks.map(b => Text.tfPartial(b.maxTf, b.minDl.toLong, avgdl)).max
    val stats = new Wand.SearchStats
    val got = Wand.topK(Seq((idf, ub, blocks)), 1, avgdl, stats = stats).toSeq
    assert(got.map(_.docId) == Seq(strong.min))
    assert(stats.totalBlocks == blocks.length.toLong)
    assert(stats.decodedBlocks <= strong.size + 2,
      s"decoded ${stats.decodedBlocks} of ${stats.totalBlocks}")
  }

  test("kernel axes: {all, deny 1/3, allow-list} x {topK, topK+after, threshold} == naive (150 random corpora)") {
    failAfter(Span(120, Seconds)) {
      val rnd = new Random(4242)
      def set(ds: Iterable[Long]) = {
        val s = new java.util.HashSet[java.lang.Long](); ds.foreach(d => s.add(d)); s
      }
      def axes(ctx0: String, rnd: Random, termBlocks: Seq[(Double, Double, Array[Block])],
               naive: Map[Long, Double], avgdl: Double): Unit = {
        val ranked = naive.toSeq.sortBy { case (d, s) => (-s, d) }
        val allowed = ranked.map(_._1).filter(_ => rnd.nextBoolean()).toSet
        val filters = Seq[(String, Long => Boolean, Wand.DocFilter)](
          ("all", _ => true, Wand.DocFilter.All),
          ("deny", _ % 3 != 0,
            new Wand.DocFilter(true, set(Nil), set(ranked.map(_._1).filter(_ % 3 == 0)))),
          ("allow", allowed, new Wand.DocFilter(false, set(allowed), set(Nil))))
        filters.foreach { case (fname, keep, f) =>
          val kept = ranked.filter(h => keep(h._1))
          def check(policy: String, got: Seq[ScoredDoc], want: Seq[(Long, Double)]): Unit = {
            val ctx = s"$ctx0 filter=$fname policy=$policy"
            assert(got.map(_.docId) == want.map(_._1), ctx)
            got.zip(want).foreach { case (g, (_, s)) => assert(math.abs(g.score - s) < 1e-12, ctx) }
          }
          val k = 1 + rnd.nextInt(15)
          check("topK", Wand.topK(termBlocks, k, avgdl, f).toSeq, kept.take(k))
          if (ranked.nonEmpty) {
            val (cd, cs) = ranked(rnd.nextInt(ranked.size))
            check("topK+after", Wand.topK(termBlocks, k, avgdl, f, after = ScoredDoc(cd, cs)).toSeq,
              kept.filter { case (d, s) => s < cs || (s == cs && d > cd) }.take(k))
          }
          val tau = 0.2 + rnd.nextDouble() * 2
          check("threshold", Wand.threshold(termBlocks, tau, avgdl, f).toSeq.sortBy(_.docId),
            kept.filter(_._2 >= tau).sortBy(_._1))
        }
      }
      (0 until 150).foreach { iter =>
        val (termBlocks, naive, avgdl) = makeCorpus(rnd, 20 + rnd.nextInt(300), 2 + rnd.nextInt(30))
        axes(s"iter=$iter", rnd, termBlocks, naive, avgdl)
      }
      // a partition of several bulk shards plus a micro-batch shard, with
      // runs of exactly 128 and 129 postings in one shard
      val prnd = new Random(4343)
      (0 until 20).foreach { iter =>
        val (termBlocks, naive, avgdl, _, _) = makePartition(prnd)
        axes(s"partition=$iter", prnd, termBlocks, naive, avgdl)
      }
    }
  }

  test("SearchStats accumulates across calls of both policies") {
    val (termBlocks, _, avgdl) = makeCorpus(new Random(11), 400, 4)
    val total = termBlocks.map(_._3.length.toLong).sum
    def decoded(search: Wand.SearchStats => Unit): Long = {
      val st = new Wand.SearchStats; search(st); st.decodedBlocks
    }
    val dTop = decoded(st => Wand.topK(termBlocks, 3, avgdl, stats = st))
    val dTau = decoded(st => Wand.threshold(termBlocks, 0.5, avgdl, stats = st))
    assert(total > 0 && dTop > 0 && dTau > 0)
    val st = new Wand.SearchStats
    Wand.threshold(termBlocks, 0.5, avgdl, stats = st)
    Wand.threshold(termBlocks, 0.5, avgdl, stats = st)
    assert(st.totalBlocks == 2 * total && st.decodedBlocks == 2 * dTau,
      s"${st.decodedBlocks}/${st.totalBlocks} after two threshold calls")
    Wand.topK(termBlocks, 3, avgdl, stats = st)
    assert(st.totalBlocks == 3 * total && st.decodedBlocks == 2 * dTau + dTop)
  }

  test("packed store: a whole partition packed once ≡ the Array[Block] entry, equal block counts") {
    val rnd = new Random(31)
    (0 until 20).foreach { iter =>
      val (termBlocks, _, avgdl, all, plan) = makePartition(rnd)
      def shard0(t: String) = all.filter(b => b.term == t && b.shard == 0).sortBy(_.firstDocId).map(_.n).toSeq
      assert(shard0("p128") == Seq(128) && shard0("p129") == Seq(128, 1))
      assert(all.map(_.shard).distinct.length == 4) // 3 bulk shards + the micro-batch
      // a shared-scan store: every term of the partition, blocks in any order
      val store = Searcher.pack(rnd.shuffle(all.toSeq).iterator)
      assert(store.range("nosuchterm") == -1)
      val k = 1 + rnd.nextInt(15)
      val tau = 0.2 + rnd.nextDouble() * 2
      val (sa, sb) = (new Wand.SearchStats, new Wand.SearchStats)
      assert(Wand.topK(termBlocks, k, avgdl, stats = sa).toSeq ==
        Wand.topK(store, plan, k, avgdl, Wand.DocFilter.All, null, sb).toSeq, s"iter=$iter")
      assert(Wand.threshold(termBlocks, tau, avgdl, stats = sa).toSeq ==
        Wand.threshold(store, plan, tau, avgdl, Wand.DocFilter.All, sb).toSeq, s"iter=$iter")
      assert(sa.totalBlocks > 0 && sa.decodedBlocks > 0)
      assert((sa.decodedBlocks, sa.totalBlocks) == (sb.decodedBlocks, sb.totalBlocks), s"iter=$iter")
      // the pin's merge step: split the blocks at random (across shards and
      // within a term's run), pack each part, merge in any order
      val parts = 1 + rnd.nextInt(4)
      val split = all.groupBy(_ => rnd.nextInt(parts)).values.toIndexedSeq
      val merged = Searcher.merge(rnd.shuffle(split).map(bs => Searcher.pack(bs.iterator)))
      def cols(st: Searcher.Store): Seq[Seq[Any]] = Seq(st.terms.toSeq, st.start.toSeq,
        st.first.toSeq, st.last.toSeq, st.maxTf.toSeq, st.minDl.toSeq, st.n.toSeq, st.off.toSeq,
        st.payload.toSeq)
      assert(cols(merged) == cols(store), s"iter=$iter: merge of $parts parts")
      assert(merged.bytes == split.map(bs => Searcher.pack(bs.iterator).bytes).sum)
    }
  }
}
