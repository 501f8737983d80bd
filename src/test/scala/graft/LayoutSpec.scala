package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.corpus.WebCorpus
import graft.index.{IndexBuilder, InvertedIndex}

/** docOrder="length" (score-clustered docId layout, document reordering)
  * must be a pure LAYOUT choice: identical stats and dictionary, identical
  * score per url, top-k differing at most in tie order at the boundary
  * score. The layout's point — block maxima that decline across the docId
  * space so WAND's θ can prune — is asserted via decoded-block counts.
  */
class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-layout-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val corpus = WebCorpus.generate(spark, 30000, partitions = 8)
  private lazy val ixUrl: InvertedIndex = IndexBuilder.build(spark, corpus,
    IndexBuilder.Options(numShards = 4, rangePartitions = 8))
  private lazy val ixLen: InvertedIndex = IndexBuilder.build(spark, corpus,
    IndexBuilder.Options(numShards = 4, rangePartitions = 8, docOrder = "length"))

  private def topWithUrls(ix: InvertedIndex, q: String, k: Int): Seq[(String, Double)] = {
    import spark.implicits._
    val res = ix.search(q, k)
    res.join(ix.docs.toDF(), "docId")
      .select($"url", $"score").as[(String, Double)]
      .collect().sortBy { case (u, s) => (-s, u) }.toSeq
  }

  test("length layout: same stats/dict, score-identical results per url") {
    import spark.implicits._
    assert(ixUrl.stats == ixLen.stats)
    val du = ixUrl.dict.agg(count(lit(1)), sum($"df"), sum($"cf")).head()
    val dl = ixLen.dict.agg(count(lit(1)), sum($"df"), sum($"cf")).head()
    assert(du == dl)
    // docLen is nondecreasing within each hash bucket: adjacent-pair
    // inversions can only occur at the (numShards - 1) bucket boundaries
    val lens = ixLen.docs.toDF().select($"docId", $"docLen").as[(Long, Int)]
      .collect().sortBy(_._1).map(_._2)
    val viol = lens.indices.drop(1).count(i => lens(i - 1) > lens(i))
    assert(viol <= 3, s"$viol docLen inversions in length layout (expect <= bucket boundaries)")

    for (q <- Seq("t0 t1", "t7", "t5 t100 t2000", "t123 t456 t789")) {
      val a = topWithUrls(ixUrl, q, 20)
      val b = topWithUrls(ixLen, q, 20)
      // same score sequence (fp-exact: scores depend on tf/df/dl only)
      assert(a.map(_._2) == b.map(_._2), s"score sequence differs for '$q'")
      // off-boundary results are the same urls; any symmetric difference
      // must sit entirely at the tied boundary score
      val boundary = a.map(_._2).min
      val onlyA = a.toSet -- b.toSet
      val onlyB = b.toSet -- a.toSet
      assert(onlyA.forall(_._2 == boundary) && onlyB.forall(_._2 == boundary),
        s"non-tie result difference for '$q': $onlyA vs $onlyB")
    }
  }

  private def decodedFor(ix: InvertedIndex, q: String): (Long, Long) = {
    import spark.implicits._
    val terms = core.Text.tokenize(q).distinct.toSeq
    val plan = ix.dict.filter($"term".isin(terms: _*)).collect().map { e =>
      val idf = core.Text.idf(e.df, ix.stats.numDocs)
      e.term -> (idf, idf * core.Text.tfPartial(e.maxTf, e.minDl.toLong, ix.stats.avgdl))
    }.toMap
    val byShard = ix.blocks.filter($"term".isin(plan.keys.toSeq: _*))
      .collect().groupBy(_.shard)
    val st = new index.Wand.SearchStats
    byShard.foreach { case (_, bs) =>
      val termBlocks = bs.groupBy(_.term).toSeq.sortBy(_._1).flatMap {
        case (t, arr) => plan.get(t).map { case (idf, ub) =>
          (idf, ub, arr.sortBy(_.firstDocId)) }
      }
      index.Wand.topK(termBlocks, 10, ix.stats.avgdl, stats = st)
    }
    (st.decodedBlocks, st.totalBlocks)
  }

  test("length layout decodes fewer blocks on head-term queries") {
    import spark.implicits._
    // single head-ish terms are where the declining block-max layout
    // prunes (multi-term sums keep bounds above θ via per-block max-tf;
    // tools/scale_probe_r3.json quantifies both — BASELINE.md round 3)
    val qs = Seq("t7", "t3")
    val (dU, tU) = qs.map(decodedFor(ixUrl, _)).reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    val (dL, tL) = qs.map(decodedFor(ixLen, _)).reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    // candidate-block totals shift slightly with layout (posting-run
    // boundaries move relative to shard splits) — compare decode RATIOS
    val rU = dU.toDouble / tU
    val rL = dL.toDouble / tL
    assert(rL < rU, s"length layout should skip more: url=$dU/$tU length=$dL/$tL")
    info(f"decoded url-order=$dU/$tU (${rU * 100}%.1f%%) length-order=$dL/$tL (${rL * 100}%.1f%%)")
  }

  test("assumeSorted + docOrder=length applies the layout (round-3 silent no-op)") {
    // ResumableBuild(assumeSorted) keeps the table's own partitioning, so
    // the length layout sorts WITHIN partitions by (docLen, url). It must
    // (a) not be silently ignored — the decode ratio win appears — and
    // (b) stay score-identical per url.
    import spark.implicits._
    import graft.index.ResumableBuild
    def rbuild(order: String): InvertedIndex = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-as-$order").toString
      ResumableBuild.build(spark, corpus, dir,
        IndexBuilder.Options(numShards = 4, rangePartitions = 8, docOrder = order),
        numChunks = 2, assumeSorted = true)
    }
    val asUrl = rbuild("url")
    val asLen = rbuild("length")
    assert(asUrl.stats == asLen.stats)
    for (q <- Seq("t7", "t5 t100 t2000")) {
      val a = topWithUrls(asUrl, q, 15)
      val b = topWithUrls(asLen, q, 15)
      assert(a.map(_._2) == b.map(_._2), s"score sequence differs for '$q'")
    }
    def ratio(ix: InvertedIndex): Double = {
      val (d, t) = Seq("t7", "t3").map(decodedFor(ix, _))
        .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
      d.toDouble / t
    }
    val (rU, rL) = (ratio(asUrl), ratio(asLen))
    assert(rL < rU,
      f"assumeSorted length layout must skip more: url=$rU%.3f length=$rL%.3f")
    info(f"assumeSorted decode ratio: url-order $rU%.3f, length-order $rL%.3f")
  }
}
