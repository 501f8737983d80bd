package graft

import org.apache.spark.sql.SparkSession
import graft.core.Text
import graft.corpus.WebCorpus
import graft.index._

/** Scale-escalation probe: build the seeded synthetic corpus at several
  * sizes and measure, per query class, (a) warm serving latency and
  * (b) the block-max skip ratio — decoded blocks / candidate blocks.
  * This is the round-3 evidence that the skip machinery's advantage
  * GROWS with corpus size (longer posting runs, same k ⇒ the heap
  * threshold prunes a larger fraction of blocks), i.e. the design's
  * constant factors improve, not degrade, on the way to 10^12 docs.
  * Prints one JSON line per size; results recorded in BASELINE.md.
  *
  * Skip ratios come from a driver-side run of the SAME Wand.topK kernel
  * over the collected candidate blocks, packed per shard — identical work to
  * the distributed path (per-shard heaps from a fresh θ), instrumented
  * via Wand.SearchStats.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = (if (args.nonEmpty) args(0) else "120000,360000,1080000")
      .split(",").map(_.trim.toLong)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]").appName("graft-scale-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val queries = Seq("t0 t1", "t5 t100 t2000", "t1 t2 t3 t4 t5", "t7",
      "t123 t456 t789")
    sizes.foreach { n =>
      val t0 = System.nanoTime()
      val corpus = WebCorpus.generate(spark, n, partitions = 64)
      // SPARK_GRAFT_DOC_ORDER=length probes the score-clustered docId
      // layout (document reordering); default = url order.
      val ix = IndexBuilder.build(spark, corpus,
        IndexBuilder.Options(numShards = 32, rangePartitions = 64,
          docOrder = sys.env.getOrElse("SPARK_GRAFT_DOC_ORDER", "url")))
      val buildS = (System.nanoTime() - t0) / 1e9
      val hot = HotIndex(ix.prepared())
      hot.search(queries.head, 10) // warmup: JIT + cache touch
      var decoded = 0L
      var total = 0L
      val perQ = queries.map { q =>
        val terms = Text.tokenize(q).distinct.toSeq
        val nDocs = ix.stats.numDocs
        val avgdl = ix.stats.avgdl
        val plan = ix.dict.filter($"term".isin(terms: _*)).collect().map { e =>
          e.term -> InvertedIndex.idfUb(e.df, e.maxTf, e.minDl, nDocs, avgdl)
        }.toMap
        val byShard = ix.blocks.filter($"term".isin(terms: _*)).collect()
          .groupBy(_.shard).values.toSeq
          .map(bs => Searcher.pack(bs.iterator))
        val st = new Wand.SearchStats
        var top10 = List.empty[ScoredDoc]
        byShard.foreach { s =>
          top10 = (top10 ++ Wand.topK(s, plan, 10, avgdl, Wand.DocFilter.All, null, st))
            .sortBy(sd => (-sd.score, sd.docId)).take(10)
        }
        decoded += st.decodedBlocks
        total += st.totalBlocks
        // threshold query at τ = the global 10th score — the workload the
        // block-max machinery exists for; its skip ratio is the scale story
        val tau = top10.lastOption.map(_.score).getOrElse(0.0)
        val ts = new Wand.SearchStats
        byShard.foreach(Wand.threshold(_, plan, tau, avgdl, Wand.DocFilter.All, ts))
        val lat = (0 until 7).map { _ =>
          val s = System.nanoTime(); hot.search(q, 10); (System.nanoTime() - s) / 1e6
        }.sorted
        (q, st.decodedBlocks, st.totalBlocks, lat(3), ts.decodedBlocks, ts.totalBlocks)
      }
      hot.close()
      val thD = perQ.map(_._5).sum
      val thT = perQ.map(_._6).sum
      val qj = perQ.map { case (q, d, t, ms, td, tt) =>
        f""""$q":{"decoded":$d,"blocks":$t,"skip":${1.0 - d.toDouble / math.max(1, t)}%.3f,""" +
          f""""th_skip":${1.0 - td.toDouble / math.max(1, tt)}%.3f,"warm_ms":$ms%.1f}"""
      }.mkString("{", ",", "}")
      println(f"""{"docs":$n,"build_s":$buildS%.1f,"decoded":$decoded,""" +
        f""""candidate_blocks":$total,"skip_ratio":${1.0 - decoded.toDouble / math.max(1, total)}%.3f,""" +
        f""""threshold_skip_ratio":${1.0 - thD.toDouble / math.max(1, thT)}%.3f,""" +
        f""""queries":$qj}""")
      ix.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
