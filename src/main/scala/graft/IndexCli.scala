package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.WebCorpus
import graft.index._

/** spark-submit entry point — the engine's user-facing service surface,
  * mirroring the reference's IPC command set (jvector
  * jvector-examples/.../IPCService.java:84-97: CREATE/WRITE/BULKLOAD/
  * OPTIMIZE/SEARCH/MEMORY) as batch subcommands:
  *
  *   build <inputParquetOrSynth:N> <indexDir> [chunks]   (BULKLOAD)
  *   query <indexDir> <k> <query terms...>               (SEARCH)
  *   serve <indexDir> [k]                                (SEARCH loop)
  *   compact <indexDir> <outDir> <tombstoneCsv>          (OPTIMIZE)
  *   stats <indexDir>                                    (MEMORY)
  *   explain <indexDir> <query terms...>                 (plan audit)
  *   bench <N> [see Bench.scala for the driver-run harness]
  *
  * Input is either a parquet path with (url, text|html, lang) columns or
  * `synth:N` for the seeded deterministic corpus.
  */
object IndexCli {

  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-index")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // see BenchBuildOne: v2 committer is safe under the snapshot catalog
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    args(0) match {
      case "build" =>
        if (args.length < 3) { usage(); sys.exit(2) }
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        val input = args(1)
        val dir = args(2)
        val chunks = if (args.length > 3) args(3).toInt else 8
        val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "128").toInt
        val corpus =
          if (input.startsWith("synth:"))
            WebCorpus.generate(spark, input.stripPrefix("synth:").toLong, partitions = parts)
          else spark.read.parquet(input)
        val t0 = System.nanoTime()
        val ix = ResumableBuild.build(spark, corpus, dir,
          IndexBuilder.Options(numShards = 32, rangePartitions = parts,
            quantizedBounds = sys.env.contains("SPARK_GRAFT_QUANTIZED"),
            // "length" = score-clustered docId layout (WAND skip; BASELINE.md)
            docOrder = sys.env.getOrElse("SPARK_GRAFT_DOC_ORDER", "url")),
          numChunks = chunks,
          assumeSorted = sys.env.contains("SPARK_GRAFT_ASSUME_SORTED"),
          parallelChunks = sys.env.getOrElse("SPARK_GRAFT_PAR_CHUNKS", "1").toInt)
        val secs = (System.nanoTime() - t0) / 1e9
        val manifest = ResumableBuild.readManifest(spark, dir)
        println(f"built ${ix.stats.numDocs} docs, ${ix.stats.totalTokens} tokens " +
          f"in $secs%.1f s (${ix.stats.numDocs / secs}%.0f docs/s)")
        manifest.foreach(m => println(
          f"  chunk ${m.chunk}: ${m.docs} docs ${m.postings} postings " +
          f"${m.blocks} blocks ${m.bytes} bytes ${m.elapsedMs} ms ${m.docsPerSec}%.0f docs/s"))
        spark.stop()

      case "query" =>
        if (args.length < 4) { usage(); sys.exit(2) }
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        val ix = InvertedIndex.load(spark, args(1))
        val k = args(2).toInt
        val q = args.drop(3).mkString(" ")
        val t0 = System.nanoTime()
        val hits = ix.search(q, k).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"query '$q' top-$k in $ms%.0f ms:")
        import spark.implicits._
        val urls = ix.docs.filter($"docId".isin(hits.map(_.getLong(0)).toSeq: _*))
          .select($"docId", $"url").as[(Long, String)].collect().toMap
        hits.zipWithIndex.foreach { case (r, i) =>
          println(f"  ${i + 1}%2d. doc=${r.getLong(0)} score=${r.getDouble(1)}%.4f ${urls.getOrElse(r.getLong(0), "?")}")
        }
        spark.stop()

      case "compact" =>
        if (args.length < 4) { usage(); sys.exit(2) }
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        import spark.implicits._
        val ix = InvertedIndex.load(spark, args(1))
        val dead = args(3).split(",").filter(_.nonEmpty).map(_.toLong)
        val compacted = ix.compact(spark.createDataset(dead.toSeq))
        compacted.save(args(2))
        println(s"compacted: ${ix.stats.numDocs} -> ${compacted.stats.numDocs} docs at ${args(2)}")
        spark.stop()

      case "snapshots" =>
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        val cur = SegmentCatalog.currentVersion(spark, args(1)).getOrElse(-1L)
        SegmentCatalog.listSnapshots(spark, args(1)).foreach { s =>
          val mark = if (s.version == cur) "*" else " "
          println(f"$mark v${s.version}%-3d ${s.op}%-8s docs=${s.stats.numDocs}%-10d " +
            f"blocks=${s.blockChunks.size} chunks dict=v${s.dictVersion} ts=${s.tsMs}")
        }
        spark.stop()

      case "expire" =>
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        val keep = if (args.length > 2) args(2).toInt else 1
        SegmentCatalog.expireSnapshots(spark, args(1), keep)
        println(s"retained ${SegmentCatalog.listSnapshots(spark, args(1)).size} snapshot(s)")
        spark.stop()

      case "gc" =>
        // remove_orphan_files analog: chunks no snapshot references at all
        // (crashed writers), with an age guard for in-flight builds
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        val graceMs = if (args.length > 2) args(2).toLong else 86400000L
        val r = SegmentCatalog.removeOrphans(spark, args(1), graceMs)
        // crashed ANN artifact saves (NSW/PQ/IVF payload dirs whose
        // commit-marker metadata never published) under the same root
        val art = SegmentCatalog.gcArtifacts(spark, args(1), graceMs)
        if (r.isEmpty && art.isEmpty) println("no orphans")
        else println(s"removed orphans: blocks=${r.blockChunks.mkString(",")} " +
          s"docs=${r.docChunks.mkString(",")} dicts=${r.dictVersions.mkString(",")} " +
          s"artifacts=${art.mkString(",")}")
        spark.stop()

      case "stats" =>
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        val ix = InvertedIndex.load(spark, args(1))
        val manifest = ResumableBuild.readManifest(spark, args(1))
        println(s"docs=${ix.stats.numDocs} tokens=${ix.stats.totalTokens} " +
          f"avgdl=${ix.stats.avgdl}%.2f shards=${ix.stats.numShards} " +
          s"terms=${ix.dict.count()} blocks=${ix.blocks.count()}")
        manifest.foreach(m => println(
          s"  chunk ${m.chunk}: status=${m.status} docs=${m.docs} bytes=${m.bytes} " +
          s"metaBytes=${m.metaBytes}"))
        spark.stop()

      case "serve" =>
        // long-lived serving loop (jvector IPCService.java:325-368 analog):
        // prepare once (shard-co-located cached blocks + driver hot dict),
        // then answer queries from stdin with no per-query planning job.
        if (args.length < 2) { usage(); sys.exit(2) }
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        val k = if (args.length > 2) args(2).toInt else 10
        val hot = HotIndex(InvertedIndex.load(spark, args(1)))
        hot.search("warmup", 1) // touch the cache + JIT the kernel
        println(s"ready: ${hot.stats.numDocs} docs, k=$k (query per line; " +
          "prefixes: ':t <tau> q...' threshold, ':a <score> <docId> q...' " +
          "next page, ':d id,id q...' deny set; empty line or EOF quits)")
        val in = scala.io.Source.stdin.getLines()
        var go = true
        while (go && in.hasNext) {
          val line = in.next().trim
          if (line.isEmpty) go = false
          else {
            val t0 = System.nanoTime()
            val hits = line.split("\\s+").toList match {
              case ":t" :: tau :: rest =>
                hot.searchThreshold(rest.mkString(" "), tau.toDouble)
              case ":a" :: s :: d :: rest =>
                hot.searchAfter(rest.mkString(" "), k, s.toDouble, d.toLong)
              case ":d" :: ids :: rest =>
                hot.search(rest.mkString(" "), k,
                  deny = ids.split(",").filter(_.nonEmpty).map(_.toLong))
              case _ => hot.search(line, k)
            }
            val ms = (System.nanoTime() - t0) / 1e6
            println(f"[$ms%.1f ms] " + hits.map(sd =>
              f"${sd.docId}:${sd.score}%.3f").mkString(" "))
          }
        }
        spark.stop()

      case "annserve" =>
        // vector serving loop — the direct analog of the reference's IPC
        // service protocol (jvector IPCService.java:84-97,107-230: SEARCH
        // plus the WRITE/DELETE/OPTIMIZE mutation commands over a resident
        // graph): load a saved NSW graph once, pin per-cluster arrays hot
        // (HotAnn), answer searches from the cache (~10 ms warm) and apply
        // mutations with a durable write + cache refresh.
        if (args.length < 2) { usage(); sys.exit(2) }
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        val kAnn = if (args.length > 2) args(2).toInt else 10
        annServeLoop(spark, args(1), kAnn,
          scala.io.Source.stdin.getLines(), println(_))
        spark.stop()

      case "explain" =>
        // plan audit: show that the candidate-block scan prunes by bucket
        // partition + term pushdown before anything shuffles
        if (args.length < 3) { usage(); sys.exit(2) }
        val spark = session(cpus)
        spark.sparkContext.setLogLevel("WARN")
        val ix = InvertedIndex.load(spark, args(1))
        val q = args.drop(2).mkString(" ")
        println("=== search plan ===")
        ix.search(q, 10).explain("formatted")
        spark.stop()

      case other =>
        System.err.println(s"unknown subcommand: $other")
        usage(); sys.exit(2)
    }
  }

  /** The annserve command loop, factored off stdin so the serve protocol
    * is testable end-to-end (EngineSpec drives it with scripted lines).
    *
    * Protocol (one command per line; reference IPCService.java:84-97):
    *   v1,v2,...                    SEARCH (default knobs)
    *   :p <nProbe> <ef> v1,v2,...   SEARCH with explicit knobs
    *   :t <tau> v1,v2,...           THRESHOLD — all keys with sim >= tau
    *                                (HotAnn.threshold, default probes)
    *   :a <sim> <key> v1,v2,...     NEXT PAGE — top-k strictly after the
    *                                (sim, key) cursor (HotAnn.searchAfter)
    *   :w <key> v1,v2,...           WRITE — append one vector (durable:
    *                                touched cluster partitions + meta)
    *   :del <key>[,<key>...]        DELETE — tombstone keys (meta only)
    *   :opt                         OPTIMIZE — compact tombstones away,
    *                                re-attach PQ codes if the graph was
    *                                fused, full durable save (a no-op
    *                                when there is nothing to purge)
    *   (empty line / EOF)           quit
    *
    * A line that fails (malformed key or vector, bad arity) answers
    * `ERROR <reason>` and the loop goes on; the pinned cache is released
    * however the loop ends.
    *
    * Refresh protocol: a WRITE or OPTIMIZE changes cluster contents, so
    * the per-cluster serving cache rebuilds (close + re-pin); DELETE only
    * changes the deny set, so the cache is REUSED via HotAnn.withDeleted
    * (O(1) — same pinned arrays, new filter). Searches between commands
    * always see the latest committed state. */
  private[graft] def annServeLoop(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, kAnn: Int,
                                  in: Iterator[String],
                                  out: String => Unit): Unit = {
    import graft.ops.{HotAnn, Nsw, Pq}
    var g = Nsw.load(spark, dir)
    // remember the fused model (if any) so OPTIMIZE can re-attach after
    // compact (append/compact drop codes by contract)
    val fusedModel: Option[Pq.Model] = g.pq
    var hot = HotAnn(g)
    out(s"ready: ${g.centroids.length} clusters, k=$kAnn " +
      "(SEARCH 'v1,v2,...' | ':p <nProbe> <ef> v...' | ':t <tau> v...' " +
      "threshold | ':a <sim> <key> v...' next page | WRITE ':w <key> v...' " +
      "| DELETE ':del k,k' | OPTIMIZE ':opt'; empty line or EOF quits)")
    val dim = g.centroids.head.length
    def parseVec(s: String): Seq[Float] = {
      val v = s.split(",").filter(_.nonEmpty).map(_.toFloat).toSeq
      require(v.length == dim, s"vector has ${v.length} dims, the graph $dim")
      v
    }
    var go = true
    try while (go && in.hasNext) {
      val line = in.next().trim
      if (line.isEmpty) go = false
      else try {
        val t0 = System.nanoTime()
        def ms = (System.nanoTime() - t0) / 1e6
        line.split("\\s+").toList match {
          case ":w" :: key :: rest =>
            import spark.implicits._
            val batch = Seq((key.toLong, parseVec(rest.mkString)))
              .toDF("key", "v")
            val (next, touched) = Nsw.appendTouched(spark, g, batch, "key", "v")
            Nsw.saveTouched(spark, next, dir, touched)
            g = next
            hot.close()
            hot = HotAnn(g) // membership changed: re-pin touched arrays
            out(f"[$ms%.1f ms] WROTE $key (clusters ${touched.mkString(",")})")
          case ":t" :: tau :: rest =>
            val hits = hot.threshold(parseVec(rest.mkString), tau.toDouble,
              nProbe = math.min(4, g.centroids.length))
            out(f"[$ms%.1f ms] " + hits.map { case (key, s) =>
              f"$key:$s%.4f" }.mkString(" "))
          case ":a" :: sim :: key :: rest =>
            val hits = hot.searchAfter(parseVec(rest.mkString), kAnn,
              (sim.toDouble, key.toLong),
              nProbe = math.min(4, g.centroids.length), ef = 48)
            out(f"[$ms%.1f ms] " + hits.map { case (k2, s) =>
              f"$k2:$s%.4f" }.mkString(" "))
          case ":del" :: ids :: Nil =>
            g = Nsw.delete(g, ids.split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
            Nsw.saveTouched(spark, g, dir, Set.empty) // meta-only publish
            hot = hot.withDeleted(g.deleted.toSet) // O(1): same pinned arrays
            out(f"[$ms%.1f ms] DELETED (${g.deleted.length} live tombstones)")
          case ":opt" :: Nil =>
            val compacted = Nsw.compact(spark, g)
            // nothing purged: the dir already holds this graph (and a
            // loaded/appended graph's plan reads it — never save onto it)
            if (compacted ne g) {
              val next0 = fusedModel.fold(compacted)(Nsw.attachPqWith(spark, compacted, _))
              // sever lineage before overwriting the dir the plan reads
              // (same hazard saveTouched guards; full save here)
              val next = next0.copy(adj = next0.adj.localCheckpoint(true))
              next0.adj.unpersist()
              Nsw.save(spark, next, dir)
              g = next
              hot.close()
              hot = HotAnn(g)
            }
            out(f"[$ms%.1f ms] OPTIMIZED (${g.adj.count()} nodes, " +
              s"${g.deleted.length} tombstones)")
          case cmd =>
            val (nProbe, ef, vecStr) = cmd match {
              case ":p" :: np :: e :: rest => (np.toInt, e.toInt, rest.mkString)
              case _ => (math.min(4, g.centroids.length), 48, line)
            }
            val hits = hot.topK(parseVec(vecStr), kAnn, nProbe, ef)
            out(f"[$ms%.1f ms] " + hits.map { case (key, s) =>
              f"$key:$s%.4f" }.mkString(" "))
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          out(s"ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    } finally hot.close()
  }

  private def usage(): Unit = System.err.println(
    """usage: IndexCli <subcommand>
      |  build <parquetPath|synth:N> <indexDir> [numChunks]
      |  query <indexDir> <k> <term> [term...]
      |  serve <indexDir> [k]            (interactive: one query per line)
      |  compact <indexDir> <outDir> <docId,docId,...>   (outDir == indexDir: snapshot swap)
      |  stats <indexDir>
      |  snapshots <indexDir>
      |  expire <indexDir> [keepLast]
      |  gc <indexDir> [graceMs]         (delete chunks/artifacts nothing references)
      |  annserve <graphDir> [k]         (interactive vector service: SEARCH lines,
      |                                   ':w <key> v,v,..' write, ':del k,k' delete,
      |                                   ':opt' compact+refresh — IPC-service parity)
      |  explain <indexDir> <term> [term...]""".stripMargin)
}
