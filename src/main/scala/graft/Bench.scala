package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.WebCorpus

/** Driver-run benchmark: ONE short JSON line on stdout, and the evidence
  * file it names (see [[report]]), with
  *  - per-gate-query seconds at SPARK_GRAFT_SF_DIR (local[cpus]),
  *  - warm BM25 top-10 latency over the built index,
  *  - index-build throughput on the seeded synthetic corpus (written to
  *    parquet first — the corpus is a table at rest, per input_hint) at
  *    THREE parallelism levels, each in its own CPU-PINNED subprocess JVM
  *    (taskset bounds task slots, GC and memory alike — the faithful
  *    single-machine proxy for an N-executor cluster), and the N->4N
  *    scaling efficiencies for the 2->8 and 8->32 pairs — the sandbox
  *    evidence for the north rule's two-cluster-size criterion
  *    (BASELINE.md; the reference evidences its own claim the same
  *    single-machine way, jvector README.md:11 "linear to at least 32
  *    threads"). The 2- and 8-core builds run BACK-TO-BACK in each round
  *    so each round's ratio is measured inside one short host-noise
  *    window; the official n2_to_n8 is [[n2ToN8]] over those pairs, with
  *    every sample, floor, median, spread and per-phase decomposition
  *    riding in the evidence file.
  */
object Bench {

  private def session(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    IndexCli.session(cpus.toString, "ERROR")
  }

  private def timeS[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** The official 2->8 efficiency from the same-round pair ratios: the
    * median of the physically possible pairs (<= 1.0 — a 4x core count
    * cannot buy more than 4x throughput, so a larger ratio is a noise
    * artifact, never a measurement); with no valid pair, floor-of-floors;
    * None (printed `null`) when even that is impossible or undefined. */
  private[graft] def n2ToN8(pairs: Seq[Double], floorEff: Double): Option[Double] = {
    val ok = pairs.filter(_ <= 1.0).sorted
    if (ok.nonEmpty) {
      val m = ok.size / 2
      Some(if (ok.size % 2 == 1) ok(m) else (ok(m - 1) + ok(m)) / 2)
    } else Some(floorEff).filter(_ <= 1.0)
  }

  /** One parallelism level of the build-scaling phase: its tag ("c8"),
    * every build time in seconds, and the per-phase JSON of its fastest
    * build. */
  private[graft] final case class Level(tag: String, samples: Seq[Double], phasesAtFloor: String) {
    def floor: Double = if (samples.isEmpty) Double.NaN else samples.min
    def median: Double = if (samples.isEmpty) Double.NaN else samples.sorted.apply(samples.size / 2)
  }

  /** A JSON number with `digits` decimals, or `null` when `x` is not finite. */
  private def num(x: Double, digits: Int): String =
    if (x.isNaN || x.isInfinite) "null"
    else String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(x))

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Each gate query's seconds at 10x data over its seconds at sfDir; the
    * denominators clamp to 50 ms so fixed overheads on sub-100ms queries
    * don't read as scale blowups. */
  private[graft] def sf1Ratios(queryTimes: Seq[(String, Double)],
                               sf1Times: Seq[(String, Double)]): Seq[(String, Double)] = {
    val base = queryTimes.toMap
    sf1Times.map { case (k, v) => k -> (v / math.max(base.getOrElse(k, 0.05), 0.05)) }
  }

  /** The scaling evidence of each level: every sample, floor, median,
    * spread, and the floor run's per-phase wall times — enough to tell
    * host noise (spread >> 1, phases flat at the floor) from engine
    * serial fraction (a phase that refuses to shrink with cores). */
  private[graft] def scalingEvidence(rounds: Int, levels: Seq[Level]): String = {
    def perLevel(f: Level => String): String = obj(levels.map(l => l.tag -> f(l)))
    s""""rounds":$rounds,""" +
      s""""samples":${perLevel(_.samples.map(num(_, 1)).mkString("[", ",", "]"))},""" +
      s""""floor_secs":${perLevel(l => num(l.floor, 1))},""" +
      s""""median_secs":${perLevel(l => num(l.median, 1))},""" +
      s""""noise_spread":${perLevel(l => num(if (l.samples.isEmpty) Double.NaN else l.samples.max / l.floor, 2))},""" +
      s""""phases_at_floor":${perLevel(_.phasesAtFloor)}"""
  }

  /** The bench's result: one JSON line for stdout and the evidence JSON
    * for `evidencePath`. A log tail of 2,000 characters holds the line
    * whole: the per-query tables, every sample, the floor runs' phases
    * and the estimator's description go to the evidence file, and the
    * line keeps the totals, the slowest queries, the throughputs and
    * the scaling estimators. `levels` are the 2-, 8- and 32-core levels. */
  private[graft] def report(sfDir: String, queryTimes: Seq[(String, Double)],
                            sf1Times: Seq[(String, Double)], warmMs: Double, warmDfMs: Double,
                            warmAnnMs: Double, scaleDocs: Long, rounds: Int, levels: Seq[Level],
                            pairEff28: Seq[Double], evidencePath: String): (String, String) = {
    val Seq(t2, t8, t32) = levels.map(_.floor)
    val thr = (t: Double) => scaleDocs / t
    // 2->8 OFFICIAL estimator: the median of the valid same-round pairs —
    // a max over noisy ratios picks the noisiest one (BENCH_r05 published
    // an impossible 1.112). Floor-of-floors mixes windows, so it is only
    // the fallback.
    val floorEff28 = (thr(t8) / thr(t2)) / 4.0
    val eff28 = n2ToN8(pairEff28, floorEff28).map(num(_, 3)).getOrElse("null")
    val eff832 = (thr(t32) / thr(t8)) / 4.0
    def table(ts: Seq[(String, Double)], digits: Int) = obj(ts.map { case (k, v) => k -> num(v, digits) })
    val slowest =
      if (queryTimes.isEmpty) "null"
      else { val (k, v) = queryTimes.maxBy(_._2); s"""{"query":"$k","value":${num(v, 3)}}""" }
    val ratios = sf1Ratios(queryTimes, sf1Times)
    val sf1Line =
      if (sf1Times.isEmpty) ""
      else s""""sf1":{"total":${num(sf1Times.map(_._2).sum, 3)},""" +
        s""""max_ratio":${num(ratios.map(_._2).max, 2)},"max_ratio_query":"${ratios.maxBy(_._2)._1}"},"""
    val pairLine =
      if (pairEff28.isEmpty) s""""pairing":"none","""
      else s""""pairing":"adjacent_same_round",""" +
        s""""pair_eff_n2_to_n8":${pairEff28.map(num(_, 3)).mkString("[", ",", "]")},""" +
        s""""pair_eff_n2_to_n8_median":${num(pairEff28.sorted.apply(pairEff28.size / 2), 3)},""" +
        s""""floor_eff_n2_to_n8":${num(floorEff28, 3)},"""
    val line =
      s"""{"metric":"total","value":${num(queryTimes.map(_._2).sum, 3)},"unit":"sec",""" +
        s""""sf":"$sfDir","queries":${queryTimes.size},"slowest_query":$slowest,""" +
        sf1Line +
        s""""warm_query_ms":${num(warmMs, 1)},"warm_df_query_ms":${num(warmDfMs, 1)},""" +
        s""""warm_ann_ms":${num(warmAnnMs, 1)},""" +
        s""""build":{"docs":$scaleDocs,"pinned_jvm_per_level":true,""" +
        s""""throughput_docs_per_sec":{"local2":${num(thr(t2), 0)},"local8":${num(thr(t8), 0)},""" +
        s""""local32":${num(thr(t32), 0)}},""" +
        s""""scaling_efficiency":{"n2_to_n8":$eff28,"n8_to_n32":${num(eff832, 3)}},""" +
        pairLine +
        s""""rounds":$rounds,"floor_secs":${obj(levels.map(l => l.tag -> num(l.floor, 1)))}},""" +
        s""""evidence":"$evidencePath"}"""
    val evidence =
      s"""{"sf":"$sfDir","queries":${table(queryTimes, 3)},""" +
        (if (sf1Times.isEmpty) ""
         else s""""sf1":{"queries":${table(sf1Times, 3)},"ratio_vs_sf":${table(ratios, 2)}},""") +
        s""""estimator":"n2_to_n8 = median of the same-round pairs <= 1.0 (c2 and c8 back-to-back, """ +
        s"""one noise regime), else floor-of-floors, else null; n8_to_n32 = floor-of-floors (c32 """ +
        s"""needs all cores, single-box memory-bus caveat stands)",""" +
        s"""${scalingEvidence(rounds, levels)}}"""
    (line, evidence)
  }

  /** Spawn one pinned build JVM; returns (build seconds, per-phase JSON). */
  private def spawnBuild(cores: Int, corpus: String, indexDir: String,
                         tmpBase: String): (Double, String) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val hasTaskset = new java.io.File("/usr/bin/taskset").exists()
    val pin = if (hasTaskset) Seq("/usr/bin/taskset", "-c", s"0-${cores - 1}") else Seq.empty
    val cmd = pin ++ Seq(javaBin) ++ AddOpens ++ Seq(
      "-Xmx16g", "-XX:+UseParallelGC",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      // 8 chunks, all pipelined (+docs job): finer chunks overlap better
      // and shrink the straggler tail — measured faster at every level
      // (t2 140s / t8 38s / t32 22s on the 1.08M corpus) and a finer
      // resume granularity for free
      "-cp", cp, "graft.BenchBuildOne", corpus, indexDir, "8", "9")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CPUS", cores.toString)
    pb.environment().put("SPARK_LOCAL_DIRS", tmpBase)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    p.waitFor()
    out.reverse.collectFirst {
      case l if l.contains("buildSecs") =>
        "\"buildSecs\":([0-9.]+)".r.findFirstMatchIn(l).map { m =>
          val phases = "\"phases\":(\\{[^}]*\\})".r.findFirstMatchIn(l)
            .map(_.group(1)).getOrElse("{}")
          (m.group(1).toDouble, phases)
        }
    }.flatten.getOrElse {
      System.err.println(s"[bench] build at $cores cores failed:\n${out.takeRight(20).mkString("\n")}")
      (Double.NaN, "{}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val scaleDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "1080000").toLong
    // probe knobs (builder-side iteration only; the driver runs defaults)
    val scaleOnly = sys.env.contains("SPARK_GRAFT_SCALE_ONLY")
    val queriesOnly = sys.env.contains("SPARK_GRAFT_QUERIES_ONLY")
    val minRounds = sys.env.getOrElse("SPARK_GRAFT_MIN_ROUNDS", "5").toInt
    // cap raised 9 -> 12 in round 3: the host's noise amplitude grew to
    // ±40% on single rounds (BASELINE.md round-3 scaling notes) — the
    // adaptive >1%-improvement rule needs more headroom to find each
    // level's floor; it still stops early in quiet windows.
    val maxRounds = sys.env.getOrElse("SPARK_GRAFT_MAX_ROUNDS", "12").toInt

    // ---- phase 1: gate queries on sfDir ----
    val spark = session(cpus)
    var warmAnnMs = 0.0
    val (queryTimes, warmMs, warmDfMs) = if (scaleOnly) {
      (Seq.empty[(String, Double)], 0.0, 0.0)
    } else {
      Gate.index(spark, sfDir) // build once so per-query times are honest
      val qt = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t = timeS {
          try fn(spark, sfDir).count()
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); -1L }
        }
        name -> t
      }
      // warm query latency, both access paths:
      //  - serving path (HotIndex: pinned per-partition packed stores, one
      //    job per query through HotIndex.serve, no per-query planning) —
      //    the number a long-lived service sees;
      //  - DataFrame path (per-query Catalyst plan over the prepared cache)
      //    — the number a batch job sees per ad-hoc query.
      val ix = Gate.index(spark, sfDir)
      val hot = graft.index.HotIndex(ix)
      hot.search(Gate.Queries.head._2, 10) // warmup: JIT + cache touch
      val latHot = (0 until 9).map(i => timeS {
        hot.search(Gate.Queries(i % Gate.Queries.size)._2, 10)
      }).sorted
      val latDf = (0 until 7).map(i => timeS {
        ix.search(Gate.Queries(i % Gate.Queries.size)._2, 10).collect()
      }).sorted
      hot.close()
      // warm ANN serving latency (HotAnn — the vector twin of HotIndex):
      // cached per-cluster graphs + one probe-pruned job, production knobs
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val gAnn = graft.ops.Nsw.build(spark, emb, "vec_id", "embedding",
        graft.ops.Nsw.Params(m = 8, efConstruction = 32, kCenters = 8, iters = 2))
      val hotAnn = graft.ops.HotAnn(gAnn)
      val qvs = (0L to 3L).map(i => GateOps.queryVec(spark, sfDir, i))
      hotAnn.topK(qvs.head, 10, nProbe = 4, ef = 48) // warmup
      val latAnn = (0 until 9).map(i => timeS {
        hotAnn.topK(qvs((i % qvs.size).toInt), 10, nProbe = 4, ef = 48)
      }).sorted
      hotAnn.close()
      gAnn.unpersist()
      warmAnnMs = latAnn(latAnn.size / 2) * 1000
      (qt, latHot(latHot.size / 2) * 1000, latDf(latDf.size / 2) * 1000)
    }
    if (queriesOnly) { // sf-escalation probe: phase 1 only, raw JSON line
      val qs0 = queryTimes.map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString("{", ",", "}")
      println(f"""{"sf":"$sfDir","total":${queryTimes.map(_._2).sum}%.3f,"""
        + f""""queries":$qs0,"warm_query_ms":$warmMs%.1f}""")
      spark.stop()
      return
    }

    val shm = new java.io.File("/dev/shm")
    val tmpBase = if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-bench"); d.mkdirs(); d.toString
    } else java.nio.file.Files.createTempDirectory("graft-bench").toString

    // ---- phase 1b: standing sf1 escalation gate (judge r3 #10) ----
    // every round re-runs EVERY gate query at 10x the sfDir data
    // (Sf1Gen's deterministic workload-shape-preserving replication) and
    // records the per-query ratio table in the bench JSON itself — a
    // query whose cost blows past ~linear in data is a scale regression
    // the round's own BENCH file surfaces (this is how round 3 caught the
    // 53x dedup_embed blowup).
    val sf1Times: Seq[(String, Double)] =
      if (scaleOnly || sys.env.contains("SPARK_GRAFT_SKIP_SF1")) Seq.empty
      else {
        val sf1Dir = s"$tmpBase/sf1"
        Sf1Gen.generate(spark, sfDir, sf1Dir)
        Gate.index(spark, sf1Dir) // build once, like phase 1
        SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          val t = timeS {
            try fn(spark, sf1Dir).count()
            catch { case e: Throwable => System.err.println(s"[bench] sf1 $name: $e"); -1L }
          }
          System.err.println(f"[bench] sf1 $name: $t%.2f s")
          name -> t
        }
      }

    // ---- phase 2: materialize the bench corpus as a table at rest ----
    val corpusPath = s"$tmpBase/corpus"
    WebCorpus.generate(spark, scaleDocs, partitions = 128)
      .write.mode("overwrite").parquet(corpusPath)
    spark.stop()

    // ---- phase 3: pinned-subprocess build scaling ----
    def dir(tag: String): String = {
      val d = s"$tmpBase/ix-$tag"
      org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
      scala.reflect.io.Path(d).deleteRecursively()
      d
    }
    // PAIRED-ROUND design (round-5; the round-4 verdict's prescribed
    // estimator made structural): each round runs the 2- and 8-core
    // builds BACK-TO-BACK (adjacent in time, so both sit inside the same
    // few-minute host-noise regime) and records that round's t2/(4*t8) as
    // one pair sample; the official n2_to_n8 is [[n2ToN8]] of the pairs.
    // Four rounds of sequential-interleaved evidence showed why: identical
    // code measured 0.585-0.789 official (floor-of-floors across DIFFERENT
    // windows) while same-window probes measured 0.89 — the cross-window
    // ratio was a lottery over which level's turn hit the noisy minutes.
    // A truly-concurrent variant (c2 and c8 on disjoint pinned cores, one
    // literal window) was measured and REJECTED with data, kept in
    // tools/pair_concurrent_r5.txt: sharing the box taxes the 8-core
    // build ~12% (memory bandwidth/LLC: c8 floor 51.9 s concurrent vs
    // 46.2 s alone) and within-window noise is itself asymmetric across
    // core sets (pairs 0.58-0.95 in one run) — the tax turns the
    // estimator pessimistic, the asymmetry keeps the variance. Adjacent
    // sequential pairs have neither. c32 runs alone every other round;
    // its 8->32 ratio keeps the floor-of-floors estimator and the
    // documented single-box caveat (one memory bus/GC/FS).
    // Rounds remain adaptive and level-symmetric: at least minRounds,
    // then keep adding whole rounds while any level's floor still moves
    // >1% or any level's median/floor dispersion exceeds 1.2.
    val levels = sys.env.get("SPARK_GRAFT_LEVELS")
      .map(_.split(",").toSeq.map(s => (s.trim.toInt, s"c${s.trim}")))
      .getOrElse(Seq((2, "c2"), (8, "c8"), (32, "c32")))
    val paired = levels.size == 3 &&
      levels(0)._1 + levels(1)._1 <= cpus &&
      !sys.env.contains("SPARK_GRAFT_NO_PAIR")
    val mins = Array.fill(levels.size)(Double.PositiveInfinity)
    val samples = Array.fill(levels.size)(scala.collection.mutable.ArrayBuffer.empty[Double])
    val floorPhases = Array.fill(levels.size)("{}")
    // per-round SAME-WINDOW pair ratios (the official 2->8 estimator is
    // the median of the valid ones — both measurements inside one window)
    val pairEff28 = scala.collection.mutable.ArrayBuffer.empty[Double]
    // wall budget for this phase: the host's noisy periods last minutes,
    // so a noisy window needs MORE rounds to see the quiet floor at every
    // level — but the driver's run must still terminate. Default 35 min.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2100").toInt
    val phaseT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - phaseT0) / 1e9
    def dispersionHigh: Boolean = samples.exists { s =>
      val ok = s.filter(t => !t.isNaN).sorted
      ok.nonEmpty && ok(ok.size / 2) / ok.head > 1.2
    }
    var round = 0
    var improved = true
    while (round < minRounds ||
           (round < maxRounds && (improved || dispersionHigh) && elapsedS < budgetS)) {
      improved = false
      def record(i: Int, cores: Int, t: Double, ph: String): Unit = {
        if (!t.isNaN) samples(i) += t
        if (t < mins(i) * 0.99) improved = true
        if (t < mins(i)) { mins(i) = t; floorPhases(i) = ph }
        System.err.println(f"[bench] round $round c$cores: $t%.1f s (floor ${mins(i)}%.1f)")
      }
      if (paired) {
        val (c2cores, tag2) = levels(0)
        val (c8cores, tag8) = levels(1)
        val (t2r, ph2) = spawnBuild(c2cores, corpusPath, dir(tag2), tmpBase)
        val (t8r, ph8) = spawnBuild(c8cores, corpusPath, dir(tag8), tmpBase)
        record(0, c2cores, t2r, ph2)
        record(1, c8cores, t8r, ph8)
        if (!t2r.isNaN && !t8r.isNaN) {
          val eff = (t2r / t8r) * c2cores / c8cores
          pairEff28 += eff
          System.err.println(f"[bench] round $round adjacent-pair eff(2->8) = $eff%.3f")
        }
        // c32 every other round: its estimator is floor-based and
        // converges on half the samples; the saved wall buys more pair
        // lottery tickets inside the phase budget
        if (round % 2 == 0) {
          val (c32cores, tag32) = levels(2)
          val (t32r, ph32) = spawnBuild(c32cores, corpusPath, dir(tag32), tmpBase)
          record(2, c32cores, t32r, ph32)
        }
      } else {
        levels.zipWithIndex.foreach { case ((cores, tag), i) =>
          val (t, ph) = spawnBuild(cores, corpusPath, dir(tag), tmpBase)
          record(i, cores, t, ph)
        }
      }
      round += 1
    }
    // free the tmpfs working set (corpus + throwaway indexes)
    scala.reflect.io.Path(tmpBase).deleteRecursively()
    val levelEvidence = levels.zipWithIndex.map { case ((_, tag), i) =>
      Level(tag, samples(i).toSeq, floorPhases(i))
    }
    if (levels.size != 3) { // probe mode: raw floors + evidence only
      println(s"{${scalingEvidence(round, levelEvidence)}}")
      return
    }
    val evidenceFile = new java.io.File("target/graft-bench",
      s"evidence-${System.currentTimeMillis()}.json").getAbsoluteFile
    val (line, evidence) = report(sfDir, queryTimes, sf1Times, warmMs, warmDfMs, warmAnnMs,
      scaleDocs, round, levelEvidence, pairEff28.toSeq, evidenceFile.toString)
    evidenceFile.getParentFile.mkdirs()
    java.nio.file.Files.write(evidenceFile.toPath,
      evidence.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    // standing sf1 gate, enforced IN-PROCESS (round-4 verdict #10): a
    // future scale-killer (any gate query whose 10x-data cost blows past
    // ~linear) fails the bench run itself, loudly, after the evidence
    // JSON is already on stdout for the post-mortem.
    if (sf1Times.nonEmpty) {
      val worst = sf1Ratios(queryTimes, sf1Times).maxBy(_._2)
      if (worst._2 >= 10.0) {
        System.err.println(f"[bench] SCALE GATE FAILED: ${worst._1} ran " +
          f"${worst._2}%.1fx slower at 10x data (bar < 10x) — super-linear " +
          "cost growth; see the sf1 ratio table in the evidence file named above")
        sys.exit(1)
      }
    }
  }
}
