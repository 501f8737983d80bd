package graftbench

/** Estimators and trace summaries shared by the workloads. */
object Report {

  /** N→4N efficiency from same-run medians: docs/s at local[nproc] over
    * nproc × docs/s at local[1]. A value above 1.0 is physically
    * impossible for this build and a missing level leaves nothing to
    * compare; either prints null with the reason, never a number. */
  def scalingEff(run: Run, atN: Double, at1: Double): Unit = {
    val eff = atN / (run.nproc * at1)
    if (atN.isNaN || at1.isNaN)
      nullWith(run, "build_scaling_eff", "a parallelism level has no warm build")
    else if (eff > 1.0)
      nullWith(run, "build_scaling_eff",
        s"estimate $eff above 1.0 (local[${run.nproc}] $atN docs/s, local[1] $at1 docs/s)")
    else run.setE2e("build_scaling_eff", eff)
  }

  /** Medians of consecutive blocks of 100 reads: drift inside the window. */
  def blockMedians(xs: Seq[Double]): Seq[Double] = xs.grouped(100).map(Stats.median).toSeq

  /** Storage memory of the cached RDDs, in MB. The figure comes from the
    * status store, which a listener fills asynchronously, so it is read
    * until it stops changing. */
  def storageMb(run: Run): Double = {
    def read() = run.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    var prev = -1L
    var cur = read()
    var tries = 0
    while (cur != prev && tries < 25) {
      Thread.sleep(200)
      prev = cur
      cur = read()
      tries += 1
    }
    cur / 1048576.0
  }

  /** Bytes of the regular files under `path`, checksum files excluded. */
  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f) &&
          !f.getFileName.toString.endsWith(".crc")).map(f => java.nio.file.Files.size(f)).sum
      } finally s.close()
    }
  }

  def nullWith(run: Run, name: String, reason: String): Unit = {
    run.e2e(name) = None
    run.nullReasons(name) = reason
  }

  /** Spark task counters over the whole run, per query and per build, and
    * the tracing overhead: the traced run alternates recorded and
    * unrecorded reads, and the overhead is the relative difference of
    * their medians. */
  def traceLayers(run: Run, queryOp: String, buildOp: String,
                  traced: Seq[Double], untraced: Seq[Double]): Unit = {
    val tr = run.tracer
    val tot = new SparkCounters
    tr.all.filter(_.parent == 0).foreach(s => tot.add(tr.sparkTotal(s)))
    run.setLayer("spark.jobs", tot.jobs.toDouble)
    run.setLayer("spark.tasks", tot.tasks.toDouble)
    run.setLayer("spark.task_run_s", tot.runMs / 1e3)
    run.setLayer("spark.task_cpu_s", tot.cpuNs / 1e9)
    run.setLayer("spark.sched_delay_s", tot.schedDelayMs / 1e3)
    run.setLayer("spark.gc_s", tot.gcMs / 1e3)
    run.setLayer("spark.shuffle_write_bytes", tot.shuffleWriteBytes.toDouble)
    run.setLayer("spark.output_bytes", tot.outputBytes.toDouble)
    run.setLayer("spark.input_bytes", tot.inputBytes.toDouble)
    val perQuery = tr.named(queryOp).map(tr.sparkTotal)
    run.setLayer("spark.tasks_per_query", Stats.median(perQuery.map(_.tasks.toDouble)))
    run.setLayer("spark.sched_delay_ms_per_query", Stats.median(perQuery.map(_.schedDelayMs.toDouble)))
    // task CPU against wall time × slots, over the warm local[nproc] builds
    val builds = tr.named(buildOp).drop(1)
    run.setLayer("spark.build_cpu_util", Stats.median(builds.map(s =>
      tr.sparkTotal(s).cpuNs / 1e9 / (s.ms / 1e3 * run.nproc))))
    val base = Stats.median(untraced)
    run.setLayer("trace.overhead_frac", (Stats.median(traced) - base) / base)
  }
}
