package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Metric names, units and the one-line meaning each has in every
  * workload. A workload must set every name; a name it leaves unset is a
  * benchmark bug and fails the run. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ok_frac" -> "ratio",
    "build_docs_per_s" -> "docs/s", "build_docs_per_s_1core" -> "docs/s",
    "build_scaling_eff" -> "ratio", "index_bytes_per_text_byte" -> "ratio",
    "fresh_s" -> "s", "query_p50_ms" -> "ms", "query_p99_ms" -> "ms",
    "batch_qps" -> "queries/s", "df_query_p50_ms" -> "ms",
    "recall_at_10" -> "ratio", "serve_mem_mb" -> "MB")

  private val buildPhases = Seq("sort_count_s", "chunk_write_s", "chunk_write_max_s",
    "dict_s", "docs_write_s", "total_s")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.termfreqs_ms" -> "ms", "core.decode_ms" -> "ms") ++
    buildPhases.map(p => s"index.build.$p" -> "s") ++
    buildPhases.map(p => s"index.build.${p}_1core" -> "s") ++
    Seq("index.build.postings" -> "count", "index.build.blocks" -> "count",
      "index.build.bytes" -> "bytes",
      "streaming.append_s" -> "s", "streaming.refresh_s" -> "s", "index.hot.pin_s" -> "s",
      "index.query.plan_ms" -> "ms", "index.query.wand_ms" -> "ms",
      "index.query.wand_max_shard_ms" -> "ms",
      "index.query.blocks_decoded" -> "count", "index.query.blocks_total" -> "count",
      "index.query.decode_ratio" -> "ratio", "index.query.decode_ratio_head" -> "ratio",
      "index.query.decode_ratio_tail" -> "ratio",
      "index.df.plan_ms" -> "ms", "index.df.exec_ms" -> "ms", "index.df.input_bytes" -> "bytes",
      "ops.ann.visited" -> "count", "ops.ann.append_s" -> "s", "ops.ann.repin_s" -> "s",
      "ops.ann.delete_s" -> "s", "ops.ann.compact_s" -> "s", "ops.ann.build_s" -> "s",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
      "spark.task_cpu_s" -> "s", "spark.sched_delay_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes", "spark.tasks_per_query" -> "count",
      "spark.sched_delay_ms_per_query" -> "ms", "spark.build_cpu_util" -> "ratio",
      "trace.overhead_frac" -> "ratio")

  /** Per-layer names of the layers a workload never calls: they read 0. */
  val Bm25Layers: Seq[String] = PerLayer.map(_._1).filter(n =>
    n.startsWith("core.") || n.startsWith("index.") || n.startsWith("streaming."))
  val AnnLayers: Seq[String] = PerLayer.map(_._1).filter(_.startsWith("ops.ann."))
}

/** Per operation type: attempts, operations that failed in the end, and
  * operations whose first try returned a wrong result but succeeded when
  * the client retried another way. */
final class OpStat {
  var attempted = 0L
  var failed = 0L
  var wrongFirstTry = 0L
  val reasons = mutable.ArrayBuffer[String]()
}

/** State of one benchmark run: the Spark session, the tracer and
  * everything the run reports. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val tracer: Tracer, val work: String, val tiny: Boolean) {
  val nproc: Int = Runtime.getRuntime.availableProcessors
  private val started = System.nanoTime()

  /** Progress line on stderr, with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $workload: $msg")

  private var current: SparkSession = null
  private var currentCores = 0
  def spark: SparkSession = current
  def cores: Int = currentCores

  /** (Re)start the in-process Spark runtime at `local[cores]`. */
  def session(cores: Int): SparkSession = {
    stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    current = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    currentCores = cores
    tracer.attach(current.sparkContext)
    current
  }

  /** Stop the runtime; a stop slower than a second is logged. */
  def stop(): Unit = if (current != null) {
    val t0 = System.nanoTime()
    current.stop()
    current = null
    val secs = (System.nanoTime() - t0) / 1e9
    if (secs > 1) log(f"Spark stop took $secs%.1f s")
  }

  val e2e = mutable.LinkedHashMap[String, Option[Double]]()
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Why an end-to-end value is null (an estimator that cannot be trusted). */
  val nullReasons = mutable.LinkedHashMap[String, String]()
  val samples = mutable.LinkedHashMap[String, Seq[Double]]()
  val inputs = mutable.LinkedHashMap[String, Any]()
  val hashes = mutable.LinkedHashMap[String, String]()
  val notes = mutable.LinkedHashMap[String, Any]()
  val ops = mutable.LinkedHashMap[String, OpStat]()

  def op(name: String): OpStat = ops.getOrElseUpdate(name, new OpStat)

  /** Count one attempt of `name`; `f` returns None when the result was
    * right, or the reason it was wrong. Exceptions count as failures. */
  def attempt(name: String)(f: => Option[String]): Boolean = {
    val s = op(name)
    s.attempted += 1
    val why = try f catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    why.foreach { w => s.failed += 1; if (s.reasons.size < 5) s.reasons += w }
    why.isEmpty
  }

  def setE2e(name: String, v: Double): Unit = e2e(name) = Some(v)
  def setLayer(name: String, v: Double): Unit = layer(name) = v

  /** Record a latency sample set and return it. */
  def sample(name: String, xs: Seq[Double]): Seq[Double] = { samples(name) = xs; xs }

  def attempted: Long = ops.values.map(_.attempted).sum
  def failed: Long = ops.values.map(_.failed).sum
  def correct: Boolean = attempted > 0 && failed == 0

  /** Share of operations whose first result was right. */
  def okFrac: Double = {
    val a = attempted
    if (a == 0) Double.NaN
    else (a - failed - ops.values.map(_.wrongFirstTry).sum).toDouble / a
  }
}
