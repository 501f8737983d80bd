package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerTaskEnd}

/** Spark task counters summed over the tasks of the jobs one span submitted. */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var inputBytes = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; outputBytes += o.outputBytes
    inputBytes += o.inputBytes
  }
}

/** One timed call into a layer: `parent` is the span that was open when it
  * started (0 = none); spans of one request share `req`. */
final class Span(val id: Long, val parent: Long, val name: String, val req: Long,
                 val startNs: Long) {
  var endNs = 0L
  val spark = new SparkCounters
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the single client thread, plus a Spark
  * listener that attributes each job's task metrics to the span that
  * submitted it (through a job-local property, which Spark copies into the
  * threads a call spawns). Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val PropKey = "graftbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private var open: List[Span] = Nil
  private var nextId = 1L
  private var sc: SparkContext = null
  /** Toggled by the overhead probe: when off, spans are not recorded. */
  @volatile var recording = true

  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted += 1
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageSpan.put(s, id))
      Option(byId.get(id)).foreach(s => s.spark.synchronized { s.spark.jobs += 1 })
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = byId.get(stageSpan.getOrDefault(e.stageId, 0L))
      if (span != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        val info = e.taskInfo
        val c = span.spark
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.outputBytes += m.outputMetrics.bytesWritten
          c.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  /** Attach to a (new) SparkContext; call after every session restart. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    sc.addSparkListener(listener)
    open.headOption.foreach(s => sc.setLocalProperty(PropKey, s.id.toString))
  }

  private var currentReq = 0L
  def request[A](req: Long)(f: => A): A = {
    val prev = currentReq
    currentReq = req
    try f finally currentReq = prev
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled || !recording) f
    else {
      val s = new Span(nextId, open.headOption.map(_.id).getOrElse(0L), name,
        currentReq, System.nanoTime())
      nextId += 1
      spans += s
      byId.put(s.id, s)
      open = s :: open
      if (sc != null) sc.setLocalProperty(PropKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        if (sc != null)
          sc.setLocalProperty(PropKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener has seen the end of every job it saw start. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    Thread.sleep(200)
    while (jobsEnded < jobsStarted && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)
  private def kidsOf(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)

  /** Span duration minus the part of it covered by its children. Call after
    * the run: the child index is built once, on first use. */
  def selfMs(s: Span): Double = {
    val kids = kidsOf(s).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = 0L; var curE = -1L
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE >= curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE >= curS && kids.nonEmpty) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e6
  }

  /** Spark counters of a span including those of its descendants. */
  def sparkTotal(s: Span): SparkCounters = {
    val t = new SparkCounters
    t.add(s.spark)
    kidsOf(s).foreach(k => t.add(sparkTotal(k)))
    t
  }

  def writeJsonl(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = s.spark
      w.println(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> selfMs(s), "jobs" -> c.jobs, "tasks" -> c.tasks,
        "task_run_ms" -> c.runMs, "task_cpu_ms" -> c.cpuNs / 1e6,
        "sched_delay_ms" -> c.schedDelayMs, "gc_ms" -> c.gcMs,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "output_bytes" -> c.outputBytes, "input_bytes" -> c.inputBytes).json)
    } finally w.close()
  }
}
