package graft

import java.util.concurrent.{Callable, ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch,
  Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}

import scala.jdk.CollectionConverters._

/** Test probes of the serving handles' job contract: how many Spark jobs a
  * call runs and on which partitions, and what concurrent callers get. */
object ServingProbes {

  /** The jobs a call ran, and the partition of every task they launched
    * (sorted). */
  final case class Shape(jobs: Int, taskPartitions: Seq[Int])

  /** Runs `call` on this thread and counts its jobs and tasks, told apart
    * from other jobs by a local property. Listener events arrive
    * asynchronously but in order, so a one-task marker job runs after the
    * call: once its end arrives, every event of the call has been counted. */
  def jobShape[A](sc: SparkContext)(call: => A): (A, Shape) = {
    val key = "graft.test.jobShape"
    val tag = java.util.UUID.randomUUID.toString
    val marker = tag + "/marker"
    val jobs = new AtomicInteger()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val parts = new ConcurrentLinkedQueue[Int]()
    val markerJob = new AtomicInteger(-1)
    val markerEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) =>
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.add(_))
          case Some(`marker`) => markerJob.set(e.jobId)
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) parts.add(e.taskInfo.partitionId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(key)
    try {
      sc.setLocalProperty(key, tag)
      val out = call
      sc.setLocalProperty(key, marker)
      sc.parallelize(Seq(0), 1).count()
      assert(markerEnded.await(60, TimeUnit.SECONDS), "the marker job's end never arrived")
      (out, Shape(jobs.get, parts.asScala.toSeq.sorted))
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }

  /** The (started, release) latches of each [[withSlotsHeld]] call, by id:
    * its tasks run in this JVM and find them here. */
  private val holds = new ConcurrentHashMap[String, (CountDownLatch, CountDownLatch)]()

  /** Runs `body` while a job holds every task slot of a local master, so
    * a job submitted inside `body` cannot run a task until `body` returns. */
  def withSlotsHeld[A](sc: SparkContext)(body: => A): A = {
    val slots = sc.defaultParallelism
    val id = java.util.UUID.randomUUID.toString
    val started = new CountDownLatch(slots)
    val release = new CountDownLatch(1)
    holds.put(id, (started, release))
    val holder = new Thread(() => sc.parallelize(0 until slots, slots).foreach { _ =>
      val (s, r) = holds.get(id)
      s.countDown()
      r.await(120, TimeUnit.SECONDS)
    })
    holder.start()
    try {
      assert(started.await(60, TimeUnit.SECONDS), "the slot-holding job never filled the slots")
      body
    } finally {
      release.countDown()
      holder.join(120000)
      holds.remove(id)
    }
  }

  /** Runs `f(i)` for every i in [0, n) on each of `threads` threads at
    * once, each thread in its own rotation of the indices; returns every
    * (i, answer) pair, threads × n of them. */
  def concurrently[A](threads: Int, n: Int)(f: Int => A): Seq[(Int, A)] = {
    val pool = Executors.newFixedThreadPool(threads)
    val start = new CountDownLatch(1)
    try {
      val futures = (0 until threads).map { t =>
        pool.submit(new Callable[Seq[(Int, A)]] {
          def call(): Seq[(Int, A)] = {
            start.await()
            (0 until n).map { j =>
              val i = (j + t * n / threads) % n
              (i, f(i))
            }
          }
        })
      }
      start.countDown()
      futures.flatMap(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }
}
