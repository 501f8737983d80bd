package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.SegmentCatalog

/** Approximate-nearest-neighbor operators over an embedding column
  * (Array[Float]) — the engine's sibling of the reference's actual domain
  * (jvector top-k vector search, GraphSearcher.java:128-134), expressed
  * Spark-first: brute-force top-k is one codegen'd scan +
  * TakeOrderedAndProject; IVF is k-means bucketing so a query probes only
  * nProbe partitions of the corpus (the scale path: at 10^12 vectors the
  * centroid assignment is the partition key and probing prunes scans).
  *
  * Similarity math follows jvector's VectorSimilarityFunction.java:37-84
  * (DOT, COSINE, EUCLIDEAN), computed in double precision so the SQL
  * oracle matches bit-for-bit after 1e-4 quantization.
  */
object Ann {

  private def vd(c: Column): Column = transform(c, x => x.cast("double"))

  // Fused-loop codegen kernels (graft.functions.VectorExprs) — bit-identical
  // accumulation order to the higher-order-function formulation they
  // replaced, ~1000x less per-pair overhead.
  def cosine(a: Column, b: Column): Column = graft.functions.VectorFunctions.cosineSim(a, b)
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dotProd(a, b)
  def l2(a: Column, b: Column): Column = graft.functions.VectorFunctions.l2Dist(a, b)

  sealed trait Sim { def col(a: Column, b: Column): Column; def asc: Boolean }
  case object Cosine extends Sim { def col(a: Column, b: Column) = cosine(a, b); val asc = false }
  case object Dot extends Sim { def col(a: Column, b: Column) = dot(a, b); val asc = false }
  case object L2 extends Sim { def col(a: Column, b: Column) = l2(a, b); val asc = true }
  /** Squared L2: the exact score of PQ's L2 rerank (`dist2`). */
  private[ops] case object L2Squared extends Sim {
    def col(a: Column, b: Column) = graft.functions.VectorFunctions.l2Dist2(a, b); val asc = true
  }

  /** Brute-force top-k: exact baseline. One narrow scan; global top-k is
    * Spark's TakeOrderedAndProject (per-partition heaps + tiny merge). */
  def bruteTopK(emb: DataFrame, keyCol: String, vecCol: String,
                query: Seq[Float], k: Int, sim: Sim): DataFrame = {
    val q = typedlit(query.map(_.toDouble))
    best(emb.select(col(keyCol).as("key"), sim.col(vd(col(vecCol)), q).as("sim")),
      "sim", sim, k)
  }

  /** The k best rows of `scored` by (`out` in `sim`'s order, key asc). */
  private def best(scored: DataFrame, out: String, sim: Sim, k: Int): DataFrame =
    scored.orderBy(if (sim.asc) col(out).asc else col(out).desc, col("key").asc).limit(k)

  /** The one compressed-scan plan behind PQ, LVQ and BQ (the reference's
    * approximate score + exact reranker pair,
    * graph/similarity/SearchScoreProvider.java:20-41): each partition
    * keeps its kk = k·rerankFactor best codes by `approx` (higher is
    * better, ties to the smaller key) in a [[graft.core.DoubleTopK]]; the
    * kk global survivors, ordered (approx desc, key asc), join back to
    * `emb` and are rescored by the codegen kernel of `exact` (never an
    * interpreted HOF: OpsSpec's plan guard) into column `out`; the k best
    * by (`out`, key asc) are the answer. A rerank set covering the corpus
    * degenerates to the exact scan (gate mode). */
  private[ops] def scanRerank[R](codes: Dataset[R], emb: DataFrame, keyCol: String,
                                 vecCol: String, q: Array[Double], k: Int,
                                 rerankFactor: Int, out: String, exact: Sim)
                                (approx: R => (Double, Long)): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val kk = math.max(1, k * rerankFactor)
    val survivors = codes.mapPartitions { it =>
        val heap = new graft.core.DoubleTopK(kk)
        it.foreach { r => val (s, key) = approx(r); heap.offer(s, key) }
        heap.drain().iterator
      }.toDF("approx", "key")
      .orderBy($"approx".desc, $"key".asc).limit(kk)
    best(survivors.join(emb.select(col(keyCol).cast("long").as("key"), col(vecCol)), "key")
      .select($"key", exact.col(vd(col(vecCol)), typedlit(q.toSeq)).as(out)), out, exact, k)
  }

  /** (key: long, v: array<double>): the input of every quantizer's train
    * and encode. */
  private[ops] def keyedVectors(emb: DataFrame, keyCol: String,
                                vecCol: String): Dataset[(Long, Seq[Double])] = {
    import emb.sparkSession.implicits._
    emb.select(col(keyCol).cast("long").as("key"), vd(col(vecCol)).as("v"))
      .as[(Long, Seq[Double])]
  }

  /** Training-sample size of k-means, PQ, LVQ and BQ, in vectors. */
  private[ops] val TrainCap = 131072L

  /** Rows of `all` (with a `key` column) whose `xxhash64(key) % m == 0`,
    * m chosen so about [[TrainCap]] of the `n` rows remain: a training
    * sample independent of partitioning, so models are reproducible at
    * any parallelism (the reference also trains on a bounded sample,
    * jvector pq/ProductQuantization.java:58). */
  private def hashSample(all: DataFrame, n: Long): DataFrame = {
    val m = math.max(1L, (n + TrainCap - 1) / TrainCap)
    if (m > 1L) all.filter(pmod(xxhash64(col("key")), lit(m)) === 0) else all
  }

  /** The training vectors of PQ, LVQ and BQ: the key-hash sample of
    * `emb`, collected to the driver (bounded by [[TrainCap]]), in key order
    * when `keyOrder` (PQ's k-means initializes from the smallest keys),
    * else in scan order. */
  private[ops] def trainSample(spark: SparkSession, emb: DataFrame, keyCol: String,
                               vecCol: String, keyOrder: Boolean): Array[Array[Double]] = {
    import spark.implicits._
    val all = keyedVectors(emb, keyCol, vecCol).toDF()
    val sample = hashSample(all, all.count()).as[(Long, Seq[Double])]
    val rows = (if (keyOrder) sample.orderBy($"key") else sample).collect()
    require(rows.nonEmpty, "empty training sample")
    rows.map(_._2.toArray)
  }

  /** Mean of the training sample: the whole model of LVQ and BQ (d
    * doubles). */
  private[ops] def sampleMean(spark: SparkSession, emb: DataFrame, keyCol: String,
                              vecCol: String): Array[Double] = {
    val sample = trainSample(spark, emb, keyCol, vecCol, keyOrder = false)
    val acc = new Array[Double](sample.head.length)
    sample.foreach { v =>
      var i = 0
      while (i < acc.length) { acc(i) += v(i); i += 1 }
    }
    acc.map(_ / sample.length)
  }

  /** Deterministic k-means centroids: init = vectors of the k smallest
    * keys of the training sample, then `iters` Lloyd rounds.
    *
    * Scale shape (the reference trains PQ on a bounded sample too,
    * jvector pq/ProductQuantization.java:58,131-144):
    *  - training runs on a deterministic key-hash sample of ~TrainCap
    *    vectors (`xxhash64(key) % m == 0` — independent of partitioning,
    *    so centroids are reproducible at any parallelism);
    *  - each Lloyd round is one broadcast + one mapPartitions pre-sum:
    *    every partition emits at most kCenters (sum, count) partials, so
    *    the biggest cluster costs its partitions' pre-sums, never one
    *    reduce task (no groupByKey skew); the k×partitions partial rows
    *    reduce on the driver. */
  def kmeansCentroids(spark: SparkSession, emb: DataFrame, keyCol: String,
                      vecCol: String, kCenters: Int, iters: Int,
                      nHint: Long = -1L): Array[Array[Double]] = {
    import spark.implicits._
    val all = emb.select(col(keyCol).as("key"), vd(col(vecCol)).as("v"))
    // nHint: callers that already counted the corpus (e.g. auto-scaled
    // cluster sizing) pass it through so training doesn't pay the pass twice
    val n = if (nHint >= 0) nHint else all.count()
    val e = hashSample(all, n).as[(Long, Seq[Double])].persist()
    var centroids = e.orderBy($"key").limit(kCenters).collect().map(_._2.toArray)
    (0 until iters).foreach { _ =>
      val cB = spark.sparkContext.broadcast(centroids)
      val partials = e.mapPartitions { it =>
        val k = cB.value.length
        val sums = new Array[Array[Double]](k)
        val counts = new Array[Long](k)
        it.foreach { case (_, vs) =>
          val v = vs.toArray
          val c = nearestCentroid(v, cB.value)
          if (sums(c) == null) sums(c) = new Array[Double](v.length)
          val s = sums(c)
          var i = 0
          while (i < v.length) { s(i) += v(i); i += 1 }
          counts(c) += 1
        }
        (0 until k).iterator.filter(counts(_) > 0).map(c => (c, sums(c), counts(c)))
      }.collect()
      val updated = centroids.clone()
      partials.groupBy(_._1).foreach { case (c, ps) =>
        val acc = new Array[Double](ps.head._2.length)
        var cnt = 0L
        ps.foreach { case (_, s, pn) =>
          var i = 0
          while (i < s.length) { acc(i) += s(i); i += 1 }
          cnt += pn
        }
        updated(c) = acc.map(_ / cnt)
      }
      centroids = updated
    }
    e.unpersist()
    centroids
  }

  private[graft] def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int =
    nearestCentroidDist(v, cs)._1

  /** (nearest centroid index, squared L2 distance to it). */
  private[ops] def nearestCentroidDist(v: Array[Double],
                                       cs: Array[Array[Double]]): (Int, Double) = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = sqDist(v, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best, bestD)
  }

  /** The probe router shared by every clustered search (IVF, NSW,
    * HotAnn): the `nProbe` centroids nearest `q` by squared L2, nearest
    * first; the sort is stable, so ties go to the smaller centroid index. */
  private[graft] def probeOrder(cs: Array[Array[Double]], q: Array[Double],
                                nProbe: Int): Array[Int] = {
    val d = cs.map(sqDist(q, _))
    cs.indices.toArray.sortBy(d(_)).take(nProbe)
  }

  private def sqDist(v: Array[Double], c: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
    d
  }

  /** IVF index: corpus partitioned by nearest centroid. Vectors ride as
    * float32 (what the reference stores, vector/types/VectorFloat.java)
    * and widen to double inside the scoring kernel — identical similarity
    * bits (the source embeddings are float32), half the memory/shuffle. */
  final case class Ivf(assigned: DataFrame /* (key, c, v: array<float>) */ ,
                       centroids: Array[Array[Double]])

  def buildIvf(spark: SparkSession, emb: DataFrame, keyCol: String, vecCol: String,
               kCenters: Int, iters: Int = 3): Ivf = {
    import spark.implicits._
    val centroids = kmeansCentroids(spark, emb, keyCol, vecCol, kCenters, iters)
    val cB = spark.sparkContext.broadcast(centroids)
    val assigned = emb.select(col(keyCol).as("key"),
        transform(col(vecCol), x => x.cast("float")).as("v"))
      .as[(Long, Seq[Float])]
      .map { case (k, v) =>
        val arr = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { arr(i) = v(i).toDouble; i += 1 }
        (k, nearestCentroid(arr, cB.value), v)
      }
      .toDF("key", "c", "v")
    Ivf(assigned.persist(), centroids)
  }

  /** Persist an IVF index: assignment parquet PARTITIONED BY cluster id —
    * so a loaded index's probe filter (`c IN (...)`) prunes whole
    * partition directories at the file level, the real 10^12-vector
    * serving layout (a session-only assignment re-runs k-means + a full
    * corpus pass per session). Payload first, centroids.json LAST as the
    * atomic commit marker (the shared artifact protocol,
    * [[SegmentCatalog.saveArtifact]]). */
  def saveIvf(spark: SparkSession, ivf: Ivf, dir: String): Unit =
    SegmentCatalog.saveArtifact(spark, dir, SegmentCatalog.IvfArtifact, ivf.assigned,
      partitionBy = Some("c"))(_.set[com.fasterxml.jackson.databind.JsonNode](
        "centroids", SegmentCatalog.toJson(ivf.centroids)))

  def loadIvf(spark: SparkSession, dir: String): Ivf = {
    val art = SegmentCatalog.IvfArtifact
    val centroids = SegmentCatalog.doubleRows(
      SegmentCatalog.readMeta(spark, dir, art).get("centroids"))
    // pre-r4 saves stored double vectors; normalize to the float layout
    val assigned = spark.read.parquet(art.payloadIn(dir))
      .select(col("key"), col("c").cast("int").as("c"),
        transform(col("v"), x => x.cast("float")).as("v"))
    Ivf(assigned, centroids)
  }

  /** IVF search: probe the nProbe nearest clusters only (partition pruning
    * via the cluster filter; with the corpus written partitionBy("c") this
    * is file-level pruning). nProbe == kCenters degrades to exact. */
  def ivfTopK(ivf: Ivf, query: Seq[Float], k: Int, nProbe: Int): DataFrame = {
    val q = query.map(_.toDouble).toArray
    val qc = typedlit(q.toSeq)
    best(ivf.assigned.filter(col("c").isin(probeOrder(ivf.centroids, q, nProbe).toSeq: _*))
      .select(col("key"), cosine(vd(col("v")), qc).as("sim")), "sim", Cosine, k)
  }
}
