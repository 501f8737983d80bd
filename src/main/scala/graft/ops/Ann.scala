package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Brute-force top-k: exact baseline. One narrow scan; global top-k is
    * Spark's TakeOrderedAndProject (per-partition heaps + tiny merge). */
  def bruteTopK(emb: DataFrame, keyCol: String, vecCol: String,
                query: Seq[Float], k: Int, sim: Sim): DataFrame = {
    val q = typedlit(query.map(_.toDouble))
    val scored = emb.select(col(keyCol).as("key"),
      sim.col(vd(col(vecCol)), q).as("sim"))
    val ordered =
      if (sim.asc) scored.orderBy(col("sim").asc, col("key").asc)
      else scored.orderBy(col("sim").desc, col("key").asc)
    ordered.limit(k)
  }

  /** Deterministic k-means centroids: init = vectors of the k smallest
    * keys of the training sample, then `iters` Lloyd rounds.
    *
    * Scale shape (the reference trains PQ on a bounded sample too,
    * jvector pq/ProductQuantization.java:58,131-144):
    *  - training runs on a deterministic key-hash sample of ~trainCap
    *    vectors (`xxhash64(key) % m == 0` — independent of partitioning,
    *    so centroids are reproducible at any parallelism);
    *  - each Lloyd round is one broadcast + one mapPartitions pre-sum:
    *    every partition emits at most kCenters (sum, count) partials, so
    *    the biggest cluster costs its partitions' pre-sums, never one
    *    reduce task (no groupByKey skew); the k×partitions partial rows
    *    reduce on the driver. */
  def kmeansCentroids(spark: SparkSession, emb: DataFrame, keyCol: String,
                      vecCol: String, kCenters: Int, iters: Int,
                      trainCap: Long = 131072L, nHint: Long = -1L): Array[Array[Double]] = {
    import spark.implicits._
    val all = emb.select(col(keyCol).as("key"), vd(col(vecCol)).as("v"))
    // nHint: callers that already counted the corpus (e.g. auto-scaled
    // cluster sizing) pass it through so training doesn't pay the pass twice
    val n = if (nHint >= 0) nHint else all.count()
    val m = math.max(1L, (n + trainCap - 1) / trainCap)
    val e = (if (m > 1L) all.filter(pmod(xxhash64(col("key")), lit(m)) === 0)
             else all).as[(Long, Seq[Double])].persist()
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
  private[ops] def probeOrder(cs: Array[Array[Double]], q: Array[Double],
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
    * atomic commit marker (shared artifact protocol —
    * SegmentCatalog.publishJson/gcArtifacts). */
  def saveIvf(spark: SparkSession, ivf: Ivf, dir: String): Unit = {
    ivf.assigned.write.mode("overwrite").partitionBy("c").parquet(s"$dir/assigned")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("formatVersion", Pq.FormatVersion)
    root.set("centroids", mapper.valueToTree(ivf.centroids)
      : com.fasterxml.jackson.databind.JsonNode)
    graft.index.SegmentCatalog.publishJson(spark, s"$dir/centroids.json",
      mapper.writeValueAsBytes(root))
  }

  def loadIvf(spark: SparkSession, dir: String): Ivf = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$dir/centroids.json"))
    val json = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val v = if (m.has("formatVersion")) m.get("formatVersion").asLong() else 0L
    require(v <= Pq.FormatVersion, s"unsupported IVF format v$v")
    val cn = m.get("centroids")
    val centroids = Array.tabulate(cn.size()) { c =>
      val cent = cn.get(c)
      Array.tabulate(cent.size())(cent.get(_).asDouble())
    }
    // pre-r4 saves stored double vectors; normalize to the float layout
    val assigned = spark.read.parquet(s"$dir/assigned")
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
    ivf.assigned.filter(col("c").isin(probeOrder(ivf.centroids, q, nProbe).toSeq: _*))
      .select(col("key"), cosine(vd(col("v")), qc).as("sim"))
      .orderBy(col("sim").desc, col("key").asc)
      .limit(k)
  }
}
