package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.SegmentCatalog

/** Binary quantization: 1 bit per dimension around the corpus centroid —
  * the reference's coarsest compressed representation (jvector
  * pq/BinaryQuantization.java:74-93 encode-around-centroid;
  * pq/BQVectors.java:100-106 similarity = 1 − hamming/d), re-expressed
  * Spark-first:
  *
  *  - TRAIN: the centroid of a bounded deterministic key-hash sample
  *    (same sampling contract as `Pq.train` / the reference's 128k cap).
  *  - ENCODE: one narrow map to d/64 packed longs per vector — a 32×
  *    compression over float32 (256× over the double math), the cheapest
  *    possible coarse filter at 10^12 vectors.
  *  - QUERY: the query binarizes the same way; candidate score is
  *    1 − popcount(xor)/d (a handful of XOR+POPCNT per vector — no
  *    floating point at all in the scan); top k·rerankFactor survivors
  *    get the EXACT cosine (two-phase rerank, the Q4 pattern).
  *
  * Exactness contract (same as Pq/Ivf/Nsw gate modes): a rerank set
  * covering the corpus degenerates to the exact scan, so the DuckDB
  * oracle is brute force; small rerankFactor is the production knob
  * (recall pinned in OpsSpec).
  */
object Bq {

  final case class Model(center: Array[Double]) {
    def dim: Int = center.length
    def words: Int = (dim + 63) / 64

    /** bit i set iff v(i) > center(i), packed little-endian into longs. */
    def encodeOne(v: Array[Double]): Array[Long] = {
      val bits = new Array[Long](words)
      var i = 0
      while (i < dim) {
        if (v(i) > center(i)) bits(i >> 6) |= (1L << (i & 63))
        i += 1
      }
      bits
    }

    def hamming(a: Array[Long], b: Array[Long]): Int = {
      var h = 0
      var w = 0
      while (w < a.length) { h += java.lang.Long.bitCount(a(w) ^ b(w)); w += 1 }
      h
    }

    /** 1 − hamming/d, the reference's BQ similarity (higher = closer). */
    def sim(a: Array[Long], b: Array[Long]): Double =
      1.0 - hamming(a, b).toDouble / dim
  }

  /** Centroid of a deterministic key-hash sample (bounded driver work). */
  def train(spark: SparkSession, emb: DataFrame, keyCol: String, vecCol: String): Model =
    Model(Ann.sampleMean(spark, emb, keyCol, vecCol))

  /** Encode the corpus: (key, bits: array<long>). Narrow map, no shuffle. */
  def encode(spark: SparkSession, emb: DataFrame, keyCol: String, vecCol: String,
             model: Model): DataFrame = {
    import spark.implicits._
    val mB = spark.sparkContext.broadcast(model)
    Ann.keyedVectors(emb, keyCol, vecCol)
      .map { case (k, v) => (k, mB.value.encodeOne(v.toArray)) }
      .toDF("key", "bits")
  }

  /** Approximate top-k by hamming over the packed bits (ties -> smaller
    * key), then EXACT cosine rerank of the k·rerankFactor survivors.
    * Returns (key, sim) descending, k rows. rerank covering the corpus
    * degenerates to exact brute force (gate mode). */
  def topK(spark: SparkSession, codes: DataFrame, emb: DataFrame,
           keyCol: String, vecCol: String, model: Model,
           query: Seq[Float], k: Int, rerankFactor: Int = 8): DataFrame = {
    import spark.implicits._
    val q = query.map(_.toDouble).toArray
    val mB = spark.sparkContext.broadcast(model)
    val qB = spark.sparkContext.broadcast(model.encodeOne(q))
    Ann.scanRerank(codes.as[(Long, Array[Long])], emb, keyCol, vecCol, q, k, rerankFactor,
      "sim", Ann.Cosine) { case (key, bits) => (mB.value.sim(bits, qB.value), key) }
  }

  /** Persist: codes parquet first, bq.json LAST as the atomic commit
    * marker (the shared artifact protocol,
    * [[SegmentCatalog.saveArtifact]]). */
  def save(spark: SparkSession, model: Model, codes: DataFrame, dir: String): Unit =
    SegmentCatalog.saveArtifact(spark, dir, SegmentCatalog.BqArtifact, codes) { m =>
      m.put("kind", "bq")
      m.set[com.fasterxml.jackson.databind.JsonNode]("center", SegmentCatalog.toJson(model.center))
    }

  def load(spark: SparkSession, dir: String): (Model, DataFrame) = {
    val art = SegmentCatalog.BqArtifact
    (Model(SegmentCatalog.doubles(SegmentCatalog.readMeta(spark, dir, art).get("center"))),
      spark.read.parquet(art.payloadIn(dir)).select(col("key"), col("bits")))
  }
}
