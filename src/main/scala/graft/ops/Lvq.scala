package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.SegmentCatalog

/** Locally-adaptive vector quantization — the reference's MIDDLE
  * compression tier between BQ (1 bit/dim) and PQ codebooks (jvector
  * pq/LocallyAdaptiveVectorQuantization.java:72-99 encode, :118-150 fused
  * query decomposition; the LVQ scheme of Aguerrebere et al., VLDB 2023),
  * re-expressed Spark-first:
  *
  *  - TRAIN: the global mean μ of a bounded deterministic key-hash sample
  *    (the same sampling contract as Pq/Bq.train and the reference's
  *    128k cap). That is the entire model — no codebooks.
  *  - ENCODE: one narrow map per vector. The residual r = v − μ is scaled
  *    by ITS OWN range: bias = min(r), scale = (max(r) − min(r))/255,
  *    u_i = round((r_i − bias)/scale) ∈ [0,255]. Storage is d bytes + two
  *    floats per vector — ~4× over float32 at realistic d, with
  *    near-lossless recall because the 256 levels adapt to each vector's
  *    range instead of the corpus's (the "locally adaptive" part).
  *  - QUERY: the fused decomposition (the reference's :118-150): decoded
  *    v̂_i = μ_i + bias + scale·u_i, so
  *      ⟨q, v̂⟩ = ⟨q, μ⟩ + bias·Σq_i + scale·Σ q_i·u_i
  *    with ⟨q, μ⟩ and Σq_i precomputed ONCE per query — the per-vector
  *    scan touches only the u bytes (topKDot, the MIPS path). Cosine
  *    additionally needs ‖v̂‖, accumulated in the same single pass over
  *    the bytes (topK). Top k·rerankFactor survivors get the EXACT
  *    cosine on the original vectors (two-phase rerank, the Q4 pattern).
  *
  * Exactness contract (same as Pq/Bq/Ivf/Nsw gate modes): a rerank set
  * covering the corpus degenerates to the exact scan, so the DuckDB
  * oracle is brute force; small rerankFactor is the production knob
  * (recall pinned in OpsSpec — at 4× compression LVQ must dominate BQ's
  * recall at the same rerank budget, which is why a 100 TB embedding
  * store defaults to this tier).
  */
object Lvq {

  /** The model is just the sample mean; quantization params are PER
    * VECTOR (stored with each code row). */
  final case class Model(center: Array[Double]) {
    def dim: Int = center.length

    /** (bytes, bias, scale) for one vector. A constant vector (range 0)
      * encodes with scale 0 — decode reproduces it exactly. */
    def encodeOne(v: Array[Double]): (Array[Byte], Float, Float) = {
      var lo = Double.MaxValue
      var hi = Double.MinValue
      var i = 0
      while (i < dim) {
        val r = v(i) - center(i)
        if (r < lo) lo = r
        if (r > hi) hi = r
        i += 1
      }
      val scale = if (hi > lo) (hi - lo) / 255.0 else 0.0
      val inv = if (scale > 0) 1.0 / scale else 0.0
      val u = new Array[Byte](dim)
      i = 0
      while (i < dim) {
        val r = v(i) - center(i)
        u(i) = (math.round((r - lo) * inv).toInt.min(255).max(0) & 0xFF).toByte
        i += 1
      }
      (u, lo.toFloat, scale.toFloat)
    }

    /** Decoded vector (test/debug; the scans never materialize this). */
    def decodeOne(u: Array[Byte], bias: Float, scale: Float): Array[Double] = {
      val v = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        v(i) = center(i) + bias.toDouble + scale.toDouble * (u(i) & 0xFF)
        i += 1
      }
      v
    }

    /** Per-query constants of the fused decomposition. */
    def queryParts(q: Array[Double]): (Double, Double, Double) = {
      var qMu = 0.0
      var qSum = 0.0
      var qn2 = 0.0
      var i = 0
      while (i < dim) { qMu += q(i) * center(i); qSum += q(i); qn2 += q(i) * q(i); i += 1 }
      (qMu, qSum, qn2)
    }

    /** ⟨q, v̂⟩ via the fused decomposition — the scan touches only the
      * code bytes (no per-element μ lookup at all). */
    def approxDot(q: Array[Double], qMu: Double, qSum: Double,
                  u: Array[Byte], bias: Float, scale: Float): Double = {
      var s1 = 0.0
      var i = 0
      while (i < dim) { s1 += q(i) * (u(i) & 0xFF); i += 1 }
      qMu + bias.toDouble * qSum + scale.toDouble * s1
    }

    /** cos(q, v̂): the dot rides the decomposition; ‖v̂‖² is accumulated
      * in the same single pass (needs μ_i — one broadcast array read). */
    def approxCos(q: Array[Double], qMu: Double, qSum: Double, invQNorm: Double,
                  u: Array[Byte], bias: Float, scale: Float): Double = {
      var s1 = 0.0
      var n2 = 0.0
      var i = 0
      while (i < dim) {
        val ui = (u(i) & 0xFF).toDouble
        s1 += q(i) * ui
        val vi = center(i) + bias.toDouble + scale.toDouble * ui
        n2 += vi * vi
        i += 1
      }
      val dot = qMu + bias.toDouble * qSum + scale.toDouble * s1
      if (n2 == 0) 0.0 else dot * invQNorm / math.sqrt(n2)
    }
  }

  /** Mean of a deterministic key-hash sample (bounded driver work, the
    * one trainer LVQ and BQ share: [[Ann.sampleMean]]; the model is d
    * doubles). */
  def train(spark: SparkSession, emb: DataFrame, keyCol: String, vecCol: String): Model =
    Model(Ann.sampleMean(spark, emb, keyCol, vecCol))

  /** Encode the corpus: (key, u: binary, bias: float, scale: float).
    * Narrow map, no shuffle — d bytes + 8 bytes per vector at rest. */
  def encode(spark: SparkSession, emb: DataFrame, keyCol: String, vecCol: String,
             model: Model): DataFrame = {
    import spark.implicits._
    val mB = spark.sparkContext.broadcast(model)
    Ann.keyedVectors(emb, keyCol, vecCol)
      .map { case (k, v) =>
        val (u, bias, scale) = mB.value.encodeOne(v.toArray)
        (k, u, bias, scale)
      }
      .toDF("key", "u", "bias", "scale")
  }

  /** Approximate top-k by fused-decomposition cosine over the codes, then
    * EXACT cosine rerank of the k·rerankFactor survivors. Returns
    * (key, sim) descending, k rows. rerank covering the corpus degenerates
    * to exact brute force (gate mode). */
  def topK(spark: SparkSession, codes: DataFrame, emb: DataFrame,
           keyCol: String, vecCol: String, model: Model,
           query: Seq[Float], k: Int, rerankFactor: Int = 2): DataFrame = {
    import spark.implicits._
    val q = query.map(_.toDouble).toArray
    val (qMu, qSum, qn2) = model.queryParts(q)
    val invQNorm = if (qn2 == 0) 0.0 else 1.0 / math.sqrt(qn2)
    val mB = spark.sparkContext.broadcast(model)
    val qB = spark.sparkContext.broadcast(q)
    Ann.scanRerank(codes.as[(Long, Array[Byte], Float, Float)], emb, keyCol, vecCol, q, k,
      rerankFactor, "sim", Ann.Cosine) { case (key, u, bias, scale) =>
      (mB.value.approxCos(qB.value, qMu, qSum, invQNorm, u, bias, scale), key)
    }
  }

  /** MIPS twin: approximate top-k by the PURE decomposition dot (the scan
    * reads only code bytes), exact dot rerank. Returns (key, dot) desc. */
  def topKDot(spark: SparkSession, codes: DataFrame, emb: DataFrame,
              keyCol: String, vecCol: String, model: Model,
              query: Seq[Float], k: Int, rerankFactor: Int = 2): DataFrame = {
    import spark.implicits._
    val q = query.map(_.toDouble).toArray
    val (qMu, qSum, _) = model.queryParts(q)
    val mB = spark.sparkContext.broadcast(model)
    val qB = spark.sparkContext.broadcast(q)
    Ann.scanRerank(codes.as[(Long, Array[Byte], Float, Float)], emb, keyCol, vecCol, q, k,
      rerankFactor, "dot", Ann.Dot) { case (key, u, bias, scale) =>
      (mB.value.approxDot(qB.value, qMu, qSum, u, bias, scale), key)
    }
  }

  /** Persist: codes parquet first, lvq.json LAST as the atomic commit
    * marker (the shared artifact protocol,
    * [[SegmentCatalog.saveArtifact]]). */
  def save(spark: SparkSession, model: Model, codes: DataFrame, dir: String): Unit =
    SegmentCatalog.saveArtifact(spark, dir, SegmentCatalog.LvqArtifact, codes) { m =>
      m.put("kind", "lvq")
      m.set[com.fasterxml.jackson.databind.JsonNode]("center", SegmentCatalog.toJson(model.center))
    }

  def load(spark: SparkSession, dir: String): (Model, DataFrame) = {
    val art = SegmentCatalog.LvqArtifact
    (Model(SegmentCatalog.doubles(SegmentCatalog.readMeta(spark, dir, art).get("center"))),
      spark.read.parquet(art.payloadIn(dir))
        .select(col("key"), col("u"), col("bias"), col("scale")))
  }
}
