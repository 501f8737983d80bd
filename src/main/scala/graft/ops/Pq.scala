package graft.ops

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.SegmentCatalog

/** Product quantization for the embedding column — the compressed ANN
  * path of the capability surface (reference: jvector
  * pq/ProductQuantization.java:103-129 train/encode,
  * pq/PQVectors.java:112-123 ADC scoring; re-expressed Spark-first):
  *
  *  - TRAIN: the vector space splits into `m` contiguous subspaces; each
  *    gets its own 256-entry codebook from k-means over a bounded,
  *    deterministic key-hash sample (the reference caps training at 128k
  *    vectors too, ProductQuantization.java:58). Training data is ~m·256
  *    small centroids — driver-side Lloyd on the collected sample, no
  *    iterative Spark jobs.
  *  - ENCODE: one narrow map turns each vector into m bytes (nearest
  *    centroid per subspace) — a 4·d/m × compression (32× for d=16, m=4
  *    float32 inputs), the storage story at 10^12 vectors.
  *  - QUERY (ADC): the query precomputes a 256-entry distance table per
  *    subspace (driver, broadcast); scoring a code is m table lookups +
  *    adds — the asymmetric-distance trick (PQDecoder.java:38-60). The
  *    scan is a mapPartitions over the compressed codes; top k·rerank
  *    survive.
  *  - RERANK: survivors join back to the exact vectors and are re-scored
  *    with the exact metric (two-phase rerank, the Q4 pattern): result
  *    quality depends only on whether the true top-k are inside the
  *    ADC top k·rerank, which the recall test pins.
  */
object Pq {

  /** Trained product quantizer: codebooks(sub)(code) = centroid of the
    * sub-th subspace (length dim/m). */
  final case class Model(m: Int, dim: Int, codebooks: Array[Array[Array[Double]]]) {
    require(m > 0 && dim % m == 0,
      s"PQ dim $dim must divide into m=$m equal subspaces")

    def encodeOne(v: Array[Double]): Array[Byte] = {
      val code = new Array[Byte](m)
      val w = dim / m
      var s = 0
      while (s < m) {
        val cb = codebooks(s)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var d = 0.0
          var i = 0
          while (i < w) { val t = v(s * w + i) - cb(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        code(s) = best.toByte
        s += 1
      }
      code
    }

    /** Per-subspace ADC lookup tables for a query (squared-L2 parts). */
    def distTables(q: Array[Double]): Array[Array[Double]] =
      tables(q) { (x, c) => val t = x - c; t * t }

    /** Per-subspace ADC tables of INNER-PRODUCT parts (the reference's
      * DOT similarity with PQ — pq/PQVectors.java:112-123 precomputes
      * partial dot products the same way). Σ_s table(s)(code_s) = ⟨q,
      * decode(code)⟩; ranking descending is the MIPS setting the
      * anisotropic loss optimizes. */
    def dotTables(q: Array[Double]): Array[Array[Double]] = tables(q)(_ * _)

    /** table(s)(c) = Σ_i part(q_i, centroid_i) over subspace s, code c. */
    private def tables(q: Array[Double])(part: (Double, Double) => Double): Array[Array[Double]] = {
      val w = dim / m
      Array.tabulate(m) { s =>
        val cb = codebooks(s)
        Array.tabulate(cb.length) { c =>
          var d = 0.0
          var i = 0
          while (i < w) { d += part(q(s * w + i), cb(c)(i)); i += 1 }
          d
        }
      }
    }

    def adc(tables: Array[Array[Double]], code: Array[Byte]): Double = {
      var d = 0.0
      var s = 0
      while (s < m) { d += tables(s)(code(s) & 0xFF); s += 1 }
      d
    }

    /** The JSON fields of a saved model: the `model.json` of [[save]] and
      * the `pq` node of a fused graph's meta. */
    private[ops] def putJson(node: ObjectNode): Unit = {
      node.put("m", m)
      node.put("dim", dim)
      node.set[JsonNode]("codebooks", SegmentCatalog.toJson(codebooks))
    }

    /** The code of `v`: anisotropic when `pcm` > 0 ([[pcmOf]]), else plain. */
    def encodeWith(v: Array[Double], pcm: Double): Array[Byte] =
      if (pcm > 0) encodeOneAnisotropic(v, pcm) else encodeOne(v)

    /** Anisotropic encode (SCANN-style; reference
      * pq/ProductQuantization.java:233-312 encodeAnisotropic +
      * KMeansPlusPlusClusterer.computeParallelCostMultiplier:116-124):
      * residual error PARALLEL to the datapoint costs `pcm`x more than
      * orthogonal error, because parallel error is what perturbs the
      * inner products of exactly the high-scoring pairs a top-k search
      * ranks. Codes are chosen by coordinate descent across subspaces
      * (<= 10 sweeps, seeded from the plain min-residual assignment),
      * since the parallel loss couples subspaces — per-subspace argmin
      * can't see it. Same codebooks, same code size, same ADC scoring;
      * only the assignment changes. */
    def encodeOneAnisotropic(v: Array[Double], pcm: Double): Array[Byte] = {
      val w = dim / m
      var vNorm2 = 0.0
      var i = 0
      while (i < dim) { vNorm2 += v(i) * v(i); i += 1 }
      if (vNorm2 == 0.0) return encodeOne(v)
      // loss({c_s}) = Σ_s |r_s|²  +  (pcm − 1) · (Σ_s ⟨r_s, x_s⟩)² / |x|²
      //             = perpendicular + parallel, weighted — the anisotropic
      // objective with the SIGNED cross-subspace parallel sum (the
      // parallel residual is a projection of the FULL residual onto x, so
      // per-subspace contributions cancel; treating them per-subspace-
      // squared discards exactly the trades coordinate descent exists to
      // find). rn2/pp tables: residual norm² and ⟨r_s, x_s⟩ per code.
      val rn2 = Array.ofDim[Double](m, codebooks(0).length)
      val pp = Array.ofDim[Double](m, codebooks(0).length)
      val code = new Array[Byte](m)
      var p = 0.0 // Σ_s ⟨r_s, x_s⟩ of the current assignment
      var s = 0
      while (s < m) {
        val cb = codebooks(s)
        var xn2 = 0.0
        i = 0
        while (i < w) { val x = v(s * w + i); xn2 += x * x; i += 1 }
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var cDotX = 0.0
          var cn2 = 0.0
          i = 0
          while (i < w) {
            val ci = cb(c)(i)
            cDotX += ci * v(s * w + i); cn2 += ci * ci; i += 1
          }
          rn2(s)(c) = cn2 - 2 * cDotX + xn2
          pp(s)(c) = xn2 - cDotX // ⟨x_s − c, x_s⟩
          if (rn2(s)(c) < bestD) { bestD = rn2(s)(c); best = c }
          c += 1
        }
        code(s) = best.toByte
        p += pp(s)(best)
        s += 1
      }
      val lam = (pcm - 1.0) / vNorm2
      // coordinate descent until no subspace improves (cap 10 sweeps,
      // reference's bound): per subspace pick argmin of
      // rn2(c) + lam · (p − pp(cur) + pp(c))² — each sweep is monotone in
      // the global loss, so termination is guaranteed even at the cap
      var iter = 0
      var changed = true
      while (changed && iter < 10) {
        changed = false
        s = 0
        while (s < m) {
          val cur = code(s) & 0xFF
          val pBase = p - pp(s)(cur)
          var bestIdx = cur
          var bestCost = rn2(s)(cur) + lam * p * p
          var c = 0
          while (c < rn2(s).length) {
            if (c != cur) {
              val np = pBase + pp(s)(c)
              val cost = rn2(s)(c) + lam * np * np
              if (cost < bestCost) { bestCost = cost; bestIdx = c }
            }
            c += 1
          }
          if (bestIdx != cur) {
            code(s) = bestIdx.toByte
            p = pBase + pp(s)(bestIdx)
            changed = true
          }
          s += 1
        }
        iter += 1
      }
      code
    }
  }

  /** The model that [[Model.putJson]] wrote into `node`. */
  private[ops] def modelOf(node: JsonNode): Model = {
    val cb = node.get("codebooks")
    Model(node.get("m").asInt(), node.get("dim").asInt(),
      Array.tabulate(cb.size())(s => SegmentCatalog.doubleRows(cb.get(s))))
  }

  /** Parallel-cost multiplier from a dot-product threshold T (reference
    * KMeansPlusPlusClusterer.java:116-124): pairs scoring above T are the
    * ones whose ranks matter; on unit vectors the expected parallel share
    * of an isotropic error is T^2 and the orthogonal share spreads over
    * the remaining d-1 directions. */
  def parallelCostMultiplier(threshold: Double, dim: Int): Double = {
    require(dim > 1,
      s"anisotropic loss needs dim > 1 (got $dim): with a single dimension " +
      "every error is parallel and the perpendicular share divides by zero")
    val parallelCost = threshold * threshold
    val perpendicularCost = (1 - parallelCost) / (dim - 1)
    math.max(1.0, parallelCost / perpendicularCost)
  }

  /** The `pcm` of [[Model.encodeWith]]: derived from a dot-product
    * threshold when it is > 0, else 0 (plain assignment). */
  private[ops] def pcmOf(anisotropicThreshold: Double, dim: Int): Double =
    if (anisotropicThreshold > 0) parallelCostMultiplier(anisotropicThreshold, dim) else 0.0

  /** Train codebooks on a deterministic key-hash sample (collected to the
    * driver — bounded by [[Ann.TrainCap]] vectors; centroids init from the k
    * smallest keys' sub-vectors, `iters` Lloyd rounds per subspace). */
  def train(spark: SparkSession, emb: DataFrame, keyCol: String, vecCol: String,
            m: Int, codes: Int = 256, iters: Int = 5): Model =
    lloyd(Ann.trainSample(spark, emb, keyCol, vecCol, keyOrder = true), m, codes, iters)

  /** Plain-Lloyd codebooks over the training vectors, one k-means per
    * subspace. */
  private def lloyd(vecs: Array[Array[Double]], m: Int, codes: Int, iters: Int): Model = {
    val dim = vecs.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val w = dim / m
    Model(m, dim, Array.tabulate(m) { s =>
      val subs = vecs.map(v => java.util.Arrays.copyOfRange(v, s * w, (s + 1) * w))
      kmeansLocal(subs, math.min(codes, subs.length), iters)
    })
  }

  /** Anisotropic codebook TRAINING — the other half of SCANN (reference
    * pq/KMeansPlusPlusClusterer.java:405-428: each centroid update solves
    * a small linear system instead of taking the mean). [[train]] +
    * anisotropic ENCODE only optimizes the assignment over plain-Lloyd
    * codebooks; here the codebooks themselves minimize the anisotropic
    * loss, alternating:
    *
    *  1. assign: every sample vector takes the anisotropic code
    *     ([[Model.encodeOneAnisotropic]] — the same procedure production
    *     encode uses, so train-time and encode-time objectives agree);
    *  2. update: for subspace s, code j, minimizing
    *     Σ_x |x_s − c|² + λ_x (P_x + ⟨x_s − c, x_s⟩)²   over c
    *     (λ_x = (pcm−1)/|x|², P_x = the OTHER subspaces' parallel
    *     residual) is the w×w normal system
    *       (N·I + Σ λ_x x_s x_sᵀ) c = Σ (1 + λ_x (P_x + |x_s|²)) x_s
    *     — solved directly by Gaussian elimination (w = dim/m is small).
    *     Empty cells keep their previous centroid; all subspaces update
    *     from the same assignment snapshot, so each outer round is
    *     deterministic.
    *
    * Seeded from the plain-Lloyd codebooks of [[train]]; four
    * alternations. Code size and ADC scoring are unchanged — like the
    * anisotropic assignment, this is a pure recall-per-byte knob, and
    * OpsSpec pins that it beats assignment-only at equal code size. */
  def trainAnisotropic(spark: SparkSession, emb: DataFrame, keyCol: String,
                       vecCol: String, m: Int, threshold: Double,
                       codes: Int = 256, iters: Int = 5): Model = {
    val vecs = Ann.trainSample(spark, emb, keyCol, vecCol, keyOrder = true)
    // seed: the plain-Lloyd codebooks (identical to train())
    var model = lloyd(vecs, m, codes, iters)
    val dim = model.dim
    val w = dim / m
    val pcm = parallelCostMultiplier(threshold, dim)
    val kCodes = model.codebooks(0).length
    var outer = 0
    while (outer < 4) {
      // 1. anisotropic assignment snapshot
      val assign = vecs.map(v => model.encodeOneAnisotropic(v, pcm))
      // 2. per (subspace, code) normal systems
      val newBooks = Array.tabulate(m) { s =>
        val aMat = Array.fill(kCodes)(Array.ofDim[Double](w, w))
        val bVec = Array.fill(kCodes)(new Array[Double](w))
        val cnt = new Array[Long](kCodes)
        vecs.indices.foreach { xi =>
          val v = vecs(xi)
          val code = assign(xi)
          var vNorm2 = 0.0
          var i = 0
          while (i < dim) { vNorm2 += v(i) * v(i); i += 1 }
          val lam = if (vNorm2 > 0) (pcm - 1.0) / vNorm2 else 0.0
          // P_x: parallel residual of the OTHER subspaces under `model`
          var pTot = 0.0
          var ss = 0
          while (ss < m) {
            val cb = model.codebooks(ss)(code(ss) & 0xFF)
            var d = 0.0
            i = 0
            while (i < w) { d += (v(ss * w + i) - cb(i)) * v(ss * w + i); i += 1 }
            if (ss == s) () else pTot += d
            ss += 1
          }
          var xs2 = 0.0
          i = 0
          while (i < w) { val x = v(s * w + i); xs2 += x * x; i += 1 }
          val j = code(s) & 0xFF
          cnt(j) += 1
          val coef = 1.0 + lam * (pTot + xs2)
          val A = aMat(j)
          val b = bVec(j)
          i = 0
          while (i < w) {
            val xi1 = v(s * w + i)
            b(i) += coef * xi1
            var t = 0
            while (t < w) { A(i)(t) += lam * xi1 * v(s * w + t); t += 1 }
            i += 1
          }
        }
        Array.tabulate(kCodes) { j =>
          if (cnt(j) == 0) model.codebooks(s)(j)
          else {
            val A = aMat(j)
            var i = 0
            while (i < w) { A(i)(i) += cnt(j).toDouble; i += 1 }
            solveLinear(A, bVec(j)).getOrElse(model.codebooks(s)(j))
          }
        }
      }
      model = Model(m, dim, newBooks)
      outer += 1
    }
    model
  }

  /** In-place Gaussian elimination with partial pivoting; None when the
    * system is (numerically) singular — callers keep the old centroid. */
  private def solveLinear(a: Array[Array[Double]], b: Array[Double])
      : Option[Array[Double]] = {
    val n = b.length
    val x = b.clone()
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      if (math.abs(a(piv)(col)) < 1e-12) return None
      if (piv != col) {
        val tr = a(piv); a(piv) = a(col); a(col) = tr
        val tx = x(piv); x(piv) = x(col); x(col) = tx
      }
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / a(col)(col)
        if (f != 0.0) {
          var t = col
          while (t < n) { a(r)(t) -= f * a(col)(t); t += 1 }
          x(r) -= f * x(col)
        }
        r += 1
      }
      col += 1
    }
    var i = n - 1
    while (i >= 0) {
      var s = x(i)
      var t = i + 1
      while (t < n) { s -= a(i)(t) * x(t); t += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    Some(x)
  }

  /** Plain-Scala Lloyd on the (bounded) training sample. Deterministic:
    * init = first k sub-vectors in key order; empty clusters keep their
    * previous centroid. */
  private def kmeansLocal(xs: Array[Array[Double]], k: Int,
                          iters: Int): Array[Array[Double]] = {
    var cents = xs.take(k).map(_.clone())
    val w = xs.head.length
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](w))
      val counts = new Array[Long](k)
      xs.foreach { x =>
        val best = Ann.nearestCentroid(x, cents)
        var i = 0
        while (i < w) { sums(best)(i) += x(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** Encode the corpus: (key, code bytes). One narrow map, no shuffle.
    * @param anisotropicThreshold when > 0, codes are assigned by the
    *   SCANN-style anisotropic coordinate descent (see
    *   [[Model.encodeOneAnisotropic]]) with pcm derived from this
    *   dot-product threshold; 0 (default) keeps the plain min-residual
    *   assignment. Either way the code SIZE and ADC scoring are
    *   unchanged — this is a pure recall-per-byte knob. */
  def encode(spark: SparkSession, emb: DataFrame, keyCol: String, vecCol: String,
             model: Model, anisotropicThreshold: Double = 0.0): DataFrame = {
    import spark.implicits._
    val mB = spark.sparkContext.broadcast(model)
    val pcm = pcmOf(anisotropicThreshold, model.dim)
    Ann.keyedVectors(emb, keyCol, vecCol)
      .map { case (k, v) => (k, mB.value.encodeWith(v.toArray, pcm)) }
      .toDF("key", "code")
  }

  /** Persist a trained quantizer + its encoded corpus (the reference
    * persists both too: jvector pq/PQVectors.java:52-93 write/load, with
    * the codebooks in the header) — without this every query session
    * retrains and re-encodes the corpus. Layout under `dir`:
    * `model.json` (format-versioned codebooks; small: m·codes·(dim/m)
    * doubles) and `codes/` (parquet (key, code), the 4·d/m-compressed
    * corpus representation), committed by the shared artifact protocol
    * ([[SegmentCatalog.saveArtifact]]). */
  def save(spark: SparkSession, model: Model, codes: DataFrame, dir: String): Unit =
    SegmentCatalog.saveArtifact(spark, dir, SegmentCatalog.PqArtifact, codes)(model.putJson)

  def load(spark: SparkSession, dir: String): (Model, DataFrame) = {
    val art = SegmentCatalog.PqArtifact
    (modelOf(SegmentCatalog.readMeta(spark, dir, art)),
      spark.read.parquet(art.payloadIn(dir)).select(col("key"), col("code")))
  }

  /** Approximate top-k by INNER-PRODUCT ADC over the compressed codes
    * (descending ⟨q, decode(code)⟩), then EXACT dot-product rerank of the
    * k·rerankFactor survivors — the MIPS twin of [[topK]] and the setting
    * where anisotropic codes pay off (reference DOT similarity + PQ).
    * Returns (key, dot) descending, k rows. */
  def topKDot(spark: SparkSession, codes: DataFrame, emb: DataFrame,
              keyCol: String, vecCol: String, model: Model,
              query: Seq[Float], k: Int, rerankFactor: Int = 4): DataFrame = {
    import spark.implicits._
    val q = query.map(_.toDouble).toArray
    val tB = spark.sparkContext.broadcast(model.dotTables(q))
    val mB = spark.sparkContext.broadcast(model)
    Ann.scanRerank(codes.as[(Long, Array[Byte])], emb, keyCol, vecCol, q, k, rerankFactor,
      "dot", Ann.Dot) { case (key, code) => (mB.value.adc(tB.value, code), key) }
  }

  /** Approximate top-k by ADC over the compressed codes, then EXACT
    * squared-L2 rerank of the k·rerankFactor survivors against the
    * original vectors. Returns (key, dist2) ascending, k rows. */
  def topK(spark: SparkSession, codes: DataFrame, emb: DataFrame,
           keyCol: String, vecCol: String, model: Model,
           query: Seq[Float], k: Int, rerankFactor: Int = 4): DataFrame = {
    import spark.implicits._
    val q = query.map(_.toDouble).toArray
    val tB = spark.sparkContext.broadcast(model.distTables(q))
    val mB = spark.sparkContext.broadcast(model)
    // a higher approximate score is better: the scan ranks by −ADC
    Ann.scanRerank(codes.as[(Long, Array[Byte])], emb, keyCol, vecCol, q, k, rerankFactor,
      "dist2", Ann.L2Squared) { case (key, code) => (-mB.value.adc(tB.value, code), key) }
  }
}
