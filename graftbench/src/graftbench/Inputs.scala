package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.WebCorpus

/** Every input is a function of the seed alone: corpus pages, micro-batch
  * pages, the query list, vectors and the write schedule. */
object Inputs {

  /** Pages [from, until) of the seeded corpus as (url, text, lang); the
    * micro-batches continue the ordinals after the bulk corpus, so every
    * appended url and per-doc rare term is new. */
  def pages(spark: SparkSession, seed: Long, from: Long, until: Long,
            partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, partitions).map(i => WebCorpus.page(seed, i)).toDF()
      .select("url", "text", "lang")
  }

  /** Order-independent content hash of a DataFrame (row count plus the xor
    * of per-row xxhash64 values), and one more long aggregate `extra`
    * computed in the same pass. */
  def frameHash(df: DataFrame, extra: Column = lit(0L)): (String, Long) = {
    val r = df.agg(count(lit(1)), expr(s"bit_xor(xxhash64(${df.columns.mkString(", ")}))"),
      extra.cast("long")).head()
    (f"${r.getLong(0)}%d:${r.getLong(1)}%016x", r.getLong(2))
  }

  def sha256(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }

  final case class Query(id: Int, kind: String, text: String)

  /** Query kinds and how many of each the list holds. Head terms have
    * long posting lists where block-max pruning can skip work, tail and
    * per-doc rare terms have one or two blocks, unknown terms plan to
    * nothing, and repeated terms test that planning dedups them. */
  val QueryKinds: Seq[(String, Int)] = Seq(
    "head" -> 50, "mixed" -> 50, "tail" -> 30, "rare" -> 30, "unknown" -> 20, "repeated" -> 20)

  def queries(seed: Long, nDocs: Long, scale: Double): Seq[Query] = {
    val rnd = new java.util.Random(seed * 6364136223846793005L + 1442695040888963407L)
    def head() = WebCorpus.term(rnd.nextInt(20))
    def mid() = WebCorpus.term(20 + rnd.nextInt(980))
    def tail() = WebCorpus.term(1000 + rnd.nextInt(WebCorpus.VocabSize - 1000))
    def rare() = s"rare${(rnd.nextDouble() * nDocs).toLong}x${rnd.nextInt(4)}"
    def unknown() = s"zq${rnd.nextInt(1000000)}"
    def midOrTail() = if (rnd.nextBoolean()) mid() else tail()
    def nTerms() = 1 + rnd.nextInt(4)
    val qs = QueryKinds.flatMap { case (kind, n0) =>
      val n = math.max(1, math.round(n0 * scale).toInt)
      Seq.fill(n) {
        val k = nTerms()
        val terms = kind match {
          case "head" => Seq.fill(k)(head())
          case "mixed" => head() +: Seq.fill(math.max(1, k - 1))(midOrTail())
          case "tail" => Seq.fill(k)(midOrTail())
          case "rare" => rare() +: Seq.fill(k - 1)(if (rnd.nextBoolean()) head() else mid())
          case "unknown" => unknown() +: Seq.fill(k - 1)(if (rnd.nextBoolean()) head() else mid())
          case "repeated" => val t = if (rnd.nextBoolean()) head() else mid(); Seq(t, t) ++ Seq.fill(k - 1)(mid())
        }
        (kind, terms.mkString(" "))
      }
    }
    val shuffled = scala.util.Random.javaRandomToRandom(rnd).shuffle(qs)
    shuffled.zipWithIndex.map { case ((kind, text), i) => Query(i, kind, text) }
  }

  /** The first `perKind` queries of each kind: the sample checked against the
    * brute-force oracle and replayed layer by layer. */
  def stratified(qs: Seq[Query], perKind: Int): Seq[Query] =
    qs.groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (_, g) => g.take(perKind) }

  // ---- vectors (the hard shape: overlapping clusters + uniform outliers)

  val Dim = 32
  val DataClusters = 64
  val OutlierShare = 0.2

  def vector(seed: Long, i: Long): Array[Float] = {
    val rnd = new scala.util.Random(seed * 1000003L + i * 2654435761L + 13)
    if (rnd.nextDouble() < OutlierShare) Array.fill(Dim)(rnd.nextGaussian().toFloat)
    else {
      val c = rnd.nextInt(DataClusters)
      val crnd = new scala.util.Random(seed * 7919L + c * 104729L + 1)
      Array.tabulate(Dim)(_ => (crnd.nextGaussian() + 0.9 * rnd.nextGaussian()).toFloat)
    }
  }

  def vectors(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(i => (i, vector(seed, i).toSeq))
      .toDF("vec_id", "embedding")
  }

  /** Fresh draws from the same distribution, never stored: query vectors
    * and the vectors writes put. */
  def freshVector(seed: Long, stream: Long, j: Long): Array[Float] =
    vector(seed, (stream + 1) * 1000000000L + j)
}
