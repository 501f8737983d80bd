package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Analyze

/** Text-analysis operators for training-data pipelines. Quality and token
  * counting are pure Catalyst (codegen'd); language-ID, SimHash and
  * fingerprinting wrap the deterministic core.Analyze kernels as UDFs
  * (each has a bit-identical ANSI-SQL oracle — see GateOracle). */
object TextOps {

  /** Quality metrics: token/type counts, type-token ratio, stopword ratio
    * (stopwords {the, a}). Ratios quantized *1e4 for oracle compare. */
  def quality(docs: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val toks = regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))
    docs.select(col(keyCol),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        size(filter(toks, t => t === "the" || t === "a")).cast("long").as("n_stop"))
      .withColumn("ttr_q",
        when(col("n_tokens") > 0,
          round(col("n_types") * 10000.0 / col("n_tokens")).cast("long")).otherwise(0L))
      .withColumn("stop_q",
        when(col("n_tokens") > 0,
          round(col("n_stop") * 10000.0 / col("n_tokens")).cast("long")).otherwise(0L))
  }

  /** Token counting: alnum-regex tokens (BPE-ish word pieces) and
    * whitespace-split tokens. */
  def tokenCounts(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    docs.select(col(keyCol),
      size(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)))
        .cast("long").as("n_alnum"),
      size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
        .cast("long").as("n_ws"))

  private val langIdUdf = udf((t: String) => Analyze.langId(if (t == null) "" else t))
  private val simhashUdf = udf((t: String) => Analyze.simhash60(if (t == null) "" else t))
  private val fpUdf = udf((t: String) => Analyze.fingerprint15(if (t == null) "" else t))

  def langId(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    docs.select(col(keyCol), langIdUdf(col(textCol)).as("lang_pred"))

  def simhash(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    docs.select(col(keyCol), simhashUdf(col(textCol)).as("simhash"))

  def fingerprint(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    docs.select(col(keyCol), fpUdf(col(textCol)).as("fp"))

  /** SimHash near-dup pairs: hamming distance <= maxDist on the 60-bit
    * simhash. Scale path: bucket on bit-bands (pigeonhole: dist <= d means
    * at least one of d+1 bands matches exactly), then verify. */
  def simhashNearDups(docs: DataFrame, keyCol: String, textCol: String,
                      maxDist: Int): DataFrame = {
    val sh = docs.select(col(keyCol).as("key"), simhashUdf(col(textCol)).as("sh"))
    val nBands = maxDist + 1
    val width = 60 / nBands
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sh"), b * width).bitwiseAND(lit((1L << width) - 1)).as("bucket"))
    }
    val banded = sh.select(col("key"), col("sh"), explode(array(bandCols: _*)).as("bb"))
      .select(col("key"), col("sh"), col("bb.band"), col("bb.bucket"))
    val l = banded.toDF("a", "sha", "band", "bucket")
    val r = banded.toDF("b", "shb", "band", "bucket")
    val hammingUdf = udf((x: Long, y: Long) => Analyze.hamming60(x, y))
    l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("sha"), col("shb")).distinct()
      .withColumn("dist", hammingUdf(col("sha"), col("shb")))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }
}
