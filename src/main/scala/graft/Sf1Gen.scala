package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10x scale-up of a driver testdata dir (sf0.1 -> "sf1"),
  * for the scale-escalation evidence run only — NOT a gate input.
  *
  * Scaling model mirrors how TPC-H itself scales: fact tables grow by the
  * replication factor with per-replica key-space shifts (each replica is
  * self-contained under every join), dimension tables (nation, region) stay
  * fixed. Workload-shape fidelity for the non-relational tables:
  *  - documents get a per-replica suffix token, so exact/near-dup group
  *    sizes stay sf-proportional instead of every doc gaining 9 verbatim
  *    copies (which would grow pair queries 100x, not 10x);
  *  - embeddings are cyclically dimension-shifted per replica
  *    (norm-preserving, decorrelating), so cosine-pair density per vector
  *    stays comparable instead of every vector gaining 9 exact twins.
  */
object Sf1Gen {
  /** Bench runs this each round for the standing sf1 escalation gate. */
  def generate(spark: SparkSession, src: String, out: String): Unit = {
    import spark.implicits._

    val repCol = spark.range(10).select($"id".cast("int").as("rep"))
    def gen(name: String)(f: DataFrame => DataFrame): Unit = {
      val t = spark.read.parquet(s"$src/$name.parquet")
      f(t.crossJoin(repCol)).drop("rep")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    def shifted(c: String, stride: Long): Column =
      col(c) + col("rep").cast("long") * lit(stride)

    gen("documents") { d =>
      val suffix = concat(lit(" rep"), $"rep".cast("string"))
      d.withColumn("doc_id", shifted("doc_id", 10000000L))
        .withColumn("text",
          when($"rep" === 0, $"text").otherwise(concat($"text", suffix)))
        .withColumn("n_chars",
          when($"rep" === 0, $"n_chars").otherwise($"n_chars" + length(suffix)))
    }
    gen("embeddings") { d =>
      d.withColumn("vec_id", shifted("vec_id", 10000000L))
        .withColumn("embedding", expr(
          "transform(embedding, (x, i) -> " +
            "element_at(embedding, ((i + rep) % size(embedding)) + 1))"))
    }
    gen("events") { d =>
      d.withColumn("event_id", shifted("event_id", 100000000L))
        .withColumn("user_id", shifted("user_id", 10000000L))
    }
    gen("lineitem") { d =>
      d.withColumn("l_orderkey", shifted("l_orderkey", 10000000L))
        .withColumn("l_partkey", shifted("l_partkey", 1000000L))
        .withColumn("l_suppkey", shifted("l_suppkey", 100000L))
    }
    gen("orders") { d =>
      d.withColumn("o_orderkey", shifted("o_orderkey", 10000000L))
        .withColumn("o_custkey", shifted("o_custkey", 1000000L))
    }
    gen("customer")(d => d.withColumn("c_custkey", shifted("c_custkey", 1000000L)))
    gen("part")(d => d.withColumn("p_partkey", shifted("p_partkey", 1000000L)))
    gen("supplier")(d => d.withColumn("s_suppkey", shifted("s_suppkey", 100000L)))
    Seq("nation", "region").foreach { name =>
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
  }
}
