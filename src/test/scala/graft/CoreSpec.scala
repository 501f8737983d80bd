package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import scala.util.Random

/** Property tests for the pure-Scala kernels, modeled on the reference's
  * randomized per-operator unit tests (jvector TestLongHeap / NodeArray
  * randomized suites; seeded like their LuceneTestCase.getRandom()). */
class CoreSpec extends AnyFunSuite {

  def forAllSeeded(iters: Int = 200)(body: Random => Unit): Unit = {
    val rnd = new Random(42)
    (0 until iters).foreach(_ => body(rnd))
  }

  test("termFreqs fast ASCII path == tokenize-derived frequencies (property)") {
    val pool = "abzAZ09 .,-_!?\t\n#@" // mixed case/digits/separators
    forAllSeeded(500) { rnd =>
      val s = Array.fill(rnd.nextInt(400))(pool(rnd.nextInt(pool.length))).mkString
      val (tf, len) = Text.termFreqs(s)
      val toks = Text.tokenize(s)
      assert(len == toks.length, s"len mismatch for <$s>")
      val want = toks.groupBy(identity).view.mapValues(_.length).toMap
      assert(tf.toMap == want, s"tf mismatch for <$s>")
      assert(tf.map(_._1).toSeq == tf.map(_._1).toSeq.sorted) // term-asc order
    }
    // non-ASCII falls back to the frozen tokenizer (same results)
    Seq("héllo wörld foo", "ascii then ünïcode", "日本語 text 42", "İstanbul I") // scalastyle:ignore
      .foreach { s =>
        val (tf, len) = Text.termFreqs(s)
        val toks = Text.tokenize(s)
        assert(len == toks.length && tf.toMap ==
          toks.groupBy(identity).view.mapValues(_.length).toMap, s"<$s>")
      }
    // very long single token exercises buffer growth
    val long = "x" * 5000 + " y"
    assert(Text.termFreqs(long)._1.toMap == Map(("x" * 5000) -> 1, "y" -> 1))
  }

  test("tokenizeInto streaming sink == frozen tokenize (property)") {
    val pool = "abzAZ09 .,-_!?\t\n#@"
    def drain(s: String): Option[Seq[String]] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      val n = Text.tokenizeInto(s, (buf, len) => got += new String(buf, 0, len))
      if (n < 0) None else { assert(n == got.length); Some(got.toSeq) }
    }
    forAllSeeded(500) { rnd =>
      val s = Array.fill(rnd.nextInt(400))(pool(rnd.nextInt(pool.length))).mkString
      assert(drain(s).contains(Text.tokenize(s).toSeq), s"<$s>")
    }
    // non-ASCII: must return -1 WITHOUT emitting any token (atomic fallback)
    Seq("héllo wörld", "ascii then ünïcode", "日本語 42").foreach { s =>
      var called = false
      assert(Text.tokenizeInto(s, (_, _) => called = true) == -1 && !called, s"<$s>")
    }
    assert(drain("x" * 5000 + " Y9").contains(Seq("x" * 5000, "y9"))) // buffer growth
  }

  test("codec: docId delta-varbyte round-trips (property)") {
    forAllSeeded() { rnd =>
      val n = rnd.nextInt(300)
      val ids = Array.fill(n)(rnd.nextLong(1L << 40)).distinct.sorted
      val enc = Codec.encodeDocIds(ids, -1L)
      assert(Codec.decodeDocIds(enc, -1L).toSeq == ids.toSeq)
    }
    // three runs concatenated in one buffer, each decoded in place from
    // its offset into a reused array; every end offset is exact
    forAllSeeded() { rnd =>
      val runs = Array.fill(3)(Array.fill(rnd.nextInt(200))(rnd.nextLong(1L << 40)).distinct.sorted)
      val encs = runs.map(Codec.encodeDocIds(_, -1L))
      val buf = encs.flatten
      val out = new Array[Long](200)
      var off = 0
      runs.zip(encs).foreach { case (ids, enc) =>
        val end = Codec.readDocIds(buf, off, ids.length, -1L, out)
        assert(end == off + enc.length)
        assert(out.take(ids.length).toSeq == ids.toSeq)
        off = end
      }
    }
  }

  test("codec: tf varbyte round-trips (property)") {
    forAllSeeded() { rnd =>
      val tfs = Array.fill(rnd.nextInt(300))(1 + rnd.nextInt(1 << 20))
      assert(Codec.decodeTfs(Codec.encodeTfs(tfs)).toSeq == tfs.toSeq)
    }
    // three runs concatenated in one buffer, decoded from their offsets
    forAllSeeded() { rnd =>
      val runs = Array.fill(3)(Array.fill(rnd.nextInt(300))(1 + rnd.nextInt(1 << 20)))
      val encs = runs.map(Codec.encodeTfs)
      val buf = encs.flatten
      val out = new Array[Long](300)
      var off = 0
      runs.zip(encs).foreach { case (tfs, enc) =>
        val end = Codec.readTfs(buf, off, tfs.length, out)
        assert(end == off + enc.length)
        assert(out.take(tfs.length).toSeq == tfs.toSeq.map(_.toLong))
        off = end
      }
    }
  }

  test("codec: consecutive ids cost ~1 byte each") {
    val ids = (1000L until 2000L).toArray
    val enc = Codec.encodeDocIds(ids, 999L)
    assert(enc.length == ids.length)
  }

  test("codec: rejects non-increasing ids") {
    intercept[IllegalArgumentException] {
      Codec.encodeDocIds(Array(5L, 5L), -1L)
    }
  }

  test("topk: matches sort-based oracle incl. tie-break (property)") {
    forAllSeeded() { rnd =>
      val k = 1 + rnd.nextInt(20)
      // few distinct scores to force score ties -> exercises docId tie-break
      val xs = List.fill(rnd.nextInt(200))(
        (rnd.nextInt(8).toFloat, rnd.nextInt(1000))).distinct
      val heap = new TopK(k)
      xs.foreach { case (s, d) => heap.offer(s, d) }
      val got = heap.drain().toSeq
      val oracle = xs.sortBy { case (s, d) => (-s, d) }.take(k)
      assert(got == oracle, s"k=$k xs=$xs")
    }
  }

  test("topk: threshold is kth best once full") {
    val h = new TopK(3)
    Seq(1f, 5f, 3f, 4f, 2f).zipWithIndex.foreach { case (s, i) => h.offer(s, i) }
    assert(h.threshold == 3f)
    assert(h.drain().toSeq == Seq((5f, 1), (4f, 3), (3f, 2)))
  }

  test("topk: wouldAccept consistent with offer") {
    forAllSeeded(50) { rnd =>
      val h = new TopK(5)
      (0 until 50).foreach { _ =>
        val s = rnd.nextInt(4).toFloat; val d = rnd.nextInt(100)
        val predicted = h.wouldAccept(s, d)
        assert(h.offer(s, d) == predicted)
      }
    }
  }

  test("tokenizer: frozen golden cases") {
    assert(Text.tokenize("Hello, World!").toSeq == Seq("hello", "world"))
    assert(Text.tokenize("a  b\tc\nd").toSeq == Seq("a", "b", "c", "d"))
    assert(Text.tokenize("x1 2y Z9").toSeq == Seq("x1", "2y", "z9"))
    assert(Text.tokenize("...").toSeq == Seq())
    assert(Text.tokenize("").toSeq == Seq())
    assert(Text.tokenize("naïve café 北京").toSeq == Seq("na", "ve", "caf"))
  }

  test("termFreqs: counts and docLen") {
    val (tfs, len) = Text.termFreqs("a b a c b a")
    assert(len == 6)
    assert(tfs.toSeq == Seq(("a", 3), ("b", 2), ("c", 1)))
  }

  test("extractor: frozen golden cases") {
    assert(Text.extract("<html><body>hi <b>there</b></body></html>") == "hi there")
    assert(Text.extract("a &amp; b &lt;c&gt;") == "a & b <c>")
    assert(Text.extract("  <p>x</p>\n<p>y</p> ") == "x y")
  }

  test("bm25: known value and monotonicity (property)") {
    val s = Text.score(tf = 2, docLen = 100, df = 10, n = 1000, avgdl = 100.0)
    val idf = math.log(1.0 + (1000 - 10 + 0.5) / 10.5)
    val tfp = 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75))
    assert(math.abs(s - idf * tfp) < 1e-12)
    forAllSeeded() { rnd =>
      val tf = 1 + rnd.nextInt(100)
      val n = 10000L
      val df = 1L + rnd.nextInt(9999)
      assert(Text.score(tf + 1, 100, df, n, 100.0) > Text.score(tf, 100, df, n, 100.0))
      assert(Text.score(tf, 100, df, n, 100.0) >= Text.score(tf, 100, df.min(n - 50) + 50, n, 100.0))
    }
  }

  test("bench report: 6 rounds of 3 levels print one JSON line under 2,000 characters") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val names = SparkEntry.queries.keys.toSeq.sorted
    val rnd = new Random(7)
    // every gate query slow enough to print three integer digits
    val qt = names.map(_ -> (100 + rnd.nextDouble() * 800))
    val sf1 = names.map(_ -> (1000 + rnd.nextDouble() * 8000))
    val phases = """{"sort_count_s":41.2,"chunk_write_s":55.3,"dict_s":3.1,"docs_write_s":12.7}"""
    def level(tag: String, n: Int, base: Double) =
      Bench.Level(tag, Seq.fill(n)(base * (1 + rnd.nextDouble())), phases)
    val levels = Seq(level("c2", 6, 140), level("c8", 6, 38), level("c32", 3, 22))
    val pairs = Seq(0.513, 0.850, 0.593, 0.349, 1.112, 0.565)
    val path = "/a/fairly/long/checkout/path/target/graft-bench/evidence-1790000000000.json"
    def check(levels: Seq[Bench.Level], pairs: Seq[Double]): Unit = {
      val (line, evidence) = Bench.report("/data/sf0.1", qt, sf1, 12.3, 140.5, 7.9,
        1080000L, 6, levels, pairs, path)
      assert(line.length < 2000, s"${line.length} characters: $line")
      assert(!line.contains("\n"))
      val j = mapper.readTree(line)
      assert(j.get("evidence").asText == path)
      val eff = j.get("build").get("scaling_efficiency").get("n2_to_n8")
      assert(eff.isNull || (eff.asDouble >= 0 && eff.asDouble <= 1), line)
      val ev = mapper.readTree(evidence)
      assert(ev.get("queries").size == names.size && ev.get("sf1").get("ratio_vs_sf").size == names.size)
      assert(ev.get("samples").get("c2").size == levels.head.samples.size)
      assert(ev.get("phases_at_floor").get("c2").get("chunk_write_s").asDouble == 55.3)
    }
    check(levels, pairs)
    // every build of a level failed and no pair is possible: nulls, still JSON
    check(levels.updated(1, Bench.Level("c8", Nil, "{}")), Seq(1.2, 1.3))
  }

  test("entry points: exactly IndexCli, Bench, BenchBuildOne and Verify have a main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // a probe or a one-off tool added as a main must be a deliberate edit
    // of this list; the evidence of a measurement goes to tools/ instead
    val objectDecl = """(?m)^[ \t]*(?:private(?:\[\w+\])?\s+|final\s+|case\s+)*object\s+(\w+)""".r
    val entry = """def\s+main\s*\(|extends\s+App\b""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val mains = files.flatMap { f =>
      val src = Files.readString(f)
      entry.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.end)).map(_.group(1)).toSeq.lastOption
          .getOrElse(fail(s"an entry point outside any object in $f"))
      }
    }.sorted
    assert(files.nonEmpty)
    assert(mains == Seq("Bench", "BenchBuildOne", "IndexCli", "Verify"), mains.mkString(", "))
  }
}
