package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.corpus.WebCorpus
import graft.index._
import graft.streaming.StreamingIndex

import scala.jdk.CollectionConverters._

/** The on-disk segment format (v3): what each file stores and how it is
  * encoded, that v2 dirs still load and answer identically, that a newer
  * format is refused, and that catalog reads launch no Spark job. */
class FormatSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-format-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val opts = IndexBuilder.Options(numShards = 8, rangePartitions = 8)
  private val pages = (0L until 640L).map(i => WebCorpus.page(23L, i))
  private def toDf(ps: Seq[WebCorpus.Page]): DataFrame = {
    import spark.implicits._
    ps.map(p => (p.url, p.text, p.lang)).toDF("url", "text", "lang")
  }
  private val queries = Seq("t0 t1", "t5 t100 t2000", "t7", "t42 t42 t9999",
    "t1 t2 t3 t4 t5", "t123 t456 t789", "rare3x0", "nosuchterm12345")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString
  private def fs: FileSystem = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** (file, column -> (codec, encodings)) of every parquet file under `dir`. */
  private def footers(dir: String): Seq[(String, Map[String, (CompressionCodecName, Set[String])])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val it = fs.listFiles(new Path(dir), true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(files.nonEmpty, s"no parquet files under $dir")
    files.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try p.toString -> r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString).map { case (c, chunks) =>
          c -> (chunks.head.getCodec, chunks.flatMap(_.getEncodings.asScala.map(_.toString)).toSet)
        }
      finally r.close()
    }
  }
  private def usesDictionary(encodings: Set[String]): Boolean = encodings.exists(_.contains("DICTIONARY"))

  private def blockRows(ix: InvertedIndex) = ix.blocks.collect()
    .map(b => (b.term, b.bucket, b.shard, b.firstDocId, b.lastDocId, b.n,
      b.docBytes.toSeq, b.tfBytes.toSeq, b.dlBytes.toSeq, b.maxTf, b.minDl, b.tfSum)).toSet

  private def answers(ix: InvertedIndex): Seq[Seq[(Long, Double)]] = {
    import spark.implicits._
    queries.map(q => ix.search(q, 10).select($"docId", $"score").as[(Long, Double)].collect().toSeq)
  }

  /** Sets the `formatVersion` a committed snapshot file records. */
  private def setFormat(dir: String, version: Long, format: Long): Unit = {
    val p = new Path(f"$dir/catalog/snap-$version%08d.json")
    val in = fs.open(p)
    val json = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    val out = fs.create(p, true)
    try out.write(json.replaceFirst("\"formatVersion\":\\d+", s""""formatVersion":$format""")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** The v2 layout, written the way format-v2 writers wrote it: snappy, no
    * parquet dictionaries, and all twelve block columns stored. */
  private def writeV2(ix: InvertedIndex, dir: String): Unit = {
    ix.blocks.sortWithinPartitions(col("bucket"), col("term"), col("shard"), col("firstDocId"))
      .write.option("compression", "snappy").option("parquet.enable.dictionary", "false")
      .parquet(SegmentCatalog.blocksChunkPath(dir, "w1"))
    ix.docs.write.option("compression", "snappy").parquet(SegmentCatalog.docsChunkPath(dir, "w1"))
    ix.dict.write.option("compression", "snappy").parquet(SegmentCatalog.dictPath(dir, 1))
    SegmentCatalog.commit(spark, dir, SegmentCatalog.Snapshot(
      version = 1, parent = 0, op = "save", tsMs = System.currentTimeMillis(),
      formatVersion = SegmentCatalog.FormatVersion, blockChunks = Seq("w1"), docChunks = Seq("w1"),
      dictVersion = 1, stats = ix.stats, maxStreamBatch = -1, nextDocId = ix.stats.numDocs))
    setFormat(dir, 1, 2)
  }

  lazy val corpusPath: String = {
    val p = s"${tmp("graft-format-corpus")}/corpus"
    toDf(pages.take(600)).repartition(4).write.parquet(p)
    p
  }

  /** A 4-chunk build with the 4 chunks written concurrently: its dir and
    * per-chunk bytes. */
  private def build(): (String, Seq[(Int, Long)]) = {
    val dir = tmp("graft-v3-build")
    ResumableBuild.build(spark, spark.read.parquet(corpusPath), dir, opts, numChunks = 4,
      assumeSorted = true, parallelChunks = 4)
    (dir, ResumableBuild.readManifest(spark, dir).map(m => (m.chunk, m.bytes)))
  }

  test("format v3 files: zstd everywhere, plain payloads, no derived block columns; concurrent chunk writes give identical bytes") {
    val (dir, bytes) = build()
    val (_, again) = build()
    assert(bytes.size == 4 && bytes == again, s"chunk bytes differ between builds: $bytes vs $again")
    val payloads = Set("docBytes", "tfBytes", "dlBytes")
    Seq("blocks", "docs", "dict").foreach { table =>
      footers(s"$dir/$table").foreach { case (file, cols) =>
        cols.foreach { case (c, (codec, enc)) =>
          assert(codec == CompressionCodecName.ZSTD, s"$file column $c: $codec")
          if (payloads(c)) assert(enc.contains("PLAIN") && !usesDictionary(enc), s"$file column $c: $enc")
        }
        if (table == "blocks") {
          assert(cols.keySet == Set("term", "bucket", "shard", "firstDocId", "docBytes", "tfBytes",
            "dlBytes", "maxTf", "minDl"), s"$file stores ${cols.keySet}")
          assert(usesDictionary(cols("shard")._2), s"$file: shard ${cols("shard")._2}")
        }
      }
    }
    assert(SegmentCatalog.current(spark, dir).formatVersion == 3L)
  }

  test("a chunked build beside concurrent ANN saves writes the bytes of a build alone, plain payloads") {
    import spark.implicits._
    val (_, alone) = build()
    val rnd = new scala.util.Random(5)
    val emb = (0L until 400L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").persist()
    val graph = graft.ops.Nsw.build(spark, emb, "vec_id", "embedding",
      graft.ops.Nsw.Params(m = 4, efConstruction = 16, kCenters = 4, iters = 1))
    val pq = graft.ops.Pq.train(spark, emb, "vec_id", "embedding", m = 4, iters = 2)
    val codes = graft.ops.Pq.encode(spark, emb, "vec_id", "embedding", pq).persist()
    // ANN saves run back to back on another thread for the whole build
    val annRoot = tmp("graft-ann-beside-build")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val saves = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var failure: Throwable = null
    val saver = new Thread(() =>
      try while (!stop.get) {
        val i = saves.get
        graft.ops.Nsw.save(spark, graph, s"$annRoot/nsw-$i")
        graft.ops.Pq.save(spark, pq, codes, s"$annRoot/pq-$i")
        saves.incrementAndGet()
      } catch { case t: Throwable => failure = t })
    saver.start()
    val (dir, beside) = try build() finally { stop.set(true); saver.join() }
    assert(failure == null, s"ANN save failed: $failure")
    assert(saves.get > 0, "premise: an ANN save ran during the build")
    assert(beside == alone, s"chunk bytes beside ANN saves $beside vs alone $alone")
    val payloads = Set("docBytes", "tfBytes", "dlBytes")
    footers(s"$dir/blocks").foreach { case (file, cols) =>
      payloads.foreach { c =>
        val enc = cols(c)._2
        assert(enc.contains("PLAIN") && !usesDictionary(enc), s"$file column $c: $enc")
      }
    }
    graph.unpersist()
    Seq(emb, codes).foreach(_.unpersist())
  }

  test("a v2 dir loads and answers like v3; an append to it commits v3; a newer format is refused") {
    val ix = IndexBuilder.build(spark, toDf(pages.take(600)), opts)
    val v3 = tmp("graft-v3")
    ix.save(v3)
    val v2 = tmp("graft-v2")
    writeV2(ix, v2)
    // premise: the hand-written dir is the v2 layout
    footers(s"$v2/blocks").foreach { case (file, cols) =>
      assert(Set("lastDocId", "n", "tfSum").subsetOf(cols.keySet), s"$file: ${cols.keySet}")
      assert(cols.values.forall { case (codec, enc) =>
        codec == CompressionCodecName.SNAPPY && !usesDictionary(enc) }, s"$file: $cols")
    }
    assert(SegmentCatalog.current(spark, v2).formatVersion == 2L)

    val (old, cur) = (InvertedIndex.load(spark, v2), InvertedIndex.load(spark, v3))
    // derived lastDocId, n and tfSum equal what v2 stored and v3 dropped
    val want = blockRows(ix)
    assert(blockRows(old) == want)
    assert(blockRows(cur) == want)
    assert(old.dict.collect().toSet == cur.dict.collect().toSet)
    assert(old.stats == cur.stats)
    val a = answers(old)
    assert(a.count(_.nonEmpty) >= 6, "premise: the queries find documents")
    assert(a == answers(cur))
    assert(a == answers(ix))

    // an append writes v3 files next to the v2 ones and commits format v3
    val batch = pages.drop(600)
    StreamingIndex.appendBatch(spark, toDf(batch), v2, opts, 0L)
    val appended = StreamingIndex.refresh(spark, v2)
    assert(SegmentCatalog.listSnapshots(spark, v2).map(s => (s.op, s.formatVersion)) ==
      Seq(("save", 2L), ("append", 3L), ("refresh", 3L)))
    assert(appended.stats.numDocs == 640)
    val rare = batch.iterator
      .flatMap(p => graft.core.Text.tokenize(p.text).find(_.startsWith("rare"))).next()
    val hits = appended.search(rare, 10).select(col("docId")).collect().map(_.getLong(0))
    assert(hits.nonEmpty && hits.forall(_ >= 600), s"'$rare' -> ${hits.toSeq}")
    assert(appended.blocks.count() > old.blocks.count())

    // a snapshot of a newer format is refused, naming its version
    setFormat(v3, 1, 4)
    val err = intercept[IllegalStateException] { InvertedIndex.load(spark, v3) }
    assert(err.getMessage.contains("format v4") && err.getMessage.contains("up to v3"), err.getMessage)
  }

  test("catalog reads pass their schema: load plus a block read launch no Spark job") {
    val dir = tmp("graft-nojobs")
    ResumableBuild.build(spark, spark.read.parquet(corpusPath), dir, opts, numChunks = 2)
    val snap = SegmentCatalog.current(spark, dir)
    val (_, shape) = ServingProbes.jobShape(spark.sparkContext) {
      val ix = InvertedIndex.load(spark, dir)
      val blocks = SegmentCatalog.readBlockChunks(spark, dir, snap.blockChunks.take(1))
      Seq(ix.blocks, ix.docs, ix.dict, blocks).foreach(_.queryExecution.executedPlan)
    }
    assert(shape == ServingProbes.Shape(0, Nil), s"catalog reads ran $shape")
  }
}
