package graft.index

/** Typed rows of the index — the engine's data model (SURVEY.md §1.2).
  *
  * The index is document-sharded (classic distributed-search layout): a
  * `shard` is a contiguous docId range; each shard holds complete posting
  * runs for its docs, so top-k scoring is shard-local with one tiny global
  * merge — the Spark re-architecture of jvector's single-JVM search
  * (graph/GraphSearcher.java:128-134), where all traversal state stays
  * thread-local and only the result crosses a boundary.
  */

/** One document's metadata; docId is the dense ordinal (jvector's node
  * ordinal, RandomAccessVectorValues.java:47-48) assigned by sorted-url
  * prefix sums, NOT monotonically_increasing_id (not dense). */
final case class DocMeta(docId: Long, shard: Int, url: String, docLen: Int, lang: String)

/** One compressed posting block: <= Codec.BlockSize postings of one
  * (term, shard), docIds strictly increasing, self-contained encoding.
  * `(maxTf, minDl)` are the block-max metadata WAND uses for exact
  * skipping: the query-time upper bound is idf(term) *
  * tfPartial(maxTf, minDl, avgdl), computed under the CURRENT avgdl —
  * tfPartial is monotone increasing in tf and decreasing in docLen, so
  * the bound stays valid when corpus stats drift (incremental appends,
  * compaction) without rewriting segments; segments hold only integers.
  * `bucket` = hash(term) % DictBuckets drives file-level pruning when
  * persisted (partitionBy("bucket")). */
final case class Block(
    term: String,
    bucket: Int,
    shard: Int,
    firstDocId: Long,
    lastDocId: Long,
    n: Int,
    docBytes: Array[Byte],
    tfBytes: Array[Byte],
    dlBytes: Array[Byte],
    maxTf: Int,
    minDl: Int,
    tfSum: Long)

/** Dictionary row: global per-term stats (df = doc freq, cf = collection
  * freq, (maxTf, minDl) = global tf-part bound inputs). */
final case class DictEntry(term: String, df: Long, cf: Long, maxTf: Int, minDl: Int)

/** Global corpus stats — the engine's `approximateCentroid` analog
  * (jvector graph/similarity/BuildScoreProvider.java:100-111): one tiny
  * aggregate broadcast to every scorer. */
final case class IndexStats(numDocs: Long, totalTokens: Long, avgdl: Double, numShards: Int)

/** A scored hit; ranks are 1-based, (score desc, docId asc) — the
  * deterministic tie-break adopted from jvector's NodeQueue packing
  * (graph/NodeQueue.java:114-117): smaller id wins ties. */
final case class ScoredDoc(docId: Long, score: Double)

/** Per-segment lineage + metrics row of the build manifest (the engine's
  * analog of the on-disk header + incremental-write protocol,
  * graph/disk/OnDiskGraphIndexWriter.java:62-156): one row per completed
  * build chunk; resume skips chunks whose row says done. */
final case class ManifestRow(
    chunk: Int,
    status: String,
    docs: Long,
    postings: Long,
    blocks: Long,
    bytes: Long,
    elapsedMs: Long,
    docsPerSec: Double,
    metaBytes: Long = 0L) // varint size of block-max (maxTf, minDl) metadata

object Model {
  /** Number of term-hash buckets used for persisted-segment pruning. */
  val DictBuckets = 64
  def bucketOf(term: String): Int = math.floorMod(term.hashCode, DictBuckets)
}
