package graft.core

/** Posting-list compression kernels (pure Scala, no Spark).
  *
  * Delta-gap + variable-byte block coding of sorted docId runs, per the
  * PForDelta/VByte family. This is the engine's analog of the reference's
  * lossless/lossy vector compression stage (jvector
  * `pq/ProductQuantization.java:389-430` encode/decode pair) — here the
  * payload is monotone Long runs + small Int frequencies instead of float
  * vectors, so the right codec is gap+varbyte, not PQ.
  *
  * Layout invariants:
  *  - docIds within a block are strictly increasing; first value is stored
  *    as a delta from `base` (the previous block's last docId, or 0).
  *  - tfs are >= 1 and stored as (tf - 1) varbyte.
  *  - A block holds at most [[Codec.BlockSize]] postings.
  */
object Codec {
  /** Postings per block. 128 mirrors the classic block-max literature and
    * keeps skip granularity fine enough for WAND. */
  val BlockSize = 128

  // ---------------- varbyte ----------------

  /** Encoded byte size of a non-negative value under [[writeVLong]] —
    * shared by the manifest metaBytes accounting. */
  def vlen(v0: Long): Int = {
    var n = 1
    var v = v0 >>> 7
    while (v != 0) { n += 1; v >>>= 7 }
    n
  }

  /** Append v as LEB128-style varbyte (7 bits per byte, high bit = continue). */
  def writeVLong(buf: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    require(v0 >= 0, s"varbyte requires non-negative, got $v0")
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      buf.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    buf.write(v.toInt)
  }

  /** Decode `n` varbyte values from `bytes` at `off` into `out(0 until n)`;
    * returns the offset just past the last value. The one varbyte reader:
    * every decode goes through it, primitive end to end (no boxing, no
    * intermediate buffer), so a caller can decode a block in place into
    * arrays it reuses. */
  def readVLongs(bytes: Array[Byte], off: Int, n: Int, out: Array[Long]): Int = {
    var i = off
    var j = 0
    while (j < n) {
      var v = 0L; var shift = 0; var b = 0
      do {
        b = bytes(i) & 0xFF; i += 1
        v |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      out(j) = v
      j += 1
    }
    i
  }

  /** Number of varbyte values in `bytes` (one terminal byte each): a
    * block's posting count, from its docBytes or its tfBytes. */
  def count(bytes: Array[Byte]): Int = {
    var c = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) >= 0) c += 1; i += 1 }
    c
  }

  /** Σ (v + 1) over the varbyte values in `bytes`, without decoding into
    * an array. Both gap-1 docIds and tf-1 store "value minus one", so this
    * is a tf section's tf total, and one more than the last docId of a
    * docId section encoded from base -1 (see [[lastDocId]]). */
  private def sumPlusOne(bytes: Array[Byte]): Long = {
    var total = 0L
    var v = 0L; var shift = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      v |= (b & 0x7FL) << shift; shift += 7
      if (b >= 0) { total += v + 1; v = 0L; shift = 0 }
      i += 1
    }
    total
  }

  /** Last docId of a block's docBytes (encoded from base -1, as every
    * stored block is). */
  def lastDocId(docBytes: Array[Byte]): Long = sumPlusOne(docBytes) - 1

  /** Sum of the term frequencies in a block's tfBytes. */
  def tfSum(tfBytes: Array[Byte]): Long = sumPlusOne(tfBytes)

  /** `n` delta-gap docIds from `bytes` at `off` into `out`, gaps undone from
    * `base` (see [[encodeDocIds]]); returns the end offset. */
  def readDocIds(bytes: Array[Byte], off: Int, n: Int, base: Long, out: Array[Long]): Int = {
    val end = readVLongs(bytes, off, n, out)
    var prev = base
    var i = 0
    while (i < n) { prev = prev + out(i) + 1; out(i) = prev; i += 1 }
    end
  }

  /** `n` term frequencies (or doc lengths, same coding) from `bytes` at
    * `off` into `out`; returns the end offset. */
  def readTfs(bytes: Array[Byte], off: Int, n: Int, out: Array[Long]): Int = {
    val end = readVLongs(bytes, off, n, out)
    var i = 0
    while (i < n) { out(i) += 1; i += 1 }
    end
  }

  /** Delta-gap + varbyte encode a strictly-increasing docId run.
    * @param base exclusive lower bound (previous block's last docId; -1 for first block)
    */
  def encodeDocIds(docIds: Array[Long], base: Long): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(docIds.length * 2)
    var prev = base
    var i = 0
    while (i < docIds.length) {
      val d = docIds(i)
      require(d > prev, s"docIds must be strictly increasing: $d after $prev")
      writeVLong(buf, d - prev - 1) // gap-1: consecutive ids cost 1 byte of 0
      prev = d
      i += 1
    }
    buf.toByteArray
  }

  def decodeDocIds(bytes: Array[Byte], base: Long): Array[Long] = {
    val out = new Array[Long](count(bytes))
    readDocIds(bytes, 0, out.length, base, out)
    out
  }

  /** Varbyte encode term frequencies (each >= 1; stored as tf-1). */
  def encodeTfs(tfs: Array[Int]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(tfs.length)
    var i = 0
    while (i < tfs.length) {
      require(tfs(i) >= 1, s"tf must be >= 1, got ${tfs(i)}")
      writeVLong(buf, (tfs(i) - 1).toLong)
      i += 1
    }
    buf.toByteArray
  }

  def decodeTfs(bytes: Array[Byte]): Array[Int] = {
    val vs = new Array[Long](count(bytes))
    readTfs(bytes, 0, vs.length, vs)
    val out = new Array[Int](vs.length)
    var i = 0
    while (i < vs.length) { out(i) = vs(i).toInt; i += 1 }
    out
  }
}
