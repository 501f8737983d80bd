package graft.core

/** Pure text-analysis kernels for the training-data pipeline operators.
  * Every function here is deliberately specified so an ANSI-SQL oracle can
  * reproduce it bit-for-bit (md5-based hashing, integer bit math — no
  * JVM-private hash functions).
  */
object Analyze {

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Normalized text: tokens joined by single spaces — equals
    * trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')) by construction. */
  def normalize(text: String): String = Text.tokenize(text).mkString(" ")

  /** Document fingerprint: first 15 hex chars of md5(normalize(text)) —
    * 60 bits, SQL-reproducible. */
  def fingerprint15(text: String): String = md5Hex(normalize(text)).substring(0, 15)

  /** 60-bit SimHash over tf-weighted terms. Spec (mirrored in SQL):
    * for each distinct term with weight w = tf, h = md5(term) hex;
    * bit i (0..59) value = (hexval(h[i/4]) >> (3 - i%4)) & 1;
    * acc_i += w * (2*bit - 1); result bit_i = [acc_i > 0], packed
    * big-endian: Σ bit_i * 2^(59-i). */
  def simhash60(text: String): Long = {
    val (tfs, _) = Text.termFreqs(text)
    val acc = new Array[Long](60)
    tfs.foreach { case (term, w) =>
      val h = md5Hex(term)
      var i = 0
      while (i < 60) {
        val nib = Character.digit(h.charAt(i / 4), 16)
        val bit = (nib >> (3 - i % 4)) & 1
        acc(i) += w.toLong * (2 * bit - 1)
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 60) {
      if (acc(i) > 0) out |= 1L << (59 - i)
      i += 1
    }
    out
  }

  @inline def hamming60(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Language-ID by stopword-marker voting (n-gram-free heuristic; the
    * marker lists are the spec). Ties break to the alphabetically first
    * language; zero hits -> "unknown". */
  val LangMarkers: Seq[(String, Set[String])] = Seq(
    "de" -> Set("der", "die", "und"),
    "en" -> Set("the", "a", "of"),
    "es" -> Set("el", "los", "y"),
    "fr" -> Set("le", "la", "et"))

  def langId(text: String): String = {
    val toks = Text.tokenize(text)
    var best = "unknown"
    var bestCount = 0L
    LangMarkers.foreach { case (lang, markers) =>
      var c = 0L
      toks.foreach(t => if (markers.contains(t)) c += 1)
      if (c > bestCount) { best = lang; bestCount = c }
    }
    best
  }

  /** Char 5-gram shingles of the normalized text (dedup candidates).
    * Returns distinct shingles; texts shorter than 5 chars yield the
    * whole normalized text as a single shingle (or none if empty). */
  def shingles5(text: String): Set[String] = {
    val n = normalize(text)
    if (n.isEmpty) Set.empty
    else if (n.length < 5) Set(n)
    else (0 to n.length - 5).map(i => n.substring(i, i + 5)).toSet
  }

  /** 31-bit shingle hash: first 7 hex chars of md5 (28 bits) —
    * SQL-reproducible and safe for (a*x+b) mod p in 64-bit math. */
  def shingleHash31(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 7), 16)

  /** Deterministic MinHash permutation params (seeded LCG-style, seed 42). */
  val MinHashP = 2147483647L // 2^31 - 1
  def minHashParams(numHashes: Int): Array[(Long, Long)] = {
    val rnd = new java.util.Random(42L)
    Array.fill(numHashes)((1L + rnd.nextInt((MinHashP - 1).toInt).toLong,
      rnd.nextInt(MinHashP.toInt).toLong))
  }

  /** MinHash signature over 31-bit shingle hashes. */
  def minHash(shingleHashes: Iterable[Long], params: Array[(Long, Long)]): Array[Long] = {
    val sig = Array.fill(params.length)(Long.MaxValue)
    shingleHashes.foreach { x =>
      var i = 0
      while (i < params.length) {
        val (a, b) = params(i)
        val h = (a * x + b) % MinHashP
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Polynomial rolling hash of the normalized text (Rabin-Karp style,
    * base 257 mod 2^61-1) — the streaming-friendly fingerprint kernel;
    * unit-tested, not oracle-checked (iterative definition). */
  def rollingHash(text: String): Long = {
    val n = normalize(text)
    val mod = (1L << 61) - 1
    var h = 0L
    var i = 0
    while (i < n.length) {
      // (h * 257 + c) mod 2^61-1 without overflow: h < 2^61, split multiply
      h = multiplyMod(h, 257L, mod) + n.charAt(i).toLong
      if (h >= mod) h -= mod
      i += 1
    }
    h
  }

  private def multiplyMod(a: Long, b: Long, mod: Long): Long = {
    // b is small (257): shift-add stays in range since a < 2^61
    var result = 0L
    var base = a % mod
    var mult = b
    while (mult > 0) {
      if ((mult & 1) == 1) { result += base; if (result >= mod) result -= mod }
      base <<= 1; if (base >= mod) base -= mod
      mult >>= 1
    }
    result
  }
}
