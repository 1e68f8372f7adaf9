package graft.kernel

/** Stable 64-bit hashing for token dictionary-encoding and shingles.
  *
  * The reference dictionary-encodes tokens to contiguous ids via a global
  * `VocabIndexer` (/root/reference/src/vocab_indexer.cc); at 10^12-row scale
  * a global dictionary is a needless shuffle, so the distributed pipeline
  * hash-encodes instead: FNV-1a 64 over UTF-8 (collision odds ~n²/2^65 —
  * negligible at any realistic vocab size). Equality-only semantics of the
  * DP and suffix array are preserved.
  */
object Hashing {
  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  def fnv1a64(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  def tokenIds(tokens: Array[String]): Array[Long] = tokens.map(fnv1a64)

  /** Mix for combining k consecutive token ids into one shingle hash
    * (splitmix64 finalizer chain — order-sensitive). */
  def shingleHash(ids: Array[Long], start: Int, k: Int): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < k) {
      h ^= mix64(ids(start + i) + i * 0xbf58476d1ce4e5b9L)
      h = java.lang.Long.rotateLeft(h, 27) * 5 + 0x52dce729
      i += 1
    }
    mix64(h)
  }

  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Distinct k-shingle hashes of an id sequence (k clamped to length). */
  def distinctShingles(ids: Array[Long], k: Int): Array[Long] = {
    if (ids.length == 0) return Array.emptyLongArray
    val kk = math.min(k, ids.length)
    val n = ids.length - kk + 1
    val set = new java.util.HashSet[Long](n * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Long](n)
    var i = 0
    while (i < n) {
      val h = shingleHash(ids, i, kk)
      if (set.add(h)) out += h
      i += 1
    }
    out.toArray
  }

  /** MinHash signature over shingle hashes using the 2-universal trick
    * h_i(x) = mix(a_i * x + b_i); returns `perms` minima. */
  def minhash(shingles: Array[Long], perms: Int, seed: Long): Array[Long] = {
    val sig = Array.fill(perms)(Long.MaxValue)
    var p = 0
    while (p < perms) {
      val a = mix64(seed + 2L * p + 1L) | 1L
      val b = mix64(seed + 2L * p + 0x5851f42d4c957f2dL)
      var i = 0
      var mn = Long.MaxValue
      while (i < shingles.length) {
        val v = mix64(a * shingles(i) + b)
        if (v < mn) mn = v
        i += 1
      }
      sig(p) = mn
      p += 1
    }
    sig
  }

  /** MinHash band hashes salted by band position: the band bucket keys. */
  def bandKeys(bh: Array[Long]): Array[Long] =
    Array.tabulate(bh.length)(bd => mix64(bh(bd) ^ (bd * 0x9e3779b97f4a7c15L)))

  /** Band hashes: split the signature into `bands` equal groups, hash each
    * with the band index baked in so buckets from different bands never mix. */
  def bandHashes(sig: Array[Long], bands: Int): Array[Long] = {
    val r = sig.length / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mix64(0xA5A5A5A5L + b)
      var i = 0
      while (i < r) {
        h ^= mix64(sig(b * r + i) + i)
        h = java.lang.Long.rotateLeft(h, 31) * 7 + 0x27d4eb2f
        i += 1
      }
      out(b) = mix64(h)
      b += 1
    }
    out
  }

  /** 64-bit SimHash over shingle hashes (bit-majority fingerprint). */
  def simhash(shingles: Array[Long]): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < shingles.length) {
      val h = shingles(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
