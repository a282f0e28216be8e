package graft.util

/** The library's deterministic hashing primitives, defined ONCE.
  *
  * Every signature scheme in the repo (shingles, minhash, simhash,
  * winnowing, delete-variant blocking, the embedding kernel) builds on
  * the same two functions; their constants are load-bearing — any
  * drift between copies would silently desynchronize operators that must
  * agree (index writers vs probers). Keep ONE definition of each.
  */
private[graft] object Hashing {

  /** splitmix64 finalizer — seeded, platform-independent avalanche. */
  @inline def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** FNV-1a 64-bit over UTF-16 code units. */
  @inline def fnv(s: CharSequence): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** FNV-1a 64-bit over a [from, until) slice — allocation-free
    * equivalent of `fnv(s.substring(from, until))`.
    */
  @inline def fnvRange(s: CharSequence, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Continue the [[fnv]] fold from a prior state: FNV-1a is a strict
    * left fold over code units, so `fnvCont(fnv(p), s) == fnv(p + s)`
    * for every prefix p and suffix s — the algebra the bootstrap/CMS
    * prefix-state rewrites rely on (OpsSpec pins it).
    */
  @inline def fnvCont(state: Long, s: CharSequence): Long = {
    var h = state
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** [[fnvCont]] directly over a UTF8String's UTF-8 bytes — decodes
    * code units in place instead of allocating a java.lang.String per
    * row (the r16 per-row-alloc finding: `UTF8String.toString` copies
    * and transcodes every input). Bit-identical to
    * `fnvCont(state, s.toString)` for ALL inputs: well-formed
    * sequences decode to the same UTF-16 code units (4-byte sequences
    * emit the surrogate pair in order), and any malformed/overlong/
    * truncated sequence falls back to the toString path so the
    * replacement-character semantics stay Java's, not ours.
    */
  def fnvContUtf8(state: Long, s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = s.numBytes()
    var h = state
    var i = 0
    while (i < n) {
      val b0 = s.getByte(i) & 0xff
      if (b0 < 0x80) {
        h ^= b0.toLong; h *= 0x100000001b3L; i += 1
      } else if (b0 >= 0xc2 && b0 < 0xe0 && i + 1 < n
          && (s.getByte(i + 1) & 0xc0) == 0x80) {
        h ^= (((b0 & 0x1f) << 6) | (s.getByte(i + 1) & 0x3f)).toLong
        h *= 0x100000001b3L; i += 2
      } else if (b0 >= 0xe0 && b0 < 0xf0 && i + 2 < n
          && (s.getByte(i + 1) & 0xc0) == 0x80
          && (s.getByte(i + 2) & 0xc0) == 0x80
          && !(b0 == 0xe0 && (s.getByte(i + 1) & 0xff) < 0xa0)
          && !(b0 == 0xed && (s.getByte(i + 1) & 0xff) >= 0xa0)) {
        h ^= (((b0 & 0x0f) << 12) | ((s.getByte(i + 1) & 0x3f) << 6)
          | (s.getByte(i + 2) & 0x3f)).toLong
        h *= 0x100000001b3L; i += 3
      } else if (b0 >= 0xf0 && b0 < 0xf5 && i + 3 < n
          && (s.getByte(i + 1) & 0xc0) == 0x80
          && (s.getByte(i + 2) & 0xc0) == 0x80
          && (s.getByte(i + 3) & 0xc0) == 0x80
          && !(b0 == 0xf0 && (s.getByte(i + 1) & 0xff) < 0x90)
          && !(b0 == 0xf4 && (s.getByte(i + 1) & 0xff) >= 0x90)) {
        val u = (((b0 & 0x07) << 18) | ((s.getByte(i + 1) & 0x3f) << 12)
          | ((s.getByte(i + 2) & 0x3f) << 6) | (s.getByte(i + 3) & 0x3f)) - 0x10000
        h ^= (0xd800 + (u >> 10)).toLong; h *= 0x100000001b3L
        h ^= (0xdc00 + (u & 0x3ff)).toLong; h *= 0x100000001b3L
        i += 4
      } else {
        // malformed/overlong/truncated: defer to Java's decoder for the
        // WHOLE string so replacement semantics match toString exactly
        return fnvCont(state, s.toString)
      }
    }
    h
  }

  /** Allocation-free equivalent of `fnv(s.toString)`. */
  @inline def fnvUtf8(s: org.apache.spark.unsafe.types.UTF8String): Long =
    fnvContUtf8(0xcbf29ce484222325L, s)

  /** FNV-1a 64-bit over raw bytes. */
  @inline def fnvBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= b(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** All unordered pairs of a (capped) bucket's sorted id list — shared
    * by every LSH-banding pair generator.
    */
  def bucketPairs(ids: Seq[Long]): Seq[(Long, Long)] =
    for { i <- ids.indices; j <- (i + 1) until ids.size }
      yield (ids(i), ids(j))
}
