package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Per-file Bloom filters — the point-lookup half of data skipping
  * (Delta's Bloom filter index, published design): zone maps prune
  * RANGE predicates on clustered columns, but an equality probe on a
  * high-cardinality column in arrival-order layout (find one document
  * id in a 100 TB table) hits every file's [min, max]. A per-file Bloom
  * answers "is this key definitely absent from this file?" from
  * O(files × m) driver-side metadata — no false negatives, so pruning
  * on a negative answer is SOUND by construction; false positives only
  * cost an extra file read.
  *
  * Hashing is MD5-based Kirsch-Mitzenmacher (two 64-bit halves h1, h2;
  * position_i = (h1 + i·h2) mod m) over a CANONICAL key string (the
  * long value's decimal form for integral/date/timestamp columns, the
  * raw string otherwise). Insertion (in the write tasks, by
  * [[graft.sources.TxStats.WriteStats]]) and the driver-side
  * probe ([[FileBloom.Bloom.mightContain]]) share [[FileBloom.set]]'s
  * exact position function, so parity is by construction, not by
  * convention. FPR ≈ (1 − e^{−kn/m})^k — the defaults (m = 2^20 bits,
  * k = 7) give <1% at ~100k keys/file.
  */
object FileBloom {

  val DefaultBits: Int = 1 << 20
  val DefaultK: Int = 7

  /** The k bit positions of `key` in an m = words.length*64 filter. */
  private def eachPosition(key: String, numWords: Int, k: Int)(f: Int => Unit): Unit = {
    val d = MessageDigest.getInstance("MD5")
      .digest(key.getBytes(StandardCharsets.UTF_8))
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < 8) {
      h1 = (h1 << 8) | (d(i) & 0xffL)
      h2 = (h2 << 8) | (d(i + 8) & 0xffL)
      i += 1
    }
    val m = numWords.toLong * 64L
    var j = 0
    while (j < k) {
      val pos = (((h1 + j * h2) % m) + m) % m
      f(pos.toInt)
      j += 1
    }
  }

  def set(words: Array[Long], key: String, k: Int): Unit =
    eachPosition(key, words.length, k)(p => words(p >> 6) |= (1L << (p & 63)))

  def contains(words: Array[Long], key: String, k: Int): Boolean = {
    var all = true
    eachPosition(key, words.length, k) { p =>
      if ((words(p >> 6) & (1L << (p & 63))) == 0L) all = false
    }
    all
  }

  /** A file's filter for one column, as stored in the stats sidecar. */
  case class Bloom(k: Int, words: Array[Long]) {
    def mightContain(key: String): Boolean = contains(words, key, k)
    def toBase64: String = {
      val bb = java.nio.ByteBuffer.allocate(words.length * 8)
      words.foreach(bb.putLong)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
  }

  def fromBase64(k: Int, s: String): Bloom = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val words = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong(); i += 1 }
    Bloom(k, words)
  }
}
