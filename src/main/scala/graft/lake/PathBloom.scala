package graft.lake

import graft.functions.Hashing

/** Per-file PATH bloom filter for the manifest's key statistics.
  *
  * Why: bucketing is repo-hash and compaction sorts by (bucket, repo,
  * path), so a compacted file's [minPath, maxPath] range spans nearly the
  * whole path domain whenever the file holds more than one repo — a
  * `path = x` lookup WITHOUT a repo never prunes on ranges. A small bloom
  * over the file's DISTINCT paths closes that: at 10 bits per distinct
  * path (k=6, fpp ≈ 1.6%), a path-only point lookup plans ~fpp of the
  * table's files instead of all of them.
  *
  * Where the distinct paths come from: the write tasks collect each
  * file's distinct paths as they write its rows ([[FileStatsTracker]]),
  * so no file is re-read for them.
  *
  * Size discipline: the bitset is the next power of two above
  * 10·distinct bits, capped at [[MaxBytes]] per file. Past the cap the
  * bloom is dropped (not degraded): a saturated bloom prunes nothing but
  * still costs manifest bytes. At the cap, 16 KiB covers ~13k distinct
  * paths — far above what a byte-budget compaction split holds in
  * practice.
  */
object PathBloom {
  /** Hard cap on a single file's bloom (bitset bytes). */
  val MaxBytes = 16384
  /** Sizing target: bits per distinct path. */
  val BitsPerKey = 10
  /** Probes per key (optimal for ~10 bits/key is ln2·10 ≈ 7; 6 keeps the
    * probe loop cheap at fpp ≈ 1.6%). */
  val K = 6

  private val Seed1 = 0x9e3779b97f4a7c15L
  private val Seed2 = 0xc2b2ae3d27d4eb4fL

  /** Build over the file's distinct paths (UTF-8 bytes). None when empty
    * or past the size cap. */
  def build(distinct: Iterable[Array[Byte]]): Option[Array[Byte]] = {
    val n = distinct.size
    if (n == 0) return None
    val wantBits = math.max(64L, n.toLong * BitsPerKey)
    val bits = java.lang.Long.highestOneBit(wantBits * 2 - 1)
    if (bits > MaxBytes.toLong * 8) return None
    val arr = new Array[Byte]((bits / 8).toInt)
    val mask = bits - 1
    distinct.foreach { b =>
      val h1 = Hashing.hashBytes(b, 0, b.length, Seed1)
      val h2 = Hashing.hashBytes(b, 0, b.length, Seed2) | 1L
      var i = 0
      var h = h1
      while (i < K) {
        val bit = (h & mask).toInt
        arr(bit >>> 3) = (arr(bit >>> 3) | (1 << (bit & 7))).toByte
        h += h2
        i += 1
      }
    }
    Some(arr)
  }

  /** Membership probe; `bloom.length` must be a power of two (as built). */
  def mayContain(bloom: Array[Byte], path: String): Boolean = {
    val b = path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val mask = bloom.length.toLong * 8 - 1
    val h1 = Hashing.hashBytes(b, 0, b.length, Seed1)
    val h2 = Hashing.hashBytes(b, 0, b.length, Seed2) | 1L
    var i = 0
    var h = h1
    while (i < K) {
      val bit = (h & mask).toInt
      if ((bloom(bit >>> 3) & (1 << (bit & 7))) == 0) return false
      h += h2
      i += 1
    }
    true
  }

  def encode(bloom: Array[Byte]): String =
    java.util.Base64.getEncoder.withoutPadding.encodeToString(bloom)

  def decode(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)
}
