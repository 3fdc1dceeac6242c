package graft.codec

/** LSB-first bit reader over `buf[from, until)` — the bit order of
  * DEFLATE-family formats (WebP lossless, brotli). Bounded by `until`,
  * not the buffer end: a container's NEXT chunk is never read as
  * entropy data, and reading past `until` rejects as `codec`'s
  * truncated stream.
  */
final class LsbBits(buf: Array[Byte], from: Int, until: Int,
                    codec: String) {
  private var bitPos = from.toLong * 8
  private val bitEnd = until.toLong * 8
  private val reject = Reject.in(codec)

  def readBit(): Int = {
    if (bitPos >= bitEnd) reject("malformed", "truncated bitstream")
    val b = (buf((bitPos >> 3).toInt) >> (bitPos & 7).toInt) & 1
    bitPos += 1
    b
  }

  /** `n` (≤ 31) bits, the first read as the least significant. */
  def readBits(n: Int): Int = {
    var v = 0
    var i = 0
    while (i < n) { v |= readBit() << i; i += 1 }
    v
  }

  /** Advance to the next byte boundary; `mustBeZero` rejects nonzero
    * skipped bits (brotli's padding check — its uncompressed-block
    * alignment skips are free-form).
    */
  def alignByte(mustBeZero: Boolean): Unit =
    while ((bitPos & 7) != 0)
      if (readBit() != 0 && mustBeZero)
        reject("malformed", "nonzero padding bits")

  def readByteAligned(): Int = {
    if ((bitPos & 7) != 0) reject("malformed", "unaligned byte read")
    if (bitPos >= bitEnd) reject("malformed", "truncated bitstream")
    val v = buf((bitPos >> 3).toInt) & 0xFF
    bitPos += 8
    v
  }

  def skipBytes(n: Long): Unit = {
    if ((bitPos & 7) != 0) reject("malformed", "unaligned byte skip")
    if (bitPos + n * 8 > bitEnd) reject("malformed", "skip past EOF")
    bitPos += n * 8
  }

  def atEnd: Boolean = bitPos >= bitEnd
}

/** A canonical prefix code (RFC 1951 assignment: codes ordered by
  * (length, symbol)) over code `lengths` ≤ 15, as WebP lossless and
  * brotli both specify it. A code with ONE used symbol reads zero
  * bits; any other code must be Kraft-complete — an over- or
  * under-subscribed code is a corrupt stream, not a decodable one.
  * Decode walks the code one bit at a time (≤ 15 steps) against
  * per-length counts.
  */
final class PrefixCode(codec: String, lengths: Array[Int]) {
  private val MaxLen = 15
  private val reject = Reject.in(codec)
  private val count = new Array[Int](MaxLen + 1)
  private val (single, sorted) = {
    var used = 0
    var last = -1
    var i = 0
    while (i < lengths.length) {
      val l = lengths(i)
      if (l < 0 || l > MaxLen) reject("malformed", s"code length $l")
      if (l > 0) { used += 1; last = i; count(l) += 1 }
      i += 1
    }
    if (used == 0) reject("malformed", "empty prefix code")
    var kraft = 0L
    val offset = new Array[Int](MaxLen + 2)
    var l = 1
    while (l <= MaxLen) {
      kraft += count(l).toLong << (MaxLen - l)
      offset(l + 1) = offset(l) + count(l)
      l += 1
    }
    if (used > 1 && kraft != (1L << MaxLen))
      reject("malformed", "prefix code is over- or under-subscribed")
    val out = new Array[Int](used)
    i = 0
    while (i < lengths.length) {
      val l = lengths(i)
      if (l > 0) { out(offset(l)) = i; offset(l) += 1 }
      i += 1
    }
    (if (used == 1) last else -1, out)
  }

  def read(br: LsbBits): Int = {
    if (single >= 0) return single
    var code = 0
    var first = 0
    var index = 0
    var len = 1
    while (len <= MaxLen) {
      code = (code << 1) | br.readBit()
      val cnt = count(len)
      if (code - first < cnt) return sorted(index + code - first)
      index += cnt
      first = (first + cnt) << 1
      len += 1
    }
    reject("malformed", "prefix code over 15 bits")
  }
}
