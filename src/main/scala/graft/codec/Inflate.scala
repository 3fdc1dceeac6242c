package graft.codec

import java.util.zip.{DataFormatException, Inflater}

/** Bounded DEFLATE (RFC 1951) through the JVM `Inflater` — the one
  * inflate loop behind PDF FlateDecode, TIFF deflate strips, PNG IDAT,
  * HTTP `Content-Encoding: deflate` and `.warc.gz` members. Callers
  * keep only the facts of their format (its cap, its framing, what a
  * stream that stops early means); the loop owns everything that
  * makes an inflate terminate:
  *  - output past `cap` bytes rejects (`overCap` names it) before it
  *    is buffered, so a decompression bomb costs at most `cap` bytes;
  *  - a corrupt stream (`DataFormatException`) rejects as `malformed`;
  *  - a zlib header with FDICT set rejects as `malformed`: a preset
  *    dictionary is never supplied by these formats, and the
  *    `Inflater` would otherwise return 0 bytes forever without
  *    asking for input;
  *  - input that runs out before the final block returns with
  *    `ended = false` — truncation is the caller's call (PNG accepts a
  *    stream that stops after a full raster; the others reject).
  */
object Inflate {

  /** `bytes` inflated, `consumed` input bytes (header, blocks and the
    * zlib checksum when the stream ended), `ended` when the final
    * block (and zlib checksum) was read.
    */
  final case class Inflated(bytes: Array[Byte], consumed: Int,
                            ended: Boolean)

  /** Inflate `in[from, until)` — zlib-wrapped (RFC 1950) when `zlib`,
    * else raw — rejecting as `codec`.
    */
  def apply(codec: String, in: Array[Byte], from: Int, until: Int,
            zlib: Boolean, cap: Int, overCap: String): Inflated = {
    val inf = new Inflater(!zlib)
    try {
      inf.setInput(in, from, until - from)
      val buf = new Array[Byte](64 * 1024)
      val out = new java.io.ByteArrayOutputStream()
      var stalled = false
      while (!inf.finished() && !stalled) {
        val n =
          try inf.inflate(buf)
          catch {
            case e: DataFormatException => throw new Reject(codec,
              "malformed", s"corrupt deflate stream: ${e.getMessage}")
          }
        if (n > 0) {
          if (out.size().toLong + n > cap)
            throw new Reject(codec, "malformed", overCap)
          out.write(buf, 0, n)
        } else if (inf.needsDictionary())
          throw new Reject(codec, "malformed",
            "deflate stream needs a preset dictionary (zlib FDICT)")
        else stalled = !inf.finished()
      }
      Inflated(out.toByteArray, inf.getBytesRead.toInt, inf.finished())
    } finally inf.end()
  }
}
