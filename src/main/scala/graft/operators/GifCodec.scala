package graft.operators

import graft.codec.Reject

import graft.operators.PixelCodec.Image

/** Pure-JVM GIF decoder + fixture encoder (GIF87a/89a, LZW): logical
  * screen descriptor, global/local color tables, the 4-pass row
  * interlace, extension skipping, and a full variable-width LZW decode
  * (3–12 bit codes, clear/EOI, the KwKwK case, dictionary reset) — the
  * third REAL image codec next to [[PixelCodec]]'s PNG and
  * [[JpegCodec]]'s JPEG. GIF is lossless, so unlike JPEG the oracle
  * story is closed-form: the fixture plants indices/palette from a
  * formula, [[encodeGif]] LZW-compresses them into a compliant stream,
  * and the DuckDB oracle re-enumerates every expanded RGB byte.
  *
  * Structural damage throws (bad signature, missing color table,
  * truncated sub-blocks, out-of-range LZW codes, an index past the
  * palette) — never a silent misdecode.
  */
object GifCodec {

  private val fail = Reject.malformed("gif")

  /** Decode the FIRST frame to RGB pixels (palette-expanded, the
    * [[PixelCodec.decodePng]] contract shape). Later frames are legal
    * and ignored — frame COUNTING is the header tier's job
    * ([[Multimodal.Decoder]]); this is the pixel tier.
    */
  def decodeGif(payload: Array[Byte]): Image = {
    def u8(i: Int): Int = {
      if (i >= payload.length) fail("truncated")
      payload(i) & 0xff
    }
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (payload.length < 13 || payload(0) != 'G' || payload(1) != 'I' ||
      payload(2) != 'F' || payload(3) != '8' ||
      (payload(4) != '7' && payload(4) != '9') || payload(5) != 'a')
      fail("bad signature")
    val screenW = le16(6); val screenH = le16(8)
    if (screenW <= 0 || screenH <= 0) fail("bad screen dimensions")
    val packed = u8(10)
    var globalPal: Array[Byte] = null
    var i = 13
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 0x07) + 1)
      if (i + 3 * n > payload.length) fail("truncated color table")
      globalPal = java.util.Arrays.copyOfRange(payload, i, i + 3 * n)
      i += 3 * n
    }
    while (true) {
      u8(i) match {
        case 0x21 => // extension: skip label + sub-blocks
          i += 2
          while (u8(i) != 0) i += 1 + u8(i)
          i += 1
        case 0x3b => fail("trailer before any image")
        case 0x2c =>
          val left = le16(i + 1); val top = le16(i + 3)
          val w = le16(i + 5); val h = le16(i + 7)
          if (w <= 0 || h <= 0) fail("bad frame dimensions")
          if (left != 0 || top != 0 || w != screenW || h != screenH)
            fail("first frame must cover the screen")
          val fp = u8(i + 9)
          val interlaced = (fp & 0x40) != 0
          i += 10
          var pal = globalPal
          if ((fp & 0x80) != 0) {
            val n = 1 << ((fp & 0x07) + 1)
            if (i + 3 * n > payload.length)
              fail("truncated local color table")
            pal = java.util.Arrays.copyOfRange(payload, i, i + 3 * n)
            i += 3 * n
          }
          if (pal == null) fail("no color table")
          val minCode = u8(i)
          if (minCode < 2 || minCode > 8) fail("bad LZW min code size")
          i += 1
          // gather sub-block data
          val data = new java.io.ByteArrayOutputStream()
          while (u8(i) != 0) {
            val n = u8(i)
            if (i + 1 + n > payload.length) fail("truncated sub-block")
            data.write(payload, i + 1, n)
            i += 1 + n
          }
          val indices = lzwDecode(data.toByteArray, minCode, w * h)
          val nEntries = pal.length / 3
          val out = new Array[Byte](w * h * 3)
          // interlace: rows arrive in 4 passes (step 8/8/4/2 from
          // offsets 0/4/2/1)
          val rowOrder: Array[Int] =
            if (!interlaced) Array.range(0, h)
            else (Seq.range(0, h, 8) ++ Seq.range(4, h, 8) ++
              Seq.range(2, h, 4) ++ Seq.range(1, h, 2)).toArray
          var sy = 0
          while (sy < h) {
            val dy = rowOrder(sy)
            var x = 0
            while (x < w) {
              val idx = indices(sy * w + x) & 0xff
              if (idx >= nEntries) fail("index past color table")
              out((dy * w + x) * 3) = pal(idx * 3)
              out((dy * w + x) * 3 + 1) = pal(idx * 3 + 1)
              out((dy * w + x) * 3 + 2) = pal(idx * 3 + 2)
              x += 1
            }
            sy += 1
          }
          return Image(w, h, 3, out)
        case other => fail(f"unexpected block 0x$other%02x")
      }
    }
    fail("unreachable")
  }

  /** GIF-flavor LZW decode: codes LSB-first, width grows at dictionary
    * fill, clear resets, EOI ends; exactly `expect` indices must come
    * out.
    */
  private def lzwDecode(data: Array[Byte], minCode: Int,
                        expect: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new Array[Byte](expect)
    var outAt = 0
    // dictionary as (prefix code, appended byte); first free slot eoi+1
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    var next = eoi + 1
    var width = minCode + 1
    var prev = -1
    var acc = 0L
    var nbits = 0
    var pos = 0
    val buf = new Array[Byte](4096) // expansion scratch, max chain
    def expand(code: Int): Int = {
      var c = code
      var n = 0
      while (c >= clear) {
        if (n >= buf.length) fail("LZW chain overflow")
        buf(n) = append(c); n += 1
        c = prefix(c)
      }
      buf(n) = c.toByte; n += 1
      // reversed in place onto out
      var j = n - 1
      while (j >= 0) {
        if (outAt >= expect) fail("LZW produced too many pixels")
        out(outAt) = buf(j); outAt += 1
        j -= 1
      }
      // the chain's FIRST index (for the new dictionary entry)
      c
    }
    while (outAt < expect) {
      while (nbits < width) {
        if (pos >= data.length) fail("LZW data exhausted")
        acc |= (data(pos) & 0xffL) << nbits
        nbits += 8
        pos += 1
      }
      val code = (acc & ((1 << width) - 1)).toInt
      acc >>>= width
      nbits -= width
      if (code == clear) {
        next = eoi + 1
        width = minCode + 1
        prev = -1
      } else if (code == eoi) {
        fail("EOI before all pixels")
      } else if (prev < 0) {
        if (code >= clear) fail("first code must be literal")
        if (outAt >= expect) fail("LZW produced too many pixels")
        out(outAt) = code.toByte; outAt += 1
        prev = code
      } else {
        if (code > next || (code == next && prev < 0))
          fail("LZW code out of range")
        val first =
          if (code == next) { // KwKwK: expand prev then its first byte
            val f = expand(prev)
            if (outAt >= expect) fail("LZW produced too many pixels")
            out(outAt) = f.toByte; outAt += 1
            f
          } else expand(code)
        if (next < 4096) {
          prefix(next) = prev
          append(next) = first.toByte
          next += 1
          if (next < 4096 && (next & (next - 1)) == 0 && next > clear)
            width = math.min(12, log2(next) + 1)
        }
        prev = code
      }
    }
    out
  }

  private def log2(v: Int): Int = 31 - Integer.numberOfLeadingZeros(v)

  /** FIXTURE-side single-frame GIF89a writer: palette indices
    * LZW-compressed with the standard width schedule (clear emitted
    * first and at dictionary overflow, EOI last), optionally interlaced
    * — the exact inverse of [[decodeGif]]. Output is compliant; the
    * spec cross-validates against the JDK's ImageIO GIF reader.
    */
  def encodeGif(width: Int, height: Int, indices: Array[Byte],
                palette: Array[Byte],
                interlace: Boolean = false): Array[Byte] = {
    require(indices.length == width * height, "bad index buffer")
    require(palette.length % 3 == 0, "bad palette")
    val nEntries = palette.length / 3
    require(nEntries >= 2 && nEntries <= 256, s"palette size $nEntries")
    require(indices.forall(b => (b & 0xff) < nEntries), "index past palette")
    // color table size: next power of two >= nEntries, min 2
    var bits = 1
    while ((1 << bits) < nEntries) bits += 1
    val tableN = 1 << bits
    val minCode = math.max(2, bits)

    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    le16(width); le16(height)
    out.write(0x80 | (bits - 1)) // global table present, size
    out.write(0) // background
    out.write(0) // aspect
    out.write(palette, 0, palette.length)
    out.write(Array.fill(3 * (tableN - nEntries))(0.toByte),
      0, 3 * (tableN - nEntries)) // pad table to 2^bits
    out.write(0x2c) // image descriptor
    le16(0); le16(0); le16(width); le16(height)
    out.write(if (interlace) 0x40 else 0x00)
    out.write(minCode)

    // row order on the wire (interlaced passes)
    val rowOrder: Array[Int] =
      if (!interlace) Array.range(0, height)
      else (Seq.range(0, height, 8) ++ Seq.range(4, height, 8) ++
        Seq.range(2, height, 4) ++ Seq.range(1, height, 2)).toArray
    val stream = new Array[Byte](indices.length)
    var sy = 0
    while (sy < height) {
      System.arraycopy(indices, rowOrder(sy) * width, stream, sy * width,
        width)
      sy += 1
    }

    // LZW compress
    val clear = 1 << minCode
    val eoi = clear + 1
    val zout = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nbits = 0
    var width2 = minCode + 1
    def put(code: Int): Unit = {
      acc |= code.toLong << nbits
      nbits += width2
      while (nbits >= 8) {
        zout.write((acc & 0xff).toInt)
        acc >>>= 8; nbits -= 8
      }
    }
    // dictionary: map (prefix code << 8 | byte) -> code
    var dict = new java.util.HashMap[Integer, Integer]()
    var next = eoi + 1
    put(clear)
    var prev = stream(0) & 0xff
    var i = 1
    while (i < stream.length) {
      val b = stream(i) & 0xff
      val key = Integer.valueOf((prev << 8) | b)
      val hit = dict.get(key)
      if (hit != null) prev = hit.intValue()
      else {
        put(prev)
        if (next < 4096) {
          dict.put(key, Integer.valueOf(next))
          next += 1
          // width grows when the NEXT code to assign would not fit
          if (next - 1 == (1 << width2) && width2 < 12) {
            // the just-assigned code filled the width
          }
          if (next > (1 << width2) && width2 < 12) width2 += 1
        } else {
          put(clear)
          dict = new java.util.HashMap[Integer, Integer]()
          next = eoi + 1
          width2 = minCode + 1
        }
        prev = b
      }
      i += 1
    }
    put(prev)
    put(eoi)
    if (nbits > 0) zout.write((acc & 0xff).toInt)

    val z = zout.toByteArray
    var off = 0
    while (off < z.length) {
      val n = math.min(255, z.length - off)
      out.write(n)
      out.write(z, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }
}
