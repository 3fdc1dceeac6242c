package graft

import graft.CodecRejects.rejectOf
import graft.codec.Reject
import graft.operators.WebpCodec

/** [[WebpCodec]] beyond the planted-fixture oracle: encode∘decode
  * round-trips per feature, the prefix-coding identities, and the
  * honest-rejection boundaries (each named, never a silent wrong
  * pixel).
  */
class WebpCodecSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def px(a: Int, r: Int, g: Int, b: Int): Int =
    (a << 24) | (r << 16) | (g << 8) | b

  private def rgba(img: WebpCodec.Image, p: Int): (Int, Int, Int, Int) =
    (img.pixels(p * 4) & 0xff, img.pixels(p * 4 + 1) & 0xff,
      img.pixels(p * 4 + 2) & 0xff, img.pixels(p * 4 + 3) & 0xff)

  test("prefixEncode inverts the spec's length/distance prefix coding") {
    // decode side replayed standalone: code<4 -> code+1, else
    // offset = (2+(code&1)) << extra, value = offset + extra_val + 1
    def decode(sym: Int, extraVal: Int): Int =
      if (sym < 4) sym + 1
      else {
        val extra = (sym - 2) >> 1
        ((2 + (sym & 1)) << extra) + extraVal + 1
      }
    (1 to 5000).foreach { v =>
      val (sym, bits, value) = WebpCodec.prefixEncode(v)
      assert(sym >= 0 && sym < 40, s"$v -> symbol $sym")
      assert(value >= 0 && (bits == 0 || value < (1 << bits)))
      assert(decode(sym, value) == v, s"round trip of $v")
    }
  }

  test("simple-coded literals round-trip (RGBA exact, per position)") {
    val w = 5; val h = 3
    val toks = (0 until w * h).map(p =>
      WebpCodec.Lit(px(200, 10, if (p % 2 == 0) 40 else 140, 77)))
    val img = WebpCodec.decodeWebp(WebpCodec.encodeWebpLossless(w, h, toks))
    assert(img.width == w && img.height == h && img.channels == 4)
    (0 until w * h).foreach { p =>
      assert(rgba(img, p) == ((10, if (p % 2 == 0) 40 else 140, 77, 200)))
    }
  }

  test("VP8X-wrapped container walks to the VP8L chunk; sniffDims " +
      "reads the header without a full decode") {
    val toks = Seq.fill(4)(WebpCodec.Lit(px(255, 1, 2, 3)))
    val bytes = WebpCodec.encodeWebpLossless(2, 2, toks, wrapVp8x = true)
    assert(WebpCodec.decodeWebp(bytes).width == 2)
    assert(WebpCodec.sniffDims(bytes).contains((2, 2)))
    assert(WebpCodec.sniffDims("nope".getBytes).isEmpty)
    assert(WebpCodec.sniffDims(WebpCodec.lossyStub(4, 4)).isEmpty)
  }

  test("normal (code-length-coded) prefix codes + LZ77 linear backref") {
    val w = 7; val h = 4
    def green(x: Int) = Seq(30, 90, 150, 210)(x % 4)
    val row0 = (0 until w).map(x => WebpCodec.Lit(px(255, 5, green(x), 6)))
    val img = WebpCodec.decodeWebp(WebpCodec.encodeWebpLossless(w, h,
      row0 :+ WebpCodec.Ref((h - 1) * w, w + 120)))
    for (y <- 0 until h; x <- 0 until w)
      assert(rgba(img, y * w + x) == ((5, green(x), 6, 255)),
        s"pixel ($x,$y)")
  }

  test("LZ77 may overlap itself (dist 1 run-fills)") {
    val w = 6; val h = 1
    val toks = Seq(WebpCodec.Lit(px(255, 9, 60, 70)),
      WebpCodec.Ref(w - 1, 1 + 120))
    val img = WebpCodec.decodeWebp(WebpCodec.encodeWebpLossless(w, h, toks))
    (0 until w).foreach(p => assert(rgba(img, p) == ((9, 60, 70, 255))))
  }

  test("color cache: hits reproduce literals bit-exactly") {
    val w = 8; val h = 5
    val colors = Seq(px(255, 1, 50, 2), px(255, 1, 180, 2))
    val cache = new Array[Int](16)
    val toks = (0 until w * h).map { p =>
      val v = colors(p % 2)
      val slot = WebpCodec.cacheSlot(v, 4)
      if (cache(slot) == v) WebpCodec.Hit(slot)
      else { cache(slot) = v; WebpCodec.Lit(v) }
    }
    assert(toks.count(_.isInstanceOf[WebpCodec.Hit]) > 0,
      "fixture must actually exercise cache hits")
    val img = WebpCodec.decodeWebp(
      WebpCodec.encodeWebpLossless(w, h, toks, cacheBits = 4))
    (0 until w * h).foreach { p =>
      val c = colors(p % 2)
      assert(rgba(img, p) == (((c >> 16) & 0xff, (c >> 8) & 0xff,
        c & 0xff, 255)))
    }
  }

  test("subtract-green: stored deltas reconstruct the final values") {
    val w = 4; val h = 4
    val toks = (0 until w * h).map { p =>
      val g = if (p % 2 == 0) 20 else 220
      WebpCodec.Lit(px(255, (g + 100) % 256, g, (g + 7) % 256))
    }
    val img = WebpCodec.decodeWebp(
      WebpCodec.encodeWebpLossless(w, h, toks, subtractGreen = true))
    (0 until w * h).foreach { p =>
      val g = if (p % 2 == 0) 20 else 220
      assert(rgba(img, p) == (((g + 100) % 256, g, (g + 7) % 256, 255)))
    }
  }

  test("honest rejection, by name: plane codes, truncation, " +
      "non-WebP; garbage in a lossy chunk is malformed VP8 now that " +
      "the lossy tier decodes") {
    def reject(bytes: Array[Byte], codec: String, needle: String): Unit = {
      val e = rejectOf(codec)(WebpCodec.decodeWebp(bytes))
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    // the stub's 10 garbage bytes route into Vp8Codec (round 16) and
    // fail its frame checks — a named VP8 rejection, not "lossy tier"
    reject(WebpCodec.lossyStub(4, 4), "vp8", "vp8:")
    reject(WebpCodec.encodeWebpLossless(2, 2,
      Seq(WebpCodec.Lit(px(255, 1, 2, 3)), WebpCodec.Ref(3, 2))),
      "vp8l", "close-neighborhood")
    reject("just some text".getBytes, "webp", "RIFF")
    // cut mid-bitstream (one trailing byte may be a legal RIFF pad, so
    // cut deeper): either the container walk or the bit reader reports
    val good = WebpCodec.encodeWebpLossless(9, 7,
      (0 until 63).map(p => WebpCodec.Lit(px(255, 1, (p * 37) % 256, 3))))
    val e = intercept[Reject](
      WebpCodec.decodeWebp(good.take(good.length - 4)))
    assert(Set("webp", "vp8l")(e.codec), e.getMessage)
    assert(e.getMessage.contains("truncated") ||
      e.getMessage.contains("overruns"), e.getMessage)
  }

  test("the bit reader is bounded by the VP8L CHUNK, not the payload: " +
      "a following chunk's bytes are never entropy data") {
    val good = WebpCodec.encodeWebpLossless(9, 7,
      (0 until 63).map(p => WebpCodec.Lit(px(255, 1, (p * 37) % 256, 3))))
    // shrink the VP8L chunk by 6 bytes and append an EXIF chunk whose
    // junk bytes would let an unbounded reader complete the raster
    val vpSize = (good(16) & 0xff) | ((good(17) & 0xff) << 8) |
      ((good(18) & 0xff) << 16) | ((good(19) & 0xff) << 24)
    val cut = 6
    val newSize = vpSize - cut
    val head = good.take(20 + newSize)
    head(16) = (newSize & 0xff).toByte
    head(17) = ((newSize >> 8) & 0xff).toByte
    head(18) = ((newSize >> 16) & 0xff).toByte
    head(19) = ((newSize >> 24) & 0xff).toByte
    val exif = "EXIF".getBytes("US-ASCII") ++
      Array[Byte](32, 0, 0, 0) ++ Array.fill[Byte](32)(0x55)
    val bytes = head ++ (if (newSize % 2 == 1) Array[Byte](0)
      else Array.emptyByteArray) ++ exif
    val e = rejectOf("vp8l")(WebpCodec.decodeWebp(bytes))
    assert(e.getMessage.contains("truncated") ||
      e.getMessage.contains("vp8l"), e.getMessage)
  }

  test("a huge declared chunk size hits the overrun rejection, never " +
      "integer-wraps past it") {
    val bytes = "RIFF".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0x7f) ++ "WEBP".getBytes("US-ASCII") ++
      "VP8L".getBytes("US-ASCII") ++
      Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f) ++
      Array.fill[Byte](16)(0x2f)
    val e = rejectOf("webp")(WebpCodec.decodeWebp(bytes))
    assert(e.getMessage.contains("overruns"), e.getMessage)
    assert(WebpCodec.sniffDims(bytes).isEmpty)
  }

  test("a backref past the start or past the end is a corrupt stream") {
    // dist 5 with only 1 pixel decoded
    val early = WebpCodec.encodeWebpLossless(3, 1,
      Seq(WebpCodec.Lit(px(255, 1, 2, 3)), WebpCodec.Ref(2, 5 + 120)))
    val e1 = rejectOf("vp8l")(WebpCodec.decodeWebp(early))
    assert(e1.getMessage.contains("before start"))
    val over = WebpCodec.encodeWebpLossless(3, 1,
      Seq(WebpCodec.Lit(px(255, 1, 2, 3)), WebpCodec.Ref(9, 1 + 120)))
    val e2 = rejectOf("vp8l")(WebpCodec.decodeWebp(over))
    assert(e2.getMessage.contains("overruns image"))
  }
}
