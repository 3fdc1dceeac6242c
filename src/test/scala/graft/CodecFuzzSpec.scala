package graft

import graft.CodecRejects.within
import graft.codec.Reject
import graft.operators.{AacCodec, GifCodec, JpegCodec, PdfCodec, PixelCodec,
  TiffCodec, Vp8Codec, WebpCodec}
import graft.sources.{Brotli, WarcCodec, WarcGz}
import java.util.zip.CRC32
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-seed mutation fuzz of the decoders that parse untrusted bytes
  * (PDF, TIFF, PNG, WARC gz and HTTP, WebP lossless, brotli, JPEG
  * baseline and progressive, GIF, VP8, ADTS AAC, WAV): seeds come from
  * the fixture encoders the codec specs use, mutated by flipping bytes,
  * truncating, splicing two seeds and overwriting a length-sized field
  * with a large value. Property: every case returns a value or throws
  * a [[Reject]] naming its codec within [[CodecFuzzSpec.CaseLimitMs]] —
  * never any other `Throwable`, never a hang. Fixed seeds keep the
  * cases identical run to run; inputs that once crashed a decoder are
  * pinned in a test of their own.
  */
class CodecFuzzSpec extends AnyFunSuite {
  import CodecFuzzSpec._

  private def ascii(s: String) = s.getBytes("US-ASCII")
  private def b64(s: String) = java.util.Base64.getDecoder.decode(s)
  private def px(n: Int, seed: Int) =
    Array.tabulate(n)(i => ((seed * 31 + i * 7) % 256).toByte)

  /** PNG mutations mostly die at a chunk CRC; re-signing the chunks
    * after mutating lets the fuzz reach IHDR, the inflate and the
    * unfilter too.
    */
  private def resignPng(b: Array[Byte]): Array[Byte] = {
    val c = b.clone()
    var i = 8
    while (i + 12 <= c.length) {
      val len = ((c(i) & 0xFF) << 24) | ((c(i + 1) & 0xFF) << 16) |
        ((c(i + 2) & 0xFF) << 8) | (c(i + 3) & 0xFF)
      if (len < 0 || i.toLong + 12 + len > c.length) return c
      val crc = new CRC32
      crc.update(c, i + 4, 4 + len)
      val v = crc.getValue
      for (k <- 0 until 4) c(i + 8 + len + k) = (v >> (24 - 8 * k)).toByte
      i += 12 + len
    }
    c
  }

  private val page = Seq("Hello fuzz (page one)", "a second line")
  private val html = ascii("<html><body><p>fuzzed page text</p></body></html>")

  private val targets: Seq[Target] = Seq(
    Target("pdf", b => PdfCodec.extractText(b), Seq(
      PdfCodec.encodePdf(Seq(page)),
      PdfCodec.encodePdf(Seq(page, page), flate = true),
      PdfCodec.encodePdf(Seq(page), flate = true, xrefStream = true,
        objStm = true, predictor = 12),
      PdfCodec.encodePdf(Seq(page), lzw = true, a85 = true))),
    Target("tiff", b => TiffCodec.decodeTiff(b), Seq(
      TiffCodec.encodeTiff(7, 5, 3, 2, px(105, 1), compression = 8,
        rowsPerStrip = 2),
      TiffCodec.encodeTiff(7, 5, 3, 2, px(105, 2), compression = 5,
        predictor = 2, bigEndian = true),
      TiffCodec.encodeTiff(9, 4, 1, 1, px(36, 3), compression = 32773))),
    Target("png", b => PixelCodec.decodePng(b), Seq(
      PixelCodec.encodePng(PixelCodec.Image(6, 5, 3, px(90, 4)),
        filterFor = y => y % 5, idatChunk = 40),
      PixelCodec.encodePng(PixelCodec.Image(9, 7, 4, px(252, 5)),
        interlace = true),
      PixelCodec.encodePngIndexed(4, 4, px(16, 6).map(v => (v & 3).toByte),
        px(12, 7))), repair = resignPng),
    Target("warc.gz", b => WarcGz.members(b), Seq(
      WarcGz.encodeMembers(Seq(
        WarcCodec.encodeInfo(ascii("software: fuzz\r\n")),
        WarcCodec.encodeResponse("http://a.com/p", 200, "text/html", html))),
      WarcGz.encodeMember(html, fname = "f.warc", fhcrc = true,
        extra = ascii("xy")))),
    Target("warc", b => WarcCodec.parseRecord(b), Seq(
      WarcCodec.encodeResponseEncoded("http://a.com/p", 200, "text/html",
        WarcCodec.encodeDeflate(html, wrapped = true), chunked = true,
        contentEncoding = "deflate", trailer = true),
      WarcCodec.encodeResponseEncoded("http://a.com/p", 200, "text/html",
        WarcCodec.encodeDeflate(html, wrapped = false), chunked = false,
        contentEncoding = "deflate"),
      WarcCodec.encodeResponseEncoded("http://a.com/p", 200, "text/html",
        WarcGz.encodeMember(html), chunked = false,
        contentEncoding = "gzip"))),
    Target("vp8l", b => WebpCodec.decodeWebp(b), Seq(
      WebpCodec.encodeWebpLossless(5, 3, (0 until 15).map(p =>
        WebpCodec.Lit(0xFF000000 | (p * 0x010305)))),
      WebpCodec.encodeWebpLossless(6, 2,
        Seq(WebpCodec.Lit(0xFF102030), WebpCodec.Lit(0xFF405060),
          WebpCodec.Ref(10, 2 + 120)), subtractGreen = true))),
    Target("jpeg", b => JpegCodec.decodeJpeg(b), Seq(
      JpegCodec.encodeJpeg(PixelCodec.Image(16, 16, 3, px(768, 3))),
      JpegCodec.encodeJpeg(PixelCodec.Image(17, 9, 3, px(459, 4)),
        sampling = (2, 2), restartInterval = 2),
      JpegCodec.encodeJpeg(PixelCodec.Image(8, 8, 1, px(64, 5))),
      JpegCodecSpec.imageIoEncodeProgressive(
        PixelCodec.Image(16, 16, 3, px(768, 3)), 0.75f),
      JpegCodecSpec.imageIoEncodeProgressive(
        PixelCodec.Image(9, 11, 1, px(99, 6)), 0.75f))),
    Target("gif", b => GifCodec.decodeGif(b), Seq(
      GifCodec.encodeGif(5, 4, px(20, 1).map(v => (v & 3).toByte),
        px(12, 2)),
      GifCodec.encodeGif(6, 7, px(42, 1).map(v => (v & 7).toByte),
        px(24, 2), interlace = true))),
    Target("vp8", b => Vp8Codec.decode(b), Seq(
      Vp8Codec.encodeDcOnly(16, 16, 40, 2, 1, -1),
      Vp8Codec.encodeDcOnly(33, 20, 90, -3, 2, 1, filterLevel = 20,
        nParts = 2))),
    Target("aac", b => AacCodec.decodeAdts(b), Seq(
      AacCodec.encodeAdts(mpeg2 = false, profile = 1, srate = 44100,
        chanCfg = 2, payloadLens = Seq(10, 20, 30)),
      AacCodec.encodeAdts(mpeg2 = true, profile = 1, srate = 22050,
        chanCfg = 1, payloadLens = Seq(5, 7), crc = true,
        blocksPerFrame = 2, id3v2Size = 20))),
    Target("wav", b => PixelCodec.decodeWavPcm(b), Seq(
      PixelCodec.encodeWavPcm(PixelCodec.Pcm(8000, 2, 16,
        Array.tabulate(40)(i => i * 37 - 700))),
      PixelCodec.encodeWavMulaw(8000, 1, px(30, 3)))),
    Target("brotli", b => Brotli.decode(b), Seq(
      b64("i4MDAICqqqrq/3Slw0lvJz1cTFVFN1M1MVMztQ0O4OJXmkhxhQ3GPCOotVk4" +
        "ZvErbuizEfWlzr6f6C2DKwtt+T+CJsPwpAY="),
      b64("GwcHAAAitpnqhURLhLKeqb6iuMLEuLZSW4Rj1tDxQ5+NpC9trvuJ3jK4irC4" +
        "/yNqNgA="),
      b64("G58FACTDxMbCsyCu0g=="),
      Brotli.encodeStored(html, chunk = 17, metadataEvery = 2))))

  /** A decode's verdict: `None` when it returned or rejected by name. */
  private def verdict(t: Target, bytes: Array[Byte]): Option[String] =
    within(CaseLimitMs)(t.decode(bytes)) match {
      case None => Some(s"no result within $CaseLimitMs ms")
      case Some(Right(_)) => None
      case Some(Left(e: Reject)) if Rejecting(t.codec)(e.codec) => None
      case Some(Left(e)) =>
        Some(s"$e at ${e.getStackTrace.take(4).mkString(" < ")}")
    }

  private def b64Of(b: Array[Byte]) =
    java.util.Base64.getEncoder.encodeToString(b)

  test("pinned inputs that once crashed a decoder now reject by name") {
    def target(codec: String) = targets.find(_.codec == codec).get
    def pinned(codec: String, bytes: Array[Byte]): Unit =
      assert(within(CaseLimitMs)(target(codec).decode(bytes)).exists {
        case Left(e: Reject) => e.codec == codec && e.kind == "malformed"
        case _ => false
      }, codec)
    // TIFF: a tag with count 0 read as a scalar (index 0 of nothing)
    pinned("tiff", b64("TU0AKgAAAC6AD4ikwKwWDQeEQZothvwmHQgyGs5Q+KBV7v4CxWHo" +
      "pIpiNQ6AgAAKAQAABAAAAAEAAAAHAQEABAAAAAEAAAAFAQIAAwAAAAMAAACsAQMAAw" +
      "AAAAEABQAAAQYAAwAAAAAAAgAAAREABAAAAAEAAAAIARUAAwAAAAEAAwAAARYABAAA" +
      "AAEAAAAFARcABAAAAAEAAAAmAT0AAwAAAAEAAgAAAAAAAAAIAAgACA=="))
    // TIFF: BitsPerSample (258) with count 0
    val tiff = TiffCodec.encodeTiff(4, 2, 1, 1, px(8, 9))
    val ifd = (tiff(4) & 0xFF) | ((tiff(5) & 0xFF) << 8)
    val entry = (0 until (tiff(ifd) & 0xFF)).map(ifd + 2 + 12 * _)
      .find(e => (tiff(e) & 0xFF) == 2 && (tiff(e + 1) & 0xFF) == 1).get
    pinned("tiff", tiff.updated(entry + 4, 0.toByte))
    // PNG: a chunk length near 2^31 wrapped the bounds check negative
    pinned("png", b64("iVBORw0KGgoAAAANSUhEUgAAAAQAAAAECAMAAACeL25Mf////1BM" +
      "VEXZ4Ofu9fwDChEYHybJtb7gAAAAD0lEQVR4nGNgYmRgZkAlAAEAABn2ijaKAAAAAEl" +
      "FTkSuQmCC"))
    // PNG: a re-signed IHDR claiming 2^31-1 squared pixels (the raster
    // size overflowed into a negative allocation)
    val png = PixelCodec.encodePng(PixelCodec.Image(2, 2, 1, px(4, 8)))
    for (k <- 16 until 24) png(k) = (if (k % 4 == 0) 0x7F else 0xFF).toByte
    pinned("png", resignPng(png))
    // WARC: an empty HTTP Content-Length value
    pinned("warc", b64("V0FSQy8xLjANCldBUkMtVHlwZTogcmVzcG9uc2UNCldBUkMtVG" +
      "FyZ2V0LVVSSTogaHR0cDovL2EuY29tL3ANCldBUkMtRGF0ZTogMjAyNi0wMS0wMVQw" +
      "MDowMDowMFoNCkNvbnRlbnQtVHlwZTogYXBwbGljYXRpb24vaHR0cDttc2d0eXBlPX" +
      "Jlc3BvbnNlDQpDb250ZW50LUxlbmd0aDogMTUwDQoNCkhUVFAvMS4xIDIwMCBPSw0K" +
      "Q29udGVudC1UeXBlOiB0ZXh0L2h0bWwNCkNvbnRlbnQtRW5jb2Rpbmc6IGd6aXANCk" +
      "NvbnRlbnQtTGVuZ3RoOiAAAA0KDQofiwgAAAAAAAD/s8koyc2xs0nKT6m0symwSyut" +
      "qkpNUShITE9VKEmtKLHRL7Cz0YfI6oOVAgAVOsl2MQAAAA0KDQo="))
    // JPEG: table selectors past the 4 slots indexed the table arrays
    def at(b: Array[Byte], m: Int) = b.indices.find(j =>
      (b(j) & 0xFF) == 0xFF && (b(j + 1) & 0xFF) == m).get
    val jpg = JpegCodec.encodeJpeg(PixelCodec.Image(8, 8, 1, px(64, 5)))
    pinned("jpeg", jpg.updated(at(jpg, 0xC0) + 12, 0xF7.toByte))
    pinned("jpeg", jpg.updated(at(jpg, 0xDA) + 6, 0xF0.toByte))
    // JPEG: a 65535² frame header asked for ~13 GB of planes (baseline)
    // or overflowed its coefficient-buffer size (progressive)
    val prog = JpegCodecSpec.imageIoEncodeProgressive(
      PixelCodec.Image(9, 11, 1, px(99, 6)), 0.75f)
    for ((b, sof) <- Seq((jpg, 0xC0), (prog, 0xC2))) {
      val c = b.clone()
      for (k <- 5 until 9) c(at(c, sof) + k) = 0xFF.toByte
      pinned("jpeg", c)
    }
    // PDF: an xref subsection count past Int range
    val pdf = new String(PdfCodec.encodePdf(Seq(page, page), flate = true),
      "ISO-8859-1")
    pinned("pdf", pdf.replaceFirst("xref\\n0 \\d+", "xref\n0 870000000000")
      .getBytes("ISO-8859-1"))
    // WebP lossless: a 1×1 stream of single-symbol codes (zero bits per
    // pixel) whose header claims 16384² — rejected before the raster
    // is allocated, not after a gigabyte of it
    val webp = WebpCodec.encodeWebpLossless(1, 1, Seq(WebpCodec.Lit(0xFF102030)))
    val hdr = webp.indexOfSlice(ascii("VP8L")) + 9 // past fourcc, size, 0x2f
    pinned("vp8l", webp.updated(hdr, 0xFF.toByte).updated(hdr + 1, 0xFF.toByte)
      .updated(hdr + 2, 0xFF.toByte).updated(hdr + 3, (webp(hdr + 3) | 0x0F).toByte))
  }

  test("every seed decodes cleanly") {
    for (t <- targets; (s, i) <- t.seeds.zipWithIndex)
      assert(within(CaseLimitMs)(t.decode(s)).exists(_.isRight),
        s"${t.codec} seed $i")
  }

  for (t <- targets) test(s"${t.codec}: mutated seeds return a value or " +
      "a Reject, promptly") {
    val gen = mutation(t.seeds).map(t.repair)
    val prop = Prop.forAllNoShrink(gen) { bytes =>
      verdict(t, bytes) match {
        case None => Prop.passed
        case Some(why) => Prop.falsified :| s"$why on ${b64Of(bytes)}"
      }
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(CasesPerCodec)
      .withInitialSeed(Seed(0x5EEDL + t.codec.hashCode))
      .withWorkers(1)
    val res = Test.check(params, prop)
    assert(res.passed, s"${t.codec}: ${res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case other => other.toString
    }}")
  }
}

object CodecFuzzSpec {

  /** Per-case bound: far above any honest decode of these small
    * inputs, far below "hung".
    */
  val CaseLimitMs = 5000L
  val CasesPerCodec = 6000

  /** The codecs whose rejections a target's decode may surface: its
    * own, and the ones its format nests (WARC bodies carry gzip and
    * brotli, WebP carries VP8).
    */
  val Rejecting: Map[String, Set[String]] = Map(
    "pdf" -> Set("pdf"), "tiff" -> Set("tiff"), "png" -> Set("png"),
    "warc.gz" -> Set("warc.gz"),
    "warc" -> Set("warc", "warc.gz", "brotli"),
    "vp8l" -> Set("vp8l", "webp", "vp8"), "brotli" -> Set("brotli"),
    "jpeg" -> Set("jpeg"), "gif" -> Set("gif"), "vp8" -> Set("vp8"),
    "aac" -> Set("aac"), "wav" -> Set("wav"))

  final case class Target(codec: String, decode: Array[Byte] => Any,
                          seeds: Seq[Array[Byte]],
                          repair: Array[Byte] => Array[Byte] = identity)

  private def flip(b: Array[Byte]): Gen[Array[Byte]] =
    for {
      n <- Gen.choose(1, 4)
      at <- Gen.listOfN(n, Gen.choose(0, b.length - 1))
      x <- Gen.listOfN(n, Gen.choose(1, 255))
    } yield {
      val c = b.clone()
      at.zip(x).foreach { case (i, v) => c(i) = (c(i) ^ v).toByte }
      c
    }

  private def truncate(b: Array[Byte]): Gen[Array[Byte]] =
    Gen.choose(0, b.length - 1).map(n => b.take(n))

  private def splice(a: Array[Byte], b: Array[Byte]): Gen[Array[Byte]] =
    for {
      i <- Gen.choose(0, a.length)
      j <- Gen.choose(0, b.length)
    } yield a.take(i) ++ b.drop(j)

  /** Overwrite 1, 2 or 4 bytes (either byte order) with a large value
    * — the shape of a lying length, count or dimension field.
    */
  private def bigField(b: Array[Byte]): Gen[Array[Byte]] =
    for {
      w <- Gen.oneOf(1, 2, 4)
      at <- Gen.choose(0, math.max(0, b.length - w))
      v <- Gen.oneOf(Gen.const(-1L), Gen.const(0x7FFFFFFFL),
        Gen.const(0x80000000L), Gen.choose(0x100L, 0xFFFFFFFFL))
      le <- Gen.oneOf(true, false)
    } yield {
      val c = b.clone()
      for (k <- 0 until w if at + k < c.length) {
        val s = if (le) 8 * k else 8 * (w - 1 - k)
        c(at + k) = (v >> s).toByte
      }
      c
    }

  private def mutate(a: Array[Byte],
                     seeds: Seq[Array[Byte]]): Gen[Array[Byte]] =
    if (a.isEmpty) Gen.const(a)
    else Gen.oneOf(seeds).flatMap(b => Gen.frequency(4 -> flip(a),
      2 -> truncate(a), 2 -> splice(a, b), 3 -> bigField(a)))

  /** One to three stacked mutations of one seed. */
  def mutation(seeds: Seq[Array[Byte]]): Gen[Array[Byte]] =
    for {
      a <- Gen.oneOf(seeds)
      n <- Gen.choose(1, 3)
      m <- (1 until n).foldLeft(mutate(a, seeds))((g, _) =>
        g.flatMap(mutate(_, seeds)))
    } yield m
}
