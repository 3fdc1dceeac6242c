package graft

import graft.CodecRejects.rejectOf
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.JpegCodec
import graft.operators.PixelCodec.Image

/** Baseline JPEG codec: both directions cross-validated against the
  * JDK's independent ImageIO JPEG implementation. JPEG is lossy, so the
  * check is decoder-vs-decoder on the SAME bitstream (any entropy or
  * coefficient bug explodes the difference; compliant decoders differ
  * by at most a couple of counts from IDCT/color rounding families) —
  * plus structural rejection of everything outside the baseline
  * profile.
  */
class JpegCodecSpec extends AnyFunSuite {
  import JpegCodecSpec.imageIoEncodeProgressive

  private def raster(w: Int, h: Int, c: Int): Array[Byte] =
    Array.tabulate(w * h * c)(i => ((i * 7 + (i / 13) * 31 + 5) % 256).toByte)

  /** Gray-content RGB raster: chroma exactly flat (Cb=Cr=128), so
    * subsampled comparisons are upsample-filter-independent.
    */
  private def grayRgb(w: Int, h: Int): Array[Byte] =
    Array.tabulate(w * h * 3)(i => (((i / 3) * 11 + 7) % 256).toByte)

  private def imageIoDecode(bytes: Array[Byte]): Image = {
    val awt = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(awt != null, "ImageIO rejected the JPEG")
    val (w, h) = (awt.getWidth, awt.getHeight)
    val bands = awt.getRaster.getNumBands
    val out = new Array[Byte](w * h * bands)
    for (y <- 0 until h; x <- 0 until w; b <- 0 until bands)
      out((y * w + x) * bands + b) =
        awt.getRaster.getSample(x, y, b).toByte
    Image(w, h, bands, out)
  }

  private def imageIoEncode(img: Image, quality: Float): Array[Byte] = {
    val t = if (img.channels == 1)
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    else java.awt.image.BufferedImage.TYPE_3BYTE_BGR
    val awt = new java.awt.image.BufferedImage(img.width, img.height, t)
    for (y <- 0 until img.height; x <- 0 until img.width;
         b <- 0 until img.channels)
      awt.getRaster.setSample(x, y, b,
        img.pixels((y * img.width + x) * img.channels + b) & 0xff)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    w.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bos))
    w.write(null, new javax.imageio.IIOImage(awt, null, null), p)
    w.dispose()
    bos.toByteArray
  }

  /** The stream really is progressive: an SOF2 marker is present. */
  private def assertSof2(bytes: Array[Byte]): Unit =
    assert(bytes.indices.dropRight(1).exists(j =>
      (bytes(j) & 0xff) == 0xff && (bytes(j + 1) & 0xff) == 0xc2),
      "expected an SOF2 (progressive) stream")

  private def maxDiff(a: Image, b: Image): Int = {
    assert((a.width, a.height, a.channels) == ((b.width, b.height, b.channels)),
      s"shape ${(a.width, a.height, a.channels)} vs ${(b.width, b.height, b.channels)}")
    a.pixels.zip(b.pixels).map { case (x, y) =>
      math.abs((x & 0xff) - (y & 0xff))
    }.max
  }

  test("our 4:4:4 encode: ImageIO and our decoder read the same pixels") {
    for {
      (w, h) <- Seq((8, 8), (13, 7), (24, 17), (1, 1), (9, 32))
      q <- Seq(50, 85, 95)
    } {
      val bytes = JpegCodec.encodeJpeg(Image(w, h, 3, raster(w, h, 3)),
        quality = q, sampling = (1, 1))
      val ours = JpegCodec.decodeJpeg(bytes)
      val ref = imageIoDecode(bytes)
      val d = maxDiff(ours, ref)
      assert(d <= JpegCodec.Tolerance, s"$w x $h q=$q maxDiff=$d")
    }
  }

  test("our grayscale encode round-trips through both decoders") {
    for ((w, h) <- Seq((8, 8), (16, 11), (3, 3), (40, 25))) {
      val bytes = JpegCodec.encodeJpeg(Image(w, h, 1, raster(w, h, 1)),
        quality = 80)
      val d = maxDiff(JpegCodec.decodeJpeg(bytes), imageIoDecode(bytes))
      assert(d <= JpegCodec.Tolerance, s"gray $w x $h maxDiff=$d")
    }
  }

  test("restart markers: DRI stream decodes identically in both decoders") {
    val img = Image(48, 32, 3, raster(48, 32, 3))
    val bytes = JpegCodec.encodeJpeg(img, quality = 75, sampling = (1, 1),
      restartInterval = 3)
    // the stream really carries RSTn markers
    val rsts = bytes.sliding(2).count(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) >= 0xd0 && (p(1) & 0xff) <= 0xd7)
    assert(rsts > 0, "expected restart markers in the stream")
    val d = maxDiff(JpegCodec.decodeJpeg(bytes), imageIoDecode(bytes))
    assert(d <= JpegCodec.Tolerance, s"restart maxDiff=$d")
  }

  test("subsampled encodes: flat-chroma agreement, luma-only content") {
    // 4:2:0 and 4:2:2 with gray-content RGB: chroma planes are flat, so
    // replication vs filtered upsampling cannot differ
    for (samp <- Seq((2, 2), (2, 1), (1, 2))) {
      val img = Image(21, 14, 3, grayRgb(21, 14))
      val bytes = JpegCodec.encodeJpeg(img, quality = 85, sampling = samp)
      val d = maxDiff(JpegCodec.decodeJpeg(bytes), imageIoDecode(bytes))
      assert(d <= JpegCodec.Tolerance, s"sampling=$samp maxDiff=$d")
    }
  }

  test("ImageIO-produced JPEGs (gray + flat-chroma 4:2:0) decode within tolerance") {
    for (q <- Seq(0.6f, 0.8f, 0.95f)) {
      val g = Image(19, 13, 1, raster(19, 13, 1))
      val gb = imageIoEncode(g, q)
      assert(maxDiff(JpegCodec.decodeJpeg(gb), imageIoDecode(gb)) <=
        JpegCodec.Tolerance, s"gray q=$q")
      // the JDK writer always subsamples color 2x2 — flat chroma keeps
      // the comparison decoder-independent
      val c = Image(22, 9, 3, grayRgb(22, 9))
      val cb = imageIoEncode(c, q)
      assert(maxDiff(JpegCodec.decodeJpeg(cb), imageIoDecode(cb)) <=
        JpegCodec.Tolerance, s"color q=$q")
    }
  }

  test("seeded random sweep: 40 encodes, both decoders agree") {
    val rnd = new java.util.Random(0x5deece66dL)
    for (i <- 1 to 40) {
      val w = rnd.nextInt(40) + 1
      val h = rnd.nextInt(30) + 1
      val gray = rnd.nextBoolean()
      val c = if (gray) 1 else 3
      val px = new Array[Byte](w * h * c)
      rnd.nextBytes(px)
      val q = rnd.nextInt(70) + 30
      val ri = if (rnd.nextBoolean()) rnd.nextInt(4) + 1 else 0
      val bytes = JpegCodec.encodeJpeg(Image(w, h, c, px), quality = q,
        sampling = (1, 1), restartInterval = ri)
      val d = maxDiff(JpegCodec.decodeJpeg(bytes), imageIoDecode(bytes))
      assert(d <= JpegCodec.Tolerance,
        s"sweep #$i $w x $h c=$c q=$q ri=$ri maxDiff=$d")
    }
  }

  test("progressive gray: full scan script (DC first+refine, AC bands " +
      "with successive approximation) decodes within tolerance") {
    for {
      (w, h) <- Seq((8, 8), (13, 7), (24, 17), (1, 1), (9, 32), (64, 48))
      q <- Seq(50, 85, 95)
    } {
      val bytes = imageIoEncodeProgressive(
        Image(w, h, 1, raster(w, h, 1)), q / 100.0f)
      assertSof2(bytes)
      val d = maxDiff(JpegCodec.decodeJpeg(bytes), imageIoDecode(bytes))
      assert(d <= JpegCodec.Tolerance, s"$w x $h q=$q maxDiff=$d")
    }
  }

  test("progressive color: flat-chroma RGB (subsampled scans are " +
      "upsample-filter-independent there) decodes within tolerance") {
    for {
      (w, h) <- Seq((8, 8), (13, 7), (24, 17), (31, 9))
      q <- Seq(55, 90)
    } {
      val bytes = imageIoEncodeProgressive(
        Image(w, h, 3, grayRgb(w, h)), q / 100.0f)
      assertSof2(bytes)
      val d = maxDiff(JpegCodec.decodeJpeg(bytes), imageIoDecode(bytes))
      assert(d <= JpegCodec.Tolerance, s"$w x $h q=$q maxDiff=$d")
    }
  }

  test("progressive seeded randomized sweep: sizes x qualities x " +
      "channels against ImageIO") {
    val rnd = new scala.util.Random(1811)
    for (i <- 1 to 40) {
      val w = rnd.nextInt(40) + 1
      val h = rnd.nextInt(40) + 1
      val c = if (rnd.nextBoolean()) 1 else 3
      val q = rnd.nextInt(56) + 40
      val px = if (c == 1) raster(w, h, 1) else grayRgb(w, h)
      val bytes = imageIoEncodeProgressive(Image(w, h, c, px), q / 100.0f)
      assertSof2(bytes)
      val d = maxDiff(JpegCodec.decodeJpeg(bytes), imageIoDecode(bytes))
      assert(d <= JpegCodec.Tolerance,
        s"sweep #$i $w x $h c=$c q=$q maxDiff=$d")
    }
  }

  test("T.81 B.1.1.2 fill bytes before markers decode identically " +
      "(baseline and progressive walks)") {
    val base = JpegCodec.encodeJpeg(Image(16, 11, 3, raster(16, 11, 3)),
      quality = 85, sampling = (1, 1))
    // splice two 0xFF fill bytes between SOI and the first segment
    // marker — a spec-legal stream some encoders emit as padding
    val padded = (base.take(2) :+ 0xff.toByte :+ 0xff.toByte) ++
      base.drop(2)
    val a = JpegCodec.decodeJpeg(base)
    val b = JpegCodec.decodeJpeg(padded)
    assert(a.width == b.width && a.height == b.height &&
      a.pixels.sameElements(b.pixels),
      "fill bytes must not change the decode")
  }

  test("structural rejection: malformed progressive, truncation, broken tables") {
    def fails(bytes: Array[Byte], what: String): Unit = {
      val e = rejectOf("jpeg")(
        JpegCodec.decodeJpeg(bytes))
      assert(e.getMessage.contains(what), s"got: ${e.getMessage}")
    }
    fails("definitely not a jpeg".getBytes, "no SOI")
    val good = JpegCodec.encodeJpeg(Image(16, 16, 3, raster(16, 16, 3)),
      quality = 80)
    // decodes clean before surgery
    JpegCodec.decodeJpeg(good)
    fails(good.take(good.length - 10), "entropy data exhausted")
    // SOF0 -> SOF2 retag: the stream routes to the progressive path,
    // where its baseline full-band scan header (Ss=0, Se=63) is
    // structurally invalid — a progressive band may not cross DC
    val sofAt = good.indices.find(j => (good(j) & 0xff) == 0xff &&
      (good(j + 1) & 0xff) == 0xc0).get
    val prog = good.clone(); prog(sofAt + 1) = 0xc2.toByte
    fails(prog, "progressive")
    // truncate inside the header segments
    fails(good.take(sofAt + 4), "truncated")
    // a 12-bit precision claim
    val deep = good.clone(); deep(sofAt + 4) = 12
    fails(deep, "8-bit")
    // ImageIO output also parses (independent producer)
    val external = imageIoEncode(Image(10, 10, 1, raster(10, 10, 1)), 0.9f)
    JpegCodec.decodeJpeg(external)
  }
}

object JpegCodecSpec {

  /** ImageIO's PROGRESSIVE encode (the JDK writer emits an IJG-style
    * progression script: interleaved DC first+refinement, per-component
    * AC bands with successive approximation) — the independent producer
    * for the SOF2 decode path.
    */
  def imageIoEncodeProgressive(img: Image, quality: Float): Array[Byte] = {
    val t = if (img.channels == 1)
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    else java.awt.image.BufferedImage.TYPE_3BYTE_BGR
    val awt = new java.awt.image.BufferedImage(img.width, img.height, t)
    for (y <- 0 until img.height; x <- 0 until img.width;
         b <- 0 until img.channels)
      awt.getRaster.setSample(x, y, b,
        img.pixels((y * img.width + x) * img.channels + b) & 0xff)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    w.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bos))
    w.write(null, new javax.imageio.IIOImage(awt, null, null), p)
    w.dispose()
    bos.toByteArray
  }
}
