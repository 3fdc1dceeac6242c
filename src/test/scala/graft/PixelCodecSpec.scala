package graft

import graft.CodecRejects.rejectOf
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PixelCodec
import graft.operators.PixelCodec.{Image, Pcm}

/** Pixel/sample codec tier: PNG deflate+filter roundtrip across every
  * color type and filter path (cross-validated against the JDK's own
  * independent ImageIO PNG reader), structural rejection of corrupt
  * payloads, nearest-neighbor resampling, and WAV PCM decode at both bit
  * depths. Pure JVM — no Spark session needed; the distributed shape is
  * oracled by `multimodal_pixels` / `multimodal_pcm`.
  */
class PixelCodecSpec extends AnyFunSuite {

  private def raster(w: Int, h: Int, c: Int): Array[Byte] =
    Array.tabulate(w * h * c)(i => ((i * 7 + 13) % 256).toByte)

  /** Mutate IHDR data bytes and re-stamp the chunk CRC, so surgery tests
    * reach the validation AFTER the CRC gate (offsets: 12 = "IHDR",
    * data 16..28, CRC 29..32).
    */
  private def patchIhdr(png: Array[Byte])(mutate: Array[Byte] => Unit)
      : Array[Byte] = {
    val out = png.clone()
    mutate(out)
    val crc = new java.util.zip.CRC32()
    crc.update(out, 12, 17)
    val v = crc.getValue.toInt
    out(29) = (v >>> 24).toByte; out(30) = (v >>> 16).toByte
    out(31) = (v >>> 8).toByte; out(32) = v.toByte
    out
  }

  test("PNG roundtrip: all four color types, all five filters, multi-IDAT") {
    for (c <- Seq(1, 2, 3, 4)) {
      val img = Image(7, 9, c, raster(7, 9, c))
      // h=9 > 5 rotates through every filter type incl. Average/Paeth;
      // idatChunk=16 forces multi-IDAT reassembly
      val bytes = PixelCodec.encodePng(img,
        filterFor = y => y % 5, idatChunk = 16)
      val back = PixelCodec.decodePng(bytes)
      assert((back.width, back.height, back.channels) == ((7, 9, c)))
      assert(back.pixels.sameElements(img.pixels), s"channels=$c")
    }
  }

  test("PNG encode is externally valid: JDK ImageIO decodes the same raster") {
    for (c <- Seq(1, 2, 3, 4)) {
      val img = Image(5, 4, c, raster(5, 4, c))
      val bytes = PixelCodec.encodePng(img, filterFor = y => (y + 2) % 5)
      val awt = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(awt != null, s"ImageIO rejected our PNG (channels=$c)")
      assert((awt.getWidth, awt.getHeight) == ((5, 4)))
      val r = awt.getRaster
      assert(r.getNumBands == c)
      for (y <- 0 until 4; x <- 0 until 5; b <- 0 until c)
        assert(r.getSample(x, y, b) ==
          (img.pixels((y * 5 + x) * c + b) & 0xff),
          s"c=$c sample ($x,$y,$b)")
    }
  }

  test("Adam7 interlace: roundtrip, empty passes, external ImageIO check") {
    // sizes chosen so passes are variously empty (w or h < pass origin):
    // 1x1 leaves only pass 1; 3x3 skips passes 2/4 columns etc.
    for {
      (w, h) <- Seq((1, 1), (2, 1), (3, 3), (5, 4), (8, 8), (9, 10), (16, 17))
      c <- Seq(1, 2, 3, 4)
    } {
      val img = Image(w, h, c, raster(w, h, c))
      val bytes = PixelCodec.encodePng(img, filterFor = y => y % 5,
        idatChunk = 32, interlace = true)
      // IHDR interlace byte on the wire
      assert(bytes(28) == 1)
      val back = PixelCodec.decodePng(bytes)
      assert((back.width, back.height, back.channels) == ((w, h, c)))
      assert(back.pixels.sameElements(img.pixels),
        s"interlaced roundtrip $w x $h x $c")
    }
    // the JDK's reader deinterlaces independently — same raster
    val img = Image(9, 7, 3, raster(9, 7, 3))
    val bytes = PixelCodec.encodePng(img, filterFor = y => (y + 1) % 5,
      interlace = true)
    val awt = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(awt != null, "ImageIO rejected our interlaced PNG")
    for (y <- 0 until 7; x <- 0 until 9; b <- 0 until 3)
      assert(awt.getRaster.getSample(x, y, b) ==
        (img.pixels((y * 9 + x) * 3 + b) & 0xff), s"sample ($x,$y,$b)")
    // indexed + interlaced compose (indices scatter, then PLTE expands)
    val indices = Array.tabulate(6 * 5)(i => (i % 4).toByte)
    val palette = Array.tabulate(12)(i => ((i * 31 + 5) % 256).toByte)
    val ibytes = PixelCodec.encodePngIndexed(6, 5, indices, palette,
      filterFor = y => y % 5, interlace = true)
    val iback = PixelCodec.decodePng(ibytes)
    assert((iback.width, iback.height, iback.channels) == ((6, 5, 3)))
    for (p <- 0 until 30; b <- 0 until 3)
      assert(iback.pixels(p * 3 + b) == palette((indices(p) & 0xff) * 3 + b))
    // interlace METHOD 2 does not exist: structural failure
    val bad = patchIhdr(PixelCodec.encodePng(Image(4, 4, 1,
      raster(4, 4, 1))))(_(28) = 2)
    val e = rejectOf("png")(PixelCodec.decodePng(bad))
    assert(e.getMessage.contains("interlace"))
  }

  test("PNG decode rejects structural corruption, not silently") {
    val good = PixelCodec.encodePng(Image(6, 5, 3, raster(6, 5, 3)),
      filterFor = _ % 5)
    def fails(bytes: Array[Byte], what: String): Unit = {
      val e = rejectOf("png")(PixelCodec.decodePng(bytes))
      assert(e.getMessage.contains(what), s"got: ${e.getMessage}")
    }
    fails("not a png at all".getBytes, "bad signature")
    fails(good.take(good.length - 6), "truncated chunk")
    // flip one byte inside the IDAT payload: CRC must catch it
    val idatAt = {
      var i = 8
      while (!(good(i + 4) == 'I' && good(i + 5) == 'D' &&
        good(i + 6) == 'A' && good(i + 7) == 'T')) {
        i += 12 + (((good(i) & 0xff) << 24) | ((good(i + 1) & 0xff) << 16) |
          ((good(i + 2) & 0xff) << 8) | (good(i + 3) & 0xff))
      }
      i
    }
    val flipped = good.clone(); flipped(idatAt + 9) = (flipped(idatAt + 9) ^ 0x40).toByte
    fails(flipped, "CRC mismatch")
    fails(patchIhdr(good)(b => b(24) = 16), "unsupported bit depth")
    fails(patchIhdr(good)(b => b(25) = 5), "unsupported color type")
    // interlace 1 is now SUPPORTED — a non-interlaced stream re-tagged
    // Adam7 fails on raster-length mismatch, not on the method byte;
    // only methods > 1 are structural (covered in the Adam7 test)
    fails(patchIhdr(good)(b => b(28) = 1), "pixel data")
    // header claims MORE rows than the stream carries -> short pixel data
    fails(patchIhdr(good)(b => b(23) = 9), "short pixel data")
    // header claims FEWER rows -> excess pixel data
    fails(patchIhdr(good)(b => b(23) = 2), "excess pixel data")
  }

  test("indexed PNG (color type 3): PLTE/tRNS expansion, external " +
      "validity, and every rejection path") {
    val (w, h, nE) = (7, 9, 5)
    val idx = Array.tabulate(w * h)(p => (p % nE).toByte)
    val pal = Array.tabulate(nE * 3)(m => (m * 37 + 11).toByte)
    val trns = Array.tabulate(nE - 1)(j => (j * 53 + 7).toByte)
    // with tRNS: expands to RGBA; the uncovered last entry is opaque
    val bytes = PixelCodec.encodePngIndexed(w, h, idx, pal, Some(trns),
      filterFor = y => y % 5, idatChunk = 16)
    val img = PixelCodec.decodePng(bytes)
    assert((img.width, img.height, img.channels) == ((w, h, 4)))
    for (p <- 0 until w * h) {
      val j = idx(p) & 0xff
      assert(img.pixels(p * 4) == pal(j * 3) &&
        img.pixels(p * 4 + 1) == pal(j * 3 + 1) &&
        img.pixels(p * 4 + 2) == pal(j * 3 + 2), s"pixel $p rgb")
      val alpha = if (j < trns.length) trns(j) else 0xff.toByte
      assert(img.pixels(p * 4 + 3) == alpha, s"pixel $p alpha")
    }
    // without tRNS: plain RGB expansion
    val rgb = PixelCodec.decodePng(
      PixelCodec.encodePngIndexed(w, h, idx, pal, None))
    assert(rgb.channels == 3)
    for (p <- 0 until w * h; c <- 0 until 3)
      assert(rgb.pixels(p * 3 + c) == pal((idx(p) & 0xff) * 3 + c))
    // externally valid: the JDK's own reader agrees on every ARGB value
    val awt = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(awt != null, "ImageIO rejected our indexed PNG")
    for (y <- 0 until h; x <- 0 until w) {
      val p = y * w + x
      val j = idx(p) & 0xff
      val a = if (j < trns.length) trns(j) & 0xff else 255
      val expected = (a << 24) | ((pal(j * 3) & 0xff) << 16) |
        ((pal(j * 3 + 1) & 0xff) << 8) | (pal(j * 3 + 2) & 0xff)
      assert(awt.getRGB(x, y) == expected, s"ARGB at ($x,$y)")
    }
    // chunk surgery helper: re-emit the PNG with edited chunks (CRCs
    // recomputed), to plant states the encoder refuses to produce
    def rewrite(png: Array[Byte])(
        f: Vector[(String, Array[Byte])] => Vector[(String, Array[Byte])])
        : Array[Byte] = {
      def be32(i: Int) = ((png(i) & 0xff) << 24) | ((png(i + 1) & 0xff) << 16) |
        ((png(i + 2) & 0xff) << 8) | (png(i + 3) & 0xff)
      var chunks = Vector.empty[(String, Array[Byte])]
      var i = 8
      while (i < png.length) {
        val len = be32(i)
        chunks :+= (new String(png, i + 4, 4, "US-ASCII"),
          java.util.Arrays.copyOfRange(png, i + 8, i + 8 + len))
        i += 12 + len
      }
      val out = new java.io.ByteArrayOutputStream()
      out.write(png, 0, 8)
      f(chunks).foreach { case (typ, data) =>
        val lb = Array((data.length >>> 24).toByte, (data.length >>> 16).toByte,
          (data.length >>> 8).toByte, data.length.toByte)
        out.write(lb, 0, 4)
        val t = typ.getBytes("US-ASCII")
        out.write(t, 0, 4); out.write(data, 0, data.length)
        val crc = new java.util.zip.CRC32()
        crc.update(t); crc.update(data)
        val v = crc.getValue.toInt
        out.write(Array((v >>> 24).toByte, (v >>> 16).toByte,
          (v >>> 8).toByte, v.toByte), 0, 4)
      }
      out.toByteArray
    }
    def fails(b: Array[Byte], what: String): Unit = {
      val e = rejectOf("png")(PixelCodec.decodePng(b))
      assert(e.getMessage.contains(what), s"got: ${e.getMessage}")
    }
    fails(rewrite(bytes)(_.filterNot(c =>
      c._1 == "PLTE" || c._1 == "tRNS")), "without PLTE")
    fails(rewrite(bytes)(_.map { case ("PLTE", _) =>
      ("PLTE", Array[Byte](1, 2, 3, 4)); case c => c }), "bad PLTE")
    // a 1-entry palette cannot cover indices 1..4 (tRNS dropped so the
    // longer-than-palette check doesn't fire first)
    fails(rewrite(bytes)(_.collect {
      case ("PLTE", d) => ("PLTE", d.take(3))
      case c if c._1 != "tRNS" => c
    }), "index out of range")
    fails(rewrite(bytes)(_.map { case ("tRNS", _) =>
      ("tRNS", new Array[Byte](nE + 1)); case c => c }),
      "tRNS longer than palette")
    fails(rewrite(bytes) { cs =>
      // IHDR stays first (tRNS needs the color type); PLTE moves after
      val t = cs.find(_._1 == "tRNS").get
      val rest = cs.filterNot(_._1 == "tRNS")
      rest.head +: t +: rest.tail
    }, "tRNS before PLTE")
    // the encoder's own guards
    intercept[IllegalArgumentException](
      PixelCodec.encodePngIndexed(w, h, Array.fill(w * h)(9.toByte), pal))
    intercept[IllegalArgumentException](
      PixelCodec.encodePngIndexed(w, h, idx, pal.take(4)))
  }

  test("resizeNearest: exact floor(t*src/dst) sampling, up and down") {
    val img = Image(4, 4, 1, Array.tabulate(16)(i => i.toByte))
    val down = PixelCodec.resizeNearest(img, 2, 2)
    // (tx,ty) reads (tx*4/2, ty*4/2) = (0,0),(2,0),(0,2),(2,2)
    assert(down.pixels.toSeq == Seq[Byte](0, 2, 8, 10))
    val up = PixelCodec.resizeNearest(Image(2, 1, 1, Array[Byte](5, 9)), 4, 2)
    assert(up.pixels.toSeq == Seq[Byte](5, 5, 9, 9, 5, 5, 9, 9))
    val same = PixelCodec.resizeNearest(img, 4, 4)
    assert(same.pixels.sameElements(img.pixels))
    // multi-channel: channels move together
    val rgb = Image(2, 1, 3, Array[Byte](1, 2, 3, 4, 5, 6))
    assert(PixelCodec.resizeNearest(rgb, 1, 1).pixels.toSeq ==
      Seq[Byte](1, 2, 3))
  }

  test("WAV PCM roundtrip: 16-bit stereo and 8-bit mono (odd data, padded)") {
    val s16 = Array(-30000, 30000, -1, 0, 1, 12345, -12345, 255)
    val w16 = PixelCodec.encodeWavPcm(Pcm(44100, 2, 16, s16))
    val d16 = PixelCodec.decodeWavPcm(w16)
    assert((d16.sampleRate, d16.channels, d16.bits) == ((44100, 2, 16)))
    assert(d16.samples.sameElements(s16))
    // odd byte count exercises the RIFF even-padding path
    val s8 = Array(-128, -1, 0, 1, 127)
    val w8 = PixelCodec.encodeWavPcm(Pcm(8000, 1, 8, s8))
    assert(w8.length % 2 == 0, "RIFF chunks are even-padded")
    val d8 = PixelCodec.decodeWavPcm(w8)
    assert((d8.sampleRate, d8.channels, d8.bits) == ((8000, 1, 8)))
    assert(d8.samples.sameElements(s8))
  }

  test("seeded random roundtrip sweep: 60 PNGs + 60 WAVs, bit-exact") {
    val rnd = new java.util.Random(0x9e3779b9L) // fixed seed: reproducible
    for (_ <- 1 to 60) {
      val w = rnd.nextInt(32) + 1
      val h = rnd.nextInt(24) + 1
      val c = rnd.nextInt(4) + 1
      val px = new Array[Byte](w * h * c)
      rnd.nextBytes(px)
      val filters = Array.fill(h)(rnd.nextInt(5))
      val inter = rnd.nextBoolean()
      val bytes = PixelCodec.encodePng(Image(w, h, c, px),
        filterFor = y => filters(y % h), idatChunk = rnd.nextInt(200) + 1,
        interlace = inter)
      val back = PixelCodec.decodePng(bytes)
      assert((back.width, back.height, back.channels) == ((w, h, c)))
      assert(back.pixels.sameElements(px),
        s"png roundtrip $w x $h x $c interlace=$inter")
    }
    for (_ <- 1 to 60) {
      val ch = rnd.nextInt(2) + 1
      val bits = if (rnd.nextBoolean()) 8 else 16
      val n = (rnd.nextInt(50) + 1) * ch
      val lim = if (bits == 8) 128 else 32768
      val samples = Array.fill(n)(rnd.nextInt(2 * lim) - lim)
        .map(v => math.min(v, lim - 1))
      val back = PixelCodec.decodeWavPcm(
        PixelCodec.encodeWavPcm(Pcm(8000 + rnd.nextInt(40000), ch, bits,
          samples)))
      assert((back.channels, back.bits) == ((ch, bits)))
      assert(back.samples.sameElements(samples), s"wav roundtrip $bits/$ch")
    }
  }

  test("seeded palette sweep: palette-size x tRNS-length (shorter than " +
      "the palette) x Adam7 x filters x chunking matrix, bit-exact " +
      "expansion") {
    val rnd = new java.util.Random(0x5eed5eedL) // fixed seed: reproducible
    for (i <- 1 to 60) {
      val w = rnd.nextInt(24) + 1
      val h = rnd.nextInt(18) + 1
      val nEntries = rnd.nextInt(255) + 1
      val palette = new Array[Byte](nEntries * 3)
      rnd.nextBytes(palette)
      val indices = Array.fill(w * h)(rnd.nextInt(nEntries).toByte)
      // tRNS STRICTLY shorter than the palette (0..nEntries-1 entries;
      // uncovered entries must decode opaque), absent on every 3rd row
      val trns =
        if (i % 3 == 0) None
        else Some(Array.fill(rnd.nextInt(nEntries))(rnd.nextInt(256).toByte))
      val inter = rnd.nextBoolean()
      val filters = Array.fill(h)(rnd.nextInt(5))
      val combo = s"#$i ${w}x$h pal=$nEntries " +
        s"trns=${trns.fold("none")(_.length.toString)} adam7=$inter"
      val bytes = PixelCodec.encodePngIndexed(w, h, indices, palette, trns,
        filterFor = y => filters(y % h), idatChunk = rnd.nextInt(100) + 1,
        interlace = inter)
      val back = PixelCodec.decodePng(bytes)
      val expC = if (trns.isDefined) 4 else 3
      assert((back.width, back.height, back.channels) == ((w, h, expC)),
        combo)
      var p = 0
      while (p < w * h) {
        val j = indices(p) & 0xff
        var b = 0
        while (b < 3) {
          assert(back.pixels(p * expC + b) == palette(j * 3 + b),
            s"$combo px $p band $b")
          b += 1
        }
        if (expC == 4) {
          val alpha =
            if (j < trns.get.length) trns.get(j) else 0xff.toByte
          assert(back.pixels(p * 4 + 3) == alpha, s"$combo px $p alpha")
        }
        p += 1
      }
    }
  }

  test("A-law: known G.711 vectors, full 256-code encode∘decode " +
      "identity, WAV format-6 roundtrip, 16-bit A-law rejected") {
    // CCITT reference points: smallest codes expand to ±8; extremes
    assert(PixelCodec.alawDecode(0xd5) == 8)   // smallest positive
    assert(PixelCodec.alawDecode(0x55) == -8)  // smallest negative
    assert(PixelCodec.alawDecode(0xaa) == 32256)  // max positive
    assert(PixelCodec.alawDecode(0x2a) == -32256) // max negative
    // A-law has NO zero code: decode is injective over all 256 codes,
    // so compress is the EXACT inverse on every point
    val decoded = (0 until 256).map(PixelCodec.alawDecode)
    assert(decoded.distinct.length == 256, "A-law decode must be injective")
    assert(!decoded.contains(0), "A-law has no zero code")
    (0 until 256).foreach { c =>
      assert(PixelCodec.alawEncode(PixelCodec.alawDecode(c)) == c,
        s"code $c not a fixpoint")
    }
    // format-6 WAV roundtrip: stored codes expand to the same values
    val codes = Array.tabulate(34)(i => ((i * 53 + 11) % 256).toByte)
    val pcm = PixelCodec.decodeWavPcm(
      PixelCodec.encodeWavAlaw(8000, 2, codes))
    assert((pcm.sampleRate, pcm.channels, pcm.bits) == ((8000, 2, 8)))
    assert(pcm.samples.toSeq ==
      codes.toSeq.map(b => PixelCodec.alawDecode(b & 0xff)))
    // G.711 requires 8-bit storage
    val bad = PixelCodec.encodeWavAlaw(8000, 1, codes.take(2))
    bad(34) = 16 // bits-per-sample field
    val e = rejectOf("wav")(PixelCodec.decodeWavPcm(bad))
    assert(e.getMessage.contains("8-bit"))
  }

  test("mu-law: known G.711 vectors, 256-code fixpoint, WAV format-7 " +
      "roundtrip, 16-bit mu-law rejected") {
    // CCITT reference points: both zero codes expand to 0; extremes
    assert(PixelCodec.mulawDecode(0xff) == 0)
    assert(PixelCodec.mulawDecode(0x7f) == 0)
    assert(PixelCodec.mulawDecode(0x80) == 32124)  // max positive
    assert(PixelCodec.mulawDecode(0x00) == -32124) // max negative
    assert(PixelCodec.mulawDecode(0xfe) == 8)      // smallest positive step
    // every code's expansion re-compresses to itself (the two zero
    // codes canonically collapse to 0xff)
    (0 until 256).foreach { b =>
      val v = PixelCodec.mulawDecode(b)
      val back = PixelCodec.mulawEncode(v)
      if (v == 0) assert(back == 0xff, s"zero canonical form for $b")
      else assert(back == b, s"code $b -> $v -> $back")
      assert(PixelCodec.mulawDecode(back) == v, s"fixpoint for $b")
    }
    // format-7 WAV roundtrip: raw codes in, expanded samples out
    val codes = Array.tabulate(11)(i => ((i * 37 + 5) % 256).toByte)
    val wav = PixelCodec.encodeWavMulaw(8000, 1, codes)
    val pcm = PixelCodec.decodeWavPcm(wav)
    assert(pcm.sampleRate == 8000 && pcm.channels == 1 && pcm.bits == 8)
    assert(pcm.samples.toSeq ==
      codes.toSeq.map(b => PixelCodec.mulawDecode(b & 0xff)))
    // mu-law claims 16-bit storage -> rejected loudly
    val bad = wav.clone(); bad(34) = 16
    val e = rejectOf("wav")(PixelCodec.decodeWavPcm(bad))
    assert(e.getMessage.contains("G.711 requires 8-bit"))
  }

  test("WAV PCM decode rejects malformed payloads") {
    val good = PixelCodec.encodeWavPcm(Pcm(16000, 1, 16, Array(1, -2, 3, -4)))
    def fails(bytes: Array[Byte], what: String): Unit = {
      val e = rejectOf("wav")(
        PixelCodec.decodeWavPcm(bytes))
      assert(e.getMessage.contains(what), s"got: ${e.getMessage}")
    }
    fails("RIFFnot really a wave".getBytes, "bad RIFF/WAVE header")
    fails(good.dropRight(2), "truncated samples")
    val nonPcm = good.clone(); nonPcm(20) = 2 // fmt audio format field
    fails(nonPcm, "non-PCM format")
    val depth24 = good.clone(); depth24(34) = 24 // bits-per-sample field
    fails(depth24, "unsupported bit depth")
    fails(good.take(12), "no fmt chunk")
  }
}
