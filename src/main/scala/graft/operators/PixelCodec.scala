package graft.operators

import graft.codec.{Inflate, Reject}
import java.util.zip.{CRC32, Deflater}

/** Pixel/sample-level media codecs — pure JVM, deterministic, zero
  * native-library dependence: PNG pixel decode rides the bounded
  * [[graft.codec.Inflate]] loop (the JVM's built-in zlib) plus the
  * PNG scanline filter inversions, and WAV PCM decode is plain
  * little-endian arithmetic.
  * This closes the "pixel work needs codec libraries" gap left by the
  * header-only tier ([[Multimodal.Decoder.Headers]] /
  * [[Multimodal.AvHeaders]]): the engine genuinely DECOMPRESSES image
  * payloads and DECODES audio samples, not just their containers.
  *
  * Decode contract mirrors the header tier: structural violations
  * (bad signature, CRC mismatch, unsupported depth, short pixel data,
  * truncated samples) throw a `png`/`wav` [[graft.codec.Reject]], and
  * the per-partition extraction wrappers
  * ([[Multimodal.extractPixelFeatures]] /
  * [[Multimodal.extractPcmFeatures]]) turn that into null features for
  * the row.
  *
  * The encoders are FIXTURE-side: the planted-media queries and specs
  * build real compressed containers from closed-form pixel/sample
  * formulas, the decoder reconstructs them bit-exactly, and the DuckDB
  * oracle recomputes the expected statistics from the same formula —
  * so a hash match proves the full deflate→filter→inflate→unfilter
  * chain reproduces every byte (see `multimodal_pixels`).
  */
object PixelCodec {

  /** A decoded raster: `pixels` is row-major, channel-interleaved,
    * 8 bits per sample — `pixels(y*width*channels + x*channels + c)`.
    */
  final case class Image(width: Int, height: Int, channels: Int,
                         pixels: Array[Byte])

  /** Decoded PCM audio: `samples` are sign-centered Ints (16-bit:
    * as-is signed; 8-bit unsigned storage: value − 128), channel-
    * interleaved in frame order.
    */
  final case class Pcm(sampleRate: Int, channels: Int, bits: Int,
                       samples: Array[Int])

  /** Pixel cap: a header may not claim more (the allocation bound
    * that keeps every raster size, expanded to 4 channels, an Int).
    */
  private val maxPixels = 1 << 28

  private val png = Reject.malformed("png")
  private val wav = Reject.malformed("wav")

  /** Samples per pixel for the supported PNG color types (8-bit depth):
    * 0 grayscale, 2 truecolor, 4 gray+alpha, 6 truecolor+alpha.
    */
  def channelsOf(colorType: Int): Int = colorType match {
    case 0 => 1
    case 2 => 3
    case 4 => 2
    case 6 => 4
    case other => png(s"unsupported color type $other")
  }

  private def colorTypeOf(channels: Int): Int = channels match {
    case 1 => 0
    case 2 => 4
    case 3 => 2
    case 4 => 6
    case other => png(s"no color type with $other channels")
  }

  private val PngSig =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Adam7 pass grid (RFC 2083 §2.6): (x0, y0, dx, dy) per pass. */
  private val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Adam7 passes with their sub-image dimensions for a `width`×`height`
    * raster: (x0, y0, dx, dy, passW, passH). A pass can be empty (zero
    * width or height) on small images — it then contributes NO scanlines
    * to the stream, not even filter bytes (RFC 2083 §2.6).
    */
  private def adam7Passes(width: Int,
                          height: Int): Seq[(Int, Int, Int, Int, Int, Int)] =
    Adam7.toSeq.map { case (x0, y0, dx, dy) =>
      val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
      val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
      (x0, y0, dx, dy, pw, ph)
    }

  // ------------------------------------------------------------- PNG decode

  /** Decode an 8-bit non-interlaced PNG (color types 0/2/3/4/6) to raw
    * pixels: signature, CRC-verified chunk walk, IHDR validation,
    * multi-IDAT zlib inflate, then per-scanline filter inversion
    * (types 0–4: None/Sub/Up/Average/Paeth, RFC 2083 §6). A palette
    * image (color type 3) filters over 1-byte indices and expands
    * through its PLTE to RGB — RGBA when a tRNS chunk supplies per-entry
    * alpha (entries past the tRNS table are opaque per the spec).
    * Adam7-interlaced streams deinterlace: each of the 7 passes is an
    * independently-filtered sub-image, unfiltered against its own
    * scanlines and scattered back onto the pass grid (RFC 2083 §2.6).
    * 16-bit and sub-byte depths are structural failures, not silent
    * misdecodes — as are a missing/oversized/misplaced PLTE and
    * out-of-range palette indices.
    */
  def decodePng(payload: Array[Byte]): Image = {
    if (payload.length < 8 + 25 || !payload.take(8).sameElements(PngSig))
      png("bad signature")
    def be32(i: Int): Int =
      ((payload(i) & 0xff) << 24) | ((payload(i + 1) & 0xff) << 16) |
        ((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff)

    var width = 0; var height = 0; var channels = 0; var colorType = -1
    var interlaced = false
    var sawIhdr = false; var sawIend = false
    var palette: Array[Byte] = null
    var trns: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    while (!sawIend) {
      if (i + 8 > payload.length) png("truncated chunk header")
      val len = be32(i)
      if (len < 0 || i + 12L + len > payload.length)
        png("truncated chunk")
      val typ = new String(payload, i + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new CRC32()
      crc.update(payload, i + 4, 4 + len)
      if (crc.getValue != (be32(i + 8 + len) & 0xffffffffL))
        png(s"CRC mismatch in $typ")
      typ match {
        case "IHDR" =>
          if (sawIhdr || len != 13) png("bad IHDR")
          width = be32(i + 8); height = be32(i + 12)
          val depth = payload(i + 16) & 0xff
          colorType = payload(i + 17) & 0xff
          val (compression, filterM, interlace) =
            (payload(i + 18) & 0xff, payload(i + 19) & 0xff,
              payload(i + 20) & 0xff)
          if (width <= 0 || height <= 0) png("bad dimensions")
          if (width.toLong * height > maxPixels)
            png(s"${width}x$height is past the $maxPixels-pixel cap")
          if (depth != 8) png(s"unsupported bit depth $depth")
          // palette rasters carry one index byte per pixel; expansion to
          // RGB(A) happens after unfiltering
          channels = if (colorType == 3) 1 else channelsOf(colorType)
          if (compression != 0 || filterM != 0) png("bad methods")
          if (interlace != 0 && interlace != 1)
            png(s"bad interlace method $interlace")
          interlaced = interlace == 1
          sawIhdr = true
        case "PLTE" =>
          if (!sawIhdr) png("PLTE before IHDR")
          if (palette != null) png("duplicate PLTE")
          if (idat.size > 0) png("PLTE after IDAT")
          if (len == 0 || len % 3 != 0 || len > 768) png("bad PLTE")
          palette = java.util.Arrays.copyOfRange(payload, i + 8, i + 8 + len)
        case "tRNS" =>
          if (colorType != 3)
            png(s"tRNS unsupported for color type $colorType")
          if (palette == null) png("tRNS before PLTE")
          if (len > palette.length / 3) png("tRNS longer than palette")
          trns = java.util.Arrays.copyOfRange(payload, i + 8, i + 8 + len)
        case "IDAT" =>
          if (!sawIhdr) png("IDAT before IHDR")
          idat.write(payload, i + 8, len)
        case "IEND" =>
          if (len != 0) png("IEND with data")
          sawIend = true
        case _ => () // ancillary chunks are legal and skipped
      }
      i += 12 + len
    }
    if (!sawIhdr) png("no IHDR")
    if (idat.size == 0) png("no IDAT")

    val stride = width * channels
    val rasterBytes =
      if (interlaced)
        adam7Passes(width, height).map { case (_, _, _, _, pw, ph) =>
          if (pw > 0 && ph > 0) ph * (1 + pw * channels) else 0
        }.sum
      else height * (1 + stride)
    // a compliant stream ends exactly at the raster boundary; one that
    // stops right after a full raster (no final block) is accepted
    val raw = Inflate("png", idat.toByteArray, 0, idat.size, zlib = true,
      rasterBytes, "excess pixel data").bytes
    if (raw.length < rasterBytes) png("short pixel data")

    // Adam7: the stream is 7 independently-filtered sub-images; unfilter
    // each pass against ITS OWN scanlines (prediction never crosses a
    // pass boundary), then scatter pixels back onto the (x0+i·dx,
    // y0+j·dy) grid. Non-interlaced: one pass over the whole raster.
    val raster =
      if (!interlaced) unfilter(raw, width, height, channels)
      else {
        val out = new Array[Byte](height * stride)
        var o = 0
        adam7Passes(width, height).foreach {
          case (x0, y0, dx, dy, pw, ph) if pw > 0 && ph > 0 =>
            val passLen = ph * (1 + pw * channels)
            val sub = unfilter(
              java.util.Arrays.copyOfRange(raw, o, o + passLen),
              pw, ph, channels)
            o += passLen
            var j = 0
            while (j < ph) {
              var k = 0
              while (k < pw) {
                System.arraycopy(sub, (j * pw + k) * channels, out,
                  ((y0 + j * dy) * width + (x0 + k * dx)) * channels,
                  channels)
                k += 1
              }
              j += 1
            }
          case _ => ()
        }
        out
      }
    if (colorType != 3) return Image(width, height, channels, raster)

    // palette expansion: index -> PLTE triple (+ tRNS alpha when present)
    if (palette == null) png("palette image without PLTE")
    val nEntries = palette.length / 3
    val outCh = if (trns != null) 4 else 3
    val out = new Array[Byte](width * height * outCh)
    var p = 0
    while (p < width * height) {
      val idx = raster(p) & 0xff
      if (idx >= nEntries) png("palette index out of range")
      out(p * outCh) = palette(idx * 3)
      out(p * outCh + 1) = palette(idx * 3 + 1)
      out(p * outCh + 2) = palette(idx * 3 + 2)
      if (outCh == 4)
        out(p * outCh + 3) =
          if (idx < trns.length) trns(idx) else 0xff.toByte
      p += 1
    }
    Image(width, height, outCh, out)
  }

  /** Invert the per-scanline filters in place-ish: `raw` is
    * height × (1 + stride) filter-tagged rows, result is the raster.
    */
  private def unfilter(raw: Array[Byte], width: Int, height: Int,
                       channels: Int): Array[Byte] = {
    val stride = width * channels
    val bpp = channels // 8-bit depth: one byte per sample
    val out = new Array[Byte](height * stride)
    var y = 0
    while (y < height) {
      val rowIn = y * (1 + stride) + 1
      val rowOut = y * stride
      val filter = raw(rowIn - 1) & 0xff
      var x = 0
      while (x < stride) {
        val a = if (x >= bpp) out(rowOut + x - bpp) & 0xff else 0
        val b = if (y > 0) out(rowOut - stride + x) & 0xff else 0
        val c =
          if (y > 0 && x >= bpp) out(rowOut - stride + x - bpp) & 0xff else 0
        val pred = filter match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
          case other => png(s"bad filter type $other")
        }
        out(rowOut + x) = ((raw(rowIn + x) & 0xff) + pred).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** The Paeth predictor (RFC 2083 §6.6): nearest of a/b/c to a+b−c,
    * ties broken a, then b.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  // ------------------------------------------------------------- PNG encode

  /** FIXTURE-side PNG writer: applies `filterFor(y)` to each scanline
    * (exercising every inversion path in [[decodePng]] when varied),
    * deflates the filtered raster, splits IDAT at `idatChunk` bytes
    * (multi-IDAT reassembly is part of the decode contract) and CRCs
    * every chunk. Output is a fully compliant PNG any external reader
    * accepts — the fixtures plant REAL compressed containers.
    */
  def encodePng(img: Image, filterFor: Int => Int = _ => 0,
                idatChunk: Int = 512,
                interlace: Boolean = false): Array[Byte] = {
    val Image(width, height, channels, pixels) = img
    require(pixels.length == height * width * channels,
      s"pixel buffer ${pixels.length} != $height*${width * channels}")
    assemblePng(width, height, colorTypeOf(channels),
      rasterStream(pixels, width, height, channels, filterFor, interlace),
      Nil, idatChunk, interlace)
  }

  /** The pre-deflate byte stream for a raster: one filtered image
    * (non-interlaced) or the 7 Adam7 passes, each extracted onto its own
    * sub-grid and filtered independently — the forward direction of
    * [[decodePng]]'s deinterlacing scatter.
    */
  private def rasterStream(pixels: Array[Byte], width: Int, height: Int,
                           bpp: Int, filterFor: Int => Int,
                           interlace: Boolean): Array[Byte] =
    if (!interlace) filterRaster(pixels, width, height, bpp, filterFor)
    else {
      val out = new java.io.ByteArrayOutputStream()
      adam7Passes(width, height).foreach {
        case (x0, y0, dx, dy, pw, ph) if pw > 0 && ph > 0 =>
          val sub = new Array[Byte](pw * ph * bpp)
          var j = 0
          while (j < ph) {
            var k = 0
            while (k < pw) {
              System.arraycopy(pixels,
                ((y0 + j * dy) * width + (x0 + k * dx)) * bpp,
                sub, (j * pw + k) * bpp, bpp)
              k += 1
            }
            j += 1
          }
          val f = filterRaster(sub, pw, ph, bpp, filterFor)
          out.write(f, 0, f.length)
        case _ => ()
      }
      out.toByteArray
    }

  /** FIXTURE-side INDEXED (color type 3) PNG writer: 1-byte palette
    * indices filtered like any raster (bpp = 1), a PLTE of RGB triples,
    * and an optional tRNS alpha table (shorter than the palette is legal
    * — the tail is opaque). The exact inverse of [[decodePng]]'s
    * palette-expansion path.
    */
  def encodePngIndexed(width: Int, height: Int, indices: Array[Byte],
                       palette: Array[Byte],
                       trns: Option[Array[Byte]] = None,
                       filterFor: Int => Int = _ => 0,
                       idatChunk: Int = 512,
                       interlace: Boolean = false): Array[Byte] = {
    require(indices.length == width * height,
      s"index buffer ${indices.length} != $width*$height")
    require(palette.length % 3 == 0 && palette.length >= 3 &&
      palette.length <= 768, s"bad palette length ${palette.length}")
    val nEntries = palette.length / 3
    require(indices.forall(b => (b & 0xff) < nEntries),
      "palette index out of range")
    trns.foreach(t => require(t.length <= nEntries, "tRNS longer than palette"))
    assemblePng(width, height, 3,
      rasterStream(indices, width, height, 1, filterFor, interlace),
      Seq("PLTE" -> palette) ++ trns.map("tRNS" -> _), idatChunk, interlace)
  }

  /** Apply `filterFor(y)` per scanline (RFC 2083 §6 forward direction) —
    * shared by both encoders; `bpp` is bytes per pixel in this raster
    * (the palette form filters indices at bpp = 1).
    */
  private def filterRaster(pixels: Array[Byte], width: Int, height: Int,
                           bpp: Int, filterFor: Int => Int): Array[Byte] = {
    val stride = width * bpp
    val raw = new Array[Byte](height * (1 + stride))
    var y = 0
    while (y < height) {
      val rowIn = y * stride
      val rowOut = y * (1 + stride)
      val filter = filterFor(y)
      require(filter >= 0 && filter <= 4, s"bad filter $filter")
      raw(rowOut) = filter.toByte
      var x = 0
      while (x < stride) {
        val v = pixels(rowIn + x) & 0xff
        val a = if (x >= bpp) pixels(rowIn + x - bpp) & 0xff else 0
        val b = if (y > 0) pixels(rowIn - stride + x) & 0xff else 0
        val c =
          if (y > 0 && x >= bpp) pixels(rowIn - stride + x - bpp) & 0xff else 0
        val pred = filter match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
        }
        raw(rowOut + 1 + x) = (v - pred).toByte
        x += 1
      }
      y += 1
    }
    raw
  }

  /** Deflate the filtered raster and lay down the chunk stream:
    * IHDR, any extra chunks (PLTE/tRNS, in order), IDATs split at
    * `idatChunk` bytes, IEND — each CRC'd.
    */
  private def assemblePng(width: Int, height: Int, colorType: Int,
                          raw: Array[Byte],
                          extraChunks: Seq[(String, Array[Byte])],
                          idatChunk: Int,
                          interlace: Boolean = false): Array[Byte] = {
    val deflater = new Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val z = zout.toByteArray

    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig, 0, PngSig.length)
    def be32(v: Int): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be32(data.length), 0, 4)
      val t = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(t, 0, 4)
      out.write(data, 0, data.length)
      val crc = new CRC32()
      crc.update(t); crc.update(data)
      out.write(be32(crc.getValue.toInt), 0, 4)
    }
    chunk("IHDR", be32(width) ++ be32(height) ++
      Array[Byte](8, colorType.toByte, 0, 0, if (interlace) 1 else 0))
    extraChunks.foreach { case (typ, data) => chunk(typ, data) }
    z.grouped(math.max(1, idatChunk)).foreach(part => chunk("IDAT", part))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  // ----------------------------------------------------------------- resize

  /** Nearest-neighbor resample to exactly `tw`×`th`: output pixel
    * (tx, ty) reads source (⌊tx·w/tw⌋, ⌊ty·h/th⌋) — pure integer math,
    * so the SQL oracle mirrors it exactly. The standard cheap
    * downsample of a vision-preprocessing pass; runs on the DECODED
    * raster inside the same per-partition task as the decode.
    */
  def resizeNearest(img: Image, tw: Int, th: Int): Image = {
    require(tw > 0 && th > 0, "target dims must be positive")
    val ch = img.channels
    val out = new Array[Byte](tw * th * ch)
    var ty = 0
    while (ty < th) {
      val sy = ty * img.height / th
      var tx = 0
      while (tx < tw) {
        val sx = tx * img.width / tw
        val src = (sy * img.width + sx) * ch
        val dst = (ty * tw + tx) * ch
        var c = 0
        while (c < ch) { out(dst + c) = img.pixels(src + c); c += 1 }
        tx += 1
      }
      ty += 1
    }
    Image(tw, th, ch, out)
  }

  // -------------------------------------------------------------- WAV PCM

  /** Decode WAV PCM samples: RIFF/WAVE chunk walk (even-padded, same
    * structure rules as [[Multimodal.AvHeaders]]), `fmt ` must declare
    * audio format 1 (integer PCM) at 8 or 16 bits, and the `data`
    * chunk's payload must be fully present (a sample decode reads the
    * samples — truncation is malformed here, unlike the header-only
    * probe). 16-bit samples are little-endian signed; 8-bit storage is
    * unsigned and centered by −128, so both land sign-centered in
    * [[Pcm.samples]].
    */
  def decodeWavPcm(payload: Array[Byte]): Pcm = {
    def u8(i: Int): Int = payload(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      (u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)) & 0xffffffffL
    def cc(i: Int): String =
      new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    if (payload.length < 12 || cc(0) != "RIFF" || cc(8) != "WAVE")
      wav("bad RIFF/WAVE header")
    var i = 12L
    var fmt: Option[(Int, Int, Int, Int)] = None // format, ch, rate, bits
    var dataAt = -1L; var dataSize = -1L
    while (i + 8 <= payload.length) {
      val at = i.toInt
      val id = cc(at)
      val sz = le32(at + 4)
      if (id == "fmt ") {
        if (sz < 16 || i + 8 + 16 > payload.length) wav("short fmt")
        fmt = Some((le16(at + 8), le16(at + 10), le32(at + 12).toInt,
          le16(at + 22)))
      } else if (id == "data") { dataAt = i + 8; dataSize = sz }
      i += 8L + sz + (sz & 1L)
    }
    val (format, ch, rate, bits) = fmt.getOrElse(wav("no fmt chunk"))
    // format 1 = integer PCM; format 7 = G.711 mu-law; format 6 =
    // G.711 A-law (both 8-bit companded storage, decoded here to
    // linear-range samples)
    if (format != 1 && format != 6 && format != 7)
      wav(s"unsupported non-PCM format $format")
    if ((format == 6 || format == 7) && bits != 8)
      wav(s"G.711 requires 8-bit storage, got $bits")
    if (bits != 8 && bits != 16) wav(s"unsupported bit depth $bits")
    if (ch <= 0 || rate <= 0) wav("bad fmt values")
    if (dataAt < 0) wav("no data chunk")
    if (dataAt + dataSize > payload.length) wav("truncated samples")
    val bytesPer = bits / 8
    if (dataSize % (bytesPer * ch) != 0) wav("ragged data chunk")
    val n = (dataSize / bytesPer).toInt
    val samples = new Array[Int](n)
    var s = 0
    while (s < n) {
      val at = (dataAt + s.toLong * bytesPer).toInt
      samples(s) =
        if (format == 7) mulawDecode(u8(at))
        else if (format == 6) alawDecode(u8(at))
        else if (bits == 16) le16(at).toShort.toInt
        else u8(at) - 128
      s += 1
    }
    Pcm(rate, ch, bits, samples)
  }

  /** G.711 mu-law expand: one companded byte (stored complemented, sign
    * in the MSB, 3-bit segment, 4-bit mantissa) to its linear sample —
    * the CCITT reference decode, exact integer math:
    * `t = ((u & 0xf) << 3) + 0x84) << segment`, sign applied around the
    * 0x84 bias. Both zero codes (0x7f/0xff) decode to 0.
    */
  def mulawDecode(b: Int): Int = {
    val u = ~b & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 mu-law compress — [[mulawDecode]]'s inverse on every code
    * point except the two zero codes (0x7f and 0xff both expand to 0;
    * compress canonically returns 0xff for 0). Clamps to the codec's
    * ±32635 linear range.
    */
  def mulawEncode(sample: Int): Int = {
    var s = sample
    val sign = if (s < 0) { s = -s; 0x80 } else 0
    if (s > 32635) s = 32635
    s += 0x84
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    val mant = (s >> (exp + 3)) & 0x0f
    ~(sign | (exp << 4) | mant) & 0xff
  }

  /** G.711 A-law expand: one companded byte (even-bit-inverted via the
    * 0x55 toggle, sign in the MSB meaning POSITIVE, 3-bit segment,
    * 4-bit mantissa) to its linear sample — the CCITT reference decode
    * (Sun `alaw2linear`), exact integer math. A-law has NO zero code:
    * the range is ±[8, 32256], so sign flips are always clean.
    */
  def alawDecode(b: Int): Int = {
    val a = (b ^ 0x55) & 0xff
    val seg = (a & 0x70) >> 4
    val t0 = (a & 0x0f) << 4
    val t =
      if (seg == 0) t0 + 8
      else if (seg == 1) t0 + 0x108
      else (t0 + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** G.711 A-law compress — [[alawDecode]]'s exact inverse on every
    * code point (A-law decode is injective over all 256 codes, unlike
    * mu-law's two zero codes). Clamps to the codec's ±32256 range.
    */
  def alawEncode(sample: Int): Int = {
    var p = sample >> 3 // 13-bit domain (arithmetic shift keeps sign)
    val mask = if (p >= 0) 0xd5 else { p = -p - 1; 0x55 }
    var seg = 0
    while (seg < 8 && p > ((0x1f << seg) | ((1 << seg) - 1))) seg += 1
    if (seg >= 8) 0x7f ^ mask
    else {
      val mant = if (seg < 2) (p >> 1) & 0x0f else (p >> seg) & 0x0f
      ((seg << 4) | mant) ^ mask
    }
  }

  /** FIXTURE-side mu-law WAV writer: raw companded bytes into a
    * canonical RIFF/fmt(format=7, 8-bit)/data layout — what a telephony
    * or call-center corpus actually ships; [[decodeWavPcm]] expands it.
    */
  def encodeWavMulaw(rate: Int, ch: Int, ulaw: Array[Byte]): Array[Byte] =
    encodeWavG711(rate, ch, ulaw, format = 7)

  /** FIXTURE-side A-law WAV writer (format 6) — [[encodeWavMulaw]]'s
    * European-telephony sibling.
    */
  def encodeWavAlaw(rate: Int, ch: Int, alaw: Array[Byte]): Array[Byte] =
    encodeWavG711(rate, ch, alaw, format = 6)

  private def encodeWavG711(rate: Int, ch: Int, codes: Array[Byte],
                            format: Int): Array[Byte] = {
    require(ch > 0 && rate > 0, "bad fmt values")
    require(codes.length % ch == 0, "ragged interleave")
    val dataSize = codes.length
    val padded = dataSize + (dataSize & 1)
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    cc("RIFF"); w32(4 + 8 + 16 + 8 + padded); cc("WAVE")
    cc("fmt "); w32(16)
    w16(format); w16(ch); w32(rate); w32(rate * ch); w16(ch); w16(8)
    cc("data"); w32(dataSize)
    out.write(codes)
    if ((dataSize & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** FIXTURE-side WAV PCM writer — the byte-level inverse of
    * [[decodeWavPcm]]: sign-centered samples to 16-bit LE signed or
    * 8-bit unsigned (+128) storage, canonical RIFF/fmt/data layout,
    * data chunk padded to even length per the RIFF rule.
    */
  def encodeWavPcm(pcm: Pcm): Array[Byte] = {
    val Pcm(rate, ch, bits, samples) = pcm
    require(bits == 8 || bits == 16, s"unsupported bit depth $bits")
    require(samples.length % ch == 0, "ragged interleave")
    val bytesPer = bits / 8
    val dataSize = samples.length * bytesPer
    val blockAlign = ch * bytesPer
    val byteRate = rate * blockAlign
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    ascii("RIFF"); le32(36 + dataSize + (dataSize & 1)); ascii("WAVE")
    ascii("fmt "); le32(16); le16(1); le16(ch); le32(rate); le32(byteRate)
    le16(blockAlign); le16(bits)
    ascii("data"); le32(dataSize)
    samples.foreach { v =>
      if (bits == 16) le16(v & 0xffff) else out.write((v + 128) & 0xff)
    }
    if ((dataSize & 1) == 1) out.write(0) // RIFF even padding
    out.toByteArray
  }
}
