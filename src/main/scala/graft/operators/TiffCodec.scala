package graft.operators

import graft.codec.{Inflate, Reject}

/** TIFF 6.0 raster decode — the container scanned documents actually
  * arrive in: fax archives, library digitizations and OCR pipelines
  * feed multi-strip TIFFs, and a multimodal crawl corpus that nulls
  * them loses the entire scanned-paper population (the same dark-data
  * argument that brought PDFs into round 13). Bounded to the
  * offline-verifiable core of the spec; everything else is a NAMED
  * rejection ([[graft.codec.Reject]], codec `tiff`), the codec
  * family's honest-rejection contract ([[PdfCodec]] discipline).
  *
  * Reference analog: raw schemaless documents in front of the map
  * function (`/root/reference/Projector/indexjs.go:73-191`)
  * — the decode step before any feature extraction can run.
  *
  * Supported (TIFF 6.0, chunky planar, 8-bit or bilevel samples):
  *  - both byte orders (`II`/`MM`), classic 42 magic, IFD0 only
  *    (a multi-page TIFF's later IFDs are out of scope — page 0 is
  *    the raster contract, like [[GifCodec]] takes frame 0);
  *  - photometric 0/1 (gray, WhiteIsZero inverted to the family's
  *    BlackIsZero convention), 2 (RGB, 3 or 4 samples — the 4th is
  *    an alpha ExtraSample), 3 (palette: 16-bit ColorMap folded to
  *    8 bits by its high byte, expanded to RGB);
  *  - bilevel 1-bit rows (byte-aligned per spec §"Compression"),
  *    expanded to 0/255 gray;
  *  - compression 1 (none), 5 (TIFF LZW — [[PdfCodec.lzwDecode]],
  *    the SAME table-growth rules ISO 32000-1 inherited from TIFF),
  *    8/32946 (Adobe/deflate, RFC 1950), 32773 (PackBits), each
  *    per strip, with predictor 2 (horizontal differencing, 8-bit)
  *    undone after decompression;
  *  - multi-strip images (`RowsPerStrip`), strict per-strip byte
  *    accounting — a strip decoding to the wrong length is a broken
  *    file, not a short image.
  *
  * Named rejections: `ccitt` (compression 2/3/4 — fax G3/G4 needs its
  * own coding tables), `jpeg` (6/7 — lossy, the [[JpegCodec]] gate
  * covers JPEG proper), `compression` (anything else), `deep-sample`
  * (16-bit samples), `bps` (other depths), `photometric` (CMYK,
  * YCbCr, …), `planar` (PlanarConfiguration 2), `tiled` (tile tags —
  * the strip walk does not address tiles), `malformed` (framing,
  * bounds, truncation, inconsistent tags).
  */
object TiffCodec {

  private val reject = Reject.in("tiff")

  /** Dimension/allocation caps: a 100 TB ingest must shed hostile
    * headers without allocating for them first.
    */
  private val maxDim = 1 << 20
  private val maxPixels = 1 << 28

  private final class Reader(b: Array[Byte], le: Boolean) {
    def len: Int = b.length
    def u8(at: Int): Int = {
      if (at < 0 || at >= b.length) reject("malformed", "read past EOF")
      b(at) & 0xFF
    }
    def u16(at: Int): Int =
      if (le) u8(at) | (u8(at + 1) << 8)
      else (u8(at) << 8) | u8(at + 1)
    def u32(at: Int): Long =
      if (le) (u16(at) | (u16(at + 2).toLong << 16)) & 0xFFFFFFFFL
      else ((u16(at).toLong << 16) | u16(at + 2)) & 0xFFFFFFFFL
    def slice(at: Int, n: Int): Array[Byte] = {
      if (at < 0 || n < 0 || at.toLong + n > b.length)
        reject("malformed", s"$n bytes at $at run past EOF")
      java.util.Arrays.copyOfRange(b, at, at + n)
    }
  }

  private final case class Entry(tag: Int, typ: Int, count: Long,
                                 at: Int)

  /** Field values as longs — BYTE/SHORT/LONG, inline when they fit
    * the 4-byte value field (byte order applies PER ELEMENT), else at
    * the pointed offset. Types we never consume (RATIONAL, ASCII …)
    * reject only if a needed tag carries them.
    */
  private def values(r: Reader, e: Entry): Array[Long] = {
    val size = e.typ match {
      case 1 => 1 // BYTE
      case 3 => 2 // SHORT
      case 4 => 4 // LONG
      case t => reject("malformed", s"tag ${e.tag} has type $t")
    }
    if (e.count > (1 << 22))
      reject("malformed", s"tag ${e.tag} count ${e.count}")
    val n = e.count.toInt
    val total = size * n
    val base = if (total <= 4) e.at else {
      val off = r.u32(e.at)
      if (off > Int.MaxValue) reject("malformed", "offset overflows")
      off.toInt
    }
    Array.tabulate(n) { i =>
      size match {
        case 1 => r.u8(base + i).toLong
        case 2 => r.u16(base + 2 * i).toLong
        case 4 => r.u32(base + 4 * i)
      }
    }
  }

  def decodeTiff(payload: Array[Byte]): PixelCodec.Image = {
    if (payload.length < 8) reject("malformed", "shorter than a header")
    val le = (payload(0), payload(1)) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _ => reject("malformed", "bad byte-order mark")
    }
    val r = new Reader(payload, le)
    if (r.u16(2) != 42) reject("malformed", s"magic ${r.u16(2)} != 42")
    val ifdOff = r.u32(4)
    if (ifdOff > Int.MaxValue) reject("malformed", "IFD offset overflows")
    val at0 = ifdOff.toInt
    val nEntries = r.u16(at0)
    if (nEntries == 0 || nEntries > 4096)
      reject("malformed", s"$nEntries IFD entries")
    val tags = scala.collection.mutable.HashMap.empty[Int, Entry]
    var i = 0
    while (i < nEntries) {
      val at = at0 + 2 + 12 * i
      tags(r.u16(at)) = Entry(r.u16(at), r.u16(at + 2), r.u32(at + 4),
        at + 8)
      i += 1
    }
    def tag1(t: Int, default: Long = -1L): Long = tags.get(t) match {
      case Some(e) =>
        values(r, e).headOption.getOrElse(
          reject("malformed", s"tag $t has no values"))
      case None if default >= 0 => default
      case None => reject("malformed", s"required tag $t missing")
    }
    if (tags.contains(322) || tags.contains(324) || tags.contains(325))
      reject("tiled", "tile tags present; only strips are addressed")
    if (tag1(284, default = 1) == 2)
      reject("planar", "PlanarConfiguration 2 (planar) unsupported")
    val compression = tag1(259, default = 1).toInt
    compression match {
      case 1 | 5 | 8 | 32946 | 32773 => ()
      case 2 | 3 | 4 => reject("ccitt", s"compression $compression")
      case 6 | 7 => reject("jpeg", s"compression $compression")
      case c => reject("compression", s"compression $c")
    }
    val width = tag1(256)
    val height = tag1(257)
    if (width < 1 || height < 1 || width > maxDim || height > maxDim)
      reject("malformed", s"dimensions ${width}x$height")
    val w = width.toInt; val h = height.toInt
    val spp = tag1(277, default = 1).toInt
    val bpsArr = tags.get(258).map(e => values(r, e))
      .getOrElse(Array(1L))
    if (bpsArr.isEmpty) reject("malformed", "tag 258 has no values")
    if (bpsArr.exists(_ != bpsArr(0)))
      reject("bps", "heterogeneous BitsPerSample")
    val bps = bpsArr(0).toInt
    bps match {
      case 1 | 8 => ()
      case 16 => reject("deep-sample", "16-bit samples unsupported")
      case b => reject("bps", s"$b bits per sample")
    }
    val photometric = tag1(262).toInt
    val predictor = tag1(317, default = 1).toInt
    if (predictor != 1 && predictor != 2)
      reject("malformed", s"predictor $predictor")
    if (predictor == 2 && bps != 8)
      reject("malformed", "predictor 2 with non-8-bit samples")
    // per-photometric shape checks
    photometric match {
      case 0 | 1 =>
        if (spp != 1) reject("malformed", s"gray with $spp samples")
      case 2 =>
        if (bps != 8) reject("bps", "RGB below 8 bits")
        if (spp != 3 && spp != 4)
          reject("malformed", s"RGB with $spp samples")
      case 3 =>
        if (spp != 1) reject("malformed", s"palette with $spp samples")
        if (bps != 8) reject("bps", "palette below 8 bits")
      case p => reject("photometric", s"photometric $p")
    }
    if (bps == 1 && photometric != 0 && photometric != 1)
      reject("malformed", "bilevel must be gray photometric")
    if (w.toLong * h * spp > maxPixels)
      reject("malformed", "raster past the allocation cap")
    val offsets = values(r, tags.getOrElse(273,
      reject("malformed", "StripOffsets missing")))
    val counts = values(r, tags.getOrElse(279,
      reject("malformed", "StripByteCounts missing")))
    if (offsets.length != counts.length)
      reject("malformed", "strip offset/count tables disagree")
    val rps0 = tag1(278, default = height)
    val rps = if (rps0 < 1 || rps0 > height) h else rps0.toInt
    val nStrips = (h + rps - 1) / rps
    if (offsets.length != nStrips)
      reject("malformed",
        s"${offsets.length} strips for $nStrips row groups")
    val rowBytes = if (bps == 1) (w + 7) / 8 else w * spp
    val raster = new Array[Byte](rowBytes * h)
    var strip = 0
    while (strip < nStrips) {
      val rows = math.min(rps, h - strip * rps)
      if (counts(strip) > Int.MaxValue || offsets(strip) > Int.MaxValue)
        reject("malformed", "strip addressing overflows")
      val raw = r.slice(offsets(strip).toInt, counts(strip).toInt)
      val data = compression match {
        case 1 => raw
        case 5 =>
          try PdfCodec.lzwDecode(raw, earlyChange = 1)
          catch {
            case e: IllegalArgumentException =>
              reject("malformed", s"LZW strip: ${e.getMessage}")
          }
        case 8 | 32946 =>
          val z = Inflate("tiff", raw, 0, raw.length, zlib = true,
            maxPixels, "deflate strip inflates past the cap")
          if (!z.ended) reject("malformed", "deflate strip truncated")
          z.bytes
        case 32773 => packBits(raw)
      }
      if (data.length != rowBytes * rows)
        reject("malformed",
          s"strip $strip decodes to ${data.length} bytes, " +
            s"want ${rowBytes * rows}")
      if (predictor == 2) undoPredictor(data, rows, w, spp)
      System.arraycopy(data, 0, raster, strip * rps * rowBytes,
        data.length)
      strip += 1
    }
    // fold to the family's Image convention
    if (bps == 1) {
      val px = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val bit = (raster(y * rowBytes + (x >> 3)) >> (7 - (x & 7))) & 1
          // photometric 0: 0 imaged white; 1: 0 imaged black
          val v = if (photometric == 0) (if (bit == 0) 255 else 0)
                  else (if (bit == 0) 0 else 255)
          px(y * w + x) = v.toByte
          x += 1
        }
        y += 1
      }
      PixelCodec.Image(w, h, 1, px)
    } else photometric match {
      case 0 => // WhiteIsZero gray: invert to BlackIsZero
        val px = new Array[Byte](w * h)
        var p = 0
        while (p < px.length) {
          px(p) = (255 - (raster(p) & 0xFF)).toByte; p += 1
        }
        PixelCodec.Image(w, h, 1, px)
      case 1 => PixelCodec.Image(w, h, 1, raster)
      case 2 => PixelCodec.Image(w, h, spp, raster)
      case 3 =>
        val cmE = tags.getOrElse(320,
          reject("malformed", "palette without ColorMap"))
        val cm = values(r, cmE)
        if (cm.length != 3 * 256)
          reject("malformed", s"ColorMap length ${cm.length}")
        val px = new Array[Byte](w * h * 3)
        var p = 0
        while (p < w * h) {
          val idx = raster(p) & 0xFF
          // 16-bit ColorMap folded by its high byte (the spec's
          // 65535-scaled values; >>8 is the lossless inverse of the
          // usual v*257 promotion)
          px(3 * p) = ((cm(idx) >> 8) & 0xFF).toByte
          px(3 * p + 1) = ((cm(256 + idx) >> 8) & 0xFF).toByte
          px(3 * p + 2) = ((cm(512 + idx) >> 8) & 0xFF).toByte
          p += 1
        }
        PixelCodec.Image(w, h, 3, px)
    }
  }

  /** PackBits (TIFF 6.0 §9): n in 0..127 copies n+1 literals, n in
    * -127..-1 repeats the next byte 1-n times, -128 is a no-op.
    */
  private def packBits(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length * 2)
    var at = 0
    while (at < raw.length) {
      val n = raw(at).toInt
      at += 1
      if (n >= 0) {
        if (at + n + 1 > raw.length)
          reject("malformed", "PackBits literal run truncated")
        out.write(raw, at, n + 1)
        at += n + 1
      } else if (n != -128) {
        if (at >= raw.length)
          reject("malformed", "PackBits repeat run truncated")
        val v = raw(at); at += 1
        var k = 1 - n
        while (k > 0) { out.write(v); k -= 1 }
      }
      if (out.size() > maxPixels)
        reject("malformed", "PackBits expands past the cap")
    }
    out.toByteArray
  }

  /** Undo horizontal differencing (predictor 2) in place, 8-bit
    * samples, `spp` channels per pixel.
    */
  private def undoPredictor(data: Array[Byte], rows: Int, w: Int,
                            spp: Int): Unit = {
    val rowBytes = w * spp
    var y = 0
    while (y < rows) {
      var x = spp
      while (x < rowBytes) {
        data(y * rowBytes + x) =
          (data(y * rowBytes + x) + data(y * rowBytes + x - spp)).toByte
        x += 1
      }
      y += 1
    }
  }

  // ------------------------------------------------------- fixture side

  private def pack16(v: Int, le: Boolean): Array[Byte] =
    if (le) Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    else Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  private def pack32(v: Long, le: Boolean): Array[Byte] =
    if (le) Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    else Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  /** Fixture encoder — a real single-IFD TIFF: strip data first (at
    * offset 8), IFD after it, out-of-line value arrays after the IFD.
    * `photometric` 0/1/2/3 with the same shape rules the decoder
    * enforces; `colorMap` is the 3·256 16-bit palette for photometric
    * 3; `bilevelRows` packed 1-bit rows override `pixels`.
    */
  def encodeTiff(w: Int, h: Int, spp: Int, photometric: Int,
                 pixels: Array[Byte], bigEndian: Boolean = false,
                 compression: Int = 1, rowsPerStrip: Int = 0,
                 predictor: Int = 1,
                 colorMap: Array[Int] = null,
                 bps: Int = 8,
                 // rejection fixtures: write THIS compression tag value
                 // (data stays encoded per `compression`), or add a
                 // TileWidth tag — the decoder must reject by name
                 // before ever touching strip data
                 compressionTagOverride: Int = 0,
                 tileTag: Boolean = false): Array[Byte] = {
    val le = !bigEndian
    val rps = if (rowsPerStrip < 1) h else rowsPerStrip
    val rowBytes = if (bps == 1) (w + 7) / 8 else w * spp
    val nStrips = (h + rps - 1) / rps
    // per-strip payloads, predictor applied then compressed
    val strips = (0 until nStrips).map { s =>
      val rows = math.min(rps, h - s * rps)
      val data = java.util.Arrays.copyOfRange(pixels,
        s * rps * rowBytes, s * rps * rowBytes + rows * rowBytes)
      if (predictor == 2) {
        var y = 0
        while (y < rows) {
          var x = rowBytes - 1
          while (x >= spp) {
            data(y * rowBytes + x) =
              (data(y * rowBytes + x) - data(y * rowBytes + x - spp)).toByte
            x -= 1
          }
          y += 1
        }
      }
      compression match {
        case 1 => data
        case 5 => PdfCodec.lzwEncode(data)
        case 8 =>
          val d = new java.util.zip.Deflater()
          try {
            d.setInput(data); d.finish()
            val buf = new Array[Byte](64 * 1024)
            val out = new java.io.ByteArrayOutputStream()
            while (!d.finished()) out.write(buf, 0, d.deflate(buf))
            out.toByteArray
          } finally d.end()
        case 32773 =>
          // literal runs only — valid PackBits, no compression won
          val out = new java.io.ByteArrayOutputStream()
          var at = 0
          while (at < data.length) {
            val n = math.min(128, data.length - at)
            out.write(n - 1)
            out.write(data, at, n)
            at += n
          }
          out.toByteArray
        case c => throw new IllegalArgumentException(s"fixture: $c")
      }
    }
    val dataStart = 8
    val stripOffsets = strips.scanLeft(dataStart.toLong)(_ + _.length)
      .init
    val dataLen = strips.map(_.length).sum
    var ifdAt = dataStart + dataLen
    if (ifdAt % 2 == 1) ifdAt += 1 // word-align the IFD
    // entries: (tag, type, values)
    val entries = scala.collection.mutable.ArrayBuffer.empty[
      (Int, Int, Array[Long])]
    entries += ((256, 4, Array(w.toLong)))
    entries += ((257, 4, Array(h.toLong)))
    entries += ((258, 3, Array.fill(spp)(bps.toLong)))
    entries += ((259, 3, Array(
      (if (compressionTagOverride != 0) compressionTagOverride
       else compression).toLong)))
    if (tileTag) entries += ((322, 4, Array(16L)))
    entries += ((262, 3, Array(photometric.toLong)))
    entries += ((273, 4, stripOffsets.toArray))
    entries += ((277, 3, Array(spp.toLong)))
    entries += ((278, 4, Array(rps.toLong)))
    entries += ((279, 4, strips.map(_.length.toLong).toArray))
    if (predictor != 1) entries += ((317, 3, Array(predictor.toLong)))
    if (colorMap != null)
      entries += ((320, 3, colorMap.map(_.toLong)))
    val sorted = entries.sortBy(_._1) // spec: ascending tag order
    val ifdLen = 2 + sorted.length * 12 + 4
    var extraAt = ifdAt + ifdLen
    val extra = new java.io.ByteArrayOutputStream()
    val out = new java.io.ByteArrayOutputStream()
    out.write((if (le) "II" else "MM").getBytes("US-ASCII"))
    out.write(pack16(42, le))
    out.write(pack32(ifdAt.toLong, le))
    strips.foreach(out.write)
    if ((dataStart + dataLen) % 2 == 1) out.write(0)
    out.write(pack16(sorted.length, le))
    sorted.foreach { case (tag, typ, vs) =>
      out.write(pack16(tag, le))
      out.write(pack16(typ, le))
      out.write(pack32(vs.length.toLong, le))
      val size = if (typ == 3) 2 else 4
      if (size * vs.length <= 4) {
        val field = new java.io.ByteArrayOutputStream()
        vs.foreach { v =>
          if (typ == 3) field.write(pack16(v.toInt, le))
          else field.write(pack32(v, le))
        }
        while (field.size() < 4) field.write(0)
        out.write(field.toByteArray)
      } else {
        out.write(pack32(extraAt.toLong, le))
        vs.foreach { v =>
          if (typ == 3) extra.write(pack16(v.toInt, le))
          else extra.write(pack32(v, le))
        }
        extraAt = ifdAt + ifdLen + extra.size()
      }
    }
    out.write(pack32(0L, le)) // no next IFD
    out.write(extra.toByteArray)
    out.toByteArray
  }
}
