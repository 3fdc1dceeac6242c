package graft.operators

import graft.codec.Reject

import graft.operators.PixelCodec.Image

/** Pure-JVM JPEG codec (ITU-T T.81, 8-bit, Huffman) — BASELINE
  * sequential DCT and PROGRESSIVE (Annex G) decode: marker parse,
  * DQT/DHT/SOF0-2/DRI/SOS, interleaved MCU entropy decode with byte
  * unstuffing and restart markers, multi-scan spectral-selection /
  * successive-approximation coefficient accumulation for SOF2,
  * dequantize, double-precision IDCT, replication chroma upsample, JFIF
  * YCbCr→RGB — and the matching baseline encoder (forward DCT over
  * Annex K tables scaled by the libjpeg quality curve, standard Annex K
  * Huffman tables, optional restart intervals, 4:4:4 / 4:2:2 / 4:2:0
  * subsampling by box mean).
  *
  * Completes the real-decode tier next to [[PixelCodec]]'s PNG/WAV: a
  * web-crawl image corpus is mostly JPEG, and a large share of it is
  * progressive. Like the PNG path, structural damage (12-bit precision,
  * arithmetic coding, truncated entropy data, Huffman/quant table
  * references that don't resolve, malformed progression scripts) THROWS
  * rather than misdecodes; the extractors turn that into null facts per
  * row.
  *
  * Verification story (JPEG is lossy, so no closed-form pixel oracle):
  * the JDK's independent ImageIO decoder is the ground truth — the
  * `multimodal_jpeg` query decodes every payload with BOTH decoders in
  * the same task and gates max-abs-difference ≤ [[JpegCodec.Tolerance]]
  * (decoders may legitimately differ by a little: IEEE-1180 IDCT
  * tolerance + fixed- vs floating-point color convert; any entropy or
  * coefficient error produces differences orders of magnitude larger).
  * Chroma-subsampled comparisons are only decoder-independent when the
  * chroma planes are flat (upsample FILTERS differ between decoders;
  * replication vs libjpeg's triangle filter) — the fixture plants
  * gray-content color JPEGs for the 4:2:0 kind, and the spec
  * cross-validates this encoder's arbitrary-color 4:4:4 output against
  * ImageIO both ways.
  */
object JpegCodec {

  /** Max per-sample abs difference accepted vs an independent baseline
    * decoder. Compliant decoders are NOT bit-identical: IEEE-1180
    * permits small IDCT differences, and fixed-point (libjpeg islow +
    * table-based color convert, which the JDK wraps) vs double-precision
    * rounding stack to a few counts on saturated content — measured ≤ 3
    * across the seeded sweep. An entropy/coefficient bug produces
    * differences orders of magnitude larger, so the gate stays sharp.
    */
  val Tolerance: Int = 3

  private val fail = Reject.malformed("jpeg")

  /** Pixel cap, checked at the frame header before any plane is
    * allocated: a progressive decode holds ~18 bytes per pixel
    * (coefficients, planes, output), so a hostile 65535² header would
    * otherwise ask for tens of GiB.
    */
  private val maxPixels = 1 << 26

  // zigzag index -> natural (row-major) index, T.81 Figure A.6
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // Annex K quantization tables, natural order
  private val QLumaK: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private val QChromaK: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  // Annex K Huffman tables: (bits per code length 1..16, symbol values)
  private val DcLuma: (Array[Int], Array[Int]) = (
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    Array.range(0, 12))
  private val DcChroma: (Array[Int], Array[Int]) = (
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    Array.range(0, 12))
  private val AcLuma: (Array[Int], Array[Int]) = (
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d),
    Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
      0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
      0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
      0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
      0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
      0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
      0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
      0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
      0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
      0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
      0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
      0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
      0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
      0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))
  private val AcChroma: (Array[Int], Array[Int]) = (
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    Array(
      0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
      0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
      0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
      0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
      0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
      0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
      0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
      0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
      0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
      0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
      0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
      0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
      0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
      0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))

  // IDCT/FDCT basis: cos((2x+1)·u·π/16) scaled by the normalization
  private val CosT: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16.0) *
          (if (u == 0) math.sqrt(0.5) else 1.0)
        x += 1
      }
      u += 1
    }
    t
  }

  // --------------------------------------------------------------- Huffman

  /** Canonical Huffman decode table (T.81 F.2.2.3 form): per code
    * length 1..16 the min/max code and the symbol-array offset.
    */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    require(bits.length == 16)
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    val symbols: Array[Int] = vals
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
      if (k != vals.length) fail("DHT counts disagree with symbols")
    }
  }

  /** Entropy-segment bit reader: unstuffs 0xFF00, stops at any real
    * marker (restart handling is explicit via [[expectRestart]]).
    */
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0

    def nextBit(): Int = {
      if (nbits == 0) {
        if (pos >= data.length) fail("entropy data exhausted")
        val b = data(pos) & 0xff
        if (b == 0xff) {
          if (pos + 1 >= data.length) fail("entropy data exhausted")
          val b2 = data(pos + 1) & 0xff
          if (b2 != 0x00) fail(
            f"unexpected marker 0xff$b2%02x inside entropy data")
          pos += 2
        } else pos += 1
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >>> nbits) & 1
    }

    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | nextBit(); i += 1 }
      v
    }

    def decodeHuff(t: HuffTable): Int = {
      var code = nextBit()
      var l = 1
      while (code > t.maxCode(l)) {
        if (l >= 16) fail("invalid Huffman code")
        code = (code << 1) | nextBit()
        l += 1
      }
      t.symbols(t.valPtr(l) + code - t.minCode(l))
    }

    /** Byte-align and consume the expected RSTn marker. */
    def expectRestart(n: Int): Unit = {
      nbits = 0
      if (pos + 1 >= data.length) fail("truncated at restart")
      if ((data(pos) & 0xff) != 0xff ||
        (data(pos + 1) & 0xff) != (0xd0 + (n & 7)))
        fail("missing restart marker")
      pos += 2
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  // ---------------------------------------------------------------- decode

  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var dcTable: HuffTable = null
    var acTable: HuffTable = null
    var pred: Int = 0
  }

  /** Decode a JPEG to 8-bit pixels: grayscale (1 component) or YCbCr
    * (3 components, JFIF convert to RGB). Dispatches on the frame
    * marker: SOF0/SOF1 take the streaming single-scan baseline path;
    * SOF2 takes the multi-scan PROGRESSIVE path ([[decodeProgressive]]).
    * Subsampled chroma upsamples by replication — a legitimate decoder
    * choice (libjpeg's `-nosmooth`); comparisons against
    * filter-upsampling decoders are only meaningful on flat chroma (see
    * object doc).
    */
  def decodeJpeg(payload: Array[Byte]): Image =
    if (sofMarker(payload) == 0xc2) decodeProgressive(payload)
    else decodeBaseline(payload)

  /** The frame type: walk the marker stream to the first SOFn and return
    * its marker byte. Shares the dispatcher's structural strictness:
    * no SOI, a truncated segment, or SOS-before-SOF all throw here.
    */
  private def sofMarker(payload: Array[Byte]): Int = {
    def u8(i: Int): Int = {
      if (i >= payload.length) fail("truncated")
      payload(i) & 0xff
    }
    if (payload.length < 4 || u8(0) != 0xff || u8(1) != 0xd8)
      fail("no SOI")
    var i = 2
    while (true) {
      if (u8(i) != 0xff) fail("expected marker")
      // T.81 B.1.1.2: any number of 0xFF FILL bytes may precede a
      // marker code — skip them (the progressive walk and the header
      // sniffer already do; rejecting them here nulled valid crawl
      // JPEGs out of the baseline path)
      while (u8(i + 1) == 0xff) i += 1
      val m = u8(i + 1)
      if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
        return m
      if (m == 0xd9 || m == 0xda) fail("no SOF before SOS/EOI")
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
      else {
        val len = (u8(i + 2) << 8) | u8(i + 3)
        if (len < 2 || i + 2 + len > payload.length)
          fail("truncated segment")
        i += 2 + len
      }
    }
    0 // unreachable
  }

  private def decodeBaseline(payload: Array[Byte]): Image = {
    def u8(i: Int): Int = {
      if (i >= payload.length) fail("truncated")
      payload(i) & 0xff
    }
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (payload.length < 4 || u8(0) != 0xff || u8(1) != 0xd8)
      fail("no SOI")

    val qt = new Array[Array[Int]](4) // natural-order, per Tq slot
    val dcT = new Array[HuffTable](4)
    val acT = new Array[HuffTable](4)
    var comps: Array[Component] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var i = 2
    var scanAt = -1

    while (scanAt < 0) {
      if (u8(i) != 0xff) fail("expected marker")
      // T.81 B.1.1.2 fill bytes before the marker code
      while (u8(i + 1) == 0xff) i += 1
      val m = u8(i + 1)
      if (m == 0xd8) fail("duplicate SOI")
      else if (m == 0xd9) fail("EOI before SOS")
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
      else {
        val len = u16(i + 2)
        if (len < 2 || i + 2 + len > payload.length)
          fail("truncated segment")
        m match {
          case 0xdb => // DQT: one or more tables
            var p = i + 4
            while (p < i + 2 + len) {
              val pq = u8(p) >> 4; val tq = u8(p) & 15
              if (pq != 0) fail("16-bit quant tables unsupported")
              if (tq > 3) fail("bad quant table id")
              if (p + 65 > i + 2 + len) fail("truncated DQT")
              val t = new Array[Int](64)
              var z = 0
              while (z < 64) { t(Zigzag(z)) = u8(p + 1 + z); z += 1 }
              qt(tq) = t
              p += 65
            }
          case 0xc4 => // DHT: one or more tables
            var p = i + 4
            while (p < i + 2 + len) {
              val tc = u8(p) >> 4; val th = u8(p) & 15
              if (tc > 1 || th > 3) fail("bad Huffman table spec")
              val bits = Array.tabulate(16)(j => u8(p + 1 + j))
              val n = bits.sum
              if (p + 17 + n > i + 2 + len) fail("truncated DHT")
              val vals = Array.tabulate(n)(j => u8(p + 17 + j))
              val t = new HuffTable(bits, vals)
              if (tc == 0) dcT(th) = t else acT(th) = t
              p += 17 + n
            }
          case 0xc0 | 0xc1 => // SOF0 baseline / SOF1 extended sequential
            if (comps != null) fail("duplicate SOF")
            if (u8(i + 4) != 8) fail("only 8-bit precision")
            height = u16(i + 5); width = u16(i + 7)
            if (width <= 0 || height <= 0) fail("bad dimensions")
            if (width.toLong * height > maxPixels)
              fail(s"${width}x$height is past the $maxPixels-pixel cap")
            val nf = u8(i + 9)
            if (nf != 1 && nf != 3) fail(s"unsupported $nf components")
            comps = Array.tabulate(nf) { c =>
              val at = i + 10 + c * 3
              val hv = u8(at + 1)
              val comp = Component(u8(at), hv >> 4, hv & 15, u8(at + 2))
              if (comp.h < 1 || comp.h > 2 || comp.v < 1 || comp.v > 2)
                fail("sampling factors beyond 2 unsupported")
              if (comp.tq > 3) fail("bad quant table id")
              comp
            }
          case 0xc2 => fail("progressive unsupported")
          case n if n >= 0xc3 && n <= 0xcf && n != 0xc4 && n != 0xc8 =>
            fail(f"unsupported SOF marker 0xff$n%02x")
          case 0xdd =>
            restartInterval = u16(i + 4)
          case 0xda => // SOS
            if (comps == null) fail("SOS before SOF")
            val ns = u8(i + 4)
            if (ns != comps.length)
              fail("non-interleaved multi-scan unsupported")
            var c = 0
            while (c < ns) {
              val cs = u8(i + 5 + c * 2)
              val comp = comps.find(_.id == cs).getOrElse(
                fail(s"SOS references unknown component $cs"))
              val tt = u8(i + 6 + c * 2)
              if ((tt >> 4) > 3 || (tt & 15) > 3)
                fail("bad Huffman table selector")
              comp.dcTable = dcT(tt >> 4)
              comp.acTable = acT(tt & 15)
              if (comp.dcTable == null || comp.acTable == null)
                fail("SOS references missing Huffman table")
              if (qt(comp.tq) == null)
                fail("component references missing quant table")
              c += 1
            }
            if (u8(i + 5 + ns * 2) != 0 || u8(i + 6 + ns * 2) != 63)
              fail("baseline scan must cover coefficients 0..63")
            scanAt = i + 2 + len
          case _ => () // APPn / COM / others: skipped
        }
        i += 2 + len
      }
    }

    // MCU geometry
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    // per-component padded plane (mcu-aligned), row-major
    val planeW = comps.map(c => mcusX * 8 * c.h)
    val planeH = comps.map(c => mcusY * 8 * c.v)
    val planes = Array.tabulate(comps.length)(c =>
      new Array[Byte](planeW(c) * planeH(c)))

    val reader = new BitReader(payload, scanAt)
    val coef = new Array[Int](64)
    val block = new Array[Int](64)
    var mcu = 0
    var rstN = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        reader.expectRestart(rstN)
        rstN = (rstN + 1) & 7
        comps.foreach(_.pred = 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var c = 0
      while (c < comps.length) {
        val comp = comps(c)
        val q = qt(comp.tq)
        var by = 0
        while (by < comp.v) {
          var bx = 0
          while (bx < comp.h) {
            java.util.Arrays.fill(coef, 0)
            // DC
            val s = reader.decodeHuff(comp.dcTable)
            if (s > 11) fail("bad DC size category")
            comp.pred += extend(reader.receive(s), s)
            coef(0) = comp.pred * q(0)
            // AC
            var k = 1
            var done = false
            while (!done && k < 64) {
              val rs = reader.decodeHuff(comp.acTable)
              val r = rs >> 4; val sz = rs & 15
              if (sz == 0) {
                if (r == 15) k += 16 else done = true
              } else {
                k += r
                if (k > 63) fail("AC run past block end")
                coef(Zigzag(k)) = extend(reader.receive(sz), sz) *
                  q(Zigzag(k))
                k += 1
              }
            }
            idct(coef, block)
            // place into plane
            val ox = (mx * comp.h + bx) * 8
            val oy = (my * comp.v + by) * 8
            val pw = planeW(c)
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(c)((oy + yy) * pw + ox + xx) =
                  block(yy * 8 + xx).toByte
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      mcu += 1
    }

    composeImage(comps, planes, planeW, width, height, hMax, vMax)
  }

  /** Shared tail of both decode paths: padded per-component planes →
    * grayscale passthrough or replication-upsampled JFIF YCbCr→RGB.
    */
  private def composeImage(comps: Array[Component],
                           planes: Array[Array[Byte]], planeW: Array[Int],
                           width: Int, height: Int,
                           hMax: Int, vMax: Int): Image =
    if (comps.length == 1) {
      val out = new Array[Byte](width * height)
      val pw = planeW(0)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * pw, out, y * width, width)
        y += 1
      }
      Image(width, height, 1, out)
    } else {
      val out = new Array[Byte](width * height * 3)
      val sx = comps.map(c => hMax / c.h)
      val sy = comps.map(c => vMax / c.v)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val yv = planes(0)((y / sy(0)) * planeW(0) + x / sx(0)) & 0xff
          val cb = (planes(1)((y / sy(1)) * planeW(1) + x / sx(1)) & 0xff) - 128
          val cr = (planes(2)((y / sy(2)) * planeW(2) + x / sx(2)) & 0xff) - 128
          val o = (y * width + x) * 3
          out(o) = clamp8(math.round(yv + 1.402 * cr).toInt)
          out(o + 1) = clamp8(
            math.round(yv - 0.344136286 * cb - 0.714136286 * cr).toInt)
          out(o + 2) = clamp8(math.round(yv + 1.772 * cb).toInt)
          x += 1
        }
        y += 1
      }
      Image(width, height, 3, out)
    }

  // --------------------------------------------------- progressive decode

  /** PROGRESSIVE JPEG (ITU-T T.81 Annex G, Huffman): the image's DCT
    * coefficients arrive over MULTIPLE scans — spectral selection splits
    * the zigzag band (DC scan first, AC bands per component), successive
    * approximation splits coefficient PRECISION (first scan delivers
    * bits above Al, refinement scans append one bit each) — so the full
    * coefficient planes must be held until EOI and dequant+IDCT runs
    * once at the end, unlike the baseline path's streaming per-MCU
    * decode.
    *
    * Scan coverage: interleaved DC scans over any component subset
    * (first + refinement), non-interleaved DC scans, AC first scans
    * with EOB-run coding, and AC refinement scans with correction bits
    * (G.1.2.3) — the full repertoire libjpeg-style progression scripts
    * emit (the JDK writer's progressive mode uses exactly those).
    * Restart markers reset DC predictors AND the EOB run per interval.
    * Structural violations (AC scan over multiple components, a band
    * crossing Ss=0, refinement size ≠ 1, runs past Se) throw like every
    * malformed stream in this tier.
    */
  private def decodeProgressive(payload: Array[Byte]): Image = {
    def u8(i: Int): Int = {
      if (i >= payload.length) fail("truncated")
      payload(i) & 0xff
    }
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (payload.length < 4 || u8(0) != 0xff || u8(1) != 0xd8)
      fail("no SOI")

    val qt = new Array[Array[Int]](4)
    val dcT = new Array[HuffTable](4)
    val acT = new Array[HuffTable](4)
    var comps: Array[Component] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var hMax = 0; var vMax = 0; var mcusX = 0; var mcusY = 0
    // per component: padded coefficient plane (natural order within each
    // 64-coef block), padded stride in blocks, REAL block dims
    var coefs: Array[Array[Int]] = null
    var planeBW: Array[Int] = null
    var blocksW: Array[Int] = null
    var blocksH: Array[Int] = null
    var sawScan = false

    /** Decode one SOS segment starting at `segStart` (the 0xFF byte);
      * returns the offset of the next marker after the entropy data.
      */
    def decodeScan(segStart: Int): Int = {
      val len = u16(segStart + 2)
      if (segStart + 2 + len > payload.length) fail("truncated SOS")
      val ns = u8(segStart + 4)
      if (ns < 1 || ns > comps.length) fail("bad scan component count")
      val scanComps = Array.tabulate(ns) { c =>
        val cs = u8(segStart + 5 + c * 2)
        val comp = comps.indexWhere(_.id == cs) match {
          case -1 => fail(s"SOS references unknown component $cs")
          case idx => idx
        }
        val tt = u8(segStart + 6 + c * 2)
        if ((tt >> 4) > 3 || (tt & 15) > 3)
          fail("bad Huffman table selector")
        (comp, tt >> 4, tt & 15)
      }
      if (scanComps.map(_._1).distinct.length != ns)
        fail("duplicate component in scan")
      val ss = u8(segStart + 5 + ns * 2)
      val se = u8(segStart + 6 + ns * 2)
      val ahal = u8(segStart + 7 + ns * 2)
      val ah = ahal >> 4; val al = ahal & 15
      if (ss == 0 && se != 0)
        fail("progressive band may not cross DC (Ss=0 needs Se=0)")
      if (ss > 0 && (ns != 1 || se < ss || se > 63))
        fail("AC scan must be non-interleaved with Ss<=Se<=63")
      if (ah != 0 && ah != al + 1)
        fail("successive approximation must refine one bit")
      scanComps.foreach { case (ci, td, ta) =>
        val comp = comps(ci)
        if (qt(comp.tq) == null)
          fail("component references missing quant table")
        if (ss == 0 && ah == 0) {
          comp.dcTable = dcT(td)
          if (comp.dcTable == null)
            fail("SOS references missing Huffman table")
        }
        if (ss > 0) {
          comp.acTable = acT(ta)
          if (comp.acTable == null)
            fail("SOS references missing Huffman table")
        }
      }
      val reader = new BitReader(payload, segStart + 2 + len)
      var eobrun = 0
      comps.foreach(_.pred = 0)
      var rstN = 0
      var sinceRestart = 0

      def maybeRestart(): Unit =
        if (restartInterval > 0 && sinceRestart == restartInterval) {
          reader.expectRestart(rstN)
          rstN = (rstN + 1) & 7
          sinceRestart = 0
          eobrun = 0
          comps.foreach(_.pred = 0)
        }

      def decodeDcBlock(ci: Int, base: Int): Unit = {
        val comp = comps(ci)
        if (ah == 0) {
          val s = reader.decodeHuff(comp.dcTable)
          if (s > 11) fail("bad DC size category")
          comp.pred += extend(reader.receive(s), s)
          coefs(ci)(base) = comp.pred << al
        } else if (reader.nextBit() == 1)
          coefs(ci)(base) |= 1 << al
      }

      if (ss == 0 && ns > 1) {
        // interleaved DC scan over the scan's components, MCU order
        var mcu = 0
        val nMcus = mcusX * mcusY
        while (mcu < nMcus) {
          maybeRestart()
          val mx = mcu % mcusX
          val my = mcu / mcusX
          scanComps.foreach { case (ci, _, _) =>
            val comp = comps(ci)
            var by = 0
            while (by < comp.v) {
              var bx = 0
              while (bx < comp.h) {
                val row = my * comp.v + by
                val colB = mx * comp.h + bx
                decodeDcBlock(ci, (row * planeBW(ci) + colB) * 64)
                bx += 1
              }
              by += 1
            }
          }
          sinceRestart += 1
          mcu += 1
        }
      } else {
        // non-interleaved: raster over the component's REAL blocks
        val ci = scanComps(0)._1
        val bw = blocksW(ci); val bh = blocksH(ci)
        val p1 = 1 << al; val m1 = -(1 << al)

        def refineNonzero(idx: Int): Unit = {
          val v = coefs(ci)(idx)
          if (reader.nextBit() == 1 && (v & p1) == 0)
            coefs(ci)(idx) = if (v >= 0) v + p1 else v + m1
        }

        var blk = 0
        val nBlocks = bw * bh
        while (blk < nBlocks) {
          maybeRestart()
          val base = ((blk / bw) * planeBW(ci) + blk % bw) * 64
          if (ss == 0) decodeDcBlock(ci, base)
          else if (ah == 0) {
            // AC first scan: band values at 2^al, EOB-run coded
            if (eobrun > 0) eobrun -= 1
            else {
              var k = ss
              while (k <= se) {
                val rs = reader.decodeHuff(comps(ci).acTable)
                val r = rs >> 4; val s = rs & 15
                if (s == 0) {
                  if (r < 15) {
                    eobrun = (1 << r) - 1 +
                      (if (r > 0) reader.receive(r) else 0)
                    k = se + 1
                  } else k += 16
                } else {
                  k += r
                  if (k > se) fail("AC run past band end")
                  coefs(ci)(base + Zigzag(k)) =
                    extend(reader.receive(s), s) << al
                  k += 1
                }
              }
            }
          } else {
            // AC refinement (G.1.2.3): correction bit per nonzero
            // history coefficient crossed, newly nonzero values ±2^al
            if (eobrun > 0) {
              eobrun -= 1
              var k = ss
              while (k <= se) {
                val idx = base + Zigzag(k)
                if (coefs(ci)(idx) != 0) refineNonzero(idx)
                k += 1
              }
            } else {
              var k = ss
              while (k <= se) {
                val rs = reader.decodeHuff(comps(ci).acTable)
                var r = rs >> 4; val s = rs & 15
                var insert = 0
                if (s == 0) {
                  if (r < 15) {
                    eobrun = (1 << r) - 1 +
                      (if (r > 0) reader.receive(r) else 0)
                    r = 64 // rest of this block refines only
                  } // r == 15: skip 16 zero-history coefficients
                } else {
                  if (s != 1) fail("bad refinement size category")
                  insert = if (reader.nextBit() == 1) p1 else m1
                }
                var advanced = false
                while (k <= se && !advanced) {
                  val idx = base + Zigzag(k)
                  if (coefs(ci)(idx) != 0) refineNonzero(idx)
                  else if (r == 0) {
                    if (insert != 0) coefs(ci)(idx) = insert
                    advanced = true
                  } else r -= 1
                  k += 1
                }
              }
            }
          }
          sinceRestart += 1
          blk += 1
        }
      }
      // byte-align and step to the next marker (skip fill 0xFF bytes and
      // any stuffed 0xFF00 straddling the scan tail)
      var p = reader.pos
      while (p + 1 < payload.length &&
        !((payload(p) & 0xff) == 0xff && (payload(p + 1) & 0xff) != 0x00))
        p += 1
      if (p + 1 >= payload.length) fail("no marker after scan")
      p
    }

    var i = 2
    var eoi = false
    while (!eoi) {
      if (u8(i) != 0xff) fail("expected marker")
      val m = u8(i + 1)
      if (m == 0xd9) eoi = true
      else if (m == 0xd8) fail("duplicate SOI")
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
      else if (m == 0xff) i += 1 // fill byte
      else {
        val len = u16(i + 2)
        if (len < 2 || i + 2 + len > payload.length)
          fail("truncated segment")
        m match {
          case 0xdb =>
            var p = i + 4
            while (p < i + 2 + len) {
              val pq = u8(p) >> 4; val tq = u8(p) & 15
              if (pq != 0) fail("16-bit quant tables unsupported")
              if (tq > 3) fail("bad quant table id")
              if (p + 65 > i + 2 + len) fail("truncated DQT")
              val t = new Array[Int](64)
              var z = 0
              while (z < 64) { t(Zigzag(z)) = u8(p + 1 + z); z += 1 }
              qt(tq) = t
              p += 65
            }
          case 0xc4 =>
            var p = i + 4
            while (p < i + 2 + len) {
              val tc = u8(p) >> 4; val th = u8(p) & 15
              if (tc > 1 || th > 3) fail("bad Huffman table spec")
              val bits = Array.tabulate(16)(j => u8(p + 1 + j))
              val n = bits.sum
              if (p + 17 + n > i + 2 + len) fail("truncated DHT")
              val vals = Array.tabulate(n)(j => u8(p + 17 + j))
              val t = new HuffTable(bits, vals)
              if (tc == 0) dcT(th) = t else acT(th) = t
              p += 17 + n
            }
          case 0xc2 =>
            if (comps != null) fail("duplicate SOF")
            if (u8(i + 4) != 8) fail("only 8-bit precision")
            height = u16(i + 5); width = u16(i + 7)
            if (width <= 0 || height <= 0) fail("bad dimensions")
            if (width.toLong * height > maxPixels)
              fail(s"${width}x$height is past the $maxPixels-pixel cap")
            val nf = u8(i + 9)
            if (nf != 1 && nf != 3) fail(s"unsupported $nf components")
            comps = Array.tabulate(nf) { c =>
              val at = i + 10 + c * 3
              val hv = u8(at + 1)
              val comp = Component(u8(at), hv >> 4, hv & 15, u8(at + 2))
              if (comp.h < 1 || comp.h > 2 || comp.v < 1 || comp.v > 2)
                fail("sampling factors beyond 2 unsupported")
              if (comp.tq > 3) fail("bad quant table id")
              comp
            }
            hMax = comps.map(_.h).max
            vMax = comps.map(_.v).max
            mcusX = (width + 8 * hMax - 1) / (8 * hMax)
            mcusY = (height + 8 * vMax - 1) / (8 * vMax)
            planeBW = comps.map(c => mcusX * c.h)
            blocksW = comps.map(c =>
              ((width * c.h + hMax - 1) / hMax + 7) / 8)
            blocksH = comps.map(c =>
              ((height * c.v + vMax - 1) / vMax + 7) / 8)
            coefs = Array.tabulate(nf)(c =>
              new Array[Int](planeBW(c) * mcusY * comps(c).v * 64))
          case n if n >= 0xc0 && n <= 0xcf && n != 0xc4 && n != 0xc8 =>
            fail(f"unexpected second frame marker 0xff$n%02x")
          case 0xdd =>
            restartInterval = u16(i + 4)
          case 0xda =>
            if (comps == null) fail("SOS before SOF")
            sawScan = true
          case _ => ()
        }
        i = if (m == 0xda) decodeScan(i) else i + 2 + len
      }
    }

    if (!sawScan) fail("no scan before EOI")

    // dequantize + IDCT every REAL block into the padded planes, then
    // the shared composition
    val planes = Array.tabulate(comps.length)(c =>
      new Array[Byte](planeBW(c) * 8 * mcusY * comps(c).v * 8))
    val planeW = planeBW.map(_ * 8)
    val tmp = new Array[Int](64)
    val block = new Array[Int](64)
    var c = 0
    while (c < comps.length) {
      val q = qt(comps(c).tq)
      if (q == null) fail("component references missing quant table")
      var br = 0
      while (br < blocksH(c)) {
        var bc = 0
        while (bc < blocksW(c)) {
          val base = (br * planeBW(c) + bc) * 64
          var z = 0
          while (z < 64) { tmp(z) = coefs(c)(base + z) * q(z); z += 1 }
          idct(tmp, block)
          val ox = bc * 8; val oy = br * 8
          val pw = planeW(c)
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              planes(c)((oy + yy) * pw + ox + xx) = block(yy * 8 + xx).toByte
              xx += 1
            }
            yy += 1
          }
          bc += 1
        }
        br += 1
      }
      c += 1
    }
    composeImage(comps, planes, planeW, width, height, hMax, vMax)
  }

  private def clamp8(v: Int): Byte =
    (if (v < 0) 0 else if (v > 255) 255 else v).toByte

  /** 2D separable IDCT (T.81 A.3.3), double precision, +128 level shift
    * and clamp — well inside IEEE-1180 bounds of any compliant decoder.
    */
  private def idct(coef: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    // rows of coefficients -> columns pass, u over freq, x over space
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          s += CosT(u * 8 + x) * coef(y * 8 + u)
          u += 1
        }
        tmp(y * 8 + x) = s * 0.5
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          s += CosT(v * 8 + yy) * tmp(v * 8 + x)
          v += 1
        }
        val px = math.round(s * 0.5 + 128.0).toInt
        out(yy * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        yy += 1
      }
      x += 1
    }
  }

  // ---------------------------------------------------------------- encode

  /** libjpeg quality curve over the Annex K base tables. */
  private def scaledTable(base: Array[Int], quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - 2 * q
    base.map { b =>
      val v = (b * scale + 50) / 100
      math.max(1, math.min(255, v))
    }
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      var l = len - 1
      while (l >= 0) {
        acc = (acc << 1) | ((code >>> l) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00) // stuff
          acc = 0; nbits = 0
        }
        l -= 1
      }
    }
    /** Pad with 1-bits to the byte boundary (T.81 F.1.2.3). */
    def flush(): Unit = if (nbits > 0) {
      put(0xff, 8 - nbits)
    }
  }

  /** Canonical Huffman ENCODE table from the same (bits, vals) spec. */
  private def encTable(spec: (Array[Int], Array[Int]))
      : (Array[Int], Array[Int]) = {
    val (bits, vals) = spec
    val codes = new Array[Int](256)
    val lens = new Array[Int](256)
    var code = 0; var k = 0; var l = 1
    while (l <= 16) {
      var j = 0
      while (j < bits(l - 1)) {
        codes(vals(k)) = code
        lens(vals(k)) = l
        code += 1; k += 1; j += 1
      }
      code <<= 1
      l += 1
    }
    (codes, lens)
  }

  private def fdct(in: Array[Int], out: Array[Int], q: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += CosT(u * 8 + x) * (in(y * 8 + x) - 128); x += 1 }
        tmp(y * 8 + u) = s * 0.5
        y += 1
      }
      u += 1
    }
    var v = 0
    while (v < 8) {
      var uu = 0
      while (uu < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) { s += CosT(v * 8 + y) * tmp(y * 8 + uu); y += 1 }
        val c = s * 0.5
        out(v * 8 + uu) = math.round(c / q(v * 8 + uu)).toInt
        uu += 1
      }
      v += 1
    }
  }

  /** Encode 8-bit pixels (1 or 3 channels) as a baseline JFIF JPEG:
    * Annex K tables scaled by `quality`, standard Huffman tables,
    * `sampling` = (h, v) for luma with chroma at 1×1 — (1,1) is 4:4:4,
    * (2,1) 4:2:2, (2,2) 4:2:0 (box-mean chroma downsample) — and an
    * optional restart interval in MCUs. Fixture-side ground-truth
    * producer (like [[PixelCodec.encodePng]]); output is a compliant
    * stream any baseline decoder reads.
    */
  def encodeJpeg(img: Image, quality: Int = 85,
                 sampling: (Int, Int) = (1, 1),
                 restartInterval: Int = 0): Array[Byte] = {
    val Image(width, height, channels, pixels) = img
    require(channels == 1 || channels == 3,
      s"JPEG encodes 1 or 3 channels, got $channels")
    require(pixels.length == width * height * channels, "bad buffer")
    val (sh, sv) = sampling
    require(sh >= 1 && sh <= 2 && sv >= 1 && sv <= 2, "bad sampling")

    val qLuma = scaledTable(QLumaK, quality)
    val qChroma = scaledTable(QChromaK, quality)

    // color convert + split planes (luma full-res; chroma subsampled)
    val gray = channels == 1
    val hMax = if (gray) 1 else sh
    val vMax = if (gray) 1 else sv
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val yW = mcusX * 8 * hMax; val yH = mcusY * 8 * vMax
    val cW = mcusX * 8; val cH = mcusY * 8
    val yPlane = new Array[Int](yW * yH)
    val cbPlane = if (gray) null else new Array[Int](cW * cH)
    val crPlane = if (gray) null else new Array[Int](cH * cW)
    val yF = new Array[Double](width * height)
    val cbF = if (gray) null else new Array[Double](width * height)
    val crF = if (gray) null else new Array[Double](width * height)
    var p = 0
    while (p < width * height) {
      if (gray) yF(p) = pixels(p) & 0xff
      else {
        val r = pixels(p * 3) & 0xff
        val g = pixels(p * 3 + 1) & 0xff
        val b = pixels(p * 3 + 2) & 0xff
        yF(p) = 0.299 * r + 0.587 * g + 0.114 * b
        cbF(p) = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
        crF(p) = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
      }
      p += 1
    }
    // luma plane with edge replication padding
    var y = 0
    while (y < yH) {
      val syc = math.min(y, height - 1)
      var x = 0
      while (x < yW) {
        val sxc = math.min(x, width - 1)
        yPlane(y * yW + x) =
          math.max(0, math.min(255,
            math.round(yF(syc * width + sxc)).toInt))
        x += 1
      }
      y += 1
    }
    if (!gray) {
      var cy = 0
      while (cy < cH) {
        var cx = 0
        while (cx < cW) {
          // box mean over the sh×sv source window (edge-replicated)
          var sumB = 0.0; var sumR = 0.0; var n = 0
          var dy = 0
          while (dy < sv) {
            val sy2 = math.min(cy * sv + dy, height - 1)
            var dx = 0
            while (dx < sh) {
              val sx2 = math.min(cx * sh + dx, width - 1)
              sumB += cbF(sy2 * width + sx2)
              sumR += crF(sy2 * width + sx2)
              n += 1
              dx += 1
            }
            dy += 1
          }
          cbPlane(cy * cW + cx) =
            math.max(0, math.min(255, math.round(sumB / n).toInt))
          crPlane(cy * cW + cx) =
            math.max(0, math.min(255, math.round(sumR / n).toInt))
          cx += 1
        }
        cy += 1
      }
    }

    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, body: Array[Int]): Unit = {
      marker(m)
      out.write(((body.length + 2) >> 8) & 0xff)
      out.write((body.length + 2) & 0xff)
      body.foreach(b => out.write(b & 0xff))
    }
    marker(0xd8) // SOI
    segment(0xe0, Array('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    def dqt(id: Int, t: Array[Int]): Unit =
      segment(0xdb, Array(id) ++ Zigzag.map(t(_)))
    dqt(0, qLuma)
    if (!gray) dqt(1, qChroma)
    val sof =
      if (gray) Array(8, height >> 8, height & 0xff, width >> 8,
        width & 0xff, 1, 1, 0x11, 0)
      else Array(8, height >> 8, height & 0xff, width >> 8, width & 0xff,
        3, 1, (sh << 4) | sv, 0, 2, 0x11, 1, 3, 0x11, 1)
    segment(0xc0, sof)
    def dht(tc: Int, th: Int, spec: (Array[Int], Array[Int])): Unit =
      segment(0xc4, Array((tc << 4) | th) ++ spec._1 ++ spec._2)
    dht(0, 0, DcLuma); dht(1, 0, AcLuma)
    if (!gray) { dht(0, 1, DcChroma); dht(1, 1, AcChroma) }
    if (restartInterval > 0)
      segment(0xdd, Array(restartInterval >> 8, restartInterval & 0xff))
    segment(0xda,
      if (gray) Array(1, 1, 0x00, 0, 63, 0)
      else Array(3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))

    val bw = new BitWriter(out)
    val (dcLC, dcLL) = encTable(DcLuma)
    val (acLC, acLL) = encTable(AcLuma)
    val (dcCC, dcCL) = encTable(DcChroma)
    val (acCC, acCL) = encTable(AcChroma)
    val preds = new Array[Int](3)
    val block = new Array[Int](64)
    val coefs = new Array[Int](64)

    def encodeBlock(plane: Array[Int], pw: Int, ox: Int, oy: Int,
                    q: Array[Int], dcC: Array[Int], dcL: Array[Int],
                    acC: Array[Int], acL: Array[Int], ci: Int): Unit = {
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          block(yy * 8 + xx) = plane((oy + yy) * pw + ox + xx)
          xx += 1
        }
        yy += 1
      }
      fdct(block, coefs, q)
      val diff = coefs(0) - preds(ci)
      preds(ci) = coefs(0)
      val s = sizeCat(diff)
      bw.put(dcC(s), dcL(s))
      if (s > 0) bw.put(compl(diff, s), s)
      var run = 0
      var k = 1
      while (k < 64) {
        val v = coefs(Zigzag(k))
        if (v == 0) run += 1
        else {
          while (run >= 16) { bw.put(acC(0xf0), acL(0xf0)); run -= 16 }
          val sz = sizeCat(v)
          val rs = (run << 4) | sz
          bw.put(acC(rs), acL(rs))
          bw.put(compl(v, sz), sz)
          run = 0
        }
        k += 1
      }
      if (run > 0) bw.put(acC(0x00), acL(0x00)) // EOB
    }

    var mcu = 0
    var rstN = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        bw.flush()
        marker(0xd0 + rstN)
        rstN = (rstN + 1) & 7
        java.util.Arrays.fill(preds, 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var by = 0
      while (by < vMax) {
        var bx = 0
        while (bx < hMax) {
          encodeBlock(yPlane, yW, (mx * hMax + bx) * 8, (my * vMax + by) * 8,
            qLuma, dcLC, dcLL, acLC, acLL, 0)
          bx += 1
        }
        by += 1
      }
      if (!gray) {
        encodeBlock(cbPlane, cW, mx * 8, my * 8, qChroma,
          dcCC, dcCL, acCC, acCL, 1)
        encodeBlock(crPlane, cW, mx * 8, my * 8, qChroma,
          dcCC, dcCL, acCC, acCL, 2)
      }
      mcu += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  private def sizeCat(v: Int): Int = {
    var a = math.abs(v); var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** The `s` low bits T.81 F.1.2.1 expects: value as-is when positive,
    * value − 1 in two's complement when negative.
    */
  private def compl(v: Int, s: Int): Int =
    if (v >= 0) v else (v - 1) & ((1 << s) - 1)
}
