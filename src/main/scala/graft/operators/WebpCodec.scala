package graft.operators

import graft.codec.{LsbBits, PrefixCode, Reject}

/** WebP lossless (VP8L) decode — the remaining major image container of
  * a modern crawl after PNG/JPEG/GIF ([[PixelCodec]], [[JpegCodec]],
  * [[GifCodec]]). Implemented from the public WebP Lossless Bitstream
  * Specification (RFC 9649): RIFF container walk, LSB-first bitstream,
  * simple AND normal (code-length-coded) canonical prefix codes, LZ77
  * backward references with the length/distance prefix coding, the
  * color cache, and the subtract-green transform. Same contract as the
  * sibling codecs: a fully decoded RGBA raster or an exception (the
  * extraction layer nulls the row) — never a silently wrong pixel.
  *
  * Lossy `VP8 ` payloads decode through [[Vp8Codec]] (round 16 — the
  * former named rejection is closed; [[decodeWebp]] converts to RGB
  * by documented policy, [[decodeLossyYuv]] exposes the exact
  * planes).
  *
  * HONEST-REJECTION boundaries (each throws a [[graft.codec.Reject]]
  * of kind `unsupported`, codec `vp8l`, so the null rows are
  * auditable, and each is a deliberate subset decision, not an
  * oversight; a broken container is `webp`/`malformed`, a broken
  * bitstream `vp8l`/`malformed`):
  *  - the predictor / cross-color / color-indexing transforms and the
  *    meta-prefix (entropy image) feature: each embeds a second
  *    entropy-coded image;
  *  - close-neighborhood distance codes (plane codes 1..120): their
  *    meaning is a 120-entry (dx, dy) lookup table that exists only as
  *    a literal constant in the specification. This build environment
  *    is offline and the table cannot be verified; decoding with a
  *    misremembered table would produce silently wrong pixels on real
  *    files, which is exactly what this codec family refuses to do.
  *    Linear distance codes (> 120) decode fully.
  *
  * The fixture encoder below ([[encodeWebpLossless]]) emits real VP8L
  * bitstreams through the SAME spec constants but an independent write
  * path (canonical code construction + bit packing mirror-imaged), and
  * the `multimodal_webp` oracle re-enumerates every RGBA byte from the
  * planted closed forms — a drift anywhere in header, prefix-code,
  * LZ77, cache or transform handling breaks the position-weighted
  * checksum.
  */
object WebpCodec {

  /** Decoded raster: RGBA bytes in scan order, 4 channels. */
  final case class Image(width: Int, height: Int, channels: Int,
                         pixels: Array[Byte])

  private val fail = Reject.malformed("webp")
  private val vp8l = Reject.malformed("vp8l")
  private val unsupported: String => Nothing =
    Reject.in("vp8l")("unsupported", _)

  // ------------------------------------------------------------ bits

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0

    def writeBit(b: Int): Unit = {
      cur |= (b & 1) << nBits
      nBits += 1
      if (nBits == 8) { out.write(cur); cur = 0; nBits = 0 }
    }

    def writeBits(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) { writeBit((v >> i) & 1); i += 1 }
    }

    /** A canonical prefix code's bits go out MSB-first (the deflate /
      * VP8L convention), into the LSB-first byte stream.
      */
    def writeCode(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { writeBit((code >> i) & 1); i -= 1 }
    }

    def toBytes: Array[Byte] = {
      if (nBits > 0) { out.write(cur); cur = 0; nBits = 0 }
      out.toByteArray
    }
  }

  // ------------------------------------------- canonical prefix codes

  /** Canonical code assignment (encoder side of
    * [[graft.codec.PrefixCode]]): (code, len) per symbol.
    */
  private def canonicalCodes(lengths: Array[Int]): Array[(Int, Int)] = {
    val maxLen = lengths.foldLeft(0)(math.max)
    val countOf = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) countOf(l) += 1)
    val nextCode = new Array[Int](maxLen + 2)
    var code = 0
    var l = 1
    while (l <= maxLen) {
      code = (code + countOf(l - 1)) << 1
      nextCode(l) = code
      l += 1
    }
    lengths.map { len =>
      if (len == 0) (0, 0)
      else { val c = nextCode(len); nextCode(len) += 1; (c, len) }
    }
  }

  /** RFC 9649's fixed reading order for the code-length code's own
    * lengths.
    */
  private val CodeLengthOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Read one prefix code (simple or normal form) over `alphabetSize`
    * symbols.
    */
  private def readPrefixCode(br: LsbBits, alphabetSize: Int): PrefixCode = {
    val lengths = new Array[Int](alphabetSize)
    if (br.readBit() == 1) {
      // simple: 1 or 2 symbols
      val numSymbols = br.readBit() + 1
      val firstLen8 = br.readBit() == 1
      val s0 = br.readBits(if (firstLen8) 8 else 1)
      if (s0 >= alphabetSize)
        vp8l("simple symbol out of range")
      if (numSymbols == 1) lengths(s0) = 1 // trivial — 0 bits on read
      else {
        val s1 = br.readBits(8)
        if (s1 >= alphabetSize || s1 == s0)
          vp8l("simple symbols invalid")
        lengths(s0) = 1; lengths(s1) = 1
      }
    } else {
      // normal: code-length code, then RLE-coded symbol lengths
      val numCodeLengths = 4 + br.readBits(4)
      if (numCodeLengths > CodeLengthOrder.length)
        vp8l("bad num_code_lengths")
      val clLengths = new Array[Int](19)
      var i = 0
      while (i < numCodeLengths) {
        clLengths(CodeLengthOrder(i)) = br.readBits(3)
        i += 1
      }
      val clCode = new PrefixCode("vp8l", clLengths)
      var maxSymbol =
        if (br.readBit() == 1) {
          val lenNBits = 2 + 2 * br.readBits(3)
          2 + br.readBits(lenNBits)
        } else alphabetSize
      var symbol = 0
      var prevLen = 8
      while (symbol < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clCode.read(br)
        if (cl < 16) {
          lengths(symbol) = cl
          symbol += 1
          if (cl != 0) prevLen = cl
        } else {
          val (repeat, value) = cl match {
            case 16 => (3 + br.readBits(2), prevLen)
            case 17 => (3 + br.readBits(3), 0)
            case 18 => (11 + br.readBits(7), 0)
            case _ => vp8l("bad cl")
          }
          var r = 0
          while (r < repeat) {
            if (symbol >= alphabetSize)
              vp8l("repeat overflow")
            lengths(symbol) = value
            symbol += 1
            r += 1
          }
        }
      }
    }
    new PrefixCode("vp8l", lengths)
  }

  /** The length/distance prefix coding (spec §4.2.2): symbols 0..3 are
    * the values 1..4; beyond that each symbol spans `2^extra` values.
    */
  private def readPrefixedValue(br: LsbBits, code: Int): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + br.readBits(extra) + 1
    }

  /** Encoder inverse of [[readPrefixedValue]]: (symbol, extraBits,
    * extraValue) for a value >= 1.
    */
  private[graft] def prefixEncode(value: Int): (Int, Int, Int) = {
    require(value >= 1, "prefix-coded values start at 1")
    if (value <= 4) (value - 1, 0, 0)
    else {
      val v = value - 1
      val highest = 31 - Integer.numberOfLeadingZeros(v)
      val extra = highest - 1
      val secondBit = (v >> (highest - 1)) & 1
      val symbol = 2 * highest + secondBit
      val offset = (2 + secondBit) << extra
      (symbol, extra, value - offset - 1)
    }
  }

  // ------------------------------------------------------------ RIFF

  private def fourcc(data: Array[Byte], at: Int): String = {
    if (at + 4 > data.length)
      fail("truncated fourcc")
    new String(data, at, 4, "US-ASCII")
  }

  private def le32(data: Array[Byte], at: Int): Int = {
    if (at + 4 > data.length)
      fail("truncated size")
    (data(at) & 0xff) | ((data(at + 1) & 0xff) << 8) |
      ((data(at + 2) & 0xff) << 16) | ((data(at + 3) & 0xff) << 24)
  }

  /** Walk the RIFF container to the image chunk and decode it: `VP8L`
    * through the lossless path below, `VP8 ` (lossy) through
    * [[Vp8Codec]] with the YUV→RGB policy of [[yuvToRgb]] (the decode
    * itself is pixel-exact — see `Vp8CodecSpec`'s libwebp agreement
    * gate; the RGB conversion is a documented caller-side policy,
    * which is why the lossy feature queries read the YUV planes
    * directly). Unknown chunks (VP8X, ICCP, EXIF, …) are skipped per
    * the container spec (even-padded).
    */
  def decodeWebp(payload: Array[Byte]): Image = {
    val (cc, at, size) = findChunk(payload, Seq("VP8L", "VP8 "))
    if (cc == "VP8L") decodeVp8l(payload, at, size)
    else yuvToRgb(Vp8Codec.decode(payload, at, at + size))
  }

  /** Walk the RIFF container to the `VP8 ` chunk and decode the YUV
    * planes themselves — the exact-pixel surface the lossy feature
    * queries consume (no color-conversion policy in the contract).
    */
  def decodeLossyYuv(payload: Array[Byte]): Vp8Codec.Yuv = {
    val (_, at, size) = findChunk(payload, Seq("VP8 "))
    Vp8Codec.decode(payload, at, at + size)
  }

  /** The RIFF chunk walk every entry point shares: the first chunk whose
    * fourcc is in `wanted`, as (fourcc, payload offset, payload size).
    * Other chunks (VP8X, ICCP, EXIF, …) are skipped per the container
    * spec (even-padded); a chunk overrunning the container, or none of
    * `wanted` present, is a `webp`/`malformed` rejection.
    */
  private def findChunk(payload: Array[Byte],
                        wanted: Seq[String]): (String, Int, Int) = {
    if (payload.length < 12 || fourcc(payload, 0) != "RIFF" ||
        fourcc(payload, 8) != "WEBP")
      fail("not a RIFF/WEBP container")
    var at = 12
    while (at + 8 <= payload.length) {
      val cc = fourcc(payload, at)
      val size = le32(payload, at + 4)
      // long arithmetic: a huge declared size must hit the overrun
      // rejection, not wrap negative past it
      if (size < 0 || at.toLong + 8 + size > payload.length)
        fail("chunk overruns container")
      if (wanted.contains(cc)) return (cc, at + 8, size)
      at += 8 + size + (size & 1) // chunks are even-padded
    }
    fail(s"no ${wanted.map(_.trim).mkString(" or ")} chunk")
  }

  /** The YUV 4:2:0 → RGB policy for [[Image]] consumers: BT.601
    * fixed-point (the common 298/409/208/100/516 integer kernel) with
    * co-located (nearest) chroma — deterministic and documented, NOT
    * libwebp's fancy upsampler (the DECODE is pixel-exact; conversion
    * is presentation policy, as [[JpegCodec]] documents for its own
    * output).
    */
  def yuvToRgb(f: Vp8Codec.Yuv): Image = {
    val cw = (f.width + 1) >> 1
    val out = new Array[Byte](f.width * f.height * 3)
    var yy = 0
    while (yy < f.height) {
      var xx = 0
      while (xx < f.width) {
        val c = 298 * ((f.y(yy * f.width + xx) & 0xFF) - 16)
        val d = (f.u((yy >> 1) * cw + (xx >> 1)) & 0xFF) - 128
        val e = (f.v((yy >> 1) * cw + (xx >> 1)) & 0xFF) - 128
        def cl(v: Int): Byte =
          (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        val o = (yy * f.width + xx) * 3
        out(o) = cl((c + 409 * e + 128) >> 8)
        out(o + 1) = cl((c - 100 * d - 208 * e + 128) >> 8)
        out(o + 2) = cl((c + 516 * d + 128) >> 8)
        xx += 1
      }
      yy += 1
    }
    Image(f.width, f.height, 3, out)
  }

  /** Dimension sniff without full decode: the VP8L header's 14-bit
    * fields (or None when the payload is not a decodable-tier WebP).
    */
  def sniffDims(payload: Array[Byte]): Option[(Int, Int)] =
    scala.util.Try {
      val (_, at, size) = findChunk(payload, Seq("VP8L"))
      if (size < 5) fail("short vp8l")
      val br = new LsbBits(payload, at, at + size, "vp8l")
      if (br.readBits(8) != 0x2f)
        fail("bad vp8l signature")
      (br.readBits(14) + 1, br.readBits(14) + 1)
    }.toOption

  // ------------------------------------------------------------ VP8L

  private val HashMul = 0x1e35a7bd

  /** Raster cap: 8 bytes per pixel (ARGB ints + RGBA out) ≤ 512 MiB. */
  private val maxPixels = 1 << 26

  private def decodeVp8l(data: Array[Byte], off: Int, len: Int): Image = {
    if (len < 5) vp8l("short chunk")
    val br = new LsbBits(data, off, off + len, "vp8l")
    if (br.readBits(8) != 0x2f)
      vp8l("bad signature byte")
    val width = br.readBits(14) + 1
    val height = br.readBits(14) + 1
    // the raster is allocated before a pixel is decoded (and a
    // single-symbol prefix code reads zero bits), so the header alone
    // must not be able to ask for gigabytes
    if (width.toLong * height > maxPixels)
      vp8l(s"${width}x$height is past the $maxPixels-pixel cap")
    br.readBit() // alpha-is-used hint
    if (br.readBits(3) != 0)
      vp8l("unknown version")

    // transforms (applied in reverse order after decode)
    var subtractGreen = false
    var more = br.readBit() == 1
    while (more) {
      br.readBits(2) match {
        case 2 => subtractGreen = true
        case 0 => unsupported("predictor transform (embedded entropy image)")
        case 1 => unsupported("cross-color transform (embedded entropy image)")
        case _ => unsupported("color-indexing transform")
      }
      more = br.readBit() == 1
    }

    // color cache
    val cacheBits =
      if (br.readBit() == 1) {
        val b = br.readBits(4)
        if (b < 1 || b > 11)
          vp8l("cache bits out of range")
        b
      } else 0
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null

    // meta prefix codes would interleave a second entropy-coded image
    if (br.readBit() == 1)
      unsupported("meta prefix codes")

    val greenCode = readPrefixCode(br, 256 + 24 + cacheSize)
    val redCode = readPrefixCode(br, 256)
    val blueCode = readPrefixCode(br, 256)
    val alphaCode = readPrefixCode(br, 256)
    val distCode = readPrefixCode(br, 40)

    val nPix = width * height
    val argb = new Array[Int](nPix)
    var p = 0
    while (p < nPix) {
      val g = greenCode.read(br)
      if (g < 256) {
        val r = redCode.read(br)
        val b = blueCode.read(br)
        val a = alphaCode.read(br)
        val px = (a << 24) | (r << 16) | (g << 8) | b
        argb(p) = px
        if (cache != null) cache(cacheSlot(px, cacheBits)) = px
        p += 1
      } else if (g < 280) {
        val length = readPrefixedValue(br, g - 256)
        val planeCode = readPrefixedValue(br, distCode.read(br))
        if (planeCode <= 120)
          unsupported("close-neighborhood distance code (120-entry " +
            "plane table unverifiable offline; refusing a guessed decode)")
        val dist = planeCode - 120
        if (dist > p)
          vp8l("backref before start")
        if (p + length > nPix)
          vp8l("backref overruns image")
        var i = 0
        while (i < length) {
          val px = argb(p - dist)
          argb(p) = px
          if (cache != null) cache(cacheSlot(px, cacheBits)) = px
          p += 1
          i += 1
        }
      } else {
        val idx = g - 280
        if (cache == null || idx >= cacheSize)
          vp8l("cache index without cache")
        val px = cache(idx)
        argb(p) = px
        p += 1
      }
    }

    val out = new Array[Byte](nPix * 4)
    var q = 0
    while (q < nPix) {
      val px = argb(q)
      var r = (px >> 16) & 0xff
      val g = (px >> 8) & 0xff
      var b = px & 0xff
      if (subtractGreen) { r = (r + g) & 0xff; b = (b + g) & 0xff }
      out(q * 4) = r.toByte
      out(q * 4 + 1) = g.toByte
      out(q * 4 + 2) = b.toByte
      out(q * 4 + 3) = ((px >>> 24) & 0xff).toByte
      q += 1
    }
    Image(width, height, 4, out)
  }

  // --------------------------------------------------------- encoder

  /** One encoder symbol step: literal ARGB, a backref (carrying the
    * PLANE code — linear distance d is plane code d + 120; a plane
    * code <= 120 produces a stream the decoder must honestly reject),
    * or a color-cache hit.
    */
  private[graft] sealed trait Tok
  private[graft] final case class Lit(argb: Int) extends Tok
  private[graft] final case class Ref(length: Int, plane: Int) extends Tok
  private[graft] final case class Hit(index: Int) extends Tok

  /** A complete (exact-Kraft) canonical length assignment for n ≥ 2
    * equiprobable symbols: with k = ⌈log₂ n⌉, the first 2^k − n
    * symbols get length k−1 and the rest k — Kraft sums to exactly 1
    * for any n.
    */
  private def balancedLengths(n: Int): Array[Int] = {
    require(n >= 2, "balanced code needs >= 2 symbols")
    val k = 32 - Integer.numberOfLeadingZeros(n - 1)
    val short = (1 << k) - n
    Array.tabulate(n)(i => if (i < short) k - 1 else k)
  }

  /** Write one prefix code in NORMAL (code-length-coded) form: zero
    * runs via symbols 17/18, each used code-length symbol at a
    * 3-bit-described length, and the `max_symbol` cap set to the exact
    * token count so the reader stops where the writer stopped (which
    * also exercises the decoder's cap path). The writer's canonical
    * assignment mirrors [[PrefixCode]]'s reader.
    */
  private def writeNormalCode(bw: BitWriter, lengths: Array[Int]): Unit = {
    bw.writeBit(0) // not simple
    // code-length tokens: literal lengths + zero runs; trailing zeros
    // are covered by the max_symbol cap instead of tokens
    val toks = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    var i = 0
    var lastNonZero = lengths.length - 1
    while (lastNonZero >= 0 && lengths(lastNonZero) == 0) lastNonZero -= 1
    while (i <= lastNonZero) {
      if (lengths(i) == 0) {
        var j = i
        while (j <= lastNonZero && lengths(j) == 0) j += 1
        var run = j - i
        while (run >= 11) {
          val take = math.min(run, 138)
          toks += ((18, 7, take - 11)); run -= take
        }
        while (run >= 3) {
          val take = math.min(run, 10)
          toks += ((17, 3, take - 3)); run -= take
        }
        while (run > 0) { toks += ((0, 0, 0)); run -= 1 }
        i = j
      } else {
        toks += ((lengths(i), 0, 0))
        i += 1
      }
    }
    require(toks.size >= 2, "fixture encoder: normal code needs >= 2 tokens")
    // the code-length code itself: balanced lengths over used symbols
    val used = toks.map(_._1).distinct.sorted
    val clLengths = new Array[Int](19)
    if (used.size == 1) clLengths(used.head) = 1 // trivial on the read side
    else {
      val bl = balancedLengths(used.size)
      used.zipWithIndex.foreach { case (s, j) => clLengths(s) = bl(j) }
    }
    val maxPos = CodeLengthOrder.zipWithIndex
      .filter { case (s, _) => clLengths(s) > 0 }.map(_._2).max
    val numCl = math.max(4, maxPos + 1)
    bw.writeBits(numCl - 4, 4)
    var k = 0
    while (k < numCl) { bw.writeBits(clLengths(CodeLengthOrder(k)), 3); k += 1 }
    // max_symbol cap = exact token count (16-bit form)
    bw.writeBit(1)
    bw.writeBits(7, 3) // length_nbits = 2 + 2*7 = 16
    bw.writeBits(toks.size - 2, 16)
    val clCodes = canonicalCodes(clLengths)
    val clTrivial = used.size == 1
    toks.foreach { case (sym, extraBits, extraVal) =>
      if (!clTrivial) {
        val (c, l) = clCodes(sym)
        bw.writeCode(c, l)
      }
      if (extraBits > 0) bw.writeBits(extraVal, extraBits)
    }
  }

  private def writeSimpleCode(bw: BitWriter, symbols: Seq[Int]): Unit = {
    require(symbols.nonEmpty && symbols.size <= 2, "simple: 1 or 2 symbols")
    require(symbols.forall(s => s >= 0 && s < 256),
      "simple codes carry 8-bit symbols only")
    bw.writeBit(1)
    bw.writeBit(if (symbols.size == 2) 1 else 0)
    val s0 = symbols.head
    if (s0 > 1) { bw.writeBit(1); bw.writeBits(s0, 8) }
    else { bw.writeBit(0); bw.writeBits(s0, 1) }
    if (symbols.size == 2) bw.writeBits(symbols(1), 8)
  }

  /** Encode a real VP8L bitstream in a RIFF/WEBP container from a token
    * stream. The caller supplies the literal alphabet structure
    * implicitly: per-channel symbol sets are derived from the tokens;
    * green (+length/cache) uses the normal form whenever it needs more
    * than two symbols, the simple form otherwise; single-symbol
    * channels always use the simple form.
    *
    * `subtractGreen`: tokens carry FINAL pixel values; the encoder
    * stores r−g / b−g per the transform.
    * `cacheBits` > 0 emits the color-cache header (the caller's Hit
    * tokens must match the decoder-side cache evolution — the planted
    * fixtures guarantee it by construction).
    * `wrapVp8x`: prepend a VP8X chunk (container-walk exercise).
    */
  private[graft] def encodeWebpLossless(width: Int, height: Int,
                                            toks: Seq[Tok],
                                            subtractGreen: Boolean = false,
                                            cacheBits: Int = 0,
                                            wrapVp8x: Boolean = false): Array[Byte] = {
    require(width >= 1 && width <= 16384 && height >= 1 && height <= 16384)
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0

    def store(px: Int): Int =
      if (!subtractGreen) px
      else {
        val a = (px >>> 24) & 0xff; val r = (px >> 16) & 0xff
        val g = (px >> 8) & 0xff; val b = px & 0xff
        (a << 24) | (((r - g) & 0xff) << 16) | (g << 8) | ((b - g) & 0xff)
      }

    // collect per-channel alphabets from the token stream
    val greens = scala.collection.mutable.LinkedHashSet[Int]()
    val reds = scala.collection.mutable.LinkedHashSet[Int]()
    val blues = scala.collection.mutable.LinkedHashSet[Int]()
    val alphas = scala.collection.mutable.LinkedHashSet[Int]()
    val dists = scala.collection.mutable.LinkedHashSet[Int]()
    toks.foreach {
      case Lit(px0) =>
        val px = store(px0)
        greens += ((px >> 8) & 0xff)
        reds += ((px >> 16) & 0xff)
        blues += (px & 0xff)
        alphas += ((px >>> 24) & 0xff)
      case Ref(length, plane) =>
        greens += 256 + prefixEncode(length)._1
        dists += prefixEncode(plane)._1
      case Hit(idx) =>
        require(cacheSize > 0 && idx < cacheSize, "cache hit without cache")
        greens += 280 + idx
    }

    val bw = new BitWriter()
    bw.writeBits(0x2f, 8)
    bw.writeBits(width - 1, 14)
    bw.writeBits(height - 1, 14)
    bw.writeBit(if (alphas.exists(_ != 255)) 1 else 0)
    bw.writeBits(0, 3) // version
    if (subtractGreen) { bw.writeBit(1); bw.writeBits(2, 2) }
    bw.writeBit(0) // no more transforms
    if (cacheBits > 0) { bw.writeBit(1); bw.writeBits(cacheBits, 4) }
    else bw.writeBit(0)
    bw.writeBit(0) // no meta prefix codes

    // Build + write one code; the returned (code, len) table carries
    // len 0 for a trivial single-symbol code — the reader spends zero
    // bits there, so the writer must too.
    def buildCode(alphabetSize: Int, symsUnsorted: Seq[Int]): Array[(Int, Int)] = {
      val syms = symsUnsorted.sorted
      require(syms.nonEmpty, "fixture encoder: empty alphabet")
      if (syms.size == 1) {
        writeSimpleCode(bw, syms)
        Array.fill(alphabetSize)((0, 0)) // trivial: zero bits per symbol
      } else if (syms.size == 2 && syms.last < 256) {
        writeSimpleCode(bw, syms)
        val lens = new Array[Int](alphabetSize)
        syms.foreach(lens(_) = 1)
        canonicalCodes(lens)
      } else {
        val bl = balancedLengths(syms.size)
        val lens = new Array[Int](alphabetSize)
        syms.zipWithIndex.foreach { case (s, j) => lens(s) = bl(j) }
        writeNormalCode(bw, lens)
        canonicalCodes(lens)
      }
    }
    val greenCodes = buildCode(256 + 24 + cacheSize, greens.toSeq)
    val redCodes = buildCode(256, reds.toSeq)
    val blueCodes = buildCode(256, blues.toSeq)
    val alphaCodes = buildCode(256, alphas.toSeq)
    val distCodes = buildCode(40,
      if (dists.isEmpty) Seq(0) else dists.toSeq)

    def emit(codes: Array[(Int, Int)], sym: Int): Unit = {
      val (c, l) = codes(sym)
      if (l > 0) bw.writeCode(c, l)
      // a trivial (single-symbol) code costs zero bits — nothing to emit
    }
    toks.foreach {
      case Lit(px0) =>
        val px = store(px0)
        emit(greenCodes, (px >> 8) & 0xff)
        emit(redCodes, (px >> 16) & 0xff)
        emit(blueCodes, px & 0xff)
        emit(alphaCodes, (px >>> 24) & 0xff)
      case Ref(length, plane) =>
        val (ls, le, lv) = prefixEncode(length)
        emit(greenCodes, 256 + ls)
        if (le > 0) bw.writeBits(lv, le)
        val (ds, de, dv) = prefixEncode(plane)
        emit(distCodes, ds)
        if (de > 0) bw.writeBits(dv, de)
      case Hit(idx) =>
        emit(greenCodes, 280 + idx)
    }

    wrapRiff(bw.toBytes, width, height, wrapVp8x)
  }

  /** A minimal lossy-WebP container (header only) — the honest-rejection
    * fixture for the `VP8 ` branch.
    */
  private[graft] def lossyStub(width: Int, height: Int): Array[Byte] = {
    val body = Array.tabulate[Byte](10)(i => (i * 7 + 1).toByte)
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    w32(4 + 8 + body.length)
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8 ".getBytes("US-ASCII"))
    w32(body.length)
    out.write(body)
    out.toByteArray
  }

  private def wrapRiff(vp8l: Array[Byte], width: Int, height: Int,
                       withVp8x: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def w24(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff)
    }
    val vp8xLen = if (withVp8x) 8 + 10 else 0
    val pad = vp8l.length & 1
    out.write("RIFF".getBytes("US-ASCII"))
    w32(4 + vp8xLen + 8 + vp8l.length + pad)
    out.write("WEBP".getBytes("US-ASCII"))
    if (withVp8x) {
      out.write("VP8X".getBytes("US-ASCII"))
      w32(10)
      w32(0) // flags + reserved
      w24(width - 1)
      w24(height - 1)
    }
    out.write("VP8L".getBytes("US-ASCII"))
    w32(vp8l.length)
    out.write(vp8l)
    if (pad == 1) out.write(0)
    out.toByteArray
  }

  /** The color-cache hash slot of a pixel — shared by the decoder, the
    * fixture token builder and the spec (`(0x1e35a7bd · argb) >> (32 −
    * bits)`).
    */
  private[graft] def cacheSlot(argb: Int, cacheBits: Int): Int =
    (HashMul * argb) >>> (32 - cacheBits)
}
