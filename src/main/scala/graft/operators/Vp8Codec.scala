package graft.operators

import graft.codec.Reject

/** VP8 intra-frame (key-frame) decoder — the LOSSY half of WebP
  * (RFC 6386), until now the image tier's dominant labeled dark data:
  * most real-world WebP is lossy VP8 and [[WebpCodec]] decoded only
  * the VP8L lossless tier. Still-image WebP carries exactly one VP8
  * KEY frame, so the intra path below is the complete still-picture
  * format: boolean arithmetic decoder, frame/segment/filter/quantizer
  * headers, token-partition split, per-macroblock intra modes (16x16
  * DC/V/H/TM, the ten 4x4 B_PRED modes, chroma modes), token-tree
  * coefficient decoding with the band/context probability model and
  * per-frame probability updates, dequantization, the inverse WHT for
  * the Y2 DC transform, the exact 4x4 inverse DCT (the 20091/35468
  * multipliers), reconstruction, and both loop filters (normal with
  * the high-edge-variance logic, and the simple filter).
  *
  * Reference analog: raw schemaless documents in front of the map
  * function (`/root/reference/Projector/indexjs.go:73-191`) — the
  * decode step before any feature extraction.
  *
  * The spec's large data tables ride in [[Vp8Tables]]; every table
  * and every arithmetic choice here is proven BEHAVIORALLY in
  * `Vp8CodecSpec`: real libwebp-encoded images (multiple sizes,
  * qualities 30..90, odd dimensions) must decode to the exact Y/U/V
  * planes libwebp's own decoder produced (md5-pinned at generation
  * time) — the [[JpegCodec]] agreement-gate discipline; a single
  * wrong probability, context or rounding desynchronizes the
  * arithmetic decoder and no plane survives.
  *
  * Named rejections ([[graft.codec.Reject]], codec `vp8`):
  * `interframe` (a non-key frame needs reference frames and cannot
  * occur in still WebP),
  * `colorspace` (the reserved color-space bit), `malformed`.
  *
  * Output is the YUV 4:2:0 recipe itself, cropped to the frame size —
  * color conversion is the caller's policy, kept out of the decode
  * contract exactly as [[JpegCodec]] keeps it.
  *
  * Scale shape: one call decodes one image inside the media scan task
  * — map-only, no shared state, output bounded by the frame header's
  * 14-bit dimensions.
  */
object Vp8Codec {

  private val reject = Reject.in("vp8")

  /** Decoded frame: cropped planes, row-major; u/v are
    * ceil(w/2) × ceil(h/2).
    */
  final case class Yuv(width: Int, height: Int,
                       y: Array[Byte], u: Array[Byte], v: Array[Byte])

  // ------------------------------------------------------ fixed tables

  private val Bands = Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
  private val Zigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  // mode ids: DC=0 V=1 H=2 TM=3 B_PRED=4. 4x4 ids follow the ORDER of
  // the [[Vp8Tables.kfBmode]] probability table's axes (the libwebp
  // layout the table was extracted in — RD/VR ahead of LD/VL):
  // DC=0 TM=1 VE=2 HE=3 RD=4 VR=5 LD=6 VL=7 HD=8 HU=9. The TREE
  // structure is the RFC's; only the leaf numbering follows the table.
  private val KfYmodeTree = Array(-4, 2, 4, 6, -0, -1, -2, -3)
  private val KfYmodeProb = Array(145, 156, 163, 128)
  private val UvModeTree = Array(-0, 2, -1, 4, -2, -3)
  private val KfUvModeProb = Array(142, 114, 183)
  private val BmodeTree = Array(-0, 2, -1, 4, -2, 6, 8, 12, -3, 10,
    -4, -5, -6, 14, -7, 16, -8, -9)
  private val SegmentTree = Array(2, 4, -0, -1, -2, -3)

  private val Cat3456: Array[Array[Int]] = Array(
    Array(173, 148, 140),
    Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))

  // ------------------------------------------------- boolean decoder

  /** RFC 6386 §7 — the shared arithmetic bit source. Reading past the
    * physical end supplies zero bytes (the reference decoder's
    * convention: the last few bool reads legitimately touch padding),
    * bounded by a hard cap so truncated data still terminates.
    */
  private final class Bool(buf: Array[Byte], from: Int, until: Int) {
    private var range = 255
    private var value = 0
    private var bitCount = -8 // triggers the initial two loads
    private var at = from
    private var overrun = 0

    // prime with up to 2 bytes
    value = nextByte() << 8
    value |= nextByte()
    bitCount = 0

    private def nextByte(): Int =
      if (at < until) { val b = buf(at) & 0xFF; at += 1; b }
      else {
        overrun += 1
        if (overrun > 64) reject("malformed", "bool decoder starved")
        0
      }

    def bit(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      var ret = 0
      if (value >= bigSplit) { ret = 1; range -= split; value -= bigSplit }
      else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte() }
      }
      ret
    }

    /** n-bit literal, MSB first, each bit at probability 128. */
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(128); i += 1 }
      v
    }

    /** L(n) magnitude plus sign bit → signed value. */
    def signedLiteral(n: Int): Int = {
      val v = literal(n)
      if (bit(128) == 1) -v else v
    }

    /** flag → signed literal, else 0 (the header's "delta" idiom). */
    def flaggedSigned(n: Int): Int =
      if (bit(128) == 1) signedLiteral(n) else 0

    def tree(t: Array[Int], probs: Array[Int], start: Int = 0): Int = {
      var i = t(start + bit(probs(start >> 1)))
      while (i > 0) i = t(i + bit(probs(i >> 1)))
      -i
    }
  }

  // --------------------------------------------------------- decoding

  private final class Dq(var y1dc: Int, var y1ac: Int, var y2dc: Int,
                         var y2ac: Int, var uvdc: Int, var uvac: Int)

  def decode(payload: Array[Byte]): Yuv = decode(payload, 0, payload.length)

  /** Decode one VP8 key frame from `payload[from, until)`. */
  def decode(payload: Array[Byte], from: Int, until: Int): Yuv = {
    if (until - from < 10) reject("malformed", "frame shorter than headers")
    val b0 = payload(from) & 0xFF
    val b1 = payload(from + 1) & 0xFF
    val b2 = payload(from + 2) & 0xFF
    val tag = b0 | (b1 << 8) | (b2 << 16)
    if ((tag & 1) != 0) reject("interframe", "non-key frame")
    val version = (tag >> 1) & 7
    if (version > 3) reject("malformed", s"version $version")
    val part0Len = tag >> 5
    if (payload(from + 3) != 0x9d.toByte || payload(from + 4) != 0x01.toByte ||
        payload(from + 5) != 0x2a.toByte)
      reject("malformed", "bad start code")
    val w16 = (payload(from + 6) & 0xFF) | ((payload(from + 7) & 0xFF) << 8)
    val h16 = (payload(from + 8) & 0xFF) | ((payload(from + 9) & 0xFF) << 8)
    val width = w16 & 0x3FFF
    val height = h16 & 0x3FFF
    if (width == 0 || height == 0) reject("malformed", "zero dimension")
    val part0From = from + 10
    if (part0From + part0Len > until)
      reject("malformed", "first partition runs past the payload")
    val br = new Bool(payload, part0From, part0From + part0Len)

    if (br.bit(128) == 1) reject("colorspace", "reserved color space bit")
    br.bit(128) // clamping type (both values decode identically here)

    // ---- segmentation header
    var segEnabled = false
    var segUpdateMap = false
    val segTreeProbs = Array(255, 255, 255)
    val segQuant = new Array[Int](4)
    val segLf = new Array[Int](4)
    var segAbsolute = false
    if (br.bit(128) == 1) {
      segEnabled = true
      segUpdateMap = br.bit(128) == 1
      val updateData = br.bit(128) == 1
      if (updateData) {
        segAbsolute = br.bit(128) == 1
        var i = 0
        while (i < 4) { segQuant(i) = br.flaggedSigned(7); i += 1 }
        i = 0
        while (i < 4) { segLf(i) = br.flaggedSigned(6); i += 1 }
      }
      if (segUpdateMap) {
        var i = 0
        while (i < 3) {
          if (br.bit(128) == 1) segTreeProbs(i) = br.literal(8)
          i += 1
        }
      }
    }

    // ---- loop filter header
    val simpleFilter = br.bit(128) == 1
    val filterLevel = br.literal(6)
    val sharpness = br.literal(3)
    var lfDeltaEnabled = false
    val refLfDelta = new Array[Int](4)
    val modeLfDelta = new Array[Int](4)
    if (br.bit(128) == 1) {
      lfDeltaEnabled = true
      if (br.bit(128) == 1) {
        var i = 0
        while (i < 4) {
          if (br.bit(128) == 1) refLfDelta(i) = br.signedLiteral(6)
          i += 1
        }
        i = 0
        while (i < 4) {
          if (br.bit(128) == 1) modeLfDelta(i) = br.signedLiteral(6)
          i += 1
        }
      }
    }

    // ---- token partitions
    val nParts = 1 << br.literal(2)
    val partsBase = part0From + part0Len
    val sizesLen = 3 * (nParts - 1)
    if (partsBase + sizesLen > until)
      reject("malformed", "partition size table past the payload")
    val partFrom = new Array[Int](nParts)
    val partUntil = new Array[Int](nParts)
    var dataAt = partsBase + sizesLen
    var pi = 0
    while (pi < nParts) {
      val len =
        if (pi == nParts - 1) until - dataAt
        else {
          val o = partsBase + 3 * pi
          (payload(o) & 0xFF) | ((payload(o + 1) & 0xFF) << 8) |
            ((payload(o + 2) & 0xFF) << 16)
        }
      if (len < 0 || dataAt + len > until)
        reject("malformed", s"token partition $pi past the payload")
      partFrom(pi) = dataAt
      partUntil(pi) = dataAt + len
      dataAt += len
      pi += 1
    }
    val tokenBr = Array.tabulate(nParts)(i =>
      new Bool(payload, partFrom(i), partUntil(i)))

    // ---- quantizer header
    val yacQi = br.literal(7)
    val ydcDelta = br.flaggedSigned(4)
    val y2dcDelta = br.flaggedSigned(4)
    val y2acDelta = br.flaggedSigned(4)
    val uvdcDelta = br.flaggedSigned(4)
    val uvacDelta = br.flaggedSigned(4)
    def clampQ(q: Int): Int = if (q < 0) 0 else if (q > 127) 127 else q
    def dqFor(base: Int): Dq = {
      val y2ac0 = Vp8Tables.acQ(clampQ(base + y2acDelta)) * 155 / 100
      val uvdc0 = Vp8Tables.dcQ(clampQ(base + uvdcDelta))
      new Dq(
        Vp8Tables.dcQ(clampQ(base + ydcDelta)),
        Vp8Tables.acQ(clampQ(base)),
        Vp8Tables.dcQ(clampQ(base + y2dcDelta)) * 2,
        if (y2ac0 < 8) 8 else y2ac0,
        if (uvdc0 > 132) 132 else uvdc0,
        Vp8Tables.acQ(clampQ(base + uvacDelta)))
    }
    val segDq = Array.tabulate(4) { s =>
      val base =
        if (!segEnabled) yacQi
        else if (segAbsolute) clampQ(segQuant(s))
        else clampQ(yacQi + segQuant(s))
      dqFor(base)
    }

    // keyframe: refresh entropy probs bit (value irrelevant for a
    // single still frame)
    br.bit(128)

    // ---- coefficient probability updates
    val probs = Vp8Tables.coefProbs0.clone()
    var ti = 0
    while (ti < 1056) {
      if (br.bit(Vp8Tables.updateProbs(ti) & 0xFF) == 1)
        probs(ti) = br.literal(8).toByte
      ti += 1
    }
    val useSkip = br.bit(128) == 1
    val skipProb = if (useSkip) br.literal(8) else 0

    // ---- frame buffers (MB-padded planes)
    val mbW = (width + 15) >> 4
    val mbH = (height + 15) >> 4
    val yStride = mbW * 16
    val uvStride = mbW * 8
    val Y = new Array[Byte](yStride * mbH * 16)
    val U = new Array[Byte](uvStride * mbH * 8)
    val V = new Array[Byte](uvStride * mbH * 8)

    // per-MB mode state
    val ymodes = new Array[Int](mbW * mbH)
    val segIds = new Array[Int](mbW * mbH)
    val skipFlags = new Array[Boolean](mbW * mbH)
    val hasCoeffs = new Array[Boolean](mbW * mbH)
    // 4x4 sub-modes per MB (only meaningful rows used for ctx)
    val subModes = new Array[Int](mbW * mbH * 16)
    val uvmodes = new Array[Int](mbW * mbH)

    // nonzero contexts
    val topNzY = new Array[Int](mbW * 4)
    val topNzU = new Array[Int](mbW * 2)
    val topNzV = new Array[Int](mbW * 2)
    val topNzY2 = new Array[Int](mbW)

    val coeffs = new Array[Int](16) // scratch block
    val y2out = new Array[Int](16)

    // ---------- mode parsing (all of partition 0, MB raster order)
    var my = 0
    while (my < mbH) {
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        segIds(mi) =
          if (segEnabled && segUpdateMap) br.tree(SegmentTree, segTreeProbs)
          else 0
        skipFlags(mi) = useSkip && br.bit(skipProb) == 1
        val ymode = br.tree(KfYmodeTree, KfYmodeProb)
        ymodes(mi) = ymode
        if (ymode == 4) { // B_PRED: 16 coded sub-modes
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3
            val sy = sb >> 2
            val above =
              if (sy > 0) subModes(mi * 16 + sb - 4)
              else if (my > 0) subModes((mi - mbW) * 16 + 12 + sx)
              else 0
            val left =
              if (sx > 0) subModes(mi * 16 + sb - 1)
              else if (mx > 0) subModes((mi - 1) * 16 + sb + 3)
              else 0
            val off = (above * 10 + left) * 9
            val p = Array.tabulate(9)(k => Vp8Tables.kfBmode(off + k) & 0xFF)
            subModes(mi * 16 + sb) = br.tree(BmodeTree, p)
            sb += 1
          }
        } else {
          // implied sub-modes for neighbor context: DC->B_DC, V->B_VE,
          // H->B_HE, TM->B_TM
          val implied = ymode match {
            case 0 => 0
            case 1 => 2
            case 2 => 3
            case _ => 1
          }
          var sb = 0
          while (sb < 16) { subModes(mi * 16 + sb) = implied; sb += 1 }
        }
        uvmodes(mi) = br.tree(UvModeTree, KfUvModeProb)
        mx += 1
      }
      my += 1
    }

    // ---------- coefficient token decode (RFC 6386 §13.3)
    // returns the position reached (EOB position or 16); coefficients
    // land dequantized at their zigzag spots in `out`
    def getCoeffs(tb: Bool, tpe: Int, ctx0: Int, dqDc: Int, dqAc: Int,
                  first: Int, out: Array[Int]): Int = {
      java.util.Arrays.fill(out, 0)
      var n = first
      var pOff = (tpe * 8 + Bands(n)) * 3 + ctx0
      while (n < 16) {
        val base = pOff * 11
        if (tb.bit(probs(base) & 0xFF) == 0) return n // EOB
        var done = false
        while (!done && tb.bit(probs(pOff * 11 + 1) & 0xFF) == 0) {
          // zero token; EOB cannot follow, so loop straight to the
          // next position's "is zero" probe
          n += 1
          if (n == 16) return 16
          pOff = (tpe * 8 + Bands(n)) * 3 + 0
          done = false
        }
        if (n == 16) return 16
        val b2 = pOff * 11
        var v = 0
        if (tb.bit(probs(b2 + 2) & 0xFF) == 0) {
          v = 1
          pOff = (tpe * 8 + (if (n + 1 < 16) Bands(n + 1) else 7)) * 3 + 1
        } else {
          if (tb.bit(probs(b2 + 3) & 0xFF) == 0) {
            if (tb.bit(probs(b2 + 4) & 0xFF) == 0) v = 2
            else v = 3 + tb.bit(probs(b2 + 5) & 0xFF)
          } else {
            if (tb.bit(probs(b2 + 6) & 0xFF) == 0) {
              if (tb.bit(probs(b2 + 7) & 0xFF) == 0)
                v = 5 + tb.bit(159)
              else
                v = 7 + 2 * tb.bit(165) + tb.bit(145)
            } else {
              val bit1 = tb.bit(probs(b2 + 8) & 0xFF)
              val bit0 = tb.bit(probs(b2 + 9 + bit1) & 0xFF)
              val cat = 2 * bit1 + bit0
              val tab = Cat3456(cat)
              var ext = 0
              var k = 0
              while (k < tab.length) { ext += ext + tb.bit(tab(k)); k += 1 }
              v = ext + 3 + (8 << cat)
            }
          }
          pOff = (tpe * 8 + (if (n + 1 < 16) Bands(n + 1) else 7)) * 3 + 2
        }
        val dq = if (n == 0) dqDc else dqAc
        val signed = if (tb.bit(128) == 1) -v else v
        out(Zigzag(n)) = signed * dq
        n += 1
      }
      16
    }

    // ---------- transforms
    def iwht(in: Array[Int], out: Array[Int]): Unit = {
      val tmp = new Array[Int](16)
      var i = 0
      while (i < 4) {
        val a1 = in(i) + in(12 + i)
        val b1 = in(4 + i) + in(8 + i)
        val c1 = in(4 + i) - in(8 + i)
        val d1 = in(i) - in(12 + i)
        tmp(i) = a1 + b1
        tmp(4 + i) = c1 + d1
        tmp(8 + i) = a1 - b1
        tmp(12 + i) = d1 - c1
        i += 1
      }
      i = 0
      while (i < 4) {
        val o = i * 4
        val a1 = tmp(o) + tmp(o + 3)
        val b1 = tmp(o + 1) + tmp(o + 2)
        val c1 = tmp(o + 1) - tmp(o + 2)
        val d1 = tmp(o) - tmp(o + 3)
        out(o) = (a1 + b1 + 3) >> 3
        out(o + 1) = (c1 + d1 + 3) >> 3
        out(o + 2) = (a1 - b1 + 3) >> 3
        out(o + 3) = (d1 - c1 + 3) >> 3
        i += 1
      }
    }

    def idct(in: Array[Int], out: Array[Int]): Unit = {
      val c1 = 20091 // cos(pi/8)*sqrt(2) - 1, Q16
      val c2 = 35468 // sin(pi/8)*sqrt(2), Q16
      val tmp = new Array[Int](16)
      var i = 0
      while (i < 4) {
        val a1 = in(i) + in(8 + i)
        val b1 = in(i) - in(8 + i)
        val t1 = (in(4 + i) * c2) >> 16
        val t2 = in(12 + i) + ((in(12 + i) * c1) >> 16)
        val cc = t1 - t2
        val t3 = in(4 + i) + ((in(4 + i) * c1) >> 16)
        val t4 = (in(12 + i) * c2) >> 16
        val dd = t3 + t4
        tmp(i) = a1 + dd
        tmp(12 + i) = a1 - dd
        tmp(4 + i) = b1 + cc
        tmp(8 + i) = b1 - cc
        i += 1
      }
      i = 0
      while (i < 4) {
        val o = i * 4
        val a1 = tmp(o) + tmp(o + 2)
        val b1 = tmp(o) - tmp(o + 2)
        val t1 = (tmp(o + 1) * c2) >> 16
        val t2 = tmp(o + 3) + ((tmp(o + 3) * c1) >> 16)
        val cc = t1 - t2
        val t3 = tmp(o + 1) + ((tmp(o + 1) * c1) >> 16)
        val t4 = (tmp(o + 3) * c2) >> 16
        val dd = t3 + t4
        out(o) = (a1 + dd + 4) >> 3
        out(o + 3) = (a1 - dd + 4) >> 3
        out(o + 1) = (b1 + cc + 4) >> 3
        out(o + 2) = (b1 - cc + 4) >> 3
        i += 1
      }
    }

    @inline def clamp8(v: Int): Byte =
      (if (v < 0) 0 else if (v > 255) 255 else v).toByte

    // plane accessors with the VP8 edge conventions: above row = 127,
    // left column = 129, top-left = 129 except 127 on the top row
    def px(p: Array[Byte], stride: Int, x: Int, y: Int): Int =
      if (y < 0) 127
      else if (x < 0) 129
      else p(y * stride + x) & 0xFF

    def topLeftPx(p: Array[Byte], stride: Int, x: Int, y: Int): Int =
      if (y <= 0) 127
      else if (x <= 0) 129
      else p((y - 1) * stride + (x - 1)) & 0xFF

    // whole-block DC/V/H/TM for n x n blocks (16 luma, 8 chroma)
    def predictBlock(p: Array[Byte], stride: Int, bx: Int, by: Int,
                     n: Int, mode: Int, haveAbove: Boolean,
                     haveLeft: Boolean, pred: Array[Int]): Unit = {
      mode match {
        case 0 => // DC
          var sum = 0
          var cnt = 0
          if (haveAbove) {
            var i = 0
            while (i < n) { sum += px(p, stride, bx + i, by - 1); i += 1 }
            cnt += n
          }
          if (haveLeft) {
            var i = 0
            while (i < n) { sum += px(p, stride, bx - 1, by + i); i += 1 }
            cnt += n
          }
          val dc =
            if (cnt == 0) 128
            else (sum + (cnt >> 1)) / cnt
          java.util.Arrays.fill(pred, dc)
        case 1 => // V
          var x = 0
          while (x < n) {
            val a = px(p, stride, bx + x, by - 1)
            var y = 0
            while (y < n) { pred(y * n + x) = a; y += 1 }
            x += 1
          }
        case 2 => // H
          var y = 0
          while (y < n) {
            val l = px(p, stride, bx - 1, by + y)
            var x = 0
            while (x < n) { pred(y * n + x) = l; x += 1 }
            y += 1
          }
        case _ => // TM
          val tl = topLeftPx(p, stride, bx, by)
          var y = 0
          while (y < n) {
            val l = px(p, stride, bx - 1, by + y)
            var x = 0
            while (x < n) {
              val v = l + px(p, stride, bx + x, by - 1) - tl
              pred(y * n + x) = if (v < 0) 0 else if (v > 255) 255 else v
              x += 1
            }
            y += 1
          }
      }
    }

    @inline def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
    @inline def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2

    // 4x4 B_PRED: above(0..3) from A(0..3), above-right A(4..7),
    // left L(0..3), top-left TL
    def predict4(mode: Int, A: Array[Int], L: Array[Int], TL: Int,
                 pred: Array[Int]): Unit = {
      mode match {
        case 0 => // B_DC
          var sum = 4
          var i = 0
          while (i < 4) { sum += A(i) + L(i); i += 1 }
          java.util.Arrays.fill(pred, sum >> 3)
        case 1 => // B_TM
          var y = 0
          while (y < 4) {
            var x = 0
            while (x < 4) {
              val v = L(y) + A(x) - TL
              pred(y * 4 + x) = if (v < 0) 0 else if (v > 255) 255 else v
              x += 1
            }
            y += 1
          }
        case 2 => // B_VE: filtered vertical
          val r = Array(avg3(TL, A(0), A(1)), avg3(A(0), A(1), A(2)),
            avg3(A(1), A(2), A(3)), avg3(A(2), A(3), A(4)))
          var y = 0
          while (y < 4) {
            var x = 0
            while (x < 4) { pred(y * 4 + x) = r(x); x += 1 }
            y += 1
          }
        case 3 => // B_HE: filtered horizontal
          val r = Array(avg3(TL, L(0), L(1)), avg3(L(0), L(1), L(2)),
            avg3(L(1), L(2), L(3)), avg3(L(2), L(3), L(3)))
          var y = 0
          while (y < 4) {
            var x = 0
            while (x < 4) { pred(y * 4 + x) = r(y); x += 1 }
            y += 1
          }
        case 6 => // B_LD (down-left)
          var y = 0
          while (y < 4) {
            var x = 0
            while (x < 4) {
              val i = x + y
              pred(y * 4 + x) =
                if (i < 6) avg3(A(i), A(i + 1), A(i + 2))
                else avg3(A(6), A(7), A(7))
              x += 1
            }
            y += 1
          }
        case 4 => // B_RD (down-right)
          val e = Array(L(3), L(2), L(1), L(0), TL, A(0), A(1), A(2), A(3))
          var y = 0
          while (y < 4) {
            var x = 0
            while (x < 4) {
              val i = 4 + x - y
              pred(y * 4 + x) = avg3(e(i - 1), e(i), e(i + 1))
              x += 1
            }
            y += 1
          }
        case 5 => // B_VR
          pred(12) = avg3(L(2), L(1), L(0))
          pred(8) = avg3(L(1), L(0), TL)
          pred(13) = avg3(L(0), TL, A(0))
          pred(9) = avg2(TL, A(0))
          pred(4) = pred(13)
          pred(0) = pred(9)
          pred(14) = avg3(TL, A(0), A(1))
          pred(10) = avg2(A(0), A(1))
          pred(5) = pred(14)
          pred(1) = pred(10)
          pred(15) = avg3(A(0), A(1), A(2))
          pred(11) = avg2(A(1), A(2))
          pred(6) = pred(15)
          pred(2) = pred(11)
          pred(7) = avg3(A(1), A(2), A(3))
          pred(3) = avg2(A(2), A(3))
        case 7 => // B_VL
          pred(0) = avg2(A(0), A(1))
          pred(4) = avg3(A(0), A(1), A(2))
          pred(8) = avg2(A(1), A(2))
          pred(1) = pred(8)
          pred(12) = avg3(A(1), A(2), A(3))
          pred(5) = pred(12)
          pred(9) = avg2(A(2), A(3))
          pred(2) = pred(9)
          pred(13) = avg3(A(2), A(3), A(4))
          pred(6) = pred(13)
          pred(10) = avg2(A(3), A(4))
          pred(3) = pred(10)
          pred(14) = avg3(A(3), A(4), A(5))
          pred(7) = pred(14)
          pred(11) = avg3(A(4), A(5), A(6))
          pred(15) = avg3(A(5), A(6), A(7))
        case 8 => // B_HD
          pred(12) = avg2(L(3), L(2))
          pred(13) = avg3(L(3), L(2), L(1))
          pred(8) = avg2(L(2), L(1))
          pred(14) = pred(8)
          pred(9) = avg3(L(2), L(1), L(0))
          pred(15) = pred(9)
          pred(4) = avg2(L(1), L(0))
          pred(10) = pred(4)
          pred(5) = avg3(L(1), L(0), TL)
          pred(11) = pred(5)
          pred(0) = avg2(L(0), TL)
          pred(6) = pred(0)
          pred(1) = avg3(L(0), TL, A(0))
          pred(7) = pred(1)
          pred(2) = avg3(TL, A(0), A(1))
          pred(3) = avg3(A(0), A(1), A(2))
        case _ => // B_HU
          pred(0) = avg2(L(0), L(1))
          pred(1) = avg3(L(0), L(1), L(2))
          pred(2) = avg2(L(1), L(2))
          pred(4) = pred(2)
          pred(3) = avg3(L(1), L(2), L(3))
          pred(5) = pred(3)
          pred(6) = avg2(L(2), L(3))
          pred(8) = pred(6)
          pred(7) = avg3(L(2), L(3), L(3))
          pred(9) = pred(7)
          pred(10) = L(3)
          pred(11) = L(3)
          pred(12) = L(3)
          pred(13) = L(3)
          pred(14) = L(3)
          pred(15) = L(3)
      }
    }

    // ---------- per-MB residual decode + reconstruction
    val pred16 = new Array[Int](256)
    val pred8 = new Array[Int](64)
    val pred4 = new Array[Int](16)
    val res = new Array[Int](16)
    val A = new Array[Int](8)
    val L = new Array[Int](4)

    my = 0
    while (my < mbH) {
      val tb = tokenBr(my % nParts)
      var leftNzY = new Array[Int](4)
      var leftNzU = new Array[Int](2)
      var leftNzV = new Array[Int](2)
      var leftNzY2 = 0
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        val ymode = ymodes(mi)
        val hasY2 = ymode != 4
        val dq = segDq(segIds(mi))
        val bx0 = mx * 16
        val by0 = my * 16
        val cbx0 = mx * 8
        val cby0 = my * 8

        // residuals for the whole MB: 16 luma + y2 + 8 chroma blocks
        val lumaRes = Array.ofDim[Int](16, 16)
        val uRes = Array.ofDim[Int](4, 16)
        val vRes = Array.ofDim[Int](4, 16)
        var anyCoeff = false

        if (skipFlags(mi)) {
          // no tokens: zero the nonzero contexts this MB owns
          var k = 0
          while (k < 4) { topNzY(mx * 4 + k) = 0; leftNzY(k) = 0; k += 1 }
          k = 0
          while (k < 2) {
            topNzU(mx * 2 + k) = 0; leftNzU(k) = 0
            topNzV(mx * 2 + k) = 0; leftNzV(k) = 0
            k += 1
          }
          if (hasY2) { topNzY2(mx) = 0; leftNzY2 = 0 }
        } else {
          var first = 0
          var lumaType = 3
          if (hasY2) {
            val ctx = topNzY2(mx) + leftNzY2
            val ret = getCoeffs(tb, 1, ctx, dq.y2dc, dq.y2ac, 0, coeffs)
            val nz = if (ret > 0) 1 else 0
            topNzY2(mx) = nz; leftNzY2 = nz
            if (nz == 1) anyCoeff = true
            iwht(coeffs, y2out)
            first = 1
            lumaType = 0
          }
          // 16 luma blocks, raster within MB
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3
            val sy = sb >> 2
            val ctx = topNzY(mx * 4 + sx) + leftNzY(sy)
            val ret = getCoeffs(tb, lumaType, ctx, dq.y1dc, dq.y1ac,
              first, lumaRes(sb))
            if (hasY2) lumaRes(sb)(0) = y2out(sb)
            val nz = if (ret > first) 1 else 0
            topNzY(mx * 4 + sx) = nz; leftNzY(sy) = nz
            if (nz == 1) anyCoeff = true
            sb += 1
          }
          // chroma: u then v, 2x2 each
          var cb = 0
          while (cb < 4) {
            val cx = cb & 1
            val cy = cb >> 1
            val ctx = topNzU(mx * 2 + cx) + leftNzU(cy)
            val ret = getCoeffs(tb, 2, ctx, dq.uvdc, dq.uvac, 0, uRes(cb))
            val nz = if (ret > 0) 1 else 0
            topNzU(mx * 2 + cx) = nz; leftNzU(cy) = nz
            if (nz == 1) anyCoeff = true
            cb += 1
          }
          cb = 0
          while (cb < 4) {
            val cx = cb & 1
            val cy = cb >> 1
            val ctx = topNzV(mx * 2 + cx) + leftNzV(cy)
            val ret = getCoeffs(tb, 2, ctx, dq.uvdc, dq.uvac, 0, vRes(cb))
            val nz = if (ret > 0) 1 else 0
            topNzV(mx * 2 + cx) = nz; leftNzV(cy) = nz
            if (nz == 1) anyCoeff = true
            cb += 1
          }
        }
        hasCoeffs(mi) = anyCoeff

        // ---- luma reconstruction
        if (ymode != 4) {
          predictBlock(Y, yStride, bx0, by0, 16, ymode,
            haveAbove = my > 0, haveLeft = mx > 0, pred16)
          // edge handling: DC at edges averages only available sides,
          // V/H/TM read the 127/129 borders via px()
          if (ymode == 0 && (my == 0 || mx == 0)) {
            // recompute DC per the spec's partial-average rule
            var sum = 0
            var cnt = 0
            if (my > 0) {
              var i = 0
              while (i < 16) { sum += px(Y, yStride, bx0 + i, by0 - 1); i += 1 }
              cnt += 16
            }
            if (mx > 0) {
              var i = 0
              while (i < 16) { sum += px(Y, yStride, bx0 - 1, by0 + i); i += 1 }
              cnt += 16
            }
            val dc = if (cnt == 0) 128 else (sum + (cnt >> 1)) / cnt
            java.util.Arrays.fill(pred16, dc)
          }
          var sb = 0
          while (sb < 16) {
            if (skipFlags(mi) && hasY2) {
              // prediction only
              val sx = (sb & 3) * 4
              val sy = (sb >> 2) * 4
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  Y((by0 + sy + yy) * yStride + bx0 + sx + xx) =
                    clamp8(pred16((sy + yy) * 16 + sx + xx))
                  xx += 1
                }
                yy += 1
              }
            } else {
              idct(lumaRes(sb), res)
              val sx = (sb & 3) * 4
              val sy = (sb >> 2) * 4
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  Y((by0 + sy + yy) * yStride + bx0 + sx + xx) =
                    clamp8(pred16((sy + yy) * 16 + sx + xx) + res(yy * 4 + xx))
                  xx += 1
                }
                yy += 1
              }
            }
            sb += 1
          }
        } else {
          // B_PRED: subblock-by-subblock, prediction from the evolving
          // reconstruction
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3
            val sy = sb >> 2
            val px0 = bx0 + sx * 4
            val py0 = by0 + sy * 4
            var i = 0
            while (i < 4) {
              A(i) = px(Y, yStride, px0 + i, py0 - 1)
              L(i) = px(Y, yStride, px0 - 1, py0 + i)
              i += 1
            }
            // above-right: within the MB rows use the row above; for
            // the right column (and all rows) use the MB-above row's
            // pixels — VP8's documented top-right convention
            i = 0
            while (i < 4) {
              val arx = px0 + 4 + i
              val ar =
                if (sx < 3) px(Y, yStride, arx, py0 - 1)
                else {
                  // right edge of the MB: always from the MB-row above
                  if (my == 0) 127
                  else if (arx < yStride) Y((by0 - 1) * yStride + arx) & 0xFF
                  else Y((by0 - 1) * yStride + (yStride - 1)) & 0xFF
                }
              A(4 + i) = ar
              i += 1
            }
            val tl = topLeftPx(Y, yStride, px0, py0)
            predict4(subModes(mi * 16 + sb), A, L, tl, pred4)
            if (skipFlags(mi)) {
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  Y((py0 + yy) * yStride + px0 + xx) =
                    clamp8(pred4(yy * 4 + xx))
                  xx += 1
                }
                yy += 1
              }
            } else {
              idct(lumaRes(sb), res)
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  Y((py0 + yy) * yStride + px0 + xx) =
                    clamp8(pred4(yy * 4 + xx) + res(yy * 4 + xx))
                  xx += 1
                }
                yy += 1
              }
            }
            sb += 1
          }
        }

        // ---- chroma reconstruction
        def reconChroma(p: Array[Byte], blocks: Array[Array[Int]]): Unit = {
          predictBlock(p, uvStride, cbx0, cby0, 8, uvmodes(mi),
            haveAbove = my > 0, haveLeft = mx > 0, pred8)
          if (uvmodes(mi) == 0 && (my == 0 || mx == 0)) {
            var sum = 0
            var cnt = 0
            if (my > 0) {
              var i = 0
              while (i < 8) { sum += px(p, uvStride, cbx0 + i, cby0 - 1); i += 1 }
              cnt += 8
            }
            if (mx > 0) {
              var i = 0
              while (i < 8) { sum += px(p, uvStride, cbx0 - 1, cby0 + i); i += 1 }
              cnt += 8
            }
            val dc = if (cnt == 0) 128 else (sum + (cnt >> 1)) / cnt
            java.util.Arrays.fill(pred8, dc)
          }
          var cb = 0
          while (cb < 4) {
            val sx = (cb & 1) * 4
            val sy = (cb >> 1) * 4
            if (skipFlags(mi)) {
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  p((cby0 + sy + yy) * uvStride + cbx0 + sx + xx) =
                    clamp8(pred8((sy + yy) * 8 + sx + xx))
                  xx += 1
                }
                yy += 1
              }
            } else {
              idct(blocks(cb), res)
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  p((cby0 + sy + yy) * uvStride + cbx0 + sx + xx) =
                    clamp8(pred8((sy + yy) * 8 + sx + xx) + res(yy * 4 + xx))
                  xx += 1
                }
                yy += 1
              }
            }
            cb += 1
          }
        }
        reconChroma(U, uRes)
        reconChroma(V, vRes)

        mx += 1
      }
      my += 1
    }

    // ---------- loop filter
    if (filterLevel > 0)
      loopFilter(Y, U, V, yStride, uvStride, mbW, mbH, simpleFilter,
        filterLevel, sharpness, segEnabled, segAbsolute, segLf, segIds,
        lfDeltaEnabled, refLfDelta(0), modeLfDelta(0), ymodes, skipFlags,
        hasCoeffs)

    // ---------- crop
    val cw = (width + 1) >> 1
    val ch = (height + 1) >> 1
    val outY = new Array[Byte](width * height)
    var r = 0
    while (r < height) {
      System.arraycopy(Y, r * yStride, outY, r * width, width)
      r += 1
    }
    val outU = new Array[Byte](cw * ch)
    val outV = new Array[Byte](cw * ch)
    r = 0
    while (r < ch) {
      System.arraycopy(U, r * uvStride, outU, r * cw, cw)
      System.arraycopy(V, r * uvStride, outV, r * cw, cw)
      r += 1
    }
    Yuv(width, height, outY, outU, outV)
  }

  // ------------------------------------------------------ fixture side

  /** RFC 6386 §7.2's boolean encoder (carry-propagating). */
  private final class BoolEnc {
    private val out = new java.io.ByteArrayOutputStream()
    private var range = 255
    private var bottom = 0L
    private var bitCount = 24
    private var bytes = scala.collection.mutable.ArrayBuffer.empty[Int]

    private def carry(): Unit = {
      var i = bytes.length - 1
      while (i >= 0 && bytes(i) == 255) { bytes(i) = 0; i -= 1 }
      require(i >= 0, "carry past the stream start")
      bytes(i) += 1
    }

    def put(prob: Int, bit: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { bottom += split; range -= split }
      else range = split
      if (bottom > 0xFFFFFFFFL) { carry(); bottom &= 0xFFFFFFFFL }
      while (range < 128) {
        range <<= 1
        if ((bottom & 0x80000000L) != 0) carry()
        bottom = (bottom << 1) & 0xFFFFFFFFL
        bitCount -= 1
        if (bitCount == 0) {
          bytes += ((bottom >> 24) & 0xFF).toInt
          bottom &= 0xFFFFFF
          bitCount = 8
        }
      }
    }

    def literal(n: Int, v: Int): Unit = {
      var i = n - 1
      while (i >= 0) { put(128, (v >> i) & 1); i -= 1 }
    }

    def result(): Array[Byte] = {
      var c = bitCount
      var v = bottom
      if ((v & (1L << (32 - c))) != 0) carry()
      v = (v << (c & 7)) & 0xFFFFFFFFL
      c >>= 3
      while (c > 0) { v = (v << 8) & 0xFFFFFFFFL; c -= 1 }
      var k = 4
      while (k > 0) { bytes += ((v >> 24) & 0xFF).toInt; v = (v << 8) & 0xFFFFFFFFL; k -= 1 }
      out.reset()
      bytes.foreach(out.write)
      out.toByteArray
    }
  }

  /** Fixture encoder — a real VP8 key frame whose reconstruction has a
    * CLOSED FORM: every macroblock is 16x16 DC-predicted with DC-mode
    * chroma, no segmentation, loop filter level 0, one token
    * partition (or 2/4/8 via `nParts` — MB row r writes partition
    * r % nParts), default probabilities; the ONLY coefficients are in
    * macroblock (0,0) — a Y2 DC token `yDc`, and DC tokens `uDc`/`vDc`
    * in all four of each chroma plane's blocks (each in -4..4; 0
    * plants no token).
    * DC prediction then propagates that single corner block across the
    * whole frame, so the decoded planes are SOLID:
    *
    *   y = clamp8(128 + ((iwht_dc + 4) >> 3)),
    *       iwht_dc = (yDc · 2·dc_q(qi) + 3) >> 3
    *   u = clamp8(128 + ((uDc · min(dc_q(qi), 132) + 4) >> 3))
    *
    * — integer-only, which is what lets the planted-corpus oracle
    * replay the reconstruction in SQL against the quantizer table.
    *
    * `filterLevel`/`simpleFilter`/`sharpness` switch the loop-filter
    * regimes on, and `yDcForMb` plants a DIFFERENT Y2 DC per
    * macroblock (stepped planes — real MB edges for the filters to
    * chew on). Those arms lose the closed form and are verified by
    * libwebp AGREEMENT instead (`Vp8CodecSpec`).
    */
  def encodeDcOnly(width: Int, height: Int, qi: Int,
                   yDc: Int, uDc: Int, vDc: Int,
                   filterLevel: Int = 0, simpleFilter: Boolean = false,
                   sharpness: Int = 0, nParts: Int = 1,
                   yDcForMb: (Int, Int) => Int = null): Array[Byte] = {
    require(width >= 1 && width <= 0x3FFF && height >= 1 && height <= 0x3FFF)
    require(qi >= 0 && qi <= 127, s"qi $qi")
    require(math.abs(yDc) <= 4 && math.abs(uDc) <= 4 && math.abs(vDc) <= 4,
      "DC tokens stay in the literal token range (|v| <= 4)")
    require(filterLevel >= 0 && filterLevel <= 63 &&
      sharpness >= 0 && sharpness <= 7, "filter params out of range")
    require(Seq(1, 2, 4, 8).contains(nParts), "1/2/4/8 token partitions")
    val mbW = (width + 15) >> 4
    val mbH = (height + 15) >> 4
    val probs = Vp8Tables.coefProbs0

    // ---- partition 0
    val p0 = new BoolEnc
    p0.put(128, 0) // color space
    p0.put(128, 0) // clamping
    p0.put(128, 0) // segmentation off
    p0.put(128, if (simpleFilter) 1 else 0) // filter type
    p0.literal(6, filterLevel)
    p0.literal(3, sharpness)
    p0.put(128, 0) // lf deltas off
    p0.literal(2, Integer.numberOfTrailingZeros(nParts)) // token partitions
    p0.literal(7, qi)
    var k = 0
    while (k < 5) { p0.put(128, 0); k += 1 } // five quant deltas absent
    p0.put(128, 1) // refresh entropy probs
    k = 0
    while (k < 1056) { p0.put(Vp8Tables.updateProbs(k) & 0xFF, 0); k += 1 }
    p0.put(128, 0) // mb_no_coeff_skip off
    var mb = 0
    while (mb < mbW * mbH) {
      // ymode DC_PRED = path 1,0,0 through the kf ymode tree
      p0.put(145, 1); p0.put(156, 0); p0.put(163, 0)
      p0.put(142, 0) // uvmode DC_PRED
      mb += 1
    }
    val part0 = p0.result()

    // ---- token partitions (MB row r writes partition r % nParts)
    val tps = Array.fill(nParts)(new BoolEnc)
    def putToken(tp: BoolEnc, tpe: Int, band: Int, ctx: Int, v: Int): Unit = {
      val b = ((tpe * 8 + band) * 3 + ctx) * 11
      def p(i: Int): Int = probs(b + i) & 0xFF
      tp.put(p(0), 1) // not EOB
      tp.put(p(1), 1) // not zero
      val a = math.abs(v)
      a match {
        case 1 => tp.put(p(2), 0)
        case 2 => tp.put(p(2), 1); tp.put(p(3), 0); tp.put(p(4), 0)
        case 3 =>
          tp.put(p(2), 1); tp.put(p(3), 0); tp.put(p(4), 1); tp.put(p(5), 0)
        case _ =>
          tp.put(p(2), 1); tp.put(p(3), 0); tp.put(p(4), 1); tp.put(p(5), 1)
      }
      tp.put(128, if (v < 0) 1 else 0)
    }
    def putEob(tp: BoolEnc, tpe: Int, band: Int, ctx: Int): Unit = {
      val b = ((tpe * 8 + band) * 3 + ctx) * 11
      tp.put(probs(b) & 0xFF, 0)
    }
    // one DC token then EOB, or an immediate EOB — returns the block's
    // nz flag exactly as the decoder computes it
    def block(tp: BoolEnc, tpe: Int, first: Int, ctx: Int, v: Int): Int =
      if (v == 0) { putEob(tp, tpe, Bands(first), ctx); 0 }
      else {
        putToken(tp, tpe, Bands(first), ctx, v)
        putEob(tp, tpe, Bands(first + 1), if (math.abs(v) > 1) 2 else 1)
        1
      }
    val topY2 = new Array[Int](mbW)
    val topY = new Array[Int](mbW * 4)
    val topU = new Array[Int](mbW * 2)
    val topV = new Array[Int](mbW * 2)
    var my = 0
    while (my < mbH) {
      var leftY2 = 0
      val leftY = new Array[Int](4)
      val leftU = new Array[Int](2)
      val leftV = new Array[Int](2)
      val tp = tps(my % nParts)
      var mx = 0
      while (mx < mbW) {
        val corner = mx == 0 && my == 0
        // y2 (type 1)
        val y2v =
          if (yDcForMb != null) yDcForMb(mx, my)
          else if (corner) yDc else 0
        require(math.abs(y2v) <= 4, "per-MB DC tokens stay |v| <= 4")
        val y2nz = block(tp, 1, 0, topY2(mx) + leftY2, y2v)
        topY2(mx) = y2nz; leftY2 = y2nz
        // 16 luma blocks (type 0, first = 1): always EOB here
        var sb = 0
        while (sb < 16) {
          val sx = sb & 3
          val sy = sb >> 2
          val nz = block(tp, 0, 1, topY(mx * 4 + sx) + leftY(sy), 0)
          topY(mx * 4 + sx) = nz; leftY(sy) = nz
          sb += 1
        }
        // chroma (type 2)
        var cb = 0
        while (cb < 4) {
          val cx = cb & 1
          val cy = cb >> 1
          val nz = block(tp, 2, 0, topU(mx * 2 + cx) + leftU(cy),
            if (corner) uDc else 0)
          topU(mx * 2 + cx) = nz; leftU(cy) = nz
          cb += 1
        }
        cb = 0
        while (cb < 4) {
          val cx = cb & 1
          val cy = cb >> 1
          val nz = block(tp, 2, 0, topV(mx * 2 + cx) + leftV(cy),
            if (corner) vDc else 0)
          topV(mx * 2 + cx) = nz; leftV(cy) = nz
          cb += 1
        }
        mx += 1
      }
      my += 1
    }
    val parts = tps.map(_.result())

    // ---- assemble: tag (keyframe, version 0, shown) + start code +
    // dims + partition 0 + the size table for all but the last token
    // partition + the token partitions
    val tagv = (part0.length << 5) | (1 << 4)
    val out = new java.io.ByteArrayOutputStream()
    out.write(tagv & 0xFF); out.write((tagv >> 8) & 0xFF)
    out.write((tagv >> 16) & 0xFF)
    out.write(0x9d); out.write(0x01); out.write(0x2a)
    out.write(width & 0xFF); out.write((width >> 8) & 0x3F)
    out.write(height & 0xFF); out.write((height >> 8) & 0x3F)
    out.write(part0)
    var pi = 0
    while (pi < nParts - 1) {
      val len = parts(pi).length
      out.write(len & 0xFF); out.write((len >> 8) & 0xFF)
      out.write((len >> 16) & 0xFF)
      pi += 1
    }
    parts.foreach(out.write)
    out.toByteArray
  }

  /** The closed-form solid plane values [[encodeDcOnly]] reconstructs
    * to — shared with the oracle generator so the two cannot drift.
    */
  def dcOnlyLuma(qi: Int, yDc: Int): Int = {
    val dq = Vp8Tables.dcQ(qi) * 2
    val wht = (yDc * dq + 3) >> 3
    val v = 128 + ((wht + 4) >> 3)
    if (v < 0) 0 else if (v > 255) 255 else v
  }

  def dcOnlyChroma(qi: Int, dc: Int): Int = {
    val dq0 = Vp8Tables.dcQ(qi)
    val dq = if (dq0 > 132) 132 else dq0
    val v = 128 + ((dc * dq + 4) >> 3)
    if (v < 0) 0 else if (v > 255) 255 else v
  }

  // ------------------------------------------------------ loop filter

  private def loopFilter(Y: Array[Byte], U: Array[Byte], V: Array[Byte],
      yStride: Int, uvStride: Int, mbW: Int, mbH: Int,
      simple: Boolean, baseLevel: Int, sharpness: Int,
      segEnabled: Boolean, segAbsolute: Boolean, segLf: Array[Int],
      segIds: Array[Int], lfDeltaEnabled: Boolean, intraRefDelta: Int,
      bpredModeDelta: Int, ymodes: Array[Int], skipFlags: Array[Boolean],
      hasCoeffs: Array[Boolean]): Unit = {

    @inline def c127(v: Int): Int =
      if (v < -128) -128 else if (v > 127) 127 else v
    @inline def u2s(v: Int): Int = v - 128
    @inline def s2u(v: Int): Int = {
      val x = v + 128
      if (x < 0) 0 else if (x > 255) 255 else x
    }

    // the two 4-tap filters over a p1 p0 | q0 q1 window
    def filterCommon(p: Array[Byte], o: Int, step: Int,
                     useOuter: Boolean): Unit = {
      val p1 = u2s(p(o - 2 * step) & 0xFF)
      val p0 = u2s(p(o - step) & 0xFF)
      val q0 = u2s(p(o) & 0xFF)
      val q1 = u2s(p(o + step) & 0xFF)
      var a = c127((if (useOuter) c127(p1 - q1) else 0) + 3 * (q0 - p0))
      val f1 = c127(a + 4) >> 3
      val f2 = c127(a + 3) >> 3
      p(o) = s2u(q0 - f1).toByte
      p(o - step) = s2u(p0 + f2).toByte
      if (!useOuter) {
        a = (f1 + 1) >> 1
        p(o + step) = s2u(q1 - a).toByte
        p(o - 2 * step) = s2u(p1 + a).toByte
      }
    }

    def filterMb(p: Array[Byte], o: Int, step: Int): Unit = {
      val p2 = u2s(p(o - 3 * step) & 0xFF)
      val p1 = u2s(p(o - 2 * step) & 0xFF)
      val p0 = u2s(p(o - step) & 0xFF)
      val q0 = u2s(p(o) & 0xFF)
      val q1 = u2s(p(o + step) & 0xFF)
      val q2 = u2s(p(o + 2 * step) & 0xFF)
      val w = c127(c127(p1 - q1) + 3 * (q0 - p0))
      var a = (27 * w + 63) >> 7
      p(o) = s2u(q0 - a).toByte
      p(o - step) = s2u(p0 + a).toByte
      a = (18 * w + 63) >> 7
      p(o + step) = s2u(q1 - a).toByte
      p(o - 2 * step) = s2u(p1 + a).toByte
      a = (9 * w + 63) >> 7
      p(o + 2 * step) = s2u(q2 - a).toByte
      p(o - 3 * step) = s2u(p2 + a).toByte
    }

    @inline def ab(x: Int): Int = if (x < 0) -x else x

    def normalMask(p: Array[Byte], o: Int, step: Int, interior: Int,
                   edge: Int): Boolean = {
      val p3 = p(o - 4 * step) & 0xFF
      val p2 = p(o - 3 * step) & 0xFF
      val p1 = p(o - 2 * step) & 0xFF
      val p0 = p(o - step) & 0xFF
      val q0 = p(o) & 0xFF
      val q1 = p(o + step) & 0xFF
      val q2 = p(o + 2 * step) & 0xFF
      val q3 = p(o + 3 * step) & 0xFF
      ab(p3 - p2) <= interior && ab(p2 - p1) <= interior &&
        ab(p1 - p0) <= interior && ab(q1 - q0) <= interior &&
        ab(q2 - q1) <= interior && ab(q3 - q2) <= interior &&
        ab(p0 - q0) * 2 + ab(p1 - q1) / 2 <= edge
    }

    def hev(p: Array[Byte], o: Int, step: Int, t: Int): Boolean = {
      val p1 = p(o - 2 * step) & 0xFF
      val p0 = p(o - step) & 0xFF
      val q0 = p(o) & 0xFF
      val q1 = p(o + step) & 0xFF
      ab(p1 - p0) > t || ab(q1 - q0) > t
    }

    def simpleMask(p: Array[Byte], o: Int, step: Int, edge: Int): Boolean = {
      val p1 = p(o - 2 * step) & 0xFF
      val p0 = p(o - step) & 0xFF
      val q0 = p(o) & 0xFF
      val q1 = p(o + step) & 0xFF
      ab(p0 - q0) * 2 + ab(p1 - q1) / 2 <= edge
    }

    var my = 0
    while (my < mbH) {
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        var level =
          if (!segEnabled) baseLevel
          else if (segAbsolute) segLf(segIds(mi))
          else baseLevel + segLf(segIds(mi))
        if (lfDeltaEnabled) {
          level += intraRefDelta // keyframe: always the INTRA ref delta
          if (ymodes(mi) == 4) level += bpredModeDelta
        }
        if (level < 0) level = 0
        if (level > 63) level = 63
        if (level > 0) {
          var interior = level
          if (sharpness > 0) {
            interior >>= (if (sharpness > 4) 2 else 1)
            if (interior > 9 - sharpness) interior = 9 - sharpness
          }
          if (interior < 1) interior = 1
          val hevT =
            if (level >= 40) 2 else if (level >= 15) 1 else 0
          val mbEdge = (level + 2) * 2 + interior
          val subEdge = level * 2 + interior
          val inner = hasCoeffs(mi) || ymodes(mi) == 4
          val bx0 = mx * 16
          val by0 = my * 16
          val cx0 = mx * 8
          val cy0 = my * 8

          if (simple) {
            // luma only
            if (mx > 0) {
              var r = 0
              while (r < 16) {
                val o = (by0 + r) * yStride + bx0
                if (simpleMask(Y, o, 1, mbEdge))
                  filterCommon(Y, o, 1, useOuter = true)
                r += 1
              }
            }
            if (inner) {
              var e = 4
              while (e < 16) {
                var r = 0
                while (r < 16) {
                  val o = (by0 + r) * yStride + bx0 + e
                  if (simpleMask(Y, o, 1, subEdge))
                    filterCommon(Y, o, 1, useOuter = true)
                  r += 1
                }
                e += 4
              }
            }
            if (my > 0) {
              var cc = 0
              while (cc < 16) {
                val o = by0 * yStride + bx0 + cc
                if (simpleMask(Y, o, yStride, mbEdge))
                  filterCommon(Y, o, yStride, useOuter = true)
                cc += 1
              }
            }
            if (inner) {
              var e = 4
              while (e < 16) {
                var cc = 0
                while (cc < 16) {
                  val o = (by0 + e) * yStride + bx0 + cc
                  if (simpleMask(Y, o, yStride, subEdge))
                    filterCommon(Y, o, yStride, useOuter = true)
                  cc += 1
                }
                e += 4
              }
            }
          } else {
            def vEdge(p: Array[Byte], stride: Int, x: Int, y0: Int, n: Int,
                      edge: Int, mbEdgeKind: Boolean): Unit = {
              var r = 0
              while (r < n) {
                val o = (y0 + r) * stride + x
                if (normalMask(p, o, 1, interior, edge)) {
                  if (mbEdgeKind) {
                    if (hev(p, o, 1, hevT)) filterCommon(p, o, 1, useOuter = true)
                    else filterMb(p, o, 1)
                  } else {
                    if (hev(p, o, 1, hevT)) filterCommon(p, o, 1, useOuter = true)
                    else filterCommon(p, o, 1, useOuter = false)
                  }
                }
                r += 1
              }
            }
            def hEdge(p: Array[Byte], stride: Int, x0: Int, y: Int, n: Int,
                      edge: Int, mbEdgeKind: Boolean): Unit = {
              var cc = 0
              while (cc < n) {
                val o = y * stride + x0 + cc
                if (normalMask(p, o, stride, interior, edge)) {
                  if (mbEdgeKind) {
                    if (hev(p, o, stride, hevT))
                      filterCommon(p, o, stride, useOuter = true)
                    else filterMb(p, o, stride)
                  } else {
                    if (hev(p, o, stride, hevT))
                      filterCommon(p, o, stride, useOuter = true)
                    else filterCommon(p, o, stride, useOuter = false)
                  }
                }
                cc += 1
              }
            }
            if (mx > 0) {
              vEdge(Y, yStride, bx0, by0, 16, mbEdge, mbEdgeKind = true)
              vEdge(U, uvStride, cx0, cy0, 8, mbEdge, mbEdgeKind = true)
              vEdge(V, uvStride, cx0, cy0, 8, mbEdge, mbEdgeKind = true)
            }
            if (inner) {
              var e = 4
              while (e < 16) {
                vEdge(Y, yStride, bx0 + e, by0, 16, subEdge, mbEdgeKind = false)
                e += 4
              }
              vEdge(U, uvStride, cx0 + 4, cy0, 8, subEdge, mbEdgeKind = false)
              vEdge(V, uvStride, cx0 + 4, cy0, 8, subEdge, mbEdgeKind = false)
            }
            if (my > 0) {
              hEdge(Y, yStride, bx0, by0, 16, mbEdge, mbEdgeKind = true)
              hEdge(U, uvStride, cx0, cy0, 8, mbEdge, mbEdgeKind = true)
              hEdge(V, uvStride, cx0, cy0, 8, mbEdge, mbEdgeKind = true)
            }
            if (inner) {
              var e = 4
              while (e < 16) {
                hEdge(Y, yStride, bx0, by0 + e, 16, subEdge, mbEdgeKind = false)
                e += 4
              }
              hEdge(U, uvStride, cx0, cy0 + 4, 8, subEdge, mbEdgeKind = false)
              hEdge(V, uvStride, cx0, cy0 + 4, 8, subEdge, mbEdgeKind = false)
            }
          }
        }
        mx += 1
      }
      my += 1
    }
  }
}
