package graft.operators

import graft.codec.Reject

/** MP3 (MPEG-1/2/2.5 Audio Layer III) frame walk — the metadata pass
  * an audio-corpus ingest runs before any transcoding: frame count,
  * sample rate, channel mode, CBR/VBR discrimination and exact
  * duration, from the frame HEADERS alone (ISO/IEC 11172-3 §2.4.1 +
  * the de-facto MPEG-2.5 extension). A crawl's audio population is
  * overwhelmingly MP3; without the walk every file's duration — the
  * unit of audio data budgeting, exactly like token counts for text —
  * is unknown. Deliberately NOT a decoder: Huffman audio
  * reconstruction is out of scope the same way lossy VP8 is for
  * [[WebpCodec]]; the walk is the honest, offline-verifiable core.
  *
  * Reference analog: raw schemaless documents in front of the map
  * function (`/root/reference/Projector/indexjs.go:73-191`).
  *
  * Contract (named rejections via [[graft.codec.Reject]], codec `mp3`):
  *  - an ID3v2 prefix is skipped by its syncsafe size (+footer flag),
  *    an ID3v1 `TAG` trailer by its fixed 128 bytes; both reported;
  *  - frames: 11-bit sync, version (2.5/2/1; reserved rejects
  *    `version`), LAYER III ONLY (I/II reject `layer` — different
  *    frame math, different population), bitrate index (0 = free
  *    format rejects `free-format` — its length is only computable by
  *    probing; 15 rejects `malformed`), sample-rate index (3 rejects
  *    `malformed`), padding bit;
  *  - frame length = `(MPEG1 ? 144 : 72) · bitrate / sampleRate +
  *    padding` bytes (the Layer III slot formula); a frame running
  *    past the payload is `malformed` (truncation), as is any loss of
  *    sync between frames — the walk itself proves every length;
  *  - version, layer, sample rate and channel mode must hold across
  *    the stream (`malformed` otherwise); bitrate may vary per frame
  *    (that IS headerless VBR);
  *  - a `Xing` tag in the first frame (after the side-info block:
  *    MPEG1 17/32 bytes mono/other, MPEG2/2.5 9/17, +2 under the CRC
  *    protection bit) marks VBR and may declare a frame count; `Info`
  *    marks a tagged CBR. Without a tag, all-equal frame bitrates are
  *    CBR, varying ones VBR;
  *  - duration = `nFrames · samplesPerFrame · 1000 / sampleRate` ms,
  *    integer floor, samplesPerFrame 1152 (MPEG1) / 576 (MPEG2/2.5).
  */
object Mp3Codec {

  private val reject = Reject.in("mp3")

  final case class Mp3Facts(nFrames: Int, sampleRate: Int,
                            channels: Int, mode: String,
                            kbps: Integer, durationMs: Long,
                            vbrFrames: Integer,
                            id3v2: Boolean, id3v1: Boolean)

  private val bitrateV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320)
  private val bitrateV2L3 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64,
    80, 96, 112, 128, 144, 160)
  private val srateV1 = Array(44100, 48000, 32000)
  private val srateV2 = Array(22050, 24000, 16000)
  private val srateV25 = Array(11025, 12000, 8000)

  def decodeMp3(payload: Array[Byte]): Mp3Facts = {
    var at = 0
    var end = payload.length
    var id3v2 = false
    var id3v1 = false
    if (end >= 10 && payload(0) == 'I' && payload(1) == 'D' &&
        payload(2) == '3') {
      val flags = payload(5) & 0xFF
      var size = 0
      var i = 6
      while (i < 10) {
        val b = payload(i) & 0xFF
        if ((b & 0x80) != 0) reject("malformed", "non-syncsafe ID3v2 size")
        size = (size << 7) | b
        i += 1
      }
      at = 10 + size + (if ((flags & 0x10) != 0) 10 else 0)
      if (at > end) reject("malformed", "ID3v2 runs past EOF")
      id3v2 = true
    }
    if (end - at >= 128 && payload(end - 128) == 'T' &&
        payload(end - 127) == 'A' && payload(end - 126) == 'G') {
      end -= 128
      id3v1 = true
    }
    var nFrames = 0
    var sampleRate = -1
    var channels = -1
    var mpeg1 = false
    var verBits = -1
    var chModeBits = -1
    var firstKbps = -1
    var cbr = true
    var xing = false
    var info = false
    var vbrFrames: Integer = null
    while (at < end) {
      if (at + 4 > end) reject("malformed", "truncated frame header")
      val b0 = payload(at) & 0xFF
      val b1 = payload(at + 1) & 0xFF
      if (b0 != 0xFF || (b1 & 0xE0) != 0xE0)
        reject("malformed",
          if (nFrames == 0) "no frame sync" else "sync lost between frames")
      val ver = (b1 >> 3) & 3 // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
      if (ver == 1) reject("version", "reserved MPEG version bits")
      val layer = (b1 >> 1) & 3 // 1=III, 2=II, 3=I
      if (layer != 1)
        reject("layer", s"layer ${4 - layer} (only Layer III is walked)")
      val crc = (b1 & 1) == 0 // protection bit 0 = CRC present
      val b2 = payload(at + 2) & 0xFF
      val brIdx = (b2 >> 4) & 15
      if (brIdx == 0) reject("free-format", "bitrate index 0")
      if (brIdx == 15) reject("malformed", "bitrate index 15")
      val srIdx = (b2 >> 2) & 3
      if (srIdx == 3) reject("malformed", "sample-rate index 3")
      val padding = (b2 >> 1) & 1
      val b3 = payload(at + 3) & 0xFF
      val chMode = (b3 >> 6) & 3
      val isV1 = ver == 3
      val kbps = (if (isV1) bitrateV1L3 else bitrateV2L3)(brIdx)
      val sr = (ver match {
        case 3 => srateV1
        case 2 => srateV2
        case _ => srateV25
      })(srIdx)
      if (nFrames == 0) {
        mpeg1 = isV1; verBits = ver; sampleRate = sr
        chModeBits = chMode
        channels = if (chMode == 3) 1 else 2
        firstKbps = kbps
      } else if (ver != verBits || sr != sampleRate ||
          chMode != chModeBits)
        reject("malformed", "stream facts change mid-file")
      if (kbps != firstKbps) cbr = false
      val frameLen = (if (isV1) 144 else 72) * kbps * 1000 / sr + padding
      if (frameLen < 4) reject("malformed", s"frame length $frameLen")
      if (at + frameLen > end)
        reject("malformed", s"frame $nFrames runs past the payload")
      if (nFrames == 0) {
        // Xing/Info tag after the side-info block
        val side = if (isV1) (if (chMode == 3) 17 else 32)
                   else (if (chMode == 3) 9 else 17)
        val tagAt = at + 4 + (if (crc) 2 else 0) + side
        if (tagAt + 8 <= at + frameLen) {
          val t = new String(payload, tagAt, 4, "US-ASCII")
          if (t == "Xing" || t == "Info") {
            if (t == "Xing") xing = true else info = true
            val flags = ((payload(tagAt + 4) & 0xFF) << 24) |
              ((payload(tagAt + 5) & 0xFF) << 16) |
              ((payload(tagAt + 6) & 0xFF) << 8) |
              (payload(tagAt + 7) & 0xFF)
            if ((flags & 1) != 0 && tagAt + 12 <= at + frameLen)
              vbrFrames = ((payload(tagAt + 8) & 0xFF) << 24) |
                ((payload(tagAt + 9) & 0xFF) << 16) |
                ((payload(tagAt + 10) & 0xFF) << 8) |
                (payload(tagAt + 11) & 0xFF)
          }
        }
      }
      at += frameLen
      nFrames += 1
      if (nFrames > (1 << 24)) reject("malformed", "frame count cap")
    }
    if (nFrames == 0) reject("malformed", "no frames")
    val spf = if (mpeg1) 1152 else 576
    val mode = if (xing) "vbr"
      else if (info) "cbr"
      else if (cbr) "cbr" else "vbr"
    Mp3Facts(nFrames, sampleRate, channels, mode,
      if (mode == "cbr") Integer.valueOf(firstKbps) else null,
      nFrames.toLong * spf * 1000L / sampleRate, vbrFrames,
      id3v2, id3v1)
  }

  // ------------------------------------------------------- fixture side

  /** Fixture encoder — a real Layer III frame chain with header math
    * the walk must reproduce: `kbpsPerFrame` sets each frame's
    * bitrate (varying = headerless VBR), `paddingFor` its padding
    * bit, `xingFrames >= 0` writes a Xing tag (frame-count field)
    * into frame 0, `infoTag` an Info tag instead. Payload bytes are a
    * deterministic fill; the walk never reads them, but a WRONG
    * length computation desyncs on them — the fill is the proof.
    */
  def encodeMp3(version: String, srate: Int, mono: Boolean,
                kbpsPerFrame: Seq[Int],
                paddingFor: Int => Boolean = _ => false,
                id3v2Size: Int = -1, id3v1: Boolean = false,
                xingFrames: Int = -1, infoTag: Boolean = false,
                fill: Int => Byte = i => (i * 37 % 251).toByte)
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (id3v2Size >= 0) {
      out.write("ID3".getBytes("US-ASCII"))
      out.write(4); out.write(0); out.write(0) // v2.4, no flags
      out.write((id3v2Size >> 21) & 0x7F); out.write((id3v2Size >> 14) & 0x7F)
      out.write((id3v2Size >> 7) & 0x7F); out.write(id3v2Size & 0x7F)
      (0 until id3v2Size).foreach(i => out.write(fill(i)))
    }
    val (verBits, table, sr) = version match {
      case "1" => (3, bitrateV1L3, srateV1)
      case "2" => (2, bitrateV2L3, srateV2)
      case "2.5" => (0, bitrateV2L3, srateV25)
    }
    val srIdx = sr.indexOf(srate)
    require(srIdx >= 0, s"$srate not valid for MPEG$version")
    kbpsPerFrame.zipWithIndex.foreach { case (kbps, f) =>
      val brIdx = table.indexOf(kbps)
      require(brIdx > 0, s"$kbps not valid for MPEG$version L3")
      val padding = if (paddingFor(f)) 1 else 0
      val isV1 = verBits == 3
      val frameLen = (if (isV1) 144 else 72) * kbps * 1000 / srate + padding
      val frame = new Array[Byte](frameLen)
      frame(0) = 0xFF.toByte
      frame(1) = (0xE0 | (verBits << 3) | (1 << 1) | 1).toByte // L3, no CRC
      frame(2) = ((brIdx << 4) | (srIdx << 2) | (padding << 1)).toByte
      frame(3) = (if (mono) 0xC0 else 0x00).toByte
      var i = 4
      while (i < frameLen) { frame(i) = fill(f * 1000 + i); i += 1 }
      if (f == 0 && (xingFrames >= 0 || infoTag)) {
        val side = if (isV1) (if (mono) 17 else 32)
                   else (if (mono) 9 else 17)
        val tagAt = 4 + side
        val tag = if (infoTag) "Info" else "Xing"
        tag.getBytes("US-ASCII").copyToArray(frame, tagAt)
        val flags = if (xingFrames >= 0) 1 else 0
        frame(tagAt + 4) = 0; frame(tagAt + 5) = 0
        frame(tagAt + 6) = 0; frame(tagAt + 7) = flags.toByte
        if (xingFrames >= 0) {
          frame(tagAt + 8) = ((xingFrames >> 24) & 0xFF).toByte
          frame(tagAt + 9) = ((xingFrames >> 16) & 0xFF).toByte
          frame(tagAt + 10) = ((xingFrames >> 8) & 0xFF).toByte
          frame(tagAt + 11) = (xingFrames & 0xFF).toByte
        }
      }
      out.write(frame)
    }
    if (id3v1) {
      val tag = new Array[Byte](128)
      "TAG".getBytes("US-ASCII").copyToArray(tag, 0)
      out.write(tag)
    }
    out.toByteArray
  }
}
