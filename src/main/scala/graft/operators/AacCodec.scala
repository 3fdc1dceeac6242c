package graft.operators

import graft.codec.Reject

/** ADTS AAC frame walk — the audio-budgeting pass for the OTHER
  * dominant compressed audio kind in crawls ([[Mp3Codec]]'s shape for
  * MPEG-2/4 AAC in the ADTS transport): frame count, sample rate,
  * channel configuration, profile, exact sample count and integer
  * duration from the fixed 7/9-byte frame HEADERS alone (ISO/IEC
  * 13818-7 §6.2 / ISO/IEC 14496-3 ADTS). Deliberately NOT a decoder —
  * spectral reconstruction is out of scope exactly as Huffman audio is
  * for [[Mp3Codec]]; every `aac_frame_length` is PROVEN by the walk
  * landing on the next syncword (the fill bytes are the proof).
  *
  * Reference analog: raw schemaless documents in front of the map
  * function (`/root/reference/Projector/indexjs.go:73-191`).
  *
  * Contract (named rejections via [[graft.codec.Reject]], codec `aac`):
  *  - an ID3v2 prefix is skipped by its syncsafe size (+footer flag),
  *    as real .aac files carry them exactly like .mp3;
  *  - frames: 12-bit sync `0xFFF`; ID bit (1 = MPEG-2, 0 = MPEG-4);
  *    the 2 layer bits MUST be 00 (`layer` rejection otherwise — a
  *    nonzero layer is not ADTS-AAC); `protection_absent` 0 means a
  *    16-bit CRC follows the header (the walk skips it — frame length
  *    covers it — and reports the fact);
  *  - profile 2 bits (main/lc/ssr, 3 = ltp under MPEG-4 and reserved
  *    under MPEG-2 — `profile` rejection there); sampling-frequency
  *    index 0..12 from the ISO table (13/14 reserved, 15 forbidden —
  *    `malformed`); channel_configuration 1..7 (cfg 7 = 8 channels);
  *    cfg 0 means channels are defined by an in-stream program config
  *    element the headers-only walk cannot read — the honest NAMED
  *    rejection `pce-channels`, counted as dark data, never guessed;
  *  - `aac_frame_length` (13 bits, full frame incl. header+CRC):
  *    shorter than the header itself or running past the payload →
  *    `malformed`, as is any loss of sync between frames;
  *  - ID, profile, sampling index and channel configuration must hold
  *    across the stream (`malformed` otherwise); frame lengths and
  *    buffer fullness may vary per frame;
  *  - each frame carries `number_of_raw_data_blocks + 1` blocks of
  *    1024 samples per channel; `adts_buffer_fullness == 0x7FF` in
  *    any frame marks the stream VBR (the encoder convention);
  *  - `duration_ms = totalSamples · 1000 / sampleRate`, integer floor.
  */
object AacCodec {

  private val reject = Reject.in("aac")

  /** The ISO sampling_frequency_index table (0..12). */
  val SampleRates: Array[Int] = Array(96000, 88200, 64000, 48000,
    44100, 32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  private val ProfileNames = Array("main", "lc", "ssr", "ltp")

  final case class AacFacts(nFrames: Int, sampleRate: Int,
                            channels: Int, profile: String,
                            mpeg2: Boolean, crc: Boolean,
                            vbr: Boolean, nSamples: Long,
                            durationMs: Long, id3v2: Boolean)

  def decodeAdts(payload: Array[Byte]): AacFacts = {
    var at = 0
    val end = payload.length
    var id3v2 = false
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
    var nFrames = 0
    var idBit = -1
    var profIdx = -1
    var srIdx = -1
    var chanCfg = -1
    var anyCrc = false
    var vbr = false
    var nSamples = 0L
    while (at < end) {
      if (at + 7 > end) reject("malformed", "truncated frame header")
      val b0 = payload(at) & 0xFF
      val b1 = payload(at + 1) & 0xFF
      if (b0 != 0xFF || (b1 & 0xF0) != 0xF0)
        reject("malformed",
          if (nFrames == 0) "no frame sync" else "sync lost between frames")
      val id = (b1 >> 3) & 1 // 1 = MPEG-2, 0 = MPEG-4
      val layer = (b1 >> 1) & 3
      if (layer != 0) reject("layer", s"layer bits $layer (ADTS is 00)")
      val protAbsent = b1 & 1
      val b2 = payload(at + 2) & 0xFF
      val prof = (b2 >> 6) & 3
      if (prof == 3 && id == 1)
        reject("profile", "profile 3 is reserved under MPEG-2")
      val sr = (b2 >> 2) & 15
      if (sr > 12) reject("malformed", s"sampling frequency index $sr")
      val b3 = payload(at + 3) & 0xFF
      val ch = ((b2 & 1) << 2) | ((b3 >> 6) & 3)
      if (ch == 0)
        reject("pce-channels",
          "channel configuration 0 (PCE-defined; headers cannot resolve)")
      val b4 = payload(at + 4) & 0xFF
      val b5 = payload(at + 5) & 0xFF
      val b6 = payload(at + 6) & 0xFF
      val frameLen = ((b3 & 3) << 11) | (b4 << 3) | ((b5 >> 5) & 7)
      val fullness = ((b5 & 0x1F) << 6) | ((b6 >> 2) & 0x3F)
      val nBlocks = (b6 & 3) + 1
      val headLen = if (protAbsent == 0) 9 else 7
      if (frameLen < headLen)
        reject("malformed", s"frame length $frameLen under the header")
      if (at + frameLen > end)
        reject("malformed", s"frame $nFrames runs past the payload")
      if (nFrames == 0) {
        idBit = id; profIdx = prof; srIdx = sr; chanCfg = ch
      } else if (id != idBit || prof != profIdx || sr != srIdx ||
          ch != chanCfg)
        reject("malformed", "stream facts change mid-file")
      if (protAbsent == 0) anyCrc = true
      if (fullness == 0x7FF) vbr = true
      nSamples += nBlocks.toLong * 1024L
      at += frameLen
      nFrames += 1
      if (nFrames > (1 << 24)) reject("malformed", "frame count cap")
    }
    if (nFrames == 0) reject("malformed", "no frames")
    val rate = SampleRates(srIdx)
    AacFacts(nFrames, rate, if (chanCfg == 7) 8 else chanCfg,
      ProfileNames(profIdx), idBit == 1, anyCrc, vbr, nSamples,
      nSamples * 1000L / rate, id3v2)
  }

  // ------------------------------------------------------- fixture side

  /** Fixture encoder — real ADTS frame chains with the exact header
    * bit layout the walk must invert: per-frame raw payload lengths
    * (varying lengths are the length-math proof — a wrong
    * `aac_frame_length` read desyncs on the deterministic fill),
    * per-frame buffer fullness, optional CRC, raw-data-block count,
    * optional ID3v2 prefix.
    */
  def encodeAdts(mpeg2: Boolean, profile: Int, srate: Int, chanCfg: Int,
                 payloadLens: Seq[Int],
                 fullnessFor: Int => Int = _ => 0x7FF,
                 crc: Boolean = false, blocksPerFrame: Int = 1,
                 id3v2Size: Int = -1,
                 fill: Int => Byte = i => (i * 41 % 249).toByte)
      : Array[Byte] = {
    require(profile >= 0 && profile <= 3, s"profile $profile")
    require(chanCfg >= 0 && chanCfg <= 7, s"channel config $chanCfg")
    require(blocksPerFrame >= 1 && blocksPerFrame <= 4, "1..4 blocks")
    val srIdx = SampleRates.indexOf(srate)
    require(srIdx >= 0, s"$srate not an ISO ADTS rate")
    val out = new java.io.ByteArrayOutputStream()
    if (id3v2Size >= 0) {
      out.write("ID3".getBytes("US-ASCII"))
      out.write(4); out.write(0); out.write(0)
      out.write((id3v2Size >> 21) & 0x7F); out.write((id3v2Size >> 14) & 0x7F)
      out.write((id3v2Size >> 7) & 0x7F); out.write(id3v2Size & 0x7F)
      (0 until id3v2Size).foreach(i => out.write(fill(i)))
    }
    val headLen = if (crc) 9 else 7
    payloadLens.zipWithIndex.foreach { case (plen, f) =>
      val frameLen = headLen + plen
      require(frameLen < (1 << 13), s"frame length $frameLen over 13 bits")
      val fullness = fullnessFor(f) & 0x7FF
      val frame = new Array[Byte](frameLen)
      frame(0) = 0xFF.toByte
      frame(1) = (0xF0 | ((if (mpeg2) 1 else 0) << 3) |
        (if (crc) 0 else 1)).toByte
      frame(2) = ((profile << 6) | (srIdx << 2) |
        ((chanCfg >> 2) & 1)).toByte
      frame(3) = (((chanCfg & 3) << 6) | ((frameLen >> 11) & 3)).toByte
      frame(4) = ((frameLen >> 3) & 0xFF).toByte
      frame(5) = (((frameLen & 7) << 5) | ((fullness >> 6) & 0x1F)).toByte
      frame(6) = (((fullness & 0x3F) << 2) | (blocksPerFrame - 1)).toByte
      var i = headLen
      while (i < frameLen) { frame(i) = fill(f * 2048 + i); i += 1 }
      out.write(frame)
    }
    out.toByteArray
  }
}
