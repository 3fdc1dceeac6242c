package graft

import graft.CodecRejects.rejectOf
import graft.operators.AacCodec
import org.scalatest.funsuite.AnyFunSuite

/** [[AacCodec]] — the ADTS header walk on closed-form streams: header
  * bit layout inverted exactly, length math proven by the fill,
  * named rejections, consistency rules.
  */
class AacCodecSpec extends AnyFunSuite {

  private def facts(b: Array[Byte]) = AacCodec.decodeAdts(b)
  private def rejectKind(b: Array[Byte]): String =
    rejectOf("aac")(AacCodec.decodeAdts(b)).kind

  test("LC stereo MPEG-4: frames, samples, floor duration, VBR flag") {
    val f = facts(AacCodec.encodeAdts(mpeg2 = false, profile = 1,
      srate = 44100, chanCfg = 2, Seq(30, 41, 52)))
    assert(f.nFrames == 3 && f.sampleRate == 44100 && f.channels == 2)
    assert(f.profile == "lc" && !f.mpeg2 && !f.crc && f.vbr)
    assert(f.nSamples == 3 * 1024)
    assert(f.durationMs == 3 * 1024 * 1000L / 44100) // floor = 69 ms
    assert(f.durationMs == 69)
    assert(!f.id3v2)
  }

  test("CRC header is 9 bytes; raw-data-block count multiplies " +
      "samples; channel config 7 is 8 channels; ID3v2 skipped") {
    val f = facts(AacCodec.encodeAdts(mpeg2 = true, profile = 2,
      srate = 22050, chanCfg = 7, Seq(25, 25), crc = true,
      blocksPerFrame = 3, id3v2Size = 64,
      fullnessFor = _ => 123))
    assert(f.mpeg2 && f.crc && f.channels == 8 && f.profile == "ssr")
    assert(f.nSamples == 2 * 3 * 1024 && !f.vbr && f.id3v2)
  }

  test("named rejections: pce-channels, layer, profile (LTP under " +
      "MPEG-2), reserved sampling index, truncation, sync loss") {
    assert(rejectKind(AacCodec.encodeAdts(mpeg2 = false, profile = 1,
      srate = 44100, chanCfg = 0, Seq(30))) == "pce-channels")
    assert(rejectKind(Array[Byte](0xFF.toByte, 0xF3.toByte,
      0, 0, 0, 0, 0)) == "layer")
    assert(rejectKind(AacCodec.encodeAdts(mpeg2 = true, profile = 3,
      srate = 16000, chanCfg = 2, Seq(30))) == "profile")
    // MPEG-4 LTP is legal
    assert(facts(AacCodec.encodeAdts(mpeg2 = false, profile = 3,
      srate = 16000, chanCfg = 2, Seq(30))).profile == "ltp")
    // sampling index 13: patch the encoded srIdx bits
    val bad = AacCodec.encodeAdts(mpeg2 = false, profile = 1,
      srate = 44100, chanCfg = 2, Seq(30))
    bad(2) = ((1 << 6) | (13 << 2)).toByte
    assert(rejectKind(bad) == "malformed")
    assert(rejectKind(AacCodec.encodeAdts(mpeg2 = false, profile = 1,
      srate = 44100, chanCfg = 2, Seq(30, 30)).dropRight(3)) ==
      "malformed")
    assert(rejectKind("not audio at all".getBytes("UTF-8")) ==
      "malformed")
    assert(rejectKind(Array.emptyByteArray) == "malformed")
  }

  test("stream facts must hold across frames; varying lengths and " +
      "fullness may not") {
    val a = AacCodec.encodeAdts(mpeg2 = false, profile = 1,
      srate = 44100, chanCfg = 2, Seq(30),
      fullnessFor = _ => 0x7FF)
    val b = AacCodec.encodeAdts(mpeg2 = false, profile = 1,
      srate = 48000, chanCfg = 2, Seq(30))
    assert(rejectKind(a ++ b) == "malformed")
    // varying per-frame payload length + fullness is fine (one stream)
    val ok = facts(AacCodec.encodeAdts(mpeg2 = false, profile = 1,
      srate = 44100, chanCfg = 2, Seq(20, 33, 47, 61),
      fullnessFor = f => if (f == 2) 0x7FF else f * 7))
    assert(ok.nFrames == 4 && ok.vbr)
  }
}
