package graft

import graft.CodecRejects.rejectOf
import graft.operators.Mp3Codec

/** [[Mp3Codec]] beyond the planted oracle: frame-length math
  * (padding, every version/rate family), tag skipping, Xing/Info
  * semantics, strict mid-stream consistency, and the named
  * rejections.
  */
class Mp3CodecSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("CBR MPEG1 44.1k stereo: count, duration floor, padding walks") {
    val f = Mp3Codec.decodeMp3(Mp3Codec.encodeMp3("1", 44100,
      mono = false, Seq.fill(10)(128), paddingFor = _ % 2 == 0))
    assert(f.nFrames == 10 && f.sampleRate == 44100 && f.channels == 2)
    assert(f.mode == "cbr" && f.kbps == 128)
    assert(f.durationMs == 10L * 1152 * 1000 / 44100) // floor = 261 ms
    assert(!f.id3v2 && !f.id3v1 && f.vbrFrames == null)
  }

  test("every version family's slot math: MPEG2 and 2.5 use 72 slots " +
      "and 576 samples") {
    val v2 = Mp3Codec.decodeMp3(Mp3Codec.encodeMp3("2", 16000,
      mono = true, Seq.fill(7)(48)))
    assert(v2.nFrames == 7 && v2.durationMs == 7L * 576 * 1000 / 16000)
    val v25 = Mp3Codec.decodeMp3(Mp3Codec.encodeMp3("2.5", 11025,
      mono = false, Seq.fill(3)(64)))
    assert(v25.nFrames == 3 && v25.sampleRate == 11025)
    assert(v25.durationMs == 3L * 576 * 1000 / 11025)
  }

  test("ID3v2 prefix skipped by syncsafe size; ID3v1 trailer by its " +
      "128 bytes; both reported") {
    val f = Mp3Codec.decodeMp3(Mp3Codec.encodeMp3("1", 44100,
      mono = false, Seq.fill(4)(128), id3v2Size = 200, id3v1 = true))
    assert(f.nFrames == 4 && f.id3v2 && f.id3v1)
  }

  test("headerless VBR: varying bitrates flip the mode, kbps nulls") {
    val f = Mp3Codec.decodeMp3(Mp3Codec.encodeMp3("1", 44100,
      mono = false, Seq(128, 160, 128, 192)))
    assert(f.mode == "vbr" && f.kbps == null && f.nFrames == 4)
  }

  test("Xing marks VBR with a declared count; Info marks tagged CBR") {
    val x = Mp3Codec.decodeMp3(Mp3Codec.encodeMp3("1", 44100,
      mono = false, Seq.fill(6)(128), xingFrames = 5))
    assert(x.mode == "vbr" && x.vbrFrames == 5 && x.kbps == null)
    val i = Mp3Codec.decodeMp3(Mp3Codec.encodeMp3("1", 44100,
      mono = false, Seq.fill(6)(128), xingFrames = 6, infoTag = true))
    assert(i.mode == "cbr" && i.kbps == 128 && i.vbrFrames == 6)
  }

  private def kindOf(p: Array[Byte]): String =
    rejectOf("mp3")(Mp3Codec.decodeMp3(p)).kind

  test("named rejections: free-format, layer, version, malformed " +
      "(truncation, desync, garbage, empty)") {
    assert(kindOf(Array(0xFF.toByte, 0xFB.toByte, 0x00, 0x00)) ==
      "free-format")
    // layer II (bits 10) and layer I (bits 11)
    assert(kindOf(Array(0xFF.toByte, 0xFD.toByte, 0x92.toByte, 0x00)) ==
      "layer")
    assert(kindOf(Array(0xFF.toByte, 0xFF.toByte, 0x92.toByte, 0x00)) ==
      "layer")
    // reserved version bits (01)
    assert(kindOf(Array(0xFF.toByte, 0xEB.toByte, 0x92.toByte, 0x00)) ==
      "version")
    val ok = Mp3Codec.encodeMp3("1", 44100, mono = false, Seq.fill(3)(128))
    assert(kindOf(ok.dropRight(5)) == "malformed") // truncated last frame
    assert(kindOf("definitely not audio".getBytes("UTF-8")) == "malformed")
    assert(kindOf(Array.emptyByteArray) == "malformed")
    // desync: corrupt the second frame's sync byte
    val len0 = 144 * 128000 / 44100
    val bad = ok.clone(); bad(len0) = 0x00
    assert(kindOf(bad) == "malformed")
    // mid-stream sample-rate change
    val a = Mp3Codec.encodeMp3("1", 44100, mono = false, Seq(128))
    val b = Mp3Codec.encodeMp3("1", 48000, mono = false, Seq(128))
    assert(kindOf(a ++ b) == "malformed")
  }

  test("an ID3v2 whose size runs past EOF is malformed, not a skip") {
    val p = "ID3".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0x7F, 0x7F, 0x7F, 0x7F)
    assert(kindOf(p) == "malformed")
  }
}
