package graft

import graft.CodecRejects.rejectOf
import graft.sources.WarcZst

/** [[WarcZst]] — the zstd frame walk: member boundaries found by the
  * engine's own header/block framing (validated against the platform
  * codec's authoritative encodings plus CLI-generated reference
  * vectors), the skippable-frame dictionary convention in all three
  * payload shapes, the named dictionary rejection, and the corruption
  * contract.
  */
class WarcZstSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def ascii(s: String) = s.getBytes("US-ASCII")

  test("multi-frame walk: boundaries from our framing, payloads " +
      "byte-exact, checksummed frames framed past and verified") {
    val a = ascii("first record payload " * 10)
    val b = ascii("second, shorter")
    val c = ascii("third with checksum " * 7)
    val buf = WarcZst.encodeFrame(a) ++ WarcZst.encodeFrame(b) ++
      WarcZst.encodeFrame(c, checksum = true)
    val ms = WarcZst.members(buf)
    assert(ms.length == 3 && ms.forall(_.err == null))
    assert(ms(0).payload.sameElements(a))
    assert(ms(1).payload.sameElements(b))
    assert(ms(2).payload.sameElements(c))
  }

  test("dictionary convention: raw, serialized-by-sniff, and " +
      "zstd-compressed dictionary payloads all decode dict-framed data") {
    val dict = ascii("the shared dictionary content with common phrases " * 8)
    val doc = ascii("the shared dictionary content appears here verbatim")
    val framed = WarcZst.encodeFrame(doc, dict = dict)
    // without the dictionary the frame must not silently decode wrong:
    // libzstd fails the window reference
    intercept[IllegalArgumentException](
      WarcZst.members(framed))
    // raw dictionary payload
    val arch1 = WarcZst.encodeSkippable(dict) ++ framed
    assert(WarcZst.members(arch1).head.payload.sameElements(doc))
    // the dictionary itself zstd-compressed (the CC variant)
    val arch2 = WarcZst.encodeSkippable(WarcZst.encodeFrame(dict)) ++ framed
    assert(WarcZst.members(arch2).head.payload.sameElements(doc))
    // a non-dictionary skippable magic is walked but NOT captured
    val arch3 = WarcZst.encodeSkippable(dict,
      magic = WarcZst.SkippableMagicBase) ++ framed
    intercept[IllegalArgumentException](WarcZst.members(arch3))
  }

  test("declared-dictionary-id frames reject BY NAME with bytes kept " +
      "when the archive carries no dictionary") {
    val body = ascii("raw block body")
    val f = WarcZst.encodeFrameWithDictId(body, dictId = 7)
    val plain = WarcZst.encodeFrame(ascii("plain"))
    val ms = WarcZst.members(f ++ plain)
    assert(ms.length == 2)
    assert(ms(0).err == "zstd-dictionary:7")
    assert(ms(0).payload.sameElements(f), "compressed bytes kept")
    assert(ms(1).err == null &&
      ms(1).payload.sameElements(ascii("plain")))
  }

  test("corruption contract: bad magic, truncated block, flipped " +
      "checksum and reserved descriptor bit all fail by name") {
    val ok = WarcZst.encodeFrame(ascii("x" * 100), checksum = true)
    def expectFail(b: Array[Byte], msg: String): Unit = {
      val e = rejectOf("warc.zst")(WarcZst.members(b))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    expectFail(ascii("GARBAGE!"), "bad frame magic")
    expectFail(ok.dropRight(3), "truncated")
    val flipped = ok.clone()
    flipped(flipped.length - 1) = (flipped.last ^ 0x5A).toByte
    expectFail(flipped, "decompression failed")
    val badFhd = ok.clone()
    badFhd(4) = (badFhd(4) | 0x08).toByte // reserved descriptor bit
    expectFail(badFhd, "reserved frame-descriptor bit")
  }

  test("reference vector: a frame produced by the zstd CLI (v1.5+, " +
      "compressed blocks, content size + checksum) decodes byte-exact") {
    // `printf 'the quick brown fox jumps over the lazy dog. the quick
    //  brown fox jumps over the lazy dog.' | zstd -19 -c | xxd -p`
    // (hex of the emitted frame — an INDEPENDENT encoder, so the walk
    // is validated against real-world framing, not just zstd-jni's;
    // descriptor 0x04 = checksum flag, compressed block with a match)
    val hex =
      "28b52ffd0468ad0100d40274686520717569636b2062726f776e20666f78" +
      "206a756d7073206f76657220746865206c617a7920646f672e2001000d9a" +
      "aa0c26743467"
    val frame = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val ms = WarcZst.members(frame)
    assert(ms.length == 1 && ms.head.err == null)
    val want = "the quick brown fox jumps over the lazy dog. " +
      "the quick brown fox jumps over the lazy dog."
    assert(new String(ms.head.payload, "US-ASCII") == want)
  }
}
