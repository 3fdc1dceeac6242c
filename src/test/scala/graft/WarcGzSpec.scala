package graft

import graft.CodecRejects.rejectOf
import graft.sources.{WarcCodec, WarcGz}

/** [[WarcGz]]: the concatenated-gzip-member walk behind the `.warc.gz`
  * file source — round trips, optional-field framing, the trailer
  * checks, and every named rejection.
  */
class WarcGzSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def ascii(s: String) = s.getBytes("US-ASCII")

  test("multi-member round trip: payloads exact, file order kept") {
    val payloads = Seq(ascii("first record"), ascii(""),
      Array.tabulate(100000)(i => (i * 31 % 251).toByte), ascii("last"))
    val file = WarcGz.encodeMembers(payloads)
    val out = WarcGz.members(file)
    assert(out.length == 4)
    payloads.zip(out).foreach { case (want, got) =>
      assert(java.util.Arrays.equals(want, got))
    }
    assert(WarcGz.members(Array.emptyByteArray).isEmpty,
      "an empty archive has zero members")
  }

  test("encoder-independence: JDK GZIPOutputStream members parse too") {
    def jdk(p: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(p); gz.close()
      bos.toByteArray
    }
    val a = ascii("via the JDK encoder")
    val b = ascii("second member, also JDK")
    val got = WarcGz.members(jdk(a) ++ jdk(b))
    assert(got.length == 2)
    assert(java.util.Arrays.equals(got(0), a))
    assert(java.util.Arrays.equals(got(1), b))
  }

  test("optional header fields: FNAME, FHCRC, FEXTRA all skip by " +
      "their own framing") {
    val p = ascii("payload under optional fields")
    for (m <- Seq(
        WarcGz.encodeMember(p, fname = "seg-00001.warc"),
        WarcGz.encodeMember(p, fhcrc = true),
        WarcGz.encodeMember(p, extra = Array[Byte](1, 2, 3, 4)),
        WarcGz.encodeMember(p, fname = "x", fhcrc = true,
          extra = Array[Byte](9)))) {
      val got = WarcGz.members(m)
      assert(got.length == 1 && java.util.Arrays.equals(got.head, p))
    }
  }

  test("named rejections: magic, method, FLG, truncations, checksums, " +
      "trailing garbage, bomb cap") {
    def reject(b: Array[Byte], needle: String): Unit = {
      val e = rejectOf("warc.gz")(WarcGz.members(b))
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    def flipped(b: Array[Byte], at: Int): Array[Byte] = {
      val c = b.clone(); c(at) = (c(at) ^ 0xFF).toByte; c
    }
    def patched(b: Array[Byte], at: Int, v: Byte): Array[Byte] = {
      val c = b.clone(); c(at) = v; c
    }
    val ok = WarcGz.encodeMember(ascii("fine"))
    reject(ascii("PK not gzip at all"), "bad gzip magic")
    reject(patched(ok, 2, 7), "unsupported compression method")
    reject(patched(ok, 3, 0x80.toByte), "reserved FLG bits")
    reject(ok.take(6), "truncated gzip header")
    reject(ok.dropRight(3), "truncated gzip trailer")
    reject(ok.dropRight(12), "deflate stream")
    reject(flipped(ok, ok.length - 8), "CRC32 mismatch")
    reject(flipped(ok, ok.length - 1), "ISIZE mismatch")
    // corrupt the FHCRC
    val hc = WarcGz.encodeMember(ascii("x"), fhcrc = true)
    reject(flipped(hc, 10), "FHCRC header checksum mismatch")
    // a second member that is garbage = trailing slop, named by offset
    reject(ok ++ ascii("slop after the last member"), "bad gzip magic")
    // unterminated FNAME
    // 10 header bytes + the name byte, cut BEFORE the 0 terminator
    val named = WarcGz.encodeMember(ascii("y"), fname = "n")
    reject(named.take(11), "unterminated FNAME")
  }

  test("the full chain: .warc.gz members feed WarcCodec.parseRecord") {
    val recs = Seq(
      WarcCodec.encodeInfo(ascii("software: graft-crawler\r\n")),
      WarcCodec.encodeResponse("http://a.com/p", 200, "text/html",
        ascii("<html><body>hi</body></html>")),
      ascii("garbage member: not a WARC record"))
    val file = WarcGz.encodeMembers(recs)
    val parsed = WarcGz.members(file).map { m =>
      scala.util.Try(WarcCodec.parseRecord(m)).toOption
    }
    assert(parsed(0).exists(_.warcType == "warcinfo"))
    assert(parsed(1).exists(r => r.warcType == "response" &&
      r.httpStatus == 200 && r.targetUri == "http://a.com/p"))
    assert(parsed(2).isEmpty,
      "garbage INSIDE a member nulls the record, not the file")
  }
}
