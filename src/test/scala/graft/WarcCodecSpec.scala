package graft

import graft.CodecRejects.rejectOf
import graft.sources.WarcCodec

/** [[WarcCodec]] beyond the planted oracle: header case folding,
  * length discipline, the HTTP sub-parse, and every named rejection.
  */
class WarcCodecSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def ascii(s: String) = s.getBytes("US-ASCII")

  test("response round trip: facts and body bytes exact") {
    val body = ascii("<html><body>hi</body></html>")
    val r = WarcCodec.parseRecord(WarcCodec.encodeResponse(
      "http://a.com/p", 200, "text/html", body))
    assert(r.warcType == "response" && r.targetUri == "http://a.com/p")
    assert(r.httpStatus == 200 && r.contentType == "text/html")
    assert(java.util.Arrays.equals(r.body, body))
  }

  test("3xx Location surfaces (case-folded name, verbatim value, " +
    "relative kept relative); absent on plain 200s") {
    val r = WarcCodec.parseRecord(WarcCodec.encodeResponse(
      "http://a.com/old", 301, "text/html", ascii(""),
      location = "hop1?x=2"))
    assert(r.httpStatus == 301 && r.location == "hop1?x=2")
    val r200 = WarcCodec.parseRecord(WarcCodec.encodeResponse(
      "http://a.com/p", 200, "text/html", ascii("x")))
    assert(r200.location == null)
  }

  test("header names fold case; values trim; WARC/1.1 accepted") {
    val body = ascii("X")
    val http = s"HTTP/1.1 301 Moved\r\ncontent-TYPE:  text/x  \r\n\r\nX"
    val rec = ascii("WARC/1.1\r\n" +
      "warc-type:   response\r\n" +
      "WARC-TARGET-URI: http://b.com\r\n" +
      "content-type: application/http\r\n" +
      s"CONTENT-length: ${http.length}\r\n\r\n") ++ ascii(http)
    val r = WarcCodec.parseRecord(rec)
    assert(r.warcType == "response" && r.targetUri == "http://b.com")
    assert(r.httpStatus == 301 && r.contentType == "text/x")
    assert(new String(r.body, "US-ASCII") == "X")
  }

  test("the application/http record Content-Type matches " +
      "case-insensitively (MIME types, RFC 2045)") {
    val body = ascii("Y")
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nY"
    val rec = ascii("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Target-URI: http://c.com\r\n" +
      "Content-Type: Application/HTTP; msgtype=response\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n") ++ ascii(http)
    val r = WarcCodec.parseRecord(rec)
    assert(r.httpStatus == 200 && r.contentType == "text/plain",
      "a cased MIME value must still take the HTTP parse branch")
    assert(new String(r.body, "US-ASCII") == "Y")
  }

  test("HTTP Content-Length bounds the body; absent length keeps the " +
      "whole remainder") {
    val http = "HTTP/1.1 200 OK\r\nContent-Length: 3\r\n\r\nABCDEF"
    val rec = ascii("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Type: application/http\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n$http")
    assert(new String(WarcCodec.parseRecord(rec).body) == "ABC")
    val http2 = "HTTP/1.1 200 OK\r\n\r\nABCDEF"
    val rec2 = ascii("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Type: application/http\r\n" +
      s"Content-Length: ${http2.length}\r\n\r\n$http2")
    assert(new String(WarcCodec.parseRecord(rec2).body) == "ABCDEF")
  }

  test("non-response and non-http records keep the raw block, no " +
      "HTTP facts") {
    val r = WarcCodec.parseRecord(WarcCodec.encodeInfo(ascii("k: v\r\n")))
    assert(r.warcType == "warcinfo" && r.targetUri == null &&
      r.httpStatus == null && r.contentType == null)
    assert(new String(r.body) == "k: v\r\n")
    val req = ascii("WARC/1.0\r\nWARC-Type: request\r\n" +
      "WARC-Target-URI: http://c.com\r\nContent-Length: 2\r\n\r\nGE")
    val r2 = WarcCodec.parseRecord(req)
    assert(r2.warcType == "request" && r2.targetUri == "http://c.com" &&
      r2.httpStatus == null && new String(r2.body) == "GE")
  }

  test("named rejections: version, truncation, obs-fold, lengths, " +
      "status line") {
    def reject(b: Array[Byte], needle: String): Unit = {
      val e = rejectOf("warc")(WarcCodec.parseRecord(b))
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    reject(ascii("WARC/2.0\r\nWARC-Type: x\r\nContent-Length: 0\r\n\r\n"),
      "unsupported version")
    reject(ascii("just text"), "missing version")
    reject(ascii("WARC/1.0\r\nWARC-Type: x\r\n\r\n"),
      "missing Content-Length")
    reject(ascii("WARC/1.0\r\nWARC-Type: x\r\nContent-Length: 99\r\n\r\nAB"),
      "truncated")
    reject(ascii("WARC/1.0\r\nWARC-Type: x\r\n folded\r\n" +
      "Content-Length: 0\r\n\r\n"), "obs-fold")
    reject(ascii("WARC/1.0\r\nContent-Length: 0\r\n\r\n"),
      "missing WARC-Type")
    val badHttp = "NOPE 200\r\n\r\n"
    reject(ascii("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Type: application/http\r\n" +
      s"Content-Length: ${badHttp.length}\r\n\r\n$badHttp"),
      "bad status line")
    // duplicated FRAMING headers are a smuggling-shaped ambiguity —
    // last-wins would silently pick a side; reject by name instead
    reject(ascii("WARC/1.0\r\nWARC-Type: x\r\nContent-Length: 2\r\n" +
      "Content-Length: 0\r\n\r\nAB"), "duplicate content-length")
    reject(ascii("WARC/1.0\r\nWARC-Type: x\r\nContent-Type: a/b\r\n" +
      "Content-Type: c/d\r\nContent-Length: 0\r\n\r\n"),
      "duplicate content-type")
    val dupHttp = "HTTP/1.1 200 OK\r\nContent-Length: 1\r\n" +
      "Content-Length: 9\r\n\r\nX"
    reject(ascii("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Type: application/http\r\n" +
      s"Content-Length: ${dupHttp.length}\r\n\r\n$dupHttp"),
      "duplicate content-length")
    // a header that legally repeats (WARC-Concurrent-To) keeps parsing
    val okDup = WarcCodec.parseRecord(ascii(
      "WARC/1.0\r\nWARC-Type: x\r\nWARC-Concurrent-To: <a>\r\n" +
        "WARC-Concurrent-To: <b>\r\nContent-Length: 0\r\n\r\n"))
    assert(okDup.warcType == "x")
  }

  test("revisit records: refers-to/uri/digest surface, record ids " +
      "unbracket, the date rides every type") {
    val orig = WarcCodec.parseRecord(WarcCodec.encodeResponse(
      "http://a.com/p", 200, "text/html", ascii("body"),
      date = "2025-01-01T00:00:00Z", recordId = "urn:uuid:r-0"))
    assert(orig.warcType == "response" && orig.recordId == "urn:uuid:r-0")
    assert(orig.warcDate == "2025-01-01T00:00:00Z")
    assert(orig.refersTo == null && orig.payloadDigest == null)
    val rev = WarcCodec.parseRecord(WarcCodec.encodeRevisit(
      "http://a.com/p", refersTo = "urn:uuid:r-0",
      refersToUri = "http://a.com/p", payloadDigest = "md5:abc123",
      date = "2025-01-01T01:00:00Z"))
    assert(rev.warcType == "revisit")
    assert(rev.refersTo == "urn:uuid:r-0", "angle brackets stripped")
    assert(rev.refersToUri == "http://a.com/p")
    assert(rev.payloadDigest == "md5:abc123")
    assert(rev.warcDate == "2025-01-01T01:00:00Z")
    // revisit is NOT an HTTP-parsed response: no status, raw block
    assert(rev.httpStatus == null)
  }
}
