package graft

import graft.CodecRejects.rejectOf
import graft.sources.{WarcCodec, WarcGz}

/** HTTP payload decoding in [[WarcCodec]] — the wire codings a
  * raw-message crawl writer stores: chunked transfer framing
  * (RFC 9112 §7.1), gzip/deflate content codings (RFC 9110 §8.4.1),
  * the named declines, and every framing rejection.
  */
class WarcHttpSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def ascii(s: String) = s.getBytes("US-ASCII")

  private val html =
    "<html><body>" + ("the quick brown fox " * 20) + "</body></html>"
  private val raw = html.getBytes("UTF-8")

  private def parse(rec: Array[Byte]) = WarcCodec.parseRecord(rec)

  test("chunked de-chunks: rotating sizes, a chunk extension, exact bytes") {
    val r = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html", raw, chunked = true))
    assert(r.codingErr == null)
    assert(java.util.Arrays.equals(r.body, raw))
  }

  test("chunked trailer section is framing, not body") {
    val r = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html", raw, chunked = true,
      trailer = true))
    assert(r.codingErr == null)
    assert(java.util.Arrays.equals(r.body, raw))
  }

  test("Content-Encoding gzip: one RFC 1952 member, verified") {
    val r = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html",
      WarcGz.encodeMember(raw), chunked = false, contentEncoding = "gzip"))
    assert(r.codingErr == null)
    assert(java.util.Arrays.equals(r.body, raw))
  }

  test("gzip via the JDK encoder too (encoder-independence); x-gzip alias") {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(raw); gz.close()
    for (label <- Seq("gzip", "x-gzip", "GZIP")) {
      val r = parse(WarcCodec.encodeResponseEncoded(
        "http://a.com/p", 200, "text/html",
        out.toByteArray, chunked = false, contentEncoding = label))
      assert(r.codingErr == null, label)
      assert(java.util.Arrays.equals(r.body, raw), label)
    }
  }

  test("chunked + gzip composes (the real-world double)") {
    val r = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html",
      WarcGz.encodeMember(raw), chunked = true, contentEncoding = "gzip"))
    assert(r.codingErr == null)
    assert(java.util.Arrays.equals(r.body, raw))
  }

  test("deflate: zlib-wrapped per spec AND the bare-stream server bug " +
      "(browser sniff)") {
    for (wrapped <- Seq(true, false)) {
      val r = parse(WarcCodec.encodeResponseEncoded(
        "http://a.com/p", 200, "text/html",
        WarcCodec.encodeDeflate(raw, wrapped), chunked = false,
        contentEncoding = "deflate"))
      assert(r.codingErr == null, s"wrapped=$wrapped")
      assert(java.util.Arrays.equals(r.body, raw), s"wrapped=$wrapped")
    }
  }

  test("content-coding list applies right-to-left; identity is a no-op") {
    val r = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html",
      WarcGz.encodeMember(raw), chunked = false,
      contentEncoding = "identity, gzip"))
    assert(r.codingErr == null)
    assert(java.util.Arrays.equals(r.body, raw))
  }

  test("br decodes IN PLACE; only a static-dictionary stream declines " +
      "BY NAME with the bytes untouched") {
    val r = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html",
      graft.sources.Brotli.encodeStored(raw, chunk = 5), chunked = false,
      contentEncoding = "br"))
    assert(r.codingErr == null)
    assert(java.util.Arrays.equals(r.body, raw))
    // a real-encoder stream whose first backward reference is a
    // static dictionary word (libbrotlienc 1.2.0, q5)
    val dict = java.util.Base64.getDecoder.decode(
      "GyMAAAQch9e7++6LiJSDzLJMHpbn6UG1PiYD")
    val rd = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html", dict, chunked = false,
      contentEncoding = "br"))
    assert(rd.codingErr == "content-coding:br-dictionary")
    assert(java.util.Arrays.equals(rd.body, dict))
    // malformed br is a broken record (the gzip contract), not a
    // passthrough
    intercept[Exception](parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html",
      ascii("BR:not-actually-brotli"), chunked = false,
      contentEncoding = "br")))
  }

  test("an undecoded transfer coding declines by name BEFORE touching " +
      "content codings") {
    val r = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html", raw, chunked = false,
      contentEncoding = "gzip", transferEncoding = "gzip, chunked"))
    assert(r.codingErr == "transfer-coding:gzip")
    assert(java.util.Arrays.equals(r.body, raw))
  }

  test("Transfer-Encoding value folds case") {
    val body = WarcCodec.encodeChunked(raw)
    val http = ascii("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Transfer-Encoding: Chunked\r\n\r\n") ++ body
    val rec = ascii("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://a.com/p\r\n" +
      "Content-Type: application/http\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n") ++ http
    val r2 = parse(rec)
    assert(r2.codingErr == null)
    assert(java.util.Arrays.equals(r2.body, raw))
  }

  test("Transfer-Encoding + Content-Length together is the smuggling " +
      "shape: reject") {
    val body = WarcCodec.encodeChunked(raw)
    val http = ascii("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Transfer-Encoding: chunked\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n") ++ body
    val rec = ascii("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://a.com/p\r\n" +
      "Content-Type: application/http\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n") ++ http
    val e = rejectOf("warc")(parse(rec))
    assert(e.getMessage.contains("Transfer-Encoding and Content-Length"))
  }

  private def chunkedRec(chunkBody: Array[Byte]): Array[Byte] = {
    val http = ascii("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n") ++ chunkBody
    ascii("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://a.com/p\r\n" +
      "Content-Type: application/http\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n") ++ http
  }

  test("chunked framing rejections are named") {
    val cases = Seq(
      ("bad chunk size", ascii("zz\r\nhi\r\n0\r\n\r\n")),
      ("chunk data truncated", ascii("ff\r\nshort\r\n")),
      ("missing CRLF after chunk data", ascii("2\r\nhiXX0\r\n\r\n")),
      ("bytes after the last chunk", ascii("2\r\nhi\r\n0\r\n\r\nslop")),
      ("unterminated chunk-size line", ascii("2")),
      ("unterminated trailer section", ascii("2\r\nhi\r\n0\r\nX: y\r\n")),
      ("chunk size overflows", ascii("fffffffff\r\n")))
    for ((want, body) <- cases) {
      val e = rejectOf("warc")(parse(chunkedRec(body)))
      assert(e.getMessage.contains(want.split(" ").last) ||
        e.getMessage.toLowerCase.contains(want), s"$want: ${e.getMessage}")
    }
  }

  test("gzip content coding with trailing bytes rejects (mis-delimited " +
      "body must not pass)") {
    val e = rejectOf("warc.gz")(parse(
      WarcCodec.encodeResponseEncoded("http://a.com/p", 200, "text/html",
        WarcGz.encodeMember(raw) ++ ascii("junk"), chunked = false,
        contentEncoding = "gzip")))
    assert(e.getMessage.contains("trailing bytes"))
  }

  test("corrupt deflate stream rejects by name") {
    val e = rejectOf("warc")(parse(
      WarcCodec.encodeResponseEncoded("http://a.com/p", 200, "text/html",
        Array[Byte](0x78, 0x9C.toByte, 1, 2, 3), chunked = false,
        contentEncoding = "deflate")))
    assert(e.getMessage.toLowerCase.contains("deflate"))
  }

  test("conversion records (the WET derivative) round-trip through " +
      "the same parser as the crawl container") {
    val text = "extracted page text\nwith a second line".getBytes("UTF-8")
    val r = parse(WarcCodec.encodeConversion("http://a.com/p", text))
    assert(r.warcType == "conversion" && r.targetUri == "http://a.com/p")
    assert(r.httpStatus == null && r.contentType == null)
    assert(java.util.Arrays.equals(r.body, text))
  }

  test("empty payload survives every supported coding") {
    val empty = Array.emptyByteArray
    val chunkedR = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html", empty, chunked = true))
    assert(chunkedR.body.length == 0 && chunkedR.codingErr == null)
    val gzR = parse(WarcCodec.encodeResponseEncoded(
      "http://a.com/p", 200, "text/html", WarcGz.encodeMember(empty),
      chunked = false, contentEncoding = "gzip"))
    assert(gzR.body.length == 0 && gzR.codingErr == null)
  }
}
