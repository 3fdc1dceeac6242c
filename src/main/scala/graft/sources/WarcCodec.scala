package graft.sources

import graft.codec.{Inflate, Reject}

/** WARC (ISO 28500 / WARC/1.x) record parsing — the container a web
  * crawl actually arrives in (Common Crawl et al.): a record is a
  * version line, CRLF-terminated named headers, an empty line, then a
  * `Content-Length`-delimited content block; `response` records carry
  * an HTTP/1.x message (status line + headers + body) as that block.
  * One record per row is the operator unit here — splitting a
  * multi-record (usually per-record-gzipped) WARC file into records is
  * the file source's job, exactly like parquet row groups.
  *
  * Parsing contract ([[parseRecord]]):
  *  - version line `WARC/0.18|1.0|1.1`; header names case-insensitive,
  *    values trimmed; `Content-Length` REQUIRED and must fit the
  *    payload (a truncated block is a broken record, not a short one);
  *  - obs-fold (continuation lines) is rejected, not guessed;
  *  - `response` records whose `Content-Type` is
  *    `application/http` parse the HTTP message too: status code from
  *    the status line, `Content-Type` from the HTTP headers, body =
  *    the bytes after the header terminator (trusting the HTTP
  *    `Content-Length` when present and consistent, else the rest of
  *    the block);
  *  - the HTTP PAYLOAD is then decoded to its representation bytes —
  *    the step a crawl writer that stores the raw wire message (wget,
  *    early Heritrix) forces on every reader, and skipping it leaves
  *    each such page dark data:
  *      * `Transfer-Encoding: chunked` is de-chunked per RFC 9112
  *        §7.1 (hex chunk sizes, chunk extensions skipped by framing,
  *        a trailer section after the last chunk); any OTHER transfer
  *        coding is a named `coding_err` (`transfer-coding:<name>`) —
  *        well-formed HTTP we decline to decode, not a broken record;
  *      * a message carrying BOTH `Transfer-Encoding` and
  *        `Content-Length` is rejected as malformed — the
  *        request-smuggling ambiguity RFC 9112 §6.3 names; picking a
  *        side silently is exactly the bug the duplicate-header
  *        rejection below exists to avoid;
  *      * `Content-Encoding` is then applied right-to-left over the
  *        comma list: `gzip`/`x-gzip` = exactly one RFC 1952 member
  *        ([[WarcGz.single]], CRC32 + ISIZE verified, trailing bytes
  *        rejected); `deflate` = RFC 1950 zlib, with the widely
  *        deployed raw-deflate server bug tolerated via the 2-byte
  *        zlib-header sniff every browser ships; `identity` = no-op;
  *        `br` = RFC 7932 in place ([[Brotli]] — static-dictionary
  *        references stop with `content-coding:br-dictionary` and
  *        keep the bytes); anything else (`zstd`, `compress`, …)
  *        stops with a named `coding_err` (`content-coding:<name>`)
  *        and keeps the still-encoded bytes — honest rejection, not
  *        a null row;
  *  - other record types (`warcinfo`, `request`, `metadata`, …) keep
  *    their raw block as the body with no HTTP facts.
  * Malformed input throws a `warc` [[graft.codec.Reject]] — the
  * extraction layer nulls the row, the codec-family contract.
  */
object WarcCodec {

  /** `recordId`/`warcDate` surface for every type; the three
    * revisit-channel headers (`refersTo` = WARC-Refers-To record id,
    * `refersToUri` = WARC-Refers-To-Target-URI, `payloadDigest` =
    * WARC-Payload-Digest) carry the ISO 28500 §6.7.2 dedup facts: a
    * `revisit` record is a crawler's "this capture equals that one"
    * observation (identical-payload-digest profile), ~10-15% of a
    * real Common Crawl segment — dropping them silently loses both
    * the alias edge and the content-unchanged recrawl signal.
    */
  final case class WarcRecord(warcType: String,
                              targetUri: String,
                              httpStatus: Integer,
                              contentType: String,
                              location: String,
                              body: Array[Byte],
                              codingErr: String = null,
                              recordId: String = null,
                              warcDate: String = null,
                              refersTo: String = null,
                              refersToUri: String = null,
                              payloadDigest: String = null)

  private val Crlf = "\r\n".getBytes("US-ASCII")

  private val fail = Reject.malformed("warc")

  /** A decimal header value that fits an Int; anything else rejects
    * as `what`.
    */
  private def decimal(v: String, what: String): Int =
    (if (v.forall(c => c >= '0' && c <= '9')) v.toIntOption else None)
      .getOrElse(fail(s"$what '$v'"))

  /** Index of the next CRLF at/after `from`, or -1. */
  private def crlfAt(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Parse CRLF-terminated `Name: value` headers starting at `from`
    * until the empty line; returns (lowercased name → trimmed value,
    * offset past the empty line).
    */
  private def parseHeaders(b: Array[Byte], from: Int)
      : (Map[String, String], Int) = {
    var at = from
    val out = Map.newBuilder[String, String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    while (true) {
      val eol = crlfAt(b, at)
      if (eol < 0) fail("unterminated header block")
      if (eol == at) return (out.result(), at + 2) // empty line
      val line = new String(b, at, eol - at, "ISO-8859-1")
      if (line.charAt(0) == ' ' || line.charAt(0) == '\t')
        fail("obs-fold header continuation unsupported")
      val colon = line.indexOf(':')
      if (colon <= 0) fail(s"malformed header line '$line'")
      val name = line.substring(0, colon).toLowerCase.trim
      // a duplicated framing header is a smuggling-shaped ambiguity —
      // silently keeping either occurrence picks a side; reject instead
      // (headers that legally repeat, e.g. WARC-Concurrent-To, are not
      // framing-critical and keep last-wins)
      if ((name == "content-length" || name == "content-type") &&
          !seen.add(name))
        fail(s"duplicate $name header")
      out += (name -> line.substring(colon + 1).trim)
      at = eol + 2
    }
    sys.error("unreachable")
  }

  /** WARC record ids are written `<urn:uuid:...>` (RFC 3986 in angle
    * brackets); surface the bare urn so id/refers-to equality is a
    * plain string join.
    */
  private def unbracket(v: String): String =
    if (v != null && v.length >= 2 && v.charAt(0) == '<' &&
        v.charAt(v.length - 1) == '>')
      v.substring(1, v.length - 1)
    else v

  def parseRecord(bytes: Array[Byte]): WarcRecord = {
    val verEnd = crlfAt(bytes, 0)
    if (verEnd < 0) fail("missing version line")
    val version = new String(bytes, 0, verEnd, "US-ASCII")
    if (version != "WARC/1.0" && version != "WARC/1.1" &&
        version != "WARC/0.18")
      fail(s"unsupported version '$version'")
    val (headers, blockAt) = parseHeaders(bytes, verEnd + 2)
    val warcType = headers.getOrElse("warc-type", fail("missing WARC-Type"))
    val lenStr = headers.getOrElse("content-length",
      fail("missing Content-Length"))
    val len = decimal(lenStr, "bad Content-Length")
    if (blockAt.toLong + len > bytes.length) fail("content block truncated")
    val block = java.util.Arrays.copyOfRange(bytes, blockAt, blockAt + len)
    val uri = headers.getOrElse("warc-target-uri", null)
    val recCt = headers.getOrElse("content-type", "")
    // MIME types are case-insensitive (RFC 2045) — header NAMES are
    // lowercased by parseHeaders but VALUES arrive verbatim, and a
    // case-sensitive check would silently skip the HTTP parse and
    // leak raw headers into the body
    if (warcType == "response" && recCt.toLowerCase(java.util.Locale.ROOT)
        .startsWith("application/http")) {
      // the block is an HTTP/1.x response message
      val stEnd = crlfAt(block, 0)
      if (stEnd < 0) fail("http: missing status line")
      val status = new String(block, 0, stEnd, "ISO-8859-1")
      val parts = status.split(" ", 3)
      if (parts.length < 2 || !parts(0).startsWith("HTTP/"))
        fail(s"http: bad status line '$status'")
      val code = decimal(parts(1), "http: bad status code")
      val (httpHeaders, bodyAt) = parseHeaders(block, stEnd + 2)
      val body0 = java.util.Arrays.copyOfRange(block, bodyAt, block.length)
      val te = httpHeaders.get("transfer-encoding")
      if (te.isDefined && httpHeaders.contains("content-length"))
        fail("http: both Transfer-Encoding and Content-Length " +
          "(smuggling-shaped framing ambiguity)")
      val delimited = httpHeaders.get("content-length") match {
        case Some(cl) if cl.forall(c => c >= '0' && c <= '9') =>
          val n = decimal(cl, "http: bad Content-Length")
          if (n > body0.length) fail("http: body truncated")
          java.util.Arrays.copyOfRange(body0, 0, n)
        case _ => body0
      }
      val (body, codingErr) = decodePayload(te,
        httpHeaders.get("content-encoding"), delimited)
      WarcRecord(warcType, uri, code,
        httpHeaders.getOrElse("content-type", null),
        // the redirect-discovery channel's input: 3xx responses name
        // their successor here (RFC 9110 §10.2.2; may be RELATIVE —
        // resolution against the target URI is the caller's step)
        httpHeaders.getOrElse("location", null), body, codingErr,
        recordId = unbracket(headers.getOrElse("warc-record-id", null)),
        warcDate = headers.getOrElse("warc-date", null),
        refersTo = unbracket(headers.getOrElse("warc-refers-to", null)),
        refersToUri = headers.getOrElse("warc-refers-to-target-uri", null),
        payloadDigest = headers.getOrElse("warc-payload-digest", null))
    } else WarcRecord(warcType, uri, null, null, null, block,
      recordId = unbracket(headers.getOrElse("warc-record-id", null)),
      warcDate = headers.getOrElse("warc-date", null),
      refersTo = unbracket(headers.getOrElse("warc-refers-to", null)),
      refersToUri = headers.getOrElse("warc-refers-to-target-uri", null),
      payloadDigest = headers.getOrElse("warc-payload-digest", null))
  }

  /** HTTP payload → representation bytes: de-chunk the transfer
    * coding, then undo the content codings right-to-left (RFC 9110
    * §8.4: listed in the order applied, so decoding walks the list
    * backwards). Returns (bytes, codingErr) — codingErr is the FIRST
    * coding we decline to decode, with the bytes left exactly as they
    * stood at that point (still-encoded, honestly labeled).
    */
  private def decodePayload(te: Option[String], ce: Option[String],
                            delimited: Array[Byte])
      : (Array[Byte], String) = {
    val codings = te.toSeq.flatMap(_.split(',')).map(_.trim.toLowerCase)
      .filter(_.nonEmpty)
    val afterTe = codings match {
      case Seq() => delimited
      case Seq("chunked") => dechunk(delimited)
      case other =>
        // well-formed HTTP carrying a transfer coding we don't decode
        // (`gzip, chunked`, …) — name it and stop before touching CE
        val bad = other.find(_ != "chunked").getOrElse("chunked")
        return (delimited, s"transfer-coding:$bad")
    }
    var body = afterTe
    var err: String = null
    val ces = ce.toIndexedSeq.flatMap(_.split(','))
      .map(_.trim.toLowerCase).filter(_.nonEmpty)
    var i = ces.length - 1
    while (i >= 0 && err == null) {
      ces(i) match {
        case "identity" => ()
        case "gzip" | "x-gzip" => body = WarcGz.single(body)
        case "deflate" => body = inflateHttpDeflate(body)
        case "br" =>
          // RFC 7932 in place ([[Brotli]]); a static-dictionary
          // reference is the one genuinely-out-of-reach case (the
          // 122 KB appendix is a blob, not code) — named dark data
          // with the bytes kept, the zstd-dictionary shape
          try body = Brotli.decode(body)
          catch {
            case e: Reject if e.codec == "brotli" &&
                e.kind == "dictionary" =>
              err = "content-coding:br-dictionary"
          }
        case other => err = s"content-coding:$other"
      }
      i -= 1
    }
    (body, err)
  }

  /** RFC 9112 §7.1 chunked framing: `hex-size[;ext] CRLF data CRLF`
    * repeated, a zero-size last chunk, then an (often empty) trailer
    * section of header lines ending at an empty line. Strict framing —
    * a mis-framed chunk is a broken record, not a short one.
    */
  private def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var at = 0
    while (true) {
      val eol = crlfAt(b, at)
      if (eol < 0) fail("chunked: unterminated chunk-size line")
      val line = new String(b, at, eol - at, "US-ASCII")
      val semi = line.indexOf(';') // chunk extensions carry no framing
      val sizeStr = (if (semi >= 0) line.substring(0, semi) else line).trim
      if (sizeStr.isEmpty ||
          !sizeStr.forall(c => Character.digit(c, 16) >= 0))
        fail(s"chunked: bad chunk size '$sizeStr'")
      if (sizeStr.length > 8) fail("chunked: chunk size overflows")
      val size = java.lang.Integer.parseInt(sizeStr, 16)
      at = eol + 2
      if (size == 0) {
        // trailer section: zero or more header lines, then CRLF
        while (true) {
          val teol = crlfAt(b, at)
          if (teol < 0) fail("chunked: unterminated trailer section")
          if (teol == at) {
            if (at + 2 != b.length)
              fail(s"chunked: ${b.length - at - 2} bytes after the " +
                "last chunk")
            return out.toByteArray
          }
          at = teol + 2
        }
      }
      if (out.size().toLong + size > WarcGz.maxMemberBytes)
        fail(s"chunked: payload inflates past the " +
          s"${WarcGz.maxMemberBytes}-byte cap")
      if (at + size + 2 > b.length) fail("chunked: chunk data truncated")
      out.write(b, at, size)
      if (b(at + size) != '\r' || b(at + size + 1) != '\n')
        fail("chunked: missing CRLF after chunk data")
      at = at + size + 2
    }
    sys.error("unreachable")
  }

  /** `Content-Encoding: deflate` — RFC 1950 zlib per spec, but the
    * raw-deflate server bug (IIS et al. sending the bare stream) is so
    * widely deployed that every browser sniffs the 2-byte zlib header
    * and falls back; we do the same, documented: CMF.CM == 8,
    * CINFO <= 7, and the FCHECK makes CMF<<8|FLG divisible by 31.
    */
  private def inflateHttpDeflate(b: Array[Byte]): Array[Byte] = {
    val zlibWrapped = b.length >= 2 && (b(0) & 0x0F) == 8 &&
      ((b(0) & 0xF0) >>> 4) <= 7 &&
      (((b(0) & 0xFF) << 8) | (b(1) & 0xFF)) % 31 == 0
    val z = Inflate("warc", b, 0, b.length, zlibWrapped,
      WarcGz.maxMemberBytes,
      s"deflate: payload inflates past the ${WarcGz.maxMemberBytes}-byte cap")
    if (!z.ended) fail("deflate: truncated stream")
    z.bytes
  }

  /** Fixture encoder — chunk a payload per RFC 9112 §7.1: rotating
    * chunk sizes, a chunk extension on the second chunk (framing-only,
    * must be skipped), and an optional trailer header line.
    */
  def encodeChunked(payload: Array[Byte],
                    trailer: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var at = 0
    var i = 0
    while (at < payload.length) {
      val size = math.min(payload.length - at, 7 + 13 * (i % 3))
      val ext = if (i == 1) ";graft=fixture" else ""
      out.write((Integer.toHexString(size) + ext + "\r\n")
        .getBytes("US-ASCII"))
      out.write(payload, at, size)
      out.write(Crlf)
      at += size
      i += 1
    }
    out.write("0\r\n".getBytes("US-ASCII"))
    if (trailer) out.write("X-Crawl-Trailer: graft\r\n".getBytes("US-ASCII"))
    out.write(Crlf)
    out.toByteArray
  }

  /** Fixture encoder — RFC 1950 zlib (`wrapped = true`) or the bare
    * deflate stream the buggy servers send (`wrapped = false`).
    */
  def encodeDeflate(payload: Array[Byte], wrapped: Boolean): Array[Byte] = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, !wrapped)
    try {
      d.setInput(payload)
      d.finish()
      val buf = new Array[Byte](64 * 1024)
      val out = new java.io.ByteArrayOutputStream()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Fixture encoder — a response whose HTTP payload carries transfer
    * / content codings: `contentEncoding` is the header value verbatim
    * (comma list allowed), `encoded` the already-coded payload bytes;
    * `chunked` frames THOSE bytes as the transfer coding (no
    * Content-Length — the smuggling rejection above is load-bearing).
    */
  def encodeResponseEncoded(uri: String, status: Int, contentType: String,
                            encoded: Array[Byte], chunked: Boolean,
                            contentEncoding: String = null,
                            transferEncoding: String = null,
                            trailer: Boolean = false)
      : Array[Byte] = {
    val http = new java.io.ByteArrayOutputStream()
    val ce = if (contentEncoding == null) ""
      else s"Content-Encoding: $contentEncoding\r\n"
    val framing =
      if (transferEncoding != null) s"Transfer-Encoding: $transferEncoding\r\n"
      else if (chunked) "Transfer-Encoding: chunked\r\n"
      else s"Content-Length: ${encoded.length}\r\n"
    http.write((s"HTTP/1.1 $status OK\r\n" +
      s"Content-Type: $contentType\r\n" + ce + framing + "\r\n")
      .getBytes("US-ASCII"))
    http.write(if (chunked) encodeChunked(encoded, trailer) else encoded)
    val block = http.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write((s"WARC/1.0\r\n" +
      s"WARC-Type: response\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes("US-ASCII"))
    out.write(block)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  /** Fixture encoder — a real single WARC record, response or plain;
    * `location` adds the HTTP Location header (redirect fixtures).
    */
  def encodeResponse(uri: String, status: Int, contentType: String,
                     body: Array[Byte],
                     date: String = "2026-01-01T00:00:00Z",
                     location: String = null,
                     recordId: String = null): Array[Byte] = {
    val http = new java.io.ByteArrayOutputStream()
    val loc = if (location == null) "" else s"Location: $location\r\n"
    http.write((s"HTTP/1.1 $status OK\r\n" +
      s"Content-Type: $contentType\r\n" + loc +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII"))
    http.write(body)
    val block = http.toByteArray
    val rid = if (recordId == null) ""
      else s"WARC-Record-ID: <$recordId>\r\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write((s"WARC/1.0\r\n" +
      s"WARC-Type: response\r\n" + rid +
      s"WARC-Target-URI: $uri\r\n" +
      s"WARC-Date: $date\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes("US-ASCII"))
    out.write(block)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  /** Fixture encoder — a WARC `revisit` record (ISO 28500 §6.7.2,
    * identical-payload-digest profile): the crawler refetched `uri`
    * at `date`, found the payload byte-identical to the capture named
    * by `refersTo`/`refersToUri`, and recorded the observation
    * WITHOUT the body — the block is the HTTP response headers only,
    * which is exactly what Common Crawl's revisit records carry. The
    * dedup facts ride the WARC headers: the referent record id, its
    * target URI, and the payload digest.
    */
  def encodeRevisit(uri: String, refersTo: String, refersToUri: String,
                    payloadDigest: String,
                    date: String = "2026-01-01T00:00:00Z")
      : Array[Byte] = {
    val block = ("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html\r\n\r\n").getBytes("US-ASCII")
    val out = new java.io.ByteArrayOutputStream()
    out.write((s"WARC/1.0\r\n" +
      "WARC-Type: revisit\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"WARC-Date: $date\r\n" +
      "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/" +
      "identical-payload-digest\r\n" +
      s"WARC-Refers-To: <$refersTo>\r\n" +
      s"WARC-Refers-To-Target-URI: $refersToUri\r\n" +
      s"WARC-Payload-Digest: $payloadDigest\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes("US-ASCII"))
    out.write(block)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  /** PRODUCTION record writer — a WARC `conversion` record (ISO 28500
    * §6.8), the WET derivative shape: extracted text re-framed as a
    * first-class WARC record so downstream consumers read the text
    * corpus through the same container walk as the crawl itself
    * (Common Crawl's `.warc.wet.gz` layout).
    */
  def encodeConversion(uri: String, text: Array[Byte],
                       date: String = "2026-01-01T00:00:00Z")
      : Array[Byte] =
    encodeDerived("conversion", "text/plain", uri, text, date)

  /** PRODUCTION record writer — a WARC `metadata` record with a JSON
    * body (ISO 28500 §6.9; the WAT derivative shape: per-response
    * envelope facts as a relational-friendly sidecar corpus).
    */
  def encodeMetadata(uri: String, json: Array[Byte],
                     date: String = "2026-01-01T00:00:00Z")
      : Array[Byte] =
    encodeDerived("metadata", "application/json", uri, json, date)

  private def encodeDerived(warcType: String, contentType: String,
                            uri: String, body: Array[Byte],
                            date: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write((s"WARC/1.0\r\n" +
      s"WARC-Type: $warcType\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"WARC-Date: $date\r\n" +
      s"Content-Type: $contentType\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII"))
    out.write(body)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  def encodeInfo(body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(("WARC/1.0\r\n" +
      "WARC-Type: warcinfo\r\n" +
      "Content-Type: application/warc-fields\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII"))
    out.write(body)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }
}
