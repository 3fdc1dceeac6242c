package graft.sources

import graft.codec.{Inflate, Reject}
import java.util.zip.{CRC32, Deflater}

/** Concatenated-gzip-member splitting — the container framing a real
  * crawl archive arrives in: a `.warc.gz` file (Common Crawl et al.)
  * is ONE file of back-to-back RFC 1952 gzip members, one WARC record
  * per member, so any member boundary is a record boundary and a
  * reader can fan records out without understanding WARC at all. This
  * is the file-source half that [[WarcCodec]]'s header promised
  * ("splitting a multi-record WARC file into records is the file
  * source's job"): walk the members, inflate each through the bounded
  * [[graft.codec.Inflate]] loop (raw deflate + manual framing),
  * verify each member's CRC32 + ISIZE
  * trailer, and hand the inflated bytes to [[WarcCodec.parseRecord]].
  *
  * Reference analog: the DCP feed is the reference's own byte-transport
  * framing in front of record parsing
  * (`Projector/indexjs.go:73-191`) — the container walk before the map
  * function sees a document.
  *
  * Parsing contract ([[members]]) — strict RFC 1952, named failures:
  *  - each member: magic `1f 8b`, CM = 8 (deflate), reserved FLG bits
  *    zero; FEXTRA / FNAME / FCOMMENT skipped by their own framing;
  *    FHCRC verified (low 16 bits of the header's CRC32);
  *  - the deflate stream inflates with `nowrap`; a truncated or
  *    corrupt stream is a named failure, not a short member;
  *  - the 8-byte trailer must match: CRC32 of the inflated bytes and
  *    ISIZE = length mod 2^32;
  *  - members repeat until the buffer is exhausted; trailing garbage
  *    after the last member is a named failure (a real archive ends
  *    on a member boundary — accepting slop would silently drop
  *    records);
  *  - a member inflating past [[maxMemberBytes]] is rejected by name
  *    (a decompression bomb must not take down an executor).
  *
  * Scale shape: parallelism is PER FILE (a gzip member chain is
  * sequential by construction — member N's offset is only known after
  * member N-1 inflates), exactly how a 1000-executor crawl job reads
  * Common Crawl: ~1 GB segment files × ~100k files, one task per
  * file. Within a task the walk is single-pass, zero-copy into the
  * inflater, and emits one row per member.
  */
object WarcGz {

  /** Inflate cap per member: a crawl record is bounded (Common Crawl
    * truncates at 1 MiB; we allow well past that) — a member claiming
    * to inflate beyond this is a decompression bomb, not data.
    */
  val maxMemberBytes: Int = 1 << 30

  private val fail = Reject.malformed("warc.gz")

  private val overCap = s"member inflates past the $maxMemberBytes-byte cap"

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  private def u32le(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) |
      (u8(b, i + 3).toLong << 24)) & 0xFFFFFFFFL

  /** All members of a concatenated-gzip buffer, inflated and
    * trailer-verified, in file order. Empty input yields no members
    * (an empty ARCHIVE is legal; an empty MEMBER — zero inflated
    * bytes — is too).
    */
  def members(bytes: Array[Byte]): IndexedSeq[Array[Byte]] = {
    val (ms, fault) = membersUntilReject(bytes)
    fault.foreach(throw _)
    ms
  }

  /** [[members]] without the throw: the members decoded before the
    * first malformed one, and that member's rejection (None when the
    * whole buffer decoded) — the per-row form a scan expression needs,
    * so one broken archive does not fail a job.
    */
  def membersUntilReject(bytes: Array[Byte])
      : (IndexedSeq[Array[Byte]], Option[Reject]) = {
    val out = IndexedSeq.newBuilder[Array[Byte]]
    var at = 0
    try {
      while (at < bytes.length) {
        val (payload, next) = member(bytes, at)
        out += payload
        at = next
      }
      (out.result(), None)
    } catch { case r: Reject => (out.result(), Some(r)) }
  }

  /** Exactly ONE gzip member consuming the whole buffer — the shape an
    * HTTP `Content-Encoding: gzip` payload takes (RFC 9110 §8.4.1.3 =
    * one RFC 1952 stream, not an archive). Trailing bytes after the
    * member are a named failure: in HTTP they are framing slop, and
    * silently ignoring them would hide a mis-delimited body.
    */
  def single(bytes: Array[Byte]): Array[Byte] = {
    val (payload, next) = member(bytes, 0)
    if (next != bytes.length)
      fail(s"${bytes.length - next} trailing bytes after the gzip member")
    payload
  }

  /** One member starting at `at`: (inflated payload, offset past the
    * trailer).
    */
  private def member(bytes: Array[Byte], at: Int): (Array[Byte], Int) = {
    if (at + 10 > bytes.length) fail("truncated gzip header")
    if (u8(bytes, at) != 0x1F || u8(bytes, at + 1) != 0x8B)
      fail(f"bad gzip magic ${u8(bytes, at)}%02x${u8(bytes, at + 1)}%02x " +
        s"at offset $at")
    if (u8(bytes, at + 2) != 8)
      fail(s"unsupported compression method ${u8(bytes, at + 2)}")
    val flg = u8(bytes, at + 3)
    if ((flg & 0xE0) != 0) fail(s"reserved FLG bits set ($flg)")
    // MTIME (4), XFL, OS carry no framing
    var p = at + 10
    if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + payload
      if (p + 2 > bytes.length) fail("truncated FEXTRA length")
      val xlen = u8(bytes, p) | (u8(bytes, p + 1) << 8)
      p += 2 + xlen
      if (p > bytes.length) fail("truncated FEXTRA field")
    }
    if ((flg & 8) != 0) { // FNAME: zero-terminated
      while (p < bytes.length && bytes(p) != 0) p += 1
      if (p >= bytes.length) fail("unterminated FNAME")
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT: zero-terminated
      while (p < bytes.length && bytes(p) != 0) p += 1
      if (p >= bytes.length) fail("unterminated FCOMMENT")
      p += 1
    }
    if ((flg & 2) != 0) { // FHCRC: low 16 bits of the header's CRC32
      if (p + 2 > bytes.length) fail("truncated FHCRC")
      val want = u8(bytes, p) | (u8(bytes, p + 1) << 8)
      val hc = new CRC32
      hc.update(bytes, at, p - at)
      if ((hc.getValue & 0xFFFF).toInt != want)
        fail("FHCRC header checksum mismatch")
      p += 2
    }
    val z = Inflate("warc.gz", bytes, p, bytes.length, zlib = false,
      maxMemberBytes, overCap)
    if (!z.ended) fail("truncated deflate stream")
    val trailerAt = p + z.consumed
    if (trailerAt + 8 > bytes.length) fail("truncated gzip trailer")
    val crc = new CRC32
    crc.update(z.bytes)
    if (u32le(bytes, trailerAt) != crc.getValue) fail("member CRC32 mismatch")
    if (u32le(bytes, trailerAt + 4) != (z.bytes.length & 0xFFFFFFFFL))
      fail("member ISIZE mismatch")
    (z.bytes, trailerAt + 8)
  }

  /** Fixture encoder — one real gzip member with optional FNAME /
    * FHCRC / FEXTRA so the skip paths are exercised by real framing
    * (tests also write members through the JDK's `GZIPOutputStream`
    * for encoder-independence).
    */
  def encodeMember(payload: Array[Byte], fname: String = null,
                   fhcrc: Boolean = false,
                   extra: Array[Byte] = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var flg = 0
    if (extra != null) flg |= 4
    if (fname != null) flg |= 8
    if (fhcrc) flg |= 2
    out.write(0x1F); out.write(0x8B); out.write(8); out.write(flg)
    out.write(Array[Byte](0, 0, 0, 0)) // MTIME: fixtures are timeless
    out.write(0) // XFL
    out.write(255) // OS: unknown
    if (extra != null) {
      out.write(extra.length & 0xFF); out.write((extra.length >> 8) & 0xFF)
      out.write(extra)
    }
    if (fname != null) {
      out.write(fname.getBytes("ISO-8859-1")); out.write(0)
    }
    if (fhcrc) {
      val hc = new CRC32
      hc.update(out.toByteArray)
      val v = (hc.getValue & 0xFFFF).toInt
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    }
    val def0 = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    try {
      def0.setInput(payload)
      def0.finish()
      val buf = new Array[Byte](64 * 1024)
      while (!def0.finished()) {
        val n = def0.deflate(buf)
        out.write(buf, 0, n)
      }
    } finally def0.end()
    val crc = new CRC32
    crc.update(payload)
    val cv = crc.getValue
    val isize = payload.length.toLong & 0xFFFFFFFFL
    for (v <- Seq(cv, isize); s <- 0 until 4)
      out.write(((v >> (8 * s)) & 0xFF).toInt)
    out.toByteArray
  }

  /** Fixture encoder — a whole `.warc.gz` buffer: one member per
    * record, concatenated (the Common Crawl layout).
    */
  def encodeMembers(payloads: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    payloads.zipWithIndex.foreach { case (p, i) =>
      // rotate the optional-field shapes so fixtures cover the skips
      out.write(encodeMember(p,
        fname = if (i % 3 == 1) s"rec-$i.warc" else null,
        fhcrc = i % 3 == 2))
    }
    out.toByteArray
  }
}
