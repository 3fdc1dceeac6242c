package graft

import graft.CodecRejects.within
import graft.codec.Reject
import graft.operators.{PdfCodec, PixelCodec, TiffCodec}
import graft.sources.WarcCodec
import java.util.zip.{CRC32, Deflater}
import org.scalatest.funsuite.AnyFunSuite

/** A zlib stream whose header sets FDICT (RFC 1950 preset dictionary)
  * makes the JVM `Inflater` return 0 bytes with `needsDictionary()`
  * true and `needsInput()` false — forever, for a loop that only
  * watches for input starvation. None of these formats ever supplies
  * a dictionary, so each decoder must reject such a stream as
  * `malformed`, promptly. Each decode runs on a daemon thread: a
  * decoder that spins fails its test after 10 s instead of hanging the
  * suite.
  */
class PresetDictionarySpec extends AnyFunSuite {

  private def ascii(s: String) = s.getBytes("US-ASCII")

  /** `payload` zlib-wrapped against a preset dictionary (FDICT set). */
  private val fdict: Array[Byte] = {
    val d = new Deflater()
    try {
      d.setDictionary(ascii("a preset dictionary no reader supplies"))
      d.setInput(ascii("a preset dictionary no reader supplies, twice"))
      d.finish()
      val buf = new Array[Byte](4096)
      val n = d.deflate(buf)
      assert(d.finished())
      java.util.Arrays.copyOf(buf, n)
    } finally d.end()
  }

  private def assertMalformed(codec: String)(decode: => Any): Unit =
    within(10000)(decode) match {
      case None => fail(s"$codec: no result within 10 s")
      case Some(Left(e: Reject)) =>
        assert(e.codec == codec && e.kind == "malformed", e.getMessage)
        assert(e.getMessage.contains("preset dictionary"), e.getMessage)
      case Some(other) => fail(s"$codec: expected a Reject, got $other")
    }

  test("the fixture stream really sets FDICT") {
    assert((fdict(1) & 0x20) != 0)
    assert((((fdict(0) & 0xFF) << 8) | (fdict(1) & 0xFF)) % 31 == 0)
  }

  test("TIFF: a deflate strip with a preset dictionary") {
    // stored as-is under compression tag 8: the strip IS the stream
    val tiff = TiffCodec.encodeTiff(fdict.length, 1, 1, 1, fdict,
      compressionTagOverride = 8)
    assertMalformed("tiff")(TiffCodec.decodeTiff(tiff))
  }

  test("PNG: an IDAT with a preset dictionary") {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val body = ascii(typ) ++ data
      val crc = new CRC32
      crc.update(body)
      def be32(v: Long) = Array(24, 16, 8, 0).map(s => (v >> s).toByte)
      be32(data.length) ++ body ++ be32(crc.getValue)
    }
    val ihdr = Array[Byte](0, 0, 0, 4, 0, 0, 0, 4, 8, 0, 0, 0, 0)
    val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte) ++ chunk("IHDR", ihdr) ++ chunk("IDAT", fdict) ++
      chunk("IEND", Array.emptyByteArray)
    assertMalformed("png")(PixelCodec.decodePng(png))
  }

  test("WARC: an HTTP response with Content-Encoding: deflate and a " +
      "preset dictionary") {
    val rec = WarcCodec.encodeResponseEncoded("http://a.com/p", 200,
      "text/html", fdict, chunked = false, contentEncoding = "deflate")
    assertMalformed("warc")(WarcCodec.parseRecord(rec))
  }

  test("PDF: a FlateDecode content stream with a preset dictionary") {
    val out = new java.io.ByteArrayOutputStream()
    val offs = scala.collection.mutable.ArrayBuffer.empty[Long]
    def obj(s: String): Unit = {
      offs += out.size().toLong; out.write(ascii(s))
    }
    out.write(ascii("%PDF-1.4\n"))
    obj("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    obj("2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n")
    obj("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n" +
      "endobj\n")
    obj(s"4 0 obj\n<< /Length ${fdict.length} /Filter /FlateDecode >>\n" +
      "stream\n")
    out.write(fdict)
    out.write(ascii("\nendstream\nendobj\n"))
    val xrefAt = out.size()
    out.write(ascii(s"xref\n0 ${offs.length + 1}\n0000000000 65535 f \n"))
    offs.foreach(o => out.write(ascii(f"$o%010d 00000 n \n")))
    out.write(ascii(s"trailer\n<< /Size ${offs.length + 1} /Root 1 0 R " +
      s">>\nstartxref\n$xrefAt\n%%EOF\n"))
    assertMalformed("pdf")(PdfCodec.extractText(out.toByteArray))
  }
}
