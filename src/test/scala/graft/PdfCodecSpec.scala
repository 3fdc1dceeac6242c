package graft

import graft.CodecRejects.rejectOf
import graft.operators.PdfCodec

/** [[PdfCodec]]: the bounded PDF 1.x text-extraction core — round
  * trips through the fixture encoder, string/operator syntax, the
  * incremental-update xref chain, and every named rejection.
  */
class PdfCodecSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def a(s: String) = s.getBytes("ISO-8859-1")

  /** A one-page PDF with an arbitrary content stream and font dict —
    * the hand-rolled sibling of [[PdfCodec.encodePdf]] for syntax
    * shapes the generator never emits.
    */
  private def onePagePdf(content: Array[Byte],
      fontDict: String = "<< /Type /Font /Subtype /Type1 " +
        "/BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val offs = scala.collection.mutable.ArrayBuffer.empty[Long]
    def obj(s: Array[Byte]): Unit = { offs += out.size().toLong; out.write(s) }
    out.write(a("%PDF-1.4\n"))
    obj(a("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"))
    obj(a("2 0 obj\n<< /Type /Pages /Kids [ 4 0 R ] /Count 1 " +
      "/Resources << /Font << /F1 3 0 R >> >> >>\nendobj\n"))
    obj(a(s"3 0 obj\n$fontDict\nendobj\n"))
    obj(a("4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 5 0 R " +
      ">>\nendobj\n"))
    obj(a(s"5 0 obj\n<< /Length ${content.length} >>\nstream\n"))
    out.write(content)
    out.write(a("\nendstream\nendobj\n"))
    val xrefAt = out.size()
    out.write(a(s"xref\n0 ${offs.length + 1}\n0000000000 65535 f \n"))
    offs.foreach(o => out.write(a(f"$o%010d 00000 n \n")))
    out.write(a(s"trailer\n<< /Size ${offs.length + 1} /Root 1 0 R " +
      s">>\nstartxref\n$xrefAt\n%%EOF\n"))
    out.toByteArray
  }

  test("round trip: lines join with newline, WinAnsi specials exact") {
    val lines = Seq("Plain ASCII line.", "café € ’ — quote",
      "last")
    val r = PdfCodec.extractText(PdfCodec.encodePdf(Seq(lines)))
    assert(r.nPages == 1)
    assert(r.text == lines.mkString("\n"))
  }

  test("multi-page + FlateDecode: pages join with form feed, " +
      "compressed equals raw") {
    val pages = Seq(Seq("page one, line one", "line two"),
      Seq("page two"))
    val raw = PdfCodec.extractText(PdfCodec.encodePdf(pages))
    val fl = PdfCodec.extractText(PdfCodec.encodePdf(pages, flate = true))
    assert(raw.nPages == 2 && fl.nPages == 2)
    assert(raw.text == "page one, line one\nline two\fpage two")
    assert(fl.text == raw.text)
  }

  test("string + operator syntax: TJ arrays, hex strings, escapes, " +
      "nested parens, continuations, quote operators") {
    val content = a("BT /F1 12 Tf 72 720 Td\n" +
      "(He\\(llo\\)) Tj T*\n" +
      "[ (Wor) -120 (ld) ] TJ T*\n" +
      "<41424 3> Tj\n" +
      "(!) Tj T*\n" +
      "(\\101\\102) Tj T*\n" +
      "(a(b)c) Tj T*\n" +
      "(cont\\\ninued) Tj T*\n" +
      "(quoted) '\n" +
      "1 2 (dquoted) \"\nET\n")
    val r = PdfCodec.extractText(onePagePdf(content))
    assert(r.text == "He(llo)\nWorld\nABC!\nAB\na(b)c\ncontinued" +
      "\nquoted\ndquoted")
  }

  test("an empty page and an odd hex digit both behave") {
    val empty = PdfCodec.extractText(PdfCodec.encodePdf(Seq(Seq.empty)))
    assert(empty.nPages == 1 && empty.text == "")
    // odd-length hex pads a trailing zero nibble: <5> = 0x50 = 'P'
    val r = PdfCodec.extractText(onePagePdf(
      a("BT /F1 12 Tf (x) Tj <5> Tj ET")))
    assert(r.text == "xP")
  }

  test("incremental update: the newest xref section wins, /Prev " +
      "fills the rest") {
    val base = PdfCodec.encodePdf(Seq(Seq("old text")))
    // the base trailer's startxref offset
    val baseXref = {
      val t = new String(base, "ISO-8859-1")
      val i = t.lastIndexOf("startxref")
      t.substring(i + 9).trim.split("\\s+")(0).toLong
    }
    val upd = new java.io.ByteArrayOutputStream()
    upd.write(base)
    val newContent = a("BT /F1 12 Tf (new text) Tj ET")
    val at5 = upd.size().toLong
    upd.write(a(s"5 0 obj\n<< /Length ${newContent.length} " +
      ">>\nstream\n"))
    upd.write(newContent)
    upd.write(a("\nendstream\nendobj\n"))
    val xrefAt = upd.size()
    upd.write(a(f"xref\n5 1\n$at5%010d 00000 n \n"))
    upd.write(a(s"trailer\n<< /Size 9 /Root 1 0 R /Prev $baseXref " +
      s">>\nstartxref\n$xrefAt\n%%EOF\n"))
    val r = PdfCodec.extractText(upd.toByteArray)
    assert(r.text == "new text",
      "the incremental update must shadow the original object")
  }

  test("unbounded recursion is a named rejection, not a fatal error: " +
      "reference cycles and deep container nesting") {
    // 5 0 obj -> 6 0 R, 6 0 obj -> 5 0 R, page /Contents 5 0 R: the
    // resolve chain must reject by name, not StackOverflowError (which
    // would escape the expression's catch and kill the task)
    val out = new java.io.ByteArrayOutputStream()
    val offs = scala.collection.mutable.ArrayBuffer.empty[Long]
    def obj(s: Array[Byte]): Unit = { offs += out.size().toLong; out.write(s) }
    out.write(a("%PDF-1.4\n"))
    obj(a("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"))
    obj(a("2 0 obj\n<< /Type /Pages /Kids [ 4 0 R ] /Count 1 " +
      ">>\nendobj\n"))
    obj(a("3 0 obj\n<< /Type /Font /Subtype /Type1 >>\nendobj\n"))
    obj(a("4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 5 0 R " +
      ">>\nendobj\n"))
    obj(a("5 0 obj\n6 0 R\nendobj\n"))
    obj(a("6 0 obj\n5 0 R\nendobj\n"))
    val xrefAt = out.size()
    out.write(a(s"xref\n0 ${offs.length + 1}\n0000000000 65535 f \n"))
    offs.foreach(o => out.write(a(f"$o%010d 00000 n \n")))
    out.write(a(s"trailer\n<< /Size ${offs.length + 1} /Root 1 0 R " +
      s">>\nstartxref\n$xrefAt\n%%EOF\n"))
    val e = rejectOf("pdf")(PdfCodec.extractText(out.toByteArray))
    assert(e.kind == "malformed" && e.getMessage.contains("depth"))
    // a 70-deep balanced array tower in a content stream
    val deep = a("BT " + ("[ " * 70) + ("] " * 70) + "ET")
    val e2 = rejectOf("pdf")(
      PdfCodec.extractText(onePagePdf(deep)))
    assert(e2.kind == "malformed" && e2.getMessage.contains("depth"))
  }

  test("PDF 1.5: xref streams, object streams and the PNG Up " +
      "predictor all round trip to the same text") {
    val pages = Seq(Seq("modern page one", "with € — specials"),
      Seq("page two"))
    val want = "modern page one\nwith € — specials\fpage two"
    val x1 = PdfCodec.extractText(
      PdfCodec.encodePdf(pages, xrefStream = true))
    assert(x1.nPages == 2 && x1.text == want)
    val x2 = PdfCodec.extractText(PdfCodec.encodePdf(pages,
      flate = true, xrefStream = true, objStm = true))
    assert(x2.text == want,
      "document objects inside an ObjStm must resolve via type-2 entries")
    val x3 = PdfCodec.extractText(PdfCodec.encodePdf(pages,
      flate = true, xrefStream = true, objStm = true, predictor = 12))
    assert(x3.text == want, "PNG Up predictor must invert")
    val x4 = PdfCodec.extractText(PdfCodec.encodePdf(pages,
      flate = true, xrefStream = true, objStm = true, predictor = 2))
    assert(x4.text == want, "TIFF horizontal differencing must invert")
    // /Encrypt carried in the xref STREAM dict still rejects
    assert(rejectOf("pdf")(PdfCodec.extractText(
      PdfCodec.encodePdf(pages, xrefStream = true, encrypted = true)))
      .kind == "encrypted")
  }

  test("filters: LZW against the spec's published vector plus round " +
      "trips; ASCII85, ASCIIHex, RunLength; whole chains in a PDF") {
    // ISO 32000-1 §7.4.4.2 example: '-----A---B' encodes as the code
    // sequence (256, 45, 258, 258, 65, 259, 66, 257) at 9 bits
    val codes = Seq(256, 45, 258, 258, 65, 259, 66, 257)
    var buf = BigInt(0)
    var bits = 0
    codes.foreach { c => buf = (buf << 9) | c; bits += 9 }
    val pad = (8 - bits % 8) % 8
    buf <<= pad; bits += pad
    val vec = (0 until bits / 8).map(i =>
      ((buf >> (bits - 8 * (i + 1))) & 0xFF).toByte).toArray
    assert(new String(PdfCodec.lzwDecode(vec, 1), "ISO-8859-1")
      == "-----A---B")
    // a large round trip drives the code width past 9 and 10 bits
    val big = Array.tabulate(20000)(i => ((i * 37) % 251).toByte)
    assert(java.util.Arrays.equals(
      PdfCodec.lzwDecode(PdfCodec.lzwEncode(big), 1), big))
    // ASCII85: the classic 'Man ' -> '9jqo^' group, z shorthand,
    // whitespace tolerance, partial final group
    assert(new String(PdfCodec.ascii85Decode(a("9jqo^~>")),
      "ISO-8859-1") == "Man ")
    assert(java.util.Arrays.equals(
      PdfCodec.ascii85Decode(a("z ~>")), Array[Byte](0, 0, 0, 0)))
    for (n <- 1 to 9) {
      val d = Array.tabulate(n)(i => (i * 61 + 7).toByte)
      assert(java.util.Arrays.equals(
        PdfCodec.ascii85Decode(PdfCodec.ascii85Encode(d)), d), s"n=$n")
    }
    // ASCIIHex: case, whitespace, the odd-digit pad
    assert(new String(PdfCodec.asciiHexDecode(a("48 65 6c 6C6F>")),
      "ISO-8859-1") == "Hello")
    assert(PdfCodec.asciiHexDecode(a("5>")).toSeq == Seq(0x50.toByte))
    // RunLength: a literal run, a repeat run, EOD
    assert(new String(PdfCodec.runLengthDecode(
      Array[Byte](2, 'a', 'b', 'c', 254.toByte, 'x', 128.toByte)),
      "ISO-8859-1") == "abcxxx")
    // whole-PDF chains: /Filter arrays apply in decode order
    val pages = Seq(Seq("filtered content", "line two"))
    val want = "filtered content\nline two"
    for ((pdf, tag) <- Seq(
        (PdfCodec.encodePdf(pages, lzw = true), "lzw"),
        (PdfCodec.encodePdf(pages, flate = true, a85 = true), "a85+flate"),
        (PdfCodec.encodePdf(pages, lzw = true, a85 = true), "a85+lzw")))
      assert(PdfCodec.extractText(pdf).text == want, tag)
    // EOD width boundary: every prefix length of a high-repetition
    // text must round trip — the sweep necessarily lands the
    // decoder's FINAL table add exactly on a code-width switch before
    // EOD for some lengths (the r13 bug: two sf0.1 docs hit it)
    val rep = ("vector agg a row vector merge big vector batch order "
      * 30).getBytes("ISO-8859-1")
    (1 to rep.length by 7).foreach { n =>
      val r = rep.take(n)
      assert(java.util.Arrays.equals(
        PdfCodec.lzwDecode(PdfCodec.lzwEncode(r), 1), r),
        s"prefix length $n")
    }
    // truncated LZW (no EOD) and bad ASCII85 bytes reject by name
    assert(rejectOf("pdf")(
      PdfCodec.lzwDecode(Array[Byte](0x40), 1)).kind == "malformed")
    assert(rejectOf("pdf")(
      PdfCodec.ascii85Decode(a("ab|cd~>"))).kind == "malformed")
  }

  test("hybrid /XRefStm: the stream's entries beat the table section") {
    // incremental update of obj 5 (the content stream): the classic
    // table section points 5 at the STALE copy, the /XRefStm stream
    // points it at the update — per §7.5.8.4 the stream wins
    val base = PdfCodec.encodePdf(Seq(Seq("old text")))
    val baseXref = {
      val t = new String(base, "ISO-8859-1")
      val i = t.lastIndexOf("startxref")
      t.substring(i + 9).trim.split("\\s+")(0).toLong
    }
    val staleOff = new String(base, "ISO-8859-1").indexOf("5 0 obj")
    val upd = new java.io.ByteArrayOutputStream()
    upd.write(base)
    val newContent = a("BT /F1 12 Tf (new text) Tj ET")
    val at5 = upd.size()
    upd.write(a(s"5 0 obj\n<< /Length ${newContent.length} " +
      ">>\nstream\n"))
    upd.write(newContent)
    upd.write(a("\nendstream\nendobj\n"))
    // the xref STREAM: /Index [5 1], one raw type-1 row (W = 1 4 2)
    val xsAt = upd.size()
    val row = Array[Byte](1,
      ((at5 >> 24) & 0xFF).toByte, ((at5 >> 16) & 0xFF).toByte,
      ((at5 >> 8) & 0xFF).toByte, (at5 & 0xFF).toByte, 0, 0)
    upd.write(a("7 0 obj\n<< /Type /XRef /Size 8 /W [ 1 4 2 ] " +
      "/Index [ 5 1 ] /Root 1 0 R /Length 7 >>\nstream\n"))
    upd.write(row)
    upd.write(a("\nendstream\nendobj\n"))
    // the classic section: a STALE table entry for 5 + /XRefStm
    val tAt = upd.size()
    upd.write(a(f"xref\n5 1\n$staleOff%010d 00000 n \n"))
    upd.write(a(s"trailer\n<< /Size 8 /Root 1 0 R /Prev $baseXref " +
      s"/XRefStm $xsAt >>\nstartxref\n$tAt\n%%EOF\n"))
    val r = PdfCodec.extractText(upd.toByteArray)
    assert(r.text == "new text",
      "the /XRefStm entry must shadow the stale table entry")
  }

  test("xref hardening: freed entries shadow /Prev, ObjStm self-" +
      "cycles reject, array-form /Filter parses, hybrid /Encrypt " +
      "rejects, ASCII85 overflow rejects") {
    // (a) an incremental update that FREES the content object: the
    // newer free entry must shadow the old in-use one — /Contents
    // resolves to null, text becomes empty (not the stale bytes)
    val base = PdfCodec.encodePdf(Seq(Seq("stale text")))
    val baseXref = {
      val t = new String(base, "ISO-8859-1")
      val i = t.lastIndexOf("startxref")
      t.substring(i + 9).trim.split("\\s+")(0).toLong
    }
    val upd = new java.io.ByteArrayOutputStream()
    upd.write(base)
    val tAt = upd.size()
    upd.write(a("xref\n5 1\n0000000000 00001 f \n"))
    upd.write(a(s"trailer\n<< /Size 8 /Root 1 0 R /Prev $baseXref " +
      s">>\nstartxref\n$tAt\n%%EOF\n"))
    val freed = PdfCodec.extractText(upd.toByteArray)
    assert(freed.text == "",
      "a freed object must not resurrect from an older section")
    // (b) ObjStm whose own /Length references an object inside itself:
    // load(1) -> ObjStm 4 -> /Length 1 0 R -> load(1) must be a NAMED
    // cycle rejection, not a StackOverflowError
    val cyc = new java.io.ByteArrayOutputStream()
    cyc.write(a("%PDF-1.5\n"))
    val at4 = cyc.size()
    cyc.write(a("4 0 obj\n<< /Type /ObjStm /N 1 /First 4 " +
      "/Length 1 0 R >>\nstream\n1 0 << >>\nendstream\nendobj\n"))
    val xsAt = cyc.size()
    def be4(v: Long) = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      (v & 0xFF).toByte)
    val rows = Array[Byte](2) ++ be4(4) ++ Array[Byte](0, 0) ++
      (Array[Byte](1) ++ be4(at4) ++ Array[Byte](0, 0))
    cyc.write(a(s"7 0 obj\n<< /Type /XRef /Size 8 /W [ 1 4 2 ] " +
      s"/Index [ 1 1 4 1 ] /Root 1 0 R /Length ${rows.length} " +
      ">>\nstream\n"))
    cyc.write(rows)
    cyc.write(a("\nendstream\nendobj\n"))
    cyc.write(a(s"startxref\n$xsAt\n%%EOF\n"))
    val e = rejectOf("pdf")(PdfCodec.extractText(cyc.toByteArray))
    assert(e.kind == "malformed" && e.getMessage.contains("cycle"),
      e.getMessage)
    // (c) the spec-legal array spelling on the xref stream's dict
    val modern = PdfCodec.encodePdf(Seq(Seq("array filter")),
      xrefStream = true)
    val arr = new String(modern, "ISO-8859-1")
      .replace("/Filter /FlateDecode", "/Filter [ /FlateDecode ]")
    assert(PdfCodec.extractText(arr.getBytes("ISO-8859-1")).text
      == "array filter")
    // (d) /Encrypt carried ONLY in a hybrid /XRefStm dict still
    // rejects by name (the stream dict is trailer-grade)
    val hyb = new java.io.ByteArrayOutputStream()
    hyb.write(base)
    val hxAt = hyb.size()
    hyb.write(a("7 0 obj\n<< /Type /XRef /Size 8 /W [ 1 4 2 ] " +
      "/Index [ 0 0 ] /Encrypt 99 0 R /Length 0 >>\nstream\n"))
    hyb.write(a("\nendstream\nendobj\n"))
    val htAt = hyb.size()
    hyb.write(a(s"xref\n0 0\ntrailer\n<< /Size 8 /Root 1 0 R " +
      s"/Prev $baseXref /XRefStm $hxAt >>\nstartxref\n$htAt\n%%EOF\n"))
    assert(rejectOf("pdf")(
      PdfCodec.extractText(hyb.toByteArray)).kind == "encrypted")
    // (e) an ASCII85 group past 2^32-1 cannot be silently truncated
    assert(rejectOf("pdf")(
      PdfCodec.ascii85Decode(a("uuuuu~>"))).kind == "malformed")
  }

  test("Do XObjects: form text extracts in place, images skip, " +
      "self-nesting and unknown names reject by name") {
    // page content defers ALL its text to a form XObject (the
    // stamped/flattened-document shape); an image XObject rides along
    def xobjPdf(formContent: String,
                pageContent: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val offs = scala.collection.mutable.ArrayBuffer.empty[Long]
      def obj(s: Array[Byte]): Unit = {
        offs += out.size().toLong; out.write(s)
      }
      out.write(a("%PDF-1.4\n"))
      obj(a("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"))
      obj(a("2 0 obj\n<< /Type /Pages /Kids [ 4 0 R ] /Count 1 " +
        "/Resources << /Font << /F1 3 0 R >> " +
        "/XObject << /Fm1 6 0 R /Im1 7 0 R >> >> >>\nendobj\n"))
      obj(a("3 0 obj\n<< /Type /Font /Subtype /Type1 " +
        "/BaseFont /Helvetica /Encoding /WinAnsiEncoding >>\nendobj\n"))
      obj(a("4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 5 0 R " +
        ">>\nendobj\n"))
      obj(a(s"5 0 obj\n<< /Length ${pageContent.length} >>\nstream\n" +
        pageContent + "\nendstream\nendobj\n"))
      obj(a(s"6 0 obj\n<< /Type /XObject /Subtype /Form " +
        s"/Length ${formContent.length} >>\nstream\n" + formContent +
        "\nendstream\nendobj\n"))
      obj(a("7 0 obj\n<< /Type /XObject /Subtype /Image /Width 1 " +
        "/Height 1 /Length 1 >>\nstream\nX\nendstream\nendobj\n"))
      val xrefAt = out.size()
      out.write(a(s"xref\n0 ${offs.length + 1}\n0000000000 65535 f \n"))
      offs.foreach(o => out.write(a(f"$o%010d 00000 n \n")))
      out.write(a(s"trailer\n<< /Size ${offs.length + 1} /Root 1 0 R " +
        s">>\nstartxref\n$xrefAt\n%%EOF\n"))
      out.toByteArray
    }
    val r = PdfCodec.extractText(xobjPdf(
      "BT /F1 12 Tf (inside the form) Tj ET",
      "BT /F1 12 Tf (before ) Tj ET q /Im1 Do /Fm1 Do Q " +
        "BT /F1 12 Tf ( after) Tj ET"))
    assert(r.text == "before inside the form after",
      "form text must extract in place; the image must not reject")
    // a form whose content invokes ITSELF must hit the nesting cap
    val e = rejectOf("pdf")(PdfCodec.extractText(xobjPdf(
      "q /Fm1 Do Q", "q /Fm1 Do Q")))
    assert(e.kind == "malformed" && e.getMessage.contains("nesting"))
    // an unknown XObject name is malformed, not silence
    val e2 = rejectOf("pdf")(PdfCodec.extractText(xobjPdf(
      "BT (x) Tj ET", "q /Nope Do Q")))
    assert(e2.kind == "malformed" &&
      e2.getMessage.contains("unknown XObject"))
  }

  test("/Differences: AGL names remap with auto-increment, base " +
      "encoding fills the rest, unknown names reject") {
    // 65 /Euro, 66 /bullet (auto-increment), 67 /uni0142, u-form at 70
    val diffs = "<< /BaseEncoding /WinAnsiEncoding /Differences " +
      "[ 65 /Euro /bullet /uni0142 70 /u2713 ] >>"
    val r = PdfCodec.extractText(onePagePdf(
      a("BT /F1 12 Tf (ABCxF \\351) Tj ET"),
      fontDict = "<< /Type /Font /Subtype /Type1 /BaseFont " +
        s"/Helvetica /Encoding $diffs >>"))
    // A->Euro B->bullet C->l-stroke, x stays, F->check, é via base
    assert(r.text == "€•łx✓ é")
    // the generator's differences fixture round-trips
    val gen = PdfCodec.extractText(PdfCodec.encodePdf(
      Seq(Seq("plain line")), differences = true))
    assert(gen.text == "plain line\n€•ł")
    // surrogate-range uniXXXX is not a scalar value
    val bad = rejectOf("pdf")(PdfCodec.extractText(onePagePdf(
      a("BT /F1 12 Tf (A) Tj ET"),
      fontDict = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding << /Differences [ 65 /uniD800 ] >> >>")))
    assert(bad.kind == "encoding")
  }

  test("Type0/Identity-H with ToUnicode: bfchar + bfrange decode, " +
      "unmapped CID and odd string reject, no-ToUnicode rejects") {
    val lines = Seq("Hello CID world.", "second page line")
    val r = PdfCodec.extractText(PdfCodec.encodePdf(
      Seq(Seq(lines.head), Seq(lines(1))), cid = true))
    assert(r.nPages == 2)
    assert(r.text == lines.mkString("\f"))
    // a code the CMap does not map is a named rejection: patch one
    // content hex string to an unassigned code
    val bytes = PdfCodec.encodePdf(Seq(Seq("ab")), cid = true)
    val s = new String(bytes, "ISO-8859-1")
    // 'a' encodes as <02000201>; corrupt its first code to 0FFF
    val patched = s.replace("<02000201>", "<0FFF0201>")
    assert(patched != s)
    val e1 = rejectOf("pdf")(
      PdfCodec.extractText(patched.getBytes("ISO-8859-1")))
    assert(e1.kind == "encoding" && e1.getMessage.contains("0fff"))
    // odd byte count under a 2-byte font is malformed (same-length
    // patch: hex whitespace is ignored, so this is ONE byte)
    val odd = s.replace("<02000201>", "<02      >")
    assert(odd != s)
    assert(rejectOf("pdf")(PdfCodec.extractText(
      odd.getBytes("ISO-8859-1"))).kind == "malformed")
    // Identity-H WITHOUT /ToUnicode stays a type0-font rejection
    // (same-length blank-out keeps every xref offset valid)
    val noMap = s.replace("/ToUnicode 6 0 R", " " * 16)
    assert(noMap != s)
    assert(rejectOf("pdf")(PdfCodec.extractText(
      noMap.getBytes("ISO-8859-1"))).kind == "type0-font")
  }

  test("standard security handler: RC4 and AESV2 empty-user-password " +
      "files decrypt; passworded and V5 files reject by name") {
    val pages = Seq(Seq("Encrypted content € line", "second line"),
      Seq("page two"))
    val want = "Encrypted content € line\nsecond line\fpage two"
    // V2/R3 RC4 under FlateDecode: decrypt composes OUTSIDE the filter
    val r1 = PdfCodec.extractText(
      PdfCodec.encodePdf(pages, flate = true, crypt = "rc4"))
    assert(r1.nPages == 2 && r1.text == want)
    // V4/R4 AESV2 (IV-prefixed CBC, PKCS#5)
    val r2 = PdfCodec.extractText(PdfCodec.encodePdf(pages, crypt = "aes"))
    assert(r2.text == want)
    // /P written in unsigned 32-bit decimal form (4294967252 = -44)
    // must derive the SAME key — Double.toInt would saturate
    val r3 = PdfCodec.extractText(PdfCodec.encodePdf(pages,
      crypt = "rc4", cryptUnsignedP = true))
    assert(r3.text == want)
    // a real user password: the empty password fails the /U check
    val e = rejectOf("pdf")(PdfCodec.extractText(
      PdfCodec.encodePdf(pages, crypt = "rc4-pwd")))
    assert(e.kind == "encrypted" && e.getMessage.contains("password"))
    // V5/R6 AES-256 with the empty user password: the hardened
    // Algorithm 2.B hash opens the file, /Perms validates, data
    // decrypts under the file key (composed with FlateDecode)
    val r5 = PdfCodec.extractText(PdfCodec.encodePdf(pages,
      flate = true, crypt = "aes256"))
    assert(r5.nPages == 2 && r5.text == want)
    // a passworded V5 file stays a named rejection
    val e5 = rejectOf("pdf")(PdfCodec.extractText(
      PdfCodec.encodePdf(pages, crypt = "aes256-pwd")))
    assert(e5.kind == "encrypted" && e5.getMessage.contains("password"))
    // a V5 dict whose crypt filter is not AESV3 rejects by name
    // (same-length patch keeps offsets)
    val raw = new String(PdfCodec.encodePdf(pages, crypt = "aes256"),
      "ISO-8859-1")
    val v5bad = raw.replace("/CFM /AESV3", "/CFM /AESV9")
    assert(v5bad != raw)
    assert(rejectOf("pdf")(PdfCodec.extractText(
      v5bad.getBytes("ISO-8859-1"))).kind == "encrypted")
    // the zero-length literal () some real writers emit UNENCRYPTED
    // inside encrypted files passes through (poppler/pdf.js parity);
    // 1..31-byte payloads still reject as not-whole-blocks
    val rEmpty = PdfCodec.extractText(
      PdfCodec.encodePdf(pages, crypt = "aes", emptyStr = true))
    assert(rEmpty.text == want)
    val r5Empty = PdfCodec.extractText(PdfCodec.encodePdf(pages,
      flate = true, crypt = "aes256", emptyStr = true))
    assert(r5Empty.text == want)
  }

  test("inline images: computable BI spans skip (data containing " +
    "'EI' letters, an /L-carrying filtered image); filtered without " +
    "/L stays the named rejection") {
    val pages = Seq(Seq("Before image.", "After image."))
    val want = "Before image.\nAfter image."
    // unfiltered 2×2 RGB (12 bytes deliberately containing 'EI') and
    // an AHx-filtered image with /L, in one content stream
    val r = PdfCodec.extractText(
      PdfCodec.encodePdf(pages, inlineImage = "raw"))
    assert(r.nPages == 1 && r.text == want,
      "the logo must not cost the document its text")
    // under FlateDecode too (the crawl's common shape)
    val rf = PdfCodec.extractText(
      PdfCodec.encodePdf(pages, flate = true, inlineImage = "raw"))
    assert(rf.text == want)
    // a filtered image with no /L cannot be skipped without decoding
    val e = rejectOf("pdf")(PdfCodec.extractText(
      PdfCodec.encodePdf(pages, inlineImage = "nolen")))
    assert(e.kind == "inline-image" && e.getMessage.contains("/L"))
    // truncated data is malformed, not a silent partial extraction
    val raw = new String(PdfCodec.encodePdf(pages,
      inlineImage = "raw"), "ISO-8859-1")
    val cut = raw.replace("/W 2 /H 2", "/W 9 /H 9")
    assert(cut != raw)
    assert(rejectOf("pdf")(PdfCodec.extractText(
      cut.getBytes("ISO-8859-1"))).kind == "malformed")
  }

  test("named rejections: encrypted, type0, filter, xref-stream, " +
      "inline image, non-WinAnsi high byte, malformed") {
    def kind(b: Array[Byte]): String =
      rejectOf("pdf")(PdfCodec.extractText(b)).kind
    val p = Seq(Seq("x"))
    assert(kind(PdfCodec.encodePdf(p, encrypted = true)) == "encrypted")
    assert(kind(PdfCodec.encodePdf(p, type0 = true)) == "type0-font")
    assert(kind(PdfCodec.encodePdf(p, badFilter = true)) == "filter")
    assert(kind(onePagePdf(a("BT BI /W 1 /H 1 ID x EI ET")))
      == "inline-image")
    assert(kind(a("not a pdf at all")) == "malformed")
    // a high byte under a font with no declared encoding
    assert(kind(onePagePdf(a("BT /F1 12 Tf (café) Tj ET"),
      fontDict = "<< /Type /Font /Subtype /Type1 " +
        "/BaseFont /Helvetica >>")) == "encoding")
    // ASCII under the same font is fine (every simple encoding agrees)
    val ok = PdfCodec.extractText(onePagePdf(a("BT /F1 12 Tf (fine) Tj ET"),
      fontDict = "<< /Type /Font /Subtype /Type1 " +
        "/BaseFont /Helvetica >>"))
    assert(ok.text == "fine")
    // a /Differences glyph name outside the embedded AGL subset is a
    // named encoding rejection (the remap itself is supported)
    assert(kind(onePagePdf(a("BT /F1 12 Tf (A) Tj ET"),
      fontDict = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding << /Differences [ 65 /notarealglyph ] >> >>"))
      == "encoding")
    // startxref pointing at a NON-XRef object parses as a PDF 1.5
    // xref stream attempt and rejects on the /Type check
    val base = PdfCodec.encodePdf(p)
    val t = new String(base, "ISO-8859-1")
    val patched = t.replaceAll("startxref\n\\d+",
      "startxref\n9") // offset 9 = inside '1 0 obj'
    assert(kind(patched.getBytes("ISO-8859-1")) == "malformed")
    // a truncated stream is malformed, not short
    val cut = PdfCodec.encodePdf(p)
    val body = new String(cut, "ISO-8859-1")
    val bad = body.replace("/Length", "/Length 99999 /X")
    assert(kind(bad.getBytes("ISO-8859-1")) == "malformed")
  }
}
