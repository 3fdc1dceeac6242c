package graft.operators

import graft.codec.{Inflate, Reject}

/** PDF → text extraction — after HTML, the next-largest text payload
  * in a real crawl; without this operator every PDF byte in a 100 TB
  * archive is dark data. This is the BOUNDED, offline-verifiable core
  * of ISO 32000-1 (PDF 1.x), the [[WebpCodec]] honest-rejection
  * discipline applied to documents: the deterministic majority path
  * decodes exactly, everything whose reference tables or crypto cannot
  * be verified offline is a NAMED rejection, never a silent guess —
  * a mis-decoded page poisons every downstream fingerprint, a named
  * null is auditable.
  *
  * SUPPORTED (the closed-form core):
  *  - classic cross-reference TABLES (multi-section, `/Prev` chains;
  *    later sections win, exactly the incremental-update rule);
  *  - cross-reference STREAMS (PDF 1.5 — what most real-world PDFs
  *    use): `/W`-packed binary rows, `/Index` subsections, FlateDecode
  *    with the PNG row predictors (None/Sub/Up/Average/Paeth) and
  *    8-bit TIFF horizontal differencing (predictor 2),
  *    type-0/1/2 entries; the HYBRID form too (a classic trailer's
  *    `/XRefStm` read with stream-over-table precedence per
  *    §7.5.8.4);
  *  - OBJECT STREAMS (`/Type /ObjStm`): compressed containers holding
  *    the document's non-stream objects, located through type-2 xref
  *    entries (header-pair walk, nesting forbidden per spec);
  *  - the document tree: trailer `/Root` → catalog → `/Pages` tree
  *    (nested `Pages` nodes, `/Resources` inheritance) → `Page`;
  *  - content streams stored raw or `/FlateDecode` (RFC 1950 zlib via
  *    the bounded [[graft.codec.Inflate]] loop), `/Length`
  *    direct or indirect, `/Contents` single or array;
  *  - text operators `BT ET Tf Td TD T* Tm TL Tj TJ ' "` plus the
  *    ignorable state ops (`Tc Tw Tz Ts Tr`, graphics ops): strings
  *    concatenate in content order; `Td TD T* Tm '` start a NEW LINE
  *    when text was emitted since the last line start; TJ kerning
  *    numbers are positioning, not text, and are skipped; pages join
  *    with `\f` (the pdftotext convention);
  *  - string syntax in full: nested literal parens, the eight escapes,
  *    octal `\ddd`, line continuations, hex strings with odd-length
  *    padding;
  *  - `Do` XObjects: Image XObjects are pixels (no text, skipped);
  *    FORM XObjects recurse — their content streams' text belongs to
  *    the page (stamped/flattened documents put ALL their text
  *    there), with the form's own `/Resources` (inheriting the
  *    caller's when absent) and a nesting cap;
  *  - byte → char: 0x00–0x7F are ASCII under every simple-font
  *    encoding; bytes ≥ 0x80 decode through the WinAnsi (cp1252)
  *    table ONLY when the CURRENT font (tracked through `Tf`)
  *    declares `/Encoding /WinAnsiEncoding` — under any other or
  *    absent encoding a high byte is a named rejection (the tables
  *    differ and guessing mojibakes the page);
  *  - `/Differences` remaps on simple fonts: each named glyph decodes
  *    through an embedded Adobe-Glyph-List subset (the Latin-1 +
  *    typographic names) or the algorithmic `uniXXXX`/`uXXXX[XX]`
  *    forms; non-remapped codes fall back to the `/BaseEncoding`; a
  *    glyph name outside the verified table is a NAMED rejection,
  *    never a dropped character;
  *  - Type0/CID fonts WITH `/Encoding /Identity-H` (or `-V`) AND a
  *    `/ToUnicode` CMap: 2-byte codes decode through the embedded
  *    CMap's `bfchar`/`bfrange` sections (single-dst increment and
  *    array-dst forms, UTF-16BE destinations) — the layout virtually
  *    every generated real-world PDF uses; a code the CMap does not
  *    map is a named rejection.
  *
  * REJECTED BY NAME ([[graft.codec.Reject]] `kind`, codec `pdf`):
  *  - `encrypted` — `/Encrypt` in the trailer (no offline-verifiable
  *    crypto);
  *  - `filter` — any content/xref filter other than FlateDecode (DCT,
  *    LZW, ASCII85, crypt filters …) and the TIFF predictor's
  *    sub-byte-component form;
  *  - `type0-font` — composite/CID fonts with a non-Identity CMap or
  *    WITHOUT a `/ToUnicode` stream (the mapping tables are not in
  *    the file, so the codes cannot be decoded), or a non-2-byte
  *    ToUnicode codespace;
  *  - `encoding` — a high byte under a non-WinAnsi encoding, a
  *    WinAnsi-undefined code, a `/Differences` glyph name outside the
  *    embedded AGL subset, or a CID without a ToUnicode mapping;
  *  - `inline-image` — a `BI … EI` image whose data length is NOT
  *    computable without decoding: filtered without an explicit /L,
  *    or an exotic colorspace. Computable images (unfiltered
  *    W × H × BPC × channels, or any image carrying /L) are safely
  *    SKIPPED — one logo must not cost a document all its text;
  *  - `malformed` — everything structurally broken (bad header, bad
  *    xref, truncated stream, unbalanced tokens …).
  *
  * Scale shape: one record = one document, decode is a pure
  * per-row function in the scan projection
  * ([[graft.functions.PdfTextExpr]]) — the map-only stage a 100 TB
  * crawl runs, no UDF, no driver loop, composes with the charset/HTML
  * tier's funnel exactly like [[graft.sources.WarcCodec]] output does.
  */
object PdfCodec {

  private val reject = Reject.in("pdf")

  final case class PdfText(nPages: Int, text: String)

  /** A decimal token that fits an Int / a Long. */
  private def uint(t: String): Option[Int] =
    if (t.nonEmpty && t.forall(_.isDigit)) t.toIntOption else None
  private def ulong(t: String): Option[Long] =
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLongOption else None

  // ------------------------------------------------------------ model

  private sealed trait Obj
  private case class PNum(v: Double) extends Obj { def toInt: Int = v.toInt }
  private case class PName(v: String) extends Obj
  private case class PStr(bytes: Array[Byte]) extends Obj
  private case class PArr(items: Vector[Obj]) extends Obj
  private case class PDict(m: Map[String, Obj]) extends Obj
  private case class PRef(num: Int, gen: Int) extends Obj
  private case class PBool(v: Boolean) extends Obj
  private case object PNull extends Obj
  private case class PStream(dict: PDict, data: Array[Byte]) extends Obj

  // ------------------------------------------------------------ lexer

  private def isWs(c: Int): Boolean =
    c == 0 || c == 9 || c == 10 || c == 12 || c == 13 || c == 32
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' ||
      c == ']' || c == '{' || c == '}' || c == '/' || c == '%'

  /** Cursor over the raw bytes; both the object parser and the
    * content-stream interpreter run on it.
    */
  private final class Lex(val b: Array[Byte], var at: Int) {

    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (at < b.length && isWs(b(at) & 0xFF)) at += 1
        if (at < b.length && b(at) == '%') { // comment to EOL
          while (at < b.length && b(at) != '\n' && b(at) != '\r') at += 1
        } else go = false
      }
    }

    def peek: Int = if (at < b.length) b(at) & 0xFF else -1

    /** A regular token (number / keyword / operator name): bytes up to
      * the next whitespace or delimiter.
      */
    def token(): String = {
      skipWs()
      val s = at
      while (at < b.length && !isWs(b(at) & 0xFF) &&
        !isDelim(b(at) & 0xFF)) at += 1
      if (at == s) reject("malformed", s"expected token at offset $s")
      new String(b, s, at - s, "ISO-8859-1")
    }

    def expect(kw: String): Unit = {
      val t = token()
      if (t != kw) reject("malformed", s"expected '$kw', got '$t'")
    }

    /** Literal string `(...)`: nesting, escapes, octal, continuations. */
    def literalString(): Array[Byte] = {
      // at '('
      at += 1
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        if (at >= b.length) reject("malformed", "unterminated string")
        val c = b(at) & 0xFF
        at += 1
        c match {
          case '(' => depth += 1; out.write('(')
          case ')' => depth -= 1; if (depth > 0) out.write(')')
          case '\\' =>
            if (at >= b.length) reject("malformed", "dangling escape")
            val e = b(at) & 0xFF
            at += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => // continuation: swallow optional \n
                if (at < b.length && b(at) == '\n') at += 1
              case '\n' => () // continuation
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && at < b.length && b(at) >= '0' &&
                  b(at) <= '7') { v = v * 8 + (b(at) - '0'); at += 1; k += 1 }
                out.write(v & 0xFF)
              case other => out.write(other) // spec: backslash dropped
            }
          case other => out.write(other)
        }
      }
      out.toByteArray
    }

    /** Hex string `<...>` (caller consumed nothing; `at` is on '<'
      * and the next char is NOT '<').
      */
    def hexString(): Array[Byte] = {
      at += 1
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      var done = false
      while (!done) {
        if (at >= b.length) reject("malformed", "unterminated hex string")
        val c = b(at) & 0xFF
        at += 1
        if (c == '>') {
          if (hi >= 0) out.write(hi << 4) // odd count: pad 0
          done = true
        } else if (!isWs(c)) {
          val v =
            if (c >= '0' && c <= '9') c - '0'
            else if (c >= 'a' && c <= 'f') c - 'a' + 10
            else if (c >= 'A' && c <= 'F') c - 'A' + 10
            else reject("malformed", s"bad hex digit '${c.toChar}'")
          if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
        }
      }
      out.toByteArray
    }
  }

  // ----------------------------------------------------- object parse

  /** One object at the cursor; `refs` allowed (the `N G R` shape is
    * resolved by lookahead). `depth` guards container nesting — a
    * '[[[[…' or '<<…<<…' tower must be a named rejection, not a
    * StackOverflowError (fatal, escapes the expression's catch).
    */
  private def parseObj(lx: Lex, depth: Int = 0): Obj = {
    if (depth > 64) reject("malformed", "object nesting past depth 64")
    lx.skipWs()
    lx.peek match {
      case '(' => PStr(lx.literalString())
      case '<' =>
        if (lx.at + 1 < lx.b.length && lx.b(lx.at + 1) == '<') {
          lx.at += 2
          parseDictBody(lx, depth + 1)
        } else PStr(lx.hexString())
      case '[' =>
        lx.at += 1
        val items = Vector.newBuilder[Obj]
        var done = false
        while (!done) {
          lx.skipWs()
          if (lx.peek == ']') { lx.at += 1; done = true }
          else items += parseObj(lx, depth + 1)
        }
        PArr(items.result())
      case '/' =>
        lx.at += 1
        val s = lx.at
        while (lx.at < lx.b.length && !isWs(lx.b(lx.at) & 0xFF) &&
          !isDelim(lx.b(lx.at) & 0xFF)) lx.at += 1
        PName(new String(lx.b, s, lx.at - s, "ISO-8859-1"))
      case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        val t = lx.token()
        val n = try t.toDouble catch {
          case _: NumberFormatException =>
            reject("malformed", s"bad number '$t'")
        }
        // lookahead for `G R` (an indirect reference)
        if (n >= 0 && n == n.floor && !t.contains('.')) {
          val save = lx.at
          lx.skipWs()
          val c2 = lx.peek
          if (c2 >= '0' && c2 <= '9') {
            val t2 = lx.token()
            if (uint(t2).isDefined) {
              lx.skipWs()
              if (lx.peek == 'R') {
                val save2 = lx.at
                val t3 = lx.token()
                if (t3 == "R") return PRef(n.toInt, t2.toInt)
                lx.at = save2
              }
            }
          }
          lx.at = save
        }
        PNum(n)
      case _ =>
        val t = lx.token()
        t match {
          case "true" => PBool(true)
          case "false" => PBool(false)
          case "null" => PNull
          case other => reject("malformed", s"unexpected token '$other'")
        }
    }
  }

  /** Dict body after `<<`, through `>>`. */
  private def parseDictBody(lx: Lex, depth: Int = 0): PDict = {
    val m = Map.newBuilder[String, Obj]
    var done = false
    while (!done) {
      lx.skipWs()
      if (lx.peek == '>' && lx.at + 1 < lx.b.length &&
        lx.b(lx.at + 1) == '>') { lx.at += 2; done = true }
      else {
        parseObj(lx, depth + 1) match {
          case PName(k) => m += (k -> parseObj(lx, depth + 1))
          case other =>
            reject("malformed", s"dict key is not a name: $other")
        }
      }
    }
    PDict(m.result())
  }

  // ------------------------------------------------------------ xref

  /** Where an object lives: at a byte offset in the FILE, or at an
    * index inside a compressed OBJECT STREAM (PDF 1.5).
    */
  private sealed trait Loc
  private case class InFile(off: Long) extends Loc
  private case class InStm(stm: Int, idx: Int) extends Loc
  // a FREED object: must SHADOW older sections (an incremental delete
  // wins over the stale /Prev entry) and resolves to null per spec
  private case object Free extends Loc

  /** objnum → location, from the cross-reference chain — classic
    * TABLES, cross-reference STREAMS (PDF 1.5: `/W`-packed binary
    * rows, optionally FlateDecode + PNG-predictor coded) and the
    * hybrid form (a classic trailer whose `/XRefStm` names a stream
    * that provides the compressed objects the table omits — the
    * stream's entries take precedence over that section's table, per
    * ISO 32000-1 §7.5.8.4). Later sections shadow `/Prev` ones; the
    * merged trailer rides along.
    */
  private def readXref(b: Array[Byte]): (Map[Int, Loc], PDict) = {
    // find startxref near the end
    val tailAt = math.max(0, b.length - 2048)
    val tail = new String(b, tailAt, b.length - tailAt, "ISO-8859-1")
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0) reject("malformed", "no startxref")
    var at = {
      val lx = new Lex(b, tailAt + sx)
      lx.expect("startxref")
      val t = lx.token()
      ulong(t).getOrElse(reject("malformed", s"bad startxref '$t'"))
    }
    val locs = scala.collection.mutable.HashMap.empty[Int, Loc]
    var trailer: Map[String, Obj] = Map.empty
    var guard = 0
    while (at >= 0) {
      guard += 1
      if (guard > 64) reject("malformed", "xref /Prev cycle")
      if (at < 0 || at > b.length - 4)
        reject("malformed", "startxref out of range")
      val lx = new Lex(b, at.toInt)
      lx.skipWs()
      val tdict: Map[String, Obj] =
        if (lx.peek >= '0' && lx.peek <= '9')
          readXrefStream(b, at.toInt, locs)
        else {
          // classic table: buffer the section's entries so a hybrid
          // /XRefStm (read next) wins inside this section
          val (entries, td) = readXrefTable(lx)
          // the hybrid stream's dict is trailer-grade too: /Encrypt
          // (or any key) carried ONLY there must still be seen — the
          // classic trailer's keys win on conflict
          val sd = td.get("XRefStm") match {
            case Some(PNum(p)) => readXrefStream(b, p.toInt, locs)
            case _ => Map.empty[String, Obj]
          }
          entries.foreach { case (num, loc) =>
            if (!locs.contains(num)) locs(num) = loc
          }
          sd.foldLeft(td) { case (m, (k, v)) =>
            if (m.contains(k)) m else m + (k -> v)
          }
        }
      // earlier trailers only fill keys the latest one lacks
      tdict.foreach { case (k, v) =>
        if (!trailer.contains(k)) trailer += (k -> v)
      }
      at = tdict.get("Prev") match {
        case Some(PNum(p)) => p.toLong
        case _ => -1L
      }
    }
    // /Encrypt is handled AFTER object loading exists: extractText
    // builds a Decryptor from it (empty-user-password standard
    // handler) or rejects as `encrypted` with the reason named
    (locs.toMap, PDict(trailer))
  }

  /** One classic `xref` table: (section entries in file order, the
    * trailer dict). Entries are NOT applied here — the caller decides
    * precedence against a hybrid `/XRefStm`.
    */
  private def readXrefTable(lx: Lex)
      : (Seq[(Int, Loc)], Map[String, Obj]) = {
    lx.expect("xref")
    val entries = Seq.newBuilder[(Int, Loc)]
    var inSections = true
    while (inSections) {
      lx.skipWs()
      val t = lx.token()
      if (t == "trailer") inSections = false
      else {
        val start = uint(t).getOrElse(
          reject("malformed", s"bad xref subsection '$t'"))
        val count = {
          val c = lx.token()
          uint(c).getOrElse(reject("malformed", s"bad xref count '$c'"))
        }
        var i = 0
        while (i < count) {
          val off = lx.token()
          val gen = lx.token()
          val kind = lx.token()
          if (ulong(off).isEmpty || !gen.forall(_.isDigit) ||
            (kind != "n" && kind != "f"))
            reject("malformed", s"bad xref entry '$off $gen $kind'")
          entries += ((start + i,
            if (kind == "n") InFile(off.toLong) else Free))
          i += 1
        }
      }
    }
    lx.skipWs()
    if (lx.peek != '<') reject("malformed", "trailer is not a dict")
    lx.at += 2
    (entries.result(), parseDictBody(lx).m)
  }

  /** A cross-reference STREAM at `at`: applies its entries to `locs`
    * (first-seen wins, matching the chain's newest-first walk) and
    * returns its dict (the trailer fields live there). The stream's
    * own `/Length` and geometry keys must be direct per the spec —
    * there is no xref yet to resolve references through.
    */
  private def readXrefStream(b: Array[Byte], at: Int,
      locs: scala.collection.mutable.HashMap[Int, Loc])
      : Map[String, Obj] = {
    // /XRefStm and startxref values are attacker-controlled integers
    if (at < 0 || at >= b.length)
      reject("malformed", s"xref stream offset $at out of range")
    val lx = new Lex(b, at)
    val n = lx.token()
    val g = lx.token()
    if (!n.forall(_.isDigit) || !g.forall(_.isDigit))
      reject("malformed", s"bad xref-stream object header '$n $g'")
    lx.expect("obj")
    val dict = parseObj(lx) match {
      case d: PDict => d.m
      case other => reject("malformed", s"xref stream dict is $other")
    }
    if (!dict.get("Type").contains(PName("XRef")))
      reject("malformed", "startxref object is not /Type /XRef")
    lx.expect("stream")
    if (lx.peek == '\r') lx.at += 1
    if (lx.peek == '\n') lx.at += 1
    else reject("malformed", "stream keyword not followed by EOL")
    def directInt(key: String): Option[Int] = dict.get(key) match {
      case Some(PNum(v)) => Some(v.toInt)
      case Some(other) =>
        reject("malformed", s"xref stream /$key must be direct, got $other")
      case None => None
    }
    val len = directInt("Length").getOrElse(
      reject("malformed", "xref stream without direct /Length"))
    if (len < 0 || lx.at + len > b.length)
      reject("malformed", "xref stream data truncated")
    val raw = java.util.Arrays.copyOfRange(b, lx.at, lx.at + len)
    // the array forms (/Filter [ /FlateDecode ], /DecodeParms
    // [ <<...>> ]) are spec-legal spellings of the single case
    val filterNames: Seq[String] = dict.get("Filter") match {
      case None | Some(PNull) => Seq.empty
      case Some(PName(f)) => Seq(f)
      case Some(PArr(items)) => items.map {
        case PName(f) => f
        case other => reject("malformed", s"bad xref /Filter entry $other")
      }
      case Some(other) => reject("malformed", s"bad xref /Filter $other")
    }
    val inflated = filterNames match {
      case Seq() => raw
      case Seq("FlateDecode") => inflateZlib(raw)
      case other =>
        reject("filter",
          s"unsupported xref stream filter ${other.mkString("/")}")
    }
    val parmsDict: Option[Map[String, Obj]] =
      dict.get("DecodeParms") match {
        case None | Some(PNull) => None
        case Some(PDict(m)) => Some(m)
        case Some(PArr(items)) => items.headOption match {
          case Some(PDict(m)) => Some(m)
          case Some(PNull) | None => None
          case Some(other) =>
            reject("malformed", s"bad /DecodeParms slot $other")
        }
        case Some(other) =>
          reject("malformed", s"bad /DecodeParms $other")
      }
    val data = parmsDict match {
      case None => inflated
      case Some(parms) =>
        def parmInt(key: String, dflt: Int): Int = parms.get(key) match {
          case Some(PNum(v)) => v.toInt
          case None => dflt
          case Some(other) =>
            reject("malformed", s"bad /DecodeParms /$key $other")
        }
        unpredict(inflated, parmInt("Predictor", 1),
          parmInt("Columns", 1), parmInt("Colors", 1),
          parmInt("BitsPerComponent", 8))
    }
    val w = dict.get("W") match {
      case Some(PArr(items)) if items.length == 3 =>
        items.map {
          case PNum(v) if v >= 0 && v <= 8 => v.toInt
          case other => reject("malformed", s"bad /W width $other")
        }
      case other => reject("malformed", s"bad xref stream /W $other")
    }
    val size = directInt("Size").getOrElse(
      reject("malformed", "xref stream without /Size"))
    val index: Seq[(Int, Int)] = dict.get("Index") match {
      case None => Seq((0, size))
      case Some(PArr(items)) if items.length % 2 == 0 =>
        items.grouped(2).map {
          case Vector(PNum(s), PNum(c)) => (s.toInt, c.toInt)
          case other => reject("malformed", s"bad /Index pair $other")
        }.toSeq
      case Some(other) => reject("malformed", s"bad /Index $other")
    }
    val rowLen = w.sum
    if (rowLen == 0) reject("malformed", "zero-width xref stream rows")
    var p = 0
    def field(width: Int, dflt: Long): Long = {
      if (width == 0) return dflt
      var v = 0L
      var i = 0
      while (i < width) { v = (v << 8) | (data(p + i) & 0xFF); i += 1 }
      p += width
      v
    }
    index.foreach { case (start, count) =>
      var i = 0
      while (i < count) {
        if (p + rowLen > data.length)
          reject("malformed", "xref stream rows truncated")
        val t = field(w(0), 1L) // absent type field defaults to 1
        val f2 = field(w(1), 0L)
        val f3 = field(w(2), 0L)
        val num = start + i
        if (!locs.contains(num)) t match {
          case 0 => locs(num) = Free // shadows older in-use entries
          case 1 => locs(num) = InFile(f2)
          case 2 => locs(num) = InStm(f2.toInt, f3.toInt)
          case other =>
            reject("malformed", s"unknown xref entry type $other")
        }
        i += 1
      }
    }
    dict
  }

  /** Invert the PNG row predictor over `/W`-packed xref (or any)
    * stream data: per row a filter byte then `rowLen` bytes;
    * None/Sub/Up/Average/Paeth per the PNG spec (the same inversions
    * [[PixelCodec]] runs for image rows). Predictor 1 = identity;
    * 2 is TIFF horizontal differencing (8-bit components only — the
    * sub-byte form needs bit-packed carry and is a named rejection).
    */
  private def unpredict(data: Array[Byte], predictor: Int,
                        columns: Int, colors: Int,
                        bpc: Int): Array[Byte] = {
    if (predictor == 1) return data
    if (columns <= 0 || colors <= 0 || bpc <= 0)
      reject("malformed", "bad predictor geometry")
    if (predictor == 2) {
      // TIFF 6.0 horizontal differencing: no per-row filter byte;
      // each component adds its left neighbor within the row
      if (bpc != 8)
        reject("filter",
          s"TIFF predictor with $bpc-bit components (only 8-bit " +
            "horizontal differencing is verifiable byte-wise)")
      val rowLen = columns * colors
      if (rowLen <= 0 || data.length % rowLen != 0)
        reject("malformed", "TIFF-predicted data is not whole rows")
      val out = new Array[Byte](data.length)
      var r = 0
      while (r < data.length / rowLen) {
        val base = r * rowLen
        var i = 0
        while (i < rowLen) {
          val left = if (i >= colors) out(base + i - colors) & 0xFF else 0
          out(base + i) = (((data(base + i) & 0xFF) + left) & 0xFF).toByte
          i += 1
        }
        r += 1
      }
      return out
    }
    if (predictor < 10)
      reject("filter", s"unsupported predictor $predictor")
    // CEILING bytes-per-pixel (poppler/pdf.js convention): 3 colors x
    // 4 bits = 12 bits is a 2-byte left-neighbor distance, not 1.
    // (These are the same five inversions PixelCodec runs for image
    // rows; its copies are fused into its scanline decode loop, so the
    // xref/stream form lives here — keep the two in sync.)
    val bpp = math.max(1, (colors * bpc + 7) / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (data.length % (rowLen + 1) != 0)
      reject("malformed", "predicted data is not whole rows")
    val rows = data.length / (rowLen + 1)
    val out = new Array[Byte](rows * rowLen)
    var r = 0
    while (r < rows) {
      val ft = data(r * (rowLen + 1)) & 0xFF
      val src0 = r * (rowLen + 1) + 1
      val dst = r * rowLen
      val prev = dst - rowLen
      var i = 0
      while (i < rowLen) {
        val x = data(src0 + i) & 0xFF
        val a = if (i >= bpp) out(dst + i - bpp) & 0xFF else 0
        val bUp = if (r > 0) out(prev + i) & 0xFF else 0
        val c = if (r > 0 && i >= bpp) out(prev + i - bpp) & 0xFF else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + bUp
          case 3 => x + ((a + bUp) >> 1)
          case 4 =>
            val pp = a + bUp - c
            val pa = math.abs(pp - a)
            val pb = math.abs(pp - bUp)
            val pc = math.abs(pp - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) bUp else c)
          case other =>
            reject("malformed", s"unknown PNG row filter $other")
        }
        out(dst + i) = (v & 0xFF).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  // ------------------------------------------------------ decryption

  /** ISO 32000-1 §7.6 standard security handler, EMPTY-user-password
    * only — the overwhelmingly common "encrypted" PDF in a crawl is
    * permissions-encrypted with a blank user password, and both the
    * key derivation (MD5, Algorithms 2–5) and the ciphers (RC4,
    * AES-128-CBC) are published, deterministic and offline-verifiable
    * — unlike a real password search, which stays a named rejection.
    * Supported: /Filter /Standard with V1/V2 (RC4), V4 crypt filters
    * whose /StmF and /StrF are the /StdCF with /CFM /V2 (RC4) or
    * /AESV2 (AES-128-CBC, IV-prefixed, PKCS#5), and V5/R5-R6
    * (AES-256: SHA-2 password hashes — R6 via the hardened
    * Algorithm 2.B — file key from /UE, /Perms sanity, data under the
    * file key directly). Everything else — non-standard handlers,
    * Identity or per-class crypt filters, a U value the empty
    * password cannot reproduce — rejects as `encrypted` with the
    * reason named.
    */
  private val pwdPad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A)
    .map(_.toByte)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val m = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(m.update)
    m.digest()
  }

  /** PAD(pwd): the password's bytes then the pad, truncated to 32. */
  private[graft] def padPwd(pwd: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    val n = math.min(pwd.length, 32)
    System.arraycopy(pwd, 0, out, 0, n)
    System.arraycopy(pwdPad, 0, out, n, 32 - n)
    out
  }

  private[graft] def rc4(key: Array[Byte],
                         data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(identity)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + (key(i % key.length) & 0xFF)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0
    var y = 0
    i = 0
    while (i < data.length) {
      x = (x + 1) & 0xFF
      y = (y + s(x)) & 0xFF
      val t = s(x); s(x) = s(y); s(y) = t
      out(i) = (data(i) ^ s((s(x) + s(y)) & 0xFF)).toByte
      i += 1
    }
    out
  }

  private def xorKey(key: Array[Byte], i: Int): Array[Byte] =
    key.map(b => (b ^ i).toByte)

  private def le(v: Long, bytes: Int): Array[Byte] =
    Array.tabulate(bytes)(i => ((v >> (8 * i)) & 0xFF).toByte)

  /** Algorithm 2: the file encryption key for a (padded) user
    * password. `n` = key length in bytes.
    */
  private[graft] def fileKey(userPwd: Array[Byte], o: Array[Byte],
                             p: Int, id0: Array[Byte], r: Int, n: Int,
                             encryptMetadata: Boolean): Array[Byte] = {
    val extra =
      if (r >= 4 && !encryptMetadata)
        Array(0xFF, 0xFF, 0xFF, 0xFF).map(_.toByte)
      else Array.emptyByteArray
    var key = md5(padPwd(userPwd), o, le(p.toLong & 0xFFFFFFFFL, 4),
      id0, extra).take(n)
    if (r >= 3) {
      var i = 0
      while (i < 50) { key = md5(key).take(n); i += 1 }
    }
    key
  }

  /** Algorithm 3: the /O value from owner + user passwords. */
  private[graft] def ownerValue(ownerPwd: Array[Byte],
                                userPwd: Array[Byte], r: Int,
                                n: Int): Array[Byte] = {
    var d = md5(padPwd(ownerPwd))
    if (r >= 3) { var i = 0; while (i < 50) { d = md5(d); i += 1 } }
    val k = d.take(n)
    var o = rc4(k, padPwd(userPwd))
    if (r >= 3) {
      var i = 1
      while (i <= 19) { o = rc4(xorKey(k, i), o); i += 1 }
    }
    o
  }

  /** Algorithms 4/5: the /U value for a file key. R2 is 32 bytes; R≥3
    * is 16 significant bytes (padded with zeros to 32 on write, only
    * the first 16 compared).
    */
  private[graft] def userValue(key: Array[Byte], id0: Array[Byte],
                               r: Int): Array[Byte] =
    if (r == 2) rc4(key, pwdPad)
    else {
      var u = rc4(key, md5(pwdPad, id0))
      var i = 1
      while (i <= 19) { u = rc4(xorKey(key, i), u); i += 1 }
      u ++ new Array[Byte](16)
    }

  private val aesSalt: Array[Byte] =
    Array(0x73, 0x41, 0x6C, 0x54).map(_.toByte) // "sAlT"

  private def sha(alg: String, parts: Array[Byte]*): Array[Byte] = {
    val m = java.security.MessageDigest.getInstance(alg)
    parts.foreach(m.update)
    m.digest()
  }

  private[graft] def aesCbc(encrypt: Boolean, key: Array[Byte],
                            iv: Array[Byte],
                            data: Array[Byte]): Array[Byte] =
    try {
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(if (encrypt) javax.crypto.Cipher.ENCRYPT_MODE
        else javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      c.doFinal(data)
    } catch {
      case e: java.security.GeneralSecurityException =>
        reject("encrypted", s"AES failed: ${e.getMessage}")
    }

  /** ISO 32000-2 Algorithm 2.B — the R6 hardened password hash (R5 is
    * the plain SHA-256 step). `udata` is empty for the user password,
    * the 48-byte /U for the owner password.
    */
  private[graft] def hash2B(pwd: Array[Byte], salt: Array[Byte],
                            udata: Array[Byte], r: Int): Array[Byte] = {
    var k = sha("SHA-256", pwd, salt, udata)
    if (r == 5) return k
    var i = 0
    var done = false
    while (!done) {
      val round = pwd ++ k ++ udata
      val k1 = new java.io.ByteArrayOutputStream(round.length * 64)
      var j = 0
      while (j < 64) { k1.write(round); j += 1 }
      val e = aesCbc(encrypt = true, k.take(16),
        java.util.Arrays.copyOfRange(k, 16, 32), k1.toByteArray)
      // first-16-bytes-as-big-endian-integer mod 3 ≡ byte-sum mod 3
      // (256 ≡ 1 mod 3), the form every open implementation computes
      var sum = 0
      var b = 0
      while (b < 16) { sum += e(b) & 0xFF; b += 1 }
      k = sha(Seq("SHA-256", "SHA-384", "SHA-512")(sum % 3), e)
      i += 1
      if (i >= 64 && (e(e.length - 1) & 0xFF) <= i - 32) done = true
    }
    k.take(32)
  }

  // hash2B is a pure function of (pwd, salt, udata, r), and the SAME
  // tuple recurs for every string/stream of one file (and for every
  // planted fixture row) — without a memo the 64+-round R6 loop
  // re-runs per evaluation. Capacity-capped and cleared when full:
  // hostile input has unbounded distinct salts, and a clear-on-full
  // map cannot leak where an unbounded one would.
  private val hash2BMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  private[graft] def hash2BCached(pwd: Array[Byte], salt: Array[Byte],
                                  udata: Array[Byte],
                                  r: Int): Array[Byte] = {
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xFF}%02x").mkString
    val key = s"${hex(pwd)}|${hex(salt)}|${hex(udata)}|$r"
    val hit = hash2BMemo.get(key)
    if (hit != null) return hit
    val v = hash2B(pwd, salt, udata, r)
    if (hash2BMemo.size() > 1024) hash2BMemo.clear()
    hash2BMemo.put(key, v)
    v
  }

  private final class Decryptor(key: Array[Byte], aes: Boolean,
                                perObject: Boolean) {
    private def objKey(num: Int, gen: Int): Array[Byte] = {
      if (!perObject) return key // V5: the file key IS the data key
      val salt = if (aes) aesSalt else Array.emptyByteArray
      md5(key, le(num.toLong, 3), le(gen.toLong, 2), salt)
        .take(math.min(key.length + 5, 16))
    }
    def dec(num: Int, gen: Int, data: Array[Byte]): Array[Byte] =
      if (!aes) rc4(objKey(num, gen), data)
      else {
        // AES-128-CBC, 16-byte IV prefix, PKCS#5 padding. The key was
        // U-verified, so block/padding damage means a corrupt file.
        // Exception: some real writers emit the zero-length literal ()
        // unencrypted inside encrypted files; poppler/pdf.js pass it
        // through, so an empty payload decodes to the empty string.
        if (data.isEmpty) return data
        if (data.length < 32 || data.length % 16 != 0)
          reject("malformed", "AES payload is not whole blocks")
        val plain =
          try {
            val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
            c.init(javax.crypto.Cipher.DECRYPT_MODE,
              new javax.crypto.spec.SecretKeySpec(objKey(num, gen), "AES"),
              new javax.crypto.spec.IvParameterSpec(data, 0, 16))
            c.doFinal(data, 16, data.length - 16)
          } catch {
            case e: java.security.GeneralSecurityException =>
              reject("malformed", s"AES decrypt failed: ${e.getMessage}")
          }
        val pad = plain(plain.length - 1) & 0xFF
        if (pad < 1 || pad > 16 || pad > plain.length)
          reject("malformed", "bad AES padding")
        var i = plain.length - pad
        while (i < plain.length) {
          if ((plain(i) & 0xFF) != pad)
            reject("malformed", "bad AES padding bytes")
          i += 1
        }
        java.util.Arrays.copyOf(plain, plain.length - pad)
      }
  }

  /** Resolve the trailer's /Encrypt into a [[Decryptor]] — every
    * unsupported shape rejects as `encrypted` with the reason named,
    * and an /Encrypt that cannot even be READ (a dangling reference)
    * is still an encrypted document.
    */
  private def buildDecryptor(doc: Doc, encObj: Obj,
                             idObj: Option[Obj]): Decryptor = {
    val enc = (try doc.resolve(encObj) catch {
      case e: Reject if e.codec == "pdf" && e.kind != "encrypted" =>
        reject("encrypted", s"unreadable /Encrypt dict (${e.getMessage})")
    }) match {
      case PDict(m) => m
      case other => reject("encrypted", s"/Encrypt is $other")
    }
    def num(k: String, dflt: Int): Int =
      enc.get(k).map(doc.resolve) match {
        case Some(PNum(v)) => v.toInt
        case None => dflt
        case Some(other) => reject("encrypted", s"bad /Encrypt /$k $other")
      }
    doc.resolve(enc.getOrElse("Filter", PNull)) match {
      case PName("Standard") => ()
      case other => reject("encrypted", s"security handler $other")
    }
    val v = num("V", 0)
    val r = num("R", 0)
    def bytesN(k: String, n: Int): Array[Byte] =
      doc.resolve(enc.getOrElse(k, PNull)) match {
        case PStr(b) if b.length >= n => b.take(n)
        case other => reject("encrypted", s"bad /Encrypt /$k $other")
      }
    def stdCfm(): String = {
      val cf = doc.resolve(enc.getOrElse("CF", PNull)) match {
        case PDict(m) => m
        case other => reject("encrypted", s"V$v without /CF ($other)")
      }
      val stdcf = doc.resolve(cf.getOrElse("StdCF", PNull)) match {
        case PDict(m) => m
        case other => reject("encrypted", s"V$v without /StdCF ($other)")
      }
      Seq("StmF", "StrF").foreach { k =>
        doc.resolve(enc.getOrElse(k, PNull)) match {
          case PName("StdCF") => ()
          case other =>
            reject("encrypted", s"/$k $other (only /StdCF decodes)")
        }
      }
      doc.resolve(stdcf.getOrElse("CFM", PNull)) match {
        case PName(m) => m
        case other => reject("encrypted", s"bad crypt filter method $other")
      }
    }
    if (v == 5) {
      // PDF 2.0 / AES-256: SHA-2 password hashes (R5 plain, R6
      // hardened Algorithm 2.B), the file key decrypted from /UE,
      // data under AES-256-CBC with the FILE key (no per-object key)
      if (r != 5 && r != 6)
        reject("encrypted", s"V5 with revision $r unsupported")
      if (stdCfm() != "AESV3")
        reject("encrypted", "V5 without an AESV3 crypt filter")
      val uFull = bytesN("U", 48)
      val ue = bytesN("UE", 32)
      val vsalt = java.util.Arrays.copyOfRange(uFull, 32, 40)
      val ksalt = java.util.Arrays.copyOfRange(uFull, 40, 48)
      val check = hash2BCached(Array.emptyByteArray, vsalt,
        Array.emptyByteArray, r)
      if (!java.util.Arrays.equals(check,
        java.util.Arrays.copyOf(uFull, 32)))
        reject("encrypted",
          "user password required (empty password does not open this file)")
      val ik = hash2BCached(Array.emptyByteArray, ksalt,
        Array.emptyByteArray, r)
      val key = aesCbc(encrypt = false, ik, new Array[Byte](16), ue)
      // /Perms sanity (§7.6.4.4.12): bytes 9-11 of the decrypted
      // block must read 'adb' under the true file key
      enc.get("Perms").map(doc.resolve).foreach {
        case PStr(pb) if pb.length >= 16 =>
          val p2 = try {
            val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
            c.init(javax.crypto.Cipher.DECRYPT_MODE,
              new javax.crypto.spec.SecretKeySpec(key, "AES"))
            c.doFinal(pb.take(16))
          } catch {
            case e: java.security.GeneralSecurityException =>
              reject("encrypted", s"/Perms check failed: ${e.getMessage}")
          }
          if (p2(9) != 'a' || p2(10) != 'd' || p2(11) != 'b')
            reject("encrypted", "/Perms does not validate under the key")
        case other => reject("encrypted", s"bad /Perms $other")
      }
      return new Decryptor(key, aes = true, perObject = false)
    }
    if (r < 2 || r > 4)
      reject("encrypted", s"standard handler revision $r unsupported")
    def bytes32(k: String): Array[Byte] = bytesN(k, 32)
    val o = bytes32("O")
    val u = bytes32("U")
    // /P is a 32-BIT field some writers store in unsigned decimal
    // form (e.g. 4294963952 = -3344): Double.toInt would saturate at
    // Int.MaxValue and derive the wrong key — mask to the low 32 bits
    // (the poppler/pdf.js reading) instead
    val p = enc.get("P").map(doc.resolve) match {
      case Some(PNum(v)) => v.toLong.toInt
      case None => 0
      case Some(other) => reject("encrypted", s"bad /Encrypt /P $other")
    }
    val encryptMetadata =
      doc.resolve(enc.getOrElse("EncryptMetadata", PNull)) match {
        case PBool(b) => b
        case PNull => true
        case other => reject("encrypted", s"bad /EncryptMetadata $other")
      }
    val (aes, n) = v match {
      case 1 => (false, 5)
      case 2 =>
        val bits = num("Length", 40)
        if (bits < 40 || bits > 128 || bits % 8 != 0)
          reject("encrypted", s"bad RC4 key length $bits")
        (false, bits / 8)
      case 4 => stdCfm() match {
        case "V2" => (false, 16)
        case "AESV2" => (true, 16)
        case other => reject("encrypted", s"crypt filter method /$other")
      }
      case other =>
        reject("encrypted", s"encryption version V=$other unsupported")
    }
    val id0: Array[Byte] = idObj.map(doc.resolve) match {
      case Some(PArr(items)) if items.nonEmpty =>
        doc.resolve(items.head) match {
          case PStr(b) => b
          case other => reject("encrypted", s"bad /ID entry $other")
        }
      // a missing /ID is a spec violation some real writers commit;
      // the empty string is the deterministic lenient reading
      case None => Array.emptyByteArray
      case Some(other) => reject("encrypted", s"bad /ID $other")
    }
    val key = fileKey(Array.emptyByteArray, o, p, id0, r, n,
      encryptMetadata)
    val expectU = userValue(key, id0, r)
    val cmp = if (r == 2) 32 else 16
    var i = 0
    var ok = true
    while (i < cmp) { if (expectU(i) != u(i)) ok = false; i += 1 }
    if (!ok)
      reject("encrypted",
        "user password required (empty password does not open this file)")
    new Decryptor(key, aes, perObject = true)
  }

  // ------------------------------------------------- document loading

  private final class Doc(val b: Array[Byte], locs: Map[Int, Loc]) {
    /** Installed AFTER the /Encrypt dict itself resolves (its own
      * strings are exempt and stay cached undecrypted).
      */
    var dec: Option[Decryptor] = None
    private val cache = scala.collection.mutable.HashMap.empty[Int, Obj]
    private val stmCache =
      scala.collection.mutable.HashMap.empty[Int, (Array[(Int, Int)], Array[Byte], Int)]
    // objects whose load is IN PROGRESS: an ObjStm whose own dict
    // keys (/Length, /Filter, /N, /First) reference an object stored
    // inside itself would re-enter load() with a fresh resolve depth
    // each cycle — the depth guard never fires, and the resulting
    // StackOverflowError is fatal (escapes the expression's catch)
    private val loading = scala.collection.mutable.HashSet.empty[Int]

    def load(num: Int): Obj = cache.get(num) match {
      case Some(o) => o
      case None =>
        if (!loading.add(num))
          reject("malformed",
            s"object $num participates in a load cycle")
        try {
          val o = locs.getOrElse(num,
            reject("malformed", s"object $num not in xref")) match {
            case InFile(off) => loadAt(num, off)
            case InStm(stm, idx) => loadFromStm(num, stm, idx)
            case Free => PNull // a freed object resolves to null (spec)
          }
          cache(num) = o
          o
        } finally loading.remove(num)
    }

    private def loadAt(num: Int, off: Long): Obj = {
      if (off < 0 || off >= b.length)
        reject("malformed", s"object $num offset $off out of range")
      val lx = new Lex(b, off.toInt)
      val n = lx.token()
      val g = lx.token()
      if (!uint(n).contains(num) || !g.forall(_.isDigit))
        reject("malformed", s"object header mismatch at $off: '$n $g'")
      lx.expect("obj")
      val obj = parseObj(lx)
      lx.skipWs()
      val save = lx.at
      val kw = scala.util.Try(lx.token()).getOrElse("")
      if (kw == "stream") {
        val dict = obj match {
          case d: PDict => d
          case _ => reject("malformed", "stream without a dict")
        }
        // EOL after `stream`: CRLF or LF
        if (lx.peek == '\r') lx.at += 1
        if (lx.peek == '\n') lx.at += 1
        else reject("malformed", "stream keyword not followed by EOL")
        val len = resolve(dict.m.getOrElse("Length",
          reject("malformed", "stream without /Length"))) match {
          case PNum(v) if v >= 0 => v.toInt
          case _ => reject("malformed", "bad stream /Length")
        }
        if (lx.at + len > b.length)
          reject("malformed", "stream data truncated")
        val data = java.util.Arrays.copyOfRange(b, lx.at, lx.at + len)
        lx.at += len
        lx.skipWs()
        lx.expect("endstream")
        decryptObj(PStream(dict, data), num, g.toInt)
      } else {
        lx.at = save
        decryptObj(obj, num, g.toInt)
      }
    }

    /** Decrypt every string and stream payload of a FILE-resident
      * object with its per-object key. Objects inside an ObjStm are
      * NOT walked (§7.6.2: the container stream was decrypted whole;
      * its members' strings are not encrypted individually) — they
      * load through [[loadFromStm]], which never calls this.
      */
    private def decryptObj(o: Obj, num: Int, gen: Int): Obj = dec match {
      case None => o
      case Some(d) =>
        def walk(x: Obj): Obj = x match {
          case PStr(b) => PStr(d.dec(num, gen, b))
          case PArr(items) => PArr(items.map(walk))
          case PDict(m) => PDict(m.map { case (k, v) => k -> walk(v) })
          case PStream(dict, data) =>
            PStream(walk(dict).asInstanceOf[PDict], d.dec(num, gen, data))
          case other => other
        }
        walk(o)
    }

    /** An object stored inside an `/Type /ObjStm` container (PDF 1.5):
      * the container's decoded bytes open with `/N` pairs of
      * `objnum offset` tokens, objects start at `/First + offset`.
      * Containers must themselves live IN FILE (the spec forbids
      * nesting) — enforced, or a crafted chain would recurse.
      */
    private def loadFromStm(num: Int, stmNum: Int, idx: Int): Obj = {
      val (pairs, data, first) = stmCache.getOrElseUpdate(stmNum, {
        locs.get(stmNum) match {
          case Some(InFile(_)) => ()
          case _ => reject("malformed",
            s"object stream $stmNum is not stored in the file")
        }
        val st = load(stmNum) match {
          case s: PStream => s
          case other =>
            reject("malformed", s"object stream $stmNum is $other")
        }
        if (!st.dict.m.get("Type").contains(PName("ObjStm")))
          reject("malformed", s"object $stmNum is not /Type /ObjStm")
        val data = streamBytes(this, st)
        val nObjs = resolve(st.dict.m.getOrElse("N", PNull)) match {
          case PNum(v) if v >= 0 => v.toInt
          case other => reject("malformed", s"bad ObjStm /N $other")
        }
        val first = resolve(st.dict.m.getOrElse("First", PNull)) match {
          case PNum(v) if v >= 0 => v.toInt
          case other => reject("malformed", s"bad ObjStm /First $other")
        }
        val hlx = new Lex(data, 0)
        val pairs = Array.tabulate(nObjs) { _ =>
          val on = hlx.token()
          val off = hlx.token()
          (uint(on), uint(off)) match {
            case (Some(o), Some(f)) => (o, f)
            case _ => reject("malformed", s"bad ObjStm header pair '$on $off'")
          }
        }
        (pairs, data, first)
      })
      if (idx < 0 || idx >= pairs.length)
        reject("malformed",
          s"ObjStm index $idx out of range (${pairs.length} objects)")
      val (objNum, off) = pairs(idx)
      if (objNum != num)
        reject("malformed",
          s"ObjStm slot $idx holds object $objNum, xref said $num")
      if (first + off >= data.length)
        reject("malformed", "ObjStm object offset out of range")
      // objects inside a container are direct (no streams, no
      // obj/endobj wrapper) per the spec
      parseObj(new Lex(data, first + off))
    }

    def resolve(o: Obj): Obj = resolve(o, 0)

    // depth-guarded: a self- or mutually-referential indirect object
    // ('5 0 obj 6 0 R endobj' + '6 0 obj 5 0 R endobj') must be a
    // NAMED rejection, not a StackOverflowError (fatal, so it would
    // escape the expression's catch and kill the task)
    private def resolve(o: Obj, depth: Int): Obj = o match {
      case PRef(n, _) =>
        if (depth > 64)
          reject("malformed", s"indirect-reference chain past depth 64")
        resolve(load(n), depth + 1)
      case other => other
    }
  }

  // -------------------------------------------------------- filters

  /** Decoded stream bytes: raw, or FlateDecode (zlib, RFC 1950). */
  private def streamBytes(doc: Doc, st: PStream): Array[Byte] = {
    val filters: Seq[String] = doc.resolve(
      st.dict.m.getOrElse("Filter", PNull)) match {
      case PNull => Seq.empty
      case PName(f) => Seq(f)
      case PArr(items) => items.map {
        case PName(f) => f
        case other => reject("malformed", s"bad /Filter entry $other")
      }
      case other => reject("malformed", s"bad /Filter $other")
    }
    // per-filter parameters: a single dict applies to the single
    // filter; an array parallels the filter array (null slots = none)
    val parms: Int => Map[String, Obj] = doc.resolve(
      st.dict.m.getOrElse("DecodeParms", PNull)) match {
      case PNull => _ => Map.empty
      case PDict(m) => i => if (i == 0) m else Map.empty
      case PArr(items) => i =>
        if (i < items.length) doc.resolve(items(i)) match {
          case PDict(m) => m
          case PNull => Map.empty
          case other => reject("malformed", s"bad /DecodeParms slot $other")
        } else Map.empty
      case other => reject("malformed", s"bad /DecodeParms $other")
    }
    def parmInt(m: Map[String, Obj], key: String, dflt: Int): Int =
      m.get(key).map(doc.resolve) match {
        case Some(PNum(v)) => v.toInt
        case None => dflt
        case Some(other) =>
          reject("malformed", s"bad /DecodeParms /$key $other")
      }
    filters.zipWithIndex.foldLeft(st.data) { case (data, (f, i)) =>
      val pm = parms(i)
      def predicted(decoded: Array[Byte]): Array[Byte] =
        unpredict(decoded, parmInt(pm, "Predictor", 1),
          parmInt(pm, "Columns", 1), parmInt(pm, "Colors", 1),
          parmInt(pm, "BitsPerComponent", 8))
      f match {
        case "FlateDecode" => predicted(inflateZlib(data))
        case "LZWDecode" =>
          predicted(lzwDecode(data, parmInt(pm, "EarlyChange", 1)))
        case "ASCII85Decode" => ascii85Decode(data)
        case "ASCIIHexDecode" => asciiHexDecode(data)
        case "RunLengthDecode" => runLengthDecode(data)
        case other => reject("filter", s"unsupported filter $other")
      }
    }
  }

  /** LZWDecode (ISO 32000-1 §7.4.4 = TIFF LZW): 9→12-bit codes packed
    * MSB-first, 256 = clear-table, 257 = EOD, code width grows one
    * entry EARLY under the default `/EarlyChange 1`. Strict: a stream
    * that exhausts its bits before EOD, or names a code the table
    * does not hold, is malformed.
    */
  private[graft] def lzwDecode(data: Array[Byte],
                                   earlyChange: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    var width = 9
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    def next(): Int = {
      while (bitCnt < width) {
        if (pos >= data.length)
          reject("malformed", "LZW stream ends before EOD")
        bitBuf = (bitBuf << 8) | (data(pos) & 0xFF)
        pos += 1; bitCnt += 8
      }
      val v = ((bitBuf >> (bitCnt - width)) & ((1L << width) - 1)).toInt
      bitCnt -= width
      v
    }
    var prev: Array[Byte] = null
    var done = false
    while (!done) {
      val code = next()
      if (code == 257) done = true
      else if (code == 256) { dictSize = 258; width = 9; prev = null }
      else {
        val entry: Array[Byte] =
          if (code < 256) Array(code.toByte)
          else if (code < dictSize && code >= 258) dict(code)
          else if (code == dictSize && prev != null) prev :+ prev(0)
          else reject("malformed", s"LZW code $code outside the table")
        if (out.size().toLong + entry.length > maxStreamBytes)
          reject("malformed",
            s"LZW output past the $maxStreamBytes-byte cap")
        out.write(entry)
        if (prev != null && dictSize < 4096) {
          dict(dictSize) = prev :+ entry(0)
          dictSize += 1
        }
        prev = entry
        if (width < 12 && dictSize + earlyChange > (1 << width) - 1)
          width += 1
      }
    }
    out.toByteArray
  }

  /** ASCII85Decode (§7.4.3): 5 chars `!`..`u` → 4 bytes base-85,
    * `z` = four zero bytes (group start only), whitespace skipped,
    * `~>` terminates; a trailing group of n chars yields n−1 bytes.
    */
  private[graft] def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var n = 0
    var i = 0
    var done = false
    def flush(chars: Int): Unit = {
      var v = acc
      var pad = 5 - chars
      var k = pad
      while (k > 0) { v = v * 85 + 84; k -= 1 } // pad with 'u'
      // a group above 2^32-1 ('s8W-!' is the legal max) cannot come
      // from any encoder — truncating it would emit silently wrong
      // bytes, the one thing this codec never does
      if (v > 0xFFFFFFFFL)
        reject("malformed", "ASCII85 group exceeds 2^32-1")
      if (chars >= 2) {
        val bytes = Array(((v >> 24) & 0xFF).toByte,
          ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
          (v & 0xFF).toByte)
        out.write(bytes, 0, chars - 1)
      } else if (chars == 1)
        reject("malformed", "ASCII85 group of one char")
      acc = 0L; n = 0
    }
    while (i < data.length && !done) {
      val c = data(i) & 0xFF
      if (c == '~') {
        if (i + 1 >= data.length || data(i + 1) != '>')
          reject("malformed", "bad ASCII85 terminator")
        if (n > 0) flush(n)
        done = true
      } else if (isWs(c)) ()
      else if (c == 'z' && n == 0) out.write(Array[Byte](0, 0, 0, 0))
      else if (c >= '!' && c <= 'u') {
        acc = acc * 85 + (c - '!')
        n += 1
        if (n == 5) flush(5)
      } else reject("malformed", f"bad ASCII85 byte 0x$c%02x")
      i += 1
    }
    if (!done) reject("malformed", "ASCII85 stream missing '~>'")
    out.toByteArray
  }

  /** ASCIIHexDecode (§7.4.2): hex pairs, whitespace skipped, `>`
    * terminates, an odd final digit pads a zero nibble.
    */
  private[graft] def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i) & 0xFF
      if (c == '>') {
        if (hi >= 0) out.write(hi << 4)
        done = true
      } else if (!isWs(c)) {
        val v =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else reject("malformed", f"bad ASCIIHex byte 0x$c%02x")
        if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    if (!done) reject("malformed", "ASCIIHex stream missing '>'")
    out.toByteArray
  }

  /** RunLengthDecode (§7.4.5): length byte L — 0..127 copies L+1
    * literal bytes, 129..255 repeats the next byte 257−L times,
    * 128 = EOD.
    */
  private[graft] def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    var done = false
    while (!done) {
      if (i >= data.length)
        reject("malformed", "RunLength stream ends before EOD")
      val l = data(i) & 0xFF
      i += 1
      if (l == 128) done = true
      else if (l < 128) {
        if (i + l + 1 > data.length)
          reject("malformed", "RunLength literal run truncated")
        out.write(data, i, l + 1)
        i += l + 1
      } else {
        if (i >= data.length)
          reject("malformed", "RunLength repeat run truncated")
        val n = 257 - l
        val bb = data(i)
        i += 1
        var k = 0
        while (k < n) { out.write(bb); k += 1 }
      }
      if (out.size() > maxStreamBytes)
        reject("malformed",
          s"RunLength output past the $maxStreamBytes-byte cap")
    }
    out.toByteArray
  }

  /** Inflate cap: a content stream bigger than this is a
    * decompression bomb, not a document — the [[graft.sources.WarcGz]]
    * `maxMemberBytes` discipline (an OOM is fatal and would escape the
    * expression's per-row catch; the cap keeps it a named rejection).
    */
  val maxStreamBytes: Int = 1 << 30

  private def inflateZlib(data: Array[Byte]): Array[Byte] = {
    val z = Inflate("pdf", data, 0, data.length, zlib = true,
      maxStreamBytes,
      s"flate stream inflates past the $maxStreamBytes-byte cap")
    if (!z.ended) reject("malformed", "truncated flate stream")
    z.bytes
  }

  // ----------------------------------------------------- text decode

  /** WHATWG/cp1252 mapping for 0x80–0x9F; the five undefined WinAnsi
    * positions are 0 here and reject (same table discipline as
    * [[graft.functions.CharsetDecode]], independently derived from the
    * published code chart).
    */
  private val winAnsiHigh: Array[Char] = {
    val a = new Array[Char](32)
    val defined = Map(
      0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
      0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
      0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
      0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
      0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
      0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
      0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178)
    defined.foreach { case (k, v) => a(k - 0x80) = v.toChar }
    a
  }

  /** How the current font turns string bytes into text. */
  private sealed trait FontDec
  /** No usable base table: ASCII passes, any high byte rejects. */
  private case object FontStd extends FontDec
  private case object FontWinAnsi extends FontDec
  /** Simple font with `/Differences`: explicit code → text overrides,
    * everything else through the base.
    */
  private final case class FontDiff(base: FontDec,
                                    over: Map[Int, String]) extends FontDec
  /** Type0/Identity with a ToUnicode CMap: 2-byte code → text. */
  private final case class FontCid(toUni: Map[Int, String]) extends FontDec

  /** Embedded Adobe Glyph List subset — the Latin-1 and common
    * typographic names (the set a `/Differences` array over Western
    * text draws from), independently keyed from the published list.
    * Names outside it reject by name rather than guess.
    */
  private val glyphUni: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    def put(name: String, cp: Int): Unit =
      m.put(name, new String(Character.toChars(cp)))
    // ASCII
    ('A' to 'Z').foreach(c => put(c.toString, c.toInt))
    ('a' to 'z').foreach(c => put(c.toString, c.toInt))
    Seq("zero", "one", "two", "three", "four", "five", "six", "seven",
      "eight", "nine").zipWithIndex.foreach { case (n, i) =>
      put(n, '0' + i)
    }
    Seq("space" -> 0x20, "exclam" -> 0x21, "quotedbl" -> 0x22,
      "numbersign" -> 0x23, "dollar" -> 0x24, "percent" -> 0x25,
      "ampersand" -> 0x26, "quotesingle" -> 0x27, "parenleft" -> 0x28,
      "parenright" -> 0x29, "asterisk" -> 0x2A, "plus" -> 0x2B,
      "comma" -> 0x2C, "hyphen" -> 0x2D, "period" -> 0x2E,
      "slash" -> 0x2F, "colon" -> 0x3A, "semicolon" -> 0x3B,
      "less" -> 0x3C, "equal" -> 0x3D, "greater" -> 0x3E,
      "question" -> 0x3F, "at" -> 0x40, "bracketleft" -> 0x5B,
      "backslash" -> 0x5C, "bracketright" -> 0x5D,
      "asciicircum" -> 0x5E, "underscore" -> 0x5F, "grave" -> 0x60,
      "braceleft" -> 0x7B, "bar" -> 0x7C, "braceright" -> 0x7D,
      "asciitilde" -> 0x7E,
      // typographic
      "quoteleft" -> 0x2018, "quoteright" -> 0x2019,
      "quotedblleft" -> 0x201C, "quotedblright" -> 0x201D,
      "quotesinglbase" -> 0x201A, "quotedblbase" -> 0x201E,
      "endash" -> 0x2013, "emdash" -> 0x2014, "ellipsis" -> 0x2026,
      "bullet" -> 0x2022, "dagger" -> 0x2020, "daggerdbl" -> 0x2021,
      "perthousand" -> 0x2030, "Euro" -> 0x20AC, "trademark" -> 0x2122,
      "fraction" -> 0x2044, "guilsinglleft" -> 0x2039,
      "guilsinglright" -> 0x203A, "florin" -> 0x0192,
      "circumflex" -> 0x02C6, "tilde" -> 0x02DC, "dotlessi" -> 0x0131,
      "OE" -> 0x0152, "oe" -> 0x0153, "Scaron" -> 0x0160,
      "scaron" -> 0x0161, "Zcaron" -> 0x017D, "zcaron" -> 0x017E,
      "Ydieresis" -> 0x0178,
      // Latin-1 supplement
      "exclamdown" -> 0xA1, "cent" -> 0xA2, "sterling" -> 0xA3,
      "currency" -> 0xA4, "yen" -> 0xA5, "brokenbar" -> 0xA6,
      "section" -> 0xA7, "dieresis" -> 0xA8, "copyright" -> 0xA9,
      "ordfeminine" -> 0xAA, "guillemotleft" -> 0xAB,
      "logicalnot" -> 0xAC, "registered" -> 0xAE, "macron" -> 0xAF,
      "degree" -> 0xB0, "plusminus" -> 0xB1, "acute" -> 0xB4,
      "mu" -> 0xB5, "paragraph" -> 0xB6, "periodcentered" -> 0xB7,
      "cedilla" -> 0xB8, "ordmasculine" -> 0xBA,
      "guillemotright" -> 0xBB, "onequarter" -> 0xBC,
      "onehalf" -> 0xBD, "threequarters" -> 0xBE,
      "questiondown" -> 0xBF, "multiply" -> 0xD7, "divide" -> 0xF7,
      "Agrave" -> 0xC0, "Aacute" -> 0xC1, "Acircumflex" -> 0xC2,
      "Atilde" -> 0xC3, "Adieresis" -> 0xC4, "Aring" -> 0xC5,
      "AE" -> 0xC6, "Ccedilla" -> 0xC7, "Egrave" -> 0xC8,
      "Eacute" -> 0xC9, "Ecircumflex" -> 0xCA, "Edieresis" -> 0xCB,
      "Igrave" -> 0xCC, "Iacute" -> 0xCD, "Icircumflex" -> 0xCE,
      "Idieresis" -> 0xCF, "Eth" -> 0xD0, "Ntilde" -> 0xD1,
      "Ograve" -> 0xD2, "Oacute" -> 0xD3, "Ocircumflex" -> 0xD4,
      "Otilde" -> 0xD5, "Odieresis" -> 0xD6, "Oslash" -> 0xD8,
      "Ugrave" -> 0xD9, "Uacute" -> 0xDA, "Ucircumflex" -> 0xDB,
      "Udieresis" -> 0xDC, "Yacute" -> 0xDD, "Thorn" -> 0xDE,
      "germandbls" -> 0xDF, "agrave" -> 0xE0, "aacute" -> 0xE1,
      "acircumflex" -> 0xE2, "atilde" -> 0xE3, "adieresis" -> 0xE4,
      "aring" -> 0xE5, "ae" -> 0xE6, "ccedilla" -> 0xE7,
      "egrave" -> 0xE8, "eacute" -> 0xE9, "ecircumflex" -> 0xEA,
      "edieresis" -> 0xEB, "igrave" -> 0xEC, "iacute" -> 0xED,
      "icircumflex" -> 0xEE, "idieresis" -> 0xEF, "eth" -> 0xF0,
      "ntilde" -> 0xF1, "ograve" -> 0xF2, "oacute" -> 0xF3,
      "ocircumflex" -> 0xF4, "otilde" -> 0xF5, "odieresis" -> 0xF6,
      "oslash" -> 0xF8, "ugrave" -> 0xF9, "uacute" -> 0xFA,
      "ucircumflex" -> 0xFB, "udieresis" -> 0xFC, "yacute" -> 0xFD,
      "thorn" -> 0xFE, "ydieresis" -> 0xFF)
      .foreach { case (n, cp) => put(n, cp) }
    m
  }

  /** One `/Differences` glyph name → text: the embedded AGL subset,
    * plus the list's own algorithmic forms — `uniXXXX` (exactly four
    * hex digits, BMP non-surrogate) and `uXXXX`–`uXXXXXX`.
    */
  private def glyphText(name: String): String = {
    val hit = glyphUni.get(name)
    if (hit != null) return hit
    def hexCp(digits: String): Int = {
      if (!digits.forall(c => (c >= '0' && c <= '9') ||
        (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')))
        reject("encoding", s"unknown glyph name /$name in /Differences")
      val cp = Integer.parseInt(digits, 16)
      if (cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF))
        reject("encoding", s"glyph name /$name is not a scalar value")
      cp
    }
    if (name.length == 7 && name.startsWith("uni"))
      new String(Character.toChars(hexCp(name.substring(3))))
    else if (name.length >= 5 && name.length <= 7 && name.charAt(0) == 'u')
      new String(Character.toChars(hexCp(name.substring(1))))
    else reject("encoding", s"unknown glyph name /$name in /Differences")
  }

  private def decodeStringBytes(bytes: Array[Byte],
                                font: FontDec): String = font match {
    case FontCid(toUni) =>
      if (bytes.length % 2 != 0)
        reject("malformed",
          "odd-length string under a 2-byte CID font")
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i < bytes.length) {
        val code = ((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)
        val t = toUni.getOrElse(code,
          reject("encoding",
            f"CID 0x$code%04x without a /ToUnicode mapping"))
        sb.append(t)
        i += 2
      }
      sb.toString
    case simple =>
      val (base, over) = simple match {
        case FontDiff(b, o) => (b, o)
        case other => (other, Map.empty[Int, String])
      }
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i < bytes.length) {
        val c = bytes(i) & 0xFF
        over.get(c) match {
          case Some(t) => sb.append(t)
          case None =>
            if (c < 0x80) sb.append(c.toChar)
            else if (base != FontWinAnsi)
              reject("encoding",
                f"byte 0x$c%02x under a non-WinAnsi font encoding")
            else if (c >= 0xA0) sb.append(c.toChar) // latin-1 identity
            else {
              val ch = winAnsiHigh(c - 0x80)
              if (ch == 0)
                reject("encoding", f"WinAnsi-undefined code 0x$c%02x")
              sb.append(ch)
            }
        }
        i += 1
      }
      sb.toString
  }

  // ------------------------------------------------- ToUnicode CMaps

  /** Parse a `/ToUnicode` CMap stream: `bfchar` pairs and `bfrange`
    * triples (single-dst increment and array-dst forms) over a 2-byte
    * codespace, destinations UTF-16BE. Anything outside that shape is
    * a named rejection — a guessed mapping mojibakes the page.
    */
  private def parseToUnicode(doc: Doc, st: PStream): Map[Int, String] = {
    val data = streamBytes(doc, st)
    val lx = new Lex(data, 0)
    val out = scala.collection.mutable.HashMap.empty[Int, String]

    def hexBytes(): Array[Byte] = {
      lx.skipWs()
      if (lx.peek != '<')
        reject("type0-font", "ToUnicode: expected a hex string")
      lx.hexString()
    }
    def srcCode(b: Array[Byte]): Int = {
      if (b.length != 2)
        reject("type0-font",
          s"ToUnicode: ${b.length}-byte source code (only the 2-byte " +
            "codespace is supported)")
      ((b(0) & 0xFF) << 8) | (b(1) & 0xFF)
    }
    def dstText(b: Array[Byte]): String = {
      if (b.length == 0 || b.length % 2 != 0)
        reject("type0-font", "ToUnicode: bad UTF-16BE destination")
      val sb = new java.lang.StringBuilder(b.length / 2)
      var i = 0
      while (i < b.length) {
        sb.append((((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)).toChar)
        i += 2
      }
      sb.toString
    }
    // the destination of code lo+k is dst with its LAST UTF-16 unit
    // incremented by k (ISO 32000-1 §9.10.3's increment rule)
    def dstPlus(dst: String, k: Int): String = {
      val last = dst.charAt(dst.length - 1) + k
      if (last > 0xFFFF)
        reject("type0-font", "ToUnicode: bfrange increment overflows")
      dst.substring(0, dst.length - 1) + last.toChar
    }

    var guard = 0
    while ({ lx.skipWs(); lx.peek != -1 }) {
      guard += 1
      if (guard > 1000000)
        reject("type0-font", "ToUnicode: unbounded CMap")
      lx.peek match {
        case '<' if lx.at + 1 < data.length && data(lx.at + 1) == '<' =>
          lx.at += 2; parseDictBody(lx); ()
        case '<' => lx.hexString(); ()
        case '(' => lx.literalString(); ()
        case '[' => parseObj(lx); ()
        case '/' => parseObj(lx); ()
        case _ =>
          lx.token() match {
            case "begincodespacerange" =>
              var done = false
              while (!done) {
                lx.skipWs()
                if (lx.peek == '<') {
                  val lo = hexBytes(); val hi = hexBytes()
                  if (lo.length != 2 || hi.length != 2)
                    reject("type0-font",
                      "ToUnicode: non-2-byte codespace range")
                } else if (lx.token() == "endcodespacerange") done = true
                else reject("type0-font", "ToUnicode: bad codespace")
              }
            case "beginbfchar" =>
              var done = false
              while (!done) {
                lx.skipWs()
                if (lx.peek == '<') {
                  val code = srcCode(hexBytes())
                  out(code) = dstText(hexBytes())
                } else if (lx.token() == "endbfchar") done = true
                else reject("type0-font", "ToUnicode: bad bfchar")
              }
            case "beginbfrange" =>
              var done = false
              while (!done) {
                lx.skipWs()
                if (lx.peek == '<') {
                  val lo = srcCode(hexBytes())
                  val hi = srcCode(hexBytes())
                  if (hi < lo)
                    reject("type0-font", "ToUnicode: inverted bfrange")
                  lx.skipWs()
                  if (lx.peek == '[') {
                    lx.at += 1
                    var k = 0
                    var closed = false
                    while (!closed) {
                      lx.skipWs()
                      if (lx.peek == ']') { lx.at += 1; closed = true }
                      else {
                        if (lo + k > hi)
                          reject("type0-font",
                            "ToUnicode: bfrange array longer than range")
                        out(lo + k) = dstText(hexBytes())
                        k += 1
                      }
                    }
                    if (lo + k != hi + 1)
                      reject("type0-font",
                        "ToUnicode: bfrange array shorter than range")
                  } else {
                    val dst = dstText(hexBytes())
                    var k = 0
                    while (lo + k <= hi) {
                      out(lo + k) = dstPlus(dst, k)
                      k += 1
                    }
                  }
                } else if (lx.token() == "endbfrange") done = true
                else reject("type0-font", "ToUnicode: bad bfrange")
              }
            case _ => () // CMap boilerplate (dict ops, def, usecmap…)
          }
      }
    }
    out.toMap
  }

  // ------------------------------------------------------ page walk

  /** Per-page font map: font resource name → [[FontDec]]. */
  private def pageFonts(doc: Doc, resources: Obj): Map[String, FontDec] =
    doc.resolve(resources) match {
      case PDict(res) =>
        doc.resolve(res.getOrElse("Font", PNull)) match {
          case PDict(fonts) =>
            fonts.map { case (fname, fref) =>
              val fd = doc.resolve(fref) match {
                case PDict(m) => m
                case _ => reject("malformed", s"font $fname not a dict")
              }
              val isType0 =
                doc.resolve(fd.getOrElse("Subtype", PNull)) match {
                  case PName("Type0") => true
                  case _ => false
                }
              val dec: FontDec =
                if (isType0) {
                  doc.resolve(fd.getOrElse("Encoding", PNull)) match {
                    case PName("Identity-H") | PName("Identity-V") => ()
                    case other => reject("type0-font",
                      s"composite font $fname uses CMap $other " +
                        "(only Identity-H/V decodes)")
                  }
                  doc.resolve(fd.getOrElse("ToUnicode", PNull)) match {
                    case st: PStream => FontCid(parseToUnicode(doc, st))
                    case PNull => reject("type0-font",
                      s"composite font $fname has no /ToUnicode CMap")
                    case other => reject("malformed",
                      s"/ToUnicode of $fname is $other")
                  }
                } else {
                  def baseOf(o: Obj): FontDec = o match {
                    case PName("WinAnsiEncoding") => FontWinAnsi
                    case PNull => FontStd
                    case PName(_) => FontStd
                    case other =>
                      reject("malformed", s"bad /Encoding $other")
                  }
                  doc.resolve(fd.getOrElse("Encoding", PNull)) match {
                    case PDict(enc) =>
                      val base = baseOf(
                        doc.resolve(enc.getOrElse("BaseEncoding", PNull)))
                      val over =
                        doc.resolve(enc.getOrElse("Differences", PNull)) match {
                          case PNull => Map.empty[Int, String]
                          case PArr(items) =>
                            val m = scala.collection.mutable
                              .HashMap.empty[Int, String]
                            var code = -1
                            items.foreach {
                              case n: PNum =>
                                code = n.toInt
                                if (code < 0 || code > 255)
                                  reject("malformed",
                                    s"/Differences code $code out of range")
                              case PName(g) =>
                                if (code < 0 || code > 255)
                                  reject("malformed",
                                    "/Differences name before any code")
                                m(code) = glyphText(g)
                                code += 1
                              case other => reject("malformed",
                                s"/Differences holds $other")
                            }
                            m.toMap
                          case other => reject("malformed",
                            s"/Differences is $other")
                        }
                      if (over.isEmpty) base else FontDiff(base, over)
                    case simple => baseOf(simple)
                  }
                }
              fname -> dec
            }
          case PNull => Map.empty[String, FontDec]
          case _ => reject("malformed", "/Font is not a dict")
        }
      case PNull => Map.empty[String, FontDec]
      case _ => reject("malformed", "/Resources is not a dict")
    }

  /** Depth-first page collection with /Resources inheritance. */
  private def collectPages(doc: Doc, node: Obj, inheritedRes: Obj,
                           out: scala.collection.mutable.ArrayBuffer[(PDict, Obj)],
                           depth: Int): Unit = {
    if (depth > 64) reject("malformed", "page tree too deep")
    val d = doc.resolve(node) match {
      case pd: PDict => pd
      case _ => reject("malformed", "page-tree node is not a dict")
    }
    val res = d.m.getOrElse("Resources", inheritedRes)
    doc.resolve(d.m.getOrElse("Type", PNull)) match {
      case PName("Pages") =>
        doc.resolve(d.m.getOrElse("Kids",
          reject("malformed", "Pages without /Kids"))) match {
          case PArr(kids) =>
            kids.foreach(k => collectPages(doc, k, res, out, depth + 1))
          case _ => reject("malformed", "/Kids is not an array")
        }
      case PName("Page") => out += ((d, res))
      case other => reject("malformed", s"page-tree node type $other")
    }
  }

  // ------------------------------------------- content interpretation

  /** Run the text operators over one page's (already decoded,
    * concatenated) content bytes.
    */
  /** The per-page XObject dictionary (name → unresolved object). */
  private def pageXObjects(doc: Doc, resources: Obj): Map[String, Obj] =
    doc.resolve(resources) match {
      case PDict(res) => doc.resolve(res.getOrElse("XObject", PNull)) match {
        case PDict(xs) => xs
        case PNull => Map.empty
        case _ => reject("malformed", "/XObject is not a dict")
      }
      case _ => Map.empty
    }

  private def extractPageText(doc: Doc, content: Array[Byte],
                              resources: Obj, depth: Int): String = {
    if (depth > 16)
      reject("malformed", "form XObject nesting past depth 16")
    val fonts = pageFonts(doc, resources)
    val xobjects = pageXObjects(doc, resources)
    val lx = new Lex(content, 0)
    val sb = new java.lang.StringBuilder()
    var lineHasText = false
    var curFont: FontDec = FontStd

    def newLine(): Unit =
      if (lineHasText) { sb.append('\n'); lineHasText = false }
    def emit(bytes: Array[Byte]): Unit = {
      val s = decodeStringBytes(bytes, curFont)
      if (s.nonEmpty) { sb.append(s); lineHasText = true }
    }

    // operand stack: only strings, names and the TJ array matter
    val operands = scala.collection.mutable.ArrayBuffer.empty[Obj]
    while ({ lx.skipWs(); lx.peek != -1 }) {
      lx.peek match {
        case '(' => operands += PStr(lx.literalString())
        case '<' =>
          if (lx.at + 1 < content.length && content(lx.at + 1) == '<') {
            lx.at += 2; operands += parseDictBody(lx)
          } else operands += PStr(lx.hexString())
        case '[' | '/' => operands += parseObj(lx)
        case c if c == '+' || c == '-' || c == '.' ||
          (c >= '0' && c <= '9') =>
          val t = lx.token()
          operands += PNum(
            try t.toDouble
            catch {
              case _: NumberFormatException =>
                reject("malformed", s"bad content number '$t'")
            })
        case _ =>
          val op = lx.token()
          op match {
            case "BT" | "ET" => ()
            case "Tf" => operands.headOption match {
              case Some(PName(f)) =>
                curFont = fonts.getOrElse(f,
                  reject("malformed", s"Tf names unknown font /$f"))
              case _ => reject("malformed", "Tf without a font name")
            }
            case "Td" | "TD" | "T*" | "Tm" => newLine()
            case "Tj" => operands.lastOption match {
              case Some(PStr(s)) => emit(s)
              case _ => reject("malformed", "Tj without a string")
            }
            case "'" =>
              newLine()
              operands.lastOption match {
                case Some(PStr(s)) => emit(s)
                case _ => reject("malformed", "' without a string")
              }
            case "\"" =>
              newLine()
              operands.lastOption match {
                case Some(PStr(s)) => emit(s)
                case _ => reject("malformed", "\" without a string")
              }
            case "TJ" => operands.lastOption match {
              case Some(PArr(items)) => items.foreach {
                case PStr(s) => emit(s)
                case PNum(_) => () // kerning adjustment, not text
                case other =>
                  reject("malformed", s"TJ array holds $other")
              }
              case _ => reject("malformed", "TJ without an array")
            }
            case "Do" => operands.lastOption match {
              // image XObjects carry no text; FORM XObjects are whole
              // content streams — their text belongs to the page, so
              // silently skipping them would be exactly the wrong-
              // output failure the named-rejection contract forbids.
              // Recurse with the form's own resources (inheriting the
              // caller's when absent, the legacy-writer convention).
              case Some(PName(xn)) =>
                val st = doc.resolve(xobjects.getOrElse(xn,
                  reject("malformed", s"Do names unknown XObject /$xn"))) match {
                  case s: PStream => s
                  case other =>
                    reject("malformed", s"XObject /$xn is $other")
                }
                doc.resolve(st.dict.m.getOrElse("Subtype", PNull)) match {
                  case PName("Image") => () // pixels, not text
                  case PName("Form") =>
                    val formRes = st.dict.m.get("Resources")
                      .map(doc.resolve).getOrElse(resources)
                    val inner = extractPageText(doc,
                      streamBytes(doc, st), formRes, depth + 1)
                    if (inner.nonEmpty) {
                      sb.append(inner); lineHasText = true
                    }
                  case other => reject("malformed",
                    s"XObject /$xn has subtype $other")
                }
              case _ => reject("malformed", "Do without an XObject name")
            }
            case "BI" =>
              // inline image (§8.9.7): parse the parameter dict,
              // compute the data length, skip it, require EI. The
              // length is computable for an explicit /L (PDF 2.0
              // writers) or an UNFILTERED image (W × H × BPC ×
              // channels); a filtered image without /L keeps the
              // NAMED rejection — guessing at an EI marker inside
              // arbitrary compressed bytes would be the silent-
              // wrong-output failure the contract forbids.
              skipInlineImage(lx)
            // every other operator (graphics/path/color/text state)
            // has no text effect
            case _ => ()
          }
          operands.clear()
      }
    }
    sb.toString
  }

  /** Skip one `BI … ID <data> EI` inline image, `lx` positioned just
    * after the `BI` token. Named rejections per the header contract:
    * `inline-image` for shapes whose data length cannot be computed
    * without decoding (filtered without /L, exotic colorspaces),
    * `malformed` for structurally broken dicts/data.
    */
  private def skipInlineImage(lx: Lex): Unit = {
    val params = scala.collection.mutable.Map.empty[String, Obj]
    var idSeen = false
    while (!idSeen) {
      lx.skipWs()
      if (lx.peek == -1) reject("malformed", "BI without ID")
      if (lx.peek == '/') {
        val key = parseObj(lx) match {
          case PName(k) => k
          case other => reject("malformed", s"BI key is $other")
        }
        lx.skipWs()
        params(key) = parseObj(lx)
      } else lx.token() match {
        case "ID" => idSeen = true
        case t => reject("malformed", s"unexpected '$t' in BI dict")
      }
    }
    def intParam(short: String, long: String): Option[Int] =
      params.get(short).orElse(params.get(long)) match {
        case Some(PNum(v)) if v == v.toInt && v >= 0 => Some(v.toInt)
        case Some(other) => reject("malformed", s"BI /$short is $other")
        case None => None
      }
    val filtered = params.contains("F") || params.contains("Filter")
    val dataLen: Int = intParam("L", "Length").getOrElse {
      if (filtered)
        reject("inline-image", "filtered inline image without /L")
      val w = intParam("W", "Width").getOrElse(
        reject("inline-image", "inline image without /W"))
      val h = intParam("H", "Height").getOrElse(
        reject("inline-image", "inline image without /H"))
      val mask = params.get("IM").orElse(params.get("ImageMask")) match {
        case Some(PBool(b)) => b
        case None => false
        case Some(other) => reject("malformed", s"BI /IM is $other")
      }
      val bpc = if (mask) 1 else intParam("BPC", "BitsPerComponent")
        .getOrElse(reject("inline-image", "inline image without /BPC"))
      val channels: Int =
        if (mask) 1
        else params.get("CS").orElse(params.get("ColorSpace")) match {
          case Some(PName(cs)) => cs match {
            case "G" | "DeviceGray" | "CalGray" => 1
            case "RGB" | "DeviceRGB" | "CalRGB" => 3
            case "CMYK" | "DeviceCMYK" => 4
            case other =>
              reject("inline-image", s"inline colorspace /$other")
          }
          // [/I base hival lookup]: indexed SAMPLES are one component
          case Some(PArr(items)) => items.headOption match {
            case Some(PName("I")) | Some(PName("Indexed")) => 1
            case _ =>
              reject("inline-image", "unsupported inline colorspace")
          }
          case None => reject("inline-image", "inline image without /CS")
          case Some(other) => reject("malformed", s"BI /CS is $other")
        }
      if (w == 0 || h == 0 || bpc == 0 || bpc > 32)
        reject("malformed", "bad inline image dimensions")
      val total = ((w.toLong * channels * bpc + 7) / 8) * h
      if (total > Int.MaxValue - 16)
        reject("inline-image", "inline image too large")
      total.toInt
    }
    // ID is followed by exactly ONE white-space byte, then the data
    if (lx.at >= lx.b.length || !isWs(lx.b(lx.at) & 0xFF))
      reject("malformed", "BI data must follow one whitespace after ID")
    lx.at += 1
    if (lx.at + dataLen > lx.b.length)
      reject("malformed", "inline image data truncated")
    lx.at += dataLen
    lx.skipWs()
    if (lx.token() != "EI")
      reject("malformed", "inline image data not closed by EI")
  }

  // ------------------------------------------------------------ api

  /** Extract all text. Any unsupported or broken construct throws
    * a `pdf` [[graft.codec.Reject]] with its named kind.
    */
  def extractText(bytes: Array[Byte]): PdfText = {
    if (bytes.length < 8 ||
      !new String(bytes, 0, 7, "ISO-8859-1").startsWith("%PDF-1."))
      reject("malformed", "missing %PDF-1.x header")
    val (offsets, trailer) = readXref(bytes)
    val doc = new Doc(bytes, offsets)
    trailer.m.get("Encrypt").foreach { e =>
      doc.dec = Some(buildDecryptor(doc, e, trailer.m.get("ID")))
    }
    val root = doc.resolve(trailer.m.getOrElse("Root",
      reject("malformed", "trailer without /Root"))) match {
      case PDict(m) => m
      case _ => reject("malformed", "/Root is not a dict")
    }
    val pagesRoot = root.getOrElse("Pages",
      reject("malformed", "catalog without /Pages"))
    val pages = scala.collection.mutable.ArrayBuffer.empty[(PDict, Obj)]
    collectPages(doc, pagesRoot, PNull, pages, 0)
    val texts = pages.map { case (page, res) =>
      val content = doc.resolve(page.m.getOrElse("Contents", PNull)) match {
        case PNull => Array.emptyByteArray
        case st: PStream => streamBytes(doc, st)
        case PArr(parts) =>
          val out = new java.io.ByteArrayOutputStream()
          parts.foreach { p =>
            doc.resolve(p) match {
              case st: PStream =>
                out.write(streamBytes(doc, st))
                out.write('\n') // spec: parts divide at token boundaries
              case other =>
                reject("malformed", s"/Contents part is $other")
            }
          }
          out.toByteArray
        case other => reject("malformed", s"/Contents is $other")
      }
      extractPageText(doc, content, res, 0)
    }
    PdfText(pages.length, texts.mkString("\f"))
  }

  // -------------------------------------------------- fixture encoder

  /** Reverse WinAnsi: char → byte, for the fixture writer. */
  private val winAnsiRev: Map[Char, Int] =
    (winAnsiHigh.zipWithIndex.collect {
      case (c, i) if c != 0 => c -> (i + 0x80)
    }).toMap

  /** Escape + encode one text line as a literal PDF string under
    * WinAnsiEncoding.
    */
  private def pdfString(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write('(')
    s.foreach { c =>
      val b: Int =
        if (c < 0x80) c.toInt
        else if (c >= 0xA0 && c <= 0xFF) c.toInt
        else winAnsiRev.getOrElse(c,
          throw new IllegalArgumentException(
            s"fixture char not in WinAnsi: U+${c.toInt.toHexString}"))
      b match {
        case '(' | ')' | '\\' => out.write('\\'); out.write(b)
        case '\n' => out.write('\\'); out.write('n')
        case '\r' => out.write('\\'); out.write('r')
        case v if v >= 0x80 =>
          out.write('\\')
          out.write(('0' + ((v >> 6) & 7)))
          out.write(('0' + ((v >> 3) & 7)))
          out.write(('0' + (v & 7)))
        case v => out.write(v)
      }
    }
    out.write(')')
    out.toByteArray
  }

  /** Fixture encoder: a REAL multi-page PDF 1.4 (classic xref, one
    * WinAnsi Type1 font, one content stream per page — optionally
    * FlateDecode-compressed) whose extracted text is, by construction,
    * the page lines joined with `\n`, pages joined with `\f`. Every
    * byte offset in the xref is computed, so the file round-trips
    * through any conforming reader.
    */
  /** Fixture LZW compressor (EarlyChange = 1) — the encode half the
    * spec's published example vector and [[lzwDecode]] meet in the
    * middle of.
    */
  private[graft] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var width = 9
    var buf = 0L
    var cnt = 0
    def writeCode(c: Int): Unit = {
      buf = (buf << width) | c
      cnt += width
      while (cnt >= 8) {
        out.write(((buf >> (cnt - 8)) & 0xFF).toInt)
        cnt -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Byte), Int]
    var dictSize = 258
    writeCode(256) // clear
    var prefix = -1
    data.foreach { b =>
      if (prefix < 0) prefix = b & 0xFF
      else dict.get((prefix, b)) match {
        case Some(c) => prefix = c
        case None =>
          writeCode(prefix)
          if (dictSize < 4096) {
            dict((prefix, b)) = dictSize
            dictSize += 1
          }
          // the decoder trails the encoder by ONE table entry at each
          // read, so its EarlyChange(+1) bump at `dictSize + 1 > max`
          // lands on the same code boundary as this natural bump
          if (width < 12 && dictSize > (1 << width) - 1) width += 1
          prefix = b & 0xFF
      }
    }
    if (prefix >= 0) writeCode(prefix)
    // the EOD code is the one place the decoder has CAUGHT UP (its
    // add for the final data code lands before it reads EOD), so the
    // width check here must be the decoder's EarlyChange form — not
    // the trailing-by-one loop form above
    if (width < 12 && dictSize + 1 > (1 << width) - 1) width += 1
    writeCode(257) // EOD
    if (cnt > 0) out.write(((buf << (8 - cnt)) & 0xFF).toInt)
    out.toByteArray
  }

  /** Fixture ASCII85 encoder (no `z` shorthand; `~>` appended). */
  private[graft] def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      val n = math.min(4, data.length - i)
      var v = 0L
      var k = 0
      while (k < 4) {
        v = (v << 8) | (if (k < n) data(i + k) & 0xFF else 0)
        k += 1
      }
      val chars = new Array[Byte](5)
      var j = 4
      while (j >= 0) { chars(j) = ('!' + (v % 85).toInt).toByte; v /= 85; j -= 1 }
      out.write(chars, 0, n + 1)
      i += 4
    }
    out.write('~'); out.write('>')
    out.toByteArray
  }

  def encodePdf(pages: Seq[Seq[String]], flate: Boolean = false,
                encrypted: Boolean = false,
                type0: Boolean = false,
                badFilter: Boolean = false,
                xrefStream: Boolean = false,
                objStm: Boolean = false,
                predictor: Int = 1,
                lzw: Boolean = false,
                a85: Boolean = false,
                differences: Boolean = false,
                cid: Boolean = false,
                crypt: String = "none",
                cryptUnsignedP: Boolean = false,
                emptyStr: Boolean = false,
                inlineImage: String = "none"): Array[Byte] = {
    require(!cid || !objStm,
      "the cid fixture keeps its ToUnicode stream as a file object")
    require(crypt == "none" || (!xrefStream && !cid && !encrypted),
      "crypt fixtures use the classic layout")
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
    // real standard-handler encryption: V2/R3 RC4 ("rc4", or
    // "rc4-pwd" with a non-empty user password) and V4/R4 AESV2
    // ("aes"), 128-bit keys, deterministic /ID and IVs
    val cryptId0: Array[Byte] =
      md5(ascii("graft-fixture-id"), ascii(pages.flatten.mkString("|")))
    val cryptR = if (crypt == "aes") 4 else 3
    val cryptUserPwd: Array[Byte] =
      if (crypt.endsWith("-pwd")) ascii("secret") else Array.emptyByteArray
    lazy val cryptO: Array[Byte] =
      ownerValue(ascii("owner"), cryptUserPwd, cryptR, 16)
    lazy val cryptKey: Array[Byte] =
      fileKey(cryptUserPwd, cryptO, -44, cryptId0, cryptR, 16,
        encryptMetadata = true)
    lazy val cryptU: Array[Byte] = userValue(cryptKey, cryptId0, cryptR)
    // V5/R6 material (AES-256): deterministic salts and file key, the
    // /U//UE (and owner /O//OE over the full 48-byte /U) per the
    // 2.0 handler; /Perms carries the 'adb' sanity block
    val none = Array.emptyByteArray
    lazy val v5Key: Array[Byte] = md5(ascii("fk1")) ++ md5(ascii("fk2"))
    lazy val v5Vs: Array[Byte] = md5(ascii("vs")).take(8)
    lazy val v5Ks: Array[Byte] = md5(ascii("ks")).take(8)
    lazy val v5U: Array[Byte] =
      hash2BCached(cryptUserPwd, v5Vs, none, 6) ++ v5Vs ++ v5Ks
    lazy val v5UE: Array[Byte] =
      aesCbc(encrypt = true, hash2BCached(cryptUserPwd, v5Ks, none, 6),
        new Array[Byte](16), v5Key)
    lazy val v5Ovs: Array[Byte] = md5(ascii("ovs")).take(8)
    lazy val v5Oks: Array[Byte] = md5(ascii("oks")).take(8)
    lazy val v5O: Array[Byte] =
      hash2BCached(ascii("owner"), v5Ovs, v5U, 6) ++ v5Ovs ++ v5Oks
    lazy val v5OE: Array[Byte] =
      aesCbc(encrypt = true, hash2BCached(ascii("owner"), v5Oks, v5U, 6),
        new Array[Byte](16), v5Key)
    lazy val v5Perms: Array[Byte] = {
      val plain = le(-44L & 0xFFFFFFFFL, 4) ++
        Array.fill(4)(0xFF.toByte) ++
        "Tadbgrft".getBytes("ISO-8859-1")
      val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(v5Key, "AES"))
      c.doFinal(plain)
    }
    def encStm(num: Int, data: Array[Byte]): Array[Byte] = crypt match {
      case "none" => data
      case "aes" | "aes256" | "aes256-pwd" =>
        val objKey =
          if (crypt == "aes")
            md5(cryptKey, le(num.toLong, 3), le(0L, 2), aesSalt).take(16)
          else v5Key // V5: the file key IS the data key
        val iv = md5(ascii(s"iv$num")).take(16)
        val pad = 16 - data.length % 16
        val padded = data ++ Array.fill(pad)(pad.toByte)
        iv ++ aesCbc(encrypt = true, objKey, iv, padded)
      case _ =>
        val objKey = md5(cryptKey, le(num.toLong, 3), le(0L, 2)).take(16)
        rc4(objKey, data)
    }
    def hexOf(b: Array[Byte]): String =
      b.map(x => f"${x & 0xFF}%02X").mkString
    // cid fixture: every lowercase letter through ONE bfrange
    // (<0200+k> -> 'a'+k), everything else through bfchar codes
    // assigned in first-appearance order from 0x0001
    val cidCodes: Map[Char, Int] =
      if (!cid) Map.empty
      else {
        val m = scala.collection.mutable.LinkedHashMap.empty[Char, Int]
        var next = 1
        pages.flatten.flatMap(_.toSeq).foreach { c =>
          if (c >= 'a' && c <= 'z') ()
          else if (!m.contains(c)) { m(c) = next; next += 1 }
        }
        require(next <= 0x100, "cid fixture: too many distinct chars")
        m.toMap
      }
    def cidCode(c: Char): Int =
      if (c >= 'a' && c <= 'z') 0x0200 + (c - 'a') else cidCodes(c)
    def cidString(s: String): Array[Byte] =
      ascii(s.map(c => f"${cidCode(c)}%04X").mkString("<", "", ">"))
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end()
      bos.toByteArray
    }
    out.write(ascii(if (xrefStream) "%PDF-1.5\n" else "%PDF-1.4\n"))
    val nPages = pages.length
    // object numbering: 1 catalog, 2 pages, 3 font,
    // 4..3+n page dicts, 4+n..3+2n content streams
    // (+ 4+2n the ObjStm container, + last the xref stream)
    val subtype = if (type0) "Type0" else "Type1"
    val kids = (0 until nPages).map(i => s"${4 + i} 0 R").mkString(" ")
    val toUniNum = 4 + 2 * nPages // cid only (no objStm, see require)
    val descNum = 5 + 2 * nPages
    val fontObj =
      if (cid)
        s"<< /Type /Font /Subtype /Type0 /BaseFont /Planted " +
          s"/Encoding /Identity-H /DescendantFonts [ $descNum 0 R ] " +
          s"/ToUnicode $toUniNum 0 R >>"
      else if (differences)
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
          "/Encoding << /BaseEncoding /WinAnsiEncoding " +
          "/Differences [ 228 /Euro /bullet /uni0142 ] >> >>"
      else s"<< /Type /Font /Subtype /$subtype " +
        "/BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"
    // emptyStr plants the zero-length literal () that some real
    // writers emit UNENCRYPTED inside encrypted files — the decryptor
    // must pass it through rather than reject "not whole blocks"
    val catalogNote = if (emptyStr) "/GraftNote () " else ""
    val dictObjs: Seq[(Int, String)] =
      Seq(1 -> s"<< /Type /Catalog $catalogNote/Pages 2 0 R >>",
        2 -> (s"<< /Type /Pages /Kids [ $kids ] /Count $nPages " +
          "/Resources << /Font << /F1 3 0 R >> >> >>"),
        3 -> fontObj) ++
        pages.indices.map(i => (4 + i) ->
          (s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
            s"/Contents ${4 + nPages + i} 0 R >>"))
    // objnum -> location for the xref-stream writer
    val locs = scala.collection.mutable.LinkedHashMap.empty[Int, (Int, Long, Long)]
    def fileObj(num: Int, body: Array[Byte]): Unit = {
      locs(num) = (1, out.size().toLong, 0L)
      out.write(body)
    }
    // (stmNum, first, nObjs, deflated payload) when objStm — computed
    // now (locations must precede the content-stream writes), written
    // AFTER them so file order matches the classic fixtures. A LOCAL,
    // not an object field: encodes run concurrently on executor
    // threads inside the fixture planters.
    var pendingObjStm: Option[(Int, Int, Int, Array[Byte])] = None
    if (objStm) {
      require(xrefStream, "object streams need a cross-reference stream")
      // container members: serialized back to back, header pairs first
      val bodies = dictObjs.map { case (num, s) => (num, ascii(s + " ")) }
      val header = new java.io.ByteArrayOutputStream()
      var off = 0
      bodies.foreach { case (num, bs) =>
        header.write(ascii(s"$num $off "))
        off += bs.length
      }
      val stmNum = 4 + 2 * nPages
      bodies.zipWithIndex.foreach { case ((num, _), idx) =>
        locs(num) = (2, stmNum.toLong, idx.toLong)
      }
      val payload = header.toByteArray ++
        bodies.flatMap(b => b._2.toSeq).toArray
      pendingObjStm = Some((stmNum, header.size(), bodies.length,
        deflate(payload)))
    } else {
      dictObjs.foreach { case (num, s) =>
        fileObj(num, ascii(s"$num 0 obj\n$s\nendobj\n"))
      }
    }
    pages.zipWithIndex.foreach { case (lines, i) =>
      val body = new java.io.ByteArrayOutputStream()
      body.write(ascii("BT /F1 12 Tf 72 720 Td\n"))
      lines.zipWithIndex.foreach { case (l, j) =>
        body.write(if (cid) cidString(l) else pdfString(l))
        // no trailing T*: a line advance after the LAST string would
        // (faithfully) extract as a trailing newline
        body.write(ascii(if (j == lines.length - 1) " Tj\n"
          else " Tj T*\n"))
      }
      // the /Differences plant: codes 228/229/230 as one extra line on
      // the LAST page — remapped to Euro/bullet/uni0142 by the font
      if (differences && i == nPages - 1)
        body.write(ascii("T* (\\344\\345\\346) Tj\n"))
      body.write(ascii("ET\n"))
      // inline-image plants (page 0): "raw" = two COMPUTABLE images —
      // an unfiltered 2×2 RGB whose 12 data bytes deliberately
      // contain the letters "EI" (a marker scan would cut the skip
      // short; the W×H×BPC arithmetic must drive it) and an
      // AHx-filtered one with an explicit /L; "nolen" = a filtered
      // image WITHOUT /L, the honest named rejection
      if (i == 0 && inlineImage == "raw") {
        body.write(ascii("BI /W 2 /H 2 /CS /RGB /BPC 8 ID "))
        body.write(ascii("xEI yEI zEI "))
        body.write(ascii("EI\n"))
        body.write(ascii("BI /W 1 /H 1 /CS /G /BPC 8 /F /AHx /L 3 ID "))
        body.write(ascii("41>"))
        body.write(ascii("\nEI\n"))
      } else if (i == 0 && inlineImage == "nolen") {
        body.write(ascii("BI /W 1 /H 1 /CS /G /BPC 8 /F /Fl ID "))
        body.write(ascii("xx EI\n"))
      }
      val raw = body.toByteArray
      // filters apply in encode order; /Filter lists them in DECODE
      // order (outermost first)
      var data = raw
      val decodeNames = scala.collection.mutable.ListBuffer.empty[String]
      if (!badFilter) {
        if (flate) { data = deflate(data); decodeNames.prepend("FlateDecode") }
        else if (lzw) { data = lzwEncode(data); decodeNames.prepend("LZWDecode") }
        if (a85) { data = ascii85Encode(data); decodeNames.prepend("ASCII85Decode") }
      }
      val filter =
        if (badFilter) " /Filter /DCTDecode"
        else decodeNames.toList match {
          case Nil => ""
          case one :: Nil => s" /Filter /$one"
          case many => many.map("/" + _).mkString(" /Filter [ ", " ", " ]")
        }
      val num = 4 + nPages + i
      // encryption is OUTERMOST: applied to the final filtered bytes
      val enc = encStm(num, data)
      fileObj(num, ascii(s"$num 0 obj\n" +
        s"<< /Length ${enc.length}$filter >>\nstream\n"))
      out.write(enc)
      out.write(ascii("\nendstream\nendobj\n"))
    }
    val cryptNum = 4 + 2 * nPages // crypt excludes cid/objStm layouts
    if (crypt != "none") {
      // some writers store the 32-bit /P in unsigned decimal form:
      // 4294967252 IS -44, and the reader must mask, not saturate
      val pLit = if (cryptUnsignedP) "4294967252" else "-44"
      val body =
        if (crypt == "aes256" || crypt == "aes256-pwd")
          s"<< /Filter /Standard /V 5 /R 6 /Length 256 /P $pLit " +
            s"/O <${hexOf(v5O)}> /U <${hexOf(v5U)}> " +
            s"/OE <${hexOf(v5OE)}> /UE <${hexOf(v5UE)}> " +
            s"/Perms <${hexOf(v5Perms)}> " +
            "/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> " +
            "/StmF /StdCF /StrF /StdCF >>"
        else if (crypt == "aes")
          s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $pLit " +
            s"/O <${hexOf(cryptO)}> /U <${hexOf(cryptU)}> " +
            "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> " +
            "/StmF /StdCF /StrF /StdCF >>"
        else
          s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $pLit " +
            s"/O <${hexOf(cryptO)}> /U <${hexOf(cryptU)}> >>"
      fileObj(cryptNum, ascii(s"$cryptNum 0 obj\n$body\nendobj\n"))
    }
    pendingObjStm.foreach { case (stmNum, first, nObjs, data) =>
      fileObj(stmNum, ascii(s"$stmNum 0 obj\n<< /Type /ObjStm " +
        s"/N $nObjs /First $first /Filter /FlateDecode " +
        s"/Length ${data.length} >>\nstream\n"))
      out.write(data)
      out.write(ascii("\nendstream\nendobj\n"))
    }
    if (cid) {
      // the ToUnicode CMap: one bfrange for the lowercase block, the
      // rest as bfchar pairs (UTF-16BE destinations)
      val chars = cidCodes.toSeq.sortBy(_._2)
      val cmap = new StringBuilder()
      cmap.append("/CIDInit /ProcSet findresource begin\n")
      cmap.append("12 dict begin\nbegincmap\n")
      cmap.append("/CIDSystemInfo << /Registry (Planted) " +
        "/Ordering (UCS) /Supplement 0 >> def\n")
      cmap.append("/CMapName /Planted-UCS def\n/CMapType 2 def\n")
      cmap.append("1 begincodespacerange\n<0000> <FFFF>\n" +
        "endcodespacerange\n")
      cmap.append("1 beginbfrange\n<0200> <0219> <0061>\nendbfrange\n")
      if (chars.nonEmpty) {
        cmap.append(s"${chars.length} beginbfchar\n")
        chars.foreach { case (c, code) =>
          cmap.append(f"<$code%04X> <${c.toInt}%04X>\n")
        }
        cmap.append("endbfchar\n")
      }
      cmap.append("endcmap\nCMapName currentdict /CMap " +
        "defineresource pop\nend\nend\n")
      val data = ascii(cmap.toString)
      fileObj(toUniNum, ascii(s"$toUniNum 0 obj\n" +
        s"<< /Length ${data.length} >>\nstream\n"))
      out.write(data)
      out.write(ascii("\nendstream\nendobj\n"))
      fileObj(descNum, ascii(s"$descNum 0 obj\n" +
        "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Planted " +
        "/CIDSystemInfo << /Registry (Planted) /Ordering (Identity) " +
        "/Supplement 0 >> /CIDToGIDMap /Identity >>\nendobj\n"))
    }
    val enc =
      if (encrypted) " /Encrypt 99 0 R"
      else if (crypt != "none")
        s" /Encrypt $cryptNum 0 R /ID [ <${hexOf(cryptId0)}> " +
          s"<${hexOf(cryptId0)}> ]"
      else ""
    if (xrefStream) {
      val xrefNum = locs.keys.max + 1
      val xrefAt = out.size().toLong
      locs(xrefNum) = (1, xrefAt, 0L)
      val size = xrefNum + 1
      // rows: /W [1 4 2], big-endian; object 0 is the free head
      val rows = new java.io.ByteArrayOutputStream()
      def row(t: Int, f2: Long, f3: Long): Unit = {
        rows.write(t)
        for (s <- Seq(24, 16, 8, 0)) rows.write(((f2 >> s) & 0xFF).toInt)
        for (s <- Seq(8, 0)) rows.write(((f3 >> s) & 0xFF).toInt)
      }
      row(0, 0L, 0xFFFFL)
      (1 until size).foreach { num =>
        val (t, f2, f3) = locs(num)
        row(t, f2, f3)
      }
      val raw = rows.toByteArray
      val rowLen = 7
      val (data, parms) =
        if (predictor == 12) {
          // PNG Up filter per row (bpp = 1)
          val nRows = raw.length / rowLen
          val coded = new java.io.ByteArrayOutputStream()
          var r = 0
          while (r < nRows) {
            coded.write(2) // Up
            var i = 0
            while (i < rowLen) {
              val up = if (r > 0) raw((r - 1) * rowLen + i) & 0xFF else 0
              coded.write(((raw(r * rowLen + i) & 0xFF) - up) & 0xFF)
              i += 1
            }
            r += 1
          }
          (deflate(coded.toByteArray),
            s" /DecodeParms << /Predictor 12 /Columns $rowLen >>")
        } else if (predictor == 2) {
          // TIFF horizontal differencing: no filter byte, each byte
          // minus its left neighbor within the row (colors = 1)
          val coded = new Array[Byte](raw.length)
          var r = 0
          while (r < raw.length / rowLen) {
            var i = 0
            while (i < rowLen) {
              val left = if (i > 0) raw(r * rowLen + i - 1) & 0xFF else 0
              coded(r * rowLen + i) =
                (((raw(r * rowLen + i) & 0xFF) - left) & 0xFF).toByte
              i += 1
            }
            r += 1
          }
          (deflate(coded),
            s" /DecodeParms << /Predictor 2 /Columns $rowLen >>")
        } else (deflate(raw), "")
      out.write(ascii(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size " +
        s"/W [ 1 4 2 ] /Root 1 0 R$enc /Filter /FlateDecode$parms " +
        s"/Length ${data.length} >>\nstream\n"))
      out.write(data)
      out.write(ascii("\nendstream\nendobj\n"))
      out.write(ascii(s"startxref\n$xrefAt\n%%EOF\n"))
    } else {
      val xrefAt = out.size()
      val n = locs.keys.max + 1
      out.write(ascii(s"xref\n0 $n\n0000000000 65535 f \n"))
      (1 until n).foreach { num =>
        out.write(ascii(f"${locs(num)._2}%010d 00000 n \n"))
      }
      out.write(ascii(s"trailer\n<< /Size $n /Root 1 0 R$enc >>\n" +
        s"startxref\n$xrefAt\n%%EOF\n"))
    }
    out.toByteArray
  }
}
