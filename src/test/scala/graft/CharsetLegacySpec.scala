package graft

import graft.functions.{CharsetDecode, EncodingStore}
import org.scalatest.funsuite.AnyFunSuite

/** The legacy multi-byte decode tier ([[EncodingStore]]): the
  * JDK-probed index snapshot, the WHATWG state machines, and the
  * version-pinned sniff-ladder integration. Fixtures cross-validate
  * THREE ways where possible: hand-written expected code points (from
  * the published mappings), our state machine + artifact table, and
  * the JDK's own decoder over the same bytes.
  */
class CharsetLegacySpec extends AnyFunSuite {

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private lazy val tables =
    EncodingStore.tablesAt(EncodingStore.jdkSnapshotDir, -1)

  test("jdk snapshot: index sizes are full-table shaped, ranges " +
    "anchor at pointer 0 = U+0080") {
    val idx = EncodingStore.jdkIndexes
    assert(idx("jis0208").size > 6000)
    assert(idx("jis0212").size > 5000)
    assert(idx("gb18030").size > 20000)
    assert(idx("big5").size > 13000)
    assert(idx("euc-kr").size > 15000)
    val ranges = EncodingStore.jdkRanges
    assert(ranges.nonEmpty && ranges.head == ((0, 0x0080)))
  }

  // (encoding, jdk charset for the independent replay, bytes hex,
  // expected decoded string)
  private val plants: Seq[(String, String, String, String)] = Seq(
    ("shift_jis", "windows-31j",
      "82a088a4834a836993fa967b8cea836583588367",
      "あ愛カナ日本語テスト"),
    ("shift_jis", "windows-31j", "b1b2b3", "ｱｲｳ"), // half-width kana
    ("euc-jp", "EUC-JP", "b0a6c6fccbdcb8eca4cfcec9a4a4",
      "愛日本語は良い"),
    ("euc-jp", "EUC-JP", "8eb18eb2", "ｱｲ"), // 0x8E half-width plane
    ("euc-jp", "EUC-JP", "8fa2af", "˘"), // 0x8F jis0212 plane (U+02D8)
    ("gbk", "GBK", "d6d0cec4b1e0c2ebb2e2cad4", "中文编码测试"),
    ("gb18030", "GB18030", "a8a3", "ǎ"), // two-byte U+01CE
    ("gb18030", "GB18030", "81308130", "\u0080"), // 4-byte pointer 0
    ("gb18030", "GB18030", "90308130",
      new String(Character.toChars(0x10000))), // 4-byte supplementary
    ("big5", "Big5", "a4a4a4e5b4fab8d5bb4fc657", "中文測試臺灣"),
    ("euc-kr", "EUC-KR", "c7d1b1b9beee20c0cec4dab5f9",
      "한국어 인코딩"))

  test("planted fixtures decode identically via state machine + " +
    "table AND via the JDK decoder") {
    plants.foreach { case (enc, jdkName, h, want) =>
      val b = hex(h)
      assert(tables.decode(enc, b, 0) == want,
        s"state machine for $enc over $h")
      assert(new String(b, java.nio.charset.Charset.forName(jdkName))
        == want, s"jdk $jdkName over $h")
    }
  }

  test("WHATWG specifics the JDK tables cannot carry: gbk single " +
    "0x80 is the euro sign; the four big5 double-code-point entries") {
    assert(tables.decode("gbk", Array(0x80.toByte), 0) == "€")
    // pointer 1133 = lead 0x88, trail 0x62 — HKSCS region, decoder
    // special per §12.1.1
    assert(tables.decode("big5", hex("8862"), 0) == "\u00CA\u0304")
    assert(tables.decode("big5", hex("8864"), 0) == "\u00CA\u030C")
  }

  test("iso-2022-jp: stateful escapes — jis0208 pairs (JDK " +
    "cross-validated), katakana and Roman modes, escape-churn error") {
    // ESC $ B <jis0208 pairs> ESC ( B — the shape real mail/web emits
    val kanji = "1b244224332473244b2441244f467c4b5c386c1b2842"
    val want = "こんにちは日本語"
    assert(tables.decode("iso-2022-jp", hex(kanji), 0) == want)
    assert(new String(hex(kanji),
      java.nio.charset.Charset.forName("ISO-2022-JP")) == want)
    // ESC ( I half-width katakana, ESC ( J Roman (5C → ¥, 7E → ‾)
    assert(tables.decode("iso-2022-jp",
      hex("1b284931321b2842"), 0) == "ｱｲ")
    assert(tables.decode("iso-2022-jp",
      hex("1b284a5c7e1b2842"), 0) == "¥‾")
    // ASCII passes through; mode state carries across it
    assert(tables.decode("iso-2022-jp",
      hex("41" + "1b24422433" + "1b2842" + "42"), 0) == "AこB")
    // two escapes with NO output between them are an error (§12.2.1
    // output flag — escape churn must not hide content)
    assert(tables.decode("iso-2022-jp",
      hex("611b28421b2849"), 0) == "a�")
    // incomplete pair / dangling escape at EOS: one error each
    assert(tables.decode("iso-2022-jp", hex("1b244224"), 0) == "�")
    assert(tables.decode("iso-2022-jp", hex("611b"), 0) == "a�")
  }

  test("malformed sequences: one U+FFFD with the spec's ASCII " +
    "prepend/restore behavior; pending lead at EOS is one error") {
    val R = "�"
    // shift_jis: invalid ASCII trail restores (0x20 re-decodes)
    assert(tables.decode("shift_jis", hex("8120"), 0) == R + " ")
    // shift_jis: invalid non-ASCII trail is consumed with the error
    assert(tables.decode("shift_jis", hex("81ff"), 0) == R)
    // EOS with a pending lead
    assert(tables.decode("shift_jis", hex("82"), 0) == R)
    assert(tables.decode("euc-kr", hex("c7"), 0) == R)
    assert(tables.decode("gb18030", hex("813081"), 0) == R)
    // gb18030 broken four-byte: second/third/fourth bytes restore and
    // re-decode from a clean state ('0', then 0x81 0x20 errors again
    // and the 0x20 restores once more)
    assert(tables.decode("gb18030", hex("81308120"), 0) ==
      R + "0" + R + " ")
    // euc-jp: 0x8E with an invalid trail restores the ASCII byte
    assert(tables.decode("euc-jp", hex("8e41"), 0) == R + "A")
  }

  test("pinned versions: v1 (Japanese indexes only) decodes " +
    "shift_jis and still names gbk rejections; v2 decodes all five") {
    val dir = Scratch.dir("graft_enc_spec")
    val all = EncodingStore.jdkIndexes
    val v1 = EncodingStore.save(dir, all.filter(e =>
      e._1 == "jis0208" || e._1 == "jis0212"))
    val v2 = EncodingStore.save(dir, all, EncodingStore.jdkRanges)
    val t1 = EncodingStore.tablesAt(dir, v1)
    val t2 = EncodingStore.tablesAt(dir, v2)
    assert(t1.supports("shift_jis") && t1.supports("euc-jp"))
    assert(!t1.supports("gbk") && !t1.supports("big5") &&
      !t1.supports("euc-kr"))
    val gbkBody = hex("d6d0cec4")
    val ct = "text/html; charset=gb2312"
    val (txt1, cs1, m1) = CharsetDecode.sniffDecode(gbkBody, ct, t1)
    assert(txt1 == null && cs1 == "gb2312" && m1 == "unsupported-label")
    val (txt2, cs2, m2) = CharsetDecode.sniffDecode(gbkBody, ct, t2)
    assert(txt2 == "中文" && cs2 == "gbk" && m2 == "header")
    // the embedded ladder (no artifact) still rejects by name
    val (txt0, _, m0) = CharsetDecode.sniffDecode(gbkBody, ct)
    assert(txt0 == null && m0 == "unsupported-label")
  }

  test("sniff ladder with artifact: BOM still beats a legacy header " +
    "label; a meta shift_jis label decodes; utf labels unchanged") {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      "plain".getBytes(utf8)
    val (t1, c1, m1) = CharsetDecode.sniffDecode(bom,
      "text/html; charset=shift_jis", tables)
    assert(t1 == "plain" && c1 == "utf-8" && m1 == "bom")
    val metaBody = "<meta charset=shift_jis>Doc ".getBytes(utf8) ++
      hex("93fa967b8cea")
    val (t2, c2, m2) = CharsetDecode.sniffDecode(metaBody, null, tables)
    assert(t2 == "<meta charset=shift_jis>Doc 日本語" &&
      c2 == "shift_jis" && m2 == "meta")
    val (t3, c3, _) = CharsetDecode.sniffDecode(
      "café".getBytes(utf8), "text/html; charset=utf-8", tables)
    assert(t3 == "café" && c3 == "utf-8")
  }

  test("artifact round-trip: save → get → tablesFrom preserves every " +
    "entry and the ranges order") {
    val dir = Scratch.dir("graft_enc_rt")
    val idx = Map("jis0208" -> Map(0 -> 0x3000, 207 -> 0x4E9C),
      "big5" -> Map(5024 -> 0x4E2D))
    val v = EncodingStore.save(dir, idx, Seq((0, 0x80), (39, 0x2000)))
    val art = EncodingStore.Slots.get(dir, v).get
    assert(art.indexes("jis0208")("207") == 0x4E9C)
    val t = EncodingStore.tablesFrom(art)
    assert(t.jis0208(207) == 0x4E9C && t.jis0208(1) == -1)
    assert(t.supports("big5") && !t.supports("euc-kr") &&
      !t.supports("gbk"))
  }

  test("gb18030 ranges hole markers: a pointer inside a snapshot gap " +
    "is an error, never an offset into the preceding range") {
    val dir = Scratch.dir("graft_enc_hole")
    // ranges: [0 → U+0080), hole at 39, [50 → U+2000)
    val v = EncodingStore.save(dir,
      Map("gb18030" -> Map(0 -> 0x4E00)),
      Seq((0, 0x80), (39, -1), (50, 0x2000)))
    val t = EncodingStore.tablesAt(dir, v)
    def four(pointer: Int): Array[Byte] = Array(
      (0x81 + pointer / 12600).toByte, (0x30 + (pointer / 1260) % 10).toByte,
      (0x81 + (pointer / 10) % 126).toByte, (0x30 + pointer % 10).toByte)
    assert(t.decode("gb18030", four(10), 0) == "\u008A") // 0x80+10
    assert(t.decode("gb18030", four(45), 0) == "\uFFFD") // hole
    assert(t.decode("gb18030", four(52), 0) == "\u2002") // next
  }

  private lazy val singlesTables = {
    val dir = graft.Scratch.dir("graft_enc_singles_spec")
    val v = EncodingStore.save(dir,
      EncodingStore.jdkIndexes ++ EncodingStore.jdkSingleIndexes)
    EncodingStore.tablesAt(dir, v)
  }

  test("single-byte family: pinned fixtures decode identically via " +
    "artifact table AND the JDK decoder; ASCII is identity") {
    val plants = Seq(
      ("koi8-r", "KOI8-R", "f0d2c9d7c5d420cdc9d2", "\u041F\u0440\u0438\u0432\u0435\u0442 \u043C\u0438\u0440"),
      ("koi8-u", "KOI8-U", "ebc9a7d720adc1cecfcb", "\u041A\u0438\u0457\u0432 \u0491\u0430\u043D\u043E\u043A"),
      ("windows-1251", "windows-1251",
        "d1fae5f8fc20e5f9b820b920e7e4e5f1fc", "\u0421\u044A\u0435\u0448\u044C \u0435\u0449\u0451 \u2116 \u0437\u0434\u0435\u0441\u044C"),
      ("iso-8859-2", "ISO-8859-2",
        "5a61bff3b3e62067eab66cb1206a61bcf1", "Za\u017C\u00F3\u0142\u0107 g\u0119\u015Bl\u0105 ja\u017A\u0144"),
      ("iso-8859-5", "ISO-8859-5", "b4ded1e0de20dfded6d0dbded2d0e2ec",
        "\u0414\u043E\u0431\u0440\u043E \u043F\u043E\u0436\u0430\u043B\u043E\u0432\u0430\u0442\u044C"),
      ("iso-8859-7", "ISO-8859-7", "e3e5e9dc20f3eff520eafcf3ece5",
        "\u03B3\u03B5\u03B9\u03AC \u03C3\u03BF\u03C5 \u03BA\u03CC\u03C3\u03BC\u03B5"),
      ("windows-874", "x-windows-874", "cac7d1cab4d52080", "\u0E2A\u0E27\u0E31\u0E2A\u0E14\u0E35 \u20AC"))
    plants.foreach { case (enc, jdkName, h, want) =>
      val b = hex(h)
      assert(singlesTables.decode(enc, b, 0) == want,
        s"artifact table for $enc over $h")
      assert(new String(b, java.nio.charset.Charset.forName(jdkName))
        == want, s"jdk $jdkName over $h")
      assert(singlesTables.decode(enc,
        ("abc " + new String(b, java.nio.charset.Charset.forName(jdkName)))
          .take(4).getBytes("US-ASCII"), 0) == "abc ",
        s"$enc ASCII identity")
    }
  }

  test("single-byte rollout semantics: the multi-byte-only pin keeps " +
    "every single-byte label a rejection; the singles pin supports " +
    "them; unmapped bytes are one U+FFFD each") {
    assert(!tables.supports("koi8-r") && !tables.supports("windows-874"))
    for (e <- Seq("koi8-r", "koi8-u", "windows-1251", "windows-1250",
      "iso-8859-2", "iso-8859-5", "iso-8859-7", "windows-874"))
      assert(singlesTables.supports(e), e)
    assert(!singlesTables.supports("x-mac-cyrillic"))
    // ISO-8859-7 leaves 0xD2 unassigned \u2014 one replacement char
    assert(singlesTables.decode("iso-8859-7",
      hex("41d242"), 0) == "A\uFFFDB")
    // labels: the WHATWG rows fold to one name per family
    assert(EncodingStore.normalizeLegacyLabel("cskoi8r") == Some("koi8-r"))
    assert(EncodingStore.normalizeLegacyLabel("latin2") ==
      Some("iso-8859-2"))
    assert(EncodingStore.normalizeLegacyLabel("TIS-620") ==
      Some("windows-874"))
    assert(EncodingStore.normalizeLegacyLabel("greek") ==
      Some("iso-8859-7"))
  }
}
