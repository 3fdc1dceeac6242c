package graft

import graft.CodecRejects.rejectOf
import graft.sources.Brotli
import org.scalatest.funsuite.AnyFunSuite

/** [[Brotli]] — the RFC 7932 decoder against REAL encoder output and
  * the fixture encoder's own streams.
  *
  * The base64 vectors below were produced by the PLATFORM's brotli
  * encoder (libbrotlienc 1.2.0, via Arrow's codec binding) at the
  * quality levels noted — the [[graft.sources.WarcZst]] discipline of
  * validating against an independent implementation, not this file's
  * own mirror. The `encodeStored` streams were conversely validated
  * at generation time against the platform's libbrotlidec
  * (BrotliDecoderDecompress == 1, byte-exact round-trips, including
  * the interleaved-metadata and wbits 11/16/22 shapes).
  */
class BrotliSpec extends AnyFunSuite {

  private def b64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"${x & 0xFF}%02x").mkString

  // ---- real-encoder vectors (quality in the name) ----

  test("empty and 1-byte streams from the real encoder") {
    assert(Brotli.decode(b64("Bg==")).isEmpty)
    assert(new String(Brotli.decode(b64("CwCAYQM=")), "UTF-8") == "a")
  }

  test("q1/q3 English text (complex prefix codes, backward refs)") {
    val want = "The quick brown fox jumps over the lazy dog. " * 40
    val q1 = b64(
      "i4MDAICqqqrq/3Slw0lvJz1cTFVFN1M1MVMztQ0O4OJXmkhxhQ3GPCOotVk4" +
      "ZvErbuizEfWlzr6f6C2DKwtt+T+CJsPwpAY=")
    val q3 = b64(
      "GwcHAAAitpnqhURLhLKeqb6iuMLEuLZSW4Rj1tDxQ5+NpC9trvuJ3jK4irC4" +
      "/yNqNgA=")
    assert(new String(Brotli.decode(q1), "UTF-8") == want)
    assert(new String(Brotli.decode(q3), "UTF-8") == want)
  }

  test("q9 run-heavy stream (ring distances, implicit last distance)") {
    val want = "abcabcabcabc" * 120
    assert(new String(Brotli.decode(b64("G58FACTDxMbCsyCu0g==")),
      "UTF-8") == want)
  }

  test("q11 Thai UTF-8 (max quality over multi-byte text)") {
    val want = "ผู้คนในเมืองนี้ชอบอ่านหนังสือที่บ้านของพวกเขาทุกวัน" * 40
    val v = b64(
      "G+cX+B2pUx9aXoDz/O83DDkrwoeFIk/GYEnYeMEP4rkNOIiYKA4NTK6EBwBv" +
      "yTYVVfD1aEO5s5d26GQqf+Uy/Dza7k6ObCqrNnyclmA17VicLgU=")
    assert(new String(Brotli.decode(v), "UTF-8") == want)
  }

  test("q9 closed-form binary (30 kB from 328 bytes — deep copies)") {
    val want = Array.tabulate[Byte](30000)(i => ((i * i + 7 * i) % 256).toByte)
    val v = b64(
      "Gy91ABypUV/M7ibG2UClOS0vidcX52Q+zAQh7pYeSu/0+e9HtslIZNYJiZE0" +
      "kVjHLyZJNX6s3zIhfo+i8R7v8UknxuWTmB3/luYQjQQiL4lpTnMk49HgfOpr" +
      "AAAEI6jS5kh2To1vIDJTcHDlnhOXX7sL7P2HFGX4QhE+wpiXQP0KynMhqX8m" +
      "7Yja/wXPKTdBe+SGZct1ElUN/BTiBnQlDzbCvtUbbsuxx0bmdyKTtWmRaOcD" +
      "fsX/Xk9UxXjcGau5dVLC++pgWeuorVImHo3G08VataMN11efBJXOVTs2f2SE" +
      "+Ef3/k2+yXOa1HvMsi++fK0nXXlnaL4Lm4UFK45pXO4nUI06cW3hG7a9oJuU" +
      "54K/ZtEO91UtuchCrehBc2bMKCl+7cqgHLYZBR9LxRbO/UpH3CSEnDem2imH" +
      "TSnnwRDwfX99ff8eAA==")
    assert(java.util.Arrays.equals(Brotli.decode(v), want))
  }

  test("q9 word-salad (context maps + multiple literal trees)") {
    // 1780 bytes of synthetic low-redundancy tokens; verified by md5 +
    // length (the plaintext came from a generation-time RNG)
    val v = b64(
      "G/MGAOToHOkA/6IMG3RQsGXq+yhIHVKFkqUvqUMqp154GZ0qytDuifYiAsb0" +
      "f/6Uft/PQ/D9nYjfD170/SjA30+P5PurSL8fpt736yycIyK8wH60nX38P1KQ" +
      "C6TWrRU9HK3BnJC8ZRk6xZCBS7oACK0GgA3MaHA0owHHQM3E3JR2FO5nrTUL" +
      "CHbiQ5R1NMxbMLnkG3aV9WdF/z2isSOkH9YnhhFR3Jh5tbaVltSLGNTGKHwK" +
      "+4LwDJfC2AoM0fK2fJm1VsRZqxsDidMc+9VzHM4pEC2cEessowF5bel/FiSe" +
      "/HG7VEuaQvQ1qhvdY7q2Va9sQRlHr61I7HLb0W4pAUWi++alJ/UdE6zAtOpb" +
      "QRtOrTzomjo8XDGVJL/xWFc5xSi9Ca7nyIiuaY3H6AfCs3IG9Yu3mrdDeTiG" +
      "yuusto+Trrb70NGSSJlTp+cJJzsUQkRHc1kIhaiHnEeuJ4c0iRXXvzIG0VGJ" +
      "GeJF1pyaSe03Ibmvnw54Auq0snUPC4V2pdo3Lpbd6Ee8Z5s549JTu/HMLRUW" +
      "88aumz48gYLRo2Y1risdFbynBJ+5f4aHZ1vHpazKqgjvvXa92xnpoyxIKlWK" +
      "Zcwe9HD0VBUrzZZ2n73/5psw/Ggv0DqLQyUNW09Gc/lQ8ZLSFGPTm70NZ9UY" +
      "/TZI5b0wm6WmntXg6seJWU/CE0tRRtfWrXPz5EYpdTZ6ZIq9N3rKaAza4mLl" +
      "RUAUm5AMnm0dHq27cI6Hr0UFwDedVZScZCxWYtpl06Wz81Gp9a4foyyX+utI" +
      "7dU1hCOtYGrnOrPp6MQHkyw9RKSjvvNxTBsr4xV6zXti5CwIMt2xn/T1U5xO" +
      "ceNQpSkUuDB1JTzrXNJ9FObFjlSotHtaQe4fhBzF1iy7OxOfeTDYVLmp2vvq" +
      "s3Yj9R/uL5HOW6Za9FjZ8aiCHSmgU95bv8RGAt4xetdqFgs=")
    val out = Brotli.decode(v)
    assert(out.length == 1780)
    assert(md5(out) == "307f4f0c8ee8ffa5752b6bd3decc4dc5")
  }

  test("static-dictionary references reject BY NAME, bytes untouched") {
    // real encoder output whose first backward reference reaches past
    // the produced data — a dictionary word ('hello' at q5, and a
    // UTF-8 fragment for the zh text)
    val hello = b64("GyMAAAQch9e7++6LiJSDzLJMHpbn6UG1PiYD")
    val zh = b64(
      "G+MMAIzUSE1zuyYvP0enJws52z4hCp+MpkgHG3DgkmAYIA7uwwacaFTr2DdE" +
      "IL3Hx2XmJGFEbGoUlUeOOmIQzkUAgJwC")
    val e1 = rejectOf("brotli")(Brotli.decode(hello))
    val e2 = rejectOf("brotli")(Brotli.decode(zh))
    assert(e1.kind == "dictionary" && e2.kind == "dictionary")
  }

  test("malformed: truncation, trailing bytes, nonzero final padding, " +
      "empty input, output cap") {
    val good = b64("GwcHAAAitpnqhURLhLKeqb6iuMLEuLZSW4Rj1tDxQ5+NpC9trvuJ3jK4irC4" +
      "/yNqNgA=")
    def kindOf(b: Array[Byte], maxOut: Int = 1 << 26): String =
      rejectOf("brotli")(Brotli.decode(b, maxOut)).kind
    assert(kindOf(good.dropRight(10)) == "malformed")
    assert(kindOf(good ++ Array[Byte](7)) == "malformed")
    assert(kindOf(Array.emptyByteArray) == "malformed")
    assert(kindOf(good, maxOut = 100) == "output-cap")
    // a valid stream stays valid (control)
    assert(Brotli.decode(good).length == 1800)
  }

  test("encodeStored round-trips through this decoder: chunked, " +
      "interleaved metadata blocks, every wbits form") {
    val data = Array.tabulate[Byte](100000)(i => ((i * 31 + i / 997) % 251).toByte)
    for (wbits <- Seq(10, 11, 16, 17, 18, 22, 24)) {
      val enc = Brotli.encodeStored(data, wbits = wbits, chunk = 7001,
        metadataEvery = 3)
      assert(java.util.Arrays.equals(Brotli.decode(enc), data),
        s"wbits $wbits")
    }
    assert(Brotli.decode(Brotli.encodeStored(Array.emptyByteArray)).isEmpty)
    val one = "x".getBytes("UTF-8")
    assert(java.util.Arrays.equals(
      Brotli.decode(Brotli.encodeStored(one, chunk = 1)), one))
  }
}
