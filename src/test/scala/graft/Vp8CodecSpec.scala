package graft

import graft.CodecRejects.rejectOf
import graft.operators.{Vp8Codec, WebpCodec}
import org.scalatest.funsuite.AnyFunSuite

/** [[Vp8Codec]] — the lossy-WebP decoder against REAL encoder output
  * and the fixture encoder's closed forms.
  *
  * The base64 vectors below were produced by the PLATFORM's libwebp
  * 1.5 encoder (WebPEncodeRGB at the quality in each name, over
  * closed-form RGB rasters) and the expected Y/U/V plane md5s by the
  * PLATFORM's own decoder (WebPDecodeYUV) at generation time — the
  * [[graft.operators.JpegCodec]] agreement-gate discipline: this
  * decoder must reproduce an independent implementation's planes
  * byte-exactly over real streams (simple + B_PRED modes, the whole
  * token model with per-frame probability updates, segmentation as
  * the encoder chose it, both loop-filter regimes, odd-dimension
  * crops). Conversely, [[Vp8Codec.encodeDcOnly]]'s streams were
  * cross-checked against libwebp's decoder at generation time
  * (accepted; solid planes at the closed-form values).
  */
class Vp8CodecSpec extends AnyFunSuite {

  private def b64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"${x & 0xFF}%02x").mkString

  private def vp8ChunkOf(webp: Array[Byte]): (Int, Int) = {
    var at = 12
    while (at + 8 <= webp.length) {
      val tag = new String(webp, at, 4, "US-ASCII")
      val sz = (webp(at + 4) & 0xFF) | ((webp(at + 5) & 0xFF) << 8) |
        ((webp(at + 6) & 0xFF) << 16) | ((webp(at + 7) & 0xFF) << 24)
      if (tag == "VP8 ") return (at + 8, at + 8 + sz)
      at += 8 + sz + (sz & 1)
    }
    fail("no VP8 chunk")
  }

  // (name, w, h, yMd5, uMd5, vMd5, base64 webp)
  private val vectors: Seq[(String, Int, Int, String, String, String, String)] = Seq(
    ("solid_q75", 32, 32, "ac685d7cdabcf1579f488bdfb1659251",
      "26357f7ec2643c8f4c85599ce93640de", "35ada34ba4ec5f0b6754f6b7bf6b97ca",
      "UklGRkIAAABXRUJQVlA4IDYAAAAQAwCdASogACAAPpFCnEolo6KhqAgAsBIJ" +
      "ZQDM0BanFAAA/uQBf/4hz+tv+5TYpOx74OzwQAA="),
    ("tiny_q80", 4, 4, "88db1b1ae117349528dc4448b42fcdd3",
      "4ddf7fd96ffcf749d2f1ee6efb64cc88", "26e2ef86ac8bd525153806beb657836e",
      "UklGRjoAAABXRUJQVlA4IC4AAADwAQCdASoEAAQAAUAmJaACdLoB+AAEyAAA" +
      "/q4X/zYEDND6YP/SbPE2eJs+OYAA"),
    ("wide_q30", 160, 16, "02edb97826d104a6d7c581de1c28046f",
      "f6082ada0df17f2b6dcdb46fb081c890", "7f350e82b5b0fc74c9faa616f1b734b2",
      "UklGRnoAAABXRUJQVlA4IG4AAADwBACdASqgABAAPxGEuFY4qKUjpmgDECIJ" +
      "agZwZoAnm1hvRjBOy4HB5a8NJ0WtMwAA/urlru8SL9Obvkw9zj6917WooLe/" +
      "8A8CAXdTL7jamx/DayYz24gwxaAnR9oCoocAIlNn9wcS9pFH4y9wAA=="),
    ("grad_q50", 48, 32, "0444aae29f46261f42a74bc6ce1d0aa6",
      "4b4c9e930737570b6c86943b9498c3a1", "5a619383d78f8805a30996d130c07f0b",
      "UklGRogAAABXRUJQVlA4IHwAAABQBQCdASowACAAPsVSpEu5pKOhsAqrMBiJ" +
      "aACsMscF4GZSLWzrE39nQfWykw1ambSPwwAA/vt47ZWznBJLuwJd/2sc8Juu" +
      "dGOmMo3+bwiZzau0+UsQeWU/iyK7DvrMYTtTVwyoZ/dyXfqRgU/MTHtSHsvx" +
      "R5uKAZNLAAAA"),
    ("grad_q90", 33, 17, "401f64303a146b930c2e2ea221991991",
      "c0c851e5b4d74c4808f9b856912e9e0f", "66ff10b1b393077a3e16d95d47858994",
      "UklGRigBAABXRUJQVlA4IBwBAACwCQCdASohABEAPjEWiUMiISEStmQgAwS2" +
      "AE6ZQjvTzv8TfxJ+QSgPzP76/rH/T8vv5V/AG0V7YB/QPb/sDP0M2GMltC2W" +
      "uzsg60NwKFV5drOg2J7p4AD+//i2eTUttsIgj1HglhTB8jEE2KiqoMbf+bv2" +
      "FwgZIIYbX/jNd1SbkIL9qfxhH96AghjYtmcBmoC19LM0dPuxV+OfsLGoC0pQ" +
      "qiysEB+PSC8gPV65Ft2Z/d74zEDzp1q/mR+OleKiV57eiWsRQuCnoB1eZQTP" +
      "w8lw4jCFfBlsv5Z839RQz+WfN/UVXZCZRJS92V5RFHUxXwpAa7hTas8JEGBa" +
      "/HHrEo33VftULuUvKrq2FA5//QMq/ogCDmCWY2D4+PQAAA=="),
    ("photoish_q60", 80, 64, "c00611a5c7f211afc783c1579d110b55",
      "1638cce8821b09dd01a317bb93834c3e", "c825d8b7cb4336283d6004bb9fb0923b",
      "UklGRsgAAABXRUJQVlA4ILwAAABwBQCdASpQAEAAPrVap08nJSOiI0gA4BaJ" +
      "YgC7NJPCITsAqQhBb////b3////Eb//wFQiYAP7svY/jey1wnb/jeAnzF3JO" +
      "Bx7/x8BkWPb/JSDh57/iKq0LWpKxuJLHpxnRFYwBAvGXnppvxUZDrsi2w68U" +
      "y2ECW0OryI3YOjgtf3cPZHY/KiHLTFrj0A/WkdJRESqvGnmEC+4TULQvmZlF" +
      "+hoXIwybaG55jFxzwZOxe5/iUb6kW9O4/pkAAA=="))

  test("libwebp agreement: every real-encoder vector decodes to the " +
      "exact Y/U/V planes libwebp's own decoder produced") {
    vectors.foreach { case (name, w, h, ym, um, vm, enc) =>
      val webp = b64(enc)
      val (from, until) = vp8ChunkOf(webp)
      val out = Vp8Codec.decode(webp, from, until)
      assert(out.width == w && out.height == h, name)
      assert(md5(out.y) == ym, s"$name Y")
      assert(md5(out.u) == um, s"$name U")
      assert(md5(out.v) == vm, s"$name V")
    }
  }

  test("libwebp agreement survives the noisiest stream (dense " +
      "coefficients, every token category)") {
    // 64x48 white-noise RGB at q40 — 1700 bytes of dense tokens
    val webp = b64(NoiseVector.b64)
    val (from, until) = vp8ChunkOf(webp)
    val out = Vp8Codec.decode(webp, from, until)
    assert(out.width == 64 && out.height == 48)
    assert(md5(out.y) == "f9dd3ba62c6e0656279fd51e1af8d48c")
    assert(md5(out.u) == "682704860c39bfd4b54d2b918bac8b4a")
    assert(md5(out.v) == "dbb687c3c9fb1bfa1fa269dd0c8db1a8")
  }

  test("encodeDcOnly closed form holds over the whole quantizer " +
      "range, odd dims included; libwebp accepted these streams at " +
      "generation time") {
    for (qi <- Seq(0, 17, 40, 80, 127); (w, h) <- Seq((16, 16), (33, 17));
         yv <- Seq(-4, -1, 0, 2, 4)) {
      val uv = (yv + 6) % 9 - 4
      val out = Vp8Codec.decode(Vp8Codec.encodeDcOnly(w, h, qi, yv, uv, -uv))
      val ey = Vp8Codec.dcOnlyLuma(qi, yv)
      val eu = Vp8Codec.dcOnlyChroma(qi, uv)
      val ev = Vp8Codec.dcOnlyChroma(qi, -uv)
      assert(out.y.forall(b => (b & 0xFF) == ey), s"qi=$qi yv=$yv Y")
      assert(out.u.forall(b => (b & 0xFF) == eu), s"qi=$qi U")
      assert(out.v.forall(b => (b & 0xFF) == ev), s"qi=$qi V")
      assert(out.y.length == w * h &&
        out.u.length == ((w + 1) / 2) * ((h + 1) / 2))
    }
  }

  test("filter regimes + token partitions agree with libwebp: the " +
      "normal/sharpness/simple loop filters over stepped per-MB DC " +
      "planes, and 4/8 token partitions") {
    // own-encoder streams (deterministic — regenerated here), decoded
    // by the PLATFORM's libwebp at generation time to the md5s below;
    // this decoder must land on the same planes
    def stepped(mx: Int, my: Int): Int = ((mx + 2 * my) % 9) - 4
    val cases = Seq(
      (Vp8Codec.encodeDcOnly(64, 48, 40, 0, 2, -3,
        filterLevel = 32, sharpness = 0, yDcForMb = stepped),
        "73d8e92249ab61a3798dd703bc5b4eb4",
        "47b3f0b927bd20ddb58f16becb64741a",
        "f5af4bcbed6761dbe2602bcb4be0417c"),
      (Vp8Codec.encodeDcOnly(64, 48, 40, 0, 2, -3,
        filterLevel = 50, sharpness = 5, yDcForMb = stepped),
        "73d8e92249ab61a3798dd703bc5b4eb4",
        "47b3f0b927bd20ddb58f16becb64741a",
        "f5af4bcbed6761dbe2602bcb4be0417c"),
      (Vp8Codec.encodeDcOnly(64, 48, 40, 0, 2, -3,
        filterLevel = 32, simpleFilter = true, yDcForMb = stepped),
        "899a2f7252905bc089da767cde465f47",
        "47b3f0b927bd20ddb58f16becb64741a",
        "f5af4bcbed6761dbe2602bcb4be0417c"),
      (Vp8Codec.encodeDcOnly(64, 80, 80, 0, 1, 1,
        filterLevel = 20, nParts = 4, yDcForMb = stepped),
        "dd0e50008447f0f0585de9bf6fd2e447",
        "36eca0e0f7a169b104a72cfd90902758",
        "36eca0e0f7a169b104a72cfd90902758"),
      (Vp8Codec.encodeDcOnly(48, 48, 20, 0, 0, 0,
        nParts = 8, yDcForMb = stepped),
        "a5d0520cf85a87a6528072faf5c20079",
        "4062baf3f4b1625f6f87e87cd56c919d",
        "4062baf3f4b1625f6f87e87cd56c919d"))
    cases.zipWithIndex.foreach { case ((frame, ym, um, vm), i) =>
      val out = Vp8Codec.decode(frame)
      assert(md5(out.y) == ym, s"case $i Y")
      assert(md5(out.u) == um, s"case $i U")
      assert(md5(out.v) == vm, s"case $i V")
    }
    // the simple filter demonstrably ACTED (differs from normal on Y)
    assert(cases(0)._2 != cases(2)._2 ||
      md5(Vp8Codec.decode(cases(2)._1).y) != md5(Vp8Codec.decode(
        Vp8Codec.encodeDcOnly(64, 48, 40, 0, 2, -3,
          yDcForMb = stepped)).y))
  }

  test("named rejections: interframe, colorspace, malformed") {
    def kindOf(b: Array[Byte]): String =
      rejectOf("vp8")(Vp8Codec.decode(b)).kind
    val good = Vp8Codec.encodeDcOnly(16, 16, 40, 2, 1, -1)
    val inter = good.clone(); inter(0) = (inter(0) | 1).toByte
    assert(kindOf(inter) == "interframe")
    // the color-space bit is the FIRST bool at prob 128 of partition
    // 0: a leading 0xFF byte forces it to 1
    val cs = good.clone(); cs(10) = 0xFF.toByte
    assert(kindOf(cs) == "colorspace")
    val badStart = good.clone(); badStart(4) = 0x77
    assert(kindOf(badStart) == "malformed")
    assert(kindOf(good.take(8)) == "malformed")
    assert(kindOf(Array.emptyByteArray) == "malformed")
    // control: the pristine frame still decodes
    assert(Vp8Codec.decode(good).width == 16)
  }

  test("WebpCodec routes 'VP8 ' through the lossy decoder; the RGB " +
      "policy kernel is the documented BT.601 fixed point") {
    def wrap(vp8: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w32(v: Int): Unit = {
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
      }
      val padded = vp8.length + (vp8.length & 1)
      out.write("RIFF".getBytes("US-ASCII")); w32(4 + 8 + padded)
      out.write("WEBP".getBytes("US-ASCII"))
      out.write("VP8 ".getBytes("US-ASCII")); w32(vp8.length)
      out.write(vp8); if ((vp8.length & 1) == 1) out.write(0)
      out.toByteArray
    }
    val qi = 60
    val webp = wrap(Vp8Codec.encodeDcOnly(20, 12, qi, 3, 2, -2))
    val img = WebpCodec.decodeWebp(webp)
    assert(img.width == 20 && img.height == 12 && img.channels == 3)
    val yv = Vp8Codec.dcOnlyLuma(qi, 3)
    val uv = Vp8Codec.dcOnlyChroma(qi, 2)
    val vv = Vp8Codec.dcOnlyChroma(qi, -2)
    def cl(x: Int) = if (x < 0) 0 else if (x > 255) 255 else x
    val c = 298 * (yv - 16); val d = uv - 128; val e = vv - 128
    val er = cl((c + 409 * e + 128) >> 8)
    val eg = cl((c - 100 * d - 208 * e + 128) >> 8)
    val eb = cl((c + 516 * d + 128) >> 8)
    var i = 0
    while (i < img.pixels.length) {
      assert((img.pixels(i) & 0xFF) == er && (img.pixels(i + 1) & 0xFF) == eg &&
        (img.pixels(i + 2) & 0xFF) == eb)
      i += 3
    }
    // decodeLossyYuv exposes the exact planes
    val f = WebpCodec.decodeLossyYuv(webp)
    assert(f.y.forall(b => (b & 0xFF) == yv))
  }
}
