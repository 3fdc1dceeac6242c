package graft

import graft.CodecRejects.rejectOf
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GifCodec

/** GIF LZW codec: lossless roundtrips (decode ∘ encode = id) across
  * palette sizes, interlace, and dictionary-stress content; external
  * validity via the JDK's independent ImageIO GIF reader; structural
  * rejection of damage.
  */
class GifCodecSpec extends AnyFunSuite {

  private def indices(w: Int, h: Int, nE: Int): Array[Byte] =
    Array.tabulate(w * h)(p => ((p * 7 + p / 13 + 3) % nE).toByte)

  private def palette(nE: Int): Array[Byte] =
    Array.tabulate(nE * 3)(m => ((m * 37 + 11) % 256).toByte)

  private def expandRgb(idx: Array[Byte], pal: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](idx.length * 3)
    for (p <- idx.indices; b <- 0 until 3)
      out(p * 3 + b) = pal((idx(p) & 0xff) * 3 + b)
    out
  }

  test("roundtrip: palette sizes 2..256, plain and interlaced") {
    for {
      nE <- Seq(2, 3, 5, 16, 37, 256)
      inter <- Seq(false, true)
    } {
      val (w, h) = (23, 17)
      val idx = indices(w, h, nE)
      val bytes = GifCodec.encodeGif(w, h, idx, palette(nE),
        interlace = inter)
      val img = GifCodec.decodeGif(bytes)
      assert((img.width, img.height, img.channels) == ((w, h, 3)))
      assert(img.pixels.sameElements(expandRgb(idx, palette(nE))),
        s"nE=$nE interlace=$inter")
    }
  }

  test("LZW dictionary stress: random content forces growth and reset") {
    val rnd = new java.util.Random(0xbadc0ffeL)
    for (trial <- 1 to 10) {
      val w = rnd.nextInt(120) + 40
      val h = rnd.nextInt(90) + 30
      val nE = rnd.nextInt(255) + 2
      val idx = new Array[Byte](w * h)
      rnd.nextBytes(idx)
      for (p <- idx.indices) idx(p) = ((idx(p) & 0xff) % nE).toByte
      val pal = palette(nE)
      val bytes = GifCodec.encodeGif(w, h, idx, pal,
        interlace = rnd.nextBoolean())
      val img = GifCodec.decodeGif(bytes)
      assert(img.pixels.sameElements(expandRgb(idx, pal)),
        s"trial $trial $w x $h nE=$nE")
    }
  }

  test("external validity: JDK ImageIO reads the same RGB raster") {
    for (inter <- Seq(false, true)) {
      val (w, h, nE) = (31, 22, 61)
      val idx = indices(w, h, nE)
      val pal = palette(nE)
      val bytes = GifCodec.encodeGif(w, h, idx, pal, interlace = inter)
      val awt = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(awt != null, "ImageIO rejected our GIF")
      assert((awt.getWidth, awt.getHeight) == ((w, h)))
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = awt.getRGB(x, y)
        val e = (idx(y * w + x) & 0xff) * 3
        assert(((rgb >> 16) & 0xff) == (pal(e) & 0xff), s"R ($x,$y)")
        assert(((rgb >> 8) & 0xff) == (pal(e + 1) & 0xff), s"G ($x,$y)")
        assert((rgb & 0xff) == (pal(e + 2) & 0xff), s"B ($x,$y)")
      }
    }
    // and the reverse: an ImageIO-written GIF decodes with our decoder
    val awt = new java.awt.image.BufferedImage(15, 9,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 9; x <- 0 until 15)
      awt.setRGB(x, y, ((x * 16) << 16) | ((y * 25) << 8) | ((x + y) * 7))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(awt, "gif", bos)
    val ours = GifCodec.decodeGif(bos.toByteArray)
    assert((ours.width, ours.height, ours.channels) == ((15, 9, 3)))
    for (y <- 0 until 9; x <- 0 until 15) {
      val rgb = awt.getRGB(x, y)
      val o = (y * 15 + x) * 3
      // ImageIO quantizes to its own palette; both readers must agree on
      // the QUANTIZED color — re-read its own output as the reference
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      val rr = ref.getRGB(x, y)
      assert((ours.pixels(o) & 0xff) == ((rr >> 16) & 0xff) &&
        (ours.pixels(o + 1) & 0xff) == ((rr >> 8) & 0xff) &&
        (ours.pixels(o + 2) & 0xff) == (rr & 0xff), s"($x,$y) rgb=$rgb")
    }
  }

  test("structural rejection") {
    def fails(bytes: Array[Byte], what: String): Unit = {
      val e = rejectOf("gif")(
        GifCodec.decodeGif(bytes))
      assert(e.getMessage.contains(what), s"got: ${e.getMessage}")
    }
    fails("not a gif".getBytes, "bad signature")
    val good = GifCodec.encodeGif(9, 7, indices(9, 7, 8), palette(8))
    GifCodec.decodeGif(good) // sanity
    fails(good.take(good.length - 12), "truncated")
    // no color table at all: clear the global-table flag and drop it
    val noTable = good.take(13).clone() ++ good.drop(13 + 24)
    noTable(10) = (noTable(10) & 0x7f).toByte
    fails(noTable, "no color table")
    // a bad LZW min code size
    val badMin = good.clone()
    val descAt = 13 + 24 // header + 8-entry table
    assert((badMin(descAt) & 0xff) == 0x2c)
    badMin(descAt + 10) = 13
    fails(badMin, "min code")
  }
}
