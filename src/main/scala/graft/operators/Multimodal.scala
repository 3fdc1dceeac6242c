package graft.operators

import graft.codec.Reject
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `BinaryType`
  * payloads with typed metadata, processed in per-partition batches.
  *
  * The decode is REAL container parsing — [[Decoder.Headers]] reads
  * PNG/JPEG/GIF bytes (signatures, chunk/marker/block structure) and
  * [[AvHeaders]] reads WAV/MP4 (RIFF chunk walk, ISO BMFF box walk) with
  * pure-JVM arithmetic: deterministic, no native codecs, and the
  * structural failure modes (truncated header, SOS before SOF, bad GIF
  * block, missing fmt/moov) surface as per-row nulls exactly like a
  * production decode pass. Pixel/sample-level decode is real too:
  * [[extractPixelFeatures]] decompresses PNG rasters
  * ([[PixelCodec.decodePng]] — zlib inflate + scanline unfiltering,
  * pure JVM) and resamples them, [[extractPcmFeatures]] decodes WAV PCM
  * samples. All of it runs in the per-partition iteration shape (one
  * decoder instance per task, rows streamed through it, never
  * collected — the Scala analog of `mapInPandas`), which is also where
  * a native codec for the remaining formats (JPEG entropy decode, GIF
  * LZW) would slot in unchanged.
  *
  * EXECUTION-SHAPE DECISION (closes the r9–r11 review item, with
  * numbers): the `mapPartitions` shape here was measured against the
  * native-expression alternative ([[graft.functions.GifStatsExpr]] —
  * the `BpeEncodeExpr` recipe applied to the representative stateful
  * binary decode, LZW + palette + deinterlace) on the identical
  * planted corpus via [[graft.MultimodalProfile]]: sf0.1 (5 000
  * payloads), local[32], interleaved passes — run 1 mins 0.211 s
  * (mapPartitions) vs 0.178 s (expression); run 2 mins 0.148 s vs
  * 0.166 s. The winner flips between runs and the pass distributions
  * overlap entirely: the row-conversion boundary is NOISE next to the
  * decode work (≲ 6 µs/row either way — both shapes break whole-stage
  * codegen identically, one via the iterator boundary, one via
  * `CodegenFallback`). Decision: the extractors KEEP `mapPartitions`
  * — it supports passthrough columns and per-task decoder init that
  * the expression shape would re-plumb for no measured gain — and
  * `GifStatsExpr` stays as the proven, spec-pinned recipe for any
  * future single-payload scalar extractor where expression composition
  * (e.g. inside SQL) is worth more than passthrough.
  */
object Multimodal {

  /** Pluggable media decoder. One instance per partition (per task) — the
    * place a real implementation would lazily initialize native codecs.
    */
  trait Decoder extends Serializable {
    /** payload bytes → (width, height, n_frames). */
    def decode(payload: Array[Byte]): (Int, Int, Int)
  }

  object Decoder {
    /** Container-header decode for the three classic image formats —
      * real byte parsing, deterministic, pure JVM:
      *
      *  - PNG: 8-byte signature, then the mandatory first IHDR chunk —
      *    width/height are its first two big-endian u32s.
      *  - JPEG: marker walk from SOI; the first SOF0–SOF15 frame header
      *    (excluding DHT/JPG/DAC, 0xC4/0xC8/0xCC) carries height then
      *    width as big-endian u16s after the length+precision bytes.
      *    Hitting SOS/EOI first = no frame header = malformed.
      *  - GIF: logical screen descriptor (little-endian u16 dims at
      *    offset 6), then a full block walk — skip the global color
      *    table if flagged, count image descriptors (0x2C) as FRAMES
      *    (animated GIFs have several), skip extensions (0x21) and each
      *    descriptor's local color table + LZW sub-blocks — to the
      *    trailer (0x3B).
      *
      * Anything else (or a structural violation) throws, which
      * [[extractFeatures]] turns into null features for that row.
      */
    object Headers extends Decoder {
      def decode(payload: Array[Byte]): (Int, Int, Int) = {
        def u8(i: Int): Int = payload(i) & 0xff
        def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
        def be32(i: Int): Int =
          (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
        def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
        val fail = Reject.malformed("headers")

        if (payload.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' &&
            u8(2) == 'N' && u8(3) == 'G' && u8(4) == 0x0d && u8(5) == 0x0a &&
            u8(6) == 0x1a && u8(7) == 0x0a) {
          if (!(payload(12) == 'I' && payload(13) == 'H' &&
              payload(14) == 'D' && payload(15) == 'R'))
            fail("PNG: first chunk is not IHDR")
          (be32(16), be32(20), 1)
        } else if (payload.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
          var i = 2
          while (i + 1 < payload.length) {
            if (u8(i) != 0xff) fail("JPEG: expected marker")
            // any number of 0xFF fill bytes may precede a marker id
            // (ISO 10918-1 B.1.1.2)
            while (i + 2 < payload.length && u8(i + 1) == 0xff) i += 1
            val m = u8(i + 1)
            if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
            else if (m == 0xda || m == 0xd9) fail("JPEG: no SOF before SOS/EOI")
            else {
              if (i + 3 >= payload.length) fail("JPEG: truncated segment")
              val len = be16(i + 2)
              if (m >= 0xc0 && m <= 0xcf &&
                  m != 0xc4 && m != 0xc8 && m != 0xcc) {
                if (i + 8 >= payload.length) fail("JPEG: truncated SOF")
                return (be16(i + 7), be16(i + 5), 1)
              }
              i += 2 + len
            }
          }
          fail("JPEG: no SOF marker")
        } else if (payload.length >= 14 && payload(0) == 'G' &&
            payload(1) == 'I' && payload(2) == 'F' && payload(3) == '8' &&
            (payload(4) == '7' || payload(4) == '9') && payload(5) == 'a') {
          val w = le16(6); val h = le16(8)
          var i = 13
          if ((u8(10) & 0x80) != 0) i += 3 * (1 << ((u8(10) & 0x07) + 1))
          var frames = 0
          var done = false
          while (!done) {
            u8(i) match {
              case 0x2c =>
                frames += 1
                val packed = u8(i + 9)
                i += 10 // descriptor
                if ((packed & 0x80) != 0) i += 3 * (1 << ((packed & 0x07) + 1))
                i += 1 // LZW minimum code size
                while (u8(i) != 0) i += 1 + u8(i) // data sub-blocks
                i += 1 // block terminator
              case 0x21 =>
                i += 2 // extension introducer + label
                while (u8(i) != 0) i += 1 + u8(i)
                i += 1
              case 0x3b => done = true
              case other => fail(s"GIF: unexpected block 0x${other.toHexString}")
            }
          }
          if (frames == 0) fail("GIF: no image descriptor")
          (w, h, frames)
        } else if (payload.length >= 12 && payload(0) == 'R' &&
            payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F' &&
            payload(8) == 'W' && payload(9) == 'E' &&
            payload(10) == 'B' && payload(11) == 'P') {
          // WebP: the VP8L header's 14-bit dims ([[WebpCodec.sniffDims]]
          // walks the chunks); lossy/absent VP8L is a header-probe
          // failure like any other malformed container
          WebpCodec.sniffDims(payload) match {
            case Some((w, h)) => (w, h, 1)
            case None => fail("WebP: no decodable VP8L header")
          }
        } else fail("unrecognized media container")
      }
    }
  }

  /** Parsed audio/video container facts. Facts a container doesn't carry
    * stay None (audio has no dims; video tracks no sample rate here) and
    * surface as SQL nulls.
    */
  final case class AvInfo(container: String, sampleRate: Option[Int],
                          channels: Option[Int], bitsPerSample: Option[Int],
                          width: Option[Int], height: Option[Int],
                          durationMs: Option[Long])

  /** Pluggable audio/video header decoder — same per-task lifecycle as
    * [[Decoder]].
    */
  trait AvDecoder extends Serializable {
    def decode(payload: Array[Byte]): AvInfo
  }

  /** Container-header decode for WAV and MP4 — the audio/video
    * counterpart of [[Decoder.Headers]], same discipline (real byte
    * parsing, deterministic, pure JVM, structural violations throw and
    * null the row):
    *
    *  - WAV: `RIFF`+size+`WAVE`, then the even-padded chunk walk; the
    *    `fmt ` chunk carries audio format, channels, sample rate, byte
    *    rate and bits/sample (little-endian), the `data` chunk declares
    *    the sample byte count. Duration = data bytes / byte rate — the
    *    header-declared math every fast probe (no sample scan) uses.
    *    Missing `fmt `/`data`, a short `fmt `, or byteRate 0 = malformed.
    *  - MP4 (ISO BMFF): big-endian size+fourcc box walk; `moov/mvhd`
    *    (version 0) carries timescale + duration, `moov/trak/tkhd`
    *    (version 0) carries width/height as 16.16 fixed point.
    *    Duration ms = duration × 1000 / timescale. Missing boxes, a
    *    box size < 8, or version ≠ 0 = malformed.
    */
  object AvHeaders extends AvDecoder {
    def decode(payload: Array[Byte]): AvInfo = {
      def u8(i: Int): Int = payload(i) & 0xff
      def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
      def be32(i: Int): Long =
        ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) |
          u8(i + 3)) & 0xffffffffL
      def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int): Long =
        (u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
          (u8(i + 3).toLong << 24)) & 0xffffffffL
      def cc(i: Int): String =
        new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val fail = Reject.malformed("av")

      if (payload.length >= 12 && cc(0) == "RIFF" && cc(8) == "WAVE") {
        // chunk walk: ids + sizes are trusted structure, data need not be
        // materialized behind the declared `data` size (header-only
        // probe). The cursor and sizes stay LONG: le32 is unsigned, so a
        // corrupt size near 2^32 must neither wrap the advance to ≤ 0
        // (infinite loop pinning the task) nor overflow the index —
        // advance = 8 + sz + pad ≥ 8 always, in 64-bit
        var i = 12L
        var fmt: Option[(Int, Int, Long, Int)] = None // ch, rate, byteRate, bits
        var dataSize = -1L
        while (i + 8 <= payload.length) {
          val at = i.toInt // < payload.length, safe
          val id = cc(at)
          val sz = le32(at + 4)
          if (id == "fmt ") {
            if (sz < 16 || i + 8 + 16 > payload.length) fail("WAV: short fmt")
            fmt = Some((le16(at + 10), le32(at + 12).toInt, le32(at + 16),
              le16(at + 22)))
          } else if (id == "data") dataSize = sz
          i += 8L + sz + (sz & 1L) // chunks pad to even length
        }
        val (ch, rate, byteRate, bits) =
          fmt.getOrElse(fail("WAV: no fmt chunk"))
        if (dataSize < 0) fail("WAV: no data chunk")
        if (byteRate <= 0) fail("WAV: zero byte rate")
        AvInfo("wav", Some(rate), Some(ch), Some(bits), None, None,
          Some(dataSize * 1000L / byteRate))
      } else if (payload.length >= 12 && cc(4) == "ftyp") {
        // one level of the ISO BMFF box tree at a time; sizes include the
        // 8-byte header, so `size < 8` is structural corruption. Sizes
        // and cursors stay LONG (be32 is unsigned): a corrupt size in
        // [2^31, 2^32) must not drive an Int index negative — the
        // advance is ≥ 8 in 64-bit, and child ranges clamp to the parent
        def findBox(start: Int, end: Int, target: String): Option[Int] = {
          var i = start.toLong
          while (i + 8 <= end) {
            val sz = be32(i.toInt)
            if (sz < 8) fail("MP4: bad box size")
            if (cc(i.toInt + 4) == target) return Some(i.toInt)
            i += sz
          }
          None
        }
        val end = payload.length
        def boxEnd(at: Int): Int = math.min(at + be32(at), end.toLong).toInt
        val moov = findBox(0, end, "moov").getOrElse(fail("MP4: no moov"))
        val moovEnd = boxEnd(moov)
        val mvhd = findBox(moov + 8, moovEnd, "mvhd")
          .getOrElse(fail("MP4: no mvhd"))
        if (u8(mvhd + 8) != 0) fail("MP4: mvhd version != 0")
        if (mvhd + 28 > end) fail("MP4: truncated mvhd")
        val timescale = be32(mvhd + 20)
        val duration = be32(mvhd + 24)
        if (timescale == 0) fail("MP4: zero timescale")
        val trak = findBox(moov + 8, moovEnd, "trak")
          .getOrElse(fail("MP4: no trak"))
        val tkhd = findBox(trak + 8, boxEnd(trak), "tkhd")
          .getOrElse(fail("MP4: no tkhd"))
        if (u8(tkhd + 8) != 0) fail("MP4: tkhd version != 0")
        // v0 tkhd payload: ver/flags 4, times 8, id 4, rsvd 4, dur 4,
        // rsvd 8, layer/alt/vol/rsvd 8, matrix 36 → width 16.16 at +76
        if (tkhd + 8 + 84 > end) fail("MP4: truncated tkhd")
        val w = be16(tkhd + 8 + 76) // integer part of 16.16
        val h = be16(tkhd + 8 + 80)
        AvInfo("mp4", None, None, None, Some(w), Some(h),
          Some(duration * 1000L / timescale))
      } else fail("unrecognized av container")
    }
  }

  /** Wrap a text corpus as a multimodal table: opaque binary payload +
    * typed metadata struct — the storage shape for media at 100 TB (payload
    * stays a single parquet binary column; metadata prunes independently).
    * `payload`/`mime` override the default text-bytes wrapping — the
    * planted-container queries pass real PNG/JPEG/GIF bytes here.
    */
  def asMultimodal(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id",
                   payload: Option[org.apache.spark.sql.Column] = None,
                   mime: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val p = payload.getOrElse(encode(col(textCol), "UTF-8"))
    docs.select(
      col(idCol).as("media_id"),
      p.as("payload"),
      struct(
        mime.getOrElse(lit("application/octet-stream")).as("mime"),
        octet_length(p).cast("long").as("n_bytes"),
        col("source").as("origin")).as("meta"))
  }

  private val featureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("payload_md5", StringType)))

  /** Decode/feature-extract over per-partition batches. Row order in, row
    * out — one output row per media row; decoder failures yield null
    * features rather than failing the task. `passthrough` names input
    * columns copied verbatim onto the output (the metadata a production
    * extraction carries alongside features — avoids a re-join against
    * the source afterwards).
    */
  def extractFeatures(media: DataFrame,
                      decoder: Decoder = Decoder.Headers,
                      passthrough: Seq[String] = Nil): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val passIdx = passthrough.map(media.schema.fieldIndex)
    val outSchema = StructType(
      featureSchema.fields ++ passIdx.map(media.schema.fields(_)))
    media.mapPartitions { rows =>
      // per-task decoder init point (real codecs would open here)
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val md5hex = java.security.MessageDigest.getInstance("MD5")
          .digest(payload).map("%02x".format(_)).mkString
        val passed = passIdx.map(r.get)
        scala.util.Try(decoder.decode(payload)) match {
          case scala.util.Success((w, h, f)) =>
            Row.fromSeq(Seq(id, payload.length.toLong, w, h, f, md5hex) ++ passed)
          case scala.util.Failure(_) =>
            Row.fromSeq(Seq(id, payload.length.toLong, null, null, null, md5hex) ++ passed)
        }
      }
    }(Encoders.row(outSchema)).toDF()
  }

  private val avFeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", LongType),
    StructField("container", StringType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Audio/video feature extraction — the [[extractFeatures]] shape over
    * [[AvHeaders]]: per-partition batches, one output row per media row,
    * malformed payloads null their typed facts rather than failing the
    * task, `passthrough` copies input columns onto the output.
    */
  def extractAvFeatures(media: DataFrame,
                        decoder: AvDecoder = AvHeaders,
                        passthrough: Seq[String] = Nil): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val passIdx = passthrough.map(media.schema.fieldIndex)
    val outSchema = StructType(
      avFeatureSchema.fields ++ passIdx.map(media.schema.fields(_)))
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val passed = passIdx.map(r.get)
        scala.util.Try(decoder.decode(payload)) match {
          case scala.util.Success(av) =>
            Row.fromSeq(Seq(id, payload.length.toLong, av.container,
              av.sampleRate.map(Int.box).orNull,
              av.channels.map(Int.box).orNull,
              av.bitsPerSample.map(Int.box).orNull,
              av.width.map(Int.box).orNull, av.height.map(Int.box).orNull,
              av.durationMs.map(Long.box).orNull) ++ passed)
          case scala.util.Failure(_) =>
            Row.fromSeq(Seq(id, payload.length.toLong, null, null, null,
              null, null, null, null) ++ passed)
        }
      }
    }(Encoders.row(outSchema)).toDF()
  }

  private val pixelFeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("src_w", IntegerType),
    StructField("src_h", IntegerType),
    StructField("channels", IntegerType),
    StructField("out_w", IntegerType),
    StructField("out_h", IntegerType),
    StructField("px_sum", LongType),
    StructField("px_chk", LongType)))

  /** PIXEL-level image features — the [[extractFeatures]] per-partition
    * shape over [[PixelCodec.decodePng]]: each payload is genuinely
    * decompressed (multi-IDAT zlib inflate + scanline unfiltering),
    * optionally resampled ([[PixelCodec.resizeNearest]] to `resizeTo`,
    * in the same task as the decode — the raster never crosses a
    * shuffle), and folded to statistics of the raster the next pipeline
    * stage would consume:
    *
    *  - `px_sum`  = Σ v(i)              (plain intensity mass)
    *  - `px_chk`  = Σ (v(i)+1)·(i+1)    over the flattened index i —
    *    position-weighted, so it pins every byte to its exact offset:
    *    any swap, shift or off-by-one in filter inversion or resampling
    *    changes it.
    *
    * Malformed payloads null all decode facts, like every extractor
    * here. Stats are exact integer math (bounded by 256·|raster|²), so
    * a closed-form SQL oracle recomputes them from the planted formula
    * without needing a decompressor — the cross-engine proof that the
    * decode chain reconstructs the raster bit-for-bit.
    */
  def extractPixelFeatures(media: DataFrame,
                           resizeTo: Option[(Int, Int)] = None,
                           passthrough: Seq[String] = Nil): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val passIdx = passthrough.map(media.schema.fieldIndex)
    val outSchema = StructType(
      pixelFeatureSchema.fields ++ passIdx.map(media.schema.fields(_)))
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val passed = passIdx.map(r.get)
        scala.util.Try {
          val src = PixelCodec.decodePng(payload)
          val img = resizeTo.fold(src) { case (tw, th) =>
            PixelCodec.resizeNearest(src, tw, th)
          }
          var sum = 0L; var chk = 0L; var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i) & 0xff
            sum += v; chk += (v + 1L) * (i + 1L)
            i += 1
          }
          // Seq[Any], not Seq: a bare Seq of (Long, Int, …) numeric-widens
          // every Int to Long and the Row encoder rejects Long for INT
          Seq[Any](id, src.width, src.height, src.channels,
            img.width, img.height, sum, chk)
        } match {
          case scala.util.Success(vals) => Row.fromSeq(vals ++ passed)
          case scala.util.Failure(_) =>
            Row.fromSeq(Seq(id, null, null, null, null, null, null, null) ++
              passed)
        }
      }
    }(Encoders.row(outSchema)).toDF()
  }

  private val pixelResizeSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("src_w", IntegerType),
    StructField("src_h", IntegerType),
    StructField("channels", IntegerType),
    StructField("px_sum", LongType),
    StructField("px_chk", LongType),
    StructField("rz_w", IntegerType),
    StructField("rz_h", IntegerType),
    StructField("rz_sum", LongType),
    StructField("rz_chk", LongType)))

  /** [[extractPixelFeatures]] + resample stats in ONE decode: the
    * payload is inflated and unfiltered once, statted, resampled
    * ([[PixelCodec.resizeNearest]]) and statted again — all inside the
    * same per-partition task, so neither raster crosses a shuffle and
    * the deflate work is never repeated (two separate extractor calls
    * would decode every payload twice and meet in a join). Stats are
    * the same exact-integer pair as [[extractPixelFeatures]]; malformed
    * payloads null every decode fact.
    */
  def extractPixelFeaturesResized(media: DataFrame, tw: Int, th: Int,
                                  passthrough: Seq[String] = Nil): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val passIdx = passthrough.map(media.schema.fieldIndex)
    val outSchema = StructType(
      pixelResizeSchema.fields ++ passIdx.map(media.schema.fields(_)))
    def stats(px: Array[Byte]): (Long, Long) = {
      var sum = 0L; var chk = 0L; var i = 0
      while (i < px.length) {
        val v = px(i) & 0xff
        sum += v; chk += (v + 1L) * (i + 1L)
        i += 1
      }
      (sum, chk)
    }
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val passed = passIdx.map(r.get)
        scala.util.Try {
          val src = PixelCodec.decodePng(payload)
          val (sum, chk) = stats(src.pixels)
          val rz = PixelCodec.resizeNearest(src, tw, th)
          val (rzSum, rzChk) = stats(rz.pixels)
          Seq[Any](id, src.width, src.height, src.channels, sum, chk,
            rz.width, rz.height, rzSum, rzChk)
        } match {
          case scala.util.Success(vals) => Row.fromSeq(vals ++ passed)
          case scala.util.Failure(_) =>
            Row.fromSeq(Seq(id, null, null, null, null, null, null, null,
              null, null) ++ passed)
        }
      }
    }(Encoders.row(outSchema)).toDF()
  }

  private val jpegFeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("px_sum", LongType),
    StructField("max_ref_diff", IntegerType),
    StructField("agree_ok", BooleanType)))

  /** JPEG decode features ([[graft.operators.JpegCodec]], baseline AND
    * progressive): each payload decodes to its raster (dims, channel
    * count, pixel sum) — and, because JPEG is lossy and admits no
    * closed-form pixel oracle, the row also carries the strongest
    * verifiable statement available: `max_ref_diff`/`agree_ok` from
    * decoding the SAME bitstream with the JDK's independent ImageIO
    * implementation in the same task and gating max-abs-difference ≤
    * `tolerance` (compliant decoders differ by IDCT/color rounding
    * families, never more — entropy bugs explode the difference).
    * Malformed/unsupported payloads (arithmetic coding, 12-bit
    * precision, truncation, garbage) null every fact. Zero-shuffle scan
    * projection like the rest of the decode tier.
    */
  def extractJpegFeatures(media: DataFrame,
                          tolerance: Int = JpegCodec.Tolerance): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        scala.util.Try {
          val ours = JpegCodec.decodeJpeg(payload)
          var sum = 0L; var i = 0
          while (i < ours.pixels.length) {
            sum += ours.pixels(i) & 0xff; i += 1
          }
          val awt = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))
          if (awt == null)
            throw new IllegalArgumentException(
              "JPEG: reference decoder rejected stream")
          if (awt.getWidth != ours.width || awt.getHeight != ours.height ||
            awt.getRaster.getNumBands != ours.channels)
            throw new IllegalArgumentException(
              "JPEG: reference decoder shape mismatch")
          var maxD = 0
          var y = 0
          while (y < ours.height) {
            var x = 0
            while (x < ours.width) {
              var b = 0
              while (b < ours.channels) {
                val d = math.abs(awt.getRaster.getSample(x, y, b) -
                  (ours.pixels((y * ours.width + x) * ours.channels + b)
                    & 0xff))
                if (d > maxD) maxD = d
                b += 1
              }
              x += 1
            }
            y += 1
          }
          Row(id, ours.width, ours.height, ours.channels, sum, maxD,
            maxD <= tolerance)
        }.getOrElse(Row(id, null, null, null, null, null, null))
      }
    }(Encoders.row(jpegFeatureSchema)).toDF()
  }

  private val gifFeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("px_sum", LongType),
    StructField("px_chk", LongType)))

  /** GIF frame decode features ([[graft.operators.GifCodec]]): full LZW
    * decode + palette expansion (+ deinterlace) of the first frame,
    * folded to the same exact integer stats as the PNG tier — GIF is
    * lossless, so the closed-form oracle re-enumerates every expanded
    * RGB byte at its exact offset (`px_chk` is position-weighted).
    * Malformed payloads null every fact. Zero-shuffle scan projection.
    */
  def extractGifFeatures(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        scala.util.Try {
          val img = GifCodec.decodeGif(payload)
          var sum = 0L; var chk = 0L; var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i) & 0xff
            sum += v; chk += (v + 1L) * (i + 1L)
            i += 1
          }
          Row(id, img.width, img.height, img.channels, sum, chk)
        }.getOrElse(Row(id, null, null, null, null, null))
      }
    }(Encoders.row(gifFeatureSchema)).toDF()
  }

  /** WebP lossless (VP8L) decode features ([[graft.operators.WebpCodec]]):
    * RIFF walk + full VP8L entropy decode (simple/normal prefix codes,
    * LZ77, color cache, subtract-green), folded to the same exact
    * integer stats as the GIF tier over the RGBA raster — VP8L is
    * lossless, so the closed-form oracle re-enumerates every byte at
    * its exact offset (`px_chk` is position-weighted). Lossy `VP8 `
    * payloads, unsupported transforms and close-neighborhood distance
    * codes reject per row (null facts, auditable against the planted
    * kind rotation). Zero-shuffle scan projection.
    */
  def extractWebpFeatures(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        scala.util.Try {
          val img = WebpCodec.decodeWebp(payload)
          var sum = 0L; var chk = 0L; var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i) & 0xff
            sum += v; chk += (v + 1L) * (i + 1L)
            i += 1
          }
          Row(id, img.width, img.height, img.channels, sum, chk)
        }.getOrElse(Row(id, null, null, null, null, null))
      }
    }(Encoders.row(gifFeatureSchema)).toDF()
  }

  private val tiffFeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("px_sum", LongType),
    StructField("px_chk", LongType),
    StructField("err", StringType)))

  /** TIFF raster decode ([[TiffCodec]] — the scanned-document
    * container): strips walked, LZW/deflate/PackBits undone,
    * predictor inverted, gray/RGB/palette/bilevel folded to the
    * family's exact integer stats. Unlike the older image extractors
    * this one carries the codec's NAMED rejection in `err` (the
    * [[PdfCodec]] relational-rejection discipline) — a curation query
    * counts its fax-G4 and JPEG-in-TIFF dark data instead of losing
    * the kinds in a null.
    */
  def extractTiffFeatures(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        try {
          val img = TiffCodec.decodeTiff(payload)
          var sum = 0L; var chk = 0L; var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i) & 0xff
            sum += v; chk += (v + 1L) * (i + 1L)
            i += 1
          }
          Row(id, img.width, img.height, img.channels, sum, chk, null)
        } catch {
          case e: Reject =>
            Row(id, null, null, null, null, null, e.kind)
          case scala.util.control.NonFatal(_) =>
            Row(id, null, null, null, null, null, "malformed")
        }
      }
    }(Encoders.row(tiffFeatureSchema)).toDF()
  }

  private val mp3FeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("mode", StringType),
    StructField("kbps", IntegerType),
    StructField("duration_ms", LongType),
    StructField("vbr_frames", IntegerType),
    StructField("id3v2", BooleanType),
    StructField("id3v1", BooleanType),
    StructField("err", StringType)))

  /** MP3 frame walk ([[Mp3Codec]]): frame count, rates, CBR/VBR mode
    * and exact duration from the headers alone — the audio-budgeting
    * pass (duration is to audio what token count is to text). Named
    * rejections in `err` (`free-format`, `layer`, `version`,
    * `malformed`), the relational-rejection discipline.
    */
  def extractMp3Features(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        try {
          val f = Mp3Codec.decodeMp3(payload)
          Row(id, f.nFrames, f.sampleRate, f.channels, f.mode,
            f.kbps, f.durationMs, f.vbrFrames, f.id3v2, f.id3v1, null)
        } catch {
          case e: Reject =>
            Row(id, null, null, null, null, null, null, null, null,
              null, e.kind)
          case scala.util.control.NonFatal(_) =>
            Row(id, null, null, null, null, null, null, null, null,
              null, "malformed")
        }
      }
    }(Encoders.row(mp3FeatureSchema)).toDF()
  }

  private val webpLossySchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("y_sum", LongType),
    StructField("y_chk", LongType),
    StructField("u_sum", LongType),
    StructField("v_sum", LongType),
    StructField("err", StringType)))

  /** Lossy-WebP (VP8 key frame) decode ([[Vp8Codec]] via
    * [[WebpCodec.decodeLossyYuv]]): the exact YUV planes folded to
    * integer stats — sum and position-weighted checksum over Y, sums
    * over the chroma planes — so the planted-corpus oracle replays
    * the whole reconstruction arithmetic relationally. Named
    * rejections in `err` (`interframe`, `colorspace`, `malformed`).
    */
  def extractWebpLossyFeatures(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        try {
          val f = WebpCodec.decodeLossyYuv(payload)
          var ySum = 0L; var yChk = 0L
          var i = 0
          while (i < f.y.length) {
            val v = f.y(i) & 0xFF
            ySum += v; yChk += (v + 1L) * (i + 1L)
            i += 1
          }
          var uSum = 0L; var vSum = 0L
          i = 0
          while (i < f.u.length) {
            uSum += f.u(i) & 0xFF; vSum += f.v(i) & 0xFF
            i += 1
          }
          Row(id, f.width, f.height, ySum, yChk, uSum, vSum, null)
        } catch {
          case e: Reject =>
            Row(id, null, null, null, null, null, null, e.kind)
          case scala.util.control.NonFatal(_) =>
            Row(id, null, null, null, null, null, null, "malformed")
        }
      }
    }(Encoders.row(webpLossySchema)).toDF()
  }

  private val aacFeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("profile", StringType),
    StructField("mpeg2", BooleanType),
    StructField("crc", BooleanType),
    StructField("vbr", BooleanType),
    StructField("n_samples", LongType),
    StructField("duration_ms", LongType),
    StructField("id3v2", BooleanType),
    StructField("err", StringType)))

  /** ADTS AAC frame walk ([[AacCodec]]): frame count, rates, profile,
    * exact sample count and integer duration from the fixed headers
    * alone — the [[extractMp3Features]] budgeting pass for the other
    * dominant compressed audio kind. Named rejections in `err`
    * (`pce-channels`, `layer`, `profile`, `malformed`) — the
    * relational-rejection discipline.
    */
  def extractAacFeatures(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        try {
          val f = AacCodec.decodeAdts(payload)
          Row(id, f.nFrames, f.sampleRate, f.channels, f.profile,
            f.mpeg2, f.crc, f.vbr, f.nSamples, f.durationMs, f.id3v2,
            null)
        } catch {
          case e: Reject =>
            Row(id, null, null, null, null, null, null, null, null,
              null, null, e.kind)
          case scala.util.control.NonFatal(_) =>
            Row(id, null, null, null, null, null, null, null, null,
              null, null, "malformed")
        }
      }
    }(Encoders.row(aacFeatureSchema)).toDF()
  }

  private val embeddingSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** Decode → resize → FEATURE VECTOR — the step that turns a media
    * corpus into an embedding corpus the similarity tier can index:
    * container sniff (PNG signature / GIF8 / RIFF), full lossless
    * decode ([[PixelCodec]] / [[GifCodec]] / [[WebpCodec]]),
    * [[PixelCodec.resizeNearest]] to a tw×th grid, and per-cell
    * gray-sum (r+g+b over the first ≤3 channels) as a tw·th-dim float
    * vector. Integer-exact by construction (cell values ≤ 765, dot
    * products < 2²⁴), so the closed-form oracle replays the vectors AND
    * the downstream exact-cosine probe bit-for-bit. Undecodable rows
    * null the vector — the pipeline's ingest filters them, so garbage
    * can never enter the index. Map-only scan projection; the ONE
    * decode feeds resize and featurization in the same task.
    */
  def extractEmbeddings(media: DataFrame, tw: Int = 4, th: Int = 4): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        scala.util.Try {
          val img: PixelCodec.Image =
            if (payload.length >= 8 && (payload(0) & 0xff) == 0x89 &&
                payload(1) == 'P'.toByte) PixelCodec.decodePng(payload)
            else if (payload.length >= 4 && payload(0) == 'G'.toByte &&
                payload(1) == 'I'.toByte && payload(2) == 'F'.toByte) {
              val g = GifCodec.decodeGif(payload)
              PixelCodec.Image(g.width, g.height, g.channels, g.pixels)
            } else if (payload.length >= 4 && payload(0) == 'R'.toByte &&
                payload(1) == 'I'.toByte && payload(2) == 'F'.toByte) {
              val wp = WebpCodec.decodeWebp(payload)
              PixelCodec.Image(wp.width, wp.height, wp.channels, wp.pixels)
            } else if (payload.length >= 4 &&
                ((payload(0) == 'I'.toByte && payload(1) == 'I'.toByte) ||
                 (payload(0) == 'M'.toByte && payload(1) == 'M'.toByte)))
              // scanned-document population: TIFF strips ([[TiffCodec]])
              TiffCodec.decodeTiff(payload)
            else throw new IllegalArgumentException("unknown container")
          val rz = PixelCodec.resizeNearest(img, tw, th)
          val ch = rz.channels
          val nc = math.min(3, ch)
          val vec = Array.tabulate(tw * th) { p =>
            var s = 0; var k = 0
            while (k < nc) { s += rz.pixels(p * ch + k) & 0xff; k += 1 }
            s.toFloat
          }
          Row(id, vec.toSeq)
        }.getOrElse(Row(id, null))
      }
    }(Encoders.row(embeddingSchema)).toDF()
  }

  private val pcmFeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits", IntegerType),
    StructField("n_samples", LongType),
    StructField("s_sum", LongType),
    StructField("s_sumsq", LongType),
    StructField("zero_cross", LongType),
    StructField("peak", IntegerType)))

  /** SAMPLE-level audio features over [[PixelCodec.decodeWavPcm]]: the
    * payload's PCM data chunk is fully decoded (8-bit recentered /
    * 16-bit LE signed) and folded per row to the standard cheap audio
    * descriptors — energy (`s_sum`, `s_sumsq`), `peak` = max |v|, and
    * `zero_cross` = per-channel count of consecutive-frame strict sign
    * flips (v·prev < 0), summed over channels. All integer-exact, so
    * the closed-form oracle recomputes them from the planted waveform
    * formula; malformed/truncated payloads null every fact.
    */
  def extractPcmFeatures(media: DataFrame,
                         passthrough: Seq[String] = Nil): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val passIdx = passthrough.map(media.schema.fieldIndex)
    val outSchema = StructType(
      pcmFeatureSchema.fields ++ passIdx.map(media.schema.fields(_)))
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val passed = passIdx.map(r.get)
        scala.util.Try {
          val pcm = PixelCodec.decodeWavPcm(payload)
          val ch = pcm.channels
          var sum = 0L; var sumsq = 0L; var zc = 0L; var peak = 0
          var i = 0
          while (i < pcm.samples.length) {
            val v = pcm.samples(i)
            sum += v; sumsq += v.toLong * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (i >= ch && v.toLong * pcm.samples(i - ch) < 0) zc += 1
            i += 1
          }
          Seq[Any](id, pcm.sampleRate, ch, pcm.bits,
            pcm.samples.length.toLong, sum, sumsq, zc, peak)
        } match {
          case scala.util.Success(vals) => Row.fromSeq(vals ++ passed)
          case scala.util.Failure(_) =>
            Row.fromSeq(Seq(id, null, null, null, null, null, null, null,
              null) ++ passed)
        }
      }
    }(Encoders.row(outSchema)).toDF()
  }

  /** Frame sampling stub over header-derived frame counts: pick every
    * `stride`-th frame index — the explode/array plumbing shape. The
    * REAL form is [[extractMp4Frames]], which addresses frames out of
    * the payload's own stsz sample table with byte offsets.
    */
  def sampleFrames(features: DataFrame, stride: Int): DataFrame =
    features.select(col("media_id"), col("n_frames"),
      explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** MP4 sample-table decode: recursive ISO-BMFF box walk down the
    * container chain (`moov/trak/mdia/minf/stbl`) collecting the THREE
    * tables that together address frames — `stsz` (per-sample byte
    * sizes, uniform and table forms), `stsc` (sample→chunk runs) and
    * `stco`/`co64` (per-chunk absolute file offsets) — then resolves
    * every sample's TRUE file offset: chunk base + the sizes of the
    * preceding samples IN THAT CHUNK. Samples are NOT contiguous in a
    * real file (chunks interleave with other tracks and split across
    * mdat runs), so a prefix sum of sizes alone addresses the wrong
    * bytes everywhere past the first chunk boundary. Structural
    * violations (bad box size, truncated tables, a missing table,
    * chunk/sample table disagreement) throw, and the extractor turns
    * that into zero rows for the payload.
    */
  object Mp4Samples {
    private val Containers = Set("moov", "trak", "mdia", "minf", "stbl")

    /** Per-sample sizes and absolute file offsets — the complete fetch
      * plan for one track's frames — plus the sync-sample (keyframe)
      * indices from `stss`, 0-based ascending. `sync = None` means the
      * box is ABSENT, which per ISO/IEC 14496-12 §8.6.2 declares every
      * sample a sync sample (an empty PRESENT table means none are).
      */
    final case class SampleTable(sizes: Array[Int], offsets: Array[Long],
                                 sync: Option[Array[Int]]) {
      /** Keyframe indices, with the absent-box rule applied. */
      def syncIndices: Array[Int] =
        sync.getOrElse(Array.range(0, sizes.length))
    }

    def decode(payload: Array[Byte]): SampleTable = {
      def u8(i: Int): Int = payload(i) & 0xff
      def be32(i: Int): Long =
        ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) |
          u8(i + 3)) & 0xffffffffL
      def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
      def cc(i: Int): String =
        new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val fail = Reject.malformed("mp4")
      if (payload.length < 12 || cc(4) != "ftyp") fail("mp4: no ftyp box")

      var sizes: Array[Int] = null
      // (first_chunk 1-based, samples_per_chunk) runs, in table order
      var stscRuns: Array[(Long, Long)] = null
      var chunkOffs: Array[Long] = null
      var syncNums: Array[Long] = null // stss sample numbers, 1-based

      def walk(from: Long, to: Long): Unit = {
        var i = from
        while (i + 8 <= to) {
          val at = i.toInt
          val sz = be32(at)
          val typ = cc(at + 4)
          if (sz < 8 || i + sz > to) fail(s"mp4: bad box size in $typ")
          typ match {
            case "stsz" =>
              if (sz < 20) fail("mp4: short stsz")
              val uniform = be32(at + 12)
              val n = be32(at + 16)
              if (n > Int.MaxValue || n < 0) fail("mp4: absurd sample count")
              val count = n.toInt
              sizes =
                if (uniform != 0L) {
                  if (uniform > Int.MaxValue) fail("mp4: absurd sample size")
                  Array.fill(count)(uniform.toInt)
                } else {
                  if (20L + 4L * count > sz) fail("mp4: truncated stsz table")
                  Array.tabulate(count)(j => be32(at + 20 + 4 * j).toInt)
                }
            case "stsc" =>
              if (sz < 16) fail("mp4: short stsc")
              val n = be32(at + 12)
              if (16L + 12L * n > sz) fail("mp4: truncated stsc table")
              stscRuns = Array.tabulate(n.toInt)(j =>
                (be32(at + 16 + 12 * j), be32(at + 20 + 12 * j)))
            case "stco" =>
              if (sz < 16) fail("mp4: short stco")
              val n = be32(at + 12)
              if (16L + 4L * n > sz) fail("mp4: truncated stco table")
              chunkOffs = Array.tabulate(n.toInt)(j => be32(at + 16 + 4 * j))
            case "co64" =>
              if (sz < 16) fail("mp4: short co64")
              val n = be32(at + 12)
              if (16L + 8L * n > sz) fail("mp4: truncated co64 table")
              chunkOffs = Array.tabulate(n.toInt)(j => be64(at + 16 + 8 * j))
            case "stss" =>
              if (sz < 16) fail("mp4: short stss")
              val n = be32(at + 12)
              if (16L + 4L * n > sz) fail("mp4: truncated stss table")
              syncNums = Array.tabulate(n.toInt)(j => be32(at + 16 + 4 * j))
            case t if Containers(t) => walk(i + 8, i + sz)
            case _ => ()
          }
          i += sz
        }
      }
      walk(0L, payload.length.toLong)
      if (sizes == null) fail("mp4: no stsz box")
      if (stscRuns == null) fail("mp4: no stsc box")
      if (chunkOffs == null) fail("mp4: no stco/co64 box")
      if (stscRuns.isEmpty || stscRuns.head._1 != 1L)
        fail("mp4: stsc runs must start at chunk 1")
      var r = 1
      while (r < stscRuns.length) {
        if (stscRuns(r)._1 <= stscRuns(r - 1)._1)
          fail("mp4: stsc first_chunk not ascending")
        r += 1
      }
      // expand: walk chunks in order, laying samples at the chunk base
      // plus the intra-chunk running sum — the true fetch addresses
      val offsets = new Array[Long](sizes.length)
      var s = 0
      var run = 0
      var c = 0 // 0-based chunk index
      while (c < chunkOffs.length && s < sizes.length) {
        while (run + 1 < stscRuns.length && stscRuns(run + 1)._1 <= c + 1)
          run += 1
        val spc = stscRuns(run)._2
        if (spc <= 0) fail("mp4: nonpositive samples-per-chunk")
        var off = chunkOffs(c)
        var j = 0L
        while (j < spc && s < sizes.length) {
          offsets(s) = off
          off += sizes(s)
          s += 1; j += 1
        }
        c += 1
      }
      if (s != sizes.length)
        fail("mp4: chunk tables disagree with sample count")
      val sync = Option(syncNums).map { nums =>
        var j = 0
        while (j < nums.length) {
          if (nums(j) < 1L || nums(j) > sizes.length)
            fail("mp4: stss sample number out of range")
          if (j > 0 && nums(j) <= nums(j - 1))
            fail("mp4: stss not ascending")
          j += 1
        }
        nums.map(n => (n - 1).toInt)
      }
      SampleTable(sizes, offsets, sync)
    }
  }

  /** FRAGMENTED MP4 (ISO/IEC 14496-12 §8.8) — the DASH/HLS delivery
    * shape a crawl actually meets for video: no global sample tables;
    * instead `moov/mvex/trex` carries track DEFAULTS and each
    * `moof/traf/trun` fragment addresses its own samples relative to
    * the fragment. The walk resolves every sample's true offset —
    * base (explicit `base-data-offset`, else the moof start under
    * `default-base-is-moof`, else the moof start per the de-facto
    * first-traf rule) + the trun's `data_offset` + the running sum —
    * and size (per-sample in the trun, else the tfhd default, else
    * the trex default). `mfhd` sequence numbers must ascend.
    * Bounded honestly: one traf per moof (multi-track fragments
    * reject by name), sample data must land inside the payload.
    */
  object Mp4Fragments {

    final case class FragTable(nFragments: Int, seqFirst: Long,
                               seqLast: Long, sizes: Array[Int],
                               offsets: Array[Long])

    def decode(payload: Array[Byte]): FragTable = {
      def u8(i: Int): Int = payload(i) & 0xff
      def be32(i: Int): Long =
        ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) |
          u8(i + 3)) & 0xffffffffL
      def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
      def cc(i: Int): String =
        new String(payload, i, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
      val fail = Reject.malformed("fmp4")
      if (payload.length < 12 || cc(4) != "ftyp") fail("fmp4: no ftyp")

      // trex default sample size out of moov/mvex
      var trexSize = -1L
      def findTrex(from: Long, to: Long): Unit = {
        var i = from
        while (i + 8 <= to) {
          val at = i.toInt
          val sz = be32(at)
          val typ = cc(at + 4)
          if (sz < 8 || i + sz > to) fail(s"fmp4: bad box size in $typ")
          typ match {
            case "moov" | "mvex" => findTrex(i + 8, i + sz)
            case "trex" =>
              if (sz < 32) fail("fmp4: short trex")
              trexSize = be32(at + 24)
            case _ => ()
          }
          i += sz
        }
      }
      findTrex(0L, payload.length.toLong)

      val sizesB = Array.newBuilder[Int]
      val offsB = Array.newBuilder[Long]
      var nFrag = 0
      var seqFirst = -1L
      var seqLast = -1L
      var i = 0L
      while (i + 8 <= payload.length) {
        val at = i.toInt
        val sz = be32(at)
        val typ = cc(at + 4)
        if (sz < 8 || i + sz > payload.length)
          fail(s"fmp4: bad box size in $typ")
        if (typ == "moof") {
          val moofAt = i
          var seq = -1L
          var trafSeen = false
          var j = i + 8
          while (j + 8 <= i + sz) {
            val jat = j.toInt
            val bsz = be32(jat)
            val btyp = cc(jat + 4)
            if (bsz < 8 || j + bsz > i + sz)
              fail(s"fmp4: bad box size in $btyp")
            btyp match {
              case "mfhd" =>
                if (bsz < 16) fail("fmp4: short mfhd")
                seq = be32(jat + 12)
              case "traf" =>
                if (trafSeen)
                  fail("fmp4: one traf per moof is the supported shape")
                trafSeen = true
                // tfhd then truns
                var base = -1L
                var defaultBaseIsMoof = false
                var tfhdSize = -1L
                var k = j + 8
                while (k + 8 <= j + bsz) {
                  val kat = k.toInt
                  val csz = be32(kat)
                  val ctyp = cc(kat + 4)
                  if (csz < 8 || k + csz > j + bsz)
                    fail(s"fmp4: bad box size in $ctyp")
                  ctyp match {
                    case "tfhd" =>
                      val flags = be32(kat + 8) & 0xFFFFFF
                      defaultBaseIsMoof = (flags & 0x20000) != 0
                      var p = kat + 16 // after version/flags + track_ID
                      if ((flags & 0x01) != 0) { base = be64(p); p += 8 }
                      if ((flags & 0x02) != 0) p += 4
                      if ((flags & 0x08) != 0) p += 4
                      if ((flags & 0x10) != 0) { tfhdSize = be32(p); p += 4 }
                    case "trun" =>
                      val flags = be32(kat + 8) & 0xFFFFFF
                      val n = be32(kat + 12)
                      if (n > (1 << 22)) fail("fmp4: absurd trun count")
                      if ((flags & 0x01) == 0)
                        fail("fmp4: trun without data-offset")
                      var p = kat + 16
                      val dataOff = be32(p).toInt; p += 4
                      if ((flags & 0x04) != 0) p += 4
                      val effBase =
                        if (base >= 0) base
                        else moofAt // default-base-is-moof OR first-traf
                      var off = effBase + dataOff
                      var s = 0L
                      while (s < n) {
                        if ((flags & 0x100) != 0) p += 4
                        val size =
                          if ((flags & 0x200) != 0) {
                            val v = be32(p); p += 4; v
                          } else if (tfhdSize >= 0) tfhdSize
                          else if (trexSize >= 0) trexSize
                          else fail("fmp4: no sample size source")
                        if ((flags & 0x400) != 0) p += 4
                        if ((flags & 0x800) != 0) p += 4
                        if (size > Int.MaxValue)
                          fail("fmp4: absurd sample size")
                        if (off < 0 || off + size > payload.length)
                          fail("fmp4: sample data outside the payload")
                        sizesB += size.toInt
                        offsB += off
                        off += size
                        s += 1
                      }
                    case _ => ()
                  }
                  k += csz
                }
              case _ => ()
            }
            j += bsz
          }
          if (!trafSeen) fail("fmp4: moof without traf")
          if (seq < 0) fail("fmp4: moof without mfhd")
          if (seqLast >= 0 && seq <= seqLast)
            fail("fmp4: mfhd sequence numbers must ascend")
          if (seqFirst < 0) seqFirst = seq
          seqLast = seq
          nFrag += 1
        }
        i += sz
      }
      if (nFrag == 0) fail("fmp4: no moof fragments")
      FragTable(nFrag, seqFirst, seqLast, sizesB.result(), offsB.result())
    }
  }

  private val fmp4FeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_fragments", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("bytes_total", LongType),
    StructField("seq_first", LongType),
    StructField("seq_last", LongType),
    StructField("data_sum", LongType),
    StructField("data_chk", LongType),
    StructField("err", StringType)))

  /** Fragmented-MP4 walk ([[Mp4Fragments]]): fragment/sample counts,
    * sequence span, and — the load-bearing part — the SAMPLE BYTES
    * read back at the resolved offsets and folded to exact integer
    * stats: a wrong base/data-offset/default resolution reads the
    * wrong bytes and the planted closed form catches it. Failures
    * surface as a named `err` (the relational-rejection discipline).
    */
  def extractFmp4Features(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        try {
          val t = Mp4Fragments.decode(payload)
          var sum = 0L; var chk = 0L
          var g = 0L // global data-byte position across samples
          var s = 0
          while (s < t.sizes.length) {
            var b = 0
            while (b < t.sizes(s)) {
              val v = payload((t.offsets(s) + b).toInt) & 0xff
              sum += v; chk += (v + 1L) * (g + 1L)
              b += 1; g += 1
            }
            s += 1
          }
          Row(id, t.nFragments, t.sizes.length,
            t.sizes.map(_.toLong).sum, t.seqFirst, t.seqLast, sum, chk,
            null)
        } catch {
          case scala.util.control.NonFatal(_) =>
            Row(id, null, null, null, null, null, null, null,
              "malformed")
        }
      }
    }(Encoders.row(fmp4FeatureSchema)).toDF()
  }

  private val mp4FrameSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("frame_idx", IntegerType),
    StructField("frame_bytes", IntegerType),
    StructField("byte_offset", LongType)))

  /** REAL frame sampling over MP4 sample tables: [[Mp4Samples.decode]]
    * resolves each payload's stsz + stsc + stco/co64 into per-sample
    * TRUE file offsets (chunk base + intra-chunk running sum — samples
    * are not contiguous across chunk boundaries), and every `stride`-th
    * frame emits one row (frame index, its byte size, its absolute
    * offset) — exactly the (offset, length) addressing a downstream
    * decoder fetch needs, computed WITHOUT decoding any frame. The whole
    * resolution happens inside the per-partition task; only the sampled
    * rows cross the shuffle-less projection boundary. Malformed payloads
    * contribute zero rows (a frame fetch has nothing to address).
    */
  def extractMp4Frames(media: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        scala.util.Try(Mp4Samples.decode(payload)) match {
          case scala.util.Success(t) =>
            (0 until t.sizes.length by stride).map(i =>
              Row(id, t.sizes.length, i, t.sizes(i), t.offsets(i)))
          case scala.util.Failure(_) => Nil
        }
      }
    }(Encoders.row(mp4FrameSchema)).toDF()
  }

  private val mp4KeyframeSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("n_sync", IntegerType),
    StructField("sync_rank", IntegerType),
    StructField("frame_idx", IntegerType),
    StructField("frame_bytes", IntegerType),
    StructField("byte_offset", LongType)))

  /** Keyframe-aware frame sampling: what a vision-training fetch
    * actually pulls. Decoding an arbitrary sample needs every frame
    * since the previous sync sample; fetching SYNC samples
    * (`stss`-listed keyframes) decodes standalone — so the sampling
    * universe is the sync set, not all samples. Emits every `stride`-th
    * sync sample by sync rank with its true (offset, length) address;
    * an absent stss box marks every sample sync (ISO 14496-12 §8.6.2),
    * degrading to [[extractMp4Frames]]'s all-frames universe. Same
    * zero-shuffle per-partition resolution; malformed payloads emit
    * nothing.
    */
  def extractMp4Keyframes(media: DataFrame, stride: Int = 1): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        scala.util.Try(Mp4Samples.decode(payload)) match {
          case scala.util.Success(t) =>
            val sync = t.syncIndices
            (0 until sync.length by stride).map { k =>
              val i = sync(k)
              Row(id, t.sizes.length, sync.length, k, i,
                t.sizes(i), t.offsets(i))
            }
          case scala.util.Failure(_) => Nil
        }
      }
    }(Encoders.row(mp4KeyframeSchema)).toDF()
  }

  /** Resize stub: scale (width, height) to fit a target box preserving
    * aspect ratio — pure metadata arithmetic here (a real implementation
    * re-encodes the payload in the same per-partition pass as
    * [[extractFeatures]]); deterministic, so the SQL oracle can mirror it.
    * Integer math only: scale = min(tw/w, th/h) capped at 1, applied as
    * floor((dim * tw_num) / denom) to stay exactly reproducible.
    */
  def resizeMeta(features: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val w = col("width"); val h = col("height")
    // choose the binding dimension: fit-to-width iff w/tw >= h/th
    val fitW = w * targetH >= h * targetW
    val outW = when(w <= targetW && h <= targetH, w)
      .when(fitW, lit(targetW))
      .otherwise(floor(w * targetH / h).cast("int"))
    val outH = when(w <= targetW && h <= targetH, h)
      .when(fitW, floor(h * targetW / w).cast("int"))
      .otherwise(lit(targetH))
    features.select(col("media_id"), w.as("src_w"), h.as("src_h"),
      outW.as("out_w"), outH.as("out_h"))
  }
}
