package graft.sources

import graft.codec.Reject

/** `.warc.zst` member splitting — Common Crawl's CURRENT archive
  * framing (the gzip layout's successor): one file of back-to-back
  * zstd frames (RFC 8878), each data frame holding one or more WARC
  * records, optionally led by a SKIPPABLE frame carrying the shared
  * compression dictionary (the `warcio`/IIPC convention: skippable
  * magic `0x184D2A5D`, payload = the dictionary, itself either raw,
  * a serialized zstd dictionary, or zstd-compressed).
  *
  * Division of labor, the [[WarcGz]]/`Inflater` discipline: the
  * CONTAINER intelligence — frame magics, skippable-frame dictionary
  * capture, frame-header parse (descriptor flags, window, dictionary
  * id), the 3-byte block-header walk that finds each frame's exact
  * end, checksum presence — is implemented here, byte by byte; the
  * entropy-coding math (FSE/Huffman block decompression, window
  * execution, content-checksum verification) is the platform codec's
  * (`com.github.luben.zstd`, the zstd-jni binding Spark itself ships
  * for shuffle compression), exactly as the gzip walk frames members
  * itself and hands deflate streams to the JVM `Inflater`.
  *
  * Parsing contract ([[members]]):
  *  - frames repeat until the buffer is exhausted; anything that is
  *    neither a zstd data frame nor a skippable frame is a named
  *    failure (a real archive ends on a frame boundary);
  *  - skippable frames (`0x184D2A50..5F` + LE32 size) are walked by
  *    their own framing; the `0x184D2A5D` dictionary convention
  *    captures the payload as the archive dictionary — sniffed:
  *    a zstd data-frame magic means the dictionary itself travels
  *    compressed (decompress first), anything else (serialized-dict
  *    magic `0xEC30A437` or raw content) loads as-is;
  *  - data frames parse their header (reserved descriptor bit must be
  *    zero; single-segment/window/dictionary-id/content-size fields
  *    by the spec's layout) and walk block headers (last-bit, type,
  *    21-bit size; reserved type fails) to the frame's end, checksum
  *    included — so each frame's exact byte slice is known BEFORE any
  *    decompression, which is what lets a reader skip or keep frames
  *    it declines to decode;
  *  - a frame declaring a dictionary id when NO dictionary frame was
  *    captured is the NAMED member error `zstd-dictionary:<id>` with
  *    the still-compressed frame bytes kept — dark data labeled, not
  *    dropped (the `br` Content-Encoding discipline);
  *  - corrupt compressed data, a content-checksum mismatch, or a
  *    frame inflating past [[maxFrameBytes]] fail the archive by name
  *    (corruption is not a member-level fact).
  *
  * Scale shape: identical to [[WarcGz]] — parallelism is per FILE
  * (frame N's offset needs frame N-1's framing, though not its
  * decompression), one task per ~1 GB segment file, single pass,
  * one row per frame.
  */
object WarcZst {

  /** Decompression cap per frame — same bomb guard as
    * [[WarcGz.maxMemberBytes]].
    */
  val maxFrameBytes: Int = 1 << 30

  val ZstdMagic = 0xFD2FB528
  val SkippableMagicBase = 0x184D2A50 // low nibble 0x0-0xF all legal
  val DictSkippableMagic = 0x184D2A5D // the CC dictionary convention

  /** One walked frame: `payload` is the decompressed bytes (or the
    * still-compressed frame slice when `err` names why decoding was
    * declined); `err` is null on success.
    */
  final case class Member(payload: Array[Byte], err: String)

  private val fail = Reject.malformed("warc.zst")

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  private def u32le(b: Array[Byte], i: Int): Long = {
    if (i + 4 > b.length) fail("truncated 32-bit field")
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) |
      (u8(b, i + 3).toLong << 24)) & 0xFFFFFFFFL
  }

  /** The parsed frame header + the offset where blocks begin. */
  private final case class FrameHeader(dictId: Long, hasChecksum: Boolean,
                                       blocksAt: Int)

  private def parseFrameHeader(b: Array[Byte], at: Int): FrameHeader = {
    // at points past the 4-byte magic
    if (at >= b.length) fail("truncated frame header descriptor")
    val fhd = u8(b, at)
    if ((fhd & 0x08) != 0) fail("reserved frame-descriptor bit set")
    val fcsFlag = (fhd >> 6) & 3
    val singleSegment = (fhd & 0x20) != 0
    val hasChecksum = (fhd & 0x04) != 0
    val didFlag = fhd & 3
    var p = at + 1
    if (!singleSegment) {
      if (p >= b.length) fail("truncated window descriptor")
      p += 1
    }
    val didBytes = didFlag match {
      case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
    }
    if (p + didBytes > b.length) fail("truncated dictionary id")
    var dictId = 0L
    var i = 0
    while (i < didBytes) {
      dictId |= (u8(b, p + i).toLong << (8 * i)); i += 1
    }
    p += didBytes
    val fcsBytes = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2; case 2 => 4; case _ => 8
    }
    if (p + fcsBytes > b.length) fail("truncated frame content size")
    p += fcsBytes
    FrameHeader(dictId, hasChecksum, p)
  }

  /** Walk the data frame's blocks from `blocksAt`; returns the offset
    * just past the frame (checksum included when declared).
    */
  private def frameEnd(b: Array[Byte], h: FrameHeader): Int = {
    var p = h.blocksAt
    var last = false
    while (!last) {
      if (p + 3 > b.length) fail("truncated block header")
      val hdr = u8(b, p) | (u8(b, p + 1) << 8) | (u8(b, p + 2) << 16)
      last = (hdr & 1) != 0
      val btype = (hdr >> 1) & 3
      val bsize = hdr >> 3
      val body = btype match {
        case 0 => bsize // raw: content is bsize bytes
        case 1 => 1 // RLE: one byte, repeated bsize times
        case 2 => bsize // compressed
        case _ => fail("reserved block type")
      }
      p += 3 + body
      if (p > b.length) fail("block runs past the buffer")
    }
    if (h.hasChecksum) {
      if (p + 4 > b.length) fail("truncated content checksum")
      p += 4
    }
    p
  }

  /** Decompress one exact frame slice with the platform codec; the
    * codec verifies the content checksum when the frame carries one.
    */
  private def inflateFrame(frame: Array[Byte],
                           dict: Array[Byte]): Array[Byte] = {
    val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(frame))
    try {
      if (dict != null) in.setDict(dict)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > maxFrameBytes)
          fail(s"frame inflates past $maxFrameBytes bytes")
        n = in.read(buf)
      }
      out.toByteArray
    } catch {
      case e: java.io.IOException =>
        fail(s"frame decompression failed: ${e.getMessage}")
    } finally in.close()
  }

  /** All data-frame members of a `.warc.zst` buffer in file order,
    * with the dictionary convention applied. Skippable frames emit no
    * member. Empty input yields no members.
    */
  def members(bytes: Array[Byte]): IndexedSeq[Member] = {
    val out = IndexedSeq.newBuilder[Member]
    var dict: Array[Byte] = null
    var at = 0
    while (at < bytes.length) {
      val magic = u32le(bytes, at)
      if ((magic & 0xFFFFFFF0L) == (SkippableMagicBase & 0xFFFFFFF0L)) {
        val size = u32le(bytes, at + 4)
        if (size > Int.MaxValue || at + 8 + size > bytes.length)
          fail("skippable frame runs past the buffer")
        if (magic == (DictSkippableMagic & 0xFFFFFFFFL)) {
          val payload = java.util.Arrays.copyOfRange(bytes, at + 8,
            at + 8 + size.toInt)
          // the dictionary may itself travel zstd-compressed — sniff
          // the data-frame magic; a serialized dict (0xEC30A437) or
          // raw content loads as-is, the codec's auto detection
          dict =
            if (payload.length >= 4 &&
                u32le(payload, 0) == (ZstdMagic & 0xFFFFFFFFL))
              inflateFrame(payload, null)
            else payload
        }
        at += 8 + size.toInt
      } else if (magic == (ZstdMagic & 0xFFFFFFFFL)) {
        val h = parseFrameHeader(bytes, at + 4)
        val end = frameEnd(bytes, h)
        val slice = java.util.Arrays.copyOfRange(bytes, at, end)
        if (h.dictId != 0 && dict == null)
          // dark data LABELED: the frame names a dictionary this
          // archive did not carry — keep the compressed bytes
          out += Member(slice, s"zstd-dictionary:${h.dictId}")
        else out += Member(inflateFrame(slice, dict), null)
        at = end
      } else fail(f"bad frame magic 0x$magic%08x at offset $at")
    }
    out.result()
  }

  // ---- fixture encoders (planted archives; decode is the engine's) --

  /** One plain zstd frame of `payload` (`checksum` adds the content
    * checksum the walk must frame past and the codec must verify).
    */
  def encodeFrame(payload: Array[Byte], checksum: Boolean = false,
                  dict: Array[Byte] = null): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(bos)
    try {
      zos.setChecksum(checksum)
      if (dict != null) zos.setDict(dict)
      zos.write(payload)
    } finally zos.close()
    bos.toByteArray
  }

  /** A skippable frame (default: the dictionary convention's magic). */
  def encodeSkippable(payload: Array[Byte],
                      magic: Int = DictSkippableMagic): Array[Byte] = {
    val out = java.nio.ByteBuffer
      .allocate(8 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.putInt(magic).putInt(payload.length).put(payload)
    out.array()
  }

  /** A handcrafted data frame DECLARING dictionary id `dictId` with a
    * single raw block of `payload` — the shape that must reject by
    * name when the archive carried no dictionary. (Raw-content
    * dictionaries produce frames with id 0, so the declared-id case
    * is planted explicitly.)
    */
  def encodeFrameWithDictId(payload: Array[Byte],
                            dictId: Int): Array[Byte] = {
    require(dictId > 0 && dictId <= 0xFF, "1-byte dict id fixture")
    val out = java.nio.ByteBuffer
      .allocate(4 + 1 + 1 + 1 + 3 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.putInt(ZstdMagic)
    out.put(0x01.toByte) // FHD: fcs 0, no single-segment, DID flag 1
    out.put(0x00.toByte) // window descriptor: 1 KiB, ample for raw
    out.put(dictId.toByte)
    val bh = (payload.length << 3) | 0x1 // raw block, last
    out.put((bh & 0xFF).toByte)
    out.put(((bh >> 8) & 0xFF).toByte)
    out.put(((bh >> 16) & 0xFF).toByte)
    out.put(payload)
    out.array()
  }
}
