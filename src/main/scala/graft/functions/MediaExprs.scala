package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** `gif_stats(payload)` → struct<width, height, channels, px_sum,
  * px_chk> or NULL — the [[graft.operators.Multimodal.extractGifFeatures]]
  * contract as a native Catalyst expression. This exists as the
  * measured ALTERNATIVE to the multimodal tier's `mapPartitions`
  * extractors (the r9–r11 review item): one representative stateful
  * binary decode (LZW + palette + deinterlace) wrapped the
  * `BpeEncodeExpr` way, so the two execution shapes can be benchmarked
  * against each other on identical payloads and the choice recorded
  * with numbers instead of carried as an open question
  * ([[graft.MultimodalProfile]]; decision + figures in
  * `Multimodal.scala`'s header). Undecodable payloads evaluate to
  * NULL — the same per-row error contract as the extractor.
  */
case class GifStatsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_chk", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "gif_stats"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a binary payload",
      (child.dataType.catalogString, child.dataType == BinaryType))

  override protected def nullSafeEval(input: Any): Any =
    try {
      val img = graft.operators.GifCodec.decodeGif(
        input.asInstanceOf[Array[Byte]])
      var sum = 0L; var chk = 0L; var i = 0
      while (i < img.pixels.length) {
        val v = img.pixels(i) & 0xff
        sum += v; chk += (v + 1L) * (i + 1L)
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](img.width, img.height, img.channels, sum, chk))
    } catch { case scala.util.control.NonFatal(_) => null }

  override protected def withNewChildInternal(newChild: Expression): GifStatsExpr =
    copy(child = newChild)
}

/** `warc_parse(record_bytes)` → struct<warc_type, target_uri, status,
  * content_type, location, body, coding_err, record_id, warc_date,
  * refers_to, refers_to_uri, payload_digest> or NULL — one WARC record
  * ([[graft.sources.WarcCodec]]) parsed in the scan projection: the
  * crawl's native container becomes relational columns (+ the raw body
  * for the downstream HTML extractor), with chunked transfer framing
  * and gzip/deflate content codings decoded on the way and the
  * declined codings surfaced by name in `coding_err` — without a UDF
  * or a driver-side loop. Malformed records evaluate to NULL, the
  * per-row error contract of the whole media tier.
  */
case class WarcParseExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("warc_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = true),
    StructField("status", IntegerType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("location", StringType, nullable = true),
    StructField("body", BinaryType, nullable = false),
    // non-null when the HTTP payload carries a transfer/content coding
    // we decline to decode (`transfer-coding:gzip`,
    // `content-coding:zstd`, `content-coding:br-dictionary` …) — the
    // body is then the still-encoded bytes, honestly labeled
    StructField("coding_err", StringType, nullable = true),
    // record identity + fetch time (every type), and the revisit
    // channel's dedup facts (ISO 28500 §6.7.2): referent record id,
    // its target URI, and the payload digest — null outside revisits
    StructField("record_id", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("refers_to", StringType, nullable = true),
    StructField("refers_to_uri", StringType, nullable = true),
    StructField("payload_digest", StringType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "warc_parse"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a binary WARC record",
      (child.dataType.catalogString, child.dataType == BinaryType))

  override protected def nullSafeEval(input: Any): Any =
    try {
      val r = graft.sources.WarcCodec.parseRecord(
        input.asInstanceOf[Array[Byte]])
      import org.apache.spark.unsafe.types.UTF8String
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          UTF8String.fromString(r.warcType),
          if (r.targetUri == null) null else UTF8String.fromString(r.targetUri),
          if (r.httpStatus == null) null else r.httpStatus.intValue(),
          if (r.contentType == null) null
          else UTF8String.fromString(r.contentType),
          if (r.location == null) null
          else UTF8String.fromString(r.location),
          r.body,
          if (r.codingErr == null) null
          else UTF8String.fromString(r.codingErr),
          if (r.recordId == null) null
          else UTF8String.fromString(r.recordId),
          if (r.warcDate == null) null
          else UTF8String.fromString(r.warcDate),
          if (r.refersTo == null) null
          else UTF8String.fromString(r.refersTo),
          if (r.refersToUri == null) null
          else UTF8String.fromString(r.refersToUri),
          if (r.payloadDigest == null) null
          else UTF8String.fromString(r.payloadDigest)))
    } catch { case scala.util.control.NonFatal(_) => null }

  override protected def withNewChildInternal(newChild: Expression): WarcParseExpr =
    copy(child = newChild)
}

/** `warc_conversion(uri, text)` → binary — one WARC `conversion`
  * record ([[graft.sources.WarcCodec.encodeConversion]], the WET
  * derivative shape) built in the scan projection: the EXPORT half of
  * the container story. A distributed WET write is this expression +
  * the executor-side archive writer — no driver-side serialization.
  */
case class WarcConversionExpr(uri: Expression, text: Expression,
                              metadata: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def left: Expression = uri
  override def right: Expression = text
  override def dataType: DataType = BinaryType
  override def prettyName: String =
    if (metadata) "warc_metadata" else "warc_conversion"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "(uri string, body string)",
      (uri.dataType.catalogString, uri.dataType == StringType),
      (text.dataType.catalogString, text.dataType == StringType))

  override protected def nullSafeEval(u: Any, t: Any): Any = {
    val us =
      u.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val body =
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
        .getBytes("UTF-8")
    if (metadata) graft.sources.WarcCodec.encodeMetadata(us, body)
    else graft.sources.WarcCodec.encodeConversion(us, body)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WarcConversionExpr =
    copy(uri = newLeft, text = newRight)
}

/** `warc_gz_members(file_bytes)` — generator: one row per gzip member
  * of a concatenated `.warc.gz` buffer ([[graft.sources.WarcGz]]),
  * `struct<member_idx int, member binary, err string>` in file order.
  * This is the record-splitting half the WARC tier's file source needs:
  * binaryFile scan → member fan-out → [[WarcParseExpr]] per member, all
  * in one map-only stage. A malformed CONTAINER ends the row's members
  * with one row of NULL `member` and the rejection message in `err`,
  * after the members decoded before the fault (the
  * [[WarcZstMembersExpr]] contract: one broken archive never fails the
  * job); malformed bytes INSIDE a member flow on to [[WarcParseExpr]],
  * which nulls that record's row.
  */
case class WarcGzMembersExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override def elementSchema: StructType = StructType(Seq(
    StructField("member_idx", IntegerType, nullable = false),
    StructField("member", BinaryType, nullable = true),
    StructField("err", StringType, nullable = true)))
  override def prettyName: String = "warc_gz_members"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a binary .warc.gz buffer",
      (child.dataType.catalogString, child.dataType == BinaryType))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val bytes = child.eval(input)
    if (bytes == null) Seq.empty
    else {
      def row(i: Int, m: Array[Byte], err: String) =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i, m,
            if (err == null) null
            else org.apache.spark.unsafe.types.UTF8String.fromString(err)))
      val (ms, fault) = graft.sources.WarcGz.membersUntilReject(
        bytes.asInstanceOf[Array[Byte]])
      ms.zipWithIndex.map { case (m, i) => row(i, m, null) } ++
        fault.map(r => row(ms.length, null, r.getMessage))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WarcGzMembersExpr =
    copy(child = newChildren.head)
}

/** `warc_zst_members(file_bytes)` → rows (member_idx, member, err) —
  * one row per DATA frame of a `.warc.zst` archive buffer
  * ([[graft.sources.WarcZst]]): the frame walk captures the
  * skippable-frame dictionary and decompresses each frame with it;
  * a frame declaring a dictionary the archive did not carry keeps its
  * compressed bytes with the named `err` (`zstd-dictionary:<id>`) —
  * the member-level honest-rejection contract, relational.
  */
case class WarcZstMembersExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override def elementSchema: StructType = StructType(Seq(
    StructField("member_idx", IntegerType, nullable = false),
    StructField("member", BinaryType, nullable = false),
    StructField("err", StringType, nullable = true)))
  override def prettyName: String = "warc_zst_members"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a binary .warc.zst buffer",
      (child.dataType.catalogString, child.dataType == BinaryType))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val bytes = child.eval(input)
    if (bytes == null) Seq.empty
    else graft.sources.WarcZst.members(bytes.asInstanceOf[Array[Byte]])
      .zipWithIndex.map { case (m, i) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i, m.payload,
            if (m.err == null) null
            else org.apache.spark.unsafe.types.UTF8String
              .fromString(m.err)))
      }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WarcZstMembersExpr =
    copy(child = newChildren.head)
}

/** `pdf_text(payload)` → struct<n_pages int, text string, err string>
  * — [[graft.operators.PdfCodec]] in the scan projection: the bounded
  * PDF 1.x text-extraction core as a native expression, no UDF, no
  * driver loop. Success rows carry (n_pages, text, NULL err); every
  * named rejection carries its kind in `err` with NULL facts — the
  * codec family's honest-rejection contract made relational, so a
  * curation query can COUNT rejection kinds instead of losing them in
  * a null.
  */
case class PdfTextExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_pages", IntegerType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("err", StringType, nullable = true)))
  override def prettyName: String = "pdf_text"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a binary PDF payload",
      (child.dataType.catalogString, child.dataType == BinaryType))

  override protected def nullSafeEval(input: Any): Any = {
    import org.apache.spark.unsafe.types.UTF8String
    def row(n: Any, t: Any, e: Any) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, t, e))
    try {
      val r = graft.operators.PdfCodec.extractText(
        input.asInstanceOf[Array[Byte]])
      row(r.nPages, UTF8String.fromString(r.text), null)
    } catch {
      case r: graft.codec.Reject =>
        row(null, null, UTF8String.fromString(r.kind))
      case scala.util.control.NonFatal(_) =>
        row(null, null, UTF8String.fromString("malformed"))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): PdfTextExpr =
    copy(child = newChild)
}
