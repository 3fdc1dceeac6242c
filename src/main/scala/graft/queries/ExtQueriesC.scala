package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.model._
import graft.operators._
import graft.streaming.StreamingIndex

/** Training-data extensions, third tier: frontier/robots, pretrain chains, tokenizer, sampling, multimodal
  * (pure move out of Queries.scala — no behavior change).
  */
private[graft] trait ExtQueriesC extends ExtQueriesB {
  // the traits form one object (Queries); forward references across
  // tiers resolve through the self-type, exactly as in the single file
  self: OraclesExt =>

  /** The 13 planted per-domain robots policies parsed ONCE into the
    * production broadcast shape (domain → rules,
    * [[graft.functions.RobotsOps.robotsRules]]) — the fixture shared
    * verbatim by the robots gate, the batch e2e funnel and both
    * streaming twins, so every composed query judges pages against
    * the SAME policy space the oracle replays.
    */
  private[graft] def plantedCrawlRobots(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 13).map { n =>
      val txt =
        if (n % 2 == 0)
          s"User-agent: graftbot\nDisallow: /A/b${n % 3}\n\n" +
            "User-agent: *\nDisallow: /A\n"
        else if (n % 3 == 0)
          s"User-agent: *\nDisallow: /A\nAllow: /A/b${n % 9}\n"
        else
          s"User-agent: *\nDisallow: /A/b${n % 5}\nDisallow:\n# note\n"
      (s"site$n.com", txt)
    }.toDF("domain", "robots_txt")
      // parse-once production shape (see pipelineRobotsFilter)
      .select(col("domain"), graft.functions.RobotsOps
        .robotsRules(col("robots_txt"), "GraftBot").as("rules"))
  }

  /** `record` column → the staged crawl frame (decoded / allowed /
    * kept verdict columns) — the per-row half of the composed funnel,
    * shared VERBATIM by the batch e2e and both streaming twins: every
    * stage is stateless (scan-projection expressions + one 13-row
    * broadcast join), so the streaming state must equal the batch
    * replay under any micro-batch split, which is exactly what the
    * shared oracle checks.
    */
  private[graft] def crawlFunnelStaged(records: DataFrame): DataFrame = {
    val robots = plantedCrawlRobots(records.sparkSession)
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("record"))))
    records
      .select(w.as("w"))
      .select(
        // the deployed legacy-index snapshot, pinned at construction:
        // the funnel DECODES Shift_JIS/GBK/... pages instead of
        // rejecting them (the embedded ladder keeps the honest
        // rejection for labels outside the artifact, e.g. koi8-r)
        TextOps.decodeCharsetFromArtifact(col("w.body"),
          col("w.content_type"),
          graft.functions.EncodingStore.jdkSnapshotDir).as("c"),
        col("w.target_uri").as("uri"))
      .withColumn("clean",
        TextOps.extractHtml(col("c.text")).getField("text"))
      .withColumn("url_canon",
        graft.functions.UrlOps.canonicalizeUrl(col("uri")))
      .withColumn("domain", graft.functions.UrlOps.registrableDomain(
        graft.functions.UrlOps.urlHost(col("url_canon"))))
      .withColumn("path",
        regexp_extract(col("url_canon"), "^[a-z]+://[^/]+(/[^?#]*)", 1))
      .join(broadcast(robots), Seq("domain"))
      .withColumn("allowed",
        graft.functions.RobotsOps.rulesAllowed(col("rules"),
          col("path")))
      .withColumn("decoded", col("c.text").isNotNull)
      .withColumn("kept", col("decoded") && col("allowed") &&
        TextOps.langId(col("clean")) === "en" &&
        TextOps.qualityScore(col("clean")) >= 0.6)
  }

  /** The 5-number corpus funnel over [[crawlFunnelStaged]]'s verdict
    * columns — one map-side-combined aggregate, the only shuffle in
    * the composed ingest path.
    */
  private[graft] def crawlFunnelAgg(staged: DataFrame): DataFrame =
    staged.agg(
      count(lit(1)).as("n_fetched"),
      sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"),
      sum(when(col("decoded") && col("allowed"), 1L).otherwise(0L))
        .as("n_allowed"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("kept"),
        TextOps.tokenStats(col("clean")).getField("n_tokens"))
        .otherwise(lit(0L))).as("total_tokens"))

  /** The documents table restructured into C4's unit of work — LINES
    * ([[gopherAugmentedDocs]] discipline): a terminal-punctuated lead
    * sentence, the doc text with a terminal period only for even ids
    * (the line-retention rule's both outcomes), a `javascript` line
    * for every 7th doc, a `lorem ipsum` line for every 11th, a
    * curly-brace line for every 13th, and a five-sentence booster for
    * every 3rd (so the 3-sentence page floor has both outcomes).
    */
  private[graft] def c4AugmentedDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val doc = concat(
      lit("First planted sentence "), id.cast("string"), lit("."),
      lit("\n"), col("text"),
      when(id % 2 === 0, lit(".")).otherwise(lit("")),
      when(id % 7 === 0, lit("\nThis page uses javascript heavily."))
        .otherwise(lit("")),
      when(id % 11 === 0, lit("\nLorem ipsum dolor sit amet."))
        .otherwise(lit("")),
      when(id % 13 === 0, lit("\nvar code = { sample };"))
        .otherwise(lit("")),
      when(id % 3 === 0,
        lit("\nSecond one. Third one. Fourth one. Fifth one."))
        .otherwise(lit("")))
    docs(s, d).select(id, doc.as("text"))
  }

  /** C4 FILTERS (`pipeline_c4_filters`) — the published line + page
    * rule set of Raffel et al. 2020 §2.2 (the C4 cleaning that
    * produced the most-reused public pretraining corpus), reduced to
    * its deterministic core:
    *   - LINE retention: keep only lines ending in terminal
    *     punctuation (`.` `!` `?` `"`), drop lines containing the
    *     word `javascript` (ASCII-case-insensitive);
    *   - PAGE drops: any page whose RAW text contains `lorem ipsum`
    *     (case-insensitive) or a curly brace, or whose RETAINED text
    *     carries fewer than 3 sentences (terminal-punctuation count —
    *     the deterministic stand-in for C4's splitter).
    * Kept lines are re-joined and verified BYTE-FOR-BYTE via md5 —
    * the rule set is a rewrite, not just a verdict. One line split +
    * higher-order filters in the scan projection; the page verdict is
    * arithmetic over the same pass. Complements the Gopher gate
    * (`pipeline_gopher_rules`): C4 edits lines, Gopher judges pages.
    */
  val pipelineC4Filters: Q = (s, d) => {
    val lines = split(col("text"), "\n")
    val keptLines = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
        l.endsWith("\"")) && !lower(l).contains("javascript"))
    val kept = array_join(keptLines, "\n")
    val nSentences = (length(kept) -
      length(translate(kept, ".!?", ""))).cast("long")
    val hasLorem = lower(col("text")).contains("lorem ipsum")
    val hasBrace = col("text").contains("{")
    c4AugmentedDocs(s, d)
      .select(col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(keptLines).cast("long").as("n_lines_kept"),
        nSentences.as("n_sentences"),
        hasLorem.as("has_lorem"),
        hasBrace.as("has_brace"),
        md5(kept).as("kept_md5"))
      .withColumn("keep", !col("has_lorem") && !col("has_brace") &&
        col("n_sentences") >= 3)
      .orderBy("doc_id")
  }

  /** STREAMING composed ingest (`pipeline_warc_stream`): the
    * [[pipelineCrawlE2e]] path as ONE continuous query — the
    * documents stream is wrapped into WARC records per micro-batch
    * (stateless, like the planted-fixture discipline everywhere
    * else), then container parse → charset → extraction → URL
    * canonicalization → robots gate (the parse-once broadcast pair)
    * → quality gates → the SAME 5-number funnel, maintained as
    * streaming state in complete mode. Every per-row step is
    * stateless, so the final state must equal the batch replay under
    * ANY micro-batch split — the oracle is pipeline_crawl_e2e's
    * funnel replay verbatim. At 100 TB this is the ingest tier as a
    * continuously-running query over arriving crawl segments.
    */
  val pipelineWarcStream: Q = (s, d) => {
    val schema = docs(s, d).schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
    val recSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("record", BinaryType)))
    val records = stream.select(col("doc_id"), col("text"))
      .mapPartitions { rows =>
        rows.map(r => Row(r.getLong(0), Queries.crawlE2eRecord(r.getLong(0),
          r.getString(1))))
      }(Encoders.row(recSchema))
    val funnel = crawlFunnelAgg(crawlFunnelStaged(
      records.select("record")))
    s.catalog.dropTempView("graft_warc_stream")
    val q = graft.streaming.StreamScale.runDrained(s) {
      funnel.writeStream.outputMode("complete").format("memory")
      .queryName("graft_warc_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    BenchProbe.addStreamData("pipeline_warc_stream", q)
    s.table("graft_warc_stream")
  }

  /** STREAMING ingest from REAL `.warc.gz` archives
    * (`pipeline_warc_gz_stream`): [[sourceWarcGz]]'s container path
    * composed with [[pipelineWarcStream]]'s funnel — archive FILES
    * land in a watched directory (two waves, forced mtimes,
    * `maxFilesPerTrigger = 1`, the [[plantWave]] discipline), the
    * `binaryFile` stream member-splits each arriving archive
    * ([[graft.functions.WarcGzMembersExpr]]), and the members run the
    * SAME stateless funnel, so the complete-mode state must equal the
    * batch replay — the oracle is [[pipelineCrawlE2e]]'s funnel
    * verbatim, under any micro-batch split. This is the actual 100 TB
    * continuous-ingest shape: Common Crawl segments arriving as
    * files, one task per archive, no state beyond the 5-number
    * aggregate.
    */
  val pipelineWarcGzStream: Q = (s, d) => {
    val feedDir = Scratch.dir("graft_warcgz_feed")
    val recs = plantedCrawlE2eRecords(s, d)
    // file key on doc_id/2: the wave split already consumed the
    // parity bit, so doc_id % 2 would be CONSTANT inside each wave
    // and collapse it into one archive (2 micro-batches, not 4)
    val fk = floor(col("doc_id") / 2) % 2
    writeWarcGzFiles(recs.filter(col("doc_id") % 2 === 0), feedDir, 2,
      "wave_a", waveBaseMs, fk)
    writeWarcGzFiles(recs.filter(col("doc_id") % 2 === 1), feedDir, 2,
      "wave_b", waveBaseMs + 60000L, fk)
    // binaryFile's schema is FIXED by the source; streaming just
    // requires it stated up front (batch infers it)
    val binSchema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("modificationTime", TimestampType, nullable = false),
      StructField("length", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    val stream = s.readStream.format("binaryFile").schema(binSchema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.warc.gz").load(feedDir)
    val g = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcGzMembersExpr(
        org.apache.spark.sql.GraftBridge.expression(col("content"))))
    val records = stream.select(g).select(col("member").as("record"))
    val funnel = crawlFunnelAgg(crawlFunnelStaged(records))
    s.catalog.dropTempView("graft_warcgz_stream")
    val q = graft.streaming.StreamScale.runDrained(s) {
      funnel.writeStream.outputMode("complete").format("memory")
      .queryName("graft_warcgz_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    BenchProbe.addStreamData("pipeline_warc_gz_stream", q)
    s.table("graft_warcgz_stream")
  }

  /** WARC responses carrying a MIX of media: html in three charset
    * shapes (utf-8, labeled windows-1252, a labeled-EUC-JP decode
    * rejection) and PDFs in both layout generations (classic; PDF 1.5
    * xref-stream + ObjStm + predictor), every 7th classic PDF
    * encrypted (the named-rejection path through the dispatch).
    */
  private[graft] def plantedMixedRecords(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("record", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      import graft.operators.PdfCodec
      import graft.sources.WarcCodec
      rows.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        val uri = s"http://site${id % 13}.com/page/${id % 7}"
        def html(h1Extra: String): String =
          s"<html><head><title>Doc $id</title></head><body>" +
            s"<h1>Doc $id$h1Extra</h1><div>$text</div></body></html>"
        val rec: Array[Byte] = (id % 5).toInt match {
          case 0 => WarcCodec.encodeResponse(uri, 200, "text/html",
            html("").getBytes("UTF-8"))
          case 1 => WarcCodec.encodeResponse(uri, 200,
            "text/html; charset=iso-8859-1", Queries.w1252Bytes(html(" €")))
          case 2 => WarcCodec.encodeResponse(uri, 200,
            "application/pdf",
            PdfCodec.encodePdf(Seq(Seq(s"Doc $id pdf.", text)),
              encrypted = id % 7 == 0))
          case 3 => WarcCodec.encodeResponse(uri, 200,
            "application/pdf",
            PdfCodec.encodePdf(Seq(Seq(s"Doc $id pdfm.", text)),
              flate = true, xrefStream = true, objStm = true,
              predictor = 12))
          case _ =>
            if (id % 3 == 0) WarcCodec.encodeResponse(uri, 200,
              "text/html; charset=koi8-r", text.getBytes("US-ASCII"))
            else WarcCodec.encodeResponse(uri, 200,
              "text/html; charset=EUC-JP",
              html(" \u65E5\u672C\u8A9E").getBytes("EUC-JP"))
        }
        Row(id, rec)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** MIXED-MEDIA crawl funnel (`pipeline_crawl_mixed`): one archive
    * scan where the per-record pipeline DISPATCHES on the HTTP
    * content type — `application/pdf` bodies run
    * [[graft.functions.PdfTextExpr]], html bodies run the
    * charset-sniff → markup-extraction chain — and both media merge
    * into the SAME language/quality funnel. This is the real shape of
    * a crawl corpus (PDF is the second-largest text payload after
    * HTML) and the reason the PDF tier exists: without the dispatch
    * branch every PDF byte is dark data. Catalyst's `If` evaluates
    * only the taken branch per row, so each record pays exactly its
    * own media's decode; the whole pre-aggregation path stays one
    * map-only stage. Html decodes through the pinned EncodingStore
    * snapshot, so the EUC-JP records carry REAL Japanese bytes into
    * the funnel; the oracle replays both extraction shapes, the
    * per-media rejections (koi8-r label, encrypted PDFs) and the full
    * gate arithmetic down to the kept token sum, split by media.
    */
  val pipelineCrawlMixed: Q = (s, d) => {
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("record"))))
    def pdfText(body: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.PdfTextExpr(
          org.apache.spark.sql.GraftBridge.expression(body)))
    val staged = plantedMixedRecords(s, d)
      .select(w.as("w"))
      .withColumn("is_pdf",
        col("w.content_type") === "application/pdf")
      .withColumn("text",
        when(col("is_pdf"), pdfText(col("w.body")).getField("text"))
          .otherwise(TextOps.extractHtml(
            // the deployed legacy-index snapshot (the e2e funnel's
            // pin): EUC-JP pages decode; koi8-r stays the named
            // html-side rejection
            TextOps.decodeCharsetFromArtifact(col("w.body"),
              col("w.content_type"),
              graft.functions.EncodingStore.jdkSnapshotDir)
              .getField("text")).getField("text")))
      .withColumn("decoded", col("text").isNotNull)
      .withColumn("kept", col("decoded") &&
        TextOps.langId(col("text")) === "en" &&
        TextOps.qualityScore(col("text")) >= 0.6)
    staged.agg(
      count(lit(1)).as("n_fetched"),
      sum(when(col("is_pdf"), 1L).otherwise(0L)).as("n_pdf"),
      sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("kept") && col("is_pdf"), 1L).otherwise(0L))
        .as("n_pdf_kept"),
      sum(when(col("kept"),
        TextOps.tokenStats(col("text")).getField("n_tokens"))
        .otherwise(lit(0L))).as("total_tokens"))
  }

  /** PII screening: per-kind match counts + md5 of the redacted text (the
    * redaction itself verified byte-for-byte through the hash).
    */
  val textPii: Q = (s, d) => {
    val counts = TextOps.piiCounts(col("text")).map { case (n, c) => c.as(n) }
    piiAugmentedDocs(s, d)
      .select(col("doc_id") +: counts :+
        md5(TextOps.redactPii(col("text"))).as("redacted_md5"): _*)
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: docs ≡ 0 (mod 17) act as the held-out
    * benchmark; every other doc is screened for 5-gram overlap with it.
    */
  val dedupDecontaminate: Q = (s, d) => {
    val all = docs(s, d)
    Dedup.decontaminate(
      all.filter(col("doc_id") % 17 =!= 0),
      all.filter(col("doc_id") % 17 === 0), n = 5)
      .orderBy("doc_id")
  }

  /** Span-level exact dedup (repeated 8-token windows, merged-interval
    * coverage per doc). The engine fingerprints windows with 8-byte
    * xxhash64 (the scale shape — fixed-width longs through the occurrence
    * shuffle); the oracle recomputes the same COVERAGE via md5 window
    * fingerprints, a global occurrence filter and lead()-merged intervals —
    * the outputs are fingerprint-kind-independent.
    */
  val dedupSubstring: Q = (s, d) =>
    Dedup.duplicatedSpans(docs(s, d), k = 8).orderBy("doc_id")

  /** Span REMOVAL: documents rewritten with duplicated 8-token windows cut
    * out; the oracle rebuilds the rewritten text per doc and must match
    * its md5 exactly (the rewritten-text digest is the output contract;
    * the internal window fingerprints are xxhash64 as in dedup_substring).
    */
  val dedupSpanRewrite: Q = (s, d) =>
    Dedup.removeDuplicatedSpans(docs(s, d), k = 8).orderBy("doc_id")

  /** Incremental span dedup: docs ≡ 7 (mod 10) arrive as the new batch
    * and are screened for 8-token windows present ANYWHERE in the
    * standing corpus (the rest); same split as `dedup_incremental`. The
    * oracle recomputes the corpus window-fingerprint set and the batch
    * coverage with md5 windows — outputs are hash-kind-independent.
    */
  val dedupSpanIncremental: Q = (s, d) => {
    val all = docs(s, d)
    Dedup.duplicatedSpansIncremental(
      all.filter(col("doc_id") % 10 =!= 7),
      all.filter(col("doc_id") % 10 === 7), k = 8)
      .orderBy("doc_id")
  }

  /** Sketch-based corpus profiling: mergeable HLL++ cardinality and
    * quantile sketches per source (map-side-combinable, constant memory —
    * the 100 TB twin of `corpus_profile`'s exact percentiles), gated
    * against the exact values computed in the same pass. The oracle
    * recomputes the exact source count and asserts the error-bound
    * constants.
    */
  val corpusSketch: Q = (s, d) => {
    val base = docs(s, d).select(col("source"),
      TextOps.fingerprintMd5(col("text")).as("h"),
      size(TextOps.normTokens(col("text"))).as("n_toks"))
    val per = base.groupBy("source").agg(
      // rsd 0.01 (~11 KB/source, constant): the 5% gate is then 5 sigma,
      // so it holds at ANY scale — the default 0.05 rsd made the max
      // error over 20 sources cross 5% at sf0.1 (1-sigma bound)
      approx_count_distinct(col("h"), 0.01).as("approx_docs"),
      countDistinct(col("h")).as("exact_docs"),
      expr("approx_percentile(n_toks, 0.5, 1000)").as("p50_approx"),
      expr("percentile(n_toks, 0.5)").as("p50_exact"))
    val row = per.agg(
      count(lit(1)).as("n_sources"),
      max(abs(col("approx_docs") - col("exact_docs")) /
        col("exact_docs")).as("card_err"),
      max(abs(col("p50_approx") - col("p50_exact")) /
        col("p50_exact")).as("p50_err")).head()
    s.range(1).select(
      lit(row.getLong(0)).as("n_sources"),
      lit(row.getDouble(1) <= 0.05).as("cardinality_ok"),
      lit(row.getDouble(2) <= 0.05).as("p50_ok"))
  }

  /** Cluster-confined semantic near-dup (the SemDeDup shape), graded as
    * recall against the exact cosine-threshold pair set: the oracle
    * recomputes the exact pair COUNT from scratch and asserts the recall
    * bound constant (same contract as the `sim_ann_*` recall queries —
    * the cluster assignment itself is k-means-state-dependent and so not
    * SQL-reproducible).
    */
  val dedupSemantic: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val exact = Similarity.nearDupPairsExact(emb, 0.4).select("id_a", "id_b")
    // probes=3 measured 0.96/0.92 recall at sf0.001/0.01 (probes=2: 0.68)
    val cand = Similarity
      .semanticNearDupPairs(emb, 0.4, nCentroids = 16, probes = 3)
      .select(col("id_a"), col("id_b"), lit(1).as("__hit"))
    val row = exact.join(cand, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("total"), count("__hit").as("hits")).head()
    val (total, hits) = (row.getLong(0), row.getLong(1))
    s.range(1).select(
      lit(total).as("n_exact_pairs"),
      lit(total > 0 && hits.toDouble / total >= 0.8).as("recall_ok"))
  }

  /** Incremental semantic dedup against the persisted ANN store
    * ([[graft.operators.Dedup.semanticIncrementalStore]]): the standing
    * corpus (vec_id % 4 ≠ 3) is embedded/clustered/encoded into a store
    * ONCE; the arriving batch (vec_id % 4 = 3) probes it in BATCH mode
    * (`broadcastQ = false` — query frame and shortlist shuffle-join on
    * `c_id`/`neighbor_id`; nothing batch-sized broadcasts) and every
    * batch row reports its nearest standing neighbor + the `is_dup`
    * verdict at cosine ≥ 0.4. The steady-state dedup shape at 100 TB:
    * work ∝ batch × probed-cluster codes, never batch × corpus. Runs
    * the parity configuration (every cluster probed, shortlist deeper
    * than the corpus), so (nn_id, sim) IS the exact cosine argmax and
    * the oracle replays row-level; the production pruned batch plan
    * (no query-side broadcast, codes scan still statically pruned) is
    * asserted in [[graft.DedupSpec]].
    */
  val dedupSemanticIncremental: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val standing = emb.filter(col("vec_id") % 4 =!= 3)
    val batch = emb.filter(col("vec_id") % 4 === 3)
    val dir = Scratch.dir("graft_ann_seminc")
    val (_, v) = graft.operators.AnnIndex.build(standing, dir)
    Dedup.semanticIncrementalStore(s, dir, batch, standing,
        threshold = 0.4, nprobe = 16, rerank = 1 << 20, version = v)
      .withColumn("sim", round(col("sim"), 6))
      .orderBy("vec_id")
  }

  /** Plant one arrival wave as a single parquet file with a forced
    * mtime — the file-stream queries replay deterministic micro-batch
    * ORDER by pairing these with `maxFilesPerTrigger = 1` (the file
    * source processes files oldest-mtime-first).
    */
  private[graft] val waveBaseMs = 1700000000000L
  private[graft] def plantWave(feedDir: String, wave: DataFrame, name: String,
                        mtimeMs: Long): Unit = {
    val tmp = Scratch.dir(s"${new java.io.File(feedDir).getName}_$name")
    wave.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    val dest = java.nio.file.Paths.get(feedDir, s"$name.parquet")
    java.nio.file.Files.copy(part.toPath, dest)
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** Streaming semantic dedup against a GROWING ANN store
    * ([[graft.streaming.StreamingDedup.semanticIngestStore]]): the
    * standing corpus (vec_id % 8 ∉ {3, 7}) is built into a store once;
    * two arrival waves (% 8 = 3, then % 8 = 7) stream in as separate
    * micro-batches (two feed files with forced mtime order +
    * maxFilesPerTrigger=1), each probing the store for its nearest live
    * neighbor and then INGESTING itself — so wave 2's candidates are the
    * standing corpus PLUS wave 1, the sequential first-arrival-wins
    * semantics of a deduplicating ingest front door. Verdicts land as
    * per-batch idempotent parquet directories (the production sink
    * shape: a retried batch overwrites its own verdicts). Parity
    * configuration (every cluster probed, shortlist deeper than the
    * corpus) makes each probe the exact cosine argmax over its wave's
    * candidate set, so the oracle replays both waves row-level.
    */
  val dedupSemanticStream: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val standing = emb.filter(
      col("vec_id") % 8 =!= 3 && col("vec_id") % 8 =!= 7)
    val dir = Scratch.dir("graft_ann_semstream")
    val feedDir = Scratch.dir("graft_semstream_feed")
    // the store build and the two arrival-wave plants touch disjoint
    // directories — independent actions, overlapped (guide §2.6);
    // explicit mtimes fix the waves' micro-batch order
    val ((_, v), _) = graft.plans.Overlap.par(
      graft.operators.AnnIndex.build(standing, dir, nCentroids = 16),
      {
        plantWave(feedDir, emb.filter(col("vec_id") % 8 === 3), "wave_a",
          waveBaseMs)
        plantWave(feedDir, emb.filter(col("vec_id") % 8 === 7), "wave_b",
          waveBaseMs + 60000L)
      })
    val stream = s.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.parquet").parquet(feedDir)
    val sinkDir = Scratch.dir("graft_semstream_verdicts")
    val q = graft.streaming.StreamScale.runDrained(s) {
      graft.streaming.StreamingDedup.semanticIngestStore(
        s, dir, stream, emb,
        (verdicts, batchId) => verdicts.write.mode("overwrite")
          .parquet(s"$sinkDir/b=$batchId"),
        threshold = 0.4, nprobe = 16, rerank = 1 << 20, version = v)
      .option("checkpointLocation", Scratch.dir("graft_semstream_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    BenchProbe.addStreamData("dedup_semantic_stream", q)
    s.read.parquet(sinkDir)
      .select(col("vec_id"), col("nn_id"), round(col("sim"), 6).as("sim"),
        col("is_dup"))
      .orderBy("vec_id")
  }

  /** Mixture weights for the sampling demo: four keep-fractions cycled
    * across the 20 sources. One shared constant — the oracle CASE is
    * generated from the same map.
    */
  private[graft] val mixtureWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1) * 0.2).toMap

  val sampleMixture: Q = (s, d) =>
    Sampling.mixture(docs(s, d), "source", mixtureWeights, "doc_id")
      .select("doc_id", "source").orderBy("doc_id")

  val packShards: Q = (s, d) =>
    Packing.shard(docs(s, d), nShards = 8)
      .select("doc_id", "shard", "pos").orderBy("shard", "pos")

  val textUnigramLm: Q = (s, d) =>
    TextOps.unigramLogProb(docs(s, d)).orderBy("doc_id")

  /** Stupid-backoff trigram scoring of a held-out batch
    * ([[TextOps.backoffLogProb]]): docs ≡ 7 (mod 10) arrive as the new
    * batch (the `dedup_incremental` split) and score under the LM
    * trained on the REST — ~36% of batch trigram occurrences are unseen
    * at small SF, so the backoff chain genuinely executes. The oracle
    * replays counts, both backoff levels, and the add-one floor.
    */
  val textBackoffLm: Q = (s, d) => {
    val all = docs(s, d)
    TextOps.backoffLogProb(all.filter(col("doc_id") % 10 =!= 7),
      all.filter(col("doc_id") % 10 === 7))
      .orderBy("doc_id")
  }

  /** Bigram-LM typicality ([[TextOps.bigramLogProb]]): per-doc average
    * conditional bigram log-prob over the corpus model — the perplexity
    * proxy a curation filter trims tails with.
    */
  val textBigramLm: Q = (s, d) =>
    TextOps.bigramLogProb(docs(s, d)).orderBy("doc_id")

  /** PMI collocation extraction ([[TextOps.pmiBigrams]]): top-20
    * adjacent bigrams by pointwise mutual information with a pair-count
    * floor of 5 — the multiword-expression miner. The oracle replays
    * counts, the fixed-order double arithmetic, the 4-decimal rounding
    * and the (pmi desc, pair) ranking exactly.
    */
  val textPmiBigrams: Q = (s, d) =>
    TextOps.pmiBigrams(docs(s, d), topN = 20, minCount = 5)
      .orderBy("w1", "w2")

  /** Incremental dedup: docs ≡ 7 (mod 10) arrive as the "new batch", the
    * rest are the standing corpus; the batch is probed against the
    * corpus's LSH buckets only. md5 family → the oracle recomputes the
    * whole pipeline (signatures, banding, corpus-side bucket cap, verify).
    */
  val dedupIncremental: Q = (s, d) => {
    val all = docs(s, d)
    Dedup.minhashLshIncremental(
      all.filter(col("doc_id") % 10 =!= 7),
      all.filter(col("doc_id") % 10 === 7),
      threshold = 0.5, hashKind = "md5")
      .orderBy("new_id", "dup_of")
  }

  /** Z-order clustering key over (custkey, order day): the multi-dim
    * data-skipping layout — sorting by this key lets min-max file stats
    * prune predicate boxes on EITHER dimension (ZOrderSpec measures the
    * file-level pruning win vs a single-column sort). The key itself is
    * engine-neutral bit math, verified by the oracle bit-for-bit.
    */
  val idxZorder: Q = (s, d) => {
    val day = datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
    Tables.orders(s, d)
      .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
      .select(col("o_orderkey").as("docid"),
        ZOrder.key(21, col("o_custkey"), day).as("zval"))
      .orderBy("zval", "docid")
  }

  /** O17-adjacent streaming form of exact dedup: the documents table read
    * as a file stream, folded through the streaming aggregation state
    * store; final state must equal the batch operator (same oracle as
    * `dedup_exact`).
    */
  /** Streaming near-dup against a GROWING persisted bucket store
    * ([[graft.streaming.StreamingDedup.nearDupIngestStore]]): the store
    * is seeded with the standing corpus (doc_id % 10 ≠ 7, skew-guarded
    * buckets), the remaining docs replay as the arriving stream, and
    * every micro-batch appends-then-probes — so pairs inside ONE batch
    * and across batches are both found, and the final distinct pair set
    * is batch-boundary-invariant (one-shot ≡ split, pinned by the
    * DedupSpec invariance test). md5 hash family, so the oracle replays
    * signatures, banding, the corpus-side bucket guard, the growing
    * store's candidate join, and the exact-Jaccard verify.
    */
  val dedupStreamingNeardup: Q = (s, d) => {
    val all = docs(s, d)
    val dir = Scratch.dir("graft_neardup_store")
    val (sets, buckets) = Dedup.minhashStoreTables(
      all.filter(col("doc_id") % 10 =!= 7), hashKind = "md5")
    graft.streaming.StreamingDedup.seedNearDupStore(
      dir, sets, Dedup.guardBuckets(buckets, 64))
    val stream = s.readStream.schema(all.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
    val q = graft.streaming.StreamScale.runDrained(s) {
      graft.streaming.StreamingDedup.nearDupIngestStore(
        s, dir, stream.filter(col("doc_id") % 10 === 7), hashKind = "md5")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    BenchProbe.addStreamData("dedup_streaming_neardup", q)
    graft.streaming.EpochStore.readAll(s,
        graft.streaming.EpochStore.current(dir), "pairs")
      .distinct().orderBy("id_a", "id_b")
  }

  /** Streaming span screening against the PERSISTED epoch-frozen
    * fingerprint store ([[graft.streaming.StreamingDedup.spanIngestStore]]):
    * the corpus's distinct window fingerprints are computed once and
    * persisted; the remaining docs replay as the stream and each batch
    * probes the FROZEN store (per-doc coverage depends only on the
    * store → batch-boundary-invariant by construction) while appending
    * its own fingerprints for the next store rotation. Must equal the
    * recompute-per-call batch form — the oracle is byte-for-byte
    * `dedup_span_incremental`'s.
    */
  val dedupStreamingSpans: Q = (s, d) => {
    val all = docs(s, d)
    val dir = Scratch.dir("graft_span_store")
    graft.streaming.StreamingDedup.seedSpanStore(dir,
      Dedup.spanStoreSigs(all.filter(col("doc_id") % 10 =!= 7), k = 8))
    val stream = s.readStream.schema(all.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
    val q = graft.streaming.StreamScale.runDrained(s) {
      graft.streaming.StreamingDedup.spanIngestStore(
        s, dir, stream.filter(col("doc_id") % 10 === 7), k = 8)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    BenchProbe.addStreamData("dedup_streaming_spans", q)
    graft.streaming.EpochStore.readAll(s,
        graft.streaming.EpochStore.current(dir), "coverage")
      .orderBy("doc_id")
  }

  /** Span-store ROTATION ([[graft.streaming.StreamingDedup.rotateSpanStore]]):
    * epoch 0 is seeded with the standing corpus's window fingerprints
    * and ingests wave 1 (docs ≡ 7 mod 10), whose fingerprints accumulate
    * as that epoch's batch directories; the rotation then folds frozen
    * base + accumulation into epoch 1's frozen base, and wave 2 (docs ≡
    * 8 mod 10) screens against IT. Correctness contract: screening after
    * the rotation ≡ the one-shot incremental operator over the UNION
    * corpus (standing ∪ wave 1) — the oracle replays exactly that with
    * md5 windows, so a rotation that dropped or duplicated accumulated
    * fingerprints breaks the hash match.
    */
  val dedupSpanRotate: Q = (s, d) => {
    val all = docs(s, d)
    val dir = Scratch.dir("graft_span_rotate")
    val sd = graft.streaming.StreamingDedup
    val ref0 = sd.seedSpanStore(dir, Dedup.spanStoreSigs(
      all.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 8), k = 8))
    // epoch-0 ingest of wave 1: screened against the seed base (that
    // output is epoch-0's, not under test here) + sigs accumulated
    sd.spanIngestBatch(s, ref0, all.filter(col("doc_id") % 10 === 7),
      batchId = 1L, k = 8, textCol = "text", idCol = "doc_id",
      hashKind = "xx")
    val ref1 = sd.rotateSpanStore(s, dir)
    Dedup.duplicatedSpansAgainstSigs(
      graft.streaming.EpochStore.readBase(s, ref1, "spansigs"),
      all.filter(col("doc_id") % 10 === 8), k = 8)
      .orderBy("doc_id")
  }

  val dedupStreaming: Q = (s, d) => {
    val schema = docs(s, d).schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
    val q = graft.streaming.StreamScale.runDrained(s) {
      graft.streaming.StreamingDedup.exactStream(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_dedup_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    BenchProbe.addStreamData("dedup_streaming", q)
    s.table("graft_dedup_stream").orderBy("text_hash")
  }

  /** Streaming tokenization accounting
    * ([[graft.streaming.StreamingTokenize]]): the documents table
    * replayed as a file stream through the FROZEN tokenizer — trained
    * ahead on the corpus snapshot, persisted to
    * [[graft.functions.TokenizerStore]], and loaded back by pinned
    * version (the stream never sees the trainer, only the artifact —
    * the same store `tokenize_from_artifact` round-trips). Map-only
    * encode in the stream, per-source token totals as the only state.
    * Final state must equal the batch chain; the oracle independently
    * replays trainer + encode + GROUP BY source.
    */
  /** STREAMING CRAWL FRONT-END (`pipeline_crawl_stream`) — the whole
    * round-12 ingest tier composed as ONE continuous query, the shape
    * a live crawl actually runs: raw HTML pages with messy URLs arrive
    * on a stream; each micro-batch extracts text
    * ([[TextOps.extractHtml]]), canonicalizes the URL and resolves the
    * registrable domain ([[graft.functions.UrlOps]]), drops rows with
    * no usable URL key, drops BLOCKLISTED domains (a static literal
    * list — the broadcast-free filter a policy push ships to every
    * executor), gates on language and quality, and folds per-source
    * (n_kept, total_tokens) through the streaming aggregation state —
    * the running mixture statistics the curation scheduler reads.
    * Every per-row step is stateless (map-only in the batch plan), so
    * the ONLY state is the per-source aggregate and the final state
    * must equal the batch replay under any micro-batch split; the
    * oracle replays extraction-by-reconstruction, the URL policy and
    * both gates end-to-end.
    */
  val pipelineCrawlStream: Q = (s, d) => {
    val schema = docs(s, d).schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
    // blocklist: every domain whose site number ≡ 0 (mod 7), across
    // all five planted suffixes — 30 literal entries, policy-as-data
    val blocked = for {
      n <- 0 until 37 if n % 7 == 0
      sfx <- Seq(".com", ".co.uk", ".org", ".github.io", ".com.au")
    } yield s"site$n$sfx"
    val id = col("doc_id")
    val sfx = element_at(array(lit(".com"), lit(".co.uk"), lit(".org"),
      lit(".github.io"), lit(".com.au")), (id % 5 + 1).cast("int"))
    val url = when(id % 11 === 0,
        concat(lit("not a url "), id.cast("string")))
      .otherwise(concat(
        when(id % 2 === 0, lit("HTTPS")).otherwise(lit("http")),
        lit("://WWW.Site"), (id % 37).cast("string"), sfx,
        when(id % 4 === 0,
          when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
          .when(id % 7 === 0, lit(":8080")).otherwise(lit("")),
        lit("/A/b"), (id % 9).cast("string")))
    val esc = regexp_replace(regexp_replace(regexp_replace(col("text"),
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val html = concat(
      lit("<html><head><title>Doc "), id.cast("string"),
      lit("</title></head><body><h1>Title &amp; doc "), id.cast("string"),
      lit("&#33;</h1><div>"), esc, lit("</div></body></html>"))
    val extracted = stream
      .select(id, col("source"), url.as("url"), html.as("html"))
      .withColumn("clean",
        TextOps.extractHtml(col("html")).getField("text"))
      .withColumn("host", graft.functions.UrlOps.urlHost(col("url")))
      .filter(col("host").isNotNull)
      .withColumn("domain",
        graft.functions.UrlOps.registrableDomain(col("host")))
      .filter(!col("domain").isin(blocked: _*))
      .filter(TextOps.langId(col("clean")) === "en" &&
        TextOps.qualityScore(col("clean")) >= 0.6)
      .select(col("source"),
        TextOps.tokenStats(col("clean")).getField("n_tokens")
          .as("n_tokens"))
    s.catalog.dropTempView("graft_crawl_stream")
    val q = graft.streaming.StreamScale.runDrained(s) {
      extracted.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_tokens").as("total_tokens"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_crawl_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    BenchProbe.addStreamData("pipeline_crawl_stream", q)
    s.table("graft_crawl_stream").orderBy("source")
  }

  val tokenizeStreaming: Q = (s, d) => {
    val corpus = docs(s, d)
    val dir = Scratch.dir("graft_tok_store")
    val version = graft.functions.TokenizerStore
      .trainAndSave(dir, corpus, steps = 10)
    val merges = graft.functions.TokenizerStore.get(dir, version)
      .getOrElse(sys.error(s"tokenizer v$version vanished from $dir"))
      .mergePairs
    val stream = s.readStream.schema(corpus.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
    s.catalog.dropTempView("graft_tokenize_stream")
    val q = graft.streaming.StreamScale.runDrained(s) {
      graft.streaming.StreamingTokenize.tokenCountStream(stream, merges)
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_tokenize_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start() }
    BenchProbe.addStreamData("tokenize_streaming", q)
    s.table("graft_tokenize_stream").orderBy("source")
  }

  /** End-to-end pretraining-corpus pipeline — the round's extension
    * operators composed in production order: exact-dedup to keepers,
    * benchmark decontamination, language + quality gates (one
    * [[TextOps.tokenStats]] feature pass, materialized narrow), weighted
    * mixture sampling, then deterministic sharding. Every stage is the
    * scale shape of its standalone query; the whole chain is one oracled
    * result: (doc_id, source, n_tokens, shard, pos).
    */
  val pipelinePretrain: Q = (s, d) => pretrainChain(docs(s, d))

  /** The pretraining pipeline STARTING FROM RAW HTML — the real crawl
    * shape: [[textExtractHtml]]'s extraction feeds the exact
    * [[pipelinePretrain]] chain (dedup → decontaminate → gates →
    * mixture → shard) instead of pre-cleaned text. The extracted
    * corpus is one lazy checkpoint: the chain scans it several times
    * (dedup digest, decontamination shingles, feature pass) and
    * re-running the scanner per scan would triple the extraction cost.
    * The oracle replays extraction by reconstruction (the planted
    * wrapper is deterministic) and then the full chain over it.
    */
  val pipelinePretrainHtml: Q = (s, d) => pretrainChain(
    graft.plans.LazyCheckpoint.shared(
      htmlAugmentedDocs(s, d).select(col("doc_id"),
        TextOps.extractHtml(col("html")).getField("text").as("text"),
        col("source"))))

  /** The BOILERPLATE-AWARE pretrain chain (`pipeline_pretrain_main`):
    * same curation funnel, but the corpus is each page's MAIN content
    * ([[graft.functions.MainContent]]) instead of all its text — the
    * composition a production pipeline actually runs (trafilatura
    * before the C4 gates). Furniture-only pages extract to empty
    * strings, collapse to one exact-dedup keeper, and die at the
    * quality gate — the honest cascade, replayed whole in the oracle.
    */
  val pipelinePretrainMain: Q = (s, d) => pretrainChain(
    graft.plans.LazyCheckpoint.shared(
      docs(s, d).select(col("doc_id"),
        TextOps.htmlMain(mainContentHtml(col("doc_id"), col("text")))
          .getField("main_text").as("text"),
        col("source"))))

  /** SHIFT_JIS → DECODE → EXTRACT → CURATE, end-to-end
    * (`pipeline_pretrain_sjis`) — the acceptance the round-14 charset
    * tier was missing a consumer for: every third doc is planted as
    * the SHIFT_JIS BYTES of a Japanese page ([[cjkPageHtml]]'s ja
    * shape — fixture-side `getBytes`, decode is the engine's), the
    * rest as UTF-8 Latin pages ([[mainContentHtml]]); the funnel then
    * runs the pinned-artifact charset decode
    * ([[graft.functions.CharsetDecodeArtifactExpr]] over the deployed
    * snapshot), per-language main-content extraction with the v3
    * char-list artifact ([[graft.functions.HtmlMainLangExpr]] — the
    * ja furniture dies, the ja prose survives via the char branch),
    * and the curation cascade as a per-doc FUNNEL verdict:
    * `empty` (all-furniture pages), `dup` (exact dedup over non-empty
    * normalized mains, min-doc_id keeper), `gate` (en: the pretrain
    * chain's langId + quality gates; ja: the integer char gate —
    * ≥ 30 CJK chars and function-char density inside [0.08, 0.60],
    * the same translate-delta counts the oracle replays — the upper
    * bound is the low-information cut, the char-mode analog of the
    * word gate's distance-from-0.4 stopword term), else `kept`.
    * EVERY stage fires in-corpus: all-furniture pages → `empty`,
    * shared mains → `dup`, the planted all-stopword spam pages (every
    * 5th en doc — extraction keeps them, 100% stopword density fails
    * the quality score) and the function-char-saturated ja mains
    * (hi-only prose, density > 0.60) → `gate`. Pure scan projection
    * until the one dedup shuffle — at 100 TB the decode+extract fuse
    * into the ingest read and the funnel's only exchange is the
    * digest groupBy.
    */
  val pipelinePretrainSjis: Q = (s, d) => {
    import CjkMainFixture._
    val dir = Scratch.dir("graft_stoplists_sjis")
    val store = graft.functions.StoplistStore
    val en = "en" -> graft.functions.MainContent.corpusStopwords
      .toSeq.sorted
    val v3 = store.save(dir, Map(en, "ja" -> Seq.empty[String]),
      charLists = Map("ja" -> jaStopChars))
    // the spam plant: survives extraction (both words are in the
    // extraction stoplist → 100% density, 239 chars → cf good) and
    // fails the quality gate (stopword ratio 1.0 → distance term
    // 0.4, distinct ratio 0.025 → score 0.475 < 0.6)
    val spam = ("the a " * 40).trim
    val pages = docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("plang",
        when(col("doc_id") % 3 === 0, lit("ja")).otherwise(lit("en")))
      .withColumn("page",
        when(col("plang") === "ja",
          cjkPageHtml(col("doc_id"), col("text"), lit(false)))
        .otherwise(mainContentHtml(col("doc_id"),
          when(col("doc_id") % 5 === 2, lit(spam))
            .otherwise(col("text")))))
      .select("doc_id", "plang", "page")
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("plang", StringType),
      StructField("ctype", StringType),
      StructField("body", BinaryType)))
    // fixture-side encode only (the planted-bytes discipline); the
    // DECODE under test is the engine's pinned-artifact expression
    val bytes = pages.mapPartitions { rows =>
      rows.map { r =>
        val ja = r.getString(1) == "ja"
        Row(r.getLong(0), r.getString(1),
          if (ja) "text/html; charset=shift_jis"
          else "text/html; charset=utf-8",
          r.getString(2).getBytes(
            if (ja) "Shift_JIS" else "UTF-8"))
      }
    }(Encoders.row(schema)).toDF()
    val main = bytes
      .select(col("doc_id"), col("plang"),
        TextOps.decodeCharsetFromArtifact(col("body"), col("ctype"),
          graft.functions.EncodingStore.jdkSnapshotDir)
          .getField("text").as("html"))
      .select(col("doc_id"), col("plang"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.HtmlMainLangExpr(
            org.apache.spark.sql.GraftBridge.expression(col("html")),
            org.apache.spark.sql.GraftBridge.expression(col("plang")),
            store.listsAt(dir, v3).toSeq.sortBy(_._1)
              .map { case (l, ws) => (l, ws.toSeq.sorted) },
            store.charListsAt(dir, v3).toSeq.sortBy(_._1)))
          .getField("main_text").as("main"))
    // ONE decode→extract→main pass for the whole funnel: norm feeds
    // BOTH the dedup groupBy and the final join — un-checkpointed, the
    // entire chain above (charset decode, tag walk, main-content
    // classification) would run twice (the pretrainChain feats barrier,
    // applied here)
    val norm = graft.plans.LazyCheckpoint.shared(main
      .withColumn("n_main", length(col("main")).cast("long"))
      .withColumn("k",
        md5(regexp_replace(lower(trim(col("main"))), "\\s+", " "))))
    val keepers = norm.filter(col("n_main") > 0)
      .groupBy("k").agg(min(col("doc_id")).as("keep_id"))
    // one sweep, not a regexp pass ([[TextOps.scriptCounts]]; the
    // combined class is han + kana, disjoint ranges); gate-internal
    // only — comparisons promote int/long identically. The ja stop-char
    // count rides the SAME sweep (`n_stop_0` — the former
    // translate-length delta was one more full pass over `main` plus a
    // translated-copy allocation per row)
    val mainSc = TextOps.scriptCounts(col("main"),
      stopSets = Seq(jaStopChars.mkString))
    val cjkChars = mainSc.getField("n_han") + mainSc.getField("n_kana")
    val stopChars = mainSc.getField("n_stop_0")
    norm.join(keepers, Seq("k"), "left")
      .withColumn("gate_ok",
        when(col("plang") === "ja",
          cjkChars >= 30 &&
            lit(100) * stopChars >= lit(8) * cjkChars &&
            lit(100) * stopChars <= lit(60) * cjkChars)
        .otherwise(TextOps.langId(col("main")) === "en" &&
          TextOps.qualityScore(col("main")) >= 0.6))
      .select(col("doc_id"), col("plang"), col("n_main"),
        md5(col("main")).as("main_md5"),
        when(col("n_main") === 0, lit("empty"))
          .when(col("doc_id") =!= col("keep_id"), lit("dup"))
          .when(!col("gate_ok"), lit("gate"))
          .otherwise(lit("kept")).as("stage"))
      .orderBy("doc_id")
  }

  /** DETECTED-LANGUAGE pretrain funnel (`pipeline_pretrain_detect`) —
    * [[pipelinePretrainSjis]] with NO given labels: the funnel
    * decodes the bytes, EXTRACTS the page's text
    * ([[TextOps.extractHtml]] — anchor-dominated furniture already
    * dropped by the scanner's own rule), DETECTS the route by script
    * dominance over that text (`4·(han+kana) ≥ nonws` → `ja`, else
    * `4·thai ≥ nonws` → `th`, else `en` — the `text_langid_script`
    * ladder reduced to the three scripts this corpus plants;
    * latin-language refinement stays the quality gate's job exactly
    * as in the labeled funnel), and only then selects the stoplist
    * for main-content extraction. This is the production order:
    * bytes → decode → extract → route → boilerplate → curate,
    * nothing given. Round 16 extends the funnel one script family
    * over: Thai pages (UTF-8 — the legacy windows-874 lane stays the
    * honest rejection the charset tier documents) ride the SAME
    * space-free char branch under the v4 Thai function-char list,
    * with a Thai char-density gate mirroring ja's. The ja/th pages
    * plant WITHOUT the mixed-English paragraph so the route is
    * decided by honest arithmetic with clean margins (the detection
    * counts are OUTPUT columns and the oracle replays them from the
    * reconstructed extracted text); the funnel stages and gates are
    * the sjis query's, keyed on the DETECTED route.
    */
  val pipelinePretrainDetect: Q = (s, d) => {
    import CjkMainFixture._
    import ScriptMainFixture.{thStopChars}
    val dir = Scratch.dir("graft_stoplists_det")
    val store = graft.functions.StoplistStore
    val en = "en" -> graft.functions.MainContent.corpusStopwords
      .toSeq.sorted
    val v4 = store.save(dir,
      Map(en, "ja" -> Seq.empty[String], "th" -> Seq.empty[String]),
      charLists = Map("ja" -> jaStopChars, "th" -> thStopChars))
    val spam = ("the a " * 40).trim
    // function-char-SATURATED thai plant (density 1.0 > the 0.60
    // low-information cut): the th gate's in-corpus arm, the ja
    // funnel's saturation trick one script over
    val thSat = thStopChars.mkString * 6
    val satPage = "<html><head><title>Doc</title></head><body><p>" +
      thSat + "</p></body></html>"
    val pages = docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("ja", col("doc_id") % 3 === 0)
      .withColumn("th", col("doc_id") % 3 === 1)
      .withColumn("page",
        when(col("ja"),
          cjkPageHtml(col("doc_id"), col("text"), lit(false),
            withEnglish = false))
        .when(col("th") && col("doc_id") % 11 === 4, lit(satPage))
        .when(col("th"),
          thaiPageHtml(col("doc_id"), col("text"), withEnglish = false))
        .otherwise(mainContentHtml(col("doc_id"),
          when(col("doc_id") % 5 === 2, lit(spam))
            .otherwise(col("text")))))
      .select(col("doc_id"), col("ja"), col("page"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ctype", StringType),
      StructField("body", BinaryType)))
    val bytes = pages.mapPartitions { rows =>
      rows.map { r =>
        val ja = r.getBoolean(1)
        Row(r.getLong(0),
          if (ja) "text/html; charset=shift_jis"
          else "text/html; charset=utf-8",
          r.getString(2).getBytes(
            if (ja) "Shift_JIS" else "UTF-8"))
      }
    }(Encoders.row(schema)).toDF()
    // ONE code-point sweep per text for the routing counts ([[TextOps
    // .scriptCounts]]; the combined [一-鿿぀-ヿ] class is exactly
    // han + kana — disjoint ranges); previously 3 regexp_replace
    // length deltas = 3 full regex passes over the extracted text
    def cjkOf(c: Column): Column = {
      val sc = TextOps.scriptCounts(c)
      sc.getField("n_han") + sc.getField("n_kana")
    }
    def thaiOf(c: Column): Column = TextOps.scriptCounts(c).getField("n_thai")
    val detected = bytes
      .select(col("doc_id"),
        TextOps.decodeCharsetFromArtifact(col("body"), col("ctype"),
          graft.functions.EncodingStore.jdkSnapshotDir)
          .getField("text").as("html"))
      .withColumn("alltext",
        TextOps.extractHtml(col("html")).getField("text"))
      .withColumn("n_cjk", cjkOf(col("alltext")))
      .withColumn("n_thai", thaiOf(col("alltext")))
      .withColumn("n_nonws",
        TextOps.scriptCounts(col("alltext")).getField("n_nonws"))
      .withColumn("dlang",
        when(lit(4) * col("n_cjk") >= col("n_nonws"), lit("ja"))
          .when(lit(4) * col("n_thai") >= col("n_nonws"), lit("th"))
          .otherwise(lit("en")))
    val main = detected
      .select(col("doc_id"), col("dlang"), col("n_cjk"),
        col("n_thai"), col("n_nonws"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.HtmlMainLangExpr(
            org.apache.spark.sql.GraftBridge.expression(col("html")),
            org.apache.spark.sql.GraftBridge.expression(col("dlang")),
            store.listsAt(dir, v4).toSeq.sortBy(_._1)
              .map { case (l, ws) => (l, ws.toSeq.sorted) },
            store.charListsAt(dir, v4).toSeq.sortBy(_._1)))
          .getField("main_text").as("main"))
    // ONE decode→extract→main pass for the whole funnel: norm feeds
    // BOTH the dedup groupBy and the final join — un-checkpointed, the
    // entire chain above (charset decode, tag walk, main-content
    // classification) would run twice (the pretrainChain feats barrier,
    // applied here)
    val norm = graft.plans.LazyCheckpoint.shared(main
      .withColumn("n_main", length(col("main")).cast("long"))
      .withColumn("k",
        md5(regexp_replace(lower(trim(col("main"))), "\\s+", " "))))
    val keepers = norm.filter(col("n_main") > 0)
      .groupBy("k").agg(min(col("doc_id")).as("keep_id"))
    // BOTH routes' stop-char counts ride ONE sweep over `main`
    // (`n_stop_0` = ja set, `n_stop_1` = th set — the former two
    // translate-length deltas were two more full passes per row); the
    // script counts come from the same instance, so the whole gate is
    // a single sweep
    val mainSc = TextOps.scriptCounts(col("main"),
      stopSets = Seq(jaStopChars.mkString, thStopChars.mkString))
    val mainCjk = mainSc.getField("n_han") + mainSc.getField("n_kana")
    val mainStop = mainSc.getField("n_stop_0")
    val mainThai = mainSc.getField("n_thai")
    val mainThStop = mainSc.getField("n_stop_1")
    norm.join(keepers, Seq("k"), "left")
      .withColumn("gate_ok",
        when(col("dlang") === "ja",
          mainCjk >= 30 &&
            lit(100) * mainStop >= lit(8) * mainCjk &&
            lit(100) * mainStop <= lit(60) * mainCjk)
        .when(col("dlang") === "th",
          mainThai >= 30 &&
            lit(100) * mainThStop >= lit(8) * mainThai &&
            lit(100) * mainThStop <= lit(60) * mainThai)
        .otherwise(TextOps.langId(col("main")) === "en" &&
          TextOps.qualityScore(col("main")) >= 0.6))
      .select(col("doc_id"), col("dlang"), col("n_cjk"),
        col("n_thai"), col("n_nonws"), col("n_main"),
        md5(col("main")).as("main_md5"),
        when(col("n_main") === 0, lit("empty"))
          .when(col("doc_id") =!= col("keep_id"), lit("dup"))
          .when(!col("gate_ok"), lit("gate"))
          .otherwise(lit("kept")).as("stage"))
      .orderBy("doc_id")
  }

  private[graft] def pretrainChain(corpus: DataFrame): DataFrame = {
    val keepers = Dedup.exact(corpus).select(col("keep_id"))
    val bench = corpus.filter(col("doc_id") % 17 === 0)
    val base = corpus.filter(col("doc_id") % 17 =!= 0)
      .join(keepers, col("doc_id") === col("keep_id"))
    val contaminated = Dedup.decontaminate(base, bench, n = 5)
      .filter(col("contaminated")).select("doc_id")
    val feats = graft.plans.LazyCheckpoint.shared(
      base.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"),
          TextOps.langId(col("text")).as("lang_pred"),
          TextOps.qualityScore(col("text")).as("quality"),
          TextOps.tokenStats(col("text")).getField("n_tokens").as("n_tokens")))
    val gated = feats
      .filter(col("lang_pred") === "en" && col("quality") >= 0.6)
      .select("doc_id", "source", "n_tokens")
    val mixed = Sampling.mixture(gated, "source", mixtureWeights, "doc_id")
    Packing.shard(mixed, nShards = 4).orderBy("shard", "pos")
  }

  /** End-to-end tokenization pipeline — what sits between a curated corpus
    * and a trainer's input: quality-gate the docs ([[TextOps.qualityScore]]
    * cutoff), learn the BPE tokenizer ON the gated corpus
    * ([[TextOps.bpeTrainMerges]]), tokenize every kept doc map-only
    * ([[TextOps.bpeEncode]]), and pack the per-source token streams into
    * exact 512-token sequences ([[Packing.packContiguous]]). One corpus
    * scan for the gate+histogram, one for the tokenize; the only
    * shuffles are the packing prefix sum's (tiny id+count rows).
    * Counting deliberately does NOT go through [[TextOps.bpeEncodeIds]]:
    * a count needs no symbol→id resolution, and building the vocabulary
    * just to discard the ids would add a THIRD corpus scan
    * (`bpeVocab`'s code-point distinct) — the ids path belongs to
    * `pipeline_batches`, which consumes the ids themselves.
    */
  val pipelineTokenize: Q = (s, d) => {
    val kept = graft.plans.LazyCheckpoint.shared(
      docs(s, d).filter(TextOps.qualityScore(col("text")) >= 0.6)
        .select(col("doc_id"), col("source"), col("text")))
    val merges = TextOps.bpeTrainMergesLocal(kept, steps = 10,
        maxVocab = TextOps.DefaultMaxVocab)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val counted = kept
      .select(col("doc_id"), col("source"),
        TextOps.bpeEncode(col("text"), merges).as("enc"))
      .select(col("doc_id"), col("source"),
        size(TextOps.bpeTokensFromEncoded(col("enc"))).cast("long")
          .as("n_tokens"))
    Packing.packContiguous(counted, budget = 512)
      .orderBy("doc_id", "seq_id")
  }

  /** The literal trainer input — (source, sequence, position, token id)
    * batches: quality-gate, learn merges (hybrid trainer) and the
    * vocabulary on the gated corpus, tokenize straight to ID ARRAYS
    * map-only ONCE ([[TextOps.bpeEncodeIds]] — the ids frame is a shared
    * lazy checkpoint feeding both the token-count and the token-stream
    * sides; per-token symbol strings never leave the row, so the
    * exploded stream and everything after it move longs only), lay each
    * source's token stream out contiguously (same bucketed offset
    * prefix sum as [[Packing.packContiguous]]) and address every token
    * as (stream_offset div 512, stream_offset mod 512). Integer
    * `div`/`%` on longs — exact in Spark and DuckDB alike; the oracle
    * replays the entire chain in its encode→explode→id-join form and
    * matches every row.
    */
  val pipelineBatches: Q = (s, d) => {
    val kept = docs(s, d).filter(TextOps.qualityScore(col("text")) >= 0.6)
      .select(col("doc_id"), col("source"), col("text"))
    val merges = TextOps.bpeTrainMergesLocal(kept, steps = 10,
        maxVocab = TextOps.DefaultMaxVocab)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = TextOps.bpeVocab(kept, merges)
      .select("symbol", "token_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val enc = graft.plans.LazyCheckpoint.shared(
      kept.select(col("doc_id"), col("source"),
        TextOps.bpeEncodeIds(col("text"), merges, vocab).as("ids")))
    val counted = enc.select(col("doc_id"), col("source"),
      size(col("ids")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    // per-source stream offsets via the bucketed two-phase prefix sum —
    // same deterministic (hash, id) order as Packing.packContiguous,
    // never a single-task-per-source window
    val off = Packing.streamOffsets(counted, "source", "n_tokens", "doc_id",
        offCol = "off")
      .select(col("doc_id"), col("off"))
    enc.select(col("doc_id"), col("source"),
        posexplode(col("ids")).as(Seq("pos", "token_id")))
      .join(off, "doc_id")
      .select(col("source"),
        expr("(off + pos) div 512").as("seq_id"),
        ((col("off") + col("pos")) % 512).as("seq_pos"),
        col("token_id"))
      .orderBy("source", "seq_id", "seq_pos")
  }

  /** Skew-guarded aggregation: the two-stage salted count+sum must equal
    * the plain GROUP BY (the oracle) — correctness of the salt/combine
    * decomposition, not just its existence. Sum rounded to 4 (salting
    * changes float accumulation order).
    */
  val aggSkewSalted: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    SkewGuard.saltedCount(ev, Seq("event_type"))
      .join(SkewGuard.saltedSum(ev, Seq("event_type"), "value"), "event_type")
      .select(col("event_type"), col("cnt"), round(col("total"), 4).as("total"))
      .orderBy("event_type")
  }

  /** Storage-quantization quality gate: recall@5 of brute-force top-k over
    * the int8-quantized (8× smaller) embedding column vs the full-precision
    * baseline — the oracle pins the ≥ 0.8 assertion (measured ~1.0; int8
    * barely moves cosine neighborhoods).
    */
  val simQuantizedRecall: Q = (s, d) =>
    annRecallQuery(s, d, (emb, q) => {
      val deq = emb.select(col("vec_id"),
        VectorOps.dequantizeInt8(VectorOps.quantizeInt8(col("embedding")))
          .as("embedding"))
      Similarity.bruteForceTopK(deq, q, k = 5)
    })

  /** Source-layer round-trip: documents written to JSON-lines and ORC,
    * read back through the ingestion paths, joined — byte-identical
    * content proves the non-parquet sources preserve the corpus.
    */
  val sourceRoundtrip: Q = (s, d) => {
    val dir = Scratch.dir("graft_src")
    val base = docs(s, d).select("doc_id", "text", "source")
    base.write.mode("overwrite").json(s"$dir/json")
    graft.sources.DocSources.writeOrc(base, s"$dir/orc")
    val json = graft.sources.DocSources.readJson(s, s"$dir/json", base.schema)
    val orc = graft.sources.DocSources.readOrc(s, s"$dir/orc")
    json.select(col("doc_id"), md5(col("text")).as("md5_json"))
      .join(orc.select(col("doc_id"), md5(col("text")).as("md5_orc"),
        col("source")), "doc_id")
      .orderBy("doc_id")
  }

  /** Corpus profiling: per-source document counts, token totals, EXACT
    * token-count percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`,
    * both linear-interpolated over the sorted values) and char bounds —
    * the data-quality dashboard a curation run reads before choosing
    * mixture weights and length gates.
    */
  val corpusProfile: Q = (s, d) =>
    docs(s, d).select(col("source"), col("n_chars"),
        TextOps.tokenStats(col("text")).getField("n_tokens").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("total_tokens"),
        round(expr("percentile(n_toks, 0.5)"), 4).as("p50_tokens"),
        round(expr("percentile(n_toks, 0.9)"), 4).as("p90_tokens"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("source")

  /** SNAPSHOT DRIFT detection (`corpus_drift`) — the monitoring signal
    * that schedules [[graft.operators.AnnIndex.retrain]] and a corpus
    * re-curation: two crawl snapshots (old = even doc ids, new = odd —
    * the deterministic stand-in for "last month vs this month") compare
    * per source on
    *  - token-length mean shift (the cheap distribution signal),
    *  - vocabulary Jaccard (token-set overlap — topic/vocab churn;
    *    computed as one (source, token, side) aggregate, bounded by
    *    vocabulary, never an all-pairs comparison), and
    *  - embedding-mean shift (L2 of per-position rounded means over
    *    the even/odd vec_id halves — a 64-row position aggregate; the
    *    per-position means are ROUNDED before the norm so the fixed
    *    position-order sum replays bit-for-bit cross-engine).
    * Scale shape: three map-side-combined aggregates; nothing joins at
    * corpus width (the vocab join is vocabulary-bounded, the embedding
    * shift is a 1-row broadcast onto the per-source frame).
    */
  val corpusDrift: Q = (s, d) => {
    val all = docs(s, d)
    val side = when(col("doc_id") % 2 === 0, lit("old")).otherwise(lit("new"))
    val base = all.select(col("source"), side.as("__side"),
      size(TextOps.normTokens(col("text"))).cast("long").as("n_toks"),
      TextOps.normTokens(col("text")).as("__toks"))
    val lens = base.groupBy("source").agg(
      sum(when(col("__side") === "old", 1L).otherwise(0L)).as("n_old"),
      sum(when(col("__side") === "new", 1L).otherwise(0L)).as("n_new"),
      round(avg(when(col("__side") === "old", col("n_toks"))), 4)
        .as("len_mean_old"),
      round(avg(when(col("__side") === "new", col("n_toks"))), 4)
        .as("len_mean_new"))
    val vocab = base
      .select(col("source"), col("__side"), explode(col("__toks")).as("w"))
      .groupBy("source", "w").agg(
        max(when(col("__side") === "old", 1).otherwise(0)).as("__o"),
        max(when(col("__side") === "new", 1).otherwise(0)).as("__n"))
      .groupBy("source").agg(
        round(sum(col("__o") * col("__n")).cast("double") /
          count(lit(1)), 6).as("vocab_jaccard"))
    val emb = Tables.embeddings(s, d)
    val vside = when(col("vec_id") % 2 === 0, lit("old")).otherwise(lit("new"))
    val means = emb.select(vside.as("__side"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
      .groupBy("pos").agg(
        round(avg(when(col("__side") === "old", col("x"))), 6).as("mo"),
        round(avg(when(col("__side") === "new", col("x"))), 6).as("mn"))
    val shift = means
      .agg(round(sqrt(sum((col("mo") - col("mn")) *
        (col("mo") - col("mn")))), 6).as("emb_shift"))
    lens.join(vocab, "source")
      .crossJoin(broadcast(shift))
      .select("source", "n_old", "n_new", "len_mean_old", "len_mean_new",
        "vocab_jaccard", "emb_shift")
      .orderBy("source")
  }

  /** RETRAIN-DECISION query (`pipeline_drift_response`) — the operator
    * runbook as one oracled decision, closing the drift loop
    * ([[corpusDrift]] detect → `graft_ann_stats` skew →
    * [[graft.operators.AnnIndex.retrain]] recover) with the step that
    * actually schedules the recovery. Drift is STAGED as real: the new
    * snapshot's embeddings (odd vec_ids) collapse toward 2·𝟙
    * (x·0.01 + 2.0 per position — a hard distribution break), the ANN
    * store is built on the OLD snapshot and the drifted new rows arrive
    * as a frozen-model ingest, so the layout is arrival-biased by
    * construction. Four threshold legs feed the verdict:
    *  - per source: token-length mean shift > 10 % of the old mean, and
    *    vocabulary Jaccard < 0.5 (both [[corpusDrift]]'s signals,
    *    SQL-replayed exactly);
    *  - corpus-wide: embedding-mean shift > 0.5 (the planted transform
    *    is applied in DOUBLE inside the signal on both engines, so the
    *    value replays bit-for-bit);
    *  - store-side: max_cluster > 25 % of n_vectors from
    *    [[graft.operators.AnnIndex.stats]] — the k-means layout skew an
    *    oracle cannot recompute, but the fixture PINS its truth value:
    *    every drifted vector lies in a 0.01-radius cosine ball around
    *    the 𝟙 direction, so one trained centroid absorbs the entire new
    *    half and max_cluster/n ≥ ~0.5 > 0.25 by construction.
    * decision = retrain iff ANY leg fires anywhere — one global verdict
    * (there is one store), repeated per source row like `emb_shift`.
    * Scale shape: [[corpusDrift]]'s three map-side aggregates + one
    * store-stats aggregate + a 1-row broadcast of the global OR;
    * nothing joins at corpus width.
    */
  val pipelineDriftResponse: Q = (s, d) => {
    val all = docs(s, d)
    val side = when(col("doc_id") % 2 === 0, lit("old")).otherwise(lit("new"))
    val base = all.select(col("source"), side.as("__side"),
      size(TextOps.normTokens(col("text"))).cast("long").as("n_toks"),
      TextOps.normTokens(col("text")).as("__toks"))
    val lens = base.groupBy("source").agg(
      round(avg(when(col("__side") === "old", col("n_toks"))), 4)
        .as("len_mean_old"),
      round(avg(when(col("__side") === "new", col("n_toks"))), 4)
        .as("len_mean_new"))
    val vocab = base
      .select(col("source"), col("__side"), explode(col("__toks")).as("w"))
      .groupBy("source", "w").agg(
        max(when(col("__side") === "old", 1).otherwise(0)).as("__o"),
        max(when(col("__side") === "new", 1).otherwise(0)).as("__n"))
      .groupBy("source").agg(
        round(sum(col("__o") * col("__n")).cast("double") /
          count(lit(1)), 6).as("vocab_jaccard"))
    val emb = Tables.embeddings(s, d)
    val isNew = col("vec_id") % 2 =!= 0
    // the drift transform applied in DOUBLE inside the signal — the
    // same arithmetic the oracle replays on the cast array
    val means = emb.select(isNew.as("__new"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
      .select(col("__new"), col("pos"),
        when(col("__new"), col("x") * 0.01d + 2.0d)
          .otherwise(col("x")).as("x"))
      .groupBy("pos").agg(
        round(avg(when(!col("__new"), col("x"))), 6).as("mo"),
        round(avg(when(col("__new"), col("x"))), 6).as("mn"))
    val shift = means
      .agg(round(sqrt(sum((col("mo") - col("mn")) *
        (col("mo") - col("mn")))), 6).as("emb_shift"))
    // the store leg: old-snapshot layout, drifted new rows ingested
    // frozen-model — stats answer from the same resolved view probes use
    val drifted = emb.select(col("vec_id"),
      when(isNew, transform(col("embedding"),
        x => x * lit(0.01f) + lit(2.0f)))
        .otherwise(col("embedding")).as("embedding"))
    val dir = Scratch.dir("graft_drift_store")
    val (_, v) = graft.operators.AnnIndex.build(
      drifted.filter(!isNew), dir, nCentroids = 16)
    graft.operators.AnnIndex.ingest(drifted.filter(isNew), dir,
      batchId = 1L, version = v)
    val st = graft.operators.AnnIndex.stats(s, dir, version = v).head()
    val skewExceeded = st.getLong(3).toDouble > 0.25 * st.getLong(0)
    val perSource = lens.join(vocab, "source")
      .crossJoin(broadcast(shift))
      .withColumn("len_exceeded",
        abs(col("len_mean_new") - col("len_mean_old")) >
          col("len_mean_old") * 0.1d)
      .withColumn("vocab_exceeded", col("vocab_jaccard") < 0.5d)
      .withColumn("emb_exceeded", col("emb_shift") > 0.5d)
      .withColumn("skew_exceeded", lit(skewExceeded))
    // one global verdict: any leg fired for any source
    val anyFired = perSource.agg(greatest(
        coalesce(max(when(col("len_exceeded"), 1)).cast("int"), lit(0)),
        coalesce(max(when(col("vocab_exceeded"), 1)).cast("int"), lit(0)),
        coalesce(max(when(col("emb_exceeded"), 1)).cast("int"), lit(0)),
        coalesce(max(when(col("skew_exceeded"), 1)).cast("int"), lit(0)))
      .as("__any"))
    perSource.crossJoin(broadcast(anyFired))
      .withColumn("decision",
        when(col("__any") === 1, lit("retrain")).otherwise(lit("hold")))
      .select("source", "len_mean_old", "len_mean_new", "vocab_jaccard",
        "emb_shift", "len_exceeded", "vocab_exceeded", "emb_exceeded",
        "skew_exceeded", "decision")
      .orderBy("source")
  }

  // Planted image containers, one hex alphabet shared verbatim by the
  // Spark payload builder and the DuckDB oracle so the BYTES are the
  // cross-engine contract (all constants UPPERCASE — both engines' hex()
  // emit uppercase). PNG: signature + IHDR(w,h) + CRC + IEND. JPEG:
  // SOI + APP0/JFIF + SOF0(h,w) + EOI. GIF: screen descriptor (LE dims)
  // + 1..4 image descriptors (each with a 1-byte LZW stream) + trailer.
  private[graft] val PngHead = "89504E470D0A1A0A0000000D49484452"
  private[graft] val PngTail = "0802000000" + "00000000" +
    "0000000049454E44AE426082"
  private[graft] val JpegHead = "FFD8" + "FFE000104A46494600010100000100010000" +
    "FFC0001108"
  private[graft] val JpegTail = "03012200021101031101" + "FFD9"
  private[graft] val GifHead = "474946383961"
  private[graft] val GifFrameHead = "2C00000000"
  private[graft] val GifFrameTail = "00" + "02" + "0100" + "00"

  /** The documents table wrapped as a media corpus with REAL planted
    * container bytes — dimensions and (for GIF) frame counts derived
    * deterministically from `doc_id`, payload format rotating
    * PNG / JPEG / GIF / WebP / garbage by `doc_id % 5` (garbage = raw text
    * bytes, exercising the null-out path on real data). The decoder
    * must recover exactly the planted values by PARSING the bytes; the
    * oracle rebuilds the same bytes independently and computes the
    * dimensions by construction.
    */
  // shared byte-building helpers for the planted-container fixtures:
  // hex constants + big/little-endian encodings of computed columns
  private[graft] def hx(const: String) = unhex(lit(const))
  private[graft] def be(v: org.apache.spark.sql.Column, bytes: Int) =
    unhex(lpad(hex(v), bytes * 2, "0"))
  private[graft] def le16(v: org.apache.spark.sql.Column) =
    unhex(concat(lpad(hex(v % 256), 2, "0"),
      lpad(hex((v / 256).cast("int")), 2, "0")))
  private[graft] def le32(v: org.apache.spark.sql.Column) =
    unhex(concat(lpad(hex(v % 256), 2, "0"),
      lpad(hex((v / 256).cast("long") % 256), 2, "0"),
      lpad(hex((v / 65536).cast("long") % 256), 2, "0"),
      lpad(hex((v / 16777216).cast("long") % 256), 2, "0")))

  private[graft] def plantedMedia(s: SparkSession, d: String): DataFrame = {
    val w = (col("doc_id") % 1000 + 1).cast("int")
    val h = (col("doc_id") % 700 + 1).cast("int")
    val extraFrames = expr("(doc_id % 16) div 4") // 0..3 (GIF rows only)
    val gifFrame = concat(hx(GifFrameHead), le16(w), le16(h), hx(GifFrameTail))
    def gifFrameIf(k: Int) =
      when(extraFrames >= k, gifFrame).otherwise(hx(""))
    val kind = col("doc_id") % 5
    // WebP kind: RIFF("WEBP") + a VP8L chunk holding just the 5-byte
    // header — signature 0x2F, then LSB-first 14-bit (w-1), 14-bit
    // (h-1), alpha 0, version 0, packed into bytes b1..b4; chunk size 5
    // is odd, so one RIFF pad byte follows (container size 18)
    val webp = concat(
      hx("52494646" + "12000000" + "57454250" + "5650384C" +
        "05000000" + "2F"),
      be(expr("doc_id % 1000 % 256"), 1),
      be(expr("(doc_id % 1000) div 256 % 64 + doc_id % 700 % 4 * 64"), 1),
      be(expr("(doc_id % 700) div 4 % 256"), 1),
      be(expr("(doc_id % 700) div 1024 % 16"), 1),
      hx("00"))
    val payload = when(kind === 0,
        concat(hx(PngHead), be(w, 4), be(h, 4), hx(PngTail)))
      .when(kind === 1,
        concat(hx(JpegHead), be(h, 2), be(w, 2), hx(JpegTail)))
      .when(kind === 2,
        concat(hx(GifHead), le16(w), le16(h), hx("000000"),
          gifFrame, gifFrameIf(1), gifFrameIf(2), gifFrameIf(3), hx("3B")))
      .when(kind === 3, webp)
      .otherwise(encode(col("text"), "UTF-8"))
    val mime = when(kind === 0, "image/png").when(kind === 1, "image/jpeg")
      .when(kind === 2, "image/gif").when(kind === 3, "image/webp")
      .otherwise("application/octet-stream")
    Multimodal.asMultimodal(docs(s, d),
      payload = Some(payload), mime = Some(mime))
  }

  /** Real container decode over planted bytes: width/height/frames come
    * from [[Multimodal.Decoder.Headers]] PARSING the payload; the oracle
    * recomputes them by construction and fingerprints the payload bytes
    * through their hex form (`md5(lower(hex(payload)))` — a verification
    * gadget only: DuckDB has no blob md5, and at scale the engine's own
    * byte-md5 from [[Multimodal.extractFeatures]] is the artifact,
    * property-tested in MultimodalSpec). Garbage rows (kind 3) must
    * null out width/height/frames and still fingerprint.
    */
  val multimodalFeatures: Q = (s, d) => {
    val withFp = plantedMedia(s, d).select(col("media_id"), col("payload"),
      md5(lower(hex(col("payload")))).as("payload_hexmd5"))
    Multimodal.extractFeatures(withFp, passthrough = Seq("payload_hexmd5"))
      .select("media_id", "n_bytes", "width", "height", "n_frames",
        "payload_hexmd5")
      .orderBy("media_id")
  }

  val multimodalResize: Q = (s, d) =>
    Multimodal.resizeMeta(
      Multimodal.extractFeatures(plantedMedia(s, d)),
      targetW = 320, targetH = 240)
      .orderBy("media_id")

  val multimodalFrames: Q = (s, d) =>
    Multimodal.sampleFrames(
      Multimodal.extractFeatures(plantedMedia(s, d)), stride = 2)
      .orderBy("media_id", "frame_idx")

  // planted WAV/MP4 container constants — shared verbatim with the
  // DuckDB oracle so a fingerprint match proves byte identity.
  // WAV: 'RIFF' … le32(riffSize) … 'WAVE' 'fmt ' le32(16) fmt=1(le16)
  private[graft] val RiffTag = "52494646"
  private[graft] val WavFmtHead = "57415645" + "666D7420" + "10000000" + "0100"
  private[graft] val WavDataTag = "64617461"
  // MP4: ftyp(isom) box, then moov{mvhd(timescale=1000), trak{tkhd}}
  private[graft] val Mp4Head = "00000010" + "66747970" + "69736F6D" + "00000000"
  private[graft] val Mp4MoovHead = "00000088" + "6D6F6F76"
  private[graft] val Mp4MvhdHead = "0000001C" + "6D766864" +
    "000000000000000000000000" + "000003E8" // ver/flags,times, timescale
  private[graft] val Mp4TrakHead = "00000064" + "7472616B"
  private[graft] val Mp4TkhdPre = "0000005C" + "746B6864" +
    "000000000000000000000000" + "00000001" + "00000000" // …,trackId,rsvd
  private[graft] val Mp4TkhdMid = "0000000000000000" + "00000000" + "00000000" +
    "000100000000000000000000" + "000000000001000000000000" +
    "000000000000000040000000" // rsvd8, layer/alt, vol/rsvd, unity matrix

  /** The documents table wrapped as an AUDIO/VIDEO corpus with real
    * planted container bytes, rotating WAV / MP4 / truncated-WAV /
    * garbage by `doc_id % 4` — the [[plantedMedia]] discipline applied
    * to [[Multimodal.AvHeaders]]: sample rate, channels, bits, duration
    * and dims all derive deterministically from `doc_id`, the oracle
    * rebuilds the same bytes and facts by construction. Kind 2 is a
    * structurally valid RIFF/WAVE prefix with NO chunks (a true
    * truncation, not garbage) — the malformed path must null typed facts
    * while still fingerprinting the bytes.
    */
  private[graft] def plantedAvMedia(s: SparkSession, d: String): DataFrame = {
    val ch = (col("doc_id") % 2 + 1).cast("int")
    val bits = (col("doc_id") % 2 * 8 + 8).cast("int")
    val rate = (col("doc_id") % 8 * 1000 + 8000).cast("int")
    val blockAlign = ((ch * bits) / 8).cast("int")
    val byteRate = (rate * blockAlign).cast("int")
    val durSec = (col("doc_id") % 5 + 1).cast("int")
    val dataSize = (byteRate * durSec).cast("int")
    val durMs = ((col("doc_id") % 30 + 1) * 500).cast("int")
    val w = (col("doc_id") % 1920 + 1).cast("int")
    val h = (col("doc_id") % 1080 + 1).cast("int")
    // header-only WAV: the data chunk declares its size (duration math
    // reads headers, as a fast probe does) without materializing samples
    val wav = concat(hx(RiffTag), le32(dataSize + 36), hx(WavFmtHead),
      le16(ch), le32(rate), le32(byteRate), le16(blockAlign), le16(bits),
      hx(WavDataTag), le32(dataSize))
    val mp4 = concat(hx(Mp4Head), hx(Mp4MoovHead),
      hx(Mp4MvhdHead), be(durMs, 4),
      hx(Mp4TrakHead), hx(Mp4TkhdPre), be(durMs, 4), hx(Mp4TkhdMid),
      be(w, 2), hx("0000"), be(h, 2), hx("0000"))
    val kind = col("doc_id") % 4
    val payload = when(kind === 0, wav)
      .when(kind === 1, mp4)
      .when(kind === 2, concat(hx(RiffTag), le32(lit(36)), hx("57415645")))
      .otherwise(encode(col("text"), "UTF-8"))
    val mime = when(kind === 0, "audio/wav").when(kind === 1, "video/mp4")
      .when(kind === 2, "audio/wav").otherwise("application/octet-stream")
    Multimodal.asMultimodal(docs(s, d),
      payload = Some(payload), mime = Some(mime))
  }

  /** Real audio/video container decode over planted bytes
    * ([[Multimodal.AvHeaders]]): WAV fmt-chunk facts + data-declared
    * duration, MP4 mvhd duration + tkhd 16.16 dims — all recovered by
    * PARSING the payload; the oracle recomputes facts and bytes by
    * construction (same md5-over-hex fingerprint gadget as
    * `multimodal_features`). Truncated-WAV and garbage rows must null
    * every typed fact and still fingerprint.
    */
  val multimodalAv: Q = (s, d) => {
    val withFp = plantedAvMedia(s, d).select(col("media_id"), col("payload"),
      md5(lower(hex(col("payload")))).as("payload_hexmd5"))
    Multimodal.extractAvFeatures(withFp, passthrough = Seq("payload_hexmd5"))
      .select("media_id", "n_bytes", "container", "sample_rate", "channels",
        "bits_per_sample", "width", "height", "duration_ms", "payload_hexmd5")
      .orderBy("media_id")
  }

  /** The documents table wrapped as a PIXEL corpus: every non-garbage row
    * carries a REAL compressed PNG — raster values from the closed form
    * `v(i) = (doc_id·31 + i·7) mod 256` over the flattened index, encoded
    * FIXTURE-side by [[PixelCodec.encodePng]] with the scanline filter
    * rotating `(doc_id + y) mod 5` (every inversion path: None/Sub/Up/
    * Average/Paeth) and `idatChunk = 64` (multi-IDAT reassembly exercised
    * on the larger rasters). Color type rotates by `doc_id mod 6` through
    * the four direct layouts (gray/rgb/gray+alpha/rgba), kind 4 an
    * INDEXED (color type 3) image — `doc_id%7+2` PLTE entries whose flat
    * RGB bytes follow the same closed form, indices `(doc_id·31+p·7) mod
    * nE`, and a tRNS covering all but the last entry (alpha
    * `(doc_id·13+j·11) mod 256`, tail opaque) so the decoded raster is
    * the closed-form EXPANSION at 4 channels — and kind 5 garbage
    * (UTF-8 text) that must null every decode fact. Dims stay small
    * (≤13×9) so the DuckDB oracle can re-enumerate every pixel.
    */
  private[graft] def plantedPixelMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val kind = (id % 6).toInt
        val w = (id % 13).toInt + 1
        val h = (id % 9).toInt + 1
        val payload: Array[Byte] = kind match {
          case 5 => r.getString(1).getBytes("UTF-8")
          case 4 =>
            // palette (color type 3) with tRNS: indices, palette RGB and
            // alpha all closed-form, so the oracle re-derives the
            // EXPANDED raster; the tRNS covers all but the last entry
            // (the spec's shorter-table-is-opaque path)
            val nE = (id % 7).toInt + 2
            val idx = Array.tabulate(w * h)(p =>
              ((id * 31 + p * 7) % nE).toByte)
            val pal = Array.tabulate(nE * 3)(m =>
              ((id * 31 + m * 7) % 256).toByte)
            val trns = Array.tabulate(nE - 1)(j =>
              ((id * 13 + j * 11) % 256).toByte)
            PixelCodec.encodePngIndexed(w, h, idx, pal, Some(trns),
              filterFor = y => ((id + y) % 5).toInt, idatChunk = 64,
              interlace = id % 7 == 1)
          case _ =>
            val c = Seq(1, 3, 2, 4)(kind) // gray, rgb, gray+alpha, rgba
            val px = Array.tabulate(w * h * c)(i =>
              ((id * 31 + i * 7) % 256).toByte)
            // id%7=1 rows plant ADAM7-interlaced streams — the decoded
            // raster is identical, so the unchanged oracle proves the
            // pass extraction/unfilter/scatter chain byte-exactly
            PixelCodec.encodePng(PixelCodec.Image(w, h, c, px),
              filterFor = y => ((id + y) % 5).toInt, idatChunk = 64,
              interlace = id % 7 == 1)
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** PIXEL-level decode over planted REAL PNGs
    * ([[Multimodal.extractPixelFeatures]]): the engine inflates the
    * payload's deflate stream, inverts the scanline filters, and folds the
    * raster to exact integer stats — plus the same stats over the
    * [[PixelCodec.resizeNearest]] 8×6 resample (decode + resample in one
    * per-partition task). The oracle re-enumerates every pixel (source AND
    * resampled, via the same ⌊t·src/dst⌋ index math) from the planted
    * closed form — a hash match proves the deflate→unfilter→resample chain
    * reproduces every byte at its exact offset (`px_chk` is
    * position-weighted). The indexed kind additionally proves the
    * PLTE/tRNS expansion (its stats run over the EXPANDED raster).
    * Garbage rows (kind 5) null all decode facts.
    */
  val multimodalPixels: Q = (s, d) =>
    Multimodal.extractPixelFeaturesResized(plantedPixelMedia(s, d),
      tw = 8, th = 6)
      .orderBy("media_id")

  /** The documents table wrapped as an audio corpus with REAL PCM WAVs:
    * sign-centered samples from a closed form (8-bit:
    * `(doc_id·17 + s·29) mod 251 − 125`; 16-bit:
    * `(doc_id·23 + s·97) mod 60001 − 30000`), encoded fixture-side by
    * [[PixelCodec.encodeWavPcm]]. Kind 2 is a valid WAV with its last
    * sample bytes cut off (a data-chunk truncation the SAMPLE decode must
    * reject — the header-only probe of `multimodal_av` accepts declared
    * sizes, this tier reads the samples); kind 3 is garbage.
    */
  private[graft] def plantedPcmMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload: Array[Byte] = (id % 4).toInt match {
          case 3 => r.getString(1).getBytes("UTF-8")
          case 2 =>
            PixelCodec.encodeWavPcm(PixelCodec.Pcm(8000, 1, 16,
              Array.tabulate(8)(i => i * 100 - 350))).dropRight(2)
          case _ =>
            val ch = (id % 2).toInt + 1
            val bits = (((id / 2) % 2) * 8 + 8).toInt
            val rate = 8000 + ((id % 7) * 500).toInt
            val n = ((id % 41) + 10).toInt * ch
            val samples = Array.tabulate(n) { i =>
              if (bits == 8) ((id * 17 + i * 29) % 251).toInt - 125
              else ((id * 23 + i * 97) % 60001).toInt - 30000
            }
            PixelCodec.encodeWavPcm(PixelCodec.Pcm(rate, ch, bits, samples))
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** The documents table wrapped as a VIDEO corpus with real ISO-BMFF
    * sample AND chunk tables: each MP4 carries a full
    * `moov/trak/mdia/minf/stbl/{stsz,stsc,stco}` chain plus K =
    * `doc_id%3 + 2` REAL `mdat` runs holding the chunk data, built
    * fixture-side from closed-form frame sizes — kind 0 plants the
    * per-sample size table (`size(i) = (doc_id·13 + i·7) mod 900 +
    * 100`), kind 1 the uniform `sample_size` form, kind 2 garbage (zero
    * frames addressable). The stsc maps `n div K` samples into each of
    * the first K-1 chunks and the remainder into the last (two runs);
    * the stco offsets point at the actual mdat payload bytes, so every
    * chunk boundary inserts an 8-byte mdat header gap — a contiguous
    * prefix-sum of sizes addresses the WRONG bytes everywhere past the
    * first chunk, which is exactly what the oracle distinguishes.
    */
  private[graft] def plantedMp4Media(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    graft.plans.ScaleOut.widen(
      docs(s, d).select(col("doc_id"), col("text")))
      .mapPartitions { rows =>
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      def box(typ: String, payload: Array[Byte]) =
        be32(8 + payload.length) ++ typ.getBytes(ascii) ++ payload
      def hexB(str: String) =
        str.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      rows.map { r =>
        val id = r.getLong(0)
        val payload: Array[Byte] = (id % 3).toInt match {
          case 2 => r.getString(1).getBytes("UTF-8")
          case kind =>
            val n = (id % 24).toInt + 8
            val k = (id % 3).toInt + 2 // chunk count (kind 0 -> 2, 1 -> 3)
            val spc = n / k            // samples per non-final chunk
            val durMs = ((id % 30) + 1).toInt * 500
            val w = (id % 1920).toInt + 1
            val h = (id % 1080).toInt + 1
            val sizes = Array.tabulate(n)(i =>
              if (kind == 1) (id % 500).toInt + 50
              else ((id * 13 + i * 7) % 900).toInt + 100)
            val stsz =
              if (kind == 1) be32(0) ++ be32(sizes(0)) ++ be32(n)
              else be32(0) ++ be32(0) ++ be32(n) ++ sizes.flatMap(be32)
            // two stsc runs: chunks 1..K-1 hold spc samples, chunk K the
            // remainder (n - spc·(K-1) >= spc >= 1 by construction)
            val stsc = be32(0) ++ be32(2) ++
              (be32(1) ++ be32(spc) ++ be32(1)) ++
              (be32(k) ++ be32(n - spc * (k - 1)) ++ be32(1))
            // sync samples every g-th frame (1-based sample numbers) —
            // the stss table a keyframe-aware sampler consumes
            val g = (id % 4).toInt + 2
            val syncNums = (0 until n by g).map(_ + 1)
            val stss = be32(0) ++ be32(syncNums.length) ++
              syncNums.toArray.flatMap(be32)
            val chunkFirst = Array.tabulate(k)(c => c * spc) :+ n
            val chunkBytes = Array.tabulate(k)(c =>
              (chunkFirst(c) until chunkFirst(c + 1)).map(sizes(_)).sum)
            val tkhd = box("tkhd",
              hexB("000000000000000000000000" + "00000001" + "00000000") ++
                be32(durMs) ++
                hexB("0000000000000000" + "00000000" + "00000000" +
                  "000100000000000000000000" + "000000000001000000000000" +
                  "000000000000000040000000") ++
                Array[Byte]((w >>> 8).toByte, w.toByte, 0, 0,
                  (h >>> 8).toByte, h.toByte, 0, 0))
            val mvhd = box("mvhd",
              hexB("000000000000000000000000" + "000003E8") ++ be32(durMs))
            def moov(stcoVals: Array[Int]) = {
              val stco = be32(0) ++ be32(k) ++ stcoVals.flatMap(be32)
              box("moov", mvhd ++ box("trak", tkhd ++
                box("mdia", box("minf", box("stbl",
                  box("stsz", stsz) ++ box("stsc", stsc) ++
                    box("stco", stco) ++ box("stss", stss))))))
            }
            val ftypB = box("ftyp", "isom".getBytes(ascii) ++ be32(0))
            // stco values depend on the moov length but not vice versa
            // (offsets are fixed-width): measure with zeros, then fill
            val moovLen = moov(Array.fill(k)(0)).length
            val offs = new Array[Int](k)
            var pos = ftypB.length + moovLen
            for (c <- 0 until k) { offs(c) = pos + 8; pos += 8 + chunkBytes(c) }
            val mdats = (0 until k).map(c => box("mdat",
              Array.tabulate(chunkBytes(c))(b => ((id + b) % 251).toByte)))
              .reduce(_ ++ _)
            ftypB ++ moov(offs) ++ mdats
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** REAL MP4 frame addressing ([[Multimodal.extractMp4Frames]]): walk
    * each payload's box chain to its stsz sample table, prefix-sum the
    * frame sizes into byte offsets, and emit every 3rd frame's
    * (index, bytes, offset) — the fetch plan a downstream decoder
    * consumes, produced without decoding a single frame. The oracle
    * re-derives sizes from the planted closed form (both stsz forms) and
    * replays the prefix sum as a window; garbage rows address nothing.
    */
  val multimodalMp4Frames: Q = (s, d) =>
    Multimodal.extractMp4Frames(plantedMp4Media(s, d), stride = 3)
      .orderBy("media_id", "frame_idx")

  /** Keyframe-aware MP4 sampling ([[Multimodal.extractMp4Keyframes]]):
    * the sampling universe is the `stss` sync-sample table — the frames
    * a fetch can decode WITHOUT reading back to a previous keyframe —
    * and every 2nd sync sample emits its true (offset, length) address.
    * The fixture plants sync samples every g-th frame (g = id%4+2); the
    * oracle replays the closed form, filters to the sync set, and
    * strides by sync rank. Garbage rows address nothing.
    */
  val multimodalMp4Keyframes: Q = (s, d) =>
    Multimodal.extractMp4Keyframes(plantedMp4Media(s, d), stride = 2)
      .orderBy("media_id", "frame_idx")

  /** The documents table wrapped as a JPEG image corpus: two producers
    * and three profiles — OUR baseline encoder (gray with restart
    * intervals, arbitrary-color 4:4:4), the JDK's ImageIO writer
    * sequential (gray, and color which it always 4:2:0-subsamples —
    * those rows carry gray-content RGB so flat chroma keeps the
    * cross-decoder comparison upsample-filter-independent), and the
    * ImageIO writer PROGRESSIVE (SOF2 gray + flat-chroma color, the
    * full IJG progression script with successive approximation). Kind 4
    * is garbage.
    */
  private[graft] def plantedJpegMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    graft.plans.ScaleOut.widen(
      docs(s, d).select(col("doc_id"), col("text")))
      .mapPartitions { rows =>
      def imageIoJpeg(w: Int, h: Int, c: Int, px: Array[Byte],
                      q: Float, progressive: Boolean = false): Array[Byte] = {
        val t = if (c == 1) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
          else java.awt.image.BufferedImage.TYPE_3BYTE_BGR
        val awt = new java.awt.image.BufferedImage(w, h, t)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var b = 0
            while (b < c) {
              awt.getRaster.setSample(x, y, b, px((y * w + x) * c + b) & 0xff)
              b += 1
            }
            x += 1
          }
          y += 1
        }
        val wr = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpeg").next()
        val p = wr.getDefaultWriteParam
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(q)
        if (progressive)
          p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
        val bos = new java.io.ByteArrayOutputStream()
        wr.setOutput(
          new javax.imageio.stream.MemoryCacheImageOutputStream(bos))
        wr.write(null, new javax.imageio.IIOImage(awt, null, null), p)
        wr.dispose()
        bos.toByteArray
      }
      rows.map { r =>
        val id = r.getLong(0)
        val kind = (id % 7).toInt
        val w = (id % 21).toInt + 1
        val h = (id % 13).toInt + 1
        def grayPx = Array.tabulate(w * h)(i =>
          ((id * 31 + i * 7) % 256).toByte)
        def colorPx = Array.tabulate(w * h * 3)(i =>
          ((id * 31 + i * 7) % 256).toByte)
        // gray-content RGB: Cb = Cr = 128 exactly, upsampler-proof
        def flatChromaPx = Array.tabulate(w * h * 3)(i =>
          ((id * 17 + (i / 3) * 11) % 256).toByte)
        val q = 40 + (id % 56).toInt
        val payload: Array[Byte] = kind match {
          case 0 => graft.operators.JpegCodec.encodeJpeg(
            graft.operators.PixelCodec.Image(w, h, 1, grayPx), quality = q,
            restartInterval = (id % 4).toInt)
          case 1 => graft.operators.JpegCodec.encodeJpeg(
            graft.operators.PixelCodec.Image(w, h, 3, colorPx), quality = q,
            sampling = (1, 1))
          case 2 => imageIoJpeg(w, h, 1, grayPx, q / 100.0f)
          case 3 => imageIoJpeg(w, h, 3, flatChromaPx, q / 100.0f)
          // PROGRESSIVE (SOF2): the JDK writer's IJG-style progression
          // script — DC first+refinement, per-component AC bands with
          // successive approximation
          case 5 => imageIoJpeg(w, h, 1, grayPx, q / 100.0f,
            progressive = true)
          case 6 => imageIoJpeg(w, h, 3, flatChromaPx, q / 100.0f,
            progressive = true)
          case _ => r.getString(1).getBytes("UTF-8")
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** Trainable curation ([[graft.operators.QualityClassifier]]): distill
    * the heuristic quality gate into a logistic model by DISTRIBUTED
    * Newton/IRLS — labels are `qualityScore ≥ 0.6` on the TRAIN split
    * (`doc_id % 5 ≠ 0`), each of the 8 iterations is one
    * map-side-combined gradient+Hessian aggregate over a
    * checkpoint-cached narrow frame (the raw corpus is scanned once),
    * and scoring is a pure literal-weighted scan expression. The
    * distilled threshold is linear in the engineered basis, so the
    * verifiable claim is tight: ≥ 0.95 accuracy on BOTH splits,
    * including the held-out one the trainer never saw. Split sizes and
    * the label prior replay closed-form in the oracle.
    */
  val textQualityClassifier: Q = (s, d) => {
    val corpus = docs(s, d)
    val label = TextOps.qualityScore(col("text")) >= 0.6
    val model = graft.operators.QualityClassifier.train(
      graft.operators.QualityClassifier.featurize(
        corpus.filter(col("doc_id") % 5 =!= 0), col("text"), label))
    val scored = corpus.select(
      (col("doc_id") % 5 === 0).as("is_test"),
      label.as("y"),
      graft.operators.QualityClassifier.predict(model, col("text"))
        .as("pred"))
    val row = scored.agg(
      sum(when(!col("is_test"), 1L)).as("n_train"),
      sum(when(col("is_test"), 1L)).as("n_test"),
      sum(when(col("y"), 1L)).as("n_pos"),
      avg(when(!col("is_test"), (col("pred") === col("y")).cast("int")
        .cast("double"))).as("train_acc"),
      avg(when(col("is_test"), (col("pred") === col("y")).cast("int")
        .cast("double"))).as("test_acc")).head()
    s.range(1).select(
      lit(row.getLong(0)).as("n_train"),
      lit(row.getLong(1)).as("n_test"),
      lit(row.getLong(2)).as("n_pos"),
      lit(row.getDouble(3) >= 0.95).as("train_acc_ok"),
      lit(row.getDouble(4) >= 0.95).as("test_acc_ok"))
  }

  /** The documents table wrapped as a GIF corpus: palette indices and
    * RGB palette entries from closed forms, LZW-compressed fixture-side
    * by [[graft.operators.GifCodec.encodeGif]] — kind 0 plain, kind 1
    * interlaced, kind 2 a 256-entry palette over a larger raster (the
    * dictionary-growth stress), kind 3 garbage.
    */
  private[graft] def plantedGifMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val kind = (id % 4).toInt
        val payload: Array[Byte] = kind match {
          case 3 => r.getString(1).getBytes("UTF-8")
          case k =>
            val nE = if (k == 2) 256 else (id % 51).toInt + 2
            val w = if (k == 2) (id % 20).toInt + 16 else (id % 19).toInt + 1
            val h = if (k == 2) (id % 12).toInt + 10 else (id % 11).toInt + 1
            val idx = Array.tabulate(w * h)(p =>
              ((id * 31 + p * 7) % nE).toByte)
            val pal = Array.tabulate(nE * 3)(m =>
              ((id * 13 + m * 5) % 256).toByte)
            graft.operators.GifCodec.encodeGif(w, h, idx, pal,
              interlace = k == 1)
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** GIF LZW decode over planted REAL GIFs
    * ([[Multimodal.extractGifFeatures]], [[graft.operators.GifCodec]]):
    * variable-width LZW decode (growth to 12 bits on the 256-entry
    * kind), palette expansion and 4-pass deinterlace, folded to exact
    * integer stats. The oracle re-enumerates every expanded RGB byte
    * from the planted closed forms — `px_chk` is position-weighted, so
    * the hash match proves byte-AND-offset fidelity (a deinterlace slip
    * or LZW drift anywhere breaks it). Garbage rows null every fact.
    */
  val multimodalGif: Q = (s, d) =>
    Multimodal.extractGifFeatures(plantedGifMedia(s, d))
      .orderBy("media_id")

  /** The documents table wrapped as a WebP corpus — REAL VP8L
    * bitstreams from [[graft.operators.WebpCodec.encodeWebpLossless]],
    * pixels from closed forms, one kind per decoder feature
    * (doc_id % 6): 0 simple-coded literals (even ids wrapped in a VP8X
    * chunk — the container walk), 1 normal (code-length-coded) prefix
    * codes + an LZ77 backref copying row 0 down the raster (linear
    * distance = w), 2 color cache (cache_bits 4, hits emitted exactly
    * where the decoder-side cache will hold the pixel), 3
    * subtract-green transform (stored red/blue collapse to constants,
    * final values g-dependent), 4 garbage bytes, 5 the HONEST-REJECTION
    * pair — lossy `VP8 ` container (id ≡ 5 mod 12) or a VP8L stream
    * whose backref uses a close-neighborhood plane code (≡ 11 mod 12);
    * both must null, never mis-decode.
    */
  private[graft] def plantedWebpMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        import graft.operators.WebpCodec
        val id = r.getLong(0)
        val kind = (id % 6).toInt
        val w = (id % 14).toInt + 2
        val h = (id % 9).toInt + 2
        val g0 = ((id * 11 + 3) % 256).toInt
        val g1 = ((id * 11 + 100) % 256).toInt
        def g(p: Int) = if ((id + p) % 2 == 0) g0 else g1
        val r0 = ((id * 13) % 256).toInt
        val b0 = ((id * 17) % 256).toInt
        val a0 = ((id * 19) % 256).toInt
        def px(a: Int, rr: Int, gg: Int, bb: Int) =
          (a << 24) | (rr << 16) | (gg << 8) | bb
        val payload: Array[Byte] = kind match {
          case 0 =>
            val toks = (0 until w * h)
              .map(p => WebpCodec.Lit(px(a0, r0, g(p), b0)))
            WebpCodec.encodeWebpLossless(w, h, toks, wrapVp8x = id % 2 == 0)
          case 1 =>
            def gk(k: Int) = ((id * 29 + k * 53) % 256).toInt
            val row0 = (0 until w).map(x =>
              WebpCodec.Lit(px(a0, r0, gk(((id + x) % 4).toInt), b0)))
            WebpCodec.encodeWebpLossless(w, h,
              row0 :+ WebpCodec.Ref((h - 1) * w, w + 120))
          case 2 =>
            val cache = new Array[Int](16)
            val toks = (0 until w * h).map { p =>
              val v = px(a0, r0, g(p), b0)
              val slot = WebpCodec.cacheSlot(v, 4)
              if (cache(slot) == v) WebpCodec.Hit(slot)
              else { cache(slot) = v; WebpCodec.Lit(v) }
            }
            WebpCodec.encodeWebpLossless(w, h, toks, cacheBits = 4)
          case 3 =>
            val toks = (0 until w * h).map { p =>
              val gg = g(p)
              WebpCodec.Lit(px(255, ((gg + id * 7) % 256).toInt, gg,
                ((gg + id * 3) % 256).toInt))
            }
            WebpCodec.encodeWebpLossless(w, h, toks, subtractGreen = true)
          case 4 => r.getString(1).getBytes("UTF-8")
          case _ =>
            if (id % 12 == 5) WebpCodec.lossyStub(4, 4)
            else WebpCodec.encodeWebpLossless(2, 2,
              Seq(WebpCodec.Lit(px(255, 1, 2, 3)), WebpCodec.Ref(3, 2)))
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** WebP lossless decode over planted REAL VP8L bitstreams
    * ([[Multimodal.extractWebpFeatures]],
    * [[graft.operators.WebpCodec]]): RIFF/VP8X walk, simple AND
    * code-length-coded canonical prefix codes, LZ77 with the
    * length/distance prefix coding, the color cache and subtract-green
    * — folded to exact integer stats over the RGBA raster. The oracle
    * re-enumerates every byte from the planted closed forms
    * (position-weighted `px_chk`: a bit slip anywhere in the entropy
    * decode breaks it). Garbage, lossy-VP8 and close-neighborhood-
    * distance rows must null every fact — the codec rejects what it
    * cannot decode EXACTLY, never guesses.
    */
  val multimodalWebp: Q = (s, d) =>
    Multimodal.extractWebpFeatures(plantedWebpMedia(s, d))
      .orderBy("media_id")

  /** The documents table as a SCANNED-DOCUMENT corpus of real TIFFs
    * ([[graft.operators.TiffCodec]] fixture encoder) — doc_id % 8
    * rotates the decode contract: gray8 II uncompressed; RGB MM in
    * two strips; RGB II LZW + predictor 2; gray8 WhiteIsZero MM
    * PackBits (the inversion verified, not just the expansion);
    * palette II with a closed-form 16-bit ColorMap; bilevel MM
    * WhiteIsZero packed rows; RGB II Adobe-deflate in 2-row strips;
    * and the named rejections (JPEG-in-TIFF, CCITT fax, tiled,
    * garbage) rotating on (doc_id / 8) % 4 — a selector independent
    * of the % 8 kind arm, so all four rejections are actually
    * planted (doc_id % 8 == 7 pins doc_id % 4 to 3). Every decoded
    * raster is a closed form the oracle re-enumerates pixel by pixel.
    */
  private[graft] def plantedTiffMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        import graft.operators.TiffCodec
        val id = r.getLong(0)
        val w = (id % 13).toInt + 1
        val h = (id % 9).toInt + 1
        def gray = Array.tabulate(w * h)(i => ((id * 31 + i * 7) % 256).toByte)
        def rgb = Array.tabulate(w * h * 3)(i => ((id * 31 + i * 7) % 256).toByte)
        val payload: Array[Byte] = (id % 8).toInt match {
          case 0 => TiffCodec.encodeTiff(w, h, 1, 1, gray)
          case 1 => TiffCodec.encodeTiff(w, h, 3, 2, rgb,
            bigEndian = true, rowsPerStrip = (h + 1) / 2)
          case 2 => TiffCodec.encodeTiff(w, h, 3, 2, rgb,
            compression = 5, predictor = 2)
          case 3 => TiffCodec.encodeTiff(w, h, 1, 0, gray,
            bigEndian = true, compression = 32773)
          case 4 =>
            val ne = (id % 7).toInt + 2
            val idx = Array.tabulate(w * h)(p => ((id * 31 + p * 7) % ne).toByte)
            // entries past ne replicate entry 0 — only planted indices
            // are ever read, but the table must be full-length
            val cm = Array.tabulate(3 * 256) { m =>
              val c = m / 256; val e = m % 256
              (((id * 13 + c * 5 + (e % ne) * 11) % 256) * 257).toInt
            }
            TiffCodec.encodeTiff(w, h, 1, 3, idx, colorMap = cm)
          case 5 =>
            val rowBytes = (w + 7) / 8
            val bits = new Array[Byte](rowBytes * h)
            for (y <- 0 until h; x <- 0 until w)
              if ((id + x + y) % 3 == 0)
                bits(y * rowBytes + (x >> 3)) =
                  (bits(y * rowBytes + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
            TiffCodec.encodeTiff(w, h, 1, 0, bits, bigEndian = true,
              bps = 1)
          case 6 => TiffCodec.encodeTiff(w, h, 3, 2, rgb,
            compression = 8, rowsPerStrip = 2)
          case _ => ((id / 8) % 4).toInt match {
            case 0 => TiffCodec.encodeTiff(w, h, 1, 1, gray,
              compressionTagOverride = 7)
            case 1 => TiffCodec.encodeTiff(w, h, 1, 1, gray,
              compressionTagOverride = 4)
            case 2 => TiffCodec.encodeTiff(w, h, 1, 1, gray,
              tileTag = true)
            case _ => r.getString(1).getBytes("UTF-8")
          }
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** TIFF decode (`multimodal_tiff`) — the scanned-document container
    * folded to exact integer stats ([[Multimodal.extractTiffFeatures]]):
    * strip walk, LZW/deflate/PackBits, predictor inversion,
    * WhiteIsZero inversion, palette expansion, bilevel bit expansion —
    * each proven byte-exact against the planted closed form — and the
    * named rejections (`jpeg`, `ccitt`, `tiled`, `malformed`) counted
    * relationally in `err` instead of vanishing into nulls.
    */
  val multimodalTiff: Q = (s, d) =>
    Multimodal.extractTiffFeatures(plantedTiffMedia(s, d))
      .orderBy("media_id")

  /** The documents table as an MP3 corpus ([[graft.operators.Mp3Codec]]
    * fixture encoder) — doc_id % 8 rotates the frame-walk contract:
    * MPEG1 44.1k stereo CBR with ALTERNATING padding bits (a wrong
    * padding term desyncs the walk — the count is the proof), an
    * ID3v2-prefixed mono CBR, an ID3v1-trailed MPEG2 CBR, headerless
    * VBR (bitrate rotates per frame), a Xing-tagged VBR with a
    * declared frame count, MPEG2.5 narrowband mono, the full
    * real-world sandwich (ID3v2 + Info tag + ID3v1), and the named
    * rejections (free-format, Layer II, truncated final frame,
    * garbage) rotating on (doc_id / 8) % 4 — independent of the % 8
    * kind arm so every rejection sub-kind is actually planted.
    */
  private[graft] def plantedMp3Media(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        import graft.operators.Mp3Codec
        val id = r.getLong(0)
        val n = (id % 20).toInt + 5
        val payload: Array[Byte] = (id % 8).toInt match {
          case 0 => Mp3Codec.encodeMp3("1", 44100, mono = false,
            Seq.fill(n)(128), paddingFor = _ % 2 == 1)
          case 1 => Mp3Codec.encodeMp3("1", 32000, mono = true,
            Seq.fill(n)(64), id3v2Size = (id % 100).toInt + 10)
          case 2 => Mp3Codec.encodeMp3("2", 22050, mono = false,
            Seq.fill(n)(64), id3v1 = true)
          case 3 => Mp3Codec.encodeMp3("1", 44100, mono = false,
            (0 until n).map(f => Seq(128, 160, 192)(f % 3)))
          case 4 => Mp3Codec.encodeMp3("1", 44100, mono = false,
            Seq.fill(n)(128), xingFrames = n - 1)
          case 5 => Mp3Codec.encodeMp3("2.5", 8000, mono = true,
            Seq.fill(n)(40))
          case 6 => Mp3Codec.encodeMp3("1", 48000, mono = false,
            Seq.fill(n)(160), id3v2Size = (id % 100).toInt + 10,
            id3v1 = true, xingFrames = n, infoTag = true)
          case _ => ((id / 8) % 4).toInt match {
            case 0 => Array[Byte](0xFF.toByte, 0xFB.toByte, 0x00, 0x00)
            case 1 => Array[Byte](0xFF.toByte, 0xFD.toByte, 0x92.toByte,
              0x00)
            case 2 => Mp3Codec.encodeMp3("1", 44100, mono = false,
              Seq.fill(2)(128)).dropRight(10)
            case _ => r.getString(1).getBytes("UTF-8")
          }
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** The documents table as FRAGMENTED MP4s (the DASH/HLS segment
    * shape) — doc_id % 4 rotates the addressing contract: per-sample
    * trun sizes under `default-base-is-moof`, a tfhd default size
    * with an EXPLICIT absolute base-data-offset, a trex default out
    * of `moov/mvex` (the init-segment defaults), and garbage. Sample
    * data bytes follow one closed form in GLOBAL data order, so the
    * read-back stats prove every resolved offset.
    */
  private[graft] def plantedFmp4Media(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val kind = (id % 4).toInt
        def be32(v: Long) = Array((v >>> 24).toByte, (v >>> 16).toByte,
          (v >>> 8).toByte, v.toByte)
        def be64(v: Long) = be32(v >>> 32) ++ be32(v & 0xFFFFFFFFL)
        def box(typ: String, body: Array[Byte]): Array[Byte] =
          be32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
        val payload: Array[Byte] =
          if (kind == 3) r.getString(1).getBytes("UTF-8")
          else {
            val nFrag = (id % 3).toInt + 2
            val perFrag = (id % 5).toInt + 3
            def sizeOf(sGlobal: Int): Int = kind match {
              case 0 => ((id * 13 + sGlobal * 7) % 120).toInt + 8
              case 1 => (id % 50).toInt + 20
              case _ => (id % 40).toInt + 16
            }
            val out = new java.io.ByteArrayOutputStream()
            out.write(box("ftyp",
              "isom".getBytes("US-ASCII") ++ be32(0)))
            if (kind == 2) {
              val trex = box("trex", be32(0) ++ be32(1) ++ be32(1) ++
                be32(0) ++ be32((id % 40) + 16) ++ be32(0))
              out.write(box("moov", box("mvex", trex)))
            }
            var g = 0L
            var sGlobal = 0
            for (f <- 0 until nFrag) {
              val sizes = (0 until perFrag).map(k => sizeOf(sGlobal + k))
              val mfhd = box("mfhd", be32(0) ++ be32(f + 1L))
              val (tfhd, trun) = kind match {
                case 0 =>
                  (box("tfhd", be32(0x020000) ++ be32(1)),
                    box("trun", be32(0x000201) ++ be32(perFrag) ++
                      be32(0 /* patched below */) ++
                      sizes.flatMap(sz => be32(sz)).toArray))
                case 1 =>
                  (null, // needs the absolute base — built below
                    box("trun", be32(0x000001) ++ be32(perFrag) ++
                      be32(0)))
                case _ =>
                  (box("tfhd", be32(0x020000) ++ be32(1)),
                    box("trun", be32(0x000001) ++ be32(perFrag) ++
                      be32(0 /* patched below */)))
              }
              val fragBytes = sizes.sum
              if (kind == 1) {
                // explicit absolute base: compute the moof size with a
                // 28-byte tfhd, then point base at the mdat payload
                val tfhdSz = 28
                val moofSz = 8 + mfhd.length + (8 + tfhdSz + trun.length)
                val base = out.size().toLong + moofSz + 8
                val tfhd1 = box("tfhd", be32(0x000011) ++ be32(1) ++
                  be64(base) ++ be32((id % 50) + 20))
                val traf = box("traf", tfhd1 ++ trun)
                out.write(box("moof", mfhd ++ traf))
              } else {
                // default-base-is-moof: data_offset = moof size + 8
                val traf = box("traf", tfhd ++ trun)
                val moof = box("moof", mfhd ++ traf)
                val dataOff = moof.length + 8
                // patch the trun's data_offset in place (it sits 16
                // bytes into the trun box, whose position is fixed)
                // moof hdr(8) + mfhd + traf hdr(8) + tfhd = trun start
                val trunAt = 8 + mfhd.length + 8 + tfhd.length
                val patched = moof.clone()
                be32(dataOff.toLong).copyToArray(patched, trunAt + 16)
                out.write(patched)
              }
              val data = new Array[Byte](fragBytes)
              var b = 0
              while (b < fragBytes) {
                data(b) = ((id * 7 + g * 3) % 256).toByte
                g += 1; b += 1
              }
              out.write(box("mdat", data))
              sGlobal += perFrag
            }
            out.toByteArray
          }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** Fragmented-MP4 walk (`multimodal_fmp4`,
    * [[Multimodal.extractFmp4Features]]): the DASH/HLS fragment
    * addressing — trex/tfhd/trun default resolution, base-data-offset
    * vs default-base-is-moof, ascending mfhd sequence — proven by
    * reading the sample bytes back at the resolved offsets against
    * one global closed form.
    */
  val multimodalFmp4: Q = (s, d) =>
    Multimodal.extractFmp4Features(plantedFmp4Media(s, d))
      .orderBy("media_id")

  /** MP3 frame walk (`multimodal_mp3`) — headers-only audio
    * budgeting ([[Multimodal.extractMp3Features]]): frame counts,
    * rates, CBR/VBR mode, Xing/Info declared counts, exact integer
    * duration, and the named rejections counted relationally.
    */
  val multimodalMp3: Q = (s, d) =>
    Multimodal.extractMp3Features(plantedMp3Media(s, d))
      .orderBy("media_id")

  /** The documents table as ADTS AAC streams — doc_id % 8 rotates the
    * header space ([[plantedMp3Media]]'s discipline): MPEG-4 LC
    * stereo VBR / mono with an ID3v2 prefix / MPEG-2 with per-frame
    * CRC / Main profile with 2 raw data blocks per frame / 5.1 /
    * LTP / 8-channel 96 kHz / and a rejection arm (PCE-defined
    * channels, nonzero layer bits, truncation, garbage). Per-frame
    * payload lengths VARY by a closed form — a wrong frame-length
    * read desyncs on the fill, so the walk's arithmetic is proven,
    * never trusted.
    */
  private[graft] def plantedAacMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        import graft.operators.AacCodec
        val id = r.getLong(0)
        val n = (id % 20).toInt + 5
        val lens = (0 until n).map(f => 20 + ((id + f) % 13).toInt)
        val payload: Array[Byte] = (id % 8).toInt match {
          case 0 => AacCodec.encodeAdts(mpeg2 = false, profile = 1,
            srate = 44100, chanCfg = 2, lens)
          case 1 => AacCodec.encodeAdts(mpeg2 = false, profile = 1,
            srate = 48000, chanCfg = 1, lens,
            fullnessFor = f => 100 + f, id3v2Size = (id % 100).toInt + 10)
          case 2 => AacCodec.encodeAdts(mpeg2 = true, profile = 1,
            srate = 22050, chanCfg = 2, lens,
            fullnessFor = _ => 200, crc = true)
          case 3 => AacCodec.encodeAdts(mpeg2 = false, profile = 0,
            srate = 32000, chanCfg = 2, lens, blocksPerFrame = 2)
          case 4 => AacCodec.encodeAdts(mpeg2 = false, profile = 1,
            srate = 8000, chanCfg = 6, lens, fullnessFor = _ => 50)
          case 5 => AacCodec.encodeAdts(mpeg2 = false, profile = 3,
            srate = 16000, chanCfg = 2, lens)
          case 6 => AacCodec.encodeAdts(mpeg2 = false, profile = 1,
            srate = 96000, chanCfg = 7, lens,
            fullnessFor = f => if (f == 0) 0x7FF else 300, crc = true)
          case _ => ((id / 8) % 4).toInt match {
            case 0 => AacCodec.encodeAdts(mpeg2 = false, profile = 1,
              srate = 44100, chanCfg = 0, lens)
            case 1 => Array[Byte](0xFF.toByte, 0xF3.toByte, 0, 0, 0, 0, 0)
            case 2 => AacCodec.encodeAdts(mpeg2 = false, profile = 1,
              srate = 44100, chanCfg = 2, lens.take(2)).dropRight(5)
            case _ => r.getString(1).getBytes("UTF-8")
          }
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** ADTS AAC frame walk (`multimodal_aac`) — headers-only audio
    * budgeting for the second dominant compressed audio kind
    * ([[Multimodal.extractAacFeatures]]): frame counts, rates,
    * profile, exact sample counts and integer duration, with the
    * named rejections counted relationally (`pce-channels` is the
    * honest dark-data label for streams whose channel layout lives in
    * an in-stream PCE the headers cannot resolve).
    */
  val multimodalAac: Q = (s, d) =>
    Multimodal.extractAacFeatures(plantedAacMedia(s, d))
      .orderBy("media_id")

  /** The documents table as LOSSY WebP (VP8 key frames) — planted
    * through the repo's own [[graft.operators.Vp8Codec.encodeDcOnly]]
    * encoder (real arithmetic-coded frames; libwebp's decoder accepts
    * them — the generation-time cross-check recorded in
    * `Vp8CodecSpec`): every doc rotates dimensions (odd sizes
    * included — the crop path), the FULL 0..127 quantizer index
    * range, and signed DC tokens for all three planes; kind 4 flips
    * the key-frame bit (`interframe` — the named rejection still
    * WebP can never carry), kind 5 is garbage bytes in a `VP8 `
    * chunk.
    */
  private[graft] def plantedWebpLossyMedia(s: SparkSession, d: String)
      : DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
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
        out.write(vp8)
        if ((vp8.length & 1) == 1) out.write(0)
        out.toByteArray
      }
      rows.map { r =>
        import graft.operators.Vp8Codec
        val id = r.getLong(0)
        val w = 16 + (id % 49).toInt
        val h = 16 + (id % 33).toInt
        val qi = (id % 128).toInt
        val yDc = (id % 9).toInt - 4
        val uDc = ((id / 2) % 9).toInt - 4
        val vDc = ((id / 3) % 9).toInt - 4
        val payload: Array[Byte] = (id % 6).toInt match {
          case 4 =>
            val f = Vp8Codec.encodeDcOnly(w, h, qi, yDc, uDc, vDc)
            f(0) = (f(0) | 1).toByte // key-frame bit off → interframe
            wrap(f)
          case 5 =>
            // a zeroed frame tag (key frame, version 0) in front of
            // text bytes: reaches the start-code check and fails
            // there deterministically (an odd first text byte would
            // otherwise read as an interframe tag)
            wrap(Array[Byte](0, 0, 0) ++ r.getString(1).getBytes("UTF-8"))
          case _ => wrap(Vp8Codec.encodeDcOnly(w, h, qi, yDc, uDc, vDc))
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** LOSSY WebP decode (`multimodal_webp_lossy`) — the round-15 #2
    * item closed: the dominant real-world WebP kind decodes instead
    * of labeling dark data. The planted frames' reconstruction has a
    * CLOSED FORM (one Y2/chroma DC in the corner macroblock, DC
    * prediction propagates it to solid planes), so the oracle replays
    * the whole pipeline — quantizer table lookup, the Y2 inverse-WHT
    * and DC-only inverse-DCT roundings, clamping, plane dimensions
    * under crop — as integer SQL over the spec's dc_qlookup table.
    * Real-encoder agreement (libwebp pixel-exactness across the
    * full feature surface) is pinned in `Vp8CodecSpec`.
    */
  val multimodalWebpLossy: Q = (s, d) =>
    Multimodal.extractWebpLossyFeatures(plantedWebpLossyMedia(s, d))
      .orderBy("media_id")

  /** A MIXED lossless media corpus for the end-to-end multimodal
    * pipeline: doc_id % 4 rotates PNG (RGB, varied scanline filters) /
    * GIF (palette) / WebP (VP8L simple) / garbage, every pixel from a
    * closed form so the embedding a decode+resize derives is
    * oracle-replayable to the bit. (JPEG stays out by design: it is
    * the one lossy codec in the family, and this chain's contract is
    * exact replay — its cross-decoder tolerance gate lives in
    * `multimodal_jpeg`.)
    */
  private[graft] def plantedEmbedMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        import graft.operators.WebpCodec
        val id = r.getLong(0)
        val w = (id % 13).toInt + 4
        val h = (id % 9).toInt + 4
        val payload: Array[Byte] = (id % 4).toInt match {
          case 0 =>
            val px = Array.tabulate(w * h * 3)(i =>
              ((id * 31 + i * 7) % 256).toByte)
            PixelCodec.encodePng(PixelCodec.Image(w, h, 3, px),
              filterFor = y => ((id + y) % 5).toInt, idatChunk = 64)
          case 1 =>
            val nE = (id % 51).toInt + 2
            val idx = Array.tabulate(w * h)(p =>
              ((id * 31 + p * 7) % nE).toByte)
            val pal = Array.tabulate(nE * 3)(m =>
              ((id * 13 + m * 5) % 256).toByte)
            graft.operators.GifCodec.encodeGif(w, h, idx, pal,
              interlace = false)
          case 2 =>
            val g0 = ((id * 11 + 3) % 256).toInt
            val g1 = ((id * 11 + 100) % 256).toInt
            val r0 = ((id * 13) % 256).toInt
            val b0 = ((id * 17) % 256).toInt
            val a0 = ((id * 19) % 256).toInt
            val toks = (0 until w * h).map { p =>
              val gg = if ((id + p) % 2 == 0) g0 else g1
              WebpCodec.Lit((a0 << 24) | (r0 << 16) | (gg << 8) | b0)
            }
            WebpCodec.encodeWebpLossless(w, h, toks)
          case _ => r.getString(1).getBytes("UTF-8")
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** END-TO-END multimodal pipeline (`pipeline_multimodal`) — the
    * training-data shape the codec tier and the ANN store exist to
    * serve TOGETHER, previously never composed in one query: decode
    * the mixed PNG/GIF/WebP corpus ([[Multimodal.extractEmbeddings]] —
    * one task decodes, resizes to 4×4 and featurizes to a 16-dim
    * gray-sum vector), drop undecodable rows (garbage can never enter
    * the index), BUILD the persisted ANN store on the even half,
    * INGEST the odd half frozen-model, then PROBE it for every media
    * id < 6 in the parity configuration — so the answer is provably
    * the exact cosine top-5 over the decoded corpus, and the oracle
    * replays the ENTIRE chain: closed-form pixels → nearest-neighbor
    * resample indices → gray-sums → cosine ranking. Scale shape: one
    * decode pass (map-only), the store lifecycle's bounded aggregates,
    * and a probe that touches only its shortlist.
    */
  val pipelineMultimodal: Q = (s, d) => {
    val emb = Multimodal.extractEmbeddings(plantedEmbedMedia(s, d))
    val vecs = graft.plans.LazyCheckpoint.shared(
      emb.filter(col("embedding").isNotNull)
        .select(col("media_id").as("vec_id"), col("embedding")))
    val dir = Scratch.dir("graft_mm_ann")
    val (_, v) = graft.operators.AnnIndex.build(
      vecs.filter(col("vec_id") % 2 === 0), dir, nCentroids = 8)
    graft.operators.AnnIndex.ingest(vecs.filter(col("vec_id") % 2 =!= 0),
      dir, batchId = 1L, version = v)
    val queries = vecs.filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.operators.AnnIndex.probe(s, dir, queries, vecs, k = 5,
        nprobe = 8, rerank = 1 << 20, version = v)
      .select(col("q_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"))
      .orderBy("q_id", "neighbor_id")
  }

  /** Baseline JPEG decode over planted REAL JPEGs
    * ([[Multimodal.extractJpegFeatures]], [[graft.operators.JpegCodec]]):
    * the engine Huffman-decodes every MCU, dequantizes, IDCTs and color
    * converts — and, JPEG being lossy, the oracle pins what IS exactly
    * checkable: dimensions/channels from the planted closed form plus
    * the `agree_ok` gate, which holds only if the engine's raster stays
    * within [[graft.operators.JpegCodec.Tolerance]] counts of the JDK's
    * independent decoder on every sample of every payload (entropy or
    * coefficient bugs blow this up by orders of magnitude). Covers both
    * producers, restart markers, 4:4:4 color and the JDK writer's
    * 4:2:0; garbage rows null every fact.
    */
  val multimodalJpeg: Q = (s, d) =>
    Multimodal.extractJpegFeatures(plantedJpegMedia(s, d))
      .select("media_id", "width", "height", "channels", "agree_ok")
      .orderBy("media_id")

  /** SAMPLE-level audio decode over planted REAL WAVs
    * ([[Multimodal.extractPcmFeatures]]): the engine decodes every PCM
    * sample (8-bit recentered / 16-bit LE signed) and folds energy, peak
    * and per-channel zero-crossings; the oracle re-enumerates the waveform
    * from the planted closed form. Truncated-data (kind 2) and garbage
    * (kind 3) rows must null every fact — sample decode REJECTS what the
    * header probe tolerates.
    */
  val multimodalPcm: Q = (s, d) =>
    Multimodal.extractPcmFeatures(plantedPcmMedia(s, d))
      .select("media_id", "sample_rate", "channels", "bits", "n_samples",
        "s_sum", "s_sumsq", "zero_cross", "peak")
      .orderBy("media_id")

  /** The documents table wrapped as a TELEPHONY audio corpus: real
    * G.711 mu-law WAVs (format 7, 8-bit companded storage) whose raw
    * code bytes come from the closed formula
    * `b(i) = (doc_id·31 + i·7) mod 256`; doc_id ≡ 2 (mod 3) rows carry
    * garbage. The oracle re-runs the CCITT expand — complement,
    * mantissa/segment split, bias — in SQL integer math over every
    * byte, so the stat hash proves the companded decode bit-exactly.
    */
  private[graft] def plantedMulawMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload: Array[Byte] = if (id % 3 == 2)
          r.getString(1).getBytes("UTF-8")
        else {
          val ch = (id % 2).toInt + 1
          val rate = 8000 + ((id % 5) * 500).toInt
          val n = ((id % 37) + 10).toInt * ch
          PixelCodec.encodeWavMulaw(rate, ch,
            Array.tabulate(n)(i => ((id * 31 + i * 7) % 256).toByte))
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** G.711 mu-law audio decode ([[PixelCodec.mulawDecode]] through the
    * WAV format-7 path): the same stat contract as `multimodal_pcm`,
    * over companded telephony audio — `bits` reports the 8-bit STORAGE
    * depth, samples are the expanded linear values.
    */
  val multimodalMulaw: Q = (s, d) =>
    Multimodal.extractPcmFeatures(plantedMulawMedia(s, d))
      .select("media_id", "sample_rate", "channels", "bits", "n_samples",
        "s_sum", "s_sumsq", "zero_cross", "peak")
      .orderBy("media_id")

  /** The documents table wrapped as EUROPEAN telephony audio: G.711
    * A-law WAVs (format 6) with code bytes from the closed formula
    * `b(i) = (doc_id·37 + i·11) mod 256`; doc_id ≡ 2 (mod 3) rows carry
    * garbage. The oracle replays the CCITT A-law expand (0x55 toggle,
    * segment/mantissa split, the two flat low segments) in SQL integer
    * math over every byte.
    */
  private[graft] def plantedAlawMedia(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload: Array[Byte] = if (id % 3 == 2)
          r.getString(1).getBytes("UTF-8")
        else {
          val ch = (id % 2).toInt + 1
          val rate = 8000 + ((id % 5) * 500).toInt
          val n = ((id % 41) + 12).toInt * ch
          PixelCodec.encodeWavAlaw(rate, ch,
            Array.tabulate(n)(i => ((id * 37 + i * 11) % 256).toByte))
        }
        Row(id, payload)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** G.711 A-law audio decode ([[PixelCodec.alawDecode]] through the
    * WAV format-6 path) — `multimodal_mulaw`'s European sibling, same
    * stat contract.
    */
  val multimodalAlaw: Q = (s, d) =>
    Multimodal.extractPcmFeatures(plantedAlawMedia(s, d))
      .select("media_id", "sample_rate", "channels", "bits", "n_samples",
        "s_sum", "s_sumsq", "zero_cross", "peak")
      .orderBy("media_id")
}
