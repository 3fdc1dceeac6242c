package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge

import graft.functions.{TextOps, TokenizerStore, WarcGzMembersExpr, WarcParseExpr}
import graft.operators.{Dedup, Packing}

/** One generated page: `dupOf` names the page a planted duplicate copies
  * (exactly when `exact`, with a few words changed otherwise).
  */
final case class Page(n: Int, lang: String, charset: String, title: String,
                      paragraphs: Seq[String], dupOf: Option[Int], exact: Boolean)

/** Seeded crawl inputs: HTML responses in several languages and
  * charsets, with a planted share of exact and near duplicates, written
  * as `.warc.gz` files (one gzip member per record) by this benchmark's
  * own writer.
  */
object CurationInputs {
  /** Words the main-content classifier counts as stopwords. */
  val Filler: IndexedSeq[String] =
    IndexedSeq("data", "line", "value", "row", "key", "order", "part", "small")
  val Langs: IndexedSeq[String] = TextOps.langProfiles.map(_._1)
    .filter(_ != "zh").toIndexedSeq
  private val Accents: Map[String, String] =
    Map("en" -> "", "de" -> "äöüß", "es" -> "ñáéó", "fr" -> "éèàç")
  val Charsets: IndexedSeq[String] = IndexedSeq("UTF-8", "ISO-8859-1", "windows-1252")

  def word(lang: String, r: java.util.SplittableRandom, z: Gen.Zipf): String = {
    val base = f"${lang}w${z.sample(r)}%03d"
    val acc = Accents(lang)
    if (acc.nonEmpty && r.nextInt(4) == 0) base + acc.charAt(r.nextInt(acc.length)) else base
  }

  def paragraph(lang: String, r: java.util.SplittableRandom, z: Gen.Zipf): String = {
    val stops = TextOps.langProfiles.toMap.apply(lang)
    Seq.fill(40 + r.nextInt(40)) {
      val u = r.nextInt(100)
      if (u < 38) Filler(r.nextInt(Filler.length))
      else if (u < 55) stops(r.nextInt(stops.length))
      else word(lang, r, z)
    }.mkString(" ") + "."
  }

  /** Word ranks of the page vocabulary. */
  def vocabulary: Gen.Zipf = new Gen.Zipf(600, 1.0)

  def pages(seed: Long, n: Int): IndexedSeq[Page] = {
    val r = Gen.rng(seed, "cur.pages")
    val z = vocabulary
    val out = scala.collection.mutable.ArrayBuffer[Page]()
    (0 until n).foreach { i =>
      val u = r.nextInt(100)
      if (i > 10 && u < 10) { // exact duplicate, re-encoded independently
        val src = out(r.nextInt(out.length))
        out += src.copy(n = i, charset = Charsets(r.nextInt(Charsets.length)),
          dupOf = Some(src.n), exact = true)
      } else if (i > 10 && u < 18) { // near duplicate: a few words changed
        val src = out(r.nextInt(out.length))
        val paras = src.paragraphs.map(_.split(" ").map(w =>
          if (r.nextInt(40) == 0) word(src.lang, r, z) else w).mkString(" "))
        out += src.copy(n = i, paragraphs = paras, dupOf = Some(src.n), exact = false)
      } else {
        val lang = Langs(r.nextInt(Langs.length))
        val cs = if (lang == "en") "UTF-8" else Charsets(r.nextInt(Charsets.length))
        out += Page(i, lang, cs, s"page $i",
          Seq.fill(2 + r.nextInt(4))(paragraph(lang, r, z)), None, exact = false)
      }
    }
    out.toIndexedSeq
  }

  def html(p: Page): String =
    s"""<html><head><meta charset="${p.charset}"><title>${p.title}</title></head><body>""" +
      """<nav><a href="/">home</a> | <a href="/about">about</a> | <a href="/news">news</a></nav>""" +
      p.paragraphs.map(t => s"<p>$t</p>").mkString +
      """<footer>&copy; 2026 example site</footer></body></html>"""

  /** One WARC/1.0 response record carrying an HTTP/1.1 response. */
  def warcRecord(p: Page): Array[Byte] = {
    val body = html(p).getBytes(Charset.forName(p.charset))
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=${p.charset}\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(US_ASCII) ++ body
    val head = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: http://site${p.n % 13}.example/doc/${p.n}\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-${p.n}%012d>\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes(US_ASCII)
    head ++ http ++ "\r\n\r\n".getBytes(US_ASCII)
  }

  /** A `.warc.gz` file: each record its own gzip member. */
  def warcGz(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { rec =>
      val gz = new GZIPOutputStream(out)
      gz.write(rec)
      gz.finish()
    }
    out.toByteArray
  }

  /** The output checks of one pass, by name, each with what failed:
    * no two kept docs share normalized text, every planted exact
    * duplicate was dropped, no packed sequence exceeds the budget, and the
    * packed tokens add up to the kept tokens.
    */
  def passProblems(kept: Seq[(Long, String)], exactDups: Seq[Long],
                   seqs: Seq[(String, Long, Long)], budget: Long,
                   packedTokens: Long, keptTokens: Long): Seq[(String, Option[String])] = {
    val keptIds = kept.map(_._1).toSet
    val norm = kept.map { case (_, t) => normalized(t) }
    Seq(
      "kept_texts_distinct" -> Some(s"${norm.length - norm.distinct.length} kept docs share normalized text")
        .filter(_ => norm.distinct.length != norm.length),
      "exact_duplicates_dropped" -> exactDups.filter(keptIds.contains).headOption
        .map(id => s"kept planted exact duplicate $id"),
      "sequences_within_budget" -> seqs.find(_._3 > budget)
        .map(s => s"sequence $s exceeds $budget tokens"),
      "packed_tokens_equal_kept" -> Some(s"packed $packedTokens vs kept $keptTokens")
        .filter(_ => packedTokens != keptTokens))
  }

  /** The text identity the dedup check compares kept docs on. */
  def normalized(text: String): String =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")
}

/** What one curation pass produced: kept docs and tokens, and the packed
  * sequences as (stratum, sequence id, tokens).
  */
final case class PassOut(keptDocs: Long, keptTokens: Long, packedTokens: Long,
                         seqs: Seq[(String, Long, Long)], kept: Seq[(Long, String)])

/** The curation stage of the `retrieval` workload: one bulk pass over
  * `.warc.gz` files (decode, main-content extraction and cleaning,
  * language id, quality filtering, MinHash-LSH near-duplicate removal,
  * BPE tokenization and contiguous packing) whose kept set the indexes
  * are then built from.
  */
final class CurationPass(seed: Long, work: Path) {
  import CurationInputs._

  val NPages = 600
  val NFiles = 8
  val Budget = 512L
  val MergeSteps = 150
  val QualityFloor = 0.3
  val DupThreshold = 0.7

  private val in = work.resolve("in")
  private var merges: Seq[(String, String)] = Nil
  private var vocab: Seq[(String, Long)] = Nil

  def generate(in: Path): Unit = {
    val ps = pages(seed, NPages)
    (0 until NFiles).foreach { f =>
      val bytes = warcGz(ps.filter(_.n % NFiles == f).map(warcRecord))
      Files.createDirectories(in.resolve("warc"))
      Files.write(in.resolve("warc").resolve(f"crawl-$f%02d.warc.gz"), bytes)
    }
    // tokenizer training text: a separate sample of pages
    Gen.writeLines(in.resolve("train/docs.json"), pages(seed + 7, 200).map(p =>
      Json(Map("text" -> p.paragraphs.mkString(" ")))))
  }

  /** Train the tokenizer under `dir`: the set-up of a pass. */
  def setup(spark: SparkSession, dir: Path): Unit = {
    val train = spark.read.schema("text string").json(in.resolve("train").toString)
    val v = TokenizerStore.trainAndSave(dir.toString, train, MergeSteps)
    val art = TokenizerStore.get(dir.toString, v).get
    merges = art.merges.map(m => m.lhs -> m.rhs)
    vocab = art.vocab.map(e => e.symbol -> e.tokenId)
  }

  /** A warm-up pass over one of the files, written under `out`. */
  def warmUp(spark: SparkSession, out: Path): Unit =
    pass(spark, new Ledger(spark, false), out, traced = false,
      glob = "crawl-00.warc.gz")

  private def expr(c: Column) = GraftBridge.expression(c)

  /** One curation pass over the input files matching `glob`; a traced
    * pass materializes each stage inside its span so the stages time
    * separately, and returns the rows each stage put out.
    */
  def pass(spark: SparkSession, ledger: Ledger, out: Path, traced: Boolean,
           glob: String = "*.warc.gz"): Map[String, Long] = {
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    // a stage's output, written to `to` when the pass persists it
    def stage(name: String, df: DataFrame, to: Option[Path] = None): DataFrame =
      if (!traced) { to.foreach(p => df.write.parquet(p.toString)); df }
      else ledger.span(name) {
        val m = df.persist()
        rows(name) = m.count()
        to.foreach(p => m.write.parquet(p.toString))
        m
      }
    val files = spark.read.format("binaryFile").option("pathGlobFilter", glob)
      .load(in.resolve("warc").toString)
    val records = stage("sources.warc", files
      .select(GraftBridge.column(WarcGzMembersExpr(expr(col("content")))))
      .select(GraftBridge.column(WarcParseExpr(expr(col("member")))).as("w"))
      .filter(col("w.warc_type") === "response" && col("w.status") === 200)
      .select(regexp_extract(col("w.target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("w.body").as("body"), col("w.content_type").as("content_type")))
    val extracted = stage("TextOps.extract", records.select(col("doc_id"),
      TextOps.cleanText(TextOps.htmlMain(
        TextOps.decodeCharset(col("body"), col("content_type")).getField("text"))
        .getField("main_text")).as("text")))
    val withLang = stage("TextOps.langid",
      extracted.withColumn("lang", TextOps.langId(col("text"))))
    val good = stage("TextOps.quality", withLang
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .filter(col("quality") >= QualityFloor && col("text") =!= ""))
    val docs = if (traced) good else good.persist()
    // drop the larger id of every near-duplicate pair
    val pairs = Dedup.minhashLsh(docs, threshold = DupThreshold)
    val dropped = pairs.select(greatest(col("id_a"), col("id_b")).as("doc_id")).distinct()
    val keptPath = out.resolve("kept")
    stage("Dedup.minhashLsh", docs.join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "text"), Some(keptPath))
    if (traced) ledger.span("Dedup.minhashLsh.candidates") {
      // LSH candidates per verified pair: the banding's wasted work
      val cands = Dedup.minhashCandidates(Dedup.signaturesFromHashes(
        Dedup.hashedShingleSets(docs)), 16, 4).count()
      ledger.count("Dedup.minhashLsh.candidates_per_pair",
        cands.toDouble / math.max(1L, pairs.count()))
    }
    stage("TextOps.bpe", spark.read.parquet(keptPath.toString).select(col("doc_id"),
      col("lang"), size(TextOps.bpeEncodeIds(col("text"), merges, vocab)).cast("long").as("n_tokens")),
      Some(out.resolve("tokens")))
    stage("Packing.pack", Packing.packContiguous(
      spark.read.parquet(out.resolve("tokens").toString), Budget, strataCol = "lang"),
      Some(out.resolve("packed")))
    if (!traced) docs.unpersist()
    spark.catalog.clearCache()
    rows.toMap
  }

  /** Read back what the pass under `out` wrote, for the checks. */
  def passOut(spark: SparkSession, out: Path): PassOut = {
    val kept = spark.read.parquet(out.resolve("kept").toString)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val keptTokens = spark.read.parquet(out.resolve("tokens").toString)
      .agg(sum("n_tokens")).head().getLong(0)
    val seqs = spark.read.parquet(out.resolve("packed").toString)
      .groupBy("source", "seq_id").agg(sum("seq_tokens").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    PassOut(kept.length, keptTokens, seqs.map(_._3).sum, seqs, kept)
  }

  /** The output checks of the pass under `out`, by name, each with what
    * failed.
    */
  def checks(spark: SparkSession, out: Path): (PassOut, Seq[(String, Option[String])]) = {
    val last = passOut(spark, out)
    (last, passProblems(last.kept, pages(seed, NPages).filter(_.exact).map(_.n.toLong),
      last.seqs, Budget, last.packedTokens, last.keptTokens) :+
      ("kept_most_pages" -> Some(s"kept only ${last.keptDocs} of $NPages")
        .filter(_ => last.keptDocs <= NPages / 2)))
  }
}
