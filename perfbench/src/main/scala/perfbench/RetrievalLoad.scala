package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{AnnIndex, Retrieval}

/** Seeded inputs of `retrieval`: clustered embeddings with a pool of
  * future inserts, page text for the inserts, and queries drawn near the
  * clusters, with terms from the crawl's vocabulary and a fixed share of
  * repeats. The initial text corpus is the curated crawl. Both indexes
  * share one id space: crawl page `n` and embedding `vec_id` `n` are one
  * document, and an insert carries its embedding and its page text under
  * one new id.
  */
object RetrievalInputs {
  val Dim = 32
  val Clusters = 16

  final case class Vec(id: Long, v: Array[Float])

  def centers(seed: Long): Array[Array[Double]] = {
    val r = Gen.rng(seed, "ret.centers")
    Array.fill(Clusters)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
  }

  private def near(c: Array[Double], spread: Double,
                   r: java.util.SplittableRandom): Array[Float] =
    c.map(x => (x + gaussian(r) * spread).toFloat)

  private def gaussian(r: java.util.SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's nextGaussian
    // would need a second generator)
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def vectors(seed: Long, n: Int): IndexedSeq[Vec] = {
    val cs = centers(seed)
    val r = Gen.rng(seed, "ret.vectors")
    (0 until n).map(i => Vec(i.toLong, near(cs(r.nextInt(Clusters)), 0.35, r)))
  }

  /** Page text for ids inserted after the build, in the crawl's vocabulary. */
  def insertTexts(seed: Long, n: Int): IndexedSeq[String] = {
    val r = Gen.rng(seed, "ret.inserts")
    val z = CurationInputs.vocabulary
    val langs = CurationInputs.Langs
    (0 until n).map(_ => CurationInputs.paragraph(langs(r.nextInt(langs.length)), r, z))
  }

  /** (query vector, query terms); about a fifth repeat an earlier query. */
  def queries(seed: Long, n: Int): IndexedSeq[(Array[Float], Seq[String])] = {
    val cs = centers(seed)
    val r = Gen.rng(seed, "ret.queries")
    val z = CurationInputs.vocabulary
    val langs = CurationInputs.Langs
    val out = scala.collection.mutable.ArrayBuffer[(Array[Float], Seq[String])]()
    (0 until n).foreach { i =>
      if (i > 4 && r.nextInt(5) == 0) out += out(r.nextInt(out.length))
      else {
        val lang = langs(r.nextInt(langs.length))
        out += (near(cs(r.nextInt(Clusters)), 0.3, r) ->
          Seq.fill(2 + r.nextInt(2))(f"${lang}w${z.sample(r)}%03d").distinct)
      }
    }
    out.toIndexedSeq
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine over `live`, ties broken by id. */
  def exactTopK(q: Array[Float], live: Iterable[Vec], k: Int): Seq[Long] =
    live.toSeq.map(v => (-cosine(q, v.v), v.id)).sorted.take(k).map(_._2)

  /** What is wrong with one probe answer: a deleted id after its
    * commit, a repeated id, or the wrong number of rows.
    */
  def probeProblems(ids: Seq[Long], deleted: Long => Boolean, k: Int): Seq[String] =
    Seq(
      ids.filter(deleted).headOption.map(id => s"returned deleted id $id"),
      Some("returned a repeated id").filter(_ => ids.distinct.length != ids.length),
      Some(s"returned ${ids.length} rows, want $k").filter(_ => ids.length != k)).flatten

  /** What is wrong with one hybrid answer: a deleted id after its
    * commit, an id live in neither index, a repeated id, or no rows or
    * more than k.
    */
  def hybridProblems(ids: Seq[Long], deleted: Long => Boolean,
                     live: Long => Boolean, k: Int): Seq[String] =
    Seq(
      ids.filter(deleted).headOption.map(id => s"returned deleted id $id"),
      ids.filterNot(id => live(id) || deleted(id)).headOption
        .map(id => s"returned unknown id $id"),
      Some("returned a repeated id").filter(_ => ids.distinct.length != ids.length),
      Some(s"returned ${ids.length} rows, want 1..$k").filter(_ => ids.isEmpty || ids.length > k)).flatten

  def vecJson(v: Vec): String =
    s"""{"vec_id":${v.id},"embedding":[${v.v.mkString(",")}]}"""

  def docJson(id: Long, text: String): String =
    Json(scala.collection.immutable.ListMap("doc_id" -> id, "text" -> text))

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val changeSchema: StructType = StructType(vecSchema.fields ++ Seq(
    StructField("opcode", StringType), StructField("seqno", LongType)))
}

/** The standing maintenance streams of one ANN + BM25 index pair, and
  * the client's writes into them. A micro-batch lands in both streams'
  * feeds; its deletes reach the BM25 index as tombstones through
  * `Retrieval.deleteBm25`, in batch ids below the BM25 stream's range,
  * which is why only documents of the build (batch 0) are ever deleted.
  */
final class Standing(spark: SparkSession, ledger: Ledger, dir: Path,
                     annDir: String, bm25Dir: String) {
  import RetrievalInputs._

  private var cycle = 0
  private var landed = 0
  private var seqno = 0L
  private var deleteBatch = 0L

  private def annFeed: Path = dir.resolve(s"ann-feed-$cycle")

  private def startAnn(): StreamingQuery = {
    Files.createDirectories(annFeed)
    val q = AnnIndex.maintainChangeStream(
        spark.readStream.schema(changeSchema).json(annFeed.toString), annDir, -1)
      .option("checkpointLocation", dir.resolve(s"ann-ckpt-$cycle").toString)
      .trigger(Trigger.ProcessingTime(0L)).start()
    ledger.stream(q.id.toString, "AnnIndex.stream_batch")
    q
  }

  private val bm25Feed = dir.resolve("bm25-feed")
  Files.createDirectories(bm25Feed)
  private val bm25Q = Retrieval.maintainBm25Stream(
      spark.readStream.schema(docSchema).json(bm25Feed.toString), bm25Dir, -1,
      batchIdBase = Standing.Bm25StreamBase)
    .option("checkpointLocation", dir.resolve("bm25-ckpt").toString)
    .trigger(Trigger.ProcessingTime(0L)).start()
  ledger.stream(bm25Q.id.toString, "Retrieval.bm25_stream_batch")
  private var annQ = startAnn()

  /** Land one micro-batch that upserts `ins` (with their page texts) and
    * deletes `del` in both indexes, and wait until both have committed
    * it. Returns the milliseconds from landing to the ANN commit and to
    * both commits.
    */
  def ingest(ins: Seq[Vec], text: Long => String, del: Seq[Long], op: Long): (Double, Double) = {
    val annLines = ins.map { v => seqno += 1
      s"""{"vec_id":${v.id},"embedding":[${v.v.mkString(",")}],"opcode":"MUTATION","seqno":$seqno}""" } ++
      del.map { id => seqno += 1
        s"""{"vec_id":$id,"embedding":null,"opcode":"DELETION","seqno":$seqno}""" }
    val name = f"b-$landed%05d.json"
    landed += 1
    Gen.writeLines(dir.resolve("staged-ann").resolve(name), annLines)
    Gen.writeLines(dir.resolve("staged-bm25").resolve(name),
      ins.map(v => docJson(v.id, text(v.id))))
    val l0 = System.nanoTime()
    Gen.land(dir.resolve("staged-ann").resolve(name), annFeed)
    Gen.land(dir.resolve("staged-bm25").resolve(name), bm25Feed)
    annQ.processAllAvailable()
    val annMs = (System.nanoTime() - l0) / 1e6
    // the tombstones touch only build-time documents and the stream only
    // new ones, so they are written while the BM25 stream commits
    deleteBatch += 1
    ledger.span("Retrieval.deleteBm25", op) {
      Retrieval.deleteBm25(spark.createDataFrame(del.map(Tuple1(_))).toDF("doc_id"),
        bm25Dir, deleteBatch)
    }
    bm25Q.processAllAvailable()
    (annMs, (System.nanoTime() - l0) / 1e6)
  }

  /** Compact the ANN index: stop its stream, compact, and restart the
    * stream on the new version.
    */
  def compact(op: Long): Unit = {
    annQ.stop()
    ledger.span("AnnIndex.compact", op) { AnnIndex.compact(spark, annDir) }
    cycle += 1
    annQ = startAnn()
  }

  def stop(): Unit = { annQ.stop(); bm25Q.stop() }
}

object Standing {
  /** First BM25 batch id of the stream; tombstone batches stay below it. */
  val Bm25StreamBase = 1000000L
}

/** `retrieval`: curate a crawl and index it, then serve. The bulk phase
  * is one curation pass over `.warc.gz` files and the ANN and BM25 builds
  * over its output; then one closed-loop client runs ANN probes and
  * hybrid queries against the standing indexes, lands upsert+delete
  * micro-batches into their maintenance streams and waits for each
  * commit, and compacts the ANN index between segments.
  */
final class RetrievalLoad(seed: Long, work: Path, seconds: Int) extends Workload {
  import RetrievalInputs._

  val NVecs = 4000
  val Pool = 2000
  val Upserts = 24
  val Deletes = 8
  val Compactions = 3
  val K = 10
  /** (ingest, probe) pairs per segment. */
  val Pairs: Int = math.max(2, seconds / 4)
  /** The client runs a fixed script, so every run visits the same
    * sequence of index states: `Compactions + 1` segments, with an ANN
    * compaction between consecutive segments. A segment opens with the
    * first micro-batch of the (re)started ANN stream and the first probe
    * of the new index version, both timed apart: a new query plans its
    * first batch, and a probe of a new version loads its model. Then come
    * `Pairs` (ingest, probe) pairs, and every second segment closes with a
    * hybrid query.
    */
  val script: IndexedSeq[String] = (0 to Compactions).flatMap { g =>
    (if (g > 0) Seq("compact") else Nil) ++ Seq("first_ingest", "first_probe") ++
      Seq.fill(Pairs)(Seq("ingest", "probe")).flatten ++
      (if (g % 2 == 1) Seq("hybrid") else Nil)
  }

  private val in = work.resolve("in")
  private val curation = new CurationPass(seed, work)
  private var corpus: DataFrame = _

  def generate(in: Path): Unit = {
    curation.generate(in)
    val vs = vectors(seed, NVecs + Pool)
    (0 until 4).foreach { p =>
      Gen.writeLines(in.resolve(s"vectors/part-$p.json"),
        vs.filter(_.id % 4 == p).map(vecJson))
    }
  }

  /** Tokenizer training, then the re-rank corpus cached in the session. */
  def setup(spark: SparkSession, dir: Path): Unit = {
    curation.setup(spark, dir.resolve("tokenizer"))
    corpus = spark.read.schema(vecSchema).json(in.resolve("vectors").toString).cache()
    corpus.count()
  }

  /** Every client path once on an index pair of its own: a curation pass
    * over an eighth of the crawl, both builds (the BM25 one over that
    * pass's kept pages), probes, an upsert+delete micro-batch through both
    * streams, a hybrid query, a compaction and the first micro-batch after
    * it.
    */
  def warmUp(spark: SparkSession, dir: Path): Unit = {
    curation.warmUp(spark, dir.resolve("curation"))
    val ann = dir.resolve("ann").toString
    val bm25 = dir.resolve("bm25").toString
    AnnIndex.build(corpus.filter(col("vec_id") < NVecs), ann)
    Retrieval.buildBm25Index(keptDocs(spark, dir.resolve("curation")), bm25)
    val (qv, terms) = queries(seed + 7, 1).head
    (1 to 2).foreach(i => AnnIndex.probe(spark, ann, queryFrame(spark, -i, qv), corpus, K).collect())
    val all = vectors(seed, NVecs + Pool)
    val texts = insertTexts(seed, Pool)
    val s = new Standing(spark, new Ledger(spark, false), dir.resolve("client"), ann, bm25)
    try {
      def batch(i: Int) = s.ingest(all.slice(NVecs + i * Upserts, NVecs + (i + 1) * Upserts),
        id => texts((id - NVecs).toInt), (i * Deletes until (i + 1) * Deletes).map(_.toLong), -1)
      batch(0)
      Retrieval.hybridSearch(spark, bm25, ann, terms, queryFrame(spark, -3L, qv), corpus, K).collect()
      s.compact(-1)
      batch(1)
    } finally s.stop()
  }

  /** The (doc_id, text) pages a curation pass under `out` kept. */
  private def keptDocs(spark: SparkSession, out: Path): DataFrame =
    spark.read.parquet(out.resolve("kept").toString).select("doc_id", "text")

  private def queryFrame(spark: SparkSession, id: Long, v: Array[Float]): DataFrame =
    spark.createDataFrame(Seq(Row(id, v.toSeq)).asJava, StructType(Seq(
      StructField("q_id", LongType), StructField("q_vec", ArrayType(FloatType)))))

  def run(ctx: RunCtx): Outcome = {
    val (spark, ledger) = (ctx.spark, ctx.ledger)
    val out = work.resolve("run")
    val all = vectors(seed, NVecs + Pool)
    val texts = insertTexts(seed, Pool)
    val live = scala.collection.mutable.LinkedHashMap[Long, Vec]()
    all.take(NVecs).foreach(v => live(v.id) = v)
    val deleted = scala.collection.mutable.HashSet[Long]()
    val r = Gen.rng(seed, "ret.client")
    var nextInsert = NVecs
    val t0 = ledger.nowMs

    // bulk phase: curate the crawl, then build both indexes
    val b0 = System.nanoTime()
    val curated = out.resolve("curation")
    val stageRows = curation.pass(spark, ledger, curated, ledger.enabled)
    val curateS = (System.nanoTime() - b0) / 1e9
    val annDir = out.resolve("ann").toString
    val bm25Dir = out.resolve("bm25").toString
    ledger.span("AnnIndex.build") { AnnIndex.build(corpus.filter(col("vec_id") < NVecs), annDir) }
    ledger.span("Retrieval.buildBm25Index") { Retrieval.buildBm25Index(keptDocs(spark, curated), bm25Dir) }
    val bulkS = (System.nanoTime() - b0) / 1e9

    val standing = new Standing(spark, ledger, out.resolve("client"), annDir, bm25Dir)
    val probeMs, hybridMs, ingestMs, updateMs, firstMs, firstProbeMs = Seq.newBuilder[Double]
    val recalls = Seq.newBuilder[Double]
    var ops, bad = 0L
    var compactions = 0
    var committedAtProbe = 0.0
    var probes = 0
    var probeRows = 0L
    val qs = queries(seed, script.length)
    def noProblems(step: Int, ps: Seq[String]): Boolean = {
      ps.foreach(p => System.err.println(s"[retrieval] step $step: $p"))
      ps.isEmpty
    }
    script.zipWithIndex.foreach { case (kind, step) =>
      val ok = try kind match {
        case "compact" =>
          standing.compact(step)
          compactions += 1
          true
        case "ingest" | "first_ingest" =>
          val ins = all.slice(nextInsert, nextInsert + Upserts)
          nextInsert += Upserts
          val build = live.keysIterator.filter(_ < NVecs).toIndexedSeq
          val del = Gen.permutation(build.length, r).take(Deletes).map(build(_)).toSeq
          val (annMs, bothMs) = standing.ingest(ins, id => texts((id - NVecs).toInt), del, step)
          if (kind == "first_ingest") firstMs += bothMs
          else { ingestMs += annMs; updateMs += bothMs }
          ins.foreach(v => live(v.id) = v)
          del.foreach { id => live.remove(id); deleted += id }
          true
        case "probe" | "first_probe" =>
          val (qv, _) = qs(step)
          val s0 = System.nanoTime()
          val rows = ledger.span("AnnIndex.probe", step) {
            AnnIndex.probe(spark, annDir, queryFrame(spark, -1L - step, qv), corpus, K).collect()
          }
          (if (kind == "first_probe") firstProbeMs else probeMs) += (System.nanoTime() - s0) / 1e6
          probes += 1
          probeRows += rows.length
          if (ledger.enabled) committedAtProbe +=
            AnnIndex.committedBatches(annDir, AnnIndex.latestVersion(annDir).get).length
          val ids = rows.map(_.getAs[Long]("neighbor_id")).toSeq
          val exact = exactTopK(qv, live.values, K).toSet
          recalls += ids.count(exact.contains).toDouble / K
          noProblems(step, probeProblems(ids, deleted.contains, K))
        case "hybrid" =>
          val (qv, terms) = qs(step)
          val s0 = System.nanoTime()
          val rows = ledger.span("Retrieval.hybridSearch", step) {
            Retrieval.hybridSearch(spark, bm25Dir, annDir, terms,
              queryFrame(spark, -1L - step, qv), corpus, K).collect()
          }
          hybridMs += (System.nanoTime() - s0) / 1e6
          val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
          noProblems(step, hybridProblems(ids, deleted.contains, live.contains, K))
      } catch { case e: Exception =>
        System.err.println(s"[retrieval] step $step failed: $e"); false
      }
      ops += 1
      if (!ok) bad += 1
    }
    val t1 = ledger.nowMs
    standing.stop()

    val pm = probeMs.result(); val hm = hybridMs.result(); val im = ingestMs.result()
    val um = updateMs.result()
    val meanRecall = recalls.result().sum / recalls.result().length
    val (curatedOut, curationProblems) = curation.checks(spark, curated)
    val problems = curationProblems :+ ("recall_at_10_floor" ->
      Some(s"mean recall@10 $meanRecall < 0.5").filter(_ => meanRecall < 0.5))
    problems.foreach { case (name, why) =>
      why.foreach(w => System.err.println(s"[retrieval] $name: $w"))
    }
    val checks = problems.map { case (name, why) => name -> why.isEmpty }
    val bpeS = ledger.allSpans(None).filter(_.name == "TextOps.bpe").map(_.wallMs).sum / 1000
    Outcome(
      endToEnd = Map(
        "bulk_docs_per_s" -> curation.NPages / bulkS,
        "update_per_s" -> (Upserts + Deletes) / (Stats.median(um) / 1000),
        "op_ms_p50" -> Stats.median(pm),
        "lag_ms_p50" -> Stats.median(im)),
      named = Map(
        "curate_docs_per_s" -> curation.NPages / curateS,
        "index_build_s" -> (bulkS - curateS),
        "kept_docs" -> curatedOut.keptDocs.toDouble,
        "ann_query_ms_p50" -> Stats.median(pm),
        "hybrid_query_ms_p50" -> Stats.median(hm),
        "ann_ingest_ms_p50" -> Stats.median(im),
        "update_ms_p50" -> Stats.median(um),
        "first_batch_ms_p50" -> Stats.median(firstMs.result()),
        "first_probe_ms_p50" -> Stats.median(firstProbeMs.result()),
        "ann_recall_at_10" -> meanRecall,
        "compactions" -> compactions.toDouble) ++
        Stats.p90Named("ann_query_ms", pm) ++ Stats.p90Named("hybrid_query_ms", hm),
      samples = Map("ann_query_ms" -> pm, "hybrid_query_ms" -> hm,
        "ann_ingest_ms" -> im, "update_ms" -> um, "first_batch_ms" -> firstMs.result(),
        "first_probe_ms" -> firstProbeMs.result()),
      attempted = ops + 1 + checks.length,
      failed = bad + checks.count(!_._2),
      layer = stageRows.map { case (k, v) => s"$k.rows_out" -> v.toDouble } ++ Map(
        "TextOps.bpe.tokens_per_s" -> (if (bpeS > 0) curatedOut.keptTokens / bpeS else 0.0),
        "Dedup.minhashLsh.candidates_per_pair" ->
          ledger.counter("Dedup.minhashLsh.candidates_per_pair"),
        "AnnIndex.probe.rows_read_per_result" ->
          ledger.inputRows("AnnIndex.probe").toDouble / math.max(1L, probeRows),
        "AnnIndex.committed_batches_at_probe" -> committedAtProbe / math.max(1, probes),
        "ann.recall_at_10" -> meanRecall,
        "Retrieval.hybridSearch.ms_p50" -> Stats.median(hm)),
      timedFromMs = t0, timedToMs = t1, checks = checks)
  }
}
