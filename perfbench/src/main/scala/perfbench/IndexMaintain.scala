package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.{FunctionCatalog, LambdaMapFunction, LibraryStore}
import graft.model.{IndexDef, Opcode}
import graft.operators.{IndexBuilder, IndexScan}
import graft.streaming.StreamingIndex

/** The document model of the `index_maintain` workload (FIXTURES §1). */
final case class Doc(docid: Long, age: Option[Int], company: Option[String],
                     status: String, tags: Seq[String])

/** One change event (FIXTURES §3): `doc` is the new value of a MUTATION,
  * the old value of a DELETION that carries one, and absent otherwise.
  */
final case class Change(opcode: String, docid: Long, seqno: Long,
                        doc: Option[Doc])

/** Seeded inputs of `index_maintain`: a doc snapshot and a mutation log
  * whose docids follow a Zipf skew and whose ops follow the FIXTURES §3
  * mix.
  */
object IndexInputs {
  val Companies: IndexedSeq[String] = (0 until 40).map(i => f"co$i%02d")
  val Tags: IndexedSeq[String] = (0 until 48).map(i => f"t$i%02d")

  /** (op kind, weight). */
  val OpMix: Seq[(String, Int)] = Seq(
    "key_change" -> 34, "tags_change" -> 14, "leave_where" -> 9,
    "enter_where" -> 7, "insert" -> 10, "delete_old" -> 10,
    "delete_null" -> 10, "expire" -> 6)

  def randomDoc(docid: Long, r: java.util.SplittableRandom): Doc = {
    val nTags = r.nextInt(4)
    Doc(docid,
      if (r.nextInt(25) == 0) None else Some(18 + r.nextInt(63)),
      if (r.nextInt(30) == 0) None else Some(Companies(r.nextInt(Companies.length))),
      if (r.nextInt(5) == 0) "inactive" else "active",
      Gen.permutation(Tags.length, r).take(nTags).sorted.map(Tags(_)).toSeq)
  }

  def snapshot(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = Gen.rng(seed, "im.snapshot")
    (0 until n).map(i => randomDoc(i.toLong, r))
  }

  /** `count` changes applied after `base`, seqnos from `firstSeqno`. */
  def mutations(seed: Long, base: IndexedSeq[Doc], count: Int,
                firstSeqno: Long): IndexedSeq[Change] = {
    val r = Gen.rng(seed, "im.mutations")
    val n = base.length
    val zipf = new Gen.Zipf(n, 1.1)
    val hot = Gen.permutation(n, r)
    val state = scala.collection.mutable.HashMap[Long, Doc]()
    base.foreach(d => state(d.docid) = d)
    val total = OpMix.map(_._2).sum
    var nextDocid = n.toLong
    (0 until count).map { i =>
      val seqno = firstSeqno + i
      var pick = r.nextInt(total)
      val kind = OpMix.find { case (_, w) => pick -= w; pick < 0 }.get._1
      val docid =
        if (kind == "insert") { nextDocid += 1; nextDocid - 1 }
        else hot(zipf.sample(r)).toLong
      val cur = state.get(docid)
      def upsert(d: Doc): Change = { state(docid) = d; Change(Opcode.Mutation, docid, seqno, Some(d)) }
      def fresh = randomDoc(docid, r)
      kind match {
        case "key_change" =>
          upsert(cur.getOrElse(fresh).copy(age = Some(18 + r.nextInt(63))))
        case "tags_change" =>
          upsert(cur.getOrElse(fresh).copy(tags =
            Gen.permutation(Tags.length, r).take(1 + r.nextInt(3)).sorted
              .map(Tags(_)).toSeq))
        case "leave_where" => upsert(cur.getOrElse(fresh).copy(status = "inactive"))
        case "enter_where" => upsert(cur.getOrElse(fresh).copy(status = "active"))
        case "insert" => upsert(fresh)
        case "delete_old" =>
          state.remove(docid); Change(Opcode.Deletion, docid, seqno, cur)
        case "delete_null" =>
          state.remove(docid); Change(Opcode.Deletion, docid, seqno, None)
        case "expire" =>
          state.remove(docid); Change(Opcode.Expiration, docid, seqno, None)
      }
    }
  }

  /** The plain-Scala replay: the snapshot after every change, in order. */
  def replay(base: Seq[Doc], changes: Seq[Change]): Map[Long, Doc] = {
    val m = scala.collection.mutable.HashMap[Long, Doc]()
    base.foreach(d => m(d.docid) = d)
    changes.sortBy(_.seqno).foreach { c =>
      if (c.opcode == Opcode.Mutation) m(c.docid) = c.doc.get
      else m.remove(c.docid)
    }
    m.toMap
  }

  private def jsonFields(d: Option[Doc]): Seq[(String, Any)] = Seq(
    "age" -> d.flatMap(_.age).map(Int.box).orNull,
    "company" -> d.flatMap(_.company).orNull,
    "status" -> d.map(_.status).orNull,
    "tags" -> d.map(_.tags).orNull)

  def docJson(d: Doc): String =
    Json(scala.collection.immutable.ListMap(
      (("docid" -> d.docid) +: jsonFields(Some(d))): _*))

  def changeJson(c: Change): String =
    Json(scala.collection.immutable.ListMap((Seq(
      "opcode" -> c.opcode, "docid" -> c.docid, "seqno" -> c.seqno,
      "partition" -> (c.docid % 32).toInt) ++ jsonFields(c.doc)): _*))

  val docSchema: StructType = StructType(Seq(
    StructField("docid", LongType), StructField("age", IntegerType),
    StructField("company", StringType), StructField("status", StringType),
    StructField("tags", ArrayType(StringType))))

  val changeSchema: StructType = StructType(Seq(
    StructField("opcode", StringType), StructField("docid", LongType),
    StructField("seqno", LongType), StructField("partition", IntegerType)) ++
    docSchema.fields.drop(1))

  // Index definitions: three maintained, two built only.
  val whereIdx = IndexDef("im_age_active", "docs", "docid",
    secExprs = Seq("age"), whereExpr = Some("status = 'active'"))
  val tagsIdx = IndexDef("im_tags", "docs", "docid",
    secExprs = Seq("tags"), isArrayIndex = true)
  val primaryIdx = IndexDef("im_primary", "docs", "docid", isPrimary = true)
  val exprIdx = IndexDef("im_company_age", "docs", "docid",
    funcName = Some("company_age"))
  val lambdaIdx = IndexDef("im_tag_company", "docs", "docid",
    funcName = Some("tag_company"))

  /** Multi-emit map function: one `tag@company` key per tag. */
  val tagCompany: Row => Iterator[Row] = { row =>
    val company = row.getAs[String]("company")
    val tags = row.getAs[scala.collection.Seq[String]]("tags")
    if (company == null || tags == null) Iterator.empty
    else tags.iterator.map(t => Row(s"$t@$company"))
  }

  /** Expected entries of each index over `docs`, as `key|docid` strings. */
  def expected(defn: IndexDef, docs: Iterable[Doc]): Seq[String] = {
    val rows: Iterable[String] = defn.name match {
      case "im_age_active" => docs.collect {
        case d if d.status == "active" && d.age.isDefined => s"${d.age.get}|${d.docid}" }
      case "im_tags" => docs.flatMap(d => d.tags.map(t => s"$t|${d.docid}"))
      case "im_primary" => docs.map(_.docid.toString)
      case "im_company_age" => docs.collect {
        case d if d.company.isDefined || d.age.isDefined =>
          s"${d.company.getOrElse("null")}|${d.age.map(_.toString).getOrElse("null")}|${d.docid}" }
      case "im_tag_company" => docs.flatMap(d =>
        d.company.toSeq.flatMap(c => d.tags.map(t => s"$t@$c|${d.docid}")))
    }
    rows.toSeq.sorted
  }

  /** Index rows as sorted `col|col|...` strings, the form [[expected]]
    * gives.
    */
  def renderRows(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString)
      .mkString("|")).sorted

  def render(df: DataFrame): Seq[String] = renderRows(df.collect().toSeq)

  /** What is wrong with an index's rendered entries against the entries
    * the replay expects; nothing when they agree.
    */
  def entryProblems(want: Seq[String], got: Seq[String]): Option[String] =
    if (want == got) None else Some(diff(want, got))

  /** Differences between two sorted entry lists, for a failing check. */
  def diff(want: Seq[String], got: Seq[String]): String = {
    val w = want.groupBy(identity).map { case (k, v) => k -> v.size }
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    val missing = (w.keySet ++ g.keySet).toSeq.sorted
      .filter(k => w.getOrElse(k, 0) != g.getOrElse(k, 0)).take(5)
    missing.map(k => s"$k want ${w.getOrElse(k, 0)} got ${g.getOrElse(k, 0)}")
      .mkString("; ")
  }
}

/** `index_maintain`: build, then maintain three indexes from an
  * open-loop mutation feed while one closed-loop reader scans them, then
  * drain a fixed backlog.
  */
final class IndexMaintain(seed: Long, work: Path, seconds: Int)
    extends Workload {
  import IndexInputs._

  val NDocs = 10000
  val PerFile = 10
  /** Below what the stream drains, so freshness measures the pipeline
    * rather than a backlog that grows with the run.
    */
  val FilesPerS = 4
  val BurstFiles = 30
  /** Build phases and bursts per run; the best of each is the
    * throughput, as `graft.Bench` keeps its best of three: the first phase
    * and burst run on paths the warm-up ran only on small inputs.
    */
  val BuildReps = 3
  val Bursts = 3
  /** Docid-hash partitions of each maintained index. */
  val IndexParts = 8

  /** Registration is cheap and its time noisy, so its median takes more
    * set-ups than the other workload's.
    */
  override val setupReps = 5

  private val in = work.resolve("in")
  private val openFiles = FilesPerS * seconds
  private val nFiles = openFiles + Bursts * BurstFiles
  private var catalog: FunctionCatalog = _

  private def staged(i: Int): Path = in.resolve("staged").resolve(f"m-$i%06d.json")

  def generate(in: Path): Unit = {
    val snap = snapshot(seed, NDocs)
    (0 until 4).foreach { p =>
      Gen.writeLines(in.resolve("snapshot").resolve(s"part-$p.json"),
        snap.filter(_.docid % 4 == p).map(docJson))
    }
    val changes = mutations(seed, snap, nFiles * PerFile, 1L)
    changes.grouped(PerFile).zipWithIndex.foreach { case (cs, i) =>
      Gen.writeLines(staged(i), cs.map(changeJson))
    }
    // a small separate set for the set-up warm-up
    val warm = snapshot(seed + 7, 2000)
    Gen.writeLines(in.resolve("warm").resolve("snapshot.json"), warm.map(docJson))
    mutations(seed + 7, warm, 2 * PerFile, 1L).grouped(PerFile).zipWithIndex
      .foreach { case (cs, i) =>
        Gen.writeLines(in.resolve("warm").resolve(s"changes/w-$i.json"),
          cs.map(changeJson))
      }
  }

  /** Register the map functions: an expression function saved to and
    * loaded from a `LibraryStore`, and a multi-emit lambda validated on a
    * sample.
    */
  def setup(spark: SparkSession, dir: Path): Unit = {
    val lib = dir.resolve("library").toString
    LibraryStore.save(lib, LibraryStore.Entry("company_age",
      Seq("company", "age"), description = "company, age"))
    catalog = new FunctionCatalog
    LibraryStore.loadInto(lib, catalog)
    val sample = spark.read.schema(docSchema).json(in.resolve("warm/snapshot.json").toString)
    catalog.registerValidated(LambdaMapFunction("tag_company",
      StructType(Seq(StructField("key", StringType))), tagCompany,
      "tag@company per tag"), sample)
      .left.foreach(e => throw new IllegalStateException(e))
  }

  /** Every timed path once, on the small input. */
  def warmUp(spark: SparkSession, dir: Path): Unit = {
    val sample = spark.read.schema(docSchema).json(in.resolve("warm/snapshot.json").toString)
    IndexBuilder.build(sample, exprIdx, catalog).write.parquet(dir.resolve("b1").toString)
    IndexBuilder.build(sample, lambdaIdx, catalog).write.parquet(dir.resolve("b2").toString)
    val defs = Seq(whereIdx, tagsIdx, primaryIdx).map(d => d -> dir.resolve(d.name).toString)
    defs.foreach { case (d, p) => StreamingIndex.backfill(sample, d, p, IndexParts) }
    val q = StreamingIndex.maintainAll(
      spark.readStream.schema(changeSchema).json(in.resolve("warm/changes").toString),
      defs, dir.resolve("ckpt").toString, Trigger.AvailableNow(), IndexParts)
    q.awaitTermination()
    val idx = StreamingIndex.currentIndex(spark, defs.head._2, whereIdx)
    IndexScan.point(idx, 30).collect()
    IndexScan.range(idx, Some(30), Some(33)).collect()
  }

  def run(ctx: RunCtx): Outcome = {
    val (spark, ledger, watch) = (ctx.spark, ctx.ledger, ctx.watch)
    val out = work.resolve("run")
    val snap = snapshot(seed, NDocs)
    val snapshotDf = spark.read.schema(docSchema).json(in.resolve("snapshot").toString)
    val checks = Seq.newBuilder[(String, Boolean)]
    val t0 = ledger.nowMs

    // build phases: both built indexes, then the three maintained ones;
    // the first phase's maintained indexes are the ones the stream keeps
    def buildPhase(dir: Path): Double = {
      val b0 = System.nanoTime()
      ledger.span("IndexBuilder.build_expr") {
        IndexBuilder.build(snapshotDf, exprIdx, catalog).write.parquet(dir.resolve("build_expr").toString)
      }
      ledger.span("IndexBuilder.build_lambda") {
        IndexBuilder.build(snapshotDf, lambdaIdx, catalog).write.parquet(dir.resolve("build_lambda").toString)
      }
      Seq(whereIdx, tagsIdx, primaryIdx).foreach { d =>
        ledger.span("StreamingIndex.backfill") {
          StreamingIndex.backfill(snapshotDf, d, dir.resolve(d.name).toString, IndexParts)
        }
      }
      (System.nanoTime() - b0) / 1e9
    }
    val buildRepsS = (0 until BuildReps).map(i =>
      buildPhase(if (i == 0) out else out.resolve(s"rebuild-$i")))
    val buildS = buildRepsS.min
    val maintained = Seq(whereIdx, tagsIdx, primaryIdx)
      .map(d => d -> out.resolve(d.name).toString)

    // open-loop phase: the feed lands files on schedule, the reader scans
    val live = out.resolve("feed")
    Files.createDirectories(live)
    val ckpt = out.resolve("ckpt")
    val q = StreamingIndex.maintainAll(
      spark.readStream.schema(changeSchema).json(live.toString),
      maintained, ckpt.toString, Trigger.ProcessingTime(0L), IndexParts)
    ledger.stream(q.id.toString, "StreamingIndex.batch")
    val dueMs = new Array[Double](nFiles)
    val landMs = new Array[Double](nFiles)
    val parts = new PartsPoller(maintained.map(_._2), ledger.enabled)
    parts.start()
    // the first file primes the new query, whose first micro-batch plans
    // and compiles; the feed proper starts once it has committed
    dueMs(0) = ledger.nowMs
    Gen.land(staged(0), live)
    landMs(0) = ledger.nowMs
    q.processAllAvailable()
    val feedStart = ledger.nowMs + 200
    val feeder = new Thread(() => {
      (1 until openFiles).foreach { i =>
        dueMs(i) = feedStart + (i - 1) * 1000.0 / FilesPerS
        val wait = dueMs(i) - ledger.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Gen.land(staged(i), live)
        landMs(i) = ledger.nowMs
      }
    }, "perfbench-feed")
    feeder.start()
    val scanMs = Seq.newBuilder[Double]
    var scans, badScans = 0L
    var rowsOut = 0L
    val r = Gen.rng(seed, "im.reader")
    while (feeder.isAlive) {
      val kind = (scans % 3).toInt
      val s0 = System.nanoTime()
      val ok = try {
        val (defn, dir) = if (kind == 2) maintained(1) else maintained(0)
        ledger.span(if (kind == 1) "scan.range" else "scan.point", scans) {
          val idx = ledger.span("StreamingIndex.currentIndex", scans) {
            StreamingIndex.currentIndex(spark, dir, defn)
          }
          kind match {
            case 0 =>
              val age = 18 + r.nextInt(63)
              val rows = ledger.span("IndexScan.point", scans) { IndexScan.point(idx, age).collect() }
              rowsOut += rows.length
              rows.forall(_.getAs[Int]("key") == age)
            case 1 =>
              val lo = 18 + r.nextInt(60)
              val rows = ledger.span("IndexScan.range", scans) {
                IndexScan.range(idx, Some(lo), Some(lo + 3)).collect()
              }
              rowsOut += rows.length
              rows.forall { row => val k = row.getAs[Int]("key"); k >= lo && k < lo + 3 }
            case _ =>
              val tag = Tags(r.nextInt(Tags.length))
              val rows = ledger.span("IndexScan.point", scans) { IndexScan.point(idx, tag).collect() }
              rowsOut += rows.length
              rows.forall(_.getAs[String]("key") == tag)
          }
        }
      } catch { case e: Exception =>
        System.err.println(s"[index_maintain] scan $scans failed: $e"); false
      }
      scanMs += (System.nanoTime() - s0) / 1e6
      scans += 1
      if (!ok) badScans += 1
    }
    feeder.join()
    q.processAllAvailable()

    // burst phase: fixed backlogs land at once on the idle stream and drain
    val drainS = (0 until Bursts).map { b =>
      val d0 = System.nanoTime()
      (openFiles + b * BurstFiles until openFiles + (b + 1) * BurstFiles).foreach { i =>
        dueMs(i) = ledger.nowMs
        Gen.land(staged(i), live)
        landMs(i) = ledger.nowMs
      }
      q.processAllAvailable()
      (System.nanoTime() - d0) / 1e9
    }
    q.stop()
    parts.stop()
    val t1 = ledger.nowMs

    // checks: incremental maintenance ≡ rebuild from the replayed log
    val landed = mutations(seed, snap, nFiles * PerFile, 1L)
    val finalDocs = replay(snap, landed).values
    def check(name: String, want: Seq[String], got: Seq[String]): Unit = {
      val problem = entryProblems(want, got)
      problem.foreach(p => System.err.println(s"[index_maintain] $name: $p"))
      checks += name -> problem.isEmpty
    }
    check("build_expr", expected(exprIdx, snap),
      render(spark.read.parquet(out.resolve("build_expr").toString)
        .select("key1", "key2", "docid")))
    check("build_lambda", expected(lambdaIdx, snap),
      render(spark.read.parquet(out.resolve("build_lambda").toString)
        .select("key", "docid")))
    maintained.foreach { case (d, dir) =>
      val cols = if (d.isPrimary) Seq("docid") else Seq("key", "docid")
      check(s"maintained_${d.name}", expected(d, finalDocs),
        render(StreamingIndex.currentIndex(spark, dir, d).select(cols.map(org.apache.spark.sql.functions.col): _*)))
    }
    // space (traced runs): maintained store vs a fresh backfill of the
    // final snapshot
    val spaceAmp = if (!ledger.enabled) 0.0 else {
      val finalDf = spark.createDataFrame(
        finalDocs.toSeq.sortBy(_.docid).map(d => Row(d.docid, d.age.map(Int.box).orNull,
          d.company.orNull, d.status, d.tags)).asJava, docSchema)
      val freshBytes = maintained.map { case (d, _) =>
        val p = out.resolve("fresh").resolve(d.name)
        StreamingIndex.backfill(finalDf, d, p.toString, IndexParts)
        Gen.duBytes(p)
      }.sum
      maintained.map { case (_, p) => Gen.duBytes(java.nio.file.Paths.get(p)) }.sum.toDouble / freshBytes
    }

    // freshness: due time → end of the micro-batch that committed the file
    val fileBatch = FileSourceLog.batchOfFiles(ckpt.resolve("sources/0"))
    val batches = watch.of(q.id.toString).map(b => b.batchId -> b).toMap
    val fresh = Seq.newBuilder[Double]
    val queueWait = Seq.newBuilder[Double]
    var uncommitted = 0
    (1 until openFiles).foreach { i =>
      fileBatch.get(staged(i).getFileName.toString).flatMap(batches.get) match {
        case Some(b) =>
          fresh += b.endMs - dueMs(i)
          queueWait += math.max(0.0, b.startMs - landMs(i))
        case None => uncommitted += 1
      }
    }
    if (!fileBatch.contains(staged(0).getFileName.toString)) uncommitted += 1
    val burstLost = (openFiles until nFiles)
      .count(i => !fileBatch.contains(staged(i).getFileName.toString))
    val freshMs = fresh.result()
    val scanLat = scanMs.result()
    val feedBytes = (0 until nFiles).map(i => Files.size(live.resolve(staged(i).getFileName))).sum
    val batchSpans = ledger.allSpans(Some(watch)).filter(_.name == "StreamingIndex.batch")
    val scanRowsRead = ledger.inputRows("IndexScan.point") + ledger.inputRows("IndexScan.range")

    val cs = checks.result()
    val buildDocsPerS = NDocs / buildS
    val mutPerS = BurstFiles * PerFile / drainS.min
    Outcome(
      endToEnd = Map(
        "bulk_docs_per_s" -> buildDocsPerS,
        "update_per_s" -> mutPerS,
        "op_ms_p50" -> Stats.median(scanLat),
        "lag_ms_p50" -> Stats.median(freshMs)),
      named = Map(
        "build_docs_per_s" -> buildDocsPerS,
        "maint_mutations_per_s" -> mutPerS,
        "scan_ms_p50" -> Stats.median(scanLat),
        "freshness_ms_p50" -> Stats.median(freshMs),
        "micro_batches" -> batches.size.toDouble) ++
        (if (ledger.enabled) Map("index_space_amp" -> spaceAmp) else Map.empty) ++
        Stats.p90Named("scan_ms", scanLat) ++ Stats.p90Named("freshness_ms", freshMs),
      samples = Map("scan_ms" -> scanLat, "freshness_ms" -> freshMs,
        "build_s" -> buildRepsS, "drain_s" -> drainS),
      attempted = scans + nFiles + cs.length,
      failed = badScans + uncommitted + burstLost + cs.count(!_._2),
      layer = Map(
        "StreamingIndex.batch.queue_wait_ms" ->
          (if (queueWait.result().isEmpty) 0.0 else Stats.median(queueWait.result())),
        "StreamingIndex.batch.parts_rewritten" -> parts.meanParts,
        "StreamingIndex.batch.write_amp" -> ledger.outputBytes(batchSpans).toDouble / feedBytes,
        "feed.late_ms_max" -> (1 until openFiles).map(i => landMs(i) - dueMs(i)).max,
        "IndexScan.rows_read_per_row" -> scanRowsRead.toDouble / math.max(1L, rowsOut),
        "index.space_amp" -> spaceAmp),
      timedFromMs = t0, timedToMs = t1, checks = cs)
  }
}

/** Reads which input files each micro-batch of a file-source stream
  * consumed, from the stream's own checkpoint (`sources/0`): one JSON
  * entry per file with its `path` and `batchId`, in per-batch files and
  * periodic `.compact` files.
  */
object FileSourceLog {
  private val Entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored

  def batchOfFiles(dir: Path): Map[String, Long] = {
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
        .collect { case Entry(path, b) =>
          path.substring(path.lastIndexOf('/') + 1) -> b.toLong }
        .toMap
      finally s.close()
    }
  }
}

/** In traced runs, polls each maintained index for newly committed
  * versions and records how many partitions each rewrote (its `_parts`
  * manifest), before the inline GC can remove it.
  */
final class PartsPoller(dirs: Seq[String], enabled: Boolean) {
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) { poll(); Thread.sleep(100) }
    poll()
  }, "perfbench-parts")

  private def poll(): Unit = dirs.foreach { d =>
    val s = try Files.list(java.nio.file.Paths.get(d)) catch { case _: Exception => null }
    if (s != null) try s.iterator.asScala
      .filter(p => p.getFileName.toString.startsWith("v=") &&
        !p.getFileName.toString.startsWith("v=-"))
      .foreach { v =>
        val key = v.toString
        val m = v.resolve("_parts")
        if (!seen.containsKey(key) && Files.exists(m)) {
          try seen.put(key, Files.readAllLines(m).asScala.count(_.nonEmpty))
          catch { case _: Exception => () }
        }
      } finally s.close()
  }

  def start(): Unit = if (enabled) thread.start()
  def stop(): Unit = if (enabled) { running = false; thread.join() }
  def meanParts: Double =
    if (seen.isEmpty) 0.0 else seen.values.asScala.map(_.toDouble).sum / seen.size
}
