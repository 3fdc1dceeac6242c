package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.{ChangeEvent, IndexDef, Opcode}
import graft.operators.IndexMaintainer
import graft.streaming.StreamingIndex

/** M3 streaming maintenance (O17/O18/O19 via Structured Streaming):
  * foreachBatch merge over MemoryStream micro-batches, checkpoint restart,
  * and the stateful delta stream with docid→key back-index.
  */
class StreamingIndexSpec extends SparkSpec {
  import spark.implicits._

  private val defn = IndexDef("i", "ch", "docid",
    secExprs = Seq("value"), whereExpr = Some("value >= 0"))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def ev(op: String, docid: Long, v: java.lang.Double, seq: Long) =
    ChangeEvent(op, docid, Option(v).map(_.doubleValue), None, (docid % 4).toInt, seq)

  test("foreachBatch maintenance over micro-batches == batch replay") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val indexDir = tmp("gidx"); val ckpt = tmp("gckpt")

    stream.addData(ev(Opcode.Mutation, 1L, 5.0, 1L), ev(Opcode.Mutation, 2L, 3.0, 2L))
    val q1 = StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt)
    q1.awaitTermination()

    stream.addData(ev(Opcode.Mutation, 1L, 9.0, 3L), ev(Opcode.Deletion, 2L, null, 4L))
    val q2 = StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt)
    q2.awaitTermination()

    val idx = StreamingIndex.currentIndex(spark, indexDir, defn)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(idx == Set((9.0, 1L)))
  }

  test("restart from checkpoint does not reprocess committed batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val indexDir = tmp("gidx2"); val ckpt = tmp("gckpt2")

    stream.addData(ev(Opcode.Mutation, 7L, 4.0, 1L))
    StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt).awaitTermination()
    // restart with NO new data: no new version should be committed
    val before = new java.io.File(indexDir).list().toSet
    StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt).awaitTermination()
    val after = new java.io.File(indexDir).list().toSet
    assert(before == after)
    val idx = StreamingIndex.currentIndex(spark, indexDir, defn)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(idx == Set((4.0, 7L)))
  }

  test("a batch rewrites only the partitions containing its docids") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val indexDir = tmp("gpart"); val ckpt = tmp("gpartck")

    // batch 0: many docids spread over several partitions
    stream.addData((1L to 16L).map(d => ev(Opcode.Mutation, d, d.toDouble, d)): _*)
    StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt).awaitTermination()
    val partsV0 = StreamingIndex.partsOf(indexDir, 0L).size
    assert(partsV0 > 1, "batch 0 should populate several partitions")

    // batch 1: ONE docid — only its partition may be rewritten
    stream.addData(ev(Opcode.Mutation, 1L, 99.0, 100L))
    StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt).awaitTermination()
    assert(StreamingIndex.partsOf(indexDir, 1L).size == 1,
      "a single-docid batch must rewrite exactly one partition")

    // reader merges per-partition versions: docid 1 from v=1, rest from v=0
    val idx = StreamingIndex.currentIndex(spark, indexDir, defn)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    val expected = (2L to 16L).map(d => (d.toDouble, d)).toSet + ((99.0, 1L))
    assert(idx == expected)
  }

  test("pruneShadowed deletes shadowed versions outside the retention margin") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val indexDir = tmp("gprune"); val ckpt = tmp("gpruneck")
    // six batches all touching the same docid → same partition
    (1 to 6).foreach { i =>
      stream.addData(ev(Opcode.Mutation, 1L, i * 2.0, i.toLong))
      StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt).awaitTermination()
    }
    // inline GC (retention 4): v=0 is outside every guard view → deleted;
    // v=1..v=5 survive so concurrent readers and the replay of the newest
    // (possibly uncommitted) batch keep their file sets
    val dirs = new java.io.File(indexDir).list().toSet
    assert(!dirs.contains("v=0"))
    (1 to 5).foreach(v => assert(dirs.contains(s"v=$v"), s"v=$v must survive"))
    assert(StreamingIndex.pruneShadowed(indexDir).isEmpty) // idempotent
    val idx = StreamingIndex.currentIndex(spark, indexDir, defn)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(idx == Set((12.0, 1L)))
    // the pre-newest state is still reconstructible (replay of batch 5)
    val replayView = StreamingIndex.readLatest(spark, indexDir, 5L, defn)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(replayView == Set((10.0, 1L)))
    // an aggressive manual prune with no reader margin still keeps replay
    assert(StreamingIndex.pruneShadowed(indexDir, retainGenerations = 1)
      .contains(1L))
  }

  test("deltaStream emits retraction + upsert on key change (batch mode)") {
    val changes = Seq(
      ev(Opcode.Mutation, 1L, 5.0, 1L),
      ev(Opcode.Mutation, 1L, 8.0, 2L),
      ev(Opcode.Mutation, 2L, -1.0, 3L), // filtered by whereMin
      ev(Opcode.Mutation, 3L, 2.0, 4L),
      ev(Opcode.Deletion, 3L, null, 5L)).toDS()
    val deltas = StreamingIndex.deltaStream(spark, changes, whereMin = Some(0.0))
      .collect().toSeq
    val net = deltas.groupBy(d => (d.docid, d.key))
      .view.mapValues(_.map(_.op).sum).filter(_._2 != 0).keys.toSet
    assert(net == Set((1L, 8.0))) // 5.0 retracted, 8.0 stands; doc3 net zero
    // ordering within docid 1: +5, -5, +8
    val d1 = deltas.filter(_.docid == 1L).map(d => (d.op, d.key))
    assert(d1 == Seq((1, 5.0), (-1, 5.0), (1, 8.0)))
  }

  test("deltaStream over MemoryStream micro-batches keeps state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val q = StreamingIndex.deltaStream(spark, stream.toDS(), whereMin = Some(0.0))
      .writeStream.format("memory").queryName("deltas_out")
      .outputMode("append").start()
    stream.addData(ev(Opcode.Mutation, 1L, 5.0, 1L))
    q.processAllAvailable()
    stream.addData(ev(Opcode.Mutation, 1L, 8.0, 2L)) // later batch: key change
    q.processAllAvailable()
    stream.addData(ev(Opcode.Deletion, 1L, null, 3L))
    q.processAllAvailable()
    q.stop()
    val deltas = spark.table("deltas_out")
      .as[StreamingIndex.IndexDelta].collect().toSeq
    // state (docid -> last key) must survive across micro-batches:
    // +5 | -5 +8 | -8
    assert(deltas.map(d => (d.op, d.key)) ==
      Seq((1, 5.0), (-1, 5.0), (1, 8.0), (-1, 8.0)))
  }

  test("deltaStreamKeyed: composite-key delta replay == rebuild from final state") {
    val events = Seq(
      ev(Opcode.Mutation, 1L, 5.0, 1L), ev(Opcode.Mutation, 2L, 6.0, 2L),
      ev(Opcode.Mutation, 1L, 7.0, 3L), ev(Opcode.Deletion, 2L, null, 4L),
      ev(Opcode.Mutation, 3L, -2.0, 5L), ev(Opcode.Mutation, 4L, 8.0, 6L),
      ev(Opcode.Mutation, 4L, -1.0, 7L)) // WHERE-set exit
    val emit: ChangeEvent => Seq[Seq[Any]] = e =>
      e.value.filter(_ >= 0).map(v => Seq[Any](v, e.docid % 2)).toSeq
    val deltas = StreamingIndex.deltaStreamKeyed(spark, events.toDS(), emit).collect()
    val applied = deltas.groupBy(d => (d.docid, d.key.toSeq))
      .view.mapValues(_.map(_.op).sum).filter(_._2 > 0).keys.toSet

    // rebuild: final doc state → composite-key batch build, keys encoded
    // with the same collation codec
    val finalState = IndexMaintainer.latestPerDocid(events.toDF())
      .filter(col("opcode") === Opcode.Mutation)
    val defnC = IndexDef("c", "ch", "docid",
      secExprs = Seq("value", "docid % 2"), whereExpr = Some("value >= 0"))
    val built = graft.operators.IndexBuilder.build(finalState, defnC)
      .select(col("docid"), graft.functions.JsonCollation.collateKey(
        struct(col("key1"), col("key2"))).as("k"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(applied == built)
    // doc2 deleted, doc3 never passed WHERE, doc4 exited WHERE → only doc1
    assert(applied.map(_._1) == Set(1L))
  }

  test("deltaStreamKeyed: multi-emit keys retract and upsert independently") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    // two keys per doc: a constant one and a value-derived one
    val emit: ChangeEvent => Seq[Seq[Any]] = e =>
      e.value.toSeq.flatMap(v => Seq(Seq[Any]("doc:" + e.docid), Seq[Any](v)))
    val q = StreamingIndex.deltaStreamKeyed(spark, stream.toDS(), emit)
      .writeStream.format("memory").queryName("keyed_out")
      .outputMode("append").start()
    stream.addData(ev(Opcode.Mutation, 1L, 5.0, 1L))
    q.processAllAvailable()
    stream.addData(ev(Opcode.Mutation, 1L, 8.0, 2L)) // value key changes only
    q.processAllAvailable()
    stream.addData(ev(Opcode.Deletion, 1L, null, 3L)) // both keys retract
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val deltas = spark.table("keyed_out").as[StreamingIndex.KeyedDelta]
      .collect().toSeq
    def enc(v: Any) = graft.functions.JsonCollation
      .encode(org.apache.spark.sql.Row(v)).toSeq
    // batch 1: +doc:1 +5.0 | batch 2: -5.0 +8.0 (constant key untouched) |
    // batch 3: -doc:1 -8.0
    val got = deltas.map(d => (d.op, d.key.toSeq))
    assert(got.toSet == Set((1, enc("doc:1")), (1, enc(5.0)), (-1, enc(5.0)),
      (1, enc(8.0)), (-1, enc(8.0)), (-1, enc("doc:1"))))
    assert(got.count(_ == ((1, enc("doc:1")))) == 1,
      "the unchanged multi-emit key must not be re-emitted on value change")
    // net state after all batches is empty
    assert(deltas.groupBy(_.key.toSeq).forall(_._2.map(_.op).sum == 0))
  }

  test("watermarked windowed aggregation drops state for closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Double)]
    val df = stream.toDF().toDF("ts", "event_type", "value")
    val q = graft.streaming.EventWindows
      .tumblingStream(df, "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    val h = 3600L * 1000000000L // one hour in nanos
    stream.addData((1 * h, "click", 1.0), (1 * h + h / 2, "click", 2.0))
    q.processAllAvailable()
    // advance watermark far past hour-1's window end => hour-1 emits
    stream.addData((4 * h, "click", 9.0))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .select("w_start", "n", "sum_value")
      .as[(String, Long, Double)].collect().toSeq
    assert(rows == Seq(("1970-01-01 01:00:00", 2L, 3.0)))
    // a row far behind the watermark is dropped, not re-opened
    stream.addData((1 * h + 1, "click", 100.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("win_out").count() == 1)
  }

  test("maintainAll: one stream pass maintains several indexes (topic map)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val dirAll = tmp("gall"); val ckpt = tmp("gallck")
    val defnNeg = defn.copy(name = "neg", whereExpr = Some("value < 0"))
    val defns = Seq(defn -> s"$dirAll/pos", defnNeg -> s"$dirAll/neg")

    stream.addData(
      ev(Opcode.Mutation, 1L, 5.0, 1L), ev(Opcode.Mutation, 2L, -3.0, 2L),
      ev(Opcode.Mutation, 3L, 7.0, 3L))
    StreamingIndex.maintainAll(stream.toDF(), defns, ckpt).awaitTermination()
    stream.addData(ev(Opcode.Deletion, 3L, null, 4L),
      ev(Opcode.Mutation, 2L, -9.0, 5L))
    StreamingIndex.maintainAll(stream.toDF(), defns, ckpt).awaitTermination()

    def state(dir: String, d: graft.model.IndexDef) =
      StreamingIndex.currentIndex(spark, dir, d)
        .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(state(s"$dirAll/pos", defn) == Set((5.0, 1L)))
    assert(state(s"$dirAll/neg", defnNeg) == Set((-9.0, 2L)))
  }

  test("a version without its manifest reads as uncommitted") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val indexDir = tmp("gcommit"); val ckpt = tmp("gcommitck")
    stream.addData(ev(Opcode.Mutation, 1L, 5.0, 1L))
    StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt).awaitTermination()
    stream.addData(ev(Opcode.Mutation, 1L, 9.0, 2L))
    StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt).awaitTermination()

    // simulate a crash between v=1's parquet job and its manifest publish:
    // the version must become invisible, exposing the pre-batch state
    Files.delete(java.nio.file.Paths.get(s"$indexDir/v=1/_parts"))
    val idx = StreamingIndex.currentIndex(spark, indexDir, defn)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(idx == Set((5.0, 1L)),
      "an unpublished version must not be readable")
  }

  test("LSH bucket index (array key over embeddings) maintained == rebuild") {
    implicit val sqlCtx = spark.sqlContext
    GraftExtensions.register(spark)
    val indexDir = tmp("gannb"); val ckpt = tmp("gannbck")
    val defnB = IndexDef("annb", "emb", "docid",
      secExprs = Seq("transform(lsh_buckets(embedding, 4, 2, 3), (b, i) -> i * 8 + b)"),
      isArrayIndex = true)
    def vec(seed: Int) = Seq.tabulate(4)(i => (seed * 31 + i * 7 % 13).toDouble - 6)

    val stream = MemoryStream[(String, Long, Long, Seq[Double])]
    def df(s: org.apache.spark.sql.DataFrame) =
      s.toDF("opcode", "docid", "seqno", "embedding")
    val batch1 = Seq((Opcode.Mutation, 1L, 1L, vec(1)), (Opcode.Mutation, 2L, 2L, vec(2)))
    val batch2 = Seq((Opcode.Mutation, 1L, 3L, vec(9)), (Opcode.Deletion, 2L, 4L, vec(0)))
    stream.addData(batch1: _*)
    StreamingIndex.maintain(df(stream.toDF()), defnB, indexDir, ckpt).awaitTermination()
    stream.addData(batch2: _*)
    StreamingIndex.maintain(df(stream.toDF()), defnB, indexDir, ckpt).awaitTermination()

    val maintained = StreamingIndex.currentIndex(spark, indexDir, defnB)
      .select("key", "docid").as[(Long, Long)].collect().toSet
    // rebuild from the final state: only docid 1 with its updated vector
    val finalState = Seq((1L, vec(9))).toDF("docid", "embedding")
    val rebuilt = graft.operators.IndexBuilder.build(
        finalState, defnB.copy(docidExpr = "docid"))
      .select("key", "docid").as[(Long, Long)].collect().toSet
    assert(maintained == rebuilt)
    assert(maintained.size == 2) // one bucket entry per table
    assert(maintained.forall(_._2 == 1L))
  }

  test("maintainAll: one broken index fails the batch, the good index still wrote") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val dirAll = tmp("gfail"); val ckpt = tmp("gfailck")
    val broken = defn.copy(name = "broken", secExprs = Seq("no_such_column"))
    stream.addData(ev(Opcode.Mutation, 1L, 5.0, 1L))
    val q = StreamingIndex.maintainAll(stream.toDF(),
      Seq(defn -> s"$dirAll/good", broken -> s"$dirAll/broken"), ckpt)
    val err = intercept[Exception](q.awaitTermination())
    // the batch must FAIL overall (the checkpoint must not commit a batch
    // an index lost), but the good index's write went through and a retry
    // is idempotent for it
    assert(err.getMessage != null)
    val good = StreamingIndex.currentIndex(spark, s"$dirAll/good", defn)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(good == Set((5.0, 1L)))
    val brokenDir = new java.io.File(s"$dirAll/broken")
    // the _LAYOUT sidecar is pinned at construction; what must NOT
    // exist is a committed version directory
    assert(!brokenDir.exists() ||
      !brokenDir.list().exists(_.startsWith("v=")),
      "the failing index must not have committed a version")
  }

  test("catchup: an index added mid-stream equals a from-scratch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val dirA = tmp("gcatA"); val dirB = tmp("gcatB"); val ckpt = tmp("gcatck")

    val batch1 = Seq(
      ev(Opcode.Mutation, 1L, 5.0, 1L), ev(Opcode.Mutation, 2L, 3.0, 2L),
      ev(Opcode.Mutation, 3L, -1.0, 3L))
    stream.addData(batch1: _*)
    StreamingIndex.maintainAll(stream.toDF(), Seq(defn -> dirA), ckpt)
      .awaitTermination()

    // register B against the RUNNING topic: backfill from the current doc
    // state (covers seqno <= 3), then join the stream past that watermark
    val defnB = defn.copy(name = "B", whereExpr = None)
    val snapshot = IndexMaintainer.latestPerDocid(batch1.toDF())
      .filter(col("opcode") === Opcode.Mutation)
    StreamingIndex.backfill(snapshot, defnB, dirB)

    val batch2 = Seq(
      ev(Opcode.Mutation, 1L, 9.0, 4L), ev(Opcode.Deletion, 2L, null, 5L),
      ev(Opcode.Mutation, 4L, 7.0, 6L))
    stream.addData(batch2: _*)
    StreamingIndex.maintainAllFrom(stream.toDF(),
      Seq((defn, dirA, Long.MinValue), (defnB, dirB, 3L)), ckpt)
      .awaitTermination()

    def state(dir: String, d: IndexDef) =
      StreamingIndex.currentIndex(spark, dir, d)
        .select("key", "docid").as[(Double, Long)].collect().toSet
    val emptyIdx = spark.range(0)
      .select(col("id").cast("double").as("key"), col("id").as("docid"))
    val rebuilt = IndexMaintainer.merge(emptyIdx, (batch1 ++ batch2).toDF(), defnB)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(state(dirB, defnB) == rebuilt)
    assert(state(dirB, defnB) == Set((9.0, 1L), (-1.0, 3L), (7.0, 4L)))
    // the long-running index was maintained normally alongside
    assert(state(dirA, defn) == Set((9.0, 1L), (7.0, 4L)))
  }

  test("streaming session_window with watermark emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Double)]
    val df = stream.toDF().toDF("ts", "user_id", "value")
    val m = 60L * 1000000000L // one minute in nanos
    val sessions = df
      .select(graft.streaming.EventWindows.eventTime(col("ts")).as("et"),
        col("user_id"), col("value"))
      .withWatermark("et", "10 minutes")
      .groupBy(session_window(col("et"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // two events 5 min apart = one session; then jump far ahead to close it
    stream.addData((10 * m, 1L, 1.0), (15 * m, 1L, 2.0))
    q.processAllAvailable()
    stream.addData((600 * m, 1L, 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 2L))) // the closed 2-event session emitted
  }

  test("streaming result equals IndexMaintainer batch merge on same events") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev(Opcode.Mutation, 1L, 5.0, 1L), ev(Opcode.Mutation, 2L, 6.0, 2L),
      ev(Opcode.Mutation, 1L, -2.0, 3L), ev(Opcode.Expiration, 2L, null, 4L),
      ev(Opcode.Mutation, 3L, 7.0, 5L))
    val stream = MemoryStream[ChangeEvent]
    val indexDir = tmp("gidx3"); val ckpt = tmp("gckpt3")
    events.grouped(2).foreach { g =>
      stream.addData(g: _*)
      StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt).awaitTermination()
    }
    val streamed = StreamingIndex.currentIndex(spark, indexDir, defn)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    val emptyIdx = spark.range(0)
      .select(col("id").cast("double").as("key"), col("id").as("docid"))
    val batched = IndexMaintainer.merge(emptyIdx, events.toDF(), defn)
      .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(streamed == batched)
    assert(streamed == Set((7.0, 3L)))
  }

  test("the partition count is a pinned LAYOUT property: a mismatched " +
      "maintainer errors instead of stranding stale entries") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir = tmp("glay"); val ckpt = tmp("glayck")
    val stream = MemoryStream[ChangeEvent]
    stream.addData(ev(Opcode.Mutation, 1L, 5.0, 1L))
    StreamingIndex.maintain(stream.toDF(), defn, indexDir, ckpt,
      nPartitions = 32).awaitTermination()
    val e = intercept[IllegalArgumentException] {
      StreamingIndex.maintain(stream.toDF(), defn, indexDir, tmp("ck2"),
        nPartitions = 64)
    }
    assert(e.getMessage.contains("laid out with nPartitions=32"))
    intercept[IllegalArgumentException] {
      StreamingIndex.backfill(spark.range(1)
        .selectExpr("id as docid", "5.0 as value"), defn, indexDir,
        nPartitions = 64)
    }
  }

  test("deltaStreamKeyed: a THROWING emit skips its event (keys " +
      "unchanged) instead of permanently wedging the query") {
    val events = Seq(
      ev(Opcode.Mutation, 1L, 5.0, 1L),
      ev(Opcode.Mutation, 2L, 6.0, 2L), // poison: emit throws for doc 2
      ev(Opcode.Mutation, 3L, 7.0, 3L))
    val emit: ChangeEvent => Seq[Seq[Any]] = e =>
      if (e.docid == 2L) throw new RuntimeException("malformed payload")
      else e.value.map(v => Seq[Any](v)).toSeq
    val deltas = StreamingIndex.deltaStreamKeyed(spark, events.toDS(), emit)
      .collect()
    assert(deltas.map(_.docid).toSet == Set(1L, 3L),
      "the poisoned doc must be skipped, the rest indexed")
    assert(deltas.forall(_.op == 1))
  }

  test("maintainAllFrom: indexes on different seqno floors each equal a " +
      "from-scratch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChangeEvent]
    val root = tmp("gfloor"); val ckpt = tmp("gfloorck")
    val defnB = defn.copy(name = "B", whereExpr = None)
    // primary + retain-deleted: deleted docids stay, so the opcode rewrite
    // runs on the collapsed batch the three indexes share
    val defnC = IndexDef("C", "ch", "docid", isPrimary = true,
      retainDeletedXattr = true)

    val batch1 = Seq(
      ev(Opcode.Mutation, 1L, 5.0, 1L), ev(Opcode.Mutation, 2L, 3.0, 2L),
      ev(Opcode.Mutation, 3L, -1.0, 3L))
    stream.addData(batch1: _*)
    StreamingIndex.maintainAll(stream.toDF(), Seq(defn -> s"$root/A"), ckpt)
      .awaitTermination()

    // batch 2 straddles C's floor (5): docid 1 has rows on both sides of
    // it, docid 4 only at or below it, docids 2, 3 and 5 only above it
    val batch2 = Seq(
      ev(Opcode.Mutation, 1L, 9.0, 4L), ev(Opcode.Mutation, 4L, 2.0, 5L),
      ev(Opcode.Deletion, 2L, null, 6L), ev(Opcode.Mutation, 1L, 8.0, 7L),
      ev(Opcode.Mutation, 5L, 6.0, 8L), ev(Opcode.Mutation, 3L, -4.0, 9L))
    val events = batch1 ++ batch2
    def stateAt(w: Long) =
      IndexMaintainer.latestPerDocid(events.filter(_.seqno <= w).toDF())
    // B joins after batch 1 (watermark 3), C in the middle of batch 2 (5)
    StreamingIndex.backfill(
      stateAt(3L).filter(col("opcode") === Opcode.Mutation), defnB, s"$root/B")
    StreamingIndex.backfill(stateAt(5L), defnC, s"$root/C")

    stream.addData(batch2: _*)
    StreamingIndex.maintainAllFrom(stream.toDF(),
      Seq((defn, s"$root/A", Long.MinValue), (defnB, s"$root/B", 3L),
        (defnC, s"$root/C", 5L)), ckpt).awaitTermination()

    def keyed(dir: String, d: IndexDef) =
      StreamingIndex.currentIndex(spark, dir, d)
        .select("key", "docid").as[(Double, Long)].collect().toSet
    val emptyKeyed = spark.range(0)
      .select(col("id").cast("double").as("key"), col("id").as("docid"))
    def rebuiltKeyed(d: IndexDef) =
      IndexMaintainer.merge(emptyKeyed, events.toDF(), d)
        .select("key", "docid").as[(Double, Long)].collect().toSet
    assert(keyed(s"$root/A", defn) == rebuiltKeyed(defn))
    assert(keyed(s"$root/A", defn) == Set((8.0, 1L), (2.0, 4L), (6.0, 5L)))
    assert(keyed(s"$root/B", defnB) == rebuiltKeyed(defnB))
    assert(keyed(s"$root/B", defnB) ==
      Set((8.0, 1L), (2.0, 4L), (6.0, 5L), (-4.0, 3L)))

    val primary = StreamingIndex.currentIndex(spark, s"$root/C", defnC)
      .select("docid").as[Long].collect().toSet
    val rebuiltPrimary = IndexMaintainer.merge(
        spark.range(0).select(col("id").as("docid")), events.toDF(), defnC)
      .select("docid").as[Long].collect().toSet
    assert(primary == rebuiltPrimary)
    assert(primary == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("a store backfilled with a key type unlike the feed's reads and " +
      "merges as with Spark's inferred schema") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("gktype"); val ckpt = tmp("gktypeck")
    val n = 2
    val partOf = spark.range(1, 20)
      .select(col("id"), pmod(hash(col("id")), lit(n)))
      .as[(Long, Int)].collect().toMap
    val a = partOf.collect { case (d, 0) => d }.min
    val b = partOf.collect { case (d, 1) => d }.min
    // backfilled keys are INT; the feed's `value` payload is DOUBLE
    StreamingIndex.backfill(Seq((a, 5), (b, 3)).toDF("docid", "value"),
      defn, dir, nPartitions = n)

    val stream = MemoryStream[ChangeEvent]
    stream.addData(ev(Opcode.Mutation, a, 9.5, 1L))
    StreamingIndex.maintain(stream.toDF(), defn, dir, ckpt, nPartitions = n)
      .awaitTermination()
    // mixed store: part 1 still INT at v=-1, part 0 DOUBLE at v=0
    val mixed = Seq(s"$dir/v=-1/part=1", s"$dir/v=0/part=0")
    val inferredMixed = spark.read.parquet(mixed: _*).schema
    Seq(mixed, mixed.reverse).foreach { paths =>
      val footer = graft.plans.StoreReads.footerSchema(spark, paths)
      assert(footer.nonEmpty)
      assert(spark.read.schema(footer.get).parquet(paths: _*).schema ==
        inferredMixed)
    }

    stream.addData(ev(Opcode.Mutation, b, 4.5, 2L))
    StreamingIndex.maintain(stream.toDF(), defn, dir, ckpt, nPartitions = n)
      .awaitTermination()
    val latest = Seq(s"$dir/v=0/part=0", s"$dir/v=1/part=1")
    val inferred = spark.read.parquet(latest: _*)
    val current = StreamingIndex.currentIndex(spark, dir, defn)
    assert(current.schema == inferred.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "docid").as[(Double, Long)].collect().toSet
    assert(rows(current) == rows(inferred))
    assert(rows(current) == Set((9.5, a), (4.5, b)))
  }
}
