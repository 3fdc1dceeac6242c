package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{AnnIndex, Dedup, LinkGraph, Retrieval}
import graft.streaming.{EpochStore, StreamingDedup}

/** The store lifecycle every batch-directory store shares
  * ([[graft.functions.VersionedSlots]]): the batch-id namespace of the
  * six append APIs and the six stream maintainers, the construction-time
  * pin, and committed-batch reads without a schema-inference job
  * ([[graft.plans.StoreReads]]).
  */
class StoreLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def tmp = Files.createTempDirectory("graft_lifecycle").toString

  private def emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
    (2L, "totally different corpus content here with its own words"))

  private def docs = corpus.toDF("doc_id", "text")

  /** One stream maintainer: `seed` makes its store, `maintain` builds the
    * writer over a (doc_id, text) or (vec_id, embedding) stream, `supersede`
    * publishes a newer version or epoch, and `committed(dir, newest)` lists
    * the committed batches of the first or the newest one.
    */
  private case class Maintainer(
      name: String, vectors: Boolean,
      seed: String => Unit,
      maintain: (DataFrame, String, Long) => DataStreamWriter[Row],
      supersede: String => Unit,
      committed: (String, Boolean) => Seq[Long])

  private def annCommitted(dir: String, newest: Boolean): Seq[Long] = {
    val vs = AnnIndex.versions(dir)
    AnnIndex.committedBatches(dir, if (newest) vs.last else vs.head)
  }

  private def epochCommitted(table: String)(dir: String,
                                            newest: Boolean): Seq[Long] = {
    val es = EpochStore.epochs(dir)
    EpochStore.committedBatches(
      EpochStore.Ref(dir, if (newest) es.last else es.head), table)
  }

  private def annSeed(dir: String): Unit =
    AnnIndex.build(emb, dir, nCentroids = 4)

  private def nearDupSeed(dir: String): Unit = {
    val (sets, buckets) = Dedup.minhashStoreTables(docs)
    StreamingDedup.seedNearDupStore(dir, sets, Dedup.guardBuckets(buckets, 64))
  }

  private val maintainers = Seq(
    Maintainer("AnnIndex.maintainStream", vectors = true, annSeed,
      (s, dir, base) => AnnIndex.maintainStream(s, dir, -1, batchIdBase = base),
      annSeed, annCommitted),
    Maintainer("AnnIndex.maintainChangeStream", vectors = true, annSeed,
      (s, dir, base) => AnnIndex.maintainChangeStream(
        s.withColumn("opcode", lit("MUTATION")).withColumn("seqno", col("vec_id")),
        dir, -1, batchIdBase = base),
      annSeed, annCommitted),
    Maintainer("Retrieval.maintainBm25Stream", vectors = false,
      dir => Retrieval.buildBm25Index(docs, dir),
      (s, dir, base) => Retrieval.maintainBm25Stream(s, dir, -1,
        batchIdBase = base),
      dir => Retrieval.buildBm25Index(docs, dir),
      (dir, newest) => {
        val vs = Retrieval.versionsOf(dir)
        Retrieval.committedBatches(dir, if (newest) vs.last else vs.head)
      }),
    Maintainer("StreamingDedup.nearDupIngestStore", vectors = false,
      nearDupSeed,
      (s, dir, base) => StreamingDedup.nearDupIngestStore(spark, dir, s,
        batchIdBase = base),
      dir => StreamingDedup.compactNearDupStore(spark, dir),
      epochCommitted("sigs")),
    Maintainer("StreamingDedup.spanIngestStore", vectors = false,
      dir => StreamingDedup.seedSpanStore(dir, Dedup.spanStoreSigs(docs, k = 8)),
      (s, dir, base) => StreamingDedup.spanIngestStore(spark, dir, s,
        batchIdBase = base),
      dir => StreamingDedup.rotateSpanStore(spark, dir),
      epochCommitted("spansigs")),
    Maintainer("StreamingDedup.semanticIngestStore", vectors = true, annSeed,
      (s, dir, base) => StreamingDedup.semanticIngestStore(spark, dir, s, emb,
        (verdicts: DataFrame, _: Long) => verdicts.collect(), threshold = 0.9,
        batchIdBase = base),
      annSeed, annCommitted))

  test("batch 0 is the base batch: every append API rejects it before " +
      "writing") {
    val dir = tmp
    val vecs = emb.limit(1)
    val ids = Seq(1L).toDF("vec_id")
    val appends: Seq[(String, () => Unit)] = Seq(
      "AnnIndex.ingest" -> (() => AnnIndex.ingest(vecs, dir, 0L)),
      "AnnIndex.delete" -> (() => AnnIndex.delete(ids, dir, 0L)),
      "AnnIndex.applyMutations" -> (() => AnnIndex.applyMutations(
        vecs.withColumn("opcode", lit("MUTATION")), dir, 0L)),
      "Retrieval.ingestBm25" -> (() => Retrieval.ingestBm25(docs, dir, 0L)),
      "Retrieval.deleteBm25" -> (() =>
        Retrieval.deleteBm25(ids.toDF("doc_id"), dir, 0L)),
      "LinkGraph.ingest" -> (() => LinkGraph.ingest(
        Seq((1L, 2L)).toDF("src", "dst"), EpochStore.Ref(dir, 0), 0L)))
    for ((name, append) <- appends) {
      val e = intercept[IllegalArgumentException](append())
      assert(e.getMessage.contains("batchId must be >= 1"), name)
    }
    assert(Files.list(java.nio.file.Paths.get(dir)).count() == 0,
      "a rejected append wrote nothing")
  }

  test("batchIdBase 0 is rejected by every stream maintainer") {
    val docStream = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    val vecStream = MemoryStream[(Long, Seq[Float])].toDF()
      .toDF("vec_id", "embedding")
    for (m <- maintainers) {
      val e = intercept[IllegalArgumentException](
        m.maintain(if (m.vectors) vecStream else docStream, tmp, 0L))
      assert(e.getMessage.contains("batchIdBase must be >= 1"), m.name)
    }
  }

  for (m <- maintainers) test(s"${m.name}: micro-batch n lands at " +
      "b = batchIdBase + n of the version pinned at construction") {
    val dir = tmp
    m.seed(dir)
    val base = 5L
    val (feed, frame) =
      if (m.vectors) {
        val src = MemoryStream[(Long, Seq[Float])]
        val rows = emb.limit(4).select(col("vec_id"),
            col("embedding").cast("array<float>")).as[(Long, Seq[Float])]
          .collect().toSeq
        ((i: Int) => { src.addData(rows.slice(2 * i, 2 * i + 2)); () },
          src.toDF().toDF("vec_id", "embedding"))
      } else {
        val src = MemoryStream[(Long, String)]
        ((i: Int) => {
          src.addData((100L + i, s"${corpus.head._2} streamed $i")); ()
        }, src.toDF().toDF("doc_id", "text"))
      }
    val writer = m.maintain(frame, dir, base)
    m.supersede(dir) // a newer version or epoch after construction
    val q = writer.option("checkpointLocation", tmp).start()
    try {
      for (i <- 0 until 2) { feed(i); q.processAllAvailable() }
    } finally q.stop()
    assert(m.committed(dir, false) == Seq(0L, base, base + 1))
    assert(m.committed(dir, true) == Seq(0L), "the stream was retargeted")
  }

  test("a multi-batch bm25TopKFromIndex runs no schema-inference job") {
    val dir = tmp
    val v = Retrieval.buildBm25Index(docs, dir)
    Retrieval.ingestBm25(
      Seq((3L, "the quick brown fox again")).toDF("doc_id", "text"), dir, 1L, v)
    Retrieval.deleteBm25(Seq(2L).toDF("doc_id"), dir, 2L, v)
    val bm25Jobs = jobsOf("bm25")(Retrieval.bm25TopKFromIndex(spark, dir,
      Seq("quick", "fox"), k = 2).collect()).size
    info(s"bm25TopKFromIndex over 3 batches: $bm25Jobs jobs")
    // 13 while the postings and doc-stats reads each inferred their
    // schema in a job of their own
    assert(bm25Jobs <= 11, s"bm25TopKFromIndex ran $bm25Jobs jobs")
  }

  test("deleteBm25 commits in one Spark job, and every BM25 read serves a " +
      "store holding its file-less postings batch") {
    val dir = tmp
    val v = Retrieval.buildBm25Index(docs, dir)
    Retrieval.ingestBm25(
      Seq((3L, "the quick brown fox again")).toDF("doc_id", "text"), dir, 1L, v)
    val deleteJobs = jobsOf("delete")(
      Retrieval.deleteBm25(Seq(1L).toDF("doc_id"), dir, 2L, v)).size
    info(s"deleteBm25: $deleteJobs jobs")
    // 3 while the empty postings batch went through IndexStore.write and
    // its schema plant
    assert(deleteJobs <= 1, s"deleteBm25 ran $deleteJobs jobs")
    val postings = s"$dir/v$v/postings"
    assert(new java.io.File(s"$postings/b=2").list().toSeq
      .filterNot(_.startsWith(".")) == Seq("_SUCCESS")) // .crc aside
    assert(Retrieval.committedBatches(dir, v) == Seq(0L, 1L, 2L))
    // the file-less batch adds no footer candidate
    val footer = graft.plans.StoreReads.footerSchema(spark, _: Seq[String])
    assert(footer(Seq(s"$postings/b=2")).isEmpty)
    assert(footer(Seq(s"$postings/b=0", s"$postings/b=2")) ==
      footer(Seq(s"$postings/b=0")))
    assert(footer(Seq(s"$postings/b=0")).nonEmpty)

    // doc 1 is deleted: only doc 3 answers, phrase-matches, and counts
    val terms = Seq("quick", "fox")
    def top(version: Int) = Retrieval.bm25TopKFromIndex(spark, dir, terms,
      k = 3, version = version).collect().toSeq
    assert(top(v).map(_.getLong(0)) == Seq(3L))
    val batched = Retrieval.bm25TopKBatchFromIndex(spark, dir,
      Seq((7L, terms)).toDF("q_id", "terms"), k = 3, version = v)
      .drop("q_id").collect().toSeq
    assert(batched == top(v))
    assert(Retrieval.phraseMatches(spark, dir, Seq("quick", "brown"),
      version = v).collect().map(_.getLong(0)).toSeq == Seq(3L))
    val st = Retrieval.bm25Stats(spark, dir, version = v).head()
    assert(st.getLong(0) == 2L, st)
    assert(st.getLong(1) == 14L, st) // 9 + 5 tokens
    assert(st.getLong(3) == st.getLong(1), st)
    val folded = Retrieval.compactBm25(spark, dir, version = v)
    assert(top(folded) == top(v))
    assert(Retrieval.bm25Stats(spark, dir, version = folded).head() == st)
  }

  test("EpochStore.readAll over committed batches runs no schema-inference " +
      "job") {
    val root = tmp
    val ref = EpochStore.claimNext(root)
    EpochStore.writeBatch(Seq(1, 2).toDF("x"), ref, "t", 0L)
    EpochStore.commit(ref)
    EpochStore.writeBatch(Seq(3).toDF("x"), ref, "t", 1L)
    EpochStore.writeBatch(Seq(4).toDF("x"), ref, "t", 2L)
    val readJobs = jobsOf("epoch")(
      EpochStore.readAll(spark, ref, "t").collect()).size
    info(s"EpochStore.readAll over 3 batches: $readJobs jobs")
    // 2 before: the read inferred its schema in a job of its own
    assert(readJobs <= 1, s"EpochStore.readAll ran $readJobs jobs")
  }
}
