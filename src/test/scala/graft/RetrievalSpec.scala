package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators.Retrieval

/** Index-accelerated BM25: the postings probe must reproduce the
  * full-scan scorer's exact rows, read ONLY the probed key partitions
  * (static pruning), and push the key filter into the parquet scan.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def tmp = Files.createTempDirectory("graft_bm25").toString

  test("bm25TopKFromIndex == bm25TopK row-for-row on real documents") {
    val corpus = Tables.documents(spark, sf())
    val dir = tmp
    Retrieval.buildBm25Index(corpus, dir)
    val terms = Seq("scan", "merge", "window")
    val indexed = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 10)
      .orderBy("doc_id").collect()
    val full = TextOps.bm25TopK(corpus, terms, k = 10)
      .select("doc_id", "n_hit", "score_micro", "rk")
      .orderBy("doc_id").collect()
    assert(indexed.sameElements(full),
      "indexed probe must equal the full-scan scorer bit-for-bit")
    // versioned lifecycle: a rebuild with a different layout becomes
    // latest; the pinned version still answers with ITS marker's layout
    val v1 = Retrieval.latestVersion(dir).get
    val v2 = Retrieval.buildBm25Index(corpus, dir, nPartitions = 4)
    assert(Retrieval.versionsOf(dir) == Seq(v1, v2))
    val pinned = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 10,
      version = v1).orderBy("doc_id").collect()
    assert(pinned.sameElements(indexed), "pinned probe must not drift")
    val latest = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 10)
      .orderBy("doc_id").collect()
    assert(latest.sameElements(full), "layout must not change scores")
  }

  test("the probe scans only the probed key partitions, filter pushed") {
    val corpus = Tables.documents(spark, sf())
    val dir = tmp
    Retrieval.buildBm25Index(corpus, dir, nPartitions = 16)
    val terms = Seq("scan") // one term -> exactly one probed partition
    val out = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 5)
    out.collect()
    val postScans = physicalNodes(out).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dir))
        => s
    }
    val postingsScan = postScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("postings")))
    assert(postingsScan.nonEmpty, "expected a scan over the postings")
    postingsScan.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"postings scan must statically prune on part:\n$s")
      assert(s.selectedPartitions.partitionCount <= 1,
        s"one term routes to one of 16 partitions, read " +
          s"${s.selectedPartitions.partitionCount}")
      assert(s.dataFilters.exists(_.references.exists(_.name == "key")),
        s"key IN (...) must reach the scan:\n$s")
    }
  }

  test("maintained store: ingest upserts + tombstones resolve latest-" +
      "wins; probe == full scan of the end corpus; compact folds ≡") {
    val corpus = Tables.documents(spark, sf())
      .select("doc_id", "text")
    val dir = tmp
    // base: docs %10 != 7, with %5 == 0 rows carrying STALE text, plus
    // junk docs that will be tombstoned
    val stale = corpus.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" stalemarker"))).otherwise(col("text")))
    val junk = corpus.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" junkword")).as("text"))
    val v = Retrieval.buildBm25Index(stale.unionByName(junk), dir)
    // batch 1: the re-crawl — held-out docs plus TRUE text for the
    // stale ones (upserts); batch 2: junk tombstones
    Retrieval.ingestBm25(
      corpus.filter(col("doc_id") % 10 === 7 || col("doc_id") % 5 === 0),
      dir, batchId = 1L, version = v)
    Retrieval.deleteBm25(junk.select("doc_id"), dir, batchId = 2L,
      version = v)
    val terms = Seq("scan", "merge", "window")
    val probe = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 10,
      version = v).orderBy("doc_id").collect()
    val full = graft.functions.TextOps.bm25TopK(corpus, terms, k = 10)
      .select("doc_id", "n_hit", "score_micro", "rk")
      .orderBy("doc_id").collect()
    assert(probe.sameElements(full),
      "maintained probe must equal the full scan of the END corpus")
    assert(!probe.exists(_.getLong(0) >= 1000000L), "tombstoned doc answered")
    // compact folds shadowed postings and tombstones away; the folded
    // single-batch version answers bit-for-bit
    val nv = Retrieval.compactBm25(spark, dir, version = v)
    val compacted = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 10,
      version = nv).orderBy("doc_id").collect()
    assert(compacted.sameElements(probe), "compacted probe drifted")
    assert(Retrieval.committedBatches(dir, nv) == Seq(0L))
    // the junkword term is gone from the folded postings entirely
    assert(Retrieval.bm25TopKFromIndex(spark, dir, Seq("junkword"), k = 3,
      version = nv).count() == 0)
  }

  test("streaming maintenance ≡ one-shot ingest; layout is wire-visible " +
      "with its committed batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 3 =!= 0)
    val b1 = corpus.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
    val b2 = corpus.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 1)
    // streamed store: two micro-batches through maintainBm25Stream
    val dirS = tmp
    val vS = Retrieval.buildBm25Index(base, dirS)
    val src = MemoryStream[(Long, String)]
    // a checkpoint makes the second start RESUME (micro-batch ids
    // continue; without it a restart would replay ids from 0)
    val ckpt = Files.createTempDirectory("graft_bm25_ckpt").toString
    val q = Retrieval.maintainBm25Stream(
        src.toDF().selectExpr("_1 as doc_id", "_2 as text"), dirS, vS)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    src.addData(b1.as[(Long, String)].collect().toSeq)
    val h1 = q.start(); h1.awaitTermination()
    src.addData(b2.as[(Long, String)].collect().toSeq)
    val h2 = q.start(); h2.awaitTermination()
    // reference store: the same docs in one ingest
    val dirR = tmp
    val vR = Retrieval.buildBm25Index(base, dirR)
    Retrieval.ingestBm25(b1.unionByName(b2), dirR, batchId = 1L,
      version = vR)
    val terms = Seq("scan", "merge", "window")
    val streamed = Retrieval.bm25TopKFromIndex(spark, dirS, terms, k = 10,
      version = vS).orderBy("doc_id").collect()
    val oneShot = Retrieval.bm25TopKFromIndex(spark, dirR, terms, k = 10,
      version = vR).orderBy("doc_id").collect()
    assert(streamed.sameElements(oneShot), "streamed store drifted")
    // wire: layout facts carry the hash fan-out and the batch history
    GraftExtensions.register(spark)
    val row = spark.sql(
      s"SELECT s.* FROM (SELECT graft_bm25_layout('$dirS', $vS) AS s)").head()
    assert(row.getAs[Int]("version") == vS)
    assert(row.getAs[Int]("n_partitions") == 16)
    assert(row.getAs[Int]("n_batches") == 3)
    assert(row.getAs[scala.collection.Seq[Long]]("batches") == Seq(0L, 1L, 2L))
    assert(spark.sql(s"SELECT graft_bm25_layout('$dirS', 99)")
      .head().isNullAt(0))
  }

  test("phraseMatches: adjacency from positions, overlaps counted, " +
      "repeated-word phrases, stale batches never match") {
    val dir = tmp
    val base = Seq(
      (1L, "alpha beta alpha beta gamma"), // "alpha beta" twice
      (2L, "beta alpha"), // reversed: no match
      (3L, "alpha gamma beta"), // not adjacent: no match
      (4L, "go go go")) // overlapping repeated-word matches
      .toDF("doc_id", "text")
    val v = Retrieval.buildBm25Index(base, dir)
    def matches(p: Seq[String]) =
      Retrieval.phraseMatches(spark, dir, p, version = v)
        .as[(Long, Long)].collect().toMap
    assert(matches(Seq("alpha", "beta")) == Map(1L -> 2L))
    assert(matches(Seq("go", "go")) == Map(4L -> 2L)) // positions 0,1
    assert(matches(Seq("alpha", "beta", "gamma")) == Map(1L -> 1L))
    // an upsert replaces doc 1's text: the stale batch's positions must
    // never match even though its postings rows still sit on disk
    Retrieval.ingestBm25(Seq((1L, "delta epsilon")).toDF("doc_id", "text"),
      dir, batchId = 1L, version = v)
    assert(Retrieval.phraseMatches(spark, dir, Seq("alpha", "beta"),
      version = v).count() == 0)
    assert(Retrieval.phraseMatches(spark, dir, Seq("delta", "epsilon"),
      version = v).as[(Long, Long)].collect().toMap == Map(1L -> 1L))
  }

  test("bm25TopKBatchFromIndex: per-query results == the single-query " +
      "probe; duplicate terms in a query count once") {
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tmp
    val v = Retrieval.buildBm25Index(corpus, dir)
    val qs = Seq((1L, Seq("scan", "merge")), (2L, Seq("window", "sort")))
      .toDF("q_id", "terms")
    val batch = Retrieval.bm25TopKBatchFromIndex(spark, dir, qs, k = 5,
        version = v)
      .as[(Long, Long, Int, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(t =>
        (t._2, t._3, t._4, t._5)).sortBy(_._4).toSeq).toMap
    Seq(1L -> Seq("scan", "merge"), 2L -> Seq("window", "sort")).foreach {
      case (qid, terms) =>
        val single = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 5,
            version = v)
          .as[(Long, Int, Long, Int)].collect().sortBy(_._4).toSeq
        assert(batch(qid) == single, s"query $qid diverged from the " +
          "single-query probe")
    }
    // a duplicated term must not double its contribution
    val dup = Retrieval.bm25TopKBatchFromIndex(spark, dir,
        Seq((9L, Seq("scan", "scan"))).toDF("q_id", "terms"), k = 5,
        version = v)
      .as[(Long, Long, Int, Long, Int)].collect()
      .map(t => (t._2, t._3, t._4, t._5)).sortBy(_._4).toSeq
    val clean = Retrieval.bm25TopKFromIndex(spark, dir, Seq("scan"), k = 5,
        version = v)
      .as[(Long, Int, Long, Int)].collect().sortBy(_._4).toSeq
    assert(dup == clean, "duplicate term double-counted")
  }

  test("rrfFuse: hand-computed fusion, single-list docs contribute once") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rk")
    val b = Seq((2L, 1), (4L, 2)).toDF("doc_id", "rk")
    val out = Retrieval.rrfFuse(a, b, k = 4)
      .select("doc_id", "rrf_nano", "rk")
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    def nano(rs: Seq[Int]): Long =
      math.round(rs.map(r => 1.0 / (60 + r)).sum * 1e9)
    // doc 2 in both lists wins; then 1 (rank 1 in a), 4 (rank 2 in b), 3
    val expect = Seq(
      (2L, nano(Seq(2, 1))), (1L, nano(Seq(1))),
      (4L, nano(Seq(2))), (3L, nano(Seq(3))))
    assert(out.map(t => (t._1, t._2)).toSeq == expect, s"got ${out.toSeq}")
    assert(out.map(_._3).toSeq == Seq(1, 2, 3, 4))
  }

  test("SQL wire: graft_bm25_versions discovers the store, graft_bm25_gc " +
      "sweeps shadowed versions") {
    GraftExtensions.register(spark)
    val dir = tmp
    def q(sql: String) = spark.sql(sql)
    assert(q(s"SELECT graft_bm25_versions('$dir')")
      .as[Seq[Int]].head().isEmpty)
    val corpus = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val v1 = Retrieval.buildBm25Index(corpus, dir)
    val v2 = Retrieval.buildBm25Index(corpus, dir)
    val v3 = Retrieval.buildBm25Index(corpus, dir)
    assert(q(s"SELECT graft_bm25_versions('$dir')")
      .as[Seq[Int]].head() == Seq(v1, v2, v3))
    assert(q(s"SELECT graft_bm25_gc('$dir', 2)")
      .as[Seq[Int]].head() == Seq(v1))
    assert(Retrieval.versionsOf(dir) == Seq(v2, v3))
    // the surviving latest still answers
    assert(Retrieval.bm25TopKFromIndex(spark, dir, Seq("beta"), k = 3)
      .count() == 2)
  }

  test("SQL wire: graft_bm25_build stands up the store from a session " +
      "table ≡ the driver-Scala build; bad args fail analysis") {
    GraftExtensions.register(spark)
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    corpus.createOrReplaceTempView("graft_bm25_src")
    val dirSql = tmp
    val v = spark.sql(
      s"SELECT graft_bm25_build('$dirSql', 'graft_bm25_src', 8)")
      .head().getInt(0)
    assert(Retrieval.versionsOf(dirSql) == Seq(v))
    assert(Retrieval.layoutOf(dirSql, v).nPartitions == 8)
    val dirScala = tmp
    val vS = Retrieval.buildBm25Index(corpus, dirScala, nPartitions = 8)
    val terms = Seq("scan", "merge", "window")
    val viaSql = Retrieval.bm25TopKFromIndex(spark, dirSql, terms, k = 10,
      version = v).orderBy("doc_id").collect()
    val viaScala = Retrieval.bm25TopKFromIndex(spark, dirScala, terms,
      k = 10, version = vS).orderBy("doc_id").collect()
    assert(viaSql.sameElements(viaScala), "SQL-built store drifted")
    val e = intercept[Exception](
      spark.sql("SELECT graft_bm25_build('/x', 99)").collect())
    assert(e.getMessage.contains("graft_bm25_build"))
  }

  test("SQL wire: graft_bm25_ingest/_delete/_compact maintain the store " +
      "≡ the full scan of the end corpus (the incremental contract, " +
      "driven from SQL alone)") {
    GraftExtensions.register(spark)
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tmp
    // base: stale %5 texts + junk docs; recrawl + tombstones via SQL
    val stale = corpus.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" stalemarker"))).otherwise(col("text")))
    val junk = corpus.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" junkword")).as("text"))
    stale.unionByName(junk).createOrReplaceTempView("graft_bm25_base")
    corpus.filter(col("doc_id") % 10 === 7 || col("doc_id") % 5 === 0)
      .createOrReplaceTempView("graft_bm25_recrawl")
    junk.select("doc_id").createOrReplaceTempView("graft_bm25_junkids")
    val v = spark.sql(s"SELECT graft_bm25_build('$dir', 'graft_bm25_base')")
      .head().getInt(0)
    assert(spark.sql(
      s"SELECT graft_bm25_ingest('$dir', 'graft_bm25_recrawl', 1, $v)")
      .head().getInt(0) == v)
    assert(spark.sql(
      s"SELECT graft_bm25_delete('$dir', 'graft_bm25_junkids', 2, $v)")
      .head().getInt(0) == v)
    assert(spark.sql(s"SELECT graft_bm25_layout('$dir', $v).n_batches")
      .head().getInt(0) == 3)
    val terms = Seq("scan", "merge", "window")
    val probe = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 10,
      version = v).orderBy("doc_id").collect()
    val full = TextOps.bm25TopK(corpus, terms, k = 10)
      .select("doc_id", "n_hit", "score_micro", "rk")
      .orderBy("doc_id").collect()
    assert(probe.sameElements(full),
      "SQL-maintained probe must equal the full scan of the END corpus")
    val nv = spark.sql(s"SELECT graft_bm25_compact('$dir', $v)")
      .head().getInt(0)
    assert(Retrieval.committedBatches(dir, nv) == Seq(0L))
    val folded = Retrieval.bm25TopKFromIndex(spark, dir, terms, k = 10,
      version = nv).orderBy("doc_id").collect()
    assert(folded.sameElements(probe), "SQL-compacted probe drifted")
    // the wire stats: resolved multi-batch state == the end corpus ==
    // the compacted fold, with the postings/dl integrity invariant
    val st = spark.sql(s"SELECT graft_bm25_stats('$dir', $v) AS s")
      .select("s.*").head()
    val stFold = spark.sql(s"SELECT graft_bm25_stats('$dir', $nv) AS s")
      .select("s.*").head()
    assert(st == stFold, "stats must be fold-invariant")
    assert(st.getLong(0) == corpus.count(), "n_docs != end corpus")
    assert(st.getLong(1) == st.getLong(3),
      "n_postings must equal total_dl (store integrity)")
  }

  test("a zero-hit term set returns no rows; duplicate terms rejected") {
    val corpus = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val dir = tmp
    Retrieval.buildBm25Index(corpus, dir)
    assert(Retrieval.bm25TopKFromIndex(spark, dir, Seq("zeta"), k = 3)
      .count() == 0)
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKFromIndex(spark, dir, Seq("a", "a"), k = 3)
    }
    // and a seen term scores the right docs in the right order
    val hit = Retrieval.bm25TopKFromIndex(spark, dir, Seq("alpha"), k = 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(hit == Seq(1L))
  }

  test("rrfFuseBatch == per-query rrfFuse; hybridSearchBatch == " +
      "per-query hybridSearch") {
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sf())
    val bmDir = tmp
    val bv = Retrieval.buildBm25Index(corpus, bmDir)
    val annDir = Files.createTempDirectory("graft_hybb_ann").toString
    val (_, av) = graft.operators.AnnIndex.build(emb, annDir,
      nCentroids = 16)
    val qdefs = Seq(1L -> Seq("scan", "merge"), 2L -> Seq("window"),
      3L -> Seq("key", "order"))
    val q = qdefs.toDF("q_id", "terms")
      .join(emb.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec")), Seq("q_id"))
    val batch = Retrieval.hybridSearchBatch(spark, bmDir, annDir, q, emb,
        k = 5, kLeg = 10, nprobe = 16, rerank = 1 << 20,
        bm25Version = bv, annVersion = av)
      .orderBy("q_id", "doc_id").collect()
    val single = qdefs.flatMap { case (qid, terms) =>
      val qv = emb.filter(col("vec_id") === qid)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Retrieval.hybridSearch(spark, bmDir, annDir, terms, qv, emb,
          k = 5, kLeg = 10, nprobe = 16, rerank = 1 << 20,
          bm25Version = bv, annVersion = av)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1), r.getInt(2)))
    }.sortBy(t => (t._1, t._2))
    assert(batch.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq ==
      single.toSeq,
      "batched hybrid must equal the per-query composition")
  }

  test("hybridSearchStream: the micro-batch split is a delivery detail " +
      "— streamed verdicts == one-shot hybridSearchBatch, versions " +
      "pinned at construction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sf())
    val bmDir = tmp
    val bv = Retrieval.buildBm25Index(corpus, bmDir)
    val annDir = Files.createTempDirectory("graft_hybstream_ann").toString
    val (_, av) = graft.operators.AnnIndex.build(emb, annDir,
      nCentroids = 16)
    val qdefs = Seq(1L -> Seq("scan", "merge"), 2L -> Seq("window"),
      3L -> Seq("key", "order"))
    val q = qdefs.toDF("q_id", "terms")
      .join(emb.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec")), Seq("q_id"))
    val typed = q.as[(Long, Seq[String], Seq[Float])].collect()
    val src = MemoryStream[(Long, Seq[String], Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    val seenBatches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ckpt = Files.createTempDirectory("graft_hybstream_ckpt").toString
    val w = Retrieval.hybridSearchStream(spark, bmDir, annDir,
        src.toDF().selectExpr("_1 as q_id", "_2 as terms", "_3 as q_vec"),
        emb,
        (res, b) => {
          seenBatches += b
          got ++= res.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        },
        k = 5, kLeg = 10, nprobe = 16, rerank = 1 << 20,
        bm25Version = bv, annVersion = av)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // wave 1: the first query alone; wave 2: the other two — a checkpoint
    // RESUME, so micro-batch ids continue
    src.addData(typed.take(1).toSeq)
    val h1 = w.start(); h1.awaitTermination()
    src.addData(typed.drop(1).toSeq)
    val h2 = w.start(); h2.awaitTermination()
    assert(seenBatches.distinct.length >= 2, "expected two micro-batches")
    val oneShot = Retrieval.hybridSearchBatch(spark, bmDir, annDir, q, emb,
        k = 5, kLeg = 10, nprobe = 16, rerank = 1 << 20,
        bm25Version = bv, annVersion = av)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3)))
    assert(got.sortBy(t => (t._1, t._2)).toSeq ==
      oneShot.sortBy(t => (t._1, t._2)).toSeq,
      "streamed hybrid answers must equal the one-shot batch")
    // a build AFTER construction must not flip the pinned serving index:
    // re-running the same stream against a store that has since grown a
    // new version still answers from the pinned (bv, av) pair
    val (_, av2) = graft.operators.AnnIndex.build(
      emb.filter(col("vec_id") % 2 === 0), annDir, nCentroids = 4)
    assert(av2 != av)
    val got2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    val src2 = MemoryStream[(Long, Seq[String], Seq[Float])]
    val w2 = Retrieval.hybridSearchStream(spark, bmDir, annDir,
        src2.toDF().selectExpr("_1 as q_id", "_2 as terms", "_3 as q_vec"),
        emb,
        (res, _) => got2 ++= res.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))),
        k = 5, kLeg = 10, nprobe = 16, rerank = 1 << 20,
        bm25Version = bv, annVersion = av)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_hybstream_ckpt2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    src2.addData(typed.toSeq)
    val h3 = w2.start(); h3.awaitTermination()
    assert(got2.sortBy(t => (t._1, t._2)).toSeq ==
      oneShot.sortBy(t => (t._1, t._2)).toSeq,
      "explicitly pinned versions must survive a concurrent build")
  }

  test("emptied BM25 store stats report zeros not nulls; " +
      "graft_hybrid_search rejects null array elements with its own " +
      "error") {
    GraftExtensions.register(spark)
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tmp
    val v = Retrieval.buildBm25Index(corpus, dir)
    Retrieval.deleteBm25(corpus.select("doc_id"), dir, batchId = 1L,
      version = v)
    val st = spark.sql(s"SELECT graft_bm25_stats('$dir', $v) AS s")
      .select("s.n_docs", "s.total_dl", "s.n_terms", "s.n_postings")
      .head()
    assert(st.getLong(0) == 0L && st.getLong(1) == 0L &&
      st.getLong(2) == 0L && st.getLong(3) == 0L)
    val e1 = intercept[Exception](spark.sql(
      "SELECT graft_hybrid_search('/x', '/y', " +
        "array('scan', CAST(NULL AS STRING)), array(1.0d), 't', 5)")
      .collect())
    assert(e1.getMessage.contains("null elements"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "SELECT graft_hybrid_search('/x', '/y', array('scan'), " +
        "array(1.0d, CAST(NULL AS DOUBLE)), 't', 5)").collect())
    assert(e2.getMessage.contains("null elements"), e2.getMessage)
  }

  test("deleteBm25: every committed batch has readable postings (the " +
      "doc-stats authority commits LAST, matching writeBatch's order)") {
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    val dir = tmp
    val v = Retrieval.buildBm25Index(corpus, dir)
    Retrieval.deleteBm25(corpus.select("doc_id").limit(5), dir,
      batchId = 1L, version = v)
    val batches = Retrieval.committedBatches(dir, v)
    assert(batches == Seq(0L, 1L))
    // the invariant a probe relies on: a batch visible through the
    // doc-stats authority ALWAYS has a readable postings directory —
    // never Path-does-not-exist mid-delete or after a crash between
    // the two writes
    batches.foreach { b =>
      assert(Files.exists(java.nio.file.Paths.get(
        s"$dir/v$v/postings/b=$b/_SUCCESS")),
        s"postings b=$b missing its commit marker")
    }
    // the probe's own multi-batch read (the path that threw
    // Path-does-not-exist under the old docstats-first commit order)
    spark.read.option("basePath", s"$dir/v$v/postings")
      .parquet(batches.map(b => s"$dir/v$v/postings/b=$b"): _*).count()
    assert(Retrieval.bm25TopKFromIndex(spark, dir, Seq("scan"), k = 3,
      version = v).count() >= 0)
  }

  test("hybridSearch: parity config == hand-composed exact fusion; " +
      "production config statically prunes BOTH index scans") {
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sf())
    val bmDir = tmp
    Retrieval.buildBm25Index(corpus, bmDir)
    val annDir = Files.createTempDirectory("graft_hyb_ann").toString
    val (_, v) = graft.operators.AnnIndex.build(emb, annDir,
      nCentroids = 16)
    val qv = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val terms = Seq("scan", "merge", "window")
    // parity configuration: every cluster probed, shortlist deeper than
    // the corpus -> the ANN leg is provably the exact cosine top-20, so
    // the fused rows equal the hand-composed exact fusion
    val hybrid = Retrieval.hybridSearch(spark, bmDir, annDir, terms, qv,
        emb, k = 10, kLeg = 20, nprobe = 16, rerank = 1 << 20,
        annVersion = v)
      .orderBy("doc_id").collect()
    val bm = TextOps.bm25TopK(corpus, terms, k = 20).select("doc_id", "rk")
    val ann = graft.operators.Similarity.bruteForceTopK(emb, qv, k = 20)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").cast("int").as("rk"))
    val expect = Retrieval.rrfFuse(bm, ann, k = 10)
      .orderBy("doc_id").collect()
    assert(hybrid.sameElements(expect),
      "parity-config hybrid must equal the exact BM25 x cosine fusion")
    // production configuration: the lexical leg reads only the probed
    // postings partitions, the semantic leg only the probed cluster
    // directories (+ the reserved tombstone partition)
    // the ANN leg's probe is eager: read both legs' scans off the plans
    // executed during the call
    val scans = executedNodes {
      Retrieval.hybridSearch(spark, bmDir, annDir, Seq("scan"),
        qv, emb, k = 5, kLeg = 5, nprobe = 2, annVersion = v).collect()
    }.collect {
      case s: FileSourceScanExec => s
    }
    val postings = scans.filter(_.relation.location.rootPaths.exists(p =>
      p.toString.contains(bmDir) && p.toString.contains("postings")))
    assert(postings.nonEmpty, "expected a postings scan")
    postings.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"postings scan must statically prune on part:\n$s")
      assert(s.selectedPartitions.partitionCount <= 1,
        s"one term routes to one of 16 partitions, read " +
          s"${s.selectedPartitions.partitionCount}")
    }
    val codes = scans.filter(_.relation.location.rootPaths.exists(p =>
      p.toString.contains(annDir) && p.toString.contains("codes")))
    assert(codes.nonEmpty, "expected a codes scan")
    codes.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"codes scan must statically prune on c_id:\n$s")
      // 1 query x nprobe=2 probes + the tombstone partition entry
      assert(s.selectedPartitions.partitionCount <= 3,
        s"probe should read <= 3 of 16 cluster dirs, " +
          s"read ${s.selectedPartitions.partitionCount}")
    }
  }

  test("hybridSearchBatch + allowed: the tenant semi-join must not " +
      "defeat either leg's static partition pruning") {
    import spark.implicits._
    val corpus = Tables.documents(spark, sf()).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sf())
    val bmDir = tmp
    val bv = Retrieval.buildBm25Index(corpus, bmDir)
    val annDir = Files.createTempDirectory("graft_hybb_ann").toString
    val (_, av) = graft.operators.AnnIndex.build(emb, annDir,
      nCentroids = 16)
    val q = Seq((3L, Seq("scan"))).toDF("q_id", "terms")
      .join(emb.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec")), Seq("q_id"))
    val allowed = corpus.filter(col("doc_id") % 3 =!= 0).select("doc_id")
    val scans = executedNodes {
      Retrieval.hybridSearchBatch(spark, bmDir, annDir, q, emb,
        k = 5, kLeg = 5, nprobe = 2, bm25Version = bv, annVersion = av,
        allowed = Some(allowed)).collect()
    }.collect {
      case s: FileSourceScanExec => s
    }
    val postings = scans.filter(_.relation.location.rootPaths.exists(p =>
      p.toString.contains(bmDir) && p.toString.contains("postings")))
    assert(postings.nonEmpty, "expected a postings scan")
    postings.foreach { s =>
      assert(s.partitionFilters.nonEmpty &&
        s.selectedPartitions.partitionCount <= 1,
        s"allowed-gated batch probe must still read <= 1 of 16 " +
          s"postings partitions, read " +
          s"${s.selectedPartitions.partitionCount}")
    }
    val codes = scans.filter(_.relation.location.rootPaths.exists(p =>
      p.toString.contains(annDir) && p.toString.contains("codes")))
    assert(codes.nonEmpty, "expected a codes scan")
    codes.foreach(s => assert(s.partitionFilters.nonEmpty &&
      s.selectedPartitions.partitionCount <= 3,
      s"allowed-gated codes probe must still read <= 3 of 16 cluster " +
        s"dirs, read ${s.selectedPartitions.partitionCount}"))
  }

  test("an all-semantic query batch (zero lexical terms) yields an " +
      "empty BM25 leg, never a thrown serving stream") {
    val corpus = Tables.documents(spark, sf())
    val dir = tmp
    Retrieval.buildBm25Index(corpus, dir)
    val queries = Seq((1L, Seq.empty[String]), (2L, Seq.empty[String]))
      .toDF("q_id", "terms")
    val out = Retrieval.bm25TopKBatchFromIndex(spark, dir, queries, k = 5)
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      Seq("q_id", "doc_id", "n_hit", "score_micro", "rk"))
  }

  test("a doc_id duplicated WITHIN one batch resolves deterministically " +
      "(greatest text digest wins) - postings and dl stay consistent") {
    val dupA = Seq((1L, "alpha beta gamma"), (1L, "alpha alpha"),
      (2L, "beta beta beta")).toDF("doc_id", "text")
    // the winner among the two id-1 copies, by md5 desc
    val win = Seq("alpha beta gamma", "alpha alpha")
      .maxBy(t => java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString)
    val dir1 = tmp
    Retrieval.buildBm25Index(dupA, dir1)
    val dir2 = tmp
    Retrieval.buildBm25Index(
      Seq((1L, win), (2L, "beta beta beta")).toDF("doc_id", "text"), dir2)
    val q = Seq("alpha", "beta")
    val a = Retrieval.bm25TopKFromIndex(spark, dir1, q, k = 5)
      .orderBy("doc_id").collect().toSeq
    val b = Retrieval.bm25TopKFromIndex(spark, dir2, q, k = 5)
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "the duplicated build must equal the winner-only build")
    val st = Retrieval.bm25Stats(spark, dir1).head()
    assert(st.getAs[Long]("n_postings") == st.getAs[Long]("total_dl"),
      "the n_postings == total_dl invariant must survive in-batch dups")
  }

  test("maintainBm25Stream pins 'latest' at CONSTRUCTION: a build " +
      "racing the stream cannot re-target later micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp
    val v1 = Retrieval.buildBm25Index(
      Seq((1L, "base doc text")).toDF("doc_id", "text"), dir)
    val stream = MemoryStream[(Long, String)]
    val writer = Retrieval.maintainBm25Stream(
      stream.toDF().toDF("doc_id", "text"), dir, version = -1)
    // a NEW version appears after construction but before any batch
    val v2 = Retrieval.buildBm25Index(
      Seq((9L, "other corpus")).toDF("doc_id", "text"), dir)
    val q = writer.start()
    stream.addData((2L, "streamed doc words"))
    q.processAllAvailable()
    q.stop()
    assert(Retrieval.committedBatches(dir, v1).size == 2,
      "the streamed batch must land in the version pinned at construction")
    assert(Retrieval.committedBatches(dir, v2).size == 1,
      "the post-construction version must NOT receive the batch")
  }

  test("termPartition == the SQL pmod(hash(term), n) the store writes " +
    "with, over a real term corpus") {
    // the driver-side arithmetic prunes the postings scan: any
    // divergence from IndexStore's pmod(hash(key), n) silently reads
    // the WRONG partitions and returns incomplete results with no error
    // — pin the equality over every distinct token of the corpus at
    // both deployed fan-outs
    val terms = Tables.documents(spark, sf()).limit(200)
      .select(explode(TextOps.normTokens(col("text"))).as("t"))
      .distinct().as[String].collect().toSeq :+ "" :+ "漢字" :+ "naïve"
    Seq(8, 16, 64).foreach { n =>
      val viaSql = terms.toDF("t")
        .select(col("t"), pmod(hash(col("t")), lit(n)).as("p"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      terms.foreach { t =>
        assert(Retrieval.termPartition(t, n) == viaSql(t),
          s"termPartition('$t', $n) diverged from pmod(hash(t), n)")
      }
    }
  }
}
