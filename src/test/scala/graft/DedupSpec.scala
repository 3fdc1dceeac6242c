package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** M5 dedup family: exact hash dedup, blocked Jaccard, MinHash+LSH,
  * SimHash. Small corpora with planted duplicates; LSH must find the
  * planted near-dups and never report pairs below threshold.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "g", "the quick brown fox jumps over the lazy dog"),
    (2L, "g", "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "g", "the quick brown fox jumps over a lazy dog"), // near dup of 1
    (4L, "g", "completely different content about spark engines"),
    (5L, "h", "the quick brown fox jumps over the lazy dog") // dup, other block
  ).toDF("doc_id", "source", "text")

  test("exact dedup groups identical normalized text") {
    val out = Dedup.exact(corpus).orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L), (3L, 1L), (4L, 1L)))
  }

  test("exact dedup is whitespace/case-insensitive") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world "),
      (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df)
    assert(out.count() == 2)
    assert(out.agg(max("dup_count")).as[Long].head() == 2L)
  }

  test("jaccardPairs: same-block pairs above threshold, exact values") {
    val out = Dedup.jaccardPairs(corpus, "source", 0.5)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
    // block g: (1,2) identical => 1.0; (1,3)/(2,3): |∩|=8, |∪|=9 => 8/9
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(out.head._3 == 1.0)
    assert(math.abs(out(1)._3 - 8.0 / 9.0) < 1e-12)
  }

  test("minhashLsh finds planted near-dups, exact jaccard verify") {
    val out = Dedup.minhashLsh(corpus, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // identical docs 1,2,5 must pair up; 3 is a near dup (shingle jaccard
    // lower than word jaccard but the identical trio is guaranteed)
    assert(out.contains((1L, 2L)) && out.contains((1L, 5L)) && out.contains((2L, 5L)))
    assert(!out.exists { case (a, b) => a == 4L || b == 4L }) // no false pair
  }

  test("simhash: identical docs get identical signatures; pairs found") {
    val sh = Dedup.simhash(corpus).as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L) && sh(1L) == sh(5L))
    val pairs = Dedup.simhashPairs(corpus, maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ngramJaccardPairs: order-sensitive (same vocab, different order)") {
    val df = Seq(
      (1L, "g", "a b c d e"),
      (2L, "g", "a b c d e"), // identical => 1.0
      (3L, "g", "e d c b a") // same words reversed: no common 3-gram
    ).toDF("doc_id", "source", "text")
    val out = Dedup.ngramJaccardPairs(df, "source", 0.3, n = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
    // word-level jaccard WOULD pair (1,3): identical vocab
    val word = Dedup.jaccardPairs(df, "source", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(word.contains((1L, 3L)))
  }

  test("ngramJaccardPairs: length prune is lossless, size-mismatched pairs cut") {
    // doc 2 is a prefix of doc 1 but 4× shorter: 5 shingles vs 23 —
    // 5/23 < 0.4 means the pair CANNOT reach the threshold and the
    // n-count prune removes it before any set op; docs 3/4 still pair
    val long = (1 to 25).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, "g", long),
      (2L, "g", (1 to 7).map(i => s"w$i").mkString(" ")),
      (3L, "g", "x y z p q r s"),
      (4L, "g", "x y z p q r s")).toDF("doc_id", "source", "text")
    val out = Dedup.ngramJaccardPairs(df, "source", 0.4, n = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((3L, 4L)))
    // the join condition itself carries the prune (not a post-filter):
    // candidate generation never pays the mismatched pair
    val joinPlan = Dedup.ngramJaccardPairs(df, "source", 0.4, n = 3)
      .queryExecution.optimizedPlan.toString
    assert(joinPlan.contains("0.4"))
  }

  test("connectedComponents: transitive chain collapses to one min label") {
    // chain 1-2, 2-3 plus isolated pair 7-9: components {1,2,3}, {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusters: transitive near-dups share a cluster, singletons keep own") {
    val out = Dedup.clusters(corpus, "source", 0.5)
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // docs 1,2,3 near-dup chain in block g; 4 singleton; 5 separate block
    assert(out == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true)))
  }

  test("alternating-star CC equals min-label propagation on random graphs") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    val prop = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(star == prop)
  }

  test("alternating-star CC converges on a long chain (diameter >> rounds)") {
    // a 400-node path: min-label propagation needs ~400 rounds; the
    // star alternation collapses it within the iteration budget
    val chain = (0L until 399L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponentsStar(chain)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 400)
    assert(labels.values.forall(_ == 0L))
  }

  test("decontaminate: flags docs overlapping the benchmark, counts hits") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // shares the 5-grams at positions 0 and 1 with the benchmark doc
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "wholly unrelated words nothing shared here at all"),
      (3L, "alpha beta gamma delta other words entirely")) // only 4 common
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, n = 5)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 2L, true), (2L, 0L, false), (3L, 0L, false)))
  }

  test("incremental minhash: batch probes corpus buckets, no corpus self-pairs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val corpus = Seq(
      (1L, base),
      (2L, base + " tonight"), // near-dup pair INSIDE the corpus
      (3L, "completely different content with no overlap at all whatsoever here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, base + " again"), // near-dup of corpus 1/2
      (101L, "unrelated new arrival talking about other things entirely today"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashLshIncremental(corpus, batch, threshold = 0.5)
      .orderBy("new_id", "dup_of")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((100L, 1L), (100L, 2L)))
    assert(out.forall(_._3 >= 0.5))
  }

  test("streaming exact dedup equals the batch operator across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.exactStream(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("dedup_stream_test").start()
    stream.addData((1L, "aa bb"), (2L, "cc dd"))
    q.processAllAvailable()
    stream.addData((3L, "aa  bb"), (4L, "ee ff"), (5L, "cc dd")) // dups across batches
    q.processAllAvailable()
    val streamed = spark.table("dedup_stream_test")
      .as[(String, Long, Long)].collect().toSet
    q.stop()
    val batch = Dedup.exact(Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "aa  bb"),
      (4L, "ee ff"), (5L, "cc dd")).toDF("doc_id", "text"))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.map(r => (r._2, r._3)).toMap == Map(1L -> 2L, 2L -> 2L, 4L -> 1L))
  }

  test("streaming near-dup ingest: batch boundaries do not change the pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val corpus = Seq((1L, base), (2L, "totally different corpus content here"))
      .toDF("doc_id", "text")
    val arrivals = Seq((100L, base + " again"), (101L, "nothing shared at all"),
      (102L, base + " tonight"))
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamingDedup.nearDupIngest(
        corpus, stream.toDF().toDF("doc_id", "text"),
        (pairs, _) => got.synchronized {
          got ++= pairs.select("new_id", "dup_of").as[(Long, Long)].collect()
        })
      .start()
    stream.addData(arrivals(0), arrivals(1))
    q.processAllAvailable()
    stream.addData(arrivals(2))
    q.processAllAvailable()
    q.stop()
    val oneShot = Dedup.minhashLshIncremental(corpus,
        arrivals.toDF("doc_id", "text"), threshold = 0.5)
      .select("new_id", "dup_of").as[(Long, Long)].collect()
    assert(got.toSet == oneShot.toSet)
    assert(got.toSet == Set((100L, 1L), (102L, 1L)))
  }

  test("growing-store streaming near-dup: split ≡ one-shot, same-batch " +
      "pairs found") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val corpus = Seq((1L, base), (2L, "totally different corpus content here"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (100L, base + " again"),
      (101L, "nothing shared at all in this arrival"),
      (102L, base + " again"), // near-dup of BOTH corpus 1 and arrival 100
      (103L, base + " tonight"))

    def run(splits: Seq[Seq[(Long, String)]]): Set[(Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ndstore").toString
      val (sets, buckets) = Dedup.minhashStoreTables(corpus)
      graft.streaming.StreamingDedup.seedNearDupStore(
        dir, sets, Dedup.guardBuckets(buckets, 64))
      val stream = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingDedup.nearDupIngestStore(
          spark, dir, stream.toDF().toDF("doc_id", "text")).start()
      splits.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      q.stop()
      graft.streaming.EpochStore.readAll(spark,
          graft.streaming.EpochStore.current(dir), "pairs")
        .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    }

    val oneShot = run(Seq(arrivals))
    val split = run(Seq(arrivals.take(2), arrivals.drop(2)))
    // batch boundaries change nothing — append-before-probe makes the
    // same-batch pair visible in the one-shot run, the growing store
    // makes the cross-batch pair visible in the split run
    assert(oneShot == split)
    assert(oneShot.contains((100L, 102L))) // arrival-vs-arrival pair
    assert(oneShot.contains((1L, 100L))) // corpus-vs-arrival pair
    assert(!oneShot.exists(p => p._1 == 101L || p._2 == 101L))
    // and pairs are canonical: no reversed duplicates
    assert(oneShot.forall(p => p._1 < p._2))
  }

  test("epoch-frozen span store: streaming probe ≡ batch operator, " +
      "next-epoch sigs accumulate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "totally unrelated words only here nothing shared at all"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (100L, "x a b c d e f g h i y z"), // shares windows with corpus 1
      (101L, "p q r s t u v w"), // nothing shared
      (102L, "a b c d e f g h tail words"))
    val dir = java.nio.file.Files.createTempDirectory("graft_spanstore").toString
    val ref = graft.streaming.StreamingDedup.seedSpanStore(dir,
      Dedup.spanStoreSigs(corpus, k = 8))
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.spanIngestStore(
        spark, dir, stream.toDF().toDF("doc_id", "text"), k = 8).start()
    stream.addData(arrivals(0), arrivals(1))
    q.processAllAvailable()
    stream.addData(arrivals(2))
    q.processAllAvailable()
    q.stop()
    val streamed = graft.streaming.EpochStore.readAll(spark, ref, "coverage")
      .orderBy("doc_id").collect()
    val batch = Dedup.duplicatedSpansIncremental(corpus,
        arrivals.toDF("doc_id", "text"), k = 8)
      .orderBy("doc_id").collect()
    assert(streamed.sameElements(batch)) // frozen-store probe ≡ batch form
    // the arrivals' own fingerprints accumulated (b >= 1) for the next
    // rotation, alongside the frozen base (b = 0)
    assert(graft.streaming.EpochStore.committedBatches(ref, "spansigs")
      .count(_ >= 1) == 2)
    val arrivalSigs = Dedup.spanStoreSigs(
      arrivals.toDF("doc_id", "text"), k = 8)
    val accumulated = graft.streaming.EpochStore
      .committedBatches(ref, "spansigs").filter(_ >= 1)
      .map(b => graft.streaming.EpochStore.readBatch(spark, ref, "spansigs", b))
      .reduce(_ unionAll _)
    assert(accumulated.distinct().count() == arrivalSigs.count())
  }

  test("store batch retry is idempotent: re-running a micro-batch " +
      "changes neither store") {
    import graft.streaming.{EpochStore, StreamingDedup}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "totally different corpus content here"))
      .toDF("doc_id", "text")
    val arrival = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs far home"))
      .toDF("doc_id", "text")
    // near-dup store: at-least-once foreachBatch delivers batch 0 twice
    val nd = java.nio.file.Files.createTempDirectory("graft_ndretry").toString
    val (sets, buckets) = Dedup.minhashStoreTables(corpus)
    val ndRef = StreamingDedup.seedNearDupStore(
      nd, sets, Dedup.guardBuckets(buckets, 64))
    def ingestNd(): Unit = StreamingDedup.nearDupIngestBatch(
      spark, ndRef, arrival, batchId = 1L, threshold = 0.5, numHashes = 64,
      bands = 16, shingleN = 3, maxBucket = 64, textCol = "text",
      idCol = "doc_id", hashKind = "xx")
    ingestNd()
    val pairs1 = EpochStore.readAll(spark, ndRef, "pairs").collect().toSet
    val nSigs1 = EpochStore.readAll(spark, ndRef, "sigs").count()
    val nBuckets1 = EpochStore.readAll(spark, ndRef, "buckets").count()
    ingestNd() // the retry
    assert(EpochStore.readAll(spark, ndRef, "pairs").collect().toSet == pairs1)
    assert(EpochStore.readAll(spark, ndRef, "sigs").count() == nSigs1)
    assert(EpochStore.readAll(spark, ndRef, "buckets").count() == nBuckets1)
    assert(EpochStore.committedBatches(ndRef, "sigs") == Seq(0L, 1L))
    assert(pairs1.nonEmpty) // the near-dup was actually detected
    // span store: same double delivery
    val sp = java.nio.file.Files.createTempDirectory("graft_spretry").toString
    val spRef = StreamingDedup.seedSpanStore(sp,
      Dedup.spanStoreSigs(corpus, k = 8))
    def ingestSp(): Unit = StreamingDedup.spanIngestBatch(
      spark, spRef, arrival, batchId = 1L, k = 8, textCol = "text",
      idCol = "doc_id", hashKind = "xx")
    ingestSp()
    val cov1 = EpochStore.readAll(spark, spRef, "coverage").collect().toSet
    val nSp1 = EpochStore.readAll(spark, spRef, "spansigs").count()
    ingestSp() // the retry
    assert(EpochStore.readAll(spark, spRef, "coverage").collect().toSet == cov1)
    assert(EpochStore.readAll(spark, spRef, "spansigs").count() == nSp1)
    assert(cov1.size == 1) // one arrival doc, one coverage row
  }

  test("span store rotation: screening after rotate ≡ one-shot over the " +
      "union corpus") {
    import graft.streaming.{EpochStore, StreamingDedup}
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "totally unrelated words only here nothing shared at all"))
      .toDF("doc_id", "text")
    val wave1 = Seq((100L, "m n o p q r s t u v w")).toDF("doc_id", "text")
    // wave2 doc shares windows ONLY with wave1 — found iff the rotation
    // folded wave1's accumulated fingerprints into the new frozen base
    val wave2 = Seq(
      (200L, "z m n o p q r s t u zz"),
      (201L, "nothing in common with anything at all here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_sprotate").toString
    val ref0 = StreamingDedup.seedSpanStore(dir,
      Dedup.spanStoreSigs(corpus, k = 8))
    StreamingDedup.spanIngestBatch(spark, ref0, wave1, batchId = 1L, k = 8,
      textCol = "text", idCol = "doc_id", hashKind = "xx")
    val ref1 = StreamingDedup.rotateSpanStore(spark, dir)
    assert(ref1.epoch == ref0.epoch + 1)
    assert(EpochStore.current(dir) == ref1)
    val rotated = Dedup.duplicatedSpansAgainstSigs(
        EpochStore.readBase(spark, ref1, "spansigs"), wave2, k = 8)
      .orderBy("doc_id").collect()
    val oneShot = Dedup.duplicatedSpansIncremental(
        corpus.unionAll(wave1), wave2, k = 8)
      .orderBy("doc_id").collect()
    assert(rotated.sameElements(oneShot))
    // and the wave1-only overlap was really found via the rotation
    assert(rotated.exists(r => r.getLong(0) == 200L && r.getLong(2) > 0))
    // rotation is repeatable: a second fold of the (unchanged) current
    // epoch produces an identical frozen base under a fresh epoch number
    val ref2 = StreamingDedup.rotateSpanStore(spark, dir)
    assert(EpochStore.readBase(spark, ref2, "spansigs").collect().toSet ==
      EpochStore.readBase(spark, ref1, "spansigs").collect().toSet)
    // the old epoch is untouched — pinned readers are undisturbed
    assert(EpochStore.readBase(spark, ref0, "spansigs").count() ==
      Dedup.spanStoreSigs(corpus, k = 8).count())
  }

  test("near-dup store compaction: dedupes, re-guards, and preserves " +
      "the pair ledger") {
    import graft.streaming.{EpochStore, StreamingDedup}
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val corpus = Seq((1L, base), (2L, "totally different corpus content here"))
      .toDF("doc_id", "text")
    val arrival = Seq((100L, base + " again")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ndcompact").toString
    val (sets, buckets) = Dedup.minhashStoreTables(corpus)
    val ref0 = StreamingDedup.seedNearDupStore(
      dir, sets, Dedup.guardBuckets(buckets, 64))
    StreamingDedup.nearDupIngestBatch(spark, ref0, arrival, batchId = 1L,
      threshold = 0.5, numHashes = 64, bands = 16, shingleN = 3,
      maxBucket = 64, textCol = "text", idCol = "doc_id", hashKind = "xx")
    val pairsBefore = EpochStore.readAll(spark, ref0, "pairs")
      .distinct().collect().toSet
    val ref1 = StreamingDedup.compactNearDupStore(spark, dir)
    // one base batch per table now; multi-directory history folded away
    assert(EpochStore.committedBatches(ref1, "sigs") == Seq(0L))
    assert(EpochStore.committedBatches(ref1, "pairs") == Seq(0L))
    // the pair ledger survives compaction exactly (it was already distinct)
    assert(EpochStore.readAll(spark, ref1, "pairs").collect().toSet ==
      pairsBefore)
    // signatures dedupe to one row per doc (corpus + arrival)
    assert(EpochStore.readAll(spark, ref1, "sigs").select("id")
      .distinct().count() == 3)
    assert(EpochStore.readAll(spark, ref1, "sigs").count() == 3)
    // a probe against the compacted store answers like the uncompacted one
    val (_, probeBuckets) = Dedup.minhashStoreTables(arrival)
    val probedCompacted = Dedup.minhashLshProbeStore(
        EpochStore.readAll(spark, ref1, "sigs"),
        EpochStore.readAll(spark, ref1, "buckets"),
        probeBuckets).collect().toSet
    val probedOriginal = Dedup.minhashLshProbeStore(
        EpochStore.readAll(spark, ref0, "sigs"),
        EpochStore.readAll(spark, ref0, "buckets"),
        probeBuckets).collect().toSet
    assert(probedCompacted == probedOriginal)
  }

  test("rotation under a pinned stream: batches appended to the OLD " +
      "epoch after a rotation are folded forward by the NEXT one") {
    import graft.streaming.{EpochStore, StreamingDedup}
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val corpus = Seq((1L, base),
      (2L, "totally different corpus content here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ndpin").toString
    val (sets, buckets) = Dedup.minhashStoreTables(corpus)
    val ref0 = StreamingDedup.seedNearDupStore(
      dir, sets, Dedup.guardBuckets(buckets, 64))
    def ingest(ref: EpochStore.Ref, df: org.apache.spark.sql.DataFrame,
               b: Long): Unit =
      StreamingDedup.nearDupIngestBatch(spark, ref, df, batchId = b,
        threshold = 0.5, numHashes = 64, bands = 16, shingleN = 3,
        maxBucket = 64, textCol = "text", idCol = "doc_id", hashKind = "xx")
    ingest(ref0, Seq((100L, base + " again")).toDF("doc_id", "text"), 1L)
    // rotation happens WHILE the stream stays pinned to e=0 ...
    StreamingDedup.compactNearDupStore(spark, dir)
    // ... and the pinned stream appends another batch to the OLD epoch
    ingest(ref0, Seq((200L, base + " once more")).toDF("doc_id", "text"), 2L)
    // the NEXT rotation must carry the post-rotation batch forward
    val ref2 = StreamingDedup.compactNearDupStore(spark, dir)
    val ids = EpochStore.readAll(spark, ref2, "sigs").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 100L, 200L),
      s"post-rotation batch lost in the fold: $ids")
    // and the post-rotation doc is probe-visible in the new epoch: its
    // own buckets (it IS in the store — append-before-probe) find its
    // near-dup partners there
    val (_, pb) = Dedup.minhashStoreTables(
      Seq((200L, base + " once more")).toDF("doc_id", "text"))
    val found = Dedup.minhashLshProbeStore(
        EpochStore.readAll(spark, ref2, "sigs"),
        EpochStore.readAll(spark, ref2, "buckets"), pb)
      .select("id_a", "id_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(found.contains(200L) && (found - 200L).nonEmpty,
      s"the post-rotation doc must be probe-visible in the new epoch: $found")
  }

  test("minhash signatures are stable across invocations (deterministic)") {
    val s1 = Dedup.minhashSignatures(corpus, numHashes = 8).orderBy("id").collect()
    val s2 = Dedup.minhashSignatures(corpus, numHashes = 8).orderBy("id").collect()
    assert(s1.toSeq == s2.toSeq)
  }

  test("duplicatedSpans: repeated windows found, overlap-merged coverage") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // windows "a..h","b..i","c..j"
      (2L, "x a b c d e f g h i y z"), // shares "a..h" (pos 2), "b..i" (pos 3)
      (3L, "totally unrelated words only here nothing shared at all"),
      (4L, "p q r s t u v w"), // exact 8-token dup of doc 5: full coverage
      (5L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, k = 8).orderBy("doc_id")
      .select("doc_id", "n_toks", "n_dup_windows", "dup_tokens", "dup_fraction")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // doc 1: dup positions {1,2} → min(8,1) + 8 = 9 covered tokens
    // doc 2: dup positions {2,3} → 9; doc 3: none; docs 4/5: all 8 tokens
    assert(out == Seq(
      (1L, 10L, 2L, 9L, 0.9), (2L, 12L, 2L, 9L, 0.75), (3L, 9L, 0L, 0L, 0.0),
      (4L, 8L, 1L, 8L, 1.0), (5L, 8L, 1L, 8L, 1.0)))
  }

  test("removeDuplicatedSpans cuts exactly the covered tokens, keeps order") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // dup windows at pos 1,2 → tokens 1..9 cut
      (2L, "x a b c d e f g h i y z"), // dup at pos 2,3 → tokens 2..10 cut
      (3L, "totally unrelated words only here nothing shared at all"),
      (4L, "p q r s t u v w"), (5L, "p q r s t u v w") // fully cut
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, k = 8).orderBy("doc_id")
      .select("doc_id", "n_kept", "clean_md5")
      .as[(Long, Long, String)].collect().toSeq
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out == Seq(
      (1L, 1L, m("j")), (2L, 3L, m("x y z")),
      (3L, 9L, m("totally unrelated words only here nothing shared at all")),
      (4L, 0L, m("")), (5L, 0L, m(""))))
  }

  test("span dedup output is fingerprint-kind-independent (xx == md5)") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x a b c d e f g h i y z"),
      (3L, "totally unrelated words only here nothing shared at all"),
      (4L, "p q r s t u v w"), (5L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val covXx = Dedup.duplicatedSpans(docs, k = 8, hashKind = "xx")
      .orderBy("doc_id").collect().toSeq
    val covMd5 = Dedup.duplicatedSpans(docs, k = 8, hashKind = "md5")
      .orderBy("doc_id").collect().toSeq
    assert(covXx == covMd5)
    val rwXx = Dedup.removeDuplicatedSpans(docs, k = 8, hashKind = "xx")
      .orderBy("doc_id").collect().toSeq
    val rwMd5 = Dedup.removeDuplicatedSpans(docs, k = 8, hashKind = "md5")
      .orderBy("doc_id").collect().toSeq
    assert(rwXx == rwMd5)
  }

  test("duplicatedSpansIncremental: batch screened against corpus only") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "unrelated corpus content entirely different here now")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "x a b c d e f g h i y z"), // shares windows at pos 2,3 with corpus 1
      (101L, "nothing in common with the standing corpus at all right"),
      // 102/103 duplicate EACH OTHER but not the corpus: must NOT flag
      // (intra-batch duplication is the batch operator's job)
      (102L, "p q r s t u v w"), (103L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpansIncremental(corpus, batch, k = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_toks", "n_dup_windows", "dup_tokens", "dup_fraction")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (100L, 12L, 2L, 9L, 0.75), (101L, 10L, 0L, 0L, 0.0),
      (102L, 8L, 0L, 0L, 0.0), (103L, 8L, 0L, 0L, 0.0)))
  }

  test("streaming span ingest: batch boundaries do not change coverage") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val arrivals = Seq(
      (100L, "x a b c d e f g h i y z"),
      (101L, "nothing shared with the corpus in this one at all"),
      (102L, "a b c d e f g h tail words"))
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = graft.streaming.StreamingDedup.spanIngest(
        corpus, stream.toDF().toDF("doc_id", "text"),
        (cov, _) => got.synchronized {
          got ++= cov.select("doc_id", "n_dup_windows", "dup_tokens")
            .as[(Long, Long, Long)].collect()
        })
      .start()
    stream.addData(arrivals(0), arrivals(1))
    q.processAllAvailable()
    stream.addData(arrivals(2))
    q.processAllAvailable()
    q.stop()
    val oneShot = Dedup.duplicatedSpansIncremental(corpus,
        arrivals.toDF("doc_id", "text"), k = 8)
      .select("doc_id", "n_dup_windows", "dup_tokens")
      .as[(Long, Long, Long)].collect()
    assert(got.toSet == oneShot.toSet)
    assert(got.map(_._1).toSet == Set(100L, 101L, 102L))
    assert(got.sortBy(_._1).map(r => (r._1, r._2)) == Seq((100L, 2L), (101L, 0L), (102L, 1L)))
  }

  test("duplicatedSpans: docs shorter than the window emit zero windows") {
    val docs = Seq((1L, "too short"), (2L, "too short")).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, k = 8).orderBy("doc_id")
      .select("doc_id", "n_dup_windows", "dup_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 0L, 0L), (2L, 0L, 0L)))
  }

  test("semanticIncrementalStore parity probe IS the exact cosine argmax " +
      "over the standing corpus; every batch row answers exactly once") {
    import graft.functions.VectorOps
    import graft.operators.AnnIndex
    val emb = Tables.embeddings(spark, sf())
    val standing = emb.filter(col("vec_id") % 4 =!= 3)
    val batch = emb.filter(col("vec_id") % 4 === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_seminc").toString
    val (_, v) = AnnIndex.build(standing, dir, nCentroids = 16)
    val got = Dedup.semanticIncrementalStore(spark, dir, batch, standing,
        threshold = 0.4, nprobe = 16, rerank = 1 << 20, version = v)
      .orderBy("vec_id")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    // exact-argmax replay with the same vector arithmetic and tie-break
    val st = standing.select(col("vec_id").as("nn_id"),
      col("embedding").as("sv"), VectorOps.norm(col("embedding")).as("sn"))
    val nb = batch.select(col("vec_id"), col("embedding").as("bv"),
      VectorOps.norm(col("embedding")).as("bn"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    val want = nb.crossJoin(st)
      .select(col("vec_id"), col("nn_id"),
        (VectorOps.dot(col("sv"), col("bv")) / (col("sn") * col("bn")))
          .as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("nn_id"), col("sim"),
        (col("sim") >= 0.4).as("is_dup"))
      .orderBy("vec_id")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(got == want)
    // one verdict per arriving row, flags on both sides of the threshold
    assert(got.map(_._1) ==
      batch.select("vec_id").as[Long].collect().sorted.toSeq)
    assert(got.exists(_._4) && got.exists(!_._4))
  }

  test("semanticIngestStore: wave 2 dedups against wave 1 (the store " +
      "grew), and a retried micro-batch is exact") {
    import graft.operators.AnnIndex
    import graft.streaming.StreamingDedup
    val emb = Tables.embeddings(spark, sf())
    val standing = emb
      .filter(col("vec_id") % 8 =!= 3 && col("vec_id") % 8 =!= 7)
      .select("vec_id", "embedding")
    val wave1 = emb.filter(col("vec_id") % 8 === 3)
      .select("vec_id", "embedding")
    // wave 2: wave 1's vectors under fresh ids — every row's true nearest
    // live neighbor is its wave-1 twin, IF the store grew
    val wave2 = wave1.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val all = standing.unionByName(wave1).unionByName(wave2)
    val dir = java.nio.file.Files.createTempDirectory("graft_semingest")
      .toString
    val (_, v) = AnnIndex.build(standing, dir, nCentroids = 16)
    val verd1a = StreamingDedup.semanticIngestBatch(spark, dir, wave1, 1L,
        all, 0.9, 16, 1 << 20, "vec_id", "embedding", v)
      .orderBy("vec_id").collect()
    // foreachBatch retry: same ingest batch id — identical verdicts
    // (own ids excluded, so the landed ingest changes nothing), store
    // still holds exactly batches {0, 1}
    val verd1b = StreamingDedup.semanticIngestBatch(spark, dir, wave1, 1L,
        all, 0.9, 16, 1 << 20, "vec_id", "embedding", v)
      .orderBy("vec_id").collect()
    assert(verd1a.sameElements(verd1b))
    assert(AnnIndex.committedBatches(dir, v).map(_.toLong) == Seq(0L, 1L))
    val verd2 = StreamingDedup.semanticIngestBatch(spark, dir, wave2, 2L,
        all, 0.9, 16, 1 << 20, "vec_id", "embedding", v)
      .orderBy("vec_id").collect()
    assert(verd2.length == wave1.count())
    verd2.foreach { r =>
      val nn = r.getLong(1)
      assert(nn % 8 == 3 && nn < 100000L,
        s"nearest live neighbor must be the wave-1 twin, got $r")
      assert(r.getDouble(2) > 0.999 && r.getBoolean(3),
        s"identical-vector twin must flag as dup: $r")
    }
  }

  test("semanticIncrementalStore batch plan: nothing broadcasts, the codes " +
      "scan still statically prunes to the probed clusters") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import graft.operators.AnnIndex
    val emb = Tables.embeddings(spark, sf())
    val standing = emb.filter(col("vec_id") % 4 =!= 3)
    // two arriving rows: 2 queries x nprobe=2 probes <= 4 of 16 clusters
    val batch = emb.filter(col("vec_id") % 4 === 3 && col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_seminc").toString
    AnnIndex.build(standing, dir, nCentroids = 16)
    // disable size-based broadcast so the only possible broadcast is an
    // explicit hint -- which batch mode must not plant
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Dedup.semanticIncrementalStore(spark, dir, batch, standing,
        threshold = 0.4, nprobe = 2)
      assert(out.count() == 2)
      val nodes = physicalNodes(out)
      val bx = nodes.collect { case b: BroadcastExchangeExec => b }
      assert(bx.isEmpty,
        s"batch-mode probe must not broadcast the query side, found:\n" +
          bx.mkString("\n"))
      val codeScans = nodes.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(dir))
          => s
      }
      assert(codeScans.nonEmpty, "expected a scan over the stored codes")
      codeScans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          s"batch-mode codes scan lost its partition filter:\n$s")
        assert(s.selectedPartitions.partitionCount <= 4,
          s"read ${s.selectedPartitions.partitionCount} of 16 partitions")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("EpochStore listings ignore foreign oversized e= directories " +
      "instead of crashing every call") {
    val dir = java.nio.file.Files.createTempDirectory("graft_eps").toString
    val ref = graft.streaming.EpochStore.claimNext(dir)
    graft.streaming.EpochStore.commit(ref)
    // a copy artifact / external tooling leftover past Int range
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "e=99999999999"))
    assert(graft.streaming.EpochStore.epochs(dir) == Seq(ref.epoch))
    assert(graft.streaming.EpochStore.current(dir).epoch == ref.epoch)
  }

  test("a RE-CARRIED id verifies against its newest content only: no " +
      "stale-shingle pairs, no duplicate conflicting rows") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val t1 = base + " one"
    val t2 = "completely different words nothing shared here at all"
    val dir = java.nio.file.Files.createTempDirectory("graft_rc").toString
    val (sets, buckets) = Dedup.minhashStoreTables(
      Seq((1L, base)).toDF("doc_id", "text"))
    val ref = graft.streaming.StreamingDedup.seedNearDupStore(
      dir, sets, Dedup.guardBuckets(buckets, 64))
    def ingest(batchId: Long, rows: (Long, String)*): Unit =
      graft.streaming.StreamingDedup.nearDupIngestBatch(spark, ref,
        rows.toDF("doc_id", "text"), batchId, 0.5, 64, 16, 3, 64,
        "text", "doc_id", "xx")
    ingest(1L, (42L, t1)) // 42 arrives similar to the base doc
    ingest(2L, (42L, t2)) // 42 REFETCHED with unrelated content
    // 99 duplicates 42's OLD content: it must NOT pair with 42 (whose
    // live content is t2), only with doc 1 (the standing base)
    ingest(3L, (99L, t1))
    val pairs = graft.streaming.EpochStore.readAll(spark, ref, "pairs")
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val with42 = pairs.filter(p => p._1 == 42L || p._2 == 42L)
      .filter(p => p._1 == 99L || p._2 == 99L)
    assert(with42.isEmpty,
      s"99 must not match 42's STALE content: $with42")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 99L),
      s"99 must match the standing base doc: ${pairs.toSeq}")
    // no (id_a, id_b) may appear twice with different jaccard values
    val dupPairs = pairs.groupBy(p => (p._1, p._2))
      .filter(_._2.map(_._3).distinct.length > 1)
    assert(dupPairs.isEmpty, s"conflicting duplicate pairs: $dupPairs")
    // compaction folds latest-wins: the store keeps ONE row per id
    graft.streaming.StreamingDedup.compactNearDupStore(spark, dir)
    val folded = graft.streaming.EpochStore.readAll(spark,
      graft.streaming.EpochStore.current(dir), "sigs")
    assert(folded.groupBy("id").count().filter(col("count") > 1)
      .head(1).isEmpty, "compacted sigs must hold one row per id")
  }

  test("seed-time minhash params are validated at stream construction: " +
      "a mismatch errors instead of silently zeroing recall") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pv").toString
    val (sets, buckets) = Dedup.minhashStoreTables(
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      shingleN = 2)
    graft.streaming.StreamingDedup.seedNearDupStore(dir, sets,
      Dedup.guardBuckets(buckets, 64),
      params = Some(graft.streaming.StreamingDedup.MinhashStoreParams(
        64, 16, 2, "xx")))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.nearDupIngestStore(spark, dir,
        stream.toDF().toDF("doc_id", "text"), shingleN = 3)
    }
    // matching params construct fine
    graft.streaming.StreamingDedup.nearDupIngestStore(spark, dir,
      stream.toDF().toDF("doc_id", "text"), shingleN = 2)
  }

  test("connectedComponents REJECTS non-convergence by name; the star " +
      "form finishes the same chain in log rounds") {
    val chain = (1L until 25L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 5).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    val star = Dedup.connectedComponentsStar(chain)
      .select("id", "label").as[(Long, Long)].collect().toMap
    assert((1L to 25L).forall(star(_) == 1L),
      "one 25-node chain must collapse to a single component")
    // the propagation form converges too when the cap covers the
    // diameter
    val ok = Dedup.connectedComponents(chain, maxIter = 30)
      .select("id", "label").as[(Long, Long)].collect().toMap
    assert((1L to 25L).forall(ok(_) == 1L))
  }
}
