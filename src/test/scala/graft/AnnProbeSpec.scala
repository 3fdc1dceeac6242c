package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.AnnIndex

/** The interactive ANN probe (`broadcastQ = true`: driver-merged ADC
  * shortlist, one filtered re-rank scan) answers exactly like the batch
  * probe ([[graft.operators.Similarity.pqScore]]'s windows), within its
  * Spark-job budget, and refuses a routed batch whose model differs from
  * the probed version's.
  */
class AnnProbeSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf())
  private def tmp = Files.createTempDirectory("graft_annprobe").toString

  private def queriesOf(corpus: DataFrame, n: Int) =
    corpus.filter(col("vec_id") < n)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  /** A driver-local single-query frame whose id lies outside the corpus. */
  private def localQuery(corpus: DataFrame, id: Long): DataFrame = {
    val v = corpus.filter(col("vec_id") === id).head().getSeq[Float](1)
    spark.createDataFrame(java.util.List.of(Row(-1L, v)), StructType(Seq(
      StructField("q_id", LongType), StructField("q_vec", ArrayType(FloatType)))))
  }

  /** The multi-batch store: full build (b=0), re-embedded `%10=0` ids
    * (b=1 — reversed vectors route to other clusters, so the old rows
    * linger as stale cross-cluster candidates under partial probes), and
    * `%9=4` tombstones (b=2). Returns (dir, version, post-mutation corpus).
    */
  private def mutatedStore(residual: Boolean): (String, Int, DataFrame) = {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16, residual = residual)
    val reEmb = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    AnnIndex.ingest(reEmb, dir, batchId = 1L, version = v)
    AnnIndex.delete(emb.filter(col("vec_id") % 9 === 4).select("vec_id"),
      dir, batchId = 2L, version = v)
    val updated = emb.select("vec_id", "embedding")
      .filter(col("vec_id") % 10 =!= 0).unionByName(reEmb)
      .filter(col("vec_id") % 9 =!= 4)
    (dir, v, updated)
  }

  /** Interactive ≡ batch probe on the same inputs: same schema, same
    * rows bit for bit (Row equality compares doubles by their bits).
    */
  private def assertSame(dir: String, v: Int, queries: DataFrame,
                         corpus: DataFrame, k: Int, nprobe: Int,
                         rerank: Int = 16,
                         allowed: Option[DataFrame] = None,
                         excluded: Option[DataFrame] = None,
                         asOfBatch: Long = Long.MaxValue): Unit = {
    def run(broadcastQ: Boolean) = AnnIndex.probe(spark, dir, queries,
      corpus, k, nprobe = nprobe, rerank = rerank, version = v,
      allowed = allowed, broadcastQ = broadcastQ, excluded = excluded,
      asOfBatch = asOfBatch)
    val (interactive, batch) = (run(true), run(false))
    assert(interactive.schema.map(f => (f.name, f.dataType)) ==
      batch.schema.map(f => (f.name, f.dataType)))
    val got = interactive.orderBy("q_id", "rank").collect().toSeq
    val want = batch.orderBy("q_id", "rank").collect().toSeq
    assert(want.nonEmpty, "the comparison must cover answers")
    assert(got == want, s"interactive probe diverged:\n$got\nvs batch\n$want")
  }

  test("single-batch: interactive ≡ batch probe, single and multi query") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16)
    assertSame(dir, v, localQuery(emb, 3L), emb, k = 5, nprobe = 2)
    assertSame(dir, v, queriesOf(emb, 8), emb, k = 5, nprobe = 4)
  }

  test("multi-batch with tombstones and a cross-cluster re-embedded id: " +
      "interactive ≡ batch, incl. allowed, excluded and asOfBatch") {
    val (dir, v, updated) = mutatedStore(residual = false)
    val qs = queriesOf(updated, 12)
    assertSame(dir, v, localQuery(updated, 11L), updated, k = 5, nprobe = 2)
    assertSame(dir, v, qs, updated, k = 5, nprobe = 3)
    assertSame(dir, v, qs, updated, k = 5, nprobe = 3,
      allowed = Some(updated.filter(col("vec_id") % 3 === 1).select("vec_id")))
    assertSame(dir, v, qs, updated, k = 5, nprobe = 3,
      excluded = Some(updated.filter(col("vec_id") % 5 === 2).select("vec_id")))
    // the snapshot before the tombstones: deleted ids may answer again
    assertSame(dir, v, qs, emb, k = 5, nprobe = 3, asOfBatch = 1L)
  }

  test("residual model: interactive ≡ batch probe, single and multi batch") {
    val (dir, v, updated) = mutatedStore(residual = true)
    assertSame(dir, v, queriesOf(updated, 8), updated, k = 5, nprobe = 3)
    val dirOne = tmp
    val (_, v1) = AnnIndex.build(emb, dirOne, nCentroids = 16, residual = true)
    assertSame(dirOne, v1, localQuery(emb, 5L), emb, k = 5, nprobe = 2)
  }

  test("planted ADC ties and a shortlist deeper than the candidate set: " +
      "interactive ≡ batch") {
    // every vector below id 200 planted again under id + 10 000: equal
    // codes and norms, so equal sim_adc and equal exact sims — the order
    // rests on neighbor_id ASC at the shortlist cut and in the top-k
    val twins = emb.select("vec_id", "embedding")
      .unionByName(emb.filter(col("vec_id") < 200)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")))
    val dir = tmp
    val (_, v) = AnnIndex.build(twins, dir, nCentroids = 16)
    val qs = queriesOf(twins, 8)
    assertSame(dir, v, qs, twins, k = 3, nprobe = 3, rerank = 2)
    assertSame(dir, v, qs, twins, k = 4, nprobe = 2, rerank = 1)
    assertSame(dir, v, qs, twins, k = 5, nprobe = 2, rerank = 1 << 20)
  }

  test("a 96-query hybridSearchBatch: its ANN leg ≡ batch probe, and the " +
      "re-rank scores only the shortlisted (query, id) pairs") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    val n = 96
    val bmDir = tmp
    val bv = graft.operators.Retrieval.buildBm25Index(
      Tables.documents(spark, sf()).select("doc_id", "text"), bmDir)
    val annDir = tmp
    val (_, av) = AnnIndex.build(emb, annDir, nCentroids = 16)
    // a driver-local query table, so the only corpus scan under a
    // generator is the re-rank's
    val qPlan = emb.filter(col("vec_id") < n).select((-col("vec_id") - 1L)
      .as("q_id"), typedlit(Seq("scan", "merge")).as("terms"),
      col("embedding").as("q_vec"))
    val qs = spark.createDataFrame(
      java.util.Arrays.asList(qPlan.collect(): _*), qPlan.schema)
    assertSame(annDir, av, qs.select("q_id", "q_vec"), emb, k = 20, nprobe = 4)
    val (kLeg, rerank) = (10, 2)
    val (fused, executed) = graft.plans.ExecutedPlans.during(spark)(
      graft.operators.Retrieval.hybridSearchBatch(spark, bmDir, annDir, qs,
        emb, k = 5, kLeg = kLeg, rerank = rerank, bm25Version = bv,
        annVersion = av).collect())
    assert(fused.map(_.getLong(0)).distinct.length == n)
    val rerankPairs = executed.collect {
      case g: GenerateExec if g.collect { case s: FileSourceScanExec => s }
          .exists(_.relation.location.rootPaths
            .exists(_.getName.startsWith("embeddings"))) =>
        g.metrics("numOutputRows").value
    }
    assert(rerankPairs.nonEmpty, "no re-rank generator over the corpus scan")
    assert(rerankPairs.sum <= n.toLong * kLeg * rerank,
      s"re-rank scored ${rerankPairs.sum} (query, id) pairs, shortlist " +
        s"holds at most ${n.toLong * kLeg * rerank}")
  }

  test("codes reads take Spark's inferred schema from one footer, " +
      "partition subdirectories and INT-typed tombstones included") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16)
    // INT ids in the tombstone batch: its files type vec_id differently
    AnnIndex.delete(emb.filter(col("vec_id") % 9 === 4)
      .select(col("vec_id").cast("int").as("vec_id")), dir, batchId = 1L,
      version = v)
    val base = s"$dir/v$v/codes"
    Seq(Seq(1L), Seq(0L, 1L), Seq(1L, 0L)).foreach { bs =>
      val paths = bs.map(b => s"$base/b=$b")
      val inferred = spark.read.option("basePath", base).parquet(paths: _*)
      val read = graft.plans.StoreReads.parquet(spark, paths, Some(base))
      assert(graft.plans.StoreReads.footerSchema(spark, paths).nonEmpty)
      assert(read.schema == inferred.schema)
      assert(read.collect().map(_.toString).sorted.toSeq ==
        inferred.collect().map(_.toString).sorted.toSeq)
    }
  }

  test("an interactive probe runs <= 2 Spark jobs on a single-batch " +
      "and on a multi-batch version") {
    val corpus = emb
    val q = localQuery(corpus, 7L)
    val dir = tmp
    val (_, v) = AnnIndex.build(corpus, dir, nCentroids = 16)
    AnnIndex.probe(spark, dir, q, corpus, k = 10, version = v) // warm
    val single = jobsOf("single")(AnnIndex.probe(spark, dir, q, corpus,
      k = 10, version = v).collect()).size
    assert(single <= 2, s"single-batch probe ran $single jobs (budget 2)")
    AnnIndex.ingest(corpus.filter(col("vec_id") % 7 === 0), dir,
      batchId = 1L, version = v)
    AnnIndex.delete(corpus.filter(col("vec_id") % 9 === 4).select("vec_id"),
      dir, batchId = 2L, version = v)
    var multiJobs = 0
    val executed = executedNodes {
      multiJobs = jobsOf("multi")(AnnIndex.probe(spark, dir, q, corpus,
        k = 10, version = v).collect()).size
    }
    val multiShuffled = executed.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    // 3 while latest-batch-wins ran as a window over a shuffle
    assert(multiJobs <= 2, s"multi-batch probe ran $multiJobs jobs (budget 2)")
    assert(multiShuffled == 0, "the multi-batch probe shuffled")
    info(s"jobs per probe: single-batch $single, multi-batch $multiJobs")
  }

  test("multi-batch versions whose shadowed rows sit in the partition " +
      "top lists — ids re-embedded in their own cluster, delete-then-re-add, " +
      "INT-typed tombstones: interactive ≡ batch") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16)
    val base = emb.select("vec_id", "embedding")
    // a third of the corpus nudged: mostly the same cluster, new codes
    val nudged = base.filter(col("vec_id") % 3 === 0).select(col("vec_id"),
      transform(col("embedding"), x => (x * 0.97 + 0.002).cast("float"))
        .as("embedding"))
    AnnIndex.ingest(nudged, dir, batchId = 1L, version = v)
    AnnIndex.delete(base.filter(col("vec_id") % 5 === 1).select("vec_id"),
      dir, batchId = 2L, version = v)
    // half the deleted ids come back with their build-time vectors
    AnnIndex.ingest(base.filter(col("vec_id") % 10 === 1), dir,
      batchId = 3L, version = v)
    AnnIndex.delete(base.filter(col("vec_id") % 7 === 2)
      .select(col("vec_id").cast("int").as("vec_id")), dir, batchId = 4L,
      version = v)
    val current = base.join(nudged.withColumnRenamed("embedding", "__n"),
        Seq("vec_id"), "left")
      .select(col("vec_id"), when(col("__n").isNull ||
        col("vec_id") % 10 === 1, col("embedding")).otherwise(col("__n"))
        .as("embedding"))
      .filter((col("vec_id") % 5 =!= 1 || col("vec_id") % 10 === 1) &&
        col("vec_id") % 7 =!= 2)
    val qs = queriesOf(current, 12)
    // shortlists of 2–6 rows per query: every partition cuts its list
    assertSame(dir, v, qs, current, k = 3, nprobe = 3, rerank = 2)
    assertSame(dir, v, qs, current, k = 2, nprobe = 2, rerank = 1)
    assertSame(dir, v, localQuery(current, 8L), current, k = 4, nprobe = 4,
      rerank = 1)
    assertSame(dir, v, qs, current, k = 5, nprobe = 16, rerank = 2)
    // snapshots inside the mutation history
    assertSame(dir, v, qs, base, k = 3, nprobe = 3, rerank = 2, asOfBatch = 2L)
    assertSame(dir, v, qs, current, k = 3, nprobe = 3, rerank = 2,
      asOfBatch = 3L)
  }

  test("a version whose probed rows are shadowed but for three forces the " +
      "second ADC pass: 3 jobs, answers ≡ batch") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16)
    val q = localQuery(emb, 7L)
    // the three best answers of two probed clusters stay live; every
    // other id is tombstoned, so each partition's list of 4 holds at
    // most 3 live rows and the first pass cannot prove its shortlist
    val keep = AnnIndex.probe(spark, dir, q, emb, k = 3, nprobe = 2,
      version = v).collect().map(_.getLong(1)).toSeq
    assert(keep.length == 3)
    AnnIndex.delete(emb.filter(!col("vec_id").isin(keep: _*)).select("vec_id"),
      dir, batchId = 1L, version = v)
    val live = emb.filter(col("vec_id").isin(keep: _*))
    assertSame(dir, v, q, live, k = 2, nprobe = 2, rerank = 2)
    val jobs = jobsOf("second pass")(AnnIndex.probe(spark, dir, q, live,
      k = 2, nprobe = 2, rerank = 2, version = v).collect()).size
    assert(jobs == 3, s"the probe ran $jobs jobs (2 ADC passes + re-rank)")
  }

  test("an id ingested twice in one batch resolves to one deterministic " +
      "winner: compact, the batch and the interactive probe agree") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16)
    val base = emb.select("vec_id", "embedding")
    val twice = base.filter(col("vec_id") < 60).unionByName(
      base.filter(col("vec_id") < 60).select(col("vec_id"),
        transform(col("embedding"), x => (x * 0.9 + 0.01).cast("float"))
          .as("embedding")))
    AnnIndex.ingest(twice, dir, batchId = 1L, version = v)
    val folded = AnnIndex.compact(spark, dir, version = v)
    // the winner is the smaller codes (then nrm, then c_id), in Spark's
    // array order
    val encoded = AnnIndex.encodeWith(twice, dir, version = v)
    val want = encoded
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("codes"), col("nrm"), col("c_id"))))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("codes"), col("nrm"))
    val kept = spark.read.parquet(s"$dir/v$folded/codes/b=0")
      .filter(col("vec_id") < 60).select(col("vec_id"), col("codes"), col("nrm"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(encoded.select("vec_id", "codes").distinct().count() > 60,
      "the two copies must differ in codes for some ids")
    assert(rows(kept) == rows(want))
    val qs = queriesOf(base, 8)
    def probeOf(version: Int, broadcastQ: Boolean) = AnnIndex.probe(spark,
      dir, qs, base, k = 3, nprobe = 16, rerank = 2, version = version,
      broadcastQ = broadcastQ).orderBy("q_id", "rank").collect().toSeq
    val answer = probeOf(folded, broadcastQ = true)
    for (_ <- 0 until 2) {
      assert(probeOf(v, broadcastQ = true) == answer)
      assert(probeOf(v, broadcastQ = false) == answer)
      assert(probeOf(folded, broadcastQ = false) == answer)
    }
    assertSame(dir, v, qs, base, k = 3, nprobe = 3, rerank = 2)
  }

  test("hybridSearch over a multi-batch ANN version runs one Spark job " +
      "fewer than through the shuffled latest-wins window") {
    val bmDir = tmp
    val bv = graft.operators.Retrieval.buildBm25Index(
      Tables.documents(spark, sf()).select("doc_id", "text"), bmDir)
    val annDir = tmp
    val (_, av) = AnnIndex.build(emb, annDir, nCentroids = 16)
    AnnIndex.ingest(emb.filter(col("vec_id") % 7 === 0), annDir,
      batchId = 1L, version = av)
    AnnIndex.delete(emb.filter(col("vec_id") % 9 === 4).select("vec_id"),
      annDir, batchId = 2L, version = av)
    val q = localQuery(emb, 7L)
    def hybrid() = graft.operators.Retrieval.hybridSearch(spark, bmDir,
      annDir, Seq("data", "index"), q, emb, k = 5, bm25Version = bv,
      annVersion = av).collect()
    hybrid() // warm
    val jobs = jobsOf("hybrid")(hybrid()).size
    info(s"hybridSearch over a 3-batch ANN version: $jobs jobs")
    // 16 while the ANN leg resolved latest-batch-wins in a window
    assert(jobs <= 15, s"hybridSearch ran $jobs jobs")
  }

  test("a Routed batch serves its version's compact fold, and refuses a " +
      "retrained version naming both versions") {
    val (dir, v1, updated) = mutatedStore(residual = false)
    val qs = queriesOf(updated, 8)
    val routed = AnnIndex.routeQueries(spark, dir, qs, nprobe = 16, version = v1)
    assert(routed.version == v1 && routed.model == AnnIndex.loadModel(dir, v1))
    // the compact fold copies the model JSON: one Routed serves both arms
    // and, every cluster probed, the arms agree row for row
    val folded = AnnIndex.compact(spark, dir, version = v1)
    def arm(v: Int) = AnnIndex.probeRouted(spark, dir, routed, updated, k = 5,
      version = v).orderBy("q_id", "rank").collect().toSeq
    assert(arm(v1) == arm(folded))
    assert(arm(v1) == AnnIndex.probe(spark, dir, qs, updated, k = 5,
      nprobe = 16, version = v1).orderBy("q_id", "rank").collect().toSeq)
    // a retrain re-fits the model: probing it with v1's routing must fail
    // loudly instead of scoring against the wrong centroids
    val (_, v2) = AnnIndex.retrain(spark, dir, updated, version = folded)
    val err = intercept[IllegalArgumentException](
      AnnIndex.probeRouted(spark, dir, routed, updated, k = 5, version = v2))
    assert(err.getMessage.contains(s"v$v1") && err.getMessage.contains(s"v$v2"),
      err.getMessage)
  }
}
