package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Similarity}

/** Persisted IVF-PQ index: probe-from-store ≡ in-memory ivfPqTopK, the
  * codes scan statically prunes to the probed clusters and carries no
  * vectors, and the model JSON round-trips exactly.
  */
class AnnIndexSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf())
  private def queries = emb.filter(col("vec_id") < 8)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  private def tmp = Files.createTempDirectory("graft_ann").toString

  test("probe from the persisted index ≡ in-memory ivfPqTopK, bit-for-bit") {
    val dir = tmp
    AnnIndex.build(emb, dir)
    val stored = AnnIndex.probe(spark, dir, queries, emb, k = 5)
      .orderBy("q_id", "rank").collect()
    val mem = Similarity.ivfPqTopK(emb, queries, k = 5)
      .orderBy("q_id", "rank").collect()
    // Jackson doubles round-trip (shortest repr), so the loaded model is
    // the trained model and every sim is the identical IEEE value
    assert(stored.sameElements(mem))
  }

  test("residual store: probe ≡ in-memory ivfPqResidualTopK bit-for-bit; " +
      "flag survives the JSON; pre-flag models load as plain") {
    val dir = tmp
    val (built, v) = AnnIndex.build(emb, dir, residual = true)
    assert(built.isResidual)
    assert(AnnIndex.loadModel(dir, v).isResidual)
    val stored = AnnIndex.probe(spark, dir, queries, emb, k = 5)
      .orderBy("q_id", "rank").collect()
    val mem = Similarity.ivfPqResidualTopK(emb, queries, k = 5)
      .orderBy("q_id", "rank").collect()
    assert(stored.sameElements(mem))
    // the layout flag is wire-visible (an operator must know which
    // encode the store expects before routing mutations into it)
    GraftExtensions.register(spark)
    assert(spark.sql(s"SELECT graft_ann_model('$dir', $v).residual")
      .head().getBoolean(0))
    // a model JSON written before the field existed deserializes as a
    // plain-codes model (absent Option -> None)
    val mp = java.nio.file.Paths.get(dir, s"v$v", "model.json")
    val stripped = java.nio.file.Files.readString(mp)
      .replaceAll(""","residual":\s*true""", "")
    assert(!stripped.contains("residual"))
    java.nio.file.Files.writeString(mp, stripped)
    assert(!AnnIndex.loadModel(dir, v).isResidual)
  }

  test("residual store: ingest upsert + delete + compact all honor the " +
      "frozen residual layout (fold ≡ fresh encode of the end corpus)") {
    val dir = tmp
    val base = emb.filter(col("vec_id") % 7 =!= 0)
    val (_, v) = AnnIndex.build(base, dir, residual = true)
    // upsert the held-out slice, then delete a different slice
    AnnIndex.ingest(emb.filter(col("vec_id") % 7 === 0), dir, batchId = 1L,
      version = v)
    AnnIndex.delete(
      emb.filter(col("vec_id") % 11 === 3).select("vec_id"),
      dir, batchId = 2L, version = v)
    val nv = AnnIndex.compact(spark, dir, version = v)
    val end = emb.filter(col("vec_id") % 11 =!= 3)
    // the folded codes must equal the frozen model's re-encode of the
    // end-state corpus (residual codes included) — the maintained ≡
    // rebuilt contract
    val folded = spark.read
      .parquet(s"$dir/v$nv/codes/b=0")
      .select("vec_id", "codes", "nrm")
      .orderBy("vec_id").collect()
    val fresh = AnnIndex.encodeWith(end, dir, version = nv)
      .select("vec_id", "codes", "nrm")
      .orderBy("vec_id").collect()
    assert(folded.sameElements(fresh))
    // probes against the maintained store clear the recall gate on the
    // end-state corpus and never answer a deleted id
    val out = AnnIndex.probe(spark, dir, queries, end, k = 5, version = v)
    val deleted = out.join(
      emb.filter(col("vec_id") % 11 === 3)
        .select(col("vec_id").as("neighbor_id")), "neighbor_id")
    assert(deleted.count() == 0)
    val exact = Similarity.bruteForceTopK(end, queries, k = 5)
      .select("q_id", "neighbor_id")
    val hits = exact.join(out.select("q_id", "neighbor_id")
        .withColumn("__h", lit(1)), Seq("q_id", "neighbor_id"), "left")
      .agg(count(lit(1)), count("__h")).head()
    assert(hits.getLong(1).toDouble / hits.getLong(0) >= 0.8)
  }

  test("model JSON round-trips centroids and codebooks exactly") {
    val dir = tmp
    val (built, v) = AnnIndex.build(emb, dir)
    val loaded = AnnIndex.loadModel(dir, v)
    assert(loaded == built)
  }

  test("versions are immutable and pinnable; probe defaults to newest") {
    val dir = tmp
    assert(AnnIndex.versions(dir).isEmpty)
    val (m1, v1) = AnnIndex.build(emb, dir, nCentroids = 8)
    val (m2, v2) = AnnIndex.build(emb, dir, nCentroids = 16)
    assert(v1 == 1 && v2 == 2 && AnnIndex.versions(dir) == Seq(1, 2))
    // the pin: v1 re-read AFTER v2 landed is the same model
    assert(AnnIndex.loadModel(dir, v1) == m1)
    assert(AnnIndex.loadModel(dir, v2) == m2)
    assert(m1.fine.length == 8 && m2.fine.length == 16)
    // pinned probes answer from their own version's artifacts; the
    // default probe answers from the newest
    val p1 = AnnIndex.probe(spark, dir, queries, emb, k = 5, version = v1)
      .orderBy("q_id", "rank").collect()
    val pLatest = AnnIndex.probe(spark, dir, queries, emb, k = 5)
      .orderBy("q_id", "rank").collect()
    val p2 = AnnIndex.probe(spark, dir, queries, emb, k = 5, version = v2)
      .orderBy("q_id", "rank").collect()
    assert(pLatest.sameElements(p2))
    assert(p1.nonEmpty && p2.nonEmpty)
  }

  test("the probe scans ONLY probed clusters' codes, and no vectors") {
    val dir = tmp
    AnnIndex.build(emb, dir, nCentroids = 16)
    // the probe is eager: read the scan off the plans it executed
    val codeScans = executedNodes {
      AnnIndex.probe(spark, dir, queries.limit(2), emb, k = 5, nprobe = 2)
    }.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dir))
        => s
    }
    assert(codeScans.nonEmpty, "expected a scan over the stored codes")
    codeScans.foreach { s =>
      // static pruning: the partition filter binds c_id to the probed set
      assert(s.partitionFilters.nonEmpty,
        s"codes scan should carry a partition filter:\n$s")
      // 2 queries × nprobe=2 probes ≤ 4 of the 16 cluster directories
      assert(s.selectedPartitions.partitionCount <= 4,
        s"probe should read ≤ 4 of 16 partitions, " +
          s"read ${s.selectedPartitions.partitionCount}")
      // codes-only: the data schema read off disk has codes+norm+id, no
      // embedding column
      val read = s.requiredSchema.fieldNames.toSet
      assert(!read.contains("embedding"),
        s"codes scan must not read vectors, read: $read")
    }
  }

  test("filtered probe: only allowed ids answer, k slots still fill " +
      "under a selective filter (pre-filter, not post-filter), codes " +
      "scan still prunes to probed clusters") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16)
    val allowed = emb.filter(col("vec_id") % 3 === 1).select("vec_id")
    // parity config: filtered probe == exact cosine top-5 over the
    // allowed subset
    val out = AnnIndex.probe(spark, dir, queries, emb, k = 5,
        nprobe = 16, rerank = 1 << 20, version = v,
        allowed = Some(allowed))
      .orderBy("q_id", "rank").collect()
    val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 3 === 1), queries, k = 5)
      .orderBy("q_id", "rank").collect()
    assert(out.sameElements(exact),
      "filtered parity probe must equal exact top-k over the subset")
    val nIdx = 1 // (q_id, neighbor_id, sim, rank)
    assert(out.forall(_.getLong(nIdx) % 3 == 1), "disallowed id answered")
    // every query fills k slots even though only ~1/3 of ids pass — the
    // shortlist is built AFTER the filter, so selectivity cannot starve
    assert(out.groupBy(_.getLong(0)).forall(_._2.length == 5))
    // production config: pruning unaffected by the filter
    val codeScans = executedNodes {
      AnnIndex.probe(spark, dir, queries.limit(2), emb, k = 5,
        nprobe = 2, version = v, allowed = Some(allowed))
    }.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dir))
        => s
    }
    assert(codeScans.nonEmpty)
    codeScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"filtered codes scan must still statically prune:\n$s")
      assert(s.selectedPartitions.partitionCount <= 4,
        s"read ${s.selectedPartitions.partitionCount} of 16 partitions")
    }
  }

  test("build writes one directory per non-empty cluster, codes only") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 8)
    // the build's corpus codes are batch b=0 of the version's codes table
    assert(AnnIndex.committedBatches(dir, v) == Seq(0L))
    val codes = spark.read.parquet(s"$dir/v$v/codes/b=0")
    assert(codes.columns.sorted.toSeq == Seq("c_id", "codes", "nrm", "vec_id"))
    // every corpus vector is indexed exactly once
    assert(codes.count() == emb.count())
    assert(codes.select("vec_id").distinct().count() == emb.count())
    // cluster ids land in [0, 8)
    val cids = codes.select("c_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cids.subsetOf((0 until 8).toSet) && cids.nonEmpty)
  }

  // ------------------------------------------------- incremental ingest

  private def half = emb.filter(col("vec_id") % 2 === 0)
  private def rest = emb.filter(col("vec_id") % 2 === 1)

  test("ingest ≡ one-shot: probe output invariant to the batch split") {
    // model trained on HALF the corpus; the rest arrives incrementally.
    // For a FIXED frozen model the codes table is a pure function of the
    // ingested row SET — so any batch split must probe identically.
    val dirOne = tmp
    val (_, vOne) = AnnIndex.build(half, dirOne)
    AnnIndex.ingest(rest, dirOne, batchId = 1L, version = vOne)
    // disjoint slices (the NEW-ids-only ingest contract), two batches
    val dirSplit = tmp
    val (_, vSplit) = AnnIndex.build(half, dirSplit)
    AnnIndex.ingest(rest.filter(col("vec_id") % 4 === 1), dirSplit,
      batchId = 1L, version = vSplit)
    AnnIndex.ingest(rest.filter(col("vec_id") % 4 === 3), dirSplit,
      batchId = 2L, version = vSplit)
    val pOne = AnnIndex.probe(spark, dirOne, queries, emb, k = 5,
      version = vOne).orderBy("q_id", "rank").collect()
    val pSplit = AnnIndex.probe(spark, dirSplit, queries, emb, k = 5,
      version = vSplit).orderBy("q_id", "rank").collect()
    // (models are trained on the same half-corpus by the same
    // deterministic routine, so the two stores share a model)
    assert(pOne.sameElements(pSplit))
  }

  test("ingest retry is idempotent: re-running a batch changes nothing") {
    val dir = tmp
    val (_, v) = AnnIndex.build(half, dir)
    AnnIndex.ingest(rest, dir, batchId = 1L, version = v)
    val before = AnnIndex.probe(spark, dir, queries, emb, k = 5, version = v)
      .orderBy("q_id", "rank").collect()
    val nBefore = spark.read
      .option("basePath", s"$dir/v$v/codes")
      .parquet(s"$dir/v$v/codes/b=0", s"$dir/v$v/codes/b=1").count()
    // at-least-once delivery: the same batch arrives again (retry after a
    // lost ack) — the wholesale overwrite of b=1 must leave the store
    // byte-equivalent, never doubled
    AnnIndex.ingest(rest, dir, batchId = 1L, version = v)
    val after = AnnIndex.probe(spark, dir, queries, emb, k = 5, version = v)
      .orderBy("q_id", "rank").collect()
    val nAfter = spark.read
      .option("basePath", s"$dir/v$v/codes")
      .parquet(s"$dir/v$v/codes/b=0", s"$dir/v$v/codes/b=1").count()
    assert(nBefore == nAfter)
    assert(before.sameElements(after))
    assert(AnnIndex.committedBatches(dir, v) == Seq(0L, 1L))
  }

  test("ingested vectors are probe-visible with exact self-similarity") {
    val dir = tmp
    val (_, v) = AnnIndex.build(half, dir)
    AnnIndex.ingest(rest, dir, batchId = 1L, version = v)
    // probe WITH an ingested vector: it must come back as its own top
    // neighbor is excluded (id == q_id is filtered), but a duplicate of
    // it planted under a fresh id must hit sim ≈ 1
    val probeVec = rest.limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val q = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        -1L, probeVec.getSeq[Float](1))),
      new org.apache.spark.sql.types.StructType()
        .add("q_id", "long").add("q_vec", "array<float>"))
    val top = AnnIndex.probe(spark, dir, q, emb, k = 1, version = v)
      .collect()(0)
    assert(top.getAs[Long]("neighbor_id") == probeVec.getLong(0),
      s"expected the ingested twin ${probeVec.getLong(0)}, got $top")
    assert(math.abs(top.getAs[Double]("sim") - 1.0) < 1e-6)
  }

  test("multi-batch probe still statically prunes (latest-wins path)") {
    // the upsert-resolution window must sit ABOVE the pruned scan, not
    // widen it: with 2 committed batches the probe may touch at most
    // (probed clusters) x (batches) partition directories
    val dir = tmp
    AnnIndex.build(half, dir, nCentroids = 16)
    AnnIndex.ingest(rest, dir, batchId = 1L)
    val codeScans = executedNodes {
      AnnIndex.probe(spark, dir, queries.limit(2), emb, k = 5, nprobe = 2)
    }.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dir))
        => s
    }
    assert(codeScans.nonEmpty, "expected a scan over the stored codes")
    codeScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"multi-batch codes scan lost its partition filter:\n$s")
      assert(s.selectedPartitions.partitionCount <= 8,
        "2 queries x nprobe=2 over 2 batches must read <= 8 of 32 " +
          s"cluster directories, read ${s.selectedPartitions.partitionCount}")
    }
  }

  // ------------------------------------------------------ upsert + compact

  test("re-ingested id answers ONCE, with the newer vector") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir)
    // re-embed one corpus id with a very different vector (reversed), then
    // probe WITH that new vector: the id must come back exactly once, at
    // sim ≈ 1 (scored against the new vector) — never twice (stale row
    // double-answer) and never under its old embedding
    val victim = emb.orderBy("vec_id").limit(1).collect()(0)
    val vid = victim.getLong(0)
    val newVec = victim.getSeq[Float](1).reverse
    val upsert = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(vid, newVec)),
      new org.apache.spark.sql.types.StructType()
        .add("vec_id", "long").add("embedding", "array<float>"))
    AnnIndex.ingest(upsert, dir, batchId = 1L, version = v)
    val updated = emb.select("vec_id", "embedding")
      .filter(col("vec_id") =!= vid).unionByName(upsert)
    val q = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(-1L, newVec)),
      new org.apache.spark.sql.types.StructType()
        .add("q_id", "long").add("q_vec", "array<float>"))
    val out = AnnIndex.probe(spark, dir, q, updated, k = 8, nprobe = 16,
      version = v).collect()
    val hits = out.filter(_.getAs[Long]("neighbor_id") == vid)
    assert(hits.length == 1,
      s"upserted id must answer exactly once, got ${hits.length}")
    assert(math.abs(hits(0).getAs[Double]("sim") - 1.0) < 1e-6,
      s"upserted id must score against its NEW vector, got ${hits(0)}")
  }

  test("compact folds batches to one; probes are bit-identical") {
    val dir = tmp
    val (_, v) = AnnIndex.build(half, dir)
    AnnIndex.ingest(rest.filter(col("vec_id") % 4 === 1), dir,
      batchId = 1L, version = v)
    AnnIndex.ingest(rest.filter(col("vec_id") % 4 === 3), dir,
      batchId = 2L, version = v)
    // shadow some ids too: batch 3 re-carries rows already in batch 1
    AnnIndex.ingest(rest.filter(col("vec_id") % 8 === 1), dir,
      batchId = 3L, version = v)
    val before = AnnIndex.probe(spark, dir, queries, emb, k = 5,
      version = v).orderBy("q_id", "rank").collect()
    val nv = AnnIndex.compact(spark, dir, version = v)
    // the fold: a NEW single-batch version under the SAME model; the
    // source version is undisturbed for pinned readers
    assert(nv > v)
    assert(AnnIndex.committedBatches(dir, nv) == Seq(0L))
    assert(AnnIndex.committedBatches(dir, v) == Seq(0L, 1L, 2L, 3L))
    assert(AnnIndex.loadModel(dir, nv) == AnnIndex.loadModel(dir, v))
    // every id exactly once in the folded codes
    val codes = spark.read.parquet(s"$dir/v$nv/codes/b=0")
    assert(codes.count() == emb.count())
    assert(codes.select("vec_id").distinct().count() == emb.count())
    val after = AnnIndex.probe(spark, dir, queries, emb, k = 5,
      version = nv).orderBy("q_id", "rank").collect()
    assert(before.sameElements(after))
    val pinned = AnnIndex.probe(spark, dir, queries, emb, k = 5,
      version = v).orderBy("q_id", "rank").collect()
    assert(pinned.sameElements(before))
  }

  test("deleted id never answers; delete-then-re-add resurrects it") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir)
    val victim = emb.orderBy("vec_id").limit(1).collect()(0)
    val vid = victim.getLong(0)
    val vec = victim.getSeq[Float](1)
    import spark.implicits._
    AnnIndex.delete(Seq(vid).toDF("vec_id"), dir, batchId = 1L, version = v)
    val survivors = emb.filter(col("vec_id") =!= vid)
    // probe WITH the deleted id's own vector, every cluster: even the
    // perfect-match id must be absent — the tombstone shadows its data
    // row regardless of which cluster holds it
    val q = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(-1L, vec)),
      new org.apache.spark.sql.types.StructType()
        .add("q_id", "long").add("q_vec", "array<float>"))
    val out = AnnIndex.probe(spark, dir, q, survivors, k = 8, nprobe = 16,
      version = v).collect()
    assert(out.nonEmpty, "survivors still answer")
    assert(!out.exists(_.getAs[Long]("neighbor_id") == vid),
      "deleted id must never answer")
    // re-add in a later batch: the newer data row wins over the tombstone
    val readd = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(vid, vec)),
      new org.apache.spark.sql.types.StructType()
        .add("vec_id", "long").add("embedding", "array<float>"))
    AnnIndex.ingest(readd, dir, batchId = 2L, version = v)
    val back = AnnIndex.probe(spark, dir, q, emb, k = 8, nprobe = 16,
      version = v).collect().filter(_.getAs[Long]("neighbor_id") == vid)
    assert(back.length == 1, "re-added id answers exactly once")
    assert(math.abs(back(0).getAs[Double]("sim") - 1.0) < 1e-6)
  }

  test("delete retry is idempotent; compact drops tombstoned ids and " +
      "tombstones entirely") {
    import spark.implicits._
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir)
    val delIds = emb.filter(col("vec_id") % 5 === 2).select("vec_id")
    AnnIndex.delete(delIds, dir, batchId = 1L, version = v)
    val before = AnnIndex.probe(spark, dir, queries, emb, k = 5,
      version = v).orderBy("q_id", "rank").collect()
    // retry the SAME delete batch: wholesale overwrite, nothing changes
    AnnIndex.delete(delIds, dir, batchId = 1L, version = v)
    val retried = AnnIndex.probe(spark, dir, queries, emb, k = 5,
      version = v).orderBy("q_id", "rank").collect()
    assert(retried.sameElements(before))
    val nv = AnnIndex.compact(spark, dir, version = v)
    // folded codes: survivors only, every id once, no tombstone rows or
    // tombstone partition left anywhere
    val codes = spark.read.parquet(s"$dir/v$nv/codes/b=0")
    val nDeleted = delIds.count()
    assert(codes.count() == emb.count() - nDeleted)
    assert(codes.filter(col("vec_id") % 5 === 2).count() == 0)
    assert(codes.filter(col("codes").isNull).count() == 0)
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$dir/v$nv/codes/b=0/c_id=${AnnIndex.TombstoneCluster}")))
    // compacted probe ≡ multi-batch probe at full nprobe
    val after = AnnIndex.probe(spark, dir, queries, emb, k = 5,
      nprobe = 16, version = nv).orderBy("q_id", "rank").collect()
    val full = AnnIndex.probe(spark, dir, queries, emb, k = 5,
      nprobe = 16, version = v).orderBy("q_id", "rank").collect()
    assert(after.sameElements(full))
  }

  test("streaming maintenance folds micro-batches in exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp
    val (_, v) = AnnIndex.build(half, dir)
    val restRows = rest
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .collect()
    val src = MemoryStream[(Long, Seq[Float])]
    src.addData(restRows.map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)
    val q = AnnIndex.maintainStream(
        src.toDF().selectExpr("_1 as vec_id",
          "cast(_2 as array<float>) as embedding"),
        dir, v)
      .option("checkpointLocation", tmp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = AnnIndex.probe(spark, dir, queries, emb, k = 5,
      version = v).orderBy("q_id", "rank").collect()
    // reference store: the same rows ingested as one explicit batch
    val dirRef = tmp
    val (_, vRef) = AnnIndex.build(half, dirRef)
    AnnIndex.ingest(rest, dirRef, batchId = 1L, version = vRef)
    val direct = AnnIndex.probe(spark, dirRef, queries, emb, k = 5,
      version = vRef).orderBy("q_id", "rank").collect()
    assert(streamed.sameElements(direct))
  }

  private def vecT = emb.schema("embedding").dataType

  test("applyMutations routes a mixed batch ≡ delete-after-ingest") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16)
    val ups = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        lit("MUTATION").as("opcode"), lit(1L).as("seqno"))
    val dels = emb.filter(col("vec_id") % 9 === 4)
      .select(col("vec_id"), lit(null).cast(vecT).as("embedding"),
        lit("DELETION").as("opcode"), lit(2L).as("seqno"))
    AnnIndex.applyMutations(ups.unionByName(dels), dir, batchId = 1L,
      version = v, seqnoCol = Some("seqno"))
    // reference store: the same mutations as separate ingest then
    // delete batches — delete at the HIGHER batch id, matching the
    // feed's seqno order for the overlap ids (vec_id ≡ 40 mod 90)
    val dirRef = tmp
    val vRef = AnnIndex.build(emb, dirRef, nCentroids = 16)._2
    AnnIndex.ingest(emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      dirRef, batchId = 1L, version = vRef)
    AnnIndex.delete(emb.filter(col("vec_id") % 9 === 4).select("vec_id"),
      dirRef, batchId = 2L, version = vRef)
    val survivors = emb.filter(col("vec_id") % 9 =!= 4)
    val updated = survivors.filter(col("vec_id") % 10 =!= 0)
      .select("vec_id", "embedding")
      .unionByName(survivors.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
    val q2 = updated.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val mixed = AnnIndex.probe(spark, dir, q2, updated, k = 5,
      nprobe = 16, version = v).orderBy("q_id", "rank").collect()
    val twoCall = AnnIndex.probe(spark, dirRef, q2, updated, k = 5,
      nprobe = 16, version = vRef).orderBy("q_id", "rank").collect()
    assert(mixed.sameElements(twoCall))
    val nIdx = 1 // q_id, neighbor_id, sim, rank — probe's contract
    assert(mixed.forall(_.getLong(nIdx) % 9 != 4))
  }

  test("applyMutations on a RESIDUAL store: mixed batch encodes residual " +
      "codes ≡ ingest-then-delete (the deletion branch never routes)") {
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16, residual = true)
    val ups = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        lit("MUTATION").as("opcode"), lit(1L).as("seqno"))
    val dels = emb.filter(col("vec_id") % 9 === 4)
      .select(col("vec_id"), lit(null).cast(vecT).as("embedding"),
        lit("DELETION").as("opcode"), lit(2L).as("seqno"))
    AnnIndex.applyMutations(ups.unionByName(dels), dir, batchId = 1L,
      version = v, seqnoCol = Some("seqno"))
    val dirRef = tmp
    val vRef = AnnIndex.build(emb, dirRef, nCentroids = 16,
      residual = true)._2
    AnnIndex.ingest(emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      dirRef, batchId = 1L, version = vRef)
    AnnIndex.delete(emb.filter(col("vec_id") % 9 === 4).select("vec_id"),
      dirRef, batchId = 2L, version = vRef)
    val survivors = emb.filter(col("vec_id") % 9 =!= 4)
    val updated = survivors.filter(col("vec_id") % 10 =!= 0)
      .select("vec_id", "embedding")
      .unionByName(survivors.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
    val q2 = updated.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val mixed = AnnIndex.probe(spark, dir, q2, updated, k = 5,
      nprobe = 16, version = v).orderBy("q_id", "rank").collect()
    val twoCall = AnnIndex.probe(spark, dirRef, q2, updated, k = 5,
      nprobe = 16, version = vRef).orderBy("q_id", "rank").collect()
    assert(mixed.sameElements(twoCall))
    // the mixed batch's upsert rows carry RESIDUAL codes: bit-equal to
    // the frozen model's re-encode of the new vectors (overlap ids —
    // upserted AND deleted in one batch, vec_id ≡ 40 mod 90 — resolve
    // to the higher-seqno DELETION and so carry no data row)
    val batchCodes = spark.read.parquet(s"$dir/v$v/codes/b=1")
      .filter(col("codes").isNotNull)
      .select("vec_id", "codes", "nrm").orderBy("vec_id").collect()
    val fresh = AnnIndex.encodeWith(
        emb.filter(col("vec_id") % 10 === 0 && col("vec_id") % 9 =!= 4)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        dir, version = v)
      .select("vec_id", "codes", "nrm").orderBy("vec_id").collect()
    assert(batchCodes.sameElements(fresh))
  }

  test("applyMutations: within-batch seqno decides delete-vs-readd") {
    import spark.implicits._
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 8)
    val twoIds = emb.filter(col("vec_id").isin(2L, 3L))
      .select(col("vec_id"), col("embedding")).collect()
    val vec2 = twoIds.find(_.getLong(0) == 2L).get.getSeq[Float](1)
    val vec3 = twoIds.find(_.getLong(0) == 3L).get.getSeq[Float](1)
    // id 2: DELETION then MUTATION (re-add wins); id 3: MUTATION then
    // DELETION (delete wins) — all four events in ONE batch. The re-add
    // carries the ORIGINAL vector: this test pins ORDERING semantics,
    // so the vectors stay in the PQ codebooks' distribution (an
    // out-of-distribution re-embed can legitimately fall out of the
    // ADC shortlist — that is approximation, not ordering)
    val feed = Seq(
      (2L, Option.empty[Seq[Float]], "DELETION", 1L),
      (2L, Some(vec2), "MUTATION", 2L),
      (3L, Some(vec3), "MUTATION", 3L),
      (3L, Option.empty[Seq[Float]], "DELETION", 4L))
      .toDF("vec_id", "embedding", "opcode", "seqno")
      .select(col("vec_id"), col("embedding").cast(vecT),
        col("opcode"), col("seqno"))
    AnnIndex.applyMutations(feed, dir, batchId = 1L, version = v,
      seqnoCol = Some("seqno"))
    val updated = emb.filter(col("vec_id") =!= 3L)
      .select("vec_id", "embedding")
    // synthetic query ids (the probe excludes q_id = neighbor_id
    // self-matches): a probe AT id 2's exact vector must answer id 2 at
    // rank 1 (re-added); a probe at id 3's must never answer id 3
    val q2 = emb.filter(col("vec_id").isin(2L, 3L))
      .select((col("vec_id") - 100L).as("q_id"),
        col("embedding").as("q_vec"))
    val res = AnnIndex.probe(spark, dir, q2, updated, k = 5,
      nprobe = 8, version = v).collect()
    assert(res.exists(r => r.getLong(0) == -98L && r.getLong(1) == 2L
        && r.getLong(3) == 1L),
      "re-added id should answer its exact-vector probe at rank 1")
    assert(res.forall(_.getLong(1) != 3L), "deleted id must never answer")
  }

  test("mixed change stream across micro-batches ≡ one-shot applyMutations") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 16)
    val upRows = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("e")).collect()
      .map(r => (r.getLong(0), Some(r.getSeq[Float](1)), "MUTATION",
        r.getLong(0) * 2 + 1))
    val delRows = emb.filter(col("vec_id") % 9 === 4).select("vec_id")
      .collect()
      .map(r => (r.getLong(0), Option.empty[Seq[Float]], "DELETION",
        r.getLong(0) * 2 + 2))
    // split by id parity, delivered as two SEPARATE stream runs over one
    // checkpoint (AvailableNow drains all pending blocks into one
    // micro-batch, so two addData calls before one start() would fold) —
    // each id's events stay within one micro-batch, and the restart also
    // exercises checkpoint-resumed batch numbering
    val all = (upRows ++ delRows).toSeq
    val src = MemoryStream[(Long, Option[Seq[Float]], String, Long)]
    val ckpt = tmp
    def run(): Unit = {
      val sq = AnnIndex.maintainChangeStream(
          src.toDF().selectExpr("_1 as vec_id",
            "cast(_2 as array<float>) as embedding", "_3 as opcode",
            "_4 as seqno"),
          dir, v)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    src.addData(all.filter(_._1 % 2 == 0))
    run()
    src.addData(all.filter(_._1 % 2 == 1))
    run()
    assert(AnnIndex.committedBatches(dir, v).length == 3,
      "build batch + one batch per micro-batch")
    val dirRef = tmp
    val vRef = AnnIndex.build(emb, dirRef, nCentroids = 16)._2
    val feed = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        lit("MUTATION").as("opcode"),
        (col("vec_id") * 2 + 1).cast("long").as("seqno"))
      .unionByName(emb.filter(col("vec_id") % 9 === 4)
        .select(col("vec_id"), lit(null).cast(vecT).as("embedding"),
          lit("DELETION").as("opcode"),
          (col("vec_id") * 2 + 2).cast("long").as("seqno")))
    AnnIndex.applyMutations(feed, dirRef, batchId = 1L, version = vRef,
      seqnoCol = Some("seqno"))
    val survivors = emb.filter(col("vec_id") % 9 =!= 4)
    val updated = survivors.filter(col("vec_id") % 10 =!= 0)
      .select("vec_id", "embedding")
      .unionByName(survivors.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
    val q2 = updated.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val streamed = AnnIndex.probe(spark, dir, q2, updated, k = 5,
      nprobe = 16, version = v).orderBy("q_id", "rank").collect()
    val oneShot = AnnIndex.probe(spark, dirRef, q2, updated, k = 5,
      nprobe = 16, version = vRef).orderBy("q_id", "rank").collect()
    assert(streamed.sameElements(oneShot))
  }

  test("retrain re-fits the model from the resolved live rows: answers " +
      "preserved in parity config, single-batch rollover, residual " +
      "layout inherited") {
    val dir = tmp
    // drift staging: routing trained on a quarter, rest ingested frozen,
    // a slice deleted
    val (_, v1) = AnnIndex.build(emb.filter(col("vec_id") % 4 === 0), dir,
      nCentroids = 8, residual = true)
    AnnIndex.ingest(emb.filter(col("vec_id") % 4 =!= 0), dir,
      batchId = 1L, version = v1)
    AnnIndex.delete(emb.filter(col("vec_id") % 11 === 3).select("vec_id"),
      dir, batchId = 2L, version = v1)
    val (m2, v2) = AnnIndex.retrain(spark, dir, emb, version = v1)
    assert(v2 == v1 + 1)
    // layout: single fresh batch; geometry AND residual flag inherited
    // from the source model (no explicit args — a drift recovery must
    // not silently swap the deployed quantization geometry)
    assert(AnnIndex.committedBatches(dir, v2) == Seq(0L))
    assert(m2.isResidual, "retrain must inherit the source residual layout")
    val src = AnnIndex.loadModel(dir, v1)
    assert(m2.fine.length == src.fine.length && m2.m == src.m &&
      m2.codebookK == src.codebookK && m2.coarseProbes == src.coarseProbes,
      "retrain must inherit the source PQ geometry")
    // a vectors frame with duplicate rows for a live id is rejected (it
    // would land twice in the single-batch version, unresolvable)
    val dup = emb.unionByName(emb.limit(3))
    val e = intercept[IllegalArgumentException](
      AnnIndex.retrain(spark, dir, dup, version = v2))
    assert(e.getMessage.contains("duplicate"))
    // live set: exactly the survivors, no deletions carried over
    val survivors = emb.filter(col("vec_id") % 11 =!= 3)
    val st = AnnIndex.stats(spark, dir, version = v2).head()
    assert(st.getLong(0) == survivors.count() && st.getLong(1) == 0L)
    val liveIds = spark.read.parquet(s"$dir/v$v2/codes/b=0")
      .select("vec_id").orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(liveIds ==
      survivors.select("vec_id").orderBy("vec_id")
        .collect().map(_.getLong(0)).toSeq)
    // answer preservation: in the parity configuration both versions'
    // probes are the exact cosine top-5 over the live set — equality is
    // model-independent even though the layouts share nothing
    val qs = survivors.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val pNew = AnnIndex.probe(spark, dir, qs, survivors, k = 5,
      nprobe = 8, rerank = 1 << 20, version = v2)
      .orderBy("q_id", "rank").collect()
    val pOld = AnnIndex.probe(spark, dir, qs, survivors, k = 5,
      nprobe = 8, rerank = 1 << 20, version = v1)
      .orderBy("q_id", "rank").collect()
    assert(pNew.sameElements(pOld))
    // the source version is intact for pinned readers
    assert(AnnIndex.committedBatches(dir, v1) == Seq(0L, 1L, 2L))
  }

  test("SQL wire: graft_ann_retrain rolls the store forward from SQL " +
      "alone (layout inherited, deletions folded out)") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val dir = tmp
    emb.createOrReplaceTempView("graft_retrain_vecs")
    val v1 = spark.sql(
      s"""SELECT graft_ann_build('$dir', 'graft_retrain_vecs', 8)""")
      .as[Int].head()
    AnnIndex.delete(emb.filter(col("vec_id") % 5 === 2).select("vec_id"),
      dir, batchId = 1L, version = v1)
    val v2 = spark.sql(
      s"SELECT graft_ann_retrain('$dir', 'graft_retrain_vecs', $v1, 8)")
      .as[Int].head()
    assert(v2 == v1 + 1)
    val facts = spark.sql(s"SELECT graft_ann_latest('$dir') AS f")
      .select("f.version", "f.n_batches", "f.residual").head()
    assert(facts.getInt(0) == v2 && facts.getInt(1) == 1 &&
      !facts.getBoolean(2))
    val stats = spark.sql(s"SELECT graft_ann_stats('$dir', $v2) AS s")
      .select("s.n_vectors", "s.n_deleted").head()
    assert(stats.getLong(0) ==
      emb.filter(col("vec_id") % 5 =!= 2).count() && stats.getLong(1) == 0L)
    // arity/type misuse is an analysis-time failure
    val e = intercept[Exception](
      spark.sql(s"SELECT graft_ann_retrain('$dir')").collect())
    assert(e.getMessage.contains("graft_ann_retrain"))
  }

  // ------------------------------------------------------- SQL wire surface

  test("SQL wire: versions/model/latest discover and pin index versions") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val dir = tmp
    def q(sql: String) = spark.sql(sql)
    // empty store: no versions, latest NULL
    assert(q(s"SELECT graft_ann_versions('$dir')").as[Seq[Int]].head().isEmpty)
    assert(q(s"SELECT graft_ann_latest('$dir')").head().isNullAt(0))
    val (model, v1) = AnnIndex.build(emb, dir, nCentroids = 8)
    assert(q(s"SELECT graft_ann_versions('$dir')")
      .as[Seq[Int]].head() == Seq(v1))
    val row = q(
      s"SELECT s.* FROM (SELECT graft_ann_model('$dir', $v1) AS s)").head()
    assert(row.getAs[Int]("version") == v1)
    assert(row.getAs[Int]("m") == model.m)
    assert(row.getAs[Int]("codebook_k") == model.codebookK)
    assert(row.getAs[Int]("n_centroids") == 8)
    assert(row.getAs[Int]("dim") == model.fine.head.length)
    assert(row.getAs[Int]("n_batches") == 1)
    assert(row.getAs[scala.collection.Seq[Long]]("batches") == Seq(0L))
    assert(!row.getAs[Boolean]("residual"))
    // an absent version is NULL, not an error
    assert(q(s"SELECT graft_ann_model('$dir', 99)").head().isNullAt(0))
    // an ingest shows up in the committed batch ids — the rebuild signal
    AnnIndex.ingest(emb.filter(col("vec_id") % 2 === 1), dir,
      batchId = 1L, version = v1)
    assert(q(s"SELECT graft_ann_latest('$dir').batches")
      .as[Seq[Long]].head() == Seq(0L, 1L))
    // a second build becomes latest; the pinned model is undisturbed
    val (_, v2) = AnnIndex.build(emb, dir, nCentroids = 4)
    assert(q(s"SELECT graft_ann_latest('$dir').version")
      .as[Int].head() == v2)
    assert(q(s"SELECT graft_ann_model('$dir', $v1).n_centroids")
      .as[Int].head() == 8)
  }

  test("SQL wire: a BIGINT batch id beyond Int range commits as ITSELF " +
      "(never truncated onto an existing batch); emptied-store stats " +
      "report zeros, not nulls") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val dir = tmp
    val (_, v) = AnnIndex.build(emb, dir, nCentroids = 8)
    emb.filter(col("vec_id") % 2 === 1)
      .createOrReplaceTempView("graft_bigbatch_vecs")
    // 2^32 + 1 would truncate to batch 1 through an Int — and batch-id
    // collisions are overwrite-on-collision, so truncation = data loss
    val big = 4294967297L
    spark.sql(
      s"SELECT graft_ann_ingest('$dir', 'graft_bigbatch_vecs', $big)")
      .collect()
    assert(AnnIndex.committedBatches(dir, v).contains(big))
    assert(!AnnIndex.committedBatches(dir, v).contains(1L))
    // an out-of-range version is ABSENT (null), not a truncated probe
    assert(spark.sql(s"SELECT graft_ann_model('$dir', $big)")
      .head().isNullAt(0))
    // empty a fresh store entirely: stats must report (0, n, 0, 0)
    val dir2 = tmp
    val (_, v2) = AnnIndex.build(emb, dir2, nCentroids = 8)
    AnnIndex.delete(emb.select("vec_id"), dir2, batchId = 1L, version = v2)
    val st = spark.sql(s"SELECT graft_ann_stats('$dir2', $v2) AS s")
      .select("s.n_vectors", "s.n_deleted", "s.n_clusters", "s.max_cluster")
      .head()
    assert(st.getLong(0) == 0L && st.getLong(1) == emb.count() &&
      st.getLong(2) == 0L && st.getLong(3) == 0L)
  }

  test("SQL wire: type errors are analysis-time failures") {
    GraftExtensions.register(spark)
    val e1 = intercept[Exception](
      spark.sql("SELECT graft_ann_versions(42)").collect())
    assert(e1.getMessage.contains("graft_ann_versions"))
    val e2 = intercept[Exception](
      spark.sql("SELECT graft_ann_model('/x', 'notanint')").collect())
    assert(e2.getMessage.contains("graft_ann_model"))
    val e3 = intercept[Exception](
      spark.sql("SELECT graft_ann_latest(array(1))").collect())
    assert(e3.getMessage.contains("graft_ann_latest"))
  }
}
