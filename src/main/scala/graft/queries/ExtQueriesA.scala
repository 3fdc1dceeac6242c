package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.model._
import graft.operators._
import graft.streaming.StreamingIndex

/** Training-data extensions, first tier: dedup/similarity/text/charset/main-content
  * (pure move out of Queries.scala — no behavior change).
  */
private[graft] trait ExtQueriesA extends IndexQueries {
  // the traits form one object (Queries); forward references across
  // tiers resolve through the self-type, exactly as in the single file
  self: OraclesExt =>

  // ------------------------------------------- training-data extensions (M5)

  val dedupExact: Q = (s, d) =>
    Dedup.exact(docs(s, d)).orderBy("text_hash")

  val dedupJaccardPairs: Q = (s, d) =>
    Dedup.jaccardPairs(docs(s, d), "source", 0.5).orderBy("id_a", "id_b")

  val dedupNgramJaccard: Q = (s, d) =>
    Dedup.ngramJaccardPairs(docs(s, d), "source", 0.3, n = 3)
      .orderBy("id_a", "id_b")

  val dedupClusters: Q = (s, d) =>
    Dedup.clusters(docs(s, d), "source", 0.5).orderBy("doc_id")

  /** MinHash+LSH with the cross-engine md5+affine hash family, so the
    * ENTIRE pipeline — signatures, banding, bucket cap, exact-Jaccard
    * verify — is recomputed and hash-checked by the DuckDB oracle.
    */
  val dedupMinhashLsh: Q = (s, d) =>
    Dedup.minhashLsh(docs(s, d), threshold = 0.5, hashKind = "md5")
      .orderBy("id_a", "id_b")

  /** SimHash near-dup pairs with the md5-based token hash, so DuckDB can
    * recompute the signatures (as two 32-bit halves — its BIGINT shifts
    * cap at bit 62) and the WHOLE pipeline — signature, pigeonhole chunk
    * blocking, Hamming filter — is oracle-checked, not just rows-counted.
    */
  val dedupSimhash: Q = (s, d) =>
    Dedup.simhashPairs(docs(s, d), maxDist = 3, hashKind = "md5")
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")

  val dedupEmbeddingExact: Q = (s, d) =>
    Similarity.nearDupPairsExact(Tables.embeddings(s, d), 0.4)
      .orderBy("id_a", "id_b")

  /** Embedding near-dup via hyperplane LSH with a PINNED bit width, so
    * the (seed-42) plane tensor can be inlined into the oracle as double
    * literals and DuckDB recomputes buckets, pair generation and cosine
    * verify from scratch. The adaptive-width path (autoBits) remains the
    * API default and is exercised by `sim_ann_lsh`.
    */
  val dedupEmbeddingLsh: Q = (s, d) =>
    Similarity.lshNearDupPairs(Tables.embeddings(s, d), 0.4, dim = 64, bits = 5)
      .orderBy("id_a", "id_b")

  /** ANN bucket INDEX: hyperplane-LSH buckets as a SQL-function-driven
    * array-index key — the similarity extension flowing through the core
    * index machinery (expression key O3 + array index O12), so bucket
    * tables are buildable and incrementally maintainable like any other
    * index. Entry key = table * 2^bits + bucket.
    */
  val idxLshBuckets: Q = (s, d) => {
    GraftExtensions.register(s)
    IndexBuilder.build(Tables.embeddings(s, d),
      IndexDef("idx_ann_buckets", "embeddings", "vec_id",
        secExprs = Seq(
          "transform(lsh_buckets(embedding, 64, 16, 5), (b, i) -> i * 32 + b)"),
        isArrayIndex = true))
  }

  val simTopkBruteforce: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.bruteForceTopK(emb, queries, k = 5)
      .withColumn("sim", round(col("sim"), 6))
      .orderBy("q_id", "rank")
  }

  /** ANN recall gates, oracled: Spark computes recall@5 of the approximate
    * variant against its own exact baseline and asserts it ≥ 0.8; the
    * oracle pins n_queries, k and the assertion constant — a recall
    * regression flips `recall_ok` and breaks the hash match. (The top-k
    * lists themselves are xxhash64/hyperplane-internal, inexpressible in
    * ANSI SQL — this turns the ScalaTest recall contract into a driver-
    * checkable query.)
    */
  private[graft] def annRecallQuery(s: SparkSession, d: String,
                             approx: (DataFrame, DataFrame) => DataFrame): DataFrame =
    annRecallQueryOver(s, Tables.embeddings(s, d), approx)

  /** [[annRecallQuery]] over an explicit corpus frame — the upsert
    * variant gates recall against the UPDATED corpus, not the raw table.
    */
  private[graft] def annRecallQueryOver(s: SparkSession, emb: DataFrame,
                                 approx: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q_id", "neighbor_id")
    val marked = approx(emb, queries)
      .select(col("q_id"), col("neighbor_id"), lit(1).as("__hit"))
    // one aggregate job for all three stats (n_queries = distinct queried
    // ids in the exact baseline — every query has >= k exact neighbors)
    val row = exact.join(marked, Seq("q_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("total"), count("__hit").as("hits"),
        countDistinct("q_id").as("nq")).head()
    val (total, hit, nq) = (row.getLong(0), row.getLong(1), row.getLong(2))
    s.range(1).select(
      lit(nq).as("n_queries"), lit(5L).as("k"),
      lit(total > 0 && hit.toDouble / total >= 0.8).as("recall_ok"))
  }

  val simAnnLsh: Q = (s, d) =>
    annRecallQuery(s, d, (emb, q) => Similarity.lshTopK(emb, q, k = 5, dim = 64))

  val simAnnIvf: Q = (s, d) =>
    annRecallQuery(s, d, (emb, q) => Similarity.ivfTopK(emb, q, k = 5))

  /** IVF-PQ: candidates scored over 8-byte PQ codes (ADC lookup table),
    * exact re-rank only on the shortlist — the compressed-index ANN shape.
    */
  val simAnnIvfPq: Q = (s, d) =>
    annRecallQuery(s, d, (emb, q) => Similarity.ivfPqTopK(emb, q, k = 5))

  /** Residual IVF-PQ ([[Similarity.ivfPqResidualTopK]]): PQ codes
    * quantize `v − c(v)` and scoring adds the exact `q·c(v)` bias —
    * the Faiss-IVFPQ layout, same probe cost as `sim_ann_ivf_pq`.
    * Same recall gate; the residual-beats-plain claim is pinned in
    * [[graft.SimilaritySpec]] on planted clustered data where cluster
    * offsets provably exceed the plain codebook budget (the real
    * embeddings table has little cluster structure, so the two tie
    * there — the gate stays the scale-stable ≥ 0.8).
    */
  val simAnnResidual: Q = (s, d) =>
    annRecallQuery(s, d, (emb, q) =>
      Similarity.ivfPqResidualTopK(emb, q, k = 5))

  /** Build-once/probe-many IVF-PQ ([[graft.operators.AnnIndex]]): train
    * the centroids + PQ codebooks ONCE, persist (model JSON + a
    * cluster-partitioned codes-only parquet table), then answer the probe
    * from the FROZEN artifacts — the production ANN service shape, vs
    * `sim_ann_ivf_pq`'s train-per-query form. Same recall gate; the probe
    * plan scans only the probed clusters' codes (static partition filter
    * from driver-side routing) and touches true vectors only for the
    * re-rank shortlist ([[graft.AnnIndexSpec]] asserts both plan facts
    * and bit-equality with the in-memory form).
    */
  val simAnnPersisted: Q = (s, d) => {
    val dir = Scratch.dir("graft_ann_store")
    val (_, version) =
      graft.operators.AnnIndex.build(Tables.embeddings(s, d), dir)
    annRecallQuery(s, d, (emb, q) =>
      graft.operators.AnnIndex.probe(s, dir, q, emb, k = 5,
        version = version))
  }

  /** FILTERED vector search ([[graft.operators.AnnIndex.probe]] with
    * `allowed`): top-k among the ids passing a metadata predicate only
    * (`vec_id % 3 = 1`) — the constrained query every production ANN
    * service answers. The candidate codes PRE-filter through an id
    * semi-join before the shortlist window, so a selective predicate
    * cannot starve the result the way post-filtering the unfiltered
    * top-k does. Runs the parity configuration (every cluster probed,
    * shortlist deeper than the corpus), so the output IS the exact
    * cosine top-5 over the allowed subset and replays row-level in the
    * oracle; the production pruned plan is asserted in AnnIndexSpec.
    */
  val simAnnFiltered: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = Scratch.dir("graft_ann_filt")
    val (_, v) = graft.operators.AnnIndex.build(emb, dir)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val allowed = emb.filter(col("vec_id") % 3 === 1).select("vec_id")
    graft.operators.AnnIndex.probe(s, dir, queries, emb, k = 5,
        nprobe = 16, rerank = 1 << 20, version = v,
        allowed = Some(allowed))
      .withColumn("sim", round(col("sim"), 6))
      .orderBy("q_id", "rank")
  }

  /** Incremental ANN maintenance ([[graft.operators.AnnIndex.ingest]]):
    * the index is BUILT (model trained + codes written) on half the
    * corpus only; the other half arrives afterwards in two ingest
    * batches encoded with the FROZEN model — no retraining, no rewrite
    * of standing codes, each batch its own idempotent `b=<id>`
    * directory. The probe must then clear the SAME recall gate as the
    * full-build `sim_ann_persisted` over the FULL corpus: ingested
    * vectors are exactly as probe-visible as built ones (the
    * ingest ≡ one-shot invariance is pinned bit-level in AnnIndexSpec;
    * this query gates the semantic outcome on real data).
    *
    * nprobe is 10 here vs the full-build form's 4: a model trained on
    * half the corpus routes the other half's neighborhoods less
    * cleanly, and the measured recall ceiling at nprobe=8 sits below
    * the gate at sf0.01 (0.75; rerank depth is irrelevant — the misses
    * are unprobed clusters, not shortlist ranking). Widening the probe
    * set is exactly how an operating ANN service buys recall back as
    * the frozen model drifts from the grown corpus, until a periodic
    * [[graft.operators.AnnIndex.build]] re-trains on the full corpus
    * and nprobe comes back down.
    */
  val simAnnIngest: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = Scratch.dir("graft_ann_store")
    val (_, version) = graft.operators.AnnIndex.build(
      emb.filter(col("vec_id") % 2 === 0), dir)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    // the two ingest batches write DISJOINT b=<id> directories under the
    // frozen model — independent actions, overlapped (guide §2.6)
    graft.plans.Overlap.par(
      graft.operators.AnnIndex.ingest(rest.filter(col("vec_id") % 4 === 1),
        dir, batchId = 1L, version = version),
      graft.operators.AnnIndex.ingest(rest.filter(col("vec_id") % 4 === 3),
        dir, batchId = 2L, version = version))
    annRecallQuery(s, d, (emb2, q) =>
      graft.operators.AnnIndex.probe(s, dir, q, emb2, k = 5, nprobe = 10,
        version = version))
  }

  /** ANN id UPSERT semantics ([[graft.operators.AnnIndex]] latest-batch-
    * wins): the index is built on the FULL corpus, then a slice is
    * RE-EMBEDDED (same ids, reversed vectors — routing-relevant drift)
    * and ingested as an upsert batch. The MULTI-batch probe (the windowed
    * latest-wins path) must clear the recall gate against the UPDATED
    * corpus: every upserted id answers once, from its newest vector —
    * stale codes must neither double-answer nor pin an id to its old
    * neighborhood. `compact_ok` additionally pins that [[graft.operators
    * .AnnIndex.compact]]'s folded single-batch version probes
    * IDENTICALLY (same rows, bit-level sims) — compaction is a layout
    * fold, never a semantic change.
    */
  val simAnnUpsert: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = Scratch.dir("graft_ann_store")
    val nCentroids = 16 // build() default, named: the equality probes
                        // below must cover every cluster
    val (_, version) = graft.operators.AnnIndex.build(emb, dir,
      nCentroids = nCentroids)
    val reEmb = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    graft.operators.AnnIndex.ingest(reEmb, dir, batchId = 1L,
      version = version)
    // compact stays SEQUENTIAL, deliberately: riding it inside the
    // folded probe arm (overlapped with the other collects) was A/B'd
    // and LOST — its shuffle/write contends with the probe arms' tasks
    // (warm task time 11 → 13-25 s, wall spikes to 40 s)
    val compacted = graft.operators.AnnIndex.compact(s, dir,
      version = version)
    val updated = emb.select("vec_id", "embedding")
      .filter(col("vec_id") % 10 =!= 0).unionByName(reEmb)
    val queries = updated.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // the fold-equivalence gate probes with nprobe = nCentroids: with
    // EVERY cluster probed, both paths see the full committed candidate
    // set, so multi-batch latest-wins ≡ compacted fold must hold exactly
    // — a partially-probed comparison is data-dependent (a cross-cluster
    // re-embedded id can linger as a stale candidate in the multi-batch
    // path when only its OLD cluster is probed, AnnIndex.ingest docs),
    // and must not read as engine breakage on a different corpus.
    // ONE routing pass serves both arms (the compacted version carries
    // the SAME model JSON — compaction is a layout fold, the
    // AnnIndex.routeQueries sharing contract)
    val routedFull = graft.operators.AnnIndex.routeQueries(s, dir,
      queries, nprobe = nCentroids, version = version)
    // probes are eager and return driver-local rows (k × |queries|):
    // compare driver-side. The three arms read IMMUTABLE per-version
    // directories and are independent — each probe runs inside its own
    // overlapped arm (the recall gate's exact-baseline job backfills the
    // two equality probes). The recall gate runs on the
    // production path: pruned multi-batch probe, latest-wins over the
    // probed subset.
    val (recallDf, multiFullRows, foldedFullRows) =
      graft.plans.Overlap.par3(
        {
          val multi = graft.operators.AnnIndex.probe(s, dir, queries,
            updated, k = 5, nprobe = 10, version = version)
          annRecallQueryOver(s, updated, (_, _) => multi)
        },
        graft.operators.AnnIndex.probeRouted(s, dir, routedFull, updated,
          k = 5, version = version).collect(),
        graft.operators.AnnIndex.probeRouted(s, dir, routedFull, updated,
          k = 5, version = compacted).collect())
    val sameBoth =
      multiFullRows.map(_.toSeq).sortBy(_.toString).toSeq ==
        foldedFullRows.map(_.toSeq).sortBy(_.toString).toSeq
    recallDf.withColumn("compact_ok", lit(sameBoth))
  }

  /** ANN id DELETION semantics ([[graft.operators.AnnIndex.delete]]
    * tombstones — the other half of the reference's mutation routing,
    * upserts landed with `sim_ann_upsert`): the index is built on the
    * FULL corpus, then a slice of ids is deleted as a tombstone batch.
    * The multi-batch probe must (a) NEVER answer a deleted id — the
    * tombstone shadows the data row wherever its cluster is — and (b)
    * clear the recall gate against the SURVIVOR corpus. `compact_ok`
    * pins that the compacted version (deleted ids and tombstones folded
    * away entirely) probes identically at nprobe = nCentroids, the
    * drift-independent full-candidate comparison.
    */
  val simAnnDelete: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = Scratch.dir("graft_ann_store")
    val nCentroids = 16
    val (_, version) = graft.operators.AnnIndex.build(emb, dir,
      nCentroids = nCentroids)
    val delIds = emb.filter(col("vec_id") % 9 === 4).select("vec_id")
    graft.operators.AnnIndex.delete(delIds, dir, batchId = 1L,
      version = version)
    // sequential compact, deliberately — see sim_ann_upsert's note
    val compacted = graft.operators.AnnIndex.compact(s, dir,
      version = version)
    val survivors = emb.filter(col("vec_id") % 9 =!= 4)
    val queries = survivors.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // fold-equivalence at nprobe = nCentroids (see sim_ann_upsert);
    // one routing pass serves both arms (same model — compact copies it)
    val routedFull = graft.operators.AnnIndex.routeQueries(s, dir,
      queries, nprobe = nCentroids, version = version)
    // three independent arms over immutable version directories, each
    // probe inside its overlapped arm (the sim_ann_upsert pattern); the
    // recall probe runs the production path (pruned
    // multi-batch, tombstone partition read alongside probed clusters)
    val ((multiRows, recallDf), multiFullRows, foldedFullRows) =
      graft.plans.Overlap.par3(
        {
          val multi = graft.operators.AnnIndex.probe(s, dir, queries,
            survivors, k = 5, nprobe = 10, version = version)
          (multi.collect(),
            annRecallQueryOver(s, survivors, (_, _) => multi))
        },
        graft.operators.AnnIndex.probeRouted(s, dir, routedFull,
          survivors, k = 5, version = version).collect(),
        graft.operators.AnnIndex.probeRouted(s, dir, routedFull,
          survivors, k = 5, version = compacted).collect())
    val sameBoth = multiFullRows.map(_.toSeq).sortBy(_.toString).toSeq ==
      foldedFullRows.map(_.toSeq).sortBy(_.toString).toSeq
    // a deleted id must never answer — on the pruned AND the full probe
    val noDeleted = (multiRows.iterator ++ multiFullRows.iterator)
      .forall(r => r.getAs[Long]("neighbor_id") % 9 != 4)
    recallDf
      .withColumn("no_deleted_ok", lit(noDeleted))
      .withColumn("compact_ok", lit(sameBoth))
  }

  /** ANN model RETRAIN / version rollover
    * ([[graft.operators.AnnIndex.retrain]]) — the drift-recovery
    * lifecycle op, staged as real drift: the routing + codebooks train
    * on a QUARTER of the corpus (`vec_id % 4 = 0`), the other three
    * quarters arrive as a frozen-model ingest, a slice is deleted, then
    * the model is re-fit from the store's RESOLVED live rows into a new
    * version. Gates: recall against the survivor corpus on the
    * retrained version's production pruned probe; `retrain_ok` pins the
    * retrained version probing EXACTLY like the source version in the
    * parity configuration (every cluster probed, rerank beyond the
    * corpus — both sides are then the exact cosine top-5 over the live
    * set, so equality is MODEL-INDEPENDENT: a retrain must change the
    * layout, never the answers); `fresh_ok` pins the rollover layout —
    * the new version is single-batch (`b=0` only) with
    * n_vectors = survivors and zero deletions carried over.
    */
  val simAnnRetrain: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = Scratch.dir("graft_ann_store")
    val nCentroids = 16
    val (_, v1) = graft.operators.AnnIndex.build(
      emb.filter(col("vec_id") % 4 === 0), dir, nCentroids = nCentroids)
    // disjoint b=1/b=2 writes under the frozen model — overlapped (§2.6)
    graft.plans.Overlap.par(
      graft.operators.AnnIndex.ingest(emb.filter(col("vec_id") % 4 =!= 0),
        dir, batchId = 1L, version = v1),
      graft.operators.AnnIndex.delete(
        emb.filter(col("vec_id") % 9 === 4).select("vec_id"), dir,
        batchId = 2L, version = v1))
    // a retrain spends more Lloyd iterations than a cold build's 2 —
    // it runs BECAUSE the distribution moved, so the seeds start
    // farther from the final means
    val (_, v2) = graft.operators.AnnIndex.retrain(s, dir, emb,
      version = v1, nCentroids = nCentroids, kmeansIters = 4)
    val survivors = emb.filter(col("vec_id") % 9 =!= 4)
    val queries = survivors.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // recall gate on the production path: pruned probe of the RETRAINED
    // version. Answer-preservation in the parity configuration: both
    // versions' probes are the exact cosine top-5 over the live set, so
    // they must agree row-for-row even though the layouts share nothing.
    // The two parity arms probe DIFFERENT models (v1 vs the re-fit v2),
    // so no routing is shared — but all four gate actions read immutable
    // state and are independent: each runs inside its own overlapped arm
    def parity(v: Int) = graft.operators.AnnIndex.probe(s, dir, queries,
      survivors, k = 5, nprobe = nCentroids, rerank = 1 << 20,
      version = v).collect()
    val (recallDf, parityNewRows, parityOldRows, freshOk) =
      graft.plans.Overlap.par4(
        {
          val multi = graft.operators.AnnIndex.probe(s, dir, queries,
            survivors, k = 5, nprobe = 10, version = v2)
          annRecallQueryOver(s, survivors, (_, _) => multi)
        },
        parity(v2),
        parity(v1),
        {
          val st = graft.operators.AnnIndex.stats(s, dir, version = v2)
            .head()
          graft.operators.AnnIndex.committedBatches(dir, v2) == Seq(0L) &&
            st.getLong(0) == survivors.count() && st.getLong(1) == 0L
        })
    val sameBoth =
      parityNewRows.map(_.toSeq).sortBy(_.toString).toSeq ==
        parityOldRows.map(_.toSeq).sortBy(_.toString).toSeq
    recallDf
      .withColumn("retrain_ok", lit(sameBoth))
      .withColumn("fresh_ok", lit(freshOk))
  }

  /** Streaming MIXED-mutation ANN maintenance ([[graft.operators
    * .AnnIndex.maintainChangeStream]] → `applyMutations` per
    * micro-batch): the reference's actual loop shape — ONE continuous
    * change feed carrying upserts AND deletions in arrival order
    * (`Projector/indexjs.go:123-189`), not separate channels. The feed
    * (re-embeddings for `vec_id%10=0`, deletions for `vec_id%9=4`;
    * overlap ids carry the deletion at the higher seqno) replays as a
    * file stream in 2+ micro-batches — hash-split by id, so each id's
    * events share a batch and within-batch seqno ordering decides.
    * Gates: recall against the post-feed corpus on the production
    * pruned probe; no deleted id ever answers (pruned and full probes);
    * `stream_ok` pins the streamed store ≡ a one-shot
    * [[graft.operators.AnnIndex.applyMutations]] of the whole feed at
    * nprobe = nCentroids (the drift-independent full-candidate
    * comparison — micro-batch folding is a delivery detail, never a
    * semantic change); `compact_ok` pins the compacted fold the same
    * way.
    */
  val simAnnStreamMaintain: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = Scratch.dir("graft_ann_store")
    val nCentroids = 16
    val (_, version) = graft.operators.AnnIndex.build(emb, dir,
      nCentroids = nCentroids)
    val vecT = emb.schema("embedding").dataType
    val ups = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        lit("MUTATION").as("opcode"),
        (col("vec_id") * 2 + 1).cast("long").as("seqno"))
    val dels = emb.filter(col("vec_id") % 9 === 4)
      .select(col("vec_id"), lit(null).cast(vecT).as("embedding"),
        lit("DELETION").as("opcode"),
        (col("vec_id") * 2 + 2).cast("long").as("seqno"))
    val feed = ups.unionByName(dels)
    // 2 hash-by-id files + maxFilesPerTrigger=1 → ≥2 micro-batches,
    // every id's events inside one batch (file-order-independent)
    val feedDir = Scratch.dir("graft_ann_feed")
    feed.repartition(2, col("vec_id")).write.mode("overwrite")
      .parquet(feedDir)
    // reference store: the SAME built version (filesystem copy of the
    // base batch + model — no second k-means/PQ training) with the
    // whole feed applied as ONE explicit batch; the comparison is then
    // exactly "micro-batch folding vs one-shot apply" under one model
    val dirRef = Scratch.dir("graft_ann_ref")
    // the copy must finish BEFORE the stream starts: the maintainer
    // writes new b=N directories under dir/v<version>, and a racing
    // tree walk could copy a half-written batch into the reference
    copyTree(java.nio.file.Paths.get(dir, s"v$version"),
      java.nio.file.Paths.get(dirRef, s"v$version"))
    val vRef = version
    val stream = s.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    // the reference store's one-shot apply touches ONLY dirRef and the
    // static feed files — independent of the live stream maintaining
    // dir, so the two overlap (guide §2.6). runDrained holds the
    // session shuffle-partition conf at the stream value while both
    // run; the apply's window/repartition output is partition-count-
    // independent (values per row identical), so only its parallelism
    // is affected.
    val (sq, _) = graft.plans.Overlap.par(
      graft.streaming.StreamScale.runDrained(s) {
        graft.operators.AnnIndex.maintainChangeStream(stream, dir,
          version)
        .option("checkpointLocation", Scratch.dir("graft_ann_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start() },
      graft.operators.AnnIndex.applyMutations(feed, dirRef, batchId = 1L,
        version = vRef, seqnoCol = Some("seqno")))
    BenchProbe.addStreamData("sim_ann_stream_maintain", sq)
    // sequential compact, deliberately — see sim_ann_upsert's note
    val compacted = graft.operators.AnnIndex.compact(s, dir,
      version = version)
    // post-feed corpus: %9=4 ids gone (deletion outranks the overlap
    // upsert), surviving %10=0 ids re-embedded
    val survivors = emb.filter(col("vec_id") % 9 =!= 4)
    val updated = survivors.filter(col("vec_id") % 10 =!= 0)
      .select("vec_id", "embedding")
      .unionByName(survivors.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
    val queries = updated.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // ONE routing pass for all three full-candidate arms: the reference
    // store's model is a byte copy (copyTree) and the compacted fold
    // copies the model JSON — same model everywhere, the
    // AnnIndex.routeQueries sharing contract (probeRouted checks it)
    val routedFull = graft.operators.AnnIndex.routeQueries(s, dir,
      queries, nprobe = nCentroids, version = version)
    def full(store: String, v: Int) = graft.operators.AnnIndex.probeRouted(
      s, store, routedFull, updated, k = 5, version = v).collect()
    // four independent gate arms over immutable version directories,
    // each probe inside its overlapped arm (the sim_ann_upsert pattern)
    val ((multiRows, recallDf), streamFullRows, refFullRows,
        foldedFullRows) =
      graft.plans.Overlap.par4(
        {
          val multi = graft.operators.AnnIndex.probe(s, dir, queries,
            updated, k = 5, nprobe = 10, version = version)
          (multi.collect(), annRecallQueryOver(s, updated, (_, _) => multi))
        },
        full(dir, version),
        full(dirRef, vRef),
        full(dir, compacted))
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).sortBy(_.toString).toSeq
    val streamOk = canon(streamFullRows) == canon(refFullRows)
    val compactOk = canon(streamFullRows) == canon(foldedFullRows)
    val noDeleted = (multiRows.iterator ++ streamFullRows.iterator)
      .forall(r => r.getAs[Long]("neighbor_id") % 9 != 4)
    recallDf
      .withColumn("no_deleted_ok", lit(noDeleted))
      .withColumn("stream_ok", lit(streamOk))
      .withColumn("compact_ok", lit(compactOk))
  }

  /** The ANN store's FULL lifecycle from SQL alone (`graft_ann_build` →
    * `graft_ann_ingest` → `graft_ann_delete` → `graft_ann_compact`,
    * discovery via `graft_ann_model`/`graft_ann_versions`) — the uniform
    * wire-DDL surface the scalar index (`idx_build_sql`) and BM25 store
    * got in round 10, closed for the ANN tier; the reference analog is
    * one CreateIndex RPC standing up and maintaining any index kind
    * (`kv_sender.go:134-151`, `projector.go:232-308`). Build trains on
    * the even-id half, ingest folds in the odd half under the frozen
    * model (upsert-visible like `sim_ann_ingest`), delete tombstones
    * `vec_id%9=4`, compact folds to a single batch. Gates: the probe of
    * the compacted version clears the recall bar against the survivor
    * corpus (nprobe=10, the half-trained-model setting `sim_ann_ingest`
    * established); no deleted id ever answers; `wire_ok` pins the
    * discovery facts a SQL client schedules by — 3 committed batches
    * before the fold, 1 after, both versions listed.
    */
  val annBuildSql: Q = (s, d) => {
    GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val dir = Scratch.dir("graft_ann_store_sql")
    emb.filter(col("vec_id") % 2 === 0).createOrReplaceTempView("emb_base")
    emb.filter(col("vec_id") % 2 === 1).createOrReplaceTempView("emb_rest")
    emb.filter(col("vec_id") % 9 === 4).select("vec_id")
      .createOrReplaceTempView("emb_del")
    val v = s.sql(s"SELECT graft_ann_build('$dir', 'emb_base', 16)")
      .head().getInt(0)
    // the wire ingest and delete write DISJOINT b=1/b=2 directories
    // under the frozen model — independent actions, overlapped (§2.6)
    graft.plans.Overlap.par(
      s.sql(s"SELECT graft_ann_ingest('$dir', 'emb_rest', 1, $v)").collect(),
      s.sql(s"SELECT graft_ann_delete('$dir', 'emb_del', 2, $v)").collect())
    val preBatches = s.sql(s"SELECT graft_ann_model('$dir', $v).n_batches")
      .head().getInt(0)
    val nv = s.sql(s"SELECT graft_ann_compact('$dir', $v)").head().getInt(0)
    val postBatches = s.sql(s"SELECT graft_ann_model('$dir', $nv).n_batches")
      .head().getInt(0)
    val wireOk = preBatches == 3 && postBatches == 1 &&
      s.sql(s"SELECT graft_ann_versions('$dir')")
        .head().getSeq[Int](0).toSeq == Seq(v, nv)
    val survivors = emb.filter(col("vec_id") % 9 =!= 4)
    val queries = survivors.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // the probe is eager: its rows are already driver-local
    val probe = graft.operators.AnnIndex.probe(s, dir, queries, survivors,
      k = 5, nprobe = 10, version = nv)
    val noDeleted = probe.collect()
      .forall(r => r.getAs[Long]("neighbor_id") % 9 != 4)
    annRecallQueryOver(s, survivors, (_, _) => probe)
      .withColumn("no_deleted_ok", lit(noDeleted))
      .withColumn("wire_ok", lit(wireOk))
  }

  /** ANN store statistics ([[graft.operators.AnnIndex.stats]]) over a
    * MAINTAINED store (full build, re-embed upserts for `%10=0`,
    * tombstones for `%9=4`): resolved live/deleted counts must replay
    * the modulo formulas exactly — upserted ids stay live (shadowing is
    * not deletion), a deleted id counts once regardless of its upsert
    * history. Cluster facts are k-means-internal, so they pin as the
    * `clusters_ok` invariant (1 ≤ n_clusters ≤ nCentroids and
    * max_cluster between the mean and the total — the pigeonhole
    * bounds).
    */
  val simAnnStats: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = Scratch.dir("graft_ann_statstore")
    val nCentroids = 16
    val (_, v) = graft.operators.AnnIndex.build(emb, dir,
      nCentroids = nCentroids)
    // disjoint b=1/b=2 writes under the frozen model — overlapped (§2.6)
    graft.plans.Overlap.par(
      graft.operators.AnnIndex.ingest(
        emb.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        dir, batchId = 1L, version = v),
      graft.operators.AnnIndex.delete(
        emb.filter(col("vec_id") % 9 === 4).select("vec_id"), dir,
        batchId = 2L, version = v))
    val st = graft.operators.AnnIndex.stats(s, dir, version = v).head()
    val (nVec, nDel, nCl, maxCl) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    val clustersOk = nCl >= 1 && nCl <= nCentroids &&
      maxCl <= nVec && maxCl * nCl >= nVec
    s.range(1).select(lit(nVec).as("n_vectors"), lit(nDel).as("n_deleted"),
      lit(clustersOk).as("clusters_ok"))
  }

  /** Corpus snapshot reconciliation — the crawl-over-crawl diff an
    * ingest pipeline runs before reprocessing: old and new snapshots
    * (deterministically derived here: the old one misses `doc_id%7=0`,
    * the new one misses `doc_id%11=3` and revises `doc_id%5=0`) meet in
    * ONE full-outer join on the key, docs compare by content digest, and
    * only the added/removed/changed rows survive — the work-list for
    * incremental re-embedding/re-indexing, sized by the delta rather
    * than the corpus. At scale this is the canonical one-shuffle
    * reconciliation; unchanged rows (the vast majority) never leave the
    * join.
    */
  val corpusDiff: Q = (s, d) => {
    val base = docs(s, d)
    val oldSnap = base.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("dg_a"))
    val newSnap = base.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), md5(encode(
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")), "UTF-8")).as("dg_b"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("dg_a").isNull, "added")
          .when(col("dg_b").isNull, "removed")
          .when(col("dg_a") =!= col("dg_b"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"), col("dg_b").as("new_digest"))
      .orderBy("doc_id")
  }

  /** Diff-DRIVEN incremental reprocessing — the pipeline `corpus_diff`
    * exists for, composing the maintenance halves end-to-end (the
    * reference's entire delta architecture, `Projector/indexjs.go:123-189`:
    * one mutation stream feeds every standing index): standing state is
    * built from the OLD snapshot; the snapshot diff routes `added`/
    * `changed` ids through re-embed + [[graft.operators.AnnIndex.ingest]]
    * and the scalar index's MUTATION merge, `removed` ids through
    * [[graft.operators.AnnIndex.delete]] tombstones and the scalar
    * DELETION path. Invariants, all pinned in the output row:
    *  - `ann_state_ok`: the maintained ANN version, compacted, equals the
    *    frozen-model re-encode of the NEW snapshot bit-for-bit
    *    ([[graft.operators.AnnIndex.encodeWith]]) — maintained ≡ rebuilt,
    *    the `idx_catchup` contract.
    *  - `idx_state_ok`: the merged scalar index equals a fresh
    *    [[IndexBuilder.build]] over the new snapshot.
    *  - `delta_sized_ok`: the work the pipeline wrote is ∝ the DELTA —
    *    the ingest batch holds exactly |added|+|changed| codes rows and
    *    the tombstone batch exactly |removed| — never a full-corpus
    *    re-encode.
    * Snapshots derive deterministically (old misses `doc_id%7=0`, new
    * misses `doc_id%11=3`, `doc_id%5=0` revised — text gets " [rev2]",
    * the re-embedding reverses the vector), so the oracle can replay the
    * diff counts from the modulo formulas.
    */
  /** Route a snapshot diff (doc_id, status ∈ added/changed/removed) into
    * the reprocess pipeline's work-list frames WITHOUT centralizing it:
    * the diff is lazily checkpointed (the full-outer join runs once for
    * all consumers), the upsert/removed id frames derive by FILTER over
    * that checkpoint — distributed plans, never driver-materialized
    * LocalRelations — and the only rows that reach the driver are the
    * ≤ THREE status counts from one groupBy. The reference's delta loop
    * never centralizes mutations either
    * (`Projector/indexjs.go:123-189`); ScaleSmokeSpec pins the
    * plan-structure claim.
    */
  private[graft] def routeDelta(diff: DataFrame)
      : (DataFrame, DataFrame, Map[String, Long]) = {
    val diffCk = graft.plans.LazyCheckpoint.shared(diff)
    val counts = diffCk.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (diffCk.filter(col("status") =!= "removed").select("doc_id"),
      diffCk.filter(col("status") === "removed").select("doc_id"),
      counts)
  }

  val pipelineReprocess: Q = (s, d) => {
    import graft.operators.AnnIndex
    val emb = Tables.embeddings(s, d)
    // the pipeline's corpus is the EMBEDDED snapshot (docs ⋉ embeddings):
    // vec_id ≡ doc_id, but the embeddings table covers a prefix of the
    // documents at some scale factors — every routed id must have a
    // vector for the re-embed leg to be total
    val base = docs(s, d)
      .join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"))
    val revised = col("doc_id") % 5 === 0
    val oldDocs = base.filter(col("doc_id") % 7 =!= 0)
    val newDocs = base.filter(col("doc_id") % 11 =!= 3)
      .withColumn("text",
        when(revised, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
    // the deterministic "embedder": a revised doc re-embeds to the
    // reversed vector (routing-relevant drift), vec_id ≡ doc_id
    def embedOf(docIds: DataFrame): DataFrame =
      emb.join(docIds, emb("vec_id") === docIds("doc_id"))
        .select(col("vec_id"),
          when(col("vec_id") % 5 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
    // 1. standing state, built from the OLD snapshot
    val annDir = Scratch.dir("graft_ann_store")
    val (_, v) = AnnIndex.build(
      emb.join(oldDocs.select("doc_id"), emb("vec_id") === col("doc_id"))
        .select("vec_id", "embedding"), annDir)
    val idxDef = IndexDef("idx_doc_len", "documents", "doc_id",
      secExprs = Seq("length(text)"))
    val standing = IndexBuilder.build(oldDocs, idxDef)
    // 2. the one-shuffle snapshot diff (corpus_diff), the work-list
    val diff = oldDocs
      .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("dg_a"))
      .join(newDocs.select(col("doc_id"),
        md5(encode(col("text"), "UTF-8")).as("dg_b")), Seq("doc_id"),
        "full_outer")
      .withColumn("status",
        when(col("dg_a").isNull, "added")
          .when(col("dg_b").isNull, "removed")
          .when(col("dg_a") =!= col("dg_b"), "changed"))
      .filter(col("status").isNotNull)
      .select("doc_id", "status")
    val (upsertIds, removedIds, statusCounts) = routeDelta(diff)
    val nAdded = statusCounts.getOrElse("added", 0L)
    val nChanged = statusCounts.getOrElse("changed", 0L)
    val nRemoved = statusCounts.getOrElse("removed", 0L)
    // 3. route the delta: re-embed + ingest upserts, tombstone removals
    // (disjoint b=1/b=2 directories — independent writes, overlapped;
    // the diff checkpoint is already materialized by the counts job)
    graft.plans.Overlap.par(
      AnnIndex.ingest(embedOf(upsertIds), annDir, batchId = 1L,
        version = v),
      AnnIndex.delete(removedIds.select(col("doc_id").as("vec_id")),
        annDir, batchId = 2L, version = v))
    // scalar side: ONE change batch from the same work-list
    val upsertBatch = newDocs.join(upsertIds, Seq("doc_id"))
      .select(lit(Opcode.Mutation).as("opcode"),
        col("doc_id").as("docid"), lit(1L).as("seqno"), col("text"))
    val deleteBatch = removedIds
      .select(lit(Opcode.Deletion).as("opcode"),
        col("doc_id").as("docid"), lit(1L).as("seqno"),
        lit(null).cast("string").as("text"))
    val merged = IndexMaintainer.merge(standing,
      upsertBatch.unionByName(deleteBatch), idxDef, boundedBatch = false)
    // 4. the invariants (multiset equality, both directions at once:
    // signed-count aggregate — each side contributes ±1 per row, any
    // group summing non-zero is a difference. ONE job scanning each
    // side once, where the former exceptAll pair ran two jobs and
    // scanned `a` twice; the columns align by name first because
    // merge's docid join reorders them)
    def sameSet(a: DataFrame, b: DataFrame): Boolean = {
      val cols = b.columns.toIndexedSeq
      val aa = a.select(cols.map(col): _*)
      aa.withColumn("__s", lit(1L))
        .unionByName(b.withColumn("__s", lit(-1L)))
        .groupBy(cols.map(col): _*).agg(sum("__s").as("__d"))
        .filter(col("__d") =!= 0).isEmpty
    }
    val nv = AnnIndex.compact(s, annDir, version = v)
    val folded = s.read.parquet(s"$annDir/v$nv/codes/b=0")
      .select("vec_id", "c_id", "codes", "nrm")
    val reencoded = AnnIndex.encodeWith(embedOf(newDocs.select("doc_id")),
      annDir, version = v)
    // the three invariant checks read disjoint, now-immutable state
    // (folded ANN fold vs re-encode; merged scalar index vs fresh
    // build; the two batch-directory counts) — independent actions,
    // overlapped (guide §2.6)
    val (annOk, idxOk, deltaSized) = graft.plans.Overlap.par3(
      sameSet(folded, reencoded),
      sameSet(merged, IndexBuilder.build(newDocs, idxDef)),
      {
        val ingested = s.read.parquet(s"$annDir/v$v/codes/b=1").count()
        val tombstoned = s.read.parquet(s"$annDir/v$v/codes/b=2").count()
        ingested == nAdded + nChanged && tombstoned == nRemoved
      })
    s.range(1).select(
      lit(nAdded).as("n_added"), lit(nChanged).as("n_changed"),
      lit(nRemoved).as("n_removed"), lit(annOk).as("ann_state_ok"),
      lit(idxOk).as("idx_state_ok"), lit(deltaSized).as("delta_sized_ok"))
  }

  val textTokens: Q = (s, d) =>
    docs(s, d).select(
      col("doc_id"),
      size(TextOps.normTokens(col("text"))).cast("long").as("n_tokens"),
      TextOps.subwordCount(col("text")).as("n_subwords"))
      .orderBy("doc_id")

  val textQuality: Q = (s, d) => {
    val cols = TextOps.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
    docs(s, d).select(col("doc_id") +: cols :+
      TextOps.qualityScore(col("text")).as("quality"): _*)
      .orderBy("doc_id")
  }

  val textLangid: Q = (s, d) =>
    docs(s, d).select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  val textBpeTokens: Q = (s, d) =>
    docs(s, d).select(col("doc_id"),
      TextOps.bpeTokenCount(col("text")).as("n_bpe"))
      .orderBy("doc_id")

  /** BPE tokenizer training ([[TextOps.bpeTrainMerges]]): 10 merge rules
    * learned from the corpus word histogram; the oracle replays the exact
    * algorithm as a 10×-unrolled CTE chain (pair counts → arg-max →
    * literal replace per step).
    */
  val textBpeTrain: Q = (s, d) =>
    TextOps.bpeTrainMerges(docs(s, d), steps = 10).orderBy("step")

  /** Learned-BPE tokenization ([[TextOps.bpeEncode]]): train 10 merges on
    * the corpus, then encode every doc map-only (10 chained literal
    * replaces in the scan projection). The oracle re-learns the same rules
    * (CTE chain) and verifies the encoded BYTES per doc via md5, plus the
    * subword count.
    */
  val textBpeEncode: Q = (s, d) => {
    // the hybrid trainer (one scan + driver-local loop) — pinned equal to
    // the distributed loop by the equivalence suite, and the oracle
    // re-learns the rules independently so the hash re-proves it here;
    // explicit histogram cap (a no-op below 2^20 distinct words, so the
    // oracle — which trains uncapped — still matches at any test SF)
    val corpus = graft.plans.ScaleOut.widen(docs(s, d))
    val merges = TextOps.bpeTrainMergesLocal(corpus, steps = 10,
        maxVocab = TextOps.DefaultMaxVocab)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // two-level select: the replace chain is CodegenFallback (HOFs), so
    // it must flow through a named column to be computed once per row —
    // CollapseProject keeps the split because the alias is non-cheap and
    // multiply referenced
    corpus
      .select(col("doc_id"),
        TextOps.bpeEncode(col("text"), merges).as("enc"))
      .select(col("doc_id"),
        size(TextOps.bpeTokensFromEncoded(col("enc"))).cast("long")
          .as("n_bpe"),
        md5(col("enc")).as("enc_md5"))
      .orderBy("doc_id")
  }

  /** Token IDS per document — the actual trainer input: learn the merges
    * (hybrid trainer), derive the vocabulary ([[TextOps.bpeVocab]]:
    * base code points + merged symbols, deterministic ids), then
    * tokenize every doc straight to ids in the scan projection
    * ([[TextOps.bpeEncodeIds]] — the vocabulary rides in the expression
    * as control-plane data, so the exploded token stream carries ONLY
    * longs; no per-token symbol strings, no broadcast join). The oracle
    * independently replays vocabulary construction AND the
    * encode→explode→id-join formulation and matches every
    * (doc, position, id) row — which also pins the native ids
    * expression ≡ the join form on real data.
    */
  val textBpeIds: Q = (s, d) => {
    val corpus = docs(s, d)
    val merges = TextOps.bpeTrainMergesLocal(corpus, steps = 10,
        maxVocab = TextOps.DefaultMaxVocab)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = TextOps.bpeVocab(corpus, merges)
      .select("symbol", "token_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    corpus
      .select(col("doc_id"),
        TextOps.bpeEncodeIds(col("text"), merges, vocab).as("ids"))
      .select(col("doc_id"),
        posexplode(col("ids")).as(Seq("pos", "token_id")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token_id"))
      .orderBy("doc_id", "pos")
  }

  /** Encode from a FROZEN, persisted tokenizer artifact
    * ([[graft.functions.TokenizerStore]]) — the production pipeline
    * shape: train ONCE, persist (merges + vocab, versioned, immutable),
    * reload by pinned version, and encode map-only from the artifact.
    * Nothing from training memory reaches the encode: the merge rules
    * and vocabulary both round-trip through the JSON file. The oracle is
    * an independent DuckDB retrain-and-encode, so the hash match proves
    * encode-from-artifact ≡ train-and-encode (bytes via md5, ids via the
    * per-doc id sum — exact integer arithmetic). At 100 TB the train
    * happens once per corpus snapshot; every later encode (batch or
    * streaming — `tokenize_streaming` reads the same store) is a pure
    * scan projection carrying the artifact as control-plane literals.
    */
  val tokenizeFromArtifact: Q = (s, d) => {
    val corpus = graft.plans.ScaleOut.widen(docs(s, d))
    val dir = Scratch.dir("graft_tok_store")
    val version = graft.functions.TokenizerStore
      .trainAndSave(dir, corpus, steps = 10)
    val art = graft.functions.TokenizerStore.get(dir, version)
      .getOrElse(sys.error(s"tokenizer v$version vanished from $dir"))
    corpus
      .select(col("doc_id"),
        TextOps.bpeEncode(col("text"), art.mergePairs).as("enc"),
        TextOps.bpeEncodeIds(col("text"), art.mergePairs, art.vocabIds)
          .as("ids"))
      .select(col("doc_id"),
        size(TextOps.bpeTokensFromEncoded(col("enc"))).cast("long")
          .as("n_bpe"),
        md5(col("enc")).as("enc_md5"),
        aggregate(col("ids"), lit(0L), _ + _).as("sum_ids"))
      .orderBy("doc_id")
  }

  val textLangidNgram: Q = (s, d) =>
    docs(s, d).select(col("doc_id"),
      TextOps.langIdNgram(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** UNIGRAM-LM tokenizer training (`text_unigram_train`) — the other
    * tokenizer family real LLM stacks train ([[graft.functions.Unigram]]:
    * substring seed → hard-EM usage re-estimation → prune), integer
    * costs by contract so the oracle replays seed counting, the
    * Viterbi E-step (a fixed-depth DP in SQL) and the M-step's
    * re-derived costs row for row. One distributed histogram scan;
    * the loop is driver-local control-plane (the hybrid-BPE shape).
    */
  val textUnigramTrain: Q = (s, d) => {
    val m = graft.functions.Unigram.train(docs(s, d),
      multiVocab = 24, emRounds = 1)
    import s.implicits._
    m.entries.map(e => (e.token, e.count, e.cost))
      .toDF("token", "n_count", "cost").orderBy("token")
  }

  /** Viterbi encode under the trained unigram model
    * (`text_unigram_encode`): train (hybrid), then encode every doc
    * map-only — [[graft.functions.UnigramEncodeExpr]] segments each
    * [[TextOps.normTokens]] word by minimum integer cost in the scan
    * projection, vocabulary as plan literals. The oracle re-trains
    * independently in SQL and replays the final-vocab Viterbi DP per
    * distinct word (segmentation is word-level deterministic, so the
    * replay joins per-word segmentations back to each doc's word
    * sequence), verifying the token stream BYTES via md5.
    */
  val textUnigramEncode: Q = (s, d) => {
    val m = graft.functions.Unigram.train(docs(s, d),
      multiVocab = 24, emRounds = 1)
    docs(s, d)
      .select(col("doc_id"),
        graft.functions.Unigram.encode(
          TextOps.normTokens(col("text")), m).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        md5(array_join(col("toks"), "\u0001")).as("enc_md5"))
      .orderBy("doc_id")
  }

  /** Encode from a FROZEN unigram artifact (`text_unigram_artifact`)
    * — [[graft.functions.UnigramStore]], the [[tokenizeFromArtifact]]
    * shape for the second tokenizer family: train once, persist
    * (entries + OOV cost + config, versioned, immutable), reload by
    * pinned version, encode map-only from the artifact. The oracle is
    * the independent retrain-and-encode, so the hash match proves
    * encode-from-artifact ≡ train-and-encode.
    */
  val textUnigramArtifact: Q = (s, d) => {
    val dir = Scratch.dir("graft_unigram_store")
    val m = graft.functions.Unigram.train(docs(s, d),
      multiVocab = 24, emRounds = 1)
    val v = graft.functions.UnigramStore.save(dir, multiVocab = 24,
      emRounds = 1, model = m)
    val pinned = graft.functions.UnigramStore.Slots.get(dir, v)
      .getOrElse(sys.error(s"unigram v$v vanished from $dir")).model
    docs(s, d)
      .select(col("doc_id"),
        graft.functions.Unigram.encode(
          TextOps.normTokens(col("text")), pinned).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        md5(array_join(col("toks"), "\u0001")).as("enc_md5"))
      .orderBy("doc_id")
  }

  /** Per-doc top-3 terms by TF-IDF (rank ties broken by term). The
    * row_number window over (doc, tfidf desc) was A/B-measured against a
    * collect_list+array_sort+slice aggregate: the window wins (1.4 s vs
    * 2.0 s warm at sf0.1) — per-doc term lists are small enough that the
    * partition sort beats building and sorting array structs per doc.
    */
  val textTfidfTop: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    TextOps.tfidf(docs(s, d))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("tfidf"), 6).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** The BM25 query-term set — one shared constant; the oracle SQL is
    * GENERATED from it (and from the same k1/b constants), so the two
    * sides cannot drift.
    */
  private[graft] val bm25Terms: Seq[String] = Seq("scan", "merge", "window")

  /** BM25 top-10 ([[TextOps.bm25TopK]]): lexical retrieval over the
    * corpus for a literal query — one scan, per-term tf as array
    * expressions (no explode), a 1-row stats broadcast, micro-unit
    * integer scores, TakeOrdered selection. The oracle replays the
    * identical formula structure (literals generated from the same
    * Scala doubles) and must reproduce winner set, scores, AND ranks.
    */
  val textBm25Top: Q = (s, d) =>
    TextOps.bm25TopK(docs(s, d), bm25Terms, k = 10)
      .select("doc_id", "n_hit", "score_micro", "rk")
      .orderBy("doc_id")

  /** Index-accelerated BM25 ([[graft.operators.Retrieval]]): the same
    * query answered from the PERSISTED postings index — an array index
    * over the token split, hash-partitioned by key — with the probed
    * partitions resolved driver-side and statically pruned, plus the
    * doc-stats sidecar. Shares `text_bm25_top`'s oracle verbatim: the
    * indexed probe must reproduce the full-scan scorer's exact rows.
    */
  val textBm25Indexed: Q = (s, d) => {
    val dir = Scratch.dir("graft_bm25_idx")
    graft.operators.Retrieval.buildBm25Index(docs(s, d), dir)
    graft.operators.Retrieval.bm25TopKFromIndex(s, dir, bm25Terms, k = 10)
      .select("doc_id", "n_hit", "score_micro", "rk")
      .orderBy("doc_id")
  }

  /** Incrementally MAINTAINED BM25 ([[graft.operators.Retrieval]]
    * ingest/delete/latest-wins): the base version is built from a WRONG
    * corpus — held-out docs missing, `%5 == 0` docs carrying stale
    * text, junk docs present — then one re-crawl ingest batch upserts
    * the missing/stale docs and one tombstone batch deletes the junk.
    * The resolved store now equals the documents table exactly, so the
    * probe shares `text_bm25_top`'s oracle verbatim: upsert shadowing,
    * tombstone resolution, AND cross-batch stats (N, Σdl, df) must all
    * be right for the hash to match — the retrieval-tier form of the
    * maintained ≡ rebuilt contract (`idx_catchup`, `sim_ann_delete`).
    */
  val textBm25Incremental: Q = (s, d) => {
    val corpus = docs(s, d).select("doc_id", "text")
    val dir = Scratch.dir("graft_bm25_inc")
    val stale = corpus.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" stalemarker"))).otherwise(col("text")))
    val junk = corpus.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" junkword")).as("text"))
    val v = graft.operators.Retrieval.buildBm25Index(
      stale.unionByName(junk), dir)
    // disjoint b=1/b=2 segment writes — independent, overlapped (§2.6)
    graft.plans.Overlap.par(
      graft.operators.Retrieval.ingestBm25(
        corpus.filter(col("doc_id") % 10 === 7 || col("doc_id") % 5 === 0),
        dir, batchId = 1L, version = v),
      graft.operators.Retrieval.deleteBm25(junk.select("doc_id"), dir,
        batchId = 2L, version = v))
    graft.operators.Retrieval
      .bm25TopKFromIndex(s, dir, bm25Terms, k = 10, version = v)
      .select("doc_id", "n_hit", "score_micro", "rk")
      .orderBy("doc_id")
  }

  /** The batched-BM25 query table — one shared constant; the oracle's
    * VALUES rows are generated from it.
    */
  private[graft] val bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("scan", "merge"),
    2L -> Seq("window", "sort", "table"),
    3L -> Seq("key", "order"))

  /** Batched multi-query BM25
    * ([[graft.operators.Retrieval.bm25TopKBatchFromIndex]]): three
    * queries answered in ONE pass over the pruned postings — term
    * statistics computed once and shared, per-query ranking by window.
    * The oracle replays every query's scores from the corpus and must
    * match scores AND per-query ranks.
    */
  val textBm25Queries: Q = (s, d) => {
    import s.implicits._
    val dir = Scratch.dir("graft_bm25_batchq")
    val v = graft.operators.Retrieval.buildBm25Index(docs(s, d), dir)
    graft.operators.Retrieval.bm25TopKBatchFromIndex(s, dir,
        bm25Queries.toDF("q_id", "terms"), k = 5, version = v)
      .orderBy("q_id", "doc_id")
  }

  /** Retrieval-store statistics
    * ([[graft.operators.Retrieval.bm25Stats]]) over a MAINTAINED store
    * (wrong base + recrawl upserts + junk tombstones, the
    * `text_bm25_incremental` construction): the resolved stats must
    * equal the END corpus exactly — including `n_postings == total_dl`,
    * the store-integrity invariant the operator alerts on. The oracle
    * recomputes all four numbers from the documents table.
    */
  val textBm25Stats: Q = (s, d) => {
    val corpus = docs(s, d).select("doc_id", "text")
    val dir = Scratch.dir("graft_bm25_stats")
    val stale = corpus.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" stalemarker"))).otherwise(col("text")))
    val junk = corpus.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" junkword")).as("text"))
    val v = graft.operators.Retrieval.buildBm25Index(
      stale.unionByName(junk), dir)
    // disjoint b=1/b=2 segment writes — independent, overlapped (§2.6)
    graft.plans.Overlap.par(
      graft.operators.Retrieval.ingestBm25(
        corpus.filter(col("doc_id") % 10 === 7 || col("doc_id") % 5 === 0),
        dir, batchId = 1L, version = v),
      graft.operators.Retrieval.deleteBm25(junk.select("doc_id"), dir,
        batchId = 2L, version = v))
    graft.operators.Retrieval.bm25Stats(s, dir, version = v)
  }

  /** Exact-phrase search from the positional postings
    * ([[graft.operators.Retrieval.phraseMatches]]): docs where
    * "key order" appears with adjacent tokens, and how many times.
    * The oracle replays adjacency directly on the token array — the
    * n-way (docid, start) join over pruned postings legs must
    * reproduce it exactly.
    */
  val textPhraseSearch: Q = (s, d) => {
    val dir = Scratch.dir("graft_bm25_phrase")
    val v = graft.operators.Retrieval.buildBm25Index(docs(s, d), dir)
    graft.operators.Retrieval
      .phraseMatches(s, dir, Seq("key", "order"), version = v)
      .orderBy("doc_id")
  }

  /** Hybrid retrieval ([[graft.operators.Retrieval.rrfFuse]]): BM25
    * top-20 fused with a quality-prior top-20 via reciprocal-rank
    * fusion (c = 60) — relevance × quality, the standard hybrid
    * combiner. Both input rankings and the nano-rounded fused score are
    * integer-exact, so the oracle reproduces the fusion bit-for-bit.
    */
  val textRrfFusion: Q = (s, d) => {
    val corpus = docs(s, d)
    val bm = TextOps.bm25TopK(corpus, bm25Terms, k = 20)
      .select("doc_id", "rk")
    val ql = corpus.select(col("doc_id"),
        round(TextOps.qualityScore(col("text")) * 1e6).cast("long").as("__qi"))
      .orderBy(col("__qi").desc, col("doc_id").asc).limit(20)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__qi").desc, col("doc_id").asc)))
      .select("doc_id", "rk")
    graft.operators.Retrieval.rrfFuse(bm, ql, k = 10).orderBy("doc_id")
  }

  /** HYBRID retrieval over BOTH index tiers
    * ([[graft.operators.Retrieval.hybridSearch]]) — the query shape the
    * postings index and the ANN index exist to serve together: the BM25
    * probe answers the lexical leg from its pruned postings partitions,
    * the persisted ANN probe answers the semantic leg (query = doc 3's
    * embedding) from its probed cluster directories, and the two
    * shortlists fuse with RRF. Runs the PARITY configuration —
    * nprobe = nCentroids and a shortlist deeper than the corpus — so
    * the ANN leg is PROVABLY the exact cosine top-20 and the whole
    * fused output is row-level oracle-replayable (SQL BM25 replay ×
    * exact cosine top-20 × RRF replay); the production pruned plan
    * facts (postings partition pruning, cluster directory pruning) are
    * asserted in RetrievalSpec on the same composed operator.
    */
  val textHybridSearch: Q = (s, d) => {
    val corpus = docs(s, d)
    val emb = Tables.embeddings(s, d)
    val bmDir = Scratch.dir("graft_bm25_hyb")
    val annDir = Scratch.dir("graft_ann_hyb")
    // the two index builds touch DISJOINT stores — overlap them
    // (guide §2.6): the lifecycle pays max(build, build), not the sum
    val (_, (_, v)) = graft.plans.Overlap.par(
      graft.operators.Retrieval.buildBm25Index(corpus, bmDir),
      graft.operators.AnnIndex.build(emb, annDir))
    val qv = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.operators.Retrieval.hybridSearch(s, bmDir, annDir, bm25Terms,
        qv, emb, k = 10, kLeg = 20, nprobe = 16, rerank = 1 << 20,
        annVersion = v)
      .orderBy("doc_id")
  }

  /** BATCHED hybrid retrieval
    * ([[graft.operators.Retrieval.hybridSearchBatch]]): the three
    * `bm25Queries` carry their terms AND their embedding (q_vec =
    * embedding of vec_id = q_id), answered with ONE pruned postings
    * pass + ONE probed codes pass and fused per query — N queries cost
    * two index passes, not 2·N. Runs the parity configuration
    * (`text_hybrid_search`'s argument, per query), so the whole fused
    * table replays row-level: batched SQL BM25 replay × per-query exact
    * cosine top-10 × per-query RRF replay.
    */
  val textHybridBatch: Q = (s, d) => {
    import s.implicits._
    val corpus = docs(s, d)
    val emb = Tables.embeddings(s, d)
    val bmDir = Scratch.dir("graft_bm25_hybb")
    val annDir = Scratch.dir("graft_ann_hybb")
    // disjoint-store builds overlap (guide §2.6, text_hybrid_search)
    val (bv, (_, av)) = graft.plans.Overlap.par(
      graft.operators.Retrieval.buildBm25Index(corpus, bmDir),
      graft.operators.AnnIndex.build(emb, annDir))
    val q = bm25Queries.toDF("q_id", "terms")
      .join(emb.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec")), Seq("q_id"))
    graft.operators.Retrieval.hybridSearchBatch(s, bmDir, annDir, q, emb,
        k = 5, kLeg = 10, nprobe = 16, rerank = 1 << 20,
        bm25Version = bv, annVersion = av)
      .orderBy("q_id", "doc_id")
  }

  /** STREAMING hybrid retrieval
    * ([[graft.operators.Retrieval.hybridSearchStream]]) — the serving
    * loop: the three `bm25Queries` ARRIVE as two micro-batches (the
    * first query, then the other two — single-file waves with forced
    * mtimes + `maxFilesPerTrigger = 1`) against stores built once and
    * version-pinned at stream construction; each batch is answered with
    * the two pruned index passes and lands as an idempotent per-batch
    * verdict directory. The stream never mutates the stores, so
    * streamed ≡ the one-shot [[textHybridBatch]] structurally — same
    * parity configuration, same rows, same oracle (the batch split is
    * provably a delivery detail, which sharing the oracle pins).
    */
  val textHybridStream: Q = (s, d) => {
    import s.implicits._
    val corpus = docs(s, d)
    val emb = Tables.embeddings(s, d)
    val bmDir = Scratch.dir("graft_bm25_hybs")
    val annDir = Scratch.dir("graft_ann_hybs")
    val q = bm25Queries.toDF("q_id", "terms")
      .join(emb.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec")), Seq("q_id"))
    val feedDir = Scratch.dir("graft_hybs_feed")
    val firstId = bm25Queries.head._1
    // the two index builds and the two query-wave plants all touch
    // disjoint directories — independent actions, overlapped (§2.6)
    val (bv, (_, av), _) = graft.plans.Overlap.par3(
      graft.operators.Retrieval.buildBm25Index(corpus, bmDir),
      graft.operators.AnnIndex.build(emb, annDir),
      {
        plantWave(feedDir, q.filter(col("q_id") === firstId), "wave_a",
          waveBaseMs)
        plantWave(feedDir, q.filter(col("q_id") =!= firstId), "wave_b",
          waveBaseMs + 60000L)
      })
    val stream = s.readStream.schema(q.schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.parquet").parquet(feedDir)
    val sinkDir = Scratch.dir("graft_hybs_out")
    val sq = graft.streaming.StreamScale.runDrained(s) {
      graft.operators.Retrieval.hybridSearchStream(s, bmDir,
          annDir, stream, emb,
          (res, b) => res.write.mode("overwrite").parquet(s"$sinkDir/b=$b"),
          k = 5, kLeg = 10, nprobe = 16, rerank = 1 << 20,
          bm25Version = bv, annVersion = av)
        .option("checkpointLocation", Scratch.dir("graft_hybs_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start() }
    BenchProbe.addStreamData("text_hybrid_stream", sq)
    s.read.parquet(sinkDir).select("q_id", "doc_id", "rrf_nano", "rk")
      .orderBy("q_id", "doc_id")
  }

  /** Tenant-/collection-SCOPED hybrid retrieval
    * ([[graft.operators.Retrieval.hybridSearch]] with `allowed`): both
    * index probes restrict to the predicate's id set (doc_id % 3 != 0)
    * with each leg's pre-filter semantics — BM25 keeps corpus-wide
    * statistics (the filter restricts who may ANSWER, not what terms
    * mean) and gates candidates before the top-k; the ANN leg gates
    * candidates before the shortlist window — so fusion never ranks a
    * disallowed doc and selectivity cannot starve either leg. Parity
    * configuration, so the fused rows replay row-level (BM25 replay
    * ranked among allowed x exact cosine over allowed x RRF).
    */
  val textHybridFiltered: Q = (s, d) => {
    val corpus = docs(s, d)
    val emb = Tables.embeddings(s, d)
    val bmDir = Scratch.dir("graft_bm25_hybf")
    val annDir = Scratch.dir("graft_ann_hybf")
    // disjoint-store builds overlap (guide §2.6, text_hybrid_search)
    val (_, (_, v)) = graft.plans.Overlap.par(
      graft.operators.Retrieval.buildBm25Index(corpus, bmDir),
      graft.operators.AnnIndex.build(emb, annDir))
    val qv = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val allowed = corpus.filter(col("doc_id") % 3 =!= 0).select("doc_id")
    graft.operators.Retrieval.hybridSearch(s, bmDir, annDir, bm25Terms,
        qv, emb, k = 10, kLeg = 20, nprobe = 16, rerank = 1 << 20,
        annVersion = v, allowed = Some(allowed))
      .orderBy("doc_id")
  }

  /** The flagship query shape from SQL ALONE (`graft_hybrid_search`):
    * both index stores probed and RRF-fused by one SQL expression,
    * results exploded into rows. Parity configuration, so the oracle
    * replays row-level (BM25 replay x exact cosine top-20 x RRF); the
    * wire query is anonymous (q_id = -1), so no corpus id is
    * self-excluded — the one deliberate difference from
    * `text_hybrid_search`'s doc-3 query, and the oracle reflects it.
    */
  val hybridSearchSql: Q = (s, d) => {
    GraftExtensions.register(s)
    val corpus = docs(s, d)
    val emb = Tables.embeddings(s, d)
    val bmDir = Scratch.dir("graft_bm25_hybsql")
    val annDir = Scratch.dir("graft_ann_hybsql")
    // disjoint-store builds overlap (guide §2.6, text_hybrid_search)
    graft.plans.Overlap.par(
      graft.operators.Retrieval.buildBm25Index(corpus, bmDir),
      graft.operators.AnnIndex.build(emb, annDir))
    emb.createOrReplaceTempView("graft_hyb_corpus")
    // doc 3's embedding as exact double literals (float -> double is
    // value-exact, Double.toString round-trips)
    val vecSql = emb.filter(col("vec_id") === 3)
      .head().getAs[scala.collection.Seq[Float]]("embedding")
      .map(f => f.toDouble.toString + "D")
      .mkString("array(", ", ", ")")
    s.sql(
      s"""SELECT h.doc_id, h.rrf_nano, h.rk
         |FROM (SELECT explode(graft_hybrid_search('$bmDir', '$annDir',
         |        array('scan', 'merge', 'window'), $vecSql,
         |        'graft_hyb_corpus', 10, 20, 16, ${1 << 20})) AS h)
         |ORDER BY h.doc_id""".stripMargin)
  }

  /** The BATCHED, tenant-scoped hybrid shape from SQL ALONE
    * (`graft_hybrid_batch`): a whole query table (q_id, terms, q_vec)
    * answered with ONE pass over each index tier, both legs restricted
    * to the allowed-id view (vec_id % 3 != 0) with pre-filter
    * semantics, RRF-fused per query — the production retrieval-eval /
    * RAG shape, previously Scala-only, now driven end-to-end by one SQL
    * call. Parity configuration, so the oracle replays row-level:
    * batched BM25 replay ranked among allowed × per-query exact cosine
    * over allowed × per-query RRF.
    */
  val hybridBatchSql: Q = (s, d) => {
    import s.implicits._
    GraftExtensions.register(s)
    val corpus = docs(s, d)
    val emb = Tables.embeddings(s, d)
    val bmDir = Scratch.dir("graft_bm25_hbbsql")
    val annDir = Scratch.dir("graft_ann_hbbsql")
    // disjoint-store builds overlap (guide §2.6, text_hybrid_search)
    graft.plans.Overlap.par(
      graft.operators.Retrieval.buildBm25Index(corpus, bmDir),
      graft.operators.AnnIndex.build(emb, annDir))
    emb.createOrReplaceTempView("graft_hbb_corpus")
    bm25Queries.toDF("q_id", "terms")
      .join(emb.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec")), Seq("q_id"))
      .createOrReplaceTempView("graft_hbb_queries")
    // the allowed set comes from the DOCUMENT id space (its first
    // column feeds both legs; the ANN leg renames it to the vector id
    // column) — at sf0.1 the embeddings table covers only a prefix of
    // the doc ids, so an embeddings-derived set would silently starve
    // the BM25 leg of every doc past that prefix
    corpus.filter(col("doc_id") % 3 =!= 0).select("doc_id")
      .createOrReplaceTempView("graft_hbb_allowed")
    s.sql(
      s"""SELECT h.q_id, h.doc_id, h.rrf_nano, h.rk
         |FROM (SELECT explode(graft_hybrid_batch('$bmDir', '$annDir',
         |        'graft_hbb_queries', 'graft_hbb_corpus', 5, 10, 16,
         |        ${1 << 20}, 'graft_hbb_allowed')) AS h)
         |ORDER BY h.q_id, h.doc_id""".stripMargin)
  }

  val textFingerprint: Q = (s, d) =>
    docs(s, d).select(col("doc_id"),
      TextOps.fingerprintMd5(col("text")).as("fp_md5"))
      .orderBy("doc_id")

  /** Rolling-hash fingerprint, md5-token-hash variant so the Horner chain
    * is reproducible in the oracle (`list_reduce` mirror).
    */
  val textFingerprintRolling: Q = (s, d) =>
    docs(s, d).select(col("doc_id"),
      TextOps.fingerprintRolling(col("text"), md5Tokens = true).as("fp_roll"))
      .orderBy("doc_id")

  /** Repetition screening (C4/Gopher-style): top-token dominance and
    * duplicate-bigram fraction per doc.
    */
  val textRepetition: Q = (s, d) => {
    val cols = TextOps.repetitionSignals(col("text")).map { case (n, c) => c.as(n) }
    docs(s, d).select(col("doc_id") +: cols: _*).orderBy("doc_id")
  }

  /** The documents table restructured so every Gopher rule has both
    * outcomes in-corpus ([[piiAugmentedDocs]] discipline): an
    * all-bullets kind (bullet-dominance ceiling), a short-words kind
    * (mean-word-length floor), a tiny-doc kind (word-count floor), a
    * numeric-flood kind (alphabetic-word floor), a bullet line, a
    * pair of ellipsis-terminated lines, a `#`-symbol line, and a
    * stop-word suffix that two thirds of docs get (the other third
    * fails the stop-word rule). The SAME construction is in the
    * oracle, so each rule's firing set is replayed exactly.
    */
  private[graft] def gopherAugmentedDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val numericFlood = (101 to 132).mkString(" ", " ", "")
    val base = when(id % 29 === 0, lit("• one\n• two"))
      .when(id % 19 === 0, lit(Seq.fill(60)("ok").mkString(" ")))
      .when(id % 17 === 0, lit("tiny doc only"))
      .otherwise(col("text"))
    val l1 = concat(base,
      when(id % 3 =!= 0, lit(" with that and of")).otherwise(lit("")),
      when(id % 13 === 0, lit(numericFlood)).otherwise(lit("")))
    val doc = concat(l1,
      when(id % 4 === 0,
        concat(lit("\n• planted bullet "), id.cast("string")))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit("\ntrailing thought "), id.cast("string"),
          lit("…\nsecond trailing…"))).otherwise(lit("")),
      when(id % 6 === 0,
        concat(lit("\n#### tags ## "), id.cast("string")))
        .otherwise(lit("")))
    graft.plans.ScaleOut.widen(docs(s, d)).select(id, doc.as("text"))
  }

  /** GOPHER QUALITY RULES (`pipeline_gopher_rules`) — the published
    * rule set of Rae et al. 2021 (Gopher, Appendix A1.1; the same
    * core MassiveText/RefinedWeb/FineWeb inherit) as one declarative
    * decision layer: per doc, every signal, a violation bitmask and
    * the keep verdict. Rules (bit set = VIOLATED):
    *   0  word count outside [50, 100000]
    *   1  mean word length outside [3, 10]
    *   2  symbol-to-word ratio (`#` + `…` chars per word) > 0.1
    *   3  > 90% of lines start with a bullet
    *   4  > 30% of lines end with an ellipsis
    *   5  < 80% of words contain an alphabetic character
    *   6  fewer than 2 distinct Gopher stop words
    *      (the, be, to, of, and, that, have, with)
    * Everything is built-in functions + higher-order lambdas over ONE
    * whitespace split and ONE line split — no UDF, no shuffle, a pure
    * scan projection that composes after extraction and before any
    * fingerprint; at 100 TB this is a map-only gate exactly like the
    * reference's partial-index WHERE (emitted-means-pass,
    * `/root/reference/Projector/indexjs.go:73-191`).
    */
  val pipelineGopherRules: Q = (s, d) => {
    val words = filter(split(col("text"), "\\s+"),
      w => length(w) > 0)
    val lines = split(col("text"), "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val sumLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val meanLen = round(sumLen.cast("double") / nWords, 6)
    val nSymbols = (length(col("text")) -
      length(translate(col("text"), "#…", ""))).cast("long")
    val symbolRatio = round(nSymbols.cast("double") / nWords, 6)
    val bulletFrac = round(
      size(filter(lines, l => l.startsWith("•"))).cast("double") /
        nLines, 6)
    val ellipsisFrac = round(
      size(filter(lines, l => l.endsWith("…") || l.endsWith("...")))
        .cast("double") / nLines, 6)
    val alphaFrac = round(
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") /
        nWords, 6)
    val gopherStops = Seq("the", "be", "to", "of", "and", "that",
      "have", "with")
    val nStop = size(array_intersect(array_distinct(words),
      array(gopherStops.map(lit): _*))).cast("long")
    gopherAugmentedDocs(s, d)
      .select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"),
        nStop.as("n_stop"))
      .withColumn("rules",
        (when(col("n_words") < 50 || col("n_words") > 100000, 1)
          .otherwise(0) +
         when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0, 2)
          .otherwise(0) +
         when(col("symbol_ratio") > 0.1, 4).otherwise(0) +
         when(col("bullet_frac") > 0.9, 8).otherwise(0) +
         when(col("ellipsis_frac") > 0.3, 16).otherwise(0) +
         when(col("alpha_frac") < 0.8, 32).otherwise(0) +
         when(col("n_stop") < 2, 64).otherwise(0)).cast("int"))
      .withColumn("keep", col("rules") === 0)
      .orderBy("doc_id")
  }

  /** Unicode/whitespace canonicalization ([[TextOps.cleanText]]): the
    * corpus is ASCII, so the query plants deterministic noise first —
    * combining accents (e → e+U+0301), doubled spaces, a trailing control
    * char — and the oracle verifies the cleaned BYTES via md5 (DuckDB
    * `nfc_normalize` produces the same NFC composition as
    * `java.text.Normalizer`). Pure scan projection: the cleanup a 100 TB
    * ingest runs before any fingerprint or tokenizer sees the text.
    */
  val textNormalize: Q = (s, d) => {
    val noisy = concat(
      regexp_replace(regexp_replace(col("text"), "e", "e\u0301"), " ", "  "),
      lit("\u0007"))
    docs(s, d)
      .select(col("doc_id"), TextOps.cleanText(noisy).as("clean"))
      .select(col("doc_id"), md5(col("clean")).as("md5_clean"),
        length(col("clean")).cast("long").as("n_clean"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary construction: top tokens by frequency with a dense
    * frequency rank — the token→id table a tokenizer-training or
    * LM-head-sizing pass reads. Shape at scale: one map-side-combined
    * count aggregate, then `orderBy().limit(n)` = TakeOrdered (per-partition
    * top-n, no global sort materialization). The rank is assigned
    * driver-side over the collected ≤n rows (control-plane data, already
    * in rank order from TakeOrdered) — an unpartitioned rank window over
    * the same rows would be equally cheap but emits a
    * `WARN WindowExec: No Partition Defined` on every run, and a noisy
    * bench tail masks real warnings.
    */
  val textVocab: Q = (s, d) => {
    import s.implicits._
    val top = docs(s, d)
      .select(explode(TextOps.normTokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(200)
      .as[(String, Long)].collect()
    top.zipWithIndex
      .map { case ((token, cnt), i) => (token, cnt, (i + 1).toLong) }
      .toSeq.toDF("token", "cnt", "rank")
      .orderBy("rank")
  }

  /** Quality-based selection (the FineWeb/DCLM shape): keep each source's
    * top quality quartile. Scale form: the cutoff is a per-source
    * aggregate (exact percentile; map-side combined, sources are
    * control-plane cardinality) broadcast back as a filter — NOT a
    * per-source rank window, which would shuffle the full corpus into
    * one partition per source. Thresholds compare in integer micro-units:
    * quality is 6-rounded, so ×1e6 is an exact integer, and a 0.75
    * percentile interpolates with dyadic fractions (f ∈ {0,¼,½,¾}) —
    * both engines compute bit-identical cutoffs, no boundary flips.
    */
  val sampleTopQuality: Q = (s, d) => {
    val scored = docs(s, d).select(col("doc_id"), col("source"),
      TextOps.qualityScore(col("text")).as("quality"),
      round(TextOps.qualityScore(col("text")) * 1e6).cast("long").as("__qi"))
    val thr = scored.groupBy("source")
      .agg(expr("percentile(__qi, 0.75)").as("__thr"))
    scored.join(broadcast(thr), "source")
      .filter(col("__qi") >= col("__thr"))
      .select("doc_id", "source", "quality")
      .orderBy("doc_id")
  }

  val sampleFraction: Q = (s, d) =>
    Sampling.byFraction(docs(s, d), "doc_id", 0.25)
      .select("doc_id", "source").orderBy("doc_id")

  val sampleStratified: Q = (s, d) =>
    Sampling.stratified(docs(s, d), "source", 20, "doc_id")
      .select("doc_id", "source").orderBy("source", "doc_id")

  /** Token-budget selection ([[Sampling.tokenBudget]]): each source keeps
    * its deterministic stream's first 800 tokens' worth of docs (the
    * boundary doc included). The oracle replays the cumulative window
    * directly — proving the bucketed two-phase prefix sum equals the
    * naive per-source cumulative sum on real data.
    */
  val sampleTokenBudget: Q = (s, d) =>
    Sampling.tokenBudget(
      docs(s, d).select(col("doc_id"), col("source"),
        size(TextOps.normTokens(col("text"))).cast("long").as("n_tokens")),
      budget = 800)
      .select("doc_id", "source", "n_tokens", "tok_before")
      .orderBy("doc_id")

  /** Temperature mixture ([[Sampling.temperatureMixture]], τ = 1/2,
    * target 15k tokens): per-source keep-fractions derived from corpus
    * token totals with sqrt-only arithmetic, so DuckDB recomputes the
    * exact thresholds; every kept row and its 6-rounded fraction must
    * match.
    */
  val sampleTemperature: Q = (s, d) =>
    Sampling.temperatureMixture(
      docs(s, d).select(col("doc_id"), col("source"),
        size(TextOps.normTokens(col("text"))).cast("long").as("n_tokens")),
      targetTokens = 15000L)
      .select("doc_id", "source", "n_tokens", "mix_frac")
      .orderBy("doc_id")

  /** Token-weighted sampling without replacement
    * ([[Sampling.weighted]], n = 150): documents win ∝ their token
    * count via the Efraimidis–Spirakis exponential race. The oracle
    * replays the full priority — 52-bit md5 uniform, `-ln(u)/w` rounded
    * to 9 decimals, key tie-break — and must reproduce the exact
    * winner set AND selection order (`rk`), proving the TakeOrdered
    * path equals the naive global sort.
    */
  val sampleWeighted: Q = (s, d) =>
    Sampling.weighted(
      docs(s, d).select(col("doc_id"), col("source"),
        size(TextOps.normTokens(col("text"))).cast("long").as("n_toks")),
      n = 150, weightCol = "n_toks", keyCol = "doc_id")
      .select("doc_id", "source", "n_toks", "rk")
      .orderBy("doc_id")

  /** Streaming RESERVOIR sampling
    * ([[graft.streaming.StreamingSample.reservoir]]): the corpus
    * ARRIVES as two micro-batches (even then odd doc ids — single-file
    * waves with forced mtimes + `maxFilesPerTrigger = 1`) and each
    * batch folds the persisted n=150 token-weighted reservoir forward
    * as its own idempotent state directory. The fold priority is a
    * pure function of the key, so the end-of-stream sample must EQUAL
    * the one-shot [[Sampling.weighted]] race over the whole table —
    * this query shares `sample_weighted`'s oracle verbatim to pin
    * exactly that (batching is a delivery detail).
    */
  val sampleStreaming: Q = (s, d) => {
    val t = docs(s, d).select(col("doc_id"), col("source"),
      size(TextOps.normTokens(col("text"))).cast("long").as("n_toks"))
    val feedDir = Scratch.dir("graft_rsv_feed")
    plantWave(feedDir, t.filter(col("doc_id") % 2 === 0), "wave_a",
      waveBaseMs)
    plantWave(feedDir, t.filter(col("doc_id") % 2 === 1), "wave_b",
      waveBaseMs + 60000L)
    val stream = s.readStream.schema(t.schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.parquet").parquet(feedDir)
    val stateDir = Scratch.dir("graft_rsv_state")
    val q = graft.streaming.StreamScale.runDrained(s) {
      graft.streaming.StreamingSample.reservoir(s, stream, stateDir,
          n = 150, weightCol = "n_toks", keyCol = "doc_id")
        .option("checkpointLocation", Scratch.dir("graft_rsv_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start() }
    BenchProbe.addStreamData("sample_streaming", q)
    graft.streaming.StreamingSample.currentSample(s, stateDir).get
      .select("doc_id", "source", "n_toks", "rk")
      .orderBy("doc_id")
  }

  /** Per-stratum token-weighted sampling
    * ([[Sampling.weightedStratified]], 10 docs per source): the
    * [[Sampling.weighted]] race inside each source with one stratum-
    * partitioned rank window. The oracle replays the race per stratum
    * and must reproduce every winner AND its within-stratum rank.
    */
  val sampleWeightedStratified: Q = (s, d) =>
    Sampling.weightedStratified(
      docs(s, d).select(col("doc_id"), col("source"),
        size(TextOps.normTokens(col("text"))).cast("long").as("n_toks")),
      strataCol = "source", n = 10, weightCol = "n_toks", keyCol = "doc_id")
      .select("doc_id", "source", "n_toks", "rk")
      .orderBy("doc_id")

  val textChunks: Q = (s, d) =>
    Packing.chunk(docs(s, d), window = 64, overlap = 16)
      .select("doc_id", "chunk_idx", "chunk_tokens")
      .orderBy("doc_id", "chunk_idx")

  val packSequences: Q = (s, d) =>
    Packing.pack(
      docs(s, d).select(col("doc_id"), col("source"),
        size(TextOps.normTokens(col("text"))).cast("long").as("n_tokens")),
      budget = 2048)
      .orderBy("doc_id")

  val packContig: Q = (s, d) =>
    Packing.packContiguous(
      docs(s, d).select(col("doc_id"), col("source"),
        size(TextOps.normTokens(col("text"))).cast("long").as("n_tokens")),
      budget = 512)
      .orderBy("doc_id", "seq_id")

  /** Flagship curation pipeline: the extension operators composed the way a
    * training-data run uses them — exact-dedup to keepers, then ONE
    * feature pass (language id + quality score + token count all derive
    * from a single [[TextOps.tokenStats]] sweep per row), materialized as
    * a narrow feature table the gates filter. Separate filter operators
    * would re-evaluate the feature expressions per gate (predicate
    * pushdown substitutes projection aliases back into each filter); the
    * lazy checkpoint is the barrier that makes "compute features once,
    * then gate" the executed shape — which is also the corpus-scale
    * pipeline shape: the feature table is what a real run persists.
    */
  val pipelineCuration: Q = (s, d) => {
    val corpus = docs(s, d)
    val keepers = Dedup.exact(corpus).select(col("keep_id"))
    val feats = graft.plans.LazyCheckpoint.shared(
      corpus.join(keepers, corpus("doc_id") === keepers("keep_id"))
        .select(col("doc_id"), col("source"),
          TextOps.langId(col("text")).as("lang_pred"),
          TextOps.qualityScore(col("text")).as("quality"),
          TextOps.tokenStats(col("text")).getField("n_tokens").as("n_tokens")))
    feats.filter(col("lang_pred") === "en" && col("quality") >= 0.6)
      .select("doc_id", "source", "n_tokens")
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al.): the WHOLE corpus
    * scores under a reference trigram LM
    * ([[graft.functions.TextOps.backoffLogProb]], trained on the
    * `doc_id % 10 != 7` slice — the same model `text_backoff_lm` pins),
    * and each SOURCE's docs split into head/middle/tail terciles by LM
    * typicality — curation-by-perplexity done per domain, so a verbose
    * domain cannot flood the global head.
    *
    * Scale shape — NO corpus-wide sort: the 4-decimal-rounded score is
    * bounded-cardinality, so per-source tercile THRESHOLDS come from a
    * (source × rounded-score) count histogram (the only window runs
    * over histogram rows, not docs) and bucket assignment is a
    * broadcast threshold join back over the scan. Boundary-score ties
    * share the boundary bucket (threshold semantics, the CCNet rule) —
    * value-based, so the whole assignment replays row-level: the
    * oracle derives the same thresholds as the score at doc-rank
    * ceil(n/3) / ceil(2n/3), which equals the histogram's first
    * cum ≥ h score. Docs with < 3 tokens carry no trigrams and are
    * excluded (the LM's inner semantics, mirrored by the oracle).
    */
  val pipelinePplBuckets: Q = (s, d) => {
    val all = docs(s, d)
    val scored = graft.plans.LazyCheckpoint.shared(
      TextOps.backoffLogProb(all.filter(col("doc_id") % 10 =!= 7), all)
        .join(all.select("doc_id", "source"), "doc_id"))
    val hist = scored.groupBy("source", "avg_logprob")
      .agg(count(lit(1)).as("__c"))
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("avg_logprob").desc)
    // per-source total from an unbounded window over the same histogram
    // partition the cumulative sum already shuffles on — no second
    // aggregate, no join back
    val cum = hist.withColumn("__cum", sum("__c").over(wcum))
      .withColumn("__n", sum("__c").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
    val t1 = cum.filter(col("__cum") >= ceil(col("__n") / 3.0))
      .groupBy("source").agg(max("avg_logprob").as("__t1"))
    val t2 = cum.filter(col("__cum") >= ceil(col("__n") * 2.0 / 3.0))
      .groupBy("source").agg(max("avg_logprob").as("__t2"))
    scored.join(broadcast(t1.join(t2, "source")), "source")
      .withColumn("bucket",
        when(col("avg_logprob") >= col("__t1"), "head")
          .when(col("avg_logprob") >= col("__t2"), "middle")
          .otherwise("tail"))
      .select("doc_id", "source", "n_trigrams", "avg_logprob", "bucket")
      .orderBy("doc_id")
  }

  /** The documents table with a deterministic doc_id-derived contact block
    * appended — the synthetic corpus contains no natural PII, so the PII
    * operator is exercised on text where emails/phones/SSNs/IPs appear at
    * known, doc-dependent rates (the SAME augmentation is built into the
    * oracle SQL, so detection and redaction are verified end-to-end).
    */
  private[graft] def piiAugmentedDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val aug = concat(
      col("text"),
      when(id % 5 =!= 0, concat(lit(" contact user"), id.cast("string"),
        lit("@example.com"))).otherwise(lit("")),
      when(id % 3 === 0, concat(lit(" call +1-555-"),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((id * 7 % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 7 === 0, concat(lit(" ssn "), (id % 900 + 100).cast("string"),
        lit("-"), (id % 90 + 10).cast("string"), lit("-"),
        (id % 9000 + 1000).cast("string"))).otherwise(lit("")),
      when(id % 2 === 0, concat(lit(" from 10."), (id % 256).cast("string"),
        lit(".0."), (id * 3 % 256).cast("string"))).otherwise(lit("")))
    graft.plans.ScaleOut.widen(docs(s, d)).select(id, aug.as("text"))
  }

  /** The documents table wrapped in a deterministic HTML page — the
    * synthetic corpus is clean text, so the extraction operator is
    * exercised on markup whose structure is known per doc (the
    * [[piiAugmentedDocs]] discipline): head metadata (title, style,
    * script with `<`/`>`/fake-markup content), a comment carrying
    * markup, an all-anchor nav, an entity-bearing h1 (`&amp;`,
    * `&#33;`), a paragraph with inline tags and `&lt;keep&gt;`, the
    * doc's own text (HTML-escaped, so extraction must decode it back
    * byte-identically) in a div, a two-item list for every third doc
    * (`&#x41;` hex entity), an anchor-only read-more stub and an
    * anchor-only footer. The SAME wrapper is built into the oracle, so
    * tag stripping, raw-text skipping, entity decode, block
    * segmentation AND the link-density boilerplate rule are verified
    * end-to-end through the extracted bytes.
    */
  private[graft] def htmlAugmentedDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val esc = regexp_replace(regexp_replace(regexp_replace(col("text"),
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val listBlock = when(col("doc_id") % 3 === 0, concat(
        lit("<ul><li>alpha"), id,
        lit("</li><li>beta &#x41;"), id, lit("</li></ul>\n")))
      .otherwise(lit(""))
    val html = concat(
      lit("<!DOCTYPE html>\n<html><head><title>Doc "), id,
      lit("</title>\n<style>p { color: #fff; }</style>\n" +
        "<script type=\"text/javascript\">if (2 < 3) { " +
        "document.write(\"<p>not text</p>\"); }</script>\n" +
        "<meta charset=\"utf-8\"/>\n</head>\n" +
        "<body data-note=\"a > b\">\n" +
        "<!-- planted <p>comment</p> markup -->\n" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About site</a>" +
        "</nav>\n<h1>Title &amp; doc "), id, lit("&#33;</h1>\n<p>note"),
      id, lit(" says &lt;keep&gt; <b>this</b> text"), id,
      lit(":</p>\n<div>"), esc,
      lit("</div>\n"), listBlock,
      lit("<p><a href=\"/more\">read more</a></p>\n" +
        "<footer><a href=\"/tos\">Terms</a> " +
        "<a href=\"/privacy\">&copy; site</a></footer>\n</body></html>"))
    docs(s, d).select(col("doc_id"), html.as("html"), col("source"))
  }

  /** HTML → text extraction ([[TextOps.extractHtml]] /
    * [[graft.functions.HtmlExtract]]): the crawl-ingest first stage,
    * verified byte-for-byte — md5 of the extracted text plus the
    * kept/dropped block accounting, against the oracle's independent
    * reconstruction of what extraction of the planted wrapper must
    * yield. Pure scan projection (map-only, no shuffle): at 100 TB this
    * runs fused into the raw-crawl read, before any fingerprint,
    * quality gate or tokenizer sees a byte.
    */
  val textExtractHtml: Q = (s, d) => {
    htmlAugmentedDocs(s, d)
      .select(col("doc_id"), TextOps.extractHtml(col("html")).as("__ex"))
      .select(col("doc_id"),
        md5(col("__ex.text")).as("md5_text"),
        length(col("__ex.text")).cast("long").as("n_chars"),
        col("__ex.n_blocks").as("n_blocks"),
        col("__ex.n_dropped").as("n_dropped"))
      .orderBy("doc_id")
  }

  /** Main-content extraction (`text_extract_main`) — boilerplate
    * removal per the [[graft.functions.MainContent]] jusText-style
    * contract, one tag walk + one classification pass in the scan
    * projection. The fixture wraps each document in the furniture a
    * real page carries — a nav row (link density 1), an `h2` section
    * heading, the document text as the main paragraph, a "Read more"
    * link stub, a stopword-rich long paragraph on every third doc,
    * and a `&copy;` footer — so every ladder rule, the heading
    * promotion, and the neighbor revision all fire IN-corpus, with
    * the document text's own length/stopword features deciding the
    * main paragraph's fate (text-dependent, not planted-constant).
    * The oracle replays the whole contract in SQL: integer-threshold
    * ladder, cumulative-sum heading distance, window-function
    * neighbor revision, and the final-good join verified via md5.
    */
  /** The main-content fixture page: the furniture construction shared
    * by `text_extract_main` (block-level pin) and
    * `pipeline_pretrain_main` (the composed chain).
    */
  private[graft] def mainContentHtml(id: Column, text: Column): Column = {
    val site = (id % 13).cast("string")
    val filler = ("the data line holds a value for the row " * 6).trim
    concat(
      lit("<html><head><title>Doc</title></head><body>" +
        "<div><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/news\">News</a> <a href=\"/contact\">Contact</a>" +
        "</div><h2>Latest from site "), site,
      lit("</h2><p>"), text,
      lit("</p><p><a href=\"/more\">Read more</a></p>"),
      when(id % 3 === 0, lit(s"<p>$filler</p>")).otherwise(lit("")),
      lit("<footer>&copy; 2026 site"), site,
      lit(".com All rights reserved</footer></body></html>"))
  }

  val textExtractMain: Q = (s, d) => {
    docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("__m", TextOps.htmlMain(
        mainContentHtml(col("doc_id"), col("text"))))
      .select(col("doc_id"), md5(col("__m.main_text")).as("main_md5"),
        explode(col("__m.blocks")).as("b"))
      .select(col("doc_id"),
        col("b.block_idx").cast("long").as("block_idx"),
        col("b.heading").as("heading"),
        col("b.n_chars").cast("long").as("n_chars"),
        col("b.n_words").cast("long").as("n_words"),
        col("b.n_stop").cast("long").as("n_stop"),
        col("b.link_chars").cast("long").as("link_chars"),
        col("b.cf_class").as("cf_class"),
        col("b.final_class").as("final_class"),
        col("main_md5"))
      .orderBy("doc_id", "block_idx")
  }

  /** The per-language stoplists the artifact variant plants: v1
    * carries only English; v2 adds de/es/fr (distinct vocabulary
    * subsets so outcomes differ BY LANGUAGE) and still omits zh —
    * the rollout that never finished, honestly dark.
    */
  private[graft] val stoplistsV1: Map[String, Seq[String]] =
    Map("en" -> graft.functions.MainContent.corpusStopwords.toSeq.sorted)
  private[graft] val stoplistsV2: Map[String, Seq[String]] = stoplistsV1 ++ Map(
    "de" -> Seq("the", "a", "key", "order", "fast", "slow"),
    "es" -> Seq("data", "line", "value", "row", "join"),
    "fr" -> Seq("the", "data", "merge", "sort", "query", "scan"))

  /** MAIN CONTENT WITH PER-LANGUAGE STOPLISTS from a versioned
    * artifact (`text_extract_main_artifact`,
    * [[graft.functions.StoplistStore]] +
    * [[graft.functions.HtmlMainLangExpr]]) — the production jusText
    * shape: the page's language selects its stoplist, and the lists
    * are versioned DATA (a stoplist edit is an artifact rollout).
    * Two pins over the same rows: under v1 only English pages
    * classify with function words (de/es/fr/zh prose has zero
    * stopword density and falls to `bad` — conservative dark data);
    * v2's rollout un-nulls de/es/fr while zh honestly stays dark.
    * The oracle replays BOTH pins side-by-side as two prefixed block
    * chains whose stopword count is a per-language CASE.
    */
  val textExtractMainArtifact: Q = (s, d) => {
    val dir = Scratch.dir("graft_stoplists")
    val v1 = graft.functions.StoplistStore.save(dir, stoplistsV1)
    val v2 = graft.functions.StoplistStore.save(dir, stoplistsV2)
    def mainFor(version: Int): Column =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.HtmlMainLangExpr(
          org.apache.spark.sql.GraftBridge.expression(
            mainContentHtml(col("doc_id"), col("text"))),
          org.apache.spark.sql.GraftBridge.expression(col("lang")),
          graft.functions.StoplistStore.listsAt(dir, version)
            .toSeq.sortBy(_._1)
            .map { case (l, ws) => (l, ws.toSeq.sorted) }))
    def goodCount(m: Column): Column =
      size(filter(m.getField("blocks"),
        b => b.getField("final_class") === "good")).cast("long")
    docs(s, d).select(col("doc_id"), col("lang"), col("text"))
      .withColumn("__m1", mainFor(v1))
      .withColumn("__m2", mainFor(v2))
      .select(col("doc_id"), col("lang"),
        size(col("__m2.blocks")).cast("long").as("n_blocks"),
        goodCount(col("__m1")).as("n_good_v1"),
        md5(col("__m1.main_text")).as("main_md5_v1"),
        goodCount(col("__m2")).as("n_good_v2"),
        md5(col("__m2.main_text")).as("main_md5_v2"))
      .orderBy("doc_id")
  }

  /** The space-free-script fixture constants — shared, character for
    * character, by the planted page builder ([[cjkPageHtml]]), the
    * v3 stoplist artifact, and the oracle SQL generator
    * ([[cjkMainBlocksCtes]]), so the Spark side and the DuckDB
    * replay cannot drift. Sentence metrics (exact, by construction):
    * hi = function-char-rich prose (zh 38 chars / 25 stop, ja 36/30);
    * lo = zero-function-char prose (20 chars); med sits exactly in
    * the [0.10, 0.15) density band (zh 36/4, ja 37/4 — the
    * `neargood`-only rule). The stop-CHAR lists are the v3 artifact
    * payload: zh/ja's most frequent function characters (的/了/在/是
    * … and の/に/は/を …), droppable the way "the/of" are.
    */
  private[graft] object CjkMainFixture {
    val zhStopChars: Seq[String] =
      "的了在是我他这就不人都一有很到说要以个们".map(_.toString)
    val jaStopChars: Seq[String] =
      "のにはをたがでてとしいなれさるもからこそ".map(_.toString)
    val zhHi =
      "我们的人说他要在这里的地方做一个很大的计划了因为我的朋友都是要到这里来的人了"
    val zhLo = "青山绿水风景秀丽春花秋月冬雪夏雨名胜古迹"
    val zhMed =
      "春天的山谷风景如画孩童们草地玩耍很远处青山绿水环绕着我家村庄美丽动感色彩"
    val jaHi =
      "これはそのひとのためのものであったがそのことをかれはしらなかったのである"
    val jaLo = "春夏秋冬山川草木花鳥風月雪月風花雲海波光"
    // hangul prose for the script-langid router (ko is space-delimited
    // — no char branch needed — but script routing still must see it)
    val koHi =
      "대한민국의 수도는 서울특별시이며 많은 사람들이 살고있는 도시입니다"
    val jaMed =
      "春の山里は風景美化桜色の空気清涼鳥声が響谷川水流岩場苔石道散策気分爽快自然"
    val zhNav = Seq("首页", "关于我们", "新闻")
    val jaNav = Seq("ホーム", "ニュース", "会社概要")
    val zhStub = "更多内容"
    val jaStub = "次へ"
    val zhFooter = "版权所有 保留一切权利"
    val jaFooter = "株式会社サンプル 無断転載禁止"
  }

  /** The non-Latin, non-CJK script fixture constants — the round-15
    * dark-data item (ru/ar/th are a double-digit share of the real
    * web and all previously misrouted to en/de/es/fr): shared by the
    * planted page builders, the v4 stoplist artifact and the oracle
    * SQL generators, so Spark and the DuckDB replay cannot drift.
    *
    * Thai is the SPACE-FREE case ([[CjkMainFixture]]'s shape one
    * script over): `thStopChars` are 20 distinct vowel signs + tone
    * marks (the genuinely highest-frequency char class in running
    * Thai — the per-character analog of 的/了); thHi is natural prose
    * (51 chars, 19 stop → density 0.37 ≥ 0.15), thLo is a zero-stop
    * consonant run (20 chars), thMed sits exactly in the [0.10, 0.15)
    * band (36 chars, 4 stop → 0.111 — the `neargood`-only rule).
    *
    * ru/ar are SPACED scripts — the WORD ladder applies once the v4
    * artifact carries their stoplists: ruHi 15 words / 5 stop
    * (density 0.33 ≥ 0.32; 74 chars so ×1 is neargood, ×3 crosses the
    * 200-char good gate), ruMed exactly 3/10 (the [0.30, 0.32) band),
    * arHi 17/7, arMed 3/10, the lo sentences zero-stop noun runs.
    */
  private[graft] object ScriptMainFixture {
    val thStopChars: Seq[String] = "ะัาำิีึืุูเแโใไ็่้๊๋".map(_.toString)
    val thHi = "ผู้คนในเมืองนี้ชอบอ่านหนังสือที่บ้านของพวกเขาทุกวัน"
    val thLo = "กขคงจฉชซญดตถทธนบปผฝพ"
    val thMed = "กขคงจฉชซฌญฎฏฐฑฒณดตถทธนบปผฝพฟภมยราีุ่"
    val thNav = Seq("หน้าแรก", "เกี่ยวกับเรา", "ข่าวสาร")
    val thStub = "อ่านต่อ"
    val thFooter = "สงวนลิขสิทธิ์"
    val thHead = "บทที่"

    val ruStops: Seq[String] =
      Seq("и", "в", "не", "на", "что", "с", "он", "как", "это", "по")
    val ruHi =
      "он живёт в доме на берегу реки и каждое утро смотрит как вода несёт листья"
    val ruLo = "город дерево камень дорога гора поле лес мост башня сад"
    val ruMed = "и вот река в тумане несёт на берег холодные брызги"
    val ruNav = Seq("Главная", "Контакты", "Новости")
    val ruStub = "Далее"
    val ruFooter = "Все права защищены"
    val ruHead = "Глава"

    val arStops: Seq[String] =
      Seq("في", "من", "على", "أن", "إلى", "عن", "ما", "لا", "هذا", "هو")
    val arHi =
      "هو يعيش في بيت كبير على شاطئ النهر من غير أن يخاف ما دام الصيف في أمان"
    val arLo = "مدينة شجرة حجر طريق جبل حقل غابة جسر برج حديقة"
    val arMed = "في الصباح يمشي الرجل على الطريق إلى السوق القديم بهدوء"
    val arNav = Seq("الرئيسية", "اتصل", "أخبار")
    val arStub = "المزيد"
    val arFooter = "جميع الحقوق محفوظة"
    val arHead = "الفصل"

    // Devanagari (hi) — langid-routing fixture only this round (the
    // extraction stoplist is a future data rollout, ru/ar's shape)
    val hiHi =
      "इस शहर में लोग नदी के किनारे रहते हैं और अपने घर से बहुत प्यार करते हैं"
  }

  /** The planted space-free-script page: the [[mainContentHtml]]
    * furniture shape re-cast in zh (even docs) / ja (odd docs) — an
    * anchor-dominated nav row, a `第N章` section heading, an optional
    * ENGLISH paragraph (the doc's own text, every 7th page — the
    * mixed-script block that must take the WORD ladder on a CJK page:
    * branch selection is per-block, not per-page), the prose
    * paragraph `hi×a + lo×b` (a = (doc_id/2)%4, b = (doc_id/2)%3 —
    * decoupled from the lang parity; a=b=0 plants no prose block and
    * the page is all furniture), an optional medium-density paragraph
    * (every 5th page — the 0.10 rule's arm), an anchor stub, and a
    * `&copy;` footer.
    */
  private[graft] def cjkPageHtml(id: Column, text: Column,
                          zh: Column,
                          withEnglish: Boolean = true): Column = {
    import CjkMainFixture._
    val j = (id / 2).cast("long")
    def byLang(z: String, jp: String): Column =
      when(zh, lit(z)).otherwise(lit(jp))
    val nav = concat(lit("<div><a href=\"/\">"),
      byLang(zhNav(0), jaNav(0)), lit("</a> <a href=\"/about\">"),
      byLang(zhNav(1), jaNav(1)), lit("</a> <a href=\"/news\">"),
      byLang(zhNav(2), jaNav(2)), lit("</a></div>"))
    val heading = concat(lit("<h2>第"), (id % 9).cast("string"),
      lit("章</h2>"))
    val english =
      if (!withEnglish) lit("")
      else when(j % 7 === 0,
        concat(lit("<p>"), text, lit("</p>"))).otherwise(lit(""))
    // repeat(s, 0) = "" and an empty <p> emits no block (the scanner
    // drops empty collapsed blocks), so the prose paragraph plants
    // unconditionally
    val prose = concat(lit("<p>"),
      repeat(byLang(zhHi, jaHi), (j % 4).cast("int")),
      repeat(byLang(zhLo, jaLo), (j % 3).cast("int")), lit("</p>"))
    val med = when(j % 5 === 0,
      concat(lit("<p>"), byLang(zhMed, jaMed), lit("</p>")))
      .otherwise(lit(""))
    val stub = concat(lit("<p><a href=\"/more\">"),
      byLang(zhStub, jaStub), lit("</a></p>"))
    val footer = concat(lit("<footer>&copy; 2026 "),
      byLang(zhFooter, jaFooter), lit("</footer>"))
    concat(lit("<html><head><title>Doc</title></head><body>"),
      nav, heading, english, prose, med, stub,
      footer, lit("</body></html>"))
  }

  /** SPACE-FREE-SCRIPT MAIN CONTENT (`text_extract_main_cjk`) — the
    * round-14 dark-data item closed: the charset tier decodes the
    * legacy CJK web and the WORD-ladder classifier then threw all of
    * it away (no spaces → one giant "word" → zero stopword density →
    * `bad`). The [[graft.functions.MainContent]] char-class branch
    * judges script-majority blocks by per-CHARACTER function-word
    * density instead, with the lists carried as a versioned
    * [[graft.functions.StoplistStore]] artifact (charLists — the v3
    * rollout). Two pins over the same planted zh/ja pages: under the
    * dark pin (en-only, no char lists) every page extracts EMPTY;
    * under the v3 pin the prose paragraphs survive while the
    * nav/stub/footer furniture still dies — block rows from the v3
    * pin plus both pins' main-text md5s, the whole contract (branch
    * selection, char ladder, heading promotion, neighbor revision)
    * replayed in SQL by construction.
    */
  val textExtractMainCjk: Q = (s, d) => {
    import CjkMainFixture._
    val dir = Scratch.dir("graft_stoplists_cjk")
    val store = graft.functions.StoplistStore
    val en = "en" -> graft.functions.MainContent.corpusStopwords
      .toSeq.sorted
    val vDark = store.save(dir, Map(en))
    val v3 = store.save(dir,
      Map(en, "zh" -> Seq.empty[String], "ja" -> Seq.empty[String]),
      charLists = Map("zh" -> zhStopChars, "ja" -> jaStopChars))
    def mainFor(version: Int): Column =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.HtmlMainLangExpr(
          org.apache.spark.sql.GraftBridge.expression(
            cjkPageHtml(col("doc_id"), col("text"),
              col("doc_id") % 2 === 0)),
          org.apache.spark.sql.GraftBridge.expression(col("plang")),
          store.listsAt(dir, version).toSeq.sortBy(_._1)
            .map { case (l, ws) => (l, ws.toSeq.sorted) },
          store.charListsAt(dir, version).toSeq.sortBy(_._1)))
    docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("plang",
        when(col("doc_id") % 2 === 0, lit("zh")).otherwise(lit("ja")))
      .withColumn("__ma", mainFor(vDark))
      .withColumn("__mb", mainFor(v3))
      .select(col("doc_id"), col("plang"),
        md5(col("__ma.main_text")).as("main_md5_dark"),
        md5(col("__mb.main_text")).as("main_md5_v3"),
        explode(col("__mb.blocks")).as("b"))
      .select(col("doc_id"), col("plang"),
        col("b.block_idx").cast("long").as("block_idx"),
        col("b.heading").as("heading"),
        col("b.n_chars").cast("long").as("n_chars"),
        col("b.n_words").cast("long").as("n_words"),
        col("b.n_stop").cast("long").as("n_stop"),
        col("b.link_chars").cast("long").as("link_chars"),
        col("b.cf_class").as("cf_class"),
        col("b.final_class").as("final_class"),
        col("main_md5_dark"), col("main_md5_v3"))
      .orderBy("doc_id", "block_idx")
  }

  /** The planted Thai page — [[cjkPageHtml]]'s furniture shape for
    * the third space-free script: an anchor-dominated nav row, a
    * `บทที่N` section heading, an optional ENGLISH paragraph (every
    * 7th page — per-block branch selection on a Thai page), the
    * prose paragraph `thHi×a + thLo×b` (a = (doc_id/2)%4,
    * b = (doc_id/2)%3), an optional medium-density paragraph (every
    * 5th page — the 0.10 rule's arm), an anchor stub, and a `&copy;`
    * footer.
    */
  private[graft] def thaiPageHtml(id: Column, text: Column,
                                  withEnglish: Boolean = true): Column = {
    import ScriptMainFixture._
    val j = (id / 2).cast("long")
    val nav = concat(lit("<div><a href=\"/\">"), lit(thNav(0)),
      lit("</a> <a href=\"/about\">"), lit(thNav(1)),
      lit("</a> <a href=\"/news\">"), lit(thNav(2)), lit("</a></div>"))
    val heading = concat(lit("<h2>" + thHead), (id % 9).cast("string"),
      lit("</h2>"))
    val english =
      if (!withEnglish) lit("")
      else when(j % 7 === 0,
        concat(lit("<p>"), text, lit("</p>"))).otherwise(lit(""))
    val prose = concat(lit("<p>"),
      repeat(lit(thHi), (j % 4).cast("int")),
      repeat(lit(thLo), (j % 3).cast("int")), lit("</p>"))
    val med = when(j % 5 === 0,
      concat(lit("<p>"), lit(thMed), lit("</p>"))).otherwise(lit(""))
    val stub = concat(lit("<p><a href=\"/more\">"), lit(thStub),
      lit("</a></p>"))
    val footer = concat(lit("<footer>&copy; 2026 "), lit(thFooter),
      lit("</footer>"))
    concat(lit("<html><head><title>Doc</title></head><body>"),
      nav, heading, english, prose, med, stub, footer,
      lit("</body></html>"))
  }

  /** The planted ru (even docs) / ar (odd docs) page — the same
    * furniture shape for the SPACED non-Latin scripts: prose is
    * word-joined (`hi + " "` repeated, then `lo + " "`), so the WORD
    * ladder judges it once the v4 artifact carries the ru/ar
    * stoplists. The heading is `Глава N` / `الفصل N`.
    */
  private[graft] def ruArPageHtml(id: Column, text: Column,
                                  ru: Column): Column = {
    import ScriptMainFixture._
    val j = (id / 2).cast("long")
    def byLang(r: String, a: String): Column =
      when(ru, lit(r)).otherwise(lit(a))
    val nav = concat(lit("<div><a href=\"/\">"), byLang(ruNav(0), arNav(0)),
      lit("</a> <a href=\"/about\">"), byLang(ruNav(1), arNav(1)),
      lit("</a> <a href=\"/news\">"), byLang(ruNav(2), arNav(2)),
      lit("</a></div>"))
    val heading = concat(lit("<h2>"), byLang(ruHead, arHead), lit(" "),
      (id % 9).cast("string"), lit("</h2>"))
    val english = when(j % 7 === 0,
      concat(lit("<p>"), text, lit("</p>"))).otherwise(lit(""))
    val prose = concat(lit("<p>"),
      repeat(concat(byLang(ruHi, arHi), lit(" ")), (j % 4).cast("int")),
      repeat(concat(byLang(ruLo, arLo), lit(" ")), (j % 3).cast("int")),
      lit("</p>"))
    val med = when(j % 5 === 0,
      concat(lit("<p>"), byLang(ruMed, arMed), lit("</p>")))
      .otherwise(lit(""))
    val stub = concat(lit("<p><a href=\"/more\">"), byLang(ruStub, arStub),
      lit("</a></p>"))
    val footer = concat(lit("<footer>&copy; 2026 "),
      byLang(ruFooter, arFooter), lit("</footer>"))
    concat(lit("<html><head><title>Doc</title></head><body>"),
      nav, heading, english, prose, med, stub, footer,
      lit("</body></html>"))
  }

  /** THAI MAIN CONTENT (`text_extract_main_thai`) — the round-15 #1
    * item's space-free half: Thai prose carries no word spaces, so
    * the word ladder classified 100% of it `bad` (the zh/ja shape one
    * script family over), and U+0E00–0E7F appeared nowhere in the
    * classifier. The [[graft.functions.MainContent]] char branch now
    * counts the Thai block in its script-majority test, and the v4
    * stoplist rollout ships Thai's per-CHARACTER function list —
    * vowel signs and tone marks, the highest-frequency char class in
    * running Thai. Two pins over the same planted pages: under the
    * dark pin (en-only) every page extracts EMPTY (the regression
    * anchor — pre-v4 behavior bit-for-bit); under the v4 pin the
    * prose survives while nav/stub/footer furniture still dies.
    * Block rows from the v4 pin plus both pins' main-text md5s; the
    * whole contract replays in SQL by construction.
    */
  val textExtractMainThai: Q = (s, d) => {
    import ScriptMainFixture._
    val dir = Scratch.dir("graft_stoplists_thai")
    val store = graft.functions.StoplistStore
    val en = "en" -> graft.functions.MainContent.corpusStopwords
      .toSeq.sorted
    val vDark = store.save(dir, Map(en))
    val v4 = store.save(dir,
      Map(en, "th" -> Seq.empty[String]),
      charLists = Map("th" -> thStopChars))
    def mainFor(version: Int): Column =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.HtmlMainLangExpr(
          org.apache.spark.sql.GraftBridge.expression(
            thaiPageHtml(col("doc_id"), col("text"))),
          org.apache.spark.sql.GraftBridge.expression(lit("th")),
          store.listsAt(dir, version).toSeq.sortBy(_._1)
            .map { case (l, ws) => (l, ws.toSeq.sorted) },
          store.charListsAt(dir, version).toSeq.sortBy(_._1)))
    docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("__ma", mainFor(vDark))
      .withColumn("__mb", mainFor(v4))
      .select(col("doc_id"),
        md5(col("__ma.main_text")).as("main_md5_dark"),
        md5(col("__mb.main_text")).as("main_md5_v4"),
        explode(col("__mb.blocks")).as("b"))
      .select(col("doc_id"),
        col("b.block_idx").cast("long").as("block_idx"),
        col("b.heading").as("heading"),
        col("b.n_chars").cast("long").as("n_chars"),
        col("b.n_words").cast("long").as("n_words"),
        col("b.n_stop").cast("long").as("n_stop"),
        col("b.link_chars").cast("long").as("link_chars"),
        col("b.cf_class").as("cf_class"),
        col("b.final_class").as("final_class"),
        col("main_md5_dark"), col("main_md5_v4"))
      .orderBy("doc_id", "block_idx")
  }

  /** RU/AR MAIN CONTENT (`text_extract_main_ruar`) — the round-15 #1
    * item's spaced half: Russian and Arabic prose IS word-delimited,
    * so the word ladder applies as-is — the gap was pure DATA (no
    * ru/ar stoplists in any pinned artifact, so both classified with
    * the empty list and every page extracted to nothing). The v4
    * rollout ships both word lists; nothing in the classifier
    * changes. Planted ru (even docs) / ar (odd docs) pages under two
    * pins: dark (en-only — the regression anchor, every page empty)
    * vs v4 (prose survives, furniture dies). Same two-pin shape as
    * the space-free queries, word ladder throughout.
    */
  val textExtractMainRuAr: Q = (s, d) => {
    import ScriptMainFixture._
    val dir = Scratch.dir("graft_stoplists_ruar")
    val store = graft.functions.StoplistStore
    val en = "en" -> graft.functions.MainContent.corpusStopwords
      .toSeq.sorted
    val vDark = store.save(dir, Map(en))
    val v4 = store.save(dir,
      Map(en, "ru" -> ruStops, "ar" -> arStops))
    def mainFor(version: Int): Column =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.HtmlMainLangExpr(
          org.apache.spark.sql.GraftBridge.expression(
            ruArPageHtml(col("doc_id"), col("text"),
              col("doc_id") % 2 === 0)),
          org.apache.spark.sql.GraftBridge.expression(col("plang")),
          store.listsAt(dir, version).toSeq.sortBy(_._1)
            .map { case (l, ws) => (l, ws.toSeq.sorted) },
          store.charListsAt(dir, version).toSeq.sortBy(_._1)))
    docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("plang",
        when(col("doc_id") % 2 === 0, lit("ru")).otherwise(lit("ar")))
      .withColumn("__ma", mainFor(vDark))
      .withColumn("__mb", mainFor(v4))
      .select(col("doc_id"), col("plang"),
        md5(col("__ma.main_text")).as("main_md5_dark"),
        md5(col("__mb.main_text")).as("main_md5_v4"),
        explode(col("__mb.blocks")).as("b"))
      .select(col("doc_id"), col("plang"),
        col("b.block_idx").cast("long").as("block_idx"),
        col("b.heading").as("heading"),
        col("b.n_chars").cast("long").as("n_chars"),
        col("b.n_words").cast("long").as("n_words"),
        col("b.n_stop").cast("long").as("n_stop"),
        col("b.link_chars").cast("long").as("link_chars"),
        col("b.cf_class").as("cf_class"),
        col("b.final_class").as("final_class"),
        col("main_md5_dark"), col("main_md5_v4"))
      .orderBy("doc_id", "block_idx")
  }

  /** UNICODE SCRIPT PROFILE (`text_script_profile`) — the
    * writing-system histogram a multilingual crawl runs before any
    * language model sees a byte (the CCNet-style script gate: a page
    * claiming `lang=en` that is 80% Han characters is misrouted). Eight
    * BMP script ranges counted as INTEGER code-point counts in ONE
    * native sweep ([[graft.functions.ScriptCountsExpr]] — the fused
    * replacement for the per-script `regexp_replace` length deltas,
    * which scanned the text once per script) — pure scan projection —
    * plus the argmax verdict with a first-class tie-break chain.
    * Counts are code points for every BMP range counted
    * (supplementary planes are out of contract, documented; the
    * regexp semantics the fused pass preserves are pinned in
    * [[graft.ScriptCountsSpec]]). The fixture prepends rotating
    * script runs to the Latin corpus so every class and the verdict
    * boundaries all fire in-corpus.
    */
  val textScriptProfile: Q = (s, d) => {
    val reps = (col("doc_id") % 4 + 1).cast("int")
    val prefix = element_at(array(lit(""), lit("漢字文書かな"),
      lit("кириллица"), lit("مرحبا بالعالم"), lit("한국어 문서"),
      lit("อักษรไทย"), lit("देवनागरी लिपि")),
      (col("doc_id") % 7 + 1).cast("int"))
    val t = concat(repeat(prefix, reps), lit(" "), col("text"))
    // ONE code-point sweep for all eight ranges + the total ([[TextOps
    // .scriptCounts]]); previously each count was its own regexp_replace
    // length delta — 9 full regex passes over the concatenated text
    val sc = TextOps.scriptCounts(t)
    docs(s, d).select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        sc.getField("n_chars").as("n_chars"),
        sc.getField("n_latin").as("n_latin"),
        sc.getField("n_han").as("n_cjk"),
        sc.getField("n_kana").as("n_kana"),
        sc.getField("n_thai").as("n_thai"),
        sc.getField("n_devanagari").as("n_devanagari"),
        sc.getField("n_cyrillic").as("n_cyrillic"),
        sc.getField("n_arabic").as("n_arabic"),
        sc.getField("n_hangul").as("n_hangul"))
      .withColumn("script",
        when(col("n_latin") >= col("n_cjk") &&
          col("n_latin") >= col("n_kana") &&
          col("n_latin") >= col("n_thai") &&
          col("n_latin") >= col("n_devanagari") &&
          col("n_latin") >= col("n_cyrillic") &&
          col("n_latin") >= col("n_arabic") &&
          col("n_latin") >= col("n_hangul"), "latin")
        .when(col("n_cjk") >= col("n_kana") &&
          col("n_cjk") >= col("n_thai") &&
          col("n_cjk") >= col("n_devanagari") &&
          col("n_cjk") >= col("n_cyrillic") &&
          col("n_cjk") >= col("n_arabic") &&
          col("n_cjk") >= col("n_hangul"), "cjk")
        .when(col("n_kana") >= col("n_thai") &&
          col("n_kana") >= col("n_devanagari") &&
          col("n_kana") >= col("n_cyrillic") &&
          col("n_kana") >= col("n_arabic") &&
          col("n_kana") >= col("n_hangul"), "kana")
        .when(col("n_thai") >= col("n_devanagari") &&
          col("n_thai") >= col("n_cyrillic") &&
          col("n_thai") >= col("n_arabic") &&
          col("n_thai") >= col("n_hangul"), "thai")
        .when(col("n_devanagari") >= col("n_cyrillic") &&
          col("n_devanagari") >= col("n_arabic") &&
          col("n_devanagari") >= col("n_hangul"), "devanagari")
        .when(col("n_cyrillic") >= col("n_arabic") &&
          col("n_cyrillic") >= col("n_hangul"), "cyrillic")
        .when(col("n_arabic") >= col("n_hangul"), "arabic")
        .otherwise("hangul"))
      .orderBy("doc_id")
  }

  /** SCRIPT-AWARE LANGUAGE ID (`text_langid_script`) — the routing the
    * token-marker langid cannot do: a zh/ja page has no marker tokens
    * (no spaces → one giant token), so [[TextOps.langId]] is as blind
    * to space-free scripts as the word ladder was before the char
    * branch. Production stacks gate on SCRIPT first (the CCNet
    * routing): integer character-class counts decide hangul-dominant →
    * `ko`, CJK-dominant → `ja` iff kana carry ≥ 5% of the CJK mass
    * (Japanese prose always mixes kana; Chinese has none) else `zh`,
    * thai-dominant → `th`, cyrillic-dominant → `ru`,
    * arabic-dominant → `ar` (the script's majority language — the
    * router's honest resolution until per-language profiles for the
    * script family land as artifacts), and only latin-script residue
    * falls through to the word-marker scorer. The fixture plants
    * mixed pages (a zh/ja/ko/th/ru/ar prose prefix of rotating length
    * over the Latin corpus text), so every dominance threshold fires
    * BOTH ways per doc — the verdict is a genuine length-arithmetic
    * decision, and the oracle replays counts, ladder and the word
    * fallback in SQL. Pure scan projection: at 100 TB this is a
    * fused gate on the ingest read.
    */
  val textLangidScript: Q = (s, d) => {
    import CjkMainFixture.{zhHi, jaHi, koHi}
    import ScriptMainFixture.{thHi, ruHi, arHi, hiHi}
    val reps = (col("doc_id") % 3 + 1).cast("int")
    val prefix = element_at(array(lit(""), lit(zhHi), lit(jaHi),
      lit(koHi), lit(thHi), lit(ruHi), lit(arHi), lit(hiHi)),
      (col("doc_id") % 8 + 1).cast("int"))
    val t = concat(repeat(prefix, reps), lit(" "), col("text"))
    // ONE code-point sweep for all seven ranges + the non-whitespace
    // total ([[TextOps.scriptCounts]]); previously 8 regexp_replace
    // length deltas = 8 full regex passes over the concatenated text —
    // the r16 seal's one real regression (1.42 → 2.40 s), erased here
    val sc = TextOps.scriptCounts(t)
    val han = sc.getField("n_han")
    val kana = sc.getField("n_kana")
    val hang = sc.getField("n_hangul")
    val thai = sc.getField("n_thai")
    val deva = sc.getField("n_devanagari")
    val cyr = sc.getField("n_cyrillic")
    val arab = sc.getField("n_arabic")
    val nonws = sc.getField("n_nonws")
    docs(s, d).select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        han.as("n_han"), kana.as("n_kana"), hang.as("n_hangul"),
        thai.as("n_thai"), deva.as("n_devanagari"),
        cyr.as("n_cyrillic"), arab.as("n_arabic"),
        nonws.as("n_nonws"),
        when(lit(4) * hang >= nonws, lit("ko"))
          .when(lit(4) * (han + kana) >= nonws,
            when(lit(20) * kana >= han + kana, lit("ja"))
              .otherwise(lit("zh")))
          .when(lit(4) * thai >= nonws, lit("th"))
          .when(lit(4) * deva >= nonws, lit("hi"))
          .when(lit(4) * cyr >= nonws, lit("ru"))
          .when(lit(4) * arab >= nonws, lit("ar"))
          .otherwise(TextOps.langId(t)).as("lang"))
      .orderBy("doc_id")
  }

  /** The documents table with a deterministic messy URL per doc — the
    * crawl-metadata fixture for the URL tier ([[piiAugmentedDocs]]
    * discipline): uppercase scheme/host, rotating public suffixes
    * (.com / .co.uk / .org / .github.io / .com.au), default and
    * explicit ports, tracking params (utm_*, fbclid) mixed into
    * unsorted queries, fragments, and a malformed kind (every 11th
    * doc) that must canonicalize to NULL. The same construction is
    * built into the oracle, so canonicalization is verified STRING
    * EQUAL, not just non-null.
    */
  private[graft] def urlAugmentedDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val n = (id % 37).cast("string")
    val scheme = when(id % 2 === 0, lit("HTTPS")).otherwise(lit("http"))
    val suffix = element_at(array(lit(".com"), lit(".co.uk"), lit(".org"),
      lit(".github.io"), lit(".com.au")), (id % 5 + 1).cast("int"))
    val port = when(id % 4 === 0,
        when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
      .when(id % 7 === 0, lit(":8080")).otherwise(lit(""))
    val path = concat(lit("/A/b"), (id % 9).cast("string"))
    val query = when(id % 3 === 0, lit("?z=2&utm_source=x&a=1"))
      .when(id % 3 === 1, lit("?b=1&fbclid=zz&a=2")).otherwise(lit(""))
    val frag = when(id % 5 === 0, lit("#Frag")).otherwise(lit(""))
    val url = when(id % 11 === 0,
        concat(lit("not a url "), id.cast("string")))
      .otherwise(concat(scheme, lit("://WWW.Site"), n, suffix, port,
        path, query, frag))
    docs(s, d).select(id, url.as("url"))
  }

  /** URL canonicalization + registrable-domain extraction
    * ([[graft.functions.UrlOps]]) — the key under which "the same page
    * fetched twice" collapses, and the unit of every per-site policy.
    * Map-only scan projection; the oracle reconstructs the expected
    * canonical STRING (scheme/host lowercased, default port and
    * fragment dropped, tracking params removed, survivors sorted) and
    * the eTLD+1 by construction, with the malformed kind pinned NULL.
    */
  val textUrlCanonicalize: Q = (s, d) =>
    urlAugmentedDocs(s, d).select(col("doc_id"),
      graft.functions.UrlOps.canonicalizeUrl(col("url")).as("url_canon"),
      graft.functions.UrlOps.urlHost(col("url")).as("host"))
      .withColumn("domain",
        graft.functions.UrlOps.registrableDomain(col("host")))
      .orderBy("doc_id")

  /** PER-DOMAIN CAP (`pipeline_domain_cap`) — the RefinedWeb/Gopher
    * "max documents per site" rule, skew-aware: count per registrable
    * domain (map-side combined), and ONLY over-cap domains' docs enter
    * a rank window (deterministic hash order, the [[Sampling]]
    * discipline); the under-cap majority passes with an anti-join and
    * never sorts. Residual at 100 TB: one mega-domain's window still
    * sorts that domain's rows — the mitigation is SkewGuard-style
    * two-stage local top-cap, left until a measured corpus needs it
    * (the cap output itself is bounded at cap rows/domain either way).
    */
  val pipelineDomainCap: Q = (s, d) => {
    val cap = 3
    val withKey = urlAugmentedDocs(s, d)
      .select(col("doc_id"),
        graft.functions.UrlOps.urlHost(col("url")).as("host"))
      .filter(col("host").isNotNull)
      .withColumn("domain",
        graft.functions.UrlOps.registrableDomain(col("host")))
      .withColumn("__k", md5(col("doc_id").cast("string")))
    val over = withKey.groupBy("domain").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap).select("domain")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy(col("__k"), col("doc_id"))
    val keptOver = withKey.join(over, Seq("domain"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= cap).drop("__r")
    withKey.join(over, Seq("domain"), "left_anti")
      .unionByName(keptOver)
      .select("doc_id", "domain")
      .orderBy("doc_id")
  }

  /** EPOCH-FACTOR sampling ([[Sampling.epochs]]): mixture weights
    * ABOVE 1.0 as repetition counts — src_i gets 0.5 + (i mod 5)·0.75
    * epochs (0.5 … 3.5), so the output carries whole copies plus a
    * deterministic hash-threshold fractional copy, each with its epoch
    * index and per-copy shuffle key. The oracle replays copy counts
    * and keys exactly (generate_series over the floor + the same
    * md5-threshold fractional rule).
    */
  val sampleEpochs: Q = (s, d) =>
    Sampling.epochs(docs(s, d).select("doc_id", "source"), "source",
        epochFactors, "doc_id")
      .select("doc_id", "source", "epoch", "shuffle_key")
      .orderBy("doc_id", "epoch")

  private[graft] val epochFactors: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (0.5 + (i % 5) * 0.75)).toMap

  /** The documents table wrapped as REAL single-record WARCs
    * ([[graft.sources.WarcCodec]] fixture encoders): doc_id % 4
    * rotates an HTML `response` (full HTTP message, entity-bearing
    * page whose div carries the doc text), a `text/plain` response
    * (every (8k+1)th a 404), a `warcinfo` record (no target URI — the
    * null-facts path for a well-formed non-response), and garbage
    * bytes (the malformed path).
    */
  private[graft] def plantedWarcRecords(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("record", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        import graft.sources.WarcCodec
        val id = r.getLong(0)
        val text = r.getString(1)
        val uri = s"http://site${id % 13}.com/page/${id % 7}"
        val rec: Array[Byte] = (id % 4).toInt match {
          case 0 =>
            val html = s"<html><head><title>Doc $id</title></head><body>" +
              s"<h1>Title &amp; doc $id&#33;</h1><div>$text</div>" +
              "</body></html>"
            WarcCodec.encodeResponse(uri, 200, "text/html",
              html.getBytes("UTF-8"))
          case 1 =>
            val st = if (id % 8 == 1) 404 else 200
            WarcCodec.encodeResponse(uri, st, "text/plain",
              text.getBytes("UTF-8"))
          case 2 => WarcCodec.encodeInfo(
            "software: graft-crawler\r\n".getBytes("US-ASCII"))
          case _ => text.getBytes("UTF-8")
        }
        Row(id, rec)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** WARC ingestion (`source_warc`) — the crawl's NATIVE container
    * parsed relationally in the scan projection
    * ([[graft.functions.WarcParseExpr]] over
    * [[graft.sources.WarcCodec]]): record headers → typed columns,
    * the HTTP message inside `response` records → status /
    * content-type / body, and the body composed STRAIGHT into the
    * HTML extractor for html responses — WARC bytes to clean text in
    * one map-only pass, no UDF, no driver loop. The oracle
    * reconstructs every fact and both digests (raw body md5, extracted
    * text md5) by construction; warcinfo rows null their HTTP facts,
    * garbage rows null everything.
    */
  val sourceWarc: Q = (s, d) => {
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("record"))))
    plantedWarcRecords(s, d)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"),
        col("w.warc_type").as("warc_type"),
        col("w.target_uri").as("target_uri"),
        col("w.status").as("status"),
        col("w.content_type").as("content_type"),
        md5(col("w.body")).as("body_md5"),
        when(col("w.content_type") === "text/html",
          md5(TextOps.extractHtml(decode(col("w.body"), "UTF-8"))
            .getField("text"))).as("extracted_md5"))
      .orderBy("doc_id")
  }

  /** The documents table as WARC response records whose HTTP payloads
    * carry the WIRE codings a raw-message crawl writer (wget, early
    * Heritrix) stores — doc_id % 8 rotates the decoding contract:
    * identity Content-Length, `Transfer-Encoding: chunked` (rotating
    * chunk sizes, a chunk extension, and — kind 7 — a trailer
    * section), `Content-Encoding: gzip` (one RFC 1952 member),
    * chunked-THEN-gzip (the real-world double), zlib-wrapped
    * `deflate`, the bare-stream deflate server bug (sniffed the way
    * browsers do), and `br` — decoded IN PLACE since the RFC 7932
    * decoder landed ([[graft.sources.Brotli]]): even (doc_id/8)
    * plants a multi-meta-block brotli body that must decode to the
    * same html as every other kind; odd plants a REAL-encoder stream
    * (libbrotlienc 1.2.0, q5, zh prose) whose first backward
    * reference is a STATIC DICTIONARY word — the one named `br`
    * rejection left (`coding_err = content-coding:br-dictionary`,
    * bytes kept as planted).
    */
  private[graft] def plantedHttpEncodedRecords(s: SparkSession, d: String)
      : DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("record", BinaryType)))
    docs(s, d).select(col("doc_id"), col("text")).mapPartitions { rows =>
      rows.map { r =>
        import graft.sources.{WarcCodec, WarcGz}
        val id = r.getLong(0)
        val text = r.getString(1)
        val uri = s"http://site${id % 13}.com/page/${id % 7}"
        val html = s"<html><head><title>Doc $id</title></head><body>" +
          s"<h1>Title &amp; doc $id&#33;</h1><div>$text</div>" +
          "</body></html>"
        val raw = html.getBytes("UTF-8")
        val rec: Array[Byte] = (id % 8).toInt match {
          case 0 => WarcCodec.encodeResponse(uri, 200, "text/html", raw)
          case 1 => WarcCodec.encodeResponseEncoded(uri, 200, "text/html",
            raw, chunked = true)
          case 2 => WarcCodec.encodeResponseEncoded(uri, 200, "text/html",
            WarcGz.encodeMember(raw), chunked = false,
            contentEncoding = "gzip")
          case 3 => WarcCodec.encodeResponseEncoded(uri, 200, "text/html",
            WarcGz.encodeMember(raw), chunked = true,
            contentEncoding = "gzip")
          case 4 => WarcCodec.encodeResponseEncoded(uri, 200, "text/html",
            WarcCodec.encodeDeflate(raw, wrapped = true), chunked = false,
            contentEncoding = "deflate")
          case 5 => WarcCodec.encodeResponseEncoded(uri, 200, "text/html",
            WarcCodec.encodeDeflate(raw, wrapped = false), chunked = false,
            contentEncoding = "deflate")
          case 6 =>
            val body =
              if ((id / 8) % 2 == 0)
                graft.sources.Brotli.encodeStored(raw, chunk = 100,
                  metadataEvery = 3)
              else java.util.Base64.getDecoder.decode(
                // real-encoder stream referencing the static
                // dictionary (md5 d346bc4573918494b1bb456f5a872095)
                "G+MMAIzUSE1zuyYvP0enJws52z4hCp+MpkgHG3DgkmAYIA7uwwa" +
                  "caFTr2DdEIL3Hx2XmJGFEbGoUlUeOOmIQzkUAgJwC")
            WarcCodec.encodeResponseEncoded(uri, 200, "text/html",
              body, chunked = false, contentEncoding = "br")
          case _ => WarcCodec.encodeResponseEncoded(uri, 200, "text/html",
            raw, chunked = true, trailer = true)
        }
        Row(id, rec)
      }
    }(Encoders.row(schema)).toDF()
  }

  /** HTTP payload decoding (`source_warc_http`) — the wire codings
    * between a WARC response block and its representation bytes,
    * undone in the scan projection ([[graft.sources.WarcCodec]]):
    * chunked transfer framing de-chunked per RFC 9112 §7.1,
    * gzip/deflate content codings decoded (strict RFC 1952 / sniffed
    * RFC 1950), and the codings we decline surfaced as a NAMED
    * `coding_err` column instead of a null row — so a curation query
    * can count its dark data by kind. The oracle reconstructs the
    * decoded-body md5 and the extracted-text md5 by construction;
    * the `br` kind's md5 proves the bytes passed through UNtouched.
    */
  val sourceWarcHttp: Q = (s, d) => {
    val w = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WarcParseExpr(
        org.apache.spark.sql.GraftBridge.expression(col("record"))))
    plantedHttpEncodedRecords(s, d)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"),
        col("w.status").as("status"),
        col("w.content_type").as("content_type"),
        col("w.coding_err").as("coding_err"),
        md5(col("w.body")).as("body_md5"),
        when(col("w.coding_err").isNull &&
            col("w.content_type") === "text/html",
          md5(TextOps.extractHtml(decode(col("w.body"), "UTF-8"))
            .getField("text"))).as("extracted_md5"))
      .orderBy("doc_id")
  }

  /** Plant REAL `.warc.gz` archive files: [[plantedWarcRecords]]'s
    * record stream grouped into `nFiles` concatenated-gzip-member
    * files ([[graft.sources.WarcGz]] framing, one record per member —
    * the Common Crawl layout), each file's members in ascending doc-id
    * order, written from the EXECUTORS (hash-repartition on the file
    * key + within-partition sort, one sequential write per file group
    * — the shape any distributed fixture/export write takes). Member
    * framing rotates the optional gzip fields (FNAME, FHCRC) so the
    * source exercises real header-skip paths, not just the minimal
    * frame. Returns the directory.
    */
  private[graft] def plantWarcGzFiles(s: SparkSession, d: String,
                               nFiles: Int): String = {
    val dir = Scratch.dir("graft_warc_gz")
    writeWarcGzFiles(plantedWarcRecords(s, d), dir, nFiles,
      "members", 0L, col("doc_id") % nFiles)
    dir
  }

  /** The executor-side archive writer behind [[plantWarcGzFiles]] and
    * the streaming feed: group `(doc_id, record)` rows into `nFiles`
    * `.warc.gz` files named `$prefix-NNNNN.warc.gz` under `dir`,
    * members in ascending doc-id order. `mtimeMs > 0` forces each
    * file's modification time (the [[plantWave]] discipline — file
    * streams order waves by mtime). `fileNo` is the explicit file key
    * (must land in `0 until nFiles`) — explicit because a caller
    * feeding a PARITY-FILTERED record set would make the default
    * `doc_id % nFiles` constant and silently collapse its wave into
    * one archive.
    */
  private[graft] def writeWarcGzFiles(records: DataFrame, dir: String,
                               nFiles: Int, prefix: String,
                               mtimeMs: Long, fileNo: Column): Unit =
    records
      .withColumn("file_no", fileNo.cast("long"))
      .repartition(nFiles, col("file_no"))
      .sortWithinPartitions("file_no", "doc_id")
      .select("file_no", "record")
      .foreachPartition { (rows: Iterator[Row]) =>
        var cur = -1L
        var out: java.io.OutputStream = null
        var file: java.io.File = null
        var idx = 0
        def close(): Unit = if (out != null) {
          out.close(); out = null
          if (mtimeMs > 0) file.setLastModified(mtimeMs)
        }
        try {
          rows.foreach { r =>
            val f = r.getLong(0)
            if (f != cur) {
              close(); cur = f; idx = 0
              file = new java.io.File(dir, f"$prefix-$f%05d.warc.gz")
              out = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(file))
            }
            out.write(graft.sources.WarcGz.encodeMember(
              r.getAs[Array[Byte]](1),
              fname = if (idx % 3 == 1) s"rec-$idx.warc" else null,
              fhcrc = idx % 3 == 2))
            idx += 1
          }
        } finally close()
      }
}
