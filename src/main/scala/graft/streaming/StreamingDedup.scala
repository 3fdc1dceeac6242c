package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextOps, VersionedSlots}

/** Streaming exact deduplication: the arrival-time form of
  * [[graft.operators.Dedup.exact]]. Each micro-batch folds into the
  * per-content-hash state (smallest doc id seen, total occurrences); the
  * result after any prefix of the stream equals the batch operator over
  * the same rows — order-insensitive by construction (min and count are
  * commutative monoids), so ingestion parallelism and batch boundaries
  * cannot change the answer.
  *
  * Scale shape: the same map-side-partial hash aggregate as the batch
  * form, maintained by the streaming aggregation state store keyed on the
  * 32-byte digest. Complete-mode output suits bounded digests/demo sinks;
  * a 100 TB ingest emits UPDATE mode into a keyed store instead (same
  * aggregate, same state), or routes through
  * [[StreamingIndex.maintain]] with the hash as the index key for a
  * persisted, partition-incremental form.
  */
object StreamingDedup {

  /** Per-content-hash streaming aggregate: (text_hash, keep_id, dup_count). */
  def exactStream(stream: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    stream.groupBy(TextOps.fingerprintMd5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Streaming ingest near-dup screening: each arriving micro-batch of
    * documents is probed against the standing corpus's LSH buckets
    * ([[graft.operators.Dedup.minhashLshIncremental]]) and the detected
    * (new_id, dup_of, jaccard) pairs are appended to `sink` — the shape
    * of a continuously-deduplicating ingest front door. The corpus (in
    * production: the PERSISTED signature/bucket index) is supplied once;
    * each batch touches only the buckets it lands in. Per-batch results
    * are independent (batch docs are compared to the corpus, not each
    * other — intra-batch duplicates are [[exactStream]]'s job), so the
    * output is the same whatever the batch boundaries.
    */
  def nearDupIngest(corpus: DataFrame, stream: DataFrame,
                    sink: (DataFrame, Long) => Unit,
                    threshold: Double = 0.5, hashKind: String = "xx",
                    textCol: String = "text", idCol: String = "doc_id")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // the corpus shingle/signature/bucket pass is hoisted to stream
    // CONSTRUCTION (lazy checkpoints materialize once, on the first
    // micro-batch, and their RDDs are reused by every later one) —
    // computing it inside foreachBatch would pay O(corpus) per batch
    val (setsC, bC) = graft.operators.Dedup.minhashStoreTables(
      corpus, textCol = textCol, idCol = idCol, hashKind = hashKind)
    val guarded = graft.plans.LazyCheckpoint.shared(
      graft.operators.Dedup.guardBuckets(bC, 64))
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.operators.Dedup.minhashLshIncrementalFromTables(
        setsC, guarded, batch, threshold, textCol = textCol,
        idCol = idCol, hashKind = hashKind), batchId)
    }
  }

  /** Streaming near-dup ingest against a GROWING persisted bucket store —
    * the production form of [[nearDupIngest]]: the store under
    * `storeDir` (an [[EpochStore]] with tables `sigs` + `buckets` +
    * `pairs`, [[graft.operators.Dedup.minhashStoreTables]] shape, seeded
    * with the standing corpus — [[seedNearDupStore]]) is both probed AND
    * maintained by every arriving micro-batch:
    *
    *   1. the batch's hashed-shingle and bucket rows (computed ONCE —
    *      the shingle/signature pass is the dominant per-batch cost)
    *      land in the store first as the batch's OWN committed
    *      directories (`b=<batchIdBase+n>` for micro-batch n,
    *      [[VersionedSlots.maintain]]; wholesale overwrite — a retried
    *      micro-batch rewrites them and can never double-append, so
    *      foreachBatch's at-least-once delivery composes to
    *      exactly-once, the [[StreamingIndex]] `v=<batch>` idempotence
    *      applied append-only), so the store always contains the batch
    *      itself;
    *   2. the same bucket table then probes the store
    *      ([[graft.operators.Dedup.minhashLshProbeStore]] — canonical
    *      id_a < id_b pairs, store side re-guarded at `maxBucket` so a
    *      degenerate bucket that grew through appends stops feeding the
    *      join), touching only the buckets the batch lands in;
    *   3. detected pairs land as the batch's `pairs` directory — same
    *      idempotence.
    *
    * The epoch is pinned ONCE at stream construction: a concurrent
    * [[compactNearDupStore]] rotation never shifts a running stream's
    * probe base mid-flight, and batches the stream appends to its
    * pinned epoch AFTER a rotation are carried forward by the NEXT
    * rotation ([[EpochStore.rotate]] folds across every committed
    * epoch) — provided [[EpochStore.gc]]'s `keepLast` keeps the pinned
    * epoch alive until the stream restarts onto the new one.
    *
    * Append-before-probe + canonical pairs make `distinct(pairs)` after
    * any prefix of the stream equal the ONE-SHOT probe of all arrivals
    * against the final store, whatever the batch boundaries: a pair
    * inside one batch is found by that batch (its rows are already in
    * the store), a pair across batches is found by the later one, and
    * re-detections collapse under the canonical form. One caveat bounds
    * the invariance exactly: the skew guard reads the store AS OF each
    * probe, so pairs in a bucket that crosses `maxBucket` MID-stream
    * may be found by early batches and not by a one-shot run — the
    * guard trades recall in degenerate buckets for bounded join fan-out
    * (its standing purpose), and outside such buckets the invariance is
    * exact. The oracled `dedup_streaming_neardup` query pins the
    * one-shot form against an independent DuckDB replay; the
    * split-invariance test pins multi-batch ≡ one-shot on guard-clean
    * data.
    */
  def nearDupIngestStore(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String, stream: DataFrame,
                         threshold: Double = 0.5, numHashes: Int = 64,
                         bands: Int = 16, shingleN: Int = 3,
                         maxBucket: Int = 64,
                         textCol: String = "text", idCol: String = "doc_id",
                         hashKind: String = "xx",
                         batchIdBase: Long = 1L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // a store seeded with DIFFERENT minhash parameters never errors on
    // its own — bucket hashes simply stop colliding and recall silently
    // drops to ~zero; validate against the seed-time sidecar when one
    // exists
    readParams(storeDir).foreach { p =>
      require(p == MinhashStoreParams(numHashes, bands, shingleN, hashKind),
        s"store $storeDir was seeded with $p but the stream was " +
          s"configured with ${MinhashStoreParams(numHashes, bands,
            shingleN, hashKind)} — a parameter mismatch silently " +
          "disables dedup (no bucket ever collides)")
    }
    VersionedSlots.maintain(stream, batchIdBase, EpochStore.current(storeDir)) {
      (batch, ref, b) => nearDupIngestBatch(spark, ref, batch, b, threshold,
        numHashes, bands, shingleN, maxBucket, textCol, idCol, hashKind)
    }
  }

  /** The minhash parameters a near-dup store was seeded with — the
    * build/probe compatibility contract ([[seedNearDupStore]] persists
    * them, [[nearDupIngestStore]] validates against them).
    */
  final case class MinhashStoreParams(numHashes: Int, bands: Int,
                                      shingleN: Int, hashKind: String)

  private def paramsPath(storeDir: String) =
    java.nio.file.Paths.get(storeDir, "_PARAMS")

  private def readParams(storeDir: String): Option[MinhashStoreParams] = {
    val p = paramsPath(storeDir)
    if (!java.nio.file.Files.exists(p)) None
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .trim.split(";") match {
      case Array(n, b, sh, hk) =>
        Some(MinhashStoreParams(n.toInt, b.toInt, sh.toInt, hk))
      case _ => None
    }
  }

  /** One micro-batch of [[nearDupIngestStore]], written as store batch
    * `batchId` (≥ 1) — factored out so the retry-idempotence contract is
    * directly testable: calling this twice with the same `batchId` (a
    * foreachBatch retry after a lost ack) leaves the store and the pair
    * set bit-identical.
    */
  private[graft] def nearDupIngestBatch(
      spark: org.apache.spark.sql.SparkSession, ref: EpochStore.Ref,
      batch: DataFrame, batchId: Long, threshold: Double, numHashes: Int,
      bands: Int, shingleN: Int, maxBucket: Int,
      textCol: String, idCol: String, hashKind: String): Unit = {
    VersionedSlots.requireAppend(batchId)
    val (sets, buckets) = graft.operators.Dedup.minhashStoreTables(
      batch, numHashes, bands, shingleN, textCol, idCol, hashKind)
    EpochStore.writeBatch(sets, ref, "sigs", batchId)
    EpochStore.writeBatch(buckets, ref, "buckets", batchId)
    // sigs read WITH batch provenance: the probe verifies every
    // candidate id against its NEWEST content (latest-wins on __b), so
    // a re-carried id cannot fan pairs out against stale shingles
    EpochStore.writeBatch(
      graft.operators.Dedup.minhashLshProbeStore(
        EpochStore.readAllWithBatch(spark, ref, "sigs"),
        EpochStore.readAll(spark, ref, "buckets"),
        buckets, threshold, maxBucket),
      ref, "pairs", batchId)
  }

  /** Seed a near-dup [[EpochStore]] with the standing corpus's signature
    * and (already guarded) bucket tables as epoch 0's frozen base, plus
    * an empty pair ledger. Returns the committed epoch.
    */
  def seedNearDupStore(storeDir: String, sets: DataFrame,
                       buckets: DataFrame,
                       params: Option[MinhashStoreParams] = None)
      : EpochStore.Ref = {
    params.foreach { pr =>
      java.nio.file.Files.createDirectories(paramsPath(storeDir).getParent)
      java.nio.file.Files.write(paramsPath(storeDir),
        s"${pr.numHashes};${pr.bands};${pr.shingleN};${pr.hashKind}"
          .getBytes("UTF-8"))
    }
    val ref = EpochStore.claimNext(storeDir)
    EpochStore.writeBatch(sets, ref, "sigs", 0L)
    EpochStore.writeBatch(buckets, ref, "buckets", 0L)
    EpochStore.writeBatch(sets.limit(0).select(
        org.apache.spark.sql.functions.col("id").as("id_a"),
        org.apache.spark.sql.functions.col("id").as("id_b"),
        org.apache.spark.sql.functions.lit(0.0d).as("jaccard")),
      ref, "pairs", 0L)
    EpochStore.commit(ref)
    ref
  }

  /** Compact the near-dup store: fold every committed batch of the
    * current epoch into the NEXT epoch's frozen base — signatures
    * dedupe, the bucket table dedupes and is RE-GUARDED at `maxBucket`
    * (the place [[graft.operators.Dedup.guardBuckets]]'s contract says
    * the real guard belongs: a bucket that grew degenerate through
    * appends is cut once here, instead of re-filtered on every probe
    * forever), and the pair ledger collapses to its distinct canonical
    * rows. The old epoch remains intact for pinned readers/streams; new
    * streams pin the compacted epoch. Idempotent in effect: re-running
    * folds the same state into another epoch, never mutates one.
    */
  def compactNearDupStore(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String,
                          maxBucket: Int = 64): EpochStore.Ref = {
    // latest-wins folds (provenance: __e epoch, __b batch): a
    // re-carried id keeps only its NEWEST shingle set and bucket rows
    // in the compacted base — a distinct() fold would freeze BOTH
    // contents forever (distinct rows, different hs). The pairs ledger
    // stays an append-only detection LOG: folded distinct, history
    // preserved.
    def latestWinsById(df: DataFrame): DataFrame = {
      val win = df.groupBy("id")
        .agg(max(struct(col("__e"), col("__b"))).as("__w"))
      df.join(win, Seq("id"))
        .filter(struct(col("__e"), col("__b")) === col("__w"))
        .drop("__e", "__b", "__w")
    }
    EpochStore.rotate(spark, storeDir, Seq(
      "sigs" -> (df => latestWinsById(df).distinct()),
      "buckets" -> (df => graft.operators.Dedup.guardBuckets(
        latestWinsById(df).distinct(), maxBucket)),
      "pairs" -> (df => df.drop("__e", "__b").distinct())),
      withProvenance = true)
  }

  /** Streaming ingest SPAN screening against a PERSISTED epoch-frozen
    * fingerprint store — the production form of [[spanIngest]]: the
    * corpus's distinct window fingerprints are computed ONCE
    * ([[graft.operators.Dedup.spanStoreSigs]], seeded as epoch 0's
    * frozen `spansigs` base — [[seedSpanStore]]) and every arriving
    * micro-batch
    *
    *   1. probes the FROZEN base (`spansigs` batch 0 of the pinned
    *      epoch, [[graft.operators.Dedup.duplicatedSpansAgainstSigs]])
    *      and lands per-doc coverage rows as its own committed
    *      `coverage` batch directory;
    *   2. lands its own distinct window fingerprints as its own
    *      `spansigs` batch directory (`b=<batchIdBase+n>`) — the
    *      accumulation [[rotateSpanStore]] folds into the next epoch's
    *      frozen base when the corpus snapshot is cut.
    *
    * Both writes are wholesale per-batch-directory overwrites: a
    * retried micro-batch rewrites its own directories and can never
    * double-append (at-least-once foreachBatch → exactly-once store,
    * the [[StreamingIndex]] idempotence pattern). The epoch is pinned
    * ONCE at stream construction, so a concurrent rotation never shifts
    * a running stream's probe base.
    *
    * Probing a frozen epoch makes per-doc scores trivially
    * batch-boundary-invariant (each doc's coverage depends only on the
    * store, never on co-arrivals), which is exactly the semantics the
    * batch operator `dedup_span_incremental` oracles — the streaming
    * form must and does reproduce it (`dedup_streaming_spans`).
    */
  def spanIngestStore(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String, stream: DataFrame,
                      k: Int = 8, textCol: String = "text",
                      idCol: String = "doc_id", hashKind: String = "xx",
                      batchIdBase: Long = 1L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    VersionedSlots.maintain(stream, batchIdBase, EpochStore.current(storeDir)) {
      (batch, ref, b) =>
        spanIngestBatch(spark, ref, batch, b, k, textCol, idCol, hashKind)
    }
  }

  /** One micro-batch of [[spanIngestStore]], written as store batch
    * `batchId` (≥ 1) — factored out so the retry-idempotence contract is
    * directly testable: calling this twice with the same `batchId`
    * leaves coverage and accumulated sigs bit-identical.
    */
  private[graft] def spanIngestBatch(
      spark: org.apache.spark.sql.SparkSession, ref: EpochStore.Ref,
      batch: DataFrame, batchId: Long, k: Int,
      textCol: String, idCol: String, hashKind: String): Unit = {
    VersionedSlots.requireAppend(batchId)
    EpochStore.writeBatch(
      graft.operators.Dedup.duplicatedSpansAgainstSigs(
        EpochStore.readBase(spark, ref, "spansigs"),
        batch, k, textCol, idCol, hashKind),
      ref, "coverage", batchId)
    EpochStore.writeBatch(
      graft.operators.Dedup.spanStoreSigs(batch, k, textCol, hashKind),
      ref, "spansigs", batchId)
  }

  /** Seed a span [[EpochStore]]: the corpus's distinct window
    * fingerprints become epoch 0's frozen `spansigs` base. Returns the
    * committed epoch.
    */
  def seedSpanStore(storeDir: String, corpusSigs: DataFrame): EpochStore.Ref = {
    val ref = EpochStore.claimNext(storeDir)
    EpochStore.writeBatch(corpusSigs, ref, "spansigs", 0L)
    EpochStore.commit(ref)
    ref
  }

  /** Rotate the span store: fold the current epoch's frozen base PLUS
    * every batch-accumulated fingerprint directory into the NEXT
    * epoch's frozen `spansigs` base (distinct — sigs are a set), so
    * documents ingested during the old epoch screen arrivals in the new
    * one. This is the rotation [[spanIngestStore]] accumulates for: the
    * growing `b>=1` directories are exactly "spansigs_next", folded in
    * when the corpus snapshot is cut. Coverage rows are per-epoch probe
    * OUTPUT (scores against that epoch's base), not state — they stay
    * with their epoch rather than carrying forward. The old epoch
    * remains intact for pinned readers/streams.
    */
  def rotateSpanStore(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String): EpochStore.Ref =
    EpochStore.rotate(spark, storeDir,
      Seq("spansigs" -> (df => df.distinct())))

  /** Streaming ingest SPAN screening: each arriving micro-batch's docs
    * get their duplicated-span coverage against the standing corpus's
    * window-fingerprint set
    * ([[graft.operators.Dedup.duplicatedSpansIncremental]]) appended to
    * `sink` — the boilerplate detector of a continuously-ingesting
    * pipeline. Batch docs are screened against the corpus only (never
    * each other), so output is batch-boundary-invariant like
    * [[nearDupIngest]].
    */
  def spanIngest(corpus: DataFrame, stream: DataFrame,
                 sink: (DataFrame, Long) => Unit,
                 k: Int = 8, hashKind: String = "xx",
                 textCol: String = "text", idCol: String = "doc_id")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // corpus fingerprints hoisted to construction ([[nearDupIngest]]
    // discipline): one O(corpus) pass total, not one per micro-batch
    val corpusSigs = graft.plans.LazyCheckpoint.shared(
      graft.operators.Dedup.spanStoreSigs(corpus, k, textCol, hashKind))
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.operators.Dedup.duplicatedSpansAgainstSigs(
        corpusSigs, batch, k, textCol = textCol, idCol = idCol,
        hashKind = hashKind), batchId)
    }
  }

  /** Streaming SEMANTIC dedup against a GROWING persisted ANN store — the
    * streaming form of
    * [[graft.operators.Dedup.semanticIncrementalStore]] and the vector
    * analog of [[nearDupIngestStore]]: every arriving micro-batch
    *
    *   1. probes the store in batch mode (query frame and shortlist
    *      shuffle-join on `c_id`/`neighbor_id`; nothing batch-sized
    *      broadcasts) for each row's nearest live neighbor, and hands
    *      the (id, nn_id, sim, is_dup) verdicts to `sink`;
    *   2. ingests its own vectors under the FROZEN model as its own
    *      idempotent `b=<batchIdBase+n>` codes directory
    *      ([[graft.operators.AnnIndex.ingest]] — a retried batch
    *      wholesale-overwrites it), so LATER batches dedup against it.
    *
    * The batch's own ids are excluded from its probe (the probe's
    * `excluded` pre-filter), which makes the probe/ingest order
    * immaterial and retries exact: a foreachBatch retry that re-probes
    * AFTER its ingest landed returns identical verdicts, and its
    * re-ingest overwrites the same directory — at-least-once delivery
    * composes to exactly-once. Verdicts are sequential by construction
    * — a row's candidate set is the standing corpus plus STRICTLY
    * EARLIER arrivals — the semantics an ingest front door wants: the
    * first arrival of a duplicate pair is kept, later ones flag
    * against it. `sink` must materialize the frame before returning
    * (write or collect — every in-repo sink does), because the store
    * advances as soon as the next batch lands.
    *
    * `vectors` resolves candidate ids to exact vectors for the re-rank;
    * a superset of the store's live ids is fine (the join is gated by
    * the shortlist). The model version is pinned ONCE at stream
    * construction, like [[nearDupIngestStore]]'s epoch pin; the stream
    * owns batch ids `[batchIdBase, ∞)` of that version
    * ([[VersionedSlots.maintain]]); `sink` receives the micro-batch id.
    */
  def semanticIngestStore(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String, stream: DataFrame,
                          vectors: DataFrame,
                          sink: (DataFrame, Long) => Unit,
                          threshold: Double, nprobe: Int = 4,
                          rerank: Int = 16, idCol: String = "vec_id",
                          vecCol: String = "embedding", version: Int = -1,
                          batchIdBase: Long = 1L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    VersionedSlots.maintain(stream, batchIdBase,
        graft.operators.AnnIndex.Versions.pin(storeDir, version)) {
      (batch, v, b) => sink(semanticIngestBatch(spark, storeDir, batch, b,
        vectors, threshold, nprobe, rerank, idCol, vecCol, v), b - batchIdBase)
    }
  }

  /** One micro-batch of [[semanticIngestStore]] — factored out so the
    * retry-idempotence contract is directly testable: calling this
    * twice with the same `ingestBatchId` leaves the store bit-identical
    * and returns identical verdicts (the batch's own ids are excluded
    * from its probe, so re-probing after its own ingest landed changes
    * nothing).
    */
  private[graft] def semanticIngestBatch(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      batch: DataFrame, ingestBatchId: Long, vectors: DataFrame,
      threshold: Double, nprobe: Int, rerank: Int,
      idCol: String, vecCol: String, version: Int): DataFrame = {
    // asOfBatch pins the probe to the batches BEFORE this one: a retry's
    // re-ingest wholesale-overwrites b=<ingestBatchId>, and a probe that
    // listed the first attempt's files would hit FILE_NOT_EXIST mid-read;
    // the snapshot also makes retry verdicts bit-identical
    val verdicts = graft.operators.Dedup.semanticIncrementalStore(spark,
      storeDir, batch, vectors, threshold, nprobe, rerank, idCol, vecCol,
      version, excludeOwnIds = true, asOfBatch = ingestBatchId - 1)
    graft.operators.AnnIndex.ingest(batch.select(col(idCol), col(vecCol)),
      storeDir, ingestBatchId, version, idCol, vecCol)
    verdicts
  }
}
