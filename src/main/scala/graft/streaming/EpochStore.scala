package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.VersionedSlots
import graft.plans.StoreReads

/** Epoch-versioned multi-table parquet store — the shared lifecycle
  * layer under the streaming dedup stores
  * ([[StreamingDedup.nearDupIngestStore]] / [[StreamingDedup.spanIngestStore]]),
  * giving them the same three properties
  * [[StreamingIndex.maintain]]'s `v=<batch>` layout gives the scalar
  * index:
  *
  *  - '''Idempotent appends''' (at-least-once → exactly-once): every
  *    micro-batch writes its rows as its OWN directory
  *    `e=<epoch>/<table>/b=<batchId>` in overwrite mode — a retried
  *    batch rewrites that directory wholesale and can never
  *    double-append. A batch directory is committed by its parquet
  *    `_SUCCESS`; readers union committed directories only, so a
  *    half-written batch (crash mid-write) is invisible until its
  *    idempotent retry.
  *  - '''Atomic multi-table epochs''': one epoch directory holds ALL the
  *    store's tables (sigs + buckets + pairs; spansigs + coverage), and
  *    becomes visible only when its `_COMMITTED` marker lands
  *    ([[VersionedSlots.publishReplace]], written LAST) — so rotation
  *    can never expose a store whose tables disagree about the epoch.
  *    Epoch numbers are claimed exclusively
  *    ([[VersionedSlots.claimDir]]); a crashed rotation leaves an
  *    uncommitted, invisible epoch directory behind — collected once
  *    stale by the explicit [[gc]] sweep, which also reclaims epochs
  *    shadowed by newer rotations — and the retry claims the next
  *    number.
  *  - '''Rotation/compaction as an epoch fold''' ([[rotate]]): each
  *    table's committed rows are folded (distinct, re-guard, identity)
  *    into batch 0 of the NEXT epoch — the frozen base a new epoch
  *    probes — and the old epoch stays intact for readers that pinned
  *    it. Fold cost ∝ live store size, never stream age: rewriting N
  *    committed batches as one is exactly the compaction
  *    [[graft.operators.Dedup.guardBuckets]]'s contract defers to.
  *
  * At 100 TB the batch directories are the provenance ledger: per-batch
  * write volume ∝ the batch, reads stay partition-parallel over
  * committed files, and the driver-side listings are O(batches) /
  * O(epochs) control-plane walks, never data reads.
  */
object EpochStore {

  /** A pinned (root, epoch) — what a streaming writer resolves ONCE at
    * construction, so mid-stream rotation can never shift its probe
    * base.
    */
  final case class Ref(root: String, epoch: Int)

  /** The epoch slots: `e=<N>/`, committed once `_COMMITTED` lands. */
  private val Epochs =
    VersionedSlots.Dirs("_COMMITTED", "committed epoch", prefix = "e=")

  private def tableRoot(ref: Ref, table: String) =
    s"${ref.root}/e=${ref.epoch}/$table"

  /** Committed epochs under `root`, ascending (an epoch exists only once
    * its `_COMMITTED` marker does — the marker is written last by
    * [[commit]]/[[rotate]]).
    */
  def epochs(root: String): Seq[Int] = Epochs.versions(root)

  /** The newest committed epoch pinned as a [[Ref]]. */
  def current(root: String): Ref =
    Ref(root, Epochs.latest(root).getOrElse(throw new NoSuchElementException(
      s"no committed epochs under $root — seed the store first")))

  /** Claim the next epoch number exclusively (concurrent
    * claimers/rotators can never share one; the loser retries the next
    * number). The claimed epoch is INVISIBLE until [[commit]].
    */
  def claimNext(root: String): Ref = {
    // claimDir floors at slot 1; epoch numbering starts at 0, so claim
    // the initial epoch directly (exclusive createDirectory all the
    // same) — but only when no claim floor fences it (a swept crashed
    // epoch-0 claim must not have its number reused)
    if (Epochs.claimed(root).isEmpty &&
        VersionedSlots.claimFloor(root) <= 0) {
      try {
        Files.createDirectories(java.nio.file.Paths.get(root))
        Files.createDirectory(Epochs.path(root, 0))
        VersionedSlots.raiseFloor(root, 1)
        return Ref(root, 0)
      } catch { case _: java.nio.file.FileAlreadyExistsException => }
    }
    Ref(root, Epochs.claimNext(root))
  }

  /** Publish the epoch's `_COMMITTED` marker — written LAST, after every
    * table's base batch, so a visible epoch is always complete.
    */
  def commit(ref: Ref): Unit = Epochs.publish(ref.root, ref.epoch, "")

  /** Write `df` as the table's batch directory — wholesale overwrite, so
    * a retried batch id is idempotent (never appends). Batch 0 is the
    * epoch's frozen base (seed or rotation fold); appends use ids ≥ 1
    * ([[VersionedSlots.requireAppend]]'s namespace).
    */
  def writeBatch(df: DataFrame, ref: Ref, table: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"${tableRoot(ref, table)}/b=$batchId")

  /** Batch ids committed under the table, ascending
    * ([[VersionedSlots.committedBatches]] — the shared `_SUCCESS`
    * visibility rule) — a driver-side O(batches) listing.
    */
  def committedBatches(ref: Ref, table: String): Seq[Long] =
    VersionedSlots.committedBatches(tableRoot(ref, table))

  /** The table's frozen base: batch 0 only — what an epoch-frozen probe
    * reads ([[StreamingDedup.spanIngestStore]] semantics).
    */
  def readBase(spark: SparkSession, ref: Ref, table: String): DataFrame =
    readBatch(spark, ref, table, 0L)

  /** One batch directory of the table. */
  def readBatch(spark: SparkSession, ref: Ref, table: String,
                batchId: Long): DataFrame =
    StoreReads.batches(spark, tableRoot(ref, table), Seq(batchId),
      withBatch = false)

  private def committedOf(ref: Ref, table: String): Seq[Long] =
    VersionedSlots.committedUpTo(tableRoot(ref, table), Long.MaxValue,
      s"table $table under ${ref.root} e=${ref.epoch}")

  /** Every committed batch of the table, base included — what a
    * growing-store probe reads
    * ([[StreamingDedup.nearDupIngestStore]] semantics) and what
    * [[rotate]] folds.
    */
  def readAll(spark: SparkSession, ref: Ref, table: String): DataFrame =
    StoreReads.batches(spark, tableRoot(ref, table), committedOf(ref, table),
      withBatch = false)

  /** [[readAll]] with BATCH PROVENANCE: the `b=` partition column
    * surfaces as `__b`. What a latest-wins resolution over re-carried
    * ids needs — without provenance, a re-ingested id's old and new
    * rows are indistinguishable.
    */
  def readAllWithBatch(spark: SparkSession, ref: Ref,
                       table: String): DataFrame =
    StoreReads.batches(spark, tableRoot(ref, table), committedOf(ref, table))
      .withColumnRenamed("b", "__b")

  /** Every committed batch of the table across ALL committed epochs —
    * what [[rotate]] folds. Folding one epoch would be wrong under a
    * concurrent pinned writer: a stream pinned to an OLD epoch keeps
    * appending batches there after a rotation, and a fold that read
    * only the newest epoch would never carry those batches forward — a
    * later [[gc]] would then delete them silently.
    */
  def readAllEpochs(spark: SparkSession, root: String,
                    table: String): DataFrame = {
    val dirs = epochs(root).flatMap { e =>
      val ref = Ref(root, e)
      committedBatches(ref, table)
        .map(b => s"${tableRoot(ref, table)}/b=$b")
    }
    require(dirs.nonEmpty,
      s"table $table has no committed batches under any epoch of $root")
    StoreReads.parquet(spark, dirs)
  }

  /** [[readAllEpochs]] with FULL provenance (`__e` epoch, `__b` batch)
    * — what a rotation fold that must resolve latest-wins across
    * re-carried ids reads; (__e, __b) ascending IS arrival order.
    */
  def readAllEpochsWithProvenance(spark: SparkSession, root: String,
                                  table: String): DataFrame = {
    val frames = epochs(root).flatMap { e =>
      val ref = Ref(root, e)
      val bs = committedBatches(ref, table)
      if (bs.isEmpty) None
      else Some(StoreReads.batches(spark, tableRoot(ref, table), bs)
        .withColumnRenamed("b", "__b")
        .withColumn("__e", org.apache.spark.sql.functions.lit(e)))
    }
    require(frames.nonEmpty,
      s"table $table has no committed batches under any epoch of $root")
    frames.reduce(_ unionByName _)
  }

  /** Rotate the store: fold each table's committed rows — across EVERY
    * committed epoch ([[readAllEpochs]]) — into batch 0 of the NEXT
    * epoch and commit it. Folding all epochs (not just the newest) is
    * what makes rotation safe under a concurrently-pinned streaming
    * writer: batches it appends to its OLD epoch after this rotation
    * are picked up by the NEXT one, as long as [[gc]]'s `keepLast`
    * keeps every epoch a live stream is pinned to (the same pinned-
    * reader contract every store GC in this engine carries). It also
    * means an epoch's base overlaps the prior epochs' rows, so folds
    * MUST be idempotent under union-overlap — distinct-style set folds,
    * which every in-repo fold is (sigs/pairs `distinct`, buckets
    * `distinct` + re-guard). Tables absent from `folds` do not carry
    * into the new epoch. The old epoch is left intact — a reader or
    * streaming writer that pinned it is undisturbed. Re-running a
    * rotation is harmless: it claims a fresh epoch number and folds the
    * then-current state again — committed epochs are never mutated.
    */
  def rotate(spark: SparkSession, root: String,
             folds: Seq[(String, DataFrame => DataFrame)],
             withProvenance: Boolean = false): Ref = {
    current(root) // fail fast on an unseeded store (same error as before)
    val next = claimNext(root)
    folds.foreach { case (table, fold) =>
      // withProvenance: the fold sees __e/__b (and must drop them) so
      // it can resolve latest-wins across re-carried ids — a plain
      // distinct() fold keeps BOTH contents of a re-ingested id
      val in = if (withProvenance)
        readAllEpochsWithProvenance(spark, root, table)
      else readAllEpochs(spark, root, table)
      writeBatch(fold(in), next, table, 0L)
    }
    commit(next)
    next
  }

  /** Explicit epoch GC ([[VersionedSlots.gcShadowed]]): delete committed
    * epochs shadowed by the newest `keepLast` (rotation leaves them
    * behind for pinned readers; this is the lifecycle step that finally
    * reclaims them) and uncommitted epoch directories (crashed
    * rotations) older than `staleUncommittedMs`. The `_COMMITTED` marker
    * is deleted first, so a raced listing can never see a half-deleted
    * epoch as committed. Returns the epoch numbers deleted.
    *
    * `keepLast` must cover every epoch a LIVE streaming writer is still
    * pinned to (streams pin at construction and never move): a swept
    * pinned epoch loses the stream's post-rotation appends before the
    * next [[rotate]] can fold them forward. Operationally: restart
    * long-lived streams onto [[current]] after a rotation, THEN sweep —
    * the same pinned-reader discipline every versioned store here
    * carries.
    */
  def gc(root: String, keepLast: Int = 2,
         staleUncommittedMs: Long = 24L * 3600 * 1000,
         nowMs: Long = System.currentTimeMillis): Seq[Int] =
    Epochs.gc(root, keepLast, staleUncommittedMs, nowMs)
}
