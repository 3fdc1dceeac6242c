package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

import graft.model.{ChangeEvent, IndexDef, Opcode}
import graft.operators.IndexMaintainer

/** Streaming index maintenance — the MAINT_STREAM/topic machinery of the
  * reference (stream lifecycle O17, failover/rollback O18/O19) re-expressed
  * as Structured Streaming, where checkpointing subsumes the reference's
  * failover-log/rollback protocol (SURVEY §3 EP1, §4).
  *
  * Two idiomatic forms:
  *
  *  - [[maintain]]/[[maintainAll]]: `foreachBatch` merge into
  *    docid-hash-partitioned, versioned parquet indexes — a batch
  *    rewrites ONLY the partitions its docids hash to (write volume ∝
  *    batch spread, not index size), and
  *    the reader resolves each partition to its latest committed version.
  *    Exactly-once across restarts because the write is idempotent per
  *    `batchId` (retry of batch N rewrites `v=N`, never appends — the
  *    requirement called out in SURVEY §7.4.4).
  *  - [[deltaStream]]: typed `flatMapGroupsWithState` keeping the
  *    docid → last-emitted-key back-index and emitting retraction/upsert
  *    deltas — the reference's per-mutation old-key/new-key routing
  *    (`Projector/indexjs.go:103-189`) as managed Spark state, solving the
  *    "source carries no oldValue" problem (SURVEY §7.4.1) without the
  *    reference's delete-broadcast.
  */
object StreamingIndex {

  /** An index entry change: op = +1 upsert, -1 retraction. */
  final case class IndexDelta(docid: Long, op: Int, key: Double)

  /** Docid-hash partition count of the persisted index layout. On a real
    * cluster this scales with index size (partitions sized to executor
    * memory); the correctness contract is independent of the value.
    */
  val DefaultIndexPartitions = 32

  /** The partition a docid's entries live in: `pmod(hash(docid), n)` —
    * deterministic, so every batch and every reader agree on placement.
    */
  private def partExpr(n: Int) = pmod(hash(col("docid")), lit(n))

  /** Pin the store's partition count: first writer records it in a
    * `_LAYOUT` sidecar, every later [[backfill]]/[[maintain]] validates
    * against it. The count is a LAYOUT property, not a tuning knob on
    * calls: a maintainer running with a different n computes different
    * part ids, so stale entries in the old partitions would never be
    * read or anti-joined away — silent duplicate/stale results. (To
    * actually re-partition, rebuild into a fresh directory.)
    */
  private def pinLayout(indexDir: String, nPartitions: Int): Unit = {
    val p = java.nio.file.Paths.get(indexDir, "_LAYOUT")
    if (java.nio.file.Files.exists(p)) {
      val stored = new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toInt
      require(stored == nPartitions,
        s"index $indexDir is laid out with nPartitions=$stored but the " +
          s"caller passed $nPartitions — a mismatched maintainer would " +
          "strand stale entries in partitions it never reads; rebuild " +
          "into a fresh directory to change the layout")
    } else {
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, nPartitions.toString.getBytes("UTF-8"))
    }
  }

  /** Start a streaming maintenance query over a docid-hash-partitioned
    * index store.
    *
    * Layout: `indexDir/v=<batchId>/part=<p>/` where each version directory
    * holds ONLY the partitions the batch touched, and each written
    * partition holds that partition's FULL post-merge state. The current
    * index is therefore "latest committed version per partition"
    * ([[currentIndex]]). Per-batch write volume is
    * `|touched partitions| × (index size / nPartitions)` — proportional to
    * the batch's docid spread, NOT to the index (a micro-batch touching
    * one docid rewrites 1/nPartitions of the index, not all of it) — the
    * scale shape of the reference's MAINT stream
    * (`Projector/indexjs.go:123-189`), where a mutation only reaches the
    * endpoints owning its vbucket.
    *
    * Exactly-once across restarts because the write is idempotent per
    * `batchId` (retry of batch N rewrites `v=N` wholesale and reads state
    * strictly below N, never appends — SURVEY §7.4.4).
    *
    * The one-index case of [[maintainAllFrom]]: same per-batch pipeline.
    */
  def maintain(changes: DataFrame, defn: IndexDef, indexDir: String,
               checkpointDir: String,
               trigger: Trigger = Trigger.AvailableNow(),
               nPartitions: Int = DefaultIndexPartitions): StreamingQuery =
    maintainAllFrom(changes, Seq((defn, indexDir, Long.MinValue)),
      checkpointDir, trigger, nPartitions)

  /** Column tagging a collapsed batch row with its docid-hash partition. */
  private val PartCol = "__part"

  /** Per touched partition, the max seqno of the collapsed batch's rows
    * in it (a null seqno counts as `Long.MinValue`). One job, no shuffle:
    * each task reduces its rows to a ≤ nPartitions map, the driver merges.
    */
  private def maxSeqnoPerPart(collapsed: DataFrame): Map[Int, Long] =
    collapsed.select(col(PartCol), col("seqno").cast("long")).rdd
      .mapPartitions { rows =>
        val m = scala.collection.mutable.HashMap.empty[Int, Long]
        rows.foreach { r =>
          val s = if (r.isNullAt(1)) Long.MinValue else r.getLong(1)
          m.update(r.getInt(0), m.get(r.getInt(0)).fold(s)(math.max(_, s)))
        }
        m.iterator
      }
      .collect().groupMapReduce(_._1)(_._2)(math.max)

  /** One index's leg of a micro-batch: read ONLY the partitions its share
    * of the batch touches (each at its latest version below `batchId`),
    * merge, write only those partitions under `v=<batchId>`. `collapsed`
    * is the whole batch collapsed per docid; `fromSeqno` scopes it to this
    * index (`Long.MinValue` = everything).
    */
  private def mergeLeg(collapsed: DataFrame, maxSeqno: Map[Int, Long],
                       batchId: Long, defn: IndexDef, indexDir: String,
                       fromSeqno: Long, nPartitions: Int): Unit = {
    val unfloored = fromSeqno == Long.MinValue
    val touched = maxSeqno
      .collect { case (p, s) if unfloored || s > fromSeqno => p }.toSet
    if (touched.nonEmpty) {
      val scoped =
        if (unfloored) collapsed
        else collapsed.filter(col("seqno") > fromSeqno)
      val current = readParts(collapsed.sparkSession, indexDir, touched,
        batchId, defn, Some(collapsed.limit(0)))
      IndexMaintainer.mergeCollapsed(current, scoped, defn)
        .withColumn("part", partExpr(nPartitions))
        .repartition(col("part")) // one task → one file per partition
        .write.mode("overwrite").partitionBy("part")
        .parquet(s"$indexDir/v=$batchId")
      // The parquet writer skips partitions the merge left EMPTY (all
      // entries deleted) — but "this version owns partition P with zero
      // rows" must shadow P's older versions. Declare the touched set in a
      // manifest; a declared-but-absent part dir reads as empty.
      writeManifest(indexDir, batchId, touched.toSeq.sorted)
      // inline GC: bounds the version-chain length (≈ nPartitions live
      // dirs + the retention margin) so the per-batch version resolution
      // stays O(partitions), not O(stream age). The retention margin
      // gives concurrent readers (whose resolved file paths are stale the
      // moment a newer batch commits) several batch intervals of grace;
      // GC failure must never fail the already-committed batch.
      try pruneShadowed(indexDir)
      catch { case e: Exception =>
        System.err.println(s"[maintainAll] GC skipped: ${e.getMessage}")
      }
    }
  }

  /** Atomically publish a version's partition manifest. The manifest — not
    * the parquet `_SUCCESS` — is the version's COMMIT RECORD
    * ([[listVersions]] ignores versions without one), so a crash between
    * the parquet job and this write leaves the version invisible rather
    * than resurrecting entries its merge deleted; the idempotent batch
    * retry rewrites the whole directory.
    */
  private def writeManifest(indexDir: String, version: Long,
                            parts: Seq[Int]): Unit = {
    val tmp = Paths.get(s"$indexDir/v=$version/_parts.tmp")
    Files.write(tmp, parts.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(s"$indexDir/v=$version/_parts"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Maintain MANY indexes from ONE stream pass — the reference's topic
    * topology (one projector feed drives an evaluator ENGINE MAP, one entry
    * per index instance, reference `projector.go:787-813`; instances are
    * added/removed per topic, `:641-717`). Each micro-batch is collapsed to
    * its last state per docid ONCE, tagged with its docid-hash partition
    * and materialized by one eager local checkpoint; one shuffle-free job
    * then gathers each touched partition's max seqno, from which every
    * index derives its touched set. The per-index legs (read touched
    * partitions → merge → write `v=<batchId>` → manifest → GC) run
    * concurrently ([[graft.plans.Overlap]]; its per-call threads inherit
    * the stream's query/batch job properties). Job budget: 3 shared
    * (the collapse's shuffle and checkpoint, the max-seqno pass) plus 3
    * per index (touched-set broadcast, partition shuffle, write) — 12 for
    * three indexes, ≈ 6 on the critical path; reading a version runs none
    * (its schema comes from a parquet footer on the driver). A failure in
    * one index does not poison the others (per-index isolation, like the
    * reference's per-engine error handling).
    */
  def maintainAll(changes: DataFrame, defns: Seq[(IndexDef, String)],
                  checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow(),
                  nPartitions: Int = DefaultIndexPartitions): StreamingQuery =
    maintainAllFrom(changes,
      defns.map { case (d, dir) => (d, dir, Long.MinValue) },
      checkpointDir, trigger, nPartitions)

  /** [[maintainAll]] with a per-index seqno floor: index instances added to
    * a RUNNING topic after a [[backfill]] only apply changes past their
    * snapshot watermark (`fromSeqno`), while long-running instances apply
    * everything — the MAINT/CATCHUP stream separation of the reference
    * (per-stream endpoints `kv_sender.go:1225-1243`, instance addition to a
    * live topic `projector.go:641-717`). The floor applies to the shared
    * collapsed batch, which is exact
    * ([[IndexMaintainer.mergeCollapsed]]): a partition is in an index's
    * touched set iff its max seqno clears the index's floor.
    */
  def maintainAllFrom(changes: DataFrame, defns: Seq[(IndexDef, String, Long)],
                      checkpointDir: String,
                      trigger: Trigger = Trigger.AvailableNow(),
                      nPartitions: Int = DefaultIndexPartitions): StreamingQuery = {
    defns.foreach { case (_, indexDir, _) => pinLayout(indexDir, nPartitions) }
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // eager: materialized before any leg starts, so concurrent legs
        // only read its blocks (no lazy-checkpoint race across them); the
        // blocks go with the RDD, as every local checkpoint's do
        val collapsed = IndexMaintainer.latestPerDocid(batch)
          .withColumn(PartCol, partExpr(nPartitions))
          .localCheckpoint()
        // Attempt every index (one bad index doesn't stop the others'
        // writes) but FAIL the batch if any failed: the checkpoint must not
        // commit a batch an index hasn't applied, or that index silently
        // loses the batch forever. Retry is safe — writes are idempotent
        // per (indexDir, batchId).
        val maxSeqno = maxSeqnoPerPart(collapsed)
        val failures = graft.plans.Overlap.all(defns.map {
          case (defn, indexDir, fromSeqno) => () =>
            try {
              mergeLeg(collapsed, maxSeqno, batchId, defn, indexDir,
                fromSeqno, nPartitions)
              None
            } catch { case e: Throwable =>
              System.err.println(s"[maintainAll] ${defn.name}: ${e.getMessage}")
              Some(defn.name -> e)
            }
        }).flatten
        failures.headOption.foreach { case (name, e) =>
          throw new RuntimeException(
            s"batch $batchId failed for ${failures.map(_._1).mkString(", ")}", e)
        }
      }
      .start()
  }

  /** INIT-stream analog: build a newly registered index from a snapshot of
    * the source and persist it as version `asOfBatch` (below any stream
    * batch id), declaring ownership of EVERY partition — the initial state
    * the streaming maintainer then advances. Mirrors the reference's index
    * build lifecycle CREATED→INITIAL→CATCHUP→ACTIVE
    * (`Projector/index.go:66-85`).
    */
  def backfill(snapshot: DataFrame, defn: IndexDef, indexDir: String,
               nPartitions: Int = DefaultIndexPartitions,
               asOfBatch: Long = -1L): Unit = {
    pinLayout(indexDir, nPartitions)
    // buildEntries: the docid-hash repartition below IS this store's
    // layout — build's own sortAndPartition pass would be discarded
    graft.operators.IndexBuilder.buildEntries(snapshot, defn)
      .withColumn("part", partExpr(nPartitions))
      .repartition(col("part"))
      .write.mode("overwrite").partitionBy("part")
      .parquet(s"$indexDir/v=$asOfBatch")
    writeManifest(indexDir, asOfBatch, 0 until nPartitions)
  }

  /** CATCHUP: add an index to a running stream. Backfill from `snapshot`
    * (which reflects all changes with `seqno <= watermark`), then maintain
    * from the change stream with already-reflected events dropped. The
    * handoff is exact when seqnos are per-docid monotone (the stream
    * contract). Result must equal a from-scratch rebuild — the invariant
    * `idx_catchup` oracles and `StreamingIndexSpec` checks mid-stream.
    */
  def catchup(snapshot: DataFrame, changes: DataFrame, defn: IndexDef,
              indexDir: String, checkpointDir: String, watermark: Long,
              trigger: Trigger = Trigger.AvailableNow(),
              nPartitions: Int = DefaultIndexPartitions): StreamingQuery = {
    backfill(snapshot, defn, indexDir, nPartitions)
    maintain(changes.filter(col("seqno") > watermark), defn, indexDir,
      checkpointDir, trigger, nPartitions)
  }

  /** Latest committed state strictly below `beforeBatch` (empty index when
    * none) — idempotent-retry-safe version resolution across the
    * per-partition version map.
    */
  def readLatest(spark: SparkSession, indexDir: String, beforeBatch: Long,
                 defn: IndexDef): DataFrame =
    readPaths(spark, indexDir, latestPerPart(indexDir, beforeBatch), defn)

  /** The current index: every partition at its latest committed version. */
  def currentIndex(spark: SparkSession, indexDir: String, defn: IndexDef): DataFrame =
    readLatest(spark, indexDir, Long.MaxValue, defn)

  /** Only the given partitions, each at its latest version below
    * `beforeBatch` — what a batch merge reads (the untouched rest of the
    * index is never opened).
    */
  private def readParts(spark: SparkSession, indexDir: String, parts: Set[Int],
                        beforeBatch: Long, defn: IndexDef,
                        proto: Option[DataFrame] = None): DataFrame = {
    val latest = latestPerPart(indexDir, beforeBatch).view
      .filterKeys(parts.contains).toMap
    readPaths(spark, indexDir, latest, defn, proto)
  }

  private def readPaths(spark: SparkSession, indexDir: String,
                        partVersions: Map[Int, Long], defn: IndexDef,
                        proto: Option[DataFrame] = None): DataFrame = {
    // a partition declared by its latest version but without a part dir was
    // left EMPTY by that batch's merge — it contributes no rows
    val paths = partVersions.toSeq.sorted
      .map { case (p, v) => s"$indexDir/v=$v/part=$p" }
      .filter(p => Files.isDirectory(Paths.get(p)))
    if (paths.nonEmpty) graft.plans.StoreReads.parquet(spark, paths)
    // empty index: derive the key schema from the batch when available
    // (its payload columns are what the key expressions reference —
    // ChangeEvent is only the default feed shape)
    else proto.fold(emptyIndex(spark, defn))(p => emptyFrom(p, defn))
  }

  /** Zero-row index frame with `defn`'s key schema, resolved against a
    * zero-row source with the feed's real payload columns.
    */
  private def emptyFrom(proto: DataFrame, defn: IndexDef): DataFrame =
    if (defn.isPrimary) proto.select(col("docid"))
    else if (defn.isArrayIndex)
      proto.select(explode(expr(defn.secExprs.head)).as("key"), col("docid"))
    else {
      val keyCols = defn.secExprs.zip(
        graft.operators.IndexBuilder.keyNames(defn.secExprs.length))
        .map { case (e, n) => expr(e).as(n) }
      proto.select(keyCols :+ col("docid"): _*)
    }

  /** partition id → latest committed version (strictly below `beforeBatch`)
    * that declares it. Driver-side directory listing, O(versions) — on a
    * real deployment this map lives in a manifest/commit log; the layout
    * contract is the same.
    */
  private def latestPerPart(indexDir: String, beforeBatch: Long): Map[Int, Long] = {
    val out = scala.collection.mutable.Map.empty[Int, Long]
    listVersions(indexDir).filter(_ < beforeBatch).sorted.foreach { v =>
      declaredParts(indexDir, v).foreach(p => out(p) = v)
    }
    out.toMap
  }

  /** Partitions a version OWNS per its `_parts` manifest (present for
    * every committed version — [[listVersions]]; includes partitions the
    * merge emptied). Defensive fallback: the part dirs on disk.
    */
  private def declaredParts(indexDir: String, version: Long): Seq[Int] = {
    val manifest = Paths.get(s"$indexDir/v=$version/_parts")
    if (Files.isRegularFile(manifest))
      new String(Files.readAllBytes(manifest), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty).map(_.toInt)
    else partsOf(indexDir, version)
  }

  private def listVersions(indexDir: String): Seq[Long] = {
    val dir = Paths.get(indexDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stream = Files.list(dir)
    try stream.forEach { p =>
      val n = p.getFileName.toString
      // committed = parquet _SUCCESS AND the atomically-moved manifest
      if (n.startsWith("v=") && Files.exists(p.resolve("_SUCCESS")) &&
          Files.exists(p.resolve("_parts")))
        out += n.drop(2).toLong
    } finally stream.close() // Files.list leaks a directory fd if not closed
    out.toSeq
  }

  /** Partition ids present under one version directory. */
  private[graft] def partsOf(indexDir: String, version: Long): Seq[Int] = {
    val dir = Paths.get(s"$indexDir/v=$version")
    if (!Files.isDirectory(dir)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val stream = Files.list(dir)
    try stream.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("part=")) out += n.drop(5).toInt
    } finally stream.close()
    out.toSeq
  }

  /** Garbage-collect version directories whose every partition is shadowed
    * by a newer version — the compaction/GC counterpart of the incremental
    * layout (old versions otherwise accumulate forever). Returns the
    * deleted versions.
    *
    * Replay safety: the NEWEST version may belong to a batch whose
    * checkpoint commit never happened; its idempotent retry reads state
    * strictly below it. Reader safety: a concurrent scan may hold file
    * paths resolved several batches ago, so the states reachable below
    * each of the newest `retainGenerations` versions are ALL kept — a
    * reader gets that many batch intervals of grace before its files can
    * disappear. Deletion is best-effort per version, manifest first: a
    * partially-deleted version is uncommitted (invisible), never
    * half-readable.
    */
  def pruneShadowed(indexDir: String, retainGenerations: Int = 4): Seq[Long] = {
    val versions = listVersions(indexDir).sorted
    if (versions.isEmpty) return Seq.empty
    val guards = versions.takeRight(math.max(1, retainGenerations))
    val live = (latestPerPart(indexDir, Long.MaxValue).values.toSet ++
      guards.flatMap(g => latestPerPart(indexDir, g).values) ++ guards).toSet
    val dead = versions.filterNot(live.contains)
    // Half-deleted leftovers: an earlier prune whose walk threw after the
    // `_parts` decommission left an UNCOMMITTED directory that listVersions
    // can never surface again — re-collect any manifest-less v= dir below
    // the guard window (batches are sequential per query, so nothing below
    // the oldest guard can still have a retry in flight).
    val orphans = {
      val d = Paths.get(indexDir)
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      val stream = Files.list(d)
      try stream.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v=") && !Files.exists(p.resolve("_parts"))) {
          val v = n.drop(2).toLong
          if (v < guards.min) out += v
        }
      } finally stream.close()
      out.toSeq
    }
    (dead ++ orphans).sorted.filter { v =>
      try {
        val root = Paths.get(s"$indexDir/v=$v")
        Files.deleteIfExists(root.resolve("_parts")) // decommission first
        val stream = Files.walk(root)
        try stream.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
        finally stream.close()
        true
      } catch { case e: Exception => // stray handle: retry next GC
        System.err.println(s"[graft-gc] failed to delete $indexDir/v=$v: $e")
        false
      }
    }
  }

  private def emptyIndex(spark: SparkSession, defn: IndexDef): DataFrame = {
    import spark.implicits._
    // key schema from the defn's expressions over an empty change frame
    emptyFrom(Seq.empty[ChangeEvent].toDF(), defn)
  }

  /** A keyed index delta: op = +1 upsert / -1 retraction. `key` is the
    * collation-encoded emitted key (`JsonCollation.encode` of the emitted
    * values as a struct) — order-preserving bytes, so downstream sinks can
    * sort/route deltas without decoding.
    */
  final case class KeyedDelta(docid: Long, op: Int, key: Array[Byte])

  /** Generalized stateful delta stream — [[deltaStream]] for ARBITRARY key
    * shapes. `emit` computes the index keys a change event's document maps
    * to (empty = WHERE-filtered or deleted; several = multi-emit, the
    * reference's `emit()` called more than once per doc). The
    * docid → key-set back-index is held in `GroupState` as the
    * collation-encoded byte keys, so composite, heterogeneous and
    * lambda-emitted keys all share one state payload — the general form of
    * the reference's old-value evaluation (`Projector/indexjs.go:103-108`),
    * which re-runs the map function on `m.OldValue` to find what to
    * retract; here the state IS the old emission.
    */
  def deltaStreamKeyed(spark: SparkSession,
                       changes: org.apache.spark.sql.Dataset[ChangeEvent],
                       emit: ChangeEvent => Seq[Seq[Any]])
      : org.apache.spark.sql.Dataset[KeyedDelta] = {
    import spark.implicits._
    import scala.collection.immutable.ArraySeq
    changes.groupByKey(_.docid)
      .flatMapGroupsWithState[Seq[Array[Byte]], KeyedDelta](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (docid: Long, events: Iterator[ChangeEvent],
         state: GroupState[Seq[Array[Byte]]]) => {
          var cur: Set[ArraySeq[Byte]] =
            if (state.exists) state.get.iterator.map(ArraySeq.unsafeWrapArray(_)).toSet
            else Set.empty
          val out = List.newBuilder[KeyedDelta]
          events.toSeq.sortBy(_.seqno).foreach { ev =>
            val next: Set[ArraySeq[Byte]] = ev.opcode match {
              case Opcode.Mutation =>
                // per-event panic safety (the batch path's
                // IndexBuilder.flatMapEmit Try, reference recover()):
                // a throwing user emit must SKIP the event (keys
                // unchanged), not fail the query — a checkpoint replay
                // of the same poisoned batch would fail identically
                // forever, wedging the index behind one bad document
                scala.util.Try(
                  emit(ev).map(k => ArraySeq.unsafeWrapArray(
                    graft.functions.JsonCollation.encode(
                      org.apache.spark.sql.Row.fromSeq(k)))).toSet
                ).getOrElse(cur)
              case _ => Set.empty // DELETION / EXPIRATION
            }
            (cur -- next).foreach(k => out += KeyedDelta(docid, -1, k.toArray))
            (next -- cur).foreach(k => out += KeyedDelta(docid, 1, k.toArray))
            cur = next
          }
          if (cur.isEmpty) state.remove()
          else state.update(cur.iterator.map(_.toArray).toSeq)
          out.result().iterator
        })
  }

  /** Typed stateful form: docid-grouped change events → index deltas, with
    * the docid → last-key back-index held in `GroupState`. Emits a
    * retraction for the previous key (if any) and an upsert for the new
    * one. The single-`Double`-key fast path of [[deltaStreamKeyed]].
    */
  def deltaStream(spark: SparkSession,
                  changes: org.apache.spark.sql.Dataset[ChangeEvent],
                  whereMin: Option[Double] = None)
      : org.apache.spark.sql.Dataset[IndexDelta] = {
    import spark.implicits._
    changes.groupByKey(_.docid)
      .flatMapGroupsWithState[Double, IndexDelta](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (docid: Long, events: Iterator[ChangeEvent], state: GroupState[Double]) => {
          var deltas = List.empty[IndexDelta]
          events.toSeq.sortBy(_.seqno).foreach { ev =>
            val newKey: Option[Double] = ev.opcode match {
              case Opcode.Mutation =>
                ev.value.filter(v => whereMin.forall(v >= _))
              case _ => None // DELETION / EXPIRATION
            }
            val oldKey = if (state.exists) Some(state.get) else None
            if (oldKey != newKey) {
              oldKey.foreach(k => deltas ::= IndexDelta(docid, -1, k))
              newKey.foreach(k => deltas ::= IndexDelta(docid, 1, k))
              newKey match {
                case Some(k) => state.update(k)
                case None => state.remove()
              }
            }
          }
          deltas.reverseIterator
        })
  }
}
