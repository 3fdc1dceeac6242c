package graft.functions

import java.nio.file.{FileAlreadyExistsException, NoSuchFileException, Path, Paths, Files => NioFiles}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import org.apache.spark.sql.streaming.DataStreamWriter

/** The ONE implementation of immutable version-slot claiming shared by
  * every versioned artifact store, so visibility and race semantics
  * cannot drift between stores. Two slot shapes, one case class each,
  * and one version-pin rule for both:
  *
  *  - '''File slots''' ([[Files]]): one JSON artifact file per version,
  *    `<name>_v<N>.json` — the tokenizer, unigram, encoding, stoplist,
  *    language-profile and PSL stores, and the library's per-function
  *    deploy history. The content is written COMPLETELY to a hidden
  *    temp sibling first and then hard-linked into the slot name —
  *    `link(2)` is atomic and fails when the name exists, so (a) two
  *    concurrent saves can never share a version (the loser retries
  *    the next number), and (b) a reader can NEVER observe a truncated
  *    artifact: the slot name appears only with its full bytes behind
  *    it. (A direct `CREATE_NEW` write gives (a) but not (b): a crash
  *    mid-write leaves a truncated file that version listings treat as
  *    valid.)
  *  - '''Directory slots''' ([[Dirs]]): one directory per version,
  *    claimed exclusively via `createDirectory`, filled by the caller,
  *    and made VISIBLE only by the caller's final marker publish — so
  *    a half-written version directory is never listed. The ANN, BM25,
  *    scalar-index and epoch stores hold one instance each.
  *  - '''One pin rule''' ([[pin]]): version 0 is rejected, a negative
  *    version means the newest visible version NOW, a positive one is
  *    taken as given.
  *
  * Slot numbers are never reused and never overwritten — a pinned
  * version can never observe drift; deletion is the separate, explicit
  * lifecycle step `gc` (shadowed versions + stale crashed claims),
  * never implicit.
  *
  * The batch-directory stores ([[graft.operators.AnnIndex]] codes,
  * [[graft.operators.Retrieval]] postings, [[graft.streaming.EpochStore]]
  * tables) take their whole lifecycle from here: version slots through
  * [[Dirs]], committed batches through [[committedBatches]], and the
  * batch-id namespace through [[requireAppend]] / [[maintain]].
  */
object VersionedSlots {

  /** Versions visible under `dir`, ascending: entry names accepted by
    * `parse`, kept when `visible` accepts the path (default: presence is
    * visibility — the file-slot contract, where the name only exists
    * complete).
    */
  private def versions(dir: String, parse: String => Option[Int],
                       visible: Path => Boolean = _ => true): Seq[Int] = {
    val d = Paths.get(dir)
    if (!NioFiles.isDirectory(d)) return Seq.empty
    val stream = NioFiles.list(d)
    try stream.iterator.asScala
      .flatMap(p => parse(p.getFileName.toString).filter(_ => visible(p)))
      .toSeq.sorted
    finally stream.close()
  }

  private val BatchDir = "b=([0-9]+)".r

  /** Batch directories committed under `root` — `b=<N>` entries whose
    * parquet `_SUCCESS` marker exists — ascending. The ONE
    * committed-batch visibility rule shared by every batch-directory
    * store ([[graft.operators.AnnIndex]] codes tables,
    * [[graft.streaming.EpochStore]] tables): a batch is visible iff its
    * writer's success marker landed, so a half-written directory (crash
    * mid-write) stays invisible until its idempotent retry rewrites it.
    */
  def committedBatches(root: String): Seq[Long] = {
    val d = Paths.get(root)
    if (!NioFiles.isDirectory(d)) return Seq.empty
    val stream = NioFiles.list(d)
    try stream.iterator.asScala
      .flatMap(p => p.getFileName.toString match {
        case BatchDir(b) if NioFiles.exists(p.resolve("_SUCCESS")) =>
          Some(b.toLong)
        case _ => None
      }).toSeq.sorted
    finally stream.close()
  }

  /** [[committedBatches]] up to the snapshot ceiling `asOfBatch` (a
    * reader racing a retried append never lists the directory the retry
    * overwrites), required non-empty; `what` names the table.
    */
  def committedUpTo(root: String, asOfBatch: Long, what: => String): Seq[Long] = {
    val bs = committedBatches(root).filter(_ <= asOfBatch)
    require(bs.nonEmpty, s"$what has no committed batches")
    bs
  }

  /** Publish `content` at `target` atomically AND exclusively: full
    * bytes to a temp sibling, then `Files.createLink` into the slot
    * name. Returns false when the slot was already taken (caller
    * retries another slot). The temp file is always removed.
    */
  private def publishExclusive(target: Path, content: String): Boolean = {
    val tmp = NioFiles.createTempFile(target.getParent,
      "." + target.getFileName.toString, ".tmp")
    try {
      NioFiles.writeString(tmp, content)
      try { NioFiles.createLink(target, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally NioFiles.deleteIfExists(tmp)
  }

  /** Publish `content` at `target` atomically with upsert semantics
    * (temp sibling + `ATOMIC_MOVE` + `REPLACE_EXISTING`): readers see
    * either the old complete bytes or the new complete bytes, never a
    * truncation. For non-slot artifacts — library entries, directory-
    * slot visibility markers.
    */
  def publishReplace(target: Path, content: String): Unit = {
    val tmp = NioFiles.createTempFile(target.getParent,
      "." + target.getFileName.toString, ".tmp")
    try {
      NioFiles.writeString(tmp, content)
      NioFiles.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally NioFiles.deleteIfExists(tmp)
  }

  /** Claim the next free FILE slot at or above `from` and publish
    * `content(v)` into it (content takes the version because artifacts
    * usually embed their own number). Returns the claimed version.
    */
  private def claimFile(dir: String, name: Int => String, from: Int,
                        content: Int => String): Int = {
    NioFiles.createDirectories(Paths.get(dir))
    var v = math.max(from, 1)
    while (!publishExclusive(Paths.get(dir, name(v)), content(v))) v += 1
    v
  }

  /** The claim floor file: `_next` under a directory-slot store records
    * the lowest version number a NEW claim may take (= max ever claimed
    * + 1). It exists so "slot numbers are never reused" survives GC: a
    * stale-claim sweep empties a slot DIRECTORY, and without the floor
    * the next [[claimDir]] (which scans from the visible maximum) would
    * re-issue the swept number — and a writer merely slower than the
    * staleness clock could then publish into a directory owned by a
    * different build, mixing two builds' artifacts under one version.
    * [[claimDir]] starts at the floor and raises it after every claim;
    * [[gcShadowed]] raises it before sweeping any directory slot.
    */
  private val FloorFile = "_next"

  /** The lowest version number a new directory-slot claim may take
    * (0 = no floor recorded yet — numbering conventions differ per
    * store, e.g. epochs start at 0, versions at 1).
    */
  def claimFloor(dir: String): Int = {
    val p = Paths.get(dir, FloorFile)
    if (!NioFiles.exists(p)) 0
    else scala.util.Try(NioFiles.readString(p).trim.toInt).getOrElse(0)
  }

  /** Raise the store's claim floor to at least `v` (idempotent,
    * monotone). Public for callers that claim a slot outside
    * [[claimDir]] (e.g. a store whose numbering starts below
    * claimDir's minimum of 1).
    */
  def raiseFloor(dir: String, v: Int): Unit =
    if (v > claimFloor(dir))
      publishReplace(Paths.get(dir, FloorFile), v.toString)

  /** Claim the next free DIRECTORY slot at or above `from` (exclusive:
    * `createDirectory` fails on an occupied slot and the loser retries).
    * The caller fills the directory and publishes its visibility marker
    * LAST. Claims never go below the store's [[claimFloor]], so a
    * version number emptied by a stale-claim sweep is never re-issued.
    * Returns the claimed version.
    */
  def claimDir(dir: String, name: Int => String, from: Int): Int = {
    NioFiles.createDirectories(Paths.get(dir))
    var v = math.max(math.max(from, 1), claimFloor(dir))
    while (true) {
      try {
        NioFiles.createDirectory(Paths.get(dir, name(v)))
        raiseFloor(dir, v + 1)
        return v
      }
      catch { case _: FileAlreadyExistsException => v += 1 }
    }
    v // unreachable
  }

  /** The ONE version-pin rule of every store here: 0 is invalid (slot
    * numbers are 1-based), a negative version resolves to the newest
    * visible version NOW (`latest`), a positive one is taken as given.
    * Throws NoSuchElementException when a negative pin meets an empty
    * store; `what` names the store in both errors.
    */
  private def pin(dir: String, version: Int, latest: => Option[Int],
                  what: String): Int = {
    require(version != 0,
      s"$what version 0 is invalid (versions are 1-based; pass a " +
        "negative value to pin to the latest at construction)")
    if (version > 0) version
    else latest.getOrElse(throw new NoSuchElementException(
      s"no $what versions under $dir"))
  }

  /** A FILE-slot store: versions are `<name>_v<N>.json` files under the
    * store directory, each holding one JSON artifact `A` (json4s
    * `DefaultFormats`), claimed and published by [[claimFile]] — so
    * presence is visibility and a listed version is never truncated.
    * One instance per store kind, so parsing, listing, saving, reading,
    * pinning and GC are the same code for all of them. `what` names the
    * store in its errors.
    */
  final case class Files[A <: AnyRef](name: String, what: String)(
      implicit mf: Manifest[A]) {
    private implicit val formats: Formats = DefaultFormats
    private val SlotName =
      (java.util.regex.Pattern.quote(name) + "_v([0-9]+)\\.json").r

    /** The slot number of a file name; None for foreign entries
      * (including the hidden `.tmp` staging siblings) and for numbers
      * past Int range — a stray copy must be ignored, not crash every
      * listing.
      */
    def parse(entry: String): Option[Int] = entry match {
      case SlotName(n) => scala.util.Try(n.toInt).toOption
      case _ => None
    }

    private def file(v: Int): String = s"${name}_v$v.json"

    /** Versions present, ascending (empty if none). */
    def versions(dir: String): Seq[Int] = VersionedSlots.versions(dir, parse)

    /** The newest version's artifact, if any. */
    def latest(dir: String): Option[A] =
      versions(dir).lastOption.flatMap(get(dir, _))

    /** Persist `artifact(v)` as the NEXT version (the artifact takes the
      * version because artifacts usually embed their own number);
      * returns the claimed version. [[claimFile]] gives both
      * race-safety (two concurrent saves never share a version) and
      * crash-safety (a listed version is never a truncated file).
      */
    def save(dir: String)(artifact: Int => A): Int =
      claimFile(dir, file, versions(dir).lastOption.getOrElse(0) + 1,
        v => Serialization.write(artifact(v)))

    /** Load a version (immutable — repeated gets always agree). */
    def get(dir: String, v: Int): Option[A] =
      // read-then-catch, not exists-then-read: a concurrent gc can
      // delete a shadowed version between the check and the read — the
      // Option contract says absent, never a thrown race
      try Some(Serialization.read[A](NioFiles.readString(Paths.get(dir, file(v)))))
      catch { case _: NoSuchFileException => None }

    /** [[VersionedSlots.pin]] plus the load: the pinned version and its
      * artifact. A pinned version that is absent throws
      * NoSuchElementException.
      */
    def at(dir: String, version: Int): (Int, A) = {
      val v = VersionedSlots.pin(dir, version, versions(dir).lastOption, what)
      v -> get(dir, v).getOrElse(throw new NoSuchElementException(
        s"$what version $v missing under $dir"))
    }

    /** [[gcShadowed]] of the file slots: delete the versions shadowed by
      * the newest `keepLast`. File slots have no uncommitted state (the
      * name only ever appears with full bytes behind it), so this is
      * purely the shadowed-version sweep. Returns the versions deleted.
      */
    def gc(dir: String, keepLast: Int = 2): Seq[Int] =
      gcShadowed(dir, parse, keepLast = keepLast)
  }

  /** A DIRECTORY-slot store: versions are `<prefix><N>/` directories
    * under the store root, each made visible by its `marker` file,
    * published LAST ([[publish]]). One instance per store kind
    * (`model.json` for ANN, `bm25.json` for BM25, `def.json` for scalar
    * index versions, `_COMMITTED` for epochs), so listing, pinning,
    * claiming and GC are the same code for all of them. `what` names
    * the store in the "no versions" error.
    */
  final case class Dirs(marker: String, what: String, prefix: String = "v") {
    private val SlotName = (java.util.regex.Pattern.quote(prefix) + "([0-9]+)").r

    /** The slot number of a directory name; None for foreign entries,
      * including numbers past Int range (a copy artifact must be
      * ignored, not crash every listing).
      */
    def parse(name: String): Option[Int] = name match {
      case SlotName(n) => scala.util.Try(n.toInt).toOption
      case _ => None
    }

    def path(dir: String, v: Int): Path = Paths.get(dir, s"$prefix$v")

    private def visible(p: Path): Boolean = NioFiles.exists(p.resolve(marker))

    /** Visible versions, ascending. */
    def versions(dir: String): Seq[Int] =
      VersionedSlots.versions(dir, parse, visible)

    /** The newest visible version, if any. */
    def latest(dir: String): Option[Int] = versions(dir).lastOption

    /** The version a reader or writer works on ([[VersionedSlots.pin]]):
      * a stream maintainer calls this once at construction, so a later
      * build cannot retarget it.
      */
    def pin(dir: String, version: Int): Int =
      VersionedSlots.pin(dir, version, latest(dir), what)

    /** Every slot directory present, visible or not, ascending. */
    def claimed(dir: String): Seq[Int] = VersionedSlots.versions(dir, parse)

    /** Claim the next slot above every slot directory present, visible
      * or not ([[claimDir]]: exclusive, never below the claim floor).
      */
    def claimNext(dir: String): Int =
      claimDir(dir, n => s"$prefix$n", claimed(dir).lastOption.getOrElse(0) + 1)

    /** Publish the marker: the version becomes visible. */
    def publish(dir: String, v: Int, content: String): Unit =
      publishReplace(path(dir, v).resolve(marker), content)

    def readMarker(dir: String, v: Int): String =
      NioFiles.readString(path(dir, v).resolve(marker))

    /** [[gcShadowed]] with the marker deleted first. */
    def gc(dir: String, keepLast: Int = 2,
           staleUncommittedMs: Long = 24L * 3600 * 1000,
           nowMs: Long = System.currentTimeMillis): Seq[Int] =
      gcShadowed(dir, parse, visible, keepLast, Some(marker),
        staleUncommittedMs, nowMs)
  }

  /** The GC tombstone: written into a directory slot BEFORE its
    * visibility marker is deleted, so a slot caught mid-decommission (a
    * crash or I/O failure during the tree walk) is distinguishable from
    * a fresh in-flight claim. A tombstoned slot can never become visible
    * again — its marker is gone and markers are only ever published by
    * the slot's original (long-finished) writer — so the next GC run
    * re-collects it UNCONDITIONALLY, not after another full staleness
    * clock (which the partial delete itself would have reset by
    * refreshing the directory mtime).
    */
  private val Tombstone = "_gc"

  /** The ONE explicit-GC step every versioned store here defers to
    * ([[graft.streaming.StreamingIndex.pruneShadowed]] generalized):
    * delete (a) SHADOWED visible versions — all but the newest
    * `keepLast` — and (b) uncommitted slots (claimed but never made
    * visible: a crashed build/rotation) whose last modification is older
    * than `staleUncommittedMs`, so an in-flight claim is never swept
    * from under its writer. A pinned reader of any KEPT version is
    * undisturbed — GC only ever touches slots outside the kept set, and
    * versions/epochs are immutable so there is nothing to compact in
    * place.
    *
    * Directory slots are DECOMMISSIONED in three ordered steps: the
    * [[Tombstone]] lands first, then the visibility `marker` is deleted,
    * then the tree walk — so a listing raced against a partial delete
    * sees an uncommitted slot, never a committed version with missing
    * tables (the `_parts`-first discipline of
    * `StreamingIndex.pruneShadowed`), and a slot whose walk THROWS (a
    * stray open handle) is re-collected unconditionally by the next run
    * via its tombstone instead of waiting out a fresh staleness clock.
    * Each failure is surfaced through `onDeleteFailure` (default: one
    * stderr line), never swallowed silently. Before any directory slot
    * is swept its number is fenced via the [[claimFloor]] file, so the
    * emptied slot number is never re-issued to a later claim.
    *
    * Returns the version numbers actually deleted. Driver-side
    * O(versions) listing + deletes — control-plane work, like every
    * lifecycle step in this engine.
    */
  /** The NEWEST mtime anywhere under a slot's tree — the stale-claim
    * clock. The slot directory's own mtime is set once at claim time
    * and nested writes (a long parquet job laying down
    * `codes/b=0/c_id=*` for hours) never refresh it, so judging
    * staleness by the top-level mtime alone would sweep a live slow
    * writer mid-write; any file the writer touches keeps the whole
    * tree fresh. Cost: one walk over UNCOMMITTED slots only (committed
    * and tombstoned slots never reach this check).
    */
  private def deepestMtimeMs(p: Path): Long =
    // Files.walk itself INSIDE the try: a slot deleted by a concurrent
    // GC run between the listing and this walk must read as "fresh"
    // (skip), not throw out of gcShadowed and abort the whole sweep
    try {
      val walk = NioFiles.walk(p)
      try walk.iterator.asScala
        .map(q => NioFiles.getLastModifiedTime(q).toMillis)
        .foldLeft(0L)(math.max)
      finally walk.close()
    } catch { case _: Exception => Long.MaxValue } // racing writer: fresh

  private def gcShadowed(dir: String, parse: String => Option[Int],
                         visible: Path => Boolean = _ => true,
                         keepLast: Int = 2,
                         marker: Option[String] = None,
                         staleUncommittedMs: Long = 24L * 3600 * 1000,
                         nowMs: Long = System.currentTimeMillis,
                         onDeleteFailure: (Int, Exception) => Unit = (v, e) =>
                           System.err.println(
                             s"[graft-gc] failed to delete version $v: $e")): Seq[Int] = {
    val d = Paths.get(dir)
    if (!NioFiles.isDirectory(d)) return Seq.empty
    val stream = NioFiles.list(d)
    val entries =
      try stream.iterator.asScala
        .flatMap(p => parse(p.getFileName.toString).map(v => (v, p)))
        .toVector.sortBy(_._1)
      finally stream.close()
    val keep = entries.filter { case (_, p) => visible(p) }
      .map(_._1).takeRight(math.max(1, keepLast)).toSet
    entries.filter { case (v, p) =>
      if (keep.contains(v)) false
      // a tombstoned slot is a half-deleted decommission: collect
      // unconditionally (it can never become visible again)
      else if (NioFiles.exists(p.resolve(Tombstone))) true
      else if (visible(p)) true // shadowed committed version
      // subtraction, not addition: the walk-exception fallback is
      // Long.MaxValue ("fresh"), and `MaxValue + staleMs` would wrap
      // negative and judge the live writer stale — the exact bug this
      // clock exists to prevent. `nowMs - MaxValue` stays negative.
      else nowMs - deepestMtimeMs(p) >= staleUncommittedMs
    }.filter { case (v, p) =>
      try {
        if (NioFiles.isDirectory(p)) {
          // fence the number first: even if every delete below fails,
          // no later claim can take this slot
          raiseFloor(dir, v + 1)
          // tombstone → marker delete → walk (see Scaladoc ordering)
          val tomb = p.resolve(Tombstone)
          if (!NioFiles.exists(tomb)) NioFiles.writeString(tomb, "")
          marker.foreach(m => NioFiles.deleteIfExists(p.resolve(m)))
          val walk = NioFiles.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .filter(q => q != p && q != tomb)
            .forEach(q => NioFiles.delete(q))
          finally walk.close()
          NioFiles.delete(tomb)
          NioFiles.delete(p)
        } else NioFiles.deleteIfExists(p)
        true
      } catch { case e: Exception => onDeleteFailure(v, e); false }
    }.map(_._1)
  }

  /** '''Batch-id namespace''' of a batch-directory store version (or
    * epoch): batch 0 is the base a build, compaction or seed writes;
    * every append — ingest, delete, mutation batch, stream micro-batch
    * — writes its own `b=<id>` directory with id ≥ 1, wholesale
    * overwriting on a repeated id. The ids are ONE namespace shared by
    * the manual appends and the stream maintainers, and
    * overwrite-on-collision is deliberate: it is what makes checkpoint
    * REPLAY of a micro-batch exactly-once, so a collision cannot be
    * detected and failed without breaking restart. A maintainer
    * ([[maintain]]) owns the contiguous range `[batchIdBase, ∞)`;
    * manual appends on a stream-maintained version must use ids BELOW
    * `batchIdBase` (attach a stream to a manually maintained version
    * with `batchIdBase = committedBatches(...).max + 1`). Mixing ids
    * across that split silently replaces the other writer's batch.
    */
  def requireAppend(batchId: Long): Unit =
    require(batchId >= 1,
      s"batchId must be >= 1 (0 is the base batch), got $batchId")

  /** A store maintainer over `stream`: `pin` (the version or epoch
    * the stream writes to) is evaluated ONCE, here at construction, so
    * a build, compaction or rotation after the stream starts never
    * retargets it; micro-batch `n` is appended as store batch
    * `batchIdBase + n` of the pinned target ([[requireAppend]]'s
    * namespace; streaming ids start at 0, so the default base of 1
    * starts right after the base batch). foreachBatch is at-least-once
    * and every append overwrites its own directory, so the composition
    * is exactly-once.
    */
  def maintain[P](stream: DataFrame, batchIdBase: Long, pin: => P)(
      append: (DataFrame, P, Long) => Unit): DataStreamWriter[Row] = {
    require(batchIdBase >= 1,
      s"batchIdBase must be >= 1 (0 is the base batch), got $batchIdBase")
    val pinned = pin
    stream.writeStream.foreachBatch { (batch: DataFrame, n: Long) =>
      append(batch, pinned, batchIdBase + n)
    }
  }
}
