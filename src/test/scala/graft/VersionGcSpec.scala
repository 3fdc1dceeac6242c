package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.{TokenizerStore, VersionedSlots}
import graft.operators.AnnIndex
import graft.streaming.EpochStore

/** Explicit GC of shadowed/uncommitted store versions
  * ([[VersionedSlots.gcShadowed]] — `StreamingIndex.pruneShadowed`
  * generalized): shadowed versions are reclaimed, kept versions stay
  * readable for pinned readers, crashed (uncommitted) claims are
  * collected only once stale, and slot numbers are never reused after a
  * sweep.
  */
class VersionGcSpec extends SparkSpec {
  import spark.implicits._

  private def tmp = Files.createTempDirectory("graft_gc").toString

  test("EpochStore.gc reclaims shadowed epochs; the kept epoch is intact") {
    val root = tmp
    val seed = EpochStore.claimNext(root)
    EpochStore.writeBatch(Seq(1, 2, 3).toDF("x"), seed, "t", 0L)
    EpochStore.commit(seed)
    // folds must be idempotent under union-overlap (rotate reads ALL
    // committed epochs so a pinned stream's post-rotation appends are
    // carried forward) — distinct-style, like every production fold
    val fold = (df: org.apache.spark.sql.DataFrame) => df.distinct()
    EpochStore.rotate(spark, root, Seq("t" -> fold))
    EpochStore.rotate(spark, root, Seq("t" -> fold))
    assert(EpochStore.epochs(root) == Seq(0, 1, 2))
    val deleted = EpochStore.gc(root, keepLast = 1)
    assert(deleted == Seq(0, 1))
    assert(EpochStore.epochs(root) == Seq(2))
    // the pinned survivor reads exactly what it held before the sweep
    val kept = EpochStore.current(root)
    assert(EpochStore.readAll(spark, kept, "t")
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // slot numbers are never reused: the next rotation claims 3
    assert(EpochStore.rotate(spark, root, Seq("t" -> fold)).epoch == 3)
  }

  test("EpochStore.gc collects stale crashed claims, spares fresh ones") {
    val root = tmp
    val seed = EpochStore.claimNext(root)
    EpochStore.writeBatch(Seq(1).toDF("x"), seed, "t", 0L)
    EpochStore.commit(seed)
    // a crashed rotation: epoch claimed, tables half-written, no marker
    val crashed = EpochStore.claimNext(root)
    EpochStore.writeBatch(Seq(2).toDF("x"), crashed, "t", 0L)
    assert(EpochStore.epochs(root) == Seq(0), "uncommitted is invisible")
    // fresh (within staleness bound): spared — its writer may be alive
    assert(EpochStore.gc(root, keepLast = 1) == Seq.empty)
    assert(Files.isDirectory(Paths.get(root, s"e=${crashed.epoch}")))
    // stale: collected
    assert(EpochStore.gc(root, keepLast = 1, staleUncommittedMs = 0)
      == Seq(crashed.epoch))
    assert(!Files.exists(Paths.get(root, s"e=${crashed.epoch}")))
    // the committed epoch survives both sweeps
    assert(EpochStore.epochs(root) == Seq(0))
  }

  test("AnnIndex.gcShadowed keeps probe-able versions, collects the rest") {
    val dir = tmp
    val emb = Tables.embeddings(spark, sf())
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    AnnIndex.build(emb, dir, nCentroids = 4)
    val (_, v2) = AnnIndex.build(emb, dir, nCentroids = 8)
    val (_, v3) = AnnIndex.build(emb, dir, nCentroids = 8)
    // a crashed build: slot claimed, model never published
    Files.createDirectory(Paths.get(dir, "v9"))
    val pinnedBefore = AnnIndex.probe(spark, dir, queries, emb, k = 3,
      version = v2).orderBy("q_id", "rank").collect()
    val deleted = AnnIndex.gcShadowed(dir, keepLast = 2,
      staleUncommittedMs = 0)
    assert(deleted == Seq(1, 9))
    assert(AnnIndex.versions(dir) == Seq(v2, v3))
    assert(!Files.exists(Paths.get(dir, "v1")))
    // kept versions answer exactly as before the sweep
    val pinnedAfter = AnnIndex.probe(spark, dir, queries, emb, k = 3,
      version = v2).orderBy("q_id", "rank").collect()
    assert(pinnedAfter.sameElements(pinnedBefore))
    // the next build claims past EVERY number the store has ever issued
    // (the _next claim floor, raised by the sweep): swept v9's number is
    // fenced, so a writer of v9 merely slower than the staleness clock
    // can never share its number with a later build
    val (_, v4) = AnnIndex.build(emb, dir, nCentroids = 4)
    assert(v4 == 10)
    assert(graft.functions.VersionedSlots.claimFloor(dir) == 11)
  }

  test("a slot whose mtime walk throws is judged FRESH, never stale") {
    // the stale-claim clock falls back to Long.MaxValue ("fresh as of
    // forever") when the walk races a writer; the comparison must be
    // overflow-safe — `MaxValue + staleMs` wraps negative and would
    // sweep the live slow writer, the exact bug the clock prevents
    val root = tmp
    val seed = EpochStore.claimNext(root)
    EpochStore.writeBatch(Seq(1).toDF("x"), seed, "t", 0L)
    EpochStore.commit(seed)
    val racing = EpochStore.claimNext(root)
    EpochStore.writeBatch(Seq(2).toDF("x"), racing, "t", 0L)
    // a dangling symlink makes getLastModifiedTime throw mid-walk —
    // the same observable as a file deleted between list and stat
    Files.createSymbolicLink(
      Paths.get(root, s"e=${racing.epoch}", "racing"),
      Paths.get(root, "never_exists"))
    // default 24h staleness bound: the walk-exception slot is spared
    assert(EpochStore.gc(root, keepLast = 1) == Seq.empty)
    assert(Files.isDirectory(Paths.get(root, s"e=${racing.epoch}")))
  }

  test("half-deleted decommission (tombstoned slot) is re-collected " +
      "unconditionally, not after a fresh staleness clock") {
    val root = tmp
    // two committed epochs; keepLast=1 dooms e=0
    val seed = EpochStore.claimNext(root)
    EpochStore.writeBatch(Seq(1).toDF("x"), seed, "t", 0L)
    EpochStore.commit(seed)
    EpochStore.rotate(spark, root, Seq("t" -> identity))
    // simulate a sweep of e=0 that crashed mid-walk: tombstone landed,
    // marker gone, tables still on disk, mtime FRESH (the partial delete
    // refreshed it — exactly the state the old staleness clock missed)
    val doomed = Paths.get(root, "e=0")
    Files.writeString(doomed.resolve("_gc"), "")
    Files.delete(doomed.resolve("_COMMITTED"))
    assert(EpochStore.epochs(root) == Seq(1), "half-deleted is invisible")
    // staleUncommittedMs at the default (24h) — the tombstone alone must
    // drive the re-collect
    assert(EpochStore.gc(root, keepLast = 1) == Seq(0))
    assert(!Files.exists(doomed))
    assert(EpochStore.epochs(root) == Seq(1))
  }

  test("TokenizerStore.gcShadowed sweeps shadowed artifact files") {
    val dir = tmp
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa")).toDF("doc_id", "text")
    val v1 = TokenizerStore.trainAndSave(dir, docs, steps = 2)
    val v2 = TokenizerStore.trainAndSave(dir, docs, steps = 3)
    val v3 = TokenizerStore.trainAndSave(dir, docs, steps = 4)
    assert(TokenizerStore.Slots.gc(dir, keepLast = 2) == Seq(v1))
    assert(TokenizerStore.Slots.versions(dir) == Seq(v2, v3))
    // pinned survivors load; the swept one is gone, not corrupted
    assert(TokenizerStore.get(dir, v2).exists(_.steps == 3))
    assert(TokenizerStore.get(dir, v1).isEmpty)
    // next save claims a fresh number past the swept history
    assert(TokenizerStore.trainAndSave(dir, docs, steps = 2) == v3 + 1)
  }

  test("SQL wire: graft_ann_gc / graft_tok_gc sweep from spark.sql") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val dir = tmp
    val emb = Tables.embeddings(spark, sf())
    AnnIndex.build(emb, dir, nCentroids = 4)
    AnnIndex.build(emb, dir, nCentroids = 4)
    AnnIndex.build(emb, dir, nCentroids = 4)
    assert(spark.sql(s"SELECT graft_ann_gc('$dir', 2)")
      .as[Seq[Int]].head() == Seq(1))
    assert(AnnIndex.versions(dir) == Seq(2, 3))
    val tokDir = tmp
    val docs = Seq((1L, "aa ab aa")).toDF("doc_id", "text")
    TokenizerStore.trainAndSave(tokDir, docs, steps = 2)
    TokenizerStore.trainAndSave(tokDir, docs, steps = 2)
    TokenizerStore.trainAndSave(tokDir, docs, steps = 2)
    assert(spark.sql(s"SELECT graft_tok_gc('$tokDir', 1)")
      .as[Seq[Int]].head() == Seq(1, 2))
    assert(TokenizerStore.Slots.versions(tokDir) == Seq(3))
    // type errors fail analysis, like the rest of the wire surface
    val e = intercept[Exception](
      spark.sql(s"SELECT graft_ann_gc('$dir', 'two')").collect())
    assert(e.getMessage.contains("graft_ann_gc"))
  }

  test("gcShadowed always keeps at least one visible version") {
    val dir = tmp
    val slots = VersionedSlots.Files[Map[String, Int]]("a", "test artifact")
    slots.save(dir)(v => Map("v" -> v))
    assert(slots.gc(dir, keepLast = 0) == Seq.empty)
    assert(slots.versions(dir) == Seq(1))
  }

  import VersionGcSpec.FileStore

  private val fileStores: Seq[FileStore[_ <: AnyRef]] = {
    import graft.functions._
    Seq(
      FileStore[TokenizerStore.Artifact](TokenizerStore.Slots, identity,
        (d, i) => TokenizerStore.save(d, steps = i, minPairCount = 1L,
          merges = Seq.empty, vocab = Seq.empty), _.steps),
      FileStore[EncodingStore.Artifact](EncodingStore.Slots, identity,
        (d, i) => EncodingStore.save(d, Map("jis0208" -> Map(0 -> i))),
        _.indexes("jis0208")("0")),
      FileStore[UnigramStore.Artifact](UnigramStore.Slots, identity,
        (d, i) => UnigramStore.save(d, multiVocab = i, emRounds = 1,
          Unigram.Model(Seq.empty, 1L)), _.multiVocab),
      FileStore[StoplistStore.Artifact](StoplistStore.Slots, identity,
        (d, i) => StoplistStore.save(d, Map("en" -> Seq(s"w$i"))),
        _.lists("en").head.stripPrefix("w").toInt),
      FileStore[LangProfileStore.Artifact](LangProfileStore.Slots, identity,
        (d, i) => LangProfileStore.save(d, Seq("en" -> Seq("a" -> i.toLong))),
        _.profiles.head.weights.head.weight.toInt),
      FileStore[PslStore.Artifact](PslStore.Slots, identity,
        (d, i) => PslStore.save(d, Seq(s"r$i")),
        _.rules.head.stripPrefix("r").toInt),
      FileStore[LibraryStore.Entry](LibraryStore.history("fn"),
        LibraryStore.historyDir,
        (d, i) => LibraryStore.save(d, LibraryStore.Entry("fn", Seq(s"$i"))),
        _.exprs.head.toInt))
  }

  test("every file-slot store: save, pin, reject version 0, ignore " +
    "foreign names through save and gc") {
    def check[A <: AnyRef](st: FileStore[A]): Unit = {
      val root = tmp
      val dir = st.slotDir(root)
      val what = st.slots.what
      val empty = intercept[NoSuchElementException](st.slots.at(dir, -1))
      assert(empty.getMessage.contains(s"no $what versions"), what)
      assert(st.save(root, 1) == 1 && st.save(root, 2) == 2, what)
      assert(st.slots.versions(dir) == Seq(1, 2), what)
      val (v, latest) = st.slots.at(dir, -1)
      assert(v == 2 && st.mark(latest) == 2, what)
      assert(st.mark(st.slots.at(dir, 1)._2) == 1, what)
      val zero = intercept[IllegalArgumentException](st.slots.at(dir, 0))
      assert(zero.getMessage.contains("version 0"), what)
      // a slot number past Int range and a staging sibling are foreign
      val name = st.slots.name
      val huge = Paths.get(dir, s"${name}_v99999999999.json")
      val staging = Paths.get(dir, s".${name}_v3.json123.tmp")
      Files.writeString(huge, "{}")
      Files.writeString(staging, "{}")
      assert(st.slots.versions(dir) == Seq(1, 2), what)
      assert(st.save(root, 3) == 3, what)
      assert(st.slots.gc(dir, keepLast = 1) == Seq(1, 2), what)
      assert(st.slots.versions(dir) == Seq(3), what)
      assert(Files.exists(huge) && Files.exists(staging), what)
      assert(st.slots.get(dir, 1).isEmpty, what)
    }
    fileStores.foreach(st => check(st))
  }

  test("Dirs.pin rejects version 0; negative pins the newest visible") {
    val dir = tmp
    val slots = VersionedSlots.Dirs("m.json", "test index")
    val v = slots.claimNext(dir)
    slots.publish(dir, v, "{}")
    val e = intercept[IllegalArgumentException](slots.pin(dir, 0))
    assert(e.getMessage.contains("version 0"))
    assert(slots.pin(dir, -1) == v && slots.pin(dir, 7) == 7)
  }
}

object VersionGcSpec {

  /** One row per file-slot store: its slots, the directory they live in
    * under a store root, a save of artifact number `i`, and the number
    * read back from a loaded artifact.
    */
  final case class FileStore[A <: AnyRef](
      slots: VersionedSlots.Files[A], slotDir: String => String,
      save: (String, Int) => Int, mark: A => Int)
}
