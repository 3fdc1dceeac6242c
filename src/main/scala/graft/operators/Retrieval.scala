package graft.operators

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.{TextOps, VersionedSlots}
import graft.model.{HashPartition, IndexDef}

/** Index-accelerated BM25 — the retrieval tier composed with the engine's
  * own scalar index: the postings list IS an array index over the token
  * split (one entry per token OCCURRENCE, so tf = entry multiplicity —
  * exactly what [[IndexBuilder]]'s array path emits for `idx_array_words`;
  * the reference's per-`emit()` entry loop is the EMITSTART/EMITEND token
  * decode at `Projector/JSEvaluate.go:62-67`), persisted hash-partitioned
  * by key through [[IndexStore.write]], plus a doc-stats sidecar
  * (docid, dl) for the scorer.
  *
  * '''Segmented, incrementally maintained''' — the [[AnnIndex]] batch
  * pattern applied to postings (search engines call these segments; the
  * reference's delta-maintenance loop is the same idea,
  * `Projector/indexjs.go:123-189`): a version's postings and doc-stats
  * live in per-batch `b=<id>` directories. [[buildBm25Index]] writes the
  * base batch 0; [[ingestBm25]] adds a crawl batch as ITS OWN committed
  * directory (write ∝ batch — standing postings are never rewritten,
  * which matters because a single document's terms scatter across every
  * key partition: in-place maintenance would rewrite the whole index);
  * [[deleteBm25]] writes doc-stats TOMBSTONES (dl = null). A re-crawled
  * doc is an upsert: probes resolve each docid LATEST-BATCH-WINS via the
  * doc-stats sidecar (corpus-bounded, 2 longs/doc — the resolution join
  * every probe already pays for dl), so only the newest batch's postings
  * of a doc score and a winning tombstone removes it entirely.
  * [[compactBm25]] folds all batches into a fresh single-batch version.
  * Batch visibility is the shared `_SUCCESS` rule
  * ([[VersionedSlots.committedBatches]]): retries wholesale-overwrite,
  * at-least-once delivery never duplicates postings.
  *
  * Versioned like every other artifact store ([[VersionedSlots]]): each
  * build claims the next immutable `v<N>/` slot and publishes the
  * `bm25.json` layout marker LAST — a version is visible only when
  * complete, probes pin a version, [[gcShadowed]] sweeps shadowed ones.
  * The marker carries the layout (`nPartitions`), so a probe needs only
  * the store directory — the caller cannot mis-state the hash fan-out.
  *
  * The probe never scans the corpus: the query terms' partition ids are
  * resolved driver-side with the SAME hash the store layout used
  * (literal terms — control-plane math, the [[AnnIndex.probe]] pattern)
  * and applied as a static `part` filter ACROSS every committed batch,
  * so the postings scan reads ONLY the probed directories; within them
  * the pushed `key IN (...)` filter prunes row groups of the key-sorted
  * parquet. At 100 TB a 3-term query touches terms/nPartitions of the
  * postings and none of the documents.
  *
  * Score parity: the per-(doc, term) partial mirrors
  * [[TextOps.bm25TopK]]'s expression structure VERBATIM (same integer
  * inputs, same literal arithmetic, same micro-unit rounding before the
  * order-free long sum), so a probe of a maintained store whose resolved
  * state equals a corpus returns the IDENTICAL rows as the full-scan
  * scorer over that corpus whenever ≥ k documents contain a query term
  * AND every hit doc's score rounds to ≥ 1 micro-unit (a zero-hit doc
  * scores 0 in the full scan but has no postings here — it can surface
  * when hits cannot fill the top-k, OR when a hit doc's partial rounds
  * to 0 micro-units and ties at score 0 with zero-hit docs, where the
  * full scan's doc_id tie-break can admit zero-hit docs the index
  * cannot see; that second case requires idf·1e6 to round to 0, i.e. a
  * term present in essentially every document of a very large corpus).
  */
object Retrieval {

  /** The layout marker: what a probe must know about how the store was
    * written. Published LAST — its presence IS version visibility.
    */
  final case class Bm25Layout(nPartitions: Int)

  private implicit val formats: Formats = DefaultFormats

  /** The version slots: `v<N>/`, visible once `bm25.json` lands. */
  private[graft] val Versions = VersionedSlots.Dirs("bm25.json", "BM25 index")

  private def postingsRoot(dir: String, v: Int) = s"$dir/v$v/postings"
  private def docstatsRoot(dir: String, v: Int) = s"$dir/v$v/docstats"

  /** Visible store versions, ascending (`bm25.json` published last). */
  def versionsOf(dir: String): Seq[Int] = Versions.versions(dir)

  /** The newest visible version, if any. */
  def latestVersion(dir: String): Option[Int] = Versions.latest(dir)

  /** The base + ingested batch ids committed under a version, ascending
    * (the doc-stats sidecar is the authority: every mutation batch —
    * ingest or delete — writes one).
    */
  def committedBatches(dir: String, version: Int): Seq[Long] =
    VersionedSlots.committedBatches(docstatsRoot(dir, version))

  /** Explicit version GC ([[VersionedSlots.gcShadowed]], marker-first
    * decommission). Returns the versions deleted.
    */
  def gcShadowed(dir: String, keepLast: Int = 2): Seq[Int] =
    Versions.gc(dir, keepLast)

  private def bm25Def(idCol: String, nPartitions: Int): IndexDef =
    IndexDef("idx_bm25_postings", "documents", idCol,
      // the SQL twin of TextOps.normTokens — one shared tokenization
      secExprs = Seq("split(lower(trim(text)), '\\\\s+')"),
      isArrayIndex = true,
      partition = HashPartition(Seq("key"), nPartitions))

  private def loadLayout(dir: String, v: Int): Bm25Layout =
    Serialization.read[Bm25Layout](Versions.readMarker(dir, v))

  /** The postings partition a term hashes to — the SAME arithmetic the
    * store layout writes with ([[IndexStore.write]]'s
    * `pmod(hash(key), n)`), evaluated driver-side on the literal
    * Catalyst expressions instead of through a one-row Spark job: probe
    * partition resolution is control-plane math and used to cost one
    * scheduler round-trip per probe. `hash(...)` is `Murmur3Hash` at
    * seed 42 and `pmod` the same catalyst node, so the two can never
    * disagree (pinned in RetrievalSpec against the SQL form).
    */
  private[graft] def termPartition(term: String, nPartitions: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Pmod(new Murmur3Hash(Seq(Literal(term))), Literal(nPartitions))
      .eval(null).asInstanceOf[Int]
  }

  /** A pinned version's layout marker (immutable) — the wire surface's
    * read path (`graft_bm25_layout`).
    */
  def layoutOf(dir: String, version: Int): Bm25Layout =
    loadLayout(dir, version)

  /** One mutation batch's two directories: the postings segment and the
    * doc-stats rows (docid, dl) — shared verbatim by [[buildBm25Index]]
    * (batch 0) and [[ingestBm25]] so the two paths cannot drift.
    *
    * Postings are POSITIONAL — (key, pos, docid), the positional
    * extension of the array-index entry layout (`posexplode` instead of
    * `explode`; tf is still entry multiplicity, so the BM25 scorer is
    * unchanged) — which is what makes [[phraseMatches]] answerable from
    * the index alone. Files sort (key, pos, docid), so the key-prefix
    * row-group pruning is unaffected.
    */
  private def writeBatch(docs: DataFrame, dir: String, v: Int,
                         batchId: Long, textCol: String, idCol: String,
                         nPartitions: Int): Unit = {
    // one row per docid WITHIN the batch, picked deterministically
    // (greatest text digest): a crawl batch re-carrying the same id
    // twice would otherwise sum BOTH copies' tokens into tf while the
    // doc-stats window keeps an arbitrary copy's dl — inflated,
    // run-to-run-unstable scores and a broken n_postings == total_dl
    // invariant. Cross-batch re-carries stay upserts (latest-batch-
    // wins); this pins the WITHIN-batch contract the same way
    // [[AnnIndex.applyMutations]] pins it via seqnoCol.
    val unique = graft.plans.LazyCheckpoint.shared(
      docs.withColumn("__rn", row_number().over(
          Window.partitionBy(expr(idCol))
            .orderBy(md5(col(textCol)).desc)))
        .filter(col("__rn") === 1).drop("__rn"))
    val entries = unique
      .select(expr(idCol).cast("long").as("docid"),
        posexplode(TextOps.normTokens(col(textCol))).as(Seq("pos", "key")))
      .filter(col("key").isNotNull)
      .select(col("key"), col("pos"), col("docid"))
    IndexStore.write(entries, s"${postingsRoot(dir, v)}/b=$batchId",
      bm25Def(idCol, nPartitions))
    unique.select(expr(idCol).cast("long").as("docid"),
        size(TextOps.normTokens(col(textCol))).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"${docstatsRoot(dir, v)}/b=$batchId")
  }

  /** Build the BM25 artifacts as the NEXT immutable version under `dir`:
    * batch-0 `postings/b=0` (the persisted array index, hash-partitioned
    * by key) and `docstats/b=0` (docid, dl). dl equals the doc's
    * postings multiplicity by construction (the split emits every
    * token). Returns the version.
    */
  def buildBm25Index(docs: DataFrame, dir: String,
                     textCol: String = "text", idCol: String = "doc_id",
                     nPartitions: Int = 16): Int = {
    val v = Versions.claimNext(dir)
    writeBatch(docs, dir, v, 0L, textCol, idCol, nPartitions)
    Versions.publish(dir, v, Serialization.write(Bm25Layout(nPartitions)))
    v
  }

  /** Incrementally ingest a crawl batch into a version: the batch's
    * postings land as their own committed `b=<batchId>` segment under
    * the version's frozen layout — write volume ∝ the batch, standing
    * segments untouched. Re-carried docids are UPSERTS (probes resolve
    * latest-batch-wins). Idempotent per batchId: a retry
    * wholesale-overwrites the same directories.
    */
  def ingestBm25(batch: DataFrame, dir: String, batchId: Long,
                 version: Int = -1, textCol: String = "text",
                 idCol: String = "doc_id"): Unit = {
    VersionedSlots.requireAppend(batchId)
    val v = Versions.pin(dir, version)
    writeBatch(batch, dir, v, batchId, textCol, idCol,
      loadLayout(dir, v).nPartitions)
  }

  /** Delete docids from a version — doc-stats TOMBSTONES (dl = null) in
    * the batch's own idempotent directory; a winning tombstone resolves
    * the doc as ABSENT (its standing postings stop scoring without being
    * touched — deletion cost ∝ the delete batch, never the index), a
    * later [[ingestBm25]] of the same doc outranks it. One Spark job.
    *
    * Commit order matches [[writeBatch]]: postings FIRST, doc-stats
    * LAST. The batch's postings directory is committed EMPTY — recreated
    * on the driver through the Hadoop FS API with only a `_SUCCESS`, so
    * batch listings stay uniform (every read passes the postings schema,
    * so a file-less batch directory reads as zero rows). The doc-stats
    * sidecar, written last, is the batch-visibility authority
    * ([[committedBatches]]), so a probe racing this delete — or running
    * after a crash between the two writes — either sees no batch at all
    * (doc-stats not yet committed) or a complete one; it can never see a
    * committed batch whose postings path does not exist.
    */
  def deleteBm25(ids: DataFrame, dir: String, batchId: Long,
                 version: Int = -1, idCol: String = "doc_id"): Unit = {
    VersionedSlots.requireAppend(batchId)
    val v = Versions.pin(dir, version)
    val post = new Path(s"${postingsRoot(dir, v)}/b=$batchId")
    val fs = post.getFileSystem(ids.sparkSession.sessionState.newHadoopConf())
    fs.delete(post, true)
    fs.mkdirs(post)
    fs.create(new Path(post, "_SUCCESS"), true).close()
    ids.select(col(idCol).cast("long").as("docid"),
        lit(null).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"${docstatsRoot(dir, v)}/b=$batchId")
  }

  /** Streaming maintenance of a persisted BM25 version: every arriving
    * micro-batch of (doc_id, text) rows folds in through [[ingestBm25]]
    * — the retrieval-tier counterpart of [[AnnIndex.maintainChangeStream]].
    * The version pin, batch ids and exactly-once delivery are
    * [[VersionedSlots.maintain]]'s — the stream owns
    * `[batchIdBase, ∞)` of the version's batch-id namespace, which it
    * shares with [[ingestBm25]] and [[deleteBm25]]
    * ([[VersionedSlots.requireAppend]]).
    */
  def maintainBm25Stream(stream: DataFrame, dir: String, version: Int,
                         textCol: String = "text",
                         idCol: String = "doc_id",
                         batchIdBase: Long = 1L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    VersionedSlots.maintain(stream, batchIdBase, Versions.pin(dir, version)) {
      (batch, v, b) => ingestBm25(batch, dir, b, v, textCol, idCol)
    }
  }

  private def batchesOf(dir: String, v: Int,
                        asOfBatch: Long = Long.MaxValue): Seq[Long] =
    VersionedSlots.committedUpTo(docstatsRoot(dir, v), asOfBatch,
      s"version $v")

  /** The stored row schemas (partition columns aside). Every read
    * passes them, so no read depends on which batch directories hold
    * data files ([[deleteBm25]] commits file-less postings batches) and
    * none reads a footer or runs a schema-inference job.
    */
  private val PostingsSchema = StructType(Seq(StructField("key", StringType),
    StructField("pos", IntegerType), StructField("docid", LongType)))
  private val DocstatsSchema = StructType(Seq(
    StructField("docid", LongType), StructField("dl", LongType)))

  /** The postings rows of the given batches, `b` and `part` as columns. */
  private def postings(spark: SparkSession, dir: String, v: Int,
                       batches: Seq[Long]): DataFrame =
    graft.plans.StoreReads.batches(spark, postingsRoot(dir, v), batches,
      schema = Some(PostingsSchema))

  /** Postings rows from each doc's WINNING batch only (latest-batch-wins;
    * a tombstoned doc has no live row), joined with the resolved
    * doc-stats (`dl`). `post` keys on docid and carries `b`.
    */
  private def winning(post: DataFrame, live: DataFrame): DataFrame =
    post.join(live, "docid").filter(col("b") === col("__wb"))
      .drop("b", "__wb")

  /** The resolved doc-stats view of a version: each docid's row from its
    * highest committed batch, tombstones dropped — (docid, dl, __wb =
    * winning batch). The latest-wins window runs over the corpus-bounded
    * sidecar (2 longs/doc), never the postings, and is skipped for
    * single-batch versions.
    */
  private def resolvedDocstats(spark: SparkSession, dir: String, v: Int,
                               batches: Seq[Long]): DataFrame = {
    val ds = graft.plans.StoreReads.batches(spark, docstatsRoot(dir, v),
      batches, schema = Some(DocstatsSchema))
    val win =
      if (batches.length <= 1)
        ds.withColumn("__wb", lit(batches.head)).drop("b")
      else ds
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("docid")).orderBy(col("b").desc)))
        .filter(col("__rn") === 1).drop("__rn")
        .withColumn("__wb", col("b")).drop("b")
    win.filter(col("dl").isNotNull)
  }

  /** The shared probe→score pipeline of [[bm25TopKFromIndex]] and
    * [[bm25TopKBatchFromIndex]]: resolve the version, statically prune
    * the postings read to the terms' partitions (the probed ids resolve
    * driver-side with the layout's own hash — one 1-row job over
    * literal terms, control-plane), reduce to winning-batch tf rows
    * (latest-batch-wins; a tombstoned doc has no live row), and score
    * each (doc, term) row with the `TextOps.bm25TopK`-structured partial
    * `__sc` (micro-rounded before the long sum — the cross-engine
    * exactness discipline). `allowed` gates CANDIDATES (a semi-join on
    * the pruned tf rows — ∝ probed candidates, never the corpus) while
    * the term statistics stay corpus-wide. Shared BY REFERENCE: the
    * single-query and batched scorers' parity contract is one piece of
    * arithmetic, not two copies that can drift.
    */
  private def scoredTf(spark: SparkSession, dir: String,
                       terms: Seq[String], k1: Double, b: Double,
                       version: Int, allowed: Option[DataFrame],
                       asOfBatch: Long): DataFrame = {
    val v = Versions.pin(dir, version)
    val nPartitions = loadLayout(dir, v).nPartitions
    // asOfBatch = snapshot isolation for probes racing a streaming
    // retry ([[AnnIndex.probe]]'s contract): a replayed micro-batch
    // overwrites its committed b=N directory wholesale, and a probe
    // that listed b=N before the overwrite would hit FILE_NOT_EXIST
    // mid-scan; capping the batch set at a caller-captured ceiling
    // keeps the probe on directories no retry will touch
    val batches = batchesOf(dir, v, asOfBatch)
    val parts = terms.map(termPartition(_, nPartitions)).distinct.sorted
    val post = postings(spark, dir, v, batches)
      .filter(col("part").isin(parts.map(Integer.valueOf): _*) &&
        col("key").isin(terms: _*))
    // shared lazy checkpoint ([[AnnIndex.stats]]'s barrier) on the
    // RESOLVED doc-stats: dfreq, stats and the main aggregation each
    // run as their own job, and without the barrier each re-scans
    // every docstats batch directory and re-runs the latest-wins
    // window — the probe's hottest redundant work. The pruned
    // postings scan stays UN-checkpointed deliberately: it is cheap
    // (statically pruned to the probed partitions) and checkpointing
    // it would hide the pruning from plan audits (the
    // RetrievalSpec partition-count assertions read the scan node).
    val live = graft.plans.LazyCheckpoint.shared(
      resolvedDocstats(spark, dir, v, batches))
    val tfRaw = post.groupBy("docid", "key", "b")
      .agg(count(lit(1)).as("__tf"))
    val tf = winning(tfRaw, live)
    val dfreq = tf.groupBy("key").agg(count(lit(1)).cast("long").as("__df"))
    val stats = live.agg(count(lit(1)).cast("long").as("__n"),
      sum("dl").as("__tot"))
    val tfD = col("__tf").cast("double")
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val avgdl = col("__tot").cast("double") / col("__n")
    val partial = round(idf * (tfD * lit(k1 + 1)) /
      (tfD + lit(k1) * (lit(1 - b) + lit(b) * (col("dl") / avgdl))) *
      lit(1e6)).cast("long")
    allowed.fold(tf)(ids => tf.join(
        ids.select(col(ids.columns.head).as("docid")), Seq("docid"),
        "left_semi"))
      .join(broadcast(dfreq), "key")
      .crossJoin(broadcast(stats))
      .withColumn("__sc", partial)
  }

  /** Top-k BM25 over a pinned version's postings: (doc_id, n_hit,
    * score_micro, rk) — the same output contract as
    * [[TextOps.bm25TopK]], computed from the store alone (the layout
    * comes from the version's own marker, never from the caller).
    * Multi-batch versions resolve upserts/deletes latest-batch-wins via
    * the doc-stats sidecar.
    *
    * `allowed` (optional): the metadata-constrained query — top-k among
    * the docids in the one-column frame only. Corpus statistics (N,
    * Σdl, df) stay CORPUS-WIDE — the standard engine semantics: a
    * tenant/date filter restricts which documents may answer, not what
    * the terms mean — so an allowed doc's score is identical with or
    * without the filter, and the filter applies to scored candidates
    * BEFORE the top-k (every allowed candidate is scored; selectivity
    * cannot starve the k slots).
    */
  def bm25TopKFromIndex(spark: SparkSession, dir: String,
                        terms: Seq[String], k: Int,
                        k1: Double = 1.2, b: Double = 0.75,
                        version: Int = -1,
                        allowed: Option[DataFrame] = None,
                        asOfBatch: Long = Long.MaxValue): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(terms.distinct == terms, "query terms must be distinct")
    require(k >= 1, "k must be >= 1")
    val scored = scoredTf(spark, dir, terms, k1, b, version, allowed,
        asOfBatch)
      .groupBy("docid")
      .agg(count(lit(1)).cast("int").as("n_hit"),
        sum("__sc").as("score_micro"))
    val top = scored
      .orderBy(col("score_micro").desc, col("docid").asc).limit(k)
    top.select(col("docid").as("doc_id"), col("n_hit"), col("score_micro"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id").asc)))
  }

  /** BATCHED multi-query BM25 from the postings — the retrieval-eval /
    * RAG shape: a whole query table answered in ONE pass over the
    * pruned postings. Term statistics (tf, df, dl) are computed once
    * and shared by every query referencing the term; the query side
    * joins in by key (broadcast — probe batches are control-plane-sized
    * by nature, the [[AnnIndex.probe]] premise, and their distinct
    * terms resolve the partition pruning driver-side); ranking is one
    * window per (q_id). Latest-batch-wins resolution and score
    * arithmetic are shared verbatim with [[bm25TopKFromIndex]].
    *
    * `queries`: (q_id, terms array<string>) — duplicate terms within a
    * query are counted once. Output: (q_id, doc_id, n_hit, score_micro,
    * rk ≤ k), queries with zero hits emit no rows.
    */
  def bm25TopKBatchFromIndex(spark: SparkSession, dir: String,
                             queries: DataFrame, k: Int,
                             k1: Double = 1.2, b: Double = 0.75,
                             version: Int = -1,
                             allowed: Option[DataFrame] = None,
                             asOfBatch: Long = Long.MaxValue): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // lazy checkpoint BEFORE the driver-side collect ([[AnnIndex.probe]]
    // discipline): the frame is evaluated once here and re-joined below —
    // a non-deterministic queries source must not yield a second term
    // set whose extras silently score zero outside the pruned scan
    val qterms = graft.plans.LazyCheckpoint.shared(queries
      .select(col("q_id"), explode(col("terms")).as("key")).distinct())
    val terms = qterms.select("key").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    // an all-semantic micro-batch (no lexical terms anywhere) is a
    // VALID batch with an empty lexical leg, not an error — a require
    // here would kill a long-lived serving stream on its first
    // terms-free batch
    if (terms.isEmpty)
      return queries.select(col("q_id"),
        lit(0L).as("doc_id"), lit(0).cast("int").as("n_hit"),
        lit(0L).as("score_micro"), lit(0).cast("int").as("rk")).limit(0)
    // [[bm25TopKFromIndex]]'s pre-filter semantics, per query
    val scored = scoredTf(spark, dir, terms, k1, b, version, allowed,
        asOfBatch)
      .join(broadcast(qterms), "key") // fan out per referencing query
      .groupBy("q_id", "docid")
      .agg(count(lit(1)).cast("int").as("n_hit"),
        sum("__sc").as("score_micro"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score_micro").desc, col("docid").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("docid").as("doc_id"), col("n_hit"),
        col("score_micro"), col("rk"))
  }

  /** Exact-PHRASE search from the positional postings alone: docs where
    * `phrase`'s tokens appear ADJACENT, with the number of starting
    * positions — (doc_id, n_matches). Each term's pruned postings leg
    * normalizes to a candidate START (`pos − i`); the phrase is the
    * n-way equi-join of the legs on (docid, start) — candidates only,
    * never the corpus, with the same static partition pruning and
    * latest-batch-wins resolution as the BM25 probe (a stale batch's
    * text can never phrase-match). This is why the postings carry
    * positions: adjacency is unanswerable from (key, docid) alone.
    */
  def phraseMatches(spark: SparkSession, dir: String, phrase: Seq[String],
                    version: Int = -1): DataFrame = {
    require(phrase.length >= 2, "a phrase needs at least two tokens")
    val v = Versions.pin(dir, version)
    val nPartitions = loadLayout(dir, v).nPartitions
    val batches = batchesOf(dir, v)
    val uniq = phrase.distinct
    val parts = uniq.map(termPartition(_, nPartitions)).distinct.sorted
    val post = postings(spark, dir, v, batches)
      .filter(col("part").isin(parts.map(Integer.valueOf): _*) &&
        col("key").isin(uniq: _*))
    val resolved = winning(post, resolvedDocstats(spark, dir, v, batches))
      .select("key", "pos", "docid")
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      resolved.filter(col("key") === t)
        .select(col("docid"), (col("pos") - i).as("__start"))
    }
    legs.reduce(_.join(_, Seq("docid", "__start")))
      .groupBy("docid")
      .agg(count(lit(1)).as("n_matches"))
      .select(col("docid").as("doc_id"), col("n_matches"))
  }

  /** Store STATISTICS for a pinned version — the retrieval tier's
    * [[IndexScan.statistics]] analog, computed from the store alone
    * over the RESOLVED state (latest-batch-wins, tombstones dropped):
    * (n_docs, total_dl, n_terms, n_postings). This is a maintenance
    * operation — the full postings scan is the point (sizing, skew and
    * integrity visibility), not a probe. `n_postings == total_dl` BY
    * CONSTRUCTION (postings hold one entry per token occurrence and dl
    * counts the same split), so the pair is a store-integrity check an
    * operator can alert on: inequality means a corrupt or
    * half-committed batch.
    */
  def bm25Stats(spark: SparkSession, dir: String,
                version: Int = -1): DataFrame = {
    val v = Versions.pin(dir, version)
    val batches = batchesOf(dir, v)
    val live = resolvedDocstats(spark, dir, v, batches)
    winning(postings(spark, dir, v, batches), live).agg(
        count_distinct(col("key")).cast("long").as("n_terms"),
        count(lit(1)).cast("long").as("n_postings"))
      .crossJoin(broadcast(live.agg(
        count(lit(1)).cast("long").as("n_docs"),
        // coalesce: a validly EMPTIED store (every doc tombstoned) must
        // report 0, not null — null would also break the documented
        // n_postings == total_dl integrity check
        coalesce(sum("dl"), lit(0L)).cast("long").as("total_dl"))))
      .select("n_docs", "total_dl", "n_terms", "n_postings")
  }

  /** Fold a version's committed batches into a single-batch NEW version:
    * latest-batch-wins over every docid (shadowed re-crawled postings
    * dropped; tombstoned docs dropped entirely, tombstones included —
    * the fold is where deletions stop costing anything), written as the
    * new version's `b=0` under the SAME layout (marker copied). The
    * source version stays intact for pinned probes. Fold cost ∝ live
    * postings. Returns the new version.
    */
  def compactBm25(spark: SparkSession, dir: String, version: Int = -1): Int = {
    val v = Versions.pin(dir, version)
    val layout = loadLayout(dir, v)
    val batches = batchesOf(dir, v)
    val live = resolvedDocstats(spark, dir, v, batches)
    val folded = winning(postings(spark, dir, v, batches), live)
      .select("key", "pos", "docid")
    val nv = Versions.claimNext(dir)
    IndexStore.write(folded, s"${postingsRoot(dir, nv)}/b=0",
      bm25Def("docid", layout.nPartitions))
    live.select("docid", "dl")
      .write.mode("overwrite").parquet(s"${docstatsRoot(dir, nv)}/b=0")
    Versions.publish(dir, nv, Versions.readMarker(dir, v))
    nv
  }

  /** Reciprocal-rank fusion of two ranked lists — the hybrid-retrieval
    * combiner (BM25 relevance × a quality/semantic prior):
    * `score(d) = Σ 1/(c + rank_i(d))` over the lists containing `d`
    * (absent ⇒ contributes 0), the standard RRF with `c = 60`.
    * Inputs are (idCol, rankCol) frames — shortlist-sized by
    * construction (top-N each), so the full-outer join is control-plane
    * work regardless of corpus size. The fused score is nano-rounded to
    * a long BEFORE ranking (integer denominators and a fixed a+b
    * order, so both engines compute the identical double → identical
    * long), ties break on the id. Output: (idCol, rrf_nano, rankCol).
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60,
              idCol: String = "doc_id", rankCol: String = "rk",
              outCol: String = "rrf_nano"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ra = a.select(col(idCol), col(rankCol).as("__ra"))
    val rb = b.select(col(idCol), col(rankCol).as("__rb"))
    def contrib(r: org.apache.spark.sql.Column) =
      when(r.isNotNull, lit(1.0) / (lit(c) + r)).otherwise(lit(0.0))
    val fused = ra.join(rb, Seq(idCol), "full_outer")
      .withColumn(outCol,
        round((contrib(col("__ra")) + contrib(col("__rb"))) * lit(1e9))
          .cast("long"))
    fused.orderBy(col(outCol).desc, col(idCol).asc).limit(k)
      .select(col(idCol), col(outCol))
      .withColumn(rankCol, row_number().over(
        Window.orderBy(col(outCol).desc, col(idCol).asc)))
  }

  /** BATCHED reciprocal-rank fusion: [[rrfFuse]] per query group in ONE
    * pass — inputs are (qCol, idCol, rankCol) frames (each query's
    * shortlist, ≤ N·kLeg rows total), the full-outer join runs on
    * (qCol, idCol), and ranking is one window partitioned by the query.
    * Same integer nano-rounding and fixed a+b order as the single-query
    * form, so batched fusion is hash-comparable wherever it is.
    */
  def rrfFuseBatch(a: DataFrame, b: DataFrame, k: Int, c: Int = 60,
                   qCol: String = "q_id", idCol: String = "doc_id",
                   rankCol: String = "rk",
                   outCol: String = "rrf_nano"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ra = a.select(col(qCol), col(idCol), col(rankCol).as("__ra"))
    val rb = b.select(col(qCol), col(idCol), col(rankCol).as("__rb"))
    def contrib(r: org.apache.spark.sql.Column) =
      when(r.isNotNull, lit(1.0) / (lit(c) + r)).otherwise(lit(0.0))
    val w = Window.partitionBy(col(qCol))
      .orderBy(col(outCol).desc, col(idCol).asc)
    ra.join(rb, Seq(qCol, idCol), "full_outer")
      .withColumn(outCol,
        round((contrib(col("__ra")) + contrib(col("__rb"))) * lit(1e9))
          .cast("long"))
      .withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
      .select(col(qCol), col(idCol), col(outCol), col(rankCol))
  }

  /** HYBRID retrieval — the query shape both index tiers exist to serve
    * (lexical recall × semantic recall, the RAG retrieval stack): the
    * BM25 postings probe ([[bm25TopKFromIndex]]) and the persisted ANN
    * probe ([[AnnIndex.probe]]) answer the SAME information need over
    * the same corpus (query terms + the query's embedding), each
    * touching only ITS pruned slice — probed postings partitions on the
    * lexical side, probed cluster directories (+ the tombstone
    * partition) on the semantic side — and the two shortlists fuse with
    * [[rrfFuse]]. Neither leg ever scans the corpus; the fusion join is
    * shortlist-sized (≤ 2·kLeg rows) regardless of corpus size.
    *
    * `queryVec` is a single-query (q_id, q_vec) frame; `corpus` supplies
    * true vectors for the ANN re-rank shortlist only. Output:
    * (doc_id, rrf_nano, rk ≤ k) — [[rrfFuse]]'s integer contract, so
    * hybrid results are hash-comparable across engines whenever both
    * legs are (the BM25 leg's parity contract is [[bm25TopKFromIndex]]'s;
    * the ANN leg equals the exact cosine top-kLeg whenever the true
    * top-kLeg survives the ADC shortlist — guaranteed when
    * `kLeg·rerank ≥` the probed candidate count, the parity
    * configuration `text_hybrid_search` runs for its row-level oracle;
    * production probes keep the default pruned settings and trade that
    * guarantee for probe cost ∝ probed clusters).
    */
  /** `allowed` (optional): restrict BOTH legs to one id set — the
    * tenant-/collection-scoped hybrid query. Each leg applies its own
    * pre-filter semantics ([[bm25TopKFromIndex]]: corpus-wide stats,
    * allowed candidates only; [[AnnIndex.probe]]: allowed candidates
    * before the shortlist window), so each leg's top-kLeg is genuinely
    * the best ALLOWED kLeg and fusion never ranks a disallowed doc.
    * The frame's single column is renamed per leg, so any id column
    * name works.
    */
  def hybridSearch(spark: SparkSession, bm25Dir: String, annDir: String,
                   terms: Seq[String], queryVec: DataFrame,
                   corpus: DataFrame, k: Int, kLeg: Int = 20,
                   nprobe: Int = 4, rerank: Int = 16,
                   bm25Version: Int = -1, annVersion: Int = -1,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   allowed: Option[DataFrame] = None): DataFrame = {
    val bm = bm25TopKFromIndex(spark, bm25Dir, terms, kLeg,
        version = bm25Version, allowed = allowed)
      .select(col("doc_id"), col("rk"))
    val ann = AnnIndex.probe(spark, annDir, queryVec, corpus, kLeg,
        nprobe = nprobe, rerank = rerank, idCol = idCol, vecCol = vecCol,
        version = annVersion, allowed = allowed.map(_.toDF(idCol)))
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("int").as("rk"))
    rrfFuse(bm, ann, k)
  }

  /** BATCHED hybrid retrieval — the retrieval-eval / RAG-corpus shape:
    * a whole query table, each row carrying its lexical terms AND its
    * embedding (`q_id`, `terms` array<string>, `q_vec`), answered with
    * ONE pass over the pruned postings ([[bm25TopKBatchFromIndex]] —
    * term statistics computed once, shared by every query) and ONE pass
    * over the probed ANN clusters ([[AnnIndex.probe]] batches queries
    * natively), fused per query by [[rrfFuseBatch]]. N queries cost two
    * index passes, not 2·N; the fusion join is ≤ 2·N·kLeg rows. Output:
    * (q_id, doc_id, rrf_nano, rk ≤ k). The per-leg parity contracts are
    * [[hybridSearch]]'s, applied per query.
    */
  /** `allowed` (optional): restrict BOTH legs to one id set, per query —
    * [[hybridSearch]]'s tenant-scoped contract applied to the batch:
    * each leg's pre-filter semantics make its per-query top-kLeg
    * genuinely the best ALLOWED kLeg, so fusion never ranks a
    * disallowed doc and selectivity cannot starve either leg.
    *
    * Query ids must NOT collide with corpus ids: the ANN leg excludes
    * the candidate whose id equals `q_id` ([[AnnIndex.probe]]'s
    * self-exclusion contract), so a query sharing doc N's id can never
    * retrieve doc N through that leg — remap query ids (the SQL wire
    * uses negatives) when they live in the corpus id space.
    */
  def hybridSearchBatch(spark: SparkSession, bm25Dir: String,
                        annDir: String, queries: DataFrame,
                        corpus: DataFrame, k: Int, kLeg: Int = 20,
                        nprobe: Int = 4, rerank: Int = 16,
                        bm25Version: Int = -1, annVersion: Int = -1,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        allowed: Option[DataFrame] = None,
                        bm25AsOf: Long = Long.MaxValue,
                        annAsOf: Long = Long.MaxValue): DataFrame = {
    val bm = bm25TopKBatchFromIndex(spark, bm25Dir,
        queries.select("q_id", "terms"), kLeg, version = bm25Version,
        allowed = allowed, asOfBatch = bm25AsOf)
      .select(col("q_id"), col("doc_id"), col("rk"))
    val ann = AnnIndex.probe(spark, annDir,
        queries.select("q_id", "q_vec"), corpus, kLeg,
        nprobe = nprobe, rerank = rerank, idCol = idCol, vecCol = vecCol,
        version = annVersion, allowed = allowed.map(_.toDF(idCol)),
        asOfBatch = annAsOf)
      .select(col("q_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("int").as("rk"))
    rrfFuseBatch(bm, ann, k)
  }

  /** STREAMING hybrid retrieval — the serving loop of
    * [[hybridSearchBatch]]: a continuous query stream (`q_id`, `terms`,
    * `q_vec` — arriving information needs) is answered per micro-batch
    * with the same two pruned index passes (ONE postings probe + ONE
    * codes probe per batch, however many queries it carries) and the
    * fused (q_id, doc_id, rrf_nano, rk) frame handed to `sink`. Since
    * the stores are read-only to this stream, the micro-batch split is
    * a delivery detail: streamed answers ≡ the one-shot
    * [[hybridSearchBatch]] of all queries, whatever the batching —
    * there is no cross-query state, so the equivalence is structural,
    * not a tuning fact. Both index versions are pinned ONCE at stream
    * construction (a concurrent build/compact/retrain must not flip
    * the serving index mid-stream — the
    * [[graft.operators.AnnIndex.probe]] version-pinning contract,
    * applied to a long-lived reader); per-batch cost is ∝ the batch's
    * probed slices, never the corpus. `sink` owns delivery semantics —
    * an idempotent per-batch write makes at-least-once exactly-once,
    * like every store maintainer in this repo.
    */
  def hybridSearchStream(spark: SparkSession, bm25Dir: String,
                         annDir: String, stream: DataFrame,
                         corpus: DataFrame,
                         sink: (DataFrame, Long) => Unit,
                         k: Int, kLeg: Int = 20,
                         nprobe: Int = 4, rerank: Int = 16,
                         bm25Version: Int = -1, annVersion: Int = -1,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val bv = Versions.pin(bm25Dir, bm25Version)
    val av = AnnIndex.Versions.pin(annDir, annVersion)
    // snapshot ceilings captured at CONSTRUCTION alongside the version
    // pins: a probe must never list a batch directory a concurrent
    // maintainer's retry could overwrite mid-scan (the
    // [[AnnIndex.probe]] asOfBatch contract, applied to both legs)
    // foldLeft, not .max: a version with ZERO committed batches is a
    // legal (empty) snapshot — ceiling 0 probes nothing, exactly like
    // the ANN leg below; .max would throw an unnamed 'empty.max' at
    // stream construction.
    val bmAsOf = committedBatches(bm25Dir, bv).foldLeft(0L)(math.max)
    val annAsOf = AnnIndex.committedBatches(annDir, av)
      .foldLeft(0L)(math.max)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(hybridSearchBatch(spark, bm25Dir, annDir, batch, corpus,
        k, kLeg, nprobe, rerank, bv, av, idCol, vecCol,
        bm25AsOf = bmAsOf, annAsOf = annAsOf), batchId)
    }
  }
}
