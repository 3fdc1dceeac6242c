package graft.operators

import scala.jdk.CollectionConverters._

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, InterpretedOrdering, Literal, SortOrder}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType, DoubleType, IntegerType, LongType, MapType, StructField, StructType}

import graft.functions.{VectorOps, VersionedSlots}

/** Persisted IVF-PQ ANN index — build ONCE, probe many times, ingest
  * incrementally: the production shape of the similarity tier, closing
  * the same train-per-query gap [[graft.functions.TokenizerStore]]
  * closes for the tokenizer. `sim_ann_ivf_pq` re-runs k-means and PQ
  * codebook training on every call; a real ANN service trains at index
  * creation, persists, and every probe batch loads the frozen artifacts
  * while arriving vectors fold in through [[ingest]].
  *
  * Two artifacts, stored by what they are:
  *  - **Model** (fine/coarse centroids, cluster membership, PQ
  *    codebooks): control-plane-sized (nCentroids×dim + m×k×(dim/m)
  *    doubles regardless of corpus size) → one JSON file, like the
  *    tokenizer's merges. Round-trips exactly: Jackson emits
  *    shortest-round-trip doubles, so a probe against the loaded model
  *    is bit-identical to one against training memory
  *    ([[AnnIndexSpec]] pins it; the oracled `sim_ann_persisted` query's
  *    recall gate re-proves it on real data).
  *  - **Codes table** (one row per corpus vector: id, cluster, m-byte PQ
  *    codes, norm — NO vectors): data-plane → parquet via the index
  *    store layout, DIRECTORY-PARTITIONED by cluster id, one ingest
  *    batch per `b=<N>` directory (below). A probe batch resolves its
  *    `nprobe` clusters driver-side from the model (the routing
  *    expression is control-plane math) and reads ONLY those partitions
  *    — at 100 TB a probe scans `nprobe/nCentroids` of the codes, and
  *    the codes are already ~16×+ smaller than the vectors.
  *
  * '''Incremental maintenance''' — the engine's defining capability
  * (reference `Projector/indexjs.go:123-189` routes a mutation stream
  * into a standing index; [[graft.streaming.StreamingIndex.maintain]]
  * is the scalar-index form): [[ingest]] encodes an arriving batch with
  * the FROZEN model (routing + `pqEncode` are scan expressions — no
  * retraining, no rewrite of standing codes) and writes it as
  * `codes/b=<batchId>/c_id=<c>/`, wholesale-overwriting ITS OWN batch
  * directory only. A batch directory is committed by its parquet
  * `_SUCCESS`; a retried batch rewrites `b=<id>` from scratch, so
  * at-least-once delivery (foreachBatch, [[maintainStream]]) never
  * duplicates rows — the `v=<batch>` idempotence pattern of
  * [[graft.streaming.StreamingIndex]]. Re-embedded ids are UPSERTS:
  * [[probe]] reads every committed batch directory under the pinned
  * version with the same static cluster-partition filter and resolves
  * each id latest-batch-wins, so probes are oblivious to how the corpus
  * arrived; [[compact]] folds the shadowed rows away into a fresh
  * single-batch version under the same frozen model.
  *
  * Versioned via [[VersionedSlots]] (the shared slot-claiming helper):
  * each [[build]] claims the next immutable `v<N>/` directory slot and
  * publishes `model.json` LAST and atomically, so a version is visible
  * only when complete — re-indexing a corpus snapshot never disturbs
  * probes against the previous index.
  *
  * Exact re-rank still needs true vectors for shortlist rows; [[probe]]
  * takes the corpus frame for that one scan, filtered to the shortlist
  * ids.
  */
object AnnIndex {

  /** The control-plane artifact. Arrays are stored as nested lists;
    * `members` is the two-level routing's fine-membership table (empty =
    * single-level).
    */
  final case class Model(
      m: Int,
      codebookK: Int,
      coarseProbes: Int,
      fine: Seq[Seq[Double]],
      coarse: Seq[Seq[Double]],
      members: Seq[Seq[Int]],
      codebooks: Seq[Seq[Seq[Double]]],
      // Option so models serialized before the field existed load as
      // None (= plain codes) — json4s fills absent Options, no default-
      // parameter support needed
      residual: Option[Boolean] = None) {
    def fineArr: Seq[Array[Double]] = fine.map(_.toArray)
    def coarseArr: Seq[Array[Double]] = coarse.map(_.toArray)
    def codebookArr: Seq[Seq[Array[Double]]] =
      codebooks.map(_.map(_.toArray))
    /** Codes quantize `v − c(v)` ([[Similarity.ivfPqResidualTopK]]'s
      * layout) instead of `v`; probes add the exact `q·c` bias.
      */
    def isResidual: Boolean = residual.contains(true)
  }

  private implicit val formats: Formats = DefaultFormats

  /** The version slots: `v<N>/`, visible once `model.json` lands. */
  private[graft] val Versions = VersionedSlots.Dirs("model.json", "ANN index")

  private def codesRoot(dir: String, v: Int) = s"$dir/v$v/codes"

  /** The given committed batches of a version's codes table, `b`/`c_id`
    * as partition columns, schema from a footer instead of a Spark job
    * ([[graft.plans.StoreReads]]).
    */
  private def readCodes(spark: SparkSession, dir: String, v: Int,
                        batches: Seq[Long]): DataFrame =
    graft.plans.StoreReads.batches(spark, codesRoot(dir, v), batches)

  /** Versions present in the store, ascending. A version EXISTS only
    * once its `model.json` does — the model is published LAST (and
    * atomically) in [[build]], so a half-written codes table is never
    * visible as a version.
    */
  def versions(dir: String): Seq[Int] = Versions.versions(dir)

  /** The base + ingested batch ids committed under a version's codes
    * table, ascending ([[VersionedSlots.committedBatches]] — the shared
    * visibility rule: a batch exists iff its parquet `_SUCCESS` does, so
    * an interrupted ingest is invisible until its idempotent retry
    * rewrites the directory). Driver-side listing, O(batches) — the
    * analog of [[graft.streaming.StreamingIndex]]'s committed-version
    * resolution.
    */
  def committedBatches(dir: String, version: Int): Seq[Long] =
    VersionedSlots.committedBatches(codesRoot(dir, version))

  private def batchesOf(dir: String, v: Int,
                        asOfBatch: Long = Long.MaxValue): Seq[Long] =
    VersionedSlots.committedUpTo(codesRoot(dir, v), asOfBatch,
      s"version $v codes table")

  /** The codes rows for `corpus` under `model`: (id, cluster id, PQ
    * codes, norm) — frozen-model scan expressions, shared verbatim by
    * [[build]] (base batch) and [[ingest]] (incremental batches) so the
    * two paths cannot drift.
    */
  /** `v − c(v)` for a routed row, with the fine-centroid table as an
    * expression literal — the residual the codes quantize when
    * [[Model.isResidual]] (shared by [[encodeFrame]] and the mixed-
    * mutation path so they cannot drift).
    */
  private def residualCol(model: Model)(v: Column, cId: Column): Column =
    zip_with(v.cast("array<double>"), element_at(typedlit(model.fine), cId + 1),
      (a, b) => a - b)

  private def encodeFrame(corpus: DataFrame, model: Model,
                          idCol: String, vecCol: String): DataFrame = {
    val routed = corpus.withColumn("__c",
      route(model)(col(vecCol), 1).getItem(0))
    val target =
      if (model.isResidual) residualCol(model)(col(vecCol), col("__c"))
      else col(vecCol)
    routed.select(col(idCol), col("__c").as("c_id"),
      VectorOps.pqEncode(target, model.codebookArr).as("codes"),
      VectorOps.norm(col(vecCol)).as("nrm"))
  }

  private def writeBatch(codes: DataFrame, dir: String, version: Int,
                         batchId: Long): Unit = {
    val root = s"${codesRoot(dir, version)}/b=$batchId"
    codes.repartition(col("c_id"))
      .write.mode("overwrite").partitionBy("c_id")
      .parquet(root)
    // an empty batch's schema file goes under the reserved tombstone
    // partition, where a 0-row file is semantically invisible
    IndexStore.plantIfEmpty(codes.drop("c_id"), root, "c_id", TombstoneCluster)
  }

  /** Train the IVF routing + PQ codebooks on `corpus` and persist both
    * artifacts as the NEXT immutable version under `dir` (slot claimed
    * via [[VersionedSlots.claimDir]]; a pinned version never drifts,
    * re-builds never clobber). Same defaults and training routines as
    * [[Similarity.ivfPqTopK]] — the persisted index IS that query's
    * index, written down. The corpus codes land as batch `b=0`;
    * [[ingest]] adds `b>=1`. Returns (model, version).
    *
    * `residual = true` persists the [[Similarity.ivfPqResidualTopK]]
    * layout: codebooks train on `v − c(v)` and every code in the store
    * quantizes the residual; the flag lives in the model so
    * [[ingest]]/[[applyMutations]]/[[compact]]/[[probe]] all honor it
    * from the frozen artifact alone.
    */
  def build(corpus: DataFrame, dir: String,
            nCentroids: Int = 16, kmeansIters: Int = 2,
            m: Int = 16, codebookK: Int = 32,
            idCol: String = "vec_id", vecCol: String = "embedding",
            twoLevelThreshold: Int = 64, coarseProbes: Int = 2,
            residual: Boolean = false,
            seedByHash: Boolean = false): (Model, Int) = {
    // ONE TakeOrdered pass serves BOTH control-plane samples of a cold
    // build: the k-means seeds are the first nCentroids rows by id and
    // the PQ training sample the first PqSampleN rows by id — the seed
    // rows are a PREFIX of the PQ sample, so a single ordered collect
    // feeds both (one scheduler round-trip instead of two, across every
    // bench lifecycle build). Hash-seeded (retrain) and residual builds
    // keep separate passes: hash order is a different TakeOrdered, and
    // residual codebooks train on v − c(v), which needs the trained
    // centroids first.
    val fusedSample: Option[Array[Array[Double]]] =
      if (seedByHash || residual) None
      else Some(corpus.orderBy(col(idCol))
        .limit(math.max(nCentroids, Similarity.PqSampleN))
        .select(col(vecCol).cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray))
    val fine = Similarity.collectCentroids(corpus, nCentroids, kmeansIters,
      idCol, vecCol, seedByHash = seedByHash,
      seedsOpt = fusedSample.map(_.take(nCentroids)))
    val (coarse, members): (Seq[Array[Double]], Seq[Seq[Int]]) =
      if (fine.length > twoLevelThreshold) {
        val (c, mm) = Similarity.coarsen(fine,
          math.round(math.sqrt(fine.length)).toInt)
        (c.toSeq, mm.map(_.toSeq).toSeq)
      } else (Nil, Nil)
    // residual mode trains the codebooks on `v − c(v)` (routed against
    // the just-trained fine centroids); the corpus frame for training is
    // a pure expression either way
    val fineLit = typedlit(fine.map(_.toSeq).toSeq)
    val trainFrame =
      if (!residual) corpus
      else corpus.select(col(idCol),
        zip_with(col(vecCol).cast("array<double>"),
          element_at(fineLit,
            VectorOps.nearestCentroids(col(vecCol), fine.toSeq,
              coarse, members, 1, coarseProbes).getItem(0) + 1),
          (a, b) => a - b).as(vecCol))
    val codebooks = fusedSample match {
      case Some(sm) => Similarity.trainPqCodebooksOn(
        sm.take(Similarity.PqSampleN), m, codebookK)
      case None => Similarity.trainPqCodebooks(trainFrame, m, codebookK,
        idCol = idCol, vecCol = vecCol)
    }
    val model = Model(m, codebookK, coarseProbes,
      fine.map(_.toSeq).toSeq, coarse.map(_.toSeq), members,
      codebooks.map(_.map(_.toSeq)),
      residual = if (residual) Some(true) else None)
    // claim the next version slot atomically (losers retry the next
    // number) — occupied-but-invisible slots are skipped past too
    val v = Versions.claimNext(dir)
    // the stored index rows: codes + norm only, partitioned by cluster —
    // a probe reads nprobe cluster directories, never the whole table.
    // The model JSON lands LAST and atomically: its presence is what
    // makes the version visible.
    writeBatch(encodeFrame(corpus, model, idCol, vecCol), dir, v, 0L)
    Versions.publish(dir, v, Serialization.write(model))
    (model, v)
  }

  /** Incrementally ingest `batch` into a version's codes table: encode
    * with the FROZEN model (no retraining — arriving vectors route and
    * quantize through pure scan expressions) and write the rows as the
    * batch's own committed directory `codes/b=<batchId>`. Idempotent per
    * `batchId`: a retry wholesale-overwrites the same directory, so
    * at-least-once delivery never duplicates index rows. Standing codes
    * are never rewritten — per-batch write volume ∝ the batch, not the
    * index. `batchId` must be ≥ 1 (0 is the build's base batch) and
    * unique per ingested batch under one version; [[maintainStream]]
    * derives it from the streaming micro-batch id.
    *
    * '''Upserts are first-class''': a batch may re-carry an existing id
    * with a new vector (a re-embedding — the reference's defining loop
    * routes upserts into a standing index, `Projector/indexjs.go:123-189`,
    * and [[graft.operators.IndexMaintainer]] is the scalar-index form).
    * [[probe]] resolves multiplicity LATEST-BATCH-WINS: within the probed
    * partitions each id answers once, from its highest committed batch.
    * One documented approximation bound: if a re-embedded vector ROUTES to
    * a different cluster, the old row still sits in its old cluster's
    * directory and can surface as a stale CANDIDATE when only the old
    * cluster is probed — harmless to scores (the exact re-rank reads true
    * vectors from `corpus`, so a stale candidate scores with the CURRENT
    * vector) and folded away entirely by [[compact]], which is also when
    * shadowed same-cluster rows stop being scanned at all.
    */
  def ingest(batch: DataFrame, dir: String, batchId: Long,
             version: Int = -1,
             idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    VersionedSlots.requireAppend(batchId)
    val v = Versions.pin(dir, version)
    writeBatch(encodeFrame(batch, loadModel(dir, v), idCol, vecCol),
      dir, v, batchId)
  }

  /** The reserved tombstone partition: deletion rows live under
    * `c_id = -1` (no real cluster — routing ids are non-negative), so a
    * probe can read EVERY live tombstone with one extra static partition
    * filter entry, regardless of which cluster the deleted id's data
    * rows sit in. The alternatives don't scale: resolving the id's
    * clusters at delete time is a full codes scan, and fanning the
    * tombstone out to every cluster writes nCentroids rows per deletion.
    * Tombstone volume is ∝ LIVE deletions, not corpus — [[compact]]
    * folds deleted ids (and the tombstones themselves) away.
    */
  val TombstoneCluster: Int = -1

  /** Delete ids from a version — the other half of the reference's
    * mutation routing (`Projector/indexjs.go:175-189` routes
    * `AddDeletion` into the standing index the same way it routes
    * upserts; [[graft.operators.IndexMaintainer]] is the scalar-index
    * form). Writes one TOMBSTONE row per id — codes-schema-shaped with
    * `codes`/`nrm` null, under the reserved [[TombstoneCluster]]
    * partition — as the batch's own idempotent `b=<batchId>` directory,
    * exactly like [[ingest]] (a retry wholesale-overwrites; at-least-once
    * delivery never double-deletes). [[probe]]'s latest-batch-wins
    * resolution reads tombstones alongside data rows: a tombstone from
    * the id's newest batch resolves the id as ABSENT; a later [[ingest]]
    * of the same id wins over the tombstone (delete-then-re-add works).
    * Within one batch id a tombstone shadows a data row. [[compact]]
    * drops tombstoned ids and the tombstones themselves.
    *
    * `ids` is a one-column work-list frame (control-plane shaped, e.g.
    * the `removed` slice of a corpus diff) — deletion cost is ∝ the
    * delete batch, never the standing index.
    */
  def delete(ids: DataFrame, dir: String, batchId: Long,
             version: Int = -1, idCol: String = "vec_id"): Unit = {
    VersionedSlots.requireAppend(batchId)
    val v = Versions.pin(dir, version)
    val tombs = ids.select(col(idCol),
      lit(TombstoneCluster).as("c_id"),
      lit(null).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType)).as("codes"),
      lit(null).cast("double").as("nrm"))
    writeBatch(tombs, dir, v, batchId)
  }

  /** Apply one MIXED mutation batch — upserts AND deletions — to a
    * version's codes table as a single idempotent `b=<batchId>`
    * directory. This is the full form of the reference's per-batch
    * routing loop (`Projector/indexjs.go:123-189` interleaves
    * `AddUpsert` and `AddDeletion` rows from the same change feed);
    * [[ingest]] and [[delete]] are its single-opcode halves.
    *
    * `feed` is change-feed-shaped: an opcode column (`DELETION` /
    * `EXPIRATION` tombstone the id, anything else upserts), the id, the
    * vector (null on deletions — the deletion branch never evaluates
    * the encode expressions), and optionally a seqno. When `seqnoCol`
    * is given the batch is first reduced to each id's NEWEST event
    * (change feeds re-carry hot ids within one batch; the winner must
    * be the latest, not an arbitrary partition order) — one window over
    * the BATCH, never the standing index. Without a seqno, duplicate
    * ids of one batch resolve by [[winnersOf]]'s total order (a
    * tombstone first, then the smaller codes) — deterministic, but not
    * arrival order.
    *
    * Everything [[ingest]]/[[delete]] guarantee holds here: frozen-model
    * scan-expression encode, write volume ∝ the batch, wholesale
    * overwrite on retry (at-least-once delivery stays exactly-once),
    * tombstones in the reserved [[TombstoneCluster]] partition.
    */
  def applyMutations(feed: DataFrame, dir: String, batchId: Long,
                     version: Int = -1, opcodeCol: String = "opcode",
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     seqnoCol: Option[String] = None): Unit = {
    VersionedSlots.requireAppend(batchId)
    val v = Versions.pin(dir, version)
    val model = loadModel(dir, v)
    val reduced = seqnoCol match {
      case Some(sq) => feed
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col(idCol)).orderBy(col(sq).desc)))
        .filter(col("__rn") === 1).drop("__rn")
      case None => feed
    }
    val isDel = upper(col(opcodeCol)).isin("DELETION", "EXPIRATION")
    val bytesT = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType)
    // __c carries the REAL routing for upsert rows (deletions never
    // evaluate it — `when` branches are lazy); the emitted c_id swaps in
    // the tombstone partition for deletions. Residual models quantize
    // v − c(v) with the same shared residualCol as encodeFrame.
    val routedRows = reduced.withColumn("__c",
      when(isDel, lit(TombstoneCluster))
        .otherwise(route(model)(col(vecCol), 1).getItem(0)))
    val encTarget =
      if (model.isResidual) residualCol(model)(col(vecCol), col("__c"))
      else col(vecCol)
    val rows = routedRows.select(col(idCol),
      col("__c").as("c_id"),
      when(isDel, lit(null).cast(bytesT))
        .otherwise(VectorOps.pqEncode(encTarget, model.codebookArr))
        .as("codes"),
      when(isDel, lit(null).cast("double"))
        .otherwise(VectorOps.norm(col(vecCol))).as("nrm"))
    writeBatch(rows, dir, v, batchId)
  }

  /** Streaming maintenance of a persisted ANN version: every arriving
    * micro-batch of (id, vector) rows folds in through [[ingest]] —
    * the ANN counterpart of [[graft.streaming.StreamingIndex.maintain]].
    * A negative version means "latest at construction"; the pin, batch
    * ids and exactly-once delivery are [[VersionedSlots.maintain]]'s —
    * the stream owns `[batchIdBase, ∞)` of the version's batch-id
    * namespace ([[VersionedSlots.requireAppend]]).
    */
  def maintainStream(stream: DataFrame, dir: String, version: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     batchIdBase: Long = 1L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    VersionedSlots.maintain(stream, batchIdBase, Versions.pin(dir, version)) {
      (batch, v, b) => ingest(batch, dir, b, v, idCol, vecCol)
    }
  }

  /** [[maintainStream]] for a MIXED change stream — upserts and
    * deletions interleaved, routed per micro-batch by
    * [[applyMutations]]. This closes the streaming loop to the
    * reference's actual shape: its projector consumes one continuous
    * feed where both opcodes arrive in arrival order
    * (`Projector/indexjs.go:123-189`), not separate upsert and delete
    * channels. Cross-batch ordering is the micro-batch sequence itself
    * (batch N+1's events outrank batch N's via [[latestWins]]),
    * within-batch ordering is `seqnoCol`; version pin and batch ids as
    * in [[maintainStream]].
    */
  def maintainChangeStream(stream: DataFrame, dir: String, version: Int,
                           opcodeCol: String = "opcode",
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           seqnoCol: Option[String] = Some("seqno"),
                           batchIdBase: Long = 1L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    VersionedSlots.maintain(stream, batchIdBase, Versions.pin(dir, version)) {
      (batch, v, b) =>
        applyMutations(batch, dir, b, v, opcodeCol, idCol, vecCol, seqnoCol)
    }
  }

  /** Each id's WINNING row across batches under one total order — the
    * highest `b` first; within one batch a [[delete]] tombstone before a
    * data row; then the smaller `codes` (Spark's array order), the
    * smaller `nrm`, the smaller `c_id`. The last three make the winner
    * deterministic when one batch carries an id twice ([[ingest]] does
    * not collapse duplicates), so [[compact]], [[stats]], the batch
    * probe and the interactive probe's driver resolution
    * ([[winnerOrdering]], the same order) all keep the same row.
    * [[latestWins]] drops tombstone winners and [[stats]] counts them
    * from this one view. Skipped for single-batch reads (the
    * built-then-compacted shape pays no shuffle; batch 0 never holds
    * tombstones).
    */
  private def winnersOf(codes: DataFrame, idCol: String,
                        nBatches: Int): DataFrame =
    if (nBatches <= 1) codes
    else codes
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("b").desc,
          col("codes").isNull.desc, col("codes").asc, col("nrm").asc,
          col("c_id").asc)))
      .filter(col("__rn") === 1).drop("__rn")

  private def latestWins(codes: DataFrame, idCol: String,
                         nBatches: Int): DataFrame =
    winnersOf(codes, idCol, nBatches).filter(col("codes").isNotNull)

  /** Fold a version's committed batches into a single-batch NEW version:
    * latest-batch-wins over every id (shadowed re-embedded rows are
    * dropped — including the cross-cluster stale rows [[probe]]'s
    * windowed view cannot see; ids whose newest row is a [[delete]]
    * tombstone are dropped entirely, tombstones included — the fold is
    * where deletions stop costing anything), written as the new
    * version's `b=0` under
    * the SAME frozen model (the model JSON is copied; compaction is a
    * layout fold, not a retrain). The source version stays intact for
    * pinned readers — the [[graft.streaming.EpochStore.rotate]] pattern.
    * Returns the new version. Fold cost ∝ live codes; run it when the
    * committed-batch count (visible via `graft_ann_model(...).n_batches`)
    * makes per-probe batch listings or upsert shadowing worth collapsing.
    */
  def compact(spark: SparkSession, dir: String, version: Int = -1,
              idCol: String = "vec_id"): Int = {
    val v = Versions.pin(dir, version)
    val batches = batchesOf(dir, v)
    val folded = latestWins(readCodes(spark, dir, v, batches),
      idCol, batches.length)
      .select(col(idCol), col("c_id"), col("codes"), col("nrm"))
    val nv = Versions.claimNext(dir)
    writeBatch(folded, dir, nv, 0L)
    Versions.publish(dir, nv, Versions.readMarker(dir, v))
    nv
  }

  /** Re-train the routing + codebooks from the RESOLVED live rows of a
    * pinned version and publish the result as a NEW version — the
    * drift-recovery lifecycle op, and the complement of [[compact]]:
    * compact folds LAYOUT under the frozen model; retrain re-fits the
    * MODEL itself, for when ingest drift has degraded routing (the
    * `max_cluster / n_vectors` skew signal from [[stats]], or a
    * `n_batches` ingest volume that dwarfs the training corpus — both
    * wire-visible via `graft_ann_stats` / `graft_ann_model`).
    *
    * The store holds lossy PQ codes, not vectors, so `vectors` resolves
    * live ids to exact embeddings — the same source-of-truth frame
    * probes re-rank against; a SUPERSET of the live ids is fine (the
    * semi-join keeps live ids only; tombstoned and shadowed rows are
    * excluded by the same latest-wins fold [[compact]] uses). Live-id
    * resolution is distributed (∝ live codes); training and the new
    * `b=0` are exactly [[build]] on the resolved frame, so every build
    * invariant (slot claim, model-JSON-last visibility) holds. The
    * source version stays intact for pinned readers — [[gcShadowed]]
    * reclaims it.
    *
    * GEOMETRY IS INHERITED: `nCentroids`/`m`/`codebookK`/`coarseProbes`
    * default (−1) to the SOURCE model's values and `residual = None`
    * inherits its layout — a drift recovery must not silently swap the
    * deployed index's quantization geometry (the exact property
    * [[compact]] preserves by copying the model). Pass explicit values
    * / `Some(_)` only for a deliberate geometry or layout MIGRATION —
    * which is a retrain by definition: codes are not portable across
    * models. (`twoLevelThreshold` is a build-time decision, not a model
    * fact: whether the re-fit routing gets a coarse level is re-decided
    * for the new centroid count.)
    *
    * `vectors` must carry ONE row per live id (the current-snapshot
    * contract; enforced) — a duplicated id would land twice in the new
    * single-batch version, where no latest-wins fold can resolve it,
    * and break the answers-once probe contract.
    *
    * Reference analog: the engine has no in-place index mutation either
    * — re-creating a function over the same source re-processes the
    * CURRENT document set as a fresh deployment
    * (`http_handlers.go:1650-1678`, the function POST lifecycle that
    * re-runs savePrimaryStore/saveTempStore), and `savePrimaryStore`
    * refuses to mutate a live deployment (`http_handlers.go:1118-1121`).
    */
  def retrain(spark: SparkSession, dir: String, vectors: DataFrame,
              version: Int = -1,
              nCentroids: Int = -1, kmeansIters: Int = 2,
              m: Int = -1, codebookK: Int = -1,
              idCol: String = "vec_id", vecCol: String = "embedding",
              twoLevelThreshold: Int = 64, coarseProbes: Int = -1,
              residual: Option[Boolean] = None): (Model, Int) = {
    val v = Versions.pin(dir, version)
    val src = loadModel(dir, v)
    def inherit(arg: Int, fromModel: Int) = if (arg > 0) arg else fromModel
    val batches = batchesOf(dir, v)
    val live = latestWins(readCodes(spark, dir, v, batches),
      idCol, batches.length).select(col(idCol))
    // shared lazy checkpoint ([[stats]]/[[probe]] discipline): the
    // latest-wins window over EVERY codes batch + the semi-join feed
    // the uniqueness aggregate, every k-means iteration, the PQ
    // sample and the final encode — without the barrier each of those
    // ~(iters+3) jobs re-runs the most expensive scan in the operation
    val liveVecs = graft.plans.LazyCheckpoint.shared(
      vectors.select(col(idCol), col(vecCol))
        .join(live, Seq(idCol), "left_semi"))
    // one row per live id, enforced: a duplicate would land twice in the
    // new SINGLE-batch version where latestWins cannot resolve it (one
    // aggregate over the live set — minor next to the k-means passes)
    val u = liveVecs.agg(count(lit(1)).as("__r"),
      count_distinct(col(idCol)).as("__d")).head()
    require(u.getLong(0) == u.getLong(1),
      s"vectors frame carries duplicate $idCol rows for " +
        s"${u.getLong(0) - u.getLong(1)} live ids — retrain requires one " +
        "row per live id (the current-snapshot contract)")
    // hash-order seeding: a retrain's live set is id-ordered by ARRIVAL
    // ("old corpus, then drifted ingest"), exactly the layout where
    // first-k-by-id seeds would all sit in the pre-drift region — see
    // [[Similarity.collectCentroids]]
    build(liveVecs, dir,
      inherit(nCentroids, src.fine.length), kmeansIters,
      inherit(m, src.m), inherit(codebookK, src.codebookK),
      idCol, vecCol, twoLevelThreshold,
      inherit(coarseProbes, src.coarseProbes),
      residual.getOrElse(src.isResidual),
      seedByHash = true)
  }

  /** Explicit version GC ([[VersionedSlots.gcShadowed]]): delete index
    * versions shadowed by the newest `keepLast` — what [[compact]] and
    * re-[[build]]s leave behind for pinned probes — and uncommitted
    * version directories (a crashed build: slot claimed, model never
    * published) older than `staleUncommittedMs`. `model.json` is deleted
    * first, so a raced [[versions]] listing can never see a half-deleted
    * version as visible. Returns the versions deleted.
    */
  def gcShadowed(dir: String, keepLast: Int = 2,
                 staleUncommittedMs: Long = 24L * 3600 * 1000,
                 nowMs: Long = System.currentTimeMillis): Seq[Int] =
    Versions.gc(dir, keepLast, staleUncommittedMs, nowMs)

  /** Store STATISTICS for a pinned version over the RESOLVED state
    * (latest-batch-wins) — the ANN tier's `idx_stats`/`bm25Stats`
    * analog, a MAINTENANCE scan (reads the whole codes table, unlike a
    * probe): `n_vectors` live ids, `n_deleted` ids whose winning row is
    * a tombstone, `n_clusters` non-empty clusters and `max_cluster`
    * (the hot-cluster/skew signal the upsert gate in ScaleSmoke watches;
    * an operator alerts when `max_cluster / n_vectors` drifts — the
    * rebuild-the-routing signal, alongside `n_batches` from the model
    * facts).
    */
  def stats(spark: SparkSession, dir: String,
            version: Int = -1,
            idCol: String = "vec_id"): DataFrame = {
    val v = Versions.pin(dir, version)
    val batches = batchesOf(dir, v)
    val all = readCodes(spark, dir, v, batches)
    // the SHARED winners resolver ([[winnersOf]] — the exact view
    // probes resolve); latestWins drops tombstone winners, stats counts
    // them from the same view. Lazily checkpointed: the live aggregate
    // and the deleted count are two jobs, and without the barrier each
    // would re-scan every batch directory and re-run the window
    val winners = graft.plans.LazyCheckpoint.shared(
      winnersOf(all, idCol, batches.length))
    val live = winners.filter(col("codes").isNotNull)
    val perCluster = live.groupBy("c_id").agg(count(lit(1)).as("__n"))
    // coalesce: a validly EMPTIED store (every id tombstoned) must
    // report (0, n, 0, 0), not nulls — this surface exists precisely to
    // inspect such states
    perCluster.agg(
        coalesce(sum("__n"), lit(0L)).cast("long").as("n_vectors"),
        count(lit(1)).cast("long").as("n_clusters"),
        coalesce(max("__n"), lit(0L)).cast("long").as("max_cluster"))
      .crossJoin(broadcast(
        winners.filter(col("codes").isNull)
          .agg(count(lit(1)).cast("long").as("n_deleted"))))
      .select("n_vectors", "n_deleted", "n_clusters", "max_cluster")
  }

  /** The frozen-model codes frame for `corpus` under a pinned version —
    * exactly what [[build]]/[[ingest]] persist ([[encodeFrame]] is shared
    * verbatim), exposed for state-equivalence invariants: a maintained
    * index (base + ingest batches + tombstones, folded) must equal the
    * re-encode of the current corpus snapshot — the ANN form of the
    * maintained ≡ rebuilt contract the scalar index pins in
    * `idx_catchup`. Pure scan expressions over `corpus`; nothing is read
    * from or written to the store.
    */
  def encodeWith(corpus: DataFrame, dir: String, version: Int = -1,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    encodeFrame(corpus, loadModel(dir, Versions.pin(dir, version)),
      idCol, vecCol)

  /** Load a pinned version's model (immutable). */
  def loadModel(dir: String, version: Int): Model =
    Serialization.read[Model](Versions.readMarker(dir, version))

  /** The newest visible version, if any. */
  def latestVersion(dir: String): Option[Int] = Versions.latest(dir)

  private def route(model: Model)(vecC: Column, kk: Int): Column =
    VectorOps.nearestCentroids(vecC, model.fineArr, model.coarseArr,
      model.members, kk, model.coarseProbes)


  /** Probe the persisted index: top-k cosine neighbors per query, same
    * output contract as [[Similarity.ivfPqTopK]] — (q_id, neighbor_id,
    * sim, rank) — and the same scoring expressions as
    * [[Similarity.pqScore]]. `version` pins the artifact (default -1 =
    * newest visible). The probed cluster set is resolved driver-side
    * from the routed queries and applied as a literal partition filter,
    * so the codes scan is statically pruned to the probed `c_id=`
    * directories (+ the tombstone partition) across every committed
    * ingest batch. `corpus` supplies true vectors for the exact re-rank
    * of shortlist rows only.
    *
    * '''Interactive probes''' (`broadcastQ = true`, the default; queries
    * are control-plane-sized by premise) are EAGER: [[routeQueries]]
    * routes the query batch once on the driver, [[probeRouted]] runs
    * the scan and returns the answer as a driver-local frame. Job
    * budget, with a driver-local query frame: 2 Spark jobs on any
    * version (the ADC shortlist scan, the re-rank scan), 3 only when
    * the shortlist needs a second, deeper ADC pass; an `allowed` /
    * `excluded` frame adds its own jobs. Latest-batch-wins is resolved
    * on the driver from the ADC scan, with no shuffle, and no job infers
    * the codes schema ([[graft.plans.StoreReads]]). Driver memory: the
    * routed queries (LUT + vector each), at most partitions × |queries|
    * × k·rerank shortlist rows (more on a second pass), and the keys of
    * the probed clusters' rows since the last [[compact]] plus the
    * tombstones `<= asOfBatch` ([[scoreRouted]]).
    *
    * '''Filtered search''' (`allowed`): the metadata-constrained vector
    * query every production ANN service answers ("nearest neighbors
    * among documents WHERE <predicate>") — pass the predicate's id set
    * as a one-column frame and the probe returns top-k among THOSE ids
    * only. This is a PRE-filter, not a post-filter: the candidate codes
    * semi-join the allowed set BEFORE the ADC shortlist, so the
    * shortlist holds k·rerank ALLOWED candidates and selective filters
    * cannot starve the result (the post-filter failure mode). Cost
    * shape is unchanged — the scan still reads only probed cluster
    * directories; the semi-join touches probed candidates, never the
    * corpus, and the id-level filter commutes with latest-batch-wins
    * (tombstones share the data row's id, so resolution is unaffected).
    *
    * '''Batch probes''' (`broadcastQ = false`): when `queries` is itself
    * corpus-scale (a whole ingest batch probing the store, e.g.
    * [[graft.operators.Dedup.semanticIncrementalStore]]), the probed
    * cluster set collapses to ≤ nCentroids ids (still control-plane
    * bounded — it is collected DISTINCT from a shared lazy checkpoint of
    * the routed queries, so a non-deterministic `queries` frame cannot
    * route outside the collected filter), but collecting the queries or
    * the shortlist would ship corpus-sized state through the driver.
    * `false` returns a lazy frame scored by [[Similarity.pqScore]]
    * through ordinary shuffle joins keyed on `c_id` / `neighbor_id`; the
    * static partition pruning of the codes scan is identical in both
    * modes, and so are the answers.
    *
    * `excluded` is the anti-join analog of `allowed`: ids in the frame
    * can never answer, gated with the same pre-filter semantics (before
    * the shortlist, so excluded rows cannot occupy shortlist slots). Its
    * load-bearing use is streaming dedup ingest
    * ([[graft.streaming.StreamingDedup.semanticIngestStore]]): a batch
    * that probes the store and then ingests ITSELF excludes its own
    * ids, so a foreachBatch retry that re-probes AFTER its ingest
    * landed returns the identical verdicts — at-least-once delivery
    * stays exactly-once. Cost ∝ probed codes, like `allowed`.
    *
    * `asOfBatch` is batch-id snapshot isolation: only committed batches
    * `<= asOfBatch` are read. A probe racing a concurrent batch write
    * is the load-bearing case — a retried streaming batch
    * wholesale-OVERWRITES its own directory, so a probe whose file
    * listing included the first attempt's files would hit
    * FILE_NOT_EXIST mid-read; pinning the probe to the batches BEFORE
    * the one being written makes it immune to the overwrite (and makes
    * retry verdicts bit-identical — same candidate set by
    * construction).
    *
    * SELF-EXCLUSION: the candidate whose id EQUALS the row's `q_id` is
    * excluded from that query's neighbors (the re-rank shares
    * [[Similarity.pqScore]]'s near-dup convention — a vector is never
    * its own neighbor). Callers whose query ids live in the corpus id
    * space must remap them (the single-query SQL wire passes
    * `q_id = -1`), or doc N can never answer query N through this leg.
    */
  def probe(spark: SparkSession, dir: String, queries: DataFrame,
            corpus: DataFrame, k: Int, nprobe: Int = 4, rerank: Int = 16,
            idCol: String = "vec_id", vecCol: String = "embedding",
            version: Int = -1,
            allowed: Option[DataFrame] = None,
            broadcastQ: Boolean = true,
            excluded: Option[DataFrame] = None,
            asOfBatch: Long = Long.MaxValue): DataFrame = {
    val v = Versions.pin(dir, version)
    if (broadcastQ)
      scoreRouted(spark, dir, v, routeQueries(spark, dir, queries, nprobe, v),
        corpus, k, rerank, idCol, vecCol, allowed, excluded, asOfBatch)
    else {
      val model = loadModel(dir, v)
      val routedPlan = queries.select(col("q_id"), col("q_vec"),
        VectorOps.norm(col("q_vec")).as("__qn"),
        VectorOps.pqLut(col("q_vec"), model.codebookArr).as("__lut"),
        explode(route(model)(col("q_vec"), nprobe)).as("c_id"))
      val ck = graft.plans.LazyCheckpoint.shared(routedPlan)
      val probed = ck.select("c_id").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      // residual models: the exact q·c(v) bias per probed cluster — a
      // deterministic function of the materialized (q_vec, c_id), so it
      // composes AFTER the route-once point without breaking it
      val queryA =
        if (model.isResidual) ck.withColumn("__bias",
          VectorOps.dot(col("q_vec"),
            element_at(typedlit(model.fine), col("c_id") + 1)))
        else ck
      val (scanned, nBatches) = scannedCodes(spark, dir, v, probed, idCol,
        allowed, excluded, asOfBatch)
      val corpusCodes = latestWins(scanned, idCol, nBatches)
        .select(col(idCol), col("c_id"), col("codes").as("__codes"),
          col("nrm").as("__n"))
      val vecs = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__v"), VectorOps.norm(col(vecCol)).as("__vn"))
      Similarity.pqScore(corpusCodes, vecs, queryA, k, rerank, idCol,
        biasCol = if (model.isResidual) Some("__bias") else None,
        broadcastQ = false)
    }
  }

  /** The routed, driver-resolved query batch of an interactive probe:
    * one row per query (q_id, q_vec, __qn, __lut, __routes — the nprobe
    * nearest cluster ids — and, for residual models, __bias — the exact
    * `q·c` per route), the distinct probed cluster set, and the `Model`
    * the batch was routed with plus a fingerprint of its JSON. Held
    * PRE-explode, so each query's LUT and vector live once in driver
    * memory, not once per probed cluster.
    *
    * Resolved ONCE and shareable by several [[probeRouted]] calls whose
    * versions carry the SAME model — the [[compact]] contract (the model
    * JSON is copied verbatim), which lets a fold-equivalence gate
    * (multi-batch version vs its compacted fold) pay ONE routing pass
    * for both arms. [[probeRouted]] checks the fingerprint and throws
    * on a version with a different model instead of scoring against the
    * wrong centroids.
    */
  final case class Routed(rows: Array[Row], schema: StructType,
                          probed: Seq[Int], nprobe: Int,
                          model: Model, modelFingerprint: String,
                          version: Int)

  /** Route `queries` against version `version`'s model on the driver:
    * one model read, one collect of the routed projection (no Spark job
    * when `queries` is a driver-local frame — the projection folds into
    * the local rows). Driver memory is ∝ |queries| × (LUT + vector).
    */
  def routeQueries(spark: SparkSession, dir: String, queries: DataFrame,
                   nprobe: Int, version: Int = -1): Routed = {
    val v = Versions.pin(dir, version)
    val json = Versions.readMarker(dir, v)
    val model = Serialization.read[Model](json)
    val routedQ = queries.select(col("q_id"), col("q_vec"),
      VectorOps.norm(col("q_vec")).as("__qn"),
      VectorOps.pqLut(col("q_vec"), model.codebookArr).as("__lut"),
      route(model)(col("q_vec"), nprobe).as("__routes"))
    val plan =
      if (model.isResidual) routedQ.withColumn("__bias",
        transform(col("__routes"), c => VectorOps.dot(col("q_vec"),
          element_at(typedlit(model.fine), c + 1))))
      else routedQ
    val rows = plan.collect()
    val rIdx = plan.schema.fieldIndex("__routes")
    val probed = rows.iterator.flatMap(_.getSeq[Int](rIdx))
      .toArray.distinct.sorted.toSeq
    Routed(rows, plan.schema, probed, nprobe, model, fingerprint(json), v)
  }

  /** [[probe]] from a pre-resolved [[Routed]] batch — the second half of
    * the interactive path, exposed so independent probe arms of one
    * lifecycle invariant can share a single routing pass (and run
    * concurrently; the store reads are immutable per-version
    * directories). Eager, with [[probe]]'s job budget and driver-memory
    * bound — 2 Spark jobs on any version, 3 on a second ADC pass,
    * latest-batch-wins resolved on the driver without a shuffle; returns
    * a driver-local frame. Throws when `version`'s model JSON differs
    * from the one the batch was routed with.
    */
  def probeRouted(spark: SparkSession, dir: String, routed: Routed,
                  corpus: DataFrame, k: Int, rerank: Int = 16,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  version: Int = -1,
                  allowed: Option[DataFrame] = None,
                  excluded: Option[DataFrame] = None,
                  asOfBatch: Long = Long.MaxValue): DataFrame = {
    val v = Versions.pin(dir, version)
    require(fingerprint(Versions.readMarker(dir, v)) ==
      routed.modelFingerprint,
      s"queries routed against v${routed.version} cannot probe v$v under " +
        s"$dir: v$v carries a different model (route them against v$v)")
    scoreRouted(spark, dir, v, routed, corpus, k, rerank, idCol, vecCol,
      allowed, excluded, asOfBatch)
  }

  private def fingerprint(json: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** A version's codes rows for one probe, with the number of batches
    * read: the committed batches `<= asOfBatch`, statically pruned to the
    * probed clusters PLUS the reserved tombstone partition (deletions
    * must shadow data rows wherever the data row's cluster is; its
    * volume is ∝ live deletions, absent entirely on the compacted path),
    * `allowed`/`excluded` gated, NOT yet resolved latest-batch-wins —
    * the batch probe resolves with [[latestWins]], the interactive one
    * on the driver ([[scoreRouted]]), over these same rows.
    */
  private def scannedCodes(spark: SparkSession, dir: String, v: Int,
                           probed: Seq[Int], idCol: String,
                           allowed: Option[DataFrame],
                           excluded: Option[DataFrame],
                           asOfBatch: Long): (DataFrame, Int) = {
    val batches = batchesOf(dir, v, asOfBatch)
    val scanned = (probed :+ TombstoneCluster).map(Integer.valueOf)
    val rawCodes = readCodes(spark, dir, v, batches)
      .filter(col("c_id").isin(scanned.toIndexedSeq: _*))
    val admitted = allowed.fold(rawCodes)(ids =>
      rawCodes.join(ids.select(col(idCol)), Seq(idCol), "left_semi"))
    val gated = excluded.fold(admitted)(ids =>
      admitted.join(ids.select(col(idCol)), Seq(idCol), "left_anti"))
    (gated, batches.length)
  }

  /** The interactive scoring half: ADC over the probed codes with the
    * routed queries entering the plan as literals (a `c_id →
    * [(query, group, bias)]` map exploded per code row; LUT, norm and
    * q_id looked up by query index), per-partition top-`k·rerank` per
    * query, a driver merge, then ONE corpus scan filtered to the
    * shortlist ids for the exact re-rank — each id scored against the
    * queries that shortlisted it only, so the scan computes at most
    * |q| × k·rerank sims — with a per-partition and a driver top-k.
    *
    * Latest-batch-wins is resolved on the driver from the ADC scan
    * itself, with no shuffle ([[shortlistOf]]): each partition also
    * reports the key of every scanned row of a batch ≥ 1, tombstones
    * included, and a candidate lives unless a key of its id outranks
    * it under [[winnerOrdering]]. When shadowed rows may have pushed a
    * live candidate out of a partition's list, the ADC scan runs once
    * more, deeper (3 jobs instead of 2).
    *
    * Every ranking uses Spark's own ordering on (sim DESC, neighbor_id
    * ASC) — the order [[Similarity.pqScore]]'s `row_number` windows use,
    * NaN, −0.0 and every id type included — so the answers equal the
    * batch path's row for row. Queries sharing a `q_id` rank as one
    * group, as they do in those windows. Driver memory: at most
    * partitions × |q| × k·rerank shortlist rows (the second pass: ×
    * its depth over k·rerank), plus the keys of the probed clusters'
    * delta rows and of the tombstones `<= asOfBatch` — O(rows since the
    * last compaction), which [[compact]] bounds.
    */
  private def scoreRouted(spark: SparkSession, dir: String, v: Int,
                          routed: Routed, corpus: DataFrame, k: Int,
                          rerank: Int, idCol: String, vecCol: String,
                          allowed: Option[DataFrame],
                          excluded: Option[DataFrame],
                          asOfBatch: Long): DataFrame = {
    val rows = routed.rows
    val sch = routed.schema
    val qIdField = sch("q_id")
    val corpusId = corpus.schema(idCol)
    val outSchema = StructType(Seq(qIdField,
      StructField("neighbor_id", corpusId.dataType, corpusId.nullable),
      StructField("sim", DoubleType), StructField("rank", LongType, false)))
    val depth = math.min(k.toLong * rerank, Int.MaxValue).toInt
    if (rows.isEmpty || depth <= 0)
      return spark.createDataFrame(java.util.List.of[Row](), outSchema)
    def field(name: String) = rows.map(_.get(sch.fieldIndex(name))).toSeq
    def arrayLit(name: String) = GraftBridge.column(
      Literal.create(field(name), ArrayType(sch(name).dataType)))
    val qIds = field("q_id")
    // one ranking group per distinct q_id: its first query's index
    val firstOf = scala.collection.mutable.HashMap.empty[Any, Int]
    val group = qIds.zipWithIndex
      .map { case (q, i) => firstOf.getOrElseUpdate(q, i) }
    val routes = rows.map(_.getSeq[Int](sch.fieldIndex("__routes")))
    val biases = if (routed.model.isResidual)
      Some(rows.map(_.getSeq[Double](sch.fieldIndex("__bias")))) else None

    // ADC shortlist: (group, query, neighbor_id, sim_adc)
    val entries = routes.indices.flatMap(qi => routes(qi).indices.map(j =>
      routes(qi)(j) -> (qi, group(qi), biases.fold(0.0)(_(qi)(j)))))
    val e = col("__e")
    val (qi, grp) = (e.getField("_1"), e.getField("_2"))
    val adcDot = VectorOps.pqAdcDot(col("codes"),
      element_at(arrayLit("__lut"), qi + 1))
    val approxDot =
      if (biases.isDefined) e.getField("_3") + adcDot else adcDot
    val (codes, _) = scannedCodes(spark, dir, v, routed.probed, idCol,
      allowed, excluded, asOfBatch)
    // one row per (code row, query routed to its cluster) in the
    // [[AdcPart]] layout; a row no query scores (a tombstone) comes
    // through once with a null entry, so every scanned row reports its
    // key exactly once (its first entry, or its null one)
    val adc = codes
      .select(col(idCol), col("b"), col("codes"), col("nrm"), col("c_id"),
        posexplode_outer(element_at(typedlit(entries.groupMap(_._1)(_._2)),
          col("c_id"))).as(Seq("__p", "__e")))
      .select(grp.as("__g"), qi.as("__qi"), col(idCol),
        (approxDot / (col("nrm") * element_at(arrayLit("__qn"), qi + 1)))
          .as("sim_adc"),
        col("b").cast(LongType).as("b"), col("codes").isNull.as("__tomb"),
        col("codes"), col("nrm"), col("c_id").cast(IntegerType).as("c_id"),
        coalesce(e.isNotNull &&
          col(idCol) =!= element_at(arrayLit("q_id"), qi + 1), lit(false))
          .as("__cand"),
        (col("b") >= 1 && coalesce(col("__p"), lit(0)) === 0).as("__key"))
    val codesId = codes.schema(idCol).dataType
    val shortlist = shortlistOf(adc, codesId, depth,
      group.groupBy(identity).valuesIterator.map(_.size).max)
    if (shortlist.isEmpty)
      return spark.createDataFrame(java.util.List.of[Row](), outSchema)

    // exact re-rank: one corpus scan filtered to the shortlist ids, each
    // row exploded to the queries that shortlisted it (an id → [query]
    // literal map) and scored against those only
    val toScalaId = CatalystTypeConverters.createToScalaConverter(codesId)
    val wanted = shortlist.iterator.flatMap(_._2).toSeq
      .groupMap(r => toScalaId(r.get(2, codesId)))(_.getInt(1))
    val q = col("__q")
    val scored = corpus
      .filter(col(idCol).isin(wanted.keys.toSeq: _*))
      .select(col(idCol), col(vecCol).as("__v"),
        VectorOps.norm(col(vecCol)).as("__vn"),
        explode(element_at(GraftBridge.column(Literal.create(wanted,
          MapType(codesId, ArrayType(IntegerType)))),
          col(idCol).cast(codesId))).as("__q"))
      .select(element_at(typedlit(group), q + 1), q, col(idCol),
        (VectorOps.dot(col("__v"), element_at(arrayLit("q_vec"), q + 1)) /
          (col("__vn") * element_at(arrayLit("__qn"), q + 1))).as("sim"))
    val nid = corpusId.dataType
    val simOrd = simOrdering(nid)
    val toScala = CatalystTypeConverters.createToScalaConverter(nid)
    val out = rankPerGroup(
        collectPartitions(scored)(topOf(_, k, simOrd)).flatten.toSeq, k, simOrd)
      .flatMap { case (g, ranked) => ranked.zipWithIndex.map { case (r, i) =>
        Row(qIds(g), toScala(r.get(2, nid)),
          if (r.isNullAt(3)) null else r.getDouble(3), i + 1L)
      }
    }
    spark.createDataFrame(out.asJava, outSchema)
  }

  /** The exact ADC shortlist of an interactive probe, latest-batch-wins
    * resolved on the driver: each group's best `depth` live candidates,
    * by ascending group. `adc` is the ADC scan in the [[AdcPart]]
    * layout; `groupSize` the most queries any ranking group holds.
    *
    * Pass 1 keeps the best `depth` candidates per group per partition.
    * A candidate lives unless a delta key of its id outranks it under
    * [[winnerOrdering]] — a base row, any delta key of its id; identical
    * rows of one batch answer once. The merged list is exact unless a
    * partition cut a group's list at a row ranking above the group's
    * `depth`-th live candidate, or fewer than `depth` live while a
    * partition cut the group: the rows a cut dropped all rank at or
    * below its last kept row. Then pass 2 re-runs the same scan keeping
    * `depth + D·groupSize` per partition, D the delta keys of pass 1.
    * Each id's shadowed rows number at most its delta rows (the base
    * batch holds one row per id, as [[build]] of a one-row-per-id corpus
    * and [[compact]] write it), so a group's list holds at most
    * D·groupSize shadowed rows, and pass 2 is exact by construction.
    */
  private def shortlistOf(adc: DataFrame, idType: DataType, depth: Int,
                          groupSize: Int): Seq[(Int, Seq[InternalRow])] = {
    val ord = simOrdering(idType)
    val winOrd = winnerOrdering
    def idOf(r: InternalRow) = r.get(2, idType)
    def scan(df: DataFrame, n: Int) = collectPartitions(df)(adcPart(_, n, ord))
    val first = scan(adc, depth)
    val keys = first.flatMap(_.keys)
    val winner = scala.collection.mutable.HashMap.empty[Any, InternalRow]
    keys.foreach { r =>
      if (winner.get(idOf(r)).forall(winOrd.lt(r, _))) winner(idOf(r)) = r
    }
    def live(parts: Array[AdcPart]) = {
      val seen = scala.collection.mutable.HashSet.empty[(Int, Any)]
      rankPerGroup(parts.iterator.flatMap(_.tops).filter(r =>
        winner.get(idOf(r)).forall(w =>
          winOrd.equiv(r, w) && seen.add((r.getInt(1), idOf(r))))).toSeq,
        depth, ord)
    }
    val firstList = live(first)
    val byGroup = firstList.toMap
    val exact = first.iterator.flatMap(_.cuts).forall(c =>
      byGroup.get(c.getInt(0)).exists(rs =>
        rs.length == depth && !ord.lt(c, rs.last)))
    if (exact) firstList
    // a fresh plan over the same file listing, so the same rows
    else live(scan(adc.select("*"),
      math.min(depth + keys.length.toLong * groupSize, Int.MaxValue).toInt))
  }

  /** Spark's ordering for (sim DESC, neighbor_id ASC) over rows shaped
    * (group, query, neighbor_id, sim) — the sort the `row_number`
    * windows of [[Similarity.pqScore]] use.
    */
  private def simOrdering(idType: DataType): Ordering[InternalRow] =
    new InterpretedOrdering(Seq(
      SortOrder(BoundReference(3, DoubleType, nullable = true), Descending),
      SortOrder(BoundReference(2, idType, nullable = true), Ascending)))

  /** [[winnersOf]]'s total order over [[AdcPart]] rows — batch DESC,
    * tombstone first, then codes, nrm and c_id ASC: a row sorting
    * before another outranks it.
    */
  private def winnerOrdering: Ordering[InternalRow] =
    new InterpretedOrdering(Seq(
      SortOrder(BoundReference(4, LongType, nullable = true), Descending),
      SortOrder(BoundReference(5, BooleanType, nullable = true), Descending),
      SortOrder(BoundReference(6, ArrayType(ByteType), nullable = true),
        Ascending),
      SortOrder(BoundReference(7, DoubleType, nullable = true), Ascending),
      SortOrder(BoundReference(8, IntegerType, nullable = true), Ascending)))

  /** One partition's share of the interactive ADC scan, whose rows are
    * (group, query, id, sim, b, tombstone, codes, nrm, c_id, candidate,
    * key): its best candidates per group, the last kept row of each
    * group it cut, and the rows flagged as keys (one per scanned row of
    * a batch ≥ 1).
    */
  private final case class AdcPart(tops: Array[InternalRow],
                                   cuts: Array[InternalRow],
                                   keys: Array[InternalRow])

  private def adcPart(rows: Iterator[InternalRow], n: Int,
                      ord: Ordering[InternalRow]): AdcPart = {
    val tops = new GroupTops(n, ord)
    val keys = Array.newBuilder[InternalRow]
    rows.foreach { r =>
      if (r.getBoolean(10)) keys += r.copy()
      if (r.getBoolean(9)) tops.offer(r)
    }
    AdcPart(tops.rows, tops.cuts, keys.result())
  }

  /** The best `n` rows of each group (column 0) under `ord`: one bounded
    * heap per group, rows copied as kept (scan rows are reused buffers).
    * `cuts` are the last kept rows of the groups that offered more.
    */
  private final class GroupTops(n: Int, ord: Ordering[InternalRow]) {
    private val heaps = scala.collection.mutable.HashMap
      .empty[Int, java.util.PriorityQueue[InternalRow]]
    private val cut = scala.collection.mutable.HashSet.empty[Int]
    def offer(r: InternalRow): Unit = {
      val h = heaps.getOrElseUpdate(r.getInt(0),
        new java.util.PriorityQueue[InternalRow](ord.reverse))
      if (h.size < n) h.add(r.copy())
      else {
        cut += r.getInt(0)
        if (ord.lt(r, h.peek)) { h.poll(); h.add(r.copy()) }
      }
    }
    def rows: Array[InternalRow] =
      heaps.valuesIterator.flatMap(_.iterator.asScala).toArray
    def cuts: Array[InternalRow] = cut.iterator.map(heaps(_).peek).toArray
  }

  private def topOf(rows: Iterator[InternalRow], n: Int,
                    ord: Ordering[InternalRow]): Array[InternalRow] = {
    val tops = new GroupTops(n, ord)
    rows.foreach(tops.offer)
    tops.rows
  }

  /** The driver merge of per-partition tops: each group's best `n`,
    * sorted, by ascending group.
    */
  private def rankPerGroup(rows: Seq[InternalRow], n: Int,
                           ord: Ordering[InternalRow])
      : Seq[(Int, Seq[InternalRow])] =
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (g, rs) => g -> rs.sorted(ord).take(n) }

  /** Execute `df` as one SQL execution (listeners and the UI see its
    * plan, like any action) and collect `f` of each partition's rows,
    * computed on the executors.
    */
  private def collectPartitions[T: scala.reflect.ClassTag](df: DataFrame)(
      f: Iterator[InternalRow] => T): Array[T] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.toRdd.mapPartitions(rows => Iterator(f(rows))).collect())
  }
}
