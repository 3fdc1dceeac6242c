package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model._

/** Incremental index maintenance — the MAINT_STREAM analog (SURVEY §7.1 M3).
  *
  * Implements the reference's upsert/retraction routing
  * (`TransformRoute` opcode switch, reference `Projector/indexjs.go:123-189`)
  * as a batch merge:
  *
  *   - MUTATION with passing WHERE → delete the docid's old entries, insert
  *     the new key (`AddUpsert`, reference `:128-144`).
  *   - MUTATION leaving the WHERE set → delete only
  *     (`AddUpsertDeletion`, reference `:145-158`).
  *   - DELETION / EXPIRATION → delete (`AddDeletion`, reference `:159-189`);
  *     when the old key is unknown the reference broadcasts the delete to
  *     every endpoint (`:176`) — here that is exactly an anti-join of the
  *     index against the deleted docids ([[deleteBroadcast]]).
  *   - `retainDeletedXattr` rewrites DELETION/EXPIRATION to MUTATION first
  *     (reference `Projector/indexjs.go:92-99`).
  *   - `immutable` indexes skip the old-entry delete — append-only fast path
  *     (reference NOTE at `Projector/indexjs.go:159-160`).
  *
  * Scale shape: one micro-batch touches few docids relative to the index, so
  * the anti-join build side (the batch's docids) is broadcast — no shuffle of
  * the big index. Within the batch, last-writer-wins per docid is a window
  * over (docid, seqno), shuffling only the batch.
  */
object IndexMaintainer {

  /** Collapse a change batch to its final state per docid (last writer wins
    * by seqno) — the net effect of replaying the batch in order.
    *
    * Hash aggregate with `max_by` on seqno, not a row_number window: the
    * aggregate combines map-side (each input partition reduces to its local
    * winners before the shuffle), so the exchange carries one row per
    * (partition, docid) instead of the whole batch, and nothing is sorted.
    */
  def latestPerDocid(batch: DataFrame): DataFrame = {
    val payload = batch.columns.filter(_ != "docid").toSeq
    val packed = struct(payload.map(col): _*)
    batch.groupBy("docid").agg(max_by(packed, col("seqno")).as("__s"))
      .select(col("docid") +: payload.map(c => col(s"__s.$c").as(c)): _*)
  }

  /** Apply one change batch to an index.
    *
    * @param index   current entries `(key..., docid)`
    * @param batch   change batch: `opcode, docid, seqno` + payload columns
    *                that `defn`'s key expressions / WHERE reference
    * @param defn    the index definition (keys via `secExprs`, WHERE, flags)
    * @param boundedBatch the batch's docid set fits a broadcast (true for
    *                micro-batches bounded by a stream trigger — the
    *                retraction anti-join broadcasts the touched set with no
    *                size-probe job). Pass FALSE for unbounded batches (bulk
    *                replays, whole-feed folds at scale): the touched-set
    *                join is then left to the planner, which shuffles when
    *                stats demand it (AQE still broadcasts small sets at
    *                runtime). Callers deleting an ARBITRARILY large
    *                explicit id set should use the count-guarded
    *                [[deleteBroadcast]] directly — merge itself never
    *                routes through it.
    */
  def merge(index: DataFrame, batch: DataFrame, defn: IndexDef,
            boundedBatch: Boolean = true): DataFrame =
    // The per-docid batch aggregate feeds BOTH the upsert projection and
    // the touched-docid delete set. LAZY local checkpoint: the aggregate
    // computes once (persisted partitions shared by both consumers) the
    // first time the merged plan actually runs, but no driver-blocking job
    // fires here — a fold of N merges stays a single deferred pipeline.
    // (An eager checkpoint per merge costs 2-3 scheduler round-trips per
    // batch; plain sharing without the barrier re-executes the batch scan
    // and shuffle per consumer — AQE plans each branch's exchange as its
    // own query stage and does not reuse them.)
    mergeCollapsed(index,
      graft.plans.LazyCheckpoint.shared(latestPerDocid(batch)), defn,
      boundedBatch)

  /** [[merge]] over a batch ALREADY collapsed by [[latestPerDocid]]: the
    * form for callers that collapse one batch once and merge it into
    * several indexes. `collapsed` is read twice (upserts and the touched
    * set), so it should be materialized or lazily checkpointed. Extra
    * columns are ignored. Exact because the collapse commutes with both
    * per-index steps: the `retainDeletedXattr` opcode rewrite (it keeps
    * seqno, so the same row wins) and a seqno floor
    * (`latestPerDocid(b.filter(seqno > f)) ==
    * latestPerDocid(b).filter(seqno > f)`: a docid's winner is its max
    * seqno, which clears the floor iff any of its rows does).
    */
  def mergeCollapsed(index: DataFrame, collapsed: DataFrame, defn: IndexDef,
                     boundedBatch: Boolean = true): DataFrame = {
    val latest =
      if (defn.retainDeletedXattr)
        collapsed.withColumn("opcode", lit(Opcode.Mutation))
      else collapsed

    val mutations = latest.filter(col("opcode") === Opcode.Mutation)
    val surviving = defn.whereExpr.fold(mutations)(w => mutations.filter(expr(w)))

    // funcName (lambda) maintenance would need the catalog threaded through
    // every merge site — fail fast with a real message instead of the
    // opaque empty.reduce the keyless path used to die with.
    require(defn.funcName.isEmpty,
      s"merge supports expression-keyed and primary indexes; " +
        s"index ${defn.name} is function-keyed (build it with IndexBuilder)")

    val upserts =
      if (defn.isPrimary) surviving.select(col("docid"))
      else {
        require(defn.secExprs.nonEmpty,
          s"index ${defn.name}: non-primary merge needs secExprs")
        if (defn.isArrayIndex) {
          // one entry per array element (O12) — array indexes are
          // maintained on the MAINT stream like any other
          require(defn.secExprs.length == 1,
            "array index takes one array-valued key")
          surviving.select(explode(expr(defn.secExprs.head)).as("key"),
              col("docid"))
            .filter(col("key").isNotNull)
        } else {
          val keyCols = defn.secExprs.zip(IndexBuilder.keyNames(defn.secExprs.length))
            .map { case (e, n) => expr(e).as(n) }
          surviving.select(keyCols :+ col("docid").as("docid"): _*)
            .filter(IndexBuilder.keyNames(defn.secExprs.length)
              .map(col(_).isNotNull).reduce(_ || _))
        }
      }

    if (defn.immutable) {
      index.unionByName(upserts)
    } else {
      // Every docid touched by the batch sheds its old entries (covers
      // key-change retraction, WHERE-set exit, and deletion in one pass).
      // A micro-batch's docid set is bounded by the stream trigger, so the
      // anti-join build side broadcasts unconditionally — the index side
      // streams, never shuffles, and no size-probe job runs per merge.
      // Callers merging UNBOUNDED batches pass boundedBatch = false: the
      // hint is dropped and the planner/AQE picks the join from stats
      // rather than forcing an arbitrarily large set through the driver.
      val touched = latest.select("docid")
      index.join(if (boundedBatch) broadcast(touched) else touched,
          Seq("docid"), "left_anti")
        .unionByName(upserts)
    }
  }

  /** Broadcast delete: remove all entries of the given docids, without
    * knowing their old keys (reference delete-broadcast,
    * `Projector/indexjs.go:176`). A typical change batch's docid set is
    * small → broadcast hash anti-join, the index never shuffles. A bulk
    * delete (millions of docids) must NOT be forced through the driver:
    * the deduped set is counted first (one cheap map-side-partial agg job)
    * and anything above `maxBroadcastRows` falls back to a shuffle
    * anti-join (AQE still broadcasts at runtime if stats allow).
    *
    * NOTE: the size guard makes this call EAGER (it runs the docid-set job
    * at call time to pick the join strategy); the deduped set is
    * materialized so the anti-join reuses it rather than re-executing the
    * docids plan.
    */
  def deleteBroadcast(index: DataFrame, docids: DataFrame,
                      maxBroadcastRows: Long = 4L * 1000 * 1000,
                      distinctAlready: Boolean = false): DataFrame = {
    // ALWAYS checkpointed here: the count() below picks the join
    // strategy and the anti-join must then consume the SAME rows — an
    // un-materialized (or nondeterministic) docids plan would execute
    // twice, and the guard decision could be made on different rows
    // than the join sees
    val base =
      if (distinctAlready) docids.select("docid")
      else docids.select("docid").distinct()
    val ids = base.localCheckpoint()
    val side = if (ids.count() <= maxBroadcastRows) broadcast(ids) else ids
    index.join(side, Seq("docid"), "left_anti")
  }

  /** Consistency-level scan (O16, reference `Projector/index.go:137-156`):
    *  - Any:     current index as-is.
    *  - Query:   rebuild state as of a supplied seqno vector — apply only
    *             changes with `seqno <= cutoff`.
    * Session consistency is Query with the cutoff captured from the source's
    * current high-water mark.
    */
  def scanAtSeqno(index: DataFrame, changes: DataFrame, defn: IndexDef,
                  cutoff: Long): DataFrame =
    // a seqno-bounded replay is NOT trigger-bounded — let stats pick the join
    merge(index, changes.filter(col("seqno") <= cutoff), defn,
      boundedBatch = false)

  /** Session consistency: Query consistency with the cutoff captured from
    * the feed's current high-water mark at call time — read-your-own-writes
    * relative to the moment the scan was issued (reference
    * `SessionConsistency`, `Projector/index.go:144-148`).
    */
  def scanSession(index: DataFrame, changes: DataFrame, defn: IndexDef): DataFrame = {
    val hwmRow = changes.agg(max("seqno")).head()
    if (hwmRow.isNullAt(0)) index // empty feed: nothing to apply
    else scanAtSeqno(index, changes, defn, hwmRow.getLong(0))
  }
}
