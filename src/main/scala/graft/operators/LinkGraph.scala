package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.EpochStore

/** The LINK GRAPH as a standing, versioned artifact — the
  * [[graft.streaming.EpochStore]] convention ([[AnnIndex]] /
  * [[Retrieval]]'s shape) applied to the crawl's edge set: no
  * production crawler re-walks every page's anchors each time a
  * consumer wants a rank table; the graph is built once, maintained
  * by idempotent edge batches as discovery waves land, and every
  * consumer (the rank table, the OPIC frontier scorer, recrawl
  * budgeting) probes the stored edges.
  *
  * Reference analog: the stream-maintained standing index over
  * mutations (`/root/reference/Projector/kv_sender.go:134-218` — the
  * open-stream / add-index / close-stream lifecycle) — the graph is
  * an index OF the link structure, maintained the same way.
  *
  * Store layout (one epoch, one table): `e=<epoch>/edges/b=<batch>` —
  * batch 0 the seed, batches ≥ 1 discovery waves. A re-delivered
  * batch id overwrites its own directory wholesale
  * ([[EpochStore.writeBatch]]), so at-least-once delivery cannot
  * double an edge; readers union committed batches and fold
  * duplicates with one `distinct` (edges are facts — re-observing one
  * is idempotent by meaning, not just by plumbing). Rotation
  * ([[EpochStore.rotate]]) folds the batches into the next epoch's
  * frozen base when the batch count grows.
  *
  * Scale shape: edges are domain-cardinality (the crawl's host graph,
  * not its page bytes); the rank iteration is the classic distributed
  * PageRank step — one equi-join on the edge key + one aggregation
  * per iteration, dangling mass a 1-row broadcast — and reads the
  * stored parquet partition-parallel. Nothing here scans a corpus.
  */
object LinkGraph {

  val EdgesTable = "edges"

  /** Seed a new store: the edge set as epoch 0's frozen base
    * (batch 0), committed atomically. `edges` must carry (src, dst).
    */
  def seed(edges: DataFrame, root: String): EpochStore.Ref = {
    val ref = EpochStore.claimNext(root)
    EpochStore.writeBatch(edges.select("src", "dst").distinct(),
      ref, EdgesTable, 0L)
    EpochStore.commit(ref)
    ref
  }

  /** Ingest one discovery wave's edges as batch `batchId` (≥ 1) —
    * wholesale overwrite of the batch directory, so a redelivered
    * wave is idempotent.
    */
  def ingest(edges: DataFrame, ref: EpochStore.Ref,
             batchId: Long): Unit = {
    graft.functions.VersionedSlots.requireAppend(batchId)
    EpochStore.writeBatch(edges.select("src", "dst").distinct(),
      ref, EdgesTable, batchId)
  }

  /** The stored edge set: every committed batch, duplicate
    * observations folded (an edge seen by two waves is one edge).
    */
  def edges(spark: SparkSession, ref: EpochStore.Ref): DataFrame =
    EpochStore.readAll(spark, ref, EdgesTable).distinct()

  /** `iters` power iterations of INTEGER-EXACT PageRank over an edge
    * set — ranks in nanos of probability mass, `pr0 = 10^9 / N`, each
    * step `pr' = (15·(10^9/N))/100 + (85·(Σ_{u→v} pr(u)/outdeg(u) +
    * dangling/N))/100` with FLOOR division throughout (`dangling` =
    * rank mass on nodes with no outlinks, redistributed uniformly).
    * Integer by contract so a SQL oracle can replay it without
    * float summation-order hazards. Self-loops must be dropped by the
    * caller (a page voting for itself is not a signal).
    *
    * Per iteration: one shuffle join on the edge key + one
    * aggregation; the node count and the dangling mass are 1-row
    * broadcasts. Returns (node, pr, n).
    */
  def ranks(edges: DataFrame, iters: Int = 3): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val nRow = broadcast(nodes.agg(count(lit(1)).as("n")))
    // materialized once: every iteration's degree join reads it
    val outdeg = graft.plans.LazyCheckpoint.shared(
      edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    // `div` (integral division) everywhere — Spark's `/` on longs is
    // a DOUBLE divide, and float rounding near integer quotients
    // would break the replayable-in-integers contract
    var pr = nodes.crossJoin(nRow)
      .select(col("node"),
        expr("CAST(1000000000 AS BIGINT) div n").as("pr"), col("n"))
    for (_ <- 1 to iters) {
      // barrier per power iteration: the previous iterate feeds THREE
      // consumers (the degree join, the dangling-mass broadcast, the
      // next iterate's outer join) — left lazy, each consumer re-ran
      // the ENTIRE chain of earlier iterations, and since every earlier
      // iteration has the same fan-out the recompute compounds
      // geometrically with iters (the classic iterative-lineage blowup;
      // at corpus scale each redundant pass is a full graph join)
      val prCk = graft.plans.LazyCheckpoint.shared(pr)
      val withDeg = prCk.join(outdeg, prCk("node") === outdeg("src"), "left")
        .select(col("node"), col("pr"), col("n"), col("outdeg"))
      val dangRow = broadcast(withDeg.where(col("outdeg").isNull)
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dangling")))
      val contrib = withDeg.where(col("outdeg").isNotNull)
        .join(edges, withDeg("node") === edges("src"))
        .select(col("dst"), expr("pr div outdeg").as("share"))
        .groupBy(col("dst")).agg(sum(col("share")).as("contrib"))
      pr = prCk.select(col("node"), col("n"))
        .join(contrib, prCk("node") === contrib("dst"), "left")
        .crossJoin(dangRow)
        .select(col("node"),
          expr("(15 * (CAST(1000000000 AS BIGINT) div n)) div 100 + " +
            "(85 * (coalesce(contrib, CAST(0 AS BIGINT)) + " +
            "dangling div n)) div 100").as("pr"),
          col("n"))
    }
    pr
  }
}
