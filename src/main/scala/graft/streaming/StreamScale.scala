package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Scale rule for STREAMING state partitions, distinct from the batch
  * shuffle-partition rule ([[graft.GraftSession]] sizes batch shuffles
  * at ≈ total cores and lets AQE coalesce — correct for batch, where a
  * partition's only cost is its data).
  *
  * A stateful streaming partition additionally pays a FIXED per-batch,
  * per-state-store toll that batch shuffles never see: Spark resolves
  * every store instance through a JVM-global provider registry whose
  * acquisition path — `StateStore.getStateStoreProvider`, holding the
  * `loadedProviders` lock around a synchronous coordinator RPC — runs
  * once per store per micro-batch and SERIALIZES across the JVM's
  * tasks. Measured here (sf0.1, local[32], stream-stream interval
  * join = 4 stores/partition): 32 state partitions → the two join
  * stages carry 92.6 s + 71.4 s of task time for ~0.27 M candidate
  * pairs, with thread dumps showing 25/45 executor samples parked in
  * `getStateStoreProvider`; 8 partitions → 5.8 s + 3.7 s (16×, i.e.
  * superlinear — lock convoy, not data). AQE cannot help: stateful
  * partition counts are pinned into the checkpoint at first batch and
  * are exempt from coalescing by design.
  *
  * So state partitions size by cores/4 (floor 4): still ∝ cluster
  * size — a bigger cluster gets proportionally more state partitions,
  * so per-partition state volume keeps shrinking at scale — while
  * dividing the fixed per-partition-per-batch registry/commit/
  * maintenance toll by 4. Override via
  * `spark.graft.stream.statePartitions` for deployments whose state
  * volume, not their core count, should set the figure (the knob the
  * checkpoint pins thereafter).
  */
object StreamScale {

  def statePartitions(spark: SparkSession): Int = {
    val cores = spark.sparkContext.defaultParallelism
    spark.conf.getOption("spark.graft.stream.statePartitions")
      .map(_.toInt).getOrElse(math.max(4, cores / 4))
  }

  /** Start and fully drain a (Trigger.AvailableNow) streaming query
    * under the streaming state-partition rule, then restore the batch
    * shuffle sizing. The conf must stay at the stream value until the
    * stream TERMINATES, not just until `start()` returns: the partition
    * count is read on the micro-batch thread when batch 0 is planned
    * (and then pinned into the checkpoint), which races a caller-side
    * restore. Scope the thunk to construction + start of the one query.
    *
    * CONCURRENCY HAZARD (necessarily — the conf is session-global and
    * must hold for the stream's whole lifetime): any batch query
    * planned on the SAME session while the stream drains — including
    * batch jobs inside the stream's own foreachBatch, and any action a
    * caller overlaps with the drain ([[graft.plans.Overlap]]) — plans
    * with the reduced shuffle-partition count. That changes
    * PARALLELISM, never values: per-row results are partition-count-
    * independent everywhere in this engine (callers overlapping work
    * with a drain own that check). Isolation via `spark.newSession()`
    * is deliberately NOT used: the bench's queries register temp views
    * and reuse the session's conf knobs, and a cloned session would
    * silently detach both.
    *
    * `joinState = true` also holds the stream-stream-join state store
    * ([[JoinStateConf]]) for the same lifetime. That is the only other
    * conf a drain may hold, so no caller can pin an arbitrary session
    * conf under legs that [[graft.plans.Overlap]] plans meanwhile.
    * Each saved value — set or unset — is restored exactly.
    */
  def runDrained(spark: SparkSession, joinState: Boolean = false)
                (body: => StreamingQuery): StreamingQuery = {
    val confs = ("spark.sql.shuffle.partitions" ->
      statePartitions(spark).toString) +:
      (if (joinState) JoinStateConf else Nil)
    val saved = confs.map { case (k, v) =>
      val prev = spark.conf.getOption(k)
      spark.conf.set(k, v)
      k -> prev
    }
    try {
      val q = body
      q.awaitTermination()
      q
    } finally saved.reverse.foreach {
      case (k, Some(prev)) => spark.conf.set(k, prev)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The STREAM-STREAM-JOIN start configuration: RocksDB state store
    * with virtual-column-family join state (`stateFormatVersion = 3`) —
    * ONE store per partition instead of the HDFS backend's FOUR, so the
    * JVM-global `loadedProviders` acquisition toll (the lock convoy the
    * cores/4 rule divides) is divided again by 4 and the remaining
    * store is the purpose-built large-state backend. Measured at
    * sf0.1/local[32] on `events_stream_join` (warm): task time
    * 8.6 → 7.1 s at cores/4 state partitions, 127 → 40.6 s at 32 — the
    * win grows with partition count, i.e. with cluster size. Composes
    * WITH the cores/4 rule, not instead of it.
    *
    * No kill-switch: the win grows with cluster size, so there is no
    * scale at which the default backend is the better join store.
    * Applied per stream (the other stateful streams carry ONE store per
    * partition, where the HDFS backend measured neutral-to-better —
    * `events_stream_dedup` 1.43 vs 1.83 warm).
    */
  private val JoinStateConf = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"),
    "spark.sql.streaming.join.stateFormatVersion" -> "3")
}
