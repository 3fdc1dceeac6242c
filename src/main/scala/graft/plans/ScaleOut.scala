package graft.plans

import org.apache.spark.sql.DataFrame

/** Input-parallelism remedies for scans that collapse to fewer tasks
  * than the session can run (optimization guide §2.5 "input skew": one
  * unsplittable or single-row-group file serializes every downstream
  * map stage on a handful of cores).
  */
object ScaleOut {

  /** Round-robin repartition `df` to the session's default parallelism —
    * but ONLY when its current partition count is below half of it.
    *
    * The guard is what makes this scale-correct rather than a local-mode
    * tuning: at production scale a corpus scan already yields ≥ cores
    * splits (`spark.sql.files.maxPartitionBytes` splits multi-GB files;
    * a 100 TB table is thousands of files), the condition is false, and
    * NO exchange is added — the plan is byte-identical to the unwidened
    * one. The condition only fires when the input physically cannot feed
    * the session's cores (tiny single-row-group parquet, one gzip
    * member), which is exactly the case the guide's "repartition
    * immediately after the read" remedy exists for.
    *
    * Use at the root of expensive per-row map work (codec fixtures,
    * decode/extract funnels, tokenizer encodes) — not blanket: a scan
    * feeding only cheap projections or an immediate shuffle gains
    * nothing and would pay the extra exchange.
    *
    * Round-robin keeps results deterministic: Spark sorts within the
    * input partition before assigning rows (SPARK-23207,
    * `spark.sql.execution.sortBeforeRepartition` default true), so a
    * retried task reproduces the same placement, and every consumer in
    * this engine is row-order-independent anyway (hash-verified
    * oracles, deterministic tie-breaks).
    *
    * There is no kill-switch: at cluster scale the guard already keeps
    * the plan unwidened, so a conf to force that would only ever
    * change local-mode plans.
    */
  def widen(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // SCAN-ROOT-ONLY, enforced: the partition probe below builds the
    // frame's physical RDD, and under AQE a frame containing an
    // exchange would EXECUTE its upstream query stages at
    // plan-construction time (and leave a discarded second lineage).
    // For a scan-rooted frame (leaf + narrow row ops — every call site)
    // the probe is metadata-only: it reads the file-split count, runs
    // no job. Anything wider skips widening instead of paying that.
    if (scanRooted(df) && df.rdd.getNumPartitions * 2 < cores)
      df.repartition(cores)
    else df
  }

  /** True when `df` is a leaf scan under narrow per-row operators only
    * (project/filter/alias) — the shapes whose RDD construction cannot
    * trigger stage execution. Limits are not admitted: a `GlobalLimit`
    * plans an exchange.
    */
  private def scanRooted(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def ok(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case u: UnaryNode => (u match {
        case _: Project | _: Filter | _: SubqueryAlias => true
        case _ => false
      }) && ok(u.child)
      case _ => false
    }
    ok(df.queryExecution.analyzed)
  }
}
