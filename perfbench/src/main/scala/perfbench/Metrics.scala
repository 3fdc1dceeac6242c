package perfbench

/** The metric catalogue. `BENCHMARK.json` lists exactly these names,
  * units and directions; a self-test keeps the two in step.
  */
object Metrics {

  final case class EndToEnd(name: String, unit: String, better: String,
                            bound: Double)

  /** Every workload reports every end-to-end metric; what each one
    * measures on each workload is documented in `perfbench/README.md`.
    */
  val endToEnd: Seq[EndToEnd] = Seq(
    EndToEnd("setup_s", "s", "lower", 0.25),
    EndToEnd("bulk_docs_per_s", "1/s", "higher", 0.25),
    EndToEnd("update_per_s", "1/s", "higher", 0.25),
    EndToEnd("op_ms_p50", "ms", "lower", 0.25),
    EndToEnd("lag_ms_p50", "ms", "lower", 0.25))

  val indexSites: Seq[String] = Seq(
    "IndexBuilder.build_expr", "IndexBuilder.build_lambda",
    "StreamingIndex.backfill", "StreamingIndex.batch",
    "StreamingIndex.currentIndex", "IndexScan.point", "IndexScan.range")

  val retrievalSites: Seq[String] = Seq(
    "AnnIndex.build", "Retrieval.buildBm25Index", "AnnIndex.probe",
    "Retrieval.hybridSearch", "AnnIndex.stream_batch",
    "Retrieval.bm25_stream_batch", "AnnIndex.compact")

  val curationSites: Seq[String] = Seq(
    "sources.warc", "TextOps.extract", "TextOps.langid", "TextOps.quality",
    "Dedup.minhashLsh", "TextOps.bpe", "Packing.pack")

  val sites: Seq[String] = indexSites ++ retrievalSites ++ curationSites

  val siteUnits: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "task_s" -> "s",
    "shuffle_bytes" -> "bytes", "driver_gap_s" -> "s")

  val extras: Seq[(String, String)] = Seq(
    "StreamingIndex.batch.queue_wait_ms" -> "ms",
    "StreamingIndex.batch.parts_rewritten" -> "count",
    "StreamingIndex.batch.write_amp" -> "ratio",
    "feed.late_ms_max" -> "ms",
    "IndexScan.rows_read_per_row" -> "ratio",
    "index.space_amp" -> "ratio",
    "AnnIndex.probe.rows_read_per_result" -> "ratio",
    "AnnIndex.committed_batches_at_probe" -> "count",
    "ann.recall_at_10" -> "fraction",
    "Retrieval.hybridSearch.ms_p50" -> "ms",
    "Dedup.minhashLsh.candidates_per_pair" -> "ratio",
    "TextOps.bpe.tokens_per_s" -> "1/s") ++
    curationSites.map(s => s"$s.rows_out" -> "count") ++ Seq(
    "spark.failed_tasks" -> "count",
    "driver.gc_s" -> "s",
    "driver.heap_peak_mb" -> "MB",
    "trace.uncovered_frac" -> "fraction")

  /** Every per-layer metric with its unit, in report order. */
  val perLayer: Seq[(String, String)] =
    sites.flatMap(s => siteUnits.map { case (m, u) => s"$s.$m" -> u }) ++
      extras

  /** Per-layer metrics where a larger value is better. */
  val higherIsBetter: Set[String] = Set("TextOps.bpe.tokens_per_s",
    "ann.recall_at_10")
}
