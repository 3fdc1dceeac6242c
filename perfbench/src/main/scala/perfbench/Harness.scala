package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload's timed run hands back to the harness. */
final case class Outcome(
    endToEnd: Map[String, Double],
    /** The workload's own metrics under their descriptive names. */
    named: Map[String, Double],
    /** The samples behind each reported percentile, by metric. */
    samples: Map[String, Seq[Double]],
    attempted: Long,
    failed: Long,
    layer: Map[String, Double],
    timedFromMs: Double,
    timedToMs: Double,
    checks: Seq[(String, Boolean)])

final case class RunCtx(spark: SparkSession, ledger: Ledger,
                        watch: StreamWatch, seconds: Int, work: Path)

trait Workload {
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Write every input of the run under `in`. */
  def generate(in: Path): Unit
  /** Registration and training under `dir`: what a user pays before the
    * first call. The harness sets up several times, each in a fresh
    * session, and keeps the last.
    */
  def setup(spark: SparkSession, dir: Path): Unit
  /** Every timed code path once, on small inputs under `dir` and in the
    * session of the last set-up, so the timed phases run warm paths.
    */
  def warmUp(spark: SparkSession, dir: Path): Unit
  /** The timed phases, then the output checks. */
  def run(ctx: RunCtx): Outcome
}

object Harness {

  def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    java.nio.file.Files.createDirectories(local)
    System.setProperty("spark.local.dir", local.toString)
    System.setProperty("spark.sql.warehouse.dir",
      work.resolve("warehouse").toString)
    System.setProperty("derby.system.home", work.resolve("derby").toString)
    System.setProperty("spark.ui.enabled", "false")
    val spark = graft.GraftSession.create("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** `setupS` is the median over [[Workload.setupReps]] set-ups of
    * session start to set-up end; `coldSetupS` runs from process start to the end of
    * the first set-up, less the time spent generating inputs; `warmUpS`
    * is the one warm-up that follows the last set-up.
    */
  final case class Result(outcome: Outcome, setupS: Double,
                          setupRepsS: Seq[Double], coldSetupS: Double,
                          warmUpS: Double, generateS: Double, perLayer: Map[String, Double],
                          stealFrac: Double)

  /** (steal, total) CPU ticks of the host so far; zeros where the
    * kernel does not report them. Steal is time the hypervisor gave this
    * machine's CPUs to someone else: a noisy neighbour, not the engine.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      val xs = cpu.split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    } catch { case _: Exception => (0L, 0L) }

  def run(wl: Workload, work: Path, seconds: Int, trace: Boolean): Result = {
    val g0 = System.nanoTime()
    wl.generate(work.resolve("in"))
    val generateS = (System.nanoTime() - g0) / 1e9

    var spark: SparkSession = null
    try {
      var coldSetupS = 0.0
      val setupRepsS = (0 until wl.setupReps).map { i =>
        if (spark != null) stop(spark)
        val s0 = System.nanoTime()
        spark = session(work)
        wl.setup(spark, work.resolve(s"setup-$i"))
        if (i == 0) coldSetupS = (System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0 - generateS
        (System.nanoTime() - s0) / 1e9
      }
      val setupS = Stats.median(setupRepsS)
      val w0 = System.nanoTime()
      wl.warmUp(spark, work.resolve("warm-up"))
      val warmUpS = (System.nanoTime() - w0) / 1e9
      val watch = new StreamWatch
      spark.streams.addListener(watch)
      val ledger = new Ledger(spark, trace)
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val (steal0, total0) = cpuTicks()
      val out = wl.run(RunCtx(spark, ledger, watch, seconds, work))
      val (steal1, total1) = cpuTicks()
      val stealFrac =
        if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
      val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0
      val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val perLayer =
        if (!trace) Map.empty[String, Double]
        else {
          ledger.drain()
          val sites = ledger.siteMetrics(Metrics.sites, Some(watch))
          ledger.write(work.getParent.getParent.resolve("traces")
            .resolve(s"${work.getFileName}.spans.jsonl"), Some(watch))
          val measured = sites ++ out.layer ++ Map(
            "spark.failed_tasks" -> ledger.failedTasks.toDouble,
            "driver.gc_s" -> gcS,
            "driver.heap_peak_mb" -> heapMb,
            "trace.uncovered_frac" -> ledger.uncoveredShare(
              out.timedFromMs, out.timedToMs, Some(watch)))
          Metrics.perLayer.map { case (n, _) =>
            n -> measured.getOrElse(n, 0.0) }.toMap
        }
      Result(out, setupS, setupRepsS, coldSetupS, warmUpS, generateS, perLayer, stealFrac)
    } finally if (spark != null) stop(spark)
  }
}
