package perfbench

import java.nio.file.{Path, Paths}

/** Benchmark entry point:
  *
  * {{{
  * bash perfbench/run.sh --workload <index_maintain|retrieval>
  *   --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * Prints a human-readable report line, then, as the last line of
  * standard output, one JSON object with `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the
  * per-layer metrics traced).
  */
object Main {

  val workloads: Map[String, (Long, Path, Int) => Workload] = Map(
    "index_maintain" -> ((seed, work, s) => new IndexMaintain(seed, work, s)),
    "retrieval" -> ((seed, work, s) => new RetrievalLoad(seed, work, s)))

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(
        s"expected --name value pairs, got ${bad.mkString(" ")}")
    }.toMap
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace")
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    val w = kv.getOrElse("workload", "index_maintain")
    require(workloads.contains(w), s"unknown workload $w")
    val trace = kv.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    val seconds = kv.getOrElse("seconds", "15").toInt
    require(seconds >= 1, "--seconds must be positive")
    Args(w, kv.getOrElse("seed", "1").toLong, seconds, trace == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("work")
      .resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}")
    Gen.deleteTree(work)
    val code = try {
      val r = Harness.run(workloads(a.workload)(a.seed, work, a.seconds), work,
        a.seconds, a.trace)
      val o = r.outcome
      val correct = o.failed == 0 && o.checks.forall(_._2)
      val e2e = o.endToEnd + ("setup_s" -> r.setupS)
      val metrics =
        if (a.trace) Metrics.perLayer.map { case (n, u) =>
          n -> Map("value" -> r.perLayer(n), "unit" -> u) }
        else Metrics.endToEnd.map { m =>
          m.name -> Map("value" -> e2e(m.name), "unit" -> m.unit) }
      System.err.println("[perfbench] samples " + Json(o.samples))
      println("perfbench-report " + Json(Map(
        "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
        "seconds" -> a.seconds, "generate_s" -> r.generateS,
        "setup_s" -> r.setupS, "setup_reps_s" -> r.setupRepsS,
        "cold_setup_s" -> r.coldSetupS, "warm_up_s" -> r.warmUpS,
        "timed_wall_s" -> (o.timedToMs - o.timedFromMs) / 1000,
        "failed_frac" -> o.failed.toDouble / o.attempted,
        "host_steal_frac" -> r.stealFrac,
        "named" -> o.named,
        "samples" -> o.samples.map { case (k, xs) => k -> xs.length },
        // inter-quartile distance over the median of each op's samples
        "sample_spread" -> o.samples.collect {
          case (k, xs) if xs.length >= 2 => k -> Stats.spread(xs) },
        "checks" -> o.checks.map { case (n, ok) => Map(n -> ok) })))
      println(Json(Map("correct" -> correct, "attempted" -> o.attempted,
        "failed" -> o.failed,
        "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${a.workload} failed: $e")
        e.printStackTrace()
        1
    } finally Gen.deleteTree(work)
    sys.exit(code)
  }
}
