package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** `BENCHMARK.json` and the metric catalogue stay in step. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private lazy val bench: JValue = {
    val p = Seq(Paths.get("BENCHMARK.json"), Paths.get("../BENCHMARK.json"))
      .find(Files.exists(_)).getOrElse(fail("BENCHMARK.json not found"))
    parse(new String(Files.readAllBytes(p), "UTF-8"))
  }

  private def entries(key: String): Seq[Map[String, Any]] =
    (bench \ key).asInstanceOf[JArray].arr.map(_.values.asInstanceOf[Map[String, Any]])

  test("end-to-end metrics match the catalogue, with bounds") {
    val got = entries("end_to_end").map(m =>
      (m("name"), m("unit"), m("better"), m("bound").asInstanceOf[Number].doubleValue))
    assert(got == Metrics.endToEnd.map(m => (m.name, m.unit, m.better, m.bound)))
    assert(got.forall(_._4 <= 0.25))
    assert(got.find(_._1 == "setup_s").exists(m => m._2 == "s" && m._3 == "lower"))
  }

  test("per-layer metrics match the catalogue and fit the 128 limit") {
    val got = entries("per_layer").map(m => (m("name"), m("unit"), m("better")))
    val want = Metrics.perLayer.map { case (n, u) =>
      (n, u, if (Metrics.higherIsBetter(n)) "higher" else "lower") }
    assert(got == want)
    assert(got.length <= 128 && got.map(_._1).distinct.length == got.length)
  }

  test("workloads are the ones the entry point runs") {
    val names = entries("workloads").map(_("name"))
    assert(names.toSet == Main.workloads.keySet)
  }
}
