package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    // one job per action, so the toy call's job count is exact
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a toy two-job call is attributed to its span, an outside job is not") {
    val ledger = new Ledger(spark, enabled = true)
    ledger.span("toy") {
      spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count().collect()
      spark.range(100).collect()
    }
    spark.range(10).collect() // outside any span
    ledger.span("idle") { Thread.sleep(50) }
    ledger.drain()
    val m = ledger.siteMetrics(Seq("toy", "idle", "absent"), None)
    assert(m("toy.jobs") == 2.0)
    assert(m("toy.task_s") > 0.0)
    assert(m("toy.shuffle_bytes") > 0.0)
    assert(m("toy.wall_s") >= m("toy.driver_gap_s"))
    assert(m("idle.jobs") == 0.0)
    assert(m("idle.driver_gap_s") >= 0.045)
    assert(m("absent.wall_s") == 0.0 && m("absent.jobs") == 0.0)
  }

  test("nested spans record their parent, and self time excludes children") {
    val ledger = new Ledger(spark, enabled = true)
    ledger.span("outer", op = 7) {
      Thread.sleep(20)
      ledger.span("inner", op = 7) { Thread.sleep(40) }
    }
    val spans = ledger.allSpans(None)
    val outer = spans.find(_.name == "outer").get
    val inner = spans.find(_.name == "inner").get
    assert(inner.parent == outer.id && outer.parent == 0L && inner.op == 7L)
    val path = java.nio.file.Files.createTempFile("spans", ".jsonl")
    ledger.write(path, None)
    val lines = java.nio.file.Files.readAllLines(path)
    assert(lines.size == 2)
    val self = "\"self_ms\":([0-9.E-]+)".r
    val outerSelf = self.findFirstMatchIn(lines.get(0)).get.group(1).toDouble
    assert(outerSelf < outer.wallMs - 35)
    val uncovered = ledger.uncoveredShare(outer.startMs - 100, outer.endMs, None)
    assert(uncovered > 0.5 && uncovered < 0.9)
  }

  test("a disabled ledger registers nothing and only runs the body") {
    val ledger = new Ledger(spark, enabled = false)
    assert(ledger.span("x") { 41 + 1 } == 42)
    assert(ledger.allSpans(None).isEmpty)
  }
}
