package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.{ChangeEvent, IndexDef, Opcode}
import graft.streaming.StreamingIndex

/** Control-plane budget of streaming maintenance, pinned as Spark job
  * counts (they do not drift with the host the way wall time does):
  * reading a committed store runs no job, and one micro-batch of a
  * three-index `maintainAll` stays within its 12-job budget, every job
  * attributed to the batch.
  */
class StreamingIndexJobsSpec extends SparkSpec {
  import spark.implicits._

  private val byValue = IndexDef("v", "ch", "docid",
    secExprs = Seq("value"), whereExpr = Some("value >= 0"))
  private val byArray = IndexDef("a", "ch", "docid",
    secExprs = Seq("array(value, value * 2)"), isArrayIndex = true)
  private val primary = IndexDef("p", "ch", "docid", isPrimary = true)

  private def ev(docid: Long, v: Double, seq: Long) =
    ChangeEvent(Opcode.Mutation, docid, Some(v), None, (docid % 4).toInt, seq)

  test("currentIndex on a committed store runs no Spark job") {
    val dir = Files.createTempDirectory("gjobsread").toString
    StreamingIndex.backfill((1L to 40L).map(d => (d, d.toDouble))
      .toDF("docid", "value"), byValue, dir, nPartitions = 8)
    val jobs = jobsOf("read") {
      StreamingIndex.currentIndex(spark, dir, byValue)
    }
    assert(jobs.isEmpty, s"currentIndex ran ${jobs.size} job(s)")
  }

  test("one micro-batch of a three-index maintainAll runs at most 12 " +
      "jobs, all attributed to the batch") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("gjobsmaint").toString
    val snapshot = (1L to 40L).map(d => (d, d.toDouble)).toDF("docid", "value")
    val defns = Seq(byValue, byArray, primary).map { d =>
      StreamingIndex.backfill(snapshot, d, s"$root/${d.name}", nPartitions = 8)
      d -> s"$root/${d.name}"
    }
    val stream = MemoryStream[ChangeEvent]
    stream.addData((1L to 40L).map(d => ev(d, d * 3.0, 100L + d)): _*)
    var queryId = ""
    val jobs = jobsOf("maintain") {
      val q = StreamingIndex.maintainAll(stream.toDF(), defns,
        Files.createTempDirectory("gjobsck").toString, nPartitions = 8)
      queryId = q.id.toString
      q.awaitTermination()
    }
    val batch0 = jobs.filter(p =>
      p.getProperty("sql.streaming.queryId") == queryId &&
        p.getProperty("streaming.sql.batchId") == "0")
    assert(batch0.size == jobs.size,
      s"${jobs.size - batch0.size} job(s) not attributed to batch 0")
    assert(batch0.nonEmpty && batch0.size <= 12,
      s"one micro-batch ran ${batch0.size} jobs (budget 12)")
    info(s"batch 0 ran ${batch0.size} jobs")
    // and the batch did its work
    assert(StreamingIndex.currentIndex(spark, s"$root/${byValue.name}", byValue)
      .select("key").as[Double].collect().toSet ==
      (1L to 40L).map(_ * 3.0).toSet)
  }
}
