package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, `Test / fork := true`).
  * Small shuffle partition count keeps unit-scale plans fast while
  * preserving the multi-partition code paths.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** All physical nodes of an EXECUTED plan, descending through the AQE
    * wrappers (`AdaptiveSparkPlanExec`/`QueryStageExec`) a plain
    * `plan.collect` treats as leaves. Run an action on the frame first so
    * AQE has finalized its stages.
    */
  def physicalNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    graft.plans.ExecutedPlans.nodes(df.queryExecution.executedPlan)

  /** [[physicalNodes]] of every query EXECUTED while `body` runs — for
    * eager operators (the ANN probe) whose returned frame is
    * driver-local and no longer carries the scan that produced it.
    */
  def executedNodes(body: => Any)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    graft.plans.ExecutedPlans.during(spark)(body)._2

  /** Properties of every Spark job started while `body` runs, tagged
    * `tag` on the calling thread (and on every thread it starts) — the
    * job-count pins of control-plane budgets.
    */
  def jobsOf(tag: String)(body: => Any): Seq[java.util.Properties] = {
    val key = "graft.test.jobsTag"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          seen.add(e.properties)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc, 10000)
      sc.removeSparkListener(listener)
    }
    seen.toArray(Array.empty[java.util.Properties]).toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
