package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical plans a piece of code actually executed — how plan checks
  * (pruning, scan bytes) read operators that run their queries eagerly
  * and return driver-local rows, such as the interactive ANN probe.
  */
object ExecutedPlans {

  /** All physical nodes of an executed plan, descending through the AQE
    * wrappers (`AdaptiveSparkPlanExec`/`QueryStageExec`) a plain
    * `plan.collect` treats as leaves.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** `body`'s result and the [[nodes]] of every query of `spark` that
    * completed while it ran, as a `QueryExecutionListener` sees them.
    */
  def during[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result =
      try body
      finally {
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 10000)
        spark.listenerManager.unregister(listener)
      }
    (result, seen.asScala.toSeq.flatMap(qe => nodes(qe.executedPlan)))
  }
}
