package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** What a region of code actually executed: every query execution the
  * session finished while `body` ran, in completion order, with its final
  * (post-AQE) physical plan and the metrics its `Dataset.observe` nodes
  * reported. Eager `checkpoint`/`localCheckpoint` are query executions
  * too, so iterative operators (CC rounds, trainer checkpoints) show each
  * plan they ran, not a composed plan they never run.
  */
object ExecutedPlans {

  /** One finished query execution: the action name (`collect`,
    * `localCheckpoint`, `checkpoint`, `command`, ...), its final physical
    * plan and its observed metrics by name. */
  final case class Run(action: String, plan: SparkPlan,
                       observed: Map[String, Row])

  /** Runs `body` and returns its value with the executions it finished.
    * The listener bus is drained on both sides, so executions finished
    * before the call stay out and every one finished inside is in. Only
    * queries of `spark`'s session are seen; a query another thread runs
    * on the same session meanwhile is captured too.
    */
  def capture[T](spark: SparkSession)(body: => T): (T, Seq[Run]) = {
    val runs = new ConcurrentLinkedQueue[Run]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        runs.add(Run(action, qe.executedPlan, qe.observedMetrics))
      override def onFailure(action: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    Bridge.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val out = body
      Bridge.drainListenerBus(spark)
      (out, runs.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
