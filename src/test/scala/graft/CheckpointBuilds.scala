package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The checkpoint builds a session runs, for the plan walkers
  * (`PlanPinSpec`, `ShufflePinSpec`, `PlanSweep`). A checkpoint leaf
  * (a `Memo` frame, a loop phase, a measured intermediate) is an
  * `RDDScan` whose plan is gone from the consumer's tree; each
  * `localCheckpoint` runs as its own SQL execution, which this
  * listener keeps with the plan that built it. `keep` selects
  * executions by action name (`PlanSweep` keeps every one).
  * Register it with `spark.listenerManager`. */
final class CheckpointBuilds(spark: SparkSession,
                             keep: String => Boolean = _ == "localCheckpoint")
    extends QueryExecutionListener {
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (keep(funcName)) qes.add(qe)
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** The executions kept since the last call, once the listener bus
    * has delivered every pending event. */
  def drain(): Seq[QueryExecution] = {
    Bench.drain(spark.sparkContext)
    Iterator.continually(qes.poll()).takeWhile(_ != null).toList
  }
}
