package graft.plans

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions.fail

/** Reads the physical plan a `localCheckpoint` materialization ran (a
  * [[Lineage.cut]] or a direct checkpoint). Checkpoint jobs never
  * appear in the consumer's final plan; Spark reports them to
  * query-execution listeners under the action name `localCheckpoint`.
  */
object CutPlan {

  /** Runs `build` and returns its result with the executed plan of the
    * first checkpoint whose output columns are `columns`. Listener
    * events arrive asynchronously, so this waits up to 30 s for it. */
  def capture[T](spark: SparkSession, columns: Seq[String])
                (build: => T): (T, SparkPlan) = {
    val seen = new LinkedBlockingQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (action == "localCheckpoint" &&
            qe.analyzed.output.map(_.name) == columns)
          seen.add(qe.executedPlan)
      override def onFailure(action: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = build
      (out, Option(seen.poll(30, TimeUnit.SECONDS)).getOrElse(
        fail(s"no checkpoint of (${columns.mkString(", ")}) ran")))
    } finally spark.listenerManager.unregister(listener)
  }
}
