package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftinternal.GraftBus
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** `Verify.dump` writes the rows of a scoped query's own pinned plan:
  * every plan its actions run still carries the query's rewrite, though
  * the query's scope closed when the frame was returned.
  */
class VerifySpec extends SparkSpec {

  /** The query executions of every action `body` runs in the session. */
  private def actionsOf(body: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; GraftBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private def dumped(query: String): (Seq[QueryExecution], Long) = {
    val out = Scratch.dir(query)
    val actions = actionsOf(Verify.dump(SparkEntry.queries(query)(spark, sf), out))
    assert(actions.nonEmpty, query)
    (actions, spark.read.parquet(out).count())
  }

  test("events_sargable_day's dump runs only plans with the date_format rewritten away") {
    val (actions, rows) = dumped("events_sargable_day")
    assert(rows > 0)
    for (qe <- actions; plan <- Seq(qe.optimizedPlan.toString, qe.executedPlan.toString))
      assert(!plan.contains("date_format"), plan)
  }

  test("agg_mv_rewrite's dump scans the view's directory") {
    val (actions, rows) = dumped("agg_mv_rewrite")
    assert(rows > 0)
    val scanned = actions.flatMap(_.optimizedPlan.collectLeaves().collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths.map(_.getName)
    }.flatten)
    assert(scanned.exists(_.startsWith("monthly_orders_")), scanned)
  }
}
