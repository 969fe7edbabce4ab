package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Post-execution SQLMetrics rollup — the "measure, don't guess" hook:
  * run the plan, then read what it actually did (bytes shuffled, rows
  * produced, exchange count) off the executed plan's metrics instead of
  * estimating from the logical shape. Bench writes these per query
  * (`plan_metrics` in BENCH_LAST.json) next to the wall time; at
  * cluster scale the same numbers come from the SQL tab / history
  * server, and a per-query shuffle-bytes budget is the first regression
  * alarm a perf CI should raise (wall time is noisy, shuffled bytes are
  * not). */
object Measure {

  final case class PlanMetrics(
      shuffleBytes: Long, shuffleRecords: Long, exchanges: Int, rows: Long)

  /** Walk the EXECUTED plan (through AQE roots and reused exchanges)
    * and sum shuffle write metrics. Call only after an action on THIS
    * DataFrame's own QueryExecution: `GraftColumnBridge.forceOwnPlan(df)`,
    * as Bench does. `df.count()` would not do: it wraps the plan in a new
    * aggregate with a NEW QueryExecution, leaving this one's metrics
    * untouched — the classic observability trap. */
  def of(df: DataFrame): PlanMetrics = {
    var bytes = 0L
    var records = 0L
    var exchanges = 0
    // identity de-dup: a ReusedExchangeExec points at an exchange that
    // ALSO appears under its original parent — walking through both
    // paths would double-count the one materialization's bytes (and
    // inflate exactly the shuffle-bytes numbers a perf CI keys on)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        // AQE hides the materialized exchange inside a LEAF query-stage
        // node — children-only traversal would never see it
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          walk(r.child)
        case s: ShuffleExchangeLike =>
          exchanges += 1
          bytes += s.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
          records += s.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    val rows = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        a.executedPlan.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      case p => p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
    }
    PlanMetrics(bytes, records, exchanges, rows)
  }
}
