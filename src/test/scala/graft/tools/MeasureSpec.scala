package graft.tools

import graft.SparkSuite
import org.apache.spark.sql.functions._

class MeasureSpec extends SparkSuite {

  import spark.implicits._

  /** Bench's sequence: force the query's own plan, then read its metrics,
    * rows being the forcing count. */
  private def measured(df: org.apache.spark.sql.DataFrame): Measure.PlanMetrics = {
    val rows = org.apache.spark.sql.GraftColumnBridge.forceOwnPlan(df)
    Measure.of(df).copy(rows = rows)
  }

  test("rolls up shuffle bytes and exchange count from the executed plan") {
    val df = spark.range(10000).select((col("id") % 100).as("k"), col("id"))
      .groupBy(col("k")).agg(sum(col("id")).as("s"))
    val m = measured(df)
    assert(m.exchanges >= 1, m.toString)
    assert(m.shuffleBytes > 0, m.toString)
    assert(m.shuffleRecords > 0, m.toString)
  }

  test("q01 shuffles partial aggregates, not rows (empirical map-side combine)") {
    // 6k lineitem rows collapse to 6 groups; with partial aggregation
    // the exchange carries at-most groups x maptasks records — orders of
    // magnitude under the row count. This measures the property PlanSpec
    // pins structurally.
    val m = measured(
      graft.queries.Relational.q01PricingSummary(spark, "/root/testdata/sf0.001"))
    assert(m.rows == 6, m.toString)
    assert(m.shuffleRecords > 0 && m.shuffleRecords < 1000, m.toString)
  }

  test("a shuffle-free scan reports zero exchanges") {
    val df = spark.range(1000).select(col("id") + 1)
    val m = measured(df)
    assert(m.exchanges == 0 && m.shuffleBytes == 0, m.toString)
  }

  test("forcing-honesty tripwire: forceOwnPlan executes q76's OWN plan, terminal join included (r12 protocol)") {
    // The r12 finding this spec permanently pins: `df.count()` wraps
    // the plan in a NEW QueryExecution whose optimizer prunes terminal
    // projections, ORDER BYs, and (the exposing case) q76's entire
    // unique-keyed terminal left join — every measurement tool had been
    // timing a 4-stage skeleton where the query moves GBs. The shared
    // forcing helper must therefore run THIS df's QueryExecution. If a
    // future refactor reintroduces a plan-replacing action, the df's
    // own executed plan stays unexecuted and its metrics read zero —
    // exactly what this test refuses.
    val df = graft.queries.TextOps.q76IncrementalDedup(spark, "/root/testdata/sf0.001")
    val rows = org.apache.spark.sql.GraftColumnBridge.forceOwnPlan(df)
    assert(rows > 0)
    // the metrics live on df's OWN executed plan — nonzero only if the
    // forcing ran that very plan
    val m = Measure.of(df).copy(rows = rows)
    assert(m.exchanges > 0, s"own plan not executed (exchange metrics empty): $m")
    assert(m.shuffleBytes > 0 && m.shuffleRecords > 0, m.toString)
    // and the executed plan still CONTAINS the dedup tail: the terminal
    // join an over-eager forcing path would have optimized away
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("Join"), executed)
  }
}
