package graft

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

class QueryProfileSpec extends SparkSuite {

  private def stage(id: Int, submitted: Long, completed: Long) =
    QueryProfile.Stage(id, s"s$id", submitted, completed, 1, 0L, 0L, 0L,
      0L, 0L, 0L, 0L, 0L, 0L)

  test("span: overlapping stages are de-overlapped, gaps clamp at zero") {
    // AQE submits independent shuffle stages concurrently: 1 and 2
    // overlap, 4 nests inside 3, and 50 ms pass with nothing running
    // between 2's end and 3's submit. Rows arrive out of order.
    val span = QueryProfile.span(Seq(
      stage(3, 200, 250), stage(1, 0, 100), stage(4, 210, 220), stage(2, 50, 150)))
    assert(span.stages.map { case (s, gap) => (s.id, gap) } ==
      Vector((1, 0L), (2, 0L), (3, 50L), (4, 0L)))
    assert(span.union == 200L) // [0, 150] + [200, 250]
    assert(span.extent == 250L)
    assert(span.gap == 50L)
    // the raw per-stage wall sum double-counts the overlap
    assert(Seq(100L, 100L, 50L, 10L).sum > span.union)
  }

  test("span of no stages is empty") {
    val span = QueryProfile.span(Nil)
    assert(span.stages.isEmpty && span.union == 0L && span.extent == 0L)
  }

  test("skew spreads follow the session width: a 4-task stage counts at width 4") {
    def task(stage: Int, ms: Long) = QueryProfile.Task(stage, ms, ms, 0L, ms, 0L, 0L)
    // stage 1 is full-width at 4 cores with one straggler; stage 2 has 2 tasks
    val run = QueryProfile.Run((), 1.0, Vector.empty,
      Vector(task(1, 900), task(1, 100), task(1, 110), task(1, 120),
        task(2, 50), task(2, 60)))
    assert(run.skewSpreads(4) ==
      Seq(QueryProfile.Spread(1, 4, maxMs = 900, medMs = 120, maxRows = 900, medRows = 120)))
    // the floor of 8 holds from 8 cores up: no stage here qualifies
    assert(run.skewSpreads(32).isEmpty)
  }

  test("a measured query's stage and task rows are all drained by the time measure returns") {
    val profile = QueryProfile.attach(spark)
    try {
      val df = spark.range(0, 20000, 1, 4)
        .select((col("id") % 50).as("k"), col("id"))
        .groupBy(col("k")).agg(sum(col("id")).as("s"))
      val run = profile.measure(GraftColumnBridge.forceOwnPlan(df))
      assert(run.value == 50L)
      // a map stage and a result stage at least; the map stage writes
      // what the reduce side reads
      assert(run.stages.size >= 2, run.stages)
      assert(run.total(_.writeRecords) > 0 && run.total(_.readRecords) == run.total(_.writeRecords))
      // every stage's tasks are in: one successful task row per task
      run.stages.foreach { s =>
        assert(run.tasksByStage.get(s.id).map(_.size).contains(s.tasks), s)
      }
      // nothing was still in flight: a further drain adds no row
      GraftColumnBridge.drainListenerBus(spark)
      assert(profile.stageRows == run.stages)
    } finally profile.detach()
  }
}
