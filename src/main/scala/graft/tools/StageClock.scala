package graft.tools

import graft.{QueryProfile, Session}
import org.apache.spark.sql.GraftColumnBridge

/** Dev-only: per-stage wall/task-time breakdown for one query — shows
  * whether wall time is task execution (plan cost) or gaps between
  * stages (driver/scheduling/codegen/broadcast overhead). Rep 1 is the
  * cold reading, rep 2 the warm one.
  *
  * runMain graft.tools.StageClock <sfDir> <query> [reps]
  */
object StageClock {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local(Session.cores)
    val profile = QueryProfile.attach(spark)

    graft.SparkEntry.queries.get("q01_pricing_summary").foreach(f => f(spark, sfDir).count())
    // STAGECLOCK_PRE=qA,qB runs other queries first (uncounted) to
    // reproduce in-bench session state (caches, broadcasts, AQE stats)
    sys.env.get("STAGECLOCK_PRE").foreach(_.split(",").foreach { pre =>
      graft.SparkEntry.queries.get(pre.trim).foreach(f => f(spark, sfDir).count())
    })
    for (r <- 1 to reps) {
      Session.isolate(spark)
      // own-plan forcing (r12): stage rows must describe the query's
      // plan, not a count-pruned rewrite of it
      val run = profile.measure(
        GraftColumnBridge.forceOwnPlan(graft.SparkEntry.queries(name)(spark, sfDir)))
      val wall = run.wallS
      println(f"== $name rep$r wall=$wall%.2f s rows=${run.value}")
      val span = run.span
      span.stages.foreach { case (s, gap) =>
        println(f"  stage ${s.id}%4d wall=${s.wallMs / 1e3}%6.2f gapBefore=${gap / 1e3}%6.2f taskSum=${s.runMs / 1e3}%7.2f gc=${s.gcMs / 1e3}%5.2f tasks=${s.tasks}%3d sw=${s.writeBytes / 1e9}%6.2fG sr=${s.readBytes / 1e9}%6.2fG spill=${s.memSpill / 1e9}%5.2f/${s.diskSpill / 1e9}%5.2fG  ${s.name.take(60)}")
      }
      val rawSum = run.total(_.wallMs)
      println(f"  stageWallSum=${rawSum / 1e3}%.2f s (union=${span.union / 1e3}%.2f s), stageSpan=${span.extent / 1e3}%.2f s, outsideStages=${wall - span.extent / 1e3}%.2f s")
    }
    spark.stop()
  }
}
