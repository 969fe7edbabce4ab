package graft.tools

import graft.{QueryProfile, Session}
import org.apache.spark.sql.GraftColumnBridge

/** Dev-only: PER-TASK duration/row distribution of one query's stages —
  * the drill-down SkewProbe's per-stage max/med cannot provide. When a
  * probe row prints a worst_loaded ratio, this tool answers the next
  * question: is the slow task carrying MORE ROWS (a key funnel — fix
  * the partitioning) or the same rows at higher cost (GC, fallback
  * sort, memory pressure — fix the operator)?
  *
  * runMain graft.tools.TaskSkew <sfDir> <query> [reps]
  * Prints, for every stage with >= 8 tasks and a max task >= 500 ms:
  * task count, p50/p90/max duration, and the top-3 tasks' (duration,
  * shuffle-read records, shuffle-read MB, GC ms) — plus the p50 rows
  * so the rows-vs-cost attribution is one subtraction.
  *
  * No q01 warmup (unlike StageClock): runs on table-subset dirs such
  * as SkewProbe hot corpora; rep 1 warms the query's own kernels.
  */
object TaskSkew {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local(Session.cores)
    val profile = QueryProfile.attach(spark)

    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    for (rep <- 1 to reps) {
      Session.isolate(spark)
      val run = profile.measure(GraftColumnBridge.forceOwnPlan(fn(spark, sfDir)))
      println(f"== rep $rep: wall ${run.wallS}%.2f s, rows ${run.value}")
      if (rep == reps) {
        for ((sid, ts) <- run.tasksByStage.toSeq.sortBy(_._1)
             if ts.size >= 8 && ts.map(_.durationMs).max >= 500) {
          val durs = ts.map(_.durationMs).sorted
          val recs = ts.map(_.recordsRead).sorted
          def p(v: Vector[Long], q: Double) = v((v.size * q).toInt.min(v.size - 1))
          val t0 = ts.map(_.launchTime).min
          println(f"stage $sid: ${ts.size} tasks, dur p50 ${p(durs, 0.5)} ms " +
            f"p90 ${p(durs, 0.9)} max ${durs.last}; rows p50 ${p(recs, 0.5)}")
          def line(tag: String, t: QueryProfile.Task) =
            println(f"  $tag: dur ${t.durationMs} run ${t.runMs} gc ${t.gcMs} ms, ${t.recordsRead} rows, " +
              f"${t.bytesRead / 1e6}%.1f MB read, launch +${t.launchTime - t0} ms")
          ts.sortBy(-_.durationMs).take(3).foreach(line("slow", _))
          ts.sortBy(_.durationMs).take(2).foreach(line("fast", _))
        }
      }
    }
    spark.stop()
  }
}
