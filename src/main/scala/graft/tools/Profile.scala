package graft.tools

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.TextNode
import graft.{QueryProfile, Session, SparkEntry}
import graft.JsonNum.num
import org.apache.spark.sql.GraftColumnBridge

import scala.jdk.CollectionConverters._

/** Dev-only: the one profiling main. Measures queries on corpus dirs and
  * records one self-describing JSON row per (dir, query): the scale
  * columns (wall, task CPU, shuffle and spill bytes, task and stage
  * counts) and the skew columns (per-stage max-vs-median task time and
  * shuffle-read rows).
  *
  * runMain graft.tools.Profile <out.json> <sfDir[,sfDir…]> <q1,q2,…> [stages|tasks]
  *
  *  - One uncounted warm-up pass over every query on the first dir, so
  *    the first dir is not charged the JIT and codegen of every kernel.
  *  - Per (dir, query): `Session.isolate`, then the query's own plan
  *    (`forceOwnPlan`), twice. Rep 1 absorbs first-execution codegen
  *    (`wall_cold_s`); rep 2 is the row. Both reps run cold-cache, so
  *    byte columns count what the design ships and the q104/q105
  *    training memo re-trains.
  *  - `sf` and `adversary` come from the dir's `_provenance.json` stamp
  *    (written by [[SynthCorpus]]); a dir without one (the shipped
  *    testdata) reads as its own name and adversary null.
  *  - `stages` prints rep 2's per-stage wall/gap/task-time/shuffle/spill
  *    table; `tasks` prints its per-task drill-down (is a slow task
  *    carrying more rows, or the same rows at higher cost?). Neither
  *    changes the row.
  *  - Rows append to `out.json` when it exists, so a loop of one query
  *    per JVM (a batch in one JVM inflates mid-batch queries through JIT
  *    code-cache pressure) builds one artifact with no merge step.
  *
  * wall/CPU columns are single-host readings (named in `volatile_cols`);
  * the byte, row and stage columns are deterministic in plan and data.
  */
object Profile {
  private val Usage =
    "usage: Profile <out.json> <sfDir[,sfDir...]> <q1,q2,...> [stages|tasks]"

  def main(args: Array[String]): Unit = {
    val detail = args.lift(3)
    if (args.length < 3 || args.length > 4 || !detail.forall(Set("stages", "tasks")))
      fail(Usage)
    val dirs = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val queries = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    if (dirs.isEmpty || queries.isEmpty || unknown.nonEmpty)
      fail(s"unknown queries '${unknown.mkString(",")}'\n$Usage")

    val spark = Session.local(Session.cores)
    try run(spark, args(0), dirs, queries, detail)
    finally spark.stop()
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"Profile: $msg")
    sys.exit(2)
  }

  def run(spark: org.apache.spark.sql.SparkSession, outPath: String,
          dirs: Seq[String], queries: Seq[String], detail: Option[String]): Unit = {
    val profile = QueryProfile.attach(spark)
    val width = spark.sparkContext.defaultParallelism
    val rows = previousRows(outPath).toBuffer
    try {
      queries.foreach(q =>
        GraftColumnBridge.forceOwnPlan(SparkEntry.queries(q)(spark, dirs.head)))
      for (dir <- dirs; q <- queries) {
        val Seq(cold, warm) = (1 to 2).map { _ =>
          Session.isolate(spark)
          profile.measure(GraftColumnBridge.forceOwnPlan(SparkEntry.queries(q)(spark, dir)))
        }
        detail.foreach {
          case "stages" => printStages(q, warm)
          case _ => printTasks(q, warm, width)
        }
        val line = row(provenance(dir), q, cold, warm, width)
        println(line)
        rows += line
        QueryProfile.publish(outPath, rows)
      }
    } finally profile.detach()
  }

  /** The rows already in `path` (compact JSON each), or none. */
  private def previousRows(path: String): Seq[String] =
    if (!Files.exists(Paths.get(path))) Nil
    else new ObjectMapper().readTree(Paths.get(path).toFile).elements.asScala
      .map(_.toString).toSeq

  /** (sf, adversary) of `dir` as JSON values. */
  private def provenance(dir: String): (String, String) = {
    val stamp = Paths.get(dir, SynthCorpus.StampFile)
    val n = if (Files.exists(stamp)) Some(new ObjectMapper().readTree(stamp.toFile)) else None
    def field(k: String) = n.flatMap(j => Option(j.get(k)))
    (field("sf").getOrElse(TextNode.valueOf(Paths.get(dir).getFileName.toString)).toString,
      field("adversary").fold("null")(_.toString))
  }

  private def row(prov: (String, String), q: String, cold: QueryProfile.Run[Long],
                  run: QueryProfile.Run[Long], width: Int): String = {
    def ratio(a: Long, b: Long) = a.toDouble / math.max(b, 1L)
    def worst(ss: Seq[QueryProfile.Spread], f: QueryProfile.Spread => Double) =
      num("%.2f", if (ss.isEmpty) 0.0 else ss.map(f).max)
    def stageJson(s: QueryProfile.Spread) =
      s"""{"tasks":${s.tasks},"max_ms":${s.maxMs},"med_ms":${s.medMs},""" +
        s""""ratio":${num("%.2f", ratio(s.maxMs, s.medMs))},""" +
        s""""rows_max":${s.maxRows},"rows_med":${s.medRows},""" +
        s""""rows_ratio":${num("%.2f", ratio(s.maxRows, s.medRows))}}"""
    val spreads = run.spreads
    // The dominant stage (largest max task) carries the skew verdict.
    // Ratios are read on stages wide enough to show skew; "meaningful"
    // drops stages whose max task is under 200 ms (scheduling noise),
    // "loaded" also demands a median of 200 ms, so an output-scale
    // stage with idle neighbours and one 400 ms task is judged by
    // stages_top3's absolute max_ms, not a ratio in the hundreds.
    val wide = run.skewSpreads(width)
    val meaningful = wide.filter(_.maxMs >= 200)
    val loaded = wide.filter(_.medMs >= 200)
    val dominant = if (spreads.isEmpty) "null" else stageJson(spreads.maxBy(_.maxMs))
    s"""{"sf":${prov._1},"adversary":${prov._2},"query":"$q",""" +
      s""""wall_s":${num("%.3f", run.wallS)},"wall_cold_s":${num("%.3f", cold.wallS)},""" +
      s""""rows":${run.value},"task_cpu_s":${num("%.2f", run.total(_.runMs) / 1e3)},""" +
      s""""shuffle_write_b":${run.total(_.writeBytes)},"shuffle_read_b":${run.total(_.readBytes)},""" +
      s""""spill_mem_b":${run.total(_.memSpill)},"spill_disk_b":${run.total(_.diskSpill)},""" +
      s""""tasks":${run.total(_.tasks)},"stages":${run.stages.size},""" +
      s""""dominant_stage":$dominant,""" +
      s""""worst_meaningful_ratio":${worst(meaningful, s => ratio(s.maxMs, s.medMs))},""" +
      s""""worst_loaded_ratio":${worst(loaded, s => ratio(s.maxMs, s.medMs))},""" +
      s""""worst_loaded_rows_ratio":${worst(loaded, s => ratio(s.maxRows, s.medRows))},""" +
      s""""stages_top3":${spreads.sortBy(-_.maxMs).take(3).map(stageJson).mkString("[", ",", "]")},""" +
      s""""volatile_cols":"wall_s,wall_cold_s,task_cpu_s,dominant_stage,worst_meaningful_ratio,worst_loaded_ratio,stages_top3"}"""
  }

  /** Per stage: wall, idle gap before it, summed task time, GC, tasks,
    * shuffle write/read and memory/disk spill — is the wall task
    * execution or time between stages? */
  private def printStages(q: String, run: QueryProfile.Run[Long]): Unit = {
    val span = run.span
    println(f"== $q wall=${run.wallS}%.2f s rows=${run.value}")
    span.stages.foreach { case (s, gap) =>
      println(f"  stage ${s.id}%4d wall=${s.wallMs / 1e3}%6.2f gapBefore=${gap / 1e3}%6.2f " +
        f"taskSum=${s.runMs / 1e3}%7.2f gc=${s.gcMs / 1e3}%5.2f tasks=${s.tasks}%3d " +
        f"sw=${s.writeBytes / 1e9}%6.2fG sr=${s.readBytes / 1e9}%6.2fG " +
        f"spill=${s.memSpill / 1e9}%5.2f/${s.diskSpill / 1e9}%5.2fG  ${s.name.take(60)}")
    }
    println(f"  stageWallSum=${run.total(_.wallMs) / 1e3}%.2f s (union=${span.union / 1e3}%.2f s), " +
      f"stageSpan=${span.extent / 1e3}%.2f s, outsideStages=${run.wallS - span.extent / 1e3}%.2f s")
  }

  /** Per wide stage with a task of at least 500 ms: task count,
    * p50/p90/max duration, p50 rows, and the slowest three and fastest
    * two tasks — a slow task with more rows is a key funnel (fix the
    * partitioning), one with the same rows is operator cost (GC,
    * fallback sort, memory pressure). */
  private def printTasks(q: String, run: QueryProfile.Run[Long], width: Int): Unit = {
    println(f"== $q wall=${run.wallS}%.2f s rows=${run.value}")
    val byStage = run.tasksByStage
    for (s <- run.skewSpreads(width).sortBy(_.stageId) if s.maxMs >= 500) {
      val ts = byStage(s.stageId)
      val durs = ts.map(_.durationMs).sorted
      val recs = ts.map(_.recordsRead).sorted
      def p(v: Vector[Long], f: Double) = v((v.size * f).toInt.min(v.size - 1))
      val t0 = ts.map(_.launchTime).min
      println(f"stage ${s.stageId}: ${ts.size} tasks, dur p50 ${p(durs, 0.5)} ms " +
        f"p90 ${p(durs, 0.9)} max ${durs.last}; rows p50 ${p(recs, 0.5)}")
      def line(tag: String, t: QueryProfile.Task) =
        println(f"  $tag: dur ${t.durationMs} run ${t.runMs} gc ${t.gcMs} ms, ${t.recordsRead} rows, " +
          f"${t.bytesRead / 1e6}%.1f MB read, launch +${t.launchTime - t0} ms")
      ts.sortBy(-_.durationMs).take(3).foreach(line("slow", _))
      ts.sortBy(_.durationMs).take(2).foreach(line("fast", _))
    }
  }
}
