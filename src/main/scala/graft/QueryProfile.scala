package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** The program's one stage profiler: a SparkListener that records one
  * row per completed stage and one per successful task, and scopes them
  * to a measured body ([[measure]]). The profiling main
  * (`tools.Profile`) reads its per-stage and per-task numbers from here.
  *
  * Listener callbacks arrive on Spark's async listener-bus thread, so
  * [[measure]] drains the bus BEFORE clearing (rows from earlier work
  * cannot leak in) and AFTER the body (late-delivered tail stages are
  * not missed).
  */
final class QueryProfile private (spark: SparkSession) extends SparkListener {
  import QueryProfile._

  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val row = Stage(si.stageId, si.name,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.memoryBytesSpilled, m.diskBytesSpilled)
    synchronized(stages += row)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.successful) {
      val m = Option(e.taskMetrics)
      val row = Task(e.stageId, e.taskInfo.duration,
        m.fold(0L)(_.shuffleReadMetrics.recordsRead),
        m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        m.fold(0L)(_.executorRunTime), m.fold(0L)(_.jvmGCTime),
        e.taskInfo.launchTime)
      synchronized(tasks += row)
    }

  /** Rows recorded since the last [[measure]] began (delivered so far). */
  def stageRows: Vector[Stage] = synchronized(stages.toVector)

  /** Run `body` as one measured unit: its wall time and exactly the
    * stage and task rows its jobs produced. */
  def measure[A](body: => A): Run[A] = {
    GraftColumnBridge.drainListenerBus(spark)
    synchronized { stages.clear(); tasks.clear() }
    val t0 = System.nanoTime()
    val value = body
    val wallS = (System.nanoTime() - t0) / 1e9
    GraftColumnBridge.drainListenerBus(spark)
    synchronized(Run(value, wallS, stages.toVector, tasks.toVector))
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

object QueryProfile {

  /** One completed stage: epoch-ms submit/complete times, summed task
    * run/CPU/GC ms, shuffle bytes and records, spill bytes. */
  final case class Stage(id: Int, name: String, submitted: Long, completed: Long,
                         tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long,
                         readBytes: Long, readRecords: Long,
                         writeBytes: Long, writeRecords: Long,
                         memSpill: Long, diskSpill: Long) {
    def wallMs: Long = completed - submitted
  }

  /** One successful task: duration and shuffle-read records (the
    * key-funnel signal), plus what a per-task drill-down prints. */
  final case class Task(stageId: Int, durationMs: Long, recordsRead: Long,
                        bytesRead: Long, runMs: Long, gcMs: Long, launchTime: Long)

  /** Per-stage task spread: max and median (upper, `sorted(n / 2)`) of
    * task duration and of shuffle-read records. */
  final case class Spread(stageId: Int, tasks: Int, maxMs: Long, medMs: Long,
                          maxRows: Long, medRows: Long)

  /** Stages in submission order, each with the idle time before it;
    * `union` is the time covered by at least one stage, `extent` the
    * first submit to the last completion. */
  final case class Span(stages: Vector[(Stage, Long)], union: Long, extent: Long) {
    /** Time inside the extent with no stage running. */
    def gap: Long = extent - union
  }

  final case class Run[A](value: A, wallS: Double, stages: Vector[Stage],
                          tasks: Vector[Task]) {
    def total(f: Stage => Long): Long = stages.iterator.map(f).sum
    def span: Span = QueryProfile.span(stages)
    def tasksByStage: Map[Int, Vector[Task]] = tasks.groupBy(_.stageId)
    def spreads: Seq[Spread] = tasksByStage.toSeq.map { case (sid, ts) =>
      val durs = ts.map(_.durationMs).sorted
      val recs = ts.map(_.recordsRead).sorted
      Spread(sid, ts.size, durs.last, durs(durs.size / 2), recs.last, recs(recs.size / 2))
    }
    /** Spreads of the stages wide enough for their max-vs-median task
      * spread to read as skew on a session of `width` task slots: at
      * least 8 tasks, or `width` when that is smaller — a stage sized to
      * the session runs `width` tasks, so a fixed 8 would hide every
      * stage below 8 cores. */
    def skewSpreads(width: Int): Seq[Spread] =
      spreads.filter(_.tasks >= math.min(8, width))
  }

  def attach(spark: SparkSession): QueryProfile = {
    val p = new QueryProfile(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** AQE submits independent shuffle stages concurrently, so stage
    * intervals overlap: each gap clamps at 0 and the union de-overlaps,
    * where a raw per-stage wall sum would double-count concurrent time
    * and hide exactly the scheduling gaps it is meant to expose. */
  def span(stages: Seq[Stage]): Span = {
    val sorted = stages.sortBy(_.submitted).toVector
    var union = 0L
    var end = sorted.headOption.fold(0L)(_.submitted)
    val withGaps = sorted.map { s =>
      val gap = math.max(0L, s.submitted - end)
      union += math.max(0L, s.completed - math.max(s.submitted, end))
      end = math.max(end, s.completed)
      (s, gap)
    }
    val extent = if (sorted.isEmpty) 0L
      else sorted.map(_.completed).max - sorted.head.submitted
    Span(withGaps, union, extent)
  }

  /** Write `rows` (JSON objects) as a JSON array to `path` by
    * write-then-rename; tools republish after every row so a failure
    * late in a sweep keeps the rows already measured. */
  def publish(path: String, rows: Iterable[String]): Unit =
    publishText(path, rows.mkString("[\n", ",\n", "\n]\n"))

  /** Write `text` to `path` by write-then-rename, so a run killed
    * mid-write never leaves a truncated artifact. */
  def publishText(path: String, text: String): Unit = {
    val out = Paths.get(path)
    val tmp = out.resolveSibling(out.getFileName.toString + ".tmp")
    Files.write(tmp, text.getBytes("UTF-8"))
    Files.move(tmp, out, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
