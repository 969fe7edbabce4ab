package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Everything the traced run records, filled by Spark's own listener
  * callbacks and kept in memory until the run ends. Rows are plain maps
  * so they serialize as they are; all derived numbers are computed by
  * the Python side of the benchmark. */
final class Trace {
  val stages = mutable.ArrayBuffer[Map[String, Any]]()
  val progress = mutable.ArrayBuffer[Map[String, Any]]()
  val writes = mutable.ArrayBuffer[Map[String, Any]]()
  private val jobOf = mutable.HashMap[Int, (String, Long)]() // stage → (group, batch)
  private val jobs = mutable.HashMap[String, Int]()           // group|batch → jobs
  private val writeStart = mutable.HashMap[Long, Long]()      // execution → start ms
  // the listener buses call back on their own threads
  private def locked[T](body: => T): T = synchronized(body)

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(id => jobOf(id) = (group, batch))
      val k = s"$group|$batch"
      jobs(k) = jobs.getOrElse(k, 0) + 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
      val i = e.stageInfo
      val m = i.taskMetrics
      val (group, batch) = jobOf.getOrElse(i.stageId, ("", -1L))
      stages += Map(
        "group" -> group, "batch" -> batch, "tasks" -> i.numTasks,
        "start_ms" -> i.submissionTime.getOrElse(0L),
        "end_ms" -> i.completionTime.getOrElse(0L),
        "shuffle_map" -> (m != null && m.shuffleWriteMetrics.recordsWritten > 0),
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    // sink writes: the parquet write issued inside foreachBatch runs as its
    // own SQL execution
    override def onOtherEvent(e: SparkListenerEvent): Unit = locked {
      e match {
        case s: SparkListenerSQLExecutionStart
            if s.sparkPlanInfo.nodeName.contains("InsertIntoHadoopFsRelation") =>
          writeStart(s.executionId) = s.time
        case x: SparkListenerSQLExecutionEnd =>
          writeStart.remove(x.executionId).foreach { t0 =>
            writes += Map("duration_ms" -> (x.time - t0))
          }
        case _ =>
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = locked {
      val p = e.progress
      if (p.numInputRows > 0) {
        val st = p.stateOperators.headOption
        progress += Map(
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
          "state_updates_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
          "state_rows_total" -> st.map(_.numRowsTotal).getOrElse(0L),
          "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L))
      }
    }
  }

  def snapshot: Map[String, Any] = locked(Map(
    "stages" -> stages.toList, "progress" -> progress.toList, "writes" -> writes.toList,
    "jobs" -> jobs.toMap))
}

object Trace {
  /** JVM-wide GC time so far (in local mode every task runs in this JVM). */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Whole-stage and expression codegen: (cumulative compile ns, classes). */
  def codegen: (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Single-thread ns per call of `body` over `n` inputs: the median of
    * `reps` timed passes after one untimed pass. */
  def nsPerCall(n: Int, reps: Int = 5)(body: Int => Any): Double = {
    var sink = 0
    def pass(): Long = {
      val t = System.nanoTime()
      var i = 0
      while (i < n) { sink ^= System.identityHashCode(body(i)); i += 1 }
      System.nanoTime() - t
    }
    pass()
    val ts = Array.fill(reps)(pass()).sorted
    if (sink == 42) print("") // keeps the results live
    ts(reps / 2).toDouble / n
  }
}
