package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.streaming.Pipeline
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** JVM side of the benchmark: runs one workload against the program's
  * public functions, times it from outside, and writes the raw samples
  * as JSON for `perfbench/run.py`, which derives and prints the metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <file> --cores <n>
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, out: Path, cores: Int)

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("work")), Paths.get(m("out")), m("cores").toInt)
    // exit explicitly: a failed run must not wait on Spark's non-daemon threads
    try {
      val result = o.workload match {
        case "ingest_trickle" => Ingest.run(o, segmentsPerStep = 1, warmupSteps = 4)
        case "ingest_backlog" => Ingest.run(o, segmentsPerStep = 16, warmupSteps = 3)
        case "query_mix" => QueryMix.run(o)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      mark("end")
      Files.write(o.out, new ObjectMapper().writeValueAsBytes(
        toJava(result + ("marks" -> marks.map { case (k, v) => Map("phase" -> k, "s" -> v) }))))
    } catch {
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }
    sys.exit(0)
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case a: Array[_] => a.map(toJava).toList.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  /** The session settings of `graft.Bench`, at `cores` task slots and
    * as many shuffle partitions, with every scratch directory kept
    * inside the benchmark's work directory. */
  def session(cores: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.files.openCostInBytes", 16384)
    .config("spark.sql.files.minPartitionNum", cores)
    .config("spark.shuffle.sort.bypassMergeThreshold", 1)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  def settings(spark: SparkSession): Map[String, String] = spark.conf.getAll ++
    Map("jvm.args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.mkString(" "))

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def liveHeapMb: Double = {
    // Spark's ContextCleaner frees broadcast and shuffle blocks on its own
    // thread once a GC has found their handles unreachable: give it time
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds from JVM start to now. */
  def sinceProcessStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Phase marks (name, seconds since JVM start), reported with the run. */
  val marks = mutable.ArrayBuffer[(String, Double)]()
  def mark(name: String): Unit = marks += (name -> sinceProcessStart)

  def withTrace[T](spark: SparkSession, t: Trace)(body: => T): T = {
    spark.sparkContext.addSparkListener(t.spark)
    spark.streams.addListener(t.streaming)
    try body
    finally {
      GraftColumnBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(t.spark)
      spark.streams.removeListener(t.streaming)
    }
  }
}

/** The streaming pipeline, driven as a closed loop with one client:
  * publish `segmentsPerStep` pre-rendered segments (atomic renames, the
  * MessageLogSource writer contract), then `processAllAvailable()`.
  * A step's latency runs from the first rename to the return, by which
  * the foreachBatch parquet sink has committed the batch. */
object Ingest {
  import Main._

  private final class Log(root: Path, gen: MessageGen) {
    val staging: Path = Files.createDirectories(root.resolve("staging"))
    private val pool = mutable.Queue[(Path, Map[String, Long])]()
    private var rendered = 0
    val published = mutable.LinkedHashMap[String, Long]()

    def render(n: Int): Unit = (0 until n).foreach { _ => synchronized {
      val before = gen.counts.toMap
      val bytes = gen.nextSegment()
      val p = staging.resolve(f"seg-$rendered%08d.jsonl")
      Files.write(p, bytes)
      rendered += 1
      pool.enqueue(p -> gen.counts.map { case (k, v) => k -> (v - before(k)) }.toMap)
    }}

    /** Take the next `n` segments, rendering more first if the pool ran
      * dry (outside any timed section). */
    def take(n: Int): Seq[(Path, Map[String, Long])] = synchronized {
      if (pool.size < n) render(n - pool.size)
      Seq.fill(n)(pool.dequeue())
    }

    def publish(seg: (Path, Map[String, Long]), dir: Path): Unit = {
      Files.move(seg._1, dir.resolve(seg._1.getFileName), StandardCopyOption.ATOMIC_MOVE)
      seg._2.foreach { case (k, v) => published(k) = published.getOrElse(k, 0L) + v }
    }
  }

  private def start(spark: SparkSession, dir: Path): StreamingQuery = {
    implicit val s: SparkSession = spark
    Files.createDirectories(dir.resolve("log"))
    val raw = spark.readStream.format("graft.sources.MessageLogSource")
      .load(dir.resolve("log").toString)
    val frame = Pipeline.envelopeFrame(Pipeline.chirpEnvelopes(Pipeline.toChirpRecs(raw)))
    Pipeline.startEnvelopeSink(frame, dir.resolve("sink").toString,
      dir.resolve("checkpoint").toString, Trigger.ProcessingTime(0))
  }

  /** Wait until the query has committed every published file. */
  private def drain(q: StreamingQuery, files: Int): Unit = {
    def committed = Option(q.lastProgress).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset)).map(_.trim.toInt).getOrElse(0)
    q.processAllAvailable()
    while (committed < files) {
      q.exception.foreach(e => throw e)
      q.processAllAvailable()
    }
  }

  /** The client: one step publishes `segments` segments into `dir` and
    * waits for the query; returns (latency ms, messages). */
  private final class Client(log: Log, q: StreamingQuery, dir: Path, segments: Int,
                             private var files: Int) {
    def step(): (Double, Long) = {
      val segs = log.take(segments)
      val t = System.nanoTime()
      segs.foreach(log.publish(_, dir))
      files += segs.size
      drain(q, files)
      ((System.nanoTime() - t) / 1e6, segs.map(_._2("messages")).sum)
    }
  }

  def run(o: Opts, segmentsPerStep: Int, warmupSteps: Int): Map[String, Any] = {
    val gen = new MessageGen(o.seed)
    val log = new Log(o.work, gen)
    log.render(1)
    val first = log.take(1).head
    // enough segments for the warm-up and a timed phase at ~3x the
    // seed's speed, rendered while the set-up runs; `take` renders more
    // (untimed) if a run needs them
    val prerender = new Thread(() =>
      log.render(segmentsPerStep * (warmupSteps + (if (segmentsPerStep == 1) 40 else 8))))
    prerender.start()

    // Set-up, three times: session start, query start on fresh
    // directories, first segment through the sink. The third query is
    // the one measured.
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var q: StreamingQuery = null
    for (rep <- 0 until 3) {
      val last = rep == 2
      val dir = if (last) o.work.resolve("run") else o.work.resolve(s"setup$rep")
      val t = System.nanoTime()
      spark = session(o.cores, o.work)
      spark.sparkContext.setLogLevel("WARN")
      mark(s"session$rep")
      q = start(spark, dir)
      mark(s"started$rep")
      if (last) log.publish(first, dir.resolve("log"))
      else {
        val tmp = log.staging.resolve(s".setup$rep")
        Files.copy(first._1, tmp)
        Files.move(tmp, dir.resolve("log").resolve(first._1.getFileName),
          StandardCopyOption.ATOMIC_MOVE)
      }
      drain(q, 1)
      setupS += (System.nanoTime() - t) / 1e9
      if (!last) { q.stop(); spark.stop(); Util.deleteTree(dir) }
      mark(s"setup$rep")
    }
    val processToFirstOp = sinceProcessStart
    val logDir = o.work.resolve("run").resolve("log")
    val client = new Client(log, q, logDir, segmentsPerStep, files = 1)
    def step() = client.step()
    // A traced run alternates traced and untraced steps for twice the
    // time, so the tracing overhead compares steps of the same phase.
    val t = new Trace
    var gcMs, codegenNs, compiles = 0L
    def tracedStep(): (Double, Long) = {
      val g0 = Trace.gcMs
      val (c0, n0) = Trace.codegen
      val r = withTrace(spark, t)(step())
      val (c1, n1) = Trace.codegen
      gcMs += Trace.gcMs - g0; codegenNs += c1 - c0; compiles += n1 - n0
      r
    }
    def timedPhase(): (Seq[(Double, Long)], Seq[(Double, Long)]) = {
      val plain, traced = mutable.ArrayBuffer[(Double, Long)]()
      val need = (if (o.trace) 2 else 1) * o.seconds * 1e3
      while ((plain ++ traced).map(_._1).sum < need || plain.size < 3 ||
          (o.trace && traced.size < 3))
        if (o.trace && plain.size > traced.size) traced += tracedStep() else plain += step()
      (plain.toSeq, traced.toSeq)
    }

    prerender.join()
    mark("rendered")
    (0 until warmupSteps).foreach(_ => step())
    mark("warmup")
    System.gc()
    val cpu0 = cpuNs
    val (timed, traced) = timedPhase()
    val cpuS = (cpuNs - cpu0) / 1e9
    val heap = liveHeapMb
    mark("timed")
    val trace: Map[String, Any] =
      if (!o.trace) Map.empty
      else Map("steps" -> traced.map(_._1), "step_msgs" -> traced.map(_._2),
        "gc_ms" -> gcMs, "codegen_ms" -> codegenNs / 1e6, "codegen_compiles" -> compiles,
        "listener" -> t.snapshot)
    q.stop()

    // correctness: the streaming sink equals the batch fold over the same
    // log as a multiset, and every message is enveloped or counted
    implicit val s: SparkSession = spark
    // (row hashes compared as multisets; the sink's partition column
    // comes back as int)
    def rowHashes(df: DataFrame): Seq[(Long, Int)] = df
      .select(xxhash64(col("ts"), col("data_collector_id").cast("long"), col("packet"),
        col("messages")), size(col("messages")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val raw = spark.read.format("graft.sources.MessageLogSource").load(logDir.toString)
    val sink = rowHashes(spark.read.parquet(o.work.resolve("run").resolve("sink").toString))
    val batch = rowHashes(Pipeline.chirpEnvelopeFrameBatch(raw))
    val check = Map(
      "sink_rows" -> sink.size, "batch_rows" -> batch.size,
      "sink_minus_batch" -> sink.diff(batch).size, "batch_minus_sink" -> batch.diff(sink).size,
      "enveloped" -> sink.map(_._2.toLong).sum)
    mark("checked")

    val kernels: Map[String, Any] =
      if (!o.trace) Map.empty
      else {
        // single-thread kernel costs over the generated inputs
        val phys = gen.phySamples.toArray
        val protos = gen.protoSamples.toArray
        val recs = Pipeline.toChirpRecs(raw).orderBy("seq").limit(20000).collect()
        val states = mutable.HashMap[Long, graft.state.StateOps.ChirpState]()
        val chirpNs = Trace.nsPerCall(recs.length) { i =>
          val r = recs(i)
          val (st, out) = graft.state.StateOps.chirpStep(
            states.getOrElse(r.collectorId, graft.state.StateOps.ChirpState.empty), r)
          states(r.collectorId) = st
          out
        }
        // normalize as a batch over the first 32 segments (seq-pruned)
        val sample = raw.filter(col("seq") < 32 * MessageGen.SegmentSize)
        val n0 = System.nanoTime()
        GraftColumnBridge.forceOwnPlan(Pipeline.toChirpRecs(sample).toDF())
        val n1 = System.nanoTime()
        val sampled = GraftColumnBridge.forceOwnPlan(Pipeline.toChirpRecs(sample).toDF())
        val n2 = System.nanoTime()
        val source = new graft.sources.MessageLogMicroBatch(logDir.toString,
          graft.sources.MessageLogSource.schema, Array.empty)
        Map(
          "latest_offset_ns" -> Trace.nsPerCall(20)(_ => source.latestOffset()),
          "phy_parse_ns" -> Trace.nsPerCall(phys.length)(i => graft.codec.Lorawan.parse(phys(i))),
          "proto_to_json_ns" -> Trace.nsPerCall(protos.length)(i =>
            graft.codec.ProtoWire.uplinkFrameB64ToJson(protos(i))),
          "chirp_step_ns" -> chirpNs,
          "normalize_ns_per_msg" -> math.min(n1 - n0, n2 - n1).toDouble / sampled)
      }
    val conf = settings(spark)
    spark.stop()
    mark("kernels")

    // the single-thread baseline of the backlog workload
    val local1: Map[String, Any] =
      if (!o.trace || segmentsPerStep == 1) Map.empty
      else {
        val dir = o.work.resolve("local1")
        spark = session(1, o.work)
        val q1 = start(spark, dir)
        val single = new Client(new Log(dir, new MessageGen(o.seed)), q1, dir.resolve("log"),
          segmentsPerStep, files = 0)
        single.step()
        val steps = Seq.fill(2)(single.step())
        q1.stop(); spark.stop()
        Map("local1_msgs_per_s" -> steps.map(_._2).sum / (steps.map(_._1).sum / 1e3))
      }

    Map("workload" -> o.workload, "settings" -> conf, "setup_s" -> setupS,
      "process_to_first_op_s" -> processToFirstOp,
      "steps" -> timed.map(_._1), "step_msgs" -> timed.map(_._2),
      "cpu_s" -> cpuS, "live_heap_mb" -> heap, "cores" -> o.cores,
      "generated" -> log.published, "device_map_size" -> gen.deviceMapSize,
      "check" -> check, "trace" -> (trace ++ Map("kernels" -> kernels) ++ local1))
  }
}

/** Twelve graded queries over seeded TESTDATA-shaped tables, in rounds.
  * Each execution is timed from the call of its `SparkEntry.queries`
  * function through its own physical plan, in three consecutive parts:
  * build (the function call), plan (optimized + physical plan) and
  * exec (the plan's RDD run to completion, each row hashed). */
object QueryMix {
  import Main._

  /** Eight floor-dominated queries, then four whose time the kernels set
    * (codec, batch fold, set-similarity join, exchange reuse). */
  val queries: Seq[String] = Seq(
    "q03_revenue_by_nation", "q08_keyset_page", "q13_tumbling_window",
    "q17_last_seen", "q22_device_map_lww", "q23_pairing_asof",
    "q25_verification_gate", "q64_asof_join",
    "q20_codec_roundtrip", "q50_pipeline_e2e", "q88_containment_join",
    "q96_boilerplate_grams")

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents")

  /** Order-insensitive hash and count of `df`'s rows, computed inside the
    * tasks of its own physical plan. */
  def forceHash(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    GraftColumnBridge.toInternalRdd(df).mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var h = 0L; var n = 0L
      it.foreach { r =>
        val u = proj(r)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator((h, n))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  private def release(spark: SparkSession): Unit = {
    graft.CacheRegistry.releaseAll(blocking = true)
    spark.sharedState.cacheManager.clearCache()
    graft.queries.TextOps.clearTrainMemo()
    System.gc()
  }

  def run(o: Opts): Map[String, Any] = {
    val data = o.work.resolve("data").toString // written by perfbench/tables.py
    var spark: SparkSession = null

    // Set-up, three times: session start and every table's schema read
    // through the program's loaders.
    val setupS = (0 until 3).map { rep =>
      val t = System.nanoTime()
      spark = session(o.cores, o.work)
      spark.sparkContext.setLogLevel("WARN")
      tables.foreach(graft.Tables.table(spark, data, _).schema)
      graft.Tables.events(spark, data).schema
      val s = (System.nanoTime() - t) / 1e9
      if (rep < 2) spark.stop()
      mark(s"setup$rep")
      s
    }
    val processToFirstOp = sinceProcessStart

    var round = 0
    def runQuery(name: String, dump: Option[Path]): Map[String, Any] = {
      val group = s"q|$round|$name"
      spark.sparkContext.setJobGroup(group, group)
      val (cg0, cgN0) = Trace.codegen
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, data)
      val t1 = System.nanoTime()
      val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      qe.executedPlan
      val t2 = System.nanoTime()
      val e2 = System.currentTimeMillis()
      val (h, n) = dump match {
        case Some(p) => df.write.parquet(p.resolve(name).toString); (0L, -1L)
        case None => forceHash(df)
      }
      val t3 = System.nanoTime()
      val e3 = System.currentTimeMillis()
      val (cg1, cgN1) = Trace.codegen
      spark.sparkContext.clearJobGroup()
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      Map("query" -> name, "round" -> round, "group" -> group, "hash" -> h, "rows" -> n,
        "build_ms" -> (t1 - t0) / 1e6, "plan_ms" -> (t2 - t1) / 1e6,
        "exec_ms" -> (t3 - t2) / 1e6, "wall_ms" -> (t3 - t0) / 1e6,
        "exec_start_epoch_ms" -> e2, "end_epoch_ms" -> e3,
        "phases_ms" -> phases, "codegen_ms" -> (cg1 - cg0) / 1e6,
        "codegen_compiles" -> (cgN1 - cgN0))
    }
    // In a traced run every other query is traced, alternating between
    // rounds, so each query runs traced and untraced in the same phase.
    val t = new Trace
    def runRound(dump: Option[Path] = None): Seq[Map[String, Any]] = {
      release(spark)
      val r = queries.zipWithIndex.map { case (name, i) =>
        val traced = o.trace && dump.isEmpty && (i + round) % 2 == 1
        (if (traced) withTrace(spark, t)(runQuery(name, dump)) else runQuery(name, dump)) +
          ("traced" -> traced)
      }
      round += 1
      r
    }
    def timedRounds(): Seq[Map[String, Any]] = {
      val out = mutable.ArrayBuffer[Map[String, Any]]()
      val need = (if (o.trace) 2 else 1) * o.seconds * 1e3
      var (wall, rounds) = (0.0, 0)
      while (wall < need || (o.trace && rounds % 2 == 1)) {
        val r = runRound()
        wall += r.map(_("wall_ms").asInstanceOf[Double]).sum
        rounds += 1
        out ++= r
      }
      out.toSeq
    }

    // warm-up: one round that writes each result for the DuckDB oracle
    // comparison; the timed rounds hash the results
    val dumpDir = o.work.resolve("results")
    runRound(Some(dumpDir))
    mark("warmup")
    release(spark)
    val cpu0 = cpuNs
    val (traced, timed) = timedRounds().partition(_("traced") == true)
    val cpuS = (cpuNs - cpu0) / 1e9
    val heap = liveHeapMb
    mark("timed")
    val trace: Map[String, Any] =
      if (!o.trace) Map.empty else Map("queries" -> traced, "listener" -> t.snapshot)
    val conf = settings(spark)
    spark.stop()
    Map("workload" -> o.workload, "settings" -> conf, "setup_s" -> setupS,
      "process_to_first_op_s" -> processToFirstOp, "cores" -> o.cores,
      "data_dir" -> data, "results_dir" -> dumpDir.toString,
      "oracle" -> queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap,
      "queries" -> timed, "cpu_s" -> cpuS, "live_heap_mb" -> heap,
      "trace" -> trace)
  }

}
