package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * `$SPARK_GRAFT_SF_DIR`, prints ONE JSON line with total + per-query
  * seconds.
  *
  * A warmup action runs first so JVM/codegen/session start-up is not
  * billed to the first query; queries run in sorted name order for
  * stable attribution. Each query is forced by executing its OWN
  * physical plan (`GraftColumnBridge.forceOwnPlan`, r12) — `count()`
  * let the optimizer prune terminal projections/sorts and eliminate
  * unique-keyed outer-join tails, under-measuring exactly the work the
  * bench claims to time (BASELINE.md r12 ERA BREAK row).
  */
/** Attempt-selection policy for Bench's drift retakes — pure, so the
  * spec pins it without running a suite. */
object BenchPolicy {
  /** 0-based index of the attempt to publish: lowest DEFINED drift
    * ratio wins (ties → earliest attempt); if no attempt has a defined
    * ratio the first is published. A None verdict (reference absent,
    * or mass query failures leaving <8 comparable queries) must never
    * beat a measured one — the r9 advice case was a broken retake
    * whose vacuous comparison displaced the flagged original. */
  def pickPublished(ratios: Seq[Option[Double]]): Int = {
    val defined = ratios.zipWithIndex.collect { case (Some(r), i) => (r, i) }
    if (defined.isEmpty) 0 else defined.min._2
  }

  /** Whether another retake is warranted: the best MEASURED ratio so
    * far is still over the bar. A None-ratio retake (mass failures
    * under the same interference) neither clears nor creates a drift
    * verdict — the measured one still stands and the remaining attempts
    * exist for it. A first attempt with no measured ratio (reference
    * absent) never retakes: no verdict, no retake. */
  def retakeNeeded(ratios: Seq[Option[Double]], bar: Double): Boolean =
    ratios.flatten.minOption.exists(_ > bar)

  /** Whether a run may overwrite BENCH_SELF.json, the committed quiet
    * sf0.1 record. Demands a POSITIVE verdict: zero failed queries
    * (an errors-bearing line omits the failed queries' seconds — a
    * faster-LOOKING invalid record) AND a measured median ratio inside
    * [floor, bar] — a wrong-SF run reads ~0.1 (not comparable), a
    * drifted one reads > bar, and a None ratio carries no verdict.
    *
    * MONOTONE (r10 verdict task 2): the record is the repo's best clean
    * reading, so replacement additionally requires beating — or tying
    * within `eps` — the record's FLOOR ratio (the minimum ratio it has
    * ever held, `record_floor_ratio` in the file; r11 review: comparing
    * against the LAST stored ratio instead would let repeated
    * within-eps refreshes ratchet the record slower in +eps steps all
    * the way to the drift bar — against the floor, the bar never rises
    * above best-ever + eps). The in-band-only gate let the r10 driver's
    * 88.8 s run (ratio 1.141, load1 rising 5.8→11.4) displace the
    * committed 67.6 s / 0.912 record: both were "positive" verdicts,
    * but a 31%-slower one protects nothing. `eps` admits same-speed
    * refreshes (newer telemetry fields, re-runs on an equally quiet
    * host).
    *
    * Bootstrap exception: with no reference at all AND no measured
    * record to protect, a fully-green run may seed the record. A
    * stored measured ratio survives even a reference-file loss — the
    * record outlives the yardstick that produced it. (A deliberate
    * BENCH_REF refresh re-seeds BENCH_SELF alongside — per-reference
    * ratios are incomparable across references; verify skill.) */
  def selfRecordable(ratio: Option[Double], refMissing: Boolean,
                     anyFailed: Boolean, bar: Double,
                     storedRatio: Option[Double] = None,
                     floor: Double = 0.5,
                     eps: Double = 0.02): Boolean =
    !anyFailed && {
      val inBand = ratio.exists(r => r >= floor && r <= bar)
      val beatsStored = storedRatio.forall(s => ratio.exists(_ <= s + eps))
      (inBand && beatsStored) || (refMissing && storedRatio.isEmpty)
    }

  /** The floor the NEXT record carries after this run records: the
    * minimum ever seen, so a within-eps (slower) refresh inherits the
    * OLD floor and the monotone bar never rises — the anti-ratchet
    * (spec-pinned). */
  def nextFloor(chosen: Option[Double], stored: Option[Double]): Option[Double] =
    (chosen.toSeq ++ stored.toSeq).minOption

  /** Whether a SPARK_GRAFT_BENCH_OUT redirect aimed AT the committed
    * record may actually land there (r12 ADVICE): admitted when the
    * write can carry a floor (the run's own gated ratio, or the stored
    * floor it inherits), or when the run has no measured ratio at all
    * (drift_median_ratio lands as null — floor-neutral to any future
    * fallback read). Refused exactly in the remaining shape: NO floor
    * source AND a measured-but-ungated ratio — a wrong-SF redirect onto
    * an absent/unreadable record would write drift_median_ratio ≈ 0.1
    * with no record_floor_ratio, and the NEXT run's legacy fallback
    * would adopt that 0.1 as the floor, after which the monotone rule
    * refuses every legitimate ~0.9 run (the exact lock-out the gated
    * floor exists to prevent, re-entering through the fallback path). */
  def redirectWritable(gatedRatio: Option[Double], storedFloor: Option[Double],
                       measuredRatio: Option[Double]): Boolean =
    nextFloor(gatedRatio, storedFloor).isDefined || measuredRatio.isEmpty

  /** Host-speed verdict from the canary (r15): this run's canary wall
    * over the committed quiet anchor (BASELINE.md §bench-protocol). On
    * a clean-telemetry run, a slowdown ≥ ~1.05 says the MACHINE — not
    * the code — explains an in-band-but-above-floor bench ratio; ≈ 1.0
    * with a still-above-floor ratio points at the code. Pure so the
    * spec pins the degenerate inputs (unmeasured/zero anchors carry no
    * verdict). */
  def hostSlowdown(canaryS: Double, anchorS: Double): Option[Double] =
    if (canaryS > 0 && anchorS > 0) Some(canaryS / anchorS) else None

  /** JSON array of memo-consumer query names (r15 verdict task 6): the
    * queries whose timed section RECALLED a session memo built by an
    * earlier query in the same pass (q72 reading q62's CC labels, q105
    * reading q104's training artifacts). Their per-query seconds are
    * amortization, not cost-from-cold — the line must say so the same
    * way `caches_released` discloses the registry. Sorted for a stable
    * artifact; names are bench query names (no quotes/escapes needed). */
  def memoHitsJson(names: Seq[String]): String =
    names.distinct.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The trailing COMPACT line (r15 verdict task 1): the full one-line
    * artifact is ~3.4-4.5 KB with 106 queries, while the driver's
    * harvester keeps only the last ~2000 chars of stdout — BENCH_r14
    * and BENCH_r15 both truncated mid-`queries` and parsed as null,
    * leaving PERF blind for two rounds. This second line carries the
    * suite-level verdict in well under 500 bytes so ANY tail capture
    * parses a valid JSON object; per-query seconds live in the full
    * line (printed immediately before) and in BENCH_LAST.json /
    * $SPARK_GRAFT_BENCH_OUT, which `queries_in` points at. Pure so the
    * spec pins the format without running a suite. */
  def compactLine(total: String, nQueries: Int, nErrors: Int,
                  ratioJson: String, driftDetected: Boolean,
                  memoHitsJson: String, queriesIn: String,
                  sfJson: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","n_queries":$nQueries,""" +
      s""""n_errors":$nErrors,"drift_median_ratio":$ratioJson,""" +
      s""""drift_detected":$driftDetected,"memo_hits":$memoHitsJson,""" +
      s""""queries_in":"$queriesIn","sf":"$sfJson"}"""
}

/** Deterministic host-speed canary (r15 — the record saga's
  * instrumentation gap): a fixed pure-CPU workload timed immediately
  * before each bench attempt, so every published line — recorded OR
  * refused — carries machine-speed evidence independent of the engine's
  * code. Three rounds of clean in-band runs read 3-14% above the
  * committed record while steal/own-share/load1 could not distinguish
  * "host durably slower" from "code slower"; the canary closes that gap:
  * its wall time depends only on the host.
  *
  * Two readings per attempt: ONE lane (single-core speed — hypervisor
  * frequency scaling and steal show directly, since the xorshift chain
  * is a serial dependency chain with no ILP to hide behind) and
  * [[Lanes]] concurrent lanes of the same workload (whole-machine
  * throughput — a co-resident eater shows here even when its burst ends
  * before /proc/stat deltas can see it). The kernel is JIT-warmed
  * before timing and checksum-pinned in BenchPolicySpec (a miscompile
  * or dead-code elimination is a test failure, not a silently-fast
  * canary); results land in a volatile sink so the timed loops cannot
  * be eliminated. */
object HostCanary {
  /** Lane counts / workload sizes: targets ~1-2 s per reading on this
    * box's class so the canary costs a few seconds per attempt —
    * negligible against a ~2 min suite, and OUTSIDE the attempt's
    * telemetry window (it must not bill its own CPU burst to the
    * suite's own-share/steal deltas). */
  private[graft] val SingleIters = 800_000_000L
  private[graft] val LaneIters = 400_000_000L
  private[graft] val Lanes = 32

  /** xorshift64 chain over `iters` steps: each step depends on the
    * previous one, so the loop measures serial core speed, not SIMD or
    * memory. Semantics pinned against an independent reimplementation
    * (BenchPolicySpec). */
  private[graft] def chain(iters: Long, seed: Long): Long = {
    var x = seed
    var i = 0L
    while (i < iters) {
      x ^= x << 13
      x ^= x >>> 7
      x ^= x << 17
      i += 1
    }
    x
  }

  @volatile private[graft] var sink: Long = 0L

  /** (canary_single_s, canary_mt_s). Warm → time one lane → time
    * [[Lanes]] concurrent lanes (wall = slowest lane, the contention
    * reading). */
  def measure(): (Double, Double) = {
    sink ^= chain(5_000_000L, 1L) // C2 warmup, untimed
    val t0 = System.nanoTime()
    sink ^= chain(SingleIters, 42L)
    val singleS = (System.nanoTime() - t0) / 1e9
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (0 until Lanes).map { l =>
      new Thread(() => acc.getAndAdd(chain(LaneIters, l + 1L)))
    }
    val t1 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    val mtS = (System.nanoTime() - t1) / 1e9
    sink ^= acc.get()
    (singleS, mtS)
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // cores: SPARK_GRAFT_CPUS, else the processor count; the session's
    // scan-splitting and shuffle-writer settings live in graft.Session
    val spark = Session.local(Session.cores)

    // schema-drift tripwire: fail loudly with ONE labeled message if the
    // driver regenerated testdata under types the queries don't expect
    Tables.validate(spark, sfDir)

    // Warmup failures must not kill the run's evidence: the same fault
    // inside the timed loop is contained as a per-query `errors` entry,
    // so a broken kernel costs its warmup (its JIT bills to whichever
    // query hits it first) rather than the whole JSON artifact + self-
    // record — which is exactly what the harvester needs to SEE the
    // failure.
    // NonFatal only: a VM-fatal warmup error (OOM, StackOverflow) means
    // the timed loop would run in a corrupted JVM and publish a
    // plausible-looking-but-invalid artifact — let those kill the run.
    def warm(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup skipped: ${e.getMessage}") }

    // warmup: exercise scan + agg + codegen paths once, uncounted —
    // through the SAME forcing the timed loop uses (r12): a count()
    // warmup compiles the count-plan's codegen, and the timed q01
    // (alphabetically first) then paid ~2 s of first-own-plan JIT for
    // the sort/output paths the warmup never touched
    warm(SparkEntry.queries.get("q01_pricing_summary")
      .foreach(fn => org.apache.spark.sql.GraftColumnBridge
        .forceOwnPlan(fn(spark, sfDir))))
    // ... and the JIT'd UDF kernels (shingle/minhash/jaccard/prefix,
    // CMAC/codec), uncounted: on a long-lived cluster these are
    // compiled once per executor JVM within the first seconds of real
    // load, not once per query — billing the HotSpot compile to
    // whichever query alphabetically runs first would misattribute
    // session start-up, same as the scan warmup above. 20k rows, not
    // one: C2 only compiles a kernel after thousands of invocations,
    // so a single call would leave the queries running interpreted.
    warm {
      import org.apache.spark.sql.functions._
      import graft.functions.{TextFunctions => T, PhyFunctions => P}
      val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val rows = spark.range(20000).select(
        concat_ws(" ", lit(words), col("id").cast("string"), lit(words)).as("text"),
        lit("00000000000000000000000000000000").as("key"))
      rows.select(
          col("key"),
          graft.functions.GraftFunctions.minhashSig(
            T.shingles(col("text"))).as("sig"),
          graft.functions.GraftFunctions.prefixHashes(
            T.shingles(col("text")), lit(0.8)).as("pref"),
          graft.functions.GraftFunctions.jaccardSim(
            T.shingles(col("text")), T.shingles(col("text"))).as("j"),
          graft.functions.GraftFunctions.containmentSim(
            T.shingles(col("text")), T.shingles(col("text"))).as("c"),
          P.signPacketUdf(P.encodeJoinRequest(lit("0011223344556677"),
            lit("8899aabbccddeeff"), lit(1), lit("00000000")), col("key")).as("b"))
        .select(P.micMatchEvents(col("key"),
          array(struct(lit(1L).as("event_id"), col("b").as("bytes")))))
        // own-plan forcing here too (r12): count() column-prunes a pure
        // projection down to nothing — the kernel expressions this block
        // exists to JIT would never execute
        .transform(df => { org.apache.spark.sql.GraftColumnBridge.forceOwnPlan(df); df })
    }
    // ... and the media-codec kernels (BMP/WAV/Y4M wrap+parse, DCT
    // pHash), uncounted for the same per-JVM-compile reason: under the
    // pre-r12 count() forcing these UDFs were column-pruned out of the
    // timed plans entirely, so nobody had warmed them — with own-plan
    // forcing q40 (alphabetically early) was paying the whole media
    // stack's first-execution JIT
    warm {
      import org.apache.spark.sql.functions._
      import graft.multimodal.{Multimodal => M}
      val blob = encode(concat(lit("media payload bytes "),
        col("id").cast("string"), lit(" tail")), "UTF-8")
      val rows = spark.range(20000).select(blob.as("media"))
      val bmp = M.bmpFromBytes(col("media"))
      rows.select(
          M.decodeBmpStruct(bmp)("features")(3).as("f"),
          M.bmpResize(bmp, lit(8), lit(1)).as("r"),
          M.y4mDecode(M.y4mFromBytes(col("media")))("nFrames").as("nf"),
          M.wavDecode(M.wavFromBytes(col("media")))("sampleRate").as("sr"),
          M.phash(col("media")).as("ph"))
        .transform(df => { org.apache.spark.sql.GraftColumnBridge.forceOwnPlan(df); df })
    }
    // ... and the physical-operator paths the vector/text queries lean
    // on (BroadcastNestedLoopJoin, SortAggregate max_by over structs,
    // Window + WindowGroupLimit top-k, posexplode), uncounted for the
    // same reason: HotSpot compiles these operator interpreters once
    // per JVM, within the first seconds of cluster load — measured
    // ~1.5-2 s of first-query cost at local bench scale that a
    // long-lived cluster never re-pays per query.
    warm {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val vec = array((0 until 8).map(i => (col("id") * (i + 1)).cast("float")): _*)
      val a = spark.range(4096).select(col("id"), vec.as("v"))
      val c = spark.range(16).select(col("id").as("cid"), vec.as("cv"))
      val assigned = a.crossJoin(broadcast(c))
        .withColumn("s", graft.functions.GraftFunctions.dot(col("v"), col("cv")))
        .groupBy(col("id"))
        .agg(max_by(struct(col("cid"), col("v")), struct(col("s"), -col("cid"))).as("w"))
      val w = Window.partitionBy(col("w.cid")).orderBy(col("id"))
      assigned.withColumn("r", row_number().over(w)).filter(col("r") <= 5)
        .select(col("id"), posexplode(col("w.v")))
        .orderBy(col("id"), col("pos"))
        .transform(df => { org.apache.spark.sql.GraftColumnBridge.forceOwnPlan(df); df })
    }

    // Host-contention telemetry: this box is a VM, and hypervisor CPU
    // steal was measured coming and going in 0-40% bursts — a burst
    // inflates every wall time ~2x with no code change. But steal only
    // sees the HYPERVISOR: a co-resident process (a concurrent sbt or
    // DuckDB parity run) eats cores invisibly to it — round 5 recorded
    // a 245 s run that re-measured at 59 s on a quiet host, with steal
    // reading 0.4% throughout. So the JSON line also carries 1-min
    // loadavg at start and end plus this process's own share of the
    // machine's busy jiffies across the run: a healthy bench on this
    // 32-core box shows load1_end ≲ 34 and own_cpu_share_pct ≳ 80 —
    // anything else means the run is contaminated and must be retaken.
    //
    // Jiffy accounting uses only the first 8 /proc/stat fields
    // (user..steal): the kernel already folds guest/guest_nice into
    // user, so summing all fields would double-count guest time.
    def cpuJiffies(): (Long, Long, Long) = {
      // (busy, idle+iowait, steal)
      try {
        val parts = scala.io.Source.fromFile("/proc/stat").getLines()
          .next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        val idle = parts(3) + parts(4)
        (parts.sum - idle, idle, parts(7))
      } catch { case _: Throwable => (0L, 0L, 0L) }
    }
    def ownJiffies(): Long = {
      // utime+stime: fields 14/15 of /proc/self/stat; comm (field 2)
      // may contain spaces, so index from after the closing paren.
      try {
        val s = scala.io.Source.fromFile("/proc/self/stat").mkString
        val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
        rest(11).toLong + rest(12).toLong
      } catch { case _: Throwable => 0L }
    }
    def load1(): Double = {
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    }
    // A query that throws serializes as null in `queries` (so consumers
    // summing/plotting per-query values never see a corrupted number)
    // and its name lands in `errors`; sum(non-null queries) == `value`.
    val withMetrics = sys.env.get("SPARK_GRAFT_METRICS").contains("1")

    /** One timed pass over the whole suite, with its own telemetry
      * window — retakes (below) must publish the TELEMETRY of the
      * attempt they publish the timings of, or the contamination
      * evidence and the reading would describe different runs. */
    final case class Attempt(results: Seq[(String, Option[Double])],
                             stealPct: Double, ownSharePct: Double,
                             load1Start: Double, load1End: Double,
                             memoHits: Seq[String])

    def runAttempt(): Attempt = {
      val (busy0, idle0, steal0) = cpuJiffies()
      val own0 = ownJiffies()
      val load1Start = load1()
      val memoConsumers = Seq.newBuilder[String]
      val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        // isolate queries from each other's heap debt: collect garbage
        // OUTSIDE the timed section (measured: a heavy predecessor
        // otherwise inflates the next query up to 3x run-to-run).
        //
        // Cached relations are deliberately NOT cleared between queries:
        // the persisted intra-query tables (q33's pair list, q39/q98
        // centroids, q100's vocab — KBs to MBs, bounded by near-dup/
        // vocabulary sizes, never corpus-sized) are exactly the staged
        // artifacts the composite queries (q42/q58/q62/q72/q82) share in
        // a production pipeline, where the pair list is computed once and
        // checkpointed. Measured A/B on the 102-query suite: 82.7 s
        // shared vs 105.6 s fully isolated (clearCache per query) — the
        // 22% delta is the value of artifact reuse, not cache pollution.
        // Verify DOES clear per query: correctness runs want isolation.
        System.gc()
        // memo disclosure (r15 verdict task 6): a query whose timed
        // section RECALLS a session memo (q62's CC labels, q104's
        // training artifacts) publishes an amortized number, not a
        // cost-from-cold — record the delta so the line names it.
        val memo0 = graft.queries.TextOps.memoRecalls
        val t0 = System.nanoTime()
        val ok = try {
          val df = fn(spark, sfDir)
          if (withMetrics) {
            // metrics mode executes the query's OWN plan (Measure.run);
            // timings remain comparable (same plan, rdd-count action)
            val m = graft.tools.Measure.run(df)
            System.err.println(s"[metrics] $name shuffleBytes=${m.shuffleBytes} " +
              s"shuffleRecords=${m.shuffleRecords} exchanges=${m.exchanges} rows=${m.rows}")
          } else
            // the query's OWN plan, not df.count() (r12: count() lets
            // the optimizer prune terminal projections/sorts and even
            // eliminate q76's whole verify tail — a unique-keyed left
            // join under a count is removable — so count-forced walls
            // under-measured exactly the work the bench claims to time;
            // BENCH_REF was re-seeded with this forcing, see BASELINE)
            org.apache.spark.sql.GraftColumnBridge.forceOwnPlan(df)
          true
        } catch { case _: Throwable => false }
        val secs = (System.nanoTime() - t0) / 1e9
        if (graft.queries.TextOps.memoRecalls > memo0) memoConsumers += name
        (name, if (ok) Some(secs) else None)
      }
      val (busy1, idle1, steal1) = cpuJiffies()
      val own1 = ownJiffies()
      val load1End = load1()
      val totalJiff = (busy1 + idle1) - (busy0 + idle0)
      val busyJiff = busy1 - busy0
      val stealPct =
        if (totalJiff > 0) 100.0 * (steal1 - steal0) / totalJiff else 0.0
      val ownSharePct =
        if (busyJiff > 0) 100.0 * (own1 - own0) / busyJiff else 0.0
      Attempt(results, stealPct, ownSharePct, load1Start, load1End,
        memoConsumers.result())
    }

    // Drift self-validation (mechanizing BASELINE.md's retaken-not-
    // recorded rule): host interference inflates every wall time with no
    // code change, and neither steal nor own-share reliably catches a
    // co-resident burst that ends before the run does — BENCH_r08 read
    // ~1.8-2x baseline while the quiet self-record reproduced at 1.1x.
    // The documented environment signature is UNIFORM inflation on
    // untouched queries vs the committed quiet reading, so Bench now
    // carries that check itself: median per-query ratio against the
    // committed BENCH_REF.json over stable queries (ref >= 0.2 s; the
    // sub-200ms tail is scheduling noise) above 1.15 flags the attempt
    // as contaminated and triggers ONE automatic retake. The published
    // line is the better (lower-median) attempt, with `drift_detected`
    // carrying the verdict on the attempt actually published — a still-
    // true flag tells the harvester the reading is environment-bound
    // even after the retake. Median, not mean: a handful of queries
    // legitimately change cost between rounds; 84 of 105 reference
    // entries clear the 0.2 s floor, so the estimator is robust to any
    // plausible number of deliberate changes.
    val refQueries: Map[String, Double] = try {
      val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json")
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(p))
      val it = node.get("queries").properties().iterator()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
      }
      b.result()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] no drift reference (${e.getMessage}) — skipping self-validation")
      Map.empty
    }
    def medianRatio(a: Attempt): Option[Double] = {
      val rs = (for {
        (k, vOpt) <- a.results; v <- vOpt
        r <- refQueries.get(k) if r >= 0.2
      } yield v / r).sorted
      // <8 comparable queries means the reference doesn't describe this
      // suite (renamed queries, truncated file) — no verdict, no retake.
      if (rs.size < 8) None
      else Some(if (rs.size % 2 == 1) rs(rs.size / 2)
                else (rs(rs.size / 2 - 1) + rs(rs.size / 2)) / 2)
    }
    val driftBar = 1.15

    // Quiet-host wait between retakes (r9 verdict: both r9 driver
    // attempts ran back-to-back on the same busy host and both drifted;
    // retaking immediately just re-measures the same interference).
    // load1 is the wrong signal here — it carries OUR OWN attempt's
    // 32-core minute-scale decay — so quietness is measured directly:
    // other processes' busy cores over a 5 s window ((Δbusy − Δown) /
    // elapsed, USER_HZ=100) plus hypervisor steal. Quiet = co-residents
    // under 2 cores AND steal under 5% for one full window. Returns the
    // seconds actually waited; gives up when its budget runs out (the
    // attempt history then proves the host never quieted).
    def waitForQuiet(budgetSec: Double): Double = {
      val pollSec = 5.0
      var waited = 0.0
      while (waited < budgetSec) {
        val (b0, i0, s0) = cpuJiffies(); val o0 = ownJiffies()
        Thread.sleep((pollSec * 1000).toLong); waited += pollSec
        val (b1, i1, s1) = cpuJiffies(); val o1 = ownJiffies()
        val tot = (b1 + i1) - (b0 + i0)
        val stealPct = if (tot > 0) 100.0 * (s1 - s0) / tot else 0.0
        val otherCores = ((b1 - b0) - (o1 - o0)) / (pollSec * 100.0)
        if (otherCores < 2.0 && stealPct < 5.0) return waited
        System.err.println(f"[bench] host busy (other=${otherCores}%.1f cores, " +
          f"steal=${stealPct}%.1f%%) — waiting (${waited}%.0f/${budgetSec}%.0f s)")
      }
      waited
    }

    final case class Rec(attempt: Attempt, ratio: Option[Double], waitedSec: Double,
                         canarySingleS: Double, canaryMtS: Double)

    // Drifted attempts retake up to 3 times (4 total), each retake
    // preceded by a quiet-host wait from a shared ~4 min budget — the
    // r9 immediate-retake policy re-measured the same co-resident burst
    // and published a still-drifted line. Each retake resets the
    // session-shared cache + training memo so it starts from the same
    // cold-cache state attempt 1 did — otherwise later attempts read
    // persisted pair lists / memoized trajectories earlier ones built
    // and their per-query ratios are incomparable with the reference.
    val maxAttempts = 4
    var waitBudget = 240.0
    var cachesReleasedTotal = 0
    // host-speed canary per attempt (r15): timed BEFORE the attempt's
    // telemetry window so its own CPU burst never contaminates the
    // suite's own-share/steal deltas
    val can0 = HostCanary.measure()
    val first = runAttempt()
    var recs = Vector(Rec(first, medianRatio(first), 0.0, can0._1, can0._2))
    // Keep retaking while the BEST MEASURED ratio so far is still over
    // the bar (and budget remains): a retake whose own ratio is None
    // (mass query failures — the same co-resident burst that caused the
    // drift can OOM queries) carries no verdict and must not END the
    // loop either — the drift verdict from the measured attempt still
    // stands, and the remaining attempts/budget exist exactly for it.
    // A FIRST attempt with no measured ratio (reference absent) never
    // enters the loop: no verdict, no retake, as before.
    while (recs.size < maxAttempts &&
        BenchPolicy.retakeNeeded(recs.map(_.ratio), driftBar)) {
      val best = recs.flatMap(_.ratio).min
      System.err.println(f"[bench] drift suspected (best median ratio $best%.3f" +
        f" vs BENCH_REF) — attempt ${recs.size + 1}/$maxAttempts after quiet-wait")
      val waited = waitForQuiet(waitBudget)
      waitBudget = math.max(0.0, waitBudget - waited)
      // the attempt's live registry frames count into the run-level total
      cachesReleasedTotal += Session.isolate(spark)
      val can = HostCanary.measure()
      val a = runAttempt()
      recs = recs :+ Rec(a, medianRatio(a), waited, can._1, can._2)
    }
    // r10 verdict task 4: the dedup/ANN helpers persist their shared
    // intermediates through CacheRegistry (pair lists, normed-embedding
    // index, k-means centroids, BPE vocab) — deliberately shared ACROSS
    // queries during the timed pass (the measured 22% artifact-reuse
    // premium above), released HERE, untimed, once the pass is over.
    // The line carries the proof: how many frames held storage when
    // released — a RUN-level total across every attempt, since retakes
    // release between attempts too (r11 review: an attempt-level
    // number on a line describing a DIFFERENT published attempt would
    // mislead a cross-checking harvester) — and that nothing, registry
    // -tracked or not, lingers afterwards (cache_empty_after_release,
    // straight from the session CacheManager, which also covers the
    // try/finally-owned persists in CorpusStream/Pipeline and q62's
    // loop frames).
    val cachesReleased =
      cachesReleasedTotal + graft.CacheRegistry.releaseAll(blocking = true)
    val cacheEmptyAfterRelease = spark.sharedState.cacheManager.isEmpty
    // Publish the attempt with the lowest DEFINED drift ratio (the
    // BASELINE.md retaken-not-recorded rule, mechanized — best-of-N is
    // the policy, disclosed via bench_attempts + the attempt history
    // below and recorded in BASELINE.md §bench-protocol). An attempt
    // whose ratio is None (mass query failures leave <8 comparable
    // queries) carries no verdict and is never preferred over a
    // measured one — if EVERY attempt is None the first is published
    // unflagged, because there was never a drift verdict to clear.
    val pubIdx = BenchPolicy.pickPublished(recs.map(_.ratio))
    val attempt = recs(pubIdx).attempt
    val chosenRatio = recs(pubIdx).ratio
    val attempts = recs.size
    val driftDetected = chosenRatio.exists(_ > driftBar)
    val results = attempt.results
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
    import graft.JsonNum.num // Locale.ROOT JSON numerals (shared helper)
    // 4-decimal seconds: full Double.toString tripled the line length
    // and the driver's harvester truncated the r6 record mid-JSON —
    // keep the one-line artifact comfortably under capture limits.
    // Round per-query FIRST and sum the rounded values so the artifact
    // is self-consistent: sum(queries) == value exactly, and a
    // harvester cross-checking the record never sees rounding drift.
    val rounded = results.map { case (k, v) =>
      (k, v.map(x => math.rint(x * 1e4) / 1e4))
    }
    val qs = rounded.map { case (k, v) =>
        "\"" + k + "\":" + v.fold("null")(num("%.4f", _))
      }.mkString("{", ",", "}")
    val total = rounded.flatMap(_._2).sum
    val errs = failed.mkString("[", ",", "]")
    // sfDir is env-supplied: escape it, or a path carrying a quote or
    // backslash corrupts the one-line artifact AND the self-record
    val sfJson = sfDir.replace("\\", "\\\\").replace("\"", "\\\"")
    val ratioJson = chosenRatio.fold("null")(num("%.3f", _))
    // Full per-attempt history (r9 verdict task 1): when the host never
    // quiets, the artifact itself proves it — every attempt's ratio,
    // wall total, telemetry and the quiet-wait that preceded it.
    val history = recs.map { r =>
      val tot = r.attempt.results.flatMap(_._2).sum
      s"""{"ratio":${r.ratio.fold("null")(num("%.3f", _))},""" +
        s""""total":${num("%.1f", tot)},""" +
        s""""steal_pct":${num("%.1f", r.attempt.stealPct)},""" +
        s""""own_cpu_share_pct":${num("%.1f", r.attempt.ownSharePct)},""" +
        s""""load1_start":${num("%.1f", r.attempt.load1Start)},""" +
        s""""load1_end":${num("%.1f", r.attempt.load1End)},""" +
        s""""canary_single_s":${num("%.3f", r.canarySingleS)},""" +
        s""""canary_mt_s":${num("%.3f", r.canaryMtS)},""" +
        s""""waited_before_s":${num("%.0f", r.waitedSec)}}"""
    }.mkString("[", ",", "]")
    val memoHits = BenchPolicy.memoHitsJson(attempt.memoHits)
    val line = s"""{"metric":"total","value":${num("%.4f", total)},"unit":"sec","queries":$qs,"errors":$errs,"host_steal_pct":${num("%.1f", attempt.stealPct)},"own_cpu_share_pct":${num("%.1f", attempt.ownSharePct)},"load1_start":${num("%.1f", attempt.load1Start)},"load1_end":${num("%.1f", attempt.load1End)},"canary_single_s":${num("%.3f", recs(pubIdx).canarySingleS)},"canary_mt_s":${num("%.3f", recs(pubIdx).canaryMtS)},"drift_median_ratio":$ratioJson,"drift_detected":$driftDetected,"memo_hits":$memoHits,"caches_released":$cachesReleased,"cache_empty_after_release":$cacheEmptyAfterRelease,"bench_attempts":$attempts,"published_attempt":${pubIdx + 1},"attempt_history":$history,"sf":"$sfJson"}"""
    println(line)
    // Self-record: the one-line artifact also lands on disk, so a
    // console harvester that truncates the stdout capture (the r6 bench
    // record lost q01-q37, and the r7 committed record lost q01-q31 +
    // the total the same way) can always recover the full JSON.
    // Paths are cwd-relative: Bench runs from the repo root (sbt
    // runMain), so the round's end-of-round commit always captures the
    // untruncated line — and a run from a worktree or another checkout
    // records into ITS OWN tree instead of clobbering this one's
    // committed artifact.
    // Write-then-rename keeps the published file whole under any crash.
    //
    // Two files (r9 verdict task 5: the driver's drifted run clobbered
    // the committed clean self-record): EVERY run lands verbatim in
    // BENCH_LAST.json; BENCH_SELF.json — the repo's committed quiet
    // record — is only overwritten on BenchPolicy.selfRecordable's
    // positive verdict (zero failures + measured in-band ratio, or the
    // no-reference bootstrap), so a contaminated, wrong-SF, partial or
    // unmeasurable run can no longer displace it.
    // SPARK_GRAFT_BENCH_OUT redirects the always-written copy
    // (explicit operator intent wins).
    // The record's FLOOR is read BEFORE any write (r11 review: reading
    // it after the unconditional record() below let
    // SPARK_GRAFT_BENCH_OUT=BENCH_SELF.json overwrite the record first
    // and then "compare" the run against itself — the monotone guard
    // defeated by an env var). record_floor_ratio is the minimum ratio
    // the record has ever held; legacy records without the field fall
    // back to their own drift_median_ratio.
    val (storedFloor: Option[Double], storedCanary: Option[Double]) = try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File("BENCH_SELF.json"))
      val node = Option(root.get("record_floor_ratio"))
        .filter(_.isNumber).orElse(Option(root.get("drift_median_ratio")))
      // the record's own canary reading IS the host-speed anchor (r15):
      // once a canary-stamped record lands, every later refused run can
      // print a host-vs-record-era speed verdict instead of narrative.
      // Pre-r15 records carry no canary — the anchor is then BASELINE's
      // documented quiet value, compared by the operator.
      (node.filter(_.isNumber).map(_.asDouble()),
        Option(root.get("canary_single_s")).filter(_.isNumber).map(_.asDouble()))
    } catch { case scala.util.control.NonFatal(_) => (None, None) }
    def record(path: String, extraField: String = ""): Unit =
      try {
        val out = java.nio.file.Paths.get(path)
        val tmp = out.resolveSibling(out.getFileName.toString + ".tmp")
        val full =
          if (extraField.isEmpty) line
          else line.stripSuffix("}") + "," + extraField + "}"
        java.nio.file.Files.write(tmp, (full + "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, out,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] self-record write to $path failed: ${e.getMessage}")
      }
    // A redirect aimed AT the committed record is still a record write
    // (r11 ADVICE low 2: the unconditional copy used to land on
    // BENCH_SELF.json without record_floor_ratio, so the NEXT run's
    // storedFloor fell back to the clobbering run's drift_median_ratio
    // — the env var could erase the floor and raise the monotone bar).
    // Explicit operator intent still wins — the write happens — but it
    // carries the min-ever floor forward and says so loudly.
    val outTarget = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    // where the full line actually lands (the refused-redirect branch
    // falls back to BENCH_LAST.json) — named on the compact line below
    var landedIn = outTarget
    val redirectIsRecord =
      try java.nio.file.Paths.get(outTarget).toAbsolutePath.normalize ==
        java.nio.file.Paths.get("BENCH_SELF.json").toAbsolutePath.normalize
      catch { case _: Throwable => outTarget == "BENCH_SELF.json" }
    if (redirectIsRecord) {
      // the carried floor only admits THIS run's ratio through the same
      // positive-verdict gate the normal record path uses (r12 review:
      // an ungated nextFloor(chosenRatio, …) let a wrong-SF redirect
      // write record_floor_ratio ≈ 0.1, after which no legitimate
      // ~0.9-1.0 run could ever replace the record again) — an invalid
      // ratio contributes nothing and the stored floor carries alone
      val gatedRatio =
        if (BenchPolicy.selfRecordable(chosenRatio, refQueries.isEmpty,
          failed.nonEmpty, driftBar, storedRatio = None)) chosenRatio
        else None
      if (BenchPolicy.redirectWritable(gatedRatio, storedFloor, chosenRatio)) {
        System.err.println("[bench] SPARK_GRAFT_BENCH_OUT targets the committed " +
          "record BENCH_SELF.json — writing it WITH the carried record floor " +
          "(the monotone rule survives the redirect)")
        record(outTarget, BenchPolicy.nextFloor(gatedRatio, storedFloor)
          .fold("")(f => s""""record_floor_ratio":${num("%.3f", f)}"""))
        landedIn = outTarget
      } else {
        // r12 ADVICE: no stored floor + an ungated measured ratio —
        // writing would leave drift_median_ratio as the only number a
        // future storedFloor fallback can read, poisoning the monotone
        // gate with a non-comparable value. Land in BENCH_LAST.json.
        System.err.println("[bench] SPARK_GRAFT_BENCH_OUT targets " +
          "BENCH_SELF.json, but no record floor exists and this run's " +
          s"ratio (${chosenRatio.fold("n/a")(r => f"$r%.3f")}) failed the " +
          "record gate — refusing the record write (its drift_median_ratio " +
          "would become the next run's floor); landing in BENCH_LAST.json")
        record("BENCH_LAST.json")
        landedIn = "BENCH_LAST.json"
      }
    } else record(outTarget)
    // BENCH_SELF.json demands a POSITIVE verdict, not merely the absence
    // of a drift flag: a run at the wrong SF reads median ratios ~0.1
    // (10× less data than the sf0.1 reference) and a run with no usable
    // reference reads None — both are "not drifted" but neither is a
    // comparable quiet sf0.1 record, and both used to clobber the
    // committed one. The band's floor rejects wrong-SF readings while
    // admitting any plausible genuine speedup (a uniform 2× improvement
    // is a refresh-BENCH_REF event per the verify skill — which also
    // re-seeds BENCH_SELF.json, since ratios against the NEW reference
    // are incomparable with the stored floor). AND the record is
    // monotone (r10 verdict task 2): the bar is the record's FLOOR
    // ratio (min ever recorded), carried in record_floor_ratio, so
    // repeated within-eps refreshes cannot ratchet the record slower
    // step by step (r11 review) — the bar never rises above
    // floor + eps no matter how many refreshes land. Policy + cases in
    // BenchPolicy/BenchPolicySpec.
    // the whole chain is skipped after a redirect AT the record: the
    // redirect branch above already wrote BENCH_SELF.json (with the
    // gated floor), so both the second write and the "BENCH_SELF.json
    // untouched" messages below would be wrong about the file's state
    // (r12 review)
    if (redirectIsRecord) {}
    else if (BenchPolicy.selfRecordable(chosenRatio, refQueries.isEmpty,
        failed.nonEmpty, driftBar, storedFloor)) {
      val floor = BenchPolicy.nextFloor(chosenRatio, storedFloor)
      record("BENCH_SELF.json",
        floor.fold("")(f => s""""record_floor_ratio":${num("%.3f", f)}"""))
    } else if (BenchPolicy.selfRecordable(chosenRatio, refQueries.isEmpty,
        failed.nonEmpty, driftBar, storedRatio = None)) {
      // would have recorded but for the monotone rule — same policy
      // call minus the floor, so this message can never disagree with
      // the gate (r11 review: the old hand-rolled condition duplicated
      // the band check and could desync from it). Two distinct shapes
      // reach here (r11 ADVICE medium): a measured in-band ratio above
      // the floor, and the ratio-LESS no-reference bootstrap blocked by
      // an existing record — chosenRatio is None there, so the message
      // must not .get it (the old interpolation threw
      // NoSuchElementException and killed the run before spark.stop()).
      val floorTxt = storedFloor.fold("n/a")(f => f"$f%.3f")
      // canary verdict (r15): on a refusal, say what the machine-speed
      // evidence shows — slowdown vs the record's stored anchor when
      // one exists, else the raw reading for BASELINE's ledger
      val canTxt = BenchPolicy.hostSlowdown(
        recs(pubIdx).canarySingleS, storedCanary.getOrElse(0.0)) match {
        case Some(s) => f"; canary ${recs(pubIdx).canarySingleS}%.3f s = " +
          f"$s%.3f x record-era anchor"
        case None => f"; canary ${recs(pubIdx).canarySingleS}%.3f s single / " +
          f"${recs(pubIdx).canaryMtS}%.3f s mt (no stored anchor)"
      }
      chosenRatio match {
        case Some(r) => System.err.println(f"[bench] in-band ($r%.3f) but" +
          s" does not beat the stored record floor ($floorTxt)" +
          s" — BENCH_SELF.json untouched (monotone rule)$canTxt")
        case None => System.err.println("[bench] no reference ratio — " +
          s"bootstrap blocked by the existing record (floor $floorTxt); " +
          "BENCH_SELF.json untouched (a stored measured record outlives " +
          "a lost reference; delete BENCH_SELF.json to re-seed deliberately)")
      }
    }
    // Trailing COMPACT line, printed LAST on stdout (r15 verdict task
    // 1): the full line above exceeds the driver harvester's ~2000-char
    // tail capture with 106 queries (BENCH_r14/r15 both truncated
    // mid-`queries`, parsed null, PERF blind two rounds). This < 500-
    // byte twin repeats the suite-level fields so any tail capture
    // still parses; per-query seconds live in the full line and in the
    // always-written file `queries_in` names. The full line is NOT
    // removed — both print, full first.
    println(BenchPolicy.compactLine(num("%.4f", total), results.size,
      failed.size, ratioJson, driftDetected, memoHits,
      landedIn.replace("\\", "\\\\").replace("\"", "\\\""), sfJson))
    spark.stop()
  }
}
