package graft

import graft.JsonNum.num
import graft.tools.Measure
import org.apache.spark.sql.GraftColumnBridge

/** The pure parts of Bench: attempt selection for its drift retakes, the
  * drift ratio itself and its compact line, so the spec pins them
  * without running a suite. */
object BenchPolicy {
  /** The one file Bench writes (gitignored): every run's full line plus
    * its per-query `plan_metrics`. A committed record is a reviewed copy
    * of it (BENCH_rNN.json). */
  val OutFile = "BENCH_LAST.json"

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

  /** Median per-query ratio of this run's seconds over BENCH_REF.json's,
    * over the stable queries (reference >= 0.2 s; the sub-200 ms tail is
    * scheduling noise). None — no verdict, no retake — when the run's SF
    * is not the reference's (`runSf` against the reference's `sf` field:
    * an sf0.01 run read 0.83 against the sf0.1 reference, and any larger
    * SF reads drifted and burns every retake), or when fewer than 8
    * queries compare (renamed queries, a truncated reference, mass
    * failures). */
  def medianRatio(results: Seq[(String, Option[Double])], ref: Map[String, Double],
                  runSf: String, refSf: Option[String]): Option[Double] =
    if (!refSf.exists(sameSf(runSf, _))) None
    else {
      val rs = (for {
        (k, vOpt) <- results; v <- vOpt
        r <- ref.get(k) if r >= 0.2
      } yield v / r).sorted
      if (rs.size < 8) None
      else Some(if (rs.size % 2 == 1) rs(rs.size / 2)
                else (rs(rs.size / 2 - 1) + rs(rs.size / 2)) / 2)
    }

  /** Two SF directories hold the same scale factor when their last path
    * element (the SF's name: sf0.01, sf0.1, …) is equal, so a relative
    * path or a trailing slash still compares. */
  private def sameSf(a: String, b: String): Boolean = {
    def name(p: String) = p.split("[/\\\\]").filter(_.nonEmpty).lastOption
    name(a).isDefined && name(a) == name(b)
  }

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
    * line (printed immediately before) and in [[OutFile]], which
    * `queries_in` names. Pure so the spec pins the format without
    * running a suite. */
  def compactLine(total: String, nQueries: Int, nErrors: Int,
                  ratioJson: String, driftDetected: Boolean,
                  memoHitsJson: String, sfJson: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","n_queries":$nQueries,""" +
      s""""n_errors":$nErrors,"drift_median_ratio":$ratioJson,""" +
      s""""drift_detected":$driftDetected,"memo_hits":$memoHitsJson,""" +
      s""""queries_in":"$OutFile","sf":"$sfJson"}"""
}

/** Deterministic host-speed canary (r15 — the record saga's
  * instrumentation gap): a fixed pure-CPU workload timed immediately
  * before each bench attempt, so every published line carries
  * machine-speed evidence independent of the engine's code. Three rounds of clean in-band runs read 3-14% above the
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

/** Benchmark main (driver contract): runs every SparkEntry query on
  * `$SPARK_GRAFT_SF_DIR`, prints ONE JSON line with total + per-query
  * seconds and then a compact suite-level line, and writes the full line
  * plus each query's plan metrics to [[BenchPolicy.OutFile]].
  *
  * A warmup action runs first so JVM/codegen/session start-up is not
  * billed to the first query; queries run in sorted name order for
  * stable attribution. Each query is forced by executing its OWN
  * physical plan (`GraftColumnBridge.forceOwnPlan`, r12) — `count()`
  * let the optimizer prune terminal projections/sorts and eliminate
  * unique-keyed outer-join tails, under-measuring exactly the work the
  * bench claims to time (BASELINE.md r12 ERA BREAK row).
  */
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
    // query hits it first) rather than the whole JSON artifact — which
    // is exactly what the harvester needs to SEE the failure.
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
      .foreach(fn => GraftColumnBridge.forceOwnPlan(fn(spark, sfDir))))
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
        .transform(df => { GraftColumnBridge.forceOwnPlan(df); df })
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
        .transform(df => { GraftColumnBridge.forceOwnPlan(df); df })
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
        .transform(df => { GraftColumnBridge.forceOwnPlan(df); df })
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
    /** One timed pass over the whole suite, with its own telemetry
      * window — retakes (below) must publish the TELEMETRY of the
      * attempt they publish the timings of, or the contamination
      * evidence and the reading would describe different runs. A query
      * that throws has None seconds (null in `queries`, so consumers
      * summing/plotting per-query values never see a corrupted number;
      * its name lands in `errors`; sum(non-null queries) == `value`) and
      * no entry in `plans`. */
    final case class Attempt(results: Seq[(String, Option[Double])],
                             plans: Map[String, Measure.PlanMetrics],
                             stealPct: Double, ownSharePct: Double,
                             load1Start: Double, load1End: Double,
                             memoHits: Seq[String])

    def runAttempt(): Attempt = {
      val (busy0, idle0, steal0) = cpuJiffies()
      val own0 = ownJiffies()
      val load1Start = load1()
      val memoConsumers = Seq.newBuilder[String]
      val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
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
        val forced = try {
          val df = fn(spark, sfDir)
          // the query's OWN plan, not df.count() (r12: count() lets the
          // optimizer prune terminal projections/sorts and even eliminate
          // q76's whole verify tail — a unique-keyed left join under a
          // count is removable — so count-forced walls under-measured
          // exactly the work the bench claims to time; BENCH_REF was
          // re-seeded with this forcing, see BASELINE)
          val rows = GraftColumnBridge.forceOwnPlan(df)
          Some((df, rows))
        } catch { case _: Throwable => None }
        val secs = (System.nanoTime() - t0) / 1e9
        if (graft.queries.TextOps.memoRecalls > memo0) memoConsumers += name
        // read off the executed plan's SQLMetrics after the timer stops,
        // so the plan walk is never billed to the query
        val plan = forced.map { case (df, rows) => Measure.of(df).copy(rows = rows) }
        (name, forced.map(_ => secs), plan)
      }
      val results = runs.map { case (name, secs, _) => (name, secs) }
      val plans = runs.collect { case (name, _, Some(p)) => name -> p }.toMap
      val (busy1, idle1, steal1) = cpuJiffies()
      val own1 = ownJiffies()
      val load1End = load1()
      val totalJiff = (busy1 + idle1) - (busy0 + idle0)
      val busyJiff = busy1 - busy0
      val stealPct =
        if (totalJiff > 0) 100.0 * (steal1 - steal0) / totalJiff else 0.0
      val ownSharePct =
        if (busyJiff > 0) 100.0 * (own1 - own0) / busyJiff else 0.0
      Attempt(results, plans, stealPct, ownSharePct, load1Start, load1End,
        memoConsumers.result())
    }

    // Drift self-validation (mechanizing BASELINE.md's retaken-not-
    // recorded rule): host interference inflates every wall time with no
    // code change, and neither steal nor own-share reliably catches a
    // co-resident burst that ends before the run does — BENCH_r08 read
    // ~1.8-2x baseline while a quiet re-run reproduced at 1.1x.
    // The documented environment signature is UNIFORM inflation on
    // untouched queries vs the committed quiet reading, so Bench now
    // carries that check itself: a median per-query ratio against the
    // committed BENCH_REF.json (BenchPolicy.medianRatio, same SF only)
    // above 1.15 flags the attempt as contaminated and triggers up to
    // three retakes (below). The published line is the best (lowest-
    // median) attempt, with `drift_detected` carrying the verdict on the
    // attempt actually published — a still-true flag tells the harvester
    // the reading is environment-bound even after the retakes. Median,
    // not mean: a handful of queries
    // legitimately change cost between rounds; 84 of 105 reference
    // entries clear the 0.2 s floor, so the estimator is robust to any
    // plausible number of deliberate changes.
    val (refQueries: Map[String, Double], refSf: Option[String]) = try {
      val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json")
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(p))
      val it = node.get("queries").properties().iterator()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
      }
      (b.result(), Option(node.get("sf")).filter(_.isTextual).map(_.asText))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] no drift reference (${e.getMessage}) — skipping self-validation")
      (Map.empty, None)
    }
    def medianRatio(a: Attempt): Option[Double] =
      BenchPolicy.medianRatio(a.results, refQueries, sfDir, refSf)
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
    // backslash corrupts the one-line artifact
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
    // The full line also lands on disk, so a console harvester that
    // truncates the stdout capture (the r6 and r7 bench lines lost their
    // first 31-37 queries that way) can always recover it — together
    // with each query's executed-plan metrics (shuffle bytes/records,
    // exchanges, rows; null for a failed query): the shuffled-bytes
    // regression alarm, which wall time on a shared host is too noisy
    // to be. cwd-relative: Bench runs from the repo root (sbt runMain),
    // and a run from another checkout writes into ITS OWN tree.
    val planJson = results.map { case (k, _) =>
      "\"" + k + "\":" + attempt.plans.get(k).fold("null") { m =>
        s"""{"shuffle_bytes":${m.shuffleBytes},"shuffle_records":${m.shuffleRecords},""" +
          s""""exchanges":${m.exchanges},"rows":${m.rows}}"""
      }
    }.mkString("{", ",", "}")
    try QueryProfile.publishText(BenchPolicy.OutFile,
      line.stripSuffix("}") + s""","plan_metrics":$planJson}""" + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] write to ${BenchPolicy.OutFile} failed: ${e.getMessage}")
    }
    // Trailing COMPACT line, printed LAST on stdout (r15 verdict task
    // 1): the full line above exceeds the driver harvester's ~2000-char
    // tail capture with 106 queries (BENCH_r14/r15 both truncated
    // mid-`queries`, parsed null, PERF blind two rounds). This < 500-
    // byte twin repeats the suite-level fields so any tail capture
    // still parses; per-query seconds live in the full line and in the
    // file `queries_in` names. The full line is NOT removed — both
    // print, full first.
    println(BenchPolicy.compactLine(num("%.4f", total), results.size,
      failed.size, ratioJson, driftDetected, memoHits, sfJson))
    spark.stop()
  }
}
