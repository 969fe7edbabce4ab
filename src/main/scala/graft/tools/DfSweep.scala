package graft.tools

import graft.{QueryProfile, Session}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Dev-only: post-kernel calibration sweep for q99's hot-gram regime
  * gate (`TextOps.HotGramTaskRowBudget`).
  *
  * The budget answers ONE question: how many window rows may a single
  * hot gram put on one atomic window task before the exact two-pass
  * form (map-combined count + AQE-splittable semi join) is the better
  * plan? Its original value (2^16) was calibrated against the
  * QUADRATIC-era gram kernel's per-row constant (SKEW_r12's 7.0 s task
  * at df ≈ 150k); the linear CharGrams kernel then removed most of
  * that per-row tax (the post-kernel window-on-hot A/B read loaded
  * ≤ 1.66 at the same df), leaving it conservative by roughly the
  * kernel's speedup. This sweep is the recalibration evidence: the
  * budget now equals the 16 MB gram-slice row target, 2^19 (the
  * HotGramTaskRowBudget scaladoc carries the argument).
  *
  * This tool measures exactly the contested quantity, isolated from
  * corpus construction: it synthesizes the gram INVENTORY directly —
  * `background` unique-gram rows (df = 1, the uniform mass; each row
  * ~32 B wired, the constant the gram width derives from) plus ONE hot
  * gram at document frequency `df`, spread over many docs so the
  * doc-side tail stays flat (the crawl-boilerplate shape; the tail is
  * identical between forms and excluded here) — and runs both forms'
  * contested stages at the same byte-derived width the real query
  * would choose:
  *
  *  - window: repartition(W, gram) → count over partitionBy(gram) →
  *    filter cnt ≥ 2 (the hot gram's df rows land WHOLE on one task);
  *  - twopass: groupBy(gram).count partial-agg + shuffled-hash LEFT
  *    SEMI at W on both children (the hot probe partition is
  *    AQE-splittable).
  *
  * Per (form, df): two un-recorded full-size warmup passes per form
  * absorb compile churn, then DFSWEEP_REPS (default 3) reps of which
  * the LAST is recorded — wall, the
  * widest stage's (tasks, max, med), the hot task's MARGINAL cost per
  * df row ((max − med)/df), and shuffle/spill totals. The budget
  * recalibration reads the marginal constant and the df at which the
  * hot task crosses a bounded-straggler bar (BASELINE.md r13 carries
  * the adjudication).
  *
  * runMain graft.tools.DfSweep [outJson]    (default /tmp/dfsweep.json)
  * env: DFSWEEP_FORMS (default "window,twopass" — run ONE form per JVM
  *      for recorded artifacts, the r10 protocol), DFSWEEP_DFS
  *      (default "65536,262144,524288,1048576,4194304"),
  *      DFSWEEP_BACKGROUND (default 33554432 rows = 64 × the 512k-row
  *      slice the 16 MB gram-width target encodes).
  */
object DfSweep {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("/tmp/dfsweep.json")
    val forms = sys.env.getOrElse("DFSWEEP_FORMS", "window,twopass")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dfs = sys.env.getOrElse("DFSWEEP_DFS",
        "65536,262144,524288,1048576,4194304")
      .split(",").map(_.trim.toLong).toSeq
    val background = sys.env.getOrElse("DFSWEEP_BACKGROUND", "33554432").toLong

    val spark = Session.local(Session.cores)
    val profile = QueryProfile.attach(spark)

    // The synthetic inventory: (doc_id, pos, gram) exactly as q99Grams
    // emits it. Background grams are unique 25-char strings (df = 1 —
    // they populate every window slice but never survive the cnt ≥ 2
    // filter); the hot gram is one constant 25-char string at `df`
    // positions spread over 100k docs. Positions are spaced > SubstrL
    // apart so the (excluded) islands tail would not merge them —
    // irrelevant here but keeps the fixture honest if reused.
    def inventory(df: Long): DataFrame = {
      val bg = spark.range(background).select(
        (col("id") % 100000L).as("doc_id"),
        (col("id") * 50L).as("pos"),
        lpad(col("id").cast("string"), 25, "0").as("gram"))
      val hot = spark.range(df).select(
        (col("id") % 100000L).as("doc_id"),
        (col("id") * 50L + 7L).as("pos"),
        lit("Z" * 25).as("gram"))
      bg.unionAll(hot)
    }

    // the byte-derived gram width the real query would choose for this
    // inventory: rows × 32 B through the SAME width function q99 uses
    // (r13 review: a re-implementation here could silently drift from
    // the gate's real width and mis-calibrate the budget)
    def widthFor(rows: Long): Int =
      graft.queries.TextOps.byteDerivedWidth(spark,
        rows * graft.queries.TextOps.WiredGramRowBytes,
        graft.queries.TextOps.GramSliceBytes)

    def windowForm(df: Long): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = widthFor(background + df)
      inventory(df).repartition(w, col("gram"))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("gram"))))
        .filter(col("cnt") >= 2)
        .select(col("doc_id"), col("pos"))
    }

    def twoPassForm(df: Long): DataFrame = {
      val w = widthFor(background + df)
      val inv = inventory(df)
      val dup = inv.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("gram"))
      inv.repartition(w, col("gram"))
        .join(dup.repartition(w, col("gram")).hint("shuffle_hash"),
          Seq("gram"), "left_semi")
        .select(col("doc_id"), col("pos"))
    }

    import graft.JsonNum.num
    val rows = mutable.ArrayBuffer.empty[String]

    // Global per-form warmup, un-recorded: the first sweep showed the
    // first recorded (form, df) pair carrying compile-churn walls (a
    // 32 s max task at the SMALLEST df, marginal 439 µs/row vs the
    // warmed ~0.6) even with its own rep-1 — the full-width code paths
    // need one full-size pass before any row is recorded.
    for (form <- forms) {
      val b: Long => DataFrame =
        if (form == "window") windowForm else twoPassForm
      (1 to 2).foreach(_ =>
        GraftColumnBridge.forceOwnPlan(b(1000L)))
    }

    for (form <- forms; df <- dfs) {
      val build: Long => DataFrame =
        if (form == "window") windowForm else twoPassForm
      val reps = sys.env.getOrElse("DFSWEEP_REPS", "3").toInt
      val run = (1 to reps).map { _ =>
        Session.isolate(spark)
        profile.measure(GraftColumnBridge.forceOwnPlan(build(df)))
      }.last
      val stats = run.spreads
      val w = widthFor(background + df)
      // the contested stage is the widest one (the W-task gram stage);
      // in the two-pass form AQE may split the hot probe partition, so
      // match on >= W/2 tasks and take the largest max among those
      val wide = stats.filter(_.tasks >= w / 2)
      val contested = if (wide.nonEmpty) wide.maxBy(_.maxMs)
        else if (stats.nonEmpty) stats.maxBy(_.maxMs)
        else QueryProfile.Spread(0, 0, 0L, 0L, 0L, 0L)
      val marginalUs =
        if (df > 0) (contested.maxMs - contested.medMs).toDouble * 1000.0 / df
        else 0.0
      def gb(f: QueryProfile.Stage => Long) = num("%.3f", run.total(f) / 1e9)
      val line =
        s"""{"form":"$form","df":$df,"width":$w,"rows_out":${run.value},""" +
          s""""wall_s":${num("%.3f", run.wallS)},""" +
          s""""stage":{"tasks":${contested.tasks},"max_ms":${contested.maxMs},""" +
          s""""med_ms":${contested.medMs},""" +
          s""""ratio":${num("%.2f", contested.maxMs.toDouble / math.max(contested.medMs, 1L))}},""" +
          s""""marginal_us_per_row":${num("%.3f", marginalUs)},""" +
          s""""shuffle_write_gb":${gb(_.writeBytes)},"shuffle_read_gb":${gb(_.readBytes)},""" +
          s""""mem_spill_gb":${gb(_.memSpill)},"disk_spill_gb":${gb(_.diskSpill)}}"""
      println(line)
      rows += line
      QueryProfile.publish(outPath, rows)
    }
    spark.stop()
  }
}
