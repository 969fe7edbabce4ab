package graft.tools

import graft.{QueryProfile, Session}
import org.apache.spark.sql.GraftColumnBridge

import scala.collection.mutable.ArrayBuffer

/** Dev-only: measured scaling evidence for the 100 TB story.
  *
  * Runs the scale-critical query family at each given SF directory and
  * records, per (sf, query): wall seconds, summed task CPU (executorRunTime),
  * shuffle WRITE bytes (what actually crosses the exchange — the number
  * that decides whether a design survives 1000x), shuffle read bytes,
  * and spill. (Parquet input bytes are NOT recorded: the vectorized
  * reader does not populate task-level inputMetrics in this Spark
  * build — verified footer-sized values — so the field would lie.)
  *
  * A blocked/bucketed dedup design shows shuffle bytes growing
  * ~linearly in corpus size; an all-pairs design shows them growing
  * quadratically — this tool makes that difference a committed
  * artifact instead of an argument.
  *
  * runMain graft.tools.ScaleSweep <outJson> <sfDir1> <sfDir2> ...
  * (queries default to the dedup/ANN/text family; override with
  *  SCALESWEEP_QUERIES=q33_ngram_jaccard,q34_minhash_lsh,...)
  */
object ScaleSweep {
  def main(args: Array[String]): Unit = {
    val outPath = args(0)
    val sfDirs = args.drop(1).toSeq
    val defaultQueries = Seq(
      // relational anchors (shuffle = agg exchange only)
      "q01_pricing_summary", "q03_revenue_by_nation",
      // exact + near dedup family
      "q32_dedup_exact", "q33_ngram_jaccard", "q34_minhash_lsh",
      "q35_simhash", "q37_cosine_neardup", "q62_dup_clusters",
      "q88_containment_join", "q99_substring_dedup",
      // r8 late: two-sided FastSS — keys grow with Σ|name|, linear
      "q84_fuzzy_join",
      // ANN / embedding family
      "q36_cosine_topk", "q39_ann_ivf", "q49_ann_lsh", "q61_semantic_dedup",
      // decontamination (broadcast-side designs)
      "q51_decontaminate", "q60_decontaminate_bloom",
      // corpus statistics / tokenizer
      "q56_vocabulary", "q92_tfidf_keywords", "q93_lm_score",
      "q97_token_budget", "q100_bpe_merges", "q106_bpe_encode",
      "q101_quality_classifier",
      "q102_temperature_mix",
      // r8: bounded-model LM scoring + the classifier training loop
      "q103_lm_score_pruned", "q104_classifier_train",
      "q105_classifier_learned")
    val queries = sys.env.get("SCALESWEEP_QUERIES")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(defaultQueries)

    val spark = Session.local(Session.cores)
    val profile = QueryProfile.attach(spark)
    import graft.JsonNum.num // Locale.ROOT JSON numerals (shared helper)

    val rows = ArrayBuffer.empty[String]
    // JVM/JIT warm-up outside measurement so the smallest SF (first in
    // the arg order) isn't charged the compile cost of every kernel.
    queries.foreach { q =>
      graft.SparkEntry.queries.get(q).foreach(f =>
        GraftColumnBridge.forceOwnPlan(f(spark, sfDirs.head)))
    }
    for (sf <- sfDirs; q <- queries) {
      graft.SparkEntry.queries.get(q) match {
        case None => System.err.println(s"[scalesweep] unknown query $q — skipped")
        case Some(f) =>
          // two executions: rep1 absorbs per-(sf,query) first-execution
          // JIT/codegen; rep2 is the recorded wall. Session.isolate runs
          // before BOTH reps deliberately — cached subtrees skip their
          // exchanges, so byte metrics from a warm-cache rep would
          // undercount what the design actually ships, and the q104/q105
          // training memo would skip training. wall_s is therefore
          // warm-CODE / cold-CACHE: it re-pays intra-query persist
          // materialization, which is exactly the per-query cost a fresh
          // production job pays. Own-plan forcing (r12): count() pruned
          // q76's whole verify tail (terminal unique-keyed left join) to
          // a 4-stage scan.
          val Seq(cold, run) = (1 to 2).map { _ =>
            Session.isolate(spark)
            profile.measure(GraftColumnBridge.forceOwnPlan(f(spark, sf)))
          }
          // volatile_cols makes each row self-describing (r11 verdict
          // nit 3): wall/CPU are single-host readings with documented
          // 2-3× run-to-run variance at the multi-GB-shuffle decades
          // (JIT code-cache state, page cache, one shared disk — the
          // r10 variance doctrine, SCALING.md); the byte/spill columns
          // are deterministic functions of plan+data and are the
          // signals a reader may compare across rows.
          val line =
            s"""{"sf":"${sf.split('/').filter(_.nonEmpty).last}","query":"$q","wall_s":${num("%.3f", run.wallS)},""" +
            s""""wall_cold_s":${num("%.3f", cold.wallS)},""" +
            s""""rows":${run.value},"task_cpu_s":${num("%.2f", run.total(_.runMs) / 1e3)},""" +
            s""""shuffle_write_b":${run.total(_.writeBytes)},"shuffle_read_b":${run.total(_.readBytes)},""" +
            s""""spill_mem_b":${run.total(_.memSpill)},""" +
            s""""spill_disk_b":${run.total(_.diskSpill)},"tasks":${run.total(_.tasks)},"stages":${run.stages.size},""" +
            s""""volatile_cols":"wall_s,wall_cold_s,task_cpu_s"}"""
          println(line)
          rows += line
          QueryProfile.publish(outPath, rows)
      }
    }
    spark.stop()
  }
}
