package graft.tools

import graft.{QueryProfile, Session}
import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Dev-only: adversarial-skew evidence for the dedup family.
  *
  * SCALING_r08/r09 prove growth laws on the driver's UNIFORM corpora; a
  * real 100 TB crawl has hot shingles (boilerplate footers in a third of
  * the web). This tool synthesizes that adversary — it appends one fixed
  * boilerplate sentence to 30% of the sf0.1 documents, which plants ~4
  * bigram shingles each shared by ~1500 docs — and measures per-STAGE
  * task-time skew (max vs median) for the inverted-index dedup queries,
  * against the unmodified corpus as the control.
  *
  * Why task-time ratio and not wall: the failure mode of a hot key in a
  * shingle-partitioned self-join is ONE reducer producing the hot
  * bucket's candidate cross-product while 31 idle — wall degrades by
  * the straggler, but max/median task time is the direct signature
  * (and the number that predicts the 1000-executor cluster, where the
  * idle fraction is 999/1000).
  *
  * The engine's designs are expected to bound this WITHOUT new code:
  * q33/q88's prefixes keep only each doc's lowest-hash shingles, so a
  * hot shingle enters at most the prefixes whose docs have few rarer
  * tokens; the candidate joins are sort-merge under AQE, whose skew
  * split divides an inflated partition across tasks even for a single
  * hot key (the other side's partition is replicated per split). This
  * artifact turns that expectation into a measured number per query —
  * and if a ratio blows up on the hot corpus but not the control, that
  * query gets an ops/Skew mitigation with the before number recorded.
  *
  * runMain graft.tools.SkewProbe [outJson]   (default SKEW_r09.json)
  * env: SKEW_BASE_SF (default /root/testdata/sf0.1),
  *      SKEW_QUERIES (default the dedup-family four).
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val outPath = if (args.nonEmpty) args(0) else "SKEW_r10.json"
    val baseSf = sys.env.getOrElse("SKEW_BASE_SF", "/root/testdata/sf0.1")
    val queries = sys.env.get("SKEW_QUERIES")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("q32_dedup_exact", "q33_ngram_jaccard", "q33_hashorder",
        "q34_minhash_lsh", "q88_containment_join"))
    // the retired hash-ordered q33 rides along under a dev name (not
    // part of the driver contract) so the A/B stays reproducible; its
    // output is asserted equal to the df-ordered default below. The
    // _nopref twins (r11: beyond-cap prefilter A/B on a hot corpus)
    // run the same queries with the shuffle-regime hash prefilter OFF.
    val extra: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map("q33_hashorder" -> (graft.queries.TextOps.q33NgramJaccardHashOrdered _),
        "q33_hybrid" -> (graft.queries.TextOps.q33NgramJaccardHybridOrdered _),
        "q33_nopref" -> (graft.queries.TextOps.q33NgramJaccardNoPrefilter _),
        "q88_nopref" -> (graft.queries.TextOps.q88ContainmentJoinNoPrefilter _),
        // r12: the hot-gram-safe two-pass q99 (map-combined count +
        // semi join) — the A/B against the count-window default
        "q99_twopass" -> (graft.queries.TextOps.q99SubstringDedupTwoPass _),
        // r13: the count-window form under a dev name — since the r13
        // regime gate, `q99_substring_dedup` on a hot corpus probes the
        // AUTO-selected two-pass, so the window-on-hot A/B needs this
        // explicit handle (the q33_hashorder pattern)
        "q99_window" -> (graft.queries.TextOps.q99SubstringDedupWindow _),
        // r15: tokenize-join gate twins — broadcast FORCED, so the
        // shuffled-vs-broadcast equality can be pinned on a corpus
        // where the vocab gate actually selects the shuffle (the
        // uniqvocab adversary; below the gate the check is vacuous)
        "q106_bcast" -> (graft.queries.TextOps.q106BpeEncodeBroadcast _),
        "q100_bcast" -> (graft.queries.TextOps.q100BpeMergesBroadcast _))

    val spark = Session.local(Session.cores)
    val profile = QueryProfile.attach(spark)
    val width = spark.sparkContext.defaultParallelism

    // --- synthesize the hot-key corpus -------------------------------
    // Two document adversaries (SKEW_ADVERSARY):
    //  - "boilerplate" (default): one boilerplate sentence appended to
    //    30% of docs (doc_id % 10 < 3) — every treated doc gains the
    //    same ~4 bigram shingles (and, for q99, ~10 identical 25-char
    //    grams) → hot inverted-index/window keys with df ≈ 0.3·N.
    //    Appended to whatever SKEW_BASE_SF points at, so on a synthetic
    //    sf10 base the boilerplate shingles are UNsuffixed — genuinely
    //    hot across all replicas, df ≈ 150k at 500k docs (the scale
    //    adversary: hot df grows WITH the corpus, unlike the
    //    per-replica-suffixed source words).
    //  - "dupfam" (r12, the q62 adversary): docs at doc_id % EVERY == 1
    //    (SKEW_DUPFAM_EVERY, default 250) have their text REPLACED by
    //    one fixed sentence — K identical docs, cross-replica (the
    //    replacement carries no replica suffixes), forming ONE giant
    //    dup family: q33 legitimately emits ~K²/2 pairs for it and the
    //    CC loop gets a K-node star whose root's neighborhood is the
    //    groupBy-min hot key the large-star design claims to spread.
    //    K is chosen by EVERY (≈ N/EVERY members) so the legitimate
    //    quadratic OUTPUT stays bounded next to the corpus.
    // Both builds also carry the q84 CUSTOMER adversary (untouched by
    // the document edits): a duplicate-name family (the entity-res real
    // case: one canonical string mass-duplicated by an upstream feed) —
    // every (SKEW_FAMILY_MOD, default 300)-th customer gets the same
    // name → all its FastSS deletion variants become hot join keys
    // carrying a genuine |family|² candidate set; the probe's question
    // is whether that work SPREADS across the byte-derived
    // shuffled-hash width or funnels into one task.
    //
    // SKEW_HOT_DIR overrides the output path and makes the build
    // IDEMPOTENT (reused if already populated): the r10 per-JVM
    // measurement protocol runs one query per JVM, and rebuilding a
    // 500k-doc corpus in every JVM would dominate the probe.
    // r13 third adversary, "rundoc": ONE document (doc_id 1) replaced
    // by a period-1 character run of SKEW_RUNDOC_CHARS chars — every
    // position is the SAME 25-gram, so its whole length lands on one
    // atomic window partition in q99's window form. This is the
    // intra-doc monster the review-hardened estimator catches through
    // its exact big-doc census (n_chars > budget/4), where a doc
    // SAMPLE can miss a single doc entirely — the scale twin of the
    // fixture pins in TextOpsSpec/PlanSpec.
    // r15 fourth adversary, "uniqvocab": every doc gains SKEW_UNIQ_WORDS
    // doc-id-unique words (crawl junk — the vocabulary grows with the
    // CORPUS, the tokenize join's worst case that defeats Heaps' law and
    // forces joinVocab past the broadcast cap through vocabEstBytes)
    // plus SKEW_HOT_WORDS copies of the fixed word "the" (a Zipf-hot
    // word at ~4-5% of all occurrences layered on top — the probe-side
    // funnel the xxhash64(doc_id)-salt exists to spread). This is the
    // adversary pair the r14 verdict asked for: (a) forces the shuffle
    // regime, (b) makes one word hot inside it.
    val adversary = sys.env.getOrElse("SKEW_ADVERSARY", "boilerplate")
    require(Set("boilerplate", "dupfam", "rundoc", "uniqvocab")(adversary),
      s"SKEW_ADVERSARY must be boilerplate|dupfam|rundoc|uniqvocab, got $adversary")
    val dupEvery = sys.env.getOrElse("SKEW_DUPFAM_EVERY", "250").toLong
    val familyMod = sys.env.getOrElse("SKEW_FAMILY_MOD", "300").toLong
    val runChars = sys.env.getOrElse("SKEW_RUNDOC_CHARS", "1000000").toInt
    val uniqWords = sys.env.getOrElse("SKEW_UNIQ_WORDS", "8").toInt
    val hotWords = sys.env.getOrElse("SKEW_HOT_WORDS", "3").toInt
    val skewDir = sys.env.getOrElse("SKEW_HOT_DIR", "/tmp/skewdata/sf0.1")
    val hasCustomer = new java.io.File(s"$baseSf/customer.parquet").exists
    // Reuse demands BOTH existence and provenance (r11 ADVICE low 3):
    // per-table _SUCCESS markers prove the write finished, but a hot
    // corpus built from a DIFFERENT base/adversary/knob set would pass
    // an existence-only check and silently poison the base-vs-hotkey
    // A/B rows. The build stamps a provenance line (base path +
    // adversary + knobs + base row counts) and reuse requires it to
    // match the current invocation exactly.
    val provenance: String = {
      val nDocs = spark.read.parquet(s"$baseSf/documents.parquet").count()
      val nCust = if (hasCustomer)
        spark.read.parquet(s"$baseSf/customer.parquet").count() else 0L
      s"""{"base":"$baseSf","adversary":"$adversary",""" +
        s""""dupfam_every":$dupEvery,"family_mod":$familyMod,""" +
        (if (adversary == "rundoc") s""""rundoc_chars":$runChars,""" else "") +
        (if (adversary == "uniqvocab")
          s""""uniq_words":$uniqWords,"hot_words":$hotWords,""" else "") +
        s""""base_docs":$nDocs,"base_customers":$nCust}"""
    }
    val provPath = java.nio.file.Paths.get(s"$skewDir/_provenance.json")
    val provMatches = java.nio.file.Files.exists(provPath) &&
      new String(java.nio.file.Files.readAllBytes(provPath), "UTF-8").trim == provenance
    val hotPrebuilt = sys.env.contains("SKEW_HOT_DIR") && provMatches &&
      new java.io.File(s"$skewDir/documents.parquet/_SUCCESS").exists &&
      (!hasCustomer ||
        new java.io.File(s"$skewDir/customer.parquet/_SUCCESS").exists)
    if (hotPrebuilt)
      System.err.println(s"[skewprobe] reusing prebuilt hot corpus $skewDir ($provenance)")
    if (!hotPrebuilt) {
    if (java.nio.file.Files.exists(provPath) && !provMatches)
      System.err.println(s"[skewprobe] provenance mismatch at $skewDir — rebuilding")
    java.nio.file.Files.deleteIfExists(provPath) // a dying build must not leave a stale stamp
    val docEdit: Column => Column =
      if (adversary == "dupfam")
        text => when(col("doc_id") % dupEvery === 1,
          lit("the quick brown fox jumps over the lazy dog while the " +
            "patient grey owl watches from the old oak tree"))
          .otherwise(text)
      else if (adversary == "rundoc")
        text => when(col("doc_id") === 1, lit("a" * runChars))
          .otherwise(text)
      else if (adversary == "uniqvocab")
        // " uq<doc_id>x0 uq<doc_id>x1 …" — unique across docs AND
        // across synthetic-sf replicas (doc_id is globally unique), so
        // the vocabulary grows linearly with the corpus; then the hot
        // word, un-suffixed, hot across every doc
        text => concat(text,
          array_join(transform(sequence(lit(0), lit(uniqWords - 1)),
            i => concat(lit(" uq"), col("doc_id").cast("string"),
              lit("x"), i.cast("string"))), ""),
          lit(" the" * hotWords))
      else
        text => when(col("doc_id") % 10 < 3,
          concat(text, lit(" lorem ipsum dolor sit amet footer")))
          .otherwise(text)
    spark.read.parquet(s"$baseSf/documents.parquet")
      .withColumn("text", docEdit(col("text")))
      // dupfam replaces text wholesale — keep n_chars consistent with it
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
    if (hasCustomer)
      spark.read.parquet(s"$baseSf/customer.parquet")
        .withColumn("c_name",
          when(col("c_custkey") % familyMod === 0, lit("Customer#HOTFAMILY0000"))
            .otherwise(col("c_name")))
        .write.mode("overwrite").parquet(s"$skewDir/customer.parquet")
    else {
      // r12 ADVICE: a rebuild against a customer-less base must also
      // REMOVE any customer.parquet a previous build left here — the
      // provenance stamp records base_customers=0 (so reuse is blocked
      // correctly), but a q84 probe pointed at this dir would silently
      // read the stale cross-base table alongside the fresh documents
      val stale = java.nio.file.Paths.get(s"$skewDir/customer.parquet")
      if (java.nio.file.Files.exists(stale)) {
        System.err.println(s"[skewprobe] removing stale $stale (base has no customer table)")
        val walk = java.nio.file.Files.walk(stale)
        // sorted() materializes the walk before iteration, so deleting
        // during the forEach cannot invalidate the traversal
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.delete(p))
        finally walk.close()
      }
    }
    java.nio.file.Files.write(provPath, (provenance + "\n").getBytes("UTF-8"))
    }

    import graft.JsonNum.num
    val rows = mutable.ArrayBuffer.empty[String]

    def lookup(q: String) = extra.get(q).orElse(graft.SparkEntry.queries.get(q))

    // losslessness cross-check: both prefix orders must produce the
    // EXACT q33 rows on both corpora before the timings mean anything
    // (only when a q33 variant is actually being probed — the check
    // costs four full q33 runs at the probe decade).
    // SKEW_CHECK=0 skips it: on a BEYOND-CAP hot corpus the retired
    // hash-ordered variant is the known quadratic cliff (df ≈ 150k at
    // sf10 → ~df²/25 candidates per hot key ≈ 10^9 — it would never
    // finish, and its behavior is already adjudicated at sf0.1/sf1);
    // the r11 beyond-cap runs use the pref/nopref equality check below
    // instead, which exercises only the bounded df-ordered plan.
    val checkQ33 = queries.exists(_.startsWith("q33")) &&
      !sys.env.get("SKEW_CHECK").contains("0")
    for ((label, dir) <- Seq("base" -> baseSf, "hotkey" -> skewDir) if checkQ33) {
      val a = graft.queries.TextOps.q33NgramJaccard(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      val b = graft.queries.TextOps.q33NgramJaccardHashOrdered(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      require(a == b, s"q33 prefix-order variants diverge on $label")
      if (queries.contains("q33_hybrid")) {
        val c = graft.queries.TextOps.q33NgramJaccardHybridOrdered(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        require(a == c, s"q33 hybrid prefix order diverges on $label")
      }
      println(s"[skewprobe] q33 variants identical on $label (${a.size} pairs)")
      Session.isolate(spark)
    }

    // adversarial losslessness (r11): with SKEW_AB=1, every *_nopref
    // query probed must produce EXACTLY the default (prefilter-on)
    // rows on the HOT corpus — the probabilistic-losslessness contract
    // exercised where it matters, beyond the broadcast cap with
    // df ≈ 0.3·N hot shingles inflating every surviving pair's hash
    // image. The collect is safe: outputs are tiny pair lists.
    if (sys.env.get("SKEW_AB").contains("1")) {
      val twin = Map("q33_nopref" -> "q33_ngram_jaccard",
        "q88_nopref" -> "q88_containment_join",
        // r12/r13: the two q99 FORMS must agree on the hot corpus
        // (TextOpsSpec pins fixtures; this pins the corpus the A/B
        // rows are actually recorded on). Twinned form-vs-form, NOT
        // against the gated default — whichever side the regime gate
        // picks for this corpus (post-recalibration: window for the
        // boilerplate adversary, two-pass for rundoc), one of these
        // pairs would compare the default with itself and pass
        // vacuously; together the form-vs-form pair plus the
        // gate-vs-window pair keep both forms AND the gate's own
        // choice covered on either side (r13 review).
        "q99_twopass" -> "q99_window",
        "q99_window" -> "q99_substring_dedup",
        // r15: broadcast-forced twins vs the gated defaults — on the
        // uniqvocab corpus the gate selects the shuffle, so this pins
        // shuffled == broadcast exactly where the regime switch fires
        "q106_bcast" -> "q106_bpe_encode",
        "q100_bcast" -> "q100_bpe_merges")
      for (q <- queries; base <- twin.get(q)) {
        val a = lookup(q).get.apply(spark, skewDir)
          .collect().map(_.toString).sorted.toSeq
        Session.isolate(spark)
        val b = lookup(base).get.apply(spark, skewDir)
          .collect().map(_.toString).sorted.toSeq
        require(a == b, s"$q diverges from $base on the hot corpus " +
          s"(${a.size} vs ${b.size} rows)")
        println(s"[skewprobe] $q == $base on hotkey (${a.size} rows)")
        Session.isolate(spark)
      }
    }

    // warm the kernels once so neither dataset is charged JIT
    queries.foreach(q => lookup(q).foreach(f =>
      GraftColumnBridge.forceOwnPlan(f(spark, baseSf))))

    for ((label, dir) <- Seq("base" -> baseSf, "hotkey" -> skewDir);
         q <- queries) {
      lookup(q) match {
        case None => System.err.println(s"[skewprobe] unknown query $q — skipped")
        case Some(f) =>
          // rep1 absorbs per-(dataset,query) first-execution codegen;
          // rep2 is recorded. Cold cache both reps (ScaleSweep recipe).
          // Own-plan forcing (r12, the ScaleSweep/Bench treatment):
          // count() would prune terminal sorts/projections and can
          // eliminate a unique-keyed left-join tail entirely.
          val run = (1 to 2).map { _ =>
            Session.isolate(spark)
            profile.measure(GraftColumnBridge.forceOwnPlan(f(spark, dir)))
          }.last
          val stats = run.spreads
          // the dominant stage (largest max task) carries the skew
          // verdict; ratios on sub-200ms stages are scheduling noise,
          // so the "meaningful" worst ratio only looks above that floor.
          // A query whose rep-2 plan records no stage tasks at all
          // (collapsed to a driver-local/cached result) still emits its
          // row — with dominant_stage null — instead of aborting the
          // probe and losing every other query's rows (r9 advice).
          val wide = run.skewSpreads(width)
          val meaningful = wide.filter(_.maxMs >= 200)
          val worst = if (meaningful.isEmpty) 0.0
            else meaningful.map(s => s.maxMs.toDouble / math.max(s.medMs, 1L)).max
          // r11: at beyond-cap widths the max>=200ms floor alone is not
          // enough — OUTPUT-scale stages (survivor persist/semi-joins:
          // tens of thousands of pairs across 42 partitions) run with a
          // ~2-5 ms median and one ~400 ms task, printing ratios in the
          // hundreds that describe a trivial stage, not a funnel. The
          // LOADED ratio demands the median itself carry real work
          // (med >= 200 ms): a genuine hot-key funnel in a working
          // stage (the r9 hash-order cliff: every task grinding, one
          // grinding df²/25) stays visible, while a straggler in an
          // otherwise-idle stage is judged by stages_top3's ABSOLUTE
          // max_ms instead of a ratio over idle neighbors.
          val loaded = wide.filter(_.medMs >= 200)
          val worstLoaded = if (loaded.isEmpty) 0.0
            else loaded.map(s => s.maxMs.toDouble / math.max(s.medMs, 1L)).max
          // the rows twin of worst_loaded (r15): max/med shuffle-read
          // records over the same loaded stages — ambient-immune
          val worstLoadedRows = if (loaded.isEmpty) 0.0
            else loaded.map(s => s.maxRows.toDouble / math.max(s.medRows, 1L)).max
          def stageJson(s: QueryProfile.Spread) =
            s"""{"tasks":${s.tasks},"max_ms":${s.maxMs},"med_ms":${s.medMs},""" +
              s""""ratio":${num("%.2f", s.maxMs.toDouble / math.max(s.medMs, 1L))},""" +
              s""""rows_max":${s.maxRows},"rows_med":${s.medRows},""" +
              s""""rows_ratio":${num("%.2f", s.maxRows.toDouble / math.max(s.medRows, 1L))}}"""
          val dominantJson =
            if (stats.isEmpty) "null" else stageJson(stats.maxBy(_.maxMs))
          val top3Json = stats.sortBy(-_.maxMs).take(3)
            .map(stageJson).mkString("[", ",", "]")
          // rep-2 byte totals: the no-spill proof and the prefilter
          // A/B's recordable signal — beyond-cap walls are single-disk
          // noise (r10 verdict task 1)
          def gb(f: QueryProfile.Stage => Long) = num("%.3f", run.total(f) / 1e9)
          val line =
            s"""{"dataset":"$label","query":"$q","rows":${run.value},""" +
              s""""wall_s":${num("%.3f", run.wallS)},"n_stages":${stats.size},""" +
              s""""dominant_stage":$dominantJson,""" +
              s""""worst_meaningful_ratio":${num("%.2f", worst)},""" +
              s""""worst_loaded_ratio":${num("%.2f", worstLoaded)},""" +
              s""""worst_loaded_rows_ratio":${num("%.2f", worstLoadedRows)},""" +
              s""""stages_top3":$top3Json,""" +
              s""""shuffle_write_gb":${gb(_.writeBytes)},"shuffle_read_gb":${gb(_.readBytes)},""" +
              s""""mem_spill_gb":${gb(_.memSpill)},"disk_spill_gb":${gb(_.diskSpill)}}"""
          println(line)
          rows += line
          QueryProfile.publish(outPath, rows)
      }
    }
    spark.stop()
  }
}
