package graft.queries

import graft.SparkSuite

/** Physical-plan alternatives of the text near-dup operators must agree
  * exactly — the size switch picks a plan, never a different answer. */
class TextOpsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  test("q35 chunk-blocked pair join equals the broadcast all-pairs scan") {
    val broadcastRows = TextOps.q35SimhashBroadcast(spark, sf).collect().toSeq
    val blockedRows = TextOps.q35SimhashBlocked(spark, sf).collect().toSeq
    assert(broadcastRows.nonEmpty)
    assert(blockedRows == broadcastRows)
    // the dispatcher picks the broadcast plan below the size threshold
    assert(TextOps.q35Simhash(spark, sf).collect().toSeq == broadcastRows)
  }

  test("beyond-cap hash-prefilter verify is output-identical to the broadcast regime") {
    // same REAL corpus, n_chars inflated so verifySide's estimate
    // crosses the 64 MB broadcast cap: the shuffle regime (shuffled-hash
    // joins, hash-image prefilter + string confirm on survivors) must
    // produce byte-identical rows to the broadcast regime — the
    // prefilter is probabilistically lossless (a true-pair drop needs a
    // 64-bit xxh64 collision between two distinct shingles BOTH inside
    // that pair's intersection, ~2^-64 per shingle pair — r10 ADVICE
    // corrected the earlier "strictly monotone" claim), and this pin is
    // where that contract meets real text
    import org.apache.spark.sql.functions.{col, lit}
    // ×2000 lands the estimate just past the cap (width ~55) — a larger
    // factor would swing the byte-derived width into the thousands and
    // the test would spend its time scheduling empty tasks
    val dir = java.nio.file.Files.createTempDirectory("graft_regime").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("n_chars", col("n_chars") * lit(2000L))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val a33 = TextOps.q33NgramJaccard(spark, sf).collect().toSeq
    val b33 = TextOps.q33NgramJaccard(spark, dir).collect().toSeq
    assert(a33.nonEmpty && b33 == a33)
    val a88 = TextOps.q88ContainmentJoin(spark, sf).collect().toSeq
    val b88 = TextOps.q88ContainmentJoin(spark, dir).collect().toSeq
    assert(a88.nonEmpty && b88 == a88)
    // q99's two-pass (map-combined count + semi join) dev variant must
    // match the count-window default in BOTH regimes — it is the
    // recorded hot-gram mitigation (SKEW_r12/BASELINE r12), and a
    // silent divergence would invalidate its A/B rows the same way
    val a99 = TextOps.q99SubstringDedup(spark, sf).collect().toSeq
    assert(a99.nonEmpty)
    assert(TextOps.q99SubstringDedupTwoPass(spark, sf).collect().toSeq == a99)
    assert(TextOps.q99SubstringDedup(spark, dir).collect().toSeq == a99)
    assert(TextOps.q99SubstringDedupTwoPass(spark, dir).collect().toSeq == a99)
  }

  test("q99 regime gate fires on a hot-gram corpus and the two sides agree there (r13)") {
    // The r13 auto-switch: a corpus whose hottest gram exceeds
    // HotGramTaskRowBudget window rows must select the two-pass form
    // WITHOUT operator intervention — and the decision must be
    // output-invisible, ON THE VERY CORPUS WHERE IT FIRES. The hot doc
    // is a period-1 run: every position carries the same 25-gram, and
    // since every fixture doc DECLARES n_chars = 2M (the stats-column
    // trick that also activates the byte-width regime, the gate's
    // outer condition), the estimator's big-doc census counts it
    // EXACTLY — ~600k positions of one gram > the 2^19 budget (the
    // post-kernel recalibrated value: one 16 MB gram-slice's row mass).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hot99").toString
    (0 until 100).map(i => (i.toLong,
        if (i == 0) "a" * 600000
        else s"alpha bravo charlie delta echo foxtrot golf hotel i$i j$i",
        "en", "syn", 2000000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val auto = TextOps.q99SubstringDedup(spark, dir)
    // the gate selected the two-pass: its plan carries the semi join
    // the window form provably lacks (PlanSpec pins the full shape)
    assert(auto.queryExecution.executedPlan.toString.contains("LeftSemi"),
      auto.queryExecution.executedPlan.toString)
    // both sides of the gate, identical rows, on the hot corpus itself
    val rows = auto.collect().toSeq
    assert(rows.nonEmpty)
    assert(TextOps.q99SubstringDedupWindow(spark, dir).collect().toSeq == rows)
    // and the hot doc's single maximal span is what dedup must find:
    // positions 0..599975 merge into one island covering the whole run
    val hotSpans = rows.filter(_.getLong(0) == 0L)
    assert(hotSpans.size == 1 && hotSpans.head.getLong(3) == 600000L,
      hotSpans.mkString(", "))
  }

  test("beyond-cap q84 name-collapsed variant join equals the broadcast regime on a dup family") {
    // The r12 hot-family probe measured a 23.8× straggler in the
    // shuffle-regime variant join (one canonical name mass-duplicated —
    // every (dirty, canon) family pair is a TRUE lev≤1 match, and a
    // hash equi-join cannot split one key), fixed by collapsing the
    // canon side to one (k, name, min_id, n_ids) row per name before
    // the join. The collapse is an EXACT rewrite (ids of different
    // names are disjoint; a name's min/count reconstruct from its
    // group row) — this pin is where that argument meets data, on a
    // corpus that actually CONTAINS a dup family. The shuffle regime
    // is forced via the claimCustEstBytes seam (the customer estimate
    // reads real name lengths, so unlike the documents fixtures it
    // cannot lie through a stats column).
    import org.apache.spark.sql.functions.{col, lit, when}
    val dirA = java.nio.file.Files.createTempDirectory("graft_fam_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_fam_b").toString
    val fam = spark.read.parquet(s"$sf/customer.parquet")
      .withColumn("c_name",
        when(col("c_custkey") % 50 === 0, lit("Customer#HOTFAMILY0000"))
          .otherwise(col("c_name")))
    for (dir <- Seq(dirA, dirB))
      fam.write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val below = TextOps.q84FuzzyJoin(spark, dirA).collect().toSeq
    TextOps.claimCustEstBytes(spark, dirB, 100L << 20) // force shuffle regime
    val beyond = TextOps.q84FuzzyJoin(spark, dirB).collect().toSeq
    assert(below.nonEmpty && beyond == below)
    // the fixture's adversary is real: family members are ambiguous
    // across the whole family (n_candidates == |family|)
    val famSize = fam.filter(col("c_custkey") % 50 === 0).count()
    assert(famSize >= 10, s"fixture family too small: $famSize")
    val famRows = below.filter(_.getLong(0) % 50 == 0)
    assert(famRows.nonEmpty && famRows.forall(_.getLong(2) == famSize),
      s"expected n_candidates == $famSize for family members")
  }

  test("q51 decontamination flags only non-benchmark docs, with real overlap") {
    import org.apache.spark.sql.functions.col
    val hits = TextOps.q51Decontaminate(spark, sf).collect()
    assert(hits.nonEmpty)
    // the benchmark slice itself is never flagged
    assert(hits.forall(_.getLong(0) % 41 != 0))
    // every flagged doc shares >= 1 distinct 4-gram
    assert(hits.forall(_.getLong(1) >= 1))
    // spot-check: a flagged doc really shares a 4-gram with the benchmark
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String) = t.split(" ", -1).sliding(4)
      .filter(_.length == 4).map(_.mkString(" ")).toSet
    val bench = docs.collect { case (id, t) if id % 41 == 0 => grams(t) }
      .foldLeft(Set.empty[String])(_ ++ _)
    assert(hits.forall(h => grams(docs(h.getLong(0))).intersect(bench).size ==
      h.getLong(1)))
  }

  test("q60 bloom-prefiltered decontamination equals q51 exactly") {
    val exact = TextOps.q51Decontaminate(spark, sf).collect().toSeq
    val bloomed = TextOps.q60DecontaminateBloom(spark, sf).collect().toSeq
    assert(exact.nonEmpty)
    // no false negatives (bloom property) + false positives removed by
    // the verify join ⇒ the prefilter is invisible in the output
    assert(bloomed == exact)
  }

  test("q62 clusters equal union-find over the q33 pairs, transitively") {
    val pairs = TextOps.q33NgramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows = TextOps.q62DupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    rows.foreach { case (d, c) => assert(c == find(d), s"doc $d: $c != ${find(d)}") }
    // at least one >=3 family proves closure went beyond single pairs
    assert(rows.groupBy(_._2).exists(_._2.length >= 3))
    assert(pairs.nonEmpty)
  }

  test("q62 star CC equals min-label propagation on the real pair graph") {
    // two independent distributed implementations must agree label-for-
    // label: the large/small-star loop (the production path) and the
    // min-label propagator (kept precisely for this pin)
    val pairs = TextOps.q33NgramJaccard(spark, sf).select("doc_a", "doc_b")
    val viaStar = TextOps.ccLabelsStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLoop = TextOps.ccLabelsDistributed(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStar.nonEmpty)
    assert(viaLoop == viaStar)
  }

  test("star CC collapses an adversarial chain (the case min-label crawls on)") {
    // a 64-node path graph: component minimum 0 must label every node;
    // min-label needs ~diameter rounds here, the star loop O(log n) —
    // this pins correctness of the log-round path on its worst shape
    import spark.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = TextOps.ccLabelsStar(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.keySet == (0L to 63L).toSet)
    assert(labels.values.forall(_ == 0L))
    // two disjoint rings keep distinct minima
    val rings = ((100L until 110L).map(i => (i, if (i == 109L) 100L else i + 1)) ++
      (200L until 210L).map(i => (i, if (i == 209L) 200L else i + 1)))
      .toDF("doc_a", "doc_b")
    val rl = TextOps.ccLabelsStar(rings).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rl.filter(_._1 < 200L).forall(_._2 == 100L))
    assert(rl.filter(_._1 >= 200L).forall(_._2 == 200L))
  }

  test("q63 ensemble is the tagged union of the q33 and q37 pair sets") {
    val t = TextOps.q33NgramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Vectors.q37CosineNearDup(spark, sf).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = TextOps.q63EnsembleNeardup(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2))).toMap
    assert(t.nonEmpty && e.nonEmpty)
    assert(rows.keySet == (t union e))
    rows.foreach { case (p, sig) =>
      val expect = if (t(p) && e(p)) "both" else if (t(p)) "text" else "embedding"
      assert(sig == expect, s"$p tagged $sig, expected $expect")
    }
  }

  test("q52 repetition fractions are in range and the verdict matches them") {
    val rows = TextOps.q52RepetitionFilter(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (dwf, tbf, keep) = (r.getDouble(1), r.getDouble(2), r.getBoolean(3))
      assert(dwf >= 0.0 && dwf < 1.0)
      assert(tbf >= 0.0 && tbf <= 1.0)
      assert(keep == (dwf <= 0.6 && tbf <= 0.1))
    }
    // the thresholds actually split the corpus (both verdicts occur)
    assert(rows.exists(_.getBoolean(3)) && rows.exists(!_.getBoolean(3)))
  }

  test("q53 resampling respects the per-source budget and keeps determinism") {
    val rows = TextOps.q53SourceMix(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == 500) // every doc counted once
    // uniform sources with a 60% budget: every source keeps a strict,
    // non-empty subset (p = 0.6 each here)
    rows.foreach(r => assert(r.getLong(2) > 0 && r.getLong(2) <= r.getLong(1)))
    val kept = rows.map(_.getLong(2)).sum.toDouble / 500
    assert(kept > 0.4 && kept < 0.8, s"kept fraction $kept")
    // deterministic: a second run is identical
    assert(TextOps.q53SourceMix(spark, sf).collect().toSeq == rows.toSeq)
  }

  test("q54 packing offsets are contiguous per source and chunks cover them") {
    val rows = TextOps.q54SequencePack(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val inOrder = docs.sortBy(_._2)
      // offsets tile the concatenated token stream with no gaps
      inOrder.foldLeft(0L) { case (expected, (_, _, n, off, first, last, straddles)) =>
        assert(off == expected)
        assert(first == off / 512 && last == (off + n - 1) / 512)
        assert(straddles == (first != last))
        off + n
      }
    }
  }

  test("q55 scrubs every synthesized phone and email; counts match") {
    val rows = Relational.q55PiiScrub(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scrubbed, nPhones, nEmails) =
        (r.getString(1), r.getLong(2), r.getLong(3))
      assert(nPhones >= 1 && nEmails == 1)
      assert(scrubbed.contains("[PHONE]") && scrubbed.contains("[EMAIL]"))
      // nothing phone- or email-shaped survives the scrub
      assert(!"[0-9]{3}-[0-9]{3}-[0-9]{4}".r.findFirstIn(scrubbed).isDefined)
      assert(!scrubbed.contains("@example.com"))
    }
  }

  test("q56 vocabulary is top-20 by tf with df <= tf and df <= corpus size") {
    val rows = TextOps.q56Vocabulary(spark, sf).collect()
    assert(rows.length == 20)
    val tfs = rows.map(_.getLong(1))
    assert(tfs.sameElements(tfs.sortBy(-_))) // descending
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1) && r.getLong(2) <= 500))
  }

  test("q57 phash pairs are thresholded; the hash is edit-robust (pHash property)") {
    val pairs = Media.q57MediaPhashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, h) => assert(a < b && h >= 0 && h <= 2) }
    // the DEFINING perceptual-hash property: a small local edit perturbs
    // one grid cell slightly, so DCT coefficients move by a hair and the
    // hash stays within a few bits — unlike a cryptographic hash, where
    // one byte flips ~half the bits
    import graft.multimodal.Multimodal.phashBytes
    import org.apache.spark.sql.functions.col
    val texts = graft.Tables.documents(spark, sf)
      .select(col("text")).collect().map(_.getString(0))
    val hammings = texts.map { t =>
      val orig = t.getBytes("UTF-8")
      val edited = orig.clone()
      edited(orig.length / 2) = (edited(orig.length / 2) + 1).toByte
      java.lang.Long.bitCount(phashBytes(orig) ^ phashBytes(edited))
    }
    assert(hammings.count(_ <= 4) >= texts.length * 8 / 10,
      s"only ${hammings.count(_ <= 4)}/${texts.length} docs stay within hamming 4 " +
        s"after a 1-byte edit (near inputs must hash near)")
    // and an unrelated pair sits far away on average (63 well-mixed
    // bits → unrelated docs differ on ~2·31·32/63 ≈ 15+ bits)
    val hs = texts.map(t => phashBytes(t.getBytes("UTF-8")))
    val crossH = hs.take(50).zip(hs.slice(50, 100))
      .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }
    assert(crossH.sum.toDouble / crossH.length > 10.0,
      s"far inputs average ${crossH.sum.toDouble / crossH.length} bits apart")
  }

  test("q58 release respects every individual filter it composes") {
    val rel = TextOps.q58CorpusRelease(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(rel.nonEmpty)
    val ids = rel.map(_._1).toSet
    // each composed filter individually holds on the released set
    val dupB = TextOps.q33NgramJaccard(spark, sf).collect()
      .map(_.getLong(1)).toSet
    assert(ids.intersect(dupB).isEmpty)
    val contaminated = TextOps.q51Decontaminate(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(ids.intersect(contaminated).isEmpty)
    val repFail = TextOps.q52RepetitionFilter(spark, sf).collect()
      .filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(ids.intersect(repFail).isEmpty)
    assert(ids.forall(_ % 41 != 0))
    // split stamping matches the q43 rule
    rel.foreach { case (id, split) =>
      val b = (id * 2654435761L) % 100
      val expected = if (b < 80) "train" else if (b < 90) "val" else "test"
      assert(split == expected)
    }
  }

  test("q92 tf-idf keywords: ranks match a by-hand recomputation") {
    import org.apache.spark.sql.functions.col
    val rows = TextOps.q92TfidfKeywords(spark, sf).collect()
    assert(rows.nonEmpty)
    // every doc contributes 1..3 rows, rk dense from 1, scores non-ascending
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.length <= 3)
      val scores = sorted.map(_.getDouble(5)).toSeq
      assert(scores == scores.sorted.reverse)
    }
    // by-hand tf-idf for one doc from the raw corpus
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docs.length.toDouble
    val dfMap = docs.flatMap { case (_, t) => t.split(" ", -1).distinct }
      .groupBy(identity).view.mapValues(_.length).toMap
    val (id0, t0) = docs.minBy(_._1)
    val tf0 = t0.split(" ", -1).groupBy(identity).view.mapValues(_.length)
    val expected = tf0.toSeq
      .map { case (w, tf) => (w, tf.toDouble * n / dfMap(w)) }
      .sortBy { case (w, sc) => (-sc, w) }.take(3).map(_._1)
    assert(byDoc(id0).sortBy(_.getLong(1)).map(_.getString(2)).toSeq == expected)
  }

  test("q93 LM score: per-doc statistics match a by-hand bigram model") {
    val rows = TextOps.q93LmScore(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    // corpus model: bigram counts, start counts, vocab size
    val bigrams = docs.flatMap { case (_, w) => w.sliding(2).filter(_.length == 2) }
      .map(p => (p(0), p(1)))
    val c2 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val v = docs.flatMap(_._2).distinct.length.toLong
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(rows.length == docs.length)
    // full recomputation for every 50th doc (keep the spec fast)
    docs.filter(_._1 % 50 == 0).foreach { case (id, w) =>
      val ps = w.sliding(2).filter(_.length == 2)
        .map(p => (c2((p(0), p(1))) + 1.0) / (c1(p(0)) + v).toDouble).toSeq
      val r = byId(id)
      assert(r.getLong(1) == ps.length, s"doc $id n_bigrams")
      assert(r.getDouble(2) == ps.foldLeft(0.0)(_ + _), s"doc $id sum_p")
      assert(r.getDouble(4) == ps.min, s"doc $id min_p")
      assert(r.getBoolean(5) == (r.getDouble(3) >= 0.034), s"doc $id keep")
    }
    // the threshold must split the corpus (else the flag is vacuous)
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
  }

  test("q103 pruned LM score: bounded-model contract against a by-hand replay") {
    val rows = TextOps.q103LmScorePruned(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val bigrams = docs.flatMap { case (_, w) => w.sliding(2).filter(_.length == 2) }
      .map(p => (p(0), p(1)))
    val c2full = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    // the model bound: count-threshold 2, then top-500 by (c desc, w1, w2)
    val kept = c2full.toSeq.filter(_._2 >= 2L)
      .sortBy { case ((w1, w2), c) => (-c, w1, w2) }.take(500).toMap
    // both prune mechanisms must actually bite on this corpus (else the
    // spec pins nothing): some bigrams fall to the threshold AND the cap
    assert(c2full.exists(_._2 < 2L), "count-threshold prune is vacuous")
    assert(c2full.count(_._2 >= 2L) > 500, "top-K cap is vacuous")
    // c1: EXACT full totals (pruned bigrams included), retained w1 only
    val c1full = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val keptW1 = kept.keySet.map(_._1)
    val v = docs.flatMap(_._2).distinct.length.toLong
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(rows.length == docs.length)
    docs.filter(_._1 % 50 == 0).foreach { case (id, w) =>
      val ps = w.sliding(2).filter(_.length == 2).map { p =>
        val c2 = kept.getOrElse((p(0), p(1)), 0L)
        val c1 = if (keptW1(p(0))) c1full(p(0)) else 0L
        (c2 + 1.0) / (c1 + v).toDouble
      }.toSeq
      val oov = w.sliding(2).filter(_.length == 2)
        .count(p => !kept.contains((p(0), p(1)))).toLong
      val r = byId(id)
      assert(r.getLong(1) == ps.length, s"doc $id n_bigrams")
      assert(r.getLong(2) == oov, s"doc $id n_oov")
      assert(r.getDouble(3) == ps.foldLeft(0.0)(_ + _), s"doc $id sum_p")
      assert(r.getDouble(5) == ps.min, s"doc $id min_p")
      assert(r.getBoolean(6) == (r.getDouble(4) >= 0.034), s"doc $id keep")
    }
    // a doc fully covered by the retained model scores EXACTLY as q93
    // (retained bigrams keep full-corpus c1 totals, so nothing drifts).
    // At sf0.01 the 500-entry cap leaves no fully-covered doc, so this
    // check is conditional here; the retained-exact property itself is
    // pinned unconditionally on a hand-built corpus in LmModelSpec.
    val q93ById = TextOps.q93LmScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    rows.filter(_.getLong(2) == 0L).foreach { r =>
      val q = q93ById(r.getLong(0))
      assert(r.getDouble(3) == q.getDouble(2) && r.getDouble(5) == q.getDouble(4),
        s"doc ${r.getLong(0)} covered-doc drift vs q93")
    }
    // and the prune must actually change SOME doc's score vs q93
    assert(rows.exists(r => r.getDouble(3) != q93ById(r.getLong(0)).getDouble(2)))
    // the model side is bounded BY PLAN SHAPE: the cap compiles to a
    // global top-K (TakeOrdered), never a full sort-and-hope
    val plan = TextOps.q103LmScorePruned(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "model cap lost its top-K shape")
  }

  test("q104/q105 fixed-point GD: trajectory and learned inference match by hand") {
    def bucket(w: String): Long = {
      var a = 7L
      w.foreach(c => a = (a * 31 + c.toLong) % 1048573L)
      a % 64L
    }
    def floorDiv(a: Long, n: Long): Long = Math.floorDiv(a, n)
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).filter(_.nonEmpty).toSeq)
    val n = docs.length.toLong
    // features: word-bucket counts + the bias feature at bucket 64
    val feats = docs.map { case (id, ws) =>
      id -> (ws.groupBy(bucket).view.mapValues(_.length.toLong).toMap + (64L -> 1L))
    }.toMap
    // teacher labels: q101's stand-in weight formula (planted concept)
    val wt = Array.tabulate(64)(b => (b.toLong * 2654435761L) % 17L - 8L)
    val labels = docs.map { case (id, _) =>
      val s = feats(id).collect { case (b, x) if b < 64 => wt(b.toInt) * x }.sum
      id -> (if (s >= 0) 1L else -1L)
    }.toMap
    // the 12-epoch GD+momentum recurrence, exactly as documented
    var w = Array.fill(65)(0L)
    var v = Array.fill(65)(0L)
    val expected = (1 to 12).map { _ =>
      val s = docs.map { case (id, _) =>
        id -> feats(id).map { case (b, x) => w(b.toInt) * x }.sum
      }.toMap
      val nWrong = docs.count { case (id, _) =>
        (s(id) >= 0) != (labels(id) == 1L) }.toLong
      val g = Array.fill(65)(0L)
      docs.foreach { case (id, _) =>
        val r = (labels(id) << 14) - s(id)
        feats(id).foreach { case (b, x) => g(b.toInt) += r * x }
      }
      v = v.zip(g).map { case (vv, gg) => floorDiv(gg, n) + vv - (vv >> 4) }
      w = w.zip(v).map { case (ww, vv) => ww + (vv >> 7) }
      (w.clone(), nWrong)
    }
    val rows = TextOps.q104ClassifierTrain(spark, sf).collect()
    assert(rows.length == 12 * 65)
    rows.foreach { r =>
      val (we, nw) = expected(r.getLong(0).toInt - 1)
      assert(r.getLong(2) == we(r.getLong(1).toInt),
        s"epoch ${r.getLong(0)} bucket ${r.getLong(1)} weight")
      assert(r.getLong(3) == nw, s"epoch ${r.getLong(0)} n_wrong")
    }
    // inference with the learned weights
    val wf = expected.last._1
    val inf = TextOps.q105ClassifierLearned(spark, sf).collect()
    assert(inf.length == docs.length)
    inf.foreach { r =>
      val id = r.getLong(0)
      val score = feats(id).map { case (b, x) => wf(b.toInt) * x }.sum
      assert(r.getLong(3) == score, s"doc $id score")
      assert(r.getLong(2) == labels(id), s"doc $id label")
      assert(r.getBoolean(4) == (score >= 0), s"doc $id keep")
      assert(r.getBoolean(5) == ((score >= 0) == (labels(id) == 1L)), s"doc $id correct")
    }
    // the teacher is genuinely RECOVERED, not majority-matched: final
    // train accuracy must beat both constant classifiers
    val acc = inf.count(_.getBoolean(5))
    val pos = labels.values.count(_ == 1L)
    assert(acc > math.max(pos, docs.length - pos),
      s"acc $acc vs majority ${math.max(pos, docs.length - pos)}")
  }

  test("q94 chunks tile every doc with stride 48 and cover the tail") {
    val rows = TextOps.q94ChunkOverlap(spark, sf).collect()
    val nTok = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length.toLong).toMap
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == nTok.keySet)
    byDoc.foreach { case (id, rs) =>
      val n = nTok(id)
      val sorted = rs.sortBy(_.getLong(1))
      // dense chunk ids, starts at stride 48
      assert(sorted.map(_.getLong(1)).toSeq == (0L until sorted.length).toSeq)
      sorted.foreach { r =>
        val start = r.getLong(2)
        assert(start == r.getLong(1) * 48)
        assert(r.getLong(3) == math.min(64L, n - start), s"doc $id chunk len")
      }
      // coverage: the last chunk reaches the final token, and (unless the
      // doc fits one window) the penultimate one does not — i.e. no
      // redundant trailing chunk is ever emitted
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) == n)
      if (sorted.length > 1)
        assert(sorted(sorted.length - 2).getLong(2) + 64 < n)
    }
    // digest spot-check on the first doc's first chunk
    val (id0, _) = nTok.minBy(_._1)
    val text0 = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") === id0)
      .select(org.apache.spark.sql.functions.col("text"))
      .head().getString(0)
    val first64 = text0.split(" ", -1).take(64).mkString(" ")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(first64.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byDoc(id0).sortBy(_.getLong(1)).head.getString(4) == md)
  }

  test("q96 boilerplate fractions match a by-hand df recomputation") {
    import org.apache.spark.sql.functions.col
    val rows = TextOps.q96BoilerplateGrams(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    def grams(w: Seq[String]) =
      w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq.distinct
    val byDocGrams = docs.map { case (id, w) => id -> grams(w) }.toMap
    val dfMap = byDocGrams.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val meanDf = dfMap.values.sum.toDouble / dfMap.size
    assert(rows.length == docs.length)
    rows.foreach { r =>
      val gs = byDocGrams(r.getLong(0))
      val boiler = gs.count(g => dfMap(g) > 2.0 * meanDf).toLong
      assert(r.getLong(1) == gs.length, s"doc ${r.getLong(0)} n_grams")
      assert(r.getLong(2) == boiler, s"doc ${r.getLong(0)} n_boiler")
      assert(r.getBoolean(4) == (r.getDouble(3) <= 0.25))
    }
    // the relative threshold must split the corpus at the gate SF
    assert(rows.exists(_.getBoolean(4)) && rows.exists(!_.getBoolean(4)))
  }

  test("q97 token budget: kept prefix in hash order, >=1 doc per source") {
    import org.apache.spark.sql.functions.col
    val rows = TextOps.q97TokenBudget(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      // recompute the hash-order cumulative sum per source
      val ordered = rs.sortBy(t => ((t._2 * 2654435761L) % 1000003L, t._2))
      var cum = 0L
      ordered.foreach { case (_, id, n, before, kept) =>
        assert(before == cum, s"$src doc $id tokens_before")
        assert(kept == (cum < 1000L), s"$src doc $id kept")
        cum += n
      }
      // budget contract: the first doc of every source always ships
      assert(ordered.head._5, s"$src first doc not kept")
      // at the gate SF every source overflows its budget
      assert(rs.exists(!_._5), s"$src never exceeds budget — vacuous")
    }
  }

  test("q35 blocked plan pairs via a hash equi-join, not an all-pairs scan") {
    val p = TextOps.q35SimhashBlocked(spark, sf)
      .queryExecution.executedPlan.toString
    // candidates must come from chunk-key equality (hash or sort-merge —
    // the small-side broadcast of a tiny signature table is a legitimate
    // size-based choice; at scale the same logical plan shuffle-joins),
    // never from the quadratic nested-loop scan
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q100 BPE merges match a by-hand 3-round recomputation") {
    import org.apache.spark.sql.functions.col
    val rows = TextOps.q100BpeMerges(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val vocab = scala.collection.mutable.Map[String, Long]()
    docs.foreach(_._2.split(" ").filter(_.nonEmpty)
      .foreach(w => vocab(w) = vocab.getOrElse(w, 0L) + 1))
    var seqs: Map[String, Vector[String]] =
      vocab.keys.map(w => w -> w.map(_.toString).toVector).toMap
    val merges = scala.collection.mutable.ArrayBuffer[String]()
    (1 to 3).foreach { _ =>
      val cnt = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (w, c) =>
        val sy = seqs(w)
        (0 until sy.length - 1).foreach { i =>
          cnt((sy(i), sy(i + 1))) = cnt.getOrElse((sy(i), sy(i + 1)), 0L) + c
        }
      }
      val best = cnt.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head._1
      merges += (best._1 + best._2)
      seqs = seqs.map { case (w, sy) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < sy.length) {
          if (i < sy.length - 1 && (sy(i), sy(i + 1)) == best) {
            out += best._1 + best._2; i += 2 // greedy left-to-right
          } else { out += sy(i); i += 1 }
        }
        w -> out.toVector
      }
    }
    val expected = docs.map { case (id, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      val base = ws.map(_.length.toLong).sum
      val bpe = ws.map(w => seqs(w).length.toLong).sum
      (id, base, bpe, base - bpe, merges(0), merges(1), merges(2))
    }.sortBy(_._1)
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getString(4), r.getString(5), r.getString(6)))
      .toSeq == expected.toSeq)
    // the rounds must learn three DISTINCT merges and actually compress
    assert(merges.distinct.length == 3)
    assert(expected.forall(e => e._4 > 0))
  }

  test("joinVocab branches are row-identical: shuffled == broadcast on the real word stream (r14)") {
    // the shuffle regime only ever EXECUTES beyond the vocab cap,
    // where no oracle sweep runs — so the branch equality is pinned
    // here by running the salted/replicated shuffled-hash branch
    // directly on the real sf0.01 word stream against the broadcast
    // join it must equal (the pinned-across-the-gate discipline every
    // regime gate in this file carries)
    import org.apache.spark.sql.functions._
    def check(dir: String): org.apache.spark.sql.DataFrame = {
      val wp = graft.Tables.documents(spark, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(col("word") =!= "")
      val payload = wp.groupBy(col("word"))
        .agg(count(lit(1)).as("c"), max(length(col("word"))).as("len"))
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("word"), col("doc_id"), col("pos"), col("c"), col("len"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
          r.getLong(3), r.getInt(4))).sorted.toSeq
      val joined = TextOps.joinVocabShuffled(spark, dir, wp, payload)
      val shuffled = rows(joined)
      val bcast = rows(wp.join(broadcast(payload), Seq("word")))
      assert(shuffled.nonEmpty && shuffled == bcast, dir)
      joined
    }
    check(sf)
    // the uniqvocab adversary: doc-unique words grow the vocabulary and
    // three copies of "the" per doc make one word hot. n_chars is
    // inflated so the byte-derived width (~400) certifies "the" hot
    // (df >= 16 x occurrences / width): the word salts across the full
    // width, the branch the real word stream never reaches
    val adv = java.nio.file.Files.createTempDirectory("graft_uniqvocab").toString
    graft.tools.SynthCorpus.build(spark, sf, adv, 1, Set("documents"),
      Some(graft.tools.SynthCorpus.adversary("uniqvocab:2")))
    val wide = java.nio.file.Files.createTempDirectory("graft_uniqvocab_wide").toString
    spark.read.parquet(s"$adv/documents.parquet")
      .withColumn("n_chars", col("n_chars") * lit(120000L))
      .write.mode("overwrite").parquet(s"$wide/documents.parquet")
    val hotPlan = check(wide).queryExecution.executedPlan.toString
    assert(hotPlan.contains("CASE WHEN"), hotPlan)
  }

  test("joinVocabWidth sizes the build from the salt-REPLICATED bytes (r15)") {
    // the r14 ADVICE finding: the build explodes across all
    // VocabSaltFactor salts into the SAME exchange, so a width sized
    // from the unreplicated vocab estimate hands each task ~16
    // non-spillable build slices. Pin the replication term directly —
    // a vocab of 8 raw slices must demand >= 8 x saltFactor partitions
    val slice = 16L << 20
    val w = TextOps.joinVocabWidth(spark, slice * 8, 0L)
    assert(w >= 8 * TextOps.VocabSaltFactor)
    // and the probe term still wins when the corpus stream dominates
    val wp = TextOps.joinVocabWidth(spark, 0L, (128L << 20) * 100)
    assert(wp >= 100)
  }

  test("q106 encode agrees with q100's counts and round-trips the text (r14)") {
    import org.apache.spark.sql.functions.col
    val enc = TextOps.q106BpeEncode(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // cross-query consistency: the encode's per-doc token count IS the
    // induction's reported post-merge count (same learned table)
    val q100 = TextOps.q100BpeMerges(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(enc.keySet == q100.keySet)
    enc.foreach { case (id, (_, nTok, _)) => assert(nTok == q100(id), s"doc $id") }
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    enc.foreach { case (id, (nWords, nTok, toks)) =>
      val tokens = toks.split(" ").filter(_.nonEmpty)
      // the token stream is the doc: tokenization must be LOSSLESS —
      // concatenating the tokens recovers the text minus its spaces
      assert(tokens.mkString == docs(id).split(" ").filter(_.nonEmpty).mkString,
        s"doc $id round-trip")
      assert(tokens.length.toLong == nTok, s"doc $id token count")
      assert(nWords == docs(id).split(" ").count(_.nonEmpty).toLong, s"doc $id words")
      // the merges actually fired ON THIS DOC: q100's by-hand spec
      // pins n_saved > 0 for every doc of this corpus, so the encode
      // must come out STRICTLY under the char-token count everywhere
      // (a regression that applies zero merges fails on every doc)
      assert(nTok < docs(id).split(" ").filter(_.nonEmpty).map(_.length).sum,
        s"doc $id applied no merges")
    }
  }

  test("q99 spans match a by-hand suffix-scan recomputation") {
    import org.apache.spark.sql.functions.col
    val L = 25
    val rows = TextOps.q99SubstringDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // corpus-wide gram frequency, the brute-force way
    val freq = scala.collection.mutable.Map[String, Int]()
    docs.foreach { case (_, t) =>
      (0 to t.length - L).foreach { i =>
        val g = t.substring(i, i + L)
        freq(g) = freq.getOrElse(g, 0) + 1
      }
    }
    // expected spans: merge adjacent/overlapping duplicated gram intervals
    val expected = docs.flatMap { case (id, t) =>
      val dupPos = (0 to t.length - L)
        .filter(i => freq(t.substring(i, i + L)) >= 2)
      if (dupPos.isEmpty) Seq.empty
      else {
        val spans = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        var start = dupPos.head; var prev = dupPos.head; var n = 1L
        dupPos.tail.foreach { p =>
          if (p - prev > L) {
            spans += ((start.toLong, (prev + L).toLong, n)); start = p; n = 0L
          }
          prev = p; n += 1
        }
        spans += ((start.toLong, (prev + L).toLong, n))
        spans.zipWithIndex.map { case ((s0, e0, ng), idx) =>
          (id, idx.toLong, s0, e0, e0 - s0, ng)
        }
      }
    }.sortBy(t => (t._1, t._3))
    assert(rows.toSeq == expected.toSeq)
    // the gate SF must exercise the interesting structure: some doc with
    // >1 span (partial reuse) and some span shorter than its whole doc
    assert(rows.groupBy(_._1).exists(_._2.length > 1))
    val lenById = docs.toMap.view.mapValues(_.length.toLong).toMap
    assert(rows.exists(r => r._5 < lenById(r._1)))
  }

  test("q101 classifier score matches a by-hand hashed-feature recompute") {
    val rows = TextOps.q101QualityClassifier(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    // the engine formula, restated from scratch: polynomial char fold
    // (init 7, ×31 + codepoint, mod 1048573) → bucket mod 64 →
    // weight (b·2654435761 mod 17) − 8
    def weight(w: String): Long = {
      var a = 7L
      w.codePoints().forEach(c => a = (a * 31 + c) % 1048573)
      ((a % 64) * 2654435761L) % 17 - 8
    }
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    docs.filter(_._1 % 50 == 0).foreach { case (id, text) =>
      val ws = text.split(" ", -1).filter(_.nonEmpty).toSeq
      val score = ws.map(weight).sum
      val r = byId(id)
      assert(r.getLong(1) == ws.length, s"doc $id n_tokens")
      assert(r.getLong(2) == score, s"doc $id score")
      assert(r.getDouble(3) ==
        (if (ws.isEmpty) 0.0 else score.toDouble / ws.length), s"doc $id mean")
      assert(r.getBoolean(4) == (score >= 0), s"doc $id keep")
    }
    // a classifier that keeps (or drops) everything is vacuous — the
    // stand-in weights must split the corpus like learned ones would
    assert(rows.exists(_.getBoolean(4)) && rows.exists(!_.getBoolean(4)))
  }

  test("q102 temperature mix: targets match a by-hand c^0.5 recompute") {
    val rows = TextOps.q102TemperatureMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == docs.length)
    // histogram + order-pinned denominator, restated from scratch
    val hist = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val denom = hist.keys.toSeq.sorted
      .foldLeft(0.0)((a, s) => a + math.sqrt(hist(s).toDouble))
    val nTotal = docs.length.toLong
    val target = hist.map { case (s, c) =>
      s -> math.max(1L,
        math.floor(nTotal.toDouble / 2.0 * math.sqrt(c.toDouble) / denom).toLong)
    }
    rows.foreach { case (_, src, c, t, _, _) =>
      assert(c == hist(src)); assert(t == target(src), s"source $src target")
    }
    // ranks: dense per source in hash order; kept iff rank <= target
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val expected = rs.map(_._1).sortBy(id => ((id * 2654435761L) % 1000003L, id))
        .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
      rs.foreach { case (id, _, _, t, rank, kept) =>
        assert(rank == expected(id), s"doc $id rank")
        assert(kept == (rank <= t), s"doc $id kept")
      }
    }
    // the temperature property itself: the largest source is kept at a
    // LOWER rate than the smallest (α < 1 reallocates mass downward) —
    // without this the query could be vacuous proportional sampling.
    // Strictness is asserted only when the UNfloored rate gap exceeds
    // the ⌊⌋ quantization error, so a driver-regenerated corpus with
    // near-uniform sources can't fail this spuriously (the formula
    // itself is already pinned exactly above).
    val (minSrc, maxSrc) = (hist.minBy(_._2)._1, hist.maxBy(_._2)._1)
    if (hist(minSrc) < hist(maxSrc)) {
      def exactRate(s: String) = math.min(
        nTotal.toDouble / 2.0 * math.sqrt(hist(s).toDouble) / denom,
        hist(s).toDouble) / hist(s)
      def rate(s: String) = math.min(target(s), hist(s)).toDouble / hist(s)
      if (exactRate(minSrc) - exactRate(maxSrc) >
          1.0 / hist(minSrc) + 1.0 / hist(maxSrc))
        assert(rate(minSrc) > rate(maxSrc), s"$minSrc vs $maxSrc")
    }
  }

  test("two-stage argmax equals max_by(struct) through every tie shape (r16 q72/q76)") {
    import org.apache.spark.sql.functions._
    // adversarial group shapes: score ties broken by id, id ties
    // impossible (distinct rows), single-row groups, a group whose max
    // score appears first/last, negative ids excluded (the queries' ids
    // are non-negative; -id negation is the max_by twin's own device).
    // Long scores stand in for q72's n_chars; doubles for q76's jaccard
    // (bit-equal grouping is the same comparison the struct order made).
    val rows = Seq(
      (1L, 10L, 100.0), (1L, 11L, 100.0), (1L, 12L, 99.5),   // tie on max
      (2L, 20L, 50.0),                                       // singleton
      (3L, 31L, 7.25), (3L, 30L, 7.25), (3L, 32L, 7.25),     // all tied
      (4L, 40L, 1.0), (4L, 41L, 2.0), (4L, 42L, 3.0),        // max last
      (5L, 52L, 9.0), (5L, 50L, 8.0), (5L, 51L, 8.0))        // max first
    val df = spark.createDataFrame(rows).toDF("g", "id", "score")
    val viaMaxBy = df.groupBy(col("g"))
      .agg(max_by(struct(col("id"), col("score")),
        struct(col("score"), -col("id"))).as("k"))
      .select(col("g"), col("k.id").as("id"), col("k.score").as("score"))
    val viaTwoStage = df.groupBy(col("g"), col("score"))
      .agg(min(col("id")).as("mid"))
      .groupBy(col("g"))
      .agg(max_by(col("mid"), col("score")).as("id"),
        max(col("score")).as("score"))
      .select(col("g"), col("id"), col("score"))
    assert(viaTwoStage.exceptAll(viaMaxBy).isEmpty &&
      viaMaxBy.exceptAll(viaTwoStage).isEmpty)
    // and the two-stage plan is sort-free while max_by(struct) is not —
    // the whole reason the rewrite exists
    assert(!viaTwoStage.queryExecution.executedPlan.toString.contains("SortAggregate"))
    assert(viaMaxBy.queryExecution.executedPlan.toString.contains("SortAggregate"))
  }
}
