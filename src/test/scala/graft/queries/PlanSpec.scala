package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Physical-plan audit (the "explain and iterate" discipline): these
  * assertions pin the plan properties the 100 TB design depends on —
  * filter pushdown reaching the parquet scan, column pruning, broadcast
  * join selection — so a refactor that silently regresses them fails CI,
  * not the cluster. */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q08 keyset predicate is pushed to the parquet scan") {
    val p = plan(Relational.q08KeysetPage(spark, sf))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThan(o_orderkey,1000)"), p)
  }

  test("q01 scan prunes to the 6 referenced lineitem columns") {
    val p = plan(Relational.q01PricingSummary(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_shipdate"), readSchema)
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_returnflag"))
  }

  test("q03 dimension joins broadcast (no shuffle of the fact side for nation)") {
    val p = plan(Relational.q03RevenueByNation(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q36 broadcasts the query side against a single corpus scan") {
    val p = plan(Vectors.q36CosineTopk(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q37 all-pairs scan is a distributed block-pair cogroup (no driver collect)") {
    val p = plan(Vectors.q37CosineNearDup(spark, sf))
    // the pair scan must be a CoGroup over the block-pair key — NOT a
    // mapPartitions over a driver-collected broadcast (the r2 shape) and
    // NOT a broadcast nested-loop join of the whole corpus
    assert(p.contains("CoGroup"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q103 caps the model with a global top-K and keeps its joins off the sort path") {
    val p = plan(TextOps.q103LmScorePruned(spark, sf))
    // the K-bound is the whole point: the model side must compile to a
    // TakeOrdered (bounded memory at ANY corpus size), never a global
    // Sort feeding a limit
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q105 scores through a broadcast of the 65-row learned weights") {
    graft.queries.TextOps.clearTrainMemo()
    val p = plan(TextOps.q105ClassifierLearned(spark, sf))
    // the weight join must broadcast the model side — the corpus-side
    // feature table must not shuffle to meet 65 rows
    assert(p.contains("BroadcastHashJoin"), p)
    // inference reads the CHECKPOINTED feature/label tables (training's
    // materialized artifacts), not a re-derived corpus explode
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Generate explode"), p)
  }

  test("q48 streams the generated keyspace and broadcasts the packets") {
    val p = plan(Packets.q48KeyPatterns(spark, sf))
    // the 196,608-key candidate table must be the partitioned stream side
    // (it is the side that grows); the handful of signed packets broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("REPARTITION_BY_NUM") || p.contains("RoundRobinPartitioning"), p)
  }

  test("q60 bloom prefilter sits on the corpus side before the verify join") {
    val p = plan(TextOps.q60DecontaminateBloom(spark, sf))
    // the UDF probe must run map-side (a Filter under the join), so the
    // join's left input carries only bloom survivors — the whole point
    assert(p.contains("bloom_might_contain"), p)
  }

  test("q61 in-bucket pair join shuffles on the bucket id only") {
    // disable auto-broadcast: at test SF everything fits a broadcast, but
    // the pinned property is the at-scale shape (bucket-hash partitions)
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Vectors.q61SemanticDedup(spark, sf))
      // SemDeDup shape: pairwise work confined to bucket-hash partitions
      // — no broadcast of the corpus, no nested-loop over all pairs
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("hashpartitioning(bucket"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("q27 point lookup pushes all three conjuncts") {
    val p = plan(Packets.q27PointLookup(spark, sf))
    assert(p.contains("EqualTo(c_nationkey,5)"), p)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("GreaterThan(c_acctbal,0.0)"), p)
  }

  test("q32 dedup is a partial-aggregate (map-side combine) plan") {
    val p = plan(TextOps.q32DedupExact(spark, sf))
    // two HashAggregate nodes around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("bucketed tables join without a shuffle (the 100 TB co-location path)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '$wh'")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force a non-broadcast join so bucket co-location is what's on trial
    // (AQE has its own threshold knob)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      graft.Tables.orders(spark, sf).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_bkt.orders_b")
      graft.Tables.lineitem(spark, sf).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_bkt.lineitem_b")
      val joined = spark.table("graft_bkt.lineitem_b")
        .join(spark.table("graft_bkt.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("Bucketed: true"), p)
      // co-located buckets: NO exchange on either join key (the only
      // exchange in the plan is the final groupBy's)
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p)
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP DATABASE IF EXISTS graft_bkt CASCADE")
    }
  }

  test("q76 incremental dedup joins across the boundary with no nested loop") {
    val p = plan(TextOps.q76IncrementalDedup(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q72/q76 argmax runs on HashAggregate only — no struct-buffer SortAggregate (r16)") {
    // the two-stage argmax (collapse ties, then max_by over fixed-width
    // columns) exists exactly to keep these two plans off SortAggregate
    // (a per-partition sort at any scale); a refactor that reintroduces
    // a struct-valued aggregate buffer fails here, not on the cluster
    assert(!plan(TextOps.q72CanonicalDocs(spark, sf)).contains("SortAggregate"))
    assert(!plan(TextOps.q76IncrementalDedup(spark, sf)).contains("SortAggregate"))
  }

  test("q79 semantic decon pairs benchmark x corpus via the bucket equi-join") {
    val p = plan(Vectors.q79SemanticDecon(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("bucket"), p)
  }

  test("q84 fuzzy join is a variant equi-join, not a levenshtein cross product") {
    val p = plan(TextOps.q84FuzzyJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q65 banded range join plans as an equi-join, not a nested loop") {
    val p = plan(Streams.q65RangeJoin(spark, sf))
    // bucketing the time axis must turn the |Δts| θ-predicate into a
    // bucket equi-join; a BroadcastNestedLoopJoin here is the O(N²)
    // plan the banding exists to avoid
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q64 as-of join is one window over user_id, no self-join blow-up") {
    val p = plan(Streams.q64AsofJoin(spark, sf))
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q67 HLL sketch aggregates map-side (partial before the shuffle)") {
    val p = plan(Streams.q67ApproxDistinct(spark, sf))
    // the sketch must combine as a partial aggregate below the exchange —
    // that's the whole point of a mergeable sketch at scale
    assert(p.contains("partial_graft_hll_distinct") ||
      p.linesIterator.exists(l => l.contains("graft_hll_distinct") && l.contains("partial")), p)
  }

  test("q01 aggregation runs inside whole-stage codegen") {
    // AQE's pre-execution explain hides codegen spans; inspect the final
    // executed plan after an action
    val df = Relational.q01PricingSummary(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the executed plan
    assert(p.contains("*(1)") && p.contains("HashAggregate"), p)
  }

  test("q33 verify joins broadcast and the kernel stages keep pinned width") {
    // the r5 variance fixes (BASELINE.md round-5 notes): CPU-dense dedup
    // stages must not inherit AQE's byte-coalesced width, and the wide
    // shingle arrays must stay on a broadcast build side rather than
    // flipping to a sort-merge shuffle at the 10 MB threshold
    val p = plan(TextOps.q33NgramJaccard(spark, sf))
    assert(p.contains("REPARTITION_BY_NUM"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // verify measure is the native expression, not a Scala UDF boundary
    assert(p.contains("graft_jaccard") || p.contains("JaccardSim") ||
      !p.contains("UDF(sha"), p)
  }

  test("q88 containment verify keeps the same pinned-broadcast shape") {
    val p = plan(TextOps.q88ContainmentJoin(spark, sf))
    assert(p.contains("REPARTITION_BY_NUM"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("beyond-cap verify joins plan shuffled-hash at the byte-derived width on BOTH children") {
    // A 100-row corpus whose n_chars column CLAIMS ~200M chars total:
    // verifySide's estimate (48·n + 3·Σn_chars) crosses the 64 MB
    // broadcast cap without the test paying for real data. The three
    // properties the r10 sf10/sf20 measurements bought (BASELINE.md)
    // must survive refactors and Spark upgrades:
    //   1. the verify joins are shuffled HASH joins (sort-merge sorted
    //      the candidate×array stream and spilled 40 GB at sf10);
    //   2. the byte-derived width (est/16 MB slices — a hinted SHJ
    //      build side cannot spill, so a fixed width OOMs at scale)
    //      reaches the physical plan on BOTH join children;
    //   3. nothing rewrites the probe pins back down to the session
    //      default (EnsureRequirements does exactly that when only one
    //      side carries the width — the alias-propagated shingled pin
    //      is what keeps both sides at it).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cap").toString
    (0 until 100).map(i =>
        (i.toLong, s"alpha bravo charlie delta echo f$i g$i", "en", "syn", 2000000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val est = 100L * 48L + 100L * 2000000L * 3L
    val width = math.max(spark.sessionState.conf.numShufflePartitions.toLong,
      est / (16L << 20) + 1).toInt
    assert(width != spark.sessionState.conf.numShufflePartitions,
      "fixture too small to distinguish the byte-derived width from the default")
    val p = plan(TextOps.q33NgramJaccard(spark, dir))
    assert(p.contains("ShuffledHashJoin"), p)
    // probe pins (doc_a/doc_b) and build-side doc_id pins all at width
    val atWidth = s", $width\\)".r.findAllIn(p).length
    assert(atWidth >= 4, s"expected >=4 exchanges at width $width, got $atWidth:\n$p")
    // and no EnsureRequirements rewrite of a verify key down to default
    val rewritten = s"hashpartitioning\\(doc_[ab]#\\d+L, ${spark.sessionState.conf.numShufflePartitions}\\)".r
    assert(rewritten.findFirstIn(p).isEmpty, p)
    // q88 (different verify keys, prefix×FULL candidate generator)
    // inherits the same shape through VerifyJoin.verify
    val p88 = plan(TextOps.q88ContainmentJoin(spark, dir))
    assert(p88.contains("ShuffledHashJoin"), p88)
    val atWidth88 = s", $width\\)".r.findAllIn(p88).length
    assert(atWidth88 >= 4, s"expected >=4 exchanges at width $width, got $atWidth88:\n$p88")
    val rewritten88 = s"hashpartitioning\\(id_[ab]#\\d+L, ${spark.sessionState.conf.numShufflePartitions}\\)".r
    assert(rewritten88.findFirstIn(p88).isEmpty, p88)
  }

  test("beyond-cap q99 runs all three exchanges at their byte-derived widths") {
    // reuses the claimed-200M-chars fixture trick: the r11 sf10/sf20
    // measurements (SCALING_r11/BASELINE.md) bought three properties —
    // map-side explode slices, gram-window sort slices and doc-window
    // hits slices all bounded by width — and this pin keeps them
    // through refactors without the test paying for real data
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cap99").toString
    (0 until 100).map(i =>
        (i.toLong, s"alpha bravo charlie delta echo f$i g$i", "en", "syn", 2000000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chars = (100L * 48L + 100L * 2000000L * 3L) / 3L
    val session = spark.sessionState.conf.numShufflePartitions
    def w(est: Long, slice: Long) =
      math.min(1 << 16, math.max(session, (est / slice).toInt + 1))
    val textWidth = w(chars * 64L, 128L << 20)
    val gramWidth = w(chars * 32L, 16L << 20)
    val docWidth = w(chars * 10L, 16L << 20)
    assert(Set(textWidth, gramWidth, docWidth).forall(_ != session),
      "fixture too small to distinguish the byte-derived widths")
    val p = plan(TextOps.q99SubstringDedup(spark, dir))
    for (width <- Seq(textWidth, gramWidth, docWidth))
      assert(s", $width\\)".r.findFirstIn(p).isDefined,
        s"expected an exchange at width $width:\n$p")
    // the r12 two-pass variant (the recorded hot-gram mitigation) must
    // keep ITS beyond-cap shape too: a shuffled-hash LEFT SEMI join at
    // the gram width on both children (a sort-merge semi would sort
    // the full inventory — the exact failure the width machinery
    // exists to prevent), plus the same text/doc pins
    val p2 = plan(TextOps.q99SubstringDedupTwoPass(spark, dir))
    assert(p2.contains("ShuffledHashJoin") && p2.contains("LeftSemi"), p2)
    assert(!p2.contains("SortMergeJoin"), p2)
    for (width <- Seq(textWidth, gramWidth, docWidth))
      assert(s", $width\\)".r.findFirstIn(p2).isDefined,
        s"expected an exchange at width $width:\n$p2")
    // the r13 REGIME GATE must stay OFF here: this fixture is
    // beyond-cap but UNIFORM (its hottest gram is the 100-doc shared
    // prefix — census-exact df ≈ 700 ≪ the 2^19 budget; the declared
    // 2M n_chars puts every doc in the big-doc census), so the
    // auto-selected plan is still the count-window: no join anywhere
    assert(!p.contains("Join"), p)
  }

  test("q99 regime gate auto-selects the two-pass shape on a hot-gram corpus (r13)") {
    // beyond-cap AND hot: one doc is a 600k period-1 run, every fixture
    // doc declares n_chars = 2M, so the estimator's big-doc census
    // counts the hot doc exactly (~600k positions of ONE gram > the
    // 2^19 per-task budget — the post-kernel recalibrated value) and
    // q99SubstringDedup must plan the two-pass — shuffled-hash LEFT
    // SEMI at the byte-derived gram width — with no operator
    // involvement. The output equality across the gate is pinned in
    // TextOpsSpec.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gate99").toString
    (0 until 100).map(i => (i.toLong,
        if (i == 0) "a" * 600000
        else s"alpha bravo charlie delta echo f$i g$i", "en", "syn", 2000000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = plan(TextOps.q99SubstringDedup(spark, dir))
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // same width discipline as the manual two-pass pin above
    val chars = (100L * 48L + 100L * 2000000L * 3L) / 3L
    val session = spark.sessionState.conf.numShufflePartitions
    val gramWidth = math.min(1 << 16,
      math.max(session, (chars * 32L / (16L << 20)).toInt + 1))
    assert(s", $gramWidth\\)".r.findFirstIn(p).isDefined,
      s"expected the gram exchange at width $gramWidth:\n$p")
  }

  test("beyond-cap q84 variant join is shuffled-hash with BOTH sides at the byte-derived width") {
    // names long enough that the estimated deletion-variant inventory
    // (one count+sum(length) over the dim) crosses the 64 MB cap: the
    // r11 measurements showed the planner otherwise BROADCASTS a
    // corpus-growing variant index at sf10 and sort-merge-spills at
    // sf20 (SCALING_r11/BASELINE.md) — past the cap the join must be
    // shuffled-hash with both children co-partitioned at the width
    // (one-sided pins get renegotiated to the session default)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cap84").toString
    val name = "x" * 3000
    (1 to 200).map(i => (i.toLong, s"$name$i"))
      .toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val (n, sumLen) = (200L, (1 to 200).map(i => 3000L + i.toString.length).sum)
    val avgLen = sumLen / n
    val estVar = (sumLen + n) * (avgLen + 24L)
    val session = spark.sessionState.conf.numShufflePartitions
    val width = math.min(1 << 16,
      math.max(session, (estVar / (16L << 20)).toInt + 1))
    assert(width != session, "fixture too small to cross the cap")
    val p = plan(TextOps.q84FuzzyJoin(spark, dir))
    assert(p.contains("ShuffledHashJoin"), p)
    val atWidth = s", $width\\)".r.findAllIn(p).length
    assert(atWidth >= 2, s"expected both children at width $width, got $atWidth:\n$p")
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q69 funnel: both window passes share ONE user_id shuffle") {
    // two chained ignore-nulls last() windows on the same partitioning —
    // Catalyst must plan one hash exchange, not one per Window operator
    val p = plan(Streams.q69Funnel(spark, sf))
    val n = "hashpartitioning\\(".r.findAllIn(p).length
    assert(n == 1, s"expected 1 hash exchange, got $n:\n$p")
  }

  test("q86 cohort self-join is a shuffle join, never a nested loop") {
    // first-touch agg joined back to activity on user_id: at 100 TB the
    // user dimension is NOT broadcastable — the plan must stay an
    // equi-join on the shared user_id partitioning
    val p = plan(Streams.q86CohortRetention(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q87 anomaly: partial agg before the shuffle, bounded exchanges") {
    // count per (type, hour) must map-side combine, and the trailing
    // window re-keys by type only — two hash exchanges total, ever
    val p = plan(Streams.q87HourlyAnomaly(spark, sf))
    val n = "hashpartitioning\\(".r.findAllIn(p).length
    assert(n <= 2, s"expected <=2 hash exchanges, got $n:\n$p")
    assert(p.contains("partial"), p) // map-side combine on the count
  }

  test("q13 window agg map-side combines and scans only its three columns") {
    val p = plan(Streams.q13TumblingWindow(spark, sf))
    assert(p.contains("partial"), p) // count/sum combine before the shuffle
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"),
      readSchema)
    assert(readSchema.contains("event_type") && readSchema.contains("value"),
      readSchema)
  }

  test("q17 last_seen is one partial-agg pass over two scanned columns") {
    val p = plan(Streams.q17LastSeen(spark, sf))
    assert(p.contains("partial"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("event_type") && !readSchema.contains("props"),
      readSchema)
    assert(readSchema.contains("user_id"), readSchema)
  }

  test("q92 tf-idf joins the vocabulary tables by broadcast, aggs partial") {
    val p = plan(TextOps.q92TfidfKeywords(spark, sf))
    // df/N are vocabulary-sized: they must broadcast back onto tf — a
    // corpus-side shuffle join here would be the 100 TB bottleneck
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // tf hash-agg combines map-side before its one shuffle
    assert(p.contains("partial"), p)
  }

  test("q94 chunking is map-only until the output sort (no join, no agg)") {
    val p = plan(TextOps.q94ChunkOverlap(spark, sf))
    assert(p.contains("Generate"), p) // the explode
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("q95 centroid and stat tables broadcast onto the one corpus scan") {
    val p = plan(Vectors.q95LabelOutliers(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // centroid build is a (label, dim) partial aggregate
    assert(p.contains("partial"), p)
  }

  test("q93 LM count tables broadcast; no corpus-side sort-merge join") {
    val p = plan(TextOps.q93LmScore(spark, sf))
    // c2/c1/V are vocabulary-sized: all three joins onto the bigram
    // stream must broadcast — a gram-keyed shuffle join of the corpus
    // side would re-exchange the whole stream three times at scale
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial"), p)
  }

  test("q96 gram-df join keeps the inverted-index exchange, aggs partial") {
    val p = plan(TextOps.q96BoilerplateGrams(spark, sf))
    // the gram→df table grows with the corpus: the gram join is a
    // legitimate shuffle (q33's exchange), but the one-row mean-df
    // must come in broadcast, never trigger a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("partial"), p)
  }

  test("q93, q96 and q103 reuse their corpus exchange") {
    // Each query reads one corpus-derived subtree twice (q93/q103: the
    // litSplit bigram counts behind c2 and c1; q96: the gram→df
    // aggregation behind the join and the mean-df scalar). The copies
    // canonicalize equal only while the split and shingle kernels
    // declare non-null elements, so a nullable element type shows up
    // here as a second full corpus pass instead of a ReusedExchange.
    // Planned with AQE off, as `PlanDump canon` plans, so the reuse is
    // visible in the static executed plan.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq(("q93", TextOps.q93LmScore _, "hashpartitioning(w1"),
          ("q96", TextOps.q96BoilerplateGrams _, "hashpartitioning(gram"),
          ("q103", TextOps.q103LmScorePruned _, "hashpartitioning(w1")
      ).foreach { case (name, q, key) =>
        val p = q(spark, sf).queryExecution.executedPlan.toString
        // the reused exchange must be the corpus-derived one: q96 also
        // reuses its doc_id text repartition, with or without the fix
        assert(p.linesIterator.exists(l => l.contains("ReusedExchange") && l.contains(key)),
          s"$name does not reuse its $key exchange:\n$p")
        if (name == "q96")
          assert(!p.linesIterator.exists(l =>
            l.contains("Filter") && l.contains("isnotnull(gram")), p)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("each doc's text kernel runs once: none below the doc_id exchange, no split-size filter") {
    // An explode over a kernel's output COLUMN makes the optimizer infer
    // `size(col) > 0` and push it through the projection and the doc_id
    // exchange: the kernel then also runs in the one-task scan stage.
    // Planned with AQE off, as `PlanDump canon` plans.
    // q33's pair list is cached: its plan sits behind the cache scan
    import org.apache.spark.sql.execution.{SparkPlan, FilterExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def calls(p: SparkPlan, kernel: String): Boolean =
      nodes(p).exists(_.expressions.exists(_.toString.contains(kernel)))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq(("q33", TextOps.q33NgramJaccard _), ("q88", TextOps.q88ContainmentJoin _),
          ("q96", TextOps.q96BoilerplateGrams _)).foreach { case (name, q) =>
        val p = q(spark, sf).queryExecution.executedPlan
        val byDocId = nodes(p).collect {
          case e: ShuffleExchangeExec if e.outputPartitioning.toString.startsWith("hashpartitioning(doc_id") => e
        }
        assert(byDocId.nonEmpty, s"$name has no doc_id exchange:\n$p")
        byDocId.foreach(e => assert(!calls(e.child, "graft_word_ngrams"),
          s"$name runs the shingle kernel below its doc_id exchange:\n$p"))
      }
      Seq(("q93", TextOps.q93LmScore _), ("q103", TextOps.q103LmScorePruned _)).foreach {
        case (name, q) =>
          val p = q(spark, sf).queryExecution.executedPlan
          assert(!nodes(p).exists {
            case f: FilterExec =>
              f.condition.toString.contains("graft_literal_split")
            case _ => false
          }, s"$name evaluates the split inside a filter:\n$p")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q97 budget scan is one window exchange, no join") {
    val p = plan(TextOps.q97TokenBudget(spark, sf))
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    // exactly one exchange before the window (hash by source), plus the
    // final output range-sort — a second mid-plan shuffle would mean the
    // cumulative sum re-partitioned needlessly
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"$exchanges exchanges:\n$p")
  }

  test("events ts_us normalization prunes away when a query doesn't use it") {
    // Tables.events adds a ts_us projection over every read; a query
    // that never touches event time must still scan only its own
    // columns — the normalization Project must not defeat column
    // pruning (at 100 TB the ts bytes are real money).
    val p = plan(Relational.q12EventPivot(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("ts"), readSchema)
    assert(!readSchema.contains("props"), readSchema)
    assert(readSchema.contains("user_id") && readSchema.contains("event_type"),
      readSchema)
  }

  test("q100 BPE rounds run over the cached vocabulary, not the corpus") {
    val p = plan(TextOps.q100BpeMerges(spark, sf))
    // without the persists, each unrolled round re-derives its full
    // lineage: 2^rounds parquet scans; cached, at most the vocab build
    // + the final tokenize join touch parquet
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet\\b.*")) <= 2, p)
  }

  test("q106 BPE encode touches parquet twice; the merge table is broadcast") {
    val p = plan(TextOps.q106BpeEncode(spark, sf))
    // same discipline as q100: the induction runs over the CACHED
    // vocabulary; the corpus is scanned only for the vocab build and
    // the final map-side encode join — and the word→tokens table rides
    // a broadcast, never a shuffled corpus join
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet\\b.*")) <= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q100/q106 tokenize join gates on VOCAB bytes: replicated corpora keep the broadcast, adversarial vocab plans shuffled-hash (r14)") {
    import spark.implicits._
    // big CLAIMED corpus, tiny actual vocabulary: the corpus bound
    // alone would flip to the exchange plan; the two-level gate's
    // vocab estimate must keep the broadcast (a replicated/boilerplate
    // corpus at scale has a bounded vocab — Heaps' law)
    val rep = java.nio.file.Files.createTempDirectory("graft_vocab_rep").toString
    (0 until 100).map(i => (i.toLong,
        "alpha bravo charlie delta echo foxtrot", "en", "syn", 2000000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$rep/documents.parquet")
    val p1 = plan(TextOps.q106BpeEncode(spark, rep))
    assert(p1.contains("BroadcastHashJoin"), p1)
    assert(!p1.contains("ShuffledHashJoin"), p1)
    // adversarial vocabulary (every word unique: ~1.2M distinct words
    // ≈ 96 MB estimated build side > the 64 MB cap): the tokenize join
    // must plan shuffled-hash on BOTH children, never sort-merge (a
    // sort-merge would sort the corpus-scale word stream)
    val adv = java.nio.file.Files.createTempDirectory("graft_vocab_adv").toString
    (0 until 200).map(i => (i.toLong,
        (0 until 6000).map(j => f"w${i * 6000 + j}%07d").mkString(" "),
        "en", "syn", 2000000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$adv/documents.parquet")
    val p2 = plan(TextOps.q106BpeEncode(spark, adv))
    assert(p2.contains("ShuffledHashJoin"), p2)
    assert(!p2.contains("SortMergeJoin"), p2)
    // q100's tokenize join rides the same helper
    val p3 = plan(TextOps.q100BpeMerges(spark, adv))
    assert(p3.contains("ShuffledHashJoin"), p3)
    assert(!p3.contains("SortMergeJoin"), p3)
  }

  test("q99 dup-gram test is one count-window: single scan, no join") {
    val p = plan(TextOps.q99SubstringDedup(spark, sf))
    // the aggregate-then-semi-join shape scans + gram-generates the
    // corpus twice (pruned subtrees defeat exchange reuse); the
    // count-window shape must keep exactly one documents scan and no
    // join anywhere
    // formatted explain lists each operator twice (tree + details):
    // count the numbered detail headers only
    assert(p.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet\\b.*")) == 1, p)
    assert(!p.contains("Join"), p)
    // two logical windows (gram count, doc islands) + the final agg
    assert(p.contains("Window"), p)
    assert(p.contains("partial_min"), p)
  }

  test("q101 classifier inference is one map over one scan — zero joins/aggs") {
    // classifier inference runs at full corpus width: the model is a
    // formula/literal, never a join, and scoring is row-local. The r13
    // pin-vs-pin adjudication (SURVEY §7.11 residual, BASELINE.md r13):
    // the minimal-exchange doctrine now admits ONE gated round-robin
    // width pin below the multi-row-group threshold (test SF is a
    // single row group, so it appears here); cpuWidthPin withholds it
    // once the scan parallelizes on its own (ScanWidthSpec measures
    // that), so the AT-SCALE plan keeps the original bound: the output
    // sort's range partitioning is the only exchange.
    val p = plan(TextOps.q101QualityClassifier(spark, sf))
    assert(p.linesIterator.count(_.trim.matches("\\(\\d+\\) Scan parquet\\b.*")) == 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("RoundRobinPartitioning"), p) // the gated pin, live at test SF
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"$exchanges exchanges:\n$p")
  }

  test("q20 codec pipeline carries the gated width pin below the row-group threshold") {
    // test SF is one row group, so the r12 single-task funnel is live
    // and cpuWidthPin must fire (the withheld branch is measured in
    // ScanWidthSpec on a multi-row-group fixture)
    val p = plan(Packets.q20CodecRoundtrip(spark, sf))
    assert(p.contains("RoundRobinPartitioning") ||
      p.contains("REPARTITION_BY_NUM"), p)
  }

  test("q102 targets broadcast onto the corpus; one window exchange") {
    // the histogram/denominator side is #sources rows — it must come
    // back as a broadcast, never shuffle the corpus against it; the
    // only corpus-width exchange is the per-source window (q44's)
    val p = plan(TextOps.q102TemperatureMix(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
  }
}
