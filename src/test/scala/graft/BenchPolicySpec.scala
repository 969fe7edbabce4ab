package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's drift-retake attempt-selection policy (pure — no suite
  * run needed). The policy is the mechanized BASELINE.md
  * retaken-not-recorded rule: publish the attempt with the lowest
  * MEASURED drift ratio, never let an unmeasurable attempt win. */
class BenchPolicySpec extends AnyFunSuite {

  test("lowest defined drift ratio wins; ties go to the earliest attempt") {
    assert(BenchPolicy.pickPublished(Seq(Some(1.6), Some(1.01))) == 1)
    assert(BenchPolicy.pickPublished(Seq(Some(1.01), Some(1.6))) == 0)
    assert(BenchPolicy.pickPublished(Seq(Some(1.5), Some(1.02), Some(1.02), Some(1.3))) == 1)
  }

  test("a None-ratio retake never displaces a measured attempt (r9 advice)") {
    // the r9 bug shape: attempt 1 flagged at 1.6, retake broken (mass
    // query failures → no ratio) — the broken retake must NOT publish
    // as drift_detected=false; the flagged original is the record
    assert(BenchPolicy.pickPublished(Seq(Some(1.6), None)) == 0)
    // and symmetrically: a first attempt with no verdict loses to any
    // measured retake, even a drifted one
    assert(BenchPolicy.pickPublished(Seq(None, Some(1.4))) == 1)
    assert(BenchPolicy.pickPublished(Seq(None, None, Some(1.05))) == 2)
  }

  test("all-None publishes the first attempt (no verdict ever existed)") {
    assert(BenchPolicy.pickPublished(Seq(None)) == 0)
    assert(BenchPolicy.pickPublished(Seq(None, None)) == 0)
  }

  test("single clean attempt publishes itself") {
    assert(BenchPolicy.pickPublished(Seq(Some(1.0))) == 0)
  }

  test("a None-ratio retake does not END the retake loop (r10 review)") {
    // attempt 1 measured drifted, retake 2 unmeasurable: the drift
    // verdict still stands — keep retaking within budget
    assert(BenchPolicy.retakeNeeded(Seq(Some(1.6), None), 1.15))
    // a later clean measurement ends it
    assert(!BenchPolicy.retakeNeeded(Seq(Some(1.6), None, Some(1.02)), 1.15))
    // no measured ratio at all = no verdict = no retake
    assert(!BenchPolicy.retakeNeeded(Seq(None), 1.15))
    assert(!BenchPolicy.retakeNeeded(Seq(Some(1.05)), 1.15))
  }

  // 10 stable reference queries (>= 0.2 s) plus one sub-200 ms one
  private val ref = (1 to 10).map(i => f"q$i%02d" -> 1.0).toMap + ("q11" -> 0.1)
  private def timings(secs: Double*): Seq[(String, Option[Double])] = secs.zipWithIndex.map { case (v, i) =>
    (f"q${i + 1}%02d", Some(v)) }

  test("drift ratio: a run at another SF than the reference's has no verdict") {
    val r = timings(0.8, 0.8, 0.8, 0.8, 0.8, 0.8, 0.8, 0.8, 0.8, 0.8)
    // the sf0.01-vs-sf0.1 case that read 0.830 and passed as in-band
    assert(BenchPolicy.medianRatio(r, ref, "/root/testdata/sf0.01",
      Some("/root/testdata/sf0.1")).isEmpty)
    // a reference that does not state its SF cannot be compared either
    assert(BenchPolicy.medianRatio(r, ref, "/root/testdata/sf0.1", None).isEmpty)
  }

  test("drift ratio: the same SF gives the median over stable queries") {
    // odd count: the middle ratio; the sub-200 ms q11 and a failed
    // query do not count
    val odd = timings(0.5, 0.9, 1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 3.0) ++
      Seq("q10" -> None, "q11" -> Some(9.0))
    assert(BenchPolicy.medianRatio(odd, ref, "/root/testdata/sf0.1",
      Some("/root/testdata/sf0.1")).contains(1.2))
    // even count: the mean of the middle two; a relative path with a
    // trailing slash names the same SF
    val even = timings(1.0, 1.0, 1.0, 1.0, 1.2, 1.4, 2.0, 2.0, 2.0, 2.0)
    assert(BenchPolicy.medianRatio(even, ref, "../testdata/sf0.1/",
      Some("/root/testdata/sf0.1")).exists(r => math.abs(r - 1.3) < 1e-12))
  }

  test("drift ratio: fewer than 8 comparable queries give no verdict") {
    val seven = timings(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0) ++
      Seq("q08" -> None, "q09" -> None, "q10" -> None, "q11" -> Some(1.0))
    assert(BenchPolicy.medianRatio(seven, ref, "/root/testdata/sf0.1",
      Some("/root/testdata/sf0.1")).isEmpty)
  }

  test("host canary: kernel semantics pinned against an independent model (r15)") {
    // the canary's evidentiary value rests on the kernel computing a
    // FIXED workload — pin it against an out-of-band recomputation
    // (python: x^=(x<<13)&M; x^=x>>7; x^=(x<<17)&M over 64-bit), so a
    // miscompile or a dead-code-eliminated loop is a failure here, not
    // a silently-fast canary
    assert(HostCanary.chain(1000L, 42L) == 2260733264014075113L)
    assert(HostCanary.chain(500L, 7L) == -614539209596869955L)
    // determinism + the degenerate chain
    assert(HostCanary.chain(1000L, 42L) == HostCanary.chain(1000L, 42L))
    assert(HostCanary.chain(0L, 99L) == 99L)
  }

  test("host canary: measure() returns positive walls and feeds the sink (r15)") {
    val before = HostCanary.sink
    val (single, mt) = HostCanary.measure()
    // positive, sane readings (a broken timer or an eliminated loop
    // reads ~0); the upper bound is loose — this spec must pass on a
    // loaded CI host, it pins shape not speed
    assert(single > 0.05 && single < 120.0)
    assert(mt > 0.05 && mt < 240.0)
    // the sink changed: the workload's results are observably consumed,
    // so the JIT cannot legally eliminate the timed loops
    assert(HostCanary.sink != before || HostCanary.sink != 0L)
  }

  test("memo_hits field: sorted, deduped, valid JSON array (r16)") {
    assert(BenchPolicy.memoHitsJson(Nil) == "[]")
    assert(BenchPolicy.memoHitsJson(Seq("q72_canonical_docs")) ==
      """["q72_canonical_docs"]""")
    // sorted + deduped so the artifact is stable across attempt orders
    assert(BenchPolicy.memoHitsJson(
      Seq("q105_classifier_learned", "q72_canonical_docs",
        "q105_classifier_learned")) ==
      """["q105_classifier_learned","q72_canonical_docs"]""")
  }

  test("compact trailing line: parses as JSON and stays under 500 bytes (r16)") {
    // worst plausible shape: several memo hits, a drifted ratio, a long
    // sf path — the whole point is surviving a ~2000-char tail capture
    val line = BenchPolicy.compactLine("123.4567", 106, 2, "1.161", true,
      BenchPolicy.memoHitsJson(Seq("q72_canonical_docs",
        "q105_classifier_learned")),
      "/root/testdata/sf0.1")
    assert(line.length < 500, s"compact line too long: ${line.length}")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(math.abs(node.get("value").asDouble() - 123.4567) < 1e-9)
    assert(node.get("unit").asText() == "sec")
    assert(node.get("n_queries").asInt() == 106)
    assert(node.get("n_errors").asInt() == 2)
    assert(node.get("drift_detected").asBoolean())
    assert(node.get("memo_hits").size() == 2)
    assert(node.get("queries_in").asText() == "BENCH_LAST.json")
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    // the full line's queries map is NOT here — that is the contract:
    // this line must fit any tail capture whole
    assert(node.get("queries") == null)
  }
}
