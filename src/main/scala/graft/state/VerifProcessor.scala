package graft.state

import graft.state.StateOps.{Rec, VerifOut, VerifState}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming._

/** F5 verification gate as a Spark 4 `transformWithState`
  * StatefulProcessor — the same pure [[StateOps.verifStep]] kernel, plus
  * the reference's 600 s one-shot verification timer IN-PLAN
  * (BaseCollector.py:26,43-53: a Timer armed at collector start fires
  * `verify_timeout`, which emits FAILED_VERIFY if the collector never
  * verified). The driver-side decision function
  * (`Orchestrator.verifyTimeouts`) remains for batch/clock-tick use;
  * this is the streaming-native home of the same rule: the timer is
  * registered on the first record of a collector and fires through the
  * state store's timer queue, surviving restarts — unlike the
  * reference's in-process `threading.Timer`, which dies with the
  * process.
  *
  * Emission contract (matches verifStep + the timer):
  *   - unverified: every record counted, nothing emitted until the
  *     threshold-crossing record, which IS emitted followed by a
  *     statusChange=Some(true) flip record;
  *   - verified: records pass through unconditionally;
  *   - timer expiry while unverified: one statusChange=Some(false)
  *     record (FAILED_VERIFY), after which the collector is LATCHED
  *     disabled — the reference disconnects and sets disabled=True
  *     (BaseCollector.verify_timeout), so no post-timeout traffic flows
  *     and a late burst of passing packets can never emit VERIFIED after
  *     FAILED_VERIFY was already published.
  *
  * Requires the RocksDB state store provider (Spark's transformWithState
  * backend — also the 100 TB state backend this engine targets).
  *
  * @param passes the reference's verify_payload/verify_topics predicate
  */
class VerifProcessor(passes: Rec => Boolean,
                     minPackets: Long = 5,
                     ratio: Double = 0.8,
                     timeoutMs: Long = 600000L)
    extends StatefulProcessor[Long, Rec, VerifOut] {

  @transient private var state: ValueState[VerifState] = _
  @transient private var armed: ValueState[Boolean] = _
  @transient private var failed: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    // the 600 s timeout is a PROCESSING-TIME timer: wiring this
    // processor with TimeMode.None would fail obscurely at the first
    // registerTimer — fail fast with the actual requirement instead
    require(timeMode == org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
      s"VerifProcessor requires TimeMode.ProcessingTime (600 s timeout " +
        s"timer); got $timeMode")
    state = getHandle.getValueState[VerifState](
      "verif", Encoders.product[VerifState], TTLConfig.NONE)
    armed = getHandle.getValueState[Boolean](
      "verifTimerArmed", Encoders.scalaBoolean, TTLConfig.NONE)
    failed = getHandle.getValueState[Boolean](
      "verifFailed", Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[Rec],
                               timers: TimerValues): Iterator[VerifOut] = {
    if (failed.exists()) return Iterator.empty // disabled after FAILED_VERIFY
    if (!armed.exists()) {
      getHandle.registerTimer(timers.getCurrentProcessingTimeInMs() + timeoutMs)
      armed.update(true)
    }
    val (st, outs) = StateOps.runOrdered(
      if (state.exists()) state.get() else VerifState.empty, rows) {
      (s: StateOps.VerifState, r: StateOps.Rec) =>
        StateOps.verifStep(s, passes(r), r, minPackets, ratio)
    }
    state.update(st)
    outs.iterator
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[VerifOut] = {
    val st = if (state.exists()) state.get() else VerifState.empty
    if (st.verified) Iterator.empty
    else {
      failed.update(true) // latch: disconnect + disabled=True in the reference
      Iterator.single(VerifOut(key, None, Some(false))) // FAILED_VERIFY
    }
  }
}
