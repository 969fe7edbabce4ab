package graft.state

import org.apache.spark.sql.streaming.GroupState

/** The reference's stateful quartet (SURVEY §2.5) as keyed-state
  * processors, usable from `groupByKey(...).flatMapGroupsWithState` in
  * Structured Streaming and directly (via [[runOrdered]]) in batch tests.
  *
  *   - F1 device-identity map: unbounded last-write-wins
  *     `dev_addr → {dev_eui, app_name, dev_name}`
  *     (LoraServerIOCollector.py:83,287-304,380-387,436-446)
  *   - F2 gateway⋈application pairing: buffer size exactly 1,
  *     flush-on-next-event, match on f_count (:368-399,403-459)
  *   - F3 join passthrough: map update + raw-log envelope (:287-304)
  *   - F4 last-known-location: take-once, cleared after first use
  *     (TTNCollector.py:202-209,241-247; TTNv3Collector.py:229-240,299-305)
  *   - F5 verification gate: total/verified counters,
  *     `verified := total ≥ 5 ∧ ratio > 0.8`, drop failing rows while
  *     unverified (BaseCollector.py:85-110)
  *
  * State is keyed by data_collector_id — the reference's state objects
  * live on the per-collector client/socket, so per-collector keying
  * reproduces the semantics that matter while sharding state across
  * executors at scale. Records are processed in `seq` order within each
  * key (the source stamps a monotonic per-collector sequence), which is
  * the ONLY ordering F2 depends on — SURVEY §7.4 hard part 2.
  */
object StateOps {

  /** The seq-ordered fold every stateful host runs: sort the batch's
    * records by seq (the ONLY ordering the state ops depend on —
    * cross-batch order is the source's monotonic-seq responsibility),
    * thread state through `step`, collect the output. ONE definition so
    * an ordering change (e.g. a tie-break on seq collisions) cannot
    * silently diverge across the three hosts ([[chirpFlatMap]],
    * [[locationFlatMap]], [[VerifProcessor]]). */
  def runOrdered[S, O](st0: S, it: Iterator[Rec])(
      step: (S, Rec) => (S, Seq[O])): (S, Seq[O]) = {
    var st = st0
    val out = Seq.newBuilder[O]
    it.toSeq.sortBy(_.seq).foreach { r =>
      val (st2, o) = step(st, r)
      st = st2
      out ++= o
    }
    (st, out.result())
  }

  /** The "standard packet" — the reference's normalized record, and the
    * one definition of the packet layout ([[graft.etl.PacketSchema.packet]]
    * is its encoder schema). Column set recovered from the `Packet(...)`
    * constructor call at `auditing/db/Service.py:7-46` (the Packet model
    * itself lives outside the reference repo); FIXTURES.md §3b. One wide
    * nullable row ("sparse tagged union"): which subset is populated
    * depends on m_type, exactly like the Postgres table the reference
    * feeds.
    *
    * It travels OPAQUELY through the state machine: the state ops
    * read/write only the Rec-level fields, which [[enrichedPacket]]
    * applies to it when an envelope is emitted; carrying the row as a struct
    * (not JSON) avoids a to_json/from_json round trip per packet
    * (~25% of the end-to-end pipeline cost at sf0.1). */
  final case class Pkt(
      date: Option[java.sql.Timestamp], topic: Option[String],
      data_collector_id: Option[Long], organization_id: Option[Long],
      // radio metadata
      gateway: Option[String], tmst: Option[Long], chan: Option[Int],
      rfch: Option[Int], freq: Option[Double], stat: Option[Int],
      modu: Option[String],
      datr: Option[String], // stringified JSON {"spread_factor","bandwidth"}
      codr: Option[String], lsnr: Option[Double], rssi: Option[Int],
      size: Option[Int],
      // payload
      data: Option[String], // base64 PHYPayload
      // LoRaWAN MHDR/MIC
      m_type: Option[String], major: Option[String], mic: Option[String],
      // join fields
      join_eui: Option[String], dev_eui: Option[String],
      dev_nonce: Option[Int],
      // data-frame fields
      dev_addr: Option[String], adr: Option[Boolean],
      ack: Option[Boolean], adr_ack_req: Option[Boolean],
      f_pending: Option[Boolean], class_b: Option[Boolean],
      f_count: Option[Long],
      f_opts: Option[String], // stringified JSON array of MAC commands
      f_port: Option[Int],
      // error / enrichment
      error: Option[String], latitude: Option[Double],
      longitude: Option[Double], altitude: Option[Double],
      app_name: Option[String], dev_name: Option[String])

  /** Normalized packet subset the state machine manipulates; the full
    * packet row travels in `packet` untouched (columns the state ops
    * never touch stay out of the state machine). */
  final case class Rec(
      seq: Long,
      collectorId: Long,
      route: String, // radio | app | join | location | raw | drop
                     //   | perr | perr_buf | perr_app | perr_app_eat
      topic: Option[String],
      message: String,       // the raw message for the envelope log
      // radio-route fields the ops read/write
      devAddr: Option[String],
      fCount: Option[Long],
      devEui: Option[String],
      appName: Option[String],
      devName: Option[String],
      latitude: Option[Double],
      longitude: Option[Double],
      altitude: Option[Double],
      packet: Option[Pkt],   // full packet row (None: no packet)
      arrivalTs: Long)

  /** One logged message of an envelope (`BaseCollector.py:55-56`). */
  final case class Msg(topic: Option[String], message: String, data_collector_id: Long)

  /** The sink row (K1; `PacketPersistence.py:35`, FIXTURES.md §3a): its
    * encoder schema is the one envelope layout, the batch fold's output
    * schema included. `packet` is already enriched ([[enrichedPacket]]);
    * None for raw-log envelopes. */
  final case class Envelope(
      ts: Long,
      data_collector_id: Long,
      packet: Option[Pkt],
      messages: Seq[Msg])

  /** The packet a Rec persists: its non-null state-op fields (identity,
    * location) override the packet's own, as the reference writes them
    * into its standard_packet in place. */
  def enrichedPacket(r: Rec): Option[Pkt] = r.packet.map(p => p.copy(
    dev_eui = r.devEui.orElse(p.dev_eui),
    app_name = r.appName.orElse(p.app_name),
    dev_name = r.devName.orElse(p.dev_name),
    latitude = r.latitude.orElse(p.latitude),
    longitude = r.longitude.orElse(p.longitude),
    altitude = r.altitude.orElse(p.altitude)))

  final case class DeviceInfo(devEui: Option[String], appName: Option[String],
                              devName: Option[String], fromApp: Boolean)

  // ------------------------------------------------------- F1+F2+F3 state

  /** `prevMsgs` is the reference's packet_writter_message['messages']
    * buffer (excluding the in-flight message): it usually tracks `prev`
    * — a buffered radio packet's message — but is INDEPENDENT of it,
    * because an app-crash (perr_app/perr_app_eat) consumes prev while
    * leaving the buffer to ride into the next saved envelope
    * (LoraServerIOCollector.py:412-413 consume, :496-500 crash without
    * reset). Every emission therefore prepends prevMsgs.
    *
    * STATE SCHEMA BOUNDARY (v2): deleting `Rec.gwName` (`prev` is a
    * Rec) and renaming `Msg.dataCollectorId` to `data_collector_id`
    * (`prevMsgs`) changed the persisted state encoding of the F1-F3 host
    * (GroupState[ChirpState]). A streaming checkpoint written by the v1
    * state fails the state-store schema check on restart — discard the
    * checkpoint (or drain the old query before upgrading); the device
    * map and the pairing buffer start empty. Same operator contract as
    * Events.idempotencyKey's KEY VERSION BOUNDARY. */
  final case class ChirpState(
      devices: Map[String, DeviceInfo],
      prev: Option[Rec],
      prevMsgs: Seq[Msg])

  object ChirpState { val empty: ChirpState = ChirpState(Map.empty, None, Nil) }

  /** One step of the ChirpStack state machine (reference on_message,
    * LoraServerIOCollector.py:225-491). Returns (new state, emitted
    * envelopes). Pure — trivially testable, wrapped for Spark below. */
  def chirpStep(st: ChirpState, r: Rec): (ChirpState, Seq[Envelope]) = {
    val msg = Msg(r.topic, r.message, r.collectorId)
    def env(p: Option[Rec], ms: Seq[Msg]) =
      Envelope(r.arrivalTs, r.collectorId, p.flatMap(enrichedPacket), ms)

    r.route match {
      case "drop" =>
        // F0c oversized payload: the reference returns before touching any
        // state (LoraServerIOCollector.py:313-315) — the row is inert
        (st, Nil)

      case "perr" =>
        // struct-crash radio message (valid JSON, reference's assembly
        // block raises into the outer except, LoraServerIOCollector
        // .py:496-500): only save_parsing_error runs — no envelope, no
        // message persisted, and NO prev flush (the raise lands before
        // :370-376), so state is untouched. NOT the "raw" path (:243-280,
        // json.loads failure), which flushes and persists the message.
        (st, Nil)

      case "join" =>
        // F1 upsert (dev_eui only) + F3 raw-log envelope (:287-304).
        // The reference appends the join msg to packet_writter_message —
        // which still holds a buffered radio msg if one is pending — then
        // resets the MESSAGE buffer but NOT prev_packet, so the later
        // prev flush goes out with empty messages (:292-304 vs :370-376).
        val m = r.devAddr.fold(st.devices) { da =>
          st.devices + (da -> DeviceInfo(r.devEui, None, None, fromApp = false))
        }
        (st.copy(devices = m, prevMsgs = Nil),
          Seq(env(None, st.prevMsgs :+ msg)))

      case "radio" =>
        // flush any pending packet first (:370-376)
        val (afterFlush, flushed) = st.prev match {
          case Some(p) => (st.copy(prev = None, prevMsgs = Nil),
            Seq(env(Some(p), st.prevMsgs)))
          case None => (st, Nil)
        }
        // buffer residue surviving an app-crash (prev=None, prevMsgs≠Nil)
        // rides into this row's save (:477-495 appends into the un-reset
        // packet_writter_message)
        val buf = afterFlush.prevMsgs
        r.devAddr match {
          case Some(da) =>
            afterFlush.devices.get(da) match {
              case Some(info) =>
                // map hit: enrich + emit (:382-387)
                val enriched = r.copy(
                  devEui = info.devEui,
                  appName = if (info.fromApp) info.appName else r.appName,
                  devName = if (info.fromApp) info.devName else r.devName)
                (afterFlush.copy(prevMsgs = Nil),
                  flushed :+ env(Some(enriched), buf :+ msg))
              case None =>
                // map miss: buffer as prev_packet (:389-399) — the message
                // APPENDS to whatever the buffer already holds
                (afterFlush.copy(prev = Some(r), prevMsgs = buf :+ msg), flushed)
            }
          case None =>
            // no dev_addr (join request / error row): emit directly (:478-491)
            (afterFlush.copy(prevMsgs = Nil),
              flushed :+ env(Some(r), buf :+ msg))
        }

      case "app" =>
        st.prev match {
          case Some(p) =>
            val cleared = st.copy(prev = None, prevMsgs = Nil)
            if (p.fCount.isDefined && p.fCount == r.fCount) {
              // pair hit (:415-446): location + F1 upsert + enrich
              val newDevices = p.devAddr.fold(cleared.devices) { da =>
                cleared.devices + (da -> DeviceInfo(r.devEui, r.appName, r.devName, fromApp = true))
              }
              val enriched = p.copy(
                latitude = r.latitude.orElse(p.latitude),
                longitude = r.longitude.orElse(p.longitude),
                altitude = r.altitude.orElse(p.altitude),
                devEui = r.devEui, appName = r.appName, devName = r.devName)
              (cleared.copy(devices = newDevices),
                Seq(env(Some(enriched), st.prevMsgs :+ msg)))
            } else {
              // f_count mismatch: emit un-enriched (:478-491 via fallthrough)
              (cleared, Seq(env(Some(p), st.prevMsgs :+ msg)))
            }
          case None =>
            // no pending gateway packet: app message dropped (reference
            // emits nothing — standard_packet stays empty)
            (st, Nil)
        }

      case "perr_app" =>
        // app message whose rxInfo[0] dereference raises ON PAIR-HIT
        // (:419-427: 'rxInfo' present but null / not a list / empty /
        // non-dict first element). prev is consumed BEFORE the check
        // (:412-413); the raise lands in the outer except (:496-500)
        // without reset, so the packet is LOST and the buffered radio
        // message survives to ride into the next envelope. On an f_count
        // MISMATCH the rxInfo block never runs — the normal un-enriched
        // flush happens. With no prev the whole block is skipped and
        // nothing is saved or buffered (same as a clean unpaired app row).
        // Residual (documented): the reference compares
        // `standard_packet['f_count'] == msg.get('fCnt', None)` (:412),
        // so None == None is a PAIR-HIT — a buffered prev with null
        // f_count plus an fCnt-less crash row would consume-and-lose prev
        // there, but mismatch-flush here (fCount.isDefined guard).
        // Unreachable: a buffered prev implies an "up" data frame whose
        // PHY parse always sets f_count; the guard matches the app-route
        // convention used by the clean "app" branch above.
        st.prev match {
          case Some(p) if p.fCount.isDefined && p.fCount == r.fCount =>
            (st.copy(prev = None), Nil) // prevMsgs kept: rides on
          case Some(p) =>
            (st.copy(prev = None, prevMsgs = Nil),
              Seq(env(Some(p), st.prevMsgs :+ msg)))
          case None => (st, Nil)
        }

      case "perr_app_eat" =>
        // non-dict app message: `.get('fCnt')` raises BEFORE the f_count
        // compare (:416) — prev (if any) is already consumed and lost
        // regardless of its f_count; buffer kept; nothing emitted. With
        // no prev the branch is skipped entirely: inert.
        st.prev match {
          case Some(_) => (st.copy(prev = None), Nil)
          case None => (st, Nil)
        }

      case _ => // raw / unparseable (:450-474)
        val (afterFlush, flushed) = st.prev match {
          case Some(p) => (st.copy(prev = None, prevMsgs = Nil),
            Seq(env(Some(p), st.prevMsgs)))
          case None => (st, Nil)
        }
        // app-crash residue (no prev) rides into the message-only save
        (afterFlush.copy(prevMsgs = Nil),
          flushed :+ env(None, afterFlush.prevMsgs :+ msg))
    }
  }

  /** Spark hook: use from
    * `ds.groupByKey(_.collectorId).flatMapGroupsWithState(...)(chirpFlatMap)`.
    * Sorts the batch's records by seq — cross-batch order is the source's
    * responsibility (monotonic seq per collector). */
  def chirpFlatMap(key: Long, it: Iterator[Rec],
                   state: GroupState[ChirpState]): Iterator[Envelope] = {
    val (st, envs) =
      runOrdered(state.getOption.getOrElse(ChirpState.empty), it)(chirpStep)
    state.update(st)
    // Persistence gate: the reference's save() drops envelopes with zero
    // messages (PacketPersistence.py:28-31) — the only way one arises is a
    // prev flush whose message buffer was absorbed by an interleaved join.
    envs.iterator.filter(_.messages.nonEmpty)
  }

  // ------------------------------------------------------------- F4 state

  /** Fields are individually optional: the reference assigns the three
    * keys from `.get()` calls that may each yield None
    * (TTNv3Collector.py:232-238, TTNCollector.py:205-209). `pending`
    * models the reference's packet_writter_message['messages'] buffer
    * surviving a post-append crash: a parse-kind frame that raises after
    * the append (route=perr_buf) leaves its message in the buffer, and
    * the NEXT saved envelope carries it (TTNCollector.py:214-221 append,
    * :272-274 outer except without reset; same shape in
    * TTNv3Collector.py:243-249, :338-341).
    *
    * STATE SCHEMA BOUNDARY (v2): adding `pending` changed the persisted
    * state encoding for both F4 hosts (GroupState[LocState] /
    * ValueState[LocState]). A streaming checkpoint written by the
    * 3-field v1 state fails the state-store schema check on restart —
    * discard the checkpoint (or drain the old query before upgrading);
    * held-location and buffered-message state start empty. Same
    * operator contract as Events.idempotencyKey's KEY VERSION BOUNDARY.
    * (v3): renaming `Msg.dataCollectorId` to `data_collector_id` changed
    * the `pending` encoding again; a v2 checkpoint is discarded the same
    * way. */
  final case class LocState(lat: Option[Double], lon: Option[Double],
                            alt: Option[Double], pending: Seq[Msg] = Nil)

  /** F4 location take-once step: location rows set the held value; the
    * next radio row consumes and CLEARS it (TTNCollector.py:241-247 —
    * take-once, not sticky). A location row REPLACES the pending value
    * wholesale, partial fields included: the reference overwrites the
    * dict with possibly-None coordinates and still take-once-applies
    * them (TTNv3Collector.py:232-238 then :299-306 — `len(location) > 0`
    * is true the moment any key is assigned) — requiring all three here
    * silently kept STALE coordinates from an earlier status frame and
    * enriched subsequent packets with them. Non-radio rows pass through
    * as raw-log envelopes, mirroring the TTN collectors' save-everything
    * behavior. */
  def locationStep(st: Option[LocState], r: Rec): (Option[LocState], Seq[Envelope]) = {
    val msg = Msg(r.topic, r.message, r.collectorId)
    val pend = st.map(_.pending).getOrElse(Nil)
    def env(p: Option[Rec]) =
      Seq(Envelope(r.arrivalTs, r.collectorId, p.flatMap(enrichedPacket), pend :+ msg))
    r.route match {
      case "perr" =>
        // PRE-append crash (TTNv3 json.loads / ['result'] / status-data,
        // TTNv3Collector.py:210,229 → :338-341): save_parsing_error
        // only — nothing persisted, nothing buffered, state untouched
        (st, Nil)
      case "perr_buf" =>
        // POST-append crash: the reference appended the message, then the
        // parse block raised before save(), so the buffer is NOT reset
        // and the message rides into the NEXT saved envelope. Any pending
        // location value is preserved (the crash never touches it).
        (Some(st.getOrElse(LocState(None, None, None))
          .copy(pending = pend :+ msg)), Nil)
      case "location" =>
        (Some(LocState(r.latitude, r.longitude, r.altitude)), env(None))
      case "radio" =>
        st match {
          case Some(l) =>
            (None, env(Some(r.copy(latitude = l.lat, longitude = l.lon, altitude = l.alt))))
          case None => (None, env(Some(r)))
        }
      case _ => (st.map(_.copy(pending = Nil)), env(None))
    }
  }

  def locationFlatMap(key: Long, it: Iterator[Rec],
                      state: GroupState[LocState]): Iterator[Envelope] = {
    val (st, envs) = runOrdered(state.getOption, it)(locationStep)
    st match {
      case Some(s) => state.update(s)
      case None    => if (state.exists) state.remove()
    }
    envs.iterator
  }

  // ------------------------------------------------------------- F5 state

  final case class VerifState(total: Long, ok: Long, verified: Boolean)
  object VerifState { val empty: VerifState = VerifState(0, 0, verified = false) }

  final case class VerifOut(collectorId: Long, rec: Option[Rec],
                            statusChange: Option[Boolean])

  /** F5 verification-gate step (BaseCollector.py:85-110): while
    * unverified, every message is counted but NONE is emitted — the
    * caller's gate skips the message unless `verify_message` returns
    * True, which happens only for the threshold-crossing message
    * (LoraServerIOCollector.py:232-235: early return while unverified);
    * that crossing message IS processed. `verified := total ≥ 5 ∧
    * ok/total > 0.8` latches on (the reference never un-verifies without
    * the 600 s timer, which is driver-side). Emits a statusChange record
    * on the flip. */
  def verifStep(st: VerifState, passes: Boolean, r: Rec,
                minPackets: Long = 5, ratio: Double = 0.8): (VerifState, Seq[VerifOut]) = {
    if (st.verified) (st, Seq(VerifOut(r.collectorId, Some(r), None)))
    else {
      val total = st.total + 1
      val ok = st.ok + (if (passes) 1 else 0)
      // Reference ordering: verify_message returns early on failure, so
      // the threshold is only evaluated after a PASSING message
      // (BaseCollector.py:92-109). From empty state the distinction is
      // unobservable (ratio can't first cross 0.8 on a fail), but it
      // matters for restored nonzero counters.
      val verified = passes && total >= minPackets && ok.toDouble / total > ratio
      val st2 = VerifState(total, ok, verified)
      if (verified) (st2, Seq(VerifOut(r.collectorId, Some(r), None),
        VerifOut(r.collectorId, None, Some(true))))
      else (st2, Nil)
    }
  }
}
