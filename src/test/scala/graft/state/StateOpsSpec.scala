package graft.state

import graft.SparkSuite
import graft.state.StateOps._
import graft.streaming.Pipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Scripted-sequence tests for the stateful quartet — the ordering cases
  * of LoraServerIOCollector.py:370-399,411-459 and
  * TTNCollector.py:202-247 (SURVEY §5.2 item 3). */
class StateOpsSpec extends SparkSuite {

  private def rec(seq: Long, route: String, devAddr: String = null,
                  fCount: java.lang.Long = null, devEui: String = null,
                  appName: String = null, devName: String = null,
                  lat: java.lang.Double = null, msg: String = "m"): Rec =
    Rec(seq, 1L, route, Some(s"t$seq"), msg,
      Option(devAddr), Option(fCount).map(_.toLong), Option(devEui),
      Option(appName), Option(devName),
      Option(lat).map(_.toDouble), Option(lat).map(_.toDouble), Option(lat).map(_.toDouble),
      RecFixtures.packetFor(route, Option(devAddr), Option(fCount).map(_.toLong)), 1000 + seq)

  /** A data uplink PHYPayload (b64) for `daHex` at frame counter `fCnt`. */
  private def mkUp(daHex: String, fCnt: Int): String = graft.codec.Lorawan.b64encode(
    Array(0x40.toByte) ++ graft.codec.Lorawan.hexToLe(daHex) ++
      Array(0x80.toByte) ++ Array((fCnt & 0xff).toByte, ((fCnt >> 8) & 0xff).toByte) ++
      Array(1.toByte) ++ Array(10.toByte, 20.toByte) ++
      graft.codec.Lorawan.hexToBytes("00000000"))

  private def run(recs: Rec*): (ChirpState, Seq[Envelope]) =
    recs.foldLeft((ChirpState.empty, Seq.empty[Envelope])) {
      case ((st, acc), r) =>
        val (st2, out) = chirpStep(st, r)
        (st2, acc ++ out)
    }

  test("F2 pair-hit: buffered gateway packet merges with matching app message") {
    val (st, out) = run(
      rec(1, "radio", devAddr = "aa01", fCount = 7L),
      rec(2, "app", fCount = 7L, devEui = "deadbeef", appName = "ap", devName = "dv", lat = 1.5))
    assert(out.size == 1)
    val env = out.head
    assert(env.packet.get.dev_eui.contains("deadbeef"))
    assert(env.packet.get.app_name.contains("ap"))
    assert(env.packet.get.latitude.contains(1.5))
    assert(env.messages.size == 2) // gateway msg + app msg
    // F1 updated through the pairing path
    assert(st.devices("aa01") == DeviceInfo(Some("deadbeef"), Some("ap"), Some("dv"), fromApp = true))
    assert(st.prev.isEmpty)
  }

  test("F2 f_count mismatch: packet emitted un-enriched, map untouched") {
    val (st, out) = run(
      rec(1, "radio", devAddr = "aa01", fCount = 7L),
      rec(2, "app", fCount = 8L, devEui = "deadbeef"))
    assert(out.size == 1)
    assert(out.head.packet.get.dev_eui.isEmpty)
    assert(out.head.messages.size == 2)
    assert(st.devices.isEmpty)
  }

  test("F2 flush-on-next-event: second radio packet flushes the buffer") {
    val (st, out) = run(
      rec(1, "radio", devAddr = "aa01", fCount = 7L),
      rec(2, "radio", devAddr = "bb02", fCount = 9L))
    assert(out.size == 1)         // first packet flushed un-enriched
    assert(out.head.packet.get.dev_addr.contains("aa01"))
    assert(st.prev.get.devAddr.contains("bb02")) // second now buffered
  }

  test("F1+F3 join-then-data: map hit enriches immediately, join logs raw envelope") {
    val (st, out) = run(
      rec(1, "join", devAddr = "aa01", devEui = "cafe01"),
      rec(2, "radio", devAddr = "aa01", fCount = 3L))
    assert(out.size == 2)
    assert(out(0).packet.isEmpty)                  // F3 raw-log envelope
    assert(out(1).packet.get.dev_eui.contains("cafe01"))
    assert(st.prev.isEmpty)
    // join-sourced entries carry no app/dev names (fromApp = false)
    assert(!st.devices("aa01").fromApp)
  }

  test("radio with no dev_addr (JoinRequest) emits straight through") {
    val (_, out) = run(rec(1, "radio"))
    assert(out.size == 1 && out.head.packet.isDefined)
  }

  test("raw message flushes pending buffer then logs itself") {
    val (st, out) = run(
      rec(1, "radio", devAddr = "aa01", fCount = 7L),
      rec(2, "raw"))
    assert(out.size == 2)
    assert(out(0).packet.get.dev_addr.contains("aa01"))
    assert(out(1).packet.isEmpty)
    assert(st.prev.isEmpty)
  }

  test("app with no pending packet is dropped silently") {
    val (_, out) = run(rec(1, "app", fCount = 7L, devEui = "x"))
    assert(out.isEmpty)
  }

  test("F4 location take-once: consumed by next radio, then cleared") {
    val l = rec(1, "location", lat = 9.0)
    val r1 = rec(2, "radio"); val r2 = rec(3, "radio")
    val (st1, o1) = locationStep(None, l)
    val (st2, o2) = locationStep(st1, r1)
    val (st3, o3) = locationStep(st2, r2)
    assert(o1.head.packet.isEmpty)
    assert(o2.head.packet.get.latitude.contains(9.0))
    assert(st2.isEmpty)                         // cleared after one use
    assert(o3.head.packet.get.latitude.isEmpty) // not sticky
    assert(st3.isEmpty)
  }

  test("F4 partial location REPLACES the pending one, take-once included") {
    // the reference assigns the three coordinates from .get()s that may
    // each be None and still applies+clears them wholesale
    // (TTNv3Collector.py:232-238, :299-306) — a lat-only status frame
    // must not fall through to an older complete location
    val full = rec(1, "location", lat = 9.0)
    val partial = rec(2, "location").copy(latitude = Some(-34.6))
    val r = rec(3, "radio"); val r2 = rec(4, "radio")
    val (st1, _) = locationStep(None, full)
    val (st2, _) = locationStep(st1, partial)
    assert(st2.contains(LocState(Some(-34.6), None, None)))
    val (st3, o3) = locationStep(st2, r)
    assert(o3.head.packet.get.latitude.contains(-34.6))
    assert(o3.head.packet.get.longitude.isEmpty) // stale 9.0 NOT retained
    assert(st3.isEmpty)                          // consumed once
    val (_, o4) = locationStep(st3, r2)
    assert(o4.head.packet.get.latitude.isEmpty)
  }

  test("F4 perr is inert; perr_buf rides into the next envelope of any kind") {
    // post-append crash: the buffered messages accumulate and the NEXT
    // saved envelope (radio/location/raw alike) carries them; a pending
    // location value survives the crash untouched
    val l = rec(1, "location", lat = 9.0, msg = "loc")
    val c1 = rec(2, "perr_buf", msg = "crash1")
    val c2 = rec(3, "perr_buf", msg = "crash2")
    val p = rec(4, "perr", msg = "bad")
    val r = rec(5, "radio", msg = "up")
    val (st1, o1) = locationStep(None, l)
    assert(o1.head.messages.map(_.message) == Seq(l.message))
    val (st2, o2) = locationStep(st1, c1)
    val (st3, o3) = locationStep(st2, c2)
    assert(o2.isEmpty && o3.isEmpty)
    val (st4, o4) = locationStep(st3, p)
    assert(o4.isEmpty)
    assert(st4 == st3) // pre-append crash: state fully untouched
    val (st5, o5) = locationStep(st4, r)
    assert(o5.head.messages.map(_.message) ==
      Seq(c1.message, c2.message, r.message)) // ride-along, in order
    assert(o5.head.packet.get.latitude.contains(9.0)) // location survived
    assert(st5.isEmpty)
    // a raw row also flushes the buffer but PRESERVES a pending location
    val (st6, _) = locationStep(None, l)
    val (st7, _) = locationStep(st6, c1)
    val raw6 = rec(6, "raw", msg = "other")
    val (st8, o8) = locationStep(st7, raw6)
    assert(o8.head.messages.map(_.message) == Seq(c1.message, raw6.message))
    assert(st8.map(s => (s.lat, s.pending)) == Some((Some(9.0), Nil)))
  }

  test("app-crash routes: pair-hit loses prev, buffer rides; mismatch flushes; eat always") {
    // perr_app on a pair HIT (:412-427): prev consumed, then the rxInfo
    // deref raises — packet LOST, parsing error only, and the buffered
    // radio message survives packet_writter_message (:496-500 never
    // resets) to ride into the NEXT saved envelope
    val radio = rec(1, "radio", devAddr = "aa", fCount = 7L, msg = "up1")
    val crashHit = rec(2, "perr_app", fCount = 7L, msg = "appX")
    val radio2 = rec(3, "radio", devAddr = "bb", fCount = 1L, msg = "up2")
    val (st1, o1) = chirpStep(ChirpState.empty, radio) // map miss: buffered
    assert(o1.isEmpty)
    val (st2, o2) = chirpStep(st1, crashHit)
    assert(o2.isEmpty && st2.prev.isEmpty) // packet lost, nothing emitted
    assert(st2.prevMsgs.map(_.message) == Seq("up1")) // buffer survives
    val (st3, o3) = chirpStep(st2, radio2)
    // radio2 is itself a map miss → buffered; the residue accumulates
    assert(o3.isEmpty && st3.prevMsgs.map(_.message) == Seq("up1", "up2"))
    val (st4, o4) = chirpStep(st3, rec(4, "raw", msg = "other"))
    // the raw row flushes radio2's envelope carrying BOTH messages,
    // then emits its own message-only envelope
    assert(o4.length == 2)
    assert(o4.head.packet.nonEmpty &&
      o4.head.messages.map(_.message) == Seq("up1", "up2"))
    assert(o4.last.packet.isEmpty &&
      o4.last.messages.map(_.message) == Seq("other"))
    assert(st4.prev.isEmpty && st4.prevMsgs.isEmpty)

    // perr_app on a f_count MISMATCH: the rxInfo line is never reached —
    // the normal un-enriched flush happens (:478-491 via fallthrough)
    val (st5, _) = chirpStep(ChirpState.empty, radio)
    val (st6, o6) = chirpStep(st5, rec(5, "perr_app", fCount = 9L, msg = "appY"))
    assert(o6.length == 1 && o6.head.packet.nonEmpty)
    assert(o6.head.messages.map(_.message) == Seq("up1", "appY"))
    assert(st6.prev.isEmpty && st6.prevMsgs.isEmpty)

    // perr_app_eat loses prev regardless of f_count (:416 raises first)
    val (st7, _) = chirpStep(ChirpState.empty, radio)
    val (st8, o8) = chirpStep(st7, rec(6, "perr_app_eat", msg = "appZ"))
    assert(o8.isEmpty && st8.prev.isEmpty &&
      st8.prevMsgs.map(_.message) == Seq("up1"))

    // with no prev both crash routes are inert (the block is skipped)
    assert(chirpStep(ChirpState.empty, rec(7, "perr_app", fCount = 1L)) ==
      ((ChirpState.empty, Nil)))
    assert(chirpStep(ChirpState.empty, rec(8, "perr_app_eat")) ==
      ((ChirpState.empty, Nil)))
  }

  test("F5 verification gate: threshold flip at total≥5 ∧ ratio>0.8") {
    var st = VerifState.empty
    val results = (1 to 6).map { i =>
      val passes = i != 1 // one failure then passes: at i=6, ok=5/6 > 0.8
      val (st2, out) = verifStep(st, passes, rec(i, "radio"))
      st = st2
      (out.exists(_.rec.isDefined), out.exists(_.statusChange.contains(true)))
    }
    // reference gate: while unverified EVERY message is skipped (passing
    // ones too — verify_message returns True only on the crossing one)
    assert(!results.take(5).exists(r => r._1 || r._2))
    assert(results(5) == ((true, true)))   // flips at i=6 (5/6); crossing row processed
    assert(st.verified)
    // once verified, failing rows pass through uncounted
    val (st3, out3) = verifStep(st, passes = false, rec(99, "radio"))
    assert(out3.head.rec.isDefined && st3 == st)
  }

  test("join absorbs buffered messages; the later flush is dropped by the save() gate") {
    // LoraServerIOCollector.py:292-304: the join appends its message to the
    // packet_writter_message that still holds the buffered radio message and
    // resets the MESSAGE buffer only — prev_packet stays pending, so its
    // flush goes out message-less and PacketPersistence.save() drops it.
    val (st, out) = run(
      rec(1, "radio", devAddr = "aa01", fCount = 7L),   // buffered
      rec(2, "join", devAddr = "bb02", devEui = "feed"), // absorbs msg t1
      rec(3, "radio", devAddr = "cc03", fCount = 1L))   // flushes prev, empty msgs
    assert(out.size == 2)
    val joinEnv = out(0)
    assert(joinEnv.packet.isEmpty && joinEnv.messages.map(_.topic) == Seq(Some("t1"), Some("t2")))
    val flush = out(1)
    assert(flush.packet.get.dev_addr.contains("aa01") && flush.messages.isEmpty)
    assert(st.prev.get.devAddr.contains("cc03"))
    // persistence gate: the message-less flush never reaches the sink
    assert(Seq(joinEnv, flush).filter(_.messages.nonEmpty) == Seq(joinEnv))
  }

  test("internal-row batch fold equals the typed state machine on random interleavings") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._

    val das = Seq("017fc1c4", "0a0b0c0d", "11223344", "deadbeef", "00000001", "cafebabe")
    val rnd = new scala.util.Random(42)
    val rows = (1 to 400).map { i =>
      val cid = (i % 3).toLong
      rnd.nextInt(15) match {
        case 0 | 1 | 2 | 3 => // radio (some devAddrs never joined → buffering)
          val da = das(rnd.nextInt(das.length)); val f = rnd.nextInt(3)
          ("gateway/gw1/rx",
            s"""{"phyPayload":"${mkUp(da, f)}","rxInfo":{"channel":1,"rfChain":0,"crcStatus":1,"codeRate":"4/5","rssi":-60,"loRaSNR":9.0,"size":17,"timestamp":$i,"frequency":868100000,"mac":"aabb","dataRate":{"modulation":"LORA","spreadFactor":7,"bandwidth":125}}}""",
            cid, i.toLong)
        case 4 | 5 => // app pairing attempt, fCnt may or may not match
          val f = rnd.nextInt(3)
          (s"application/1/device/dev$i/rx",
            s"""{"devEUI":"eui$i","applicationName":"app$i","deviceName":"dev$i","fCnt":$f,"rxInfo":[{"name":"gw","location":{"latitude":$i.0,"longitude":2.0,"altitude":3.0}}]}""",
            cid, i.toLong)
        case 6 | 7 => // join — sometimes while a packet is buffered
          val da = das(rnd.nextInt(das.length))
          (s"application/1/device/j$i/join",
            s"""{"devAddr":"$da","devEUI":"joined$i"}""", cid, i.toLong)
        case 8 => // raw
          ("some/other/topic", s"""not-json-$i""", cid, i.toLong)
        case 9 => // struct-crash radio → perr: inert in BOTH kernels
          ("gateway/gw1/rx", s"""{"rxInfo":{"rssi":-$i}}""", cid, i.toLong)
        case 10 => // malformed rxInfo app → perr_app; fCnt sometimes
          // pair-hits a buffered packet (prev lost, buffer rides)
          (s"application/1/device/c$i/rx",
            s"""{"fCnt":${rnd.nextInt(3)},"rxInfo":[]}""", cid, i.toLong)
        case 11 => // non-dict app → perr_app_eat (prev lost regardless)
          (s"application/1/device/c$i/rx", s"$i", cid, i.toLong)
        case 12 => // join without the devAddr KEY → perr (inert)
          (s"application/1/device/j$i/join",
            s"""{"devEUI":"nokey$i"}""", cid, i.toLong)
        case _ => // undecodable radio → raw re-route (flush + message row)
          ("gateway/gw1/tx", s"""!!frame$i!!""", cid, i.toLong)
      }
    }
    val raw = rows.toDF("topic", "message", "data_collector_id", "seq_")
      .withColumn("organization_id", lit(7L))
      .withColumn("seq", col("seq_")).drop("seq_")
      .withColumn("arrival_ts", timestamp_micros(col("seq") * 1000000L))

    val typed = Pipeline.envelopeFrame(
      Pipeline.chirpEnvelopes(Pipeline.toChirpRecs(raw)))
    val fast = Pipeline.chirpEnvelopeFrameBatch(raw)

    assert(fast.schema.map(f => (f.name, f.dataType)) ==
      typed.schema.map(f => (f.name, f.dataType)))
    val t = typed.collect().map(_.toString).sorted.toSeq
    val f = fast.collect().map(_.toString).sorted.toSeq
    assert(f.size == t.size)
    assert(f == t)
  }

  test("fold input check ignores nullability and still names a drifted type") {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    def recFrame(field: String, dt: DataType) = spark.createDataFrame(
      java.util.List.of[Row](),
      StructType(Encoders.product[Rec].schema.fields.map(f =>
        if (f.name == field) f.copy(dataType = dt) else f))).schema
    // a packet struct whose fields came out NOT NULL: no accessor reads it
    val strictPacket = StructType(graft.etl.PacketSchema.packet.fields.map(_.copy(nullable = false)))
    ChirpFoldInternal.requireInputSchema(recFrame("packet", strictPacket))
    val e = intercept[IllegalArgumentException](
      ChirpFoldInternal.requireInputSchema(recFrame("fCount", IntegerType)))
    assert(e.getMessage.contains("input TYPES drifted") &&
      e.getMessage.contains("fCount is INT (fold reads BIGINT)"), e.getMessage)
  }

  test("fused single-pass normalize equals the 5-branch union over mixed dialects") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    def jsonRadio(pay: String) =
      s"""{"phyPayload":"$pay","rxInfo":{"channel":1,"rfChain":0,"crcStatus":1,"codeRate":"4/5","rssi":-60,"loRaSNR":9.0,"size":17,"timestamp":42,"frequency":868100000,"mac":"aabb","dataRate":{"modulation":"LORA","spreadFactor":7,"bandwidth":125}}}"""
    def protoRadio(pay: String) =
      s"""{"phyPayload":"$pay","rxInfo":{"gatewayID":"qrs=","channel":2,"rfChain":1,"crcStatus":"CRC_OK","rssi":-50,"loRaSNR":7.5,"size":17,"timestamp":123},"txInfo":{"frequency":867500000,"loRaModulationInfo":{"spreadingFactor":9,"bandwidth":125,"codeRate":"4/5"}}}"""
    // minimal proto3 writer for the F0h raw-frame case (field numbers
    // per the public chirpstack-api v3 gw.proto, as in NormalizeSpec)
    def vint(v: Long): Array[Byte] = {
      val b = scala.collection.mutable.ArrayBuffer[Byte]()
      var x = v; var more = true
      while (more) {
        val lo = (x & 0x7f).toInt; x = x >>> 7; more = x != 0
        b += (if (more) lo | 0x80 else lo).toByte
      }
      b.toArray
    }
    def pLd(f: Int, c: Array[Byte]) = vint((f << 3) | 2) ++ vint(c.length) ++ c
    def pV(f: Int, v: Long) = vint((f << 3) | 0) ++ vint(v)
    def pD(f: Int, v: Double) = {
      val bits = java.lang.Double.doubleToLongBits(v)
      vint((f << 3) | 1) ++ (0 to 7).map(i => ((bits >>> (8 * i)) & 0xff).toByte)
    }
    def rawProtoFrame(frmPayload: Array[Byte]): String = {
      val upBytes = Array(0x40.toByte) ++ graft.codec.Lorawan.hexToLe("44332211") ++
        Array(0x80.toByte) ++ Array(9.toByte, 0.toByte) ++
        Array(1.toByte) ++ frmPayload ++
        graft.codec.Lorawan.hexToBytes("00000000")
      val lmi = pV(1, 125) ++ pV(2, 9) ++ pLd(3, "4/5".getBytes("UTF-8"))
      val tx = pV(1, 867500000L) ++ pLd(3, lmi)
      val rx = pLd(1, graft.codec.Lorawan.hexToBytes("aabbccddeeff0011")) ++
        pV(5, -50L) ++ pD(6, 7.5) ++ pV(7, 2) ++ pV(8, 1) ++ pV(17, 2)
      graft.codec.Lorawan.b64encode(pLd(1, upBytes) ++ pLd(2, tx) ++ pLd(3, rx))
    }
    val oversized = "A" * 301
    val cases: Seq[(String, String)] = Seq(
      "gateway/gw1/rx" -> jsonRadio(mkUp("017fc1c4", 7)),          // json dialect
      "gateway/gw2/up" -> protoRadio(mkUp("0a0b0c0d", 3)),         // proto dialect
      "gateway/gw1/rx" -> jsonRadio(oversized),                    // oversized json → drop
      "gateway/gw2/up" -> protoRadio(oversized),                   // oversized proto → drop
      "gateway/gw1/rx" -> """{"rxInfo":{"channel":3,"rfChain":0,"crcStatus":1,"codeRate":"4/5","rssi":-61,"loRaSNR":8.0,"size":0,"timestamp":77,"frequency":868300000,"mac":"ccdd","dataRate":{"modulation":"LORA","spreadFactor":12,"bandwidth":125}}}""", // payload-less
      "gateway/gw1/tx" -> "not json at all",                       // malformed radio
      "application/1/device/d9/rx" ->
        """{"devEUI":"eui9","applicationName":"app9","deviceName":"dev9","fCnt":7,"rxInfo":[{"name":"gw","location":{"latitude":9.0,"longitude":2.0,"altitude":3.0}}]}""",
      "application/1/device/j1/join" -> """{"devAddr":"11223344","devEUI":"feed01"}""",
      "some/other/topic" -> "not-json-raw",
      "gateway/gw1/rx" -> """{"rxInfo":{"rssi":-50}}""",           // struct crash → perr (:357)
      "gateway/gw2/up" -> """{"rxInfo":{"rssi":-1},"txInfo":{"loRaModulationInfo":{"spreadingFactor":7}}}""", // proto dialect, no gatewayID → perr (:324)
      "application/1/device/e1/rx" -> "5",                          // non-dict app → perr_app_eat (:416)
      "application/1/device/e2/rx" -> """{"fCnt":7,"rxInfo":[]}""", // empty rxInfo → perr_app (:419-421)
      "application/1/device/j2/join" -> """{"devEUI":"nope"}""",    // no devAddr key → perr (:288 KeyError)
      "application/1/device/e3/rx" -> "not json @@",                // app decode failure → raw (:243-280)
      "gateway/gw3/up" -> rawProtoFrame(Array(10.toByte, 20.toByte)), // F0h raw protobuf
      "application/1/device/e4/rx" -> """{"fCnt":1,"rxInfo":[{"location":5}]}""", // truthy non-object location → perr_app (:421-424)
      "application/1/device/e5/rx" -> """{"fCnt":1,"rxInfo":[{"location":0}]}""", // falsy location skips the block → app
      "application/1/device/e6/rx" -> "null",                       // json.loads-valid null → eat (:416)
      "application/1/device/j3/join" -> "null",                     // None.get('devEUI') → perr (:288)
      "gateway/gw1/rx" -> "null")                                   // 'phyPayload' in None → perr (:311)
    val joinRequest = graft.codec.Lorawan.b64encode(Array(0x00.toByte) ++
      graft.codec.Lorawan.hexToLe("55d239ac716f234d") ++
      graft.codec.Lorawan.hexToLe("b827eb891cf50003") ++
      Array(0xb7.toByte, 0xc9.toByte) ++ graft.codec.Lorawan.hexToBytes("7005c4a5"))
    // adversarial inputs, each with the route the reference takes
    def app(loc: String) = s"""{"fCnt":1,"rxInfo":[{"location":$loc}]}"""
    val adversarial: Seq[((String, String), String)] =
      // valid-JSON scalar and array roots: on a radio topic `'phyPayload'
      // in` raises (number) or is False and x_info is never bound
      // (NameError, :311/:341-358); on an app topic `.get('fCnt')` raises
      // after prev was consumed (:416); on a join topic `.get('devEUI')`
      // raises before the append (:288)
      Seq("5", "[1]", "\"s\"").flatMap(root => Seq(
        ("gateway/gw1/rx" -> root) -> "perr",
        ("application/1/device/e8/rx" -> root) -> "perr_app_eat",
        ("application/1/device/j4/join" -> root) -> "perr")) ++
      // the empty message fails json.loads on every parsed route (:243-280)
      Seq("gateway/gw1/rx", "application/1/device/e9/rx",
        "application/1/device/j5/join").map(t => (t -> "") -> "raw") ++
      // a truthy non-object rxInfo[0].location raises at location.get
      // (:419-427); a falsy one skips the block
      Seq("\"x\"", "[1]", "true").map(l => ("application/1/device/l1/rx" -> app(l)) -> "perr_app") ++
      Seq("\"\"", "[]", "{}", "false", "null")
        .map(l => ("application/1/device/l2/rx" -> app(l)) -> "app") ++
      // a raw base64 frame whose PHYPayload is past 300 chars returns at
      // the size check (:313-315)
      Seq(("gateway/gw3/up" -> rawProtoFrame(Array.fill(240)(7.toByte))) -> "drop") ++
      // a JoinRequest radio frame: its PHY dev_eui rides in the packet
      // (PhyParser.py:24) and the saved packet keeps it (:478-491)
      Seq(("gateway/gw1/rx" -> jsonRadio(joinRequest)) -> "radio")
    val raw = (cases ++ adversarial.map(_._1)).zipWithIndex
      .map { case ((t, m), i) => (t, m, (i % 2).toLong, i.toLong) }
      .toDF("topic", "message", "data_collector_id", "seq")
      .withColumn("organization_id", lit(7L))
      .withColumn("arrival_ts", timestamp_micros(col("seq") * 1000000L))

    val fused = Pipeline.toChirpRecs(raw).collect().toSeq.sortBy(_.seq)
    val union = Pipeline.toChirpRecsUnion(raw).collect().toSeq.sortBy(_.seq)
    // the union form FILTERS oversized payloads AND struct-crash rows
    // inside the per-dialect normalizers; the fused form routes them to
    // "drop" / "perr" (same downstream semantics — state ops ignore both)
    assert(fused.filter(_.route == "drop").map(_.seq) == Seq(2L, 3L, 41L))
    assert(fused.filter(_.route == "perr").map(_.seq) ==
      Seq(9L, 10L, 13L, 19L, 20L, 21L, 23L, 24L, 26L, 27L, 29L))
    assert(fused.filterNot(r => r.route == "drop" || r.route == "perr") == union)
    // routes land where expected — index 5 (non-JSON text on a radio
    // topic) re-routes to raw: the reference's decode-failure path
    // persists a packet-less envelope, never a fabricated metadata
    // packet; 9-10 (valid JSON that crashes the radio assembly block)
    // and 13 (join without the devAddr KEY) re-route to perr: parsing
    // error only, no envelope; 11-12 are the STATE-dependent app crash
    // tags (non-dict root / bad rxInfo) chirpStep resolves; 14 (non-JSON
    // on an app topic) takes the same first-except raw path as radio
    assert(fused.map(_.route) ==
      Seq("radio", "radio", "drop", "drop", "radio", "raw", "app", "join",
        "raw", "perr", "perr", "perr_app_eat", "perr_app", "perr", "raw",
        "radio", "perr_app", "app", "perr_app_eat", "perr", "perr") ++
        adversarial.map(_._2))
    // the perr_app row keeps its fCount — chirpStep's pair-hit decision
    // needs it (:416)
    assert(fused.find(_.route == "perr_app").get.fCount.contains(7L))
    // the F0h raw frame actually PARSED on both paths (not a metadata-
    // only fallthrough): the envelope keeps the original base64 text,
    // the packet carries the decoded proto fields
    val rawProto = fused(15) // the F0h frame (crash cases follow it)
    assert(rawProto.message == cases(15)._2)
    assert(rawProto.packet.get.gateway.contains("aabbccddeeff0011"))
    assert(rawProto.packet.get.dev_addr.contains("44332211"))
    assert(rawProto.packet.get.f_count.contains(9L))
    assert(fused.last.packet.get.dev_eui.contains("b827eb891cf50003"))
  }

  test("toChirpRecs plans each JSON probe once and at most three from_json") {
    implicit val s = spark
    import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, JsonToStructs}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.functions._
    // built from spark.range: over a LocalRelation the optimizer folds the
    // whole projection into the relation and no expression is left to count
    val raw = spark.range(4).select(
      col("id").cast("string").as("topic"), col("id").cast("string").as("message"),
      col("id").as("data_collector_id"), col("id").as("organization_id"),
      col("id").as("seq"), timestamp_micros(col("id")).as("arrival_ts"))
    val plan = Pipeline.toChirpRecs(raw).toDF().queryExecution.optimizedPlan
    val found = plan.flatMap(_.expressions).flatMap(_.collect {
      case g: GetJsonObject => s"get_json_object ${g.path}"
      // Spark plans json_object_keys as this StaticInvoke
      case i: StaticInvoke if i.functionName == "jsonObjectKeys" => "json_object_keys"
      case _: JsonToStructs => "from_json"
    })
    val counts = found.groupBy(identity).map { case (k, v) => k -> v.size }
    val report = counts.toSeq.sorted.map { case (k, n) => s"$k: $n" }.mkString("; ")
    info(report)
    assert(counts.keySet == Set("from_json", "json_object_keys", "get_json_object $",
      "get_json_object $.rxInfo.gatewayID", "get_json_object $.txInfo.loRaModulationInfo",
      "get_json_object $.devAddr", "get_json_object $.devEUI",
      "get_json_object $.rxInfo[0].location"), report)
    assert((counts - "from_json").values.forall(_ == 1), report)
    assert(counts("from_json") <= 3, report)
  }

  // ------------------------------------------------------ pipeline e2e

  private val chirpSeq: Seq[(String, String, Long)] = {
    val up = graft.codec.Lorawan.b64encode(
      Array(0x40.toByte) ++ graft.codec.Lorawan.hexToLe("017fc1c4") ++
        Array(0x80.toByte) ++ Array(7.toByte, 0.toByte) ++
        Array(1.toByte) ++ Array(10.toByte, 20.toByte) ++
        graft.codec.Lorawan.hexToBytes("00000000"))
    def gw(seqNo: Long) =
      (s"gateway/gw1/rx",
        s"""{"phyPayload":"$up","rxInfo":{"channel":1,"rfChain":0,"crcStatus":1,
           |"codeRate":"4/5","rssi":-60,"loRaSNR":9.0,"size":17,"timestamp":${1000 + seqNo},
           |"frequency":868100000,"mac":"aabb","dataRate":{"modulation":"LORA",
           |"spreadFactor":7,"bandwidth":125}}}""".stripMargin.replace("\n", ""),
        seqNo)
    Seq(
      gw(1), // buffered (dev_addr 017fc1c4 unknown)
      ("application/1/device/cafe01/rx",
        """{"devEUI":"cafe01","applicationName":"app1","deviceName":"dev1","fCnt":7,
          |"rxInfo":[{"name":"gw-name","location":{"latitude":1.0,"longitude":2.0,"altitude":3.0}}]}"""
          .stripMargin.replace("\n", ""), 2L), // pairs with gw(1)
      gw(3), // map hit now → enriched immediately
      ("application/1/device/x/join",
        """{"devAddr":"11223344","devEUI":"feed01"}""", 4L)) // F1 upsert + raw log
  }

  test("ChirpStack pipeline end-to-end (batch): normalize → state → envelopes") {
    implicit val s = spark
    import s.implicits._
    val df = chirpSeq.toDF("topic", "message", "seq")
      .withColumn("data_collector_id", org.apache.spark.sql.functions.lit(1L))
      .withColumn("organization_id", org.apache.spark.sql.functions.lit(2L))
      .withColumn("arrival_ts",
        org.apache.spark.sql.functions.to_timestamp(
          org.apache.spark.sql.functions.lit("2024-06-01 12:00:00")))
    val envs = Pipeline.chirpEnvelopes(Pipeline.toChirpRecs(df))
      .collect().sortBy(_.ts)
    assert(envs.length == 3)
    val paired = envs(0)
    assert(paired.packet.get.dev_eui.contains("cafe01"))
    assert(paired.packet.get.latitude.contains(1.0))
    assert(paired.messages.size == 2)
    val enriched = envs(1)
    assert(enriched.packet.get.dev_eui.contains("cafe01"))
    assert(enriched.packet.get.app_name.contains("app1"))
    assert(enriched.messages.size == 1)
    val joinLog = envs(2)
    assert(joinLog.packet.isEmpty)

    // K1 envelope frame: packet struct materializes with enrichment
    val frame = Pipeline.envelopeFrame(
      Pipeline.chirpEnvelopes(Pipeline.toChirpRecs(df)))
    val rows = frame.orderBy("ts").collect()
    assert(rows.length == 3)
    val pkt = rows(0).getStruct(rows(0).fieldIndex("packet"))
    assert(pkt.getAs[String]("dev_eui") == "cafe01")
    assert(pkt.getAs[Double]("latitude") == 1.0)
    assert(pkt.getAs[String]("dev_addr") == "017fc1c4")
    assert(pkt.getAs[String]("datr") == """{"spread_factor":7,"bandwidth":125}""")
  }

  test("one envelope layout: typed hosts, batch fold and parquet sink") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val raw = chirpSeq.toDF("topic", "message", "seq")
      .withColumn("data_collector_id", lit(1L))
      .withColumn("organization_id", lit(2L))
      .withColumn("arrival_ts", to_timestamp(lit("2024-06-01 12:00:00")))
    val want = Encoders.product[Envelope].schema
    Seq(Pipeline.chirpEnvelopeFrameBatch(raw),
        Pipeline.envelopeFrame(Pipeline.chirpEnvelopes(Pipeline.toChirpRecs(raw))))
      .foreach(df => assert(DataTypeUtils.equalsIgnoreNullability(df.schema, want),
        df.schema.treeString))

    // the sink writes that layout and reads back as the same envelopes
    // (its partition column is re-inferred as INT and moves last)
    val recs = Pipeline.toChirpRecs(raw).collect().toSeq
    val stream = MemoryStream[Rec]
    val out = java.nio.file.Files.createTempDirectory("envlayout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("envlayout_ckpt").toString
    val q = Pipeline.startEnvelopeSink(Pipeline.envelopeFrame(Pipeline.chirpEnvelopes(stream.toDS())),
      out, ckpt, org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try { stream.addData(recs: _*); q.processAllAvailable() } finally q.stop()
    val back = spark.read.parquet(out)
    def names(t: DataType): Seq[String] = t match {
      case st: StructType => st.fieldNames.toSeq
      case ArrayType(e, _) => names(e)
      case _ => Nil
    }
    assert(back.schema.fieldNames.toSet == Set("ts", "data_collector_id", "packet", "messages"))
    assert(names(back.schema("packet").dataType) == graft.etl.PacketSchema.packetColumns)
    assert(names(back.schema("messages").dataType) == Seq("topic", "message", "data_collector_id"))
    assert(back.as[Envelope].collect().toSeq.sortBy(_.toString) ==
      Pipeline.chirpEnvelopes(recs.toDS()).collect().toSeq.sortBy(_.toString))
  }

  test("TTN v3 pipeline end-to-end: status location consumed once by the next uplink") {
    implicit val s = spark
    import s.implicits._
    val up = graft.codec.Lorawan.b64encode(
      Array(0x40.toByte) ++ graft.codec.Lorawan.hexToLe("017fc1c4") ++
        Array(0x80.toByte) ++ Array(7.toByte, 0.toByte) ++
        graft.codec.Lorawan.hexToBytes("00000000"))
    def rec(name: String, data: String, seqNo: Long) =
      (null: String,
        s"""{"result":{"name":"$name","time":"2024-06-01T10:0$seqNo:00Z",
           |"identifiers":[{"gateway_ids":{"gateway_id":"g1","eui":"AABB"}}],
           |"data":$data}}""".stripMargin.replace("\n", ""), seqNo)
    val status = rec("gs.status.receive",
      """{"antenna_locations":[{"latitude":52.0,"longitude":4.0,"altitude":7.0}]}""", 1)
    val up1 = rec("gs.up.receive",
      s"""{"raw_payload":"$up","rx_metadata":[{"snr":7.0,"rssi":-80}],
         |"settings":{"frequency":"868500000","coding_rate":"4/5"}}"""
        .stripMargin.replace("\n", ""), 2)
    val up2 = rec("gs.up.receive",
      s"""{"raw_payload":"$up","rx_metadata":[{"snr":6.0,"rssi":-82}],
         |"settings":{"frequency":"868500000","coding_rate":"4/5"}}"""
        .stripMargin.replace("\n", ""), 3)
    val df = Seq(status, up1, up2).toDF("topic", "message", "seq")
      .withColumn("data_collector_id", org.apache.spark.sql.functions.lit(9L))
      .withColumn("organization_id", org.apache.spark.sql.functions.lit(2L))
      .withColumn("gw_name", org.apache.spark.sql.functions.lit("gw-cfg"))
      // distinct arrival seconds so envelope ts gives a total order
      .withColumn("arrival_ts", org.apache.spark.sql.functions.expr(
        "timestampadd(SECOND, cast(seq as int), timestamp'2024-06-01 12:00:00')"))
    val frame = Pipeline.envelopeFrame(
      Pipeline.ttnEnvelopes(Pipeline.toTtnRecs(df, v3 = true)))
      .orderBy("ts").collect()
    assert(frame.length == 3)
    assert(frame(0).isNullAt(frame(0).fieldIndex("packet"))) // status = raw log
    val first = frame(1).getStruct(frame(1).fieldIndex("packet"))
    assert(first.getAs[Double]("latitude") == 52.0)          // take-once applied
    assert(first.getAs[String]("gateway") == "AABB")
    assert(first.getAs[String]("dev_addr") == "017fc1c4")
    val second = frame(2).getStruct(frame(2).fieldIndex("packet"))
    assert(second.isNullAt(second.fieldIndex("latitude")))   // NOT sticky
  }

  test("TTN v2 pipeline end-to-end: SockJS frames through toTtnRecs -> state -> frame") {
    implicit val s = spark
    import s.implicits._
    val up = graft.codec.Lorawan.b64encode(
      Array(0x40.toByte) ++ graft.codec.Lorawan.hexToLe("017fc1c4") ++
        Array(0x80.toByte) ++ Array(7.toByte, 0.toByte) ++
        graft.codec.Lorawan.hexToBytes("00000000"))
    def frame(kind: String, json: String) =
      "a[\"gateway " + kind + " " + json.replace("\"", "\\\"") + "\"]"
    val status = frame("status",
      """{"status":{"location":{"latitude":-34.6,"longitude":-58.4,"altitude":25.0}}}""")
    val uplink = frame("uplink",
      s"""{"payload":"$up","snr":8.5,"rssi":-61,"timestamp":"2024-06-01T10:20:30Z","frequency":868.1,"coding_rate":"4/5"}""")
    val df = Seq((null: String, status, 1L), (null: String, uplink, 2L), (null: String, "h", 3L))
      .toDF("topic", "message", "seq")
      .withColumn("data_collector_id", org.apache.spark.sql.functions.lit(4L))
      .withColumn("organization_id", org.apache.spark.sql.functions.lit(2L))
      .withColumn("gw", org.apache.spark.sql.functions.lit("eui-aabbcc"))
      .withColumn("arrival_ts", org.apache.spark.sql.functions.expr(
        "timestampadd(SECOND, cast(seq as int), timestamp'2024-06-01 12:00:00')"))
    val out = Pipeline.envelopeFrame(
      Pipeline.ttnEnvelopes(Pipeline.toTtnRecs(df, v3 = false)))
      .orderBy("ts").collect()
    assert(out.length == 2) // keepalive 'h' dropped (F0a)
    assert(out(0).isNullAt(out(0).fieldIndex("packet"))) // status = raw log
    val pkt = out(1).getStruct(out(1).fieldIndex("packet"))
    assert(pkt.getAs[Double]("latitude") == -34.6)  // take-once from status
    assert(pkt.getAs[String]("gateway") == "aabbcc") // eui- stripped
    assert(pkt.getAs[Long]("tmst") == 1717237230000L)
    assert(pkt.getAs[String]("dev_addr") == "017fc1c4")
  }

  test("pipeline state runs on the RocksDB store (the 100 TB state backend)") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Rec]
      val q = Pipeline.chirpEnvelopes(stream.toDS())
        .writeStream.format("memory").queryName("rocksdb_envs")
        .outputMode(OutputMode.Append).start()
      try {
        stream.addData(rec(1, "join", devAddr = "aa01", devEui = "cafe01"))
        q.processAllAvailable()
        // state (the device map) must survive into the next micro-batch
        stream.addData(rec(2, "radio", devAddr = "aa01", fCount = 3L))
        q.processAllAvailable()
        val out = spark.table("rocksdb_envs").as[Envelope].collect().sortBy(_.ts)
        assert(out.length == 2)
        assert(out(1).packet.get.dev_eui.contains("cafe01")) // enriched from RocksDB state
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** Streams `recs` through `host` in two micro-batches split at
    * `split` (state must carry across) and returns the envelopes,
    * asserting them equal to the batch fold. Whole envelopes sorted by
    * toString: ts ties between a flush and a self-emit would make a
    * ts sort ambiguous. */
  private def streamEqualsBatch(name: String, recs: Seq[Rec], split: Int,
      host: org.apache.spark.sql.Dataset[Rec] => org.apache.spark.sql.Dataset[Envelope])
      : Seq[Envelope] = {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Rec]
    val q = host(stream.toDS()).writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      stream.addData(recs.take(split): _*); q.processAllAvailable()
      stream.addData(recs.drop(split): _*); q.processAllAvailable()
      spark.table(name).as[Envelope].collect().toSeq.sortBy(_.toString)
    } finally q.stop()
    val batch = host(recs.toDS()).collect().toSeq.sortBy(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    streamed
  }

  test("ChirpStack pipeline in Structured Streaming equals batch result") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._

    // the scripted sequence, split mid-pairing
    val scripted = Pipeline.toChirpRecs(chirpSeq.toDF("topic", "message", "seq")
        .withColumn("data_collector_id", lit(1L))
        .withColumn("organization_id", lit(2L))
        .withColumn("arrival_ts", to_timestamp(lit("2024-06-01 12:00:00"))))
      .collect().toSeq.sortBy(_.seq)
    streamEqualsBatch("chirp_scripted", scripted, 1, Pipeline.chirpEnvelopes(_))
  }

  test("random ChirpStack interleaving in streaming equals batch") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._

    // every ChirpStack route over two collectors
    val das = Seq("017fc1c4", "0a0b0c0d", "deadbeef")
    val rnd = new scala.util.Random(7)
    val mixedRows = (1 to 120).map { i =>
      val cid = (i % 2).toLong
      rnd.nextInt(8) match {
        case 0 | 1 | 2 | 3 =>
          ("gateway/gw1/rx",
            s"""{"phyPayload":"${mkUp(das(rnd.nextInt(das.length)), rnd.nextInt(3))}","rxInfo":{"channel":1,"rfChain":0,"crcStatus":1,"codeRate":"4/5","rssi":-60,"loRaSNR":9.0,"size":17,"timestamp":$i,"frequency":868100000,"mac":"aabb","dataRate":{"modulation":"LORA","spreadFactor":7,"bandwidth":125}}}""",
            cid, i.toLong)
        case 4 | 5 =>
          (s"application/1/device/dev$i/rx",
            s"""{"devEUI":"eui$i","applicationName":"app$i","deviceName":"dev$i","fCnt":${rnd.nextInt(3)},"rxInfo":[{"name":"gw","location":{"latitude":$i.0,"longitude":2.0,"altitude":3.0}}]}""",
            cid, i.toLong)
        case 6 =>
          (s"application/1/device/j$i/join",
            s"""{"devAddr":"${das(rnd.nextInt(das.length))}","devEUI":"joined$i"}""",
            cid, i.toLong)
        case _ => ("some/other/topic", s"not-json-$i", cid, i.toLong)
      }
    }
    val mixed = Pipeline.toChirpRecs(mixedRows.toDF("topic", "message", "data_collector_id", "seq")
        .withColumn("organization_id", lit(7L))
        .withColumn("arrival_ts", timestamp_micros(col("seq") * 1000000L)))
      .collect().toSeq.sortBy(_.seq)
    streamEqualsBatch("chirp_mixed", mixed, mixed.length / 2, Pipeline.chirpEnvelopes(_))
  }

  test("F4 location/perr interleaving in streaming equals batch") {
    implicit val s = spark
    // location/radio/raw rows plus the struct-crash routes (perr inert,
    // perr_buf buffers into the next envelope) on the TTN host
    val rndLoc = new scala.util.Random(11)
    val locRecs: Seq[Rec] = (1 to 80).map { i =>
      val cid = (i % 2).toLong
      rndLoc.nextInt(6) match {
        case 0 => Rec(i, cid, "location", None, s"loc$i", None, None, None,
          None, None, Some(i * 1.0), Some(2.0), Some(3.0), None, 1000 + i)
        case 1 | 2 => Rec(i, cid, "radio", None, s"up$i", Some("aa"), Some(1L),
          None, None, None, None, None, None,
          RecFixtures.packetFor("radio", Some("aa"), Some(1L)), 1000 + i)
        case 3 => Rec(i, cid, "raw", None, s"raw$i", None, None, None,
          None, None, None, None, None, None, 1000 + i)
        case 4 => Rec(i, cid, "perr_buf", None, s"crash$i", None, None, None,
          None, None, None, None, None, None, 1000 + i)
        case _ => Rec(i, cid, "perr", None, s"bad$i", None, None, None,
          None, None, None, None, None, None, 1000 + i)
      }
    }
    val locEnvs = streamEqualsBatch("loc_mixed", locRecs, locRecs.length / 2,
      Pipeline.ttnEnvelopes(_))
    // take-once actually exercised: some radio envelope carries a location
    assert(locEnvs.exists(_.packet.exists(_.latitude.isDefined)))
  }
}
