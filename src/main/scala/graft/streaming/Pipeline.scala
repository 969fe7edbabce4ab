package graft.streaming

import graft.etl.{Normalize, PacketSchema}
import graft.state.StateOps
import graft.state.StateOps.{Envelope, Rec}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

/** End-to-end packet pipeline assembly (SURVEY §3.2):
  *
  * {{{
  * raw messages (topic, message, data_collector_id, organization_id,
  *               seq, arrival_ts [, gw, gw_name])
  *   → route (F0) → per-dialect normalize (P*) → Rec
  *   → keyed state (F1+F2+F3 ChirpStack / F4 TTN)  [one shuffle on collector]
  *   → envelopes {ts, packet, messages[]}           (K1 shape)
  * }}}
  *
  * The same transforms run in batch (tests, replay) and streaming
  * (readStream → the parquet file sink of [[startEnvelopeSink]]).
  * Scale: normalization + codec are data-parallel map work before the
  * single state shuffle; only the order-dependent pairing serializes
  * per collector — exactly the
  * reference's per-collector thread, but collectors run in parallel and
  * state is checkpointable (vs the reference's crash-lossy heap dicts,
  * BASELINE.md "state durability: none").
  */
object Pipeline {

  /** The full packet row as a typed struct (field order = Pkt field
    * order = PacketSchema column order) — carried through the state
    * machine without serialization. */
  private val packetStructCol: Column =
    struct(PacketSchema.packetColumns.map(col): _*)

  /** Normalized radio rows (any dialect) → Rec rows. */
  private def radioRecs(norm: DataFrame, gwName: Column): DataFrame =
    norm.select(
      col("seq"),
      col("data_collector_id").as("collectorId"),
      col("route"),
      col("topic"),
      col("raw_message").as("message"),
      col("dev_addr").as("devAddr"),
      col("f_count").as("fCount"),
      col("dev_eui").as("devEui"),
      col("app_name").as("appName"),
      col("dev_name").as("devName"),
      col("latitude"), col("longitude"), col("altitude"),
      gwName.as("gwName"),
      packetStructCol.as("packet"),
      col("date").cast("long").as("arrivalTs"))

  private def emptyRec(df: DataFrame, route: String): DataFrame =
    df.select(
      col("seq"),
      col("data_collector_id").as("collectorId"),
      lit(route).as("route"),
      col("topic"),
      col("message"),
      lit(null).cast("string").as("devAddr"),
      lit(null).cast("long").as("fCount"),
      lit(null).cast("string").as("devEui"),
      lit(null).cast("string").as("appName"),
      lit(null).cast("string").as("devName"),
      lit(null).cast("double").as("latitude"),
      lit(null).cast("double").as("longitude"),
      lit(null).cast("double").as("altitude"),
      lit(null).cast("string").as("gwName"),
      lit(null).cast(PacketSchema.packet).as("packet"),
      col("arrival_ts").cast("long").as("arrivalTs"))

  /** ChirpStack: route + normalization → Dataset[Rec] over ONE scan, as a
    * STAGED column program so each message pays exactly ONE full
    * `from_json` (its own dialect's) instead of one per dialect schema:
    *
    *   A1: route from the topic + F0h dialect sniff via `get_json_object`
    *       on `$.rxInfo.gatewayID` / `$.txInfo.loRaModulationInfo` — a
    *       streaming path probe, no full parse (the same detection the
    *       branch-per-route oracle form uses;
    *       LoraServerIOCollector.py:238-280);
    *   A2: the single route-gated `from_json` (gateway | proto | app);
    *   B:  payload extraction + PHY decode, once;
    *   C:  Rec assembly from cheap field references.
    *
    * The stages survive optimization because CollapseProject never inlines
    * a non-cheap expression referenced more than once — measured: the r2
    * single-projection form re-parsed every row with all three schemas
    * (~26 s of q50's 29 s at sf0.1), this form parses once (from_json is
    * CodegenFallback, so the projection is interpreted either way).
    *
    * F0c becomes route="drop" instead of a filter — a filter on a parsed
    * column would be pushed below the projection and re-run the parse;
    * the state ops ignore drop rows (reference: early return, :313-315).
    * Equivalence with the branch-per-route form is pinned by
    * StateOpsSpec ("fused single-pass normalize equals the 5-branch union"). */
  def toChirpRecs(df: DataFrame)(implicit s: SparkSession): Dataset[Rec] = {
    import s.implicits._
    import graft.etl.PacketSchema
    val route0 = Normalize.chirpstackRoute(col("topic"))
    // F0h raw-protobuf leg (LoraServerIOCollector.py:254-261): a message
    // that is not JSON text on a gateway/.../up topic is tried as a
    // base64 gw.UplinkFrame; success feeds the SAME proto-dialect
    // normalization as MessageToJson text. MessageToJson output always
    // starts with '{', base64 never does — a cheap exact discriminator.
    val a0 = df.select(col("*"),
      when(route0 === "radio" && col("topic").rlike("^gateway/.*up$") &&
          !ltrim(col("message")).startsWith("{"),
        graft.functions.PhyFunctions.proto_uplink_json(col("message")))
        .as("proto_json"))
    val isProtoShape =
      get_json_object(col("message"), "$.rxInfo.gatewayID").isNotNull ||
        get_json_object(col("message"), "$.txInfo.loRaModulationInfo").isNotNull
    val a1 = a0.select(
      col("seq"), col("data_collector_id"), col("organization_id"),
      col("topic"), col("message"), col("arrival_ts"),
      coalesce(col("proto_json"), col("message")).as("msg_n"),
      route0.as("route0"),
      (route0 === "radio" &&
        (col("proto_json").isNotNull || isProtoShape)).as("is_proto"))
    val a2 = a1.select(col("*"),
      when(col("route0") === "radio" && !col("is_proto"),
        from_json(col("msg_n"), PacketSchema.chirpstackGateway)).as("mj"),
      when(col("is_proto"),
        from_json(col("msg_n"), PacketSchema.chirpstackProto)).as("mp"),
      when(col("route0") === "app",
        from_json(col("msg_n"), PacketSchema.chirpstackApp)).as("ma"))
    val pay0 = when(col("is_proto"), col("mp")("phyPayload"))
      .otherwise(col("mj")("phyPayload"))
    val b = a2.select(col("*"), pay0.as("pay"),
      graft.functions.PhyFunctions.phy_decode_b64(pay0).as("phy"))

    val isProto = col("is_proto")
    val mj = col("mj"); val mp = col("mp"); val ma = col("ma")
    val pay = col("pay"); val phy = col("phy")
    val oversized = col("route0") === "radio" && pay.isNotNull && length(pay) > 300
    // Decode failure on a radio topic re-routes to raw — the reference's
    // except path flushes prev_packet, persists the garbled message as a
    // packet-less envelope, and records a parsing error
    // (LoraServerIOCollector.py:243-280); leaving route=radio fabricated
    // a metadata-only PACKET envelope (date/topic/ids around all-null
    // radio fields) the reference never writes. chirpStep's raw branch
    // is exactly flush-then-message-envelope. The validity probe is
    // get_json_object(_, '$') — null iff the text is not JSON, the
    // columnar json.loads test (from_json CANNOT express it: PERMISSIVE
    // mode renders malformed input as a struct of nulls, indistinguishable
    // from a valid metadata-only message). msg_n is the proto-decoded
    // JSON for proto rows, so a successful F0h proto leg passes. (On /up
    // topics the reference additionally swallows the message itself
    // after the failed protobuf retry — there we still persist it as the
    // raw-log row: strictly more information, same flush semantics.)
    // json.loads failure on ANY parsed route — radio (after the F0h
    // proto retry), app, join — lands in the FIRST except (:243-280):
    // flush + message-only envelope → raw. The JSON literal `null` is
    // NOT a decode failure (json.loads("null") succeeds and the
    // assembly block then crashes on None — the perr/perr_app_eat
    // probes below all fire for it) even though get_json_object
    // returns SQL NULL for it.
    val jsonNullLit = trim(col("msg_n")) === "null"
    val decodeFailed = col("route0").isin("radio", "app", "join") &&
      get_json_object(col("msg_n"), "$").isNull && !jsonNullLit
    // A radio message that DOES decode as JSON but whose structure would
    // crash the reference's packet-assembly block (non-object root,
    // neither rxInfo nor txInfo, non-object x_info, missing dataRate /
    // gatewayID / loRaModulationInfo — see Normalize.chirpstackJson/
    // ProtoStructCrash) hits the OUTER except (LoraServerIOCollector
    // .py:496-500): the reference records only a parsing error — no
    // packet, no message envelope, and no prev_packet flush (the raise
    // lands before :370-376). That is route="perr": inert in chirpStep,
    // unlike "raw" (json.loads failure, :243-280) which flushes and
    // persists a packet-less message envelope. Oversized wins first —
    // the :314 length check returns before the x_info blocks run.
    val structCrash = col("route0") === "radio" &&
      when(col("is_proto"),
        Normalize.chirpstackProtoStructCrash(col("msg_n"), col("mp")))
        .otherwise(Normalize.chirpstackJsonStructCrash(col("msg_n"), col("mj")))
    // join crash surface (:287-290): a valid-JSON join whose root is not
    // an object (`.get('devEUI')` AttributeError) or lacks the devAddr
    // KEY (`mqtt_messsage['devAddr']` KeyError) raises into the outer
    // except (:496-500) BEFORE the message append — parsing error only,
    // nothing persisted, prev untouched → perr. A JSON-null devAddr is
    // NOT a crash (None is a hashable dict key; a non-scalar devAddr
    // would be, but is an accepted residual). The keys probe runs only
    // when the cheap devAddr extraction came back null.
    val joinKeys = json_object_keys(col("msg_n"))
    val joinCrash = col("route0") === "join" &&
      get_json_object(col("msg_n"), "$.devAddr").isNull &&
      (joinKeys.isNull || !array_contains(joinKeys, "devAddr"))
    // app crash surface (:412-427) — the raise is STATE-dependent (it
    // happens only when a pair-hit reaches the crashing line), so rows
    // are only TAGGED here and chirpStep decides:
    //  - perr_app_eat: valid JSON whose root is not an object —
    //    `.get('fCnt')` raises before the f_count compare (:416), after
    //    prev was consumed (:412-413);
    //  - perr_app: 'rxInfo' key present but null / not an array / empty
    //    / with a non-struct first element — rxInfo[0].get raises on the
    //    pair-hit path only (:419-427).
    // Probes read the parsed struct; json_object_keys runs only for rows
    // whose parsed slots are already suspect (PERMISSIVE from_json gives
    // a NON-null all-null-fields struct for a scalar/array root, so
    // struct nullness alone cannot spot a non-object — the keys probe,
    // gated behind every field being null, is the exact test).
    val ma0 = col("ma")
    val maRx = ma0("rxInfo")
    val maEmpty = ma0.isNull ||
      (ma0("fCnt").isNull && ma0("devEUI").isNull &&
        ma0("applicationName").isNull && ma0("deviceName").isNull &&
        maRx.isNull)
    val appEat = col("route0") === "app" && maEmpty &&
      json_object_keys(col("msg_n")).isNull
    // rxInfo[0].location truthiness (:421-424): `if location:` runs
    // location.get('latitude') — a TRUTHY non-object location (non-zero
    // number, non-empty string/array, true) raises; Python-falsy values
    // (absent, null, false, 0, "", [], {}) skip the block. The parsed
    // slot is null for every non-object, so the RAW text decides
    // truthiness (an object location never reaches this probe — it
    // parses non-null). Residual: the string "false" (truthy in Python,
    // unquoted by get_json_object here).
    val elem0 = get(maRx, lit(0))
    val locText = get_json_object(col("msg_n"), "$.rxInfo[0].location")
    val locNum = locText.rlike(
      "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
    val locTruthy = length(locText) > 0 && locText =!= "false" &&
      trim(locText) =!= "[]" &&
      (!locNum || locText.cast("double") =!= 0.0)
    val appCrash = col("route0") === "app" &&
      (((maRx.isNull || elem0.isNull) &&
        array_contains(json_object_keys(col("msg_n")), "rxInfo")) ||
        (elem0.isNotNull && elem0("location").isNull && locTruthy))
    val route = when(oversized, "drop")
      .when(decodeFailed, "raw")
      .when(structCrash, "perr")
      .when(joinCrash, "perr")
      .when(appEat, "perr_app_eat")
      .when(appCrash, "perr_app")
      .otherwise(col("route0"))
    val x = coalesce(mj("txInfo"), mj("rxInfo")) // json-dialect x_info quirk
    val lmi = mp("txInfo")("loRaModulationInfo")
    def pj(j: Column, p: Column) = when(isProto, p).otherwise(j)
    // packet.dev_eui carries the PHY-parsed value (JoinRequest frames
    // only, PhyParser.py:24) — JoinRequests have no dev_addr so F1 never
    // touches them and the reference saves that dev_eui as-is (:478-491);
    // data frames parse null here and the F1 device map fills them later
    val phyFields = Seq("m_type", "major", "mic", "join_eui",
      "dev_nonce", "dev_addr", "adr", "ack", "adr_ack_req", "f_pending",
      "class_b", "f_count", "f_opts", "f_port", "error")
    // one definition of "null typed from the packet schema" — shared
    // with the branch-per-route normalizers so the typing cannot drift
    def nul(name: String) = Normalize.nullCol(name)
    val pktCols: Seq[Column] = PacketSchema.packetColumns.map {
      case "date" => col("arrival_ts").as("date")
      case "topic" => col("topic")
      case "data_collector_id" => col("data_collector_id")
      case "organization_id" => col("organization_id")
      case "gateway" => pj(x("mac"),
        lower(hex(unbase64(mp("rxInfo")("gatewayID"))))).as("gateway")
      case "tmst" => pj(x("timestamp"), nul("tmst")).as("tmst")
      case "chan" => pj(mj("rxInfo")("channel"), mp("rxInfo")("channel")).as("chan")
      case "rfch" => pj(mj("rxInfo")("rfChain"), mp("rxInfo")("rfChain")).as("rfch")
      case "freq" => pj(x("frequency") / 1e6,
        mp("txInfo")("frequency") / 1e6).as("freq")
      case "stat" => pj(mj("rxInfo")("crcStatus"),
        Normalize.crcStatusInt(mp("rxInfo")("crcStatus"))).as("stat")
      case "modu" => pj(x("dataRate")("modulation"), nul("modu")).as("modu")
      case "datr" => pj(
        to_json(struct(
          x("dataRate")("spreadFactor").as("spread_factor"),
          x("dataRate")("bandwidth").as("bandwidth"))),
        to_json(struct(
          lmi("spreadingFactor").as("spread_factor"),
          lmi("bandwidth").as("bandwidth")))).as("datr")
      case "codr" => pj(mj("rxInfo")("codeRate"), lmi("codeRate")).as("codr")
      case "lsnr" => pj(mj("rxInfo")("loRaSNR"), mp("rxInfo")("loRaSNR")).as("lsnr")
      case "rssi" => pj(mj("rxInfo")("rssi"), mp("rxInfo")("rssi")).as("rssi")
      case "size" => pj(mj("rxInfo")("size"), mp("rxInfo")("size")).as("size")
      case "data" => pay.as("data")
      case "dev_eui" => phy("dev_eui").as("dev_eui")
      case f if phyFields.contains(f) => phy(f).as(f)
      case other => nul(other).as(other) // lat/lon/alt, app/dev_name
    }
    // get(…, 0), not (0): ANSI throws on [0] of an EMPTY array, killing
    // the whole query on one malformed message — and rows with a
    // malformed rxInfo are exactly the perr_app route, whose crash
    // semantics (prev lost on pair-hit, buffer rides) chirpStep models
    // in state; the VALUE expressions here must stay null-safe for them.
    val appLoc = get(ma("rxInfo"), lit(0))("location")
    // app fields also populate for the tagged crash routes so the
    // fused and union forms stay column-identical (chirpStep never
    // reads them on the crash paths)
    val isApp = route.isin("app", "perr_app", "perr_app_eat")
    b.select(
      col("seq"),
      col("data_collector_id").as("collectorId"),
      route.as("route"),
      col("topic"),
      col("message"),
      when(route === "radio", phy("dev_addr"))
        .when(route === "join", get_json_object(col("message"), "$.devAddr"))
        .as("devAddr"),
      when(route === "radio", phy("f_count"))
        .when(isApp, ma("fCnt")).as("fCount"),
      when(route === "join", get_json_object(col("message"), "$.devEUI"))
        .when(isApp, ma("devEUI")).as("devEui"),
      when(isApp, ma("applicationName")).as("appName"),
      when(isApp, ma("deviceName")).as("devName"),
      when(isApp, appLoc("latitude")).cast("double").as("latitude"),
      when(isApp, appLoc("longitude")).cast("double").as("longitude"),
      when(isApp, appLoc("altitude")).cast("double").as("altitude"),
      when(isApp, get(ma("rxInfo"), lit(0))("name")).as("gwName"),
      when(route === "radio", struct(pktCols: _*))
        .otherwise(lit(null).cast(PacketSchema.packet)).as("packet"),
      col("arrival_ts").cast("long").as("arrivalTs")).as[Rec]
  }

  /** The original branch-per-route form of [[toChirpRecs]] — kept as the
    * readable reference implementation and the equivalence oracle for the
    * fused single-pass version (StateOpsSpec). */
  private[graft] def toChirpRecsUnion(df: DataFrame)(implicit s: SparkSession): Dataset[Rec] = {
    import s.implicits._
    val routed = df.withColumn("route", Normalize.chirpstackRoute(col("topic")))

    val radio = routed.filter(col("route") === "radio")
      // F0h raw-protobuf leg, branch form: a non-JSON message on a
      // gateway/.../up topic is tried as a base64 gw.UplinkFrame
      // (LoraServerIOCollector.py:254-261), same as the fused path
      .withColumn("proto_json",
        when(col("topic").rlike("^gateway/.*up$") &&
            !ltrim(col("message")).startsWith("{"),
          graft.functions.PhyFunctions.proto_uplink_json(col("message"))))
    // decode-failure leg, branch form: a radio message that is neither
    // JSON (get_json_object(_, '$') null ⇔ json.loads fails) nor a
    // decodable protobuf frame becomes a raw-route message-only row —
    // the reference's except path (LoraServerIOCollector.py:243-280)
    val radioUndecodable = radio.filter(col("proto_json").isNull &&
      get_json_object(col("message"), "$").isNull &&
      trim(col("message")) =!= "null") // JSON null: json.loads-valid → crash path
    val radioTxt = radio.filter(col("proto_json").isNull &&
        (get_json_object(col("message"), "$").isNotNull ||
          trim(col("message")) === "null"))
      .withColumn("dialect",
        when(get_json_object(col("message"), "$.rxInfo.gatewayID").isNotNull ||
          get_json_object(col("message"), "$.txInfo.loRaModulationInfo").isNotNull, "proto")
          .otherwise("json"))
    val radioJson = radioRecs(
      Normalize.chirpstackJsonRadio(radioTxt.filter(col("dialect") === "json")),
      lit(null).cast("string"))
    // decoded raw frames run the SAME proto normalizer over the decoded
    // JSON, then the ORIGINAL base64 message is restored for the
    // envelope log (joined back on the per-collector-unique seq)
    val radioRaw = radio.filter(col("proto_json").isNotNull)
    val radioProtoRaw = Normalize
      .chirpstackProtoRadio(radioRaw.withColumn("message", col("proto_json")))
      .drop("raw_message")
      .join(radioRaw.select(col("seq"), col("data_collector_id"),
        col("message").as("raw_message")), Seq("seq", "data_collector_id"))
    val radioProto = radioRecs(
      Normalize.chirpstackProtoRadio(radioTxt.filter(col("dialect") === "proto"))
        .unionByName(radioProtoRaw),
      lit(null).cast("string"))

    // app/join topics with non-JSON text take the same first-except raw
    // path as radio (:243-280); the JSON literal `null` is json.loads-
    // VALID and crashes in the assembly block instead (fused jsonNullLit)
    val isJsonNull = trim(col("message")) === "null"
    val appJoinUndecodable = routed
      .filter(col("route").isin("app", "join") &&
        get_json_object(col("message"), "$").isNull && !isJsonNull)
      .drop("route")

    // join crash split (branch form of the fused joinCrash probe)
    val joinRows = routed.filter(col("route") === "join" &&
      (get_json_object(col("message"), "$").isNotNull || isJsonNull))
    val jKeys = json_object_keys(col("message"))
    val jCrash = get_json_object(col("message"), "$.devAddr").isNull &&
      (jKeys.isNull || !array_contains(jKeys, "devAddr"))
    // crash rows drop here like the radio normalizers drop theirs (the
    // fused form tags them "perr"; both are inert downstream)
    val joins = emptyRec(joinRows.filter(!jCrash).drop("route"), "join")
      .drop("devAddr", "devEui")
      .withColumn("devAddr", get_json_object(col("message"), "$.devAddr"))
      .withColumn("devEui", get_json_object(col("message"), "$.devEUI"))

    val appM = from_json(col("message"), PacketSchema.chirpstackApp)
    val appRx = appM("rxInfo")
    val appEmptyU = appM.isNull ||
      (appM("fCnt").isNull && appM("devEUI").isNull &&
        appM("applicationName").isNull && appM("deviceName").isNull &&
        appRx.isNull)
    val appElem0 = get(appRx, lit(0))
    val appLocText = get_json_object(col("message"), "$.rxInfo[0].location")
    val appLocNum = appLocText.rlike(
      "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
    val appLocTruthy = length(appLocText) > 0 && appLocText =!= "false" &&
      trim(appLocText) =!= "[]" &&
      (!appLocNum || appLocText.cast("double") =!= 0.0)
    val appCrashU =
      ((appRx.isNull || appElem0.isNull) &&
        array_contains(json_object_keys(col("message")), "rxInfo")) ||
        (appElem0.isNotNull && appElem0("location").isNull && appLocTruthy)
    val apps = routed.filter(col("route") === "app" &&
      (get_json_object(col("message"), "$").isNotNull || isJsonNull)).select(
      col("seq"),
      col("data_collector_id").as("collectorId"),
      when(appEmptyU && json_object_keys(col("message")).isNull, "perr_app_eat")
        .when(appCrashU, "perr_app")
        .otherwise("app").as("route"),
      col("topic"),
      col("message"),
      lit(null).cast("string").as("devAddr"),
      appM("fCnt").as("fCount"),
      appM("devEUI").as("devEui"),
      appM("applicationName").as("appName"),
      appM("deviceName").as("devName"),
      get(appM("rxInfo"), lit(0))("location")("latitude").as("latitude"),
      get(appM("rxInfo"), lit(0))("location")("longitude").as("longitude"),
      get(appM("rxInfo"), lit(0))("location")("altitude").as("altitude"),
      get(appM("rxInfo"), lit(0))("name").as("gwName"),
      lit(null).cast(PacketSchema.packet).as("packet"),
      col("arrival_ts").cast("long").as("arrivalTs"))

    val raws = emptyRec(routed.filter(col("route") === "raw"), "raw")
      .unionByName(emptyRec(radioUndecodable.drop("route", "proto_json"), "raw"))
      .unionByName(emptyRec(appJoinUndecodable, "raw"))

    radioJson.unionByName(radioProto).unionByName(joins).unionByName(apps)
      .unionByName(raws).as[Rec]
  }

  /** TTN v2/v3: normalize → Dataset[Rec]
    * (routes radio|location|raw|perr|perr_buf). */
  def toTtnRecs(df: DataFrame, v3: Boolean)(implicit s: SparkSession): Dataset[Rec] = {
    import s.implicits._
    val norm = if (v3) Normalize.ttnV3(df) else Normalize.ttnV2(df)
    // v2 has no gateway name; radioRecs reads the gwName EXPRESSION, so
    // no placeholder column is projected onto the v2 frame
    val gwName = if (v3) col("gw_name") else lit(null).cast("string")
    // location + raw rows share the radio column layout here (the packet
    // struct is ignored downstream for non-radio routes)
    radioRecs(norm, gwName).as[Rec]
  }

  // ------------------------------------------------------- state hookups

  /** Batch/streaming: ChirpStack state machine over Recs (F1+F2+F3). */
  def chirpEnvelopes(recs: Dataset[Rec])(implicit s: SparkSession): Dataset[Envelope] = {
    import s.implicits._
    recs.groupByKey(_.collectorId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        StateOps.chirpFlatMap)
  }

  /** Generic-MQTT: normalize → Dataset[Rec] (routes radio|perr_buf). */
  def toGenericRecs(df: DataFrame)(implicit s: SparkSession): Dataset[Rec] = {
    import s.implicits._
    radioRecs(Normalize.genericMqtt(df), lit(null).cast("string")).as[Rec]
  }

  /** Batch/streaming: generic-MQTT per-message envelopes. The reference's
    * generic collector keeps no enrichment state — only the message
    * buffer that a post-append failure leaves un-reset
    * (GenericMqttCollector.py:111-117 append; :122-125 early return and
    * :175-177 except, neither resets) — so the F4 host serves unchanged:
    * no location rows arise on this source, radio rows save per-message,
    * and perr_buf rows ride into the next saved envelope. */
  def genericEnvelopes(recs: Dataset[Rec])(implicit s: SparkSession): Dataset[Envelope] =
    ttnEnvelopes(recs)

  /** Batch/streaming: TTN location take-once (F4). */
  def ttnEnvelopes(recs: Dataset[Rec])(implicit s: SparkSession): Dataset[Envelope] = {
    import s.implicits._
    recs.groupByKey(_.collectorId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        StateOps.locationFlatMap)
  }

  /** Batch fast path: ChirpStack raw messages → enveloped frame in ONE
    * state shuffle with a zero-deserialization fold
    * ([[graft.state.ChirpFoldInternal]]). Equivalent to
    * `envelopeFrame(chirpEnvelopes(toChirpRecs(raw)))` (pinned by
    * StateOpsSpec) but ~10× cheaper per message: the typed path decodes
    * each row into Option-boxed case classes, this one folds UnsafeRows.
    * Scale note: parallelism = number of collectors (the state is
    * per-collector ordered, exactly the reference's per-collector thread);
    * normalization before the fold is codegen'd map-side work. */
  def chirpEnvelopeFrameBatch(raw: DataFrame)(implicit s: SparkSession): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val recs = toChirpRecs(raw).toDF()
    graft.state.ChirpFoldInternal.requireInputSchema(recs.schema)
    val sorted = recs.repartition(col("collectorId"))
      .sortWithinPartitions(col("collectorId"), col("seq"))
    val folded = GraftColumnBridge.toInternalRdd(sorted)
      .mapPartitions(graft.state.ChirpFoldInternal.fold, preservesPartitioning = true)
    GraftColumnBridge.internalCreateDataFrame(s, folded,
      graft.state.ChirpFoldInternal.outputSchema)
  }

  // ---------------------------------------------------------- K1/K4 shape

  /** Envelope dataset → the sink DataFrame {ts, packet struct,
    * messages array} (FIXTURES.md §3a), packet enriched with the state
    * ops' outputs. */
  def envelopeFrame(envs: Dataset[Envelope]): DataFrame = {
    val p = col("packet")
    val pkt = p("packet") // the typed Pkt struct, no deserialization needed
    val enriched = pkt
      .withField("dev_eui", coalesce(p("devEui"), pkt("dev_eui")))
      .withField("app_name", coalesce(p("appName"), pkt("app_name")))
      .withField("dev_name", coalesce(p("devName"), pkt("dev_name")))
      .withField("latitude", coalesce(p("latitude"), pkt("latitude")))
      .withField("longitude", coalesce(p("longitude"), pkt("longitude")))
      .withField("altitude", coalesce(p("altitude"), pkt("altitude")))
    envs.toDF().select(
      col("ts"),
      col("collectorId").as("data_collector_id"),
      when(p.isNotNull, enriched).as("packet"),
      transform(col("messages"), m => struct(
        m("topic").as("topic"),
        m("message").as("message"),
        m("dataCollectorId").as("data_collector_id"))).as("messages"))
  }

  /** K1/K4 streaming sink: Spark's parquet file sink, partitioned by
    * collector (the dev stand-in for the RabbitMQ durable queue).
    *
    * Exactly-once across restarts: the sink records each committed
    * batch's files in `outDir/_spark_metadata`, and a batch the engine
    * re-runs after a crash (written, but not yet in the checkpoint's
    * commit log) is skipped because the log already holds it. Readers
    * must read the sink ROOT (`spark.read.parquet(outDir)`), which
    * follows that log; a partition subdirectory or a glob bypasses it
    * and can see the files of an uncommitted or aborted batch. A wire
    * sink without such a log dedups at the consumer with
    * [[Events.idempotencyKey]] ([[WireClients.startJdbcSink]]). */
  def startEnvelopeSink(envs: DataFrame, outDir: String, checkpoint: String,
                        trigger: Trigger = Trigger.ProcessingTime("1 second")) =
    envs.writeStream
      .format("parquet")
      .partitionBy("data_collector_id")
      .option("path", outDir)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
