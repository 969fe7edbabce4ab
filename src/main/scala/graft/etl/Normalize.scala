package graft.etl

import graft.functions.PhyFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Per-source normalization pipelines (SURVEY §2.3 P1-P18, §2.4 F0) —
  * declarative column programs; all JSON decoding via `from_json`, all PHY
  * decoding via the pure-Scala codec UDF. Stateful enrichment (device map,
  * pairing, location, verification) is NOT here — it lives in graft.state
  * and runs after normalization, exactly like the reference's in-memory
  * dicts run after per-message parsing.
  *
  * Input contract: a DataFrame of raw messages with columns
  *   topic: String (null for TTN), message: String,
  *   data_collector_id: Long, organization_id: Long,
  *   gw: String (per-collector config, TTN v2),
  *   arrival_ts: Timestamp (event arrival; used for `date` so tests are
  *   deterministic — the reference stamps datetime.now() at process time,
  *   P15).
  * Output: the full packet schema of [[PacketSchema.packet]] plus
  * `route` ∈ {radio, app, join, raw, perr, perr_buf, location} for
  * downstream state ops. "perr" = a crash the reference hits BEFORE its
  * message append (parsing error only, nothing persisted — inert
  * downstream); "perr_buf" = a crash AFTER the append (TTN paths): the
  * parsing error is recorded and the buffered message rides into the
  * next envelope (StateOps.locationStep). For ChirpStack the per-dialect
  * normalizers drop crash rows; the fused path tags them "perr".
  */
object Normalize {

  import PacketSchema._

  /** Null literal typed from the packet schema. */
  private def nullCol(name: String): Column = {
    val f = packet.fields(packet.fieldIndex(name))
    lit(null).cast(f.dataType).as(name)
  }

  /** The packet fields every dialect copies from the flat phy_decode
    * struct (dev_eui aside: its source varies by dialect). */
  private val phyFields = Seq("m_type", "major", "mic", "join_eui",
    "dev_nonce", "dev_addr", "adr", "ack", "adr_ack_req", "f_pending",
    "class_b", "f_count", "f_opts", "f_port", "error")

  /** Splice the flat phy_decode struct into packet columns. `mType`
    * overrides the first column (the P7 generic-MQTT JoinAccept topic
    * rule) so dialects never re-inline this list. */
  private def phyCols(phy: Column, mType: Option[Column] = None): Seq[Column] =
    phyFields.map {
      case "m_type" => mType.getOrElse(phy("m_type")).as("m_type")
      case f => phy(f).as(f)
    }

  // ------------------------------------------------------------ ChirpStack
  //
  // Each ChirpStack rule is defined once here and read by both the fused
  // normalizer (Pipeline.toChirpRecs) and its branch-per-route oracle
  // (Pipeline.toChirpRecsUnion). A rule takes the probe values it needs
  // (the devAddr, location and key probes) as arguments, so the fused
  // form passes its gated named columns where the oracle passes the probe
  // expressions themselves.

  /** F0e topic router (LoraServerIOCollector.py:287,307-309,403-409,450). */
  def chirpstackRoute(topic: Column): Column =
    when(topic.endsWith("/join"), "join")
      .when(topic.rlike("^gateway/.*") &&
        (topic.endsWith("rx") || topic.endsWith("tx") || topic.endsWith("up")), "radio")
      .when(topic.rlike("application/.*?/(device|node)/(.*)/rx"), "app")
      .otherwise("raw")

  /** P10 CRC enum → int (LoraServerIOCollector.py:523-531). */
  def crcStatusInt(c: Column): Column =
    when(c === "CRC_OK", 1).when(c === "BAD_CRC", -1).when(c === "NO_CRC", 0)
      .otherwise(lit(null).cast("int"))

  /** F0h raw-protobuf leg (LoraServerIOCollector.py:254-261): a message
    * that is not JSON text on a gateway/.../up topic is tried as a base64
    * gw.UplinkFrame; success yields its MessageToJson text, fed to the
    * SAME proto-dialect normalization (null otherwise). MessageToJson
    * output always starts with '{', base64 never does — a cheap exact
    * discriminator. */
  def chirpstackProtoJson(topic: Column, msg: Column): Column =
    when(topic.rlike("^gateway/.*up$") && !ltrim(msg).startsWith("{"),
      PhyFunctions.proto_uplink_json(msg))

  /** F0h dialect sniff (LoraServerIOCollector.py:238-280): JSON text is
    * protobuf-dialect iff one of the two proto-only nested paths exists
    * — streaming path probes, no full parse. */
  def chirpstackProtoShape(msg: Column): Column =
    get_json_object(msg, "$.rxInfo.gatewayID").isNotNull ||
      get_json_object(msg, "$.txInfo.loRaModulationInfo").isNotNull

  /** json.loads failure on a parsed route (radio after the F0h proto
    * retry, app, join) lands in the FIRST except (:243-280): flush +
    * message-only envelope → route raw. `get_json_object(_, '$')` is null
    * iff the text is not JSON — the columnar json.loads test (from_json
    * CANNOT express it: PERMISSIVE mode renders malformed input as a
    * struct of nulls, indistinguishable from a valid metadata-only
    * message). The JSON literal `null` is NOT a failure: json.loads
    * accepts it and the assembly block then crashes on None (every crash
    * rule below fires for it), though the probe returns SQL NULL for it.
    * (On /up topics the reference additionally swallows the message after
    * the failed protobuf retry — this side still persists it as the
    * raw-log row: strictly more information, same flush semantics.) */
  def chirpstackNotJson(msg: Column): Column =
    get_json_object(msg, "$").isNull && trim(msg) =!= "null"

  /** F0c size guard (:311-315): only an OVERSIZED payload drops. The :314
    * length check returns before the x_info blocks run, so it wins over
    * every crash rule; a payload-less message can still yield a packet. */
  def chirpstackOversized(pay: Column): Column = pay.isNotNull && length(pay) > 300

  /** The key probe: `json_object_keys` models Python `'k' in dict` exactly
    * (a JSON-null value still lists its key); null for a non-object root.
    * The rules read it only on their [[KeyedCrash.probeGate]] rows. */
  def chirpstackKeys(msg: Column): Column = json_object_keys(msg)

  /** The F3 join message's devAddr probe (:287-290). */
  def chirpstackJoinDevAddr(msg: Column): Column = get_json_object(msg, "$.devAddr")

  /** The app message's first-rxInfo location probe, read by
    * [[chirpstackAppCrash]] on the [[chirpstackLocGate]] rows only. */
  def chirpstackLocText(msg: Column): Column =
    get_json_object(msg, "$.rxInfo[0].location")

  /** A crash rule whose verdict may need [[chirpstackKeys]]: `plain` is
    * decided without it, and `keyed(keys)` is read only where `needsKeys`
    * holds — so the probe is needed exactly on the [[probeGate]] rows. */
  private[graft] final case class KeyedCrash(plain: Column, needsKeys: Column,
                                             keyed: Column => Column) {
    def probeGate: Column = !plain && needsKeys
    def apply(keys: Column): Column = plain || (needsKeys && keyed(keys))
  }

  /** A PRESENT rxInfo/txInfo key whose parsed slot is null (the value is
    * not an object, or JSON null). */
  private def nullSlotKeyed(m: Column)(keys: Column): Column =
    (m("rxInfo").isNull && array_contains(keys, "rxInfo")) ||
      (m("txInfo").isNull && array_contains(keys, "txInfo"))

  /** The reference's second-try crash surface on a radio topic, JSON
    * dialect: a message that json.loads fine but whose STRUCTURE makes the
    * packet-assembly block raise into the outer `except`
    * (LoraServerIOCollector.py:496-500) — the reference then records ONLY
    * a parsing error: no packet, no message persisted, and no prev_packet
    * flush (the raise lands before :370-376). That is route "perr", inert
    * in chirpStep, unlike "raw" ([[chirpstackNotJson]]). Crash classes:
    *  - root not a JSON object → TypeError at `'phyPayload' in` (:311)
    *    or NameError/AttributeError at `x_info` (:341,353);
    *  - neither rxInfo nor txInfo key → NameError `x_info` (:353);
    *  - a PRESENT rxInfo/txInfo that is not an object (incl. JSON null)
    *    → AttributeError on `x_info.get` (:341-348,353);
    *  - the winning x_info (txInfo if present else rxInfo, :350-351)
    *    without an object-valued dataRate → AttributeError
    *    `data_rate.get('modulation')` (:357-358).
    * Every class is decided from the parsed struct `m` (a crashing shape
    * parses its slot to null; a non-null tx slot ⇔ txInfo present and
    * object-valued, so struct coalesce == the reference's assignment
    * order, and both slots null already leave no dataRate); the key
    * probe only splits key-absent (no crash by itself) from
    * key-present-with-bad-value (crash) for ONE null slot.
    * Accepted residuals (documented, not probed — Catalyst's PERMISSIVE
    * coercion erases value typing): a string-typed `frequency` (TypeError
    * at :354) and mistyped scalar leaves inside an otherwise-object
    * x_info, which Python would copy through uncrashed but PERMISSIVE
    * partial-result parsing may null out. */
  private[graft] def chirpstackJsonCrash(m: Column): KeyedCrash = {
    val rx = m("rxInfo"); val tx = m("txInfo")
    KeyedCrash(coalesce(tx, rx)("dataRate").isNull, rx.isNull || tx.isNull,
      nullSlotKeyed(m))
  }

  /** Same crash surface, protobuf dialect (the `is_protobuf_message`
    * branch, LoraServerIOCollector.py:321-338):
    *  - rxInfo present without gatewayID → TypeError at
    *    `base64.b64decode(None)` (:324); a non-object rxInfo also lands
    *    here;
    *  - txInfo present without an object loRaModulationInfo (e.g. an FSK
    *    uplink frame) → AttributeError at `lora_modulation_info.get`
    *    (:335-338).
    * The root is always an object on this path (MessageToJson output, or
    * text that already passed the nested proto-shape sniff); a message
    * with NEITHER side present does not crash — the proto branch never
    * touches `x_info` outside the two `in` guards.
    *
    * Residual (documented): a PRESENT gatewayID whose text is not valid
    * base64 raises binascii.Error inside `base64.b64decode` (:324) in the
    * reference — parsing error, no packet — while this side's lenient
    * unbase64 keeps the packet with a mangled gateway id. Unreachable for
    * real input: this branch only ever sees MessageToJson output, and
    * protobuf-JSON serializes `bytes` fields as valid base64 by
    * construction. */
  private[graft] def chirpstackProtoCrash(m: Column): KeyedCrash = {
    val rx = m("rxInfo"); val tx = m("txInfo")
    KeyedCrash(
      (rx.isNotNull && rx("gatewayID").isNull) ||
        (tx.isNotNull && tx("loRaModulationInfo").isNull),
      rx.isNull || tx.isNull, nullSlotKeyed(m))
  }

  /** Join crash surface (:287-290): a valid-JSON join whose root is not an
    * object (`.get('devEUI')` AttributeError) or lacks the devAddr KEY
    * (`mqtt_messsage['devAddr']` KeyError) raises into the outer except
    * (:496-500) BEFORE the message append — parsing error only, nothing
    * persisted, prev untouched → perr. A JSON-null devAddr is NOT a crash
    * (None is a hashable dict key; a non-scalar devAddr would be, but is
    * an accepted residual). `devAddr` is the [[chirpstackJoinDevAddr]]
    * probe; the key probe runs only where it came back null. */
  private[graft] def chirpstackJoinCrash(devAddr: Column): KeyedCrash =
    KeyedCrash(lit(false), devAddr.isNull,
      keys => keys.isNull || !array_contains(keys, "devAddr"))

  /** App crash surface (:412-427), first half. The raise is
    * STATE-dependent (only a pair-hit reaches the crashing line), so rows
    * are only TAGGED and chirpStep decides. perr_app_eat: valid JSON whose
    * root is not an object — `.get('fCnt')` raises before the f_count
    * compare (:416), after prev was consumed (:412-413). PERMISSIVE
    * from_json gives a NON-null all-null-fields struct for a scalar/array
    * root, so struct nullness alone cannot spot a non-object: the key
    * probe, read only when every field is null, is the exact test. */
  private[graft] def chirpstackAppEat(ma: Column): KeyedCrash =
    KeyedCrash(lit(false),
      ma.isNull || (ma("fCnt").isNull && ma("devEUI").isNull &&
        ma("applicationName").isNull && ma("deviceName").isNull &&
        ma("rxInfo").isNull),
      _.isNull)

  /** The app message's first rxInfo element. get(…, 0), not (0): ANSI
    * throws on [0] of an EMPTY array, killing the whole query on one
    * malformed message — and exactly the perr_app rows carry one. */
  private def rxInfo0(ma: Column): Column = get(ma("rxInfo"), lit(0))

  /** The rows on which [[chirpstackAppCrash]] reads the location probe:
    * a first rxInfo element whose location slot parsed null. */
  def chirpstackLocGate(ma: Column): Column =
    rxInfo0(ma).isNotNull && rxInfo0(ma)("location").isNull

  /** App crash surface, second half — perr_app: 'rxInfo' key present but
    * null / not an array / empty / with a non-struct first element
    * (`rxInfo[0].get` raises on the pair-hit path only, :419-427), or a
    * truthy non-object location (:421-424): `if location:` runs
    * location.get('latitude'), so a TRUTHY non-object location (non-zero
    * number, non-empty string/array, true) raises, while Python-falsy
    * values (absent, null, false, 0, "", [], {}) skip the block. The
    * parsed slot is null for every non-object, so the RAW text `locText`
    * ([[chirpstackLocText]]) decides truthiness (an object location parses
    * non-null and never reaches it). Residual: the string "false"
    * (truthy in Python, unquoted by get_json_object here). */
  private[graft] def chirpstackAppCrash(ma: Column, locText: Column): KeyedCrash = {
    val locNum = locText.rlike(
      "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
    val locTruthy = length(locText) > 0 && locText =!= "false" &&
      trim(locText) =!= "[]" &&
      (!locNum || locText.cast("double") =!= 0.0)
    KeyedCrash(chirpstackLocGate(ma) && locTruthy, rxInfo0(ma).isNull,
      array_contains(_, "rxInfo"))
  }

  /** Application uplink fields the state machine reads (F1/F2,
    * :403-446), by Rec field name. They populate for the tagged crash
    * routes too (chirpStep never reads them there). */
  private[graft] def chirpstackAppFields(ma: Column): Map[String, Column] = {
    val loc = rxInfo0(ma)("location")
    Map("fCount" -> ma("fCnt"), "devEui" -> ma("devEUI"),
      "appName" -> ma("applicationName"), "devName" -> ma("deviceName"),
      "latitude" -> loc("latitude"), "longitude" -> loc("longitude"),
      "altitude" -> loc("altitude"))
  }

  /** F3 join fields (:287-304), by Rec field name; `devAddr` is the
    * [[chirpstackJoinDevAddr]] probe. */
  private[graft] def chirpstackJoinFields(devAddr: Column, msg: Column): Map[String, Column] =
    Map("devAddr" -> devAddr, "devEui" -> get_json_object(msg, "$.devEUI"))

  private def datrJson(spreadFactor: Column, bandwidth: Column): Column =
    to_json(struct(spreadFactor.as("spread_factor"), bandwidth.as("bandwidth")))

  /** Radio metadata, JSON dialect (P8 + P3 + P15;
    * LoraServerIOCollector.py:339-366), by packet field. Reference quirk
    * preserved: tmst/freq/gateway/modu/datr come from txInfo when present,
    * else rxInfo (the `x_info` variable is simply the last one assigned,
    * :354-360); chan/rfch/stat/codr/rssi/lsnr/size come only from rxInfo. */
  private def chirpstackJsonMeta(m: Column): Map[String, Column] = {
    val rx = m("rxInfo"); val x = coalesce(m("txInfo"), rx)
    Map("gateway" -> x("mac"), "tmst" -> x("timestamp"),
      "chan" -> rx("channel"), "rfch" -> rx("rfChain"),
      "freq" -> x("frequency") / 1e6, "stat" -> rx("crcStatus"),
      "modu" -> x("dataRate")("modulation"),
      "datr" -> datrJson(x("dataRate")("spreadFactor"), x("dataRate")("bandwidth")),
      "codr" -> rx("codeRate"), "lsnr" -> rx("loRaSNR"), "rssi" -> rx("rssi"),
      "size" -> rx("size"))
  }

  /** Radio metadata, protobuf dialect after MessageToJson (P9 + P10;
    * LoraServerIOCollector.py:321-338), by packet field: gatewayID
    * arrives base64 → lowercase hex; no tmst, no modu. */
  private def chirpstackProtoMeta(m: Column): Map[String, Column] = {
    val rx = m("rxInfo"); val tx = m("txInfo"); val lmi = tx("loRaModulationInfo")
    Map("gateway" -> lower(hex(unbase64(rx("gatewayID")))),
      "chan" -> rx("channel"), "rfch" -> rx("rfChain"),
      "freq" -> tx("frequency") / 1e6, "stat" -> crcStatusInt(rx("crcStatus")),
      "datr" -> datrJson(lmi("spreadingFactor"), lmi("bandwidth")),
      "codr" -> lmi("codeRate"), "lsnr" -> rx("loRaSNR"), "rssi" -> rx("rssi"),
      "size" -> rx("size"))
  }

  /** Radio metadata of a row of either dialect, as the fused normalizer
    * parses it (each row with its own dialect's schema only): `isProto`
    * picks the protobuf-dialect struct `mp` over the JSON-dialect `mj`. */
  private[graft] def chirpstackEitherMeta(isProto: Column, mj: Column,
                                          mp: Column): String => Option[Column] = {
    val j = chirpstackJsonMeta(mj); val p = chirpstackProtoMeta(mp)
    f => if (!j.contains(f) && !p.contains(f)) None
      else Some(when(isProto, p.getOrElse(f, nullCol(f))).otherwise(j.getOrElse(f, nullCol(f))))
  }

  /** A gateway-radio row's packet columns in [[PacketSchema.packet]]
    * order: radio metadata from `meta` (a field it lacks is a typed
    * null), `pay` the base64 PHYPayload, `phy` its decode. The PHY-parsed
    * dev_eui is kept: JoinRequests carry it (PhyParser.py:24 — the only
    * m_type that sets it) and have no dev_addr, so the F1 map path
    * (:380-387) is skipped and the reference saves the packet as-is
    * (:478-491); data frames parse it null and stateful F1 fills it. */
  private[graft] def chirpstackRadioPacket(meta: String => Option[Column],
                                           pay: Column, phy: Column): Seq[Column] =
    packetColumns.map {
      case "date" => col("arrival_ts").as("date")
      case c @ ("topic" | "data_collector_id" | "organization_id") => col(c)
      case "data" => pay.as("data")
      case f if f == "dev_eui" || phyFields.contains(f) => phy(f).as(f)
      case f => meta(f).fold(nullCol(f))(_.as(f))
    }

  /** One gateway-radio dialect as a branch normalizer (the oracle form):
    * oversized and struct-crash rows drop (the fused form routes them to
    * "drop" / "perr"; state ops ignore both). */
  private def chirpstackRadio(df: DataFrame, schema: StructType,
                              meta: Column => Map[String, Column],
                              crash: Column => KeyedCrash): DataFrame = {
    val m = from_json(col("message"), schema)
    val pay = m("phyPayload")
    df.filter(!chirpstackOversized(pay) && !crash(m)(chirpstackKeys(col("message"))))
      .select(chirpstackRadioPacket(meta(m).get, pay, PhyFunctions.phy_decode_b64(pay)) ++
        Seq(lit("radio").as("route"), col("seq"), col("message").as("raw_message")): _*)
  }

  /** ChirpStack gateway radio path, JSON dialect ([[chirpstackJsonMeta]]).
    * A message that fails JSON decode falls through with null parsed
    * fields — feed it to [[chirpstackProtoRadio]] or the raw route. */
  def chirpstackJsonRadio(df: DataFrame): DataFrame =
    chirpstackRadio(df, chirpstackGateway, chirpstackJsonMeta, chirpstackJsonCrash)

  /** ChirpStack gateway radio path, protobuf dialect
    * ([[chirpstackProtoMeta]]). */
  def chirpstackProtoRadio(df: DataFrame): DataFrame =
    chirpstackRadio(df, chirpstackProto, chirpstackProtoMeta, chirpstackProtoCrash)

  // --------------------------------------------------------- generic MQTT

  /** P5 datr parse: 'SF7BW125' → {"spread_factor":"7","bandwidth":"125"}
    * (GenericMqttCollector.py:197-205 — values are STRINGS there, unlike
    * ChirpStack's ints; preserved). A datr that does not match SF..BW..
    * yields "{}" exactly as parse_datr's empty dict does — regexp_extract
    * would stringify its no-match '' captures into
    * {"spread_factor":"","bandwidth":""}, a value the reference never
    * writes. datr NULL stays null in the VALUE (the reference CRASHES on
    * it — re.search(pat, None) TypeError — so such rows route to
    * perr_buf in [[genericMqtt]] and the value is never read; earlier
    * rounds kept the packet as a documented divergence, now modeled
    * faithfully). */
  def datrParse(datr: Column): Column =
    when(datr.rlike("SF(.*)BW(.*)"), to_json(struct(
      regexp_extract(datr, "SF(.*)BW(.*)", 1).as("spread_factor"),
      regexp_extract(datr, "SF(.*)BW(.*)", 2).as("bandwidth"))))
      .when(datr.isNotNull, lit("{}"))

  /** P6 dev_eui from topic: 'lora/(.*)/' capture, strip '-'
    * (GenericMqttCollector.py:188-195). */
  def devEuiFromTopic(topic: Column): Column = {
    val captured = regexp_extract(topic, "lora/(.*)/", 1)
    when(captured =!= "", regexp_replace(captured, "-", ""))
  }

  /** Generic packet-forwarder MQTT normalization (P2, P4-P7, P15;
    * GenericMqttCollector.py:105-177).
    *
    * Every message is appended to the buffer FIRST (:111-117), so every
    * failure here is post-append: the buffer is not reset and the
    * message rides into the NEXT saved envelope — route=perr_buf
    * (StateOps.locationStep hosts the buffering; see
    * Pipeline.genericEnvelopes). Classes, against the reference:
    *  - EMPTY payload (len == 0) is NOT a failure — the JSON block is
    *    skipped and a metadata-only packet (topic/date/dev_eui/ids, all
    *    radio fields absent) is saved WITH the message (:119,155-170) —
    *    route=radio;
    *  - JSON that fails json.loads / a non-dict root → crash at :120 or
    *    `'data' not in` (:122) → perr_buf;
    *  - JSON without a 'data' key (or data: null) early-returns (:122-125)
    *    or crashes at the pad concat — no packet either way → perr_buf;
    *  - a datr that is not a JSON STRING (missing, null, number — e.g.
    *    packet-forwarder FSK uplinks —, object) → re.search TypeError in
    *    parse_datr (:140) → perr_buf (a present non-matching STRING datr
    *    is fine: "{}", P5).
    * Residual (documented): a non-string `data` value, which Python
    * crashes on (`+=` TypeError) but PERMISSIVE coercion stringifies. */
  def genericMqtt(df: DataFrame): DataFrame = {
    val m = from_json(col("message"), PacketSchema.genericMqtt)
    val phy = PhyFunctions.phy_decode_b64(m("data")) // P2 pad inside UDF
    // parse_datr runs re.search on the RAW value: only a STRING datr
    // survives — missing/null/number/object all raise TypeError (:140);
    // Semtech packet-forwarder FSK uplinks carry a NUMERIC datr (50000),
    // which the parsed StringType slot cannot tell from "50000", so the
    // raw-text quote probe decides. Residual: a '"datr":"' sequence
    // inside another string value (impossible for base64 payloads).
    val datrIsString = col("message").rlike("\"datr\"\\s*:\\s*\"")
    df.select(Seq(
        col("arrival_ts").as("date"),
        col("topic"),
        col("data_collector_id"), col("organization_id"),
        nullCol("gateway"),
        m("tmst").as("tmst"),
        m("chan").as("chan"),
        m("rfch").as("rfch"),
        m("freq").as("freq"),
        m("stat").as("stat"),
        m("modu").as("modu"),
        datrParse(m("datr")).as("datr"),
        m("codr").as("codr"),
        m("lsnr").as("lsnr"),
        m("rssi").as("rssi"),
        m("size").as("size"),
        m("data").as("data")) ++
        // P7: '/joined' topic forces JoinAccept
        phyCols(phy, mType = Some(
          when(col("topic").contains("/joined"), "JoinAccept")
            .otherwise(phy("m_type")))) ++ Seq(
        // UNCONDITIONAL topic-derived dev_eui (GenericMqttCollector.py:
        // 160 overwrites whatever the phy parse produced — None on a
        // non-matching topic, never the join-frame dev_eui; SURVEY §2 P6
        // states the same contract)
        devEuiFromTopic(col("topic")).as("dev_eui"),
        nullCol("latitude"), nullCol("longitude"), nullCol("altitude"),
        nullCol("app_name"), nullCol("dev_name"),
        // uplink extras (GenericMqttCollector.py:149-151): carried in the
        // queue envelope's packet dict but dropped by the DB model
        // (Service.py has no such columns) — extra columns here, not part
        // of the shared packet struct
        m("seqn").as("seqn"), m("opts").as("opts"), m("port").as("port"),
        when(length(col("message")) === 0, "radio")
          .when(m("data").isNull || !datrIsString, "perr_buf")
          .otherwise("radio").as("route"),
        col("seq"), col("message").as("raw_message")): _*)
  }

  // --------------------------------------------------------------- TTN v2

  /** F0g + P11: classify a TTN v2 websocket frame and strip the
    * fixed-offset envelope (TTNCollector.py:176-212). */
  def ttnV2Kind(raw: Column): Column =
    when(raw.contains("gateway downlink"), "downlink")
      .when(raw.contains("gateway uplink"), "uplink")
      .when(raw.contains("gateway join request"), "join_request")
      .when(raw.contains("gateway join accept"), "join_accept")
      .when(raw.contains("gateway status") && raw.contains("location"), "status")
      .otherwise("raw")

  private def stripOffsets(msg: Column, kind: Column): Column = {
    // built from the msg PARAMETER, not a hard-coded column name — a
    // caller-side rename must not silently resolve elsewhere
    def strip(n: Int) = msg.substr(lit(n + 1), length(msg) - lit(n + 2))
    when(kind === "downlink", strip(20))
      .when(kind === "uplink", strip(18))
      .when(kind === "join_request", strip(24))
      .when(kind === "join_accept", strip(23))
      .when(kind === "status", strip(18))
  }

  /** TTN v2 normalization (P11, P12, P14-config; TTNCollector.py:160-262).
    * Emits parse-kind rows as route=radio and status rows as
    * route=location (lat/lon/alt filled) for the F4 state op. */
  def ttnV2(df: DataFrame): DataFrame = {
    val base = df
      .filter(length(col("message")) > 1) // F0a keepalive filter
      .withColumn("message_unesc", regexp_replace(col("message"), "\\\\\"", "\""))
      // The server's [200,"disconnected"] control frame triggers a
      // reconnect (TTNCollector.py:169-174) — but execution FALLS
      // THROUGH (no early return): the frame is appended to
      // packet_writter_message (:214-221) and save() persists a
      // packet-less envelope carrying it. So it is NOT filtered here; it
      // routes through ttnV2Kind as kind=raw → a message-only row, the
      // same representation every other non-parse frame gets. (A
      // round-8 interim revision dropped it as transport-layer-only —
      // that misread the reference.)
      .withColumn("kind", ttnV2Kind(col("message_unesc")))
      .withColumn("payload_json", stripOffsets(col("message_unesc"), col("kind")))
    val m = from_json(col("payload_json"), PacketSchema.ttnV2)
    val phy = PhyFunctions.phy_decode_b64(m("payload"))
    base.select(Seq(
      col("arrival_ts").as("date"),
      lit(null).cast("string").as("topic"), // TTN messages carry no topic
      col("data_collector_id"), col("organization_id"),
      regexp_replace(col("gw"), "^eui-", "").as("gateway"),
      // P12: ISO timestamp → epoch millis. try_to_timestamp: a malformed
      // timestamp is a CRASH row (route perr_buf below), and the value
      // expression must not ANSI-throw while computing the other columns
      unix_millis(try_to_timestamp(m("timestamp"))).as("tmst"),
      nullCol("chan"), nullCol("rfch"),
      m("frequency").as("freq"),
      nullCol("stat"), nullCol("modu"), nullCol("datr"),
      m("coding_rate").as("codr"),
      m("snr").as("lsnr"),
      m("rssi").as("rssi"),
      nullCol("size"),
      m("payload").as("data")) ++
      phyCols(phy) ++ Seq(
      m("dev_eui").as("dev_eui"),
      m("status")("location")("latitude").as("latitude"),
      m("status")("location")("longitude").as("longitude"),
      m("status")("location")("altitude").as("altitude"),
      nullCol("app_name"), nullCol("dev_name"),
      // Route fidelity (TTNCollector.py:201-274):
      //  - status frames whose payload does NOT yield a location OBJECT
      //    crash INSIDE the inner try (:206-211 — json.loads failure or
      //    .get('status').get('location') AttributeError, caught before
      //    any assignment), leaving ws.location untouched; the frame then
      //    falls through to append+save → a message-only envelope, i.e.
      //    route=raw here, NOT a location row that would wholesale-
      //    replace pending coordinates with nulls;
      //  - a parse-kind frame (has_to_parse) whose payload json.loads
      //    fails / is not a dict (payload slot null), whose 'payload' is
      //    missing (setPHYPayload(None) → bytes(None) TypeError,
      //    LorawanWrapper.py:19), or whose 'timestamp' is missing or
      //    unparseable (dateutil.parser.parse(None) TypeError, :233)
      //    raises into the OUTER except (:272-274) AFTER the message
      //    append (:214-221): save_parsing_error only, no packet, and the
      //    buffered message rides into the NEXT envelope — route=perr_buf
      //    (StateOps.locationStep buffers it). Residual (documented):
      //    timestamp formats dateutil accepts but try_to_timestamp
      //    rejects, and vice versa.
      when(col("kind") === "status" && m("status")("location").isNotNull, "location")
        .when(col("kind") === "status", "raw")
        .when(col("kind") === "raw", "raw")
        .when(m("payload").isNull ||
          try_to_timestamp(m("timestamp")).isNull, "perr_buf")
        .otherwise("radio").as("route"),
      col("seq"),
      // P16: TTN v2 truncates the logged origin message to 4096 chars in
      // the envelope (TTNCollector.py:218); parsing above uses the full
      // frame — only the logged copy is capped
      substring(col("message"), 1, 4096).as("raw_message")): _*)
  }

  // --------------------------------------------------------------- TTN v3

  /** TTN v3 normalization (F0d, F0f, P13; TTNv3Collector.py:205-330). */
  def ttnV3(df: DataFrame): DataFrame = {
    val m = from_json(col("message"), PacketSchema.ttnV3)("result")
    val d = m("data")
    val phy = PhyFunctions.phy_decode_b64(d("raw_payload"))
    val name = m("name")
    // int()-faithful numeric probes for settings.frequency and
    // request.rx1_frequency (both uint64 → JSON STRING in proto-JSON,
    // but a raw number token also parses — StringType keeps its text).
    // Python semantics: int(str) accepts only an integral string
    // ("868500000.0"/"abc" raise → crash row), while int(number) never
    // raises (floats truncate toward zero). The parsed slot cannot tell
    // "50000" from 50000, so a raw-text quote probe splits the cases;
    // residual: a '"<key>":"' sequence inside an unrelated string value.
    // The double→long cast keeps the value ANSI-safe for both token
    // kinds and truncates toward zero exactly like int().
    def quotedTok(key: String) =
      col("message").rlike("\"" + key + "\"\\s*:\\s*\"")
    def intOk(slot: Column, key: String) =
      slot.isNotNull && (!quotedTok(key) || slot.rlike("^[+-]?[0-9]+$"))
    def intVal(slot: Column, key: String) =
      when(intOk(slot, key), slot.cast("double").cast("long"))
    val freqUp = d("settings")("frequency")
    val rx1 = d("request")("rx1_frequency")
    // F0d — null-safe: a malformed/name-less record has name = NULL, and
    // a bare =!= would evaluate NULL and silently DROP it; the reference
    // routes parse failures to save_parsing_error (TTNv3Collector.py:
    // 338-341) and processes name-less records (:211-219), so these rows
    // must fall through to the route expression's raw branch, not vanish
    df.filter(name.isNull || name =!= "events.stream.start")
      .select(Seq(
        col("arrival_ts").as("date"),
        lit(null).cast("string").as("topic"),
        col("data_collector_id"), col("organization_id"),
        // get(…, 0), not (0): ANSI mode throws on [0] of an EMPTY array,
        // which would kill the query on a frame the reference merely
        // crashes-and-logs (empty identifiers is even crash-FREE there —
        // [] is falsy at :310); same for rx_metadata/antenna_locations
        get(m("identifiers"), lit(0))("gateway_ids")("eui").as("gateway"),
        // P13: event time → epoch millis (reference stores float seconds;
        // we keep integral millis — same instant, wider precision).
        // try_to_timestamp: a malformed time is a crash row (perr_buf
        // below) and the value expression must not ANSI-throw
        unix_millis(try_to_timestamp(m("time"))).as("tmst"),
        nullCol("chan"), nullCol("rfch"),
        when(name === "gs.up.receive", intVal(freqUp, "frequency") / 1e6)
          .otherwise(intVal(rx1, "rx1_frequency") / 1e6).as("freq"),
        nullCol("stat"), nullCol("modu"), nullCol("datr"),
        when(name === "gs.up.receive", d("settings")("coding_rate")).as("codr"),
        get(d("rx_metadata"), lit(0))("snr").as("lsnr"),
        get(d("rx_metadata"), lit(0))("rssi").as("rssi"),
        nullCol("size"),
        d("raw_payload").as("data")) ++
        phyCols(phy) ++ Seq(
        // the PHY-parsed dev_eui is KEPT: TTNv3Collector.py:322-324 only
        // normalizes a MISSING dev_eui to None, it never clears a present
        // one — and v3 has no F1 device-map stage to fill it later, so
        // nulling it here lost the JoinRequest device EUI for good
        phy("dev_eui").as("dev_eui"),
        get(d("antenna_locations"), lit(0))("latitude").as("latitude"),
        get(d("antenna_locations"), lit(0))("longitude").as("longitude"),
        get(d("antenna_locations"), lit(0))("altitude").as("altitude"),
        nullCol("app_name"), nullCol("dev_name"),
        // Route fidelity (TTNv3Collector.py:205-341):
        //  - an unparseable SSE record (json.loads failure, missing or
        //    non-object 'result') raises at :210 BEFORE the message
        //    append (:242-249): save_parsing_error only — route=perr
        //    (inert downstream; nothing persisted, nothing buffered);
        //  - gs.status.receive with no 'data' object raises at :229
        //    (None.get AttributeError), also pre-append → perr;
        //  - location requires a NON-EMPTY antenna_locations: the
        //    reference gates on truthiness (:229 — an empty list is
        //    falsy and the frame is an ordinary raw message);
        //  - a parse-kind frame (gs.up.receive / gs.down.send) that
        //    raises INSIDE the has_to_parse block (:253-331) does so
        //    AFTER the append (:243-249): save_parsing_error only, and
        //    the buffered message rides into the NEXT envelope —
        //    route=perr_buf.
        //    Crash classes: 'data' missing/non-object (:255 None.get),
        //    raw_payload missing (setPHYPayload(None) → bytes(None)
        //    TypeError, LorawanWrapper.py:19), a non-empty 'time' that
        //    does not parse (:270 dateutil), settings present
        //    without an int()-able frequency (:277), request present
        //    without rx1_frequency (:287 int(None)), and a non-empty
        //    identifiers whose [0]['gateway_ids']['eui'] path is absent
        //    (:312 KeyError). Residuals (documented): non-dict
        //    elements inside rx_metadata/identifiers that PERMISSIVE
        //    parsing nulls the same as absence; and an EXPLICIT JSON
        //    null eui (`"eui": null`), which PERMISSIVE parses to the
        //    same null as an ABSENT key — but `['eui']` on a present
        //    key returns None without raising, so the reference would
        //    save the packet (gateway None) where this side routes
        //    perr_buf. Unreachable for real input: proto-JSON never
        //    emits explicit nulls for scalar fields.
        when(m.isNull, "perr")
          .when(name === "gs.status.receive" && d.isNull, "perr")
          .when(name === "gs.status.receive" &&
            size(d("antenna_locations")) > 0, "location")
          .when(name.isin("gs.up.receive", "gs.down.send"),
            when(d.isNull || d("raw_payload").isNull ||
              (m("time").isNotNull && length(m("time")) > 0 &&
                try_to_timestamp(m("time")).isNull) ||
              (name === "gs.up.receive" && d("settings").isNotNull &&
                !intOk(freqUp, "frequency")) ||
              (name === "gs.down.send" && d("request").isNotNull &&
                !intOk(rx1, "rx1_frequency")) ||
              (size(m("identifiers")) > 0 &&
                get(m("identifiers"), lit(0))("gateway_ids")("eui").isNull), "perr_buf")
              .otherwise("radio"))
          .otherwise("raw").as("route"),
        col("seq"), col("message").as("raw_message")): _*)
  }
}
