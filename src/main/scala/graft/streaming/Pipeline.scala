package graft.streaming

import graft.etl.{Normalize, PacketSchema}
import graft.state.StateOps
import graft.state.StateOps.{Envelope, Rec}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

/** End-to-end packet pipeline assembly (SURVEY §3.2):
  *
  * {{{
  * raw messages (topic, message, data_collector_id, organization_id,
  *               seq, arrival_ts [, gw])
  *   → route (F0) → per-dialect normalize (P*) → Rec
  *   → keyed state (F1+F2+F3 ChirpStack / F4 TTN)  [one shuffle on collector]
  *   → envelopes {ts, data_collector_id, packet, messages[]}  (K1 shape)
  * }}}
  *
  * The state steps emit the sink row itself: [[StateOps.Envelope]], its
  * packet already enriched by [[StateOps.enrichedPacket]], so
  * [[envelopeFrame]] is the Dataset as a DataFrame and the batch fold's
  * output schema is the same encoder schema.
  *
  * The same transforms run in batch (tests, replay) and streaming
  * (readStream → the parquet file sink of [[startEnvelopeSink]]); every
  * stream starts through [[startStream]] (checkpoints: [[LocalCheckpointFiles]]).
  * Scale: normalization + codec are data-parallel map work before the
  * single state shuffle; only the order-dependent pairing serializes
  * per collector — exactly the
  * reference's per-collector thread, but collectors run in parallel and
  * state is checkpointable (vs the reference's crash-lossy heap dicts,
  * BASELINE.md "state durability: none").
  */
object Pipeline {

  /** The full packet row as a typed struct (PacketSchema.packet, the
    * encoder schema of StateOps.Pkt) — carried through the state machine
    * without serialization. */
  private val packetStructCol: Column =
    struct(PacketSchema.packetColumns.map(col): _*)

  private val recFields = Encoders.product[Rec].schema.fields.toSeq

  /** The one Rec column layout: StateOps.Rec's fields in declaration
    * order (the ordinals ChirpFoldInternal reads). `fields` names what a
    * branch sets; seq, collectorId, topic, message and arrivalTs default
    * to the raw-message columns, every other field to a typed null. */
  private def asRecs(df: DataFrame, fields: (String, Column)*)(
      implicit s: SparkSession): Dataset[Rec] = {
    import s.implicits._
    val given = (Seq("seq" -> col("seq"), "collectorId" -> col("data_collector_id"),
      "topic" -> col("topic"), "message" -> col("message"),
      "arrivalTs" -> col("arrival_ts").cast("long")) ++ fields).toMap
    require(given.keySet.subsetOf(recFields.map(_.name).toSet),
      s"not Rec fields: ${given.keySet -- recFields.map(_.name)}")
    df.select(recFields.map(f =>
      given.getOrElse(f.name, lit(null).cast(f.dataType)).as(f.name)): _*).as[Rec]
  }

  /** Normalized radio rows (any dialect) → Recs. */
  private def radioRecs(norm: DataFrame)(implicit s: SparkSession): Dataset[Rec] =
    asRecs(norm, "route" -> col("route"), "message" -> col("raw_message"),
      "devAddr" -> col("dev_addr"), "fCount" -> col("f_count"),
      "devEui" -> col("dev_eui"), "appName" -> col("app_name"),
      "devName" -> col("dev_name"), "latitude" -> col("latitude"),
      "longitude" -> col("longitude"), "altitude" -> col("altitude"),
      "packet" -> packetStructCol, "arrivalTs" -> col("date").cast("long"))

  /** ChirpStack: route + normalization → Dataset[Rec] over ONE scan, as a
    * STAGED column program. Every rule is one [[Normalize]] definition,
    * shared with the branch-per-route oracle [[toChirpRecsUnion]]; each
    * row pays ONE full `from_json` (its own dialect's), and each probe is
    * ONE named column, gated to the rows whose rule reads it:
    *
    *   A: route from the topic, the F0h proto leg and dialect sniff
    *      (LoraServerIOCollector.py:238-280);
    *   B: the single route-gated `from_json` (gateway | proto | app);
    *   C: payload extraction + PHY decode, once; the size guard and the
    *      json.loads test;
    *   D: the join devAddr and app location probes, then
    *      `json_object_keys`, whose gate reads the location probe;
    *   E: the route, once; then the Rec layout from field references.
    *
    * The stages survive optimization because CollapseProject never inlines
    * a non-cheap expression referenced more than once — measured: the r2
    * single-projection form re-parsed every row with all three schemas
    * (~26 s of q50's 29 s at sf0.1), and a route expression inlined into
    * each of the final select's uses put 102 `get_json_object` and 112
    * `json_object_keys` into the optimized plan. StateOpsSpec pins each
    * probe to one call site in the plan.
    *
    * Every outcome stays a row: F0c is route="drop", not a filter (a
    * filter on a parsed column would be pushed below the projection and
    * re-run the parse; chirpStep ignores drop rows, reference early
    * return :313-315), and crash rows are tagged perr / perr_app /
    * perr_app_eat. Equivalence with the branch-per-route form is pinned
    * by StateOpsSpec ("fused single-pass normalize equals the 5-branch
    * union"). */
  def toChirpRecs(df: DataFrame)(implicit s: SparkSession): Dataset[Rec] = {
    import Normalize._
    val route0 = col("route0"); val isProto = col("is_proto"); val msgN = col("msg_n")
    val mj = col("mj"); val mp = col("mp"); val ma = col("ma"); val phy = col("phy")
    val r0 = chirpstackRoute(col("topic"))
    val a = df
      .select(col("*"), chirpstackProtoJson(col("topic"), col("message")).as("proto_json"))
      .select(col("seq"), col("data_collector_id"), col("organization_id"),
        col("topic"), col("message"), col("arrival_ts"),
        // a decoded F0h frame is normalized as its MessageToJson text
        coalesce(col("proto_json"), col("message")).as("msg_n"), r0.as("route0"),
        (r0 === "radio" && (col("proto_json").isNotNull ||
          chirpstackProtoShape(col("message")))).as("is_proto"))
    val b = a.select(col("*"),
      when(route0 === "radio" && !isProto,
        from_json(msgN, PacketSchema.chirpstackGateway)).as("mj"),
      when(isProto, from_json(msgN, PacketSchema.chirpstackProto)).as("mp"),
      when(route0 === "app", from_json(msgN, PacketSchema.chirpstackApp)).as("ma"))
    val pay = when(isProto, mp("phyPayload")).otherwise(mj("phyPayload"))
    val oversized = route0 === "radio" && chirpstackOversized(pay)
    val c = b.select(col("*"), pay.as("pay"),
      graft.functions.PhyFunctions.phy_decode_b64(pay).as("phy"),
      oversized.as("oversized"),
      (!oversized && route0.isin("radio", "app", "join") &&
        chirpstackNotJson(msgN)).as("not_json"))
    // the rows that reach the crash rules (the reference's assembly block)
    val live = !col("oversized") && !col("not_json")
    val d = c.select(col("*"),
      when(live && route0 === "join", chirpstackJoinDevAddr(msgN)).as("join_dev_addr"),
      when(live && route0 === "app" && chirpstackLocGate(ma),
        chirpstackLocText(msgN)).as("loc_text"))
    // each crash rule: the rows it applies to, the rule, the route it sets
    // (first match wins, after drop and raw)
    val crashes = Seq(
      (route0 === "radio" && !isProto, chirpstackJsonCrash(mj), "perr"),
      (isProto, chirpstackProtoCrash(mp), "perr"),
      (route0 === "join", chirpstackJoinCrash(col("join_dev_addr")), "perr"),
      (route0 === "app", chirpstackAppEat(ma), "perr_app_eat"),
      (route0 === "app", chirpstackAppCrash(ma, col("loc_text")), "perr_app"))
    val keysGate = crashes.map { case (on, rule, _) => on && rule.probeGate }.reduce(_ || _)
    val e = d.select(col("*"), when(live && keysGate, chirpstackKeys(msgN)).as("keys"))
    val route = crashes.foldLeft(when(col("oversized"), "drop").when(col("not_json"), "raw")) {
      case (acc, (on, rule, tag)) => acc.when(on && rule(col("keys")), tag)
    }.otherwise(route0)
    val f = e.select(col("*"), route.as("route"))

    val rt = col("route")
    val isApp = rt.isin("app", "perr_app", "perr_app_eat")
    val app = chirpstackAppFields(ma)
    val join = chirpstackJoinFields(col("join_dev_addr"), msgN)
    asRecs(f, Seq("route" -> rt,
      "devAddr" -> when(rt === "radio", phy("dev_addr")).when(rt === "join", join("devAddr")),
      "fCount" -> when(rt === "radio", phy("f_count")).when(isApp, app("fCount")),
      "devEui" -> when(rt === "join", join("devEui")).when(isApp, app("devEui")),
      "packet" -> when(rt === "radio", struct(chirpstackRadioPacket(
        chirpstackEitherMeta(isProto, mj, mp), col("pay"), phy): _*))) ++
      (app -- Seq("fCount", "devEui")).map { case (k, v) => k -> when(isApp, v) }: _*)
  }

  /** The branch-per-route form of [[toChirpRecs]] — the readable
    * reference implementation and the equivalence oracle for the fused
    * single-pass version (StateOpsSpec): each route is its own filtered
    * branch over the same [[Normalize]] rules. */
  private[graft] def toChirpRecsUnion(df: DataFrame)(implicit s: SparkSession): Dataset[Rec] = {
    import Normalize._
    import s.implicits._
    val msg = col("message")
    val routed = df.withColumn("route", chirpstackRoute(col("topic")))
    val notJson = chirpstackNotJson(msg)
    // a radio Rec leaves devEui to its packet: the fused form sets it on
    // join and app rows only
    def chirpRadioRecs(norm: DataFrame) = radioRecs(norm)
      .withColumn("devEui", lit(null).cast("string")).as[Rec]

    val radio = routed.filter(col("route") === "radio")
      .withColumn("proto_json", chirpstackProtoJson(col("topic"), msg))
    val radioTxt = radio.filter(col("proto_json").isNull && !notJson)
    val radioJson = chirpRadioRecs(chirpstackJsonRadio(radioTxt.filter(!chirpstackProtoShape(msg))))
    // decoded raw frames run the SAME proto normalizer over the decoded
    // JSON, then the ORIGINAL base64 message is restored for the
    // envelope log (joined back on the per-collector-unique seq)
    val radioRaw = radio.filter(col("proto_json").isNotNull)
    val radioProtoRaw = chirpstackProtoRadio(radioRaw.withColumn("message", col("proto_json")))
      .drop("raw_message")
      .join(radioRaw.select(col("seq"), col("data_collector_id"), msg.as("raw_message")),
        Seq("seq", "data_collector_id"))
    val radioProto = chirpRadioRecs(
      chirpstackProtoRadio(radioTxt.filter(chirpstackProtoShape(msg))).unionByName(radioProtoRaw))

    val keys = chirpstackKeys(msg)
    val devAddr = chirpstackJoinDevAddr(msg)
    // join crash rows drop here like the radio normalizers drop theirs
    // (the fused form tags them "perr"; both are inert downstream)
    val joins = asRecs(
      routed.filter(col("route") === "join" && !notJson && !chirpstackJoinCrash(devAddr)(keys)),
      ("route" -> lit("join")) +: chirpstackJoinFields(devAddr, msg).toSeq: _*)
    val appM = from_json(msg, PacketSchema.chirpstackApp)
    val apps = asRecs(routed.filter(col("route") === "app" && !notJson),
      ("route" -> when(chirpstackAppEat(appM)(keys), "perr_app_eat")
        .when(chirpstackAppCrash(appM, chirpstackLocText(msg))(keys), "perr_app")
        .otherwise("app")) +: chirpstackAppFields(appM).toSeq: _*)
    // json.loads failures on any parsed route (radio after the proto
    // retry, app, join) join the raw topics
    val raws = Seq(routed.filter(col("route") === "raw"),
      radio.filter(col("proto_json").isNull && notJson),
      routed.filter(col("route").isin("app", "join") && notJson))
      .map(asRecs(_, "route" -> lit("raw"))).reduce(_ unionByName _)

    Seq(radioJson, radioProto, joins, apps, raws).reduce(_ unionByName _)
  }

  /** TTN v2/v3: normalize → Dataset[Rec]
    * (routes radio|location|raw|perr|perr_buf). */
  def toTtnRecs(df: DataFrame, v3: Boolean)(implicit s: SparkSession): Dataset[Rec] = {
    val norm = if (v3) Normalize.ttnV3(df) else Normalize.ttnV2(df)
    // location + raw rows share the radio column layout here (the packet
    // struct is ignored downstream for non-radio routes)
    radioRecs(norm)
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
  def toGenericRecs(df: DataFrame)(implicit s: SparkSession): Dataset[Rec] =
    radioRecs(Normalize.genericMqtt(df))

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
    * StateOpsSpec) but cheaper: the typed path decodes each row into
    * Option-boxed case classes, this one folds UnsafeRows. Measured on a
    * 4-core host against the typed sorted fold (toChirpRecs →
    * sortWithinPartitions → mapPartitions(chirpStep) → envelopeFrame),
    * equal envelopes: q50 wall medians 1524 vs 2108 ms at sf0.01 and
    * 3708 vs 5647 ms at sf0.1 (1.4-1.5×).
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

  /** Envelope dataset → the sink DataFrame {ts, data_collector_id,
    * packet, messages[]} (FIXTURES.md §3a): the Envelope layout as is,
    * its packet enriched by the state steps. */
  def envelopeFrame(envs: Dataset[Envelope]): DataFrame = envs.toDF()

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
    * [[Events.idempotencyKey]] ([[WireClients.startJdbcSink]]).
    *
    * Checkpoint I/O: each micro-batch writes an offsets file, a commits
    * file, state-store deltas with their checksum files and the
    * `_spark_metadata` entry, each a temp file + rename. [[startStream]]
    * writes them with [[LocalCheckpointFiles]], so a local checkpoint forks
    * no `chmod` or `readlink` (~2.5 ms each without the native Hadoop
    * library: 26.9 vs 0.07 ms per 12 KB atomic write). */
  def startEnvelopeSink(envs: DataFrame, outDir: String, checkpoint: String,
                        trigger: Trigger = Trigger.ProcessingTime("1 second")) =
    startStream(envs.writeStream
      .format("parquet")
      .partitionBy("data_collector_id")
      .option("path", outDir)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger), envs.sparkSession)

  /** Starts one of the program's streams on [[LocalCheckpointFiles]]. The
    * conf is set only while `start()` runs, when the query builds its logs
    * and clones the session its state stores read: the caller's session is
    * left as it was. A manager the caller set wins. */
  private[streaming] def startStream(w: DataStreamWriter[Row], s: SparkSession): StreamingQuery =
    if (s.conf.getOption(LocalCheckpointFiles.ManagerKey).isDefined) w.start()
    else {
      s.conf.set(LocalCheckpointFiles.ManagerKey, classOf[LocalCheckpointFiles].getName)
      try w.start() finally s.conf.unset(LocalCheckpointFiles.ManagerKey)
    }
}
