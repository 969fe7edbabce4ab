package graft.etl

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

/** The packet and source-message schemas (the sink row is
  * [[graft.state.StateOps.Envelope]]'s encoder schema). */
object PacketSchema {

  /** The "standard packet" row: the encoder schema of its one definition,
    * [[graft.state.StateOps.Pkt]] (field comments there). */
  val packet: StructType = Encoders.product[graft.state.StateOps.Pkt].schema

  val packetColumns: Seq[String] = packet.fieldNames.toSeq

  // ------------------------- source-message schemas (FIXTURES.md §2) ----

  /** 2a. Generic MQTT / packet-forwarder JSON (GenericMqttCollector.py:120-151). */
  val genericMqtt: StructType = StructType(Seq(
    StructField("data", StringType),
    StructField("chan", IntegerType), StructField("stat", IntegerType),
    StructField("lsnr", DoubleType), StructField("rssi", IntegerType),
    StructField("tmst", LongType), StructField("rfch", IntegerType),
    StructField("freq", DoubleType), StructField("modu", StringType),
    StructField("datr", StringType), StructField("codr", StringType),
    StructField("size", IntegerType),
    StructField("seqn", LongType), StructField("opts", StringType),
    StructField("port", IntegerType)))

  /** 2b. ChirpStack gateway JSON radio-info struct (LoraServerIOCollector.py:339-360). */
  val chirpstackRadio: StructType = StructType(Seq(
    StructField("channel", IntegerType), StructField("rfChain", IntegerType),
    StructField("crcStatus", IntegerType), StructField("codeRate", StringType),
    StructField("rssi", IntegerType), StructField("loRaSNR", DoubleType),
    StructField("size", IntegerType), StructField("timestamp", LongType),
    StructField("frequency", LongType), StructField("mac", StringType),
    StructField("dataRate", StructType(Seq(
      StructField("modulation", StringType),
      StructField("spreadFactor", IntegerType),
      StructField("bandwidth", IntegerType))))))

  val chirpstackGateway: StructType = StructType(Seq(
    StructField("phyPayload", StringType),
    StructField("rxInfo", chirpstackRadio),
    StructField("txInfo", chirpstackRadio)))

  /** 2c. ChirpStack protobuf gw.UplinkFrame after MessageToJson
    * (LoraServerIOCollector.py:321-338). */
  val chirpstackProto: StructType = StructType(Seq(
    StructField("phyPayload", StringType),
    StructField("rxInfo", StructType(Seq(
      StructField("gatewayID", StringType), // base64 → hex
      StructField("channel", IntegerType), StructField("rfChain", IntegerType),
      StructField("crcStatus", StringType), // enum CRC_OK|BAD_CRC|NO_CRC
      StructField("rssi", IntegerType), StructField("loRaSNR", DoubleType),
      // NO timestamp here: the proto rxInfo the reference reads has none
      // (FIXTURES §2c) and every proto-dialect consumer nulls tmst — a
      // declared-but-unread field would invite wiring it into tmst and
      // diverging from the reference
      StructField("size", IntegerType)))),
    StructField("txInfo", StructType(Seq(
      StructField("frequency", LongType),
      StructField("loRaModulationInfo", StructType(Seq(
        StructField("spreadingFactor", IntegerType),
        StructField("bandwidth", IntegerType),
        StructField("codeRate", StringType)))))))))

  /** 2d. ChirpStack application JSON (LoraServerIOCollector.py:403-446). */
  val chirpstackApp: StructType = StructType(Seq(
    StructField("devEUI", StringType),
    StructField("applicationName", StringType),
    StructField("deviceName", StringType),
    StructField("fCnt", LongType),
    StructField("rxInfo", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("location", StructType(Seq(
        StructField("latitude", DoubleType),
        StructField("longitude", DoubleType),
        StructField("altitude", DoubleType))))))))))

  /** 2f. TTN v2 payload JSON, after the fixed-offset frame strip
    * (TTNCollector.py:176-262). */
  val ttnV2: StructType = StructType(Seq(
    StructField("payload", StringType),
    StructField("snr", DoubleType), StructField("rssi", IntegerType),
    StructField("timestamp", StringType), // ISO
    StructField("frequency", DoubleType),
    StructField("coding_rate", StringType),
    StructField("dev_eui", StringType),
    StructField("status", StructType(Seq(
      StructField("location", StructType(Seq(
        StructField("latitude", DoubleType),
        StructField("longitude", DoubleType),
        StructField("altitude", DoubleType)))))))))

  /** 2g. TTN v3 SSE record (TTNv3Collector.py:205-330). */
  val ttnV3: StructType = StructType(Seq(
    StructField("result", StructType(Seq(
      StructField("name", StringType),
      StructField("time", StringType),
      StructField("identifiers", ArrayType(StructType(Seq(
        StructField("gateway_ids", StructType(Seq(
          StructField("gateway_id", StringType),
          StructField("eui", StringType)))))))),
      StructField("data", StructType(Seq(
        StructField("raw_payload", StringType),
        StructField("rx_metadata", ArrayType(StructType(Seq(
          StructField("snr", DoubleType), StructField("rssi", IntegerType))))),
        StructField("settings", StructType(Seq(
          StructField("frequency", StringType),
          StructField("coding_rate", StringType)))),
        // proto-JSON renders uint64 as a STRING (like settings.frequency
        // above); StringType also keeps a raw number token's text, so
        // both encodings parse — the int()-faithful probe in
        // Normalize.ttnV3 decides validity
        StructField("request", StructType(Seq(
          StructField("rx1_frequency", StringType)))),
        StructField("antenna_locations", ArrayType(StructType(Seq(
          StructField("latitude", DoubleType),
          StructField("longitude", DoubleType),
          StructField("altitude", DoubleType)))))))))))))
}
