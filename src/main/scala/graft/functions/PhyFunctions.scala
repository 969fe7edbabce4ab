package graft.functions

import graft.codec.{Lorawan, LorawanCrypto}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.udf

/** Spark-facing LoRaWAN codec surface (reference C1-C10,
  * lorawanwrapper/utils/lorawanWrapper.go) as typed UDFs returning flat
  * structs.
  *
  * The decode output is FLAT (one nullable field per packet column) rather
  * than the reference's nested JSON tree: the reference immediately
  * flattens the tree per m_type anyway (PhyParser.py:5-73), and a flat
  * struct lets Catalyst prune unread fields at the scan.
  *
  * UDFs (not custom Expressions) are the right first shape here: the codec
  * is branch-heavy byte fiddling that wouldn't gain from codegen splicing,
  * and a UDF keeps the pure-Scala codec testable in isolation. Promote to
  * `Expression with doGenCode` only if bench shows the boundary matters.
  */
object PhyFunctions {

  /** Flat decode result = the packet columns the PHY contributes
    * (FIXTURES.md §3b, reference Service.py:7-46). All nullable; which
    * subset is set depends on m_type, exactly like PhyParser.py:21-71. */
  final case class PhyRow(
      m_type: String, major: String, mic: String,
      join_eui: String, dev_eui: String, dev_nonce: Option[Int],
      join_accept_bytes: Array[Byte],
      dev_addr: String, adr: Option[Boolean], adr_ack_req: Option[Boolean],
      ack: Option[Boolean], f_pending: Option[Boolean], class_b: Option[Boolean],
      f_count: Option[Long], f_opts: String, f_port: Option[Int],
      frm_payload: Array[Byte],
      error: String)

  def toRow(phy: Lorawan.Phy): PhyRow = phy match {
    case p if p.error.isDefined =>
      PhyRow(null, null, null, null, null, None, null, null, None, None, None,
        None, None, None, null, None, null, p.error.get)
    case p =>
      val jr = p.joinRequest
      val mac = p.mac
      // f_opts rendered as a JSON array string — the at-rest encoding the
      // reference uses (PhyParser.py:40-46 json.dumps)
      val fOptsJson = mac.filter(_.fhdr.fOpts.nonEmpty).map { m =>
        m.fhdr.fOpts.map { c =>
          c.payload match {
            case Some(pl) => s"""{"cid": "${c.cid}", "payload": $pl}"""
            case None     => s"""{"cid": "${c.cid}"}"""
          }
        }.mkString("[", ", ", "]")
      }.orNull
      PhyRow(
        m_type = p.mType, major = p.major, mic = p.mic,
        join_eui = jr.map(_.joinEui).orNull,
        dev_eui = jr.map(_.devEui).orNull,
        dev_nonce = jr.map(_.devNonce),
        join_accept_bytes = p.joinAcceptBytes.orNull,
        dev_addr = mac.map(_.fhdr.devAddr).orNull,
        adr = mac.map(_.fhdr.fCtrl.adr),
        adr_ack_req = mac.map(_.fhdr.fCtrl.adrAckReq),
        ack = mac.map(_.fhdr.fCtrl.ack),
        f_pending = mac.map(_.fhdr.fCtrl.fPending),
        class_b = mac.map(_.fhdr.fCtrl.classB),
        f_count = mac.map(_.fhdr.fCnt.toLong),
        f_opts = fOptsJson,
        f_port = mac.flatMap(_.fPort),
        frm_payload = mac.flatMap(_.frmPayload).orNull,
        error = null)
  }

  /** C1 phy_decode over raw bytes. */
  val phyDecode = udf { (bytes: Array[Byte]) =>
    toRow(Lorawan.parse(bytes))
  }

  /** C1 over the base64-text form the collectors carry (with the P2 '='
    * padding fix applied first, GenericMqttCollector.py:128). */
  val phyDecodeB64 = udf { (b64: String) =>
    if (b64 == null)
      toRow(Lorawan.Phy.err("Unmarshal Error: null payload"))
    else
      try toRow(Lorawan.parse(Lorawan.b64decode(Lorawan.b64pad(b64))))
      catch {
        case e: IllegalArgumentException =>
          toRow(Lorawan.Phy.err(s"Unmarshal Error: bad base64: ${e.getMessage}"))
      }
  }

  def phy_decode(c: Column): Column = phyDecode(c)
  def phy_decode_b64(c: Column): Column = phyDecodeB64(c)

  /** F0h raw-protobuf dialect (LoraServerIOCollector.py:254-261): a
    * gw.UplinkFrame carried as base64 in the text log → the MessageToJson
    * rendering the proto-dialect normalizer already consumes; null when
    * the text was never a frame. */
  val protoUplinkJson = udf { (b64: String) =>
    graft.codec.ProtoWire.uplinkFrameB64ToJson(b64)
  }
  def proto_uplink_json(c: Column): Column = protoUplinkJson(c)

  /** Encode a JoinRequest from fields (inverse direction, C10) — used by
    * the codec round-trip oracle query and tests. */
  val encodeJoinRequest = udf { (joinEui: String, devEui: String, devNonce: Int, micHex: String) =>
    Lorawan.encode(Lorawan.Phy("JoinRequest", "LoRaWANR1", micHex,
      Some(Lorawan.JoinRequest(joinEui, devEui, devNonce)), None, None, None))
  }

  /** Encode a data frame from fields (no FOpts). */
  val encodeDataFrame = udf { (mType: String, devAddr: String, adr: Boolean,
                               ack: Boolean, fCnt: Int, fPort: Option[Int],
                               frm: Array[Byte], micHex: String) =>
    Lorawan.encode(Lorawan.Phy(mType, "LoRaWANR1", micHex, None, None,
      Some(Lorawan.MacPayload(
        Lorawan.Fhdr(devAddr, Lorawan.FCtrl(adr, adrAckReq = false, ack = ack,
          fPending = false, classB = false, fOptsLen = 0), fCnt, Nil),
        fPort, Option(frm))), None))
  }

  /** C8: compute a valid MIC (C9's candidate-key check is
    * [[micMatchEvents]] below). Key as
    * big-endian hex (the reference's AES128Key text form).
    *
    * Malformed key hex (null / odd length / non-hex) yields SQL NULL
    * on every key-hex UDF below, mirroring phyDecodeB64's
    * bad-input-never-fails-the-task convention — hexToBytes itself is
    * strict, so without the guard a user-supplied key crashes the
    * whole query (and the OLD lenient parse was worse: a silently
    * wrong key and a false-negative MIC). */
  val signPacketUdf = udf { (bytes: Array[Byte], keyHex: String) =>
    if (!Lorawan.isHex(keyHex)) null
    else LorawanCrypto.signPacket(bytes, Lorawan.hexToBytes(keyHex))
  }

  /** C9 candidate-major MIC check: one candidate key against EVERY signed
    * packet in one call, returning the event_ids whose JoinRequest MIC
    * validates. The packet list arrives as a broadcast `collect_list`
    * struct column — tiny by construction (the key space is the big side).
    * One [[LorawanCrypto.CmacSession]] per call amortizes the AES key
    * schedule + CMAC subkey derivation over all packets (the dominant cost
    * of small-message CMAC), versus a per-(key, packet) schedule in the
    * naive pair orientation. */
  val micMatchEvents = udf { (keyHex: String, pkts: Seq[Row]) =>
    if (!Lorawan.isHex(keyHex)) null
    else {
      val session = new LorawanCrypto.CmacSession(Lorawan.hexToBytes(keyHex))
      pkts.collect {
        case r if session.joinRequestMicValid(r.getAs[Array[Byte]]("bytes")) =>
          r.getAs[Long]("event_id")
      }
    }
  }

  /** C9's JoinAccept half (lorawanWrapper.go:387-504): one candidate key
    * against every captured JoinAccept — decrypt-then-CMAC per packet
    * under one amortized [[LorawanCrypto.CmacSession]], same
    * candidate-major orientation as [[micMatchEvents]]. */
  val jaMicMatchEvents = udf { (keyHex: String, pkts: Seq[Row]) =>
    if (!Lorawan.isHex(keyHex)) null
    else {
      val session = new LorawanCrypto.CmacSession(Lorawan.hexToBytes(keyHex))
      pkts.collect {
        case r if session.joinAcceptMicValid(r.getAs[Array[Byte]]("bytes")) =>
          r.getAs[Long]("event_id")
      }
    }
  }

  /** Build a signed+encrypted JoinAccept for a device (test/synthesis
    * path of C6/C7): plaintext fields → MIC (CMAC over MHDR|payload) →
    * AES "encrypt" (= decrypt op, spec quirk). */
  val encodeJoinAccept = udf { (appKeyHex: String, joinNonce: Int,
                                netIdHex: String, devAddrHex: String) =>
    if (!Lorawan.isHex(appKeyHex) || !Lorawan.isHex(netIdHex) ||
      !Lorawan.isHex(devAddrHex)) null
    else {
    val key = Lorawan.hexToBytes(appKeyHex)
    val plain = Array(0x20.toByte) ++
      Array((joinNonce & 0xff).toByte, ((joinNonce >> 8) & 0xff).toByte,
        ((joinNonce >> 16) & 0xff).toByte) ++
      Lorawan.hexToLe(netIdHex) ++
      Lorawan.hexToLe(devAddrHex) ++
      Array(0x00.toByte, 0x01.toByte) ++ Array.fill[Byte](4)(0)
    val payload = java.util.Arrays.copyOfRange(plain, 1, plain.length - 4)
    val mic = LorawanCrypto.joinAcceptMic(key, plain(0), payload)
    System.arraycopy(mic, 0, plain, plain.length - 4, 4)
    LorawanCrypto.encryptJoinAccept(key, plain)
    }
  }

  /** C7: session keys from a JR/JA pair. */
  final case class SessionKeysRow(nwkSKey: String, appSKey: String)
  val sessionKeys = udf { (jr: Array[Byte], ja: Array[Byte], appKeyHex: String) =>
    if (!Lorawan.isHex(appKeyHex)) None
    else LorawanCrypto.sessionKeysFromJoins(jr, ja, appKeyHex)
      .map(k => SessionKeysRow(k.nwkSKey, k.appSKey))
  }

  /** FRMPayload decrypt (C1's optional appSKey path, lorawanWrapper.go:546-551). */
  val frmDecrypt = udf { (frm: Array[Byte], devAddr: String, fCnt: Long,
                          uplink: Boolean, keyHex: String) =>
    if (frm == null || !Lorawan.isHex(keyHex) || !Lorawan.isHex(devAddr)) null
    else LorawanCrypto.cryptFrmPayload(Lorawan.hexToBytes(keyHex),
      Lorawan.hexToLe(devAddr), fCnt, uplink, frm)
  }
}
