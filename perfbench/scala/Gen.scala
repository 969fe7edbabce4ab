package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import graft.codec.Lorawan

/** Seeded ChirpStack message stream for the ingest workloads.
  *
  * Messages are spread over `Collectors` collectors, each with a fixed
  * population of `DevicesPerCollector` devices (so the F1 device map
  * settles at Collectors × DevicesPerCollector entries). Traffic is made
  * of per-collector *units* that never leave a radio packet buffered
  * between units, so every message's fate is known when it is generated:
  *
  *  - uplink: a gateway frame (JSON `gateway/<gw>/rx`, or a base64
  *    `gw.UplinkFrame` protobuf on `gateway/<gw>/up`) followed by the
  *    application uplink on the same (dev_addr, fCnt). For a device not
  *    yet in the map the radio is buffered and the app message pairs
  *    with it (F2 hit, F1 upsert): both messages are enveloped. For a
  *    known device the radio is enveloped at once and the app message
  *    finds nothing buffered: it is dropped (`app_unpaired`);
  *  - join: enveloped, and the device becomes known;
  *  - malformed (~1 %): an oversized payload (route `drop`), a JSON radio
  *    whose structure crashes the reference's assembly block (`perr`),
  *    or an undecodable radio frame (`raw`, enveloped).
  *
  * Units of different collectors interleave; `seq` is one writer
  * counter, strictly increasing across segments.
  */
final class MessageGen(seed: Long) {
  import MessageGen._
  private val rnd = new scala.util.Random(seed)
  private val mapper = new ObjectMapper()
  private var seq = 0L
  private val baseTsMicros = 1704067200000000L // 2024-01-01T00:00:00Z

  private final case class Device(devAddr: String, devEui: String, name: String) {
    var fCnt = 0
    var known = false
  }
  private val devices: Array[Array[Device]] = Array.tabulate(Collectors) { c =>
    Array.tabulate(DevicesPerCollector) { k =>
      val da = f"${(c + 1) << 24 | (k * 7919 + 13) & 0xffffff}%08x"
      Device(da, f"${c + 1}%02x${rnd.nextLong() & 0xffffffffffffL}%014x", s"dev$c-$k")
    }
  }

  /** Expected fate counts over everything generated so far. */
  val counts: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
    "messages" -> 0L, "enveloped" -> 0L, "drop" -> 0L, "perr" -> 0L,
    "app_unpaired" -> 0L, "proto" -> 0L, "pair_hits" -> 0L, "joins" -> 0L,
    "raw" -> 0L)
  /** PHY frames and protobuf uplinks, sampled for the kernel timings. */
  val phySamples = mutable.ArrayBuffer[Array[Byte]]()
  val protoSamples = mutable.ArrayBuffer[String]()

  // devices first appear in order, so the device map fills within the
  // first Collectors × DevicesPerCollector uplinks (warm-up) and the
  // timed phase runs at a steady map size
  private val firstUnseen = Array.fill(Collectors)(0)

  def deviceMapSize: Int = devices.iterator.map(_.count(_.known)).sum

  private def hex(n: Int): String =
    Iterator.fill(n)(f"${rnd.nextInt(256)}%02x").mkString

  private def phy(d: Device): Array[Byte] = {
    val frm = Array.fill(8 + rnd.nextInt(24))(rnd.nextInt(256).toByte)
    val mac = Lorawan.MacPayload(
      Lorawan.Fhdr(d.devAddr, Lorawan.FCtrl(adr = rnd.nextBoolean(),
        adrAckReq = false, ack = false, fPending = false, classB = false, 0),
        d.fCnt, Nil),
      Some(1 + rnd.nextInt(200)), Some(frm))
    val b = Lorawan.encode(Lorawan.Phy("UnconfirmedDataUp", "LoRaWANR1",
      hex(4), None, None, Some(mac), None))
    if (phySamples.length < 4096) phySamples += b
    b
  }

  private def jsonRadio(payloadB64: String): String =
    s"""{"phyPayload":"$payloadB64","rxInfo":{"channel":${rnd.nextInt(8)},""" +
      s""""rfChain":${rnd.nextInt(2)},"crcStatus":1,"codeRate":"4/5",""" +
      s""""rssi":${-40 - rnd.nextInt(80)},"loRaSNR":${rnd.nextInt(200) / 10.0 - 5},""" +
      s""""size":${payloadB64.length * 3 / 4},"timestamp":${rnd.nextInt(Int.MaxValue)},""" +
      s""""frequency":${868100000 + 200000 * rnd.nextInt(3)},"mac":"${hex(8)}",""" +
      s""""dataRate":{"modulation":"LORA","spreadFactor":${7 + rnd.nextInt(6)},"bandwidth":125}}}"""

  // proto3 writer for gw.UplinkFrame (field numbers of the public
  // chirpstack-api v3 gw.proto, the layout ProtoWire decodes)
  private def vint(v: Long): Array[Byte] = {
    val b = mutable.ArrayBuffer[Byte]()
    var x = v; var more = true
    while (more) {
      val lo = (x & 0x7f).toInt; x = x >>> 7; more = x != 0
      b += (if (more) lo | 0x80 else lo).toByte
    }
    b.toArray
  }
  private def pLd(f: Int, c: Array[Byte]) = vint((f << 3) | 2) ++ vint(c.length) ++ c
  private def pV(f: Int, v: Long) = vint((f << 3) | 0) ++ vint(v)
  private def pD(f: Int, v: Double) = {
    val bits = java.lang.Double.doubleToLongBits(v)
    vint((f << 3) | 1) ++ (0 to 7).map(i => ((bits >>> (8 * i)) & 0xff).toByte)
  }
  private def protoRadio(phyBytes: Array[Byte]): String = {
    val lmi = pV(1, 125) ++ pV(2, 7 + rnd.nextInt(6)) ++ pLd(3, "4/5".getBytes(UTF_8))
    val tx = pV(1, 867100000L + 200000L * rnd.nextInt(5)) ++ pLd(3, lmi)
    val rx = pLd(1, Lorawan.hexToBytes(hex(8))) ++ pV(5, -40L - rnd.nextInt(80)) ++
      pD(6, rnd.nextInt(200) / 10.0 - 5 + 0.25) ++ pV(7, 1 + rnd.nextInt(7)) ++
      pV(8, 1) ++ pV(17, 2)
    val b64 = Lorawan.b64encode(pLd(1, phyBytes) ++ pLd(2, tx) ++ pLd(3, rx))
    if (protoSamples.length < 4096) protoSamples += b64
    b64
  }

  private def appUplink(c: Int, d: Device): String =
    s"""{"devEUI":"${d.devEui}","applicationName":"app$c","deviceName":"${d.name}",""" +
      s""""fCnt":${d.fCnt},"rxInfo":[{"name":"gw$c-${rnd.nextInt(4)}","location":""" +
      s"""{"latitude":${-34.9 + rnd.nextInt(1000) / 1e4},"longitude":""" +
      s"""${-56.2 + rnd.nextInt(1000) / 1e4},"altitude":${rnd.nextInt(90)}}}]}"""

  private def bump(k: String, n: Long = 1): Unit = counts(k) = counts(k) + n

  /** One unit for collector `c`: its messages as (topic, message). */
  private def unit(c: Int): Seq[(String, String)] = {
    val u = rnd.nextInt(1000)
    val gw = f"gw$c%02x${rnd.nextInt(4)}"
    if (u < 10) { // malformed
      u % 3 match {
        case 0 =>
          bump("drop")
          Seq(s"gateway/$gw/rx" -> jsonRadio("A" * (304 + 4 * rnd.nextInt(16))))
        case 1 =>
          bump("perr")
          Seq(s"gateway/$gw/rx" -> s"""{"rxInfo":{"rssi":${-40 - rnd.nextInt(80)}}}""")
        case _ =>
          bump("raw"); bump("enveloped")
          Seq(s"gateway/$gw/tx" -> s"!!frame-${hex(6)}!!")
      }
    } else {
      val d =
        if (firstUnseen(c) < DevicesPerCollector) {
          firstUnseen(c) += 1; devices(c)(firstUnseen(c) - 1)
        } else devices(c)(rnd.nextInt(DevicesPerCollector))
      if (u < 50) { // join
        bump("joins"); bump("enveloped")
        d.known = true
        Seq(s"application/$c/device/${d.devEui}/join" ->
          s"""{"devAddr":"${d.devAddr}","devEUI":"${d.devEui}"}""")
      } else {
        d.fCnt = (d.fCnt + 1) & 0xffff
        val bytes = phy(d)
        val radio =
          if (u < 150) { bump("proto"); s"gateway/$gw/up" -> protoRadio(bytes) }
          else s"gateway/$gw/rx" -> jsonRadio(Lorawan.b64encode(bytes))
        if (d.known) { bump("enveloped"); bump("app_unpaired") }
        else { bump("enveloped", 2); bump("pair_hits"); d.known = true }
        Seq(radio, s"application/$c/device/${d.devEui}/rx" -> appUplink(c, d))
      }
    }
  }

  /** Render the next segment as JSONL in the MessageLogSource record
    * shape. Units of all collectors interleave; a segment always ends on
    * unit boundaries. */
  def nextSegment(): Array[Byte] = {
    val out = new java.lang.StringBuilder(SegmentSize * 420)
    val pending = Array.fill(Collectors)(List.empty[(String, String)])
    var n = 0
    while (n < SegmentSize || pending.exists(_.nonEmpty)) {
      val open = (0 until Collectors).filter(pending(_).nonEmpty)
      val c =
        if (n >= SegmentSize) open.head
        else rnd.nextInt(Collectors)
      if (pending(c).isEmpty) pending(c) = unit(c).toList
      val (topic, msg) = pending(c).head
      pending(c) = pending(c).tail
      val rec = mapper.createObjectNode()
      rec.put("topic", topic)
      rec.put("message", msg)
      rec.put("data_collector_id", (c + 1).toLong)
      rec.put("organization_id", (1 + c % 2).toLong)
      rec.put("seq", seq)
      rec.put("arrival_ts", baseTsMicros + seq * 1000L)
      out.append(mapper.writeValueAsString(rec)).append('\n')
      seq += 1; n += 1
    }
    bump("messages", n)
    out.toString.getBytes(UTF_8)
  }
}

object MessageGen {
  val Collectors = 8
  val DevicesPerCollector = 64
  val SegmentSize = 500 // messages per segment, rounded up to a unit boundary
}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}
