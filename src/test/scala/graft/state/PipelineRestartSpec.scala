package graft.state

import graft.state.StateOps.{Envelope, Rec}
import graft.streaming.Pipeline
import graft.SparkSuite
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Kill/restart proof for the stateful hosts: a pipeline stopped
  * mid-stream and restarted from its checkpoint must produce EXACTLY
  * what an uninterrupted run produces — the device map, pairing buffer,
  * held location and emit decisions all live in the recovered state, so
  * any divergence (a re-emitted envelope, a lost buffered packet, a
  * forgotten device identity) shows up as a diff. The hosts are the
  * flatMapGroupsWithState ones startEnvelopeSink runs, on the session's
  * state store (StateOpsSpec and VerifProcessorSpec cover RocksDB).
  * Complements CheckpointRecoverySpec (dedup op). */
class PipelineRestartSpec extends SparkSuite {

  /** Runs `host` over three batches twice — once uninterrupted into a
    * memory sink, once stopped after batch 1 and restarted from the same
    * checkpoint into a parquet sink, with batch 2 arriving while the query
    * is DOWN — and returns (uninterrupted, restarted), each sorted. */
  private def restart(host: Dataset[Rec] => Dataset[Envelope], tag: String,
                      b1: Seq[Rec], b2: Seq[Rec],
                      b3: Seq[Rec]): (Seq[Envelope], Seq[Envelope]) = {
    implicit val s: SparkSession = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = s"${tag}_cont"
    val contStream = MemoryStream[Rec]
    val contQ = host(contStream.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    val expected = try {
      Seq(b1, b2, b3).foreach { b => contStream.addData(b: _*); contQ.processAllAvailable() }
      spark.table(name).as[Envelope].collect().toSeq.sortBy(_.toString)
    } finally contQ.stop()

    val ckpt = java.nio.file.Files.createTempDirectory(s"${tag}_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory(s"${tag}_sink").toString
    val stream = MemoryStream[Rec]
    def start() = host(stream.toDS())
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    try {
      stream.addData(b1: _*); q1.processAllAvailable()
    } finally q1.stop()
    stream.addData(b2: _*) // arrives while down
    val q2 = start()
    val actual = try {
      stream.addData(b3: _*); q2.processAllAvailable()
      spark.read.parquet(outDir).as[Envelope].collect().toSeq.sortBy(_.toString)
    } finally q2.stop()
    (expected, actual)
  }

  private def mkUp(daHex: String, fCnt: Int): String = graft.codec.Lorawan.b64encode(
    Array(0x40.toByte) ++ graft.codec.Lorawan.hexToLe(daHex) ++
      Array(0x80.toByte) ++ Array((fCnt & 0xff).toByte, ((fCnt >> 8) & 0xff).toByte) ++
      Array(1.toByte) ++ Array(10.toByte, 20.toByte) ++
      graft.codec.Lorawan.hexToBytes("00000000"))

  /** 90 seeded ChirpStack messages (topic, message, collector, seq):
    * gateway uplinks, application rx, joins and unroutable lines. */
  private def mixedRows: Seq[(String, String, Long, Long)] = {
    val das = Seq("017fc1c4", "0a0b0c0d")
    val rnd = new scala.util.Random(23)
    (1 to 90).map { i =>
      rnd.nextInt(7) match {
        case 0 | 1 | 2 =>
          ("gateway/gw1/rx",
            s"""{"phyPayload":"${mkUp(das(rnd.nextInt(das.length)), rnd.nextInt(3))}","rxInfo":{"channel":1,"rfChain":0,"crcStatus":1,"codeRate":"4/5","rssi":-60,"loRaSNR":9.0,"size":17,"timestamp":$i,"frequency":868100000,"mac":"aabb","dataRate":{"modulation":"LORA","spreadFactor":7,"bandwidth":125}}}""",
            0L, i.toLong)
        case 3 | 4 =>
          (s"application/1/device/dev$i/rx",
            s"""{"devEUI":"eui$i","applicationName":"app$i","deviceName":"dev$i","fCnt":${rnd.nextInt(3)},"rxInfo":[{"name":"gw","location":{"latitude":$i.0,"longitude":2.0,"altitude":3.0}}]}""",
            0L, i.toLong)
        case 5 =>
          (s"application/1/device/j$i/join",
            s"""{"devAddr":"${das(rnd.nextInt(das.length))}","devEUI":"joined$i"}""",
            0L, i.toLong)
        case _ => ("some/other/topic", s"not-json-$i", 0L, i.toLong)
      }
    }
  }

  private def mixedRecs: Seq[Rec] = {
    implicit val s = spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    val df = mixedRows.toDF("topic", "message", "data_collector_id", "seq")
      .withColumn("organization_id", lit(7L))
      .withColumn("arrival_ts", timestamp_micros(col("seq") * 1000000L))
    Pipeline.toChirpRecs(df).collect().toSeq.sortBy(_.seq)
  }

  test("chirp hosts survive a checkpoint restart unchanged") {
    val recs = mixedRecs
    val (b1, rest) = recs.splitAt(30)
    val (b2, b3) = rest.splitAt(30)
    implicit val s: SparkSession = spark
    val (expected, actual) = restart(Pipeline.chirpEnvelopes(_), "chirp", b1, b2, b3)
    assert(actual.nonEmpty)
    assert(actual == expected)
  }

  test("F1/F2 chirp restart: devices map, pairing buffer, crash residue all survive") {
    implicit val s: SparkSession = spark
    import s.implicits._
    def r(seq: Long, route: String, msg: String,
          devAddr: Option[String] = None, fCount: Option[Long] = None,
          devEui: Option[String] = None, appName: Option[String] = None,
          devName: Option[String] = None, lat: Option[Double] = None): Rec =
      Rec(seq, 1L, route, Some(s"t/$seq"), msg, devAddr, fCount, devEui,
        appName, devName, lat, lat.map(_ + 1), lat.map(_ + 2), None, None,
        2000 + seq)
    // batch 1 leaves EVERY kind of chirp state populated at the
    // restart boundary: a join-sourced devices_map entry (aa01), a
    // pending prev_packet (cc03@7), and crash residue in prevMsgs
    // (up-b survives the perr_app pair-hit that LOSES the bb02 prev)
    val b1 = Seq(
      r(1, "join", "join-a", devAddr = Some("aa01"), devEui = Some("joined1")),
      r(2, "radio", "up-b", devAddr = Some("bb02"), fCount = Some(5L)),
      r(3, "perr_app", "crash-a", fCount = Some(5L)),
      r(4, "radio", "up-c", devAddr = Some("cc03"), fCount = Some(7L)))
    // batch 2 (arrives while the query is DOWN) consumes all three:
    // the app row pair-hits the recovered prev_packet (and writes the
    // app-sourced cc03 map entry), the radio row hits the recovered
    // join-sourced map entry
    val b2 = Seq(
      r(5, "app", "app-c", fCount = Some(7L), devEui = Some("eui-app"),
        appName = Some("appX"), devName = Some("devX"), lat = Some(4.0)),
      r(6, "radio", "up-a", devAddr = Some("aa01"), fCount = Some(1L)))
    // batch 3 proves the SECOND incarnation's own write persisted: the
    // cc03 map entry created by the pair-hit enriches a later uplink
    val b3 = Seq(
      r(7, "radio", "up-c2", devAddr = Some("cc03"), fCount = Some(9L)))

    // the batch fold is the semantics oracle
    val batchExpected = Pipeline.chirpEnvelopes((b1 ++ b2 ++ b3).toDS())
      .collect().toSeq.sortBy(_.toString)

    val (expected, actual) = restart(Pipeline.chirpEnvelopes(_), "chirp_f12", b1, b2, b3)
    assert(expected == batchExpected)
    assert(actual == expected)

    // and the recovered semantics are the intended ones, not just
    // self-consistent:
    // pair-hit envelope carries the pre-restart crash residue (up-b),
    // the buffered up-c, and the app message, enriched from the app row
    val pairEnv = actual.find(_.messages.exists(_.message == "app-c")).get
    assert(pairEnv.messages.map(_.message) == Seq("up-b", "up-c", "app-c"))
    assert(pairEnv.packet.get.devEui.contains("eui-app"))
    assert(pairEnv.packet.get.latitude.contains(4.0))
    // join-sourced map entry recovered: up-a enriched with joined1
    val upAEnv = actual.find(_.messages.exists(_.message == "up-a")).get
    assert(upAEnv.packet.get.devEui.contains("joined1"))
    // app-sourced map entry written post-restart enriches the b3 uplink
    val upC2Env = actual.find(_.messages.exists(_.message == "up-c2")).get
    assert(upC2Env.packet.get.devEui.contains("eui-app"))
    assert(upC2Env.packet.get.appName.contains("appX"))
    assert(upC2Env.packet.get.devName.contains("devX"))
  }

  test("F4 location host restart: held location AND pending crash buffer survive") {
    def r(seq: Long, route: String, msg: String, lat: Option[Double] = None): Rec =
      Rec(seq, 1L, route, None, msg, None, None, None, None, None,
        lat, lat.map(_ + 1), lat.map(_ + 2), None, None, 1000 + seq)
    // batch 1 ends with BOTH state kinds pending: a held location and
    // two buffered crash messages; the restart must recover them so
    // the first radio row after recovery emits one envelope carrying
    // [crash1, crash2, up1] enriched with the held location
    val b1 = Seq(
      r(1, "radio", "up0"),
      r(2, "location", "loc1", lat = Some(9.0)),
      r(3, "perr_buf", "crash1"),
      r(4, "perr", "bad1"), // inert: must not disturb recovered state
      r(5, "perr_buf", "crash2"))
    val b2 = Seq(r(6, "radio", "up1"), r(7, "raw", "other1"))
    val b3 = Seq(r(8, "perr_buf", "crash3"), r(9, "radio", "up2"))

    implicit val s: SparkSession = spark
    val (expected, actual) = restart(Pipeline.ttnEnvelopes(_), "loc", b1, b2, b3)
    assert(actual == expected)
    // and the recovered semantics are the intended ones, not just
    // self-consistent: the post-restart radio envelope carries the
    // pre-restart crash buffer and the held location
    val up1Env = actual.find(_.messages.exists(_.message == "up1")).get
    assert(up1Env.messages.map(_.message) == Seq("crash1", "crash2", "up1"))
    assert(up1Env.packet.get.latitude.contains(9.0))
  }

  test("envelope sink: a re-run uncommitted batch is written once") {
    // the production assembly over a message log: a crash after the
    // sink wrote batch n but before the checkpoint committed it makes
    // the engine re-run batch n on restart
    implicit val s: SparkSession = spark
    import java.nio.file.{Files, StandardCopyOption}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("envsink_replay")
    val log = Files.createDirectories(root.resolve("log"))
    val staging = Files.createDirectories(root.resolve("staging"))
    val sink = root.resolve("sink").toString
    val commits = root.resolve("checkpoint").resolve("commits")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // three segments, the collector alternating by seq
    val segments = mixedRows.grouped(30).toIndexedSeq.map(_.map {
      case (topic, message, _, seq) =>
        val o = mapper.createObjectNode()
        o.put("topic", topic); o.put("message", message)
        o.put("data_collector_id", seq % 2); o.put("organization_id", 7L)
        o.put("seq", seq); o.put("arrival_ts", seq * 1000000L)
        mapper.writeValueAsString(o)
    }.mkString("\n"))
    // the writer contract: write outside the log, then move in atomically
    def publish(i: Int): Unit = {
      val seg = Files.write(staging.resolve(f"seg-$i%04d.jsonl"),
        segments(i).getBytes("UTF-8"))
      Files.move(seg, log.resolve(seg.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    def start() = {
      val raw = spark.readStream.format("graft.sources.MessageLogSource")
        .load(log.toString)
      Pipeline.startEnvelopeSink(
        Pipeline.envelopeFrame(Pipeline.chirpEnvelopes(Pipeline.toChirpRecs(raw))),
        sink, root.resolve("checkpoint").toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    }

    val q1 = start()
    try {
      publish(0); q1.processAllAvailable()
      publish(1); q1.processAllAvailable()
    } finally q1.stop()
    val committed = commits.toFile.list().filter(_.forall(_.isDigit))
    assert(committed.length == 2, committed.mkString(","))
    val last = committed.maxBy(_.toLong)
    Files.delete(commits.resolve(last))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))

    val q2 = start()
    try {
      q2.processAllAvailable() // re-runs the uncommitted batch
      publish(2); q2.processAllAvailable()
    } finally q2.stop()

    // multiset of row hashes; the sink's partition column reads back as int
    def rowHashes(df: DataFrame): Seq[Long] = df
      .select(xxhash64(col("ts"), col("data_collector_id").cast("long"),
        col("packet"), col("messages")))
      .collect().map(_.getLong(0)).toSeq.sorted
    val batch = rowHashes(Pipeline.chirpEnvelopeFrameBatch(
      spark.read.format("graft.sources.MessageLogSource").load(log.toString)))
    val written = rowHashes(spark.read.parquet(sink))
    assert(batch.nonEmpty)
    assert(written == batch,
      s"sink ${written.size} rows vs batch ${batch.size}: " +
        s"${written.diff(batch).size} extra, ${batch.diff(written).size} missing")
  }
}
