package graft.sources

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.OutputMode

/** DSv2 message-log source: batch read, micro-batch incremental read,
  * and end-to-end into the ChirpStack pipeline. */
class MessageLogSourceSpec extends SparkSuite {

  private val fmt = "graft.sources.MessageLogSource"

  private def writeFile(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))

  private def line(seq: Long, topic: String, message: String) =
    s"""{"topic":${if (topic == null) "null" else "\"" + topic + "\""},""" +
      s""""message":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .writeValueAsString(message)},""" +
      s""""data_collector_id":1,"organization_id":2,"seq":$seq,"arrival_ts":${1700000000000000L + seq}}"""

  test("batch read sees all files with the declared schema") {
    val dir = Files.createTempDirectory("msglog").toString
    writeFile(dir, "000001.jsonl", Seq(line(1, "t/a", "m1"), line(2, "t/b", "m2")))
    writeFile(dir, "000002.jsonl", Seq(line(3, null, "m3")))
    val df = spark.read.format(fmt).load(dir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("topic", "message", "data_collector_id", "organization_id", "seq", "arrival_ts"))
    val rows = df.orderBy("seq").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "t/a" && rows(0).getString(1) == "m1")
    assert(rows(2).isNullAt(0))
    assert(rows(0).getAs[java.sql.Timestamp]("arrival_ts").getTime == 1700000000000L + 0)
  }

  test("micro-batch stream picks up new files incrementally") {
    val dir = Files.createTempDirectory("msglog").toString
    writeFile(dir, "000001.jsonl", Seq(line(1, "t/a", "m1")))
    val q = spark.readStream.format(fmt).load(dir)
      .writeStream.format("memory").queryName("msglog_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("msglog_out").count() == 1)
      writeFile(dir, "000002.jsonl", Seq(line(2, "t/b", "m2"), line(3, "t/c", "m3")))
      q.processAllAvailable()
      assert(spark.table("msglog_out").count() == 3)
      // no re-reads: offsets advanced past both files
      q.processAllAvailable()
      assert(spark.table("msglog_out").count() == 3)
    } finally q.stop()
  }

  test("checkpoint restart: no replay, no loss across query restarts") {
    val dir = Files.createTempDirectory("msglog").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val out = Files.createTempDirectory("out").toString
    writeFile(dir, "000001.jsonl", Seq(line(1, "t/a", "m1")))
    def start() = spark.readStream.format(fmt).load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    writeFile(dir, "000002.jsonl", Seq(line(2, "t/b", "m2"), line(3, "t/c", "m3")))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3) // file 1 not re-read, file 2 not lost
    assert(rows.select("seq").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("source feeds the ChirpStack streaming pipeline end-to-end") {
    implicit val s = spark
    val up = graft.codec.Lorawan.b64encode(
      Array(0x40.toByte) ++ graft.codec.Lorawan.hexToLe("017fc1c4") ++
        Array(0x80.toByte) ++ Array(7.toByte, 0.toByte) ++
        Array(1.toByte) ++ Array(10.toByte) ++
        graft.codec.Lorawan.hexToBytes("00000000"))
    val gwMsg =
      s"""{"phyPayload":"$up","rxInfo":{"channel":1,"rfChain":0,"crcStatus":1,"codeRate":"4/5","rssi":-60,"loRaSNR":9.0,"size":13,"timestamp":111,"frequency":868100000,"mac":"aabb","dataRate":{"modulation":"LORA","spreadFactor":7,"bandwidth":125}}}"""
    val appMsg =
      """{"devEUI":"cafe01","applicationName":"app1","deviceName":"dev1","fCnt":7,"rxInfo":[{"name":"gw","location":{"latitude":1.0,"longitude":2.0,"altitude":3.0}}]}"""
    val dir = Files.createTempDirectory("msglog").toString
    writeFile(dir, "000001.jsonl", Seq(
      line(1, "gateway/gw1/rx", gwMsg),
      line(2, "application/1/device/cafe01/rx", appMsg)))
    val raw = spark.readStream.format(fmt).load(dir)
    val envs = graft.streaming.Pipeline.chirpEnvelopes(
      graft.streaming.Pipeline.toChirpRecs(raw))
    val q = envs.writeStream.format("memory").queryName("msglog_envs")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      import s.implicits._
      val out = spark.table("msglog_envs")
        .as[graft.state.StateOps.Envelope].collect()
      assert(out.length == 1)
      assert(out.head.packet.get.dev_eui.contains("cafe01"))
      assert(out.head.messages.size == 2)
    } finally q.stop()
  }

  test("scan prunes columns and reports pushed filters in the plan") {
    val dir = Files.createTempDirectory("msglog").toString
    writeFile(dir, "000001.jsonl", Seq(line(1, "t/a", "m1"), line(2, "t/b", "m2")))
    val df = spark.read.format(fmt).load(dir)
      .filter("seq >= 2 and data_collector_id = 1")
      .select("seq", "topic")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(seq,2)"), plan)
    assert(plan.contains("EqualTo(data_collector_id,1)"), plan)
    // message (the wide column) never reaches the scan schema
    assert(!plan.contains("message"), plan)
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 2L
      && rows(0).getString(1) == "t/b")
  }

  test("seq bounds prune whole segments; residual filter keeps answers exact") {
    val dir = Files.createTempDirectory("msglog").toString
    writeFile(dir, "000001.jsonl", Seq(line(1, "t/a", "m1"), line(2, "t/a", "m2")))
    writeFile(dir, "000002.jsonl", Seq(line(3, "t/b", "m3"), line(4, "t/b", "m4")))
    writeFile(dir, "000003.jsonl", Seq(line(5, "t/c", "m5"), line(6, "t/c", "m6")))
    MessageLogSource.readersOpened.set(0)
    val hi = spark.read.format(fmt).load(dir)
      .filter("seq >= 5").select("seq").collect()
    assert(hi.map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L))
    assert(MessageLogSource.readersOpened.get == 1,
      s"files 1-2 should be pruned (opened ${MessageLogSource.readersOpened.get})")
    MessageLogSource.readersOpened.set(0)
    val lo = spark.read.format(fmt).load(dir)
      .filter("seq < 3").select("seq").collect()
    assert(lo.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(MessageLogSource.readersOpened.get == 1,
      s"files 2-3 should be pruned (opened ${MessageLogSource.readersOpened.get})")
    // a point lookup opens exactly the covering segment
    MessageLogSource.readersOpened.set(0)
    val pt = spark.read.format(fmt).load(dir).filter("seq = 4").collect()
    assert(pt.length == 1 && MessageLogSource.readersOpened.get == 1)
  }

  test("filter eval + bounds unit contracts (incl. unreadable segments)") {
    import org.apache.spark.sql.sources._
    assert(MessageLogSource.supported(EqualTo("topic", "t")))
    assert(MessageLogSource.supported(LessThanOrEqual("organization_id", 5L)))
    assert(!MessageLogSource.supported(EqualTo("message", "m")))
    assert(!MessageLogSource.supported(StringStartsWith("topic", "t")))
    assert(MessageLogSource.eval(EqualTo("topic", "t"), "t", 1, 2, 3))
    assert(!MessageLogSource.eval(EqualTo("topic", "t"), null, 1, 2, 3))
    assert(MessageLogSource.eval(IsNull("topic"), null, 1, 2, 3))
    assert(MessageLogSource.seqBounds(Array(
      GreaterThan("seq", 2L), LessThanOrEqual("seq", 9L),
      EqualTo("data_collector_id", 7L))) == (3L, 9L))
    // unreadable first record → file kept, never skipped
    val dir = Files.createTempDirectory("msglog").toString
    writeFile(dir, "000001.jsonl", Seq("this is not json"))
    val files = MessageLogSource.listFiles(dir)
    assert(MessageLogSource.pruneBySeq(files,
      Array(GreaterThanOrEqual("seq", 100L))).toSeq == files.toSeq)
  }

  test("seq pruning degrades to read-everything when monotonicity is violated") {
    import org.apache.spark.sql.sources._
    // a writer restart reset the counter: firsts are [0, 80, 0]. The
    // interval premise (file i spans [first_i, first_{i+1}-1]) is now
    // false — file 2 (seqs 80..179) would be pruned for seq >= 100 by
    // interval logic, silently losing rows. The checked guard must
    // keep every file instead.
    val dir = Files.createTempDirectory("msglog").toString
    writeFile(dir, "000001.jsonl", Seq(line(0, "t/a", "m"), line(1, "t/a", "m")))
    writeFile(dir, "000002.jsonl", (80L to 179L).map(s => line(s, "t/a", "m")))
    writeFile(dir, "000003.jsonl", Seq(line(0, "t/a", "m")))
    val files = MessageLogSource.listFiles(dir)
    val kept = MessageLogSource.pruneBySeq(files,
      Array(GreaterThanOrEqual("seq", 100L)))
    assert(kept.toSeq == files.toSeq)
    // and the end-to-end read returns exactly the matching rows
    val df = spark.read.format("graft.sources.MessageLogSource").load(dir)
      .filter("seq >= 100")
    assert(df.count() == 80)
    // sanity: with an intact monotone listing the same filter DOES prune
    val dir2 = Files.createTempDirectory("msglog").toString
    writeFile(dir2, "000001.jsonl", Seq(line(0, "t/a", "m")))
    writeFile(dir2, "000002.jsonl", Seq(line(80, "t/a", "m")))
    writeFile(dir2, "000003.jsonl", Seq(line(200, "t/a", "m")))
    val files2 = MessageLogSource.listFiles(dir2)
    assert(MessageLogSource.pruneBySeq(files2,
      Array(GreaterThanOrEqual("seq", 201L))).length < files2.length)
  }
}
