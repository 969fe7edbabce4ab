package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Loopback fakes for the wire-client traits: local-mode executors
  * share the JVM, so static queues capture what the per-partition
  * writers did. */
object FakeWire {
  import WireClients._

  val published =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, Int)]()
  val declares =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
  val openChannels = new java.util.concurrent.atomic.AtomicInteger(0)
  val dbRows =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Any]]()
  val dbSuppressed = new java.util.concurrent.atomic.AtomicInteger(0)

  def reset(): Unit = {
    published.clear(); declares.clear(); openChannels.set(0)
    dbRows.clear(); dbSuppressed.set(0)
  }

  final class Broker extends AmqpConnector {
    override def open(): AmqpChannel = new AmqpChannel {
      openChannels.incrementAndGet()
      override def declareQueue(queue: String, durable: Boolean): Unit =
        declares.add((queue, durable))
      override def publish(exchange: String, routingKey: String,
                           body: Array[Byte], deliveryMode: Int): Unit =
        published.add((exchange, routingKey, new String(body, "UTF-8"),
          deliveryMode))
      override def close(): Unit = openChannels.decrementAndGet()
    }
  }

  /** Fake relational store honoring the conflict clause: first insert
    * of a key wins, replays affect zero rows — exactly what a Postgres
    * `ON CONFLICT (idem_key) DO NOTHING` reports. */
  final class Db extends SqlConnector {
    override def open(): SqlSession = new SqlSession {
      override def execute(sql: String, params: Seq[Any]): Int = {
        require(sql.contains("ON CONFLICT (idem_key) DO NOTHING"),
          s"statement lost its conflict clause: $sql")
        if (dbRows.putIfAbsent(params.head.toString, params) == null) 1
        else { dbSuppressed.incrementAndGet(); 0 }
      }
      override def close(): Unit = ()
    }
  }
}

/** The wire-adapter contracts from the r7 verdict's last open surface
  * gap: Publisher-shaped AMQP publishing (durable queue declare,
  * default exchange, delivery_mode=2 on every message) and the
  * idempotency-key replay contract on the relational sink, both driven
  * through REAL streaming queries against loopback fakes. */
class WireClientsSpec extends SparkSuite {
  import spark.implicits._

  private implicit def s: org.apache.spark.sql.SparkSession = spark

  /** Real envelope frames (gateway uplinks over two collectors) staged
    * as a parquet stream source, so the sinks run as genuine streaming
    * queries with checkpoints. */
  private def envelopeSource(n: Int): (DataFrame, DataFrame) = {
    def up(fCnt: Int): String = graft.codec.Lorawan.b64encode(
      Array(0x40.toByte) ++ graft.codec.Lorawan.hexToLe("017fc1c4") ++
        Array(0x80.toByte) ++ Array((fCnt & 0xff).toByte, 0.toByte) ++
        Array(1.toByte) ++ Array(10.toByte, 20.toByte) ++
        graft.codec.Lorawan.hexToBytes("00000000"))
    val raw = (1 to n).map { i =>
      ("gateway/gw1/rx",
        s"""{"phyPayload":"${up(i)}","rxInfo":{"channel":1,"rfChain":0,"crcStatus":1,"codeRate":"4/5","rssi":-60,"loRaSNR":9.0,"size":17,"timestamp":$i,"frequency":868100000,"mac":"aabb","dataRate":{"modulation":"LORA","spreadFactor":7,"bandwidth":125}}}""",
        (i % 2).toLong, i.toLong)
    }.toDF("topic", "message", "data_collector_id", "seq")
      .withColumn("organization_id", lit(1L))
      .withColumn("arrival_ts", timestamp_micros(col("seq") * 1000000L))
    val batch = Pipeline.chirpEnvelopeFrameBatch(raw)
    val dir = java.nio.file.Files.createTempDirectory("wire_src").toString
    batch.write.mode("overwrite").parquet(dir)
    (batch, spark.readStream.schema(batch.schema).parquet(dir))
  }

  test("AMQP sink: durable declare, default exchange, delivery_mode=2") {
    FakeWire.reset()
    val (batch, stream) = envelopeSource(10)
    val nEnv = batch.count()
    val ckpt = java.nio.file.Files.createTempDirectory("amqp_ckpt").toString
    val q = WireClients.startAmqpSink(stream, new FakeWire.Broker,
      queueName = "data_collectors_packets", routingKey = "packets",
      checkpoint = ckpt, trigger = Trigger.AvailableNow())
    assert(q.awaitTermination(120000), "sink did not drain")

    import scala.jdk.CollectionConverters._
    val pubs = FakeWire.published.asScala.toSeq
    assert(pubs.size == nEnv, s"${pubs.size} != $nEnv")
    // Publisher.py:113-121 — default exchange, the configured routing
    // key, persistent delivery on EVERY message
    assert(pubs.forall(_._1 == ""))
    assert(pubs.forall(_._2 == "packets"))
    assert(pubs.forall(_._4 == 2))
    // every open channel declared the durable queue and was closed
    assert(FakeWire.declares.asScala.toSet == Set(("data_collectors_packets", true)))
    assert(FakeWire.openChannels.get() == 0, "channel leak")
    // bodies are the envelope JSON (json.dumps equivalent)
    val parsed = spark.read.json(pubs.map(_._3).toDS())
    assert(parsed.count() == nEnv)
    assert(parsed.columns.toSet.intersect(
      Set("ts", "data_collector_id", "packet", "messages")).size == 4)
  }

  test("AMQP sink: a failing declareQueue closes the channel it opened") {
    // Spark never calls close() on a ForeachWriter whose open() threw,
    // so against a flapping broker every task retry would leak one
    // connection unless open() cleans up after itself
    FakeWire.reset()
    val flaky = new WireClients.AmqpConnector {
      override def open(): WireClients.AmqpChannel = new WireClients.AmqpChannel {
        FakeWire.openChannels.incrementAndGet()
        override def declareQueue(queue: String, durable: Boolean): Unit =
          throw new java.io.IOException("broker flapping")
        override def publish(exchange: String, routingKey: String,
                             body: Array[Byte], deliveryMode: Int): Unit = ()
        override def close(): Unit = FakeWire.openChannels.decrementAndGet()
      }
    }
    val w = new WireClients.AmqpEnvelopeWriter(flaky, "q", "rk")
    intercept[java.io.IOException] { w.open(0L, 0L) }
    assert(FakeWire.openChannels.get() == 0, "channel leaked by failed open()")
    w.close(null) // close after failed open: no-op, not an NPE
  }

  test("JDBC sink: replayed delivery inserts zero rows (idempotency key)") {
    FakeWire.reset()
    val (batch, stream) = envelopeSource(10)
    val nEnv = batch.count()

    // first delivery
    val ck1 = java.nio.file.Files.createTempDirectory("jdbc_ck1").toString
    val q1 = WireClients.startJdbcSink(stream, new FakeWire.Db,
      table = "packets", checkpoint = ck1, trigger = Trigger.AvailableNow())
    assert(q1.awaitTermination(120000))
    assert(FakeWire.dbRows.size() == nEnv)
    assert(FakeWire.dbSuppressed.get() == 0)

    // full redelivery (at-least-once source replay: a FRESH checkpoint
    // over the same source re-sends everything) — every insert must
    // hit the conflict clause and change nothing
    val ck2 = java.nio.file.Files.createTempDirectory("jdbc_ck2").toString
    val q2 = WireClients.startJdbcSink(stream, new FakeWire.Db,
      table = "packets", checkpoint = ck2, trigger = Trigger.AvailableNow())
    assert(q2.awaitTermination(120000))
    assert(FakeWire.dbRows.size() == nEnv, "replay inserted new rows")
    assert(FakeWire.dbSuppressed.get() == nEnv, "replay did not hit the conflict key")

    // the stored key matches Events.idempotencyKey over the same frame
    val expectedKeys = batch.select(Events.idempotencyKey.as("k"))
      .collect().map(_.getString(0)).toSet
    import scala.jdk.CollectionConverters._
    assert(FakeWire.dbRows.keySet().asScala.toSet == expectedKeys)
  }

  test("distinct packet-less envelopes in the same second both survive") {
    // join/raw routes emit packet=null envelopes; ts is epoch SECONDS,
    // so two different such envelopes from one collector in one second
    // are distinguished ONLY by their message payloads — the key must
    // cover them or the conflict clause silently drops the second
    FakeWire.reset()
    def jr(devNonce: Int): String = {
      val body = Array(0x00.toByte) ++
        graft.codec.Lorawan.hexToLe("70b3d57ed0000000") ++
        graft.codec.Lorawan.hexToLe("0004a30b001fbc00") ++
        Array((devNonce & 0xff).toByte, ((devNonce >> 8) & 0xff).toByte) ++
        graft.codec.Lorawan.hexToBytes("00000000")
      graft.codec.Lorawan.b64encode(body)
    }
    // devAddr must be present: a join without the KEY crashes the
    // reference at devices_map[msg['devAddr']] (KeyError → perr, no
    // envelope at all)
    val raw = Seq(
      ("application/1/device/aa/join",
        s"""{"devAddr":"01020304","phyPayload":"${jr(1)}","devEUI":"0004a30b001fbc00"}""",
        7L, 1L),
      ("application/1/device/aa/join",
        s"""{"devAddr":"01020304","phyPayload":"${jr(2)}","devEUI":"0004a30b001fbc00"}""",
        7L, 2L))
      .toDF("topic", "message", "data_collector_id", "seq")
      .withColumn("organization_id", lit(1L))
      // same arrival second for both
      .withColumn("arrival_ts", timestamp_micros(lit(5L) * 1000000L))
    val batch = Pipeline.chirpEnvelopeFrameBatch(raw)
    val nEnv = batch.count()
    // the scenario is only exercised if packet-less envelopes exist
    val nulls = batch.filter(col("packet").isNull).count()
    assert(nulls >= 2, s"expected >=2 packet-less envelopes, got $nulls")
    assert(batch.select(Events.idempotencyKey).distinct().count() == nEnv,
      "envelopes share an idempotency key")

    val dir = java.nio.file.Files.createTempDirectory("wire_nulls").toString
    batch.write.mode("overwrite").parquet(dir)
    val ckpt = java.nio.file.Files.createTempDirectory("jdbc_nulls").toString
    val q = WireClients.startJdbcSink(spark.readStream.schema(batch.schema).parquet(dir),
      new FakeWire.Db, table = "packets", checkpoint = ckpt,
      trigger = Trigger.AvailableNow())
    assert(q.awaitTermination(120000))
    assert(FakeWire.dbRows.size() == nEnv,
      s"envelopes lost in the insert (batch $nEnv, table ${FakeWire.dbRows.size()})")
    assert(FakeWire.dbSuppressed.get() == 0)
  }
}
