package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, ForeachWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Wire-client adapters behind the streaming sink frames — the last
  * reference-surface gap that is not environment-blocked (r7 verdict,
  * "What's missing" #2). The zero-egress build ships no RabbitMQ or
  * Postgres driver, so the PROTOCOL surface is a pair of traits the
  * deployer implements with the client library of choice (pika-
  * equivalent AMQP client, JDBC driver); everything Spark-side — the
  * per-partition connection lifecycle, the persistent-delivery
  * publish semantics, the idempotency-key conflict contract — is real
  * code, spec-driven against loopback fakes in WireClientsSpec.
  *
  * Reference shapes reproduced:
  *  - Publisher.py:56 `queue_declare(queue, durable=True)` on channel
  *    open; Publisher.py:113-121 `basic_publish(exchange='',
  *    routing_key, json.dumps(message), delivery_mode=2)` — the
  *    default exchange + persistent delivery mode that make the
  *    packet queue survive a broker restart.
  *  - Service.py:5-47 `save(jsonPacket)` — the per-envelope relational
  *    insert, here made idempotent with the K1 key as the conflict
  *    target (the reference's add+commit relies on the consumer never
  *    replaying; our at-least-once checkpoint replay requires the
  *    insert itself to be a no-op on a replayed key).
  *
  * Delivery semantics: AT-LEAST-ONCE, explicitly. Where Publisher.py
  * silently DROPS messages published while its channel is down
  * (publish_message returns without queuing, Publisher.py:112-114),
  * these writers let the failure propagate — Spark retries the task /
  * micro-batch from the checkpoint, so the message is re-published
  * rather than lost, and the consumer dedups with
  * [[Events.idempotencyKey]] (SURVEY §2.2 K1: we keep at-least-once
  * but refuse the silent drop).
  */
object WireClients {

  // ------------------------------------------------------------- AMQP

  /** One open AMQP channel, as the reference Publisher uses it. */
  trait AmqpChannel {
    /** queue_declare(queue, durable) — Publisher.py:56. */
    def declareQueue(queue: String, durable: Boolean): Unit

    /** basic_publish — Publisher.py:113-121. `deliveryMode` 2 marks the
      * message persistent; `exchange` "" is the AMQP default exchange
      * (direct to `routingKey`'s queue). */
    def publish(exchange: String, routingKey: String, body: Array[Byte],
                deliveryMode: Int): Unit

    def close(): Unit
  }

  /** Connection factory — one channel per Spark partition per epoch
    * (the driver serializes the connector to executors, so real
    * implementations hold config, not sockets). */
  trait AmqpConnector extends Serializable {
    def open(): AmqpChannel
  }

  /** Publisher-shaped per-row sink: declares the durable queue on open
    * (every incarnation, like Publisher.on_channel_open — declare is
    * idempotent in AMQP), publishes each row's `body` column persistent
    * (delivery_mode=2) to the default exchange, closes the channel with
    * the partition. Rows must carry a string `body` column — see
    * [[envelopeBody]]. */
  final class AmqpEnvelopeWriter(connector: AmqpConnector, queueName: String,
                                 routingKey: String)
      extends ForeachWriter[Row] {
    @transient private var channel: AmqpChannel = _
    override def open(partitionId: Long, epochId: Long): Boolean = {
      channel = connector.open()
      // Spark never calls close() on a ForeachWriter whose open() threw
      // (the writer is constructed outside the task's abort/close
      // scope), so a declareQueue failure must close the channel it
      // just opened — against a flapping broker, every task retry
      // otherwise leaks one connection until the broker's limit rejects
      // even the recovered sink
      try channel.declareQueue(queueName, durable = true)
      catch { case t: Throwable =>
        try channel.close() catch { case _: Exception => () }
        channel = null
        throw t
      }
      true
    }
    override def process(row: Row): Unit =
      channel.publish(exchange = "", routingKey = routingKey,
        body = row.getAs[String]("body").getBytes("UTF-8"), deliveryMode = 2)
    override def close(errorOrNull: Throwable): Unit =
      if (channel != null) channel.close()
  }

  /** The envelope JSON body the reference publishes (json.dumps of the
    * envelope dict): one string column over the K1 envelope frame. */
  def envelopeBody: Column =
    to_json(struct(col("ts"), col("data_collector_id"), col("packet"),
      col("messages")))

  /** K1 wire sink: the [[Pipeline.startEnvelopeSink]] frame with the
    * AMQP writer in place of the parquet file sink. */
  def startAmqpSink(envs: DataFrame, connector: AmqpConnector,
                    queueName: String, routingKey: String, checkpoint: String,
                    trigger: Trigger = Trigger.ProcessingTime("1 second"))
      : StreamingQuery =
    Pipeline.startStream(envs.withColumn("body", envelopeBody)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreach(new AmqpEnvelopeWriter(connector, queueName, routingKey)), envs.sparkSession)

  // ------------------------------------------------------------- JDBC

  /** One open database session. `execute` returns the affected-row
    * count — 0 for an insert suppressed by its conflict clause. */
  trait SqlSession {
    def execute(sql: String, params: Seq[Any]): Int
    def close(): Unit
  }

  /** Session factory, serialized to executors like [[AmqpConnector]]. */
  trait SqlConnector extends Serializable {
    def open(): SqlSession
  }

  /** The idempotent envelope insert (Service.py:5-47's save, hardened
    * for replay): the K1 key is the conflict target, so re-executing a
    * replayed micro-batch affects zero rows — the contract the parquet
    * file sink gets from its `_spark_metadata` log, here expressed as
    * standard SQL for a store without one. A production deployment maps
    * `packet`'s fields onto the reference's packet columns
    * (Models.Packet); the key/conflict mechanics are identical. */
  def insertSql(table: String): String =
    s"""INSERT INTO $table
       |  (idem_key, data_collector_id, ts, packet_json, messages_json)
       |VALUES (?, ?, ?, ?, ?)
       |ON CONFLICT (idem_key) DO NOTHING""".stripMargin

  /** Per-row JDBC upsert writer over the envelope frame. Rows need the
    * `_idem_key` column ([[Events.idempotencyKey]]) — computed in
    * [[startJdbcSink]] so key definition and conflict target can never
    * diverge. */
  final class JdbcEnvelopeWriter(connector: SqlConnector, table: String)
      extends ForeachWriter[Row] {
    // constant for the writer's lifetime — built once, not per row
    private val sql = insertSql(table)
    @transient private var session: SqlSession = _
    override def open(partitionId: Long, epochId: Long): Boolean = {
      session = connector.open()
      true
    }
    override def process(row: Row): Unit =
      session.execute(sql, Seq(
        row.getAs[String]("_idem_key"),
        // collector id / ts pass through at whatever type the envelope
        // frame carries (the key already normalized them to strings)
        row.get(row.fieldIndex("data_collector_id")),
        row.get(row.fieldIndex("ts")),
        row.getAs[String]("packet_json"),
        row.getAs[String]("messages_json")))
    override def close(errorOrNull: Throwable): Unit =
      if (session != null) session.close()
  }

  /** K4 wire sink: envelope stream → idempotent relational appends. */
  def startJdbcSink(envs: DataFrame, connector: SqlConnector, table: String,
                    checkpoint: String,
                    trigger: Trigger = Trigger.ProcessingTime("1 second"))
      : StreamingQuery =
    Pipeline.startStream(envs
      .withColumn("_idem_key", Events.idempotencyKey)
      .withColumn("packet_json", to_json(col("packet")))
      .withColumn("messages_json", to_json(col("messages")))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreach(new JdbcEnvelopeWriter(connector, table)), envs.sparkSession)
}
