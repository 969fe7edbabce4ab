package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Side-output event channels (SURVEY §2.2 K2/K3): status deltas and
  * error/test events, expressed Spark-idiomatically as a dead-letter-style
  * split of one stream into routed frames — the reference publishes these
  * to separate RabbitMQ queues (PacketPersistence.py:63-108,
  * Orchestrator.py:100-123).
  */
object Events {

  /** K3 error route: split an envelope frame into (clean, errors). A row
    * is an error when its packet carries a parse error — the reference's
    * FAILED_PARSING path (PacketPersistence.py:63-70). The error frame has
    * the event shape {data_collector_id, type, message, ts} — ts kept so
    * the dead-letter log stays time-addressable for replay. */
  def splitErrors(envelopes: DataFrame): (DataFrame, DataFrame) = {
    val isError = col("packet").isNotNull && col("packet")("error").isNotNull
    val clean = envelopes.filter(!isError)
    val errors = envelopes.filter(isError).select(
      col("data_collector_id"),
      lit("FAILED_PARSING").as("type"),
      col("packet")("error").as("message"),
      col("ts"))
    (clean, errors)
  }

  /** K2 status events as a frame (from Orchestrator.statusDeltas
    * output): {data_collector_id, status, verified}. */
  def statusFrame(events: Seq[graft.control.Orchestrator.StatusEvent],
                  spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    events.toDF("data_collector_id", "status", "verified")
  }

  /** K2: status events from the F5 gate output (VerifOut frame) —
    * VERIFIED on the threshold flip, FAILED_VERIFY on the in-plan 600 s
    * timer expiry (BaseCollector.py:43-53's event). Shape is
    * {data_collector_id, type} — the type-tagged event-bus form (like
    * [[splitErrors]]' error route, sans message/ts), NOT
    * [[statusFrame]]'s columnar (status, verified) delta form; a
    * consumer unioning the two K2 channels maps one into the other. */
  def verifStatusFrame(outs: DataFrame): DataFrame =
    outs.filter(col("statusChange").isNotNull)
      .select(
        col("collectorId").as("data_collector_id"),
        when(col("statusChange"), "VERIFIED")
          .otherwise("FAILED_VERIFY").as("type"))

  /** K1 idempotency key for effective exactly-once at the consumer
    * (SURVEY §2.2: the reference is at-least-once with silent drops,
    * Publisher.py:113-114; we keep at-least-once delivery but document
    * the dedup key instead of silently improving semantics).
    *
    * The key covers the MESSAGES payload too, not just the packet
    * fields: envelope ts is epoch seconds and the join/raw routes
    * produce packet-less envelopes, so two distinct packet-less
    * envelopes from one collector in the same second would otherwise
    * collide — and the JDBC sink's `ON CONFLICT (idem_key) DO NOTHING`
    * ([[WireClients.startJdbcSink]]) would silently drop the second,
    * losing an envelope a replay can never restore.
    *
    * KEY VERSION BOUNDARY (v2): including `messages` changed every
    * key value relative to the pre-r7 definition (v1: collector|ts|
    * mic|data only). A table keyed under v1 will never match replayed
    * rows keyed under v2, so a replay spanning the upgrade RE-INSERTS
    * duplicates of pre-upgrade envelopes instead of deduplicating them.
    * Operators upgrading an existing table must either rebuild it from
    * the source log (one replay into an empty table) or re-key it in
    * place (recompute `idem_key` over the stored envelopes with this
    * definition) BEFORE replaying old segments. New/empty tables are
    * unaffected. */
  def idempotencyKey: Column =
    sha2(concat_ws("|",
      col("data_collector_id"), col("ts"),
      coalesce(col("packet")("mic"), lit("")),
      coalesce(col("packet")("data"), lit("")),
      coalesce(to_json(col("messages")), lit(""))), 256)
}
