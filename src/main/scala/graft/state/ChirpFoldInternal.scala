package graft.state

import graft.etl.PacketSchema
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ChirpStack state machine (F1+F2+F3, LoraServerIOCollector
  * .py:225-491) as a zero-deserialization fold over `InternalRow`s —
  * the batch/high-throughput twin of [[StateOps.chirpStep]].
  *
  * The typed path ([[StateOps.chirpFlatMap]]) decodes every row into a
  * `Rec` whose nested `Pkt` carries 38 `Option`-boxed fields and buffers
  * all output envelopes per group: ~1 KB of short-lived objects per
  * message, which turns into GC churn at a few 100k msgs per batch (the
  * fold itself is the ONLY non-codegen stage of the pipeline). This
  * version reads the handful of fields the state ops actually touch
  * straight from UnsafeRows, carries the 38-column packet struct as an
  * opaque struct slice, and emits envelopes incrementally — one
  * UnsafeRow copy per input row is the entire allocation story.
  *
  * Semantic parity with chirpStep + the save() gate
  * (PacketPersistence.py:28-31) is pinned by StateOpsSpec
  * ("internal fold equals the typed state machine").
  *
  * Input schema = `Pipeline.toChirpRecs(...).toDF()`, sorted by
  * (collectorId, seq) within collector-hash partitions. Output schema =
  * [[outputSchema]], the encoder schema of [[StateOps.Envelope]] (the
  * K1/K4 sink row, enrichment applied).
  */
object ChirpFoldInternal {

  /** The exact input column layout the ordinals below index into (the
    * Rec layout that `Pipeline.toChirpRecs` projects). Callers verify
    * their frame against it via [[requireInputSchema]] BEFORE folding, so
    * a column reorder in toChirpRecs fails fast instead of silently
    * corrupting the fold (getLong on a string offset, wrong-field reads). */
  val expectedInput: Seq[String] = Seq("seq", "collectorId", "route",
    "topic", "message", "devAddr", "fCount", "devEui", "appName",
    "devName", "latitude", "longitude", "altitude", "packet", "arrivalTs")

  /** The TYPES the ordinal accessors below read (getLong/getUTF8String/
    * getDouble/getStruct) — pinned literally, not derived from the Rec
    * encoder, so a type change in toChirpRecs OR in Rec itself fails
    * here instead of as a mid-fold wrong-offset read. Compared with
    * nullability ignored at every depth: it varies legitimately with
    * upstream lineage (a packet struct's fields may come out NOT NULL)
    * and no accessor depends on it. */
  private val expectedTypes: Seq[DataType] = Seq(
    LongType, LongType, StringType, StringType, StringType, StringType,
    LongType, StringType, StringType, StringType, DoubleType, DoubleType,
    DoubleType, PacketSchema.packet, LongType)

  def requireInputSchema(schema: StructType): Unit = {
    require(schema.fieldNames.toSeq == expectedInput,
      s"ChirpFoldInternal input columns [${schema.fieldNames.mkString(", ")}] " +
        s"do not match the ordinal layout [${expectedInput.mkString(", ")}]")
    val drifted = expectedInput.indices.filterNot(i =>
      DataTypeUtils.equalsIgnoreNullability(schema.fields(i).dataType, expectedTypes(i)))
    require(drifted.isEmpty,
      "ChirpFoldInternal input TYPES drifted from the ordinal accessors: " +
        drifted.map(i => s"${expectedInput(i)} is ${schema.fields(i).dataType.sql} " +
          s"(fold reads ${expectedTypes(i).sql})").mkString("; "))
  }

  // input column ordinals (the one Rec layout: StateOps.Rec field order,
  // as Pipeline.asRecs projects it)
  private final val SEQ = 0
  private final val COLLECTOR = 1
  private final val ROUTE = 2
  private final val TOPIC = 3
  private final val MESSAGE = 4
  private final val DEV_ADDR = 5
  private final val F_COUNT = 6
  private final val DEV_EUI = 7
  private final val APP_NAME = 8
  private final val DEV_NAME = 9
  private final val LATITUDE = 10
  private final val LONGITUDE = 11
  private final val ALTITUDE = 12
  private final val PACKET = 13
  private final val ARRIVAL_TS = 14

  private val pktSchema: StructType = PacketSchema.packet
  private final val PKT_N = pktSchema.length
  // packet-struct ordinals the enrichment overrides
  private final val P_DEV_EUI = pktSchema.fieldIndex("dev_eui")
  private final val P_LAT = pktSchema.fieldIndex("latitude")
  private final val P_LON = pktSchema.fieldIndex("longitude")
  private final val P_ALT = pktSchema.fieldIndex("altitude")
  private final val P_APP = pktSchema.fieldIndex("app_name")
  private final val P_DEV = pktSchema.fieldIndex("dev_name")

  val outputSchema: StructType = Encoders.product[StateOps.Envelope].schema

  private val ROUTE_JOIN = UTF8String.fromString("join")
  private val ROUTE_RADIO = UTF8String.fromString("radio")
  private val ROUTE_APP = UTF8String.fromString("app")
  private val ROUTE_DROP = UTF8String.fromString("drop")
  private val ROUTE_PERR = UTF8String.fromString("perr")
  private val ROUTE_PERR_APP = UTF8String.fromString("perr_app")
  private val ROUTE_PERR_APP_EAT = UTF8String.fromString("perr_app_eat")

  // boxing accessors for the opaque packet-struct copy
  private val pktAccessors: Array[(InternalRow, Int) => Any] =
    pktSchema.fields.map { f =>
      val acc = InternalRow.getAccessor(f.dataType, nullable = true)
      (row: InternalRow, i: Int) => acc(row, i)
    }

  private final case class Dev(devEui: UTF8String, appName: UTF8String,
                               devName: UTF8String, fromApp: Boolean)

  def fold(input: Iterator[InternalRow]): Iterator[InternalRow] =
    new FoldIterator(input)

  private final class FoldIterator(input: Iterator[InternalRow])
      extends Iterator[InternalRow] {

    private val pending = scala.collection.mutable.Queue.empty[InternalRow]
    private var hasKey = false
    private var curKey = 0L
    // F1 devices map; F2 buffer-1 prev + its message log
    private val devices = new java.util.HashMap[UTF8String, Dev]()
    private var prev: InternalRow = _
    private var prevMsgs: List[InternalRow] = Nil

    override def hasNext: Boolean = { fill(); pending.nonEmpty }
    override def next(): InternalRow = { fill(); pending.dequeue() }

    private def fill(): Unit =
      while (pending.isEmpty && input.hasNext) {
        // one defensive copy per row: everything emitted or buffered
        // references this private buffer, never the iterator-reused one
        val row = input.next().copy()
        val key = row.getLong(COLLECTOR)
        if (!hasKey || key != curKey) {  // new collector: fresh state
          hasKey = true; curKey = key
          devices.clear(); prev = null; prevMsgs = Nil
        }
        step(row)
      }

    private def str(row: InternalRow, i: Int): UTF8String =
      if (row.isNullAt(i)) null else row.getUTF8String(i)
    /** For strings stored in the LONG-LIVED devices map: an UnsafeRow's
      * getUTF8String returns a VIEW into the row's buffer, so storing it
      * would pin the entire copied row (38-col packet struct + raw
      * message, ~1 KB) per device entry for the collector's lifetime —
      * 100k devices ≈ 100 MB of dead row bytes. clone() keeps only the
      * short string's own bytes. */
    private def strOwned(row: InternalRow, i: Int): UTF8String = {
      val s = str(row, i)
      if (s == null) null else s.clone()
    }
    private def dbl(row: InternalRow, i: Int): java.lang.Double =
      if (row.isNullAt(i)) null else java.lang.Double.valueOf(row.getDouble(i))

    private def msgStruct(row: InternalRow): InternalRow =
      new GenericInternalRow(Array[Any](
        str(row, TOPIC), str(row, MESSAGE), row.getLong(COLLECTOR)))

    /** Packet column of `pktRow` with the six enrichment overrides applied
      * — the fused form of chirpStep's Rec enrichment +
      * [[StateOps.enrichedPacket]]. Null override → packet value. */
    private def packetOut(pktRow: InternalRow, devEui: UTF8String,
                          appName: UTF8String, devName: UTF8String,
                          lat: java.lang.Double, lon: java.lang.Double,
                          alt: java.lang.Double): InternalRow = {
      val vals = new Array[Any](PKT_N)
      var i = 0
      while (i < PKT_N) { vals(i) = pktAccessors(i)(pktRow, i); i += 1 }
      if (devEui != null) vals(P_DEV_EUI) = devEui
      if (appName != null) vals(P_APP) = appName
      if (devName != null) vals(P_DEV) = devName
      if (lat != null) vals(P_LAT) = lat
      if (lon != null) vals(P_LON) = lon
      if (alt != null) vals(P_ALT) = alt
      new GenericInternalRow(vals)
    }

    /** Emit one envelope — the save() gate (PacketPersistence.py:28-31)
      * drops message-less envelopes at this exact point. */
    private def emit(ts: Long, packet: InternalRow,
                     msgs: List[InternalRow]): Unit =
      if (msgs.nonEmpty)
        pending.enqueue(new GenericInternalRow(Array[Any](
          ts, curKey, packet, new GenericArrayData(msgs.toArray[Any]))))

    /** Packet payload of a rec row with that row's OWN rec-level fields as
      * overrides (flush / direct emission — no map enrichment). */
    private def ownPacket(row: InternalRow): InternalRow =
      if (row.isNullAt(PACKET)) null
      else packetOut(row.getStruct(PACKET, PKT_N),
        str(row, DEV_EUI), str(row, APP_NAME), str(row, DEV_NAME),
        dbl(row, LATITUDE), dbl(row, LONGITUDE), dbl(row, ALTITUDE))

    private def flushPrev(ts: Long): Unit =
      if (prev != null) {
        emit(ts, ownPacket(prev), prevMsgs)
        prev = null; prevMsgs = Nil
      }

    private def step(row: InternalRow): Unit = {
      val route = row.getUTF8String(ROUTE)
      if (route == ROUTE_DROP) return // F0c oversized: inert (:313-315)
      // struct-crash radio row: save_parsing_error only — no envelope,
      // no prev flush (:496-500; same contract as StateOps.chirpStep)
      if (route == ROUTE_PERR) return
      val ts = row.getLong(ARRIVAL_TS)
      val msg = msgStruct(row)

      if (route == ROUTE_JOIN) {
        // F1 upsert (dev_eui only) + F3 raw-log envelope; the join absorbs
        // any buffered messages and leaves prev_packet pending (:287-304)
        val da = str(row, DEV_ADDR)
        if (da != null)
          devices.put(da.clone(), Dev(strOwned(row, DEV_EUI), null, null, fromApp = false))
        emit(ts, null, prevMsgs :+ msg)
        prevMsgs = Nil

      } else if (route == ROUTE_RADIO) {
        flushPrev(ts) // :370-376
        // buffer residue surviving an app-crash (prev==null, prevMsgs≠Nil)
        // rides into this row's save (same contract as chirpStep)
        val buf = prevMsgs
        val da = str(row, DEV_ADDR)
        if (da == null) {
          emit(ts, ownPacket(row), buf :+ msg) // :478-491
          prevMsgs = Nil
        } else {
          val info = devices.get(da)
          if (info != null) {
            // map hit: enrich + emit (:382-387)
            val app = if (info.fromApp) info.appName else str(row, APP_NAME)
            val dev = if (info.fromApp) info.devName else str(row, DEV_NAME)
            val pkt =
              if (row.isNullAt(PACKET)) null
              else packetOut(row.getStruct(PACKET, PKT_N), info.devEui, app, dev,
                dbl(row, LATITUDE), dbl(row, LONGITUDE), dbl(row, ALTITUDE))
            emit(ts, pkt, buf :+ msg)
            prevMsgs = Nil
          } else {
            // map miss: buffer as prev_packet (:389-399) — the message
            // APPENDS to whatever the buffer already holds
            prev = row; prevMsgs = buf :+ msg
          }
        }

      } else if (route == ROUTE_APP) {
        if (prev != null) {
          val p = prev
          val pMsgs = prevMsgs
          prev = null; prevMsgs = Nil
          val fMatch = !p.isNullAt(F_COUNT) && !row.isNullAt(F_COUNT) &&
            p.getLong(F_COUNT) == row.getLong(F_COUNT)
          if (fMatch) {
            // pair hit (:415-446): F1 upsert from the app message + enrich
            val da = str(p, DEV_ADDR)
            if (da != null)
              devices.put(da.clone(), Dev(strOwned(row, DEV_EUI), strOwned(row, APP_NAME),
                strOwned(row, DEV_NAME), fromApp = true))
            def orElseD(a: java.lang.Double, b: java.lang.Double) = if (a != null) a else b
            val pkt =
              if (p.isNullAt(PACKET)) null
              else packetOut(p.getStruct(PACKET, PKT_N),
                str(row, DEV_EUI), str(row, APP_NAME), str(row, DEV_NAME),
                orElseD(dbl(row, LATITUDE), dbl(p, LATITUDE)),
                orElseD(dbl(row, LONGITUDE), dbl(p, LONGITUDE)),
                orElseD(dbl(row, ALTITUDE), dbl(p, ALTITUDE)))
            emit(ts, pkt, pMsgs :+ msg)
          } else {
            // f_count mismatch: emit un-enriched (:478-491 via fallthrough)
            emit(ts, ownPacket(p), pMsgs :+ msg)
          }
        }
        // no pending packet: app message dropped (standard_packet stays empty)

      } else if (route == ROUTE_PERR_APP) {
        // rxInfo[0] raises ON PAIR-HIT (:419-427): prev consumed then
        // lost, buffer kept; on f_count mismatch the normal un-enriched
        // flush happens; no prev → inert (same as StateOps.chirpStep)
        if (prev != null) {
          val p = prev
          val pMsgs = prevMsgs
          val fMatch = !p.isNullAt(F_COUNT) && !row.isNullAt(F_COUNT) &&
            p.getLong(F_COUNT) == row.getLong(F_COUNT)
          if (fMatch) {
            prev = null // prevMsgs kept: rides on
          } else {
            prev = null; prevMsgs = Nil
            emit(ts, ownPacket(p), pMsgs :+ msg)
          }
        }

      } else if (route == ROUTE_PERR_APP_EAT) {
        // non-dict app message: raises BEFORE the f_count compare (:416)
        // — prev lost regardless, buffer kept, nothing emitted
        if (prev != null) prev = null

      } else { // raw / unparseable (:450-474)
        flushPrev(ts)
        emit(ts, null, prevMsgs :+ msg)
        prevMsgs = Nil
      }
    }
  }
}
