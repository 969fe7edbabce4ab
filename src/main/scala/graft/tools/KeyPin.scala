package graft.tools

import org.apache.spark.sql.functions._

import graft.codec.{Lorawan, LorawanCrypto}

/** Dev-only: regenerates the q29 oracle's session-key pin for an
  * arbitrary SF dir (r9 verdict task 4 — un-pin q29 from sf0.01 so the
  * sf0.1 parity sweep is total).
  *
  * The q29 oracle checks the JR⋈JA pairing in plain SQL and LEFT-joins
  * a pinned lookup for the AES-derived keys (Packets.q29OracleSql).
  * This tool re-derives that pin for any SF — NOT by running the q29
  * Spark plan, but from the fixture construction directly, the same way
  * the hand-written sf0.01 pin was made:
  *
  *  - pairing: plain Scala over the collected `event_id < 400` slice
  *    (≤400 rows by construction), per-user sort by (ts_us, event_id),
  *    a JR (even event_id) pairs with an immediately-following JA (odd);
  *  - keys: LorawanCrypto.deriveSessionKey on the synthesized inputs
  *    (appKey = hex(user_id) zero-padded to 32, joinNonce = the JA
  *    row's event_id mod 2^24, netId aabbcc, devNonce = the JR row's
  *    event_id mod 2^16) — no packet encode/decode round-trip, so the
  *    pin stays independent of the codec path q29 itself exercises
  *    (the crypto primitive is pinned by LorawanCryptoSpec against the
  *    public-spec derivation, RFC 4493 + LoRaWAN 1.0).
  *
  * Output: the FULL q29 oracle SQL (template + fresh pin) at
  * tools/pins/q29_<sfname>.sql, consumed by
  * `tools/parity.py --oracle-override q29_session_keys=<file>`.
  * Run on sf0.01 the emitted SQL must equal the committed oracle entry
  * byte-for-byte — the tool checks and says so.
  *
  * runMain graft.tools.KeyPin [sfDir] [outPath]
  */
object KeyPin {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outPath = if (args.length > 1) args(1)
      else s"tools/pins/q29_${new java.io.File(sfDir).getName}.sql"

    val spark = graft.Session.local(graft.Session.cores)

    val rows = graft.Tables.events(spark, sfDir)
      .filter(col("event_id") < 400)
      .select(col("event_id"), col("user_id"), col("ts_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val pairs = rows.groupBy(_._2).toSeq.flatMap { case (user, es) =>
      val sorted = es.sortBy(e => (e._3, e._1))
      sorted.zip(sorted.drop(1)).collect {
        case (jr, ja) if jr._1 % 2 == 0 && ja._1 % 2 == 1 =>
          (jr._1, user, ja._1)
      }
    }.sortBy(_._1)

    val netIdLe = Lorawan.hexToLe("aabbcc")
    val pinRows = pairs.map { case (jrId, user, jaId) =>
      val appKey = Lorawan.hexToBytes(f"$user%032x")
      val joinNonce = (jaId % 16777216L).toInt
      val devNonce = (jrId % 65536L).toInt
      val nwk = LorawanCrypto.deriveSessionKey(0x01, appKey, joinNonce, netIdLe, devNonce)
      val app = LorawanCrypto.deriveSessionKey(0x02, appKey, joinNonce, netIdLe, devNonce)
      s"  ($jrId, '${Lorawan.hex(nwk, 0, 16)}', '${Lorawan.hex(app, 0, 16)}')"
    }.mkString(",\n")
    val sql = graft.queries.Packets.q29OracleSql(pinRows)

    val out = java.nio.file.Paths.get(outPath)
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (sql + "\n").getBytes("UTF-8"))
    println(s"[keypin] ${pairs.size} JR⋈JA pairs → $outPath")

    val committed = graft.queries.Packets.oracle("q29_session_keys")
    if (sql == committed)
      println("[keypin] emitted SQL == committed sf0.01 oracle entry (pin verified)")
    else
      println("[keypin] emitted SQL differs from the committed oracle entry " +
        "(expected for any SF other than sf0.01)")
    spark.stop()
  }
}
