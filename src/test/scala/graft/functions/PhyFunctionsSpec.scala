package graft.functions

import graft.SparkSuite
import graft.codec.{Lorawan, LorawanCrypto}
import org.apache.spark.sql.functions._

/** Spark-level codec surface: FRMPayload decrypt UDF and envelope sink
  * path not already covered by q20/q29/NormalizeSpec. */
class PhyFunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("frm_decrypt recovers plaintext through the DataFrame API") {
    val key = Array.tabulate[Byte](16)(_.toByte)
    val keyHex = Lorawan.hex(key, 0, 16)
    val plain = "hello lorawan!".getBytes("UTF-8")
    val enc = LorawanCrypto.cryptFrmPayload(key, Lorawan.hexToLe("017fc1c4"),
      17L, uplink = true, plain)
    val out = Seq((enc, "017fc1c4", 17L)).toDF("frm", "dev_addr", "f_count")
      .select(PhyFunctions.frmDecrypt(col("frm"), col("dev_addr"),
        col("f_count"), lit(true), lit(keyHex)).as("dec"))
      .collect().head.getAs[Array[Byte]]("dec")
    assert(new String(out, "UTF-8") == "hello lorawan!")
  }

  test("envelope file sink writes partitioned parquet (K1)") {
    implicit val s = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.state.StateOps.Rec]
    val envs = graft.streaming.Pipeline.envelopeFrame(
      graft.streaming.Pipeline.chirpEnvelopes(stream.toDS()))
    val out = java.nio.file.Files.createTempDirectory("envsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("envckpt").toString
    val q = graft.streaming.Pipeline.startEnvelopeSink(envs, out, ckpt)
    try {
      stream.addData(graft.state.StateOps.Rec(1, 5L, "raw", Some("t"), "m",
        None, None, None, None, None, None, None, None, None, None, 1234L))
      q.processAllAvailable()
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(out, "_spark_metadata")))
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(out, "data_collector_id=5")))
      val rows = spark.read.parquet(out)
      assert(rows.count() == 1)
      // partition column type is re-inferred on read (int) — compare by value
      assert(rows.select("data_collector_id").head.get(0).toString == "5")
      assert(rows.select("ts").head.getLong(0) == 1234L)
      // raw-log envelope: no packet, one message
      assert(rows.select("packet").head.isNullAt(0))
      assert(rows.selectExpr("size(messages)").head.getInt(0) == 1)
    } finally q.stop()
  }
}
