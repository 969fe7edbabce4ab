package graft.state

import graft.SparkSuite
import graft.state.StateOps.{Rec, VerifOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** F5 via Spark 4 transformWithState: the gate's emission contract and
  * the in-plan 600 s (here: 1.5 s) verification timer. */
class VerifProcessorSpec extends SparkSuite {

  private def rec(seq: Long, cid: Long): Rec =
    Rec(seq, cid, "radio", Some(s"t$seq"), "m",
      None, None, None, None, None, None, None, None, None, 1000 + seq)

  test("gate + in-plan timer: flip emits, pre-verification rows skip, timeout fails") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Rec]
      // odd seq fails verification; collector 1 sees enough passes to
      // verify, collector 2 never does and must FAILED_VERIFY on expiry
      val out = stream.toDS()
        .groupByKey(_.collectorId)
        .transformWithState(
          new VerifProcessor(passes = r => r.seq % 2 == 0, timeoutMs = 1500L),
          TimeMode.ProcessingTime(),
          OutputMode.Append())
      val q = out.writeStream.format("memory").queryName("verif_tws")
        .outputMode(OutputMode.Append).start()
      // ProcessingTime time-mode runs continuous timer-check batches, so
      // the query is never "caught up" and processAllAvailable would
      // block forever — poll the sink for the expected condition instead
      def waitFor(what: String)(cond: Array[VerifOut] => Boolean): Array[VerifOut] = {
        val deadline = System.currentTimeMillis() + 60000
        var rows = spark.table("verif_tws").as[VerifOut].collect()
        while (!cond(rows)) {
          assert(System.currentTimeMillis() < deadline, s"timed out waiting: $what")
          Thread.sleep(200)
          rows = spark.table("verif_tws").as[VerifOut].collect()
        }
        rows
      }
      try {
        // c1: one fail then passes — crosses at the 6th record (5/6 > 0.8)
        stream.addData((1L to 12L).filter(i => i % 2 == 0 || i == 1).map(rec(_, 1L)): _*)
        // c2: all fails — never verifies
        stream.addData(Seq(1L, 3L, 5L).map(rec(_, 2L)): _*)
        val first = waitFor("c1 flip")(_.exists(_.statusChange.contains(true)))
        val c1 = first.filter(_.collectorId == 1L)
        // pre-verification passing rows are SKIPPED; the crossing record
        // (seq=10: total 6, ok 5) is emitted, then the flip, then the
        // post-verification record (seq=12) passes through
        assert(c1.flatMap(_.rec).map(_.seq).toSeq.sorted == Seq(10L, 12L))
        assert(first.count(_.statusChange.contains(false)) == 0) // no timeout yet

        // both collectors' 1.5 s timers expire; c2 (unverified) must
        // FAILED_VERIFY, c1 (verified) must not
        val all = waitFor("c2 timeout")(_.exists(_.statusChange.contains(false)))
        assert(all.count(_.statusChange.contains(false)) == 1)
        // the timer emission carries the failing collector's id (K2 needs it)
        assert(all.filter(_.statusChange.contains(false)).forall(_.collectorId == 2L))
        // and the K2 adapter renders it as a FAILED_VERIFY status event
        val status = graft.streaming.Events
          .verifStatusFrame(spark.table("verif_tws"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(status.contains((2L, "FAILED_VERIFY")))
        assert(status.contains((1L, "VERIFIED")))

        // and the gate keeps passing post-verification traffic through
        stream.addData(rec(100L, 1L))
        waitFor("post-verify passthrough")(_.flatMap(_.rec).map(_.seq).contains(100L))

        // post-timeout traffic for a FAILED collector is dropped (the
        // reference disconnects and sets disabled=True): a late burst of
        // passing records that would otherwise cross the threshold
        // (3 fails + 16 passes = 16/19 > 0.8) must emit NOTHING for c2
        stream.addData((200L to 230L by 2L).map(rec(_, 2L)): _*)
        stream.addData(rec(102L, 1L)) // marker: proves the burst was processed
        val fin = waitFor("c1 marker after c2 burst")(
          _.flatMap(_.rec).map(_.seq).contains(102L))
        assert(fin.filter(_.collectorId == 2L).flatMap(_.rec).isEmpty)
        assert(fin.count(_.statusChange.contains(true)) == 1) // only c1's flip ever
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
