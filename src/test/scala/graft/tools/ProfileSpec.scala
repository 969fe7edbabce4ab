package graft.tools

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSuite

import scala.jdk.CollectionConverters._

class ProfileSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** ScaleSweep's columns, SkewProbe's skew columns, and the dir's
    * provenance. */
  private val keys = Set("sf", "adversary", "query", "rows",
    "wall_s", "wall_cold_s", "task_cpu_s", "shuffle_write_b", "shuffle_read_b",
    "spill_mem_b", "spill_disk_b", "tasks", "stages", "volatile_cols",
    "dominant_stage", "worst_meaningful_ratio", "worst_loaded_ratio",
    "worst_loaded_rows_ratio", "stages_top3")

  /** Columns that depend only on plan and data. */
  private val deterministic =
    Seq("sf", "adversary", "query", "rows", "shuffle_write_b", "shuffle_read_b", "stages")

  private def rows(path: String): Seq[JsonNode] =
    new ObjectMapper().readTree(Paths.get(path).toFile).elements.asScala.toSeq

  private def fixed(r: JsonNode) = deterministic.map(k => r.get(k).toString)

  test("one row per (dir, query); stages/tasks leave the row alone; a rerun appends") {
    val plain = Files.createTempDirectory("graft_prof").toString
    val hot = Files.createTempDirectory("graft_prof").toString
    SynthCorpus.build(spark, sf, plain, 1, Set("documents"), None)
    SynthCorpus.build(spark, sf, hot, 1, Set("documents"),
      Some(SynthCorpus.adversary("boilerplate")))
    val out = Files.createTempDirectory("graft_prof").resolve("rows.json").toString
    val q = Seq("q32_dedup_exact")

    Profile.run(spark, out, Seq(plain, hot), q, None)
    val first = rows(out)
    assert(first.size == 2)
    first.foreach(r => assert(r.fieldNames.asScala.toSet == keys, r.toString))
    assert(first.map(r => (r.get("sf").asText, r.get("adversary").isNull)) ==
      Seq(("sf0.001", true), ("sf0.001", false)))
    assert(first(1).get("adversary").asText == "boilerplate")
    assert(first.forall(r => r.get("rows").asLong > 0 && r.get("stages").asInt > 0))

    for (detail <- Seq("stages", "tasks")) {
      val printed = new java.io.ByteArrayOutputStream
      Console.withOut(printed)(Profile.run(spark, out, Seq(plain, hot), q, Some(detail)))
      val again = rows(out).takeRight(2)
      assert(again.map(fixed) == first.map(fixed), detail)
      again.foreach(r => assert(r.fieldNames.asScala.toSet == keys, r.toString))
      if (detail == "stages")
        assert(printed.toString.linesIterator.exists(_.trim.startsWith("stage ")), printed.toString)
    }
    val all = rows(out)
    assert(all.size == 6)
    // appending keeps the earlier rows as they were
    assert(all.take(2) == first)
  }
}
