package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SynthCorpusSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def texts(dir: String): Map[Long, String] =
    spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("each adversary edits exactly its documented docs and stamps the build") {
    val base = texts(sf)
    val baseNames = spark.read.parquet(s"$sf/customer.parquet")
      .collect().map(r => r.getAs[Long]("c_custkey") -> r.getAs[String]("c_name")).toMap
    val cases: Seq[(String, Long => Boolean, (Long, String) => String)] = Seq(
      ("boilerplate", id => id % 10 < 3, (_, t) => t + " lorem ipsum dolor sit amet footer"),
      ("dupfam", id => id % 250 == 1, (_, _) =>
        "the quick brown fox jumps over the lazy dog while the patient grey owl watches from the old oak tree"),
      ("rundoc:1000", id => id == 1, (_, _) => "a" * 1000),
      ("uniqvocab:2", _ => true, (id, t) => t + s" uq${id}x0 uq${id}x1" + " the the the"))
    for ((arg, edited, expected) <- cases) {
      val out = Files.createTempDirectory("graft_synth").toString
      SynthCorpus.build(spark, sf, out, 1, Set("documents", "customer"),
        Some(SynthCorpus.adversary(arg)))
      val got = texts(out)
      assert(got.keySet == base.keySet, arg)
      base.foreach { case (id, t) =>
        assert(got(id) == (if (edited(id)) expected(id, t) else t), s"$arg doc $id")
      }
      val stale = spark.read.parquet(s"$out/documents.parquet")
        .filter(col("n_chars") =!= length(col("text"))).count()
      assert(stale == 0, s"$arg: n_chars disagrees with the text on $stale docs")
      // the q84 hot family rides every adversary build
      spark.read.parquet(s"$out/customer.parquet").collect().foreach { r =>
        val (k, name) = (r.getAs[Long]("c_custkey"), r.getAs[String]("c_name"))
        assert(name == (if (k % SynthCorpus.FamilyMod == 0) "Customer#HOTFAMILY0000"
          else baseNames(k)), s"$arg customer $k")
      }
      val stamp = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Paths.get(out, SynthCorpus.StampFile).toFile)
      assert(stamp.get("adversary").asText == arg.takeWhile(_ != ':'), stamp.toString)
      assert(stamp.get("sf").asText == "sf0.001", stamp.toString)
    }
  }

  test("a replicated build without an adversary stamps sf as base sf times replicas") {
    val out = Files.createTempDirectory("graft_synth").toString
    SynthCorpus.build(spark, sf, out, 3, Set("documents"), None)
    assert(texts(out).size == 3 * texts(sf).size)
    val stamp = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(out, SynthCorpus.StampFile).toFile)
    assert(stamp.get("sf").asText == "sf0.003" && stamp.get("adversary").isNull, stamp.toString)
    assert(!Files.exists(Paths.get(out, "customer.parquet")))
  }

  test("an unknown adversary or a size on boilerplate fails loudly") {
    intercept[IllegalArgumentException](SynthCorpus.adversary("hotkeys"))
    intercept[IllegalArgumentException](SynthCorpus.adversary("boilerplate:3"))
    assert(SynthCorpus.adversary("dupfam") == SynthCorpus.Adversary("dupfam", Some(250L)))
  }
}
