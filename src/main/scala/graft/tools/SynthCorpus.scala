package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: synthesize a larger corpus from the shipped tables by
  * replication, optionally with a hot-key adversary planted in it — the
  * inputs of the growth-law and skew rows `Profile` records.
  *
  * Replication must not fabricate structure the growth law would then
  * mis-measure: verbatim copies would plant exact/near-dup pairs ACROSS
  * replicas (every doc 10 copies → 45 jaccard-1.0 pairs each — output
  * itself quadratic in replicas), so each replica perturbs content into
  * its own similarity universe while preserving per-doc statistics:
  *  - documents: every word gains a replica suffix ("w" → "w~3") —
  *    within-replica shingle structure, lengths, df shape and the
  *    planted near-dups survive intact; cross-replica shingle sets are
  *    disjoint (Jaccard 0). Vocabulary grows ~linearly with the corpus,
  *    which is what fresh crawl text does.
  *  - embeddings: dimensions rotate by the replica index — norms and
  *    within-replica geometry (cosines, sign buckets, planted ANN
  *    neighbors) are preserved exactly; cross-replica cosines decorrelate.
  *  - customer (for q84 FastSS): names gain the replica suffix, keys
  *    offset — deletion-variant inventories stay disjoint across
  *    replicas.
  * doc_id/vec_id/custkey offsets use a stride far above the source id
  * range, so the id-derived slices (doc_id % 41 benchmark, % 10 = 7
  * increment, split buckets) keep their proportions in every replica.
  *
  * The adversary edits the REPLICATED documents, so its planted text is
  * unsuffixed and hot across every replica (df grows with the corpus):
  *  - boilerplate: docs with doc_id % 10 < 3 gain one fixed footer
  *    sentence — ~4 shingles and ~10 25-char grams with df ≈ 0.3·N;
  *  - dupfam[:every] (default 250): docs with doc_id % every == 1 are
  *    REPLACED by one fixed sentence — one giant identical-doc family,
  *    the q62 connected-components adversary (K ≈ N/every members);
  *  - rundoc[:chars] (default 1,000,000): doc 1 becomes a period-1
  *    character run — the one giant doc a doc sample misses and q99's
  *    big-doc census must catch;
  *  - uniqvocab[:words] (default 8): every doc gains `words` doc-unique
  *    words plus three copies of "the" — the vocabulary grows with the
  *    corpus (past the tokenize join's broadcast cap) with one word hot
  *    inside the shuffle regime.
  * Every adversary build also gives every 300th customer the same name,
  * a duplicate-name family whose FastSS deletion variants are hot keys
  * for q84. n_chars is recomputed from the edited text.
  *
  * Every build writes `_provenance.json` into `outDir` (after the
  * tables, so a dying build leaves none): base path, replicas, tables,
  * the adversary and its size, and an `sf` label — the base dir's
  * `sf<x>` name times the replicas (else the outDir's name).
  *
  * runMain graft.tools.SynthCorpus <srcSfDir> <outDir> <replicas> [tables] [adversary[:size]]
  * (tables: comma list from documents,embeddings,customer, or `all`
  *  (the default). embeddings cap replicas at the embedding dim (rotation
  *  uniqueness); the suffix schemes for documents/customer have no such
  *  ceiling — the sf10 corpus is `<src sf0.1> <out> 100 documents`.)
  */
object SynthCorpus {
  val StampFile = "_provenance.json"
  /** The every-Nth customer that joins the hot duplicate-name family. */
  val FamilyMod = 300L
  private val Tables = Set("documents", "embeddings", "customer")
  /** Each adversary's size parameter and its default (boilerplate has none). */
  private val Sizes = Map("boilerplate" -> None, "dupfam" -> Some(250L),
    "rundoc" -> Some(1000000L), "uniqvocab" -> Some(8L))

  /** A document adversary and its size. */
  final case class Adversary(name: String, size: Option[Long])

  /** `name` or `name:size`. */
  def adversary(arg: String): Adversary = {
    val name = arg.takeWhile(_ != ':')
    val size = arg.split(":", 2).lift(1).map(_.toLong)
    require(Sizes.contains(name), s"adversary must be ${Sizes.keys.mkString("|")}, got $name")
    require(size.isEmpty || Sizes(name).nonEmpty, s"$name takes no size")
    require(size.forall(_ >= 1), s"$name size must be >= 1")
    Adversary(name, size.orElse(Sizes(name)))
  }

  /** The adversary's edit of the `text` column. */
  private def edit(a: Adversary): Column = {
    val (text, id) = (col("text"), col("doc_id"))
    lazy val n = a.size.get
    a.name match {
      case "boilerplate" =>
        when(id % 10 < 3, concat(text, lit(" lorem ipsum dolor sit amet footer"))).otherwise(text)
      case "dupfam" => when(id % n === 1, lit("the quick brown fox jumps over the lazy " +
        "dog while the patient grey owl watches from the old oak tree")).otherwise(text)
      case "rundoc" => when(id === 1, lit("a" * n.toInt)).otherwise(text)
      case "uniqvocab" =>
        // " uq<doc_id>x0 uq<doc_id>x1 …": doc_id is unique across
        // replicas, so the vocabulary grows linearly with the corpus
        concat(text, array_join(transform(sequence(lit(0L), lit(n - 1)),
          i => concat(lit(" uq"), id.cast("string"), lit("x"), i.cast("string"))), ""),
          lit(" the the the"))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 5,
      "usage: SynthCorpus <srcSfDir> <outDir> <replicas> [tables|all] [adversary[:size]]")
    val tables = args.lift(3).filter(_ != "all").fold(Tables)(_.split(",").map(_.trim).toSet)
    val spark = graft.Session.local(graft.Session.cores)
    try build(spark, args(0), args(1), args(2).toInt, tables, args.lift(4).map(adversary))
    finally spark.stop()
  }

  def build(spark: SparkSession, src: String, out: String, reps: Int,
            tables: Set[String], adversary: Option[Adversary]): Unit = {
    // a typo'd table name must fail loudly, not write nothing and print
    // success — a following sweep would then measure a stale corpus
    require(tables.nonEmpty && tables.subsetOf(Tables),
      s"unknown tables ${(tables -- Tables).mkString(",")} — pick from ${Tables.mkString(",")}")
    require(reps >= 1 && reps <= 1024, s"replicas in [1,1024], got $reps")
    Files.createDirectories(Paths.get(out))
    Files.deleteIfExists(Paths.get(out, StampFile))

    val docStride = 1000000L
    // a replicated table is spread over 32 files; an unreplicated one
    // keeps its source's file layout, so an adversary build at replicas 1
    // plans like its base
    def write(table: String, df: org.apache.spark.sql.DataFrame): Unit =
      (if (reps > 1) df.repartition(32) else df)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")

    // r10 ADVICE low 2: the stride must clear the SOURCE id range or
    // replicas silently collide ids and fabricate duplicate structure
    // in the very corpus the dedup growth law is measured on (the
    // embeddings rotation got its reuse guard; the id scheme needs the
    // same). Checked per table against the ids actually read — a
    // larger future source (an sf1 documents table at ≥1M rows) fails
    // loudly here instead of poisoning a sweep.
    // the max row is NULL on an empty source (r11 review: getLong
    // would NPE before the diagnostic) — an empty table collides with
    // nothing, so it passes trivially
    def strideGuard(table: String, maxRow: org.apache.spark.sql.Row,
                    stride: Long): Unit = {
      val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
      require(maxId + 1 <= stride,
        s"$table max source id $maxId collides with replica stride " +
          s"$stride — raise the stride or shrink the source")
    }

    if (tables("documents")) {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    strideGuard("documents",
      docs.agg(max(col("doc_id").cast("long"))).head(), docStride)
    val replicated = (0 until reps).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + lit(r * docStride)).as("doc_id"),
        // one-time generation cost: the interpreted transform lambda is
        // fine here, this is a generator, not an engine path
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"~$r"))), " ").as("text"),
        col("lang"), col("source"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
    write("documents", adversary.fold(replicated)(a => replicated
      .withColumn("text", edit(a))
      .withColumn("n_chars", length(col("text")).cast("long"))))
    }

    if (tables("embeddings")) {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = emb.selectExpr("max(size(embedding)) d").head().getInt(0)
    // rotation uniqueness is what keeps cross-replica cosines
    // decorrelated: if reps exceeded the dimension, replica r and
    // r - dim would share a rotation and every vector would find its
    // own cosine-1.0 twin — quadratic fabricated near-dup structure
    // poisoning the very growth law this corpus exists to measure.
    // Fail loudly instead (the arg-level cap above is table-agnostic;
    // only this guard knows the actual shipped dim).
    require(reps <= dim,
      s"replicas ($reps) must not exceed embedding dim ($dim): dimension " +
        "rotations would repeat and plant cross-replica exact near-dups")
    strideGuard("embeddings",
      emb.agg(max(col("vec_id").cast("long"))).head(), docStride)
    write("embeddings", (0 until reps).map { r =>
      val rot = r % dim
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
      emb.select(
        (col("vec_id") + lit(r * docStride)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ unionByName _))
    }

    if (tables("customer")) {
    val cust = spark.read.parquet(s"$src/customer.parquet")
    strideGuard("customer",
      cust.agg(max(col("c_custkey").cast("long"))).head(), 10000000L)
    val replicated = (0 until reps).map { r =>
      if (r == 0) cust
      else cust
        .withColumn("c_custkey", col("c_custkey") + lit(r * 10000000L))
        .withColumn("c_name", concat(col("c_name"), lit(s"~$r")))
    }.reduce(_ unionByName _)
    write("customer", adversary.fold(replicated)(_ => replicated.withColumn("c_name",
      when(col("c_custkey") % FamilyMod === 0, lit("Customer#HOTFAMILY0000"))
        .otherwise(col("c_name")))))
    }

    val base = Paths.get(src).getFileName.toString
    val sf = scala.util.Try(BigDecimal(base.stripPrefix("sf"))).toOption
      .filter(_ => base.startsWith("sf"))
      .fold(Paths.get(out).getFileName.toString)(x =>
        "sf" + (x * reps).bigDecimal.stripTrailingZeros.toPlainString)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val stamp = om.createObjectNode().put("sf", sf).put("base", src).put("replicas", reps)
      .put("tables", tables.toSeq.sorted.mkString(",")).put("adversary", adversary.map(_.name).orNull)
    adversary.flatMap(_.size).foreach(stamp.put("adversary_size", _))
    if (adversary.nonEmpty && tables("customer")) stamp.put("family_mod", FamilyMod)
    Files.write(Paths.get(out, StampFile), (om.writeValueAsString(stamp) + "\n").getBytes("UTF-8"))
    println(s"[synthcorpus] wrote ${reps}x $src -> $out " +
      s"(${tables.toSeq.sorted.mkString(",")}, ${adversary.fold("no adversary")(_.toString)})")
  }
}
