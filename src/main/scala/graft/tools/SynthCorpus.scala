package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only: synthesize an sf1-equivalent corpus from the driver's sf0.1
  * tables, extending the ScaleSweep growth law one more decade without
  * requiring driver testdata (r8-verdict task 5).
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
  * runMain graft.tools.SynthCorpus <srcSfDir> <outDir> <replicas> [tables]
  * (tables: comma list from documents,embeddings,customer — default all.
  *  embeddings cap replicas at the embedding dim (rotation uniqueness);
  *  the suffix schemes for documents/customer have no such ceiling, so
  *  a documents-only build can go another decade — the r10 sf10 corpus
  *  is `... /tmp/synth/sf10 100 documents,customer`.)
  */
object SynthCorpus {
  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val reps = args(2).toInt
    val knownTables = Set("documents", "embeddings", "customer")
    val tables: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet
      else knownTables
    // a typo'd table name must fail loudly, not write nothing and print
    // success — a following sweep would then measure a stale corpus
    require(tables.nonEmpty && tables.subsetOf(knownTables),
      s"unknown tables ${(tables -- knownTables).mkString(",")} — " +
        s"pick from ${knownTables.mkString(",")}")
    require(reps >= 1 && reps <= 1024, s"replicas in [1,1024], got $reps")
    val spark = graft.Session.local(graft.Session.cores)

    val docStride = 1000000L

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
    (0 until reps).map { r =>
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
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
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
    (0 until reps).map { r =>
      val rot = r % dim
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
      emb.select(
        (col("vec_id") + lit(r * docStride)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    if (tables("customer")) {
    val cust = spark.read.parquet(s"$src/customer.parquet")
    strideGuard("customer",
      cust.agg(max(col("c_custkey").cast("long"))).head(), 10000000L)
    (0 until reps).map { r =>
      if (r == 0) cust
      else cust
        .withColumn("c_custkey", col("c_custkey") + lit(r * 10000000L))
        .withColumn("c_name", concat(col("c_name"), lit(s"~$r")))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    }

    println(s"[synthcorpus] wrote ${reps}x $src -> $out " +
      s"(${tables.toSeq.sorted.mkString(",")})")
    spark.stop()
  }
}
