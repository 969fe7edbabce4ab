package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** The native JaccardSim/ContainmentSim expressions: bit-identical to
  * the UDF twins they replaced in the dedup verify joins (q33/q34/q76/
  * q88), with the documented edge semantics (both-empty → 0.0 for
  * Jaccard, empty-a → 0.0 for containment), and usable from SQL. */
class SetSimExpressionsSpec extends SparkSuite {
  import spark.implicits._

  private def sets = Seq(
    (1L, Array("a b c", "b c d", "c d e"), Array("b c d", "c d e", "x y z")),
    (2L, Array("a b c"), Array("a b c")),
    (3L, Array.empty[String], Array.empty[String]),
    (4L, Array.empty[String], Array("a b c")),
    (5L, Array("a b c", "q r s"), Array.empty[String]),
    (6L, (1 to 200).map(i => s"w$i a b").toArray, (101 to 300).map(i => s"w$i a b").toArray))
    .toDF("id", "a", "b")

  test("expression values match the UDF kernels bit-for-bit") {
    val rows = sets
      .withColumn("je", GraftFunctions.jaccardSim(col("a"), col("b")))
      .withColumn("ju", TextFunctions.jaccard(col("a"), col("b")))
      .withColumn("ce", GraftFunctions.containmentSim(col("a"), col("b")))
      .withColumn("cu", TextFunctions.containment(col("a"), col("b")))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(4)), s"jaccard id=${r.getLong(0)}")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(5)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(6)), s"containment id=${r.getLong(0)}")
    }
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getDouble(3) == 1.0)
    assert(byId(3L).getDouble(3) == 0.0) // both empty → 0.0, not NaN
    assert(byId(4L).getDouble(5) == 0.0) // empty a → containment 0.0
    assert(byId(6L).getDouble(3) == 100.0 / 300.0)
    assert(byId(6L).getDouble(5) == 0.5)
  }

  test("native MinHashSig matches the UDF kernel element-for-element") {
    val rows = Seq(
      (1L, Array("a b c", "b c d", "c d e", "x y z")),
      (2L, Array("a b c")),
      (3L, Array.empty[String]))
      .toDF("id", "sh")
      .withColumn("e", GraftFunctions.minhashSig(col("sh")))
      .withColumn("u", TextFunctions.minhashSig(col("sh")))
      .collect()
    rows.foreach { r =>
      val e = r.getSeq[Long](2)
      val u = r.getSeq[Long](3)
      assert(e == u, s"id=${r.getLong(0)}")
      assert(e.length == 128)
    }
    // empty set → all-MaxValue signature, same as the UDF
    assert(rows.find(_.getLong(0) == 3L).get.getSeq[Long](2).forall(_ == Long.MaxValue))
  }

  test("SQL registration: graft_jaccard / graft_containment") {
    GraftFunctions.ensureRegistered(spark)
    sets.createOrReplaceTempView("ss")
    val out = spark.sql(
      "SELECT graft_jaccard(a, b) j, graft_containment(a, b) c FROM ss WHERE id = 1").collect().head
    assert(out.getDouble(0) == 2.0 / 4.0)
    assert(out.getDouble(1) == 2.0 / 3.0)
    val ns = spark.sql("SELECT size(graft_minhash_sig(a)) ns FROM ss WHERE id = 6")
      .collect().head.getInt(0)
    assert(ns == 128)
    // graft_shingles is the native WordNgrams kernel, not a UDF
    val sh = spark.sql("SELECT graft_shingles(t) sh FROM VALUES ('a b c d a b c') AS v(t)")
    val analyzed = sh.queryExecution.analyzed
    assert(analyzed.expressions.exists(_.exists {
      case WordNgrams(_, 3, true) => true
      case _ => false
    }), analyzed.treeString)
    assert(sh.head().getSeq[String](0) == Seq("a b c", "b c d", "c d a", "d a b"))
  }

  test("native SrpSig matches the reference loop; SQL + analysis gate") {
    // reference implementation: the exact arithmetic the former UDF ran
    def ref(v: Array[Float]): Int = {
      var sig = 0
      var b = 0
      while (b < SrpKernel.SrpBits) {
        var acc = 0.0
        var j = 0
        while (j < v.length) {
          acc += (SrpKernel.mix64((b.toLong << 32) | j.toLong).toDouble /
            Long.MaxValue) * v(j)
          j += 1
        }
        if (acc >= 0) sig |= (1 << b)
        b += 1
      }
      sig
    }
    val vecs = Seq(
      (1L, Array(0.5f, -1.25f, 3.5f, 0.0f)),
      (2L, Array.fill(64)(0.01f)),
      (3L, (0 until 64).map(i => ((i % 7) - 3).toFloat).toArray),
      (4L, Array.empty[Float]))
    val out = vecs.toDF("id", "v")
      .withColumn("sig", GraftFunctions.srpSig(col("v")))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    vecs.foreach { case (id, v) => assert(out(id) == ref(v), s"id=$id") }
    // empty vector: every acc is 0.0 >= 0 → all bits set
    assert(out(4L) == 255)
    GraftFunctions.ensureRegistered(spark)
    vecs.take(1).toDF("id", "v").createOrReplaceTempView("srp_v")
    assert(spark.sql("SELECT graft_srp_sig(v) FROM srp_v").collect()
      .head.getInt(0) == ref(vecs.head._2))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_srp_sig(7)").collect())
    assert(e.getMessage.toLowerCase.contains("requires"))
  }

  test("SQL: bad types fail at analysis") {
    GraftFunctions.ensureRegistered(spark)
    // a wrong-typed argument must be an ANALYSIS error (clear message),
    // not a codegen failure + interpreted-path CCE
    Seq("SELECT graft_jaccard(1, 2)",
        "SELECT graft_containment(array('x'), 'y')",
        "SELECT graft_minhash_sig(7)",
        "SELECT graft_dot(array('a'), array('b'))").foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getMessage.toLowerCase.contains("requires"), s"$q → ${e.getMessage}")
    }
  }

  test("null inputs yield null, not a crash") {
    val out = Seq((Option.empty[Array[String]], Option(Array("a"))))
      .toDF("a", "b")
      .select(GraftFunctions.jaccardSim(col("a"), col("b")).as("j"),
        GraftFunctions.containmentSim(col("a"), col("b")).as("c"))
      .collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("duplicate elements: kernel matches the UDF twins' bag semantics exactly") {
    // the review-found divergence: a build-over-the-smaller-side trick
    // made graft_jaccard(['x','x'],['x']) read 2.0 (similarity > 1!)
    // while the UDF twin read 0.5 — direction must be FIXED
    val df = Seq((Array("x", "x"), Array("x")),
      (Array("x"), Array("x", "x")),
      (Array("a", "a", "b"), Array("a", "c", "c")))
      .toDF("a", "b")
    val rows = df.select(
      GraftFunctions.jaccardSim(col("a"), col("b")).as("jk"),
      graft.functions.TextFunctions.jaccard(col("a"), col("b")).as("ju"),
      GraftFunctions.containmentSim(col("a"), col("b")).as("ck"),
      graft.functions.TextFunctions.containment(col("a"), col("b")).as("cu"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"jaccard ${r.toString}")
      assert(r.getDouble(2) == r.getDouble(3), s"containment ${r.toString}")
    }
    // the documented contract is SHINGLE SETS (GraftFunctions.shingles
    // emits distinct arrays); duplicate-carrying input is out-of-set
    // bag semantics where the measure may exceed 1 — what this pin
    // guarantees is that both implementations say the SAME thing there
    assert(rows(0).getDouble(0) == 0.5) // ['x','x'] vs ['x']: set over a
  }

  test("null ELEMENTS are skipped identically by kernels and UDF twins") {
    val sh = Array("alpha", null, "beta", null)
    val noNulls = Array("alpha", "beta")
    val df = Seq((sh, noNulls)).toDF("withNulls", "clean")
    val r = df.select(
      GraftFunctions.minhashSig(col("withNulls")).as("kn"),
      graft.functions.TextFunctions.minhashSig(col("withNulls")).as("un"),
      GraftFunctions.minhashSig(col("clean")).as("kc"),
      GraftFunctions.hashedShingles(col("withNulls")).as("hn"),
      GraftFunctions.hashedShingles(col("clean")).as("hc"))
      .collect().head
    // kernel == UDF on null-carrying input (bit-equality pin extended)
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    // nulls contribute nothing to the signature
    assert(r.getSeq[Long](0) == r.getSeq[Long](2))
    // the verify prefilter's hash image skips them the same way
    assert(r.getSeq[Long](3) == r.getSeq[Long](4))
  }

  test("native CharGrams matches the quadratic SQL twin row-for-row, multibyte included (r13)") {
    // The kernel replaced the transform+substring form because that
    // form is O(n²) per document (UTF8String.substring scans from byte
    // 0 to find codepoint i — caught live at ~25 min/core for one
    // 1 M-char doc on the rundoc probe). Semantics must be IDENTICAL:
    // positions are codepoint indices, windows are codepoint windows —
    // multibyte text is where a byte-sliced reimplementation would
    // diverge first, so the fixture leans on it.
    val L = 5
    val docs = Seq(
      "abcdefghij",                      // plain ascii
      "abcd",                            // shorter than L → empty
      "abcde",                           // exactly L → one gram
      "",                                // empty
      "héllo wörld ünïcode tëxt",        // 2-byte codepoints mixed in
      "日本語のテキストです、これはテスト", // 3-byte codepoints
      "a😀b😀c😀d😀e😀f😀",              // 4-byte (surrogate-pair) codepoints
      "aaaaaaaaaaaaaaaaaaaa",            // the period-1 run shape
      null.asInstanceOf[String])         // NULL text → [] on BOTH sides
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    import spark.implicits._
    val df = docs.toDF("id", "text")
    val sqlTwin = expr(
      s"""CASE WHEN length(text) >= $L
         |     THEN transform(sequence(0, length(text) - $L),
         |                    i -> struct(CAST(i AS BIGINT) AS pos,
         |                                substring(text, i + 1, $L) AS gram))
         |     ELSE array() END""".stripMargin)
    val rows = df.select(col("id"),
        GraftFunctions.charGrams(col("text"), L).as("k"), sqlTwin.as("s"))
      .collect()
    rows.foreach { r =>
      val k = r.getSeq[org.apache.spark.sql.Row](1)
      val s = r.getSeq[org.apache.spark.sql.Row](2)
      assert(k == s, s"id=${r.getLong(0)}: kernel $k vs sql $s")
    }
  }

  test("CharChunks partitions the gram stream exactly: chunked == direct, multibyte included (r14)") {
    // q99Grams' big-corpus path explodes chunks first and grams inside
    // each chunk at global position chunkStart + localPos; the whole
    // point is that this is ROW-IDENTICAL to CharGrams over the full
    // text (each global gram position lands in exactly one chunk).
    // Strides are chosen to hit every boundary class: stride < L,
    // stride == L, stride larger than most docs, and a stride that
    // divides/doesn't divide the doc length. Multibyte text pins the
    // codepoint (not byte) chunk arithmetic.
    val L = 5
    val rnd = new scala.util.Random(0xc4a9)
    def randDoc(n: Int): String = {
      val sb = new java.lang.StringBuilder
      (0 until n).foreach { _ =>
        sb.appendCodePoint(rnd.nextInt(4) match {
          case 0 => 'a' + rnd.nextInt(26)
          case 1 => 0xE9                     // é (2-byte)
          case 2 => 0x65E5                   // 日 (3-byte)
          case _ => 0x1F600                  // 😀 (4-byte)
        })
      }
      sb.toString
    }
    val docs = (Seq("", "abc", "abcde", "a" * 100, randDoc(1), randDoc(4),
        randDoc(5), randDoc(63), randDoc(64), randDoc(65), randDoc(997),
        null.asInstanceOf[String]) ++ (1 to 20).map(_ => randDoc(1 + rnd.nextInt(300))))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    import spark.implicits._
    val df = docs.toDF("id", "text")
    for (stride <- Seq(3, 5, 64, 256)) {
      val chunked = df
        .select(col("id"),
          explode(GraftFunctions.charChunks(col("text"), stride, L)).as("ch"))
        .select(col("id"),
          col("ch.start").as("cs"),
          explode(GraftFunctions.charGrams(col("ch.chunk"), L)).as("x"))
        .select(col("id"), (col("cs") + col("x.pos")).as("pos"),
          col("x.gram").as("gram"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      val direct = df
        .select(col("id"), explode(GraftFunctions.charGrams(col("text"), L)).as("x"))
        .select(col("id"), col("x.pos").as("pos"), col("x.gram").as("gram"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(chunked == direct, s"stride=$stride")
      // exactly-once: no duplicated (id, pos) across chunk boundaries
      assert(chunked.map(t => (t._1, t._2)).distinct.size == chunked.size,
        s"stride=$stride duplicated positions")
    }
    // chunk count + coverage arithmetic, pinned directly on the kernel
    import org.apache.spark.unsafe.types.UTF8String
    def chunksOf(t: String, c: Int): Seq[(Long, String)] = {
      val a = graft.functions.CharChunksKernel
        .eval(UTF8String.fromString(t), c, L)
      (0 until a.numElements()).map { i =>
        val row = a.getStruct(i, 2)
        (row.getLong(0), row.getUTF8String(1).toString)
      }
    }
    assert(chunksOf("", 4) == Seq((0L, "")))            // degenerate: 1 empty chunk
    assert(chunksOf("abc", 4) == Seq((0L, "abc")))      // < L: 1 chunk, no grams
    assert(chunksOf("abcdefghij", 4) ==                  // nGrams=6 → 2 chunks, L−1 overlap
      Seq((0L, "abcdefgh"), (4L, "efghij")))
    assert(chunksOf("abcdefghi", 4) ==                   // nGrams=5 → 2 chunks, short tail
      Seq((0L, "abcdefgh"), (4L, "efghi")))
  }

  test("LiteralSplit matches builtin split(str, sep, -1) exactly (r15)") {
    // randomized strings over a small alphabet rich in separators +
    // multibyte chars; both the " " and "  " separators the engine uses
    val rnd = new scala.util.Random(42)
    val alphabet = "a b  cß€ \ud83d\ude00 "
    val cases = Seq("", " ", "  ", "a", "a b", " a", "a ", "a  b", "   ") ++
      (1 to 200).map(_ => (1 to rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (sep <- Seq(" ", "  ")) {
      val df = cases.toDF("t")
        .withColumn("b", split(col("t"), sep))
        .withColumn("n", GraftFunctions.litSplit(col("t"), sep))
      df.collect().foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"sep='$sep' t='${r.getString(0)}'")
      }
    }
    // null propagates like the builtin
    val nr = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t")
      .select(split(col("t"), " ").as("b"), GraftFunctions.litSplit(col("t"), " ").as("n"))
      .head()
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("LiteralSplitWords matches filter(split(...), w -> w <> '') exactly (r15)") {
    val rnd = new scala.util.Random(43)
    val alphabet = "a b  cß€ 😀 "
    val cases = Seq("", " ", "  ", "a", "a b", " a", "a ", "a  b", "   ") ++
      (1 to 200).map(_ => (1 to rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (sep <- Seq(" ", "  ")) {
      val df = cases.toDF("t")
        .withColumn("b", expr(s"filter(split(t, '$sep'), w -> w <> '')"))
        .withColumn("n", GraftFunctions.litSplitWords(col("t"), sep))
      df.collect().foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"sep='$sep' t='${r.getString(0)}'")
      }
    }
    // null propagates like the SQL form
    val nr = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t")
      .select(expr("filter(split(t, ' '), w -> w <> '')").as("b"),
        GraftFunctions.litSplitWords(col("t"), " ").as("n"))
      .head()
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("WordNgrams matches a split/slice/array_join SQL twin; non-null elements, null text → []") {
    val texts = Seq(null, "", " ", "a", "a b", "a b c", "a  b c ", "  a b  ",
      " x x x x x x", "the cat the cat the cat",
      "héllo wörld 日本語 😀 héllo wörld 日本語 😀", "a😀b ß€  テスト a😀b ß€")
    // the repartition keeps ConvertToLocalRelation from folding the
    // projection into an interpreted eval: this case runs the codegen path
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .repartition(2)
    for (n <- Seq(1, 2, 3, 4); distinct <- Seq(true, false)) {
      val w = "split(text, ' ', -1)"
      val all =
        s"""CASE WHEN size($w) >= $n
           |     THEN transform(sequence(1, size($w) - $n + 1),
           |                    i -> array_join(slice($w, i, $n), ' '))
           |     ELSE array() END""".stripMargin
      val twin = expr(if (distinct) s"array_distinct($all)" else all)
      val out = df.select(col("id"), col("text"),
        GraftFunctions.wordNgrams(col("text"), n, distinct).as("k"), twin.as("s"))
      assert(out.schema("k").dataType == ArrayType(StringType, containsNull = false))
      assert(!out.schema("k").nullable)
      out.collect().foreach { r =>
        val k = r.getSeq[String](2)
        if (r.isNullAt(1)) assert(k.isEmpty, s"n=$n distinct=$distinct null text: $k")
        else assert(k == r.getSeq[String](3),
          s"n=$n distinct=$distinct t='${r.getString(1)}': kernel $k vs sql ${r.getSeq[String](3)}")
      }
    }
  }

  test("PosOrderedSum matches aggregate(array_sort(pp), ...) bitwise (r15)") {
    // distinct pos per array (the lmFold contract); p spans the full
    // double space — NaN, ±0.0, denormals, mixed magnitudes — under
    // shuffled input orders, so the pin is on the fold ORDER, bitwise
    val rnd = new scala.util.Random(11)
    def randD(): Double = rnd.nextInt(6) match {
      case 0 => java.lang.Double.longBitsToDouble(rnd.nextLong())
      case 1 => -0.0
      case 2 => 0.0
      case _ => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(8) - 4)
    }
    val cases: Seq[Seq[(Int, Double)]] = Seq(Seq(), Seq((0, 1.5))) ++
      (1 to 200).map { _ =>
        val n = rnd.nextInt(30)
        rnd.shuffle((0 until 3 * (n + 1)).toList).take(n).map(p => (p, randD()))
      }
    val df = cases.toDF("pp0")
      .select(expr("transform(pp0, x -> struct(x._1 AS pos, x._2 AS p))").as("pp"))
      .withColumn("b", expr(
        "aggregate(array_sort(pp), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.p)"))
      .withColumn("n", GraftFunctions.posOrderedSum(col("pp")))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"pp=${r.get(0)}")
    }
    // NULL array and NULL p both yield NULL, like the twin
    val nulls = Seq("null", "array(struct(0, CAST(NULL AS DOUBLE)))",
      "array(struct(1, 1.0D), struct(0, CAST(NULL AS DOUBLE)))")
    nulls.foreach { lit =>
      val r = spark.sql(
        s"""SELECT aggregate(array_sort(pp), CAST(0.0 AS DOUBLE),
           |         (acc, x) -> acc + x.p) b
           |FROM (SELECT CAST($lit AS ARRAY<STRUCT<pos: INT, p: DOUBLE>>) pp)"""
          .stripMargin)
        .withColumn("n", GraftFunctions.posOrderedSum(
          expr(s"CAST($lit AS ARRAY<STRUCT<pos: INT, p: DOUBLE>>)")))
        .head()
      assert(r.isNullAt(0) && r.isNullAt(1), s"case $lit")
    }
  }

  test("PosOrderedSum rejects duplicate pos LOUDLY (r16: contract tripwire)") {
    // with duplicate pos the SQL twin breaks ties on p while the packed
    // kernel would break them on input index — the kernel must throw
    // instead of silently diverging bitwise (r15 ADVICE)
    val ex = intercept[Exception] {
      Seq(Seq((3, 1.0), (3, 2.0), (1, 0.5))).toDF("pp0")
        .select(expr("transform(pp0, x -> struct(x._1 AS pos, x._2 AS p))").as("pp"))
        .withColumn("n", GraftFunctions.posOrderedSum(col("pp")))
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).exists(t => Option(t.getMessage).exists(
        _.contains("distinct-pos contract"))), ex.toString)
    // distinct pos (any order) still evaluates fine next to the tripwire
    val ok = Seq(Seq((3, 1.0), (2, 2.0), (1, 0.5))).toDF("pp0")
      .select(expr("transform(pp0, x -> struct(x._1 AS pos, x._2 AS p))").as("pp"))
      .withColumn("n", GraftFunctions.posOrderedSum(col("pp")))
      .head().getDouble(1)
    assert(ok == 0.5 + 2.0 + 1.0)
  }

  test("WordBigrams matches the transform/sequence SQL twin exactly (r15)") {
    // rows AND schema pinned to TextOps.lmBigramExpr — including the
    // NULL-array → EMPTY contract (ANSI size(NULL)=NULL falls through
    // the twin's CASE to array()), null elements, multibyte words,
    // empty tokens, and sizes 0/1/2
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "b", "ß€", "😀", "", "word")
    val cases: Seq[Seq[String]] = Seq(
      null, Seq(), Seq("a"), Seq("a", "b"), Seq(null, "a", null)) ++
      (1 to 200).map(_ => (0 until rnd.nextInt(8)).map(_ =>
        if (rnd.nextInt(10) == 0) null else vocab(rnd.nextInt(vocab.size))))
    val df = cases.toDF("w")
      .withColumn("b", expr(graft.queries.TextOps.lmBigramExpr))
      .withColumn("n", GraftFunctions.wordBigrams(col("w")))
    assert(df.schema("b").dataType == df.schema("n").dataType,
      s"twin ${df.schema("b").dataType.sql} vs native ${df.schema("n").dataType.sql}")
    df.collect().foreach { r =>
      assert(r.get(1) == r.get(2), s"w=${r.get(0)}")
    }
  }

  test("per-task scratch table: generation reuse, growth, and post-growth reads (r16)") {
    // SetSimKernels.commonCount reuses ONE open-addressed table per
    // thread across every pair it verifies (the r16 GC-churn fix) —
    // the risks a reference HashSet can't have are (a) a stale element
    // from an EARLIER pair surviving the generation bump and counting
    // against a later probe, (b) a mid-stream capacity grow losing or
    // duplicating occupancy, (c) sizes straddling the 0.5 load bound.
    // Drive thousands of sequential pairs of swinging sizes on this
    // one thread and pin every count against a fresh HashSet oracle.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ss: Seq[String]): GenericArrayData =
      new GenericArrayData(ss.map(UTF8String.fromString).toArray[Any])
    def oracle(probe: Seq[String], set: Seq[String]): Int = {
      val hs = new java.util.HashSet[String]()
      set.foreach(hs.add)
      probe.count(hs.contains)
    }
    val rnd = new scala.util.Random(42)
    // sizes swing from tiny to past the initial 1 << 10 capacity and
    // back, so growth happens mid-stream and later SMALL pairs reuse
    // the grown table; overlapping windows of a shared vocab make the
    // previous pair's elements near-misses for the current one
    val vocab = (0 until 4000).map(i => s"sh$i")
    for (trial <- 0 until 300) {
      val ns = trial match {
        case t if t % 50 == 49 => 1500 + rnd.nextInt(1500) // force grows
        case _ => rnd.nextInt(40)
      }
      val np = rnd.nextInt(60)
      val base = rnd.nextInt(vocab.size - 3100)
      val set = (0 until ns).map(_ => vocab(base + rnd.nextInt(3000)))
      val probe = (0 until np).map(_ => vocab(base + rnd.nextInt(3100)))
      val got = SetSimKernels.commonCount(arr(probe), arr(set))
      assert(got == oracle(probe, set), s"trial=$trial ns=$ns np=$np")
    }
    // empty set side and empty probe side, immediately after heavy reuse
    assert(SetSimKernels.commonCount(arr(Seq("a")), arr(Seq())) == 0)
    assert(SetSimKernels.commonCount(arr(Seq()), arr(Seq("a"))) == 0)
  }

  test("null elements: commonCount/jaccard/containment follow java.util.HashSet semantics") {
    // a null element is a value like any other to a HashSet: it matches
    // a null on the other side and counts in both sizes
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ss: Seq[String]): GenericArrayData =
      new GenericArrayData(ss.map(UTF8String.fromString).toArray[Any])
    def common(probe: Seq[String], set: Seq[String]): Int = {
      val hs = new java.util.HashSet[String]()
      set.foreach(hs.add)
      probe.count(hs.contains)
    }
    val cases = Seq(
      (Seq("a", null, "b"), Seq(null, "b", "c")),
      (Seq("a", null, null), Seq("a", "b")),
      (Seq("a", "b"), Seq(null, "a", null)),
      (Seq[String](null), Seq[String](null)),
      (Seq[String](null, null), Seq("x")))
    cases.foreach { case (a, b) =>
      val c = common(b, a) // jaccard: set over a, probe b
      val jaccard = c.toDouble / (a.size + b.size - c)
      val containment = common(a, b).toDouble / a.size // set over b, probe a
      assert(SetSimKernels.commonCount(arr(b), arr(a)) == c, s"$a $b")
      assert(SetSimKernels.jaccard(arr(a), arr(b)) == jaccard, s"$a $b")
      assert(SetSimKernels.containment(arr(a), arr(b)) == containment, s"$a $b")
      // and through the expressions, codegen'd over a real frame
      val r = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(GraftFunctions.jaccardSim(col("a"), col("b")),
          GraftFunctions.containmentSim(col("a"), col("b")))
        .collect().head
      assert(r.getDouble(0) == jaccard && r.getDouble(1) == containment, s"$a $b")
    }
  }
}
