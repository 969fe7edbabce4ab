package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the float-vector dot product — the
  * preference-tier-(b) form ("custom Expression beats UDF"): `doGenCode`
  * splices a primitive loop straight into whole-stage codegen, so unlike
  * the UDF kernel there is no per-call Seq conversion / float boxing and
  * the expression composes with codegen'd neighbors.
  *
  * Same left-to-right double fold as TextFunctions.dotF and the DuckDB
  * oracle — bit-identical results across all three.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<float>; ExpectsInputTypes is private[sql], so
  // the contract is enforced via checkInputDataTypes (clear analysis
  // error instead of an execution-time ClassCastException)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    Seq(left.dataType, right.dataType).zipWithIndex.collectFirst {
      case (dt, i) if !dt.isInstanceOf[ArrayType] ||
          dt.asInstanceOf[ArrayType].elementType != FloatType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<FLOAT> for argument ${i + 1}, got ${dt.sql}")
    }.getOrElse(org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Signed-random-projection kernel for the SRP-LSH signatures (q49) —
  * the exact arithmetic of the former srpSig UDF, shared with the
  * DuckDB oracle's literal weight lists: bit b of the signature is
  * sign(Σ_j w(b,j)·v(j)) with deterministic hyperplane weights
  * w(b,j) = splitmix64((b<<32)|j) / Long.MaxValue, the per-bit sum
  * folded left-to-right over dimensions. */
object SrpKernel {
  val SrpBits = 8

  /** SplitMix64 — deterministic pseudo-random hyperplane weights (no RNG
    * state, reproducible across runs/executors/engines). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def eval(arr: ArrayData): Int = {
    val n = arr.numElements()
    var sig = 0
    var b = 0
    while (b < SrpBits) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        acc += (mix64((b.toLong << 32) | j.toLong).toDouble / Long.MaxValue) *
          arr.getFloat(j)
        j += 1
      }
      if (acc >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }
}

/** 8-bit SRP signature as a native expression — preference-tier-(b) like
  * [[DotProductF]]: the kernel is one shared, warm JVM method (no
  * per-query UDF-converter JIT race) composing inside whole-stage
  * codegen. Bit-equality with the oracle's literal weights is pinned by
  * q49's hash-matched parity. */
case class SrpSig(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_srp_sig"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<FLOAT>, got ${dt.sql}")
    }

  override def nullSafeEval(a: Any): Any =
    SrpKernel.eval(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SrpKernel.eval($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The engine's custom functions, for the Column API and for SQL
  * (`SELECT graft_dot(a, b) …`). The Column builders below need no
  * registration, and every query uses them, so no engine entry point
  * registers anything. The SQL names exist only on a session that opts
  * in, and [[GraftFunctions.ensureRegistered]] is the one way to do it
  * (what the specs call). What a query needs at
  * plan time beyond its Columns — the as-of join's planner strategy —
  * the query registers lazily on whatever session it runs in
  * ([[graft.plans.AsOfJoin.apply]]). It must not move into
  * `graft.Session.local`: sessions built elsewhere (perfbench's own
  * `Main.session`, a driver's) run the same queries. */
object GraftFunctions {

  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotProductF(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Native set-similarity verify kernels (SetSimExpressions.scala). */
  def jaccardSim(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      JaccardSim(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def containmentSim(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      ContainmentSim(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Distinct sorted xxhash64 image of a shingle set
    * (SetSimExpressions.HashedShingles) — the verify prefilter's
    * hash-side representation. */
  def hashedShingles(sh: Column): Column =
    GraftColumnBridge.column(
      HashedShingles(GraftColumnBridge.expression(sh)))

  /** Native 128-perm MinHash signature (SetSimExpressions.MinHashSig). */
  def minhashSig(sh: Column): Column =
    GraftColumnBridge.column(MinHashSig(GraftColumnBridge.expression(sh)))

  /** Byte-scan literal split (SetSimExpressions.LiteralSplit) —
    * bit-identical to `split(c, sep)` for a regex-inert ASCII literal
    * separator, at one byte walk + zero-copy token slices instead of
    * the builtin's three corpus transcodings (r15). */
  def litSplit(c: Column, sep: String): Column =
    GraftColumnBridge.column(
      LiteralSplit(GraftColumnBridge.expression(c), sep))

  /** Non-empty tokens only (SetSimExpressions.LiteralSplitWords) —
    * bit-identical to `filter(split(c, sep), w -> w <> '')` at one
    * byte walk, no interpreted filter HOF (r15). */
  def litSplitWords(c: Column, sep: String): Column =
    GraftColumnBridge.column(
      LiteralSplitWords(GraftColumnBridge.expression(c), sep))

  /** Position-ordered double sum (SetSimExpressions.PosOrderedSum) —
    * bit-identical to `aggregate(array_sort(pp), 0.0D,
    * (acc, x) -> acc + x.p)` for distinct non-negative pos (the lmFold
    * reassembly), at one primitive sort + fold (r15). */
  def posOrderedSum(pp: Column): Column =
    GraftColumnBridge.column(PosOrderedSum(GraftColumnBridge.expression(pp)))

  /** Adjacent-word (pos, w1, w2) bigrams of a split-words array
    * (SetSimExpressions.WordBigrams) — row- and type-identical to the
    * interpreted `transform(sequence(...), ...)` HOF it replaces
    * (TextOps.lmBigramExpr, spec-pinned), at one tight loop per doc
    * (r15). */
  def wordBigrams(w: Column): Column =
    GraftColumnBridge.column(WordBigrams(GraftColumnBridge.expression(w)))

  /** All width-`l` character grams with codepoint positions
    * (SetSimExpressions.CharGrams) — the linear-time replacement for
    * the quadratic-per-document substring transform (r13). */
  def charGrams(text: Column, l: Int): Column =
    GraftColumnBridge.column(CharGrams(GraftColumnBridge.expression(text), l))

  /** Overlapping fixed-stride chunks with codepoint start offsets
    * (SetSimExpressions.CharChunks) — splits one document's gram
    * generation across exchange partitions (r14). */
  def charChunks(text: Column, c: Int, l: Int): Column =
    GraftColumnBridge.column(
      CharChunks(GraftColumnBridge.expression(text), c, l))

  /** Native 8-bit SRP-LSH signature ([[SrpSig]]). */
  def srpSig(v: Column): Column =
    GraftColumnBridge.column(SrpSig(GraftColumnBridge.expression(v)))

  /** Per-word 64-bucket char-fold hash ([[WordBucket]]) — the
    * classifier feature kernel (r13; replaces the interpreted
    * aggregate-over-substring fold). */
  def wordBucket(w: Column): Column =
    GraftColumnBridge.column(WordBucket(GraftColumnBridge.expression(w)))

  /** Whole-text stand-in classifier score + token count in one pass
    * ([[ClassifierScore]]) — struct(score, n_tokens). */
  def classifierScore(text: Column): Column =
    GraftColumnBridge.column(ClassifierScore(GraftColumnBridge.expression(text)))

  /** HLL distinct sketch aggregate ([[HllDistinct]]); input must be a
    * string column (cast first — the hash is over the utf8 text). */
  def hllDistinct(c: Column): Column =
    GraftColumnBridge.column(
      HllDistinct(GraftColumnBridge.expression(c)).toAggregateExpression())

  /** Word n-grams over `split(c, ' ', -1)` tokens ([[WordNgrams]]);
    * `distinct` keeps only each gram's first occurrence. */
  def wordNgrams(c: Column, n: Int, distinct: Boolean): Column =
    GraftColumnBridge.column(WordNgrams(GraftColumnBridge.expression(c), n, distinct))

  /** The shingle set of every set-similarity join: distinct word
    * 3-grams in first-occurrence order. */
  def shingles(c: Column): Column = wordNgrams(c, 3, distinct = true)

  /** The SQL names of the native expressions, registered by
    * [[ensureRegistered]] as built-in functions. */
  private[functions] val nativeBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (exprs => DotProductF(exprs.head, exprs(1))),
    "graft_shingles" -> (exprs => WordNgrams(exprs.head, 3, distinct = true)),
    "graft_hll_distinct" -> (exprs => HllDistinct(exprs.head).toAggregateExpression()),
    "graft_jaccard" -> (exprs => JaccardSim(exprs.head, exprs(1))),
    "graft_containment" -> (exprs => ContainmentSim(exprs.head, exprs(1))),
    "graft_minhash_sig" -> (exprs => MinHashSig(exprs.head)),
    "graft_srp_sig" -> (exprs => SrpSig(exprs.head)),
    "graft_word_bucket" -> (exprs => WordBucket(exprs.head)),
    "graft_classifier_score" -> (exprs => ClassifierScore(exprs.head)))

  def ensureRegistered(spark: SparkSession): Unit = {
    nativeBuilders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    // codec surface in SQL
    spark.udf.register("phy_decode_b64", PhyFunctions.phyDecodeB64)
    spark.udf.register("graft_simhash", TextFunctions.simhash)
    // media container parsers (binary → struct with row-level error)
    spark.udf.register("graft_wav_decode", graft.multimodal.Multimodal.wavDecode)
    spark.udf.register("graft_bmp_decode", graft.multimodal.Multimodal.bmpDecode)
    spark.udf.register("graft_y4m_decode", graft.multimodal.Multimodal.y4mDecode)
  }
}
