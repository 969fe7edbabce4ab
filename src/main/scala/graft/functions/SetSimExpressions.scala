package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Analysis-time input-type gates for the native set-sim expressions.
  * `ExpectsInputTypes`/`ImplicitCastInputTypes` take `AbstractDataType`,
  * which is `private[sql]`, so the same contract is enforced via
  * `checkInputDataTypes` (the HllDistinct precedent): a bad SQL call
  * like `graft_jaccard(1, 2)` fails with a clear AnalysisException
  * instead of a codegen-compile failure + interpreted-path CCE. */
private[functions] object SetSimTypeChecks {
  def stringArrays(name: String, dts: Seq[DataType]): TypeCheckResult = {
    dts.zipWithIndex.collectFirst {
      case (dt, i) if !dt.isInstanceOf[ArrayType] ||
          dt.asInstanceOf[ArrayType].elementType != StringType =>
        TypeCheckResult.TypeCheckFailure(
          s"$name requires ARRAY<STRING> for argument ${i + 1}, got ${dt.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
}

/** Shared intersection-count kernel for the set-similarity expressions —
  * a static method so whole-stage codegen can call it directly.
  *
  * Operating on ArrayData/UTF8String (no Seq conversion, no String
  * decode) is what makes these expressions beat the UDF twins in
  * TextFunctions: the UDF boundary converts both arrays per CALL
  * (UnsafeArrayData → Seq[String], one java.lang.String decode per
  * element), and that converter code is generated fresh per query, so
  * every query re-pays its JIT warmup — measured as a 10-220 CPU-s
  * run-to-run swing on q33's verify stage (the interpreted-vs-compiled
  * race at 32 threads). This path is one regular JVM method shared by
  * every caller: warmed once per JVM, stable thereafter, and UTF8String
  * equality is a byte comparison — cheaper than decoded String equals.
  */
object SetSimKernels {
  /** Hits of `probe`'s elements (per OCCURRENCE) against the distinct
    * set of `setSide` — the exact bag semantics of the UDF twins, whose
    * direction is FIXED (jaccard sets a / probes b; containment sets b /
    * probes a). A build-over-the-smaller-side trick was measured and
    * REMOVED: with duplicate elements it changes the answer
    * (jaccard(['x','x'],['x']) read 2.0 instead of the twins' 0.5 —
    * similarity > 1 passes every threshold), and the dedup callers'
    * shingle sets are near-equal-sized anyway. */
  /** Per-TASK scratch hash table for the set side (r16 GC audit):
    * the old per-PAIR `java.util.HashSet[UTF8String]` allocated a table
    * plus one Node per element for every candidate pair — StageClock
    * read 5-15% of the verify stages' task time as GC on q33/q88.
    * Open addressing over a generation-stamped slot array reuses the
    * same memory across every pair a task verifies: occupancy is
    * "stamp == current generation", so reset is one increment, not a
    * clear. Equality/hash are UTF8String.equals/hashCode — byte
    * equality, exactly what HashSet used — so the count is unchanged,
    * collisions included. ThreadLocal because codegen'd call sites
    * share this object across ALL tasks in the JVM; capacity is
    * bounded by the largest shingle set a task sees (doc-bounded),
    * and load factor stays ≤ 0.5. */
  private final class SetScratch {
    var cap = 1 << 10
    var mask = cap - 1
    var keys = new Array[UTF8String](cap)
    var stamps = new Array[Int](cap)
    var gen = 0
    /** Whether the current set holds a null element: nulls never enter
      * the table (UTF8String.hashCode would NPE), but a set-side null
      * still matches a probe-side null, as in java.util.HashSet. */
    var hasNull = false
    def next(ns: Int): Unit = {
      if (ns.toLong * 2 > cap) {
        // Long arithmetic: doubling an Int cap past 2^30 would wrap
        // negative and never terminate; array slots stop at 2^30
        require(ns <= (1 << 29), s"set side of $ns elements exceeds the 2^29 scratch bound")
        var c = cap.toLong
        while (ns.toLong * 2 > c) c <<= 1
        cap = c.toInt
        mask = cap - 1
        keys = new Array[UTF8String](cap)
        stamps = new Array[Int](cap)
        gen = 0
      }
      if (gen == Int.MaxValue) { java.util.Arrays.fill(stamps, 0); gen = 0 }
      gen += 1
      hasNull = false
      // drop stale refs periodically: a slot not overwritten since an
      // old row would otherwise pin that row's underlying buffer (the
      // UTF8Strings are zero-copy views) for the task's lifetime
      if ((gen & 0x3ff) == 0) java.util.Arrays.fill(
        keys.asInstanceOf[Array[AnyRef]], null)
    }
    def add(s: UTF8String): Unit =
      if (s == null) hasNull = true
      else {
        var idx = s.hashCode & mask
        while (stamps(idx) == gen && !keys(idx).equals(s)) idx = (idx + 1) & mask
        if (stamps(idx) != gen) { stamps(idx) = gen; keys(idx) = s }
      }
    def contains(s: UTF8String): Boolean =
      if (s == null) hasNull
      else {
        var idx = s.hashCode & mask
        while (stamps(idx) == gen) {
          if (keys(idx).equals(s)) return true
          idx = (idx + 1) & mask
        }
        false
      }
  }
  private val scratch = new ThreadLocal[SetScratch] {
    override def initialValue(): SetScratch = new SetScratch
  }

  def commonCount(probe: ArrayData, setSide: ArrayData): Int = {
    val ns = setSide.numElements()
    val np = probe.numElements()
    val set = scratch.get()
    set.next(ns)
    var i = 0
    while (i < ns) { set.add(setSide.getUTF8String(i)); i += 1 }
    var common = 0
    i = 0
    while (i < np) { if (set.contains(probe.getUTF8String(i))) common += 1; i += 1 }
    common
  }

  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) 0.0
    else {
      val c = commonCount(b, a) // set over a, probe b — the UDF's direction
      c.toDouble / (na + nb - c)
    }
  }

  def containment(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    if (na == 0) 0.0
    else commonCount(a, b).toDouble / na // set over b, probe a
  }
}

/** 128-permutation MinHash signature as a native expression — the exact
  * arithmetic of TextFunctions.minhashSig (h_i = ((2i+1)·h + i²+7) mod p
  * over h = xxhash64(s) mod p), hashing zero-copy over the UTF8String
  * bytes. Bit-equality with the UDF kernel is pinned in
  * SetSimExpressionsSpec. */
object MinHashKernel {
  private val P = 1000000007L
  private val SEED = 42L

  def eval(arr: ArrayData): ArrayData = {
    val sig = Array.fill(128)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      // null elements skipped (same convention as HashedShinglesKernel);
      // mirrored in the UDF twin so bit-equality holds on such input
      if (s != null) {
        val h = java.lang.Math.floorMod(
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            s.getBaseObject, s.getBaseOffset, s.numBytes, SEED), P)
        var i = 0
        while (i < 128) {
          val x = java.lang.Math.floorMod((2L * i + 1L) * h + (i.toLong * i + 7L), P)
          if (x < sig(i)) sig(i) = x
          i += 1
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }
}

case class MinHashSig(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    SetSimTypeChecks.stringArrays(prettyName, Seq(child.dataType))

  override def nullSafeEval(a: Any): Any =
    MinHashKernel.eval(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.MinHashKernel.eval($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedShinglesKernel {
  private val SEED = 42L

  /** Distinct sorted xxhash64 image of a string-array SET — the
    * hash-side representation the beyond-cap verify prefilter ships
    * instead of the strings (~2.5× fewer bytes per candidate). Sorted
    * + distinct so `array_intersect` sizes are true set-intersection
    * cardinalities; null ELEMENTS are skipped as in MinHashKernel.
    * The image loses only hash-colliding distinctions —
    * PROBABILISTICALLY lossless for the prefilter: a collision between
    * an intersection element and a non-member raises |∩| or shrinks a
    * set size (measure nondecreasing), but one between two distinct
    * elements BOTH inside the intersection shrinks |∩| by one along
    * with both sizes, which can LOWER the image measure below the
    * string-side one (r10 ADVICE: a={x,y,z}, b={x,y,w}, h(x)=h(y) →
    * jaccard 0.5 → 1/3). That needs a 64-bit within-pair collision,
    * ~2^-64 per shingle pair — unobservable in practice, and the
    * exact string-side verify remains authoritative for survivors. */
  def eval(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var size = 0
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        out(size) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, SEED)
        size += 1
      }
      i += 1
    }
    java.util.Arrays.sort(out, 0, size)
    // drop duplicate hashes (collisions within one set): keeps the
    // array a SET so downstream set algebra stays exact on the image
    var w = 0
    var r = 0
    while (r < size) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (w == n) out else java.util.Arrays.copyOf(out, w))
  }
}

/** [[HashedShinglesKernel.eval]] as a codegen'd unary expression. */
case class HashedShingles(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    SetSimTypeChecks.stringArrays(prettyName, Seq(child.dataType))

  override def nullSafeEval(a: Any): Any =
    HashedShinglesKernel.eval(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.HashedShinglesKernel.eval($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All fixed-width character grams of a string with their 0-based
  * codepoint positions, in ONE forward byte walk — O(n·L) output
  * bytes, O(n) scanning. The declarative twin
  * (`transform(sequence(0, length(text)-L), i -> struct(i,
  * substring(text, i+1, L)))`) is QUADRATIC per document:
  * `UTF8String.substring` locates codepoint i by scanning from byte 0,
  * so a 1 M-char document costs ~n²/2 byte steps — measured LIVE on
  * the r13 rundoc probe as ~25 minutes of one core for one document
  * (jstack caught the interpreted ArrayTransform mid-quadratic). This
  * kernel walks the codepoint start offsets once and byte-slices each
  * window zero-copy (`UTF8String.fromBytes` wraps the shared byte
  * array; the shuffle writer copies only each 25-byte slice).
  * Codepoint semantics are IDENTICAL to the SQL form — positions are
  * codepoint indices and windows are codepoint windows, multibyte
  * text included (property-pinned against the SQL twin). */
/** The codepoint start-offset walk shared by [[CharGramsKernel]] and
  * [[CharChunksKernel]] — ONE definition so the stride discipline can
  * never diverge between the two kernels (the exact desync class the
  * r13/r14 ADVICE items fixed for ClassifierFoldKernel). */
private[functions] object CodepointIndex {
  /** (starts, nChars): starts(i) = byte offset of codepoint i;
    * starts(nChars) = nBytes — the end slot that makes the last
    * slice's byte length exact for multibyte tails. One O(n) walk. */
  def starts(bytes: Array[Byte]): (Array[Int], Int) = {
    val nBytes = bytes.length
    var nChars = 0
    var off = 0
    val st = new Array[Int](nBytes + 1)
    while (off < nBytes) {
      st(nChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    st(nChars) = nBytes
    (st, nChars)
  }
}

/** The one shared empty array: what the [[EmptyOnNullInput]] kernels
  * return for NULL input and for inputs that yield nothing. */
object EmptyArray {
  private val Empty =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
  def get(): ArrayData = Empty
}

/** A unary array kernel whose NULL input yields the EMPTY array, not
  * NULL, so the expression is non-nullable ([[CharGrams]],
  * [[CharChunks]], [[WordNgrams]], [[WordBigrams]]). That matches the
  * SQL twins exactly — their CASE guard evaluates the ELSE array() on a
  * null condition — where plain null-propagation would return NULL and
  * silently diverge on any non-explode consumer (r13 review). Each
  * expression names its kernel once for the interpreted path
  * ([[kernel]]) and once for codegen ([[kernelCode]]). */
private[functions] trait EmptyOnNullInput
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  /** The kernel on a non-null child value. */
  protected def kernel(v: Any): ArrayData
  /** The same kernel call as Java source, over the child's value `v`. */
  protected def kernelCode(v: String): String

  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) EmptyArray.get() else kernel(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(
      code = code"""
        ${childGen.code}
        $javaType ${ev.value} = ${childGen.isNull}
          ? graft.functions.EmptyArray.get()
          : ${kernelCode(childGen.value.toString)};""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}

object CharGramsKernel {
  def eval(s: UTF8String, l: Int): ArrayData = {
    val bytes = s.getBytes // one copy of the doc; all grams slice it
    val (starts, nChars) = CodepointIndex.starts(bytes)
    val n = nChars - l + 1
    if (n <= 0) EmptyArray.get()
    else {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i.toLong,
            UTF8String.fromBytes(bytes, starts(i), starts(i + l) - starts(i))))
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }
}

/** [[CharGramsKernel.eval]] as a codegen'd unary expression; the gram
  * width is a construction-time constant (every caller passes
  * TextOps.SubstrL). */
case class CharGrams(child: Expression, l: Int) extends EmptyOnNullInput {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("gram", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_char_grams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${child.dataType.sql}")
    else if (l < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires width >= 1, got $l")
    else TypeCheckResult.TypeCheckSuccess

  override protected def kernel(v: Any): ArrayData =
    CharGramsKernel.eval(v.asInstanceOf[UTF8String], l)
  override protected def kernelCode(v: String): String =
    s"graft.functions.CharGramsKernel.eval($v, $l)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Overlapping fixed-stride chunks of a string, for spreading one
  * document's gram GENERATION across tasks (r14): chunk i covers
  * codepoints [i·c, min(i·c + c + l − 1, nChars)), so width-`l` grams
  * of chunk i at local positions 0..c−1 are exactly the document's
  * grams at global positions i·c + local — each global gram position
  * lands in exactly ONE chunk, and the l−1-codepoint overlap is the
  * only duplicated text. A doc with ≤ c+l−1 codepoints yields one
  * chunk that IS the text (zero-copy slice of the same byte array,
  * the CharGrams discipline). Chunk count = max(1, ⌈(nChars−l+1)/c⌉);
  * the degenerate nChars < l case yields one chunk whose gram set is
  * empty, matching CharGrams on the whole text. One O(n) codepoint
  * walk — a substring() chunker would pay O(chunks·n) per document
  * (the same byte-0-scan class the CharGrams kernel exists to avoid). */
object CharChunksKernel {
  def eval(s: UTF8String, c: Int, l: Int): ArrayData = {
    // fast path for the overwhelmingly common single-chunk case:
    // nChars <= nBytes, so nBytes <= c guarantees one chunk that IS
    // the text — no byte copy, no offset walk, no transient index
    // array on the per-document hot path (r14 review)
    if (s.numBytes <= c)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](0L, s))))
    val bytes = s.getBytes
    val (starts, nChars) = CodepointIndex.starts(bytes)
    val nGrams = nChars - l + 1
    // long-widened: nGrams + c - 1 wraps negative for near-2GiB docs —
    // the exact giant-doc regime this kernel exists for (r14 review)
    val nChunks = if (nGrams <= 0) 1 else ((nGrams.toLong + c - 1) / c).toInt
    val out = new Array[Any](nChunks)
    var i = 0
    while (i < nChunks) {
      val cs = i * c
      val ce = math.min(cs.toLong + c + l - 1, nChars.toLong).toInt
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](cs.toLong,
          UTF8String.fromBytes(bytes, starts(cs), starts(ce) - starts(cs))))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** [[CharChunksKernel.eval]] as a codegen'd unary expression; chunk
  * stride and gram width are construction-time constants. NULL text →
  * empty array (no chunks → no grams), consistent with [[CharGrams]]'
  * pinned NULL contract. */
case class CharChunks(child: Expression, c: Int, l: Int) extends EmptyOnNullInput {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("chunk", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_char_chunks"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${child.dataType.sql}")
    else if (c < 1 || l < 1)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires positive chunk stride and gram width, got ($c, $l)")
    else TypeCheckResult.TypeCheckSuccess

  override protected def kernel(v: Any): ArrayData =
    CharChunksKernel.eval(v.asInstanceOf[UTF8String], c, l)
  override protected def kernelCode(v: String): String =
    s"graft.functions.CharChunksKernel.eval($v, $c, $l)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact Jaccard |a∩b| / |a∪b| between two string-array SETS — native
  * verification kernel for the dedup candidate joins (q33/q34/q76).
  * Bit-identical to TextFunctions.jaccard (pinned in TextFunctionsSpec). */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override def checkInputDataTypes(): TypeCheckResult =
    SetSimTypeChecks.stringArrays(prettyName, Seq(left.dataType, right.dataType))

  override def nullSafeEval(a: Any, b: Any): Any =
    SetSimKernels.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SetSimKernels.jaccard($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Asymmetric containment C(a→b) = |a∩b| / |a| — the directed
  * excerpt/quotation measure (q88). Bit-identical to
  * TextFunctions.containment. */
case class ContainmentSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_containment"

  override def checkInputDataTypes(): TypeCheckResult =
    SetSimTypeChecks.stringArrays(prettyName, Seq(left.dataType, right.dataType))

  override def nullSafeEval(a: Any, b: Any): Any =
    SetSimKernels.containment(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SetSimKernels.containment($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Byte-scan literal split (r15): `split(str, sep, -1)` for a
  * construction-time LITERAL separator of regex-metacharacter-free
  * ASCII — the tokenization hot path of every word-stream query.
  * Spark's `split` routes UTF8String → java String → `Pattern.split` →
  * per-token java Strings → per-token re-encode back to UTF8String:
  * three full transcodings of the corpus per call, measured at
  * 13-20 µs/word on the bench corpus. This kernel scans the UTF-8
  * bytes once (an ASCII separator byte can never occur inside a
  * multibyte sequence, so the byte scan is exact) and emits tokens as
  * zero-copy `UTF8String.fromBytes` slices of the one shared array
  * (the CharGrams discipline).
  *
  * Semantics pinned to `split(str, sep, -1)`: left-to-right
  * non-overlapping matches, empty tokens kept (leading, internal,
  * trailing), `"" → [""]`. Property-pinned against the SQL builtin in
  * SetSimSpec. NULL propagates like the builtin (UnaryExpression
  * null-safe default). */
object LiteralSplitKernel {
  /** The byte scan: end offset of each `split(bytes, sep, -1)` token,
    * left to right. Token k spans [ends(k-1) + sep.length, ends(k)),
    * token 0 starts at 0, and the last token ends at bytes.length, so
    * the array is never empty (`"" → [0]`). */
  def tokenEnds(bytes: Array[Byte], sep: Array[Byte]): Array[Int] = {
    val n = bytes.length
    val m = sep.length
    @inline def matchAt(i: Int): Boolean = {
      var j = 0
      while (j < m && bytes(i + j) == sep(j)) j += 1
      j == m
    }
    var count = 1
    var i = 0
    while (i + m <= n) { if (matchAt(i)) { count += 1; i += m } else i += 1 }
    val ends = new Array[Int](count)
    var k = 0
    i = 0
    while (i + m <= n) {
      if (matchAt(i)) { ends(k) = i; k += 1; i += m } else i += 1
    }
    ends(k) = n
    ends
  }

  def eval(s: UTF8String, sep: Array[Byte]): ArrayData = {
    val bytes = s.getBytes // one copy; every token slices it
    val ends = tokenEnds(bytes, sep)
    val out = new Array[Any](ends.length)
    var start = 0
    var k = 0
    while (k < ends.length) {
      out(k) = UTF8String.fromBytes(bytes, start, ends(k) - start)
      start = ends(k) + sep.length
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** [[LiteralSplitKernel.eval]] as a codegen'd unary expression; the
  * separator is a construction-time constant, held as bytes in a
  * static-per-plan codegen reference. Output is ARRAY<STRING> with a
  * non-null element contract (containsNull = false, see [[dataType]]):
  * the array is null only for a null input, and its elements never are.
  * Values equal the builtin `split`'s; the schema differs from it only
  * in that element nullability. */
case class LiteralSplit(child: Expression, sep: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(sep.nonEmpty && sep.forall(c => c < 128 && !"\\[](){}*+?.^$|".contains(c)),
    s"LiteralSplit separator must be non-empty, ASCII and regex-inert: '$sep'")

  /** containsNull = false (r16): the kernel emits zero-copy byte
    * slices — never a null element — and SAYING so is load-bearing:
    * a nullable element type lets each consumer push a DIFFERENT
    * `isnotnull` set into its copy of a shared subtree (q93's c2 fed
    * both the (w1,w2) join — isnotnull(w1)∧isnotnull(w2) — and c1's
    * rollup — isnotnull(w1) only), so the canonicalized exchanges
    * stopped matching and exchange reuse could NEVER fire: the corpus
    * paid a duplicate full bigram-extraction pass in q93/q103 at
    * every scale. Non-null elements fold those filters to true and
    * the duplicate subtrees collapse into one ReusedExchange. */
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_literal_split"

  @transient private lazy val sepBytes =
    sep.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(a: Any): Any =
    LiteralSplitKernel.eval(a.asInstanceOf[UTF8String], sepBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sepBytes", sepBytes, "byte[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.LiteralSplitKernel.eval($a, $sepRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word n-grams of a text over `split(text, ' ', -1)` tokens (empty
  * tokens kept, `"" → [""]`): the shingle sets behind every
  * set-similarity join (q33/q76/q88/q96, CorpusStream.nearDupLsh) and
  * the n-gram scans of q51/q52/q60/q83. One [[LiteralSplitKernel]]
  * byte scan, then each gram is a zero-copy slice from the start of
  * token i to the end of token i+n−1 — adjacent tokens are exactly
  * one space apart, so the slice IS the `" "`-joined tokens and no
  * gram is ever built by concatenation. With `distinct`, repeats are
  * dropped and first occurrences keep their order (UTF8String
  * equality is byte equality). Fewer than n tokens, or n ≤ 0, → [].
  * Property-pinned against `split(" ", -1).sliding(n)` in
  * TextFunctionsPropSpec and against a split/slice/array_join SQL
  * twin in SetSimExpressionsSpec. */
object WordNgramsKernel {
  private val Space = Array[Byte](' ')

  def eval(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    if (n <= 0) return EmptyArray.get()
    val bytes = s.getBytes // one copy; every gram slices it
    val ends = LiteralSplitKernel.tokenEnds(bytes, Space)
    val count = ends.length - n + 1
    if (count <= 0) return EmptyArray.get()
    val out = new Array[Any](count)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var k = 0
    var i = 0
    while (i < count) {
      val start = if (i == 0) 0 else ends(i - 1) + 1
      val g = UTF8String.fromBytes(bytes, start, ends(i + n - 1) - start)
      if (!distinct || seen.add(g)) { out(k) = g; k += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (k == count) out else out.take(k))
  }
}

/** [[WordNgramsKernel.eval]] as a codegen'd unary expression; n and
  * `distinct` are construction-time constants. NULL text → EMPTY
  * array ([[EmptyOnNullInput]]). */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean)
    extends EmptyOnNullInput {
  /** containsNull = false, the [[LiteralSplit]] contract: grams are
    * byte slices, never null, and saying so folds every consumer's
    * `isnotnull(gram)` pushdown away. With nullable elements q96's
    * g→df join pushes isnotnull(gram) into its copy of the gram→df
    * aggregation but the mean-df scalar's copy gets none, the two
    * exchanges no longer canonicalize equal, and the corpus pays the
    * explode+aggregate pass twice (PlanSpec pins the ReusedExchange). */
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override protected def kernel(v: Any): ArrayData =
    WordNgramsKernel.eval(v.asInstanceOf[UTF8String], n, distinct)
  override protected def kernelCode(v: String): String =
    s"graft.functions.WordNgramsKernel.eval($v, $n, $distinct)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Adjacent-word bigrams of a split-words array, with positions — the
  * LM family's extraction (q93/q103 scoring + the streaming trainer)
  * as ONE tight loop instead of the interpreted
  * `transform(sequence(...), i -> struct(...))` HOF: higher-order
  * lambdas never reach codegen (guide §4), so the SQL form paid a
  * per-element interpreted MutableProjection (two GetArrayItem trees +
  * CreateNamedStruct) plus a transient `sequence` index array per
  * document — a full-pass per-token term on the corpus hot path.
  * Output rows and TYPES are pinned bit-for-bit to the SQL twin
  * (TextOps.lmBigramExpr) by a randomized spec, including the
  * NULL-array → EMPTY (not NULL) contract the twin's CASE guard
  * produces under ANSI size(NULL) = NULL semantics. */
object WordBigramsKernel {
  def eval(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n < 2) return EmptyArray.get()
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      val w1 = if (a.isNullAt(i)) null else a.getUTF8String(i)
      val w2 = if (a.isNullAt(i + 1)) null else a.getUTF8String(i + 1)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i, w1, w2))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** [[WordBigramsKernel.eval]] as a codegen'd unary expression. NULL
  * words-array → EMPTY bigram array (the SQL twin's CASE-guard
  * behavior). */
case class WordBigrams(child: Expression) extends EmptyOnNullInput {
  /** w1/w2 nullability DERIVES from the input's element nullability
    * (r16): the kernel copies input elements verbatim, so over a
    * containsNull=false array (litSplit's output — the only query
    * call site) the bigram words are provably non-null and the
    * downstream join-key `isnotnull` pushdowns fold away — which is
    * what lets q93/q103's duplicated c2 subtrees canonicalize equal
    * and share ONE exchange (see LiteralSplit.dataType). Over a
    * nullable-element array (the spec's twin pin) the schema stays
    * byte-identical to the SQL transform twin. */
  override def dataType: DataType = {
    val elemNullable = child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    }
    ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("w1", StringType, nullable = elemNullable),
      StructField("w2", StringType, nullable = elemNullable))), containsNull = false)
  }
  override def prettyName: String = "graft_word_bigrams"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING>, got ${dt.sql}")
    }

  override protected def kernel(v: Any): ArrayData =
    WordBigramsKernel.eval(v.asInstanceOf[ArrayData])
  override protected def kernelCode(v: String): String =
    s"graft.functions.WordBigramsKernel.eval($v)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Non-empty-token variant of [[LiteralSplitKernel]] (r15):
  * `filter(split(str, sep, -1), w -> w <> '')` as the SAME byte scan
  * ([[LiteralSplitKernel.tokenEnds]]), skipping zero-length slices — the
  * classifier feature builder's word stream (q104/q105 training) ran the
  * builtin regex split's three transcodings AND an interpreted `filter`
  * HOF per token. Emits only tokens with at least one byte; `"" → []`,
  * all-separator input → []. Property-pinned against the SQL form in
  * SetSimExpressionsSpec. */
object LiteralSplitWordsKernel {
  def eval(s: UTF8String, sep: Array[Byte]): ArrayData = {
    val bytes = s.getBytes // one copy; every token slices it
    val ends = LiteralSplitKernel.tokenEnds(bytes, sep)
    val out = new Array[Any](ends.length)
    var k = 0
    var start = 0
    var i = 0
    while (i < ends.length) {
      if (ends(i) > start) { out(k) = UTF8String.fromBytes(bytes, start, ends(i) - start); k += 1 }
      start = ends(i) + sep.length
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (k == out.length) out else out.take(k))
  }
}

/** [[LiteralSplitWordsKernel.eval]] as a codegen'd unary expression.
  * NULL propagates like the SQL form (filter(NULL, ...) is NULL). */
case class LiteralSplitWords(child: Expression, sep: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(sep.nonEmpty && sep.forall(c => c < 128 && !"\\[](){}*+?.^$|".contains(c)),
    s"LiteralSplitWords separator must be non-empty, ASCII and regex-inert: '$sep'")

  // containsNull = false: same contract and same reuse-enabling
  // rationale as LiteralSplit above — the kernel never emits nulls
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_literal_split_words"

  @transient private lazy val sepBytes =
    sep.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(a: Any): Any =
    LiteralSplitWordsKernel.eval(a.asInstanceOf[UTF8String], sepBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sepBytes", sepBytes, "byte[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.LiteralSplitWordsKernel.eval($a, $sepRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Position-ordered double sum (r15): the lmFold reassembly
  * `aggregate(array_sort(collect_list(struct(pos, p))), 0.0,
  * (acc, x) -> acc + x.p)` as ONE native pass — both the array_sort
  * comparator and the aggregate fold are higher-order LAMBDAS, i.e.
  * interpreted per element, and they run over every scored bigram
  * (the same O(corpus tokens) count as the extraction). The kernel
  * sorts (pos, index) as packed primitive longs and folds the doubles
  * left-to-right in pos order — bit-identical to the SQL twin because
  * the fold ORDER is identical.
  *
  * CONTRACT (the lmFold shape): `pos` values are DISTINCT and
  * NON-NEGATIVE within one array (bigram positions of one document) —
  * with distinct primary keys the (pos, p) struct order and the
  * (pos, index) packed order coincide, so ties never decide. NULL
  * array → NULL; empty array → 0.0 (the aggregate seed); any NULL
  * element or NULL p → NULL (the twin's acc turns NULL at that element
  * and stays NULL). Spec-pinned bitwise against the SQL twin under
  * shuffled input orders, NaN/-0.0/denormal p values included. */
object PosOrderedSumKernel {
  def eval(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n == 0) return java.lang.Double.valueOf(0.0)
    val keys = new Array[Long](n)
    val ps = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val row = a.getStruct(i, 2)
      if (row.isNullAt(1)) return null
      keys(i) = (row.getInt(0).toLong << 32) | i.toLong
      ps(i) = row.getDouble(1)
      i += 1
    }
    java.util.Arrays.sort(keys)
    var acc = 0.0
    i = 0
    while (i < n) {
      // contract tripwire (r15 ADVICE): with DUPLICATE pos values the
      // SQL twin's array_sort breaks ties on p (full-struct compare)
      // while this packed sort breaks them on input index — a caller
      // violating the distinct-pos contract would silently diverge
      // bitwise from the twin. Make the violation LOUD instead: every
      // current caller (bigram positions of one document) guarantees
      // distinctness, so this branch never fires on query paths.
      if (i > 0 && (keys(i) >>> 32) == (keys(i - 1) >>> 32))
        throw new IllegalArgumentException(
          "graft_pos_ordered_sum: duplicate pos " + (keys(i) >>> 32) +
            " violates the distinct-pos contract (tie order would " +
            "diverge from the array_sort twin)")
      acc += ps((keys(i) & 0xffffffffL).toInt)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** [[PosOrderedSumKernel.eval]] as a codegen'd unary expression. */
case class PosOrderedSum(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pos_ordered_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(f0, f1)), _)
          if f0.dataType == IntegerType && f1.dataType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRUCT<INT, DOUBLE>>, got ${dt.sql}")
    }

  override def nullSafeEval(a: Any): Any =
    PosOrderedSumKernel.eval(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val r = ctx.freshName("posSum")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${childGen.isNull}) {
        java.lang.Double $r =
          graft.functions.PosOrderedSumKernel.eval(${childGen.value});
        if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r.doubleValue(); }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
