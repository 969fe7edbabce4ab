package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Hot-path text kernels as JIT'd UDF loops.
  *
  * The declarative higher-order-function forms (`transform`/`aggregate`/
  * `zip_with`) are NOT whole-stage-codegen'd — Catalyst interprets each
  * lambda per element — so per-row kernels with tight loops are 10-50×
  * faster (measured: MinHash signatures 13.5 s → ~1 s at sf0.1). Each UDF
  * reproduces its declarative twin bit-for-bit:
  *   - [[minhashSig]]: h_i = (2i+1)·(xxhash64(s) mod p) + i²+7, the exact
  *     arithmetic of the former column program (same XXH64 seed 42);
  *   - [[simhash]]: md5-low-60-bit token hashes, ±1 bit votes — mirrored
  *     by the DuckDB oracle in TextOps.
  * The word n-gram (shingle) kernel is native, not a UDF:
  * [[GraftFunctions.wordNgrams]] (SetSimExpressions.WordNgrams).
  */
object TextFunctions {

  private val P = 1000000007L

  private def xxh64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Unicode NFC normalization (java.text.Normalizer — the JDK
    * implements the same Unicode standard DuckDB's nfc_normalize does,
    * so composed forms are byte-identical cross-engine). */
  val nfc = udf { (s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
  }

  /** 128-permutation MinHash signature over a shingle set:
    * h_i(s) = ((2i+1)·h + i²+7) mod p with h = xxhash64(s) mod p.
    *
    * The `mod p` is load-bearing: WITHOUT it each h_i is monotone in h,
    * so all 128 "permutations" pick the same argmin shingle and MinHash
    * degenerates to a single trial (caught as a recall miss on a
    * 9-shingle doc pair at j=0.89). Affine-mod-p maps with a_i ≠ 0 are
    * pairwise independent, restoring the banding math
    * (P(miss | j≥0.8) = (1-j⁴)^32 < 1e-7). */
  val minhashSig = udf { (sh: Seq[String]) =>
    if (sh == null) null
    else {
    val sig = Array.fill(128)(Long.MaxValue)
    // null ELEMENTS skipped — mirrors MinHashKernel's convention so the
    // bit-equality pin holds on arrays with containsNull=true
    sh.foreach { s =>
      if (s != null) {
      val h = java.lang.Math.floorMod(xxh64(s), P)
      var i = 0
      while (i < 128) {
        val x = java.lang.Math.floorMod((2L * i + 1L) * h + (i.toLong * i + 7L), P)
        if (x < sig(i)) sig(i) = x
        i += 1
      }
      }
    }
    sig
    }
  }

  /** 60-bit SimHash over distinct tokens, md5-derived token hashes
    * (low 15 hex chars) — mirrored exactly by the DuckDB oracle. */
  val simhash = udf { (text: String) =>
    // null text -> null signature (SQL semantics, the sibling guard at
    // nfc): a regenerated corpus with one NULL row must not NPE the
    // whole q35 plan
    if (text == null) null.asInstanceOf[java.lang.Long]
    else {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](60)
    val seen = new java.util.HashSet[String]()
    text.split(" ", -1).foreach { t =>
      if (seen.add(t)) {
        val digest = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // low 60 bits of the first 15 hex chars = first 7.5 bytes big-endian
        var h = 0L
        var i = 0
        while (i < 15) {
          val nib =
            if (i % 2 == 0) (digest(i / 2) >> 4) & 0xf else digest(i / 2) & 0xf
          h = h * 16 + nib
          i += 1
        }
        var j = 0
        while (j < 60) {
          votes(j) += (if (((h >> j) & 1L) != 0) 1 else -1)
          j += 1
        }
        md.reset()
      }
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
    }
  }

  /** Exact Jaccard between two string sets (verification kernel).
    * Null input → null (SQL semantics — Seq parameters are NOT
    * auto-null-checked by Spark for reference types, and the sibling
    * guard on nfc/simhash exists for the same reason). */
  val jaccard = udf { (a: Seq[String], b: Seq[String]) =>
    if (a == null || b == null) null.asInstanceOf[java.lang.Double]
    else if (a.isEmpty && b.isEmpty) java.lang.Double.valueOf(0.0)
    else {
      val sa = a.toSet
      var common = 0
      b.foreach(s => if (sa.contains(s)) common += 1)
      java.lang.Double.valueOf(common.toDouble / (a.size + b.size - common))
    }
  }

  private[functions] def containmentOf(a: Seq[String], b: Seq[String]): Double =
    if (a.isEmpty) 0.0
    else {
      val sb = b.toSet
      var common = 0
      a.foreach(s => if (sb.contains(s)) common += 1)
      common.toDouble / a.size
    }

  /** Asymmetric set containment C(a→b) = |a∩b| / |a| — the excerpt /
    * quotation measure (a small doc fully inside a big one has C ≈ 1
    * but a tiny Jaccard). Same fold as [[jaccard]], different
    * denominator. */
  val containment = udf { (a: Seq[String], b: Seq[String]) =>
    if (a == null || b == null) null.asInstanceOf[java.lang.Double]
    else java.lang.Double.valueOf(containmentOf(a, b))
  }

  // NOTE (measured, do not "fix"): in the dedup verify joins the
  // `project(measure) + filter(measure >= t)` pattern LOOKS like it
  // evaluates the fold twice (Catalyst pushes the filter into the join
  // condition and keeps the projection copy), but the pushed-down copy
  // runs per CANDIDATE while the projection copy runs only per SURVIVOR
  // (a few hundred rows) — and the pushdown keeps the join from ever
  // materializing candidate rows with both wide shingle arrays attached.
  // Blocking it with .asNondeterministic() twins multiplied q33's verify
  // stage from 20 to 320+ CPU-s (100 s of GC from 277k wide-array rows).

  /** Dot product over float vectors in double, left-to-right — identical
    * fold to the declarative/oracle form, JIT'd. */
  val dotF = udf { (a: Seq[Float], b: Seq[Float]) =>
    if (a == null || b == null) null.asInstanceOf[java.lang.Double]
    else {
      var acc = 0.0
      var i = 0
      val n = math.min(a.size, b.size)
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      java.lang.Double.valueOf(acc)
    }
  }

  def dot_f(a: Column, b: Column): Column = dotF(a, b)
}
