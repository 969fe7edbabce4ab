package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the text kernels: the native word n-gram kernel
  * ([[WordNgrams]]) must equal the plain-Scala reference
  * `split(" ", -1).sliding(n)` on every text, n and form, and the pHash
  * kernel must be total, deterministic, and edit-local. */
object TextFunctionsPropSpec extends Properties("TextFunctions") {

  private val genWord: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  // 2-, 3- and 4-byte UTF-8 words: a byte-sliced kernel that cut a
  // codepoint, or split on a byte inside one, would diverge here first
  private val genMultibyte: Gen[String] =
    Gen.oneOf("héllo", "wörld", "日本語", "テスト", "😀", "a😀b", "ß€")

  private val genText: Gen[String] =
    Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(4 -> genWord, 1 -> genMultibyte)).map(_.mkString(" ")))

  // exercise empty tokens too — split(" ", -1) keeps them
  private val genTextRagged: Gen[String] =
    genText.flatMap(t => Gen.oneOf(t, " " + t, t + " ", t.replace(" ", "  ")))

  /** The reference: the n-token windows of `split(" ", -1)`, joined by
    * one space; none when there are fewer than n tokens or n <= 0
    * (`sliding` would yield one short window, or throw). */
  private def reference(t: String, n: Int, distinct: Boolean): Seq[String] = {
    val w = t.split(" ", -1)
    val all =
      if (n <= 0 || w.length < n) Seq.empty
      else w.toSeq.sliding(n).map(_.mkString(" ")).toSeq
    if (distinct) all.distinct else all
  }

  // the interpreted eval path (codegen is covered by SetSimExpressionsSpec)
  private def kernel(t: String, n: Int, distinct: Boolean): Seq[String] =
    WordNgrams(Literal(t), n, distinct).eval().asInstanceOf[ArrayData]
      .toArray[UTF8String](StringType).map(_.toString).toSeq

  property("word 3-gram shingles == sliding reference") = forAll(genTextRagged) { t =>
    kernel(t, 3, distinct = true) == reference(t, 3, distinct = true)
  }

  property("word n-grams == sliding reference, both forms") =
    forAll(genTextRagged, Gen.choose(1, 5), Gen.oneOf(true, false)) { (t, n, distinct) =>
      kernel(t, n, distinct) == reference(t, n, distinct)
    }

  property("ngram kernels are total on degenerate n") =
    forAll(genTextRagged, Gen.oneOf(0, -1, 1000), Gen.oneOf(true, false)) { (t, n, distinct) =>
      kernel(t, n, distinct) == reference(t, n, distinct)
    }

  private val genBytes: Gen[Array[Byte]] =
    Gen.choose(0, 400).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte)).map(_.toArray))

  property("phash is deterministic and total") = forAll(genBytes) { b =>
    graft.multimodal.Multimodal.phashBytes(b) ==
      graft.multimodal.Multimodal.phashBytes(b)
  }

  property("phash uses exactly the low 63 bits (non-negative)") = forAll(genBytes) { b =>
    (graft.multimodal.Multimodal.phashBytes(b) >>> 63) == 0L
  }

  // DC exclusion + strict >-median: at most 31 of 63 AC coefficients can
  // exceed the lower median, so popcount ≤ 31 always
  property("phash popcount is at most 31") = forAll(genBytes) { b =>
    java.lang.Long.bitCount(graft.multimodal.Multimodal.phashBytes(b)) <= 31
  }

  private val genShingles: Gen[Array[String]] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n,
      Gen.choose(1, 8).flatMap(len =>
        Gen.listOfN(len, Gen.alphaLowerChar).map(_.mkString)))
      .map(_.distinct.toArray))

  property("containment kernel == naive |A∩B|/|A| on arbitrary sets") =
    forAll(genShingles, genShingles) { (a, b) =>
      val expect =
        if (a.isEmpty) 0.0
        else a.count(b.toSet.contains).toDouble / a.length
      TextFunctions.containmentOf(a.toSeq, b.toSeq) == expect
    }
}
