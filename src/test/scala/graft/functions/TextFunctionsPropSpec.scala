package graft.functions

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the JIT'd text kernels: the generalized n-gram
  * kernel must agree with the original shingle kernel at n = 3 (the
  * claim its scaladoc makes), and the pHash kernel must be total,
  * deterministic, and edit-local. */
object TextFunctionsPropSpec extends Properties("TextFunctions") {

  private val genWord: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private val genText: Gen[String] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, genWord).map(_.mkString(" ")))

  // exercise empty tokens too — split(" ", -1) keeps them
  private val genTextRagged: Gen[String] =
    genText.flatMap(t => Gen.oneOf(t, " " + t, t + " ", t.replace(" ", "  ")))

  property("ngramsDistinct(n=3) == shingleSet") = forAll(genTextRagged) { t =>
    // call through the same private kernel the UDFs use, via a 1-row eval
    val viaN = ngramArrForTest(t, 3, distinct = true)
    viaN.sameElements(TextFunctions.shingleSet(t))
  }

  property("ngramsAll counts = L - n + 1; distinct is a subset in order") =
    forAll(genTextRagged, Gen.choose(1, 5)) { (t, n) =>
      val w = t.split(" ", -1)
      val all = ngramArrForTest(t, n, distinct = false)
      val dis = ngramArrForTest(t, n, distinct = true)
      val expectedAll = math.max(w.length - n + 1, 0)
      all.length == expectedAll &&
        dis.toSet == all.toSet &&
        dis.length == all.distinct.length
    }

  property("ngram kernels are total on degenerate n") =
    forAll(genTextRagged, Gen.oneOf(0, -1, 1000)) { (t, n) =>
      ngramArrForTest(t, n, distinct = true).isEmpty || n <= t.split(" ", -1).length
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

  // the kernel is package-visible, so the property drives it directly
  // (no Spark session needed for a pure function)
  private def ngramArrForTest(t: String, n: Int, distinct: Boolean): Array[String] =
    TextFunctions.ngramArr(t, n, distinct)

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
