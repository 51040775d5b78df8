package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graft.expressions._
import graft.functions.HashFunctions
import graft.operators.Dedup

/** Property tests pinning the native sketch expressions to independent
  * plain-Scala references, over random Unicode INCLUDING astral (non-BMP)
  * characters — the class the code-point windowing exists for. Expressions
  * are evaluated directly (`eval`), no SparkSession needed.
  */
object SketchProps extends Properties("SketchExpressions") {

  private val bmp: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', ' ', '\t', 'é', 'ß', '中', 'λ'))
  private val astral: Gen[String] = Gen.oneOf("😀", "🚀", "𝔸", "🎉")
  private val text: Gen[String] = for {
    n <- Gen.chooseNum(0, 60)
    parts <- Gen.listOfN(n, Gen.frequency(9 -> bmp.map(_.toString), 1 -> astral))
  } yield parts.mkString

  private def lit(s: String) = Literal.create(UTF8String.fromString(s),
    org.apache.spark.sql.types.StringType)

  // plain-Scala references (independent re-derivations)
  private def refShingles(s: String, n: Int): Vector[String] = {
    val cps = s.codePoints().toArray
    if (cps.length < n) Vector(s)
    else (0 to cps.length - n).map(i => new String(cps, i, n)).toVector
  }

  private def refMinhash(s: String, numHashes: Int, shingle: Int): Vector[Long] = {
    val bases = refShingles(s, shingle)
      .map(sh => HashFunctions.stableHash64(sh) % Dedup.MinhashModulus)
    (0 until numHashes).map { j =>
      bases.map(h => (h * ParityRefs.minhashA(j) + ParityRefs.minhashB(j)) % Dedup.MinhashModulus).min
    }.toVector
  }

  private def refSimhash(s: String): Long = {
    val tokens = s.trim.split("\\s+").filter(_.nonEmpty)
    val counts = new Array[Int](32)
    tokens.foreach { t =>
      val h = HashFunctions.stableHash64(t)
      (0 until 32).foreach(k => counts(k) += (if (((h >> k) & 1L) == 1L) 1 else -1))
    }
    (0 until 32).map(k => if (counts(k) > 0) 1L << k else 0L).sum
  }

  private def refFingerprint(s: String): Long = {
    val tokens = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
    if (tokens.length < 3) HashFunctions.stableHash64(tokens.mkString(" "))
    else tokens.sliding(3).map(g => HashFunctions.stableHash64(g.mkString(" "))).min
  }

  property("CharShingles == code-point reference") = forAll(text) { s =>
    val got = CharShingles(lit(s), 4).eval(null).asInstanceOf[ArrayData]
      .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toVector
    got == refShingles(s, 4)
  }

  property("MinHashSig == affine-mix reference") = forAll(text) { s =>
    val got = MinHashSig(lit(s), 4, 4).eval(null).asInstanceOf[ArrayData]
      .toLongArray().toVector
    got == refMinhash(s, 4, 4)
  }

  property("SimHash32 == bit-count reference") = forAll(text) { s =>
    SimHash32(lit(s)).eval(null) == refSimhash(s)
  }

  property("WordFingerprint == sliding-gram reference") = forAll(text) { s =>
    WordFingerprint(lit(s)).eval(null) == refFingerprint(s)
  }

  property("WordNGrams == sliding reference incl. short/blank texts") =
    forAll(text, Gen.chooseNum(1, 4)) { (s, n) =>
      val toks = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
      val want: Vector[String] =
        if (toks.isEmpty) Vector.empty
        else if (toks.length < n) Vector(toks.mkString(" "))
        else toks.sliding(n).map(_.mkString(" ")).toVector
      val got = WordNGrams(lit(s), n).eval(null).asInstanceOf[ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toVector
      got == want
    }

  property("ShingleJaccard == set-intersection reference") = forAll(text, text) { (a, b) =>
    val sa = refShingles(a, 4).toSet
    val sb = refShingles(b, 4).toSet
    val want = sa.intersect(sb).size.toDouble / sa.union(sb).size
    ShingleJaccard(lit(a), lit(b), 4).eval(null) == want
  }

  property("LangQuality == independent marker-count + score reference") = forAll(text) { s =>
    val markers = graft.operators.TextAnalysis.Markers
    val tokens = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
    val hits = markers.toVector.sortBy(_._1)
      .map { case (l, ws) => (l, tokens.count(ws.toSet)) }
    val best = if (hits.isEmpty) 0 else hits.map(_._2).max
    val wantLang = if (best <= 0) "und" else hits.find(_._2 == best).get._1
    val all = markers.values.flatten.toSet
    val nChars = s.codePointCount(0, s.length).toDouble
    val nTok = tokens.length.toDouble
    val lenScore = math.min(nChars / 500.0, 1.0)
    val alpha = s.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == ' ')
    val alphaRatio = alpha / math.max(nChars, 1.0)
    val stopScore = math.min(tokens.count(all) / math.max(nTok, 1.0) * 5.0, 1.0)
    val mwl = tokens.map(t => t.codePointCount(0, t.length)).sum / math.max(nTok, 1.0)
    val wordLenScore = if (mwl >= 3.0 && mwl <= 12.0) 1.0 else 0.5
    val wantQ = math.floor((lenScore + alphaRatio + stopScore + wordLenScore) / 4.0 * 10000.0) / 10000.0
    val got = LangQuality(lit(s), markers.toSeq)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    got.getUTF8String(0).toString == wantLang && got.getDouble(1) == wantQ
  }

  property("ArrayAgreeRatio counts agreements over left length") = {
    val arr = Gen.listOfN(8, Gen.chooseNum(0L, 10L))
    forAll(arr, arr) { (a, b) =>
      val mk = (xs: List[Long]) =>
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(xs.toArray)
      val got = ArrayAgreeRatio(
        Literal.create(mk(a), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        Literal.create(mk(b), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
        .eval(null).asInstanceOf[Double]
      val want = a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
      Prop(math.abs(got - want) < 1e-12)
    }
  }
}
