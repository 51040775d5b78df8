package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.TextFunctions
import graft.operators.ChunkPacker

/** Property-based invariants for the greedy packers (SURVEY.md §5.2.2).
  * Words are alphabetic (1 token each), limit 12, so lines of up to 20 words
  * exercise the oversized path, the exact-limit quirk, and the word-level
  * second pass.
  */
object PackerProps extends Properties("ChunkPacker") {

  private val Limit = 12

  private val word: Gen[String] = Gen.chooseNum(1, 10)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val line: Gen[String] = Gen.chooseNum(0, 20)
    .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
  private val doc: Gen[List[String]] = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, line))

  private def wordsOf(s: String): List[String] =
    s.split("\\s+").filter(_.nonEmpty).toList

  property("content preservation: chunks+oversized carry every input word") =
    forAll(doc) { lines =>
      val r = ChunkPacker.packLines(lines, "\n", Limit)
      val got = (r.chunks ++ r.oversized).flatMap(wordsOf)
      val want = lines.flatMap(w => wordsOf(w.trim))
      got.sorted == want.sorted
    }

  property("word order preserved within the chunks stream") = forAll(doc) { lines =>
    val r = ChunkPacker.packLines(lines, "\n", Limit)
    val over = r.oversized.toSet
    val kept = lines.map(_.trim).filter(l => l.nonEmpty && !over.contains(l)).flatMap(wordsOf)
    r.chunks.flatMap(wordsOf) == kept
  }

  property("oversized really are oversized") = forAll(doc) { lines =>
    val r = ChunkPacker.packLines(lines, "\n", Limit)
    r.oversized.forall(l => TextFunctions.numTokens(l) > Limit)
  }

  property("chunks respect the budget (1-token words)") = forAll(doc) { lines =>
    // fit test omits the delimiter; with whitespace delims and alphabetic
    // words the realized chunk can reach exactly Limit, never beyond
    val r = ChunkPacker.packLines(lines, "\n", Limit)
    r.chunks.forall(c => TextFunctions.numTokens(c) <= Limit)
  }

  property("pypdf two-pass emits only within-budget chunks, no words lost") =
    forAll(doc) { lines =>
      val chunks = ChunkPacker.packPyPdf(lines, Limit)
      val got = chunks.flatMap(c => wordsOf(c.content))
      val want = lines.flatMap(w => wordsOf(w.trim))
      Prop(chunks.forall(_.tokenCount <= Limit) && got.sorted == want.sorted)
    }

  property("packer is deterministic") = forAll(doc) { lines =>
    ChunkPacker.packLines(lines, "\n", Limit) == ChunkPacker.packLines(lines, "\n", Limit)
  }

  property("cosine bounds and symmetry") = {
    val vec = Gen.listOfN(16, Gen.chooseNum(-5.0f, 5.0f)).map(_.map(_.toDouble).toArray)
    forAll(vec, vec) { (a, b) =>
      val ab = graft.functions.VectorFunctions.cosine(a, b)
      val ba = graft.functions.VectorFunctions.cosine(b, a)
      Prop(math.abs(ab - ba) < 1e-12 && ab >= -1.0000001 && ab <= 1.0000001)
    }
  }

  property("section numbering monotone from 1, +1 steps") = forAll(doc) { lines =>
    val text = lines.mkString("\n")
    val paras = graft.operators.Sectionizer.paragraphs("f", text)
    val secs = paras.map(_.section)
    secs.isEmpty || (secs.head == 1 && secs.zip(secs.tail).forall { case (a, b) => b == a || b == a + 1 })
  }

  // nougat-flavored lines: headings, bullets, scrub markers, blanks — the
  // shapes the streaming sectionizer and per-doc scrub must splice exactly
  private val nougatLine: Gen[String] = Gen.frequency(
    5 -> line,
    1 -> line.map("# " + _),
    1 -> line.map("## " + _),
    1 -> line.map("* " + _),
    1 -> Gen.const(""),
    1 -> line.map("\\begin{tabular}{cc} " + _),
    1 -> line.map("\\end{table} " + _))
  private val nougatText: Gen[String] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, nougatLine).map(_.mkString("\n")))

  property("streaming sectionsFromLines == materialized sections∘paragraphs") =
    forAll(nougatText) { text =>
      val streamed = graft.operators.Sectionizer
        .sectionsFromLines(graft.operators.Sectionizer.cleanMmd(text).split("\n", -1).iterator)
        .toVector
      val want = graft.operators.Sectionizer
        .sections(graft.operators.Sectionizer.paragraphs("f", text))
        .map(s => (s.chunk, s.tokenCount))
      streamed == want
    }

  property("formRuns: lossless grouping of a sorted stream, robust to partial reads") = {
    val runGen = for {
      nForms <- Gen.chooseNum(0, 6)
      sizes <- Gen.listOfN(nForms, Gen.chooseNum(1, 5))
    } yield sizes.zipWithIndex.flatMap { case (n, f) =>
      (0 until n).map(i => graft.operators.ChunkingJob.DocInput(s"form$f", i.toLong, s"t$f-$i"))
    }
    forAll(runGen, Gen.chooseNum(0, 5)) { (rows, keep) =>
      // full consumption reproduces the exact grouping
      val full = graft.operators.ChunkingJob.formRuns(rows.iterator)
        .map { case (f, it) => (f, it.toList) }.toList
      val want = rows.foldLeft(List.empty[(String, List[graft.operators.ChunkingJob.DocInput])]) {
        case ((f, ds) :: rest, d) if f == d.formName => (f, ds :+ d) :: rest
        case (acc, d) => (d.formName, List(d)) :: acc
      }.reverse
      val fullOk = full == want
      // reading only `keep` docs of each run must not corrupt later runs
      val partial = graft.operators.ChunkingJob.formRuns(rows.iterator)
        .map { case (f, it) => (f, it.take(keep).toList) }.toList
      val partialOk = partial == want.map { case (f, ds) => (f, ds.take(keep)) }
      Prop(fullOk && partialOk)
    }
  }

  property("per-doc scrubbedLines splice == whole-form scrub split") = {
    val docsGen = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, nougatText))
    forAll(docsGen) { texts =>
      val run = texts.zipWithIndex.map { case (t, i) =>
        graft.operators.ChunkingJob.DocInput("f", i.toLong, t)
      }
      val streamed = graft.operators.ChunkingJob.scrubbedLines(run.iterator).toList
      val whole = TextFunctions.scrub(texts.mkString("\n")).split("\n", -1).toList
      streamed == whole
    }
  }
}
