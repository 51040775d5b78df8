package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Distributed chunking (the whole of pipeline 1's transform DAG as ONE lazy
  * plan — SURVEY.md §3.2): documents arrive as (formName, text) rows, are
  * grouped per form (the single shuffle), and each group runs the sequential
  * packer. Parallelism is across forms/documents — at 100 TB that is millions
  * of independent groups, so executors stay saturated while each group's
  * packing remains the order-faithful sequential algorithm.
  */
object ChunkingJob {

  final case class DocInput(formName: String, seq: Long, text: String)
  final case class ChunkRow(Content: String, TokenCount: Int, FormName: String, ChunkId: String)

  /** Lazily group a (formName, seq)-sorted partition iterator into
    * consecutive per-form runs WITHOUT materializing any group: each inner
    * iterator streams straight off the partition iterator, and advancing to
    * the next run drains whatever of the previous run was left unread. The
    * shuffle sort replaces the old in-heap `rows.toSeq.sortBy` — at 100x
    * scale a hot form no longer has to fit in one task's heap as row
    * objects; only the packer's O(tokenLimit) buffer is resident.
    */
  private[graft] def formRuns(rows: Iterator[DocInput]): Iterator[(String, Iterator[DocInput])] =
    new Iterator[(String, Iterator[DocInput])] {
      private val buf = rows.buffered
      private var run: Iterator[DocInput] = Iterator.empty
      private def drain(): Unit = while (run.hasNext) run.next()
      def hasNext: Boolean = { drain(); buf.hasNext }
      def next(): (String, Iterator[DocInput]) = {
        drain()
        val form = buf.head.formName
        run = new Iterator[DocInput] {
          def hasNext: Boolean = buf.hasNext && buf.head.formName == form
          def next(): DocInput = buf.next()
        }
        (form, run)
      }
    }

  private def byForm(docs: Dataset[DocInput]): Dataset[DocInput] =
    docs.repartition(col("formName")).sortWithinPartitions(col("formName"), col("seq"))

  /** PyPDF path (C1+C2): text split to lines inside the group — no
    * per-line shuffle, document order preserved by the shuffle sort.
    * Lines stream from the sorted run straight into the packer (splitting
    * per document is identical to splitting the "\n"-joined form text:
    * `(a + "\n" + b).split("\n", -1) == a.split(...) ++ b.split(...)`).
    */
  def chunkPyPdf(docs: Dataset[DocInput], tokenLimit: Int, parityIds: Boolean = true): Dataset[ChunkRow] = {
    import docs.sparkSession.implicits._
    byForm(docs).mapPartitions { rows =>
      formRuns(rows).flatMap { case (form, docRows) =>
        val lines = docRows.flatMap(_.text.split("\n", -1).iterator)
        val (first, second) = ChunkPacker.packPyPdfPasses(lines, tokenLimit)
        val all = first ++ second
        val ids = ChunkPacker.pyPdfChunkIds(first.size, all.size, form, parityIds)
        all.zip(ids).iterator.map { case (c, id) =>
          ChunkRow(c, TextFunctions.numTokens(c), form, id)
        }
      }
    }
  }

  /** Nougat path (clean → sectionize → C3 → C4) per form, fully streamed:
    * each document is scrubbed ON ITS OWN (a DOTALL warning span never
    * crosses a PDF boundary), with the inter-document "\n" join preserved
    * by scrubbing `text + "\n"` for every non-final document — byte-
    * identical to scrubbing the joined form text, including the quirk that
    * a line-scoped marker on the form's unterminated FINAL line does not
    * scrub (the pattern needs its trailing newline). The sectionizer then
    * consumes a line iterator with carried section state and the packer a
    * section iterator, so nothing form-sized ever materializes: resident
    * state is one section plus the packer's O(tokenLimit) buffer.
    */
  def chunkNougat(docs: Dataset[DocInput], tokenLimit: Int): Dataset[ChunkRow] = {
    import docs.sparkSession.implicits._
    byForm(docs).mapPartitions { rows =>
      formRuns(rows).flatMap { case (form, docRows) =>
        val secs = Sectionizer.sectionsFromLines(scrubbedLines(docRows))
        ChunkPacker.packNougat(secs, tokenLimit).zipWithIndex.iterator.map {
          case (c, i) => ChunkRow(c.content, c.tokenCount, form, s"${form}_$i")
        }
      }
    }
  }

  /** The raw "\n"-split lines of the scrubbed form text, streamed one
    * document at a time. Every non-final piece is scrubbed as
    * `scrub(text + "\n")` (reproducing the join context for line-scoped
    * markers on a document's last line) and therefore ends in "\n", so its
    * final split element is "" — dropping it splices piece boundaries
    * exactly as splitting the joined scrubbed string would.
    */
  private[graft] def scrubbedLines(docs: Iterator[DocInput]): Iterator[String] =
    new Iterator[String] {
      private var cur: Iterator[String] = Iterator.empty
      private def refill(): Unit = while (!cur.hasNext && docs.hasNext) {
        val d = docs.next()
        val last = !docs.hasNext
        val parts = TextFunctions.scrub(if (last) d.text else d.text + "\n").split("\n", -1)
        cur = if (last) parts.iterator else parts.iterator.take(parts.length - 1)
      }
      def hasNext: Boolean = { refill(); cur.hasNext }
      def next(): String = { refill(); cur.next() }
    }

  /** W1-W4 as pure window expressions over paragraph rows — the declarative
    * twin of [[Sectionizer.paragraphs]], for corpora that are already
    * exploded to lines. Input columns: formName, lineNo, para. Output adds
    * paraSemantics, isHeading, section, tokenCount, cumulativeTokenCount.
    * One shuffle on formName; both windows share the partitioning.
    */
  def sectionizeDF(paras: DataFrame): DataFrame = {
    val byForm = Window.partitionBy(col("formName")).orderBy(col("lineNo"))
    val before = byForm.rowsBetween(Window.unboundedPreceding, -1)
    val upToHere = byForm.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    paras
      .withColumn("paraSemantics", TextFunctions.classifyMarkdownCol(col("para")))
      .withColumn("isHeading", col("paraSemantics").isin("Heading1", "Heading2", "Heading3").cast("int"))
      .withColumn("headingSeenBefore", coalesce(max(col("isHeading")).over(before), lit(0)))
      .withColumn("section",
        sum(when(col("isHeading") === 1 || col("headingSeenBefore") === 0, 1).otherwise(0))
          .over(upToHere))
      .withColumn("tokenCount", TextFunctions.numTokensCol(col("para")))
      .withColumn("cumulativeTokenCount", sum(col("tokenCount")).over(upToHere))
      .drop("headingSeenBefore")
  }
}
