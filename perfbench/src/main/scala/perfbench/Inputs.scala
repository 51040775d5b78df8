package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Seeded input generation. Every workload input derives from the
  * committed sf0.1 `documents` table and the `--seed` argument alone; the
  * engine only ever sees the generated inputs. A form is one `source` of
  * that table (20 sources of 250 documents at sf0.1), named after it.
  */
object Inputs {

  final case class Doc(text: String, source: String)

  /** The sf0.1 documents in `doc_id` order (5000 single-line texts). */
  def documents(spark: SparkSession, data: Path): IndexedSeq[Doc] = {
    import spark.implicits._
    spark.read.parquet(data.resolve("documents.parquet").toString)
      .select($"doc_id", $"text", $"source").as[(Long, String, String)].collect()
      .sortBy(_._1).map(r => Doc(r._2.trim, r._3)).filter(_.text.nonEmpty).toIndexedSeq
  }

  /** The table's sources in a fixed order: the forms of both workloads. */
  def sources(docs: IndexedSeq[Doc]): IndexedSeq[String] =
    docs.map(_.source).distinct.sortBy(s => (s.length, s))

  final case class Form(name: String, lines: IndexedSeq[String]) {
    def text: String = lines.mkString("\n")
  }

  /** Ingest corpus: one PDF per source, `perForm` lines each. The seed picks
    * which of the source's documents go in, which `clones` lines per form
    * are copies of other lines of the same form (a page uploaded twice),
    * and the line order. Line and clone counts are fixed, so every seed
    * asks for the same amount of work.
    */
  def ingestForms(docs: IndexedSeq[Doc], seed: Long, perForm: Int, clones: Int): Seq[Form] = {
    val rnd = new Random(seed)
    val bySource = docs.groupBy(_.source)
    sources(docs).map { src =>
      val distinct = rnd.shuffle(bySource(src).map(_.text)).take(perForm - clones)
      val copies = Vector.fill(clones)(distinct(rnd.nextInt(distinct.size)))
      Form(src, rnd.shuffle(distinct ++ copies).toIndexedSeq)
    }
  }

  /** Nightly delta for the ingest refresh: `n` seeded documents that are not
    * in the corpus, each added to the form of its own source, plus the one
    * seeded form the refresh deletes.
    */
  def ingestDelta(docs: IndexedSeq[Doc], corpus: Seq[Form], seed: Long,
      n: Int): (Seq[(String, String)], String) = {
    val rnd = new Random(seed ^ 0x5eedL)
    val used = corpus.flatMap(_.lines).toSet
    val fresh = rnd.shuffle(docs.filterNot(d => used(d.text))).take(n)
    (fresh.map(d => d.source -> d.text), corpus(rnd.nextInt(corpus.size)).name)
  }

  /** Ask corpus: `perForm` seeded documents of every source, one chunk
    * record each; the record's numeric id is its position in a seeded
    * permutation of the whole corpus.
    */
  def askCorpus(docs: IndexedSeq[Doc], seed: Long, perForm: Int): IndexedSeq[(Long, String, String)] = {
    val rnd = new Random(seed)
    val bySource = docs.groupBy(_.source)
    val picked = sources(docs).flatMap(src => rnd.shuffle(bySource(src)).take(perForm))
    rnd.shuffle(picked).zipWithIndex.map { case (d, i) => (i.toLong, d.source, d.text) }
  }

  final case class Question(text: String, forms: Seq[String])

  /** Seeded questions: the leading 6-10 words of a random corpus record,
    * asked against a filter of that record's form plus 0-2 other forms.
    */
  def questions(corpus: IndexedSeq[(Long, String, String)], seed: Long, n: Int): IndexedSeq[Question] = {
    val rnd = new Random(seed ^ 0xa5cL)
    val forms = corpus.map(_._2).distinct.sorted
    (0 until n).map { _ =>
      val (_, form, text) = corpus(rnd.nextInt(corpus.size))
      val words = text.split("\\s+").take(6 + rnd.nextInt(5)).mkString(" ")
      val others = Seq.fill(rnd.nextInt(3))(forms(rnd.nextInt(forms.size)))
      Question(words, (form +: others).distinct)
    }
  }
}
