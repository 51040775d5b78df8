package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.embed.Embedder
import graft.functions.VectorFunctions

/** The reference's entire "query engine" (`QA_using_pinecone.py:31-65`):
  * embed the question, score the metadata-filtered index by cosine, keep
  * top-k, assemble the context prompt.
  *
  * Plan shape (SURVEY.md §4.3): the question vector is a literal (broadcast
  * by value); the `title IN (...)` predicate sits BELOW the score so pruning
  * happens at the scan; `orderBy(desc).limit(k)` plans as
  * TakeOrderedAndProject — per-partition top-k then a k-row merge at the
  * driver, never a full sort. At 100 TB this is one scan + one k-row
  * exchange.
  */
object Retriever {

  /** Top-k records for a question vector, optionally restricted to forms. */
  def topK(
      index: DataFrame,
      questionVec: Array[Float],
      formTitles: Seq[String],
      k: Int = 2,
      vectorCol: String = "content_vector",
      titleCol: String = "title"): DataFrame = {
    val filtered =
      if (formTitles.isEmpty) index
      else index.filter(col(titleCol).isin(formTitles: _*))
    filtered
      .withColumn("score", VectorFunctions.cosineSim(col(vectorCol), lit(questionVec)))
      .orderBy(col("score").desc, col("vector_id"))
      .limit(k)
  }

  /** Context assembly (`QA_using_pinecone.py:45-55`): match texts joined by
    * "\n", then the prompt suffix. Driver-side over k collected rows.
    */
  def assembleContext(topk: DataFrame, question: String, textCol: String = "text"): String = {
    val texts = topk.select(col(textCol)).collect().map(_.getString(0))
    texts.mkString("\n") + "\n\n Question: " + question
  }

  /** End-to-end ask: embed (pluggable), retrieve, assemble. The LLM
    * completion is an external sink outside the engine (temperature-0
    * gpt-3.5 in the reference) — callers take the prompt from here.
    */
  def ask(
      index: DataFrame,
      question: String,
      formTitles: Seq[String],
      embedder: Embedder,
      k: Int = 2): (DataFrame, String) = {
    val qv = embedder.embed(Seq(question)).head
    val hits = topK(index, qv, formTitles, k)
    (hits, assembleContext(hits, question))
  }

  /** Index-SERVED ask: the production flavor of [[ask]] — retrieval runs
    * against the persisted [[graft.index.AnnIndex]] (centroids + codebook
    * + cell-partitioned PQ codes; the codes scan is partition-pruned to
    * the probed cells and the raw embedding corpus is NEVER read on the
    * serve path), and hit ids join back to `index` only to fetch context
    * text by key. Exactness is traded for serve cost — q244 measures the
    * recall gap against the brute-force path on the same queries. Returns
    * (hits in rank order, assembled prompt).
    *
    * Job shape per ask, three jobs: [[graft.index.AnnIndex.query]] takes
    * the centroids and the codebook from its memo (one collect the first
    * time a driver serves an index it did not build) and ranks cells and
    * builds the LUT on the driver; the prompt's collect then runs the
    * pruned codes scan with its one exchange, the context-text broadcast
    * and the result stage. The k rows are put in rank order in a single
    * partition, so no range-partitioned sort runs.
    */
  def askViaIndex(
      index: DataFrame,
      idxDir: String,
      question: String,
      embedder: Embedder,
      k: Int = 2,
      nprobe: Int = 4,
      m: Int = 8,
      sub: Int = 8,
      idCol: String = "vector_id",
      textCol: String = "text"): (DataFrame, String) = {
    val spark = index.sparkSession
    import spark.implicits._
    val qv = embedder.embed(Seq(question)).head
    val queries = Seq((0L, qv)).toDF("query_id", "qv")
    val hits = graft.index.AnnIndex
      .query(spark, idxDir, queries, k, nprobe, m, sub)
      .join(index.select(col(idCol).cast("long").as("vec_id"), col(textCol)),
        Seq("vec_id"))
      .coalesce(1).sortWithinPartitions(col("rank"))
    (hits, assembleContext(hits, question, textCol))
  }
}
