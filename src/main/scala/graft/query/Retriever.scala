package graft.query

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  def assembleContext(topk: DataFrame, question: String, textCol: String = "text"): String =
    prompt(topk.select(col(textCol)).collect().map(_.getString(0)).toSeq, question)

  private def prompt(texts: Seq[String], question: String): String =
    texts.mkString("\n") + "\n\n Question: " + question

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
    * serve path), and the hit ids select their context text from `index`
    * by key. Exactness is traded for serve cost — q244 measures the recall
    * gap against the brute-force path on the same queries. Returns (hits in
    * rank order, assembled prompt); the hits are a local relation of
    * (vec_id, query_id, rank, adc_u, text) with the inner join's
    * semantics: a hit without a text row drops, an id held by several rows
    * repeats.
    *
    * Job shape per ask, two jobs: the embedded question goes to the
    * index's driver-side serve as is (no DataFrame is planned for it),
    * which takes the centroids and the codebook from its memo (one collect
    * the first time a driver serves an index it did not build), ranks
    * cells and builds the LUT on the driver and runs the pruned codes scan,
    * the ADC sums and the top-k as one shuffle job; then one scan of
    * `index` filtered to the k hit ids (pushed to the reader when `idCol`
    * is already a long) collects their texts, and the prompt is assembled
    * in rank order on the driver.
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
    val qv = embedder.embed(Seq(question)).head
    // (query_id, rank, vec_id, adc_u) in rank order
    val served = graft.index.AnnIndex.serve(spark, idxDir, Seq(0L -> Seq(qv.map(_.toDouble))),
      k, nprobe, m, sub, excludeSelf = false).toSeq
    val byKey = index.select(col(idCol).cast("long").as("vec_id"), col(textCol))
    val texts = byKey.filter(col("vec_id").isin(served.flatMap(h => Option(h.get(2))): _*))
      .collect().groupBy(_.get(0))
    val hits = served.flatMap { h =>
      texts.getOrElse(h.get(2), Array.empty[Row]).map(t => Row(h.get(2), h.get(0), h.get(1), h.get(3), t.get(1)))
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("query_id", LongType, nullable = false), StructField("rank", LongType, nullable = false),
      StructField("adc_u", LongType), byKey.schema(textCol)))
    (spark.createDataFrame(hits.asJava, schema), prompt(hits.map(_.getString(4)), question))
  }
}
