package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.operators.Tuning

/** Sinks/sources beyond parquet (SURVEY.md §2.1 S6-S11). */
object Sinks {

  /** S6 headered CSV chunk sink — pipeline 1's output contract
    * (`pipeline1.py:729`, `881`): embeddings serialized as a JSON float
    * list so `readChunkCsv` (S7) round-trips them.
    */
  def writeChunkCsv(chunks: DataFrame, path: String): Unit = {
    val out =
      if (chunks.columns.contains("Embeddings"))
        chunks.withColumn("Embeddings", to_json(col("Embeddings")))
      else chunks
    out.write.option("header", true).mode(SaveMode.Overwrite).csv(path)
  }

  /** JSONL source with an explicit corrupt-record quarantine — the
    * ingest contract a 100 TB web-scrape drop needs: PERMISSIVE parse
    * against a REQUIRED schema, malformed lines captured in a corrupt
    * column instead of killing the job (FAILFAST) or silently nulling
    * (the default's trap: without materializing the corrupt column the
    * bad line is indistinguishable from a legitimately-null row).
    * Returns (clean, quarantine): clean rows carry the schema columns;
    * the quarantine keeps the RAW line for replay after a parser fix —
    * the two-stream shape of every production ingest. Schema must not
    * already contain the corrupt column name.
    */
  def readJsonlQuarantine(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      corruptCol: String = "_corrupt_record"): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains(corruptCol),
      s"schema already has a '$corruptCol' column")
    val withCorrupt = schema.add(corruptCol,
      org.apache.spark.sql.types.StringType)
    // Spark's lazy corrupt-column contract: referencing the corrupt column
    // requires it to be materialized through a checkpoint-like boundary; a
    // cut keeps this a one-pass read
    val raw = Tuning.cut(spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path))
    val clean = raw.filter(col(corruptCol).isNull)
      .select(schema.fieldNames.map(col): _*)
    val quarantine = raw.filter(col(corruptCol).isNotNull)
      .select(col(corruptCol).as("raw_line"))
    (clean, quarantine)
  }

  /** Columnar interchange beyond parquet: ORC sink/source (Spark-native,
    * zero extra dependencies). A 100 TB estate rarely lives in one
    * format — Hive-era tables arrive as ORC — and both formats carry the
    * same pushdown/pruning contract (min/max stripe stats ≈ row-group
    * stats), so reads keep `PushedFilters` semantics. Round-trip
    * (schema incl. nested arrays + values) is spec-checked.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S9 JDBC append sink — ONE batched append per dataset, replacing the
    * reference's connection-per-row inserts (`pipeline2.py:325-331`,
    * SURVEY.md §4.2). Untestable offline (no database in the container);
    * thin by design.
    */
  def jdbcAppend(df: DataFrame, url: String, table: String, props: Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /** S10 JDBC source. */
  def jdbcRead(spark: SparkSession, url: String, table: String, props: Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** S11 batched bulk sink (`BatchGenerator` 300-row upserts,
    * `pipeline2.py:85-102`, `112`): foreachPartition + grouped(n) so each
    * executor streams fixed-size batches to the external store — no
    * driver materialization, no `np.array_split` of the whole table.
    */
  def foreachBatchedPartition(df: DataFrame, batchSize: Int)(send: Seq[Row] => Unit): Unit =
    df.foreachPartition { it: Iterator[Row] =>
      it.grouped(batchSize).foreach(batch => send(batch))
    }

  /** Collector-backed batch sink for tests/local runs: returns the batch
    * sizes observed (order-independent).
    */
  def batchSizes(df: DataFrame, batchSize: Int): Seq[Int] = {
    val acc = df.sparkSession.sparkContext.collectionAccumulator[Int]("batchSizes")
    foreachBatchedPartition(df, batchSize)(b => acc.add(b.size))
    import scala.jdk.CollectionConverters._
    acc.value.asScala.toSeq
  }
}
