package graft.query

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Run-scoped structured logging — the `ApplicationLog` table analog
  * (`pipeline1.py:296-298`, DDL `2_application_table_setup.sql:4-12`). The
  * reference mints one correlation id per run
  * (`strftime('%d_%m_%Y_%H_%M_%S') + '-' + random6`, `pipeline1.py:309`)
  * and inserts ~40 `(correlation_id, component, status, details)` rows over
  * a pipeline's lifetime.
  *
  * Spark-first shape: rows funnel through a `CollectionAccumulator`, so
  * EXECUTOR-side stages (mapPartitions embed batches, foreachBatch sinks)
  * log without driver coordination or a side connection per task — the
  * accumulator merge is Spark's own task-result channel. `toDF` snapshots
  * the accumulated rows; `writeTo` appends them to a parquet table with the
  * DDL's column names.
  *
  * Delivery semantics: accumulator updates from inside TRANSFORMATIONS are
  * at-least-once — a retried or speculative task re-applies them, so
  * executor-side rows can duplicate under failure (the reference's
  * INSERT-per-log-row from a retried Airflow task duplicates identically).
  * Driver-side `log` calls and updates inside actions are exactly-once;
  * counts that must be exact should log from the driver, as q51 does.
  */
final class ApplicationLog(spark: SparkSession, val correlationId: String)
    extends Serializable {

  private val acc = spark.sparkContext
    .collectionAccumulator[(String, String, String, String)]("graft.applicationLog")

  /** Safe to call on the driver OR inside executor-side closures. */
  def log(component: String, status: String, details: String): Unit =
    acc.add((correlationId, component, status, details))

  def entries: Seq[(String, String, String, String)] = {
    import scala.jdk.CollectionConverters._
    acc.value.asScala.toSeq
  }

  /** Snapshot of the run's log with the reference DDL's column names;
    * log ids are minted at snapshot time (the auto-increment analog).
    */
  def toDF: DataFrame = {
    import spark.implicits._
    entries.zipWithIndex.map { case ((cid, comp, status, details), i) =>
      (i.toLong + 1, cid, comp, status, details)
    }.toDF("Application_LogId", "Application_LogCorrelationID",
      "Application_Component", "Application_LogStatus", "Application_LogDetails")
      .withColumn("created_datetime", current_timestamp())
  }

  def writeTo(path: String): Unit =
    toDF.write.mode(SaveMode.Append).parquet(path)
}

object ApplicationLog {

  /** `pipeline1.py:309`: timestamp tag + '-' + 6 random alphanumerics. */
  def newCorrelationId(): String =
    LocalDateTime.now().format(DateTimeFormatter.ofPattern("dd_MM_yyyy_HH_mm_ss")) +
      "-" + TextFunctions.randomAlnum(6)

  def apply(spark: SparkSession): ApplicationLog =
    new ApplicationLog(spark, newCorrelationId())
}
