package org.apache.spark

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spec helper: the Spark jobs a block launches, one entry per job holding
  * its stages' call-site names (e.g. "parquet at AnnIndex.scala:107") or,
  * with [[callStacks]], their long call sites (the stack the job was
  * submitted from, e.g. starting "...DataFrameReader.parquet(" for a
  * parquet schema-inference job), or with [[descriptions]] its job
  * description; with [[executions]], the executed plan of each SQL
  * execution it runs.
  * Lives in `org.apache.spark` for the listener bus drain, which is
  * Spark-private: without it a job's start event may still be queued when
  * the block returns.
  */
object JobNames {
  def during[T](sc: SparkContext)(body: => T): (T, Seq[Seq[String]]) =
    record(sc, _.name)(body)

  def callStacks[T](sc: SparkContext)(body: => T): (T, Seq[Seq[String]]) =
    record(sc, _.details)(body)

  /** The job description (`spark.job.description`, null when unset) of
    * each job the block launches.
    */
  def descriptions[T](sc: SparkContext)(body: => T): (T, Seq[String]) =
    recordJobs(sc, _.properties.getProperty("spark.job.description"))(body)

  /** (name, executed plan) of each SQL execution the block runs that
    * `spark`'s query-execution listeners see: a named execution's name,
    * otherwise its action's ("collect", …).
    */
  def executions[T](spark: SparkSession)(body: => T): (T, Seq[(String, String)]) = {
    val seen = ArrayBuffer.empty[(String, String)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized(seen += funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
      (out, seen.synchronized(seen.toSeq))
    } finally spark.listenerManager.unregister(listener)
  }

  private def record[T](sc: SparkContext, what: StageInfo => String)(
      body: => T): (T, Seq[Seq[String]]) =
    recordJobs(sc, _.stageInfos.map(what))(body)

  private def recordJobs[T, A](sc: SparkContext, what: SparkListenerJobStart => A)(
      body: => T): (T, Seq[A]) = {
    val jobs = ArrayBuffer.empty[A]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized(jobs += what(e))
    }
    sc.listenerBus.waitUntilEmpty(60000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (out, jobs.synchronized(jobs.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
