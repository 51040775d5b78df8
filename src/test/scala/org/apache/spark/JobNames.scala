package org.apache.spark

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spec helper: the Spark jobs a block launches, one entry per job holding
  * its stages' call-site names (e.g. "parquet at AnnIndex.scala:107").
  * Lives in `org.apache.spark` for the listener bus drain, which is
  * Spark-private: without it a job's start event may still be queued when
  * the block returns.
  */
object JobNames {
  def during[T](sc: SparkContext)(body: => T): (T, Seq[Seq[String]]) = {
    val jobs = ArrayBuffer.empty[Seq[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized(jobs += e.stageInfos.map(_.name))
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
