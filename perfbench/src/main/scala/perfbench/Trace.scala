package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced call into a layer. `name` is `<layer>.<what>`; `request`
  * groups the spans of one measured op.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long, start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder plus a Spark listener that attributes jobs, stages, tasks
  * and scanned rows to the innermost open span through the job group.
  * Disabled (plain mode), [[apply]] only runs its body: no listener is
  * registered and nothing is materialized. A traced run switches [[active]]
  * off for every other op, so the same run also times untraced ops and
  * reports the tracing overhead.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val rec = new Recorder
  if (on) sc.addSparkListener(rec)
  val thread: Thread = Thread.currentThread()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** Request id stamped on spans opened from now on. */
  var request: Long = -1L
  var active: Boolean = on

  private var inPlainOp = false
  private val plainOps = mutable.Map.empty[String, Int].withDefaultValue(0)

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else if (!active) {
      // an untraced op of a traced run: no spans, no materialization; only
      // its jobs are tagged, so jobs per op are counted on the plain path
      if (inPlainOp) body
      else {
        inPlainOp = true
        plainOps(name) += 1
        sc.setJobGroup("plain:" + name, name, interruptOnCancel = false)
        try body finally { inPlainOp = false; sc.clearJobGroup() }
      }
    } else {
      val s = Span(spans.size.toLong, name, stack.headOption.fold(-1L)(_.id), request, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Traced mode materializes a layer's lazy result inside its span, so the
    * next layer's span does not absorb its work; plain mode passes through.
    */
  def mat(df: DataFrame): DataFrame = if (active) df.localCheckpoint(eager = true) else df

  /** Wait until the listener has seen every event of the run. */
  def finish(): Unit = if (on) org.apache.spark.sql.PerfbenchAccess.drain(sc)

  private def children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Span time minus the time its (sequential) child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  def subtree(s: Span): Seq[Span] = {
    val kids = children
    def walk(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).flatMap(walk)
    walk(s)
  }

  /** Mean Spark jobs per untraced op named `name`. */
  def plainJobsPerOp(name: String): Double =
    rec.work(Set("plain:" + name)).jobs.toDouble / math.max(1, plainOps(name))

  /** Spark work attributed to `ss` (own jobs only, not children's). */
  def work(ss: Seq[Span]): Work = rec.work(ss.map(_.id.toString).toSet)

  /** Wall time minus the union of stage intervals of the span's subtree:
    * the time its work waited on the driver.
    */
  def driverOnlySeconds(s: Span): Double = {
    val ivs = rec.stageIntervals(subtree(s).map(_.id.toString).toSet)
      .map { case (a, b) => (math.max(a, s.start / 1000000L), math.min(b, s.end / 1000000L)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  def spansJson: String = Json.arr(spans.toSeq.map { s =>
    Json.obj("id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
      "request" -> Json.num(s.request), "start_ns" -> Json.num(s.start), "end_ns" -> Json.num(s.end))
  })
}

/** Spark work attributed to a set of spans. `scanRows` maps a scanned
  * file root (by its last path element) to the rows its scans output.
  */
final case class Work(jobs: Int, stages: Int, tasks: Int, taskSeconds: Double,
    shuffleWriteBytes: Long, spillBytes: Long, taskSkew: Double, scanRows: Map[String, Long])

private final class Recorder extends SparkListener {
  private final class StageRec(val group: String) {
    var submitted = 0L
    var completed = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val execGroup = mutable.Map.empty[Long, String]
  private val scans = mutable.ArrayBuffer.empty[(String, String, Long)]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += groupOf(e.properties)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val r = new StageRec(groupOf(e.properties))
    r.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stages((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = r
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      r.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { r =>
      r.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execGroup(s.executionId) = s.jobGroupId.getOrElse("") }
    case end: SparkListenerSQLExecutionEnd =>
      val g = synchronized(execGroup.getOrElse(end.executionId, ""))
      val plan = org.apache.spark.sql.PerfbenchAccess.queryExecution(end).map(_.executedPlan)
      val found = plan.toSeq.flatMap(fileScans).map { s =>
        val root = s.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
        (g, root, s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      }
      synchronized { scans ++= found }
    case _ =>
  }

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case r: ReusedExchangeExec => fileScans(r.child)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  def work(groups: Set[String]): Work = synchronized {
    val st = stages.values.filter(r => groups.contains(r.group)).toSeq
    val tasks = st.flatMap(_.taskMs)
    val sorted = tasks.sorted
    val skew = if (sorted.isEmpty) 0.0
      else sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    Work(
      jobs = jobs.count(groups.contains),
      stages = st.size,
      tasks = tasks.size,
      taskSeconds = tasks.sum / 1000.0,
      shuffleWriteBytes = st.map(_.shuffleWrite).sum,
      spillBytes = st.map(_.spill).sum,
      taskSkew = skew,
      scanRows = scans.filter(s => groups.contains(s._1)).groupMapReduce(_._2)(_._3)(_ + _))
  }

  def stageIntervals(groups: Set[String]): Seq[(Long, Long)] = synchronized {
    stages.values.filter(r => groups.contains(r.group) && r.completed >= r.submitted)
      .map(r => (r.submitted, r.completed)).toSeq
  }
}
