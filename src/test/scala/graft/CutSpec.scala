package graft

import java.lang.ref.WeakReference

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.plans.{Cut, CutCell}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Tuning

/** The semantics of [[Tuning.cut]]: one lazy computation shared by every
  * reader, pinned non-deterministic values, the child's statistics at
  * planning time, and a loop whose earlier rounds are released.
  */
class CutSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The cell of a Dataset whose plan is one cut. */
  private def cellOf(df: DataFrame): CutCell =
    df.queryExecution.optimizedPlan.collectFirst { case c: Cut => c.cell }.get

  test("a cut runs no job until a reader executes") {
    val (_, jobs) = org.apache.spark.JobNames.during(spark.sparkContext)(
      Tuning.cut(spark.range(0, 100, 1, 4).groupBy((col("id") % 3).as("k")).count()))
    assert(jobs.isEmpty, jobs)
  }

  test("readers compute the child once: a self-join, a concurrent action and a later one") {
    val evals = spark.sparkContext.longAccumulator("cut evals")
    val bump = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val c = Tuning.cut(spark.range(0, 1000, 1, 4).select(col("id"), bump(col("id")).as("v")))
    // the two sides project differently, so exchange reuse cannot merge them
    val joined = Future(c.select(col("id"), (col("v") * 2).as("w"))
      .join(c.filter(col("v") % 2 === 0).select(col("id"), col("v")), "id").count())
    val counted = Future(c.count())
    assert(Await.result(joined, 2.minutes) == 500L)
    assert(Await.result(counted, 2.minutes) == 1000L)
    assert(c.agg(sum(col("v"))).head().getLong(0) == 499500L)
    assert(evals.value == 1000L)
  }

  test("a non-deterministic column reads identical values in every branch") {
    val noise = udf(() => scala.util.Random.nextLong()).asNondeterministic()
    val r = Tuning.cut(spark.range(0, 200, 1, 4)
      .withColumn("r", rand()).withColumn("n", noise()))
    val a = r.select(col("id"), col("r").as("ra"), col("n").as("na"))
    val b = r.filter(col("id") >= 0).select(col("id"), col("r").as("rb"), col("n").as("nb"))
    val joined = a.join(b, "id")
    assert(joined.count() == 200L)
    assert(joined.filter(col("ra") =!= col("rb") || col("na") =!= col("nb")).count() == 0L)
    assert(r.collect().toSeq == r.collect().toSeq)
  }

  test("a cut of a tiny relation still plans a broadcast join") {
    val s = spark
    import s.implicits._
    val tiny = Tuning.cut(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val big = spark.range(0, 20000000L).toDF("id")
    val plan = big.join(tiny, "id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("an explicit-N range layout stays pinned through the cut") {
    val parted = Tuning.cut(spark.range(0, 1000, 1, 3).toDF("id")
      .repartitionByRange(5, col("id")).sortWithinPartitions(col("id")))
    val plan = parted.groupBy(col("id")).count().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(parted.rdd.getNumPartitions == 5)
  }

  test("a 30-round loop of cuts leaves round 1's rows weakly reachable only") {
    var cur = Tuning.cut(spark.range(0, 100, 1, 2).toDF("id"))
    assert(cur.count() == 100L)
    // once materialized, the cell hands out its checkpointed rows as they are
    val first = Seq(new WeakReference[AnyRef](cellOf(cur)),
      new WeakReference[AnyRef](cellOf(cur).read()))
    for (_ <- 1 to 30) {
      cur = Tuning.cut(cur.select((col("id") + 1).as("id")))
      assert(cur.count() == 100L)
    }
    assert(cur.agg(min(col("id"))).head().getLong(0) == 30L)
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while (first.exists(_.get != null) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(first.forall(_.get == null), "round 1's cell or rows are still strongly reachable")
    // the last round stays live through the GC above
    java.lang.ref.Reference.reachabilityFence(cur)
  }
}
