package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical._

/** Scale-adaptive tuning helpers shared by the query suite, and [[cut]],
  * the one way the engine materializes an intermediate.
  *
  * Round-16 rationale (spark_optimization_guide §2/§4): the suite carried
  * hard-coded `repartition(32, …)` calls — the q90 lesson (a small parquet
  * arrives as ONE split and AQE never splits a compute-bound stage) tuned
  * to the bench host's core count. 32 is wrong in both directions: the
  * driver also benches at 8 cores (4× the useful task count), and a real
  * cluster has far more than 32 slots. [[spread]] derives the fan-out from
  * the session instead, and skips the exchange entirely when the input is
  * already at least that parallel (the 100 TB case, where the scan itself
  * produces thousands of splits and an extra corpus shuffle would be pure
  * overhead).
  */
object Tuning {

  /** A lazy, shared materialization boundary over `df`
    * ([[org.apache.spark.sql.graft.plans.Cut]]): no job at the call; the
    * first reader computes `df` once and every reader shares those blocks.
    * A site keeps a cut only where it pays: it pins a non-deterministic
    * result for several readers, truncates a loop's lineage, or spares an
    * expensive child a recompute that exchange reuse does not cover.
    */
  def cut(df: DataFrame): DataFrame = org.apache.spark.sql.graft.plans.Cut.of(df)

  /** Target fan-out for compute-bound stages: the cluster's default
    * parallelism (local[N] → N; a real cluster → total executor cores).
    */
  def spreadPartitions(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Hash-repartition `df` on `keys` to [[spreadPartitions]] — but ONLY
    * when the incoming layout is narrower than that: a one-split small
    * parquet spreads across every core, while a corpus-scale scan that
    * already yields more partitions passes through untouched (no exchange
    * added). Row-identical either way; this only moves rows.
    *
    * The partition probe plans the input via `df.rdd`, and on a plan with
    * an exchange AQE's `execute()` would MATERIALIZE the upstream stages.
    * So the probe runs only on exchange-free lineage (scan / project /
    * filter / generate / union); any other input takes the plain
    * explicit-N `repartition(spreadPartitions(df), …)`, which runs no job.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val target = spreadPartitions(df)
    if (!hasExchange(df.queryExecution.analyzed) &&
      df.rdd.getNumPartitions >= target) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

  /** Whether planning `plan` inserts a shuffle: any repartition,
    * aggregate, join, set operation, global sort, window, distinct or
    * global limit in its lineage.
    */
  private def hasExchange(plan: LogicalPlan): Boolean =
    plan.find {
      case _: RepartitionOperation | _: RebalancePartitions | _: Aggregate |
          _: Join | _: Window | _: Distinct | _: Deduplicate | _: GlobalLimit |
          _: Intersect | _: Except => true
      case s: Sort => s.global
      case _ => false
    }.isDefined

  /** [[spread]] keyed on doc_id — the common "spread the per-document
    * codec work" shape (the q90 lesson with a session-derived fan-out).
    */
  def spreadDocs(df: DataFrame): DataFrame =
    spread(df, org.apache.spark.sql.functions.col("doc_id"))

  /** Exchange shield before a trailing global sort: the range exchange
    * SAMPLES its child by executing it, so an exchange-free expensive
    * segment (codec work, regex chains, pair verification) runs TWICE —
    * once for the boundaries, once for the shuffle write. A hash
    * exchange on the (output-sized) result materializes an AQE stage the
    * sampler reads instead. Row-identical; unlike a [[cut]] it keeps the
    * full lineage visible in the plan and AQE alive.
    */
  def sortShield(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(spreadPartitions(df), keys: _*)

  /** [[org.apache.spark.sql.graft.expressions.Once]] as a Column: pin ONE
    * evaluation per row of an expensive projected column (guide §4.4 —
    * stops CollapseProject / filter-pushdown from re-inlining the
    * expression into every consumer).
    */
  def once(c: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.Once(Bridge.toExpr(c)))
  }
}
