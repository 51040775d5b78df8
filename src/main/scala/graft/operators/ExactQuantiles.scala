package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT nearest-rank quantiles of an integer column with NO global sort —
  * two histogram passes (the classic distributed selection refinement;
  * cf. Munro & Paterson 1980's selection-in-rounds bound).
  *
  * Why not `orderBy(col).limit(rank)` or a percentile window: a global sort
  * is a full-corpus range exchange (and the window variant additionally
  * funnels every row through one partition). Why not approx_percentile:
  * audits and SLAs ("p99 sequence length ≤ N tokens") want the exact order
  * statistic. This operator's shuffles are HISTOGRAM-sized:
  *
  *  - pass 1 aggregates counts of `value div coarseWidth` (map-side
  *    combined — the shuffle carries ≤ #buckets rows per partition);
  *    a cumulative window over the sorted bucket table (bucket-count
  *    rows, single partition by design — documented, bounded) locates
  *    each target rank's bucket and residual rank within it;
  *  - pass 2 re-scans ONLY rows in target buckets (broadcast semi-join;
  *    at most `probs.size` buckets survive), aggregates exact per-value
  *    counts there, and the same cumulative-window trick picks the value
  *    at each residual rank.
  *
  * Ranks follow the nearest-rank convention rank = ⌈p·n⌉ computed in
  * integer arithmetic ((p4·n + 9999) div 10000 for p4 = p·10⁴), so results
  * are bit-identical on any engine/partitioning. Total cost: two scans +
  * two histogram-sized shuffles, independent of n beyond the scans —
  * the plan you want for one exact percentile table over 100 TB.
  */
object ExactQuantiles {

  /** Quantile table (prob4, rank, value) for `probs4` (probabilities in
    * 1e-4 units, e.g. 5000 = median) over integer column `valueCol`.
    * `coarseWidth` is the pass-1 bucket width; any positive value is
    * correct (it only shifts work between the two passes). This is
    * [[groupedQuantiles]] over one group, whose bucket-table window is the
    * single partition described above.
    */
  def quantiles(df: DataFrame, valueCol: String, probs4: Seq[Long],
      coarseWidth: Long = 64L): DataFrame =
    groupedQuantiles(df.withColumn("__q", lit(0)), "__q", valueCol, probs4, coarseWidth)
      .drop("__q")

  /** Per-GROUP exact nearest-rank quantiles — the same two-histogram
    * refinement keyed by (`groupCol`, bucket). Strictly better-shaped than
    * the global form at scale: every cumulative window PARTITIONS BY the
    * group, so even the bucket-table pass parallelizes across groups and
    * the global form's one documented single-partition window disappears.
    * Output: (`groupCol`, prob4, rank, value), one row per (group, prob).
    */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      probs4: Seq[Long], coarseWidth: Long = 64L): DataFrame = {
    require(coarseWidth > 0, "coarseWidth must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val g = col(groupCol)
    val v = col(valueCol).cast("long")
    val vals = Tuning.cut(df.select(g.as("g"), v.as("v"),
        (v - pmod(v, lit(coarseWidth))).as("b"))) // both passes read this projection
    val wb = Window.partitionBy(col("g")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val h1 = Tuning.cut(vals.groupBy(col("g"), col("b")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(wb), lit(0L)))) // totals + the rank join both read it
    val totals = h1.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
    val targets = probs4.toDF("p4").crossJoin(totals)
      .withColumn("rank", expr("(p4 * n + 9999) div 10000"))
      .join(h1, Seq("g"))
      .filter(col("cum_before") < col("rank") &&
        col("rank") <= col("cum_before") + col("cnt"))
      .select(col("g"), col("p4"), col("n"), col("rank"), col("b"),
        (col("rank") - col("cum_before")).as("res_rank"))
    val wv = Window.partitionBy(col("g"), col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val h2 = vals
      .join(broadcast(targets.select(col("g"), col("b")).distinct()),
        Seq("g", "b"), "left_semi")
      .groupBy(col("g"), col("b"), col("v")).agg(count(lit(1)).as("vcnt"))
      .withColumn("vcum_before", coalesce(sum(col("vcnt")).over(wv), lit(0L)))
    targets
      .join(h2, Seq("g", "b"))
      .filter(col("vcum_before") < col("res_rank") &&
        col("res_rank") <= col("vcum_before") + col("vcnt"))
      .select(col("g").as(groupCol),
        (col("p4").cast("double") / lit(10000.0)).as("prob4"),
        col("rank"), col("v").as("value"))
      .orderBy(col(groupCol), col("prob4"))
  }
}
