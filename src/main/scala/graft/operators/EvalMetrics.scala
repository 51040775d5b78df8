package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Evaluation / monitoring statistics over count histograms — exact AUC,
  * calibration error, distributional privacy (t-closeness), forecasting
  * backtests, EWMA control charts. The reference stack evaluates retrieval
  * quality by eyeballing notebook outputs (reference
  * `QA_using_openai.ipynb`); these operators make model- and
  * pipeline-quality measurement first-class relational citizens, all in
  * exact integer arithmetic so a DuckDB oracle (and a probe closed form)
  * can replay every value bit-for-bit.
  *
  * Scale discipline shared by every member: the only corpus-sized pass is
  * the first grouped aggregate; all statistics run on histograms
  * (distinct-value-sized), calendar grids, or fixed bins. That makes each
  * metric closed-form predictable under c-fold corpus cloning — the
  * `CloneClosedFormSpec` hook: counts scale exactly ×c, ratio statistics (AUC,
  * t-closeness, MAPE, calibration) are invariant because floor(a·c/(b·c))
  * = floor(a/b) exactly.
  */
object EvalMetrics {

  /** Daily event counts (event_type, day, y) behind a cut: the backtests
    * and trend tests read them more than once.
    */
  def dailyCounts(events: DataFrame): DataFrame = Tuning.cut(events
    .groupBy(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
    .agg(count(lit(1)).as("y")))

  /** Exact one-vs-rest AUC of `valueCol` as a discriminator of each group
    * in `groupCol`, via the Mann–Whitney midrank identity on count
    * histograms: AUC = Σ_v pos(v)·(2·cumneg(&lt;v) + neg(v)) / (2·n_pos·n_neg).
    * No per-row rank ever materializes; the Θ(N²) numerator accumulates in
    * decimal(38,0). Output: (group, n_pos, n_neg, auc4).
    */
  def histAuc(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val hist = Tuning.cut(df
      .groupBy(col(groupCol).as("g"), col(valueCol).as("v"))
      .agg(count(lit(1)).as("cnt")))
    val byV = hist.groupBy($"v").agg(sum($"cnt").as("tot"))
    val groups = hist.select($"g".as("tgt")).distinct()
    val pos = hist.select($"g".as("tgt"), $"v", $"cnt".as("pos"))
    val grid = byV.crossJoin(broadcast(groups))
      .join(pos, Seq("tgt", "v"), "left")
      .select($"tgt", $"v", coalesce($"pos", lit(0L)).as("pos"),
        ($"tot" - coalesce($"pos", lit(0L))).as("neg"))
    val w = Window.partitionBy($"tgt").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("cb", coalesce(sum($"neg").over(w), lit(0L)))
      .groupBy($"tgt")
      .agg(sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
        // pos is widened BEFORE the multiply so the Θ(N²) per-term product
        // itself is decimal — a 64-bit product would wrap silently past
        // ~2·10⁹ rows per value cell (the q189 policy, applied to the
        // term, not just the sum)
        sum($"pos".cast("decimal(38,0)") * (lit(2L) * $"cb" + $"neg"))
          .as("num2"))
      .select($"tgt".as(groupCol), $"n_pos", $"n_neg",
        expr("cast(num2 * 10000 div (2 * n_pos * n_neg) as bigint)")
          .as("auc4"))
  }

  /** t-closeness audit: earth-mover distance (L1 of cumulative gaps, the
    * ordered-attribute EMD) between each (q1, q2) equivalence class's
    * distribution of `bucketCol` and the corpus distribution, as exact
    * integers: t4 = 10⁴·Σ_i |cumP_i·N − cumQ_i·n_g| / (n_g·N·(m−1)).
    * Output: (q1, q2, n_g, t4, closeness).
    */
  def tCloseness(df: DataFrame, q1: String, q2: String,
      bucketCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val cls = Tuning.cut(df.groupBy(col(q1), col(q2), col(bucketCol).as("b"))
      .agg(count(lit(1)).as("cnt")))
    val glob = cls.groupBy($"b").agg(sum($"cnt").as("gcnt"))
      .withColumn("gcum", sum($"gcnt").over(
        Window.orderBy($"b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val m = broadcast(glob.agg(count(lit(1)).as("m"),
      sum($"gcnt").as("big_n")))
    val groups = cls.groupBy(col(q1), col(q2)).agg(sum($"cnt").as("ng"))
    val grid = glob.select($"b", $"gcum").crossJoin(broadcast(groups))
      .join(cls, Seq(q1, q2, "b"), "left")
      .select(col(q1), col(q2), $"ng", $"b", $"gcum",
        coalesce($"cnt", lit(0L)).as("cnt"))
    val wg = Window.partitionBy(col(q1), col(q2)).orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.withColumn("pcum", sum($"cnt").over(wg))
      .crossJoin(m)
      .groupBy(col(q1), col(q2), $"ng", $"m", $"big_n")
      // the cumulative-gap products and the t4 denominator are Θ(N²) —
      // widen to decimal(38,0) before multiplying (the histAuc policy;
      // 64-bit would wrap silently around ~3·10⁹ rows)
      .agg(sum(abs($"pcum".cast("decimal(38,0)") * $"big_n"
        - $"gcum".cast("decimal(38,0)") * $"ng")).as("emd_i"))
      .select(col(q1), col(q2), $"ng".as("n_g"),
        expr("cast(emd_i * 10000 div (cast(n_g as decimal(38,0)) * big_n * (m - 1)) as bigint)")
          .as("t4"))
      .select(col(q1), col(q2), $"n_g", $"t4",
        when($"t4" > 2000L, lit("exposed")).otherwise(lit("ok"))
          .as("closeness"))
  }

  /** Reliability diagram + expected calibration error for a synthetic
    * md5-uniform score that is informative but miscalibrated (positive
    * class shifted by +0.3, negatives by +0.05, both compressed ×0.6).
    * Ten fixed-width bins; ECE weights the |mean score − positive rate|
    * gap by bin mass. Output: (bin, n, mean_score4, pos4, ece4).
    */
  def calibration(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val scored = events
      .select(($"event_type" === "purchase").cast("long").as("y"),
        pmod(HashFunctions.stableHash64(
          concat(lit("cal:"), $"event_id".cast("string"))), lit(10000L))
          .as("u"))
      .select($"y",
        (expr("u * 6 div 10") + $"y" * 3000L + (lit(1L) - $"y") * 500L)
          .as("score4"))
    val bins = scored.groupBy(expr("score4 div 1000").as("bin"))
      .agg(count(lit(1)).as("n"), sum($"score4").as("ssc"),
        sum($"y").as("n_pos"))
      .select($"bin", $"n", expr("ssc div n").as("mean_score4"),
        expr("n_pos * 10000 div n").as("pos4"))
    val ece = broadcast(bins.agg(
      expr("sum(n * abs(mean_score4 - pos4)) div sum(n)").as("ece4")))
    bins.crossJoin(ece)
      .select($"bin", $"n", $"mean_score4", $"pos4", $"ece4")
  }

  /** Seasonal-naive (lag-7) vs yesterday (lag-1) daily-volume backtest,
    * MAPE in exact basis points, lags as DAY-KEYED joins so calendar gaps
    * can never misalign a forecast. Output per event type:
    * (event_type, n_eval, mape7_bps, mape1_bps, winner).
    */
  def seasonalBacktest(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val daily = dailyCounts(events)
    val f7 = daily.select($"event_type", ($"day" + 7L).as("day"),
      $"y".as("f7"))
    val f1 = daily.select($"event_type", ($"day" + 1L).as("day"),
      $"y".as("f1"))
    daily.join(f7, Seq("event_type", "day"))
      .join(f1, Seq("event_type", "day"))
      .select($"event_type",
        expr("abs(y - f7) * 10000 div y").as("ape7"),
        expr("abs(y - f1) * 10000 div y").as("ape1"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_eval"),
        expr("sum(ape7) div count(1)").as("mape7_bps"),
        expr("sum(ape1) div count(1)").as("mape1_bps"))
      .select($"event_type", $"n_eval", $"mape7_bps", $"mape1_bps",
        when($"mape7_bps" < $"mape1_bps", lit("seasonal"))
          .otherwise(lit("naive")).as("winner"))
  }

  /** Per-user watermark-lag census: how often an event arrives
    * (event_id order) with a timestamp behind the user's prior maximum,
    * and by how much — the batch diagnostic that sizes streaming
    * watermark slack. Keyed by user so billions of users shard cleanly.
    * Output per event type: (event_type, n_events, n_late, late_bps,
    * max_late_us, mean_late_us).
    */
  def watermarkLag(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val ev = events
      .select($"event_type", $"user_id", $"event_id",
        expr("ts div 1000").as("tsu"))
    val lag = ev.withColumn("prior_mx",
        max($"tsu").over(Window.partitionBy($"user_id").orderBy($"event_id")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select($"event_type",
        when($"prior_mx" > $"tsu", $"prior_mx" - $"tsu")
          .otherwise(lit(0L)).as("late_us"))
    lag.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(($"late_us" > 0).cast("long")).as("n_late"),
        max($"late_us").as("max_late_us"),
        sum($"late_us").as("sum_late_us"))
      .select($"event_type", $"n_events", $"n_late",
        expr("n_late * 10000 div n_events").as("late_bps"),
        $"max_late_us",
        expr("sum_late_us div n_events").as("mean_late_us"))
  }

  /** Mann–Kendall trend test per event type over DAILY volumes — the
    * non-parametric sibling of the Theil–Sen slope (q229): S = Σ_{i<j}
    * sign(y_j − y_i) over day pairs, with the exact tie-corrected
    * 18·Var(S) = n(n−1)(2n+5) − Σ_k t_k(t_k−1)(2t_k+5) kept as an
    * INTEGER. The continuity-corrected z = (S − sign(S)) / √(var18/18)
    * is the one float, floor-quantized to basis points the moment it is
    * computed (the q69 rule; sqrt is IEEE exactly-rounded in both
    * engines). |z| > 1.96 calls the trend at the usual 5% level.
    *
    * Scale shape: the corpus-sized pass is the daily groupBy; the pair
    * "join" runs on the calendar grid (≤ 365 rows/type/year at ANY
    * corpus size), so the O(n²) is over days, never events.
    */
  def mannKendall(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val daily = dailyCounts(events)
    val sAgg = daily.as("a").join(daily.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.day" < $"b.day")
      .groupBy($"a.event_type".as("event_type"))
      .agg(sum(signum($"b.y" - $"a.y").cast("long")).as("s"))
    val varAgg = daily
      .groupBy($"event_type", $"y").agg(count(lit(1)).as("t"))
      .groupBy($"event_type")
      .agg(sum($"t").as("n_days"),
        sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_corr"))
      .select($"event_type", $"n_days",
        (expr("n_days * (n_days - 1) * (2 * n_days + 5)") - $"tie_corr")
          .as("var18"))
    sAgg.join(varAgg, Seq("event_type"))
      .select($"event_type", $"n_days", $"s", $"var18",
        when($"var18" > 0L,
          expr("""cast(floor(cast((s - cast(sign(cast(s as double)) as bigint)) * 10000 as double)
            / sqrt(cast(var18 as double) / 18.0D)) as bigint)"""))
          .otherwise(lit(0L)).as("z_bps"))
      .select($"event_type", $"n_days", $"s", $"var18", $"z_bps",
        when($"z_bps" > 19600L, lit("up"))
          .when($"z_bps" < -19600L, lit("down"))
          .otherwise(lit("none")).as("trend"))
  }
}
