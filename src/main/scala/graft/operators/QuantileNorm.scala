package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quantile normalization across groups — each group's value maps to the
  * POOLED value at its relative rank, making per-source score
  * distributions comparable (the feature-engineering transform next to
  * the reference's per-form chunk statistics, `pipeline2.py:311-322`
  * vectordatabasestats analog).
  *
  * Built the ExactQuantiles way: everything runs on COUNT HISTOGRAMS
  * (distinct-value-sized), never on the row stream. Group-relative ranks
  * are inclusive cumsums over the per-group histogram; the target rank is
  * the exact integer ⌈r·n_pool/n_g⌉; the mapped value is the unique
  * pooled-histogram row covering that rank (cum − cnt < tr ≤ cum — a
  * histogram × histogram band join, both sides tiny). The one global
  * window orders the pooled HISTOGRAM, never the corpus.
  *
  * THE GUARD (round-11 verdict): that window is bounded only while the
  * value domain is — true for integer columns like `n_chars`
  * (Heaps-sublinear), false for a continuous score column, where the
  * histogram becomes corpus-sized and the window a single-task sort. So
  * when the pooled distinct count exceeds `maxDistinct`, values are first
  * quantized onto the q127 log-histogram ladder (binary-length buckets of
  * floor-centi-units, ≤2× relative error, pure integer arithmetic — any
  * engine reproduces it) and the SAME exact algorithm runs on the bounded
  * bucket domain; `v` and `norm_v` then carry each bucket's lower bound
  * in centi-units (the q127 `p_lb100` convention), disclosed by the
  * `exact` flag column. The decision itself reads only the
  * histogram-sized relation (one tiny extra action).
  */
object QuantileNorm {

  /** Input `df` must expose `groupCol` and a non-negative numeric `vCol`.
    * Output: (source=groupCol, v, cnt, src_rank, norm_v, exact) — one row
    * per (group, value[-bucket]).
    */
  def normalize(df: DataFrame, groupCol: String, vCol: String,
      maxDistinct: Long = 1L << 16): DataFrame = {
    val scores = df.select(col(groupCol).as("source"), col(vCol).as("v"))
    val hist0 = Tuning.cut(scores.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("cnt")))
    val exactPath = hist0.select(col("v")).distinct().count() <= maxDistinct
    val hist = if (exactPath) hist0
    else {
      // q127 ladder: centi-unit binary length ⇒ power-of-two buckets,
      // re-aggregated FROM the histogram (no second corpus scan); the
      // bucket's lower bound stands in for v from here on. Centi-unit 0
      // (v < 0.01) gets its OWN bucket with lower bound 0 — bin(0) has
      // length 1 like bin(1), and folding sub-0.01 values into the
      // [0.01,0.02) bucket would misreport their lower bound as 1.
      hist0
        .withColumn("cu", greatest(floor(col("v") * 100.0).cast("long"), lit(0L)))
        .withColumn("bkt", length(bin(col("cu"))))
        .groupBy(col("source"),
          expr("if(cu = 0, cast(0 as bigint), shiftleft(cast(1 as bigint), bkt - 1))")
            .as("v"))
        .agg(sum(col("cnt")).as("cnt"))
    }
    val sizes = hist.groupBy(col("source")).agg(sum(col("cnt")).as("ns"))
    val srcCum = hist
      .withColumn("r", sum(col("cnt")).over(
        Window.partitionBy(col("source")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(sizes, "source")
    val poolCum = hist.groupBy(col("v").as("pv")).agg(sum(col("cnt")).as("pcnt"))
      .withColumn("pcum", sum(col("pcnt")).over(
        Window.orderBy(col("pv"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val nPool = broadcast(hist.agg(sum(col("cnt")).as("np")))
    srcCum.crossJoin(nPool)
      .withColumn("tr", expr("(r * np + ns - 1) div ns"))
      .join(poolCum, col("pcum") >= col("tr") && (col("pcum") - col("pcnt")) < col("tr"))
      .select(col("source"), col("v"), col("cnt"), col("r").as("src_rank"),
        col("pv").as("norm_v"), lit(exactPath).as("exact"))
  }
}
