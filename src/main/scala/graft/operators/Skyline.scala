package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-objective Pareto frontier (skyline) with grid pruning — the
  * "best docs on BOTH axes" selector a curriculum build runs over
  * (length, quality)-style score pairs: a row survives iff no other row
  * is ≥ on both objectives and > on at least one (Börzsönyi, Kossmann &
  * Stocker, "The skyline operator", ICDE 2001; the grid/BNL hybrid
  * follows the coarse-cell pruning idea of distributed skyline work).
  *
  * Scale shape — the naive skyline is an n² dominance self-join; the
  * grid cut makes the quadratic term frontier-band-sized:
  *  1. one aggregate fixes data-driven cell widths (`max/gridCells`);
  *  2. nonempty cells prune CELL-wise: a cell strictly below-left of any
  *     nonempty cell (both coordinates strictly smaller) is dominated
  *     WHOLESALE — every point in the dominating cell beats every point
  *     in it. The cell relation is ≤ (gridCells+1)² rows, so this is a
  *     broadcast self-join of a tiny table;
  *  3. only rows in surviving cells (the anti-diagonal band that can
  *     contain the frontier) pay the exact dominance anti-join, with the
  *     candidate side broadcast.
  * The pruning is semantics-preserving, so a correctness oracle is the
  * plain NOT-EXISTS dominance query — the grid is pure cost (the q169
  * bloom convention: a wrong cut costs time, never rows).
  *
  * Ties are kept: two rows with identical (x, y) do not dominate each
  * other (strictness on one axis is required), matching SQL EXISTS
  * semantics. Objectives are MAXIMIZED; negate a column to minimize.
  */
object Skyline {

  def frontier(
      df: DataFrame, xCol: String, yCol: String,
      gridCells: Int = 32): DataFrame = {
    require(!df.columns.exists(_.startsWith("__sky")),
      "input already carries internal __sky columns")
    val pts = Tuning.cut(df) // scan feeds widths, cells, candidates
    // cell widths from the (min, max) RANGE, cells from min-shifted values:
    // width = (mx − mn) div cells + 1 is ≥ 1 for ANY sign of the data, so
    // the documented negate-a-column-to-minimize usage cannot produce a
    // zero/negative width (x div 0 is NULL in Spark — an empty frontier —
    // and a negative width reverses cell order, breaking the wholesale
    // dominance prune)
    val widths = broadcast(pts.agg(
      max(col(xCol)).as("__sky_mx"), max(col(yCol)).as("__sky_my"),
      min(col(xCol)).as("__sky_nx"), min(col(yCol)).as("__sky_ny")))
    val cells = pts.crossJoin(widths)
      .withColumn("__sky_cx",
        expr(s"($xCol - __sky_nx) div ((__sky_mx - __sky_nx) div $gridCells + 1)"))
      .withColumn("__sky_cy",
        expr(s"($yCol - __sky_ny) div ((__sky_my - __sky_ny) div $gridCells + 1)"))
      .drop("__sky_mx", "__sky_my", "__sky_nx", "__sky_ny")
    val cellSet = cells.groupBy(col("__sky_cx"), col("__sky_cy"))
      .agg(count(lit(1)).as("__sky_n"))
      .select(col("__sky_cx"), col("__sky_cy"))
    val surviving = cellSet
      .join(broadcast(cellSet.select(col("__sky_cx").as("__sky_dx"),
          col("__sky_cy").as("__sky_dy"))),
        col("__sky_dx") > col("__sky_cx") && col("__sky_dy") > col("__sky_cy"),
        "left_anti")
    val cand = cells
      .join(broadcast(surviving), Seq("__sky_cx", "__sky_cy"), "left_semi")
      .drop("__sky_cx", "__sky_cy")
    val others = broadcast(cand.select(col(xCol).as("__sky_bx"),
      col(yCol).as("__sky_by")))
    cand.join(others,
        col("__sky_bx") >= col(xCol) && col("__sky_by") >= col(yCol) &&
          (col("__sky_bx") > col(xCol) || col("__sky_by") > col(yCol)),
        "left_anti")
  }
}
