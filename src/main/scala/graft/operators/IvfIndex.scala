package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF (inverted-file) ANN: corpus vectors are assigned to the nearest of k
  * centroids (deterministic Lloyd iterations, seeded from the k lowest ids);
  * queries probe only their `nprobe` nearest centroid cells. The cell
  * assignment is an equi-join key — the scan shrinks ~k/nprobe-fold and the
  * probe is a shuffle-hash (or broadcast) join, exactly the
  * [[SimilaritySearch.lshTopK]] plumbing with learned buckets instead of
  * hashed ones. `nprobe = k` degenerates to exact brute force (tested).
  *
  * At 100 TB: centroids are a k-row broadcast; assignment is scan-side; the
  * per-cell top-k runs as WindowGroupLimit inside each cell partition.
  */
object IvfIndex {

  /** Default cell-interior bound for [[autoK]]: cells hold ~64 vectors, so
    * within-cell pair work is O(n · 64) — linear in the corpus — instead of
    * the quadratic Σ|cell|² a FIXED k degenerates to as the corpus grows.
    */
  val DefaultTargetCellSize = 64L

  /** Data-driven cell count: `k = max(kMin, ceil(n / targetCellSize))` from
    * ONE count action (integer ceil — both engines reproduce it exactly).
    * This is the IVF scale contract made executable: cell SIZE is the
    * invariant, cell COUNT grows with the corpus. Callers passing `k = 0`
    * to [[centroids]] get this automatically (the same treatment
    * `IntervalJoin.estimateBucketSize` gives `bucketSize = 0`).
    */
  def autoK(corpus: DataFrame,
      targetCellSize: Long = DefaultTargetCellSize, kMin: Int = 8): Int =
    cellCount(corpus.count(), targetCellSize, kMin)

  /** [[autoK]]'s formula for a corpus of `n` rows. */
  def cellCount(n: Long,
      targetCellSize: Long = DefaultTargetCellSize, kMin: Int = 8): Int =
    math.max(kMin.toLong, (n + targetCellSize - 1L) / targetCellSize).toInt

  /** Element-wise mean of grouped vectors via posexplode + positional avg —
    * k × dim rows, negligible next to the corpus scan.
    */
  private def meanVectors(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("pos", "component")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(avg(col("component")).as("m"))
      .groupBy(col("centroid_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> cast(x.m as float))")
        .as("centroid"))

  /** Assign each row to its best centroid by cosine (ties → lowest id).
    *
    * The k-fold blow-up from the broadcast crossJoin collapses in a
    * partial+final `max_by` aggregate — the argmax happens map-side, so only
    * n rows (not k x n) ever cross the shuffle. (Round-2 shape was
    * row_number over a Window partitioned by id, which shuffled all k x n
    * scored rows just to pick one of k per id.)
    */
  def assign(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val scored = corpus.crossJoin(broadcast(centroids))
      .withColumn("cscore", VectorFunctions.cosineSim(col(vecCol), col("centroid")))
    scored.groupBy(col(idCol))
      .agg(max_by(
        struct(col(vecCol), col("centroid_id")),
        struct(col("cscore"), (-col("centroid_id")).as("nid"))).as("best"))
      .select(col(idCol), col(s"best.$vecCol").as(vecCol), col("best.centroid_id"))
  }

  /** Deterministic centroids: seeds = vectors of the k lowest ids, then
    * `iters` Lloyd steps (assign → positional mean). Empty cells keep their
    * previous centroid.
    *
    * Seeds are numbered via a k-row collect (no single-partition window for
    * k rows; `array<double>` seeds are stored as floats, as every centroid
    * is), and each iteration is cut: without the cut,
    * iteration i's plan embeds all prior iterations — assignment recomputed
    * i times by iteration i and an optimizer blow-up at real scale.
    */
  def centroids(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetCellSize: Long = DefaultTargetCellSize): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val kEff = if (k > 0) k else autoK(corpus, targetCellSize)
    var cents = seeded(spark, corpus.orderBy(col(idCol)).limit(kEff)
      .select(col(vecCol).cast("array<float>")).as[Seq[Float]].collect().toSeq)
    for (_ <- 0 until iters) {
      val assigned = assign(corpus, cents, idCol, vecCol)
      val means = meanVectors(assigned.withColumnRenamed(vecCol, "__v"), "__v")
      // keep old centroid where a cell went empty; checkpoint cuts lineage
      // (k rows — the materialization is trivial)
      cents = Tuning.cut(cents.alias("old")
        .join(means.alias("new"), Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("new.centroid"), col("old.centroid")).as("centroid")))
    }
    cents
  }

  /** Centroids (centroid_id, centroid) numbered 0..k−1 in `seeds` order:
    * a local relation, so collecting it runs no job.
    */
  def seeded(spark: SparkSession, seeds: Seq[Seq[Float]]): DataFrame = {
    import spark.implicits._
    seeds.zipWithIndex.map { case (v, i) => (i, v) }.toDF("centroid_id", "centroid")
  }

  /** Per-query top-k probing the `nprobe` nearest cells. */
  def topK(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
      k: Int, nprobe: Int,
      idCol: String = "vec_id", qidCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame = {
    val corpusCells = assign(corpus, cents, idCol, vecCol)
    val qScored = queries.crossJoin(broadcast(cents))
      .withColumn("cscore", VectorFunctions.cosineSim(col(vecCol), col("centroid")))
    val qw = Window.partitionBy(col(qidCol)).orderBy(col("cscore").desc, col("centroid_id"))
    val probes = qScored.withColumn("rn", row_number().over(qw))
      .filter(col("rn") <= nprobe)
      .select(col(qidCol), col(vecCol).as("query_vec"), col("centroid_id"))
    val scored = corpusCells.join(probes, Seq("centroid_id"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("score", VectorFunctions.cosineSim(col(vecCol), col("query_vec")))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(qidCol), col(idCol).as("neighbor_id"), col("score"), col("rank"))
  }
}
