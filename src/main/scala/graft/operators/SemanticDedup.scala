package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Semantic (embedding-space) deduplication — SemDeDup (Abbas et al.,
  * arXiv:2303.09540): cluster the embedding space, then mark as duplicates
  * all but one member of every within-cluster group whose pairwise cosine
  * clears a threshold. Complements the LEXICAL near-dup family (MinHash
  * q39, SimHash q75, spans q85): semantic pairs — translations,
  * paraphrases, templated rewrites — share no shingles, so no lexical
  * bucket can find them.
  *
  * Scale shape: the centroid set is a k-row broadcast and the cell
  * assignment is [[IvfIndex.assign]]'s map-side partial+final `max_by` —
  * one corpus scan, n (never k·n) rows through the shuffle; the assigned
  * relation is staged once (a cut) because the pair join
  * reads it twice and the report three times. The quadratic pair check
  * runs INSIDE each cell via a self-equi-join on `centroid_id`: with
  * cells balanced at size s, cost is n·s comparisons instead of n² — at
  * 100 TB you pick k so s stays ~10³–10⁴ (SemDeDup used 50k clusters over
  * 5B embeddings for exactly this reason). The keep-rule (lowest id
  * survives) is decided by the `id_a < id_b` join predicate itself — a
  * duplicate is any vector that sees ONE lower-id neighbor above the
  * threshold, so no iterative resolution is needed (contrast q53's label
  * propagation, which a transitive variant would reuse).
  */
object SemanticDedup {

  /** One corpus scan: cells = (id, vec, centroid_id), staged for reuse. */
  private def cellsOf(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    Tuning.cut(IvfIndex.assign(corpus, centroids, idCol, vecCol))

  /** Within-cluster duplicate ids over an assigned `cells` relation:
    * vectors with at least one LOWER-id cluster-mate at `cosine >= tau`.
    * Returns (centroid_id, dup_id).
    */
  def duplicateIds(cells: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = cells.select(col("centroid_id"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = cells.select(col("centroid_id"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosineSim(col("va"), col("vb")) >= tau)
      .select(col("centroid_id"), col("id_b").as("dup_id"))
      .distinct()
  }

  /** Per-cluster dedup report: cluster size, duplicates found, survivors. */
  def report(
      corpus: DataFrame, centroids: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = cellsOf(corpus, centroids, idCol, vecCol)
    val dups = duplicateIds(cells, tau, idCol, vecCol)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_dup"))
    cells.groupBy(col("centroid_id")).agg(count(lit(1)).as("n_vecs"))
      .join(dups, Seq("centroid_id"), "left")
      .select(col("centroid_id"), col("n_vecs"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (col("n_vecs") - coalesce(col("n_dup"), lit(0L))).as("n_kept"))
      .orderBy(col("centroid_id"))
  }
}
