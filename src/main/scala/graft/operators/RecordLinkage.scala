package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Blocked fuzzy join (entity resolution / record linkage): rarest-q-gram
  * blocking + exact edit-distance verification — the classic two-phase
  * shape (blocking bounds the candidate space, a verifier decides), the
  * same division of labor as the LSH dedup pipelines but over STRING keys
  * with Levenshtein instead of set Jaccard.
  *
  * Reference analog: the reference links records only by exact primary-key
  * lookups (`pipeline2.py` insert-if-absent); fuzzy linkage is the
  * north-star extension for dirty upstream feeds.
  *
  * Blocking: each record nominates its `rarest` lowest-document-frequency
  * q-grams (global df over BOTH sides, ties broken by gram then position —
  * fully deterministic, so an oracle replays the exact candidate set);
  * candidates are records sharing a nominated gram. This is deliberately a
  * RECALL-TUNED HEURISTIC, not an exact join — the operator's contract is
  * the replayable algorithm (like LSH banding), and the match-rate column
  * is the knob's scorecard.
  *
  * Scale: gram df is one vocabulary-sized aggregate; nomination is a
  * per-record window over ≤ |name| rows; the candidate join fans out only
  * on RARE grams by construction (a gram nominated by many records is, by
  * that fact, not rare — at 100 TB the hot-gram fan-out self-limits as df
  * feedback, the inverse of the stopword-gram hazard q207 caps). The
  * Levenshtein DP runs only on candidates, repartitioned so the
  * compute-bound verify spreads across the cluster (the q90 lesson).
  */
object RecordLinkage {

  /** Distinct q-grams per record with their first position:
    * (id, g, pos). Records shorter than `q` emit nothing.
    */
  private def grams(df: DataFrame, idCol: String, nameCol: String,
      q: Int): DataFrame =
    df.filter(length(col(nameCol)) >= q)
      .select(col(idCol).as("id"),
        posexplode(transform(
          sequence(lit(1), length(col(nameCol)) - lit(q - 1)),
          i => col(nameCol).substr(i, lit(q)))).as(Seq("__p0", "g")))
      .select(col("id"), col("g"), (col("__p0") + 1).as("pos"))
      .groupBy(col("id"), col("g")).agg(min(col("pos")).as("pos"))

  /** One row per linked right-side record: (right id, best-matching left id,
    * edit distance, candidate count, tie count at the winning distance).
    * `maxDist` bounds accepted matches; best = lowest (dist, left id), and
    * `n_ties` discloses how ambiguous that election was — a deletion that
    * hits a significant digit is GENUINELY equidistant from two source
    * records, and a reviewer reads the tie count before trusting the link.
    * Left/right ids must not collide.
    */
  def linkage(left: DataFrame, right: DataFrame,
      idL: String, nameL: String, idR: String, nameR: String,
      q: Int = 4, rarest: Int = 2, maxDist: Int = 2): DataFrame = {
    val gl = grams(left, idL, nameL, q)
    val gr = grams(right, idR, nameR, q)
    val gdf = gl.unionByName(gr)
      .groupBy(col("g")).agg(count(lit(1)).as("df")) // ids distinct per side+gram already
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("g"), col("pos"))
    def nominate(g: DataFrame): DataFrame = g.join(gdf, "g")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= rarest)
      .select(col("id"), col("g"))
    val cand = Tuning.cut(nominate(gl).as("a")
      .join(nominate(gr).as("b"), col("a.g") === col("b.g"))
      .select(col("a.id").as("lid"), col("b.id").as("rid"))
      .distinct()) // candidate census + verify both read it
    val nc = cand.groupBy(col("rid")).agg(count(lit(1)).as("n_cands"))
    val ver = cand
      .join(left.select(col(idL).as("lid"), col(nameL).as("__ln")), "lid")
      .join(right.select(col(idR).as("rid"), col(nameR).as("__rn")), "rid")
      // spread the DP before computing it — session-derived fan-out
      // (explicit-N repartition, not Tuning.spread: the input carries
      // exchanges, and the q90 trap is AQE coalescing this tiny relation
      // onto one core right before the compute-bound projection)
      .repartition(Tuning.spreadPartitions(cand), col("rid"))
      .select(col("lid"), col("rid"),
        levenshtein(col("__ln"), col("__rn")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
    val best = Window.partitionBy(col("rid")).orderBy(col("dist"), col("lid"))
    val byR = Window.partitionBy(col("rid"))
    ver
      .withColumn("mind", min(col("dist")).over(byR))
      .withColumn("n_ties",
        count(when(col("dist") === col("mind"), lit(1))).over(byR))
      .withColumn("brn", row_number().over(best))
      .filter(col("brn") === 1)
      .join(nc, "rid")
      .select(col("rid"), col("lid"), col("dist"), col("n_cands"), col("n_ties"))
  }
}
