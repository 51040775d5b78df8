package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR'98)
  * — the diversified-retrieval step between ANN candidate generation and
  * context assembly: greedily pick k results maximizing
  * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`, so near-duplicate passages
  * (the corpus-wide clone problem the dedup suite measures) stop crowding
  * a RAG context window that a plain top-k fills with k copies of the
  * same paragraph (reference: the retriever at `pipeline2.py`'s
  * similarity_search returns raw top-k with no diversification).
  *
  * All scores are INTEGER-quantized by the caller (the suite's established
  * floor-quantization move): the greedy argmax then runs in exact integer
  * arithmetic with an id tiebreak, so the pick sequence is deterministic
  * and a relational oracle can replay it. λ enters as a rational
  * `lambdaNum/lambdaDen`; the objective is scaled by `lambdaDen`
  * (order-preserving): `mmr = lambdaNum·rel − (lambdaDen−lambdaNum)·pen`.
  *
  * Scale shape: greedy selection is inherently sequential in k, but ONLY
  * in k — each of the k rounds is one anti-join (drop selected), one
  * penalty join against the ≤ (i−1)-row-per-query pick set, and one
  * per-query window argmax, all co-partitioned on the query id. Every
  * relation is (queries × fanIn)-bounded — the corpus appears only
  * upstream, in the candidate generator — and each round cuts the lineage
  * with a cut so round i never re-plans rounds < i (the
  * PageRank loop's contract). Nothing is collected to the driver.
  */
object MmrRerank {

  /** Pick `k` per-query results from `candidates` by greedy MMR.
    *
    * `candidates(qCol, idCol, relCol)`: integer-quantized relevance, one
    * row per (query, candidate) — the output of any top-N generator.
    * `pairSim(qCol, aCol, bCol, simCol)`: integer-quantized
    * candidate-to-candidate similarity, BOTH directions present for every
    * unordered pair the greedy loop may consult (a full per-query matrix
    * minus the diagonal is the simple contract; fanIn² per query rows).
    * A missing (selected, candidate) pair would silently under-penalize —
    * callers build the matrix from the candidate set itself, so
    * completeness is structural.
    *
    * Returns (qCol, pick_rank 1..k, idCol, mmr_u) — `mmr_u` the scaled
    * integer objective the pick won with.
    */
  def rerank(
      candidates: DataFrame, qCol: String, idCol: String, relCol: String,
      pairSim: DataFrame, aCol: String, bCol: String, simCol: String,
      k: Int, lambdaNum: Long, lambdaDen: Long): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      "lambda must be a rational in [0, 1]")
    val cand = candidates.select(
      col(qCol), col(idCol), col(relCol).cast("long").as("__rel"))
    val sims = pairSim.select(
      col(qCol).as("__sim_q"), col(aCol).as("__sim_a"),
      col(bCol).as("__sim_b"), col(simCol).cast("long").as("__sim"))
    val wPick = Window.partitionBy(col(qCol))
      .orderBy(col("__mmr").desc, col(idCol))
    def argmax(scored: DataFrame, rank: Int): DataFrame = scored
      .withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(col(qCol), col(idCol), col("__mmr"), lit(rank.toLong).as("pick_rank"))
    // round 1: no penalty — the plain relevance argmax
    var selected = Tuning.cut(argmax(
      cand.withColumn("__mmr", lit(lambdaNum) * col("__rel")), 1))
    for (round <- 2 to k) {
      val remaining = cand.join(selected.select(col(qCol), col(idCol)),
        Seq(qCol, idCol), "left_anti")
      val penalized = remaining
        .join(selected.select(col(qCol), col(idCol).as("__sel")), Seq(qCol))
        .join(sims,
          col("__sim_q") === col(qCol) && col("__sim_a") === col("__sel") &&
            col("__sim_b") === col(idCol),
          "left")
        .groupBy(col(qCol), col(idCol))
        // a candidate short of sims (contract violation) penalizes as 0
        // rather than vanishing: max ignores nulls, coalesce floors it
        .agg(max(col("__rel")).as("__rel"),
          coalesce(max(col("__sim")), lit(0L)).as("__pen"))
        .withColumn("__mmr",
          lit(lambdaNum) * col("__rel") -
            lit(lambdaDen - lambdaNum) * col("__pen"))
      selected = Tuning.cut(selected
        .unionByName(argmax(penalized, round))) // round i must not re-plan rounds < i
    }
    selected.select(col(qCol), col("pick_rank"), col(idCol),
      col("__mmr").as("mmr_u"))
  }
}
