package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** PageRank (Page et al., 1999) over an edge list, in EXACT integer
  * arithmetic: ranks live in parts-per-million longs, the damping step is
  * `(85 · Σ contrib) div 100`, and each neighbor contribution is
  * `rank div degree` — integer division throughout, so the result is
  * bit-identical on any engine, any partitioning, any aggregation order
  * (the suite's standard dodge for cross-engine float drift, cf. q69's
  * micro-nat log-probs).
  *
  * Scale shape is the q53 label-propagation loop's: the degree-annotated
  * adjacency list is built once and staged (a cut — reused
  * every round, lineage paid once), each iteration is ONE equi-join
  * (ranks ⋈ adjacency on src) + one aggregation (sum of contributions by
  * dst) + a left join back to the node set for dangling-free re-seeding,
  * and ranks are re-staged per round so round i's plan does not embed
  * rounds 0..i-1. Iterations are a fixed small count (curvature of the
  * graph, not its size); each costs one shuffle of (node, long) pairs.
  *
  * The motivating use here is dedup ANALYTICS: run it on the near-dup
  * pair graph (q39's output as undirected edges) and the rank is a
  * centrality score for "template" documents — the hubs boilerplate
  * radiates from — which is exactly what you read before deciding what a
  * cluster's canonical survivor should be.
  */
object PageRank {

  /** Ranks after `iters` iterations over UNDIRECTED edges (pairs are
    * symmetrized here; self-loops dropped). Returns (id, degree, rank_u)
    * with rank_u in ppm: rank_u = 150000 + (850000-scaled neighbor mass).
    * Nodes are the edge endpoints (isolated vertices carry rank 10^6·(1-d)
    * + d·0 trivially and are not interesting on a pair graph).
    *
    * CONTRACT: `pairs` must hold each undirected pair ONCE (e.g. the
    * `id_a < id_b` output of the dedup pipelines) — duplicates would
    * inflate degrees. The operator deliberately does NOT re-distinct: on
    * an ordered unique pair list the symmetrized union cannot contain
    * duplicates, and a corpus-scale `distinct` would be the single
    * largest memory consumer of the whole job (a 10× probe's 160M-edge
    * hash aggregate OOMs where the dedup pipeline itself runs fine).
    *
    * Join strategy: node-sized relations (ranks, contributions) are
    * BROADCAST when the node count is at most `broadcastNodeLimit`, so an
    * iteration touches the adjacency in place — no shuffle of the edge
    * list, ever; a cut table reports only its child's estimate, and
    * Catalyst would otherwise fall back to shuffling the (edge-sized) join. Above the
    * limit the joins degrade to shuffle-hash on src/dst — the
    * billion-node path, where per-iteration exchanges of node-sized tables
    * are the accepted cost (the map-side partial sum still bounds the
    * contribution shuffle by nodes·partitions, never edges).
    */
  def ranks(pairs: DataFrame, aCol: String, bCol: String, iters: Int,
      broadcastNodeLimit: Long = 10000000L, toleranceU: Long = 0L): DataFrame =
    ranksIterated(pairs, aCol, bCol, iters, broadcastNodeLimit, toleranceU)._1

  /** [[ranks]] plus the number of iterations actually run. `iters` is a
    * CAP: the loop exits as soon as no rank moved by more than `toleranceU`
    * ppm between rounds — a node-sized join + scalar max per round, paid
    * from work the per-round checkpoint materializes anyway. With the
    * default `toleranceU = 0` the early exit is output-INVISIBLE: the
    * update is a deterministic function of the rank vector, so an exactly
    * fixed point stays fixed for every remaining round — the result is
    * bit-identical to running the full cap (spec-pinned). On converged
    * clone graphs (the common case after a few dedup rounds) this halves
    * the 10× probe's wall time; integer oscillators that never reach an
    * exact fixed point simply run to the cap, exactly as before. Raise
    * `toleranceU` (ppm) to trade tail iterations for a bounded rank error
    * when bit-stability is not required.
    */
  def ranksIterated(pairs: DataFrame, aCol: String, bCol: String, iters: Int,
      broadcastNodeLimit: Long = 10000000L,
      toleranceU: Long = 0L): (DataFrame, Int) = {
    // round 16: size-gated local iteration (see LocalGraph) — the staged
    // pair list is counted anyway; when the gate keeps it local the whole
    // integer ppm walk runs in-process with bit-identical arithmetic and
    // early exit, otherwise the distributed rounds below run unchanged.
    // PageRank only groups and compares ids, so any one shared id type
    // qualifies (the q284 host graph has string ids)
    val slim = pairs.select(col(aCol), col(bCol))
    val staged = LocalStrategy.stage(slim, "pagerank", LocalStrategy.oneType(slim))(
        LocalStrategy.noNulls) match {
      case Right(rows) =>
        val (out, it) =
          LocalGraph.pageRank(rows.map(r => (r.get(0), r.get(1))), iters, toleranceU)
        return (LocalStrategy.frame(pairs.sparkSession,
          s"id ${slim.schema.head.dataType.sql}, deg BIGINT NOT NULL, rank_u BIGINT NOT NULL",
          out.map { case (id, deg, r) => Row(id, deg, r) }.toSeq), it)
      case Left(cut) => cut
    }
    // the INPUT pairs are already staged by the gate: the symmetrizing
    // union reads that checkpoint once per direction instead of re-running
    // the whole upstream pipeline per branch (for the q108 use the LSH
    // dedup pipeline — a corpus scan + signature pass per branch;
    // 7.4 s → 2.6 s at sf0.1)
    val fwd = staged.select(col(aCol).as("src"), col(bCol).as("dst"))
    // …then the edge list (no distinct — see the contract above; self-loops
    // still dropped), a narrow pass over that checkpoint per reader
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
    // node set with out-degree — one aggregation over the staged edges
    val nodes = Tuning.cut(sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    val small = nodes.count() <= broadcastNodeLimit // nodes just materialized
    def nodeSized(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // adjacency with the degree attached — built once, read every round
    val adj = Tuning.cut(sym
      .join(nodeSized(nodes.select(col("id").as("src"), col("deg"))), "src"))
    var rank = nodes.select(col("id"), lit(1000000L).as("rank_u"))
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val contrib = adj.join(nodeSized(rank), adj("src") === rank("id"))
        .select(col("dst"), expr("rank_u div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("mass"))
      val next = Tuning.cut(nodes
        .join(nodeSized(contrib), nodes("id") === contrib("dst"), "left")
        .select(nodes("id"),
          (lit(150000L) + expr("(85 * coalesce(mass, 0)) div 100")).as("rank_u"))) // cut: round i must not re-plan rounds < i
      // convergence probe: node-sized equi-join + scalar max; the action
      // materializes `next`'s checkpoint, which the loop needs anyway
      val delta = next
        .join(nodeSized(rank.select(col("id"), col("rank_u").as("prev_u"))), "id")
        .agg(coalesce(max(abs(col("rank_u") - col("prev_u"))), lit(0L)))
        .head.getLong(0)
      converged = delta <= toleranceU
      rank = next
      it += 1
    }
    (nodes.join(nodeSized(rank), "id").select(col("id"), col("deg"), col("rank_u")),
      it)
  }

  /** Personalized PageRank (random walk with restart to `seeds`): the
    * teleport mass lands ONLY on seed nodes, so rank_u measures graph
    * proximity to the seed set — "more documents like these" through the
    * near-dup/link structure, the graph-walk complement of embedding ANN.
    * Same integer ppm arithmetic as [[ranks]] (rank₀ = 10⁶·seed,
    * update = 150000·seed + (85·mass) div 100), same staging, same
    * node-broadcast-or-shuffle join strategy, same pair-uniqueness
    * CONTRACT. Unreachable nodes stay at exactly 0 — callers filter
    * `rank_u > 0` for the reachable neighborhood.
    */
  def personalizedRanks(
      pairs: DataFrame, aCol: String, bCol: String, seeds: Seq[Long],
      iters: Int, broadcastNodeLimit: Long = 10000000L): DataFrame = {
    // round 16: size-gated local walk, integral ids only (the seed set is
    // Seq[Long]); identical ppm arithmetic — running to a fixed point
    // early is output-invisible because the update is deterministic
    val slim = pairs.select(col(aCol), col(bCol))
    val staged = LocalStrategy.stage(slim, "personalized pagerank",
        LocalStrategy.oneIntegralType(slim))(LocalStrategy.noNulls) match {
      case Right(rows) =>
        val (out, _) = LocalGraph.pageRank(
          LocalGraph.longPairs(rows).map { case (a, b) => (a: Any, b: Any) }, iters,
          toleranceU = 0L, seedsU = Some(seeds.map(_.asInstanceOf[Any]).toSet))
        val df = LocalStrategy.frame(pairs.sparkSession,
          "id BIGINT NOT NULL, deg BIGINT NOT NULL, rank_u BIGINT NOT NULL",
          out.map { case (id, deg, r) => Row(id, deg, r) }.toSeq)
        return df.select(col("id").cast(slim.schema.head.dataType).as("id"),
          col("deg"), col("rank_u"))
      case Left(cut) => cut
    }
    val fwd = staged.select(col(aCol).as("src"), col(bCol).as("dst"))
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
    val nodes = Tuning.cut(sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      // the seed indicator is a literal IN — seed sets are query-sized
      .withColumn("s", col("id").isin(seeds.map(_.asInstanceOf[Any]): _*)
        .cast("long")))
    val small = nodes.count() <= broadcastNodeLimit
    def nodeSized(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val adj = Tuning.cut(sym
      .join(nodeSized(nodes.select(col("id").as("src"), col("deg"))), "src"))
    var rank = nodes.select(col("id"), (col("s") * lit(1000000L)).as("rank_u"))
    (0 until iters).foreach { _ =>
      val contrib = adj.join(nodeSized(rank), adj("src") === rank("id"))
        .select(col("dst"), expr("rank_u div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("mass"))
      rank = Tuning.cut(nodes
        .join(nodeSized(contrib), nodes("id") === contrib("dst"), "left")
        .select(nodes("id"),
          (col("s") * lit(150000L) + expr("(85 * coalesce(mass, 0)) div 100"))
            .as("rank_u")))
    }
    nodes.join(nodeSized(rank), "id").select(col("id"), col("deg"), col("rank_u"))
  }
}
