package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Triangle counting and global clustering coefficient over an undirected
  * pair graph, via the degree-ordered orientation (Schank & Wagner 2005;
  * the shape every distributed triangle counter uses — cf. Suri &
  * Vassilvitskii's MapReduce formulation, WWW 2011).
  *
  * Motivation in this suite: run it on the near-dup pair graph (q39's
  * output). Transitivity is the structural honesty check on a dedup
  * candidate set — true duplicate clusters are cliques (transitivity → 1),
  * while banding artifacts and chained borderline matches show up as open
  * wedges (a~b, b~c, a≁c). A low coefficient on a high-threshold pair set
  * means the verify step is letting non-transitive "similarity" through,
  * which is what you audit before trusting cluster resolution (q53/q118)
  * to pick one survivor per group.
  *
  * Scale shape: every edge is oriented from its (degree, id)-smaller
  * endpoint, which bounds out-degree by O(√E) on any graph — so the wedge
  * self-join (the only superlinear step) generates Σ C(outdeg, 2) ≤ E·√E
  * candidate wedges instead of the Σ C(deg, 2) a naive hub join would
  * (a clone clique of m docs contributes m·C(m-1,2) wedges unoriented but
  * only C(m,3) oriented — the hub's fan-out is split across the order).
  * Each triangle is counted EXACTLY once: its (degree, id)-minimal vertex
  * is the unique apex with out-edges to the other two. The closing-edge
  * probe is a pair-key equi-join against the canonical edge list. All
  * counts are exact integer aggregates; the one float division is the
  * final transitivity, quantized to 1e-4 by integer division first.
  *
  * CONTRACT (same as [[PageRank.ranks]]): `pairs` holds each undirected
  * pair once (the `id_a < id_b` dedup-pipeline output). The operator does
  * not re-distinct — a corpus-scale distinct would dominate the job's
  * memory for no semantic gain on a unique pair list. Self-loops are
  * dropped.
  */
object GraphMetrics {

  /** The canonical (lo, hi) edge list of a pair list, self-loops dropped,
    * behind a cut: every pass of a metric reads it instead of re-running
    * the upstream pipeline (for q147: the whole LSH dedup pass).
    */
  private def canonicalEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    Tuning.cut(pairs.select(least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi")))

  /** Node degrees (v, `out`) of a canonical edge list. */
  private def degrees(edges: DataFrame, out: String): DataFrame =
    edges.select(col("lo").as("v")).union(edges.select(col("hi").as("v")))
      .groupBy("v").agg(count(lit(1)).as(out))

  /** One-row summary: node/edge/wedge/triangle counts and the global
    * clustering coefficient (transitivity = 3·triangles / wedges,
    * floor-quantized to 1e-4; 0 when the graph has no wedge).
    */
  def triangleSummary(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val edges = canonicalEdges(pairs, aCol, bCol)
    val deg = Tuning.cut(degrees(edges, "d")) // node-sized; feeds orientation twice + wedge total
    // orient each edge u→v with (deg, id) strictly increasing — the total
    // order that makes the triangle's minimal vertex the unique apex
    val fromLo = col("dlo") < col("dhi") ||
      (col("dlo") === col("dhi") && col("lo") < col("hi"))
    val oriented = Tuning.cut(edges
      .join(deg.select(col("v").as("lo"), col("d").as("dlo")), "lo")
      .join(deg.select(col("v").as("hi"), col("d").as("dhi")), "hi")
      .select(when(fromLo, col("lo")).otherwise(col("hi")).as("u"),
        when(fromLo, col("hi")).otherwise(col("lo")).as("w"))) // the wedge self-join reads it twice
    // wedges at the apex: pairs of out-neighbors, emitted in canonical
    // order so the closing probe is a plain (lo, hi) equi-join
    val wedges = oriented.select(col("u"), col("w").as("x"))
      .join(oriented.select(col("u"), col("w").as("y")), "u")
      .filter(col("x") < col("y")) // each unordered out-pair once, canonical
      .select(col("x").as("lo"), col("y").as("hi"))
    val tri = wedges.join(edges, Seq("lo", "hi"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    broadcast(nodeStats).crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        (when(col("n_wedges") > 0,
          expr("(3 * n_triangles * 10000) div n_wedges")).otherwise(lit(0L))
          / lit(10000.0)).as("transitivity4"))
  }

  /** k-core of an undirected pair graph by iterative degree peeling
    * (Matula & Beck 1983; the bounded-round distributed form follows
    * Montresor, De Pellegrini & Miorandi, "Distributed k-core
    * decomposition", IEEE TPDS 2013): each round drops every node with
    * degree < k and every edge touching one, until fixpoint or `rounds`
    * rounds — a no-op round leaves the edge set unchanged, so running the
    * full budget is result-identical to early exit once fixpoint is
    * reached (the property that lets an oracle replay EXACTLY `rounds`
    * peels). The loop EXITS EARLY once a round leaves the edge count
    * unchanged (edges only disappear with a dropped endpoint, so an
    * unchanged count IS the fixpoint test — degree-0 nodes never appear
    * in the edge list): `rounds` is a BOUND, not an always-paid cost,
    * the same treatment PageRank got for its ppm-stable exit. The test
    * costs one count per round over already-checkpointed partitions.
    * Returns the surviving nodes with their in-core degree.
    *
    * Why it's in the dedup suite: q164's component-size audit cannot tell
    * a 100-doc CHAIN of borderline matches (collapses to nothing under
    * peeling — every node has degree ≤ 2 and the ends unravel it) from a
    * 100-doc template FARM (a dense clique — peeling removes nothing).
    * The 2-core, read next to the component sizes, separates "long fragile
    * chain the threshold should cut" from "dense boilerplate cluster that
    * is genuinely one document" before cluster resolution commits.
    *
    * Scale shape: each round is one node-sized degree aggregation plus two
    * semi-joins of the edge list against the surviving-node relation —
    * never a corpus² product — and the edge list shrinks monotonically.
    * a cut per round truncates the iteration's lineage
    * (PageRank's staging move) so round r+1 replans from materialized
    * edges instead of r stacked joins.
    *
    * CONTRACT (as [[triangleSummary]]): `pairs` holds each undirected pair
    * once; self-loops are dropped; no re-distinct.
    */
  def kCore(
      pairs: DataFrame, aCol: String, bCol: String,
      k: Int = 2, rounds: Int = 8): DataFrame =
    kCoreWithPeels(pairs, aCol, bCol, k, rounds)._1

  /** [[kCore]] plus the number of peel rounds actually executed — the
    * early-exit evidence the spec pins (and an ops-level convergence
    * metric: a core that stops converging within its budget is a graph
    * whose chains outlast the peel bound).
    */
  def kCoreWithPeels(
      pairs: DataFrame, aCol: String, bCol: String,
      k: Int = 2, rounds: Int = 8): (DataFrame, Int) = {
    // round 16: size-gated local peel (see LocalGraph) — identical rounds,
    // identical early exit, identical output; distributed loop unchanged
    // when the gate hands off
    val slim = pairs.select(col(aCol), col(bCol))
    val staged = LocalStrategy.stage(slim, "k-core", LocalStrategy.oneIntegralType(slim))(
        LocalStrategy.noNulls) match {
      case Right(rows) =>
        val (core, peels) = LocalGraph.kCore(LocalGraph.longPairs(rows), k, rounds)
        val df = LocalStrategy.frame(pairs.sparkSession,
          "v BIGINT NOT NULL, core_degree BIGINT NOT NULL",
          core.map { case (v, d) => Row(v, d) }.toSeq)
        return (df.select(col("v").cast(slim.schema.head.dataType).as("v"),
          col("core_degree")), peels)
      case Left(cut) => cut
    }
    var edges = canonicalEdges(staged, aCol, bCol)
    var prev = edges.count()
    var peels = 0
    var fixed = prev == 0L // the empty graph is already its own k-core
    while (peels < rounds && !fixed) {
      val keep = degrees(edges, "c").filter(col("c") >= k)
      edges = Tuning.cut(edges
        .join(keep.select(col("v").as("lo")), Seq("lo"), "left_semi")
        .join(keep.select(col("v").as("hi")), Seq("hi"), "left_semi")
        .select(col("lo"), col("hi")))
      val cur = edges.count()
      fixed = cur == prev
      prev = cur
      peels += 1
    }
    (edges.select(col("lo").as("v")).union(edges.select(col("hi").as("v")))
      .groupBy("v").agg(count(lit(1)).as("core_degree")), peels)
  }

  /** Degree assortativity (Newman, PRL 2002) of an undirected pair graph:
    * Pearson correlation of endpoint degrees over directed STUBS (each
    * edge contributes both orientations, so Σx = Σy, Σxx = Σyy and one
    * exact-integer moment triple suffices):
    *
    *   r = (M·Σxy − Σx²) / (M·Σxx − Σx²),  M = 2·|E|
    *
    * Degrees are exact ints; Σxy/Σxx accumulate in decimal(38,0) (the
    * q189 policy — a 10⁶-degree hub squared is past BIGINT at 100 TB edge
    * counts; an oracle's HUGEINT sums are the exact twin), and the single
    * double division runs in one pinned operation order, floor-quantized
    * at 1e-6. Null r on a degree-regular graph (zero variance), defined
    * identically on any engine.
    *
    * Output: one row (n_nodes, n_edges, r6). Scale shape: degrees are one
    * node-sized aggregate; the moment pass is the edge list joined twice
    * against the node-sized degree relation, then a scalar aggregate — no
    * corpus² anything.
    *
    * CONTRACT (as [[triangleSummary]]): `pairs` holds each undirected pair
    * once; self-loops are dropped; no re-distinct.
    */
  def degreeAssortativity(
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val edges = canonicalEdges(pairs, aCol, bCol)
    val deg = degrees(edges, "d")
    val stats = edges
      .join(deg.select(col("v").as("lo"), col("d").as("dlo")), "lo")
      .join(deg.select(col("v").as("hi"), col("d").as("dhi")), "hi")
      .agg(
        count(lit(1)).as("n_edges"),
        // both stub orientations of every edge, folded: Σx = Σ(dlo + dhi)
        sum(col("dlo") + col("dhi")).as("sx"),
        sum(lit(2L).cast("decimal(19,0)")
          * col("dlo").cast("decimal(19,0)") * col("dhi").cast("decimal(19,0)"))
          .as("sxy"),
        sum(col("dlo").cast("decimal(19,0)") * col("dlo").cast("decimal(19,0)")
          + col("dhi").cast("decimal(19,0)") * col("dhi").cast("decimal(19,0)"))
          .as("sxx"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    broadcast(nodes).crossJoin(broadcast(stats))
      .withColumn("m", lit(2L) * col("n_edges"))
      .withColumn("denom",
        col("m").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
      .select(col("n_nodes"), col("n_edges"),
        when(col("denom") > 0.0, floor(
          (col("m").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")) / col("denom")
            * 1000000.0).cast("long")).as("r6"))
  }

  /** Bounded-hop harmonic centrality (Boldi & Vigna 2014's truncated
    * form): `h(u) = Σ_{v≠u, d(u,v)≤hops} 1/d(u,v)`, with the reciprocal
    * in exact micro-units (`10⁶ div d` — 1/1, 1/2, 1/3 are exact
    * integers, so the sum is order-free). The hop bound is the scale
    * contract: full closeness needs all-pairs distances, but 2-3 hops is
    * what dup-graph triage reads (how much near-duplicate mass sits
    * RIGHT around a doc), and each hop is one frontier ⋈ edges join +
    * one anti-join against the known-distance set — edge-sized work per
    * round on sparse graphs, the same density caveat as the triangle
    * census on clique blow-ups. Output: (id, n_1hop…, h_micro) per node.
    *
    * CONTRACT as [[triangleSummary]]: unique undirected pairs, no
    * self-loops.
    */
  def harmonicCentrality(pairs: DataFrame, aCol: String, bCol: String,
      hops: Int = 3): DataFrame = {
    require(hops >= 1 && hops <= 8, s"hops must be in [1, 8], got $hops")
    // round 16: size-gated local BFS (see LocalGraph) — the pair graph is
    // a small quotient of the corpus; when the gate keeps it local the
    // whole hops-bounded closure runs in-process with identical micro-unit
    // arithmetic, otherwise the distributed frontier rounds run unchanged
    val slim = pairs.select(col(aCol), col(bCol))
    val staged = LocalStrategy.stage(slim, "harmonic centrality",
        LocalStrategy.oneIntegralType(slim))(LocalStrategy.noNulls) match {
      case Right(rows) =>
        val df = LocalStrategy.frame(pairs.sparkSession,
          "id BIGINT NOT NULL, n_1hop BIGINT NOT NULL, n_far BIGINT NOT NULL, " +
            "h_micro BIGINT NOT NULL",
          LocalGraph.harmonicCentrality(LocalGraph.longPairs(rows), hops)
            .map { case (id, n1, nf, h) => Row(id, n1, nf, h) }.toSeq)
        return df.select(col("id").cast(slim.schema.head.dataType).as("id"),
          col("n_1hop"), col("n_far"), col("h_micro"))
      case Left(cut) => cut
    }
    val edges = staged
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = Tuning.cut(edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))) // re-joined every hop
    var dist = Tuning.cut(sym.select(col("src").as("u"), col("dst").as("v"),
      lit(1L).as("d")))
    var frontier = dist
    var h = 2
    while (h <= hops) {
      val next = Tuning.cut(frontier
        .join(sym.select(col("src").as("v"), col("dst").as("w")), "v")
        .filter(col("u") =!= col("w"))
        .select(col("u"), col("w").as("v")).distinct()
        .join(dist.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
        .select(col("u"), col("v"), lit(h.toLong).as("d")))
      dist = Tuning.cut(dist.unionByName(next))
      frontier = next
      h += 1
    }
    dist.groupBy(col("u"))
      .agg(count(when(col("d") === 1, lit(1))).as("n_1hop"),
        count(when(col("d") > 1, lit(1))).as("n_far"),
        sum(expr("1000000 div d")).as("h_micro"))
      .select(col("u").as("id"), col("n_1hop"), col("n_far"), col("h_micro"))
  }

  /** [[harmonicCentrality]] behind the q165 giant-component share gate:
    * connected components holding more than `maxShare4`/10⁴ of the corpus
    * (`totalIds`, exact integer test `sz · 10⁴ > maxShare4 · n`) are
    * FLAGGED and NEVER TRAVERSED — their members report (id, NULL, NULL,
    * NULL, flagged = 1) and route to review, everything else runs the
    * bounded BFS unchanged with flagged = 0. This is the density-caveat
    * REMEDY the plain operator documents: each BFS hop multiplies the
    * frontier by the neighbor fan-out, so a welded LSH mega-component (a
    * fifth of a 100 TB corpus in one chain — the q164 evidence) would
    * produce a quadratic `dist` relation; the guard costs one
    * component-size aggregate (components from the repo's own
    * pointer-halving resolve — O(log diameter) rounds) + a broadcast
    * scalar, and edges are component-closed so a single endpoint
    * semi-join drops every flagged edge.
    */
  def harmonicCentralityGuarded(pairs: DataFrame, aCol: String, bCol: String,
      hops: Int, maxShare4: Long, totalIds: DataFrame): DataFrame = {
    // round 16: stage the pair list ONCE — it feeds the component labels,
    // the flag gate and the BFS; without the cut the upstream pipeline
    // (for q221 the whole LSH dedup pass) re-ran per consumer
    val p = Tuning.cut(pairs)
    val labels = Dedup.componentsOverEndpoints(
        p.select(col(aCol).as("id_a"), col(bCol).as("id_b")))
      .select(col("id"), col("keeper_id").as("__cid"))
    val sizes = labels.groupBy(col("__cid")).agg(count(lit(1)).as("__sz"))
    val tot = broadcast(totalIds.select(col(totalIds.columns.head).as("id"))
      .distinct().agg(count(lit(1)).as("__n")))
    val flags = Tuning.cut(labels.join(sizes, Seq("__cid")).crossJoin(tot)
      .select(col("id"),
        (col("__sz") * lit(10000L) > lit(maxShare4) * col("__n"))
          .cast("int").as("flagged"))) // read by the edge gate and the final join
    val ok = flags.filter(col("flagged") === 0).select(col("id").as(aCol))
    val keptPairs = p.join(ok, Seq(aCol), "left_semi")
    flags.join(harmonicCentrality(keptPairs, aCol, bCol, hops), Seq("id"), "left")
      .select(col("id"), col("n_1hop"), col("n_far"), col("h_micro"),
        col("flagged"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007) over
    * an undirected pair graph, made DETERMINISTIC: every node starts
    * labeled with its own id, and each of exactly `rounds` rounds
    * re-labels every node with the most frequent label among its
    * neighbors PLUS ITSELF (the self-vote damps the oscillation plain
    * synchronous LP exhibits on bipartite structures — a star flips
    * hub/leaf labels forever without it), ties broken by the SMALLEST
    * label (the randomized original breaks them randomly; the
    * (count desc, label asc) order makes the fixed-round result
    * replayable by an oracle). Nodes outside the edge set are singleton
    * communities by definition and are not emitted.
    *
    * Why it's in the dedup suite: components (q164) answer "what is
    * connected", communities answer "what is DENSELY connected" — a
    * thin bridge between two template farms keeps them one component but
    * two labels, the distinction cluster resolution needs before
    * collapsing.
    *
    * Scale shape: per round, one edge-sized equi-join (labels are
    * node-sized) and one (node, label)-keyed count; the argmax window is
    * PARTITIONED BY node — never a global sort. A cut per
    * round truncates the iteration lineage (the kCore staging move).
    * Returns (id, label) after `rounds` rounds.
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = {
    // round 16: size-gated local rounds (see LocalGraph) — identical vote
    // counts and (count desc, label asc) ties; distributed loop unchanged
    // when the gate hands off
    val slim = pairs.select(col(aCol), col(bCol))
    val staged = LocalStrategy.stage(slim, "label propagation",
        LocalStrategy.oneIntegralType(slim))(LocalStrategy.noNulls) match {
      case Right(rows) =>
        val idType = slim.schema.head.dataType
        val df = LocalStrategy.frame(pairs.sparkSession,
          "id BIGINT NOT NULL, label BIGINT NOT NULL",
          LocalGraph.labelPropagation(LocalGraph.longPairs(rows), rounds)
            .map { case (id, lab) => Row(id, lab) }.toSeq)
        return df.select(col("id").cast(idType).as("id"),
          col("label").cast(idType).as("label"))
      case Left(cut) => cut
    }
    val edges = Tuning.cut(staged
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(staged.select(col(bCol).as("src"), col(aCol).as("dst")))
      .filter(col("src") =!= col("dst"))) // every round joins it
    var labels = Tuning.cut(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    val byVote = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("c").desc, col("label"))
    for (_ <- 1 to rounds) {
      labels = Tuning.cut(edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
        .union(labels) // the self-vote
        .groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(byVote))
        .filter(col("rn") === 1)
        .select(col("id"), col("label")))
    }
    labels
  }
}
