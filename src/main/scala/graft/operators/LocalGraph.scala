package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Small-graph local fixpoints (round 16).
  *
  * Every iterative graph operator in the suite (connected components,
  * PageRank, k-core peeling, label propagation, bounded BFS) runs on the
  * QUOTIENT of the corpus — the near-dup pair list or the host graph —
  * which is orders of magnitude smaller than the corpus itself (5 000
  * docs → ~50 000 verified pairs; 100 TB of pages → a host graph bounded
  * by site combinatorics). The distributed loops pay per round: 2-3
  * shuffles, a cut and a driver action — dominated by fixed
  * job overhead whenever the edge list is small, and O(log diameter) or
  * fixed-k rounds of it.
  *
  * This object holds the in-process algorithms; [[LocalStrategy.stage]]
  * decides whether they run. When the edge list fits under
  * `spark.graft.localRowLimit` rows (one count on its cut — the
  * materialization the distributed path pays anyway), shares one id type
  * and holds no null endpoint, it is collected once, the exact same
  * integer fixpoint runs in-process, and the result comes back as a local
  * relation ([[LocalStrategy.frame]]) whose exact size statistics let
  * downstream joins broadcast it. Otherwise the caller runs the unchanged
  * distributed loop (the 100 TB path). Every local algorithm replicates
  * the distributed arithmetic EXACTLY (integer ppm ranks, min-label
  * components, (count desc, label asc) vote ties, micro-unit
  * reciprocals), which LocalGraphSpec pins by comparing both paths on
  * engineered graphs.
  */
object LocalGraph {

  /** The (a, b) pairs of collected rows of one integral id type. */
  def longPairs(rows: Array[Row]): Array[(Long, Long)] =
    rows.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))

  /** Min-label connected components over an undirected pair list:
    * union-find with path halving, then every member labelled with its
    * component's MINIMUM id — exactly the fixpoint of the distributed
    * min-label propagation. Returns (id, keeper_id) rows for the edge
    * ENDPOINTS only (the [[Dedup.resolveClustersSparse]] contract).
    */
  def componentLabels(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val minOf = new java.util.HashMap[Long, Long]()
    val ids = new Array[Long](parent.size())
    var i = 0
    val it = parent.keySet().iterator()
    while (it.hasNext) { ids(i) = it.next(); i += 1 }
    ids.foreach { id =>
      val r = find(id)
      val cur = minOf.getOrDefault(r, Long.MaxValue)
      if (id < cur) minOf.put(r, id)
    }
    ids.map(id => (id, minOf.get(find(id))))
  }

  /** [[componentLabels]] as a DataFrame (id, keeper_id), columns cast to
    * `idType` so downstream joins line up with the caller's id column.
    */
  def componentLabelsDF(spark: SparkSession, edges: Array[(Long, Long)],
      idType: DataType): DataFrame = {
    val df = LocalStrategy.frame(spark, "id BIGINT NOT NULL, keeper_id BIGINT NOT NULL",
      componentLabels(edges).map { case (id, k) => Row(id, k) }.toSeq)
    if (idType == LongType) df
    else df.select(col("id").cast(idType).as("id"),
      col("keeper_id").cast(idType).as("keeper_id"))
  }

  /** Integer-ppm PageRank on generic ids (hosts are strings): EXACT
    * replica of [[PageRank.ranksIterated]]'s loop — symmetrize, drop
    * self-loops, deg = out-degree, rank₀ = 10⁶, per round
    * rank' = 150000 + (85 · Σ (rank div deg)) div 100, early exit when
    * max |Δ| ≤ toleranceU. Returns ((id, deg, rank_u) rows, rounds run).
    */
  def pageRank(edges: Array[(Any, Any)], iters: Int, toleranceU: Long,
      seedsU: Option[Set[Any]] = None): (Array[(Any, Long, Long)], Int) = {
    val sym = edges.iterator.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }.toArray
    val deg = new java.util.HashMap[Any, Long]()
    sym.foreach { case (s, _) => deg.merge(s, 1L, _ + _) }
    val nodes = deg.keySet().toArray
    val rank = new java.util.HashMap[Any, Long]()
    def seedBit(id: Any): Long =
      seedsU.fold(1L)(ss => if (ss.contains(id)) 1L else 0L)
    nodes.foreach(id => rank.put(id, 1000000L * seedBit(id)))
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val mass = new java.util.HashMap[Any, Long]()
      sym.foreach { case (s, d) =>
        mass.merge(d, rank.get(s) / deg.get(s), _ + _)
      }
      var delta = 0L
      val next = new java.util.HashMap[Any, Long]()
      nodes.foreach { id =>
        val base = seedsU.fold(150000L)(ss => if (ss.contains(id)) 150000L else 0L)
        val r = base + (85L * mass.getOrDefault(id, 0L)) / 100L
        next.put(id, r)
        val d = math.abs(r - rank.get(id))
        if (d > delta) delta = d
      }
      converged = delta <= toleranceU
      rank.clear(); rank.putAll(next)
      it += 1
    }
    (nodes.map(id => (id, deg.get(id), rank.get(id))), it)
  }

  /** k-core degree peel, EXACT replica of [[GraphMetrics.kCoreWithPeels]]:
    * canonical (lo, hi) edges, self-loops dropped; per round drop nodes
    * with degree < k and their edges; early exit when a round changes
    * nothing. Returns ((v, core_degree) rows, peels run).
    */
  def kCore(edges0: Array[(Long, Long)], k: Int, rounds: Int)
      : (Array[(Long, Long)], Int) = {
    var edges = edges0.iterator
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (lo, hi) => lo != hi }.toArray
    var prev = edges.length.toLong
    var peels = 0
    var fixed = prev == 0L
    while (peels < rounds && !fixed) {
      val degm = new java.util.HashMap[Long, Long]()
      edges.foreach { case (lo, hi) =>
        degm.merge(lo, 1L, _ + _); degm.merge(hi, 1L, _ + _)
      }
      edges = edges.filter { case (lo, hi) =>
        degm.get(lo) >= k && degm.get(hi) >= k }
      val cur = edges.length.toLong
      fixed = cur == prev
      prev = cur
      peels += 1
    }
    val degm = new java.util.HashMap[Long, Long]()
    edges.foreach { case (lo, hi) =>
      degm.merge(lo, 1L, _ + _); degm.merge(hi, 1L, _ + _)
    }
    val out = new Array[(Long, Long)](degm.size())
    var i = 0
    val it = degm.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); out(i) = (e.getKey, e.getValue); i += 1
    }
    (out, peels)
  }

  /** Deterministic synchronous label propagation, EXACT replica of
    * [[GraphMetrics.labelPropagation]]: labels start as own id over the
    * edge-endpoint node set, each round every node takes the most
    * frequent label among neighbor labels PLUS its own current label
    * (self-vote), ties to the SMALLEST label. Returns (id, label) rows.
    */
  def labelPropagation(edges0: Array[(Long, Long)], rounds: Int)
      : Array[(Long, Long)] = {
    val sym = edges0.iterator.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }.toArray
    val nodeSet = new java.util.HashSet[Long]()
    sym.foreach { case (s, _) => nodeSet.add(s) }
    val nodes = {
      val a = new Array[Long](nodeSet.size())
      var i = 0; val it = nodeSet.iterator()
      while (it.hasNext) { a(i) = it.next(); i += 1 }
      a
    }
    var labels = new java.util.HashMap[Long, Long]()
    nodes.foreach(id => labels.put(id, id))
    for (_ <- 1 to rounds) {
      // votes: neighbor labels + the self-vote
      val votes = new java.util.HashMap[(Long, Long), Long]()
      sym.foreach { case (s, d) =>
        votes.merge((d, labels.get(s)), 1L, _ + _)
      }
      nodes.foreach { id => votes.merge((id, labels.get(id)), 1L, _ + _) }
      // argmax per node: (count desc, label asc)
      val bestC = new java.util.HashMap[Long, Long]()
      val bestL = new java.util.HashMap[Long, Long]()
      val it = votes.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val (id, lab) = e.getKey
        val c = e.getValue
        val bc = bestC.getOrDefault(id, -1L)
        if (c > bc || (c == bc && lab < bestL.get(id))) {
          bestC.put(id, c); bestL.put(id, lab)
        }
      }
      labels = bestL
    }
    nodes.map(id => (id, labels.get(id)))
  }

  /** Bounded-hop harmonic centrality, EXACT replica of
    * [[GraphMetrics.harmonicCentrality]]: BFS ≤ `hops` on the symmetrized
    * edge list, per node (n_1hop, n_far, Σ 10⁶ div d). Returns
    * (id, n_1hop, n_far, h_micro) rows.
    */
  def harmonicCentrality(edges0: Array[(Long, Long)], hops: Int)
      : Array[(Long, Long, Long, Long)] = {
    val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    def add(s: Long, d: Long): Unit =
      adj.computeIfAbsent(s, _ => new java.util.ArrayList[Long]()).add(d)
    edges0.foreach { case (a, b) => if (a != b) { add(a, b); add(b, a) } }
    val nodes = {
      val a = new Array[Long](adj.size())
      var i = 0; val it = adj.keySet().iterator()
      while (it.hasNext) { a(i) = it.next(); i += 1 }
      a
    }
    nodes.map { u =>
      val dist = new java.util.HashMap[Long, Int]()
      var frontier = new java.util.ArrayList[Long]()
      frontier.add(u)
      dist.put(u, 0)
      var d = 0
      var n1 = 0L; var nf = 0L; var h = 0L
      while (d < hops && !frontier.isEmpty) {
        val next = new java.util.ArrayList[Long]()
        val it = frontier.iterator()
        while (it.hasNext) {
          val v = it.next()
          val ns = adj.get(v)
          if (ns != null) {
            val nit = ns.iterator()
            while (nit.hasNext) {
              val w = nit.next()
              if (!dist.containsKey(w)) {
                dist.put(w, d + 1)
                next.add(w)
                if (d + 1 == 1) n1 += 1 else nf += 1
                h += 1000000L / (d + 1)
              }
            }
          }
        }
        frontier = next
        d += 1
      }
      (u, n1, nf, h)
    }
  }
}
