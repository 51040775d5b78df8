package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.SparkEntry._
import graft.operators.Tuning

/** Graph science on the near-dup graph: PageRank, PPR, triangles, k-core, assortativity, harmonic centrality, link prediction, label-propagation communities, components.
  *
  * Extracted verbatim from the SparkEntry registry; [[graft.SparkEntry]]
  * concatenates every family into the single driver-contract maps.
  */
private[graft] object GraphQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PageRank over the near-dup pair graph — dedup analytics one level
    // above q97's source matrix: rank centrality finds the TEMPLATE
    // documents boilerplate radiates from (what you read before choosing
    // a cluster's canonical survivor). Exact integer arithmetic (ppm
    // ranks, div-damping) so any engine/partitioning reproduces it;
    // each of the 3 iterations is one equi-join + one agg over the staged
    // degree-annotated adjacency (PageRank.ranks).
    "q108_dup_pagerank" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.nearDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
      graft.operators.PageRank.ranks(pairs, "id_a", "id_b", iters = 3)
        .select($"id".as("doc_id"), $"deg", $"rank_u")
        .orderBy($"rank_u".desc, $"doc_id")
        .limit(20)
    }),


    // Triangle census of the STRONG near-dup pair graph — the structural
    // honesty check on a candidate set: true duplicate clusters are
    // cliques (transitivity → 1); open wedges are banding artifacts /
    // chained borderline matches that cluster resolution would glue into
    // one spurious group. Threshold 0.75 (est_jac ≥ 6/8) picks the graph
    // worth auditing: triangle ENUMERATION is Θ(wedges) in any algorithm,
    // and this templated corpus's 0.5-graph is a near-clique soup (90M
    // oriented wedges at sf0.1, measured — vs 649k at 0.75) whose census
    // answers nothing a cluster audit asks. Degree-ordered orientation
    // bounds the wedge join's fan-out by O(√E) per node; counts are exact
    // integers, the one float division is pre-quantized. See
    // [[graft.operators.GraphMetrics]].
    "q147_dup_triangles" -> ((s, dir) => {
      val pairs = graft.operators.Dedup.nearDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75)
      graft.operators.GraphMetrics.triangleSummary(pairs, "id_a", "id_b")
    }),


    // Dedup component-size distribution — the audit a deployment reads
    // BEFORE committing cluster resolution: a healthy near-dup graph is
    // mostly singletons and small cliques; a giant component (here a
    // 102-doc cluster holding 20% of the corpus at sf0.01) is the
    // signature of chained borderline matches about to collapse a fifth
    // of the corpus into one survivor. Pairs → min-label components
    // (q53's machinery on q147's strong graph) → size histogram; the
    // distribution is component-count-sized, shares in exact 1e-4 units.
    "q164_component_sizes" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75)
      val labels = graft.operators.Dedup
        .resolveClustersSparse(pairs, docs.select($"doc_id"))
      val sizes = labels.groupBy($"keeper_id").agg(count(lit(1)).as("sz"))
      val tot = labels.agg(count(lit(1)).as("n"))
      sizes.groupBy($"sz".as("size")).agg(count(lit(1)).as("n_components"))
        .crossJoin(broadcast(tot))
        .select($"size", $"n_components",
          ($"size" * $"n_components").as("n_docs"),
          (expr("(size * n_components * 10000) div n") / lit(10000.0))
            .as("share4"))
        .orderBy($"size")
    }),


    // 2-core of the borderline near-dup graph (threshold 0.5 — the graph
    // where chains live): iterative degree peel, 8 bounded rounds. Read
    // NEXT TO q164's component sizes: a big component that vanishes under
    // peeling was a fragile chain of borderline matches (raise the
    // threshold), one that survives densely is a template farm
    // (genuinely one document). Each round is a node-sized degree agg +
    // two semi-joins, edge set shrinks monotonically; a no-op round
    // changes nothing, so the oracle replays exactly 8 peels.
    "q170_dup_kcore" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.nearDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
      graft.operators.GraphMetrics.kCore(pairs, "id_a", "id_b", k = 2, rounds = 8)
        .select($"v".as("doc_id"), $"core_degree")
        .orderBy($"doc_id")
    }),


    // Personalized PageRank (random walk with restart — Jeh & Widom 2003's
    // "more like this" through graph structure): teleport mass lands only
    // on the two seed docs, so rank_u measures near-dup-graph PROXIMITY to
    // the seeds — the graph-walk complement of embedding ANN (a doc can be
    // zero-cosine from the seed yet two dedup hops away). Same integer ppm
    // arithmetic, staging, and node-broadcast strategy as q108; unreachable
    // docs stay exactly 0 and are filtered, so the output is the seeds'
    // graph neighborhood ranked by walk probability.
    "q201_personalized_pagerank" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.nearDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
      graft.operators.PageRank.personalizedRanks(
          pairs, "id_a", "id_b", Seq(0L, 7L), iters = 3)
        .filter($"rank_u" > 0)
        .select($"id".as("doc_id"), $"deg", $"rank_u")
        .orderBy($"rank_u".desc, $"doc_id").limit(20)
    }),


    // Degree assortativity (Newman 2002) of the strong near-dup graph —
    // the last graph-science audit next to q147's triangles, q164's
    // component sizes and q170's k-core: TEMPLATE corpora (hub docs
    // duplicated everywhere) are disassortative, clone FARMS (uniform
    // cliques) assortative, so r separates the two contamination shapes
    // the size histogram alone cannot. Newman's r over directed stubs
    // (each undirected edge both ways, so Σx = Σy and one moment triple
    // suffices) from EXACT integer moments — degrees are ints; Σxy/Σxx in
    // decimal(38,0) vs the oracle's HUGEINT (q189's policy) — with one
    // double ratio in pinned operation order, floor-quantized at 1e-6.
    // Graph build is the q147 LSH pass (bounded buckets, never corpus²);
    // moments are one node-sized join + aggregate.
    "q200_dup_assortativity" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.nearDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75)
      graft.operators.GraphMetrics.degreeAssortativity(pairs, "id_a", "id_b")
    }),


    // Bounded-hop harmonic centrality (Boldi & Vigna 2014, truncated) on
    // the strong near-dup graph — the node-local companion to PageRank
    // (q108) / k-core (q170): how much near-duplicate mass sits within 3
    // hops of each doc, with reciprocal distances in exact micro-units so
    // the sum is order-free. Each hop is one frontier ⋈ edges join + one
    // anti-join against known distances ([[graft.operators.GraphMetrics
    // .harmonicCentralityGuarded]]) — edge-sized rounds, no all-pairs
    // closure. GIANT-COMPONENT GUARD (round 11): components over 10% of
    // the corpus (the q165 share gate) are flagged and never traversed —
    // a welded LSH chain would otherwise blow each BFS hop quadratic;
    // flagged members report NULL centrality + flagged = 1 for review.
    "q221_harmonic_centrality" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup.nearDupPairs(
        docs, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75)
      graft.operators.GraphMetrics
        .harmonicCentralityGuarded(pairs, "id_a", "id_b", hops = 3,
          maxShare4 = 1000L, totalIds = docs.select($"doc_id"))
        .orderBy($"id")
    }),


    // Link prediction on the near-dup graph — the graph-science member
    // that PREDICTS edges instead of analyzing them (Liben-Nowell &
    // Kleinberg 2003): for every non-adjacent 2-hop pair, common-neighbor
    // count, exact Jaccard over neighborhoods, and Adamic–Adar with the
    // micro-nat log convention (each 1/ln(deg) term is an integral
    // division by the floor-quantized log). All work is edge-sized
    // equi-joins on the verified-pair graph; the wedge join's fan-out is
    // Σ deg², the same bound every triangle/assortativity query already
    // carries.
    "q239_dup_linkpred" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.nearDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2,
        threshold = 0.75)
      val edges = Tuning.cut(pairs.select($"id_a".as("src"), $"id_b".as("dst"))
        .union(pairs.select($"id_b".as("src"), $"id_a".as("dst")))) // wedge join reads it three ways
      val deg = edges.groupBy($"src".as("id")).agg(count(lit(1)).as("deg"))
      val wedges = edges.as("e1").join(edges.as("e2"),
          $"e1.dst" === $"e2.src" && $"e1.src" < $"e2.dst")
        .select($"e1.src".as("u"), $"e2.dst".as("v"), $"e1.dst".as("w"))
      val cand = wedges
        .join(edges.select($"src".as("u"), $"dst".as("v")), Seq("u", "v"),
          "left_anti")
        .join(deg.select($"id".as("w"), $"deg".as("degw")), "w")
        .groupBy($"u", $"v")
        .agg(count(lit(1)).as("cn"),
          sum(when($"degw" >= 2L,
            expr("1000000000000 div cast(floor(ln(cast(degw as double)) * 1000000.0) as bigint)"))
            .otherwise(lit(0L))).as("aa6"))
      cand
        .join(deg.select($"id".as("u"), $"deg".as("du")), "u")
        .join(deg.select($"id".as("v"), $"deg".as("dv")), "v")
        .select($"u", $"v", $"cn",
          expr("cn * 10000 div (du + dv - cn)").as("jac4"), $"aa6")
        .filter($"cn" >= 2L)
        .orderBy($"u", $"v")
    }),


    // Deterministic label-propagation communities on the dup graph —
    // components (q164) answer "what is connected", this answers "what is
    // DENSELY connected": 3 synchronous most-frequent-neighbor-label
    // rounds (ties to the smallest label, making the randomized classic
    // replayable), read as a community-size census. A thin bridge between
    // two template farms keeps them one q164 component but two labels
    // here — the distinction cluster resolution needs before collapsing.
    // Per round: one edge-sized join + a node-keyed argmax window (never
    // a global sort); rounds are lineage-truncated like kCore's peels.
    "q257_label_communities" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.nearDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2,
        threshold = 0.75)
      graft.operators.GraphMetrics.labelPropagation(pairs, "id_a", "id_b", 3)
        .groupBy($"label").agg(count(lit(1)).as("sz"))
        .groupBy($"sz").agg(count(lit(1)).as("n_communities"),
          sum($"sz").as("n_nodes"))
        .select($"sz".as("community_size"), $"n_communities", $"n_nodes")
        .orderBy($"community_size")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q108_dup_pagerank" ->
      s"""WITH $LshVerifiedCtes, prs AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.5),
edges AS (SELECT src, dst FROM (SELECT id_a AS src, id_b AS dst FROM prs UNION SELECT id_b, id_a FROM prs) WHERE src <> dst),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src AS id, deg, 1000000::BIGINT AS rank_u FROM deg),
c1 AS (SELECT e.dst, sum(r.rank_u // r.deg)::BIGINT AS m FROM edges e JOIN r0 r ON e.src = r.id GROUP BY e.dst),
r1 AS (SELECT r.id, r.deg, (150000 + (85 * coalesce(m, 0)) // 100)::BIGINT AS rank_u FROM r0 r LEFT JOIN c1 ON r.id = c1.dst),
c2 AS (SELECT e.dst, sum(r.rank_u // r.deg)::BIGINT AS m FROM edges e JOIN r1 r ON e.src = r.id GROUP BY e.dst),
r2 AS (SELECT r.id, r.deg, (150000 + (85 * coalesce(m, 0)) // 100)::BIGINT AS rank_u FROM r1 r LEFT JOIN c2 ON r.id = c2.dst),
c3 AS (SELECT e.dst, sum(r.rank_u // r.deg)::BIGINT AS m FROM edges e JOIN r2 r ON e.src = r.id GROUP BY e.dst),
r3 AS (SELECT r.id, r.deg, (150000 + (85 * coalesce(m, 0)) // 100)::BIGINT AS rank_u FROM r2 r LEFT JOIN c3 ON r.id = c3.dst)
SELECT id AS doc_id, deg, rank_u FROM r3 ORDER BY rank_u DESC, doc_id LIMIT 20""",

    // q147: degree-ordered triangle census of the LSH-verified pair graph
    "q147_dup_triangles" ->
      s"""WITH $LshVerifiedCtes,
prs AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.75),
deg AS (SELECT v, count(*)::BIGINT AS d FROM (SELECT id_a AS v FROM prs UNION ALL SELECT id_b FROM prs) GROUP BY v),
o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND id_a < id_b) THEN id_a ELSE id_b END AS u,
             CASE WHEN da.d < db.d OR (da.d = db.d AND id_a < id_b) THEN id_b ELSE id_a END AS w
      FROM prs JOIN deg da ON prs.id_a = da.v JOIN deg db ON prs.id_b = db.v),
wg AS (SELECT o1.w AS lo, o2.w AS hi FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.w < o2.w),
tri AS (SELECT count(*)::BIGINT AS n_triangles FROM wg JOIN prs ON wg.lo = prs.id_a AND wg.hi = prs.id_b),
ns AS (SELECT count(*)::BIGINT AS n_nodes, sum(d*(d-1)//2)::BIGINT AS n_wedges FROM deg),
es AS (SELECT count(*)::BIGINT AS n_edges FROM prs)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
 (CASE WHEN n_wedges > 0 THEN (3*n_triangles*10000)//n_wedges ELSE 0 END)::DOUBLE / 10000.0 AS transitivity4
FROM ns, es, tri""",

    // q164: q53's recursive reach on the 0.75 strong graph, rolled into a
    // component-size histogram with exact 1e-4 corpus shares
    "q164_component_sizes" ->
      s"""WITH RECURSIVE $LshVerifiedCtes,
good AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.75),
edges AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b AS src, id_a AS dst FROM good),
reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id),
lab AS (SELECT id, min(r) AS keeper_id FROM reach GROUP BY id),
sizes AS (SELECT keeper_id, count(*)::BIGINT AS sz FROM lab GROUP BY keeper_id),
tot AS (SELECT count(*)::BIGINT AS n FROM lab)
SELECT sz AS size, count(*)::BIGINT AS n_components, (sz * count(*))::BIGINT AS n_docs,
  ((sz * count(*) * 10000) // n)::DOUBLE / 10000.0 AS share4
FROM sizes, tot GROUP BY sz, n ORDER BY size""",

    // q170: exactly 8 unrolled peels — a converged peel is a no-op, so
    // fixpoint-before-8 gives the same relation as the engine's 8 rounds
    "q170_dup_kcore" -> {
      // MATERIALIZED: each e_i is read 4× (degree union + two IN probes of
      // the next peel) — default per-reference inlining would expand the
      // whole LSH pipeline 4^8 times
      val peels = (0 until 8).map { i =>
        s"""d$i AS MATERIALIZED (SELECT v, count(*)::BIGINT AS c FROM (SELECT lo AS v FROM e$i UNION ALL SELECT hi AS v FROM e$i) GROUP BY v),
e${i + 1} AS MATERIALIZED (SELECT lo, hi FROM e$i WHERE lo IN (SELECT v FROM d$i WHERE c >= 2) AND hi IN (SELECT v FROM d$i WHERE c >= 2))"""
      }.mkString(",\n")
      s"""WITH $LshVerifiedCtes,
good AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.5),
e0 AS MATERIALIZED (SELECT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi FROM good WHERE id_a <> id_b),
$peels
SELECT v AS doc_id, count(*)::BIGINT AS core_degree
FROM (SELECT lo AS v FROM e8 UNION ALL SELECT hi AS v FROM e8) GROUP BY v ORDER BY doc_id"""
    },

    // q200: Newman r from HUGEINT stub moments over the same verified
    // 0.75 LSH graph, one pinned double ratio
    "q200_dup_assortativity" ->
      s"""WITH $LshVerifiedCtes,
good AS (SELECT id_a AS lo, id_b AS hi FROM verified WHERE est_jac >= 0.75),
deg AS (SELECT v, count(*)::BIGINT AS d FROM (SELECT lo AS v FROM good UNION ALL SELECT hi AS v FROM good) GROUP BY 1),
st AS (SELECT count(*)::BIGINT AS n_edges, sum(dl.d + dh.d)::BIGINT AS sx,
  sum(2::HUGEINT * dl.d::HUGEINT * dh.d::HUGEINT) AS sxy,
  sum(dl.d::HUGEINT * dl.d::HUGEINT + dh.d::HUGEINT * dh.d::HUGEINT) AS sxx
  FROM good JOIN deg dl ON good.lo = dl.v JOIN deg dh ON good.hi = dh.v),
nn AS (SELECT count(*)::BIGINT AS n_nodes FROM deg)
SELECT n_nodes, n_edges,
  CASE WHEN (2 * n_edges)::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0.0
    THEN floor(((2 * n_edges)::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sx::DOUBLE) / ((2 * n_edges)::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * 1000000.0)::BIGINT END AS r6
FROM nn, st""",

    // q201: q108's unrolled 3-iteration integer walk with the teleport
    // restricted to the seed indicator
    "q201_personalized_pagerank" ->
      s"""WITH $LshVerifiedCtes, prs AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.5),
edges AS (SELECT src, dst FROM (SELECT id_a AS src, id_b AS dst FROM prs UNION SELECT id_b, id_a FROM prs) WHERE src <> dst),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src AS id, deg, CASE WHEN src IN (0, 7) THEN 1 ELSE 0 END AS s, (CASE WHEN src IN (0, 7) THEN 1000000 ELSE 0 END)::BIGINT AS rank_u FROM deg),
c1 AS (SELECT e.dst, sum(r.rank_u // r.deg)::BIGINT AS m FROM edges e JOIN r0 r ON e.src = r.id GROUP BY e.dst),
r1 AS (SELECT r.id, r.deg, r.s, (r.s * 150000 + (85 * coalesce(m, 0)) // 100)::BIGINT AS rank_u FROM r0 r LEFT JOIN c1 ON r.id = c1.dst),
c2 AS (SELECT e.dst, sum(r.rank_u // r.deg)::BIGINT AS m FROM edges e JOIN r1 r ON e.src = r.id GROUP BY e.dst),
r2 AS (SELECT r.id, r.deg, r.s, (r.s * 150000 + (85 * coalesce(m, 0)) // 100)::BIGINT AS rank_u FROM r1 r LEFT JOIN c2 ON r.id = c2.dst),
c3 AS (SELECT e.dst, sum(r.rank_u // r.deg)::BIGINT AS m FROM edges e JOIN r2 r ON e.src = r.id GROUP BY e.dst),
r3 AS (SELECT r.id, r.deg, r.s, (r.s * 150000 + (85 * coalesce(m, 0)) // 100)::BIGINT AS rank_u FROM r2 r LEFT JOIN c3 ON r.id = c3.dst)
SELECT id AS doc_id, deg, rank_u FROM r3 WHERE rank_u > 0 ORDER BY rank_u DESC, doc_id LIMIT 20""",


    // q221: the q165 component/share CTEs gate which edges the recursive
    // bounded BFS may traverse; flagged members surface with NULL
    // centrality, everything else replays the UNION-dedup BFS + min
    // distance + micro-unit reciprocal sum
    "q221_harmonic_centrality" ->
      s"""WITH RECURSIVE $LshVerifiedCtes,
prs AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.75),
edges AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
creach AS (SELECT id, id AS r FROM nodes UNION SELECT e.dst AS id, creach.r AS r FROM creach JOIN edges e ON e.src = creach.id),
lab AS (SELECT id, min(r) AS cid FROM creach GROUP BY id),
sizes AS (SELECT cid, count(*)::BIGINT AS sz FROM lab GROUP BY cid),
tot AS (SELECT count(*)::BIGINT AS n FROM documents),
flg AS (SELECT lab.id, (CASE WHEN sz * 10000 > 1000 * n THEN 1 ELSE 0 END)::INT AS flagged FROM lab JOIN sizes ON sizes.cid = lab.cid, tot),
okedges AS (SELECT e.src, e.dst FROM edges e JOIN flg ON flg.id = e.src AND flg.flagged = 0),
reach AS (SELECT src AS u, dst AS v, 1 AS d FROM okedges
  UNION
  SELECT r.u, e.dst AS v, r.d + 1 FROM reach r JOIN okedges e ON e.src = r.v WHERE r.d < 3 AND e.dst <> r.u),
md AS (SELECT u, v, min(d)::BIGINT AS d FROM reach GROUP BY u, v),
hc AS (SELECT u AS id, (count(*) FILTER (d = 1))::BIGINT AS n_1hop, (count(*) FILTER (d > 1))::BIGINT AS n_far, sum(1000000 // d)::BIGINT AS h_micro FROM md GROUP BY u)
SELECT flg.id, hc.n_1hop, hc.n_far, hc.h_micro, flg.flagged FROM flg LEFT JOIN hc ON hc.id = flg.id ORDER BY flg.id""",


    // q239: same verified-pair graph, same wedge/anti-join candidates,
    // same micro-nat Adamic–Adar
    "q239_dup_linkpred" ->
      s"""WITH $LshVerifiedCtes,
prs AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.75),
edges AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs),
deg AS (SELECT src AS id, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
wedge AS (SELECT e1.src AS u, e2.dst AS v, e1.dst AS w FROM edges e1 JOIN edges e2 ON e1.dst = e2.src AND e1.src < e2.dst),
lp AS (SELECT wd.u, wd.v, count(*)::BIGINT AS cn,
  sum(CASE WHEN dw.deg >= 2 THEN 1000000000000 // floor(ln(dw.deg::DOUBLE) * 1000000.0)::BIGINT ELSE 0 END)::BIGINT AS aa6
  FROM wedge wd JOIN deg dw ON dw.id = wd.w
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = wd.u AND e.dst = wd.v)
  GROUP BY 1, 2)
SELECT c.u, c.v, c.cn, (c.cn * 10000 // (da.deg + db.deg - c.cn))::BIGINT AS jac4, c.aa6
FROM lp c JOIN deg da ON da.id = c.u JOIN deg db ON db.id = c.v
WHERE c.cn >= 2 ORDER BY c.u, c.v""",


    // q257: same 3 hand-chained vote rounds (each node's own label
    // UNION ALL'd in as the self-vote), same (count desc, label) argmax
    // via QUALIFY — SQL cannot loop, so the round count is the query
    // contract (as q255's merge rounds)
    "q257_label_communities" ->
      s"""WITH $LshVerifiedCtes,
prs AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.75),
edges AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b, id_a FROM prs),
l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges),
c1 AS (SELECT id, label, count(*)::BIGINT AS c FROM (SELECT e.dst AS id, l.label FROM edges e JOIN l0 l ON l.id = e.src UNION ALL SELECT id, label FROM l0) GROUP BY 1, 2),
l1 AS (SELECT id, label FROM c1 QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, label) = 1),
c2 AS (SELECT id, label, count(*)::BIGINT AS c FROM (SELECT e.dst AS id, l.label FROM edges e JOIN l1 l ON l.id = e.src UNION ALL SELECT id, label FROM l1) GROUP BY 1, 2),
l2 AS (SELECT id, label FROM c2 QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, label) = 1),
c3 AS (SELECT id, label, count(*)::BIGINT AS c FROM (SELECT e.dst AS id, l.label FROM edges e JOIN l2 l ON l.id = e.src UNION ALL SELECT id, label FROM l2) GROUP BY 1, 2),
l3 AS (SELECT id, label FROM c3 QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, label) = 1),
szs AS (SELECT label, count(*)::BIGINT AS sz FROM l3 GROUP BY 1)
SELECT sz AS community_size, count(*)::BIGINT AS n_communities, sum(sz)::BIGINT AS n_nodes
FROM szs GROUP BY 1 ORDER BY community_size""",
  )
}
