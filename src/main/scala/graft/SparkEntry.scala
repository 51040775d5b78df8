package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 re-expressed
  * Spark-first; [[oracleSql]] carries the DuckDB-equivalent ANSI SQL the
  * driver hash-compares against at sf0.01. Column names and ordering are
  * deliberately identical on both sides; float aggregates are rounded and
  * ties broken by key so hashes are stable (SURVEY.md §7.4.4).
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Floor-quantize to 4 decimals. Per-row deterministic doubles must NOT use
    * round(): Spark rounds via the shortest decimal repr, DuckDB in binary —
    * they diverge when the repr ends in "…5" at the cut. floor of the same
    * double is bit-stable on both engines (SURVEY.md §7.4.4).
    */
  private[graft] def fq4(c: Column): Column = floor(c * 10000.0) / 10000.0

  /** Query-term list shared by the BM25 (q66) and hybrid-RRF (q67) rankers
    * — mirrored literally in their oracle SQL.
    */
  private[graft] val Bm25Terms = Seq("join", "vector", "window", "stream")

  /** Fixed BPE merge list shared by q110 and its oracle. The list is
    * PATTERN-COLLISION-FREE by construction so the oracle can express the
    * greedy fold as a chain of non-overlapping string replaces over
    * US-delimited symbols: no merge's `l` is a proper suffix, and no `r` a
    * proper prefix, of any symbol coexisting when that merge applies (e.g.
    * (c,o) would be illegal once (o,n) created "on": `c␟on` must stay
    * [c, on], but the replace would eat `c␟o`). Training-produced lists
    * don't carry this guarantee — the trained path is spec-verified
    * against a plain-Scala reference instead (SpanBpeSpec).
    */
  private[graft] val BpeMerges = Seq(
    "t" -> "h", "th" -> "e", "a" -> "n", "i" -> "n", "o" -> "n",
    "an" -> "d", "r" -> "e")

  /** BM25 over the documents table for [[Bm25Terms]] — the library API is
    * [[graft.query.LexicalRetriever.bm25Scores]]; see its doc for the
    * scale shape and the cross-engine float policy.
    */
  private[graft] def bm25Scores(s: SparkSession, dir: String): DataFrame =
    graft.query.LexicalRetriever.bm25Scores(
      t(s, dir, "documents"), "doc_id", "text", Bm25Terms)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core retrieval shape (`QA_using_pinecone.py:31-50`):
    * metadata-filtered cosine top-k over the vector index joined back to
    * document text — filter pushed below the score, TakeOrderedAndProject
    * for the top-k, broadcast join for the k-row context assembly.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = t(spark, dir, "embeddings")
    val docs = t(spark, dir, "documents")
    val qv = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).toArray
    val topk = emb
      .filter($"label".isin(0, 1, 2, 3, 4))
      .select($"vec_id",
        fq4(VectorFunctions.cosineSim($"embedding", lit(qv))).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(5)
    topk.join(docs, topk("vec_id") === docs("doc_id"))
      .select($"vec_id", $"score", substring($"text", 1, 80).as("context"))
      .orderBy($"score".desc, $"vec_id")
  }

  // ---------------------------------------------------------------------
  // Operator queries (SURVEY.md §2). Names are stable driver-facing ids.
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.AnnQueries.queries ++
    graft.queries.CoreQueries.queries ++
    graft.queries.CrawlQueries.queries ++
    graft.queries.DedupQueries.queries ++
    graft.queries.EventQueries.queries ++
    graft.queries.GraphQueries.queries ++
    graft.queries.MultimodalQueries.queries ++
    graft.queries.PipelineQueries.queries ++
    graft.queries.StatsQueries.queries ++
    graft.queries.TextQueries.queries

  /** Drop staging relations a query pinned for its own execution (q56's
    * eagerly-cached `v_sql_bands`, the [[stagingDir]] directories). They
    * must outlive the RETURNED lazy DataFrame until the caller
    * materializes it — uncaching inside the query builder would silently
    * recompute the corpus scan per join side — so harnesses (Bench,
    * Verify) call this after each query's write instead; otherwise the
    * band relation rides executor memory into every subsequent query of
    * the pass. */
  def releaseStaging(s: SparkSession): Unit = {
    s.sql("UNCACHE TABLE IF EXISTS v_sql_bands")
    s.sql("DROP TABLE IF EXISTS sql_bands_stage")
    stagedDirs.synchronized(stagedDirs.remove(s)).getOrElse(Nil)
      .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  private val stagedDirs = scala.collection.mutable.Map.empty[SparkSession, List[String]]

  /** A fresh temp directory that [[releaseStaging]] deletes: for queries
    * whose returned lazy DataFrame still reads files they wrote (q210 /
    * q211 / q244's persisted ANN index, q277's stored SetSim index), so the
    * directory has to outlive the query builder but not the harness's
    * write.
    */
  private[graft] def stagingDir(s: SparkSession, prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    stagedDirs.synchronized(stagedDirs(s) = d :: stagedDirs.getOrElse(s, Nil))
    d
  }

  /** q176's body against any events relation — factored so [[ScaleProbe]]
    * measures exactly the shipped IVM refresh on a 10× event stream
    * (closed forms: counts and micro-sums scale by the copy factor while
    * the registers — a function of the distinct-user SET — are unchanged).
    * History is everything before `tcutNs` (default 2024-01-25 UTC), the
    * delta everything after; the refresh merges the two aggregates and
    * never rescans the union.
    */
  def incrementalDailyAgg(
      ev: DataFrame, tcutNs: Long = 1706140800000000000L): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val p = 6
    val hll = udaf(new graft.operators.HllAgg(p),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Int)]())
    def aggOf(df: DataFrame): DataFrame = df
      .select($"event_type", expr("ts div 86400000000000").as("day"),
        expr("cast(floor(value * 1000000) as bigint)").as("vu"),
        graft.functions.HashFunctions.stableHash64(
          concat(lit("ivm:"), $"user_id".cast("string"))).as("h"))
      .withColumn("bkt", graft.operators.HllSketch.bucketCol($"h", p))
      .withColumn("rnk", graft.operators.HllSketch.rankExpr("h", p))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"), sum($"vu").as("sum_value_u"),
        hll($"bkt", $"rnk").as("regs"))
    val merged = aggOf(ev.filter($"ts" < lit(tcutNs)))
      .unionByName(aggOf(ev.filter($"ts" >= lit(tcutNs))))
      .localCheckpoint(false) // scalar re-sum + register max both read it
    val scalars = merged.groupBy($"event_type", $"day")
      .agg(sum($"n").as("n"), sum($"sum_value_u").as("sum_value_u"))
    val regs = graft.operators.HllSketch.rollupRegisters(
      merged.select($"event_type", $"day", $"regs"),
      Seq("event_type", "day"), "regs")
    scalars.join(regs, Seq("event_type", "day"))
      .select($"event_type", $"day", $"n", $"sum_value_u",
        fq4(graft.operators.HllSketch.estimateExpr("regs", p)).as("users_est4"))
      .orderBy($"event_type", $"day")
  }

  /** q209/q213's shared pipeline: synthesize the deterministic PNG corpus
    * (REAL ImageIO encode), decode + perceptual-hash it
    * ([[graft.operators.Multimodal.perceptualHashes]]), band-bucket
    * candidates (the SimHash shape), and return exact hamming distances
    * per candidate pair — callers apply their own threshold.
    */
  def imagePhashPairs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the q90 lesson: per-row codec work (PNG encode+decode) is
    // compute-bound, and a small parquet arrives as ONE partition AQE
    // never splits — spread it BEFORE the mapPartitions (explicit-N
    // overload: plain repartition(col) is AQE-coalescible)
    val imgs = graft.operators.Multimodal
      .synthImageCorpus(graft.operators.Tuning.spreadDocs(docs), "doc_id", groupDiv = 4L)
    val hashed = graft.operators.Multimodal.perceptualHashes(imgs, "img")
      .select($"doc_id", $"a0", $"a1", $"a2", $"a3",
        $"d0", $"d1", $"d2", $"d3")
      .localCheckpoint(false) // banding + both verify sides read it
    val bands = hashed.select($"doc_id",
      posexplode(array($"a0", $"a1", $"a2", $"a3")).as(Seq("b", "v")))
    val cand = bands.as("x").join(bands.as("y"),
        $"x.b" === $"y.b" && $"x.v" === $"y.v" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b")).distinct()
    val ha = hashed.toDF("id_a", "xa0", "xa1", "xa2", "xa3",
      "xd0", "xd1", "xd2", "xd3")
    val hb = hashed.toDF("id_b", "ya0", "ya1", "ya2", "ya3",
      "yd0", "yd1", "yd2", "yd3")
    cand.join(ha, "id_a").join(hb, "id_b")
      .select($"id_a", $"id_b",
        expr("bit_count(xa0 ^ ya0) + bit_count(xa1 ^ ya1)" +
          " + bit_count(xa2 ^ ya2) + bit_count(xa3 ^ ya3)")
          .cast("long").as("ham_a"),
        expr("bit_count(xd0 ^ yd0) + bit_count(xd1 ^ yd1)" +
          " + bit_count(xd2 ^ yd2) + bit_count(xd3 ^ yd3)")
          .cast("long").as("ham_d"))
  }

  /** q192's body against any events relation — factored so [[ScaleProbe]]
    * measures exactly the shipped sweep-line on a 10× user population
    * (closed form under exact copies with disjoint user ids: every
    * endpoint multiset scales by the copy factor, so per-bucket peaks and
    * start/end counts all scale by exactly c).
    */
  def peakConcurrency(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val sess = graft.operators.Sessionize.assignSessions(
        ev.select($"user_id", $"ts", $"event_id"),
        "user_id", "ts", "event_id", gap = 21600000000000L)
      .groupBy($"user_id", $"session_seq")
      .agg(min($"ts").as("st"), max($"ts").as("en"))
    graft.operators.SweepLine.peakPerBucket(sess, "st", "en",
        bucketWidth = 86400000000000L)
      .orderBy($"bucket")
  }

  /** q193's body against any documents relation — factored so [[ScaleProbe]]
    * runs exactly the shipped strip on a 10× corpus (closed form under
    * exact copies with fresh doc ids: df and n_docs_src both scale by c so
    * the template SET is invariant — requiring every source to hold ≥ 101
    * docs so the 1% ratio, not the minDocs floor, is binding at both
    * scales — while affected docs, instances, and tokens scale by c).
    */
  def boilerplateStrip(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pars = docs
      .select($"doc_id", $"source",
        graft.operators.TextAnalysis.tokensCol($"text").as("tk"))
      .filter(size($"tk") > 0)
      .select($"doc_id", $"source", explode(transform(
        sequence(lit(0), ((size($"tk") + 2) / 3).cast("int") - 1),
        i => array_join(slice($"tk", i * 3 + 1, lit(3)), " "))).as("p"))
      .withColumn("n_tok", size(split($"p", " ")).cast("long"))
    graft.operators.Boilerplate.stripSummary(pars, "doc_id", "source",
        "p", "n_tok", minFrac = 0.01, minDocs = 2L)
      .orderBy($"source")
  }

  /** q198's body against any documents relation — factored so the spec
    * can check the grid decomposition against a brute-force KS reference
    * on engineered corpora. See the q198 entry for the scale argument.
    */
  def ksDrift(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cnt = docs
      .select($"source", $"n_chars".as("v"))
      .groupBy($"source", $"v").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // sizes, value cums, and the grid read it
    val ns = cnt.groupBy($"source").agg(sum($"c").as("n1"))
    val tot = broadcast(cnt.agg(sum($"c").as("n")))
    val gcum = cnt.groupBy($"v").agg(sum($"c").as("cv"))
      .withColumn("call", sum($"cv").over(Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val grid = ns.crossJoin(cnt.select($"v").distinct())
    grid.join(cnt, Seq("source", "v"), "left").na.fill(0L, Seq("c"))
      .withColumn("c1", sum($"c").over(Window.partitionBy($"source")
        .orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(gcum.select($"v", $"call"), Seq("v"))
      .crossJoin(tot)
      .withColumn("num",
        abs($"c1" * ($"n" - $"n1") - ($"call" - $"c1") * $"n1"))
      .groupBy($"source", $"n1", $"n")
      .agg(max($"num").as("maxnum"))
      .select($"source", $"n1".as("n_docs"),
        expr("(maxnum * 10000) div (n1 * (n - n1))").as("d4"),
        (expr("(maxnum * 10000) div (n1 * (n - n1))") >
          floor(lit(1.358) * sqrt($"n".cast("double")
            / ($"n1".cast("double") * ($"n" - $"n1").cast("double")))
            * 10000.0).cast("long")).cast("int").as("flagged"))
      .orderBy($"source")
  }

  /** q143's body against any embeddings relation — factored out so
    * [[ScaleProbe]] measures exactly the shipped shape on a 10× corpus.
    * Cell-restricted mutual-kNN + label purity: the cell count is
    * data-driven (k = 0 → [[graft.operators.IvfIndex.autoK]], one count
    * action), so cell interiors stay ~[[graft.operators.IvfIndex.DefaultTargetCellSize]]
    * vectors and the within-cell pair space is O(n · cellSize) — linear in
    * the corpus — at any scale.
    */
  def knnClusterPurity(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents = graft.operators.IvfIndex.centroids(emb, k = 0, iters = 0)
    val cells = graft.operators.IvfIndex.assign(emb, cents, "vec_id", "embedding")
      .localCheckpoint(false) // assignment scan feeds both pair-join sides
    // Salt the pair join: centroid_id alone has only k distinct values,
    // so the scoring stage would run k tasks no matter the cluster size.
    // Splitting the probe side by hash(src) and replicating the build
    // side per salt yields the SAME pair set over k×8 evenly-sized
    // tasks (the build side is cell-local, so replication is cheap).
    val a = cells.select($"centroid_id", $"vec_id".as("src"), $"embedding".as("va"))
      .withColumn("__slt", pmod(xxhash64($"src"), lit(8)))
    val b = cells.select($"centroid_id", $"vec_id".as("dst"), $"embedding".as("vb"))
      .crossJoin(s.range(8).toDF("__slt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"src").orderBy($"cos4".desc, $"dst")
    val top = a.join(b, Seq("centroid_id", "__slt")).filter($"src" =!= $"dst")
      .select($"src", $"dst",
        floor(graft.functions.VectorFunctions.cosineSim($"va", $"vb")
          * lit(10000.0)).cast("long").as("cos4"))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .select($"src", $"dst")
      .localCheckpoint(false) // k-sized lists; mutuality joins it to itself
    val mutual = top
      .join(top.select($"dst".as("src"), $"src".as("dst")), Seq("src", "dst"))
      .filter($"src" < $"dst")
      .select($"src".as("id_a"), $"dst".as("id_b"))
    val labels = graft.operators.Dedup.resolveClustersSparse(mutual, emb.select($"vec_id"))
    labels
      .join(emb.select($"vec_id".as("id"), $"label".cast("long").as("label")), Seq("id"))
      .groupBy($"keeper_id", $"label").agg(count(lit(1)).as("cnt"))
      .groupBy($"keeper_id")
      .agg(sum($"cnt").as("n_vecs"),
        max(struct($"cnt".as("c"), (lit(0L) - $"label").as("nl"))).as("m"))
      .select($"keeper_id".as("cluster_id"), $"n_vecs",
        (lit(0L) - $"m.nl").as("top_label"), $"m.c".as("n_top"))
      .withColumn("purity4", expr("(n_top * 10000) div n_vecs") / lit(10000.0))
      .orderBy($"cluster_id")
  }

  /** The band-relation body shared by both staging variants: MinHash
    * signature at the scan, 4 banded hashes per doc via md5/conv (the same
    * stableHash64 formula the DataFrame path compiles). */
  private[graft] val sqlBandsBody: String = sqlBandsBodyN(0)

  /** [[sqlBandsBody]] with the signature scan spread over `n` partitions
    * (`n <= 0` leaves the scan's own layout): the per-shingle md5 pass is
    * compute-bound and a one-split corpus otherwise runs it in a single
    * task — the q90 lesson expressed as the REPARTITION hint, still plain
    * SQL a SQL-only user can type. Values are identical at any `n`.
    */
  private[graft] def sqlBandsBodyN(n: Int): String = {
    val hint = if (n > 0) s"/*+ REPARTITION($n, doc_id) */ " else ""
    s"""SELECT doc_id, mh, b,
      |       cast(conv(substring(md5(concat_ws(',',
      |         transform(slice(mh, b*2 + 1, 2), x -> cast(x AS string)))), 1, 15), 16, 10) AS bigint) AS h
      |FROM (SELECT doc_id, minhash_sig(text, 8, 4) AS mh
      |      FROM (SELECT $hint doc_id, text FROM v_documents) spread) sig
      |LATERAL VIEW explode(sequence(0, 3)) t AS b""".stripMargin
  }

  /** The q56 SQL-text dedup pipeline against an existing `v_documents` temp
    * view — factored out so [[ScaleProbe]] measures exactly the shipped
    * statements. The band relation must be staged so the corpus scan +
    * MinHash pass runs ONCE (Spark inlines WITH-CTEs into every consumer,
    * so a single-statement form would compute signatures once per self-join
    * side). Staging is ADAPTIVE, governed by `spark.graft.sqlDedup.staging`:
    *
    *  - `cache` — eagerly-cached temp view. Wins interactively at bench
    *    scale (no disk round-trip), but ScaleProbe measured it LOSING at
    *    10× (61-72 s vs 34-51 s): the in-memory row cache feeds both join
    *    sides where the CTAS variant's self-join probes compressed
    *    columnar parquet scans.
    *  - `table` — parquet CTAS (`sql_bands_stage`). The 100 TB deployment
    *    shape: the band relation lands columnar-compressed on storage the
    *    executors scan independently, nothing pins executor memory across
    *    the join. Still plain SQL a SQL-only user can type.
    *  - `auto` (default) — CTAS once the source relation's estimated size
    *    crosses `spark.graft.sqlDedup.autoTableBytes` (default 4 MiB —
    *    between the bench corpus where cache measured faster and the 10×
    *    probe corpus where CTAS did; any production corpus is far above).
    *
    * Both variants produce bit-identical output (same band SQL, same
    * verify statement — only the staging relation differs), so the oracle
    * is staging-blind. The cache-variant view body deliberately uses an
    * inline subquery, not a WITH-CTE: a CTE gets a fresh id each time the
    * view is expanded, which defeats the cache manager's
    * canonicalized-plan match and silently recomputes.
    */
  def sqlDedupPipeline(s: SparkSession): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    releaseStaging(s) // clean slate per run
    val useTable = s.conf.get("spark.graft.sqlDedup.staging", "auto") match {
      case "table" => true
      case "cache" => false
      case _ => // auto: file-stats estimate of the scan feeding the bands
        val threshold =
          s.conf.get("spark.graft.sqlDedup.autoTableBytes", (4L << 20).toString).toLong
        s.table("v_documents").queryExecution.optimizedPlan.stats.sizeInBytes > threshold
    }
    val body = sqlBandsBodyN(s.sparkContext.defaultParallelism)
    val stage =
      if (useTable) {
        s.sql(s"CREATE TABLE sql_bands_stage USING parquet AS\n$body")
        "sql_bands_stage"
      } else {
        s.sql(s"CREATE OR REPLACE TEMP VIEW v_sql_bands AS\n$body")
        s.sql("CACHE TABLE v_sql_bands") // eager: ONE corpus scan, ONE minhash pass
        "v_sql_bands"
      }
    s.sql(
      s"""WITH ver AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |         round(sig_jaccard(a.mh, c.mh), 4) AS est_jac
        |  FROM $stage a JOIN $stage c
        |    ON a.b = c.b AND a.h = c.h AND a.doc_id < c.doc_id
        |)
        |SELECT DISTINCT id_a, id_b, est_jac FROM ver
        |WHERE est_jac >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)
  }

  // ---------------------------------------------------------------------
  // Oracle building blocks for the sequential packers (C1-C4): DuckDB
  // recursive CTEs replay the greedy folds line-by-line with the same
  // tokenizer regex, so the distributed flatMapGroups output is
  // independently verified — not just spec-covered (pipeline1.py:75-104,
  // 190-253 semantics; quirks documented in ChunkPacker).
  // ---------------------------------------------------------------------

  private[graft] val Tok = """\w+|[^\w\s]""" // TextFunctions.TokenRegex, RE2-safe
  private[graft] val Lim = 200

  /** Pass-1/pass-2 greedy line packer (C1+C2) as a recursive CTE; `select`
    * is applied over rows (form, i [1-based chunk index within its pass],
    * chunks [the pass's chunk list]).
    */
  private[graft] def pypdfPackerSql(select: String): String =
    raw"""WITH RECURSIVE
rawlines AS (
  SELECT source AS form, doc_id, unnest(range(1, len(l)+1)) AS li, l
  FROM (SELECT source, doc_id, string_split(text, chr(10)) AS l FROM documents)),
lines AS (
  SELECT form, row_number() OVER (PARTITION BY form ORDER BY doc_id, li) AS idx, line
  FROM (SELECT form, doc_id, li, trim(l[li]) AS line FROM rawlines)
  WHERE line != ''),
formn AS (SELECT form, max(idx) AS n FROM lines GROUP BY form),
pack1 AS (
  SELECT form, 0::BIGINT AS idx, '' AS buffer,
         CAST([] AS VARCHAR[]) AS chunks, CAST([] AS VARCHAR[]) AS oversized, n
  FROM formn
  UNION ALL
  SELECT s.form, s.idx + 1,
    CASE WHEN len(regexp_extract_all(l.line, '$Tok')) > $Lim THEN ''
         WHEN len(regexp_extract_all(s.buffer || l.line, '$Tok')) < $Lim
           THEN s.buffer || chr(10) || l.line
         ELSE l.line END,
    CASE WHEN len(regexp_extract_all(l.line, '$Tok')) > $Lim
           THEN (CASE WHEN s.buffer != '' THEN list_append(s.chunks, s.buffer) ELSE s.chunks END)
         WHEN len(regexp_extract_all(s.buffer || l.line, '$Tok')) < $Lim THEN s.chunks
         ELSE list_append(s.chunks, s.buffer) END,
    CASE WHEN len(regexp_extract_all(l.line, '$Tok')) > $Lim
           THEN list_append(s.oversized, l.line) ELSE s.oversized END,
    s.n
  FROM pack1 s JOIN lines l ON l.form = s.form AND l.idx = s.idx + 1
  WHERE s.idx < s.n),
final1 AS (
  SELECT form,
    CASE WHEN buffer != '' THEN list_append(chunks, buffer) ELSE chunks END AS chunks,
    oversized
  FROM pack1 WHERE idx = n),
words AS (
  SELECT form, row_number() OVER (PARTITION BY form ORDER BY oi, wi) AS idx, w AS line
  FROM (
    SELECT form, oi, unnest(range(1, len(ws)+1)) AS wi, ws
    FROM (
      SELECT form, unnest(range(1, len(oversized)+1)) AS oi, oversized
      FROM final1 WHERE len(oversized) > 0
    ), LATERAL (SELECT list_filter(string_split_regex(trim(oversized[oi]), '\s+'), x -> x != '') AS ws)
  ), LATERAL (SELECT ws[wi] AS w)
  WHERE w IS NOT NULL),
wordn AS (SELECT form, max(idx) AS n FROM words GROUP BY form),
pack2 AS (
  SELECT form, 0::BIGINT AS idx, '' AS buffer, CAST([] AS VARCHAR[]) AS chunks, n
  FROM wordn
  UNION ALL
  SELECT s.form, s.idx + 1,
    CASE WHEN len(regexp_extract_all(l.line, '$Tok')) > $Lim THEN ''
         WHEN len(regexp_extract_all(s.buffer || l.line, '$Tok')) < $Lim
           THEN s.buffer || ' ' || l.line
         ELSE l.line END,
    CASE WHEN len(regexp_extract_all(l.line, '$Tok')) > $Lim
           THEN (CASE WHEN s.buffer != '' THEN list_append(s.chunks, s.buffer) ELSE s.chunks END)
         WHEN len(regexp_extract_all(s.buffer || l.line, '$Tok')) < $Lim THEN s.chunks
         ELSE list_append(s.chunks, s.buffer) END,
    s.n
  FROM pack2 s JOIN words l ON l.form = s.form AND l.idx = s.idx + 1
  WHERE s.idx < s.n),
final2 AS (
  SELECT form,
    CASE WHEN buffer != '' THEN list_append(chunks, buffer) ELSE chunks END AS chunks
  FROM pack2 WHERE idx = n),
allchunks AS (
  SELECT form, unnest(range(1, len(chunks)+1)) AS i, chunks FROM final1
  UNION ALL
  SELECT form, unnest(range(1, len(chunks)+1)) AS i, chunks FROM final2)
$select"""

  /** Nougat path (C3+C4) as recursive CTEs: scrub → paragraphs → window
    * state-machine sections → greedy section packer (buffer tokens recomputed
    * from the buffer each step, as the reference does) → oversized-section
    * splitter with heading carried separator-free; ids are global per form.
    */
  private[graft] val nougatPackerSql: String =
    raw"""WITH RECURSIVE
formtext AS (
  SELECT source AS form, string_agg(text, chr(10) ORDER BY doc_id) AS txt
  FROM documents GROUP BY source),
paras0 AS (
  SELECT form, unnest(range(1, len(l)+1)) AS li, l
  FROM (SELECT form, string_split(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(txt, '\\begin\{tabular\}.*?\n', chr(10), 'g'), '\\end\{tabular\}.*?\n', chr(10), 'g'), '\\begin\{table\}.*?\n', chr(10), 'g'), '\\end\{table\}.*?\n', chr(10), 'g'), '(?s)\+\+\+(.*?)\+\+\+', chr(10), 'g'), chr(10)) AS l FROM formtext)),
paras AS (
  SELECT form, row_number() OVER (PARTITION BY form ORDER BY li) AS idx, p,
         starts_with(p, '#') AS ish
  FROM (SELECT form, li, l[li] AS p FROM paras0)
  WHERE p != ''),
sectioned AS (
  SELECT form, idx, p,
    sum(CASE WHEN ish OR NOT seen_before THEN 1 ELSE 0 END)
      OVER (PARTITION BY form ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS section
  FROM (
    SELECT form, idx, p, ish,
      coalesce(max(CASE WHEN ish THEN 1 ELSE 0 END)
        OVER (PARTITION BY form ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1 AS seen_before
    FROM paras)),
sections AS (
  SELECT form, row_number() OVER (PARTITION BY form ORDER BY section) AS idx,
         sec, len(regexp_extract_all(sec, '$Tok')) AS stok
  FROM (SELECT form, section, string_agg(p, chr(10) ORDER BY idx) AS sec
        FROM sectioned GROUP BY form, section)),
secn AS (SELECT form, max(idx) AS n FROM sections GROUP BY form),
pack AS (
  SELECT form, 0::BIGINT AS idx, '' AS buffer,
         CAST([] AS VARCHAR[]) AS chunks, CAST([] AS VARCHAR[]) AS oversized, n
  FROM secn
  UNION ALL
  SELECT s.form, s.idx + 1,
    CASE WHEN l.stok > $Lim THEN ''
         WHEN l.stok + len(regexp_extract_all(s.buffer, '$Tok')) < $Lim
           THEN s.buffer || chr(10) || l.sec
         ELSE l.sec END,
    CASE WHEN l.stok > $Lim
           THEN (CASE WHEN s.buffer != '' THEN list_append(s.chunks, s.buffer) ELSE s.chunks END)
         WHEN l.stok + len(regexp_extract_all(s.buffer, '$Tok')) < $Lim THEN s.chunks
         ELSE list_append(s.chunks, s.buffer) END,
    CASE WHEN l.stok > $Lim THEN list_append(s.oversized, l.sec) ELSE s.oversized END,
    s.n
  FROM pack s JOIN sections l ON l.form = s.form AND l.idx = s.idx + 1
  WHERE s.idx < s.n),
packed AS (
  SELECT form,
    CASE WHEN buffer != '' THEN list_append(chunks, buffer) ELSE chunks END AS chunks,
    oversized
  FROM pack WHERE idx = n),
osent0 AS (
  SELECT form, oi, unnest(range(1, len(ls)+1)) AS si, ls
  FROM (
    SELECT form, unnest(range(1, len(oversized)+1)) AS oi, oversized
    FROM packed WHERE len(oversized) > 0
  ), LATERAL (SELECT string_split(oversized[oi], chr(10)) AS ls)),
osent AS (
  SELECT form, oi, row_number() OVER (PARTITION BY form, oi ORDER BY si) AS idx, sent
  FROM (SELECT form, oi, si, trim(ls[si]) AS sent FROM osent0)
  WHERE sent != ''),
ohead AS (
  SELECT form, oi,
    CASE WHEN max(CASE WHEN idx = 1 THEN starts_with(sent, '#') END) THEN
      max(CASE WHEN idx = 1 THEN sent END) ELSE '' END AS heading
  FROM osent GROUP BY form, oi),
obody AS (
  SELECT s.form, s.oi,
    row_number() OVER (PARTITION BY s.form, s.oi ORDER BY s.idx) AS idx, s.sent,
    len(regexp_extract_all(s.sent, '$Tok')) AS t
  FROM osent s JOIN ohead h ON s.form = h.form AND s.oi = h.oi
  WHERE NOT (h.heading != '' AND s.idx = 1)),
obodyn AS (
  SELECT h.form, h.oi, h.heading, coalesce(b.n, 0) AS n
  FROM ohead h LEFT JOIN (SELECT form, oi, max(idx) AS n FROM obody GROUP BY form, oi) b
    ON b.form = h.form AND b.oi = h.oi),
osplit AS (
  SELECT form, oi, 0::BIGINT AS idx, heading AS buffer,
         CAST([] AS VARCHAR[]) AS chunks, heading, n
  FROM obodyn
  UNION ALL
  SELECT s.form, s.oi, s.idx + 1,
    CASE WHEN l.t + (CASE WHEN s.idx = 0 THEN 0
                          ELSE len(regexp_extract_all(s.buffer, '$Tok')) END) < $Lim
           THEN s.buffer || chr(10) || l.sent
         ELSE s.heading || l.sent END,
    CASE WHEN l.t + (CASE WHEN s.idx = 0 THEN 0
                          ELSE len(regexp_extract_all(s.buffer, '$Tok')) END) < $Lim
           THEN s.chunks
         ELSE list_append(s.chunks, s.buffer) END,
    s.heading, s.n
  FROM osplit s JOIN obody l ON l.form = s.form AND l.oi = s.oi AND l.idx = s.idx + 1
  WHERE s.idx < s.n),
splits AS (
  SELECT form, oi,
    CASE WHEN buffer != '' THEN list_append(chunks, buffer) ELSE chunks END AS chunks
  FROM osplit WHERE idx = n),
allrows AS (
  SELECT form, c, row_number() OVER (PARTITION BY form ORDER BY pass, oi, i) - 1 AS cid
  FROM (
    SELECT form, 0 AS pass, 0::BIGINT AS oi, i, chunks[i] AS c
    FROM (SELECT form, unnest(range(1, len(chunks)+1)) AS i, chunks FROM packed)
    UNION ALL
    SELECT form, 1 AS pass, oi, i, chunks[i] AS c
    FROM (SELECT form, oi, unnest(range(1, len(chunks)+1)) AS i, chunks FROM splits)
  ))
SELECT c AS Content,
       len(regexp_extract_all(c, '$Tok'))::INT AS TokenCount,
       form AS FormName,
       form || '_' || cid::VARCHAR AS ChunkId
FROM allrows"""

  /** MinHash-LSH candidate + verify CTEs shared by q39/q56 (pair list), q53
    * (cluster resolution), and q57 (mid-range windows): 8-hash signatures
    * over 4-char shingles, 4 bands of 2 rows, within-bucket candidates,
    * estimated Jaccard. `src` is any relation with (doc_id, text).
    */
  private[graft] def lshVerifiedCtes(src: String): String =
    s"""sig AS (SELECT doc_id, list_transform(range(0,8), j -> list_min(list_transform(shash, h -> (h * ((1000003*(j+1)) % 2147483647) + (12345 + 7919*j)) % 2147483647))) AS mh FROM (SELECT doc_id, list_transform(CASE WHEN length(text) < 4 THEN [text] ELSE list_transform(range(1, length(text)-2), i -> substr(text, i, 4)) END, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS shash FROM $src)), bands AS (SELECT doc_id, b, ('0x' || substr(md5(mh[2*b+1]::VARCHAR || ',' || mh[2*b+2]::VARCHAR), 1, 15))::BIGINT AS h FROM sig, (SELECT unnest(range(0,4)) AS b)), cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b FROM bands a JOIN bands c ON a.b = c.b AND a.h = c.h AND a.doc_id < c.doc_id), verified AS (SELECT id_a, id_b, round(len(list_filter(range(0,8), i -> sa.mh[i+1] = sb.mh[i+1]))::DOUBLE / 8.0, 4) AS est_jac FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)"""

  private[graft] val LshVerifiedCtes: String = lshVerifiedCtes("documents")

  /** Six chained BPE merge rounds over the documents word table — the
    * DuckDB replay of [[graft.operators.BpeTokenizer.train]] for
    * q255/q256. Each symbol travels wrapped as chr(2)‖sym‖chr(3), so
    * applying merge (l, r) is ONE left-to-right non-overlapping string
    * replace of ⟨l⟩⟨r⟩ → ⟨lr⟩ — exactly greedy leftmost reference BPE
    * (the ⟩⟨ between wrapped symbols is consumed with the match, so
    * `a a a` + (a,a) → `aa a`, and a pair can never match inside a
    * longer symbol). Rounds are hand-chained because SQL cannot loop;
    * 6 rounds is the query contract. Ties break (cnt DESC, l, r) on
    * both engines (binary collation both sides; sf corpus is ASCII).
    */
  private[graft] val BpeTrainCtes: String = {
    val head = Seq(
      raw"""wf AS (SELECT w, count(*)::BIGINT AS c FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents) GROUP BY w)""",
      raw"""s0 AS (SELECT regexp_replace(w, '(.)', chr(2) || '\1' || chr(3), 'g') AS s, c FROM wf)""")
    val rounds = (1 to 6).flatMap { i =>
      Seq(
        s"""y$i AS (SELECT string_split(substr(s, 2, length(s) - 2), chr(3) || chr(2)) AS syms, c FROM s${i - 1})""",
        s"""p$i AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(c)::BIGINT AS cnt FROM (SELECT syms, c, unnest(range(1, len(syms))) AS i FROM y$i WHERE len(syms) >= 2) GROUP BY 1, 2)""",
        s"""b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1)""",
        s"""s$i AS (SELECT replace(s, chr(2) || b.l || chr(3) || chr(2) || b.r || chr(3), chr(2) || b.l || b.r || chr(3)) AS s, c FROM s${i - 1}, b$i b)""")
    }
    (head ++ rounds).mkString(",\n")
  }

  /** Sign-LSH bucket id of `vec` (4 planes × 64 dims) — q31's formula. */
  private[graft] def bucketSql(vec: String): String =
    s"""list_sum(list_transform(range(0,4), p -> CASE WHEN list_sum(list_transform(range(0,64), i -> $vec[i+1]::DOUBLE * ((('0x' || substr(md5('plane:' || p::VARCHAR || ':' || i::VARCHAR),1,15))::BIGINT % 2001) - 1000) / 1000.0)) > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT"""

  /** Question vector CTEs reproducing DeterministicEmbedder(64).embedOne:
    * component i = ((stable60(md5("i:text")) % 2001) - 1000)/1000, then
    * L2-normalize and round-trip through FLOAT — bit-identical to the
    * engine's float literal (`Embedder.scala:24-31`).
    */
  private[graft] def questionVecCte(question: String): String =
    s"""raw AS (SELECT list_transform(range(0,64), i -> ((('0x' || substr(md5(i::VARCHAR || ':$question'), 1, 15))::BIGINT % 2001) - 1000) / 1000.0) AS r),
qv AS (SELECT list_transform(r, x -> (x / n)::FLOAT::DOUBLE) AS v FROM (SELECT r, sqrt(list_sum(list_transform(r, x -> x*x))) AS n FROM raw))"""

  /** DuckDB oracle equivalents, same column names/order keys. */
  def oracleSql: Map[String, String] =
    graft.queries.AnnQueries.oracleSql ++
    graft.queries.CoreQueries.oracleSql ++
    graft.queries.CrawlQueries.oracleSql ++
    graft.queries.DedupQueries.oracleSql ++
    graft.queries.EventQueries.oracleSql ++
    graft.queries.GraphQueries.oracleSql ++
    graft.queries.MultimodalQueries.oracleSql ++
    graft.queries.PipelineQueries.oracleSql ++
    graft.queries.StatsQueries.oracleSql ++
    graft.queries.TextQueries.oracleSql
}
