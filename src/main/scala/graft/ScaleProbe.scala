package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-shot 10× scale probe for the three dedup pipelines: the documents
  * table from `SPARK_GRAFT_SF_DIR` (default sf0.1) is unioned `copies`
  * times with disjoint id ranges as EXACT copies — per-copy text
  * perturbation was tried and rejected (see the inline comment below and
  * COVERAGE.md: a shared tag dominates the shortest docs' shingle sets and
  * manufactures spurious corpus-wide clusters), and exact copies make the
  * expected pair count closed-form checkable — then the q39 (DataFrame
  * LSH), q56 (SQL-text staged pipeline) and q57 (mid-range windows + label
  * propagation) shapes run once each on the scaled corpus. Prints one JSON
  * line of wall-times + output rows.
  *
  * Not a driver gate — direct evidence (recorded in COVERAGE.md) that the
  * bucketed one-shuffle plans hold an order of magnitude past bench scale:
  * the candidate structure stays (band, hash)-bucketed, never all-pairs, so
  * runtime should scale near-linearly in corpus size plus the genuine
  * quadratic term inside duplicate buckets (10 clones per doc → ~45 clone
  * pairs per bucket group — real dedup output, not plan overhead).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val offset = 10000000L
    // a fresh session's in-memory catalog has no tables, so DROP TABLE can't
    // clear a previous run's managed-table directory — remove the location
    // itself or CTAS fails with LOCATION_ALREADY_EXISTS
    val warehouse = java.nio.file.Paths.get("/tmp/graft_probe_warehouse")
    if (java.nio.file.Files.exists(warehouse)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(warehouse).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_probe_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    // EXACT copies, ids offset: the scaled corpus preserves the base corpus's
    // similarity structure exactly (each 1× pair → copies² pairs, each doc →
    // C(copies,2) clone pairs). Text perturbation was tried and rejected —
    // any appended tag dominates the shingle set of the corpus's shortest
    // documents and manufactures corpus-wide spurious clusters (measured
    // 138M pairs with a shared per-copy suffix, 70M with per-row id tags,
    // vs ~1M real ones)
    val scaled = (0 until copies).map { i =>
      base.select(($"doc_id" + lit(i * offset)).as("doc_id"), $"text")
    }.reduce(_ unionByName _)
    val nDocs = scaled.count()

    def timed(name: String)(df: => DataFrame): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val d = df
      d.write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      (name, secs, d.count()) // rows counted untimed, after the measured run
    }

    val q39 = timed("q39_neardup_lsh_10x") {
      graft.operators.Dedup.nearDupPairs(
        scaled, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
    }
    // the SHIPPED pipeline: auto staging must pick parquet-CTAS here (the
    // 10× corpus is far above spark.graft.sqlDedup.autoTableBytes) — the
    // probe asserts the choice so a threshold regression can't silently
    // put the degrading cache variant back on the 100 TB path
    val q56 = timed("q56_sql_dedup_10x") {
      scaled.createOrReplaceTempView("v_documents")
      SparkEntry.sqlDedupPipeline(spark)
    }
    val overAutoBar = scaled.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(spark.conf.get("spark.graft.sqlDedup.autoTableBytes", (4L << 20).toString).toLong)
    require(spark.catalog.tableExists("sql_bands_stage") == overAutoBar,
      s"auto staging picked ${if (overAutoBar) "cache" else "parquet-CTAS"} " +
        s"on the ${if (overAutoBar) "over" else "under"}-threshold probe corpus")
    SparkEntry.releaseStaging(spark)
    // the losing variant, kept for the measured contrast: an unreachable
    // threshold forces the in-memory cache staging the shipped query uses
    // at interactive scale
    val q56c = timed("q56_sql_dedup_cachestage_10x") {
      spark.conf.set("spark.graft.sqlDedup.autoTableBytes", Long.MaxValue.toString)
      scaled.createOrReplaceTempView("v_documents")
      SparkEntry.sqlDedupPipeline(spark)
    }
    spark.conf.unset("spark.graft.sqlDedup.autoTableBytes")
    // drop the cache probe's band relation so the next probes measure
    // their own memory footprint, not q56's leftover cache
    SparkEntry.releaseStaging(spark)

    val q57 = timed("q57_dedup_midrange_10x") {
      // q57's shape on each copy's first 200 docs (2000 docs of windows)
      val win = scaled
        .filter($"doc_id" % offset < 200)
        .withColumn("stride", greatest(lit(1L), floor(length($"text") / lit(8.0))))
        .withColumn("wlen", greatest(lit(4L), floor(length($"text") / lit(2.0))))
        .select(($"doc_id" * 3).as("base"), $"text", $"stride", $"wlen",
          explode(sequence(lit(0L), lit(2L))).as("w"))
        .select(($"base" + $"w").as("win_id"),
          $"text".substr(($"w" * $"stride" + 1).cast("int"), $"wlen".cast("int")).as("wtext"))
      val pairs = graft.operators.Dedup.nearDupPairs(
          win, "win_id", "wtext",
          numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
        .filter($"est_jac" < 1.0)
      graft.operators.Dedup.resolveClusters(pairs, win.select($"win_id"))
        .select($"id".as("win_id"), $"keeper_id")
    }

    // q68's shape: the content-keyed first-occurrence window over the 10×
    // segment stream (~10× the segments, same distinct set — every clone
    // copy's segments lose to the offset-0 copy), then the doc-keyed
    // rebuild. Probes the one shape the dedup trio doesn't: a corpus-sized
    // window shuffle keyed by content.
    val q68s = timed("q68_paragraph_dedup_10x") {
      val pars = scaled
        .select($"doc_id", graft.operators.TextAnalysis.tokensCol($"text").as("tk"))
        .filter(size($"tk") > 0)
        .select($"doc_id", posexplode(transform(
          sequence(lit(0), ((size($"tk") + 2) / 3).cast("int") - 1),
          i => array_join(slice($"tk", i * 3 + 1, lit(3)), " "))))
        .select($"doc_id", ($"pos" + 1).as("idx"), $"col".as("p"))
      graft.operators.ParagraphDedup.dedupSummary(pars, "doc_id", "idx", "p")
    }

    // q78's shape: incremental dedup against the STORED signature index.
    // The index of the first copies−1 copies is written to parquet UNTIMED
    // (the once-at-ingest cost a production deployment has already paid);
    // the timed run signature-bands ONLY the newest copy and probes the
    // stored table — the nightly cost, which must scale with the delta,
    // not the corpus. Expected rows are closed-form: a pair touches the
    // delta iff not both sides are in the old copies, so
    // (copies² − (copies−1)²)·P₁ + (C(copies,2) − C(copies−1,2))·N.
    val deltaLo = (copies - 1) * offset
    graft.operators.Dedup.signatureIndex(
        scaled.filter($"doc_id" < deltaLo), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2)
      .write.mode("overwrite").parquet("/tmp/graft_probe_warehouse/inc_index")
    val q78s = timed("q78_incremental_neardup_10x") {
      graft.operators.Dedup.incrementalNearDupPairs(
        spark.read.parquet("/tmp/graft_probe_warehouse/inc_index"),
        scaled.filter($"doc_id" >= deltaLo), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
    }

    // q85's shape: span-level exact dedup over the 10× corpus. With every
    // doc cloned `copies` times every k-gram occurs ≥ copies ≥ 2 times, so
    // the closed form is total: each doc with ≥ k tokens reports full
    // coverage (n_dup_tokens = n_tok, n_runs = 1) and the output has
    // exactly n_docs rows. Probes the (doc, pos, 8-byte-hash) shuffle +
    // per-doc lag window at 10× the positions.
    val q85s = timed("q85_span_dedup_10x") {
      graft.operators.SpanDedup.spanProfile(
        scaled, "doc_id", graft.operators.TextAnalysis.tokensCol($"text"),
        k = 5, minCount = 2)
    }

    // q131's incremental shape: the span-gram index of the first copies−1
    // copies is written UNTIMED (the once-at-ingest cost); the timed run
    // hashes ONLY the newest copy's grams and probes the stored index —
    // the nightly cost, O(delta grams + index probe), never a base
    // re-scan. Closed form (copies >= 2): every delta gram already exists
    // in the base (exact clones), so each delta doc with >= k tokens is
    // FULLY covered (n_kept == 0) and the output has exactly one row per
    // delta doc.
    graft.operators.SpanDedup.spanIndex(
        scaled.filter($"doc_id" < deltaLo), "doc_id",
        graft.operators.TextAnalysis.tokensCol($"text"), k = 5)
      .write.mode("overwrite").parquet("/tmp/graft_probe_warehouse/span_index")
    val q131df = graft.operators.SpanDedup.applySpanDedupIncremental(
      spark.read.parquet("/tmp/graft_probe_warehouse/span_index"),
      scaled.filter($"doc_id" >= deltaLo), "doc_id",
      graft.operators.TextAnalysis.tokensCol($"text"), k = 5, minCount = 2)
    val q131s = timed("q131_span_incremental_10x") { q131df }
    if (copies >= 2) {
      require(q131s._3 == nDocs / copies,
        s"q131 10x rows: got ${q131s._3}, want ${nDocs / copies}")
      val strays131 = q131df.filter($"n_tok" >= 5 && $"n_kept" > 0).count()
      require(strays131 == 0L,
        s"q131 10x: $strays131 delta docs kept tokens despite full base coverage")
    }

    // q108's shape: integer PageRank over the 10× near-dup pair graph.
    // Every doc gains C(copies,2) clone pairs, so EVERY doc is a node and
    // the closed form is rows == n_docs exactly. Probes the iteration
    // joins at ~2·copies²·P₁ symmetrized edges (the adjacency is staged
    // once; each of the 3 rounds is one agg over it) — the densest graph
    // the suite can manufacture.
    val q108s = timed("q108_dup_pagerank_10x") {
      graft.operators.PageRank.ranks(
        graft.operators.Dedup.nearDupPairs(
          scaled, "doc_id", "text",
          numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5),
        "id_a", "id_b", iters = 3)
    }

    // q113's shape: positional postings over the 10× corpus + two phrase
    // chains. The probe point is the pruning claim: postings are ~46M
    // rows, but each phrase chain's joins only ever see the probed terms'
    // postings (the term filter runs before the join), so phrase cost
    // tracks term frequency, not corpus size.
    val q113s = timed("q113_phrase_search_10x") {
      val post = graft.query.InvertedIndex.postings(scaled, "doc_id", "text")
        .localCheckpoint(false)
      def hits(phrase: Seq[String]) =
        graft.query.InvertedIndex.phraseMatches(post, phrase)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_occ"))
      hits(Seq("table", "scan")).unionByName(hits(Seq("hash", "join")))
    }

    // q119's shape: the windowless token-budget sharding layout at 10× —
    // one range exchange + per-partition offset fold over 50k docs.
    val q119s = timed("q119_token_shards_10x") {
      graft.operators.Sharding.tokenBudgetShards(
          scaled.select(col("doc_id"),
            size(graft.operators.TextAnalysis.tokensCol(col("text"))).cast("long").as("tc")),
          col("doc_id"), "tc", tokenBudget = 20000L, numPartitions = 32)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tc")).as("n_tok"))
    }

    // q115's shape: containment scoring over the 10× LSH candidates. The
    // candidate set is signature-driven, and clone signatures equal their
    // base's, so the output closure is EXACT: every 1× passing pair appears
    // copies² times and every doc contributes C(copies,2) clone pairs
    // (identical text ⇒ all scores 1.0 ⇒ passes the 0.8 gate). The 1×
    // passing count is measured untimed and the closure REQUIRED below.
    def containmentPass(docs: org.apache.spark.sql.DataFrame) = {
      val sigs = graft.operators.Dedup
        .minhashSig(docs, "text", numHashes = 8, shingle = 4)
        .select($"doc_id", $"minhash")
      val cand = graft.operators.Dedup.lshCandidates(sigs, "doc_id", bands = 4, rowsPerBand = 2)
      val scored = cand
        .join(docs.select($"doc_id".as("id_a"), $"text".as("text_a")), Seq("id_a"))
        .join(docs.select($"doc_id".as("id_b"), $"text".as("text_b")), Seq("id_b"))
        .repartition(32, $"id_a", $"id_b")
        .select($"id_a", $"id_b",
          graft.operators.Dedup.pairScores($"text_a", $"text_b", 5).as("sc"))
        .localCheckpoint(false)
      def fq4(c: org.apache.spark.sql.Column) = floor(c * 10000.0) / 10000.0
      scored.select($"id_a", $"id_b",
          fq4($"sc.cont_ab").as("cont_ab4"), fq4($"sc.cont_ba").as("cont_ba4"),
          fq4($"sc.jac").as("jac4"))
        .filter(greatest($"cont_ab4", $"cont_ba4") >= 0.8)
    }
    val p115 = containmentPass(base).count() // untimed 1× closure input
    val q115s = timed("q115_containment_10x") { containmentPass(scaled) }
    val want115 =
      copies.toLong * copies * p115 + copies.toLong * (copies - 1) / 2 * (nDocs / copies)
    require(q115s._3 == want115,
      s"q115 10x closure: got ${q115s._3}, want $want115")

    // q118's shape: exact-dup cluster resolution + survivor argmax at 10×.
    // Clusters are minhash-signature equality classes, so the scaled corpus
    // has EXACTLY one cluster per distinct base signature (each of size
    // m·copies ≥ 2 — every base doc is clustered with its clones), and the
    // (max n_chars, min id) survivor policy must always pick an offset-0
    // copy: clones tie on length, the tiebreak takes the lowest id.
    val g118 = graft.operators.Dedup.minhashSig(base, "text", 8, 4)
      .select($"minhash").distinct().count() // untimed: distinct base sigs == clusters
    val q118df = {
      val pairs = graft.operators.Dedup.nearDupPairs(
        scaled, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 1.0)
      graft.operators.Dedup.resolveClusters(pairs, scaled.select($"doc_id"))
        .join(scaled.select($"doc_id", length($"text").as("n_chars")), $"id" === $"doc_id")
        .groupBy($"keeper_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct($"n_chars".as("nc"), (-$"doc_id").as("nid"))).as("best"))
        .filter($"n_members" >= 2)
        .select($"keeper_id".as("cluster_id"), $"n_members",
          (-$"best.nid").as("survivor_id"), $"best.nc".as("survivor_chars"))
    }
    val q118s = timed("q118_dedup_survivors_10x") { q118df }
    require(q118s._3 == g118, s"q118 10x clusters: got ${q118s._3}, want $g118")
    // (max n_chars, min id) must always land on an offset-0 copy: clones
    // tie on length and the tiebreak takes the lowest id (untimed re-read
    // rides the pipeline's internal checkpoints, not a full recompute)
    val strays = q118df.filter($"survivor_id" >= offset).count()
    require(strays == 0L, s"q118 10x: $strays survivors outside copy 0")

    // q136's shape: per-doc repetition profile at 10×. The profile is a
    // PER-DOC metric, so cloning the corpus must scale the flag count by
    // exactly `copies` — any cross-doc leakage into the per-doc gram agg
    // (a wrong grouping key, a hash collision across doc_ids) breaks the
    // multiplier. Cost model: one gram hash-agg, linear in corpus tokens.
    def repetitionFlags(docs: DataFrame): DataFrame = {
      val qsig = graft.operators.QualitySignals
      val b = docs
        .select($"doc_id", graft.operators.TextAnalysis.tokensCol($"text").as("w"))
        .select($"doc_id", size($"w").cast("long").as("n_tok"), $"w")
        .localCheckpoint(false)
      def topCnt(n: Int, out: String) = b
        .select($"doc_id", explode(qsig.ngramsStrict($"w", n)).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").as(out))
      b.select($"doc_id", $"n_tok")
        .join(topCnt(1, "c1"), Seq("doc_id"), "left")
        .join(topCnt(2, "c2"), Seq("doc_id"), "left")
        .withColumn("top1_u", when($"n_tok" > 0,
          expr("(coalesce(c1, 0) * 10000) div n_tok")).otherwise(lit(0L)))
        .withColumn("top2_u", when($"n_tok" >= 2,
          expr("(coalesce(c2, 0) * 2 * 10000) div n_tok")).otherwise(lit(0L)))
        .filter($"top1_u" > 800 || $"top2_u" > 1000)
    }
    val f136 = repetitionFlags(base).count() // untimed 1× flag count
    val q136s = timed("q136_repetition_10x") { repetitionFlags(scaled) }
    require(q136s._3 == copies * f136,
      s"q136 10x flags: got ${q136s._3}, want ${copies * f136}")

    // q148's shape: corpus-df novelty at 10×. On an exact-clone corpus
    // EVERY gram occurs in ≥ `copies` documents, so n_unique must be 0
    // for every doc — novelty collapsing to zero is the closed-form proof
    // the df aggregation really runs corpus-wide (a per-partition or
    // per-copy df would leave 1× "unique" grams behind).
    val q148df = {
      val g = scaled
        .select($"doc_id", explode(graft.operators.QualitySignals.ngramsStrict(
          graft.operators.TextAnalysis.tokensCol($"text"), 5)).as("g"))
        .select($"doc_id", xxhash64($"g").as("h")).distinct()
        .localCheckpoint(false)
      val df5 = g.groupBy($"h").agg(count(lit(1)).as("nd"))
      g.join(df5, Seq("h"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"nd" === 1, 1L).otherwise(0L)).as("n_unique"))
    }
    val q148s = timed("q148_novelty_10x") { q148df }
    val uniques = q148df.agg(sum($"n_unique")).head().getLong(0)
    require(uniques == 0L, s"q148 10x: $uniques unique grams on a cloned corpus")

    // q147's shape: triangle census at 10×. The exact-clone corpus has a
    // CLOSED FORM from the 1× summary: clones share every band (identical
    // signatures) so each doc's c copies are a clique, and copies of a
    // 1×-banded pair (a,b) inherit its est_jac across all c² combinations
    // — the scaled graph is exactly the c-clique BLOW-UP of the 1× graph:
    //   nodes' = c·N_docs                      (every doc gains clone edges)
    //   edges' = N_docs·C(c,2) + E·c²
    //   tris'  = N_docs·C(c,3) + E·2c·C(c,2) + T·c³
    // (three triangle cases: all one family / two in a family × one in an
    // adjacent family / three pairwise-adjacent families). A wedge join
    // that lost or invented a single candidate breaks the equality.
    val c = copies.toLong
    val nb = nDocs / c
    val tri1 = graft.operators.GraphMetrics.triangleSummary(
      graft.operators.Dedup.nearDupPairs(base, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75),
      "id_a", "id_b").head()
    val (e1, t1) = (tri1.getLong(1), tri1.getLong(3))
    val tri10 = graft.operators.GraphMetrics.triangleSummary(
      graft.operators.Dedup.nearDupPairs(scaled, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75),
      "id_a", "id_b")
    val q147s = timed("q147_triangles_10x") { tri10 }
    val r10 = tri10.head() // checkpoint-backed inputs; re-agg is the probe's cost
    // nodes' = c·nb holds only for copies >= 2 (every doc gains clone
    // edges); at copies = 1 isolated docs are absent from the pair graph,
    // so the node closed form degrades where edges/triangles do not
    if (c >= 2)
      require(r10.getLong(0) == c * nb,
        s"q147 10x nodes: got ${r10.getLong(0)}, want ${c * nb}")
    require(r10.getLong(1) == nb * c * (c - 1) / 2 + e1 * c * c,
      s"q147 10x edges: got ${r10.getLong(1)}, want ${nb * c * (c - 1) / 2 + e1 * c * c}")
    require(r10.getLong(3) ==
      nb * c * (c - 1) * (c - 2) / 6 + e1 * c * c * (c - 1) + t1 * c * c * c,
      s"q147 10x triangles: got ${r10.getLong(3)}, want " +
        s"${nb * c * (c - 1) * (c - 2) / 6 + e1 * c * c * (c - 1) + t1 * c * c * c}")

    // q143's shape at 10×: embeddings cloned `copies` times with disjoint
    // ids, run through the SHIPPED SparkEntry.knnClusterPurity (data-driven
    // k = autoK: the 10× corpus gets ~10× the cells, so cell INTERIORS stay
    // ~64 vectors and the within-cell pair space stays linear-in-n instead
    // of the n² a fixed grid degrades to). Closed form (needs copies >= 4
    // and no exact-dup base pairs — measured max base cos4 is 6008 < 10000
    // at sf0.1): clone pairs carry cos4 = 10000, which outranks every
    // cross-doc pair, so each c-clone family's top-3 lists stay in-family;
    // mutual edges form exactly a 4-clique on the family's 4 lowest ids
    // (members 5..c list {m0,m1,m2} but are listed by nobody) → each
    // family resolves to 1 four-clique cluster + (c−4) singletons:
    //   rows == (c − 3) · n_base, and every cluster is pure (one vector).
    val embBase = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding", "label")
    val embScaled = (0 until copies).map { i =>
      embBase.select(($"vec_id" + lit(i * offset)).as("vec_id"), $"embedding", $"label")
    }.reduce(_ unionByName _).localCheckpoint(false)
    val nVec = embScaled.count()
    // bounded-cell-interior evidence, untimed: the pair space the salted
    // within-cell join actually pays (Σ|cell|²) vs all-pairs n²
    val cellStats = graft.operators.IvfIndex.assign(embScaled,
        graft.operators.IvfIndex.centroids(embScaled, k = 0, iters = 0),
        "vec_id", "embedding")
      .groupBy($"centroid_id").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), max($"n").as("max_cell"),
        sum($"n" * $"n").as("pair_space")).head()
    val (nCells, maxCell, pairSpace) =
      (cellStats.getLong(0), cellStats.getLong(1), cellStats.getLong(2))
    require(nCells == graft.operators.IvfIndex.autoK(embScaled),
      s"q143 10x: $nCells cells, want autoK = ${graft.operators.IvfIndex.autoK(embScaled)}")
    // round-9 measurement: 1.46M vs n² = 4e8 — a 273× reduction; the 50×
    // bar leaves ~5× headroom for data drift while still failing loudly if
    // the grid ever stops tracking the corpus
    require(pairSpace * 50 <= nVec * nVec,
      s"q143 10x pair space $pairSpace not bounded under all-pairs ${nVec * nVec}")
    val q143df = SparkEntry.knnClusterPurity(embScaled)
    val q143s = timed("q143_knn_purity_10x") { q143df }
    if (c >= 4) {
      require(q143s._3 == (c - 3) * (nVec / c),
        s"q143 10x clusters: got ${q143s._3}, want ${(c - 3) * (nVec / c)}")
      // every cluster holds copies of ONE vector → purity exactly 1.0
      // (untimed re-read rides the pipeline's internal checkpoints)
      val impure = q143df.filter($"purity4" < 1.0).count()
      require(impure == 0L, s"q143 10x: $impure impure clone clusters")
    }
    System.err.println(
      s"[probe] q143 cells=$nCells max_cell=$maxCell pair_space=$pairSpace n=$nVec")

    // ---- round-12 PQ codebook training at 10× vectors: the exact-integer
    // Lloyd means ([[graft.operators.PqCodebook]]) make the trained
    // codebook INVARIANT under exact corpus cloning — seeds are the 16
    // lowest ids (= copy-0 originals), every clone assigns like its
    // original, and cluster means are (c·Σ)/(c·n) ≡ Σ/n in correctly-
    // rounded double division over exact integer operands. Closed form:
    // the 10× codebook equals the 1× codebook BIT-FOR-BIT (128 rows,
    // float-exact), and the per-iteration corpus-side work is one
    // sub-vector scan (timed next to the 1× baseline).
    val cbBase = graft.operators.PqCodebook.train(embBase, 8, 8, 16, iters = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Float](2)).toMap
    val q178df = graft.operators.PqCodebook.train(embScaled, 8, 8, 16, iters = 2)
    val q178s = timed("q178_pq_train_10x") { q178df }
    require(q178s._3 == 8L * 16L, s"q178 10x codebook rows: got ${q178s._3}, want 128")
    val cb10 = q178df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Float](2)).toMap
    require(cb10.keySet == cbBase.keySet, "q178 10x codebook key drift")
    cbBase.foreach { case (k, v) =>
      require(cb10(k) == v,
        s"q178 10x clone invariance broke at (s,code)=$k: ${cb10(k)} vs $v")
    }

    // q169's shape at 10× FACT rows: lineitem exact-copied (same keys —
    // the dim side and therefore the filter are unchanged), so the pruned
    // exact join's row count is exactly 10× the base join's, and the
    // filter's false-positive work stays a bounded fraction of the probe
    // scan. Closed forms: joined = c × base-joined (exact copies multiply
    // every match); pruned ≤ (match-key rows + fp-rate × rest).
    val liBase = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val liScaled = (0 until copies).map(_ => liBase).reduce(_ unionByName _)
      .localCheckpoint(false)
    val ordF169 = Tables.load(spark, sfDir, "orders")
      .filter($"o_orderstatus" === "F" &&
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"))
      .localCheckpoint(false)
    val q169df = {
      val pruned = graft.operators.BloomSketch.prune(
        liScaled, graft.functions.HashFunctions.stableHash64($"l_orderkey"),
        ordF169, graft.functions.HashFunctions.stableHash64($"o_orderkey"))
      pruned.join(ordF169, pruned("l_orderkey") === ordF169("o_orderkey"))
        .select("l_orderkey")
    }
    val q169s = timed("q169_bloom_prune_10x") { q169df }
    val baseJoined = liBase.join(ordF169,
      liBase("l_orderkey") === ordF169("o_orderkey")).count()
    require(q169s._3 == copies * baseJoined,
      s"q169 10x joined rows: got ${q169s._3}, want ${copies * baseJoined}")
    val prunedRows = graft.operators.BloomSketch.prune(
      liScaled, graft.functions.HashFunctions.stableHash64($"l_orderkey"),
      ordF169, graft.functions.HashFunctions.stableHash64($"o_orderkey")).count()
    val liRows = liScaled.count()
    // the filter must do real work at scale: everything it keeps beyond
    // the true matches is false-positive spill, bounded at 5% of the
    // non-matching stream (sized ~10 bits/key, 3 probes ≈ 1-2% expected)
    require(prunedRows >= copies * baseJoined &&
      prunedRows - copies * baseJoined <= (liRows - copies * baseJoined) / 20,
      s"q169 10x pruning: kept $prunedRows of $liRows for ${copies * baseJoined} true")
    System.err.println(
      s"[probe] q169 kept=$prunedRows of=$liRows true=${copies * baseJoined}")

    // q176's IVM refresh at 10× EVENTS (exact copies): every group's
    // count and micro-sum scale by exactly c, while the distinct-user SET
    // — and therefore the HLL registers and the 1e-4-quantized estimate —
    // are bit-identical to the 1× run. Both closed forms checked row by
    // row against the base refresh.
    val evBase = Tables.load(spark, sfDir, "events")
    val evScaled = (0 until copies).map(_ => evBase).reduce(_ unionByName _)
      .localCheckpoint(false)
    val q176base = SparkEntry.incrementalDailyAgg(evBase)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val q176df = SparkEntry.incrementalDailyAgg(evScaled)
    val q176s = timed("q176_incremental_agg_10x") { q176df }
    val q176got = q176df.collect().map(r => (r.getString(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    require(q176got.keySet == q176base.keySet,
      s"q176 10x group drift: ${q176got.size} vs ${q176base.size} groups")
    q176base.foreach { case (k, (n, sv, est)) =>
      val (n10, sv10, est10) = q176got(k)
      require(n10 == copies * n && sv10 == copies * sv && est10 == est,
        s"q176 10x closed form broke at $k: " +
          s"($n10,$sv10,$est10) vs c*($n,$sv) est=$est")
    }

    // q192's sweep-line at 10× USERS (exact event copies, disjoint user
    // ids, same timestamps): the session set replicates c times with
    // identical intervals, so every endpoint multiset — and therefore every
    // peer-inclusive prefix sum — scales by exactly c. Closed form checked
    // per bucket: peak, n_starts, n_ends all = c × base.
    val evUsers = (0 until copies).map { i =>
      evBase.withColumn("user_id", $"user_id" + lit(i * offset))
    }.reduce(_ unionByName _).localCheckpoint(false)
    val q192base = SparkEntry.peakConcurrency(evBase)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val q192df = SparkEntry.peakConcurrency(evUsers)
    val q192s = timed("q192_peak_concurrency_10x") { q192df }
    val q192got = q192df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    require(q192got.keySet == q192base.keySet,
      s"q192 10x bucket drift: ${q192got.size} vs ${q192base.size}")
    q192base.foreach { case (b, (ns, ne, pk)) =>
      val (ns10, ne10, pk10) = q192got(b)
      require(ns10 == copies * ns && ne10 == copies * ne && pk10 == copies * pk,
        s"q192 10x closed form broke at bucket $b: " +
          s"($ns10,$ne10,$pk10) vs c*($ns,$ne,$pk)")
    }

    // q193's boilerplate strip at 10× docs (exact copies, fresh doc ids,
    // sources unchanged): df and n_docs_src both scale by c, so the 1%
    // frequency ratio — binding as long as every source holds ≥ 101 docs,
    // which the guard asserts — selects the SAME template set, while
    // affected docs / instances / tokens scale by exactly c.
    val docsBase = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source", "text")
    val minSrcDocs = docsBase.groupBy($"source").count()
      .agg(min($"count")).head().getLong(0)
    require(minSrcDocs >= 101,
      s"q193 10x precondition: smallest source has $minSrcDocs docs (<101), " +
        "the minDocs floor would bind at 1x but not 10x")
    val docsScaled = (0 until copies).map { i =>
      docsBase.select(($"doc_id" + lit(i * offset)).as("doc_id"), $"source", $"text")
    }.reduce(_ unionByName _).localCheckpoint(false)
    val q193base = SparkEntry.boilerplateStrip(docsBase)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val q193df = SparkEntry.boilerplateStrip(docsScaled)
    val q193s = timed("q193_boilerplate_strip_10x") { q193df }
    val q193got = q193df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    require(q193got.keySet == q193base.keySet,
      s"q193 10x source drift: ${q193got.size} vs ${q193base.size}")
    q193base.foreach { case (src, (np, nd, ni, nt)) =>
      val (np10, nd10, ni10, nt10) = q193got(src)
      require(np10 == np && nd10 == copies * nd &&
        ni10 == copies * ni && nt10 == copies * nt,
        s"q193 10x closed form broke at $src: " +
          s"($np10,$nd10,$ni10,$nt10) vs (np, c*rest) of ($np,$nd,$ni,$nt)")
    }

    // ---- round-9 graph family at 10×: the scaled dup graph is the EXACT
    // c-clique blow-up of the 1× graph (q147's verified premise), which
    // gives every operator a closed form: blow-up degrees are
    // (c−1) + c·deg, clone-edge weights are exactly 10⁴ micro-units
    // (identical signatures → est_jac = 1), component shares are
    // floor-invariant (both member count and corpus scale by c), and the
    // graph is symmetric under copy permutation.
    val pairsB = graft.operators.Dedup.nearDupPairs(base, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75)
      .localCheckpoint(false)
    val pairsS = graft.operators.Dedup.nearDupPairs(scaled, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75)
      .localCheckpoint(false)
    val e1g = pairsB.count()
    val edges10 = nb * c * (c - 1) / 2 + e1g * c * c
    val nIsolated = base.select($"doc_id").join(
      pairsB.select($"id_a".as("doc_id"))
        .unionByName(pairsB.select($"id_b".as("doc_id"))).distinct(),
      Seq("doc_id"), "left_anti").count()

    // q170: every blow-up degree is ≥ 2 (c ≥ 3), so the 2-core keeps the
    // WHOLE graph, every core_degree is the full blow-up degree — and the
    // peel must detect the no-op fixpoint after exactly ONE round (the
    // round-10 early exit, observed at 10× instead of argued)
    val t170 = System.nanoTime()
    val (core10, peels10) = graft.operators.GraphMetrics.kCoreWithPeels(
      pairsS, "id_a", "id_b", k = 2, rounds = 8)
    core10.write.mode("overwrite").format("noop").save()
    val q170s = ("q170_kcore_10x", (System.nanoTime() - t170) / 1e9, core10.count())
    if (c >= 3) {
      require(peels10 == 1, s"q170 10x: $peels10 peels, want 1 (no-op fixpoint)")
      require(q170s._3 == c * nb,
        s"q170 10x nodes: got ${q170s._3}, want ${c * nb}")
      val degSum = core10.agg(sum($"core_degree")).head().getLong(0)
      require(degSum == 2 * edges10,
        s"q170 10x degree sum: got $degSum, want ${2 * edges10}")
    }

    // q165: component SHARES are floor-invariant under cloning, so every
    // base component keeps its share4 and flag; flagged components keep
    // per-member survivors (×c), unflagged stay at one; isolated docs
    // surface as new c-clique components — unflagged, one survivor
    def guardedAgg(docs: DataFrame, pairs: DataFrame): DataFrame = {
      val guarded = graft.operators.Dedup.guardedClusters(
        pairs, docs.select($"doc_id"), maxShare4 = 1000L)
      val tot = docs.agg(count(lit(1)).as("n"))
      guarded.groupBy($"component_id")
        .agg(count(lit(1)).as("n_members"), max($"flagged").as("flagged"),
          count_distinct($"keeper_id").as("n_survivors"))
        .filter($"n_members" >= 2)
        .crossJoin(broadcast(tot))
        .select($"component_id", $"n_members",
          (expr("(n_members * 10000) div n") / lit(10000.0)).as("share4"),
          $"flagged", $"n_survivors")
    }
    val q165base = guardedAgg(base, pairsB).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getInt(3), r.getLong(4))).toMap
    val q165df = guardedAgg(scaled, pairsS)
    val q165s = timed("q165_guarded_10x") { q165df }
    val q165got = q165df.collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getInt(3), r.getLong(4))).toMap
    require(q165got.size.toLong == q165base.size.toLong + nIsolated,
      s"q165 10x components: got ${q165got.size}, " +
        s"want ${q165base.size} + $nIsolated isolated")
    q165base.foreach { case (cid, (m, sh, fl, sv)) =>
      val (m10, sh10, fl10, sv10) = q165got(cid)
      require(m10 == c * m && sh10 == sh && fl10 == fl &&
        sv10 == (if (fl == 1) c * sv else 1L),
        s"q165 10x closed form broke at $cid: ($m10,$sh10,$fl10,$sv10) " +
          s"vs base ($m,$sh,$fl,$sv)")
    }
    (q165got.keySet -- q165base.keySet).foreach { cid =>
      val (m10, _, fl10, sv10) = q165got(cid)
      require(m10 == c && fl10 == 0 && sv10 == 1L,
        s"q165 10x isolated family $cid: ($m10,$fl10,$sv10), want ($c,0,1)")
    }

    // q187: clone strengths are (c−1)·10⁴ + c·strength4 — strictly
    // monotone, so every component keeps its base medoid ID (the copy-0
    // clone wins the id tie-break); isolated families elect themselves
    def medoids(docs: DataFrame, pairs: DataFrame): DataFrame = {
      val lab = graft.operators.Dedup.resolveClusters(pairs, docs.select($"doc_id"))
      val strength = pairs
        .select($"id_a".as("id"), expr("cast(floor(est_jac * 10000) as bigint)").as("w4"))
        .unionByName(pairs
          .select($"id_b".as("id"), expr("cast(floor(est_jac * 10000) as bigint)").as("w4")))
        .groupBy($"id").agg(sum($"w4").as("strength4"), count(lit(1)).as("degree"))
      val labeled = lab.join(strength, Seq("id")).localCheckpoint(false)
      val wm = org.apache.spark.sql.expressions.Window
        .partitionBy($"keeper_id").orderBy($"strength4".desc, $"id")
      labeled.withColumn("rk", org.apache.spark.sql.functions.row_number().over(wm))
        .filter($"rk" === 1)
        .join(labeled.groupBy($"keeper_id").agg(count(lit(1)).as("n_members")),
          Seq("keeper_id"))
        .filter($"n_members" >= 2)
        .select($"keeper_id".as("component_id"), $"id".as("medoid_id"),
          $"n_members", $"strength4", $"degree")
    }
    val q187base = medoids(base, pairsB).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val q187df = medoids(scaled, pairsS)
    val q187s = timed("q187_medoid_10x") { q187df }
    val q187got = q187df.collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    require(q187got.size.toLong == q187base.size.toLong + nIsolated,
      s"q187 10x components: got ${q187got.size}, " +
        s"want ${q187base.size} + $nIsolated isolated")
    q187base.foreach { case (cid, (mid, m, s4, dg)) =>
      val (mid10, m10, s410, dg10) = q187got(cid)
      require(mid10 == mid && m10 == c * m &&
        s410 == (c - 1) * 10000L + c * s4 && dg10 == (c - 1) + c * dg,
        s"q187 10x closed form broke at $cid: ($mid10,$m10,$s410,$dg10) " +
          s"vs base ($mid,$m,$s4,$dg)")
    }
    (q187got.keySet -- q187base.keySet).foreach { cid =>
      val (mid10, m10, s410, dg10) = q187got(cid)
      require(mid10 == cid && m10 == c &&
        s410 == (c - 1) * 10000L && dg10 == c - 1,
        s"q187 10x isolated family $cid: ($mid10,$m10,$s410,$dg10)")
    }

    // q201: with ALL copies of the base seeds, the blow-up is symmetric
    // under copy permutation, so the integer walk must give every clone of
    // a doc the IDENTICAL rank and surface families complete (c members)
    // or not at all — a truncation or join bug breaks the symmetry loudly
    val seeds10 = (0 until copies).flatMap(i =>
      Seq(0L + i.toLong * offset, 7L + i.toLong * offset))
    val q201df = graft.operators.PageRank.personalizedRanks(
        pairsS, "id_a", "id_b", seeds10, iters = 3)
      .filter($"rank_u" > 0)
    val q201s = timed("q201_ppr_10x") { q201df }
    val fams = q201df
      .select(pmod($"id", lit(offset)).as("fid"), $"rank_u")
      .groupBy($"fid")
      .agg(count(lit(1)).as("nmem"), count_distinct($"rank_u").as("ndr"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    require(fams.nonEmpty && fams.contains(0L) && fams.contains(7L),
      s"q201 10x: seed families missing from ${fams.keySet.take(5)}")
    fams.foreach { case (fid, (nmem, ndr)) =>
      require(nmem == c && ndr == 1L,
        s"q201 10x symmetry broke at family $fid: $nmem members, $ndr distinct ranks")
    }

    // q215: EXACT prefix-filtered set-similarity join at τ=0.9 — the
    // closure is total: 10× output must be EXACTLY c²·P(1×) + C(c,2)·n
    // (the q39 pattern, but for an algorithm that PROVES completeness:
    // losing or inventing one candidate breaks the equality), and every
    // same-family pair must report inter == uni (J = 1 on exact copies).
    val p215base = graft.operators.SetSimJoin
      .selfJoin(base, "doc_id", "text", shingleN = 5, tau4 = 9000L).count()
    val q215df = graft.operators.SetSimJoin
      .selfJoin(scaled, "doc_id", "text", shingleN = 5, tau4 = 9000L)
      .localCheckpoint(false) // closure count + clone-pair audit both read it
    val q215s = timed("q215_setsim_10x") { q215df }
    require(q215s._3 == c * c * p215base + (nDocs / c) * c * (c - 1) / 2,
      s"q215 10x closure: got ${q215s._3}, " +
        s"want ${c * c * p215base} + ${(nDocs / c) * c * (c - 1) / 2}")
    val q215badClone = q215df
      .filter(pmod($"id_a", lit(offset)) === pmod($"id_b", lit(offset)))
      .filter($"inter" =!= $"uni").count()
    require(q215badClone == 0,
      s"q215 10x: $q215badClone clone pairs with J < 1 — exact verify broke")

    // q272: winnowing fingerprint-bucketed overlap pairs — the q215
    // closure shape with the df-cap SCALED by c: clones carry IDENTICAL
    // fingerprint sets (winnowing is position-independent and text-
    // identical per clone), every fingerprint's document frequency
    // scales exactly ×c, so running 10× under maxDf·c preserves the 1×
    // exclusion set bit-for-bit and the output must be EXACTLY
    // c²·P(1×) + C(c,2)·D(1×), where D counts docs whose RARE
    // fingerprint count clears minShared (each doc meets its own clones
    // through its full rare set). A lost bucket, a df miscount, or a
    // cap applied before/after the wrong join breaks the equality.
    // Bounded to a 1k-doc slice: fingerprint density is ~2/(w+1) per
    // char, so the full 600k-doc product would probe the disk, not the
    // algorithm (disclosed cap, the q272-window-corpus precedent).
    // k = 7 (vs the query's 5): the synthetic corpus shares phrases so
    // heavily that 5-gram minima all clear df 16 at 1k docs — 7-grams
    // keep a real rare tail (D = 374 docs, P = 4 base pairs at sf0.1),
    // so the closure is exercised on NON-ZERO output, not 0 == 0.
    val winBase = base.filter($"doc_id" < 1000)
    val winScaled = scaled.filter(pmod($"doc_id", lit(offset)) < 1000)
    val fpsWB = graft.operators.Winnowing
      .fingerprints(winBase, "doc_id", "text", k = 7, w = 4)
      .localCheckpoint(false) // pair count + rare-census both read it
    val p272base = graft.operators.Winnowing
      .overlapPairs(fpsWB, minShared = 8L, maxDf = 16L).count()
    val d272base = fpsWB
      .join(fpsWB.groupBy($"fp").agg(count(lit(1)).as("__df"))
        .filter($"__df" <= 16L), Seq("fp"))
      .groupBy($"id").agg(count(lit(1)).as("nf"))
      .filter($"nf" >= 8L).count()
    val q272df = graft.operators.Winnowing
      .overlapPairs(
        graft.operators.Winnowing.fingerprints(
          winScaled, "doc_id", "text", k = 7, w = 4),
        minShared = 8L, maxDf = 16L * c)
      .localCheckpoint(false)
    val q272s = timed("q272_winnowing_10x") { q272df }
    require(q272s._3 == c * c * p272base + d272base * c * (c - 1) / 2,
      s"q272 10x closure: got ${q272s._3}, " +
        s"want ${c * c * p272base} + ${d272base * c * (c - 1) / 2}")
    val q272badClone = q272df
      .filter(pmod($"id_a", lit(offset)) === pmod($"id_b", lit(offset)))
      .join(fpsWB.join(fpsWB.groupBy($"fp").agg(count(lit(1)).as("__df"))
          .filter($"__df" <= 16L), Seq("fp"))
        .groupBy($"id").agg(count(lit(1)).as("nf")),
        pmod($"id_a", lit(offset)) === $"id")
      .filter($"n_shared" =!= $"nf").count()
    require(q272badClone == 0,
      s"q272 10x: $q272badClone clone pairs sharing less than the full rare set")

    // q221: bounded-hop harmonic centrality on the est=1.0 graph — the
    // clone closed form: d(u_i, v_j) = d(u, v) for v ≠ u (cross-copy
    // pairs exist at every base distance; clone cliques add no
    // shortcuts), d(u_i, u_j) = 1, so per base node
    // n_1hop′ = (c−1) + c·n_1hop, n_far′ = c·n_far,
    // h_micro′ = (c−1)·10⁶ + c·h_micro, and every previously-isolated
    // doc joins as a (c−1, 0, (c−1)·10⁶) clique member. Row count = c·n.
    // Round 11 runs the GUARDED form (the q221 query shape): component
    // shares are floor-invariant under cloning, clone cliques stay far
    // below the 10% cap, so every row must come back flagged = 0 with
    // the same closed-form centrality.
    val hB = graft.operators.GraphMetrics
      .harmonicCentrality(pairsB.filter($"est_jac" >= 1.0), "id_a", "id_b", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val q221df = graft.operators.GraphMetrics
      .harmonicCentralityGuarded(pairsS.filter($"est_jac" >= 1.0),
        "id_a", "id_b", 3, maxShare4 = 1000L,
        totalIds = scaled.select($"doc_id"))
      .localCheckpoint(false)
    val q221s = timed("q221_harmonic_10x") { q221df }
    val q221flagged = q221df.filter($"flagged" === 1).count()
    require(q221flagged == 0L,
      s"q221 10x: $q221flagged flagged nodes — clone cliques crossed the cap")
    val q221got = q221df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    require(q221got.size.toLong == nDocs,
      s"q221 10x: ${q221got.size} nodes, want $nDocs (every doc joins a clique)")
    q221got.foreach { case (id, (n1, nf, hm)) =>
      val (w1, wf, wh) = hB.get(id % offset) match {
        case Some((b1, bf, bh)) =>
          ((c - 1) + c * b1, c * bf, (c - 1) * 1000000L + c * bh)
        case None => ((c - 1).toLong, 0L, (c - 1) * 1000000L)
      }
      require(n1 == w1 && nf == wf && hm == wh,
        s"q221 10x closed form broke at $id: ($n1,$nf,$hm) want ($w1,$wf,$wh)")
    }

    // ---- EvalMetrics closed forms (q234/q235/q237/q238/q240) ----
    // Exact ratio-statistic invariance under c-fold cloning: every one of
    // these metrics divides a numerator by a denominator that both scale
    // exactly ×c (or ×c²), and floor(a·c/(b·c)) = floor(a/b) EXACTLY — so
    // the statistic must be bit-identical at 10×, while raw counts must
    // scale exactly ×c. Any drift = a non-histogram code path snuck in.
    val emDocsBase = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "source", "n_chars")
    val emDocsScaled = (0 until copies).map { i =>
      emDocsBase.select(($"doc_id" + lit(i * offset)).as("doc_id"),
        $"lang", $"source", $"n_chars")
    }.reduce(_ unionByName _)
    val aucB = graft.operators.EvalMetrics
      .histAuc(emDocsBase, "lang", "n_chars")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val q235df = graft.operators.EvalMetrics
      .histAuc(emDocsScaled, "lang", "n_chars").localCheckpoint(false)
    val q235s = timed("q235_auc_10x") { q235df }
    q235df.collect().foreach { r =>
      val (bp, bn, ba) = aucB(r.getString(0))
      require(r.getLong(1) == c * bp && r.getLong(2) == c * bn &&
        r.getLong(3) == ba,
        s"q235 10x closed form broke at ${r.getString(0)}: " +
          s"(${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}) " +
          s"want (${c * bp},${c * bn},$ba)")
    }

    val tcB = graft.operators.EvalMetrics
      .tCloseness(emDocsBase.selectExpr("lang", "source", "n_chars div 200 as b"),
        "lang", "source", "b")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val q238df = graft.operators.EvalMetrics
      .tCloseness(emDocsScaled.selectExpr("lang", "source", "n_chars div 200 as b"),
        "lang", "source", "b").localCheckpoint(false)
    val q238s = timed("q238_tclose_10x") { q238df }
    q238df.collect().foreach { r =>
      val (bg, bt, bc) = tcB((r.getString(0), r.getString(1)))
      require(r.getLong(2) == c * bg && r.getLong(3) == bt &&
        r.getString(4) == bc,
        s"q238 10x closed form broke at (${r.getString(0)},${r.getString(1)}): " +
          s"(${r.getLong(2)},${r.getLong(3)},${r.getString(4)}) " +
          s"want (${c * bg},$bt,$bc)")
    }

    // events cloned by USER-ID OFFSET (event ids, timestamps, types,
    // values verbatim): per-user lag structure, daily volumes and score
    // draws are copy-identical, so q240's output rows must be IDENTICAL
    // to base, q237's bins carry n ×c with invariant means/ECE, and
    // q234's counts scale ×c with invariant bps/mean/max.
    val emEvBase = Tables.load(spark, sfDir, "events")
    val emEvScaled = (0 until copies).map { i =>
      emEvBase.withColumn("user_id", $"user_id" + lit(i * offset))
    }.reduce(_ unionByName _)
    val btB = graft.operators.EvalMetrics.seasonalBacktest(emEvBase)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val q240df = graft.operators.EvalMetrics.seasonalBacktest(emEvScaled)
      .localCheckpoint(false)
    val q240s = timed("q240_backtest_10x") { q240df }
    q240df.collect().foreach { r =>
      require(btB(r.getString(0)) ==
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))),
        s"q240 10x invariance broke at ${r.getString(0)}")
    }
    val calB = graft.operators.EvalMetrics.calibration(emEvBase)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val q237df = graft.operators.EvalMetrics.calibration(emEvScaled)
      .localCheckpoint(false)
    val q237s = timed("q237_calib_10x") { q237df }
    q237df.collect().foreach { r =>
      val (bn, bm, bp, be) = calB(r.getLong(0))
      require(r.getLong(1) == c * bn && r.getLong(2) == bm &&
        r.getLong(3) == bp && r.getLong(4) == be,
        s"q237 10x closed form broke at bin ${r.getLong(0)}")
    }
    val wlB = graft.operators.EvalMetrics.watermarkLag(emEvBase)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val q234df = graft.operators.EvalMetrics.watermarkLag(emEvScaled)
      .localCheckpoint(false)
    val q234s = timed("q234_wmlag_10x") { q234df }
    q234df.collect().foreach { r =>
      val (bn, bl, bb, bx, bm) = wlB(r.getString(0))
      require(r.getLong(1) == c * bn && r.getLong(2) == c * bl &&
        r.getLong(3) == bb && r.getLong(4) == bx && r.getLong(5) == bm,
        s"q234 10x closed form broke at ${r.getString(0)}")
    }

    // q250: the threshold-sweep grid under cloning — every grid τ ≤ 1.0
    // admits the est_jac = 1 clone pairs, so per τ the pair count must be
    // EXACTLY c²·P(τ) + C(c,2)·n and the docs-touched count EXACTLY c·n
    // (every doc gains c−1 clone partners). Validates the one-relation/
    // many-τ slicing algebra on top of q39's candidate closure.
    def thresholdSweep(docs: DataFrame) = {
      val prs = graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text",
          numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2,
          threshold = 0.5)
        .localCheckpoint(false)
      val taus = broadcast(Seq(0.5, 0.625, 0.75, 0.875, 1.0).toDF("tau"))
      val cut = prs.crossJoin(taus).filter($"est_jac" >= $"tau")
        .localCheckpoint(false)
      cut.groupBy($"tau").agg(count(lit(1)).as("n_pairs"))
        .join(cut.select($"tau", explode(array($"id_a", $"id_b")).as("id"))
          .groupBy($"tau").agg(count_distinct($"id").as("n_docs")),
          Seq("tau"))
    }
    val tsBase = thresholdSweep(base).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val nBase = nDocs / copies
    val q250df = thresholdSweep(scaled).localCheckpoint(false)
    val q250s = timed("q250_sweep_10x") { q250df }
    q250df.collect().foreach { r =>
      val wantPairs = c * c * tsBase(r.getDouble(0)) + c * (c - 1) / 2 * nBase
      require(r.getLong(1) == wantPairs && r.getLong(2) == c * nBase,
        s"q250 10x closed form broke at tau=${r.getDouble(0)}: " +
          s"(${r.getLong(1)},${r.getLong(2)}) want ($wantPairs,${c * nBase})")
    }

    // q258: Mann–Kendall is EXACTLY clone-invariant — user-id-offset
    // cloning multiplies every daily count by c, which preserves every
    // pairwise sign AND every tie (y_i·c = y_j·c iff y_i = y_j), so
    // n_days, S, var18, z and the trend call must all be IDENTICAL to
    // base. A drifting z would expose a float leak in the pipeline.
    val mkB = graft.operators.EvalMetrics.mannKendall(emEvBase)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5))).toMap
    val q258df = graft.operators.EvalMetrics.mannKendall(emEvScaled)
      .localCheckpoint(false)
    val q258s = timed("q258_mk_10x") { q258df }
    q258df.collect().foreach { r =>
      require(mkB(r.getString(0)) ==
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5))),
        s"q258 10x invariance broke at ${r.getString(0)}")
    }

    // q284: the host-level web graph is a QUOTIENT of the corpus — its
    // edge set is bounded by host combinatorics (site×other + site×cdn
    // fixture combinations), not document count. Clone ids SHIFT each
    // copy's per-doc host assignment (offset % 37 ≠ 0 permutes the
    // combination residues), but the combination space is already
    // saturated at 1×, so 10× docs must reproduce EXACTLY the 1× edge
    // set — and every page emits exactly 2 cross-host links, so the
    // total link mass must be exactly c × the 1× mass even though
    // per-edge multiplicities permute. This is the property that makes
    // host-graph analytics safe at any corpus scale: the relation the
    // rank joins touch never grows.
    val e284b = graft.queries.CrawlQueries.hostEdges(base)
      .localCheckpoint(false) // set-equality join + mass sum both read it
    val q284df = graft.queries.CrawlQueries.hostEdges(scaled)
      .localCheckpoint(false)
    val q284s = timed("q284_hostgraph_10x") { q284df }
    require(q284s._3 == e284b.count(),
      s"q284 10x: edge-set size ${q284s._3} != 1x ${e284b.count()}")
    val q284setMism = q284df
      .select($"src_host", $"dst_host").withColumn("__l", lit(1))
      .join(e284b.select($"src_host", $"dst_host").withColumn("__r", lit(1)),
        Seq("src_host", "dst_host"), "full")
      .filter($"__l".isNull || $"__r".isNull).count()
    require(q284setMism == 0,
      s"q284 10x: $q284setMism edges outside the saturated 1x edge set")
    def mass(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum($"n_links")).head.getLong(0)
    require(mass(q284df) == c * mass(e284b),
      s"q284 10x: link mass ${mass(q284df)} != c x ${mass(e284b)}")

    val qs = Seq(q39, q56, q56c, q57, q68s, q78s, q85s, q131s, q108s, q113s, q115s, q118s, q119s, q136s, q148s, q147s, q143s, q178s, q169s, q176s, q192s, q193s, q170s, q165s, q187s, q201s, q215s, q272s, q221s, q235s, q238s, q240s, q237s, q234s, q250s, q258s, q284s)
      .map { case (n, s, r) => s""""$n":{"sec":$s,"rows":$r}""" }.mkString(",")
    println(s"""{"probe":"dedup_10x","copies":$copies,"n_docs":$nDocs,"sf":"$sfDir","queries":{$qs}}""")
    spark.stop()
  }
}
