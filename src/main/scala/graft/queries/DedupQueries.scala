package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.SparkEntry._
import graft.operators.Tuning

/** Deduplication: exact/span/paragraph/semantic/Unicode dedup, MinHash-LSH, SimHash, exact set-similarity joins, cluster resolution, dedup eval.
  *
  * Extracted verbatim from the SparkEntry registry; [[graft.SparkEntry]]
  * concatenates every family into the single driver-contract maps.
  */
private[graft] object DedupQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup by content hash (north-star op; MD5 is byte-identical
    // across engine and oracle).
    "q22_dedup_exact" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy(md5($"text").as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper_doc_id"))
        .orderBy($"keeper_doc_id")
    }),


    // MinHash signatures (4 hashes over 5-char shingles) — scan-side only.
    "q25_minhash_sig" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Dedup.minhashSig(t(s, dir, "documents"), "text", 4, 5)
        .select($"doc_id",
          element_at($"minhash", 1).as("mh0"), element_at($"minhash", 2).as("mh1"),
          element_at($"minhash", 3).as("mh2"), element_at($"minhash", 4).as("mh3"))
        .orderBy($"doc_id")
    }),


    // 32-bit SimHash over whitespace tokens.
    "q26_simhash" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Dedup.simhash32(t(s, dir, "documents"), "text", "simhash")
        .select($"doc_id", $"simhash".cast("long").as("simhash"))
        .orderBy($"doc_id")
    }),


    // Exact 5-gram Jaccard between consecutive documents (near-dup verify).
    "q27_jaccard_pairs" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val a = d.as("a"); val b = d.as("b")
      a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          (floor(graft.operators.Dedup.jaccard(col("a.text"), col("b.text"), 5) * 10000.0) / 10000.0).as("jac"))
        .orderBy($"id_a")
    }),


    // Rolling word-3-gram fingerprint (min stable hash — winnowing flavor).
    "q29_fingerprint" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", graft.operators.TextAnalysis.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    }),


    // Sign-LSH bucketing (the ANN scale path): 4 deterministic hyperplanes
    // → 16 buckets, computed at scan time.
    "q31_lsh_buckets" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "embeddings")
        .withColumn("bucket",
          graft.operators.SimilaritySearch.signBucket($"embedding", 64, 4).cast("long"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .orderBy($"bucket")
    }),


    // MinHash+LSH near-dup end-to-end: 8-hash signatures over 4-char
    // shingles -> 4 bands x 2 rows -> candidate pairs by band-hash equi-join
    // (ONE shuffle, never all-pairs) -> estimated-Jaccard verify >= 0.5.
    "q39_neardup_lsh" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Dedup.nearDupPairs(
          t(s, dir, "documents"), "doc_id", "text",
          numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
        .orderBy($"id_a", $"id_b")
    }),


    // Embedding-cosine near-dup inside sign-LSH buckets: bucket equi-join
    // (not all-pairs), cosine verify > 0.3.
    "q40_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      val b = t(s, dir, "embeddings")
        .withColumn("bucket",
          graft.operators.SimilaritySearch.signBucket($"embedding", 64, 4).cast("long"))
        .select($"vec_id", $"embedding", $"bucket")
      val a = b.select($"vec_id".as("id_a"), $"embedding".as("emb_a"), $"bucket")
      val c = b.select($"vec_id".as("id_b"), $"embedding".as("emb_b"), $"bucket")
      a.join(c, Seq("bucket")).filter($"id_a" < $"id_b")
        .withColumn("score",
          graft.functions.VectorFunctions.cosineSim($"emb_a", $"emb_b"))
        .filter($"score" > 0.3)
        .select($"id_a", $"id_b", fq4($"score").as("score"))
        .orderBy($"id_a", $"id_b")
    }),


    // Mergeable MinHash union via a typed Aggregator: per-source signature =
    // element-wise min of member signatures (partial+final composes exactly).
    "q42_source_signature" -> ((s, dir) => {
      import s.implicits._
      // element-wise min per component stays in codegen (partial+final
      // hash agg); the typed MinHashUnionAgg Aggregator is the library API
      // for streaming/hierarchical merges (SparkOpsSpec covers it)
      graft.operators.Dedup.minhashSig(t(s, dir, "documents"), "text", 4, 5)
        .groupBy($"source")
        .agg(min(element_at($"minhash", 1)).as("mh0"),
          min(element_at($"minhash", 2)).as("mh1"),
          min(element_at($"minhash", 3)).as("mh2"),
          min(element_at($"minhash", 4)).as("mh3"))
        .orderBy($"source")
    }),


    // Near-dup cluster resolution: full-signature-agreement LSH pairs
    // (est_jac = 1.0 — the "same document" candidates; looser thresholds on
    // this templated corpus collapse into one giant component) → connected
    // components by iterative min-label propagation (one join shuffle per
    // round, cut labels, O(diameter) rounds) → every doc
    // mapped to its component's minimum id as the dedup keeper.
    "q53_dedup_resolve" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup.nearDupPairs(
        docs, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 1.0)
      graft.operators.Dedup.resolveClustersSparse(pairs, docs.select($"doc_id"))
        .select($"id".as("doc_id"), $"keeper_id")
        .orderBy($"doc_id")
    }),


    // Mid-range near-dup cluster resolution: the corpus is sliced into 3
    // overlapping windows per document (stride n/8, width n/2), so adjacent
    // windows of one document land in the 0.5 ≤ est_jac < 1 band while the
    // outer pair usually does not — chains A~B~C with A≁C that min-label
    // propagation must actually ITERATE to resolve (≥2 rounds; q53's
    // exact-dup components collapse in one). Same bucketed LSH candidate
    // path as q39; edges filtered to the mid-range band before resolution.
    "q57_dedup_midrange" -> ((s, dir) => {
      import s.implicits._
      val win = t(s, dir, "documents")
        .filter($"doc_id" < 200)
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
      graft.operators.Dedup.resolveClustersSparse(pairs, win.select($"win_id"))
        .select($"id".as("win_id"), $"keeper_id")
        .orderBy($"win_id")
    }),


    // Paragraph-level exact dedup with document reconstruction (the CCNet
    // move: drop every repeated paragraph, keep its first occurrence by
    // (doc, position), rebuild documents from what survives). The testdata
    // documents are single-line, so "paragraphs" here are fixed 3-token
    // segments — ~19% of segments repeat across this corpus, exercising
    // the real cross-document path. Scale shape: posexplode at the scan,
    // ONE shuffle keyed by paragraph content for the first-occurrence
    // window, then the per-doc rebuild groups on doc_id (second, doc-keyed
    // shuffle) using the q10 ordered-collect idiom. No self-join, no
    // corpus² anything; the paragraph-hash exchange is the canonical
    // distributed shape for this op.
    "q68_paragraph_dedup" -> ((s, dir) => {
      import s.implicits._
      val pars = t(s, dir, "documents")
        .select($"doc_id", graft.operators.TextAnalysis.tokensCol($"text").as("tk"))
        .filter(size($"tk") > 0)
        .select($"doc_id", posexplode(transform(
          sequence(lit(0), ((size($"tk") + 2) / 3).cast("int") - 1),
          i => array_join(slice($"tk", i * 3 + 1, lit(3)), " "))))
        .select($"doc_id", ($"pos" + 1).as("idx"), $"col".as("p"))
      graft.operators.ParagraphDedup.dedupSummary(pars, "doc_id", "idx", "p")
        .orderBy($"doc_id")
    }),


    // SimHash-banded near-dup join — the Google web-dedup shape, and the
    // LSH family member the MinHash path doesn't cover (bit-sketch +
    // hamming instead of shingle-set + Jaccard). 4 bands x 8 bits, one
    // (band, key) equi-join shuffle, exact-hamming verify in the join
    // projection; banding is COMPLETE for hamming <= 3 by pigeonhole
    // (3 flipped bits cannot touch all 4 bands — spec-proven equal to
    // brute force). 1,327 pairs at sf0.01.
    "q75_simhash_neardup" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Dedup.simHashNearDupPairs(
          t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy($"id_a", $"id_b")
    }),


    // Incremental near-dup — the nightly-ingest dedup shape: the q58 hash
    // split carves a ~10% "new batch" (bucket >= 90) out of documents; the
    // remaining 90% stands in for the existing corpus, whose signature
    // index would be a STORED bucketed table in production (computed once
    // at ingest — here derived inline because the harness is stateless).
    // New docs are signature-banded ONCE, probed against the index, and
    // self-joined among themselves — per-batch cost O(delta + matched
    // buckets), never O(corpus^2). Output = q39's full-corpus pairs
    // restricted to pairs touching the delta (spec-proven), tagged
    // new_new / new_old.
    "q78_incremental_neardup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val bucket = pmod(graft.functions.HashFunctions
        .stableHash64(concat(lit("split:"), $"doc_id".cast("string"))), lit(100L))
      val index = graft.operators.Dedup.signatureIndex(
        docs.filter(bucket < 90), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2)
      graft.operators.Dedup.incrementalNearDupPairs(
          index, docs.filter(bucket >= 90), "doc_id", "text",
          numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
        .orderBy($"id_a", $"id_b")
    }),


    // The dedup END PRODUCT: near-dup pairs -> connected components ->
    // keeper map joined BACK to the corpus (one co-partitioned id equi-join
    // — the map carries two longs per doc, never text), keeping one doc per
    // cluster. Output is the per-source kept/dropped ledger a corpus
    // curation run reports; at 100 TB the same plan writes the kept docs
    // instead of counting them.
    "q81_dedup_corpus" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup.nearDupPairs(
        docs, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 1.0)
      val keep = graft.operators.Dedup.resolveClustersSparse(pairs, docs.select($"doc_id"))
      docs.join(keep, docs("doc_id") === keep("id"))
        .select($"source", ($"keeper_id" === $"doc_id").as("kept"), $"text")
        .groupBy($"source")
        .agg(sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"kept", 0L).otherwise(1L)).as("n_dropped"),
          sum(when($"kept", TextFunctions.numTokensCol($"text")).otherwise(lit(0)))
            .cast("long").as("kept_tokens"))
        .orderBy($"source")
    }),


    // Span-level EXACT substring dedup (Lee et al. arXiv:2107.06499): every
    // 5-token window repeated anywhere in the corpus marks its positions
    // duplicated; per doc the marks merge into maximal runs. The corpus
    // shuffle carries (doc, pos, xxhash64) — never window text; run-merge is
    // one lag window per doc. Catches boilerplate INSIDE otherwise-unique
    // docs, which q22/q39/q68 structurally cannot.
    "q85_span_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.operators.SpanDedup.spanProfile(
        t(s, dir, "documents"), "doc_id",
        graft.operators.TextAnalysis.tokensCol($"text"), k = 5, minCount = 2)
        .orderBy($"doc_id")
    }),


    // Cross-source duplication matrix — dedup ANALYTICS: which source
    // pairs share near-duplicate content (the "which crawls overlap, drop
    // which feed" decision). The q39 pipeline produces the pairs; two
    // doc_id-keyed joins attach sources (the pair side is output-sized,
    // the dim side carries two small columns, never text), and the
    // unordered (least, greatest) normalization folds both pair
    // orientations into one matrix cell.
    "q97_dup_source_matrix" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.nearDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
      val src = t(s, dir, "documents").select($"doc_id", $"source")
      pairs
        .join(src.toDF("id_a", "sa"), "id_a")
        .join(src.toDF("id_b", "sb"), "id_b")
        .select(least($"sa", $"sb").as("src_a"), greatest($"sa", $"sb").as("src_b"))
        .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy($"src_a", $"src_b")
    }),


    // The whole q39 MinHash-LSH dedup pipeline expressed PURELY in SQL text
    // through the registered native functions (minhash_sig at the scan,
    // band hashes via md5/conv — the same stableHash64 formula the
    // DataFrame path compiles, in-bucket signature-agreement verify,
    // threshold before DISTINCT). Proves a SQL-only user can run the dedup
    // suite; values are bit-identical to q39's DataFrame plan. Spark inlines
    // WITH-CTEs into every consumer, so a single-statement form would scan
    // the corpus + compute signatures TWICE (once per self-join side); the
    // band relation is therefore staged through an eagerly-cached temp view
    // — the SQL analogue of the DataFrame path's cut in
    // Dedup.bandSelfJoin. All statements are plain SQL: a SQL-only user
    // stages at scale exactly this way (or INSERTs into a staging table).
    "q56_sql_dedup" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("v_documents")
      sqlDedupPipeline(s)
    }),


    // Semantic dedup (SemDeDup, arXiv:2303.09540): cluster the embedding
    // space (deterministic centroids, broadcast; assignment is the IVF
    // map-side max_by — one scan), then mark within-cluster lower-id
    // neighbors at cosine >= 0.3 as duplicates via a self-equi-join on the
    // cell id. The quadratic check never leaves a cell, and k = 0 →
    // IvfIndex.autoK keeps cell interiors ~64 rows as the corpus grows —
    // the n·s cost stays linear without the caller raising k by hand.
    // The lexical dedup family (q39/q75/q85) cannot see these pairs —
    // paraphrases share no shingles.
    "q105_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.operators.IvfIndex.centroids(emb, k = 0, iters = 0)
      graft.operators.SemanticDedup.report(emb, cents, tau = 0.3)
    }),


    // n-gram CONTAINMENT over LSH candidates — Broder's asymmetric
    // near-superset measure (quote/inclusion detection): C(A,B) ≈ 1 with
    // low Jaccard means A is swallowed by B. Candidates come from the same
    // banded (band, hash) equi-join as q39 — the exact verifier only ever
    // runs on bucketed pairs, never all-pairs. Verifier shape: all three
    // measures in ONE compiled pass per pair (ShinglePairScores — separate
    // expressions rebuild the shingle sets per measure, 6 builds instead
    // of 2), behind an explicit-N repartition: the candidate relation is
    // bytes-tiny so AQE coalesces it onto a few cores, exactly the
    // compute-bound-projection trap q90 documents (28.8 → ~2 s at sf0.1).
    "q115_containment" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      // round 16 restructure (was: full-text join → hardcoded
      // repartition(32) → scorer → localCheckpoint):
      //  - the signature pass spreads across the session's parallelism;
      //  - the BYTES-TINY candidate pair relation (16 B/row) is
      //    repartitioned to the session's parallelism FIRST — an explicit-N
      //    exchange because AQE coalesces the distinct's small output onto
      //    one core right before the compute-bound verify (the q90 trap) —
      //    and only then are the texts attached (docs is a stats-carrying
      //    scan, so Spark broadcasts it at bench scale and shuffle-joins at
      //    corpus scale on its own);
      //  - ONE Tuning.once barrier (guide §4.4) pins a single scorer
      //    evaluation per pair where round 15 needed an eager
      //    localCheckpoint (plan: Scan ExistingRDD, UnknownPartitioning,
      //    AQE dead) to stop the 5-fold re-inlining.
      val sigs = graft.operators.Dedup
        .minhashSig(graft.operators.Tuning.spread(
          docs.select($"doc_id", $"text"), $"doc_id"),
          "text", numHashes = 8, shingle = 4)
        .select($"doc_id", $"minhash")
      // reversed key order ON PURPOSE: repartition(N, id_a, id_b) is
      // identical to the distinct's own exchange, so the optimizer drops
      // it as redundant and AQE then coalesces the tiny pair shuffle onto
      // one core right before the verify; (id_b, id_a) keeps a distinct
      // REPARTITION_BY_NUM exchange (16 B/row — cheap) that AQE must honor
      val cand = graft.operators.Dedup
        .lshCandidates(sigs, "doc_id", bands = 4, rowsPerBand = 2)
        .repartition(graft.operators.Tuning.spreadPartitions(docs),
          $"id_b", $"id_a")
      val scored = cand
        .join(docs.select($"doc_id".as("id_a"), $"text".as("text_a")), Seq("id_a"))
        .join(docs.select($"doc_id".as("id_b"), $"text".as("text_b")), Seq("id_b"))
        .select($"id_a", $"id_b",
          graft.operators.Tuning.once(
            graft.operators.Dedup.pairScores($"text_a", $"text_b", 5)).as("sc"))
      // sortShield before the global sort: the range exchange's SAMPLE
      // pass re-executes its child, which would run the verify over every
      // candidate pair twice; the shield exchange carries only the
      // output-sized filtered rows (25 at sf0.1 — vs round 15's eager
      // checkpoint of ALL scored candidates)
      graft.operators.Tuning.sortShield(
        scored.select($"id_a", $"id_b",
            fq4($"sc.cont_ab").as("cont_ab4"), fq4($"sc.cont_ba").as("cont_ba4"),
            fq4($"sc.jac").as("jac4"))
          .filter(greatest($"cont_ab4", $"cont_ba4") >= 0.8),
        $"id_a", $"id_b")
        .orderBy($"id_a", $"id_b")
    }),


    // Dedup SURVIVOR selection — the policy step after cluster resolution:
    // within each exact-dup cluster keep the longest version (ties →
    // lowest id), the "keep the most complete copy" rule real pipelines
    // apply. argmax rides a struct max inside the per-cluster aggregate —
    // no window, map-side partial.
    "q118_dedup_survivors" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup.nearDupPairs(
        docs, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 1.0)
      graft.operators.Dedup.resolveClustersSparse(pairs, docs.select($"doc_id"))
        .join(docs.select($"doc_id", $"n_chars"), $"id" === $"doc_id")
        .groupBy($"keeper_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct($"n_chars".as("nc"), (-$"doc_id").as("nid"))).as("best"))
        .filter($"n_members" >= 2)
        .select($"keeper_id".as("cluster_id"), $"n_members",
          (-$"best.nid").as("survivor_id"), $"best.nc".as("survivor_chars"))
        .orderBy($"cluster_id")
    }),


    // Span-dedup APPLY (Lee et al. §4): q85 profiles duplicated spans; this
    // REWRITES the corpus — every k-gram repeat after its corpus-wide first
    // occurrence cuts its covered positions, runs merge, survivors
    // reassemble into text_clean. Same single 8-byte-hash shuffle as the
    // profile (count + corpus rank in one window pass); run-merge BEFORE
    // position explosion keeps the covered stream O(dropped tokens).
    "q131_span_dedup_apply" -> ((s, dir) => {
      import s.implicits._
      graft.operators.SpanDedup.applySpanDedup(
        t(s, dir, "documents"), "doc_id",
        graft.operators.TextAnalysis.tokensCol($"text"), k = 5, minCount = 2)
        .orderBy($"doc_id")
    }),


    // Per-document n-gram novelty — the inverse of the dup profile: what
    // fraction of a doc's distinct 5-grams appear NOWHERE else in the
    // corpus (high novelty = unique content worth keeping; near-zero =
    // boilerplate assembled from shared runs). Spark shuffles 64-bit gram
    // hashes, never text (q85's convention, 2^-64 collision residual —
    // the oracle rebuilds the same decisions from gram text); one gram
    // hash-agg + one join back, both on the hash key.
    "q148_novelty_score" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val g = Tuning.cut(docs
        .select($"doc_id", explode(graft.operators.QualitySignals.ngramsStrict(
          graft.operators.TextAnalysis.tokensCol($"text"), 5)).as("g"))
        .select($"doc_id", xxhash64($"g").as("h")).distinct()) // distinct doc-gram set feeds df + per-doc agg
      val df5 = g.groupBy($"h").agg(count(lit(1)).as("nd"))
      val per = g.join(df5, Seq("h"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"nd" === 1, 1L).otherwise(0L)).as("n_unique"))
      docs.select($"doc_id").join(per, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_grams", lit(0L)).as("n_grams"),
          coalesce($"n_unique", lit(0L)).as("n_unique"))
        .withColumn("novelty4",
          when($"n_grams" > 0, expr("(n_unique * 10000) div n_grams") / lit(10000.0))
            .otherwise(lit(0.0)))
        .orderBy($"doc_id")
    }),


    // q164's audit wired to a REMEDY: Dedup.guardedClusters flags
    // components above 10% of the corpus and leaves them UNCOLLAPSED
    // (every member survives, keeper_id = id) instead of silently welding
    // a fifth of the corpus into one survivor — transitive band-collision
    // similarity is not similarity. Per-component report of the decision;
    // at sf0.01 the 102-doc chain (20% share) exercises the flagged path
    // while the small components keep collapsing. The guard costs one
    // component-sized aggregate + a scalar-count broadcast — never a
    // corpus-wide shuffle.
    "q165_guarded_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75)
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
        .orderBy($"component_id")
    }),


    // Nightly incremental span-dedup as a shipped query: docs >= 400 are
    // tonight's delta, the spanIndex of the base (< 400) stands in for
    // the stored parquet gram index. The oracle IS the parity property: the full-corpus
    // keep-first apply (q131's recursive SQL) restricted to the delta —
    // the driver gate certifies the combined-rank drop rule
    // (n_base >= 1 ∨ rn_delta >= 2 under append-only id order) end to
    // end. Timed cost at scale: the delta's gram stream + one probe of
    // the index — never a base re-scan (10× probe row).
    "q167_span_incremental" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idx = graft.operators.SpanDedup.spanIndex(
        docs.filter($"doc_id" < 400), "doc_id",
        graft.operators.TextAnalysis.tokensCol($"text"), k = 5)
      graft.operators.SpanDedup.applySpanDedupIncremental(
        idx, docs.filter($"doc_id" >= 400), "doc_id",
        graft.operators.TextAnalysis.tokensCol($"text"), k = 5, minCount = 2)
        .orderBy($"doc_id")
    }),


    // Medoid survivor selection — the principled upgrade of min-id
    // survivors (q118): per near-dup component, keep the member with the
    // greatest total similarity to its neighbors (graph strength = Σ of
    // 1e-4-quantized edge weights, ties to the lower id) — the "most
    // representative copy", not the accidentally-lowest id. Strength is
    // one node-keyed aggregation over the EDGE list (never all-pairs —
    // at 100 TB the pair graph is the sparse LSH output), the argmax is
    // a component-keyed WindowGroupLimit. Read with q164/q165: sizes
    // audit → guard → THEN choose survivors this way.
    "q187_medoid_survivors" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val pairs = Tuning.cut(graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75)) // labels + strengths both read it
      val lab = graft.operators.Dedup
        .resolveClustersSparse(pairs, docs.select($"doc_id"))
      val strength = pairs
        .select($"id_a".as("id"), expr("cast(floor(est_jac * 10000) as bigint)").as("w4"))
        .unionByName(pairs
          .select($"id_b".as("id"), expr("cast(floor(est_jac * 10000) as bigint)").as("w4")))
        .groupBy($"id").agg(sum($"w4").as("strength4"), count(lit(1)).as("degree"))
      val labeled = Tuning.cut(lab.join(strength, Seq("id")))
      val wm = Window.partitionBy($"keeper_id").orderBy($"strength4".desc, $"id")
      labeled.withColumn("rk", row_number().over(wm)).filter($"rk" === 1)
        .join(labeled.groupBy($"keeper_id").agg(count(lit(1)).as("n_members")),
          Seq("keeper_id"))
        .filter($"n_members" >= 2)
        .select($"keeper_id".as("component_id"), $"id".as("medoid_id"),
          $"n_members", $"strength4", $"degree")
        .orderBy($"component_id")
    }),


    // Dedup pipeline EVALUATION — the scorecard a deployment reads before
    // trusting q39's knobs: on a hash-sampled doc subset (1/8 of the
    // corpus — all-pairs exact Jaccard is affordable there and ONLY
    // there), the production LSH pipeline's predictions are scored
    // against exact char-4-gram Jaccard at three thresholds.
    // Precision/recall/F1 are exact integer ratios; the exact-Jaccard
    // cut is cross-multiplied (ni·10⁴ ≥ t4·|A∪B| — no float division),
    // and est_jac thresholds compare exactly (k/8 is binary-exact).
    // The result is the real finding every 8-hash MinHash deployment
    // rediscovers: at est ≥ 0.5 the estimator over-predicts near the
    // cut (precision collapses) while banding bounds recall at loose
    // cuts — signatures GENERATE candidates, exact verification decides
    // (q115's division of labor), and this query measures exactly why.
    //
    // HOT-GRAM CAP: the truth side's gram self-join fans out df² per
    // gram, and a stopword-grade gram present in most sampled docs turns
    // it into sample² — so grams with in-sample df > 64 are dropped from
    // BOTH sides of the exact-truth computation (the standard eval-side
    // frequent-gram cut) and the scorecard DISCLOSES the cut as
    // n_grams_capped. The cap bounds fan-out at 64²·n_grams; the sample
    // fraction must still shrink as the corpus grows (1/8 is a bench-
    // scale setting — at 100 TB the same absolute sample comes from a
    // much smaller fraction).
    "q207_dedup_eval" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val sub = Tuning.cut(docs.filter(pmod(graft.functions.HashFunctions.stableHash64(
          concat(lit("de:"), $"doc_id".cast("string"))), lit(8L)) === 0)
        .select($"doc_id", $"text"))
      val gramsAll = Tuning.cut(sub.select($"doc_id",
          explode(graft.operators.Dedup.shinglesCol($"text", 4)).as("g"))
        .select($"doc_id",
          pmod(graft.functions.HashFunctions.stableHash64($"g"),
            lit(2147483647L)).as("gh"))
        .distinct())
      val hot = Tuning.cut(gramsAll.groupBy($"gh").agg(count(lit(1)).as("df"))
        .filter($"df" > 64L).select($"gh"))
      val nCapped = broadcast(hot.agg(count(lit(1)).as("n_grams_capped")))
      val grams = Tuning.cut(gramsAll.join(hot, Seq("gh"), "left_anti"))
      val sizes = grams.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val inter = grams.as("a").join(grams.as("b"),
          $"a.gh" === $"b.gh" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
        .agg(count(lit(1)).as("ni"))
        .join(sizes.select($"doc_id".as("id_a"), $"sz".as("sza")), "id_a")
        .join(sizes.select($"doc_id".as("id_b"), $"sz".as("szb")), "id_b")
      val th = Seq(2500L, 5000L, 7500L).toDF("t4")
      val truth = inter.crossJoin(broadcast(th))
        .filter($"ni" * 10000L >= $"t4" * ($"sza" + $"szb" - $"ni"))
        .select($"t4", $"id_a", $"id_b")
      val predAll = graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text",
          numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.0)
        .join(sub.select($"doc_id".as("id_a")), "id_a")
        .join(sub.select($"doc_id".as("id_b")), "id_b")
      val pred = predAll.crossJoin(broadcast(th))
        .filter($"est_jac" * 10000.0 >= $"t4".cast("double"))
        .select($"t4", $"id_a", $"id_b")
      val nt = truth.groupBy($"t4").agg(count(lit(1)).as("n_true"))
      val np = pred.groupBy($"t4").agg(count(lit(1)).as("n_pred"))
      val ntp = pred.join(truth, Seq("t4", "id_a", "id_b"))
        .groupBy($"t4").agg(count(lit(1)).as("n_tp"))
      th.join(nt, Seq("t4"), "left").join(np, Seq("t4"), "left")
        .join(ntp, Seq("t4"), "left")
        .na.fill(0L, Seq("n_true", "n_pred", "n_tp"))
        .crossJoin(broadcast(sub.agg(count(lit(1)).as("n_docs"))))
        .crossJoin(nCapped)
        .select($"t4", $"n_docs", $"n_grams_capped", $"n_true", $"n_pred", $"n_tp",
          when($"n_pred" > 0, expr("(n_tp * 10000) div n_pred")).as("precision4"),
          when($"n_true" > 0, expr("(n_tp * 10000) div n_true")).as("recall4"),
          when($"n_pred" + $"n_true" > 0,
            expr("(2 * n_tp * 10000) div (n_pred + n_true)")).as("f1_4"))
        .orderBy($"t4")
    }),


    // EXACT set-similarity self-join with prefix filtering (AllPairs/
    // PPJoin, Bayardo'07/Xiao'08) — the exact complement to q39's
    // MinHash-LSH: every pair with true shingle-set Jaccard ≥ 0.5 and
    // nothing else, no banding luck. Runs over the q57 window corpus
    // (overlapping windows of one doc genuinely share shingles — the raw
    // corpus has no true near-dups: max exact J = 0.29). The prefix-
    // filter lemma makes the candidate equi-join lossless, so the oracle
    // is the straight brute-force all-pairs — identical rows proves the
    // filter dropped nothing. Scale: shuffles keyed by element and by id
    // only; rarest-first canonical order keeps prefix fan-out on low-df
    // elements (see [[graft.operators.SetSimJoin]]).
    "q215_setsim_exact" -> ((s, dir) => {
      import s.implicits._
      val win = t(s, dir, "documents")
        .filter($"doc_id" < 200)
        .withColumn("stride", greatest(lit(1L), floor(length($"text") / lit(8.0))))
        .withColumn("wlen", greatest(lit(4L), floor(length($"text") / lit(2.0))))
        .select(($"doc_id" * 3).as("base"), $"text", $"stride", $"wlen",
          explode(sequence(lit(0L), lit(2L))).as("w"))
        .select(($"base" + $"w").as("win_id"),
          $"text".substr(($"w" * $"stride" + 1).cast("int"), $"wlen".cast("int")).as("wtext"))
      graft.operators.SetSimJoin
        .selfJoin(win, "win_id", "wtext", shingleN = 5, tau4 = 5000L)
        .orderBy($"id_a", $"id_b")
    }),


    // Winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken SIGMOD'03,
    // the MOSS algorithm — [[graft.operators.Winnowing]]): per-window
    // minimum gram hashes with the GUARANTEE that any ≥ w+k−1-char shared
    // substring fingerprints identically in both documents at any offsets
    // — the local-overlap detector MinHash can miss and span-dedup only
    // catches position-aligned. Runs over the q215 window corpus
    // (overlapping windows of one doc genuinely share local stretches);
    // pair generation is fingerprint-bucketed behind the df ≤ 64
    // boilerplate guard, never all-pairs. The oracle replays gram
    // hashing, window minima, the df cap and the bucket join in SQL.
    "q272_winnowing_overlap" -> ((s, dir) => {
      import s.implicits._
      val win = t(s, dir, "documents")
        .filter($"doc_id" < 200)
        .withColumn("stride", greatest(lit(1L), floor(length($"text") / lit(8.0))))
        .withColumn("wlen", greatest(lit(4L), floor(length($"text") / lit(2.0))))
        .select(($"doc_id" * 3).as("base"), $"text", $"stride", $"wlen",
          explode(sequence(lit(0L), lit(2L))).as("w"))
        .select(($"base" + $"w").as("win_id"),
          $"text".substr(($"w" * $"stride" + 1).cast("int"), $"wlen".cast("int")).as("wtext"))
      val fps = graft.operators.Winnowing
        .fingerprints(win, "win_id", "wtext", k = 5, w = 4)
      graft.operators.Winnowing.overlapPairs(fps, minShared = 8, maxDf = 64)
        .orderBy($"id_a", $"id_b")
    }),


    // Blocked record linkage (entity resolution): a deterministic "dirty
    // feed" — every customer name with one digit deleted at a key-derived
    // position — is linked back to the clean table via rarest-2 q-gram
    // blocking + Levenshtein verify ([[graft.operators.RecordLinkage]]).
    // Both engines run the SAME classic DP levenshtein, so the verify is
    // exact; blocking is the replayable-heuristic contract (like LSH
    // banding). Measured here: rarest-2 blocking (≈14 candidates/record)
    // elects the IDENTICAL best matches as brute-force all-pairs — and
    // n_ties discloses the genuinely ambiguous deletions (a deleted
    // significant digit is equidistant from two source names).
    "q216_record_linkage" -> ((s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer")
      val clean = cust.select($"c_custkey".as("rid"), $"c_name".as("name"))
      val dirty = cust.select(($"c_custkey" + 10000000L).as("rid"),
        concat(
          $"c_name".substr(lit(1), (lit(9) + pmod($"c_custkey", lit(8))).cast("int")),
          expr("substring(c_name, cast(11 + c_custkey % 8 as int))")).as("name"))
      graft.operators.RecordLinkage
        .linkage(clean, dirty, "rid", "name", "rid", "name",
          q = 4, rarest = 2, maxDist = 2)
        .select($"rid".as("dirty_id"), $"lid".as("match_key"),
          $"dist", $"n_cands", $"n_ties")
        .orderBy($"dirty_id")
    }),


    // Repeated-span census ([[graft.operators.RepeatedSpans]]) — the
    // memorization audit (Lee et al. 2022's concern, measured): for a
    // ladder of lengths L ∈ {4, 8, 16, 32}, how many L-token windows
    // occur ≥ 2× corpus-wide and how hot is the hottest. Rising repeat
    // mass at large L = template/boilerplate contamination that per-doc
    // dedup misses; this instrument picks SpanDedup's k. Window text is
    // hashed at the scan; only (L, hash) longs shuffle.
    "q222_repeated_spans" -> ((s, dir) => {
      import s.implicits._
      graft.operators.RepeatedSpans
        .census(t(s, dir, "documents"), "doc_id", "text", Seq(4, 8, 16, 32))
        .orderBy($"span_len")
    }),


    // Incremental EXACT set-similarity join — q215's operator under the
    // q78/q167 nightly-delta cost model: only pairs TOUCHING tonight's
    // arrivals (delta×base, delta×delta) are computed, ordered by the
    // STORED base df table alone. Exactness survives the stale order
    // because the prefix lemma needs only a CONSISTENT total order on
    // both sides — df drift costs prefix selectivity, never a pair
    // ([[graft.operators.SetSimJoin.deltaJoin]]; the spec proves output
    // equality with the full self-join restricted to touching pairs).
    "q226_setsim_incremental" -> ((s, dir) => {
      import s.implicits._
      val win = Tuning.cut(t(s, dir, "documents")
        .filter($"doc_id" < 200)
        .withColumn("stride", greatest(lit(1L), floor(length($"text") / lit(8.0))))
        .withColumn("wlen", greatest(lit(4L), floor(length($"text") / lit(2.0))))
        .select(($"doc_id" * 3).as("base"), $"text", $"stride", $"wlen",
          explode(sequence(lit(0L), lit(2L))).as("w"))
        .select(($"base" + $"w").as("win_id"),
          $"text".substr(($"w" * $"stride" + 1).cast("int"), $"wlen".cast("int")).as("wtext"))) // base and delta sides both read it
      graft.operators.SetSimJoin
        .deltaJoin(win.filter(pmod($"win_id", lit(4L)) =!= 0),
          win.filter(pmod($"win_id", lit(4L)) === 0),
          "win_id", "wtext", shingleN = 5, tau4 = 5000L)
        .orderBy($"id_a", $"id_b")
    }),


    // q226 served FROM STORAGE — the deployment form its scaladoc
    // promised ([[graft.operators.SetSimJoin.buildIndex]] /
    // `deltaJoinStored`, the q210/q211 AnnIndex pattern): the base
    // corpus's canonical sets, prefix explode and df order are
    // MATERIALIZED as parquet once; tonight's delta shingles only
    // itself, sorts under the STORED df order, probes the stored prefix
    // table and verifies against the stored sets — the base text is
    // never re-read. Pairs are identical to q226's recompute form (the
    // stored order IS the base-df order), so the oracle is the same
    // brute-force proof.
    "q277_setsim_stored_index" -> ((s, dir) => {
      import s.implicits._
      val win = t(s, dir, "documents")
        .filter($"doc_id" < 200)
        .withColumn("stride", greatest(lit(1L), floor(length($"text") / lit(8.0))))
        .withColumn("wlen", greatest(lit(4L), floor(length($"text") / lit(2.0))))
        .select(($"doc_id" * 3).as("base"), $"text", $"stride", $"wlen",
          explode(sequence(lit(0L), lit(2L))).as("w"))
        .select(($"base" + $"w").as("win_id"),
          $"text".substr(($"w" * $"stride" + 1).cast("int"), $"wlen".cast("int")).as("wtext"))
      val idxDir = stagingDir(s, "graft_setsimidx")
      graft.operators.SetSimJoin.buildIndex(
        win.filter(pmod($"win_id", lit(4L)) =!= 0), idxDir,
        "win_id", "wtext", shingleN = 5, tau4 = 5000L)
      graft.operators.SetSimJoin.deltaJoinStored(s, idxDir,
          win.filter(pmod($"win_id", lit(4L)) === 0),
          "win_id", "wtext", shingleN = 5, tau4 = 5000L)
        .orderBy($"id_a", $"id_b")
    }),


    // Unicode-normalization-aware dedup — the text-cleaning stage byte-
    // level dedup needs: precomposed "é" (U+00E9) and decomposed
    // "e"+U+0301 are different byte strings that render identically, so
    // md5 dedup misses them until both sides pass through NFC (the new
    // native [[org.apache.spark.sql.graft.expressions.NfcNormalize]],
    // byte-identical to DuckDB's nfc_normalize — both implement the
    // Unicode standard). A derived corpus plants 150 pairs differing
    // ONLY by normalization form among 150 genuinely-distinct pairs; the
    // census shows raw dedup finds 0 groups, normalized finds exactly
    // the planted 150. Scan-side expression; dedup shuffles hashes only.
    "q227_unicode_dedup" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.graft.Bridge
      val d = t(s, dir, "documents").filter($"doc_id" < 300)
      // explicit \u escapes, NOT raw source codepoints (an editor or
      // formatter could silently NFC the file): va carries the
      // PRECOMPOSED forms (U+00E9, U+00F1), vb the DECOMPOSED
      // (e+U+0301, n+U+0303) — byte-distinct until NFC unifies them
      val va = d.select(($"doc_id" * 2).as("id"),
        when(pmod($"doc_id", lit(2L)) === 0,
          concat($"text", lit(" caf\u00e9 jalape\u00f1o")))
          .otherwise(concat($"text", lit(" alpha"))).as("txt"))
      val vb = d.select(($"doc_id" * 2 + 1).as("id"),
        when(pmod($"doc_id", lit(2L)) === 0,
          concat($"text", lit(" cafe\u0301 jalapen\u0303o")))
          .otherwise(concat($"text", lit(" beta"))).as("txt"))
      val corpus2 = Tuning.cut(va.unionByName(vb))
      val nfc = Bridge.toColumn(
        org.apache.spark.sql.graft.expressions.NfcNormalize(Bridge.toExpr($"txt")))
      def census(h: org.apache.spark.sql.Column, pfx: String) = corpus2
        .groupBy(h.as("h")).agg(count(lit(1)).as("n")).filter($"n" >= 2)
        .agg(count(lit(1)).as(s"${pfx}_groups"),
          coalesce(sum($"n"), lit(0L)).as(s"${pfx}_members"))
      corpus2
        .agg(count(lit(1)).as("n_rows"),
          sum((nfc =!= $"txt").cast("long")).as("n_changed"))
        .crossJoin(census(md5($"txt"), "raw"))
        .crossJoin(census(md5(nfc), "norm"))
    }),


    // Dedup threshold-sweep tuning curve — the knob-selection evidence a
    // deployment reads before committing q39's threshold: ONE candidate
    // generation + verification pass (est_jac is k/8, binary-exact), then
    // every τ on the /8-aligned grid filters the SAME pair relation —
    // pairs and docs-touched per τ, never a re-run of LSH per knob. The
    // grid literals are exact binary fractions on both engines.
    "q250_threshold_sweep" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.nearDupPairs(
          t(s, dir, "documents"), "doc_id", "text",
          numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2,
          threshold = 0.5)
      val taus = broadcast(Seq(0.5, 0.625, 0.75, 0.875, 1.0).toDF("tau"))
      val cut = Tuning.cut(pairs.crossJoin(taus).filter($"est_jac" >= $"tau")) // pair counts + endpoint distinct
      val np = cut.groupBy($"tau").agg(count(lit(1)).as("n_pairs"))
      val nd = cut
        .select($"tau", explode(array($"id_a", $"id_b")).as("id"))
        .groupBy($"tau").agg(countDistinct($"id").as("n_docs"))
      np.join(nd, Seq("tau"))
        .select(($"tau" * 10000.0).cast("long").as("tau4"),
          $"n_pairs", $"n_docs")
        .orderBy($"tau4")
    }),


    // b-bit minhash audit (Li & König, CACM 2011) — how much similarity
    // signal survives keeping ONE bit per hash: for every LSH candidate
    // pair, the full 8-hash agreement (est = k/8) sits next to the 1-bit
    // estimator 2·(agree₁/8) − 1, bucketed by the full agreement count.
    // The point a deployment reads: at 8 hashes the 1-bit estimator is
    // unusably noisy for mid similarities (spread disclosed as min/max
    // bps) yet 64× smaller — the storage/precision trade quantified.
    // Signatures shuffle once; everything else is 9-row buckets.
    "q251_bbit_minhash" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val sigs = Tuning.cut(graft.operators.Dedup
        .minhashSig(docs, "text", numHashes = 8, shingle = 4)
        .select($"doc_id", $"minhash")) // joined to both pair sides
      val cand = graft.operators.Dedup.nearDupPairs(
          docs, "doc_id", "text",
          numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2,
          threshold = 0.0)
        .select($"id_a", $"id_b")
      cand
        .join(sigs.select($"doc_id".as("id_a"), $"minhash".as("mha")), "id_a")
        .join(sigs.select($"doc_id".as("id_b"), $"minhash".as("mhb")), "id_b")
        .select(
          expr("cast(size(filter(zip_with(mha, mhb, (x, y) -> x = y), b -> b)) as bigint)")
            .as("agree8"),
          expr("cast(size(filter(zip_with(mha, mhb, (x, y) -> x % 2 = y % 2), b -> b)) as bigint)")
            .as("agree1"))
        .select($"agree8", ((lit(2L) * $"agree1" - 8L) * 1250L).as("est1_bps"))
        .groupBy($"agree8")
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(est1_bps) div count(1)").as("avg_est1_bps"),
          min($"est1_bps").as("min_est1_bps"),
          max($"est1_bps").as("max_est1_bps"))
        .orderBy($"agree8")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q22_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keeper_doc_id FROM documents GROUP BY md5(text) ORDER BY keeper_doc_id""",

    "q25_minhash_sig" -> {
      def mh(j: Int) = {
        val a = (1000003L * (j + 1)) % 2147483647L
        val b = 12345L + 7919L * j
        s"list_min(list_transform(shash, h -> (h * $a + $b) % 2147483647)) AS mh$j"
      }
      s"""SELECT doc_id, ${mh(0)}, ${mh(1)}, ${mh(2)}, ${mh(3)} FROM (SELECT doc_id, list_transform(CASE WHEN length(text) < 5 THEN [text] ELSE list_transform(range(1, length(text)-3), i -> substr(text, i, 5)) END, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS shash FROM documents) ORDER BY doc_id"""
    },

    "q26_simhash" ->
      """SELECT doc_id, list_sum(list_transform(range(0,32), k -> CASE WHEN coalesce(list_sum(list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != ''), t -> CASE WHEN (('0x' || substr(md5(t),1,15))::BIGINT >> k) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0 THEN (1::BIGINT << k) ELSE 0::BIGINT END))::BIGINT AS simhash FROM documents ORDER BY doc_id""",

    "q27_jaccard_pairs" ->
      """SELECT id_a, id_b, floor(len(list_intersect(sa, sb))::DOUBLE / len(list_distinct(sa || sb)) * 10000.0) / 10000.0 AS jac FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, list_distinct(CASE WHEN length(a.text) < 5 THEN [a.text] ELSE list_transform(range(1, length(a.text)-3), i -> substr(a.text, i, 5)) END) AS sa, list_distinct(CASE WHEN length(b.text) < 5 THEN [b.text] ELSE list_transform(range(1, length(b.text)-3), i -> substr(b.text, i, 5)) END) AS sb FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1) ORDER BY id_a""",

    "q29_fingerprint" ->
      """SELECT doc_id, list_min(list_transform(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END, g -> ('0x' || substr(md5(g),1,15))::BIGINT)) AS fp FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t != '') AS toks FROM documents) ORDER BY doc_id""",

    "q31_lsh_buckets" ->
      """SELECT bucket, count(*) AS n FROM (SELECT list_sum(list_transform(range(0,4), p -> CASE WHEN list_sum(list_transform(range(0,64), i -> embedding[i+1]::DOUBLE * ((('0x' || substr(md5('plane:' || p::VARCHAR || ':' || i::VARCHAR),1,15))::BIGINT % 2001) - 1000) / 1000.0)) > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS bucket FROM embeddings) GROUP BY bucket ORDER BY bucket""",

    "q39_neardup_lsh" ->
      s"""WITH $LshVerifiedCtes SELECT id_a, id_b, est_jac FROM verified WHERE est_jac >= 0.5 ORDER BY id_a, id_b""",

    // q56 is the SQL-text expression of exactly q39's pipeline — same oracle
    "q56_sql_dedup" ->
      s"""WITH $LshVerifiedCtes SELECT id_a, id_b, est_jac FROM verified WHERE est_jac >= 0.5 ORDER BY id_a, id_b""",

    "q40_embed_neardup" ->
      """WITH b AS (SELECT vec_id, embedding, list_sum(list_transform(range(0,4), p -> CASE WHEN list_sum(list_transform(range(0,64), i -> embedding[i+1]::DOUBLE * ((('0x' || substr(md5('plane:' || p::VARCHAR || ':' || i::VARCHAR),1,15))::BIGINT % 2001) - 1000) / 1000.0)) > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS bucket FROM embeddings) SELECT a.vec_id AS id_a, c.vec_id AS id_b, floor(list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) * 10000.0) / 10000.0 AS score FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id WHERE list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0.3 ORDER BY id_a, id_b""",

    "q42_source_signature" ->
      """SELECT source, min(mh0) AS mh0, min(mh1) AS mh1, min(mh2) AS mh2, min(mh3) AS mh3 FROM (SELECT source, list_min(list_transform(shash, h -> (h * 1000003 + 12345) % 2147483647)) AS mh0, list_min(list_transform(shash, h -> (h * 2000006 + 20264) % 2147483647)) AS mh1, list_min(list_transform(shash, h -> (h * 3000009 + 28183) % 2147483647)) AS mh2, list_min(list_transform(shash, h -> (h * 4000012 + 36102) % 2147483647)) AS mh3 FROM (SELECT source, list_transform(CASE WHEN length(text) < 5 THEN [text] ELSE list_transform(range(1, length(text)-3), i -> substr(text, i, 5)) END, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS shash FROM documents)) GROUP BY source ORDER BY source""",

    "q53_dedup_resolve" ->
      s"""WITH RECURSIVE $LshVerifiedCtes,
good AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 1.0),
edges AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b AS src, id_a AS dst FROM good),
reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id)
SELECT id AS doc_id, min(r) AS keeper_id FROM reach GROUP BY id ORDER BY doc_id""",

    "q57_dedup_midrange" ->
      s"""WITH RECURSIVE
win AS (SELECT doc_id*3 + w AS doc_id, substr(text, 1 + w*greatest(1, cast(floor(length(text)/8.0) AS BIGINT)), greatest(4, cast(floor(length(text)/2.0) AS BIGINT))) AS text FROM (SELECT doc_id, text FROM documents WHERE doc_id < 200), (SELECT unnest([0,1,2]) AS w)),
${lshVerifiedCtes("win")},
good AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.5 AND est_jac < 1.0),
edges AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b AS src, id_a AS dst FROM good),
reach AS (SELECT doc_id AS id, doc_id AS r FROM win UNION SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id)
SELECT id AS win_id, min(r) AS keeper_id FROM reach GROUP BY id ORDER BY win_id""",

    "q68_paragraph_dedup" ->
      raw"""WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tk FROM documents),
segs AS (
  SELECT doc_id, i AS idx, array_to_string(tk[(i-1)*3+1 : i*3], ' ') AS p
  FROM toks, (SELECT unnest(range(1, 1000)) AS i)
  WHERE len(tk) > 0 AND (i-1)*3 < len(tk)),
rk AS (
  SELECT doc_id, idx, p, row_number() OVER (PARTITION BY p ORDER BY doc_id, idx) AS rn FROM segs)
SELECT doc_id, count(*) AS n_pars,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       md5(coalesce(string_agg(p, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '')) AS kept_md5
FROM rk GROUP BY doc_id ORDER BY doc_id""",

    "q75_simhash_neardup" ->
      raw"""WITH s AS (
  SELECT doc_id, list_sum(list_transform(range(0,32), k -> CASE WHEN coalesce(list_sum(list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != ''), t -> CASE WHEN (('0x' || substr(md5(t),1,15))::BIGINT >> k) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0 THEN (1::BIGINT << k) ELSE 0::BIGINT END))::BIGINT AS sh
  FROM documents),
bands AS (
  SELECT doc_id, sh, b, (sh >> (b * 8)) & 255 AS key
  FROM s, (SELECT unnest(range(0, 4)) AS b))
SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, bit_count(xor(a.sh, c.sh))::BIGINT AS hamming
FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
WHERE bit_count(xor(a.sh, c.sh)) <= 3
ORDER BY id_a, id_b""",

    // the full-corpus verified pairs restricted to pairs touching the delta
    // (bucket >= 90) — exactly what the incremental operator must produce
    "q78_incremental_neardup" ->
      s"""WITH $LshVerifiedCtes,
dd AS (SELECT doc_id FROM documents WHERE ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 >= 90)
SELECT id_a, id_b, est_jac,
  CASE WHEN id_a IN (SELECT doc_id FROM dd) AND id_b IN (SELECT doc_id FROM dd)
       THEN 'new_new' ELSE 'new_old' END AS pair_kind
FROM verified
WHERE est_jac >= 0.5 AND (id_a IN (SELECT doc_id FROM dd) OR id_b IN (SELECT doc_id FROM dd))
ORDER BY id_a, id_b""",

    // q53's component resolution joined back to the corpus as a keep filter
    "q81_dedup_corpus" ->
      raw"""WITH RECURSIVE $LshVerifiedCtes,
good AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 1.0),
edges AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b AS src, id_a AS dst FROM good),
reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id),
keep AS (SELECT id AS doc_id, min(r) AS keeper_id FROM reach GROUP BY id)
SELECT source,
  sum(CASE WHEN keeper_id = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  sum(CASE WHEN keeper_id = doc_id THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
  sum(CASE WHEN keeper_id = doc_id THEN len(regexp_extract_all(text, '\w+|[^\w\s]')) ELSE 0 END)::BIGINT AS kept_tokens
FROM documents JOIN keep USING (doc_id)
GROUP BY source ORDER BY source""",

    "q85_span_dedup" ->
      raw"""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS w FROM documents),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks WHERE len(w) >= 5)),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
dpos AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
runs AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL THEN 5
              ELSE least(5, pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)) END AS contrib,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5 THEN 1 ELSE 0 END AS new_run
  FROM dpos)
SELECT t.doc_id, len(t.w)::BIGINT AS n_tok,
       coalesce(count(r.pos), 0)::BIGINT AS n_dup_grams,
       coalesce(sum(r.new_run), 0)::BIGINT AS n_runs,
       coalesce(sum(r.contrib), 0)::BIGINT AS n_dup_tokens,
       floor(coalesce(sum(r.contrib), 0)::DOUBLE / greatest(len(t.w), 1) * 10000.0) / 10000.0 AS dup_frac4
FROM toks t LEFT JOIN runs r USING (doc_id)
GROUP BY t.doc_id, len(t.w) ORDER BY t.doc_id""",

    "q97_dup_source_matrix" ->
      s"""WITH $LshVerifiedCtes, pairs AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.5)
SELECT least(da.source, db.source) AS src_a, greatest(da.source, db.source) AS src_b, count(*) AS n_pairs
FROM pairs p JOIN documents da ON p.id_a = da.doc_id JOIN documents db ON p.id_b = db.doc_id
GROUP BY src_a, src_b ORDER BY src_a, src_b""",

    "q105_semantic_dedup" ->
      """WITH kk AS (SELECT greatest(8, (count(*) + 63) // 64) AS k FROM embeddings),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS srn FROM embeddings) s, kk WHERE s.srn <= kk.k),
cells AS (SELECT vec_id, embedding, centroid_id FROM (SELECT e.vec_id, e.embedding, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
dups AS (SELECT centroid_id, count(*) AS n_dup FROM (SELECT DISTINCT b.centroid_id, b.vec_id FROM cells a JOIN cells b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3) GROUP BY centroid_id)
SELECT s.centroid_id, n_vecs, coalesce(n_dup, 0)::BIGINT AS n_dup, (n_vecs - coalesce(n_dup, 0))::BIGINT AS n_kept
FROM (SELECT centroid_id, count(*) AS n_vecs FROM cells GROUP BY centroid_id) s LEFT JOIN dups USING (centroid_id) ORDER BY centroid_id""",

    "q115_containment" ->
      s"""WITH $LshVerifiedCtes,
sh AS (SELECT doc_id, list_distinct(CASE WHEN length(text) < 5 THEN [text] ELSE list_transform(range(1, length(text)-3), i -> substr(text, i, 5)) END) AS g FROM documents),
scored AS (SELECT id_a, id_b,
  floor(len(list_intersect(a.g, b.g))::DOUBLE / len(a.g) * 10000.0) / 10000.0 AS cont_ab4,
  floor(len(list_intersect(b.g, a.g))::DOUBLE / len(b.g) * 10000.0) / 10000.0 AS cont_ba4,
  floor(len(list_intersect(a.g, b.g))::DOUBLE / len(list_distinct(a.g || b.g)) * 10000.0) / 10000.0 AS jac4
FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
SELECT id_a, id_b, cont_ab4, cont_ba4, jac4 FROM scored WHERE greatest(cont_ab4, cont_ba4) >= 0.8 ORDER BY id_a, id_b""",

    "q118_dedup_survivors" ->
      s"""WITH RECURSIVE $LshVerifiedCtes,
good AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 1.0),
edges AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b AS src, id_a AS dst FROM good),
reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id),
cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
j AS (SELECT cl.cluster_id, d.doc_id, d.n_chars FROM cl JOIN documents d USING (doc_id)),
rk AS (SELECT cluster_id, doc_id, n_chars, row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn, count(*) OVER (PARTITION BY cluster_id) AS n_members FROM j)
SELECT cluster_id, n_members::BIGINT AS n_members, doc_id AS survivor_id, n_chars AS survivor_chars FROM rk WHERE rn = 1 AND n_members >= 2 ORDER BY cluster_id""",

    // q131 rewrites with gram TEXT where Spark uses xxhash64 — same
    // duplication + survivor decisions (2^-64 residual, as q85)
    "q131_span_dedup_apply" ->
      raw"""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS w FROM documents),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks WHERE len(w) >= 5)),
occ AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY g) AS n_occ
  FROM grams),
drops AS (SELECT doc_id, pos FROM occ WHERE n_occ >= 2 AND rn >= 2),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5 THEN 1 ELSE 0 END AS new_run
  FROM drops),
runs AS (
  SELECT doc_id, run_id, min(pos) AS s, max(pos) + 4 AS e
  FROM (SELECT doc_id, pos, sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id FROM marked)
  GROUP BY doc_id, run_id),
covered AS (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM runs),
tok AS (SELECT doc_id, idx, w[idx] AS tk
        FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS idx FROM toks)),
kept AS (
  SELECT t.doc_id, t.idx, t.tk
  FROM tok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.p
  WHERE c.p IS NULL)
SELECT d.doc_id, len(d.w)::BIGINT AS n_tok,
       coalesce(count(k.idx), 0)::BIGINT AS n_kept,
       (len(d.w) - coalesce(count(k.idx), 0))::BIGINT AS n_dropped,
       coalesce(string_agg(k.tk, ' ' ORDER BY k.idx), '') AS text_clean
FROM toks d LEFT JOIN kept k USING (doc_id)
GROUP BY d.doc_id, len(d.w) ORDER BY d.doc_id""",

    // q148: gram TEXT replays Spark's xxhash64 decisions (2^-64 residual)
    "q148_novelty_score" ->
      raw"""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS w FROM documents),
g AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g FROM (SELECT doc_id, w, unnest(range(1, len(w)-3)) AS i FROM tk WHERE len(w) >= 5))),
df5 AS (SELECT g, count(*)::BIGINT AS nd FROM g GROUP BY g),
per AS (SELECT doc_id, count(*)::BIGINT AS n_grams, sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique FROM g JOIN df5 USING (g) GROUP BY doc_id)
SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams, coalesce(n_unique, 0)::BIGINT AS n_unique,
       CASE WHEN coalesce(n_grams, 0) > 0 THEN ((n_unique * 10000) // n_grams)::DOUBLE / 10000.0 ELSE 0.0 END AS novelty4
FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""",

    // q165: q164's components + the exact integer share gate; flagged
    // components report every member surviving
    "q165_guarded_dedup" ->
      s"""WITH RECURSIVE $LshVerifiedCtes,
good AS (SELECT id_a, id_b FROM verified WHERE est_jac >= 0.75),
edges AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b AS src, id_a AS dst FROM good),
reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id),
lab AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
sizes AS (SELECT component_id, count(*)::BIGINT AS sz FROM lab GROUP BY component_id),
tot AS (SELECT count(*)::BIGINT AS n FROM lab)
SELECT component_id, sz AS n_members, ((sz * 10000) // n)::DOUBLE / 10000.0 AS share4,
  (CASE WHEN sz * 10000 > 1000 * n THEN 1 ELSE 0 END)::INT AS flagged,
  (CASE WHEN sz * 10000 > 1000 * n THEN sz ELSE 1 END)::BIGINT AS n_survivors
FROM sizes, tot WHERE sz >= 2 ORDER BY component_id""",

    // q167: the oracle IS the parity property — q131's full-corpus
    // keep-first apply, restricted to the delta docs
    "q167_span_incremental" ->
      raw"""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS w FROM documents),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks WHERE len(w) >= 5)),
occ AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY g) AS n_occ
  FROM grams),
drops AS (SELECT doc_id, pos FROM occ WHERE n_occ >= 2 AND rn >= 2),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5 THEN 1 ELSE 0 END AS new_run
  FROM drops),
runs AS (
  SELECT doc_id, run_id, min(pos) AS s, max(pos) + 4 AS e
  FROM (SELECT doc_id, pos, sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id FROM marked)
  GROUP BY doc_id, run_id),
covered AS (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM runs),
tok AS (SELECT doc_id, idx, w[idx] AS tk
        FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS idx FROM toks)),
kept AS (
  SELECT t.doc_id, t.idx, t.tk
  FROM tok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.p
  WHERE c.p IS NULL)
SELECT d.doc_id, len(d.w)::BIGINT AS n_tok,
       coalesce(count(k.idx), 0)::BIGINT AS n_kept,
       (len(d.w) - coalesce(count(k.idx), 0))::BIGINT AS n_dropped,
       coalesce(string_agg(k.tk, ' ' ORDER BY k.idx), '') AS text_clean
FROM toks d LEFT JOIN kept k USING (doc_id)
WHERE d.doc_id >= 400
GROUP BY d.doc_id, len(d.w) ORDER BY d.doc_id""",

    // q187: q164's component CTEs + node strength from the edge list +
    // per-component argmax
    "q187_medoid_survivors" ->
      s"""WITH RECURSIVE $LshVerifiedCtes,
good AS (SELECT id_a, id_b, est_jac FROM verified WHERE est_jac >= 0.75),
edges AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b AS src, id_a AS dst FROM good),
reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id),
lab AS (SELECT id, min(r) AS keeper_id FROM reach GROUP BY id),
str AS (SELECT id, sum(w4)::BIGINT AS strength4, count(*)::BIGINT AS degree FROM (SELECT id_a AS id, floor(est_jac * 10000)::BIGINT AS w4 FROM good UNION ALL SELECT id_b AS id, floor(est_jac * 10000)::BIGINT AS w4 FROM good) GROUP BY id),
l2 AS (SELECT lab.keeper_id, str.id, str.strength4, str.degree FROM lab JOIN str ON lab.id = str.id),
sz AS (SELECT keeper_id, count(*)::BIGINT AS n_members FROM l2 GROUP BY 1),
m AS (SELECT keeper_id, id, strength4, degree, row_number() OVER (PARTITION BY keeper_id ORDER BY strength4 DESC, id) AS rk FROM l2)
SELECT m.keeper_id AS component_id, m.id AS medoid_id, sz.n_members, m.strength4, m.degree
FROM m JOIN sz ON m.keeper_id = sz.keeper_id WHERE m.rk = 1 AND sz.n_members >= 2 ORDER BY component_id""",

    // q207: the full LSH pipeline (no threshold) joined to the sampled
    // subset, scored against exact cross-multiplied gram Jaccard at the
    // same three cuts
    "q207_dedup_eval" ->
      s"""WITH $LshVerifiedCtes,
sub AS (SELECT doc_id, text FROM documents WHERE ('0x' || substr(md5('de:' || doc_id::VARCHAR), 1, 15))::BIGINT % 8 = 0),
grams_all AS (SELECT DISTINCT doc_id, gh FROM (SELECT doc_id, unnest(list_transform(CASE WHEN length(text) < 4 THEN [text] ELSE list_transform(range(1, length(text)-2), i -> substr(text, i, 4)) END, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)) AS gh FROM sub)),
hot AS (SELECT gh FROM (SELECT gh, count(*)::BIGINT AS df FROM grams_all GROUP BY 1) WHERE df > 64),
ncap AS (SELECT count(*)::BIGINT AS n_grams_capped FROM hot),
grams AS (SELECT g.doc_id, g.gh FROM grams_all g ANTI JOIN hot ON g.gh = hot.gh),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM grams GROUP BY 1),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS ni FROM grams a JOIN grams b ON a.gh = b.gh AND a.doc_id < b.doc_id GROUP BY 1, 2),
th AS (SELECT unnest([2500, 5000, 7500])::BIGINT AS t4),
truth AS (SELECT t4, id_a, id_b FROM inter JOIN sz za ON inter.id_a = za.doc_id JOIN sz zb ON inter.id_b = zb.doc_id, th WHERE ni * 10000 >= t4 * (za.sz + zb.sz - ni)),
pred AS (SELECT t4, v.id_a, v.id_b FROM verified v JOIN sub a ON v.id_a = a.doc_id JOIN sub b ON v.id_b = b.doc_id, th WHERE v.est_jac * 10000.0 >= t4),
nt AS (SELECT t4, count(*)::BIGINT AS n_true FROM truth GROUP BY 1),
np AS (SELECT t4, count(*)::BIGINT AS n_pred FROM pred GROUP BY 1),
ntp AS (SELECT t4, count(*)::BIGINT AS n_tp FROM pred JOIN truth USING (t4, id_a, id_b) GROUP BY 1),
nd AS (SELECT count(*)::BIGINT AS n_docs FROM sub)
SELECT th.t4, nd.n_docs, ncap.n_grams_capped, coalesce(n_true, 0)::BIGINT AS n_true, coalesce(n_pred, 0)::BIGINT AS n_pred, coalesce(n_tp, 0)::BIGINT AS n_tp,
  CASE WHEN coalesce(n_pred, 0) > 0 THEN (coalesce(n_tp, 0) * 10000) // n_pred END::BIGINT AS precision4,
  CASE WHEN coalesce(n_true, 0) > 0 THEN (coalesce(n_tp, 0) * 10000) // n_true END::BIGINT AS recall4,
  CASE WHEN coalesce(n_pred, 0) + coalesce(n_true, 0) > 0 THEN (2 * coalesce(n_tp, 0) * 10000) // (coalesce(n_pred, 0) + coalesce(n_true, 0)) END::BIGINT AS f1_4
FROM th LEFT JOIN nt USING (t4) LEFT JOIN np USING (t4) LEFT JOIN ntp USING (t4), nd, ncap
ORDER BY th.t4""",


    // q215: brute-force exact all-pairs — equality with the engine's
    // prefix-filtered plan IS the exactness proof for the filter
    "q215_setsim_exact" ->
      """WITH win AS (SELECT doc_id*3 + w AS win_id, substr(text, 1 + w*greatest(1, cast(floor(length(text)/8.0) AS BIGINT)), greatest(4, cast(floor(length(text)/2.0) AS BIGINT))) AS wtext FROM (SELECT doc_id, text FROM documents WHERE doc_id < 200), (SELECT unnest([0,1,2]) AS w)),
s AS (SELECT win_id, list_distinct(CASE WHEN length(wtext) < 5 THEN [wtext] ELSE list_transform(range(1, length(wtext)-3), i -> substr(wtext, i, 5)) END) AS sh FROM win),
p AS (SELECT a.win_id AS id_a, b.win_id AS id_b, len(list_intersect(a.sh, b.sh))::BIGINT AS inter, (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT AS uni FROM s a JOIN s b ON a.win_id < b.win_id)
SELECT id_a, id_b, inter, uni, inter * 10000 // uni AS jac4 FROM p WHERE inter * 10000 >= 5000 * uni ORDER BY id_a, id_b""",

    // q272: gram hashes, per-window minima (ROWS frames over per-doc
    // positions), the short-doc maximal-window exception, the df <= 64
    // cap and the fingerprint-bucket pair join, all replayed in SQL
    "q272_winnowing_overlap" ->
      """WITH win AS (SELECT doc_id*3 + w AS win_id, substr(text, 1 + w*greatest(1, cast(floor(length(text)/8.0) AS BIGINT)), greatest(4, cast(floor(length(text)/2.0) AS BIGINT))) AS wtext FROM (SELECT doc_id, text FROM documents WHERE doc_id < 200), (SELECT unnest([0,1,2]) AS w)),
g0 AS (SELECT win_id, i, CASE WHEN length(wtext) < 5 THEN wtext ELSE substr(wtext, i::INT, 5) END AS g FROM (SELECT win_id, wtext, unnest(range(1, greatest(2, length(wtext)-3))) AS i FROM win)),
h0 AS (SELECT win_id, i, ('0x' || substr(md5('win:' || g), 1, 15))::BIGINT AS h, count(*) OVER (PARTITION BY win_id) AS n FROM g0),
fpw AS (SELECT win_id, i, n, min(h) OVER (PARTITION BY win_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS f FROM h0),
fp AS (SELECT DISTINCT win_id, f AS fp FROM fpw WHERE i >= least(4, n)),
dfc AS (SELECT fp, count(*)::BIGINT AS df FROM fp GROUP BY fp),
rare AS (SELECT f.win_id, f.fp FROM fp f JOIN dfc USING (fp) WHERE df <= 64),
pr AS (SELECT a.win_id AS id_a, b.win_id AS id_b, count(*)::BIGINT AS n_shared FROM rare a JOIN rare b ON a.fp = b.fp AND a.win_id < b.win_id GROUP BY 1, 2)
SELECT id_a, id_b, n_shared FROM pr WHERE n_shared >= 8 ORDER BY id_a, id_b""",


    // q216: full algorithm replay — deterministic mangle, distinct q-grams
    // with first positions, global df, rarest-2 nomination, candidate
    // join, levenshtein verify, (dist, lid) election with tie census
    "q216_record_linkage" ->
      """WITH clean AS (SELECT c_custkey AS rid, c_name AS name FROM customer),
dirty AS (SELECT c_custkey + 10000000 AS rid, substr(c_name, 1, (9 + (c_custkey % 8))::INTEGER) || substr(c_name, (11 + (c_custkey % 8))::INTEGER) AS name FROM customer),
au AS (SELECT rid, name FROM clean UNION ALL SELECT rid, name FROM dirty),
ag AS (SELECT rid, g, min(pos) AS pos FROM (SELECT rid, i AS pos, substr(name, i::INTEGER, 4) AS g FROM (SELECT rid, name, unnest(range(1, length(name) - 2)) AS i FROM au)) GROUP BY rid, g),
gdf AS (SELECT g, count(*) AS df FROM ag GROUP BY g),
rare AS (SELECT rid, g FROM (SELECT ag.rid, ag.g, row_number() OVER (PARTITION BY ag.rid ORDER BY gdf.df, ag.g, ag.pos) AS rn FROM ag JOIN gdf USING (g)) WHERE rn <= 2),
cand AS (SELECT DISTINCT a.rid AS lid, b.rid AS rid FROM rare a JOIN rare b ON a.g = b.g AND a.rid < 10000000 AND b.rid >= 10000000),
nc AS (SELECT rid, count(*) AS n_cands FROM cand GROUP BY rid),
ver AS (SELECT c.lid, c.rid, levenshtein(cl.name, dr.name)::BIGINT AS dist FROM cand c JOIN clean cl ON cl.rid = c.lid JOIN dirty dr ON dr.rid = c.rid WHERE levenshtein(cl.name, dr.name) <= 2),
mn AS (SELECT rid, min(dist) AS mind FROM ver GROUP BY rid),
ties AS (SELECT ver.rid, count(*) AS n_ties FROM ver JOIN mn USING (rid) WHERE ver.dist = mn.mind GROUP BY ver.rid),
best AS (SELECT rid, lid, dist, row_number() OVER (PARTITION BY rid ORDER BY dist, lid) AS rn FROM ver)
SELECT b.rid AS dirty_id, b.lid AS match_key, b.dist, nc.n_cands, ties.n_ties FROM best b JOIN nc USING (rid) JOIN ties USING (rid) WHERE b.rn = 1 ORDER BY dirty_id""",


    // q222: same window hashing (md5 of the space-joined token slice),
    // same ladder, zero-filled lengths with no repeats
    "q222_repeated_spans" ->
      raw"""WITH tt AS (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS tk FROM documents),
ls AS (SELECT unnest([4, 8, 16, 32]) AS span_len),
pos AS (SELECT ls.span_len, tt.tk, unnest(range(1, len(tt.tk) - ls.span_len + 2)) AS p FROM tt, ls WHERE len(tt.tk) >= ls.span_len),
g AS (SELECT span_len, ('0x' || substr(md5(array_to_string(tk[p::INTEGER:(p + span_len - 1)::INTEGER], ' ')), 1, 15))::BIGINT AS h FROM pos),
rep AS (SELECT span_len, h, count(*)::BIGINT AS n_occ FROM g GROUP BY span_len, h HAVING count(*) >= 2),
perl AS (SELECT span_len, count(*)::BIGINT AS n_repeat_spans, sum(n_occ)::BIGINT AS n_repeat_positions, max(n_occ)::BIGINT AS max_occ FROM rep GROUP BY span_len),
tops AS (SELECT rep.span_len, min(rep.h) AS top_h FROM rep JOIN perl ON rep.span_len = perl.span_len AND rep.n_occ = perl.max_occ GROUP BY rep.span_len)
SELECT ls.span_len::BIGINT AS span_len, coalesce(n_repeat_spans, 0)::BIGINT AS n_repeat_spans, coalesce(n_repeat_positions, 0)::BIGINT AS n_repeat_positions, coalesce(max_occ, 0)::BIGINT AS max_occ, tops.top_h FROM ls LEFT JOIN perl USING (span_len) LEFT JOIN tops ON ls.span_len = tops.span_len ORDER BY span_len""",


    // q226: brute force over pairs touching a delta window — the same
    // exactness proof as q215, for the incremental form
    "q226_setsim_incremental" ->
      """WITH win AS (SELECT doc_id*3 + w AS win_id, substr(text, 1 + w*greatest(1, cast(floor(length(text)/8.0) AS BIGINT)), greatest(4, cast(floor(length(text)/2.0) AS BIGINT))) AS wtext FROM (SELECT doc_id, text FROM documents WHERE doc_id < 200), (SELECT unnest([0,1,2]) AS w)),
s AS (SELECT win_id, list_distinct(CASE WHEN length(wtext) < 5 THEN [wtext] ELSE list_transform(range(1, length(wtext)-3), i -> substr(wtext, i, 5)) END) AS sh FROM win),
p AS (SELECT a.win_id AS id_a, b.win_id AS id_b, len(list_intersect(a.sh, b.sh))::BIGINT AS inter, (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT AS uni FROM s a JOIN s b ON a.win_id < b.win_id WHERE a.win_id % 4 = 0 OR b.win_id % 4 = 0)
SELECT id_a, id_b, inter, uni, inter * 10000 // uni AS jac4 FROM p WHERE inter * 10000 >= 5000 * uni ORDER BY id_a, id_b""",

    // q277: same pairs as q226 by construction (stored order = base-df
    // order), so the same brute-force proof
    "q277_setsim_stored_index" ->
      """WITH win AS (SELECT doc_id*3 + w AS win_id, substr(text, 1 + w*greatest(1, cast(floor(length(text)/8.0) AS BIGINT)), greatest(4, cast(floor(length(text)/2.0) AS BIGINT))) AS wtext FROM (SELECT doc_id, text FROM documents WHERE doc_id < 200), (SELECT unnest([0,1,2]) AS w)),
s AS (SELECT win_id, list_distinct(CASE WHEN length(wtext) < 5 THEN [wtext] ELSE list_transform(range(1, length(wtext)-3), i -> substr(wtext, i, 5)) END) AS sh FROM win),
p AS (SELECT a.win_id AS id_a, b.win_id AS id_b, len(list_intersect(a.sh, b.sh))::BIGINT AS inter, (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT AS uni FROM s a JOIN s b ON a.win_id < b.win_id WHERE a.win_id % 4 = 0 OR b.win_id % 4 = 0)
SELECT id_a, id_b, inter, uni, inter * 10000 // uni AS jac4 FROM p WHERE inter * 10000 >= 5000 * uni ORDER BY id_a, id_b""",


    // q227: same planted variants via chr(), DuckDB's standard
    // nfc_normalize as the cross-engine bridge
    "q227_unicode_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
c2 AS (
  SELECT doc_id*2 AS id, CASE WHEN doc_id % 2 = 0 THEN text || ' caf' || chr(233) || ' jalape' || chr(241) || 'o' ELSE text || ' alpha' END AS txt FROM d
  UNION ALL
  SELECT doc_id*2+1, CASE WHEN doc_id % 2 = 0 THEN text || ' cafe' || chr(769) || ' jalapen' || chr(771) || 'o' ELSE text || ' beta' END FROM d),
raw AS (SELECT count(*)::BIGINT AS raw_groups, coalesce(sum(n), 0)::BIGINT AS raw_members FROM (SELECT md5(txt) AS h, count(*) AS n FROM c2 GROUP BY 1 HAVING count(*) >= 2)),
nrm AS (SELECT count(*)::BIGINT AS norm_groups, coalesce(sum(n), 0)::BIGINT AS norm_members FROM (SELECT md5(nfc_normalize(txt)) AS h, count(*) AS n FROM c2 GROUP BY 1 HAVING count(*) >= 2)),
ch AS (SELECT count(*)::BIGINT AS n_rows, sum(CASE WHEN nfc_normalize(txt) <> txt THEN 1 ELSE 0 END)::BIGINT AS n_changed FROM c2)
SELECT ch.n_rows, ch.n_changed, raw.raw_groups, raw.raw_members, nrm.norm_groups, nrm.norm_members FROM ch, raw, nrm""",


    // q250: one verified-pair relation, five exact-binary τ literals
    "q250_threshold_sweep" ->
      s"""WITH $LshVerifiedCtes,
pr AS (SELECT id_a, id_b, est_jac FROM verified WHERE est_jac >= 0.5),
taus AS (SELECT * FROM (VALUES (0.5), (0.625), (0.75), (0.875), (1.0)) v(tau)),
cut AS (SELECT taus.tau, pr.id_a, pr.id_b FROM pr, taus WHERE pr.est_jac >= taus.tau),
np AS (SELECT tau, count(*)::BIGINT AS n_pairs FROM cut GROUP BY 1),
nd AS (SELECT tau, count(DISTINCT id)::BIGINT AS n_docs FROM (SELECT tau, id_a AS id FROM cut UNION ALL SELECT tau, id_b FROM cut) GROUP BY 1)
SELECT (np.tau * 10000)::BIGINT AS tau4, n_pairs, n_docs FROM np JOIN nd ON np.tau = nd.tau ORDER BY tau4""",


    // q251: same sig/cand CTEs; agreement of full hashes vs their low
    // bits, same 1250-per-step bps algebra
    "q251_bbit_minhash" ->
      s"""WITH $LshVerifiedCtes,
pb AS (SELECT len(list_filter(range(0,8), i -> sa.mh[i+1] = sb.mh[i+1]))::BIGINT AS agree8,
  len(list_filter(range(0,8), i -> (sa.mh[i+1] % 2) = (sb.mh[i+1] % 2)))::BIGINT AS agree1
  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b)
SELECT agree8, count(*)::BIGINT AS n_pairs,
(sum((2 * agree1 - 8) * 1250) // count(*))::BIGINT AS avg_est1_bps,
min((2 * agree1 - 8) * 1250)::BIGINT AS min_est1_bps,
max((2 * agree1 - 8) * 1250)::BIGINT AS max_est1_bps
FROM pb GROUP BY agree8 ORDER BY agree8""",
  )
}
