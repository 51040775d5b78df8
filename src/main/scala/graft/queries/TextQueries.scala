package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.SparkEntry._
import graft.operators.Tuning

/** Text analysis: tokenization, language/quality signals, n-gram LMs, BPE training/encoding, Zipf/Heaps fits, PII, boilerplate, chunking.
  *
  * Extracted verbatim from the SparkEntry registry; [[graft.SparkEntry]]
  * concatenates every family into the single driver-contract maps.
  */
private[graft] object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1 ordered string-agg: paragraphs joined in-order per section
    // (`pipeline1.py:184-185`); order made explicit via sorted structs.
    "q10_lang_digest" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("snip", substring($"text", 1, 10))
        .groupBy($"lang")
        .agg(expr("array_join(transform(array_sort(collect_list(struct(doc_id, snip))), x -> x.snip), '|')").as("texts"))
        .orderBy($"lang")
    }),


    // P8 derived token counts (engine tokenizer, SURVEY.md §7.4.1).
    "q11_token_stats" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(
          $"doc_id",
          length($"text").cast("long").as("len"),
          TextFunctions.wsTokenCountCol($"text").cast("long").as("ws_tokens"),
          TextFunctions.numTokensCol($"text").cast("long").as("n_tokens"))
        .orderBy($"doc_id")
    }),


    // W3 classification when-chain (`pipeline1.py:151-162`).
    "q15_doc_class" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(
          $"doc_id",
          when($"n_chars" < 150, "short").when($"n_chars" < 300, "medium")
            .otherwise("long").as("size_class"),
          TextFunctions.classifyMarkdownCol($"text").as("md_class"))
        .orderBy($"doc_id")
    }),


    // P2/P12 regex scrub + extract (`pipeline1.py:114-134`, `383-388`).
    "q16_regex_ops" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(
          $"doc_id",
          regexp_extract($"text", "^(\\w+)", 1).as("first_word"),
          length(regexp_replace($"text", "\\bthe\\b", "")).cast("long").as("scrub_len"))
        .orderBy($"doc_id")
    }),


    // W4 section assignment as pure window expressions — the verified
    // reference state machine (`pipeline1.py:167-179`): pre-heading rows
    // each open a section; a heading opens one absorbing what follows.
    "q17_sections" -> ((s, dir) => {
      import s.implicits._
      val byDoc = Window.partitionBy($"source").orderBy($"doc_id")
      val before = byDoc.rowsBetween(Window.unboundedPreceding, -1)
      val upToHere = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .withColumn("is_heading", ($"n_chars" > 300).cast("int"))
        .withColumn("seen_before", coalesce(max($"is_heading").over(before), lit(0)))
        .withColumn("section",
          sum(when($"is_heading" === 1 || $"seen_before" === 0, 1).otherwise(0))
            .over(upToHere).cast("long"))
        .select($"doc_id", $"source", $"section")
        .orderBy($"doc_id")
    }),


    // A3/A4 index stats: counts + dimension probe (`pipeline2.py:134`,
    // `161-164`).
    "q21_label_stats" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "embeddings")
        .groupBy($"label")
        .agg(count(lit(1)).as("n"), min(size($"embedding")).cast("long").as("dim"))
        .orderBy($"label")
    }),


    // C1/C2 distributed: greedy token-budget packing per form (source) —
    // ONE columnar shuffle (repartition + within-partition sort), packer
    // streams the sorted per-form runs. Replayed exactly by the
    // recursive-CTE oracle below.
    "q23_chunk_pypdf" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"source".as("formName"), $"doc_id".as("seq"), $"text")
        .as[graft.operators.ChunkingJob.DocInput]
      graft.operators.ChunkingJob.chunkPyPdf(docs, tokenLimit = 200)
        .toDF().orderBy($"FormName", $"ChunkId", $"Content")
    }),


    // C3/C4 distributed: nougat sectionize → section packing → oversized
    // split with heading carry. Rows-only.
    "q24_chunk_nougat" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"source".as("formName"), $"doc_id".as("seq"), $"text")
        .as[graft.operators.ChunkingJob.DocInput]
      graft.operators.ChunkingJob.chunkNougat(docs, tokenLimit = 200)
        .toDF().orderBy($"FormName", $"ChunkId")
    }),


    // Language-ID heuristic + composite quality score (training-data ops).
    // Native single-loop expression; the HOF twin (languageIdFromTokens +
    // qualityScoreFromTokens) is value-identical and spec-pinned.
    "q28_lang_quality" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("lq", graft.operators.TextAnalysis.langQualityCol($"text"))
        .select($"doc_id",
          $"lq.lang_pred".as("lang_pred"), $"lq.quality".as("quality"))
        .orderBy($"doc_id")
    }),


    // P7 validation predicates (email + lookahead-free password rule) over
    // synthesized candidates.
    "q38_validation" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .select($"c_custkey",
          concat(lower(regexp_replace($"c_name", "[^A-Za-z0-9]", "")),
            when($"c_custkey" % 3 === 0, "@example.org").otherwise("@example.com")).as("email_cand"),
          when($"c_custkey" % 2 === 0, regexp_replace($"c_name", "#", ""))
            .otherwise($"c_name").as("password_cand"))
        .withColumn("email_ok",
          graft.functions.TextFunctions.emailValidCol($"email_cand").cast("int"))
        .withColumn("password_ok",
          graft.functions.TextFunctions.passwordValidCol($"password_cand").cast("int"))
        .orderBy($"c_custkey")
    }),


    // Gopher-style repetition quality filter: per-document duplicate-line
    // fraction and most-common-token fraction, with the keep decision
    // (dup_line_frac <= 0.3 AND top_tok_frac <= 0.2). Line metrics are pure
    // scan-side array ops; token metrics are explode → two partial+final
    // aggs keyed by (doc, token) then doc — the standard distributed shape
    // for per-doc token histograms (no per-doc collect, skew-safe).
    "q61_repetition_filter" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val lineStats = d.select($"doc_id",
          filter(split($"text", "\n"), x => length(trim(x)) > 0).as("ls"))
        .select($"doc_id",
          size($"ls").cast("long").as("n_lines"),
          size(array_distinct($"ls")).cast("long").as("n_distinct_lines"))
      val tokStats = d
        .select($"doc_id", explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").as("maxc"), sum($"c").as("ntok"))
      lineStats.join(tokStats, Seq("doc_id"), "left")
        .select($"doc_id", $"n_lines", $"n_distinct_lines",
          fq4(when($"n_lines" > 0,
              lit(1.0) - $"n_distinct_lines".cast("double") / $"n_lines")
            .otherwise(lit(0.0))).as("dup_line_frac"),
          fq4(coalesce($"maxc".cast("double") / $"ntok", lit(0.0))).as("top_tok_frac"))
        .withColumn("keep",
          ($"dup_line_frac" <= 0.3 && $"top_tok_frac" <= 0.2).cast("int"))
        .orderBy($"doc_id")
    }),


    // Corpus vocabulary top-k — the tokenizer-training primitive: global
    // token frequencies, top 20 with a deterministic tie-break. ONE shuffle
    // (partial+final count keyed by token — the map-side combine collapses
    // each partition to its distinct tokens before the exchange) and a
    // TakeOrderedAndProject; at 100 TB the shuffle carries vocabulary-sized
    // data, not corpus-sized.
    "q63_vocab_topk" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(explode(graft.operators.TextAnalysis.tokensCol($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token").limit(20)
    }),


    // PII redaction — pre-training scrub of emails and phone numbers to
    // typed placeholders, with a per-row redaction count for audit. Pure
    // scan-side regexp_replace (codegen'd, no shuffle); patterns chosen to
    // behave identically in Java regex and RE2 so the oracle reproduces the
    // scrub byte-for-byte. PII is synthesized from the customer table
    // (name-derived email; key-derived phone present for 2/3 of rows) since
    // the documents corpus contains none.
    "q64_pii_scrub" -> ((s, dir) => {
      import s.implicits._
      val phone = format_string("%02d-%03d-%03d-%04d",
        ($"c_nationkey" + 10).cast("int"),
        (lit(100) + $"c_custkey" % 900).cast("int"),
        (lit(100) + ($"c_custkey" * 7) % 900).cast("int"),
        (lit(1000) + ($"c_custkey" * 13) % 9000).cast("int"))
      val raw = concat(
        lit("contact "), lower(regexp_replace($"c_name", "[^A-Za-z0-9]", "")),
        lit("@corp.example"),
        when($"c_custkey" % 3 =!= 0, concat(lit(" ph "), phone)).otherwise(lit("")),
        lit(" end"))
      t(s, dir, "customer")
        .select($"c_custkey",
          regexp_replace(
            regexp_replace(raw, raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
            raw"\d{2}-\d{3}-\d{3}-\d{4}", "<PHONE>").as("scrubbed"))
        .withColumn("n_redacted",
          ((size(split($"scrubbed", "<EMAIL>", -1)) - 1) +
           (size(split($"scrubbed", "<PHONE>", -1)) - 1)).cast("long"))
        .orderBy($"c_custkey")
    }),


    // C4/Gopher-style composite quality filter: token count bounds, mean
    // token length band, and stopword presence — the rule family every
    // pre-training corpus pass applies before anything expensive runs.
    // All metrics are scan-side array ops on the tokens (no explode, no
    // shuffle at all before the final ORDER BY); decisions compare exact
    // integer-derived ratios so they reproduce bit-for-bit in the oracle.
    // Thresholds sit inside this corpus's observed distribution (n_tok
    // 5%-95% spans 16-94, ~9% of docs have zero stopwords) so both keep
    // outcomes occur.
    "q70_quality_filter" -> ((s, dir) => {
      import s.implicits._
      val stopAny = graft.operators.TextAnalysis.Markers("en").map(_.asInstanceOf[Any])
      t(s, dir, "documents")
        .select($"doc_id", graft.operators.TextAnalysis.tokensCol($"text").as("tk"))
        .select($"doc_id",
          size($"tk").cast("long").as("n_tok"),
          aggregate($"tk", lit(0), (acc, x) => acc + length(x)).cast("long").as("sum_len"),
          size(filter($"tk", x => x.isin(stopAny: _*))).cast("long").as("n_stop"))
        .select($"doc_id", $"n_tok",
          fq4($"sum_len".cast("double") / $"n_tok").as("mean_len4"),
          fq4($"n_stop".cast("double") / $"n_tok").as("frac_stop4"),
          ($"n_tok" >= 20 && $"n_tok" <= 80 && $"n_stop" > 0 &&
            $"sum_len".cast("double") / $"n_tok" >= 3.0 &&
            $"sum_len".cast("double") / $"n_tok" <= 6.0).cast("int").as("keep"))
        .orderBy($"doc_id")
    }),


    // Per-document tf-idf keyword extraction (top 3): the classic
    // summarization/labeling primitive. Shape: one (doc, token) partial+
    // final count (the map-side combine collapses each partition's token
    // stream before the exchange), the vocabulary-sized df table broadcast
    // back, then a per-doc window over the ALREADY-REDUCED (doc, token)
    // rows — the second shuffle carries distinct doc-term pairs, not the
    // token stream. idf quantizes the transcendental at 1e-6 and ranking
    // uses the quantized score on both sides, so order ties break
    // identically (then by token).
    "q71_tfidf_keywords" -> ((s, dir) => {
      import s.implicits._
      val tf = t(s, dir, "documents")
        .select($"doc_id", explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy($"w").agg(count(lit(1)).cast("double").as("df"))
      val nd = t(s, dir, "documents").agg(count(lit(1)).cast("double").as("n_docs"))
      tf.join(broadcast(dft), Seq("w"))
        .crossJoin(broadcast(nd))
        .withColumn("idf", floor(log($"n_docs" / $"df") * 1000000.0) / 1000000.0)
        .withColumn("score", fq4($"tf" * $"idf"))
        .withColumn("kw_rank", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"score".desc, $"w")).cast("long"))
        .filter($"kw_rank" <= 3)
        .select($"doc_id", $"kw_rank", $"w".as("token"), $"score")
        .orderBy($"doc_id", $"kw_rank")
    }),


    // Vocabulary coverage curve — the tokenizer-design op: how many
    // distinct word types cover 50% / 90% / 99% of all token occurrences.
    // One corpus scan + a vocabulary-sized agg; the cumulative distribution
    // over the frequency-sorted vocabulary runs through
    // Batching.globalRunningSum (range shuffle + driver prefix offsets +
    // streamed fold) — NEVER `sum() OVER (ORDER BY …)`'s single-partition
    // window, which a web-scale vocabulary (10^8+ types) would bottleneck.
    "q84_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      // the frequency table feeds the ranker AND the totals (and the
      // ranker reads it twice for its prefix offsets): cut the VOCAB-sized
      // result so the corpus token aggregation runs once
      val freq = Tuning.cut(t(s, dir, "documents")
        .select(explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c")))
      val ranked = graft.operators.Batching.globalRunningSum(
        freq, Seq($"c".desc, $"w"), "c", numPartitions = 8,
        outPos = "rk", outCum = "cum")
      val tot = freq.agg(sum($"c").as("tot"), count(lit(1)).as("n_types"))
      ranked.crossJoin(broadcast(tot))
        .groupBy($"tot", $"n_types")
        .agg(
          min(when($"cum" * 100 >= $"tot" * 50, $"rk")).as("types_p50"),
          min(when($"cum" * 100 >= $"tot" * 90, $"rk")).as("types_p90"),
          min(when($"cum" * 100 >= $"tot" * 99, $"rk")).as("types_p99"))
        .select($"tot".cast("long").as("n_tokens"), $"n_types",
          $"types_p50", $"types_p90", $"types_p99")
    }),


    // BPE merge statistics — tokenizer training's step 1 (Sennrich et al.
    // arXiv:1508.07909): weighted adjacent character-pair counts over the
    // VOCABULARY (types × counts), top-20 merge candidates. The corpus pays
    // exactly one scan + one word-count shuffle; pair explosion and the
    // top-k (TakeOrderedAndProject) run on the vocab-sized table. The full
    // iterative trainer (BpeTokenizer.train) is spec-verified against a
    // plain-Scala reference; this query oracles its distributed core.
    "q86_bpe_pairs" -> ((s, dir) => {
      import s.implicits._
      val wf = graft.operators.BpeTokenizer.wordFrequencies(
        t(s, dir, "documents"), graft.operators.TextAnalysis.tokensCol($"text"))
      graft.operators.BpeTokenizer.pairCounts(
        graft.operators.BpeTokenizer.initSymbols(wf.filter(length($"w") >= 2)))
        .orderBy($"cnt".desc, $"l", $"r")
        .limit(20)
    }),


    // Edit-distance verifier — the dedup pipeline's third similarity
    // family (set-overlap: jaccard q27; bit-sketch: simhash q26/q75;
    // sequence-alignment: levenshtein here), over the q27 adjacent-pair
    // shape. The DP runs ONCE per pair and BANDED: the threshold overload
    // early-abandons at distance > 300 (O(n·t) instead of O(n²) — a
    // verify stage never needs distances beyond its accept bound), and
    // pairs past the band report the -1 sentinel. As a verify stage this
    // runs on LSH candidates, never corpus².
    "q90_edit_distance" -> ((s, dir) => {
      import s.implicits._
      val a = t(s, dir, "documents").select($"doc_id".as("id_a"), $"text".as("ta"))
      val b = t(s, dir, "documents").select($"doc_id".as("id_b"), $"text".as("tb"))
      a.join(b, $"id_b" === $"id_a" + 1)
        // the DP is ~10^5 cell ops per pair — orders of magnitude past the
        // scan — so spread pairs across every core BEFORE computing it (a
        // small parquet arrives as one partition; explicit N so AQE can't
        // coalesce the compute stage back onto one core)
        .repartition(s.sparkContext.defaultParallelism, $"id_a")
        .select($"id_a", $"id_b",
          levenshtein($"ta", $"tb", 300).cast("long").as("lev"),
          greatest(length($"ta"), length($"tb"), lit(1)).as("mx"))
        .select($"id_a", $"id_b", $"lev",
          when($"lev" < 0, -1.0)
            .otherwise(fq4(lit(1.0) - $"lev".cast("double") / $"mx")).as("sim4"))
        .orderBy($"id_a")
    }),


    // DSIR-style importance weighting (Xie et al. arXiv:2302.03169,
    // reduced to its distributable core): per-doc log-ratio of a TARGET
    // domain unigram LM (source src1) vs the corpus LM decides data
    // selection. Each LM's token log-prob is floor-quantized to integer
    // micro-nats THE MOMENT ln is computed (the q69 rule — one
    // transcendental per word type per LM, then exact integer math), so
    // the per-doc sum is order-independent across any partitioning. BOTH
    // LMs come from one grouped pass (conditional count for the target
    // domain) and broadcast as one vocab-sized table; the token stream
    // never shuffles for the join, and the only corpus-sized shuffle is
    // the final per-doc rollup of 16-byte rows.
    "q93_importance_weights" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select($"doc_id", $"source",
          explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
      // BOTH LMs from one grouped pass (conditional count for the target
      // domain) — one corpus scan and one broadcast join instead of two
      // frequency tables built and joined separately
      val freq = toks.groupBy($"w").agg(count(lit(1)).as("cc"),
        sum(when($"source" === "src1", 1L).otherwise(0L)).as("ct"))
      val tot = freq.agg(sum($"cc").as("ctot"), count(lit(1)).as("vsz"),
        sum($"ct").as("ttot"))
      toks.join(broadcast(freq), Seq("w"))
        .crossJoin(broadcast(tot))
        .select($"doc_id",
          (floor(log(($"ct" + 1).cast("double") /
              ($"ttot" + $"vsz").cast("double")) * 1000000.0) -
            floor(log(($"cc" + 1).cast("double") /
              ($"ctot" + $"vsz").cast("double")) * 1000000.0)).as("lru"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"), sum($"lru").cast("long").as("score_u"))
        .withColumn("keep", ($"score_u" > 0).cast("int"))
        .orderBy($"doc_id")
    }),


    // Temperature-based mixture sampling (T = 2): per-source keep-rates
    // ∝ sqrt(n_s) — the UniMax-style rebalance that upweights small
    // sources, vs q62's fixed rates. EVERYTHING after sqrt is integer
    // math: sqrt is IEEE-correctly-rounded on both engines, its result is
    // floor-quantized to milli-units immediately, and the rate becomes
    // floor(budget·wq·10^6 / (Σwq·n_s)) ppm — so the 20-value weight sum
    // is exact and no aggregation order can flip a rate. Selection is the
    // q58/q62 salted-hash bucket: scan-side, reproducible across engines
    // and partitionings.
    "q99_temperature_mix" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val per = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .withColumn("wq", floor(sqrt($"n_docs".cast("double")) * 1000.0).cast("long"))
      val tot = per.agg(sum($"wq").as("wsum"), sum($"n_docs").as("n_tot"))
      // share first, then budget: every intermediate stays ≤ budget·10^6,
      // which fits a long even at 10^12 documents (budget·wq·10^6 would not)
      val rates = per.crossJoin(broadcast(tot))
        .withColumn("budget", expr("(n_tot * 6) div 10"))
        .withColumn("share_ppm", expr("(wq * 1000000L) div wsum"))
        .withColumn("rate_ppm",
          expr("least(1000000L, (budget * share_ppm) div n_docs)"))
        .select($"source", $"rate_ppm")
      val keep = pmod(graft.functions.HashFunctions
        .stableHash64(concat(lit("mix:"), $"doc_id".cast("string"))), lit(1000000L))
      docs.join(broadcast(rates), Seq("source"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), first($"rate_ppm").as("rate_ppm"),
          sum(when(keep < $"rate_ppm", 1L).otherwise(0L)).as("n_kept"))
        .orderBy($"source")
    }),


    // The data card (q100): the per-source corpus-health report a
    // training-data pipeline publishes — doc counts, exact-duplicate
    // membership (corpus-wide, via the in-place content-hash window),
    // token share in exact ppm, q70-quality pass counts, and language
    // entropy in integer micro-nats (each -p·ln p term quantized the
    // moment ln is computed). ONE corpus scan feeds everything through a
    // narrow checkpoint (hash + counters, no text); the 20-row per-source
    // table is checkpointed too so its three consumers don't re-run the
    // content window.
    "q100_data_card" -> ((s, dir) => {
      import s.implicits._
      val stopAny = graft.operators.TextAnalysis.Markers("en").map(_.asInstanceOf[Any])
      val base = Tuning.cut(t(s, dir, "documents")
        .select($"doc_id", $"source", $"lang", md5($"text").as("h"),
          graft.operators.TextAnalysis.tokensCol($"text").as("tk"))
        .select($"doc_id", $"source", $"lang", $"h",
          size($"tk").cast("long").as("n_tok"),
          aggregate($"tk", lit(0), (a, x) => a + length(x)).cast("long").as("sum_len"),
          size(filter($"tk", x => x.isin(stopAny: _*))).cast("long").as("n_stop"))) // its three consumers read it once
      val dup = base.withColumn("n_occ",
        count(lit(1)).over(Window.partitionBy($"h")))
      val per = Tuning.cut(dup.groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum(when($"n_occ" >= 2, 1L).otherwise(0L)).as("n_dup_docs"),
          sum($"n_tok").as("n_toks"),
          sum(when($"n_tok".between(20, 80) && $"n_stop" > 0 &&
            $"sum_len".cast("double") / $"n_tok" >= 3.0 &&
            $"sum_len".cast("double") / $"n_tok" <= 6.0, 1L).otherwise(0L)).as("n_quality")))
      val ent = base.groupBy($"source", $"lang").agg(count(lit(1)).as("nl"))
        .join(broadcast(per.select($"source", $"n_docs")), "source")
        .select($"source",
          floor(-($"nl".cast("double") / $"n_docs") *
            log($"nl".cast("double") / $"n_docs") * 1000000.0)
            .cast("long").as("term_u"))
        .groupBy($"source").agg(sum($"term_u").as("entropy_u"))
      val tot = per.agg(sum($"n_toks").as("tot_toks"))
      per.join(ent, "source").crossJoin(broadcast(tot))
        .select($"source", $"n_docs", $"n_dup_docs",
          expr("(n_toks * 1000000L) div tot_toks").as("tok_share_ppm"),
          $"n_quality", $"entropy_u")
        .orderBy($"source")
    }),


    // Unigram-LM document scoring (add-one smoothing): the KenLM-style
    // quality signal, reduced to its distributable core. Token log-probs
    // are floor-quantized to integer micro-nats AT THE SCAN, so the
    // distributed sum is exact integer math — order-independent across any
    // partitioning, and the only transcendental (ln) is quantized before
    // it can flip a hash. Two corpus scans (the LM must be counted before
    // docs are scored — inherent); the vocabulary-sized frequency table
    // broadcasts back (bounded by vocab, not corpus; a shuffle join is the
    // fallback if vocab ever outgrows broadcast), and the final per-doc
    // shuffle carries 16-byte (doc_id, lpu) rows, not text.
    "q69_unigram_lm" -> ((s, dir) => {
      import s.implicits._
      val tokens = t(s, dir, "documents")
        .select($"doc_id", explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
      val freq = tokens.groupBy($"w").agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum($"c").as("tcnt"), count(lit(1)).as("vsz"))
      tokens.join(broadcast(freq), Seq("w"))
        .crossJoin(broadcast(tot))
        .select($"doc_id",
          floor(log(($"c" + 1).cast("double") / ($"tcnt" + $"vsz").cast("double")) * 1000000.0)
            .cast("long").as("lpu"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"), sum($"lpu").as("sum_lp_u"))
        .withColumn("avg_lp4",
          floor($"sum_lp_u".cast("double") / $"n_tok" / 100.0) / 10000.0)
        .orderBy($"doc_id")
    }),


    // Corpus profiling (training-data QA): per-source document counts,
    // language cardinality, exact length quantiles (Spark `percentile` and
    // DuckDB `quantile_cont` share the interpolation contract), short-doc
    // rate. One partial+final agg pass over the scan.
    "q55_corpus_profile" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"lang").as("n_langs"),
          expr("percentile(n_chars, 0.5)").as("median_chars"),
          expr("percentile(n_chars, 0.9)").as("p90_chars"),
          floor(avg($"n_chars") * 10000.0).cast("long").as("avg_chars_q"),
          sum(when($"n_chars" < 150, 1).otherwise(0)).cast("long").as("n_short"))
        .orderBy($"source")
    }),


    // Interpolated bigram LM scoring — q69's unigram signal upgraded one
    // order: p = 0.7·p(cur|prev) + 0.3·p(cur), both estimated from the
    // bigram stream. ONE corpus scan produces the (doc, prev, cur) stream
    // (staged — the count tables AND the scoring pass read it); every
    // derived table is vocab²-bounded and broadcasts back; token log-probs
    // quantize to integer micro-nats at the scan so the per-doc sum is
    // order-independent exact integer math (the suite's transcendental
    // policy). At 100 TB the broadcasts become shuffle joins on the gram
    // key — same plan shape, no new scans.
    "q107_bigram_lm" -> ((s, dir) => {
      import s.implicits._
      val bi = Tuning.cut(t(s, dir, "documents")
        .select($"doc_id", graft.operators.TextAnalysis.tokensCol($"text").as("w"))
        .filter(size($"w") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(2, size(w)), i -> struct(element_at(w, i - 1) AS p, element_at(w, i) AS c))")).as("b"))
        .select($"doc_id", $"b.p".as("p"), $"b.c".as("c"))) // one corpus scan; counts + scoring read this
      val bic = Tuning.cut(bi.groupBy($"p", $"c").agg(count(lit(1)).as("cbi"))) // vocab²-bounded; feeds three derived tables
      val prevc = bic.groupBy($"p").agg(sum($"cbi").as("cp"))
      val curc = bic.groupBy($"c").agg(sum($"cbi").as("cc"))
      val tot = bic.agg(sum($"cbi").as("nbi"))
      bi.join(broadcast(bic), Seq("p", "c"))
        .join(broadcast(prevc), Seq("p"))
        .join(broadcast(curc), Seq("c"))
        .crossJoin(broadcast(tot))
        .select($"doc_id",
          floor(log(lit(0.7) * ($"cbi".cast("double") / $"cp".cast("double"))
            + lit(0.3) * ($"cc".cast("double") / $"nbi".cast("double"))) * lit(1000000.0))
            .cast("long").as("lpu"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bi"), sum($"lpu").as("sum_lp_u"))
        .select($"doc_id", $"n_bi", $"sum_lp_u",
          (floor($"sum_lp_u".cast("double") / $"n_bi" / 100.0) / 10000.0).as("avg_lp4"))
        .orderBy($"doc_id")
    }),


    // BPE ENCODE — applying the tokenizer, the other half of q86's
    // training surface: per-word greedy merge fold (BpeTokenizer.encodeCol,
    // reference Sennrich semantics) with q110's fixed collision-free merge
    // list (see BpeMerges; trained lists are spec-verified separately).
    // Scale shape: each word TYPE is encoded once — the fold runs over the
    // distinct-word vocabulary (sublinear in the corpus) and the token
    // stream joins the encoded lengths back by word (broadcast at bench
    // scale, shuffle join at web scale); the corpus itself is scanned
    // once and never carries symbol arrays.
    "q110_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val merges = BpeMerges.map { case (l, r) =>
        graft.operators.BpeTokenizer.Merge(l, r, 0L) }
      val tok = t(s, dir, "documents")
        .select($"doc_id", explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
      val vocabEnc = tok.select($"w").distinct()
        .select($"w", length($"w").as("nc"),
          size(element_at(
            graft.operators.BpeTokenizer.encodeCol(array($"w"), merges), 1)).as("ns"))
      tok.join(broadcast(vocabEnc), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum($"nc").as("n_chars"), sum($"ns").as("n_syms"))
        .select($"doc_id", $"n_words", $"n_chars", $"n_syms",
          fq4($"n_syms".cast("double") / $"n_chars".cast("double")).as("ratio4"))
        .orderBy($"doc_id")
    }),


    // Gopher/RefinedWeb repetition rules (Rae et al. 2021 §A1.1): flag
    // documents dominated by a repeated unigram/bigram or by duplicated
    // 5-gram runs. All ratios are INTEGER micro-fractions ((k·10000) div n)
    // so any engine/partitioning reproduces the flags bit-for-bit; the only
    // shuffle is the per-doc gram hash-agg (map-side combined, gram text
    // never leaves the scan stage at 100 TB — the profile is count-only).
    "q136_repetition_rules" -> ((s, dir) => {
      import s.implicits._
      val qs = graft.operators.QualitySignals
      val base = Tuning.cut(t(s, dir, "documents")
        .select($"doc_id", graft.operators.TextAnalysis.tokensCol($"text").as("w"))
        .select($"doc_id", size($"w").as("n_tok"), $"w")) // one corpus scan feeds all three gram profiles
      def topCnt(n: Int, out: String) = base
        .select($"doc_id", explode(qs.ngramsStrict($"w", n)).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").as(out))
      val dup5 = base
        .select($"doc_id", explode(qs.ngramsStrict($"w", 5)).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum(when($"c" > 1, $"c").otherwise(0L)).as("dup5_cnt"))
      base.select($"doc_id", $"n_tok")
        .join(topCnt(1, "top1_cnt"), Seq("doc_id"), "left")
        .join(topCnt(2, "top2_cnt"), Seq("doc_id"), "left")
        .join(dup5, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tok",
          coalesce($"top1_cnt", lit(0L)).as("top1_cnt"),
          coalesce($"top2_cnt", lit(0L)).as("top2_cnt"),
          coalesce($"dup5_cnt", lit(0L)).as("dup5_cnt"))
        .withColumn("top1_u", when($"n_tok" > 0,
          expr("(top1_cnt * 10000) div n_tok")).otherwise(lit(0L)))
        .withColumn("top2_u", when($"n_tok" >= 2,
          expr("(top2_cnt * 2 * 10000) div n_tok")).otherwise(lit(0L)))
        .withColumn("dup5_u", when($"n_tok" >= 5,
          expr("(dup5_cnt * 10000) div (n_tok - 4)")).otherwise(lit(0L)))
        .select($"doc_id", $"n_tok",
          ($"top1_u" / lit(10000.0)).as("top1_frac4"),
          ($"top2_u" / lit(10000.0)).as("top2_frac4"),
          ($"dup5_u" / lit(10000.0)).as("dup5_frac4"),
          when($"top1_u" > 800 || $"top2_u" > 1000 || $"dup5_u" > 3000, 1L)
            .otherwise(0L).as("flagged"))
        .orderBy($"doc_id")
    }),


    // PII scan + redaction (QualitySignals.piiCounts / redactPii) — the
    // scrub pass a web corpus runs before anything else. The source tables
    // are PII-free by construction, so the query plants deterministic
    // synthetic PII derived from doc_id (example-domain email, 555 phone,
    // RFC-1918 IP) and then proves the scan finds EXACTLY the planted
    // counts and the redaction removes them (re-scan of redacted text is
    // all-zero, asserted as a column). Everything is scan-side regex — one
    // corpus pass, no shuffle, no UDF.
    "q137_pii_redact" -> ((s, dir) => {
      import s.implicits._
      val qs = graft.operators.QualitySignals
      // spread the regex-heavy scan (q90 lesson, session-derived N)
      val aug = graft.operators.Tuning.spreadDocs(t(s, dir, "documents"))
        .select($"doc_id",
        concat($"text",
          when($"doc_id" % 5 === 0,
            concat(lit(" contact user"), $"doc_id".cast("string"),
              lit("@corp.example now")))
            .otherwise(lit("")),
          when($"doc_id" % 7 === 0,
            concat(lit(" call 415-555-"),
              lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when($"doc_id" % 3 === 0,
            concat(lit(" host 10.0."), ($"doc_id" % 256).cast("string"),
              lit("."), (expr("doc_id div 256") % 256).cast("string")))
            .otherwise(lit(""))).as("text"))
      // Tuning.once (guide §4.4): pii feeds 4 consumers and red feeds
      // length + the residual re-scan — fence each to one evaluation
      aug.select($"doc_id", length($"text").as("raw_len"),
          graft.operators.Tuning.once(qs.piiCounts($"text")).as("pii"),
          graft.operators.Tuning.once(qs.redactPii($"text")).as("red"))
        .withColumn("residual", graft.operators.Tuning.once(qs.piiCounts($"red")))
        .select($"doc_id", $"raw_len",
          $"pii.n_email".cast("long").as("n_email"),
          $"pii.n_phone".cast("long").as("n_phone"),
          $"pii.n_ip".cast("long").as("n_ip"),
          length($"red").as("red_len"),
          ($"pii.n_email" + $"pii.n_phone" + $"pii.n_ip" === 0).cast("long")
            .as("clean"),
          ($"residual.n_email" + $"residual.n_phone" + $"residual.n_ip")
            .cast("long").as("residual_hits"))
        // sortShield: the sort's sample pass re-runs the regex scans
        .transform(d => graft.operators.Tuning.sortShield(d, $"doc_id"))
        .orderBy($"doc_id")
    }),


    // Zipf power-law fit of the corpus unigram distribution — the one-row
    // data-card statistic that tells you whether a corpus looks like
    // natural language (slope ≈ −1) or like templated boilerplate. Closed
    // -form least squares on (ln rank, ln freq): both logs are quantized
    // to integer micro-nats AT THE SCAN so every sum/product stays exact
    // integer algebra; only the final three divisions run in doubles
    // (identical op order on both engines). The vocab-sized rank runs
    // through [[graft.operators.Batching.globalRowNumber]] — one range
    // exchange + parallel local sorts, byte-identical to row_number()
    // under the same total (f desc, w) order, instead of an unpartitioned
    // Window funneling the vocabulary through one task (the q199 hazard
    // class; plan-pinned in SparkOpsSpec).
    "q146_zipf_fit" -> ((s, dir) => {
      import s.implicits._
      val counts = t(s, dir, "documents")
        .select(explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("f"))
      graft.operators.Batching
        .globalRowNumber(counts, Seq($"f".desc, $"w"), 32, "rk")
        .select(floor(log($"rk".cast("double")) * 1000000.0).cast("long").as("x"),
          floor(log($"f".cast("double")) * 1000000.0).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
          sum($"y" * $"y").as("syy"))
        .withColumn("num", $"n" * $"sxy" - $"sx" * $"sy")
        .withColumn("denx", $"n" * $"sxx" - $"sx" * $"sx")
        .withColumn("deny", $"n" * $"syy" - $"sy" * $"sy")
        .withColumn("slope", $"num".cast("double") / $"denx".cast("double"))
        .select($"n".as("n_terms"),
          (floor($"slope" * 10000.0) / 10000.0).as("slope4"),
          (floor((($"sy".cast("double") - $"slope" * $"sx".cast("double"))
            / $"n".cast("double") / 1000000.0) * 10000.0) / 10000.0).as("icept4"),
          (floor(($"num".cast("double") * $"num".cast("double"))
            / ($"denx".cast("double") * $"deny".cast("double")) * 10000.0)
            / 10000.0).as("r2_4"))
    }),


    // Label-confusion pairs from embedding geometry: for each vector, its
    // nearest DIFFERENT-label neighbor within its own IVF cell; counts per
    // (label, neighbor label) say which classes blur together — the
    // go-look-here report before training a classifier on the labels.
    // Cell-restricted like q143 (Σ|cell|² pair space, no corpus×corpus).
    "q149_label_confusion" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = graft.operators.IvfIndex.centroids(emb, k = 8, iters = 0)
      val cells = Tuning.cut(graft.operators.IvfIndex.assign(emb, cents, "vec_id", "embedding")
        .join(emb.select($"vec_id", $"label".cast("long").as("label")), Seq("vec_id"))) // assignment feeds both pair-join sides
      val a = cells.select($"centroid_id", $"vec_id".as("src"),
        $"label".as("label_a"), $"embedding".as("va"))
      val b = cells.select($"centroid_id", $"vec_id".as("dst"),
        $"label".as("label_b"), $"embedding".as("vb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"src").orderBy($"cos4".desc, $"dst")
      a.join(b, Seq("centroid_id"))
        .filter($"src" =!= $"dst" && $"label_a" =!= $"label_b")
        .select($"src", $"dst", $"label_a", $"label_b",
          floor(graft.functions.VectorFunctions.cosineSim($"va", $"vb")
            * lit(10000.0)).cast("long").as("cos4"))
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .groupBy($"label_a", $"label_b").agg(count(lit(1)).as("n_vecs"))
        .orderBy($"label_a", $"label_b")
    }),


    // Per-source quantile normalization of a quality signal — the cross-
    // source calibration step before mixing corpora (a "good" score in a
    // clean source ≠ the same number in a noisy one; percentiles within
    // source are comparable). Score is integer mean-word-length micro;
    // percent_rank is (rank−1)/(n−1) per SOURCE window (strata parallelize
    // — no global window), quantized at 1e-4; the decile is pure integer
    // arithmetic on (rank, n).
    "q151_quality_quantiles" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"score_u")
      val wn = org.apache.spark.sql.expressions.Window.partitionBy($"source")
      t(s, dir, "documents")
        .select($"doc_id", $"source",
          graft.operators.TextAnalysis.tokensCol($"text").as("w"))
        .select($"doc_id", $"source", size($"w").cast("long").as("n_tok"),
          aggregate($"w", lit(0L), (acc, x) => acc + length(x)).as("sum_len"))
        .filter($"n_tok" > 0)
        .withColumn("score_u", expr("(sum_len * 10000) div n_tok"))
        .withColumn("rk", rank().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .select($"doc_id", $"source", ($"score_u" / lit(10000.0)).as("score4"),
          when($"n" > 1, floor(($"rk" - 1).cast("double") / ($"n" - 1).cast("double")
            * lit(10000.0)) / 10000.0).otherwise(lit(0.0)).as("pr4"),
          when($"n" > 1, least(lit(9L), expr("((rk - 1) * 10) div (n - 1)")))
            .otherwise(lit(0L)).as("decile"))
        .orderBy($"doc_id")
    }),


    // Heaps-law vocabulary-growth fit — how fast the type inventory grows
    // as the corpus streams in doc_id order (sizes tokenizer vocab and
    // dedup state for an ingest; β≈0.5-0.8 is healthy natural text, β→1
    // flags ID-heavy or synthetic content). The 20 order-respecting
    // checkpoints come from pure doc_id arithmetic against the (min,max)
    // scalar — NO global window touches the token stream; a type's first
    // bucket is min(bkt) because the bucket map is monotone in doc_id.
    // Cumulative sums run over the 20-row checkpoint table; the fit is
    // q146's integer-sum regression on micro-nat logs.
    "q153_heaps_fit" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val mm = docs.agg(min($"doc_id").as("lo"), (max($"doc_id") + 1L).as("hi"))
      val tok = docs.crossJoin(broadcast(mm))
        .select(expr("((doc_id - lo) * 20) div (hi - lo)").as("bkt"),
          explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
      val perTok = tok.groupBy($"bkt").agg(count(lit(1)).as("n_tok"))
      val perNew = tok.groupBy($"w").agg(min($"bkt").as("bkt"))
        .groupBy($"bkt").agg(count(lit(1)).as("n_new"))
      val wb = org.apache.spark.sql.expressions.Window.orderBy($"bkt")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      perTok.join(perNew, Seq("bkt"), "left")
        .select($"bkt", $"n_tok", coalesce($"n_new", lit(0L)).as("n_new"))
        .select(sum($"n_tok").over(wb).as("ct"), sum($"n_new").over(wb).as("cv"))
        .select(floor(log($"ct".cast("double")) * 1000000.0).cast("long").as("x"),
          floor(log($"cv".cast("double")) * 1000000.0).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
          sum($"y" * $"y").as("syy"))
        .withColumn("num", $"n" * $"sxy" - $"sx" * $"sy")
        .withColumn("denx", $"n" * $"sxx" - $"sx" * $"sx")
        .withColumn("deny", $"n" * $"syy" - $"sy" * $"sy")
        // deny = 0 ⇔ the vocabulary saturated before the second checkpoint
        // (constant y): the horizontal line is then the exact fit — slope
        // 0, r² defined as 1. Guarded on BOTH engines (ANSI errors on the
        // 0 divisor instead of yielding NaN).
        .withColumn("slope", when($"denx" > 0,
          $"num".cast("double") / $"denx".cast("double")).otherwise(lit(0.0)))
        .select($"n".as("n_points"),
          (floor($"slope" * 10000.0) / 10000.0).as("beta4"),
          (floor((($"sy".cast("double") - $"slope" * $"sx".cast("double"))
            / $"n".cast("double") / 1000000.0) * 10000.0) / 10000.0).as("icept4"),
          when($"denx" > 0 && $"deny" > 0,
            floor(($"num".cast("double") * $"num".cast("double"))
              / ($"denx".cast("double") * $"deny".cast("double")) * 10000.0)
              / 10000.0).otherwise(lit(1.0)).as("r2_4"))
    }),


    // Corpus-balance audit: entropies of the lang and source marginals,
    // their joint, and the mutual information between the two fields —
    // MI ≈ 0 means language mix is uniform across sources (safe to sample
    // by either alone); high NMI means a source IS a language and mixture
    // weights must be set jointly. Everything reduces on the (lang,
    // source) cell table (tens of rows); each -p·ln p term floor-quantizes
    // to integer micro-nats the moment it is computed, so the distributed
    // sums and the MI subtraction are exact cross-engine.
    "q156_lang_source_mi" -> ((s, dir) => {
      import s.implicits._
      def entU(cnt: Column, n: Column): Column =
        floor(-(cnt.cast("double") / n.cast("double"))
          * log(cnt.cast("double") / n.cast("double")) * lit(1000000.0)).cast("long")
      val cells = t(s, dir, "documents")
        .groupBy($"lang", $"source").agg(count(lit(1)).as("c"))
      val nRow = broadcast(cells.agg(sum($"c").as("n")))
      val hj = cells.crossJoin(nRow).agg(sum(entU($"c", $"n")).as("hj_u"))
      val hl = cells.groupBy($"lang").agg(sum($"c").as("cl")).crossJoin(nRow)
        .agg(sum(entU($"cl", $"n")).as("hl_u"))
      val hs = cells.groupBy($"source").agg(sum($"c").as("cs")).crossJoin(nRow)
        .agg(sum(entU($"cs", $"n")).as("hs_u"))
      nRow.crossJoin(broadcast(hl)).crossJoin(broadcast(hs)).crossJoin(broadcast(hj))
        .withColumn("mi_u", $"hl_u" + $"hs_u" - $"hj_u")
        .select($"n".as("n_docs"),
          ($"hl_u" / lit(1000000.0)).as("h_lang6"),
          ($"hs_u" / lit(1000000.0)).as("h_source6"),
          ($"hj_u" / lit(1000000.0)).as("h_joint6"),
          ($"mi_u" / lit(1000000.0)).as("mi6"),
          (when(least($"hl_u", $"hs_u") > 0,
            expr("(mi_u * 10000) div least(hl_u, hs_u)"))
            .otherwise(lit(0L)) / lit(10000.0)).as("nmi4"))
    }),


    // Posting-list compression planner — the storage-engineering read on
    // q113's inverted index: per term, the delta-gap stream's cost under
    // byte-aligned varint vs whole-list bitpacking (bits = ⌈log2⌉ of the
    // worst gap × df), and which encoding wins. Every quantity is exact
    // integer arithmetic (length(bin(gap)) IS floor(log2)+1 on both
    // engines). Shape: one (term, doc) distinct shuffle, then a
    // WITHIN-TERM window — the order a real index build already has per
    // shard — and a TakeOrderedAndProject top-20; gap text never moves,
    // only (term, doc_id) pairs. The decision a 100 TB index build makes
    // per posting block, modeled per term.
    "q174_postings_size" -> ((s, dir) => {
      import s.implicits._
      val dl = graft.query.InvertedIndex
        .postings(t(s, dir, "documents"), "doc_id", "text")
        .select($"term", $"doc_id").distinct()
      val w = Window.partitionBy($"term").orderBy($"doc_id")
      val gaps = dl.withColumn("gap",
        $"doc_id" - coalesce(lag($"doc_id", 1).over(w), lit(-1L)))
      val st = gaps.groupBy($"term").agg(
        count(lit(1)).as("df"), max($"gap").as("max_gap"),
        sum(when($"gap" < 128L, 1L).when($"gap" < 16384L, 2L)
          .when($"gap" < 2097152L, 3L).otherwise(4L)).as("varint_bytes"))
      st.withColumn("bitpack_bytes",
          expr("(df * length(bin(max_gap)) + 7) div 8"))
        .withColumn("winner",
          when($"bitpack_bytes" < $"varint_bytes", "bitpack").otherwise("varint"))
        .orderBy($"df".desc, $"term").limit(20)
    }),


    // Per-source boilerplate stripping — the RefinedWeb template pass
    // q68's paragraph dedup does NOT cover: dedup keeps first occurrences,
    // but a nav bar or license footer stamped on 1%+ of a source's docs
    // must go from EVERY document, first included. Frequency is counted on
    // 8-byte paragraph hashes (text never shuffles); within-doc repeats
    // count once toward document frequency but every instance strips.
    // See [[graft.operators.Boilerplate]].
    "q193_boilerplate_strip" -> ((s, dir) =>
      boilerplateStrip(t(s, dir, "documents"))),


    // Gini concentration of the token distribution per language — the
    // single-number vocabulary-inequality audit next to q146's Zipf slope
    // (a corpus whose Gini drifts up is collapsing onto template text).
    // With ascending (count, word) ranks the numerator 2·Σ(i·cᵢ) −
    // (V+1)·ΣC is an EXACT non-negative integer, so gini4 is pure integer
    // division — no float CDF. Σ(i·cᵢ) is computed WITHOUT ranking the
    // vocab: within a tie-run of equal counts c the sum Σ i·c is
    // order-invariant, with the closed form c·(m·start + m(m−1)/2) over
    // the run's size m and exclusive-prefix start — so the query groups
    // to the count-of-counts table (~O(√tokens) rows, the ExactQuantiles
    // convention), ranks only DISTINCT (lang, c) pairs, and every window
    // input is histogram-sized. No per-lang vocab ever funnels through
    // one task. Moment products accumulate in decimal(38,0) (HUGEINT on
    // the oracle side) — at 100 TB Σ i·c ≈ V·N ~ 10²² overflows BIGINT.
    "q199_token_gini" -> ((s, dir) => {
      import s.implicits._
      val cnt = t(s, dir, "documents")
        .select($"lang",
          explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .groupBy($"lang", $"w").agg(count(lit(1)).as("c"))
      val cc = cnt.groupBy($"lang", $"c").agg(count(lit(1)).as("m"))
      val w = Window.partitionBy($"lang").orderBy($"c")
        .rowsBetween(Window.unboundedPreceding, -1)
      cc.withColumn("start", coalesce(sum($"m").over(w), lit(0L)) + lit(1L))
        .withColumn("run_ic", expr(
          "cast(c as decimal(38,0)) * (cast(m as decimal(38,0)) * start" +
            " + (cast(m as decimal(38,0)) * (m - 1)) div 2)"))
        .groupBy($"lang")
        .agg(sum($"m").as("vocab"),
          sum(expr("cast(c as decimal(38,0)) * m")).as("ntd"),
          sum($"run_ic").as("ic"))
        .select($"lang", $"vocab", $"ntd".cast("long").as("n_tok"),
          expr("((2 * ic - (cast(vocab as decimal(38,0)) + 1) * ntd) * 10000)" +
            " div (cast(vocab as decimal(38,0)) * ntd)").as("gini4"))
        .orderBy($"lang")
    }),


    // Bigram-LM fluency scoring (stupid backoff, Brants'07) — the
    // held-out counterpart to q107's interpolated LM: q107 smooths by
    // mixing bigram+unigram and scores the training corpus itself (no
    // branch ever misses); this trains on an 80% hash split and scores
    // the HELD-OUT 20%, so the hit/backoff/OOV branches — the decision
    // structure a deployment actually filters on — genuinely fire and
    // are counted per doc. Integer-exact throughout: every conditional
    // probability quantizes to basis points via integral division the
    // moment it is computed and sums as BIGINT; no transcendental at
    // all (vs q107's quantized micro-nats). See
    // [[graft.operators.NgramLm]] for the 100 TB shape: the model is two
    // Heaps-sublinear count tables; scoring is linear joins keyed by
    // bigram/unigram.
    "q217_bigram_lm_score" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val h = graft.functions.HashFunctions.stableHash64(
        concat(lit("lm:"), $"doc_id".cast("string")))
      val train = docs.filter(pmod(h, lit(5L)) =!= 0)
      val evalDocs = docs.filter(pmod(h, lit(5L)) === 0)
      graft.operators.NgramLm.bigramScore(train, evalDocs, "doc_id", "text")
        .select($"id".as("doc_id"), $"n_pairs", $"n_hit", $"n_backoff",
          $"n_oov", $"sum_bps", $"mean_bps")
        .orderBy($"doc_id")
    }),


    // BPE tokenizer TRAINING, oracle-checked end-to-end — upgrades the
    // iterative trainer from spec-verified (q86 oracles only round 0's
    // pair table) to hash-checked: 6 full merge rounds, each an argmax
    // over the vocabulary pair table then a greedy leftmost fold. The one
    // corpus-sized pass is the word count; every round after runs on the
    // Heaps-sublinear vocab, so a 100 TB corpus pays one scan + one
    // shuffle and the loop never re-reads it. The oracle replays all six
    // rounds as hand-chained CTEs (SQL cannot loop) with each symbol
    // wrapped chr(2)‖sym‖chr(3), making greedy leftmost merge a single
    // non-overlapping string replace — bit-identical semantics.
    "q255_bpe_train" -> ((s, dir) => {
      import s.implicits._
      val wf = graft.operators.BpeTokenizer.wordFrequencies(
        t(s, dir, "documents"), graft.operators.TextAnalysis.tokensCol($"text"))
      val merges = graft.operators.BpeTokenizer.train(wf, 6)
      merges.zipWithIndex
        .map { case (m, i) => ((i + 1).toLong, m.l, m.r, m.cnt) }
        .toDF("rank", "l", "r", "cnt")
        .orderBy($"rank")
    }),


    // Tokenizer fertility after those 6 merges — the evidence a pipeline
    // reads to size its vocab budget: tokens-per-word-type histogram with
    // type and occurrence mass. Encoding runs over the VOCAB (encodeCol's
    // per-word fold; merge list ships in the plan), never the corpus.
    "q256_bpe_fertility" -> ((s, dir) => {
      import s.implicits._
      val wf = Tuning.cut(graft.operators.BpeTokenizer.wordFrequencies(
          t(s, dir, "documents"), graft.operators.TextAnalysis.tokensCol($"text"))) // train's 6 argmax rounds + the encode read it
      val merges = graft.operators.BpeTokenizer.train(wf, 6)
      wf.select(
          size(element_at(
            graft.operators.BpeTokenizer.encodeCol(array($"w"), merges), 1))
            .cast("long").as("n_syms"),
          $"c")
        .groupBy($"n_syms")
        .agg(count(lit(1)).as("n_types"), sum($"c").as("n_occurrences"))
        .orderBy($"n_syms")
    }),

    // Character-entropy quality census — the compressibility signal
    // (C4-style gzip-ratio filtering's exactly-replayable cousin):
    // per-doc Shannon entropy over the codepoint histogram in integer
    // micro-nats via the native [[CharEntropyMicroNats]] expression (ONE
    // compiled scan-side loop, zero shuffle — the declarative explode
    // form shuffles a row per CHARACTER), rolled up per source with the
    // low-entropy (< 2 nats ≈ template/spam) count disclosed. The one
    // transcendental per distinct char is floor-quantized the moment it
    // is computed (q69 rule), so the oracle's explode-and-groupBy replay
    // sums to identical integers.
    "q265_char_entropy" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"source",
          graft.operators.TextAnalysis.charEntropyCol($"text").as("e6"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(e6) div count(1)").as("avg_e6"),
          min($"e6").as("min_e6"), max($"e6").as("max_e6"),
          sum(($"e6" < 2000000L).cast("long")).as("n_low_entropy"))
        .orderBy($"source")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q10_lang_digest" ->
      """SELECT lang, string_agg(substr(text,1,10), '|' ORDER BY doc_id) AS texts FROM documents GROUP BY lang ORDER BY lang""",

    "q11_token_stats" ->
      """SELECT doc_id, length(text)::BIGINT AS len, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text),'\s+')) END::BIGINT AS ws_tokens, len(regexp_extract_all(text,'\w+|[^\w\s]'))::BIGINT AS n_tokens FROM documents ORDER BY doc_id""",

    "q15_doc_class" ->
      """SELECT doc_id, CASE WHEN n_chars < 150 THEN 'short' WHEN n_chars < 300 THEN 'medium' ELSE 'long' END AS size_class, CASE WHEN starts_with(text,'###') THEN 'Heading3' WHEN starts_with(text,'##') THEN 'Heading2' WHEN starts_with(text,'#') THEN 'Heading1' WHEN starts_with(text,'**') THEN 'Bold' WHEN starts_with(text,'*') THEN 'Bullet' ELSE 'Paragraph' END AS md_class FROM documents ORDER BY doc_id""",

    "q16_regex_ops" ->
      """SELECT doc_id, regexp_extract(text,'^(\w+)',1) AS first_word, length(regexp_replace(text,'\bthe\b','','g'))::BIGINT AS scrub_len FROM documents ORDER BY doc_id""",

    "q17_sections" ->
      """SELECT doc_id, source, sum(CASE WHEN is_heading = 1 OR seen_before = 0 THEN 1 ELSE 0 END) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS section FROM (SELECT doc_id, source, is_heading, coalesce(max(is_heading) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seen_before FROM (SELECT doc_id, source, CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS is_heading FROM documents)) ORDER BY doc_id""",

    "q21_label_stats" ->
      """SELECT label, count(*) AS n, min(len(embedding))::BIGINT AS dim FROM embeddings GROUP BY label ORDER BY label""",

    "q23_chunk_pypdf" -> pypdfPackerSql(
      s"""SELECT chunks[i] AS Content, len(regexp_extract_all(chunks[i], '$Tok'))::INT AS TokenCount, form AS FormName, form || '_' || (i-1)::VARCHAR AS ChunkId FROM allchunks"""),

    "q24_chunk_nougat" -> nougatPackerSql,

    "q28_lang_quality" ->
      """SELECT doc_id, CASE WHEN best <= 0 THEN 'und' WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en' WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr' ELSE 'und' END AS lang_pred, floor((least(length(text)::DOUBLE / 500.0, 1.0) + length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE / greatest(length(text)::DOUBLE, 1.0) + least(len(list_filter(toks, t -> t IN ('the','a','of','and','is','to','in','that','it','with','el','la','de','que','y','en','un','los','se','por','der','die','das','und','ist','nicht','ein','mit','auf','zu','le','les','et','est','une','dans')))::DOUBLE / greatest(len(toks)::DOUBLE, 1.0) * 5.0, 1.0) + CASE WHEN coalesce(list_sum(list_transform(toks, t -> length(t))), 0)::DOUBLE / greatest(len(toks)::DOUBLE, 1.0) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END) / 4.0 * 10000.0) / 10000.0 AS quality FROM (SELECT doc_id, text, toks, len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS s_de, len(list_filter(toks, t -> t IN ('the','a','of','and','is','to','in','that','it','with'))) AS s_en, len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','un','los','se','por'))) AS s_es, len(list_filter(toks, t -> t IN ('le','la','les','de','et','est','un','une','dans','que'))) AS s_fr, greatest(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))), len(list_filter(toks, t -> t IN ('the','a','of','and','is','to','in','that','it','with'))), len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','un','los','se','por'))), len(list_filter(toks, t -> t IN ('le','la','les','de','et','est','un','une','dans','que')))) AS best FROM (SELECT doc_id, text, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t != '') AS toks FROM documents)) ORDER BY doc_id""",

    "q38_validation" ->
      """SELECT c_custkey, email_cand, password_cand, CASE WHEN regexp_matches(email_cand, '^.+@.+\.(com)$') THEN 1 ELSE 0 END AS email_ok, CASE WHEN regexp_matches(password_cand, '^\S{5,}$') AND regexp_matches(password_cand, '[!@#$%^&*]') THEN 1 ELSE 0 END AS password_ok FROM (SELECT c_custkey, lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) || CASE WHEN c_custkey % 3 = 0 THEN '@example.org' ELSE '@example.com' END AS email_cand, CASE WHEN c_custkey % 2 = 0 THEN replace(c_name, '#', '') ELSE c_name END AS password_cand FROM customer) ORDER BY c_custkey""",

    "q61_repetition_filter" ->
      raw"""WITH ln AS (
  SELECT doc_id, len(ls)::BIGINT AS n_lines, len(list_distinct(ls))::BIGINT AS n_distinct_lines
  FROM (SELECT doc_id, list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS ls FROM documents)),
tf AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c) AS f
  FROM (SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents)
        GROUP BY doc_id, w)
  GROUP BY doc_id)
SELECT doc_id, n_lines, n_distinct_lines,
  floor((CASE WHEN n_lines > 0 THEN 1.0 - n_distinct_lines::DOUBLE / n_lines ELSE 0.0 END) * 10000.0) / 10000.0 AS dup_line_frac,
  floor(coalesce(tf.f, 0.0) * 10000.0) / 10000.0 AS top_tok_frac,
  CASE WHEN dup_line_frac <= 0.3 AND top_tok_frac <= 0.2 THEN 1 ELSE 0 END AS keep
FROM ln LEFT JOIN tf USING (doc_id) ORDER BY doc_id""",

    "q63_vocab_topk" ->
      raw"""SELECT w AS token, count(*) AS n FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents) GROUP BY w ORDER BY n DESC, token LIMIT 20""",

    "q64_pii_scrub" ->
      raw"""SELECT c_custkey, scrubbed, ((len(string_split(scrubbed, '<EMAIL>')) - 1) + (len(string_split(scrubbed, '<PHONE>')) - 1))::BIGINT AS n_redacted
FROM (SELECT c_custkey, regexp_replace(regexp_replace(
  'contact ' || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) || '@corp.example' || CASE WHEN c_custkey % 3 <> 0 THEN ' ph ' || printf('%02d-%03d-%03d-%04d', (c_nationkey + 10)::INT, (100 + c_custkey % 900)::INT, (100 + (c_custkey * 7) % 900)::INT, (1000 + (c_custkey * 13) % 9000)::INT) ELSE '' END || ' end',
  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '\d{2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS scrubbed FROM customer)
ORDER BY c_custkey""",

    "q70_quality_filter" ->
      raw"""SELECT doc_id, n_tok,
       floor((sum_len::DOUBLE / n_tok) * 10000.0) / 10000.0 AS mean_len4,
       floor((n_stop::DOUBLE / n_tok) * 10000.0) / 10000.0 AS frac_stop4,
       CASE WHEN n_tok >= 20 AND n_tok <= 80 AND n_stop > 0
              AND sum_len::DOUBLE / n_tok >= 3.0 AND sum_len::DOUBLE / n_tok <= 6.0
            THEN 1 ELSE 0 END AS keep
FROM (SELECT doc_id, len(tk)::BIGINT AS n_tok,
             list_sum(list_transform(tk, x -> len(x)))::BIGINT AS sum_len,
             len(list_filter(tk, x -> list_contains(['the','a','of','and','is','to','in','that','it','with'], x)))::BIGINT AS n_stop
      FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tk FROM documents))
ORDER BY doc_id""",

    "q71_tfidf_keywords" ->
      raw"""WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents),
tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
dft AS (SELECT w, count(*)::DOUBLE AS df FROM tf GROUP BY w),
nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
SELECT doc_id, kw_rank, w AS token, score FROM (
  SELECT doc_id, w, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w)::BIGINT AS kw_rank
  FROM (SELECT doc_id, w,
               floor((tf * (floor(ln(n_docs / df) * 1000000.0) / 1000000.0)) * 10000.0) / 10000.0 AS score
        FROM tf JOIN dft USING (w) CROSS JOIN nd))
WHERE kw_rank <= 3 ORDER BY doc_id, kw_rank""",

    "q84_vocab_coverage" ->
      raw"""WITH freq AS (SELECT w, count(*) AS c FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents) GROUP BY w),
ranked AS (SELECT c, sum(c) OVER (ORDER BY c DESC, w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             row_number() OVER (ORDER BY c DESC, w) AS rk FROM freq),
tot AS (SELECT sum(c) AS tot, count(*) AS n_types FROM freq)
SELECT tot::BIGINT AS n_tokens, n_types::BIGINT AS n_types,
  min(CASE WHEN cum * 100 >= tot * 50 THEN rk END)::BIGINT AS types_p50,
  min(CASE WHEN cum * 100 >= tot * 90 THEN rk END)::BIGINT AS types_p90,
  min(CASE WHEN cum * 100 >= tot * 99 THEN rk END)::BIGINT AS types_p99
FROM ranked, tot GROUP BY tot, n_types ORDER BY n_tokens""",

    "q86_bpe_pairs" ->
      raw"""WITH wf AS (SELECT w, count(*)::BIGINT AS c FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents) GROUP BY w)
SELECT substr(w, i, 1) AS l, substr(w, i+1, 1) AS r, sum(c)::BIGINT AS cnt
FROM (SELECT w, c, unnest(range(1, length(w))) AS i FROM wf WHERE length(w) >= 2)
GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 20""",

    "q90_edit_distance" ->
      """SELECT id_a, id_b, CASE WHEN lev0 <= 300 THEN lev0 ELSE -1 END::BIGINT AS lev, CASE WHEN lev0 <= 300 THEN floor((1.0 - lev0::DOUBLE / mx) * 10000.0) / 10000.0 ELSE -1.0 END AS sim4 FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, levenshtein(a.text, b.text) AS lev0, greatest(length(a.text), length(b.text), 1) AS mx FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1) ORDER BY id_a""",

    "q93_importance_weights" ->
      raw"""WITH tok AS (SELECT doc_id, source, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents),
cf AS (SELECT w, count(*)::BIGINT AS cc FROM tok GROUP BY w),
tf AS (SELECT w, count(*)::BIGINT AS ct FROM tok WHERE source = 'src1' GROUP BY w),
tot AS (SELECT (SELECT sum(cc) FROM cf)::BIGINT AS ctot, (SELECT count(*) FROM cf)::BIGINT AS vsz, (SELECT coalesce(sum(ct), 0) FROM tf)::BIGINT AS ttot)
SELECT doc_id, count(*) AS n_tok, sum(lru)::BIGINT AS score_u, CASE WHEN sum(lru) > 0 THEN 1 ELSE 0 END AS keep
FROM (SELECT doc_id,
        floor(ln((coalesce(ct, 0) + 1)::DOUBLE / (ttot + vsz)::DOUBLE) * 1000000.0)::BIGINT
      - floor(ln((cc + 1)::DOUBLE / (ctot + vsz)::DOUBLE) * 1000000.0)::BIGINT AS lru
      FROM tok JOIN cf USING (w) LEFT JOIN tf USING (w) CROSS JOIN tot)
GROUP BY doc_id ORDER BY doc_id""",

    "q99_temperature_mix" ->
      """WITH per AS (SELECT source, count(*)::BIGINT AS n_docs, floor(sqrt(count(*)::DOUBLE) * 1000.0)::BIGINT AS wq FROM documents GROUP BY source),
tot AS (SELECT sum(wq)::BIGINT AS wsum, sum(n_docs)::BIGINT AS n_tot FROM per),
rates AS (SELECT source, n_docs, least(1000000, (((n_tot * 6) // 10) * ((wq * 1000000) // wsum)) // n_docs)::BIGINT AS rate_ppm FROM per CROSS JOIN tot)
SELECT d.source, count(*) AS n_docs, min(rate_ppm)::BIGINT AS rate_ppm,
       sum(CASE WHEN ('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 < rate_ppm THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM documents d JOIN rates r ON d.source = r.source
GROUP BY d.source ORDER BY d.source""",

    "q100_data_card" ->
      raw"""WITH base AS (
  SELECT doc_id, source, lang, md5(text) AS h, len(tk)::BIGINT AS n_tok,
         coalesce(list_sum(list_transform(tk, x -> len(x))), 0)::BIGINT AS sum_len,
         len(list_filter(tk, x -> list_contains(['the','a','of','and','is','to','in','that','it','with'], x)))::BIGINT AS n_stop
  FROM (SELECT *, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tk FROM documents)),
occ AS (SELECT h, count(*) AS n_occ FROM base GROUP BY h),
per AS (SELECT source, count(*) AS n_docs,
  sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
  sum(n_tok)::BIGINT AS n_toks,
  sum(CASE WHEN n_tok BETWEEN 20 AND 80 AND n_stop > 0 AND sum_len::DOUBLE / n_tok >= 3.0 AND sum_len::DOUBLE / n_tok <= 6.0 THEN 1 ELSE 0 END)::BIGINT AS n_quality
  FROM base JOIN occ USING (h) GROUP BY source),
ent AS (SELECT b.source, sum(floor(-(nl::DOUBLE / n_docs) * ln(nl::DOUBLE / n_docs) * 1000000.0)::BIGINT)::BIGINT AS entropy_u
  FROM (SELECT source, lang, count(*) AS nl FROM base GROUP BY source, lang) b
  JOIN (SELECT source, count(*) AS n_docs FROM base GROUP BY source) p ON b.source = p.source
  GROUP BY b.source),
tot AS (SELECT sum(n_toks)::BIGINT AS tot_toks FROM per)
SELECT per.source, n_docs, n_dup_docs, ((n_toks * 1000000) // tot_toks)::BIGINT AS tok_share_ppm, n_quality, entropy_u
FROM per JOIN ent ON per.source = ent.source CROSS JOIN tot ORDER BY per.source""",

    "q69_unigram_lm" ->
      raw"""WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents),
freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
tot AS (SELECT sum(c) AS tcnt, count(*) AS vsz FROM freq)
SELECT doc_id, count(*) AS n_tok, sum(lpu)::BIGINT AS sum_lp_u,
       floor(sum(lpu)::DOUBLE / count(*) / 100.0) / 10000.0 AS avg_lp4
FROM (SELECT doc_id, floor(ln((c + 1)::DOUBLE / (tcnt + vsz)::DOUBLE) * 1000000.0)::BIGINT AS lpu
      FROM tok JOIN freq USING (w) CROSS JOIN tot)
GROUP BY doc_id ORDER BY doc_id""",

    "q55_corpus_profile" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs, quantile_cont(n_chars, 0.5) AS median_chars, quantile_cont(n_chars, 0.9) AS p90_chars, floor(avg(n_chars) * 10000.0)::BIGINT AS avg_chars_q, sum(CASE WHEN n_chars < 150 THEN 1 ELSE 0 END)::BIGINT AS n_short FROM documents GROUP BY source ORDER BY source""",

    "q107_bigram_lm" ->
      raw"""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS w FROM documents),
bi AS (SELECT doc_id, w[i-1] AS p, w[i] AS c FROM (SELECT doc_id, unnest(range(2, len(w)+1)) AS i, w FROM tk WHERE len(w) >= 2)),
bic AS (SELECT p, c, count(*) AS cbi FROM bi GROUP BY p, c),
prevc AS (SELECT p, sum(cbi)::BIGINT AS cp FROM bic GROUP BY p),
curc AS (SELECT c, sum(cbi)::BIGINT AS cc FROM bic GROUP BY c),
tot AS (SELECT sum(cbi)::BIGINT AS nbi FROM bic)
SELECT doc_id, count(*) AS n_bi, sum(lpu)::BIGINT AS sum_lp_u, floor(sum(lpu)::DOUBLE / count(*) / 100.0) / 10000.0 AS avg_lp4
FROM (SELECT doc_id, floor(ln(0.7::DOUBLE * (cbi::DOUBLE / cp::DOUBLE) + 0.3::DOUBLE * (cc::DOUBLE / nbi::DOUBLE)) * 1000000.0)::BIGINT AS lpu
      FROM bi JOIN bic USING (p, c) JOIN prevc USING (p) JOIN curc USING (c) CROSS JOIN tot)
GROUP BY doc_id ORDER BY doc_id""",

    "q110_bpe_encode" -> {
      val chain = BpeMerges.foldLeft(
        "array_to_string(list_transform(range(1, length(w)+1), i -> w[i]), chr(31))") {
        case (acc, (l, r)) => s"replace($acc, '$l'||chr(31)||'$r', '$l$r')"
      }
      raw"""WITH tk AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents),
enc AS (SELECT w, length(w)::BIGINT AS nc, len(string_split($chain, chr(31)))::BIGINT AS ns FROM (SELECT DISTINCT w FROM tk))
SELECT doc_id, count(*) AS n_words, sum(nc)::BIGINT AS n_chars, sum(ns)::BIGINT AS n_syms,
       floor(sum(ns)::DOUBLE / sum(nc)::DOUBLE * 10000.0) / 10000.0 AS ratio4
FROM tk JOIN enc USING (w) GROUP BY doc_id ORDER BY doc_id"""
    },

    // q136: ratios are integer micro-fractions, so the flags are exact
    "q136_repetition_rules" ->
      raw"""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS w FROM documents),
base AS (SELECT doc_id, len(w)::BIGINT AS n_tok, w FROM tk),
t1 AS (SELECT doc_id, max(c)::BIGINT AS top1_cnt FROM (SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, unnest(w) AS g FROM base) GROUP BY doc_id, g) GROUP BY doc_id),
t2 AS (SELECT doc_id, max(c)::BIGINT AS top2_cnt FROM (SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM base WHERE len(w) >= 2)) GROUP BY doc_id, g) GROUP BY doc_id),
t5 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dup5_cnt FROM (SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g FROM (SELECT doc_id, w, unnest(range(1, len(w)-3)) AS i FROM base WHERE len(w) >= 5)) GROUP BY doc_id, g) GROUP BY doc_id),
u AS (SELECT b.doc_id, b.n_tok,
  CASE WHEN b.n_tok > 0 THEN (coalesce(top1_cnt, 0) * 10000) // b.n_tok ELSE 0 END AS top1_u,
  CASE WHEN b.n_tok >= 2 THEN (coalesce(top2_cnt, 0) * 2 * 10000) // b.n_tok ELSE 0 END AS top2_u,
  CASE WHEN b.n_tok >= 5 THEN (coalesce(dup5_cnt, 0) * 10000) // (b.n_tok - 4) ELSE 0 END AS dup5_u
  FROM base b LEFT JOIN t1 USING (doc_id) LEFT JOIN t2 USING (doc_id) LEFT JOIN t5 USING (doc_id))
SELECT doc_id, n_tok, top1_u::DOUBLE / 10000.0 AS top1_frac4, top2_u::DOUBLE / 10000.0 AS top2_frac4,
       dup5_u::DOUBLE / 10000.0 AS dup5_frac4,
       (CASE WHEN top1_u > 800 OR top2_u > 1000 OR dup5_u > 3000 THEN 1 ELSE 0 END)::BIGINT AS flagged
FROM u ORDER BY doc_id""",

    // q137: the oracle plants the same synthetic PII and re-scans the
    // redacted text — residual_hits must be zero everywhere
    "q137_pii_redact" ->
      raw"""WITH aug AS (SELECT doc_id, text ||
  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id::VARCHAR || '@corp.example now' ELSE '' END ||
  CASE WHEN doc_id % 7 = 0 THEN ' call 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
  CASE WHEN doc_id % 3 = 0 THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id // 256) % 256)::VARCHAR ELSE '' END AS text
  FROM documents),
s AS (SELECT doc_id, length(text)::BIGINT AS raw_len,
  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
  len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phone,
  len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))::BIGINT AS n_ip,
  regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS red
  FROM aug)
SELECT doc_id, raw_len, n_email, n_phone, n_ip, length(red)::BIGINT AS red_len,
  (CASE WHEN n_email + n_phone + n_ip = 0 THEN 1 ELSE 0 END)::BIGINT AS clean,
  (len(regexp_extract_all(red, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
   + len(regexp_extract_all(red, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
   + len(regexp_extract_all(red, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')))::BIGINT AS residual_hits
FROM s ORDER BY doc_id""",

    // q146: integer micro-nat sums; only the final divisions are doubles
    "q146_zipf_fit" ->
      raw"""WITH f AS (SELECT w, count(*)::BIGINT AS f FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents) GROUP BY w),
r AS (SELECT floor(ln(rk::DOUBLE) * 1000000.0)::BIGINT AS x, floor(ln(f::DOUBLE) * 1000000.0)::BIGINT AS y
      FROM (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rk FROM f)),
s AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(x*y)::BIGINT AS sxy, sum(x*x)::BIGINT AS sxx, sum(y*y)::BIGINT AS syy FROM r),
d AS (SELECT n, sx, sy, (n*sxy - sx*sy)::BIGINT AS num, (n*sxx - sx*sx)::BIGINT AS denx, (n*syy - sy*sy)::BIGINT AS deny FROM s),
e AS (SELECT n, sx, sy, num, denx, deny, num::DOUBLE / denx::DOUBLE AS slope FROM d)
SELECT n AS n_terms, floor(slope * 10000.0) / 10000.0 AS slope4,
       floor(((sy::DOUBLE - slope * sx::DOUBLE) / n::DOUBLE / 1000000.0) * 10000.0) / 10000.0 AS icept4,
       floor((num::DOUBLE * num::DOUBLE) / (denx::DOUBLE * deny::DOUBLE) * 10000.0) / 10000.0 AS r2_4
FROM e""",

    // q149: q143's cells + labels, nearest different-label neighbor
    "q149_label_confusion" ->
      """WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
cells AS (SELECT vec_id, centroid_id FROM (SELECT e.vec_id, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
lab AS (SELECT c.vec_id, c.centroid_id, e.label::BIGINT AS label FROM cells c JOIN embeddings e USING (vec_id)),
sc AS (SELECT a.vec_id AS src, a.label AS label_a, b.label AS label_b, b.vec_id AS dst,
       floor(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * 10000.0)::BIGINT AS cos4
       FROM lab a JOIN lab b ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id AND a.label <> b.label
       JOIN embeddings ea ON ea.vec_id = a.vec_id JOIN embeddings eb ON eb.vec_id = b.vec_id),
nn AS (SELECT src, label_a, label_b FROM (SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos4 DESC, dst) AS rn FROM sc) WHERE rn = 1)
SELECT label_a, label_b, count(*)::BIGINT AS n_vecs FROM nn GROUP BY 1, 2 ORDER BY label_a, label_b""",

    // q151: integer score, SQL-standard rank/percent_rank arithmetic
    "q151_quality_quantiles" ->
      raw"""WITH tk AS (SELECT doc_id, source, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS w FROM documents),
b AS (SELECT doc_id, source, len(w)::BIGINT AS n_tok, list_sum(list_transform(w, x -> len(x)))::BIGINT AS sum_len FROM tk WHERE len(w) > 0),
r AS (SELECT doc_id, source, (sum_len * 10000) // n_tok AS score_u,
      rank() OVER (PARTITION BY source ORDER BY (sum_len * 10000) // n_tok)::BIGINT AS rk,
      count(*) OVER (PARTITION BY source)::BIGINT AS n FROM b)
SELECT doc_id, source, score_u::DOUBLE / 10000.0 AS score4,
       CASE WHEN n > 1 THEN floor((rk - 1)::DOUBLE / (n - 1)::DOUBLE * 10000.0) / 10000.0 ELSE 0.0 END AS pr4,
       (CASE WHEN n > 1 THEN least(9, ((rk - 1) * 10) // (n - 1)) ELSE 0 END)::BIGINT AS decile
FROM r ORDER BY doc_id""",

    // q153: same checkpoint arithmetic + q146's integer-sum regression
    "q153_heaps_fit" ->
      raw"""WITH mm AS (SELECT min(doc_id) AS lo, max(doc_id) + 1 AS hi FROM documents),
tok AS (SELECT ((doc_id - lo) * 20) // (hi - lo) AS bkt, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents, mm),
pt AS (SELECT bkt, count(*)::BIGINT AS n_tok FROM tok GROUP BY bkt),
pn AS (SELECT bkt, count(*)::BIGINT AS n_new FROM (SELECT w, min(bkt) AS bkt FROM tok GROUP BY w) GROUP BY bkt),
c AS (SELECT pt.bkt, sum(n_tok) OVER (ORDER BY pt.bkt)::BIGINT AS ct, sum(coalesce(n_new, 0)) OVER (ORDER BY pt.bkt)::BIGINT AS cv FROM pt LEFT JOIN pn ON pt.bkt = pn.bkt),
r AS (SELECT floor(ln(ct::DOUBLE) * 1000000.0)::BIGINT AS x, floor(ln(cv::DOUBLE) * 1000000.0)::BIGINT AS y FROM c),
s AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(x*y)::BIGINT AS sxy, sum(x*x)::BIGINT AS sxx, sum(y*y)::BIGINT AS syy FROM r),
d AS (SELECT n, sx, sy, (n*sxy - sx*sy)::BIGINT AS num, (n*sxx - sx*sx)::BIGINT AS denx, (n*syy - sy*sy)::BIGINT AS deny FROM s),
e AS (SELECT n, sx, sy, num, denx, deny, CASE WHEN denx > 0 THEN num::DOUBLE / denx::DOUBLE ELSE 0.0::DOUBLE END AS slope FROM d)
SELECT n AS n_points, floor(slope * 10000.0) / 10000.0 AS beta4,
       floor(((sy::DOUBLE - slope * sx::DOUBLE) / n::DOUBLE / 1000000.0) * 10000.0) / 10000.0 AS icept4,
       CASE WHEN denx > 0 AND deny > 0 THEN floor((num::DOUBLE * num::DOUBLE) / (denx::DOUBLE * deny::DOUBLE) * 10000.0) / 10000.0 ELSE 1.0::DOUBLE END AS r2_4
FROM e""",

    // q156: per-term micro-nat quantization keeps the entropy sums exact
    "q156_lang_source_mi" ->
      """WITH cells AS (SELECT lang, source, count(*)::BIGINT AS c FROM documents GROUP BY 1, 2),
n AS (SELECT sum(c)::BIGINT AS n FROM cells),
hj AS (SELECT sum(floor(-(c::DOUBLE / n::DOUBLE) * ln(c::DOUBLE / n::DOUBLE) * 1000000.0)::BIGINT)::BIGINT AS hj_u FROM cells, n),
hl AS (SELECT sum(floor(-(cl::DOUBLE / n::DOUBLE) * ln(cl::DOUBLE / n::DOUBLE) * 1000000.0)::BIGINT)::BIGINT AS hl_u FROM (SELECT lang, sum(c)::BIGINT AS cl FROM cells GROUP BY lang), n),
hs AS (SELECT sum(floor(-(cs::DOUBLE / n::DOUBLE) * ln(cs::DOUBLE / n::DOUBLE) * 1000000.0)::BIGINT)::BIGINT AS hs_u FROM (SELECT source, sum(c)::BIGINT AS cs FROM cells GROUP BY source), n)
SELECT n AS n_docs, hl_u::DOUBLE / 1000000.0 AS h_lang6, hs_u::DOUBLE / 1000000.0 AS h_source6,
       hj_u::DOUBLE / 1000000.0 AS h_joint6, (hl_u + hs_u - hj_u)::DOUBLE / 1000000.0 AS mi6,
       (CASE WHEN least(hl_u, hs_u) > 0 THEN ((hl_u + hs_u - hj_u) * 10000) // least(hl_u, hs_u) ELSE 0 END)::DOUBLE / 10000.0 AS nmi4
FROM n, hl, hs, hj""",

    // q174: length(bin(gap)) is floor(log2)+1 on both engines; gaps ≥ 1
    // because the first delta is against -1 and doc ids are distinct
    "q174_postings_size" ->
      raw"""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS toks FROM documents),
dl AS (SELECT DISTINCT term, doc_id FROM (SELECT doc_id, unnest(toks) AS term FROM tk)),
g AS (SELECT term, doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), -1) AS gap FROM dl),
st AS (SELECT term, count(*)::BIGINT AS df, max(gap)::BIGINT AS max_gap,
  sum(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2 WHEN gap < 2097152 THEN 3 ELSE 4 END)::BIGINT AS varint_bytes
  FROM g GROUP BY term)
SELECT term, df, max_gap, varint_bytes,
  ((df * length(bin(max_gap)) + 7) // 8)::BIGINT AS bitpack_bytes,
  CASE WHEN ((df * length(bin(max_gap)) + 7) // 8) < varint_bytes THEN 'bitpack' ELSE 'varint' END AS winner
FROM st ORDER BY df DESC, term LIMIT 20""",

    // q193: doc frequency on md5-derived paragraph hashes (the engine's
    // stableHash64), within-doc repeats distinct-ed out of the frequency
    // but fully counted in the strip
    "q193_boilerplate_strip" ->
      raw"""WITH toks AS (SELECT doc_id, source, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tk FROM documents),
segs AS (SELECT doc_id, source, array_to_string(tk[(i-1)*3+1 : i*3], ' ') AS p
  FROM toks, (SELECT unnest(range(1, 1000)) AS i) WHERE len(tk) > 0 AND (i-1)*3 < len(tk)),
seg2 AS (SELECT doc_id, source, p, len(string_split(p, ' '))::BIGINT AS n_tok, ('0x' || substr(md5(p), 1, 15))::BIGINT AS ph FROM segs),
perdoc AS (SELECT DISTINCT source, doc_id, ph FROM seg2),
sizes AS (SELECT source, count(DISTINCT doc_id) AS n_docs_src FROM perdoc GROUP BY 1),
freq AS (SELECT source, ph, count(*)::BIGINT AS df_docs FROM perdoc GROUP BY 1, 2),
tmpl AS (SELECT f.source, f.ph FROM freq f JOIN sizes s ON f.source = s.source WHERE f.df_docs >= 2 AND f.df_docs * 10000 >= s.n_docs_src * 100)
SELECT s2.source, count(DISTINCT s2.ph)::BIGINT AS n_template_pars,
  count(DISTINCT s2.doc_id)::BIGINT AS n_docs_affected,
  count(*)::BIGINT AS n_instances_removed, sum(s2.n_tok)::BIGINT AS n_tokens_removed
FROM seg2 s2 JOIN tmpl ON s2.source = tmpl.source AND s2.ph = tmpl.ph
GROUP BY 1 ORDER BY s2.source""",

    // q199: ascending (count, word) vocab ranks; gini as one integer div
    "q199_token_gini" ->
      raw"""WITH cnt AS (SELECT lang, w, count(*)::BIGINT AS c FROM (SELECT lang, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents) GROUP BY 1, 2),
r AS (SELECT lang, c, row_number() OVER (PARTITION BY lang ORDER BY c, w) AS i FROM cnt)
SELECT lang, count(*)::BIGINT AS vocab, sum(c)::BIGINT AS n_tok,
  ((2 * sum(i * c) - (count(*) + 1) * sum(c)) * 10000 // (count(*) * sum(c)))::BIGINT AS gini4
FROM r GROUP BY lang ORDER BY lang""",


    // q217: full LM replay — 80/20 md5 split, train counts, eval pair
    // stream, stupid-backoff CASE in pure integral division
    "q217_bigram_lm_score" ->
      raw"""WITH d AS (SELECT doc_id, lower(text) AS t, ('0x' || substr(md5('lm:' || doc_id::VARCHAR), 1, 15))::BIGINT % 5 AS b FROM documents),
tt AS (SELECT doc_id, b, regexp_extract_all(t, '\w+') AS tk FROM d),
toks AS (SELECT doc_id, b, wi AS pos, tk[wi::INTEGER] AS w FROM (SELECT doc_id, b, tk, unnest(range(1, len(tk)+1)) AS wi FROM tt)),
tp AS (SELECT doc_id, b, pos, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM toks),
c1 AS (SELECT w, count(*)::BIGINT AS c1 FROM toks WHERE b <> 0 GROUP BY w),
ntot AS (SELECT count(*)::BIGINT AS n_tot FROM toks WHERE b <> 0),
c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM tp WHERE b <> 0 AND w2 IS NOT NULL GROUP BY w1, w2),
ep AS (SELECT doc_id, w1, w2 FROM tp WHERE b = 0 AND w2 IS NOT NULL),
sc AS (SELECT ep.doc_id,
  CASE WHEN c2.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit,
  CASE WHEN c2.c2 IS NULL AND u2.c1 IS NOT NULL THEN 1 ELSE 0 END AS backoff,
  CASE WHEN c2.c2 IS NULL AND u2.c1 IS NULL THEN 1 ELSE 0 END AS oov,
  CASE WHEN c2.c2 IS NOT NULL THEN (c2.c2 * 10000) // u1.c1
       WHEN u2.c1 IS NOT NULL THEN (u2.c1 * 4000) // (SELECT n_tot FROM ntot)
       ELSE 0 END AS bps
  FROM ep LEFT JOIN c2 ON ep.w1 = c2.w1 AND ep.w2 = c2.w2
  LEFT JOIN c1 u1 ON ep.w1 = u1.w LEFT JOIN c1 u2 ON ep.w2 = u2.w)
SELECT doc_id, count(*)::BIGINT AS n_pairs, sum(hit)::BIGINT AS n_hit, sum(backoff)::BIGINT AS n_backoff, sum(oov)::BIGINT AS n_oov, sum(bps)::BIGINT AS sum_bps, (sum(bps)::BIGINT * 1) // count(*) AS mean_bps FROM sc GROUP BY doc_id ORDER BY doc_id""",


    // q255: all six merge rounds replayed as chained CTEs; each b_i is
    // that round's argmax pair, exactly the trainer's collect
    "q255_bpe_train" ->
      s"""WITH $BpeTrainCtes
SELECT * FROM (SELECT 1::BIGINT AS rank, l, r, cnt FROM b1
UNION ALL SELECT 2::BIGINT, l, r, cnt FROM b2
UNION ALL SELECT 3::BIGINT, l, r, cnt FROM b3
UNION ALL SELECT 4::BIGINT, l, r, cnt FROM b4
UNION ALL SELECT 5::BIGINT, l, r, cnt FROM b5
UNION ALL SELECT 6::BIGINT, l, r, cnt FROM b6) ORDER BY rank""",


    // q256: the post-round-6 symbolization s6 IS the encoded vocab;
    // fertility = its per-type symbol count histogram
    "q256_bpe_fertility" ->
      s"""WITH $BpeTrainCtes
SELECT len(string_split(substr(s, 2, length(s) - 2), chr(3) || chr(2)))::BIGINT AS n_syms,
count(*)::BIGINT AS n_types, sum(c)::BIGINT AS n_occurrences
FROM s6 GROUP BY 1 ORDER BY n_syms""",

    // q265: explode-per-codepoint replay of the native histogram loop —
    // same floor(ln·1e6) per-term quantization, same integer division;
    // empty-text docs re-joined at e6 = 0 (range(1,1) drops them)
    "q265_char_entropy" ->
      """WITH ex AS (SELECT doc_id, source, text, length(text) AS n, unnest(range(1, length(text) + 1)) AS i FROM documents),
cc AS (SELECT doc_id, source, n, substr(text, i::INT, 1) AS c FROM ex),
hist AS (SELECT doc_id, source, n, c, count(*)::BIGINT AS cnt FROM cc GROUP BY 1, 2, 3, 4),
ent AS (SELECT doc_id, source, (sum(cnt * floor(ln(n::DOUBLE / cnt::DOUBLE) * 1000000.0)::BIGINT) // n)::BIGINT AS e6 FROM hist GROUP BY doc_id, source, n),
ent2 AS (SELECT d.doc_id, d.source, coalesce(e.e6, 0)::BIGINT AS e6 FROM documents d LEFT JOIN ent e ON e.doc_id = d.doc_id)
SELECT source, count(*)::BIGINT AS n_docs, (sum(e6) // count(*))::BIGINT AS avg_e6,
min(e6)::BIGINT AS min_e6, max(e6)::BIGINT AS max_e6,
sum(CASE WHEN e6 < 2000000 THEN 1 ELSE 0 END)::BIGINT AS n_low_entropy
FROM ent2 GROUP BY source ORDER BY source""",
  )
}
