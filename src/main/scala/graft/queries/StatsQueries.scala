package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.SparkEntry._
import graft.operators.Tuning

/** Statistics and monitoring: AUC, calibration, drift (PSI/KS), control charts, bootstrap CIs, trend tests, privacy (k-anon, l-diversity, t-closeness), mergeable sketches.
  *
  * Extracted verbatim from the SparkEntry registry; [[graft.SparkEntry]]
  * concatenates every family into the single driver-contract maps.
  */
private[graft] object StatsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A3-analog grouped stats over the events table.
    "q18_event_type_stats" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value"), 2).as("total_value"))
        .orderBy($"event_type")
    }),


    // Deterministic per-source mixture sampling — domain weighting without
    // randomness: each source gets a reproducible rate (basis points derived
    // from a salted stable hash of the source name), each doc keeps iff its
    // own salted hash falls under the rate. Scan-side decisions (no shuffle
    // until the audit agg), reproducible across engines, runs and
    // partitionings — re-running the pipeline on a re-bucketed 100 TB corpus
    // selects the SAME documents.
    "q62_source_mix" -> ((s, dir) => {
      import s.implicits._
      val rateBp = lit(2000L) + pmod(graft.functions.HashFunctions
        .stableHash64(concat(lit("mix:"), $"source")), lit(7000L))
      val kept = pmod(graft.functions.HashFunctions
        .stableHash64(concat(lit("sample:"), $"doc_id".cast("string"))), lit(10000L)) < rateBp
      t(s, dir, "documents")
        .select($"source", rateBp.as("rate_bp"), kept.cast("int").as("kept"))
        .groupBy($"source", $"rate_bp")
        .agg(count(lit(1)).as("n_docs"), sum($"kept").cast("long").as("n_kept"))
        .orderBy($"source")
    }),


    // Hourly event-rate anomaly detection: per-hour counts z-scored
    // against the trailing 24 h (excluding the current hour), flagged at
    // |z| > 2 — the monitoring query every event pipeline runs. The window
    // runs over the HOUR-GRAIN aggregate (already corpus-reduced: bounded
    // by wall-clock hours, not events), so the single-partition ordering
    // is a few hundred rows at any corpus size. Variance comes from exact
    // integer window sums (sum, sum of squares) with the textbook formula
    // written identically on both sides — no engine stddev, whose
    // accumulation order would differ.
    "q72_event_anomaly" -> ((s, dir) => {
      import s.implicits._
      val hourly = t(s, dir, "events")
        .withColumn("hour_bucket", floor($"ts" / 3600000000000L).cast("long"))
        .groupBy($"hour_bucket").agg(count(lit(1)).as("n"))
      val fr = Window.orderBy($"hour_bucket").rowsBetween(-24, -1)
      val cnt = count($"n").over(fr).cast("double")
      val s1 = sum($"n").over(fr).cast("double")
      val s2 = sum($"n" * $"n").over(fr).cast("double")
      val variance = (s2 - (s1 * s1) / cnt) / (cnt - 1.0)
      val z = ($"n".cast("double") - s1 / cnt) / sqrt(variance)
      hourly
        .withColumn("z4", when(cnt >= 12.0 && variance > 0.0, fq4(z)))
        .withColumn("anomaly", when($"z4".isNotNull, (abs($"z4") > 2.0).cast("int")))
        .orderBy($"hour_bucket")
    }),


    // Mergeable KMV distinct-count sketch (k=16) per source: the shuffle
    // carries ≤ k longs per group (partial+final Aggregator), never the
    // distinct stream — the cardinality twin of q42's MinHash union. The
    // deterministic stable hash makes even the APPROXIMATE estimate
    // oracle-checkable bit-for-bit (row_number over the same md5 hashes);
    // k=16 sits below this corpus's ~40-token vocabulary so the (k-1)·M/h_k
    // estimator path actually runs, and n_exact rides along so the record
    // shows the accuracy. At 100 TB the same sketch column feeds
    // hierarchical rollups (merge without re-scanning).
    "q73_kmv_distinct" -> ((s, dir) => {
      import s.implicits._
      val kmvAgg = udaf(new graft.operators.KmvSketchAgg(16))
      t(s, dir, "documents")
        .select($"source", explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .select($"source", $"w",
          graft.functions.HashFunctions.stableHash64(concat(lit("kmv:"), $"w")).as("h"))
        .groupBy($"source")
        .agg(countDistinct($"w").as("n_exact"), kmvAgg($"h").as("sk"))
        .select($"source", $"n_exact",
          fq4(when(size($"sk") < 16, size($"sk").cast("double"))
            .otherwise(lit(15.0) * lit(graft.operators.KmvSketch.Modulus) /
              element_at($"sk", 16).cast("double"))).as("est4"))
        .orderBy($"source")
    }),


    // Sampled quantile profile — the mergeable path to q55's exact
    // quantiles: a deterministic bottom-16-by-salted-hash sample per source
    // (partial+final mergeable, the shuffle carries <= 16 pairs per group,
    // not the group) and exact order statistics OF the sample. Quantile
    // ranks use pure integer math (floor((p*n+99)/100) = ceil(p*n/100)) so
    // neither engine's decimal-vs-double ceil can disagree; the
    // deterministic hash makes even the sample membership oracle-checkable
    // bit-for-bit — none of t-digest/GK's engine-specific rank error.
    "q79_sampled_quantiles" -> ((s, dir) => {
      import s.implicits._
      val sampleAgg = udaf(new graft.operators.BottomMSampleAgg(16))
      def kth(vals: Column, p: Int): Column = element_at(vals,
        floor((lit(p) * size(vals) + lit(99)) / lit(100.0)).cast("int")).as(s"p$p")
      t(s, dir, "documents")
        .select($"source",
          graft.functions.HashFunctions.stableHash64(
            concat(lit("sample:"), $"doc_id".cast("string"))).as("h"),
          $"n_chars")
        .groupBy($"source")
        .agg(sampleAgg($"h", $"n_chars").as("vals"))
        .select($"source", size($"vals").cast("long").as("sample_n"),
          kth($"vals", 25), kth($"vals", 50), kth($"vals", 75), kth($"vals", 90))
        .orderBy($"source")
    }),


    // Count-Min sketch heavy hitters: the sketch ingests the raw token
    // stream through a mergeable typed Aggregator (partial+final — each
    // partition reduces to one 4×128 long array, the merge tree ships
    // 4 KB sketches, never tokens), then the top-20 exact words read their
    // point estimates from the broadcast sketch. CMS guarantees est >= cnt
    // (one-sided error); the oracle rebuilds the identical counter table
    // relationally from the same md5 hash family.
    "q91_countmin" -> ((s, dir) => {
      import s.implicits._
      val depth = 4; val width = 128
      val toks = t(s, dir, "documents")
        .select(explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
      val cms = udaf(new graft.operators.CountMinAgg(depth, width),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]())
      val sketch = toks
        .select(graft.operators.CountMinAgg.bucketsCol($"w", depth, width).as("bs"))
        .agg(cms($"bs").as("sketch"))
      val top = toks.groupBy($"w").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"w").limit(20)
      top.crossJoin(broadcast(sketch))
        .select($"w", $"cnt",
          graft.operators.CountMinAgg.estimateCol($"w", $"sketch", depth, width).as("est"))
        .withColumn("overcount", $"est" - $"cnt")
        .orderBy($"cnt".desc, $"w")
    }),


    // HyperLogLog distinct-count per source — the FOURTH mergeable sketch
    // (cardinality with FIXED m-register state; KMV q73 trades k·8 bytes
    // for exactness below k). Registers ingest the raw token stream via a
    // typed Aggregator (partial+final — each partition reduces to one
    // 16-int array, the shuffle ships registers, never tokens), and the
    // bucket/rank derivation is scan-side md5 so the oracle rebuilds the
    // IDENTICAL registers with max() GROUP BY. Estimate math is integer
    // (S = Σ 2^(48-M_j)) up to one literal product + division; n_exact
    // rides along to show the accuracy.
    "q102_hll_distinct" -> ((s, dir) => {
      import s.implicits._
      val p = 4
      val hll = udaf(new graft.operators.HllAgg(p),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Int)]())
      t(s, dir, "documents")
        .select($"source", explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .select($"source", $"w",
          graft.functions.HashFunctions.stableHash64(concat(lit("hll:"), $"w")).as("h"))
        .withColumn("bkt", graft.operators.HllSketch.bucketCol($"h", p))
        .withColumn("rnk", graft.operators.HllSketch.rankExpr("h", p))
        .groupBy($"source")
        .agg(countDistinct($"w").as("n_exact"),
          hll($"bkt", $"rnk").as("regs"))
        .select($"source", $"n_exact",
          fq4(graft.operators.HllSketch.estimateExpr("regs", p)).as("est4"))
        .orderBy($"source")
    }),


    // Top-k per group WITHOUT the window sort: a bounded-heap typed
    // Aggregator (TopKAgg) reduces every map-side partition to ≤ k pairs
    // per group BEFORE the exchange — the shuffle carries
    // O(groups·k·partitions) state instead of every row, which at 100 TB
    // is the difference between a kilobyte-scale exchange and shuffling
    // the corpus through `row_number() OVER (PARTITION BY …)`. Plan-pinned
    // (no Window, ObjectHashAggregate with partial merge) in SparkOpsSpec.
    "q103_topk_per_group" -> ((s, dir) => {
      import s.implicits._
      val topk = udaf(new graft.operators.TopKAgg(3),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]())
      t(s, dir, "documents")
        .groupBy($"source")
        .agg(topk($"n_chars", $"doc_id").as("top"))
        .select($"source", posexplode($"top").as(Seq("i", "p")))
        .select($"source", ($"i" + 1).cast("long").as("rk"),
          $"p._2".as("doc_id"), $"p._1".as("n_chars"))
        .orderBy($"source", $"rk")
    }),


    // Mergeable corpus statistics — the 100 TB rollup contract proven at
    // the query level: per-source stats are computed INDEPENDENTLY on two
    // disjoint corpus halves (doc_id parity), then COMBINED purely from
    // the partial states — counts add, HLL registers take the element-wise
    // max (zip_with greatest) — and the merged estimate must equal the
    // whole-corpus stats bit-for-bit (the oracle computes them directly,
    // never seeing the halves). This is how a data card stays one cheap
    // merge per ingest instead of a corpus re-scan: yesterday's sketch ⊕
    // today's delta.
    "q112_mergeable_stats" -> ((s, dir) => {
      import s.implicits._
      val p = 4
      def half(pred: org.apache.spark.sql.Column) = {
        val hll = udaf(new graft.operators.HllAgg(p),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Int)]())
        t(s, dir, "documents").filter(pred)
          .select($"source",
            explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
          .select($"source", $"w",
            graft.functions.HashFunctions.stableHash64(concat(lit("hll:"), $"w")).as("h"))
          .withColumn("bkt", graft.operators.HllSketch.bucketCol($"h", p))
          .withColumn("rnk", graft.operators.HllSketch.rankExpr("h", p))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_tok"), hll($"bkt", $"rnk").as("regs"))
      }
      val a = half($"doc_id" % 2 === 0)
      val b = half($"doc_id" % 2 === 1)
      a.toDF("source", "n_tok_a", "regs_a")
        .join(b.toDF("source", "n_tok_b", "regs_b"), Seq("source"), "full")
        .select($"source",
          (coalesce($"n_tok_a", lit(0L)) + coalesce($"n_tok_b", lit(0L))).as("n_tok"),
          zip_with(
            coalesce($"regs_a", array_repeat(lit(0), 1 << p)),
            coalesce($"regs_b", array_repeat(lit(0), 1 << p)),
            (x, y) => greatest(x, y)).as("regs"))
        .select($"source", $"n_tok",
          fq4(graft.operators.HllSketch.estimateExpr("regs", p)).as("est4"))
        .orderBy($"source")
    }),


    // Log-histogram percentiles — the mergeable-quantile answer for
    // latency-style metrics: values quantize to integer centi-units at
    // the scan, bucket = binary length (power-of-two histogram, ≤ 2×
    // relative error), and a percentile is the first bucket whose
    // cumulative count crosses ceil(q·n) — ALL integer arithmetic, so
    // any engine/partitioning reproduces it, and the histogram (unlike a
    // sorted-sample percentile) merges across shards by adding counts.
    // The corpus shuffle carries (type, bucket) partial counts only; the
    // cumulative walk runs on the bucket-ladder-sized relation.
    "q127_log_histogram" -> ((s, dir) => {
      import s.implicits._
      val hist = t(s, dir, "events")
        .select($"event_type",
          length(bin(greatest(floor($"value" * 100.0).cast("long"), lit(0L)))).as("bucket"))
        .groupBy($"event_type", $"bucket").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"event_type").orderBy($"bucket")
      val cum = hist.withColumn("cum", sum($"c").over(w))
        .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
      def pct(q: Int) = min(when($"cum" >= expr(s"(n * $q + 99) div 100"),
        expr("shiftleft(cast(1 as bigint), bucket - 1)"))).as(s"p${q}_lb100")
      cum.groupBy($"event_type")
        .agg(first($"n").as("n_events"), pct(50), pct(90), pct(99))
        .orderBy($"event_type")
    }),


    // Sketch algebra for overlap estimation — the join-size question a
    // planner asks ("how many distinct tokens do these two sources
    // share?") answered WITHOUT touching the data twice: per-source HLL
    // registers (one corpus pass) combine by element-wise max into the
    // union sketch, and inclusion–exclusion gives the intersection
    // estimate — est(A) + est(B) − est(A∪B) — computed in floor-quantized
    // integer 1e-4 units so the combination is exact cross-engine. The
    // exact intersection rides along as the accuracy reference.
    "q128_sketch_overlap" -> ((s, dir) => {
      import s.implicits._
      val p = 6
      val srcs = Seq("src0", "src1", "src2", "src3", "src4")
      val hll = udaf(new graft.operators.HllAgg(p),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Int)]())
      val tok = t(s, dir, "documents").filter($"source".isin(srcs: _*))
        .select($"source",
          explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
      val regs = Tuning.cut(tok
        .select($"source", $"w",
          graft.functions.HashFunctions.stableHash64(concat(lit("hll:"), $"w")).as("h"))
        .withColumn("bkt", graft.operators.HllSketch.bucketCol($"h", p))
        .withColumn("rnk", graft.operators.HllSketch.rankExpr("h", p))
        .groupBy($"source").agg(hll($"bkt", $"rnk").as("regs"))) // source-count-sized; feeds both join sides
      val vocab = Tuning.cut(tok.select($"source", $"w").distinct())
      val exact = vocab.toDF("src_a", "w")
        .join(vocab.toDF("src_b", "w"), Seq("w"))
        .filter($"src_a" < $"src_b")
        .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_inter_exact"))
      def e4(c: Column) = floor(c * 10000.0).cast("long")
      regs.toDF("src_a", "regs_a").crossJoin(regs.toDF("src_b", "regs_b"))
        .filter($"src_a" < $"src_b")
        .select($"src_a", $"src_b",
          e4(graft.operators.HllSketch.estimateExpr("regs_a", p)).as("ea"),
          e4(graft.operators.HllSketch.estimateExpr("regs_b", p)).as("eb"),
          zip_with($"regs_a", $"regs_b", (x, y) => greatest(x, y)).as("regs_u"))
        .select($"src_a", $"src_b", $"ea", $"eb",
          e4(graft.operators.HllSketch.estimateExpr("regs_u", p)).as("eu"))
        .select($"src_a", $"src_b",
          ($"ea" / 10000.0).as("est_a4"), ($"eb" / 10000.0).as("est_b4"),
          ($"eu" / 10000.0).as("est_u4"),
          (greatest($"ea" + $"eb" - $"eu", lit(0L)) / 10000.0).as("est_i4"))
        .join(exact, Seq("src_a", "src_b"), "left")
        .select($"src_a", $"src_b", coalesce($"n_inter_exact", lit(0L)).as("n_inter_exact"),
          $"est_a4", $"est_b4", $"est_u4", $"est_i4")
        .orderBy($"src_a", $"src_b")
    }),


    // Training-mixture weights (DoReMi-lite / temperature sampling, Xie et
    // al. 2023): per-source token shares reweighted at temperature τ=0.5
    // (w_i ∝ share_i^0.5, the multilingual-sampling convention). sqrt is
    // IEEE-exactly-rounded so quantizing each per-source sqrt to 1e-6 then
    // doing ONLY integer arithmetic (integer sums, integer division) makes
    // every weight engine- and partitioning-exact. One corpus scan for the
    // token counts; everything after is source-count-sized.
    "q141_mixture_weights" -> ((s, dir) => {
      import s.implicits._
      val per = Tuning.cut(t(s, dir, "documents")
        .select($"source",
          size(graft.operators.TextAnalysis.tokensCol($"text")).cast("long").as("nt"))
        .groupBy($"source").agg(sum($"nt").as("n_tok"))) // source-count-sized; three derived aggs
      val tot = per.agg(sum($"n_tok").as("tot"))
      val r = per.crossJoin(broadcast(tot))
        .withColumn("share_bp", expr("(n_tok * 10000) div tot"))
        .withColumn("share_u", expr("(n_tok * 1000000) div tot"))
        .withColumn("r_u", floor(sqrt($"n_tok".cast("double") / $"tot".cast("double"))
          * lit(1000000.0)).cast("long"))
      val sumr = r.agg(sum($"r_u").as("sum_r"))
      r.crossJoin(broadcast(sumr))
        .withColumn("w4_u", expr("(r_u * 10000) div sum_r"))
        .select($"source", $"n_tok", $"share_bp",
          ($"w4_u" / lit(10000.0)).as("w4"),
          (expr("(w4_u * 1000000) div share_u") / lit(10000.0)).as("epochs4"))
        .orderBy($"source")
    }),


    // Per-source distribution drift: unigram KL(source ‖ corpus) — the
    // monitoring metric that catches a crawler/source going off-topic
    // between corpus builds. Every source term exists in the corpus (the
    // corpus is the union), so no smoothing is needed. Per-term
    // contributions are floor-quantized to integer micro-nats the moment
    // the ln is computed (the suite's transcendental rule) so the
    // per-source sum is partitioning-exact. One corpus scan → one gram
    // hash-agg; the corpus-side tables derive from the SAME agg (no second
    // scan); everything after is vocab-sized.
    "q142_source_drift" -> ((s, dir) => {
      import s.implicits._
      val cs = Tuning.cut(t(s, dir, "documents")
        .select($"source", explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .groupBy($"source", $"w").agg(count(lit(1)).as("c_s"))) // one corpus shuffle; c_g/n_s/n_g derive from it
      val cg = cs.groupBy($"w").agg(sum($"c_s").as("c_g"))
      val ns = cs.groupBy($"source").agg(sum($"c_s").as("n_s"))
      val ng = cg.agg(sum($"c_g").as("n_g"))
      cs.join(cg, Seq("w"))
        .join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(ng))
        .select($"source",
          floor(($"c_s".cast("double") / $"n_s".cast("double"))
            * log(($"c_s".cast("double") * $"n_g".cast("double"))
              / ($"n_s".cast("double") * $"c_g".cast("double")))
            * lit(1000000.0)).cast("long").as("contrib_u"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_terms"), sum($"contrib_u").as("kl_u"))
        .select($"source", $"n_terms", $"kl_u",
          (floor($"kl_u" / 100.0) / 10000.0).as("kl4"))
        .orderBy($"source")
    }),


    // Document-level PMI pair mining (Church & Hanks 1990) over the
    // frequent vocabulary — collocation discovery for tokenizer/phrase
    // curation. The pair space is generated by a doc_id self-join of the
    // df-pruned (doc, word) table: the prune bounds per-doc fan-out by the
    // kept-vocab size, so the join output is docs × O(V_kept²) — the knob
    // that keeps this finite at 100 TB (raise the df floor as the corpus
    // grows). PMI quantized to micro-nats at computation.
    "q144_pmi_pairs" -> ((s, dir) => {
      import s.implicits._
      val dw = Tuning.cut(t(s, dir, "documents")
        .select($"doc_id", explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .distinct()) // doc×vocab sized; feeds df + the pair join
      val dfr = dw.groupBy($"w").agg(count(lit(1)).as("df"))
      val kept = Tuning.cut(dfr.filter($"df" >= 50))
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val kdw = dw.join(broadcast(kept.select($"w")), Seq("w"))
      kdw.select($"doc_id", $"w".as("wa"))
        .join(kdw.select($"doc_id", $"w".as("wb")), Seq("doc_id"))
        .filter($"wa" < $"wb")
        .groupBy($"wa", $"wb").agg(count(lit(1)).as("c_ab"))
        .join(broadcast(kept.select($"w".as("wa"), $"df".as("df_a"))), Seq("wa"))
        .join(broadcast(kept.select($"w".as("wb"), $"df".as("df_b"))), Seq("wb"))
        .crossJoin(broadcast(nd))
        .select($"wa", $"wb", $"c_ab", $"df_a", $"df_b",
          floor(log(($"c_ab".cast("double") * $"n_docs".cast("double"))
            / ($"df_a".cast("double") * $"df_b".cast("double")))
            * lit(1000000.0)).cast("long").as("pmi_u"))
        .orderBy($"pmi_u".desc, $"wa", $"wb")
        .limit(50)
    }),


    // Winsorized robust stats per source — rank-exact p05/p95 clipping of
    // the length signal before the mean: the robust alternative to
    // DROPPING outlier docs (clip, don't discard — keeps token mass).
    // Nearest-rank percentiles with a doc_id tie-break are exact and
    // engine-agnostic (no interpolation); the rank is
    // Batching.groupedRowNumber — range-partitioned by (source, n_chars),
    // so one dominant source still sorts across every task — the cut
    // table is source-count-sized and broadcast back, and everything
    // after the rank is integer arithmetic quantized at 1e-4.
    "q154_winsorize" -> ((s, dir) => {
      import s.implicits._
      val r = graft.operators.Batching.groupedRowNumber(
        t(s, dir, "documents").select($"source", $"doc_id", $"n_chars"),
        Seq("source"), Seq($"n_chars", $"doc_id"), 32, "rn", Some("n"))
      val cuts = r.groupBy($"source")
        .agg(max(when($"rn" === expr("(n * 5 + 99) div 100"), $"n_chars")).as("p05"),
          max(when($"rn" === expr("(n * 95 + 99) div 100"), $"n_chars")).as("p95"))
      r.join(broadcast(cuts), Seq("source"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), max($"p05").as("p05"), max($"p95").as("p95"),
          expr("(sum(n_chars) * 10000) div count(1)").as("mr"),
          expr("(sum(least(greatest(n_chars, p05), p95)) * 10000) div count(1)")
            .as("mw"))
        .select($"source", $"n_docs", $"p05", $"p95",
          ($"mr" / lit(10000.0)).as("mean_raw4"),
          ($"mw" / lit(10000.0)).as("mean_wins4"))
        .orderBy($"source")
    }),


    // EWMA smoothing of the hourly event series with EXACT integer
    // arithmetic: weights are powers of two (α = 1/2 over a 24-hour
    // horizon), so numerator and denominator are order-free BIGINT sums —
    // no float pow, no engine-ordered accumulation, bit-identical on any
    // partitioning. The q72 z-score flags deviation from a flat mean; the
    // EWMA baseline discounts the past geometrically, the load-forecast
    // shape. Missing hours contribute nothing (sparse EWMA; q125's dense
    // spine is the zero-filled alternative). Scale: the fan-out join is
    // 24× a TIME-BUCKET-sized table, never corpus-sized.
    "q157_ewma_hourly" -> ((s, dir) => {
      import s.implicits._
      val hourly = Tuning.cut(t(s, dir, "events")
        .select(expr("ts div 3600000000000").as("hour_bucket"))
        .groupBy($"hour_bucket").agg(count(lit(1)).as("n"))) // contributions + the target join read it
      val contrib = hourly
        .select($"hour_bucket", $"n", explode(expr("sequence(1, 24)")).as("k"))
        .select(($"hour_bucket" + $"k").as("hour_bucket"),
          expr("n * shiftleft(cast(1 as bigint), 24 - k)").as("wn"),
          expr("shiftleft(cast(1 as bigint), 24 - k)").as("wt"))
        .groupBy($"hour_bucket")
        .agg(sum($"wn").as("num"), sum($"wt").as("den"),
          count(lit(1)).as("n_prior"))
      hourly.join(contrib, Seq("hour_bucket"), "left")
        .select($"hour_bucket", $"n",
          coalesce($"n_prior", lit(0L)).as("n_prior"),
          when($"den" > 0, expr("(num * 10000) div den") / lit(10000.0))
            .as("smooth4"),
          when($"den" > 0,
            when($"n" * $"den" > lit(2L) * $"num", lit(1L)).otherwise(lit(0L)))
            .as("spike"))
        .orderBy($"hour_bucket")
    }),


    // Exact corpus percentiles WITHOUT a global sort — two histogram-sized
    // shuffles locate each nearest-rank order statistic (the audit/SLA
    // numbers approx_percentile can't certify). See
    // [[graft.operators.ExactQuantiles]] for the refinement scheme.
    "q159_exact_quantiles" -> ((s, dir) =>
      graft.operators.ExactQuantiles.quantiles(
        t(s, dir, "documents"), "n_chars",
        probs4 = Seq(2500L, 5000L, 7500L, 9000L, 9900L), coarseWidth = 64L)),


    // Robust anomaly flags — median/MAD instead of mean/σ (q72's z-score
    // breaks down exactly when it matters: a burst inflates the trailing
    // mean AND the variance, masking itself; the median ignores up to 50%
    // contamination). Per event type over its hourly counts: med =
    // nearest-rank median, MAD = nearest-rank median of |n − med|, flag
    // when |n − med| · 10 > 3 · 10 · MAD computed as exact integer
    // cross-multiplication (the 1.4826 σ-consistency constant folds into
    // the threshold: 3·MAD here ≈ 2σ under normality). Windows partition
    // by TYPE — strata parallelize; the per-type relations are
    // hour-count-sized.
    "q161_robust_anomaly" -> ((s, dir) => {
      import s.implicits._
      val hourly = Tuning.cut(t(s, dir, "events")
        .select($"event_type", expr("ts div 3600000000000").as("hour_bucket"))
        .groupBy($"event_type", $"hour_bucket").agg(count(lit(1)).as("n"))) // feeds the median, the MAD and the flags
      val wm = Window.partitionBy($"event_type").orderBy($"n", $"hour_bucket")
      val wc = Window.partitionBy($"event_type")
      val med = hourly
        .withColumn("rn", row_number().over(wm).cast("long"))
        .withColumn("cnt", count(lit(1)).over(wc))
        .filter($"rn" === expr("(cnt + 1) div 2"))
        .select($"event_type", $"n".as("med"))
      val dev = hourly.join(broadcast(med), Seq("event_type"))
        .withColumn("ad", abs($"n" - $"med"))
      val wd = Window.partitionBy($"event_type").orderBy($"ad", $"hour_bucket")
      val mad = dev
        .withColumn("rn", row_number().over(wd).cast("long"))
        .withColumn("cnt", count(lit(1)).over(wc))
        .filter($"rn" === expr("(cnt + 1) div 2"))
        .select($"event_type", $"ad".as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_hours"), max($"med").as("med"),
          max($"mad").as("mad"),
          sum(when($"ad" > lit(3L) * $"mad", 1L).otherwise(0L)).as("n_anomalies"),
          // worst hour = argmax deviation, ties to the later hour — packed
          // as one integer so the same max is exact on any engine
          max(when($"ad" > lit(3L) * $"mad",
            $"ad" * lit(10000000L) + $"hour_bucket")).as("w"))
        .select($"event_type", $"n_hours", $"med", $"mad", $"n_anomalies",
          when($"w".isNotNull, pmod($"w", lit(10000000L))).as("worst_hour"))
        .orderBy($"event_type")
    }),


    // Two-proportion A/B test — the experimentation primitive: users hash
    // into cohorts (q58's stable split hash, so assignment is reproducible
    // and joins nothing), conversion = share of purchase events, and the
    // pooled two-proportion z-statistic decides significance. All counts
    // are exact integers; the z formula runs in doubles with IDENTICAL
    // operation order on both engines and floor-quantizes at 1e-4 (q72's
    // transcendental policy); the 1.96 significance gate compares the
    // QUANTIZED z so the decision is integer-exact. One scan, one
    // cohort-sized aggregate.
    "q162_ab_test" -> ((s, dir) => {
      import s.implicits._
      val cohort = pmod(graft.functions.HashFunctions
        .stableHash64(concat(lit("ab:"), $"user_id".cast("string"))), lit(2L))
      val g = t(s, dir, "events")
        .select(cohort.as("cohort"),
          ($"event_type" === "purchase").cast("long").as("is_conv"))
        .groupBy($"cohort")
        .agg(count(lit(1)).as("n"), sum($"is_conv").as("k"))
      val a = g.filter($"cohort" === 0).select($"n".as("n0"), $"k".as("k0"))
      val b = g.filter($"cohort" === 1).select($"n".as("n1"), $"k".as("k1"))
      broadcast(a).crossJoin(broadcast(b))
        .withColumn("p0_4", expr("(k0 * 10000) div n0"))
        .withColumn("p1_4", expr("(k1 * 10000) div n1"))
        // degenerate pooled rates (no conversions anywhere, or nothing
        // but conversions) put a 0 under the sqrt: Spark would yield
        // NaN/Infinity → null while DuckDB's floor(NaN)::BIGINT errors —
        // gate the z identically on both engines so the edge is DEFINED
        // (null z, null significance) rather than engine-divergent
        .withColumn("z4", when(
          ($"k0" + $"k1") > lit(0L) && ($"k0" + $"k1") < ($"n0" + $"n1"),
          floor(
            (($"k0".cast("double") / $"n0".cast("double"))
              - ($"k1".cast("double") / $"n1".cast("double")))
              / sqrt((($"k0" + $"k1").cast("double") / ($"n0" + $"n1").cast("double"))
                * (lit(1.0) - ($"k0" + $"k1").cast("double") / ($"n0" + $"n1").cast("double"))
                * (lit(1.0) / $"n0".cast("double") + lit(1.0) / $"n1".cast("double")))
              * lit(10000.0)).cast("long")))
        .select($"n0", $"k0", $"n1", $"k1", $"p0_4", $"p1_4", $"z4",
          when($"z4".isNotNull, (abs($"z4") > 19600L).cast("int"))
            .as("significant"))
    }),


    // Sketch-rollup table: per-(source, lang) HLL registers built ONCE
    // from the token scan, then re-aggregated to per-source and global
    // distinct-vocabulary estimates by element-wise register max — the
    // raw key stream is never rescanned for the coarser grains. This is
    // the storage pattern a 100 TB nightly job wants: persist the
    // fine-grain register table (groups × 64 ints), answer every
    // coarser distinct question from it exactly as the fine scan would
    // have (registers are a max-monoid — rollup is lossless, not an
    // approximation of the approximation). Exact distinct counts ride
    // along from one checkpointed vocab relation as calibration.
    "q172_sketch_rollup" -> ((s, dir) => {
      import s.implicits._
      val p = 6
      val hll = udaf(new graft.operators.HllAgg(p),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Int)]())
      val tok = t(s, dir, "documents")
        .select($"source", $"lang",
          explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
      val base = Tuning.cut(tok
        .select($"source", $"lang",
          graft.functions.HashFunctions.stableHash64(concat(lit("hll:"), $"w")).as("h"))
        .withColumn("bkt", graft.operators.HllSketch.bucketCol($"h", p))
        .withColumn("rnk", graft.operators.HllSketch.rankExpr("h", p))
        .groupBy($"source", $"lang").agg(hll($"bkt", $"rnk").as("regs"))) // the register table — all rollups read this
      val vocab = Tuning.cut(tok.distinct()) // exact sidecar
      def e4 = fq4(graft.operators.HllSketch.estimateExpr("regs", p)).as("est4")
      val lvl0 = base
        .join(vocab.groupBy($"source", $"lang").agg(count(lit(1)).as("n_exact")),
          Seq("source", "lang"))
        .select(lit("1_source_lang").as("level"), $"source", $"lang", $"n_exact", e4)
      val lvl1 = graft.operators.HllSketch.rollupRegisters(base, Seq("source"), "regs")
        .join(vocab.select($"source", $"w").distinct()
          .groupBy($"source").agg(count(lit(1)).as("n_exact")), Seq("source"))
        .select(lit("2_source").as("level"), $"source", lit("").as("lang"),
          $"n_exact", e4)
      val lvl2 = graft.operators.HllSketch.rollupRegisters(base, Seq.empty, "regs")
        .crossJoin(broadcast(
          vocab.select($"w").distinct().agg(count(lit(1)).as("n_exact"))))
        .select(lit("3_global").as("level"), lit("").as("source"),
          lit("").as("lang"), $"n_exact", e4)
      lvl0.unionByName(lvl1).unionByName(lvl2)
        .orderBy($"level", $"source", $"lang")
    }),


    // k-anonymity audit over quasi-identifiers — the data-governance gate
    // before releasing a corpus slice: every (lang, source, length-bucket)
    // combination is an equivalence class; classes with one member
    // re-identify a document, small classes nearly so. One groupBy over
    // the scan builds the class histogram, a 3-row rollup classifies it
    // (unique / small / anonymous at k = 5) with exact corpus shares.
    // Shuffles carry (quasi-id, count) rows only.
    "q175_k_anonymity" -> ((s, dir) => {
      import s.implicits._
      val classes = t(s, dir, "documents")
        .groupBy($"lang", $"source", expr("n_chars div 100").as("len_bucket"))
        .agg(count(lit(1)).as("sz"))
      val tot = broadcast(t(s, dir, "documents").agg(count(lit(1)).as("n")))
      classes
        .select(when($"sz" === 1, "1_unique").when($"sz" < 5, "2_small")
          .otherwise("3_anonymous").as("risk_class"), $"sz")
        .groupBy($"risk_class")
        .agg(count(lit(1)).as("n_classes"), sum($"sz").as("n_docs"))
        .crossJoin(tot)
        .select($"risk_class", $"n_classes", $"n_docs",
          (expr("(n_docs * 10000) div n") / lit(10000.0)).as("docs_share4"))
        .orderBy($"risk_class")
    }),


    // Pareto frontier over (token count, type-token ratio) — the
    // "longest AND most lexically diverse" docs no other doc beats on
    // both axes, the curriculum build's skyline. Grid pruning
    // (Skyline.frontier) keeps the dominance join frontier-band-sized;
    // the pruning is pure cost, so the oracle is the plain NOT-EXISTS
    // dominance query over all docs (the q169 convention).
    "q182_pareto_frontier" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents")
        .select($"doc_id",
          graft.operators.TextAnalysis.tokensCol($"text").as("toks"))
        .select($"doc_id", size($"toks").cast("long").as("n_tok"),
          size(array_distinct($"toks")).cast("long").as("n_types"))
        .filter($"n_tok" > 0)
        .select($"doc_id", $"n_tok", expr("(n_types * 10000) div n_tok").as("ttr4"))
      graft.operators.Skyline.frontier(base, "n_tok", "ttr4")
        .orderBy($"doc_id")
    }),


    // CUPED variance-reduced A/B readout (Deng et al., WSDM 2013) — the
    // experimentation upgrade over q162: each user's PRE-period activity is
    // the control covariate, θ = cov(X,Y)/var(X) over all users, and each
    // arm reports its raw and adjusted mean. Moments accumulate as EXACT
    // integer sums (micro-unit BIGINTs; the Σxy/Σxx products in
    // decimal(38,0) so 10⁹-microunit users cannot overflow — the oracle's
    // HUGEINT twin is exact the same way), so the only doubles are the
    // final scalar ratios, computed in one pinned operation order on both
    // engines. Two scans of the per-user rollup (moments + arms) off one
    // cut; everything after the user-keyed aggregate is
    // cohort-sized. θ's denominator is gated: a zero-variance covariate
    // yields null θ and null adjusted means, identically on both engines.
    "q189_cuped" -> ((s, dir) => {
      import s.implicits._
      val cut = 1705276800000000000L // 2024-01-15 00:00 UTC, epoch-ns
      val users = Tuning.cut(t(s, dir, "events")
        .select($"user_id", $"ts",
          expr("cast(floor(value * 1000000) as bigint)").as("vu"))
        .groupBy($"user_id")
        .agg(sum(when($"ts" < lit(cut), $"vu").otherwise(0L)).as("xu"),
          sum(when($"ts" >= lit(cut), $"vu").otherwise(0L)).as("yu"))) // moments + arm rollup both read it
      val mom = broadcast(users.agg(
        count(lit(1)).as("n"), sum($"xu").as("sx"), sum($"yu").as("sy"),
        sum($"xu".cast("decimal(19,0)") * $"yu".cast("decimal(19,0)")).as("sxy"),
        sum($"xu".cast("decimal(19,0)") * $"xu".cast("decimal(19,0)")).as("sxx")))
      val arms = users
        .select(pmod(graft.functions.HashFunctions.stableHash64(
          concat(lit("ab:"), $"user_id".cast("string"))), lit(2L)).as("cohort"),
          $"xu", $"yu")
        .groupBy($"cohort")
        .agg(count(lit(1)).as("n_users"),
          sum($"xu").as("sx_a"), sum($"yu").as("sy_a"))
      arms.crossJoin(mom)
        .withColumn("denom",
          $"n".cast("double") * $"sxx".cast("double")
            - $"sx".cast("double") * $"sx".cast("double"))
        .withColumn("theta", when($"denom" > 0.0,
          ($"n".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double")) / $"denom"))
        .select($"cohort", $"n_users",
          floor(($"sx_a".cast("double") / $"n_users".cast("double")) / 100.0)
            .cast("long").as("mean_x4u"),
          floor(($"sy_a".cast("double") / $"n_users".cast("double")) / 100.0)
            .cast("long").as("mean_y4u"),
          floor($"theta" * 1000000.0).cast("long").as("theta6"),
          floor((($"sy_a".cast("double") / $"n_users".cast("double"))
            - $"theta" * ($"sx_a".cast("double") / $"n_users".cast("double")
              - $"sx".cast("double") / $"n".cast("double"))) / 100.0)
            .cast("long").as("mean_yadj4u"))
        .orderBy($"cohort")
    }),


    // l-diversity audit — q175's k-anonymity asks "is the equivalence
    // class big enough?"; this asks the stronger privacy question: does
    // each quasi-identifier class (lang, 20-char length bucket) span
    // enough DISTINCT values of the sensitive attribute (source)? A class
    // of 50 rows all from one source still re-identifies the source.
    // Exact per-class distinct (classes are bounded by the quasi-id grid,
    // not the corpus; swap in the q73 KMV sketch when the sensitive domain
    // explodes), then a risk-level rollup.
    "q190_l_diversity" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy($"lang", expr("n_chars div 20").as("len_bucket"))
        .agg(countDistinct($"source").as("ndv"), count(lit(1)).as("sz"))
        .select(when($"ndv" < 3, "1_risky").otherwise("2_diverse")
          .as("risk_class"), $"ndv", $"sz")
        .groupBy($"risk_class")
        .agg(count(lit(1)).as("n_classes"), sum($"sz").as("n_docs"),
          min($"ndv").as("min_ndv"), max($"ndv").as("max_ndv"))
        .orderBy($"risk_class")
    }),


    // CUSUM changepoint detection (Page 1954) over daily event volumes —
    // the drift detector behind q142's distributional drift: per event
    // type, the running sum of (n_day·D − N) — the mean-centered residual
    // scaled by D so every term stays an exact integer — peaks at the day
    // the level shifts. The argmax packs (|cusum|, earlier-day tiebreak)
    // into one BIGINT so the same max is exact on any engine (q161's
    // trick). Day counts are calendar-bounded: the per-type window runs
    // over ~10³ rows at any corpus scale.
    "q196_cusum_changepoint" -> ((s, dir) => {
      import s.implicits._
      val daily = t(s, dir, "events")
        .groupBy($"event_type", expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val tot = daily.groupBy($"event_type")
        .agg(sum($"n").as("total"), count(lit(1)).as("n_days"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(broadcast(tot), Seq("event_type"))
        .withColumn("cusum", sum($"n" * $"n_days" - $"total").over(w))
        .groupBy($"event_type")
        .agg(max($"n_days").as("n_days"), max($"total").as("total"),
          max(abs($"cusum") * lit(10000000L) + (lit(9999999L) - $"day")).as("wmax"))
        .select($"event_type", $"n_days", $"total",
          (lit(9999999L) - pmod($"wmax", lit(10000000L))).as("cp_day"),
          // integral div (wmax is non-negative, so div == floor): the
          // double-division path misrounds once wmax > 2^53
          expr("wmax div 10000000").as("cusum_abs"))
        .orderBy($"event_type")
    }),


    // Two-sample Kolmogorov–Smirnov drift test — each source's document-
    // length distribution against the rest of the corpus, EXACT: the KS
    // statistic is max |CDF₁ − CDF₂| over the jump points, cross-
    // multiplied to integers (|c1·n2 − c2·n1|, never a float CDF), so D
    // and the α=0.05 decision reproduce bit-for-bit. Complements q142's
    // binned KL with the exact nonparametric test a data-quality gate
    // wants. Scale shape: the grid is sources × distinct values — BOTH
    // dims bounded (length takes bounded values; sources are an
    // enumeration), so the per-source cumulative windows and the one
    // global-value window run on grid-sized relations regardless of
    // corpus size; the corpus contributes one (source, v) count shuffle.
    "q198_ks_drift" -> ((s, dir) =>
      ksDrift(t(s, dir, "documents"))),


    // Per-language exact quantile table — q159's no-sort two-histogram
    // refinement GENERALIZED to groups ([[graft.operators.ExactQuantiles
    // .groupedQuantiles]]): every cumulative window now PARTITIONS BY the
    // group, so even the bucket-table pass parallelizes and the global
    // form's one documented single-partition window disappears — the
    // strictly better shape for the per-stratum SLA read ("p99 doc length
    // per language") over 100 TB. Exact nearest-rank integer arithmetic
    // throughout; two scans + two histogram-sized shuffles regardless of
    // corpus size.
    "q208_group_quantiles" -> ((s, dir) => {
      import s.implicits._
      graft.operators.ExactQuantiles.groupedQuantiles(
          t(s, dir, "documents"), "lang", "n_chars",
          probs4 = Seq(2500L, 5000L, 9000L, 9900L), coarseWidth = 64L)
        .orderBy($"lang", $"prob4")
    }),


    // Association lift between event types co-occurring in a session
    // (the market-basket read over q65's sessions): support counts are
    // exact integers from one session-keyed self-join of the DISTINCT
    // (session, type) stream — baskets are bounded by the type enumeration,
    // so the join fan-out per session is ≤ |types|², never corpus² — and
    // lift = (N·n_ab)/(n_a·n_b) quantizes as one integer division. The
    // pair matrix a recommender or anomaly rule-miner starts from.
    "q205_assoc_lift" -> ((s, dir) => {
      import s.implicits._
      val st = Tuning.cut(graft.operators.Sessionize.assignSessions(
          t(s, dir, "events").select($"user_id", $"ts", $"event_id", $"event_type"),
          "user_id", "ts", "event_id", gap = 21600000000000L)
        .select($"user_id", $"session_seq", $"event_type").distinct()) // singles, pairs, and N all read it
      val n = broadcast(st.select($"user_id", $"session_seq").distinct()
        .agg(count(lit(1)).as("n_sess")))
      val singles = st.groupBy($"event_type").agg(count(lit(1)).as("n_t"))
      val pairs = st.as("a")
        .join(st.as("b"),
          $"a.user_id" === $"b.user_id" && $"a.session_seq" === $"b.session_seq" &&
            $"a.event_type" < $"b.event_type")
        .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(singles.select($"event_type".as("type_a"), $"n_t".as("n_a"))), "type_a")
        .join(broadcast(singles.select($"event_type".as("type_b"), $"n_t".as("n_b"))), "type_b")
        .crossJoin(n)
        .select($"type_a", $"type_b", $"n_ab", $"n_a", $"n_b",
          // decimal(38,0) accumulation (q189/q200 policy): n_sess·n_ab
          // silently wraps BIGINT past ~9.2e12·10^6 in non-ANSI mode
          expr("(cast(n_sess as decimal(38,0)) * n_ab * 1000000)" +
            " div (cast(n_a as decimal(38,0)) * n_b)").as("lift6"))
        .orderBy($"type_a", $"type_b")
    }),


    // Benford first-digit audit (Newcomb 1881 / Benford 1938 — the
    // telemetry-fraud screen: organically-generated magnitudes follow
    // log10(1+1/d); fabricated or clipped feeds don't). The first digit
    // comes from EXACT integer math — cent-units, then leading digit via
    // the decimal string length (both engines render integers
    // identically) — and the Benford expectations are nine LITERAL
    // 1e-6-quantized constants, so no transcendental runs anywhere.
    // Per-digit χ² contributions floor-quantize to BIGINT micro-units
    // before any sum (the bm25Micro policy), keeping every downstream
    // aggregate order-free. One scan, a 9-row aggregate.
    "q203_benford" -> ((s, dir) => {
      import s.implicits._
      // floor(log10(1+1/d) * 1e6) for d = 1..9 — precomputed literals
      val benfordU = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
        66946L, 57991L, 51152L, 45757L)
      val expCol = benfordU.zipWithIndex.foldLeft(lit(0L)) {
        case (acc, (p, i)) => when($"digit" === (i + 1), lit(p)).otherwise(acc)
      }
      val digits = t(s, dir, "events")
        .select(expr("cast(floor(value * 100) as bigint)").as("vc"))
        .filter($"vc" > 0)
        .select(expr("vc div cast(pow(10, length(cast(vc as string)) - 1) as bigint)")
          .as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
      val tot = broadcast(digits.agg(sum($"n_obs").as("n")))
      digits.crossJoin(tot)
        .withColumn("p_u", expCol)
        .select($"digit", $"n_obs",
          // expected count in micro-units: n · p (exact integer product)
          ($"n" * $"p_u").as("exp_u"),
          // χ² contribution (obs − n·p)²/(n·p), micro-quantized: all
          // inputs exact, one pinned double expression per digit
          floor(
            (($"n_obs".cast("double") - $"n".cast("double") * ($"p_u".cast("double") / 1000000.0))
              * ($"n_obs".cast("double") - $"n".cast("double") * ($"p_u".cast("double") / 1000000.0)))
              / ($"n".cast("double") * ($"p_u".cast("double") / 1000000.0))
              * 1000000.0).cast("long").as("chi2_u"))
        .orderBy($"digit")
    }),


    // Pairwise Pearson correlation matrix of the q70 quality signals —
    // the corpus-science companion to q156's (lang × source) MI: which
    // quality dimensions are redundant (|r| high → one filter threshold
    // implies the other) and which are independent evidence. Signals
    // quantize to exact integer micro-units at the scan; every moment is
    // an exact decimal(38,0) sum (q189's policy, HUGEINT oracle twin);
    // one pinned double ratio per pair, floor-quantized at 1e-6. The
    // matrix is signals² rows from ONE single-row moment aggregate — no
    // per-pair scans.
    "q204_signal_corr" -> ((s, dir) => {
      import s.implicits._
      val sigs = t(s, dir, "documents")
        .select(graft.operators.TextAnalysis.tokensCol($"text").as("tk"))
        .filter(size($"tk") > 0)
        .select(
          size($"tk").cast("long").as("s1"),
          // mean token length, micro-units: (Σlen · 1e6) div n_tok
          expr("(aggregate(tk, 0L, (a, x) -> a + length(x)) * 1000000) div size(tk)").as("s2"),
          // distinct-token ratio, micro-units
          expr("(size(array_distinct(tk)) * 1000000) div size(tk)").as("s3"))
      def d(c: Column) = c.cast("decimal(19,0)")
      val mom = sigs.agg(
        count(lit(1)).as("n"),
        sum($"s1").as("m1"), sum($"s2").as("m2"), sum($"s3").as("m3"),
        sum(d($"s1") * d($"s1")).as("m11"), sum(d($"s2") * d($"s2")).as("m22"),
        sum(d($"s3") * d($"s3")).as("m33"), sum(d($"s1") * d($"s2")).as("m12"),
        sum(d($"s1") * d($"s3")).as("m13"), sum(d($"s2") * d($"s3")).as("m23"))
      val pairs = Seq(
        ("n_tok", "mean_len", "m1", "m2", "m11", "m22", "m12"),
        ("n_tok", "ttr", "m1", "m3", "m11", "m33", "m13"),
        ("mean_len", "ttr", "m2", "m3", "m22", "m33", "m23"))
      pairs.map { case (na, nb, a, b, aa, bb, ab) =>
        mom.select(lit(na).as("sig_a"), lit(nb).as("sig_b"),
          floor(
            ($"n".cast("double") * col(ab).cast("double")
              - col(a).cast("double") * col(b).cast("double"))
              / sqrt(($"n".cast("double") * col(aa).cast("double")
                - col(a).cast("double") * col(a).cast("double"))
                * ($"n".cast("double") * col(bb).cast("double")
                  - col(b).cast("double") * col(b).cast("double")))
              * 1000000.0).cast("long").as("r6"))
      }.reduce(_ unionByName _).orderBy($"sig_a", $"sig_b")
    }),


    // Difference-in-differences — the experimentation family's quasi-
    // experimental member next to q162 (A/B) and q189 (CUPED): hash-
    // assigned "treatment" users vs control, purchase value µ-units
    // before/after the Jan-25 cut, DiD = (ΔT − ΔC) of cell means — plus
    // the PLACEBO check real DiD analyses run (the same estimator across
    // a Jan-12 pseudo-cut entirely inside the pre-period must be ≈ 0,
    // the parallel-trends evidence). ONE conditional-aggregation scan
    // produces all six cells; means are integral division of exact
    // µ-unit sums, so both engines agree bit-for-bit.
    "q224_diff_in_diff" -> ((s, dir) => {
      import s.implicits._
      val cutMain = 1706140800000000L // 2024-01-25 in µs
      val cutPlacebo = 1705017600000000L // 2024-01-12 in µs
      val ev = t(s, dir, "events")
        .filter($"event_type" === "purchase")
        .select(expr("ts div 1000").as("tsu"), $"user_id",
          expr("cast(floor(value * 1000000) as bigint)").as("vu"))
        .withColumn("tr",
          (pmod(graft.functions.HashFunctions.stableHash64(
            concat(lit("did:"), $"user_id".cast("string"))), lit(2L)) === 0)
            .cast("long"))
        .withColumn("per",
          when($"tsu" >= cutMain, lit("post"))
            .when($"tsu" >= cutPlacebo, lit("mid")).otherwise(lit("early")))
      def cell(tr: Int, per: String, of: Column) =
        sum(when($"tr" === tr && $"per" === per, of).otherwise(lit(0L)))
      ev.agg(
          cell(1, "early", lit(1L)).as("n_t_early"),
          cell(1, "mid", lit(1L)).as("n_t_mid"),
          cell(1, "post", lit(1L)).as("n_t_post"),
          cell(0, "early", lit(1L)).as("n_c_early"),
          cell(0, "mid", lit(1L)).as("n_c_mid"),
          cell(0, "post", lit(1L)).as("n_c_post"),
          cell(1, "early", $"vu").as("s_t_early"),
          cell(1, "mid", $"vu").as("s_t_mid"),
          cell(1, "post", $"vu").as("s_t_post"),
          cell(0, "early", $"vu").as("s_c_early"),
          cell(0, "mid", $"vu").as("s_c_mid"),
          cell(0, "post", $"vu").as("s_c_post"))
        .select(
          ($"n_t_early" + $"n_t_mid").as("n_t_pre"), $"n_t_post",
          ($"n_c_early" + $"n_c_mid").as("n_c_pre"), $"n_c_post",
          expr("(s_t_early + s_t_mid) div (n_t_early + n_t_mid)").as("m_t_pre"),
          expr("s_t_post div n_t_post").as("m_t_post"),
          expr("(s_c_early + s_c_mid) div (n_c_early + n_c_mid)").as("m_c_pre"),
          expr("s_c_post div n_c_post").as("m_c_post"),
          expr("(s_t_post div n_t_post - (s_t_early + s_t_mid) div (n_t_early + n_t_mid))" +
            " - (s_c_post div n_c_post - (s_c_early + s_c_mid) div (n_c_early + n_c_mid))")
            .as("did_u"),
          expr("(s_t_mid div n_t_mid - s_t_early div n_t_early)" +
            " - (s_c_mid div n_c_mid - s_c_early div n_c_early)")
            .as("placebo_did_u"))
    }),


    // Bootstrap confidence intervals — the uncertainty layer under every
    // mean this suite reports, via the distributed-standard Poisson(1)
    // bootstrap (each row's weight in resample b drawn independently —
    // the multinomial approximation every large-scale bootstrap uses)
    // made DETERMINISTIC: the weight comes from a salted md5 micro-
    // uniform against four LITERAL Poisson-CDF thresholds (the q203
    // constant treatment), so both engines replay every resample
    // exactly. B = 32 resamples per event type; CI = ranks 2 and 31 of
    // the ordered resample means (~94% coverage), means exact µ-unit
    // integral division. Scale: one 32× row explode + a (type, draw)
    // aggregate — the window orders 32 rows per type, never the corpus.
    "q228_bootstrap_ci" -> ((s, dir) => {
      import s.implicits._
      // spread the draw expansion: 32 hash draws per event (one md5 each)
      // otherwise run on the events scan's single split (q90 lesson)
      val ev = graft.operators.Tuning.spread(
        t(s, dir, "events")
          .select($"event_type", $"event_id",
            expr("cast(floor(value * 1000000) as bigint)").as("vu")),
        $"event_id")
      val draws = ev.select($"event_type", $"event_id", $"vu",
          explode(sequence(lit(0L), lit(31L))).as("b"))
        .withColumn("u", pmod(graft.functions.HashFunctions.stableHash64(
          concat(lit("boot:"), $"b".cast("string"), lit(":"),
            $"event_id".cast("string"))), lit(1000000L)))
        .withColumn("w",
          when($"u" < 367879L, 0L).when($"u" < 735758L, 1L)
            .when($"u" < 919698L, 2L).when($"u" < 981011L, 3L).otherwise(4L))
      val means = draws.groupBy($"event_type", $"b")
        .agg(expr("sum(w * vu) div sum(w)").as("m"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"m", $"b")))
      val pt = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), expr("sum(vu) div count(1)").as("mean_u"))
      pt.join(means.filter($"rk" === 2).select($"event_type", $"m".as("ci_lo_u")),
          "event_type")
        .join(means.filter($"rk" === 31).select($"event_type", $"m".as("ci_hi_u")),
          "event_type")
        .select($"event_type", $"n", $"mean_u", $"ci_lo_u", $"ci_hi_u")
        .orderBy($"event_type")
    }),


    // Theil–Sen robust trend (median of pairwise slopes) vs OLS on daily
    // event volume — the robust-statistics member next to q154
    // (winsorize) and q161 (robust anomaly): one wild day barely moves
    // the pairwise-slope median but drags the least-squares line, and
    // this query reports both so the divergence IS the outlier signal.
    // Pairwise slopes are a ONE pinned double expression floor-quantized
    // at 1e-6 (Δy may be negative — floor, never div); the median is a
    // row_number election over C(n_days, 2) ≈ 435 rows per type (the
    // day-pair space is calendar², never event-sized); OLS moments
    // accumulate in decimal(38,0) per the q189 policy.
    "q229_theil_sen" -> ((s, dir) => {
      import s.implicits._
      val daily = graft.operators.EvalMetrics.dailyCounts(t(s, dir, "events"))
      val pairs = daily.as("a")
        .join(daily.as("b"),
          $"a.event_type" === $"b.event_type" && $"a.day" < $"b.day")
        .select($"a.event_type".as("event_type"), $"a.day".as("d1"),
          $"b.day".as("d2"),
          floor(($"b.y" - $"a.y").cast("double") / ($"b.day" - $"a.day")
            * 1000000.0).cast("long").as("slope6"))
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type")
      val med = pairs
        .withColumn("rk", row_number().over(
          wT.orderBy($"slope6", $"d1", $"d2")))
        .withColumn("np", count(lit(1)).over(wT))
        .filter($"rk" === expr("(np + 1) div 2"))
        .select($"event_type", $"np".as("n_pairs"), $"slope6".as("ts_slope6"))
      val ols = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("nd"), sum($"day").as("sx"), sum($"y").as("sy"),
          sum($"day".cast("decimal(19,0)") * $"y".cast("decimal(19,0)")).as("sxy"),
          sum($"day".cast("decimal(19,0)") * $"day".cast("decimal(19,0)")).as("sxx"))
        .select($"event_type", $"nd".as("n_days"),
          floor((($"nd".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double"))
            / ($"nd".cast("double") * $"sxx".cast("double")
              - $"sx".cast("double") * $"sx".cast("double")))
            * 1000000.0).cast("long").as("ols_slope6"))
      ols.join(med, "event_type")
        .select($"event_type", $"n_days", $"n_pairs", $"ts_slope6", $"ols_slope6")
        .orderBy($"event_type")
    }),


    // Quantile normalization across sources — the feature-engineering
    // transform that makes per-source score distributions comparable
    // (each source's value maps to the POOLED value at its relative
    // rank). Round 12: the algorithm moved to operators/QuantileNorm
    // (ExactQuantiles shape — everything on count histograms, the one
    // global window over the pooled HISTOGRAM, never the corpus) and
    // grew the verdict-mandated cardinality gate: a continuous score
    // column whose distinct count exceeds the bound quantizes onto the
    // q127 log-histogram ladder first, so the histogram window can never
    // silently become a corpus-sized single-task sort. n_chars is
    // integer-bucketed, so this query takes the exact branch (the
    // constant `exact` disclosure column is dropped to keep the r11
    // oracle byte-identical).
    "q230_quantile_normalize" -> ((s, dir) => {
      import s.implicits._
      graft.operators.QuantileNorm
        .normalize(t(s, dir, "documents"), "source", "n_chars")
        .drop("exact")
        .orderBy($"source", $"v")
    }),


    // Exact AUC (Mann–Whitney with midrank ties) of n_chars as a one-vs-rest
    // lang discriminator — the threshold-free ranking metric next to the
    // calibration audit (q237) and nDCG (q223), computed the ExactQuantiles
    // way: entirely on COUNT HISTOGRAMS. AUC = Σ_v pos(v)·(2·cumneg(<v) +
    // neg(v)) / (2·n_pos·n_neg) — the midrank identity — so one histogram
    // groupBy, a 5-lang × distinct-value grid, and a histogram-sized window
    // give the EXACT statistic; no per-row rank ever materializes. The
    // numerator is Θ(N²) so it accumulates in decimal(38,0) (q189 policy).
    "q235_auc_rank" -> ((s, dir) => {
      import s.implicits._
      graft.operators.EvalMetrics
        .histAuc(t(s, dir, "documents"), "lang", "n_chars")
        .orderBy($"lang")
    }),


    // Two-feature OLS (daily volume ~ day trend + weekday) solved by
    // Cramer's rule over the 3×3 normal equations — multivariate regression
    // as ONE aggregation pass: nine decimal(38,0) moments per event type,
    // determinants in pinned-order doubles, coefficients floor-quantized at
    // 1e-6 (the q229 convention). Day is rebased to the corpus minimum
    // (broadcast scalar) so the moments stay well-conditioned. No row ever
    // leaves its scan partition except as a 9-number partial aggregate —
    // the shape a 100 TB regression must have. SINGULARITY GUARD: a type
    // observed on < 3 days, or with collinear features (all activity on
    // one weekday), has determinant 0 — 0/0 would be NaN/±Infinity, which
    // Spark (non-ANSI) silently casts to 0 / Long extremes while the
    // oracle's ::BIGINT errors. Both engines compute the determinant ONCE
    // and emit NULL coefficients when it is exactly 0.
    "q236_ols2_cramer" -> ((s, dir) => {
      import s.implicits._
      val daily = t(s, dir, "events")
        .groupBy($"event_type",
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("y"))
      val d0 = broadcast(daily.agg(min($"day").as("d0")))
      val feat = daily.crossJoin(d0)
        .select($"event_type", ($"day" - $"d0").as("x1"),
          pmod($"day", lit(7L)).as("x2"), $"y")
      def dsum(c: Column) = sum(c.cast("decimal(38,0)"))
      val m = feat.groupBy($"event_type").agg(
        count(lit(1)).as("n"), dsum($"x1").as("s1"), dsum($"x2").as("s2"),
        dsum($"y").as("sy"), dsum($"x1" * $"x1").as("s11"),
        dsum($"x1" * $"x2").as("s12"), dsum($"x2" * $"x2").as("s22"),
        dsum($"x1" * $"y").as("s1y"), dsum($"x2" * $"y").as("s2y"))
      // pinned-order double arithmetic, mirrored character-for-character
      // in the oracle: the determinant ONCE, then each Cramer numerator;
      // det = 0 → NULL coefficients (singular normal equations)
      m.selectExpr("event_type", "cast(n as bigint) as n_days",
          """(
               cast(n as double) * (cast(s11 as double) * cast(s22 as double) - cast(s12 as double) * cast(s12 as double))
             - cast(s1 as double) * (cast(s1 as double) * cast(s22 as double) - cast(s12 as double) * cast(s2 as double))
             + cast(s2 as double) * (cast(s1 as double) * cast(s12 as double) - cast(s11 as double) * cast(s2 as double))
           ) as det""",
          """(
               cast(sy as double) * (cast(s11 as double) * cast(s22 as double) - cast(s12 as double) * cast(s12 as double))
             - cast(s1 as double) * (cast(s1y as double) * cast(s22 as double) - cast(s12 as double) * cast(s2y as double))
             + cast(s2 as double) * (cast(s1y as double) * cast(s12 as double) - cast(s11 as double) * cast(s2y as double))
           ) as num0""",
          """(
               cast(n as double) * (cast(s1y as double) * cast(s22 as double) - cast(s12 as double) * cast(s2y as double))
             - cast(sy as double) * (cast(s1 as double) * cast(s22 as double) - cast(s12 as double) * cast(s2 as double))
             + cast(s2 as double) * (cast(s1 as double) * cast(s2y as double) - cast(s1y as double) * cast(s2 as double))
           ) as num1""",
          """(
               cast(n as double) * (cast(s11 as double) * cast(s2y as double) - cast(s1y as double) * cast(s12 as double))
             - cast(s1 as double) * (cast(s1 as double) * cast(s2y as double) - cast(s1y as double) * cast(s2 as double))
             + cast(sy as double) * (cast(s1 as double) * cast(s12 as double) - cast(s11 as double) * cast(s2 as double))
           ) as num2""")
        .selectExpr("event_type", "n_days",
          "case when det = 0.0D then cast(null as bigint) else cast(floor(num0 / det * 1000000.0) as bigint) end as b0_6",
          "case when det = 0.0D then cast(null as bigint) else cast(floor(num1 / det * 1000000.0) as bigint) end as b1_6",
          "case when det = 0.0D then cast(null as bigint) else cast(floor(num2 / det * 1000000.0) as bigint) end as b2_6")
        .orderBy($"event_type")
    }),


    // Model-calibration audit (reliability diagram + ECE) — the eval-side
    // complement to nDCG (q223) and the bootstrap CI (q228): a synthetic
    // score from the md5 micro-uniform (deliberately informative but
    // miscalibrated: the positive class is shifted, not separated), cut
    // into ten fixed-width bins; each bin reports exact integer mean score
    // and positive rate, and the expected calibration error weights the
    // per-bin gap by bin mass. Everything past the scan is a 10-row
    // aggregate; the ECE scalar is a broadcast attach.
    "q237_calibration" -> ((s, dir) => {
      import s.implicits._
      graft.operators.EvalMetrics.calibration(t(s, dir, "events"))
        .orderBy($"bin")
    }),


    // t-closeness audit — the distribution-level privacy gate l-diversity
    // (q190) cannot express: a (lang, source) equivalence class may hold 5
    // distinct length buckets yet still leak if its length DISTRIBUTION
    // diverges from the corpus. For an ordered sensitive attribute the
    // earth-mover distance is the L1 of cumulative gaps, computed here as
    // EXACT integers: Σ_i |cumP_i·N − cumQ_i·n_g| over the bucket grid,
    // normalized by n_g·N·(m−1). Grid = classes × buckets (both
    // histogram-sized); no per-row work after the one grouped scan.
    "q238_t_closeness" -> ((s, dir) => {
      import s.implicits._
      graft.operators.EvalMetrics.tCloseness(
          t(s, dir, "documents")
            .select($"lang", $"source", expr("n_chars div 200").as("b")),
          "lang", "source", "b")
        .orderBy($"lang", $"source")
    }),


    // Seasonal-naive backtest — the forecasting baseline audit a volume
    // pipeline runs before believing any model: per event type, last-week
    // (lag-7) vs yesterday (lag-1) forecasts of daily volume, scored by
    // MAPE in exact basis points. Lags are DAY-KEYED JOINS, not row-offset
    // windows, so calendar gaps can never misalign a forecast. Everything
    // runs on the calendar × type grid.
    "q240_seasonal_backtest" -> ((s, dir) => {
      import s.implicits._
      graft.operators.EvalMetrics.seasonalBacktest(t(s, dir, "events"))
        .orderBy($"event_type")
    }),


    // Population-stability drift (PSI) of the event-type mix between the
    // first and second half of the observation window — the monitoring
    // twin of the KS drift audit (q198), on shares instead of value
    // distributions. Shares are exact parts-per-million; each PSI term is
    // (p_new − p_old)·ln(p_new/p_old) with the ln floor-quantized to
    // micro-nats THE MOMENT it is computed (the q69 rule), so the sum is
    // exact integer arithmetic. One grouped pass; the split day is a
    // broadcast scalar off the same aggregate. ZERO-SHARE GUARD: an event
    // type absent from one half (or below 1 ppm) would make a share 0 and
    // the ln ±Infinity — Spark (non-ANSI) would cast that to a silently
    // wrong Long extreme while the oracle's ::BIGINT cast errors. Both
    // engines therefore clamp each share to max(p6, 1) INSIDE the term
    // (the standard PSI epsilon substitution); the reported p_old6/p_new6
    // columns keep the true unclamped shares.
    "q241_drift_psi" -> ((s, dir) => {
      import s.implicits._
      val days = t(s, dir, "events")
        .select($"event_type", expr("(ts div 1000) div 86400000000").as("day"))
      val d0 = broadcast(days.agg(min($"day").as("d0")))
      val halves = Tuning.cut(days.crossJoin(d0)
        .select($"event_type",
          when($"day" < $"d0" + 15L, lit("old")).otherwise(lit("new"))
            .as("half"))
        .groupBy($"event_type", $"half").agg(count(lit(1)).as("n")))
      val tot = broadcast(halves.groupBy($"half").agg(sum($"n").as("tn"))
        .groupBy().pivot("half", Seq("old", "new")).agg(first($"tn"))
        .select($"old".as("n_old_tot"), $"new".as("n_new_tot")))
      val wide = halves.groupBy($"event_type")
        .pivot("half", Seq("old", "new")).agg(first($"n"))
        .select($"event_type", coalesce($"old", lit(0L)).as("n_old"),
          coalesce($"new", lit(0L)).as("n_new"))
        .crossJoin(tot)
        .select($"event_type", $"n_old", $"n_new",
          expr("n_old * 1000000 div n_old_tot").as("p_old6"),
          expr("n_new * 1000000 div n_new_tot").as("p_new6"))
      wide.select($"event_type", $"n_old", $"n_new", $"p_old6", $"p_new6",
          expr("""(greatest(p_new6, 1L) - greatest(p_old6, 1L)) *
            cast(floor(ln(cast(greatest(p_new6, 1L) as double) / cast(greatest(p_old6, 1L) as double)) * 1000000.0) as bigint)
            div 1000000""").as("term6"))
        .orderBy($"event_type")
    }),


    // EWMA control chart over daily volume — the anomaly instrument next
    // to CUSUM (q196) and the robust z-score (q161): an 8-term
    // exponentially-weighted average (α = 1/4) with weights generated by
    // the EXACT integer recurrence w₀ = 250000, wₖ₊₁ = wₖ·3 div 4, so both
    // engines carry identical literals and no float power ever runs. Each
    // day CONTRIBUTES to its 8 future anchors (one 8× explode of the
    // calendar grid); anchors missing any of their 8 terms are dropped by
    // exact count, so calendar gaps can never silently shorten the
    // window. Deviation is exact bps of the EWMA.
    "q242_ewma_control" -> ((s, dir) => {
      import s.implicits._
      val wts = Array(250000L, 187500L, 140625L, 105468L, 79101L, 59325L,
        44493L, 33369L) // w0 = 250000; w = w*3 div 4; sum = 899881
      val daily = graft.operators.EvalMetrics.dailyCounts(t(s, dir, "events"))
      val contrib = daily
        .select($"event_type", $"day", $"y",
          posexplode(lit(wts)).as(Seq("k", "w")))
        .select($"event_type".as("c_type"), ($"day" + $"k").as("aday"),
          ($"w" * $"y").as("c"))
        .groupBy($"c_type", $"aday")
        .agg(count(lit(1)).as("nterms"), sum($"c").as("ewma_u"))
        .filter($"nterms" === 8L)
      daily.join(contrib,
          $"day" === $"aday" && $"event_type" === $"c_type")
        .select($"event_type", $"day", $"y",
          expr("ewma_u div 899881").as("ewma"),
          expr("abs(y * 899881 - ewma_u) * 10000 div ewma_u").as("dev_bps"))
        .select($"event_type", $"day", $"y", $"ewma", $"dev_bps",
          ($"dev_bps" > 2500L).cast("long").as("alarm"))
        .orderBy($"event_type", $"day")
    }),


    // Kaplan–Meier survival curve (Kaplan & Meier 1958) for time-to-first-
    // purchase — the time-to-event family's first member, next to the
    // conversion-lag census (q163): per user, duration = days from first
    // event to first purchase (observed) or to the corpus horizon
    // (right-censored); the survival curve is the KM product-limit over
    // the DURATION GRID. Everything after the one per-user aggregate is
    // histogram-sized: at-risk counts are a reverse running sum over the
    // grid, each factor ln(1 − d/n) is floor-quantized to micro-nats the
    // moment it is computed (the q69 rule — the running SUM of integer
    // micro-nats replaces the floating product), and the survival point
    // s4 re-exponentiates the integer log-sum with one identically-
    // ordered double op per row. A grid point where everyone at risk
    // converts (d = n) sends survival exactly to 0 from there on — the
    // dead flag propagates by prefix-max, no ln(0) ever runs.
    "q245_kaplan_meier" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"user_id", $"event_type",
          expr("(ts div 1000) div 86400000000").as("day"))
      val horizon = broadcast(ev.agg(max($"day").as("hday")))
      val peru = ev.groupBy($"user_id")
        .agg(min($"day").as("t0"),
          min(when($"event_type" === "purchase", $"day")).as("tp"))
        .crossJoin(horizon)
        .select(
          when($"tp".isNotNull, $"tp" - $"t0")
            .otherwise($"hday" - $"t0").as("t"),
          $"tp".isNotNull.cast("long").as("obs"))
      val hist = peru.groupBy($"t")
        .agg(sum($"obs").as("d"), sum(lit(1L) - $"obs").as("c"))
      val wAt = org.apache.spark.sql.expressions.Window.orderBy($"t")
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val wCum = org.apache.spark.sql.expressions.Window.orderBy($"t")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      hist
        .withColumn("n_risk", sum($"d" + $"c").over(wAt))
        .withColumn("term_u",
          when($"d" > 0 && $"d" < $"n_risk",
            floor(log(($"n_risk" - $"d").cast("double") / $"n_risk".cast("double"))
              * 1000000.0).cast("long")).otherwise(lit(0L)))
        .withColumn("dead", ($"d" === $"n_risk").cast("long"))
        .withColumn("cum_u", sum($"term_u").over(wCum))
        .withColumn("any_dead", max($"dead").over(wCum))
        .select($"t".as("t_days"), $"n_risk", $"d".as("n_events"),
          $"c".as("n_censored"),
          when($"any_dead" === 1, lit(0.0))
            .otherwise(floor(exp($"cum_u".cast("double") / lit(1000000.0))
              * 10000.0) / 10000.0).as("s4"))
        .orderBy($"t_days")
    }),


    // Pearson χ² independence test of event type × weekday — the
    // contingency-table member of the stats wing (the categorical
    // counterpart of the KS drift audit q198): one grouped scan builds
    // the type×weekday cell counts; margins and the grand total derive
    // from the cell relation; each cell's (n·N − n_t·n_w)²/(n_t·n_w·N)
    // contribution is EXACT — the square is decimal(38,0)/HUGEINT (the
    // q189 widening policy: cell·N is corpus², its square is corpus⁴)
    // and quantized to 1e-4 by integer division, so the χ² statistic is
    // the exact sum of per-cell floors on both engines. The statistic
    // row carries dof = (T−1)(W−1) and the 0.001-level critical value
    // for the 5×7 grid as literals — the decision is part of the output.
    "q246_chi2_independence" -> ((s, dir) => {
      import s.implicits._
      val cells = Tuning.cut(t(s, dir, "events")
        .groupBy($"event_type",
          expr("((ts div 1000) div 86400000000) % 7").as("weekday"))
        .agg(count(lit(1)).as("n"))) // margins + total + cells all read it
      val mt = cells.groupBy($"event_type").agg(sum($"n").as("n_t"))
      val mw = cells.groupBy($"weekday").agg(sum($"n").as("n_w"))
      val tot = broadcast(cells.agg(sum($"n").as("big_n")))
      val scored = cells
        .join(broadcast(mt), Seq("event_type"))
        .join(broadcast(mw), Seq("weekday"))
        .crossJoin(tot)
        .select($"event_type", $"weekday", $"n",
          expr("n_t * n_w * 1000 div big_n").as("exp_milli"),
          expr("""cast((cast(n as decimal(38,0)) * big_n - cast(n_t as decimal(38,0)) * n_w)
            * (cast(n as decimal(38,0)) * big_n - cast(n_t as decimal(38,0)) * n_w)
            * 10000 div (cast(n_t as decimal(38,0)) * n_w * big_n) as bigint)""")
            .as("cell4"))
      val stat = broadcast(scored.agg(sum($"cell4").as("chi2_4")))
      scored.crossJoin(stat)
        .select($"event_type", $"weekday", $"n", $"exp_milli", $"cell4",
          $"chi2_4", lit(24L).as("dof"),
          // χ²(24) upper 0.001 critical value, 1e-4-quantized literal
          ($"chi2_4" > 512792L).cast("long").as("reject_indep"))
        .orderBy($"event_type", $"weekday")
    }),


    // Fano-factor burstiness of daily event volume — the dispersion
    // instrument next to the EWMA control chart (q242) and CUSUM (q196):
    // a Poisson-like arrival process has variance ≈ mean (Fano ≈ 1);
    // Fano ≫ 1 is burst/campaign traffic, Fano ≪ 1 is rate-limited or
    // templated load. Exact integers end-to-end: with N days, S = Σy,
    // Q = Σy², the sample-variance-over-mean ratio is
    // (N·Q − S²)·10⁴ div (S·(N−1)) — Q and the products widen to
    // decimal(38,0) (q189 policy: y² at 100 TB daily volumes passes
    // BIGINT), single-day types disclose NULL instead of a 0/0.
    "q247_fano_burstiness" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy($"event_type",
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("y"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"), sum($"y").as("sy"),
          sum(($"y" * $"y").cast("decimal(38,0)")).as("sq"))
        .select($"event_type", $"n_days",
          expr("sy * 1000 div n_days").as("mean_milli"),
          expr("""case when n_days < 2 then cast(null as bigint)
            else cast((cast(n_days as decimal(38,0)) * sq - cast(sy as decimal(38,0)) * sy) * 10000
              div (cast(sy as decimal(38,0)) * (n_days - 1)) as bigint) end""")
            .as("fano4"))
        .select($"event_type", $"n_days", $"mean_milli", $"fano4",
          when($"fano4".isNull, lit("undefined"))
            .when($"fano4" > 15000L, lit("overdispersed"))
            .when($"fano4" < 6667L, lit("underdispersed"))
            .otherwise(lit("poisson_like")).as("regime"))
        .orderBy($"event_type")
    }),


    // Stationary distribution of the user-journey Markov chain — the
    // steady-state answer q155's one-step matrix only implies: row-
    // stochastic transition probabilities in exact ppm (c_ij·10⁶ div c_i),
    // then 16 power-iteration steps π·P carried ENTIRELY in integer ppm
    // (each step: Σ_i π_i·p_ij div 10⁶ — T-row × T²-cell joins, all
    // broadcast-sized for a 5-type vocabulary). Both engines run the
    // IDENTICAL literal iteration count from the identical uniform start,
    // so every intermediate vector is bit-equal; the output discloses the
    // L1 residual of the last step in ppm as the convergence evidence.
    "q249_markov_stationary" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"tu", $"event_id")
      val pairs = t(s, dir, "events")
        .select($"user_id", $"event_id", expr("ts div 1000").as("tu"),
          $"event_type".as("cur"))
        .withColumn("nxt", lead($"cur", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"cur", $"nxt").agg(count(lit(1)).as("c"))
      val rows = pairs.groupBy($"cur").agg(sum($"c").as("c_cur"))
      val p = pairs.join(broadcast(rows), Seq("cur"))
        .select($"cur", $"nxt", expr("c * 1000000 div c_cur").as("p6"))
      // round 16: the transition matrix is event-TYPE² sized (a quotient of
      // the corpus, like the LocalGraph edge lists) — when LocalStrategy
      // keeps it local (under its row limit; it holds no null: `nxt` is
      // filtered and the join on `cur` drops a null source) the 16 ppm
      // steps run in-process with identical integer arithmetic; otherwise
      // the distributed loop below runs unchanged over the gate's
      // checkpoint, which every iteration re-joins
      graft.operators.LocalStrategy.stage(p, "q249 markov")(_ => true) match {
        case Right(rows) =>
          val trans = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          val states = trans.map(_._1).distinct
          val t = states.length.toLong
          var piM = states.map(st => st -> 1000000L / t).toMap
          var prevM = piM
          for (_ <- 1 to 16) {
            prevM = piM
            val next = scala.collection.mutable.HashMap.empty[String, Long]
            trans.foreach { case (cur, nxt, p6) =>
              piM.get(cur).foreach { pi6 =>
                next(nxt) = next.getOrElse(nxt, 0L) + pi6 * p6 / 1000000L
              }
            }
            piM = next.toMap
          }
          val out = piM.keySet.intersect(prevM.keySet).toSeq.sorted.map { st =>
            (st, piM(st), math.abs(piM(st) - prevM(st)))
          }
          out.toDF("event_type", "pi6", "resid6").orderBy($"event_type")
        case Left(p) =>
          val states = p.select($"cur".as("st")).distinct()
          val nStates = broadcast(states.agg(count(lit(1)).as("t")))
          var pi = Tuning.cut(states.crossJoin(nStates)
            .select($"st", expr("1000000 div t").as("pi6")))
          var prev = pi
          for (_ <- 1 to 16) {
            prev = pi
            pi = Tuning.cut(pi.join(p, pi("st") === p("cur"))
              .groupBy($"nxt")
              .agg(sum(expr("pi6 * p6 div 1000000")).as("npi6"))
              .select($"nxt".as("st"), $"npi6".as("pi6")))
          }
          pi.join(prev.select($"st", $"pi6".as("prev6")), Seq("st"))
            .select($"st".as("event_type"), $"pi6",
              abs($"pi6" - $"prev6").as("resid6"))
            .orderBy($"event_type")
      }
    }),


    // Mann–Kendall trend test per event type — the non-parametric sibling
    // of Theil–Sen (q229): exact integer S over day pairs, exact integer
    // tie-corrected 18·Var(S), continuity-corrected z floor-quantized to
    // bps (sqrt is IEEE exactly-rounded in both engines). The O(n²) runs
    // on the CALENDAR grid (≤365 rows/type/year at any corpus size); the
    // only corpus-sized pass is the daily groupBy.
    "q258_mann_kendall" -> ((s, dir) => {
      import s.implicits._
      graft.operators.EvalMetrics.mannKendall(t(s, dir, "events"))
        .orderBy($"event_type")
    }),

    // Benjamini–Hochberg FDR over the per-type A/B family — the
    // multiple-testing correction q162's single test needs once a sweep
    // runs one test PER EVENT TYPE (m simultaneous hypotheses): for each
    // type, a two-proportion z for "cohort A emits this type at a
    // different rate than cohort B", two-sided p from the Zelen–Severo
    // Φ polynomial (A&S 26.2.17, |err| < 7.5e-8 — pure arithmetic + one
    // exp, every constant the SAME literal on both engines, explicit
    // t·t·t powers so no pow()), p floor-quantized to 1e-6 THE MOMENT it
    // is computed (the q69 transcendental rule — exp is the only
    // non-exactly-rounded op in the chain). BH step-up in exact
    // integers: reject ranks ≤ max{i : p6·m ≤ i·50000} (α = 0.05).
    // Scale: one grouped pass over events; everything after runs on m
    // rows (the window is m-sized, never corpus-sized).
    "q263_bh_fdr" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"event_type",
          pmod(graft.functions.HashFunctions.stableHash64(
            concat(lit("ab:"), $"user_id".cast("string"))), lit(2L))
            .as("cohort"))
      val perType = Tuning.cut(ev.groupBy($"event_type")
        .agg(sum(when($"cohort" === 0L, 1L).otherwise(0L)).as("k0"),
          sum(when($"cohort" === 1L, 1L).otherwise(0L)).as("k1"))) // totals + the per-type pass read it
      val tot = broadcast(perType.agg(sum($"k0").as("n0"), sum($"k1").as("n1")))
      val withP = perType.crossJoin(tot)
        .withColumn("z", expr(
          """(cast(k0 as double) / cast(n0 as double) - cast(k1 as double) / cast(n1 as double))
             / sqrt((cast(k0 + k1 as double) / cast(n0 + n1 as double))
               * (1.0D - cast(k0 + k1 as double) / cast(n0 + n1 as double))
               * (1.0D / cast(n0 as double) + 1.0D / cast(n1 as double)))"""))
        .withColumn("az", abs($"z"))
        .withColumn("t", expr("1.0D / (1.0D + 0.2316419D * az)"))
        .withColumn("p6", expr(
          """cast(floor(2.0D * (exp(-az * az / 2.0D) * 0.3989422804014327D
             * (0.319381530D * t - 0.356563782D * t * t + 1.781477937D * t * t * t
                - 1.821255978D * t * t * t * t + 1.330274429D * t * t * t * t * t))
             * 1000000.0D) as bigint)"""))
      val m = broadcast(withP.agg(count(lit(1)).as("m")))
      val ranked = withP.crossJoin(m)
        .withColumn("bh_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"p6", $"event_type")) // m-row window, never corpus
          .cast("long"))
      val cut = broadcast(ranked
        .filter($"p6" * $"m" <= $"bh_rank" * lit(50000L))
        .agg(coalesce(max($"bh_rank"), lit(0L)).as("max_rej")))
      ranked.crossJoin(cut)
        .select($"event_type", $"k0", $"k1",
          expr("cast(floor(z * 1000000.0D) as bigint)").as("z6"),
          $"p6", $"bh_rank",
          ($"bh_rank" <= $"max_rej").cast("int").as("rejected"))
        .orderBy($"bh_rank")
    }),

    // Split-conformal prediction intervals for the seasonal forecast —
    // the distribution-free guarantee a volume monitor wants on top of
    // q240's point forecast: calibration days (first 3 weeks) yield the
    // 90% conformal radius as an EXACT integer order statistic of
    // |y − lag7| (rank ⌈(n_cal+1)·0.9⌉ per Vovk's split-conformal rule,
    // computed as an integer ceiling), and the eval days report achieved
    // coverage in bps. No transcendentals, no floats — residuals are
    // integer counts, the quantile is a rank pick, coverage is integer
    // division. Scale: one corpus-sized daily groupBy; everything after
    // runs on the calendar grid, the rank window keyed per type.
    "q264_conformal_forecast" -> ((s, dir) => {
      import s.implicits._
      val daily = graft.operators.EvalMetrics.dailyCounts(t(s, dir, "events"))
      val d0 = broadcast(daily.agg(min($"day").as("d0")))
      val joined = Tuning.cut(daily.join(
          daily.select($"event_type", ($"day" + 7L).as("day"), $"y".as("f7")),
          Seq("event_type", "day"))
        .crossJoin(d0)
        .select($"event_type", $"day", abs($"y" - $"f7").as("resid"),
          ($"day" < $"d0" + 21L).cast("int").as("is_cal"))) // calibration rank + eval coverage read it
      val cal = joined.filter($"is_cal" === 1)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"event_type").orderBy($"resid", $"day"))
          .cast("long"))
      val nCal = cal.groupBy($"event_type").agg(count(lit(1)).as("n_cal"))
      val radius = cal.join(nCal, "event_type")
        // ceil((n+1)*0.9) = (9*(n+1) + 9) div 10 in exact integers
        .filter($"rk" === expr("(9 * (n_cal + 1) + 9) div 10"))
        .select($"event_type", $"n_cal", $"resid".as("radius"))
      joined.filter($"is_cal" === 0)
        .join(radius, "event_type")
        .groupBy($"event_type", $"n_cal", $"radius")
        .agg(count(lit(1)).as("n_eval"),
          sum(($"resid" <= $"radius").cast("long")).as("covered"))
        .select($"event_type", $"n_cal", $"n_eval", $"radius", $"covered",
          expr("covered * 10000 div n_eval").as("coverage_bps"))
        .orderBy($"event_type")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q18_event_type_stats" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users, round(sum(value),2) AS total_value FROM events GROUP BY event_type ORDER BY event_type""",

    "q62_source_mix" ->
      """SELECT source, (2000 + hm)::BIGINT AS rate_bp, count(*) AS n_docs, sum(CASE WHEN hs < 2000 + hm THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM (SELECT source, ('0x' || substr(md5('mix:' || source), 1, 15))::BIGINT % 7000 AS hm, ('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS hs FROM documents)
GROUP BY source, hm ORDER BY source""",

    "q72_event_anomaly" ->
      """SELECT hour_bucket, n, z4,
       CASE WHEN z4 IS NOT NULL THEN (CASE WHEN abs(z4) > 2.0 THEN 1 ELSE 0 END) END AS anomaly
FROM (SELECT hour_bucket, n,
        CASE WHEN cnt24 >= 12 AND (sumsq24::DOUBLE - (sum24::DOUBLE * sum24::DOUBLE) / cnt24::DOUBLE) / (cnt24::DOUBLE - 1.0) > 0
             THEN floor(((n::DOUBLE - sum24::DOUBLE / cnt24::DOUBLE)
                         / sqrt((sumsq24::DOUBLE - (sum24::DOUBLE * sum24::DOUBLE) / cnt24::DOUBLE) / (cnt24::DOUBLE - 1.0))) * 10000.0) / 10000.0
             ELSE NULL END AS z4
      FROM (SELECT hour_bucket, n,
              count(*) OVER fr AS cnt24,
              sum(n) OVER fr AS sum24,
              sum(n * n) OVER fr AS sumsq24
            FROM (SELECT floor(epoch_ns(ts) / 3600000000000)::BIGINT AS hour_bucket, count(*) AS n FROM events GROUP BY 1)
            WINDOW fr AS (ORDER BY hour_bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)))
ORDER BY hour_bucket""",

    "q73_kmv_distinct" ->
      raw"""WITH tok AS (
  SELECT source, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents),
dh AS (SELECT DISTINCT source, ('0x' || substr(md5('kmv:' || w), 1, 15))::BIGINT AS h FROM tok),
rk AS (SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY source) AS m
       FROM dh)
SELECT t.source, t.n_exact,
       floor((CASE WHEN e.m < 16 THEN e.m::DOUBLE
                   ELSE 15.0 * 1152921504606846976.0 / e.h16::DOUBLE END) * 10000.0) / 10000.0 AS est4
FROM (SELECT source, count(DISTINCT w)::BIGINT AS n_exact FROM tok GROUP BY source) t
JOIN (SELECT source, max(m)::BIGINT AS m, max(CASE WHEN rn = 16 THEN h END) AS h16 FROM rk GROUP BY source) e
  ON t.source = e.source
ORDER BY t.source""",

    // sample membership replayed by rank over the same salted hash; the
    // value at sample-rank k is tie-insensitive, so row_number ties on
    // equal n_chars cannot flip the reported quantile
    "q79_sampled_quantiles" ->
      """WITH s AS (SELECT source, n_chars, row_number() OVER (PARTITION BY source ORDER BY h, n_chars) AS rk
  FROM (SELECT source, n_chars, ('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h FROM documents)),
r AS (SELECT source, n_chars, row_number() OVER (PARTITION BY source ORDER BY n_chars) AS vr,
        count(*) OVER (PARTITION BY source) AS n
      FROM (SELECT source, n_chars FROM s WHERE rk <= 16))
SELECT source, max(n)::BIGINT AS sample_n,
  min(CASE WHEN vr = cast(floor((25*n + 99) / 100.0) AS BIGINT) THEN n_chars END)::BIGINT AS p25,
  min(CASE WHEN vr = cast(floor((50*n + 99) / 100.0) AS BIGINT) THEN n_chars END)::BIGINT AS p50,
  min(CASE WHEN vr = cast(floor((75*n + 99) / 100.0) AS BIGINT) THEN n_chars END)::BIGINT AS p75,
  min(CASE WHEN vr = cast(floor((90*n + 99) / 100.0) AS BIGINT) THEN n_chars END)::BIGINT AS p90
FROM r GROUP BY source ORDER BY source""",

    "q91_countmin" ->
      raw"""WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents),
wf AS (SELECT w, count(*)::BIGINT AS c FROM tok GROUP BY w),
bk AS (SELECT w, c, j, ('0x' || substr(md5('cms' || j::VARCHAR || ':' || w), 1, 15))::BIGINT % 128 AS b
       FROM wf, (SELECT unnest(range(0, 4)) AS j)),
sums AS (SELECT j, b, sum(c)::BIGINT AS s FROM bk GROUP BY j, b),
est AS (SELECT w, min(s)::BIGINT AS est FROM bk JOIN sums USING (j, b) GROUP BY w)
SELECT w, c AS cnt, est, (est - c)::BIGINT AS overcount
FROM wf JOIN est USING (w)
ORDER BY cnt DESC, w LIMIT 20""",

    "q102_hll_distinct" ->
      raw"""WITH tok AS (SELECT DISTINCT source, w FROM (SELECT source, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents)),
hashed AS (SELECT source, ('0x' || substr(md5('hll:' || w), 1, 15))::BIGINT AS h FROM tok),
br AS (SELECT source, h % 16 AS bkt, least(bit_count(((h >> 4) & -(h >> 4)) - 1), 47) + 1 AS rnk FROM hashed),
grid AS (SELECT source, i AS bkt FROM (SELECT DISTINCT source FROM documents) CROSS JOIN (SELECT unnest(range(0, 16)) AS i)),
regs AS (SELECT g.source, g.bkt, coalesce(max(rnk), 0) AS m FROM grid g LEFT JOIN br ON g.source = br.source AND g.bkt = br.bkt GROUP BY g.source, g.bkt),
agg AS (SELECT source, sum(1::BIGINT << (48 - m))::BIGINT AS s, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS zeros FROM regs GROUP BY source),
ex AS (SELECT source, count(DISTINCT w) AS n_exact FROM tok GROUP BY source)
SELECT source, n_exact, floor(est * 10000.0) / 10000.0 AS est4 FROM (
  SELECT a.source, n_exact,
    CASE WHEN (0.673::DOUBLE * 256.0 * 281474976710656.0 / s::DOUBLE) <= 40.0::DOUBLE AND zeros > 0
         THEN 16.0::DOUBLE * ln(16.0::DOUBLE / zeros::DOUBLE)
         ELSE (0.673::DOUBLE * 256.0 * 281474976710656.0 / s::DOUBLE) END AS est
  FROM agg a JOIN ex USING (source)) ORDER BY source""",

    "q103_topk_per_group" ->
      """SELECT source, rk, doc_id, n_chars FROM (SELECT source, doc_id, n_chars, row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk FROM documents) WHERE rk <= 3 ORDER BY source, rk""",

    "q112_mergeable_stats" ->
      raw"""WITH tokall AS (SELECT source, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents),
cnt AS (SELECT source, count(*)::BIGINT AS n_tok FROM tokall GROUP BY source),
hashed AS (SELECT source, ('0x' || substr(md5('hll:' || w), 1, 15))::BIGINT AS h FROM (SELECT DISTINCT source, w FROM tokall)),
br AS (SELECT source, h % 16 AS bkt, least(bit_count(((h >> 4) & -(h >> 4)) - 1), 47) + 1 AS rnk FROM hashed),
grid AS (SELECT source, i AS bkt FROM (SELECT DISTINCT source FROM documents) CROSS JOIN (SELECT unnest(range(0, 16)) AS i)),
regs AS (SELECT g.source, g.bkt, coalesce(max(rnk), 0) AS m FROM grid g LEFT JOIN br ON g.source = br.source AND g.bkt = br.bkt GROUP BY g.source, g.bkt),
agg AS (SELECT source, sum(1::BIGINT << (48 - m))::BIGINT AS s, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS zeros FROM regs GROUP BY source)
SELECT source, n_tok, floor(est * 10000.0) / 10000.0 AS est4 FROM (
  SELECT a.source, n_tok,
    CASE WHEN (0.673::DOUBLE * 256.0 * 281474976710656.0 / s::DOUBLE) <= 40.0::DOUBLE AND zeros > 0
         THEN 16.0::DOUBLE * ln(16.0::DOUBLE / zeros::DOUBLE)
         ELSE (0.673::DOUBLE * 256.0 * 281474976710656.0 / s::DOUBLE) END AS est
  FROM agg a JOIN cnt USING (source)) ORDER BY source""",

    "q127_log_histogram" ->
      """WITH h AS (SELECT event_type, length(bin(greatest(floor(value * 100.0)::BIGINT, 0))) AS bucket, count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
cum AS (SELECT event_type, bucket, c, sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum, sum(c) OVER (PARTITION BY event_type) AS n FROM h)
SELECT event_type, min(n)::BIGINT AS n_events,
       min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN (1::BIGINT << (bucket - 1)) END)::BIGINT AS p50_lb100,
       min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN (1::BIGINT << (bucket - 1)) END)::BIGINT AS p90_lb100,
       min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN (1::BIGINT << (bucket - 1)) END)::BIGINT AS p99_lb100
FROM cum GROUP BY event_type ORDER BY event_type""",

    "q128_sketch_overlap" ->
      raw"""WITH tok AS (SELECT source, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents WHERE source IN ('src0','src1','src2','src3','src4')),
hashed AS (SELECT source, ('0x' || substr(md5('hll:' || w), 1, 15))::BIGINT AS h FROM (SELECT DISTINCT source, w FROM tok)),
br AS (SELECT source, h % 64 AS bkt, least(bit_count(((h >> 6) & -(h >> 6)) - 1), 47) + 1 AS rnk FROM hashed),
grid AS (SELECT source, i AS bkt FROM (SELECT DISTINCT source FROM tok) CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
regs AS (SELECT g.source, g.bkt, coalesce(max(rnk), 0) AS m FROM grid g LEFT JOIN br ON g.source = br.source AND g.bkt = br.bkt GROUP BY g.source, g.bkt),
est1 AS (SELECT source, sum(1::BIGINT << (48 - m))::BIGINT AS s, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS zeros FROM regs GROUP BY source),
esta AS (SELECT source, floor((CASE WHEN (0.709::DOUBLE * 4096.0 * 281474976710656.0 / s::DOUBLE) <= 160.0::DOUBLE AND zeros > 0 THEN 64.0::DOUBLE * ln(64.0::DOUBLE / zeros::DOUBLE) ELSE (0.709::DOUBLE * 4096.0 * 281474976710656.0 / s::DOUBLE) END) * 10000.0)::BIGINT AS e4 FROM est1),
upair AS (SELECT a.source AS src_a, b.source AS src_b, ra.bkt, greatest(ra.m, rb.m) AS m
          FROM (SELECT DISTINCT source FROM tok) a JOIN (SELECT DISTINCT source FROM tok) b ON a.source < b.source
          JOIN regs ra ON ra.source = a.source JOIN regs rb ON rb.source = b.source AND rb.bkt = ra.bkt),
uest1 AS (SELECT src_a, src_b, sum(1::BIGINT << (48 - m))::BIGINT AS s, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS zeros FROM upair GROUP BY src_a, src_b),
uest AS (SELECT src_a, src_b, floor((CASE WHEN (0.709::DOUBLE * 4096.0 * 281474976710656.0 / s::DOUBLE) <= 160.0::DOUBLE AND zeros > 0 THEN 64.0::DOUBLE * ln(64.0::DOUBLE / zeros::DOUBLE) ELSE (0.709::DOUBLE * 4096.0 * 281474976710656.0 / s::DOUBLE) END) * 10000.0)::BIGINT AS eu FROM uest1),
vocab AS (SELECT DISTINCT source, w FROM tok),
exact AS (SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS n_inter_exact FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source GROUP BY 1, 2)
SELECT u.src_a, u.src_b, coalesce(x.n_inter_exact, 0)::BIGINT AS n_inter_exact,
       ea.e4::DOUBLE / 10000.0 AS est_a4, eb.e4::DOUBLE / 10000.0 AS est_b4, u.eu::DOUBLE / 10000.0 AS est_u4,
       greatest(ea.e4 + eb.e4 - u.eu, 0)::DOUBLE / 10000.0 AS est_i4
FROM uest u JOIN esta ea ON ea.source = u.src_a JOIN esta eb ON eb.source = u.src_b
LEFT JOIN exact x ON x.src_a = u.src_a AND x.src_b = u.src_b
ORDER BY u.src_a, u.src_b""",

    // q141: per-source sqrt quantized to 1e-6 then integer-only math
    "q141_mixture_weights" ->
      raw"""WITH tk AS (SELECT source, len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != ''))::BIGINT AS nt FROM documents),
per AS (SELECT source, sum(nt)::BIGINT AS n_tok FROM tk GROUP BY source),
tot AS (SELECT sum(n_tok)::BIGINT AS tot FROM per),
r AS (SELECT source, n_tok, (n_tok * 10000) // tot AS share_bp, (n_tok * 1000000) // tot AS share_u,
      floor(sqrt(n_tok::DOUBLE / tot::DOUBLE) * 1000000.0)::BIGINT AS r_u FROM per, tot),
sr AS (SELECT sum(r_u)::BIGINT AS sum_r FROM r)
SELECT source, n_tok, share_bp::BIGINT AS share_bp,
       ((r_u * 10000) // sum_r)::DOUBLE / 10000.0 AS w4,
       (((r_u * 10000) // sum_r * 1000000) // share_u)::DOUBLE / 10000.0 AS epochs4
FROM r, sr ORDER BY source""",

    // q142: per-term micro-nat quantization makes the KL sums exact
    "q142_source_drift" ->
      raw"""WITH tok AS (SELECT source, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents),
cs AS (SELECT source, w, count(*)::BIGINT AS c_s FROM tok GROUP BY source, w),
cg AS (SELECT w, sum(c_s)::BIGINT AS c_g FROM cs GROUP BY w),
ns AS (SELECT source, sum(c_s)::BIGINT AS n_s FROM cs GROUP BY source),
ng AS (SELECT sum(c_g)::BIGINT AS n_g FROM cg),
c AS (SELECT source,
      floor((c_s::DOUBLE / n_s::DOUBLE) * ln((c_s::DOUBLE * n_g::DOUBLE) / (n_s::DOUBLE * c_g::DOUBLE)) * 1000000.0)::BIGINT AS contrib_u
      FROM cs JOIN cg USING (w) JOIN ns USING (source) CROSS JOIN ng)
SELECT source, count(*)::BIGINT AS n_terms, sum(contrib_u)::BIGINT AS kl_u,
       floor(sum(contrib_u)::DOUBLE / 100.0) / 10000.0 AS kl4
FROM c GROUP BY source ORDER BY source""",

    // q144: identical df floor, pair join and micro-nat PMI
    "q144_pmi_pairs" ->
      raw"""WITH dw AS (SELECT DISTINCT doc_id, w FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents)),
dfr AS (SELECT w, count(*)::BIGINT AS df FROM dw GROUP BY w),
kept AS (SELECT w, df FROM dfr WHERE df >= 50),
kdw AS (SELECT doc_id, dw.w FROM dw JOIN kept USING (w)),
nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
p AS (SELECT a.w AS wa, b.w AS wb, count(*)::BIGINT AS c_ab
      FROM kdw a JOIN kdw b ON a.doc_id = b.doc_id AND a.w < b.w GROUP BY 1, 2)
SELECT wa, wb, c_ab, ka.df AS df_a, kb.df AS df_b,
       floor(ln((c_ab::DOUBLE * n_docs::DOUBLE) / (ka.df::DOUBLE * kb.df::DOUBLE)) * 1000000.0)::BIGINT AS pmi_u
FROM p JOIN kept ka ON p.wa = ka.w JOIN kept kb ON p.wb = kb.w CROSS JOIN nd
ORDER BY pmi_u DESC, wa, wb LIMIT 50""",

    // q154: nearest-rank percentiles with the same doc_id tie-break
    "q154_winsorize" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)::BIGINT AS rn,
  count(*) OVER (PARTITION BY source)::BIGINT AS n FROM documents),
c AS (SELECT source, max(CASE WHEN rn = (n * 5 + 99) // 100 THEN n_chars END)::BIGINT AS p05,
             max(CASE WHEN rn = (n * 95 + 99) // 100 THEN n_chars END)::BIGINT AS p95 FROM r GROUP BY source)
SELECT r.source, count(*)::BIGINT AS n_docs, max(p05)::BIGINT AS p05, max(p95)::BIGINT AS p95,
       ((sum(n_chars)::BIGINT * 10000) // count(*))::DOUBLE / 10000.0 AS mean_raw4,
       ((sum(least(greatest(n_chars, p05), p95))::BIGINT * 10000) // count(*))::DOUBLE / 10000.0 AS mean_wins4
FROM r JOIN c ON r.source = c.source GROUP BY r.source ORDER BY r.source""",

    // q157: power-of-two EWMA weights — exact integer num/den sums
    "q157_ewma_hourly" ->
      """WITH hourly AS (SELECT epoch_us(ts)//3600000000 AS hour_bucket, count(*)::BIGINT AS n FROM events GROUP BY 1),
contrib AS (SELECT hour_bucket + k AS thb, n * (1::BIGINT << (24-k)) AS wn, (1::BIGINT << (24-k))::BIGINT AS wt
            FROM hourly, (SELECT unnest(range(1,25)) AS k) ks(k)),
sm AS (SELECT thb, sum(wn)::BIGINT AS num, sum(wt)::BIGINT AS den, count(*)::BIGINT AS n_prior FROM contrib GROUP BY thb)
SELECT h.hour_bucket, h.n, coalesce(n_prior, 0)::BIGINT AS n_prior,
  CASE WHEN den > 0 THEN ((num*10000)//den)::DOUBLE/10000.0 END AS smooth4,
  (CASE WHEN den > 0 THEN (CASE WHEN h.n*den > 2*num THEN 1 ELSE 0 END) END)::BIGINT AS spike
FROM hourly h LEFT JOIN sm ON h.hour_bucket = sm.thb ORDER BY hour_bucket""",

    // q159: nearest-rank order statistics — the oracle sorts, the engine
    // must not (two histogram passes); ranks in exact integer arithmetic
    "q159_exact_quantiles" ->
      """WITH r AS (SELECT n_chars AS v, row_number() OVER (ORDER BY n_chars) AS rn, count(*) OVER () AS n FROM documents),
p AS (SELECT unnest([2500,5000,7500,9000,9900]) AS p4),
t AS (SELECT p4, (p4 * n + 9999) // 10000 AS rank FROM p, (SELECT max(n) AS n FROM r) nn)
SELECT p4::DOUBLE / 10000.0 AS prob4, t.rank::BIGINT AS rank, r.v::BIGINT AS value
FROM t JOIN r ON r.rn = t.rank ORDER BY prob4""",

    // q161: nearest-rank (lower) median and MAD with (value, hour) tie
    // order; worst hour integer-packed so the argmax is engine-exact
    "q161_robust_anomaly" ->
      """WITH hourly AS (SELECT event_type, epoch_us(ts)//3600000000 AS hour_bucket, count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
med AS (SELECT event_type, n AS med FROM (SELECT event_type, n, row_number() OVER (PARTITION BY event_type ORDER BY n, hour_bucket) AS rn, count(*) OVER (PARTITION BY event_type) AS cnt FROM hourly) WHERE rn = (cnt + 1) // 2),
dev AS (SELECT h.event_type, h.hour_bucket, h.n, m.med, abs(h.n - m.med)::BIGINT AS ad FROM hourly h JOIN med m USING (event_type)),
mad AS (SELECT event_type, ad AS mad FROM (SELECT event_type, ad, row_number() OVER (PARTITION BY event_type ORDER BY ad, hour_bucket) AS rn, count(*) OVER (PARTITION BY event_type) AS cnt FROM dev) WHERE rn = (cnt + 1) // 2)
SELECT d.event_type, count(*)::BIGINT AS n_hours, max(d.med)::BIGINT AS med, max(m.mad)::BIGINT AS mad,
  sum(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END)::BIGINT AS n_anomalies,
  (max(CASE WHEN d.ad > 3 * m.mad THEN d.ad * 10000000 + d.hour_bucket END) % 10000000)::BIGINT AS worst_hour
FROM dev d JOIN mad m USING (event_type) GROUP BY d.event_type ORDER BY d.event_type""",

    // q162: q58's stable md5 cohort hash; z in identical double op order,
    // significance decided on the QUANTIZED statistic
    "q162_ab_test" ->
      """WITH e AS (SELECT ('0x' || substr(md5('ab:' || user_id::VARCHAR), 1, 15))::BIGINT % 2 AS cohort, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv FROM events),
g AS (SELECT cohort, count(*)::BIGINT AS n, sum(is_conv)::BIGINT AS k FROM e GROUP BY cohort),
a AS (SELECT n AS n0, k AS k0 FROM g WHERE cohort = 0),
b AS (SELECT n AS n1, k AS k1 FROM g WHERE cohort = 1),
z AS (SELECT n0, k0, n1, k1, (k0*10000)//n0 AS p0_4, (k1*10000)//n1 AS p1_4,
  CASE WHEN (k0+k1) > 0 AND (k0+k1) < (n0+n1) THEN
  floor(((k0::DOUBLE / n0::DOUBLE) - (k1::DOUBLE / n1::DOUBLE))
    / sqrt(((k0+k1)::DOUBLE / (n0+n1)::DOUBLE) * (1.0 - (k0+k1)::DOUBLE / (n0+n1)::DOUBLE) * (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE)) * 10000.0)::BIGINT END AS z4
  FROM a, b)
SELECT n0, k0, n1, k1, p0_4, p1_4, z4, (CASE WHEN z4 IS NULL THEN NULL WHEN abs(z4) > 19600 THEN 1 ELSE 0 END)::INT AS significant FROM z""",

    // q172: registers rebuilt per (source, lang) on the 64-bucket grid,
    // rolled up by plain GROUP-BY max — q128's estimator formula verbatim
    "q172_sketch_rollup" ->
      raw"""WITH tok AS (SELECT source, lang, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS w FROM documents),
vocab AS MATERIALIZED (SELECT DISTINCT source, lang, w FROM tok),
hashed AS (SELECT source, lang, ('0x' || substr(md5('hll:' || w), 1, 15))::BIGINT AS h FROM vocab),
br AS (SELECT source, lang, h % 64 AS bkt, least(bit_count(((h >> 6) & -(h >> 6)) - 1), 47) + 1 AS rnk FROM hashed),
grid AS (SELECT source, lang, i AS bkt FROM (SELECT DISTINCT source, lang FROM vocab) CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
regs AS MATERIALIZED (SELECT g.source, g.lang, g.bkt, coalesce(max(rnk), 0) AS m FROM grid g LEFT JOIN br ON g.source = br.source AND g.lang = br.lang AND g.bkt = br.bkt GROUP BY 1, 2, 3),
s0 AS (SELECT source, lang, sum(1::BIGINT << (48 - m))::BIGINT AS s, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS zeros FROM regs GROUP BY 1, 2),
s1 AS (SELECT source, sum(1::BIGINT << (48 - m))::BIGINT AS s, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS zeros FROM (SELECT source, bkt, max(m) AS m FROM regs GROUP BY 1, 2) GROUP BY 1),
s2 AS (SELECT sum(1::BIGINT << (48 - m))::BIGINT AS s, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS zeros FROM (SELECT bkt, max(m) AS m FROM regs GROUP BY 1)),
ex0 AS (SELECT source, lang, count(*)::BIGINT AS n_exact FROM vocab GROUP BY 1, 2),
ex1 AS (SELECT source, count(DISTINCT w)::BIGINT AS n_exact FROM vocab GROUP BY 1),
ex2 AS (SELECT count(DISTINCT w)::BIGINT AS n_exact FROM vocab),
r AS (
  SELECT '1_source_lang' AS level, s0.source, s0.lang, ex0.n_exact, s0.s, s0.zeros FROM s0 JOIN ex0 ON s0.source = ex0.source AND s0.lang = ex0.lang
  UNION ALL SELECT '2_source', s1.source, '', ex1.n_exact, s1.s, s1.zeros FROM s1 JOIN ex1 ON s1.source = ex1.source
  UNION ALL SELECT '3_global', '', '', ex2.n_exact, s2.s, s2.zeros FROM s2, ex2)
SELECT level, source, lang, n_exact,
  floor((CASE WHEN (0.709::DOUBLE * 4096.0 * 281474976710656.0 / s::DOUBLE) <= 160.0::DOUBLE AND zeros > 0 THEN 64.0::DOUBLE * ln(64.0::DOUBLE / zeros::DOUBLE) ELSE (0.709::DOUBLE * 4096.0 * 281474976710656.0 / s::DOUBLE) END) * 10000.0)::BIGINT::DOUBLE / 10000.0 AS est4
FROM r ORDER BY level, source, lang""",

    // q175: class histogram + 3-row risk rollup, shares integer-quantized
    "q175_k_anonymity" ->
      """WITH cls AS (SELECT lang, source, n_chars // 100 AS len_bucket, count(*)::BIGINT AS sz FROM documents GROUP BY 1, 2, 3),
tot AS (SELECT count(*)::BIGINT AS n FROM documents)
SELECT CASE WHEN sz = 1 THEN '1_unique' WHEN sz < 5 THEN '2_small' ELSE '3_anonymous' END AS risk_class,
  count(*)::BIGINT AS n_classes, sum(sz)::BIGINT AS n_docs,
  ((sum(sz) * 10000) // n)::DOUBLE / 10000.0 AS docs_share4
FROM cls, tot GROUP BY 1, n ORDER BY risk_class""",

    // q182: plain NOT-EXISTS dominance — the grid cut is cost, not semantics
    "q182_pareto_frontier" ->
      raw"""WITH d AS (SELECT doc_id, len(toks)::BIGINT AS n_tok, len(list_distinct(toks))::BIGINT AS n_types FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS toks FROM documents) WHERE len(toks) > 0),
p AS MATERIALIZED (SELECT doc_id, n_tok, (n_types * 10000) // n_tok AS ttr4 FROM d)
SELECT doc_id, n_tok, ttr4 FROM p a
WHERE NOT EXISTS (SELECT 1 FROM p b WHERE b.n_tok >= a.n_tok AND b.ttr4 >= a.ttr4 AND (b.n_tok > a.n_tok OR b.ttr4 > a.ttr4))
ORDER BY doc_id""",

    // q189: HUGEINT moment sums are the oracle's exact twin of the
    // engine's decimal(38,0); the double ratio mirrors the engine's
    // operation order token for token
    "q189_cuped" ->
      """WITH u AS (SELECT user_id,
  sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN cast(floor(value * 1000000) AS BIGINT) ELSE 0 END) AS xu,
  sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN cast(floor(value * 1000000) AS BIGINT) ELSE 0 END) AS yu
  FROM events GROUP BY 1),
mom AS (SELECT count(*)::BIGINT AS n, sum(xu) AS sx, sum(yu) AS sy,
  sum(xu::HUGEINT * yu::HUGEINT) AS sxy, sum(xu::HUGEINT * xu::HUGEINT) AS sxx FROM u),
arms AS (SELECT ('0x' || substr(md5('ab:' || user_id::VARCHAR), 1, 15))::BIGINT % 2 AS cohort,
  count(*)::BIGINT AS n_users, sum(xu) AS sx_a, sum(yu) AS sy_a FROM u GROUP BY 1),
j AS (SELECT cohort, n_users, sx_a, sy_a, n, sx, sy, sxy, sxx,
  n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS denom FROM arms, mom),
th AS (SELECT *, CASE WHEN denom > 0.0 THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / denom END AS theta FROM j)
SELECT cohort, n_users,
  floor((sx_a::DOUBLE / n_users::DOUBLE) / 100.0)::BIGINT AS mean_x4u,
  floor((sy_a::DOUBLE / n_users::DOUBLE) / 100.0)::BIGINT AS mean_y4u,
  floor(theta * 1000000.0)::BIGINT AS theta6,
  floor(((sy_a::DOUBLE / n_users::DOUBLE) - theta * (sx_a::DOUBLE / n_users::DOUBLE - sx::DOUBLE / n::DOUBLE)) / 100.0)::BIGINT AS mean_yadj4u
FROM th ORDER BY cohort""",

    // q190: exact distinct-source diversity per quasi-id class
    "q190_l_diversity" ->
      """WITH cls AS (SELECT lang, n_chars // 20 AS len_bucket, count(DISTINCT source)::BIGINT AS ndv, count(*)::BIGINT AS sz FROM documents GROUP BY 1, 2)
SELECT CASE WHEN ndv < 3 THEN '1_risky' ELSE '2_diverse' END AS risk_class,
  count(*)::BIGINT AS n_classes, sum(sz)::BIGINT AS n_docs,
  min(ndv) AS min_ndv, max(ndv) AS max_ndv
FROM cls GROUP BY 1 ORDER BY risk_class""",

    // q196: integer CUSUM of (n·D − N), argmax packed with the
    // earlier-day tiebreak exactly as the engine packs it
    "q196_cusum_changepoint" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
tot AS (SELECT event_type, sum(n)::BIGINT AS total, count(*)::BIGINT AS n_days FROM daily GROUP BY 1),
cs AS (SELECT d.event_type, d.day, t.n_days, t.total,
  sum(d.n * t.n_days - t.total) OVER (PARTITION BY d.event_type ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM daily d JOIN tot t ON d.event_type = t.event_type)
SELECT event_type, max(n_days) AS n_days, max(total) AS total,
  (9999999 - (max(abs(cusum) * 10000000 + (9999999 - day)) % 10000000))::BIGINT AS cp_day,
  (max(abs(cusum) * 10000000 + (9999999 - day)) // 10000000)::BIGINT AS cusum_abs
FROM cs GROUP BY event_type ORDER BY event_type""",

    // q198: the same cross-multiplied integer KS max over the jump grid
    "q198_ks_drift" ->
      """WITH cnt AS (SELECT source, n_chars AS v, count(*)::BIGINT AS c FROM documents GROUP BY 1, 2),
ns AS (SELECT source, sum(c)::BIGINT AS n1 FROM cnt GROUP BY 1),
tot AS (SELECT sum(c)::BIGINT AS n FROM cnt),
gc AS (SELECT v, sum(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS call FROM (SELECT v, sum(c)::BIGINT AS cv FROM cnt GROUP BY 1)),
grid AS (SELECT ns.source, ns.n1, vals.v FROM ns, (SELECT DISTINCT v FROM cnt) vals),
c1 AS (SELECT g.source, g.n1, g.v, sum(coalesce(cnt.c, 0)) OVER (PARTITION BY g.source ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS c1 FROM grid g LEFT JOIN cnt ON cnt.source = g.source AND cnt.v = g.v),
m AS (SELECT c1.source, c1.n1, n, max(abs(c1.c1 * (n - c1.n1) - (gc.call - c1.c1) * c1.n1))::BIGINT AS maxnum FROM c1 JOIN gc USING (v), tot GROUP BY 1, 2, 3)
SELECT source, n1 AS n_docs, ((maxnum * 10000) // (n1 * (n - n1)))::BIGINT AS d4,
  (CASE WHEN ((maxnum * 10000) // (n1 * (n - n1))) > floor(1.358 * sqrt(n::DOUBLE / (n1::DOUBLE * (n - n1)::DOUBLE)) * 10000.0)::BIGINT THEN 1 ELSE 0 END)::INT AS flagged
FROM m ORDER BY source""",

    // q208: per-lang nearest-rank — the oracle sorts per group, the
    // engine must not
    "q208_group_quantiles" ->
      """WITH r AS (SELECT lang, n_chars AS v, row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn, count(*) OVER (PARTITION BY lang) AS n FROM documents),
p AS (SELECT unnest([2500, 5000, 9000, 9900]) AS p4),
t AS (SELECT lang, p4, (p4 * n + 9999) // 10000 AS rank FROM (SELECT DISTINCT lang, n FROM r), p)
SELECT t.lang, p4::DOUBLE / 10000.0 AS prob4, t.rank::BIGINT AS rank, r.v::BIGINT AS value
FROM t JOIN r ON r.lang = t.lang AND r.rn = t.rank ORDER BY t.lang, prob4""",

    // q205: q65's sessionization CTEs, then distinct (session, type)
    // self-joined for pair supports; lift as one integer division
    "q205_assoc_lift" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
l AS (SELECT user_id, tus, event_id, event_type,
  CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
        OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 21600000000 THEN 1 ELSE 0 END AS brk FROM ev),
st AS (SELECT DISTINCT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid, event_type FROM l),
n AS (SELECT count(*)::BIGINT AS n_sess FROM (SELECT DISTINCT user_id, sid FROM st)),
singles AS (SELECT event_type, count(*)::BIGINT AS n_t FROM st GROUP BY 1),
pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*)::BIGINT AS n_ab
  FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid AND a.event_type < b.event_type GROUP BY 1, 2)
SELECT type_a, type_b, n_ab, sa.n_t AS n_a, sb.n_t AS n_b,
  ((n.n_sess::HUGEINT * n_ab * 1000000) // (sa.n_t::HUGEINT * sb.n_t))::BIGINT AS lift6
FROM pairs JOIN singles sa ON pairs.type_a = sa.event_type
JOIN singles sb ON pairs.type_b = sb.event_type, n
ORDER BY type_a, type_b""",

    // q203: leading digit from exact cent-integers via decimal string
    // length; the nine Benford expectations are the same literal
    // micro-constants; per-digit χ² in one pinned double expression
    "q203_benford" ->
      """WITH vc AS (SELECT cast(floor(value * 100) AS BIGINT) AS vc FROM events WHERE floor(value * 100) > 0),
dg AS (SELECT vc // cast(pow(10, length(vc::VARCHAR) - 1) AS BIGINT) AS digit FROM vc),
cnt AS (SELECT digit, count(*)::BIGINT AS n_obs FROM dg GROUP BY 1),
tot AS (SELECT sum(n_obs)::BIGINT AS n FROM cnt),
p AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938), (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152), (9, 45757)) t(digit, p_u))
SELECT c.digit, c.n_obs, (tot.n * p.p_u)::BIGINT AS exp_u,
  floor(((c.n_obs::DOUBLE - tot.n::DOUBLE * (p.p_u::DOUBLE / 1000000.0)) * (c.n_obs::DOUBLE - tot.n::DOUBLE * (p.p_u::DOUBLE / 1000000.0))) / (tot.n::DOUBLE * (p.p_u::DOUBLE / 1000000.0)) * 1000000.0)::BIGINT AS chi2_u
FROM cnt c JOIN p ON c.digit = p.digit, tot ORDER BY c.digit""",

    // q204: HUGEINT moment sums (the decimal(38,0) twin), one pinned
    // double ratio per signal pair
    "q204_signal_corr" ->
      raw"""WITH s AS (SELECT len(tk)::BIGINT AS s1,
  (list_sum(list_transform(tk, x -> length(x))) * 1000000) // len(tk) AS s2,
  (len(list_distinct(tk)) * 1000000) // len(tk) AS s3
  FROM (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tk FROM documents) WHERE len(tk) > 0),
m AS (SELECT count(*)::BIGINT AS n, sum(s1)::BIGINT AS m1, sum(s2)::BIGINT AS m2, sum(s3)::BIGINT AS m3,
  sum(s1::HUGEINT * s1::HUGEINT) AS m11, sum(s2::HUGEINT * s2::HUGEINT) AS m22, sum(s3::HUGEINT * s3::HUGEINT) AS m33,
  sum(s1::HUGEINT * s2::HUGEINT) AS m12, sum(s1::HUGEINT * s3::HUGEINT) AS m13, sum(s2::HUGEINT * s3::HUGEINT) AS m23 FROM s)
SELECT * FROM (
  SELECT 'n_tok' AS sig_a, 'mean_len' AS sig_b, floor((n::DOUBLE * m12::DOUBLE - m1::DOUBLE * m2::DOUBLE) / sqrt((n::DOUBLE * m11::DOUBLE - m1::DOUBLE * m1::DOUBLE) * (n::DOUBLE * m22::DOUBLE - m2::DOUBLE * m2::DOUBLE)) * 1000000.0)::BIGINT AS r6 FROM m
  UNION ALL SELECT 'n_tok', 'ttr', floor((n::DOUBLE * m13::DOUBLE - m1::DOUBLE * m3::DOUBLE) / sqrt((n::DOUBLE * m11::DOUBLE - m1::DOUBLE * m1::DOUBLE) * (n::DOUBLE * m33::DOUBLE - m3::DOUBLE * m3::DOUBLE)) * 1000000.0)::BIGINT FROM m
  UNION ALL SELECT 'mean_len', 'ttr', floor((n::DOUBLE * m23::DOUBLE - m2::DOUBLE * m3::DOUBLE) / sqrt((n::DOUBLE * m22::DOUBLE - m2::DOUBLE * m2::DOUBLE) * (n::DOUBLE * m33::DOUBLE - m3::DOUBLE * m3::DOUBLE)) * 1000000.0)::BIGINT FROM m)
ORDER BY sig_a, sig_b""",


    // q224: same md5 treatment draw, same µs cuts, same integral-division
    // cell means — placebo runs the estimator inside the pre-period
    "q224_diff_in_diff" ->
      """WITH ev AS (SELECT epoch_us(ts) AS tsu, cast(floor(value * 1000000) AS BIGINT) AS vu,
  CASE WHEN ('0x' || substr(md5('did:' || user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS tr,
  CASE WHEN epoch_us(ts) >= 1706140800000000 THEN 'post' WHEN epoch_us(ts) >= 1705017600000000 THEN 'mid' ELSE 'early' END AS per
  FROM events WHERE event_type = 'purchase'),
c AS (SELECT
  sum(CASE WHEN tr = 1 AND per = 'early' THEN 1 ELSE 0 END)::BIGINT AS n_t_early,
  sum(CASE WHEN tr = 1 AND per = 'mid' THEN 1 ELSE 0 END)::BIGINT AS n_t_mid,
  sum(CASE WHEN tr = 1 AND per = 'post' THEN 1 ELSE 0 END)::BIGINT AS n_t_post,
  sum(CASE WHEN tr = 0 AND per = 'early' THEN 1 ELSE 0 END)::BIGINT AS n_c_early,
  sum(CASE WHEN tr = 0 AND per = 'mid' THEN 1 ELSE 0 END)::BIGINT AS n_c_mid,
  sum(CASE WHEN tr = 0 AND per = 'post' THEN 1 ELSE 0 END)::BIGINT AS n_c_post,
  sum(CASE WHEN tr = 1 AND per = 'early' THEN vu ELSE 0 END)::BIGINT AS s_t_early,
  sum(CASE WHEN tr = 1 AND per = 'mid' THEN vu ELSE 0 END)::BIGINT AS s_t_mid,
  sum(CASE WHEN tr = 1 AND per = 'post' THEN vu ELSE 0 END)::BIGINT AS s_t_post,
  sum(CASE WHEN tr = 0 AND per = 'early' THEN vu ELSE 0 END)::BIGINT AS s_c_early,
  sum(CASE WHEN tr = 0 AND per = 'mid' THEN vu ELSE 0 END)::BIGINT AS s_c_mid,
  sum(CASE WHEN tr = 0 AND per = 'post' THEN vu ELSE 0 END)::BIGINT AS s_c_post
  FROM ev)
SELECT (n_t_early + n_t_mid)::BIGINT AS n_t_pre, n_t_post, (n_c_early + n_c_mid)::BIGINT AS n_c_pre, n_c_post,
  ((s_t_early + s_t_mid) // (n_t_early + n_t_mid))::BIGINT AS m_t_pre,
  (s_t_post // n_t_post)::BIGINT AS m_t_post,
  ((s_c_early + s_c_mid) // (n_c_early + n_c_mid))::BIGINT AS m_c_pre,
  (s_c_post // n_c_post)::BIGINT AS m_c_post,
  ((s_t_post // n_t_post - (s_t_early + s_t_mid) // (n_t_early + n_t_mid)) - (s_c_post // n_c_post - (s_c_early + s_c_mid) // (n_c_early + n_c_mid)))::BIGINT AS did_u,
  ((s_t_mid // n_t_mid - s_t_early // n_t_early) - (s_c_mid // n_c_mid - s_c_early // n_c_early))::BIGINT AS placebo_did_u
FROM c""",


    // q228: same md5 micro-uniform, same literal Poisson-CDF thresholds,
    // same rank-2/rank-31 CI election
    "q228_bootstrap_ci" ->
      """WITH ev AS (SELECT event_type, event_id, cast(floor(value * 1000000) AS BIGINT) AS vu FROM events),
draws AS (SELECT event_type, event_id, vu, b,
  ('0x' || substr(md5('boot:' || b::VARCHAR || ':' || event_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS u
  FROM ev, (SELECT unnest(range(0, 32)) AS b)),
wts AS (SELECT event_type, b, vu, CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1 WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3 ELSE 4 END AS w FROM draws),
means AS (SELECT event_type, b, (sum(w * vu) // sum(w))::BIGINT AS m FROM wts GROUP BY event_type, b),
rk AS (SELECT event_type, m, row_number() OVER (PARTITION BY event_type ORDER BY m, b) AS rk FROM means),
pt AS (SELECT event_type, count(*)::BIGINT AS n, (sum(vu) // count(*))::BIGINT AS mean_u FROM ev GROUP BY event_type)
SELECT pt.event_type, pt.n, pt.mean_u, lo.m AS ci_lo_u, hi.m AS ci_hi_u
FROM pt JOIN (SELECT event_type, m FROM rk WHERE rk = 2) lo USING (event_type)
JOIN (SELECT event_type, m FROM rk WHERE rk = 31) hi USING (event_type) ORDER BY event_type""",


    // q229: same pinned slope expression (divide then scale), same median
    // election, HUGEINT OLS moments
    "q229_theil_sen" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
pairs AS (SELECT a.event_type, a.day AS d1, b.day AS d2, floor((b.y - a.y)::DOUBLE / (b.day - a.day) * 1000000.0)::BIGINT AS slope6 FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.day < b.day),
med AS (SELECT event_type, np::BIGINT AS n_pairs, slope6 AS ts_slope6 FROM (SELECT event_type, slope6, d1, d2, row_number() OVER (PARTITION BY event_type ORDER BY slope6, d1, d2) AS rk, count(*) OVER (PARTITION BY event_type) AS np FROM pairs) WHERE rk = (np + 1) // 2),
ols AS (SELECT event_type, count(*)::BIGINT AS n_days, floor((count(*)::DOUBLE * sum(day::HUGEINT * y::HUGEINT)::DOUBLE - sum(day)::DOUBLE * sum(y)::DOUBLE) / (count(*)::DOUBLE * sum(day::HUGEINT * day::HUGEINT)::DOUBLE - sum(day)::DOUBLE * sum(day)::DOUBLE) * 1000000.0)::BIGINT AS ols_slope6 FROM daily GROUP BY event_type)
SELECT ols.event_type, ols.n_days, med.n_pairs, med.ts_slope6, ols.ols_slope6 FROM ols JOIN med USING (event_type) ORDER BY event_type""",


    // q230: same histogram cumsum ranks, same exact ceil target rank,
    // same covering-row band join on the pooled histogram
    "q230_quantile_normalize" ->
      """WITH sc AS (SELECT source, n_chars AS v FROM documents),
hist AS (SELECT source, v, count(*)::BIGINT AS cnt FROM sc GROUP BY 1, 2),
sizes AS (SELECT source, sum(cnt)::BIGINT AS ns FROM hist GROUP BY 1),
srccum AS (SELECT hist.source, hist.v, hist.cnt, sum(hist.cnt) OVER (PARTITION BY hist.source ORDER BY hist.v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS r, sizes.ns FROM hist JOIN sizes USING (source)),
poolcum AS (SELECT v AS pv, pcnt, sum(pcnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS pcum FROM (SELECT v, count(*)::BIGINT AS pcnt FROM sc GROUP BY 1)),
np AS (SELECT count(*)::BIGINT AS np FROM sc)
SELECT s.source, s.v, s.cnt, s.r AS src_rank, p.pv AS norm_v
FROM srccum s, np, poolcum p
WHERE p.pcum >= (s.r * np.np + s.ns - 1) // s.ns AND p.pcum - p.pcnt < (s.r * np.np + s.ns - 1) // s.ns
ORDER BY s.source, s.v""",


    // q235: same histogram grid, same midrank identity, HUGEINT numerator
    "q235_auc_rank" ->
      """WITH h AS (SELECT lang, n_chars AS v, count(*)::BIGINT AS cnt FROM documents GROUP BY 1, 2),
tv AS (SELECT v, sum(cnt)::BIGINT AS tot FROM h GROUP BY 1),
tg AS (SELECT DISTINCT lang AS tgt FROM h),
grid AS (SELECT tg.tgt, tv.v, coalesce(p.cnt, 0)::BIGINT AS pos, (tv.tot - coalesce(p.cnt, 0))::BIGINT AS neg
  FROM tv CROSS JOIN tg LEFT JOIN h p ON p.lang = tg.tgt AND p.v = tv.v),
cum AS (SELECT tgt, v, pos, neg, coalesce(sum(neg) OVER (PARTITION BY tgt ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb FROM grid),
ag AS (SELECT tgt AS lang, sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg, sum(pos::HUGEINT * (2 * cb + neg)) AS num2 FROM cum GROUP BY 1)
SELECT lang, n_pos, n_neg, (num2 * 10000 // (2 * n_pos * n_neg))::BIGINT AS auc4 FROM ag ORDER BY lang""",


    // q236: same HUGEINT moments, same pinned-order Cramer doubles, same
    // det-computed-once CASE guard (det = 0 → NULL coefficients)
    "q236_ols2_cramer" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
d0 AS (SELECT min(day) AS d0 FROM daily),
feat AS (SELECT event_type, day - d0.d0 AS x1, day % 7 AS x2, y FROM daily, d0),
m AS (SELECT event_type, count(*)::BIGINT AS n, sum(x1::HUGEINT) AS s1, sum(x2::HUGEINT) AS s2, sum(y::HUGEINT) AS sy, sum((x1 * x1)::HUGEINT) AS s11, sum((x1 * x2)::HUGEINT) AS s12, sum((x2 * x2)::HUGEINT) AS s22, sum((x1 * y)::HUGEINT) AS s1y, sum((x2 * y)::HUGEINT) AS s2y FROM feat GROUP BY 1),
dn AS (SELECT event_type, n,
(n::DOUBLE * (s11::DOUBLE * s22::DOUBLE - s12::DOUBLE * s12::DOUBLE) - s1::DOUBLE * (s1::DOUBLE * s22::DOUBLE - s12::DOUBLE * s2::DOUBLE) + s2::DOUBLE * (s1::DOUBLE * s12::DOUBLE - s11::DOUBLE * s2::DOUBLE)) AS det,
(sy::DOUBLE * (s11::DOUBLE * s22::DOUBLE - s12::DOUBLE * s12::DOUBLE) - s1::DOUBLE * (s1y::DOUBLE * s22::DOUBLE - s12::DOUBLE * s2y::DOUBLE) + s2::DOUBLE * (s1y::DOUBLE * s12::DOUBLE - s11::DOUBLE * s2y::DOUBLE)) AS num0,
(n::DOUBLE * (s1y::DOUBLE * s22::DOUBLE - s12::DOUBLE * s2y::DOUBLE) - sy::DOUBLE * (s1::DOUBLE * s22::DOUBLE - s12::DOUBLE * s2::DOUBLE) + s2::DOUBLE * (s1::DOUBLE * s2y::DOUBLE - s1y::DOUBLE * s2::DOUBLE)) AS num1,
(n::DOUBLE * (s11::DOUBLE * s2y::DOUBLE - s1y::DOUBLE * s12::DOUBLE) - s1::DOUBLE * (s1::DOUBLE * s2y::DOUBLE - s1y::DOUBLE * s2::DOUBLE) + sy::DOUBLE * (s1::DOUBLE * s12::DOUBLE - s11::DOUBLE * s2::DOUBLE)) AS num2
FROM m)
SELECT event_type, n AS n_days,
CASE WHEN det = 0.0 THEN NULL ELSE floor(num0 / det * 1000000.0)::BIGINT END AS b0_6,
CASE WHEN det = 0.0 THEN NULL ELSE floor(num1 / det * 1000000.0)::BIGINT END AS b1_6,
CASE WHEN det = 0.0 THEN NULL ELSE floor(num2 / det * 1000000.0)::BIGINT END AS b2_6
FROM dn ORDER BY event_type""",


    // q237: same md5 micro-uniform, same shifted score, same bin grid and
    // mass-weighted ECE
    "q237_calibration" ->
      """WITH sc AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
  ('0x' || substr(md5('cal:' || event_id::VARCHAR), 1, 15))::BIGINT % 10000 AS u FROM events),
s2 AS (SELECT y, u * 6 // 10 + y * 3000 + (1 - y) * 500 AS score4 FROM sc),
bins AS (SELECT score4 // 1000 AS bin, count(*)::BIGINT AS n, (sum(score4) // count(*))::BIGINT AS mean_score4, (sum(y) * 10000 // count(*))::BIGINT AS pos4 FROM s2 GROUP BY 1),
ece AS (SELECT (sum(n * abs(mean_score4 - pos4)) // sum(n))::BIGINT AS ece4 FROM bins)
SELECT bin, n, mean_score4, pos4, ece.ece4 FROM bins, ece ORDER BY bin""",


    // q238: same class/bucket grid, same exact integer EMD
    "q238_t_closeness" ->
      """WITH rws AS (SELECT lang, source, n_chars // 200 AS b FROM documents),
cls AS (SELECT lang, source, b, count(*)::BIGINT AS cnt FROM rws GROUP BY 1, 2, 3),
gl AS (SELECT b, gcnt, sum(gcnt) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS gcum FROM (SELECT b, sum(cnt)::BIGINT AS gcnt FROM cls GROUP BY 1)),
mm AS (SELECT count(*)::BIGINT AS m, sum(gcnt)::BIGINT AS big_n FROM gl),
grp AS (SELECT lang, source, sum(cnt)::BIGINT AS ng FROM cls GROUP BY 1, 2),
grid AS (SELECT grp.lang, grp.source, grp.ng, gl.b, gl.gcum, coalesce(cls.cnt, 0)::BIGINT AS cnt
  FROM gl CROSS JOIN grp LEFT JOIN cls ON cls.lang = grp.lang AND cls.source = grp.source AND cls.b = gl.b),
pc AS (SELECT lang, source, ng, b, gcum, sum(cnt) OVER (PARTITION BY lang, source ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS pcum FROM grid),
emd AS (SELECT lang, source, ng, sum(abs(pcum::HUGEINT * mm.big_n - gcum::HUGEINT * ng)) AS emd_i, mm.m AS m, mm.big_n AS big_n FROM pc, mm GROUP BY lang, source, ng, mm.m, mm.big_n)
SELECT lang, source, ng AS n_g, (emd_i * 10000 // (ng::HUGEINT * big_n * (m - 1)))::BIGINT AS t4,
CASE WHEN emd_i * 10000 // (ng::HUGEINT * big_n * (m - 1)) > 2000 THEN 'exposed' ELSE 'ok' END AS closeness
FROM emd ORDER BY lang, source""",


    // q240: same day-keyed forecast joins, same exact bps APE terms
    "q240_seasonal_backtest" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
j AS (SELECT d.event_type, abs(d.y - f7.y) * 10000 // d.y AS ape7, abs(d.y - f1.y) * 10000 // d.y AS ape1
  FROM daily d JOIN daily f7 ON f7.event_type = d.event_type AND f7.day = d.day - 7
  JOIN daily f1 ON f1.event_type = d.event_type AND f1.day = d.day - 1)
SELECT event_type, count(*)::BIGINT AS n_eval, (sum(ape7) // count(*))::BIGINT AS mape7_bps, (sum(ape1) // count(*))::BIGINT AS mape1_bps,
CASE WHEN sum(ape7) // count(*) < sum(ape1) // count(*) THEN 'seasonal' ELSE 'naive' END AS winner
FROM j GROUP BY event_type ORDER BY event_type""",


    // q241: same half split off the same broadcast scalar, same ppm
    // shares, same micro-nat ln quantization (both engines truncate
    // integral division toward zero — verified), same greatest(p6, 1)
    // epsilon clamp inside the term so a zero share can never reach ln
    "q241_drift_psi" ->
      """WITH dz AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
d0 AS (SELECT min(day) AS d0 FROM dz),
h AS (SELECT event_type, CASE WHEN day < d0.d0 + 15 THEN 'old' ELSE 'new' END AS half, count(*)::BIGINT AS n FROM dz, d0 GROUP BY 1, 2),
wide AS (SELECT event_type, coalesce(sum(CASE WHEN half = 'old' THEN n END), 0)::BIGINT AS n_old, coalesce(sum(CASE WHEN half = 'new' THEN n END), 0)::BIGINT AS n_new FROM h GROUP BY 1),
tot AS (SELECT sum(n_old)::BIGINT AS n_old_tot, sum(n_new)::BIGINT AS n_new_tot FROM wide),
sh AS (SELECT event_type, n_old, n_new, n_old * 1000000 // tot.n_old_tot AS p_old6, n_new * 1000000 // tot.n_new_tot AS p_new6 FROM wide, tot)
SELECT event_type, n_old, n_new, p_old6, p_new6,
((greatest(p_new6, 1) - greatest(p_old6, 1)) * floor(ln(greatest(p_new6, 1)::DOUBLE / greatest(p_old6, 1)::DOUBLE) * 1000000.0)::BIGINT // 1000000)::BIGINT AS term6
FROM sh ORDER BY event_type""",


    // q242: same integer weight recurrence literals, same
    // contribute-to-anchor grid, same exact-count gap guard
    "q242_ewma_control" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
w(k, w) AS (SELECT * FROM (VALUES (0, 250000), (1, 187500), (2, 140625), (3, 105468), (4, 79101), (5, 59325), (6, 44493), (7, 33369)) v(k, w)),
contrib AS (SELECT event_type, day + k AS aday, count(*)::BIGINT AS nterms, sum(w * y)::BIGINT AS ewma_u FROM daily, w GROUP BY 1, 2),
ok AS (SELECT * FROM contrib WHERE nterms = 8)
SELECT d.event_type, d.day, d.y, (ok.ewma_u // 899881)::BIGINT AS ewma, (abs(d.y * 899881 - ok.ewma_u) * 10000 // ok.ewma_u)::BIGINT AS dev_bps,
(CASE WHEN abs(d.y * 899881 - ok.ewma_u) * 10000 // ok.ewma_u > 2500 THEN 1 ELSE 0 END)::BIGINT AS alarm
FROM daily d JOIN ok ON ok.event_type = d.event_type AND ok.aday = d.day ORDER BY d.event_type, d.day""",


    // q245: same per-user duration split off the same horizon scalar,
    // same micro-nat KM log-sum with the identically-ordered re-exp
    "q245_kaplan_meier" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events),
hz AS (SELECT max(day) AS hday FROM ev),
peru AS (SELECT CASE WHEN tp IS NOT NULL THEN tp - t0 ELSE hz.hday - t0 END AS t,
  CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS obs
  FROM (SELECT user_id, min(day) AS t0, min(CASE WHEN event_type = 'purchase' THEN day END) AS tp FROM ev GROUP BY 1), hz),
hist AS (SELECT t, sum(obs)::BIGINT AS d, sum(1 - obs)::BIGINT AS c FROM peru GROUP BY 1),
grid AS (SELECT t, d, c, sum(d + c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT AS n_risk FROM hist),
tm AS (SELECT t, d, c, n_risk,
  CASE WHEN d > 0 AND d < n_risk THEN floor(ln((n_risk - d)::DOUBLE / n_risk::DOUBLE) * 1000000.0)::BIGINT ELSE 0 END AS term_u,
  CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead FROM grid),
cm AS (SELECT t, d, c, n_risk,
  sum(term_u) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_u,
  max(dead) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS any_dead FROM tm)
SELECT t AS t_days, n_risk, d AS n_events, c AS n_censored,
CASE WHEN any_dead = 1 THEN 0.0 ELSE floor(exp(cum_u::DOUBLE / 1000000.0) * 10000.0) / 10000.0 END AS s4
FROM cm ORDER BY t_days""",


    // q246: same cell/margin grid, same HUGEINT-squared per-cell floors,
    // same literal dof + critical value
    "q246_chi2_independence" ->
      """WITH cells AS (SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS weekday, count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
mt AS (SELECT event_type, sum(n)::BIGINT AS n_t FROM cells GROUP BY 1),
mw AS (SELECT weekday, sum(n)::BIGINT AS n_w FROM cells GROUP BY 1),
tot AS (SELECT sum(n)::BIGINT AS big_n FROM cells),
sc AS (SELECT c.event_type, c.weekday, c.n, (n_t * n_w * 1000 // big_n)::BIGINT AS exp_milli,
  ((c.n::HUGEINT * big_n - n_t::HUGEINT * n_w) * (c.n::HUGEINT * big_n - n_t::HUGEINT * n_w) * 10000 // (n_t::HUGEINT * n_w * big_n))::BIGINT AS cell4
  FROM cells c JOIN mt USING (event_type) JOIN mw USING (weekday), tot),
st AS (SELECT sum(cell4)::BIGINT AS chi2_4 FROM sc)
SELECT event_type, weekday, n, exp_milli, cell4, st.chi2_4, 24::BIGINT AS dof,
(CASE WHEN st.chi2_4 > 512792 THEN 1 ELSE 0 END)::BIGINT AS reject_indep
FROM sc, st ORDER BY event_type, weekday""",


    // q247: same daily grid, same HUGEINT variance algebra, same
    // single-day NULL guard and regime cuts
    "q247_fano_burstiness" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
m AS (SELECT event_type, count(*)::BIGINT AS n_days, sum(y)::BIGINT AS sy, sum((y * y)::HUGEINT) AS sq FROM daily GROUP BY 1),
f AS (SELECT event_type, n_days, (sy * 1000 // n_days)::BIGINT AS mean_milli,
  CASE WHEN n_days < 2 THEN NULL ELSE ((n_days::HUGEINT * sq - sy::HUGEINT * sy) * 10000 // (sy::HUGEINT * (n_days - 1)))::BIGINT END AS fano4
  FROM m)
SELECT event_type, n_days, mean_milli, fano4,
CASE WHEN fano4 IS NULL THEN 'undefined' WHEN fano4 > 15000 THEN 'overdispersed' WHEN fano4 < 6667 THEN 'underdispersed' ELSE 'poisson_like' END AS regime
FROM f ORDER BY event_type""",


    // q249: same ppm transition matrix, the SAME 16 literal power-
    // iteration steps unrolled as chained CTEs (identical uniform start,
    // identical per-term integer division), same L1 residual
    "q249_markov_stationary" -> {
      val steps = (1 to 16).map { k =>
        s"pi$k AS (SELECT p.nxt AS st, sum(x.pi6 * p.p6 // 1000000)::BIGINT AS pi6 FROM pi${k - 1} x JOIN p ON p.cur = x.st GROUP BY p.nxt)"
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tu, event_type AS cur FROM events),
sq AS (SELECT cur, lead(cur, 1) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS nxt FROM ev),
pairs AS (SELECT cur, nxt, count(*)::BIGINT AS c FROM sq WHERE nxt IS NOT NULL GROUP BY 1, 2),
rws AS (SELECT cur, sum(c)::BIGINT AS c_cur FROM pairs GROUP BY 1),
p AS (SELECT pairs.cur, pairs.nxt, (c * 1000000 // c_cur)::BIGINT AS p6 FROM pairs JOIN rws USING (cur)),
states AS (SELECT DISTINCT cur AS st FROM p),
nn AS (SELECT count(*)::BIGINT AS t FROM states),
pi0 AS (SELECT st, (1000000 // t)::BIGINT AS pi6 FROM states, nn),
$steps
SELECT f.st AS event_type, f.pi6, abs(f.pi6 - pr.pi6)::BIGINT AS resid6
FROM pi16 f JOIN pi15 pr ON pr.st = f.st ORDER BY event_type"""
    },


    // q258: same day-pair sign sum, same integer var18, same
    // continuity-corrected bps quantization (sqrt exactly rounded both
    // engines); n_days cast to BIGINT before the cubic so DuckDB's
    // HUGEINT sum never leaks into the arithmetic
    "q258_mann_kendall" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
sagg AS (SELECT a.event_type, sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT AS s
  FROM daily a JOIN daily b ON b.event_type = a.event_type AND a.day < b.day GROUP BY 1),
ties AS (SELECT event_type, y, count(*)::BIGINT AS t FROM daily GROUP BY 1, 2),
v AS (SELECT event_type, sum(t)::BIGINT AS n_days, sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_corr FROM ties GROUP BY 1),
v2 AS (SELECT event_type, n_days, (n_days * (n_days - 1) * (2 * n_days + 5) - tie_corr)::BIGINT AS var18 FROM v),
z AS (SELECT s.event_type, v2.n_days, s.s, v2.var18,
  CASE WHEN v2.var18 > 0 THEN floor(((s.s - CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1 ELSE 0 END) * 10000)::DOUBLE / sqrt(v2.var18::DOUBLE / 18.0))::BIGINT ELSE 0 END AS z_bps
  FROM sagg s JOIN v2 ON v2.event_type = s.event_type)
SELECT event_type, n_days, s, var18, z_bps,
CASE WHEN z_bps > 19600 THEN 'up' WHEN z_bps < -19600 THEN 'down' ELSE 'none' END AS trend
FROM z ORDER BY event_type""",

    // q263: same per-type counts off the same cohort hash, same literal
    // Φ polynomial constants with explicit t·t·t powers, p quantized at
    // 1e-6 immediately (exp is the one non-exactly-rounded op), BH
    // step-up in exact integers (p6·m ≤ rank·50000 at α = 0.05)
    "q263_bh_fdr" ->
      """WITH e AS (SELECT event_type, ('0x' || substr(md5('ab:' || user_id::VARCHAR), 1, 15))::BIGINT % 2 AS cohort FROM events),
pt AS (SELECT event_type, sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)::BIGINT AS k0, sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)::BIGINT AS k1 FROM e GROUP BY 1),
tot AS (SELECT sum(k0)::BIGINT AS n0, sum(k1)::BIGINT AS n1 FROM pt),
zt AS (SELECT event_type, k0, k1,
  (k0::DOUBLE / n0::DOUBLE - k1::DOUBLE / n1::DOUBLE)
  / sqrt(((k0 + k1)::DOUBLE / (n0 + n1)::DOUBLE) * (1.0 - (k0 + k1)::DOUBLE / (n0 + n1)::DOUBLE) * (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE)) AS z
  FROM pt, tot),
pq AS (SELECT event_type, k0, k1, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM zt),
p6t AS (SELECT event_type, k0, k1, z,
  floor(2.0 * (exp(-abs(z) * abs(z) / 2.0) * 0.3989422804014327 * (0.319381530 * t - 0.356563782 * t * t + 1.781477937 * t * t * t - 1.821255978 * t * t * t * t + 1.330274429 * t * t * t * t * t)) * 1000000.0)::BIGINT AS p6
  FROM pq),
mm AS (SELECT count(*)::BIGINT AS m FROM p6t),
rk AS (SELECT event_type, k0, k1, z, p6, row_number() OVER (ORDER BY p6, event_type)::BIGINT AS bh_rank FROM p6t),
mr AS (SELECT coalesce(max(bh_rank), 0)::BIGINT AS max_rej FROM rk, mm WHERE p6 * mm.m <= bh_rank * 50000)
SELECT event_type, k0, k1, floor(z * 1000000.0)::BIGINT AS z6, p6, bh_rank, (CASE WHEN bh_rank <= mr.max_rej THEN 1 ELSE 0 END)::INT AS rejected
FROM rk, mr ORDER BY bh_rank""",

    // q264: same day-keyed lag-7 join, same integer ceiling rank
    // (9·(n+1)+9) // 10, same bps coverage — a type with too few
    // calibration days (rank > n_cal) drops on both sides
    "q264_conformal_forecast" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
d0 AS (SELECT min(day) AS d0 FROM daily),
j AS (SELECT d.event_type, d.day, abs(d.y - f7.y)::BIGINT AS resid, (CASE WHEN d.day < d0.d0 + 21 THEN 1 ELSE 0 END) AS is_cal
  FROM daily d JOIN daily f7 ON f7.event_type = d.event_type AND f7.day = d.day - 7, d0),
cal AS (SELECT event_type, day, resid, row_number() OVER (PARTITION BY event_type ORDER BY resid, day)::BIGINT AS rk FROM j WHERE is_cal = 1),
nc AS (SELECT event_type, count(*)::BIGINT AS n_cal FROM cal GROUP BY 1),
rad AS (SELECT cal.event_type, nc.n_cal, cal.resid AS radius FROM cal JOIN nc ON nc.event_type = cal.event_type WHERE cal.rk = (9 * (nc.n_cal + 1) + 9) // 10),
ev AS (SELECT j.event_type, rad.n_cal, rad.radius, count(*)::BIGINT AS n_eval, sum(CASE WHEN j.resid <= rad.radius THEN 1 ELSE 0 END)::BIGINT AS covered
  FROM j JOIN rad ON rad.event_type = j.event_type WHERE j.is_cal = 0 GROUP BY 1, 2, 3)
SELECT event_type, n_cal, n_eval, radius, covered, (covered * 10000 // n_eval)::BIGINT AS coverage_bps
FROM ev ORDER BY event_type""",
  )
}
