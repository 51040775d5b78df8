package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.SparkEntry._
import graft.operators.Tuning

/** Event analytics: funnels, sessions, cohorts, attribution, concurrency sweep-lines, transitions.
  *
  * Extracted verbatim from the SparkEntry registry; [[graft.SparkEntry]]
  * concatenates every family into the single driver-contract maps.
  */
private[graft] object EventQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // W5/P5 newest-first user history (`main.py:73`).
    "q19_user_history" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .filter($"user_id" === 7)
        .orderBy($"ts".desc, $"event_id".desc)
        .select($"event_id", $"event_type", round($"value", 2).as("value"))
        .limit(20)
    }),


    // Tumbling 1-hour event-time buckets (batch form of the streaming
    // window; ts is epoch-nanos — see Tables.load).
    "q48_hourly" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("hour_bucket", floor($"ts" / 3600000000000L).cast("long"))
        .groupBy($"hour_bucket")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
        .orderBy($"hour_bucket")
    }),


    // Gap-based sessionization over the events stream table (6 h inactivity
    // gap; ts is epoch-nanos — Tables.load). The lag and the running sum
    // share one Window partitioning, and the per-session rollup groups on
    // (user, session_seq) whose clustering the user-hash Exchange already
    // satisfies — ONE shuffle end to end, plan-pinned. The streaming twin
    // (StatefulOps.streamingSessionize) closes the same sessions on the
    // watermark; their session numbering provably agrees.
    "q65_sessionize" -> ((s, dir) => {
      import s.implicits._
      // µs domain on BOTH sides: the parquet carries TIMESTAMP(NANOS) but
      // DuckDB truncates to µs on read, so gap decisions and outputs must
      // be µs to agree. Integer `div` — a double division of epoch-nano
      // longs (~1.7e18 > 2^53) silently loses the low bits.
      graft.operators.Sessionize.sessionSummary(
          t(s, dir, "events")
            .select($"event_id", $"user_id", expr("ts div 1000").as("ts_us"), $"value"),
          "user_id", "ts_us", "event_id", "value", gap = 21600000000L)
        .select($"user_id", $"session_seq", $"n_events",
          $"start_ts".as("start_us"), $"dur".as("dur_us"), $"total_value")
        .orderBy($"user_id", $"session_seq")
    }),


    // Sliding context windows (stride < win keeps cross-boundary context —
    // the RoBERTa long-doc convention): pure scan-side expression, the
    // explode only at the consumer. Window fingerprints are the dedup key
    // for cross-document window dedup downstream.
    "q116_sliding_windows" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", posexplode(graft.operators.TextAnalysis.slidingWindowsCol(
          graft.operators.TextAnalysis.tokensCol($"text"), win = 24, stride = 16)))
        .select($"doc_id", $"pos".cast("long").as("win_id"),
          $"col.start".cast("long").as("start"),
          $"col.n_tok".cast("long").as("n_tok"), $"col.fp".as("fp"))
        .orderBy($"doc_id", $"win_id")
    }),


    // Sequential funnel (signup → view → purchase) with STRICT ordering —
    // each stage's event must follow the previous stage's chosen event
    // (Funnel scaladoc: k−1 equi-joins on one entity partitioning, each
    // stage's filter pushed to the scan, no event-stream window). µs
    // domain for cross-engine ts math (see q49/q65).
    "q117_funnel" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"user_id", $"event_type", expr("ts div 1000").as("ts_us"))
      graft.operators.Funnel
        .firstCompletion(ev, "user_id", "event_type", "ts_us",
          Seq("signup", "view", "purchase"))
        .select($"user_id", $"ts_1", $"ts_2", $"ts_3",
          when($"ts_3".isNotNull, 3L).when($"ts_2".isNotNull, 2L).otherwise(1L).as("stage"))
        .orderBy($"user_id")
    }),


    // Cohort retention matrix — the product-analytics complement of the
    // funnel: users grouped by first-activity day (cohort), each later
    // active day bucketed into days-since-cohort; cell = distinct active
    // users. Two aggregates + one broadcast-able join on the per-user
    // cohort relation — no window over the event stream.
    "q126_cohort_retention" -> ((s, dir) => {
      import s.implicits._
      val dayUs = 86400000000L
      val ev = t(s, dir, "events")
        .select($"user_id", expr(s"(ts div 1000) div $dayUs").as("day_idx"))
      val cohorts = ev.groupBy($"user_id").agg(min($"day_idx").as("cohort_day"))
      ev.join(cohorts, Seq("user_id"))
        .select($"user_id", $"cohort_day", ($"day_idx" - $"cohort_day").as("age_days"))
        .distinct()
        .groupBy($"cohort_day", $"age_days")
        .agg(count(lit(1)).as("n_active"))
        .filter($"age_days" <= 7)
        .orderBy($"cohort_day", $"age_days")
    }),


    // First-order Markov transition matrix over each user's event stream —
    // the behavioral fingerprint (what follows what) behind bot detection
    // (deterministic loops) and load simulation. Ordering is within-user
    // only (lead over the user window — strata parallelize; no global
    // sort); probabilities are integer arithmetic on pair/row counts; the
    // per-state totals table is state-count-sized and broadcast. Timestamps
    // compare in the µs domain (NANOS parquet, DuckDB truncates on read)
    // with event_id breaking equal-ts ties on both engines.
    "q155_event_transitions" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"tu", $"event_id")
      val pairs = t(s, dir, "events")
        .select($"user_id", $"event_id", expr("ts div 1000").as("tu"),
          $"event_type".as("cur"))
        .withColumn("nxt", lead($"cur", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"cur", $"nxt").agg(count(lit(1)).as("n_pair"))
      val tot = pairs.groupBy($"cur").agg(sum($"n_pair").as("n_cur"))
      pairs.join(broadcast(tot), Seq("cur"))
        .select($"cur", $"nxt", $"n_pair", $"n_cur",
          (expr("(n_pair * 10000) div n_cur") / lit(10000.0)).as("p4"))
        .orderBy($"cur", $"nxt")
    }),


    // Funnel latency percentiles — median/p90/p99 time from a user's first
    // 'view' to their first subsequent 'purchase', in EXACT order
    // statistics: the per-user delta table reduces from one scan (two
    // conditional min aggregates), and the percentiles come from
    // [[graft.operators.ExactQuantiles]] — two histogram-sized shuffles
    // with 1-hour coarse buckets, no global sort of the latency column.
    // The number an SLA quotes ("p99 conversion lag") certified exactly.
    "q163_conversion_lag" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"user_id", expr("ts div 1000").as("ts_us"), $"event_type")
      val firstView = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts_us").as("t_view"))
      // per-user relation joins on user_id — shuffle-hash at scale, NOT
      // broadcast: the user dimension grows with the corpus
      val deltas = ev.filter($"event_type" === "purchase")
        .join(firstView, Seq("user_id"))
        .filter($"ts_us" >= $"t_view")
        .groupBy($"user_id").agg(min($"ts_us" - $"t_view").as("lag_us"))
      graft.operators.ExactQuantiles.quantiles(
        deltas, "lag_us", probs4 = Seq(5000L, 9000L, 9900L),
        coarseWidth = 3600000000L)
    }),


    // Last-touch attribution — each purchase credited to the user's most
    // recent preceding non-purchase event within a 7-day window, 'direct'
    // otherwise: the q49 as-of machinery pointed at marketing analytics.
    // Touches reduce to one deterministic row per (user, instant) first
    // (max_by event_id — robust even if the generator ever emits
    // same-instant events), then ONE user-keyed sort-merge as-of carries
    // struct(ts, type) so the window cut and the channel read the same
    // matched row. Revenue is exact micro-units; the rollup is
    // channel-sized.
    "q177_attribution" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts",
          expr("cast(floor(value * 1000000) as bigint)").as("vu"))
      val touches = ev.filter($"event_type" =!= "purchase")
        .groupBy($"user_id", $"ts")
        .agg(max_by($"event_type", $"event_id").as("et"))
        .select($"user_id", $"ts", struct($"ts".as("t"), $"et").as("touch"))
      val joined = graft.operators.AsOfJoin.lastPriorValue(
        purchases, touches, "user_id", "ts", "touch")
      joined
        .select(
          when($"asof_touch".isNull ||
            ($"ts" - $"asof_touch.t") > lit(604800000000000L), "direct")
            .otherwise($"asof_touch.et").as("channel"),
          $"vu")
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_purchases"), sum($"vu").as("sum_value_u"))
        .orderBy($"channel")
    }),


    // Rolling 7-day active users from the daily register table — the
    // production face of q172's rollup: the raw event stream is scanned
    // ONCE into per-day HLL registers; every rolling window is then an
    // element-wise max over ≤ 7 register rows per target day (7 × days ×
    // 64 ints — trivially small), and the estimate is bit-identical to
    // scanning the window's raw events. At 100 TB the daily register
    // table is what persists; "MAU as of any day" never rescans history.
    // The exact sidecar (a (user, day)-distinct fan-out) rides along as
    // calibration; a deployment drops it.
    "q179_rolling_mau" -> ((s, dir) => {
      import s.implicits._
      val p = 6
      val hll = udaf(new graft.operators.HllAgg(p),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Int)]())
      val ev = t(s, dir, "events")
        .select(expr("ts div 86400000000000").as("day"),
          graft.functions.HashFunctions.stableHash64(
            concat(lit("mau:"), $"user_id".cast("string"))).as("h"))
      val daily = Tuning.cut(ev
        .withColumn("bkt", graft.operators.HllSketch.bucketCol($"h", p))
        .withColumn("rnk", graft.operators.HllSketch.rankExpr("h", p))
        .groupBy($"day").agg(hll($"bkt", $"rnk").as("regs"))) // the persisted register table
      val fan = daily
        .withColumn("target_day", explode(sequence($"day", $"day" + 6)))
        .join(daily.select($"day".as("target_day")), Seq("target_day"), "left_semi")
      val rolled = graft.operators.HllSketch.rollupRegisters(
        fan.select($"target_day", $"regs"), Seq("target_day"), "regs")
      val exact = t(s, dir, "events")
        .select(expr("ts div 86400000000000").as("day"), $"user_id").distinct()
        .withColumn("target_day", explode(sequence($"day", $"day" + 6)))
        .join(daily.select($"day".as("target_day")), Seq("target_day"), "left_semi")
        .groupBy($"target_day")
        .agg(count_distinct($"user_id").as("mau_exact"))
      rolled.join(exact, Seq("target_day"))
        .select($"target_day".as("day"), $"mau_exact",
          fq4(graft.operators.HllSketch.estimateExpr("regs", p)).as("mau_est4"))
        .orderBy($"day")
    }),


    // U-shaped multi-touch attribution — q177's single-touch model
    // upgraded to the position-based industry standard: EVERY touch in
    // the 7-day window before a purchase shares the credit (40% first /
    // 40% last / 20% split across the middle; 100% single, 50/50 pair),
    // in exact integer micro-units with the rounding remainder assigned
    // to the last touch so credits sum to the purchase value EXACTLY.
    // The purchase×touch pairing is the keyed bucketed interval join
    // (q124's operator, auto bucket size) — never a per-user cross
    // product; purchases with an empty window fall out as 'direct' via
    // anti-join. The invariant a finance reconciliation checks —
    // Σ credit == Σ purchase value — holds by construction.
    "q186_multitouch" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val purchases = Tuning.cut(ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("p_id"),
          expr("cast(floor(value * 1000000) as bigint)").as("value_u"),
          ($"ts" - lit(604800000000000L)).as("lo"), $"ts".as("hi"))) // interval side + the direct anti-join
      val touches = ev.filter($"event_type" =!= "purchase")
        .select($"user_id", $"ts".as("t_ts"), $"event_id".as("t_id"),
          $"event_type".as("channel"))
      val joined = graft.operators.IntervalJoin.joinPointsToIntervals(
        touches, "t_ts", purchases, "lo", "hi", 0L, Seq("user_id"))
      val wp = Window.partitionBy($"p_id").orderBy($"t_ts", $"t_id")
      val base = joined
        .withColumn("rn", row_number().over(wp))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"p_id")))
        .withColumn("bp",
          when($"n" === 1, lit(10000L)).when($"n" === 2, lit(5000L))
            .when($"rn" === 1 || $"rn" === $"n", lit(4000L))
            .otherwise(expr("2000 div (n - 2)")))
        .withColumn("credit0", expr("(value_u * bp) div 10000"))
      val credited = Tuning.cut(base
        .withColumn("tot0", sum($"credit0").over(Window.partitionBy($"p_id")))
        .withColumn("credit_u", $"credit0" +
          when($"rn" === $"n", $"value_u" - $"tot0").otherwise(lit(0L)))) // channel rollup + the direct anti-join
      val attributed = credited.groupBy($"channel")
        .agg(count(lit(1)).as("n_touchpoints"), sum($"credit_u").as("credit_u"))
      val direct = purchases
        .join(credited.select($"p_id").distinct(), Seq("p_id"), "left_anti")
        .agg(count(lit(1)).as("n_touchpoints"),
          coalesce(sum($"value_u"), lit(0L)).as("credit_u"))
        .select(lit("direct").as("channel"), $"n_touchpoints", $"credit_u")
      attributed.unionByName(direct).orderBy($"channel")
    }),


    // Peak session concurrency per day — the capacity-planning number
    // (max simultaneous open sessions) via a DISTRIBUTED sweep-line:
    // q65's sessions become ±1 endpoint deltas, per-day windows compute
    // local prefix peaks in parallel, and a calendar-sized carry-in
    // (one row per day — bounded by time, not data) stitches them into
    // the exact global sweep. No total order anywhere; see
    // [[graft.operators.SweepLine]].
    "q192_peak_concurrency" -> ((s, dir) =>
      peakConcurrency(t(s, dir, "events"))),


    // RFM segmentation (Hughes 1994 — the marketing-analytics primitive):
    // recency/frequency/monetary per user, banded by FIXED thresholds
    // (scan-side CASE — no ntile window over the user universe, the shape
    // that survives a billion users), rolled up to segment counts.
    // Recency is exact integer hours against the corpus max timestamp
    // (one broadcast scalar); monetary is exact micro-units.
    "q206_rfm" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val mx = broadcast(ev.agg(max($"ts").as("mx")))
      ev.groupBy($"user_id")
        .agg(max($"ts").as("last_ts"), count(lit(1)).as("freq"),
          sum(expr("cast(floor(value * 1000000) as bigint)")).as("mon_u"))
        .crossJoin(mx)
        .select(
          when(expr("(mx - last_ts) div 3600000000000") < 6, 3L)
            .when(expr("(mx - last_ts) div 3600000000000") < 24, 2L)
            .otherwise(1L).as("r"),
          when($"freq" >= 70, 3L).when($"freq" >= 55, 2L).otherwise(1L).as("f"),
          when($"mon_u" >= 4000000000L, 3L)
            .when($"mon_u" >= 2500000000L, 2L).otherwise(1L).as("m"),
          $"freq", $"mon_u")
        .groupBy($"r", $"f", $"m")
        .agg(count(lit(1)).as("n_users"), sum($"freq").as("n_events"),
          sum($"mon_u").as("sum_mon_u"))
        .orderBy($"r", $"f", $"m")
    }),


    // Session path census — the sequence-mining extension of q155's
    // bigram transitions to 3-step PATHS: per user, consecutive event-
    // type trigrams in (tu, event_id) order (one keyed window, two
    // leads), rolled into the global path frequency table with each
    // path's share in exact bps. The path vocabulary is at most T³ = 125
    // rows, so everything after the one keyed-window scan is constant-
    // sized; at 100 TB the window shuffles by user exactly like q155 and
    // the census stays tiny.
    "q248_session_paths" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"tu", $"event_id")
      val tri = Tuning.cut(t(s, dir, "events")
        .select($"user_id", $"event_id", expr("ts div 1000").as("tu"),
          $"event_type".as("e1"))
        .withColumn("e2", lead($"e1", 1).over(w))
        .withColumn("e3", lead($"e1", 2).over(w))
        .filter($"e3".isNotNull)
        .groupBy($"e1", $"e2", $"e3").agg(count(lit(1)).as("n_paths"))) // census + total share both read it
      val tot = broadcast(tri.agg(sum($"n_paths").as("n_tot")))
      tri.crossJoin(tot)
        .select(concat_ws(">", $"e1", $"e2", $"e3").as("path"), $"n_paths",
          expr("n_paths * 10000 div n_tot").as("share_bps"))
        .orderBy($"path")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q19_user_history" ->
      """SELECT event_id, event_type, round(value,2) AS value FROM events WHERE user_id = 7 ORDER BY ts DESC, event_id DESC LIMIT 20""",

    "q48_hourly" ->
      """SELECT floor(epoch_ns(ts) / 3600000000000)::BIGINT AS hour_bucket, count(*) AS n, round(sum(value), 2) AS total_value FROM events GROUP BY 1 ORDER BY hour_bucket""",

    "q65_sessionize" ->
      """SELECT user_id, session_seq, count(*) AS n_events, min(tus) AS start_us, (max(tus) - min(tus))::BIGINT AS dur_us, round(sum(value), 2) AS total_value
FROM (SELECT user_id, event_id, value, tus,
        sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
      FROM (SELECT event_id, user_id, value, epoch_us(ts) AS tus,
              CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 21600000000
                   THEN 1 ELSE 0 END AS is_new
            FROM events))
GROUP BY user_id, session_seq ORDER BY user_id, session_seq""",

    "q116_sliding_windows" ->
      raw"""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS toks FROM documents),
st AS (SELECT doc_id, toks, CASE WHEN len(toks) < 24 THEN [1] ELSE range(1, len(toks) - 22, 16) END AS starts FROM tk),
w AS (SELECT doc_id, toks, unnest(starts) AS start FROM st)
SELECT doc_id, ((start - 1) // 16)::BIGINT AS win_id, start::BIGINT AS start,
       least(24, len(toks) - start + 1)::BIGINT AS n_tok,
       ('0x' || substr(md5(array_to_string(toks[start : start + 23], ' ')), 1, 15))::BIGINT AS fp
FROM w ORDER BY doc_id, win_id""",

    "q117_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
s1 AS (SELECT user_id, min(ts_us) AS ts_1 FROM ev WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT s1.user_id, ts_1, min(CASE WHEN e.ts_us > ts_1 THEN e.ts_us END) AS ts_2 FROM s1 LEFT JOIN ev e ON e.user_id = s1.user_id AND e.event_type = 'view' GROUP BY s1.user_id, ts_1),
s3 AS (SELECT s2.user_id, ts_1, ts_2, min(CASE WHEN e.ts_us > ts_2 THEN e.ts_us END) AS ts_3 FROM s2 LEFT JOIN ev e ON e.user_id = s2.user_id AND e.event_type = 'purchase' GROUP BY s2.user_id, ts_1, ts_2)
SELECT user_id, ts_1, ts_2, ts_3, (CASE WHEN ts_3 IS NOT NULL THEN 3 WHEN ts_2 IS NOT NULL THEN 2 ELSE 1 END)::BIGINT AS stage FROM s3 ORDER BY user_id""",

    "q126_cohort_retention" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx FROM events),
coh AS (SELECT user_id, min(day_idx) AS cohort_day FROM ev GROUP BY user_id),
act AS (SELECT DISTINCT ev.user_id, cohort_day, day_idx - cohort_day AS age_days FROM ev JOIN coh USING (user_id))
SELECT cohort_day, age_days, count(*)::BIGINT AS n_active
FROM act WHERE age_days <= 7 GROUP BY cohort_day, age_days ORDER BY cohort_day, age_days""",

    // q155: lead over the same (µs ts, event_id) order
    "q155_event_transitions" ->
      """WITH p AS (SELECT event_type AS cur, lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt FROM events),
c AS (SELECT cur, nxt, count(*)::BIGINT AS n_pair FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2),
t AS (SELECT cur, sum(n_pair)::BIGINT AS n_cur FROM c GROUP BY 1)
SELECT c.cur, c.nxt, n_pair, n_cur, ((n_pair * 10000) // n_cur)::DOUBLE / 10000.0 AS p4
FROM c JOIN t USING (cur) ORDER BY cur, nxt""",

    // q163: per-user first-view→first-purchase lags, then q159's
    // nearest-rank oracle shape over the lag column
    "q163_conversion_lag" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
fv AS (SELECT user_id, min(ts_us) AS t_view FROM ev WHERE event_type = 'view' GROUP BY user_id),
d AS (SELECT e.user_id, min(e.ts_us - f.t_view)::BIGINT AS lag_us FROM ev e JOIN fv f USING (user_id) WHERE e.event_type = 'purchase' AND e.ts_us >= f.t_view GROUP BY e.user_id),
r AS (SELECT lag_us AS v, row_number() OVER (ORDER BY lag_us) AS rn, count(*) OVER () AS n FROM d),
p AS (SELECT unnest([5000,9000,9900]) AS p4),
t AS (SELECT p4, (p4 * n + 9999) // 10000 AS rank FROM p, (SELECT max(n) AS n FROM r) nn)
SELECT p4::DOUBLE / 10000.0 AS prob4, t.rank::BIGINT AS rank, r.v::BIGINT AS value
FROM t JOIN r ON r.rn = t.rank ORDER BY prob4""",

    // q177: DuckDB native ASOF after the same per-(user, instant) touch
    // reduction; the 7-day cut as an INTERVAL on timestamps ≡ the
    // engine's nano arithmetic
    "q177_attribution" ->
      """WITH p AS (SELECT user_id, ts, cast(floor(value * 1000000) AS BIGINT) AS vu FROM events WHERE event_type = 'purchase'),
tch AS (SELECT user_id, ts, max_by(event_type, event_id) AS et FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2),
j AS (SELECT p.ts AS pts, p.vu, c.ts AS t, c.et FROM p ASOF LEFT JOIN tch c ON p.user_id = c.user_id AND p.ts >= c.ts)
SELECT CASE WHEN t IS NULL OR pts - t > INTERVAL 7 DAY THEN 'direct' ELSE et END AS channel,
  count(*)::BIGINT AS n_purchases, sum(vu)::BIGINT AS sum_value_u
FROM j GROUP BY 1 ORDER BY channel""",

    // q179: per-day registers on the 64-bucket grid, window merge as a
    // BETWEEN join + max, q128's estimator; exact sidecar from the
    // (user, day)-distinct fan-out
    "q179_rolling_mau" ->
      """WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, ('0x' || substr(md5('mau:' || user_id::VARCHAR), 1, 15))::BIGINT AS h, user_id FROM events),
days AS (SELECT DISTINCT day FROM ev),
hashes AS (SELECT DISTINCT day, h FROM ev),
br AS (SELECT day, h % 64 AS bkt, least(bit_count(((h >> 6) & -(h >> 6)) - 1), 47) + 1 AS rnk FROM hashes),
grid AS (SELECT day, i AS bkt FROM days CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
regs AS MATERIALIZED (SELECT g.day, g.bkt, coalesce(max(rnk), 0) AS m FROM grid g LEFT JOIN br ON g.day = br.day AND g.bkt = br.bkt GROUP BY 1, 2),
rolled AS (SELECT d2.day AS target_day, r.bkt, max(r.m) AS m FROM regs r JOIN days d2 ON d2.day BETWEEN r.day AND r.day + 6 GROUP BY 1, 2),
s0 AS (SELECT target_day, sum(1::BIGINT << (48 - m))::BIGINT AS s, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS zeros FROM rolled GROUP BY 1),
ex AS (SELECT d2.day AS target_day, count(DISTINCT u.user_id)::BIGINT AS mau_exact FROM (SELECT DISTINCT day, user_id FROM ev) u JOIN days d2 ON d2.day BETWEEN u.day AND u.day + 6 GROUP BY 1)
SELECT s0.target_day AS day, ex.mau_exact,
  floor((CASE WHEN (0.709::DOUBLE * 4096.0 * 281474976710656.0 / s::DOUBLE) <= 160.0::DOUBLE AND zeros > 0 THEN 64.0::DOUBLE * ln(64.0::DOUBLE / zeros::DOUBLE) ELSE (0.709::DOUBLE * 4096.0 * 281474976710656.0 / s::DOUBLE) END) * 10000.0)::BIGINT::DOUBLE / 10000.0 AS mau_est4
FROM s0 JOIN ex ON s0.target_day = ex.target_day ORDER BY day""",

    // q186: plain BETWEEN join (the bucket cut is cost, not semantics),
    // identical integer credit ladder + last-touch remainder
    "q186_multitouch" ->
      """WITH p AS (SELECT user_id, event_id AS p_id, cast(floor(value * 1000000) AS BIGINT) AS value_u, ts FROM events WHERE event_type = 'purchase'),
tch AS (SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS channel FROM events WHERE event_type <> 'purchase'),
j AS (SELECT p.p_id, p.value_u, t.channel, t.t_ts, t.t_id FROM p JOIN tch t ON t.user_id = p.user_id AND t.t_ts >= p.ts - INTERVAL 7 DAY AND t.t_ts < p.ts),
r AS (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn, count(*) OVER (PARTITION BY p_id) AS n FROM j),
b AS (SELECT *, CASE WHEN n = 1 THEN 10000 WHEN n = 2 THEN 5000 WHEN rn = 1 OR rn = n THEN 4000 ELSE 2000 // (n - 2) END AS bp FROM r),
c0 AS (SELECT *, (value_u * bp) // 10000 AS credit0 FROM b),
c AS (SELECT *, credit0 + CASE WHEN rn = n THEN value_u - sum(credit0) OVER (PARTITION BY p_id) ELSE 0 END AS credit_u FROM c0),
att AS (SELECT channel, count(*)::BIGINT AS n_touchpoints, sum(credit_u)::BIGINT AS credit_u FROM c GROUP BY 1),
direct AS (SELECT 'direct' AS channel, count(*)::BIGINT AS n_touchpoints, coalesce(sum(value_u), 0)::BIGINT AS credit_u FROM p WHERE p_id NOT IN (SELECT DISTINCT p_id FROM j))
SELECT channel, n_touchpoints, credit_u FROM (SELECT * FROM att UNION ALL SELECT * FROM direct) ORDER BY channel""",

    // q192: the GLOBAL sweep-line the engine decomposes — prefix sums are
    // associative, so carry-in + local prefix ≡ this one total-order
    // window; peer-inclusive RANGE frames on both engines make ties
    // order-independent
    "q192_peak_concurrency" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
l AS (SELECT user_id, tus, event_id,
  CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
        OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 21600000000 THEN 1 ELSE 0 END AS brk FROM ev),
s AS (SELECT user_id, tus, sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid FROM l),
sess AS (SELECT user_id, sid, min(tus) AS st, max(tus) AS en FROM s GROUP BY 1, 2),
pts AS (SELECT st AS tus, 1 AS d FROM sess UNION ALL SELECT en AS tus, -1 AS d FROM sess),
run AS (SELECT tus // 86400000000 AS bucket, d, sum(d) OVER (ORDER BY tus, d) AS pfx FROM pts)
SELECT bucket, sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)::BIGINT AS n_starts,
  sum(CASE WHEN d = -1 THEN 1 ELSE 0 END)::BIGINT AS n_ends,
  max(pfx)::BIGINT AS peak
FROM run GROUP BY 1 ORDER BY bucket""",

    // q206: exact integer recency hours vs the corpus max, fixed-threshold
    // bands, micro-unit monetary
    "q206_rfm" ->
      """WITH mx AS (SELECT epoch_us(max(ts)) AS mxus FROM events),
u AS (SELECT user_id, epoch_us(max(ts)) AS lastus, count(*)::BIGINT AS freq,
  sum(cast(floor(value * 1000000) AS BIGINT))::BIGINT AS mon_u FROM events GROUP BY 1),
b AS (SELECT CASE WHEN (mxus - lastus) // 3600000000 < 6 THEN 3 WHEN (mxus - lastus) // 3600000000 < 24 THEN 2 ELSE 1 END::BIGINT AS r,
  CASE WHEN freq >= 70 THEN 3 WHEN freq >= 55 THEN 2 ELSE 1 END::BIGINT AS f,
  CASE WHEN mon_u >= 4000000000 THEN 3 WHEN mon_u >= 2500000000 THEN 2 ELSE 1 END::BIGINT AS m,
  freq, mon_u FROM u, mx)
SELECT r, f, m, count(*)::BIGINT AS n_users, sum(freq)::BIGINT AS n_events, sum(mon_u)::BIGINT AS sum_mon_u
FROM b GROUP BY 1, 2, 3 ORDER BY r, f, m""",


    // q248: same keyed-window trigrams, same bps shares
    "q248_session_paths" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tu, event_type AS e1 FROM events),
tri AS (SELECT e1, lead(e1, 1) OVER w AS e2, lead(e1, 2) OVER w AS e3 FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
cen AS (SELECT e1, e2, e3, count(*)::BIGINT AS n_paths FROM tri WHERE e3 IS NOT NULL GROUP BY 1, 2, 3),
tot AS (SELECT sum(n_paths)::BIGINT AS n_tot FROM cen)
SELECT e1 || '>' || e2 || '>' || e3 AS path, n_paths, (n_paths * 10000 // n_tot)::BIGINT AS share_bps
FROM cen, tot ORDER BY path""",
  )
}
