package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY.md §4.3 / the 100 TB bullet list): when a join
  * key is hot, one reducer drowns. Salting splits each hot key into
  * `saltFactor` sub-keys: the big side salts DETERMINISTICALLY from a
  * unique column (no rand() — replays and retries stay stable); the small
  * side replicates each row `saltFactor` times. Result is row-identical to
  * the unsalted join. AQE's skew-join handles moderate skew at runtime;
  * explicit salting is for the pathological keys you know about.
  */
object Salting {

  /** Equi-join `big ⋈ small` on `key`, salted. `saltSource` must be a
    * unique-ish column of `big` (ids, offsets).
    */
  def saltedJoin(
      big: DataFrame, small: DataFrame, key: String,
      saltSource: Column, saltFactor: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt", pmod(saltSource, lit(saltFactor)).cast("int"))
    val saltedSmall = small
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** The q129 diagnostic as a reusable probe: xxhash64 fingerprints of the
    * ≤ `topK` heaviest keys of `df` (any key type) whose row count exceeds
    * `hotKeyThreshold`, heaviest first. Per-key counts partial-aggregate
    * map-side (the shuffle carries one row per distinct key, never the
    * corpus) and [[TopKAgg]] bounds the final collect to k pairs — a k-row
    * driver scalar, same as q129. Hashing keeps the probe type-agnostic;
    * a 2^-64 collision can only route a cold key through the salted branch
    * of [[autoSaltedJoin]], never change a result (both branches are
    * correct joins).
    */
  def hotKeyHashes(
      df: DataFrame, key: String, hotKeyThreshold: Long,
      topK: Int = 32): Seq[Long] = {
    val topk = org.apache.spark.sql.functions.udaf(new TopKAgg(topK),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]())
    df.groupBy(col(key)).agg(count(lit(1)).as("__c"))
      .agg(topk(col("__c"), xxhash64(col(key))).as("__top"))
      .select(explode(col("__top")).as("p"))
      .select(col("p._1").as("c"), col("p._2").as("kh"))
      .filter(col("c") > hotKeyThreshold)
      .collect().map(_.getLong(1)).toSeq
  }

  /** One side's k-row join sketch: total rows, distinct keys, and the
    * xxhash64 fingerprints of keys above `hotKeyThreshold` (heaviest
    * first, ≤ `topK`). ONE map-combined key-count shuffle + a 1-row-ish
    * collect — the same probe [[hotKeyHashes]] pays, plus the two scalars
    * q160's estimator already reads.
    */
  final case class SideStats(rows: Long, distinctKeys: Long, hot: Seq[Long])

  /** The advisor's verdict. `strategy` ∈ broadcast | salted | shuffle;
    * `broadcastSide` ∈ left | right (broadcast only); `hotKeys` is the
    * union of both sides' flagged xxhash64 fingerprints (salted only).
    */
  final case class JoinAdvice(strategy: String, broadcastSide: String,
      hotKeys: Seq[Long], left: SideStats, right: SideStats)

  def sideStats(df: DataFrame, key: String, hotKeyThreshold: Long,
      topK: Int = 32): SideStats = {
    val topk = org.apache.spark.sql.functions.udaf(new TopKAgg(topK),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]())
    val rows = df.groupBy(col(key)).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("d"),
        topk(col("__c"), xxhash64(col(key))).as("__top"))
      .select(col("n"), col("d"), explode_outer(col("__top")).as("p"))
      .select(coalesce(col("n"), lit(0L)).as("n"), col("d"),
        col("p._1").as("c"), col("p._2").as("kh"))
      .collect()
    val hot = rows.filter(r => !r.isNullAt(2) && r.getLong(2) > hotKeyThreshold)
      .map(_.getLong(3)).toSeq
    SideStats(rows.head.getLong(0), rows.head.getLong(1), hot)
  }

  /** Join-strategy advisor over the k-row sketches (the round-8 gap: the
    * q160 estimator, the q129 skew diagnostic and the salted join existed
    * as three disconnected pieces). Decision order:
    *
    *   1. either side fits the broadcast budget (`rows <= broadcastRows`)
    *      → **broadcast** the smaller side: a broadcast join shuffles
    *      nothing and is immune to key skew entirely;
    *   2. any key on either side exceeds `hotKeyThreshold` → **salted**:
    *      one reducer would drown, and when the key column has few
    *      distinct values AQE cannot split the stragglers without salting;
    *   3. otherwise → plain **shuffle** equi-join (let AQE handle moderate
    *      runtime skew).
    *
    * Cost: two distinct-key-sized count shuffles and two k-row collects —
    * probe once, reuse across a pipeline's joins while the key
    * distribution is stable. All three strategies are row-identical joins,
    * so a wrong guess costs time, never correctness.
    */
  def adviseJoin(left: DataFrame, right: DataFrame, key: String,
      broadcastRows: Long, hotKeyThreshold: Long, topK: Int = 32): JoinAdvice = {
    val ls = sideStats(left, key, hotKeyThreshold, topK)
    val rs = sideStats(right, key, hotKeyThreshold, topK)
    if (math.min(ls.rows, rs.rows) <= broadcastRows)
      JoinAdvice("broadcast", if (rs.rows <= ls.rows) "right" else "left",
        Nil, ls, rs)
    else if (ls.hot.nonEmpty || rs.hot.nonEmpty)
      JoinAdvice("salted", "", (ls.hot ++ rs.hot).distinct, ls, rs)
    else JoinAdvice("shuffle", "", Nil, ls, rs)
  }

  /** [[saltedJoin]] wired to the diagnostic (the round-7 gap: report and
    * remedy were disconnected): probe the big side with [[hotKeyHashes]],
    * then join in two branches — rows whose key is FLAGGED go through the
    * salted join (small side replicated `saltFactor`×, but ONLY its hot
    * rows — the hot list is a ≤ topK literal IN-list over xxhash64(key),
    * codegen'd scan-side on both branches, so cold keys never replicate
    * and the cold branch stays the plain one-shuffle join), unioned with
    * the plain join of the rest. Row-identical to
    * `big.join(small, Seq(key))`: whichever branch a null-keyed row lands
    * in (xxhash64 hashes a null input to its seed, so the predicate stays
    * defined), the inner join's null-rejecting equality drops it — exactly
    * as the plain join does.
    *
    * At 100 TB: the diagnostic costs one map-combined key-count shuffle
    * (distinct-key-sized) — run it once and reuse the list across a
    * pipeline's joins when the key distribution is stable. AQE's skew join
    * handles moderate runtime skew; this is for the pathological keys
    * (hot_at_32 in q129's report) where even one AQE-split reducer drowns
    * — including the low-cardinality-key join (20 sources → 20 reducers,
    * 31 idle cores) AQE cannot split without salting.
    */
  def autoSaltedJoin(
      big: DataFrame, small: DataFrame, key: String,
      saltSource: Column, saltFactor: Int,
      hotKeyThreshold: Long, topK: Int = 32,
      broadcastRows: Long = 0L): DataFrame = {
    // with broadcast disabled (the default), the broadcast branch is
    // unreachable and the small side's stats would buy nothing but a
    // second distinct-key shuffle + driver collect — probe ONLY the big
    // side, the original shipped shape of this path (q137)
    val advice =
      if (broadcastRows <= 0L) {
        val ls = sideStats(big, key, hotKeyThreshold, topK)
        val unprobed = SideStats(-1L, -1L, Nil)
        if (ls.hot.nonEmpty) JoinAdvice("salted", "", ls.hot, ls, unprobed)
        else JoinAdvice("shuffle", "", Nil, ls, unprobed)
      } else adviseJoin(big, small, key, broadcastRows, hotKeyThreshold, topK)
    advice.strategy match {
      case "broadcast" =>
        if (advice.broadcastSide == "right") big.join(broadcast(small), Seq(key))
        else broadcast(big).join(small, Seq(key))
      case "salted" =>
        val isHot = xxhash64(col(key)).isin(advice.hotKeys: _*)
        val salted = saltedJoin(
          big.filter(isHot), small.filter(isHot), key, saltSource, saltFactor)
        salted.unionByName(big.filter(!isHot).join(small.filter(!isHot), Seq(key)))
      case _ => big.join(small, Seq(key))
    }
  }

  /** Sampled join-cardinality estimation — the planner probe BEFORE the
    * join that [[adviseJoin]]'s broadcast/salt decision complements: the
    * true equi-join size is Σ_k dL(k)·dR(k) over key degrees, and a
    * deterministic `1/rate` hash-sample OF KEYS estimates it as
    * `rate · Σ_{sampled k} dL(k)·dR(k)` (key-sampling keeps the degree
    * PRODUCT exact per sampled key — row-sampling would bias d·d′
    * quadratically). All integer: degrees are counts, the scale-up is an
    * exact multiply, and the oracle replays the same md5 key draw.
    *
    * Input: the two sides' degree tables (key, d). Output one row:
    * (n_keys_sampled, est_rows, actual_rows, err4) — `actual` is affordable
    * here because degree tables are distinct-key-sized, never row-sized;
    * at 100 TB both sides' degree aggregates are the only shuffles, and
    * the estimate needs only the sampled slice of the degree join.
    */
  def estimateJoinSize(degL: DataFrame, degR: DataFrame, key: String,
      rate: Long, salt: String = "jse"): DataFrame = {
    val joined = degL.select(col(key), col("d").as("dl"))
      .join(degR.select(col(key), col("d").as("dr")), Seq(key))
      .select(col(key), (col("dl") * col("dr")).as("dd"),
        (pmod(graft.functions.HashFunctions.stableHash64(
          concat(lit(s"$salt:"), col(key).cast("string"))), lit(rate)) === 0)
          .cast("long").as("insample"))
    joined.agg(
        sum(col("insample")).as("n_keys_sampled"),
        (sum(when(col("insample") === 1, col("dd")).otherwise(lit(0L))) * rate)
          .as("est_rows"),
        sum(col("dd")).as("actual_rows"))
      .select(col("n_keys_sampled"), col("est_rows"), col("actual_rows"),
        expr("abs(est_rows - actual_rows) * 10000 div actual_rows").as("err4"))
  }
}
