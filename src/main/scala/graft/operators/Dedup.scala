package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Deduplication operators for large-scale training-data pipelines — exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Everything is expressed in
  * codegen'd built-ins (higher-order array functions + md5-derived hashes)
  * so the same math is reproducible in the DuckDB oracle and survives a
  * 100 TB fan-out: signatures are computed scan-side (no shuffle), candidate
  * generation shuffles once on (band, bandHash), and verification runs only
  * within buckets — never an all-pairs cross join.
  */
object Dedup {

  /** Exact dedup: md5 grouping; keeper = min id per content hash. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** Character n-gram shingles as an array column (texts shorter than n
    * yield the whole text as a single shingle). Native expression — one
    * compiled loop per row.
    */
  def shinglesCol(textCol: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.CharShingles(
      Bridge.toExpr(textCol), n))
  }

  /** MinHash universe: 31-bit prime modulus so the affine per-component mix
    * `(A_j·h + B_j) mod M` never overflows a signed 64-bit int — DuckDB
    * errors on BIGINT overflow, Spark wraps silently; staying under 2^54
    * keeps both engines exact and identical.
    */
  val MinhashModulus = 2147483647L

  /** MinHash signature (array<bigint> of length numHashes) added as
    * `minhash`. Runs as ONE compiled loop per row via the native
    * [[org.apache.spark.sql.graft.expressions.MinHashSig]] expression —
    * scan-side only, no shuffle; a higher-order-function formulation is
    * interpreted per element and ~10× slower at bench scale.
    */
  def minhashSig(df: DataFrame, textCol: String, numHashes: Int, shingle: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    df.withColumn("minhash", Bridge.toColumn(
      org.apache.spark.sql.graft.expressions.MinHashSig(
        Bridge.toExpr(col(textCol)), numHashes, shingle)))
  }

  /** Band-hash explode shared by the LSH paths (batch self-join here;
    * per-bucket streaming state in [[graft.streaming.StatefulOps]]): one
    * output row per (band, band_hash) per input row, carrying `carryCols`
    * through.
    */
  private[graft] def bandExplode(
      sigDF: DataFrame, idCol: String, bands: Int, rowsPerBand: Int,
      carryCols: Seq[String]): DataFrame =
    sigDF.select(
      (col(idCol) +: carryCols.map(col)) :+
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => HashFunctions.stableHash64(
            concat_ws(",",
              transform(slice(col("minhash"), b * rowsPerBand + 1, lit(rowsPerBand)),
                x => x.cast("string"))))))
          .as(Seq("band", "band_hash")): _*)

  /** Banded self-join: candidate pairs (id_a < id_b) sharing some band
    * hash, with each side's carried columns suffixed _a/_b.
    */
  private def bandSelfJoin(
      sigDF: DataFrame, idCol: String, bands: Int, rowsPerBand: Int,
      carryCols: Seq[String]): DataFrame = {
    // cut the exploded band rows before self-joining: Spark does not reuse
    // the exchange across the two join sides here, so without the cut the
    // text scan + signatures (md5 per shingle over the corpus) run twice,
    // while a band row is ~10 small values
    val exploded = Tuning.cut(bandExplode(sigDF, idCol, bands, rowsPerBand, carryCols))
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select((Seq(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b")) ++
        carryCols.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b")))): _*)
  }

  /** LSH candidate pairs: signatures banded `bands × rowsPerBand`; a pair is
    * a candidate iff some band hashes equal. One shuffle on (band, hash);
    * within-bucket self-join only — never all-pairs.
    */
  def lshCandidates(
      sigDF: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame =
    bandSelfJoin(sigDF, idCol, bands, rowsPerBand, Nil).distinct()

  /** MinHash+LSH near-dup end-to-end: signatures are carried THROUGH the
    * band explode so they are computed once per join side (never re-joined
    * back), the estimated-Jaccard verify runs in the join projection, and
    * the threshold filter precedes the pair dedup — at scale the shuffle
    * carries only (band, hash)-bucketed rows and the distinct only
    * above-threshold pairs.
    */
  def nearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingle: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    // round 16: the signature pass (one md5 per shingle over the whole
    // corpus) is compute-bound — spread a narrow (id, text) projection
    // across the session's parallelism BEFORE computing signatures; a
    // one-split small parquet otherwise runs the entire pass in one task
    // (guide §2; no-op when the scan is already parallel)
    val spreadDf = Tuning.spread(
      df.select(col(idCol), col(textCol)), col(idCol))
    val sigs = minhashSig(spreadDf, textCol, numHashes, shingle)
      .select(col(idCol), col("minhash"))
    bandSelfJoin(sigs, idCol, bands, rowsPerBand, Seq("minhash"))
      .select(col("id_a"), col("id_b"),
        round(sigJaccard(col("minhash_a"), col("minhash_b")), 4).as("est_jac"))
      .filter(col("est_jac") >= threshold)
      .distinct()
  }

  /** The persistable signature index of a corpus: one row per
    * (id, band, band_hash) carrying the full minhash signature for verify.
    * This is the relation a production deployment stores (written once at
    * ingest, bucketed by (band, band_hash)) so that incremental dedup
    * never re-reads or re-hashes the existing corpus — the whole point of
    * [[incrementalNearDupPairs]] at 100 TB.
    */
  def signatureIndex(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingle: Int, bands: Int, rowsPerBand: Int): DataFrame =
    bandExplode(
      minhashSig(Tuning.spread(df.select(col(idCol), col(textCol)), col(idCol)),
        textCol, numHashes, shingle).select(col(idCol), col("minhash")),
      idCol, bands, rowsPerBand, Seq("minhash"))

  /** Incremental near-dup: the nightly-ingest shape. New documents
    * (`delta`) are signature-banded and joined against the STORED corpus
    * index ([[signatureIndex]] output — at scale a bucketed table computed
    * once at ingest, never re-derived) plus themselves, so per-batch cost
    * is O(delta + matched buckets), not O(corpus²) and not even
    * O(corpus): the existing corpus is touched only through the index
    * join. Output is exactly [[nearDupPairs]] over (corpus ∪ delta)
    * RESTRICTED to pairs with at least one delta member (spec-proven),
    * tagged `new_new` / `new_old`. Contract: delta ids are disjoint from
    * corpus ids.
    *
    * The delta band rows are cut once and feed both the
    * index probe and the delta self-join — one signature computation per
    * new document. The probe join is a plain (band, band_hash) equi-join:
    * with a small delta AQE broadcasts the delta side; a huge backfill
    * delta degrades gracefully to a shuffle join on the same key.
    */
  def incrementalNearDupPairs(
      corpusIndex: DataFrame, delta: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingle: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val deltaBands = Tuning.cut(signatureIndex(
      delta, idCol, textCol, numHashes, shingle, bands, rowsPerBand))
    def sides(df: DataFrame, suffix: String) = df.select(
      col("band"), col("band_hash"),
      col(idCol).as(s"id_$suffix"), col("minhash").as(s"minhash_$suffix"))
    // delta ids are disjoint from corpus ids, so normalize with least/greatest
    val newOld = sides(deltaBands, "d").join(sides(corpusIndex, "c"), Seq("band", "band_hash"))
      .select(least(col("id_d"), col("id_c")).as("id_a"),
        greatest(col("id_d"), col("id_c")).as("id_b"),
        col("minhash_d").as("minhash_a"), col("minhash_c").as("minhash_b"),
        lit("new_old").as("pair_kind"))
    val newNew = sides(deltaBands, "d").join(sides(deltaBands, "c"), Seq("band", "band_hash"))
      .filter(col("id_d") < col("id_c"))
      .select(col("id_d").as("id_a"), col("id_c").as("id_b"),
        col("minhash_d").as("minhash_a"), col("minhash_c").as("minhash_b"),
        lit("new_new").as("pair_kind"))
    newOld.union(newNew)
      .select(col("id_a"), col("id_b"),
        round(sigJaccard(col("minhash_a"), col("minhash_b")), 4).as("est_jac"),
        col("pair_kind"))
      .filter(col("est_jac") >= threshold)
      .distinct()
  }

  /** Estimated Jaccard from two equal-length signatures (codegen — runs on
    * millions of candidate pairs).
    */
  def sigJaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.ArrayAgreeRatio(
      Bridge.toExpr(a), Bridge.toExpr(b)))
  }

  /** Exact n-gram Jaccard between two text columns' distinct shingle sets —
    * ONE compiled pass per pair (native [[ShingleJaccard]]); the
    * distinct/intersect/union array formulation builds four intermediate
    * arrays per pair and is several times slower at bench scale.
    */
  def jaccard(textA: Column, textB: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.ShingleJaccard(
      Bridge.toExpr(textA), Bridge.toExpr(textB), n))
  }

  /** Exact n-gram CONTAINMENT C(A,B) = |S_A ∩ S_B| / |S_A| — the
    * asymmetric near-superset signal Jaccard misses: a short document
    * quoted whole inside a long one scores containment ~1 while its
    * Jaccard stays low (the union is dominated by the long side). This is
    * the Broder containment measure quote/inclusion detectors run on
    * LSH candidates; like [[jaccard]] it is a per-pair verifier — run
    * it on candidate pairs, never all-pairs. ONE compiled pass per pair
    * (native [[ShingleContainment]]).
    */
  def containment(textA: Column, textB: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.ShingleContainment(
      Bridge.toExpr(textA), Bridge.toExpr(textB), n))
  }

  /** Both containments and Jaccard of a pair in ONE compiled pass —
    * `struct<cont_ab, cont_ba, jac>` (native [[ShinglePairScores]]). Use
    * this on candidate-pair verifiers that need more than one measure:
    * separate expressions rebuild the shingle sets per measure.
    */
  def pairScores(textA: Column, textB: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.ShinglePairScores(
      Bridge.toExpr(textA), Bridge.toExpr(textB), n))
  }

  /** 32-bit SimHash over whitespace tokens: bit k set iff the ±1 sum of bit
    * k across token hashes is positive. Hamming distance between simhashes
    * approximates token-set distance; bucket joins on it are the scale path.
    */
  def simhash32(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    df.withColumn(outCol, Bridge.toColumn(
      org.apache.spark.sql.graft.expressions.SimHash32(Bridge.toExpr(col(textCol)))))
  }

  /** SimHash-banded near-dup pairs: the Google-style web-dedup shape.
    * Each 32-bit simhash splits into 4 bands of 8 bits; candidates are
    * pairs sharing ANY band value (one (band, key) equi-join shuffle,
    * never all-pairs), verified by exact hamming distance. With
    * `maxHamming <= 3` the banding is COMPLETE by pigeonhole — at most 3
    * differing bits cannot touch all 4 bands, so at least one band
    * matches and no qualifying pair can be missed (spec-proven against
    * brute force). The banded relation is cut once so the
    * simhash scan feeds both join sides without recomputation — the same
    * staging the MinHash path uses (`nearDupPairs`).
    */
  def simHashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x8-bit banding is only complete for hamming <= 3, got $maxHamming")
    val banded = Tuning.cut(simhash32(
        Tuning.spread(df.select(col(idCol), col(textCol)), col(idCol)),
        textCol, "__sh")
      .select(col(idCol), col("__sh").cast("long").as("__sh"))
      .select(col(idCol), col("__sh"), explode(sequence(lit(0), lit(3))).as("__b"))
      .withColumn("__key", expr("shiftright(__sh, __b * 8) & 255")))
    val left = banded.select(col("__b"), col("__key"),
      col(idCol).as("id_a"), col("__sh").as("__sh_a"))
    val right = banded.select(col("__b"), col("__key"),
      col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    left.join(right, Seq("__b", "__key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__sh_a").bitwiseXOR(col("__sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Resolve near-dup pairs into clusters: every id gets
    * `keeper_id` = the minimum id of its connected component in the
    * undirected pair graph (ids not in any pair keep themselves).
    *
    * Iterative min-label propagation with pointer halving — the standard
    * large-graph connected components: each round is one edge-min join
    * (edges ⋈ labels + min-aggregate) followed by one label-of-label
    * shortcut join against the previous round's materialized labels, so
    * rounds are O(log component diameter) rather than O(diameter). Labels
    * are cut per round so lineage stays O(1), and the loop
    * stops when a round changes nothing. At 100 TB this never materializes
    * the graph on the driver — the only driver-side values are the
    * per-round change counts.
    */
  def resolveClusters(pairs: DataFrame, allIds: DataFrame): DataFrame =
    resolveClustersCounted(pairs, allIds)._1

  /** [[resolveClusters]] that propagates labels ONLY over the pair-graph's
    * endpoints and attaches every other id as its own singleton cluster in
    * one final left join. Identical output; the iteration cost stops
    * depending on the corpus: a 100 TB table whose dup graph touches 1% of
    * documents pays the per-round join on that 1%, not on every id — the
    * singleton majority is never shuffled through a propagation round.
    *
    * Round 16: the endpoint labels come from [[componentsOverEndpoints]] —
    * a LOCAL union-find when the staged pair list passes
    * [[LocalStrategy.stage]] (the dup graph is a small quotient of the
    * corpus; see [[LocalGraph]]), the unchanged distributed
    * min-label rounds otherwise. Output is bit-identical either way
    * (LocalGraphSpec pins the parity).
    */
  def resolveClustersSparse(pairs: DataFrame, allIds: DataFrame): DataFrame = {
    val idc = allIds.columns.head
    val resolved = componentsOverEndpoints(pairs)
    allIds.select(col(idc).as("id")).distinct()
      .join(resolved, Seq("id"), "left")
      .select(col("id"), coalesce(col("keeper_id"), col("id")).as("keeper_id"))
  }

  /** Min-label component labels (id, keeper_id) for the pair graph's
    * ENDPOINTS: size-gated local union-find, else the distributed rounds
    * of [[resolveClusters]] over the endpoint set.
    */
  private[graft] def componentsOverEndpoints(pairs: DataFrame): DataFrame = {
    val slim = pairs.select(col("id_a"), col("id_b"))
    LocalStrategy.stage(slim, "components", LocalStrategy.oneIntegralType(slim))(
        LocalStrategy.noNulls) match {
      case Right(rows) =>
        LocalGraph.componentLabelsDF(pairs.sparkSession, LocalGraph.longPairs(rows),
          slim.schema.head.dataType)
      case Left(staged) =>
        val endpoints = staged.select(col("id_a").as("id"))
          .union(staged.select(col("id_b").as("id")))
        resolveClusters(staged, endpoints)
    }
  }

  /** [[resolveClustersSparse]] with a giant-component guard: components
    * holding more than `maxShare4`/10000 of the corpus are FLAGGED and not
    * collapsed — every flagged member keeps itself as survivor
    * (`keeper_id = id`) so a pre-commit audit can route the component to
    * review instead of silently deduping a fifth of the corpus to one doc
    * (the q164 evidence: at sf0.01 one 102-doc LSH chain already holds 20%
    * — transitive similarity is NOT similarity, and a band-collision chain
    * can weld unrelated docs into one cluster).
    *
    * Output: (id, component_id, keeper_id, flagged). The share test is
    * exact integer arithmetic (`sz · 10000 > maxShare4 · n`) so an oracle
    * reproduces the decision bit-for-bit. Cost over the plain resolve: one
    * component-sized aggregate + one broadcast of the scalar corpus count —
    * the guard never adds a corpus-wide shuffle.
    */
  def guardedClusters(pairs: DataFrame, allIds: DataFrame,
      maxShare4: Long): DataFrame = {
    val labels = resolveClustersSparse(pairs, allIds)
      .select(col("id"), col("keeper_id").as("component_id"))
    val sizes = labels.groupBy(col("component_id")).agg(count(lit(1)).as("__sz"))
    val tot = allIds.select(col(allIds.columns.head).as("id")).distinct()
      .agg(count(lit(1)).as("__n"))
    labels
      .join(sizes, Seq("component_id"))
      .crossJoin(broadcast(tot))
      .select(col("id"), col("component_id"),
        when(col("__sz") * lit(10000L) > lit(maxShare4) * col("__n"), col("id"))
          .otherwise(col("component_id")).as("keeper_id"),
        (col("__sz") * lit(10000L) > lit(maxShare4) * col("__n"))
          .cast("int").as("flagged"))
  }

  /** [[resolveClusters]] plus the number of propagation rounds that moved at
    * least one label — observable evidence that multi-hop components really
    * iterated (any chain A~B~C resolved through B needs ≥ 2 rounds for A's
    * label to reach C).
    */
  def resolveClustersCounted(pairs: DataFrame, allIds: DataFrame): (DataFrame, Int) = {
    val idc = allIds.columns.head
    val edges = Tuning.cut(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))) // reused every round; pairs' lineage paid once
    var labels = Tuning.cut(allIds.select(col(idc).as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("id").as("src"), col("label").as("src_label")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("src_label")).as("nbr_min"))
      // Edge-min step, then a pointer-halving step: jump to the PREVIOUS
      // round's label of the new label (the mapping side is the
      // already-materialized checkpoint — no recompute). Distances to the
      // component minimum shrink superlinearly, so rounds are O(log
      // diameter) instead of O(diameter) — on a 100 TB dup graph a
      // thousand-hop clone chain resolves in ~15 rounds, not ~1000. Labels
      // only ever decrease and every label value is a member id, so the
      // fixed point is still exactly the per-component minimum; the change
      // flag rides through the checkpoint, so counting movers is a scan of
      // materialized partitions, not another labels-sized shuffle.
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("__l1"))
      val next = Tuning.cut(stepped
        .join(labels.select(col("id").as("__l1"), col("label").as("__ll")),
          Seq("__l1"), "left")
        .select(col("id"),
          least(col("__l1"), coalesce(col("__ll"), col("__l1"))).as("label"),
          (least(col("__l1"), coalesce(col("__ll"), col("__l1"))) < col("__old"))
            .as("__moved")))
      changed = next.filter(col("__moved")).count()
      if (changed > 0) rounds += 1
      labels = next.drop("__moved")
    }
    (labels.select(col("id"), col("label").as("keeper_id")), rounds)
  }
}
