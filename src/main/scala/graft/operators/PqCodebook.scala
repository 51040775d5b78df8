package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.VectorFunctions

/** Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI 2011 §II):
  * each of `m` disjoint `sub`-dim subspaces gets its own `kcode`-centroid
  * codebook, trained by deterministic Lloyd iterations over the sub-vector
  * stream — the [[IvfIndex.centroids]] machinery applied per subspace.
  * Until round 12 the q178/q181/q184 codebooks were the raw first-16-rows
  * seed (recall@10 ≈ 0.30 at 32× compression); training moves the codes to
  * where the sub-vector mass actually is.
  *
  * Determinism across engines AND corpus scale: the Lloyd update is NOT a
  * float `avg` (whose summation order differs between engines and
  * partitionings once clusters are corpus-sized — a 16-code cluster holds
  * n/16 vectors, unlike [[IvfIndex]]'s ~64) — each component is
  * floor-quantized to integer micro-units at the scan and the cluster mean
  * is the exact BIGINT sum divided (in IEEE double, same expression both
  * engines) by the exact count. Exact integer sums also make the codebook
  * invariant under exact corpus cloning (10·Σ / 10·n ≡ Σ/n in correctly-
  * rounded division — pinned at test scale in AnnIndexSpec). |component| ≤ ~2 in
  * micro-units and clusters ≤ 2^40 rows keep the sums far inside the
  * double-exact 2^53 window.
  *
  * Assignment is argmin-L2 as the codegen'd argmax(dot − ‖c‖²/2) (exact
  * equivalence for a fixed input), map-side `max_by` so only n·m assigned
  * rows — never n·m·kcode scored rows — cross a shuffle. Per iteration the
  * corpus-side work is ONE sub-vector scan; everything after the scan is
  * (m·kcode·sub)-row work. Seeds are the `kcode` lowest-id vectors'
  * sub-blocks (the q158 seed-grid convention); empty codes keep their
  * previous centroid.
  *
  * Reference analog: the reference stores raw 1536-dim ada-002 vectors in
  * Pinecone (`pipeline2.py:130-133`); PQ is the memory-compression path a
  * 100 TB corpus needs (~8 bytes/vector resident instead of 256).
  */
object PqCodebook {

  /** Sub-vector stream: (idCol, s, sv) — one row per (vector, subspace). */
  def subVectors(emb: DataFrame, m: Int, sub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val subs = broadcast((0 until m).map(_.toLong).toDF("s"))
    emb.crossJoin(subs)
      .select(col(idCol), $"s",
        slice(col(vecCol), ($"s" * sub + 1).cast("int"), lit(sub)).as("sv"))
  }

  /** Trained codebook: (s, code, cent) with `m·kcode` rows. `iters = 0`
    * returns the raw seed grid (the pre-round-12 behavior).
    *
    * Round 16: size-gated LOCAL Lloyd (the [[LocalGraph]] strategy applied
    * to codebook training) — each iteration of the distributed loop costs
    * one n·m-row shuffle, a positional-mean aggregation and a
    * cut, all fixed overhead when the corpus is small. `train` is
    * the gate plus the two loops it chooses between: when
    * [[LocalStrategy.stage]] keeps the (id, vector) corpus local (at most
    * `spark.graft.localRowLimit` vectors, default 2^20 — a 64-dim float
    * corpus of that size collects to ~270 MB, the broadcast-relation order
    * of magnitude) [[trainLocal]] runs the SAME arithmetic (ascending-index
    * double dot, max-margin argmax with lowest-code ties, micro-unit BIGINT
    * mean) in-process; otherwise [[lloyd]], the distributed loop, runs over
    * the gate's cut (the input is evaluated once either way). The
    * gate's conditions are [[localSchema]] and [[localRows]];
    * `AnnIndex.build` stages its corpus under the same ones and calls the
    * two loops directly. LocalGraphSpec pins both paths' parity on the
    * inputs the conditions reject.
    */
  def train(emb: DataFrame, m: Int, sub: Int, kcode: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    if (iters == 0) return lloyd(emb, m, sub, kcode, iters, idCol, vecCol)
    val slim = emb.select(col(idCol), col(vecCol))
    LocalStrategy.stage(slim, "pq train", localSchema(slim))(localRows(_, m, sub, kcode)) match {
      case Right(rows) => trainLocal(emb.sparkSession, byId(rows), m, sub, kcode, iters)
      case Left(cut) => lloyd(cut, m, sub, kcode, iters, idCol, vecCol)
    }
  }

  /** The (id, vector) schema [[trainLocal]] reproduces: it orders seeds as
    * longs and slices float vectors, so one integral id and `array<float>`.
    */
  def localSchema(slim: DataFrame): Boolean =
    LocalStrategy.oneIntegralType(slim.select(slim.columns.head)) &&
      (slim.schema(1).dataType match { case ArrayType(FloatType, _) => true; case _ => false })

  /** The rows [[trainLocal]] reproduces: at least `kcode` of them, no null
    * id or vector, no vector shorter than m·sub or holding a null element.
    */
  def localRows(rows: Array[Row], m: Int, sub: Int, kcode: Int): Boolean =
    rows.length >= kcode && LocalStrategy.noNulls(rows) && rows.forall { r =>
      val v = r.getSeq[Any](1)
      v.length >= m * sub && !v.contains(null)
    }

  /** Rows that passed [[localSchema]] and [[localRows]] as (id, vector),
    * ascending by id.
    */
  def byId(rows: Array[Row]): Array[(Long, Seq[Float])] =
    rows.map(r => (r.getAs[Number](0).longValue, r.getSeq[Float](1))).sortBy(_._1)

  /** The distributed Lloyd loop (the seed grid alone at `iters = 0`): one
    * sub-vector scan, one n·m-row shuffle and a cut per
    * iteration. Centroids are `array<float>` whatever the vectors' element
    * type, as `AnnIndex` reads its stored codebook.
    */
  def lloyd(corpus: DataFrame, m: Int, sub: Int, kcode: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val subs = broadcast((0 until m).map(_.toLong).toDF("s"))
    val seeds = corpus.orderBy(col(idCol)).limit(kcode)
      .withColumn("code",
        (row_number().over(Window.orderBy(col(idCol))) - 1).cast("long"))
    var cb = Tuning.cut(seeds.crossJoin(subs)
      .select($"s", $"code",
        slice(col(vecCol), ($"s" * sub + 1).cast("int"), lit(sub)).cast("array<float>").as("cent"))) // m·kcode rows; feeds every iteration + caller
    if (iters == 0) return cb
    val svs = Tuning.cut(subVectors(corpus, m, sub, idCol, vecCol)) // scanned once per iteration; cut re-slicing
    for (_ <- 0 until iters) {
      val cbScore = cb.withColumn("half_norm2",
        VectorFunctions.dotProduct($"cent", $"cent") / lit(2.0))
      val assigned = svs.join(broadcast(cbScore), Seq("s"))
        .select(col(idCol), $"s", $"sv", $"code",
          (VectorFunctions.dotProduct($"sv", $"cent") - $"half_norm2").as("sc"))
        .groupBy(col(idCol), $"s") // map-side argmax: n·m rows shuffle
        .agg(max_by(struct($"sv", $"code"), struct($"sc", -$"code")).as("best"))
        .select($"s", $"best.code".as("code"), $"best.sv".as("sv"))
      // exact-integer Lloyd update (see scaladoc): micro-quantize at the
      // scan, BIGINT-sum (order-free), one double division at the end
      val means = assigned
        .select($"s", $"code", posexplode($"sv").as(Seq("pos", "component")))
        .select($"s", $"code", $"pos",
          floor($"component" * lit(1000000.0)).cast("long").as("cu"))
        .groupBy($"s", $"code", $"pos")
        .agg(sum($"cu").as("su"), count(lit(1)).as("n"))
        .select($"s", $"code", $"pos",
          ($"su".cast("double") / $"n".cast("double") / lit(1000000.0))
            .cast("float").as("m"))
        .groupBy($"s", $"code")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("cent"))
      // keep old centroid where a code went empty; checkpoint cuts lineage
      // (m·kcode rows — the materialization is trivial)
      cb = Tuning.cut(cb.alias("old")
        .join(means.alias("new"), Seq("s", "code"), "left")
        .select($"s", $"code",
          coalesce(col("new.cent"), col("old.cent")).as("cent")))
    }
    cb
  }

  /** In-process Lloyd, arithmetic-identical to the distributed loop:
    * ascending-index double-accumulated dots ([[VectorFunctions.dot]] over
    * vectors widened to double once — exact for float input), argmax of
    * (dot − ‖c‖²/2) with ties to the LOWEST code, cluster means as BIGINT
    * micro-unit sums divided once in double and cast to float, empty codes
    * keeping their previous centroid.
    */
  def trainLocal(spark: SparkSession,
      sorted: Array[(Long, Seq[Float])], m: Int, sub: Int, kcode: Int,
      iters: Int): DataFrame = {
    val vecs = sorted.map(_._2.map(_.toDouble).toArray)
    // seed grid: the kcode lowest-id vectors' sub-blocks
    val cb = Array.tabulate(m, kcode) { (s, c) =>
      java.util.Arrays.copyOfRange(vecs(c), s * sub, s * sub + sub)
    }
    for (_ <- 0 until iters) {
      val su = Array.fill(m, kcode, sub)(0L)
      val cnt = Array.fill(m, kcode)(0L)
      var s = 0
      while (s < m) {
        val halfN = Array.tabulate(kcode)(c => VectorFunctions.dot(cb(s)(c), cb(s)(c)) / 2.0)
        var v = 0
        while (v < vecs.length) {
          val sv = java.util.Arrays.copyOfRange(vecs(v), s * sub, s * sub + sub)
          var best = 0
          var bestSc = Double.NegativeInfinity
          var c = 0
          while (c < kcode) {
            val sc = VectorFunctions.dot(sv, cb(s)(c)) - halfN(c)
            if (sc > bestSc) { bestSc = sc; best = c } // ties keep LOWEST code
            c += 1
          }
          cnt(s)(best) += 1L
          var p = 0
          while (p < sub) {
            su(s)(best)(p) += math.floor(sv(p) * 1000000.0).toLong
            p += 1
          }
          v += 1
        }
        var c = 0
        while (c < kcode) {
          if (cnt(s)(c) > 0L) {
            val mean = new Array[Double](sub)
            var p = 0
            while (p < sub) {
              // rounded to float as stored; widening back is exact
              mean(p) = (su(s)(c)(p).toDouble / cnt(s)(c).toDouble / 1000000.0).toFloat.toDouble
              p += 1
            }
            cb(s)(c) = mean
          } // else: empty code keeps its previous centroid
          c += 1
        }
        s += 1
      }
    }
    LocalStrategy.frame(spark,
      "s BIGINT NOT NULL, code BIGINT NOT NULL, cent ARRAY<FLOAT> NOT NULL",
      for (s <- 0 until m; c <- 0 until kcode)
        yield Row(s.toLong, c.toLong, cb(s)(c).map(_.toFloat).toSeq))
  }

  /** Compressed index: (idCol, s, code) — argmin-L2 encode of every
    * sub-vector against `cb`, map-side argmax, n·m small rows out.
    */
  def encode(emb: DataFrame, cb: DataFrame, m: Int, sub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cbScore = cb.withColumn("half_norm2",
      VectorFunctions.dotProduct($"cent", $"cent") / lit(2.0))
    subVectors(emb, m, sub, idCol, vecCol)
      .join(broadcast(cbScore), Seq("s"))
      .select(col(idCol), $"s", $"code",
        (VectorFunctions.dotProduct($"sv", $"cent") - $"half_norm2").as("sc"))
      .groupBy(col(idCol), $"s")
      .agg(max_by($"code", struct($"sc", -$"code")).as("code"))
  }

  /** ADC lookup table: (qidCol, s, code, dot_u) — micro-quantized query ×
    * centroid dots, queries·m·kcode rows, broadcast at the ADC join.
    */
  def lut(queries: DataFrame, cb: DataFrame, m: Int, sub: Int,
      qidCol: String = "query_id", qvecCol: String = "qv"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    subVectors(queries, m, sub, qidCol, qvecCol)
      .withColumnRenamed("sv", "qs")
      .join(broadcast(cb), Seq("s"))
      .select(col(qidCol), $"s", $"code",
        floor(VectorFunctions.dotProduct($"qs", $"cent") * lit(1000000.0))
          .cast("long").as("dot_u"))
  }
}
