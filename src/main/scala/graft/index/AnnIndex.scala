package graft.index

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.VectorFunctions
import graft.operators.{IvfIndex, LocalStrategy, PqCodebook}

/** Persisted IVFADC index with a build-once / query-many split — the
  * compressed-index analog of pipeline 2's vector index lifecycle
  * (reference `pipeline2.py:117-150`: build the index once, serve queries
  * against the stored structure, never against the raw corpus).
  *
  * [[build]] pays the corpus scans ONCE and persists three relations:
  *
  *   - `centroids.parquet` — k coarse centroids (k-row broadcast side)
  *   - `codebook.parquet`  — m×kcode PQ sub-centroids (Lloyd-trained per
  *     subspace since round 12, q178's `PqCodebook.train`)
  *   - `codes.parquet`     — per-vector 8-byte PQ codes as (vec_id, s,
  *     code), PARTITIONED BY the coarse cell (`centroid_id`) — the IVF
  *     "inverted list" layout expressed as parquet partition directories
  *
  * [[query]] reads ONLY those three relations, each with the fixed schema
  * [[build]] writes (no inference job). Centroids, codebook and the query
  * batch are broadcast-sized, so cell ranking and the LUT run on the
  * driver; the probed-cell id list is a static `isin` predicate over the
  * partition column, so the codes scan is PARTITION-PRUNED to
  * nprobe·|queries| directories and the raw embedding corpus is never
  * touched on the serve path (plan-pinned in the spec; q210 pins it
  * against the inline q184 arithmetic). Per batch that is one metadata
  * collect (centroids and codebook in one scan), two broadcast local
  * relations and one exchange keyed by query. At 100 TB the serve-side
  * cost is the probed cells' code lists — ~1/k of an 8-byte-per-vector
  * table per probe — plus broadcast-sized LUT joins.
  *
  * Arithmetic is bit-identical to q178/q184: encode by max-margin argmax
  * (dot − ‖c‖²/2), ADC sums BIGINT micro-units, ties broken on lowest
  * code/vec_id.
  */
object AnnIndex {

  // The relations [[build]] writes, declared once so every serve-path and
  // delta read skips parquet schema inference (one Spark job per read).
  private val CentroidsSchema = "centroid_id INT, centroid ARRAY<FLOAT>"
  private val CodebookSchema = "s BIGINT, code BIGINT, cent ARRAY<FLOAT>"
  private val CodesSchema = "vec_id BIGINT, s BIGINT, code BIGINT, centroid_id INT"

  /** Scan the corpus once; persist centroids + codebook + cell-partitioned
    * codes under `dir`. The PQ codebook is Lloyd-trained
    * ([[graft.operators.PqCodebook.train]], round 12 — exact-integer
    * micro-sum means, `trainIters = 2` is the measured recall knee;
    * `trainIters = 0` reproduces the pre-round-12 raw seed grid).
    *
    * One size gate: the slim (vec_id, embedding) input is staged once
    * through [[LocalStrategy.staged]] ("ann build") under the PQ trainer's
    * schema and row conditions ([[PqCodebook.localSchema]],
    * [[PqCodebook.localRows]]). When it keeps the rows, the centroids (the
    * k lowest ids numbered 0..k−1, k from n by [[IvfIndex.cellCount]]) and
    * the codebook ([[PqCodebook.trainLocal]]) are derived from them
    * in-process — O(k) seeding and the trainer the gate already sizes;
    * the rows hold no more driver heap than `PqCodebook.train`'s gate.
    * Any other input — over the row limit, non-integral ids, non-float
    * vectors, fewer than `kcode` rows, a null id or vector, a vector
    * shorter than m·sub — gets [[IvfIndex.centroids]]' count and seed
    * collect and the distributed Lloyd loop ([[PqCodebook.lloyd]], no
    * second gate) over the gate's checkpoint, plus the codebook collect.
    * Either way every row is encoded by [[encodeCells]] over that
    * checkpoint, so the input is evaluated once per row, and centroids
    * and codebook are written as one file each. In-process job shape: the
    * gate (count, collect, decision), the centroids and codebook writes,
    * then [[encodeCells]]' `(vec_id, s)` exchange, the `centroid_id`
    * exchange and the partitioned write — eight jobs.
    */
  def build(emb: DataFrame, dir: String,
      m: Int = 8, sub: Int = 8, kcode: Int = 16, trainIters: Int = 2): Unit = {
    val spark = emb.sparkSession
    val slim = emb.select(col("vec_id"), col("embedding"))
    val (cut, kept) = LocalStrategy.staged(slim, "ann build", PqCodebook.localSchema(slim))(
      PqCodebook.localRows(_, m, sub, kcode))
    val (cents, cb) = kept match {
      case Some(rows) =>
        val sorted = PqCodebook.byId(rows)
        (IvfIndex.seeded(spark, sorted.take(IvfIndex.cellCount(rows.length)).map(_._2).toSeq),
          PqCodebook.trainLocal(spark, sorted, m, sub, kcode, trainIters))
      case None =>
        (IvfIndex.centroids(cut, k = 0, iters = 0), PqCodebook.lloyd(cut, m, sub, kcode, trainIters))
    }
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    cb.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook.parquet")
    writeCodes(encodeCells(cut, centroidVectors(cents), codebookVectors(cb, m), sub),
      dir, "overwrite")
  }

  /** Nightly delta append: encode ONLY the arriving vectors against the
    * STORED centroids + codebook (both broadcast-sized reads) and append
    * their cell-partitioned codes — the base corpus is never rescanned
    * and existing code files are never rewritten, the same delta-only
    * cost model as the incremental span-dedup index. Quantization drift
    * is the operational counterpart: when the delta distribution departs
    * from the codebook's training corpus, rebuild — this operator makes
    * the refresh cheap enough to schedule nightly either way.
    *
    * Job shape: one [[metadata]] collect (no inference job), then
    * [[encodeCells]]' two exchanges and the append — four jobs.
    */
  def appendDelta(spark: SparkSession, dir: String, delta: DataFrame,
      m: Int = 8, sub: Int = 8): Unit = {
    val (cents, cb) = metadata(spark, dir, m)
    writeCodes(encodeCells(delta, cents, cb, sub), dir, "append")
  }

  /** Centroids and codebook of the index under `dir` in ONE scan: both
    * relations read with one schema holding both schemas' columns (no
    * inference job); a row's non-null key columns say which relation it
    * came from.
    */
  private def metadata(spark: SparkSession, dir: String,
      m: Int): (Array[(Int, Array[Double])], Seq[(Long, Long, Array[Double])]) = {
    val both = spark.read.schema(s"$CentroidsSchema, $CodebookSchema")
      .parquet(s"$dir/centroids.parquet", s"$dir/codebook.parquet")
      .select(col("centroid_id"), col("centroid").cast("array<double>"),
        col("s"), col("code"), col("cent").cast("array<double>"))
      .collect()
    val (cents, cb) = both.partition(!_.isNullAt(0))
    (cents.map(r => r.getInt(0) -> doubles(r, 1)),
      cb.map(r => (r.getLong(2), r.getLong(3), doubles(r, 4)))
        .filter { case (s, _, _) => s >= 0 && s < m }.toSeq)
  }

  /** Column `i` of `r`, an `array<double>`, as an array (null stays null). */
  private def doubles(r: Row, i: Int): Array[Double] =
    if (r.isNullAt(i)) null else r.getSeq[Double](i).toArray

  // cluster by the partition column before the partitioned write (guide
  // §6): without it every write task touches every cell directory —
  // tasks × cells tiny files whose open/commit overhead dominates the
  // build AND every later pruned serve scan; keyed repartition makes
  // files-per-cell ~1 (AQE sizes the task count)
  private def writeCodes(codes: DataFrame, dir: String, mode: String): Unit =
    codes.repartition(col("centroid_id"))
      .write.mode(mode).partitionBy("centroid_id")
      .parquet(s"$dir/codes.parquet")

  /** Cell and PQ codes of every (`vec_id`, `embedding`) row in ONE narrow
    * pass: (vec_id, s, code, centroid_id). Each row scores every centroid
    * (cosine desc, ties to the lowest `centroid_id`) and, per subspace `s`
    * of `cb`, every code (max-margin dot − ‖c‖²/2, ties to the lowest
    * code) with the driver-side kernels, under Spark's double order with
    * null scores lowest — the q178 `IvfIndex.assign` ⋈ `PqCodebook.encode`
    * algebra without its two broadcast joins and the join on `vec_id`.
    * The `(vec_id, s)` group keeps the relational form's semantics:
    * vectors sharing an id merge into one best cell and code, and null ids
    * drop. Centroids and codebook travel in the closure (broadcast-sized,
    * the contract `assign`'s `broadcast(centroids)` already relies on).
    */
  private def encodeCells(emb: DataFrame, cents: Array[(Int, Array[Double])],
      cb: Seq[(Long, Long, Array[Double])], sub: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val subspaces = cb.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, codes) =>
      s -> codes.map { case (_, code, cent) =>
        (code, cent, Option(cent).map(c => VectorFunctions.dot(c, c) / 2.0))
      }.toArray
    }.toArray
    val scored = StructType(Seq(
      StructField("vec_id", emb.schema("vec_id").dataType),
      StructField("s", LongType, nullable = false),
      StructField("centroid_id", IntegerType, nullable = false),
      StructField("csc", DoubleType),
      StructField("code", LongType, nullable = false),
      StructField("sc", DoubleType)))
    emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .flatMap { r =>
        if (r.isNullAt(0) || cents.isEmpty) Iterator.empty
        else {
          val v = doubles(r, 1)
          val (csc, cell) = top(cents.iterator.map { case (c, cv) =>
            (if (v == null || cv == null) None else Some(VectorFunctions.cosine(v, cv))) -> c.toLong
          })
          subspaces.iterator.map { case (s, codes) =>
            val sv = if (v == null) null else v.slice((s * sub).toInt, (s * sub + sub).toInt)
            val (sc, code) = top(codes.iterator.map { case (code, cent, half) =>
              (if (sv == null) None else half.map(VectorFunctions.dot(sv, cent) - _)) -> code
            })
            Row(r.get(0), s, cell.toInt, csc.getOrElse(null), code, sc.getOrElse(null))
          }
        }
      }(Encoders.row(scored))
      .groupBy($"vec_id", $"s")
      .agg(max_by($"code", struct($"sc", -$"code")).as("code"),
        max_by($"centroid_id", struct($"csc", -$"centroid_id")).as("centroid_id"))
  }

  /** The (score, id) pair [[ranksAbove]] every other one. */
  private def top(cands: Iterator[(Option[Double], Long)]): (Option[Double], Long) =
    cands.reduceLeft((a, b) => if (ranksAbove(b._1, b._2, a._1, a._2)) b else a)

  private def vectors(df: DataFrame, key: Column, v: String): Array[(Any, Array[Double])] =
    df.select(key, col(v).cast("array<double>")).collect().map(r => r.get(0) -> doubles(r, 1))

  private def centroidVectors(cents: DataFrame): Array[(Int, Array[Double])] =
    vectors(cents, col("centroid_id"), "centroid")
      .map { case (c, v) => c.asInstanceOf[Int] -> v }

  /** (s, code, cent) of the `m` subspaces a vector is cut into. */
  private def codebookVectors(cb: DataFrame, m: Int): Seq[(Long, Long, Array[Double])] =
    vectors(cb, struct(col("s"), col("code")), "cent")
      .map { case (r: Row, v) => (r.getLong(0), r.getLong(1), v) }
      .filter { case (s, _, _) => s >= 0 && s < m }.toSeq

  /** Top-k per query against the PERSISTED index only. `queries` carries
    * (`query_id`, `qv`); `excludeSelf` drops `vec_id == query_id` hits for
    * corpus-sourced query sets (the q184 recall convention). Output:
    * (query_id, rank, vec_id, adc_u).
    *
    * Everything sized by the query batch or the index metadata runs on the
    * driver: the centroids (k rows) and the codebook (m·kcode rows) are
    * collected in one [[metadata]] scan and the batch is collected (a
    * literal batch collects without a job), then
    * cells are ranked per query (cosine desc, lowest `centroid_id` on
    * ties, top `nprobe`) and the LUT is built with the same kernels and
    * ordering as the relational form ([[VectorFunctions.cosine]],
    * [[VectorFunctions.dot]], Spark's double order). The (query, cell)
    * pairs and the LUT enter the plan as broadcast local relations, so the
    * only distributed work is the partition-pruned codes scan, the ADC sum
    * and the top-k window.
    */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int, m: Int = 8, sub: Int = 8,
      excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    // only the m subspaces the query vector is cut into get LUT entries
    val (cents, cb) = metadata(spark, dir, m)
    // a null query_id never matches the LUT join; vectors sharing an id
    // are ranked together, as a per-id window ranks them
    val batch = vectors(queries, $"query_id", "qv").filter(_._1 != null)
      .groupBy(_._1).toSeq.map { case (id, vs) => id -> vs.map(_._2).toSeq }
    val cellRows = batch.flatMap { case (id, vs) =>
      val scored = for (qv <- vs; (c, cv) <- cents)
        yield (Option(qv).map(VectorFunctions.cosine(_, cv)), c)
      scored.sortWith((a, b) => ranksAbove(a._1, a._2, b._1, b._2))
        .take(nprobe).map { case (_, c) => Row(id, c) }
    }
    val lutRows = for ((id, vs) <- batch; qv <- vs; (s, code, cent) <- cb) yield {
      val dotU = if (qv == null) null else math.floor(VectorFunctions.dot(
        qv.slice((s * sub).toInt, (s * sub + sub).toInt), cent) * 1000000.0).toLong
      Row(id, s, code, dotU)
    }
    val qid = queries.schema("query_id")
    def local(rows: Seq[Row], fields: StructField*): DataFrame =
      broadcast(spark.createDataFrame(rows.asJava, StructType(qid +: fields)))
    val qcells = local(cellRows, StructField("centroid_id", IntegerType))
    val lut = local(lutRows, StructField("s", LongType),
      StructField("code", LongType), StructField("dot_u", LongType))
    // nprobe·|queries| cell ids -> a STATIC partition-pruning predicate on
    // the codes scan (bounded by the query batch, never by data)
    val probed = cellRows.map(_.getInt(1)).distinct.sorted
    val codes = spark.read.schema(CodesSchema).parquet(s"$dir/codes.parquet")
      .filter($"centroid_id".isin(probed.map(Integer.valueOf): _*))
    val adc = codes.join(qcells, Seq("centroid_id"))
      .filter(if (excludeSelf) $"vec_id" =!= $"query_id" else lit(true))
      .join(lut, Seq("query_id", "s", "code"))
      // one exchange serves both the ADC sum and the top-k window: a
      // map-side partial sum would shuffle m× fewer rows but costs a
      // second exchange, i.e. one more job per ask
      .repartition($"query_id")
      .groupBy($"query_id", $"vec_id")
      .agg(sum($"dot_u").as("adc_u"))
    val wk = Window.partitionBy($"query_id").orderBy($"adc_u".desc, $"vec_id")
    adc.withColumn("rank", row_number().over(wk)).filter($"rank" <= k)
      .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id", $"adc_u")
  }

  /** `score DESC NULLS LAST, id ASC` with Spark's double order (NaN above
    * every number, -0.0 == 0.0) — the order of the relational forms'
    * windows and struct `max_by`s; a null vector scores null.
    */
  private def ranksAbove(a: Option[Double], aId: Long,
      b: Option[Double], bId: Long): Boolean = {
    val bySc = (a, b) match {
      case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(y, x)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case _ => 0
    }
    if (bySc != 0) bySc < 0 else aId < bId
  }
}
