package graft.index

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.SQLExecution
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
  * against the inline q184 arithmetic). Centroids and codebook are read
  * once per index and kept on the driver while their files are unchanged
  * ([[metadata]]), so a batch is one Spark job: the pruned codes scan with
  * map-side ADC sums, one exchange keyed by query and a per-query top-k
  * heap, collected to the driver. At 100 TB the serve-side cost is the
  * probed cells' code lists — ~1/k of an 8-byte-per-vector table per
  * probe — plus a batch-sized LUT in the scan's closure.
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
    * and codebook are written as one file each and kept in the
    * [[metadata]] memo under those files' identity, so the first
    * [[query]] or [[appendDelta]] after a build reads neither. In-process
    * job shape: the gate (count, collect, decision), the centroids and
    * codebook writes, then [[encodeCells]]' `(vec_id, s)` exchange, the
    * `centroid_id` exchange and the partitioned write — eight jobs.
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
    val meta = Meta(centroidVectors(cents), codebookVectors(cb))
    remember(dir, fileIdentity(spark, dir), meta)
    writeCodes(encodeCells(cut, meta.cents, below(meta.cb, m), sub), dir, "overwrite")
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
    * Job shape: [[metadata]] (no job while the memo holds the index's
    * centroids and codebook, as after a [[build]] in this driver; else one
    * collect), then [[encodeCells]]' two exchanges and the append — three
    * jobs.
    */
  def appendDelta(spark: SparkSession, dir: String, delta: DataFrame,
      m: Int = 8, sub: Int = 8): Unit = {
    val (cents, cb) = metadata(spark, dir, m)
    writeCodes(encodeCells(delta, cents, cb, sub), dir, "append")
  }

  /** Centroids and the whole codebook (every subspace) of one index. */
  private final case class Meta(cents: Array[(Int, Array[Double])],
      cb: Seq[(Long, Long, Array[Double])])

  /** Most index dirs the [[metadata]] memo holds at once. */
  private[graft] val MemoCap = 16

  /** Index dir → (identity of its centroids and codebook files, their
    * contents): one entry per dir, replaced when a rebuild writes new
    * files, at most [[MemoCap]] entries, the oldest filled evicted first
    * (a driver building a fresh index per cycle would otherwise keep every
    * one). Driver-side; the entries are broadcast-sized. Guarded by its
    * own lock.
    */
  private val memo = new java.util.LinkedHashMap[String, (Seq[(String, Long, Long)], Meta)]() {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, (Seq[(String, Long, Long)], Meta)]): Boolean = size > MemoCap
  }

  /** Fill the memo entry of `dir`, as the newest entry. */
  private def remember(dir: String, id: Seq[(String, Long, Long)], meta: Meta): Unit =
    memo.synchronized { memo.remove(dir); memo.put(dir, id -> meta) }

  /** Drop the memo entries of `dir` and of every index dir under it: for
    * callers deleting a directory that held indexes
    * ([[graft.SparkEntry.releaseStaging]]), whose entries could never be
    * hit again.
    */
  private[graft] def forget(dir: String): Unit = memo.synchronized {
    memo.keySet.removeIf(k => k == dir || k.startsWith(dir.stripSuffix("/") + "/"))
  }

  /** Memo entries held; for specs. */
  private[graft] def memoSize: Int = memo.synchronized(memo.size)

  /** (path, length, modification time) of every data file under the
    * centroids and codebook relations of `dir`: one Hadoop listing per
    * relation, no Spark job. Every write of a relation makes new part
    * files, so a rebuild changes the identity.
    */
  private def fileIdentity(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    Seq("centroids.parquet", "codebook.parquet").flatMap { rel =>
      val path = new Path(s"$dir/$rel")
      path.getFileSystem(conf).listStatus(path).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    }
  }

  /** Centroids and the codebook's subspaces below `m` of the index under
    * `dir`, from the memo while the files it was filled from are
    * unchanged. A miss reads both relations in ONE scan, with one schema
    * holding both schemas' columns (no inference job); a row's non-null
    * key columns say which relation it came from. The identity is listed
    * before the read, so a rebuild racing the read can only leave an
    * entry the next listing misses.
    */
  private[graft] def metadata(spark: SparkSession, dir: String,
      m: Int): (Array[(Int, Array[Double])], Seq[(Long, Long, Array[Double])]) = {
    val id = fileIdentity(spark, dir)
    val meta = memo.synchronized(Option(memo.get(dir))).collect { case (`id`, meta) => meta }.getOrElse {
      val both = spark.read.schema(s"$CentroidsSchema, $CodebookSchema")
        .parquet(s"$dir/centroids.parquet", s"$dir/codebook.parquet")
        .select(col("centroid_id"), col("centroid").cast("array<double>"),
          col("s"), col("code"), col("cent").cast("array<double>"))
        .collect()
      val (cents, cb) = both.partition(!_.isNullAt(0))
      val read = Meta(cents.map(r => r.getInt(0) -> doubles(r, 1)),
        cb.map(r => (r.getLong(2), r.getLong(3), doubles(r, 4))).toSeq)
      remember(dir, id, read)
      read
    }
    (meta.cents, below(meta.cb, m))
  }

  /** The codebook rows of the `m` subspaces a vector is cut into. */
  private def below(cb: Seq[(Long, Long, Array[Double])], m: Int): Seq[(Long, Long, Array[Double])] =
    cb.filter { case (s, _, _) => s >= 0 && s < m }

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

  private def codebookVectors(cb: DataFrame): Seq[(Long, Long, Array[Double])] =
    vectors(cb, struct(col("s"), col("code")), "cent")
      .map { case (r: Row, v) => (r.getLong(0), r.getLong(1), v) }.toSeq

  /** Top-k per query against the PERSISTED index only. `queries` carries
    * (`query_id`, `qv`); `excludeSelf` drops `vec_id == query_id` hits for
    * corpus-sourced query sets (the q184 recall convention). Output:
    * (query_id, rank, vec_id, adc_u); `query_id` keeps its input type, the
    * rest are longs.
    *
    * Eager: the batch is collected (a literal batch collects without a
    * job) and served by [[serve]] before this returns; the result is a
    * local relation of at most k·|queries| rows, bounded by the batch the
    * driver already holds. A literal batch runs one Spark job, the SQL
    * execution named [[ServeExecution]].
    */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int, m: Int = 8, sub: Int = 8,
      excludeSelf: Boolean = false): DataFrame = {
    // a null query_id never matches the LUT join; vectors sharing an id
    // are ranked together, as a per-id window ranks them
    val batch = vectors(queries, col("query_id"), "qv").filter(_._1 != null)
      .groupBy(_._1).toSeq.map { case (id, vs) => id -> vs.map(_._2).toSeq }
    val out = StructType(Seq(queries.schema("query_id"),
      StructField("rank", LongType, nullable = false),
      StructField("vec_id", LongType), StructField("adc_u", LongType)))
    spark.createDataFrame(serve(spark, dir, batch, k, nprobe, m, sub, excludeSelf).toSeq.asJava, out)
  }

  /** Name of the SQL execution [[serve]] runs its codes scan under. */
  private[graft] val ServeExecution = "AnnIndex.query"

  /** [[query]] over a driver-side batch of (query id, its vectors): rows
    * (query_id, rank, vec_id, adc_u) by batch position, then rank.
    *
    * Everything sized by the batch or the index metadata runs on the
    * driver: the centroids (k rows) and the codebook (m·kcode rows) come
    * from [[metadata]] (no job while its memo holds them), cells are
    * ranked per query (cosine desc, lowest `centroid_id` on ties, top
    * `nprobe`) and the LUT is built with the same kernels and ordering as
    * the relational form ([[VectorFunctions.cosine]],
    * [[VectorFunctions.dot]], Spark's double order). Both travel in the
    * closure of ONE narrow pass over the partition-pruned codes scan: a
    * probed cell → query slots table, and a dense LUT over (slot, s, code)
    * with a null/absent mask, each bounded by the batch. The pass emits
    * ((slot, vec_id), (dot_u, non-null)) — the rows the relational (cell ⋈
    * codes ⋈ LUT) joins emit, vectors sharing a query id summed per LUT
    * entry — and Spark's map-side combine sums them per key (the ADC sum:
    * nulls skipped, null when every term is). One shuffle by slot over
    * min(|batch|, defaultParallelism) partitions feeds a k-bounded heap per
    * slot in the window's order ([[above]]), and the k·|batch| rows are
    * collected: ONE job, run as the SQL execution [[ServeExecution]] of the
    * scan, so the scan and its row counts show to the SQL tab and to
    * query-execution listeners.
    */
  private[graft] def serve(spark: SparkSession, dir: String, batch: Seq[(Any, Seq[Array[Double]])],
      k: Int, nprobe: Int, m: Int, sub: Int, excludeSelf: Boolean): Array[Row] = {
    // only the m subspaces the query vector is cut into get LUT entries
    val (cents, cb) = metadata(spark, dir, m)
    val ids = batch.map(_._1).toArray
    // probed cell -> the slots (batch positions) probing it, once per
    // ranked (vector, cell) pair, as the relational cell join repeats them
    val slotsByCell: Map[Int, Array[Int]] = batch.zipWithIndex.flatMap { case ((_, vs), slot) =>
      val scored = for (qv <- vs; (c, cv) <- cents)
        yield (Option(qv).map(VectorFunctions.cosine(_, cv)), c)
      scored.sortWith((a, b) => ranksAbove(a._1, a._2, b._1, b._2))
        .take(nprobe).map { case (_, c) => c -> slot }
    }.groupMap(_._1)(_._2).map { case (c, slots) => c -> slots.toArray }
    // dense LUT, entry (slot, s, code) at (slot·m + s)·width + code − codeLo;
    // state 0: no LUT row (the join drops the code), 1: only null rows,
    // 2: the sum of the non-null rows (the ADC sum skips nulls)
    val codeLo = if (cb.isEmpty) 0L else cb.map(_._2).min
    val width = if (cb.isEmpty) 0 else Math.toIntExact(cb.map(_._2).max - codeLo + 1)
    val lut = new Array[Long](Math.multiplyExact(Math.multiplyExact(ids.length, m), width))
    val state = new Array[Byte](lut.length)
    for (((_, vs), slot) <- batch.zipWithIndex; qv <- vs; (s, code, cent) <- cb) {
      val i = (slot * m + s.toInt) * width + (code - codeLo).toInt
      if (qv != null) {
        lut(i) += math.floor(VectorFunctions.dot(
          qv.slice((s * sub).toInt, (s * sub + sub).toInt), cent) * 1000000.0).toLong
        state(i) = 2
      } else if (state(i) == 0) state(i) = 1
    }
    // nprobe·|queries| cell ids -> a STATIC partition-pruning predicate on
    // the codes scan (bounded by the query batch, never by data)
    val probed = slotsByCell.keys.toSeq.sorted
    val scan = spark.read.schema(CodesSchema).parquet(s"$dir/codes.parquet")
      .filter(col("centroid_id").isin(probed.map(Integer.valueOf): _*))
      .queryExecution
    val bySlot = new SlotPartitioner(math.max(1, math.min(ids.length, spark.sparkContext.defaultParallelism)))
    val top = SQLExecution.withNewExecutionId(scan, Some(ServeExecution)) {
      scan.toRdd.flatMap { r =>
        val s = if (r.isNullAt(1)) -1L else r.getLong(1)
        val code = if (r.isNullAt(2)) -1L else r.getLong(2) - codeLo
        if (s < 0 || s >= m || code < 0 || code >= width) Iterator.empty
        else {
          val at = s.toInt * width + code.toInt
          val nullId = r.isNullAt(0)
          val vecId = if (nullId) 0L else r.getLong(0)
          slotsByCell.getOrElse(r.getInt(3), Array.emptyIntArray).iterator.flatMap { slot =>
            val i = slot * m * width + at
            // excludeSelf is the relational `vec_id =!= query_id` filter,
            // under which a null vec_id drops too
            if (state(i) == 0 || excludeSelf && (nullId || sameId(vecId, ids(slot)))) None
            else Some(Cand(slot, vecId, nullId) -> ((lut(i), state(i) == 2)))
          }
        }
      }.reduceByKey(bySlot, (a, b) => (a._1 + b._1, a._2 || b._2))
        .mapPartitions(topK(_, k))
        .collect()
    }
    top.sortBy { case (rank, c, _) => (c.slot, rank) }.map { case (rank, c, (adc, any)) =>
      Row(ids(c.slot), rank, if (c.nullId) null else c.vecId, if (any) adc else null)
    }
  }

  /** A (query slot, vec_id) key of the serve pass, `nullId` for a null
    * vec_id. Hashed without boxing: the map-side combine hashes one key
    * per emitted row.
    */
  private final case class Cand(slot: Int, vecId: Long, nullId: Boolean) {
    override def hashCode: Int = 31 * slot + java.lang.Long.hashCode(vecId) + (if (nullId) 1 else 0)
  }

  /** A slot's candidates → partition slot mod n. */
  private final class SlotPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Cand].slot % n
  }

  /** Whether candidate `a` ranks above `b` of the same slot: `adc_u` DESC
    * NULLS LAST (the flag says the sum is not null), then `vec_id` ASC
    * NULLS FIRST — the order of the relational form's top-k window.
    */
  private def above(a: (Cand, (Long, Boolean)), b: (Cand, (Long, Boolean))): Boolean =
    if (a._2._2 != b._2._2) a._2._2
    else if (a._2._2 && a._2._1 != b._2._1) a._2._1 > b._2._1
    else if (a._1.nullId != b._1.nullId) a._1.nullId
    else a._1.vecId < b._1.vecId

  /** The k best candidates of each slot of a partition, ranked from 1,
    * kept in a k-bounded heap per slot whose head is its worst.
    */
  private def topK(cands: Iterator[(Cand, (Long, Boolean))],
      k: Int): Iterator[(Long, Cand, (Long, Boolean))] = {
    val worstFirst = Ordering.fromLessThan[(Cand, (Long, Boolean))]((a, b) => above(b, a))
    val heaps = mutable.HashMap.empty[Int, java.util.PriorityQueue[(Cand, (Long, Boolean))]]
    if (k > 0) cands.foreach { c =>
      val heap = heaps.getOrElseUpdate(c._1.slot, new java.util.PriorityQueue(worstFirst))
      if (heap.size < k) heap.add(c)
      else if (above(c, heap.peek)) { heap.poll(); heap.add(c) }
    }
    heaps.valuesIterator.flatMap { heap =>
      heap.asScala.toSeq.sortWith(above).iterator.zipWithIndex
        .map { case ((c, adc), i) => (i + 1L, c, adc) }
    }
  }

  /** `vec_id = query_id` for a non-null `vec_id`, as Spark compares a
    * bigint with the id's type: integral ids as bigint, fractional ones as
    * double, decimals exactly, strings cast to bigint.
    */
  private def sameId(vecId: Long, id: Any): Boolean = id match {
    case x @ (_: Byte | _: Short | _: Int | _: Long) => vecId == x.asInstanceOf[Number].longValue
    case x @ (_: Float | _: Double) => vecId.toDouble == x.asInstanceOf[Number].doubleValue
    case x: java.math.BigDecimal => java.math.BigDecimal.valueOf(vecId).compareTo(x) == 0
    case x: String => x.trim.toLongOption.contains(vecId)
    case _ => false
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
