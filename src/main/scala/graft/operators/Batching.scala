package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-safe global row numbering (A5 batching support,
  * `pipeline2.py:85-102`). `row_number() OVER (ORDER BY ord)` plans a
  * single-partition WindowExec — every row moves to one task. This operator
  * produces the IDENTICAL numbering with no window at all:
  *
  *  1. range-repartition on `ord` (partition k holds ranks strictly before
  *     partition k+1) and sort within partitions;
  *  2. local 1-based position from `monotonically_increasing_id()` — its
  *     layout is `partitionId * 2^33 + positionInPartition`, so the low 33
  *     bits ARE the position after the local sort (no window, no shuffle);
  *  3. per-partition row counts (a tiny partial-agg job, numPartitions
  *     rows) → prefix-sum offsets on the driver → broadcast-joined back.
  *
  * One range shuffle + one local sort total; every stage is parallel. The
  * per-partition position bound is 2^33 rows (~8.6 B) — far beyond any sane
  * partition sizing.
  */
object Batching {

  private val LocalMask = (1L << 33) - 1

  /** Adds `out` = global 1-based rank of `ord` (ties impossible for a unique
    * key; for non-unique keys the order within equal values follows the
    * range partitioner, like row_number's arbitrary tie order).
    */
  def globalRowNumber(
      df: DataFrame, ord: Column, numPartitions: Int, out: String = "rn"): DataFrame =
    globalRowNumber(df, Seq(ord), numPartitions, out)

  /** Multi-key form: rank under the lexicographic (ord₁, ord₂, …) order —
    * sort-direction expressions (`$"f".desc`) are honored by both the range
    * partitioner and the local sort, so a total order with a tiebreak key
    * (the deterministic-rank requirement) costs the same one range
    * exchange.
    */
  def globalRowNumber(
      df: DataFrame, ord: Seq[Column], numPartitions: Int, out: String): DataFrame = {
    // the cut pins ONE partitioning for both jobs below: the counts
    // action and the final join would otherwise each re-execute the range
    // exchange, whose sampled boundaries are not guaranteed identical across
    // plans — offsets computed against one layout must not be applied to
    // another.
    val parted = Tuning.cut(df.repartitionByRange(numPartitions, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lrn", monotonically_increasing_id().bitwiseAND(lit(LocalMask)) + 1))
    val counts = parted.groupBy(col("__pid")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // the local position lives in monotonically_increasing_id's low 33 bits;
    // a partition beyond 2^33 rows would silently bleed into the partition-id
    // bits and corrupt every rank after the mask — fail fast instead (the
    // per-partition totals are already on the driver, so the check is free)
    counts.find(_._2 > LocalMask).foreach { case (pid, c) =>
      throw new IllegalStateException(
        s"globalRowNumber: partition $pid holds $c rows, over the 2^33 local-position " +
          s"bound — raise numPartitions (currently $numPartitions)")
    }
    // prefix sum: offset of partition k = total rows in partitions < k
    var acc = 0L
    val offRows = counts.map { case (pid, c) => val row = (pid, acc); acc += c; row }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offRows.toSeq.toDF("__pid", "__off")
    parted.join(broadcast(offDf), Seq("__pid"))
      .withColumn(out, (col("__off") + col("__lrn")).cast("long"))
      .drop("__pid", "__lrn")
  }

  /** Scale-safe per-group row numbering — the stratified-split shape
    * (`pipeline2.py:85-102` analog at stratum granularity). `row_number()
    * OVER (PARTITION BY stratum ORDER BY ord)` parallelizes across strata
    * but funnels EACH stratum's rows into one task's sort — and real
    * corpora are stratum-skewed (one giant web/en stratum = one task at
    * 100 TB). This produces the identical per-group numbering with no
    * window at all:
    *
    *  1. [[globalRowNumber]] under the lexicographic (group, ord) order —
    *     one range exchange, every stage parallel; a group's rows occupy a
    *     CONTIGUOUS global-rank span because the group cols lead the sort
    *     key;
    *  2. a tiny per-group aggregate (min global rank = span start, count =
    *     group size) — numGroups rows, map-side partial — broadcast back;
    *  3. per-group rank = global rank − span start + 1.
    *
    * Identical to the window whenever `ord` is total within each group
    * (the deterministic-split requirement already guarantees a unique-key
    * tiebreak); ties follow the range partitioner, like row_number's
    * arbitrary tie order. `outCount` additionally emits the group size —
    * replacing the companion `count() OVER (PARTITION BY stratum)` window
    * for free (the agg already carries it).
    *
    * The spans relation is group-count-sized: tiny for split strata
    * (broadcast is right and measured 3.2× faster than the sort-merge
    * plan AQE actually picks here — the cut ranked side reports only
    * an estimate, so AQE does NOT convert this join on its own), but
    * potentially millions of rows when the group key is high-cardinality
    * (registrable domains at crawl scale), where a forced broadcast
    * would blow the driver. `broadcastSpans` makes the choice explicit
    * per call site instead of silently unsafe: default true for the
    * few-groups shapes, false for domain-grade keys (q270).
    */
  def groupedRowNumber(
      df: DataFrame, groupCols: Seq[String], ord: Seq[Column], numPartitions: Int,
      out: String = "rn", outCount: Option[String] = None,
      broadcastSpans: Boolean = true): DataFrame = {
    val keys = groupCols.map(col) ++ ord
    val ranked = globalRowNumber(df, keys, numPartitions, "__grn")
    val spans = ranked.groupBy(groupCols.map(col): _*)
      .agg(min(col("__grn")).as("__gstart"), count(lit(1)).as("__gn"))
    val joined = ranked.join(
      if (broadcastSpans) broadcast(spans) else spans, groupCols)
      .withColumn(out, (col("__grn") - col("__gstart") + 1L).cast("long"))
    outCount.fold(joined)(n => joined.withColumn(n, col("__gn")))
      .drop("__grn", "__gstart", "__gn")
  }

  /** Scale-safe global running sum (and 1-based position) of `valueCol` in
    * `ord` order — the cumulative-distribution shape (vocabulary coverage,
    * token-budget curricula) without `sum() OVER (ORDER BY …)`'s
    * single-partition WindowExec:
    *
    *  1. range-repartition on `ord` + sort within partitions;
    *  2. ONE tiny job collects per-partition row counts and value sums
    *     (numPartitions rows) → prefix offsets on the driver;
    *  3. a streamed per-partition fold (O(1) state, closure-carried
    *     offsets — no join, no window) emits position and running sum.
    *
    * Identical results to the global window for any total `ord` order;
    * every stage is parallel. `valueCol` must be LONG (cast upstream).
    */
  def globalRunningSum(
      df: DataFrame, ord: Seq[Column], valueCol: String, numPartitions: Int,
      outPos: String = "pos", outCum: String = "cum"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val parted = Tuning.cut(df.repartitionByRange(numPartitions, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("__pid", spark_partition_id())) // pin one layout for the offsets job and the fold
    val perPart = parted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    var accN = 0L
    var accS = 0L
    val offsets: Map[Int, (Long, Long)] = perPart.map { case (pid, n, s) =>
      val o = (pid, (accN, accS)); accN += n; accS += s; o
    }.toMap
    val vIdx = parted.schema.fieldIndex(valueCol)
    val schema = parted.schema.add(outPos, LongType).add(outCum, LongType)
    parted.mapPartitions { it =>
      val (posOff, sumOff) = offsets.getOrElse(
        org.apache.spark.TaskContext.getPartitionId(), (0L, 0L))
      var pos = 0L
      var run = 0L
      it.map { r =>
        pos += 1L; run += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ (posOff + pos) :+ (sumOff + run))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
      .drop("__pid")
  }
}
