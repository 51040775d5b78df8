package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The one decision between an in-process strategy and its distributed
  * twin. The graph fixpoints ([[LocalGraph]]), the PQ Lloyd trainer
  * ([[PqCodebook.train]]), the ANN index build
  * ([[graft.index.AnnIndex.build]]) and q249's Markov power iteration all
  * run on a quotient of the corpus (a pair list, a vector corpus, an
  * event-type² matrix) that is usually small enough to collect; the
  * distributed loops then pay fixed job overhead per round for nothing. [[stage]] decides:
  *
  *  1. the slim input is staged behind one [[Tuning.cut]];
  *  2. it is counted over that cut — the count materializes it, as one RDD
  *     count (one job; a Dataset count under AQE runs two, its exchange and
  *     its collect);
  *  3. only at or below `spark.graft.localRowLimit` rows (default 2^20) is
  *     it collected;
  *  4. the rows are returned only when the caller's `accept` holds on them.
  *
  * Otherwise the cut frame is returned and the caller runs its
  * distributed loop over it: the hand-off never re-runs the input's
  * lineage, and a size check never costs a pass the distributed loop would
  * not have paid to materialize its input anyway.
  *
  * Hand-off rules. An in-process path must match its distributed twin on
  * every input, so any input it cannot reproduce goes distributed:
  *  - schema conditions (`schemaOk`) are checked before the count, so a
  *    rejected schema costs no count: one shared integral id type where
  *    the local code orders ids as longs (the graph ops, PQ seeds), one
  *    shared type where it only compares them (PageRank);
  *  - row conditions are checked by `accept` on the collected rows, at no
  *    extra pass: no null keys, and for PQ at least `kcode` vectors, none
  *    null or shorter than m·sub.
  *
  * There is no `optimizedPlan.stats` pre-check: for the joined pair graphs
  * the estimate is a product of child sizes, which would send the suite's
  * small graphs to the distributed loop. A byte cap (string ids make rows
  * wide) waits for a measured driver-heap figure.
  *
  * Each gate's jobs carry a job description (`spark.job.description`,
  * restored afterwards; the job group is left alone): "`site` gate: count,
  * limit L", "`site` gate: collect n rows, limit L", and the decision
  * "`site` gate: n rows, limit L → local|distributed" on a job over zero
  * partitions, which runs no stage and no task but puts the choice in the
  * event log even when nothing is collected.
  */
object LocalStrategy {

  /** Rows at or below which a strategy may run in-process. */
  def rowLimit(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.localRowLimit").map(_.toLong).getOrElse(1L << 20)

  /** `df`'s rows when `schemaOk`, at most [[rowLimit]] of them and
    * `accept` holds on them (Right); otherwise `df` behind its cut (Left).
    */
  def stage(df: DataFrame, site: String, schemaOk: Boolean = true)(
      accept: Array[Row] => Boolean): Either[DataFrame, Array[Row]] = {
    val (cut, rows) = staged(df, site, schemaOk)(accept)
    rows.toRight(cut)
  }

  /** [[stage]]'s decision with the cut handed back either way, for
    * callers that run part of their work in-process and the rest as a
    * distributed pass over the same materialized input.
    */
  def staged(df: DataFrame, site: String, schemaOk: Boolean = true)(
      accept: Array[Row] => Boolean): (DataFrame, Option[Array[Row]]) = {
    val cut = Tuning.cut(df)
    val limit = rowLimit(df.sparkSession)
    val sc = df.sparkSession.sparkContext
    def described[T](what: String)(job: => T): T = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$site gate: $what")
      try job finally sc.setJobDescription(prev)
    }
    val (seen, rows) =
      if (!schemaOk) ("schema", None)
      else {
        val n = described(s"count, limit $limit")(cut.queryExecution.toRdd.count())
        (s"$n rows",
          if (n > limit) None
          else Some(described(s"collect $n rows, limit $limit")(cut.collect())))
      }
    val local = rows.filter(accept)
    described(s"$seen, limit $limit → ${if (local.isDefined) "local" else "distributed"}")(
      sc.emptyRDD[Unit].count())
    (cut, local)
  }

  /** A local relation of `rows` with a DDL schema: its size statistics are
    * exact, so downstream joins broadcast it, and collecting it runs no job.
    */
  def frame(spark: SparkSession, ddl: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  /** Every column of `df` has one and the same type. */
  def oneType(df: DataFrame): Boolean = df.schema.map(_.dataType).distinct.size == 1

  /** Every column of `df` has one and the same integral type. */
  def oneIntegralType(df: DataFrame): Boolean = oneType(df) &&
    Set[DataType](LongType, IntegerType, ShortType, ByteType)(df.schema.head.dataType)

  /** No row holds a null. */
  def noNulls(rows: Array[Row]): Boolean = !rows.exists(_.anyNull)
}
