package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver's testdata star schema (TESTDATA.md) and the
  * engine's own chunk/index schemas (FIXTURES.md §2/§4).
  */
object Tables {

  val Names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts arrives as whatever the generator last wrote — TIMESTAMP
    // (NANOS) in early rounds (read as epoch-nano longs via the legacy
    // conf), plain tz-naive TIMESTAMP(MICROS) since round 8. Every
    // downstream query does integer arithmetic in the epoch-nano domain
    // (`ts div 1000` → µs, `ts div 3.6e12` → hours), so normalize here:
    // whatever the physical type, `ts` leaves this loader as epoch-nano
    // LongType, and the whole suite is generator-schema-proof.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Id stride between the copies [[cloneDir]] writes. A power of ten, so
    * the fixture class moduli keyed on ids (WarcReader's and the link
    * fixture's `% 4` / `% 8`) divide it and every per-class count scales
    * exactly.
    */
  val CloneOffset: Long = 10000000L

  /** The columns [[cloneDir]] offsets by `i · CloneOffset` in copy `i`.
    * Ids of the RAG and event tables stay disjoint across copies; among
    * the TPC-H tables only the two fact tables are copied, with their
    * order key offset, so every fact–fact and fact–dimension join scales
    * exactly ×copies. Tables not named here are written once.
    */
  private val cloneKeys: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey"))

  /** Write a `copies`× clone of the sf directory `srcDir` into a fresh
    * temp directory and return its path (the caller deletes it). Every
    * copy is an exact copy of its table with the [[cloneKeys]] policy
    * applied, so shipped queries over the clone have closed forms in the
    * 1× output (`CloneClosedFormSpec`): counts ×c, pairs c²·P + C(c,2)·n,
    * ratios invariant, survivors in copy 0. Columns are read and written
    * with their physical types, so [[load]] normalizes the clone exactly
    * as it normalizes the source.
    */
  def cloneDir(spark: SparkSession, srcDir: String, copies: Int): String = {
    import org.apache.spark.sql.functions.{col, lit}
    require(copies >= 1, s"copies must be >= 1, got $copies")
    val out = java.nio.file.Files.createTempDirectory("graft_clone_").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Names.foreach { name =>
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      val keys = cloneKeys.getOrElse(name, Nil)
      val cloned = if (keys.isEmpty) src else (0 until copies).map { i =>
        keys.foldLeft(src) { (df, k) =>
          df.withColumn(k, (col(k) + lit(i * CloneOffset)).cast(src.schema(k).dataType))
        }
      }.reduce(_ unionByName _)
      cloned.write.parquet(s"$out/$name.parquet")
    }
    out
  }

  /** Rewrite a timestamp-typed `ts` to epoch-nano longs. The NTZ branch is
    * deliberately TIMEZONE-FREE: an NTZ→TIMESTAMP cast would re-interpret
    * the wall-clock in the session zone (a silent ±hours shift anywhere
    * but UTC), while date/time-part extraction on NTZ is zone-independent
    * by definition — so epoch is assembled from unix_date + H/M/S parts,
    * exactly the value DuckDB's `epoch_us(ts)` computes on the same file.
    * date_part('SECOND') is DECIMAL(8,6) carrying the full micro fraction;
    * ×1e6 is exact integer decimal math.
    */
  private def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        val us = expr("unix_date(cast(ts as date))").cast("long") * lit(86400000000L) +
          expr("date_part('HOUR', ts)").cast("long") * lit(3600000000L) +
          expr("date_part('MINUTE', ts)").cast("long") * lit(60000000L) +
          expr("cast(date_part('SECOND', ts) * 1000000 as bigint)")
        df.withColumn("ts", us * lit(1000L))
      case TimestampType =>
        df.withColumn("ts", expr("unix_micros(ts)") * lit(1000L))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported physical type $other")
    }
  }

  /** Chunk table — the reference's central relation
    * (`pipeline1.py:657`, `699-700`, `872-874`).
    */
  val chunkSchema: StructType = StructType(Seq(
    StructField("Content", StringType, nullable = false),
    StructField("TokenCount", IntegerType, nullable = false),
    StructField("FormName", StringType, nullable = false),
    StructField("ChunkId", StringType, nullable = false),
    StructField("Embeddings", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** Vector index records (`pipeline2.py:130-133`). */
  val vectorIndexSchema: StructType = StructType(Seq(
    StructField("vector_id", StringType, nullable = false),
    StructField("content_vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Read a headered chunk CSV the way pipeline 2 consumes pipeline 1 output
    * (`pipeline2.py:119-131`): explicit schema, embeddings serialized as a
    * JSON-ish float list string.
    */
  def readChunkCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read
      .option("header", true)
      .schema(StructType(Seq(
        StructField("Content", StringType),
        StructField("TokenCount", IntegerType),
        StructField("FormName", StringType),
        StructField("ChunkId", StringType),
        StructField("Embeddings", StringType))))
      .csv(path)
      .withColumn("Embeddings", from_json(col("Embeddings"), ArrayType(FloatType)))
  }
}
