package graft.index

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The vector index as a Parquet-backed table with pipeline-2 semantics
  * (`pipeline2.py:117-225`): records `(vector_id, content_vector, title,
  * text)`; create-if-absent with data-derived dimension; batched upsert;
  * delete by ids / by form titles / all; per-form stats and existence.
  *
  * Deletes are expressed as anti-join rewrites (SURVEY.md U2) — next-state =
  * current ⟕̸ victims — which at scale is a distributed rewrite, never a
  * driver-side id scan. The reference's `top_k = total_vector_count` id
  * listing (`pipeline2.py:165`, `221` — a full-index scan per form) becomes a
  * plain filter (SURVEY.md §4.2).
  *
  * Storage layout: versioned snapshots `<path>/v<N>/` plus a `_CURRENT`
  * pointer file naming the live version. Every mutation writes the next
  * state ONCE (to `v<N+1>`, never over the directory it is reading), then
  * atomically swaps the pointer via rename-with-overwrite; older snapshots
  * beyond the previous one are garbage-collected. A crash mid-write leaves
  * `_CURRENT` untouched, so readers never observe a partial index — and at
  * scale each delete/upsert pays exactly one data write instead of the
  * write-tmp-read-tmp-write-final double copy.
  *
  * Concurrency contract: any number of READERS are safe at any time
  * (snapshots are immutable; GC keeps the previous version for in-flight
  * plans), but mutations assume a SINGLE WRITER — the reference's model,
  * where one Airflow DAG run owns the index. Two concurrent writers could
  * both read version N and write the same v(N+1) dir; [[rewrite]] detects
  * the collision best-effort by re-reading `_CURRENT` just before the
  * pointer swap and aborting if another writer advanced it. That check
  * closes the data-overwrite window, not every interleaving (a true CAS
  * needs the store's conditional primitives) — serialize writers
  * externally.
  *
  * Schema per version: an instance remembers the schema of the version it
  * last wrote (its next state's schema) or, for a version another writer
  * made, the schema its first read inferred. Re-reading that version
  * passes the schema to the reader, so only the first read of a foreign
  * version pays a parquet schema-inference job.
  */
final class VectorIndex(spark: SparkSession, path: String) {

  import spark.implicits._

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def root = new Path(path)
  private def fs = root.getFileSystem(hconf)
  private def pointerPath = new Path(root, "_CURRENT")
  private def versionDir(v: Long) = new Path(root, s"v$v")

  /** -1 when the index has never been written. */
  private def currentVersion: Long =
    if (!fs.exists(pointerPath)) -1L
    else {
      val in = fs.open(pointerPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }

  def exists: Boolean = fs.exists(pointerPath)

  // (version, schema) this instance last wrote or inferred
  private var known: Option[(Long, StructType)] = None

  /** Reads the version that is current NOW — a snapshot: later mutations
    * write new version dirs, so a DataFrame obtained here stays readable
    * until its version is GC'd (one mutation later).
    */
  def read: DataFrame = {
    val v = currentVersion
    val dir = versionDir(v).toString
    known match {
      case Some((`v`, schema)) => spark.read.schema(schema).parquet(dir)
      case _ =>
        val df = spark.read.parquet(dir)
        known = Some(v -> df.schema)
        df
    }
  }

  /** Index dimension derived from data, as the reference creates indexes
    * (`pipeline2.py:134-138`); 0 for an absent or empty index.
    */
  def dimension: Int =
    if (!exists) 0
    else read.select(size($"content_vector")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** Upsert chunk rows (columns: title, text, content_vector). Ids are
    * minted `title + "_" + n` with n = row_number per title ordered by
    * `ordCol`, OFFSET per mode below — the per-form twin of
    * `pipeline2.py:130-132` (the reference uses the global CSV index;
    * per-title numbering keeps id minting shuffle-local and stable under
    * any partitioning at scale).
    *
    * Two id-minting modes:
    *  - `append = false` (default, reference parity): ids index the INCOMING
    *    batch from 0 — re-upserting the same batch replaces its records
    *    (idempotent), but a PARTIAL batch for an existing title overwrites
    *    that title's low ids (the reference re-uploads whole forms, so this
    *    matches `pipeline2.py`'s model).
    *  - `append = true`: ids continue from the title's highest minted
    *    number + 1 (its record count when nothing was deleted), so
    *    incremental adds never clobber prior records, also after
    *    [[deleteByIds]]; the new ids are fresh by construction, so the
    *    next state is a plain union with no anti-join.
    *
    * Reads the current version once.
    */
  def upsert(records: DataFrame, ordCol: String, append: Boolean = false): Unit = {
    val w = Window.partitionBy($"title").orderBy(col(ordCol))
    val numbered = records.withColumn("__rn", row_number().over(w) - 1)
    val cur = if (exists) Some(read) else None
    val withIds = (cur match {
      case Some(c) if append =>
        val minted = expr("try_cast(substring(vector_id, length(title) + 2) as bigint)")
        val nextFree = c.groupBy($"title").agg((max(minted) + 1).as("__base"))
        numbered.join(broadcast(nextFree), Seq("title"), "left")
          .withColumn("__base", coalesce($"__base", lit(0L)))
      case _ => numbered.withColumn("__base", lit(0L))
    })
      .withColumn("vector_id",
        concat($"title", lit("_"), ($"__base" + $"__rn").cast("string")))
      .select($"vector_id", $"content_vector", $"title", $"text")
    val next = cur match {
      case None => withIds
      case Some(c) if append => c.unionByName(withIds)
      case Some(c) =>
        c.join(withIds.select("vector_id"), Seq("vector_id"), "left_anti").unionByName(withIds)
    }
    rewrite(next)
  }

  def deleteByIds(ids: Seq[String]): Unit =
    rewrite(read.filter(!$"vector_id".isin(ids: _*)))

  def deleteByForms(titles: Seq[String]): Unit =
    rewrite(read.filter(!$"title".isin(titles: _*)))

  def deleteAll(): Unit = rewrite(read.limit(0))

  /** Per-form vector counts (`describe_index_stats` analog). */
  def stats: DataFrame = read.groupBy($"title").agg(count(lit(1)).as("n_vectors"))

  /** J4 existence probe — a filter+limit, not a dummy-vector full scan. */
  def formExists(title: String): Boolean =
    read.filter($"title" === title).limit(1).count() > 0

  /** All ids for given forms — the J6 id-listing as a filter. */
  def idsForForms(titles: Seq[String]): DataFrame =
    read.filter($"title".isin(titles: _*)).select($"vector_id")

  /** One data write + an atomic pointer swap; keeps the previous snapshot
    * for in-flight readers and GCs everything older.
    */
  private def rewrite(next: DataFrame): Unit = {
    val cur = currentVersion
    val nxt = cur + 1
    next.write.mode(SaveMode.Overwrite).parquet(versionDir(nxt).toString)
    // single-writer collision detection (see class doc): if another writer
    // advanced _CURRENT while we were writing, our snapshot may have raced
    // theirs on the same version dir — abort before publishing it
    val nowCur = currentVersion
    if (nowCur != cur)
      throw new java.util.ConcurrentModificationException(
        s"VectorIndex at $path: _CURRENT moved v$cur -> v$nowCur during a rewrite; " +
          "mutations require a single writer")
    val tmp = new Path(root, s"_CURRENT.$nxt.tmp")
    val out = fs.create(tmp, true)
    try out.write(nxt.toString.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(fs.getUri, hconf)
      .rename(tmp, pointerPath, Options.Rename.OVERWRITE)
    known = Some(nxt -> next.schema)
    val keep = Set(cur, nxt)
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("v") && name.drop(1).forall(_.isDigit)
          && !keep.contains(name.drop(1).toLong))
        fs.delete(st.getPath, true)
    }
  }
}
