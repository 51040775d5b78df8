package graft

import org.apache.spark.JobNames
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.index.AnnIndex

/** Build/serve split of the persisted IVFADC index: the serve path must
  * read ONLY the persisted relations (partition-pruned codes + broadcast
  * centroids/codebook), and its arithmetic must match a driver-side
  * re-implementation of the q178/q184 encode/LUT/ADC algebra.
  */
class AnnIndexSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // deterministic unit-ish vectors, dim 16 (m=8 sub-blocks of 2)
  private def vec(i: Int): Seq[Float] =
    (0 until 16).map(d => (math.sin(i * 31 + d * 7 + 1).toFloat))

  /** Driver-side replica of PqCodebook.train (round 12): per-subspace
    * Lloyd from the kcode-lowest-id seeds, assignment by argmax
    * (dot − ‖c‖²/2) with lowest-code ties, cluster means as exact BIGINT
    * micro-sums divided once in double — the independent reimplementation
    * both replay tests score the persisted index against.
    */
  private def lloydCb(vs: Seq[(Long, Array[Float])], m: Int, sub: Int,
      kcode: Int, iters: Int): Array[Array[Array[Float]]] = {
    val seeds = vs.sortBy(_._1).take(kcode)
    var cb: Array[Array[Array[Float]]] = Array.tabulate(m)(s =>
      Array.tabulate(kcode)(c => seeds(c)._2.slice(s * sub, s * sub + sub)))
    for (_ <- 0 until iters) {
      val sums = Array.fill(m, kcode, sub)(0L)
      val counts = Array.fill(m, kcode)(0L)
      for ((_, v) <- vs; s <- 0 until m) {
        val sv = v.slice(s * sub, s * sub + sub)
        val best = (0 until kcode).maxBy { c =>
          val cent = cb(s)(c)
          val dot = sv.zip(cent).map { case (a, b) => a.toDouble * b.toDouble }.sum
          (dot - cent.map(x => x.toDouble * x.toDouble).sum / 2.0, -c)
        }
        counts(s)(best) += 1
        for (p <- 0 until sub)
          sums(s)(best)(p) += math.floor(sv(p).toDouble * 1000000.0).toLong
      }
      cb = Array.tabulate(m)(s => Array.tabulate(kcode)(c =>
        if (counts(s)(c) == 0) cb(s)(c)
        else Array.tabulate(sub)(p =>
          (sums(s)(c)(p).toDouble / counts(s)(c).toDouble / 1000000.0).toFloat)))
    }
    cb
  }

  /** The relational form of [[AnnIndex.query]] (cell ranking and LUT as
    * Spark joins and windows over the persisted relations): the reference
    * the driver-side serve must reproduce row for row.
    */
  private def relationalQuery(dir: String, queries: DataFrame, k: Int,
      nprobe: Int, m: Int, sub: Int, excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
    val cb = spark.read.parquet(s"$dir/codebook.parquet")
    val wc = Window.partitionBy($"query_id").orderBy($"csc".desc, $"centroid_id")
    val qcells = queries.crossJoin(broadcast(cents))
      .select($"query_id", $"centroid_id",
        VectorFunctions.cosineSim($"qv", $"centroid").as("csc"))
      .withColumn("cell_rank", row_number().over(wc))
      .filter($"cell_rank" <= nprobe)
      .select($"query_id", $"centroid_id")
    val lut = graft.operators.PqCodebook.lut(queries, cb, m, sub)
    val adc = spark.read.parquet(s"$dir/codes.parquet")
      .join(qcells, Seq("centroid_id"))
      .filter(if (excludeSelf) $"vec_id" =!= $"query_id" else lit(true))
      .join(lut, Seq("query_id", "s", "code"))
      .groupBy($"query_id", $"vec_id")
      .agg(sum($"dot_u").as("adc_u"))
    val wk = Window.partitionBy($"query_id").orderBy($"adc_u".desc, $"vec_id")
    adc.withColumn("rank", row_number().over(wk)).filter($"rank" <= k)
      .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id", $"adc_u")
  }

  /** The relational form of the build / appendDelta encode (the plan
    * before the fused pass): `IvfIndex.assign` ⋈ `PqCodebook.encode` on
    * `vec_id` against the index's stored centroids and codebook, clustered
    * by cell — the reference the fused encode must reproduce row for row.
    */
  private def relationalCodes(emb: DataFrame, dir: String, m: Int, sub: Int): DataFrame = {
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
    val cb = spark.read.parquet(s"$dir/codebook.parquet")
    val cells = graft.operators.IvfIndex.assign(emb, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid_id"))
    graft.operators.PqCodebook.encode(emb, cb, m, sub)
      .join(cells, Seq("vec_id"))
      .repartition(col("centroid_id"))
  }

  private def codeRows(codes: DataFrame): Seq[String] =
    codes.select("vec_id", "s", "code", "centroid_id").collect().map(_.toString).sorted.toSeq

  /** The executed plan of the one serve execution among `execs`. */
  private def servePlan(execs: Seq[(String, String)]): String = {
    val serves = execs.filter(_._1 == AnnIndex.ServeExecution)
    assert(serves.size == 1, execs.map(_._1))
    serves.head._2
  }

  /** 60 "doc i" records embedded by the ask path's own embedder, persisted
    * as a vector-index table, and their AnnIndex (m = 8, sub = 2) under
    * `dir/idx`.
    */
  private def askFixture(prefix: String): (DataFrame, String, graft.embed.DeterministicEmbedder) = {
    import spark.implicits._
    val dir = tempDirectory(prefix).toString
    val embedder = new graft.embed.DeterministicEmbedder(16)
    (0 until 60).map(i => (i.toLong, embedder.embedOne(s"doc $i").toSeq, s"text of doc $i"))
      .toDF("vector_id", "content_vector", "text")
      .write.mode("overwrite").parquet(s"$dir/corpus.parquet")
    val index = spark.read.parquet(s"$dir/corpus.parquet")
    AnnIndex.build(index.select($"vector_id".as("vec_id"),
      $"content_vector".as("embedding")), s"$dir/idx", m = 8, sub = 2, kcode = 16)
    (index, dir, embedder)
  }

  test("serve path: codes scan is partition-pruned to the probed cells; the raw corpus is never read") {
    import spark.implicits._
    val dir = tempDirectory("graft_annpin").toString
    (0 until 120).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/raw_corpus.parquet")
    val emb = spark.read.parquet(s"$dir/raw_corpus.parquet")
    AnnIndex.build(emb, s"$dir/idx", m = 8, sub = 2, kcode = 16)
    // literal query batch: the serve path gets vectors from the caller,
    // not from any corpus relation
    val queries = Seq((0L, vec(3)), (1L, vec(77))).toDF("query_id", "qv")
    val (res, execs) = JobNames.executions(spark) {
      AnnIndex.query(spark, s"$dir/idx", queries, k = 5, nprobe = 2, m = 8, sub = 2)
    }
    val plan = servePlan(execs)
    assert(plan.contains("codes.parquet"), plan)
    assert(!plan.contains("raw_corpus.parquet"),
      "serve path read the raw corpus:\n" + plan)
    // the probed-cell list is a PARTITION filter on the codes scan, not a
    // post-scan row filter
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(plan).nonEmpty, plan)
    val rows = res.collect()
    assert(rows.nonEmpty)
    // ranks are 1..k per query with adc_u non-increasing
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      assert(sorted.map(_.getLong(3)).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true
      })
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("askViaIndex: retrieval runs off the persisted index; the context join prunes the corpus scan to (id, text); prompt assembles in rank order") {
    import spark.implicits._
    // corpus whose vectors come from the SAME embedder so the question
    // "doc 7" retrieves doc 7's own vector as the top hit
    val (index, dir, embedder) = askFixture("graft_annask")
    val ((hits, prompt), execs) = JobNames.executions(spark) {
      graft.query.Retriever.askViaIndex(
        index, s"$dir/idx", "doc 7", embedder, k = 3, nprobe = 3, m = 8, sub = 2)
    }
    // the serve side reads persisted codes, partition-pruned, and never
    // the corpus
    val plan = servePlan(execs)
    assert(plan.contains("codes.parquet"), plan)
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(plan).nonEmpty, plan)
    assert(!plan.contains("corpus.parquet"), "serve path read the corpus:\n" + plan)
    // the corpus scan exists ONLY for the text fetch — its embedding
    // column must be pruned away, and long ids filter in the reader
    val fetch = execs.filter(_._1 != AnnIndex.ServeExecution)
    assert(fetch.size == 1, execs.map(_._1))
    val fetchPlan = fetch.head._2
    assert(fetchPlan.contains("corpus.parquet"), fetchPlan)
    assert(!fetchPlan.contains("content_vector"),
      "text fetch read the embedding column:\n" + fetchPlan)
    assert("PushedFilters: \\[[^\\]]*In\\(vector_id".r.findFirstIn(fetchPlan).nonEmpty, fetchPlan)
    // join on vec_id fronts the key: (vec_id, query_id, rank, adc_u, text)
    val rows = hits.orderBy($"rank").collect()
    assert(rows.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L))
    // the ask plumbing must return EXACTLY what a direct index query for
    // the same question vector returns, in the same rank order (ADC is a
    // quantized inner product, so "doc 7 ranks first" is not guaranteed —
    // q244 measures that recall gap; this pin is about the routing)
    val direct = AnnIndex.query(spark, s"$dir/idx",
        Seq((0L, embedder.embedOne("doc 7").toSeq)).toDF("query_id", "qv"),
        k = 3, nprobe = 3, m = 8, sub = 2)
      .orderBy($"rank").collect().map(_.getLong(2)).toSeq
    assert(rows.map(_.getLong(0)).toSeq == direct)
    assert(rows.map(r => s"text of doc ${r.getLong(0)}").toSeq ==
      rows.map(_.getString(4)).toSeq)
    assert(prompt.startsWith(rows.map(_.getString(4)).mkString("\n")))
    assert(prompt.endsWith("\n\n Question: doc 7"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("askViaIndex runs at most 2 Spark jobs and a literal-batch query exactly 1; the serve path runs no parquet schema-inference job") {
    import spark.implicits._
    val (index, dir, embedder) = askFixture("graft_annjobs")
    val (prompt, jobs) = JobNames.during(spark.sparkContext) {
      graft.query.Retriever.askViaIndex(
        index, s"$dir/idx", "doc 7", embedder, k = 3, nprobe = 3, m = 8, sub = 2)._2
    }
    assert(prompt.endsWith("\n\n Question: doc 7"))
    assert(jobs.size <= 2, s"${jobs.size} jobs:\n" + jobs.mkString("\n"))
    val (_, serveJobs) = JobNames.during(spark.sparkContext) {
      AnnIndex.query(spark, s"$dir/idx",
          Seq((0L, embedder.embedOne("doc 7").toSeq)).toDF("query_id", "qv"),
          k = 3, nprobe = 3, m = 8, sub = 2)
        .collect()
    }
    assert(serveJobs.size == 1, serveJobs.mkString("\n"))
    assert(!serveJobs.flatten.exists(_.startsWith("parquet at AnnIndex")),
      serveJobs.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("askViaIndex: hits meet their text rows as the inner join on vec_id did — a hit without a text row drops, a duplicated id repeats") {
    import spark.implicits._
    val (index, dir, embedder) = askFixture("graft_annaskdup")
    try {
      val direct = AnnIndex.query(spark, s"$dir/idx",
        Seq((0L, embedder.embedOne("doc 7").toSeq)).toDF("query_id", "qv"),
        k = 3, nprobe = 3, m = 8, sub = 2)
      val ids = direct.orderBy($"rank").select($"vec_id").as[Long].collect()
      assert(ids.length == 3)
      // the first hit's text row twice, the second hit's row gone
      index.filter($"vector_id" =!= ids(1)).union(index.filter($"vector_id" === ids(0)))
        .write.parquet(s"$dir/texts.parquet")
      val texts = spark.read.parquet(s"$dir/texts.parquet")
      val (hits, prompt) = graft.query.Retriever.askViaIndex(
        texts, s"$dir/idx", "doc 7", embedder, k = 3, nprobe = 3, m = 8, sub = 2)
      val joined = direct.join(texts.select($"vector_id".cast("long").as("vec_id"), $"text"), Seq("vec_id"))
      assert(hits.schema.map(f => f.name -> f.dataType) == joined.schema.map(f => f.name -> f.dataType))
      def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
      assert(rows(hits) == rows(joined))
      val kept = Seq(ids(0), ids(0), ids(2))
      assert(hits.collect().map(_.getLong(0)).toSeq == kept)
      assert(prompt == kept.map(i => s"text of doc $i").mkString("\n") + "\n\n Question: doc 7")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("driver-side cell ranking and LUT: same rows as the relational form on degenerate batches") {
    import spark.implicits._
    val m = 8
    val sub = 2
    val dir = tempDirectory("graft_anndegen").toString
    (0 until 120).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/emb.parquet")
    AnnIndex.build(spark.read.parquet(s"$dir/emb.parquet"), s"$dir/idx",
      m = m, sub = sub, kcode = 16)
    val cells = spark.read.parquet(s"$dir/idx/centroids.parquet").count().toInt
    def same(what: String, queries: DataFrame, k: Int, nprobe: Int,
        excludeSelf: Boolean = false, qm: Int = m): Array[org.apache.spark.sql.Row] = {
      val res = AnnIndex.query(spark, s"$dir/idx", queries, k, nprobe, qm, sub, excludeSelf)
      assert(res.schema("query_id").dataType == queries.schema("query_id").dataType, what)
      val got = res.collect().sortBy(r => (String.valueOf(r.get(0)), r.getLong(1)))
      val want = relationalQuery(s"$dir/idx", queries, k, nprobe, qm, sub, excludeSelf)
        .collect().sortBy(r => (String.valueOf(r.get(0)), r.getLong(1)))
      assert(got.toSeq == want.toSeq, what)
      got
    }
    val empty = same("empty batch",
      Seq.empty[(Long, Seq[Float])].toDF("query_id", "qv"), k = 5, nprobe = 2)
    assert(empty.isEmpty)
    val all = same("nprobe above the cell count",
      Seq((0L, vec(3)), (1L, vec(77))).toDF("query_id", "qv"), k = 10, nprobe = cells + 5)
    assert(all.length == 20)
    // every cell scores cosine 0.0: the tie keeps the lowest centroid ids
    val zero = same("all-zero query vector",
      Seq((0L, Seq.fill(16)(0.0f))).toDF("query_id", "qv"), k = 5, nprobe = 2)
    val zeroCells = spark.read.parquet(s"$dir/idx/codes.parquet")
      .filter($"vec_id".isin(zero.map(_.getLong(2)): _*))
      .select($"centroid_id").distinct().as[Int].collect().toSet
    assert(zero.length == 5 && zeroCells.subsetOf(Set(0, 1)), zeroCells)
    same("query vector shorter than m·sub",
      Seq((0L, vec(5).take(5)), (1L, vec(9).take(1))).toDF("query_id", "qv"), k = 5, nprobe = 3)
    // a null vector scores null everywhere: lowest cells, null adc_u
    same("null query vector",
      Seq((0L, null: Seq[Float]), (1L, vec(4))).toDF("query_id", "qv"), k = 3, nprobe = 2)
    same("two vectors under one query_id",
      Seq((0L, vec(3)), (0L, vec(50)), (1L, vec(4))).toDF("query_id", "qv"), k = 4, nprobe = 3)
    same("array<double> queries, excludeSelf",
      (0 until 6).map(i => (i.toLong, vec(i).map(_.toDouble))).toDF("query_id", "qv"),
      k = 10, nprobe = 4, excludeSelf = true)
    val ints = same("int query_id",
      Seq((0, vec(3)), (1, vec(77))).toDF("query_id", "qv"), k = 5, nprobe = 2)
    assert(ints.length == 10 && ints.forall(_.get(0).isInstanceOf[Int]))
    val nullId: Option[Long] = None
    val kept = same("null query_id row",
      Seq(nullId -> vec(3), Some(1L) -> vec(77)).toDF("query_id", "qv"), k = 5, nprobe = 2)
    assert(kept.length == 5 && kept.forall(_.getLong(0) == 1L))
    // the LUT covers s < 4; the inner join drops the codes of s = 4..7
    same("query m smaller than the build's",
      Seq((0L, vec(3)), (1L, vec(77))).toDF("query_id", "qv"), k = 5, nprobe = 3, qm = 4)
    val twin = same("two query ids probing the same cells",
      Seq((0L, vec(3)), (1L, vec(3)), (2L, vec(4))).toDF("query_id", "qv"), k = 5, nprobe = 3)
    assert(twin.filter(_.getLong(0) == 0L).map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      twin.filter(_.getLong(0) == 1L).map(r => (r.getLong(2), r.getLong(3))).toSeq)
    // vec 5 re-added: its rows span the base and the appended file, and
    // the ADC sum adds both
    AnnIndex.appendDelta(spark, s"$dir/idx", Seq((5L, vec(5))).toDF("vec_id", "embedding"),
      m = m, sub = sub)
    val twice = same("a vec_id appended twice",
      Seq((0L, vec(5)), (1L, vec(6))).toDF("query_id", "qv"), k = 10, nprobe = cells)
    assert(twice.exists(_.getLong(2) == 5L))
    // more slots than reduce partitions: several slots share one heap pass
    val dp = spark.sparkContext.defaultParallelism
    val many = same(s"${2 * dp + 1} queries, slots sharing reduce partitions",
      (0 until 2 * dp + 1).map(i => (i.toLong, vec(i * 13))).toDF("query_id", "qv"), k = 5, nprobe = 3)
    assert(many.map(_.getLong(0)).distinct.length == 2 * dp + 1)
    val one = same("k above the candidate count",
      Seq((0L, vec(3)), (1L, vec(77))).toDF("query_id", "qv"), k = 1000, nprobe = 1)
    assert(one.nonEmpty && one.length < 2 * 120)
    val selfInts = same("int query_id, excludeSelf",
      (0 until 6).map(i => (i, vec(i))).toDF("query_id", "qv"), k = 10, nprobe = 4, excludeSelf = true)
    assert(selfInts.length == 60 && selfInts.forall(r => r.getInt(0).toLong != r.getLong(2)))
    // vec 3's vector under two more ids: equal codes, so equal adc_u for
    // every query; the tie goes to the lower vec_id, also across the k cut
    AnnIndex.appendDelta(spark, s"$dir/idx",
      Seq((1003L, vec(3)), (1004L, vec(3))).toDF("vec_id", "embedding"), m = m, sub = sub)
    val tieQ = Seq((0L, vec(3)), (1L, vec(40))).toDF("query_id", "qv")
    val allTies = same("equal adc_u ties, k above the candidate count", tieQ, k = 200, nprobe = cells)
    val tied = allTies.filter(r => r.getLong(0) == 0L && Set(3L, 1003L, 1004L)(r.getLong(2)))
    assert(tied.map(_.getLong(2)).toSeq == Seq(3L, 1003L, 1004L) && tied.map(_.get(3)).distinct.length == 1,
      tied.toSeq)
    val cut = same("equal adc_u ties across the k cut", tieQ, k = tied(1).getLong(1).toInt, nprobe = cells)
    assert(cut.filter(_.getLong(0) == 0L).map(_.getLong(2)).toSet.intersect(Set(3L, 1003L, 1004L)) ==
      Set(3L, 1003L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("metadata memo: build seeds what a cold read of the directory returns, on both build paths") {
    import spark.implicits._
    val dir = tempDirectory("graft_annmemo").toString
    val emb = (0 until 80).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    def cold(idx: String): (Seq[(Int, Seq[Double])], Seq[((Long, Long), Seq[Double])]) = (
      spark.read.parquet(s"$idx/centroids.parquet")
        .select($"centroid_id", $"centroid".cast("array<double>")).as[(Int, Seq[Double])]
        .collect().sortBy(_._1).toSeq,
      spark.read.parquet(s"$idx/codebook.parquet")
        .select($"s", $"code", $"cent".cast("array<double>")).as[(Long, Long, Seq[Double])]
        .collect().map { case (s, c, v) => (s, c) -> v }.sortBy(_._1).toSeq)
    try {
      for ((path, limit) <- Seq("local" -> None, "distributed" -> Some("0"))) {
        limit.foreach(spark.conf.set("spark.graft.localRowLimit", _))
        try AnnIndex.build(emb, s"$dir/$path", m = 8, sub = 2, kcode = 16)
        finally spark.conf.unset("spark.graft.localRowLimit")
        val ((cents, cb), jobs) = JobNames.during(spark.sparkContext) {
          AnnIndex.metadata(spark, s"$dir/$path", 8)
        }
        assert(jobs.isEmpty, s"$path: the first read after build ran jobs:\n" + jobs.mkString("\n"))
        val (wantCents, wantCb) = cold(s"$dir/$path")
        val gotCents = cents.map { case (c, v) => c -> v.toSeq }.sortBy(_._1).toSeq
        val gotCb = cb.map { case (s, c, v) => (s, c) -> v.toSeq }.sortBy(_._1)
        assert(gotCents.map(_._1) == wantCents.map(_._1), path)
        assert(gotCb.map(_._1) == wantCb.map(_._1), path)
        // element by element as doubles: bit-equal, NaN included
        for (((_, g), (_, w)) <- gotCents.zip(wantCents) ++ gotCb.zip(wantCb)) {
          assert(g.length == w.length, path)
          g.zip(w).foreach { case (a, b) =>
            assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b), path)
          }
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("metadata memo: a second query on an unchanged index runs no metadata job; a rebuilt or replaced index is re-read") {
    import spark.implicits._
    val (m, sub) = (8, 2)
    val dir = tempDirectory("graft_annstale").toString
    def corpus(seed: Int): DataFrame =
      (0 until 80).map(i => (i.toLong, vec(i * 7 + seed))).toDF("vec_id", "embedding")
    val queries = Seq((0L, vec(3)), (1L, vec(77))).toDF("query_id", "qv")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    def served(idx: String): Seq[String] = rows(AnnIndex.query(spark, idx, queries, 5, 3, m, sub))
    // the metadata read's jobs, by the frame that submits them (the serve
    // job's collect is in AnnIndex too)
    def fromAnnIndex(jobs: Seq[Seq[String]]): Seq[String] = jobs.flatten.filter(n =>
      n.contains("graft.index.AnnIndex$.metadata(") || n.startsWith("parquet at AnnIndex"))
    try {
      AnnIndex.build(corpus(0), s"$dir/a", m = m, sub = sub, kcode = 16)
      // a copy this driver never built: its first query reads the metadata
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$dir/a"),
        new java.io.File(s"$dir/copy"))
      val (first, firstJobs) = JobNames.callStacks(spark.sparkContext)(served(s"$dir/copy"))
      assert(fromAnnIndex(firstJobs).nonEmpty, firstJobs.mkString("\n"))
      val (second, secondJobs) = JobNames.callStacks(spark.sparkContext)(served(s"$dir/copy"))
      assert(fromAnnIndex(secondJobs).isEmpty, secondJobs.mkString("\n"))
      assert(first == second && first == rows(relationalQuery(s"$dir/copy", queries, 5, 3, m, sub)))
      // rebuild a different corpus into the same directory
      AnnIndex.build(corpus(1), s"$dir/a", m = m, sub = sub, kcode = 16)
      val rebuilt = served(s"$dir/a")
      assert(rebuilt == rows(relationalQuery(s"$dir/a", queries, 5, 3, m, sub)))
      assert(rebuilt != first)
      // replace the copy's files behind this driver's back: the memo entry
      // filled from the old files must miss
      AnnIndex.build(corpus(2), s"$dir/b", m = m, sub = sub, kcode = 16)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/copy"))
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$dir/b"),
        new java.io.File(s"$dir/copy"))
      val replaced = served(s"$dir/copy")
      assert(replaced == rows(relationalQuery(s"$dir/copy", queries, 5, 3, m, sub)))
      assert(replaced != first)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q210's index directory is deleted by releaseStaging") {
    import spark.implicits._
    // a 40-vector, 64-dim embeddings table: q210 builds with m = 8, sub = 8
    val sf = tempDirectory("graft_annsf").toString
    (0 until 40).map(i => (i.toLong, (0 until 64).map(d => math.sin(i * 31 + d * 7 + 1).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$sf/embeddings.parquet")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def annDirs(): Set[String] = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_annidx")).map(_.getPath).toSet
    val before = annDirs()
    val rows = SparkEntry.queries("q210_ann_index_serve")(spark, sf).collect()
    assert(rows.nonEmpty)
    val made = annDirs() -- before
    assert(made.nonEmpty, "q210 built its index outside java.io.tmpdir")
    SparkEntry.releaseStaging(spark)
    assert(made.forall(d => !new java.io.File(d).exists()), made)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sf))
  }

  test("metadata memo: releaseStaging evicts the entry of the q210 index it deletes") {
    import spark.implicits._
    val sf = tempDirectory("graft_annsf").toString
    (0 until 40).map(i => (i.toLong, (0 until 64).map(d => math.cos(i * 17 + d * 5).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$sf/embeddings.parquet")
    val before = AnnIndex.memoSize
    try {
      assert(SparkEntry.queries("q210_ann_index_serve")(spark, sf).collect().nonEmpty)
      // a full memo makes room for the new entry by evicting its oldest
      val seeded = math.min(before + 1, AnnIndex.MemoCap)
      assert(AnnIndex.memoSize == seeded, "q210's build did not seed the memo")
      SparkEntry.releaseStaging(spark)
      assert(AnnIndex.memoSize == seeded - 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sf))
  }

  test("metadata memo: holds at most MemoCap indexes, evicting the oldest; an evicted index serves the same rows after a cold read") {
    import spark.implicits._
    val dir = tempDirectory("graft_anncap").toString
    val emb = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = Seq((0L, vec(3)), (1L, vec(17))).toDF("query_id", "qv")
    def served(idx: String): Seq[String] =
      AnnIndex.query(spark, idx, queries, 5, 2, 8, 2).collect().map(_.toString).sorted.toSeq
    try {
      AnnIndex.build(emb, s"$dir/0", m = 8, sub = 2, kcode = 16)
      val first = served(s"$dir/0")
      for (i <- 1 to AnnIndex.MemoCap) {
        AnnIndex.build(emb, s"$dir/$i", m = 8, sub = 2, kcode = 16)
        assert(AnnIndex.memoSize <= AnnIndex.MemoCap, s"after build $i")
      }
      // index 0 was filled first, so the last build evicted it
      val (again, jobs) = JobNames.callStacks(spark.sparkContext)(served(s"$dir/0"))
      assert(jobs.flatten.exists(_.contains("graft.index.AnnIndex$.metadata(")), jobs.mkString("\n"))
      assert(first.nonEmpty && again == first)
      assert(AnnIndex.memoSize <= AnnIndex.MemoCap)
    } finally {
      AnnIndex.forget(dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("appendDelta: delta-only encode against the stored codebook; base code files untouched; on-disk codes match the driver-side replay") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val m = 8
    val sub = 2
    val kcode = 16
    val dir = tempDirectory("graft_anndelta").toString
    val baseVs = (0 until 80).map(i => i.toLong -> vec(i).toArray)
    val deltaVs = (80 until 100).map(i => i.toLong -> vec(i).toArray)
    baseVs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/base.parquet")
    AnnIndex.build(spark.read.parquet(s"$dir/base.parquet"), s"$dir/idx",
      m = m, sub = sub, kcode = kcode)
    def codeFiles(): Set[java.nio.file.Path] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/idx/codes.parquet"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
    val before = codeFiles()
    AnnIndex.appendDelta(spark,
      s"$dir/idx", deltaVs.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding"), m = m, sub = sub)
    // append-only: every pre-existing code file survives byte-identical slots
    assert(before.subsetOf(codeFiles()), "append rewrote base code files")
    val codes = spark.read.parquet(s"$dir/idx/codes.parquet")
    assert(codes.count() == m.toLong * (baseVs.size + deltaVs.size))
    // the on-disk delta codes must equal the q178 encode replay against
    // the BASE-TRAINED codebook (Lloyd from the 16 lowest base ids)
    val cbF = lloydCb(baseVs, m, sub, kcode, iters = 2)
    val cb: Array[Array[Array[Double]]] = cbF.map(_.map(_.map(_.toDouble)))
    def encode(v: Array[Float]): Array[Long] = Array.tabulate(m) { s =>
      val sv = v.slice(s * sub, s * sub + sub).map(_.toDouble)
      (0 until kcode).maxBy { c =>
        val cent = cb(s)(c)
        (sv.zip(cent).map { case (a, b) => a * b }.sum -
          cent.map(x => x * x).sum / 2.0, -c)
      }.toLong
    }
    val got = codes.filter($"vec_id" >= 80)
      .select($"vec_id", $"s", $"code").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == m * deltaVs.size)
    deltaVs.foreach { case (id, v) =>
      val want = encode(v)
      (0 until m).foreach { s =>
        assert(got((id, s.toLong)) == want(s), s"vec $id sub $s")
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("fused encode: build and appendDelta write the relational assign ⋈ encode rows, degenerate deltas included") {
    import spark.implicits._
    val m = 8
    val sub = 2
    val dir = tempDirectory("graft_annfused").toString
    def buildSame(what: String, emb: DataFrame, idx: String, m: Int, sub: Int): Unit = {
      AnnIndex.build(emb, idx, m = m, sub = sub, kcode = 16)
      assert(codeRows(spark.read.parquet(s"$idx/codes.parquet")) ==
        codeRows(relationalCodes(emb, idx, m, sub)), what)
    }
    (0 until 80).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/base.parquet")
    val base = s"$dir/base"
    buildSame("80-vector corpus", spark.read.parquet(s"$dir/base.parquet"), base, m, sub)
    val (ask, askDir, _) = askFixture("graft_annfusedask")
    buildSame("ask corpus", ask.select($"vector_id".as("vec_id"), $"content_vector".as("embedding")),
      s"$askDir/idx2", m, sub)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(askDir))
    buildSame("64-dim corpus at m = 8, sub = 8",
      (0 until 40).map(i => (i.toLong, (0 until 64).map(d => math.sin(i * 31 + d * 7 + 1).toFloat)))
        .toDF("vec_id", "embedding"), s"$dir/wide", 8, 8)
    buildSame("int ids, one id held by two vectors",
      ((0 until 50).map(i => (i, vec(i))) :+ (7 -> vec(77))).toDF("vec_id", "embedding"),
      s"$dir/intids", m, sub)
    // each delta lands in a fresh codes relation next to the base index's
    // centroids and codebook, so the appended rows are the whole relation
    def deltaSame(what: String, delta: DataFrame): Seq[String] = {
      val idx = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(dir), "delta").toString
      for (rel <- Seq("centroids.parquet", "codebook.parquet"))
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(s"$base/$rel"), new java.io.File(s"$idx/$rel"))
      AnnIndex.appendDelta(spark, idx, delta, m = m, sub = sub)
      val got = codeRows(spark.read.parquet(s"$idx/codes.parquet"))
      assert(got == codeRows(relationalCodes(delta, idx, m, sub)), what)
      got
    }
    val nullId: Option[Long] = None
    def delta(rows: (Option[Long], Seq[Float])*): DataFrame = rows.toDF("vec_id", "embedding")
    deltaSame("plain delta", (80 until 100).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"))
    assert(deltaSame("two vectors under one vec_id",
      delta(Some(80L) -> vec(80), Some(80L) -> vec(81), Some(82L) -> vec(82))).size == 2 * m)
    assert(deltaSame("null vec_id", delta(nullId -> vec(83), Some(84L) -> vec(84))).size == m)
    deltaSame("null embedding", delta(Some(85L) -> null, Some(86L) -> vec(86)))
    deltaSame("vectors shorter than m·sub",
      delta(Some(87L) -> vec(87).take(5), Some(88L) -> vec(88).take(1), Some(89L) -> Seq.empty[Float]))
    deltaSame("all-zero vector", delta(Some(90L) -> Seq.fill(16)(0.0f)))
    deltaSame("NaN component", delta(Some(91L) -> vec(91).updated(3, Float.NaN)))
    deltaSame("array<double> embeddings with int ids",
      (0 until 6).map(i => (200 + i, vec(200 + i).map(_.toDouble))).toDF("vec_id", "embedding"))
    // an empty delta appends nothing and does not throw
    val before = spark.read.parquet(s"$base/codes.parquet").count()
    AnnIndex.appendDelta(spark, base,
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), m = m, sub = sub)
    assert(spark.read.parquet(s"$base/codes.parquet").count() == before)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("appendDelta runs at most 3 Spark jobs and no parquet schema-inference job") {
    import spark.implicits._
    val dir = tempDirectory("graft_anndeltajobs").toString
    AnnIndex.build((0 until 80).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
      s"$dir/idx", m = 8, sub = 2, kcode = 16)
    val delta = (80 until 100).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val (_, jobs) = JobNames.callStacks(spark.sparkContext) {
      AnnIndex.appendDelta(spark, s"$dir/idx", delta, m = 8, sub = 2)
    }
    assert(jobs.size <= 3, s"${jobs.size} jobs:\n" + jobs.map(_.map(_.takeWhile(_ != '\n'))).mkString("\n"))
    assert(!jobs.flatten.exists(_.contains("DataFrameReader.parquet")), jobs.mkString("\n"))
    assert(spark.read.parquet(s"$dir/idx/codes.parquet").count() == 8L * 100)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("nprobe = all cells: persisted-index ADC equals the driver-side PQ brute force bit-for-bit") {
    import spark.implicits._
    val n = 60
    val m = 8
    val sub = 2
    val kcode = 16
    val dir = tempDirectory("graft_annadc").toString
    val vs = (0 until n).map(i => i.toLong -> vec(i).toArray)
    vs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val emb = spark.read.parquet(s"$dir/emb.parquet")
    AnnIndex.build(emb, s"$dir/idx", m = m, sub = sub, kcode = kcode)
    val qids = Seq(5L, 42L)
    val queries = qids.map(q => (q, vs(q.toInt)._2.toSeq)).toDF("query_id", "qv")
    val got = AnnIndex.query(spark, s"$dir/idx", queries,
        k = 8, nprobe = 64, m = m, sub = sub, excludeSelf = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // driver-side replay of the exact q178 algebra (trained codebook)
    val cbF = lloydCb(vs, m, sub, kcode, iters = 2)
    val cb: Array[Array[Array[Double]]] = cbF.map(_.map(_.map(_.toDouble)))
    def encode(v: Array[Float]): Array[Int] = Array.tabulate(m) { s =>
      val sv = v.slice(s * sub, s * sub + sub).map(_.toDouble)
      (0 until kcode).maxBy { c =>
        val cent = cb(s)(c)
        val sc = sv.zip(cent).map { case (a, b) => a * b }.sum -
          cent.map(x => x * x).sum / 2.0
        (sc, -c) // ties -> lowest code
      }
    }
    val codes = vs.map { case (id, v) => id -> encode(v) }.toMap
    for (qid <- qids) {
      val qv = vs(qid.toInt)._2
      val lut: Array[Array[Long]] = Array.tabulate(m) { s =>
        val qs = qv.slice(s * sub, s * sub + sub).map(_.toDouble)
        Array.tabulate(kcode)(c =>
          math.floor(qs.zip(cb(s)(c)).map { case (a, b) => a * b }.sum * 1000000.0).toLong)
      }
      val scored = vs.filter(_._1 != qid).map { case (id, _) =>
        id -> (0 until m).map(s => lut(s)(codes(id)(s))).sum
      }
      val want = scored.sortBy { case (id, u) => (-u, id) }.take(8)
      want.zipWithIndex.foreach { case ((id, u), i) =>
        assert(got((qid, i + 1L)) == ((id, u)),
          s"q=$qid rank=${i + 1}: got ${got((qid, i + 1L))}, want ($id, $u)")
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("PqCodebook.train: iters=0 is the seed grid; training cuts quantization error; exact clone invariance") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = (0 until 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .localCheckpoint(false)
    val m = 8; val sub = 2; val kcode = 16
    def cbMap(cb: org.apache.spark.sql.DataFrame) = cb.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Float](2)).toMap
    // shape + seed equivalence at iters = 0
    val cb0 = cbMap(graft.operators.PqCodebook.train(emb, m, sub, kcode, 0))
    assert(cb0.size == m * kcode && cb0.values.forall(_.length == sub))
    for (s <- 0 until m; c <- 0 until kcode)
      assert(cb0((s.toLong, c.toLong)) == vec(c).slice(s * sub, s * sub + sub),
        s"seed mismatch at ($s,$c)")
    // Lloyd training reduces total quantization error (sum of L2² to the
    // assigned centroid), computed the same way for both codebooks
    def qerr(cb: org.apache.spark.sql.DataFrame): Double =
      graft.operators.PqCodebook.subVectors(emb, m, sub)
        .join(broadcast(cb), Seq("s"))
        .select($"vec_id", $"s",
          graft.functions.VectorFunctions.dotProduct(
            expr("zip_with(sv, cent, (a, b) -> a - b)"),
            expr("zip_with(sv, cent, (a, b) -> a - b)")).as("d2"))
        .groupBy($"vec_id", $"s").agg(min($"d2").as("best"))
        .agg(sum($"best")).collect().head.getDouble(0)
    val cb2df = graft.operators.PqCodebook.train(emb, m, sub, kcode, 2)
    val e0 = qerr(graft.operators.PqCodebook.train(emb, m, sub, kcode, 0))
    val e2 = qerr(cb2df)
    assert(e2 < e0 * 0.9, s"training did not reduce quantization error: $e2 vs $e0")
    // exact clone invariance (q178's clone closed form at test scale):
    // 3 exact copies with offset ids train to the BIT-identical codebook
    val cloned = (0 until 3).map(k =>
      emb.select(($"vec_id" + lit(k * 1000L)).as("vec_id"), $"embedding"))
      .reduce(_ unionByName _)
    val cbC = cbMap(graft.operators.PqCodebook.train(cloned, m, sub, kcode, 2))
    assert(cbC == cbMap(cb2df))
  }
}
