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
class AnnIndexSpec extends AnyFunSuite {

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

  /** 60 "doc i" records embedded by the ask path's own embedder, persisted
    * as a vector-index table, and their AnnIndex (m = 8, sub = 2) under
    * `dir/idx`.
    */
  private def askFixture(prefix: String): (DataFrame, String, graft.embed.DeterministicEmbedder) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
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
    val dir = java.nio.file.Files.createTempDirectory("graft_annpin").toString
    (0 until 120).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/raw_corpus.parquet")
    val emb = spark.read.parquet(s"$dir/raw_corpus.parquet")
    AnnIndex.build(emb, s"$dir/idx", m = 8, sub = 2, kcode = 16)
    // literal query batch: the serve path gets vectors from the caller,
    // not from any corpus relation
    val queries = Seq((0L, vec(3)), (1L, vec(77))).toDF("query_id", "qv")
    val res = AnnIndex.query(spark, s"$dir/idx", queries,
      k = 5, nprobe = 2, m = 8, sub = 2)
    val plan = res.queryExecution.executedPlan.toString
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
  }

  test("askViaIndex: retrieval runs off the persisted index; the context join prunes the corpus scan to (id, text); prompt assembles in rank order") {
    import spark.implicits._
    // corpus whose vectors come from the SAME embedder so the question
    // "doc 7" retrieves doc 7's own vector as the top hit
    val (index, dir, embedder) = askFixture("graft_annask")
    val (hits, prompt) = graft.query.Retriever.askViaIndex(
      index, s"$dir/idx", "doc 7", embedder, k = 3, nprobe = 3, m = 8, sub = 2)
    val plan = hits.queryExecution.executedPlan.toString
    // the serve side reads persisted codes; the corpus scan exists ONLY
    // for the text fetch — its embedding column must be pruned away
    assert(plan.contains("codes.parquet"), plan)
    assert(!plan.contains("content_vector"),
      "context join read the embedding column:\n" + plan)
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
  }

  test("askViaIndex runs at most 10 Spark jobs; the serve path runs no parquet schema-inference job") {
    import spark.implicits._
    val (index, dir, embedder) = askFixture("graft_annjobs")
    val (prompt, jobs) = JobNames.during(spark.sparkContext) {
      graft.query.Retriever.askViaIndex(
        index, s"$dir/idx", "doc 7", embedder, k = 3, nprobe = 3, m = 8, sub = 2)._2
    }
    assert(prompt.endsWith("\n\n Question: doc 7"))
    assert(jobs.size <= 10, s"${jobs.size} jobs:\n" + jobs.mkString("\n"))
    val (_, serveJobs) = JobNames.during(spark.sparkContext) {
      AnnIndex.query(spark, s"$dir/idx",
          Seq((0L, embedder.embedOne("doc 7").toSeq)).toDF("query_id", "qv"),
          k = 3, nprobe = 3, m = 8, sub = 2)
        .collect()
    }
    assert(!serveJobs.flatten.exists(_.startsWith("parquet at AnnIndex")),
      serveJobs.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("driver-side cell ranking and LUT: same rows as the relational form on degenerate batches") {
    import spark.implicits._
    val m = 8
    val sub = 2
    val dir = java.nio.file.Files.createTempDirectory("graft_anndegen").toString
    (0 until 120).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/emb.parquet")
    AnnIndex.build(spark.read.parquet(s"$dir/emb.parquet"), s"$dir/idx",
      m = m, sub = sub, kcode = 16)
    val cells = spark.read.parquet(s"$dir/idx/centroids.parquet").count().toInt
    def same(what: String, queries: DataFrame, k: Int, nprobe: Int,
        excludeSelf: Boolean = false): Array[org.apache.spark.sql.Row] = {
      val got = AnnIndex.query(spark, s"$dir/idx", queries, k, nprobe, m, sub, excludeSelf)
        .collect().sortBy(r => (r.getLong(0), r.getLong(1)))
      val want = relationalQuery(s"$dir/idx", queries, k, nprobe, m, sub, excludeSelf)
        .collect().sortBy(r => (r.getLong(0), r.getLong(1)))
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
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q210's index directory is deleted by releaseStaging") {
    import spark.implicits._
    // a 40-vector, 64-dim embeddings table: q210 builds with m = 8, sub = 8
    val sf = java.nio.file.Files.createTempDirectory("graft_annsf").toString
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

  test("appendDelta: delta-only encode against the stored codebook; base code files untouched; on-disk codes match the driver-side replay") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val m = 8
    val sub = 2
    val kcode = 16
    val dir = java.nio.file.Files.createTempDirectory("graft_anndelta").toString
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
  }

  test("nprobe = all cells: persisted-index ADC equals the driver-side PQ brute force bit-for-bit") {
    import spark.implicits._
    val n = 60
    val m = 8
    val sub = 2
    val kcode = 16
    val dir = java.nio.file.Files.createTempDirectory("graft_annadc").toString
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
    // exact clone invariance (the ScaleProbe closed form at test scale):
    // 3 exact copies with offset ids train to the BIT-identical codebook
    val cloned = (0 until 3).map(k =>
      emb.select(($"vec_id" + lit(k * 1000L)).as("vec_id"), $"embedding"))
      .reduce(_ unionByName _)
    val cbC = cbMap(graft.operators.PqCodebook.train(cloned, m, sub, kcode, 2))
    assert(cbC == cbMap(cb2df))
  }
}
