package graft

import org.apache.spark.JobNames
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.AnnIndex
import graft.operators.{Dedup, GraphMetrics, PageRank, PqCodebook}

/** Parity pins for every size-gated in-process fast path behind
  * [[graft.operators.LocalStrategy]] — the graph fixpoints of
  * [[graft.operators.LocalGraph]], the PQ Lloyd trainer and q249's Markov
  * iteration: each must produce bit-identical output to the distributed
  * loop it replaces. Each test runs the same operator twice — once with the
  * default limit (local path) and once with `spark.graft.localRowLimit = 0`
  * (distributed path) — and compares the full sorted result sets. The
  * graphs are engineered to exercise the tricky corners: multi-hop chains
  * (labels must propagate, not just copy a neighbor), vote ties, peel
  * cascades, rings (BFS frontier overlap), and string ids for PageRank
  * (the q284 host graph). The degenerate inputs (fewer vectors than codes,
  * null ids, mixed int/long ids, string ids) must be handed to the
  * distributed loop by the gate rather than crash or diverge locally.
  */
class LocalGraphSpec extends AnyFunSuite with TempDirs {

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

  private val Limit = "spark.graft.localRowLimit"

  /** `f` with the limit unset, then with the limit at 0. */
  private def onBothPaths[T](f: => T): (T, T) = {
    spark.conf.unset(Limit)
    val local = f
    spark.conf.set(Limit, "0")
    val dist =
      try f
      finally spark.conf.unset(Limit)
    (local, dist)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def bothPaths(f: => DataFrame): (Seq[String], Seq[String]) = onBothPaths(rows(f))

  // chain 1-2-3-4-5, triangle 10-11-12 (+ a chord), isolated pair 20-21,
  // self-loop 30-30, duplicate-ish long path 40..45
  private def pairs(): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L),
      (40L, 41L), (41L, 42L), (42L, 43L), (43L, 44L), (44L, 45L)
    ).toDF("id_a", "id_b")
  }

  private def allIds(): DataFrame = {
    val s = spark
    import s.implicits._
    ((1L to 5L) ++ (10L to 12L) ++ (20L to 21L) ++ (30L to 31L) ++
      (40L to 45L)).toDF("doc_id")
  }

  test("components: local union-find == distributed min-label rounds") {
    val (local, dist) = bothPaths(
      Dedup.resolveClustersSparse(pairs(), allIds()))
    assert(local == dist)
    // sanity: the 5-chain really collapsed to min id 1, singletons kept
    assert(local.exists(_.contains("[5,1]")))
    assert(local.exists(_.contains("[30,30]")))
  }

  test("components: the distributed rounds on a multi-hop chain run at most 44 jobs") {
    val s = spark
    import s.implicits._
    // chain 1-2-…-9: the min label needs several rounds to reach node 9;
    // each round's cut is materialized by that round's mover count, not by
    // a job of its own (51 jobs when every round also ran an eager cut)
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (1L to 9L).toDF("doc_id")
    spark.conf.set(Limit, "0")
    val (labels, jobs) =
      try JobNames.during(spark.sparkContext)(
        Dedup.resolveClustersSparse(chain, ids).collect())
      finally spark.conf.unset(Limit)
    assert(labels.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 9L).map(_ -> 1L).toMap)
    assert(jobs.size <= 44, s"${jobs.size} jobs:\n" + jobs.map(_.mkString(", ")).mkString("\n"))
  }

  test("guarded components: flag + keeper parity") {
    val (local, dist) = bothPaths(
      Dedup.guardedClusters(pairs(), allIds(), maxShare4 = 2000L))
    assert(local == dist)
  }

  test("pagerank: local integer walk == distributed rounds (long ids)") {
    val (local, dist) = bothPaths(
      PageRank.ranks(pairs(), "id_a", "id_b", iters = 3))
    assert(local == dist)
  }

  test("pagerank: string ids (host-graph shape)") {
    val s = spark
    import s.implicits._
    val hosts = Seq(("a.com", "b.com"), ("b.com", "c.com"), ("a.com", "c.com"),
      ("d.com", "e.com")).toDF("a", "b")
    val (local, dist) = bothPaths(PageRank.ranks(hosts, "a", "b", iters = 3))
    assert(local == dist)
  }

  test("personalized pagerank: seed teleport parity") {
    val (local, dist) = bothPaths(
      PageRank.personalizedRanks(pairs(), "id_a", "id_b", Seq(1L, 10L), iters = 3))
    assert(local == dist)
  }

  test("k-core: peel cascade parity (chain unravels, triangle survives)") {
    val (local, dist) = bothPaths(
      GraphMetrics.kCore(pairs(), "id_a", "id_b", k = 2, rounds = 8))
    assert(local == dist)
    // the triangle is the only 2-core of this graph
    assert(local.size == 3)
  }

  test("label propagation: vote + tie parity") {
    val (local, dist) = bothPaths(
      GraphMetrics.labelPropagation(pairs(), "id_a", "id_b", 3))
    assert(local == dist)
  }

  test("harmonic centrality: bounded BFS parity (hops 1..3)") {
    for (h <- 1 to 3) {
      val (local, dist) = bothPaths(
        GraphMetrics.harmonicCentrality(pairs(), "id_a", "id_b", hops = h))
      assert(local == dist, s"hops=$h")
    }
  }

  test("harmonic centrality guarded: giant-component flag parity") {
    val (local, dist) = bothPaths(
      GraphMetrics.harmonicCentralityGuarded(pairs(), "id_a", "id_b",
        hops = 3, maxShare4 = 2000L, totalIds = allIds()))
    assert(local == dist)
  }

  // ---- degenerate inputs: the gate hands them to the distributed loop ----

  test("components: int id_a with a long id_b beyond the int range") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1, 5000000000L), (2, 3L), (3, 4L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 4L, 5000000000L, 6L).toDF("doc_id")
    val (local, dist) = bothPaths(Dedup.resolveClustersSparse(pairs, ids))
    assert(local == dist)
    assert(local.contains("[5000000000,1]") && local.contains("[4,2]"), local)
  }

  test("components: a null endpoint") {
    val s = spark
    import s.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), None), (Some(3L), Some(4L)))
      .toDF("id_a", "id_b")
    val (local, dist) = bothPaths(Dedup.resolveClustersSparse(pairs, allIds()))
    assert(local == dist)
    assert(local.contains("[2,1]") && local.contains("[4,3]"), local)
  }

  test("pagerank: string host ids with a null endpoint") {
    val s = spark
    import s.implicits._
    val hosts = Seq(("a.com", "b.com"), ("b.com", null), ("c.com", "a.com"),
      ("d.com", "e.com")).toDF("a", "b")
    val (local, dist) = bothPaths(PageRank.ranks(hosts, "a", "b", iters = 3))
    assert(local == dist)
    assert(!local.exists(_.startsWith("[null")), local)
  }

  // 16-dim vectors (m = 8 sub-blocks of 2), the AnnIndexSpec family
  private def vec(i: Int): Seq[Float] =
    (0 until 16).map(d => math.sin(i * 31 + d * 7 + 1).toFloat)

  private def trainBoth(emb: DataFrame): (Seq[String], Seq[String]) =
    bothPaths(PqCodebook.train(emb, m = 8, sub = 2, kcode = 16, iters = 2))

  test("pq train: fewer vectors than codes") {
    val s = spark
    import s.implicits._
    val (local, dist) =
      trainBoth((0 until 5).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"))
    assert(local == dist)
    assert(local.size == 8 * 5)
  }

  test("pq train: string ids, a null id, a null vector, a vector shorter than m·sub") {
    val s = spark
    import s.implicits._
    val base = (0 until 40).map(i => (Option(i.toLong), vec(i)))
    val cases = Seq(
      "string ids" -> (0 until 40).map(i => (f"v$i%02d", vec(i))).toDF("vec_id", "embedding"),
      "null id" -> base.updated(3, (None, vec(3))).toDF("vec_id", "embedding"),
      "null vector" -> base.updated(5, (Some(5L), null)).toDF("vec_id", "embedding"),
      "2-element vector" -> base.updated(7, (Some(7L), vec(7).take(2))).toDF("vec_id", "embedding"))
    for ((what, emb) <- cases) {
      val (local, dist) = trainBoth(emb)
      assert(local == dist, what)
      assert(local.nonEmpty, what)
    }
  }

  test("pq train: numeric-string ids seed in string order, as the distributed loop does") {
    val s = spark
    import s.implicits._
    val ids = (0 until 40).map(_.toString)
    val byString = ids.sorted.zipWithIndex.toMap
    val (local, dist) = trainBoth(ids.map(id => (id, vec(id.toInt))).toDF("vec_id", "embedding"))
    assert(local == dist)
    // the same vectors keyed by their ids' string rank train to the same
    // codebook ("10" seeds before "2")
    val reKeyed = ids.map(id => (byString(id).toLong, vec(id.toInt))).toDF("vec_id", "embedding")
    assert(local == trainBoth(reKeyed)._1)
  }

  test("pq train: the input is evaluated once per row on either path") {
    val s = spark
    import s.implicits._
    for (limit <- Seq(None, Some("0"))) {
      val evals = spark.sparkContext.longAccumulator("pq input evaluations")
      val seen = udf { (_: Long) => evals.add(1); true }.asNondeterministic()
      val emb = spark.range(0, 40)
        .select($"id".as("vec_id"),
          expr("transform(sequence(0, 15), d -> cast(sin(id * 31 + d * 7 + 1) as float))")
            .as("embedding"))
        .filter(seen($"vec_id"))
      limit.fold(spark.conf.unset(Limit))(spark.conf.set(Limit, _))
      try PqCodebook.train(emb, m = 8, sub = 2, kcode = 16, iters = 2).collect()
      finally spark.conf.unset(Limit)
      assert(evals.value == 40L, s"limit $limit")
    }
  }

  /** The "ann build" gate's choices among `jobs`' descriptions. */
  private def annChoices(jobs: Seq[String]): Seq[String] =
    jobs.filter(d => d != null && d.startsWith("ann build gate:") && d.contains("→"))
      .map(_.split("→ ").last)

  /** Every row of the three relations `AnnIndex.build` writes for `emb`,
    * and the gate's choice, with the limit unset and then at 0.
    */
  private def buildBoth(emb: DataFrame, m: Int = 8, sub: Int = 2)
      : ((Seq[String], Seq[String]), (Seq[String], Seq[String])) = {
    val root = tempDirectory("graft_localann").toString
    var n = 0
    def built(): (Seq[String], Seq[String]) = {
      n += 1
      val dir = s"$root/idx$n"
      val (_, jobs) = JobNames.descriptions(spark.sparkContext)(
        AnnIndex.build(emb, dir, m = m, sub = sub, kcode = 16))
      (Seq("centroids", "codebook", "codes").flatMap(rel =>
        rows(spark.read.parquet(s"$dir/$rel.parquet")).map(r => s"$rel $r")), annChoices(jobs))
    }
    try onBothPaths(built())
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("AnnIndex.build on 10 vectors succeeds and equals the limit-0 build") {
    val s = spark
    import s.implicits._
    val ((local, choice), (dist, _)) =
      buildBoth((0 until 10).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"))
    assert(local == dist)
    assert(choice == Seq("distributed"))
    assert(local.count(_.startsWith("codes ")) == 8 * 10)
  }

  test("AnnIndex.build: the in-process build writes the distributed build's centroids, codebook and codes") {
    val s = spark
    import s.implicits._
    val embedder = new graft.embed.DeterministicEmbedder(16)
    val cases = Seq(
      ("80-vector corpus", (0 until 80).map(i => (i.toLong, vec(i))), 2),
      ("ask corpus", (0 until 60).map(i => (i.toLong, embedder.embedOne(s"doc $i").toSeq)), 2),
      ("64-dim corpus at m = 8, sub = 8",
        (0 until 40).map(i => (i.toLong, (0 until 64).map(d => math.sin(i * 31 + d * 7 + 1).toFloat))), 8))
    for ((what, vs, sub) <- cases) {
      val ((local, localChoice), (dist, distChoice)) =
        buildBoth(vs.toDF("vec_id", "embedding"), sub = sub)
      assert(local == dist, what)
      assert(localChoice == Seq("local") && distChoice == Seq("distributed"), what)
      assert(local.count(_.startsWith("codes ")) == 8 * vs.size, what)
    }
  }

  test("AnnIndex.build hands inputs the in-process build cannot reproduce to the distributed build") {
    val s = spark
    import s.implicits._
    val base = (0 until 40).map(i => (Option(i.toLong), vec(i)))
    val cases = Seq(
      "null id" -> base.updated(3, (None, vec(3))).toDF("vec_id", "embedding"),
      "null vector" -> base.updated(5, (Some(5L), null)).toDF("vec_id", "embedding"),
      "2-element vector" -> base.updated(7, (Some(7L), vec(7).take(2))).toDF("vec_id", "embedding"),
      "string ids" -> (0 until 40).map(i => (f"v$i%02d", vec(i))).toDF("vec_id", "embedding"),
      "array<double> embeddings" ->
        (0 until 40).map(i => (i.toLong, vec(i).map(_.toDouble))).toDF("vec_id", "embedding"))
    for ((what, emb) <- cases) {
      val ((local, choice), (dist, _)) = buildBoth(emb)
      assert(local == dist, what)
      assert(choice == Seq("distributed"), what)
      assert(local.exists(_.startsWith("codes ")), what)
    }
    // an index built from array<double> embeddings serves and takes deltas
    val doubles = cases.last._2
    val dir = tempDirectory("graft_annbuilddouble").toString
    try {
      AnnIndex.build(doubles, dir, m = 8, sub = 2, kcode = 16)
      AnnIndex.appendDelta(spark, dir, doubles.limit(3), m = 8, sub = 2)
      val hits = AnnIndex.query(spark, dir, Seq((0L, vec(3))).toDF("query_id", "qv"),
        k = 3, nprobe = 2, m = 8, sub = 2).collect()
      assert(hits.length == 3)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("AnnIndex.build evaluates its input once per row on either path") {
    val s = spark
    import s.implicits._
    val root = tempDirectory("graft_annevals").toString
    try for (limit <- Seq(None, Some("0"))) {
      val evals = spark.sparkContext.longAccumulator("ann build input evaluations")
      val seen = udf { (_: Long) => evals.add(1); true }.asNondeterministic()
      val emb = spark.range(0, 80)
        .select($"id".as("vec_id"),
          expr("transform(sequence(0, 15), d -> cast(sin(id * 31 + d * 7 + 1) as float))")
            .as("embedding"))
        .filter(seen($"vec_id"))
      limit.fold(spark.conf.unset(Limit))(spark.conf.set(Limit, _))
      try AnnIndex.build(emb, s"$root/idx${limit.isDefined}", m = 8, sub = 2, kcode = 16)
      finally spark.conf.unset(Limit)
      assert(evals.value == 80L, s"limit $limit")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("AnnIndex.build on 80 vectors runs at most 8 Spark jobs behind one gate decision") {
    val s = spark
    import s.implicits._
    val root = tempDirectory("graft_annbuildjobs").toString
    try {
      (0 until 80).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
        .write.parquet(s"$root/emb.parquet")
      val emb = spark.read.parquet(s"$root/emb.parquet")
      val (_, descs) = JobNames.descriptions(spark.sparkContext)(
        AnnIndex.build(emb, s"$root/idx1", m = 8, sub = 2, kcode = 16))
      val (_, names) = JobNames.during(spark.sparkContext)(
        AnnIndex.build(emb, s"$root/idx2", m = 8, sub = 2, kcode = 16))
      assert(descs.size <= 8, s"${descs.size} jobs:\n" + descs.mkString("\n"))
      assert(annChoices(descs) == Seq("local"), descs)
      assert(!descs.exists(d => d != null && d.startsWith("pq train gate")), descs)
      assert(!names.flatten.exists(_.startsWith("count at IvfIndex")), names)
      // centroids and codebook are one file each
      for (rel <- Seq("centroids", "codebook"))
        assert(new java.io.File(s"$root/idx1/$rel.parquet").list()
          .count(_.endsWith(".parquet")) == 1, rel)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("q249: local and distributed power iteration agree on the integer algebra") {
    val s = spark
    import s.implicits._
    val dir = tempDirectory("graft_localq249").toString
    val types = Seq("click", "view", "buy", "share", null)
    // 12 users, 20 events each, one hour apart (ts in epoch nanos)
    val events = for (u <- 0 until 12; e <- 0 until 20) yield {
      val id = u * 100L + e
      (u.toLong, id, (3600L + id * 3600L) * 1000000000L, types((u * 7 + e * e) % 5))
    }
    events.toDF("user_id", "event_id", "ts", "event_type").write.parquet(s"$dir/events.parquet")
    // the query's integer ppm algebra replayed on the driver; a step from
    // or to the null type never enters the matrix (the join on `cur` drops
    // a null source)
    val steps = events.groupBy(_._1).values.toSeq.flatMap(_.sortBy(_._2).map(_._4)
      .sliding(2).collect { case Seq(cur, nxt) if cur != null && nxt != null => (cur, nxt) })
    val c = steps.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cCur = c.groupBy(_._1._1).map { case (cur, m) => cur -> m.values.sum }
    val states = c.keys.map(_._1).toSeq.distinct
    var pi = states.map(_ -> 1000000L / states.size).toMap
    var prev = pi
    for (_ <- 1 to 16) {
      prev = pi
      pi = c.toSeq
        .map { case ((cur, nxt), n) => nxt -> pi(cur) * (n * 1000000L / cCur(cur)) / 1000000L }
        .groupBy(_._1).map { case (nxt, v) => nxt -> v.map(_._2).sum }
    }
    val want = pi.keySet.intersect(prev.keySet).toSeq.sorted
      .map(st => s"[$st,${pi(st)},${math.abs(pi(st) - prev(st))}]")
    def decision(jobs: Seq[String]): Seq[String] =
      jobs.filter(d => d != null && d.startsWith("q249 markov gate:") && d.contains("→"))
    try {
      val ((local, localJobs), (dist, distJobs)) = onBothPaths(JobNames.descriptions(
        spark.sparkContext)(rows(SparkEntry.queries("q249_markov_stationary")(spark, dir))))
      assert(local == dist)
      assert(local == want)
      // the limit at 0 really ran the distributed loop
      assert(decision(localJobs).map(_.split("→ ").last) == Seq("local"), localJobs)
      assert(decision(distJobs).map(_.split("→ ").last) == Seq("distributed"), distJobs)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("each gate names its choice in the job description and restores the caller's") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try {
      val (_, localJobs) = JobNames.descriptions(sc) {
        Dedup.resolveClustersSparse(pairs(), allIds()).collect()
      }
      // adaptive query stages run as jobs of their own under the same
      // description, so each description is listed once
      val gate = localJobs.filter(d => d != null && d.startsWith("components gate:")).distinct
      assert(gate == Seq("components gate: count, limit 1048576",
        "components gate: collect 13 rows, limit 1048576",
        "components gate: 13 rows, limit 1048576 → local"), localJobs)
      spark.conf.set(Limit, "0")
      val (_, distJobs) =
        try JobNames.descriptions(sc)(Dedup.resolveClustersSparse(pairs(), allIds()).collect())
        finally spark.conf.unset(Limit)
      assert(distJobs.filter(d => d != null && d.startsWith("components gate:")).distinct ==
        Seq("components gate: count, limit 0", "components gate: 13 rows, limit 0 → distributed"),
        distJobs)
      // every other job keeps the caller's description and group
      assert((localJobs ++ distJobs).filterNot(d => d != null && d.contains(" gate: "))
        .forall(_ == "caller description"), localJobs ++ distJobs)
      assert(sc.getLocalProperty("spark.job.description") == "caller description")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
    } finally sc.clearJobGroup()
  }
}
