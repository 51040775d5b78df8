package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SetSimJoin

/** Exactness and candidate-bound pins for the prefix-filtered set-similarity
  * join: the prefix filter must be LOSSLESS (identical rows to brute-force
  * all-pairs at every τ tried), and the prefix explode must emit strictly
  * fewer rows than the full element stream (the filter actually filters).
  */
class SetSimJoinSpec extends AnyFunSuite with TempDirs {

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

  /** Deterministic word-salad corpus with planted near-dup families:
    * doc 3k and 3k+1 share a long common slab (high J), 3k+2 is unrelated.
    */
  private def corpus(n: Int): Seq[(Long, String)] = {
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
    def words(seed: Int, k: Int): String =
      (0 until k).map(i => vocab((seed * 31 + i * 17) % vocab.size)).mkString(" ")
    (0 until n).map { i =>
      val fam = i / 3
      val text = (i % 3) match {
        case 0 => words(fam, 40)
        case 1 => words(fam, 40) + " " + words(fam + 1000, 6) // ~J 0.75 vs 3k
        case 2 => words(fam + 5000, 40)
      }
      (i.toLong, text)
    }
  }

  private def brute(docs: org.apache.spark.sql.DataFrame, tau4: Long) = {
    val sets = SetSimJoin.canonicalSets(docs, "id", "text", shingleN = 5)
    sets.as("a").join(sets.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        size(array_intersect(col("a.toks"), col("b.toks"))).cast("long").as("inter"),
        (col("a.sz") + col("b.sz")).as("szsum"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("szsum") - col("inter")).as("uni"))
      .filter(col("inter") * lit(10000L) >= lit(tau4) * col("uni"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        expr("inter * 10000 div uni").as("jac4"))
  }

  test("prefix filter is lossless: identical rows to brute force at tau 0.5 / 0.7 / 0.9") {
    import spark.implicits._
    val docs = corpus(90).toDF("id", "text")
    for (tau4 <- Seq(5000L, 7000L, 9000L)) {
      val fast = SetSimJoin.selfJoin(docs, "id", "text", shingleN = 5, tau4 = tau4)
        .orderBy($"id_a", $"id_b").collect().toSeq
      val slow = brute(docs, tau4).orderBy($"id_a", $"id_b").collect().toSeq
      assert(fast == slow, s"tau4=$tau4: prefix-filtered != brute force")
      assert(fast.nonEmpty || tau4 > 9000L, s"tau4=$tau4 produced no pairs — corpus too easy")
    }
  }

  test("planted families are found: every (3k, 3k+1) pair survives tau 0.5") {
    import spark.implicits._
    val docs = corpus(30).toDF("id", "text")
    val got = SetSimJoin.selfJoin(docs, "id", "text", shingleN = 5, tau4 = 5000L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    for (fam <- 0 until 10)
      assert(got.contains((fam * 3L, fam * 3L + 1)), s"family $fam pair missing")
  }

  test("the prefix explode emits fewer rows than the full element stream") {
    import spark.implicits._
    val docs = corpus(90).toDF("id", "text")
    val sets = SetSimJoin.canonicalSets(docs, "id", "text", shingleN = 5)
    val full = sets.agg(sum($"sz")).as[Long].head()
    // replicate the operator's prefix arithmetic (tau 0.8 → ~20% prefixes)
    val tau4 = 8000L
    val pfx = sets.select(
        (col("sz") - floor((col("sz") * tau4 + lit(9999L)) / lit(10000L)) + lit(1L))
          .as("p"))
      .agg(sum($"p")).as[Long].head()
    assert(pfx * 3 < full, s"prefix stream $pfx not substantially below full $full")
  }
  test("PPJoin positional filter prunes candidates strictly below the prefix-only count, losslessly") {
    import spark.implicits._
    val tau4 = 5000L
    // The pruning regime needs LENGTH DIVERSITY: for an equal-size pair,
    // pos <= prefixLen forces min(sz-pos)+1 >= ceil(tau*sz) = ceil(tau*max),
    // so the bound can never fail — only a smaller set matching late in
    // its prefix against a bigger set gets pruned. Constructed rarest-
    // first sets per family f: a SMALL set (10 df-1 uniques, then 10 df-2
    // shared s_f_*) and a BIG set (5 df-1 uniques, the 10 shared, then 25
    // df-20 hot elements common to all big sets). At tau 0.5 the small
    // prefix (11 elems) reaches s_f_1 only at pos 11; the big prefix (21)
    // holds it at pos 6 -> bound min(20-11, 40-6)+1 = 10 < ceil(0.5*40)
    // = 20: the small-big family pair is POSITION-pruned (its true J is
    // 10/50, so pruning is correct), while big-big pairs matching on hot
    // elements are equal-size and survive to verify (J 25/55 -> dropped
    // there). 20 pruned pairs out of 210.
    val hot = (1 to 25).map(i => s"H$i")
    val sets = (0 until 20).flatMap { f =>
      Seq(
        (2L * f, (1 to 10).map(i => s"a${f}_$i") ++ (1 to 10).map(i => s"s${f}_$i")),
        (2L * f + 1, (1 to 5).map(i => s"c${f}_$i") ++ (1 to 10).map(i => s"s${f}_$i") ++ hot))
    }.toDF("id", "toks")
      .select($"id", $"toks", size($"toks").cast("long").as("sz"))
      .localCheckpoint(false)
    val pairsPrefix = SetSimJoin.candidatePairs(sets, tau4, positional = false).count()
    val pairsPos = SetSimJoin.candidatePairs(sets, tau4, positional = true).count()
    assert(pairsPrefix == 210L, s"fixture drifted: $pairsPrefix prefix-only pairs")
    assert(pairsPos == 190L, s"positional filter should prune the 20 family pairs: $pairsPos")
    val rowsPrefix = SetSimJoin.candidateRows(sets, tau4, positional = false).count()
    val rowsPos = SetSimJoin.candidateRows(sets, tau4, positional = true).count()
    assert(rowsPos < rowsPrefix,
      s"candidate rows not reduced: $rowsPos vs $rowsPrefix")
    // losslessness stays intact on the realistic text corpus (the filter
    // only ever removes pairs the exact verify would reject)
    val docs = corpus(90).toDF("id", "text")
    val viaPos = SetSimJoin.selfJoin(docs, "id", "text", shingleN = 5, tau4 = tau4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val viaAll = brute(docs, tau4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(viaPos == viaAll)
  }
  test("asymmetric probe/index prefixes + exact-α positional: candidate rows AND pairs strictly below the positional-only counts at τ=0.5, losslessly") {
    import spark.implicits._
    val docs = corpus(90).toDF("id", "text")
    val sets = SetSimJoin.canonicalSets(docs, "id", "text", shingleN = 5)
      .localCheckpoint(false)
    val tau4 = 5000L
    val rowsPos = SetSimJoin.candidateRows(sets, tau4, positional = true).count()
    val rowsAsym = SetSimJoin.candidateRows(sets, tau4,
      positional = true, asymmetric = true).count()
    assert(rowsAsym < rowsPos,
      s"short probing prefix did not reduce candidate rows: $rowsAsym vs $rowsPos")
    // pair reduction needs df/length structure (on the word-salad corpus
    // every pair already shares a short-prefix element): reuse the
    // positional test's rarest-first fixture — big-big pairs (true J =
    // 25/55 = 0.45) match only on hot elements at canonical positions
    // 16-21, inside the standard 21-prefix but beyond the SHORT probing
    // prefix 40 − ⌈2τ/(1+τ)·40⌉ + 1 = 14, so all C(20,2) = 190 of them
    // die before the verify ever sees them
    val hot = (1 to 25).map(i => s"H$i")
    val psets = (0 until 20).flatMap { f =>
      Seq(
        (2L * f, (1 to 10).map(i => s"a${f}_$i") ++ (1 to 10).map(i => s"s${f}_$i")),
        (2L * f + 1, (1 to 5).map(i => s"c${f}_$i") ++ (1 to 10).map(i => s"s${f}_$i") ++ hot))
    }.toDF("id", "toks")
      .select($"id", $"toks", size($"toks").cast("long").as("sz"))
      .localCheckpoint(false)
    val pairsPos = SetSimJoin.candidatePairs(psets, tau4, positional = true).count()
    val pairsAsym = SetSimJoin.candidatePairs(psets, tau4,
      positional = true, asymmetric = true).count()
    assert(pairsPos == 190L, s"fixture drifted: $pairsPos positional pairs")
    assert(pairsAsym == 0L,
      s"short probing prefix should kill all 190 hot-element pairs: $pairsAsym")
    // losslessness of the production (asymmetric) path is pinned by the
    // brute-force equality test above (selfJoin uses it); re-assert the
    // pair SET here at the candidate level: every verified pair remains
    val truePairs = brute(docs, tau4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val candAsym = SetSimJoin.candidatePairs(sets, tau4,
      positional = true, asymmetric = true)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(truePairs.subsetOf(candAsym),
      s"asymmetric filter dropped true pairs: ${truePairs -- candAsym}")
  }

  test("streaming twin #17: cumulative setsim pairs equal the batch selfJoin over 100 random splits, any arrival order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(215L)
    val docs = rnd.shuffle(corpus(60)) // arrival order fully random
    val tau4 = 5000L
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.StatefulOps.streamingSetSimPairs(
      input.toDF().toDF("id", "text"), "id", "text", shingleN = 5, tau4 = tau4)
      .writeStream.format("memory").queryName("ss_prop")
      .outputMode("append").start()
    try {
      var i = 0
      var batches = 0
      while (i < docs.length) {
        val n = math.min(1 + rnd.nextInt(3), docs.length - i)
        input.addData(docs.slice(i, i + n): _*)
        q.processAllAvailable()
        i += n
        batches += 1
      }
      assert(batches >= 20, s"want many random batches, got $batches")
      val got = spark.table("ss_prop")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = SetSimJoin
        .selfJoin(docs.toDF("id", "text"), "id", "text", shingleN = 5, tau4 = tau4)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(want.nonEmpty, "corpus too easy — no true pairs")
      assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    } finally q.stop()
  }

  test("twin #17 EventWindow: pairs equal window-restricted batch under shuffled arrival; state shrinks by event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(226L)
    // random event times in a 15 s spread; slack (60 s) exceeds the spread
    // so shuffled arrival stays in-slack and every entitled pair must land
    val base = corpus(45)
    val docs = rnd.shuffle(base.map { case (id, text) =>
      (id, text, new java.sql.Timestamp(3600000L + rnd.nextInt(15000)))
    })
    val windowMs = 4000L
    val tau4 = 5000L
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.streaming.StatefulOps.streamingSetSimPairs(
      input.toDF().toDF("id", "text", "ts"), "id", "text", shingleN = 5,
      tau4 = tau4, retention = graft.streaming.StatefulOps.EventWindow(
        "ts", windowMs, watermarkDelay = "60 seconds"))
      .writeStream.format("memory").queryName("ss_win")
      .outputMode("append").start()
    try {
      var i = 0
      while (i < docs.length) {
        val n = math.min(1 + rnd.nextInt(4), docs.length - i)
        input.addData(docs.slice(i, i + n): _*)
        q.processAllAvailable()
        i += n
      }
      val got = spark.table("ss_win")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val tsById = docs.map(d => d._1 -> d._3.getTime).toMap
      val want = SetSimJoin
        .selfJoin(base.toDF("id", "text"), "id", "text", shingleN = 5, tau4 = tau4)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
        .filter(p => math.abs(tsById(p._1) - tsById(p._2)) <= windowMs)
      assert(want.nonEmpty, "window never bites — fixture drifted")
      assert(got == want, s"missing=${want -- got} extra=${got -- want}")
      val before = q.lastProgress.stateOperators(0).numRowsTotal
      // two far-future TINY docs (a handful of shingles each, so they add
      // only a few buckets) advance the watermark; every old bucket times
      // out wholesale, so state DROPS despite the additions
      input.addData((9001L, "zxq wvu",
        new java.sql.Timestamp(3600000L + 400000L)))
      q.processAllAvailable()
      input.addData((9002L, "pqy rst",
        new java.sql.Timestamp(3600000L + 500000L)))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators(0).numRowsTotal
      assert(after < before,
        s"state did not shrink: $after vs $before — event-time timeout dead")
    } finally q.stop()
  }

  test("deltaJoin equals selfJoin restricted to touching pairs — exact under the stale base-only order") {
    import spark.implicits._
    val docs = corpus(90).toDF("id", "text")
    val base = docs.filter($"id" % 4 =!= 0)
    val delta = docs.filter($"id" % 4 === 0)
    for (tau4 <- Seq(5000L, 8000L)) {
      val want = SetSimJoin.selfJoin(docs, "id", "text", shingleN = 5, tau4 = tau4)
        .filter($"id_a" % 4 === 0 || $"id_b" % 4 === 0)
        .orderBy($"id_a", $"id_b").collect().toSeq
      val got = SetSimJoin.deltaJoin(base, delta, "id", "text", shingleN = 5, tau4 = tau4)
        .orderBy($"id_a", $"id_b").collect().toSeq
      assert(got == want, s"tau4=$tau4: incremental != full-restricted")
      assert(got.nonEmpty, s"tau4=$tau4: no touching pairs — corpus too easy")
    }
  }

  test("deltaJoinStored serves the identical pairs from the persisted index, without re-reading base text") {
    import spark.implicits._
    val docs = corpus(90).toDF("id", "text")
    val base = docs.filter($"id" % 4 =!= 0)
    val delta = docs.filter($"id" % 4 === 0)
    val tau4 = 5000L
    val dir = tempDirectory("setsim_idx_spec").toString
    SetSimJoin.buildIndex(base, dir, "id", "text", shingleN = 5, tau4 = tau4)
    // the three index tables exist and are non-empty
    for (t <- Seq("sets", "prefix", "df"))
      assert(spark.read.parquet(s"$dir/$t.parquet").count() > 0, t)
    val want = SetSimJoin.deltaJoin(base, delta, "id", "text", shingleN = 5, tau4 = tau4)
      .orderBy($"id_a", $"id_b").collect().toSeq
    val got = SetSimJoin.deltaJoinStored(spark, dir, delta,
        "id", "text", shingleN = 5, tau4 = tau4)
      .orderBy($"id_a", $"id_b").collect().toSeq
    assert(got == want && got.nonEmpty, "stored-index serve diverged from recompute")
    // the served plan reads the stored parquet, not the base DataFrame:
    // its physical plan must scan the index directory
    val plan = SetSimJoin.deltaJoinStored(spark, dir, delta,
      "id", "text", shingleN = 5, tau4 = tau4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("prefix.parquet") || plan.contains("sets.parquet"),
      "stored path not reading the persisted index")
  }
}
