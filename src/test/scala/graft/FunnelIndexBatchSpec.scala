package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 operators: positional inverted index / phrase search,
  * length-bucketed padded batching, sliding context windows, sequential
  * funnel, n-gram containment. Each pinned against a plain-Scala
  * sequential reference on engineered inputs.
  */
class FunnelIndexBatchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("phraseMatches reports every occurrence incl. overlapping starts; 3-term chain") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b a b"),      // "a b a" overlaps at starts 1 and 3
      (1L, "x a b a y"),
      (2L, "a b"),               // too short for the 3-term phrase
      (3L, "c c c")).toDF("doc_id", "text")
    val post = graft.query.InvertedIndex.postings(docs, "doc_id", "text")
    val got = graft.query.InvertedIndex.phraseMatches(post, Seq("a", "b", "a"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((0L, 1), (0L, 3), (1L, 2)))
    // postings positions are 1-based over whitespace tokens
    val p0 = post.filter(col("doc_id") === 2L).orderBy(col("pos"))
      .collect().map(r => (r.getInt(1), r.getString(2))).toSeq
    assert(p0 == Seq((1, "a"), (2, "b")))
    // the chain is equi-joins on (doc, pos) — never a nested loop
    val plan = graft.query.InvertedIndex.phraseMatches(post, Seq("a", "b", "a"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("padded batches equal the sequential bucket-sort-chunk reference, with no Window") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 500).map(i => (i.toLong, (rnd.nextInt(200) + 1).toLong))
    val df = rows.toDF("doc_id", "tc")
    val out = graft.operators.PaddedBatching.batches(df, "doc_id", "tc", batchSize = 8, numPartitions = 5)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    val got = out.select("doc_id", "cap", "rank_in_bucket", "batch_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    def capOf(tc: Long): Int =
      graft.operators.PaddedBatching.CapLadder.find(tc <= _).getOrElse(1024)
    val want = rows.groupBy { case (_, tc) => capOf(tc) }.flatMap { case (cap, members) =>
      members.sortBy(_._1).zipWithIndex.map { case ((id, _), i) =>
        (id, cap, (i + 1).toLong, (i / 8).toLong)
      }
    }.toSet
    assert(got == want)
  }

  test("bucketCap ladder edges: exact caps stay, cap+1 promotes, top cap clamps") {
    import spark.implicits._
    val got = Seq(1L, 16L, 17L, 32L, 64L, 65L, 1024L, 5000L).toDF("tc")
      .select(graft.operators.PaddedBatching.bucketCap(col("tc")).as("cap"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(16, 16, 32, 32, 64, 128, 1024, 1024))
  }

  test("sliding windows: full windows at stride, short docs one window, fingerprints match reference") {
    import spark.implicits._
    // lengths around the W=8/S=3 boundary: n<W, n=W, (n-W)%S!=0, exact fit
    val docs = Seq(5, 8, 9, 11, 14, 20).zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(k => s"t${i}_$k").mkString(" "))
    }
    val got = docs.toDF("doc_id", "text")
      .select(col("doc_id"), posexplode(graft.operators.TextAnalysis.slidingWindowsCol(
        graft.operators.TextAnalysis.tokensCol(col("text")), win = 8, stride = 3)))
      .select(col("doc_id"), col("pos"), col("col.start"), col("col.n_tok"), col("col.fp"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split("\\s+").toSeq
      val n = toks.length
      val starts = if (n < 8) Seq(1) else 1.to(n - 8 + 1, 3)
      starts.zipWithIndex.map { case (s, w) =>
        val win = toks.slice(s - 1, s - 1 + 8)
        (id, w, s, win.length,
          graft.functions.HashFunctions.stableHash64(win.mkString(" ")))
      }
    }.toSet
    assert(got == want)
  }

  test("funnel enforces STRICT sequencing: purchase before the chosen view does not count") {
    import spark.implicits._
    // user 1: full path; user 2: purchase precedes the first view after
    // signup → stage 2 only; user 3: view before signup only → stage 1;
    // user 4: no signup → absent
    val ev = Seq(
      (1L, "signup", 100L), (1L, "view", 200L), (1L, "purchase", 300L),
      (2L, "signup", 100L), (2L, "purchase", 150L), (2L, "view", 200L),
      (3L, "view", 50L), (3L, "signup", 100L),
      (4L, "view", 100L), (4L, "purchase", 200L)
    ).toDF("user_id", "event_type", "ts_us")
    val got = graft.operators.Funnel.firstCompletion(
        ev, "user_id", "event_type", "ts_us", Seq("signup", "view", "purchase"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    assert(got == Set(
      (1L, Some(100L), Some(200L), Some(300L)),
      (2L, Some(100L), Some(200L), None),
      (3L, Some(100L), None, None)))
  }

  test("token-budget shards equal the sequential running-sum reference, windowless") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val rows = (0 until 400).map(i => (i.toLong, (rnd.nextInt(50) + 1).toLong))
    val out = graft.operators.Sharding.tokenBudgetShards(
      rows.toDF("doc_id", "tc"), col("doc_id"), "tc", tokenBudget = 500L, numPartitions = 5)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    var cum = 0L
    val want = rows.map { case (id, tc) =>
      val shard = cum / 500L; cum += tc; (id, shard)
    }.toMap
    assert(got == want)
    // shards are contiguous doc ranges
    val ranges = rows.map { case (id, _) => (want(id), id) }.groupBy(_._1)
      .view.mapValues(v => (v.map(_._2).min, v.map(_._2).max)).toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, (_, hi)), (_, (lo, _))) => assert(lo == hi + 1)
      case _ => ()
    }
  }

  test("rendezvous sharding: balanced-ish, and growing K moves only ~1/(K+1) of keys, all TO the new shard") {
    import spark.implicits._
    val n = 2000
    val df = (0 until n).map(_.toLong).toDF("id")
      .select(col("id"),
        graft.operators.Sharding.rendezvousCol(col("id"), 8).as("s8"),
        graft.operators.Sharding.rendezvousCol(col("id"), 9).as("s9"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // scan-side twin: same hash, same argmax
    def ref(id: Long, k: Int): Long =
      (0 until k).map(s => (graft.functions.HashFunctions.stableHash64(s"$id:$s"), -s))
        .max match { case (_, negS) => -negS.toLong }
    df.foreach { case (id, s8, s9) =>
      assert(s8 == ref(id, 8) && s9 == ref(id, 9), s"id=$id")
    }
    // minimal disruption: every mover moved to the NEW shard (8), nobody
    // reshuffled among the old ones
    val movers = df.filter { case (_, s8, s9) => s8 != s9 }
    assert(movers.forall(_._3 == 8L))
    val frac = movers.length.toDouble / n
    assert(frac > 0.05 && frac < 0.18, s"moved fraction $frac, expected ~1/9")
  }

  test("streaming funnel equals the batch funnel after every random split and arrival order") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(23L)
    val steps = Seq("signup", "view", "purchase")
    // random event soup over 6 entities, incl. entities missing steps
    val events = (0 until 120).map { i =>
      (rnd.nextLong(6L), steps(rnd.nextInt(3)), rnd.nextLong(1000L) + 1)
    }
    val batch = graft.operators.Funnel.firstCompletion(
        events.toDF("user_id", "event_type", "ts_us"),
        "user_id", "event_type", "ts_us", steps)
      .collect().map { r =>
        (r.getLong(0), (1 to 3).map(i =>
          if (r.isNullAt(i)) -1L else r.getLong(i)).toSeq)
      }.toMap
    val indexed = events.map { case (u, tpe, ts) => (u, steps.indexOf(tpe), ts) }
    (0 until 3).foreach { round =>
      val shuffled = rnd.shuffle(indexed)
      val cut = 1 + rnd.nextInt(indexed.length - 1)
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Int, Long)]
      val q = graft.streaming.StatefulOps.runningFunnel(
          input.toDF().as[(Long, Int, Long)], numSteps = 3)
        .writeStream.format("memory").queryName(s"funnel_run_$round")
        .outputMode("update").start()
      try {
        input.addData(shuffled.take(cut): _*); q.processAllAvailable()
        input.addData(shuffled.drop(cut): _*); q.processAllAvailable()
        // order-independent latest-snapshot pick: sort-then-dropDuplicates
        // does NOT guarantee keeping the first row of a preceding sort
        val last = spark.table(s"funnel_run_$round")
          .groupBy(col("key"))
          .agg(org.apache.spark.sql.functions
            .max_by(struct(col("n_events"), col("ts")), col("n_events")).as("s"))
          .select(col("key"), col("s.n_events"), col("s.ts")).collect()
        last.foreach { r =>
          val key = r.getLong(0)
          val got = r.getSeq[Long](2).toSeq
          // batch emits only entities that reached stage 1
          batch.get(key).foreach(want => assert(got == want, s"round=$round key=$key"))
          if (!batch.contains(key)) assert(got.head == -1L)
        }
      } finally q.stop()
    }
  }

  test("containment is asymmetric: a quoted fragment scores ~1 against its host, Jaccard stays low") {
    import spark.implicits._
    val frag = "the quick brown fox jumps over the lazy dog again and again"
    // diverse filler: repeated filler would collapse to few DISTINCT
    // shingles and fake a high reverse containment
    val host = (0 until 40).map(i => s"filler$i word$i").mkString(" ") +
      s" $frag " + (40 until 80).map(i => s"tail$i item$i").mkString(" ")
    val df = Seq((frag, host)).toDF("a", "b")
      .select(
        ParityRefs.containmentHof(col("a"), col("b"), 5).as("c_ab"),
        ParityRefs.containmentHof(col("b"), col("a"), 5).as("c_ba"),
        ParityRefs.jaccardHof(col("a"), col("b"), 5).as("jac"))
      .collect()(0)
    assert(df.getDouble(0) > 0.95, s"fragment-in-host containment ${df.getDouble(0)}")
    assert(df.getDouble(1) < 0.3, s"host-in-fragment containment ${df.getDouble(1)}")
    assert(df.getDouble(2) < 0.3, s"jaccard ${df.getDouble(2)}")
  }
}
