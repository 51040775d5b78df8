package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BpeTokenizer, SpanDedup, TextAnalysis}

/** Closed-form and reference-implementation checks for the round-6
  * operators: span-level exact dedup (engineered corpus with known run
  * structure) and the BPE trainer (vs an independent plain-Scala BPE),
  * plus plan pins for the bucketed join, the pruned partitioned scan and
  * the span-dedup shuffle key.
  */
class SpanBpeSpec extends AnyFunSuite with TempDirs {

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

  private def tmpDir(prefix: String): String =
    tempDirectory(prefix).toString

  // ------------------------------------------------------------------
  // SpanDedup
  // ------------------------------------------------------------------

  test("SpanDedup: engineered corpus yields the closed-form run structure") {
    import spark.implicits._
    val boiler = "one two three four five" // shared 5-token span
    val docs = Seq(
      // boiler at head + unique tail: dup gram at pos 1 only
      (0L, boiler + " u1 u2 u3 u4 u5"),
      // unique head + boiler: dup gram at pos 4
      (1L, "v1 v2 v3 " + boiler + " v4 v5"),
      // fully unique: zero profile
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      // boiler twice back-to-back: dup grams at pos 1 and 6 (gap == k) —
      // covered positions 1..10 are contiguous, so ONE run of 10 tokens
      (3L, boiler + " " + boiler),
      // a 6-token span shared with doc 5: two OVERLAPPING dup grams
      // (pos 1, 2) merge to one 6-token run
      (4L, "p1 p2 p3 p4 p5 p6 t1 t2"),
      (5L, "h1 h2 p1 p2 p3 p4 p5 p6")).toDF("doc_id", "text")
    val got = SpanDedup.spanProfile(
        docs, "doc_id", TextAnalysis.tokensCol(col("text")), k = 5, minCount = 2)
      .orderBy(col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .toSeq
    val want = Seq(
      (0L, 10L, 1L, 1L, 5L, 0.5),
      (1L, 10L, 1L, 1L, 5L, 0.5),
      (2L, 8L, 0L, 0L, 0L, 0.0),
      (3L, 10L, 2L, 1L, 10L, 1.0),
      (4L, 8L, 2L, 1L, 6L, 0.75),
      (5L, 8L, 2L, 1L, 6L, 0.75))
    assert(got == want)
  }

  test("SpanDedup matches a plain-Scala reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(90210L)
    (0 until 4).foreach { _ =>
      val k = 2 + rnd.nextInt(3) // 2..4
      // small alphabet forces plenty of repeated windows, incl. within-doc
      val docs = (0 until 25).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(20))(s"w${rnd.nextInt(6)}").mkString(" "))
      }
      val got = graft.operators.SpanDedup.spanProfile(
          docs.toDF("doc_id", "text"), "doc_id",
          graft.operators.TextAnalysis.tokensCol(col("text")), k = k, minCount = 2)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      // reference: brute-force gram counts, then per-doc covered-set union
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val freq = toks.values.flatMap(_.sliding(k).filter(_.size == k).map(_.mkString(" ")))
        .groupBy(identity).view.mapValues(_.size).toMap
      docs.foreach { case (id, _) =>
        val w = toks(id)
        val dupStarts = (0 to w.size - k)
          .filter(i => freq(w.slice(i, i + k).mkString(" ")) >= 2)
        val covered = dupStarts.flatMap(i => i until i + k).toSet
        val runs = covered.toSeq.sorted
          .foldLeft(0 -> -2) { case ((n, prev), p) =>
            (if (p == prev + 1) n else n + 1) -> p
          }._1
        val (nTok, nGrams, nRuns, nDup) = got(id)
        assert(nTok == w.size.toLong)
        assert(nGrams == dupStarts.size.toLong)
        assert(nDup == covered.size.toLong)
        assert(nRuns == runs.toLong, s"doc $id k=$k: $w")
      }
    }
  }

  test("SpanDedup: a document below k tokens appears with a zero profile") {
    import spark.implicits._
    val docs = Seq((0L, "a b c"), (1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val got = SpanDedup.spanProfile(
        docs, "doc_id", TextAnalysis.tokensCol(col("text")), k = 5, minCount = 2)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSeq
    assert(got == Seq((0L, 0L, 0L), (1L, 1L, 5L), (2L, 1L, 5L)))
  }

  test("applySpanDedup: keep-first rewrite matches the closed form, and a second pass is a no-op") {
    import spark.implicits._
    val boiler = "one two three four five"
    val docs = Seq(
      (0L, boiler + " u1 u2 u3 u4 u5"), // corpus-wide FIRST occurrence: kept whole
      (1L, "v1 v2 v3 " + boiler + " v4 v5"), // repeat at pos 4: loses tokens 4..8
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"), // unique: untouched
      (3L, boiler + " " + boiler), // repeats at pos 1 and 6 merge: whole doc dropped
      (4L, "p1 p2 p3 p4 p5 p6 t1 t2"), // first occurrence of the shared 6-span
      (5L, "h1 h2 p1 p2 p3 p4 p5 p6")).toDF("doc_id", "text") // loses 3..8
    def run(d: org.apache.spark.sql.DataFrame) = SpanDedup.applySpanDedup(
        d, "doc_id", TextAnalysis.tokensCol(col("text")), k = 5, minCount = 2)
      .orderBy(col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq
    val got = run(docs)
    val want = Seq(
      (0L, 10L, 10L, 0L, "one two three four five u1 u2 u3 u4 u5"),
      (1L, 10L, 5L, 5L, "v1 v2 v3 v4 v5"),
      (2L, 8L, 8L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, 10L, 0L, 10L, ""),
      (4L, 8L, 8L, 0L, "p1 p2 p3 p4 p5 p6 t1 t2"),
      (5L, 8L, 2L, 6L, "h1 h2"))
    assert(got == want)
    // every duplicated span kept exactly its first copy, so re-applying to
    // the cleaned corpus must drop nothing (fixpoint after one pass here —
    // removal created no new cross-doc repeats in this corpus)
    val again = run(got.map(r => (r._1, r._5)).toDF("doc_id", "text"))
    assert(again.forall(r => r._4 == 0L), again)
  }

  test("applySpanDedup matches a plain-Scala keep-first reference on random corpora; survivors + dropped == original tokens") {
    import spark.implicits._
    val rnd = new scala.util.Random(1337L)
    (0 until 4).foreach { _ =>
      val k = 2 + rnd.nextInt(3) // 2..4
      val docs = (0 until 25).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(20))(s"w${rnd.nextInt(6)}").mkString(" "))
      }
      val got = SpanDedup.applySpanDedup(
          docs.toDF("doc_id", "text"), "doc_id",
          TextAnalysis.tokensCol(col("text")), k = k, minCount = 2)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toMap
      // reference: global gram occurrence list ordered by (doc, pos); every
      // occurrence after the first of a repeated gram covers [pos, pos+k-1]
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val occ = docs.flatMap { case (id, _) =>
        val w = toks(id)
        (0 to w.size - k).map(i => (w.slice(i, i + k).mkString(" "), id, i + 1))
      }
      val covered: Map[Long, Set[Int]] = occ.groupBy(_._1).values.flatMap { os =>
        val sorted = os.sortBy(o => (o._2, o._3))
        if (sorted.size >= 2) sorted.drop(1).flatMap { case (_, id, p) =>
          (p until p + k).map(id -> _)
        } else Nil
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      docs.foreach { case (id, _) =>
        val w = toks(id)
        val cov = covered.getOrElse(id, Set.empty)
        val keptToks = w.indices.collect { case i if !cov.contains(i + 1) => w(i) }
        val (nTok, nKept, nDropped, clean) = got(id)
        assert(nTok == w.size.toLong)
        assert(nKept + nDropped == nTok) // total invariant
        assert(nKept == keptToks.size.toLong, s"doc $id k=$k: $w")
        assert(clean == keptToks.mkString(" "), s"doc $id k=$k: $w")
      }
    }
  }

  // ------------------------------------------------------------------
  // BPE trainer vs an independent plain-Scala reference
  // ------------------------------------------------------------------

  /** Reference BPE (Sennrich et al.): word → char symbols; per round count
    * weighted adjacent pairs, pick max with (l, r) lexicographic
    * tie-break, merge greedily left-to-right.
    */
  private def refBpe(
      words: Map[String, Long], nMerges: Int): (Seq[(String, String, Long)], Map[String, Seq[String]]) = {
    var vocab: Map[String, (Seq[String], Long)] =
      words.map { case (w, c) => w -> (w.map(_.toString), c) }
    val merges = Seq.newBuilder[(String, String, Long)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.values.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Seq(l, r) => counts((l, r)) = counts.getOrElse((l, r), 0L) + c
          case _ => ()
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((l0, r0), c0) => (-c0, l0, r0) }
        merges += ((l, r, cnt))
        vocab = vocab.map { case (w, (syms, c)) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { s =>
            if (out.nonEmpty && out.last == l && s == r)
              out(out.length - 1) = l + r
            else out += s
          }
          w -> (out.toSeq, c)
        }
      }
      round += 1
    }
    (merges.result(), vocab.map { case (w, (syms, _)) => w -> syms })
  }

  test("applySpanDedupIncremental: parity with the full-corpus apply restricted to the delta") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    (0 until 3).foreach { _ =>
      val k = 2 + rnd.nextInt(3) // 2..4
      // 6-word vocabulary → heavy cross-batch gram overlap; delta ids sort
      // after base ids (the operator's append-only ingest precondition)
      val all = (0 until 30).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(20))(s"w${rnd.nextInt(6)}").mkString(" "))
      }
      val (baseRows, deltaRows) = all.partition(_._1 < 20L)
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toMap
      val idx = SpanDedup.spanIndex(baseRows.toDF("doc_id", "text"), "doc_id",
        TextAnalysis.tokensCol(col("text")), k = k)
      val inc = shape(SpanDedup.applySpanDedupIncremental(
        idx, deltaRows.toDF("doc_id", "text"), "doc_id",
        TextAnalysis.tokensCol(col("text")), k = k, minCount = 2))
      val full = shape(SpanDedup.applySpanDedup(
          all.toDF("doc_id", "text"), "doc_id",
          TextAnalysis.tokensCol(col("text")), k = k, minCount = 2)
        .filter(col("doc_id") >= 20L))
      assert(inc == full)
      // the total invariant holds on the incremental path too
      inc.values.foreach { case (nTok, nKept, nDropped, _) =>
        assert(nKept + nDropped == nTok)
      }
    }
  }

  test("BpeTokenizer.train matches the plain-Scala reference merge-for-merge") {
    import spark.implicits._
    val corpus = Seq.fill(4)("low lower lowest new newer wide wider widest") ++
      Seq.fill(3)("low low newer newer newest") ++ Seq("w i d e")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val wf = BpeTokenizer.wordFrequencies(docs, TextAnalysis.tokensCol(col("text")))
    val got = BpeTokenizer.train(wf, nMerges = 12)
      .map(m => (m.l, m.r, m.cnt))
    val words = wf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (want, refVocab) = refBpe(words, 12)
    assert(got == want)
    // encodeCol applies the same merges to the same segmentation
    val enc = docs.limit(1).select(
        BpeTokenizer.encodeCol(TextAnalysis.tokensCol(col("text")),
          BpeTokenizer.train(wf, 12)).as("e"))
      .collect()(0).getSeq[scala.collection.Seq[String]](0)
    val firstDocWords = corpus.head.split(" ").toSeq
    assert(enc.map(_.toSeq) == firstDocWords.map(refVocab))
  }

  test("BpeTokenizer.train matches the reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    (0 until 3).foreach { _ =>
      val alphabet = "abcde"
      val corpus = (0 until 30).map { i =>
        (i.toLong, Seq.fill(2 + rnd.nextInt(6))(
          Seq.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString
        ).mkString(" "))
      }
      val wf = BpeTokenizer.wordFrequencies(
        corpus.toDF("doc_id", "text"), TextAnalysis.tokensCol(col("text")))
      val words = wf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = BpeTokenizer.train(wf, nMerges = 8).map(m => (m.l, m.r, m.cnt))
      assert(got == refBpe(words, 8)._1)
    }
  }

  test("BPE merge fold resolves overlapping occurrences leftmost-first") {
    import spark.implicits._
    val df = Seq(Seq("a", "a", "a"), Seq("a", "a", "a", "a")).toDF("syms")
    val got = df.select(BpeTokenizer.applyMerge(col("syms"), "a", "a").as("m"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got == Seq(Seq("aa", "a"), Seq("aa", "aa")))
  }

  // ------------------------------------------------------------------
  // Plan pins for q85 / q88 / q89
  // ------------------------------------------------------------------

  test("plan pins: bucketed join runs with no exchange and no sort; pruned scan pushes the partition predicate") {
    import spark.implicits._
    val tmp = tmpDir("graft_bktspec")
    Seq("graft_spec_orders", "graft_spec_customer")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    (0 until 200).map(i => (i.toLong % 40, 10.0 + i))
      .toDF("o_custkey", "o_totalprice")
      .repartition(8, col("o_custkey"))
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$tmp/orders").saveAsTable("graft_spec_orders")
    (0 until 40).map(i => (i.toLong, i % 5))
      .toDF("c_custkey", "c_nationkey")
      .repartition(8, col("c_custkey"))
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$tmp/customer").saveAsTable("graft_spec_customer")
    def joined() = spark.table("graft_spec_orders")
      .join(spark.table("graft_spec_customer").hint("merge"),
        col("o_custkey") === col("c_custkey"))
    // co-located bucketed sides: merge join with ZERO shuffle — the
    // buckets ARE the exchange. (A partition-local sort remains: since
    // Spark 3.0 the on-disk sortBy order is only trusted behind the
    // legacy flag, because multi-file buckets would need a merge-read.)
    val plan = joined().queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), plan)
    // with one file per bucket (repartition(8) before write) the legacy
    // flag removes the sort too — the full shuffle-free, sort-free join
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val sortedPlan = joined().queryExecution.executedPlan.toString
      assert(sortedPlan.contains("SortMergeJoin"), sortedPlan)
      assert(!sortedPlan.contains("Exchange"), sortedPlan)
      assert(!sortedPlan.contains("Sort ["), sortedPlan)
      assert(joined().count() == 200L)
    } finally spark.conf
      .set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    Seq("graft_spec_orders", "graft_spec_customer")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))

    // partition pruning: the source=src1 predicate must land in
    // PartitionFilters (directory pruning), not PushedFilters (row groups)
    val tmp2 = tmpDir("graft_prunespec")
    (0 until 60).map(i => (i.toLong, s"src${i % 6}", s"t$i"))
      .toDF("doc_id", "source", "text")
      .write.partitionBy("source").parquet(s"$tmp2/docs")
    val pruned = spark.read.parquet(s"$tmp2/docs").filter(col("source") === "src1")
    val scanPlan = pruned.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters"), scanPlan)
    assert(scanPlan.replaceAll("\\s+", " ")
      .matches(".*PartitionFilters: \\[[^\\]]*src1[^\\]]*\\].*"), scanPlan)
    assert(pruned.count() == 10L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp2))
  }

  test("plan pins: span dedup shuffles 8-byte gram hashes, never gram text, and has no cartesian product") {
    import spark.implicits._
    val docs = (0 until 30)
      .map(i => (i.toLong, s"alpha beta gamma delta epsilon tail$i more$i"))
      .toDF("doc_id", "text")
    val plan = SpanDedup.spanProfile(
        docs, "doc_id", TextAnalysis.tokensCol(col("text")), k = 5, minCount = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // every hashpartitioning exchange is keyed by the hash or the doc id —
    // the gram text itself must never be a shuffle key
    val keys = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(keys.nonEmpty, plan)
    keys.foreach(k => assert(k.contains("gh") || k.contains("doc_id"), plan))
  }
}
