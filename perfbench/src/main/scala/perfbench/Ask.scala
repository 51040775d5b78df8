package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.embed.{DeterministicEmbedder, ResilientEmbedder}
import graft.index.AnnIndex
import graft.query.Retriever

/** `ask` — interactive serve, closed loop, one client, no think time: each
  * user waits for the answer, as in the reference's chat UI. Set-up
  * persists a vector-index table (numeric `vector_id`s, because
  * `askViaIndex` joins on `vector_id` cast to long) and an AnnIndex over a
  * seeded chunk corpus: PerForm documents of each sf0.1 source, one chunk
  * record each. Each timed turn asks one seeded question twice:
  * `Retriever.ask` over a 1-3 form title filter and `Retriever.askViaIndex`
  * (k = 2, nprobe = 4). A separate phase serves one 256-question batch
  * through `AnnIndex.query`.
  * Why: all the work is in query and the index read path on tiny inputs,
  * where Spark job launch and driver time dominate; the corpus is never
  * chunked or embedded while timed. Single asks versus the batch separate
  * interactive latency from batch throughput.
  */
object Ask {
  // Not measured traffic: 50 documents per source (1000 records) keeps a
  // turn near one second and the run within its time budget on a 4-core
  // host; the whole 5000-document table makes each set-up and each
  // askViaIndex call about twice as slow.
  val PerForm = 50
  val K = 2
  val NProbe = 4
  val Dim = 64
  val BatchSize = 256
  val BatchRepeats = 5
  // untimed batches after the reference one: batch times still fell by
  // about a fifth over the first five
  val BatchWarmup = 2
  val WarmupTurns = 3
  val RecallQuestions = 8

  def run(ctx: Ctx): Outcome = {
    import ctx._
    import spark.implicits._
    val tracer = ctx.tracer
    val corpus = Inputs.askCorpus(Inputs.documents(spark, data), seed, PerForm)
    val textById = corpus.map(r => r._1 -> r._3).toMap
    val questions = Inputs.questions(corpus, seed, 4096)
    val problems = ArrayBuffer.empty[String]
    val plain = new DeterministicEmbedder(Dim)

    // the corpus rows are input generation, made once; set-up persists them
    // as the vector-index table and builds the AnnIndex over that table
    val records = corpus.map { case (id, f, t) => (id.toString, plain.embedOne(t).toSeq, f, t) }
      .toDF("vector_id", "content_vector", "title", "text")
    def setup(k: Int): Unit = {
      val dir = scratch.resolve(s"ask$k")
      val idx = dir.resolve("index").toString
      records.write.parquet(idx)
      AnnIndex.build(spark.read.parquet(idx)
        .select($"vector_id".cast("long").as("vec_id"), $"content_vector".as("embedding")),
        dir.resolve("ann").toString)
    }
    val setups = (0 until 3).map(k => Stats.sampled(setup(k))._2.seconds)
    Log(s"set-up x3: ${setups.mkString(" ")}")
    val (idxPath, annDir) = (scratch.resolve("ask0/index").toString, scratch.resolve("ask0/ann").toString)
    val index = spark.read.parquet(idxPath)
    val embedder = new CountingEmbedder(new ResilientEmbedder(new DeterministicEmbedder(Dim)))

    /** The k context texts of an assembled prompt (corpus texts are single lines). */
    def contextLines(prompt: String, q: String): Seq[String] =
      prompt.stripSuffix("\n\n Question: " + q).split("\n", -1).toSeq

    /** Top-k ids of a direct AnnIndex.query per question, in rank order. */
    def direct(qs: Seq[(Long, String)]): Map[Long, Seq[Long]] =
      AnnIndex.query(spark, annDir, qs.map { case (id, t) => (id, plain.embedOne(t).toSeq) }
        .toDF("query_id", "qv"), K, NProbe)
        .select("query_id", "rank", "vec_id").as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (id, hits) => id -> hits.sortBy(_._2).map(_._3).toSeq }

    def brute(q: Inputs.Question): (DataFrame, String) =
      tracer("op.ask_brute") {
        if (!tracer.active) Retriever.ask(index, q.text, q.forms, embedder, K)
        else {
          val qv = embedder.embed(Seq(q.text)).head
          val hits = tracer("query.topk")(tracer.mat(Retriever.topK(index, qv, q.forms, K)))
          (hits, tracer("query.assemble")(Retriever.assembleContext(hits, q.text)))
        }
      }

    def viaIndex(q: Inputs.Question): (DataFrame, String) =
      tracer("op.ask_index") {
        tracer("index.ask")(Retriever.askViaIndex(index, annDir, q.text, embedder, K, NProbe))
      }

    // each turn's askViaIndex context, checked after the timed loop against
    // one batched direct AnnIndex.query over the same questions
    val contexts = ArrayBuffer.empty[(Int, String, Seq[String])]
    /** One turn: both call types on question `i`; None when a check failed. */
    def turn(i: Int): Option[(Stats.Sample, Stats.Sample)] = {
      val q = questions(i % questions.size)
      tracer.request = i
      try {
        val ((bHits, bPrompt), bS) = Stats.sampled(brute(q))
        val ((_, iPrompt), iS) = Stats.sampled(viaIndex(q))
        val before = problems.size
        val rows = bHits.select("vector_id", "title", "score").as[(String, String, Double)].collect()
        if (rows.length != K || contextLines(bPrompt, q.text).size != K)
          problems += s"question $i: brute ask returned ${rows.length} hits, expected $K"
        if (!rows.forall(r => q.forms.contains(r._2)))
          problems += s"question $i: brute hit outside the title filter ${q.forms}"
        if (rows.map(_._3).sliding(2).exists(p => p.size == 2 && p(0) < p(1)))
          problems += s"question $i: brute scores are not in non-increasing order"
        val iLines = contextLines(iPrompt, q.text)
        if (iLines.size != K || iLines.exists(_.isEmpty))
          problems += s"question $i: index ask returned ${iLines.count(_.nonEmpty)} hits, expected $K"
        if (problems.size != before) None
        else { contexts += ((i, q.text, iLines)); Some((bS, iS)) }
      } catch {
        case e: Exception => problems += s"question $i: ${e.getClass.getSimpleName}: ${e.getMessage}"; None
      }
    }

    // untimed, checked warm-up turns (turn times still fall by about a fifth
    // over the first few); a traced run traces every other timed turn
    tracer.active = false
    var attempted = WarmupTurns
    var failed = (0 until WarmupTurns).count(turn(_).isEmpty)
    Log("warm-up turns done")
    val t0 = System.nanoTime()
    val done = ArrayBuffer.empty[(Int, (Stats.Sample, Stats.Sample))]
    val minTimed = if (tracer.on) 4 else 3
    while (done.size < minTimed || System.nanoTime() < ctx.deadlineNanos(t0)) {
      val i = attempted
      attempted += 1
      tracer.active = tracer.on && i % 2 == 1
      turn(i) match {
        case Some(t) => done += i -> t
        case None => failed += 1
      }
      if (failed > 3 && done.isEmpty) return Outcome.aborted(setups, attempted, failed, problems.toSeq)
    }
    tracer.active = false
    val want = direct(contexts.map { case (i, q, _) => (i.toLong, q) }.toSeq)
    val stale = contexts.filter { case (i, _, lines) =>
      want.getOrElse(i.toLong, Nil).map(textById) != lines
    }
    stale.take(3).foreach { case (i, _, _) =>
      problems += s"question $i: askViaIndex hits differ from a direct AnnIndex.query"
    }
    failed += stale.size

    // batch phase: 256-question batches through the persisted index; every
    // later batch, warm-up or timed, must return the hits of the first one
    val batchQ = (0 until BatchSize).map(j => (j.toLong, plain.embedOne(questions(j).text).toSeq))
      .toDF("query_id", "qv")
    def hitSet(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Long)] =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSet
    val reference = hitSet(AnnIndex.query(spark, annDir, batchQ, K, NProbe).collect())
    val perQuery = reference.groupBy(_._1).values.map(_.size)
    if (perQuery.size != BatchSize || perQuery.exists(_ != K))
      problems += s"warm-up batch: ${perQuery.size} questions answered, expected $BatchSize with $K hits each"
    val batchS = (0 until BatchWarmup + BatchRepeats).map { r =>
      attempted += 1
      val (rows, s) = Stats.sampled(AnnIndex.query(spark, annDir, batchQ, K, NProbe).collect())
      if (hitSet(rows) != reference) {
        failed += 1
        problems += s"batch $r: hits differ from the warm-up batch"
      }
      s
    }.drop(BatchWarmup)

    Log(s"batches: ${batchS.mkString(" ")}")
    // recall: index-served top-k against the unfiltered exact top-k
    val recallQ = questions.take(RecallQuestions)
    val served = AnnIndex.query(spark, annDir,
      recallQ.indices.map(j => (j.toLong, plain.embedOne(recallQ(j).text).toSeq)).toDF("query_id", "qv"),
      K, NProbe).select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupMap(_._1)(_._2)
    val agree = recallQ.indices.map { j =>
      val exact = Retriever.topK(index, plain.embedOne(recallQ(j).text), Nil, K)
        .select($"vector_id".cast("long")).as[Long].collect().toSet
      served.getOrElse(j.toLong, Array.empty[Long]).count(exact.contains)
    }.sum
    val recallBps = agree * 10000.0 / (K * RecallQuestions)

    Log("recall done")
    val turns = done.map(_._2).toSeq
    Log(s"turns: ${turns.map { case (b, x) => s"$b + $x" }.mkString(", ")}")
    val bruteMs = turns.map(_._1.seconds * 1000)
    val indexMs = turns.map(_._2.seconds * 1000)
    val turnMs = Stats.median(turns.map(t => (t._1.seconds + t._2.seconds) * 1000))
    val qps = Stats.median(batchS.map(BatchSize / _.seconds))

    val layers =
      if (!tracer.on) Map.empty[String, Double]
      else {
        val traced = done.toSeq.filter(_._1 % 2 == 1)
        val untraced = done.toSeq.filter(_._1 % 2 == 0)
        def turnS(ts: Seq[(Int, (Stats.Sample, Stats.Sample))]) =
          Stats.median(ts.map(t => t._2._1.seconds + t._2._2.seconds))
        def selfMs(n: String) = Stats.median(tracer.named(n).map(tracer.selfSeconds)) * 1000
        val bruteOps = tracer.named("op.ask_brute")
        val indexOps = tracer.named("op.ask_index")
        val codesRows = tracer.work(tracer.named("index.ask")).scanRows.getOrElse("codes.parquet", 0L)
        val indexRows = tracer.work(tracer.named("query.topk")).scanRows.getOrElse("index", 0L)
        Map(
          "embed.question_ms" -> Stats.median(Probe.driverEmbedMs()),
          "index.ann_query_ms" -> selfMs("index.ask"),
          "index.jobs_per_ask" -> tracer.plainJobsPerOp("op.ask_index"),
          "index.codes_rows_per_hit" -> codesRows.toDouble / (K * indexOps.size),
          "index.recall_bps" -> recallBps,
          "query.topk_ms" -> selfMs("query.topk"),
          "query.assemble_ms" -> selfMs("query.assemble"),
          "query.jobs_per_ask" -> tracer.plainJobsPerOp("op.ask_brute"),
          "query.rows_scanned_per_hit" -> indexRows.toDouble / (K * bruteOps.size),
          "trace.overhead_pct" -> (turnS(traced) / turnS(untraced) - 1) * 100) ++
          Layers.spark(tracer, bruteOps ++ indexOps, traced.size)
      }
    Outcome(
      setupS = setups,
      attempted = attempted,
      problems = problems.toSeq,
      failedOps = failed,
      e2e = Map("op_ms" -> turnMs, "batch_items_per_s" -> qps),
      detail = Seq(
        ("ask_brute_p50_ms", Stats.median(bruteMs), "ms"),
        ("ask_brute_p90_ms", Stats.quantile(bruteMs, 0.9), "ms"),
        ("ask_index_p50_ms", Stats.median(indexMs), "ms"),
        ("ask_index_p90_ms", Stats.quantile(indexMs, 0.9), "ms"),
        ("ask_turn_p50_ms", turnMs, "ms"),
        ("ask_batch_qps", qps, "1/s"),
        ("ask_index_recall_bps", recallBps, "bps"),
        ("ask_turns_timed", done.size.toDouble, "count")),
      layers = layers)
  }
}
