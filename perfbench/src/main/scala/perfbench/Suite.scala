package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `suite` — shipped `SparkEntry.queries` over the committed sf0.1 tables,
  * each written through a noop-like sink as `graft.Bench` does: an
  * exchange-heavy SetSim plan (q226, about eight exchanges plus
  * checkpoints, an exchange-fusion target), one query behind each
  * in-process size gate (LocalGraph q118, PqCodebook q178, the Markov
  * steps q249) and the persisted-index ANN serve (q210), which also leaves
  * a scratch directory behind per run.
  * Why: these cover the dedup, graph, PQ and ANN operator families, their
  * size gates and an exchange-heavy plan, none of which `ingest` or `ask`
  * touch. The roadmap names 18 such queries; one cold pass over all of
  * them takes about 85 s on 4 cores, more than one run can spend, so the
  * suite keeps one query per roadmap item. q216, the other exchange-fusion
  * target, alone takes 8-13 s of a cold pass, so the cheaper q226 stands
  * for that item.
  */
object Suite {
  val Queries: Seq[String] = Seq(
    "q226_setsim_incremental", "q118_dedup_survivors", "q178_pq_ann",
    "q249_markov_stationary", "q210_ann_index_serve")

  /** Tables the queries read; set-up touches each once. */
  val Tables: Seq[String] = Seq("documents", "embeddings", "events", "customer")

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val tracer = ctx.tracer
    val dir = data.toString
    val all = graft.SparkEntry.queries
    val problems = ArrayBuffer.empty[String]
    // the reference hashes, taken from the commit that added the benchmark;
    // a missing file, entry or mismatch fails the query
    val pinned: Map[String, String] = "\"(q\\w+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(Files.readString(bench.resolve("suite_hashes.json")))
      .map(m => m.group(1) -> m.group(2)).toMap

    // set-up: first scan of every table (file listing, footer reads, codegen)
    val setups = (0 until 3).map { _ =>
      Stats.sampled(Tables.foreach(t => graft.Tables.load(spark, dir, t).limit(1).count()))._2.seconds
    }

    // the queries' own scratch goes to java.io.tmpdir, which the launcher
    // points inside this run's scratch root
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def graftTmp(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft_")).toSet
      finally s.close()
    }
    val tmpBefore = graftTmp()
    Log(s"set-up x3: ${setups.mkString(" ")}")

    var attempted = 0
    var failed = 0
    /** One query through the hashing sink; its time (steal-corrected, see
      * [[Stats.Sample]]), or None on failure. */
    def runQuery(name: String, i: Int): Option[Double] = {
      attempted += 1
      tracer.request = i
      val r = try {
        val (_, sample) = Stats.sampled(tracer("queries." + name) {
          all(name)(spark, dir).write.format(classOf[HashSink].getName).mode("append").save()
        })
        Log(f"$name%-26s $sample")
        val s = sample.seconds
        val got = HashSink.last.hex
        pinned.get(name) match {
          case Some(want) if want == got => Some(s)
          case Some(want) =>
            problems += s"$name: output hash $got differs from the pinned $want"; None
          case None =>
            problems += s"$name: no pinned hash (output hash $got)"; None
        }
      } catch {
        case e: Exception => problems += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"; None
      }
      // outside the timed region, as graft.Bench does
      graft.SparkEntry.releaseStaging(spark)
      if (r.isEmpty) failed += 1
      r
    }

    // whole passes until --seconds have elapsed (at least one). A traced
    // run traces the first (cold) pass like the one a plain run times, then
    // makes an untraced and a traced warm pass to measure tracing overhead.
    val t0 = System.nanoTime()
    val passes = ArrayBuffer.empty[(Boolean, Seq[Option[Double]])]
    while (passes.isEmpty || (tracer.on && passes.size < 3) ||
        (!tracer.on && System.nanoTime() < ctx.deadlineNanos(t0))) {
      val traced = tracer.on && passes.size != 1
      tracer.active = traced
      passes += traced -> Queries.zipWithIndex.map { case (q, i) => runQuery(q, passes.size * Queries.size + i) }
      tracer.active = false
    }
    val leaked = graftTmp() -- tmpBefore
    leaked.foreach(n => Ingest.deleteTree(tmp.resolve(n)))

    // per-query median over the passes, suite figures from those
    val perQuery = Queries.indices.map(i => Stats.median(passes.flatMap(_._2(i)).toSeq))
    val total = perQuery.sum
    val layers =
      if (!tracer.on) Map.empty[String, Double]
      else {
        def passTotal(p: Int) = passes(p)._2.flatten.sum
        val spans = Queries.map(q => q -> tracer.named("queries." + q).filter(_.request < Queries.size)).toMap
        Queries.flatMap { q =>
          val w = tracer.work(spans(q))
          Seq(s"queries.$q.s" -> spans(q).map(_.seconds).sum,
            s"queries.$q.jobs" -> w.jobs.toDouble,
            s"queries.$q.shuffle_bytes" -> w.shuffleWriteBytes.toDouble)
        }.toMap ++ Map(
          "queries.tmp_dirs_leaked" -> leaked.size.toDouble / passes.size,
          "trace.overhead_pct" -> (passTotal(2) / passTotal(1) - 1) * 100) ++
          Layers.spark(tracer, spans.values.flatten.toSeq, Queries.size)
      }
    Outcome(
      setupS = setups,
      attempted = attempted,
      problems = problems.toSeq,
      failedOps = failed,
      e2e = Map(
        "op_ms" -> Stats.geomean(perQuery) * 1000,
        "batch_items_per_s" -> Queries.size / total),
      detail = Seq(
        ("suite_total_s", total, "s"),
        ("suite_geomean_s", Stats.geomean(perQuery.filter(_ > 0)), "s"),
        ("suite_passes", passes.size.toDouble, "count"),
        ("queries.tmp_dirs_leaked", leaked.size.toDouble / passes.size, "count")) ++
        Queries.zip(perQuery).map { case (q, s) => (s"suite.$q.s", s, "s") },
      layers = layers)
  }
}

/** The per-layer metric list: every traced run reports each of these, 0
  * where the workload does not exercise the layer.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "sources.extract_s" -> "s", "sources.pdf_bytes_in" -> "B",
    "operators.chunk_s" -> "s", "operators.chunks_out" -> "count",
    "operators.shuffle_bytes" -> "B",
    "embed.embed_s" -> "s", "embed.calls" -> "count", "embed.texts" -> "count",
    "embed.blank_rows" -> "count", "embed.question_ms" -> "ms",
    "index.upsert_s" -> "s", "index.ann_build_s" -> "s", "index.refresh_s" -> "s",
    "index.bytes_written" -> "B", "index.files_written" -> "count",
    "index.bytes_per_vector" -> "B", "index.ann_query_ms" -> "ms",
    "index.jobs_per_ask" -> "count", "index.codes_rows_per_hit" -> "count",
    "index.recall_bps" -> "bps",
    "query.topk_ms" -> "ms", "query.assemble_ms" -> "ms",
    "query.jobs_per_ask" -> "count", "query.rows_scanned_per_hit" -> "count") ++
    Suite.Queries.flatMap(q => Seq(s"queries.$q.s" -> "s", s"queries.$q.jobs" -> "count",
      s"queries.$q.shuffle_bytes" -> "B")) ++ Seq(
    "queries.tmp_dirs_leaked" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.driver_only_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.task_skew" -> "ratio", "spark.peak_heap_mb" -> "MB",
    "trace.overhead_pct" -> "%", "fail_frac" -> "ratio")

  def all(values: Map[String, Double]): Seq[(String, (Double, String))] =
    units.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }

  /** Runtime totals over the traced op spans `ops` (with their subtrees),
    * per request (ingest cycle, ask turn, suite query).
    */
  def spark(t: Tracer, ops: Seq[Span], requests: Int): Map[String, Double] = {
    val w = t.work(ops.flatMap(t.subtree))
    val n = math.max(1, requests).toDouble
    Map(
      "spark.jobs" -> w.jobs / n, "spark.stages" -> w.stages / n,
      "spark.tasks" -> w.tasks / n, "spark.task_s" -> w.taskSeconds / n,
      "spark.driver_only_s" -> ops.map(t.driverOnlySeconds).sum / n,
      "spark.shuffle_write_bytes" -> w.shuffleWriteBytes / n,
      "spark.spill_bytes" -> w.spillBytes / n, "spark.task_skew" -> w.taskSkew)
  }
}
