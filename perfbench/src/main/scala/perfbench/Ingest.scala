package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.embed.{DeterministicEmbedder, EmbeddingJob, ResilientEmbedder}
import graft.index.{AnnIndex, VectorIndex}
import graft.operators.{ChunkPacker, ChunkingJob}
import graft.sources.{PdfIngest, PdfTextExtractor}

/** `ingest` — the batch write path, closed loop, one client. Set-up writes
  * one PDF per form; each op then runs two timed phases:
  *  - build: PDF dir -> text -> 200-token chunks -> embeddings ->
  *    VectorIndex.upsert -> AnnIndex.build into a fresh directory;
  *  - refresh: a delta through AnnIndex.appendDelta and
  *    VectorIndex.upsert(append = true), then one form deleted.
  * Why: all the work is in sources/operators/embed and the index write
  * path, none in query; it is the only workload where chunking's form
  * shuffle and PQ training show. Build and refresh are timed apart so a
  * faster build that makes the nightly delta costlier still shows.
  */
object Ingest {
  // One PDF per source of the sf0.1 documents table (20 forms). The sizes
  // below are not measured traffic; they are chosen so that a build and a
  // refresh take a few seconds each on a 4-core host and a run fits its
  // time budget.
  val PerForm = 50
  val ClonesPerForm = 10
  val DeltaDocs = 100
  val TokenLimit = 200
  val Dim = 64
  val SubVectors = 8 // AnnIndex's default m
  val SetupRuns = 7
  val WarmupCycles = 2

  def run(ctx: Ctx): Outcome = {
    import ctx._
    import spark.implicits._
    val tracer = ctx.tracer
    // set-up: load the source documents and write the PDF corpus, SetupRuns
    // times (each into a fresh directory) so that setup_s is a median over
    // warm set-ups. The PDF writes alone (about 0.2 s) settled on one of
    // two speeds 1.8x apart per JVM, so their median flipped between runs.
    def prepare(k: Int): (IndexedSeq[Inputs.Doc], Seq[Inputs.Form]) = {
      val docs = Inputs.documents(spark, data)
      val forms = Inputs.ingestForms(docs, seed, PerForm, ClonesPerForm)
      writePdfs(forms, scratch.resolve(s"pdf$k"))
      (docs, forms)
    }
    val prepared = (0 until SetupRuns).map(k => Stats.sampled(prepare(k)))
    val setups = prepared.map(_._2.seconds)
    val (docs, forms) = prepared.head._1
    val lines = forms.map(_.lines.size).sum
    val (delta, deletedForm) = Inputs.ingestDelta(docs, forms, seed, DeltaDocs)
    val problems = ArrayBuffer.empty[String]
    val pdfDir = scratch.resolve("pdf0")
    val pdfBytes = forms.map(f => Files.size(pdfDir.resolve(f.name + ".pdf"))).sum
    forms.foreach { f =>
      val back = PdfTextExtractor.extract(Files.readAllBytes(pdfDir.resolve(f.name + ".pdf")))
      if (back != f.text) problems += s"${f.name}: PDF text does not round-trip"
    }
    // expected counts from the engine's sequential packer, not the Spark path
    val expected = forms.map { f =>
      val (a, b) = ChunkPacker.packPyPdfPasses(f.lines, TokenLimit)
      f.name -> (a.size + b.size).toLong
    }.toMap
    val vectors = expected.values.sum
    val deltaCounts = delta.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val afterRefresh = (expected.keySet ++ deltaCounts.keySet - deletedForm).map { f =>
      f -> (expected.getOrElse(f, 0L) + deltaCounts.getOrElse(f, 0L))
    }.toMap

    val embedder = new CountingEmbedder(new ResilientEmbedder(new DeterministicEmbedder(Dim)))
    val plain = new DeterministicEmbedder(Dim)
    val deltaRecords = delta.zipWithIndex.map { case ((f, t), i) => (f, t, plain.embedOne(t).toSeq, i) }
      .toDF("title", "text", "content_vector", "ord")
    val deltaAnn = delta.zipWithIndex.map { case ((_, t), i) => (1000000000000L + i, plain.embedOne(t).toSeq) }
      .toDF("vec_id", "embedding")

    final case class Cycle(build: Stats.Sample, refresh: Stats.Sample, embed: (Long, Long, Long),
        chunks: Long, bytes: Long, files: Long)

    def check(what: String, got: Map[String, Long], want: Map[String, Long]): Boolean =
      if (got == want) true
      else {
        val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(3)
        problems += s"$what: per-form counts differ from the expected (${diff.map(k => s"$k ${got.get(k)} vs ${want.get(k)}").mkString(", ")})"
        false
      }

    def cycle(i: Int): Option[Cycle] = {
      val dir = scratch.resolve(s"cycle$i")
      val vi = new VectorIndex(spark, dir.resolve("vi").toString)
      val ann = dir.resolve("ann").toString
      tracer.request = i
      val e0 = Probe.embedSnapshot()
      val r = try {
        val (_, build) = Stats.sampled(tracer("op.build") {
          val text = tracer("sources.extract") {
            tracer.mat(PdfIngest.extractText(PdfIngest.readBinaryDir(spark, pdfDir.toString)))
          }
          val docsIn = text.select($"formName", lit(0L).as("seq"), $"text").as[ChunkingJob.DocInput]
          val chunks = tracer("operators.chunk") {
            tracer.mat(ChunkingJob.chunkPyPdf(docsIn, TokenLimit).toDF())
          }
          val embedded = tracer("embed.embed") {
            tracer.mat(EmbeddingJob.embedColumn(chunks, "Content", embedder))
          }
          tracer("index.upsert") {
            vi.upsert(embedded.select($"FormName".as("title"), $"Content".as("text"),
              $"Embeddings".as("content_vector"), $"ChunkId"), "ChunkId")
          }
          tracer("index.ann_build") {
            AnnIndex.build(vi.read.select(xxhash64($"vector_id").as("vec_id"),
              $"content_vector".as("embedding")), ann)
          }
        })
        val e1 = Probe.embedSnapshot()
        val (bytes, files) = diskUsage(dir)
        val built = stats(vi)
        val okBuild = check("build", built, expected) & codesCheck(ann, vectors, "build")
        val (_, refresh) = Stats.sampled(tracer("op.refresh") {
          tracer("index.refresh") {
            AnnIndex.appendDelta(spark, ann, deltaAnn)
            vi.upsert(deltaRecords, "ord", append = true)
            vi.deleteByForms(Seq(deletedForm))
          }
        })
        Log(s"cycle $i: build $build refresh $refresh")
        val okRefresh = check("refresh", stats(vi), afterRefresh) &
          codesCheck(ann, vectors + delta.size, "refresh")
        if (okBuild && okRefresh)
          Some(Cycle(build, refresh, (e1._1 - e0._1, e1._2 - e0._2, e1._3 - e0._3),
            built.values.sum, bytes, files))
        else None
      } catch {
        case e: Exception => problems += s"cycle $i: ${e.getClass.getSimpleName}: ${e.getMessage}"; None
      }
      deleteTree(dir)
      r
    }

    def stats(vi: VectorIndex): Map[String, Long] =
      vi.stats.as[(String, Long)].collect().toMap

    def codesCheck(ann: String, n: Long, what: String): Boolean = {
      val rows = spark.read.parquet(s"$ann/codes.parquet").count()
      val ok = rows == n * SubVectors
      if (!ok) problems += s"$what: AnnIndex codes hold $rows rows, expected ${n * SubVectors}"
      ok
    }

    // the first WarmupCycles cycles warm the JVM (the first timed cycle
    // after a single warm-up still ran about a third slower than later
    // ones) and are checked like the rest, but not timed into the metrics;
    // a traced run traces every other timed cycle and times the rest
    // untraced
    Log(s"set-up x$SetupRuns: ${setups.mkString(" ")}")
    tracer.active = false
    var attempted = WarmupCycles
    var failed = (0 until WarmupCycles).count(cycle(_).isEmpty)
    Log("warm-up cycles done")
    val t0 = System.nanoTime()
    val done = ArrayBuffer.empty[(Int, Cycle)]
    val minTimed = 3
    while (done.size < minTimed || System.nanoTime() < ctx.deadlineNanos(t0)) {
      val i = attempted
      attempted += 1
      tracer.active = tracer.on && i % 2 == 1
      cycle(i) match {
        case Some(c) => done += i -> c
        case None => failed += 1
      }
      if (failed > 2 && done.isEmpty) return Outcome.aborted(setups, attempted, failed, problems.toSeq)
    }
    tracer.active = false
    val cycles = done.map(_._2).toSeq
    val builds = cycles.map(_.build)
    val refreshes = cycles.map(_.refresh)
    val buildDocsPerS = Stats.median(builds.map(b => lines / b.seconds))
    val refreshDocsPerS = Stats.median(refreshes.map(r => DeltaDocs / r.seconds))
    val refreshMs = Stats.median(refreshes.map(_.seconds * 1000))
    // per-op counts come from an untraced cycle: a traced one materializes
    // each layer once, which would hide a lazy frame that the plain path
    // evaluates twice
    val plainCycle = done.find(c => !tracer.on || c._1 % 2 == 0).getOrElse(done.head)._2
    val bytesPerVector = plainCycle.bytes.toDouble / vectors

    val layers =
      if (!tracer.on) Map.empty[String, Double]
      else {
        val traced = done.toSeq.filter(_._1 % 2 == 1)
        val untraced = done.toSeq.filter(_._1 % 2 == 0)
        def cycleS(cs: Seq[(Int, Cycle)]) = Stats.median(cs.map(c => c._2.build.seconds + c._2.refresh.seconds))
        def selfMed(n: String) = Stats.median(tracer.named(n).map(tracer.selfSeconds))
        val ops = tracer.named("op.build") ++ tracer.named("op.refresh")
        Map(
          "sources.extract_s" -> selfMed("sources.extract"),
          "sources.pdf_bytes_in" -> pdfBytes.toDouble,
          "operators.chunk_s" -> selfMed("operators.chunk"),
          "operators.chunks_out" -> plainCycle.chunks.toDouble,
          "operators.shuffle_bytes" -> Stats.median(tracer.named("operators.chunk")
            .map(s => tracer.work(Seq(s)).shuffleWriteBytes.toDouble)),
          "embed.embed_s" -> selfMed("embed.embed"),
          "embed.calls" -> plainCycle.embed._1.toDouble,
          "embed.texts" -> plainCycle.embed._2.toDouble,
          "embed.blank_rows" -> plainCycle.embed._3.toDouble,
          "index.upsert_s" -> selfMed("index.upsert"),
          "index.ann_build_s" -> selfMed("index.ann_build"),
          "index.refresh_s" -> selfMed("index.refresh"),
          "index.bytes_written" -> plainCycle.bytes.toDouble,
          "index.files_written" -> plainCycle.files.toDouble,
          "index.bytes_per_vector" -> bytesPerVector,
          "trace.overhead_pct" -> (cycleS(traced) / cycleS(untraced) - 1) * 100) ++
          Layers.spark(tracer, ops, traced.size)
      }
    Outcome(
      setupS = setups,
      attempted = attempted,
      problems = problems.toSeq,
      failedOps = failed,
      e2e = Map("op_ms" -> refreshMs, "batch_items_per_s" -> buildDocsPerS),
      detail = Seq(
        ("ingest_build_docs_per_s", buildDocsPerS, "1/s"),
        ("ingest_refresh_docs_per_s", refreshDocsPerS, "1/s"),
        ("index_bytes_per_vector", bytesPerVector, "B"),
        ("ingest_build_s_p50", Stats.median(builds.map(_.seconds)), "s"),
        ("ingest_refresh_ms_p50", refreshMs, "ms"),
        ("ingest_ops_timed", cycles.size.toDouble, "count")),
      layers = layers)
  }

  private def writePdfs(forms: Seq[Inputs.Form], dir: Path): Unit = {
    Files.createDirectories(dir)
    forms.foreach(f => Files.write(dir.resolve(f.name + ".pdf"), PdfTextExtractor.synthIdentityHPdf(f.text)))
  }

  /** (bytes, files) of every regular file under `dir`. */
  def diskUsage(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
