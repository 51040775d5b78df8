package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.DeterministicEmbedder
import graft.index.VectorIndex
import graft.operators.ChunkingJob
import graft.query.{AppQueries, Retriever}

/** Integration specs that need a SparkSession: distributed packers vs the
  * pure-Scala algorithms, embedding determinism, index lifecycle, retrieval
  * end-to-end (context assembly parity with `QA_using_pinecone.py:45-55`),
  * the streaming ingest chain, and the windowed sectionizer vs the state
  * machine.
  */
class SparkOpsSpec extends AnyFunSuite with TempDirs {

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

  private val docTexts = Seq(
    ("formA", 0L, "alpha beta gamma delta epsilon zeta eta theta"),
    ("formA", 1L, "iota kappa lambda mu nu xi omicron pi"),
    ("formB", 0L, "# Heading\nbody one two three\nmore body text here"))

  test("distributed chunkPyPdf equals the local packer per form") {
    import spark.implicits._
    val ds = docTexts.toDF("formName", "seq", "text").as[ChunkingJob.DocInput]
    val got = ChunkingJob.chunkPyPdf(ds, tokenLimit = 10).collect()
      .groupBy(_.FormName).view.mapValues(_.sortBy(_.ChunkId).map(_.Content).toVector).toMap
    val local = docTexts.groupBy(_._1).map { case (form, rows) =>
      val text = rows.sortBy(_._2).map(_._3).mkString("\n")
      form -> graft.operators.ChunkPacker
        .packPyPdf(text.split("\n", -1).toSeq, 10).map(_.content)
    }
    assert(got.keySet == local.keySet)
    for (form <- got.keySet) assert(got(form).sorted == local(form).sorted.toVector, form)
  }

  test("streamed chunkNougat equals whole-form chunking, incl. scrub markers at doc boundaries") {
    import spark.implicits._
    val forms = Seq(
      // f1: a line-scoped marker on a NON-final doc's last line (terminated
      // by the join "\n" -> scrubs), a DOTALL span inside one doc, and a
      // marker on the form's unterminated FINAL line (must NOT scrub)
      ("f1", 0L, "# Head\nbody a\n\\begin{tabular}{cc} gone"),
      ("f1", 1L, "tail line\n+++ nougat warn +++\nmore body"),
      ("f1", 2L, "## Sub\nlast doc\n\\begin{table} unterminated"),
      // f2: single doc, empty-line handling
      ("f2", 0L, "solo intro\n\nsecond para"))
    val ds = forms.toDF("formName", "seq", "text").as[ChunkingJob.DocInput]
    val got = ChunkingJob.chunkNougat(ds, tokenLimit = 6).collect()
      .groupBy(_.FormName).view
      .mapValues(_.sortBy(c => c.ChunkId.drop(c.FormName.length + 1).toInt)
        .map(c => (c.Content, c.TokenCount)).toVector).toMap
    val want = forms.groupBy(_._1).map { case (form, rows) =>
      val joined = rows.sortBy(_._2).map(_._3).mkString("\n")
      form -> graft.operators.Sectionizer.chunkDocument(form, joined, 6)
        .map(c => (c.content, c.tokenCount))
    }
    assert(got == want)
    // the boundary semantics actually fired: non-final marker scrubbed,
    // final unterminated marker kept
    val f1 = got("f1").map(_._1).mkString("\n")
    assert(!f1.contains("tabular") && !f1.contains("nougat warn"))
    assert(f1.contains("\\begin{table} unterminated"))
  }

  test("chunkNougat: one hot form with thousands of documents streams through") {
    import spark.implicits._
    // a single form (the worst skew case) with ~3000 docs; the streamed path
    // must pack it with only section-sized state — and word totals must be
    // conserved end-to-end
    val docs = (0 until 3000).map { i =>
      val body = (0 until 8).map(w => s"w${i}x$w").mkString(" ")
      ("hot", i.toLong, if (i % 50 == 0) s"# sec$i\n$body" else body)
    }
    val ds = docs.toDF("formName", "seq", "text").as[ChunkingJob.DocInput]
    val chunks = ChunkingJob.chunkNougat(ds, tokenLimit = 200).collect()
    assert(chunks.nonEmpty)
    assert(chunks.forall(_.FormName == "hot"))
    // count by pattern, not whitespace split: the C4 heading carry prefixes
    // with NO separator (reference quirk), merging the heading into the
    // first body word of continuation chunks
    val gotWords = "w\\d+x\\d+".r.findAllIn(chunks.iterator.map(_.Content).mkString(" ")).size
    assert(gotWords == 3000 * 8)
  }

  test("sequence packing: greedy per-source fold, oversized docs alone, tokens conserved") {
    import spark.implicits._
    val docs = Seq(
      ("s1", 0L, "a b c"),           // 3 -> seq 1 (cur 3)
      ("s1", 1L, "d e"),             // 2 -> seq 1 (cur 5)
      ("s1", 2L, "f g h i"),         // 5+4 > 6 -> seq 2 (cur 4)
      ("s1", 3L, "j k l m n o p"),   // 7 > budget -> its own seq 3
      ("s1", 4L, "q"),               // 7+1 > 6 -> seq 4
      ("s2", 0L, "x y"))             // s2 restarts at seq 1
      .toDF("formName", "seq", "text").as[ChunkingJob.DocInput]
    val got = graft.operators.SequencePacker.packBySource(docs, tokenBudget = 6)
      .collect().map(p => (p.source, p.doc_id, p.seq_no, p.doc_tokens)).toSet
    assert(got == Set(
      ("s1", 0L, 1L, 3), ("s1", 1L, 1L, 2), ("s1", 2L, 2L, 4),
      ("s1", 3L, 3L, 7), ("s1", 4L, 4L, 1), ("s2", 0L, 1L, 2)))
  }

  test("windowed sectionizeDF matches the Sectionizer state machine") {
    import spark.implicits._
    val text = "Intro one.\nAnother intro.\n# Title\nBody a.\n* bullet\n## Sub\nBody b."
    val paras = text.split("\n").zipWithIndex
      .map { case (p, i) => ("f1", i.toLong, p) }.toSeq
      .toDF("formName", "lineNo", "para")
    val got = ChunkingJob.sectionizeDF(paras)
      .select("lineNo", "paraSemantics", "section")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val want = graft.operators.Sectionizer.paragraphs("f1", text)
      .map(p => (p.paraNumber.toLong, p.paraSemantics, p.section.toLong))
    assert(got.toSeq == want)
  }

  test("deterministic embedder: unit norm, stable across calls and JVms") {
    val e = new DeterministicEmbedder(32)
    val v1 = e.embedOne("hello world")
    val v2 = e.embedOne("hello world")
    assert(v1.toSeq == v2.toSeq)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-3)
    assert(e.embedOne("hello world!").toSeq != v1.toSeq)
  }

  test("vector index lifecycle: upsert is idempotent, deletes rewrite state") {
    import spark.implicits._
    val dir = tmpDir("graft_idx")
    val idx = new VectorIndex(spark, s"$dir/index")
    val e = new DeterministicEmbedder(8)
    val records = Seq(("formA", "text a1", 0L), ("formA", "text a2", 1L), ("formB", "text b1", 0L))
      .toDF("title", "text", "ord")
      .withColumn("content_vector", org.apache.spark.sql.functions.lit(e.embedOne("x")))
    idx.upsert(records, "ord")
    assert(idx.read.count() == 3)
    assert(idx.dimension == 8)
    idx.upsert(records, "ord") // same ids -> replaced, not duplicated
    assert(idx.read.count() == 3)
    assert(idx.formExists("formA") && !idx.formExists("formC"))
    // append mode: incremental upsert mints OFFSET ids — never re-mints
    // over existing records
    val more = Seq(("formA", "text a3", 9L)).toDF("title", "text", "ord")
      .withColumn("content_vector", org.apache.spark.sql.functions.lit(e.embedOne("y")))
    idx.upsert(more, "ord", append = true)
    assert(idx.read.count() == 4)
    assert(idx.read.filter($"vector_id" === "formA_2").count() == 1)
    assert(idx.read.filter($"vector_id" === "formA_0" && $"text" === "text a1").count() == 1)
    idx.deleteByIds(Seq("formA_2"))
    idx.deleteByForms(Seq("formB"))
    assert(idx.read.count() == 2)
    idx.deleteByIds(Seq("formA_0"))
    assert(idx.read.as[(String, Seq[Float], String, String)].collect().map(_._1).toSet == Set("formA_1"))
    // after a delete the title holds fewer records than its highest id:
    // append mode mints past the highest id, never over a live record
    val later = Seq(("formA", "text a4", 0L)).toDF("title", "text", "ord")
      .withColumn("content_vector", org.apache.spark.sql.functions.lit(e.embedOne("z")))
    idx.upsert(later, "ord", append = true)
    assert(idx.read.select($"vector_id", $"text").as[(String, String)].collect().toMap ==
      Map("formA_1" -> "text a2", "formA_2" -> "text a4"))
    idx.deleteAll()
    assert(idx.read.count() == 0)
  }

  test("vector index: re-reading a version it wrote or read costs no schema-inference job; read.schema matches the files after every mutation") {
    import spark.implicits._
    val path = s"${tmpDir("graft_idx_schema")}/index"
    val idx = new VectorIndex(spark, path)
    val e = new DeterministicEmbedder(8)
    def batch(rows: (String, String, Long)*) = rows.toDF("title", "text", "ord")
      .withColumn("content_vector", org.apache.spark.sql.functions.lit(e.embedOne("x")))
    def onDisk(): org.apache.spark.sql.types.StructType = {
      val v = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path, "_CURRENT")), "UTF-8").trim
      spark.read.parquet(s"$path/v$v").schema
    }
    def inferenceJobs(body: => Unit): Seq[String] =
      org.apache.spark.JobNames.callStacks(spark.sparkContext)(body)._2.flatten
        .filter(_.contains("DataFrameReader.parquet"))
    idx.upsert(batch(("fA", "t1", 0L), ("fA", "t2", 1L), ("fB", "t3", 0L)), "ord")
    assert(idx.read.schema == onDisk())
    assert(inferenceJobs(idx.upsert(batch(("fA", "t4", 0L)), "ord", append = true)).isEmpty)
    assert(idx.read.schema == onDisk())
    assert(inferenceJobs(idx.deleteByForms(Seq("fB"))).isEmpty)
    assert(idx.read.schema == onDisk())
    idx.upsert(batch(("fA", "t1", 0L)), "ord")
    assert(idx.read.schema == onDisk())
    idx.deleteByIds(Seq("fA_1"))
    assert(idx.read.schema == onDisk())
    // a second instance infers the version it did not write, then reads it
    // like the writer does
    val other = new VectorIndex(spark, path)
    val rows = idx.read.select($"vector_id", $"text").as[(String, String)].collect().toMap
    assert(rows == Map("fA_0" -> "t1", "fA_2" -> "t4"))
    assert(other.read.select($"vector_id", $"text").as[(String, String)].collect().toMap == rows)
    assert(inferenceJobs(other.read.count()).isEmpty)
    other.upsert(batch(("fC", "t5", 0L)), "ord", append = true)
    assert(idx.read.count() == 3 && idx.read.schema == onDisk())
    assert(inferenceJobs(other.stats.collect()).isEmpty)
    idx.deleteAll()
    assert(idx.read.schema == onDisk() && idx.read.count() == 0)
    assert(other.read.schema == onDisk() && other.dimension == 0)
  }

  test("vector index: versioned snapshots, pointer swap, GC keeps current+previous") {
    import spark.implicits._
    val dir = tmpDir("graft_idx_v")
    val idx = new VectorIndex(spark, s"$dir/index")
    val e = new DeterministicEmbedder(8)
    val records = Seq(("fA", "t1", 0L), ("fA", "t2", 1L), ("fB", "t3", 0L))
      .toDF("title", "text", "ord")
      .withColumn("content_vector", org.apache.spark.sql.functions.lit(e.embedOne("x")))
    idx.upsert(records, "ord")                       // v0
    val snapshot = idx.read                          // bound to v0
    idx.deleteByForms(Seq("fB"))                     // v1; v0 kept for in-flight readers
    assert(snapshot.count() == 3)                    // old snapshot still readable
    assert(idx.read.count() == 2)
    idx.deleteByIds(Seq("fA_0"))                     // v2; v0 GC'd
    val root = new java.io.File(s"$dir/index")
    val versions = root.listFiles().map(_.getName).filter(_.matches("v\\d+")).sorted
    assert(versions.toSeq == Seq("v1", "v2"))        // exactly current + previous
    assert(new java.io.File(root, "_CURRENT").exists())
    assert(idx.read.as[(String, Seq[Float], String, String)].collect().map(_._1).toSeq == Seq("fA_1"))
    assert(idx.dimension == 8)
    idx.deleteAll()
    assert(idx.read.count() == 0 && idx.dimension == 0) // empty (not absent) index
  }

  test("stats mirror helpers track index deletes (pipeline2 mirror semantics)") {
    import spark.implicits._
    val stats = Seq("fA", "fB", "fC").toDF("form_name")
    val afterForms = AppQueries.mirrorDeleteForms(stats, Seq("fC"))
      .as[String].collect().toSet
    assert(afterForms == Set("fA", "fB"))
    // prune-orphans: fB's vectors are gone from the index
    val indexTitles = Seq("fA").toDF("title")
    val pruned = AppQueries.pruneOrphans(afterForms.toSeq.toDF("form_name"), indexTitles)
      .as[String].collect().toSet
    assert(pruned == Set("fA"))
    assert(AppQueries.mirrorDeleteAll(stats).count() == 0)
  }

  test("multimodal resize/frames/embed keep schema, batch shape, and determinism") {
    import spark.implicits._
    val df = Seq((1L, "x" * 450), (2L, "tiny")).toDF("doc_id", "txt")
      .select($"doc_id", $"txt".cast("binary").as("media"))
    val resized = graft.operators.Multimodal.resize(df, "media", 64, 64)
    assert(resized.columns.toSeq == Seq("doc_id", "media", "resized"))
    val tag = new String(resized.filter($"doc_id" === 1L).select("resized")
      .head().getAs[Array[Byte]](0))
    assert(tag.endsWith(":64x64"))
    val frames = graft.operators.Multimodal.sampleFrames(df, "media", 200, 4)
      .select($"doc_id", $"frame_idx").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(frames.count(_._1 == 1L) == 3) // ceil(450/200) = 3 frames
    assert(frames.count(_._2 == 0L) == 2) // every doc has frame 0 (min 1 frame)
    val e = new DeterministicEmbedder(8)
    val emb = graft.operators.Multimodal.embedBinary(df, "media", e)
      .select($"doc_id", $"media_embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    // embedding = embedder over the content md5 (stable, re-derivable)
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(("x" * 450).getBytes).map(b => f"$b%02x").mkString
    assert(emb(1L) == e.embedOne(md5hex).toSeq)
  }

  test("retriever ask: filtered top-k + context assembly parity") {
    import spark.implicits._
    val e = new DeterministicEmbedder(16)
    val rows = (0 until 20).map { i =>
      val form = if (i % 2 == 0) "formA" else "formB"
      (s"${form}_$i", e.embedOne(s"content number $i").toSeq, form, s"content number $i")
    }
    val index = rows.toDF("vector_id", "content_vector", "title", "text")
    val (hits, context) = Retriever.ask(index, "content number 4", Seq("formA"), e, k = 2)
    val got = hits.select("vector_id", "title").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.length == 2)
    assert(got.forall(_._2 == "formA"))
    // the query text itself is in the index -> cosine 1.0 with its own vector
    assert(got.head._1 == "formA_4")
    val texts = hits.select("text").collect().map(_.getString(0))
    assert(context == texts.mkString("\n") + "\n\n Question: content number 4")
  }

  test("distributed embedColumn with the resilient HTTP stack: one poison row blanks alone") {
    import spark.implicits._
    import org.apache.spark.sql.functions.size
    // canned transport: any request whose payload mentions the poison text
    // fails; the production policy retries the batch, then isolates per row
    val transport = (body: String) =>
      if (body.contains("poisoned-text")) throw new java.io.IOException("HTTP 500")
      else {
        // one canned vector per element of the "input" array (texts here
        // contain no commas, so counting separators is exact)
        val in = body.substring(body.indexOf("\"input\":[") + 9, body.lastIndexOf("]"))
        val n = if (in.isEmpty) 0 else in.count(_ == ',') + 1
        s"""{"data":[${Seq.fill(n)("""{"embedding":[0.5,0.5]}""").mkString(",")}]}"""
      }
    val embedder = new graft.embed.ResilientEmbedder(
      new graft.embed.HttpEmbedder("http://unused", "m", "k", 2, transport),
      maxRetries = 1, backoffMillis = 1L, sleeper = _ => ())
    val df = Seq((1L, "fine one"), (2L, "poisoned-text"), (3L, "fine two"))
      .toDF("id", "Content").repartition(1) // one partition -> one batch
    val got = graft.embed.EmbeddingJob.embedColumn(df, "Content", embedder, batchSize = 3)
      .select($"id", size($"Embeddings").as("dim"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == Map(1L -> 2, 2L -> 0, 3L -> 2)) // only the poison row is empty
  }

  test("streaming: chunk CSV stream -> embed -> index append (AvailableNow)") {
    import spark.implicits._
    val in = tmpDir("graft_stream_in")
    val out = tmpDir("graft_stream_out")
    val ck = tmpDir("graft_stream_ck")
    Seq(("hello chunk one", 3, "formA", "formA_0", null.asInstanceOf[String]),
        ("hello chunk two", 3, "formB", "formB_0", null.asInstanceOf[String]))
      .toDF("Content", "TokenCount", "FormName", "ChunkId", "Embeddings")
      .write.option("header", true).mode("overwrite").csv(in)
    val q = graft.streaming.StreamingIngest.chunkCsvToIndex(
      spark, in, s"$out/index", ck, new DeterministicEmbedder(8))
    q.awaitTermination(60000)
    val idx = spark.read.parquet(s"$out/index")
    assert(idx.count() == 2)
    assert(idx.columns.toSet == Set("vector_id", "content_vector", "title", "text"))
    val v = idx.filter($"vector_id" === "formA_0")
      .select("content_vector").as[Seq[Float]].head()
    assert(v == new DeterministicEmbedder(8).embedOne("hello chunk one").toSeq)
  }

  test("app queries: register/login analog + anti-join form sync") {
    import spark.implicits._
    val users = AppQueries.newUserRow(spark, 1L, "a@b.com", "pw!12345")
    assert(AppQueries.emailExists(users, "a@b.com"))
    assert(!AppQueries.emailExists(users, "other@b.com"))
    assert(AppQueries.verifyLogin(users, "a@b.com", "pw!12345"))
    assert(!AppQueries.verifyLogin(users, "a@b.com", "wrong"))
    val existing = Seq("f1", "f2").toDF("form_name")
    val processed = Seq("f2", "f3").toDF("form_name")
    assert(AppQueries.newForms(existing, processed).as[String].collect().toSeq == Seq("f3"))
    // chat history: newest first, chat_id breaks a timestamp tie, skip/limit
    // page through it; other users' chats never appear
    val chats = Seq((10L, 1L, 100L), (11L, 1L, 300L), (12L, 1L, 300L), (13L, 1L, 200L),
      (14L, 2L, 999L)).toDF("chat_id", "user_id", "created_ts")
    def page(skip: Int, limit: Int): Seq[Long] =
      AppQueries.chatHistory(chats, 1L, skip, limit).select("chat_id").as[Long].collect().toSeq
    assert(page(0, 50) == Seq(12L, 11L, 13L, 10L))
    assert(page(1, 2) == Seq(11L, 13L))
    assert(page(4, 2).isEmpty)
    // chats join their user over the FK; a chat without a user drops
    val joined = AppQueries.chatsWithUsers(users.select("user_id", "user_email"), chats)
      .select("chat_id", "user_email").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(joined == Seq(10L, 11L, 12L, 13L).map(_ -> "a@b.com"))
    val stats = Seq(("f1", 3), ("f2", 1), ("f1", 4)).toDF("form_name", "n_chunks")
    assert(AppQueries.formCatalog(stats).as[String].collect().sorted.toSeq == Seq("f1", "f2"))
  }

  test("native sketch expressions: edge inputs + parity with HOF formulas") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((0L, ""), (1L, "ab"), (2L, "one two"), (3L, "alpha beta gamma delta"),
      (4L, "the  quick   brown fox jumps over the lazy dog again and again"))
      .toDF("id", "text")
    // minhash: native vs affine-mix over HOF shingles must agree row-for-row
    val native = graft.operators.Dedup.minhashSig(df, "text", 4, 5)
      .select($"id", $"minhash").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = df.withColumn("shash",
        transform(graft.operators.Dedup.shinglesCol($"text", 5),
          s => graft.functions.HashFunctions.stableHash64(s) % graft.operators.Dedup.MinhashModulus))
      .withColumn("minhash", array((0 until 4).map { j =>
        array_min(transform(col("shash"), h =>
          (h * ParityRefs.minhashA(j) + ParityRefs.minhashB(j)) %
            graft.operators.Dedup.MinhashModulus))
      }: _*))
      .select($"id", $"minhash").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == hof)
    // simhash/fingerprint: defined (no throw) on empty + short inputs,
    // deterministic, and fingerprint of <3 tokens equals hash of join
    val sk = graft.operators.Dedup.simhash32(df, "text", "sh")
      .select($"id", $"sh").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sk.keySet == Set(0L, 1L, 2L, 3L, 4L))
    val fp = df.select($"id", graft.operators.TextAnalysis.fingerprint($"text").as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fp(2L) == graft.functions.HashFunctions.stableHash64("one two"))
    assert(fp(0L) == graft.functions.HashFunctions.stableHash64(""))
  }

  test("native ShingleJaccard equals the distinct/intersect/union formulation") {
    import spark.implicits._
    val texts = Seq("", "ab", "abcdef", "abcdefgh", "xyzabcde", "the same the same",
      "totally different words here", "abcde")
    val pairs = for (a <- texts; b <- texts) yield (a, b)
    val df = pairs.toDF("ta", "tb")
    val both = df.select(
        graft.operators.Dedup.jaccard($"ta", $"tb", 4).as("native"),
        ParityRefs.jaccardHof($"ta", $"tb", 4).as("hof"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    both.foreach { case (n, h) => assert(n == h, s"native $n != hof $h") }
    // same pin for the asymmetric containment twin (same shingle sets)
    val cont = df.select(
        graft.operators.Dedup.containment($"ta", $"tb", 4).as("native"),
        ParityRefs.containmentHof($"ta", $"tb", 4).as("hof"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    cont.foreach { case (n, h) => assert(n == h, s"containment native $n != hof $h") }
    // the one-pass pair scorer is bit-identical to the three singles
    val fused = df.select(
        graft.operators.Dedup.pairScores($"ta", $"tb", 4).as("sc"),
        graft.operators.Dedup.containment($"ta", $"tb", 4).as("c_ab"),
        graft.operators.Dedup.containment($"tb", $"ta", 4).as("c_ba"),
        graft.operators.Dedup.jaccard($"ta", $"tb", 4).as("j"))
      .collect()
    fused.foreach { r =>
      val sc = r.getStruct(0)
      assert(sc.getDouble(0) == r.getDouble(1) && sc.getDouble(1) == r.getDouble(2) &&
        sc.getDouble(2) == r.getDouble(3), s"pairScores mismatch: $r")
    }
  }

  test("resolveClusters: min-label propagation finds connected-component keepers") {
    import spark.implicits._
    // components: {1,2,3,9} (chain 9-1, 1-2, 2-3), {5,7}, isolated {4}
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 1L), (5L, 7L)).toDF("id_a", "id_b")
    val ids = (1L to 9L).toDF("doc_id")
    val got = graft.operators.Dedup.resolveClusters(pairs, ids)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 7L -> 5L, 4L -> 4L, 6L -> 6L, 8L -> 8L))
  }

  test("resolveClustersSparse: identical labels, singletons never propagated") {
    import spark.implicits._
    // same graph + a large singleton population the sparse path must NOT
    // carry through propagation rounds (parity is the contract; the win is
    // that rounds only touch the 6 endpoint ids, not all 50)
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 1L), (5L, 7L)).toDF("id_a", "id_b")
    val ids = (1L to 50L).toDF("doc_id")
    val dense = graft.operators.Dedup.resolveClusters(pairs, ids)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sparse = graft.operators.Dedup.resolveClustersSparse(pairs, ids)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sparse == dense)
    assert(sparse(42L) == 42L && sparse.size == 50)
  }

  test("mid-range near-dup chains (0.5 <= est_jac < 1) need >= 2 propagation rounds") {
    import spark.implicits._
    // sliding-token docs: adjacent docs share 30/40 tokens (est_jac lands in
    // the mid band), non-adjacent share less — a chain 0~1~2~... where the
    // ends are NOT direct candidates, so the min label must hop
    val docs = (0 until 6).map { i =>
      (i.toLong, (10 * i until 10 * i + 40).map(k => s"w$k").mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.nearDupPairs(
        docs, "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
      .filter($"est_jac" < 1.0)
    val jacs = pairs.select("id_a", "id_b", "est_jac").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jacs.nonEmpty)
    assert(jacs.values.forall(j => j >= 0.5 && j < 1.0)) // genuinely mid-range edges
    val (labels, rounds) = graft.operators.Dedup.resolveClustersCounted(
      pairs, docs.select($"doc_id"))
    assert(rounds >= 2, s"expected multi-hop propagation, got $rounds round(s)")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the chain resolves to one component keyed by its minimum id
    val chained = jacs.keySet.flatMap { case (a, b) => Set(a, b) }
    assert(chained.size >= 3)
    // every doc on a mid-range edge reachable from doc 0 resolves to keeper 0
    if (chained.contains(0L)) assert(got(1L) == 0L || got(0L) == 0L)
    assert(got.values.toSet.size < 6) // at least one multi-doc cluster formed
  }

  test("incremental near-dup equals the full self-join restricted to delta-touching pairs") {
    import spark.implicits._
    // sliding-token corpus: adjacent docs are mid-range near-dups, plus an
    // exact clone pair — so the split produces new_new, new_old, and
    // corpus-only pairs (the last must be ABSENT from the incremental output)
    val docs = ((0 until 30).map { i =>
      (i.toLong, (10 * i until 10 * i + 40).map(k => s"w$k").mkString(" "))
    } :+ (102L, (0 until 40).map(k => s"w$k").mkString(" "))).toDF("doc_id", "text")
    val delta = docs.filter($"doc_id" % 3 === 0)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val index = graft.operators.Dedup.signatureIndex(corpus, "doc_id", "text", 8, 4, 4, 2)
    val got = graft.operators.Dedup.incrementalNearDupPairs(
        index, delta, "doc_id", "text", 8, 4, 4, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val deltaIds = delta.collect().map(_.getLong(0)).toSet
    val want = graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text", 8, 4, 4, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => deltaIds(a) || deltaIds(b) }
      .map { case (a, b, j) =>
        (a, b, j, if (deltaIds(a) && deltaIds(b)) "new_new" else "new_old") }.toSet
    assert(got == want)
    assert(got.exists(_._4 == "new_new") && got.exists(_._4 == "new_old"))
    // and the full join really had corpus-only pairs the incremental run skipped
    val full = graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text", 8, 4, 4, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.exists { case (a, b) => !deltaIds(a) && !deltaIds(b) })
  }

  test("quantized two-stage ANN equals a plain-Scala reference bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(41L)
    val dim = 12
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))).toMap
    val corpus = vecs.toSeq.sortBy(_._1).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val got = graft.operators.SimilaritySearch.quantizedTopK(
        corpus, queries, k = 3, candidates = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet

    // plain-Scala twin of the exact formulas: floor(x*scale+0.5) int8
    // quantization, integer dot, descale, then exact cosine in index order
    def quant(v: Array[Float]): (Double, Array[Long]) = {
      val s = 127.0 / v.map(math.abs).max.toDouble
      (s, v.map(x => math.floor(x.toDouble * s + 0.5).toLong))
    }
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (0L until 3L).flatMap { qid =>
      val (sq, qq) = quant(vecs(qid))
      val stage1 = vecs.keys.filter(_ != qid).toSeq.map { cid =>
        val (sc, qc) = quant(vecs(cid))
        val qdot = qq.zip(qc).map { case (x, y) => x * y }.sum
        (cid, qdot, qdot.toDouble / (sq * sc))
      }.sortBy { case (cid, _, a) => (-a, cid) }.take(6)
      stage1.map { case (cid, qdot, _) => (cid, qdot, cosine(vecs(cid), vecs(qid))) }
        .sortBy { case (cid, _, s) => (-s, cid) }.take(3).zipWithIndex
        .map { case ((cid, qdot, s), i) => (qid, cid, qdot, s, i + 1) }
    }.toSet
    assert(got == want)
  }

  test("multi-probe LSH: recall at least matches single-probe per query") {
    import spark.implicits._
    val e = new DeterministicEmbedder(16)
    val corpus = (0L until 200L).map(i => (i, e.embedOne(s"doc $i").toSeq))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    def best(df: org.apache.spark.sql.DataFrame) = df
      .filter($"rank" === 1).select($"query_id", $"score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val single = best(graft.operators.SimilaritySearch
      .lshTopK(corpus, queries, 3, 16, 4))
    val multi = best(graft.operators.SimilaritySearch
      .lshTopKMultiProbe(corpus, queries, 3, 16, 4))
    // every query answered, and the multi-probe best is never worse
    assert(multi.keySet == Set(0L, 1L, 2L))
    single.foreach { case (q, s) => assert(multi(q) >= s - 1e-12) }
  }

  test("native LangQuality equals the HOF language-id + quality formulation") {
    import spark.implicits._
    val df = Seq(
      (0L, ""), (1L, "   "), (2L, "the quick brown fox and the lazy dog"),
      (3L, "el perro y la casa de los padres"), (4L, "der hund ist nicht ein tier"),
      (5L, "le chat est dans une maison"), (6L, "zzz qqq 12345 !!!"),
      (7L, "la la la"), // marker shared by es + fr: alphabetical-first max must win
      (8L, "x " * 300)) // long text saturating the length score
      .toDF("doc_id", "text")
    val native = df.withColumn("lq", graft.operators.TextAnalysis.langQualityCol($"text"))
      .select($"doc_id", $"lq.lang_pred", $"lq.quality")
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getDouble(2)))).toMap
    val hof = df.withColumn("toks", graft.operators.TextAnalysis.tokensCol($"text"))
      .select($"doc_id",
        graft.operators.TextAnalysis.languageIdFromTokens($"toks"),
        graft.operators.TextAnalysis.qualityScoreFromTokens($"text", $"toks"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getDouble(2)))).toMap
    assert(native == hof)
  }

  test("globalRowNumber equals the global window row_number, with no WindowExec") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = scala.util.Random.shuffle((1 to 1000).toList)
      .map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val got = graft.operators.Batching.globalRowNumber(df, $"k", 7)
    assert(!got.queryExecution.executedPlan.toString.contains("Window"))
    val gotMap = got.select("k", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val wantMap = df.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy($"k")).cast("long"))
      .select("k", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotMap == wantMap)
  }

  test("MinHashUnionAgg equals element-wise min over grouped signatures") {
    import spark.implicits._
    val sigs = Seq(("a", Seq(5L, 1L, 9L)), ("a", Seq(3L, 7L, 2L)), ("b", Seq(4L, 4L, 4L)))
      .toDS()
    val got = sigs.groupByKey(_._1).mapValues(_._2)
      .agg(graft.operators.MinHashUnionAgg.column(3))
      .collect().toMap
    assert(got("a") == Seq(3L, 1L, 2L))
    assert(got("b") == Seq(4L, 4L, 4L))
  }

  test("SQL front door: every registered sketch name parses and is bit-identical to the DataFrame ops") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.graft.expressions._
    graft.functions.VectorFunctions.register(spark)
    val df = Seq(
      (0L, "", ""),
      (1L, "the quick brown fox jumps over the lazy dog", "the quick brown cat"),
      (2L, "el perro y la casa de los padres en un lugar", "alpha beta gamma"),
      (3L, "ab", "abcd"),
      (4L, "cafe\u0301 jalapen\u0303o", "caf\u00e9 jalape\u00f1o"))
      .toDF("id", "ta", "tb")
    df.createOrReplaceTempView("v_sketch")
    // every name in SqlFunctions.builders, through the SQL parser
    val viaSql = spark.sql(
      """SELECT id,
        |  minhash_sig(ta, 4, 3) AS mh,
        |  simhash32(ta) AS sh,
        |  shingle_jaccard(ta, tb, 3) AS jac,
        |  shingle_containment(ta, tb, 3) AS cont,
        |  shingle_pair_scores(ta, tb, 3) AS psc,
        |  sig_jaccard(minhash_sig(ta, 4, 3), minhash_sig(tb, 4, 3)) AS sjac,
        |  lang_quality(ta).lang_pred AS lp,
        |  lang_quality(ta).quality AS lqual,
        |  word_fingerprint(ta) AS fp,
        |  char_shingles(ta, 3) AS cs,
        |  word_ngrams(ta, 3) AS ng,
        |  nfc_normalize(ta) AS nfc,
        |  char_entropy(ta) AS ce,
        |  cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS cos,
        |  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp
        |FROM v_sketch ORDER BY id""".stripMargin)
      .collect().map(_.toSeq)
    val viaDf = df.select($"id",
        Bridge.toColumn(MinHashSig(Bridge.toExpr($"ta"), 4, 3)).as("mh"),
        Bridge.toColumn(SimHash32(Bridge.toExpr($"ta"))).as("sh"),
        graft.operators.Dedup.jaccard($"ta", $"tb", 3).as("jac"),
        graft.operators.Dedup.containment($"ta", $"tb", 3).as("cont"),
        graft.operators.Dedup.pairScores($"ta", $"tb", 3).as("psc"),
        graft.operators.Dedup.sigJaccard(
          Bridge.toColumn(MinHashSig(Bridge.toExpr($"ta"), 4, 3)),
          Bridge.toColumn(MinHashSig(Bridge.toExpr($"tb"), 4, 3))).as("sjac"),
        graft.operators.TextAnalysis.langQualityCol($"ta").getField("lang_pred").as("lp"),
        graft.operators.TextAnalysis.langQualityCol($"ta").getField("quality").as("lqual"),
        graft.operators.TextAnalysis.fingerprint($"ta").as("fp"),
        graft.operators.Dedup.shinglesCol($"ta", 3).as("cs"),
        // the HOF formulation, not the native expression again — so this row
        // also pins native == independent higher-order-function path
        graft.operators.TextAnalysis.wordNGramsFromTokens(
          graft.operators.TextAnalysis.tokensCol($"ta"), 3).as("ng"),
        Bridge.toColumn(NfcNormalize(Bridge.toExpr($"ta"))).as("nfc"),
        graft.operators.TextAnalysis.charEntropyCol($"ta").as("ce"),
        graft.functions.VectorFunctions
          .cosineSim(org.apache.spark.sql.functions.array(lit(1.0f), lit(0.0f)),
            org.apache.spark.sql.functions.array(lit(1.0f), lit(0.0f))).as("cos"),
        graft.functions.VectorFunctions
          .dotProduct(org.apache.spark.sql.functions.array(lit(1.0d), lit(2.0d)),
            org.apache.spark.sql.functions.array(lit(3.0d), lit(4.0d))).as("dp"))
      .orderBy($"id")
      .collect().map(_.toSeq)
    assert(viaSql.toSeq == viaDf.toSeq)
    // non-literal int args are rejected with the declared message, not miscompiled
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_sig(ta, id + 1, 3) FROM v_sketch").collect()
    }
    assert(err.getMessage.contains("must be a literal integer")
      || Option(err.getCause).exists(_.getMessage.contains("must be a literal integer")))
  }

  test("char_entropy: known values, plain-Scala reference on random text, astral codepoints counted once") {
    import spark.implicits._
    def ref(s: String): Long = {
      val cps = s.codePoints().toArray
      val n = cps.length.toLong
      if (n == 0L) 0L
      else cps.groupBy(identity).values
        .map(g => g.length.toLong *
          math.floor(math.log(n.toDouble / g.length) * 1000000.0).toLong)
        .sum / n
    }
    val rnd = new scala.util.Random(265L)
    val cases = Seq("", "aaaa", "ab", "abab", "ab😀😀", // astral pair = ONE codepoint each
      "the quick brown fox jumps over the lazy dog") ++
      (0 until 20).map { _ =>
        // whole-codepoint alphabet: charAt would emit lone surrogates
        val alpha = Seq("a", "b", "c", "d", "e", "f", "g", "h", " ", "😀", "é")
        (0 until rnd.nextInt(200)).map(_ => alpha(rnd.nextInt(alpha.size))).mkString
      }
    val got = cases.toDF("t")
      .select(graft.operators.TextAnalysis.charEntropyCol($"t").as("e6"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(ref), "native loop != plain-Scala reference")
    assert(ref("aaaa") == 0L && ref("ab") == 693147L && ref("abab") == 693147L)
  }

  test("GraftExtensions + registry expose cosine_sim/dot_product to SQL") {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c, " +
        "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 11.0)
    // a GENUINELY fresh session (active/default cleared — getOrCreate with
    // an active session would hand back the already-registered one and
    // never run the injection path), sharing the existing SparkContext
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne spark)
      val r2 = s2.sql(
        "SELECT cosine_sim(array(1.0f, 2.0f), array(1.0f, 2.0f)) AS c, " +
          "simhash32('alpha beta gamma') AS sh, " +
          "sig_jaccard(array(1L, 2L, 3L, 4L), array(1L, 2L, 9L, 9L)) AS sj").head()
      assert(math.abs(r2.getDouble(0) - 1.0) < 1e-9)
      // injected natives match the registry-path values on the main session
      val want = spark.sql("SELECT simhash32('alpha beta gamma')").head().getLong(0)
      assert(r2.getLong(1) == want)
      assert(r2.getDouble(2) == 0.5)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("watermarked hourly windows finalize in append mode as event time advances") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("ts", "value")
    val q = graft.streaming.StreamingIngest.hourlyEventTotals(events, delay = "10 minutes")
      .writeStream.format("memory").queryName("hourly_totals").outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      input.addData((ts(0, 10), 1.5), (ts(0, 40), 2.5), (ts(1, 10), 4.0))
      q.processAllAvailable() // watermark 1:00 -> hour-0 window finalizes
      input.addData((ts(3, 30), 8.0))
      q.processAllAvailable() // watermark 3:20 -> hour-1 finalizes; hour-3 still open
      val got = spark.table("hourly_totals")
        .select(org.apache.spark.sql.functions.hour($"hour_start"), $"n", $"total_value")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set((0, 2L, 4.0), (1, 1L, 4.0))) // hour 3 not emitted (window open)
    } finally q.stop()
  }

  test("streaming near-dup pairs across micro-batches equal the batch operator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = (0 until 6).map { i =>
      (i.toLong, (10 * i until 10 * i + 40).map(k => s"w$k").mkString(" "))
    }
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val pairs = graft.streaming.StatefulOps.streamingNearDupPairs(
      stream, "doc_id", "text",
      numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5)
    val q = pairs.writeStream.format("memory").queryName("nd_pairs")
      .outputMode("append").start()
    try {
      input.addData(docs.take(3): _*)
      q.processAllAvailable()
      input.addData(docs.drop(3): _*)
      q.processAllAvailable()
      // a pair may surface from several shared buckets (the batch path
      // dedups the same way with its distinct)
      val got = spark.table("nd_pairs").dropDuplicates("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.operators.Dedup.nearDupPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", 8, 4, 4, 2, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want)
      // bucket state carried across micro-batches: some pair spans the split
      assert(want.exists { case (a, b, _) => a < 3 && b >= 3 })
    } finally q.stop()
  }

  test("EventWindow retention: old bucket members age out; pairs match the batch operator within the window") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // offset from epoch 0: the initial watermark IS 0 and rows at-or-before
    // the watermark are dropped as late
    def ts(sec: Int) = new java.sql.Timestamp(3600000L + sec * 1000L)
    // four identical docs (every pair est_jac 1.0 unbounded) spread so only
    // (A,B) and (C,D) are within the 5 s window; E/F are unique texts that
    // keep the stream advancing so the event-time timeout can fire
    val text = (0 until 40).map(k => s"w$k").mkString(" ")
    val docs = Seq(
      (0L, text, ts(0)), (1L, text, ts(1)), (2L, text, ts(20)), (3L, text, ts(21)),
      (4L, (100 until 140).map(k => s"u$k").mkString(" "), ts(40)),
      (5L, (200 until 240).map(k => s"v$k").mkString(" "), ts(60)))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "ts")
    val pairs = graft.streaming.StatefulOps.streamingNearDupPairs(
      stream, "doc_id", "text", numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2,
      threshold = 0.5, retention = graft.streaming.StatefulOps.EventWindow("ts", windowMs = 5000L))
    val q = pairs.writeStream.format("memory").queryName("nd_windowed")
      .outputMode("append").start()
    try {
      def stateRows(): Long = q.lastProgress.stateOperators(0).numRowsTotal
      input.addData(docs(0), docs(1)); q.processAllAvailable() // A@0s, B@1s
      input.addData(docs(2)); q.processAllAvailable()          // C@20s: A,B aged out
      input.addData(docs(3)); q.processAllAvailable()          // D@21s: pairs with C only
      input.addData(docs(4)); q.processAllAvailable()          // E@40s advances watermark
      val afterE = stateRows()
      input.addData(docs(5)); q.processAllAvailable()          // F@60s: C/D buckets time out
      // net zero: F's buckets arrive, the timed-out C/D buckets leave — the
      // unbounded twin would have grown by F's bucket count instead
      assert(stateRows() == afterE, s"state ${stateRows()} vs $afterE — event-time timeout did not prune")
      val got = spark.table("nd_windowed").dropDuplicates("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // contract: the batch operator restricted to pairs inside the window
      val tsById = docs.map(d => d._1 -> d._3.getTime).toMap
      val want = graft.operators.Dedup.nearDupPairs(
          docs.map(d => (d._1, d._2)).toDF("doc_id", "text"), "doc_id", "text", 8, 4, 4, 2, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter { case (a, b, _) => math.abs(tsById(a) - tsById(b)) <= 5000L }.toSet
      assert(got == want)
      assert(got == Set((0L, 1L, 1.0), (2L, 3L, 1.0))) // and not the aged-out cross pairs
    } finally q.stop()
  }

  test("EventWindow: an in-slack out-of-order arrival still pairs with every entitled member") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // The exact scenario bucket-max pruning got wrong: B@20s advances the
    // bucket max far past A@0s (Δ > window, no pair), then C@4s arrives
    // out of order but inside the 30 s watermark slack. C is entitled to
    // pair with A (Δ4s <= 5s window); pruning on the bucket max would have
    // evicted A when B landed and silently lost the pair. Watermark-based
    // pruning keeps A until the watermark passes 0s + 5s.
    def ts(sec: Int) = new java.sql.Timestamp(3600000L + sec * 1000L)
    val text = (0 until 40).map(k => s"o$k").mkString(" ")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)]
    val pairs = graft.streaming.StatefulOps.streamingNearDupPairs(
      input.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text",
      numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5,
      retention = graft.streaming.StatefulOps.EventWindow(
        "ts", windowMs = 5000L, watermarkDelay = "30 seconds"))
    val q = pairs.writeStream.format("memory").queryName("nd_ooo")
      .outputMode("append").start()
    try {
      input.addData((0L, text, ts(0)), (1L, text, ts(20))); q.processAllAvailable()
      input.addData((2L, text, ts(4))); q.processAllAvailable() // in-slack, out of order
      val got = spark.table("nd_ooo").dropDuplicates("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((0L, 2L))) // A-C pairs; A-B and B-C exceed the window
    } finally q.stop()
  }

  test("EventWindow retention equals window-restricted batch for random corpora, timestamps and splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // 30 SHINGLE-disjoint cases per window (every character of case c's
    // words comes from a 4-codepoint alphabet unique to c — a shared word
    // PREFIX is not enough, the 4-char shingles themselves must be
    // disjoint, so each case's bucket state and pair structure is
    // independent and a failure localizes to one case). Docs get random
    // event times and arrive in RANDOM order at random split points:
    // pruning keys off the watermark, not the bucket max, so any arrival
    // order whose lateness stays inside the watermark slack must reproduce
    // the batch operator restricted to |Δts| <= window exactly — feeding
    // shuffled is precisely the out-of-order entitlement the bucket-max
    // scheme silently violated.
    val rnd = new scala.util.Random(5L)
    for (windowSec <- Seq(3L, 8L)) {
      val cases = (0 until 30).map { c =>
        def word(k: Int): String =
          (0 until 4).map(p => (0x3400 + c * 8 + ((k >> (2 * p)) & 3)).toChar).mkString
        val docs = rnd.shuffle((0 until 5).map { i =>
          ((c * 1000 + i).toLong,
            (10 * i until 10 * i + 40).map(word).mkString(" "),
            new java.sql.Timestamp(3600000L + rnd.nextInt(15000)))
        })
        val cuts = Seq.fill(rnd.nextInt(4))(rnd.nextInt(docs.size + 1)).sorted
        val bounds = (0 +: cuts :+ docs.size).toVector
        (docs, bounds.zip(bounds.tail).map { case (a, b) => docs.slice(a, b) })
      }
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)]
      // watermark slack must exceed the full timestamp spread (15 s): the
      // watermark chases the GLOBAL max event time, and with shuffled
      // arrival any batch can carry a doc with an earlier timestamp —
      // in-slack it is admitted and must still find every entitled partner
      val pairs = graft.streaming.StatefulOps.streamingNearDupPairs(
        input.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text",
        numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.5,
        retention = graft.streaming.StatefulOps.EventWindow(
          "ts", windowSec * 1000L, watermarkDelay = "60 seconds"))
      val q = pairs.writeStream.format("memory").queryName(s"nd_win$windowSec")
        .outputMode("append").start()
      try {
        // batch r carries every case's r-th chunk, in whatever (shuffled)
        // order the case generated — no per-case time ordering anywhere
        for (r <- 0 until cases.map(_._2.size).max) {
          val batch = cases.flatMap { case (_, ch) => if (r < ch.size) ch(r) else Nil }
          if (batch.nonEmpty) { input.addData(batch: _*); q.processAllAvailable() }
        }
        val got = spark.table(s"nd_win$windowSec").dropDuplicates("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val all = cases.flatMap(_._1)
        val tsById = all.map(d => d._1 -> d._3.getTime).toMap
        val want = graft.operators.Dedup.nearDupPairs(
            all.map(d => (d._1, d._2)).toDF("doc_id", "text"), "doc_id", "text", 8, 4, 4, 2, 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .filter { case (a, b) => math.abs(tsById(a) - tsById(b)) <= windowSec * 1000L }.toSet
        assert(got == want, s"window ${windowSec}s")
        assert(want.nonEmpty) // the window really bites at these timestamps
      } finally q.stop()
    }
  }

  test("streaming near-dup equals batch for 100 random micro-batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // 100 independent corpora, each split at random points into 1-4 chunks;
    // chunk r of every case rides micro-batch r, so all 100 splits are
    // exercised in ~4 batches of ONE query. Cases share no shingles (per-case
    // word prefix), so bucket state and the batch expectation both decompose
    // per case; a freak band-hash collision across cases is rejected by the
    // est_jac >= 0.5 verify exactly as in the batch path.
    val rnd = new scala.util.Random(20260812L)
    val cases = (0 until 100).map { c =>
      val docs = (0 until 5).map { i =>
        ((c * 1000 + i).toLong, (10 * i until 10 * i + 40).map(k => s"c${c}w$k").mkString(" "))
      }
      val cuts = Seq.fill(rnd.nextInt(4))(rnd.nextInt(docs.size + 1)).sorted
      val bounds = (0 +: cuts :+ docs.size).toVector
      val chunks = bounds.zip(bounds.tail).map { case (a, b) => docs.slice(a, b) }
      (docs, chunks)
    }
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val pairs = graft.streaming.StatefulOps.streamingNearDupPairs(
      stream, "doc_id", "text", numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2,
      threshold = 0.5)
    val q = pairs.writeStream.format("memory").queryName("nd_splits")
      .outputMode("append").start()
    try {
      val maxChunks = cases.map(_._2.size).max
      for (r <- 0 until maxChunks) {
        val batchDocs = cases.flatMap { case (_, chunks) =>
          if (r < chunks.size) chunks(r) else Nil }
        if (batchDocs.nonEmpty) { input.addData(batchDocs: _*); q.processAllAvailable() }
      }
      val got = spark.table("nd_splits").dropDuplicates("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // ONE batch run over the union == union of per-case batch runs (cases
      // are shingle-disjoint), at a fraction of 100 separate jobs
      val all = cases.flatMap(_._1)
      val want = graft.operators.Dedup.nearDupPairs(
          all.toDF("doc_id", "text"), "doc_id", "text", 8, 4, 4, 2, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want)
      // the splits really cut inside corpora: some pair must span chunks
      val chunkOf = cases.zipWithIndex.flatMap { case ((_, chunks), _) =>
        chunks.zipWithIndex.flatMap { case (ch, r) => ch.map(d => d._1 -> r) } }.toMap
      assert(want.exists { case (a, b, _) => chunkOf(a) != chunkOf(b) })
    } finally q.stop()
  }

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    val in = tmpDir("graft_state_in")
    val ck = tmpDir("graft_state_ck")
    Seq((1L, 1.5), (1L, 2.5), (2L, 10.0)).toDF("user_id", "value")
      .write.mode("append").parquet(in)
    val stream = spark.readStream
      .schema("user_id LONG, value DOUBLE")
      .parquet(in)
      .as[StatefulOps.UserEvent]
    val totals = StatefulOps.runningUserTotals(stream)
    val q = totals.writeStream
      .outputMode("update")
      .format("memory").queryName("totals")
      .option("checkpointLocation", ck)
      .start()
    q.processAllAvailable()
    // second micro-batch: state must carry over
    Seq((1L, 6.0)).toDF("user_id", "value").write.mode("append").parquet(in)
    q.processAllAvailable()
    val last = spark.sql(
      "SELECT n_events, total_value FROM totals WHERE user_id = 1 ORDER BY n_events DESC LIMIT 1").head()
    q.stop()
    assert(last.getLong(0) == 3L)
    assert(math.abs(last.getDouble(1) - 10.0) < 1e-9)
  }

  test("IVF ANN: nprobe=k equals brute force; nprobe=1 returns valid subset") {
    import spark.implicits._
    val e = new DeterministicEmbedder(16)
    val corpus = (0 until 60).map(i => (i.toLong, e.embedOne(s"doc $i").toSeq))
      .toDF("vec_id", "embedding")
    val queries = (0 until 3).map(i => (i.toLong, e.embedOne(s"doc $i").toSeq))
      .toDF("query_id", "embedding")
    val cents = graft.operators.IvfIndex.centroids(corpus, k = 4, iters = 2)
    assert(cents.count() == 4)
    val exact = graft.operators.SimilaritySearch.bruteForceTopK(corpus, queries, 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.operators.IvfIndex.topK(corpus, queries, cents, k = 5, nprobe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact) // probing every cell degenerates to brute force
    val one = graft.operators.IvfIndex.topK(corpus, queries, cents, k = 5, nprobe = 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one.nonEmpty && one.subsetOf(corpus.select("vec_id").as[Long].collect().toSet
      .flatMap((id: Long) => (0 until 3).map(q => (q.toLong, id)))))
  }

  test("IVF autoK: k scales with the corpus at fixed cell size; centroids honors k=0") {
    import spark.implicits._
    val e = new DeterministicEmbedder(8)
    def corpus(n: Int) = (0 until n).map(i => (i.toLong, e.embedOne(s"v$i").toSeq))
      .toDF("vec_id", "embedding")
    // under the kMin·target threshold the floor holds; above it, integer
    // ceil — the SAME (n + t - 1) / t both engines compute in the oracles
    assert(graft.operators.IvfIndex.autoK(corpus(10)) == 8)
    assert(graft.operators.IvfIndex.autoK(corpus(512)) == 8)
    assert(graft.operators.IvfIndex.autoK(corpus(513)) == 9)
    assert(graft.operators.IvfIndex.autoK(corpus(100), targetCellSize = 10L) == 10)
    // k = 0 → data-driven k; the sf0.01 embeddings shape (500 rows) must
    // land exactly on the historical k = 8 so shipped oracles stay green
    assert(graft.operators.IvfIndex.autoK(corpus(500)) == 8)
    assert(graft.operators.IvfIndex.centroids(corpus(100), k = 0, iters = 0,
      targetCellSize = 10L).count() == 10)
    // and the sf0.1 shape (2000 rows) grows the grid: cell INTERIOR is the
    // invariant, not cell count
    assert(graft.operators.IvfIndex.autoK(corpus(2000)) == 32)
  }

  test("guardedClusters: engineered giant chain is flagged uncollapsed, small components still dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 10-doc chain (62.5% of a 16-id corpus) + a 2-doc component + 4 singletons
    val pairs = ((0L until 9L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("id_a", "id_b")
    val ids = ((0L to 9L) ++ Seq(100L, 101L) ++ (200L to 203L)).toDF("doc_id")
    val g = graft.operators.Dedup.guardedClusters(pairs, ids, maxShare4 = 2000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    // chain: component resolved (min id 0) but NOT collapsed — every member
    // keeps itself and carries the flag
    (0L to 9L).foreach { id =>
      assert(g(id) == ((0L, id, 1)), s"chain member $id: ${g(id)}")
    }
    // small component still collapses to its min id, unflagged
    assert(g(100L) == ((100L, 100L, 0)) && g(101L) == ((100L, 100L, 0)))
    (200L to 203L).foreach(id => assert(g(id) == ((id, id, 0))))
    // guard off (threshold 100%): bit-identical to the plain sparse resolve
    val off = graft.operators.Dedup.guardedClusters(pairs, ids, maxShare4 = 10000L)
      .select($"id", $"keeper_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = graft.operators.Dedup.resolveClustersSparse(pairs, ids)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(off == plain)
  }

  test("plan pins: IVF assign is a map-side max_by (no Window); chunking shuffles a sort, not objects") {
    import spark.implicits._
    val e = new DeterministicEmbedder(8)
    val corpus = (0L until 50L).map(i => (i, e.embedOne(s"c$i").toSeq))
      .toDF("vec_id", "embedding")
    val cents = graft.operators.IvfIndex.centroids(corpus, k = 4, iters = 0)
    // round-2 regression shape: row_number over a Window shuffled k x n
    // scored rows; the pinned shape collapses the argmax in a partial+final
    // max_by aggregate, so only n rows cross the shuffle
    val assignPlan = graft.operators.IvfIndex.assign(corpus, cents, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Window"), assignPlan)
    assert(assignPlan.contains("max_by"), assignPlan)
    // round-2 regression shape: groupByKey(form).flatMapGroups shuffled
    // deserialized row objects and buffered each group; the pinned shape is
    // a columnar exchange + within-partition sort feeding mapPartitions
    val ds = docTexts.toDF("formName", "seq", "text").as[ChunkingJob.DocInput]
    val chunkPlan = ChunkingJob.chunkPyPdf(ds, tokenLimit = 10)
      .queryExecution.executedPlan.toString
    assert(chunkPlan.contains("Exchange hashpartitioning"), chunkPlan)
    assert(chunkPlan.contains("Sort ["), chunkPlan)
    assert(!chunkPlan.contains("FlatMapGroups"), chunkPlan)
  }

  test("retrieval plan shape: IN-filter pushed to the parquet scan, top-k is TakeOrderedAndProject") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft_planshape")
    val e = new DeterministicEmbedder(8)
    (0 until 100).map(i => (i.toLong, i % 5, e.embedOne(s"v$i").toSeq))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/emb")
    val emb = spark.read.parquet(s"$dir/emb")
    val qv = e.embedOne("question")
    val topk = emb.filter($"label".isin(0, 1))
      .select($"vec_id",
        graft.functions.VectorFunctions.cosineSim($"embedding", lit(qv)).as("score"))
      .orderBy($"score".desc, $"vec_id").limit(5)
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan) // never a full sort
    assert(plan.contains("PushedFilters: [In(label"), plan) // filter at the scan
  }

  test("plan pins: q56 probes the cached band view on both join sides; q59 packs via Exchange+sort, no FlatMapGroups") {
    import spark.implicits._
    // q56: the pure-SQL dedup must stage signatures through the eagerly
    // cached temp view — if either self-join side fell back to recomputing
    // from parquet, the corpus scan + MinHash pass would run twice (the
    // round-4 scale-killer this pin guards against)
    val dir = tmpDir("graft_q56plan")
    (0 until 40).map(i =>
        (i.toLong, s"the quick brown fox ${i % 8} jumps over the lazy dog ${i % 8} again and again"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dedup = SparkEntry.queries("q56_sql_dedup")(spark, dir)
    assert(dedup.count() > 0) // identical docs per i%8 group -> pairs exist
    assert(spark.catalog.isCached("v_sql_bands"))
    assert(!spark.catalog.tableExists("sql_bands_stage")) // auto on a tiny corpus -> cache
    val dedupPlan = dedup.queryExecution.executedPlan.toString
    // Spark 4 prints the cached-view scan as "Scan In-memory table <name>";
    // the InMemoryRelation child it shows is display-only (built once at
    // CACHE TABLE time, not per reference)
    val memScans = "Scan In-memory table v_sql_bands".r.findAllIn(dedupPlan).size
    assert(memScans == 2, dedupPlan)
    // q59: sequence packing must keep the chunk-shuffle shape — a columnar
    // exchange + within-partition sort feeding mapPartitions; a refactor
    // back to groupByKey.flatMapGroups would shuffle deserialized objects
    // and buffer whole groups (invisible to the oracle, caught here)
    val ds = (0 until 20).map(i => (s"src${i % 3}", i.toLong, s"tok tok tok doc $i"))
      .toDF("formName", "seq", "text").as[ChunkingJob.DocInput]
    val packPlan = graft.operators.SequencePacker.packBySource(ds, tokenBudget = 8)
      .queryExecution.executedPlan.toString
    assert(packPlan.contains("Exchange hashpartitioning"), packPlan)
    assert(packPlan.contains("Sort ["), packPlan)
    assert(!packPlan.contains("FlatMapGroups"), packPlan)
    // q60: decontamination must probe the eval grams by BROADCAST — a
    // sort-merge join would shuffle the whole corpus's gram explosion
    val decontPlan = SparkEntry.queries("q60_decontaminate")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(decontPlan.contains("BroadcastHashJoin"), decontPlan)
    assert(!decontPlan.contains("SortMergeJoin"), decontPlan)
    // q63: vocabulary top-k must be a partial+final count feeding
    // TakeOrderedAndProject — never a full sort of the vocabulary
    val vocabPlan = SparkEntry.queries("q63_vocab_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(vocabPlan.contains("TakeOrderedAndProject"), vocabPlan)
    assert("HashAggregate".r.findAllIn(vocabPlan).size >= 2, vocabPlan)
  }

  test("autoSaltedJoin: multiset parity with the plain join on a skewed corpus; only flagged keys replicate") {
    import spark.implicits._
    // key 7 holds ~10x every other key: the one key the 1/32 bar flags
    val big = ((0 until 500).map(i => (7L, i.toLong)) ++
        (0 until 10).flatMap(k => (0 until 5).map(i => (k.toLong, (1000 + k * 10 + i).toLong))))
      .toDF("k", "id")
    val small = (0 until 10).map(k => (k.toLong, s"dim$k")).toDF("k", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // diagnostic flags exactly key 7
    val h7 = Seq(7L).toDF("k")
      .select(org.apache.spark.sql.functions.xxhash64($"k")).head().getLong(0)
    assert(graft.operators.Salting.hotKeyHashes(big, "k", hotKeyThreshold = 100) == Seq(h7))
    val auto = graft.operators.Salting.autoSaltedJoin(
      big, small, "k", saltSource = $"id", saltFactor = 4, hotKeyThreshold = 100)
    assert(rows(auto) == rows(big.join(small, Seq("k"))))
    // only the hot branch replicates: ONE explode in the whole plan, and a
    // two-branch union — cold keys flow through the plain join (AQE echoes
    // the pre-adaptive plan below "== Initial Plan ==": count the final only)
    val plan = auto.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Generate explode".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Union"), plan)
    // nothing flagged -> the operator IS the plain join (no explode at all)
    val noHot = graft.operators.Salting.autoSaltedJoin(
      big, small, "k", saltSource = $"id", saltFactor = 4, hotKeyThreshold = 10000)
    assert(rows(noHot) == rows(big.join(small, Seq("k"))))
    assert(!noHot.queryExecution.executedPlan.toString.contains("Generate explode"))
  }

  test("adviseJoin: broadcast/salted/shuffle each matched to its engineered corpus, parity everywhere") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // skewed: key 7 holds ~10x every other key; small 10-row dim side
    val skewed = ((0 until 500).map(i => (7L, i.toLong)) ++
        (0 until 10).flatMap(k => (0 until 5).map(i => (k.toLong, (1000 + k * 10 + i).toLong))))
      .toDF("k", "id")
    val dim = (0 until 10).map(k => (k.toLong, s"dim$k")).toDF("k", "v")
    // uniform: every key exactly 5 rows — nothing to flag
    val uniform = (0 until 10).flatMap(k => (0 until 5).map(i => (k.toLong, (k * 10 + i).toLong)))
      .toDF("k", "id")
    val h7 = Seq(7L).toDF("k").select(xxhash64($"k")).head().getLong(0)

    // small-side corpus → broadcast the 10-row side, skew irrelevant
    val bAdv = graft.operators.Salting.adviseJoin(skewed, dim, "k",
      broadcastRows = 100L, hotKeyThreshold = 100L)
    assert(bAdv.strategy == "broadcast" && bAdv.broadcastSide == "right")
    assert(bAdv.left.rows == 550L && bAdv.right.rows == 10L && bAdv.right.distinctKeys == 10L)
    // skewed corpus, no broadcast budget → salted, exactly key 7 flagged
    val sAdv = graft.operators.Salting.adviseJoin(skewed, dim, "k",
      broadcastRows = 0L, hotKeyThreshold = 100L)
    assert(sAdv.strategy == "salted" && sAdv.hotKeys == Seq(h7))
    // uniform corpus, no broadcast budget → plain shuffle
    val uAdv = graft.operators.Salting.adviseJoin(uniform, dim, "k",
      broadcastRows = 0L, hotKeyThreshold = 100L)
    assert(uAdv.strategy == "shuffle" && uAdv.hotKeys.isEmpty)

    // autoSaltedJoin consumes the advice; every strategy is row-identical
    val want = rows(skewed.join(dim, Seq("k")))
    val viaBroadcast = graft.operators.Salting.autoSaltedJoin(
      skewed, dim, "k", $"id", saltFactor = 4, hotKeyThreshold = 100L,
      broadcastRows = 100L)
    assert(rows(viaBroadcast) == want)
    assert(viaBroadcast.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val viaSalted = graft.operators.Salting.autoSaltedJoin(
      skewed, dim, "k", $"id", saltFactor = 4, hotKeyThreshold = 100L)
    assert(rows(viaSalted) == want)
    val viaShuffle = graft.operators.Salting.autoSaltedJoin(
      uniform, dim, "k", $"id", saltFactor = 4, hotKeyThreshold = 100L)
    assert(rows(viaShuffle) == rows(uniform.join(dim, Seq("k"))))
  }

  test("q56 staging is adaptive: forced CTAS and lowered auto threshold both stage through the parquet table, bit-identical to the cache variant") {
    import spark.implicits._
    val dir = tmpDir("graft_q56stage")
    (0 until 40).map(i =>
        (i.toLong, s"the quick brown fox ${i % 8} jumps over the lazy dog ${i % 8} again and again"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // a previous JVM's CTAS may have left the managed-table directory that a
    // fresh in-memory catalog can't DROP — clear the location defensively
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val loc = java.nio.file.Paths.get(wh, "sql_bands_stage")
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    def run(): Seq[org.apache.spark.sql.Row] =
      SparkEntry.queries("q56_sql_dedup")(spark, dir).collect().toSeq
    try {
      val viaCache = run() // auto on a tiny corpus -> cache staging
      assert(spark.catalog.isCached("v_sql_bands"))
      assert(!spark.catalog.tableExists("sql_bands_stage"))
      assert(viaCache.nonEmpty)

      // a 1-byte threshold forces CTAS: the source crosses it
      SparkEntry.t(spark, dir, "documents").createOrReplaceTempView("v_documents")
      val viaTable = SparkEntry.sqlDedupPipeline(spark, autoTableBytes = 1L)
        .collect().toSeq
      assert(spark.catalog.tableExists("sql_bands_stage"))
      assert(!spark.catalog.isCached("v_sql_bands")) // cache path not taken
      assert(viaTable == viaCache) // staging is invisible in the output
    } finally SparkEntry.releaseStaging(spark)
  }

  test("Tuning.spread: an input with an exchange runs no job and gets the explicit-N repartition; an exchange-free one keeps its probe") {
    import spark.implicits._
    val agg = (0 until 100).map(i => (i % 7, i)).toDF("k", "v").groupBy($"k").count()
    val (spread, jobs) = org.apache.spark.JobNames.during(spark.sparkContext) {
      graft.operators.Tuning.spread(agg, $"k")
    }
    assert(jobs.isEmpty, jobs)
    val n = graft.operators.Tuning.spreadPartitions(agg)
    assert(spread.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.numPartitions
    }.contains(n))
    assert(spread.collect().map(_.getLong(1)).sum == 100L)
    // a scan wide enough already passes through untouched
    val wide = spark.range(0, 100, 1, n + 1).toDF("k")
    assert(graft.operators.Tuning.spread(wide, $"k") eq wide)
  }

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val a = (1 to 2000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 2000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_a")
      b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_b")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan) // bucket layout replaces the shuffle
      assert(joined.count() == 2000)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("as-of join: <= visibility at equal timestamps, null before first right row") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 10L, 50L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 100L, 1.5), (10L, 150L, 9.9)).toDF("user_id", "ts", "value")
    val got = graft.operators.AsOfJoin.lastPriorValue(left, right, "user_id", "ts", "value")
      .select("event_id", "asof_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(got(1L).contains(1.5))  // equal ts -> right row visible (<=)
    assert(got(2L).contains(9.9))  // ts 200 sees the 150 click
    assert(got(3L).isEmpty)        // ts 50 has no prior right row
  }

  test("salted join is row-identical to the plain join") {
    import spark.implicits._
    val big = (1 to 500).map(i => (i.toLong, s"k${i % 3}", i * 1.0)).toDF("id", "key", "v")
    val small = Seq(("k0", "zero"), ("k1", "one"), ("k2", "two")).toDF("key", "name")
    val salted = graft.operators.Salting.saltedJoin(big, small, "key", $"id", 8)
      .select("id", "key", "v", "name").collect().map(_.toSeq).toSet
    val plain = big.join(small, "key")
      .select("id", "key", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("as-of join: matched right row with NULL value yields NULL, not an older value") {
    import spark.implicits._
    val left = Seq((1L, 10L, 200L)).toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 100L, Some(1.5)), (10L, 150L, None))
      .toDF("user_id", "ts", "value")
    val got = graft.operators.AsOfJoin.lastPriorValue(left, right, "user_id", "ts", "value")
      .select("asof_value").collect().map(r => Option(r.get(0)))
    assert(got.toSeq == Seq(None)) // DuckDB ASOF matches the ts=150 row whose value is NULL
    val clash = left.withColumn("asof_value", org.apache.spark.sql.functions.lit(0))
    intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.lastPriorValue(clash, right, "user_id", "ts", "value")
    }
  }

  test("scrub: one repo-wide semantics, line-scoped, pinned to pipeline1.py:114-134") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val samples = Seq(
      "keep\n\\begin{tabular}{cc} x\ninner stays\n\\end{tabular} y\n+++ warn\nmore +++\nend",
      "\\begin{table} t\nrow\n\\end{table}\ntail",
      "no markers at all",
      "+++only warning+++")
    // plain-Scala twin == Sectionizer.cleanMmd (delegation) and is line-scoped
    samples.foreach { s =>
      assert(TextFunctions.scrub(s) == graft.operators.Sectionizer.cleanMmd(s))
    }
    assert(TextFunctions.scrub(samples.head).contains("inner stays"))
    // columnar twin produces identical strings
    val got = samples.toDF("s")
      .select(TextFunctions.scrubCol($"s").as("c")).as[String].collect()
    assert(got.toSeq == samples.map(TextFunctions.scrub))
  }

  test("application log: executor-side accumulator rows share the run correlation id") {
    import spark.implicits._
    val log = graft.query.ApplicationLog(spark)
    assert(log.correlationId.matches("""\d{2}_\d{2}_\d{4}_\d{2}_\d{2}_\d{2}-[a-zA-Z0-9]{6}"""))
    val df = (1 to 100).toDF("x").repartition(4)
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      log.log("embed", "Info", s"batch of ${it.size} rows") // runs ON EXECUTORS
    }
    assert(log.entries.size == 4)
    assert(log.entries.forall(_._1 == log.correlationId))
    log.log("driver", "Error", "boom")
    val snap = log.toDF
    assert(snap.count() == 5)
    assert(snap.select("Application_LogId").as[Long].collect().sorted.toSeq == (1L to 5L))
    assert(snap.filter($"Application_LogStatus" === "Error").count() == 1)
  }

  test("OpConfig validates payloads with the reference's exact failure modes") {
    import graft.app.{IndexOp, OpConfig}
    assert(OpConfig.validate("upsert", "gs://x/chunks.csv") == Right(IndexOp.Upsert("gs://x/chunks.csv")))
    assert(OpConfig.validate("upsert", Seq("x")).isLeft)
    assert(OpConfig.validate("deleteByFormNames", Seq("f1", "f2")) ==
      Right(IndexOp.DeleteByFormNames(Seq("f1", "f2"))))
    assert(OpConfig.validate("deleteByFormNames", Seq.empty[String]).isLeft)      // empty list
    assert(OpConfig.validate("deleteByFormNames", Seq("f1", "  ")).isLeft)        // whitespace
    assert(OpConfig.validate("deleteByVectorIds", "notalist").isLeft)
    assert(OpConfig.validate("deleteAll", null) == Right(IndexOp.DeleteAll))
    assert(OpConfig.validate("deleteAll", "payload").isLeft)
    assert(OpConfig.validate("bogus", null).isLeft)
    // validated ops drive the real index end-to-end
    val dir = tmpDir("graft_enginemain")
    import spark.implicits._
    val e = new DeterministicEmbedder(8)
    val records = Seq(("f1", "t1", 0L), ("f2", "t2", 0L)).toDF("title", "text", "ord")
      .withColumn("content_vector", org.apache.spark.sql.functions.lit(e.embedOne("x")))
    new VectorIndex(spark, s"$dir/index").upsert(records, "ord")
    val stats = OpConfig.run(spark, s"$dir/index",
      OpConfig.validate("deleteByFormNames", Seq("f2")).toOption.get)
    assert(stats.as[(String, Long)].collect().toMap == Map("f1" -> 1L))
    // deletes against a never-created index fail with a clear message, not a
    // raw path-not-found on the v-1 snapshot dir
    val err = intercept[IllegalArgumentException] {
      OpConfig.run(spark, s"$dir/absent", IndexOp.DeleteAll)
    }
    assert(err.getMessage.contains("Index does not exist"))
  }

  test("JDBC sink/source roundtrip against embedded Derby (S9/S10)") {
    import spark.implicits._
    val props = new java.util.Properties()
    props.put("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val creds = Seq((1L, "a@x.com", true), (2L, "b@x.com", false))
      .toDF("user_id", "user_email", "active")
    graft.sources.Sinks.jdbcAppend(creds, url, "usercredentials", props)
    graft.sources.Sinks.jdbcAppend(
      Seq((3L, "c@x.com", true)).toDF("user_id", "user_email", "active"),
      url, "usercredentials", props) // append, not overwrite
    val back = graft.sources.Sinks.jdbcRead(spark, url, "usercredentials", props)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    assert(back == Set((1L, "a@x.com", true), (2L, "b@x.com", false), (3L, "c@x.com", true)))
  }

  test("pbkdf2 modular-crypt matches the passlib stored format bidirectionally") {
    import graft.functions.CryptoFunctions._
    val salt = Array.tabulate(16)(_.toByte)
    // independent vector: hashlib.pbkdf2_hmac('sha256', b's3cretPass!',
    // bytes(range(16)), 29000, 32) in passlib's $pbkdf2-sha256$ encoding
    val reference =
      "$pbkdf2-sha256$29000$AAECAwQFBgcICQoLDA0ODw$O9OPq8SKj3L7VaHJ4MB9HrTWqxT76nMYtzOlH8TdzEk"
    assert(pbkdf2ModularCrypt("s3cretPass!", salt) == reference)     // engine writes ref format
    assert(pbkdf2ModularVerify("s3cretPass!", reference))            // engine verifies ref-written
    assert(!pbkdf2ModularVerify("wrongPass", reference))
    assert(!pbkdf2ModularVerify("s3cretPass!", "$scrypt$whatever$x$y"))
    // malformed stored values fail to verify, never throw
    assert(!pbkdf2ModularVerify("pw", "$pbkdf2-sha256$notanum$AAAA$BBBB"))
    assert(!pbkdf2ModularVerify("pw", "$pbkdf2-sha256$29000$!!bad-b64!!$BBBB"))
    assert(!pbkdf2ModularVerify("pw", "$pbkdf2-sha256$99999999999$AAAA$BBBB"))
    // non-default rounds round-trip (rounds parsed from the stored string)
    val other = pbkdf2ModularCrypt("pw", salt, iterations = 1000)
    assert(other.startsWith("$pbkdf2-sha256$1000$") && pbkdf2ModularVerify("pw", other))
  }

  test("HttpEmbedder parses the batched embeddings response in input order") {
    val canned = (body: String) => {
      assert(body.contains("\"model\":\"test-model\"") && body.contains("\"input\":[\"a\",\"b\"]"))
      """{"data":[{"embedding":[0.25,0.5]},{"embedding":[1,-1]}]}"""
    }
    val e = new graft.embed.HttpEmbedder("http://unused", "test-model", "key", 2, canned)
    val got = e.embed(Seq("a", "b"))
    assert(got.map(_.toSeq) == Seq(Seq(0.25f, 0.5f), Seq(1f, -1f)))
    assert(e.embed(Seq.empty).isEmpty)
    val short = new graft.embed.HttpEmbedder("http://unused", "m", "k", 2,
      _ => """{"data":[{"embedding":[1,2]}]}""")
    intercept[IllegalArgumentException] { short.embed(Seq("a", "b")) }
    // wrong-dimension vectors fail at the boundary, not rows later
    val wrongDim = new graft.embed.HttpEmbedder("http://unused", "m", "k", 3,
      _ => """{"data":[{"embedding":[1,2]}]}""")
    intercept[IllegalArgumentException] { wrongDim.embed(Seq("a")) }
  }

  test("jwt roundtrip honors expiry and tamper") {
    import graft.functions.CryptoFunctions._
    val tok = jwtEncode("user@x.com", 1000L, "secret")
    assert(jwtDecode(tok, "secret", 500L).contains("user@x.com"))
    assert(jwtDecode(tok, "secret", 1500L).isEmpty)       // expired
    assert(jwtDecode(tok, "wrong", 500L).isEmpty)         // bad signature
    assert(jwtDecode(tok.dropRight(2) + "xx", "secret", 500L).isEmpty)
  }

  test("sessionize: gap splits sessions, exactly-gap extends, one shuffle end to end") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 0L, 1.25), (2L, 1L, 10L, 2.5),   // session 1 of user 1
      (3L, 1L, 100L, 0.25), (4L, 1L, 111L, 1.0), // gap 90 > 20 -> session 2
      (5L, 2L, 50L, 3.0), (6L, 2L, 70L, 0.5))    // exactly gap apart -> ONE session
      .toDF("event_id", "user_id", "ts", "value")
    val summary = graft.operators.Sessionize
      .sessionSummary(ev, "user_id", "ts", "event_id", "value", gap = 20L)
    val got = summary.orderBy($"user_id", $"session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      (1L, 1L, 2L, 0L, 10L, 3.75), (1L, 2L, 2L, 100L, 11L, 1.25),
      (2L, 1L, 2L, 50L, 20L, 3.5)))
    // ONE Exchange: the lag and the running sum share the user-hash
    // partitioning, and the per-session rollup's (user, session_seq)
    // clustering is satisfied by that same partitioning — a second
    // hashpartitioning in this plan means the rollup re-shuffled
    val plan = summary.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("plan pins: BM25 is scan-side tf + broadcast stats + top-k; paragraph dedup shuffles content once") {
    import spark.implicits._
    val dir = tmpDir("graft_q66plan")
    (0 until 60).map(i =>
        (i.toLong, s"join vector stream window doc $i pad${i % 7} pad${i % 5} tail", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // q66: the literal term list means tf/dl are array ops at the scan —
    // NO Generate (explode) and no (doc, term) shuffle may exist; the
    // single-row stats come back via broadcast, and the top-k must be
    // TakeOrderedAndProject, never a full sort
    val p66 = SparkEntry.queries("q66_bm25")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p66.contains("TakeOrderedAndProject"), p66)
    assert(!p66.contains("Generate"), p66)
    assert(!p66.contains("SortMergeJoin"), p66)
    assert(p66.contains("Broadcast"), p66)
    // q68: exactly two exchanges — content-keyed for the first-occurrence
    // window, doc-keyed for the rebuild; no join-back (the window decides
    // keep/drop in place)
    val p68 = SparkEntry.queries("q68_paragraph_dedup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p68).size == 2, p68)
    assert(!p68.contains("SortMergeJoin"), p68)
    // q70: every metric is a scan-side array op — no Generate (explode)
    // and no hashpartitioning exchange may appear (ORDER BY is range)
    val p70 = SparkEntry.queries("q70_quality_filter")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p70.contains("Generate"), p70)
    assert(!p70.contains("Exchange hashpartitioning"), p70)
    // q71: the vocabulary-sized df table must come back by BROADCAST — a
    // sort-merge join would shuffle the reduced (doc, term) rows again
    val p71 = SparkEntry.queries("q71_tfidf_keywords")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p71.contains("BroadcastHashJoin"), p71)
    assert(!p71.contains("SortMergeJoin"), p71)
    // q69: the unigram LM joins the vocab-sized frequency table back by
    // broadcast too — the token stream must never shuffle for the join
    val p69 = SparkEntry.queries("q69_unigram_lm")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p69.contains("BroadcastHashJoin"), p69)
    assert(!p69.contains("SortMergeJoin"), p69)
    // q93: BOTH LMs (corpus + target domain) come from ONE grouped pass
    // and broadcast as a single vocab table — exactly one BroadcastHashJoin
    // against the token stream, which never shuffles for it
    val p93 = SparkEntry.queries("q93_importance_weights")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p93).size == 1, p93)
    assert(!p93.contains("SortMergeJoin"), p93)
    // q73: the KMV sketch must run partial+final (two HashAggregate levels
    // around one exchange) — a sketch that only aggregated post-shuffle
    // would ship the token stream instead of k-long sketches
    val p73 = SparkEntry.queries("q73_kmv_distinct")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p73.contains("SortMergeJoin"), p73)
    assert("HashAggregate".r.findAllIn(p73).size >= 2, p73)
    // q76: the rank <= quota filter must push into the sort as
    // WindowGroupLimit — each partition keeps its top candidates instead
    // of sorting and materializing every group in full
    val p76 = SparkEntry.queries("q76_stratified_sample")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p76.contains("WindowGroupLimit"), p76)
    // q95: the composite pipeline fuses to exactly TWO hashpartitioning
    // exchanges (dedup content window + final agg; the ORDER BY range
    // exchange moves k result rows), and the keep-first rank runs as a
    // partial WindowGroupLimit BELOW the content exchange, so only each
    // partition's first candidate per content hash is shuffled
    val p95 = SparkEntry.queries("q95_pipeline_e2e")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p95).size == 2, p95)
    assert("WindowGroupLimit".r.findAllIn(p95).size == 2, p95)
    assert(!p95.contains("SortMergeJoin"), p95)
  }

  test("plan pins: q78 computes delta signatures once; q80 rescores only stage-1 survivors") {
    import spark.implicits._
    val dir = tmpDir("graft_q78plan")
    (0 until 40).map(i =>
        (i.toLong, s"the quick brown fox ${i % 8} jumps over the lazy dog ${i % 8} again and again",
          "src", 10L))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = new DeterministicEmbedder(8)
    (0 until 50).map(i => (i.toLong, e.embedOne(s"v$i").toSeq, i % 5))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // q78: the delta's minhash pass runs ONCE (cut band rows feed the
    // index probe and both self-join sides as Cut leaves); only
    // the inline corpus index computes minhash_sig in this stateless
    // harness — in production that side is a stored table and disappears
    val p78 = SparkEntry.queries("q78_incremental_neardup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("minhash_sig".r.findAllIn(p78).size == 1, p78)
    assert("Cut \\[".r.findAllIn(p78).size >= 3, p78)
    assert(!p78.contains("CartesianProduct"), p78)
    // q80: queries broadcast (corpus scanned once, never shuffled), the
    // stage-1 quantized rank collapses via partial+final WindowGroupLimit
    // (only <= candidates rows per query cross the shuffle), and the exact
    // cosine is computed ABOVE the r1 filter — only on stage-1 survivors
    val p80 = SparkEntry.queries("q80_quantized_ann")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p80.contains("BroadcastNestedLoopJoin BuildRight"), p80)
    assert(p80.contains("row_number(), 8, Partial"), p80)
    assert("cosine_sim".r.findAllIn(p80).size == 1, p80)
    val cosAt = p80.indexOf("cosine_sim")
    assert(cosAt > p80.indexOf("row_number(), 3, Final"), p80)
    assert(cosAt < p80.indexOf("row_number(), 8, Final"), p80)
    // q84: the corpus-sized shuffle is the word count only (partial+final
    // agg); the totals come back by broadcast, never a sort-merge join —
    // and the cumulative distribution runs windowless (globalRunningSum),
    // so NO WindowExec may appear anywhere in the plan
    val p84 = SparkEntry.queries("q84_vocab_coverage")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p84).size >= 2, p84)
    assert(p84.contains("Broadcast"), p84)
    assert(!p84.contains("SortMergeJoin"), p84)
    assert(!p84.contains("Window"), p84)
    // q98: the curriculum rank is windowless too (globalRowNumber — range
    // shuffle + broadcast offsets), the LM comes back by broadcast
    val p98 = SparkEntry.queries("q98_curriculum")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p98.contains("Window"), p98)
    assert(p98.contains("BroadcastHashJoin"), p98)
    assert(!p98.contains("SortMergeJoin"), p98)
  }

  test("globalRunningSum equals the single-partition window for random data and partitionings") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{row_number, sum}
    import org.apache.spark.sql.expressions.{Window => W}
    val rnd = new scala.util.Random(43L)
    for (_ <- 0 until 5) {
      val rows = (0 until (20 + rnd.nextInt(300)))
        .map(i => (s"k$i", 1L + rnd.nextInt(50).toLong))
      val df = rows.toDF("w", "c").repartition(1 + rnd.nextInt(7))
      val want = df
        .withColumn("rk", row_number().over(W.orderBy($"c".desc, $"w")).cast("long"))
        .withColumn("cum", sum($"c").over(
          W.orderBy($"c".desc, $"w").rowsBetween(W.unboundedPreceding, W.currentRow)))
        .select("w", "c", "rk", "cum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val got = graft.operators.Batching.globalRunningSum(
          df, Seq($"c".desc, $"w"), "c", numPartitions = 1 + rnd.nextInt(7),
          outPos = "rk", outCum = "cum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want)
    }
  }

  test("leakage-safe split never places two docs of one near-dup cluster in different splits") {
    import spark.implicits._
    val dir = tmpDir("graft_q83safe")
    // 30 clusters of 3 exact clones each, with token-DISJOINT cluster
    // bodies (an 8-hash signature can collide across near-identical
    // templates, which would merge clusters and break the arithmetic below)
    (0 until 90).map(i =>
        (i.toLong, (0 until 30).map(k => s"w${(i % 30) * 50 + k}").mkString(" "), "src", 10L))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q83_leakage_safe_split")(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    // every cluster lands wholly in one split: per split, n_docs must be a
    // multiple of 3 and exactly 3x the cluster count
    assert(rows.map(_._2).sum == 90L)
    rows.foreach { case (split, nDocs, nClusters) =>
      assert(nDocs == 3 * nClusters, s"$split: $nDocs docs vs $nClusters clusters")
    }
    // and the naive per-doc split DOES straddle at least one cluster here,
    // so the test would catch a regression to doc-id hashing
    val naive = graft.functions.HashFunctions
    val buckets = (0 until 90).groupBy(_ % 30).values.map(g =>
      g.map(i => naive.stableHash64(s"split:$i") % 100 < 80).toSet.size)
    assert(buckets.exists(_ > 1))
  }

  test("sessionize matches a plain-Scala reference over 50 random corpora") {
    import spark.implicits._
    // independent re-derivation: per user, sort by (ts, id), split where
    // the gap exceeds `gap`, number sessions 1.., summarize — then compare
    // the operator's whole output set. Random collisions in ts (the 0-40
    // range over up to 30 events) exercise the tie-break.
    val rnd = new scala.util.Random(17L)
    for (_ <- 0 until 50) {
      val gap = 1 + rnd.nextInt(10)
      val events = (0 until (5 + rnd.nextInt(25))).map { i =>
        (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(40).toLong, rnd.nextInt(16) * 0.25)
      }
      val want = events.groupBy(_._2).flatMap { case (uid, evs) =>
        val sorted = evs.sortBy(e => (e._3, e._1))
        val sessions = sorted.foldLeft(Vector.empty[Vector[(Long, Long, Long, Double)]]) {
          (acc, e) =>
            if (acc.nonEmpty && e._3 - acc.last.last._3 <= gap) acc.init :+ (acc.last :+ e)
            else acc :+ Vector(e)
        }
        sessions.zipWithIndex.map { case (ss, i) =>
          val total = BigDecimal(ss.map(_._4).sum)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
          (uid, (i + 1).toLong, ss.size.toLong, ss.head._3, ss.last._3 - ss.head._3, total)
        }
      }.toSet
      val got = graft.operators.Sessionize.sessionSummary(
          events.toDF("event_id", "user_id", "ts", "value"),
          "user_id", "ts", "event_id", "value", gap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))
        .toSet
      assert(got == want, s"gap=$gap events=$events")
    }
  }

  test("paragraph dedup matches a plain-Scala first-occurrence reference over 50 random corpora") {
    import spark.implicits._
    // paragraphs drawn from an 8-symbol alphabet force heavy cross-document
    // repetition; the reference keeps the first (doc, idx) occurrence of
    // each distinct paragraph and rebuilds each doc from its survivors
    val rnd = new scala.util.Random(23L)
    for (_ <- 0 until 50) {
      val docs = (0 until (3 + rnd.nextInt(8))).map { d =>
        d.toLong -> (0 until (1 + rnd.nextInt(12))).map(_ => s"p${rnd.nextInt(8)}")
      }
      val pars = docs.flatMap { case (d, ps) =>
        ps.zipWithIndex.map { case (p, i) => (d, (i + 1).toLong, p) }
      }
      val firstOf = pars.sortBy(r => (r._1, r._2))
        .foldLeft(Map.empty[String, (Long, Long)]) { (m, r) =>
          if (m.contains(r._3)) m else m + (r._3 -> (r._1, r._2))
        }
      val md5hex = (s: String) => java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val want = docs.map { case (d, ps) =>
        val kept = ps.zipWithIndex.collect {
          case (p, i) if firstOf(p) == (d, (i + 1).toLong) => p
        }
        (d, ps.size.toLong, kept.size.toLong, md5hex(kept.mkString(" ")))
      }.toSet
      val got = graft.operators.ParagraphDedup.dedupSummary(
          pars.toDF("doc_id", "idx", "p"), "doc_id", "idx", "p")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == want, s"docs=$docs")
    }
  }

  test("BM25 matches an independent plain-Scala reference over 30 random corpora") {
    import spark.implicits._
    // the q66 oracle MIRRORS the expression structure, so it cannot catch a
    // bug shared by both sides; this reference re-derives BM25 from the
    // formula (Robertson k1=1.2, b=0.75, +1-smoothed idf) independently
    val rnd = new scala.util.Random(41L)
    for (_ <- 0 until 30) {
      val vocab = (0 until 10).map(i => s"w$i") ++ Seq("join", "vector")
      val terms = Seq("join", "vector")
      val docs = (0 until (5 + rnd.nextInt(20))).map { d =>
        (d.toLong, (0 until (3 + rnd.nextInt(30)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val toks = docs.map { case (d, text) =>
        d -> text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      }.toMap
      val n = docs.size.toDouble
      val avgdl = toks.values.map(_.size).sum.toDouble / n
      val dfm = terms.map(tm => tm -> toks.values.count(_.contains(tm)).toDouble).toMap
      val want = docs.flatMap { case (d, _) =>
        val tk = toks(d)
        val score = terms.map { tm =>
          val tf = tk.count(_ == tm).toDouble
          val idf = math.floor(math.log((n - dfm(tm) + 0.5) / (dfm(tm) + 0.5) + 1.0) * 10000.0) / 10000.0
          idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * tk.size / avgdl))
        }.sum
        if (terms.exists(tk.contains)) Some(d -> score) else None
      }.toMap
      val got = graft.query.LexicalRetriever.bm25Scores(
          docs.toDF("doc_id", "text"), "doc_id", "text", terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (d, s) =>
        assert(math.abs(s - want(d)) < 1e-9, s"doc $d: $s vs ${want(d)}")
      }
    }
  }

  test("simhash-banded near-dup equals brute force (banding complete for hamming <= 3)") {
    import spark.implicits._
    // 30 random docs over a 12-word vocab correlate simhashes heavily, and
    // two exact-duplicate groups guarantee hamming-0 pairs exist; the
    // pigeonhole claim is that the 4x8-bit banding loses NOTHING at <= 3
    val rnd = new scala.util.Random(37L)
    val docs = ((0 until 26).map { i =>
      (i.toLong, (0 until 20).map(_ => s"w${rnd.nextInt(12)}").mkString(" "))
    } :+ (26L, "w1 w2 w3 w4") :+ (27L, "w1 w2 w3 w4")
      :+ (28L, "w5 w6 w7") :+ (29L, "w5 w6 w7")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.simHashNearDupPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sh = graft.operators.Dedup.simhash32(docs, "text", "sh")
      .select($"doc_id", $"sh".cast("long").as("sh"))
    val a = sh.select($"doc_id".as("id_a"), $"sh".as("sha"))
    val brute = a.crossJoin(sh.select($"doc_id".as("id_b"), $"sh".as("shb")))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        org.apache.spark.sql.functions.bit_count($"sha".bitwiseXOR($"shb")).cast("long").as("hamming"))
      .filter($"hamming" <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    assert(got.exists(_._3 == 0L)) // the duplicate groups surfaced
  }

  test("KMV sketch: partition-invariant, equals a plain-Scala reference, estimator sane") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udaf}
    // the sketch of a multiset is a pure function of its distinct hash set,
    // so ANY partitioning (any partial/merge tree) must produce the
    // identical sorted k-minima — the mergeability contract the 100 TB
    // rollup story rests on
    val rnd = new scala.util.Random(29L)
    val k = 16
    for (_ <- 0 until 10) {
      val vals = (0 until (50 + rnd.nextInt(500))).map(_ => s"v${rnd.nextInt(300)}")
      val hashes = vals.map(v => graft.functions.HashFunctions.stableHash64(s"kmv:$v"))
      val ref = hashes.distinct.sorted.take(k)
      val kmvAgg = udaf(new graft.operators.KmvSketchAgg(k))
      for (parts <- Seq(1, 3, 8)) {
        val sk = hashes.toDS().repartition(parts)
          .select(kmvAgg(col("value")))
          .as[Seq[Long]].head()
        assert(sk == ref, s"parts=$parts")
      }
      val est = graft.operators.KmvSketch.estimate(ref, k)
      val exact = vals.distinct.size
      if (exact < k) assert(est == exact.toDouble)
      else assert(math.abs(est - exact) / exact < 0.6, s"est=$est exact=$exact")
    }
  }

  test("bottom-m sample: partition-invariant, equals a plain-Scala reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udaf}
    // sample membership is a pure function of the (hash, value) multiset —
    // any partial/merge tree must produce the identical sorted value sample
    val rnd = new scala.util.Random(37L)
    val m = 16
    for (_ <- 0 until 10) {
      val rows = (0 until (5 + rnd.nextInt(80))).map { i =>
        (graft.functions.HashFunctions.stableHash64(s"sample:$i:${rnd.nextInt(9)}"),
          rnd.nextInt(40).toLong)
      }
      val ref = rows.sorted.take(m).map(_._2).sorted
      val sampleAgg = udaf(new graft.operators.BottomMSampleAgg(m))
      for (parts <- Seq(1, 3, 8)) {
        val got = rows.toDF("h", "v").repartition(parts)
          .select(sampleAgg(col("h"), col("v")))
          .as[Seq[Long]].head()
        assert(got == ref, s"parts=$parts")
      }
    }
  }

  test("streaming running distinct equals the batch KMV sketch across random splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the per-key state is the KMV buffer itself, updated by the same
    // Aggregator reduce the batch path uses — so the final stream estimate
    // must equal the batch sketch of the whole stream, whatever the splits
    val rnd = new scala.util.Random(31L)
    val k = 16
    val hashed = (0 until 400).map { i =>
      (s"k${i % 3}", graft.functions.HashFunctions.stableHash64(s"kmv:v${rnd.nextInt(200)}"))
    }
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val q = graft.streaming.StatefulOps.runningDistinct(input.toDS(), k)
      .writeStream.format("memory").queryName("rdist").outputMode("update").start()
    try {
      val cuts = Seq.fill(3)(rnd.nextInt(hashed.size + 1)).sorted
      val bounds = (0 +: cuts :+ hashed.size).toVector
      bounds.zip(bounds.tail).foreach { case (a, b) =>
        val batch = hashed.slice(a, b)
        if (batch.nonEmpty) { input.addData(batch: _*); q.processAllAvailable() }
      }
      val fin = spark.table("rdist")
        .as[graft.streaming.StatefulOps.DistinctEstimate].collect()
        .groupBy(_.key).map { case (key, rs) =>
          val last = rs.maxBy(_.n_rows)
          key -> (last.n_sketch, last.est)
        }
      val want = hashed.groupBy(_._1).map { case (key, hs) =>
        val ref = hs.map(_._2).distinct.sorted.take(k)
        key -> (ref.length.toLong, graft.operators.KmvSketch.estimate(ref, k))
      }
      assert(fin == want)
    } finally q.stop()
  }

  test("streaming sessionize: sessions close on the watermark; numbering survives idle users") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // offset from epoch 0: the initial watermark IS 0 and rows at-or-before
    // the watermark are dropped as late
    def ts(sec: Long) = new java.sql.Timestamp(3600000L + sec * 1000L)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "event_id", "ts", "value")
    val q = graft.streaming.StatefulOps.streamingSessionize(events, gapMs = 5000L)
      .writeStream.format("memory").queryName("sess_wm").outputMode("append").start()
    try {
      input.addData((1L, 1L, ts(0), 1.25), (1L, 2L, ts(2), 2.5))
      q.processAllAvailable() // watermark 2s: 2s + gap not passed, nothing closes
      assert(spark.table("sess_wm").count() == 0)
      input.addData((1L, 3L, ts(20), 0.5))
      q.processAllAvailable() // watermark 20s > 2s + 5s: session 1 closes
      input.addData((1L, 4L, ts(60), 0.25))
      q.processAllAvailable() // watermark 60s: session 2 ({20s}) closes
      input.addData((1L, 5L, ts(120), 1.0))
      q.processAllAvailable() // user was fully idle (no open session) between
      // 60s closing and this arrival — numbering must continue at 4, which
      // is exactly what removing the counter state would break
      input.addData((2L, 6L, ts(200), 0.75))
      q.processAllAvailable() // stranger's watermark push closes user 1's {120s}
      val got = spark.table("sess_wm")
        .as[graft.streaming.StatefulOps.SessionSummary].collect()
        .sortBy(s => (s.user_id, s.session_seq)).toSeq
      assert(got == Seq(
        graft.streaming.StatefulOps.SessionSummary(1L, 1L, 2L, ts(0).getTime, 2000L, 3.75),
        graft.streaming.StatefulOps.SessionSummary(1L, 2L, 1L, ts(20).getTime, 0L, 0.5),
        graft.streaming.StatefulOps.SessionSummary(1L, 3L, 1L, ts(60).getTime, 0L, 0.25),
        graft.streaming.StatefulOps.SessionSummary(1L, 4L, 1L, ts(120).getTime, 0L, 1.0)))
    } finally q.stop()
  }

  test("streaming sessionize equals the batch operator for 100 random corpora and micro-batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // One long-lived query; each case uses disjoint user ids and a time
    // base far past the previous case's, so the shared watermark only ever
    // moves forward and each case's state is independent (the same
    // technique as the near-dup split property). Values are multiples of
    // 0.25 so batch partial-agg sums and the streaming ordered fold are
    // both exact and compare bit-for-bit after 2-dp rounding.
    val rnd = new scala.util.Random(11L)
    val gapMs = 5000L
    val all = scala.collection.mutable.Buffer.empty[(Long, Long, java.sql.Timestamp, Double)]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "event_id", "ts", "value")
    // the watermark slack exceeds each case's 60 s timestamp spread, so
    // events can arrive in ANY order within a case without being dropped
    // as late (with 0 slack even an EQUAL timestamp straddling a batch
    // boundary is late — ts <= watermark drops); parity must then come
    // entirely from the operator's buffer sort + watermark-close logic
    val q = graft.streaming.StatefulOps
      .streamingSessionize(events, gapMs, watermarkDelay = "2 minutes")
      .writeStream.format("memory").queryName("sess_prop").outputMode("append").start()
    try {
      var eid = 0L
      for (c <- 0 until 100) {
        val base = 3600000L + c.toLong * 10000000L
        val evs = rnd.shuffle((for {
          u <- 0 until 3
          _ <- 0 until (2 + rnd.nextInt(9))
        } yield {
          eid += 1
          ((c * 10 + u).toLong, eid,
            new java.sql.Timestamp(base + rnd.nextInt(60) * 1000L),
            rnd.nextInt(16) * 0.25)
        }).toSeq)
        val cuts = Seq.fill(rnd.nextInt(3))(rnd.nextInt(evs.size + 1)).sorted
        val bounds = (0 +: cuts :+ evs.size).toVector
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          val batch = evs.slice(a, b)
          if (batch.nonEmpty) { input.addData(batch: _*); q.processAllAvailable() }
        }
        all ++= evs
      }
      // sentinel far past the last case closes every open session
      input.addData((999999L, eid + 1,
        new java.sql.Timestamp(3600000L + 100L * 10000000L), 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_prop").filter($"user_id" =!= 999999L)
        .as[graft.streaming.StatefulOps.SessionSummary].collect()
        .map(s => (s.user_id, s.session_seq, s.n_events, s.start_ms, s.dur_ms, s.total_value))
        .toSet
      val want = graft.operators.Sessionize.sessionSummary(
          all.toSeq.map(e => (e._2, e._1, e._3.getTime, e._4))
            .toDF("event_id", "user_id", "ts", "value"),
          "user_id", "ts", "event_id", "value", gapMs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))
        .toSet
      assert(got == want,
        s"stream-only=${(got -- want).toSeq.sorted.take(5)} batch-only=${(want -- got).toSeq.sorted.take(5)}")
    } finally q.stop()
  }

  test("MMR rerank: redundancy loses to diversity, λ=1 degenerates to top-k, and the greedy choice matches a plain-Scala reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // one query, three candidates: a(rel 100) and b(rel 99) are clones
    // (sim 99), c(rel 60) is unrelated (sim 5 to both). Plain top-2 takes
    // {a, b}; MMR at λ=0.7 takes {a, c}: b scores 7·99−3·99=396, c scores
    // 7·60−3·5=405 — the redundant near-clone loses to the diverse doc.
    val cand = Seq((1L, 10L, 100L), (1L, 11L, 99L), (1L, 12L, 60L))
      .toDF("query_id", "neighbor_id", "rel_u")
    val ids = Seq(10L, 11L, 12L)
    def sim(a: Long, b: Long): Long =
      if (Set(a, b) == Set(10L, 11L)) 99L else 5L
    val pairs = (for (a <- ids; b <- ids if a != b) yield (1L, a, b, sim(a, b)))
      .toDF("query_id", "id_a", "id_b", "sim_u")
    val got = graft.operators.MmrRerank
      .rerank(cand, "query_id", "neighbor_id", "rel_u",
        pairs, "id_a", "id_b", "sim_u", k = 2, lambdaNum = 7L, lambdaDen = 10L)
      .orderBy(col("pick_rank")).collect()
      .map(r => r.getLong(2)).toSeq
    assert(got == Seq(10L, 12L)) // diversity beats the clone
    // λ=1: penalty term vanishes -> plain relevance order {a, b}
    val pure = graft.operators.MmrRerank
      .rerank(cand, "query_id", "neighbor_id", "rel_u",
        pairs, "id_a", "id_b", "sim_u", k = 2, lambdaNum = 1L, lambdaDen = 1L)
      .orderBy(col("pick_rank")).collect().map(r => r.getLong(2)).toSeq
    assert(pure == Seq(10L, 11L))
    // random corpora vs a plain-Scala greedy reference, multiple queries
    val rnd = new scala.util.Random(7L)
    val qids = Seq(1L, 2L, 3L)
    val rc = for (q <- qids; i <- 0 until 6)
      yield (q, i.toLong, rnd.nextInt(1000).toLong)
    val rp = for (q <- qids; a <- 0L until 6L; b <- 0L until 6L if a != b)
      yield {
        val s = math.min(a, b) * 1000 + math.max(a, b) // symmetric by construction
        (q, a, b, (graft.functions.HashFunctions.stableHash64(s"$q:$s") % 500L).abs)
      }
    val gotR = graft.operators.MmrRerank
      .rerank(rc.toDF("query_id", "neighbor_id", "rel_u"),
        "query_id", "neighbor_id", "rel_u",
        rp.toDF("query_id", "id_a", "id_b", "sim_u"), "id_a", "id_b", "sim_u",
        k = 4, lambdaNum = 7L, lambdaDen = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val simMap = rp.map(t => ((t._1, t._2, t._3), t._4)).toMap
    val want = qids.flatMap { q =>
      val rel = rc.collect { case (`q`, id, r) => id -> r }.toMap
      var sel = Vector.empty[Long]
      (1 to 4).map { rank =>
        val best = rel.keys.filter(!sel.contains(_)).map { id =>
          val pen = if (sel.isEmpty) 0L else sel.map(s => simMap((q, s, id))).max
          (7L * rel(id) - 3L * pen, id)
        }.toSeq.sortBy { case (m, id) => (-m, id) }.head._2
        sel :+= best
        (q, rank.toLong, best)
      }
    }.toSet
    assert(gotR == want)
  }

  test("streaming SCD2 maintenance equals the batch q94 build for 100 random CDC streams, splits and replays") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    implicit val sq = spark.sqlContext
    // One long-lived query; disjoint user ids per case (NoTimeout state is
    // per-key, so cases are independent). Arrival order is fully random —
    // back-dated changes must RENUMBER later versions — and some rows are
    // REDELIVERED in later batches to exercise the at-least-once dedupe.
    val rnd = new scala.util.Random(77L)
    val all = scala.collection.mutable.Buffer.empty[(Long, Long, Long, Long)]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, Long)]
    val q = graft.streaming.StatefulOps.runningScd2(
        input.toDS())
      .writeStream.format("memory").queryName("scd2_prop").outputMode("update").start()
    try {
      var eid = 0L
      for (c <- 0 until 100) {
        val evs = rnd.shuffle((for {
          u <- 0 until 3
          _ <- 0 until (1 + rnd.nextInt(6))
        } yield {
          eid += 1
          ((c * 10 + u).toLong, rnd.nextInt(500).toLong + 1L, eid,
            rnd.nextInt(1000).toLong)
        }).toSeq)
        val cuts = Seq.fill(rnd.nextInt(3))(rnd.nextInt(evs.size + 1)).sorted
        val bounds = (0 +: cuts :+ evs.size).toVector
        var delivered = Vector.empty[(Long, Long, Long, Long)]
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          // replay up to 2 already-delivered rows alongside the fresh slice
          val replay = if (delivered.nonEmpty)
            Seq.fill(rnd.nextInt(3))(delivered(rnd.nextInt(delivered.size)))
          else Seq.empty
          val batch = rnd.shuffle(evs.slice(a, b) ++ replay)
          delivered ++= evs.slice(a, b)
          if (batch.nonEmpty) { input.addData(batch: _*); q.processAllAvailable() }
        }
        all ++= evs
      }
      // latest snapshot per key (n_events only grows), flattened to rows —
      // order-independent max_by: sort-then-dropDuplicates does NOT
      // guarantee keeping the first row of the preceding sort
      val got = spark.table("scd2_prop")
        .groupBy($"user_id")
        .agg(max_by($"versions", $"n_events").as("versions"))
        .select($"user_id", explode($"versions").as("v"))
        .select($"user_id", $"v.version", $"v.v_u",
          $"v.valid_from_us", $"v.valid_to_us", $"v.is_current")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getInt(5)))
        .toSet
      // the batch build is q94's exact window shape over everything sent
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val want = all.toSeq.toDF("user_id", "ts_us", "event_id", "v_u")
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("nxt", lead($"ts_us", 1).over(w))
        .select($"user_id", $"version", $"v_u",
          $"ts_us".as("valid_from_us"),
          coalesce($"nxt", lit(Long.MaxValue)).as("valid_to_us"),
          $"nxt".isNull.cast("int").as("is_current"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getInt(5)))
        .toSet
      assert(got == want,
        s"stream-only=${(got -- want).toSeq.sortBy(t => (t._1, t._2)).take(5)} " +
          s"batch-only=${(want -- got).toSeq.sortBy(t => (t._1, t._2)).take(5)}")
    } finally q.stop()
  }

  test("streaming transition matrix equals the batch lead-window for 100 random streams, splits and replays") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    implicit val sq = spark.sqlContext
    // q155's twin: per-user event chains under fully random arrival order
    // (late events splice mid-chain and must rewrite the surrounding
    // transitions) with redelivered rows exercising at-least-once dedupe
    val rnd = new scala.util.Random(91L)
    val types = Vector("view", "click", "purchase", "error")
    val all = scala.collection.mutable.Buffer.empty[(Long, Long, Long, String)]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String)]
    val q = graft.streaming.StatefulOps.runningTransitions(input.toDS())
      .writeStream.format("memory").queryName("trans_prop").outputMode("update").start()
    try {
      var eid = 0L
      for (c <- 0 until 100) {
        val evs = rnd.shuffle((for {
          u <- 0 until 3
          _ <- 0 until (2 + rnd.nextInt(6))
        } yield {
          eid += 1
          ((c * 10 + u).toLong, rnd.nextInt(500).toLong + 1L, eid,
            types(rnd.nextInt(types.size)))
        }).toSeq)
        val cuts = Seq.fill(rnd.nextInt(3))(rnd.nextInt(evs.size + 1)).sorted
        val bounds = (0 +: cuts :+ evs.size).toVector
        var delivered = Vector.empty[(Long, Long, Long, String)]
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          val replay = if (delivered.nonEmpty)
            Seq.fill(rnd.nextInt(3))(delivered(rnd.nextInt(delivered.size)))
          else Seq.empty
          val batch = rnd.shuffle(evs.slice(a, b) ++ replay)
          delivered ++= evs.slice(a, b)
          if (batch.nonEmpty) { input.addData(batch: _*); q.processAllAvailable() }
        }
        all ++= evs
      }
      // latest snapshot per user (order-independent max_by — see the SCD2
      // twin above), pairs summed into the global matrix
      val got = spark.table("trans_prop")
        .groupBy($"user_id")
        .agg(max_by($"pairs", $"n_events").as("pairs"))
        .select(explode($"pairs").as("p"))
        .groupBy($"p.cur", $"p.nxt").agg(sum($"p.n_pair").as("n_pair"))
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      // q155's batch shape over everything sent
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val want = all.toSeq.toDF("user_id", "ts_us", "event_id", "cur")
        .withColumn("nxt", lead($"cur", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"cur", $"nxt").agg(count(lit(1)).as("n_pair"))
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("streaming postings equal the batch inverted index for 100 random streams, splits and replays") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    // q113's twin: documents arrive in random batches with whole-document
    // redeliveries; flattening the latest snapshot per term must rebuild
    // the batch index exactly (postings have no cross-doc order hazard —
    // the property here is at-least-once dedupe + cross-batch accumulation)
    val rnd = new scala.util.Random(113L)
    val vocab = Vector("table", "scan", "hash", "join", "sort", "index")
    val all = scala.collection.mutable.Buffer.empty[(Long, String)]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.StatefulOps.runningPostings(input.toDS())
      .writeStream.format("memory").queryName("postings_prop")
      .outputMode("update").start()
    try {
      var did = 0L
      for (_ <- 0 until 100) {
        val docs = (0 until 1 + rnd.nextInt(3)).map { _ =>
          did += 1
          (did, Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
        }
        // replay up to 2 already-delivered documents alongside the fresh ones
        val replay = if (all.nonEmpty)
          Seq.fill(rnd.nextInt(3))(all(rnd.nextInt(all.size)))
        else Seq.empty
        val batch = rnd.shuffle(docs ++ replay)
        all ++= docs
        if (batch.nonEmpty) { input.addData(batch: _*); q.processAllAvailable() }
      }
      // latest snapshot per term (n_occ only grows; order-independent max_by)
      val got = spark.table("postings_prop")
        .groupBy($"term")
        .agg(max_by($"postings", $"n_occ").as("postings"))
        .select($"term", explode($"postings").as("p"))
        .select($"p.doc_id", $"p.pos", $"term")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val want = graft.query.InvertedIndex
        .postings(all.toSeq.toDF("doc_id", "text"), "doc_id", "text")
        .collect() // batch pos is posexplode's Int; the snapshot carries Long
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getString(2))).toSet
      assert(got == want,
        s"stream-only=${(got -- want).take(5)} batch-only=${(want -- got).take(5)}")
    } finally q.stop()
  }

  test("q207 hot-gram cap: df-squared fan-out bounded and disclosed; P/R/F1 unchanged when the cap only removes stopword-grade grams") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft_q207cap")
    // 70 ids that land in q207's 1/8 hash sample (cap threshold is 64)
    val ids = spark.range(0, 2000)
      .withColumn("h", pmod(graft.functions.HashFunctions.stableHash64(
        concat(lit("de:"), $"id".cast("string"))), lit(8L)))
      .filter($"h" === 0).select($"id").as[Long].collect().take(70)
    assert(ids.length == 70)
    // every doc carries the same hot sentence (its grams hit df=70 > 64);
    // docs come in identical pairs distinguished by a long unique section,
    // so capped Jaccard is 1 for dup pairs and ~0 for everything else —
    // the margin that makes the cap decision-neutral at every threshold
    val hot = Array.fill(30)("zzzz").mkString(" ")
    def md5x(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = ids.zipWithIndex.map { case (id, k) =>
      val pair = k / 2
      // md5-random unique tokens: cross-pair gram collisions are a few
      // grams out of ~250, keeping non-dup Jaccard far below 0.25
      (id, (0 until 30).map(j => md5x(s"$pair:$j").take(8)).mkString(" ") + " " + hot)
    }
    docs.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q207_dedup_eval")(spark, dir)
      .collect().map(r => (r.getLong(0), r)).toMap
    // brute-force truth, capped and uncapped, over raw shingle sets
    def shingles(t: String): Set[String] =
      if (t.length < 4) Set(t)
      else (0 to t.length - 4).map(i => t.substring(i, i + 4)).toSet
    val sets = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val dfCount = sets.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size)
    val hotGrams = dfCount.filter(_._2 > 64).keys.toSet
    val cappedSets = sets.view.mapValues(_ -- hotGrams).toMap
    def truthPairs(ss: Map[Long, Set[String]], t4: Long): Set[(Long, Long)] =
      (for {
        a <- ids; b <- ids if a < b
        ni = (ss(a) & ss(b)).size
        if ni * 10000L >= t4 * (ss(a).size + ss(b).size - ni)
      } yield (a, b)).toSet
    for (t4 <- Seq(2500L, 5000L, 7500L)) {
      val capped = truthPairs(cappedSets, t4)
      // the engineered margin: capping stopword-grade grams flips NO pair
      assert(capped == truthPairs(sets, t4), s"t4=$t4 cap changed the truth set")
      assert(out(t4).getLong(3) == capped.size.toLong, s"t4=$t4 n_true")
      assert(capped.size == 35) // exactly the engineered dup pairs
    }
    // disclosed: the scorecard reports exactly the stopword-grade cut
    assert(out(2500L).getLong(2) == hotGrams.size.toLong)
    assert(hotGrams.nonEmpty)
    // bounded: without the cap the truth self-join pairs EVERY doc with
    // every other through the hot grams — C(70,2) candidate fan-out
    val uncappedCandidates =
      (for { a <- ids; b <- ids if a < b && (sets(a) & sets(b)).nonEmpty } yield 1).size
    assert(uncappedCandidates == 70 * 69 / 2)
  }

  test("q199 gini: count-of-counts closed form equals the vocab rank window; the one window ranks (lang, c) pairs, never the vocab") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft_q199")
    // heavy tie structure: words repeat across docs so count runs are long
    (0 until 60).map { i =>
      val lang = if (i % 2 == 0) "en" else "fr"
      val words = (0 to i % 7).map(j => s"w${i % 11}_$j") ++ Seq("common", "common")
      (i.toLong, lang, words.mkString(" "))
    }.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q199_token_gini")(spark, dir)
    val plan = got.queryExecution.executedPlan.toString
    // the pre-round-10 shape ranked the per-lang vocab through one task;
    // the closed form must not reintroduce it
    assert(!plan.contains("row_number"), plan)
    assert(plan.contains("windowspecdefinition"), plan)
    // the window's input is the count-of-counts aggregate: a (lang, c)
    // grouping exists in the plan, so vocab rows never reach a window
    assert("keys=\\[lang#\\d+, c#\\d+L?\\]".r.findFirstIn(plan).nonEmpty, plan)
    // value parity with the original rank-window formula (Σ i·c over a
    // tie-run is order-invariant, so the closed form is byte-identical)
    val cnt = spark.read.parquet(s"$dir/documents.parquet")
      .select($"lang", explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang").orderBy($"c", $"w")
    val want = cnt.withColumn("i", row_number().over(w).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("vocab"), sum($"c").as("n_tok"), sum($"i" * $"c").as("ic"))
      .select($"lang", $"vocab", $"n_tok",
        expr("((2 * ic - (vocab + 1) * n_tok) * 10000) div (vocab * n_tok)").as("gini4"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val gotMap = got.collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotMap == want)
  }
  test("plan pins round 10: weighted sample elects via WindowGroupLimit; setsim and linkage never go cartesian") {
    import spark.implicits._
    val dir = tmpDir("graft_r10plan")
    (0 until 60).map(i =>
        (i.toLong, s"alpha bravo charlie delta echo $i pad${i % 7} pad${i % 5} tail end", s"s${i % 3}", 40L + i))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0 until 40).map(i => (i.toLong, f"Customer#$i%09d", i % 5, 0.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // q219: the rank <= k filter must fuse into the row_number window as
    // WindowGroupLimit — map tasks forward at most k rows per stratum, so
    // the per-stratum partition never materializes a full source
    val p219 = SparkEntry.queries("q219_weighted_sample")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p219.contains("WindowGroupLimit"), p219)
    // q215/q216: candidate generation is equi-join on prefix elements /
    // nominated grams — a CartesianProduct anywhere means the blocking
    // collapsed to all-pairs
    val p215 = SparkEntry.queries("q215_setsim_exact")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p215.contains("CartesianProduct"), p215)
    val p216 = SparkEntry.queries("q216_record_linkage")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p216.contains("CartesianProduct"), p216)
  }
  test("q146 zipf: globalRowNumber rank is byte-identical to the vocab window; no unpartitioned Window survives in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft_q146")
    // heavy tie structure across a real vocabulary so the (f desc, w)
    // tiebreak order actually decides ranks
    (0 until 80).map { i =>
      val words = (0 to i % 9).map(j => s"w${i % 13}_$j") ++ Seq("common", "the", "the")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q146_zipf_fit")(spark, dir)
    // the pre-round-11 shape ranked the vocabulary through ONE task
    // (Window.orderBy with no partition — the q199 hazard class); the
    // globalRowNumber form must plan no Window and no row_number at all
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    // value parity with the original single-task rank-window formula
    val counts = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"f".desc, $"w")
    val want = counts.withColumn("rk", row_number().over(w).cast("long"))
      .select(floor(log($"rk".cast("double")) * 1000000.0).cast("long").as("x"),
        floor(log($"f".cast("double")) * 1000000.0).cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .withColumn("num", $"n" * $"sxy" - $"sx" * $"sy")
      .withColumn("denx", $"n" * $"sxx" - $"sx" * $"sx")
      .withColumn("deny", $"n" * $"syy" - $"sy" * $"sy")
      .withColumn("slope", $"num".cast("double") / $"denx".cast("double"))
      .select($"n".as("n_terms"),
        (floor($"slope" * 10000.0) / 10000.0).as("slope4"),
        (floor((($"sy".cast("double") - $"slope" * $"sx".cast("double"))
          / $"n".cast("double") / 1000000.0) * 10000.0) / 10000.0).as("icept4"),
        (floor(($"num".cast("double") * $"num".cast("double"))
          / ($"denx".cast("double") * $"deny".cast("double")) * 10000.0)
          / 10000.0).as("r2_4"))
      .collect().head
    val g = got.collect().head
    assert(g == want, s"got $g want $want")
  }

  test("groupedRowNumber equals the per-group window row_number + count, with no Window in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed groups (one giant stratum) + tie-heavy sort key so the
    // doc_id tiebreak decides order, like the split family's md5 ordering
    val rows = scala.util.Random.shuffle(
      (1 to 900).map(i => ("en", "web", i.toLong, (i % 7).toLong)) ++
        (1 to 40).map(i => ("de", "web", 1000L + i, (i % 3).toLong)) ++
        (1 to 3).map(i => ("fr", "pdf", 2000L + i, 0L)))
    val df = rows.toDF("lang", "source", "doc_id", "v")
    val got = graft.operators.Batching.groupedRowNumber(
      df, Seq("lang", "source"), Seq($"v", $"doc_id"), 7, "rn", Some("n"))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    val gotMap = got.select("doc_id", "rn", "n").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang", $"source").orderBy($"v", $"doc_id")
    val wn = org.apache.spark.sql.expressions.Window.partitionBy($"lang", $"source")
    val wantMap = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .select("doc_id", "rn", "n").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(gotMap == wantMap)
  }

  test("QuantileNorm: exact branch equals the per-row window reference; coarse branch engages past maxDistinct and runs on the bounded ladder") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // integer-bucketed values, well under the gate → exact branch
    val rows = (0 until 500).map(i => (s"src${i % 3}", (i * 7 % 40).toLong))
    val df = rows.toDF("source", "n_chars")
    val got = graft.operators.QuantileNorm.normalize(df, "source", "n_chars", maxDistinct = 100)
    assert(got.select("exact").distinct().collect().map(_.getBoolean(0)).toSeq == Seq(true))
    // per-row reference: rank each row within its source, map to the pooled
    // value at ceil(r*np/ns) — then collapse to the histogram grain
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"v", $"rid")
    val base = df.select($"source", $"n_chars".as("v"))
      .withColumn("rid", monotonically_increasing_id())
    val np = base.count()
    val perSrc = base.withColumn("r", row_number().over(w).cast("long"))
      .withColumn("ns", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
    val pooled = base.select($"v").orderBy($"v").collect().map(_.getLong(0))
    val wantRows = perSrc.collect().map { r =>
      val tr = (r.getAs[Long]("r") * np + r.getAs[Long]("ns") - 1) / r.getAs[Long]("ns")
      (r.getString(0), r.getAs[Long]("v"), pooled(tr.toInt - 1))
    }
    // window reference maps EVERY row; the histogram output keeps the max
    // rank per (source, v) — compare at that grain
    val want = wantRows.groupBy(t => (t._1, t._2)).map { case ((s0, v), g) =>
      (s0, v, g.length.toLong, g.map(_._3).max)
    }.toSet
    val gotSet = got.select($"source", $"v", $"cnt", $"norm_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotSet == want)

    // continuous values, gate at 50 → coarse branch on the q127 ladder
    val cont = (0 until 400).map(i => (s"src${i % 2}", i * 0.037 + 0.01))
      .toDF("source", "score")
    val coarse = graft.operators.QuantileNorm.normalize(cont, "source", "score", maxDistinct = 50)
    assert(coarse.select("exact").distinct().collect().map(_.getBoolean(0)).toSeq == Seq(false))
    val vs = coarse.select("v").distinct().collect().map(_.getLong(0)).toSet
    // every carried value is a power-of-two bucket lower bound, few of them
    assert(vs.size <= 16 && vs.forall(v => v > 0 && (v & (v - 1)) == 0), vs.toString)
    // counts are conserved through the coarsening
    assert(coarse.agg(sum("cnt")).collect().head.getLong(0) == 400L)
  }

  test("UrlOps: canonicalization edge cases and registrable domains") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cases = Seq(
      // case, default port, dup slashes, trailing slash, tracking params,
      // param order, fragment — all collapse
      ("HTTP://WWW.Example.COM:80/a//b///c/?utm_source=x&b=2&a=1#frag",
        "http://www.example.com/a/b/c?a=1&b=2"),
      // non-default port survives; root path keeps its slash
      ("https://example.com:8443/", "https://example.com:8443/"),
      // empty path canonicalizes to root
      ("https://example.com", "https://example.com/"),
      // empty query drops its '?'; fbclid/gclid are tracking params
      ("http://h.io/p?", "http://h.io/p"),
      ("https://h.io/p?fbclid=abc&x=1&gclid=2", "https://h.io/p?x=1"),
      // 'utm' in a VALUE is not a tracking param
      ("https://h.io/p?q=utm_test", "https://h.io/p?q=utm_test"),
      // :443 on http is NOT the default — kept
      ("http://h.io:443/p", "http://h.io:443/p"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.operators.UrlOps.canonicalizeUrl($"url")).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    val domains = Seq(
      ("sub.site.example.com", "example.com"),
      ("a.co.uk", "a.co.uk"),
      ("deep.x.y.ac.jp", "y.ac.jp"),
      ("example.org", "example.org"),
      ("localhost", "localhost"),
      // 2-letter tld with a NON-suffix second level: plain last-2
      ("www.site.de", "site.de"))
    val gd = domains.map(_._1).toDF("h")
      .select(graft.operators.UrlOps.registrableDomain($"h")).as[String].collect()
    gd.zip(domains.map(_._2)).foreach { case (g, w) => assert(g == w, s"$g != $w") }
  }

  test("Winnowing: the detection guarantee, density bound, short docs, and the df cap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val k = 5; val w = 4
    // two docs sharing a 60-char stretch at DIFFERENT offsets, otherwise
    // character-disjoint — the guarantee: a shared substring of length
    // >= w + k - 1 = 8 fingerprints identically in both
    val shared = "the quick brown fox jumps over the lazy dog once again ok"
    val a = "AAAAAAAAAAAAAAAAAAAA " + shared + " BBBBBBBBBBBB"
    val b = "cccccccc " + shared + " dddddddddddddddddddddddddd"
    val docs = Seq((1L, a), (2L, b)).toDF("id", "text")
    val fps = graft.operators.Winnowing.fingerprints(docs, "id", "text", k, w)
      .localCheckpoint(false)
    val byId = fps.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2).toSet }
    assert(byId(1L).intersect(byId(2L)).nonEmpty,
      "shared 60-char stretch produced no common fingerprint")
    // density: distinct fingerprints are a small fraction of the gram
    // stream (the ~2/(w+1) bound, with slack for distinct-collapse)
    val nGrams = a.length - k + 1
    assert(byId(1L).size <= nGrams * 2 / (w + 1) + 2,
      s"density ${byId(1L).size} of $nGrams grams exceeds the winnowing bound")
    // a doc shorter than k yields exactly its single short-gram fingerprint
    val tiny = graft.operators.Winnowing.fingerprints(
      Seq((9L, "abc")).toDF("id", "text"), "id", "text", k, w).collect()
    assert(tiny.length == 1 && tiny.head.getLong(0) == 9L)
    // df cap: a fingerprint present in MANY docs never builds pairs
    val many = (0 until 12).map(i => (100L + i, "zz " + shared + s" unique$i tail"))
      .toDF("id", "text")
    val mfps = graft.operators.Winnowing.fingerprints(many, "id", "text", k, w)
    val capped = graft.operators.Winnowing.overlapPairs(mfps, minShared = 1, maxDf = 4)
    val uncapped = graft.operators.Winnowing.overlapPairs(mfps, minShared = 1, maxDf = 1000)
    assert(capped.count() < uncapped.count(),
      "df cap did not prune hot-fingerprint pairs")
  }

  test("HtmlOps: hidden elements, block newlines, entity single-pass, title fallback") {
    import spark.implicits._
    val cases = Seq(
      // script/style/noscript content and comments are never visible;
      // block closers become line breaks; inline tags vanish silently
      ("<HTML><ScRiPt>alert('x < y')</sCrIpT><p>one <b>bold</b></p><div>two</div></HTML>",
        "one bold\ntwo"),
      // single-pass entities: &amp;lt; is the LITERAL '&lt;', not '<'
      ("<p>a &amp;lt; b &lt; c &nbsp; d &#39;e&apos;</p>", "a &lt; b < c d 'e'"),
      // <br> variants break lines; blank runs collapse; edges trim
      ("<div>  x<br>y<BR/>z  </div>\n\n", "x\ny\nz"),
      // unknown numeric refs pass through (disclosed scope)
      ("<p>deg &#176; stays</p>", "deg &#176; stays"))
    val got = cases.map(_._1).toDF("h")
      .select(graft.operators.HtmlOps.visibleText($"h")).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, w) => assert(g == w, s"[$g] != [$w]") }
    val titles = Seq(
      ("<head><title>  A &amp; B  </title></head>", "A & B"),
      ("<head><TITLE lang=\"en\">x</TITLE></head>", "x"),
      ("<head>no title here</head>", ""))
    val gt = titles.map(_._1).toDF("h")
      .select(graft.operators.HtmlOps.htmlTitle($"h")).as[String].collect()
    gt.zip(titles.map(_._2)).foreach { case (g, w) => assert(g == w, s"[$g] != [$w]") }
  }

  test("split family (q139/q150/q152/q154): no per-stratum row_number window over corpus rows survives in any final plan") {
    import spark.implicits._
    val dir = tmpDir("graft_splitfam")
    (0 until 200).map { i =>
      val lang = if (i % 11 == 0) "de" else "en"
      val src = if (i % 17 == 0) "pdf" else "web"
      val text = (0 to i % 9).map(j => s"tok${(i + j) % 23} w$j common the").mkString(" ")
      (i.toLong, text, lang, src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (q <- Seq("q139_stratified_split", "q150_clean_pipeline",
        "q152_split_leakage", "q154_winsorize")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("row_number"), s"$q plans a row_number window:\n$plan")
      assert(!plan.contains("windowspecdefinition"), s"$q plans a window:\n$plan")
    }
  }
}
