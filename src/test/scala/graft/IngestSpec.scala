package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.sources.{PdfIngest, Sinks}

/** S1-S8/S11 source-and-sink specs with stubbed network/codec boundaries. */
class IngestSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("S1 url validation: 200+pdf passes, wrong type/status collected then abort") {
    val head: String => (Int, String) = {
      case u if u.contains("good") => (200, "application/pdf; charset=binary")
      case u if u.contains("html") => (200, "text/html")
      case _ => (404, "")
    }
    val checks = PdfIngest.validateUrls(
      Seq("http://x/good.pdf", "http://x/html.pdf", "http://x/missing.pdf"), head)
    assert(checks.map(_.ok) == Seq(true, false, false))
    val ex = intercept[IllegalArgumentException](PdfIngest.requireValid(checks))
    assert(ex.getMessage.contains("html.pdf") && ex.getMessage.contains("missing.pdf"))
    PdfIngest.requireValid(checks.take(1)) // no throw
  }

  test("S2 filename regex + synthesized fallback id") {
    assert(PdfIngest.pdfFilename("https://sec.gov/forms/form-10k.pdf", "run1", 0) == "form-10k.pdf")
    assert(PdfIngest.pdfFilename("https://sec.gov/forms/download?id=7", "run1", 3) == "InputPDF_run1-3.pdf")
  }

  test("S2 distributed fetch keeps only valid pdf responses") {
    val get: String => (Int, String, Array[Byte]) = {
      case u if u.endsWith("a.pdf") => (200, "application/pdf", "AAA".getBytes)
      case _ => (200, "text/html", "nope".getBytes)
    }
    val fetched = PdfIngest.fetchPdfs(spark, Seq("http://x/a.pdf", "http://x/b"), "run1", get).collect()
    assert(fetched.map(_.filename).toSeq == Seq("a.pdf"))
    assert(new String(fetched.head.content) == "AAA")
  }

  test("S3 binaryFile source -> stub text extraction -> formName") {
    val dir = tempDirectory("graft_bin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "formX.pdf"), "line one\nline two".getBytes)
    val texts = PdfIngest.extractText(PdfIngest.readBinaryDir(spark, dir)).collect()
    assert(texts.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("formX", "line one\nline two")))
  }

  /** Minimal single-page PDF around `content`, optionally FlateDecode'd —
    * the golden fixture is BUILT by the test, so the extractor is checked
    * against known text, not a checked-in binary.
    */
  private def buildPdf(content: Array[Byte], flate: Boolean): Array[Byte] = {
    val payload =
      if (flate) {
        val d = new java.util.zip.Deflater()
        d.setInput(content); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        out.toByteArray
      } else content
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n")
    w(s"4 0 obj\n<< /Length ${payload.length}" +
      (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
    out.write(payload)
    w("\nendstream\nendobj\n")
    w("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  test("S3 golden: pure-JVM extractor reads Tj text from an uncompressed PDF") {
    val pdf = buildPdf("BT /F1 12 Tf 72 720 Td (Hello, Spark!) Tj ET".getBytes("ISO-8859-1"),
      flate = false)
    assert(graft.sources.PdfTextExtractor.isPdf(pdf))
    assert(graft.sources.PdfTextExtractor.extract(pdf) == "Hello, Spark!")
    // non-PDF bytes stay with the stub: extract refuses, default falls back
    assert(!graft.sources.PdfTextExtractor.isPdf("plain text".getBytes))
    assert(PdfIngest.defaultPdfToText("plain text".getBytes) == "plain text")
  }

  test("S3 golden: FlateDecode stream with TJ kerning, escapes, hex and T*") {
    val content =
      "BT\n72 720 Td\n[(Deep) -250 (kern)] TJ\nT*\n(esc \\(ok\\) \\101) Tj\n<4869> Tj\nET"
    val pdf = buildPdf(content.getBytes("ISO-8859-1"), flate = true)
    // −250/1000 em kern renders as a word gap; \101 is octal 'A'; <4869>
    // is hex "Hi"; T* breaks the line
    assert(graft.sources.PdfTextExtractor.extract(pdf) == "Deep kern\nesc (ok) AHi")
  }

  test("S3 e2e: binaryFile dir with a real PDF and a text file through the default decoder") {
    val dir = tempDirectory("graft_pdfmix").toString
    val pdf = buildPdf("BT (From a real pdf) Tj ET".getBytes("ISO-8859-1"), flate = true)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "form10k.pdf"), pdf)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "notes.pdf"), "plain notes".getBytes)
    val texts = PdfIngest.extractText(PdfIngest.readBinaryDir(spark, dir)).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(texts == Map("form10k" -> "From a real pdf", "notes" -> "plain notes"))
  }

  test("S4 nougat unescape order and status matrix") {
    // raw body arrives JSON-quoted; \n\n before \n before backslash-unescape
    val raw = "\"para one\\n\\npara two\\nline\\\\alpha\""
    assert(PdfIngest.nougatUnescape(raw) == "para one\n\npara two\nline\\alpha")
    assert(PdfIngest.nougatStatusError(200).isEmpty)
    assert(PdfIngest.nougatStatusError(404).get.contains("accessible"))
    assert(PdfIngest.nougatStatusError(422).get.contains("provide a PDF"))
    assert(PdfIngest.nougatStatusError(502).get.contains("running"))
  }

  test("S6/S7 chunk CSV roundtrip with serialized embeddings") {
    import spark.implicits._
    val dir = tempDirectory("graft_csv").toString
    val chunks = Seq(("hello world", 2, "formA", "formA_0", Seq(0.5f, -0.25f)))
      .toDF("Content", "TokenCount", "FormName", "ChunkId", "Embeddings")
    Sinks.writeChunkCsv(chunks, s"$dir/chunks")
    val back = Tables.readChunkCsv(spark, s"$dir/chunks").collect().head
    assert(back.getString(0) == "hello world")
    assert(back.getAs[scala.collection.Seq[Float]]("Embeddings").toSeq == Seq(0.5f, -0.25f))
  }

  test("ORC sink/source round-trips schema (incl. nested arrays) and values; filters push to the scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDirectory("graft_orc").toString
    val df = Seq(
      (1L, "en", Seq(0.5f, -0.25f), 10L),
      (2L, "de", Seq(1.0f, 2.0f), 20L),
      (3L, "en", Seq(-1.0f, 0.0f), 30L))
      .toDF("id", "lang", "vec", "n")
    Sinks.writeOrc(df, s"$dir/t")
    val back = Sinks.readOrc(spark, s"$dir/t")
    // names + types round-trip; nullability widens on read (ORC files do
    // not carry Spark's non-null flags), same as parquet
    assert(back.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq)
    assert(back.orderBy($"id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(back.filter($"id" === 2L).head().getAs[scala.collection.Seq[Float]]("vec").toSeq
      == Seq(1.0f, 2.0f))
    // the pushdown contract holds for ORC exactly as for parquet
    val plan = back.filter($"n" > 15L).select($"id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n), GreaterThan(n,15)]"), plan)
  }

  test("JSONL quarantine source: clean rows parse, malformed lines keep their raw text, nothing is silently nulled") {
    val dir = tempDirectory("graft_jsonl").toString
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      """{"doc_id": 2, "text": "beta"}""",
      """{"doc_id": 3 "text": "missing comma"}""", // malformed
      """not json at all""",
      """{"doc_id": 4, "text": null}""") // legitimately-null field, NOT corrupt
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val (clean, quarantine) = Sinks.readJsonlQuarantine(spark, dir, schema)
    val got = clean.collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("alpha"), 2L -> Some("beta"), 4L -> None))
    val bad = quarantine.collect().map(_.getString(0)).toSet
    assert(bad == Set(lines(2), lines(3)))
  }

  test("S11 batched sink: fixed-size groups per partition") {
    import spark.implicits._
    val df = (1 to 1000).toDF("n").repartition(2)
    val sizes = Sinks.batchSizes(df, 300)
    assert(sizes.sum == 1000)
    assert(sizes.forall(_ <= 300))
  }

  test("P7 validation predicates incl. lookahead-free password rewrite") {
    assert(TextFunctions.emailValid("a@b.com"))
    assert(!TextFunctions.emailValid("a@b.org"))
    assert(!TextFunctions.emailValid("nope"))
    assert(TextFunctions.passwordValid("abc!2x"))
    assert(!TextFunctions.passwordValid("abcdef"))   // no special
    assert(!TextFunctions.passwordValid("a! x"))     // space
    assert(!TextFunctions.passwordValid("a!x"))      // too short
  }

  test("misc scalars: random alnum shape") {
    val s = TextFunctions.randomAlnum(6)
    assert(s.length == 6 && s.forall(_.isLetterOrDigit))
  }

  test("S3 golden: PNG-predictor Flate stream (Sub/Up/Paeth/None/Average rows) unfilters to the exact text") {
    // forward-filter the content with cycling PNG row filters, deflate,
    // declare /Predictor 15 /Columns in DecodeParms — the extractor must
    // undo both layers and recover the text
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val rowBytes = 16
    val raw0 = "BT\n72 720 Td\n(Predicted row text survives) Tj\nT*\n(second line) Tj\nET"
      .getBytes("ISO-8859-1")
    val pad = (rowBytes - raw0.length % rowBytes) % rowBytes
    val raw = raw0 ++ Array.fill(pad)(' '.toByte) // trailing spaces are inert
    val types = Array(1, 2, 4, 0, 3)
    val filtered = new java.io.ByteArrayOutputStream()
    for (r <- 0 until raw.length / rowBytes) {
      val ft = types(r % types.length)
      filtered.write(ft)
      for (i <- 0 until rowBytes) {
        val x = raw(r * rowBytes + i) & 0xff
        val a = if (i >= 1) raw(r * rowBytes + i - 1) & 0xff else 0
        val b = if (r > 0) raw((r - 1) * rowBytes + i) & 0xff else 0
        val c = if (r > 0 && i >= 1) raw((r - 1) * rowBytes + i - 1) & 0xff else 0
        val f = ft match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case 4 => x - paeth(a, b, c)
        }
        filtered.write(f & 0xff)
      }
    }
    val d = new java.util.zip.Deflater()
    d.setInput(filtered.toByteArray); d.finish()
    val defl = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) defl.write(buf, 0, d.deflate(buf))
    d.end()
    val payload = defl.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n")
    w(s"4 0 obj\n<< /Length ${payload.length} /Filter /FlateDecode" +
      s" /DecodeParms << /Predictor 15 /Columns $rowBytes >> >>\nstream\n")
    out.write(payload)
    w("\nendstream\nendobj\n")
    w("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    val pdf = out.toByteArray
    assert(graft.sources.PdfTextExtractor.extract(pdf)
      == "Predicted row text survives\nsecond line")
    // identity predictor and malformed row layouts pass through unchanged
    assert(graft.sources.PdfTextExtractor.applyPredictor(
      "<< /Predictor 1 >>", raw).sameElements(raw))
    assert(graft.sources.PdfTextExtractor.applyPredictor(
      s"<< /Predictor 15 /Columns ${rowBytes + 1} >>", filtered.toByteArray)
      .sameElements(filtered.toByteArray))
  }

  test("S3 golden: ASCIIHex / ASCII85 / RunLength filters and chained [A85 Fl]") {
    import graft.sources.PdfTextExtractor._
    def pdfWith(filter: String, payload: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
      w("%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n")
      w(s"4 0 obj\n<< /Length ${payload.length} /Filter $filter >>\nstream\n")
      out.write(payload)
      w("\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n")
      out.toByteArray
    }
    val content = "BT (Filtered text) Tj ET".getBytes("ISO-8859-1")
    // unit round-trips against independently-computed encodings
    val hex = (content.map(b => f"${b & 0xff}%02X").mkString + ">").getBytes("ISO-8859-1")
    assert(asciiHexDecode(hex).sameElements(content))
    assert(asciiHexDecode("48 6\n9>".getBytes).sameElements("Hi".getBytes)) // ws + odd pad: 69
    // ASCII85 encode (groups of 4 → 5 chars; partial n bytes → n+1 chars)
    def a85(data: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder
      var i = 0
      while (i < data.length) {
        val n = math.min(4, data.length - i)
        var v = 0L
        for (j <- 0 until 4) v = (v << 8) | (if (j < n) data(i + j) & 0xff else 0)
        if (n == 4 && v == 0) sb.append('z')
        else {
          val cs = new Array[Char](5)
          var t = v
          for (j <- 4 to 0 by -1) { cs(j) = ('!' + (t % 85)).toChar; t /= 85 }
          sb.appendAll(cs, 0, n + 1)
        }
        i += n
      }
      sb.append("~>").result().getBytes("ISO-8859-1")
    }
    assert(ascii85Decode(a85(content)).sameElements(content))
    assert(ascii85Decode("z~>".getBytes).sameElements(Array[Byte](0, 0, 0, 0)))
    // RunLength encode: all-literal runs (≤128 each) plus one repeat run
    val rle = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(content.length - 1); out.write(content, 0, content.length)
      out.write(253); out.write('!') // 257-253 = 4 repeats
      out.write(128)
      out.toByteArray
    }
    assert(runLengthDecode(rle).sameElements(content ++ "!!!!".getBytes))
    // e2e through extract for each declared filter
    assert(extract(pdfWith("/ASCIIHexDecode", hex)) == "Filtered text")
    assert(extract(pdfWith("/ASCII85Decode", a85(content))) == "Filtered text")
    val rleJust = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(content.length - 1); out.write(content, 0, content.length); out.write(128)
      out.toByteArray
    }
    assert(extract(pdfWith("/RunLengthDecode", rleJust)) == "Filtered text")
    // chained: deflate then A85-wrap; dict declares [ASCII85 Flate]
    val d = new java.util.zip.Deflater()
    d.setInput(content); d.finish()
    val defl = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) defl.write(buf, 0, d.deflate(buf))
    d.end()
    assert(extract(pdfWith("[ /ASCII85Decode /FlateDecode ]", a85(defl.toByteArray)))
      == "Filtered text")
    assert(filterChain("<< /Filter [ /ASCII85Decode /FlateDecode ] >>")
      == Seq("ASCII85Decode", "FlateDecode"))
    // unsupported filter in the chain → no text, never garbage
    assert(extract(pdfWith("/DCTDecode", content)) == "")
    assert(extract(pdfWith("[ /FlateDecode /DCTDecode ]", defl.toByteArray)) == "")
  }

  test("S3 golden: LZWDecode — spec example, KwKwK, width growth, TIFF predictor 2") {
    import graft.sources.PdfTextExtractor._
    // MSB-first bit packer at explicit widths
    def pack(codes: Seq[(Int, Int)]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var buf = 0L
      var cnt = 0
      for ((code, w) <- codes) {
        buf = (buf << w) | code; cnt += w
        while (cnt >= 8) { out.write(((buf >> (cnt - 8)) & 0xff).toInt); cnt -= 8 }
      }
      if (cnt > 0) out.write(((buf << (8 - cnt)) & 0xff).toInt) // zero-pad tail
      out.toByteArray
    }
    // ISO 32000-1 §7.4.4.2 worked example: codes 256 45 258 258 65 259 66 257
    // decode to bytes 45×5, 65, 45×3, 66
    val specExample = pack(Seq(256, 45, 258, 258, 65, 259, 66, 257).map((_, 9)))
    assert(lzwDecode(specExample, 1).sameElements(
      Array[Byte](45, 45, 45, 45, 45, 65, 45, 45, 45, 66)))
    // KwKwK: reading code 258 while nextCode == 258 (AAAAA)
    val kwk = pack(Seq(256, 65, 258, 258, 257).map((_, 9)))
    assert(new String(lzwDecode(kwk, 1), "ISO-8859-1") == "AAAAA")
    // width-growth round-trip: a mirroring encoder (earlyChange = 1) over
    // pseudo-random bytes pushes the table past 511 and 1023 entries
    def lzwEncode(data: Array[Byte]): Array[Byte] = {
      val table = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
      var nextCode = 258
      var width = 9
      val codes = Seq.newBuilder[(Int, Int)]
      codes += ((256, width))
      var w = Vector.empty[Byte]
      def codeOf(s: Seq[Byte]): Int = if (s.length == 1) s.head & 0xff else table(s)
      for (c <- data) {
        val wc = w :+ c
        if (wc.length == 1 || table.contains(wc)) w = wc
        else {
          codes += ((codeOf(w), width))
          if (nextCode < 4096) {
            table(wc) = nextCode; nextCode += 1
            if (nextCode >= (1 << width) && width < 12) width += 1
          }
          w = Vector(c)
        }
      }
      if (w.nonEmpty) codes += ((codeOf(w), width))
      codes += ((257, width))
      pack(codes.result())
    }
    val rnd = new scala.util.Random(42)
    val big = Array.fill[Byte](2000)((rnd.nextInt(8) + 'a').toByte)
    assert(lzwDecode(lzwEncode(big), 1).sameElements(big))
    // TIFF predictor 2: delta-encoded row sums back to the original
    val dict2 = "<< /Predictor 2 /Columns 4 >>"
    assert(applyTiffPredictor(dict2, Array[Byte](10, 5, -3, 2, 1, 1, 1, 1))
      .sameElements(Array[Byte](10, 15, 12, 14, 1, 2, 3, 4)))
    // e2e: LZW + TIFF-2 content stream through extract
    val text = "BT (Lzw predicted text) Tj ET".getBytes("ISO-8859-1")
    val delta = text.zipWithIndex.map { case (b, i) =>
      if (i == 0) b else ((b - text(i - 1)) & 0xff).toByte
    }
    val pdf = {
      val out = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
      val payload = lzwEncode(delta)
      w("%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n")
      w(s"4 0 obj\n<< /Length ${payload.length} /Filter /LZWDecode " +
        s"/DecodeParms << /Predictor 2 /Columns ${text.length} >> >>\nstream\n")
      out.write(payload)
      w("\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n")
      out.toByteArray
    }
    assert(extract(pdf) == "Lzw predicted text")
  }

  test("S3 golden: Identity-H synth fixture round-trips exactly — flate chain, font resolution, CMap parse, CID decode") {
    import graft.sources.PdfTextExtractor._
    // >100 distinct units forces multiple beginbfchar groups; unicode +
    // a surrogate pair (🚀) + newlines ride the CID path
    val text = ("Identity-H naïve Grüße — 数据 🚀\n" +
      (0 until 120).map(i => ('!' + i % 90).toChar).mkString) * 2
    val pdf = synthIdentityHPdf(text)
    assert(isPdf(pdf))
    assert(extract(pdf) == text.trim)
    // the default decoder takes the real-extractor branch for it
    assert(PdfIngest.defaultPdfToText(pdf) == text.trim)
  }

  test("S3 golden: hand-built CMap forms — bfrange increment, bfrange array, multi-unit targets, unmapped CIDs") {
    import graft.sources.PdfTextExtractor._
    val cmap =
      """begincmap
2 beginbfchar
<0001> <0041>
<0002> <00E9>
endbfchar
2 beginbfrange
<0010> <0013> <0061>
<0020> <0021> [<0058> <00660066>]
endbfrange
endcmap""".getBytes("ISO-8859-1")
    val m = parseCMap(cmap)
    assert(m(1) == "A" && m(2) == "é")
    // range form: last unit increments
    assert(m(0x10) == "a" && m(0x11) == "b" && m(0x12) == "c" && m(0x13) == "d")
    // array form incl. a two-unit (ligature-style) target
    assert(m(0x20) == "X" && m(0x21) == "ff")
    assert(!m.contains(0x14) && !m.contains(0x22))
    // mixed simple/CID page: Tf switches decoding per show operand. The
    // CID font decodes <00010002> as "Aé"; switching back to a simple
    // font returns to byte semantics; unmapped <0099> contributes nothing
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes("ISO-8859-1")); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val content = "BT /F1 12 Tf <000100020099> Tj /F2 12 Tf (plain) Tj ET"
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("3 0 obj << /Type /Page /Resources << /Font << /F1 4 0 R /F2 8 0 R >> >> /Contents 5 0 R >> endobj\n")
    w("4 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H /ToUnicode 7 0 R >> endobj\n")
    w("8 0 obj << /Type /Font /Subtype /TrueType >> endobj\n")
    val cz = deflate(content)
    w(s"5 0 obj << /Length ${cz.length} /Filter /FlateDecode >>\nstream\n")
    out.write(cz)
    w("\nendstream\nendobj\n")
    w(s"7 0 obj << /Length ${cmap.length} >>\nstream\n")
    out.write(cmap)
    w("\nendstream\nendobj\n%%EOF\n")
    assert(extract(out.toByteArray) == "Aéplain")
  }
}
