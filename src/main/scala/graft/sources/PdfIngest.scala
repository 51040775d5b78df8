package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** PDF acquisition sources (SURVEY.md §2.1 S1-S4) with the network/codec
  * boundaries pluggable: the HTTP head/get functions and the PDF text
  * decoder are injected so tests (and this codec-less container) run a
  * deterministic stub while a real deployment drops in an HTTP client and
  * PDFBox without touching the dataflow.
  */
object PdfIngest {

  /** Filename from URL (`pipeline1.py:383-388`): `/([^/]+\.pdf)$`, else a
    * synthesized `InputPDF_<runId>-<i>.pdf`.
    */
  val FilenameRegex = """\/([^/]+\.pdf)$"""

  def pdfFilename(link: String, runId: String, index: Int): String = {
    val m = java.util.regex.Pattern.compile(FilenameRegex).matcher(link)
    if (m.find()) m.group(1) else s"InputPDF_$runId-$index.pdf"
  }

  final case class UrlCheck(url: String, status: Int, contentType: String, ok: Boolean, issue: String)

  /** S1 pre-flight validation (`pipeline1.py:331-368`): HEAD each URL;
    * valid iff status 200 AND content-type contains "application/pdf"
    * (case-insensitive). ALL failures are collected, then the batch aborts
    * — fail-fast before any expensive work (SURVEY.md §4.1).
    */
  def validateUrls(urls: Seq[String], head: String => (Int, String)): Seq[UrlCheck] =
    urls.map { u =>
      val (status, ct) = head(u)
      val ok = status == 200 && ct.toLowerCase.contains("application/pdf")
      val issue =
        if (ok) ""
        else if (status != 200) s"status $status"
        else s"content-type '$ct' is not application/pdf"
      UrlCheck(u, status, ct, ok, issue)
    }

  def requireValid(checks: Seq[UrlCheck]): Unit = {
    val bad = checks.filterNot(_.ok)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        "PDF link validation failed: " + bad.map(c => s"${c.url} (${c.issue})").mkString("; "))
  }

  final case class FetchedPdf(url: String, filename: String, content: Array[Byte])

  /** S2 distributed fetch: GET inside mapPartitions (one HTTP client per
    * partition at scale), same 200+content-type gate as the reference's
    * download loop (`pipeline1.py:371-449`).
    */
  def fetchPdfs(
      spark: SparkSession,
      urls: Seq[String],
      runId: String,
      get: String => (Int, String, Array[Byte])): Dataset[FetchedPdf] = {
    import spark.implicits._
    val indexed = urls.zipWithIndex
    spark.createDataset(indexed).repartition(math.min(urls.size, 32).max(1))
      .mapPartitions { it =>
        it.flatMap { case (link, i) =>
          val (status, ct, bytes) = get(link)
          if (status == 200 && ct.toLowerCase.contains("application/pdf"))
            Some(FetchedPdf(link, pdfFilename(link, runId, i), bytes))
          else None
        }
      }
  }

  /** S3: binary-file corpus + pluggable page-text decoder. The default
    * decoder is [[defaultPdfToText]]: real PDF bytes through the pure-JVM
    * [[PdfTextExtractor]], everything else through the UTF-8 passthrough
    * stub. A deployment wanting the exotic-encoding tail drops in PDFBox
    * here without touching the dataflow.
    */
  def readBinaryDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content"),
        element_at(split(col("path"), "/"), -1).as("filename"))

  val stubPdfToText: Array[Byte] => String = bytes =>
    try new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    catch { case _: Throwable => "" }

  /** Default decoder: real `%PDF-` bytes go through the pure-JVM
    * [[PdfTextExtractor]] (xref-less stream walk, FlateDecode via
    * `java.util.zip.Inflater`, BT/ET + Tj/TJ text operators, and — since
    * round 12 — Identity-H CID fonts through their /ToUnicode CMaps: the
    * common subset of what the reference gets from PyPDF,
    * `pipeline1.py:605-612`); anything else falls back to the UTF-8
    * passthrough stub, which remains the documented fallback for the
    * residual tail (CID fonts WITHOUT a ToUnicode CMap, predefined
    * non-Identity CMaps, encryption) that needs a real font subsystem.
    */
  val defaultPdfToText: Array[Byte] => String = bytes =>
    if (PdfTextExtractor.isPdf(bytes)) PdfTextExtractor.extract(bytes)
    else stubPdfToText(bytes)

  def extractText(binaries: DataFrame, pdfToText: Array[Byte] => String = defaultPdfToText): DataFrame = {
    val spark = binaries.sparkSession
    import spark.implicits._
    binaries.select(col("filename"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (name, bytes) =>
        val form = name.replaceAll("\\.(pdf|mmd)$", "")
        (form, pdfToText(bytes))
      }
      .toDF("formName", "text")
  }

  /** S4 nougat response handling (`pipeline1.py:513-533`): status matrix
    * mapped to actionable errors; 200 body is stripped of its JSON quotes
    * and unescaped in the reference's exact order: `\n\n` → newline pair,
    * `\n` → newline, `\\` → `\`.
    */
  def nougatUnescape(rawBody: String): String = {
    val inner = if (rawBody.length >= 2) rawBody.substring(1, rawBody.length - 1) else rawBody
    inner
      .replace("\\n\\n", "\n\n")
      .replace("\\n", "\n")
      .replace("\\\\", "\\")
  }

  def nougatStatusError(status: Int): Option[String] = status match {
    case 200 => None
    case 404 => Some("Check if Nougat API server is accessible via the Nougat API URL")
    case 422 => Some("Please provide a PDF to Nougat API server")
    case 502 => Some("Check if Nougat API server is running")
    case other => Some(s"Unexpected Nougat API status $other")
  }

  // ---- Identity-H round-trip fixtures (q268) ------------------------------

  /** Attach a `pdf` binary column: each row's `textCol` embedded in a REAL
    * FlateDecode Identity-H PDF ([[PdfTextExtractor.synthIdentityHPdf]]),
    * sentinel-wrapped in `X…X` so the extractor's outer trim can never
    * touch the payload (documents may begin/end with whitespace). Bytes
    * are built in the scan task — the q253/q260 fixture contract.
    */
  def synthCidPdfCorpus(df: DataFrame, textCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = org.apache.spark.sql.types.StructType(inSchema.fields :+
      org.apache.spark.sql.types.StructField("pdf",
        org.apache.spark.sql.types.BinaryType, nullable = false))
    val txtIdx = inSchema.fieldIndex(textCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+
            PdfTextExtractor.synthIdentityHPdf("X" + row.getString(txtIdx) + "X"))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** As [[synthCidPdfCorpus]], cycling the CID→text mapping carrier by
    * `idCol % 4` — the round-15 FontFile2/ObjStm wing: 0 = `/ToUnicode`
    * CMap (the §9.10.2 primary route), 1 = NO ToUnicode,
    * embedded-TrueType format-12 cmap with `/CIDToGIDMap /Identity`,
    * 2 = NO ToUnicode, format-4 cmap (format 12 when the text carries
    * astral code points) composed through a `/CIDToGIDMap` STREAM with
    * shifted glyph ids ([[PdfTextExtractor.synthCidFontPdf]]), 3 =
    * ToUnicode route but with the page/font/descendant DICTIONARIES
    * packed inside a `/Type /ObjStm` object stream
    * ([[PdfTextExtractor.synthObjStmPdf]] — the PDF 1.5+ layout). One
    * corpus exercises every supported mapping source and object
    * packaging against the same text-identity oracle.
    */
  def synthCidPdfCorpus(df: DataFrame, idCol: String, textCol: String,
      batchSize: Int): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = org.apache.spark.sql.types.StructType(inSchema.fields :+
      org.apache.spark.sql.types.StructField("pdf",
        org.apache.spark.sql.types.BinaryType, nullable = false))
    val idIdx = inSchema.fieldIndex(idCol)
    val txtIdx = inSchema.fieldIndex(textCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val wrapped = "X" + row.getString(txtIdx) + "X"
          // floorMod: matches Spark's pmod and the oracle's
          // ((doc_id%4)+4)%4, so all three agree on negative ids too
          val pdf = java.lang.Math.floorMod(row.getLong(idIdx), 4L).toInt match {
            case 0 => PdfTextExtractor.synthIdentityHPdf(wrapped)
            case 1 => PdfTextExtractor.synthCidFontPdf(wrapped, useStreamMap = false)
            case 2 => PdfTextExtractor.synthCidFontPdf(wrapped, useStreamMap = true)
            case _ => PdfTextExtractor.synthObjStmPdf(wrapped)
          }
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ pdf)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** As [[synthCidPdfCorpus]], additionally ENCRYPTING each PDF under the
    * standard security handler with an empty user password — cipher
    * generation cycles by `idCol % 4` (RC4-40 V1/R2, RC4-128 V2/R3,
    * AES-128 V4/R4, AES-256 V5/R6) so one query exercises all four
    * supported handler generations against [[PdfCrypt]]'s
    * verify-then-decrypt path.
    */
  def synthEncryptedPdfCorpus(df: DataFrame, idCol: String, textCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = org.apache.spark.sql.types.StructType(inSchema.fields :+
      org.apache.spark.sql.types.StructField("pdf",
        org.apache.spark.sql.types.BinaryType, nullable = false))
    val idIdx = inSchema.fieldIndex(idCol)
    val txtIdx = inSchema.fieldIndex(textCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val mode = java.lang.Math.floorMod(row.getLong(idIdx), 4L).toInt
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+
            PdfTextExtractor.synthIdentityHPdf(
              "X" + row.getString(txtIdx) + "X", mode))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Extract each `binCol` PDF through the REAL CID path and audit the
    * round-trip: `is_pdf` = the sentinels survived (so the middle is the
    * exact payload), `rt_n_chars` = codepoint count, `rt_md5` = md5 of the
    * recovered text — one corrupted byte anywhere in build→store→extract
    * flips the hash (the q260 contract for the CID slice).
    */
  def cidPdfAudit(df: DataFrame, binCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = org.apache.spark.sql.types.StructType(inSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("is_pdf",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("rt_n_chars",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rt_md5",
        org.apache.spark.sql.types.StringType, nullable = false)))
    val binIdx = inSchema.fieldIndex(binCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val got = PdfTextExtractor.extract(row.getAs[Array[Byte]](binIdx))
          if (got.length >= 2 && got.head == 'X' && got.last == 'X') {
            val rt = got.substring(1, got.length - 1)
            org.apache.spark.sql.Row.fromSeq(row.toSeq ++ Seq[Any](1,
              rt.codePointCount(0, rt.length).toLong, md5Hex(rt)))
          } else org.apache.spark.sql.Row.fromSeq(row.toSeq ++ Seq[Any](0, 0L, ""))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
}
