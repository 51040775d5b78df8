package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed batch-wise in partitions (the Scala analog
  * of `mapInPandas` batches).
  *
  * IMAGE decode is REAL: [[ImageIoDecoder]] goes through `javax.imageio`
  * (PNG/JPEG/BMP/GIF via the JDK's `java.desktop` module — no external
  * jars), falling back to the deterministic md5 [[StubDecoder]] only for
  * bytes no installed reader accepts (the `defaultPdfToText` pattern: real
  * codec first, documented stub as the fallback). AUDIO decode is REAL for
  * the JDK's container readers ([[decodeWav]]: WAV/AIFF/AU PCM through
  * `javax.sound.sampled`). For COMPRESSED audio, mp3 METADATA is real —
  * [[MpegFrameParser]] walks MPEG frame headers (pure JVM, no codec) for
  * duration/bitrate/samplerate/channels — while full mp3/aac decode and
  * video remain stubbed behind the same injection seam: the JDK
  * genuinely ships no codecs for those.
  */
object Multimodal {

  // width/height are REAL raster dimensions when the bytes decode as an
  // image, md5-derived pseudo-dimensions under the stub fallback
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("byte_length", LongType, nullable = false),
    StructField("content_md5", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** STUB decode: deterministic pseudo-metadata from the bytes themselves
    * (md5-derived), standing in for real width/height/duration extraction.
    */
  object StubDecoder extends Serializable {
    def decode(bytes: Array[Byte]): (Long, String, Int, Int) = {
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      val hex = md5.map(b => f"$b%02x").mkString
      val h = java.lang.Long.parseLong(hex.take(15), 16)
      (bytes.length.toLong, hex, (h % 1920L).toInt, (h % 1080L).toInt)
    }
  }

  /** Real image decode through `javax.imageio` (present in this JDK's
    * `java.desktop`): width/height come from the actual decoded raster for
    * any format an installed reader accepts; undecodable bytes fall back to
    * [[StubDecoder]]'s md5-derived pseudo-metadata, so text-bytes fixtures
    * (q36/q54) keep their oracle-reproducible values.
    */
  object ImageIoDecoder extends Serializable {
    def decode(bytes: Array[Byte]): (Long, String, Int, Int) =
      decodeImage(bytes) match {
        case Some(img) =>
          (bytes.length.toLong, md5Hex(bytes), img.getWidth, img.getHeight)
        case None => StubDecoder.decode(bytes)
      }
  }

  // memory-backed reader — ImageIO.read(InputStream) defaults to a
  // disk-cached ImageInputStream (a tmp file per image; dominates
  // parallel decode walks). The inputs here are small byte arrays.
  private def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))))
    catch { case _: Throwable => None }

  /** Attach a `media_meta` struct by decoding `binaryCol` partition-batch-
    * wise — ImageIO-first via [[ImageIoDecoder]], md5 stub as the fallback.
    * Mirrors the Pandas-UDF batch shape: the decoder sees a batch of
    * byte arrays, never row-at-a-time driver calls.
    */
  def extractMeta(df: DataFrame, binaryCol: String, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField("media_meta", mediaMetaSchema, nullable = false))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val (len, hex, w, h) = ImageIoDecoder.decode(row.getAs[Array[Byte]](binIdx))
          Row.fromSeq(row.toSeq :+ Row(len, hex, w, h))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  /** STUB resize: a real implementation decodes, scales, re-encodes; the
    * stub emits deterministic md5-derived bytes tagged with the target
    * dimensions so the pipeline shape (binary in → binary out, batch-wise,
    * schema preserved plus `resized`) is fully exercised and testable.
    */
  def resize(df: DataFrame, binaryCol: String, width: Int, height: Int,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField("resized", BinaryType, nullable = false))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val fake = md5Hex(row.getAs[Array[Byte]](binIdx)) + s":${width}x$height"
          Row.fromSeq(row.toSeq :+ fake.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling for video-like media: each input row explodes into
    * `max(1, min(maxFrames, ceil(len / strideBytes)))` frame rows carrying
    * `(frame_idx, frame, frame_md5)`. The frame DECODE is the stub
    * (deterministic md5-derived bytes — no codec in this container), but
    * the 1→N batch-wise explode, schema, and partitioning are the real
    * plumbing a JNI/FFI frame extractor would drop into. `frame_md5` is
    * md5(content_md5 + ":" + idx) — oracle-reproducible.
    */
  def sampleFrames(df: DataFrame, binaryCol: String, strideBytes: Int,
      maxFrames: Int, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("frame_idx", LongType, nullable = false),
      StructField("frame", BinaryType, nullable = false),
      StructField("frame_md5", StringType, nullable = false)))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { row =>
          val bytes = row.getAs[Array[Byte]](binIdx)
          val contentMd5 = md5Hex(bytes)
          val n = math.max(1L, math.min(maxFrames.toLong,
            math.ceil(bytes.length.toDouble / strideBytes).toLong))
          (0L until n).map { i =>
            val fm = md5Hex(s"$contentMd5:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
            Row.fromSeq(row.toSeq ++ Seq(i, fm.getBytes(java.nio.charset.StandardCharsets.UTF_8), fm))
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Encode an n×n grayscale pixel array (row-major, values 0..255) as a
    * REAL PNG via `ImageIO.write`. PNG grayscale is lossless, so a decode
    * of these bytes recovers the exact pixels — the property that lets an
    * arithmetic oracle check the full encode→decode→hash path.
    */
  def synthGrayPng(pixels: Array[Int], n: Int): Array[Byte] = {
    require(pixels.length == n * n, s"need $n*$n pixels, got ${pixels.length}")
    val img = new java.awt.image.BufferedImage(
      n, n, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < n) {
      var x = 0
      while (x < n) { raster.setSample(x, y, 0, pixels(y * n + x)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    // memory-backed writer (the OutputStream overload spools to a tmp FILE)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    javax.imageio.ImageIO.write(img, "png", ios)
    ios.close()
    bos.toByteArray
  }

  /** REAL decode → integer luma grid: ImageIO-decode the bytes, then
    * block-average down to `grid`×`grid` with pure integer arithmetic
    * (sum div count per block; block edges at `k·dim div grid`).
    *
    * Single-band (grayscale) rasters are read as RAW SAMPLES — `getRGB`
    * would route them through a CS_GRAY→sRGB colorspace conversion whose
    * gamma curve silently remaps every value (128 → ~186), which is both
    * wrong for hashing (it is not the stored pixel) and oracle-opaque.
    * Multi-band images use integer Rec.601-style luma
    * `(77·R + 150·G + 29·B) >> 8`. None when no installed reader accepts
    * the bytes.
    */
  def decodeLumaGrid(bytes: Array[Byte], grid: Int): Option[(Int, Int, Array[Int])] =
    decodeImage(bytes).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val raster = img.getRaster
      val gray = raster.getNumBands == 1
      val out = new Array[Int](grid * grid)
      var gy = 0
      while (gy < grid) {
        val y0 = gy * h / grid
        val y1 = math.max(y0 + 1, (gy + 1) * h / grid)
        var gx = 0
        while (gx < grid) {
          val x0 = gx * w / grid
          val x1 = math.max(x0 + 1, (gx + 1) * w / grid)
          var sum = 0L
          var y = y0
          while (y < math.min(y1, h)) {
            var x = x0
            while (x < math.min(x1, w)) {
              sum += (if (gray) raster.getSample(x, y, 0) & 0xff
              else {
                val rgb = img.getRGB(x, y)
                val r = (rgb >> 16) & 0xff
                val g = (rgb >> 8) & 0xff
                val b = rgb & 0xff
                (77 * r + 150 * g + 29 * b) >> 8
              })
              x += 1
            }
            y += 1
          }
          val cnt = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0).toLong
          out(gy * grid + gx) = (sum / math.max(1L, cnt)).toInt
          gx += 1
        }
        gy += 1
      }
      (w, h, out)
    }

  /** aHash (mean-threshold) and dHash (row-adjacent gradient) bands over
    * the 8×8 decoded luma grid — banded exactly like the SimHash near-dup
    * pipeline so a band-bucket equi-join generates candidates instead of
    * an all-pairs product:
    *
    *  - aHash bit i (i = row·8+col): `px_i · 64 > Σpx` (cross-multiplied —
    *    no float mean), packed as four 16-bit bands a0..a3 (rows 2j,2j+1).
    *  - dHash bit (row, col<7): `px[row,col] > px[row,col+1]`, four 14-bit
    *    bands d0..d3 (rows 2j,2j+1).
    *
    * All bands are small non-negative BIGINTs — hamming distance is
    * `Σ bit_count(xor(band))`, codegen-friendly on any engine. Bytes that
    * do not decode get md5-derived pseudo-bands (`is_real = 0`) so the
    * operator is total; q209 runs it on real PNGs only.
    */
  def perceptualHashes(df: DataFrame, binaryCol: String, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val grid = 8
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("is_real", IntegerType, nullable = false)) ++
      (0 until 4).map(j => StructField(s"a$j", LongType, nullable = false)) ++
      (0 until 4).map(j => StructField(s"d$j", LongType, nullable = false)) :+
      StructField("pool_hash", LongType, nullable = false))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val bytes = row.getAs[Array[Byte]](binIdx)
          decodeLumaGrid(bytes, grid) match {
            case Some((w, h, px)) =>
              val total = px.map(_.toLong).sum
              val abands = new Array[Long](4)
              var i = 0
              while (i < 64) {
                if (px(i) * 64L > total) abands(i / 16) |= 1L << (i % 16)
                i += 1
              }
              val dbands = new Array[Long](4)
              var r = 0
              while (r < 8) {
                var c = 0
                while (c < 7) {
                  if (px(r * 8 + c) > px(r * 8 + c + 1))
                    dbands(r / 2) |= 1L << ((r % 2) * 7 + c)
                  c += 1
                }
                r += 1
              }
              // the 12-bit pooled dHash rides along for free — same px
              // grid, no second decode pass (q225 reads it)
              Row.fromSeq(row.toSeq ++ Seq(w, h, 1) ++ abands ++ dbands
                :+ pooledDHashOf(px))
            case None =>
              // stub fallback: md5-derived 16/14-bit pseudo-bands
              val hex = md5Hex(bytes)
              val (_, _, w, h) = StubDecoder.decode(bytes)
              val bands = (0 until 8).map { j =>
                val v = java.lang.Long.parseLong(hex.substring(j * 4, j * 4 + 4), 16)
                if (j < 4) v & 0xffffL else v & 0x3fffL
              }
              Row.fromSeq(row.toSeq ++ Seq(w, h, 0) ++ bands
                :+ java.lang.Long.parseLong(hex.substring(0, 3), 16))
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** 12-bit dHash of the 2×2-average-pooled 8×8 luma grid (each pooled
    * cell the EXACT integral mean `Σ4px div 4`) — shared by
    * [[perceptualHashes]] (rides along with the full-res bands) and
    * [[pooledDHash]] (standalone pass).
    */
  private def pooledDHashOf(px: Array[Int]): Long = {
    val pooled = Array.tabulate(16) { p =>
      val (r, c) = (p / 4, p % 4)
      (px(2 * r * 8 + 2 * c) + px(2 * r * 8 + 2 * c + 1) +
        px((2 * r + 1) * 8 + 2 * c) + px((2 * r + 1) * 8 + 2 * c + 1)) / 4
    }
    var hash = 0L
    var r = 0
    while (r < 4) {
      var c = 0
      while (c < 3) {
        if (pooled(r * 4 + c) > pooled(r * 4 + c + 1))
          hash |= 1L << (r * 3 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** 12-bit dHash of the 2×2-average-pooled luma grid (8×8 → 4×4, each
    * pooled cell the EXACT integral mean `Σ4px div 4`): the scale-robust
    * variant of [[perceptualHashes]]' full-resolution dHash — pooling
    * averages out isolated pixel perturbations, so near-duplicate images
    * that differ by a couple of pixels collapse to the SAME pooled hash
    * while full-res bits still flip. Adds (`pool_hash` long, `is_real`
    * int); undecodable bytes fall back to a md5-derived 12-bit stub.
    * Same batch shape and per-row decode cost as the full-res pass.
    */
  def pooledDHash(df: DataFrame, binaryCol: String, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("pool_hash", LongType, nullable = false),
      StructField("is_real", IntegerType, nullable = false)))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val bytes = row.getAs[Array[Byte]](binIdx)
          decodeLumaGrid(bytes, 8) match {
            case Some((_, _, px)) =>
              // Seq[Any]: a mixed Int/Long Seq harmonizes to Seq[Long] and
              // breaks the Row encoder (the spec-pinned decode gotcha)
              Row.fromSeq(row.toSeq ++ Seq[Any](pooledDHashOf(px), 1))
            case None =>
              val hex = md5Hex(bytes)
              Row.fromSeq(row.toSeq ++ Seq[Any](
                java.lang.Long.parseLong(hex.substring(0, 3), 16), 0))
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic 8×8 grayscale PNG per id — REAL `ImageIO.write` bytes
    * whose pixels are a closed-form md5 function an oracle can replay
    * without any codec:
    *
    *   base(id div groupDiv, i) = int(md5("<group>:<i>")[0:2], 16)
    *   px(id, i) = 255 − base  when int(md5("pert:<id>:<i>")[0:2], 16) ≡ 0
    *               (mod 29), else base
    *
    * Ids in the same group share base pixels and differ only where the
    * per-id perturbation fires (~64/29 ≈ 2.2 pixels) — the near-duplicate
    * structure a perceptual-hash pipeline exists to catch.
    */
  def synthImageCorpus(df: DataFrame, idCol: String, groupDiv: Long,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("img", BinaryType, nullable = false))
    val idIdx = inSchema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val id = row.getLong(idIdx)
          val g = id / groupDiv
          val px = Array.tabulate(64) { i =>
            val base = Integer.parseInt(
              md5Hex(s"$g:$i".getBytes("UTF-8")).substring(0, 2), 16)
            val pert = Integer.parseInt(
              md5Hex(s"pert:$id:$i".getBytes("UTF-8")).substring(0, 2), 16)
            if (pert % 29 == 0) 255 - base else base
          }
          Row.fromSeq(row.toSeq :+ synthGrayPng(px, 8))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Encode 16-bit signed mono PCM samples as a REAL WAV container via
    * `javax.sound.sampled.AudioSystem.write` (the JDK's `java.desktop`
    * ships the WAVE/AIFF/AU file codecs — PCM is stored verbatim, so a
    * decode recovers the exact samples, the audio analog of
    * [[synthGrayPng]]).
    */
  def synthWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode through `javax.sound.sampled`: returns (sample
    * rate, channels, 16-bit samples) for any container/encoding the JDK
    * readers accept (WAV/AIFF/AU PCM). Multi-channel audio is returned
    * interleaved as stored. None for undecodable bytes — same fallback
    * philosophy as [[decodeImage]].
    */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16) None
      else {
        val raw = in.readAllBytes()
        val n = raw.length / 2
        val out = new Array[Short](n)
        val be = fmt.isBigEndian
        var i = 0
        while (i < n) {
          val lo = raw(2 * i) & 0xff
          val hi = raw(2 * i + 1) & 0xff
          out(i) = (if (be) (lo << 8) | hi else (hi << 8) | lo).toShort
          i += 1
        }
        Some((fmt.getSampleRate.toInt, fmt.getChannels, out))
      }
    } catch { case _: Throwable => None }

  /** Windowed audio features over REAL-decoded samples — all integer
    * arithmetic so an oracle replays them from the sample closed form:
    * per `windowSize`-sample window, `energy` = Σ s² (BIGINT), `n_zc` =
    * sign changes between consecutive in-window samples (zero never
    * crosses), `peak` = max |s|. Adds (sample_rate, n_samples, win,
    * energy, n_zc, peak) rows — one per (row, window); rows whose bytes
    * do not decode emit nothing (total, not failing — the stream analog
    * of the decode fallback).
    */
  def audioFeatures(df: DataFrame, binaryCol: String, windowSize: Int,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("win", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("n_zc", LongType, nullable = false),
      StructField("peak", LongType, nullable = false)))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { row =>
          decodeWav(row.getAs[Array[Byte]](binIdx)).toSeq.flatMap {
            case (rate, _, samples) =>
              samples.grouped(windowSize).zipWithIndex.map { case (w, wi) =>
                var energy = 0L
                var zc = 0L
                var peak = 0L
                var i = 0
                while (i < w.length) {
                  val s = w(i).toLong
                  energy += s * s
                  if (i > 0 && w(i - 1).toLong * s < 0L) zc += 1
                  if (math.abs(s) > peak) peak = math.abs(s)
                  i += 1
                }
                // Seq[Any]: a mixed Int/Long Seq otherwise harmonizes to
                // Seq[Long] and the INT field rejects the widened value
                Row.fromSeq(row.toSeq ++ Seq[Any](rate, samples.length.toLong,
                  wi.toLong, energy, zc, peak))
              }
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic PCM WAV per id — REAL `AudioSystem.write` bytes whose
    * samples follow an md5 closed form (the audio twin of
    * [[synthImageCorpus]]): sample(id, i) = int(md5("au:<id>:<i>")[0:4],
    * 16) − 32768. WAV PCM is verbatim, so decode recovers these exactly.
    */
  def synthAudioCorpus(df: DataFrame, idCol: String, nSamples: Int,
      sampleRate: Int, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("wav", BinaryType, nullable = false))
    val idIdx = inSchema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val id = row.getLong(idIdx)
          val samples = Array.tabulate(nSamples) { i =>
            (Integer.parseInt(
              md5Hex(s"au:$id:$i".getBytes("UTF-8")).substring(0, 4), 16)
              - 32768).toShort
          }
          Row.fromSeq(row.toSeq :+ synthWav(samples, sampleRate))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Grouped audio corpus — the near-duplicate twin of
    * [[synthImageCorpus]] for sound: ids in the same group (id div
    * groupDiv) share base samples, and a per-id md5 draw perturbs ~1/29
    * of them via the exact involution `s ↦ −s−1` (closed on the int16
    * range: 32767 ↦ −32768). REAL WAV bytes; PCM is verbatim, so the
    * oracle replays every sample arithmetically:
    *   base(g, i) = int(md5("aug:<g>:<i>")[0:4], 16) − 32768
    *   s(id, i)   = −base − 1  when int(md5("aupert:<id>:<i>")[0:2], 16) ≡ 0 (mod 29)
    */
  def synthAudioGroups(df: DataFrame, idCol: String, groupDiv: Long,
      nSamples: Int, sampleRate: Int, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("wav", BinaryType, nullable = false))
    val idIdx = inSchema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val id = row.getLong(idIdx)
          val g = id / groupDiv
          val samples = Array.tabulate(nSamples) { i =>
            val base = (Integer.parseInt(
              md5Hex(s"aug:$g:$i".getBytes("UTF-8")).substring(0, 4), 16) - 32768)
            val pert = Integer.parseInt(
              md5Hex(s"aupert:$id:$i".getBytes("UTF-8")).substring(0, 2), 16)
            (if (pert % 29 == 0) -base - 1 else base).toShort
          }
          Row.fromSeq(row.toSeq :+ synthWav(samples, sampleRate))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL decode → per-doc sample array + four 16-bit SIGN bands (bit i
    * of band b set iff sample 16b+i ≥ 0) — the audio banding that plays
    * the role dHash bands play for images: a few perturbed samples flip
    * a few sign bits, so near-duplicate clips still agree on some band
    * and surface as bucket-join candidates. Adds (`samples` array<int>,
    * `ab0..ab3` long, `is_real` int). Only the four band longs need to
    * shuffle for candidate generation; the sample array stays behind for
    * the verify join (one shuffle per candidate side, the image-pixel
    * discipline).
    */
  def audioSignBands(df: DataFrame, binaryCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++
      Seq(StructField("samples", ArrayType(IntegerType, containsNull = false),
        nullable = false)) ++
      (0 until 4).map(b => StructField(s"ab$b", LongType, nullable = false)) :+
      StructField("is_real", IntegerType, nullable = false))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val bytes = row.getAs[Array[Byte]](binIdx)
          decodeWav(bytes) match {
            case Some((_, _, smp)) =>
              val bands = new Array[Long](4)
              var i = 0
              while (i < smp.length && i < 64) {
                if (smp(i) >= 0) bands(i / 16) |= 1L << (i % 16)
                i += 1
              }
              Row.fromSeq(row.toSeq ++ Seq[Any](smp.map(_.toInt).toSeq) ++
                bands.map(x => x: Any) ++ Seq[Any](1))
            case None =>
              val hex = md5Hex(bytes)
              val bands = (0 until 4).map(b =>
                java.lang.Long.parseLong(hex.substring(b * 4, b * 4 + 4), 16))
              Row.fromSeq(row.toSeq ++ Seq[Any](Seq.empty[Int]) ++
                bands.map(x => x: Any) ++ Seq[Any](0))
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Feature extraction: media bytes → embedding vector through the
    * pluggable [[graft.embed.Embedder]] (stub embeds the content md5; a
    * real deployment swaps in a vision/audio encoder behind the same
    * trait), wiring multimodal columns into the engine's ANN/dedup
    * operators. Batch-wise like every media step.
    */
  def embedBinary(df: DataFrame, binaryCol: String,
      embedder: graft.embed.Embedder, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("media_embedding", ArrayType(FloatType, containsNull = false), nullable = false))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val keys = batch.map(row => md5Hex(row.getAs[Array[Byte]](binIdx)))
        val vecs = embedder.embed(keys)
        batch.iterator.zip(vecs.iterator).map { case (row, v) =>
          Row.fromSeq(row.toSeq :+ v.toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // ---------------------------------------------------------------- mpeg

  /** Parsed MPEG-audio (mp3) stream metadata — headers only, no codec.
    * `isMpeg = false` means no valid Layer III frame was found and every
    * numeric field is 0 (the honest non-MPEG fallback the decode stub
    * used to cover). `nJunkBytes` counts bytes skipped while resyncing
    * (leading tags, truncated tails, corruption).
    */
  final case class MpegMeta(isMpeg: Boolean, nFrames: Int, sampleRate: Int,
    channels: Int, avgBitrateKbps: Int, durationUs: Long, nJunkBytes: Int)

  /** Pure-JVM MPEG audio FRAME-HEADER walker (ISO/IEC 11172-3 §2.4.1.3 /
    * 13818-3): sync on the 11-bit 0xFFE marker, decode version / layer /
    * bitrate-index / samplerate-index / padding / channel-mode from the
    * 4-byte header, advance by the computed frame length, resync through
    * junk byte-by-byte. Layer III only (the "mp3" case); the PAYLOAD is
    * never decoded — full audio decode stays honestly stubbed (the JDK
    * ships no mp3 codec), but duration / bitrate / samplerate / channel
    * metadata need only the public header tables below. Duration
    * accumulates exact sample counts (1152 samples per MPEG-1 frame, 576
    * for MPEG-2/2.5) and divides by the stream sample rate once, in
    * integer µs.
    */
  object MpegFrameParser extends Serializable {
    // bitrate tables (kbps), index 0 = free / 15 = bad → rejected
    private val V1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
    private val V2L3 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
    private val RateV1 = Array(44100, 48000, 32000, 0)
    private val RateV2 = Array(22050, 24000, 16000, 0)
    private val RateV25 = Array(11025, 12000, 8000, 0)

    def parse(bytes: Array[Byte]): MpegMeta = {
      var i = 0
      var junk = 0
      var nFrames = 0
      var rate = 0
      var channels = 0
      var kbpsSum = 0L
      var samples = 0L
      while (i + 4 <= bytes.length) {
        val b1 = bytes(i) & 0xFF
        val b2 = bytes(i + 1) & 0xFF
        val b3 = bytes(i + 2) & 0xFF
        val b4 = bytes(i + 3) & 0xFF
        val version = (b2 >> 3) & 3   // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
        val layer = (b2 >> 1) & 3     // 1 = Layer III
        val brIdx = (b3 >> 4) & 15
        val srIdx = (b3 >> 2) & 3
        val padding = (b3 >> 1) & 1
        val chanMode = (b4 >> 6) & 3  // 3 = mono
        val sync = b1 == 0xFF && (b2 & 0xE0) == 0xE0
        if (sync && version != 1 && layer == 1 && brIdx >= 1 && brIdx <= 14 &&
            srIdx != 3) {
          val kbps = (if (version == 3) V1L3 else V2L3)(brIdx)
          val sr = (version match {
            case 3 => RateV1
            case 2 => RateV2
            case _ => RateV25
          })(srIdx)
          val spf = if (version == 3) 1152 else 576
          val frameLen = spf / 8 * (kbps * 1000) / sr + padding
          // first frame pins the stream's rate/channels; a header
          // disagreeing with them is treated as a false sync (resync)
          val ch = if (chanMode == 3) 1 else 2
          if (nFrames == 0 || (sr == rate && ch == channels)) {
            if (nFrames == 0) { rate = sr; channels = ch }
            nFrames += 1
            kbpsSum += kbps
            samples += spf
            i += math.max(frameLen, 4)
          } else { junk += 1; i += 1 }
        } else { junk += 1; i += 1 }
      }
      if (i < bytes.length) junk += bytes.length - i // tail too short for a header
      if (nFrames == 0) MpegMeta(isMpeg = false, 0, 0, 0, 0, 0L, bytes.length)
      else MpegMeta(isMpeg = true, nFrames, rate, channels,
        (kbpsSum / nFrames).toInt, samples * 1000000L / rate, junk)
    }
  }

  val mpegMetaSchema: StructType = StructType(Seq(
    StructField("is_mpeg", BooleanType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("avg_bitrate_kbps", IntegerType, nullable = false),
    StructField("duration_us", LongType, nullable = false),
    StructField("n_junk_bytes", IntegerType, nullable = false)))

  /** Attach an `mpeg_meta` struct by header-walking `binaryCol` partition-
    * batch-wise ([[MpegFrameParser]]); non-MPEG bytes surface as
    * `is_mpeg = false` with zeroed fields — the honest fallback that
    * replaces the old blanket decode stub for mp3 metadata.
    */
  def mpegMeta(df: DataFrame, binaryCol: String, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("mpeg_meta", mpegMetaSchema, nullable = false))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val m = MpegFrameParser.parse(row.getAs[Array[Byte]](binIdx))
          Row.fromSeq(row.toSeq :+ Row(m.isMpeg, m.nFrames, m.sampleRate,
            m.channels, m.avgBitrateKbps, m.durationUs, m.nJunkBytes))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic CBR MPEG-1 Layer III framed fixture per id — headers
    * are constructible without an encoder: each doc gets `16 + id mod 5`
    * frames at bitrate index `1 + id mod 14` (32…320 kbps), sample rate
    * index `id mod 3` (44100/48000/32000) and mono for even ids, with
    * zeroed payloads of the exact computed frame length. Closed-form in
    * the id, so a DuckDB oracle replays every metadata field without
    * parsing a byte.
    */
  def synthMpegCorpus(df: DataFrame, idCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("mp3", BinaryType, nullable = false))
    val idIdx = inSchema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val id = row.getLong(idIdx)
          Row.fromSeq(row.toSeq :+ synthMp3(
            nFrames = (16 + id % 5).toInt,
            brIdx = (1 + id % 14).toInt,
            srIdx = (id % 3).toInt,
            mono = id % 2 == 0))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Build CBR MPEG-1 Layer III frame bytes (header + zero payload). */
  def synthMp3(nFrames: Int, brIdx: Int, srIdx: Int, mono: Boolean,
      padEvery: Int = 0): Array[Byte] = {
    require(brIdx >= 1 && brIdx <= 14 && srIdx >= 0 && srIdx <= 2)
    val kbps = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)(brIdx)
    val rate = Array(44100, 48000, 32000)(srIdx)
    val out = new java.io.ByteArrayOutputStream()
    (0 until nFrames).foreach { f =>
      val padding = if (padEvery > 0 && f % padEvery == 0) 1 else 0
      val len = 144 * (kbps * 1000) / rate + padding
      val frame = new Array[Byte](len)
      frame(0) = 0xFF.toByte
      frame(1) = 0xFB.toByte // MPEG1 (11), Layer III (01), no CRC (1)
      frame(2) = ((brIdx << 4) | (srIdx << 2) | (padding << 1)).toByte
      frame(3) = (if (mono) 0xC0 else 0x00).toByte
      out.write(frame)
    }
    out.toByteArray
  }
}
