package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.SparkEntry._
import graft.operators.Tuning

/** Multimodal columns: real image/PCM-audio decode paths, perceptual hashing, container metadata (MP4/ADTS/FLAC/MPEG) without codecs.
  *
  * Extracted verbatim from the SparkEntry registry; [[graft.SparkEntry]]
  * concatenates every family into the single driver-contract maps.
  */
private[graft] object MultimodalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Multimodal plumbing: opaque binary column + batch-wise stub decode in
    // mapPartitions (real codec would swap in); metadata is md5-derived so
    // the oracle can check the full path.
    "q36_multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      val withBin = t(s, dir, "documents")
        .select($"doc_id", $"text".cast("binary").as("media"))
      graft.operators.Multimodal.extractMeta(withBin, "media")
        .select($"doc_id",
          $"media_meta.byte_length".as("byte_length"),
          $"media_meta.content_md5".as("content_md5"),
          // text bytes are not an image: the ImageIO-first decoder falls
          // back to the md5 stub, so these stay the oracle's pseudo-dims
          $"media_meta.width".cast("long").as("fake_width"),
          $"media_meta.height".cast("long").as("fake_height"))
        .orderBy($"doc_id")
    }),


    // Multimodal frame sampling: video-like binary rows explode 1→N into
    // frame rows batch-wise (stub decode; real 1→N plumbing). frame_md5 is
    // md5(content_md5:idx) so the oracle replays the whole path.
    "q54_multimodal_frames" -> ((s, dir) => {
      import s.implicits._
      val withBin = t(s, dir, "documents")
        .select($"doc_id", $"text".cast("binary").as("media"))
      graft.operators.Multimodal.sampleFrames(withBin, "media", strideBytes = 200, maxFrames = 4)
        .select($"doc_id", $"frame_idx", $"frame_md5")
        .orderBy($"doc_id", $"frame_idx")
    }),


    // Perceptual-hash image near-dup — the multimodal dedup leg over REAL
    // codec work: a deterministic 8×8 grayscale PNG per doc (actual
    // ImageIO.write bytes; same-group docs differ by ~2 perturbed pixels),
    // REAL ImageIO decode back to the luma grid, aHash/dHash bands
    // ([[graft.operators.Multimodal.perceptualHashes]]), band-bucket
    // candidate join (the SimHash q75 shape — never all-pairs), exact
    // hamming verify ≤ 12. PNG grayscale is lossless and the integer luma
    // weights sum to 256, so the decoded grid equals the md5 closed form
    // and the whole encode→decode→hash→join path is oracle-checkable with
    // no codec on the oracle side. Scale: candidates are bounded by
    // 16-bit band-bucket collisions; the image corpus shuffles only as
    // eight small ints per image, never as pixels.
    "q209_image_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      imagePhashPairs(t(s, dir, "documents").select($"doc_id"))
        .filter($"ham_a" <= 12)
        .orderBy($"id_a", $"id_b")
    }),


    // Image dedup CLUSTERS — q209's perceptual-hash pairs composed with
    // the engine's own cluster resolution (q53's label propagation),
    // closing the multimodal dedup loop: tight pairs (hamming ≤ 6) become
    // components, each electing its lowest-id survivor, with the pair
    // census (n_pairs, max_ham) a reviewer reads before deleting. The
    // oracle replays the pixels arithmetically and resolves components
    // with a recursive CTE. Scale: hashes shuffle as eight ints per
    // image; label propagation runs on the pair-endpoint subgraph only
    // (resolveClustersSparse — the singleton majority never iterates).
    "q213_image_dedup_clusters" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
      val pairs = Tuning.cut(imagePhashPairs(docs)
        .filter($"ham_a" <= 6)) // labels + the pair census both read it
      val lab = graft.operators.Dedup.resolveClustersSparse(
        pairs.select($"id_a", $"id_b"), docs)
      val sizes = lab.groupBy($"keeper_id")
        .agg(count(lit(1)).as("n_members"))
        .filter($"n_members" >= 2)
      val pstat = pairs
        .join(lab.select($"id".as("id_a"), $"keeper_id"), "id_a")
        .groupBy($"keeper_id")
        .agg(count(lit(1)).as("n_pairs"), max($"ham_a").as("max_ham"))
      sizes.join(pstat, Seq("keeper_id"))
        .select($"keeper_id".as("cluster_id"), $"n_members",
          $"n_pairs", $"max_ham")
        .orderBy($"cluster_id")
    }),


    // Cross-modal dedup agreement — the audit a multimodal corpus runs
    // before trusting either signal alone: the TEXT near-dup pairs (q39's
    // verified LSH at 0.75) and the IMAGE perceptual-hash pairs (q213's
    // tight hamming ≤ 6) full-outer-joined into a 3-way census (both /
    // text-only / image-only). By construction the synthetic image groups
    // (doc_id div 4) are independent of text similarity, so the overlap
    // measures exactly what a production audit would: how often the two
    // modalities nominate the same pair. Both pipelines shuffle
    // hash-sized rows only; the join is pair-keyed.
    "q214_multimodal_agreement" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val tp = graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text",
          numHashes = 8, shingle = 4, bands = 4, rowsPerBand = 2, threshold = 0.75)
        .select($"id_a", $"id_b", lit(1L).as("is_text"))
      val ip = imagePhashPairs(docs.select($"doc_id"))
        .filter($"ham_a" <= 6)
        .select($"id_a", $"id_b", lit(1L).as("is_image"))
      tp.join(ip, Seq("id_a", "id_b"), "full_outer")
        .select(coalesce($"is_text", lit(0L)).as("t"),
          coalesce($"is_image", lit(0L)).as("i"))
        .groupBy($"t", $"i").agg(count(lit(1)).as("n_pairs"))
        .select(when($"t" === 1 && $"i" === 1, "1_both")
          .when($"t" === 1, "2_text_only")
          .otherwise("3_image_only").as("agreement"), $"n_pairs")
        .orderBy($"agreement")
    }),


    // Windowed audio features over REAL codec work — the audio twin of
    // q209, closing the "no audio codecs" claim the same way: a
    // deterministic 16-bit PCM WAV per doc (actual AudioSystem.write
    // bytes), REAL javax.sound decode back to samples, then per-16-sample
    // window integer features (energy Σs², in-window sign changes, peak
    // |s|). WAV PCM is stored verbatim, so the decoded samples equal the
    // md5 closed form and the oracle replays the whole
    // encode→decode→feature path codec-free. Scale: features shuffle as
    // four ints per window; audio bytes never leave their scan task.
    "q212_audio_features" -> ((s, dir) => {
      import s.implicits._
      // spread the per-row WAV encode+decode before the mapPartitions
      // (the q90 single-partition-codec lesson, as in imagePhashPairs)
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs)
      val wavs = graft.operators.Multimodal
        .synthAudioCorpus(docs, "doc_id", nSamples = 64, sampleRate = 8000)
      graft.operators.Multimodal.audioFeatures(wavs, "wav", windowSize = 16)
        .select($"doc_id", $"sample_rate".cast("long").as("sample_rate"),
          $"n_samples", $"win", $"energy", $"n_zc", $"peak")
        // sortShield: the sort's sample pass would re-run the WAV
        // encode+decode chain (no exchange between the codec and the sort)
        .transform(d => graft.operators.Tuning.sortShield(d, $"doc_id"))
        .orderBy($"doc_id", $"win")
    }),


    // Perceptual-hash scale robustness — the multimodal invariance census
    // a dedup deployment reads before trusting q209's bands across
    // re-encodes: REAL decode → EXACT 2×2 integral average-pool (8×8 →
    // 4×4, each cell Σ4 div 4) → 12-bit pooled dHash, compared against
    // the full-resolution 56-bit dHash per perturbation group. Pooling
    // averages out isolated pixel flips, so same-group images collapse
    // to fewer distinct pooled hashes than full-res ones — measured per
    // group, not asserted. Oracle replays the whole decode→pool→hash
    // path from the md5 pixel closed form, codec-free. Scale: images
    // shuffle as one long each after the scan-side decode.
    "q225_phash_pooling" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs) // spread the codec work (q90 lesson)
      val imgs = graft.operators.Multimodal
        .synthImageCorpus(docs, "doc_id", groupDiv = 4)
      // ONE decode pass: perceptualHashes carries the pooled dHash along
      // with the full-res bands (formerly two decodes + a join)
      graft.operators.Multimodal.perceptualHashes(imgs, "img")
        .select($"doc_id",
          ($"d0" + shiftleft($"d1", 14) + shiftleft($"d2", 28)
            + shiftleft($"d3", 42)).as("full_hash"),
          $"pool_hash")
        .groupBy(expr("doc_id div 4").as("group_id"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct($"full_hash").as("n_distinct_full"),
          countDistinct($"pool_hash").as("n_distinct_pooled"))
        .orderBy($"group_id")
    }),


    // Audio near-dup — the q209 pipeline for SOUND, closing the
    // multimodal dedup matrix (text LSH / image phash / audio sign
    // bands): REAL WAV decode of a grouped corpus (same-group clips
    // share base samples, ~2 perturbed via the exact −s−1 involution),
    // four 16-bit SIGN bands as bucket keys (a few flipped samples
    // leave some band intact — the SimHash/dHash banding shape), exact
    // differing-sample count as the verify. PCM is verbatim, so the
    // oracle replays decode→bands→verify from the md5 closed form,
    // codec-free. Scale: candidate generation shuffles four longs per
    // clip; sample arrays move only for candidate pairs.
    "q231_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs) // spread the codec work (q90 lesson)
      val wavs = graft.operators.Multimodal.synthAudioGroups(
        docs, "doc_id", groupDiv = 4, nSamples = 64, sampleRate = 8000)
      val feats = Tuning.cut(graft.operators.Multimodal.audioSignBands(wavs, "wav")) // band explode + verify both read it
      val ex = feats.select($"doc_id",
        posexplode(array($"ab0", $"ab1", $"ab2", $"ab3")).as(Seq("band", "bh")))
      val cand = ex.as("a").join(ex.as("b"),
          $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b")).distinct()
      val smp = feats.select($"doc_id", $"samples")
      cand
        .join(smp.select($"doc_id".as("id_a"), $"samples".as("sa")), "id_a")
        .join(smp.select($"doc_id".as("id_b"), $"samples".as("sb")), "id_b")
        .select($"id_a", $"id_b",
          expr("size(filter(zip_with(sa, sb, (x, y) -> x != y), p -> p))")
            .cast("long").as("n_diff"))
        .filter($"n_diff" <= 6)
        .orderBy($"id_a", $"id_b")
    }),


    // MPEG (mp3) frame-header metadata — REAL pure-JVM header parsing
    // ([[graft.operators.Multimodal.MpegFrameParser]]: sync-walk, version/
    // layer/bitrate/samplerate tables, padding, channel mode) closing the
    // mp3-metadata gap the decode stub used to blanket: duration/bitrate/
    // samplerate/channels need only public header tables, no codec — full
    // payload decode stays honestly stubbed. Fixture frames are
    // constructible without an encoder (CBR headers + zero payloads of
    // the exact computed frame length), closed-form in doc_id, so the
    // oracle replays every field without parsing a byte. Bytes never
    // leave their scan task; only the 7-field meta shuffles.
    "q243_mpeg_metadata" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs) // spread the per-row framing (q90 lesson)
      val mp3s = graft.operators.Multimodal.synthMpegCorpus(docs, "doc_id")
      graft.operators.Multimodal.mpegMeta(mp3s, "mp3")
        .select($"doc_id", $"mpeg_meta.is_mpeg".cast("int").as("is_mpeg"),
          $"mpeg_meta.n_frames".cast("long").as("n_frames"),
          $"mpeg_meta.sample_rate".cast("long").as("sample_rate"),
          $"mpeg_meta.channels".cast("long").as("channels"),
          $"mpeg_meta.avg_bitrate_kbps".cast("long").as("kbps"),
          $"mpeg_meta.duration_us",
          $"mpeg_meta.n_junk_bytes".cast("long").as("n_junk_bytes"))
        .orderBy($"doc_id")
    }),


    // MP4/ISO-BMFF container metadata — REAL pure-JVM box walk
    // ([[graft.operators.ContainerMeta.Mp4BoxParser]]: size+fourcc tree,
    // mvhd timescale/duration, per-trak tkhd 16.16 dims + hdlr kind +
    // stsd codec fourcc), shrinking the VIDEO half of the decode stub the
    // same way q243 shrank mp3: duration/tracks/dimensions/codec need
    // only the public 14496-12 layout, no codec — sample decode stays
    // honestly stubbed. The fixture tree is constructible without a muxer
    // and closed-form in doc_id, so the oracle replays every field
    // arithmetically. Bytes never leave their scan task.
    "q253_mp4_metadata" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs) // spread the per-row box build/walk
      val mp4s = graft.operators.ContainerMeta.synthMp4Corpus(docs, "doc_id")
      graft.operators.ContainerMeta.mp4Meta(mp4s, "mp4")
        .select($"doc_id", $"mp4_meta.is_mp4".cast("int").as("is_mp4"),
          $"mp4_meta.brand", $"mp4_meta.duration_ms",
          $"mp4_meta.n_tracks".cast("long").as("n_tracks"),
          $"mp4_meta.n_video".cast("long").as("n_video"),
          $"mp4_meta.n_audio".cast("long").as("n_audio"),
          $"mp4_meta.width".cast("long").as("width"),
          $"mp4_meta.height".cast("long").as("height"),
          $"mp4_meta.video_codec")
        .orderBy($"doc_id")
    }),


    // AAC ADTS frame-header metadata — the aac sibling of q243's mp3 walk
    // ([[graft.operators.ContainerMeta.AdtsParser]]: 0xFFF sync, public
    // 13-entry rate table, 13-bit frame length, 1024 samples/frame).
    // Same closed-form fixture contract; same honest payload stub.
    "q254_adts_metadata" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs)
      val aacs = graft.operators.ContainerMeta.synthAdtsCorpus(docs, "doc_id")
      graft.operators.ContainerMeta.adtsMeta(aacs, "aac")
        .select($"doc_id", $"adts_meta.is_adts".cast("int").as("is_adts"),
          $"adts_meta.n_frames".cast("long").as("n_frames"),
          $"adts_meta.sample_rate".cast("long").as("sample_rate"),
          $"adts_meta.channels".cast("long").as("channels"),
          $"adts_meta.profile".cast("long").as("profile"),
          $"adts_meta.duration_us",
          $"adts_meta.n_junk_bytes".cast("long").as("n_junk_bytes"))
        .orderBy($"doc_id")
    }),


    // FLAC STREAMINFO metadata — the lossless-audio sibling of q254's
    // ADTS walk ([[graft.operators.ContainerMeta.FlacParser]]: fLaC
    // magic, metadata-block walk, 20/3/5/36-bit STREAMINFO unpack).
    // Duration needs only total_samples/rate — no frame is decoded, same
    // honest payload stub. Closed-form fixture contract as q253/q254.
    "q259_flac_metadata" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs)
      val flacs = graft.operators.ContainerMeta.synthFlacCorpus(docs, "doc_id")
      graft.operators.ContainerMeta.flacMeta(flacs, "flac")
        .select($"doc_id", $"flac_meta.is_flac".cast("int").as("is_flac"),
          $"flac_meta.sample_rate".cast("long").as("sample_rate"),
          $"flac_meta.channels".cast("long").as("channels"),
          $"flac_meta.bits_per_sample".cast("long").as("bits_per_sample"),
          $"flac_meta.total_samples", $"flac_meta.duration_us",
          $"flac_meta.n_blocks".cast("long").as("n_blocks"))
        .orderBy($"doc_id")
    }),

    // WebM/Matroska EBML metadata — the video-container sibling of
    // q253's ISO-BMFF walk ([[graft.operators.ContainerMeta.EbmlParser]]:
    // RFC 8794 vint elements, DocType, Info timestamp-scale + float
    // duration, per-TrackEntry kind/codec/dims). Cluster payloads (the
    // coded media) are never touched — same honest stub boundary; the
    // fixture duration is a whole-ms double so the ms output is exact.
    "q262_webm_metadata" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs)
      val webms = graft.operators.ContainerMeta.synthEbmlCorpus(docs, "doc_id")
      graft.operators.ContainerMeta.ebmlMeta(webms, "webm")
        .select($"doc_id", $"ebml_meta.is_ebml".cast("int").as("is_ebml"),
          $"ebml_meta.doc_type",
          $"ebml_meta.duration_ms",
          $"ebml_meta.n_tracks".cast("long").as("n_tracks"),
          $"ebml_meta.n_video".cast("long").as("n_video"),
          $"ebml_meta.n_audio".cast("long").as("n_audio"),
          $"ebml_meta.width".cast("long").as("width"),
          $"ebml_meta.height".cast("long").as("height"),
          $"ebml_meta.video_codec")
        .orderBy($"doc_id")
    }),

    // Gzip round-trip audit — REAL java.util.zip compression both ways
    // (web dumps arrive as gzip members; the pipeline's first operator is
    // "get the text back out, verifiably"). Oracle-checked columns are
    // functions of the RECOVERED text (codepoint count + md5 — one
    // corrupted byte anywhere in compress→store→decompress flips the
    // hash); compressed sizes are implementation-specific and
    // spec-asserted instead. GZIPInputStream checks the trailer CRC32,
    // so corruption can never yield silent garbage.
    "q260_gzip_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .transform(graft.operators.Tuning.spreadDocs) // spread the codec work (q90 lesson)
      val gz = graft.sources.CompressedText.gzipCorpus(docs, "text")
        .select($"doc_id", $"gz")
      graft.sources.CompressedText.gunzipAudit(gz, "gz")
        .select($"doc_id", $"is_gzip", $"rt_n_chars", $"rt_md5")
        .orderBy($"doc_id")
    }),

    // Zip-archive entry walk — multi-document containers (a real-world
    // delivery unit) exploded one row per entry through REAL
    // ZipInputStream inflate: each doc becomes a 1 + id%3 entry archive
    // of contiguous CODEPOINT slices, so the oracle replays every
    // entry's name, length and md5 with substr arithmetic alone.
    "q261_zip_entries" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .transform(graft.operators.Tuning.spreadDocs)
      val zips = graft.sources.CompressedText.zipCorpus(docs, "doc_id", "text")
        .select($"doc_id", $"zip")
      graft.sources.CompressedText.zipEntriesAudit(zips, "zip")
        .select($"doc_id", $"entry_name", $"entry_n_chars", $"entry_md5")
        .orderBy($"doc_id", $"entry_name")
    }),


    // Zstd round-trip audit (round 15, the q260 contract on the codec
    // modern text corpora actually ship — `.jsonl.zst` members): REAL
    // RFC 8878 frames both ways, and the round-trip CROSSES
    // implementations — zstd-jni (the upstream C library) compresses,
    // aircompressor (pure-Java, what the scan path uses) decodes — so a
    // self-consistent bug in either side cannot pass. Oracle-checked
    // columns are functions of the RECOVERED text; frame sizes are
    // implementation-specific and spec-asserted instead.
    "q303_zstd_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .transform(graft.operators.Tuning.spreadDocs) // spread the codec work (q90 lesson)
      val zs = graft.sources.CompressedText.zstdCorpus(docs, "text")
        .select($"doc_id", $"zs")
      graft.sources.CompressedText.unzstdAudit(zs, "zs")
        .select($"doc_id", $"is_zstd", $"rt_n_chars", $"rt_md5")
        .orderBy($"doc_id")
    }),


    // ID3v2 tag metadata — the bytes in FRONT of q243's mp3 frames,
    // closing the mp3 container matrix
    // ([[graft.operators.ContainerMeta.Id3Parser]]: syncsafe header,
    // v2.3 plain vs v2.4 syncsafe frame sizes — the classic interop
    // trap, both exercised since even ids build v2.3 and odd ids v2.4 —
    // TIT2/TPE1/TALB/TYER-TDRC/TRCK text frames, padding walk).
    // `audio_offset` is where [[Multimodal.MpegFrameParser]] would take
    // over. Every field incl. the tag size is closed-form in doc_id
    // (the size needs only VARCHAR-length arithmetic), so the oracle
    // replays the parse without touching a byte.
    "q266_id3_metadata" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs) // spread the per-row tag build/walk
      val tags = graft.operators.ContainerMeta.synthId3Corpus(docs, "doc_id")
      graft.operators.ContainerMeta.id3Meta(tags, "id3")
        .select($"doc_id", $"id3_meta.is_id3".cast("int").as("is_id3"),
          $"id3_meta.version".cast("long").as("version"),
          $"id3_meta.tag_size".cast("long").as("tag_size"),
          $"id3_meta.n_frames".cast("long").as("n_frames"),
          $"id3_meta.title", $"id3_meta.artist", $"id3_meta.album",
          $"id3_meta.year", $"id3_meta.track",
          $"id3_meta.audio_offset".cast("long").as("audio_offset"))
        .orderBy($"doc_id")
    }),


    // Ogg/Vorbis container metadata — CRC-VERIFIED page walk
    // ([[graft.operators.ContainerMeta.OggParser]]: RFC 3533 pages with
    // the Ogg CRC32 variant checked per page, lacing-aware packet
    // reassembly, Vorbis identification + comment headers, duration
    // from the final granule position). Audio packets are never decoded
    // — the honest stub boundary, same as q253/q262. The three-page
    // fixture is closed-form in doc_id; the granule is rate·seconds so
    // the µs duration is exact integer arithmetic on both engines.
    "q267_ogg_metadata" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs) // spread the per-row CRC work
      val oggs = graft.operators.ContainerMeta.synthOggCorpus(docs, "doc_id")
      graft.operators.ContainerMeta.oggMeta(oggs, "ogg")
        .select($"doc_id", $"ogg_meta.is_ogg".cast("int").as("is_ogg"),
          $"ogg_meta.n_pages".cast("long").as("n_pages"),
          $"ogg_meta.channels".cast("long").as("channels"),
          $"ogg_meta.sample_rate".cast("long").as("sample_rate"),
          $"ogg_meta.duration_us",
          $"ogg_meta.title", $"ogg_meta.artist", $"ogg_meta.vendor",
          $"ogg_meta.n_comments".cast("long").as("n_comments"))
        .orderBy($"doc_id")
    }),


    // Identity-H PDF round-trip — the round-12 CID slice of the PDF tail
    // exercised end-to-end on the REAL corpus text: every document is
    // embedded in a FlateDecode Identity-H PDF and pulled back out
    // through the extractor's font-resolution path. The mapping CARRIER
    // cycles by doc_id % 4 (round 15): a /ToUnicode CMap (§9.10.2's
    // primary route), an embedded-TrueType format-12 cmap inverted
    // glyph→code-point with /CIDToGIDMap /Identity, a format-4 cmap
    // composed through a /CIDToGIDMap STREAM with shifted glyph ids —
    // the no-ToUnicode shapes real CID PDFs ship
    // ([[graft.sources.TrueTypeCmap]]) — and the ToUnicode route with
    // every page/font dictionary packed inside a /Type /ObjStm object
    // stream, the PDF 1.5+ layout where a raw byte scan sees no font
    // dict at all. Oracle-checked columns are functions of the
    // RECOVERED text (codepoint count + md5 — the q260 gzip contract),
    // so one wrong CID mapping anywhere — CMap parse, sfnt walk, cmap
    // inversion, gid-stream composition, ObjStm offset walk — flips
    // the hash. Sentinel wrapping keeps whitespace-edged docs exact
    // under the extractor's outer trim. Bytes never leave their scan
    // task.
    "q268_pdf_cid_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .transform(graft.operators.Tuning.spreadDocs) // spread the per-row build/extract
      val pdfs = graft.sources.PdfIngest
        .synthCidPdfCorpus(docs, "doc_id", "text", 64)
        .select($"doc_id", $"pdf")
      graft.sources.PdfIngest.cidPdfAudit(pdfs, "pdf")
        .select($"doc_id",
          when(pmod($"doc_id", lit(4)) === 0, "tounicode")
            .when(pmod($"doc_id", lit(4)) === 1, "fontfile2-identity")
            .when(pmod($"doc_id", lit(4)) === 2, "fontfile2-gidstream")
            .otherwise("objstm-tounicode").as("font_path"),
          $"is_pdf", $"rt_n_chars", $"rt_md5")
        .orderBy($"doc_id")
    }),


    // Encrypted-PDF round-trip — the round-13 decryption slice
    // ([[graft.sources.PdfCrypt]]): every document rides q268's
    // Identity-H CID path, but the PDF is additionally ENCRYPTED under
    // the standard security handler with an EMPTY user password (the
    // owner-restricted shape that dominates real "encrypted" corpora),
    // cipher generation cycling by doc_id — RC4-40 (V1/R2), RC4-128
    // (V2/R3), AES-128-CBC (V4/R4 /AESV2), and — round 14 — AES-256
    // (V5/R6 /AESV3, ISO 32000-2: Algorithm 2.B iterated SHA-2 hash,
    // /U validate → /UE file-key unwrap → /Perms `adb` sanity, file-key
    // stream decryption). Extraction must authenticate the empty
    // password, derive the right key generation, decrypt both streams,
    // then run the full filter→font→CMap→CID chain — any wrong byte in
    // key derivation or cipher plumbing yields is_pdf=0 or a flipped
    // md5. The oracle is q268's: the recovered text IS the text.
    "q276_pdf_decrypt_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
        .transform(graft.operators.Tuning.spreadDocs) // spread the per-row build/decrypt
      val pdfs = graft.sources.PdfIngest
        .synthEncryptedPdfCorpus(docs, "doc_id", "text")
        .select($"doc_id", $"pdf")
      graft.sources.PdfIngest.cidPdfAudit(pdfs, "pdf")
        .select($"doc_id",
          when(pmod($"doc_id", lit(4)) === 0, "rc4-40")
            .when(pmod($"doc_id", lit(4)) === 1, "rc4-128")
            .when(pmod($"doc_id", lit(4)) === 2, "aes-128")
            .otherwise("aes-256").as("cipher"),
          $"is_pdf", $"rt_n_chars", $"rt_md5")
        // sortShield: the sort's sample pass would re-run the PDF
        // build + decrypt + extract chain (no exchange before the sort)
        .transform(d => graft.operators.Tuning.sortShield(d, $"doc_id"))
        .orderBy($"doc_id")
    }),


    // PDF embedded-image census — the DCT stub demoted
    // ([[graft.sources.PdfImages]]): each doc gets a fixture PDF
    // embedding one REAL baseline JPEG (deterministic RGB pattern
    // through ImageIO's encoder — the JDK ships the codec, so DCTDecode
    // needs no stub) and one raw FlateDecode gray image; the extractor
    // walks the image XObjects off the same no-xref byte scan the text
    // path uses (exact /Length bounds — JPEG payloads legally contain
    // `endstream` bytes), JPEG-decodes the DCT payload and verifies the
    // raw payload by sample arithmetic. All output geometry is
    // closed-form in doc_id; the ok flags flip on any codec or
    // stream-bounds break. JPX (JPEG 2000) remains the one disclosed
    // filter stub — no JDK codec exists.
    "q281_pdf_images" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id")
        .transform(graft.operators.Tuning.spreadDocs) // spread the per-row encode/decode
      graft.sources.PdfImages.imageCensus(docs, "doc_id")
        .select($"doc_id", $"n_images", $"dct_ok", $"dct_w", $"dct_h",
          $"dct_ch", $"raw_ok", $"raw_w", $"raw_h")
        .orderBy($"doc_id")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q36_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_length, md5(text) AS content_md5, (('0x' || substr(md5(text),1,15))::BIGINT % 1920)::BIGINT AS fake_width, (('0x' || substr(md5(text),1,15))::BIGINT % 1080)::BIGINT AS fake_height FROM documents ORDER BY doc_id""",

    "q54_multimodal_frames" ->
      """SELECT doc_id, i AS frame_idx, md5(md5(text) || ':' || i::VARCHAR) AS frame_md5 FROM (SELECT doc_id, text, unnest(range(0, greatest(1, least(4, cast(ceil(octet_length(encode(text)) / 200.0) AS BIGINT))))) AS i FROM documents) ORDER BY doc_id, frame_idx""",

    // q209: the engine's pixels are a REAL PNG encode→ImageIO decode
    // roundtrip of this md5 closed form (lossless grayscale; luma weights
    // sum to 256), so the oracle replays pixels → aHash/dHash bands →
    // band-bucket candidates → hamming arithmetically, no codec needed
    "q209_image_phash_neardup" ->
      """WITH ii AS (SELECT unnest(range(0, 64)) AS i),
px AS (SELECT d.doc_id, ii.i,
  CASE WHEN ('0x' || substr(md5('pert:' || d.doc_id::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT % 29 = 0
    THEN 255 - ('0x' || substr(md5((d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT
    ELSE ('0x' || substr(md5((d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT END AS px
  FROM documents d, ii),
s AS (SELECT doc_id, sum(px)::BIGINT AS tot FROM px GROUP BY 1),
ab AS (SELECT px.doc_id, px.i // 16 AS b,
  sum(CASE WHEN px.px * 64 > s.tot THEN 1::BIGINT << (px.i % 16) ELSE 0 END)::BIGINT AS v
  FROM px JOIN s USING (doc_id) GROUP BY 1, 2),
db AS (SELECT a.doc_id, (a.i // 8) // 2 AS b,
  sum(CASE WHEN a.px > b2.px THEN 1::BIGINT << (((a.i // 8) % 2) * 7 + (a.i % 8)) ELSE 0 END)::BIGINT AS v
  FROM px a JOIN px b2 ON a.doc_id = b2.doc_id AND b2.i = a.i + 1 AND a.i % 8 < 7 GROUP BY 1, 2),
ha AS (SELECT doc_id, max(CASE WHEN b = 0 THEN v END) AS a0, max(CASE WHEN b = 1 THEN v END) AS a1,
  max(CASE WHEN b = 2 THEN v END) AS a2, max(CASE WHEN b = 3 THEN v END) AS a3 FROM ab GROUP BY 1),
hd AS (SELECT doc_id, max(CASE WHEN b = 0 THEN v END) AS d0, max(CASE WHEN b = 1 THEN v END) AS d1,
  max(CASE WHEN b = 2 THEN v END) AS d2, max(CASE WHEN b = 3 THEN v END) AS d3 FROM db GROUP BY 1),
cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM ab x JOIN ab y ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)
SELECT c.id_a, c.id_b,
  (bit_count(xor(pa.a0, qa.a0)) + bit_count(xor(pa.a1, qa.a1)) + bit_count(xor(pa.a2, qa.a2)) + bit_count(xor(pa.a3, qa.a3)))::BIGINT AS ham_a,
  (bit_count(xor(pd.d0, qd.d0)) + bit_count(xor(pd.d1, qd.d1)) + bit_count(xor(pd.d2, qd.d2)) + bit_count(xor(pd.d3, qd.d3)))::BIGINT AS ham_d
FROM cand c JOIN ha pa ON c.id_a = pa.doc_id JOIN ha qa ON c.id_b = qa.doc_id
JOIN hd pd ON c.id_a = pd.doc_id JOIN hd qd ON c.id_b = qd.doc_id
WHERE (bit_count(xor(pa.a0, qa.a0)) + bit_count(xor(pa.a1, qa.a1)) + bit_count(xor(pa.a2, qa.a2)) + bit_count(xor(pa.a3, qa.a3))) <= 12
ORDER BY c.id_a, c.id_b""",

    // q214: verified-LSH text pairs × the image pixel/band/hamming replay
    // (image CTEs prefixed i- to avoid colliding with the LSH names),
    // full-outer 3-way census
    "q214_multimodal_agreement" ->
      s"""WITH $LshVerifiedCtes,
tp AS (SELECT id_a, id_b, 1 AS t FROM verified WHERE est_jac >= 0.75),
ii AS (SELECT unnest(range(0, 64)) AS i),
ipx AS (SELECT d.doc_id, ii.i,
  CASE WHEN ('0x' || substr(md5('pert:' || d.doc_id::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT % 29 = 0
    THEN 255 - ('0x' || substr(md5((d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT
    ELSE ('0x' || substr(md5((d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT END AS px
  FROM documents d, ii),
isum AS (SELECT doc_id, sum(px)::BIGINT AS tot FROM ipx GROUP BY 1),
iab AS (SELECT ipx.doc_id, ipx.i // 16 AS b,
  sum(CASE WHEN ipx.px * 64 > isum.tot THEN 1::BIGINT << (ipx.i % 16) ELSE 0 END)::BIGINT AS v
  FROM ipx JOIN isum USING (doc_id) GROUP BY 1, 2),
iha AS (SELECT doc_id, max(CASE WHEN b = 0 THEN v END) AS a0, max(CASE WHEN b = 1 THEN v END) AS a1,
  max(CASE WHEN b = 2 THEN v END) AS a2, max(CASE WHEN b = 3 THEN v END) AS a3 FROM iab GROUP BY 1),
icand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM iab x JOIN iab y ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id),
ip AS (SELECT id_a, id_b, 1 AS i FROM (SELECT c.id_a, c.id_b,
  (bit_count(xor(pa.a0, qa.a0)) + bit_count(xor(pa.a1, qa.a1)) + bit_count(xor(pa.a2, qa.a2)) + bit_count(xor(pa.a3, qa.a3)))::BIGINT AS ham_a
  FROM icand c JOIN iha pa ON c.id_a = pa.doc_id JOIN iha qa ON c.id_b = qa.doc_id) WHERE ham_a <= 6)
SELECT CASE WHEN coalesce(t, 0) = 1 AND coalesce(i, 0) = 1 THEN '1_both'
  WHEN coalesce(t, 0) = 1 THEN '2_text_only' ELSE '3_image_only' END AS agreement,
  count(*)::BIGINT AS n_pairs
FROM tp FULL OUTER JOIN ip USING (id_a, id_b)
GROUP BY 1 ORDER BY agreement""",

    // q213: q209's pixel/band/hamming replay, tight pairs (≤ 6), then the
    // q53 recursive-CTE component resolution and per-cluster census
    "q213_image_dedup_clusters" ->
      """WITH RECURSIVE ii AS (SELECT unnest(range(0, 64)) AS i),
px AS (SELECT d.doc_id, ii.i,
  CASE WHEN ('0x' || substr(md5('pert:' || d.doc_id::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT % 29 = 0
    THEN 255 - ('0x' || substr(md5((d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT
    ELSE ('0x' || substr(md5((d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT END AS px
  FROM documents d, ii),
s AS (SELECT doc_id, sum(px)::BIGINT AS tot FROM px GROUP BY 1),
ab AS (SELECT px.doc_id, px.i // 16 AS b,
  sum(CASE WHEN px.px * 64 > s.tot THEN 1::BIGINT << (px.i % 16) ELSE 0 END)::BIGINT AS v
  FROM px JOIN s USING (doc_id) GROUP BY 1, 2),
ha AS (SELECT doc_id, max(CASE WHEN b = 0 THEN v END) AS a0, max(CASE WHEN b = 1 THEN v END) AS a1,
  max(CASE WHEN b = 2 THEN v END) AS a2, max(CASE WHEN b = 3 THEN v END) AS a3 FROM ab GROUP BY 1),
cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM ab x JOIN ab y ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id),
prs AS (SELECT c.id_a, c.id_b,
  (bit_count(xor(pa.a0, qa.a0)) + bit_count(xor(pa.a1, qa.a1)) + bit_count(xor(pa.a2, qa.a2)) + bit_count(xor(pa.a3, qa.a3)))::BIGINT AS ham_a
  FROM cand c JOIN ha pa ON c.id_a = pa.doc_id JOIN ha qa ON c.id_b = qa.doc_id),
good AS (SELECT id_a, id_b, ham_a FROM prs WHERE ham_a <= 6),
edges AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b AS src, id_a AS dst FROM good),
reach AS (SELECT doc_id AS id, doc_id AS r FROM documents UNION SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON e.src = reach.id),
lab AS (SELECT id, min(r) AS keeper_id FROM reach GROUP BY id),
sizes AS (SELECT keeper_id, count(*)::BIGINT AS n_members FROM lab GROUP BY 1 HAVING count(*) >= 2),
pstat AS (SELECT l.keeper_id, count(*)::BIGINT AS n_pairs, max(g.ham_a)::BIGINT AS max_ham
  FROM good g JOIN lab l ON g.id_a = l.id GROUP BY 1)
SELECT sizes.keeper_id AS cluster_id, sizes.n_members, pstat.n_pairs, pstat.max_ham
FROM sizes JOIN pstat ON sizes.keeper_id = pstat.keeper_id
ORDER BY cluster_id""",

    // q212: samples replayed from the md5 closed form (WAV PCM roundtrip
    // is verbatim), windowed integer features with BIGINT products
    "q212_audio_features" ->
      """WITH ii AS (SELECT unnest(range(0, 64)) AS i),
sm AS (SELECT d.doc_id, ii.i, ('0x' || substr(md5('au:' || d.doc_id::VARCHAR || ':' || ii.i::VARCHAR), 1, 4))::INT - 32768 AS s FROM documents d, ii)
SELECT doc_id, 8000::BIGINT AS sample_rate, 64::BIGINT AS n_samples, (i // 16)::BIGINT AS win,
  sum(s::BIGINT * s)::BIGINT AS energy,
  sum(CASE WHEN i % 16 > 0 AND prev::BIGINT * s < 0 THEN 1 ELSE 0 END)::BIGINT AS n_zc,
  max(abs(s))::BIGINT AS peak
FROM (SELECT doc_id, i, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM sm)
GROUP BY doc_id, i // 16 ORDER BY doc_id, win""",


    // q225: md5 pixel closed form → full-res dHash pack and pooled 12-bit
    // hash, both replayed arithmetically (PNG grayscale is lossless)
    "q225_phash_pooling" ->
      """WITH ii AS (SELECT unnest(range(0, 64)) AS i),
px AS (SELECT d.doc_id, ii.i,
  CASE WHEN ('0x' || substr(md5('pert:' || d.doc_id::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT % 29 = 0
    THEN 255 - ('0x' || substr(md5((d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT
    ELSE ('0x' || substr(md5((d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT END AS px
  FROM documents d, ii),
db AS (SELECT a.doc_id, (a.i // 8) // 2 AS b,
  sum(CASE WHEN a.px > b2.px THEN 1::BIGINT << (((a.i // 8) % 2) * 7 + (a.i % 8)) ELSE 0 END)::BIGINT AS v
  FROM px a JOIN px b2 ON a.doc_id = b2.doc_id AND b2.i = a.i + 1 AND a.i % 8 < 7 GROUP BY 1, 2),
fh AS (SELECT doc_id, sum(v << (b * 14))::BIGINT AS full_hash FROM db GROUP BY 1),
pool AS (SELECT doc_id, ((i // 8) // 2) * 4 + (i % 8) // 2 AS p, (sum(px) // 4)::BIGINT AS v FROM px GROUP BY 1, 2),
ph AS (SELECT a.doc_id, coalesce(sum(CASE WHEN a.v > b.v THEN 1::BIGINT << ((a.p // 4) * 3 + a.p % 4) ELSE 0 END), 0)::BIGINT AS pool_hash
  FROM pool a JOIN pool b ON a.doc_id = b.doc_id AND b.p = a.p + 1 AND a.p % 4 < 3 GROUP BY 1)
SELECT d.doc_id // 4 AS group_id, count(*)::BIGINT AS n_members, count(distinct fh.full_hash)::BIGINT AS n_distinct_full, count(distinct ph.pool_hash)::BIGINT AS n_distinct_pooled
FROM documents d JOIN fh ON fh.doc_id = d.doc_id JOIN ph ON ph.doc_id = d.doc_id GROUP BY 1 ORDER BY group_id""",


    // q231: md5 sample closed form → sign bands → bucket join → exact
    // differing-sample count, all replayed arithmetically
    "q231_audio_neardup" ->
      """WITH ii AS (SELECT unnest(range(0, 64)) AS i),
smp AS (SELECT d.doc_id, ii.i,
  CASE WHEN ('0x' || substr(md5('aupert:' || d.doc_id::VARCHAR || ':' || ii.i::VARCHAR), 1, 2))::INT % 29 = 0
    THEN -(('0x' || substr(md5('aug:' || (d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 4))::INT - 32768) - 1
    ELSE ('0x' || substr(md5('aug:' || (d.doc_id // 4)::VARCHAR || ':' || ii.i::VARCHAR), 1, 4))::INT - 32768 END AS s
  FROM documents d, ii),
bands AS (SELECT doc_id, i // 16 AS band, sum(CASE WHEN s >= 0 THEN 1::BIGINT << (i % 16) ELSE 0 END)::BIGINT AS bh FROM smp GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
nd AS (SELECT c.id_a, c.id_b, (count(*) FILTER (sa.s <> sb.s))::BIGINT AS n_diff FROM cand c JOIN smp sa ON sa.doc_id = c.id_a JOIN smp sb ON sb.doc_id = c.id_b AND sb.i = sa.i GROUP BY 1, 2)
SELECT id_a, id_b, n_diff FROM nd WHERE n_diff <= 6 ORDER BY id_a, id_b""",


    // q253: the synth box tree is closed-form in doc_id (timescale 600,
    // duration 600·(10+id%7) → (10+id%7)·1000 ms, video 320+16·(id%8) ×
    // 240+16·(id%5), avc1 on even ids else vp09, mp4a audio iff id%3=0)
    "q253_mp4_metadata" ->
      """SELECT doc_id, 1::INT AS is_mp4, 'isom' AS brand,
((10 + doc_id % 7) * 1000)::BIGINT AS duration_ms,
(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_tracks,
1::BIGINT AS n_video,
(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_audio,
(320 + 16 * (doc_id % 8))::BIGINT AS width,
(240 + 16 * (doc_id % 5))::BIGINT AS height,
CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'vp09' END AS video_codec
FROM documents ORDER BY doc_id""",


    // q254: closed-form ADTS fixture (20+id%6 frames, rate table at
    // id%9, 1+id%2 channels, profile id%3; duration = frames·1024·10⁶ //
    // rate, zero junk)
    "q254_adts_metadata" ->
      """SELECT doc_id, 1::INT AS is_adts, (20 + doc_id % 6)::BIGINT AS n_frames,
([96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050, 16000])[(doc_id % 9)::INT + 1]::BIGINT AS sample_rate,
(1 + doc_id % 2)::BIGINT AS channels, (doc_id % 3)::BIGINT AS profile,
((20 + doc_id % 6) * 1024 * 1000000 // ([96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050, 16000])[(doc_id % 9)::INT + 1])::BIGINT AS duration_us,
0::BIGINT AS n_junk_bytes
FROM documents ORDER BY doc_id""",


    // q259: closed-form FLAC fixture (rate table at id%9, 1+id%8
    // channels, 16/24 bits, total samples rate·(5+id%11) → duration
    // exactly (5+id%11) s, STREAMINFO + PADDING = 2 blocks)
    "q259_flac_metadata" ->
      """SELECT doc_id, 1::INT AS is_flac,
([8000, 16000, 22050, 24000, 32000, 44100, 48000, 88200, 96000])[(doc_id % 9)::INT + 1]::BIGINT AS sample_rate,
(1 + doc_id % 8)::BIGINT AS channels,
(16 + 8 * (doc_id % 2))::BIGINT AS bits_per_sample,
(([8000, 16000, 22050, 24000, 32000, 44100, 48000, 88200, 96000])[(doc_id % 9)::INT + 1] * (5 + doc_id % 11))::BIGINT AS total_samples,
((5 + doc_id % 11) * 1000000)::BIGINT AS duration_us,
2::BIGINT AS n_blocks
FROM documents ORDER BY doc_id""",


    // q243: the synth corpus is closed-form in doc_id (CBR MPEG-1 Layer
    // III: 16 + id%5 frames, bitrate table at 1 + id%14, rate table at
    // id%3, mono on even ids), so the oracle replays the parser's output
    // arithmetically — duration = frames·1152·10⁶ // rate, zero junk
    "q243_mpeg_metadata" ->
      """SELECT doc_id, 1::INT AS is_mpeg, (16 + doc_id % 5)::BIGINT AS n_frames,
([44100, 48000, 32000])[(doc_id % 3)::INT + 1]::BIGINT AS sample_rate,
(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END)::BIGINT AS channels,
([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320])[(doc_id % 14)::INT + 1]::BIGINT AS kbps,
((16 + doc_id % 5) * 1152 * 1000000 // ([44100, 48000, 32000])[(doc_id % 3)::INT + 1])::BIGINT AS duration_us,
0::BIGINT AS n_junk_bytes
FROM documents ORDER BY doc_id""",

    // q262: closed-form EBML fixture (duration (8+id%9) s, 640+16·(id%6)
    // × 360+8·(id%4), V_VP9 even / V_AV1 odd, A_OPUS audio iff id even)
    "q262_webm_metadata" ->
      """SELECT doc_id, 1::INT AS is_ebml, 'webm' AS doc_type,
((8 + doc_id % 9) * 1000)::BIGINT AS duration_ms,
(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_tracks,
1::BIGINT AS n_video,
(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_audio,
(640 + 16 * (doc_id % 6))::BIGINT AS width,
(360 + 8 * (doc_id % 4))::BIGINT AS height,
CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'V_AV1' END AS video_codec
FROM documents ORDER BY doc_id""",

    // q260: the recovered text IS the text — codepoint length + md5
    // replay directly; any corruption on the engine side hash-fails
    "q260_gzip_roundtrip" ->
      """SELECT doc_id, 1::INT AS is_gzip, length(text)::BIGINT AS rt_n_chars, md5(text) AS rt_md5
FROM documents ORDER BY doc_id""",

    // q303: q260's replay for the zstd round-trip — the recovered text
    // IS the text, codepoint length + md5; a corrupted byte anywhere in
    // the cross-implementation compress→decode chain hash-fails
    "q303_zstd_roundtrip" ->
      """SELECT doc_id, 1::INT AS is_zstd, length(text)::BIGINT AS rt_n_chars, md5(text) AS rt_md5
FROM documents ORDER BY doc_id""",

    // q261: replay the codepoint slice grid (n = 1 + id%3 entries, step
    // = greatest(1, len // n), last entry takes the remainder) with
    // substr — names, lengths and md5s all arithmetic
    "q261_zip_entries" ->
      """WITH p AS (SELECT doc_id, text, (1 + doc_id % 3)::BIGINT AS n, greatest(1, length(text) // (1 + doc_id % 3))::BIGINT AS step FROM documents),
ks AS (SELECT doc_id, text, n, step, unnest(range(0, n)) AS k FROM p),
sl AS (SELECT doc_id, 'part_' || k::VARCHAR AS entry_name,
  least(k * step, length(text)) AS f,
  CASE WHEN k = n - 1 THEN length(text) ELSE least(k * step + step, length(text)) END AS u,
  text FROM ks)
SELECT doc_id, entry_name, (u - f)::BIGINT AS entry_n_chars, md5(substr(text, (f + 1)::INT, (u - f)::INT)) AS entry_md5
FROM sl ORDER BY doc_id, entry_name""",

    // q266: closed-form ID3v2 fixture — v2.3 on even ids else v2.4, 5
    // ISO-8859-1 text frames (10-byte header + encoding byte + text) +
    // 16+id%49 padding; tag_size is pure VARCHAR-length arithmetic and
    // audio_offset = 10 + tag_size
    "q266_id3_metadata" ->
      """WITH p AS (SELECT doc_id,
  (55 + 1 + length(doc_id::VARCHAR)
      + 6 + length((doc_id % 13)::VARCHAR)
      + 5 + length((doc_id % 7)::VARCHAR)
      + 4
      + length((1 + doc_id % 12)::VARCHAR)
      + 16 + doc_id % 49)::BIGINT AS tag_size
  FROM documents)
SELECT doc_id, 1::INT AS is_id3,
(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END)::BIGINT AS version,
tag_size, 5::BIGINT AS n_frames,
't' || doc_id::VARCHAR AS title,
'artist' || (doc_id % 13)::VARCHAR AS artist,
'album' || (doc_id % 7)::VARCHAR AS album,
(1990 + doc_id % 35)::VARCHAR AS year,
(1 + doc_id % 12)::VARCHAR AS track,
(10 + tag_size)::BIGINT AS audio_offset
FROM p ORDER BY doc_id""",

    // q267: closed-form three-page Ogg/Vorbis fixture — channels
    // 1+id%2, rate table at id%9, granule rate·(3+id%7) so duration_us
    // = (3+id%7)·10⁶ exactly, TITLE/ARTIST comments + GENRE iff id%5=0
    "q267_ogg_metadata" ->
      """SELECT doc_id, 1::INT AS is_ogg, 3::BIGINT AS n_pages,
(1 + doc_id % 2)::BIGINT AS channels,
([8000, 16000, 22050, 24000, 32000, 44100, 48000, 88200, 96000])[(doc_id % 9)::INT + 1]::BIGINT AS sample_rate,
((3 + doc_id % 7) * 1000000)::BIGINT AS duration_us,
't' || doc_id::VARCHAR AS title,
'artist' || (doc_id % 13)::VARCHAR AS artist,
'graft' AS vendor,
(CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 2 END)::BIGINT AS n_comments
FROM documents ORDER BY doc_id""",

    // q268: the recovered text IS the text — codepoint length + md5
    // replayed straight off the documents table (q260's contract), plus
    // the closed-form mapping-carrier census (round 15)
    "q268_pdf_cid_roundtrip" ->
      """SELECT doc_id,
CASE WHEN (doc_id % 4 + 4) % 4 = 0 THEN 'tounicode' WHEN (doc_id % 4 + 4) % 4 = 1 THEN 'fontfile2-identity' WHEN (doc_id % 4 + 4) % 4 = 2 THEN 'fontfile2-gidstream' ELSE 'objstm-tounicode' END AS font_path,
1::INT AS is_pdf, length(text)::BIGINT AS rt_n_chars,
md5(text) AS rt_md5 FROM documents ORDER BY doc_id""",

    // q276: decryption must be LOSSLESS, so the oracle is q268's plus
    // the closed-form cipher census
    "q276_pdf_decrypt_roundtrip" ->
      """SELECT doc_id,
CASE WHEN (doc_id % 4 + 4) % 4 = 0 THEN 'rc4-40' WHEN (doc_id % 4 + 4) % 4 = 1 THEN 'rc4-128' WHEN (doc_id % 4 + 4) % 4 = 2 THEN 'aes-128' ELSE 'aes-256' END AS cipher,
1::INT AS is_pdf, length(text)::BIGINT AS rt_n_chars,
md5(text) AS rt_md5 FROM documents ORDER BY doc_id""",

    // q281: geometry closed-form; the ok flags are the codec evidence
    // (JPEG bytes are encoder-specific, so only decode SUCCESS + decoded
    // geometry is engine-independent — the q260 gzip-size precedent)
    "q281_pdf_images" ->
      """SELECT doc_id, 2::BIGINT AS n_images,
1::INT AS dct_ok, (16 + doc_id % 16)::BIGINT AS dct_w, (8 + doc_id % 8)::BIGINT AS dct_h, 3::BIGINT AS dct_ch,
1::INT AS raw_ok, (4 + doc_id % 4)::BIGINT AS raw_w, (3 + doc_id % 3)::BIGINT AS raw_h
FROM documents ORDER BY doc_id""",
  )
}
