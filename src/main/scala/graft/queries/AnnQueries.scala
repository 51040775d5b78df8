package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.SparkEntry._
import graft.operators.Tuning

/** Vector search and retrieval: brute/LSH/IVF/PQ ANN, the persisted build/serve index, BM25/hybrid/phrase/proximity ranking, retrieval eval, ask paths.
  *
  * Extracted verbatim from the SparkEntry registry; [[graft.SparkEntry]]
  * concatenates every family into the single driver-contract maps.
  */
private[graft] object AnnQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // J5/W7: the reference's whole "query engine" — metadata-filtered
    // cosine top-k (`QA_using_pinecone.py:31-44`). Filter sits below the
    // score; top-k is TakeOrderedAndProject, never a full sort.
    "q20_cosine_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter($"vec_id" === 0).select($"embedding")
        .head().getSeq[Float](0).toArray
      emb.filter($"label".isin(0, 1, 2, 3, 4))
        .select($"vec_id",
          fq4(VectorFunctions.cosineSim($"embedding", lit(qv))).as("score"))
        .orderBy($"score".desc, $"vec_id")
        .limit(5)
    }),


    // Brute-force ANN baseline: 3 query vectors × corpus, per-query top-3 by
    // cosine (queries broadcast; corpus scanned once).
    "q30_ann_brute" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("query_id"), $"embedding")
      graft.operators.SimilaritySearch.bruteForceTopK(emb, queries, 3)
        .select($"query_id", $"neighbor_id", fq4($"score").as("score"),
          $"rank".cast("long").as("rank"))
        .orderBy($"query_id", $"rank")
    }),


    // IVF ANN (the learned-bucket scale path): 8 deterministic seed
    // centroids (k lowest ids, iters=0 so the oracle sidesteps float-mean
    // aggregation-order nondeterminism; Lloyd refinement is spec-covered),
    // nprobe=2 — corpus scanned once, probe is a centroid equi-join,
    // per-cell top-k windows. ~k/nprobe of the corpus scored per query.
    "q32_ivf_ann" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("query_id"), $"embedding")
      val cents = graft.operators.IvfIndex.centroids(emb, k = 8, iters = 0)
      graft.operators.IvfIndex.topK(emb, queries, cents, k = 3, nprobe = 2)
        .select($"query_id", $"neighbor_id", fq4($"score").as("score"),
          $"rank".cast("long").as("rank"))
        .orderBy($"query_id", $"rank")
    }),


    // J4 existence probe per group, as a grouped flag — not a full scan.
    "q33_exists_probe" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy($"source")
        .agg(max(when($"n_chars" > 350, 1).otherwise(0)).cast("long").as("has_large"),
          count(lit(1)).as("n_docs"))
        .orderBy($"source")
    }),


    // Pipeline 1 end-to-end (rows-only): chunk → deterministic embed via
    // mapPartitions batches → chunk table with vector dims. The embedder is
    // wrapped in the production failure policy (ResilientEmbedder: retry +
    // per-row lenient blanking) exactly as the HTTP stack composes it.
    "q34_embed_pipeline" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"source".as("formName"), $"doc_id".as("seq"), $"text")
        .as[graft.operators.ChunkingJob.DocInput]
      val chunks = graft.operators.ChunkingJob.chunkPyPdf(docs, tokenLimit = 200).toDF()
      graft.embed.EmbeddingJob
        .embedColumn(chunks, "Content",
          new graft.embed.ResilientEmbedder(new graft.embed.DeterministicEmbedder(16)))
        .select($"FormName", $"ChunkId", $"TokenCount", size($"Embeddings").cast("long").as("dim"))
        .orderBy($"FormName", $"ChunkId", $"TokenCount")
    }),


    // The reference's /askQuestion path end-to-end (rows-only): question
    // embedded deterministically, title-filtered cosine top-k over the
    // index shape (J5+W7+P6).
    "q35_retrieval_e2e" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val index = emb.join(docs, emb("vec_id") === docs("doc_id"))
        .select($"vec_id".cast("string").as("vector_id"),
          $"embedding".as("content_vector"), $"source".as("title"), $"text")
      val qv = new graft.embed.DeterministicEmbedder(64)
        .embedOne("how do i join two large tables")
      graft.query.Retriever
        .topK(index, qv, Seq("src0", "src1", "src2", "src3", "src4"), k = 5)
        .select($"vector_id", $"title", fq4($"score").as("score"))
    }),


    // Pipeline-2 index + stats-mirror lifecycle: upsert three forms and
    // mirror them into the stats table → delete one form by title (index +
    // mirror) → delete two ids → delete ALL of one form's vectors by id →
    // prune mirror rows whose vectors are gone. Parquet-table rewrites with
    // anti-join deletes (U2), id minting per title (P9), versioned
    // pointer-swap snapshots under the hood. Mirror states are materialized
    // per step (≤3 rows — the stats table is a handful of rows per the
    // reference's `vectordatabasestats`).
    "q37_index_lifecycle" -> ((s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_index").toString
      val idx = new graft.index.VectorIndex(s, s"$tmp/index")
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val records = emb.join(docs, emb("vec_id") === docs("doc_id"))
        .filter($"source".isin("src0", "src1", "src2"))
        .select($"source".as("title"), $"text", $"embedding".as("content_vector"),
          $"doc_id")
      idx.upsert(records, "doc_id")
      // stats mirror: insert-if-absent against an empty catalog (J2)
      val empty = Seq.empty[String].toDF("form_name")
      var mirror = graft.query.AppQueries
        .newForms(empty, idx.stats.select($"title".as("form_name")))
        .as[String].collect().toSeq.toDF("form_name")
      idx.deleteByForms(Seq("src2"))
      mirror = graft.query.AppQueries.mirrorDeleteForms(mirror, Seq("src2"))
        .as[String].collect().toSeq.toDF("form_name")
      val victims = idx.read.filter($"title" === "src0")
        .orderBy($"vector_id").limit(2)
        .select($"vector_id").as[String].collect().toSeq
      // ...and empty src1 out BY IDS (not by form) so the mirror goes
      // stale; one id-delete rewrite covers both
      val gone = idx.idsForForms(Seq("src1")).as[String].collect().toSeq
      idx.deleteByIds(victims ++ gone)
      // ...and prune-orphans brings it back in sync (`pipeline2.py:354-367`)
      val mirrorTitles = graft.query.AppQueries
        .pruneOrphans(mirror, idx.read.select($"title"))
        .as[String].collect().toSeq
      val statRows = idx.stats.orderBy($"title")
        .as[(String, Long)].collect().toSeq
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      (statRows.map { case (t0, n) => ("index", t0, n) } ++
        mirrorTitles.sorted.map(t0 => ("mirror", t0, 1L)))
        .toDF("kind", "title", "n")
    }),


    // C6 end-to-end /askQuestion: deterministic question embedding, filtered
    // top-k, context assembly with the reference's exact prompt shape
    // (`QA_using_pinecone.py:45-55`). Rows-only (context is engine-defined).
    "q45_ask_context" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val index = emb.join(docs, emb("vec_id") === docs("doc_id"))
        .select($"vec_id".cast("string").as("vector_id"),
          $"embedding".as("content_vector"), $"source".as("title"),
          substring($"text", 1, 60).as("text"))
      val question = "which table has the highest aggregate value"
      val (hits, context) = graft.query.Retriever.ask(
        index, question, Seq("src1", "src3", "src5"),
        new graft.embed.DeterministicEmbedder(64), k = 2)
      val ids = hits.select($"vector_id").as[String].collect().toSeq
      Seq((question, ids.mkString(","), context)).toDF("question", "top_ids", "context")
    }),


    // Multi-probe sign-LSH ANN: each query probes its own bucket plus all
    // Hamming-1 neighbors (planes+1 probes) — only the broadcast QUERY side
    // replicates; the corpus is scanned once, joined by bucket equi-join,
    // top-k window spans the probed buckets.
    "q52_ann_multiprobe" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("query_id"), $"embedding")
      graft.operators.SimilaritySearch.lshTopKMultiProbe(emb, queries, 3, 64, 4)
        .select($"query_id", $"neighbor_id", fq4($"score").as("score"),
          $"rank".cast("long").as("rank"))
        .orderBy($"query_id", $"rank")
    }),


    // BM25 lexical top-k retrieval (k1=1.2, b=0.75) — the lexical
    // complement of the cosine ANN family. Per-term tf and the document
    // length are SCAN-SIDE array ops on the tokens (the query's term list
    // is a literal, so no explode and no (doc, term) shuffle exists at
    // all); the corpus-global stats (N, avgdl, per-term df) are one
    // single-row aggregate cross-joined back as a broadcast. Two corpus
    // scans total — inherent, idf is corpus-global — then a pure scan-side
    // score and a TakeOrderedAndProject top-k. At 100 TB nothing shuffles
    // but one stats row. idf is floor-quantized at 1e-4 so the only
    // transcendental (ln) can't flip the hash across engines; everything
    // else is exact integer-derived double math mirrored operation-for-
    // operation in the oracle.
    "q66_bm25" -> ((s, dir) => {
      import s.implicits._
      bm25Scores(s, dir)
        .select($"doc_id", fq4($"score").as("score"))
        .orderBy($"score".desc, $"doc_id").limit(10)
    }),


    // Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 lexical
    // ranking and the cosine vector ranking for the same information need
    // (query vec_id 0's embedding; doc_id and vec_id are aligned 1:1 in
    // the testdata). Each side is reduced to its top 20 FIRST via
    // TakeOrderedAndProject — rank positions are then assigned on k-row
    // results (single-partition window over 20 rows, not the corpus), the
    // standard scale shape for fusing rankers. Missing-from-one-list docs
    // contribute 0 from that list (full outer join + coalesce), per the
    // RRF paper's convention. The fuse itself plans as a SortMergeJoin —
    // Spark cannot broadcast a full-outer join — but both inputs are
    // top-k-bounded (20 rows each at ANY corpus size), so the exchange it
    // sorts is k rows, not data.
    "q67_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val lexTop = bm25Scores(s, dir)
        .orderBy($"score".desc, $"doc_id").limit(20)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy($"score".desc, $"doc_id")).cast("long"))
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter($"vec_id" === 0).select($"embedding")
        .head().getSeq[Float](0).toArray
      val vecTop = emb.filter($"vec_id" =!= 0)
        .select($"vec_id".as("doc_id"),
          VectorFunctions.cosineSim($"embedding", lit(qv)).as("vscore"))
        .orderBy($"vscore".desc, $"doc_id").limit(20)
        .withColumn("vec_rank",
          row_number().over(Window.orderBy($"vscore".desc, $"doc_id")).cast("long"))
      graft.query.LexicalRetriever.rrfFuse(
          lexTop.select($"doc_id", $"lex_rank"),
          vecTop.select($"doc_id", $"vec_rank"),
          "doc_id", "lex_rank", "vec_rank")
        .orderBy($"rrf".desc, $"doc_id").limit(10)
    }),


    // Two-stage quantized ANN — the memory-bound ANN shape: int8-quantize
    // the corpus (the stored index is 4x smaller; here derived inline),
    // rank candidates by the EXACT INTEGER dot of quantized vectors,
    // rescore the top-8 survivors with the true float cosine, emit top-3.
    // floor(x*scale + 0.5) quantization keeps both engines bit-identical
    // (round() is half-even vs half-away across engines), and qdot rides to
    // the output as integer evidence of the quantized stage.
    "q80_quantized_ann" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch.quantizedTopK(
          emb,
          emb.filter($"vec_id".isin(0, 1, 2))
            .select($"vec_id".as("query_id"), $"embedding"),
          k = 3, candidates = 8)
        .select($"query_id", $"neighbor_id", $"qdot",
          fq4($"score").as("score"), $"rank")
        .orderBy($"query_id", $"rank")
    }),


    // Hard-negative mining — the contrastive-training data op: for each
    // query vector, the top-3 most-similar corpus vectors with a DIFFERENT
    // label (nearest wrong answers). Same scale shape as brute-force ANN:
    // queries broadcast, one corpus scan, label inequality evaluated in the
    // broadcast join condition, per-query top-k window over the survivors.
    "q82_hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"),
          $"label".as("q_label"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"score".desc, $"vec_id")
      emb.join(broadcast(q), $"label" =!= $"q_label")
        .withColumn("score",
          graft.functions.VectorFunctions.cosineSim($"embedding", $"query_vec"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"query_id", $"vec_id".as("neighbor_id"), $"label",
          fq4($"score").as("score"), $"rank")
        .orderBy($"query_id", $"rank")
    }),


    // Retrieval-quality evaluation — the metric layer every ANN deployment
    // ships with: recall@10 and MRR-of-the-true-NN for the single-probe
    // sign-LSH index (q31's bucketing) against brute-force ground truth.
    // Both rankers are the library operators (one corpus scan each, queries
    // broadcast); truth and candidates are k-row-per-query relations, so
    // every join after them is output-sized. At 100 TB you run this on a
    // SAMPLED query set — the eval cost is the two scans, never a cross
    // product. Metrics are exact rationals until the final quantized
    // division (n_hit/10, 1/rank).
    "q101_retrieval_eval" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
      // truth and candidates are each read twice (hit count + NN-rank
      // probe): stage the k·q-row results, not the scans
      val truth = Tuning.cut(graft.operators.SimilaritySearch
        .bruteForceTopK(emb, qs, k = 10))
      val cand = Tuning.cut(graft.operators.SimilaritySearch
        .lshTopK(emb, qs, k = 10, dim = 64, planes = 4))
      val hits = truth.select($"query_id", $"neighbor_id")
        .join(cand.select($"query_id", $"neighbor_id"), Seq("query_id", "neighbor_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("n_hit"))
      val nn1 = truth.filter($"rank" === 1).select($"query_id", $"neighbor_id")
      val rr = nn1
        .join(cand.select($"query_id", $"neighbor_id", $"rank"),
          Seq("query_id", "neighbor_id"), "left")
        .select($"query_id",
          coalesce(lit(1.0) / $"rank".cast("double"), lit(0.0)).as("mrr"))
      qs.select($"query_id")
        .join(hits, Seq("query_id"), "left")
        .join(rr, Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"n_hit", lit(0L)).as("n_hit"),
          fq4(coalesce($"n_hit", lit(0L)).cast("double") / lit(10.0)).as("recall4"),
          fq4(coalesce($"mrr", lit(0.0))).as("mrr4"))
        .orderBy($"query_id")
    }),


    // Embedding-outlier pruning — the data-quality sibling of q105: flag
    // vectors whose similarity to their OWN cluster centroid sits more
    // than 2σ below the cluster mean (mislabeled/garbage embeddings drift
    // toward cell boundaries). The z-test runs in EXACT integer math on
    // scan-quantized scores: cos4 = floor(cos·10⁴), and z² > 4 below the
    // mean is the cross-multiplied integer inequality
    // (n·cos4 − S)² > 4·(n·S2 − S²) — no float mean, no engine-ordered
    // variance, any partitioning reproduces it. One scan (assignment) +
    // one cluster-sized agg broadcast back.
    "q109_embedding_outliers" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = graft.operators.IvfIndex.centroids(emb, k = 8, iters = 0)
      val cells = Tuning.cut(graft.operators.IvfIndex.assign(emb, cents, "vec_id", "embedding")
        .join(broadcast(cents), "centroid_id")
        .select($"centroid_id", $"vec_id",
          floor(graft.functions.VectorFunctions.cosineSim($"embedding", $"centroid")
            * lit(10000.0)).cast("long").as("cos4"))) // stats + flagging read the scored cells
      val stats = cells.groupBy($"centroid_id")
        .agg(count(lit(1)).as("n"), sum($"cos4").as("s1"),
          sum($"cos4" * $"cos4").as("s2"))
      cells.join(broadcast(stats), "centroid_id")
        .groupBy($"centroid_id")
        .agg(first($"n").as("n_vecs"),
          sum(when($"n" * $"cos4" < $"s1" &&
            ($"n" * $"cos4" - $"s1") * ($"n" * $"cos4" - $"s1")
              > lit(4L) * ($"n" * $"s2" - $"s1" * $"s1"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy($"centroid_id")
    }),


    // Matryoshka-truncation retrieval eval (Kusupati et al.,
    // arXiv:2205.13147): how much recall@10 / NN-rank survives when the
    // index stores only the FIRST 16 of 64 dimensions — the
    // dimension-adaptive deployment question (4× less index to scan, same
    // q101 metric layer). Truncated scoring is a scan-side slice; both
    // rankers are one corpus scan with broadcast queries; every join after
    // the k-row rankings is output-sized.
    "q111_matryoshka_eval" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"embedding")
      val truth = Tuning.cut(graft.operators.SimilaritySearch
        .bruteForceTopK(emb, qs, k = 10))
      // candidate ranking sees ONLY the 16-dim prefix of both sides
      val emb16 = emb.select($"vec_id", slice($"embedding", 1, 16).as("embedding"))
      val qs16 = qs.select($"query_id", slice($"embedding", 1, 16).as("embedding"))
      val cand = Tuning.cut(graft.operators.SimilaritySearch
        .bruteForceTopK(emb16, qs16, k = 10, qidCol = "query_id"))
      val hits = truth.select($"query_id", $"neighbor_id")
        .join(cand.select($"query_id", $"neighbor_id"), Seq("query_id", "neighbor_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("n_hit"))
      val nn1 = truth.filter($"rank" === 1).select($"query_id", $"neighbor_id")
      val rr = nn1
        .join(cand.select($"query_id", $"neighbor_id", $"rank"),
          Seq("query_id", "neighbor_id"), "left")
        .select($"query_id",
          coalesce(lit(1.0) / $"rank".cast("double"), lit(0.0)).as("mrr"))
      qs.select($"query_id")
        .join(hits, Seq("query_id"), "left")
        .join(rr, Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"n_hit", lit(0L)).as("n_hit"),
          fq4(coalesce($"n_hit", lit(0L)).cast("double") / lit(10.0)).as("recall4"),
          fq4(coalesce($"mrr", lit(0.0))).as("mrr4"))
        .orderBy($"query_id")
    }),


    // Positional inverted index + phrase queries — exact phrase constraints
    // dense retrieval cannot guarantee (InvertedIndex scaladoc has the
    // 100 TB shape: postings written once bucketed by term; a k-term
    // phrase reads only its own terms' postings and runs k−1 equi-joins on
    // one shared (doc, pos) partitioning). The postings relation is staged
    // once (checkpoint — modelling the written index) and probed by
    // both phrase chains.
    "q113_phrase_search" -> ((s, dir) => {
      import s.implicits._
      val post = Tuning.cut(graft.query.InvertedIndex
        .postings(t(s, dir, "documents"), "doc_id", "text"))
      def hits(phrase: Seq[String]) =
        graft.query.InvertedIndex.phraseMatches(post, phrase)
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_occ"), min($"pos").cast("long").as("first_pos"))
          .select(lit(phrase.mkString(" ")).as("phrase"), $"doc_id", $"n_occ", $"first_pos")
      hits(Seq("table", "scan")).union(hits(Seq("hash", "join")))
        .orderBy($"phrase", $"n_occ".desc, $"doc_id")
    }),


    // Embedding moment (Gram/covariance) matrix — the input to PCA
    // whitening and decorrelation diagnostics over a corpus's embedding
    // space. EXACT integer math end-to-end: components are quantized at
    // the scan (floor(x·10⁴)), so Σvᵢvⱼ, Σvᵢ and the covariance numerator
    // n·Sᵢⱼ − Sᵢ·Sⱼ are plain integer sums — any engine, any partitioning,
    // bit-identical. Shape: the d² explode is inherent to a dense Gram
    // computation, but the SHUFFLE carries only d(d+1)/2 = 2080 keys
    // (map-side partial sums do the reduction); the 64×64 result is
    // driver-sized, ready for an eigen-solve. A BLAS mapPartitions
    // variant would cut the explode constant, not the plan shape.
    "q122_gram_matrix" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "embeddings")
        .select($"vec_id",
          transform($"embedding", x => floor(x.cast("double") * 10000.0).cast("long")).as("e4"))
        .select($"vec_id", $"e4", posexplode($"e4")).toDF("vec_id", "e4", "i", "vi")
        .select($"vec_id", $"i", $"vi", posexplode($"e4")).toDF("vec_id", "i", "vi", "j", "vj")
        .filter($"j" >= $"i")
        .groupBy($"i".cast("long").as("i"), $"j".cast("long").as("j"))
        .agg(count(lit(1)).as("n_vecs"), sum($"vi" * $"vj").as("s_ij"),
          sum($"vi").as("s_i"), sum($"vj").as("s_j"))
        .select($"i", $"j", $"n_vecs", $"s_ij", $"s_i", $"s_j",
          ($"n_vecs" * $"s_ij" - $"s_i" * $"s_j").as("cov_num"))
        .orderBy($"i", $"j")
    }),


    // MMR-diversified retrieval: brute-force top-8 candidates per query,
    // then greedy λ=0.7 re-rank trades relevance against redundancy —
    // near-duplicate passages stop crowding the context window a plain
    // top-k hands to the LLM. Scores integer-quantize at 1e4 (the q30
    // precision) BEFORE the greedy loop so the pick sequence is exact
    // integer arithmetic the unrolled-CTE oracle replays; all MMR
    // relations are (queries × 8)-sized — the corpus is only touched by
    // the candidate generator.
    "q133_mmr_rerank" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("query_id"), $"embedding")
      val cand = Tuning.cut(graft.operators.SimilaritySearch.bruteForceTopK(emb, queries, 8)
        .select($"query_id", $"neighbor_id",
          floor($"score" * 10000.0).cast("long").as("rel_u"))) // candidate set feeds pairs AND the loop
      val vecs = emb.select($"vec_id", $"embedding")
      val pairs = cand.select($"query_id", $"neighbor_id".as("id_a"))
        .join(cand.select($"query_id", $"neighbor_id".as("id_b")), Seq("query_id"))
        .filter($"id_a" =!= $"id_b")
        .join(vecs.select($"vec_id".as("id_a"), $"embedding".as("va")), Seq("id_a"))
        .join(vecs.select($"vec_id".as("id_b"), $"embedding".as("vb")), Seq("id_b"))
        .select($"query_id", $"id_a", $"id_b",
          floor(graft.functions.VectorFunctions.cosineSim($"va", $"vb") * 10000.0)
            .cast("long").as("sim_u"))
      graft.operators.MmrRerank.rerank(
          cand, "query_id", "neighbor_id", "rel_u",
          pairs, "id_a", "id_b", "sim_u",
          k = 3, lambdaNum = 7L, lambdaDen = 10L)
        .orderBy($"query_id", $"pick_rank")
    }),


    // Mutual-kNN clustering + label purity — the unsupervised structure
    // check on an embedding table (does the geometry agree with the
    // labels?). kNN is CELL-RESTRICTED: neighbors are searched inside the
    // vector's own IVF cell (q109's deterministic cells), so the pair
    // space is Σ|cell|² — bucketed, never corpus×corpus. The cell count is
    // DATA-DRIVEN (k = 0 → IvfIndex.autoK: one count, k = max(8,
    // ceil(n/64))), so cell INTERIORS stay ~64 vectors and within-cell
    // scoring is O(n·64) — linear — at any corpus size; the oracle
    // reproduces the same integer-ceil k. Mutuality (a ∈ top3(b) ∧
    // b ∈ top3(a)) is a self-join of the k-sized top lists; components
    // resolve by min-label propagation (Dedup.resolveClusters — one join
    // per round).
    "q143_knn_cluster_purity" -> ((s, dir) => {
      import s.implicits._
      knnClusterPurity(t(s, dir, "embeddings"))
    }),


    // Hard-negative mining for contrastive training (in-batch negatives
    // are too easy; the mined set is same-similarity different-label).
    // Queries broadcast against one corpus scan (q111's shape); pos = top
    // same-label neighbor, neg = top different-label neighbor, margin =
    // their quantized-similarity gap, n_harder = negatives at or above the
    // positive (0 ⇒ the positive wins the retrieval). Every join after
    // the scan is query-count-sized.
    "q145_hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"label".as("qlabel"))
      val scored = Tuning.cut(emb.crossJoin(broadcast(qs))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"qlabel", $"vec_id", $"label",
          floor(graft.functions.VectorFunctions.cosineSim($"embedding", $"qv")
            * lit(10000.0)).cast("long").as("cos4"))) // one scored scan feeds pos/neg/n_harder
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"cos4".desc, $"vec_id")
      val pos = scored.filter($"label" === $"qlabel")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"query_id", $"vec_id".as("pos_id"), $"cos4".as("pos_u"))
      val neg = scored.filter($"label" =!= $"qlabel")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"query_id", $"vec_id".as("neg_id"), $"cos4".as("neg_u"))
      val harder = scored.filter($"label" =!= $"qlabel")
        .join(broadcast(pos), Seq("query_id"))
        .filter($"cos4" >= $"pos_u")
        .groupBy($"query_id").agg(count(lit(1)).as("n_harder"))
      pos.join(neg, Seq("query_id"))
        .join(harder, Seq("query_id"), "left")
        .select($"query_id", $"pos_id", $"neg_id",
          (($"pos_u" - $"neg_u") / lit(10000.0)).as("margin4"),
          coalesce($"n_harder", lit(0L)).as("n_harder"))
        .orderBy($"query_id")
    }),


    // IVF nprobe sweep — the tuning report an ANN deployment reads before
    // fixing its recall/cost point: recall@10 vs the brute-force truth at
    // nprobe ∈ {1,2,4,8}. One corpus assignment scan + ONE candidate
    // scoring join feed all four sweep points (cell_rank ≤ nprobe filters
    // a shared scored relation — the sweep never rescans the corpus); the
    // brute truth is one more scan with the 16 queries broadcast. Output
    // is sweep-sized.
    "q158_ivf_probe_sweep" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val cents = graft.operators.IvfIndex.centroids(emb, k = 0, iters = 0)
      val cells = graft.operators.IvfIndex.assign(emb, cents, "vec_id", "embedding")
      // every centroid ranked per query — the probe order, k-sized per query
      val wq = Window.partitionBy($"query_id").orderBy($"csc".desc, $"centroid_id")
      val qcells = queries.crossJoin(broadcast(cents))
        .select($"query_id", $"qv", $"centroid_id",
          VectorFunctions.cosineSim($"qv", $"centroid").as("csc"))
        .withColumn("cell_rank", row_number().over(wq))
        .select($"query_id", $"qv", $"centroid_id", $"cell_rank")
      val cand = cells.join(broadcast(qcells), Seq("centroid_id"))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"cell_rank", $"vec_id",
          VectorFunctions.cosineSim($"embedding", $"qv").as("sc"))
      val wb = Window.partitionBy($"query_id").orderBy($"sc".desc, $"vec_id")
      val brute = emb.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          VectorFunctions.cosineSim($"embedding", $"qv").as("sc"))
        .withColumn("rn", row_number().over(wb)).filter($"rn" <= 10)
        .select($"query_id", $"vec_id")
      val sweep = Seq(1L, 2L, 4L, 8L).toDF("nprobe")
      val wk = Window.partitionBy($"nprobe", $"query_id")
        .orderBy($"sc".desc, $"vec_id")
      val hits = cand.join(broadcast(sweep), $"cell_rank" <= $"nprobe")
        .withColumn("rn", row_number().over(wk)).filter($"rn" <= 10)
        .join(brute, Seq("query_id", "vec_id"))
        .groupBy($"nprobe").agg(count(lit(1)).as("n_hits"))
      val nq = queries.agg(count(lit(1)).as("n_q"))
      sweep.join(hits, Seq("nprobe"), "left").crossJoin(broadcast(nq))
        .select($"nprobe", coalesce($"n_hits", lit(0L)).as("n_hits"),
          (expr("(coalesce(n_hits, 0) * 10000) div (n_q * 10)") / lit(10000.0))
            .as("recall4"))
        .orderBy($"nprobe")
    }),


    // Learned IVF centroids vs the seed grid — q158's sweep measured an
    // UNLEARNED grid (iters = 0: centroids are the k lowest-id vectors);
    // this query runs the same recall@10 sweep on BOTH grids after 2
    // deterministic Lloyd steps (assign → positional mean, empty cells
    // keep their centroid — all relational: the oracle replays the
    // posexplode+avg iteration in SQL, float-cast at each step like
    // meanVectors). Learned cells track the data distribution, so the
    // same nprobe budget recovers more of the brute-force truth — the
    // measured gap is the evidence the Lloyd machinery earns its cost.
    // One corpus assignment + one candidate-scoring join per grid; k is
    // data-driven (autoK) on both.
    "q166_ivf_learned" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      // resolve the data-driven k ONCE: each centroids(k = 0) call would
      // otherwise run its own corpus count action
      val autoK = graft.operators.IvfIndex.autoK(emb)
      val cents0 = graft.operators.IvfIndex.centroids(emb, k = autoK, iters = 0)
      val cents2 = graft.operators.IvfIndex.centroids(emb, k = autoK, iters = 2)
      val wb = Window.partitionBy($"query_id").orderBy($"sc".desc, $"vec_id")
      val brute = Tuning.cut(emb.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          VectorFunctions.cosineSim($"embedding", $"qv").as("sc"))
        .withColumn("rn", row_number().over(wb)).filter($"rn" <= 10)
        .select($"query_id", $"vec_id")) // 10·queries-sized truth feeds both sweeps
      def sweep(cents: DataFrame, grid: String): DataFrame = {
        val cells = graft.operators.IvfIndex.assign(emb, cents, "vec_id", "embedding")
        val wq = Window.partitionBy($"query_id").orderBy($"csc".desc, $"centroid_id")
        val qcells = queries.crossJoin(broadcast(cents))
          .select($"query_id", $"qv", $"centroid_id",
            VectorFunctions.cosineSim($"qv", $"centroid").as("csc"))
          .withColumn("cell_rank", row_number().over(wq))
          .select($"query_id", $"qv", $"centroid_id", $"cell_rank")
        val cand = Tuning.cut(cells.join(broadcast(qcells), Seq("centroid_id"))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"cell_rank", $"vec_id",
            VectorFunctions.cosineSim($"embedding", $"qv").as("sc"))) // one scored relation feeds all sweep points
        val sweepDf = Seq(1L, 2L, 4L).toDF("nprobe")
        val wk = Window.partitionBy($"nprobe", $"query_id")
          .orderBy($"sc".desc, $"vec_id")
        val hits = cand.join(broadcast(sweepDf), $"cell_rank" <= $"nprobe")
          .withColumn("rn", row_number().over(wk)).filter($"rn" <= 10)
          .join(brute, Seq("query_id", "vec_id"))
          .groupBy($"nprobe").agg(count(lit(1)).as("n_hits"))
        val nq = queries.agg(count(lit(1)).as("n_q"))
        sweepDf.join(hits, Seq("nprobe"), "left").crossJoin(broadcast(nq))
          .select(lit(grid).as("grid"), $"nprobe",
            coalesce($"n_hits", lit(0L)).as("n_hits"),
            (expr("(coalesce(n_hits, 0) * 10000) div (n_q * 10)") / lit(10000.0))
              .as("recall4"))
      }
      sweep(cents0, "seed").unionByName(sweep(cents2, "lloyd2"))
        .orderBy($"grid", $"nprobe")
    }),


    // Product-quantization ANN (Jégou, Douze & Schmid, "Product
    // quantization for nearest neighbor search", TPAMI 2011) — the
    // memory-compression member of the ANN family (q30 brute / q31-q52
    // LSH / q32-q158 IVF / q80 int8 / q111 matryoshka): 64-dim vectors
    // become EIGHT 4-bit-ish codes (one per 8-dim subspace, 16-centroid
    // codebook), and search scans codes with an asymmetric-distance LUT —
    // the raw vectors are never touched after encoding. Round 12: the
    // codebook is LLOYD-TRAINED per subspace (2 deterministic iterations
    // from the 16-lowest-id seed, [[graft.operators.PqCodebook.train]] —
    // exact-integer micro-sum means, so both engines and any partitioning
    // reproduce every code bit-exactly; the oracle replays the full
    // train→encode→LUT→ADC chain in SQL), lifting mean recall@10 from
    // the raw seed grid's 0.30 to 0.3625 at sf0.01 (2 iterations is the
    // measured knee: 0→0.300, 1→0.331, 2→0.3625, 3+ plateaus — Lloyd
    // minimizes reconstruction error, not recall, so more steps don't
    // monotonically help at 16 probe queries; q181's exact re-rank
    // recovers the rest, 0.69 over the same codes). Encoding argmin-L2
    // is the argmax
    // of (dot − ‖c‖²/2) — exactly equivalent for a fixed input, and
    // expressible with the native codegen'd DotProduct — and ADC sums
    // micro-quantized LUT entries as BIGINTs so the score is
    // order-independent. Scale shape: the code table is n×8 small ints
    // (the 100 TB point — ~8 bytes/vector resident vs 256), the LUT is
    // queries×128 rows broadcast, ADC is one broadcast join + a
    // partial-agg sum keyed (query, vec), and each train iteration's
    // corpus-side work is ONE sub-vector scan (AnnIndexSpec pins the
    // clone-invariance closed form). Output: recall@10 of the
    // compressed scan vs the exact MIPS truth per query.
    "q178_pq_ann" -> ((s, dir) => {
      import s.implicits._
      val m = 8; val sub = 8; val kcode = 16
      val emb = t(s, dir, "embeddings")
      val cb = graft.operators.PqCodebook.train(emb, m, sub, kcode, iters = 2)
      val codes = graft.operators.PqCodebook.encode(emb, cb, m, sub)
      val queries = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val lut = graft.operators.PqCodebook.lut(queries, cb, m, sub)
      val adc = codes.join(broadcast(lut), Seq("s", "code"))
        .filter($"vec_id" =!= $"query_id")
        .groupBy($"query_id", $"vec_id")
        .agg(sum($"dot_u").as("adc_u"))
      val wq = Window.partitionBy($"query_id").orderBy($"adc_u".desc, $"vec_id")
      val pqTop = adc.withColumn("rn", row_number().over(wq)).filter($"rn" <= 10)
        .select($"query_id", $"vec_id")
      val wb = Window.partitionBy($"query_id").orderBy($"dot_u".desc, $"vec_id")
      val brute = emb.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          floor(VectorFunctions.dotProduct($"embedding", $"qv") * lit(1000000.0))
            .cast("long").as("dot_u"))
        .withColumn("rn", row_number().over(wb)).filter($"rn" <= 10)
        .select($"query_id", $"vec_id")
      pqTop.join(brute, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("nh"))
        .join(queries.select($"query_id"), Seq("query_id"), "right")
        .select($"query_id", coalesce($"nh", lit(0L)).as("n_hits"))
        .withColumn("recall4",
          expr("(n_hits * 10000) div 10") / lit(10000.0))
        .orderBy($"query_id")
    }),


    // Two-stage PQ retrieval — q178's ADC scan used the way production
    // systems actually use it (the re-ranking stage of Jégou et al. §V):
    // the compressed scan produces a CHEAP top-50 shortlist per query,
    // and only those ≤ 50 candidates are re-scored with the exact dot
    // against raw vectors. The measured point: re-ranking recovers most
    // of the recall the 32× compression lost (q178's trained-code mean
    // 0.3625 → 0.69 after re-rank at sf0.01 → the
    // shortlist's ceiling), while the exact-distance work drops from
    // n·queries to 50·queries — at 100 TB the raw vectors are touched
    // for 50 rows per query instead of the corpus. Output per query:
    // recall@10 of the raw ADC ranking vs recall@10 after re-ranking,
    // plus the shortlist ceiling (how many of the true top-10 the
    // shortlist contains at all — re-rank can never beat it).
    "q181_pq_rerank" -> ((s, dir) => {
      import s.implicits._
      val m = 8; val sub = 8; val kcode = 16; val shortlist = 50
      val emb = t(s, dir, "embeddings")
      // round 12: Lloyd-trained codebook (q178's train, shared machinery)
      val cb = graft.operators.PqCodebook.train(emb, m, sub, kcode, iters = 2)
      val codes = graft.operators.PqCodebook.encode(emb, cb, m, sub)
      val queries = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val lut = graft.operators.PqCodebook.lut(queries, cb, m, sub)
      val wq = Window.partitionBy($"query_id").orderBy($"adc_u".desc, $"vec_id")
      val short = Tuning.cut(codes.join(broadcast(lut), Seq("s", "code"))
        .filter($"vec_id" =!= $"query_id")
        .groupBy($"query_id", $"vec_id")
        .agg(sum($"dot_u").as("adc_u"))
        .withColumn("rn", row_number().over(wq)).filter($"rn" <= shortlist)
        .select($"query_id", $"vec_id", $"rn")) // shortlist feeds raw-ADC top-10 + rerank
      // exact re-score of ONLY the shortlist: 50 raw-vector reads/query
      val wr = Window.partitionBy($"query_id").orderBy($"ex_u".desc, $"vec_id")
      val reranked = short
        .join(emb.select($"vec_id", $"embedding"), Seq("vec_id"))
        .join(broadcast(queries), Seq("query_id"))
        .select($"query_id", $"vec_id",
          floor(VectorFunctions.dotProduct($"embedding", $"qv") * lit(1000000.0))
            .cast("long").as("ex_u"))
        .withColumn("rn2", row_number().over(wr)).filter($"rn2" <= 10)
        .select($"query_id", $"vec_id")
      val wb = Window.partitionBy($"query_id").orderBy($"dot_u".desc, $"vec_id")
      val brute = Tuning.cut(emb.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          floor(VectorFunctions.dotProduct($"embedding", $"qv") * lit(1000000.0))
            .cast("long").as("dot_u"))
        .withColumn("rn", row_number().over(wb)).filter($"rn" <= 10)
        .select($"query_id", $"vec_id")) // truth feeds all three recall columns
      def hits(cand: DataFrame, name: String) = cand
        .join(brute, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(count(lit(1)).as(name))
      val adcTop = short.filter($"rn" <= 10).select($"query_id", $"vec_id")
      queries.select($"query_id")
        .join(hits(adcTop, "nh_pq"), Seq("query_id"), "left")
        .join(hits(reranked, "nh_rr"), Seq("query_id"), "left")
        .join(hits(short.select($"query_id", $"vec_id"), "nh_ceil"),
          Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"nh_pq", lit(0L)).as("n_hits_pq"),
          coalesce($"nh_rr", lit(0L)).as("n_hits_rerank"),
          coalesce($"nh_ceil", lit(0L)).as("n_in_shortlist"))
        .withColumn("recall_pq4", expr("(n_hits_pq * 10000) div 10") / lit(10000.0))
        .withColumn("recall_rerank4",
          expr("(n_hits_rerank * 10000) div 10") / lit(10000.0))
        .orderBy($"query_id")
    }),


    // IVFADC — the q32 IVF cell index COMPOSED with the q178 PQ codes
    // (Jégou et al. §VI; the FAISS-default shape): the coarse quantizer
    // prunes the corpus to the query's nprobe nearest cells, and only
    // those candidates' 8-byte codes are ADC-scored — neither raw
    // vectors nor the full code table are touched per query. The sweep
    // measures the two-level trade: candidates examined (the cost) vs
    // recall@10 against the exact MIPS truth, per nprobe ∈ {1,2,4,8}.
    // Both levels are data-driven-k and deterministic; ADC sums are
    // BIGINT micro-units (order-free).
    "q184_ivfadc" -> ((s, dir) => {
      import s.implicits._
      val m = 8; val sub = 8; val kcode = 16
      val emb = t(s, dir, "embeddings")
      val cents = graft.operators.IvfIndex.centroids(emb, k = 0, iters = 0)
      val cells = graft.operators.IvfIndex
        .assign(emb, cents, "vec_id", "embedding")
        .select($"vec_id", $"centroid_id")
      // round 12: Lloyd-trained codebook (q178's train, shared machinery)
      val cb = graft.operators.PqCodebook.train(emb, m, sub, kcode, iters = 2)
      val codes = graft.operators.PqCodebook.encode(emb, cb, m, sub)
        .join(cells, Seq("vec_id"))
      val queries = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val wc = Window.partitionBy($"query_id").orderBy($"csc".desc, $"centroid_id")
      val qcells = queries.crossJoin(broadcast(cents))
        .select($"query_id", $"centroid_id",
          VectorFunctions.cosineSim($"qv", $"centroid").as("csc"))
        .withColumn("cell_rank", row_number().over(wc))
        .select($"query_id", $"centroid_id", $"cell_rank")
      val lut = graft.operators.PqCodebook.lut(queries, cb, m, sub)
      // one scored relation at the widest nprobe feeds every sweep point
      val maxProbe = 8
      val cand = codes
        .join(broadcast(qcells.filter($"cell_rank" <= maxProbe)), Seq("centroid_id"))
        .filter($"vec_id" =!= $"query_id")
        .join(broadcast(lut), Seq("query_id", "s", "code"))
        .groupBy($"query_id", $"vec_id", $"cell_rank")
        .agg(sum($"dot_u").as("adc_u"))
      val wb = Window.partitionBy($"query_id").orderBy($"dot_u".desc, $"vec_id")
      val brute = emb.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          floor(VectorFunctions.dotProduct($"embedding", $"qv") * lit(1000000.0))
            .cast("long").as("dot_u"))
        .withColumn("rn", row_number().over(wb)).filter($"rn" <= 10)
        .select($"query_id", $"vec_id")
      val sweep = Seq(1L, 2L, 4L, 8L).toDF("nprobe")
      val wk = Window.partitionBy($"nprobe", $"query_id")
        .orderBy($"adc_u".desc, $"vec_id")
      val scored = Tuning.cut(cand.join(broadcast(sweep), $"cell_rank" <= $"nprobe")) // candidate counts + top-k both read it
      val hits = scored
        .withColumn("rn", row_number().over(wk)).filter($"rn" <= 10)
        .join(brute, Seq("query_id", "vec_id"))
        .groupBy($"nprobe").agg(count(lit(1)).as("n_hits"))
      val candCounts = scored.groupBy($"nprobe")
        .agg(count(lit(1)).as("n_candidates"))
      val nq = broadcast(queries.agg(count(lit(1)).as("n_q")))
      sweep.join(candCounts, Seq("nprobe"), "left")
        .join(hits, Seq("nprobe"), "left").crossJoin(nq)
        .select($"nprobe",
          coalesce($"n_candidates", lit(0L)).as("n_candidates"),
          coalesce($"n_hits", lit(0L)).as("n_hits"),
          (expr("(coalesce(n_hits, 0) * 10000) div (n_q * 10)") / lit(10000.0))
            .as("recall4"))
        .orderBy($"nprobe")
    }),


    // Proximity (minimum-span) ranking — the IR scorer between q113's
    // exact phrase match and q66's bag-of-words BM25: for docs containing
    // BOTH query terms, the smallest distance between an occurrence of
    // each. The minimum is always achieved by an ADJACENT opposite-term
    // pair in the merged position order, so ONE doc-keyed window pass
    // computes it exactly: two conditional `last(..., ignoreNulls)`
    // running carries (nearest preceding position of each term), and
    // each row's gap is its position minus the OTHER term's carry. No
    // position×position self-join — the per-doc cost is the posting
    // length, the order an index shard already has.
    "q185_proximity_rank" -> ((s, dir) => {
      import s.implicits._
      val post = graft.query.InvertedIndex
        .postings(t(s, dir, "documents"), "doc_id", "text")
        .filter($"term".isin("hash", "join"))
        .select($"doc_id", $"pos".cast("long").as("pos"), $"term")
      val w = Window.partitionBy($"doc_id").orderBy($"pos", $"term")
        .rowsBetween(Window.unboundedPreceding, -1)
      val gaps = post
        .withColumn("prev_a",
          last(when($"term" === "hash", $"pos"), ignoreNulls = true).over(w))
        .withColumn("prev_b",
          last(when($"term" === "join", $"pos"), ignoreNulls = true).over(w))
        .withColumn("gap",
          when($"term" === "hash", $"pos" - $"prev_b")
            .otherwise($"pos" - $"prev_a"))
      gaps.groupBy($"doc_id")
        .agg(min($"gap").as("min_span"),
          sum(($"term" === "hash").cast("long")).as("n_a"),
          sum(($"term" === "join").cast("long")).as("n_b"))
        .filter($"min_span".isNotNull)
        .orderBy($"min_span", $"doc_id").limit(20)
    }),


    // Rocchio pseudo-relevance feedback (Rocchio 1971; the PRF move every
    // IR stack layers over its first-pass retriever): round-1 top-5 per
    // query → positional mean of the neighbor vectors (q166's exact float
    // policy: DOUBLE avg, FLOAT cast) → q' = 0.5·q + 0.5·mean → round-2
    // retrieval with the expanded query, top-8 over the 5-doc feedback
    // set (the PRF convention: the expanded list outsizes its seed).
    // Both retrieval passes broadcast the query side (queries are
    // thousands; the corpus is the 100 TB scan), and the feedback algebra
    // runs on queries×dim rows — negligible. `is_new` marks neighbors PRF
    // surfaced that round 1's top-5 missed: the query-drift audit a
    // deployed PRF ships with.
    "q195_rocchio_feedback" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("query_id"), $"embedding")
      val r1 = Tuning.cut(graft.operators.SimilaritySearch.bruteForceTopK(emb, queries, 5)
        .select($"query_id", $"neighbor_id"))
      val fb = r1
        .join(emb.select($"vec_id".as("neighbor_id"), $"embedding"), Seq("neighbor_id"))
        .select($"query_id", posexplode($"embedding").as(Seq("pos", "comp")))
        .groupBy($"query_id", $"pos")
        .agg(avg($"comp".cast("double")).as("m"))
      val q2 = queries
        .select($"query_id", posexplode($"embedding").as(Seq("pos", "qc")))
        .join(fb, Seq("query_id", "pos"))
        .groupBy($"query_id")
        .agg(expr("transform(array_sort(collect_list(struct(pos, " +
          "cast(0.5D * cast(qc as double) + 0.5D * m as float) as c))), x -> x.c)")
          .as("embedding"))
      graft.operators.SimilaritySearch.bruteForceTopK(emb, q2, 8)
        .select($"query_id", $"neighbor_id", fq4($"score").as("score4"),
          $"rank".cast("long").as("rank"))
        .join(r1.withColumn("seen", lit(0L)), Seq("query_id", "neighbor_id"), "left")
        .select($"query_id", $"rank", $"neighbor_id", $"score4",
          when($"seen".isNull, 1).otherwise(0).cast("int").as("is_new"))
        .orderBy($"query_id", $"rank")
    }),


    // RM3 lexical query expansion (Lavrenko & Croft 2001; the BM25-side
    // twin of q195's dense Rocchio): round-1 BM25 top-5 docs → top-3
    // expansion terms by feedback tf (stopwords/base terms excluded, ties
    // lexicographic) → round-2 BM25 over base ∪ expansion → top-10 with
    // the is_new drift audit. Scores use bm25MicroScores — per-term
    // contributions floor-quantized to BIGINT micro-units BEFORE the sum,
    // because with data-derived terms the oracle must aggregate
    // per-(doc, term) rows in scan order and a double sum would be
    // order-dependent. The two driver collects are QUERY PROCESSING, not
    // data movement: 5 feedback ids and 3 terms, invariant at any corpus
    // size; both scoring passes stay scan-side with one broadcast stats
    // row each (q66's shape).
    "q197_rm3_expansion" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val baseTerms = Bm25Terms
      val r1 = Tuning.cut(graft.query.LexicalRetriever.bm25MicroScores(
        docs, "doc_id", "text", baseTerms))
      val fbIds = r1.orderBy($"score_u".desc, $"doc_id").limit(5)
        .select($"doc_id").as[Long].collect().toSeq
      val stop = (baseTerms ++
        graft.operators.TextAnalysis.Markers.values.flatten).distinct
      val expTerms = docs.filter($"doc_id".isin(fbIds: _*))
        .select(explode(graft.operators.TextAnalysis.tokensCol($"text")).as("w"))
        .filter(!$"w".isin(stop.map(_.asInstanceOf[Any]): _*) && length($"w") >= 3)
        .groupBy($"w").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"w").limit(3)
        .select($"w").as[String].collect().toSeq
      val r2 = graft.query.LexicalRetriever.bm25MicroScores(
        docs, "doc_id", "text", baseTerms ++ expTerms)
      r2.orderBy($"score_u".desc, $"doc_id").limit(10)
        .withColumn("rank", row_number()
          .over(Window.orderBy($"score_u".desc, $"doc_id")).cast("long"))
        .join(r1.orderBy($"score_u".desc, $"doc_id").limit(10)
          .select($"doc_id", lit(0L).as("seen")), Seq("doc_id"), "left")
        .select($"rank", $"doc_id", $"score_u",
          when($"seen".isNull, 1).otherwise(0).cast("int").as("is_new"))
        .orderBy($"rank")
    }),


    // Persisted ANN build/serve split — q184's IVFADC restructured the
    // way production runs it (the build-once/query-many lifecycle of
    // pipeline 2's index, `pipeline2.py:117-150`, applied to the
    // COMPRESSED index): [[graft.index.AnnIndex.build]] scans the corpus
    // ONCE into centroids + PQ codebook + cell-PARTITIONED codes parquet;
    // [[graft.index.AnnIndex.query]] serves top-10 from the persisted
    // relations alone — the codes scan is partition-pruned to the probed
    // cells via a static isin over the partition column, and the raw
    // embedding corpus is never read on the serve path (plan-pinned in
    // AnnIndexSpec). The serve is eager: after the query batch's collect
    // it runs as one job (the SQL execution "AnnIndex.query": scan,
    // map-side ADC sums, one exchange by query, per-query top-k) and
    // returns the 160 rows as a local relation, which the orderBy sorts.
    // Arithmetic is bit-identical to q184's inline index (same encode
    // argmax, BIGINT LUT micro-units, tie order), which the oracle replays
    // relationally at nprobe = 4.
    "q210_ann_index_serve" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val idxDir = stagingDir(s, "graft_annidx")
      graft.index.AnnIndex.build(emb, idxDir)
      val queries = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      graft.index.AnnIndex.query(s, idxDir, queries, k = 10, nprobe = 4,
          excludeSelf = true)
        .orderBy($"query_id", $"rank")
    }),


    // Incremental ANN index refresh — the nightly-delta story (q167's
    // cost model applied to q210's persisted index): yesterday's corpus
    // (vec_id % 4 ≠ 0) is built once; tonight's arrivals (% 4 = 0) are
    // encoded against the STORED centroids + codebook — broadcast-sized
    // reads, the base corpus never rescanned, no existing code file
    // rewritten — and appended as new cell-partition files. The serve
    // read then sees the union. Quantization drift (deltas far from the
    // codebook's training corpus) is the documented rebuild trigger; the
    // oracle replays base-derived codebook + full-corpus codes.
    "q211_ann_delta_append" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(pmod($"vec_id", lit(4L)) =!= 0)
      val delta = emb.filter(pmod($"vec_id", lit(4L)) === 0)
      val idxDir = stagingDir(s, "graft_anndelta")
      graft.index.AnnIndex.build(base, idxDir)
      graft.index.AnnIndex.appendDelta(s, idxDir, delta)
      val queries = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      graft.index.AnnIndex.query(s, idxDir, queries, k = 10, nprobe = 4,
          excludeSelf = true)
        .orderBy($"query_id", $"rank")
    }),


    // Graded nDCG@10 for the multi-probe ANN index — the metric q101's
    // recall/MRR scorecard lacks: POSITION-WEIGHTED credit with graded
    // relevance (true-NN = 3, top-3 = 2, top-10 = 1 from brute-force
    // ground truth). The log2 discounts are ten LITERAL micro-quantized
    // constants (the q203 Benford treatment — no transcendental runs),
    // gains are 2^g − 1, and the ideal DCG is the constant
    // 7w₁+3w₂+3w₃+Σw₄₋₁₀ = 12805412 because every query's truth set
    // carries the same grade multiset — so nDCG is one exact integral
    // division. Eval cost: two corpus scans (truth + index), queries
    // broadcast; at 100 TB this runs on a sampled query set (q101's
    // contract).
    "q223_ndcg_eval" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("query_id"), $"embedding")
      val truth = graft.operators.SimilaritySearch
        .bruteForceTopK(emb, queries, 10)
        .select($"query_id", $"neighbor_id",
          when($"rank" === 1, 3L).when($"rank" <= 3, 2L).otherwise(1L).as("grade"))
      val got = graft.operators.SimilaritySearch
        .lshTopKMultiProbe(emb, queries, 10, 64, 4)
        .select($"query_id", $"neighbor_id", $"rank")
      val wArr = lit(Array(1000000L, 630929L, 500000L, 430676L, 386852L,
        356207L, 333333L, 315464L, 301029L, 289064L))
      got.join(truth, Seq("query_id", "neighbor_id"), "left")
        .select($"query_id", coalesce($"grade", lit(0L)).as("grade"),
          element_at(wArr, $"rank".cast("int")).as("wt"))
        .select($"query_id", ($"grade" > 0).cast("long").as("hit"),
          (when($"grade" === 3, 7L).when($"grade" === 2, 3L)
            .when($"grade" === 1, 1L).otherwise(0L) * $"wt").as("contrib"))
        .groupBy($"query_id")
        .agg(sum($"hit").as("n_hit"), sum($"contrib").as("dcg_u"))
        .select($"query_id", $"n_hit", $"dcg_u",
          expr("dcg_u * 1000000 div 12805412").as("ndcg_micro"))
        .orderBy($"query_id")
    }),


    // ANN-SERVED retrieval scorecard — the disclosure the index-served ask
    // path ([[graft.query.Retriever.askViaIndex]], q210's serve plumbing)
    // ships with: per query, the persisted-index top-10 joined against the
    // brute-force exact top-10 on the SAME queries, with the agreement
    // count and recall in exact basis points. Production reads this before
    // routing the ask path through the index: recall < 10000 bps is the
    // price of the partition-pruned serve (the q101 recall convention,
    // applied to the PERSISTED index). The serve side never scans the
    // embedding corpus (plan-pinned in AnnIndexSpec); the exact side is
    // the eval-only truth scan.
    "q244_ann_recall_serve" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val idxDir = stagingDir(s, "graft_annrecall")
      graft.index.AnnIndex.build(emb, idxDir)
      val queries = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val served = graft.index.AnnIndex
        .query(s, idxDir, queries, k = 10, nprobe = 4, excludeSelf = true)
        .select($"query_id", $"vec_id")
      val truth = graft.operators.SimilaritySearch
        .bruteForceTopK(emb,
          queries.select($"query_id", $"qv".as("embedding")), 10)
        .select($"query_id", $"neighbor_id".as("vec_id"), lit(1L).as("hit"))
      served.join(truth, Seq("query_id", "vec_id"), "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("n_served"),
          sum(coalesce($"hit", lit(0L))).as("n_agree"))
        .select($"query_id", $"n_served", $"n_agree",
          expr("n_agree * 10000 div 10").as("recall_bps"))
        .orderBy($"query_id")
    }),


    // SQL front door: temp views + spark.sql with the REGISTERED cosine_sim
    // Catalyst function — the full declarative surface, same plan as the
    // DataFrame form (filter pushdown + TakeOrderedAndProject).
    "q50_sql_interface" -> ((s, dir) => {
      graft.functions.VectorFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("v_embeddings")
      s.sql(
        """SELECT e.vec_id,
          |       floor(cosine_sim(e.embedding,
          |         (SELECT first(embedding) FROM v_embeddings WHERE vec_id = 7)) * 1e4) / 1e4 AS score
          |FROM v_embeddings e
          |WHERE e.label IN (5, 6, 7)
          |ORDER BY score DESC, vec_id
          |LIMIT 8""".stripMargin)
    }),
  )

  /** Shared oracle CTE chain replaying [[graft.operators.PqCodebook.train]]
    * (2 Lloyd iterations, exact-integer micro-sum means) over training
    * corpus `src` — `embeddings` for q178/q181/q184/q210/q244, the base
    * slice `b` for q211's stored-index semantics. Ends in the trained
    * `cb (s, code, cent)` plus the TRAINING sub-vector stream
    * `sv (vec_id, s, sv)` (reusable as the encode stream only when the
    * encode corpus equals `src`).
    */
  private def pqTrainCtes(src: String): String =
    s"""subs AS (SELECT unnest(range(0, 8)) AS s),
seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT 16)),
cb0 AS MATERIALIZED (SELECT s, code, embedding[s*8+1 : s*8+8] AS cent FROM seeds, subs),
sv AS MATERIALIZED (SELECT e.vec_id, subs.s, e.embedding[subs.s*8+1 : subs.s*8+8] AS sv FROM $src e, subs),
a1 AS (SELECT s, code, sv FROM (SELECT v.vec_id, v.s, v.sv, c.code, row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY (list_inner_product(v.sv::DOUBLE[], c.cent::DOUBLE[]) - list_inner_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) / 2.0) DESC, c.code) AS rn FROM sv v JOIN cb0 c ON v.s = c.s) WHERE rn = 1),
m1 AS (SELECT s, code, pos, (sum(cu)::DOUBLE / count(*)::DOUBLE / 1000000.0)::FLOAT AS m FROM (SELECT s, code, pos, floor(comp * 1000000.0)::BIGINT AS cu FROM (SELECT s, code, unnest(sv::DOUBLE[]) AS comp, unnest(range(1, 1 + len(sv))) AS pos FROM a1)) GROUP BY s, code, pos),
m1v AS (SELECT s, code, list(m ORDER BY pos) AS cent FROM m1 GROUP BY s, code),
cb1 AS MATERIALIZED (SELECT c.s, c.code, coalesce(v.cent, c.cent) AS cent FROM cb0 c LEFT JOIN m1v v ON c.s = v.s AND c.code = v.code),
a2 AS (SELECT s, code, sv FROM (SELECT v.vec_id, v.s, v.sv, c.code, row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY (list_inner_product(v.sv::DOUBLE[], c.cent::DOUBLE[]) - list_inner_product(c.cent::DOUBLE[], c.cent::DOUBLE[]) / 2.0) DESC, c.code) AS rn FROM sv v JOIN cb1 c ON v.s = c.s) WHERE rn = 1),
m2 AS (SELECT s, code, pos, (sum(cu)::DOUBLE / count(*)::DOUBLE / 1000000.0)::FLOAT AS m FROM (SELECT s, code, pos, floor(comp * 1000000.0)::BIGINT AS cu FROM (SELECT s, code, unnest(sv::DOUBLE[]) AS comp, unnest(range(1, 1 + len(sv))) AS pos FROM a2)) GROUP BY s, code, pos),
m2v AS (SELECT s, code, list(m ORDER BY pos) AS cent FROM m2 GROUP BY s, code),
cb AS MATERIALIZED (SELECT c.s, c.code, coalesce(v.cent, c.cent) AS cent FROM cb1 c LEFT JOIN m2v v ON c.s = v.s AND c.code = v.code)"""

  val oracleSql: Map[String, String] = Map(
    "q20_cosine_topk" ->
      """SELECT vec_id, floor(list_cosine_similarity(embedding::DOUBLE[], (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) * 10000.0) / 10000.0 AS score FROM embeddings WHERE label IN (0,1,2,3,4) ORDER BY score DESC, vec_id LIMIT 5""",

    "q34_embed_pipeline" -> pypdfPackerSql(
      """SELECT form AS FormName, form || '_' || (i-1)::VARCHAR AS ChunkId, len(regexp_extract_all(chunks[i], '""" + Tok + """'))::INT AS TokenCount, 16::BIGINT AS dim FROM allchunks"""),

    "q35_retrieval_e2e" ->
      s"""WITH ${questionVecCte("how do i join two large tables")}
SELECT vector_id, title, floor(sc * 10000.0) / 10000.0 AS score FROM
 (SELECT e.vec_id::VARCHAR AS vector_id, d.source AS title,
   list_cosine_similarity(e.embedding::DOUBLE[], (SELECT v FROM qv)) AS sc
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.source IN ('src0','src1','src2','src3','src4')
  ORDER BY sc DESC, vector_id LIMIT 5)""",

    "q45_ask_context" ->
      s"""WITH ${questionVecCte("which table has the highest aggregate value")},
topk AS (SELECT e.vec_id::VARCHAR AS vector_id, substr(d.text, 1, 60) AS text,
   list_cosine_similarity(e.embedding::DOUBLE[], (SELECT v FROM qv)) AS sc
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.source IN ('src1','src3','src5')
  ORDER BY sc DESC, vector_id LIMIT 2)
SELECT 'which table has the highest aggregate value' AS question,
  string_agg(vector_id, ',' ORDER BY sc DESC, vector_id) AS top_ids,
  string_agg(text, chr(10) ORDER BY sc DESC, vector_id) || chr(10) || chr(10) || ' Question: which table has the highest aggregate value' AS context
FROM topk""",

    "q30_ann_brute" ->
      """SELECT query_id, neighbor_id, floor(sc * 10000.0) / 10000.0 AS score, rn AS rank FROM (SELECT query_id, neighbor_id, sc, row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, neighbor_id) AS rn FROM (SELECT q.query_id, e.vec_id AS neighbor_id, list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sc FROM embeddings e, (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id IN (0,1,2)) q WHERE e.vec_id <> q.query_id)) WHERE rn <= 3 ORDER BY query_id, rank""",

    "q32_ivf_ann" ->
      """WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
corpcell AS (SELECT vec_id, embedding, centroid_id FROM (SELECT e.vec_id, e.embedding, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
probes AS (SELECT query_id, qv, centroid_id FROM (SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0,1,2)) q, cents c) WHERE rn <= 2)
SELECT query_id, neighbor_id, floor(sc * 10000.0) / 10000.0 AS score, rank FROM (
  SELECT p.query_id, e.vec_id AS neighbor_id, list_cosine_similarity(e.embedding::DOUBLE[], p.qv::DOUBLE[]) AS sc,
    row_number() OVER (PARTITION BY p.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], p.qv::DOUBLE[]) DESC, e.vec_id) AS rank
  FROM corpcell e JOIN probes p ON e.centroid_id = p.centroid_id
  WHERE e.vec_id <> p.query_id)
WHERE rank <= 3 ORDER BY query_id, rank""",

    "q33_exists_probe" ->
      """SELECT source, max(CASE WHEN n_chars > 350 THEN 1 ELSE 0 END)::BIGINT AS has_large, count(*) AS n_docs FROM documents GROUP BY source ORDER BY source""",

    "q37_index_lifecycle" ->
      """WITH recs AS (
  SELECT d.source AS title,
         row_number() OVER (PARTITION BY d.source ORDER BY e.vec_id) - 1 AS rn
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.source IN ('src0','src1','src2')),
ids AS (SELECT title, title || '_' || rn::VARCHAR AS vector_id FROM recs),
after_form_delete AS (SELECT * FROM ids WHERE title != 'src2'),
victims AS (SELECT vector_id FROM after_form_delete WHERE title = 'src0' ORDER BY vector_id LIMIT 2),
survivors AS (
  SELECT * FROM after_form_delete
  WHERE vector_id NOT IN (SELECT vector_id FROM victims) AND title != 'src1')
SELECT kind, title, n FROM (
  SELECT 'index' AS kind, title, count(*)::BIGINT AS n FROM survivors GROUP BY title
  UNION ALL
  SELECT 'mirror' AS kind, title, 1::BIGINT AS n FROM (SELECT DISTINCT title FROM survivors))
ORDER BY kind, title""",

    "q50_sql_interface" ->
      """SELECT vec_id, floor(list_cosine_similarity(embedding::DOUBLE[], (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7)) * 10000.0) / 10000.0 AS score FROM embeddings WHERE label IN (5, 6, 7) ORDER BY score DESC, vec_id LIMIT 8""",

    "q52_ann_multiprobe" ->
      s"""WITH bkt AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
qp AS (SELECT query_id, qv, xor(bucket, flip) AS bucket FROM (SELECT vec_id AS query_id, embedding AS qv, bucket FROM bkt WHERE vec_id IN (0,1,2)), (SELECT unnest([0,1,2,4,8]) AS flip))
SELECT query_id, neighbor_id, floor(sc * 10000.0) / 10000.0 AS score, rank FROM (
  SELECT q.query_id, c.vec_id AS neighbor_id, list_cosine_similarity(c.embedding::DOUBLE[], q.qv::DOUBLE[]) AS sc,
    row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, c.vec_id) AS rank
  FROM bkt c JOIN qp q ON c.bucket = q.bucket WHERE c.vec_id <> q.query_id)
WHERE rank <= 3 ORDER BY query_id, rank""",

    "q66_bm25" ->
      raw"""WITH base AS (
  SELECT doc_id, len(tk)::DOUBLE AS dl,
         len(list_filter(tk, x -> x = 'join'))::DOUBLE AS tf_join,
         len(list_filter(tk, x -> x = 'vector'))::DOUBLE AS tf_vector,
         len(list_filter(tk, x -> x = 'window'))::DOUBLE AS tf_window,
         len(list_filter(tk, x -> x = 'stream'))::DOUBLE AS tf_stream
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tk FROM documents)),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
         sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_join,
         sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_vector,
         sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_window,
         sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_stream
  FROM base)
SELECT doc_id, floor((
    (floor(ln(((n_docs - df_join + 0.5) / (df_join + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf_join * 2.2) / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))
  + (floor(ln(((n_docs - df_vector + 0.5) / (df_vector + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75 * dl / avgdl))
  + (floor(ln(((n_docs - df_window + 0.5) / (df_window + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl))
  + (floor(ln(((n_docs - df_stream + 0.5) / (df_stream + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf_stream * 2.2) / (tf_stream + 1.2 * (0.25 + 0.75 * dl / avgdl))
  ) * 10000.0) / 10000.0 AS score
FROM base CROSS JOIN stats
WHERE tf_join + tf_vector + tf_window + tf_stream > 0
ORDER BY score DESC, doc_id LIMIT 10""",

    "q67_hybrid_rrf" ->
      raw"""WITH base AS (
  SELECT doc_id, len(tk)::DOUBLE AS dl,
         len(list_filter(tk, x -> x = 'join'))::DOUBLE AS tf_join,
         len(list_filter(tk, x -> x = 'vector'))::DOUBLE AS tf_vector,
         len(list_filter(tk, x -> x = 'window'))::DOUBLE AS tf_window,
         len(list_filter(tk, x -> x = 'stream'))::DOUBLE AS tf_stream
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tk FROM documents)),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
         sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_join,
         sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_vector,
         sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_window,
         sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_stream
  FROM base),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS lex_rank
  FROM (SELECT doc_id, (
      (floor(ln(((n_docs - df_join + 0.5) / (df_join + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf_join * 2.2) / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))
    + (floor(ln(((n_docs - df_vector + 0.5) / (df_vector + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75 * dl / avgdl))
    + (floor(ln(((n_docs - df_window + 0.5) / (df_window + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl))
    + (floor(ln(((n_docs - df_stream + 0.5) / (df_stream + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf_stream * 2.2) / (tf_stream + 1.2 * (0.25 + 0.75 * dl / avgdl))
    ) AS score
    FROM base CROSS JOIN stats
    WHERE tf_join + tf_vector + tf_window + tf_stream > 0
    ORDER BY score DESC, doc_id LIMIT 20)),
vec AS (
  SELECT doc_id, row_number() OVER (ORDER BY vscore DESC, doc_id)::BIGINT AS vec_rank
  FROM (SELECT vec_id AS doc_id,
               list_cosine_similarity(embedding::DOUBLE[], (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS vscore
        FROM embeddings WHERE vec_id <> 0
        ORDER BY vscore DESC, doc_id LIMIT 20))
SELECT doc_id, lex_rank, vec_rank,
       floor((coalesce(1.0 / (lex_rank::DOUBLE + 60.0), 0.0) + coalesce(1.0 / (vec_rank::DOUBLE + 60.0), 0.0)) * 1000000.0) / 1000000.0 AS rrf
FROM lex FULL OUTER JOIN vec USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT 10""",

    "q80_quantized_ann" ->
      """WITH mx AS (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(x)))::DOUBLE AS mab FROM embeddings),
qz AS (SELECT vec_id, embedding, 127 / mab AS s,
         list_transform(embedding, x -> cast(floor(x::DOUBLE * (127 / mab) + 0.5) AS BIGINT)) AS qv
       FROM mx),
cand AS (SELECT query_id, neighbor_id, qdot, qdot::DOUBLE / (sq * sc2) AS ascore, emb_c, emb_q FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(0,64), i -> q.qv[i+1] * c.qv[i+1]))::BIGINT AS qdot,
         q.s AS sq, c.s AS sc2, c.embedding AS emb_c, q.embedding AS emb_q
  FROM qz c, (SELECT * FROM qz WHERE vec_id IN (0,1,2)) q
  WHERE c.vec_id <> q.vec_id)),
resc AS (SELECT query_id, neighbor_id, qdot,
           list_cosine_similarity(emb_c::DOUBLE[], emb_q::DOUBLE[]) AS sc
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ascore DESC, neighbor_id) AS r1 FROM cand)
         WHERE r1 <= 8)
SELECT query_id, neighbor_id, qdot, floor(sc * 10000.0) / 10000.0 AS score, rn AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, neighbor_id) AS rn FROM resc)
WHERE rn <= 3 ORDER BY query_id, rank""",

    "q82_hard_negatives" ->
      """SELECT query_id, neighbor_id, label, floor(sc * 10000.0) / 10000.0 AS score, rn AS rank FROM (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sc,
    row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id) AS rn
  FROM embeddings e, (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS q_label FROM embeddings WHERE vec_id IN (0,1,2)) q
  WHERE e.label <> q.q_label)
WHERE rn <= 3 ORDER BY query_id, rank""",

    "q101_retrieval_eval" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
truth AS (SELECT query_id, neighbor_id, rn FROM (SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
b AS (SELECT vec_id, embedding, list_sum(list_transform(range(0,4), p -> CASE WHEN list_sum(list_transform(range(0,64), i -> embedding[i+1]::DOUBLE * ((('0x' || substr(md5('plane:' || p::VARCHAR || ':' || i::VARCHAR),1,15))::BIGINT % 2001) - 1000) / 1000.0)) > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS bucket FROM embeddings),
cand AS (SELECT query_id, neighbor_id, rn FROM (SELECT qq.query_id, e.vec_id AS neighbor_id, row_number() OVER (PARTITION BY qq.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], qq.qv) DESC, e.vec_id) AS rn FROM b e JOIN (SELECT q.query_id, q.qv, b.bucket FROM q JOIN b ON b.vec_id = q.query_id) qq ON e.bucket = qq.bucket WHERE e.vec_id <> qq.query_id) WHERE rn <= 10),
hits AS (SELECT query_id, count(*) AS n_hit FROM truth t JOIN cand c USING (query_id, neighbor_id) GROUP BY query_id),
rr AS (SELECT t.query_id, coalesce(1.0::DOUBLE / c.rn::DOUBLE, 0.0) AS mrr FROM (SELECT query_id, neighbor_id FROM truth WHERE rn = 1) t LEFT JOIN cand c USING (query_id, neighbor_id))
SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
       floor(coalesce(n_hit, 0)::DOUBLE / 10.0 * 10000.0) / 10000.0 AS recall4,
       floor(coalesce(mrr, 0.0) * 10000.0) / 10000.0 AS mrr4
FROM q LEFT JOIN hits USING (query_id) LEFT JOIN rr USING (query_id) ORDER BY q.query_id""",

    "q109_embedding_outliers" ->
      """WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
cells AS (SELECT vec_id, centroid_id, floor(sc * 10000.0)::BIGINT AS cos4 FROM (SELECT e.vec_id, c.centroid_id, list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sc, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
stats AS (SELECT centroid_id, count(*)::BIGINT AS n, sum(cos4)::BIGINT AS s1, sum(cos4 * cos4)::BIGINT AS s2 FROM cells GROUP BY centroid_id)
SELECT centroid_id, min(n)::BIGINT AS n_vecs,
       sum(CASE WHEN n * cos4 < s1 AND (n * cos4 - s1) * (n * cos4 - s1) > 4 * (n * s2 - s1 * s1) THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM cells JOIN stats USING (centroid_id) GROUP BY centroid_id ORDER BY centroid_id""",

    "q111_matryoshka_eval" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, (embedding[1:16])::DOUBLE[] AS qv16 FROM embeddings WHERE vec_id < 10),
truth AS (SELECT query_id, neighbor_id, rn FROM (SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
cand AS (SELECT query_id, neighbor_id, rn FROM (SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity((e.embedding[1:16])::DOUBLE[], q.qv16) DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
hits AS (SELECT query_id, count(*) AS n_hit FROM truth t JOIN cand c USING (query_id, neighbor_id) GROUP BY query_id),
rr AS (SELECT t.query_id, coalesce(1.0::DOUBLE / c.rn::DOUBLE, 0.0) AS mrr FROM (SELECT query_id, neighbor_id FROM truth WHERE rn = 1) t LEFT JOIN cand c USING (query_id, neighbor_id))
SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
       floor(coalesce(n_hit, 0)::DOUBLE / 10.0 * 10000.0) / 10000.0 AS recall4,
       floor(coalesce(mrr, 0.0) * 10000.0) / 10000.0 AS mrr4
FROM q LEFT JOIN hits USING (query_id) LEFT JOIN rr USING (query_id) ORDER BY q.query_id""",

    "q113_phrase_search" ->
      raw"""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS toks FROM documents),
occ AS (SELECT 'table scan' AS phrase, doc_id, list_filter(range(1, len(toks)+1), i -> toks[i] = 'table' AND toks[i+1] = 'scan') AS hits FROM tk
        UNION ALL
        SELECT 'hash join' AS phrase, doc_id, list_filter(range(1, len(toks)+1), i -> toks[i] = 'hash' AND toks[i+1] = 'join') AS hits FROM tk)
SELECT phrase, doc_id, len(hits)::BIGINT AS n_occ, list_min(hits)::BIGINT AS first_pos
FROM occ WHERE len(hits) > 0 ORDER BY phrase, n_occ DESC, doc_id""",

    "q122_gram_matrix" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 10000.0)::BIGINT) AS e4 FROM embeddings),
x AS (SELECT vec_id, i, e4[i+1] AS vi, j, e4[j+1] AS vj FROM e, (SELECT unnest(range(0,64)) AS i), (SELECT unnest(range(0,64)) AS j) WHERE j >= i)
SELECT i::BIGINT AS i, j::BIGINT AS j, count(*)::BIGINT AS n_vecs, sum(vi*vj)::BIGINT AS s_ij, sum(vi)::BIGINT AS s_i, sum(vj)::BIGINT AS s_j, (count(*) * sum(vi*vj) - sum(vi)*sum(vj))::BIGINT AS cov_num
FROM x GROUP BY i, j ORDER BY i, j""",

    // q133 replays the greedy integer argmax as three unrolled picks —
    // recursion-free, so each step is plain window+join SQL
    "q133_mmr_rerank" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id IN (0,1,2)),
cand AS (SELECT query_id, neighbor_id, rel_u FROM (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         floor(list_cosine_similarity(e.embedding::DOUBLE[], q.qv) * 10000.0)::BIGINT AS rel_u,
         row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id) AS rn
  FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 8),
pair AS (SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
         floor(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * 10000.0)::BIGINT AS sim_u
  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
  JOIN embeddings eb ON eb.vec_id = b.neighbor_id),
p1 AS (SELECT query_id, neighbor_id, 7 * rel_u AS mmr_u FROM (
  SELECT query_id, neighbor_id, rel_u, row_number() OVER (PARTITION BY query_id ORDER BY rel_u DESC, neighbor_id) AS rn FROM cand) WHERE rn = 1),
pen2 AS (SELECT c.query_id, c.neighbor_id, 7 * c.rel_u - 3 * max(p.sim_u) AS mmr_u
  FROM cand c JOIN p1 s ON c.query_id = s.query_id AND c.neighbor_id <> s.neighbor_id
  JOIN pair p ON p.query_id = c.query_id AND p.id_a = s.neighbor_id AND p.id_b = c.neighbor_id
  GROUP BY c.query_id, c.neighbor_id, c.rel_u),
p2 AS (SELECT query_id, neighbor_id, mmr_u FROM (
  SELECT query_id, neighbor_id, mmr_u, row_number() OVER (PARTITION BY query_id ORDER BY mmr_u DESC, neighbor_id) AS rn FROM pen2) WHERE rn = 1),
sel2 AS (SELECT query_id, neighbor_id FROM p1 UNION ALL SELECT query_id, neighbor_id FROM p2),
pen3 AS (SELECT c.query_id, c.neighbor_id, 7 * c.rel_u - 3 * max(p.sim_u) AS mmr_u
  FROM cand c JOIN sel2 s ON c.query_id = s.query_id
  JOIN pair p ON p.query_id = c.query_id AND p.id_a = s.neighbor_id AND p.id_b = c.neighbor_id
  WHERE NOT EXISTS (SELECT 1 FROM sel2 x WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
  GROUP BY c.query_id, c.neighbor_id, c.rel_u),
p3 AS (SELECT query_id, neighbor_id, mmr_u FROM (
  SELECT query_id, neighbor_id, mmr_u, row_number() OVER (PARTITION BY query_id ORDER BY mmr_u DESC, neighbor_id) AS rn FROM pen3) WHERE rn = 1)
SELECT query_id, 1::BIGINT AS pick_rank, neighbor_id, mmr_u::BIGINT AS mmr_u FROM p1
UNION ALL SELECT query_id, 2::BIGINT, neighbor_id, mmr_u::BIGINT FROM p2
UNION ALL SELECT query_id, 3::BIGINT, neighbor_id, mmr_u::BIGINT FROM p3
ORDER BY query_id, pick_rank""",

    // q143: q109's cells, quantized-cos ranking, recursive-CTE min-label
    // closure for the components
    "q143_knn_cluster_purity" ->
      """WITH RECURSIVE kk AS (SELECT greatest(8, (count(*) + 63) // 64) AS k FROM embeddings),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS srn FROM embeddings) s, kk WHERE s.srn <= kk.k),
cells AS (SELECT vec_id, centroid_id FROM (SELECT e.vec_id, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
sc AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       floor(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * 10000.0)::BIGINT AS cos4
       FROM cells a JOIN cells b ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
       JOIN embeddings ea ON ea.vec_id = a.vec_id JOIN embeddings eb ON eb.vec_id = b.vec_id),
top AS (SELECT src, dst FROM (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos4 DESC, dst) AS rn FROM sc) WHERE rn <= 3),
mut AS (SELECT t1.src AS a, t1.dst AS b FROM top t1 JOIN top t2 ON t1.src = t2.dst AND t1.dst = t2.src WHERE t1.src < t1.dst),
edges AS (SELECT a AS src, b AS dst FROM mut UNION ALL SELECT b, a FROM mut),
r AS (SELECT vec_id AS id, vec_id AS lbl FROM embeddings UNION SELECT e.dst AS id, r.lbl FROM r JOIN edges e ON r.id = e.src),
cc AS (SELECT id, min(lbl) AS cluster_id FROM r GROUP BY id),
cl AS (SELECT cluster_id, e.label::BIGINT AS label, count(*)::BIGINT AS cnt FROM cc JOIN embeddings e ON e.vec_id = cc.id GROUP BY 1, 2),
tl AS (SELECT cluster_id, label AS top_label, cnt AS n_top FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY cnt DESC, label) AS rn FROM cl) WHERE rn = 1),
sz AS (SELECT cluster_id, sum(cnt)::BIGINT AS n_vecs FROM cl GROUP BY 1)
SELECT s.cluster_id, n_vecs, top_label, n_top, ((n_top * 10000) // n_vecs)::DOUBLE / 10000.0 AS purity4
FROM sz s JOIN tl USING (cluster_id) ORDER BY s.cluster_id""",

    // q145: same quantized ranking; inner join drops label-singleton
    // queries on both sides
    "q145_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel FROM embeddings WHERE vec_id < 16),
sc AS (SELECT q.query_id, q.qlabel, e.vec_id, e.label, floor(list_cosine_similarity(e.embedding::DOUBLE[], q.qv) * 10000.0)::BIGINT AS cos4
       FROM embeddings e, q WHERE e.vec_id <> q.query_id),
pos AS (SELECT query_id, vec_id AS pos_id, cos4 AS pos_u FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos4 DESC, vec_id) AS rn FROM sc WHERE label = qlabel) WHERE rn = 1),
neg AS (SELECT query_id, vec_id AS neg_id, cos4 AS neg_u FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos4 DESC, vec_id) AS rn FROM sc WHERE label <> qlabel) WHERE rn = 1),
hard AS (SELECT s.query_id, count(*)::BIGINT AS n_harder FROM sc s JOIN pos p USING (query_id) WHERE s.label <> s.qlabel AND s.cos4 >= p.pos_u GROUP BY s.query_id)
SELECT p.query_id, pos_id, neg_id, (pos_u - neg_u)::DOUBLE / 10000.0 AS margin4, coalesce(n_harder, 0)::BIGINT AS n_harder
FROM pos p JOIN neg USING (query_id) LEFT JOIN hard USING (query_id) ORDER BY p.query_id""",

    // q158: one shared scored relation feeds every sweep point; brute
    // top-10 is the truth set; ranking ties break by vec_id on both engines
    "q158_ivf_probe_sweep" ->
      """WITH kk AS (SELECT greatest(8, (count(*) + 63) // 64) AS k FROM embeddings),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS srn FROM embeddings) s, kk WHERE s.srn <= kk.k),
corpcell AS (SELECT vec_id, embedding, centroid_id FROM (SELECT e.vec_id, e.embedding, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
qc AS (SELECT query_id, qv, centroid_id, rn AS cell_rank FROM (SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16) q, cents c)),
cand AS (SELECT qc.query_id, qc.cell_rank, e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[], qc.qv::DOUBLE[]) AS sc FROM corpcell e JOIN qc ON e.centroid_id = qc.centroid_id WHERE e.vec_id <> qc.query_id),
brute AS (SELECT query_id, vec_id FROM (SELECT q.vec_id AS query_id, e.vec_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, e.vec_id) AS rn FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16) q WHERE e.vec_id <> q.vec_id) WHERE rn <= 10),
sw AS (SELECT unnest([1,2,4,8]) AS nprobe),
topk AS (SELECT nprobe, query_id, vec_id FROM (SELECT sw.nprobe, c.query_id, c.vec_id, row_number() OVER (PARTITION BY sw.nprobe, c.query_id ORDER BY c.sc DESC, c.vec_id) AS rn FROM cand c JOIN sw ON c.cell_rank <= sw.nprobe) WHERE rn <= 10),
h AS (SELECT nprobe, count(*)::BIGINT AS n_hits FROM topk JOIN brute USING (query_id, vec_id) GROUP BY nprobe),
nq AS (SELECT count(*)::BIGINT AS n_q FROM embeddings WHERE vec_id < 16)
SELECT sw.nprobe::BIGINT AS nprobe, coalesce(n_hits, 0)::BIGINT AS n_hits,
  ((coalesce(n_hits, 0) * 10000) // (n_q * 10))::DOUBLE / 10000.0 AS recall4
FROM sw LEFT JOIN h USING (nprobe), nq ORDER BY nprobe""",

    // q166: the 2-step Lloyd iteration replayed relationally — assign =
    // argmax CTE, positional mean = zipped-unnest avg FLOAT-cast per step
    // (meanVectors' exact float policy), empty cells coalesce to their
    // previous centroid; then q158's sweep on both grids
    "q166_ivf_learned" ->
      """WITH kk AS (SELECT greatest(8, (count(*) + 63) // 64) AS k FROM embeddings),
cents0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS srn FROM embeddings) s, kk WHERE s.srn <= kk.k),
cell0 AS (SELECT vec_id, centroid_id FROM (SELECT e.vec_id, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents0 c) WHERE rn = 1),
m1 AS (SELECT centroid_id, pos, avg(comp) AS m FROM (SELECT c0.centroid_id, unnest(e.embedding::DOUBLE[]) AS comp, unnest(range(1, 1 + len(e.embedding))) AS pos FROM cell0 c0 JOIN embeddings e USING (vec_id)) GROUP BY centroid_id, pos),
m1v AS (SELECT centroid_id, list(m::FLOAT ORDER BY pos) AS embedding FROM m1 GROUP BY centroid_id),
cents1 AS (SELECT c.centroid_id, coalesce(v.embedding, c.embedding) AS embedding FROM cents0 c LEFT JOIN m1v v USING (centroid_id)),
cell1 AS (SELECT vec_id, centroid_id FROM (SELECT e.vec_id, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents1 c) WHERE rn = 1),
m2 AS (SELECT centroid_id, pos, avg(comp) AS m FROM (SELECT c1.centroid_id, unnest(e.embedding::DOUBLE[]) AS comp, unnest(range(1, 1 + len(e.embedding))) AS pos FROM cell1 c1 JOIN embeddings e USING (vec_id)) GROUP BY centroid_id, pos),
m2v AS (SELECT centroid_id, list(m::FLOAT ORDER BY pos) AS embedding FROM m2 GROUP BY centroid_id),
cents2 AS (SELECT c.centroid_id, coalesce(v.embedding, c.embedding) AS embedding FROM cents1 c LEFT JOIN m2v v USING (centroid_id)),
cell2 AS (SELECT vec_id, centroid_id FROM (SELECT e.vec_id, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents2 c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
brute AS (SELECT query_id, vec_id FROM (SELECT q.query_id, e.vec_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
sw AS (SELECT unnest([1,2,4]) AS nprobe),
nq AS (SELECT count(*)::BIGINT AS n_q FROM embeddings WHERE vec_id < 16),
qc0 AS (SELECT query_id, qv, centroid_id, rn AS cell_rank FROM (SELECT q.query_id, q.qv, c.centroid_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM q, cents0 c)),
cand0 AS (SELECT qc.query_id, qc.cell_rank, e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[], qc.qv::DOUBLE[]) AS sc FROM embeddings e JOIN cell0 c0 ON e.vec_id = c0.vec_id JOIN qc0 qc ON c0.centroid_id = qc.centroid_id WHERE e.vec_id <> qc.query_id),
top0 AS (SELECT nprobe, query_id, vec_id FROM (SELECT sw.nprobe, c.query_id, c.vec_id, row_number() OVER (PARTITION BY sw.nprobe, c.query_id ORDER BY c.sc DESC, c.vec_id) AS rn FROM cand0 c JOIN sw ON c.cell_rank <= sw.nprobe) WHERE rn <= 10),
h0 AS (SELECT nprobe, count(*)::BIGINT AS n_hits FROM top0 JOIN brute USING (query_id, vec_id) GROUP BY nprobe),
qc2 AS (SELECT query_id, qv, centroid_id, rn AS cell_rank FROM (SELECT q.query_id, q.qv, c.centroid_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM q, cents2 c)),
cand2 AS (SELECT qc.query_id, qc.cell_rank, e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[], qc.qv::DOUBLE[]) AS sc FROM embeddings e JOIN cell2 c2 ON e.vec_id = c2.vec_id JOIN qc2 qc ON c2.centroid_id = qc.centroid_id WHERE e.vec_id <> qc.query_id),
top2 AS (SELECT nprobe, query_id, vec_id FROM (SELECT sw.nprobe, c.query_id, c.vec_id, row_number() OVER (PARTITION BY sw.nprobe, c.query_id ORDER BY c.sc DESC, c.vec_id) AS rn FROM cand2 c JOIN sw ON c.cell_rank <= sw.nprobe) WHERE rn <= 10),
h2 AS (SELECT nprobe, count(*)::BIGINT AS n_hits FROM top2 JOIN brute USING (query_id, vec_id) GROUP BY nprobe)
SELECT * FROM (
SELECT 'seed' AS grid, sw.nprobe::BIGINT AS nprobe, coalesce(h0.n_hits, 0)::BIGINT AS n_hits, ((coalesce(h0.n_hits, 0) * 10000) // (n_q * 10))::DOUBLE / 10000.0 AS recall4 FROM sw LEFT JOIN h0 USING (nprobe), nq
UNION ALL
SELECT 'lloyd2' AS grid, sw.nprobe::BIGINT AS nprobe, coalesce(h2.n_hits, 0)::BIGINT AS n_hits, ((coalesce(h2.n_hits, 0) * 10000) // (n_q * 10))::DOUBLE / 10000.0 AS recall4 FROM sw LEFT JOIN h2 USING (nprobe), nq
) ORDER BY grid, nprobe""",

    // q178: train (2 Lloyd iterations, exact-integer micro-sum means) /
    // encode / LUT / ADC replayed relationally — argmin-L2 as
    // argmax(dot − ‖c‖²/2) with list_inner_product on DOUBLE casts, ADC
    // as BIGINT micro-sums, both rankings id-tiebroken
    "q178_pq_ann" ->
      ("""WITH """ + pqTrainCtes("embeddings") + """,
cbs AS (SELECT s, code, cent, list_inner_product(cent::DOUBLE[], cent::DOUBLE[]) / 2.0 AS half_norm2 FROM cb),
enc AS MATERIALIZED (SELECT vec_id, s, code FROM (
  SELECT v.vec_id, c.s, c.code,
    row_number() OVER (PARTITION BY v.vec_id, c.s ORDER BY (list_inner_product(v.sv::DOUBLE[], c.cent::DOUBLE[]) - c.half_norm2) DESC, c.code) AS rn
  FROM sv v JOIN cbs c ON v.s = c.s) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
lut AS MATERIALIZED (SELECT query_id, s, code, floor(list_inner_product((qv[s*8+1 : s*8+8])::DOUBLE[], cent::DOUBLE[]) * 1000000.0)::BIGINT AS dot_u FROM q, cb),
adc AS (SELECT l.query_id, e.vec_id, sum(l.dot_u)::BIGINT AS adc_u FROM enc e JOIN lut l ON e.s = l.s AND e.code = l.code WHERE e.vec_id <> l.query_id GROUP BY 1, 2),
pq AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY adc_u DESC, vec_id) AS rn FROM adc) WHERE rn <= 10),
ex AS (SELECT query_id, vec_id FROM (SELECT q.query_id, e.vec_id, row_number() OVER (PARTITION BY q.query_id ORDER BY floor(list_inner_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) * 1000000.0)::BIGINT DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
hits AS (SELECT query_id, count(*)::BIGINT AS n_hits FROM pq JOIN ex USING (query_id, vec_id) GROUP BY 1)
SELECT q.query_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits, ((coalesce(h.n_hits, 0) * 10000) // 10)::DOUBLE / 10000.0 AS recall4
FROM q LEFT JOIN hits h ON q.query_id = h.query_id ORDER BY q.query_id"""),

    // q181: q178's CTEs (incl. the Lloyd train) + shortlist /
    // exact-rerank / ceiling stages
    "q181_pq_rerank" ->
      ("""WITH """ + pqTrainCtes("embeddings") + """,
cbs AS (SELECT s, code, cent, list_inner_product(cent::DOUBLE[], cent::DOUBLE[]) / 2.0 AS half_norm2 FROM cb),
enc AS MATERIALIZED (SELECT vec_id, s, code FROM (
  SELECT v.vec_id, c.s, c.code,
    row_number() OVER (PARTITION BY v.vec_id, c.s ORDER BY (list_inner_product(v.sv::DOUBLE[], c.cent::DOUBLE[]) - c.half_norm2) DESC, c.code) AS rn
  FROM sv v JOIN cbs c ON v.s = c.s) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
lut AS MATERIALIZED (SELECT query_id, s, code, floor(list_inner_product((qv[s*8+1 : s*8+8])::DOUBLE[], cent::DOUBLE[]) * 1000000.0)::BIGINT AS dot_u FROM q, cb),
adc AS (SELECT l.query_id, e.vec_id, sum(l.dot_u)::BIGINT AS adc_u FROM enc e JOIN lut l ON e.s = l.s AND e.code = l.code WHERE e.vec_id <> l.query_id GROUP BY 1, 2),
short AS MATERIALIZED (SELECT query_id, vec_id, rn FROM (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY adc_u DESC, vec_id) AS rn FROM adc) WHERE rn <= 50),
rr AS (SELECT query_id, vec_id FROM (SELECT s2.query_id, s2.vec_id, row_number() OVER (PARTITION BY s2.query_id ORDER BY floor(list_inner_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) * 1000000.0)::BIGINT DESC, s2.vec_id) AS rn2 FROM short s2 JOIN embeddings e ON e.vec_id = s2.vec_id JOIN q ON q.query_id = s2.query_id) WHERE rn2 <= 10),
ex AS MATERIALIZED (SELECT query_id, vec_id FROM (SELECT q.query_id, e.vec_id, row_number() OVER (PARTITION BY q.query_id ORDER BY floor(list_inner_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) * 1000000.0)::BIGINT DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
h1 AS (SELECT p.query_id, count(*)::BIGINT AS nh FROM (SELECT query_id, vec_id FROM short WHERE rn <= 10) p JOIN ex USING (query_id, vec_id) GROUP BY 1),
h2 AS (SELECT rr.query_id, count(*)::BIGINT AS nh FROM rr JOIN ex USING (query_id, vec_id) GROUP BY 1),
h3 AS (SELECT s2.query_id, count(*)::BIGINT AS nh FROM short s2 JOIN ex ON ex.query_id = s2.query_id AND ex.vec_id = s2.vec_id GROUP BY 1)
SELECT q.query_id,
  coalesce(h1.nh, 0)::BIGINT AS n_hits_pq,
  coalesce(h2.nh, 0)::BIGINT AS n_hits_rerank,
  coalesce(h3.nh, 0)::BIGINT AS n_in_shortlist,
  ((coalesce(h1.nh, 0) * 10000) // 10)::DOUBLE / 10000.0 AS recall_pq4,
  ((coalesce(h2.nh, 0) * 10000) // 10)::DOUBLE / 10000.0 AS recall_rerank4
FROM q LEFT JOIN h1 ON q.query_id = h1.query_id LEFT JOIN h2 ON q.query_id = h2.query_id LEFT JOIN h3 ON q.query_id = h3.query_id
ORDER BY q.query_id"""),

    // q184: q105's coarse cells + q178's trained codes/LUT composed;
    // candidates restricted to the query's nprobe cells before ADC
    "q184_ivfadc" ->
      ("""WITH kk AS (SELECT greatest(8, (count(*) + 63) // 64) AS k FROM embeddings),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS srn FROM embeddings) s0, kk WHERE s0.srn <= kk.k),
cells AS MATERIALIZED (SELECT vec_id, centroid_id FROM (SELECT e.vec_id, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
""" + pqTrainCtes("embeddings") + """,
cbs AS (SELECT s, code, cent, list_inner_product(cent::DOUBLE[], cent::DOUBLE[]) / 2.0 AS half_norm2 FROM cb),
enc AS MATERIALIZED (SELECT vec_id, s, code FROM (
  SELECT v.vec_id, c.s, c.code,
    row_number() OVER (PARTITION BY v.vec_id, c.s ORDER BY (list_inner_product(v.sv::DOUBLE[], c.cent::DOUBLE[]) - c.half_norm2) DESC, c.code) AS rn
  FROM sv v JOIN cbs c ON v.s = c.s) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
qc AS MATERIALIZED (SELECT query_id, centroid_id, cell_rank FROM (SELECT q.query_id, c.centroid_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS cell_rank FROM q, cents c) WHERE cell_rank <= 8),
lut AS MATERIALIZED (SELECT query_id, s, code, floor(list_inner_product((qv[s*8+1 : s*8+8])::DOUBLE[], cent::DOUBLE[]) * 1000000.0)::BIGINT AS dot_u FROM q, cb),
cand AS MATERIALIZED (SELECT qc.query_id, e.vec_id, qc.cell_rank, sum(l.dot_u)::BIGINT AS adc_u
  FROM enc e JOIN cells cl ON cl.vec_id = e.vec_id
  JOIN qc ON qc.centroid_id = cl.centroid_id
  JOIN lut l ON l.query_id = qc.query_id AND l.s = e.s AND l.code = e.code
  WHERE e.vec_id <> qc.query_id GROUP BY 1, 2, 3),
ex AS MATERIALIZED (SELECT query_id, vec_id FROM (SELECT q.query_id, e.vec_id, row_number() OVER (PARTITION BY q.query_id ORDER BY floor(list_inner_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) * 1000000.0)::BIGINT DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
sw AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
scored AS MATERIALIZED (SELECT sw.nprobe, c.query_id, c.vec_id, c.adc_u FROM cand c JOIN sw ON c.cell_rank <= sw.nprobe),
hits AS (SELECT nprobe, count(*)::BIGINT AS n_hits FROM (SELECT nprobe, query_id, vec_id FROM (SELECT nprobe, query_id, vec_id, row_number() OVER (PARTITION BY nprobe, query_id ORDER BY adc_u DESC, vec_id) AS rn FROM scored) WHERE rn <= 10) t JOIN ex USING (query_id, vec_id) GROUP BY 1),
cc AS (SELECT nprobe, count(*)::BIGINT AS n_candidates FROM scored GROUP BY 1),
nq AS (SELECT count(*)::BIGINT AS n_q FROM q)
SELECT sw.nprobe, coalesce(cc.n_candidates, 0)::BIGINT AS n_candidates, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
  ((coalesce(h.n_hits, 0) * 10000) // (nq.n_q * 10))::DOUBLE / 10000.0 AS recall4
FROM sw LEFT JOIN cc ON sw.nprobe = cc.nprobe LEFT JOIN hits h ON sw.nprobe = h.nprobe, nq
ORDER BY sw.nprobe"""),

    // q185: same single-window formulation with IGNORE NULLS carries
    "q185_proximity_rank" ->
      raw"""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS toks FROM documents),
pos AS (SELECT doc_id, i::BIGINT AS pos, toks[i] AS term FROM (SELECT doc_id, unnest(range(1, len(toks)+1)) AS i, toks FROM tk) WHERE toks[i] IN ('hash', 'join')),
g AS (SELECT doc_id, term, pos,
  last_value(CASE WHEN term = 'hash' THEN pos END IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY pos, term ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_a,
  last_value(CASE WHEN term = 'join' THEN pos END IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY pos, term ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_b
  FROM pos)
SELECT doc_id, min(CASE WHEN term = 'hash' THEN pos - prev_b ELSE pos - prev_a END)::BIGINT AS min_span,
  sum(CASE WHEN term = 'hash' THEN 1 ELSE 0 END)::BIGINT AS n_a,
  sum(CASE WHEN term = 'join' THEN 1 ELSE 0 END)::BIGINT AS n_b
FROM g GROUP BY doc_id HAVING min_span IS NOT NULL
ORDER BY min_span, doc_id LIMIT 20""",

    // q195: both retrieval rounds + the positional-mean feedback vector
    // replayed relationally; FLOAT cast per component (q166's policy)
    "q195_rocchio_feedback" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)),
r1 AS (SELECT query_id, neighbor_id FROM (SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, e.vec_id) AS rn FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 5),
fb AS (SELECT query_id, pos, avg(comp) AS m FROM (SELECT r1.query_id, unnest(e.embedding::DOUBLE[]) AS comp, unnest(range(0, len(e.embedding))) AS pos FROM r1 JOIN embeddings e ON e.vec_id = r1.neighbor_id) GROUP BY 1, 2),
q2 AS (SELECT qq.query_id, list((0.5 * qc + 0.5 * m)::FLOAT ORDER BY qq.pos) AS qv FROM (SELECT q.query_id, unnest(q.embedding::DOUBLE[]) AS qc, unnest(range(0, len(q.embedding))) AS pos FROM q) qq JOIN fb ON qq.query_id = fb.query_id AND qq.pos = fb.pos GROUP BY qq.query_id),
r2 AS (SELECT query_id, neighbor_id, sc, rn AS rank FROM (SELECT q2.query_id, e.vec_id AS neighbor_id, list_cosine_similarity(e.embedding::DOUBLE[], q2.qv::DOUBLE[]) AS sc, row_number() OVER (PARTITION BY q2.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q2.qv::DOUBLE[]) DESC, e.vec_id) AS rn FROM embeddings e, q2 WHERE e.vec_id <> q2.query_id) WHERE rn <= 8)
SELECT r2.query_id, r2.rank::BIGINT AS rank, r2.neighbor_id,
  floor(r2.sc * 10000.0) / 10000.0 AS score4,
  (CASE WHEN r1.neighbor_id IS NULL THEN 1 ELSE 0 END)::INT AS is_new
FROM r2 LEFT JOIN r1 ON r2.query_id = r1.query_id AND r2.neighbor_id = r1.neighbor_id
ORDER BY r2.query_id, r2.rank""",

    // q197: the full RM3 loop relationally — per-(doc, term) micro-unit
    // contributions (exactly the engine's bm25MicroScores algebra), term
    // selection and both rankings id/lex-tiebroken
    "q197_rm3_expansion" ->
      raw"""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tk FROM documents),
dl AS (SELECT doc_id, len(tk)::DOUBLE AS dl, tk FROM toks),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
bt AS (SELECT unnest(['join', 'vector', 'window', 'stream']) AS term),
tf1 AS (SELECT d.doc_id, bt.term, len(list_filter(d.tk, x -> x = bt.term))::DOUBLE AS tf, d.dl FROM dl d, bt),
df1 AS (SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::DOUBLE AS df FROM tf1 GROUP BY 1),
sc1 AS (SELECT t.doc_id,
  sum(floor((floor(ln(((n_docs - df + 0.5) / (df + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1000000.0))::BIGINT AS score_u,
  sum(tf) AS tfsum
  FROM tf1 t JOIN df1 USING (term), st GROUP BY t.doc_id HAVING sum(tf) > 0),
r1 AS (SELECT doc_id, score_u, row_number() OVER (ORDER BY score_u DESC, doc_id) AS rk FROM sc1),
fb AS (SELECT doc_id FROM r1 WHERE rk <= 5),
exp AS (SELECT w FROM (SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rk FROM (SELECT unnest(tk) AS w FROM dl JOIN fb USING (doc_id)) ww(w)
  WHERE len(w) >= 3 AND w NOT IN ('join', 'vector', 'window', 'stream', 'the', 'a', 'of', 'and', 'is', 'to', 'in', 'that', 'it', 'with', 'el', 'la', 'de', 'que', 'y', 'en', 'un', 'los', 'se', 'por', 'der', 'die', 'das', 'und', 'ist', 'nicht', 'ein', 'mit', 'auf', 'zu', 'le', 'les', 'est', 'une', 'dans')
  GROUP BY w) WHERE rk <= 3),
t2 AS (SELECT term FROM bt UNION ALL SELECT w FROM exp),
tf2 AS (SELECT d.doc_id, t2.term, len(list_filter(d.tk, x -> x = t2.term))::DOUBLE AS tf, d.dl FROM dl d, t2),
df2 AS (SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::DOUBLE AS df FROM tf2 GROUP BY 1),
sc2 AS (SELECT t.doc_id,
  sum(floor((floor(ln(((n_docs - df + 0.5) / (df + 0.5)) + 1.0) * 10000.0) / 10000.0) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1000000.0))::BIGINT AS score_u,
  sum(tf) AS tfsum
  FROM tf2 t JOIN df2 USING (term), st GROUP BY t.doc_id HAVING sum(tf) > 0),
r2 AS (SELECT doc_id, score_u, row_number() OVER (ORDER BY score_u DESC, doc_id) AS rank FROM sc2)
SELECT r2.rank::BIGINT AS rank, r2.doc_id, r2.score_u,
  (CASE WHEN r1k.doc_id IS NULL THEN 1 ELSE 0 END)::INT AS is_new
FROM r2 LEFT JOIN (SELECT doc_id FROM r1 WHERE rk <= 10) r1k ON r2.doc_id = r1k.doc_id
WHERE r2.rank <= 10 ORDER BY r2.rank""",

    // q210: q184's build CTEs (coarse cells, PQ codebook, codes, LUT)
    // with the serve read at nprobe = 4 returning the top-10 lists the
    // persisted index produces
    "q210_ann_index_serve" ->
      ("""WITH kk AS (SELECT greatest(8, (count(*) + 63) // 64) AS k FROM embeddings),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS srn FROM embeddings) s0, kk WHERE s0.srn <= kk.k),
cells AS MATERIALIZED (SELECT vec_id, centroid_id FROM (SELECT e.vec_id, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
""" + pqTrainCtes("embeddings") + """,
cbs AS (SELECT s, code, cent, list_inner_product(cent::DOUBLE[], cent::DOUBLE[]) / 2.0 AS half_norm2 FROM cb),
enc AS MATERIALIZED (SELECT vec_id, s, code FROM (
  SELECT v.vec_id, c.s, c.code,
    row_number() OVER (PARTITION BY v.vec_id, c.s ORDER BY (list_inner_product(v.sv::DOUBLE[], c.cent::DOUBLE[]) - c.half_norm2) DESC, c.code) AS rn
  FROM sv v JOIN cbs c ON v.s = c.s) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
qc AS MATERIALIZED (SELECT query_id, centroid_id FROM (SELECT q.query_id, c.centroid_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS cell_rank FROM q, cents c) WHERE cell_rank <= 4),
lut AS MATERIALIZED (SELECT query_id, s, code, floor(list_inner_product((qv[s*8+1 : s*8+8])::DOUBLE[], cent::DOUBLE[]) * 1000000.0)::BIGINT AS dot_u FROM q, cb),
cand AS (SELECT qc.query_id, e.vec_id, sum(l.dot_u)::BIGINT AS adc_u
  FROM enc e JOIN cells cl ON cl.vec_id = e.vec_id
  JOIN qc ON qc.centroid_id = cl.centroid_id
  JOIN lut l ON l.query_id = qc.query_id AND l.s = e.s AND l.code = e.code
  WHERE e.vec_id <> qc.query_id GROUP BY 1, 2)
SELECT query_id, rn::BIGINT AS rank, vec_id, adc_u
FROM (SELECT query_id, vec_id, adc_u, row_number() OVER (PARTITION BY query_id ORDER BY adc_u DESC, vec_id) AS rn FROM cand)
WHERE rn <= 10 ORDER BY query_id, rank"""),

    // q211: q210's replay with the coarse/PQ codebooks derived (and the
    // PQ Lloyd TRAINING run) over the BASE slice only (vec_id % 4 <> 0 —
    // the index that existed before tonight's append) and codes over the
    // full corpus
    "q211_ann_delta_append" ->
      ("""WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 0),
kk AS (SELECT greatest(8, (count(*) + 63) // 64) AS k FROM b),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS srn FROM b) s0, kk WHERE s0.srn <= kk.k),
cells AS MATERIALIZED (SELECT vec_id, centroid_id FROM (SELECT e.vec_id, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
""" + pqTrainCtes("b") + """,
cbs AS (SELECT s, code, cent, list_inner_product(cent::DOUBLE[], cent::DOUBLE[]) / 2.0 AS half_norm2 FROM cb),
enc AS MATERIALIZED (SELECT vec_id, s, code FROM (
  SELECT e.vec_id, c.s, c.code,
    row_number() OVER (PARTITION BY e.vec_id, c.s ORDER BY (list_inner_product((e.embedding[c.s*8+1 : c.s*8+8])::DOUBLE[], c.cent::DOUBLE[]) - c.half_norm2) DESC, c.code) AS rn
  FROM embeddings e, cbs c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
qc AS MATERIALIZED (SELECT query_id, centroid_id FROM (SELECT q.query_id, c.centroid_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS cell_rank FROM q, cents c) WHERE cell_rank <= 4),
lut AS MATERIALIZED (SELECT query_id, s, code, floor(list_inner_product((qv[s*8+1 : s*8+8])::DOUBLE[], cent::DOUBLE[]) * 1000000.0)::BIGINT AS dot_u FROM q, cb),
cand AS (SELECT qc.query_id, e.vec_id, sum(l.dot_u)::BIGINT AS adc_u
  FROM enc e JOIN cells cl ON cl.vec_id = e.vec_id
  JOIN qc ON qc.centroid_id = cl.centroid_id
  JOIN lut l ON l.query_id = qc.query_id AND l.s = e.s AND l.code = e.code
  WHERE e.vec_id <> qc.query_id GROUP BY 1, 2)
SELECT query_id, rn::BIGINT AS rank, vec_id, adc_u
FROM (SELECT query_id, vec_id, adc_u, row_number() OVER (PARTITION BY query_id ORDER BY adc_u DESC, vec_id) AS rn FROM cand)
WHERE rn <= 10 ORDER BY query_id, rank"""),


    // q223: q52's multiprobe SQL at k=10 scored against brute truth with
    // the same literal discounts and constant ideal DCG
    "q223_ndcg_eval" ->
      s"""WITH bkt AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
qp AS (SELECT query_id, qv, xor(bucket, flip) AS bucket FROM (SELECT vec_id AS query_id, embedding AS qv, bucket FROM bkt WHERE vec_id < 8), (SELECT unnest([0,1,2,4,8]) AS flip)),
got AS (SELECT query_id, neighbor_id, rank FROM (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, c.vec_id) AS rank
  FROM bkt c JOIN qp q ON c.bucket = q.bucket WHERE c.vec_id <> q.query_id) WHERE rank <= 10),
tq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
truth AS (SELECT query_id, neighbor_id, CASE WHEN rank = 1 THEN 3 WHEN rank <= 3 THEN 2 ELSE 1 END AS grade FROM (
  SELECT t.query_id, e.vec_id AS neighbor_id, row_number() OVER (PARTITION BY t.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], t.qv::DOUBLE[]) DESC, e.vec_id) AS rank
  FROM embeddings e, tq t WHERE e.vec_id <> t.query_id) WHERE rank <= 10),
sc AS (SELECT g.query_id, coalesce(t.grade, 0) AS grade, ([1000000, 630929, 500000, 430676, 386852, 356207, 333333, 315464, 301029, 289064])[g.rank::INTEGER] AS wt FROM got g LEFT JOIN truth t ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id)
SELECT query_id, sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END)::BIGINT AS n_hit, sum((CASE grade WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END) * wt)::BIGINT AS dcg_u, (sum((CASE grade WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END) * wt) * 1000000 // 12805412)::BIGINT AS ndcg_micro FROM sc GROUP BY query_id ORDER BY query_id""",


    // q244: q210's full index-replay CTEs (coarse cells, PQ codebook,
    // codes, LUT, nprobe-4 serve) scored against the q223-style brute
    // cosine truth on the same 16 queries, rolled into agreement counts
    "q244_ann_recall_serve" ->
      ("""WITH kk AS (SELECT greatest(8, (count(*) + 63) // 64) AS k FROM embeddings),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding FROM (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS srn FROM embeddings) s0, kk WHERE s0.srn <= kk.k),
cells AS MATERIALIZED (SELECT vec_id, centroid_id FROM (SELECT e.vec_id, c.centroid_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS rn FROM embeddings e, cents c) WHERE rn = 1),
""" + pqTrainCtes("embeddings") + """,
cbs AS (SELECT s, code, cent, list_inner_product(cent::DOUBLE[], cent::DOUBLE[]) / 2.0 AS half_norm2 FROM cb),
enc AS MATERIALIZED (SELECT vec_id, s, code FROM (
  SELECT v.vec_id, c.s, c.code,
    row_number() OVER (PARTITION BY v.vec_id, c.s ORDER BY (list_inner_product(v.sv::DOUBLE[], c.cent::DOUBLE[]) - c.half_norm2) DESC, c.code) AS rn
  FROM sv v JOIN cbs c ON v.s = c.s) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16),
qc AS MATERIALIZED (SELECT query_id, centroid_id FROM (SELECT q.query_id, c.centroid_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.centroid_id) AS cell_rank FROM q, cents c) WHERE cell_rank <= 4),
lut AS MATERIALIZED (SELECT query_id, s, code, floor(list_inner_product((qv[s*8+1 : s*8+8])::DOUBLE[], cent::DOUBLE[]) * 1000000.0)::BIGINT AS dot_u FROM q, cb),
cand AS (SELECT qc.query_id, e.vec_id, sum(l.dot_u)::BIGINT AS adc_u
  FROM enc e JOIN cells cl ON cl.vec_id = e.vec_id
  JOIN qc ON qc.centroid_id = cl.centroid_id
  JOIN lut l ON l.query_id = qc.query_id AND l.s = e.s AND l.code = e.code
  WHERE e.vec_id <> qc.query_id GROUP BY 1, 2),
served AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, adc_u, row_number() OVER (PARTITION BY query_id ORDER BY adc_u DESC, vec_id) AS rn FROM cand) WHERE rn <= 10),
truth AS (SELECT query_id, vec_id FROM (SELECT q.query_id, e.vec_id, row_number() OVER (PARTITION BY q.query_id ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e.vec_id) AS rank FROM embeddings e, q WHERE e.vec_id <> q.query_id) WHERE rank <= 10)
SELECT s.query_id, count(*)::BIGINT AS n_served, sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_agree,
(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000 // 10)::BIGINT AS recall_bps
FROM served s LEFT JOIN truth t ON t.query_id = s.query_id AND t.vec_id = s.vec_id
GROUP BY s.query_id ORDER BY s.query_id"""),
  )
}
