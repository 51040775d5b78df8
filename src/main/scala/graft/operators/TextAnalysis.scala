package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions}

/** Text-analysis columns for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting. All pure expression
  * compositions — scan-side, codegen'd, oracle-reproducible — so a 100 TB
  * corpus pays one read and no shuffle for the whole column set.
  *
  * Callers should materialize [[tokensCol]] once (`withColumn`) and feed it
  * to the `*FromTokens` variants: an inline tokens expression is duplicated
  * into every lambda that references it, re-running split/lower per use.
  */
object TextAnalysis {

  /** Lowercased whitespace tokens. */
  def tokensCol(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "\\s+"), t => t =!= "")

  /** Sliding context windows over a token array — the overlap chunker that
    * turns documents into fixed-length training sequences (stride < win
    * keeps cross-boundary context, the RoBERTa/long-doc convention). Emits
    * array<struct<start, n_tok, fp>>: 1-based window start, window token
    * count, and a 64-bit content fingerprint ([[HashFunctions.stableHash64]]
    * of the space-joined window — dedup windows across documents on it).
    * Full windows only, starts 1, 1+stride, …; a document shorter than
    * `win` yields ONE window covering the whole document. Pure scan-side
    * expression composition: a 100 TB corpus pays one read, no shuffle,
    * and the explode happens at the caller only if it wants rows.
    */
  def slidingWindowsCol(tokens: Column, win: Int, stride: Int): Column = {
    require(win > 0 && stride > 0, "win and stride must be positive")
    val n = size(tokens)
    val starts = when(n < win, array(lit(1)))
      .otherwise(sequence(lit(1), n - win + 1, lit(stride)))
    transform(starts, s => struct(
      s.as("start"),
      least(lit(win), n - s + 1).as("n_tok"),
      HashFunctions.stableHash64(
        concat_ws(" ", slice(tokens, s, lit(win)))).as("fp")))
  }

  /** Tiny deterministic stopword inventories for the n-gram/stopword
    * language heuristic. Scores are hit COUNTS of language-marker words.
    */
  val Markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that", "it", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une", "dans", "que"))

  private def hitCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  /** Predicted language: argmax of marker hits (ties broken by language
    * code order), "und" (undetermined) when nothing matches.
    */
  def languageIdFromTokens(tokens: Column): Column = {
    val scored = Markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      (lang, hitCount(tokens, words))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldLeft(when(best <= 0, "und")) { case (acc, (lang, score)) =>
      acc.when(score === best, lang) // first (alphabetical) max wins
    }.otherwise("und")
  }

  /** Quality-score components + composite in [0, 1]:
    * length score (saturating at 500 chars), alpha ratio, stopword presence,
    * mean word length window [3, 12]. Mirrors the shape of public corpus
    * filters (C4-style heuristics) without any external model.
    */
  def qualityScoreFromTokens(textCol: Column, tokens: Column): Column = {
    val nTok = size(tokens).cast("double")
    val lenScore = least(length(textCol).cast("double") / 500.0, lit(1.0))
    val alphaRatio =
      length(regexp_replace(textCol, "[^a-zA-Z ]", "")).cast("double") /
        greatest(length(textCol).cast("double"), lit(1.0))
    val stopScore = least(
      hitCount(tokens, Markers.values.flatten.toSeq.distinct).cast("double") /
        greatest(nTok, lit(1.0)) * 5.0, lit(1.0))
    val meanWordLen =
      aggregate(tokens, lit(0), (acc, t) => acc + length(t)).cast("double") /
        greatest(nTok, lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 12.0), 1.0).otherwise(0.5)
    // floor-quantize, don't round: both engines compute the identical double
    // here, but round() implementations differ at exact .xxxx5 boundaries
    // (Spark goes through the shortest decimal repr, DuckDB through binary
    // x*1e4+0.5) — floor of the same double is bit-stable on both.
    floor((lenScore + alphaRatio + stopScore + wordLenScore) / 4.0 * 10000.0) / 10000.0
  }

  /** Language-ID + quality in ONE compiled loop per row:
    * `struct<lang_pred, quality>` — value-identical to
    * `languageIdFromTokens` + `qualityScoreFromTokens` over `tokensCol`
    * (which interpret 4 marker filters and an aggregate lambda per row;
    * measured ~3x slower at sf0.1).
    */
  def langQualityCol(textCol: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.LangQuality(
      Bridge.toExpr(textCol), Markers.toSeq.map { case (l, ws) => (l, ws) }))
  }

  /** Document fingerprint: min stable hash over word 3-gram shingles — a
    * 1-component MinHash usable as a cheap near-dup blocking key (winnowing
    * flavor). Texts with < 3 words hash the whole text.
    */
  def fingerprintFromTokens(tokens: Column): Column = {
    val n = size(tokens)
    val grams = when(n < 3, array(concat_ws(" ", tokens)))
      .otherwise(transform(sequence(lit(1), n - 2),
        i => concat_ws(" ", element_at(tokens, i), element_at(tokens, i + 1), element_at(tokens, i + 2))))
    array_min(transform(grams, g => HashFunctions.stableHash64(g)))
  }

  /** Native single-loop form — identical values to
    * `fingerprintFromTokens(tokensCol(textCol))`.
    */
  def fingerprint(textCol: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.WordFingerprint(
      Bridge.toExpr(textCol)))
  }

  /** Per-row Shannon character entropy in integer micro-nats — the
    * compressibility quality signal (template spam ≈ 0, prose ≈ 3-4.2
    * nats), computed in one compiled scan-side loop with zero shuffle
    * ([[org.apache.spark.sql.graft.expressions.CharEntropyMicroNats]]).
    */
  def charEntropyCol(textCol: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.CharEntropyMicroNats(
      Bridge.toExpr(textCol)))
  }

  /** Space-joined lowercase word n-grams (`array<string>`) — the unit of
    * eval-set decontamination. 1 to n-1 tokens → the whole run as one gram;
    * blank text → empty array. Native one-loop expression.
    */
  def wordNGrams(textCol: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.WordNGrams(
      Bridge.toExpr(textCol), n))
  }

  /** HOF formulation of [[wordNGrams]] — the independent cross-check the
    * native expression is property-pinned against (two interpreted lambdas
    * per gram; use the native form in pipelines).
    */
  def wordNGramsFromTokens(tokens: Column, n: Int): Column = {
    val sz = size(tokens)
    when(sz === 0, array().cast("array<string>"))
      .when(sz < n, array(concat_ws(" ", tokens)))
      .otherwise(transform(sequence(lit(1), sz - (n - 1)),
        i => array_join(slice(tokens, i, lit(n)), " ")))
  }
}
