package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding primitives over a distributed corpus (Sennrich et
  * al., *Neural Machine Translation of Rare Words with Subword Units*,
  * arXiv:1508.07909) — the tokenizer-TRAINING side of an LLM data
  * pipeline, distinct from the token-counting surface (P8) that applies a
  * finished tokenizer.
  *
  * Scale shape: the ONLY corpus-sized operation is the word-frequency
  * count (one shuffle on the word). Everything after — pair statistics and
  * every merge round — runs over the VOCABULARY table (types × counts),
  * which is sublinear in the corpus (≈10^6-10^8 rows at web scale vs 10^12
  * tokens), so a 100 TB corpus pays one scan + one shuffle total and the
  * training loop never touches it again. Per round the argmax pair is a
  * 1-row collect (ties broken lexicographically — deterministic across
  * partitionings), and the merge itself is a higher-order-function fold
  * over each word's symbol array: greedy left-to-right, exactly the
  * reference BPE semantics (`a a a` + merge(a,a) → `[aa, a]`). The
  * vocabulary is cut per round so round N's plan does not
  * re-execute rounds 1..N-1.
  */
object BpeTokenizer {

  /** A chosen merge: the adjacent pair (l, r) and its weighted count. */
  final case class Merge(l: String, r: String, cnt: Long)

  /** (w, c) word-frequency table — the one corpus-sized pass. */
  def wordFrequencies(docs: DataFrame, tokens: Column): DataFrame =
    docs.select(explode(tokens).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Vocabulary as symbol arrays: (syms: array<string>, c). Initial
    * symbols are single characters.
    */
  def initSymbols(wordFreq: DataFrame): DataFrame =
    wordFreq.select(filter(split(col("w"), ""), s => s =!= "").as("syms"),
      col("c"))

  /** Weighted adjacent-pair counts over the current symbol table:
    * (l, r, cnt) — vocabulary-sized, never corpus-sized.
    */
  def pairCounts(symbols: DataFrame): DataFrame =
    symbols
      .filter(size(col("syms")) >= 2)
      .select(col("c"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("c")).as("cnt"))

  /** Greedy left-to-right application of one merge to a symbol array via
    * an `aggregate` fold: append, unless the running array ends in `l`
    * and the next symbol is `r` — then replace that tail element with
    * `l+r`. Overlapping occurrences resolve leftmost-first, as in
    * reference BPE.
    */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === l && s === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** Train `nMerges` BPE merges. Returns the merge sequence in training
    * order; stops early when no adjacent pair remains. `wordFreq` must be
    * (w, c).
    */
  def train(wordFreq: DataFrame, nMerges: Int): Seq[Merge] = {
    var vocab = Tuning.cut(initSymbols(wordFreq))
    val merges = Seq.newBuilder[Merge]
    var done = false
    var round = 0
    while (round < nMerges && !done) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val row = top(0)
        val m = Merge(row.getString(0), row.getString(1), row.getLong(2))
        merges += m
        val next = vocab.select(applyMerge(col("syms"), m.l, m.r).as("syms"),
          col("c"))
        vocab = Tuning.cut(next)
      }
      round += 1
    }
    vocab.unpersist()
    merges.result()
  }

  /** Encode words with a trained merge list (applied in training order) —
    * the "apply the tokenizer" half, same fold per merge. Corpus-side this
    * is scan-only: no shuffle, the merge list ships in the plan.
    */
  def encodeCol(tokens: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(transform(tokens, w => filter(split(w, ""), s => s =!= ""))) {
      (acc, m) => transform(acc, syms => applyMerge(syms, m.l, m.r))
    }
}
