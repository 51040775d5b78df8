package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Corpus-quality signals for training-data curation that the reference
  * pipeline applies implicitly by construction (its curated PDF corpus never
  * needs them) but any web-scale ingest does before embedding: repetition
  * rules (the Gopher / RefinedWeb family — Rae et al. 2021 §A1.1, Penedo et
  * al. 2023 §4) and PII scrubbing (reference analog: the regex scrub pass,
  * pipeline1.py's cleanup stage).
  *
  * Everything here is a pure `Column` composition — scan-side, codegen'd —
  * except the per-document n-gram frequency profile, which is the standard
  * one-shuffle hash-aggregate on (doc, gram). At 100 TB that shuffle carries
  * 64-bit gram hashes, never text, and map-side partial aggregation collapses
  * within-partition repeats before the exchange.
  */
object QualitySignals {

  /** Word n-grams with STRICT semantics: a document shorter than `n` tokens
    * yields an EMPTY array (unlike [[TextAnalysis.wordNGramsFromTokens]],
    * whose whole-doc fallback suits fingerprinting but would fabricate a
    * "repeated" gram covering 2/1 of a one-token doc in repetition ratios).
    */
  def ngramsStrict(tokens: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    // round 16: native one-loop expression — the HOF formulation embedded
    // the tokens ARGUMENT inside its lambda, re-evaluating it per gram
    // when callers pass a computed expression (q148 re-tokenized per
    // gram), and interpreted two lambdas per gram even over attributes.
    // Value-identical (QualitySignalsSpec pins the HOF parity).
    import org.apache.spark.sql.graft.Bridge
    Bridge.toColumn(org.apache.spark.sql.graft.expressions.ArrayNGrams(
      Bridge.toExpr(tokens), n))
  }

  // -------------------------------------------------------------------
  // PII scan + redaction. Deliberately simple, deterministic regexes that
  // parse identically under Java regex (Spark) and RE2 (DuckDB oracle):
  // no backreferences, no lookaround, no \b.
  // -------------------------------------------------------------------

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Match counts per category: struct<n_email, n_phone, n_ip>. One pass of
    * each automaton over the text, scan-side.
    */
  def piiCounts(textCol: Column): Column = struct(
    size(regexp_extract_all(textCol, lit(EmailPattern), lit(0))).as("n_email"),
    size(regexp_extract_all(textCol, lit(PhonePattern), lit(0))).as("n_phone"),
    size(regexp_extract_all(textCol, lit(Ipv4Pattern), lit(0))).as("n_ip"))

  /** Text with every PII match replaced by a typed placeholder. Email runs
    * first (its local part may contain digits), then phone, then IPv4 —
    * the three patterns cannot match inside each other's placeholders, so
    * the chain is order-stable beyond that first constraint.
    */
  def redactPii(textCol: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(textCol, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")
}
