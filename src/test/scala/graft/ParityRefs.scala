package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Independent formulations the native sketch expressions are spec-pinned
  * against: the affine MinHash mix and the higher-order-function shingle
  * and n-gram forms. Only specs call them.
  */
object ParityRefs {

  /** The `(A_j·h + B_j) mod M` mix of MinHash component `j` over
    * [[Dedup.MinhashModulus]].
    */
  def minhashA(j: Int): Long = (1000003L * (j + 1)) % Dedup.MinhashModulus
  def minhashB(j: Int): Long = 12345L + 7919L * j

  /** The HOF formulation of [[Dedup.jaccard]]. */
  def jaccardHof(textA: Column, textB: Column, n: Int): Column = {
    val sa = array_distinct(Dedup.shinglesCol(textA, n))
    val sb = array_distinct(Dedup.shinglesCol(textB, n))
    size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb))
  }

  /** The HOF formulation of [[Dedup.containment]]. */
  def containmentHof(textA: Column, textB: Column, n: Int): Column = {
    val sa = array_distinct(Dedup.shinglesCol(textA, n))
    val sb = array_distinct(Dedup.shinglesCol(textB, n))
    size(array_intersect(sa, sb)).cast("double") / size(sa)
  }

  /** The HOF formulation of [[graft.operators.QualitySignals.ngramsStrict]]. */
  def ngramsStrictHof(tokens: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    val sz = size(tokens)
    when(sz < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), sz - (n - 1)),
        i => array_join(slice(tokens, i, lit(n)), " ")))
  }
}
