package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.expressions.{CosineSimilarity, DotProduct}

/** Vector-column functions. Cosine/dot ride the codegen Catalyst expressions
  * in [[graft.expressions]] (whole-stage codegen, no UDF hot path); `dot` /
  * `cosine` are their driver-side twins for query-batch-sized work.
  *
  * Semantics source: the reference scores retrieval by the index's cosine
  * metric (`QA_using_pinecone.py:40-44`) over 1536-dim ada-002 vectors
  * (`pipeline2.py:130-134`); testdata vectors are 64-dim floats.
  */
object VectorFunctions {

  /** cosine(a, b) in double precision; 0.0 for zero-norm inputs. */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.toColumn(CosineSimilarity(Bridge.toExpr(a), Bridge.toExpr(b)))

  def dotProduct(a: Column, b: Column): Column =
    Bridge.toColumn(DotProduct(Bridge.toExpr(a), Bridge.toExpr(b)))

  /** Plain-Scala dot product for driver-side use: the [[DotProduct]]
    * accumulation (double, ascending index, common prefix only), so results
    * are bit-identical to the Catalyst expression.
    */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0; var i = 0
    while (i < n) { d += a(i) * b(i); i += 1 }
    d
  }

  /** Plain-Scala cosine for driver-side use; same accumulation order as the
    * [[CosineSimilarity]] expression (0.0 for zero-norm inputs).
    */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Register the full graft SQL surface ([[SqlFunctions.builders]]) so
    * `expr("cosine_sim(a, b)")`, `spark.sql("... minhash_sig(text, 16, 3)")`
    * etc. work without session extensions.
    */
  def register(spark: SparkSession): Unit = {
    val registry = Bridge.classic(spark).sessionState.functionRegistry
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    SqlFunctions.builders.foreach { case (name, builder) =>
      registry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder)
    }
  }
}
