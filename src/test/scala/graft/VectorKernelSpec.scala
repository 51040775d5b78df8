package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** The driver-side vector kernels (`VectorFunctions.dot` / `cosine`) must be
  * bit-identical to the `DotProduct` / `CosineSimilarity` Catalyst
  * expressions they stand in for on the driver (AnnIndex's cell ranking
  * and LUT), in both the interpreted and the whole-stage-codegen paths.
  */
class VectorKernelSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val rnd = new scala.util.Random(17)
  private def floats(n: Int): Seq[Float] = Seq.fill(n)((rnd.nextGaussian() * 3).toFloat)

  /** (a, b) pairs: equal and unequal lengths, zero and empty vectors. */
  private val pairs: Seq[(Seq[Float], Seq[Float])] =
    Seq.fill(40)((floats(64), floats(64))) ++
      Seq((floats(64), floats(16)), (floats(3), floats(9)),
        (Seq.fill(8)(0.0f), floats(8)), (floats(8), Seq.fill(8)(0.0f)),
        (Seq.empty[Float], floats(4)), (Seq(1e-30f, -2e30f), Seq(3e30f, 7e-30f)))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Expression results per pair, once interpreted (a local relation is
    * folded at optimization time) and once through a parquet scan
    * (whole-stage codegen).
    */
  private def bothPaths(df: DataFrame): Seq[Array[(Double, Double)]] = {
    def eval(d: DataFrame) = d
      .select(d("i"), VectorFunctions.dotProduct(d("a"), d("b")),
        VectorFunctions.cosineSim(d("a"), d("b")))
      .collect().sortBy(_.getInt(0)).map(r => (r.getDouble(1), r.getDouble(2)))
    val dir = java.nio.file.Files.createTempDirectory("graft_kernels").toFile
    try {
      df.write.parquet(s"$dir/v.parquet")
      Seq(eval(df), eval(spark.read.parquet(s"$dir/v.parquet")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def check(df: DataFrame, a: Seq[Array[Double]], b: Seq[Array[Double]]): Unit =
    bothPaths(df).foreach { got =>
      got.zipWithIndex.foreach { case ((dot, cos), i) =>
        assert(bits(dot) == bits(VectorFunctions.dot(a(i), b(i))), s"dot, pair $i")
        assert(bits(cos) == bits(VectorFunctions.cosine(a(i), b(i))), s"cosine, pair $i")
      }
    }

  test("array<float> inputs: kernels are bit-identical to the Catalyst expressions") {
    import spark.implicits._
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
    // floats widen exactly to double, as the expressions read them
    check(df, pairs.map(_._1.map(_.toDouble).toArray), pairs.map(_._2.map(_.toDouble).toArray))
  }

  test("array<double> and mixed inputs: kernels are bit-identical to the Catalyst expressions") {
    import spark.implicits._
    val dbl = pairs.map { case (a, b) =>
      (a.map(x => x.toDouble * 1.000001), b.map(x => x.toDouble / 3.0)) }
    val df = dbl.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
    check(df, dbl.map(_._1.toArray), dbl.map(_._2.toArray))
    val mixed = pairs.zip(dbl).zipWithIndex.map { case (((a, _), (_, b)), i) => (i, a, b) }
    check(mixed.toDF("i", "a", "b"),
      mixed.map(_._2.map(_.toDouble).toArray), mixed.map(_._3.toArray))
  }

  test("zero vectors score cosine 0.0; unequal lengths score the common prefix") {
    val z = Array.fill(8)(0.0)
    val v = Array(1.0, -2.0, 3.0, 0.5, 0.25, -1.0, 2.0, 4.0)
    assert(VectorFunctions.cosine(z, v) == 0.0 && VectorFunctions.cosine(v, z) == 0.0)
    assert(VectorFunctions.cosine(Array.empty[Double], v) == 0.0)
    assert(bits(VectorFunctions.dot(v.take(3), v)) == bits(VectorFunctions.dot(v.take(3), v.take(3))))
    assert(bits(VectorFunctions.cosine(v, v.take(5))) ==
      bits(VectorFunctions.cosine(v.take(5), v.take(5))))
  }
}
