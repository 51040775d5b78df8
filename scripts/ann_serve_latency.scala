// Warm AnnIndex.query latency at batch sizes 1, 16 and 256 over the
// committed sf0.1 embeddings table, read from perfbench/data/sf0.1 only.
//
// Run from the repository root after `sbt compile` (or with the classes a
// perfbench run built, perfbench/target/classes):
//
//   spark-shell --master 'local[4]' --conf spark.ui.enabled=false \
//     --conf spark.sql.shuffle.partitions=4 \
//     --driver-class-path target/scala-2.13/classes -I scripts/ann_serve_latency.scala
//
// Builds the index once (AnnIndex.build defaults: m = 8, sub = 8, kcode = 16)
// into a temporary directory, then per batch size runs untimed warm-up
// batches and timed ones (k = 2, nprobe = 4, the ask workload's), each a
// literal batch of consecutive table vectors, and prints one markdown row:
// samples, median, and the highest of p75/p90/p95/p99 that has at least 10
// samples above it. The directory is deleted at the end.
import graft.index.AnnIndex

// one block, so the shell reads it as one input
locally {
  val k = 2
  val nprobe = 4
  val warmup = 10
  // batch size -> timed samples (≥ 10 beyond p95 at 200, beyond p90 at 100)
  val plan = Seq(1 -> 200, 16 -> 200, 256 -> 100)

  val emb = spark.read.parquet("perfbench/data/sf0.1/embeddings.parquet")
    .select($"vec_id", $"embedding")
  val vecs = emb.as[(Long, Seq[Float])].collect().sortBy(_._1)
  val dir = java.nio.file.Files.createTempDirectory("ann_serve_latency").toString
  try {
    AnnIndex.build(emb, s"$dir/idx")
    var next = 0
    def batch(n: Int) = {
      val qs = (0 until n).map { i => vecs((next + i) % vecs.length) }
      next = (next + n) % vecs.length
      qs.toDF("query_id", "qv")
    }
    def timedMs(n: Int): Double = {
      val qs = batch(n)
      val t0 = System.nanoTime()
      AnnIndex.query(spark, s"$dir/idx", qs, k, nprobe).collect()
      (System.nanoTime() - t0) / 1e6
    }
    println("| batch | samples | median ms | tail ms |")
    println("| --- | --- | --- | --- |")
    for ((n, samples) <- plan) {
      (0 until warmup).foreach(_ => timedMs(n))
      val ms = (0 until samples).map(_ => timedMs(n)).sorted
      def pct(p: Int): Double = ms(math.min(ms.length - 1, math.ceil(p / 100.0 * ms.length).toInt - 1))
      val tail = Seq(99, 95, 90, 75).find(p => ms.count(_ > pct(p)) >= 10).getOrElse(50)
      println(f"| $n | $samples | ${pct(50)}%.1f | p$tail ${pct(tail)}%.1f |")
    }
  } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
}
System.exit(0)
