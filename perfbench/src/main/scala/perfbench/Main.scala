package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `detail` carries the workload's own
  * named metrics (name -> (value, unit)); `layers` the per-layer metrics of
  * a traced run; `e2e` the workload's values of the generic end-to-end
  * metrics (`op_ms`, `batch_items_per_s`).
  */
final case class Outcome(
    setupS: Seq[Double],
    attempted: Int,
    problems: Seq[String],
    failedOps: Int,
    e2e: Map[String, Double],
    detail: Seq[(String, Double, String)],
    layers: Map[String, Double])

object Outcome {
  /** A run whose first ops all failed: no metrics worth reporting. */
  def aborted(setupS: Seq[Double], attempted: Int, failed: Int, problems: Seq[String]): Outcome =
    Outcome(setupS, attempted, problems, failed,
      Map("op_ms" -> 0.0, "batch_items_per_s" -> 0.0), Nil, Map.empty)
}

/** Run context handed to every workload. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    tracer: Tracer,
    scratch: Path,
    data: Path,
    bench: Path) {
  def deadlineNanos(start: Long): Long = start + seconds * 1000000000L
}

/** Entry point: `Main --workload <ingest|ask|suite> --seed <n> --seconds <s>
  * --trace <0|1> --scratch <dir> --data <dir> --bench <dir>`. The last
  * stdout line is the result object; the lines before it carry the host
  * record and the workload's named metrics. Exit code 1 when any op failed
  * or any output check did not hold.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms" -> "ms", "batch_items_per_s" -> "1/s")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val trace = args.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val scratch = Paths.get(args("scratch")).toAbsolutePath
    Files.createDirectories(scratch)
    val loadStart = loadavg()
    val stealStart = Stats.stealSeconds()
    Probe.watchHeap()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Log("session up")
    val (_, _, effCores) = graft.Bench.calibrate(cores)
    Log("calibrated")
    val tracer = new Tracer(spark, trace)
    Probe.tracer = tracer
    val ctx = Ctx(spark, args("seed").toLong, args("seconds").toInt, tracer,
      scratch, Paths.get(args("data")), Paths.get(args("bench")))
    val out = workload match {
      case "ingest" => Ingest.run(ctx)
      case "ask" => Ask.run(ctx)
      case "suite" => Suite.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Log("workload done")
    tracer.finish()
    val peakHeapMb = Probe.peakLiveHeapMb()
    val host = Json.obj(
      "nproc" -> Json.num(cores),
      "loadavg_start" -> Json.str(loadStart),
      "loadavg_end" -> Json.str(loadavg()),
      "steal_s" -> Json.num(Stats.stealSeconds() - stealStart),
      "effective_cores" -> Json.num(effCores),
      "jvm" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0))
    spark.stop()

    val setupS = Stats.median(out.setupS)
    val failed = out.failedOps + (if (out.problems.nonEmpty && out.failedOps == 0) 1 else 0)
    val failFrac = failed.toDouble / out.attempted.max(1)
    val detail = Json.obj((out.detail ++ Seq(("setup_s", setupS, "s"),
      ("peak_heap_mb", peakHeapMb, "MB"), ("fail_frac", failFrac, "ratio")))
      .map { case (n, v, u) => n -> metric(v, u) }: _*)
    val layers = Layers.all(out.layers ++ Map("fail_frac" -> failFrac, "spark.peak_heap_mb" -> peakHeapMb))
    val e2e = out.e2e + ("setup_s" -> setupS)
    val metrics = if (trace) layers else EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
    val outDir = ctx.bench.resolve("out")
    Files.createDirectories(outDir)
    Files.writeString(outDir.resolve(s"$workload-seed${ctx.seed}-trace${if (trace) 1 else 0}.json"),
      Json.obj(
        "workload" -> Json.str(workload),
        "seed" -> Json.num(ctx.seed),
        "trace" -> Json.bool(trace),
        "host" -> host,
        "setup_samples_s" -> Json.arr(out.setupS.map(Json.num)),
        "problems" -> Json.arr(out.problems.map(Json.str)),
        "metrics" -> detail,
        "layers" -> Json.obj(layers.map { case (n, (v, u)) => n -> metric(v, u) }: _*),
        "spans" -> tracer.spansJson))
    out.problems.take(20).foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    println("host " + host)
    println("detail " + detail)
    println(Json.obj(
      "correct" -> Json.bool(failed == 0),
      "attempted" -> Json.num(out.attempted),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) => n -> metric(v, u) }: _*)))
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }

  private def metric(v: Double, unit: String): String =
    Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit))

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(",")
    catch { case _: Throwable => "n/a" }
}

object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress note on stderr, stamped with seconds since JVM start. */
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - t0) / 1000.0}%.1fs] $msg")
}

object Stats {
  /** Median (mean of the middle pair for even counts); 0 for no samples. */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile over the sorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time the hypervisor gave to other guests, summed over all CPUs
    * (the `steal` column of /proc/stat, in USER_HZ = 100 ticks per second);
    * 0 where the host does not report it.
    */
  def stealSeconds(): Double =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong / 100.0
    catch { case _: Throwable => 0.0 }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One timed op: its wall time, the CPU time the hypervisor stole from
    * the VM meanwhile and the CPU time this JVM got. A vCPU is only stolen
    * from while it has work, so `stealS / (cpuS + stealS)` is the share of
    * the CPU time the op asked for that went to other guests. The op's
    * critical path is busy the whole time and, on average, lost that share
    * of it too; [[seconds]] is the wall time less that loss. Without steal
    * it is the wall time.
    */
  final case class Sample(wall: Double, stealS: Double, cpuS: Double) {
    def seconds: Double =
      if (stealS <= 0 || cpuS + stealS <= 0) wall else wall * cpuS / (cpuS + stealS)
    override def toString: String = f"$seconds%.3fs (wall $wall%.3fs, steal $stealS%.2fs)"
  }

  def sampled[T](body: => T): (T, Sample) = {
    val st = stealSeconds()
    val cpu = os.getProcessCpuTime
    val (r, s) = timed(body)
    (r, Sample(s, stealSeconds() - st, (os.getProcessCpuTime - cpu) / 1e9))
  }

  /** Time `body` in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }
}

/** Minimal JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
