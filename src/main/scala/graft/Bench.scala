package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, ONE JSON line on stdout.
  *
  * local[32] by default (the driver's stated executor shape); AQE on so
  * sf0.1 plans re-partition at runtime the way a real cluster run would.
  * A warm-up action absorbs one-time session/codegen init so per-query
  * numbers measure the queries, not JVM startup.
  *
  * RECORD PROTOCOL (fixed in round 14 — the round-13 verdict showed
  * "last and best of N attempts" can no longer support regression
  * calls): the suite runs PASSES (default 3) full passes in one JVM and
  * reports the per-query MEDIAN over successful passes (upper median
  * for even counts — the conservative pick, never the fastest
  * observation). ALL attempts stay in the committed record
  * (`queries_per_pass`), so a reader can recompute any statistic and
  * cherry-picking is structurally impossible: re-running cannot improve
  * the committed number unless the MIDDLE run improves. Contention
  * evidence stays: /proc/loadavg snapshots at start/end, per-pass
  * totals, the contended flag (+1 pass when the machine starts busy),
  * and the contended-run divert that protects an uncontended record.
  *
  * CLONE SCALE: with `SPARK_GRAFT_SCALE_COPIES` = c > 1 the same pass runs
  * over a c× [[Tables.cloneDir]] clone of the sf dir (written before the
  * passes, deleted at exit), so the paths above the in-process size gates
  * run the shipped queries unchanged; the record carries `"copies"` and
  * goes where a filtered record goes (bench/clone_scale.md).
  */
object Bench {

  /** Upper median of the successful times: for odd n the middle, for
    * even n the HIGHER middle — a deliberately conservative tie-break so
    * a 2-pass record can never report its faster pass.
    */
  def median(times: Seq[Double]): Double = {
    val s = times.sorted
    s(s.length / 2)
  }

  /** Where to persist the record: a CONTENDED run must never clobber an
    * uncontended record (round-9 lesson: a later contended driver re-run
    * overwrote the committed 237.4 s uncontended record in the working
    * tree) — if the existing file says contended:false and the new record
    * is contended, divert to `<name>.contended.json`.
    */
  def recordTarget(out: java.nio.file.Path, newContended: Boolean): java.nio.file.Path = {
    if (!newContended) return out
    val existingUncontended =
      try java.nio.file.Files.exists(out) &&
        new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
          .contains("\"contended\":false")
      catch { case _: Throwable => false }
    if (existingUncontended)
      out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".contended.json")
    else out
  }

  /** Compact summary for the driver's stdout tail: the driver keeps only
    * the LAST ~2000 chars of stdout and json-parses what it finds there —
    * the full per-query record outgrew that window as the suite grew
    * (`parsed: null` in every round's bench record), so the bench prints
    * this bounded line (headline numbers + the `topSlow` slowest queries +
    * a pointer to the complete in-repo record) as its FINAL stdout line.
    */
  def compactRecord(results: Seq[(String, Double)], total: Double,
      failures: Int, passes: Int, contended: Boolean, perPass: String,
      loadStart: String, loadEnd: String, sfDir: String, fullPath: String,
      topSlow: Int = 10, effectiveCores: Double = 0.0): String = {
    val slow = results.filter(_._2 >= 0).sortBy(-_._2).take(topSlow)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val cal = if (effectiveCores > 0)
      s""""effective_cores":${round1(effectiveCores)},""" else ""
    s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failures":$failures,"passes":$passes,"contended":$contended,"totals_per_pass":$perPass,"load_start":"$loadStart","load_end":"$loadEnd",$cal"queries":$slow,"queries_full":"$fullPath","sf":"$sfDir"}"""
  }

  /** Persist the compact summary at a tiny stable path too: the driver
    * json-parses the stdout tail, but sbt's `[success]` line follows the
    * summary there — any tail-parse failure recovers from this file.
    * Routed through [[recordTarget]] like the full record (round-11
    * lesson: a contended driver re-run silently replaced the committed
    * uncontended summary while the full record stayed protected).
    */
  def writeSummary(record: String, contended: Boolean,
      path: String = "bench/bench_summary.json"): java.nio.file.Path = {
    val out = recordTarget(java.nio.file.Paths.get(path), contended)
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (record + "\n").getBytes("UTF-8"))
    out
  }

  /** In-JVM CPU calibration: the same fixed SHA-256 chain timed once
    * single-threaded and once running on every advertised core
    * concurrently. On a dedicated host the parallel wall ≈ the single
    * time and `effectiveCores` ≈ the core count; on an overcommitted
    * hypervisor the parallel wall stretches and `effectiveCores`
    * records the throughput the host actually delivered. Runs before
    * the passes (~1 s) so every committed record carries the evidence a
    * round-over-round comparison needs — round-15 lesson: a 32-vCPU
    * host delivering ~7 effective cores reads as a 2× suite regression
    * on identical code, and loadavg alone cannot distinguish the two.
    */
  def calibrate(threads: Int): (Double, Double, Double) = {
    // ~200 ms of chained SHA-256 per measurement: long enough that
    // thread start/scheduling cost (~ms) cannot masquerade as missing
    // parallelism (the first cut used ~20 ms bursts and measured 0.9
    // "effective cores" on an idle 32-vCPU host)
    def burn(iters: Int): Unit = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var x = new Array[Byte](64)
      var i = 0
      while (i < iters) { x = md.digest(x); i += 1 }
    }
    burn(150000) // JIT warm-up, untimed
    val t0 = System.nanoTime(); burn(1500000)
    val single = (System.nanoTime() - t0) / 1e9
    val ts = (1 to threads).map(_ => new Thread(() => burn(1500000)))
    val t1 = System.nanoTime(); ts.foreach(_.start()); ts.foreach(_.join())
    val wall = (System.nanoTime() - t1) / 1e9
    (single, wall, if (wall > 0) threads * single / wall else 0.0)
  }

  /** Locale-independent rounded JSON number (Double.toString never uses
    * a comma decimal, unlike the f interpolator's String.format).
    */
  private def round3(v: Double): Double = math.rint(v * 1000) / 1000
  private def round1(v: Double): Double = math.rint(v * 10) / 10

  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(",")
      finally src.close()
    } catch { case _: Throwable => "n/a" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // clone scale: above 1 copy the pass runs over a Tables.cloneDir clone
    // of the sf dir (written untimed, deleted at exit), so the paths above
    // the size gates run the shipped queries unchanged
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "1").toInt.max(1)
    val runDir = if (copies > 1) Tables.cloneDir(spark, sfDir, copies) else sfDir
    try run(spark, sfDir, runDir, copies, cpus, passes)
    finally if (runDir != sfDir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(runDir))
  }

  private def run(spark: SparkSession, sfDir: String, runDir: String,
      copies: Int, cpus: String, passes: Int): Unit = {
    val loadStart = loadavg()
    val (calSingle, calWall, effCores) = calibrate(cpus.toInt)

    // warm-up: touch every table once (scan + codegen init, no shuffle)
    Tables.Names.foreach { n =>
      try Tables.load(spark, runDir, n).limit(1).count()
      catch { case _: Throwable => () }
    }

    // noop sink: evaluates EVERY output column (count() would let Catalyst
    // prune computed projections and under-measure expression-heavy queries)
    // failures surface as -1 so a crashing query can never masquerade as a
    // fast one in the driver's bench record
    // builder-side iteration aid, mirroring Verify's: SPARK_GRAFT_ONLY
    // restricts the pass to named queries/prefixes. The driver never
    // sets it, so the recorded contract surface is unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def wanted(name: String): Boolean =
      only.forall(_.exists(p => name == p || name.startsWith(p)))
    val ordered = SparkEntry.queries.toSeq.filter(kv => wanted(kv._1)).sortBy(_._1)
    // each output's row count rides the write as an observed metric (no
    // second evaluation); -1 marks a failed attempt
    def onePass(): Seq[(String, Double, Long)] = ordered.map { case (name, fn) =>
      // the query's jobs carry its name as their job group, so an event
      // log attributes every job (and each size gate's decision) to it
      spark.sparkContext.setJobGroup(name, name)
      val t0 = System.nanoTime()
      val obs = org.apache.spark.sql.Observation(name)
      val ok =
        try {
          fn(spark, runDir).observe(obs, org.apache.spark.sql.functions.count("*").as("rows"))
            .write.mode("overwrite").format("noop").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // outside the timed region: bookkeeping, not query work — a staged
      // cache (q56's band view) must not skew every LATER query's memory
      SparkEntry.releaseStaging(spark)
      spark.sparkContext.clearJobGroup()
      if (ok) (name, elapsed, obs.get("rows").asInstanceOf[Long]) else (name, -1.0, -1L)
    }
    // contention hygiene (round-4 lesson: a pass run at loadavg >2 produced
    // six phantom sub-1.5 s regressions): when the machine is already busy
    // at start, run one extra pass so the per-query min has a better chance
    // of catching a quiet window, and flag the record as contended so
    // round-over-round readers can discount noise explicitly.
    val load1 = loadStart.split(",").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.0)
    val contended = load1 > 1.5
    val effPasses = if (contended) passes + 1 else passes
    val allPasses = (1 to effPasses).map(_ => onePass())
    // per-query MEDIAN over successful passes (protocol above); -1 only
    // if EVERY pass failed
    val results = ordered.map(_._1).zipWithIndex.map { case (name, i) =>
      val times = allPasses.map(_(i)._2).filter(_ >= 0)
      name -> (if (times.nonEmpty) median(times) else -1.0)
    }
    val loadEnd = loadavg()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rows = ordered.map(_._1).zipWithIndex.map { case (name, i) =>
      "\"" + name + "\":" + allPasses.map(_(i)._3).max
    }.mkString("{", ",", "}")
    // failed queries carry the -1 sentinel in `queries` but must not
    // subtract from the headline total; surface them as a count instead
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failures = results.count(_._2 < 0)
    // per-pass totals expose inter-pass variance directly — a reader can see
    // machine contention in the record instead of trusting loadavg alone
    val perPass = allPasses
      .map(p => p.collect { case (_, v, _) if v >= 0 => v }.sum)
      .mkString("[", ",", "]")
    // EVERY attempt goes into the committed record — the anti-cherry-pick
    // half of the protocol (readers can recompute min/median/max per query)
    val perPassQueries = allPasses.map(p =>
      p.map { case (k, v, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}"))
      .mkString("[", ",", "]")
    // plain Double interpolation everywhere: Double.toString is
    // locale-independent, where an f-interpolator would emit comma
    // decimals (invalid JSON) under a comma-decimal default locale
    val cal = s""""cal_single_s":${round3(calSingle)},"cal_parallel_s":${round3(calWall)},"effective_cores":${round1(effCores)}"""
    val record = s"""{"metric":"total","value":$total,"unit":"sec","stat":"median","failures":$failures,"passes":$effPasses,"contended":$contended,"totals_per_pass":$perPass,"load_start":"$loadStart","load_end":"$loadEnd",$cal,"queries":$qs,"queries_per_pass":$perPassQueries,"rows":$rows,"sf":"$sfDir","copies":$copies}"""
    println(record)
    // the driver's captured stdout tail has truncated alphabetically-early
    // per-query times in past rounds — persist the COMPLETE record in-repo
    // too (path overridable; writing must never fail the bench itself).
    // recordTarget diverts a contended run away from an uncontended record,
    // and a SPARK_GRAFT_ONLY-filtered or clone-scale run must NEVER touch
    // the committed record paths (its total is not the 1× full-suite number):
    // it defaults to /tmp and skips the stable summary below.
    val partial = only.isDefined || copies > 1
    var fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (partial) "/tmp/bench_partial.json" else "bench/bench_full.json")
    try {
      val out = recordTarget(java.nio.file.Paths.get(fullPath), contended)
      fullPath = out.toString
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (record + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] record write failed: ${e.getMessage}")
    }
    spark.stop()
    // FINAL stdout line, after Spark's shutdown chatter: a bounded summary
    // the driver's 2000-char stdout tail can actually parse — ALSO written
    // to a stable in-repo path so a tail-parse failure is recoverable
    val compact = compactRecord(results, total, failures, effPasses, contended,
      perPass, loadStart, loadEnd, sfDir, fullPath, effectiveCores = effCores)
    if (!partial)
      try writeSummary(compact, contended)
      catch { case e: Throwable =>
        System.err.println(s"[bench] summary write failed: ${e.getMessage}")
      }
    println(compact)
  }
}
