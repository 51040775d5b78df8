package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench record hygiene (round-9 lesson: a contended driver re-run
  * clobbered the committed uncontended record, and the full per-query
  * record line has never fit the driver's 2000-char stdout tail —
  * `parsed: null` in every round's bench capture).
  */
class BenchRecordSpec extends AnyFunSuite with TempDirs {

  test("recordTarget: a contended run diverts away from an uncontended record; every other combination writes in place") {
    val dir = tempDirectory("graft_bench")
    val out = dir.resolve("bench_full.json")
    // no existing record: a contended run may take the slot
    assert(Bench.recordTarget(out, newContended = true) == out)
    java.nio.file.Files.write(out, "{\"contended\":false}\n".getBytes("UTF-8"))
    // uncontended record on disk: a contended run must not clobber it
    assert(Bench.recordTarget(out, newContended = true)
      == dir.resolve("bench_full.contended.json"))
    // an uncontended run always owns the slot
    assert(Bench.recordTarget(out, newContended = false) == out)
    java.nio.file.Files.write(out, "{\"contended\":true}\n".getBytes("UTF-8"))
    // contended over contended: in place (strictly better evidence)
    assert(Bench.recordTarget(out, newContended = true) == out)
  }

  test("compactRecord: bounded well under the driver's 2000-char tail, headline numbers plus only the slowest queries") {
    val results = (1 to 300).map(i => (f"q$i%03d_some_longish_name", i / 100.0))
    val line = Bench.compactRecord(results, 450.0, 0, 2, contended = false,
      "[450.0,460.0]", "0.5,1.0,1.0", "3.0,2.0,1.0",
      "/root/testdata/sf0.1", "bench/bench_full.json")
    assert(line.length < 1500, s"len=${line.length}")
    assert(line.startsWith("{\"metric\":\"total\"") && line.endsWith("}"))
    assert(line.contains("\"n_queries\":300"))
    assert(line.contains("\"value\":450.0"))
    assert(line.contains("q300_some_longish_name")) // slowest kept
    assert(!line.contains("q001_some_longish_name")) // fast tail elided
    assert(line.contains("\"queries_full\":\"bench/bench_full.json\""))
    // a failed-query sentinel (-1) must never surface as a "slowest" entry
    val withFail = results :+ ("q999_failed", -1.0)
    assert(!Bench.compactRecord(withFail, 450.0, 1, 2, contended = false,
      "[450.0]", "", "", "", "bench/bench_full.json").contains("q999_failed"))
  }

  test("writeSummary: the compact record lands at a stable path, creating parents, newline-terminated") {
    val dir = tempDirectory("graft_benchsum")
    val record = Bench.compactRecord(Seq(("q01_x", 1.5)), 1.5, 0, 2,
      contended = false, "[1.5,1.6]", "0.1", "0.2", "/sf", "bench/full.json")
    val out = Bench.writeSummary(record, contended = false,
      dir.resolve("nested/bench_summary.json").toString)
    val content = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    assert(content == record + "\n")
    assert(content.startsWith("{\"metric\":\"total\""))
    // overwrite, not append: a second run leaves exactly one record
    Bench.writeSummary(record, contended = false, out.toString)
    assert(new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
      == record + "\n")
  }

  test("writeSummary: a contended run diverts away from an uncontended summary (round-11 clobber)") {
    val dir = tempDirectory("graft_benchsum2")
    val path = dir.resolve("bench_summary.json").toString
    val good = Bench.compactRecord(Seq(("q01_x", 1.5)), 297.4, 0, 2,
      contended = false, "[297.4,299.0]", "0.1", "0.2", "/sf", "bench/full.json")
    val bad = Bench.compactRecord(Seq(("q01_x", 1.9)), 283.6, 0, 3,
      contended = true, "[389.7,412.5,299.1]", "9.9", "8.8", "/sf", "bench/full.json")
    Bench.writeSummary(good, contended = false, path)
    val diverted = Bench.writeSummary(bad, contended = true, path)
    assert(diverted == dir.resolve("bench_summary.contended.json"))
    // the uncontended summary is untouched; the contended one lives beside it
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8") == good + "\n")
    assert(new String(java.nio.file.Files.readAllBytes(diverted), "UTF-8")
      == bad + "\n")
  }

  test("median: upper median — the round-14 protocol stat can never pick the fastest pass") {
    assert(Bench.median(Seq(3.0)) == 3.0)
    assert(Bench.median(Seq(5.0, 1.0)) == 5.0) // even count → HIGHER middle
    assert(Bench.median(Seq(9.0, 1.0, 4.0)) == 4.0)
    assert(Bench.median(Seq(2.0, 2.0, 8.0, 1.0)) == 2.0)
    // a single outlier pass cannot drag the committed number (3 passes)
    assert(Bench.median(Seq(1.0, 1.1, 40.0)) == 1.1)
  }

  test("calibration: sane single/parallel times, effective cores bounded by thread count") {
    val (single, wall, eff) = Bench.calibrate(4)
    assert(single > 0 && wall > 0)
    // throughput can never meaningfully exceed the advertised
    // parallelism (small timing jitter tolerated); the LOWER bound is
    // deliberately loose — a heavily throttled CI host delivering a
    // fraction of a core is exactly what this feature measures, not a
    // test failure
    assert(eff <= 4.4 && eff > 0.01, s"effective cores $eff")
  }

  test("compact record carries effective_cores when calibrated, omits it otherwise") {
    val results = Seq("q1" -> 1.0, "q2" -> 2.0)
    val withCal = Bench.compactRecord(results, 3.0, 0, 3, contended = false,
      "[3.0]", "0.1", "0.2", "/sf", "bench/bench_full.json",
      effectiveCores = 7.2)
    assert(withCal.contains("\"effective_cores\":7.2"))
    val withoutCal = Bench.compactRecord(results, 3.0, 0, 3, contended = false,
      "[3.0]", "0.1", "0.2", "/sf", "bench/bench_full.json")
    assert(!withoutCal.contains("effective_cores"))
  }
}
