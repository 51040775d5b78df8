package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualitySignals

/** Closed-form checks for the corpus-quality signals: strict n-grams
  * (repetition-rule denominators must not see the whole-doc fallback gram)
  * and PII scan/redaction (planted patterns found exactly, redaction
  * residual-free, clean text untouched).
  */
class QualitySignalsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("ngramsStrict: short docs yield EMPTY, exact gram sequence otherwise") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq("a")),                 // shorter than n=2 -> empty
      (1L, Seq("a", "b")),            // exactly n -> one gram
      (2L, Seq("a", "b", "a", "b"))   // overlapping grams
    ).toDF("id", "w")
      .select($"id", QualitySignals.ngramsStrict($"w", 2).as("g"))
      .orderBy($"id")
    val got = df.collect().map(r => r.getSeq[String](1))
    assert(got(0) === Seq.empty)
    assert(got(1) === Seq("a b"))
    assert(got(2) === Seq("a b", "b a", "a b"))
  }

  test("ngramsStrict n=1 is the token sequence itself") {
    import spark.implicits._
    val got = Seq((0L, Seq("x", "y"))).toDF("id", "w")
      .select(QualitySignals.ngramsStrict($"w", 1).as("g"))
      .head().getSeq[String](0)
    assert(got === Seq("x", "y"))
  }

  test("ngramsStrict native == HOF formulation across n and token counts") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha bravo charlie delta echo foxtrot golf"),
      (1L, "one two"), (2L, ""), (3L, "  padded   spaces  here "),
      (4L, "repeat repeat repeat repeat")).toDF("id", "text")
    for (n <- Seq(1, 2, 3, 5, 9)) {
      val tk = graft.operators.TextAnalysis.tokensCol($"text")
      val nat = docs.select($"id", QualitySignals.ngramsStrict(tk, n).as("g"))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq.sortBy(_._1)
      val hof = docs.select($"id", ParityRefs.ngramsStrictHof(tk, n).as("g"))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq.sortBy(_._1)
      assert(nat === hof, s"n=$n")
    }
  }

  test("piiCounts finds planted patterns exactly; clean text scores zero") {
    import spark.implicits._
    val dirty = "mail a.b+c@sub.corp.example then 415-555-0101 or 555-123-4567 " +
      "from 10.0.3.25 and 192.168.0.1 end"
    val clean = "no pii here: version 1.2 at 3-45 section a@b only" // @ without TLD
    val got = Seq(dirty, clean).toDF("text")
      .select(QualitySignals.piiCounts($"text").as("p"))
      .select($"p.n_email", $"p.n_phone", $"p.n_ip")
      .collect()
    assert(got(0).getInt(0) === 1 && got(0).getInt(1) === 2 && got(0).getInt(2) === 2)
    assert(got(1).getInt(0) === 0 && got(1).getInt(1) === 0 && got(1).getInt(2) === 0)
  }

  test("redactPii removes every match, leaves clean text byte-identical") {
    import spark.implicits._
    val dirty = "mail user7@corp.example call 415-555-0101 host 10.0.3.25 done"
    val clean = "plain sentence with numbers 12345 and dots a.b.c"
    val got = Seq(dirty, clean).toDF("text")
      .select(QualitySignals.redactPii($"text").as("red"))
      .withColumn("residual", QualitySignals.piiCounts($"red"))
      .select($"red", $"residual.n_email" + $"residual.n_phone" + $"residual.n_ip")
      .collect()
    assert(got(0).getString(0) === "mail <EMAIL> call <PHONE> host <IP> done")
    assert(got(0).getInt(1) === 0)
    assert(got(1).getString(0) === clean)
    assert(got(1).getInt(1) === 0)
  }
}
