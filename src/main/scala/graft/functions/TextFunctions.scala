package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text functions mirroring the reference's row-level text surface
  * (SURVEY.md §2.8) as codegen-friendly Column compositions, plus the
  * plain-Scala twins the sequential packers (C1-C4) call per line.
  */
object TextFunctions {

  /** Tokenizer regex: word runs or single non-space symbols. This is the
    * engine-defined deterministic stand-in for tiktoken's cl100k_base
    * (`pipeline1.py:69-72`) — rank files are not vendorable offline, so
    * chunk boundaries are pinned to THIS tokenizer (SURVEY.md §7.4.1).
    * ASCII `\w` semantics match Java regex and DuckDB's RE2.
    */
  val TokenRegex = "\\w+|[^\\w\\s]"
  private val tokenPattern = java.util.regex.Pattern.compile(TokenRegex)

  /** Plain-Scala token count (used inside packers; identical to the
    * columnar form below).
    */
  def numTokens(s: String): Int = {
    val m = tokenPattern.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Columnar token count: size(regexp_extract_all(text, TokenRegex)). */
  def numTokensCol(c: Column): Column =
    when(c.isNull, lit(0))
      .otherwise(size(regexp_extract_all(c, lit(TokenRegex), lit(0))))

  /** Whitespace token count (the cheap variant for quality stats). */
  def wsTokenCountCol(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** The reference's MMD scrub regexes (`pipeline1.py:114-134`), in
    * application order: each `\begin{tabular}` / `\end{tabular}` /
    * `\begin{table}` / `\end{table}` marker is scrubbed TO END OF LINE (not
    * the whole block) and replaced with a newline; `+++…+++` Nougat warning
    * spans are scrubbed DOTALL, also to a newline. This is the ONE scrub
    * implementation repo-wide — `Sectionizer.cleanMmd` delegates here, and
    * [[scrubCol]] is the columnar twin built from the same patterns.
    */
  val ScrubLinePatterns: Seq[String] = Seq(
    """\\begin\{tabular\}.*?\n""",
    """\\end\{tabular\}.*?\n""",
    """\\begin\{table\}.*?\n""",
    """\\end\{table\}.*?\n""")
  val ScrubSpanPattern: String = """(?s)\+\+\+(.*?)\+\+\+"""

  def scrub(s: String): String = {
    val noLines = ScrubLinePatterns.foldLeft(s)((t, p) => t.replaceAll(p, "\n"))
    noLines.replaceAll(ScrubSpanPattern, "\n")
  }

  def scrubCol(c: Column): Column = {
    val noLines = ScrubLinePatterns.foldLeft(c)((t, p) => regexp_replace(t, p, "\n"))
    regexp_replace(noLines, ScrubSpanPattern, "\n")
  }

  /** Markdown semantic classification; order of checks matters (`###` before
    * `##` before `#`) — reference `pipeline1.py:151-162`.
    */
  def classifyMarkdownCol(c: Column): Column =
    when(c.startsWith("###"), "Heading3")
      .when(c.startsWith("##"), "Heading2")
      .when(c.startsWith("#"), "Heading1")
      .when(c.startsWith("**"), "Bold")
      .when(c.startsWith("*"), "Bullet")
      .otherwise("Paragraph")

  def classifyMarkdown(s: String): String =
    if (s.startsWith("###")) "Heading3"
    else if (s.startsWith("##")) "Heading2"
    else if (s.startsWith("#")) "Heading1"
    else if (s.startsWith("**")) "Bold"
    else if (s.startsWith("*")) "Bullet"
    else "Paragraph"

  /** Character-level n-gram shingles (near-dup building block). */
  def shingles(s: String, n: Int): Seq[String] = {
    val t = s.trim
    if (t.length < n) Seq(t) else (0 to t.length - n).map(i => t.substring(i, i + n))
  }

  /** P7 validation predicates (`Registration.py:32-35`). The password rule
    * `^(?=.*[!@#$%^&*])\S{5,}$` is rewritten lookahead-free (RE2/oracle
    * compatible): all-non-space of length ≥5 AND contains a special char.
    */
  def emailValidCol(c: Column): Column = c.rlike("^.+@.+\\.(com)$")

  def passwordValidCol(c: Column): Column =
    c.rlike("^\\S{5,}$") && c.rlike("[!@#$%^&*]")

  def emailValid(s: String): Boolean = s.matches(".+@.+\\.(com)$")

  def passwordValid(s: String): Boolean =
    s.matches("\\S{5,}") && java.util.regex.Pattern.compile("[!@#$%^&*]").matcher(s).find()

  /** Random alphanumeric id of length n (`pipeline1.py:63-66`; ids only,
    * crypto strength not required).
    */
  def randomAlnum(n: Int): String = {
    val chars = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')
    val rnd = java.util.concurrent.ThreadLocalRandom.current()
    (1 to n).map(_ => chars(rnd.nextInt(chars.length))).mkString
  }
}
