package graft.dedup

import org.apache.spark.sql.Column

/** Token / shingle extraction with the reference's exact semantics, as one
  * compiled kernel call ([[TokenSet]]) over a plain-Scala kernel (no UDFs in
  * the hot path).
  *
  * Reference semantics (the correctness contract, SURVEY.md §1.4):
  *  - tokenizer regex `\b[a-zA-Z0-9][-a-zA-Z0-9]*[a-zA-Z0-9]\b` over the
  *    lower-cased text (code/Stage01PreprocessData.py:31,44-48,78-81);
  *  - drop stopwords, tokens of length <= 1, pure digits, and digit-hyphen
  *    chains `^[0-9]+(-[0-9]+)+$` (code/Stage01PreprocessData.py:85-91);
  *  - set semantics: distinct, sorted ascending (code/Stage01PreprocessData.py:83-97);
  *  - docs with no surviving tokens are dropped by the caller
  *    (code/Stage01PreprocessData.py:93-100).
  *
  * For source code (`shingleK > 1`) we extend the same token stream to
  * k-token shingles taken over the *ordered* filtered stream, then apply the
  * same set semantics to the shingle set.
  */
object Tokenize {

  /** Java-regex rendering of the reference tokenizer. The `(?U)` flag
    * (UNICODE_CHARACTER_CLASS) makes Java's `\b` Unicode-aware like CPython
    * `re`'s: without it, "naïve" yields tokens "na"/"ve" here but NOTHING in
    * the reference ('ï' is a word char to CPython, so there is no boundary).
    * Verified against CPython on non-ASCII fixtures in KernelSpec. The
    * character classes themselves stay ASCII — only boundary semantics
    * change, so pure-ASCII corpora (and the DuckDB RE2 oracles, which have
    * ASCII-only `\b`) are byte-identical with or without the flag. */
  val TokenPattern = "(?U)\\b[a-zA-Z0-9][-a-zA-Z0-9]*[a-zA-Z0-9]\\b"

  /** The document set: distinct sorted token/shingle strings — as a
    * compiled kernel call (see [[TokenSet]]). */
  def tokenSet(text: Column, k: Int = 1): Column = TokenSet(text, k)

  /** Plain-Scala kernel (used by [[TokenSet]] and the corpus ground truth).
    * Must stay in lockstep with the reference regexes; the test suite holds
    * it equal to a twin built from Catalyst built-ins and to the oracle. The
    * digit filters are hand-rolled char loops equivalent to `^[0-9]+$` and
    * `^[0-9]+(-[0-9]+)+$` (String.matches would recompile per call). */
  private val compiled = java.util.regex.Pattern.compile(TokenPattern)

  private def isPureDigits(t: String): Boolean = {
    var i = 0
    while (i < t.length) { val c = t.charAt(i); if (c < '0' || c > '9') return false; i += 1 }
    true
  }

  /** digit groups joined by single hyphens, >= 1 hyphen: `^[0-9]+(-[0-9]+)+$` */
  private def isDigitChain(t: String): Boolean = {
    if (t.isEmpty || t.charAt(0) == '-' || t.charAt(t.length - 1) == '-') return false
    var hyphens = 0
    var prevHyphen = false
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '-') {
        if (prevHyphen) return false
        hyphens += 1; prevHyphen = true
      } else if (c >= '0' && c <= '9') prevHyphen = false
      else return false
      i += 1
    }
    hyphens >= 1
  }

  def tokenStreamScala(text: String): Array[String] = {
    val m = compiled.matcher(text.toLowerCase(java.util.Locale.ROOT))
    val out = Array.newBuilder[String]
    while (m.find()) {
      val t = m.group()
      if (
        t.length > 1 && !isPureDigits(t) && !isDigitChain(t) &&
        !Stopwords.english.contains(t)
      ) out += t
    }
    out.result()
  }

  def tokenSetScala(text: String, k: Int = 1): Array[String] = {
    val stream = tokenStreamScala(text)
    val sh =
      if (k <= 1) stream
      else if (stream.length < k) Array.empty[String]
      else stream.sliding(k).map(_.mkString(" ")).toArray
    sh.distinct.sorted
  }
}
