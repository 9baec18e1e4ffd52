package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import graft.dedup.{CodeFile, Stopwords}

/** Exact set-Jaccard oracle over generated files, independent of the
  * engine's kernels: its own tokenizer, document frequencies, min-df prune
  * and sorted-set intersection, with the reference's 6-dp HALF_EVEN rounding.
  *
  * The tokenizer only handles generator output (lower-case words separated by
  * single spaces) and refuses anything else, so a generator change that the
  * oracle cannot follow fails loudly instead of scoring against wrong sets.
  */
final class Oracle(files: IndexedSeq[CodeFile], minDf: Int) {

  private val raw: Array[Array[String]] = files.iterator.map(f => Oracle.tokens(f.content)).toArray

  private val df: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    raw.foreach(_.foreach(t => m.merge(t, 1, (a: Integer, b: Integer) => a + b)))
    m
  }

  /** Dense oracle-side ids for the vocabulary (df >= minDf). */
  private val ids: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    df.forEach((t, c) => if (c >= minDf) m.put(t, m.size()))
    m
  }

  /** Encoded set of file i: sorted vocabulary ids (empty when pruned away). */
  val encoded: Array[Array[Int]] = raw.map(encode)

  def group(i: Int): String = files(i).lang

  /** Encode a token set against this corpus's vocabulary; unknown tokens are
    * dropped, as the engine's streaming encode does. */
  def encode(tokens: Array[String]): Array[Int] = {
    val out = tokens.flatMap(t => Option(ids.get(t)).map(_.intValue))
    java.util.Arrays.sort(out)
    out
  }

  def jaccard(i: Int, j: Int): Double = Oracle.jaccard6(encoded(i), encoded(j))

  /** Planted pairs that are true near-duplicates: same group, both files
    * survive the prune, exact Jaccard at or above the threshold. */
  def truth(planted: Iterator[(Long, Long)], threshold: Double): Array[(Int, Int)] =
    planted
      .map { case (a, b) => (a.toInt, b.toInt) }
      .filter { case (a, b) =>
        group(a) == group(b) && encoded(a).nonEmpty && encoded(b).nonEmpty && jaccard(a, b) >= threshold
      }
      .toArray
}

object Oracle {

  private val Word = "[a-z0-9][-a-z0-9]*".r

  def tokens(content: String): Array[String] =
    content
      .split(' ')
      .iterator
      .filter(_.nonEmpty)
      .map { t =>
        require(Word.matches(t), s"oracle tokenizer cannot handle token '$t'")
        t
      }
      .filter(t => t.length > 1 && !t.forall(_.isDigit) && !digitChain(t) && !Stopwords.english.contains(t))
      .toArray
      .distinct
      .sorted

  private def digitChain(t: String): Boolean =
    t.contains('-') && t.split("-", -1).forall(p => p.nonEmpty && p.forall(_.isDigit))

  def jaccard6(a: Array[Int], b: Array[Int]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    if (inter == 0) 0.0
    else
      new JBigDecimal(inter.toDouble / (a.length + b.length - inter).toDouble)
        .setScale(6, RoundingMode.HALF_EVEN)
        .doubleValue()
  }

  /** File index encoded in a generated path: the digits before the extension
    * (`src/f000123.py`, `ingest/near000123.go`). */
  def pathIndex(path: String): Int = {
    val stem = path.substring(path.lastIndexOf('/') + 1).takeWhile(_ != '.')
    stem.dropWhile(!_.isDigit).toInt
  }
}
