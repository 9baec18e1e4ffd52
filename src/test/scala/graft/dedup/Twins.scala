package graft.dedup

import graft.ops.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Second implementations of engine kernels, kept for the kernel-vs-twin
  * tests only: each is written a different way (plain Scala loops or
  * Catalyst built-ins) from the compiled kernel it checks. */
object Twins {

  private val P: Long = (1L << 31) - 1 // Mersenne prime 2^31-1

  /** MinHash signature: h_i(x) = (a_i * x + b_i) mod P, min-folded over the
    * token array (the twin of `MinHashSig`). */
  def signatureScala(tokens: Array[Int], as: Array[Long], bs: Array[Long]): Array[Long] = {
    val k = as.length
    val sig = Array.fill(k)(Long.MaxValue)
    var t = 0
    while (t < tokens.length) {
      val x = tokens(t).toLong & 0x7fffffffL
      var i = 0
      while (i < k) {
        // exact (a*x + b) mod P via Mersenne folding
        val v = as(i) * x + bs(i)
        val f1 = (v & P) + (v >>> 31)
        var h = (f1 & P) + (f1 >>> 31)
        if (h >= P) h -= P
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      t += 1
    }
    sig
  }

  /** 64-bit mix of one band's signature slice (SplitMix64-style avalanche),
    * band index folded in (the twin of `BandHashes`). */
  def bandHashScala(sig: Array[Long], band: Int, rows: Int): Long = {
    var h = 0x9e3779b97f4a7c15L * (band + 1)
    var i = band * rows
    val end = i + rows
    while (i < end) {
      h ^= sig(i)
      h *= 0xbf58476d1ce4e5b9L
      h ^= (h >>> 31)
      i += 1
    }
    h
  }

  private lazy val stopwordsArray: Column = lit(Stopwords.english.toArray.sorted)

  /** Ordered, lower-cased, filtered token stream (duplicates preserved). */
  private def tokenStream(text: Column): Column =
    filter(
      regexp_extract_all(lower(text), lit(Tokenize.TokenPattern), lit(0)),
      t =>
        length(t) > 1 &&
          !t.rlike("^[0-9]+$") &&
          !t.rlike("^[0-9]+(-[0-9]+)+$") &&
          !array_contains(stopwordsArray, t)
    )

  /** k-token shingles over an ordered token array (k >= 1). */
  def shingles(tokens: Column, k: Int): Column =
    if (k <= 1) tokens
    else
      when(
        size(tokens) >= k,
        transform(
          sequence(lit(1), size(tokens) - lit(k - 1)),
          i => concat_ws(" ", slice(tokens, i, lit(k)))
        )
      ).otherwise(array().cast("array<string>"))

  /** [[Tokenize.tokenSet]] composed from Catalyst built-ins only. */
  def tokenSetBuiltins(text: Column, k: Int = 1): Column =
    array_sort(array_distinct(shingles(tokenStream(text), k)))

  /** [[Similarity.hyperplaneSketch]] from interpreted built-ins, including
    * the length-mismatch null case. */
  def hyperplaneSketchBuiltins(embeddings: DataFrame, dim: Int, planes: Int, seed: Long): DataFrame = {
    val hp = Similarity.hyperplanes(dim, planes, seed)
    val sketch = (0 until planes)
      .map { p =>
        val plane = lit(hp(p))
        val d = aggregate(
          zip_with(col("embedding"), plane, (x, h) => x.cast("double") * h),
          lit(0.0),
          (acc, v) => acc + v
        )
        when(d >= 0, lit(1L << p)).otherwise(lit(0L))
      }
      .reduce(_.bitwiseOR(_))
    embeddings.withColumn("sketch", sketch)
  }

  /** The first `n` files of [[CorpusGen]], driver-side, for tiny corpora. */
  def corpusLocal(n: Int, seed: Long = 42L): Seq[CodeFile] =
    (0 until n).map(i => CorpusGen.file(i.toLong, seed))
}
