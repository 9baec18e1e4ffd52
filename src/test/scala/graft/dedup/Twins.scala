package graft.dedup

import graft.ops.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second implementations of engine kernels, kept for the kernel-vs-twin
  * tests only: each is written a different way (plain Scala loops or
  * Catalyst built-ins) from the compiled kernel it checks. */
object Twins {

  private val P: Long = (1L << 31) - 1 // Mersenne prime 2^31-1

  /** |A n B| of two sorted int arrays (the twin of `JaccardKernel.count`). */
  def intersectSorted(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** Reference-rounded exact Jaccard (the twin of `JaccardKernel.sim`). */
  def jaccard6(a: Array[Int], b: Array[Int]): Double = {
    val inter = intersectSorted(a, b)
    if (inter == 0) 0.0
    else Jaccard.round6(inter.toDouble / (a.length + b.length - inter).toDouble)
  }

  /** MinHash estimate of Jaccard from two signatures (fraction of equal
    * components) — the statistical promise the signatures are tested on. */
  def estimate(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

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

  /** 64-bit SimHash: sign bits of the per-bit vote sum over SplitMix64
    * token hashes (the twin of `SimHash64`). */
  def simhash64(tokens: Array[Int], seed: Long): Long = {
    val votes = new Array[Int](64)
    var t = 0
    while (t < tokens.length) {
      val h = SimHash.mix64(tokens(t).toLong ^ seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
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

  /** Cosine over two float arrays via higher-order built-ins (the twin of
    * `CosineKernel`). Summation order = array order on both sides of any
    * comparison, so results are bit-deterministic. Zero-norm inputs yield
    * NULL (no defined cosine; also ANSI mode would throw on the 0-divide) —
    * consumers filter nulls, matching the blocked paths' skip. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(
        zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0),
        (acc, v) => acc + v
      )
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom === 0.0, lit(null).cast("double")).otherwise(dot(a, b) / denom)
  }

  /** Brute-force top-k neighbors per vector (the twin of
    * `Similarity.cosineTopKBlocked`): symmetric pair expansion + window
    * rank. embeddings: (vec_id, embedding). */
  def cosineTopK(embeddings: DataFrame, k: Int): DataFrame = {
    val x = embeddings.select(col("vec_id").as("a"), col("embedding").as("va"))
    val y = embeddings.select(col("vec_id").as("b"), col("embedding").as("vb"))
    val pairs = x
      .join(y, col("a") < col("b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      // zero-norm embeddings yield NULL: drop, matching the blocked path
      .filter(col("cosine").isNotNull)
      .select(col("a"), col("b"), col("cosine"))
    val sym = pairs
      .select(col("a").as("vec_id"), col("b").as("neighbor"), col("cosine"))
      .unionByName(pairs.select(col("b").as("vec_id"), col("a").as("neighbor"), col("cosine")))
    val w = Window.partitionBy(col("vec_id")).orderBy(desc("cosine"), asc("neighbor"))
    sym
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding near-duplicate pairs at a cosine threshold, brute force (the
    * twin of `Similarity.nearDupPairsBlocked`). */
  def nearDupPairs(embeddings: DataFrame, minCosine: Double): DataFrame = {
    val x = embeddings.select(col("vec_id").as("a"), col("embedding").as("va"))
    val y = embeddings.select(col("vec_id").as("b"), col("embedding").as("vb"))
    x.join(y, col("a") < col("b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** The first `n` files of [[CorpusGen]], driver-side, for tiny corpora. */
  def corpusLocal(n: Int, seed: Long = 42L): Seq[CodeFile] =
    (0 until n).map(i => CorpusGen.file(i.toLong, seed))
}
