package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Substring near-clone detection — the third detector of the north_star
  * design ("suffix-array-based substring dedup"): catches one file embedded
  * inside another, which set-Jaccard misses (the union dilutes the overlap).
  *
  * Scale shape:
  *  1. candidate generation by WINNOWING fingerprints (Schleimer et al.,
  *     SIGMOD'03 — the MOSS scheme): per doc, rolling Rabin-Karp hashes of
  *     every k-char gram, keep the minimum in each window of `window`
  *     consecutive grams. Guarantee: any common substring of length >=
  *     k + window - 1 shares at least one fingerprint. Fingerprints are tiny
  *     (~2/window per char), and bucketing them is one shuffle.
  *  2. boilerplate control: fingerprints present in more than `maxFpDf` docs
  *     are dropped (license headers would otherwise bucket half the corpus —
  *     same idea as the vocabulary max-df cap). The cap is counted inside
  *     the bucket walk of step 1's one shuffle, which exchanges on the
  *     fingerprint alone ([[PairGen.pairsFromCappedBuckets]]): a hot
  *     fingerprint streams through one task in O(`maxFpDf`) memory, the same
  *     skew posture as the LSH walk's oversized buckets.
  *  3. exact verification per candidate pair with a SUFFIX AUTOMATON of the
  *     shorter content run over the longer — O(|a|+|b|) longest-common-
  *     substring, no quadratic DP. Pairs with LCS >= minMatch are emitted
  *     with their containment ratio.
  */
object SuffixDedup {

  final case class SubConfig(
      k: Int = 64,          // gram length (chars)
      window: Int = 33,     // winnowing window -> guarantee at k+window-1 = 96 chars
      minMatch: Int = 96,   // minimum LCS length to report
      maxFpDf: Int = 200,   // fingerprint document-frequency cap (boilerplate)
      maxBucket: Int = 1000 // bucket cap for pair generation
  )

  private val Base = 1000003L
  private val Mod = (1L << 61) - 1

  /** Winnowed fingerprints of `content` — deterministic, allocation-light. */
  def fingerprints(content: String, k: Int, window: Int): Array[Long] = {
    val n = content.length
    if (n < k) return Array.empty
    val m = n - k + 1
    val hs = new Array[Long](m)
    // rolling polynomial hash over chars, mod 2^61-1 via Math.multiplyHigh-free
    // arithmetic: keep values < 2^31 by folding with a second multiply step
    var h = 0L
    var pow = 1L
    var i = 0
    def mulmod(a: Long, b: Long): Long = {
      // a, b < 2^61; use BigInt-free 128-bit multiply via Math.multiplyHigh
      val hi = Math.multiplyHigh(a, b)
      val lo = a * b
      // fold 128-bit product mod 2^61-1
      val r = (lo & Mod) + ((lo >>> 61) | (hi << 3)) // hi:lo >> 61
      if (r >= Mod) r - Mod else r
    }
    i = 0
    while (i < k) {
      h = (mulmod(h, Base) + content.charAt(i)) % Mod
      if (i > 0) pow = mulmod(pow, Base)
      i += 1
    }
    hs(0) = h
    i = k
    while (i < n) {
      h = (h + Mod - mulmod(content.charAt(i - k), pow) % Mod) % Mod
      h = (mulmod(h, Base) + content.charAt(i)) % Mod
      hs(i - k + 1) = h
      i += 1
    }
    // winnow: min of each window, record once per distinct position
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    if (m <= window) { out += hs.min }
    else {
      var prevPos = -1
      var w0 = 0
      while (w0 + window <= m) {
        var best = w0
        var j = w0 + 1
        while (j < w0 + window) { if (hs(j) <= hs(best)) best = j; j += 1 }
        if (best != prevPos) { out += hs(best); prevPos = best }
        w0 += 1
      }
    }
    out.toArray
  }

  /** Boxing-free per-state transition map (char -> state id): open
    * addressing over parallel char/int arrays, linear probing, grow at 3/4
    * load. Empty slot = vals(i) == -1 (state ids are always >= 0, so -1 is a
    * safe sentinel even for the NUL character as a key). Replaces the
    * round-1 `java.util.HashMap[Character, Integer]`, whose per-transition
    * boxing dominated the verify kernel's runtime. */
  private final class CharMap private (
      private var keys: Array[Char],
      private var vals: Array[Int],
      private var n: Int
  ) {
    def this() = this(new Array[Char](4), Array.fill(4)(-1), 0)

    @inline private def slot(c: Char, cap: Int): Int = ((c * 0x9e3779b1) >>> 16) & (cap - 1)

    def get(c: Char): Int = {
      val cap = vals.length
      var i = slot(c, cap)
      while (vals(i) != -1) {
        if (keys(i) == c) return vals(i)
        i = (i + 1) & (cap - 1)
      }
      -1
    }

    def put(c: Char, v: Int): Unit = {
      val cap = vals.length
      var i = slot(c, cap)
      while (vals(i) != -1 && keys(i) != c) i = (i + 1) & (cap - 1)
      if (vals(i) == -1) {
        if ((n + 1) * 4 > cap * 3) { grow(); put(c, v); return }
        keys(i) = c
        n += 1
      }
      vals(i) = v
    }

    private def grow(): Unit = {
      val ok = keys; val ov = vals
      keys = new Array[Char](ok.length * 2)
      vals = Array.fill(ov.length * 2)(-1)
      n = 0
      var i = 0
      while (i < ok.length) { if (ov(i) != -1) put(ok(i), ov(i)); i += 1 }
    }

    /** Snapshot copy (suffix-automaton clone step). */
    def copy(): CharMap = new CharMap(keys.clone(), vals.clone(), n)
  }

  /** Longest common substring via suffix automaton of `s` run over `t`.
    * O(|s| + |t|); transitions are flat open-addressed char->int maps
    * allocated lazily per state (most states have 1-2 transitions). */
  def lcsLen(s: String, t: String): Int = {
    if (s.isEmpty || t.isEmpty) return 0
    // suffix automaton of s
    val maxN = 2 * s.length + 5
    val len = new Array[Int](maxN)
    val link = new Array[Int](maxN)
    val trans = new Array[CharMap](maxN)
    @inline def tGet(st: Int, c: Char): Int = { val m = trans(st); if (m == null) -1 else m.get(c) }
    @inline def tPut(st: Int, c: Char, v: Int): Unit = {
      var m = trans(st)
      if (m == null) { m = new CharMap(); trans(st) = m }
      m.put(c, v)
    }
    var last = 0
    var size = 1
    link(0) = -1
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val cur = size; size += 1
      len(cur) = len(last) + 1
      var p = last
      while (p != -1 && tGet(p, c) < 0) { tPut(p, c, cur); p = link(p) }
      if (p == -1) link(cur) = 0
      else {
        val q = tGet(p, c)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(p) + 1
          link(clone) = link(q)
          trans(clone) = if (trans(q) == null) null else trans(q).copy()
          while (p != -1 && tGet(p, c) == q) { tPut(p, c, clone); p = link(p) }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
      i += 1
    }
    // run t through it
    var v = 0
    var l = 0
    var best = 0
    i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      val direct = tGet(v, c)
      if (direct >= 0) { v = direct; l += 1 }
      else {
        while (v != -1 && tGet(v, c) < 0) v = link(v)
        if (v == -1) { v = 0; l = 0 }
        else { l = len(v) + 1; v = tGet(v, c) }
      }
      if (l > best) best = l
      i += 1
    }
    best
  }

  /** Candidate stage alone: winnowed fingerprints -> df cap -> bucketed
    * pairs (a, b). Deterministic function of (content, k, window, maxFpDf) —
    * oracle-able in ANSI SQL whenever no (group, fp) bucket exceeds
    * `maxBucket` (guaranteed when maxFpDf <= maxBucket, since a bucket's size
    * is bounded by the fingerprint's document frequency). The df counts
    * docs across groups; buckets are per (group, fp). The fingerprint rows
    * are consumed once, by the walk, so nothing is persisted (`reg` is kept
    * for callers that pass one). */
  def candidatePairs(
      docs: DataFrame,
      cfg: SubConfig = SubConfig(),
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): DataFrame = {
    val fps = docs.select(
      col("doc_id"),
      col("group"),
      explode(WinnowFingerprints(col("content"), cfg.k, cfg.window)).as("fp")
    )
    PairGen.pairsFromCappedBuckets(fps, "fp", Seq("group"), cfg.maxFpDf, cfg.maxBucket)
  }

  /** docs: (doc_id, group, content). Returns (group, a, b, lcs_len,
    * containment) for pairs sharing a verified substring >= minMatch chars.
    * `precomputedCandidates` lets a caller that already materialized
    * [[candidatePairs]] (e.g. a cached cross-query table) skip rebuilding
    * the winnow chain.
    *
    * The suffix-automaton LCS is expensive PER ROW while both join inputs
    * are tiny in BYTES, so byte-based partitioning (scan splits, AQE
    * coalescing) would hand the whole verify stage to one task — whichever
    * side the planner streams (it broadcasts the other) must already be
    * spread (the operator suite once measured this query bimodally at
    * 0.9 s vs 12 s depending on which side was built). So the docs are
    * spread first ([[Par.spread]]: a no-op at scale). */
  def run(
      docs: DataFrame,
      cfg: SubConfig = SubConfig(),
      reg: CacheRegistry = CacheRegistry.unmanaged,
      precomputedCandidates: Option[DataFrame] = None
  ): DataFrame = runSpread(Par.spread(docs), cfg, reg, precomputedCandidates)

  /** [[run]] over docs taken as given: the pipeline's substring input
    * arrives spread by its dedup exchange ([[Par.spreadBy]]). The docs are
    * persisted and read by the fingerprint branch and both content sides,
    * so content crosses at most one exchange. */
  private[dedup] def runSpread(docs: DataFrame, cfg: SubConfig, reg: CacheRegistry,
      precomputedCandidates: Option[DataFrame] = None): DataFrame = {
    val ds = reg.persist(docs)
    val candidates = Par.spread(precomputedCandidates.getOrElse(candidatePairs(ds, cfg)))
    val minMatch = cfg.minMatch
    // (lcs_len, the shorter doc's length), both in the UTF-16 units lcsLen
    // counts (a non-BMP char is 2), so containment stays <= 1
    val lcsUdf = udf { (x: String, y: String) =>
      val (s, t) = if (x.length <= y.length) (x, y) else (y, x)
      (lcsLen(s, t), s.length)
    }.asNonNullable().asNondeterministic() // runs once per candidate (KernelCall)
    val ca = ds.select(col("doc_id").as("a"), col("group"), col("content").as("content_a"))
    val cb = ds.select(col("doc_id").as("b"), col("content").as("content_b"))
    candidates
      .join(ca, "a")
      .join(cb, "b")
      .withColumn("lcs", lcsUdf(col("content_a"), col("content_b")))
      .filter(col("lcs._1") >= minMatch)
      .select(col("group"), col("a"), col("b"), col("lcs._1").as("lcs_len"),
        (col("lcs._1").cast("double") / col("lcs._2")).as("containment"))
  }
}

/** Static kernel twin of [[SuffixDedup.fingerprints]] returning Tungsten
  * primitive array data (no boxing on the output path). */
object WinnowKernel {
  def eval(s: UTF8String, k: Int, window: Int): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(SuffixDedup.fingerprints(s.toString, k, window))
}

/** Compiled winnowing fingerprints — replaces the ScalaUDF this path
  * carried through round 4 (the last UDF on a detector candidate path):
  * the generated code calls [[WinnowKernel]] directly on the Tungsten
  * UTF8String, skipping the UDF's per-row String/Seq conversion and boxed
  * array return. */
object WinnowFingerprints {
  def apply(c: Column, k: Int, window: Int): Column =
    KernelCall.static(WinnowKernel, "eval", ArrayType(LongType, containsNull = false), Seq(c -> StringType),
      Seq(k, window))
}
