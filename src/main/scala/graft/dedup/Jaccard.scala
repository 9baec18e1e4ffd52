package graft.dedup

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact set-Jaccard verification kernel.
  *
  * Semantics from the reference inner loop
  * (code/Stage05ComputeSimilarity.py:113-140):
  *   sim = |A n B| / (|A| + |B| - |A n B|), rounded to 6 decimals with
  *   Python `round` (banker's / HALF_EVEN on the exact binary double),
  *   pairs kept only when sim > 0.
  *
  * `new BigDecimal(double)` (exact binary expansion, NOT `valueOf`) +
  * HALF_EVEN reproduces CPython's `round(float, 6)` bit-for-bit; Spark's
  * built-in `round()` is HALF_UP and must not be used on this path.
  *
  * The intersection ([[JaccardKernel.count]]) is a two-pointer merge over
  * the sorted int arrays — O(|A|+|B|), allocation-free — replacing the reference's O(|A|*|B|)
  * membership loop (code/Stage05ComputeSimilarity.py:119-122).
  */
object Jaccard {

  def round6(d: Double): Double =
    new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).doubleValue()

  /** Verify candidate pairs against exact Jaccard.
    *
    * @param candidates (a: long, b: long) with a < b
    * @param encoded    (doc_id, group, tokens: array<int>)
    * @param minSim     keep pairs with sim >= minSim (and always sim > 0)
    * @return (group, a, b, sim) — reference layout
    *         (code/Stage05ComputeSimilarity.py:211-221)
    */
  def verify(candidates: DataFrame, encoded: DataFrame, minSim: Double): DataFrame = {
    // single predicate: `sim >= max(minSim, minPositive)` subsumes the
    // reference's `sim > 0` (code/Stage05ComputeSimilarity.py:132)
    val floor = math.max(minSim, java.lang.Double.MIN_VALUE)
    withTokens(candidates, encoded)
      // compiled kernel call (no UDF boxing) — see JaccardKernel. A
      // generator, not a projection: Catalyst would push the filter into the
      // join condition as `sim(tokens_a, tokens_b) >= floor` and run the
      // kernel there and again in the projection above; it never folds a
      // generator's input into a pushed predicate
      .select(col("group"), col("a"), col("b"), explode(array(JaccardSorted(col("tokens_a"), col("tokens_b")))).as("sim"))
      .filter(col("sim") >= floor)
  }

  /** candidates (a, b) joined to (group, tokens_a) and tokens_b. The first
    * join builds a shuffle hash on the skinny (a, b) pair side: an SMJ here
    * would sort the wide token-array table. The SECOND join stays SMJ on
    * purpose: its only possible build sides both carry token arrays, and an
    * UnsafeHashedRelation build does not spill — at N tasks each gets 1/N of
    * the executor pool and a fat build OOMs exactly when the machine is
    * busiest (observed at the 2.5M-file local[8] leg). */
  private def withTokens(candidates: DataFrame, encoded: DataFrame): DataFrame =
    candidates
      .hint("shuffle_hash")
      .join(encoded.select(col("doc_id").as("a"), col("group"), col("tokens").as("tokens_a")), "a")
      .join(encoded.select(col("doc_id").as("b"), col("tokens").as("tokens_b")), "b")

  def hamming(x: Column, y: Column): Column = bit_count(x.bitwiseXOR(y))

  /** Oracle-facing verification: like [[verify]] but emits the raw integer
    * counts and the UNROUNDED quotient, so an ANSI-SQL oracle can reproduce
    * every emitted value bit-for-bit (the 6-dp HALF_EVEN rounding of the
    * reference pipeline is deliberately not SQL-portable — DuckDB rounds
    * half away from zero). Columns: (group, a, b, inter_cnt, union_cnt, sim).
    */
  def verifyCounts(candidates: DataFrame, encoded: DataFrame, minSim: Double): DataFrame =
    withTokens(candidates, encoded)
      // compiled kernel call, no per-element boxing (JaccardKernel)
      .withColumn("inter_cnt", IntersectCountSorted(col("tokens_a"), col("tokens_b")).cast("long"))
      .withColumn(
        "union_cnt",
        (size(col("tokens_a")) + size(col("tokens_b"))).cast("long") - col("inter_cnt")
      )
      .withColumn("sim", col("inter_cnt").cast("double") / col("union_cnt"))
      .filter(col("sim") >= minSim)
      .select(col("group"), col("a"), col("b"), col("inter_cnt"), col("union_cnt"), col("sim"))
}
