package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType}

/** Allocation-free kernel shared by interpreted eval and generated code.
  * Reads the two sorted int arrays straight out of Tungsten `ArrayData`
  * (no boxing, no scala collection conversion — the two costs a ScalaUDF
  * pays on every row). */
object JaccardKernel {
  def sim(a: ArrayData, b: ArrayData): Double =
    simOf(count(a, b), a.numElements(), b.numElements())

  /** [[sim]] of sorted `a` against the sorted slice `b(from until until)`
    * of a packed array (the streaming corpus probe's rep sets). */
  def sim(a: Array[Int], b: Array[Int], from: Int, until: Int): Double = {
    var i = 0; var j = from; var inter = 0
    while (i < a.length && j < until) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    simOf(inter, a.length, until - from)
  }

  private def simOf(inter: Int, na: Int, nb: Int): Double =
    if (inter == 0) 0.0
    else Jaccard.round6(inter.toDouble / (na + nb - inter).toDouble)

  /** Two-pointer sorted intersection count on Tungsten arrays. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }
}

/** Exact set-Jaccard over two sorted int arrays, compiled into the
  * generated code ([[KernelCall.static]]) — the upgrade over the v0
  * ScalaUDF (SURVEY.md §2.6, §7.3).
  *
  * Semantics from the reference inner loop
  * (code/Stage05ComputeSimilarity.py:113-132, CPython HALF_EVEN 6-dp) —
  * asserted equal property-style to a plain-Scala twin in the test suite.
  */
object JaccardSorted {
  def apply(a: Column, b: Column): Column =
    KernelCall.static(JaccardKernel, "sim", DoubleType, Seq(a -> ArrayType(IntegerType), b -> ArrayType(IntegerType)))
}

/** Compiled sorted-int-array intersection COUNT — the raw |A n B| the
  * oracle-facing queries emit next to union_cnt and the unrounded quotient
  * ([[Jaccard.verifyCounts]]), and the verification kernel of the
  * prefix-filtered exact pair join (SharedChains.pairsWithPrefixFilter).
  * Replaces the round-2 boxed interUdf on the q23/q24/q25 hot path. */
object IntersectCountSorted {
  def apply(a: Column, b: Column): Column =
    KernelCall.static(JaccardKernel, "count", IntegerType, Seq(a -> ArrayType(IntegerType), b -> ArrayType(IntegerType)))
}

/** Cosine over two equal-length float arrays, accumulated in INDEX ORDER
  * exactly like the Column-level built-ins twin (zip_with + left-fold
  * aggregate) and the oracles' `cosineSql` — same doubles bit-for-bit, but
  * evaluated as one tight JVM loop on Tungsten arrays inside whole-stage
  * codegen. Returns NaN for a zero-norm side (callers filter). */
object CosineKernel {
  def cos(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    // UnsafeArrayData.getFloat does no bounds checking — a shorter right
    // side would read garbage Tungsten memory instead of failing (ADVICE)
    if (b.numElements() != n) return Double.NaN
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      // A null element makes the zip_with/aggregate twin's whole sum null;
      // getFloat would instead NPE (GenericArrayData) or read the zeroed
      // slot (UnsafeArrayData). NaN keeps the "callers filter" contract —
      // every call site drops null and NaN alike.
      if (a.isNullAt(i) || b.isNullAt(i)) return Double.NaN
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Cosine over two array<float> columns — see [[CosineKernel]]. */
object CosineFloat {
  def apply(a: Column, b: Column): Column =
    KernelCall.static(CosineKernel, "cos", DoubleType, Seq(a -> ArrayType(FloatType), b -> ArrayType(FloatType)))
}
