package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** The signature kernels (MinHash-128, SimHash-64, LSH band hashing, the
  * sorted-set difference), called per row through [[KernelCall.invoke]]:
  * generated code calls an allocation-light kernel straight on Tungsten
  * `ArrayData`, skipping the per-element boxing and Seq conversion a
  * ScalaUDF pays on every row. On the 1.5M-file bench corpus the UDF
  * versions spent a large share of the signatures stage in allocation + GC
  * (which also distorts scaling legs: GC threads borrow host cores beyond
  * the measured worker count).
  *
  * Each kernel is a case class of its parameters; the tables it derives
  * from them are `@transient lazy`, rebuilt once per deserialized kernel
  * instead of shipped with the plan.
  *
  * Semantics are IDENTICAL to the scala twins the test suite holds them
  * to: h_i(x) = (a_i x + b_i) mod (2^31 - 1) min-folded per permutation;
  * SplitMix64-mixed sign votes per bit.
  */
object HashKernels {
  val P: Long = (1L << 31) - 1

  final case class MinHashKernel(numPerms: Int, seed: Long) {
    @transient private lazy val coef = MinHash.coefficients(numPerms, seed)

    def signature(tokens: ArrayData): ArrayData = {
      val (as, bs) = coef
      val k = as.length
      val sig = new Array[Long](k)
      java.util.Arrays.fill(sig, Long.MaxValue)
      val n = tokens.numElements()
      var t = 0
      while (t < n) {
        val x = tokens.getInt(t).toLong & 0x7fffffffL
        var i = 0
        while (i < k) {
          // exact (a*x + b) mod 2^31-1 via Mersenne folding (2^31 ≡ 1):
          // v < 2^62, two folds + conditional subtract replace the hardware
          // division `%` costs — this loop runs perms × tokens times per doc
          // and dominated the signatures stage CPU profile
          val v = as(i) * x + bs(i)
          val f1 = (v & P) + (v >>> 31)
          var h = (f1 & P) + (f1 >>> 31)
          if (h >= P) h -= P
          if (h < sig(i)) sig(i) = h
          i += 1
        }
        t += 1
      }
      // every value is an exact residue mod 2^31-1, so the signature ships
      // as array<int> — HALF the bytes of round 3's array<long> through the
      // signatures checkpoint and the candidates scan; band hashes are
      // bit-identical because the long values were zero-extended ints.
      // EXCEPTION: an EMPTY token array leaves the Long.MaxValue init
      // sentinel in every slot, which narrows to -1 (not a residue) — empty
      // docs must be filtered upstream (Pipeline drops size==0 sig_tokens;
      // Vocabulary.encode drops n_tokens==0 docs), and a -1-signature doc
      // would only ever bucket with other empty docs anyway
      val out = new Array[Int](k)
      var j = 0
      while (j < k) { out(j) = sig(j).toInt; j += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  final case class SimHashKernel(seed: Long) {
    def simhash(tokens: ArrayData): Long = {
      val votes = new Array[Int](64)
      val n = tokens.numElements()
      var t = 0
      while (t < n) {
        val h = SimHash.mix64(tokens.getInt(t).toLong ^ seed)
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
  }

  /** Sorted-set difference: drop the (sorted, small) `drop` ids from a
    * sorted token array — two-pointer merge, O(|tokens| + |drop|). Replaces
    * `array_except(tokens, lit(hot))`, whose codegen rebuilds a hash set
    * from the literal array on EVERY row (O(|hot|) per row — with a few
    * hundred hot ids that was several times the row's own work). */
  final case class SortedDiffKernel(dropIds: Seq[Int]) {
    @transient private lazy val table = dropIds.toArray
    override def toString: String = s"SortedDiffKernel(${dropIds.size} ids)"

    def diff(tokens: ArrayData): ArrayData = {
      val drop = table
      val n = tokens.numElements()
      val out = new Array[Int](n)
      var k = 0
      var j = 0
      var i = 0
      while (i < n) {
        val x = tokens.getInt(i)
        while (j < drop.length && drop(j) < x) j += 1
        if (j >= drop.length || drop(j) != x) { out(k) = x; k += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(
        if (k == n) out else java.util.Arrays.copyOf(out, k)
      )
    }
  }

  final case class BandHashKernel(bands: Int, rows: Int) {
    def bandHashes(sig: ArrayData): ArrayData = {
      val out = new Array[Long](bands)
      var band = 0
      while (band < bands) {
        var h = 0x9e3779b97f4a7c15L * (band + 1)
        var i = band * rows
        val end = i + rows
        while (i < end) {
          // int signature values are non-negative residues: toLong equals
          // the round-3 long representation bit-for-bit
          h ^= sig.getInt(i).toLong
          h *= 0xbf58476d1ce4e5b9L
          h ^= (h >>> 31)
          i += 1
        }
        out(band) = h
        band += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }
}

/** array<int> token ids -> array<int> MinHash signature (residues mod
  * 2^31-1 always fit). */
object MinHashSig {
  def apply(tokens: Column, cfg: Config): Column =
    KernelCall.invoke(HashKernels.MinHashKernel(cfg.numPerms, cfg.seed), "signature",
      ArrayType(IntegerType, containsNull = false), Seq(tokens -> ArrayType(IntegerType)))
}

/** array<int> token ids -> 64-bit SimHash. */
object SimHash64 {
  def apply(tokens: Column, cfg: Config): Column =
    KernelCall.invoke(HashKernels.SimHashKernel(cfg.seed), "simhash", LongType, Seq(tokens -> ArrayType(IntegerType)))
}

/** array<int> signature -> array<long> of per-band bucket hashes. */
object BandHashes {
  def apply(sig: Column, cfg: Config): Column =
    KernelCall.invoke(HashKernels.BandHashKernel(cfg.bands, cfg.rowsPerBand), "bandHashes",
      ArrayType(LongType, containsNull = false), Seq(sig -> ArrayType(IntegerType)))
}

/** array<int> (sorted asc) minus a constant sorted id set. */
object ArrayExceptSorted {
  def apply(tokens: Column, drop: Array[Int]): Column =
    KernelCall.invoke(HashKernels.SortedDiffKernel(drop.toIndexedSeq), "diff",
      ArrayType(IntegerType, containsNull = false), Seq(tokens -> ArrayType(IntegerType)))
}
