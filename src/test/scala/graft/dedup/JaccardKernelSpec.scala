package graft.dedup

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The set-Jaccard kernel ([[JaccardKernel]]) against a naive Scala `Set`
  * oracle rounded by [[Jaccard.round6]] (no Spark session). */
class JaccardKernelSpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  /** Sorted distinct ids: empty, from a small universe (large overlaps) or
    * from a wide one (small overlaps). */
  private val set: Gen[Array[Int]] = Gen
    .oneOf(Gen.const(Nil), Gen.listOf(Gen.choose(0, 40)), Gen.listOf(Gen.choose(0, 100000)))
    .map(_.distinct.sorted.toArray)

  private val pair: Gen[(Array[Int], Array[Int])] = Gen.frequency(
    4 -> Gen.zip(set, set),
    1 -> set.map(a => (a, a)), // identical
    1 -> Gen.zip(set, set).map { case (a, b) => (a, b.map(_ + 200000)) } // disjoint
  )

  test("sim and count equal a naive Set oracle on sorted distinct int arrays (property)") {
    check(
      Prop.forAllNoShrink(pair, Gen.choose(0, 5), Gen.choose(0, 5)) { case ((a, b), pre, post) =>
        val inter = (a.toSet & b.toSet).size
        val union = (a.toSet | b.toSet).size
        val want = if (inter == 0) 0.0 else Jaccard.round6(inter.toDouble / union)
        val (ua, ub) = (UnsafeArrayData.fromPrimitiveArray(a), UnsafeArrayData.fromPrimitiveArray(b))
        // `b` as a slice of a packed array, the streaming probe's layout
        val packed = Array.fill(pre)(-1) ++ b ++ Array.fill(post)(Int.MaxValue)
        val got = (JaccardKernel.count(ua, ub), JaccardKernel.sim(ua, ub), JaccardKernel.sim(ub, ua),
          JaccardKernel.sim(a, packed, pre, pre + b.length))
        Prop(got == ((inter, want, want, want))) :|
          s"a=${a.mkString(",")} b=${b.mkString(",")}: got $got, oracle ($inter, $want)"
      },
      2000
    )
  }

  test("the edge sets: empty, identical and disjoint") {
    val (e, x, y) = (Array.empty[Int], Array(1, 4, 9), Array(2, 3, 10))
    def sim(a: Array[Int], b: Array[Int]) =
      JaccardKernel.sim(UnsafeArrayData.fromPrimitiveArray(a), UnsafeArrayData.fromPrimitiveArray(b))
    assert(sim(e, e) == 0.0 && sim(e, x) == 0.0 && sim(x, e) == 0.0)
    assert(sim(x, x) == 1.0)
    assert(sim(x, y) == 0.0)
    assert(sim(x, Array(1, 4, 10)) == 0.5)
    assert(sim(Array(1, 2, 3), Array(1)) == 0.333333)
  }
}
