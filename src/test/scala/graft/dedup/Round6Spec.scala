package graft.dedup

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** `Jaccard.round6` against an independent integer oracle of CPython's
  * `round(x, 6)` (no Spark session, no BigDecimal). */
class Round6Spec extends AnyFunSuite {

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  /** round(x, 6) half-to-even on the exact binary value of `x` in [0, 1]:
    * x = m * 2^e exactly, so x * 10^6 = m * 10^6 / 2^-e; round that quotient
    * to an integer k, ties to even, and return the double nearest k / 10^6
    * (one correctly rounded IEEE division of two exact doubles). */
  private def oracle(x: Double): Double = {
    val bits = java.lang.Double.doubleToRawLongBits(x)
    val biased = ((bits >>> 52) & 0x7ff).toInt
    val frac = bits & ((1L << 52) - 1)
    val (m, e) = if (biased == 0) (frac, -1074) else (frac | (1L << 52), biased - 1075)
    val n = BigInt(m) * 1000000
    val k =
      if (e >= 0) n << e
      else {
        val den = BigInt(1) << -e
        val (q, r) = n /% den
        val c = (r * 2).compare(den)
        if (c > 0 || (c == 0 && q.testBit(0))) q + 1 else q
      }
    k.toDouble / 1e6
  }

  private def agrees(x: Double): Prop =
    Prop(Jaccard.round6(x) == oracle(x)) :| s"x=$x (${java.lang.Double.toHexString(x)}): round6 ${Jaccard.round6(x)}, oracle ${oracle(x)}"

  test("the oracle rounds exact binary ties to even and everything else to nearest") {
    assert(oracle(1.0 / 128) == 0.007812) // 7812.5 exactly -> even
    assert(oracle(3.0 / 128) == 0.023438) // 23437.5 exactly -> even
    assert(oracle(1.5e-6) == 2e-6) // the double lies just above the tie
    assert(oracle(2.0 / 3) == 0.666667)
    assert(oracle(0.0) == 0.0 && oracle(1.0) == 1.0)
  }

  test("round6 equals the oracle on inter/union quotients (property)") {
    val quotient = for {
      union <- Gen.oneOf(Gen.choose(1L, 200L), Gen.choose(1L, 2000000L))
      inter <- Gen.choose(0L, union)
    } yield inter.toDouble / union.toDouble
    check(Prop.forAllNoShrink(quotient)(agrees), 2000)
  }

  test("round6 equals the oracle at and around every k * 1e-6 + 5e-7 (property)") {
    // the double nearest each decimal tie, and its binary neighbours
    val nearTie = for {
      k <- Gen.choose(0L, 999999L)
      step <- Gen.choose(-2, 2)
    } yield {
      val t = (k * 10 + 5).toDouble / 1e7
      if (step < 0) (1 to -step).foldLeft(t)((d, _) => Math.nextDown(d))
      else (1 to step).foldLeft(t)((d, _) => Math.nextUp(d))
    }
    check(Prop.forAllNoShrink(nearTie)(agrees), 2000)
    // the only exact binary ties in [0, 1]: x * 10^6 = k + 1/2 needs
    // 5^6 | 2k + 1, i.e. x = j / 128 for odd j
    for (j <- 1 until 128 by 2; x <- Seq(Math.nextDown(j / 128.0), j / 128.0, Math.nextUp(j / 128.0)))
      assert(Jaccard.round6(x) == oracle(x), s"x=$x")
  }
}
