package graft.dedup

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The MinHash-128 kernel ([[HashKernels.MinHashKernel]]) against its
  * statistical promise, with no Spark session: per pair of token sets, the
  * number of the 128 permutations on which the two signatures agree is a
  * Binomial(128, J) draw, J the sets' true Jaccard. */
class MinHashSpec extends AnyFunSuite {

  private val cfg = Config()
  private val kernel = HashKernels.MinHashKernel(cfg.numPerms, cfg.seed)

  private def signature(ids: Seq[Int]): Array[Int] =
    kernel.signature(UnsafeArrayData.fromPrimitiveArray(ids.sorted.toArray)).toIntArray()

  /** Two non-empty sets from `shared` + `onlyA` + `onlyB` distinct ids: a
    * dense universe (vocabulary ids) or a wide one. */
  private val pair: Gen[(Seq[Int], Seq[Int])] = for {
    universe <- Gen.oneOf(400, 1 << 30)
    shared <- Gen.choose(0, 60)
    onlyA <- Gen.choose(if (shared == 0) 1 else 0, 60)
    onlyB <- Gen.choose(if (shared == 0) 1 else 0, 60)
    k = shared + onlyA + onlyB
    ids <-
      if (universe < k * 10) Gen.pick(k, 0 until universe).map(_.toVector)
      else Gen.listOfN(k, Gen.choose(0, universe - 1)).suchThat(_.distinct.size == k).map(_.toVector)
    order <- Gen.long
  } yield {
    val v = new scala.util.Random(order).shuffle(ids)
    (v.take(shared + onlyA), v.take(shared) ++ v.drop(shared + onlyA))
  }

  test("MinHash-128 collisions per pair stay within binomial bounds of the true Jaccard (property)") {
    val n = cfg.numPerms
    val worst = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    val prop = Prop.forAllNoShrink(pair) { case (a, b) =>
      val j = (a.toSet & b.toSet).size.toDouble / (a.toSet | b.toSet).size
      val (sa, sb) = (signature(a), signature(b))
      val agree = (0 until n).count(i => sa(i) == sb(i))
      // 5 sigma of Binomial(n, j), plus one permutation for j near 0 or 1;
      // disjoint and identical sets are exact: a permutation is a bijection
      val sd = math.sqrt(n * j * (1 - j))
      val z = if (sd == 0) 0.0 else math.abs(agree - n * j) / sd
      worst.accumulateAndGet(z, math.max)
      val ok = if (j == 0.0) agree == 0 else if (j == 1.0) agree == n else math.abs(agree - n * j) <= 5 * sd + 1
      ok :| s"|a|=${a.size} |b|=${b.size} J=$j: $agree of $n permutations agree (z=$z)"
    }
    // a fixed seed: a bound of 5 sigma still fails a fair kernel now and then
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(1000).withInitialSeed(Seed(20030609L)).withMaxDiscardRatio(50),
      prop)
    assert(res.passed, res.status.toString)
    info(f"largest |agree - 128 J| / sigma over ${res.succeeded} pairs: ${worst.get}%.2f")
  }
}
