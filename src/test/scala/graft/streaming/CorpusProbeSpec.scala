package graft.streaming

import graft.dedup.Twins
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The packed corpus probe against a naive oracle, without Spark: random
  * reps (band arrays with capped-away NULL bands, NULL groups), random caps
  * with a bucket planted at the cap and one at cap + 1, and probe rows that
  * hit nothing, one rep, or many reps through several bands. */
class CorpusProbeSpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private type Rep = (String, Long, Seq[java.lang.Long], Seq[Int])

  private def tokens: Gen[Seq[Int]] = Gen.listOf(Gen.choose(0, 15)).map(_.distinct.sorted)

  private def groups: Gen[String] = Gen.oneOf("g0", "g1", null)

  /** Naive oracle: each distinct rep sharing an indexed (group, band,
    * band_hash) with the row — the bucket's `cap` smallest ids — whose
    * jaccard6 against the row is at least `t`, once, by ascending id. */
  private def oracle(reps: Seq[Rep], cap: Int, g: String, bhs: Seq[Long], toks: Seq[Int], t: Double): Seq[(Long, Double)] = {
    val hit = bhs.indices.flatMap { b =>
      reps
        .filter(r => r._1 == g && b < r._3.length && r._3(b) != null && r._3(b).longValue == bhs(b))
        .map(_._2)
        .sorted
        .take(cap)
    }.distinct.sorted
    hit.map(id => id -> Twins.jaccard6(toks.toArray, reps.find(_._2 == id).get._4.toArray)).filter(_._2 >= t)
  }

  test("probe: each indexed rep once, verified, equal to the naive oracle (caps, NULL group, misses)") {
    val gen = for {
      cap <- Gen.choose(1, 4)
      bands <- Gen.choose(1, 5)
      bandArray = Gen.listOfN(bands, Gen.frequency(1 -> Gen.const(null), 5 -> Gen.choose(0L, 2L).map(Long.box)))
      random <- Gen.listOf(Gen.zip(groups, bandArray, tokens))
      // planted: (g0, band 0, 7) holds exactly cap reps, (g0, band 0, 8) cap + 1
      planted <- Gen.listOfN(2 * cap + 1, Gen.zip(bandArray, tokens))
      ids <- Gen.pick(random.length + planted.length, 0L to 200L).map(scala.util.Random.shuffle(_))
      split <- Gen.choose(1, 3)
      rows <- Gen.listOfN(6, Gen.zip(
        Gen.oneOf("g0", "g1", null, "g2"),
        Gen.listOfN(bands, Gen.choose(0L, 8L)),
        tokens,
        Gen.oneOf(0.0, 0.25, 0.5, 0.7, 1.0)
      ))
    } yield {
      val plantedReps = planted.zipWithIndex.map { case ((bhs, t), i) =>
        ("g0", Long.box(if (i < cap) 7L else 8L) +: bhs.tail, t)
      }
      val reps = (random ++ plantedReps).zip(ids).map { case ((g, bhs, t), id) => (g, id, bhs, t): Rep }
      (cap, reps, split, rows)
    }
    check(Prop.forAllNoShrink(gen) { case (cap, reps, split, rows) =>
      val blocks = reps.grouped(math.max(1, (reps.length + split - 1) / split)).map(b => CorpusProbe.Block.of(b.iterator)).toSeq
      val probe = CorpusProbe.build(blocks, cap)
      val entries = reps.map(_._3.count(_ != null)).sum
      val sized = probe.heapBytes <= CorpusProbe.bytesFor(reps.length, entries, reps.map(_._4.length).sum)
      val bad = rows.filter { case (g, bhs, toks, t) =>
        probe.matches(g, bhs.toArray, toks.toArray, t) != oracle(reps, cap, g, bhs, toks, t)
      }
      (bad.isEmpty && sized) :|
        s"cap=$cap sized=$sized mismatched rows=${bad.map { case (g, bhs, toks, t) =>
          (g, bhs, toks, t, probe.matches(g, bhs.toArray, toks.toArray, t), oracle(reps, cap, g, bhs, toks, t))
        }}"
    }, 1000)
  }

  test("an empty corpus probes to no match") {
    val probe = CorpusProbe.build(Seq(CorpusProbe.Block.of(Iterator.empty)), 2000)
    assert(probe.matches("g0", Array(1L, 2L), Array(1, 2), 0.0).isEmpty)
    assert(probe.matches(null, Array(1L, 2L), Array(1, 2), 0.0).isEmpty)
  }
}
