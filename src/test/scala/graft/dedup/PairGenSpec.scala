package graft.dedup

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Properties of PairGen's bucket walk, driven with Rows directly (no Spark
  * session): the cap/chain semantics against a naive per-bucket oracle, the
  * first-collision keep rule against the keep-all walk, and the fingerprint
  * walk's df cap against a naive global-df oracle. */
class PairGenSpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  /** The walk's rows fanned out to oriented pairs, duplicates kept. */
  private def emitted(walk: Iterator[(Long, Array[Long])]): Seq[(Long, Long)] =
    walk.flatMap { case (x, ys) => ys.map(y => (math.min(x, y), math.max(x, y))) }.toSeq

  /** Naive oracle for one bucket of ascending ids. */
  private def oracle(ids: Seq[Long], cap: Int): Set[(Long, Long)] =
    if (ids.length <= cap) (for { i <- ids.indices; j <- i + 1 until ids.length } yield (ids(i), ids(j))).toSet
    else
      (for { i <- ids.indices; w <- 1 to PairGen.ChainWidth; if i + w < ids.length } yield (ids(i), ids(i + w))).toSet

  test("bucket walk: all pairs at or under the cap, ChainWidth chain links above it") {
    val keys = for { g <- Seq("g0", "g1"); h <- 0L to 3L } yield (g, h)
    val gen = for {
      cap <- Gen.choose(0, 8)
      nBuckets <- Gen.choose(1, 6)
      bucketKeys <- Gen.pick(nBuckets, keys)
      buckets <- Gen.listOfN(nBuckets, for {
        size <- Gen.oneOf(Gen.const(cap), Gen.const(cap + 1), Gen.choose(1, 2 * cap + 3))
        ids <- Gen.listOfN(math.max(size, 1), Gen.choose(0L, 40L))
      } yield ids.distinct.sorted)
    } yield (cap, bucketKeys.toSeq.zip(buckets))
    check(Prop.forAllNoShrink(gen) { case (cap, buckets) =>
      val rows = buckets.flatMap { case ((g, h), ids) => ids.map(id => Row(g, h, id)) }
      val got = emitted(new PairGen.BucketWalk(rows.iterator, 2, cap, None)).toSet
      val want = buckets.flatMap { case (_, ids) => oracle(ids, cap) }.toSet
      (got == want) :| s"cap=$cap extra=${got -- want} missing=${want -- got}"
    }, 1000)
  }

  test("bucket walk: the first-collision keep rule emits the plain walk's pair set") {
    val gen = for {
      cap <- Gen.choose(1, 6)
      bands <- Gen.choose(1, 6)
      nDocs <- Gen.choose(2, 12)
      docs <- Gen.listOfN(nDocs, for {
        g <- Gen.oneOf("g0", "g1")
        bhs <- Gen.listOfN(bands, Gen.choose(0L, 2L))
      } yield (g, bhs))
      extra <- Gen.listOf(for {
        g <- Gen.oneOf("g0", "g1")
        b <- Gen.choose(0, bands - 1)
        h <- Gen.choose(0L, 3L)
      } yield Seq[Any](g, b, h))
    } yield (cap, bands, docs, extra)
    check(Prop.forAllNoShrink(gen) { case (cap, bands, docs, extra) =>
      val rows = (for {
        ((g, bhs), id) <- docs.zipWithIndex
        b <- 0 until bands
      } yield (g, b, bhs(b), id.toLong, bhs)).sortBy(r => (r._1, r._2, r._3, r._4))
        .map { case (g, b, h, id, bhs) => Row(g, b, h, id, bhs) }
      val sizes = rows.groupBy(r => Seq[Any](r.get(0), r.get(1), r.get(2))).view.mapValues(_.size).toMap
      val oversized = sizes.collect { case (k, n) if n > cap => k }.toSet
      val plain = emitted(new PairGen.BucketWalk(rows.iterator, 3, cap, None)).toSet
      // random extra keys, real or not, may only add duplicates
      val rule = new PairGen.FirstCollision(1, oversized ++ extra)
      val got = emitted(new PairGen.BucketWalk(rows.iterator, 3, cap, Some(rule)))
      // with no bucket over the cap and the exact set, each pair comes out once
      val exact = emitted(new PairGen.BucketWalk(rows.iterator, 3, cap, Some(new PairGen.FirstCollision(1, oversized))))
      val onceEach = oversized.nonEmpty || exact.length == exact.distinct.length
      (got.toSet == plain && exact.toSet == plain && onceEach) :|
        s"cap=$cap extra=${got.toSet -- plain} missing=${plain -- got.toSet} dupes=${exact.length - exact.distinct.length}"
    }, 1000)
  }

  test("fingerprint walk: a df cap across groups, then (group, fp) buckets, equals a naive oracle") {
    val (atCap, overCap, nullPairs, chained) =
      (new AtomicInteger, new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val fpValues = Seq(Long.MinValue, -7L, 0L, 3L, 1L << 40, Long.MaxValue)
    val gen = for {
      maxDf <- Gen.choose(0, 6)
      // a cap under maxDf lets a kept fingerprint's bucket take the chain path
      cap <- Gen.oneOf(Gen.choose(0, 8), Gen.choose(0, math.max(0, maxDf - 1)))
      groupOf <- Gen.listOfN(41, Gen.oneOf[String]("g0", "g1", null))
      nFps <- Gen.choose(1, fpValues.size)
      fps <- Gen.pick(nFps, fpValues)
      docs <- Gen.listOfN(nFps, for {
        df <- Gen.oneOf(Gen.const(maxDf), Gen.const(maxDf + 1), Gen.choose(1, 2 * maxDf + 3))
        ids <- Gen.pick(df, 0L to 40L)
      } yield ids.toSeq)
    } yield (maxDf, cap, fps.toSeq.zip(docs).flatMap { case (fp, ids) => ids.map(id => (fp, groupOf(id.toInt), id)) })
    check(Prop.forAllNoShrink(gen) { case (maxDf, cap, rows) =>
      // the walk's input order: (fp, group with NULL first, doc_id)
      val sorted = rows.sortBy { case (fp, g, id) => (fp, Option(g), id) }
      val got = emitted(PairGen.cappedWalk(sorted.iterator.map { case (fp, g, id) => Row(fp, g, id) }, 2, maxDf, cap)).toSet
      // oracle: the df of a fingerprint counts its docs in every group
      val df = rows.groupBy(_._1).view.mapValues(_.size).toMap
      val buckets = rows.filter(r => df(r._1) <= maxDf).groupBy(r => (r._2, r._1)).values.map(_.map(_._3).sorted)
      val want = buckets.flatMap(oracle(_, cap)).toSet
      if (df.values.exists(n => n == maxDf && n > 0)) atCap.incrementAndGet()
      if (df.values.exists(_ == maxDf + 1)) overCap.incrementAndGet()
      if (rows.exists(r => r._2 == null && df(r._1) <= maxDf) && want.nonEmpty) nullPairs.incrementAndGet()
      if (buckets.exists(b => b.size > cap && b.size > 1)) chained.incrementAndGet()
      (got == want) :| s"maxDf=$maxDf cap=$cap extra=${got -- want} missing=${want -- got}"
    }, 1000)
    Seq("df = maxFpDf kept" -> atCap, "df = maxFpDf + 1 dropped" -> overCap,
      "NULL-group rows kept" -> nullPairs, "a kept bucket over the cap" -> chained).foreach { case (what, n) =>
      assert(n.get >= 100, s"only ${n.get} of 1000 cases had $what")
    }
  }
}
