package graft.dedup

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Properties of PairGen's bucket walk, driven with Rows directly (no Spark
  * session): the cap/chain semantics against a naive per-bucket oracle, the
  * first-collision keep rule against the uncapped keep-all walk, the Hamming
  * keep rule
  * against a naive per-bucket oracle, and the fingerprint walk's df cap
  * against a naive global-df oracle. */
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
    // pairs that collide in more than one band: the ones the rule must
    // keep in exactly one of them
    val multi = new AtomicInteger
    val gen = for {
      bands <- Gen.choose(1, 6)
      nDocs <- Gen.choose(2, 12)
      docs <- Gen.listOfN(nDocs, for {
        g <- Gen.oneOf("g0", "g1")
        bhs <- Gen.listOfN(bands, Gen.choose(0L, 2L))
      } yield (g, bhs))
    } yield (bands, docs)
    check(Prop.forAllNoShrink(gen) { case (bands, docs) =>
      val rows = (for {
        ((g, bhs), id) <- docs.zipWithIndex
        b <- 0 until bands
      } yield (g, b, bhs(b), id.toLong, bhs)).sortBy(r => (r._1, r._2, r._3, r._4))
        .map { case (g, b, h, id, bhs) => Row(g, b, h, id, bhs) }
      // uncapped: every bucket is walked in full
      val plain = emitted(new PairGen.BucketWalk(rows.iterator, 3, Int.MaxValue, None))
      val got = emitted(new PairGen.BucketWalk(rows.iterator, 3, Int.MaxValue, Some(PairGen.FirstCollision)))
      if (plain.length > plain.distinct.length) multi.incrementAndGet()
      (got.toSet == plain.toSet && got.length == got.distinct.length) :|
        s"extra=${got.toSet -- plain} missing=${plain.toSet -- got.toSet} dupes=${got.length - got.distinct.length}"
    }, 1000)
    assert(multi.get >= 100, s"only ${multi.get} cases with a pair in several bands")
  }

  test("bucket walk: the Hamming keep rule filters every pair and every chain link, against a naive oracle") {
    val (atCap, overByOne, farOver, nullGroup, droppedLinks) =
      (new AtomicInteger, new AtomicInteger, new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val (near, all) = (new AtomicInteger, new AtomicInteger)
    // each simhash is one base with a uniform subset of 7 bits flipped: two
    // of them differ in Binomial(7, 1/2) bits, <= 3 for half the pairs
    val flips = Seq(0, 9, 18, 27, 36, 45, 63)
    val keys = for { g <- Seq("g0", "g1", null); h <- 0L to 3L } yield (g, h)
    val gen = for {
      cap <- Gen.choose(0, 8)
      base <- Gen.choose(Long.MinValue, Long.MaxValue)
      masks <- Gen.listOfN(61, Gen.choose(0, 127))
      nBuckets <- Gen.choose(1, 5)
      bucketKeys <- Gen.pick(nBuckets, keys)
      buckets <- Gen.listOfN(nBuckets, for {
        size <- Gen.oneOf(Gen.const(cap), Gen.const(cap + 1), Gen.choose(cap + 2 * PairGen.ChainWidth, 2 * cap + 12))
        ids <- Gen.pick(math.max(size, 1), 0L to 60L)
      } yield ids.sorted.toSeq)
    } yield {
      val simhash = masks.toVector.map(m => flips.indices.foldLeft(base)((h, i) => if ((m >> i & 1) == 1) h ^ (1L << flips(i)) else h))
      (cap, simhash, bucketKeys.toSeq.zip(buckets))
    }
    check(Prop.forAllNoShrink(gen) { case (cap, simhash, buckets) =>
      def within(x: Long, y: Long) = java.lang.Long.bitCount(simhash(x.toInt) ^ simhash(y.toInt)) <= SimHash.MaxHamming
      val rows = buckets.sortBy { case ((g, h), _) => (Option(g), h) }
        .flatMap { case ((g, h), ids) => ids.map(id => Row(g, h, id, simhash(id.toInt))) }
      val got = emitted(new PairGen.BucketWalk(rows.iterator, 2, cap, Some(new PairGen.WithinHamming(SimHash.MaxHamming))))
      val want = buckets.flatMap { case (_, ids) => oracle(ids, cap).filter { case (x, y) => within(x, y) } }.toSet
      val unfiltered = buckets.map { case ((g, _), ids) => (g, ids, oracle(ids, cap)) }
      unfiltered.foreach { case (_, _, pairs) =>
        all.addAndGet(pairs.size); near.addAndGet(pairs.count { case (x, y) => within(x, y) })
      }
      def seen(n: AtomicInteger)(p: ((String, Seq[Long], Set[(Long, Long)])) => Boolean): Unit =
        if (unfiltered.exists(p)) n.incrementAndGet()
      seen(atCap) { case (_, ids, _) => ids.length == cap && cap >= 2 }
      seen(overByOne) { case (_, ids, _) => ids.length == cap + 1 }
      seen(farOver) { case (_, ids, _) => ids.length >= cap + 2 * PairGen.ChainWidth }
      seen(nullGroup) { case (g, _, pairs) => g == null && pairs.exists { case (x, y) => within(x, y) } }
      seen(droppedLinks) { case (_, ids, pairs) => ids.length > cap && pairs.exists { case (x, y) => !within(x, y) } }
      (got.toSet == want) :| s"cap=$cap extra=${got.toSet -- want} missing=${want -- got.toSet}"
    }, 1000)
    Seq("a bucket at the cap" -> atCap, "a bucket at cap + 1" -> overByOne, "a bucket far over the cap" -> farOver,
      "a NULL-group bucket with a pair within the distance" -> nullGroup,
      "a chain link beyond the distance" -> droppedLinks).foreach { case (what, n) =>
      assert(n.get >= 50, s"only ${n.get} of 1000 cases had $what")
    }
    val share = near.get.toDouble / all.get
    assert(share > 0.35 && share < 0.65, s"$share of the oracle's unfiltered pairs are within the distance")
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
