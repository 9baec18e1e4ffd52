package graft

import graft.dedup.{Config, MinHash, PairGen, TopN}
import org.apache.spark.sql.functions._

class TopNSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pairs = Seq(
    // (group, a, b, sim)
    ("g1", 1L, 2L, 0.9), ("g1", 1L, 3L, 0.8), ("g1", 2L, 3L, 0.7),
    ("g1", 1L, 4L, 0.6), ("g1", 3L, 4L, 0.5),
    ("g2", 10L, 11L, 0.95), ("g2", 10L, 12L, 0.95)
  ).toDF("group", "a", "b", "sim")

  test("globalPerGroup keeps top-N by sim per group (reference T1)") {
    val got = TopN
      .globalPerGroup(pairs, 2)
      .select("group", "a", "b")
      .as[(String, Long, Long)]
      .collect()
      .toSet
    assert(got == Set(("g1", 1L, 2L), ("g1", 1L, 3L), ("g2", 10L, 11L), ("g2", 10L, 12L)))
  }

  test("perProbe emits rank 1..N per doc over symmetric expansion (reference T2)") {
    val got = TopN
      .perProbe(pairs, 2)
      .select("probe", "matched", "rank")
      .as[(Long, Long, Int)]
      .collect()
      .groupBy(_._1)
      .view
      .mapValues(_.sortBy(_._3).map(m => (m._2, m._3)).toList)
      .toMap
    // doc 1: matches 2 (0.9), 3 (0.8), 4 (0.6) -> top2 = 2,3
    assert(got(1L) == List((2L, 1), (3L, 2)))
    // doc 4: matches 1 (0.6), 3 (0.5)
    assert(got(4L) == List((1L, 1), (3L, 2)))
    // doc 10: ties at 0.95 broken by matched id asc
    assert(got(10L) == List((11L, 1), (12L, 2)))
  }

  test("closest applies the min-similarity floor (reference T3, default 0.05)") {
    val withTiny = pairs.union(Seq(("g1", 5L, 6L, 0.01)).toDF("group", "a", "b", "sim"))
    val got = TopN.closest(withTiny, 3, minSimilarity = 0.05)
    assert(got.filter(col("probe") === 5L || col("probe") === 6L).count() == 0)
    assert(got.filter(col("probe") === 1L).count() == 3)
  }

  test("caseControlSampled: seeded hash-sample of controls, ranks within the sample (reference main_citation_sample)") {
    val targets = Seq(1L, 10L).toDF("doc_id")
    // reimplement the keep rule independently (SplitMix64 via the public
    // simhash64 is not exposed; recompute the finalizer inline)
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def kept(id: Long, seed: Long, pct: Int): Boolean = ((mix64(id ^ seed) >>> 1) % 100) < pct
    val seed = 7L
    val got = TopN
      .caseControlSampled(pairs, targets, n = 3, minSimilarity = 0.0, keepPct = 50, seed = seed)
      .select("probe", "matched", "rank")
      .as[(Long, Long, Int)]
      .collect()
    // every emitted control must pass the keep rule, no target is a control
    assert(got.nonEmpty, "sample emptied everything — adjust the fixture")
    got.foreach { case (p, m, _) =>
      assert(Set(1L, 10L).contains(p), s"probe $p is not a target")
      assert(!Set(1L, 10L).contains(m), s"matched $m is a target")
      assert(kept(m, seed, 50), s"control $m fails the seeded keep rule")
    }
    // ranks are contiguous per probe and ordered within the SAMPLED controls
    val unsampled = TopN
      .caseControl(pairs, targets, n = 10, minSimilarity = 0.0)
      .select("probe", "matched")
      .as[(Long, Long)]
      .collect()
      .filter { case (_, m) => kept(m, seed, 50) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sampled = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sampled == unsampled.filter(_._2.nonEmpty),
      "sample-then-rank must equal rank-restricted-to-sample at n >= sample size")
    // keepPct 100 keeps everything, 0 keeps nothing
    assert(TopN.caseControlSampled(pairs, targets, 10, 0.0, keepPct = 0).count() == 0)
    assert(
      TopN.caseControlSampled(pairs, targets, 10, 0.0, keepPct = 100).count() ==
        TopN.caseControl(pairs, targets, 10, 0.0).count()
    )
  }

  test("groupStats matches manual aggregation (reference A4)") {
    val r = TopN.groupStats(pairs).filter(col("group") === "g1").head()
    assert(r.getAs[Long]("n_pairs") == 5)
    assert(math.abs(r.getAs[Double]("avg_sim") - 0.7) < 1e-9)
    assert(r.getAs[Double]("min_sim") == 0.5 && r.getAs[Double]("max_sim") == 0.9)
    // distinct participants in g1: docs 1,2,3,4 (reference "Patents" column)
    assert(r.getAs[Long]("n_docs") == 4)
  }

  test("PairGen: full expansion under the cap equals all unordered pairs") {
    val rows = (1L to 30L).map(i => ("g", "b0", 0L, i)).toDF("group", "band", "band_hash", "doc_id")
    val got = PairGen
      .pairsFromBuckets(rows, Seq("group", "band", "band_hash"), maxBucket = 100)
      .as[(Long, Long)]
      .collect()
      .toSet
    val want = (for { i <- 1L to 30L; j <- (i + 1) to 30L } yield (i, j)).toSet
    assert(got == want)
  }

  test("PairGen: oversized buckets chain-link (connected, bounded output)") {
    val rows = (1L to 500L).map(i => ("g", "b0", 0L, i)).toDF("group", "band", "band_hash", "doc_id")
    val got = PairGen
      .pairsFromBuckets(rows, Seq("group", "band", "band_hash"), maxBucket = 100)
      .as[(Long, Long)]
      .collect()
    assert(got.length == (1 to PairGen.ChainWidth).map(w => 500 - w).sum)
    // chain connectivity: consecutive ids linked
    val set = got.toSet
    (1L until 500L).foreach(i => assert(set.contains((i, i + 1))))
  }

  test("PairGen: first-collision generator emits the same pair set as the default, with and without oversized buckets") {
    // randomized 64x2 signatures over a 2-value alphabet: bands collide
    // often (high duplication — the regime the first-collision walk exists
    // for), clusters of 4 share most values, and the largest band bucket is
    // far above the caps below
    val rnd = new scala.util.Random(7)
    val nDocs = 40
    val sigs = (1L to nDocs.toLong).map { id =>
      val base = Array.tabulate(128)(i => (((id / 4) * 31 + i * 7) % 2).toInt)
      (0 until 8).foreach(_ => base(rnd.nextInt(128)) = rnd.nextInt(2))
      (id, if (id % 2 == 0) "g1" else "g2", base.toSeq)
    }.toDF("doc_id", "group", "minhash")
    val bandRows = MinHash.bandRows(sigs, Config(bands = 64))
    val largest = bandRows.groupBy("group", "band", "band_hash").count().agg(max("count")).head().getLong(0)
    // every pair that shares a band bucket: the keep-all walk under no cap
    val all = PairGen.pairsFromBuckets(bandRows, Seq("group", "band", "band_hash"), Int.MaxValue)
      .as[(Long, Long)].collect().toSet
    def pairs(maxBucket: Int, bound: Long): (Set[(Long, Long)], Boolean) = {
      val df = MinHash.candidatePairs(sigs, Config(bands = 64, maxBucket = maxBucket), docCountBound = bound)
      // the first-collision walk carries each doc's band hashes (`bhs`)
      (df.as[(Long, Long)].collect().toSet, df.queryExecution.optimizedPlan.toString.contains("bhs"))
    }
    // no bucket can cross a cap of nDocs: a bound at the cap takes the
    // first-collision walk, one above it the keep-all walk; same pairs
    assert(largest > 5 && largest <= nDocs, s"largest bucket $largest")
    assert(pairs(nDocs, nDocs.toLong) == (all, true))
    assert(pairs(nDocs, nDocs + 1L) == (all, false))
    // a cap below the largest bucket: the true bound exceeds it, so both
    // calls chain-link the oversized buckets alike
    val capped = PairGen.pairsFromBuckets(bandRows, Seq("group", "band", "band_hash"), 5).as[(Long, Long)].collect().toSet
    assert(capped != all)
    assert(pairs(5, nDocs.toLong) == (capped, false))
    assert(pairs(5, Long.MaxValue) == (capped, false))
    // a wrong bound (5, below the largest bucket) takes the first-collision
    // walk, which runs uncapped: it costs time and loses no pair
    assert(pairs(5, 5L) == (all, true))
  }

  test("PairGen: cap boundary — exactly maxBucket is full expansion, cap+1 chains") {
    def bucket(hash: Long, n: Long) = (1L to n).map(i => ("g", "b0", hash, i))
    // bucket 0: size == cap (full pairs); bucket 1: size == cap+1 (chained)
    val cap = 10
    val rows = (bucket(0L, cap.toLong) ++ bucket(1L, cap.toLong + 1))
      .toDF("group", "band", "band_hash", "doc_id")
    // per-bucket expectations need the bucket id — tag by re-deriving from
    // pair membership: ids are shared across buckets, so compute counts by
    // running each bucket alone
    val gotAt = bucket(0L, cap.toLong).toDF("group", "band", "band_hash", "doc_id")
    val full = PairGen.pairsFromBuckets(gotAt, Seq("group", "band", "band_hash"), cap).count()
    assert(full == cap.toLong * (cap - 1) / 2, "size==cap must fully expand")
    val over = bucket(0L, cap.toLong + 1).toDF("group", "band", "band_hash", "doc_id")
    val chained = PairGen.pairsFromBuckets(over, Seq("group", "band", "band_hash"), cap)
      .as[(Long, Long)].collect().toSet
    val wantChain =
      (for { i <- 1L to (cap + 1L); w <- 1 to PairGen.ChainWidth; if i + w <= cap + 1L }
        yield (i, i + w)).toSet
    assert(chained == wantChain, "size==cap+1 must chain-link with ChainWidth forward neighbors")
    // both together (same partition-key stream, adjacent buckets): union holds
    val both = PairGen.pairsFromBuckets(rows, Seq("group", "band", "band_hash"), cap)
      .count()
    // pairs are deduped on (a, b) ACROSS buckets — union of the two sets
    val fullSet = (for { i <- 1L to cap.toLong; j <- (i + 1) to cap.toLong } yield (i, j)).toSet
    assert(both == (fullSet ++ wantChain).size.toLong)
  }

  test("PairGen: many adjacent buckets in one partition; singletons emit nothing") {
    // 50 buckets of sizes 1..3 under one group — exercises the streaming
    // generator's bucket-boundary flushes
    val rows = (0L until 50L).flatMap { b =>
      (0L to b % 3).map(i => ("g", "b0", b, b * 10 + i))
    }.toDF("group", "band", "band_hash", "doc_id")
    val got = PairGen
      .pairsFromBuckets(rows, Seq("group", "band", "band_hash"), maxBucket = 100)
      .as[(Long, Long)]
      .collect()
      .toSet
    val want = (0L until 50L).flatMap { b =>
      val ids = (0L to b % 3).map(b * 10 + _)
      for { i <- ids; j <- ids; if i < j } yield (i, j)
    }.toSet
    assert(got == want)
    assert(!got.exists { case (a, b) => a == b })
  }
}
