package graft

import scala.jdk.CollectionConverters._

import graft.dedup._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The correctness gate (BASELINE.md): exact parity with the reference
  * semantics on the exact path, recall >= 0.99 + cluster-assignment equality
  * on the scalable LSH path, sha256 lineage, and checkpoint resume.
  */
class PipelineParitySpec extends SparkSpec {
  import spark.implicits._

  private val cfg = Config()

  /** Oracle doc ids must equal the pipeline's dense ids: both are the rank in
    * (repo, path, commit) sort order (ASCII corpus => same collation). */
  private def oracleDocs(files: Seq[CodeFile]): Seq[RefOracle.Doc] =
    files
      .sortBy(f => (f.repo, f.path, f.commit))
      .zipWithIndex
      .map { case (f, i) => RefOracle.Doc(i.toLong, f.lang, f.content) }

  private def pairsOf(df: DataFrame): Set[(String, Long, Long, Double)] =
    df.select("group", "a", "b", "sim")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("exact path equals the reference oracle pair-for-pair (tiny corpus)") {
    val files = Twins.corpusLocal(200)
    val input = spark.createDataFrame(files)
    val docs = Pipeline.prepareDocs(input, cfg)
    val vocab = Vocabulary.build(docs, cfg)
    val encoded = Vocabulary.encode(docs, vocab)
    val got = pairsOf(ExactPairs.allPairs(encoded))
    val want = RefOracle
      .allPairs(oracleDocs(files), cfg.shingleK, cfg.minDf)
      .map(p => (p.group, p.a, p.b, p.sim))
      .toSet
    assert(want.nonEmpty, "oracle produced no pairs — fixture is broken")
    assert(got == want)
  }

  test("LSH path: recall >= 0.99 at threshold and exact precision (small corpus)") {
    val files = Twins.corpusLocal(1000)
    val input = spark.createDataFrame(files)
    val work = tmpDir("graft-lsh")
    val t = Pipeline.run(spark, input, cfg, work)

    val oracle = RefOracle.allPairs(oracleDocs(files), cfg.shingleK, cfg.minDf)
    val oracleAtTau = oracle.filter(_.sim >= cfg.threshold).map(p => (p.group, p.a, p.b, p.sim)).toSet
    val got = pairsOf(t.pairs)

    assert(oracleAtTau.size > 50, s"fixture too weak: ${oracleAtTau.size} oracle pairs at tau")
    // precision: every emitted pair is a true pair at the threshold
    assert(got.subsetOf(oracleAtTau))
    val recall = got.intersect(oracleAtTau).size.toDouble / oracleAtTau.size
    assert(recall >= 0.99, s"recall $recall < 0.99 (${got.size} of ${oracleAtTau.size})")

    // cluster assignments equal union-find over the oracle pair set
    val universe = t.encoded.select("doc_id").as[Long].collect().toSeq
    val wantClusters = RefOracle.clusters(universe, oracle, cfg.threshold)
    val gotClusters = t.components
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(gotClusters == wantClusters)
  }

  test("broadcast-map encode equals the shuffle-join encode plan") {
    val files = Twins.corpusLocal(300)
    val docs = Pipeline.prepareDocs(spark.createDataFrame(files), cfg)
    val vocab = Vocabulary.build(docs, cfg)
    def rows(df: DataFrame): Map[Long, (String, Seq[Int])] =
      df.select("doc_id", "group", "tokens")
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getAs[collection.Seq[Int]](2).toSeq))
        .toMap
    val viaJoin = rows(Vocabulary.encodeJoin(docs, vocab))
    val broadcastPlan = Vocabulary.encodeBroadcast(docs, vocab)
    val viaBroadcast = rows(broadcastPlan)
    assert(viaJoin.nonEmpty && viaJoin == viaBroadcast)
    // the encode UDF runs once per row, not again in a pushed-down size filter
    val plan = broadcastPlan.queryExecution.executedPlan
    assert(exprCount(plan) { case _: ScalaUDF => } == 1, s"UDF evaluations per row in:\n$plan")
  }

  test("topN config produces a ranked per-probe report stage equal to TopN.perProbe") {
    val files = Twins.corpusLocal(300)
    val input = spark.createDataFrame(files)
    val work = tmpDir("graft-topn")
    val t = Pipeline.run(spark, input, cfg.copy(topN = Some(3)), work)
    val report = t.topn.getOrElse(fail("topN=Some(3) must yield a topn stage"))
    def rows(df: DataFrame): Set[(String, Long, Long, Int, Double)] =
      df.select("group", "probe", "matched", "rank", "sim")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
        .toSet
    val want = rows(TopN.perProbe(t.pairs, 3))
    assert(want.nonEmpty && rows(report) == want)
    assert(!rows(report).exists(_._4 > 3))
    // the stage is checkpointed + resumable like every other stage
    assert(Checkpoints.exists(spark, s"$work/topn"))
  }

  test("CompactDict: exact lookups, absent -> -1, measured footprint at the cap") {
    // realistic token shapes (repo-local identifiers like the bench corpus)
    val n = graft.dedup.Vocabulary.BroadcastMaxVocab.toInt
    val entries = Array.tabulate(n)(i => (s"r${i / 200}v${i % 200}tok$i", i))
    // packed the way the encode's executors pack them: one (chars, entry
    // offsets, ids) blob per partition, built here from 7 uneven slices
    val blobs = entries.grouped(n / 7 + 1).map { part =>
      val offs = part.map(_._1.length).scanLeft(0)(_ + _).init
      (part.map(_._1).mkString, offs, part.map(_._2))
    }.toArray
    assert(blobs.length == 7)
    val dict = graft.dedup.CompactDict.fromBlobs(blobs)
    assert(dict.size == n)
    var i = 0
    while (i < n) { // every entry found with its exact id (sampled stride 97 + edges)
      assert(dict.get(entries(i)._1) == i)
      i += 97
    }
    assert(dict.get(entries(n - 1)._1) == n - 1)
    assert(dict.get("absent-token") == -1)
    assert(dict.get("") == -1)
    val mb = dict.heapBytes / (1024.0 * 1024.0)
    info(f"CompactDict heap at $n%d entries: $mb%.1f MB")
    // the BroadcastMaxVocab doc promises <= ~400 MB at the cap
    assert(dict.heapBytes < 420L * 1024 * 1024, f"footprint $mb%.1f MB exceeds the documented budget")
  }

  test("composite group keys: pairs stay within (lang, repo) groups") {
    val files = Twins.corpusLocal(600)
    val input = spark.createDataFrame(files)
    val cfg2 = Config(groupCols = Seq("lang", "repo"))
    val work = tmpDir("graft-twokey")
    val t = Pipeline.run(spark, input, cfg2, work)

    // every emitted pair's group is the composite of BOTH members' keys
    val keyOf = files.sortBy(f => (f.repo, f.path, f.commit)).zipWithIndex.map {
      case (f, i) => i.toLong -> s"${f.lang}\u0001${f.repo}"
    }.toMap
    val got = t.pairs.select("group", "a", "b").collect()
    assert(got.nonEmpty, "two-key fixture produced no pairs")
    got.foreach { r =>
      val (g, a, b) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(keyOf(a) == g && keyOf(b) == g, s"pair ($a,$b) crosses groups: $g")
    }

    // and it matches the oracle pair set restricted to same-(lang,repo)
    // pairs (CorpusGen plants all duplicate classes within one repo, so the
    // composite grouping must not LOSE planted pairs): exact precision,
    // LSH-grade recall
    val oracle = RefOracle
      .allPairs(oracleDocs(files), cfg2.shingleK, cfg2.minDf)
      .filter(_.sim >= cfg2.threshold)
      .filter(p => keyOf(p.a) == keyOf(p.b))
      .map(p => (keyOf(p.a), p.a, p.b, p.sim))
      .toSet
    val gotPairs = pairsOf(t.pairs)
    assert(oracle.size > 50, s"fixture too weak: ${oracle.size} oracle pairs")
    assert(gotPairs.subsetOf(oracle))
    val recall = gotPairs.intersect(oracle).size.toDouble / oracle.size
    assert(recall >= 0.99, s"recall $recall < 0.99 (${gotPairs.size} of ${oracle.size})")
  }

  test("per-row invariant: content sha256 carried unchanged into the docs checkpoint") {
    val files = Twins.corpusLocal(100)
    val input = spark.createDataFrame(files)
    val docs = Pipeline.prepareDocs(input, cfg)
    val mismatches = docs
      .join(input.withColumn("want_sha", sha2(col("content"), 256)), Seq("repo", "path", "commit"))
      .filter(col("content_sha") =!= col("want_sha"))
      .count()
    assert(mismatches == 0)
  }

  test("prepareDocs: token arrays cross no shuffle with the id map broadcast, one without; each row tokenized once") {
    val dir = tmpDir("graft-docs-in")
    spark.createDataFrame(Twins.corpusLocal(300)).write.parquet(s"$dir/input")
    // (doc rows by doc_id, token shuffles) of one prepareDocs
    def docsRun(): (Seq[Row], Int) = {
      val reg = new CacheRegistry
      try {
        val docs = Pipeline.prepareDocs(spark.read.parquet(s"$dir/input"), cfg, reg)
        val rows = docs.collect().toSeq.sortBy(_.getAs[Long]("doc_id"))
        val plan = docs.queryExecution.executedPlan
        assert(kernelCalls(plan, TokenSetKernel.getClass) == 1, s"tokenizer calls per row in:\n$plan")
        val shuffles = shufflesCarrying(docs, "tokens")
        assert(shuffles.size <= 1, s"${shuffles.size} token shuffles:\n$plan")
        (rows, shuffles.size)
      } finally reg.release()
    }
    val (broadcast, broadcastShuffles) = docsRun()
    val (hashed, hashShuffles) = withConf(BroadcastThreshold -> "-1")(docsRun())
    assert(broadcast.length == 300)
    assert(broadcastShuffles == 0, "the id join shuffled the token arrays at the default broadcast threshold")
    assert(hashShuffles == 1, "the shuffle hash id join must move the token arrays through exactly one shuffle")
    assert(broadcast == hashed, "the two id-join plans give different docs")
  }

  test("substring dedup reads the row the docs stage kept, null keys included") {
    val rnd = new scala.util.Random(5)
    def words(n: Int): String =
      Seq.fill(n)(Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
    def sha(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val (s1, s2, s3) = (words(40), words(40), words(40))
    val c1 = s"${words(15)} $s1 ${words(15)}"
    val c2 = s"${words(15)} $s2 ${words(15)}"
    // one key with two contents (and an exact repeat of one of them): the
    // docs stage keeps one row, and only that row's content may pair
    val input = Seq(
      CodeFile("r", "k.x", "c1", "x", c1),
      CodeFile("r", "k.x", "c1", "x", c2),
      CodeFile("r", "k.x", "c1", "x", c1),
      CodeFile("r", "x.x", "c1", "x", s"${words(15)} $s1"),
      CodeFile("r", "y.x", "c1", "x", s"$s2 ${words(15)}"),
      CodeFile(null, "n.x", "c1", "x", s"${words(15)} $s3 ${words(15)}"),
      CodeFile("r", "z.x", "c1", "x", s"$s3 ${words(15)}")
    ).toDF()
      // generated files in other groups, so the pair and component stages are not empty
      .unionByName(Twins.corpusLocal(60).toDF())
    val t = Pipeline.run(spark, input, Config(substringDedup = true), tmpDir("graft-substring-kept"))
    val docs = t.docs.filter(col("group") === "x").select("path", "doc_id", "content_sha").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(docs.size == 5)
    val id = docs.map { case (path, (i, _)) => path -> i }
    val pairs = t.substring.get.select("a", "b").collect().map(r => Set(r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.distinct.size == pairs.size, s"repeated substring pairs: $pairs")
    val (kept, other) = if (docs("k.x")._2 == sha(c1)) ("x.x", "y.x") else ("y.x", "x.x")
    assert(pairs.contains(Set(id("k.x"), id(kept))), s"the kept content's clone $kept is missing")
    assert(!pairs.contains(Set(id("k.x"), id(other))), s"a dropped content paired with $other")
    assert(pairs.contains(Set(id("n.x"), id("z.x"))), "the null-key doc is missing")
  }

  test("resume: a partially-checkpointed run completes to identical output") {
    val files = Twins.corpusLocal(300)
    val input = spark.createDataFrame(files)

    val full = tmpDir("graft-full")
    val firstPairs = pairsOf(Pipeline.run(spark, input, cfg, full).pairs)

    // simulate a killed run: only the first stages exist
    val partial = tmpDir("graft-partial")
    val docs = Checkpoints.stage(spark, "docs", s"$partial/docs", Seq("group"))(
      Pipeline.prepareDocs(input, cfg)
    )
    Checkpoints.stage(spark, "vocab", s"$partial/vocab")(Vocabulary.build(docs, cfg))
    val resumed = pairsOf(Pipeline.run(spark, input, cfg, partial).pairs)
    assert(resumed == firstPairs)

    // idempotence: re-running over complete checkpoints changes nothing
    val again = pairsOf(Pipeline.run(spark, input, cfg, full).pairs)
    assert(again == firstPairs)
  }

  test("config-aware resume: a threshold change reuses docs..candidates, rebuilds pairs+components") {
    val files = Twins.corpusLocal(300)
    val input = spark.createDataFrame(files)
    val work = tmpDir("graft-rethreshold")
    val strict = Pipeline.run(spark, input, Config(threshold = 0.9), work)
    val strictPairs = pairsOf(strict.pairs)
    def mtime(stage: String): Long = new java.io.File(s"$work/$stage/_SUCCESS").lastModified()
    val upstreamBefore = Seq("docs", "vocab", "encoded", "signatures", "candidates").map(mtime)
    val pairsBefore = mtime("pairs")

    // loosen the threshold against the SAME work dir: upstream checkpoints
    // must be reused verbatim, verify + components must recompute
    val loose = Pipeline.run(spark, input, Config(threshold = 0.7), work)
    val loosePairs = pairsOf(loose.pairs)
    assert(Seq("docs", "vocab", "encoded", "signatures", "candidates").map(mtime) == upstreamBefore)
    assert(mtime("pairs") != pairsBefore || strictPairs == loosePairs)
    assert(strictPairs.subsetOf(loosePairs))
    assert(loosePairs.exists(_._4 < 0.9), "fixture too weak: no pair between the thresholds")

    // the incrementally-rebuilt result equals a from-scratch run at 0.7
    val fresh = tmpDir("graft-rethreshold-fresh")
    assert(pairsOf(Pipeline.run(spark, input, Config(threshold = 0.7), fresh).pairs) == loosePairs)
  }

  test("mega exact-dup class: collapsed before LSH, fully expanded after, one cluster") {
    // the 100 TB hazard this pins: a content duplicated C times must
    // contribute ZERO intra-class LSH candidates (the class collapses to one
    // representative per (group, content_sha) BEFORE banding, so it cannot
    // create a hot bucket), while the FINAL pair table still carries all
    // C(C,2) sim=1.0 member pairs (reference emits pairs over raw docs)
    val C = 300
    val dupContent =
      "def megaDup(x: Int): Int = {\n  val widget = x * frobnicate(x)\n  widget + renderTemplate(x)\n}\n"
    val noise = Twins.corpusLocal(60)
    val clones = (0 until C).map(i => CodeFile(s"dup-repo-$i", s"src/clone$i.scala", f"c$i%04d", "scala", dupContent))
    val input = spark.createDataFrame(new scala.util.Random(7L).shuffle(noise ++ clones))

    val t = Pipeline.run(spark, input, cfg, tmpDir("graft-mega"))

    val nReps = t.docs.select("group", "content_sha").distinct().count()
    assert(
      t.candidates.count() <= nReps * (nReps - 1) / 2,
      "candidate volume must be bounded by representative count, not raw doc count"
    )

    val memberIds = t.docs
      .filter(col("content_sha") === sha2(lit(dupContent), 256))
      .select("doc_id").as[Long].collect().toSet
    assert(memberIds.size == C, s"expected $C class members, got ${memberIds.size}")

    val intra = t.pairs
      .filter(col("a").isin(memberIds.toSeq: _*) && col("b").isin(memberIds.toSeq: _*))
      .select("a", "b", "sim").collect()
    assert(intra.length == C * (C - 1) / 2, s"expected all ${C * (C - 1) / 2} member pairs, got ${intra.length}")
    assert(intra.forall(_.getDouble(2) == 1.0), "every intra-class pair must be sim=1.0")

    val clusters = t.components
      .filter(col("doc_id").isin(memberIds.toSeq: _*))
      .select("cluster_id").distinct().as[Long].collect()
    assert(clusters.length == 1, s"class must land in ONE cluster, got ${clusters.length}")
  }

  test("collapseVersions: only the newest version per (repo, path) is clustered") {
    val base = Twins.corpusLocal(100)
    // 3-commit history per file: two stale versions with perturbed content
    val versioned = base.flatMap { f =>
      Seq(
        f.copy(commit = "c1", content = f.content + " stalemarker1 xyz1"),
        f.copy(commit = "c2", content = f.content + " stalemarker2"),
        f.copy(commit = "c3")
      )
    }
    val t = Pipeline.run(
      spark,
      spark.createDataFrame(versioned),
      cfg.copy(collapseVersions = true),
      tmpDir("graft-versions")
    )
    val docs = t.docs.select("repo", "path", "commit").collect()
    assert(docs.length == base.length, "one doc per (repo, path)")
    assert(docs.forall(_.getString(2) == "c3"), "the greatest commit wins")
    // byte-identical output to a plain run over the manually-filtered latest
    // rows (same keys -> same dense ids)
    val plain = Pipeline.run(
      spark,
      spark.createDataFrame(base.map(_.copy(commit = "c3"))),
      cfg,
      tmpDir("graft-versions-plain")
    )
    assert(pairsOf(t.pairs) == pairsOf(plain.pairs))
  }

  test("vendoredMinRepos: vendored content skips LSH but keeps its exact class clustered") {
    val license = (0 until 120).map(k => s"lic$k term$k").mkString(" ")
    val nearContent = license.split(' ').drop(12).mkString(" ") // Jaccard 228/240 = 0.95
    val vendored = (0 until 12).map(r => CodeFile(f"repo$r%02d", "LICENSE.txt", "c0", "scala", license))
    val near = CodeFile("repo99", "LICENSE-mod.txt", "c0", "scala", nearContent)
    val fill = Twins.corpusLocal(80)
    val input = spark.createDataFrame((vendored :+ near) ++ fill)

    def idsOf(t: Pipeline.Tables, path: String): Set[Long] =
      t.docs.filter(col("path") === path).select("doc_id").as[Long].collect().toSet

    val off = Pipeline.run(spark, input, cfg, tmpDir("graft-vend-off"))
    val vOff = idsOf(off, "LICENSE.txt"); val nOff = idsOf(off, "LICENSE-mod.txt")
    def crossPairs(t: Pipeline.Tables, xs: Set[Long], ys: Set[Long]): Long =
      t.pairs.filter(
        (col("a").isin(xs.toSeq: _*) && col("b").isin(ys.toSeq: _*)) ||
          (col("a").isin(ys.toSeq: _*) && col("b").isin(xs.toSeq: _*))
      ).count()
    assert(crossPairs(off, vOff, nOff) > 0, "without routing, the near-dup pairs with the license class")

    val on = Pipeline.run(spark, input, cfg.copy(vendoredMinRepos = 8L), tmpDir("graft-vend-on"))
    val v = idsOf(on, "LICENSE.txt"); val n = idsOf(on, "LICENSE-mod.txt")
    assert(v.size == 12 && n.size == 1)
    assert(crossPairs(on, v, n) == 0, "vendored reps must generate no near-dup candidates")
    // the exact class itself still collapses, pairs at sim=1.0 and clusters
    val intra = on.pairs
      .filter(col("a").isin(v.toSeq: _*) && col("b").isin(v.toSeq: _*))
      .select("sim").as[Double].collect()
    assert(intra.length == 12 * 11 / 2 && intra.forall(_ == 1.0))
    val vClusters = on.components
      .filter(col("doc_id").isin(v.toSeq: _*))
      .select("cluster_id").distinct().count()
    assert(vClusters == 1, "vendored class stays one cluster")
    assert(on.components.count() == on.docs.count(), "every doc keeps a component row")
  }

  test("stage metrics sidecars exist with per-partition rows") {
    val files = Twins.corpusLocal(100)
    val input = spark.createDataFrame(files)
    val work = tmpDir("graft-metrics")
    Pipeline.run(spark, input, cfg, work)
    val m = spark.read.parquet(s"$work/docs_metrics")
    assert(m.columns.toSet == Set("partition", "rows", "stage", "wall_ms"))
    assert(m.count() >= 4) // one row per lang partition
    assert(Checkpoints.exists(spark, s"$work/components"))
  }

  test("an empty stage reads back: no pair at the threshold completes, resumes, and the next run passes") {
    // 7 rows -> 5 docs in one group (two rows have no token); the docs
    // share words, but no two reach 0.7, so the partitioned pairs stage
    // commits no data file
    val pool = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel", "india", "juliet",
      "kilo", "lima", "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    val files = (0 until 5).map(i =>
      CodeFile("r", s"f$i.py", "c1", "python", (0 until 10).map(j => pool((4 * i + j) % 20)).mkString(" "))
    ) ++ Seq(CodeFile("r", "g1.py", "c1", "python", "1 2 3"), CodeFile("r", "g2.py", "c1", "python", "a ; b"))
    val work = tmpDir("graft-empty")
    val topCfg = cfg.copy(topN = Some(3))
    def runOnce(): Pipeline.Tables = Pipeline.run(spark, spark.createDataFrame(files), topCfg, work)
    val t = runOnce()
    assert(t.docs.count() == 5)
    assert(t.pairs.isEmpty && t.topn.get.isEmpty)
    assert(t.pairs.columns.toSet == Set("group", "a", "b", "sim"))
    assert(Checkpoints.stageRowCount(spark, s"$work/pairs") == 0L)
    val resumed = runOnce()
    assert(resumed.docs.count() == 5 && resumed.pairs.isEmpty && resumed.topn.get.isEmpty)
    assert(resumed.pairs.schema == t.pairs.schema)
    // nothing left pending fails the next run in this JVM
    val next = Pipeline.run(spark, spark.createDataFrame(Twins.corpusLocal(100)), cfg, tmpDir("graft-after-empty"))
    assert(!next.pairs.isEmpty)
  }

  test("candidates stage: each signature row calls the band-hash kernel once (both pair generators)") {
    val work = tmpDir("graft-bands")
    val sigs = Pipeline.run(spark, spark.createDataFrame(Twins.corpusLocal(200)), cfg, work).signatures
    // 64x2 under the corpus size as the doc-count bound: the first-collision walk
    for ((c, bound) <- Seq(cfg -> Long.MaxValue, cfg.copy(bands = 64) -> 200L)) {
      val cands = MinHash.candidatePairs(sigs, c, docCountBound = bound)
      assert(!cands.isEmpty)
      val plan = cands.queryExecution.executedPlan
      assert(kernelCalls(plan, classOf[HashKernels.BandHashKernel]) == 1, s"band-hash calls per row at ${c.bands} bands in:\n$plan")
      assert(plan.toString.contains("bhs") == (c.bands == 64), s"walk at ${c.bands} bands in:\n$plan")
    }
    // the SimHash walk tests Hamming distance inside its buckets: no join
    // reads the simhashes back
    val simhash = SimHash.candidatePairs(sigs, cfg)
    assert(simhash.collect().nonEmpty)
    val plan = simhash.queryExecution.executedPlan
    assert(joins(plan).isEmpty, s"joins in the SimHash candidate plan:\n$plan")
  }

  test("verify calls the exact-Jaccard kernel once per candidate pair") {
    val t = Pipeline.run(spark, spark.createDataFrame(Twins.corpusLocal(200)), cfg, tmpDir("graft-verify-once"))
    val verified = Jaccard.verify(t.candidates, t.encoded, cfg.threshold)
    val sims = verified.collect().map(_.getAs[Double]("sim"))
    assert(sims.nonEmpty && sims.forall(_ >= cfg.threshold))
    val plan = verified.queryExecution.executedPlan
    assert(kernelCalls(plan, JaccardKernel.getClass) == 1, s"Jaccard kernel calls per pair in:\n$plan")
  }

  test("verify: token arrays cross no shuffle with the candidates broadcast, and the same pairs come out without") {
    val t = Pipeline.run(spark, spark.createDataFrame(Twins.corpusLocal(200)), cfg, tmpDir("graft-verify-build"))
    // (verified pairs, shuffles carrying tokens_a) of one verify
    def verifyRun(): (Set[(String, Long, Long, Double)], Int) = {
      val verified = Jaccard.verify(t.candidates, t.encoded, cfg.threshold)
      val pairs = verified.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      (pairs, shufflesCarrying(verified, "tokens_a").size)
    }
    val (broadcast, broadcastShuffles) = verifyRun()
    val (hashed, hashShuffles) = withConf(BroadcastThreshold -> "-1")(verifyRun())
    assert(broadcast.nonEmpty)
    assert(broadcastShuffles == 0, "verify shuffled tokens_a at the default broadcast threshold")
    // without broadcasts: the shuffle hash join's exchange of the (a,
    // tokens_a) side, and the sort-merge join's exchange of its output by b
    assert(hashShuffles == 2, s"$hashShuffles tokens_a shuffles without broadcasts")
    assert(broadcast == hashed, "the two verify plans give different pairs")
  }

  /** `body`'s result and every plan it executes, captured by a listener. */
  private def withExecutedPlans[A](body: => A): (A, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      // listener events arrive asynchronously: wait for a marker query's
      spark.range(1).toDF("__marker").collect()
      eventually(timeout(Span(60, Seconds))) {
        assert(plans.asScala.exists(_.output.exists(_.name == "__marker")))
      }
      (result, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("the docs, signatures and verify stages call their kernels inside whole-stage codegen") {
    val kernels = Seq[Class[_]](
      TokenSetKernel.getClass, // docs
      classOf[HashKernels.SortedDiffKernel], classOf[HashKernels.MinHashKernel], classOf[HashKernels.SimHashKernel],
      JaccardKernel.getClass // pairs (verify)
    )
    // a parquet input: over a local relation the optimizer would run the
    // tokenizer at planning time
    val dir = tmpDir("graft-wscg")
    spark.createDataFrame(Twins.corpusLocal(200)).write.parquet(s"$dir/input")
    val (_, plans) = withExecutedPlans(Pipeline.run(spark, spark.read.parquet(s"$dir/input"), cfg, s"$dir/work"))
    kernels.foreach(k => assert(plans.exists(kernelCalls(_, k) > 0), s"no plan calls $k"))
    for (plan <- plans; k <- kernels) {
      // the operators compiled into one generated class: a codegen stage's
      // subtree down to its input adapters
      val compiled = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      def stage(p: SparkPlan): Unit = p match {
        case _: InputAdapter =>
        case n => compiled.add(n); n.children.foreach(stage)
      }
      planNodes(plan).foreach { case w: WholeStageCodegenExec => stage(w.child); case _ => }
      planNodes(plan).filter(n => n.expressions.exists(_.exists(kernelCall(k).isDefinedAt))).foreach { n =>
        assert(compiled.contains(n), s"$k called outside whole-stage codegen by ${n.nodeName} in:\n$plan")
      }
    }
  }

  test("a run with substring dedup and top-N copies no kernel call into a second operator") {
    val dir = tmpDir("graft-once")
    spark.createDataFrame(Twins.corpusLocal(200)).write.parquet(s"$dir/input")
    val (t, plans) = withExecutedPlans(
      Pipeline.run(spark, spark.read.parquet(s"$dir/input"), cfg.copy(substringDedup = true, topN = Some(3)), s"$dir/work"))
    // the substring stage verifies candidates: its LCS UDF runs
    assert(!t.substring.get.isEmpty && !t.pairs.isEmpty && !t.topn.get.isEmpty)
    // the captured plans do run the kernels the guard is about
    Seq[Class[_]](TokenSetKernel.getClass, classOf[HashKernels.SortedDiffKernel], JaccardKernel.getClass).foreach { k =>
      assert(plans.exists(kernelCalls(_, k) > 0), s"no plan calls $k")
    }
    assert(plans.exists(p => exprCount(p) { case _: ScalaUDF => } > 0), "no plan calls the LCS UDF")
    val copied = plans.flatMap(repeatedKernelCalls).distinct
    assert(copied.isEmpty, s"kernel calls held by more than one operator:\n${copied.mkString("\n")}")
  }

  test("substring dedup moves content through one shuffle and fingerprint rows through one") {
    val dir = tmpDir("graft-substring-shuffles")
    // a third of the files open with one license header: its fingerprints
    // are in more than maxFpDf = 200 docs, so the df cap drops some
    spark.createDataFrame(Twins.corpusLocal(700)).write.parquet(s"$dir/input")
    val (t, plans) = withExecutedPlans(
      Pipeline.run(spark, spark.read.parquet(s"$dir/input"), cfg.copy(substringDedup = true), s"$dir/work"))
    assert(!t.substring.get.isEmpty)
    // the substring stage's write is the plan that runs the winnow kernel;
    // planNodes includes the cached docs' plan, where content is exchanged
    val stage = plans.filter(kernelCalls(_, WinnowKernel.getClass) > 0)
    assert(stage.size == 1, s"${stage.size} plans run the winnow kernel")
    val plan = stage.head
    val content = shufflesCarrying(plan, "content")
    assert(content.size == 1, s"${content.size} content shuffles:\n${content.mkString("\n")}\nin:\n$plan")
    val fps = shufflesCarrying(plan, "fp")
    assert(fps.size == 1, s"${fps.size} fingerprint shuffles:\n${fps.mkString("\n")}\nin:\n$plan")
  }

  /** Each stage's rows, schema and `_metrics` rows against `want` rows per
    * stage and the schema the stage has on a non-empty corpus. */
  private def assertStages(t: Pipeline.Tables, ref: Pipeline.Tables, work: String, want: Map[String, Long]): Unit = {
    def tables(x: Pipeline.Tables) = Seq("docs" -> x.docs, "vocab" -> x.vocab, "encoded" -> x.encoded,
      "signatures" -> x.signatures, "candidates" -> x.candidates, "pairs" -> x.pairs, "components" -> x.components,
      "substring" -> x.substring.get, "topn" -> x.topn.get)
    val partitioned = Set("docs", "encoded", "signatures", "pairs")
    tables(t).zip(tables(ref)).foreach { case ((name, df), (_, refDf)) =>
      assert(df.count() == want(name), s"$name rows")
      assert(df.schema == refDf.schema, s"$name schema")
      val metrics = spark.read.parquet(s"$work/${name}_metrics").select("partition", "rows").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSet
      val wantMetrics =
        if (!partitioned(name)) Set("__table__" -> want(name))
        else df.groupBy("group").count().collect().map(r => s"group=${r.getString(0)}" -> r.getLong(1)).toSet
      assert(metrics == wantMetrics, s"$name _metrics")
    }
  }

  test("edge inputs: an empty corpus and a corpus whose every token is under min-df run every stage and resume") {
    val edgeCfg = cfg.copy(substringDedup = true, topN = Some(3))
    val dir = tmpDir("graft-edge")
    def runOn(files: Seq[CodeFile], name: String): Pipeline.Tables = {
      val in = s"$dir/$name-input"
      if (!new java.io.File(in).exists()) spark.createDataFrame(files).write.parquet(in)
      Pipeline.run(spark, spark.read.parquet(in), edgeCfg, s"$dir/$name")
    }
    val ref = runOn(Twins.corpusLocal(60), "ref")
    // each doc's tokens occur in that doc only: df 1 < minDf 2
    val pruned = (0 until 6).map(i =>
      CodeFile("r", s"p$i.py", "c1", "python", (0 until 20).map(j => s"w${i}x$j").mkString(" ")))
    val zero = Map("vocab" -> 0L, "encoded" -> 0L, "signatures" -> 0L, "candidates" -> 0L, "pairs" -> 0L,
      "components" -> 0L, "substring" -> 0L, "topn" -> 0L)
    for ((name, files, docs) <- Seq(("empty", Seq.empty[CodeFile], 0L), ("pruned", pruned, 6L))) {
      val want = zero + ("docs" -> docs)
      assertStages(runOn(files, name), ref, s"$dir/$name", want)
      val manifests = new java.io.File(s"$dir/$name").listFiles().filter(_.getName.endsWith("_lineage.json"))
        .map(f => f.getName -> f.lastModified()).toMap
      assert(manifests.size == 9, s"$name lineage manifests: ${manifests.keys}")
      // a resume rebuilds nothing and reads back the same tables
      assertStages(runOn(files, name), ref, s"$dir/$name", want)
      val resumed = manifests.keys.map(n => n -> new java.io.File(s"$dir/$name/$n").lastModified()).toMap
      assert(resumed == manifests, s"$name: a resume rewrote a stage")
    }
  }
}
