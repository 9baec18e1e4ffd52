package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer

import graft.dedup.{Checkpoints, Config, CorpusGen, Pipeline, Vocabulary}
import graft.streaming.StreamingDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Benchmark main. Two parts:
  *
  *  1. every `SparkEntry.queries` entry timed at `SPARK_GRAFT_CPUS` over
  *     `SPARK_GRAFT_SF_DIR` (the driver's per-round harness contract), with
  *     per-query ok/failed status recorded explicitly;
  *  2. the flagship dedup pipeline over a generated source-code corpus at
  *     TWO parallelism levels — N=2 vs 4N=8 worker threads — on identical
  *     input: the sandbox stand-in for the north_rule's N-vs-4N-executor
  *     scaling criterion (no multi-node cluster here; rationale for the
  *     parallelism choice in BASELINE.md).
  *
  * Scaling methodology (fixed up front — no metric-gated retries):
  *  - one warmup leg per parallelism level (JIT + page cache), untimed;
  *  - up to `SPARK_GRAFT_BENCH_ROUNDS` (default 3) interleaved leg PAIRS
  *    (2, 8, 2, 8, ...), every leg reported raw in the JSON and markdown;
  *  - efficiency = (median_time(2) / median_time(8)) / 4 — median, not
  *    best-of, so a lucky leg cannot flatter the number;
  *  - work dirs (checkpoints + shuffle) live on tmpfs and are deleted after
  *    each leg, so later legs are not contaminated by disk writeback or
  *    page-cache pressure from earlier ones.
  *
  * Wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET_S`, default 2700): the leg
  * protocol (pair count, join-leg count, corpus size — never the suite
  * reps) is fitted to the remaining budget BEFORE any timed leg, from the
  * untimed warmup walls; time-gated only, so the no-metric-gating rule
  * holds. Round 5's fixed protocol overran the driver window (rc=124) and
  * the round had no perf artifact at all.
  *
  * Each suite rep starts with a labeled SETUP step
  * ([[SparkEntry.warmSharedCaches]]) so per-query medians measure the
  * query, not whichever family member pays the shared-chain build.
  *
  * A streaming evidence leg (ingest replay vs a corpus state, stream/batch
  * parity asserted) runs after the scaling legs, budget-permitting.
  *
  * Prints the suite JSON line IMMEDIATELY after the query phase (a later
  * timeout still leaves per-query data), then the complete line (same
  * schema, `"partial":false`) at the end; also writes BENCH/BASELINE.md
  * with the full table
  * including a per-stage wall-time breakdown (from the checkpoint lineage
  * manifests) at both parallelism levels — stages whose wall time does not
  * shrink with cores are the serial fraction to attack.
  */
object Bench {

  private def tmpRoot: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm else Paths.get("/tmp")
  }

  private[graft] def session(cpus: Int, localDir: Option[String]): SparkSession = {
    // shuffle partitions default to a multiple of cores so sort/agg tasks at
    // low parallelism stay small (one giant per-core sort spills super-
    // linearly and flatters the high-core leg); multiplier tunable for
    // Probe-scale experiments
    val mult = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_MULT", "1").toInt
    val b = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", (cpus * mult).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // task-side output commit (v2): job commit is O(1) instead of a
      // driver-serial rename per task output — another fixed cost removed
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // static (JVM-wide, pinned by the FIRST session): the default 100-entry
      // codegen class cache thrashes across a leg's ~60+ generated classes,
      // re-paying janino compiles in every leg — pure serial driver cost
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    localDir.foreach(d => b.config("spark.local.dir", d))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files
        .walk(p)
        .sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    }

  /** Post-timing observability for a completed leg: a deterministic checksum
    * of the emitted pair set (proves two encode plans produce bitwise-equal
    * pairs) plus the chain-linking exposure at the leg's production LSH
    * config (how many raw candidate pairs the bucket cap dropped). */
  final case class LegMetrics(
      pairsRows: Long,
      pairsChecksum: Long,
      candidateRows: Long,
      oversizedBuckets: Long,
      chainDroppedPairs: Long
  )

  /** One timed pipeline leg. Returns (seconds, per-stage wall_ms, metrics).
    * The metrics jobs run AFTER the timestamp is taken, so they never
    * contaminate the timed legs. */
  private[graft] def pipelineRun(
      cpus: Int,
      nFiles: Long,
      cfg: Config = Config(),
      withMetrics: Boolean = false
  ): (Double, Map[String, Long], Option[LegMetrics]) = {
    val work = Files.createTempDirectory(tmpRoot, s"graft-bench-$cpus-")
    val shuffle = Files.createTempDirectory(tmpRoot, s"graft-shuffle-$cpus-")
    val spark = session(cpus, Some(shuffle.toString))
    val t0 = System.nanoTime()
    val tables =
      Pipeline.run(spark, CorpusGen.corpus(spark, nFiles).toDF(), cfg, work.toString)
    tables.components.count() // force the final stage
    val secs = (System.nanoTime() - t0) / 1e9

    val metrics = if (!withMetrics) None else {
      import org.apache.spark.sql.functions._
      val ck = tables.pairs
        .agg(
          count(lit(1)).as("n"),
          // bit_xor, not sum: order-independent, cannot overflow (ANSI mode
          // aborts an overflowing long sum), and rows are distinct by
          // (group, a, b) so xor cancellation cannot hide differences
          coalesce(expr("bit_xor(xxhash64(group, a, b, sim))"), lit(0L)).as("ck")
        )
        .head()
      val bandRows = graft.dedup.MinHash.bandRows(tables.signatures, cfg)
      // bucket size histogram -> raw pairs the cap dropped: a bucket of size
      // B > cap emits w*B - w*(w+1)/2 chain pairs instead of B*(B-1)/2
      val w = graft.dedup.PairGen.ChainWidth.toLong
      val over = bandRows
        .groupBy("group", "band", "band_hash")
        .count()
        .filter(col("count") > cfg.maxBucket)
        .agg(
          count(lit(1)).as("buckets"),
          // `div` (integer division): `/` would widen to double
          coalesce(
            sum(expr(s"(count * (count - 1)) div 2 - ($w * count - ${w * (w + 1) / 2})")),
            lit(0L)
          ).as("dropped")
        )
        .head()
      Some(LegMetrics(
        pairsRows = ck.getLong(0),
        pairsChecksum = ck.getLong(1),
        candidateRows = graft.dedup.Checkpoints.stageRowCount(spark, work.toString + "/candidates"),
        oversizedBuckets = over.getLong(0),
        chainDroppedPairs = over.getLong(1)
      ))
    }

    // per-stage wall times from the lineage manifests (before cleanup)
    val stageNames = Seq("docs", "vocab", "encoded", "signatures", "candidates", "pairs", "components")
    val stageWalls = stageNames.flatMap { s =>
      val lp = work.resolve(s + "_lineage.json")
      if (!Files.exists(lp)) None
      else {
        val txt = new String(Files.readAllBytes(lp), StandardCharsets.UTF_8)
        "\"wall_ms\":(\\d+)".r.findFirstMatchIn(txt).map(m => s -> m.group(1).toLong)
      }
    }.toMap

    spark.stop()
    // local-mode sessions share one JVM: clear the stopped session so the
    // next builder call creates a fresh context instead of reusing state
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    deleteRecursively(work)
    deleteRecursively(shuffle)
    System.gc() // level the heap between legs — GC debt is not the engine
    (secs, stageWalls, metrics)
  }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Structured Streaming evidence leg: build a corpus state at local[8],
    * replay a deterministic ingest stream (CorpusGen.streamFile mix) through
    * the streaming front door (first-seen gate + stream-static LSH near-dup
    * join, AvailableNow micro-batches), and assert stream/batch parity on
    * the emitted pair set. The timed span covers the streaming queries only
    * (corpus build + index construction are setup). Returns
    * (replayFilesPerSec, acceptedRows, pairRows, parityOk). */
  private[graft] def streamingLeg(nCorpus: Long, nStream: Long): (Double, Long, Long, Boolean) = {
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory(tmpRoot, "graft-bench-stream-")
    val shuffle = Files.createTempDirectory(tmpRoot, "graft-shuffle-stream-")
    val spark = session(8, Some(shuffle.toString))
    import spark.implicits._
    try {
      val cfg = Config()
      val t = Pipeline.run(spark, CorpusGen.corpus(spark, nCorpus).toDF(), cfg, work.toString + "/p")
      val encodedReps = Pipeline.repEncoded(t.docs, t.encoded).persist()
      val nDocs = Checkpoints.stageRowCount(spark, work.toString + "/p/docs")
      val hot = Vocabulary.hotTokenIds(t.vocab, nDocs, cfg)
      val index = StreamingDedup.corpusIndex(encodedReps, cfg, hot).persist()
      val knownKeys = t.docs.select("group", "content_sha").distinct().persist()
      index.count(); knownKeys.count()
      val encFn = Some(StreamingDedup.encodeFnFor(t.vocab))
      val inDir = work.toString + "/in"
      val outDir = work.toString + "/out"
      val ck = work.toString + "/ck"
      spark
        .range(nStream)
        .map { i =>
          val f = CorpusGen.streamFile(i, nCorpus, cfg.seed)
          (f.repo, f.path, f.commit, f.lang, f.content, new java.sql.Timestamp(1700000000000L + i * 1000L))
        }
        .toDF("repo", "path", "commit", "lang", "content", "event_time")
        .repartition(32)
        .write
        .mode("overwrite")
        .parquet(inDir)
      val schema = spark.read.parquet(inDir).schema
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(inDir)
      val prepared = StreamingDedup.prepareStream(stream, cfg)
      // round-robin input = event-time-disordered across the whole replay;
      // the horizon must cover the full span (see Main.streamIngest)
      val fresh = StreamingDedup.firstSeen(prepared, Some(knownKeys), Some(("event_time", s"${nStream + 120} seconds")))
      val pairs = StreamingDedup.nearDupAgainstCorpus(fresh, t.vocab, encodedReps, index, cfg, hot, encFn)
      val t0 = System.nanoTime()
      val queries = Seq(
        fresh
          .drop("tokens")
          .writeStream
          .format("parquet")
          .option("path", s"$outDir/accepted")
          .option("checkpointLocation", s"$ck/accepted")
          .trigger(Trigger.AvailableNow())
          .start(),
        pairs.writeStream
          .format("parquet")
          .option("path", s"$outDir/pairs")
          .option("checkpointLocation", s"$ck/pairs")
          .trigger(Trigger.AvailableNow())
          .start()
      )
      queries.foreach(_.awaitTermination())
      val secs = (System.nanoTime() - t0) / 1e9
      val accepted = spark.read.parquet(s"$outDir/accepted").count()
      val outPairs = spark.read.parquet(s"$outDir/pairs")
      val batchPairs = StreamingDedup.nearDupAgainstCorpus(
        StreamingDedup.firstSeen(
          StreamingDedup.prepareStream(spark.read.parquet(inDir), cfg),
          Some(knownKeys),
          None
        ),
        t.vocab,
        encodedReps,
        index,
        cfg,
        hot,
        encFn
      )
      val key = Seq("group", "content_sha", "corpus_doc_id", "sim").map(col)
      val a = outPairs.select(key: _*)
      val b = batchPairs.select(key: _*)
      val diff = a.except(b).count() + b.except(a).count()
      (nStream / secs, accepted, outPairs.count(), diff == 0)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      deleteRecursively(work)
      deleteRecursively(shuffle)
      System.gc()
    }
  }

  /** Host-health control, Spark-free: (sha256 MB/s at 1 thread, sha256 MB/s
    * aggregate at 8 threads, streaming-sum GB/s aggregate at 8 threads).
    * Run before and after the scaling legs and PRINTED INTO THE ARTIFACT:
    * this sandbox is a shared VM whose per-core speed and DRAM bandwidth
    * vary by hours (measured 1.7-2x same-code leg swings and one window
    * where local[8] ran SLOWER than local[2]). The control separates "the
    * engine stopped scaling" from "the host stopped scaling" — a degraded
    * control invalidates the window, not the plan. */
  private def hostControl(): (Double, Double, Double) = {
    def shaLeg(threads: Int): Double = {
      val perThreadMb = 256
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { _ =>
        val t = new Thread(() => {
          val md = java.security.MessageDigest.getInstance("SHA-256")
          var i = 0
          while (i < perThreadMb) { md.update(buf); i += 1 }
          md.digest()
        })
        t.start(); t
      }
      ts.foreach(_.join())
      threads * perThreadMb / ((System.nanoTime() - t0) / 1e9)
    }
    def memLeg(threads: Int): Double = {
      val words = 32 << 20 // 256 MB per thread
      val arrays = (1 to threads).map(_ => new Array[Long](words))
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val ts = arrays.map { a =>
        val t = new Thread(() => {
          var pass = 0; var s = 0L
          while (pass < 3) { var i = 0; while (i < words) { s += a(i); i += 1 }; pass += 1 }
          sink.addAndGet(s)
        })
        t.start(); t
      }
      ts.foreach(_.join())
      threads * 3.0 * words * 8 / 1e9 / ((System.nanoTime() - t0) / 1e9)
    }
    (shaLeg(1), shaLeg(8), memLeg(8))
  }

  def main(args: Array[String]): Unit = {
    val tMain0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - tMain0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // 2.5M files: large enough that the ~30 s fixed fraction (driver-side
    // dictionary collect, per-stage job scheduling/commit, components
    // union-find) amortizes against ~10 min of parallel work per local[2]
    // leg — the same reason real clusters bench scaling on big inputs.
    val nFilesReq = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILES", "2500000").toLong
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    // Wall-clock budget for the WHOLE run. Round 5's driver run hit the
    // harness timeout (rc=124, ~80 min protocol vs a ~45-50 min window) and
    // the round recorded no perf evidence at all — so the protocol now fits
    // itself to this budget UP FRONT (from untimed warmup estimates; never
    // metric-gated): legs and corpus size degrade before suite reps, per the
    // round-5 verdict.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2700").toDouble

    // dev-only iteration knobs (unset in driver runs): restrict the query
    // list / skip the pipeline-scaling part while tuning a single query
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val skipPipeline = sys.env.get("SPARK_GRAFT_BENCH_SKIP_PIPELINE").contains("1")

    // part 1: operator queries at the harness parallelism. The whole suite
    // runs SPARK_GRAFT_BENCH_QUERY_REPS times (default 3) with every cache
    // (per-query transients, memoized cross-query chains, InMemoryRelations)
    // cleared between reps, so each rep pays the full cost; per-query time
    // is the MEDIAN across reps with [min, max] spread reported alongside —
    // round 4's single-shot numbers swung 6↔12 s on one query (q16) and
    // 78 vs 99 s on the same-code suite, which misled optimization targets.
    // Each rep STARTS with a labeled SETUP step that materializes the
    // memoized cross-query chains (SparkEntry.warmSharedCaches), so a
    // query's median measures the query — round 5's q22 "regression" was the
    // shared encode build landing on whichever family member ran first.
    val qreps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERY_REPS", "3").toInt)
    val spark = session(cpus, None)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val setupTimes = ArrayBuffer.empty[Double]
    val repRuns: Seq[Seq[(String, Double, Boolean)]] = (1 to qreps).map { _ =>
      val tS = System.nanoTime()
      try SparkEntry.warmSharedCaches(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"[bench] setup FAILED: $e") }
      setupTimes += (System.nanoTime() - tS) / 1e9
      val res = named.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); false }
        val secs = (System.nanoTime() - t0) / 1e9
        // per-query scaffolding caches must not compete with the next query
        SparkEntry.releaseTransientCaches()
        (name, secs, ok)
      }
      SparkEntry.releaseSharedCaches()
      spark.catalog.clearCache()
      res
    }
    val setupMed = median(setupTimes.toSeq)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // (name, median, allOk, min, max) in name order. Median/spread use ONLY
    // successful reps — a fast exception (sub-second failure) mixed into the
    // stats would understate the very variance the spread exists to expose;
    // with zero successful reps the raw times stand (the query is reported
    // FAILED and excluded from totals anyway).
    val results: Seq[(String, Double, Boolean, Double, Double)] = named.map(_._1).map { name =>
      val per = repRuns.map(_.find(_._1 == name).get)
      val okTimes = per.filter(_._3).map(_._2)
      val times = if (okTimes.nonEmpty) okTimes else per.map(_._2)
      (name, median(times), per.forall(_._3), times.min, times.max)
    }
    val failed = results.filter(!_._3).map(_._1)

    // Suite-side JSON pieces, built BEFORE the pipeline phase: the suite
    // line is emitted immediately after the query phase so a later timeout
    // still leaves per-query data in the round artifact (round-5 verdict:
    // BENCH_r05.json was rc=124 with nothing parseable at all).
    val okResults = results.filter(_._3)
    val qJson = okResults.map { case (k, v, _, _, _) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val qSpreadJson = okResults
      .map { case (k, _, _, lo, hi) => f""""$k":[$lo%.3f,$hi%.3f]""" }
      .mkString("{", ",", "}")
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    // total now includes the labeled setup median — the shared-chain build
    // cost that round 5 smeared into whichever query ran first
    val total = setupMed + okResults.map(_._2).sum

    if (skipPipeline) {
      println(f"[bench-dev] setup (shared-chain build) $setupMed%.2f s over $qreps reps")
      results.foreach { case (k, med, ok, lo, hi) =>
        println(f"[bench-dev] $k $med%.2f s [$lo%.2f, $hi%.2f] ${if (ok) "ok" else "FAILED"}")
      }
      println(f"[bench-dev] total (setup + sum of medians) $total%.2f s")
      return
    }

    def jsonLine(
        partial: Boolean,
        pipelineFiles: Long = 0L,
        legs: Seq[(Int, Double)] = Nil,
        legPairs: Int = 0,
        joinLegCount: Int = 0,
        thr2: Double = 0.0,
        thr8: Double = 0.0,
        eff: Double = 0.0,
        effPooled: Double = 0.0,
        ctlB: (Double, Double, Double) = (0.0, 0.0, 0.0),
        ctlA: (Double, Double, Double) = (0.0, 0.0, 0.0),
        thrJoin: Double = 0.0,
        encodeMatch: Boolean = false,
        m: LegMetrics = LegMetrics(0, 0, 0, 0, 0),
        dropPct: Double = 0.0,
        streamFps: Double = 0.0,
        streamParity: Boolean = false
    ): String = {
      val legsJson = legs.map { case (c, s) => f"""[$c,$s%.2f]""" }.mkString("[", ",", "]")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","partial":$partial,"setup_sec":$setupMed%.3f,"queries":$qJson,"query_reps":$qreps,"queries_spread":$qSpreadJson,"failed":$failedJson,"sf":"$sfDir","pipeline_files":$pipelineFiles,"leg_pairs":$legPairs,"join_legs":$joinLegCount,"legs":$legsJson,"files_per_sec_2":$thr2%.1f,"files_per_sec_8":$thr8%.1f,"scaling_efficiency":$eff%.3f,"scaling_efficiency_pooled":$effPooled%.3f,"host_control_before":[${ctlB._1}%.0f,${ctlB._2}%.0f,${ctlB._3}%.1f],"host_control_after":[${ctlA._1}%.0f,${ctlA._2}%.0f,${ctlA._3}%.1f],"files_per_sec_8_shuffle_encode":$thrJoin%.1f,"encode_paths_pairs_match":$encodeMatch,"oversized_buckets":${m.oversizedBuckets},"chain_dropped_raw_pairs":${m.chainDroppedPairs},"chain_dropped_pct_of_raw":$dropPct%.3f,"stream_files_per_sec":$streamFps%.1f,"stream_parity":$streamParity,"elapsed_sec":$elapsed%.0f}"""
    }
    println(jsonLine(partial = true))

    // part 2: pipeline scaling, same input, N=2 vs 4N=8 worker threads.
    // 2-vs-8 (not 8-vs-32) because a single box shares one memory bus: past
    // ~16 threads the scan/hash/shuffle phases are DRAM-bandwidth-bound and
    // the ratio measures the machine, not the engine.
    val warmFiles = math.min(nFilesReq, 100000L)
    val ctlBefore = hostControl()
    // warmup both levels (JIT, classloading, page cache); their walls feed
    // the budget fit below
    val (w2, _, _) = pipelineRun(2, warmFiles)
    val (w8, _, _) = pipelineRun(8, warmFiles)

    // Fit the leg protocol to the remaining budget BEFORE any timed leg,
    // from the untimed warmup walls (linear per-file scaling is a
    // conservative estimate: fixed costs amortize with corpus size, so it
    // overshoots). Degradation order per the round-5 verdict: join legs,
    // then leg pairs, then corpus size — never the suite reps (already
    // paid). The choice is made up front from time estimates only, so the
    // "no metric-gated retries" methodology holds.
    val estPairPerFile = (w2 + w8) / warmFiles
    val estJoinPerFile = w8 / warmFiles
    val reserveS = 300.0 // controls + streaming leg + write-out + teardown
    val remaining = budgetS - elapsed - reserveS
    val candidates = Seq(
      (nFilesReq, rounds, rounds),
      (nFilesReq, rounds, 1),
      (nFilesReq, 2, 1),
      (math.min(nFilesReq, 1000000L), 2, 1),
      (math.min(nFilesReq, 1000000L), 1, 1)
    ).distinct
    def protoCost(c: (Long, Int, Int)): Double =
      1.15 * c._1 * (c._2 * estPairPerFile + c._3 * estJoinPerFile)
    val (nFiles, roundsUse, joinReps) =
      candidates.find(protoCost(_) <= remaining).getOrElse(candidates.last)
    val protoNote =
      if ((nFiles, roundsUse, joinReps) == ((nFilesReq, rounds, rounds))) "full protocol"
      else
        f"DEGRADED to fit the ${budgetS}%.0f s budget (full protocol est " +
          f"${protoCost((nFilesReq, rounds, rounds))}%.0f s vs ${remaining}%.0f s remaining)"
    System.err.println(s"[bench] protocol: $roundsUse leg pairs + $joinReps join legs at $nFiles files — $protoNote")

    val legs = ArrayBuffer.empty[(Int, Double)] // (cpus, secs) in run order
    var stages2 = Map.empty[String, Long]
    var stages8 = Map.empty[String, Long]
    var metrics8: Option[LegMetrics] = None
    var round = 0
    while (round < roundsUse) {
      val last = round == roundsUse - 1
      val (s2, st2, _) = pipelineRun(2, nFiles)
      // the LAST 8-leg also collects pair checksum + chain-exposure metrics —
      // those jobs run after its timestamp, so the leg time stays clean
      val (s8, st8, m8) = pipelineRun(8, nFiles, Config(), withMetrics = last)
      legs += 2 -> s2
      legs += 8 -> s8
      stages2 = st2 // keep the last leg's breakdown (representative, post-warmup)
      stages8 = st8
      metrics8 = m8.orElse(metrics8)
      round += 1
    }
    val med2 = median(legs.filter(_._1 == 2).map(_._2).toSeq)
    val med8 = median(legs.filter(_._1 == 8).map(_._2).toSeq)
    val thr2 = nFiles / med2
    val thr8 = nFiles / med8
    // Headline estimator: median of PER-PAIR ratios. Each interleaved
    // (local[2], local[8]) pair runs back-to-back, so slow-host noise that
    // is roughly constant within a pair cancels in its ratio; the median
    // then rejects one bad pair out of three. The pooled-medians estimator
    // is reported alongside — on a quiet host they agree.
    val pairRatios = legs.toSeq
      .grouped(2)
      .collect { case Seq((2, s2), (8, s8)) => s2 / s8 }
      .toSeq
    val efficiency = median(pairRatios) / 4.0
    val efficiencyPooled = (med2 / med8) / 4.0

    // Scale-path evidence leg: force the shuffle-join encode (the plan that
    // carries vocabularies beyond any broadcast cap) on the SAME corpus and
    // assert its emitted pair set is bitwise-identical to the broadcast
    // path's, reporting its throughput next to it. MEDIAN of `joinReps`
    // local[8] legs — the round-4 single-shot leg swung 11.8k-16.2k files/s
    // across same-code runs and misread as a regression (the Probe-encode
    // re-measurement put the plan's real cost at ~16.7k median-of-3, with
    // the entire delta vs broadcast confined to the encoded stage).
    val joinLegs = (1 to joinReps).map { i =>
      pipelineRun(8, nFiles, Config(broadcastMaxVocab = 100000L), withMetrics = i == joinReps)
    }
    val sJoin = median(joinLegs.map(_._1))
    val mJoin = joinLegs.flatMap(_._3).lastOption
    val thrJoin = nFiles / sJoin
    val ctlAfter = hostControl()
    val encodeMatch = (metrics8, mJoin) match {
      case (Some(a), Some(b)) => a.pairsRows == b.pairsRows && a.pairsChecksum == b.pairsChecksum
      case _ => false
    }

    // Streaming evidence leg (budget-permitting): replay a deterministic
    // ingest stream against a fresh corpus state; timed span = the streaming
    // queries; stream/batch parity asserted on the emitted pair set. Runs
    // AFTER ctlAfter so the scaling legs stay bracketed by their controls.
    val streamRes =
      if (budgetS - elapsed < 120.0) { System.err.println("[bench] skipping streaming leg (budget)"); None }
      else Some(streamingLeg(nCorpus = 200000L, nStream = 20000L))
    val (streamFps, streamAccepted, streamPairs, streamParity) =
      streamRes.map(r => (r._1, r._2, r._3, r._4)).getOrElse((0.0, 0L, 0L, false))

    val m = metrics8.getOrElse(LegMetrics(0, 0, 0, 0, 0))
    val dropPct =
      if (m.candidateRows + m.chainDroppedPairs > 0)
        100.0 * m.chainDroppedPairs / (m.candidateRows + m.chainDroppedPairs)
      else 0.0
    println(jsonLine(
      partial = false,
      pipelineFiles = nFiles,
      legs = legs.toSeq,
      legPairs = roundsUse,
      joinLegCount = joinReps,
      thr2 = thr2,
      thr8 = thr8,
      eff = efficiency,
      effPooled = efficiencyPooled,
      ctlB = ctlBefore,
      ctlA = ctlAfter,
      thrJoin = thrJoin,
      encodeMatch = encodeMatch,
      m = m,
      dropPct = dropPct,
      streamFps = streamFps,
      streamParity = streamParity
    ))

    val stageNames = (stages2.keySet ++ stages8.keySet).toSeq
    val stageRows = stageNames
      .sortBy(s => Seq("docs", "vocab", "encoded", "signatures", "candidates", "pairs", "components").indexOf(s))
      .map { s =>
        val a = stages2.getOrElse(s, 0L) / 1000.0
        val b = stages8.getOrElse(s, 0L) / 1000.0
        val ratio = if (b > 0) a / b else 0.0
        f"| $s | $a%.1f | $b%.1f | $ratio%.2fx |"
      }
      .mkString("\n#")
    val legRows = legs.zipWithIndex
      .map { case ((c, s), i) => f"| ${i + 1} | local[$c] | $s%.1f |" }
      .mkString("\n#")
    val queryRows = results
      .map { case (k, med, ok, lo, hi) =>
        f"| $k | $med%.2f | $lo%.2f | $hi%.2f | ${if (ok) "ok" else "FAILED"} |"
      }
      .mkString("\n#")
    val md =
      f"""## BENCH results
         #
         #| metric | value |
         #|---|---|
         #| operator-suite total (setup + sum of per-query medians over $qreps reps, s) @ local[$cpus], $sfDir | $total%.1f |
         #| setup: shared-chain build (encode/LSH-verify/exact-pair/winnow memos, median s per rep) | $setupMed%.2f |
         #| failed queries | ${if (failed.isEmpty) "none" else failed.mkString(", ")} |
         #| leg protocol ($roundsUse pairs + $joinReps join legs, fitted to ${budgetS}%.0f s budget) | $protoNote |
         #| pipeline corpus size (files) | $nFiles |
         #| pipeline throughput @ local[2] (files/sec, median of ${legs.count(_._1 == 2)}) | $thr2%.1f |
         #| pipeline throughput @ local[8] (files/sec, median of ${legs.count(_._1 == 8)}) | $thr8%.1f |
         #| scaling efficiency N=2 -> 4N=8 (median of per-pair ratios) | $efficiency%.3f |
         #| scaling efficiency N=2 -> 4N=8 (pooled leg medians) | $efficiencyPooled%.3f |
         #| host control BEFORE legs: sha256 MB/s @1t / @8t, mem-sum GB/s @8t | ${ctlBefore._1}%.0f / ${ctlBefore._2}%.0f / ${ctlBefore._3}%.1f |
         #| host control AFTER legs: sha256 MB/s @1t / @8t, mem-sum GB/s @8t | ${ctlAfter._1}%.0f / ${ctlAfter._2}%.0f / ${ctlAfter._3}%.1f |
         #| shuffle-join encode leg @ local[8] (files/sec, broadcast cap forced to 100k, median of ${joinLegs.size}) | $thrJoin%.1f |
         #| shuffle-join encode pairs bitwise-equal to broadcast path | $encodeMatch |
         #| streaming replay @ local[8] (files/sec, 20k-file ingest vs 200k-file corpus state) | ${if (streamRes.isEmpty) "skipped (budget)" else f"$streamFps%.1f"} |
         #| streaming accepted / near-dup pairs / stream-batch parity | $streamAccepted / $streamPairs / ${if (streamParity) "OK" else if (streamRes.isEmpty) "n/a" else "MISMATCH"} |
         #
         #Chain-linking exposure at the production LSH config (32x4 banding,
         #bucket cap ${Config().maxBucket}), measured on the last local[8] leg:
         #${m.oversizedBuckets} band buckets exceeded the cap; chain-linking
         #dropped ${m.chainDroppedPairs} raw candidate pairs ($dropPct%.3f%% of the
         #${m.candidateRows + m.chainDroppedPairs} raw candidates; the kept
         #distinct candidates were ${m.candidateRows}). Recall holds because a
         #dropped pair keeps ${Config().bands} independent banding chances and
         #oversized buckets are boilerplate-dominated (their members share only
         #capped high-df signature tokens); the parity suite asserts recall
         #>= 0.99 at the dedup threshold with the cap ACTIVE, and the emitted
         #pair checksum above pins the exact output across encode plans.
         #
         #Scaling evidence per BASELINE.md: same job + same deterministic input
         #at two parallelism levels (N=2 and 4N=8 worker threads) stands in for
         #N-vs-4N executors — no multi-node cluster exists in the sandbox.
         #N=2 was chosen over N=8 (i.e. 8-vs-32) because beyond ~16 threads a
         #single box saturates shared DRAM bandwidth on scan/hash/shuffle
         #phases and the ratio measures the host, not the engine.
         #
         #Methodology: one untimed warmup leg per level, then exactly $roundsUse
         #interleaved leg pairs fixed up front (no best-of, no metric-gated
         #retries; the pair count and corpus size are chosen BEFORE any timed
         #leg from warmup-wall estimates so the whole run fits the
         #${budgetS}%.0f s wall-clock budget — time-gated, never
         #metric-gated); the headline efficiency is the MEDIAN of per-pair
         #t2/t8 ratios (back-to-back pairs cancel slow-host noise that is
         #constant within a pair; the median rejects one bad pair), with the
         #pooled-medians estimator reported alongside. The Spark-free host
         #controls above bracket the legs: this sandbox VM's per-core speed
         #and DRAM bandwidth swing 1.7-2x across hours (one measured window
         #ran local[8] SLOWER than local[2] on identical code) — when a run's
         #control numbers are far below a prior run's, the WINDOW is
         #degraded, not the engine. Work dirs live on tmpfs and are deleted
         #between legs. All raw legs, in run order:
         #
         #| leg | level | seconds |
         #|---|---|---|
         #$legRows
         #
         #Per-stage wall (s), last leg at each level — a stage whose ratio is
         #far below 4x is serial-fraction:
         #
         #| stage | local[2] | local[8] | speedup |
         #|---|---|---|---|
         #$stageRows
         #
         #On the vocab stage's sub-4x ratio (profiled with Probe vocab, round 5):
         #the stage is the explode + partial-hash-aggregate over the token
         #universe (the id stamp, count job and parquet write total ~1.4 s
         #flat). Partial aggregation over a HIGH-CARDINALITY key does more
         #total work at higher task counts — each task materializes partial
         #counts for its own large subset of the universe, so the combined
         #partial-agg output grows with parallelism (measured 17.4 s @2,
         #9.4 @4, 7.0 @8, 4.3 @16 cores on a 1M-file corpus). This is the
         #canonical Spark high-cardinality-agg shape, not driver-serial time:
         #on a real cluster the input splits scale with executors and the
         #per-task universe subset shrinks correspondingly. The driver-side
         #serial fraction that DID exist here (CompactDict assembly for the
         #broadcast encode) now runs its char-scanning work on the common
         #pool (parallel blob copy + hash precompute; round 5).
         #
         #Per-query seconds @ local[$cpus] — median over $qreps full-suite reps
         #(all caches cleared between reps), with the raw [min, max] spread.
         #Each rep begins with a labeled SETUP step that materializes the
         #memoized cross-query chains, so medians measure the QUERY — the
         #shared-chain build cost is the `setup` row in the header table
         #(per-rep: ${setupTimes.map(t => f"$t%.1f").mkString(", ")} s):
         #
         #| query | median s | min | max | status |
         #|---|---|---|---|---|
         #$queryRows
         #""".stripMargin('#')
    Files.createDirectories(Paths.get("BENCH"))
    Files.write(
      Paths.get("BENCH/BASELINE.md"),
      md.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING
    )
  }
}
