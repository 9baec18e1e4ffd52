package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.dedup._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A batch workload's input: a seeded generator, its size, the engine
  * config it runs with and the pairs it plants. */
final case class BatchCorpus(name: String, n: Long, cfg: Config) {
  private val clones = name == "batch_clones"

  def file(i: Long, seed: Long): CodeFile =
    if (clones) ClonesGen.file(i, n, seed) else CorpusGen.file(i, seed)

  /** CorpusGen plants classes {b, b+1, b+2, b+3} at every base b = 10k, k >= 1:
    * two exact copies and one near copy of b. */
  def planted: Iterator[(Long, Long)] =
    if (clones) ClonesGen.plantedPairs(n)
    else
      (10L until n by 10L).iterator.flatMap { b =>
        val ms = (b until math.min(b + 4, n)).toSeq
        ms.combinations(2).map(p => (p(0), p(1)))
      }

  def write(spark: SparkSession, seed: Long, dir: Path): Unit = {
    import spark.implicits._
    val (c, size) = (clones, n)
    spark
      .range(size)
      .map(i => if (c) ClonesGen.file(i, size, seed) else CorpusGen.file(i, seed))
      .write
      .mode("overwrite")
      .parquet(dir.toString)
  }
}

/** Batch workloads: closed-loop `Pipeline.run` over a generated corpus, one
  * run at a time. */
final class Batch(ctx: Ctx, corpus: BatchCorpus) {
  import ctx._

  private val cfg = corpus.cfg
  private val input = scratch.resolve("input")

  private def pipeline(work: Path): Pipeline.Tables =
    Pipeline.run(spark, spark.read.parquet(input.toString), cfg, work.toString)

  private def pairsChecksum(work: Path): Long =
    Util.checksum(spark.read.parquet(work.resolve("pairs").toString), Seq("group", "a", "b", "sim"))

  /** Set-up: input generation. */
  private def setup(): Unit = corpus.write(spark, seed, input)

  /** The generated files, driver-side, for the oracle and the byte count. */
  private lazy val files: IndexedSeq[CodeFile] = (0L until corpus.n).map(i => corpus.file(i, seed))

  /** Output check of one run's pair table: recall against the oracle's
    * ground truth and a seeded sample of sims against the oracle's. */
  private def check(work: Path): (Double, Seq[String]) = {
    val oracle = new Oracle(files, cfg.minDf)
    val truth = oracle.truth(corpus.planted, cfg.threshold)
    val idx: Map[Long, Int] = spark.read
      .parquet(work.resolve("docs").toString)
      .select("doc_id", "path")
      .collect()
      .map(r => r.getLong(0) -> Oracle.pathIndex(r.getString(1)))
      .toMap
    val pairs = spark.read.parquet(work.resolve("pairs").toString).select("a", "b", "sim").collect()
    val emitted = new mutable.HashSet[Long]()
    val n = corpus.n
    pairs.foreach { r =>
      val (x, y) = (idx(r.getLong(0)), idx(r.getLong(1)))
      emitted += math.min(x, y) * n + math.max(x, y)
    }
    val found = truth.count { case (a, b) => emitted.contains(math.min(a, b) * n + math.max(a, b)) }
    val recall = if (truth.isEmpty) 1.0 else found.toDouble / truth.length
    val rnd = new scala.util.Random(seed)
    val sample = if (pairs.isEmpty) Seq.empty else Seq.fill(math.min(200, pairs.length))(pairs(rnd.nextInt(pairs.length)))
    val wrong = sample.filter(r => oracle.jaccard(idx(r.getLong(0)), idx(r.getLong(1))) != r.getDouble(2))
    println(f"check ${corpus.name} recall: $found/${truth.length} = $recall%.6f (truth pairs ${truth.length}, emitted ${pairs.length})")
    println(s"check ${corpus.name} sampled sims: ${sample.size - wrong.size}/${sample.size} equal the oracle's")
    val errors =
      (if (recall < 0.99) Seq(f"recall $recall%.6f < 0.99") else Nil) ++
        wrong.take(3).map(r => s"pair (${r.getLong(0)}, ${r.getLong(1)}) sim ${r.getDouble(2)} != oracle " +
          oracle.jaccard(idx(r.getLong(0)), idx(r.getLong(1))))
    (recall, errors)
  }

  /** Untraced run: closed-loop `Pipeline.run`s over the same input for at
    * least `seconds`. Nothing runs the engine before the first run: a batch
    * job pays its JVM's JIT and code generation on every run, so the cold
    * run is what a user of the engine waits for. */
  def measure(): Result = {
    setup()
    val setupS = sinceJvmStart()
    phase("measure")
    val walls, shuffle, spill, ckpt = mutable.ArrayBuffer.empty[Double]
    val sums = mutable.ArrayBuffer.empty[Long]
    var failed = 0
    var k = 0
    val t0 = System.nanoTime()
    while (k == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      k += 1
      val work = scratch.resolve(s"work-$k")
      try {
        val (_, w) = Window.time(pipeline(work))
        val u = log.usage(w.startMs, w.endMs, w.wallS)
        walls += w.wallS; shuffle += u.shuffleMb; spill += u.spillMb
        ckpt += Util.bytesUnder(work).toDouble
        sums += pairsChecksum(work)
      } catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] run $k failed: $e") }
      if (k > 1) Util.delete(scratch.resolve(s"work-${k - 1}"))
    }
    if (walls.isEmpty) return Result(false, k, k, Map.empty)
    phase("checks")

    val (recall, errors) = check(scratch.resolve(s"work-$k"))
    val mismatched = checksums.verify(corpus.name, sums.toSeq)
    errors.foreach(e => println(s"check FAILED: $e"))
    // the checks ran on the last run; runs with its checksum share its verdict
    val badRuns = if (errors.nonEmpty) sums.size else mismatched
    failed += badRuns
    val inBytes = files.map(_.content.getBytes("UTF-8").length.toDouble).sum
    println(s"runs ${walls.size} (walls ${walls.map(w => f"$w%.3f").mkString(", ")} s); one batch = one Pipeline.run")
    Result(
      correct = failed == 0,
      attempted = k,
      failed = failed,
      values = Map(
        "files_per_s" -> Util.median(walls.map(corpus.n / _).toSeq),
        "batch_p50_s" -> Util.quantile(walls.toSeq, 0.5),
        "batch_p90_s" -> Util.quantile(walls.toSeq, 0.9),
        "dup_pair_recall" -> recall,
        "shuffle_mb" -> Util.median(shuffle.toSeq),
        "spill_mb" -> Util.median(spill.toSeq),
        "ckpt_bytes_per_input_byte" -> Util.median(ckpt.toSeq) / inBytes,
        "setup_s" -> setupS,
        "failed_frac" -> failed.toDouble / k
      )
    )
  }

  // ---------------------------------------------------------------- traced

  private def ck(work: Path, stage: String): DataFrame = spark.read.parquet(work.resolve(stage).toString)

  private def withReg[T](f: CacheRegistry => T): T = {
    val reg = new CacheRegistry
    try f(reg) finally reg.release()
  }

  /** Traced run: one untraced run for the wall and the checkpoints, then the
    * layers replayed one by one over those checkpoints. The replay runs in a
    * JVM the untraced run has warmed, so `unattributed_s` carries the cold
    * start as well as work outside the layers' public functions. */
  def trace(): Result = {
    setup()
    val work = scratch.resolve("work-1")
    val (_, w) = Window.time(pipeline(work))
    log.usage(w.startMs, w.endMs, w.wallS)
    phase("checks")
    val (_, errors) = check(work)
    errors.foreach(e => println(s"check FAILED: $e"))
    val ok = errors.isEmpty && checksums.verify(corpus.name, Seq(pairsChecksum(work))) == 0
    phase("replay")

    // layer inputs the engine keeps no checkpoint of, materialized untraced
    val prep = scratch.resolve("prep")
    def save(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(prep.resolve(name).toString)
      spark.read.parquet(prep.resolve(name).toString)
    }
    val docs = ck(work, "docs")
    val encoded = ck(work, "encoded")
    val classMap = save(Pipeline.exactClassMap(docs.join(encoded.select("doc_id").hint("shuffle_hash"), "doc_id")), "class_map")
    // the signatures stage's input, built as Pipeline.run builds it
    val hot = Vocabulary.hotTokenIds(ck(work, "vocab"), Checkpoints.stageRowCount(spark, work.resolve("docs").toString), cfg)
    val sigInput = save(
      encoded
        .join(classMap.filter(col("doc_id") === col("rep_id")).select("doc_id").hint("shuffle_hash"), "doc_id")
        .withColumn("tokens", ArrayExceptSorted(col("tokens"), hot))
        .filter(size(col("tokens")) > 0),
      "sig_input"
    )
    val repPairs = save(Jaccard.verify(ck(work, "candidates"), encoded, cfg.threshold), "rep_pairs")
    val subInput =
      if (!cfg.substringDedup) None
      else
        Some(save(
          spark.read.parquet(input.toString)
            .dropDuplicates("repo", "path", "commit")
            .join(docs.select("doc_id", "repo", "path", "commit", "group"), Seq("repo", "path", "commit"))
            .select(col("doc_id"), col("group"), col("content")),
          "substring_input"
        ))
    val rows = (s: String) => Checkpoints.stageRowCount(spark, work.resolve(s).toString)
    val stages: Seq[(String, Seq[String])] = Seq(
      "docs" -> Seq("group"), "vocab" -> Nil, "encoded" -> Seq("group"), "signatures" -> Seq("group"),
      "candidates" -> Nil, "pairs" -> Seq("group"), "components" -> Nil
    ) ++ (if (cfg.substringDedup) Seq("substring" -> Nil) else Nil) ++ cfg.topN.map(_ => "topn" -> Nil)
    val sigs = cfg.stageFingerprints

    var replay = 0
    val layers: Seq[(String, () => Long)] = Seq[(String, () => Long)](
      "docs" -> (() => withReg(reg => Util.noop(Pipeline.prepareDocs(spark.read.parquet(input.toString), cfg, reg)))),
      "vocab" -> (() => withReg(reg => Util.noop(Vocabulary.build(ck(work, "docs"), cfg, reg)))),
      "encode" -> (() => Util.noop(Vocabulary.encode(ck(work, "docs"), ck(work, "vocab"), Some(rows("vocab")), cfg.broadcastMaxVocab))),
      "signatures" -> (() => Util.noop(SimHash.withSimhash(MinHash.withSignature(sigInput, cfg), cfg).drop("tokens"))),
      "candidates" -> (() => Util.noop(Pipeline.candidatesFor(ck(work, "signatures"), cfg))),
      "verify" -> (() => Util.noop(Jaccard.verify(ck(work, "candidates"), ck(work, "encoded"), cfg.threshold))),
      "expand" -> (() => Util.noop(Pipeline.expandExactClasses(repPairs, classMap))),
      "components" -> (() => Util.noop(Components.assignAll(ck(work, "encoded"), ck(work, "pairs"), knownEdgeBound = rows("pairs"))))
    ) ++ subInput.map(in => "substring" -> (() => withReg(reg => Util.noop(SuffixDedup.run(in, reg = reg))))) ++
      cfg.topN.map(n => "topn" -> (() => Util.noop(TopN.perProbe(ck(work, "pairs"), n)))) :+
      ("checkpoint" -> { () =>
        val out = scratch.resolve(s"replay-ck-$replay")
        stages.foreach { case (s, parts) =>
          Checkpoints.stage(spark, s, out.resolve(s).toString, parts, Nil, sigs.getOrElse(s, ""))(ck(work, s))
        }
        Checkpoints.awaitAllSidecars()
        stages.map { case (s, _) => rows(s) }.sum
      })

    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val t0 = System.nanoTime()
    while (replay == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      replay += 1
      var selfSum = 0.0
      layers.foreach { case (name, run) =>
        val (n, lw) = Window.time(run())
        val u = log.usage(lw.startMs, lw.endMs, lw.wallS)
        selfSum += u.wallS
        Report.layerMetrics(name, u, n).foreach { case (k, v) => samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
      }
      samples.getOrElseUpdate("unattributed_s", mutable.ArrayBuffer.empty) += w.wallS - selfSum
      Util.delete(scratch.resolve(s"replay-ck-$replay"))
    }
    val med = samples.map { case (k, v) => k -> Util.median(v.toSeq) }.toMap

    // LSH bucket exposure at the run's config: buckets above the cap and the
    // raw pairs chain-linking dropped (a bucket of B > cap emits
    // w*B - w*(w+1)/2 chain pairs instead of B*(B-1)/2)
    val wd = PairGen.ChainWidth.toLong
    val over = MinHash.bandRows(ck(work, "signatures"), cfg)
      .groupBy("group", "band", "band_hash").count()
      .filter(col("count") > cfg.maxBucket)
      .agg(
        count(lit(1)),
        coalesce(sum(expr(s"(count * (count - 1)) div 2 - ($wd * count - ${wd * (wd + 1) / 2})")), lit(0L))
      )
      .head()
    val extra = Map(
      "candidates.per_verified_pair" -> rows("candidates").toDouble / math.max(1.0, med("verify.rows_out")),
      "candidates.oversized_buckets" -> over.getLong(0).toDouble,
      "candidates.chain_dropped_pairs" -> over.getLong(1).toDouble
    ) ++ subInput.map(in =>
      "substring.candidates_per_hit" -> withReg(reg => SuffixDedup.candidatePairs(in, reg = reg).count()).toDouble /
        math.max(1.0, med("substring.rows_out"))
    )
    println(s"traced: ${replay} replay(s); untraced run wall ${w.wallS} s")
    Result(ok, 1, if (ok) 0 else 1, med ++ extra)
  }
}
