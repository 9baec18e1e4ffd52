package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.Try

import graft.dedup.{Config, CorpusGen, Jaccard, MinHash, Pipeline, SimHash, SuffixDedup, Vocabulary}
import graft.streaming.StreamingDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only measurement main on Bench's own session and pipeline leg (so
  * its numbers compare with the bench's); not part of the `SparkEntry` contract.
  * `runMain graft.Dev <subcommand>`, where subcommand is one of
  *  - `setup [reps]`: time each shared chain (SharedChains.memo);
  *  - `q <name> [reps]`: time a shared-chain warm-up, then the query into
  *    the noop sink;
  *  - `plans`: regenerate PLANS.md; `plans <name,...> <outDir>`: write
  *    `<outDir>/<name>.txt` per query, over warmed shared chains;
  *  - `legs <nFiles> <pairs>`: Bench-shaped legs (a warm-up per level, then
  *    interleaved local[2]/local[8] pairs) with per-stage walls;
  *  - `encode [nFiles] [cpus] [reps]`: broadcast-dict vs shuffle-join
  *    encode legs, interleaved.
  * setup, q and plans read the tables from `SPARK_GRAFT_SF_DIR`; setup and q
  * run at `SPARK_GRAFT_CPUS` (default 32), plans at local[8]. */
object Dev {

  sealed trait Cmd
  final case class Setup(sfDir: String, reps: Int) extends Cmd
  final case class Query(sfDir: String, name: String, reps: Int) extends Cmd
  final case class Plans(sfDir: String, explain: Option[(Seq[String], String)]) extends Cmd
  final case class Legs(nFiles: Long, pairs: Int) extends Cmd
  final case class Encode(nFiles: Long, cpus: Int, reps: Int) extends Cmd

  val usage: String =
    """usage: graft.Dev <subcommand>    (setup, q and plans read SPARK_GRAFT_SF_DIR)
      |  setup [reps]
      |  q <name> [reps]
      |  plans [<name,...> <outDir>]
      |  legs <nFiles> <pairs>
      |  encode [nFiles] [cpus] [reps]""".stripMargin

  /** `args` (and the query-table dir, if set) as a command, or an error
    * message ending in the usage. Pure: runs no Spark. */
  def parse(args: Seq[String], sfDir: Option[String]): Either[String, Cmd] = {
    def fail(msg: String) = Left(s"$msg\n$usage")
    def num(what: String, arg: Option[String], default: Long): Either[String, Long] =
      arg.fold[Either[String, Long]](Right(default)) { s =>
        Try(s.toLong).toOption.filter(_ > 0).toRight(s"$what must be a positive integer, got '$s'\n$usage")
      }
    def queries(names: Seq[String]): Either[String, Seq[String]] =
      names.find(!SparkEntry.queries.contains(_)).fold[Either[String, Seq[String]]](Right(names))(n =>
        fail(s"unknown query '$n'"))
    def withSf(f: String => Either[String, Cmd]): Either[String, Cmd] =
      sfDir.fold[Either[String, Cmd]](fail("SPARK_GRAFT_SF_DIR is not set"))(f)
    args.toList match {
      case "setup" :: rest if rest.size <= 1 =>
        withSf(sf => num("reps", rest.headOption, 3).map(r => Setup(sf, r.toInt)))
      case "q" :: name :: rest if rest.size <= 1 =>
        withSf(sf => for (_ <- queries(Seq(name)); r <- num("reps", rest.headOption, 3)) yield Query(sf, name, r.toInt))
      case "plans" :: Nil => withSf(sf => Right(Plans(sf, None)))
      case "plans" :: names :: outDir :: Nil =>
        withSf(sf => queries(names.split(",").toSeq).map(ns => Plans(sf, Some((ns, outDir)))))
      case "legs" :: nFiles :: pairs :: Nil =>
        for (n <- num("nFiles", Some(nFiles), 0); p <- num("pairs", Some(pairs), 0)) yield Legs(n, p.toInt)
      case "encode" :: rest if rest.size <= 3 =>
        for (n <- num("nFiles", rest.lift(0), 1000000L); c <- num("cpus", rest.lift(1), 8); r <- num("reps", rest.lift(2), 3))
          yield Encode(n, c.toInt, r.toInt)
      case other => fail(s"unknown arguments: ${other.mkString(" ")}")
    }
  }

  def main(args: Array[String]): Unit =
    parse(args.toSeq, sys.env.get("SPARK_GRAFT_SF_DIR")).fold(msg => { System.err.println(msg); sys.exit(2) }, run)

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally println(f"[dev] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
  }

  private def explain(df: DataFrame): String = normalizePlan(df.queryExecution.explainString(FormattedMode))

  /** A plan dump without expression ids (`id#123L` becomes `id#xL`), plan
    * and RDD ids, source line numbers, AQE runtime statistics and lambda
    * names, so that two dumps differ only where the plan's shape does. Pure. */
  def normalizePlan(plan: String): String =
    plan
      .replaceAll("#\\d+", "#x")
      .replaceAll("(plan_id=|RDD\\[)\\d+", "$1x")
      .replaceAll("(\\.scala):\\d+", "$1")
      .replaceAll(", Statistics\\([^)]*\\)", "")
      .replaceAll("\\$\\$Lambda[$/\\w]*@\\w+", "\\$\\$Lambda")

  /** One Bench pipeline leg, printed with its per-stage walls. */
  private def leg(label: String, cpus: Int, n: Long, cfg: Config = Config()): Double = {
    val (secs, stages, _) = Bench.pipelineRun(cpus, n, cfg)
    println(f"[dev] $label local[$cpus] $n files $secs%.1f s ${n / secs}%.0f files/s")
    stages.toSeq.sortBy(_._1).foreach { case (st, ms) => println(f"[dev]   stage $st%-12s ${ms / 1000.0}%.1f s") }
    secs
  }

  private def run(cmd: Cmd): Unit = cmd match {
    case Setup(sf, reps) => queryReps(reps) { (spark, r) =>
        SharedChains.memo.chains.foreach(c => time(s"rep$r ${c.name}")(c(spark, sf)))
      }
    case Query(sf, name, reps) => queryReps(reps) { (spark, r) =>
        time(s"rep$r warm")(SparkEntry.warmSharedCaches(spark, sf))
        time(s"rep$r $name")(SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save())
      }
    case Plans(sf, Some((names, outDir))) => queryReps(1) { (spark, _) =>
        SparkEntry.warmSharedCaches(spark, sf)
        Files.createDirectories(Paths.get(outDir))
        names.foreach { name =>
          val out = Paths.get(outDir, s"$name.txt")
          Files.write(out, explain(SparkEntry.queries(name)(spark, sf)).getBytes(StandardCharsets.UTF_8))
          SparkEntry.releaseTransientCaches()
          println(s"[dev] wrote plan for $name to $out")
        }
      }
    case Plans(sf, None) => plansMd(sf)
    case Legs(n, pairs) =>
      leg("warmup", 2, n); leg("warmup", 8, n)
      val (t2, t8) = (1 to pairs).map(p => (leg(s"pair$p", 2, n), leg(s"pair$p", 8, n))).unzip
      val (m2, m8) = (Bench.median(t2), Bench.median(t8))
      println(f"[dev] legs median t2=$m2%.1f t8=$m8%.1f ratio=${m2 / m8}%.2f eff=${m2 / m8 / 4}%.3f")
    case Encode(n, cpus, reps) => // both plans warm up: each has its own codegen paths
      val plans = Seq("broadcast" -> Config(), "shuffle" -> Config(broadcastMaxVocab = 100000L))
      plans.foreach { case (_, cfg) => Bench.pipelineRun(cpus, math.min(n, 100000L), cfg) }
      val legs = (1 to reps).flatMap(r => plans.map { case (label, cfg) => label -> leg(s"rep$r $label", cpus, n, cfg) })
      plans.foreach { case (label, _) =>
        val ts = legs.filter(_._1 == label).map(_._2)
        val all = ts.sorted.map(t => f"$t%.1f").mkString(", ")
        println(f"[dev] encode median $label%-9s ${Bench.median(ts)}%.1f s (all: $all)")
      }
  }

  /** `reps` reps on one query session; each drops every cache, so pays the full cost. */
  private def queryReps(reps: Int)(body: (SparkSession, Int) => Unit): Unit = {
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, None)
    (1 to reps).foreach { r =>
      spark.sparkContext.setJobDescription(s"dev rep $r")
      body(spark, r)
      SparkEntry.releaseTransientCaches()
      SparkEntry.releaseSharedCaches()
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** PLANS.md: `explain("formatted")` of the load-bearing plans, for
    * reviewing shuffle placement, pushed filters and codegen coverage. */
  private def plansMd(sf: String): Unit = {
    val spark = Bench.session(8, None)
    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)
    val cfg = Config()
    val cfg64 = Config(threshold = 0.5, bands = 64, maxBucket = 1 << 20)
    val input = CorpusGen.corpus(spark, 1000L).toDF()
    val docs = Pipeline.prepareDocs(input, cfg)
    val vocab = Vocabulary.build(docs, cfg)
    val encoded = Vocabulary.encode(docs, vocab)
    val sigs = SimHash.withSimhash(MinHash.withSignature(encoded, cfg), cfg)
    // The streaming probe is dumped through its batch-parity shape (a
    // started streaming query can't be explained); the index holds
    // exact-class representatives only.
    val reps = Pipeline.repEncoded(docs, encoded)
    val hot = Vocabulary.hotTokenIds(vocab, 1000L, cfg)
    val streamProbe = StreamingDedup.nearDupAgainstCorpus(StreamingDedup.prepareStream(input.limit(50), cfg),
      vocab, reps, StreamingDedup.corpusIndex(reps, cfg, hot), cfg, hot)
    // q23/q31a return MEMOIZED tables, so their un-memoized builders are
    // dumped instead; q25b's union-find and q43's per-partition sums run
    // eagerly at construction, so their plans are the distributed remainder.
    val sections = Seq(
      "docs stage (ids stamped on the key projection; the id join builds on the id map: broadcast while it fits)" -> docs,
      "q13_doc_pairs (flagship: within-group exact Jaccard over pruned tokens)" -> q("q13_doc_pairs"),
      "q04_join_revenue_by_nation (broadcast dim join)" -> q("q04_join_revenue_by_nation"),
      "q07_filter_project (pushdown check: PushedFilters + pruned ReadSchema)" -> q("q07_filter_project"),
      "vocabulary build (explode + partial hash agg)" -> vocab,
      "dictionary encode, broadcast-map plan (narrow projection)" -> encoded,
      "dictionary encode, shuffle-join plan (explode + join + collect_list)" -> Vocabulary.encodeJoin(docs, vocab),
      "LSH candidate pairs (band explode + bucket pairing)" -> MinHash.candidatePairs(sigs, cfg),
      "verify (candidates x encoded x encoded + jaccard kernel)" ->
        Jaccard.verify(MinHash.candidatePairs(sigs, cfg), encoded, cfg.threshold),
      "q16_ngram_jaccard (compiled WordGramSet kernel + PPJoin over 3-gram sets)" -> q("q16_ngram_jaccard"),
      "q20_fingerprint (single-pass MinGramMd5 kernel, no explode/groupBy)" -> q("q20_fingerprint"),
      // the corpus size bounds every band bucket, as q23's doc count does
      "first-collision-band candidates (64x2 oracle config, the q23 generator)" ->
        MinHash.candidatePairs(MinHash.withSignature(encoded, cfg64), cfg64, docCountBound = 1000L),
      "SimHash block candidates (Hamming test in the walk)" -> SimHash.candidatePairs(sigs, cfg),
      "q28_lsh_cosine_top3 (compiled HyperplaneSketch + CosineFloat re-rank)" -> q("q28_lsh_cosine_top3"),
      "winnow candidate pairs (native WinnowFingerprints, the q31a/q31b front-end)" -> SuffixDedup.candidatePairs(
        spark.read.parquet(s"$sf/documents.parquet").selectExpr("doc_id", "lang as group", "text as content"),
        SuffixDedup.SubConfig(k = 16, window = 5, minMatch = 20)),
      "substring dedup (spread docs persisted once: content crosses one shuffle; suffix-automaton LCS verify)" ->
        SuffixDedup.run(
          spark.read.parquet(s"$sf/documents.parquet").selectExpr("doc_id", "lang as group", "text as content"),
          SuffixDedup.SubConfig(k = 16, window = 5, minMatch = 20)),
      "q37_semdedup (SemDeDup: coarse-quantizer assign + within-cluster cosine self-join)" -> q("q37_semdedup"),
      "q40_decontaminate (13-gram eval-overlap: deduped gram explode + semi-join-shaped probe)" ->
        q("q40_decontaminate"),
      "q41_quality_filter (composed gate: one map-side projection, no shuffle)" -> q("q41_quality_filter"),
      "q25b incremental components (delta CC + relabel join of the existing assignment)" ->
        q("q25b_components_incremental"),
      "q42 cluster representatives (doc_id equi-join + window partitioned BY CLUSTER — no global sort)" ->
        q("q42_cluster_representatives"),
      "q43 shard pack (global prefix sum: cached range partition + narrow stamp)" -> q("q43_shard_pack"),
      "q45 vendored flags (distinct-first repo count — mega dup classes cannot skew the agg)" ->
        q("q45_vendored_flags"),
      "streaming near-dup probe (broadcast corpus probe, batch-parity shape)" -> streamProbe
    )
    val md = new StringBuilder("# Physical plans (explain formatted)\n")
    sections.foreach { case (title, df) => md.append(s"\n## $title\n\n```\n${explain(df)}\n```\n") }
    Files.write(Paths.get("PLANS.md"), md.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[dev] wrote PLANS.md (${md.length} chars)")
    spark.stop()
  }
}
