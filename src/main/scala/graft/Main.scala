package graft

import graft.dedup._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry point: run the near-duplicate pipeline over either the
  * deterministic synthetic corpus (`--gen N`) or a parquet table of
  * (repo, path, commit, lang, content) rows (`--input PATH`), checkpointing
  * every stage under `--work DIR`.
  *
  * Usage:
  *   graft.Main --gen 10000 --work /tmp/graft-work [--threshold 0.7]
  *              [--shingle-k 1] [--group-col lang] [--cpus 8]
  *              [--topn 3] [--substring true] [--stream 2000]
  *              [--collapse-versions true] [--vendored-min-repos 8]
  *   graft.Main --input /data/files.parquet --work /data/graft-work
  *
  * `--stream M` additionally replays a deterministic ingest stream of M new
  * files (planted mix: [[CorpusGen.streamFile]]) against the corpus state
  * just built, through the Structured Streaming front door
  * ([[graft.streaming.StreamingDedup]]): first-seen gate, broadcast-probe
  * LSH near-dup, windowed ingest stats. Meaningful with `--gen` — the
  * stream's re-upload leg samples the generated corpus.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args
      .sliding(2, 2)
      .collect { case Array(k, v) => k -> v }
      .toMap
    val cpus = opts.getOrElse("--cpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val work = opts.getOrElse("--work", "/tmp/graft-work")

    val spark = SparkSession
      .builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-dedup")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = Config(
      groupCols = opts.getOrElse("--group-col", "lang").split(',').toSeq,
      shingleK = opts.getOrElse("--shingle-k", "1").toInt,
      threshold = opts.getOrElse("--threshold", "0.7").toDouble,
      topN = opts.get("--topn").map(_.toInt),
      substringDedup = opts.get("--substring").exists(_.toBoolean),
      collapseVersions = opts.get("--collapse-versions").exists(_.toBoolean),
      vendoredMinRepos = opts.get("--vendored-min-repos").map(_.toLong).getOrElse(0L)
    )

    val input = opts.get("--input") match {
      case Some(path) => spark.read.parquet(path)
      case None =>
        val n = opts.getOrElse("--gen", "1000").toLong
        CorpusGen.corpus(spark, n).toDF()
    }

    val t0 = System.nanoTime()
    val t = Pipeline.run(spark, input, cfg, work)
    val stages = Seq(
      "docs" -> t.docs,
      "vocab" -> t.vocab,
      "encoded" -> t.encoded,
      "signatures" -> t.signatures,
      "candidates" -> t.candidates,
      "pairs" -> t.pairs,
      "components" -> t.components
    ) ++ t.substring.map("substring" -> _) ++ t.topn.map("topn" -> _)
    stages.foreach { case (name, df) => println(f"$name%-12s ${df.count()}%10d rows") }
    val wall = (System.nanoTime() - t0) / 1e9
    val nDocs = t.docs.count()
    println(f"wall ${wall}%.1f s  throughput ${nDocs / wall}%.0f files/sec")

    println("\ntop pairs per group:")
    TopN.globalPerGroup(t.pairs, 3).orderBy(col("group"), desc("sim")).show(12, truncate = false)
    println("largest clusters:")
    t.components
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("cluster_id"))
      .show(5)

    opts.get("--stream").map(_.toLong).filter(_ > 0).foreach { m =>
      val n = opts.getOrElse("--gen", "1000").toLong
      streamIngest(spark, t, cfg, work, n, m)
    }
    spark.stop()
  }

  /** Drive the Structured Streaming ingest path end-to-end: write `m`
    * deterministic stream files ([[CorpusGen.streamFile]]) as parquet
    * micro-batch input, run the first-seen gate and the broadcast-probe
    * near-dup against the corpus state just built, sink to parquet
    * under `$work/stream-out`, and print a summary plus a stream-vs-batch
    * parity check (the module's load-bearing invariant). */
  private def streamIngest(
      spark: SparkSession,
      t: Pipeline.Tables,
      cfg: Config,
      work: String,
      n: Long,
      m: Long
  ): Unit = {
    import spark.implicits._
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.streaming.Trigger

    // corpus state: exact-class REP encoded sets + hot signature-token ids +
    // LSH band index (the signatures-stage inputs, via the shared helper) +
    // ONE broadcast encode dictionary shared by every probe plan below.
    // Both plans below (the stream and its parity check) get the SAME
    // `encodedReps` and `index` frames: the broadcast corpus probe is
    // memoized on them, so it is collected and broadcast once.
    // Persisted skinny known-keys frame: the gate's stream-static anti-join
    // re-evaluates its static subtree per micro-batch, so the corpus side
    // must be a cached scan, not a recomputed lineage.
    val encodedReps = Pipeline.repEncoded(t.docs, t.encoded).persist()
    val nDocs = Checkpoints.stageRowCount(spark, s"$work/docs")
    val hot = Vocabulary.hotTokenIds(t.vocab, nDocs, cfg)
    val index = StreamingDedup.corpusIndex(encodedReps, cfg, hot).persist()
    val knownKeys = t.docs.select("group", "content_sha").distinct().persist()
    val encFn = Some(StreamingDedup.encodeFnFor(t.vocab))
    println(s"\nstream: index ${index.count()} band entries over ${encodedReps.count()} rep docs")

    val inDir = s"$work/stream-in"
    val outDir = s"$work/stream-out"
    // per-run scratch: unlike the resumable batch stages, the stream sinks
    // and state checkpoints are NOT config-keyed — stale state from a prior
    // --stream run (other M, other threshold) would contaminate the counts
    // and the parity verdict
    val fs = new org.apache.hadoop.fs.Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(inDir, outDir, s"$work/stream-ck").foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    spark
      .range(m)
      .map { i =>
        val f = CorpusGen.streamFile(i, n, cfg.seed)
        (f.repo, f.path, f.commit, f.lang, f.content, new java.sql.Timestamp(1700000000000L + i * 1000L))
      }
      .toDF("repo", "path", "commit", "lang", "content", "event_time")
      .repartition(8)
      .write
      .mode("overwrite")
      .parquet(inDir)

    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(inDir)
    val prepared = StreamingDedup.prepareStream(stream, cfg)
    // the round-robin input files are event-time-disordered across the WHOLE
    // replay (each micro-batch sees near-max event times), so the gate's
    // watermark horizon must cover the full m-second span or later batches
    // get dropped as late; a real deployment sizes this to its ingest
    // disorder instead
    val fresh = StreamingDedup.firstSeen(prepared, Some(knownKeys), Some(("event_time", s"${m + 120} seconds")))
    val pairs =
      StreamingDedup.nearDupAgainstCorpus(fresh, t.vocab, encodedReps, index, cfg, hot, encFn)

    val t0 = System.nanoTime()
    val queries = Seq(
      fresh
        .drop("tokens") // the accepted-files sink wants lineage, not payload
        .writeStream
        .format("parquet")
        .option("path", s"$outDir/accepted")
        .option("checkpointLocation", s"$work/stream-ck/accepted")
        .trigger(Trigger.AvailableNow())
        .start(),
      pairs.writeStream
        .format("parquet")
        .option("path", s"$outDir/pairs")
        .option("checkpointLocation", s"$work/stream-ck/pairs")
        .trigger(Trigger.AvailableNow())
        .start(),
      StreamingDedup
        .ingestStats(prepared, "event_time", "1 minute", "2 minutes")
        .writeStream
        .format("memory")
        .queryName("ingest_stats")
        .outputMode("complete")
        .option("checkpointLocation", s"$work/stream-ck/stats")
        .trigger(Trigger.AvailableNow())
        .start()
    )
    queries.foreach(_.awaitTermination())
    val wall = (System.nanoTime() - t0) / 1e9

    val accepted = spark.read.parquet(s"$outDir/accepted")
    val outPairs = spark.read.parquet(s"$outDir/pairs")
    println(f"stream: $m%d files replayed in $wall%.1f s (${m / wall}%.0f files/sec incl. micro-batch overhead)")
    println(s"stream: ${accepted.count()} first-seen files accepted; ${outPairs.count()} near-dup pairs vs corpus")

    // parity: the identical plan over the same rows as ONE batch frame must
    // produce the identical pair set (keyed on content_sha — the within-
    // stream dup leg's dropDuplicates survivor is arbitrary by path)
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
    println(s"stream/batch parity: ${if (diff == 0) "OK" else s"MISMATCH ($diff rows)"}")

    println("near-dup sims vs corpus (top 5):")
    outPairs.orderBy(desc("sim"), asc("path")).show(5, truncate = false)
    println("windowed ingest stats:")
    spark.table("ingest_stats").orderBy("window_start", "group").show(10, truncate = false)

    // fold the accepted batch into the corpus clustering INCREMENTALLY
    // (Components.merge): ingest ids continue the dense corpus sequence,
    // near-dup pairs anchor ingest docs to corpus reps, pairless accepted
    // docs become singletons. No corpus-wide re-clustering.
    val reg = new CacheRegistry
    val maxId = t.docs.agg(max(col("doc_id"))).head().getLong(0)
    val ingestIds = reg.persist(
      Ids
        .assignDense(accepted.select("repo", "path", "commit"), Seq("repo", "path", "commit"), "rank", reg)
        .withColumn("doc_id", col("rank") + lit(maxId + 1L))
        .drop("rank")
    )
    val newEdges = outPairs
      .join(ingestIds, Seq("repo", "path", "commit"))
      .select(col("doc_id").as("a"), col("corpus_doc_id").as("b"))
    val updated = Components.merge(t.components, newEdges, ingestIds.select("doc_id"), reg = reg)
    val before = t.components.count()
    val after = updated.count()
    val absorbed = updated
      .join(ingestIds.select("doc_id"), "doc_id")
      .filter(col("cluster_id") <= maxId) // joined an EXISTING cluster
      .count()
    val ok = after == before + accepted.count()
    println(
      s"stream: components merged incrementally: $before -> $after assignments " +
        s"($absorbed ingest docs absorbed into existing clusters); " +
        s"coverage ${if (ok) "OK" else "MISMATCH"}"
    )
    reg.release()
    index.unpersist()
    encodedReps.unpersist()
    knownKeys.unpersist()
  }
}
