package graft

import graft.dedup._
import graft.streaming.StreamingDedup
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** A stream row: the input_hint shape plus an ingest event time. */
case class StreamDoc(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    event_time: java.sql.Timestamp
)

/** Structured Streaming ingest path: stream-static LSH near-dup, stateful
  * first-seen gate, watermarked ingest stats. The load-bearing invariant is
  * BATCH/STREAM PARITY — every streaming plan, fed the same rows as one
  * batch DataFrame, must produce the identical result — plus semantic spot
  * checks (exact copies land at sim 1.0 against their corpus originals). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = Config() // production defaults: 0.7 threshold, 32x4 LSH

  private def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)

  /** Static corpus state, built once: docs/vocab + exact-class REP encoded
    * sets (the index contract: collapse before LSH) + hot ids + index. */
  private lazy val corpusState = {
    val corpus = Twins.corpusLocal(200).toDF()
    val docs = Pipeline.prepareDocs(corpus, cfg).persist()
    val vocab = Vocabulary.build(docs, cfg).persist()
    val encodedAll = Vocabulary.encode(docs, vocab)
    val encoded = Pipeline.repEncoded(docs, encodedAll).persist()
    val hot = Vocabulary.hotTokenIds(vocab, docs.count(), cfg)
    val index = StreamingDedup.corpusIndex(encoded, cfg, hot).persist()
    (docs, vocab, encoded, hot, index)
  }

  private def streamRows: Seq[StreamDoc] = {
    def c(i: Long) = CorpusGen.file(i, 42L).content
    def near(i: Long) = c(i).split(" ").drop(12).mkString(" ") // ~10% tokens removed
    Seq(
      StreamDoc("new-repo", "a.scala", "c1", CorpusGen.file(0, 42L).lang, c(0), ts(1)),
      StreamDoc("new-repo", "b.scala", "c1", CorpusGen.file(20, 42L).lang, c(20), ts(2)),
      StreamDoc("new-repo", "n.scala", "c1", CorpusGen.file(40, 42L).lang, near(40), ts(3)),
      StreamDoc("new-repo", "x.scala", "c1", "scala", "zqx1 zqx2 zqx3 zqx4 zqx5 zqx6", ts(4)),
      StreamDoc("new-repo", "m.scala", "c2", CorpusGen.file(60, 42L).lang, near(60), ts(65)),
      StreamDoc("new-repo", "e.scala", "c2", CorpusGen.file(80, 42L).lang, c(80), ts(66))
    )
  }

  /** Drive `mkPlan(stream rows)` through a memory-sink streaming query in
    * `batches` micro-batches, hand the running query to `inspect`, and
    * return the sink table. */
  private def runStreamed(
      name: String,
      batches: Seq[Seq[StreamDoc]],
      outputMode: String = "append",
      inspect: StreamingQuery => Unit = _ => ()
  )(mkPlan: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamDoc]
    val q = mkPlan(ms.toDF())
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", tmpDir(s"ck-$name"))
      .start()
    try {
      batches.foreach { b =>
        ms.addData(b)
        q.processAllAvailable()
      }
      inspect(q)
    } finally q.stop()
    spark.table(name)
  }

  /** (path, corpus_doc_id, sim) rows of a near-dup output. */
  private def pairSet(df: DataFrame): Set[(String, Long, Double)] =
    df.select("path", "corpus_doc_id", "sim").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  /** The same near-dup plan forced onto the stream-static join plan. */
  private def joinPlanPairs(in: DataFrame, vocab: DataFrame, encoded: DataFrame, index: DataFrame, c: Config, hot: Array[Int]) =
    pairSet(StreamingDedup.nearDupPlan(in, vocab, encoded, index, c, hot, None, probeMaxBytes = -1L))

  test("near-dup stream == identical plan over one batch, and exact copies verify at 1.0") {
    val (_, vocab, encoded, hot, index) = corpusState
    val rows = streamRows
    def plan(in: DataFrame): DataFrame =
      StreamingDedup.nearDupAgainstCorpus(
        StreamingDedup.prepareStream(in, cfg), vocab, encoded, index, cfg, hot)

    val streamed = runStreamed("nd_stream", Seq(rows.take(3), rows.drop(3)))(plan)
      .select("path", "corpus_doc_id", "sim")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val batch = plan(rows.toDF())
      .select("path", "corpus_doc_id", "sim")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed == batch)
    assert(joinPlanPairs(StreamingDedup.prepareStream(rows.toDF(), cfg), vocab, encoded, index, cfg, hot) == batch)

    // exact copies: sim 1.0 against their originals (and only sims >= 0.7 at all)
    assert(streamed.nonEmpty)
    assert(streamed.forall(_._3 >= cfg.threshold))
    val exactPaths = Set("a.scala", "b.scala", "e.scala")
    exactPaths.foreach { p =>
      assert(streamed.exists(r => r._1 == p && r._3 == 1.0), s"exact copy $p missing sim-1.0 match")
    }
    // the novel doc (no corpus tokens at all) must match nothing
    assert(!streamed.exists(_._1 == "x.scala"))
  }

  test("near-dup parity holds under index bucket capping (maxBucket = 2)") {
    // maxBucket influences neither encode nor hot ids — reuse the shared
    // state and rebuild only the capped index
    val (_, vocab, encoded, hot, _) = corpusState
    val capped = cfg.copy(maxBucket = 2)
    val index = StreamingDedup.corpusIndex(encoded, capped, hot).persist()
    val rows = streamRows
    def plan(in: DataFrame): DataFrame =
      StreamingDedup.nearDupAgainstCorpus(
        StreamingDedup.prepareStream(in, capped), vocab, encoded, index, capped, hot)
    val streamed = runStreamed("nd_capped", Seq(rows))(plan)
      .select("path", "corpus_doc_id", "sim").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = plan(rows.toDF())
      .select("path", "corpus_doc_id", "sim").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(joinPlanPairs(StreamingDedup.prepareStream(rows.toDF(), capped), vocab, encoded, index, capped, hot) == batch)
    // capping caps FAN-OUT, not first-match recall: each exact copy still
    // finds at least one member of its corpus dup class
    Seq("a.scala", "b.scala", "e.scala").foreach { p =>
      assert(streamed.exists(r => r._1 == p && r._3 == 1.0), s"$p lost all matches under capping")
    }
    index.unpersist()
  }

  test("NULL group: known-gate drops the copy, near-dup still matches within the NULL group") {
    // groupKey's single-column path keeps a natural NULL group; the batch
    // pipeline pairs within it (groupBy), so the streaming joins must too —
    // an equi-key on group would silently treat every NULL-group row as novel
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      CodeFile("r", "one.x", "c0", null, base),
      CodeFile("r", "two.x", "c0", null, base + " lambda")
    ).toDF()
    val docs = Pipeline.prepareDocs(corpus, cfg)
    val vocab = Vocabulary.build(docs, cfg)
    val encoded = Vocabulary.encode(docs, vocab)
    val index = StreamingDedup.corpusIndex(encoded, cfg)
    val copy = StreamDoc("s", "copy.x", "c1", null, base, ts(1))
    val nearDup = StreamDoc("s", "near.x", "c1", null, base + " mu", ts(2))
    val prepared = StreamingDedup.prepareStream(Seq(copy, nearDup).toDF(), cfg)
    val kept = StreamingDedup.firstSeen(prepared, knownDocs = Some(docs))
      .select("path").collect().map(_.getString(0)).toSet
    assert(kept == Set("near.x"), "null-safe known gate must drop the byte-identical copy only")
    val matches = StreamingDedup
      .nearDupAgainstCorpus(prepared, vocab, encoded, index, cfg)
      .select("path", "corpus_doc_id", "sim").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(matches.exists(m => m._1 == "copy.x" && m._3 == 1.0), "NULL-group exact copy must match")
    assert(matches.exists(_._1 == "near.x"), "NULL-group near-dup must match")
    assert(joinPlanPairs(prepared, vocab, encoded, index, cfg, Array.empty) == matches)
  }

  test("near-dup micro-batches run no join and no broadcast exchange") {
    val (_, vocab, encoded, hot, index) = corpusState
    val encFn = Some(StreamingDedup.encodeFnFor(vocab))
    val rows = streamRows
    var plan: Option[org.apache.spark.sql.execution.SparkPlan] = None
    val out = runStreamed("nd_shape", Seq(rows.take(3), rows.drop(3)),
      inspect = q => plan = Some(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan)) { in =>
      StreamingDedup.nearDupAgainstCorpus(StreamingDedup.prepareStream(in, cfg), vocab, encoded, index, cfg, hot, encFn)
    }
    assert(pairSet(out).nonEmpty)
    val p = plan.get
    // a stateless micro-batch plans under AQE: walk its query stages too
    val nodes = new AdaptiveSparkPlanHelper {}
    assert(nodes.collect(p) { case j: BaseJoinExec => j }.isEmpty, s"join in the micro-batch plan:\n$p")
    assert(nodes.collect(p) { case b: BroadcastExchangeExec => b }.isEmpty, s"broadcast exchange in the micro-batch plan:\n$p")
  }

  test("near-dup micro-batches tokenize and encode each row once") {
    // a size filter pushed below the projection that defines `tokens` would
    // evaluate the tokenizer and the encode UDF in the Filter and again in
    // the Project
    val (_, vocab, encoded, hot, index) = corpusState
    val encFn = Some(StreamingDedup.encodeFnFor(vocab))
    var plan: Option[org.apache.spark.sql.execution.SparkPlan] = None
    val out = runStreamed("nd_once", Seq(streamRows.take(3), streamRows.drop(3)),
      inspect = q => plan = Some(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan)) { in =>
      StreamingDedup.nearDupAgainstCorpus(StreamingDedup.prepareStream(in, cfg), vocab, encoded, index, cfg, hot, encFn)
    }
    assert(pairSet(out).nonEmpty)
    val p = plan.get
    assert(kernelCalls(p, TokenSetKernel.getClass) == 1, s"tokenizer calls per row in:\n$p")
    // the encode UDF and the probe UDF
    assert(exprCount(p) { case _: ScalaUDF => } == 2, s"UDF evaluations per row in:\n$p")
  }

  test("the near-dup plan over a batch frame copies no kernel call into a second operator (probe and join plans)") {
    val (_, vocab, encoded, hot, index) = corpusState
    assert(hot.nonEmpty, "the signature input would not call the sorted difference")
    // a parquet frame: over a local relation the optimizer evaluates the
    // projections at planning time
    val dir = s"${tmpDir("nd-batch")}/in"
    streamRows.toDF().write.parquet(dir)
    val in = StreamingDedup.prepareStream(spark.read.parquet(dir), cfg)
    for (probeMaxBytes <- Seq(StreamingDedup.ProbeMaxBytes, -1L)) {
      val out = StreamingDedup.nearDupPlan(in, vocab, encoded, index, cfg, hot, None, probeMaxBytes)
      assert(out.collect().nonEmpty)
      val p = out.queryExecution.executedPlan
      assert(kernelCalls(p, classOf[HashKernels.SortedDiffKernel]) > 0, s"no sorted difference in:\n$p")
      val repeated = repeatedKernelCalls(p)
      assert(repeated.isEmpty, s"kernel calls held by more than one operator: ${repeated.mkString("; ")} in:\n$p")
    }
  }

  test("a second near-dup plan over the same index frame starts no Spark job") {
    val (_, vocab, encoded, hot, index) = corpusState
    val encFn = Some(StreamingDedup.encodeFnFor(vocab))
    val in = StreamingDedup.prepareStream(streamRows.toDF(), cfg)
    def plan(): DataFrame = StreamingDedup.nearDupAgainstCorpus(in, vocab, encoded, index, cfg, hot, encFn)
    plan() // builds the probe, unless an earlier plan over this index did
    val sc = spark.sparkContext
    val jobGroups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("probe-memo-second-plan", "second near-dup plan")
      plan()
      sc.setJobGroup("probe-memo-action", "first action")
      assert(spark.range(3).count() == 3)
      // listener events arrive in order: once the action's job is seen,
      // every job submitted before it has been seen too
      eventually(timeout(Span(30, Seconds))) { assert(jobGroups.contains("probe-memo-action")) }
      assert(!jobGroups.asScala.exists(_ == "probe-memo-second-plan"), "the second plan ran a job")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("firstSeen drops corpus-known hashes and within-stream repeats, keeps the rest") {
    val (docs, _, _, _, _) = corpusState
    val fresh = StreamDoc("s", "fresh.scala", "c1", "scala", "alpha beta gamma delta", ts(1))
    val corpusDup = StreamDoc("s", "dup.scala", "c1", CorpusGen.file(0, 42L).lang, CorpusGen.file(0, 42L).content, ts(2))
    val freshAgain = fresh.copy(path = "fresh2.scala", event_time = ts(100))
    val other = StreamDoc("s", "other.scala", "c2", "scala", "epsilon zeta eta theta", ts(101))
    val out = runStreamed("first_seen", Seq(Seq(fresh, corpusDup), Seq(freshAgain, other))) { in =>
      StreamingDedup.firstSeen(
        StreamingDedup.prepareStream(in, cfg),
        knownDocs = Some(docs)
      )
    }
    val paths = out.select("path").collect().map(_.getString(0)).toSet
    assert(paths == Set("fresh.scala", "other.scala"))
  }

  test("ingestStats: per-window per-group counts and bytes") {
    val rows = streamRows // 4 rows in [ts 1..4], 2 rows in [ts 65..66]
    val out = runStreamed("ingest_stats", Seq(rows.take(4), rows.drop(4)), outputMode = "complete") { in =>
      StreamingDedup.ingestStats(
        StreamingDedup.prepareStream(in, cfg), "event_time", "1 minute", "30 seconds")
    }
    val byWindow = out
      .groupBy("window_start")
      .agg(sum("n_files").as("files"))
      .collect()
      .map(r => r.getLong(1))
      .sorted
      .toSeq
    // the novel doc survives prepareStream (its tokens exist pre-encode), so
    // window 1 holds 4 files, window 2 the remaining 2
    assert(byWindow == Seq(2L, 4L).sorted)
    val total = out.agg(sum("n_bytes")).head().getLong(0)
    val expected = streamRows.map(_.content.getBytes("UTF-8").length.toLong).sum
    assert(total == expected)
  }

  test("streamFile plants the documented ingest mix (CLI --stream)") {
    val n = 2000L
    // kind 0: byte-identical re-upload of the sampled corpus file
    val re = CorpusGen.streamFile(4, n)
    assert(re.content == CorpusGen.file((4 * 7919L) % n, 42L).content)
    assert(re.repo.startsWith("ingest"))
    // kind 1: ~90% of a corpus BASE file's tokens + an i-unique marker; same
    // lang (group) as the base, and distinct bytes across stream indices
    // that sample the same base
    val near = CorpusGen.streamFile(1, n)
    val b = ((1 * 104729L) % (n / 10L)) * 10L
    val base = CorpusGen.file(b, 42L)
    assert(near.lang == base.lang)
    val baseSet = base.content.split(" ").toSet
    val nearSet = near.content.split(" ").toSet
    val j = (baseSet & nearSet).size.toDouble / (baseSet | nearSet).size
    assert(j > 0.7, s"planted near-dup must clear the default threshold, got $j")
    assert(nearSet.contains("zsnear1"))
    // kind 3: within-stream duplicate of file i-1 under a different path
    val novel = CorpusGen.streamFile(2, n)
    val dup = CorpusGen.streamFile(3, n)
    assert(dup.content == novel.content && dup.path != novel.path)
  }
}
