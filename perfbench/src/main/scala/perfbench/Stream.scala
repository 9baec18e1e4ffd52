package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.dedup._
import graft.streaming.StreamingDedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

/** `stream_ingest`: the corpus state is built during set-up; each run
  * replays the `CorpusGen.streamFile` mix through `firstSeen` +
  * `nearDupAgainstCorpus` as one `AvailableNow` query, one input file per
  * micro-batch. */
final class Stream(ctx: Ctx, nCorpus: Long, nStream: Long, nFiles: Int) {
  import Stream.State
  import ctx._
  import spark.implicits._

  private val cfg = Config()
  private val streamIn = scratch.resolve("stream-in")
  private val pairKey = Seq("group", "content_sha", "corpus_doc_id", "sim")

  /** Set-up: input generation, then the corpus state. */
  private def setup(): State = {
    phase("inputs")
    writeInputs()
    phase("corpus state")
    val st = corpusState()
    phase("warm-up")
    st
  }

  private def writeInputs(): Unit = {
    val (n, m, s) = (nCorpus, nStream, seed)
    spark
      .range(m)
      .map { i =>
        val f = CorpusGen.streamFile(i, n, s)
        (f.repo, f.path, f.commit, f.lang, f.content, new java.sql.Timestamp(1700000000000L + i * 1000L))
      }
      .toDF("repo", "path", "commit", "lang", "content", "event_time")
      .repartition(nFiles)
      .write
      .mode("overwrite")
      .parquet(streamIn.toString)
  }

  private def corpusState(): State = {
    // The corpus state the engine's streaming front door documents: the
    // tables of Pipeline.run's docs, vocab and encoded stages (the stream
    // reads nothing else; parquet checkpoint writes are measured by the batch
    // workloads, so here they stay in memory), then reps, index, known keys.
    val reg = new CacheRegistry
    val docs = Pipeline.prepareDocs(CorpusGen.corpus(spark, nCorpus, seed).toDF(), cfg, reg).persist()
    val nDocs = docs.count()
    reg.release()
    val (vocabPlan, vocabRows) = Vocabulary.buildWithCount(docs, cfg, reg)
    val vocab = vocabPlan.persist()
    vocab.count()
    reg.release()
    val encoded = Vocabulary.encode(docs, vocab, Some(vocabRows), cfg.broadcastMaxVocab)
    val encodedReps = Pipeline.repEncoded(docs, encoded).persist()
    val hot = Vocabulary.hotTokenIds(vocab, nDocs, cfg)
    val index = StreamingDedup.corpusIndex(encodedReps, cfg, hot).persist()
    val knownKeys = docs.select("group", "content_sha").distinct().persist()
    encodedReps.count(); index.count(); knownKeys.count()
    State(docs, vocab, encodedReps, hot, index, knownKeys, Some(StreamingDedup.encodeFnFor(vocab)))
  }

  private def staticIn: DataFrame = spark.read.parquet(streamIn.toString)

  /** One replay of the whole stream into `out`, `filesPerBatch` input files
    * per micro-batch; returns the query's micro-batch progress reports. */
  private def replay(st: State, out: Path, filesPerBatch: Int = 1): Seq[StreamingQueryProgress] = {
    val stream = spark.readStream.schema(staticIn.schema).option("maxFilesPerTrigger", filesPerBatch).parquet(streamIn.toString)
    // input files are event-time-disordered across the whole replay, so the
    // gate's watermark horizon covers its full span
    val fresh = StreamingDedup.firstSeen(
      StreamingDedup.prepareStream(stream, cfg),
      Some(st.knownKeys),
      Some(("event_time", s"${nStream + 120} seconds"))
    )
    val pairs = StreamingDedup.nearDupAgainstCorpus(fresh, st.vocab, st.encodedReps, st.index, cfg, st.hot, st.encFn)
    val q = pairs.writeStream
      .format("parquet")
      .option("path", out.resolve("pairs").toString)
      .option("checkpointLocation", out.resolve("ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  private def pairsOf(out: Path): DataFrame = spark.read.parquet(out.resolve("pairs").toString)

  /** Recall and sampled sims against the oracle, plus stream/batch parity. */
  private def check(st: State, out: Path): (Double, Seq[String]) = {
    val corpus = (0L until nCorpus).map(i => CorpusGen.file(i, seed))
    val oracle = new Oracle(corpus, cfg.minDf)
    val docIdx: Map[Long, Int] = st.docs.select("doc_id", "path").collect()
      .map(r => r.getLong(0) -> Oracle.pathIndex(r.getString(1))).toMap
    // corpus side of a pair: its exact-dup class, keyed as the engine keys it
    val classOf = (i: Int) => (corpus(i).lang, corpus(i).content)
    val streamSet = (i: Int) => oracle.encode(Oracle.tokens(CorpusGen.streamFile(i.toLong, nCorpus, seed).content))
    // planted near-dups: stream file i % 4 == 1 copies base b minus every
    // 10th token; its corpus relatives are b's class members b..b+3
    val truth = (0L until nStream).filter(_ % 4 == 1).flatMap { i =>
      val b = ((i * 104729L) % math.max(2L, nCorpus / 10L)) * 10L
      val s = streamSet(i.toInt)
      (b until math.min(b + 4, nCorpus)).map(_.toInt)
        .filter(c => oracle.encoded(c).nonEmpty && Oracle.jaccard6(s, oracle.encoded(c)) >= cfg.threshold)
        .map(c => (i.toInt, classOf(c)))
        .distinct
    }
    val rows = pairsOf(out).select("path", "corpus_doc_id", "sim").collect()
    val emitted = rows.map(r => (Oracle.pathIndex(r.getString(0)), classOf(docIdx(r.getLong(1))))).toSet
    val found = truth.count(emitted.contains)
    val recall = if (truth.isEmpty) 1.0 else found.toDouble / truth.size
    val rnd = new scala.util.Random(seed)
    val sample = if (rows.isEmpty) Seq.empty else Seq.fill(math.min(200, rows.length))(rows(rnd.nextInt(rows.length)))
    val wrong = sample.filter { r =>
      Oracle.jaccard6(streamSet(Oracle.pathIndex(r.getString(0))), oracle.encoded(docIdx(r.getLong(1)))) != r.getDouble(2)
    }
    // the same plan over the same rows as one batch frame must emit the same pairs
    val batchPairs = StreamingDedup.nearDupAgainstCorpus(
      StreamingDedup.firstSeen(StreamingDedup.prepareStream(staticIn, cfg), Some(st.knownKeys), None),
      st.vocab, st.encodedReps, st.index, cfg, st.hot, st.encFn
    ).select(pairKey.map(col): _*)
    val streamed = pairsOf(out).select(pairKey.map(col): _*)
    val diff = streamed.except(batchPairs).count() + batchPairs.except(streamed).count()
    println(f"check stream_ingest recall: $found/${truth.size} = $recall%.6f (emitted ${rows.length})")
    println(s"check stream_ingest sampled sims: ${sample.size - wrong.size}/${sample.size} equal the oracle's")
    println(s"check stream_ingest stream/batch parity: ${if (diff == 0) "OK" else s"MISMATCH ($diff rows)"}")
    val errors =
      (if (recall < 0.99) Seq(f"recall $recall%.6f < 0.99") else Nil) ++
        (if (diff != 0) Seq(s"stream/batch parity: $diff rows differ") else Nil) ++
        wrong.take(3).map(r => s"pair (${r.getString(0)}, ${r.getLong(1)}) sim ${r.getDouble(2)} != oracle")
    (recall, errors)
  }

  private def inputBytes: Double =
    (0L until nStream).map(i => CorpusGen.streamFile(i, nCorpus, seed).content.getBytes("UTF-8").length.toDouble).sum

  def measure(): Result = {
    val st = setup()
    // warm-up: the same plan over the whole stream in one micro-batch; a
    // stream runs for hours, so its users do not wait for a cold JVM
    replay(st, scratch.resolve("replay-0"), nFiles)
    val setupS = sinceJvmStart()
    phase("measure")
    val walls, shuffle, spill, ckpt, batches = mutable.ArrayBuffer.empty[Double]
    val sums = mutable.ArrayBuffer.empty[Long]
    var failed = 0
    var k = 0
    val t0 = System.nanoTime()
    while (k == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      k += 1
      val out = scratch.resolve(s"replay-$k")
      try {
        val (progress, w) = Window.time(replay(st, out))
        val u = log.usage(w.startMs, w.endMs, w.wallS)
        walls += w.wallS; shuffle += u.shuffleMb; spill += u.spillMb
        ckpt += Util.bytesUnder(out).toDouble
        batches ++= progress.map(_.durationMs.get("triggerExecution").longValue / 1000.0)
        sums += Util.checksum(pairsOf(out), pairKey)
      } catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] replay $k failed: $e") }
      if (k > 1) Util.delete(scratch.resolve(s"replay-${k - 1}"))
    }
    if (walls.isEmpty) return Result(false, k, k, Map.empty)
    phase("checks")

    val (recall, errors) = check(st, scratch.resolve(s"replay-$k"))
    val mismatched = checksums.verify("stream_ingest", Util.checksum(pairsOf(scratch.resolve("replay-0")), pairKey) +: sums.toSeq)
    errors.foreach(e => println(s"check FAILED: $e"))
    failed += (if (errors.nonEmpty) sums.size else math.min(mismatched, sums.size))
    println(s"replays ${walls.size} (walls ${walls.map(w => f"$w%.3f").mkString(", ")} s); " +
      s"micro-batches ${batches.size} (${batches.map(b => f"$b%.3f").mkString(", ")} s)")
    Result(
      correct = failed == 0,
      attempted = k,
      failed = failed,
      values = Map(
        "files_per_s" -> Util.median(walls.map(nStream / _).toSeq),
        "batch_p50_s" -> Util.quantile(batches.toSeq, 0.5),
        "batch_p90_s" -> Util.quantile(batches.toSeq, 0.9),
        "dup_pair_recall" -> recall,
        "shuffle_mb" -> Util.median(shuffle.toSeq),
        "spill_mb" -> Util.median(spill.toSeq),
        "ckpt_bytes_per_input_byte" -> Util.median(ckpt.toSeq) / inputBytes,
        "setup_s" -> setupS,
        "failed_frac" -> failed.toDouble / k
      )
    )
  }

  /** Output rows of the join that brings the corpus sets in: the candidate
    * pairs that reach exact verification. */
  private object VerifiedCandidates extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): Option[Long] =
      collect(plan) { case j: BaseJoinExec if j.output.exists(_.name == "c_tokens") => j }
        .headOption
        .flatMap(_.metrics.get("numOutputRows"))
        .map(_.value)
  }

  def trace(): Result = {
    val st = setup()
    replay(st, scratch.resolve("replay-0"), nFiles)
    val out = scratch.resolve("replay-1")
    val (progress, w) = Window.time(replay(st, out))
    log.usage(w.startMs, w.endMs, w.wallS)
    val (_, errors) = check(st, out)
    errors.foreach(e => println(s"check FAILED: $e"))
    val ok = errors.isEmpty && checksums.verify("stream_ingest", Seq(Util.checksum(pairsOf(out), pairKey))) == 0
    val durations = (key: String) => progress.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L) / 1000.0).sum

    // the gate's output, materialized untraced: the probe layer's input
    val gateOut = scratch.resolve("prep-gate")
    StreamingDedup.firstSeen(StreamingDedup.prepareStream(staticIn, cfg), Some(st.knownKeys), None)
      .write.mode("overwrite").parquet(gateOut.toString)
    val gate = spark.read.parquet(gateOut.toString)

    var lastPlan: Option[SparkPlan] = None
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        lastPlan = Some(qe.executedPlan)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val layers: Seq[(String, () => Long)] = Seq(
      "encode" -> (() => {
        val f = StreamingDedup.encodeFnFor(st.vocab)
        Util.noop(gate.select(f(col("tokens")).as("tokens")))
      }),
      "stream_gate" -> (() =>
        Util.noop(StreamingDedup.firstSeen(StreamingDedup.prepareStream(staticIn, cfg), Some(st.knownKeys), None))),
      "stream_probe" -> (() =>
        Util.noop(StreamingDedup.nearDupAgainstCorpus(gate, st.vocab, st.encodedReps, st.index, cfg, st.hot, st.encFn)))
    )
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var replays = 0
    val t0 = System.nanoTime()
    while (replays == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      replays += 1
      var selfSum = 0.0
      layers.foreach { case (name, run) =>
        val (n, lw) = Window.time(run())
        val u = log.usage(lw.startMs, lw.endMs, lw.wallS)
        selfSum += u.wallS
        Report.layerMetrics(name, u, n).foreach { case (k, v) => add(k, v) }
        if (name == "stream_probe")
          lastPlan.flatMap(VerifiedCandidates(_)).foreach(c => add("stream_probe.candidates_per_pair", c / math.max(1.0, n.toDouble)))
      }
      add("unattributed_s", w.wallS - selfSum)
    }
    spark.listenerManager.unregister(qel)
    val med = samples.map { case (k, v) => k -> Util.median(v.toSeq) }.toMap
    println(s"traced: $replays replay(s); untraced replay wall ${w.wallS} s over ${progress.size} micro-batches")
    Result(ok, 1, if (ok) 0 else 1, med ++ Map("stream.plan_s" -> durations("queryPlanning"), "stream.add_batch_s" -> durations("addBatch")))
  }
}

object Stream {
  /** The corpus state a stream probes, built once in set-up. */
  private final case class State(
      docs: DataFrame,
      vocab: DataFrame,
      encodedReps: DataFrame,
      hot: Array[Int],
      index: DataFrame,
      knownKeys: DataFrame,
      encFn: Option[Column => Column]
  )
}
