package graft.streaming

import graft.dedup._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental (Structured Streaming) front door for the dedup engine: new
  * files arrive as a stream and are deduplicated AGAINST the existing corpus
  * without re-running the batch pipeline.
  *
  * The reference is strictly batch (code/main_script.py:297-329 re-runs the
  * whole five-stage file pipeline per corpus), so this module has no
  * reference twin — it is the ingest path a 10^12-file corpus needs: the
  * batch pipeline establishes the corpus state (vocabulary, encoded sets,
  * LSH band index), and each micro-batch of NEW files probes that state.
  *
  * Design constraints that shaped every function here:
  *  - STATELESS WHERE POSSIBLE. Tokenize / encode / sign are narrow
  *    per-row expressions; candidate generation and exact verification are
  *    one more: a probe of the broadcast [[CorpusProbe]] (capped band index
  *    + rep sets), built once per corpus state, so a micro-batch runs no
  *    exchange and no join against the corpus (corpora too large to
  *    broadcast take a stream-static join plan instead; no stream-stream
  *    join, no watermark bookkeeping in either). The near-dup path is
  *    entirely STATELESS; the module's only
  *    stateful operators are [[firstSeen]]'s within-stream dropDuplicates
  *    (optional, watermark-boundable) and [[ingestStats]]' windowed
  *    aggregation (state = one row per open window per group).
  *  - APPEND-MODE SAFE. No aggregation sits on the stream side of the
  *    near-dup path, so results emit as soon as a micro-batch completes —
  *    the latency an ingest gate actually wants.
  *  - BATCH/STREAM PARITY. Every function is plan-shape agnostic: applied
  *    to a batch DataFrame of the same rows it produces the identical
  *    result (asserted by StreamingSpec), so the ingest gate can be
  *    backfilled or replayed as a batch job with zero code changes.
  *
  * Encoding uses the static corpus vocabulary via the broadcast
  * [[CompactDict]] ([[Vocabulary.broadcastEncodeFn]]) — tokens the corpus
  * has never seen carry no candidate signal against corpus docs by
  * definition (df = 0 there), and dropping them mirrors the batch min-df
  * prune, so corpus-relative similarities keep reference semantics.
  */
object StreamingDedup {

  /** Narrow stage-1 over a (possibly streaming) input of the input_hint
    * shape (repo, path, commit, lang, content) [+ passthrough columns]:
    * sha256 lineage, byte count, reference-semantics token set, folded
    * group key. No dense doc ids — id assignment is a global sort, a batch
    * concern; stream rows are identified by (repo, path, commit) +
    * content_sha. */
  def prepareStream(input: DataFrame, cfg: Config): DataFrame =
    input
      .withColumn("content_sha", sha2(col("content"), 256))
      .withColumn("n_bytes", octet_length(col("content")))
      .withColumn("tokens", Tokenize.tokenSet(col("content"), cfg.shingleK))
      .withColumn("group", Pipeline.groupKey(cfg))
      .filter(size(col("tokens")) > 0)
      .drop("content")

  /** Exact-dup gate: keep only rows whose (group, content hash) is NEW —
    * absent from the static corpus (stream-static left_anti) and not seen
    * earlier in the stream (stateful dropDuplicates per (group, sha)).
    * Both legs key on (group, content_sha), exactly the batch pipeline's
    * exact-class key ([[Pipeline.exactClassMap]]): the same bytes under a
    * DIFFERENT group are a distinct doc there, so they pass here too. The
    * group comparison is null-safe — groupKey's single-column path keeps a
    * natural NULL group, and an equi-join key would silently pass every
    * NULL-group row as "new".
    *
    * State is one entry per distinct surviving key. For bounded state on
    * unbounded streams pass `watermark = Some((eventTimeCol, delay))`:
    * dropDuplicatesWithinWatermark then expires entries older than the
    * delay — correct whenever re-uploads of the same bytes arrive within
    * the watermark horizon (the common ingest pattern).
    *
    * `knownDocs`: any frame with (group, content_sha) — the pipeline's docs
    * stage checkpoint qualifies as-is. */
  def firstSeen(
      prepared: DataFrame,
      knownDocs: Option[DataFrame] = None,
      watermark: Option[(String, String)] = None
  ): DataFrame = {
    val fresh = knownDocs match {
      case Some(k) =>
        // no distinct(): a left_anti's right side needs no dedup, and a
        // distinct here would re-shuffle the whole corpus on EVERY
        // micro-batch (stream-static joins re-evaluate the static subtree
        // per batch). On big corpora pass a persisted skinny
        // (group, content_sha) frame so the per-batch static cost is a
        // cached scan.
        val known = k.select(col("group").as("k_group"), col("content_sha").as("k_sha"))
        prepared.join(
          known,
          col("group") <=> col("k_group") && col("content_sha") === col("k_sha"),
          "left_anti"
        )
      case None => prepared
    }
    watermark match {
      case Some((tsCol, delay)) =>
        fresh.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark("group", "content_sha")
      case None => fresh.dropDuplicates("group", "content_sha")
    }
  }

  /** The static corpus's LSH probe index, built ONCE batch-side from the
    * pipeline's encoded table: one skinny row per (group, band, band_hash,
    * corpus doc), carrying the doc's full band-hash array for the
    * first-collision dedup trick (below).
    *
    * Feed it exact-class REPRESENTATIVES — `encoded` joined to the rep rows
    * of [[Pipeline.exactClassMap]] (`doc_id === rep_id`), exactly what the
    * batch signatures stage does. Indexing every member of an exact-dup
    * class re-creates the mega-class hot-bucket hazard the batch pipeline
    * collapses away (a 100k-copy boilerplate file fills every one of its
    * buckets with identical entries, crowding DISTINCT docs past the cap
    * and paying up to maxBucket identical verifies per probe); matches
    * against a rep expand to class members with the same classMap join as
    * [[Pipeline.expandExactClasses]].
    *
    * Hot buckets: a boilerplate band hash shared by B corpus docs fans
    * every colliding stream row out B ways — the stream-static analogue of
    * the batch straggler [[Config.maxBucket]] guards. The cap here keeps
    * the `maxBucket` smallest doc ids per bucket and NULLS the dropped
    * bands in the carried array (`c_bhs`), so every reader of `c_bhs` (the
    * [[CorpusProbe]] build, the join plan's first-collision filter) sees
    * exactly what the index contains — a capped-away first band silently
    * defers to the doc's next indexed collision instead of dropping the
    * pair. Same recall argument
    * as batch chain-linking: a true near-dup pair agrees on ~`bands`
    * independent bands, and oversized buckets are boilerplate-dominated.
    * `hotTokenIds` (the max-df signature cap, [[Vocabulary.hotTokenIds]])
    * must be the SAME array used for the stream side so band hashes match. */
  def corpusIndex(encoded: DataFrame, cfg: Config, hotTokenIds: Array[Int] = Array.empty): DataFrame = {
    val sigIn =
      if (hotTokenIds.isEmpty) encoded
      else encoded.withColumn("tokens", ArrayExceptSorted(col("tokens"), hotTokenIds)).filter(size(col("tokens")) > 0)
    val rows = sigIn.select(
      col("group"),
      col("doc_id").as("c_doc_id"),
      posexplode(BandHashes(MinHashSig(col("tokens"), cfg), cfg)).as(Seq("band", "band_hash"))
    )
    val w = Window.partitionBy("group", "band", "band_hash").orderBy("c_doc_id")
    val kept = rows
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cfg.maxBucket)
      .drop("rk")
    // rebuild the per-doc band array with capped-away bands nulled: the
    // probe side's first-collision filter must only count bands that are
    // REALLY in the index for this doc
    kept
      .groupBy("group", "c_doc_id")
      .agg(map_from_entries(collect_list(struct(col("band"), col("band_hash")))).as("bm"))
      .select(
        col("group"),
        col("c_doc_id"),
        transform(sequence(lit(0), lit(cfg.bands - 1)), b => col("bm")(b)).as("c_bhs")
      )
      .select(
        col("group"),
        posexplode_outer(col("c_bhs")).as(Seq("band", "band_hash")),
        col("c_doc_id"),
        col("c_bhs")
      )
      .filter(col("band_hash").isNotNull)
  }

  /** The broadcast-dictionary encode function for `vocab`. Construction is
    * EAGER and expensive (collects the vocabulary, builds and broadcasts the
    * CompactDict — [[Vocabulary.broadcastEncodeFn]]): build it once per
    * corpus state and share it across every plan probing that corpus via the
    * `encodeFn` parameter of [[nearDupAgainstCorpus]]. */
  def encodeFnFor(vocab: DataFrame): Column => Column =
    Vocabulary
      .broadcastEncodeFn(vocab)
      .getOrElse(throw new IllegalArgumentException(
        "vocabulary char blob exceeds Int index space - streaming encode requires the broadcast dictionary; " +
          "shard the stream by group and encode against per-group vocabularies"
      ))

  /** Corpora whose packed [[CorpusProbe]] may exceed this many bytes
    * ([[CorpusProbe.bytesFor]], an upper bound from three counts) take the
    * stream-static join plan instead. The probe is held twice on the driver
    * while it broadcasts (the packed arrays and the broadcast's serialized
    * pieces) and once per executor; 256 MiB keeps that to a quarter of a
    * 2 GiB driver. A 200k-file CorpusGen corpus (160k reps) packs into
    * 230 MiB (bound 237 MiB). */
  val ProbeMaxBytes: Long = 256L << 20

  /** Near-duplicate detection of a stream against the static corpus:
    * (stream doc, corpus doc, exact Jaccard sim) for every pair at or above
    * `cfg.threshold` that LSH banding surfaces — the batch pipeline's
    * signatures->candidates->pairs stages collapsed into one stateless,
    * NARROW stream plan (no exchange, no join):
    *
    *   1. encode through the broadcast corpus dictionary (narrow UDF);
    *   2. MinHash-128 + band hashes (codegen'd kernels), hot-token cap
    *      matching the index;
    *   3. one expression probes every band of the row against the
    *      broadcast [[CorpusProbe]] (the capped band index + rep sets),
    *      takes each hit rep ONCE per row, verifies it on full sets with
    *      the exact Jaccard kernel and returns the (corpus doc, sim) matches
    *      at or above the threshold; `explode` emits them.
    *
    * The probe is built and broadcast once per corpus state and memoized
    * on the identity of the (`index`, `encoded`) frames: pass the SAME
    * frames to every plan over one corpus (each replay, the parity check)
    * and only the first plan runs the two build jobs. Above
    * [[ProbeMaxBytes]] the plan is the stream-static join instead
    * (equi-join on (group, band, band_hash) against `index`, first-collision
    * filter on its `c_bhs`, join back to `encoded` for the sets) with the
    * same output rows.
    *
    * Group comparisons are NULL-SAFE in both plans: groupKey's
    * single-column path keeps a natural NULL group, and batch candidate
    * generation (a groupBy) pairs within it — an equi-key here would
    * silently report every NULL-group copy as novel.
    *
    * `vocab` is the batch pipeline's vocab stage (read from its
    * checkpoint); `encoded` is its encoded stage restricted to exact-class
    * representatives, and `index` is [[corpusIndex]] over that SAME frame
    * with the same `cfg` and `hotTokenIds` — see the rep requirement there.
    * Emitted `corpus_doc_id`s are rep ids; expand over class members with
    * [[Pipeline.exactClassMap]] when per-member pairs are needed. */
  def nearDupAgainstCorpus(
      stream: DataFrame,
      vocab: DataFrame,
      encoded: DataFrame,
      index: DataFrame,
      cfg: Config,
      hotTokenIds: Array[Int] = Array.empty,
      encodeFn: Option[Column => Column] = None
  ): DataFrame = nearDupPlan(stream, vocab, encoded, index, cfg, hotTokenIds, encodeFn, ProbeMaxBytes)

  /** [[nearDupAgainstCorpus]] with the probe's byte cap as an argument: a
    * cap of -1 forces the join plan. */
  private[graft] def nearDupPlan(
      stream: DataFrame,
      vocab: DataFrame,
      encoded: DataFrame,
      index: DataFrame,
      cfg: Config,
      hotTokenIds: Array[Int],
      encodeFn: Option[Column => Column],
      probeMaxBytes: Long
  ): DataFrame = {
    val encFn = encodeFn.getOrElse(encodeFnFor(vocab))
    val sigTokens =
      if (hotTokenIds.isEmpty) col("tokens") else ArrayExceptSorted(col("tokens"), hotTokenIds)
    val banded = stream
      .withColumn("tokens", encFn(col("tokens")))
      .filter(size(col("tokens")) > 0)
      .withColumn("sig_tokens", sigTokens)
      .filter(size(col("sig_tokens")) > 0)
      .withColumn("bhs", BandHashes(MinHashSig(col("sig_tokens"), cfg), cfg))
      .drop("sig_tokens")
    val matched = probeFor(index, encoded, cfg.maxBucket, probeMaxBytes) match {
      case Some(probe) =>
        val threshold = cfg.threshold
        val probeUdf = udf { (group: String, bhs: Seq[Long], tokens: Seq[Int]) =>
          probe.value.matches(group, bhs.toArray, tokens.toArray, threshold)
        }
        banded
          .select(col("*"), explode(probeUdf(col("group"), col("bhs"), col("tokens"))).as("m"))
          .select(col("*"), col("m._1").as("c_doc_id"), col("m._2").as("sim"))
      case None => joinPlan(banded, encoded, index, cfg)
    }
    matched.select(
      col("group"),
      col("repo"),
      col("path"),
      col("commit"),
      col("content_sha"),
      col("c_doc_id").as("corpus_doc_id"),
      col("sim")
    )
  }

  /** The broadcast probe per (index, encoded) frame pair, by identity; the
    * index is held weakly, so a dropped corpus state frees its entry. */
  private val probes =
    new java.util.WeakHashMap[DataFrame, (java.lang.ref.WeakReference[DataFrame], Int, Option[Broadcast[CorpusProbe]])]

  private def probeFor(index: DataFrame, encoded: DataFrame, maxBucket: Int, maxBytes: Long): Option[Broadcast[CorpusProbe]] =
    if (maxBytes < 0) None
    else
      probes.synchronized {
        Option(probes.get(index)) match {
          case Some((e, cap, probe)) if (e.get eq encoded) && cap == maxBucket => probe
          case _ =>
            val probe = buildProbe(index, encoded, maxBucket, maxBytes)
            probes.put(index, (new java.lang.ref.WeakReference(encoded), maxBucket, probe))
            probe
        }
      }

  /** Two jobs: count the probe's size, then collect it as executor-packed
    * blocks. One index row per rep carries all its indexed bands (`c_bhs`,
    * NULL = capped away): the row at its first indexed band. */
  private def buildProbe(index: DataFrame, encoded: DataFrame, maxBucket: Int, maxBytes: Long): Option[Broadcast[CorpusProbe]] = {
    val firstIndexed = array_position(transform(col("c_bhs"), _.isNotNull), true) - 1
    val reps = index
      .filter(col("band") === firstIndexed)
      .join(
        encoded.select(col("group").as("e_group"), col("doc_id"), col("tokens")),
        col("group") <=> col("e_group") && col("c_doc_id") === col("doc_id")
      )
      .select(col("group"), col("c_doc_id"), col("c_bhs"), col("tokens"))
    val n = reps
      .agg(
        count(lit(1)),
        coalesce(sum(size(filter(col("c_bhs"), _.isNotNull))), lit(0L)),
        coalesce(sum(size(col("tokens"))), lit(0L))
      )
      .head()
    if (CorpusProbe.bytesFor(n.getLong(0), n.getLong(1), n.getLong(2)) > maxBytes) None
    else {
      val blocks = reps.rdd
        .mapPartitions { rows =>
          Iterator.single(CorpusProbe.Block.of(rows.map(r =>
            (r.getString(0), r.getLong(1), r.getSeq[java.lang.Long](2), r.getSeq[Int](3)))))
        }
        .collect()
      Some(index.sparkSession.sparkContext.broadcast(CorpusProbe.build(blocks.toSeq, maxBucket)))
    }
  }

  /** The stream-static join plan for corpora over the probe's byte cap:
    * (group, band, band_hash) equi-join against `index`, the FIRST-COLLISION
    * filter (keep only the row whose band is the first position where the
    * stream doc's band array agrees with the corpus doc's INDEXED band array
    * — nulls = capped away — so each pair survives once, statelessly), then
    * a join on (group, c_doc_id) back to `encoded` for the full sets and the
    * codegen'd [[JaccardSorted]] verify. */
  private def joinPlan(banded: DataFrame, encoded: DataFrame, index: DataFrame, cfg: Config): DataFrame = {
    val exploded = banded.select(col("*"), posexplode(col("bhs")).as(Seq("band", "band_hash")))
    val ix = index
      .withColumnRenamed("group", "c_group")
      .withColumnRenamed("band", "c_band")
      .withColumnRenamed("band_hash", "c_band_hash")
    val joined = exploded
      .join(
        ix,
        col("group") <=> col("c_group") &&
          col("band") === col("c_band") &&
          col("band_hash") === col("c_band_hash")
      )
      .drop("c_group", "c_band", "c_band_hash")
    // the joined row at `band` proves an agreeing band exists, so the
    // filter keeps exactly one row per (stream doc, corpus doc)
    val firstEq =
      array_position(zip_with(col("bhs"), col("c_bhs"), (s, c) => c.isNotNull && s === c), lit(true)) - 1
    val corpusSets =
      encoded.select(col("group").as("e_group"), col("doc_id").as("e_doc_id"), col("tokens").as("c_tokens"))
    joined
      .filter(col("band") === firstEq)
      .join(
        corpusSets,
        col("group") <=> col("e_group") && col("c_doc_id") === col("e_doc_id")
      )
      .withColumn("sim", JaccardSorted(col("tokens"), col("c_tokens")))
      .filter(col("sim") >= cfg.threshold)
  }

  /** Watermarked ingest telemetry: per (event-time window, group) file and
    * byte counts — the streaming twin of the checkpoint metrics sidecars.
    * Append-mode emits each window once, after the watermark passes it;
    * state is one row per open window per group. */
  def ingestStats(
      prepared: DataFrame,
      tsCol: String,
      windowDur: String,
      watermarkDelay: String
  ): DataFrame =
    prepared
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col("group"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_bytes").cast("long")).as("n_bytes"),
        approx_count_distinct(col("content_sha")).as("approx_distinct_files")
      )
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("group"),
        col("n_files"),
        col("n_bytes"),
        col("approx_distinct_files")
      )
}
