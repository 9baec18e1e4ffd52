package graft

import graft.dedup.{Components, IntersectCountSorted, Jaccard, MinHash, SimHash, Tokenize}
import graft.dedup.Par.spread
import graft.ops.{CorpusPrep, Multimodal, ShardPack, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import SharedChains._

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2) plus the training-data-pipeline ops, each with a DuckDB
  * oracle in `oracleSql` where ANSI SQL can express the same semantics.
  *
  * Numeric-parity rules baked into every query pair:
  *  - similarity values are emitted as single divisions of exact integer
  *    counts (same doubles in any engine), never re-rounded;
  *  - counts are cast to BIGINT on both sides (DuckDB sums of ints widen to
  *    HUGEINT, Spark `size` is int — both normalized);
  *  - float aggregations whose order differs across engines (cosine sums)
  *    are never emitted — only the ranks derived from them.
  */
object SparkEntry {

  // Cache lifetimes (transient per-query scaffolding vs memoized shared
  // chains) are described on [[SharedChains]].

  /** Unpersist the CALLING THREAD's per-query scaffolding caches. Call after
    * each query's action, from the thread that built and materialized it. */
  def releaseTransientCaches(): Unit = transientReg.release()

  /** Unpersist + forget the memoized cross-query intermediates. */
  def releaseSharedCaches(): Unit = {
    memo.release()
    sharedReg.release()
  }

  /** Build + materialize EVERY memoized cross-query intermediate in
    * declaration order, so a benchmark can attribute shared-chain
    * construction to a labeled SETUP step instead of whichever family member
    * happens to run first (round 5: q22 wore the encode build, q25's spread
    * was the verified-chain cold start). */
  def warmSharedCaches(s: SparkSession, dir: String): Unit = {
    memo.warm(s, dir)
    releaseTransientCaches()
  }

  /** Reference-semantics tokens per doc: (doc_id, lang, token), distinct.
    * The input is spread to cluster parallelism first — the regex tokenizer
    * is the cost, and a byte-small documents scan is otherwise one task. */
  private def refTokens(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"), col("lang"), explode(Tokenize.tokenSet(col("text"))).as("token"))

  // ======================================================================

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q13_doc_pairs")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregations / scans (A1-A6, S1) ----
    "q01_agg_lineitem" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_price"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("n")
        )),
    "q29_group_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars")
        )
        .withColumn("avg_chars", col("sum_chars").cast("double") / col("n_docs"))),
    "q09_events_histogram" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type").agg(count(lit(1)).as("n"))),

    // ---- sorts / limits / top-K (T1, T2, T5) ----
    "q02_topn_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)),
    "q03_topn_per_customer" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    }),

    // ---- joins (J1/J2 broadcast, J6 semi, J7/J8 anti, J4 probe) ----
    "q04_join_revenue_by_nation" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(sum("o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
    }),
    "q05_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),
    "q06_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // ---- filter / project / scalar fns (O1-O8) ----
    "q07_filter_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue")
        )),
    "q08_distinct" -> ((s, dir) =>
      t(s, dir, "orders").select("o_custkey", "o_orderpriority").distinct()),

    // ---- window functions (T2-shaped running agg) ----
    "q10_running_window" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // integer-valued running metric: windowed DOUBLE sums are engine-
      // dependent in add order (DuckDB uses a segment tree) — floor to
      // cents first so the cumulative sum is exact on both sides
      t(s, dir, "events")
        .select(
          col("event_id"),
          col("user_id"),
          sum(floor(col("value") * 100).cast("long")).over(w).as("running")
        )
    }),

    // ---- reference tokenizer / vocabulary (O1-O4, A1-A2) ----
    "q11_tokenize" -> ((s, dir) => refTokens(t(s, dir, "documents")).select("doc_id", "token")),
    // the memoized vocabulary IS this table: (token, df) over per-doc-distinct
    // tokens, min-df 2 (Vocabulary.build == refTokens + groupBy + HAVING)
    "q12_vocab_df" -> ((s, dir) => vocabCached(s, dir)._1.select("token", "df")),

    // ---- the similarity core (J3): within-group exact Jaccard pairs ----
    "q13_doc_pairs" -> ((s, dir) => exactPairsCached(s, dir)),
    "q14_doc_top3" -> ((s, dir) => {
      val p = exactPairsCached(s, dir)
      val sym = p
        .select(col("a").as("doc_id"), col("b").as("neighbor"), col("sim"))
        .unionByName(p.select(col("b").as("doc_id"), col("a").as("neighbor"), col("sim")))
      val w = Window.partitionBy(col("doc_id")).orderBy(desc("sim"), asc("neighbor"))
      sym.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= 3)
    }),
    "q30_pair_probe" -> ((s, dir) => {
      // J4: fixed probe list (doc, doc+7) over the RAW documents table, sim
      // over pruned tokens. Probes whose record has no surviving tokens are
      // KEPT with sim NULL + missing=1 — the reference records pairs whose
      // doc id is absent from the index instead of dropping them
      // (code/main_citation_pair.py:299-346).
      //
      // Runs over the MEMOIZED ENCODED CORPUS: a doc's pruned token set is
      // its encoded sorted-int array (enc keeps exactly the df >= 2
      // survivors and drops emptied docs), so the probe is two skinny joins
      // + the codegen'd sorted-intersection kernel — the old plan
      // re-tokenized the corpus and shuffled an exploded token join +
      // aggregate per probe set (round-7 before-plan: 32 Exchanges). Counts
      // are invariant under the token<->id bijection, so sims are bitwise
      // identical.
      val d = t(s, dir, "documents").select("doc_id")
      val enc = encCached(s, dir)
      val probes = d
        .select(col("doc_id").as("a"))
        .join(d.select((col("doc_id") - 7).as("a")), Seq("a"), "left_semi")
      val ea = enc.select(col("doc_id").as("a"), col("tokens").as("ts_a"), col("n_tokens").as("na"))
      val eb = enc.select((col("doc_id") - 7).as("a"), col("tokens").as("ts_b"), col("n_tokens").as("nb"))
      probes
        .join(ea, Seq("a"), "left")
        .join(eb, Seq("a"), "left")
        .withColumn("missing", (col("na").isNull || col("nb").isNull).cast("int"))
        .withColumn(
          "inter_cnt",
          when(col("missing") === 1, lit(0L))
            .otherwise(IntersectCountSorted(col("ts_a"), col("ts_b")).cast("long"))
        )
        .select(
          col("a"),
          (col("a") + 7).as("b"),
          when(col("missing") === 1, lit(null).cast("double"))
            .otherwise(col("inter_cnt").cast("double") / (col("na") + col("nb") - col("inter_cnt")))
            .as("sim"),
          col("missing")
        )
    }),

    // ---- dedup operators ----
    "q15_dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val canon = d.groupBy("text").agg(min("doc_id").as("canon"))
      d.join(canon, "text").select("doc_id", "canon")
    }),
    "q16_ngram_jaccard" -> ((s, dir) => {
      // 3-gram Jaccard at 0.2, through the same prefix-filtered exact join
      // as the token pairs (no min-df prune on grams — df >= 1).
      val d = t(s, dir, "documents")
      // persisted: gram building dominates this query and the gram table is
      // consumed three times (see pairsWithPrefixFilter). The compiled
      // WordGramSet kernel replaced the round-4 regexp + interpreted
      // higher-order transform + array_distinct chain (its first
      // materialization was ~7.5 s of the query's ~6 s median at sf0.1).
      // spread: the gram kernel runs at cluster parallelism, not scan count
      val grams = transientReg.persist(spread(d)
        .select(
          col("doc_id"),
          col("lang"),
          explode(graft.dedup.WordGramSet(col("text"), 3)).as("gram")
        ))
      val gdf = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      pairsWithPrefixFilter(grams, gdf, "gram", 0.2, Seq("lang"))
        .select("lang", "a", "b", "sim")
    }),

    // ---- text analysis ----
    "q17_quality" -> ((s, dir) => TextAnalysis.qualityScore(t(s, dir, "documents"))
      .withColumn("n_chars", col("n_chars").cast("long"))
      .withColumn("n_tokens", col("n_tokens").cast("long"))
      .withColumn("n_words", col("n_words").cast("long"))
      .withColumn("n_stopwords", col("n_stopwords").cast("long"))
      .withColumn("n_alnum", col("n_alnum").cast("long"))),
    "q18_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(t(s, dir, "documents"))
      .withColumn("ws_tokens", col("ws_tokens").cast("long"))
      .withColumn("bpe_tokens", col("bpe_tokens").cast("long"))),
    "q19_langid" -> ((s, dir) => TextAnalysis.langId(t(s, dir, "documents"))
      .withColumn("n_words", col("n_words").cast("long"))
      .withColumn("n_en_function_words", col("n_en_function_words").cast("long"))),
    "q20_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(t(s, dir, "documents"))),

    // ---- embedding similarity search ----
    // exact top-k via the distributed block-nested-loop path (the naive
    // per-pair cross join stays in Similarity as the sbt test oracle)
    "q21_cosine_top3" -> ((s, dir) =>
      Similarity
        .cosineTopKBlocked(t(s, dir, "embeddings"), 3)
        .select(col("vec_id"), col("neighbor"), col("rank").cast("long").as("rnk"))),

    // ---- hash-based detectors, now with full DuckDB oracles ----
    // The detectors are deterministic functions of (data, seed), so their
    // outputs ARE oracle-able: the oracle SQL recomputes minhash/simhash/LSH
    // semantics from the documents table (validated mix64/modmul parity).
    "q22_minhash_sigs" -> ((s, dir) =>
      // The signature is a function of (tokens, numPerms, seed) only, and
      // the encode of (shingleK, minDf) only — all identical between the
      // default Config and oracleLshCfg — so q22 shares the memoized
      // encoded corpus with q23/q24/q25 instead of rebuilding the
      // tokenize -> vocab -> encode chain under its own Config().
      MinHash
        .withSignature(encCached(s, dir), oracleLshCfg)
        .select(col("doc_id"), posexplode(col("minhash")).as(Seq("perm", "min_val")))
        .withColumn("perm", col("perm").cast("long"))
        .withColumn("min_val", col("min_val").cast("long"))),
    "q23_lsh_pairs" -> ((s, dir) =>
      // Oracle-equality configuration: 64 bands x 2 rows makes the miss
      // probability of a true pair at sim 0.5 about (1 - 0.25)^64 ~ 1e-8,
      // and the bucket cap is effectively off so chain-linking cannot drop
      // candidates — the emitted set equals ALL exact pairs >= 0.5 (q13's
      // oracle). Verified sims are raw quotients (verifyCounts), bit-equal
      // to DuckDB's division. The chain is memoized: q25 reuses this table.
      lshVerifiedCached(s, dir).withColumnRenamed("group", "lang")),
    "q24_simhash_pairs" -> ((s, dir) => {
      val cfg = oracleLshCfg
      val enc = encCached(s, dir)
      val sigs = SimHash.withSimhash(enc, cfg)
      // pigeonhole blocking is COMPLETE for hamming <= 3 (bucket cap off),
      // so the result is exactly {pairs: hamming(simhash) <= 3 ∧ sim >= 0.5}
      // — which the oracle recomputes end to end (mix64 in SQL).
      Jaccard
        .verifyCounts(SimHash.candidatePairs(sigs, cfg), enc, cfg.threshold)
        .withColumnRenamed("group", "lang")
    }),
    "q25_components" -> ((s, dir) => componentsCached(s, dir)),
    // Incremental components maintenance (the 10^12-file ingest path): docs
    // with doc_id % 11 == 0 "arrive later" — cluster the base corpus first,
    // then fold the late docs' pairs in via Components.merge. The oracle is
    // the SAME full-recompute recursive CTE as q25: incremental == full is
    // exactly the property being checked.
    "q25b_components_incremental" -> ((s, dir) => {
      val enc = encCached(s, dir)
      val (pairs, nPairs) = lshVerifiedWithCount(s, dir)
      val late = col("doc_id") % 11 === 0
      val baseDocs = enc.filter(!late).select("doc_id")
      val newDocs = enc.filter(late).select("doc_id")
      val basePairs = pairs.filter(col("a") % 11 =!= 0 && col("b") % 11 =!= 0)
      val deltaPairs = pairs.filter(col("a") % 11 === 0 || col("b") % 11 === 0)
      // the memoized pair count bounds both filtered subsets, so both CC
      // fixpoints skip their path-decision count jobs (Components.run)
      Components.merge(
        Components.assignAll(baseDocs, basePairs, knownEdgeBound = nPairs),
        deltaPairs,
        newDocs,
        reg = transientReg,
        knownPairBound = nPairs
      )
    }),
    // Dedup survivorship: collapse each near-dup cluster (q25's assignment)
    // to its best member — longest text, ties to the lowest doc_id. The
    // oracle recomputes clustering (q25's recursive CTE) + the same window.
    "q42_cluster_representatives" -> ((s, dir) =>
      Components.representatives(
        componentsCached(s, dir),
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars"
      )),
    // Training-shard sequence packing: the global token-offset prefix sum is
    // Ids.prefixSum weighted by token count (the dense ids' two-pass stamp;
    // NO single-partition window), budget 4096 tokens per shard.
    "q43_shard_pack" -> ((s, dir) =>
      ShardPack.pack(
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("n_tokens")
          ),
        "doc_id",
        "n_tokens",
        budget = 4096L,
        reg = transientReg
      )),
    // Versioned-corpus collapse: the documents table stood up as a commit
    // history — repo = doc_id % 7, path = doc_id % 13, commit ordinal =
    // doc_id — and the newest version of each (repo, path) file wins.
    "q44_latest_version" -> ((s, dir) =>
      CorpusPrep
        .latestVersion(
          t(s, dir, "documents")
            .select(col("doc_id"), (col("doc_id") % 7).as("repo"), (col("doc_id") % 13).as("path")),
          "repo",
          "path",
          orderCol = "doc_id",
          tieCol = "doc_id"
        )),
    // Vendored/boilerplate detection: content key = the first 64 chars (the
    // license-header block), repo = doc_id % 7; content present in >= 3
    // distinct repos is flagged. n_repos is exact per content hash but
    // computed over DISTINCT (hash, repo) pairs, so mega dup classes cannot
    // skew the aggregate.
    "q45_vendored_flags" -> ((s, dir) =>
      CorpusPrep
        .vendoredFlags(
          t(s, dir, "documents")
            .select(col("doc_id"), substring(col("text"), 1, 64).as("content"), (col("doc_id") % 7).as("repo")),
          "content",
          "repo",
          minRepos = 3L
        )
        .select("doc_id", "repo", "n_repos", "vendored")),
    "q28_lsh_cosine_top3" -> ((s, dir) =>
      // ids + rank only (the cosine double is an order-dependent aggregate);
      // the oracle reproduces the sketch from the literal hyperplane matrix
      Similarity
        .lshCosineTopK(t(s, dir, "embeddings"), k = 3, dim = 64, reg = transientReg)
        .select(col("vec_id"), col("neighbor"), col("rank").cast("long").as("rnk"))),
    // IVF-flat ANN: deterministic coarse quantizer (first max(16, ceil
    // sqrt(n)) vectors as centroids), nProbe=4 inverted-list probe, exact
    // re-rank — the oracle recomputes quantizer/assignment/probe/re-rank
    // from the table itself, including the sqrt sizing rule.
    "q36_ivf_cosine_top3" -> ((s, dir) =>
      Similarity
        .ivfCosineTopK(t(s, dir, "embeddings"), k = 3, embCentroidsCached(s, dir), nProbe = 4, reg = transientReg)
        .select(col("vec_id"), col("neighbor"), col("rank").cast("long").as("rnk"))),

    // ---- composite group keys + group stats with distinct participants ----
    // Pairs generated within (lang, source) — the reference's composite
    // (year, patent_type) grouping — then per-group stats including the
    // distinct-doc count (reference "Patents" column, main_closest.py:305-314).
    // avg_sim is deliberately not emitted: order-dependent float aggregate.
    "q32_two_key_stats" -> ((s, dir) => {
      // (lang, source) pairs are a strict SUBSET of the memoized within-lang
      // exact pair table: the extra grouping key affects neither the token
      // sets nor the global df >= 2 universe, so every (lang, source) pair
      // appears in the lang table with an identical sim — filter the shared
      // table on equal source (two joins against the skinny doc→source map;
      // AQE broadcasts it when it fits, shuffles when the corpus doesn't)
      // instead of re-running the all-pairs join per query. Null sources
      // drop on `===` exactly as they did on the old equi-join key.
      val keys = Seq("lang", "source")
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val p = exactPairsCached(s, dir)
        .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
        .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
        .filter(col("sa") === col("sb"))
        .select(col("lang"), col("sa").as("source"), col("a"), col("b"), col("sim"))
      val stats = graft.dedup.TopN.groupStats(p, keys)
      stats.select(
        col("lang"),
        col("source"),
        col("n_pairs"),
        col("n_docs"),
        col("min_sim"),
        col("max_sim")
      )
    }),

    // ---- case/control matching (J8, reference main_closest.py:133-141) ----
    // targets (cases) = every 10th doc; matches ranked among controls only
    "q34_case_control" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = exactPairsCached(s, dir).select(
        col("lang").as("group"),
        col("a"),
        col("b"),
        col("sim")
      )
      val targets = docs.filter(col("doc_id") % 10 === 0).select("doc_id")
      graft.dedup.TopN
        .caseControl(pairs, targets, n = 3)
        .withColumn("rank", col("rank").cast("long"))
        .withColumnRenamed("group", "lang")
    }),

    // ---- sampled-control matching (reference main_citation_sample.py:
    // 376-484: random.sample over control candidates before ranking). The
    // sample is a SEEDED DETERMINISTIC hash of the control id (SplitMix64),
    // not a driver RNG: reproducible under task retries, shuffles nothing,
    // and exactly re-computable by the oracle — see TopN.caseControlSampled.
    "q34b_sampled_controls" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = exactPairsCached(s, dir).select(
        col("lang").as("group"),
        col("a"),
        col("b"),
        col("sim")
      )
      val targets = docs.filter(col("doc_id") % 10 === 0).select("doc_id")
      graft.dedup.TopN
        .caseControlSampled(pairs, targets, n = 3, keepPct = 50, seed = 7L)
        .withColumn("rank", col("rank").cast("long"))
        .withColumnRenamed("group", "lang")
    }),

    // ---- global top-N pairs per group (T1 over the pair table) ----
    "q35_top_pairs_per_group" -> ((s, dir) => {
      val pairs = exactPairsCached(s, dir).select(
        col("lang").as("group"),
        col("a"),
        col("b"),
        col("sim")
      )
      graft.dedup.TopN
        .globalPerGroup(pairs, 5)
        .withColumnRenamed("group", "lang")
    }),

    // ---- multimodal: REAL image (javax.imageio) + REAL audio
    // (javax.sound.sampled) + REAL video (hand-written YUV4MPEG2 parser)
    // decode ----
    // Image rows are synthesized as real PNGs with closed-form pixel
    // gradients, audio rows as real WAVs with closed-form PCM samples,
    // video rows as real y4m streams with closed-form luma planes; all
    // three are decoded back by extractFeatures with actual raster /
    // container / plane reads — so every emitted statistic is real decode
    // output AND SQL-reproducible (WAV size = canonical 44-byte header +
    // 2 bytes/sample; y4m size = 41-byte header + nf*(6 + 3wh/2); both
    // closed-form). n_bytes is nulled for images only: a PNG's DEFLATE
    // size has no ANSI-SQL form.
    "q26_multimodal_features" -> ((s, dir) => {
      // spread: PNG/WAV/y4m synth + decode is pure per-row CPU; one task on
      // a sub-MB scan serializes it (round-7 before-plan: 0 Exchanges)
      val media = Multimodal.synthesize(spread(t(s, dir, "documents")))
      Multimodal
        .extractFeatures(media)
        .select(
          col("media_id"),
          col("modality"),
          when(col("modality") === "image", lit(null).cast("long"))
            .otherwise(col("n_bytes").cast("long")).as("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sum_r"),
          col("sum_g"),
          col("sum_b"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"),
          col("sum_amp"),
          col("fps").cast("long").as("fps"),
          col("n_frames"),
          col("sum_luma"),
          size(col("embedding")).cast("long").as("dim")
        )
    }),
    // Real decoded frame sampling: stride = 80 ms x the fps parsed from the
    // y4m header (25) = every 2nd frame, each with its exact luma-plane sum.
    "q27_frame_sample" -> ((s, dir) =>
      // everyMs=80 here (every 2nd frame at the synth 25 fps streams), not
      // the API default 1000 — the oracle encodes this stride. Not spread
      // like q26: at sf0.1 on a 4-core host the repartition made the query
      // slower (median 0.40 s vs 0.25 s, three runs of five reps each).
      Multimodal.sampleFrames(Multimodal.synthesize(t(s, dir, "documents")), everyMs = 80L)),
    // The winnowing CANDIDATE stage of the substring detector, split out
    // because it IS oracle-able: fingerprints are a pure function of
    // (text, k, window) (rolling polynomial hash mod 2^61-1, windowed min,
    // distinct values), the df cap is a GROUP BY, and with maxFpDf (200) <=
    // maxBucket (1000) no bucket can hit the chain-linking path — so plain
    // SQL reproduces the exact pair set.
    // CAVEAT: the engine hashes UTF-16 code units (String.charAt — a
    // well-defined deterministic contract) while DuckDB's substr/unicode
    // walk code points; the two agree exactly on BMP text (all of the
    // driver's corpora) and diverge on supplementary-plane characters.
    "q31a_winnow_candidates" -> ((s, dir) => winnowCandCached(s, dir)),
    // The full SuffixDedup.run pipeline (winnow -> df cap -> suffix-automaton
    // LCS verify) in driver-verifiable existence form: pairs sharing a
    // verified >= 20-char substring, ids only. The exact lcs_len /
    // containment columns run here too (the >= minMatch filter consumes
    // them) but are not PROJECTED because general LCS length has no ANSI-SQL
    // form — they are pinned by the sbt property suite against a naive DP
    // oracle instead (SuffixDedupSpec). Round 4 exposed them as a separate
    // `q31_substring_pairs` entry, which duplicated this whole pipeline per
    // bench run solely to add a column the driver could not check.
    "q31b_substring_exists" -> ((s, dir) =>
      graft.dedup.SuffixDedup.run(
        t(s, dir, "documents").select(col("doc_id"), col("lang").as("group"), col("text").as("content")),
        q31Cfg,
        transientReg,
        precomputedCandidates = Some(winnowCandCached(s, dir))
      ).select(col("group").as("lang"), col("a"), col("b"))),
    "q33_embedding_neardup" -> ((s, dir) =>
      // ids only: the cosine itself is an order-dependent float aggregate.
      // Blocked exact path — same pair set as the brute-force oracle by
      // construction (no LSH recall gamble against the equality gate).
      Similarity.nearDupPairsBlocked(t(s, dir, "embeddings"), 0.35).select("a", "b")),

    // ---- repetition quality signals (Gopher, Rae et al. 2021 table A1) ----
    // Per-doc duplicate-word/-trigram rates + most-repetitive-bigram char
    // coverage: the standard repetition filters ahead of dedup in an LLM
    // data pipeline. Pure map-side higher-order functions, no shuffle.
    "q38_repetition" -> ((s, dir) => TextAnalysis.repetitionSignals(t(s, dir, "documents"))),

    // ---- composed quality gate (C4/FineWeb-style filter step) ----
    // One map-side projection evaluating all keep/drop rules; thresholds
    // picked to split the synthetic corpus non-trivially.
    "q41_quality_filter" -> ((s, dir) => TextAnalysis.qualityFilter(t(s, dir, "documents"))),

    // ---- benchmark decontamination (GPT-3 appendix-C 13-gram scrub) ----
    // Docs with doc_id % 97 == 0 stand in for the eval set; every other doc
    // is flagged if it shares any distinct word 13-gram with them. The
    // synthetic corpus has no natural 13-gram overlap at small SF, so a
    // fixed 13-word phrase is PLANTED into every benchmark doc and into
    // train docs with doc_id % 50 == 1 — exactly those must be flagged.
    "q40_decontaminate" -> ((s, dir) => {
      val phrase = (0 until 13).map(i => s"xq$i").mkString(" ", " ", "")
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 97 === 0 || col("doc_id") % 50 === 1, concat(col("text"), lit(phrase)))
          .otherwise(col("text")).as("text")
      )
      graft.ops.Decontaminate.contaminated(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        n = 13
      )
    }),

    // ---- PII/secret redaction (The-Stack-style pre-training scrub) ----
    // The synthetic corpus carries no PII, so the query PLANTS a
    // deterministic email/IP/hex-secret per doc (both engines build the
    // same string) and the operator must find and redact exactly those.
    "q39_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 token "),
          md5(col("doc_id").cast("string")), lit(" end")
        ).as("text")
      )
      TextAnalysis.redact(d)
    }),

    // ---- semantic dedup (SemDeDup, arXiv:2303.09540) ----
    // Cluster embeddings with the deterministic coarse quantizer, drop
    // within-cluster semantic near-dups at the cosine threshold keeping the
    // lowest vec_id — sub-quadratic (~n^1.5) semantic dedup, the embedding
    // sibling of the MinHash/SimHash detectors.
    "q37_semdedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), minCosine = 0.35, embCentroidsCached(s, dir), reg = transientReg))
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
