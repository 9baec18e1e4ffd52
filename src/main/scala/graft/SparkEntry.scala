package graft

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import graft.dedup.{CacheRegistry, Components, Config, Ids, IntersectCountSorted, Jaccard, MinHash, Par, SimHash, Stopwords, Tokenize, Vocabulary}
import graft.dedup.Par.spread
import graft.ops.{CorpusPrep, Multimodal, ShardPack, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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

  // ---- cache lifetime management for multi-query driver sessions ----
  //
  // TRANSIENT caches: per-query scaffolding (tokenizer output, per-doc set
  // tables, id-assignment copies). The driver mains (Bench, Verify) call
  // releaseTransientCaches() after materializing each query, so query k's
  // caches never compete with query k+1's memory — the round-4 bench session
  // accumulated ~10 MEMORY_AND_DISK tables across its 37 queries.
  //
  // SHARED caches: memoized cross-query intermediates (the encoded corpus,
  // the LSH-verified pair table, the exact pair table) that the q13/q14/
  // q34/q35 and q23/q24/q25 families would otherwise rebuild per query —
  // the round-4 q25 regression was exactly this chain re-running. One memo
  // keyed by (session, dir, chain name) — see [[SharedChains]]; released
  // between bench reps / at suite end.
  // Transient registries are PER-THREAD: a process-global registry would let
  // one caller's releaseTransientCaches() unpersist another thread's
  // in-flight scaffolding — Ids.assignDense's correctness depends on its
  // persisted range-partitioned copy surviving from the eager count job to
  // the lazy stamp job (Ids.scala). Under the driver contract a query's
  // build + materialize + release all run on the caller's thread, so thread
  // scope exactly matches cache lifetime; a release issued from a DIFFERENT
  // thread now simply misses (a bounded leak, reclaimed at session stop)
  // instead of corrupting a neighbour's id assignment.
  private val transientRegs: ThreadLocal[CacheRegistry] =
    ThreadLocal.withInitial(() => new CacheRegistry)
  private def transientReg: CacheRegistry = transientRegs.get()
  private val sharedReg = new CacheRegistry
  /** The memoized cross-query intermediates, declared below in warm order. */
  private[graft] val sharedChains = new SharedChains

  /** Unpersist the CALLING THREAD's per-query scaffolding caches. Call after
    * each query's action, from the thread that built and materialized it. */
  def releaseTransientCaches(): Unit = transientReg.release()

  /** Unpersist + forget the memoized cross-query intermediates. */
  def releaseSharedCaches(): Unit = {
    sharedChains.release()
    sharedReg.release()
  }

  /** Build + materialize EVERY memoized cross-query intermediate in
    * declaration order, so a benchmark can attribute shared-chain
    * construction to a labeled SETUP step instead of whichever family member
    * happens to run first (round 5: q22 wore the encode build, q25's spread
    * was the verified-chain cold start). */
  def warmSharedCaches(s: SparkSession, dir: String): Unit = {
    sharedChains.warm(s, dir)
    releaseTransientCaches()
  }

  /** Persist + eagerly materialize a shared intermediate. */
  private def shared(df: DataFrame): DataFrame = {
    val p = sharedReg.persist(df)
    p.count()
    p
  }

  private val tokenPatternSql = "\\b[a-zA-Z0-9][-a-zA-Z0-9]*[a-zA-Z0-9]\\b"
  private lazy val stopListSql: String =
    Stopwords.english.toSeq.sorted.map(w => s"'$w'").mkString(", ")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---- shared building blocks over documents(doc_id, text, lang, ...) ----

  /** Reference-semantics tokens per doc: (doc_id, lang, token), distinct.
    * The input is spread to cluster parallelism first — the regex tokenizer
    * is the cost, and a byte-small documents scan is otherwise one task. */
  private def refTokens(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"), col("lang"), explode(Tokenize.tokenSet(col("text"))).as("token"))

  /** Within-lang exact Jaccard pairs over pruned tokens:
    * (lang, a, b, inter_cnt, union_cnt, sim) with sim >= minSim. */
  private def docPairs(docs: DataFrame, minSim: Double): DataFrame =
    docPairsBy(docs, minSim, Seq("lang"))

  /** Exact within-group Jaccard pairs over pruned tokens, with PPJoin-style
    * PREFIX FILTERING (Chaudhuri/Ganti/Kaushik SSJoin, ICDE'06; Xiao et al.
    * PPJoin, WWW'08). Reference semantics are the exact inverted-index
    * all-pairs join (code/Stage05ComputeSimilarity.py:98-140); the output is
    * bitwise-identical — the prefix filter only prunes the CANDIDATE join.
    *
    * Why it is safe: J(x,y) >= t implies |x n y| >= ceil(t*|x|) and
    * >= ceil(t*|y|) (size filter: |y| >= |x n y| substituted into the Jaccard
    * bound). Prefix lemma: under any shared total token order, if
    * |x n y| >= a_x and >= a_y, the first |x|-a_x+1 tokens of x and the first
    * |y|-a_y+1 tokens of y must share an element (all common elements would
    * otherwise sit above the lower prefix boundary, but only a_x-1 elements
    * of x do). So joining only each doc's prefix under a RARE-FIRST order
    * (df asc, token asc) finds every pair at sim >= t while the join volume
    * drops from sum(df^2) over ALL tokens to the prefix tokens only — the
    * frequent tokens that dominate the quadratic cost sort to the back and
    * fall out of most prefixes. Survivors are verified on the full sets with
    * the codegen'd sorted-intersection kernel.
    *
    * Composite `keys` generate pairs WITHIN each distinct key combination
    * (the reference's (year, patent_type) grouping,
    * code/main_citation_control.py:297-328). */
  private def docPairsBy(
      docs: DataFrame,
      minSim: Double,
      keys: Seq[String],
      prefixFilter: Boolean = true
  ): DataFrame = {
    val kc = keys.map(col)
    // persisted: the regex tokenizer is the expensive part of this family
    // and the exploded token table is consumed three times (df aggregate,
    // rank-input materialization, set-build join) — uncached it re-runs the
    // tokenizer per consumer. Released per query via releaseTransientCaches.
    // spread: the tokenizer runs at cluster parallelism, not scan-split count.
    val tok = transientReg.persist(spread(docs).select(
      (col("doc_id") +: kc) :+ explode(Tokenize.tokenSet(col("text"))).as("token"): _*
    ))
    val voc = tok.groupBy("token").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    if (prefixFilter) pairsWithPrefixFilter(tok, voc, "token", minSim, keys)
    else pairsPlain(tok, voc, "token", minSim, keys)
  }

  /** Plain exact all-pairs tail (no prefix machinery): inverted-index join +
    * intersection count + size join. For composite group keys the key
    * equality already bounds the join volume, and the prefix filter's fixed
    * costs (element ranking, set re-grouping, two extra persists) exceed
    * what it saves — the round-3 bench showed q32 LOSING 93% to them. */
  private def pairsPlain(
      elems: DataFrame,
      edf: DataFrame,
      elemCol: String,
      minSim: Double,
      keys: Seq[String]
  ): DataFrame = {
    val kc = keys.map(col)
    val pe = elems.join(edf.select(elemCol), elemCol)
    val sz = pe.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pe
      .select(kc :+ col(elemCol) :+ col("doc_id").as("a"): _*)
      .join(pe.select(kc :+ col(elemCol) :+ col("doc_id").as("b"): _*), keys :+ elemCol)
      .filter(col("a") < col("b"))
      .groupBy(kc :+ col("a") :+ col("b"): _*)
      .agg(count(lit(1)).as("inter_cnt"))
    inter
      .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .withColumn("inter_cnt", col("inter_cnt").cast("long"))
      .withColumn("union_cnt", (col("na") + col("nb")).cast("long") - col("inter_cnt"))
      .withColumn("sim", col("inter_cnt").cast("double") / col("union_cnt"))
      .filter(col("sim") >= minSim)
      .select(kc ++ Seq(col("a"), col("b"), col("inter_cnt"), col("union_cnt"), col("sim")): _*)
  }

  /** Shared prefix-filtered exact-Jaccard tail: encode elements to dense ints
    * in (df asc, element asc) order, join only each doc's prefix, verify
    * survivors on the full sorted-int sets. `elems`: (doc_id, keys..., col
    * named `elemCol`), distinct per doc; `edf`: (elemCol, df) — the element
    * universe (pre-pruned as the caller requires). */
  private def pairsWithPrefixFilter(
      elems: DataFrame,
      edf: DataFrame,
      elemCol: String,
      minSim: Double,
      keys: Seq[String]
  ): DataFrame = {
    val kc = keys.map(col)
    // dense rare-first ids: ascending id = ascending (df, element), so the
    // sorted int array IS the prefix order and the verify kernel's input
    val ranked = Ids.assignDense(edf, Seq("df", elemCol), "eid", transientReg)
    val pe = elems.join(ranked.select(col(elemCol), col("eid").cast("int").as("eid")), elemCol)
    // the per-doc set table is the hub of the plan — both prefix sides and
    // both verify sides consume it (4 scans); cache it once. Released per
    // query via releaseTransientCaches.
    val sets = transientReg.persist(pe
      .groupBy(col("doc_id") +: kc: _*)
      .agg(sort_array(collect_list(col("eid"))).as("ts"))
      .withColumn("n", size(col("ts"))))
    // SINGLETON elision (see prefixVerifyFromSets): under the rare-first
    // ranking, df=1 elements occupy exactly the id range [0, nSingletons) —
    // one tiny job over the cached skinny ranking.
    val nSingletons = ranked.filter(col("df") < 2).count()
    prefixVerifyFromSets(sets, nSingletons, minSim, keys)
  }

  /** PPJoin tail over pre-built per-doc sets: `sets` must carry
    * (doc_id, keys..., ts: sorted array<int> of rare-first element ids,
    * n: int size) and be PERSISTED by the caller (both prefix sides and
    * both verify sides scan it). `nSingletons` = number of df=1 element ids
    * (the contiguous low range under the rare-first order) to elide from
    * the candidate join — 0 for min-df-pruned universes. */
  private def prefixVerifyFromSets(
      sets: DataFrame,
      nSingletons: Long,
      minSim: Double,
      keys: Seq[String]
  ): DataFrame = {
    val kc = keys.map(col)
    // a = ceil(t*n) via ceil(t*n - 1e-9): the epsilon keeps an exact-integer
    // t*n from rounding UP on binary error (e.g. 0.2*5 -> 1.0000000000000002),
    // which would shorten the prefix and silently drop true pairs; a too-LONG
    // prefix only adds candidates the verify step discards.
    val prefLen = (col("n") - ceil(lit(minSim) * col("n") - lit(1e-9)) + lit(1)).cast("int")
    // POSITIONAL filter (PPJoin proper, Xiao et al. WWW'08 §3.2): a match on
    // prefix token e at 0-based sorted positions (pa, pb) bounds the overlap
    // by min(pa,pb) + 1 + min(na-pa-1, nb-pb-1); pairs need overlap >=
    // alpha = ceil(t/(1+t)*(na+nb)). Every per-row bound is a true upper
    // bound, so a TRUE pair passes on every matched row (no recall loss),
    // while at low thresholds — where the prefix itself is nearly the whole
    // doc and prunes nothing — most candidate rows fail the bound and never
    // reach distinct+verify. The epsilon keeps an exact-integer alpha from
    // rounding UP on binary error (which would drop true pairs at the
    // boundary); rounding DOWN only admits candidates verify discards.
    // SINGLETON elision: under the rare-first ranking, df=1 elements occupy
    // exactly the id range [0, nSingletons) — and a df=1 element can never
    // match in the self-join (no second doc holds it). Dropping those ids
    // from the JOIN input (sets, sizes and positions keep the full arrays,
    // so sims are untouched) removes most of the exchange volume when the
    // element universe is unpruned (q16's 3-gram space is singleton-
    // dominated); for min-df-pruned callers nSingletons = 0 and this is a
    // no-op.
    val pref = sets
      .select(
        kc ++ Seq(col("doc_id"), col("n"), posexplode(slice(col("ts"), lit(1), prefLen)).as(Seq("p", "eid"))): _*
      )
      .filter(col("eid") >= nSingletons)
    val alpha = ceil(lit(minSim) / (lit(1.0) + lit(minSim)) * (col("na") + col("nb")) - lit(1e-9))
    val cand = pref
      .select(kc ++ Seq(col("eid"), col("doc_id").as("a"), col("n").as("na"), col("p").as("pa")): _*)
      .join(
        pref.select(kc ++ Seq(col("eid"), col("doc_id").as("b"), col("n").as("nb"), col("p").as("pb")): _*),
        keys :+ "eid"
      )
      .filter(col("a") < col("b"))
      .filter(
        least(col("pa"), col("pb")) + lit(1) +
          least(col("na") - col("pa") - lit(1), col("nb") - col("pb") - lit(1)) >= alpha
      )
      .select(kc :+ col("a") :+ col("b"): _*)
      .distinct()
    val sa = sets.select(col("doc_id").as("a"), col("ts").as("ts_a"), col("n").as("na"))
    val sb = sets.select(col("doc_id").as("b"), col("ts").as("ts_b"), col("n").as("nb"))
    cand
      .join(sa, "a")
      .join(sb, "b")
      .withColumn("inter_cnt", IntersectCountSorted(col("ts_a"), col("ts_b")).cast("long"))
      .withColumn("union_cnt", (col("na") + col("nb")).cast("long") - col("inter_cnt"))
      .withColumn("sim", col("inter_cnt").cast("double") / col("union_cnt"))
      .filter(col("sim") >= minSim)
      .select(kc ++ Seq(col("a"), col("b"), col("inter_cnt"), col("union_cnt"), col("sim")): _*)
  }

  // ---- shared chains, in warm order: each after the chains its build reads ----

  /** (encoded corpus, vocabulary, vocabRows, encRows) at [[oracleLshCfg]].
    *
    * The detector family (q22/q23/q24/q25) consumes the encoded table 3-4x
    * each (signatures, both verify sides, assignAll's doc set) — without the
    * cache the whole tokenize+vocab+encode chain re-runs per consumer (the
    * round-2 q25 regression). The VOCABULARY is memoized alongside because
    * q12 and the exact-pair chain need exactly this (token, df >= minDf)
    * table — previously each re-tokenized the corpus to rebuild it (two full
    * regex passes per bench rep, guide §2.4: don't recompute what a sibling
    * chain already has). The tokenized base is transient-persisted so the
    * tokenizer runs ONCE per build (vocab aggregate + encode both scan it),
    * and the vocab row count captured here feeds the encode-plan choice
    * without its own count job. */
  private val encodedChain = sharedChains.declare("encoded") { (s, dir) =>
    val cfg = oracleLshCfg
    val base = transientReg.persist(
      spread(t(s, dir, "documents")).select(
        col("doc_id"),
        col("lang").as("group"),
        Tokenize.tokenSet(col("text"), cfg.shingleK).as("tokens")
      ).filter(size(col("tokens")) > 0)
    )
    // vocabRows comes free from the dense-id stamp's per-partition count
    // pass — no separate count job for the encode-plan choice
    val (vocab0, vocabRows) = Vocabulary.buildWithCount(base, cfg, transientReg)
    val vocab = sharedReg.persist(vocab0)
    val enc = sharedReg.persist(Vocabulary.encode(base, vocab, vocabRows = Some(vocabRows)))
    val encRows = enc.count() // materializes enc AND vocab (its input)
    (enc, vocab, vocabRows, encRows)
  }

  private def encCached(s: SparkSession, dir: String): DataFrame = encodedChain(s, dir)._1

  /** Memoized vocabulary (token, df, token_id) + its row count. */
  private def vocabCached(s: SparkSession, dir: String): (DataFrame, Long) = {
    val (_, vocab, vocabRows, _) = encodedChain(s, dir)
    (vocab, vocabRows)
  }

  /** MinHash-LSH verified pair table at [[oracleLshCfg]] plus its exact row
    * count (the materializing count is captured, not re-run) — shared by q23
    * (projection) and q25 (components input), so the signatures →
    * candidates → verify chain runs ONCE per (session, dir) instead of per
    * query (the round-4 q25 regression: each family member rebuilt it). The
    * count is a proven edge bound for the components family's driver-local
    * path. */
  private val lshVerifiedWithCount = sharedChains.declare("lsh_verified") { (s, dir) =>
    val cfg = oracleLshCfg
    val (enc, _, _, encRows) = encodedChain(s, dir)
    // persisted: at this config candidatePairs takes the first-collision
    // path; the known doc count bounds every band bucket's size, so when
    // it is <= maxBucket the oversized-bucket probe job is skipped
    // entirely (PairGen proves the set empty by arithmetic). Transient —
    // dead once the count below has materialized.
    val sigs = transientReg.persist(MinHash.withSignature(enc, cfg))
    val pairs = sharedReg.persist(Jaccard.verifyCounts(
      MinHash.candidatePairs(sigs, cfg, docCountBound = encRows),
      enc,
      cfg.threshold
    ))
    (pairs, pairs.count())
  }

  private def lshVerifiedCached(s: SparkSession, dir: String): DataFrame = lshVerifiedWithCount(s, dir)._1

  /** Exact within-lang Jaccard pair table at threshold 0.5 — the
    * q13/q14/q34/q34b/q35 family all rank or filter this one table; round 4
    * re-ran the full PPJoin per query (~3-7 s each).
    *
    * Built FROM THE MEMOIZED ENCODED CORPUS, not by re-tokenizing the
    * documents table: the encode already holds each doc's min-df-pruned
    * token set as a sorted int array, so the per-doc PPJoin sets are a
    * NARROW map-side remap of those ids into rare-first order (broadcast
    * int[] lookup + sort) — this removes the second tokenizer pass, the
    * string-keyed dense-id rank over the token universe, and the
    * explode + dictionary join + collect_list re-group shuffle the old
    * chain paid per rep (guide §2.3/§2.4: the heavy rows already exist in
    * the right shape one cache over). Jaccard counts are invariant under
    * the id bijection, so the emitted (lang, a, b, inter_cnt, union_cnt,
    * sim) rows are bitwise-identical to the old plan's (oracle q13).
    * Vocabularies beyond the broadcast cap fall back to the original
    * string-keyed chain (the remap array must fit one executor). */
  private val exactPairsCached = sharedChains.declare("exact_pairs") { (s, dir) =>
    val (vocab, vocabRows) = vocabCached(s, dir)
    if (vocabRows <= oracleLshCfg.broadcastMaxVocab) {
      val enc = encCached(s, dir)
      // rare-first eids: rank the dense token ids by (df, token_id). The
      // token ids are assigned in token-ascending order, so (df, token_id)
      // is the same total order as the old (df, token) string rank. The
      // rank is computed on the DRIVER from the collected skinny
      // (token_id, df) table — this path is gated on vocabRows <=
      // broadcastMaxVocab, the same bound under which the encode already
      // collects the full dictionary, so the sort is bounded arithmetic
      // (<= 8M longs), and it replaces the distributed range-stamp's
      // persist + sample + count jobs with the one collect we need anyway.
      val tidDf = vocab
        .select(col("token_id").cast("int"), col("df"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)))
        .sortBy { case (tid, df) => (df, tid) }
      val remap = new Array[Int](vocabRows.toInt)
      var eid = 0
      tidDf.foreach { case (tid, _) => remap(tid) = eid; eid += 1 }
      val bRemap = s.sparkContext.broadcast(remap)
      val remapUdf = udf { (tokens: Seq[Int]) =>
        val m = bRemap.value
        val out = new Array[Int](tokens.length)
        var i = 0
        tokens.foreach { tid => out(i) = m(tid); i += 1 }
        java.util.Arrays.sort(out)
        out
      }
      // persisted: the set table is the hub — both prefix sides and both
      // verify sides scan it (see prefixVerifyFromSets)
      val sets = transientReg.persist(
        enc.select(
          col("doc_id"),
          col("group").as("lang"),
          remapUdf(col("tokens")).as("ts"),
          col("n_tokens").as("n")
        )
      )
      // min-df-pruned universe: no singletons by construction
      shared(prefixVerifyFromSets(sets, nSingletons = 0L, 0.5, Seq("lang")))
    } else shared(docPairs(t(s, dir, "documents"), 0.5))
  }

  private val q31Cfg = graft.dedup.SuffixDedup.SubConfig(k = 16, window = 5, minMatch = 20)

  /** Winnow candidate pairs at [[q31Cfg]] — q31a projects them and q31b's
    * suffix-automaton verify consumes them; without the memo each query
    * rebuilt the fingerprint -> df-cap -> bucket-pair chain. */
  private val winnowCandCached = sharedChains.declare("winnow_candidates") { (s, dir) =>
    shared(graft.dedup.SuffixDedup.candidatePairs(
      // spread: the rolling-hash + winnow kernel runs at cluster
      // parallelism, not scan-split count (one task on a sub-MB file)
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang").as("group"), col("text").as("content")),
      q31Cfg,
      transientReg
    ))
  }

  /** Component assignment over the full corpus — q25 emits it and q42's
    * survivorship window consumes it; without the memo each query re-ran the
    * identical connected-components pass (distinct + collect + union-find +
    * relabel join) on the same memoized pair table. */
  private val componentsCached = sharedChains.declare("components") { (s, dir) =>
    val (pairs, nPairs) = lshVerifiedWithCount(s, dir)
    shared(Components.assignAll(encCached(s, dir), pairs, knownEdgeBound = nPairs))
  }

  /** The sqrt(n) coarse quantizer over the embeddings table — the exact
    * centroids q36 (IVF) and q37 (SemDeDup) would each recompute (an
    * identical sizing count job + centroid collect): n from one count,
    * nc = max(16, ceil(sqrt(n))) (the operators' shared adaptive default),
    * centroids = the nc lowest-vec_id embeddings. A pure function of the
    * input table, so the consumers' outputs are bitwise unchanged; pure
    * driver-side state (a few hundred centroid vectors). */
  private val embCentroidsCached = sharedChains.declare("emb_centroids") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val nc = math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    graft.ops.Similarity.centroids(emb, nc)
  }

  private val tokFilterSql =
    s"""length(token) > 1 AND NOT regexp_matches(token, '^[0-9]+$$')
       | AND NOT regexp_matches(token, '^[0-9]+(-[0-9]+)+$$')
       | AND token NOT IN ($stopListSql)""".stripMargin.replace("\n", " ")

  private val refTokensCte =
    s"""toks0 AS (SELECT doc_id, lang, unnest(list_distinct(regexp_extract_all(lower(text), '$tokenPatternSql'))) AS token FROM documents),
       |tok AS (SELECT doc_id, lang, token FROM toks0 WHERE $tokFilterSql)""".stripMargin.replace("\n", " ")

  private val prunedTokensCte =
    s"""$refTokensCte,
       |voc AS (SELECT token FROM tok GROUP BY token HAVING count(*) >= 2),
       |pt AS (SELECT tok.doc_id, tok.lang, tok.token FROM tok JOIN voc ON tok.token = voc.token),
       |sz AS (SELECT doc_id, count(*) AS n FROM pt GROUP BY doc_id)""".stripMargin.replace("\n", " ")

  /** Config for the oracle-checked detector queries (q23/q24/q25): 64x2 LSH
    * banding (capture ~1 - 1e-8 at sim 0.5) and an effectively-unbounded
    * bucket cap, so the emitted pair set deterministically equals the full
    * exact pair set and ANSI SQL can serve as the oracle. Production scale
    * runs keep the default 32x4 banding + bucket cap (see [[Config]]). */
  private val oracleLshCfg = Config(threshold = 0.5, bands = 64, maxBucket = 1 << 20)

  // ---- SQL renderings of the hash kernels (validated against DuckDB) ----

  /** Dense token ids: the engine assigns ids by token sort order
    * (Ids.assignDense), reproduced as a 0-based row_number. */
  private val vocabIdCte =
    """vid AS (SELECT token, row_number() OVER (ORDER BY token) - 1 AS tid
      |  FROM (SELECT DISTINCT token FROM pt) tt),
      |encx AS (SELECT pt.doc_id, pt.lang, vid.tid FROM pt JOIN vid ON pt.token = vid.token)""".stripMargin
      .replace("\n", " ")

  /** The 128 deterministic MinHash coefficient rows (same seed as Config). */
  private lazy val minhashCoefValues: String = {
    val cfg = Config()
    val (as, bs) = MinHash.coefficients(cfg.numPerms, cfg.seed)
    (0 until cfg.numPerms).map(i => s"(${i}, ${as(i)}, ${bs(i)})").mkString(", ")
  }

  private val U64 = "18446744073709551616" // 2^64

  /** (a * c) mod 2^64 for UBIGINT a and 64-bit constant c, via 32-bit split
    * (HUGEINT is signed int128 — a direct 64x64 product overflows it). */
  private def sqlMulMod64(v: String, c: String): String =
    s"CAST(((CAST(($v) & 4294967295 AS HUGEINT) * $c) + " +
      s"(((CAST(($v) >> 32 AS HUGEINT) * $c) % 4294967296) * 4294967296)) % $U64 AS UBIGINT)"

  /** SplitMix64 finalizer (SimHash token hash) over UBIGINT — bit-for-bit
    * equal to the JVM kernel (parity-tested against graft.dedup.SimHash). */
  private def simhashCtes(seed: Long): String = {
    val votes = (0 until 64)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val shBits = (0 until 64)
      .map(b => s"CASE WHEN v$b > 0 THEN ${java.lang.Long.toUnsignedString(1L << b)}::UBIGINT ELSE 0::UBIGINT END")
      .mkString(" + ")
    s"""h0 AS (SELECT doc_id, lang, CAST((CAST(xor(tid, $seed) AS HUGEINT) + 11400714819323198485) % $U64 AS UBIGINT) AS z0 FROM encx),
       |h1 AS (SELECT doc_id, lang, ${sqlMulMod64("xor(z0, z0 >> 30)", "13787848793156543929")} AS z1 FROM h0),
       |h2 AS (SELECT doc_id, lang, ${sqlMulMod64("xor(z1, z1 >> 27)", "10723151780598845931")} AS z2 FROM h1),
       |hh AS (SELECT doc_id, lang, xor(z2, z2 >> 31) AS h FROM h2),
       |votes AS (SELECT doc_id, lang, $votes FROM hh GROUP BY 1, 2),
       |sh AS (SELECT doc_id, lang, $shBits AS sh FROM votes)""".stripMargin.replace("\n", " ")
  }

  /** Exact within-lang Jaccard pairs at `minSim` over pruned tokens with
    * counts — shared tail of the q13/q23/q24 oracles. */
  private def pairsWithCountsSql(minSim: Double): String =
    s"""it AS (SELECT x.lang, x.doc_id AS a, y.doc_id AS b, count(*) AS inter_cnt
       |  FROM pt x JOIN pt y ON x.token = y.token AND x.lang = y.lang AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2, 3),
       |pc AS (SELECT it.lang, it.a, it.b, it.inter_cnt,
       |  sa.n + sb.n - it.inter_cnt AS union_cnt,
       |  CAST(it.inter_cnt AS DOUBLE) / (sa.n + sb.n - it.inter_cnt) AS sim
       |FROM it JOIN sz sa ON it.a = sa.doc_id JOIN sz sb ON it.b = sb.doc_id
       |WHERE CAST(it.inter_cnt AS DOUBLE) / (sa.n + sb.n - it.inter_cnt) >= $minSim)""".stripMargin
      .replace("\n", " ")

  /** The 32 x 64 gaussian hyperplane matrix of [[Similarity.lshCosineTopK]]
    * (seed 42) as DuckDB VALUES rows — Double.toString round-trips, so the
    * oracle's dot products operate on bit-identical weights. */
  private lazy val q28HyperplaneValues: String = {
    val hp = Similarity.hyperplanes(dim = 64, planes = 32, seed = 42L)
    hp.zipWithIndex
      .map { case (row, p) => s"($p, [${row.mkString(", ")}]::DOUBLE[])" }
      .mkString(", ")
  }

  /** The winnowing hash weights Base^(k-1-j) mod 2^61-1 (j = 0..15) as a
    * HUGEINT list literal: h(i) = sum_j ord(s[i+j]) * w[j] mod M is exactly
    * [[graft.dedup.SuffixDedup.fingerprints]]' rolling polynomial hash,
    * evaluated directly per position (each term < 2^77, the 16-term sum
    * < 2^81 — inside HUGEINT's int128). */
  private lazy val winnowPowersSql: String = {
    val M = (BigInt(1) << 61) - 1
    val base = BigInt(1000003)
    (0 until 16)
      .map(j => base.modPow(BigInt(15 - j), M).toString)
      .mkString("[", "::HUGEINT, ", "::HUGEINT]")
  }

  /** Winnowing candidate CTEs shared by the q31a/q31b oracles — recompute
    * [[graft.dedup.SuffixDedup.candidatePairs]] at (k=16, window=5,
    * maxFpDf=200) in SQL, ending in `wcand(lang, a, b)`. With maxFpDf <=
    * maxBucket no bucket can hit the chain-linking path, so this IS the
    * exact candidate set. Engine hashes UTF-16 code units, DuckDB walks code
    * points — equal on BMP text (all driver corpora). */
  private lazy val winnowCandCtes: String =
    s"""hh AS (SELECT doc_id, lang,
       |  list_transform(generate_series(1, length(text) - 15), i ->
       |    CAST(list_sum(list_transform(generate_series(0, 15), j ->
       |      CAST(unicode(substr(text, i + j, 1)) AS HUGEINT) * ($winnowPowersSql)[j + 1]))
       |     % 2305843009213693951 AS BIGINT)) AS hs
       |  FROM documents WHERE length(text) >= 16),
       |wnd AS (
       |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(hs) - 4),
       |    s2 -> list_min(list_slice(hs, s2, s2 + 4)))) AS fp
       |  FROM hh WHERE len(hs) > 5
       |  UNION ALL
       |  SELECT doc_id, lang, list_min(hs) AS fp FROM hh WHERE len(hs) <= 5),
       |fps AS (SELECT DISTINCT doc_id, lang, fp FROM wnd),
       |hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 200),
       |kept AS (SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot)),
       |wcand AS (SELECT DISTINCT x.lang, x.doc_id AS a, y.doc_id AS b
       |  FROM kept x JOIN kept y ON x.lang = y.lang AND x.fp = y.fp AND x.doc_id < y.doc_id)""".stripMargin
      .replace("\n", " ")

  /** DuckDB cosine between two DOUBLE[] columns, same evaluation shape as
    * [[Similarity.cosine]] (index-ordered products, left-to-right sums). */
  private def cosineSql(x: String, y: String): String =
    s"""list_sum(list_transform(generate_series(1, len($x)), i -> $x[i] * $y[i]))
       | / (sqrt(list_sum(list_transform($x, v -> v * v)))
       |    * sqrt(list_sum(list_transform($y, v -> v * v))))""".stripMargin.replace("\n", " ")

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
      // consumed three times (see docPairsBy). The compiled WordGramSet
      // kernel replaced the round-4 regexp + interpreted higher-order
      // transform + array_distinct chain (its first materialization was
      // ~7.5 s of the query's ~6 s median at sf0.1).
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
    // Training-shard sequence packing: global token-offset prefix sum in the
    // scalable two-pass form (range partition + per-partition sums + driver
    // fold; NO single-partition window), budget 4096 tokens per shard.
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
        .ivfCosineTopK(t(s, dir, "embeddings"), k = 3, nProbe = 4, reg = transientReg,
          knownCentroids = embCentroidsCached(s, dir))
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
      // the API default 1000 — the oracle below encodes this stride
      Multimodal.sampleFrames(Multimodal.synthesize(spread(t(s, dir, "documents"))), everyMs = 80L)),
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
      Similarity.semDedup(t(s, dir, "embeddings"), minCosine = 0.35, reg = transientReg,
        knownCentroids = embCentroidsCached(s, dir)))
  )

  def oracleSql: Map[String, String] = Map(
    "q01_agg_lineitem" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | sum(l_extendedprice) AS sum_price, avg(l_discount) AS avg_disc,
        | count(*) AS n FROM lineitem GROUP BY 1, 2""".stripMargin.replace("\n", " "),
    "q29_group_stats" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        | CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        | FROM documents GROUP BY 1""".stripMargin.replace("\n", " "),
    "q09_events_histogram" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1",
    "q02_topn_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    "q03_topn_per_customer" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        | FROM orders) WHERE rnk <= 3""".stripMargin.replace("\n", " "),
    "q04_join_revenue_by_nation" ->
      """SELECT n_name, sum(o_totalprice) AS revenue, count(*) AS n_orders
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""".stripMargin.replace("\n", " "),
    "q05_semi_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
    "q06_anti_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)",
    "q07_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS revenue
        | FROM lineitem WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin.replace("\n", " "),
    "q08_distinct" ->
      "SELECT DISTINCT o_custkey, o_orderpriority FROM orders",
    "q10_running_window" ->
      // DuckDB widens windowed sum(BIGINT) to HUGEINT — cast back to BIGINT
      // to match Spark's LongType (the round-1 hash mismatch).
      """SELECT event_id, user_id, CAST(sum(CAST(floor(value * 100) AS BIGINT))
        | OVER (PARTITION BY user_id ORDER BY ts, event_id
        | ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running FROM events""".stripMargin.replace("\n", " "),
    "q11_tokenize" ->
      s"WITH $refTokensCte SELECT doc_id, token FROM tok",
    "q12_vocab_df" ->
      s"WITH $refTokensCte SELECT token, count(*) AS df FROM tok GROUP BY token HAVING count(*) >= 2",
    "q13_doc_pairs" ->
      s"""WITH $prunedTokensCte,
         |it AS (SELECT x.lang, x.doc_id AS a, y.doc_id AS b, count(*) AS inter_cnt
         |  FROM pt x JOIN pt y ON x.token = y.token AND x.lang = y.lang AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2, 3)
         |SELECT it.lang, it.a, it.b, it.inter_cnt,
         |  sa.n + sb.n - it.inter_cnt AS union_cnt,
         |  CAST(it.inter_cnt AS DOUBLE) / (sa.n + sb.n - it.inter_cnt) AS sim
         |FROM it JOIN sz sa ON it.a = sa.doc_id JOIN sz sb ON it.b = sb.doc_id
         |WHERE CAST(it.inter_cnt AS DOUBLE) / (sa.n + sb.n - it.inter_cnt) >= 0.5""".stripMargin.replace("\n", " "),
    "q14_doc_top3" ->
      s"""WITH $prunedTokensCte,
         |it AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter_cnt
         |  FROM pt x JOIN pt y ON x.token = y.token AND x.lang = y.lang AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT it.a, it.b, CAST(it.inter_cnt AS DOUBLE) / (sa.n + sb.n - it.inter_cnt) AS sim
         |  FROM it JOIN sz sa ON it.a = sa.doc_id JOIN sz sb ON it.b = sb.doc_id
         |  WHERE CAST(it.inter_cnt AS DOUBLE) / (sa.n + sb.n - it.inter_cnt) >= 0.5),
         |sym AS (SELECT a AS doc_id, b AS neighbor, sim FROM p
         |  UNION ALL SELECT b AS doc_id, a AS neighbor, sim FROM p)
         |SELECT doc_id, neighbor, sim, rnk FROM (
         |  SELECT doc_id, neighbor, sim,
         |   row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, neighbor) AS rnk FROM sym)
         |WHERE rnk <= 3""".stripMargin.replace("\n", " "),
    "q30_pair_probe" ->
      s"""WITH $prunedTokensCte,
         |pr AS (SELECT d1.doc_id AS a FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 7),
         |it AS (SELECT x.doc_id AS a, count(*) AS inter_cnt
         |  FROM pt x JOIN pt y ON x.token = y.token AND y.doc_id = x.doc_id + 7 GROUP BY 1)
         |SELECT pr.a, pr.a + 7 AS b,
         |  CASE WHEN sa.n IS NULL OR sb.n IS NULL THEN NULL
         |   ELSE CAST(coalesce(it.inter_cnt, 0) AS DOUBLE) / (sa.n + sb.n - coalesce(it.inter_cnt, 0)) END AS sim,
         |  CAST((sa.n IS NULL OR sb.n IS NULL) AS INT) AS missing
         |FROM pr LEFT JOIN sz sa ON sa.doc_id = pr.a
         |LEFT JOIN sz sb ON sb.doc_id = pr.a + 7
         |LEFT JOIN it ON it.a = pr.a""".stripMargin.replace("\n", " "),
    "q31a_winnow_candidates" ->
      s"WITH $winnowCandCtes SELECT a, b FROM wcand",
    // q31b: the LAST detector in driver-verified form. Engine side = the full
    // winnow->verify pipeline (suffix-automaton LCS >= minMatch) projected to
    // ids; oracle side = the same candidate set filtered by EXISTENCE of a
    // shared 20-char gram — "LCS >= 20" and "shares a 20-gram" are the same
    // predicate (any common substring of length >= m contains an m-gram).
    // Exact lcs_len / containment stay sbt-verified (not ANSI-expressible).
    "q31b_substring_exists" ->
      s"""WITH $winnowCandCtes,
         |grams AS (SELECT doc_id, substr(text, CAST(i AS INT), 20) AS g
         |  FROM documents, UNNEST(generate_series(1, length(text) - 19)) AS t(i)
         |  WHERE length(text) >= 20)
         |SELECT c.lang, c.a, c.b FROM wcand c
         |WHERE EXISTS (SELECT 1 FROM grams ga JOIN grams gb ON ga.g = gb.g
         |  WHERE ga.doc_id = c.a AND gb.doc_id = c.b)""".stripMargin.replace("\n", " "),
    // q27: the engine emits every 2nd decoded frame (80 ms at the parsed 25
    // fps) with its exact luma sum; nf = 2 + id%4 so kept frames are 0, 2, 4.
    "q27_frame_sample" ->
      """WITH v AS (SELECT doc_id, (doc_id * 17) % 256 AS y0,
        |  (16 + 2 * (doc_id % 9)) * (16 + 2 * (doc_id % 7)) AS wh,
        |  2 + doc_id % 4 AS nf FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        | CAST(list_sum(list_transform(generate_series(0, wh - 1),
        |   p -> (y0 + f * 31 + p) % 256)) AS BIGINT) AS sum_luma
        |FROM v, UNNEST(generate_series(0, nf - 1)) AS t(f)
        |WHERE f % 2 = 0""".stripMargin.replace("\n", " "),
    "q15_dedup_exact" ->
      """SELECT d.doc_id, m.canon FROM documents d JOIN
        | (SELECT text, min(doc_id) AS canon FROM documents GROUP BY text) m
        | ON d.text = m.text""".stripMargin.replace("\n", " "),
    "q16_ngram_jaccard" ->
      """WITH tk AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |gr AS (SELECT DISTINCT doc_id, lang, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
        |  FROM tk, UNNEST(generate_series(1, len(ts) - 2)) AS u(i) WHERE len(ts) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY 1),
        |it AS (SELECT x.lang, x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |  FROM gr x JOIN gr y ON x.gram = y.gram AND x.lang = y.lang AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3)
        |SELECT it.lang, it.a, it.b, CAST(it.c AS DOUBLE) / (sa.n + sb.n - it.c) AS sim
        |FROM it JOIN sz sa ON it.a = sa.doc_id JOIN sz sb ON it.b = sb.doc_id
        |WHERE CAST(it.c AS DOUBLE) / (sa.n + sb.n - it.c) >= 0.2""".stripMargin.replace("\n", " "),
    "q17_quality" ->
      s"""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
         |sw AS (SELECT doc_id, count(*) AS n_stop FROM w WHERE tok IN ($stopListSql) GROUP BY 1)
         |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
         | CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS BIGINT) AS n_words,
         | CAST(coalesce(sw.n_stop, 0) AS BIGINT) AS n_stopwords,
         | CAST(length(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS n_alnum,
         | CASE WHEN len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) > 0
         |  THEN CAST(coalesce(sw.n_stop, 0) AS DOUBLE) / len(regexp_extract_all(lower(d.text), '[a-z0-9]+'))
         |  ELSE 0.0 END AS stopword_ratio,
         | CASE WHEN length(d.text) > 0
         |  THEN CAST(length(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g')) AS DOUBLE) / length(d.text)
         |  ELSE 0.0 END AS alnum_ratio
         |FROM documents d LEFT JOIN sw ON d.doc_id = sw.doc_id""".stripMargin.replace("\n", " "),
    "q18_token_count" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
        | FROM documents""".stripMargin.replace("\n", " "),
    "q19_langid" ->
      s"""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
         |sw AS (SELECT doc_id, count(*) AS n_stop FROM w WHERE tok IN ($stopListSql) GROUP BY 1)
         |SELECT d.doc_id,
         | CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS BIGINT) AS n_words,
         | CAST(coalesce(sw.n_stop, 0) AS BIGINT) AS n_en_function_words,
         | CASE WHEN len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) > 0
         |  THEN CAST(coalesce(sw.n_stop, 0) AS DOUBLE) / len(regexp_extract_all(lower(d.text), '[a-z0-9]+'))
         |  ELSE 0.0 END AS en_score,
         | CAST((CASE WHEN len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) > 0
         |  THEN CAST(coalesce(sw.n_stop, 0) AS DOUBLE) / len(regexp_extract_all(lower(d.text), '[a-z0-9]+'))
         |  ELSE 0.0 END) > 0.05 AS INT) AS looks_english
         |FROM documents d LEFT JOIN sw ON d.doc_id = sw.doc_id""".stripMargin.replace("\n", " "),
    "q20_fingerprint" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |gr AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
        |  FROM tk, UNNEST(generate_series(1, len(ts) - 2)) AS u(i) WHERE len(ts) >= 3
        | UNION ALL
        | SELECT doc_id, array_to_string(ts, ' ') AS gram FROM tk WHERE len(ts) < 3)
        |SELECT doc_id, min(md5(gram)) AS fingerprint FROM gr GROUP BY 1""".stripMargin.replace("\n", " "),
    "q21_cosine_top3" ->
      """WITH p AS (SELECT x.vec_id AS a, y.vec_id AS b,
        |  list_sum(list_transform(generate_series(1, len(x.embedding)),
        |    i -> CAST(x.embedding[i] AS DOUBLE) * y.embedding[i]))
        |  / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * v)))
        |     * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * v)))) AS cosine
        |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id),
        |sym AS (SELECT a AS vec_id, b AS neighbor, cosine FROM p
        |  UNION ALL SELECT b AS vec_id, a AS neighbor, cosine FROM p)
        |SELECT vec_id, neighbor, rnk FROM (
        |  SELECT vec_id, neighbor,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor) AS rnk FROM sym)
        |WHERE rnk <= 3""".stripMargin.replace("\n", " "),
    "q22_minhash_sigs" ->
      s"""WITH $prunedTokensCte,
         |$vocabIdCte,
         |coef(perm, ca, cb) AS (VALUES $minhashCoefValues)
         |SELECT encx.doc_id, CAST(coef.perm AS BIGINT) AS perm,
         |  min((CAST(coef.ca AS BIGINT) * encx.tid + coef.cb) % 2147483647) AS min_val
         |FROM encx CROSS JOIN coef GROUP BY 1, 2""".stripMargin.replace("\n", " "),
    "q23_lsh_pairs" ->
      s"""WITH $prunedTokensCte,
         |${pairsWithCountsSql(0.5)}
         |SELECT lang, a, b, inter_cnt, union_cnt, sim FROM pc""".stripMargin.replace("\n", " "),
    "q24_simhash_pairs" ->
      s"""WITH $prunedTokensCte,
         |$vocabIdCte,
         |${simhashCtes(42L)},
         |cp AS (SELECT x.doc_id AS a, y.doc_id AS b FROM sh x JOIN sh y
         |  ON x.lang = y.lang AND x.doc_id < y.doc_id AND bit_count(xor(x.sh, y.sh)) <= 3),
         |${pairsWithCountsSql(0.5)}
         |SELECT pc.lang, pc.a, pc.b, pc.inter_cnt, pc.union_cnt, pc.sim
         |FROM pc JOIN cp ON pc.a = cp.a AND pc.b = cp.b""".stripMargin.replace("\n", " "),
    "q25_components" ->
      s"""WITH RECURSIVE $prunedTokensCte,
         |${pairsWithCountsSql(0.5)},
         |e AS (SELECT a AS u, b AS v FROM pc UNION ALL SELECT b, a FROM pc),
         |r(node, lab) AS (SELECT u, u FROM (SELECT DISTINCT u FROM e) t
         |  UNION SELECT e.v, r.lab FROM r JOIN e ON r.node = e.u),
         |cc AS (SELECT node, min(lab) AS cluster_id FROM r GROUP BY node)
         |SELECT sz.doc_id, CAST(coalesce(cc.cluster_id, sz.doc_id) AS BIGINT) AS cluster_id
         |FROM sz LEFT JOIN cc ON sz.doc_id = cc.node""".stripMargin.replace("\n", " "),
    // identical full-recompute oracle as q25 — the incremental merge must
    // converge to the same assignment
    "q25b_components_incremental" ->
      s"""WITH RECURSIVE $prunedTokensCte,
         |${pairsWithCountsSql(0.5)},
         |e AS (SELECT a AS u, b AS v FROM pc UNION ALL SELECT b, a FROM pc),
         |r(node, lab) AS (SELECT u, u FROM (SELECT DISTINCT u FROM e) t
         |  UNION SELECT e.v, r.lab FROM r JOIN e ON r.node = e.u),
         |cc AS (SELECT node, min(lab) AS cluster_id FROM r GROUP BY node)
         |SELECT sz.doc_id, CAST(coalesce(cc.cluster_id, sz.doc_id) AS BIGINT) AS cluster_id
         |FROM sz LEFT JOIN cc ON sz.doc_id = cc.node""".stripMargin.replace("\n", " "),
    // q25's clustering + the survivorship window: keep = best (n_chars DESC,
    // doc_id ASC) member of each cluster
    "q42_cluster_representatives" ->
      s"""WITH RECURSIVE $prunedTokensCte,
         |${pairsWithCountsSql(0.5)},
         |e AS (SELECT a AS u, b AS v FROM pc UNION ALL SELECT b, a FROM pc),
         |r(node, lab) AS (SELECT u, u FROM (SELECT DISTINCT u FROM e) t
         |  UNION SELECT e.v, r.lab FROM r JOIN e ON r.node = e.u),
         |cc AS (SELECT node, min(lab) AS cluster_id FROM r GROUP BY node),
         |asg AS (SELECT sz.doc_id, CAST(coalesce(cc.cluster_id, sz.doc_id) AS BIGINT) AS cluster_id
         |  FROM sz LEFT JOIN cc ON sz.doc_id = cc.node)
         |SELECT a.doc_id, a.cluster_id,
         | (row_number() OVER (PARTITION BY a.cluster_id ORDER BY d.n_chars DESC, a.doc_id) = 1) AS keep
         |FROM asg a JOIN documents d ON a.doc_id = d.doc_id""".stripMargin.replace("\n", " "),
    "q43_shard_pack" ->
      """WITH n AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents)
        |SELECT doc_id, n_tokens,
        | CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset,
        | CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS shard_id
        |FROM n""".stripMargin.replace("\n", " "),
    "q44_latest_version" ->
      """SELECT doc_id, doc_id % 7 AS repo, doc_id % 13 AS path,
        | (row_number() OVER (PARTITION BY doc_id % 7, doc_id % 13
        |    ORDER BY doc_id DESC, doc_id ASC) = 1) AS keep
        |FROM documents""".stripMargin.replace("\n", " "),
    "q45_vendored_flags" ->
      """WITH h AS (SELECT doc_id, doc_id % 7 AS repo, md5(substr(text, 1, 64)) AS h FROM documents),
        |c AS (SELECT h, count(DISTINCT repo) AS n_repos FROM h GROUP BY h)
        |SELECT h.doc_id, h.repo, CAST(c.n_repos AS BIGINT) AS n_repos, c.n_repos >= 3 AS vendored
        |FROM h JOIN c USING (h)""".stripMargin.replace("\n", " "),
    "q35_top_pairs_per_group" ->
      s"""WITH $prunedTokensCte,
         |${pairsWithCountsSql(0.5)}
         |SELECT lang, a, b, sim FROM (
         |  SELECT lang, a, b, sim,
         |   row_number() OVER (PARTITION BY lang ORDER BY sim DESC, a, b) AS rnk FROM pc)
         |WHERE rnk <= 5""".stripMargin.replace("\n", " "),
    "q28_lsh_cosine_top3" ->
      s"""WITH hp(p, w) AS (VALUES $q28HyperplaneValues),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |dots AS (SELECT e.vec_id, hp.p,
         |  list_sum(list_transform(generate_series(1, len(e.v)), i -> e.v[i] * hp.w[i])) AS d
         |  FROM e CROSS JOIN hp),
         |sk AS (SELECT vec_id, CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS sketch
         |  FROM dots GROUP BY 1),
         |blk AS (SELECT vec_id, t.b, (sketch >> (t.b * 8)) & 255 AS bv
         |  FROM sk CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)),
         |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM blk x JOIN blk y ON x.b = y.b AND x.bv = y.bv AND x.vec_id < y.vec_id),
         |pc AS (SELECT cand.a, cand.b, ${cosineSql("x.v", "y.v")} AS cosine
         |  FROM cand JOIN e x ON cand.a = x.vec_id JOIN e y ON cand.b = y.vec_id),
         |sym AS (SELECT a AS vec_id, b AS neighbor, cosine FROM pc
         |  UNION ALL SELECT b, a, cosine FROM pc)
         |SELECT vec_id, neighbor, rnk FROM (
         |  SELECT vec_id, neighbor,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor) AS rnk FROM sym)
         |WHERE rnk <= 3""".stripMargin.replace("\n", " "),
    "q36_ivf_cosine_top3" ->
      s"""WITH nc AS (SELECT greatest(16, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS n
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT n FROM nc)),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |scores AS (SELECT e.vec_id, cent.cid, ${cosineSql("e.v", "cent.cv")} AS score
         |  FROM e CROSS JOIN cent),
         |pr AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS pr
         |  FROM scores WHERE NOT isnan(score)),
         |assign AS (SELECT vec_id, cid FROM pr WHERE pr = 1),
         |probes AS (SELECT vec_id, cid FROM pr WHERE pr <= 4),
         |cand AS (SELECT p.vec_id, a.vec_id AS neighbor FROM probes p
         |  JOIN assign a ON p.cid = a.cid AND a.vec_id <> p.vec_id),
         |pc AS (SELECT cand.vec_id, cand.neighbor, ${cosineSql("x.v", "y.v")} AS cosine
         |  FROM cand JOIN e x ON cand.vec_id = x.vec_id JOIN e y ON cand.neighbor = y.vec_id)
         |SELECT vec_id, neighbor, rnk FROM (
         |  SELECT vec_id, neighbor,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor) AS rnk
         |   FROM pc WHERE NOT isnan(cosine))
         |WHERE rnk <= 3""".stripMargin.replace("\n", " "),
    "q34_case_control" ->
      s"""WITH $prunedTokensCte,
         |${pairsWithCountsSql(0.5)},
         |sym AS (SELECT lang, a AS probe, b AS matched, sim FROM pc
         |  UNION ALL SELECT lang, b AS probe, a AS matched, sim FROM pc),
         |cc AS (SELECT lang, probe, matched, sim,
         |  row_number() OVER (PARTITION BY probe ORDER BY sim DESC, matched) AS rank
         |  FROM sym WHERE probe % 10 = 0 AND matched % 10 <> 0 AND sim >= 0.05)
         |SELECT lang, probe, matched, rank, sim FROM cc WHERE rank <= 3""".stripMargin
        .replace("\n", " "),
    // q34 plus the seeded control sample: keep control c iff
    // (SplitMix64(c ^ 7) >>> 1) % 100 < 50, recomputed here with the same
    // UBIGINT mix chain the q24 simhash oracle validates bit-for-bit.
    "q34b_sampled_controls" ->
      s"""WITH $prunedTokensCte,
         |${pairsWithCountsSql(0.5)},
         |mx0 AS (SELECT doc_id, CAST((CAST(xor(doc_id, 7) AS HUGEINT) + 11400714819323198485) % $U64 AS UBIGINT) AS z0 FROM documents),
         |mx1 AS (SELECT doc_id, ${sqlMulMod64("xor(z0, z0 >> 30)", "13787848793156543929")} AS z1 FROM mx0),
         |mx2 AS (SELECT doc_id, ${sqlMulMod64("xor(z1, z1 >> 27)", "10723151780598845931")} AS z2 FROM mx1),
         |keep AS (SELECT doc_id FROM (SELECT doc_id, xor(z2, z2 >> 31) AS h FROM mx2)
         |  WHERE (h >> 1) % 100 < 50),
         |sym AS (SELECT lang, a AS probe, b AS matched, sim FROM pc
         |  UNION ALL SELECT lang, b AS probe, a AS matched, sim FROM pc),
         |cc AS (SELECT lang, probe, matched, sim,
         |  row_number() OVER (PARTITION BY probe ORDER BY sim DESC, matched) AS rank
         |  FROM sym WHERE probe % 10 = 0 AND matched % 10 <> 0 AND sim >= 0.05
         |    AND matched IN (SELECT doc_id FROM keep))
         |SELECT lang, probe, matched, rank, sim FROM cc WHERE rank <= 3""".stripMargin
        .replace("\n", " "),
    "q32_two_key_stats" ->
      s"""WITH toks0 AS (SELECT doc_id, lang, source, unnest(list_distinct(regexp_extract_all(lower(text), '$tokenPatternSql'))) AS token FROM documents),
         |tok AS (SELECT doc_id, lang, source, token FROM toks0 WHERE $tokFilterSql),
         |voc AS (SELECT token FROM tok GROUP BY token HAVING count(*) >= 2),
         |pt AS (SELECT tok.doc_id, tok.lang, tok.source, tok.token FROM tok JOIN voc ON tok.token = voc.token),
         |sz AS (SELECT doc_id, count(*) AS n FROM pt GROUP BY doc_id),
         |it AS (SELECT x.lang, x.source, x.doc_id AS a, y.doc_id AS b, count(*) AS inter_cnt
         |  FROM pt x JOIN pt y ON x.token = y.token AND x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |p AS (SELECT it.lang, it.source, it.a, it.b,
         |  CAST(it.inter_cnt AS DOUBLE) / (sa.n + sb.n - it.inter_cnt) AS sim
         |  FROM it JOIN sz sa ON it.a = sa.doc_id JOIN sz sb ON it.b = sb.doc_id
         |  WHERE CAST(it.inter_cnt AS DOUBLE) / (sa.n + sb.n - it.inter_cnt) >= 0.5),
         |st AS (SELECT lang, source, count(*) AS n_pairs, min(sim) AS min_sim, max(sim) AS max_sim
         |  FROM p GROUP BY 1, 2),
         |sym AS (SELECT lang, source, a AS doc FROM p UNION ALL SELECT lang, source, b FROM p),
         |nd AS (SELECT lang, source, count(DISTINCT doc) AS n_docs FROM sym GROUP BY 1, 2)
         |SELECT st.lang, st.source, st.n_pairs, nd.n_docs, st.min_sim, st.max_sim
         |FROM st JOIN nd ON st.lang = nd.lang AND st.source = nd.source""".stripMargin.replace("\n", " "),
    "q26_multimodal_features" ->
      """WITH m AS (SELECT doc_id, doc_id % 3 AS md, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h,
        | (doc_id * 7) % 256 AS r0, (doc_id * 11) % 256 AS g0, (doc_id * 13) % 256 AS b0,
        | 256 + doc_id % 256 AS ns,
        | 16 + 2 * (doc_id % 9) AS vw, 16 + 2 * (doc_id % 7) AS vh,
        | 2 + doc_id % 4 AS nf, (doc_id * 17) % 256 AS y0
        | FROM documents)
        |SELECT doc_id AS media_id,
        | CASE WHEN md = 0 THEN 'image' WHEN md = 1 THEN 'audio' ELSE 'video' END AS modality,
        | CASE WHEN md = 0 THEN NULL
        |  WHEN md = 1 THEN CAST(44 + 2 * ns AS BIGINT)
        |  ELSE CAST(41 + nf * (6 + 3 * vw * vh // 2) AS BIGINT) END AS n_bytes,
        | CASE WHEN md = 0 THEN w WHEN md = 2 THEN vw END AS width,
        | CASE WHEN md = 0 THEN h WHEN md = 2 THEN vh END AS height,
        | CASE WHEN md = 0 THEN h * list_sum(list_transform(generate_series(0, w - 1), x -> (r0 + x) % 256)) END AS sum_r,
        | CASE WHEN md = 0 THEN h * list_sum(list_transform(generate_series(0, w - 1), x -> (g0 + x) % 256)) END AS sum_g,
        | CASE WHEN md = 0 THEN h * list_sum(list_transform(generate_series(0, w - 1), x -> (b0 + x) % 256)) END AS sum_b,
        | CASE WHEN md = 1 THEN CAST(8000 AS BIGINT) END AS sample_rate,
        | CASE WHEN md = 1 THEN CAST(ns AS BIGINT) END AS n_samples,
        | CASE WHEN md = 1 THEN CAST(list_sum(list_transform(generate_series(0, ns - 1),
        |   i -> (doc_id * 7919 + i * 2663) % 65536 - 32768)) AS BIGINT) END AS sum_amp,
        | CASE WHEN md = 2 THEN CAST(25 AS BIGINT) END AS fps,
        | CASE WHEN md = 2 THEN CAST(nf AS BIGINT) END AS n_frames,
        | CASE WHEN md = 2 THEN CAST(list_sum(list_transform(generate_series(0, nf * vw * vh - 1),
        |   q -> (y0 + (q // (vw * vh)) * 31 + q % (vw * vh)) % 256)) AS BIGINT) END AS sum_luma,
        | CAST(64 AS BIGINT) AS dim
        |FROM m""".stripMargin.replace("\n", " "),
    "q33_embedding_neardup" ->
      """SELECT a, b FROM (SELECT x.vec_id AS a, y.vec_id AS b,
        |  list_sum(list_transform(generate_series(1, len(x.embedding)),
        |    i -> CAST(x.embedding[i] AS DOUBLE) * y.embedding[i]))
        |  / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * v)))
        |     * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * v)))) AS cosine
        |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id)
        |WHERE cosine >= 0.35""".stripMargin.replace("\n", " "),
    // q41: q17's stopword IN-list inside a list_filter lambda + q38's gram
    // metrics, conjoined with SQL three-valued AND (false AND NULL = false
    // covers the short-doc NULL metrics in both engines)
    "q41_quality_filter" ->
      s"""WITH w AS (SELECT doc_id, length(text) AS n_chars,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
         |g AS (SELECT doc_id, n_chars, ws,
         |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg FROM w),
         |s AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CASE WHEN len(ws) > 0
         |    THEN CAST(len(list_filter(ws, x -> x IN ($stopListSql))) AS DOUBLE) / len(ws)
         |    ELSE 0.0 END AS stopword_ratio,
         |  CASE WHEN len(ws) > 0
         |    THEN CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) END AS dup_word_frac,
         |  CASE WHEN len(bg) > 0 THEN CAST(list_max(list_transform(list_distinct(bg),
         |    x -> len(list_filter(bg, y -> y = x)) * length(x))) AS DOUBLE) / n_chars
         |    END AS top_bigram_char_frac
         |  FROM g)
         |SELECT doc_id, n_words, stopword_ratio, dup_word_frac, top_bigram_char_frac,
         |  (n_words >= 20 AND stopword_ratio >= 0.05 AND dup_word_frac <= 0.6
         |   AND top_bigram_char_frac <= 0.2) AS keep
         |FROM s""".stripMargin.replace("\n", " "),
    // q40: same word regex + 1-based 13-gram construction; per-doc grams
    // deduped (list_distinct) before the join exactly like the Spark side
    "q40_decontaminate" -> {
      val gram13 = (0 until 13).map(o => s"ws[i+$o]").mkString(" || ' ' || ")
      val phrase = (0 until 13).map(i => s"xq$i").mkString(" ", " ", "")
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 97 = 0 OR doc_id % 50 = 1 THEN text || '$phrase' ELSE text END AS text
         |  FROM documents),
         |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM d),
         |g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 11), i -> $gram13)) AS gs FROM w),
         |bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0),
         |tg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 <> 0),
         |hits AS (SELECT doc_id, count(*) AS n_hits FROM tg JOIN bg USING (gram) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits, coalesce(h.n_hits, 0) > 0 AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
         |LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin.replace("\n", " ")
    },
    // q39: identical planted-PII construction, regexes in the Java/RE2
    // common subset; single-quoted SQL literals pass backslashes raw
    "q39_redact" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
        |    || CAST(doc_id % 256 AS VARCHAR) || '.7 token ' || md5(CAST(doc_id AS VARCHAR)) || ' end' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\b[0-9a-f]{32,}\b')) AS BIGINT) AS n_secrets,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9a-f]{32,}\b', '<SECRET>', 'g') AS redacted
        |FROM d""".stripMargin.replace("\n", " "),
    // q38: same word regex as q17; n-grams via 1-based list indexing (both
    // engines), fractions are single int/int divisions in double
    "q38_repetition" ->
      """WITH w AS (SELECT doc_id, length(text) AS n_chars,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
        |g AS (SELECT doc_id, n_chars, ws,
        |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg,
        |    list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tg
        |  FROM w)
        |SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CASE WHEN len(ws) > 0 THEN CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) END AS dup_word_frac,
        |  CASE WHEN len(tg) > 0 THEN CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg) END AS dup_trigram_frac,
        |  CASE WHEN len(bg) > 0 THEN CAST(list_max(list_transform(list_distinct(bg),
        |    x -> len(list_filter(bg, y -> y = x)) * length(x))) AS DOUBLE) / n_chars END AS top_bigram_char_frac
        |FROM g""".stripMargin.replace("\n", " "),
    // q37: same deterministic quantizer CTEs as q36, then the SemDeDup keep
    // rule — removed iff a lower-vec_id same-cluster member is >= threshold
    "q37_semdedup" ->
      s"""WITH nc AS (SELECT greatest(16, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS n
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT n FROM nc)),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |scores AS (SELECT e.vec_id, cent.cid, ${cosineSql("e.v", "cent.cv")} AS score
         |  FROM e CROSS JOIN cent),
         |pr AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS pr
         |  FROM scores WHERE NOT isnan(score)),
         |assign AS (SELECT vec_id, cid FROM pr WHERE pr = 1),
         |m AS (SELECT a.cid, a.vec_id, e.v FROM assign a JOIN e ON a.vec_id = e.vec_id),
         |rem AS (SELECT DISTINCT y.vec_id AS vec_id FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |  WHERE ${cosineSql("x.v", "y.v")} >= 0.35)
         |SELECT a.vec_id, a.cid, (r.vec_id IS NULL) AS kept
         |FROM assign a LEFT JOIN rem r ON a.vec_id = r.vec_id""".stripMargin.replace("\n", " ")
  )
}

/** One memo for named cross-query chains, keyed by (session, dir, name).
  * Chains are declared once, in warm order; warming, timing and releasing
  * iterate that declaration, so no other code lists the chains. Entries of
  * stopped sessions are dropped before each lookup (their blocks died with
  * the session). Builds are serialized: TrieMap.getOrElseUpdate may run a
  * build in two racing threads and keep one, but the discarded one has
  * already persisted its copy. The lock is re-entrant, so a build may read
  * other chains. */
private[graft] final class SharedChains {
  private val memo = TrieMap.empty[(SparkSession, String, String), Any]
  private val declared = ArrayBuffer.empty[Chain[_]]

  final class Chain[T] private[SharedChains] (val name: String, build: (SparkSession, String) => T) {
    declared += this
    def apply(s: SparkSession, dir: String): T = memo.synchronized {
      memo.filterInPlace { case ((sess, _, _), _) => !sess.sparkContext.isStopped }
      memo.getOrElseUpdate((s, dir, name), build(s, dir)).asInstanceOf[T]
    }
  }

  /** Declare the next chain in warm order. */
  def declare[T](name: String)(build: (SparkSession, String) => T): Chain[T] = new Chain(name, build)

  def chains: Seq[Chain[_]] = declared.toSeq

  def warm(s: SparkSession, dir: String): Unit = declared.foreach(_(s, dir))

  /** Forget every memoized value; the caller unpersists their caches. */
  def release(): Unit = memo.clear()

  def size: Int = memo.size
}
