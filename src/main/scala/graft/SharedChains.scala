package graft

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import graft.dedup.{CacheRegistry, Components, Config, Ids, IntersectCountSorted, Jaccard, MinHash, SuffixDedup, Tokenize, Vocabulary}
import graft.dedup.Par.spread
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The memoized cross-query chains behind [[SparkEntry.queries]], their cache
  * registries, and the prefix-filtered exact-Jaccard tail (q13's family and
  * q16).
  *
  * TRANSIENT caches: per-query scaffolding (tokenizer output, per-doc set
  * tables, id-assignment copies). The driver mains (Bench, Verify) call
  * SparkEntry.releaseTransientCaches() after materializing each query, so
  * query k's caches never compete with query k+1's memory — the round-4
  * bench session accumulated ~10 MEMORY_AND_DISK tables across its 37
  * queries.
  *
  * SHARED caches: memoized cross-query intermediates (the encoded corpus,
  * the LSH-verified pair table, the exact pair table) that the q13/q14/
  * q34/q35 and q23/q24/q25 families would otherwise rebuild per query —
  * the round-4 q25 regression was exactly this chain re-running. One memo
  * keyed by (session, dir, chain name) — see the [[SharedChains]] class;
  * released between bench reps / at suite end.
  *
  * Transient registries are PER-THREAD: a process-global registry would let
  * one caller's releaseTransientCaches() unpersist another thread's
  * in-flight scaffolding — Ids.assignDense's correctness depends on its
  * persisted range-partitioned copy surviving from the eager count job to
  * the lazy stamp job (Ids.scala). Under the driver contract a query's
  * build + materialize + release all run on the caller's thread, so thread
  * scope exactly matches cache lifetime; a release issued from a DIFFERENT
  * thread now simply misses (a bounded leak, reclaimed at session stop)
  * instead of corrupting a neighbour's id assignment. */
private[graft] object SharedChains {

  private val transientRegs: ThreadLocal[CacheRegistry] =
    ThreadLocal.withInitial(() => new CacheRegistry)
  def transientReg: CacheRegistry = transientRegs.get()
  val sharedReg = new CacheRegistry
  /** The memoized cross-query intermediates, declared below in warm order. */
  val memo = new SharedChains

  /** Persist + eagerly materialize a shared intermediate. */
  private def shared(df: DataFrame): DataFrame = {
    val p = sharedReg.persist(df)
    p.count()
    p
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Config for the oracle-checked detector queries (q23/q24/q25): 64x2 LSH
    * banding (capture ~1 - 1e-8 at sim 0.5) and an effectively-unbounded
    * bucket cap, so the emitted pair set deterministically equals the full
    * exact pair set and ANSI SQL can serve as the oracle. Production scale
    * runs keep the default 32x4 banding + bucket cap (see [[Config]]). */
  val oracleLshCfg = Config(threshold = 0.5, bands = 64, maxBucket = 1 << 20)

  val q31Cfg = SuffixDedup.SubConfig(k = 16, window = 5, minMatch = 20)

  // ---- the exact-Jaccard tail ----

  /** Exact within-group Jaccard pairs with PPJoin-style PREFIX FILTERING
    * (Chaudhuri/Ganti/Kaushik SSJoin, ICDE'06; Xiao et al. PPJoin, WWW'08):
    * encode elements to dense ints in (df asc, element asc) order, join only
    * each doc's prefix, verify survivors on the full sorted-int sets.
    * Reference semantics are the exact inverted-index all-pairs join
    * (code/Stage05ComputeSimilarity.py:98-140); the output is
    * bitwise-identical — the prefix filter only prunes the CANDIDATE join.
    *
    * Why it is safe: J(x,y) >= t implies |x n y| >= ceil(t*|x|) and
    * >= ceil(t*|y|) (size filter: |y| >= |x n y| substituted into the Jaccard
    * bound). Prefix lemma: under any shared total token order, if
    * |x n y| >= a_x and >= a_y, the first |x|-a_x+1 tokens of x and the first
    * |y|-a_y+1 tokens of y must share an element (all common elements would
    * otherwise sit above the lower prefix boundary, but only a_x-1 elements
    * of x do). So joining only each doc's prefix under a RARE-FIRST order
    * finds every pair at sim >= t while the join volume drops from
    * sum(df^2) over ALL elements to the prefix elements only — the frequent
    * elements that dominate the quadratic cost sort to the back and fall out
    * of most prefixes.
    *
    * `elems`: (doc_id, keys..., col named `elemCol`), distinct per doc;
    * `edf`: (elemCol, df) — the element universe (pre-pruned as the caller
    * requires). Pairs are generated WITHIN each distinct `keys` combination. */
  def pairsWithPrefixFilter(
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
  val encodedChain = memo.declare("encoded") { (s, dir) =>
    val cfg = oracleLshCfg
    val base = transientReg.persist(
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang").as("group"), Tokenize.tokenSet(col("text"), cfg.shingleK).as("tokens"))
        .filter(size(col("tokens")) > 0)
    )
    // vocabRows comes free from the dense-id stamp's per-partition count
    // pass — no separate count job for the encode-plan choice
    val (vocab0, vocabRows) = Vocabulary.buildWithCount(base, cfg, transientReg)
    val vocab = sharedReg.persist(vocab0)
    val enc = sharedReg.persist(Vocabulary.encode(base, vocab, vocabRows = Some(vocabRows)))
    val encRows = enc.count() // materializes enc AND vocab (its input)
    (enc, vocab, vocabRows, encRows)
  }

  def encCached(s: SparkSession, dir: String): DataFrame = encodedChain(s, dir)._1

  /** Memoized vocabulary (token, df, token_id) + its row count. */
  def vocabCached(s: SparkSession, dir: String): (DataFrame, Long) = {
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
  val lshVerifiedWithCount = memo.declare("lsh_verified") { (s, dir) =>
    val cfg = oracleLshCfg
    val (enc, _, _, encRows) = encodedChain(s, dir)
    // persisted: the known doc count bounds every band bucket's size, and
    // at this config (64x2, maxBucket 1<<20) a bound <= maxBucket selects
    // candidatePairs' first-collision walk. Transient — dead once the
    // count below has materialized.
    val sigs = transientReg.persist(MinHash.withSignature(enc, cfg))
    val pairs = sharedReg.persist(Jaccard.verifyCounts(
      MinHash.candidatePairs(sigs, cfg, docCountBound = encRows),
      enc,
      cfg.threshold
    ))
    (pairs, pairs.count())
  }

  def lshVerifiedCached(s: SparkSession, dir: String): DataFrame = lshVerifiedWithCount(s, dir)._1

  /** Exact within-lang Jaccard pair table at threshold 0.5 — the
    * q13/q14/q34/q34b/q35 family all rank or filter this one table; round 4
    * re-ran the full PPJoin per query (~3-7 s each). */
  val exactPairsCached = memo.declare("exact_pairs") { (s, dir) =>
    shared(exactPairs(s, dir, remapCap = oracleLshCfg.broadcastMaxVocab))
  }

  /** The exact pair table's plan, built FROM THE MEMOIZED ENCODED CORPUS: the
    * encode already holds each doc's min-df-pruned token set as a sorted int
    * array, so the tokenizer runs once per build. Jaccard counts are
    * invariant under the token<->id bijection, and token ids are assigned in
    * token-ascending order, so (df, token_id) is the same rare-first order as
    * (df, token): the emitted (lang, a, b, inter_cnt, union_cnt, sim) rows
    * are those of the string-keyed join (oracle q13).
    *
    * Vocabularies up to `remapCap` rows remap the ids into rare-first order
    * NARROWLY (broadcast int[] lookup + sort, no shuffle); larger ones, whose
    * remap array need not fit one executor, take the generic
    * [[pairsWithPrefixFilter]] over the exploded ids. */
  def exactPairs(s: SparkSession, dir: String, remapCap: Long): DataFrame = {
    val (enc, vocab, vocabRows, _) = encodedChain(s, dir)
    if (vocabRows <= remapCap) {
      // The rank is computed on the DRIVER from the collected skinny
      // (token_id, df) table — callers cap remapCap at broadcastMaxVocab,
      // the same bound under which the encode already collects the full
      // dictionary, so the sort is bounded arithmetic (<= 8M longs), and it
      // replaces the distributed range-stamp's persist + sample + count jobs
      // with the one collect we need anyway.
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
      prefixVerifyFromSets(sets, nSingletons = 0L, 0.5, Seq("lang"))
    } else
      pairsWithPrefixFilter(
        enc.select(col("doc_id"), col("group").as("lang"), explode(col("tokens")).as("token_id")),
        vocab.select(col("token_id").cast("int"), col("df")),
        "token_id",
        0.5,
        Seq("lang")
      )
  }

  /** Winnow candidate pairs at [[q31Cfg]] — q31a projects them and q31b's
    * suffix-automaton verify consumes them; without the memo each query
    * rebuilt the fingerprint -> df-cap -> bucket-pair chain. */
  val winnowCandCached = memo.declare("winnow_candidates") { (s, dir) =>
    shared(SuffixDedup.candidatePairs(
      // spread: the rolling-hash + winnow kernel runs at cluster
      // parallelism, not scan-split count (one task on a sub-MB file)
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang").as("group"), col("text").as("content")),
      q31Cfg
    ))
  }

  /** Component assignment over the full corpus — q25 emits it and q42's
    * survivorship window consumes it; without the memo each query re-ran the
    * identical connected-components pass (distinct + collect + union-find +
    * relabel join) on the same memoized pair table. */
  val componentsCached = memo.declare("components") { (s, dir) =>
    val (pairs, nPairs) = lshVerifiedWithCount(s, dir)
    shared(Components.assignAll(encCached(s, dir), pairs, knownEdgeBound = nPairs))
  }

  /** The sqrt(n) coarse quantizer over the embeddings table, the centroids
    * q36 (IVF) and q37 (SemDeDup) both take: n from one count,
    * nc = max(16, ceil(sqrt(n))) ([[graft.ops.Similarity.adaptiveCentroids]]),
    * centroids = the nc lowest-vec_id embeddings. A pure function of the
    * input table, which the SQL oracle recomputes; pure driver-side state (a
    * few hundred centroid vectors). */
  val embCentroidsCached = memo.declare("emb_centroids") { (s, dir) =>
    graft.ops.Similarity.adaptiveCentroids(t(s, dir, "embeddings"))
  }
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
