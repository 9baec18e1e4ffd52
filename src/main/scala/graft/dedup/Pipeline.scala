package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end near-duplicate pipeline over a source-code table
  * `(repo, path, commit, lang, content)` (BASELINE.json input_hint).
  *
  * Stage graph (each stage = one resumable checkpoint, [[Checkpoints]]):
  *
  *   docs        [optional: newest-version-per-(repo,path) collapse —
  *               cfg.collapseVersions] tokenize + filter + dense doc ids +
  *               sha256 lineage
  *   vocab       global document-frequency dictionary, min-df prune
  *   encoded     sorted-int-array document sets
  *   signatures  MinHash-128 + SimHash-64 per doc (one pass, batched);
  *               [optional: vendored content — byte-identical across >=
  *               cfg.vendoredMinRepos repos — is excluded, so it never
  *               generates near-dup candidates]
  *   candidates  LSH band pairs  UNION  SimHash block pairs — computed on
  *               one representative per (group, content_sha) so exact-dup
  *               classes of any size cannot create hot LSH buckets
  *   pairs       exact-Jaccard-verified pairs >= threshold, expanded back
  *               over exact-dup class members, plus the sim=1.0 class pairs
  *   components  large-star/small-star connected components
  *
  * The reference equivalent is the five-stage file pipeline of
  * code/main_script.py:297-329; grouping (reference: per-year files,
  * code/Stage04SplitDataPerYear.py:40-45) is the `group` column and Parquet
  * partition key here.
  */
object Pipeline {

  final case class Tables(
      docs: DataFrame,
      vocab: DataFrame,
      encoded: DataFrame,
      signatures: DataFrame,
      candidates: DataFrame,
      pairs: DataFrame,
      components: DataFrame,
      substring: Option[DataFrame] = None,
      topn: Option[DataFrame] = None
  )

  /** The folded composite group key (shared by the batch pipeline and the
    * streaming front door — one definition, one semantics). */
  def groupKey(cfg: Config): Column =
      if (cfg.groupCols.size == 1) col(cfg.groupCols.head).cast("string")
      else
        // concat_ws silently skips NULLs, which would fold ("a", NULL) and
        // (NULL, "a") into one group and let pairs cross groups (ADVICE_r02).
        // Collision-free encoding: NUL bytes in real values are doubled and
        // NULL maps to a single NUL — no real value can ever equal the
        // sentinel, so distinct key tuples always yield distinct group keys.
        // The single-column path keeps its natural NULL group.
        concat_ws(
          "\u0001",
          cfg.groupCols.map(c =>
            coalesce(
              regexp_replace(col(c).cast("string"), "\u0000", "\u0000\u0000"),
              lit("\u0000")
            )
          ): _*
        )

  /** Stage 1 logic (no checkpoint): tokenize + ids + lineage.
    *
    * With `cfg.collapseVersions`, a versioned-crawl pre-step runs FIRST
    * ([[graft.ops.CorpusPrep.latestVersion]]): only the newest version of
    * each (repo, path) — greatest `commit` — is tokenized; historical
    * versions never reach LSH (the window runs on the skinny key+order
    * columns before the heavy per-row CPU).
    *
    * Order matters for scale: sha256 / byte-count / tokenize run FIRST and
    * `content` is dropped, so the id-assignment join (the one shuffle the
    * token arrays pay here) moves token arrays instead of raw text. Ids are
    * counted and stamped on the skinny key projection, which reads no
    * content; key dedup is resolved with a payload aggregate only when
    * duplicates actually exist ([[Ids.assignDenseByKey]]). The tokenizer
    * runs once per row: the empty-set drop is [[Tokenize.nonEmpty]], not a
    * filter Catalyst would push below the tokenizing projection. */
  def prepareDocs(
      input: DataFrame,
      cfg: Config,
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): DataFrame = {
    val source =
      if (!cfg.collapseVersions) input
      else
        graft.ops.CorpusPrep
          .latestVersion(input, "repo", "path", "commit", tieCol = "commit")
          .filter(col("keep"))
          .drop("keep")
    val derived = source
      .withColumn("content_sha", sha2(col("content"), 256))
      .withColumn("n_bytes", octet_length(col("content")))
      .withColumn("tokens", Tokenize.tokenSet(col("content"), cfg.shingleK))
      .drop("content")
    val withId =
      Ids.assignDenseByKey(derived, Seq("repo", "path", "commit"), "doc_id", reg = reg)
    Tokenize
      .nonEmpty(withId, "tokens")
      .withColumn("group", groupKey(cfg))
      .select("doc_id", "repo", "path", "commit", "group", "content_sha", "n_bytes", "tokens")
  }

  /** (doc_id, group, rep_id): byte-identical files collapse to the min-doc_id
    * representative of their (group, content_sha) class before candidate
    * generation. A plain window-min — never materializes a class member list
    * in one row, so a 100k-copy boilerplate file cannot OOM an executor. */
  def exactClassMap(docs: DataFrame): DataFrame = {
    val mins = docs
      .groupBy("group", "content_sha")
      .agg(min(col("doc_id")).as("rep_id"))
    docs
      .select(col("doc_id"), col("group"), col("content_sha"))
      .join(mins.hint("shuffle_hash"), Seq("group", "content_sha"))
      .select(col("doc_id"), col("group"), col("rep_id"))
  }

  /** Exact-class REPRESENTATIVE encoded sets: the frame the signatures stage
    * builds on, and the contract input for the streaming corpus index
    * ([[graft.streaming.StreamingDedup.corpusIndex]] — collapse before LSH,
    * expand after). One definition, so rep selection can never diverge
    * between the batch and streaming paths. The class map is restricted to
    * encode-surviving docs, mirroring the signatures stage (pruned docs
    * carry no signatures). */
  def repEncoded(docs: DataFrame, encoded: DataFrame): DataFrame = {
    val reps = exactClassMap(docs.join(encoded.select("doc_id").hint("shuffle_hash"), "doc_id"))
      .filter(col("doc_id") === col("rep_id"))
      .select("doc_id")
    encoded.join(reps.hint("shuffle_hash"), "doc_id")
  }

  def candidatesFor(signatures: DataFrame, cfg: Config): DataFrame =
    MinHash
      .candidatePairs(signatures, cfg)
      .unionByName(SimHash.candidatePairs(signatures, cfg))
      .distinct()

  /** Expand rep-level verified pairs over exact-dup class members and add the
    * within-class sim=1.0 pairs, so the final pair table covers every doc —
    * the reference emits pairs over raw docs, not representatives. Both
    * expansions are equi-joins on rep_id (shuffle-scalable; the within-class
    * O(C^2) pair count is inherent in the required output, not in any one
    * task's memory). */
  def expandExactClasses(repPairs: DataFrame, classMap: DataFrame): DataFrame = {
    val memA = classMap.select(col("rep_id").as("a"), col("doc_id").as("ma"))
    val memB = classMap.select(col("rep_id").as("b"), col("doc_id").as("mb"))
    val cross = repPairs
      .hint("shuffle_hash")
      .join(memA, "a")
      .hint("shuffle_hash")
      .join(memB, "b")
      .select(
        col("group"),
        least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"),
        col("sim")
      )
      .filter(col("a") =!= col("b"))

    val x = classMap.select(col("group"), col("rep_id"), col("doc_id").as("a"))
    val y = classMap.select(col("rep_id"), col("doc_id").as("b"))
    val withinClass = x
      .join(y, "rep_id")
      .filter(col("a") < col("b"))
      .select(col("group"), col("a"), col("b"), lit(1.0).as("sim"))

    cross.unionByName(withinClass).dropDuplicates("group", "a", "b")
  }

  /** (doc_id, group, content) of every doc, from the input row the docs
    * stage kept: a key tuple carried by several input rows keeps one
    * arbitrary row there ([[Ids.assignDenseByKey]]), so rows match on the
    * key AND the kept row's content hash. The key is one struct column:
    * struct equality treats NULL fields as equal, so null-key docs match as
    * they do in the id join, and the join reads the dedup's hash
    * partitioning instead of shuffling content again. */
  private def substringInput(input: DataFrame, docs: DataFrame): DataFrame = {
    val key = struct(col("repo"), col("path"), col("commit")).as("__key")
    input
      .select(key, sha2(col("content"), 256).as("content_sha"), col("content"))
      // exact repeats of one (key, content) would each match the doc
      .dropDuplicates("__key", "content_sha")
      .join(docs.select(key, col("content_sha"), col("doc_id"), col("group")), Seq("__key", "content_sha"))
      .select(col("doc_id"), col("group"), col("content"))
  }

  def run(spark: SparkSession, input: DataFrame, cfg: Config, workDir: String): Tables = {
    def p(s: String) = s"$workDir/$s"
    // run-scoped cache ownership: this run releases exactly the caches it
    // created (never another concurrent run's in-flight id-assignment
    // scaffolding — the round-4 global release hook's hazard)
    val reg = new CacheRegistry
    // per-stage cumulative config sigs, stamped into each lineage manifest;
    // a rerun over this workDir with changed semantics rebuilds exactly the
    // stages whose content the change reaches (e.g. a new threshold reuses
    // docs..candidates and recomputes pairs + components)
    val sig = cfg.stageFingerprints

    val docs = Checkpoints.stage(spark, "docs", p("docs"), Seq("group"), Nil, sig("docs"))(
      prepareDocs(input, cfg, reg)
    )
    // the id-assignment caches inside prepareDocs are dead weight once the
    // stage is parquet-committed (stage() re-reads from disk) — free them
    // before the wide stages start competing for executor memory
    reg.release()
    val vocab = Checkpoints.stage(spark, "vocab", p("vocab"), Nil, Seq(p("docs")), sig("vocab"))(
      Vocabulary.build(docs, cfg, reg)
    )
    reg.release()
    val encoded = Checkpoints.stage(spark, "encoded", p("encoded"), Seq("group"), Seq(p("docs"), p("vocab")), sig("encoded"))(
      // vocab size from the metrics sidecar picks the encode plan
      // (broadcast map vs shuffle join) without an extra count job
      Vocabulary.encode(docs, vocab, Some(Checkpoints.stageRowCount(spark, p("vocab"))), cfg.broadcastMaxVocab)
    )

    // Only docs that survived pruning take part in classes / signatures.
    // Persisted: consumed by the signatures stage AND pair expansion — without
    // the cache its groupBy+join lineage re-executes in every consumer.
    val classMap = reg.persist(
      exactClassMap(docs.join(encoded.select("doc_id").hint("shuffle_hash"), "doc_id"))
    )

    val signatures = Checkpoints.stage(spark, "signatures", p("signatures"), Seq("group"), Seq(p("encoded")), sig("signatures"))({
      // Boilerplate cap: tokens in more than maxDf of docs (license headers,
      // ubiquitous keywords) are excluded from SIGNATURES — without this,
      // every boilerplate-sharing doc pair has Jaccard ~0.2-0.3 and LSH
      // banding floods verification with O(n^2) junk candidates. Verification
      // still runs on the FULL sets, so emitted sims keep reference semantics.
      // Corpus size for the max-df threshold from the DOCS stage's
      // `_metrics`, counted by its own write. Using the pre-prune doc count
      // makes the boilerplate cap marginally looser — recall is unaffected
      // (cap applies to signatures only; parity suite).
      val nDocs = Checkpoints.stageRowCount(spark, p("docs"))
      val hot = Vocabulary.hotTokenIds(vocab, nDocs, cfg)
      val reps0 = classMap.filter(col("doc_id") === col("rep_id")).select("doc_id")
      // Vendored routing (cfg.vendoredMinRepos > 0): content byte-identical
      // across >= minRepos DISTINCT repos is boilerplate, not signal — its
      // reps are excluded from signatures, so it generates NO near-dup
      // candidates against the corpus. Its exact-dup class still collapses,
      // expands to sim=1.0 pairs and clusters (expandExactClasses /
      // assignAll read classMap, not signatures). Distinct-(sha, repo)-first
      // keeps the aggregate copy-skew-proof ([[graft.ops.CorpusPrep]]); the
      // surviving sha list is skinny (AQE broadcasts it).
      val reps =
        if (cfg.vendoredMinRepos <= 0L) reps0
        else {
          val vendoredDocIds = docs
            .select(col("content_sha"), col("repo"))
            .distinct()
            .groupBy("content_sha")
            .agg(count(lit(1)).as("n_repos"))
            .filter(col("n_repos") >= cfg.vendoredMinRepos)
            .select("content_sha")
            .join(docs.select("doc_id", "content_sha"), "content_sha")
            .select("doc_id")
          reps0.join(vendoredDocIds, Seq("doc_id"), "left_anti")
        }
      val sigInput = Tokenize.nonEmpty(
        encoded
          // build on the skinny id side — SMJ would sort the wide token table
          .join(reps.hint("shuffle_hash"), "doc_id")
          // two-pointer sorted difference, not array_except(.., lit(hot)):
          // the built-in rebuilds a hash set from the literal on every row.
          // Tokenize.nonEmpty, not filter(size > 0): a pushed-down filter
          // would run it below the join and again above it
          .withColumn("tokens", ArrayExceptSorted(col("tokens"), hot)),
        "tokens"
      )
      SimHash.withSimhash(MinHash.withSignature(sigInput, cfg), cfg)
        .drop("tokens") // signature table carries signatures, not sets
    })

    val candidates = Checkpoints.stage(spark, "candidates", p("candidates"), Nil, Seq(p("signatures")), sig("candidates"))(
      candidatesFor(signatures, cfg)
    )

    val pairs = Checkpoints.stage(spark, "pairs", p("pairs"), Seq("group"), Seq(p("candidates"), p("encoded")), sig("pairs"))(
      expandExactClasses(Jaccard.verify(candidates, encoded, cfg.threshold), classMap)
    )
    // classMap's last consumer (the pairs stage) is parquet-committed
    reg.release()

    val components = Checkpoints.stage(spark, "components", p("components"), Nil, Seq(p("pairs")), sig("components"))(
      // the pairs stage's `_metrics` row count is a proven edge bound: when
      // it fits the driver-local clamp, Components.run skips its
      // path-decision count job and collects the edge set directly
      Components.assignAll(encoded, pairs, knownEdgeBound = Checkpoints.stageRowCount(spark, p("pairs")))
    )

    // Optional third detector: substring near-clones (separate pair table —
    // these fail the set-Jaccard threshold BY DESIGN, the union dilutes the
    // embedded content, so they must not be Jaccard-verified away).
    val substring =
      if (!cfg.substringDedup) None
      else
        Some(Checkpoints.stage(spark, "substring", p("substring"), Nil, Seq(p("docs")),
          sig("docs") + s";substring=${SuffixDedup.SubConfig()}")(
          SuffixDedup.run(substringInput(input, docs), reg = reg)
        ))

    // Optional top-N report (reference main_citation_control.py:626-642 /
    // main_closest.py:29-47): per-probe ranked matches over the verified
    // pair table, as its own resumable stage.
    val topn = cfg.topN.map { n =>
      Checkpoints.stage(spark, "topn", p("topn"), Nil, Seq(p("pairs")), sig("pairs") + s";topN=$n")(
        TopN.perProbe(pairs, n)
      )
    }

    reg.release()

    Tables(docs, vocab, encoded, signatures, candidates, pairs, components, substring, topn)
  }
}
