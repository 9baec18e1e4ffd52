package graft.dedup

/** Knobs for the near-duplicate pipeline.
  *
  * `groupCols`: pairs are generated within a group only — the reference's
  * per-year file split (code/Stage04SplitDataPerYear.py:40-45), and its
  * composite (year, patent_type) grouping in the control-matching drivers
  * (code/main_citation_control.py:297-328). Multiple columns fold into one
  * derived `group` key (composite value, also the checkpoint partition key).
  *
  * Defaults mirror the reference (JiLisx/similarity_jaccard):
  *  - `minDf = 2`: vocabulary minimum document frequency
  *    (code/main_script.py:57, code/Stage01PreprocessData.py:231).
  *  - `shingleK = 1`: the reference operates on plain token sets
  *    (code/Stage01PreprocessData.py:83-98); for source code set k>1 to use
  *    k-token shingles.
  *  - 6-dp HALF_EVEN rounding and `sim > 0` are fixed semantics (not knobs),
  *    see [[Jaccard]] (code/Stage05ComputeSimilarity.py:130-132).
  *
  * Scale knobs (no reference equivalent — the reference is single-node):
  *  - `numPerms = 128` MinHash permutations (BASELINE.json north_star).
  *  - `bands x rowsPerBand` = 32 x 4 over the 128-perm signature: a pair
  *    with Jaccard s is emitted with probability 1 - (1 - s^4)^32. That
  *    S-curve crosses 0.5 at (1/32)^(1/4) ~= 0.42, giving capture probability
  *    ~0.9998 at the default dedup threshold 0.7 — comfortably above the
  *    recall >= 0.99 target for pairs at or above `threshold`.
  *  - `maxDf`: tokens/shingles present in more than this fraction of the
  *    corpus docs (boilerplate: license headers, common imports) are excluded
  *    from SIGNATURES (candidate generation only — verification keeps full
  *    sets, so emitted sims are exactly the reference's). The inverse of the
  *    reference's min-df prune (code/Stage01PreprocessData.py:139-152).
  *    Without it, boilerplate gives every co-tagged pair Jaccard ~0.2-0.3 and
  *    LSH floods verification with O(n^2) junk candidates; the parity suite
  *    asserts recall >= 0.99 is preserved with the cap active.
  *  - `maxBucket`: LSH band buckets larger than this are CHAIN-LINKED for
  *    pair generation (each doc pairs with its [[PairGen.ChainWidth]] sorted
  *    forward neighbors only) so a single hot band hash cannot produce an
  *    O(B^2) straggler task. Chaining preserves bucket connectivity (what
  *    clustering needs) but drops pairwise candidates from that bucket —
  *    each pair keeps `bands` independent chances in other buckets.
  */
final case class Config(
    groupCols: Seq[String] = Seq("lang"),
    shingleK: Int = 1,
    minDf: Int = 2,
    maxDf: Double = 0.2,
    numPerms: Int = 128,
    bands: Int = 32,
    threshold: Double = 0.7,
    maxBucket: Int = 2000,
    topN: Option[Int] = None,
    substringDedup: Boolean = false,
    // corpus-prep pre-stages for a VERSIONED crawl (off by default — the
    // reference corpus is one immutable snapshot):
    //  - collapseVersions: keep only the newest version of each (repo, path)
    //    before tokenization ([[graft.ops.CorpusPrep.latestVersion]], newest
    //    = greatest `commit`); a raw crawl otherwise spends its
    //    candidate budget "discovering" that v1..vN of one file are similar.
    //  - vendoredMinRepos (> 0 enables): content byte-identical across at
    //    least this many DISTINCT repos (licenses, vendored deps) is routed
    //    AROUND LSH — its exact-dup class still collapses, clusters and
    //    emits sim=1.0 pairs, but its representative generates no near-dup
    //    candidates against the rest of the corpus.
    collapseVersions: Boolean = false,
    vendoredMinRepos: Long = 0L,
    seed: Long = 42L,
    // vocabularies up to this size encode via the broadcast CompactDict;
    // beyond it the shuffle-join plan takes over (see Vocabulary.encode).
    // Exposed as a knob so the bench can force the shuffle path on a corpus
    // whose vocabulary would normally broadcast, proving the scale path.
    broadcastMaxVocab: Long = Vocabulary.BroadcastMaxVocab
) {
  require(numPerms % bands == 0, s"bands=$bands must divide numPerms=$numPerms")
  def rowsPerBand: Int = numPerms / bands

  /** Per-stage CUMULATIVE config fingerprints: each stage's sig names every
    * config field its CONTENT depends on, including (by string-prefix
    * construction) everything upstream — so a changed field invalidates
    * exactly the stage that first consumes it and all its descendants.
    * [[Checkpoints.stage]] stamps the sig into the lineage manifest at
    * commit and REBUILDS (with a warning) a resumed stage whose stored sig
    * differs, instead of silently returning stale results — re-running a
    * 10^12-file work dir with a new `threshold` reuses the expensive
    * tokenize/signature/candidate checkpoints and recomputes only
    * verify + components. Deliberately excluded: `broadcastMaxVocab`
    * (selects the encode PLAN; output is bitwise-equal across plans — bench
    * evidence leg) and `topN`/`substringDedup` (gate optional stages whose
    * sigs append their own knobs in [[Pipeline.run]]). */
  def stageFingerprints: Map[String, String] = {
    // corpus-prep knobs append only when ENABLED, so every pre-existing
    // default-config work dir keeps its stored sigs (no spurious rebuilds)
    val docs = s"groupCols=${groupCols.mkString(",")};shingleK=$shingleK" +
      (if (collapseVersions) ";collapseVersions=commit" else "")
    val vocab = docs + s";minDf=$minDf"
    val encoded = vocab // dense ids over the vocab applied to docs tokens
    val signatures = encoded + s";numPerms=$numPerms;seed=$seed;maxDf=$maxDf" +
      (if (vendoredMinRepos > 0) s";vendoredMinRepos=$vendoredMinRepos" else "")
    val candidates = signatures + s";bands=$bands;maxBucket=$maxBucket"
    val pairs = candidates + s";threshold=$threshold"
    Map(
      "docs" -> docs,
      "vocab" -> vocab,
      "encoded" -> encoded,
      "signatures" -> signatures,
      "candidates" -> candidates,
      "pairs" -> pairs,
      "components" -> pairs // a pure function of the pair table
    )
  }
}
