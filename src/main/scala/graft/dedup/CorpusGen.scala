package graft.dedup

import org.apache.spark.sql.{Dataset, SparkSession}

/** A file of the input table shape (BASELINE.json input_hint). */
final case class CodeFile(repo: String, path: String, commit: String, lang: String, content: String)

/** Deterministic synthetic source-code corpus (FIXTURES.md §1) with planted
  * duplicate classes. Pure function of (i, seed) — generation distributes
  * over `spark.range`, so bench corpora of any size never bottleneck on the
  * driver and two runs (or two parallelism levels) see identical bytes.
  *
  * Planted structure, by file index i:
  *  - i % 10 == 1 or 2 (i >= 10): EXACT duplicate of base file i - i%10
  *  - i % 10 == 3      (i >= 10): NEAR duplicate of the base (10% of token
  *    positions mutated => expected Jaccard ~0.8, above the 0.7 threshold)
  *  - i % 50 == 7      (i >= 10): SUBSTRING clone — the base file's content
  *    embedded inside ~2x filler (below Jaccard threshold; only the
  *    substring detector should link it)
  *  - ~30% of files carry a fixed 40-token license header (boilerplate skew
  *    for the max-df cap / hot-bucket paths)
  *  - everything else: singleton
  *
  * Duplicates share the base file's `lang` so planted pairs stay within one
  * group (grouping semantics, code/Stage04SplitDataPerYear.py:40-45).
  */
object CorpusGen {

  private val langs = Array("scala", "java", "py", "go")
  private val ext = Map("scala" -> "scala", "java" -> "java", "py" -> "py", "go" -> "go")

  private val header: String =
    (0 until 40).map(k => s"license hdr${k} boilerplate").mkString(" ")

  // Shared keyword pool (language keywords, common library names) + a few
  // stopwords/digits to exercise the filters. Identifiers proper live in
  // per-repo namespaces (below) — real corpora do NOT draw every file from
  // one tiny global vocabulary, and a generator that does makes every
  // unrelated pair ~7% similar, flooding candidate generation quadratically.
  private val pool: Array[String] =
    (0 until 400).map(k => s"ident${k}").toArray ++
      Array("the", "and", "of", "to", "1", "22", "12-34", "a")

  private def rng(seed: Long): () => Long = {
    var s = seed
    () => {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  private def baseTokens(baseId: Long, seed: Long): Array[String] = {
    val r = rng(seed ^ (baseId * 0x5851f42d4c957f2dL))
    val repo = baseId / 100
    val n = 40 + (math.abs(r()) % 80).toInt
    Array.tabulate(n) { _ =>
      // ~30% shared keywords, ~70% repo-local identifiers
      if (math.abs(r()) % 10 < 3) pool((math.abs(r()) % pool.length).toInt)
      else s"r${repo}v${math.abs(r()) % 200}"
    }
  }

  private def mutate(tokens: Array[String], mutSeed: Long): Array[String] = {
    val r = rng(mutSeed)
    val out = tokens.clone()
    val m = math.max(1, tokens.length / 10)
    var k = 0
    while (k < m) {
      val pos = (math.abs(r()) % out.length).toInt
      out(pos) = s"mut${math.abs(r()) % 10000}"
      k += 1
    }
    out
  }

  /** Pure generator: file i of a corpus of size n. */
  def file(i: Long, seed: Long): CodeFile = {
    val mod = i % 10
    val isDerived = i >= 10 && (mod == 1 || mod == 2 || mod == 3 || i % 50 == 7)
    val baseId = if (isDerived) i - mod else i
    // base ids are multiples of 10 — divide first so every lang gets classes
    val lang = langs(((baseId / 10) % langs.length).toInt)
    val base = baseTokens(baseId, seed)

    val body: Array[String] =
      if (i >= 10 && (mod == 1 || mod == 2)) base
      else if (i >= 10 && mod == 3) mutate(base, seed ^ i)
      else if (i >= 10 && i % 50 == 7) {
        val r = rng(seed ^ (i * 31))
        val fillerA = Array.tabulate(base.length)(_ => pool((math.abs(r()) % pool.length).toInt))
        val fillerB = Array.tabulate(base.length)(_ => pool((math.abs(r()) % pool.length).toInt))
        fillerA ++ base ++ fillerB
      } else base

    val withHeader = if (baseId % 3 == 0) header + " " + body.mkString(" ") else body.mkString(" ")
    val repo = f"repo${i / 100}%04d"
    val commit = f"${(i * 0x9e3779b97f4a7c15L) & 0xffffffffffL}%010x"
    CodeFile(repo, f"src/f$i%06d.${ext(lang)}", commit, lang, withHeader)
  }

  def corpus(spark: SparkSession, n: Long, seed: Long = 42L): Dataset[CodeFile] = {
    import spark.implicits._
    spark.range(n).map(i => file(i, seed))
  }

  /** Ingest-stream file `i` arriving against a generated corpus of `n` files
    * (the CLI's `--stream` mode). Pure function of (i, n, seed) — two runs
    * replay the identical stream.
    *
    * Planted mix, by stream index i:
    *  - i % 4 == 0: EXACT re-upload of corpus file (i*7919 mod n) under a
    *    new repo/commit — the first-seen gate's known-corpus anti-join must
    *    drop it.
    *  - i % 4 == 1: NEAR duplicate of a corpus BASE file (every 10th token
    *    removed => set-Jaccard ~0.9) — passes the gate and must surface
    *    through the streaming LSH near-dup probe.
    *  - i % 4 == 2: NOVEL file in a stream-only token namespace — passes
    *    the gate, matches nothing.
    *  - i % 4 == 3: within-stream duplicate of stream file i-1 under a
    *    different path — the gate's stateful dropDuplicates leg must drop
    *    it.
    */
  def streamFile(i: Long, n: Long, seed: Long = 42L): CodeFile = {
    require(n >= 20, s"stream generation needs a corpus of >= 20 files, got $n")
    val repo = f"ingest${i / 100}%04d"
    val commit = f"s$i%09d"
    i % 4 match {
      case 3 =>
        val orig = streamFile(i - 1, n, seed)
        orig.copy(path = f"ingest/dup$i%06d." + orig.path.split('.').last)
      case 0 =>
        val src = file((i * 7919L) % n, seed)
        src.copy(repo = repo, path = f"ingest/re$i%06d." + ext(src.lang), commit = commit)
      case 1 =>
        // base ids are multiples of 10 (the class roots); same lang as the
        // base so the pair stays within one group. The trailing i-unique
        // token keeps every near file's bytes distinct even when two stream
        // indices sample the same base — without it the first-seen gate
        // (correctly) collapses the collision and the planted mix shifts.
        val b = ((i * 104729L) % math.max(2L, n / 10L)) * 10L
        val src = file(b, seed)
        val kept = src.content.split(" ").zipWithIndex.collect { case (t, k) if k % 10 != 3 => t }
        CodeFile(
          repo,
          f"ingest/near$i%06d." + ext(src.lang),
          commit,
          src.lang,
          (kept :+ s"zsnear$i").mkString(" ")
        )
      case _ =>
        val lang = langs((i % langs.length).toInt)
        val r = rng(seed ^ (i * 0x7f4a7c15L))
        val nTok = 40 + (math.abs(r()) % 40).toInt
        val body = Array.tabulate(nTok)(k => s"zs${i}n$k")
        CodeFile(repo, f"ingest/new$i%06d." + ext(lang), commit, lang, body.mkString(" "))
    }
  }
}
