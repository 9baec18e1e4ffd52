package graft

import graft.dedup.{Config, MinHash, Stopwords}
import graft.ops.Similarity

/** The DuckDB oracle of every [[SparkEntry.queries]] entry, keyed by query
  * name, and the SQL CTE helpers they share. Each string recomputes its
  * query's semantics from the sf tables in ANSI SQL (DuckDB dialect); the
  * numeric-parity rules are listed on [[SparkEntry]]. */
private[graft] object OracleSql {

  private val tokenPatternSql = "\\b[a-zA-Z0-9][-a-zA-Z0-9]*[a-zA-Z0-9]\\b"
  private lazy val stopListSql: String =
    Stopwords.english.toSeq.sorted.map(w => s"'$w'").mkString(", ")

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
    * [[graft.dedup.CosineKernel]] (index-ordered products, left-to-right sums). */
  private def cosineSql(x: String, y: String): String =
    s"""list_sum(list_transform(generate_series(1, len($x)), i -> $x[i] * $y[i]))
       | / (sqrt(list_sum(list_transform($x, v -> v * v)))
       |    * sqrt(list_sum(list_transform($y, v -> v * v))))""".stripMargin.replace("\n", " ")

  def all: Map[String, String] = Map(
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
