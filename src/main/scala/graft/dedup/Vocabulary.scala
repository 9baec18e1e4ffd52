package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vocabulary build + dictionary encoding.
  *
  * Reference: document-frequency count over per-doc-deduped tokens
  * (code/Stage01PreprocessData.py:118-130), min-df prune at threshold 2
  * (code/Stage01PreprocessData.py:139-152, value from code/main_script.py:57),
  * then re-encoding of every doc through the dictionary
  * (code/Stage03IndexPatents.py:40-48). Docs emptied by pruning are dropped
  * (code/Stage01PreprocessData.py:202).
  *
  * Scale addition (no reference equivalent): max-df cap — tokens present in
  * more than `maxDf` fraction of docs (default 0.2, see [[Config]]) are
  * boilerplate (license headers, ubiquitous keywords) that both blow up the
  * candidate join and carry no discriminating signal. The cap applies to
  * SIGNATURES only — verification keeps full sets, so reference parity of
  * emitted sims is unaffected (asserted by the parity suite at recall 0.99).
  */
object Vocabulary {

  /** docs: (doc_id, group, tokens: array<string>) with tokens distinct.
    * Returns (token: string, df: long, token_id: long) with dense determin-
    * istic ids ordered by token — a pure hash aggregate + one ranged shuffle.
    *
    * NOTE: only the reference's min-df prune happens here; the max-df
    * boilerplate cap applies to SIGNATURES only (see [[hotTokenIds]]) so the
    * verification sets keep full reference semantics.
    */
  def build(docs: DataFrame, cfg: Config, reg: CacheRegistry = CacheRegistry.unmanaged): DataFrame =
    buildWithCount(docs, cfg, reg)._1

  /** [[build]] plus the vocabulary's exact row count — free (the dense-id
    * stamp already totals its per-partition counts), so callers can feed the
    * encode-plan choice without a separate count job. */
  def buildWithCount(
      docs: DataFrame,
      cfg: Config,
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): (DataFrame, Long) = {
    val df = docs
      .select(explode(col("tokens")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= cfg.minDf)
    Ids.assignDenseWithCount(df, Seq("token"), "token_id", reg)
  }

  /** Token ids too common to carry signal: df > maxDf * nDocs. By pigeonhole
    * there are at most avgTokensPerDoc / maxDf of them (a few hundred), so a
    * driver-side collect + broadcast is safe at any corpus size. */
  def hotTokenIds(vocab: DataFrame, nDocs: Long, cfg: Config): Array[Int] =
    if (cfg.maxDf >= 1.0) Array.empty
    else
      vocab
        .filter(col("df") > lit(cfg.maxDf * nDocs))
        .select(col("token_id").cast("int"))
        .collect()
        .map(_.getInt(0))
        .sorted

  /** Vocabularies up to this many entries encode via a broadcast
    * [[CompactDict]]; beyond it the shuffle join takes over. Sizing is real
    * arithmetic, not hope: the compact layout costs 2 B/char + 8 B/entry
    * fixed + ~6.7 B/entry probe table (load 0.6) — measured 416 MB at the 8M
    * cap with avg-14-char tokens (CompactDict.heapBytes, pinned by the test
    * suite), vs multiple GB for the same entries in round-2's
    * java.util.HashMap[String, Integer] (~90 B of object overhead per entry
    * before any char data — the sizing bug ADVICE_r02 flagged). One copy per
    * executor via broadcast. At 10^12 files the min-df/max-df pruned
    * vocabulary of token SHINGLES can exceed this, which is exactly when a
    * shuffle join is the right plan anyway. */
  val BroadcastMaxVocab: Long = 8000000L

  /** Dictionary-encode docs to sorted int arrays: (doc_id, group,
    * tokens: array<int>, n_tokens) — the reference's per-doc dictionary
    * lookup loop (code/Stage03IndexPatents.py:40-48). Two plans, identical
    * output:
    *
    *  - vocab fits [[BroadcastMaxVocab]]: MAP-SIDE encode through a
    *    broadcast [[CompactDict]]. No explode, no shuffle, no re-grouping — the
    *    round-2 bench showed the explode+join+groupBy shape shuffling ~90
    *    token rows per doc (the single largest stage at 1.5M files); the
    *    broadcast path is a narrow projection.
    *  - otherwise: explode + shuffle equi-join + collect_list re-group
    *    (scales to any vocabulary size).
    *
    * `vocabRows` lets callers pass a known count (e.g. from the checkpoint
    * metrics sidecar) to skip the count job.
    */
  def encode(
      docs: DataFrame,
      vocab: DataFrame,
      vocabRows: Option[Long] = None,
      maxBroadcast: Long = BroadcastMaxVocab
  ): DataFrame = {
    val n = vocabRows.getOrElse(vocab.count())
    if (n <= maxBroadcast) encodeBroadcast(docs, vocab) else encodeJoin(docs, vocab)
  }

  /** Shuffle-join encode path (any vocabulary size). */
  def encodeJoin(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val exploded = docs.select(col("doc_id"), col("group"), explode(col("tokens")).as("token"))
    exploded
      .join(vocab.select(col("token"), col("token_id").cast("int").as("tid")), "token")
      .groupBy("doc_id", "group")
      .agg(sort_array(collect_list(col("tid"))).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
      .filter(col("n_tokens") > 0)
  }

  /** Broadcast-map encode path: one narrow pass, tokens absent from the
    * vocabulary (min-df casualties) are dropped like the join would.
    *
    * The dictionary ships to the driver as PACKED PER-PARTITION BLOBS (one
    * char blob + offset/id arrays per partition) rather than 5M collected
    * Rows: executors do the string packing in parallel, the driver only
    * concatenates arrays and builds the probe table — profiling showed the
    * row-by-row collect + per-entry String handling was most of this stage's
    * serial fraction (the part that caps scaling efficiency). Falls back to
    * the shuffle join when the char blob would overflow Int index space
    * (huge shingle vocabularies) instead of failing the encode. */
  def encodeBroadcast(docs: DataFrame, vocab: DataFrame): DataFrame =
    broadcastEncodeFn(vocab) match {
      case None => encodeJoin(docs, vocab)
      case Some(enc) =>
        docs
          .select(col("doc_id"), col("group"), enc(col("tokens")).as("tokens"))
          .filter(size(col("tokens")) > 0)
          .withColumn("n_tokens", size(col("tokens")))
    }

  /** The broadcast-dict encode as a reusable column function: array<string>
    * tokens -> sorted array<int> ids (absent tokens dropped). NARROW — the
    * only encode plan legal inside a Structured Streaming query, where the
    * shuffle-join plan's re-grouping aggregation would need stream state
    * ([[graft.streaming.StreamingDedup]]). Collects the dictionary at PLAN
    * time (executor-packed blobs, same path as [[encodeBroadcast]]); returns
    * None when the packed char blob would overflow Int index space and the
    * caller must use [[encodeJoin]]. */
  def broadcastEncodeFn(vocab: DataFrame): Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val blobs = vocab
      .select(col("token"), col("token_id").cast("int"))
      .as[(String, Int)]
      .mapPartitions { it =>
        val sb = new java.lang.StringBuilder
        val offs = Array.newBuilder[Int]
        val ids = Array.newBuilder[Int]
        it.foreach { case (tok, id) =>
          offs += sb.length()
          sb.append(tok)
          ids += id
        }
        Iterator.single((sb.toString, offs.result(), ids.result()))
      }
      .collect()
    val totalChars = blobs.foldLeft(0L)((acc, b) => acc + b._1.length)
    if (totalChars > Int.MaxValue) return None
    val bDict = spark.sparkContext.broadcast(CompactDict.fromBlobs(blobs))
    val encodeUdf = udf { (tokens: Seq[String]) =>
      val d = bDict.value
      val out = Array.newBuilder[Int]
      tokens.foreach { t =>
        val id = d.get(t)
        if (id >= 0) out += id
      }
      val arr = out.result()
      java.util.Arrays.sort(arr)
      arr
    }.asNondeterministic() // runs once per row (KernelCall)
    Some(tokens => encodeUdf(tokens))
  }
}

/** Compact immutable string -> int dictionary for broadcast encode: all
  * token chars live in ONE shared char array, entries are parallel
  * (offset, id) int arrays, and lookups probe an open-addressed table of
  * entry indexes (linear probing, load factor <= 0.6) — zero per-entry
  * objects, so 5M entries of avg-12-char tokens cost ~200 MB instead of the
  * multi-GB a boxed java.util.HashMap[String, Integer] takes, and the single
  * exact-sized allocation avoids HashMap's ~8 doubling rehashes from a
  * 65536-entry presize (ADVICE_r02). Probes compare chars against the blob
  * directly — exact string equality, no hash-collision correctness risk. */
final class CompactDict private (
    chars: Array[Char],
    offs: Array[Int], // n+1 offsets into chars
    ids: Array[Int],  // entry -> token id
    table: Array[Int] // open-addressed entry indexes; -1 = empty
) extends Serializable {
  private val mask = table.length - 1

  def size: Int = ids.length

  /** Exact heap footprint of the four backing arrays, in bytes. */
  def heapBytes: Long =
    chars.length * 2L + (offs.length.toLong + ids.length + table.length) * 4L

  /** Token id, or -1 when absent (null tokens are absent, like a
    * HashMap.get(null) miss — a null array element must not fail encode). */
  def get(s: String): Int = {
    if (s == null) return -1
    var i = CompactDict.spread(s.hashCode) & mask
    var e = table(i)
    while (e != -1) {
      if (eq(e, s)) return ids(e)
      i = (i + 1) & mask
      e = table(i)
    }
    -1
  }

  private def eq(e: Int, s: String): Boolean = {
    val o = offs(e)
    val len = offs(e + 1) - o
    if (len != s.length) return false
    var j = 0
    while (j < len) {
      if (chars(o + j) != s.charAt(j)) return false
      j += 1
    }
    true
  }
}

object CompactDict {

  @inline private[dedup] def spread(h: Int): Int = {
    val x = h * 0x9e3779b1
    x ^ (x >>> 16)
  }

  /** Assemble from executor-packed per-partition blobs (blob string, entry
    * offsets into the blob, entry ids): pure array concatenation plus the
    * probe-table build — no per-entry String object ever exists on the
    * driver. Token hashes are computed from the char blob with String's
    * exact hash recurrence, so probing with a String key still matches.
    *
    * The char-scanning work (blob copies, per-entry hashes) runs on the
    * driver's ForkJoin common pool: each blob copies into a DISJOINT target
    * range and each entry hashes a disjoint blob span, so the parallel
    * stages are race-free, and only the cheap char-free insertion loop
    * (entries are unique — inserts never compare keys) stays sequential.
    * This is pure serial driver time on the encode critical path — the cost
    * class that lands identically in every scaling leg. */
  def fromBlobs(blobs: Array[(String, Array[Int], Array[Int])]): CompactDict = {
    var totalChars = 0L
    var n = 0
    blobs.foreach { case (s, o, _) => totalChars += s.length; n += o.length }
    require(totalChars <= Int.MaxValue, s"dictionary char blob overflows Int index space: $totalChars")
    val chars = new Array[Char](totalChars.toInt)
    val offs = new Array[Int](n + 1)
    val ids = new Array[Int](n)
    // per-blob start positions (chars and entries), then parallel fill
    val charBase = new Array[Int](blobs.length)
    val entryBase = new Array[Int](blobs.length)
    var b = 0
    var base = 0
    var e = 0
    while (b < blobs.length) {
      charBase(b) = base; entryBase(b) = e
      base += blobs(b)._1.length; e += blobs(b)._2.length
      b += 1
    }
    java.util.stream.IntStream.range(0, blobs.length).parallel().forEach { bi =>
      val (s, o, pid) = blobs(bi)
      val cb = charBase(bi)
      val eb = entryBase(bi)
      s.getChars(0, s.length, chars, cb)
      var i = 0
      while (i < o.length) {
        offs(eb + i) = cb + o(i)
        ids(eb + i) = pid(i)
        i += 1
      }
    }
    offs(n) = base
    new CompactDict(chars, offs, ids, probeTable(chars, offs, n))
  }

  private def probeTable(chars: Array[Char], offs: Array[Int], n: Int): Array[Int] = {
    var cap = 4
    while (cap * 3L < n * 5L) cap <<= 1 // load <= 0.6
    val table = Array.fill(cap)(-1)
    val mask = cap - 1
    // per-entry spread hashes in parallel (the char-scanning bulk of the
    // build); String.hashCode over the entry's blob span (h = 31*h + c)
    val spreads = new Array[Int](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { e =>
      var h = 0
      var j = offs(e)
      val end = offs(e + 1)
      while (j < end) { h = 31 * h + chars(j); j += 1 }
      spreads(e) = spread(h)
    }
    var e = 0
    while (e < n) {
      var i = spreads(e) & mask
      while (table(i) != -1) i = (i + 1) & mask
      table(i) = e
      e += 1
    }
    table
  }
}
