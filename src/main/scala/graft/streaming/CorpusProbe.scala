package graft.streaming

import graft.dedup.JaccardKernel

/** The static corpus side of the streaming near-dup probe, packed for one
  * broadcast per corpus state: the capped LSH band index
  * ((group, band, band_hash) -> representative doc ids) and the
  * representatives' token sets. Every table is a primitive array — no
  * object per key, id or token (the [[graft.dedup.CompactDict]] idiom) —
  * so a probe costs a few bytes per indexed band and four per token.
  *
  * Reps are held in ascending doc-id order; a rep's position is its local
  * index everywhere below, so "smallest ids" is "smallest indexes".
  * Keys live in an open-addressed table (linear probing, load <= 0.6); a
  * key's tag folds its group ordinal and band into one long. */
private[streaming] final class CorpusProbe private (
    groups: Array[String], // distinct non-null groups, sorted; a group's ordinal is its position
    nullGroup: Int,        // ordinal of the NULL group, -1 when no rep has one
    nBands: Int,
    table: Array[Int],     // open-addressed key indexes; -1 = empty
    keyTag: Array[Long],   // group ordinal * nBands + band
    keyHash: Array[Long],
    keyOff: Array[Int],    // nKeys + 1 offsets into bucket
    bucket: Array[Int],    // per key: ascending rep indexes, at most the cap
    repIds: Array[Long],   // ascending corpus doc ids
    setOff: Array[Int],    // nReps + 1 offsets into sets
    sets: Array[Int]       // each rep's sorted token ids
) extends Serializable {

  /** Exact heap footprint of the backing arrays, in bytes (the group names
    * excluded: one short string per group). */
  def heapBytes: Long =
    (table.length.toLong + keyOff.length + bucket.length + setOff.length + sets.length) * 4L +
      (keyTag.length.toLong + keyHash.length + repIds.length) * 8L

  /** Every rep sharing at least one indexed (group, band, band_hash) key
    * with a row of `group` and per-band `bandHashes`, each once, whose exact
    * Jaccard sim against the row's sorted `tokens` is at least `threshold`:
    * (corpus doc id, sim) in ascending id order. */
  def matches(group: String, bandHashes: Array[Long], tokens: Array[Int], threshold: Double): Seq[(Long, Double)] = {
    val g = if (group == null) nullGroup else java.util.Arrays.binarySearch(groups.asInstanceOf[Array[AnyRef]], group)
    if (g < 0) return Nil
    var hits = new Array[Int](16)
    var n = 0
    var b = 0
    while (b < math.min(bandHashes.length, nBands)) {
      val k = find(g.toLong * nBands + b, bandHashes(b))
      if (k >= 0) {
        val len = keyOff(k + 1) - keyOff(k)
        if (n + len > hits.length) hits = java.util.Arrays.copyOf(hits, math.max(2 * hits.length, n + len))
        System.arraycopy(bucket, keyOff(k), hits, n, len)
        n += len
      }
      b += 1
    }
    java.util.Arrays.sort(hits, 0, n)
    val out = Seq.newBuilder[(Long, Double)]
    var i = 0
    while (i < n) {
      val r = hits(i)
      if (i == 0 || hits(i - 1) != r) {
        val sim = JaccardKernel.sim(tokens, sets, setOff(r), setOff(r + 1))
        if (sim >= threshold) out += ((repIds(r), sim))
      }
      i += 1
    }
    out.result()
  }

  private def find(tag: Long, hash: Long): Int = {
    val mask = table.length - 1
    var i = CorpusProbe.slot(tag, hash) & mask
    var k = table(i)
    while (k != -1) {
      if (keyTag(k) == tag && keyHash(k) == hash) return k
      i = (i + 1) & mask
      k = table(i)
    }
    -1
  }
}

private[streaming] object CorpusProbe {

  /** A run of representatives packed on one executor: per rep its group,
    * doc id, indexed (band, band_hash) entries and sorted token set. */
  final case class Block(
      groups: Array[String],
      ids: Array[Long],
      entryOff: Array[Int],
      bands: Array[Int],
      hashes: Array[Long],
      setOff: Array[Int],
      sets: Array[Int]
  )

  object Block {

    /** Pack (group, doc id, per-band hashes with NULL = not indexed, sorted
      * tokens) rows — the shape of one [[StreamingDedup.corpusIndex]] row
      * per rep (its `c_bhs`) next to the rep's encoded set. */
    def of(reps: Iterator[(String, Long, collection.Seq[java.lang.Long], collection.Seq[Int])]): Block = {
      val groups = Array.newBuilder[String]
      val ids, hashes = Array.newBuilder[Long]
      val entryOff, bands, setOff, sets = Array.newBuilder[Int]
      var nEntries, nSets = 0
      reps.foreach { case (g, id, bhs, tokens) =>
        groups += g; ids += id; entryOff += nEntries; setOff += nSets
        var b = 0
        bhs.foreach { h =>
          if (h != null) { bands += b; hashes += h.longValue; nEntries += 1 }
          b += 1
        }
        tokens.foreach(sets += _)
        nSets += tokens.length
      }
      entryOff += nEntries; setOff += nSets
      Block(groups.result(), ids.result(), entryOff.result(), bands.result(), hashes.result(), setOff.result(), sets.result())
    }
  }

  /** Upper bound of [[CorpusProbe.heapBytes]] for `reps` reps with
    * `entries` indexed bands and `tokens` set elements in all (it assumes
    * every entry its own key), computable from three counts before
    * anything is collected. */
  def bytesFor(reps: Long, entries: Long, tokens: Long): Long =
    tableSize(entries) * 4L + (entries + 1) * (8L + 8L + 4L) + entries * 4L +
      reps * (8L + 4L) + 4L + tokens * 4L

  /** Assemble the probe from executor-packed blocks, keeping each bucket's
    * `maxBucket` smallest doc ids (the rows [[StreamingDedup.corpusIndex]]
    * keeps; applied again here, a no-op on its output). */
  def build(blocks: Seq[Block], maxBucket: Int): CorpusProbe = {
    val nReps = blocks.map(_.ids.length).sum
    val nEntries = blocks.map(_.bands.length).sum
    val nTokens = blocks.foldLeft(0L)(_ + _.sets.length)
    require(nTokens <= Int.MaxValue, s"corpus probe sets overflow Int index space: $nTokens")
    val groups = blocks.flatMap(_.groups.filter(_ != null)).distinct.sorted.toArray
    val nullGroup = if (blocks.exists(_.groups.contains(null))) groups.length else -1
    val nBands = blocks.foldLeft(0)((m, bl) => if (bl.bands.isEmpty) m else math.max(m, bl.bands.max + 1))

    // rank every rep by doc id: a rep's rank is its index from here on
    val repIds = new Array[Long](nReps)
    var p = 0
    blocks.foreach { bl => System.arraycopy(bl.ids, 0, repIds, p, bl.ids.length); p += bl.ids.length }
    java.util.Arrays.sort(repIds)
    var i = 1
    while (i < nReps) { require(repIds(i - 1) != repIds(i), s"duplicate corpus rep id ${repIds(i)}"); i += 1 }
    def rank(id: Long): Int = java.util.Arrays.binarySearch(repIds, id)

    val setOff = new Array[Int](nReps + 1)
    blocks.foreach(bl => bl.ids.indices.foreach(j => setOff(rank(bl.ids(j)) + 1) = bl.setOff(j + 1) - bl.setOff(j)))
    i = 0
    while (i < nReps) { setOff(i + 1) += setOff(i); i += 1 }
    val sets = new Array[Int](nTokens.toInt)
    blocks.foreach(bl => bl.ids.indices.foreach { j =>
      System.arraycopy(bl.sets, bl.setOff(j), sets, setOff(rank(bl.ids(j))), bl.setOff(j + 1) - bl.setOff(j))
    })

    // keys: insert each entry's (tag, hash), remember its key and its rep
    val table = Array.fill(tableSize(nEntries))(-1)
    val mask = table.length - 1
    val keyTag, keyHash = new Array[Long](nEntries)
    val count = new Array[Int](nEntries + 1)
    val entryKey, entryRep = new Array[Int](nEntries)
    var nKeys = 0
    var e = 0
    blocks.foreach { bl =>
      bl.ids.indices.foreach { j =>
        val g = bl.groups(j) match {
          case null => nullGroup
          case s    => java.util.Arrays.binarySearch(groups.asInstanceOf[Array[AnyRef]], s)
        }
        val r = rank(bl.ids(j))
        var x = bl.entryOff(j)
        while (x < bl.entryOff(j + 1)) {
          val tag = g.toLong * nBands + bl.bands(x)
          val hash = bl.hashes(x)
          var s = slot(tag, hash) & mask
          while (table(s) != -1 && !(keyTag(table(s)) == tag && keyHash(table(s)) == hash)) s = (s + 1) & mask
          if (table(s) == -1) { table(s) = nKeys; keyTag(nKeys) = tag; keyHash(nKeys) = hash; nKeys += 1 }
          entryKey(e) = table(s); entryRep(e) = r; count(table(s) + 1) += 1
          e += 1; x += 1
        }
      }
    }
    // bucket each key's reps, sort them, keep the cap's smallest
    var k = 0
    while (k < nKeys) { count(k + 1) += count(k); k += 1 }
    val fill = java.util.Arrays.copyOf(count, nKeys)
    val all = new Array[Int](nEntries)
    e = 0
    while (e < nEntries) { all(fill(entryKey(e))) = entryRep(e); fill(entryKey(e)) += 1; e += 1 }
    val keyOff = new Array[Int](nKeys + 1)
    k = 0
    while (k < nKeys) {
      java.util.Arrays.sort(all, count(k), count(k + 1))
      keyOff(k + 1) = keyOff(k) + math.min(count(k + 1) - count(k), maxBucket)
      k += 1
    }
    val bucket = new Array[Int](keyOff(nKeys))
    k = 0
    while (k < nKeys) { System.arraycopy(all, count(k), bucket, keyOff(k), keyOff(k + 1) - keyOff(k)); k += 1 }
    new CorpusProbe(groups, nullGroup, nBands, table, java.util.Arrays.copyOf(keyTag, nKeys),
      java.util.Arrays.copyOf(keyHash, nKeys), keyOff, bucket, repIds, setOff, sets)
  }

  private def tableSize(keys: Long): Int = {
    var cap = 4L
    while (cap * 3L < keys * 5L) cap <<= 1 // load <= 0.6
    require(cap <= (1 << 30), s"corpus probe key table too large: $keys keys")
    cap.toInt
  }

  @inline private def slot(tag: Long, hash: Long): Int = {
    val x = (hash ^ (tag * 0x9e3779b97f4a7c15L)) * 0xbf58476d1ce4e5b9L
    (x ^ (x >>> 31)).toInt
  }
}
