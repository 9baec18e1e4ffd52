package graft.dedup

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Bucket -> candidate-pair generation, shared by the LSH band pass, the
  * SimHash block pass and the winnow fingerprint pass.
  *
  * Skew design (SURVEY.md §4): boilerplate shingles put thousands of docs in
  * one bucket; a naive self-join on the bucket key makes one O(B^2) straggler
  * task and a per-bucket `collect_list` OOMs. Two semantics, one pass:
  *
  *  - B <= maxBucket: full B^2/2 pair expansion;
  *  - B > maxBucket: chain-linking — each doc pairs with its `ChainWidth`
  *    sorted neighbors only. This bounds output at B*w while preserving
  *    CONNECTIVITY of the bucket (a chain spans it), which is what
  *    clustering needs; pairwise completeness for near-dup pairs is carried
  *    by the other bands (each pair gets `bands` independent chances to land
  *    in a small bucket). Bench reports the oversized-bucket count.
  * A [[KeepRule]] filters the pairs of both inside the walk from a sig each
  * member carries ([[FirstCollision]], [[WithinHamming]]): no join back.
  *
  * Physical shape: ONE hash exchange on the bucket key + ONE in-partition
  * sort by (key, doc_id) + the streaming [[BucketWalk]], which buffers at
  * most maxBucket+1 members per bucket, however hot (the first-collision
  * walk runs uncapped, under a caller's bound on bucket size). It emits one
  * (id, neighbor-array) row per doc per bucket, not one JVM object per pair;
  * the quadratic fan-out is a codegen'd `explode` over primitive long arrays
  * (boxing each pair was measurably slower). The winnow pass keys its
  * buckets by (fingerprint, group) but exchanges on the fingerprint alone,
  * so the same walk also counts the fingerprint's document frequency across
  * groups and drops it above the cap ([[pairsFromCappedBuckets]]): the
  * fingerprint rows cross one exchange, with no df aggregate or anti join.
  *
  * Exact duplicates should be collapsed to one representative per content
  * hash BEFORE this runs (see [[Pipeline]]) — otherwise a 100k-copy file
  * makes every one of its band buckets oversized by construction.
  */
object PairGen {

  val ChainWidth = 4

  /** A pair filter the walk applies inside each bucket: it buffers each
    * member's [[sig]], read from the column after `doc_id` (the row's last),
    * and asks [[test]] once per bucket, given its first row, for the test
    * of each pair it emits. The walk passes a pair's sigs in either order. */
  private[dedup] trait KeepRule {
    def sig(r: Row): Array[Long]
    def test(key: Row): (Array[Long], Array[Long]) => Boolean
  }

  /** The bucket/cap/chain state machine. Input rows are sorted by
    * (key columns 0 until nKeys, doc_id at nKeys). A closed bucket of size
    * <= cap yields, per member, (id, later ids). A bucket that crosses the
    * cap yields chain rows instead: the buffered prefix as (id, its <=
    * ChainWidth later ids), then each further member as (id, its <=
    * ChainWidth earlier ids). A keep rule filters every pair of both;
    * without one every pair is kept. Consumers orient pairs themselves
    * (least/greatest). */
  private[dedup] final class BucketWalk(rows: Iterator[Row], nKeys: Int, cap: Int, keep: Option[KeepRule])
      extends Iterator[(Long, Array[Long])] {
    private type Test = (Array[Long], Array[Long]) => Boolean
    private val ids = new ArrayBuffer[Long]()
    private val sigs = new ArrayBuffer[Array[Long]]() // the rule's sig of each of `ids`
    private var key: Row = null // first row of the current bucket
    private var test: Test = null // the rule's test of a chained bucket; null keeps all
    private var chain = false
    private var pending: Iterator[(Long, Array[Long])] = Iterator.empty

    private def sameKey(r: Row): Boolean = {
      var i = 0
      while (i < nKeys && r.get(i) == key.get(i)) i += 1
      i == nKeys
    }

    private def push(r: Row, id: Long): Unit = {
      ids += id
      keep.foreach(k => sigs += k.sig(r))
    }

    /** (members(i), the members(j), from <= j < to, that `t` keeps with it). */
    private def row(members: Array[Long], ss: Array[Array[Long]], t: Test, i: Int, from: Int, to: Int) =
      (members(i), if (t == null) java.util.Arrays.copyOfRange(members, from, to)
        else (from until to).filter(j => t(ss(j), ss(i))).map(members).toArray)

    /** Rows of the pairs `t` keeps among `ids`: (i, its <= `width` later
      * ids). The lazy rows snapshot what they read: they are consumed after
      * the walk has moved on. */
    private def rowsOf(width: Int, t: Test): Iterator[(Long, Array[Long])] = {
      val (members, ss) = (ids.toArray, sigs.toArray)
      (0 until members.length - 1).iterator
        .map(i => row(members, ss, t, i, i + 1, math.min(i + 1 + width, members.length)))
        .filter(_._2.nonEmpty)
    }

    /** Close a small bucket: all its pairs the rule keeps. */
    private def flush(): Iterator[(Long, Array[Long])] =
      if (chain || ids.length < 2) Iterator.empty else rowsOf(ids.length, keep.map(_.test(key)).orNull)

    /** Keep only the trailing chain window. */
    private def trim(): Unit = { ids.dropInPlace(ids.length - ChainWidth); sigs.dropInPlace(sigs.length - ChainWidth) }

    private def advance(): Unit = {
      while (!pending.hasNext && rows.hasNext) {
        val r = rows.next()
        val id = r.getLong(nKeys)
        if (key == null || !sameKey(r)) {
          pending = flush()
          key = r
          chain = false
          ids.clear(); sigs.clear()
          push(r, id)
        } else {
          push(r, id)
          if (chain) {
            // this member and the <= ChainWidth members before it
            val n = ids.length - 1
            pending = Iterator.single(row(ids.toArray, sigs.toArray, test, n, 0, n))
            trim()
          } else if (ids.length > cap) {
            // the bucket just crossed the cap: chain-link all of it — the
            // buffered prefix now, the rest as it streams
            chain = true
            test = keep.map(_.test(key)).orNull
            pending = rowsOf(ChainWidth, test)
            trim()
          }
        }
      }
      if (!pending.hasNext && !rows.hasNext && key != null) {
        pending = flush()
        key = null
      }
    }

    def hasNext: Boolean = {
      if (!pending.hasNext) advance()
      pending.hasNext
    }
    def next(): (Long, Array[Long]) = {
      if (!hasNext) throw new NoSuchElementException
      pending.next()
    }
  }

  /** Drops each run of rows sharing key columns 0 until nKeys that holds
    * more than `maxRows` rows and passes every other run through in order.
    * A run is buffered until it closes or crosses `maxRows`; past that the
    * buffer is dropped and the rest of the run streams by unkept, so memory
    * stays at maxRows + 1 rows however long the run. */
  private[dedup] final class RunCap(rows: Iterator[Row], nKeys: Int, maxRows: Int) extends Iterator[Row] {
    private var ahead: Row = null // first row of the next run, read ahead
    private var pending: Iterator[Row] = Iterator.empty

    private def sameKey(a: Row, b: Row): Boolean = {
      var i = 0
      while (i < nKeys && a.get(i) == b.get(i)) i += 1
      i == nKeys
    }

    private def advance(): Unit =
      while (!pending.hasNext && (ahead != null || rows.hasNext)) {
        val first = if (ahead != null) ahead else rows.next()
        ahead = null
        val run = ArrayBuffer(first)
        var over = run.length > maxRows
        while (ahead == null && rows.hasNext) {
          val r = rows.next()
          if (!sameKey(first, r)) ahead = r
          else if (!over) {
            run += r
            over = run.length > maxRows
          }
        }
        if (!over) pending = run.iterator
      }

    def hasNext: Boolean = {
      if (!pending.hasNext) advance()
      pending.hasNext
    }
    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      pending.next()
    }
  }

  /** The fingerprint walk: rows sorted by (df key at 0, bucket key columns
    * 1 until nKeys, doc_id at nKeys). Drops every df key held by more than
    * `maxDf` rows ([[RunCap]]), then walks each (df key, bucket key) bucket
    * of the rest with [[BucketWalk]]'s cap and chain rules. */
  private[dedup] def cappedWalk(rows: Iterator[Row], nKeys: Int, maxDf: Int, cap: Int): Iterator[(Long, Array[Long])] =
    new BucketWalk(new RunCap(rows, 1, maxDf), nKeys, cap, None)

  /** Exchange `rows` (keyCols ++ doc_id: long ++ whatever the walk reads)
    * on `exchangeCols` (a prefix of keyCols), sort each partition by
    * (keyCols, doc_id), walk it, and fan the walk rows out to distinct
    * (a, b), a < b. `walker` runs once per partition. */
  private def walk(rows: DataFrame, exchangeCols: Seq[String], keyCols: Seq[String])(
      walker: Iterator[Row] => Iterator[(Long, Array[Long])]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .repartition(exchangeCols.map(col): _*)
      .sortWithinPartitions((keyCols :+ "doc_id").map(col): _*)
      .mapPartitions(walker)
      .toDF("x", "ys")
      // quadratic fan-out in codegen over primitive arrays, not in the JVM
      // iterator; chain rows arrive (later, earlier) so orient explicitly
      .select(col("x"), explode(col("ys")).as("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
  }

  private def docId = col("doc_id").cast("long").as("doc_id")

  /** rows: bucket key columns + `doc_id` (+ `keep`'s column). Returns
    * distinct (a, b), a < b. With `keep` = (column, rule), the walk carries
    * `column` after `doc_id` and emits only the pairs the rule accepts; the
    * rule is built once per partition, so it may read a broadcast. */
  def pairsFromBuckets(rows: DataFrame, bucketCols: Seq[String], maxBucket: Int,
      keep: Option[(String, () => KeepRule)] = None): DataFrame = {
    val nKeys = bucketCols.length
    walk(rows.select(bucketCols.map(col) ++ (docId +: keep.map(k => col(k._1)).toSeq): _*), bucketCols, bucketCols)(
      it => new BucketWalk(it, nKeys, maxBucket, keep.map(_._2())))
  }

  /** [[pairsFromBuckets]] over (dfCol ++ bucketCols) buckets, keeping only
    * `dfCol` values held by at most `maxDf` rows, in ONE exchange: the rows
    * exchange on `dfCol` alone, sort by (dfCol, bucketCols, doc_id), and
    * [[cappedWalk]] counts each value's rows as it streams — no aggregate,
    * no anti join, no second pass over the rows. A hot value (far above
    * `maxDf`) streams through one task in O(maxDf) memory: the same skew
    * posture as [[BucketWalk]]'s oversized buckets. rows: dfCol, bucketCols,
    * `doc_id`. Returns distinct (a, b), a < b. */
  def pairsFromCappedBuckets(rows: DataFrame, dfCol: String, bucketCols: Seq[String], maxDf: Int,
      maxBucket: Int): DataFrame = {
    val keyCols = dfCol +: bucketCols
    val nKeys = keyCols.length
    walk(rows.select(keyCols.map(col) :+ docId: _*), Seq(dfCol), keyCols)(
      it => cappedWalk(it, nKeys, maxDf, maxBucket))
  }

  /** Keep rule of the first-collision walk ([[MinHash.candidatePairs]]) over
    * (group, band, band_hash) buckets: a pair of band `b`'s bucket survives
    * iff no earlier band k < b shares the two docs' hash, i.e. `b` is the
    * first band they collide in. The sig is the doc's hash per band.
    *
    * Over an UNCAPPED walk every bucket is walked in full, so the first
    * band two docs collide in emits their pair and no later band does: the
    * keep-all walk's pair set, each pair exactly once. */
  private[dedup] object FirstCollision extends KeepRule {
    def sig(r: Row): Array[Long] = r.getSeq[Long](r.length - 1).toArray

    def test(key: Row): (Array[Long], Array[Long]) => Boolean = {
      val band = key.getInt(1)
      (a, b) => {
        var k = 0
        while (k < band && a(k) != b(k)) k += 1
        k == band
      }
    }
  }

  /** Keep rule of SimHash's block walk: a pair survives iff its simhashes
    * (a long after `doc_id`) differ in at most `maxDist` bits. */
  private[dedup] final class WithinHamming(maxDist: Int) extends KeepRule {
    def sig(r: Row): Array[Long] = Array(r.getLong(r.length - 1))
    def test(key: Row): (Array[Long], Array[Long]) => Boolean =
      (x, y) => java.lang.Long.bitCount(x(0) ^ y(0)) <= maxDist
  }
}
