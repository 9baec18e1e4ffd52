package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 64-bit SimHash pass — the second detector of the three-stage design
  * (BASELINE.json north_star). Catches near-clones whose token MULTISET is
  * almost identical (small edits), complementing MinHash which estimates
  * set Jaccard.
  *
  * simhash(doc) = sign-bit vector of the per-bit vote sum over SplitMix64
  * token hashes. Candidates: two docs within Hamming distance k must agree
  * exactly on at least one of k+1 disjoint 16-bit blocks (pigeonhole), so
  * blocking on (block_idx, block_value) finds all of them. The block walk
  * keeps a pair only when its full simhashes, carried in the block rows,
  * are within hamming k ([[PairGen.WithinHamming]]); the survivors are
  * verified with exact Jaccard like every other candidate source.
  */
object SimHash {

  val Blocks = 4 // 4 x 16-bit blocks -> complete for hamming <= 3
  val MaxHamming = 3

  private[dedup] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def withSimhash(encoded: DataFrame, cfg: Config): DataFrame =
    // compiled kernel call, not a UDF: no per-element boxing (see HashKernels)
    encoded.withColumn("simhash", SimHash64(col("tokens"), cfg))

  /** (doc_id, group, simhash) -> block rows (group, block, block_val, doc_id, simhash). */
  def blockRows(signatures: DataFrame): DataFrame = {
    val blocks = array((0 until Blocks).map { b =>
      shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))
    }: _*)
    signatures.select(
      col("group"),
      posexplode(blocks).as(Seq("block", "block_val")),
      col("doc_id"),
      col("simhash")
    )
  }

  /** Hamming-filtered candidate pairs (a < b): one block walk, the
    * Hamming test inside it. */
  def candidatePairs(signatures: DataFrame, cfg: Config): DataFrame =
    PairGen.pairsFromBuckets(
      blockRows(signatures),
      bucketCols = Seq("group", "block", "block_val"),
      maxBucket = cfg.maxBucket,
      keep = Some("simhash" -> (() => new PairGen.WithinHamming(MaxHamming)))
    )
}
