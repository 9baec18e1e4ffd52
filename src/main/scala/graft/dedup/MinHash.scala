package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batched MinHash signatures + LSH band hashing.
  *
  * Replaces the reference's exact inverted-index candidate generation
  * (code/Stage05ComputeSimilarity.py:98-111 — every pair sharing >= 1 token)
  * with MinHash(128)+LSH: the reference design cannot scale because candidate
  * volume is quadratic in token document frequency; LSH banding bounds the
  * candidate set to pairs likely above the dedup threshold
  * (capture probability 1 - (1 - s^r)^b for r rows per band and b bands;
  * ~0.9998 at s = 0.7 under the default 32 x 4, see [[Config]]).
  *
  * All `numPerms` permutations are computed in one pass per row (batched,
  * per BASELINE.json north_star): h_i(x) = (a_i * x + b_i) mod p with
  * p = 2^31 - 1 and deterministic seeds, min-folded over the token array.
  * Token ids and coefficients fit in 31 bits so a_i * x + b_i stays inside
  * a signed 64-bit long with no overflow.
  */
object MinHash {

  private val P: Long = (1L << 31) - 1 // Mersenne prime 2^31-1

  /** Deterministic (a_i, b_i) coefficient table from the config seed. */
  def coefficients(numPerms: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(seed)
    val as = Array.fill(numPerms)(1L + rnd.nextInt((P - 1).toInt).toLong)
    val bs = Array.fill(numPerms)(rnd.nextInt(P.toInt).toLong)
    (as, bs)
  }

  /** encoded (doc_id, group, tokens) -> (doc_id, group, minhash: array<int>).
    * Compiled kernel call, not a UDF: no per-element boxing (HashKernels). */
  def withSignature(encoded: DataFrame, cfg: Config): DataFrame =
    encoded.withColumn("minhash", MinHashSig(col("tokens"), cfg))

  /** signatures -> exploded band rows (group, band, band_hash, doc_id). */
  def bandRows(signatures: DataFrame, cfg: Config): DataFrame =
    signatures.select(
      col("group"),
      posexplode(BandHashes(col("minhash"), cfg)).as(Seq("band", "band_hash")),
      col("doc_id")
    )

  /** [[bandRows]] with the doc's FULL band-hash array carried per row (the
    * input shape of the first-collision pair generator). */
  def bandRowsWithHashes(signatures: DataFrame, cfg: Config): DataFrame =
    signatures
      .withColumn("bhs", BandHashes(col("minhash"), cfg))
      .select(
        col("group"),
        posexplode(col("bhs")).as(Seq("band", "band_hash")),
        col("doc_id"),
        col("bhs")
      )

  /** LSH candidate pairs (a < b), deduped across bands.
    *
    * Both plans run PairGen's one bucket walk over (group, band, band_hash)
    * buckets; they differ in the rows it carries and its keep rule. Few
    * rows per band (<= 2 — the oracle-equality detector configs) means a
    * near-dup pair collides in MOST bands, so keeping every pair shuffles a
    * large duplication factor into the final distinct() (measured 27x / 86M
    * raw rows on the sf0.1 queries). There, when the caller's
    * `docCountBound` is at most `maxBucket`, the first-collision walk runs
    * instead: each band row carries the doc's full band-hash array (`bhs`)
    * and a pair is kept only in the first band the two docs collide in
    * ([[PairGen.FirstCollision]]), so the distinct shuffles ~1x the pair
    * set. A doc has one row per band bucket, so the bound proves that no
    * bucket crosses the cap, and the keep-all walk would walk every bucket
    * in full too: both emit the same pair set (asserted by TopNSpec and
    * PairGenSpec). The first-collision walk runs UNCAPPED, so a wrong bound
    * costs time and never loses a pair.
    *
    * NOT the default: carrying `bands` hashes per band row multiplies the
    * exchange width, which only pays when the duplication factor is large
    * (measured: production 32x4 dup factor 1.92, oracle 64x2 dup factor
    * 27), and a caller without a bound takes the keep-all walk. A bucket
    * buffers each member's hash array: bound x bands x 8 bytes per task at
    * most. */
  def candidatePairs(signatures: DataFrame, cfg: Config, docCountBound: Long = Long.MaxValue): DataFrame = {
    val buckets = Seq("group", "band", "band_hash")
    if (cfg.rowsPerBand <= 2 && docCountBound <= cfg.maxBucket)
      PairGen.pairsFromBuckets(bandRowsWithHashes(signatures, cfg), buckets, maxBucket = Int.MaxValue,
        keep = Some("bhs" -> (() => PairGen.FirstCollision)))
    else
      PairGen.pairsFromBuckets(bandRows(signatures, cfg), buckets, cfg.maxBucket)
  }
}
