package graft.ops

import graft.dedup.{CacheRegistry, Ids}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-shard sequence packing: documents are laid out in one global
  * deterministic order, their token streams conceptually concatenated, and
  * the stream cut every `budget` tokens — each document belongs to the shard
  * where its FIRST token lands (the GPT-style pretraining shard layout:
  * shards are fixed token budgets, documents straddle boundaries rather
  * than leaving tail padding). Emits each row's global `token_offset` and
  * `shard_id = token_offset div budget`.
  *
  * The offset is a GLOBAL ORDERED PREFIX SUM — the canonical trap is
  * `Window.orderBy(id)` with no partition key, which Spark executes as a
  * single-partition sort (one task owns 100 TB). It is [[Ids.prefixSum]],
  * the distributed two-pass form the dense ids use, weighted by the token
  * count.
  */
object ShardPack {

  /** Pack rows (unique by `orderCol`) into shards of `budget` weight units
    * (`weightCol`: a non-null, non-negative long column).
    * Output columns: the input's, plus `token_offset` (sum of `weightCol`
    * over all rows strictly before this one in `orderCol` order) and
    * `shard_id` (= token_offset div budget, a bigint). `reg` owns the
    * prefix sum's scaffolding persist. */
  def pack(
      df: DataFrame,
      orderCol: String,
      weightCol: String,
      budget: Long,
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): DataFrame = {
    require(budget > 0, s"shard budget must be positive, got $budget")
    val (offsets, _) = Ids.prefixSum(df, Seq(orderCol), Some(weightCol), "token_offset", reg)
    // integral `div`: `/` is a double division, and the layout is bigint
    offsets.withColumn("shard_id", expr(s"token_offset div $budget"))
  }
}
