package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism repair for CPU-heavy operators over byte-small inputs. */
object Par {

  /** Bump a plan to cluster parallelism when it reads too few bytes for
    * byte-based partitioning to feed every core (guide §2.6/§6): Spark sizes
    * scan splits by BYTES (128 MB splits, 4 MB open-cost floor), so a sub-MB
    * parquet table scans as ONE task regardless of cores — and every
    * regex/decode/hash/LCS-heavy map phase above it runs serial, which is
    * where per-row CPU cost, not byte count, is the real work. The same trap
    * hits AQE-coalesced tiny shuffle outputs feeding an expensive per-row
    * kernel.
    *
    * Decided without running anything (a partition count executes every
    * upstream shuffle stage under AQE, which the next action re-runs): spread
    * when the optimized plan's leaves hold < maxPartitionBytes × cores bytes
    * (leaves: a join's estimate is the product of its sides). A no-op for
    * every at-scale input; the target is the core count, never a constant.
    * A caller whose input [[spreadBy]] already spread skips this call. */
  def spread(df: DataFrame): DataFrame =
    if (!small(df)) df else df.repartition(parallelism(df))

  /** [[spread]] as a hash repartition on `cols`: an operator that needs
    * its rows clustered by `cols` (an aggregate, a join) reads this exchange
    * instead of adding its own, so the rows cross one exchange and still
    * arrive in as many partitions as there are cores. At scale it adds
    * nothing and the operator exchanges as usual. */
  def spreadBy(df: DataFrame, cols: Column*): DataFrame =
    if (!small(df)) df else df.repartition(parallelism(df), cols: _*)

  private def parallelism(df: DataFrame): Int = df.sparkSession.sparkContext.defaultParallelism

  private def small(df: DataFrame): Boolean = {
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum
    leafBytes < BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes) * parallelism(df)
  }
}
