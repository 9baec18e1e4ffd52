package graft.dedup

import org.apache.spark.sql.DataFrame

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
    * every at-scale input; the target is the core count, never a constant. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum
    val fullSplits = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes) * p
    if (leafBytes < fullSplits) df.repartition(p) else df
  }
}
