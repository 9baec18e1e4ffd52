package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils

/** Parallelism repair for CPU-heavy operators over byte-small inputs, and
  * the build-side choice for joins whose one side is small. */
object Par {

  /** A join's small side, hinted for the join it builds: a broadcast when
    * it fits `spark.sql.autoBroadcastJoinThreshold` ([[buildBytes]]; a
    * threshold <= 0 never broadcasts), else a shuffle hash build. The
    * broadcast leaves the other, wide side where it is, so its rows (token
    * arrays, say) cross no exchange for this join. Above the threshold the
    * shuffle hash build keeps a sort-merge join from sorting the wide side;
    * that hint also keeps AQE from turning the join into a broadcast. */
  def buildSide(df: DataFrame, rowBound: Long = Long.MaxValue): DataFrame = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold > 0 && buildBytes(df, rowBound) <= threshold) df.hint("broadcast")
    else df.hint("shuffle_hash")
  }

  /** Spark's size estimate of `df` (the optimized plan's statistics), capped
    * at `rowBound` rows of the plan's estimated row width. The cap is for a
    * side derived from a join, whose estimate is the product of the join's
    * inputs however few rows it holds: a caller that knows a row count bound
    * (a stage's `_metrics` count) passes it. */
  private[graft] def buildBytes(df: DataFrame, rowBound: Long = Long.MaxValue): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    plan.stats.sizeInBytes.min(BigInt(rowBound) * EstimationUtils.getSizePerRow(plan.output))
  }

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
