package graft.dedup

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic dense Long ids and global ordered prefix sums at cluster
  * scale.
  *
  * The reference assigns ids by line position in a single file
  * (code/Stage02CodifyIdxPatents.py:61-85) — inherently single-node. The
  * Spark-native equivalent must avoid both `monotonically_increasing_id`
  * (nondeterministic under retries / partition changes) and a global
  * single-partition `row_number()` window (all rows through one task).
  *
  * [[prefixSum]] is the one two-pass stamp; a dense id is its count of the
  * earlier rows (no weight column; ids = dense rank over the distinct
  * sort-key tuples, in key order — a pure function of the input's key set).
  * The id entry points differ only in what they persist and what reaches
  * the stamp:
  *
  *  - [[assignDense]]: SKINNY inputs whose keys are already unique
  *    (vocabulary rows, element-df tables). The input is persisted so the
  *    range sampling pass does not re-run an expensive upstream lineage.
  *  - [[assignDenseByKey]]: WIDE payload rows (the corpus). The payload
  *    never enters the stamp — only the key projection does; the payload is
  *    not persisted, and the id join moves it through at most one hash
  *    shuffle (none while the id map is broadcast) unless keys repeat.
  */
object Ids {

  // Cache lifetime is CALLER-owned via the CacheRegistry parameter: the
  // persisted scaffolding pins the sampled range partitioning that both the
  // count job and the (lazy) stamp job must share — a JVM-global release
  // hook could fire between them from an unrelated caller and silently
  // re-sample the boundaries (duplicated/skipped ids). Callers release their
  // registry only after the consuming plan is materialized.

  /** Direct stamp: `df`'s rows must be UNIQUE by `sortCols` (vocabulary
    * aggregates and similar skinny tables are, by construction). Payload
    * columns ride along through the range shuffle. */
  def assignDense(
      df: DataFrame,
      sortCols: Seq[String],
      idCol: String,
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): DataFrame =
    assignDenseWithCount(df, sortCols, idCol, reg)._1

  /** [[assignDense]] plus the input's exact row count — free: the stamp's
    * per-partition count pass already totals it, so callers that need the
    * cardinality (e.g. the encode-plan choice) skip a separate count job. */
  def assignDenseWithCount(
      df: DataFrame,
      sortCols: Seq[String],
      idCol: String,
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): (DataFrame, Long) = {
    // the sampling pass of repartitionByRange re-executes the input lineage;
    // persist so an upstream aggregate is computed once
    val input = reg.persist(df)
    prefixSum(input, sortCols, None, idCol, reg)
  }

  /** Id assignment for wide rows: count and stamp the SKINNY key projection
    * of `df` (column pruning keeps the payload out of it), then join ids back
    * null-safe with the id map as the build side ([[Par.buildSide]]). The
    * payload is never persisted. While the id map fits the broadcast
    * threshold the payload crosses NO exchange here; above it the join is a
    * shuffle hash and the payload crosses ONE exchange, the id join's: the
    * planner hashes it on the full null-safe key (`<=>` plans as
    * `coalesce(k, ''), isnull(k)` per column, which no partitioning of the
    * raw columns satisfies, so an earlier repartition of the payload would
    * only be shuffled again). Rows sharing a key tuple collapse to one
    * arbitrary row — detected on the skinny side and resolved with a
    * payload dedup (one more payload shuffle) only when duplicates actually
    * exist. Ids depend on the key set alone. */
  def assignDenseByKey(
      df: DataFrame,
      sortCols: Seq[String],
      idCol: String,
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): DataFrame = {
    val keyCnt = df.groupBy(sortCols.map(col): _*).agg(count(lit(1)).as("__cnt"))
    val keyIds = prefixSum(keyCnt, sortCols, None, idCol, reg)._1
    val hasDups = keyIds.filter(col("__cnt") > 1).limit(1).count() > 0
    val deduped = if (hasDups) df.dropDuplicates(sortCols) else df
    // the ids table is the small side: broadcast, or a shuffle hash build
    // (a sort-merge join would re-sort the wide payload)
    val right = Par.buildSide(keyIds.select(sortCols.map(c => col(c).as(s"__k_$c")) :+ col(idCol): _*))
    // null-safe join keys: a null key tuple is still a (single) valid key,
    // and plain `=` would silently drop those rows
    val cond = sortCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
    deduped
      .join(right, cond)
      .select(df.columns.map(col) :+ col(idCol): _*)
  }

  /** The one global ordered prefix sum. `df`'s rows must be UNIQUE by
    * `sortCols`; each row weighs 1 (`weightCol` = None) or the value of its
    * `weightCol`, a non-null, non-negative long column. Each row gains
    * `outCol` = the sum of the weights of every row earlier in `sortCols`
    * order; the returned Long is the total weight. A dense id is
    * `prefixSum` with no weight column; q43's shard layout
    * ([[graft.ops.ShardPack]]) is the same sum over token counts.
    *
    * Two passes, never a single-partition window: range-partition + sort
    * (one shuffle), sum the weights per partition (narrow job over the
    * cached sorted copy), fold the sums into start offsets on the driver
    * (O(#partitions) state), stamp offset + the weights before each row in
    * its partition (second narrow job). The persist pins the sampled
    * partitioning both jobs must share. The cached rows are the input's
    * plus the partition id: the weight is read from its own column.
    *
    * The partition id is MATERIALIZED INTO THE CACHED ROWS
    * (spark_partition_id() at cache-build time), not read from TaskContext
    * at stamp time: TaskContext.getPartitionId() returns the TASK's
    * partition id, and a downstream no-shuffle coalesce() fuses many parent
    * partitions into one task — every parent would then read the same
    * (coalesced) id and restart from the same offset, silently DUPLICATING
    * ids and offsets. A fused coalesce still invokes the stamp function once
    * per parent split with that split's rows, so reading the stored pid
    * from the rows is correct under any downstream plan (`graft.Verify`
    * writes every query through exactly such a coalesce(1)). */
  def prefixSum(
      df: DataFrame,
      sortCols: Seq[String],
      weightCol: Option[String],
      outCol: String,
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): (DataFrame, Long) = {
    val cols = sortCols.map(col)
    val sorted = reg.persist(
      df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*).withColumn("__pid", spark_partition_id()))
    val width = df.columns.length
    val pidIdx = sorted.schema.fieldIndex("__pid")
    val weightOf: Row => Long = weightCol match {
      case None => _ => 1L
      case Some(c) => val wIdx = df.schema.fieldIndex(c); _.getLong(wIdx)
    }

    // per-partition sums over the CACHED sorted copy. Dataset.mapPartitions,
    // not queryExecution.toRdd: a Dataset action plans through the cache
    // manager and scans the InMemoryRelation, while toRdd on a fresh
    // QueryExecution re-executed the whole upstream lineage — profiled as a
    // +70% vocab-stage wall in the round-4 bench before this fix.
    import org.apache.spark.sql.Encoders.{scalaInt, scalaLong, tuple}
    val sums: Array[(Int, Long)] = sorted
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          var s = 0L
          var pid = -1
          while (it.hasNext) { val r = it.next(); pid = r.getInt(pidIdx); s += weightOf(r) }
          Iterator.single((pid, s))
        }
      }(tuple(scalaInt, scalaLong))
      .collect()
      .sortBy(_._1)

    val offsets: Map[Int, Long] = {
      var acc = 0L
      sums.map { case (pid, s) => val o = (pid, acc); acc += s; o }.toMap
    }
    val bOffsets = df.sparkSession.sparkContext.broadcast(offsets)

    val outSchema = StructType(df.schema.fields :+ StructField(outCol, LongType, nullable = false))
    val stamped = sorted.mapPartitions { it =>
      var next = -1L
      it.map { r =>
        if (next < 0) next = bOffsets.value.getOrElse(r.getInt(pidIdx), 0L)
        val out = Row.fromSeq(r.toSeq.take(width) :+ next)
        next += weightOf(r)
        out
      }
    }(Encoders.row(outSchema))
    (stamped, sums.foldLeft(0L)(_ + _._2))
  }
}
