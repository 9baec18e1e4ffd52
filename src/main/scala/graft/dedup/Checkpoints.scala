package graft.dedup

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Per-stage checkpointing with metrics + lineage — the engine's resumability
  * subsystem (BASELINE.json north_rule: "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * Reference precedent: stage-skip memoization via output-file existence
  * (code/main_script.py:39-41, 237-252) and anti-join resume against already
  * written output (code/main_citation_pair.py:232-246). Here each stage is an
  * atomic Parquet table (Iceberg-shaped layout: data files under partition
  * directories + a `_metrics` sidecar table + a `_lineage.json` manifest);
  * swapping the writer to an Iceberg catalog is a one-class change — the
  * runtime image ships no Iceberg jars (offline resolver), so plain
  * partitioned Parquet stands in.
  *
  * A stage is complete iff Parquet's `_SUCCESS` marker exists (the write is
  * atomic: task commit + job commit), so a killed run re-executes exactly the
  * incomplete stages and the final output is byte-identical — verified by the
  * resume test in the suite.
  */
object Checkpoints {

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // Sidecar (metrics + lineage) writes run OFF the critical path: the next
  // stage's jobs start while the sidecar count job runs concurrently (Spark
  // schedules jobs from multiple threads). Pipeline.run awaits all pending
  // sidecars before returning, so readers of a returned Tables always see
  // complete sidecars. Without this, 7 stages x (count job + tiny write)
  // serialize into the run's fixed cost — the kind of constant that caps
  // scaling efficiency.
  private val pendingSidecars =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.Future[_]]()
  private lazy val sidecarPool = java.util.concurrent.Executors.newFixedThreadPool(
    2,
    (r: Runnable) => { val t = new Thread(r, "graft-sidecar"); t.setDaemon(true); t }
  )

  /** Block until `path`'s sidecar is written (no-op if none pending). */
  def awaitSidecar(path: String): Unit = {
    val f = pendingSidecars.remove(path)
    if (f != null) f.get()
  }

  /** Block until every pending sidecar is written. */
  def awaitAllSidecars(): Unit = {
    val it = pendingSidecars.keys()
    while (it.hasMoreElements) awaitSidecar(it.nextElement())
  }

  /** Block until the pending sidecars of the stages under `workDir` finish,
    * dropping their failures: a failed run drains what it started, so no
    * failed future is left to fail a later run in this JVM. */
  def drainSidecars(workDir: String): Unit =
    pendingSidecars.keySet.asScala.filter(_.startsWith(workDir + "/")).foreach(p => Try(awaitSidecar(p)))

  /** Run `build` unless `path` already holds a completed stage BUILT UNDER
    * THE SAME CONFIG; always return the checkpointed table. Writes row-count
    * metrics per partition column value (per-partition lineage) into
    * `<path>_metrics`.
    *
    * `configSig`: the canonical config string the stage's content depends on
    * (one entry of [[Config.stageFingerprints]]). Non-empty sigs are stamped
    * into the lineage manifest at commit; a resumed stage whose stored sig
    * differs is REBUILT (with a warning) instead of silently returned — with
    * the cumulative per-stage sigs, re-running a work dir with a changed
    * `threshold` reuses every checkpoint up to candidates and recomputes
    * only verify + components. Empty sig = unchecked (ad-hoc callers);
    * pre-guard checkpoints (no sig in their manifest) are accepted and
    * re-stamped on heal. The work dir's INPUT TABLE is not fingerprinted —
    * pointing one work dir at different inputs still reuses stages, exactly
    * like the reference's file-existence memoization.
    */
  def stage(
      spark: SparkSession,
      name: String,
      path: String,
      partitionCols: Seq[String] = Nil,
      inputs: Seq[String] = Nil,
      configSig: String = ""
  )(build: => DataFrame): DataFrame = {
    // drain any still-in-flight async sidecar for this path FIRST: a second
    // stage() call over the same dir in one JVM would otherwise race the
    // pending write (mis-reading a half-written manifest as pre-guard, or
    // heal-over a half-written _metrics dir)
    awaitSidecar(path)
    val complete = exists(spark, path)
    val staleCfg = if (complete) storedSigMismatch(spark, path, configSig) else None
    staleCfg.foreach { stored =>
      System.err.println(
        s"[graft] stage '$name' at $path was checkpointed under a different config " +
          s"(stored: $stored; current: $configSig) — rebuilding it and stamping the new sig. " +
          "Downstream stages carry cumulative sigs, so they rebuild too."
      )
    }
    val written: Option[StructType] = if (!complete || staleCfg.nonEmpty) {
      val t0 = System.nanoTime()
      val df = build
      // zstd (not snappy), DEFAULT dictionary budget: token-array columns
      // overflow parquet's 1MB dictionary page and fall back to PLAIN, and
      // zstd recovers that redundancy at codec level. Raising the dictionary
      // cap instead was measured SLOWER end-to-end (64MB write-side
      // dictionaries cost more than PLAIN+zstd saves — official-methodology
      // legs regressed ~8-12%), so the fallback is the intended plan.
      val writer = df.write.mode("overwrite").option("compression", "zstd")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(path)
      val wallMs = (System.nanoTime() - t0) / 1000000
      // the read-back column order: partition columns last
      val schema = StructType(
        df.schema.filterNot(f => partitionCols.contains(f.name)) ++ partitionCols.map(df.schema(_))
      )
      pendingSidecars.put(
        path,
        sidecarPool.submit(new Runnable {
          def run(): Unit = writeSidecars(spark, name, path, partitionCols, inputs, wallMs, configSig, Some(schema))
        })
      )
      Some(schema)
    } else {
      // heal a run killed between data commit and sidecar write: the stage
      // itself is complete (atomic _SUCCESS), only the sidecar is missing.
      // (Known double-fault gap: the healed manifest stamps the CURRENT
      // configSig — if the killed run used a different config, that one
      // stage's data predates the stamp. The window is a single stage's
      // commit-to-sidecar gap, and the interleaving needs a config change
      // across the crash; a paranoid operator deletes the last stage dir
      // after any crashed run that also changed config.)
      if (!exists(spark, path + "_metrics"))
        writeSidecars(spark, name, path, partitionCols, inputs, wallMs = 0L, configSig, storedSchema(spark, path))
      None
    }
    read(spark, path, written.orElse(storedSchema(spark, path)))
  }

  /** The committed table at `path`. A partitioned stage with no rows holds
    * no data file, so Parquet has no footer to infer a schema from: such a
    * stage reads back with the schema it was written with. */
  private def read(spark: SparkSession, path: String, schema: => Option[StructType]): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        spark.read.schema(schema.getOrElse(throw e)).parquet(path)
    }

  private def lineageText(spark: SparkSession, path: String): Option[String] = {
    val lp = new Path(path + "_lineage.json")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(lp)) None
    else {
      val in = fs.open(lp)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** The read-back schema recorded in a stage's lineage manifest, if any. */
  private def storedSchema(spark: SparkSession, path: String): Option[StructType] =
    lineageText(spark, path)
      .flatMap(t => Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(t).get("schema")))
      .map(node => DataType.fromJson(node.toString).asInstanceOf[StructType])

  private def sha256Hex(s: String): String =
    java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x")
      .mkString

  /** Some(storedConfigString) when the stage's lineage manifest records a
    * DIFFERENT config sig than the current run's; None when it matches or
    * cannot be checked. Comparison uses the sig's sha-256 (fixed charset —
    * immune to whatever characters the sig itself contains); manifests
    * without a sig (pre-guard runs, ad-hoc stages) are accepted as-is. */
  private def storedSigMismatch(
      spark: SparkSession,
      path: String,
      configSig: String
  ): Option[String] = {
    if (configSig.isEmpty) return None
    val txt = lineageText(spark, path).getOrElse(return None)
    "\"config_sha\":\"([0-9a-f]{64})\"".r.findFirstMatchIn(txt).flatMap { m =>
      if (m.group(1) == sha256Hex(configSig)) None
      else
        Some(
          "\"config\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
            .findFirstMatchIn(txt)
            .map(_.group(1))
            .getOrElse("<unavailable>")
        )
    }
  }

  /** Metrics (per-partition rows) + lineage manifest for a committed stage.
    *
    * Row counts come from a DISTRIBUTED count(*) over the written table: the
    * scan reads zero data columns (partition values come from directory
    * names, counts from parquet footers), so it is metadata-cheap AND
    * parallel across files — unlike a driver-side footer walk, whose
    * O(#files) serial time is a fixed cost that breaks scaling efficiency
    * and would take hours at 10^9 files.
    */
  private def writeSidecars(
      spark: SparkSession,
      name: String,
      path: String,
      partitionCols: Seq[String],
      inputs: Seq[String],
      wallMs: Long,
      configSig: String,
      schema: Option[StructType]
  ): Unit = {
    val written = read(spark, path, schema)
    val counts =
      if (partitionCols.nonEmpty)
        written
          .groupBy(partitionCols.map(col): _*)
          .agg(count(lit(1)).as("rows"))
          .withColumn(
            "partition",
            concat_ws(
              "/",
              partitionCols.map(c => concat(lit(c + "="), col(c).cast("string"))): _*
            )
          )
      else written.agg(count(lit(1)).as("rows")).withColumn("partition", lit("__table__"))
    counts
      .select(
        col("partition"),
        col("rows"),
        lit(name).as("stage"),
        lit(wallMs).as("wall_ms")
      )
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(path + "_metrics")

    val cfgFields =
      if (configSig.isEmpty) ""
      else s""","config":${JsonText.quote(configSig)},"config_sha":"${sha256Hex(configSig)}""""
    val schemaField = schema.fold("")(s => s""","schema":${s.json}""")
    val lineage =
      s"""{"stage":${JsonText.quote(name)},"path":${JsonText.quote(path)},"inputs":[${inputs.map(JsonText.quote).mkString(",")}],"wall_ms":${wallMs}$cfgFields$schemaField}"""
    val lp = new Path(path + "_lineage.json")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lp, true)
    try out.write(lineage.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Total row count of a completed stage from its `_metrics` sidecar —
    * O(1) driver work (the sidecar is one tiny file written at stage-commit
    * time), replacing per-use footer walks. */
  def stageRowCount(spark: SparkSession, path: String): Long = {
    awaitSidecar(path)
    spark.read
      .parquet(path + "_metrics")
      .agg(coalesce(sum(col("rows")), lit(0L)))
      .head()
      .getLong(0)
  }
}

/** Minimal JSON string quoting for the hand-authored manifests (lineage,
  * oracle dump): backslash, quote, and ALL control chars (<0x20) — a quote
  * or tab in a workDir path or builder-authored SQL would otherwise emit
  * invalid JSON that fails a reader's json.load. */
object JsonText {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
