package graft.dedup

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

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
  * A stage is complete iff Parquet's `_SUCCESS` marker (the write is atomic:
  * task commit + job commit) and its lineage manifest exist, so a killed run
  * re-executes exactly the incomplete stages and the final output is
  * byte-identical — verified by the resume test in the suite.
  */
object Checkpoints {

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A no-op: [[stage]] writes a stage's sidecars before it returns, so
    * there is never a sidecar to wait for. Kept because the benchmark's
    * checkpoint layer (perfbench) calls it. */
  def awaitAllSidecars(): Unit = ()

  /** Run `build` unless `path` already holds a completed stage BUILT UNDER
    * THE SAME CONFIG; always return the checkpointed table. Writes row-count
    * metrics per partition column value (per-partition lineage) into
    * `<path>_metrics`.
    *
    * The counts come from the write that commits the table ([[countedWrite]]),
    * so the stage is read once, by its own write: no count job and no
    * schema-inference job. `_lineage.json` records the read-back schema
    * (partition columns last); the returned table and a resumed one are read
    * with it, so a partition value reads back as the type it was written
    * with ("2015" stays a string) and a partitioned stage with no rows (no
    * data file, so no footer to infer from) reads back too. Only manifests
    * written before the schema key existed fall back to inference. A
    * committed table without a manifest is a run killed between the data
    * commit and the manifest write: it is rebuilt, not read back by
    * inference.
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
    val manifest = if (exists(spark, path)) readManifest(spark, path) else None
    val complete = manifest.nonEmpty
    val staleCfg = manifest.flatMap(storedSigMismatch(_, configSig))
    staleCfg.foreach { stored =>
      System.err.println(
        s"[graft] stage '$name' at $path was checkpointed under a different config " +
          s"(stored: $stored; current: $configSig) — rebuilding it and stamping the new sig. " +
          "Downstream stages carry cumulative sigs, so they rebuild too."
      )
    }
    val schema: Option[StructType] = if (!complete || staleCfg.nonEmpty) {
      val t0 = System.nanoTime()
      val df = build
      // zstd (not snappy), DEFAULT dictionary budget: token-array columns
      // overflow parquet's 1MB dictionary page and fall back to PLAIN, and
      // zstd recovers that redundancy at codec level. Raising the dictionary
      // cap instead was measured SLOWER end-to-end (64MB write-side
      // dictionaries cost more than PLAIN+zstd saves — official-methodology
      // legs regressed ~8-12%), so the fallback is the intended plan.
      val counts = countedWrite(df, partitionCols) { observed =>
        val writer = observed.write.mode("overwrite").option("compression", "zstd")
        (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer).parquet(path)
      }
      val wallMs = (System.nanoTime() - t0) / 1000000
      val schema = StructType(
        df.schema.filterNot(f => partitionCols.contains(f.name)) ++ partitionCols.map(df.schema(_))
      )
      writeSidecars(spark, name, path, inputs, wallMs, configSig, Some(schema), counts)
      Some(schema)
    } else {
      val stored = manifest.flatMap(storedSchema)
      // heal a run killed between the manifest and the `_metrics` write:
      // the stage and its manifest (which passed the config check above)
      // are complete, only `_metrics` is missing
      if (!exists(spark, path + "_metrics")) {
        val counts = countedWrite(read(spark, path, stored), partitionCols)(
          _.write.format("noop").mode("overwrite").save()
        )
        writeSidecars(spark, name, path, inputs, wallMs = 0L, configSig, stored, counts)
      }
      stored
    }
    read(spark, path, schema)
  }

  /** The committed table at `path`, read with its recorded schema when
    * there is one (no inference job). */
  private def read(spark: SparkSession, path: String, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).parquet(path)

  /** Runs `write` over `df` and returns the rows it wrote, as `_metrics`
    * (partition label, rows) entries: one per partition value tuple, or one
    * `__table__` entry for an unpartitioned stage.
    *
    * The counts are observed on the write itself: the observation sits
    * directly under the writer (no exchange between them), so it runs in
    * the write job's result stage, whose accumulator updates Spark merges
    * once per partition — a retried task cannot count twice. The label is
    * the one the directory name reads back as: the writer stores `""` and
    * NULL alike as the default partition, which reads back as NULL, and
    * `concat_ws` leaves a NULL column out of the label. */
  private def countedWrite(df: DataFrame, partitionCols: Seq[String])(write: DataFrame => Unit): Seq[(String, Long)] = {
    val rows =
      if (partitionCols.isEmpty) map(lit("__table__"), count(lit(1)))
      else
        PartitionRows.column(
          concat_ws("/", partitionCols.map(c => concat(lit(c + "="), nullif(col(c).cast("string"), lit("")))): _*)
        )
    val obs = new Observation()
    write(df.observe(obs, rows.as("rows")))
    obs.get("rows").asInstanceOf[scala.collection.Map[String, Long]].toSeq
  }

  /** Rows per partition label. */
  private object PartitionRows extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], label: String): Map[String, Long] = b.updated(label, b.getOrElse(label, 0L) + 1L)
    def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
      y.foldLeft(x) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) }
    def finish(b: Map[String, Long]): Map[String, Long] = b
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    val column = udaf(this, Encoders.STRING)
  }

  /** A stage's lineage manifest, parsed, if it has one. */
  private def readManifest(spark: SparkSession, path: String): Option[JsonNode] = {
    val lp = new Path(path + "_lineage.json")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(lp)) None
    else {
      val in = fs.open(lp)
      try Some(new ObjectMapper().readTree(in))
      finally in.close()
    }
  }

  /** The read-back schema recorded in a stage's lineage manifest, if any. */
  private def storedSchema(manifest: JsonNode): Option[StructType] =
    Option(manifest.get("schema")).map(node => DataType.fromJson(node.toString).asInstanceOf[StructType])

  private def sha256Hex(s: String): String =
    java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x")
      .mkString

  /** Some(storedConfigString) when the stage's lineage manifest records a
    * DIFFERENT config sig than the current run's; None when it matches or
    * cannot be checked. Comparison uses the sig's sha-256; manifests without
    * a sig (pre-guard runs, ad-hoc stages) are accepted as-is. */
  private def storedSigMismatch(manifest: JsonNode, configSig: String): Option[String] =
    if (configSig.isEmpty) None
    else
      Option(manifest.get("config_sha")).map(_.asText).filter(_ != sha256Hex(configSig)).map { _ =>
        Option(manifest.get("config")).map(_.asText).getOrElse("<unavailable>")
      }

  /** The `_metrics` table of a stage. */
  private val MetricsSchema = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("stage", StringType, nullable = false),
    StructField("wall_ms", LongType, nullable = false)
  ))

  /** Lineage manifest + metrics for a committed stage, from the counts its
    * write observed. The manifest goes first: it completes the stage, and
    * `_metrics`' `_SUCCESS` marks the sidecars complete, so a run killed
    * between the two heals `_metrics` on resume. */
  private def writeSidecars(
      spark: SparkSession,
      name: String,
      path: String,
      inputs: Seq[String],
      wallMs: Long,
      configSig: String,
      schema: Option[StructType],
      counts: Seq[(String, Long)]
  ): Unit = {
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

    spark
      .createDataFrame(counts.map { case (p, n) => Row(p, n, name, wallMs) }.asJava, MetricsSchema)
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(path + "_metrics")
  }

  /** Total row count of a completed stage from its `_metrics` sidecar —
    * one small scan job (the sidecar is one tiny file, one row per
    * partition, read with its fixed schema), summed on the driver. */
  def stageRowCount(spark: SparkSession, path: String): Long =
    read(spark, path + "_metrics", Some(MetricsSchema)).select("rows").collect().map(_.getLong(0)).sum
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
