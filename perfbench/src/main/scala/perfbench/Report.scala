package perfbench

/** One reported number; `None` is a layer or metric the workload does not
  * exercise (printed `n/a`; 0 in the JSON, whose values must be numbers). */
final case class Metric(name: String, value: Option[Double], unit: String)

object Report {

  /** End-to-end metrics in the JSON result (BENCHMARK.json `end_to_end`). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "files_per_s" -> "files/s",
    "batch_p50_s" -> "s",
    "dup_pair_recall" -> "fraction",
    "shuffle_mb" -> "MB",
    "ckpt_bytes_per_input_byte" -> "ratio",
    "setup_s" -> "s"
  )

  /** End-to-end metrics printed in the table only. `spill_mb` and
    * `failed_frac` are 0 on a healthy run, and a bound relative to a median
    * of 0 cannot be enforced; `batch_p90_s` rests on about ten micro-batches
    * a run, one sample beyond it, too few to hold a bound. */
  val TableOnly: Seq[(String, String)] = Seq("batch_p90_s" -> "s", "spill_mb" -> "MB", "failed_frac" -> "fraction")

  val Layers: Seq[String] = Seq(
    "docs", "vocab", "encode", "signatures", "candidates", "verify", "expand",
    "components", "substring", "topn", "checkpoint", "stream_gate", "stream_probe"
  )

  val LayerMetrics: Seq[(String, String)] = Seq(
    "self_s" -> "s",
    "driver_s" -> "s",
    "core_util" -> "fraction",
    "task_skew" -> "ratio",
    "jobs" -> "count",
    "shuffle_mb" -> "MB",
    "spill_mb" -> "MB",
    "gc_s" -> "s",
    "rows_out" -> "rows"
  )

  val Extra: Seq[(String, String)] = Seq(
    "candidates.per_verified_pair" -> "ratio",
    "candidates.oversized_buckets" -> "count",
    "candidates.chain_dropped_pairs" -> "count",
    "substring.candidates_per_hit" -> "ratio",
    "stream_probe.candidates_per_pair" -> "ratio",
    "stream.plan_s" -> "s",
    "stream.add_batch_s" -> "s",
    "unattributed_s" -> "s"
  )

  /** Every per-layer metric name with its unit (BENCHMARK.json `per_layer`). */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => LayerMetrics.map { case (m, u) => s"$l.$m" -> u }) ++ Extra

  /** Per-layer metrics of one replayed span. */
  def layerMetrics(layer: String, u: Usage, rows: Long): Map[String, Double] = Map(
    s"$layer.self_s" -> u.wallS,
    s"$layer.driver_s" -> u.driverS,
    s"$layer.core_util" -> u.coreUtil,
    s"$layer.task_skew" -> u.taskSkew,
    s"$layer.jobs" -> u.jobs.toDouble,
    s"$layer.shuffle_mb" -> u.shuffleMb,
    s"$layer.spill_mb" -> u.spillMb,
    s"$layer.gc_s" -> u.gcS,
    s"$layer.rows_out" -> rows.toDouble
  )

  /** Fill `spec` from `values`, missing names as n/a. */
  def fill(spec: Seq[(String, String)], values: Map[String, Double]): Seq[Metric] =
    spec.map { case (n, u) => Metric(n, values.get(n), u) }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** Human-readable table: one `metric` line per number, units included. */
  def table(workload: String, metrics: Seq[Metric]): Unit =
    metrics.foreach { m =>
      val v = m.value.map(x => f"$x%.6g").getOrElse("n/a")
      println(f"metric $workload%-13s ${m.name}%-36s $v%14s ${m.unit}")
    }

  /** The result line: the last line of standard output. */
  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String = {
    val ms = metrics.map { m =>
      s""""${m.name}": {"value": ${num(m.value.getOrElse(0.0))}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
