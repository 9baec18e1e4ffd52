package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.dedup.Config
import org.apache.spark.sql.SparkSession

/** What a workload run reports: the output checks' verdict and its numbers
  * by metric name. */
final case class Result(correct: Boolean, attempted: Int, failed: Int, values: Map[String, Double])

/** Pair-table checksums across runs of one build with the same workload,
  * size and seed: the first run records its checksum and every later run
  * must reproduce it. The record lives in a directory named after the build,
  * so a changed engine starts a fresh one. */
final class Checksums(dir: Path, key: String) {

  /** Prints the check and returns how many of `sums` differ from the record. */
  def verify(workload: String, sums: Seq[Long]): Int = {
    Files.createDirectories(dir)
    val f = dir.resolve(s"$key.txt")
    val recorded = if (Files.exists(f)) Some(new String(Files.readAllBytes(f), "UTF-8").trim.toLong) else None
    val ref = recorded.getOrElse(sums.head)
    if (recorded.isEmpty) Files.write(f, ref.toString.getBytes("UTF-8"))
    val bad = sums.count(_ != ref)
    val against = if (recorded.isDefined) "the checksum recorded by an earlier run" else "this run's first (now recorded)"
    println(s"check $workload pair checksum: ${sums.size - bad}/${sums.size} equal $against for $key ($ref)")
    bad
  }
}

/** Everything a workload needs from the command line and the session. */
final class Ctx(
    val spark: SparkSession,
    val log: TaskLog,
    val cores: Int,
    val seed: Long,
    val seconds: Double,
    val scratch: Path,
    val checksums: Checksums,
    hostControlS: Double
) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Set-up time so far: JVM start to now, less the host control. */
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - hostControlS

  /** Progress note on standard error: where a run spends its time. */
  def phase(name: String): Unit = System.err.println(f"[perfbench] $name at ${sinceJvmStart()}%.1f s")
}

/** Benchmark entry point.
  *
  *   perfbench.Main --workload <batch_sparse|batch_clones|stream_ingest>
  *                  --seed N --seconds S --trace 0|1 --scratch DIR --state DIR
  *                  [--size full|smoke]
  *
  * `--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
  * metrics of a traced replay. The last line of standard output is the JSON
  * result; the exit code is non-zero when an output check failed.
  */
object Main {

  private final case class Size(sparse: Long, clones: Long, streamCorpus: Long, streamFiles: Long, streamParts: Int)

  private val sizes = Map(
    "full" -> Size(sparse = 30000L, clones = 12000L, streamCorpus = 2000L, streamFiles = 1000L, streamParts = 10),
    "smoke" -> Size(sparse = 1000L, clones = 1600L, streamCorpus = 400L, streamFiles = 200L, streamParts = 4)
  )

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val sizeName = opts.getOrElse("size", "full")
    val size = sizes.getOrElse(sizeName, throw new IllegalArgumentException("--size is full or smoke"))
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace is 0 or 1, got $t")
    }
    val scratch = Paths.get(need("scratch")).toAbsolutePath
    Files.createDirectories(scratch)
    val cores = Runtime.getRuntime.availableProcessors()
    // before the session: nothing of the benchmark's competes with it yet
    val (host0, hostS) = Window.time(HostControl.measure(cores))
    val spark = Util.session(cores, scratch)
    val seed = need("seed").toLong
    val checksums = new Checksums(Paths.get(need("state")), s"$workload-$sizeName-seed$seed")
    val ctx = new Ctx(spark, new TaskLog(spark, cores), cores, seed, need("seconds").toDouble, scratch, checksums, hostS.wallS)
    ctx.phase("session")

    val result =
      try {
        workload match {
          case "batch_sparse" =>
            val b = new Batch(ctx, BatchCorpus(workload, size.sparse, Config()))
            if (traced) b.trace() else b.measure()
          case "batch_clones" =>
            val b = new Batch(ctx, BatchCorpus(workload, size.clones, Config(substringDedup = true, topN = Some(3))))
            if (traced) b.trace() else b.measure()
          case "stream_ingest" =>
            val s = new Stream(ctx, size.streamCorpus, size.streamFiles, size.streamParts)
            if (traced) s.trace() else s.measure()
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
      } finally {
        ctx.phase("done")
        spark.stop()
      }

    val host1 = HostControl.measure(cores)
    println(s"host before: ${host0.line(cores)}")
    println(s"host after:  ${host1.line(cores)}")
    val metrics =
      if (traced) Report.fill(Report.PerLayer, result.values)
      else Report.fill(Report.EndToEnd, result.values)
    Report.table(workload, if (traced) metrics else metrics ++ Report.fill(Report.TableOnly, result.values))
    println(Report.json(result.correct, result.attempted, result.failed, metrics))
    System.out.flush()
    if (!result.correct) sys.exit(1)
  }
}
