package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What Spark did inside one wall-clock window. */
final case class Usage(
    wallS: Double,
    driverS: Double,
    coreUtil: Double,
    taskSkew: Double,
    jobs: Int,
    shuffleMb: Double,
    spillMb: Double,
    gcS: Double
)

/** Records every job start and task end; [[usage]] attributes them to a
  * window by the job's start time. Windows are the benchmark's own spans and
  * runs, which never overlap, so time attribution needs no job tags (the
  * engine's sidecar threads start jobs too, inside the window of the stage
  * that queued them: every span that queues them also awaits them).
  */
final class TaskLog(spark: SparkSession, cores: Int) extends SparkListener {
  import TaskLog.Task

  private val jobStarts = new ConcurrentLinkedQueue[(Long, Seq[Int])]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add((e.time, e.stageIds))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(
        e.stageId,
        e.taskInfo.launchTime,
        e.taskInfo.finishTime,
        m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.jvmGCTime
      ))
  }

  /** Usage of the jobs that started in [startMs, endMs]; `wallS` is the
    * window's own nanosecond-timed length. Forgets everything recorded up to
    * now, so callers ask once per window, in order. */
  def usage(startMs: Long, endMs: Long, wallS: Double): Usage = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val js = jobStarts.asScala.filter { case (t, _) => t >= startMs && t <= endMs }.toSeq
    val stages = js.flatMap(_._2).toSet
    val ts = tasks.asScala.filter(t => stages(t.stage)).toSeq
    jobStarts.clear()
    tasks.clear()

    // time inside the window during which at least one task ran
    val busyMs = ts
      .map(t => (math.max(t.launch, startMs), math.min(t.finish, endMs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (a >= reach) (acc + (b - a), b)
        else if (b > reach) (acc + (b - reach), b)
        else (acc, reach)
      }
      ._1
    val runMs = ts.map(_.runMs).sum
    // skew of the span's heaviest stage: the one whose tasks ran longest
    val skew = if (ts.isEmpty) 1.0 else {
      val heaviest = ts.groupBy(_.stage).values.maxBy(_.map(_.runMs).sum).map(_.runMs).sorted
      val median = heaviest(heaviest.size / 2)
      heaviest.last.toDouble / math.max(median, 1L)
    }
    Usage(
      wallS = wallS,
      driverS = math.max(0.0, wallS - busyMs / 1000.0),
      coreUtil = if (wallS > 0) runMs / 1000.0 / (wallS * cores) else 0.0,
      taskSkew = skew,
      jobs = js.size,
      shuffleMb = ts.map(_.shuffleBytes).sum / 1e6,
      spillMb = ts.map(_.spillBytes).sum / 1e6,
      gcS = ts.map(_.gcMs).sum / 1000.0
    )
  }
}

object TaskLog {
  private final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long, shuffleBytes: Long, spillBytes: Long, gcMs: Long)
}

/** Wall-clock window around a block: epoch millis for attribution, nanos for
  * the length. */
final case class Window(startMs: Long, endMs: Long, wallS: Double)

object Window {
  def time[T](f: => T): (T, Window) = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = f
    val wall = (System.nanoTime() - t0) / 1e9
    (out, Window(ms0, System.currentTimeMillis(), wall))
  }
}
