package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.ObjectType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — Test/fork := true).
  * A def over getOrCreate: a suite that stops the session (the shared-chain
  * memo's stopped-session test) leaves the next caller a fresh one. */
object SparkSpec {
  def spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "4g"))
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body` run with the session confs `kvs` set; each is restored after. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val old = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** The session's broadcast threshold: `-1` turns every broadcast join
    * [[graft.dedup.Par.buildSide]] would choose into a shuffle hash join. */
  val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Every node of a physical plan: AQE query stages, and the plan of each
    * cached relation it scans, each cached plan once however often it is
    * scanned. */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val helper = new AdaptiveSparkPlanHelper {}
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] =
      helper.collect(p) { case n => n }.flatMap {
        case s: InMemoryTableScanExec if seen.add(s.relation.cacheBuilder.cachedPlan) =>
          s +: walk(s.relation.cacheBuilder.cachedPlan)
        case n => Seq(n)
      }
    walk(plan)
  }

  /** The join operators of a physical plan ([[planNodes]]). */
  def joins(plan: SparkPlan): Seq[SparkPlan] = planNodes(plan).collect { case j: BaseJoinExec => j }

  /** The shuffle exchanges of `df`'s executed plan (run it first) whose rows
    * carry a column named `column` or starting with `column_`. */
  def shufflesCarrying(df: DataFrame, column: String): Seq[SparkPlan] =
    shufflesCarrying(df.queryExecution.executedPlan, column)

  def shufflesCarrying(plan: SparkPlan, column: String): Seq[SparkPlan] =
    planNodes(plan).collect {
      case e: ShuffleExchangeLike if e.output.exists(a => a.name == column || a.name.startsWith(column + "_")) => e
    }

  /** How many expression nodes matching `f` the operators of `plan` hold:
    * how often the plan evaluates such an expression per row. */
  def exprCount(plan: SparkPlan)(f: PartialFunction[Expression, Unit]): Int =
    planNodes(plan).map(_.expressions.map(_.collect(f).size).sum).sum

  /** How many calls of `kernel` the operators of `plan` hold: a static
    * kernel by its object's class (`TokenSetKernel.getClass`), an instance
    * kernel by its case class (`classOf[HashKernels.BandHashKernel]`). */
  def kernelCalls(plan: SparkPlan, kernel: Class[_]): Int =
    exprCount(plan)(kernelCall(kernel))

  def kernelCall(kernel: Class[_]): PartialFunction[Expression, Unit] = {
    case s: StaticInvoke if s.staticObject == kernel =>
    case Invoke(Literal(_, ObjectType(c)), _, _, _, _, _, _, _) if c == kernel =>
  }

  /** The per-row kernel calls that the operators of `plan` hold more than
    * once, canonicalized: a compiled kernel ([[graft.dedup.KernelCall]],
    * a graft class) or any ScalaUDF. A call copied into a pushed filter or
    * a join condition keeps its input attributes, so its copy is equal to
    * it; two calls of one kernel on different inputs are not. */
  def repeatedKernelCalls(plan: SparkPlan): Seq[Expression] = {
    def graftKernel(c: Class[_]) = c.getName.startsWith("graft.")
    planNodes(plan)
      .flatMap(_.expressions.flatMap(_.collect {
        case s: StaticInvoke if graftKernel(s.staticObject) => s.canonicalized
        case i @ Invoke(Literal(_, ObjectType(c)), _, _, _, _, _, _, _) if graftKernel(c) => i.canonicalized
        case u: ScalaUDF => u.canonicalized
      }))
      .groupBy(identity)
      .collect { case (call, copies) if copies.size > 1 => call }
      .toSeq
  }
}
