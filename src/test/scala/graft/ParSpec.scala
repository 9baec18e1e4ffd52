package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.dedup.Par
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, JoinStrategyHint, ResolvedHint, SHUFFLE_HASH}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

class ParSpec extends SparkSpec {

  test("Par.spread decides without running a job: nothing runs before the first action") {
    val sc = spark.sparkContext
    import spark.implicits._
    val shuffled = (1 to 200).toDF("x").groupBy(($"x" % 7).as("k")).count()
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("par-spread-decide", "Par.spread")
      val spread = Par.spread(shuffled)
      sc.setJobGroup("par-spread-action", "first action")
      assert(spread.count() == 7)
      // listener events arrive in order: once the action's job is seen,
      // every job submitted before it has been seen too
      eventually(timeout(Span(30, Seconds))) { assert(groups.contains("par-spread-action")) }
      assert(!groups.asScala.exists(_ == "par-spread-decide"), "Par.spread ran a job to decide")
      // byte-small input: spread to cluster parallelism
      assert(spread.rdd.getNumPartitions == sc.defaultParallelism)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("Par.spread is a no-op on an input that fills a full split per core") {
    val big = spark.range(1L << 40).toDF("id") // never executed
    assert(Par.spread(big) eq big)
  }

  test("Par.spreadBy hash-spreads a byte-small input to one partition per core") {
    import spark.implicits._
    val small = (1 to 200).toDF("x")
    val byKey = Par.spreadBy(small, $"x")
    assert(byKey.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  /** The join strategy `Par.buildSide` hinted for `df`. */
  private def strategy(df: DataFrame): Option[JoinStrategyHint] = df.queryExecution.analyzed match {
    case ResolvedHint(_, h) => h.strategy
    case p => fail(s"no hint on:\n$p")
  }

  test("Par.buildSide broadcasts a side that fits and never at a threshold <= 0") {
    val small = spark.range(1000).toDF("k") // 8 KB
    assert(strategy(Par.buildSide(small)).contains(BROADCAST))
    // an empty side is estimated at 0 bytes, which is <= a threshold of 0
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("k")
    assert(Par.buildBytes(empty) == 0)
    for (off <- Seq("-1", "0"); side <- Seq(small, empty))
      withConf(BroadcastThreshold -> off)(assert(strategy(Par.buildSide(side)).contains(SHUFFLE_HASH), s"threshold $off"))
    // the hint reaches the plan: the wide side streams through a broadcast
    // join, and through a shuffle hash join without broadcasts
    val wide = spark.range(100000).toDF("k")
    def joinsOf(df: DataFrame) = { df.collect(); joins(df.queryExecution.executedPlan) }
    assert(joinsOf(wide.join(Par.buildSide(small), "k")).collect { case j: BroadcastHashJoinExec => j }.size == 1)
    withConf(BroadcastThreshold -> "-1") {
      assert(joinsOf(wide.join(Par.buildSide(small), "k")).collect { case j: ShuffledHashJoinExec => j }.size == 1)
    }
  }

  test("Par.buildSide: a join-derived side broadcasts only through its row bound") {
    val a = spark.range(2000).toDF("k")
    val joined = a.join(spark.range(2000).toDF("k"), "k") // 2,000 rows; estimated as 16 KB x 16 KB
    assert(Par.buildBytes(joined) > BigInt(10L << 20), "the estimate of a join is the product of its sides")
    assert(strategy(Par.buildSide(joined)).contains(SHUFFLE_HASH))
    assert(Par.buildBytes(joined, rowBound = 2000L) < BigInt(1L << 20))
    assert(strategy(Par.buildSide(joined, rowBound = 2000L)).contains(BROADCAST))
    // the bound only caps: a loose bound leaves a small side's estimate
    assert(Par.buildBytes(a, rowBound = 1L << 40) == Par.buildBytes(a))
  }

  test("Par.buildSide keeps a shuffle hash build on a side above the threshold") {
    val big = spark.range(1L << 40).toDF("k") // never executed
    assert(strategy(Par.buildSide(big)).contains(SHUFFLE_HASH))
    val small = spark.range(1000).toDF("k") // 8 KB
    withConf(BroadcastThreshold -> "4096")(assert(strategy(Par.buildSide(small)).contains(SHUFFLE_HASH)))
  }
}
