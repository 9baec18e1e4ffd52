package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.dedup.Par
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
}
