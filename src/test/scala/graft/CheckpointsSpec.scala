package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.dedup.{Checkpoints, Config}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The checkpoint subsystem: CSV sink + header scan (S1/S5), sidecar heal,
  * the config guard, lineage JSON, the composite partitioned sink (S7), and
  * the counts each stage's write observes for its `_metrics`.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def metrics(path: String): Map[String, Long] =
    spark.read.parquet(s"${path}_metrics").select("partition", "rows").as[(String, Long)].collect().toMap

  /** The Spark jobs `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("checkpoints-barrier", "barrier")
      spark.range(1).count()
      // listener events arrive in order: once the barrier's job is seen,
      // every job submitted before it has been seen too
      eventually(timeout(Span(30, Seconds))) { assert(groups.contains("checkpoints-barrier")) }
      groups.asScala.count(_ != "checkpoints-barrier")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("S1/S5: CSV sink + header scan round-trips the reference input shape") {
    val dir = tmpDir("graft-csv")
    val rows = Seq(
      ("CN101", 2015, "Machine learning algorithm", "Advanced machine learning, with \"quotes\" and, commas."),
      ("CN102", 2015, "Deep learning framework", "Deep learning framework for large scale data.")
    ).toDF("pnr", "year", "title_en", "abstract_en")
    rows.coalesce(1).write.option("header", true).mode("overwrite").csv(dir)
    val back = spark.read.option("header", true).option("inferSchema", true).csv(dir)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("pnr", "year", "title_en", "abstract_en"))
    val r = back.filter(col("pnr") === "CN101").head()
    assert(r.getAs[String]("abstract_en").contains("\"quotes\" and, commas"))
    assert(r.getAs[Int]("year") == 2015)
  }

  test("sidecar heal: a committed stage missing its metrics gets them rebuilt on resume") {
    val work = tmpDir("graft-heal")
    val rows = (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
    Checkpoints.stage(spark, "heal", s"$work/heal")(rows)
    // simulate a run killed between data commit and sidecar write
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    rmr(new java.io.File(s"$work/heal_metrics"))
    assert(!Checkpoints.exists(spark, s"$work/heal_metrics"))
    // resume: stage data is reused (build must NOT rerun), sidecar is healed
    val resumed = Checkpoints.stage(spark, "heal", s"$work/heal")(
      sys.error("build must not re-run for a committed stage"): org.apache.spark.sql.DataFrame
    )
    assert(resumed.count() == 20)
    assert(Checkpoints.stageRowCount(spark, s"$work/heal") == 20L)
  }

  test("config guard: resuming a stage under a different config rebuilds it") {
    val work = tmpDir("graft-cfg-guard")
    val rows = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    val rows2 = (1L to 25L).map(i => (i, s"w$i")).toDF("k", "v")
    val sigA = Config(threshold = 0.7).stageFingerprints("pairs")
    val sigB = Config(threshold = 0.5).stageFingerprints("pairs")
    assert(sigA != sigB)
    // upstream stages don't depend on threshold: their sigs are unchanged
    assert(
      Config(threshold = 0.7).stageFingerprints("candidates") ==
        Config(threshold = 0.5).stageFingerprints("candidates")
    )
    // plan-only knob must NOT change any fingerprint (checkpoints are
    // reusable across encode plans — the bench evidence leg proves bitwise
    // equality); shingleK reaches every stage through the cumulative prefix
    assert(Config(broadcastMaxVocab = 1L).stageFingerprints == Config().stageFingerprints)
    assert(
      Config(shingleK = 3).stageFingerprints.forall { case (k, v) =>
        v != Config().stageFingerprints(k)
      }
    )
    // the version collapse stamps this exact suffix; work dirs already
    // stamped with it must keep resuming
    assert(Config(collapseVersions = true).stageFingerprints("docs") ==
      "groupCols=lang;shingleK=1;collapseVersions=commit")
    Checkpoints.stage(spark, "g", s"$work/g", Nil, Nil, sigA)(rows)
    // same sig: resumes without rebuilding
    val resumed = Checkpoints.stage(spark, "g", s"$work/g", Nil, Nil, sigA)(
      sys.error("build must not re-run"): org.apache.spark.sql.DataFrame
    )
    assert(resumed.count() == 10)
    // different sig: rebuilds (returns the NEW build, not the stale table)
    val rebuilt = Checkpoints.stage(spark, "g", s"$work/g", Nil, Nil, sigB)(rows2)
    assert(rebuilt.count() == 25)
    // ... and stamps the new sig: resuming at sigB now skips the build
    val kept = Checkpoints.stage(spark, "g", s"$work/g", Nil, Nil, sigB)(
      sys.error("build must not re-run after re-stamp"): org.apache.spark.sql.DataFrame
    )
    assert(kept.count() == 25)
    // empty sig (ad-hoc caller) and pre-guard manifests stay accepted
    assert(Checkpoints.stage(spark, "g", s"$work/g")(rows).count() == 25)
  }

  test("lineage manifest is valid JSON even for paths with quotes/backslashes") {
    import graft.dedup.JsonText
    // the quoter itself
    assert(JsonText.quote("""a"b\c""" + "\t\n") == """"a\"b\\c\t\n"""")
    assert(JsonText.quote("plain") == "\"plain\"")
    // end-to-end: a workDir containing a quote round-trips through
    // _lineage.json -> a real JSON parser (Spark's reader)
    val work = tmpDir("graft-lineage-\"q\"")
    val rows = (1L to 5L).map(i => (i, s"v$i")).toDF("k", "v")
    Checkpoints.stage(spark, "lin", s"$work/lin", inputs = Seq(s"$work/in\"put"))(rows)
    val parsed = spark.read.json(s"$work/lin_lineage.json").collect()
    assert(parsed.length == 1)
    val r = parsed.head
    assert(r.getAs[String]("stage") == "lin")
    assert(r.getAs[String]("path") == s"$work/lin")
    assert(r.getAs[scala.collection.Seq[String]]("inputs").toSeq == Seq(s"$work/in\"put"))
  }

  test("S7: composite (two-column) partitioned sink with per-partition metrics") {
    val work = tmpDir("graft-s7")
    val rows = Seq(
      (1L, "2015", "A", "x"), (2L, "2015", "A", "y"),
      (3L, "2015", "B", "z"), (4L, "2016", "A", "w"), (5L, "2016", "B", "v")
    ).toDF("id", "year", "typ", "payload")
    val back = Checkpoints.stage(spark, "s7", s"$work/s7", Seq("year", "typ"))(rows)
    assert(back.count() == 5)
    // hive-style two-level partition dirs exist
    val dirs = new java.io.File(s"$work/s7").listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("year=2015", "year=2016"))
    // metrics sidecar has one row per (year, typ) partition with exact counts
    val m = spark.read
      .parquet(s"$work/s7_metrics")
      .select("partition", "rows")
      .as[(String, Long)]
      .collect()
      .toMap
    assert(m == Map(
      "year=2015/typ=A" -> 2L, "year=2015/typ=B" -> 1L,
      "year=2016/typ=A" -> 1L, "year=2016/typ=B" -> 1L
    ))
  }

  test("a fresh partitioned stage and its row count run at most 3 jobs") {
    val work = tmpDir("graft-jobs")
    val rows = (1L to 200L).map(i => (i, s"g${i % 3}")).toDF("k", "group")
    val jobs = jobsOf {
      val back = Checkpoints.stage(spark, "jobs", s"$work/jobs", Seq("group"))(rows)
      assert(back.columns.toSeq == Seq("k", "group"))
      assert(Checkpoints.stageRowCount(spark, s"$work/jobs") == 200L)
    }
    // the observed write, the `_metrics` write, the `_metrics` sum
    assert(jobs <= 3, s"$jobs jobs")
    assert(metrics(s"$work/jobs") == Map("group=g0" -> 66L, "group=g1" -> 67L, "group=g2" -> 67L))
  }

  test("_metrics labels NULL and empty partition values as the directory they share") {
    val work = tmpDir("graft-labels")
    val rows = Seq((1L, null: String), (2L, ""), (3L, "a")).toDF("k", "group")
    Checkpoints.stage(spark, "labels", s"$work/labels", Seq("group"))(rows)
    assert(metrics(s"$work/labels") == Map("" -> 2L, "group=a" -> 1L))
    // healed from the stored table: the same labels
    new java.io.File(s"$work/labels_metrics/_SUCCESS").delete()
    Checkpoints.stage(spark, "labels", s"$work/labels", Seq("group"))(sys.error("no rebuild"))
    assert(metrics(s"$work/labels") == Map("" -> 2L, "group=a" -> 1L))
    // an empty partitioned stage has no partition rows; an unpartitioned one counts 0
    Checkpoints.stage(spark, "none", s"$work/none", Seq("group"))(rows.filter(lit(false)))
    assert(metrics(s"$work/none").isEmpty)
    Checkpoints.stage(spark, "zero", s"$work/zero")(rows.filter(lit(false)))
    assert(metrics(s"$work/zero") == Map("__table__" -> 0L))
  }

  test("a numeric-looking partition value reads back as the string it was written as") {
    val work = tmpDir("graft-typed")
    val rows = Seq((1L, "2015"), (2L, "0042")).toDF("k", "year")
    val back = Checkpoints.stage(spark, "typed", s"$work/typed", Seq("year"))(rows)
    val resumed = Checkpoints.stage(spark, "typed", s"$work/typed", Seq("year"))(sys.error("no rebuild"))
    for (t <- Seq(back, resumed)) {
      assert(t.schema("year").dataType == StringType)
      assert(t.select("year").as[String].collect().sorted.toSeq == Seq("0042", "2015"))
    }
    assert(metrics(s"$work/typed") == Map("year=2015" -> 1L, "year=0042" -> 1L))
  }
}
