package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dev main's argument parser: pure, so no Spark session. */
class DevSpec extends AnyFunSuite {
  import Dev._

  private val sf = Some("sfdir")

  test("parse accepts every subcommand, with defaults and explicit args") {
    assert(parse(Seq("setup"), sf) == Right(Setup("sfdir", 3)))
    assert(parse(Seq("setup", "2"), sf) == Right(Setup("sfdir", 2)))
    assert(parse(Seq("q", "q25_components"), sf) == Right(Query("sfdir", "q25_components", 3)))
    assert(parse(Seq("q", "q25_components", "1"), sf) == Right(Query("sfdir", "q25_components", 1)))
    assert(parse(Seq("plans"), sf) == Right(Plans("sfdir", None)))
    assert(parse(Seq("plans", "q13_doc_pairs,q25_components", "out"), sf) ==
      Right(Plans("sfdir", Some((Seq("q13_doc_pairs", "q25_components"), "out")))))
    assert(parse(Seq("legs", "20000", "1"), None) == Right(Legs(20000L, 1)))
    assert(parse(Seq("encode"), None) == Right(Encode(1000000L, 8, 3)))
    assert(parse(Seq("encode", "5000", "2", "1"), None) == Right(Encode(5000L, 2, 1)))
  }

  test("legs rejects pairs < 1 and non-numeric args with the usage message") {
    val bad = Seq(
      Seq("legs", "20000", "0"),
      Seq("legs", "20000", "-1"),
      Seq("legs", "x", "1"),
      Seq("legs", "20000", "one"),
      Seq("legs", "20000"),
      Seq("legs", "20000", "1", "extra")
    )
    bad.foreach { args =>
      val r = parse(args, sf)
      assert(r.isLeft, s"accepted ${args.mkString(" ")}")
      assert(r.swap.toOption.get.endsWith(usage), s"no usage for ${args.mkString(" ")}")
    }
  }

  test("query-table subcommands need SPARK_GRAFT_SF_DIR and a known query name") {
    Seq(Seq("setup"), Seq("q", "q25_components"), Seq("plans")).foreach { args =>
      assert(parse(args, None).swap.toOption.get.contains("SPARK_GRAFT_SF_DIR"))
    }
    assert(parse(Seq("q", "no_such_query"), sf).isLeft)
    assert(parse(Seq("plans", "q13_doc_pairs,no_such_query", "out"), sf).isLeft)
    assert(parse(Seq("setup", "0"), sf).isLeft)
    assert(parse(Seq("bogus"), sf).isLeft)
    assert(parse(Nil, sf).isLeft)
  }

  test("normalizePlan strips expression, plan and RDD ids, line numbers, AQE statistics and lambda names, and nothing else") {
    val raw =
      """+- ShuffleQueryStage (19), Statistics(sizeInBytes=80.1 KiB, rowCount=1.00E+3)
        |Output [2]: [id#0L, tokens#33]
        |Arguments: graft.dedup.CorpusGen$$$Lambda$1633/0x00007fdcdcaaa0f0@44a7661d, obj#9: graft.dedup.CodeFile
        |Arguments: hashpartitioning(repo#15, 8), ENSURE_REQUIREMENTS, [plan_id=22249]
        |Condition : (size(tokens#33, true) > 0)
        |Arguments: obj#5: scala.Tuple2, ParallelCollectionRDD[761] at parallelize at Components.scala:180
        |Arguments: 0""".stripMargin
    val want =
      """+- ShuffleQueryStage (19)
        |Output [2]: [id#xL, tokens#x]
        |Arguments: graft.dedup.CorpusGen$$$Lambda, obj#x: graft.dedup.CodeFile
        |Arguments: hashpartitioning(repo#x, 8), ENSURE_REQUIREMENTS, [plan_id=x]
        |Condition : (size(tokens#x, true) > 0)
        |Arguments: obj#x: scala.Tuple2, ParallelCollectionRDD[x] at parallelize at Components.scala
        |Arguments: 0""".stripMargin
    assert(normalizePlan(raw) == want)
    assert(normalizePlan(want) == want)
    // two dumps of one plan shape with different ids normalize equal
    assert(normalizePlan(raw.replace("#33", "#4071").replace("22249", "5")) == normalizePlan(raw))
  }

  test("the usage lists every subcommand") {
    Seq("setup", "q <name>", "plans", "legs <nFiles> <pairs>", "encode").foreach { sub =>
      assert(usage.linesIterator.exists(_.trim.startsWith(sub)), s"usage misses $sub")
    }
  }
}
