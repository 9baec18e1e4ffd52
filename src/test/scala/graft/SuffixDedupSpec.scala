package graft

import graft.dedup.{CacheRegistry, SuffixDedup, Twins}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

class SuffixDedupSpec extends SparkSpec {
  import SuffixDedup._

  test("lcsLen equals naive longest common substring") {
    val rnd = new scala.util.Random(99)
    def naive(a: String, b: String): Int = {
      var best = 0
      for (i <- a.indices; j <- b.indices) {
        var l = 0
        while (i + l < a.length && j + l < b.length && a(i + l) == b(j + l)) l += 1
        if (l > best) best = l
      }
      best
    }
    (0 until 30).foreach { _ =>
      val a = Array.fill(5 + rnd.nextInt(60))(('a' + rnd.nextInt(4)).toChar).mkString
      val b = Array.fill(5 + rnd.nextInt(60))(('a' + rnd.nextInt(4)).toChar).mkString
      assert(lcsLen(a, b) == naive(a, b), s"a=$a b=$b")
    }
    assert(lcsLen("", "abc") == 0)
    assert(lcsLen("abc", "xabcy") == 3)
  }

  test("lcsLen equals a DP longest common substring (property, 2000 cases)") {
    def dp(a: String, b: String): Int = {
      val prev, cur = new Array[Int](b.length + 1)
      var best = 0
      for (i <- 1 to a.length) {
        for (j <- 1 to b.length) {
          cur(j) = if (a(i - 1) == b(j - 1)) prev(j - 1) + 1 else 0
          if (cur(j) > best) best = cur(j)
        }
        System.arraycopy(cur, 0, prev, 0, cur.length)
      }
      best
    }
    // a small alphabet makes long common runs likely; NUL and a non-ASCII
    // char exercise the transition map's keys
    val str = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', '\u0000', '\u03c9')).map(_.mkString))
    val pairs = Gen.frequency(
      4 -> Gen.zip(str, str),
      1 -> str.map(a => ("", a)),
      2 -> (for (a <- str; pre <- str; suf <- str) yield (a, pre + a + suf)) // b contains a
    )
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAllNoShrink(pairs) { case (a, b) =>
        val want = dp(a, b)
        (lcsLen(a, b) == want && lcsLen(b, a) == want) :| s"a=${a.toSeq} b=${b.toSeq} want=$want"
      }
    )
    assert(res.passed, res.status.toString)
  }

  test("run on a materialized input moves content through one shuffle") {
    // the spread docs are persisted and read by the fingerprint branch and
    // both content sides: one round-robin exchange, not one per reader
    val dir = tmpDir("graft-substring-in")
    spark
      .createDataFrame(Twins.corpusLocal(300).zipWithIndex.map { case (f, i) => (i.toLong, f.lang, f.content) })
      .toDF("doc_id", "group", "content")
      .write.parquet(s"$dir/docs")
    val reg = new CacheRegistry
    try {
      val out = SuffixDedup.run(spark.read.parquet(s"$dir/docs"), reg = reg)
      assert(out.collect().nonEmpty)
      val shuffles = shufflesCarrying(out, "content")
      assert(shuffles.size == 1, s"${shuffles.size} content shuffles:\n${out.queryExecution.executedPlan}")
    } finally reg.release()
  }

  test("containment counts the LCS and the shorter doc in one unit: <= 1.0 on non-BMP content") {
    // U+1F600 is one code point, two UTF-16 units
    val emoji = "\uD83D\uDE00" * 60
    val ascii = "the quick brown fox jumps over the lazy dog " * 4
    val rows = Seq(
      (0L, "g", emoji), (1L, "g", emoji + " tail"),
      (2L, "g", ascii), (3L, "g", ascii + ascii.take(40) + " tail")
    )
    val got = SuffixDedup.run(spark.createDataFrame(rows).toDF("doc_id", "group", "content"))
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> (r.getInt(3), r.getDouble(4))).toMap
    assert(got.keySet == Set((0L, 1L), (2L, 3L)), s"pairs: $got")
    assert(got((0L, 1L)) == ((120, 1.0)), s"emoji pair: ${got((0L, 1L))}")
    // ASCII: the shorter doc's chars, as before
    assert(got((2L, 3L)) == ((ascii.length, 1.0)), s"ASCII pair: ${got((2L, 3L))}")
    assert(got.values.forall(_._2 <= 1.0))
  }

  test("winnowing guarantee: shared substring >= k+window-1 shares a fingerprint") {
    val rnd = new scala.util.Random(7)
    val shared = Array.fill(200)(('a' + rnd.nextInt(26)).toChar).mkString
    (0 until 10).foreach { _ =>
      val a = Array.fill(300)(('a' + rnd.nextInt(26)).toChar).mkString + shared
      val b = shared + Array.fill(300)(('a' + rnd.nextInt(26)).toChar).mkString
      val fa = fingerprints(a, 64, 33).toSet
      val fb = fingerprints(b, 64, 33).toSet
      assert(fa.intersect(fb).nonEmpty, "winnowing guarantee violated")
    }
  }

  test("fingerprints are deterministic and sparse") {
    val s = "x" * 50 + Twins.corpusLocal(3).map(_.content).mkString(" ")
    val f1 = fingerprints(s, 64, 33)
    val f2 = fingerprints(s, 64, 33)
    assert(f1.sameElements(f2))
    // density ~2/window of gram count
    assert(f1.length < s.length / 8)
  }

  test("finds planted substring clones that Jaccard misses") {
    val files = Twins.corpusLocal(500)
    val docs = spark
      .createDataFrame(files.zipWithIndex.map { case (f, i) => (i.toLong, f.lang, f.content) })
      .toDF("doc_id", "group", "content")
    val found = SuffixDedup
      .run(docs)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(4))
      .toMap

    // planted: i % 50 == 7 embeds base (i - 7 % 10 => i-7? base = i - i%10) content
    val planted = files.zipWithIndex.collect {
      case (_, i) if i % 50 == 7 && i >= 10 => ((i - i % 10).toLong, i.toLong)
    }
    assert(planted.nonEmpty)
    planted.foreach { case (base, clone) =>
      val c = found.get((base, clone)).orElse(found.get((clone, base)))
      assert(c.isDefined, s"substring clone ($base,$clone) not found")
      // the clone embeds the base BODY; when the base additionally carries
      // the license header its own length exceeds the shared span, so the
      // containment floor is conservative
      assert(c.get > 0.3, s"containment ${c.get} too low for ($base,$clone)")
    }
  }
}
