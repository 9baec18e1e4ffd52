package graft

import scala.collection.mutable.ArrayBuffer

/** The declared shared-chain memo behind SparkEntry's cross-query caches,
  * driven with counting builds over a real local session. */
class SharedChainsSpec extends SparkSpec {

  test("warming twice builds each declared chain exactly once, in declaration order") {
    val chains = new SharedChains
    val built = ArrayBuffer.empty[String]
    val a = chains.declare("a") { (_, dir) => built += "a"; s"$dir/a" }
    val b = chains.declare("b") { (s, dir) => built += "b"; a(s, dir) + "+b" }
    chains.declare("c") { (s, _) => built += "c"; s.range(5).count() }
    assert(chains.chains.map(_.name) == Seq("a", "b", "c"))
    chains.warm(spark, "d")
    chains.warm(spark, "d")
    assert(built == Seq("a", "b", "c"))
    assert(b(spark, "d") == "d/a+b")
    assert(chains.size == 3)
    chains.warm(spark, "e") // another dir is another set of entries
    assert(built == Seq("a", "b", "c", "a", "b", "c"))
  }

  test("release empties the memo and the next call rebuilds") {
    val chains = new SharedChains
    var n = 0
    val a = chains.declare("a") { (_, _) => n += 1; n }
    chains.warm(spark, "d")
    assert(a(spark, "d") == 1)
    chains.release()
    assert(chains.size == 0)
    assert(a(spark, "d") == 2)
    assert(chains.size == 1)
  }

  test("exact pairs: the remap branch and the generic prefix-filter branch emit the same rows") {
    val dir = "/root/testdata/sf0.001"
    def rows(remapCap: Long) =
      SharedChains.exactPairs(spark, dir, remapCap)
        .select("lang", "a", "b", "inter_cnt", "union_cnt", "sim")
        .collect()
        .map(_.toSeq)
        .toSeq
        .sortBy(r => (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    try {
      val remapped = rows(SharedChains.oracleLshCfg.broadcastMaxVocab)
      val generic = rows(0L)
      assert(remapped.nonEmpty)
      assert(generic == remapped)
    } finally {
      SparkEntry.releaseTransientCaches()
      SparkEntry.releaseSharedCaches()
    }
  }

  test("the encoded-corpus chain tokenizes each document once") {
    try {
      val (enc, _, _, encRows) = SharedChains.encodedChain(spark, "/root/testdata/sf0.001")
      assert(encRows > 0)
      val plan = enc.queryExecution.executedPlan
      assert(kernelCalls(plan, graft.dedup.TokenSetKernel.getClass) == 1, s"tokenizer calls per row in:\n$plan")
    } finally {
      SparkEntry.releaseTransientCaches()
      SparkEntry.releaseSharedCaches()
    }
  }

  // Stops the shared session, so it runs last; SparkSpec.spark hands later
  // suites a fresh one.
  test("an entry whose session has stopped is dropped and not returned") {
    val chains = new SharedChains
    var n = 0
    val a = chains.declare("a") { (_, _) => n += 1; n }
    val s1 = spark
    assert(a(s1, "d") == 1)
    s1.stop()
    val s2 = SparkSpec.spark
    assert(s2 ne s1)
    assert(a(s2, "d") == 2)
    assert(chains.size == 1, "the stopped session's entry survived")
    assert(a(s1, "d") == 3, "the stopped session's value was returned")
  }
}
