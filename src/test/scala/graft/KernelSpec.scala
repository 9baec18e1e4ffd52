package graft

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.dedup._
import graft.ops.Similarity
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** Kernel-level unit + property tests: tokenizer parity (Column vs Scala vs
  * reference fixtures), Jaccard rounding semantics, MinHash statistics,
  * dense-id determinism, connected components vs union-find.
  */
class KernelSpec extends SparkSpec {
  import spark.implicits._

  /** Run a ScalaCheck property under ScalaTest (no scalatestplus bridge in
    * the offline resolver cache). */
  private def check(prop: Prop, n: Int = 50): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  // --- tokenizer: FIXTURES.md §2 adversarial behaviors (cites in Tokenize) ---

  val adversarial = "of to in 1 22 333 1-2 12-34 12-34x x _foo bar_baz co-operate the and a"

  test("tokenizer drops stopwords, single chars, digits, digit-chains and _-joined words") {
    // `_` is a regex word char: `\b` never fires inside `_foo`/`bar_baz`, so
    // the reference tokenizer emits nothing for them (verified vs CPython).
    val got = Tokenize.tokenSetScala(adversarial)
    assert(got.toSet == Set("12-34x", "co-operate"))
    assert(got.sameElements(got.sorted), "tokens must be sorted asc")
  }

  test("Column tokenizer agrees with the Scala twin and the oracle tokenizer") {
    val texts = Seq(
      adversarial,
      "Machine learning algorithm, advanced MACHINE learning!",
      "",
      "a b c 1 2 3",
      "x-1 1-x 1-2-3 a-b-c 12-34 1--2 -1-2 1-2- co-op 99bottles bottles99",
      Twins.corpusLocal(5).map(_.content).mkString(" ")
    )
    // both the codegen'd TokenSet expression and the pure-built-ins chain
    val viaExpr = texts
      .toDF("text")
      .select(Tokenize.tokenSet(col("text")).as("t"))
      .as[Seq[String]]
      .collect()
    val viaBuiltins = texts
      .toDF("text")
      .select(Twins.tokenSetBuiltins(col("text")).as("t"))
      .as[Seq[String]]
      .collect()
    texts.indices.foreach { i =>
      val gotScala = Tokenize.tokenSetScala(texts(i)).toSeq
      val gotOracle = RefOracle.tokenize(texts(i)).distinct.sorted
      assert(viaExpr(i) == gotScala, s"expr vs scala on: ${texts(i)}")
      assert(viaBuiltins(i) == gotScala, s"builtins vs scala on: ${texts(i)}")
      assert(viaExpr(i) == gotOracle, s"expr vs oracle on: ${texts(i)}")
    }
  }

  test("non-ASCII boundaries match CPython re (Unicode \\b, not Java ASCII \\b)") {
    // Expectations computed with CPython:
    //   re.findall(r'\b[a-zA-Z0-9][-a-zA-Z0-9]*[a-zA-Z0-9]\b', s.lower())
    // CPython's \b treats ï/ö/é/ü as WORD chars: "naïve" yields NO token
    // (Java's ASCII \b would wrongly emit "na"/"ve"). (?U) aligns them.
    val fixtures = Seq(
      "naïve zorbly vectör glomp" -> Seq("glomp", "zorbly"),
      "déjà-vu kernelô x9 blip-7a" -> Seq("blip-7a", "vu", "x9"),
      "über prägnanz qq" -> Seq("qq"),
      "touché flambé zz9" -> Seq("zz9")
    )
    val viaExpr = fixtures
      .map(_._1)
      .toDF("text")
      .select(Tokenize.tokenSet(col("text")).as("t"))
      .as[Seq[String]]
      .collect()
    fixtures.zipWithIndex.foreach { case ((text, want), i) =>
      assert(Tokenize.tokenSetScala(text).toSeq == want, s"scala kernel on: $text")
      assert(viaExpr(i) == want, s"column expr on: $text")
    }
    val viaBuiltins = fixtures
      .map(_._1)
      .toDF("text")
      .select(Twins.tokenSetBuiltins(col("text")).as("t"))
      .as[Seq[String]]
      .collect()
    fixtures.zipWithIndex.foreach { case ((text, want), i) =>
      assert(viaBuiltins(i) == want, s"builtins on: $text")
    }
  }

  test("shingles: ordered k-grams before dedup") {
    val got = Tokenize.tokenSetScala("alpha beta gamma alpha beta", 2)
    assert(got.toSet == Set("alpha beta", "beta gamma", "gamma alpha"))
    val short = Tokenize.tokenSetScala("alpha", 2)
    assert(short.isEmpty)
  }

  // --- Jaccard kernel ---

  test("round6 reproduces CPython round-half-even on exact binary doubles") {
    assert(Jaccard.round6(1.0 / 128.0) == 0.007812) // exact tie -> even
    assert(Jaccard.round6(3.0 / 128.0) == 0.023438) // exact tie -> even (23437|5 -> 23438)
    assert(Jaccard.round6(2.0 / 3.0) == 0.666667)
    assert(Jaccard.round6(1.0) == 1.0)
    assert(Jaccard.round6(1.5e-6) == 2e-6) // exact binary value is just above the tie
  }

  test("WordGramSet equals the built-ins chain (regexp + transform + distinct), incl. non-ASCII lowercase") {
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog 42 times",
      "a b", "", "  --- !!! ", "single",
      "Kelvin K sign and dotted İstanbul i̇ test", // lower() maps U+212A -> k
      "ÅÉÎØÜ mixed CASE words 123abc456 x9y",
      "repeat repeat repeat repeat gram gram gram",
      "tabs\tand\nnewlines  and   runs-of-punct.,;:!?"
    ).toDF("text")
    for (k <- Seq(1, 2, 3)) {
      val ws = graft.ops.TextAnalysis.words(col("text"))
      val builtins = array_distinct(Twins.shingles(ws, k))
      val rows = texts
        .select(
          WordGramSet(col("text"), k).as("kernel"),
          builtins.as("builtins")
        )
        .as[(Seq[String], Seq[String])]
        .collect()
      rows.zipWithIndex.foreach { case ((kr, br), i) =>
        assert(kr == br, s"k=$k row $i: kernel=$kr builtins=$br")
      }
    }
    // padShort mode = the fingerprint fallback (space-joined word list)
    val padded = texts
      .select(
        WordGramSet(col("text"), 3, padShort = true).as("kernel"),
        array_distinct(
          when(
            size(graft.ops.TextAnalysis.words(col("text"))) >= 3,
            Twins.shingles(graft.ops.TextAnalysis.words(col("text")), 3)
          ).otherwise(array(concat_ws(" ", graft.ops.TextAnalysis.words(col("text")))))
        ).as("builtins")
      )
      .as[(Seq[String], Seq[String])]
      .collect()
    padded.zipWithIndex.foreach { case ((kr, br), i) =>
      assert(kr == br, s"padShort row $i: kernel=$kr builtins=$br")
    }
  }

  test("MinGramMd5 equals explode(WordGramSet) + min(md5(gram))") {
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog 42 times",
      "a b", "", "  --- !!! ", "single",
      "Kelvin K sign and dotted İstanbul i̇ test",
      "ÅÉÎØÜ mixed CASE words 123abc456 x9y",
      "repeat repeat repeat repeat gram gram gram",
      "tabs\tand\nnewlines  and   runs-of-punct.,;:!?"
    ).zipWithIndex.map(_.swap).toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3)) {
      // null fp = empty gram set (wordless doc at k=1) = the row explode drops
      val kernel = texts
        .select(col("doc_id"), graft.dedup.MinGramMd5(col("text"), k).as("fp"))
        .filter(col("fp").isNotNull)
      val reference = texts
        .select(col("doc_id"), explode(WordGramSet(col("text"), k, padShort = true)).as("gram"))
        .groupBy("doc_id")
        .agg(min(md5(col("gram"))).as("fp"))
      val got = kernel.as[(Int, String)].collect().toMap
      val want = reference.as[(Int, String)].collect().toMap
      assert(got == want, s"k=$k: kernel=$got reference=$want")
    }
  }

  test("round6 is NOT Spark's bround: CPython rounds the true binary value, bround the shortest repr") {
    // Why ExactPairs keeps its rounding UDF instead of the codegen'd
    // bround(_, 6): the two semantics diverge on decimal-exact but
    // binary-INexact 7th-digit ties. 1/640 = 0.0015625 exactly in decimal,
    // but 640 = 2^7*5 is not a binary power, so the nearest double sits just
    // ABOVE the tie: CPython's round() (and round6, which models it with the
    // exact-binary BigDecimal constructor) rounds UP, while
    // BigDecimal.valueOf — bround's reading — sees "0.0015625" as an exact
    // tie and rounds to EVEN. A full sweep over quotients i/u, u <= 2000
    // found this class (640, 1280, ...), so the swap is semantically wrong
    // on the reference-parity path.
    val d = 1.0 / 640.0
    assert(Jaccard.round6(d) == 0.001563) // == CPython round(1/640, 6)
    val viaValueOf =
      java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_EVEN).doubleValue()
    assert(viaValueOf == 0.001562) // bround's HALF_EVEN on the shortest repr
    // binary-exact ties (u a power of two) agree in both readings
    val exact = 1.0 / 128.0
    assert(Jaccard.round6(exact) ==
      java.math.BigDecimal.valueOf(exact).setScale(6, java.math.RoundingMode.HALF_EVEN).doubleValue())
  }

  test("two-pointer intersection equals naive set intersection (property)") {
    val gen = Gen.listOf(Gen.choose(0, 200)).map(_.distinct.sorted.toArray)
    check(Prop.forAll(gen, gen) { (a: Array[Int], b: Array[Int]) =>
      val naive = a.toSet.intersect(b.toSet).size
      val expected =
        if (naive == 0 || a.isEmpty || b.isEmpty) 0.0
        else RefOracle.pythonRound6(naive.toDouble / (a.toSet ++ b.toSet).size)
      Twins.intersectSorted(a, b) == naive && Twins.jaccard6(a, b) == expected
    })
  }

  test("JaccardSorted expression equals the scala kernel (codegen + interpreted)") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 200).map { _ =>
      val a = Array.fill(rnd.nextInt(40))(rnd.nextInt(300)).distinct.sorted
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(300)).distinct.sorted
      (a, b)
    }
    val got = rows
      .toDF("a", "b")
      .select(dedup.JaccardSorted(col("a"), col("b")).as("sim"))
      .as[Double]
      .collect()
    rows.zip(got).foreach { case ((a, b), sim) =>
      assert(sim == Twins.jaccard6(a, b), s"a=${a.mkString(",")} b=${b.mkString(",")}")
    }
  }

  // --- MinHash ---

  test("minhash estimate approximates true jaccard within 128-perm tolerance") {
    val cfg = Config()
    val (as, bs) = MinHash.coefficients(cfg.numPerms, cfg.seed)
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { _ =>
      val base = Array.tabulate(120)(_ => rnd.nextInt(100000)).distinct
      val keep = base.filter(_ => rnd.nextDouble() < 0.8)
      val other = (keep ++ Array.tabulate(30)(_ => rnd.nextInt(100000))).distinct
      val a = base.sorted
      val b = other.sorted
      val trueJ = Twins.intersectSorted(a, b).toDouble /
        (a.length + b.length - Twins.intersectSorted(a, b))
      val est = Twins.estimate(
        Twins.signatureScala(a, as, bs),
        Twins.signatureScala(b, as, bs)
      )
      // std error ~ sqrt(j(1-j)/128) <= 0.045; 4 sigma
      assert(math.abs(est - trueJ) < 0.18, s"est=$est true=$trueJ")
    }
  }

  test("identical token sets get identical signatures and band hashes") {
    val cfg = Config()
    val (as, bs) = MinHash.coefficients(cfg.numPerms, cfg.seed)
    val t = Array(3, 17, 99, 2048)
    val s1 = Twins.signatureScala(t, as, bs)
    val s2 = Twins.signatureScala(t.clone(), as, bs)
    assert(s1.sameElements(s2))
    (0 until cfg.bands).foreach { b =>
      assert(
        Twins.bandHashScala(s1, b, cfg.rowsPerBand) ==
          Twins.bandHashScala(s2, b, cfg.rowsPerBand)
      )
    }
  }

  test("native hash expressions equal the scala kernels (minhash, simhash, band hashes)") {
    val cfg = Config()
    val (as, bs) = MinHash.coefficients(cfg.numPerms, cfg.seed)
    val sets = Seq(
      Array(3, 17, 99, 2048),
      Array(0, 1, 2, 3, 4, 5),
      Array(2147483646),
      (1 to 200).map(_ * 7).toArray
    )
    val df = sets.map(_.toSeq).toDF("tokens")
    val got = df
      .select(
        MinHashSig(col("tokens"), cfg).as("mh"),
        SimHash64(col("tokens"), cfg).as("sh"),
        BandHashes(MinHashSig(col("tokens"), cfg), cfg).as("bh")
      )
      .collect()
    sets.zip(got).foreach { case (t, row) =>
      val wantSig = Twins.signatureScala(t, as, bs)
      val wantSim = Twins.simhash64(t, cfg.seed)
      val wantBands = Array.tabulate(cfg.bands)(b => Twins.bandHashScala(wantSig, b, cfg.rowsPerBand))
      assert(row.getAs[collection.Seq[Int]]("mh").toSeq.map(_.toLong) == wantSig.toSeq)
      assert(row.getAs[Long]("sh") == wantSim)
      assert(row.getAs[collection.Seq[Long]]("bh").toSeq == wantBands.toSeq)
    }
  }

  test("ArrayExceptSorted equals array_except on sorted distinct inputs (property)") {
    val gen = for {
      tokens <- Gen.listOf(Gen.choose(0, 500))
      drop <- Gen.listOf(Gen.choose(0, 500))
    } yield (tokens.distinct.sorted, drop.distinct.sorted)
    check(Prop.forAll(gen) { case (tokens, drop) =>
      val df = Seq(tokens).toDF("tokens")
      val got = df
        .select(ArrayExceptSorted(col("tokens"), drop.toArray).as("t"))
        .as[Seq[Int]]
        .head()
      val want = tokens.filterNot(drop.toSet)
      got == want
    }, n = 30)
  }

  // --- compiled vs interpreted kernel calls ---

  /** Rows of `kernel(frame)` over one generated frame, first compiled
    * (whole-stage codegen), then interpreted (no whole-stage codegen, the
    * NO_CODEGEN projection factory: Invoke / StaticInvoke call the kernel by
    * reflection). The frame is an RDD scan, so no optimizer rule evaluates
    * the kernels on a local relation at planning time. */
  private def compiledAndInterpreted(rows: Seq[Row], schema: StructType)(
      kernel: DataFrame => DataFrame
  ): (Seq[Row], Seq[Row]) = {
    def run(): (Seq[Row], SparkPlan) = {
      val df = kernel(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema))
      (df.collect().toSeq, df.queryExecution.executedPlan)
    }
    val (compiled, plan) = run()
    assert(planNodes(plan).exists(_.isInstanceOf[WholeStageCodegenExec]), s"not compiled:\n$plan")
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val (interpreted, iplan) = run()
      assert(!planNodes(iplan).exists(_.isInstanceOf[WholeStageCodegenExec]), s"compiled:\n$iplan")
      (compiled, interpreted)
    } finally {
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 9 -> g)
  private val idSets: Gen[Any] =
    orNull(Gen.frequency(1 -> Gen.const(Seq.empty[Int]), 8 -> Gen.listOf(Gen.choose(0, 300)).map(_.distinct.sorted)))
  private val floatArrays: Gen[Any] = orNull(for {
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(7), 8 -> Gen.const(8))
    xs <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(null), 30 -> Gen.choose(-1.0f, 1.0f).map(Float.box)))
  } yield xs)
  private val texts: Gen[Any] = orNull(Gen.frequency(
    1 -> Gen.const(""),
    8 -> Gen.listOf(Gen.oneOf(
      "The", "parser", "naïve", "x-1", "12-34", "1-2-3", "foo_bar", "\u212a", "ÄÖ", "a", "print(x);", "return",
      "co-operate", "99bottles", "\n", "\t", "def", "init", "self", "value", "Ünïcode"
    )).map(_.mkString(" "))
  ))
  private def schemaOf(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  private val cfgK = Config()
  Seq[(String, Gen[Row], StructType, DataFrame => DataFrame)](
    ("JaccardKernel.sim", Gen.zip(idSets, idSets).map { case (a, b) => Row(a, b) },
      schemaOf("a" -> ArrayType(IntegerType), "b" -> ArrayType(IntegerType)),
      _.select(JaccardSorted(col("a"), col("b")))),
    ("JaccardKernel.count", Gen.zip(idSets, idSets).map { case (a, b) => Row(a, b) },
      schemaOf("a" -> ArrayType(IntegerType), "b" -> ArrayType(IntegerType)),
      _.select(IntersectCountSorted(col("a"), col("b")))),
    ("CosineKernel", Gen.zip(floatArrays, floatArrays).map { case (a, b) => Row(a, b) },
      schemaOf("a" -> ArrayType(FloatType), "b" -> ArrayType(FloatType)),
      _.select(CosineFloat(col("a"), col("b")))),
    ("TokenSetKernel", texts.map(Row(_)), schemaOf("t" -> StringType),
      _.select(TokenSet(col("t"), 1), TokenSet(col("t"), 3))),
    ("WordGramKernel", texts.map(Row(_)), schemaOf("t" -> StringType),
      _.select(WordGramSet(col("t"), 1), WordGramSet(col("t"), 3), WordGramSet(col("t"), 3, padShort = true))),
    ("MinGramMd5Kernel", texts.map(Row(_)), schemaOf("t" -> StringType),
      _.select(MinGramMd5(col("t"), 1), MinGramMd5(col("t"), 3))),
    ("WinnowKernel", texts.map(Row(_)), schemaOf("t" -> StringType),
      _.select(WinnowFingerprints(col("t"), 5, 4))),
    ("MinHashKernel", idSets.map(Row(_)), schemaOf("t" -> ArrayType(IntegerType)),
      _.select(MinHashSig(col("t"), cfgK))),
    ("SimHashKernel", idSets.map(Row(_)), schemaOf("t" -> ArrayType(IntegerType)),
      _.select(SimHash64(col("t"), cfgK))),
    ("BandHashKernel", idSets.map(Row(_)), schemaOf("t" -> ArrayType(IntegerType)),
      // empty sets sign to the -1 sentinel: hashed like any signature
      _.select(BandHashes(MinHashSig(col("t"), cfgK), cfgK), BandHashes(MinHashSig(col("t"), cfgK), cfgK.copy(bands = 64)))),
    ("SortedDiffKernel", idSets.map(Row(_)), schemaOf("t" -> ArrayType(IntegerType)),
      _.select(ArrayExceptSorted(col("t"), Array.range(0, 300, 7)), ArrayExceptSorted(col("t"), Array.empty[Int]))),
    ("SketchKernel", floatArrays.map(Row(_)), schemaOf("e" -> ArrayType(FloatType)),
      df => Similarity.hyperplaneSketch(df.withColumnRenamed("e", "embedding"), dim = 8, planes = 16, seed = 3L))
  ).foreach { case (kernel, row, schema, call) =>
    test(s"compiled and interpreted $kernel calls agree on 1000 generated rows, NULLs and empties included (property)") {
      check(Prop.forAll(Gen.listOfN(1000, row)) { rows =>
        val (compiled, interpreted) = compiledAndInterpreted(rows, schema)(call)
        compiled == interpreted
      }, n = 3)
    }
  }

  test("kernel inputs are typed: a string fails analysis, a bigint array is cast exactly or rejected") {
    val df = Seq(("x", Seq(1L, 2L, 3L), Seq(1L << 33), Seq(2, 3))).toDF("s", "l", "big", "i")
    intercept[AnalysisException](df.select(JaccardSorted(col("s"), col("i"))).collect())
    intercept[AnalysisException](df.select(IntersectCountSorted(col("i"), col("s"))).collect())
    // never read as ints: either the analyzer rejects the bigint array, or
    // it casts it exactly (and then an out-of-range id must fail the row)
    Try(df.select(JaccardSorted(col("l"), col("i"))).as[Double].collect()) match {
      case Failure(_: AnalysisException) =>
      case Success(got) => assert(got.toSeq == Seq(Twins.jaccard6(Array(1, 2, 3), Array(2, 3))))
      case Failure(e) => fail(e)
    }
    assert(Try(df.select(JaccardSorted(col("big"), col("i"))).collect()).isFailure)
  }

  test("simhash of near-identical sets is within small hamming distance") {
    val tokens = Array.tabulate(200)(i => i * 7)
    val mutated = tokens.updated(5, 99991).updated(50, 99993)
    val h1 = Twins.simhash64(tokens, 42L)
    val h2 = Twins.simhash64(mutated, 42L)
    assert(java.lang.Long.bitCount(h1 ^ h2) <= SimHash.MaxHamming)
    val unrelated = Twins.simhash64(Array.tabulate(200)(i => i * 13 + 1), 42L)
    assert(java.lang.Long.bitCount(h1 ^ unrelated) > SimHash.MaxHamming)
  }

  // --- dense ids ---

  test("assignDense: dense, deterministic, ordered by sort key") {
    val df = spark
      .createDataFrame((0 until 500).map(i => (f"k${499 - i}%04d", i)))
      .toDF("k", "v")
      .repartition(7)
    val a = Ids.assignDense(df, Seq("k"), "id").select("k", "id").as[(String, Long)].collect().sortBy(_._2)
    val b = Ids.assignDense(df, Seq("k"), "id").select("k", "id").as[(String, Long)].collect().sortBy(_._2)
    assert(a.sameElements(b))
    assert(a.map(_._2).sameElements(0L until 500L))
    assert(a.map(_._1).sameElements(a.map(_._1).sorted))
  }

  test("assignDense: ids survive a downstream no-shuffle coalesce(1)") {
    // TaskContext.getPartitionId() inside a fused coalesce task returns the
    // COALESCED partition id for every parent split — stamping from it
    // duplicates ids. The pid is materialized into the cached rows instead;
    // this pins that a coalesced sink (the driver's Verify writes
    // .coalesce(1).parquet) still sees dense unique ids.
    val df = spark
      .createDataFrame((0 until 400).map(i => (f"k$i%04d", i)))
      .toDF("k", "v")
      .repartition(11)
    val ids = Ids
      .assignDense(df, Seq("k"), "id")
      .coalesce(1)
      .select("id")
      .as[Long]
      .collect()
      .sorted
    assert(ids.sameElements(0L until 400L), "coalesced stamp must stay dense and unique")
  }

  test("assignDenseByKey keeps one row per duplicated key, ids stay dense") {
    val df = spark
      .createDataFrame((0 until 300).map(i => (f"k${i % 100}%04d", i)))
      .toDF("k", "v")
      .repartition(5)
    val got = Ids
      .assignDenseByKey(df, Seq("k"), "id")
      .select("k", "id")
      .as[(String, Long)]
      .collect()
      .sortBy(_._2)
    assert(got.length == 100)
    assert(got.map(_._2).sameElements(0L until 100L))
    assert(got.map(_._1).distinct.length == 100)
  }

  test("prefixSum equals a sorted driver scan at any input partitioning (property, 120 cases)") {
    // rows unique by (g, k), g nullable (nulls sort first, as Option's
    // ordering has it); no weight column (1 per row, the dense ids), or
    // column `w` holding random non-negative weights or all zeros; 1-16
    // input partitions over shuffled rows; sometimes a downstream
    // no-shuffle coalesce(1); sometimes no rows at all
    val gen = for {
      n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 300))
      keys <- Gen.listOfN(n, Gen.zip(Gen.oneOf(Option.empty[String], Some("a"), Some("b")), Gen.choose(-50L, 500L)))
      weights <- Gen.listOfN(n, Gen.choose(0L, 1000000000L))
      mode <- Gen.oneOf("one", "random", "zeros")
      parts <- Gen.choose(1, 16)
      shuffleSeed <- Gen.long
      coalesced <- Gen.oneOf(false, true)
    } yield {
      val rows = keys.zip(weights).distinctBy(_._1).map { case ((g, k), w) => (g, k, if (mode == "zeros") 0L else w) }
      (new scala.util.Random(shuffleSeed).shuffle(rows), mode, parts, coalesced)
    }
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(120).withInitialSeed(Seed(20261020L)),
      Prop.forAllNoShrink(gen) { case (rows, mode, parts, coalesced) =>
        Seq(mode, if (coalesced) "coalesced" else "direct", if (rows.isEmpty) "empty" else "rows").foreach(seen(_) += 1)
        val ordered = rows.sortBy(r => (r._1, r._2))
        val want = ordered.scanLeft(0L)((acc, r) => acc + (if (mode == "one") 1L else r._3))
        val reg = new CacheRegistry
        try {
          val df = spark.sparkContext.parallelize(rows, parts).toDF("g", "k", "w")
          val (out, total) = Ids.prefixSum(df, Seq("g", "k"), if (mode == "one") None else Some("w"), "off", reg)
          val got = (if (coalesced) out.coalesce(1) else out)
            .as[(Option[String], Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
          val expected = ordered.zip(want).map { case ((g, k, w), off) => (g, k, w, off) }
          // the cached rows are the input's plus the partition id: no weight copy
          val cached = out.queryExecution.optimizedPlan.collectFirst { case r: InMemoryRelation => r.output.map(_.name) }
          (out.columns.toSeq == Seq("g", "k", "w", "off") && got == expected && total == want.last &&
            cached.contains(Seq("g", "k", "w", "__pid"))) :|
            s"mode=$mode parts=$parts coalesced=$coalesced cached=$cached total=$total want=${want.last} rows=$rows got=$got"
        } finally reg.release()
      }
    )
    assert(res.passed, res.status.toString)
    Seq("one", "random", "zeros", "coalesced", "direct", "empty").foreach(c => assert(seen(c) >= 5, s"$c: ${seen(c)} cases"))
  }

  // --- connected components ---

  test("large-star/small-star equals union-find (randomized graphs)") {
    val rnd = new scala.util.Random(424242)
    (0 until 8).foreach { trial =>
      val n = 2 + rnd.nextInt(60)
      val nEdges = 1 + rnd.nextInt(80)
      val edges = List.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val pairs = edges.map { case (a, b) => RefOracle.Pair("g", a, b, 1.0) }
      val universe = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = RefOracle.clusters(universe, pairs, 0.5)
      // force the DISTRIBUTED star-contraction path (threshold 0)
      val got = Components
        .run(edges.toDF("a", "b"), driverLocalMaxEdges = 0L)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      // the driver-local union-find path must agree
      val gotLocal = Components
        .run(edges.toDF("a", "b"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(gotLocal == got, s"local vs distributed CC mismatch, edges=$edges")
      // Components.run covers nodes that appear in non-self-loop edges
      val wantCovered = want.filter { case (k, _) =>
        edges.exists(e => (e._1 == k || e._2 == k) && e._1 != e._2)
      }
      assert(got == wantCovered, s"trial $trial edges=$edges")
    }
  }

  test("distributed components leave the session's shuffle partitions as they are") {
    // a job's properties carry the session's SQL conf as it stood when the
    // job was submitted: the value any query planned at that moment saw
    val key = "spark.sql.shuffle.partitions"
    val session = spark.conf.get(key)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p =>
          seen.add((Option(p.getProperty("spark.jobGroup.id")).getOrElse(""), Option(p.getProperty(key)).orNull)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("cc-distributed", "distributed components")
      val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 5L)).toDF("a", "b")
      val got = Components.run(edges, driverLocalMaxEdges = 0L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
      sc.setJobGroup("cc-done", "marker")
      spark.range(1).collect()
      // listener events arrive asynchronously, in order
      eventually(timeout(Span(60, Seconds)))(assert(seen.asScala.exists(_._1 == "cc-done")))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val during = seen.asScala.collect { case ("cc-distributed", v) if v != null => v }.toSeq
    assert(during.nonEmpty, "no SQL job of the distributed run was seen")
    assert(during.forall(_ == session), s"jobs ran with $key = ${during.distinct} (session: $session)")
    assert(spark.conf.get(key) == session)
  }

  test("incremental merge equals full recompute (randomized base + delta)") {
    val rnd = new scala.util.Random(171717)
    (0 until 5).foreach { trial =>
      val nBase = 20 + rnd.nextInt(50) // docs 0..nBase-1 exist up front
      val nNew = 1 + rnd.nextInt(15) // docs nBase..nBase+nNew-1 arrive in the delta
      val baseEdges = List
        .fill(1 + rnd.nextInt(60))((rnd.nextInt(nBase).toLong, rnd.nextInt(nBase).toLong))
        .filter(e => e._1 != e._2)
      // delta edges may touch old docs, new docs, or bridge the two
      val all = nBase + nNew
      val deltaEdges = List
        .fill(1 + rnd.nextInt(40))((rnd.nextInt(all).toLong, rnd.nextInt(all).toLong))
        .filter(e => e._1 != e._2)
      val baseDocs = (0L until nBase.toLong).map(Tuple1(_)).toDF("doc_id")
      val newDocs = (nBase.toLong until all.toLong).map(Tuple1(_)).toDF("doc_id")
      val existing = Components.assignAll(baseDocs, baseEdges.toDF("a", "b"))
      // exercise the distributed delta path on one trial, driver-local else
      val localMax = if (trial == 0) 0L else Components.DriverLocalMaxEdges
      val got = Components
        .merge(existing, deltaEdges.toDF("a", "b"), newDocs, localMax)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val want = Components
        .assignAll(baseDocs.unionByName(newDocs), (baseEdges ++ deltaEdges).toDF("a", "b"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(got == want, s"trial $trial base=$baseEdges delta=$deltaEdges")
      // empty delta: merge is the identity on the assignment
      val idle = Components
        .merge(existing, Seq.empty[(Long, Long)].toDF("a", "b"), spark.emptyDataset[Long].toDF("doc_id"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val before = existing.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(idle == before, s"trial $trial: empty delta changed the assignment")
    }
  }
}
