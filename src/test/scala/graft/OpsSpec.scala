package graft

import graft.dedup.{Components, Twins}
import graft.ops.{CorpusPrep, Multimodal, ShardPack, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("cosine column kernel matches scala reference on sample vectors") {
    val rows = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f), 0.0),
      (Array(3.0f, 4.0f, 0.0f), Array(3.0f, 4.0f, 0.0f), 1.0)
    )
    val got = rows
      .toDF("a", "b", "want")
      .select(Twins.cosine(col("a"), col("b")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("LSH cosine top-k finds most of the brute-force top-1 neighbors") {
    val exact = Twins
      .cosineTopK(embeddings, 1)
      .select("vec_id", "neighbor")
      .as[(Long, Long)]
      .collect()
      .toMap
    val approx = Similarity
      .lshCosineTopK(embeddings, k = 3, dim = 64, planes = 16, blocks = 4)
      .select("vec_id", "neighbor")
      .as[(Long, Long)]
      .collect()
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).toSet)
      .toMap
    val hits = exact.count { case (v, n) => approx.getOrElse(v, Set.empty).contains(n) }
    val recall = hits.toDouble / exact.size
    // random-hyperplane LSH on weakly-similar random vectors: the point of
    // the assertion is the machinery works and beats chance, not production
    // recall (the corpus has no planted high-cosine pairs)
    assert(recall > 0.3, s"top-1 recall $recall suspiciously low")
  }

  test("HyperplaneSketch kernel is bit-identical to the interpreted builtins chain") {
    for ((planes, seed) <- Seq((32, 42L), (16, 7L))) {
      val kernel = Similarity.hyperplaneSketch(embeddings, dim = 64, planes = planes, seed = seed)
        .select("vec_id", "sketch").as[(Long, Long)].collect().toMap
      val builtins = Twins.hyperplaneSketchBuiltins(embeddings, dim = 64, planes = planes, seed = seed)
        .select("vec_id", "sketch").as[(Long, Long)].collect().toMap
      assert(kernel == builtins, s"sketches diverge at planes=$planes seed=$seed")
    }
    // length-mismatch embeddings sketch to 0 (the zip_with null semantics)
    val odd = Seq((1L, Array(1.0f, 2.0f)), (2L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val skOdd = Similarity.hyperplaneSketch(odd, dim = 64, planes = 8, seed = 1L)
      .select("vec_id", "sketch").as[(Long, Long)].collect().toMap
    assert(skOdd(1L) == 0L, "short embedding must sketch to 0 like the null-padded builtins")
    // a null ELEMENT nulls every plane's zip_with sum in the builtins twin
    // (every bit clear); the kernel must not NPE / read the zeroed slot
    val withNull = Seq(
      (1L, Array.fill(64)(0.5f).map(java.lang.Float.valueOf).updated(3, null: java.lang.Float)),
      (2L, Array.fill(64)(0.5f).map(java.lang.Float.valueOf))
    ).toDF("vec_id", "embedding")
    val skNull = Similarity.hyperplaneSketch(withNull, dim = 64, planes = 8, seed = 1L)
      .select("vec_id", "sketch").as[(Long, Long)].collect().toMap
    val skNullTwin = Twins.hyperplaneSketchBuiltins(withNull, dim = 64, planes = 8, seed = 1L)
      .select("vec_id", "sketch").as[(Long, Long)].collect().toMap
    assert(skNull(1L) == 0L && skNull == skNullTwin, "null element must clear every bit, like the twin")
  }

  test("CosineFloat kernel returns NaN (dropped like the twin's null) on a null element") {
    import graft.dedup.CosineFloat
    val df = Seq(
      (Array.fill(4)(1.0f).map(java.lang.Float.valueOf).updated(1, null: java.lang.Float),
       Array.fill(4)(1.0f).map(java.lang.Float.valueOf))
    ).toDF("a", "b")
    val out = df.select(CosineFloat(col("a"), col("b")).as("c")).as[Double].collect()
    assert(out.length == 1 && out(0).isNaN, "null element must yield NaN, not NPE or a zero-read")
  }

  test("IVF-flat top-k: deterministic, and probing more lists converges on the exact top-1") {
    val exact = Twins
      .cosineTopK(embeddings, 1)
      .select("vec_id", "neighbor")
      .as[(Long, Long)]
      .collect()
      .toMap
    def recallAt(nProbe: Int): Double = {
      val approx = Similarity
        .ivfCosineTopK(embeddings, k = 1, Similarity.centroids(embeddings, 16), nProbe = nProbe)
        .select("vec_id", "neighbor")
        .as[(Long, Long)]
        .collect()
        .toMap
      exact.count { case (v, n) => approx.get(v).contains(n) }.toDouble / exact.size
    }
    val r4 = recallAt(4)
    val r16 = recallAt(16) // probing every list == exact search
    assert(r4 > 0.3, s"nProbe=4 recall $r4 suspiciously low")
    assert(r16 > 0.999, s"probing all lists must equal exact top-1, got $r16")
    assert(r16 >= r4, "recall must be monotone in nProbe")
  }

  test("SemDeDup equals the naive keep-lowest-id rule and removes planted near-dups") {
    // real embeddings + planted near-identical twins of three originals
    // (tiny perturbation keeps cosine ~0.9999, far above the threshold)
    val base = embeddings.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val planted = Seq(5L, 17L, 40L).zipWithIndex.map { case (src, i) =>
      val v = base.find(_._1 == src).get._2.toArray
      v(0) = v(0) + 1e-4f
      (100000L + i, v.toSeq)
    }
    val all = (base.toSeq ++ planted).toDF("vec_id", "embedding")
    val tau = 0.9
    val got = Similarity
      .semDedup(all, minCosine = tau, Similarity.centroids(all, 16))
      .select("vec_id", "cid", "kept")
      .as[(Long, Long, Boolean)]
      .collect()
      .map(r => r._1 -> (r._2, r._3))
      .toMap
    // naive: assign to nearest of the 16 lowest-id centroids (ties -> lowest
    // cid), removed iff a lower-id same-cluster member has cosine >= tau
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = (base.toSeq ++ planted).sortBy(_._1)
    val cents = vecs.take(16)
    val assign = vecs.flatMap { case (id, v) =>
      val scored = cents.map { case (cid, cv) => (cid, cos(v, cv)) }.filter(!_._2.isNaN)
      if (scored.isEmpty) None else Some(id -> scored.maxBy(s => (s._2, -s._1))._1)
    }.toMap
    val want = vecs.collect {
      case (id, v) if assign.contains(id) =>
        val removed = vecs.exists { case (o, ov) =>
          o < id && assign.get(o).contains(assign(id)) && cos(ov, v) >= tau
        }
        id -> (assign(id), !removed)
    }.toMap
    assert(got == want)
    // every planted twin must be dropped, its (lower-id) original kept
    Seq(5L, 17L, 40L).zipWithIndex.foreach { case (src, i) =>
      assert(got(src)._2, s"original $src should be kept")
      assert(!got(100000L + i)._2, s"planted twin of $src should be removed")
    }
  }

  test("blocked exact cosine paths equal the naive brute-force oracle") {
    // tiny blockSize forces many tile pairs (incl. diagonal + off-diagonal)
    val exactTopK = Twins
      .cosineTopK(embeddings, 3)
      .select("vec_id", "neighbor", "rank")
      .as[(Long, Long, Int)]
      .collect()
      .toSet
    val blockedTopK = Similarity
      .cosineTopKBlocked(embeddings, 3, blockSize = 17)
      .select("vec_id", "neighbor", "rank")
      .as[(Long, Long, Int)]
      .collect()
      .toSet
    assert(blockedTopK == exactTopK)

    val exactPairs = Twins
      .nearDupPairs(embeddings, 0.30)
      .select("a", "b")
      .as[(Long, Long)]
      .collect()
      .toSet
    val blockedPairs = Similarity
      .nearDupPairsBlocked(embeddings, 0.30, blockSize = 17)
      .select("a", "b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(blockedPairs == exactPairs)
  }

  test("zero-norm embeddings are skipped consistently by blocked and naive paths") {
    // a zero vector has no defined cosine: it must appear as a probe with no
    // neighbors and never as anyone's neighbor — identically on both paths
    val withZero = embeddings
      .select("vec_id", "embedding")
      .limit(20)
      .unionByName(
        Seq((9999L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
      )
    def ranked(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("vec_id", "neighbor", "rank").as[(Long, Long, Int)].collect().toSet
    val naive = ranked(Twins.cosineTopK(withZero, 3))
    val blocked = ranked(Similarity.cosineTopKBlocked(withZero, 3, blockSize = 7))
    assert(blocked == naive)
    assert(!naive.exists(t => t._1 == 9999L || t._2 == 9999L), "zero vector leaked into top-k")
    val naivePairs = Twins.nearDupPairs(withZero, 0.0).select("a", "b").as[(Long, Long)].collect().toSet
    val blockedPairs2 =
      Similarity.nearDupPairsBlocked(withZero, 0.0, blockSize = 7).select("a", "b").as[(Long, Long)].collect().toSet
    assert(blockedPairs2 == naivePairs)
    assert(!naivePairs.exists(t => t._1 == 9999L || t._2 == 9999L))
  }

  test("PPJoin prefix-filtered q13 equals a driver-side naive oracle on random skewed docs") {
    // independent oracle: plain Scala set math over the same tokenizer
    // semantics — guards the prefix filter beyond the fixed sf0.01 corpus
    val rnd = new scala.util.Random(4242)
    val hot = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val langs = Vector("aa", "bb")
    val docsLocal = (0L until 120L).map { i =>
      val nHot = 2 + rnd.nextInt(4)
      val nRare = rnd.nextInt(5)
      val toks =
        Seq.fill(nHot)(hot(rnd.nextInt(hot.size))) ++
          Seq.fill(nRare)(s"rare${rnd.nextInt(40)}") ++
          (if (rnd.nextInt(4) == 0) Seq(s"solo$i") else Nil) // df-1 tokens
      (i, langs((i % 2).toInt), toks.mkString(" "))
    }
    val dir = tmpDir("graft-ppjoin")
    docsLocal.toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // oracle: tokenize (lowercase word set), min-df>=2 prune, within-lang
    // pairs at jaccard >= 0.5 over the pruned sets
    val sets0 = docsLocal.map { case (id, lang, text) =>
      val toks = text
        .split(" ")
        .toSet
        .filter(t => t.length > 1 && !t.forall(_.isDigit) && !graft.dedup.Stopwords.english(t))
      (id, lang, toks)
    }
    val df = sets0.flatMap(_._3).groupBy(identity).view.mapValues(_.size).toMap
    val sets = sets0
      .map { case (id, lang, ts) => (id, lang, ts.filter(t => df(t) >= 2)) }
      .filter(_._3.nonEmpty)
    val want = (for {
      (a, la, ta) <- sets
      (b, lb, tb) <- sets
      if a < b && la == lb
      inter = (ta & tb).size
      if inter > 0
      union = ta.size + tb.size - inter
      if inter.toDouble / union >= 0.5
    } yield (la, a, b, inter.toLong, union.toLong, inter.toDouble / union)).toSet

    val got = SparkEntry
      .queries("q13_doc_pairs")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSet
    assert(want.nonEmpty, "fixture produced no oracle pairs")
    assert(got == want)
  }

  test("positional PPJoin at t=0.2 (q16 3-gram path) equals a naive oracle — low-threshold guard") {
    // at t=0.2 the plain prefix keeps ~80% of each doc's grams and prunes
    // nothing; correctness there rests on the POSITIONAL bound, so this
    // oracle-equality check specifically guards that filter at the exact
    // threshold where round 3's filter was a no-op
    val rnd = new scala.util.Random(1717)
    val pool = Vector("code", "data", "spark", "query", "join", "hash", "scan", "sort", "read", "write")
    val docsLocal = (0L until 90L).map { i =>
      val base = Seq.fill(6 + rnd.nextInt(8))(pool(rnd.nextInt(pool.size)))
      val words = if (i % 3 == 0 && i > 0) {
        // splice a shared phrase so mid-similarity pairs exist around 0.2
        val donor = Seq.fill(5)(pool(((i / 3) % pool.size).toInt))
        base.take(3) ++ donor ++ base.drop(3)
      } else base
      (i, if (i % 2 == 0) "aa" else "bb", words.mkString(" "))
    }
    val dir = tmpDir("graft-ppjoin02")
    docsLocal.toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // naive oracle: distinct 3-grams of the lowercase word sequence, jaccard
    // >= 0.2 within lang (no df prune on the gram universe — q16 semantics)
    val wordRe = "[a-z0-9]+".r
    val gsets = docsLocal.map { case (id, lang, text) =>
      val ws = wordRe.findAllIn(text.toLowerCase).toVector
      (id, lang, ws.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet)
    }.filter(_._3.nonEmpty)
    val want = (for {
      (a, la, ta) <- gsets
      (b, lb, tb) <- gsets
      if a < b && la == lb
      inter = (ta & tb).size
      if inter > 0
      union = ta.size + tb.size - inter
      if inter.toDouble / union >= 0.2
    } yield (la, a, b, inter.toDouble / union)).toSet

    val got = SparkEntry
      .queries("q16_ngram_jaccard")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(want.nonEmpty, "fixture produced no oracle pairs at t=0.2")
    assert(got == want)
  }

  test("q30 pair-probe records probes with no surviving tokens as missing (sim NULL)") {
    // doc 7's tokens are all df=1 -> the min-df prune empties it -> the
    // (0, 7) probe pair must surface with sim NULL and missing=1, not drop
    val dir = tmpDir("graft-q30")
    val docs = Seq(
      (0L, "en", "alpha beta gamma delta common words here"),
      (1L, "en", "alpha beta gamma delta common words here"),
      (7L, "en", "zzuniqueone zzuniquetwo zzuniquethree"),
      (8L, "en", "alpha beta gamma delta common words here")
    ).toDF("doc_id", "lang", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val byPair = SparkEntry
      .queries("q30_pair_probe")(spark, dir)
      .collect()
      .map(r =>
        (r.getLong(0), r.getLong(1)) ->
          ((if (r.isNullAt(2)) None else Some(r.getDouble(2))), r.getInt(3))
      )
      .toMap
    assert(byPair.contains((0L, 7L)), s"probe (0,7) missing from $byPair")
    assert(byPair((0L, 7L)) == (None, 1), "empty-token partner must be (sim NULL, missing=1)")
    assert(byPair.contains((1L, 8L)) && byPair((1L, 8L))._2 == 0, "healthy pair must not be missing")
    assert(byPair((1L, 8L))._1.exists(_ > 0.99), "identical docs probe at sim 1.0")
  }

  test("multimodal: image rows decode real PNG pixels matching the closed-form gradients") {
    val media = Multimodal.synthesize(docs)
    val img = Multimodal
      .extractFeatures(media)
      .filter(col("modality") === "image")
      .select("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
      .collect()
    assert(img.nonEmpty, "no image rows synthesized")
    img.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = (16 + (id % 17).toInt, 16 + (id % 13).toInt)
      assert(r.getInt(1) == w && r.getInt(2) == h, s"decoded dims for $id")
      def gradSum(c0: Long): Long = h.toLong * (0 until w).map(x => (c0 + x) % 256).sum
      assert(r.getLong(3) == gradSum(id * 7 % 256), s"sum_r for $id")
      assert(r.getLong(4) == gradSum(id * 11 % 256), s"sum_g for $id")
      assert(r.getLong(5) == gradSum(id * 13 % 256), s"sum_b for $id")
    }
  }

  test("multimodal: audio rows decode real WAV samples matching the closed-form PCM") {
    val media = Multimodal.synthesize(docs)
    val wav = Multimodal
      .extractFeatures(media)
      .filter(col("modality") === "audio")
      .select("media_id", "n_bytes", "sample_rate", "n_samples", "sum_amp")
      .collect()
    assert(wav.nonEmpty, "no audio rows synthesized")
    wav.foreach { r =>
      val id = r.getLong(0)
      val n = 256 + (id % 256).toInt
      assert(r.getInt(1) == 44 + 2 * n, s"WAV byte size (44-byte canonical header + 2/sample) for $id")
      assert(r.getInt(2) == 8000, s"decoded sample rate for $id")
      assert(r.getLong(3) == n.toLong, s"decoded frame count for $id")
      val expSum = (0 until n).map(i => Math.floorMod(id * 7919 + i.toLong * 2663, 65536L) - 32768L).sum
      assert(r.getLong(4) == expSum, s"decoded amplitude sum for $id")
    }
  }

  test("multimodal: video rows decode real y4m frames matching the closed-form luma planes") {
    val media = Multimodal.synthesize(docs)
    val vid = Multimodal
      .extractFeatures(media)
      .filter(col("modality") === "video")
      .select("media_id", "n_bytes", "width", "height", "fps", "n_frames", "sum_luma")
      .collect()
    assert(vid.nonEmpty, "no video rows synthesized")
    vid.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = (16 + 2 * (id % 9).toInt, 16 + 2 * (id % 7).toInt)
      val nf = 2 + (id % 4).toInt
      assert(r.getInt(1) == 41 + nf * (6 + 3 * w * h / 2), s"y4m byte size for $id")
      assert(r.getInt(2) == w && r.getInt(3) == h, s"decoded dims for $id")
      assert(r.getInt(4) == 25, s"fps parsed from the stream header for $id")
      assert(r.getLong(5) == nf.toLong, s"decoded frame count for $id")
      val y0 = (id * 17 % 256).toInt
      val expSum = (0 until nf).map(f => (0 until w * h).map(p => (y0 + f * 31 + p) % 256).sum.toLong).sum
      assert(r.getLong(6) == expSum, s"decoded luma sum for $id")
    }
  }

  test("multimodal: features have the declared batch shape; frames are real decode output") {
    val media = Multimodal.synthesize(docs)
    val feats = Multimodal.extractFeatures(media, dim = 16)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("media_id", "modality", "n_bytes", "width", "height", "sum_r", "sum_g", "sum_b",
        "sample_rate", "n_samples", "sum_amp", "fps", "n_frames", "sum_luma", "embedding"))
    val sample = feats.filter(col("modality") === "audio").limit(5).collect()
    assert(sample.forall(_.getAs[Seq[Float]]("embedding").length == 16))
    assert(sample.forall(_.isNullAt(3)), "audio rows must have null pixel fields")
    val video = feats.filter(col("modality") === "video").limit(5).collect()
    assert(video.forall(_.isNullAt(8)), "video rows must have null sample fields")
    assert(video.forall(!_.isNullAt(11)), "video rows must carry decoded fps")
    // determinism: same bytes -> same embedding
    val twice = Multimodal.extractFeatures(media, dim = 16)
    val a = feats.orderBy("media_id").limit(3).collect().map(_.toSeq)
    val b = twice.orderBy("media_id").limit(3).collect().map(_.toSeq)
    assert(a.sameElements(b) || a.zip(b).forall { case (x, y) => x == y })

    // 80 ms at the parsed 25 fps = every 2nd frame: ids with nf = 2+id%4
    // frames keep ceil(nf/2) of them, each with its exact luma sum
    val frames = Multimodal.sampleFrames(media, everyMs = 80).collect()
    assert(frames.nonEmpty, "no frames sampled")
    val byId = frames.groupBy(_.getLong(0))
    byId.foreach { case (id, rs) =>
      val nf = 2 + (id % 4).toInt
      assert(rs.map(_.getLong(1)).sorted.toSeq == (0 until nf by 2).map(_.toLong), s"kept frames for $id")
      val (w, h) = (16 + 2 * (id % 9).toInt, 16 + 2 * (id % 7).toInt)
      val y0 = (id * 17 % 256).toInt
      rs.foreach { r =>
        val f = r.getLong(1).toInt
        val exp = (0 until w * h).map(p => (y0 + f * 31 + p) % 256).sum.toLong
        assert(r.getLong(2) == exp, s"frame $f luma sum for $id")
      }
    }
  }

  test("cluster representatives: exactly one keeper per cluster, the best by (quality desc, id asc)") {
    val assign = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1: quality tie between 2 and 3
      (4L, 4L), (5L, 4L),           // cluster 4
      (6L, 6L)                      // singleton
    ).toDF("doc_id", "cluster_id")
    val quality = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L),
      (4L, 5L), (5L, 50L),
      (6L, 1L)
    ).toDF("doc_id", "n_chars")
    val got = Components
      .representatives(assign, quality, "n_chars")
      .as[(Long, Long, Boolean)]
      .collect()
      .sortBy(_._1)
    assert(got.map(r => (r._1, r._3)).toSeq ==
      Seq((1L, false), (2L, true), (3L, false), (4L, false), (5L, true), (6L, true)))
    assert(got.filter(_._3).map(_._2).distinct.length == 3, "one keeper per cluster")
  }

  test("shard pack: distributed prefix sum equals the sequential layout at any input partitioning") {
    val rows = (0L until 500L).map(i => (i, (i * 7) % 23)) // includes weight-0 docs
    val expected = {
      var acc = 0L
      rows.map { case (id, n) => val off = acc; acc += n; (id, n, off, off / 100) }
    }
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("doc_id", "n_tokens").repartition(parts)
      val got = ShardPack
        .pack(df, "doc_id", "n_tokens", budget = 100L)
        .as[(Long, Long, Long, Long)]
        .collect()
        .sortBy(_._1)
        .toSeq
      assert(got == expected, s"shard layout diverged at input partitioning $parts")
    }
    // a shard boundary never reorders: offsets are strictly monotone in id
    val offs = ShardPack
      .pack(rows.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 100L)
      .orderBy("doc_id")
      .select("token_offset")
      .as[Long]
      .collect()
    assert(offs.zip(offs.tail).forall { case (a, b) => a <= b })
    // and the layout survives a downstream no-shuffle coalesce(1) — the
    // TaskContext-pid-in-a-fused-task trap the stored __pid column avoids
    val coalesced = ShardPack
      .pack(rows.toDF("doc_id", "n_tokens").repartition(9), "doc_id", "n_tokens", 100L)
      .coalesce(1)
      .as[(Long, Long, Long, Long)]
      .collect()
      .sortBy(_._1)
      .toSeq
    assert(coalesced == expected, "shard layout corrupted by coalesced sink")
  }

  test("text analysis columns are self-consistent") {
    val q = TextAnalysis.qualityScore(docs).collect()
    q.foreach { r =>
      assert(r.getAs[Int]("n_stopwords") <= r.getAs[Int]("n_words"))
      val ratio = r.getAs[Double]("stopword_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    val f = TextAnalysis.fingerprint(docs)
    assert(f.count() == docs.count())
    assert(f.filter(length(col("fingerprint")) =!= 32).count() == 0)
  }

  test("quality filter keeps exactly the docs passing every rule") {
    val stop = "the and of to in" // common stopwords guaranteed in the list
    val goodText = (s"$stop " * 2) + (1 to 20).map(i => s"unique$i").mkString(" ")
    val rows = Seq(
      (1L, goodText), // 30 words, 1/3 stopwords, low repetition -> keep
      (2L, "short doc"), // below the word minimum
      (3L, (1 to 30).map(_ => "dup").mkString(" ")), // dup_word_frac ~1
      (4L, (1 to 30).map(i => s"w$i").mkString(" ")) // zero stopwords
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .qualityFilter(rows)
      .select("doc_id", "keep")
      .as[(Long, Boolean)]
      .collect()
      .toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("redaction scrubs planted emails, IPs and hex secrets and counts each") {
    val secret = "0123456789abcdef0123456789abcdef"
    val rows = Seq(
      (1L, s"mail bob.smith+x@corp.example.org or 192.168.0.1 key $secret done"),
      (2L, "clean text with no pii at all"),
      (3L, "two mails a@b.io c@d.co one ip 10.0.0.1")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .redact(rows)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got(1L) == ((1L, 1L, 1L, "mail <EMAIL> or <IP> key <SECRET> done")))
    assert(got(2L) == ((0L, 0L, 0L, "clean text with no pii at all")))
    assert(got(3L) == ((2L, 1L, 0L, "two mails <EMAIL> <EMAIL> one ip <IP>")))
  }

  test("decontamination flags exactly the docs sharing a word 13-gram with the benchmark") {
    val phrase = (0 until 13).map(i => s"w$i").mkString(" ")
    val benchmark = Seq((100L, s"eval question here $phrase end")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"prefix $phrase suffix"), // shares the planted gram
      (2L, phrase.split(" ").dropRight(1).mkString(" ")), // only 12 words
      (3L, "completely unrelated words that overlap nothing at all")
    ).toDF("doc_id", "text")
    val got = graft.ops.Decontaminate
      .contaminated(train, benchmark, n = 13)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((0L, false)))
    assert(got(3L) == ((0L, false)))
  }

  test("repetition signals match closed-form values on hand-built docs") {
    val rows = Seq(
      // "a b a b a": words 5, distinct 2 -> dup_word 3/5; trigrams
      // [a b a, b a b, a b a] distinct 2 -> dup_tri 1/3; bigrams
      // [a b, b a, a b, b a] -> best covers 2 occ * 3 chars = 6 of 9 chars
      (1L, "a b a b a", 3.0 / 5, 1.0 / 3, 6.0 / 9),
      // all distinct words, one trigram (dup 0/1): top bigram covers one
      // occurrence of the longest bigram ("bb ccc" = 6 of 8 chars)
      (2L, "a bb ccc", 0.0, 0.0, 6.0 / 8),
      // single word: no bigrams/trigrams -> NULLs
      (3L, "hello", 0.0, Double.NaN, Double.NaN)
    )
    val got = TextAnalysis
      .repetitionSignals(rows.map(r => (r._1, r._2)).toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    rows.foreach { case (id, text, dw, dt, tb) =>
      val r = got(id)
      assert(r.getDouble(2) == dw, s"doc $id dup_word_frac over '$text'")
      if (dt.isNaN) assert(r.isNullAt(3), s"doc $id dup_trigram_frac should be NULL")
      else assert(r.getDouble(3) == dt, s"doc $id dup_trigram_frac over '$text'")
      if (tb.isNaN) assert(r.isNullAt(4), s"doc $id top_bigram_char_frac should be NULL")
      else assert(r.getDouble(4) == tb, s"doc $id top_bigram_char_frac over '$text'")
    }
  }

  test("latestVersion keeps exactly the max-order row per (repo, path)") {
    // (repo, path, commit) with multi-version files and a singleton
    val rows = Seq(
      ("r1", "a.sc", 1L),
      ("r1", "a.sc", 5L),
      ("r1", "a.sc", 3L),
      ("r1", "b.sc", 2L),
      ("r2", "a.sc", 4L) // same path in another repo is a separate file
    ).toDF("repo", "path", "commit")
    val got = CorpusPrep
      .latestVersion(rows, "repo", "path", orderCol = "commit", tieCol = "commit")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getBoolean(3))
      .toMap
    val want = Map(
      ("r1", "a.sc", 1L) -> false,
      ("r1", "a.sc", 5L) -> true,
      ("r1", "a.sc", 3L) -> false,
      ("r1", "b.sc", 2L) -> true,
      ("r2", "a.sc", 4L) -> true
    )
    assert(got == want)
    // every group keeps exactly one row
    assert(got.count(_._2) == 3)
  }

  test("vendoredFlags counts DISTINCT repos per exact content, not copies") {
    val rows = Seq(
      // license text in 3 repos, twice in r1 (copies must not inflate n_repos)
      (1L, "LICENSE MIT", "r1"),
      (2L, "LICENSE MIT", "r1"),
      (3L, "LICENSE MIT", "r2"),
      (4L, "LICENSE MIT", "r3"),
      // unique file
      (5L, "def main()", "r1"),
      // two repos only -> below the minRepos=3 bar
      (6L, "setup.py", "r1"),
      (7L, "setup.py", "r2")
    ).toDF("doc_id", "content", "repo")
    val got = CorpusPrep
      .vendoredFlags(rows, "content", "repo", minRepos = 3L)
      .select("doc_id", "n_repos", "vendored")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got(1L) == ((3L, true)) && got(2L) == ((3L, true)))
    assert(got(3L) == ((3L, true)) && got(4L) == ((3L, true)))
    assert(got(5L) == ((1L, false)))
    assert(got(6L) == ((2L, false)) && got(7L) == ((2L, false)))
  }

  test("vendoredFlags passes NULL-content rows through with n_repos=0") {
    val rows = Seq(
      (1L, "LICENSE MIT", "r1"),
      (2L, "LICENSE MIT", "r2"),
      (3L, null, "r1"),
      (4L, null, "r2")
    ).toDF("doc_id", "content", "repo")
    val got = CorpusPrep
      .vendoredFlags(rows, "content", "repo", minRepos = 2L)
      .select("doc_id", "n_repos", "vendored")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got.size == 4, "null-content rows must not be dropped")
    assert(got(1L) == ((2L, true)) && got(2L) == ((2L, true)))
    assert(got(3L) == ((0L, false)) && got(4L) == ((0L, false)))
  }

  test("cluster representatives: docs missing from the quality table are kept, never win over scored docs") {
    val assign = Seq(
      (1L, 1L), (2L, 1L), // cluster 1: doc 2 unscored
      (3L, 3L), (4L, 3L)  // cluster 3: fully unscored
    ).toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 5L)).toDF("doc_id", "n_chars")
    val got = Components
      .representatives(assign, quality, "n_chars")
      .as[(Long, Long, Boolean)]
      .collect()
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L), "every input doc present in output")
    // scored doc 1 beats unscored doc 2; fully-unscored cluster keeps lowest id
    assert(got.map(r => (r._1, r._3)).toSeq == Seq((1L, true), (2L, false), (3L, true), (4L, false)))
  }

  // hand-built y4m stream: `planesPerFrame` full-res planes per FRAME, byte
  // value = plane-constant fill (luma sums stay closed-form)
  private def buildY4m(headerTags: String, w: Int, h: Int, nf: Int, planesPerFrame: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h $headerTags\n".getBytes("US-ASCII"))
    for (f <- 0 until nf) {
      out.write("FRAME\n".getBytes("US-ASCII"))
      for (pl <- 0 until planesPerFrame; _ <- 0 until w * h) out.write((f + pl) & 0xff)
    }
    out.toByteArray
  }

  test("parseY4m: malformed headers return None instead of throwing (untrusted W/H, truncated payloads)") {
    // w*h overflows Int (46341^2 > Int.MaxValue): must be rejected, not allocated
    val overflow = "YUV4MPEG2 W46342 H46342 F25:1 C444\n FRAME\n".getBytes("US-ASCII")
    assert(Multimodal.parseY4m(overflow, 4).isEmpty)
    // plausible dims but payload far too small for one frame
    val truncated = "YUV4MPEG2 W1920 H1080 F25:1 C444\nFRAME\nxx".getBytes("US-ASCII")
    assert(Multimodal.parseY4m(truncated, 4).isEmpty)
    // absurd allocation demand from a tiny buffer (w*h = 10^10)
    val huge = "YUV4MPEG2 W100000 H100000 F25:1 C444\nFRAME\n".getBytes("US-ASCII")
    assert(Multimodal.parseY4m(huge, 4).isEmpty)
    // zero/negative/missing rate fields
    assert(Multimodal.parseY4m("YUV4MPEG2 W2 H2 F25:0 C444\nFRAME\n".getBytes("US-ASCII"), 4).isEmpty)
    // a well-formed tiny 444 stream still parses (3 planes per frame)
    val ok = buildY4m("F25:1 C444", 2, 2, 3, planesPerFrame = 3)
    val parsed = Multimodal.parseY4m(ok, 4)
    assert(parsed.nonEmpty && parsed.get.nFrames == 3)
    assert(parsed.get.frameLumaSums.toSeq == Seq(0L, 4L, 8L), "luma = first plane, fill value f")
  }

  test("sampleFrames strides by the exact rational frame rate (NTSC 30000:1001)") {
    val ntsc = buildY4m("F30000:1001 C444", 2, 2, 61, planesPerFrame = 3)
    val media = Seq((1L, "video", ntsc)).toDF("media_id", "modality", "bytes")
    val kept = Multimodal
      .sampleFrames(media, everyMs = 2000L)
      .select("frame_idx")
      .as[Long]
      .collect()
      .sorted
      .toSeq
    // stride = 2000*30000/(1000*1001) = 59 (integer fps would truncate to 29
    // and stride 58); frames 0 and 59 survive from 61
    assert(kept == Seq(0L, 59L))
  }
}
