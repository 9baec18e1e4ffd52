package graft.ops

import graft.dedup.{CosineFloat, KernelCall, PairGen}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

/** One tile of the corpus for block-nested-loop similarity: `n` vectors,
  * ids sorted ascending, `data` = row-major n x dim doubles, `norms` =
  * per-vector dot(v, v). */
final case class VecBlock(bid: Long, n: Int, dim: Int, ids: Array[Long], data: Array[Double], norms: Array[Double])

/** Similarity search over an embedding column (array<float>) — the
  * similarity-search leg of a training-data pipeline.
  *
  * Two paths, one contract (the test suite holds both to a naive per-pair
  * Column-expression brute force):
  *  - [[cosineTopKBlocked]] / [[nearDupPairsBlocked]]: EXACT all-pairs
  *    cosine as a distributed block-nested-loop "matrix multiply" — the
  *    corpus is tiled into [[VecBlock]]s, every block PAIR is one task doing
  *    a dense tile-x-tile dot-product loop (JIT-compiled primitive arrays,
  *    no per-pair row machinery). Exactness of brute force, but distributed:
  *    no driver collect, no full-corpus broadcast, task memory bounded by
  *    2 tiles. O(n^2 d) total work — the unavoidable cost of an EXACT
  *    threshold/top-k answer — spread over B^2/2 perfectly parallel tasks.
  *  - [[lshCosineTopK]]: random-hyperplane LSH (sign-bit sketch, bucketed by
  *    bit blocks) prunes candidates before the exact re-rank — the path for
  *    corpora where even tiled O(n^2) is off the table; approximate
  *    (recall tunable via planes/blocks), measured against the exact path
  *    in the test suite.
  * The quantized operators [[ivfCosineTopK]] and [[semDedup]] take their
  * coarse centroids from the caller; [[adaptiveCentroids]] computes the
  * deterministic set once per table.
  */
object Similarity {

  /** Tile the corpus into blocks of ~`blockSize` vectors (block = vec_id mod
    * B, ids sorted within). One count job sizes B; everything else is one
    * groupByKey shuffle of the raw vectors. */
  def toBlocks(embeddings: DataFrame, blockSize: Int): Dataset[VecBlock] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val n = embeddings.count()
    val nBlocks = math.max(1L, (n + blockSize - 1) / blockSize)
    embeddings
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .groupByKey(_._1 % nBlocks)
      .mapGroups { (bid, it) =>
        val rows = it.toArray.sortBy(_._1)
        val dim = if (rows.isEmpty) 0 else rows(0)._2.length
        val ids = new Array[Long](rows.length)
        val data = new Array[Double](rows.length * dim)
        val norms = new Array[Double](rows.length)
        var i = 0
        while (i < rows.length) {
          ids(i) = rows(i)._1
          val v = rows(i)._2
          var d = 0
          var nn = 0.0
          while (d < dim) {
            val x = v(d).toDouble
            data(i * dim + d) = x
            nn += x * x
            d += 1
          }
          norms(i) = nn
          i += 1
        }
        VecBlock(bid, rows.length, dim, ids, data, norms)
      }
  }

  /** All block pairs (bid_x <= bid_y): B^2/2 rows, each one independent
    * tile-pair task. The tiny block table is joined to itself with a
    * nested-loop join — B is small (n / blockSize), the heavy data rides
    * inside the rows. */
  private def blockPairs(blocks: Dataset[VecBlock]): Dataset[(VecBlock, VecBlock)] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.as("x").joinWith(blocks.as("y"), col("x.bid") <= col("y.bid"))
  }

  private def dot(data: Array[Double], i: Int, other: Array[Double], j: Int, dim: Int): Double = {
    var s = 0.0
    var d = 0
    val oi = i * dim
    val oj = j * dim
    while (d < dim) { s += data(oi + d) * other(oj + d); d += 1 }
    s
  }

  /** Exact threshold pairs (a < b, cosine >= minCosine), block-tiled. */
  def nearDupPairsBlocked(embeddings: DataFrame, minCosine: Double, blockSize: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    blockPairs(toBlocks(embeddings, blockSize))
      .flatMap { case (x, y) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        val dim = x.dim
        var i = 0
        while (i < x.n) {
          var j = if (x.bid == y.bid) i + 1 else 0
          while (j < y.n) {
            // zero-norm vectors have no defined cosine: skip the pair
            // explicitly (NaN would fail the >= anyway, but the top-k path
            // must match — see cosineTopKBlocked)
            val c =
              if (x.norms(i) == 0.0 || y.norms(j) == 0.0) -2.0
              else dot(x.data, i, y.data, j, dim) / (math.sqrt(x.norms(i)) * math.sqrt(y.norms(j)))
            if (c >= minCosine) {
              val a = x.ids(i); val b = y.ids(j)
              out += (if (a < b) (a, b, c) else (b, a, c))
            }
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("a", "b", "cosine")
  }

  /** Exact top-k neighbors per vector, block-tiled: each tile pair emits its
    * per-probe partial top-k (a bounded insertion list — global top-k is a
    * subset of the per-tile top-ks), then one window takes the final k. */
  def cosineTopKBlocked(embeddings: DataFrame, k: Int, blockSize: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val partial = blockPairs(toBlocks(embeddings, blockSize)).flatMap { case (x, y) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val dim = x.dim
      // bounded top-k insertion: order by (cosine desc, neighbor asc)
      def topkInto(
          probeIds: Array[Long], probeData: Array[Double], probeNorms: Array[Double], pn: Int,
          otherIds: Array[Long], otherData: Array[Double], otherNorms: Array[Double], on: Int,
          sameBlock: Boolean
      ): Unit = {
        val bc = new Array[Double](k)
        val bi = new Array[Long](k)
        var i = 0
        while (i < pn) {
          var m = 0 // current size
          var j = 0
          while (j < on) {
            // zero-norm on either side -> no defined cosine, skip: a NaN
            // would fail every insertion comparison but the final window's
            // desc sort ranks NaN first, diverging from the naive oracle
            if (!(sameBlock && i == j) && probeNorms(i) != 0.0 && otherNorms(j) != 0.0) {
              val c = dot(probeData, i, otherData, j, dim) /
                (math.sqrt(probeNorms(i)) * math.sqrt(otherNorms(j)))
              val id = otherIds(j)
              // find insert position among m entries
              var p = m
              while (p > 0 && (bc(p - 1) < c || (bc(p - 1) == c && bi(p - 1) > id))) p -= 1
              if (p < k) {
                val last = math.min(m, k - 1)
                var q = last
                while (q > p) { bc(q) = bc(q - 1); bi(q) = bi(q - 1); q -= 1 }
                bc(p) = c; bi(p) = id
                if (m < k) m += 1
              }
            }
            j += 1
          }
          var r = 0
          while (r < m) { out += ((probeIds(i), bi(r), bc(r))); r += 1 }
          i += 1
        }
      }
      if (x.bid == y.bid)
        topkInto(x.ids, x.data, x.norms, x.n, x.ids, x.data, x.norms, x.n, sameBlock = true)
      else {
        topkInto(x.ids, x.data, x.norms, x.n, y.ids, y.data, y.norms, y.n, sameBlock = false)
        topkInto(y.ids, y.data, y.norms, y.n, x.ids, x.data, x.norms, x.n, sameBlock = false)
      }
      out
    }.toDF("vec_id", "neighbor", "cosine")
    val w = Window.partitionBy(col("vec_id")).orderBy(desc("cosine"), asc("neighbor"))
    partial.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic gaussian hyperplane matrix (planes x dim) for `seed` —
    * public so oracles can reproduce the sketch value-for-value. */
  def hyperplanes(dim: Int, planes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian())
  }

  /** Sign-bit sketch: bit i = sign(dot(v, hyperplane_i)), hyperplanes drawn
    * deterministically from `seed`. Collision probability of a bit is
    * 1 - theta/pi (Charikar '02). One compiled kernel pass — the round-4
    * version composed `planes` interpreted aggregate(zip_with(...)) columns,
    * i.e. 32 higher-order re-walks of the embedding per row outside codegen
    * ([[HyperplaneSketch]] pins dot-product order so the SQL oracle's sums
    * stay bit-identical). */
  def hyperplaneSketch(embeddings: DataFrame, dim: Int, planes: Int, seed: Long): DataFrame =
    embeddings.withColumn("sketch", HyperplaneSketch(col("embedding"), dim, planes, seed))

  /** LSH-pruned top-k: bucket on `blocks` disjoint bit blocks of the sketch,
    * candidates = co-bucketed pairs, exact cosine re-rank. */
  def lshCosineTopK(
      embeddings: DataFrame,
      k: Int,
      dim: Int,
      planes: Int = 32,
      blocks: Int = 4,
      maxBucket: Int = 2000,
      seed: Long = 42L,
      reg: graft.dedup.CacheRegistry = graft.dedup.CacheRegistry.unmanaged
  ): DataFrame = {
    require(planes % blocks == 0 && planes <= 64)
    val bits = planes / blocks
    // persisted: consumed by the block-bucket pass AND both re-rank sides
    val sk = reg.persist(
      hyperplaneSketch(embeddings, dim, planes, seed)
        .select(col("vec_id").as("doc_id"), col("embedding"), col("sketch"))
    )
    val blockCols = array((0 until blocks).map { b =>
      shiftrightunsigned(col("sketch"), b * bits).bitwiseAND(lit((1L << bits) - 1))
    }: _*)
    val rows = sk
      .select(col("doc_id"), posexplode(blockCols).as(Seq("block", "block_val")))
      .withColumn("group", lit("all"))
    val cand = PairGen.pairsFromBuckets(rows, Seq("group", "block", "block_val"), maxBucket)
    val va = sk.select(col("doc_id").as("a"), col("embedding").as("va"))
    val vb = sk.select(col("doc_id").as("b"), col("embedding").as("vb"))
    val pairs = cand
      .join(va, "a")
      .join(vb, "b")
      // codegen'd kernel, bit-equal to the Column cosine (same index-ordered
      // double sums); zero-norm sides come back NaN instead of NULL — both
      // mean "no defined cosine" and both are dropped here
      .withColumn("cosine", CosineFloat(col("va"), col("vb")))
      .filter(!isnan(col("cosine")))
      .select(col("a"), col("b"), col("cosine"))
    val sym = pairs
      .select(col("a").as("vec_id"), col("b").as("neighbor"), col("cosine"))
      .unionByName(pairs.select(col("b").as("vec_id"), col("a").as("neighbor"), col("cosine")))
    val w = Window.partitionBy(col("vec_id")).orderBy(desc("cosine"), asc("neighbor"))
    sym.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-flat approximate top-k: the coarse quantizer `centroids` (cid,
    * vector) partitions the corpus into one inverted list per centroid
    * (assignment = nearest centroid by cosine), each query probes its
    * `nProbe` nearest lists and re-ranks the candidates exactly. The
    * quadratic work drops to ~n^2 * nProbe / #centroids; recall is tunable
    * via nProbe (measured against the exact path in the test suite).
    *
    * The caller passes the centroids, so one set serves every quantized
    * operator over a table. Fixed ones ([[centroids]], [[adaptiveCentroids]]:
    * the embeddings of the lowest vec_ids) keep the operator a pure function
    * of its input, which is what lets an ANSI-SQL oracle reproduce it
    * value-for-value (q36).
    *
    * All cosines are evaluated in the same index-ordered shape as [[cosine]],
    * so scores are bit-identical across engines; ties break on (score desc,
    * centroid/neighbor id asc). Emitted: (vec_id, neighbor, cosine, rank).
    */
  def ivfCosineTopK(
      embeddings: DataFrame,
      k: Int,
      centroids: Array[(Long, Array[Double])], // cid-ascending
      nProbe: Int = 4,
      reg: graft.dedup.CacheRegistry = graft.dedup.CacheRegistry.unmanaged
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val bCents = spark.sparkContext.broadcast(centroids)
    val np = nProbe
    // top-nProbe centroid ids per vector, ordered (score desc, cid asc). A
    // 100-plus-wide Column expression here blew past whole-stage codegen limits.
    val probesUdf = udf { (emb: Seq[Float]) =>
      val cs = bCents.value
      bestCentroids(emb, cs, np).map(j => cs(j)._1.toInt)
    }.asNondeterministic() // runs once per row (KernelCall)
    val ranked = reg.persist(
      // consumed twice (assignment + probes) inside the returned lazy plan;
      // cache lifetime is caller-owned via `reg` (the bench/verify drivers
      // release after materializing each query)
      embeddings
        .select(col("vec_id"), col("embedding"), probesUdf(col("embedding")).as("probes"))
        .filter(size(col("probes")) > 0)
    )
    val assignment = ranked.select(
      col("vec_id"),
      col("embedding"),
      col("probes").getItem(0).as("cid") // nearest centroid = list membership
    )
    val probes = ranked.select(
      col("vec_id"),
      col("embedding").as("q_embedding"),
      explode(col("probes")).as("cid")
    )
    // candidates: query x members of its probed lists (self excluded);
    // (vec_id, neighbor) is structurally unique — each neighbor lives in
    // exactly one inverted list — so no dedup shuffle is needed. Exact
    // re-rank through the codegen'd kernel (bit-equal to Column cosine).
    val members = assignment.select(col("cid"), col("vec_id").as("neighbor"), col("embedding").as("n_embedding"))
    probes
      .join(members, "cid")
      .filter(col("vec_id") =!= col("neighbor"))
      .select(
        col("vec_id"),
        col("neighbor"),
        CosineFloat(col("q_embedding"), col("n_embedding")).as("cosine")
      )
      .filter(!isnan(col("cosine")))
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy(col("vec_id")).orderBy(desc("cosine"), asc("neighbor")))
      )
      .filter(col("rank") <= k)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540): partition the
    * embedding space with a coarse quantizer, then mark within-cluster
    * semantic duplicates at a cosine threshold — the sub-quadratic semantic
    * dedup used on web-scale LLM corpora. Quadratic work happens only WITHIN
    * clusters (~n^1.5 total at the adaptive sqrt(n) centroid count), and the
    * cluster self-join is an equi-join on cid that shuffles each cluster to
    * one task — the same scale shape as the paper's per-cluster pass.
    *
    * Determinism contract matches [[ivfCosineTopK]]: the caller's
    * `centroids` (cid-ascending; q37 passes the q36 set), assignment ties
    * break toward the lowest centroid id, and the keep rule is "a vector is
    * removed iff a LOWER-vec_id member of its cluster is within
    * `minCosine`" — the paper keeps one example per epsilon-neighborhood;
    * lowest-id is the deterministic representative an ANSI oracle can
    * reproduce value-for-value (q37).
    *
    * Emits (vec_id, cid, kept) for every vector with a non-degenerate
    * embedding (zero-norm vectors have no nearest centroid, as in q36).
    */
  def semDedup(
      embeddings: DataFrame,
      minCosine: Double,
      centroids: Array[(Long, Array[Double])],
      reg: graft.dedup.CacheRegistry = graft.dedup.CacheRegistry.unmanaged
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val bCents = spark.sparkContext.broadcast(centroids)
    // ties keep the lowest cid, the SQL oracle's (score DESC, cid) ordering;
    // zero-norm vectors stay unassigned (-1)
    val nearestUdf = udf { (emb: Seq[Float]) =>
      val cs = bCents.value
      val best = bestCentroids(emb, cs, 1)
      if (best.isEmpty) -1L else cs(best(0))._1
    }.asNondeterministic() // runs once per row (KernelCall)
    val assigned = reg.persist(
      embeddings
        .select(col("vec_id"), col("embedding"), nearestUdf(col("embedding")).as("cid"))
        .filter(col("cid") >= 0)
    )
    val leftM = assigned.select(col("cid"), col("vec_id").as("a"), col("embedding").as("va"))
    val rightM = assigned.select(col("cid"), col("vec_id").as("b"), col("embedding").as("vb"))
    val removed = leftM
      .join(rightM, "cid")
      .filter(col("a") < col("b"))
      .select(col("b").as("vec_id"), CosineFloat(col("va"), col("vb")).as("cosine"))
      .filter(!isnan(col("cosine")) && col("cosine") >= minCosine)
      .select("vec_id")
      .distinct()
    assigned
      .join(removed.withColumn("rm", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("rm").isNull.as("kept"))
  }

  /** The deterministic coarse centroids: embeddings of the `n` LOWEST
    * vec_ids, as doubles (public so the SQL oracle can embed them).
    * orderBy + limit, not `vec_id < n` — with sparse or non-zero-based ids
    * the filter form silently under-collects (ADVICE round 3). */
  def centroids(embeddings: DataFrame, n: Int): Array[(Long, Array[Double])] =
    embeddings
      .select(col("vec_id").cast("long"), col("embedding"))
      .orderBy(col("vec_id"))
      .limit(n)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1)

  /** [[centroids]] at the adaptive size max(16, ceil(sqrt(n))) — the classic
    * IVF sizing that keeps probe-list volume ~ n^1.5 * nProbe. One count job
    * plus the centroid collect. */
  def adaptiveCentroids(embeddings: DataFrame): Array[(Long, Array[Double])] =
    centroids(embeddings, math.max(16, math.ceil(math.sqrt(embeddings.count().toDouble)).toInt))

  /** Indexes of the `np` best centroids for `emb`, by (cosine desc, index
    * asc) — `cs` is cid-ascending, so index order is cid order. Cosines are
    * index-ordered double sums, the shape of CosineKernel and the SQL oracle,
    * so rankings match the oracle's bitwise. NaN (zero-norm) scores lose
    * every comparison, so such vectors select nothing. */
  private def bestCentroids(emb: Seq[Float], cs: Array[(Long, Array[Double])], np: Int): Array[Int] = {
    val scores = new Array[Double](cs.length)
    var j = 0
    while (j < cs.length) {
      val c = cs(j)._2
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < c.length) {
        val x = emb(i).toDouble
        val y = c(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      scores(j) = dot / (math.sqrt(na) * math.sqrt(nb))
      j += 1
    }
    // selection of the top np indexes; strict > keeps the lowest index on ties
    val sel = Array.newBuilder[Int]
    val used = new Array[Boolean](cs.length)
    var r = 0
    while (r < math.min(np, cs.length)) {
      var best = -1
      var jj = 0
      while (jj < cs.length) {
        if (!used(jj) && scores(jj) == scores(jj) &&
          (best == -1 || scores(jj) > scores(best))) best = jj
        jj += 1
      }
      if (best == -1) r = cs.length // only NaNs left
      else { used(best) = true; sel += best; r += 1 }
    }
    sel.result()
  }
}

/** Kernel for the sign-bit hyperplane sketch over the (dim, planes, seed)
  * gaussian matrix, regenerated deterministically per executor (the
  * parameters, not the matrix, make up plan equality and plan strings).
  * Semantics are EXACTLY the interpreted aggregate(zip_with(cast-to-double
  * multiply)) chain it replaced: index-ordered left-to-right double sums
  * (so the SQL oracle's list_sum reproduces every dot product
  * bit-for-bit), bit p set iff d >= 0 (NaN and the zip_with
  * length-mismatch null both leave it clear). A null ELEMENT nulls every
  * plane's zip_with sum in the twin, clearing every bit — reproduced here
  * as an early 0L (getFloat would NPE on GenericArrayData or read the
  * zeroed slot on UnsafeArrayData). */
final case class SketchKernel(dim: Int, planes: Int, seed: Long) {
  @transient private lazy val table: Array[Array[Double]] = Similarity.hyperplanes(dim, planes, seed)

  def eval(emb: ArrayData): Long = {
    val hp = table
    var i0 = 0
    val n0 = emb.numElements()
    while (i0 < n0) { if (emb.isNullAt(i0)) return 0L; i0 += 1 }
    var out = 0L
    var p = 0
    while (p < hp.length) {
      val plane = hp(p)
      if (emb.numElements() == plane.length) {
        var d = 0.0
        var i = 0
        while (i < plane.length) { d += emb.getFloat(i).toDouble * plane(i); i += 1 }
        if (d >= 0) out |= (1L << p)
      }
      p += 1
    }
    out
  }
}

/** Compiled hyperplane sketch over array<float> — see [[SketchKernel]]. */
object HyperplaneSketch {
  def apply(c: Column, dim: Int, planes: Int, seed: Long): Column =
    KernelCall.invoke(SketchKernel(dim, planes, seed), "eval", LongType, Seq(c -> ArrayType(FloatType)))
}
