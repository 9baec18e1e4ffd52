package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over the verified-pair graph via alternating
  * large-star / small-star (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) — O(log n) rounds of pure DataFrame
  * joins/aggregations, no GraphX, no driver-side state beyond the
  * convergence checksum.
  *
  * The reference has no clustering stage; BASELINE.json north_star requires
  * it ("clustered via iterative connected-components (large-star/small-star)
  * in DataFrames"). Cluster id = min doc_id of the component, matching a
  * union-find over the same pair set (asserted by the test suite).
  *
  * Each round persists its edge set and cuts lineage with localCheckpoint —
  * without it the plan doubles every iteration and the driver OOMs on plan
  * size long before data size matters.
  */
/** Boxing-free union-find over sparse long node ids: open-addressed
  * long->long parent table (linear probing, grow at 1/2 load; absent key =
  * self-parent), path-halving find, union-by-MIN so the component root is
  * always its minimum id — the cluster-id contract the suite asserts.
  * Node ids are non-negative (dense doc ids), so Long.MinValue is a safe
  * empty-slot sentinel. */
private[dedup] final class LongUnionFind(expectedNodes: Int) {
  private var cap = java.lang.Integer.highestOneBit(math.max(32, expectedNodes * 2) - 1) << 1
  private var keys = Array.fill(cap)(Long.MinValue)
  private var vals = new Array[Long](cap)
  private var size = 0

  private def slot(k: Long): Int = {
    val h = k * -7046029254386353131L
    ((h ^ (h >>> 32)).toInt) & (cap - 1)
  }

  private def parentOf(k: Long): Long = {
    var i = slot(k)
    while (keys(i) != Long.MinValue) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & (cap - 1)
    }
    k // absent = self-parent
  }

  private def setParent(k: Long, v: Long): Unit = {
    var i = slot(k)
    while (keys(i) != Long.MinValue && keys(i) != k) i = (i + 1) & (cap - 1)
    if (keys(i) == Long.MinValue) {
      if ((size + 1) * 2 > cap) { grow(); setParent(k, v); return }
      keys(i) = k
      size += 1
    }
    vals(i) = v
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    cap <<= 1
    keys = Array.fill(cap)(Long.MinValue)
    vals = new Array[Long](cap)
    size = 0
    var i = 0
    while (i < ok.length) { if (ok(i) != Long.MinValue) setParent(ok(i), ov(i)); i += 1 }
  }

  def find(x: Long): Long = {
    var r = x
    var p = parentOf(r)
    while (p != r) { r = p; p = parentOf(r) }
    // path compression to the root
    var c = x
    while (c != r) { val nxt = parentOf(c); setParent(c, r); c = nxt }
    r
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra != rb) { if (ra < rb) setParent(rb, ra) else setParent(ra, rb) }
  }
}

object Components {

  val MaxIterations = 50

  /** large-star: connect every strictly-larger neighbor of u to min(N(u) u {u}).
    * Each shuffle is a `repartition(parts, src)` the aggregate, join and
    * distinct all read, so the session's default width never applies. */
  private def largeStar(edges: DataFrame, parts: Int): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src"))
    val mins = sym.groupBy("src").agg(least(min(col("dst")), first(col("src"))).as("m"))
    sym
      .join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(parts, col("src"))
      .distinct()
  }

  /** small-star: connect every smaller-or-equal neighbor of u to the min. */
  private def smallStar(edges: DataFrame, parts: Int): DataFrame = {
    val sym = edges
      .select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst")
      )
      .filter(col("src") =!= col("dst"))
      .repartition(parts, col("src"))
      .distinct()
    val mins = sym.groupBy("src").agg(min(col("dst")).as("m"))
    val relinked = sym
      .join(mins, "src")
      .select(col("dst").as("node"), col("m"))
      .filter(col("node") =!= col("m"))
      .select(col("node").as("src"), col("m").as("dst"))
    val starCenters = mins.select(col("src"), col("m").as("dst"))
    relinked.unionByName(starCenters).filter(col("src") =!= col("dst")).repartition(parts, col("src")).distinct()
  }

  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges
      .agg(count(lit(1)).as("n"), coalesce(sum(hash(col("src"), col("dst")).cast("long")), lit(0L)).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Edge sets below this collapse on the driver: a union-find over a few
    * million longs beats dozens of near-empty distributed rounds by orders of
    * magnitude, and the dedup edge set is typically tiny next to the corpus.
    * Above it, the O(log n) star-contraction runs distributed. */
  val DriverLocalMaxEdges = 5000000L

  /** Driver-local tail: union-find over collected edge rows, re-distributed
    * as a sliced ParallelCollectionRDD. `rows` length is clamped by the
    * caller to driverLocalMaxEdges/Int range. */
  private def driverLocalAssign(spark0: org.apache.spark.sql.SparkSession, rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark0.implicits._
    // primitive arrays end to end: the round-3 HashMap[Long, Long] spent
    // most of this path's wall boxing — this is SERIAL driver time that
    // lands identically in every scaling leg, the exact cost class the
    // efficiency gate punishes
    val n = rows.length
    val srcs = new Array[Long](n)
    val dsts = new Array[Long](n)
    var i = 0
    while (i < n) { val r = rows(i); srcs(i) = r.getLong(0); dsts(i) = r.getLong(1); i += 1 }
    val uf = new LongUnionFind(n * 2)
    i = 0
    while (i < n) { uf.union(srcs(i), dsts(i)); i += 1 }
    // distinct nodes via primitive sort + adjacent-skip (no boxing)
    val nodes = new Array[Long](2 * n)
    System.arraycopy(srcs, 0, nodes, 0, n)
    System.arraycopy(dsts, 0, nodes, n, n)
    java.util.Arrays.sort(nodes)
    val assignments = Array.newBuilder[(Long, Long)]
    assignments.sizeHint(2 * n)
    i = 0
    while (i < nodes.length) {
      if (i == 0 || nodes(i) != nodes(i - 1)) assignments += ((nodes(i), uf.find(nodes(i))))
      i += 1
    }
    val out = assignments.result()
    // parallelize with explicit slicing, NOT toDF: a LocalRelation ships
    // the whole node->cluster map inside one task (round 1 logged 12 MB
    // tasks); ParallelCollectionRDD serializes only each task's slice.
    // ~20k rows/slice keeps serialized task size well under Spark's
    // 1000 KiB advisory (50k sliced at ~1.2 MB and warned every bench run)
    val slices = math.max(
      spark0.sparkContext.defaultParallelism,
      (out.length / 20000) + 1
    )
    spark0.sparkContext
      .parallelize(out.toIndexedSeq, slices)
      .toDF("doc_id", "cluster_id")
  }

  /** pairs: any DataFrame with (a, b) doc-id edge columns.
    * Returns assignments (doc_id, cluster_id) for every node in the graph.
    *
    * `knownEdgeBound`: a PROVEN upper bound on the edge count (e.g. the
    * caller's already-counted pair table). When it fits the driver-local
    * clamp the whole persist + count + collect sequence collapses to one
    * collect job — the count job existed only to make that path decision. */
  def run(
      pairs: DataFrame,
      driverLocalMaxEdges: Long = DriverLocalMaxEdges,
      knownEdgeBound: Long = Long.MaxValue
  ): DataFrame = {
    // NO input distinct: both paths tolerate duplicate edges (union on an
    // already-joined pair is a no-op; each star round ends in its own
    // distinct), so the pre-dedup exchange+aggregate the old plan paid on
    // every call bought nothing — callers' pair tables are distinct by
    // construction anyway. The path-decision count becomes an upper bound
    // on distinct edges, which errs toward the distributed path
    // (conservative), and the driver-local collect stays clamped by the
    // same `driverLocalMaxEdges` rows either way.
    val edgesPlan = pairs
      .select(col("a").as("src"), col("b").as("dst"))
      .filter(col("src") =!= col("dst"))
    // the driver-local path indexes primitive arrays, so it is additionally
    // clamped to Int range: a caller-raised driverLocalMaxEdges above 2^31-1
    // must take the distributed path, not silently truncate `n`
    val cap = math.min(driverLocalMaxEdges, Int.MaxValue.toLong)
    if (knownEdgeBound <= cap)
      return driverLocalAssign(pairs.sparkSession, edgesPlan.collect())

    var edges = edgesPlan.persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges.count() // materializes the cache; path decision
    if (nEdges <= cap) {
      val rows = edges.collect() // one job over the cache
      edges.unpersist()
      return driverLocalAssign(pairs.sparkSession, rows)
    }

    // Size the loop's shuffle parallelism to the EDGE data, not the session
    // default: the edge set is orders of magnitude smaller than the corpus,
    // and star-contraction rounds are join/agg chains of tiny tasks whose
    // scheduling overhead otherwise dominates (and grows with cores). Not
    // through the session conf: a query planned meanwhile would read it.
    val parts = math.max(1, math.min(
      edges.sparkSession.sparkContext.defaultParallelism * 2,
      (nEdges / 500000L).toInt + 1
    ))

    var prev = checksum(edges) // one pass over the already-cached edge set
    var converged = false
    var iter = 0
    while (!converged && iter < MaxIterations) {
      // LAZY localCheckpoint: the checksum action below materializes the
      // checkpoint AND folds the convergence aggregate into the same job —
      // one job per round instead of round-2's materialize + checksum pair
      val next = smallStar(largeStar(edges, parts), parts).localCheckpoint(eager = false)
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      edges.unpersist()
      edges = next
      iter += 1
    }
    // After convergence edges form stars: (node -> componentMin).
    val assign = edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
    val roots = edges.select(col("dst").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
    assign.unionByName(roots).distinct()
  }

  /** Assignments for the full doc set: singletons cluster to themselves. */
  def assignAll(
      docs: DataFrame,
      pairs: DataFrame,
      driverLocalMaxEdges: Long = DriverLocalMaxEdges,
      knownEdgeBound: Long = Long.MaxValue
  ): DataFrame = {
    val cc = run(pairs, driverLocalMaxEdges, knownEdgeBound)
    docs
      .select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Cluster-representative selection — the dedup SURVIVORSHIP policy: each
    * near-dup cluster collapses to one canonical document, chosen as the
    * highest-`qualityCol` member (ties broken by lowest doc_id, so the
    * choice is deterministic). This is the step a C4/FineWeb-style corpus
    * build runs after clustering: near-dup classes keep their best-quality
    * exemplar rather than an arbitrary one.
    *
    * `assign`:  (doc_id, cluster_id) — e.g. [[assignAll]] output.
    * `quality`: (doc_id, <qualityCol>) — any per-doc score (length, a model
    *            score, the q17 quality signals). Docs absent from `quality`
    *            are NOT dropped: they join with a null score, which sorts
    *            after every real score (desc = NULLS LAST), so an unscored
    *            doc only wins its cluster when no scored member exists
    *            (then lowest doc_id, still deterministic).
    * Output: (doc_id, cluster_id, keep) — every input doc, `keep` true on
    * exactly one row per cluster.
    *
    * Scale shape: one equi-join on doc_id (AQE picks broadcast vs shuffle by
    * the quality table's width) + one window shuffle PARTITIONED BY
    * cluster_id. Cluster sizes are near-dup class sizes, bounded in practice
    * because the pipeline collapses exact-dup classes BEFORE LSH — no
    * single-partition global sort anywhere. */
  def representatives(
      assign: DataFrame,
      quality: DataFrame,
      qualityCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id").orderBy(col(qualityCol).desc, col("doc_id").asc)
    assign
      .join(quality, Seq("doc_id"), "left")
      .withColumn("__rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), (col("__rn") === 1).as("keep"))
  }

  /** INCREMENTAL components maintenance: fold a batch of new pairs (and new
    * docs) into an existing assignment without re-clustering the corpus —
    * the ingest-time operation at 10^12 files, where a day's delta is
    * orders of magnitude smaller than the corpus and a full [[assignAll]]
    * re-run would re-shuffle every stored pair.
    *
    * Correctness: `existing` is a LOSSLESS summary of prior connectivity
    * (doc -> component), and its cluster_id is already the component MIN.
    * So connected components over the tiny graph
    *
    *   newPairs  UNION  { (touched doc, its existing cluster_id) }
    *
    * — each new-pair endpoint tied to its old component's representative —
    * yields exactly the merged components, with the merged min arising from
    * the representative ids themselves (every member is >= its cluster_id,
    * so no member outside the delta graph can change the min). Members of
    * merged clusters are then relabeled through one old->new cluster-id map
    * (skinny: one row per ABSORBED old cluster — AQE broadcasts it against
    * the assignment table, a map-side rewrite with no corpus shuffle), and
    * docs in `newDocs` absent from the graph become singletons.
    *
    * Cost scales with the DELTA (|newPairs| + touched clusters), plus one
    * broadcast-join scan of the assignment table to apply the relabel; the
    * suite asserts merge(assignAll(base), delta) == assignAll(base u delta)
    * on randomized graphs.
    *
    * `existing`: (doc_id, cluster_id) — complete over the current corpus.
    * `newPairs`: (a, b) edges among new and/or existing docs.
    * `newDocs`:  (doc_id) docs entering the corpus in this batch (pairless
    *             ones become singletons); pass the accepted-ingest frame.
    * `reg`:      cache owner for the scaffolding persists — `existing`,
    *             `touched` and the delta assignment each feed several joins
    *             below; without a persisted copy each reference re-evaluates
    *             the caller's (possibly expensive) assignment plan.
    */
  def merge(
      existing: DataFrame,
      newPairs: DataFrame,
      newDocs: DataFrame,
      driverLocalMaxEdges: Long = DriverLocalMaxEdges,
      reg: CacheRegistry = CacheRegistry.unmanaged,
      knownPairBound: Long = Long.MaxValue
  ): DataFrame = {
    val ex = reg.persist(existing)
    val touched = reg.persist(
      newPairs
        .select(col("a").as("doc_id"))
        .unionByName(newPairs.select(col("b").as("doc_id")))
        .distinct()
    )
    // (touched doc -> old representative) for docs already assigned; docs
    // new to the corpus have no row and enter the delta graph bare
    val anchor = ex
      .join(Par.buildSide(touched), "doc_id")
      .filter(col("doc_id") =!= col("cluster_id")) // self-anchors add nothing
      .select(col("doc_id").as("a"), col("cluster_id").as("b"))
    // delta graph size <= |newPairs| + |anchor| <= |newPairs| + |touched|
    // <= 3 * |newPairs| — a caller's pair-count bound carries through
    // (saturating: no overflow near Long.MaxValue)
    val deltaBound =
      if (knownPairBound > Long.MaxValue / 3) Long.MaxValue else 3 * knownPairBound
    val delta = reg.persist(
      run(newPairs.select("a", "b").unionByName(anchor), driverLocalMaxEdges, deltaBound)
    )

    // old cluster ids absorbed into a (necessarily smaller-or-equal) new id:
    // exactly the delta-graph nodes that are some existing row's cluster_id
    val relabel = delta
      .join(
        Par.buildSide(ex.select(col("cluster_id").as("doc_id")).distinct()),
        "doc_id"
      )
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("old_cid"), col("cluster_id").as("new_cid"))

    val relabeled = ex
      .join(relabel, ex("cluster_id") === relabel("old_cid"), "left")
      .select(col("doc_id"), coalesce(col("new_cid"), col("cluster_id")).as("cluster_id"))

    // brand-new docs: their delta-graph assignment, else singleton
    val incoming = newDocs
      .select(col("doc_id"))
      .unionByName(touched)
      .distinct()
      .join(Par.buildSide(ex.select("doc_id")), Seq("doc_id"), "left_anti")
      .join(delta, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))

    relabeled.unionByName(incoming)
  }
}
