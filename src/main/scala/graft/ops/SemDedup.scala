package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Semantic deduplication over an embedding column — the SemDeDup recipe
  * (Abbas, Tirumala, Simig, Ganguli, Morcos 2023, arXiv:2303.09540):
  * cluster the corpus embeddings with k-means, compare points ONLY within
  * their cluster, connect pairs whose cosine similarity exceeds a
  * threshold, and keep one representative per duplicate group.
  *
  * Scale shape: clustering bounds the pairwise work to O(Σ |cluster|²)
  * instead of O(n²) — the same bucketing idea as the MinHash band join in
  * [[Dedup.minhashDedup]], with the cluster id as the bucket key. k is the
  * knob: at 100 TB pick k so the expected cluster size keeps |cluster|²
  * tractable (the paper runs k = 11k–110k on 100M+ images). The
  * within-cluster join is a hash equi-join on the cluster id; a
  * `maxClusterSize` guard refuses (with the offending sizes) rather than
  * silently running a quadratic blow-up on a skewed cluster. Everything
  * else is hash aggregation and the BSP component propagation of
  * [[Dedup.connectedComponents]] — no driver collection beyond k centers.
  *
  * Unlike exact/MinHash dedup (which need literal or n-gram overlap),
  * SemDeDup removes SEMANTIC duplicates: same content re-rendered,
  * templated, or paraphrased, which survives string-level dedup. The
  * reference engine has no analogue; this composes the repo's own k-means
  * ([[graft.clustering.GeneralizedKMeans]], spherical divergence) with
  * its dedup machinery.
  */
object SemDedup {

  /** k that BALANCES the recipe's two cost terms for an n-vector corpus:
    * assignment work is O(k·n), within-cluster pair work is O(n²/k) (at
    * uniform cluster sizes), so k ∝ √n puts both at O(n^1.5) — any FIXED
    * k turns the pair term quadratic as the corpus grows (measured: k=8
    * at 200k vectors ran 146x past sublinear before this guard; 35x
    * faster re-measured with √n-scaled k). At 100 TB pick k from the
    * corpus count with this helper (or larger, with ANN-assisted
    * assignment, as the paper does at k ≈ 11k–110k).
    */
  def balancedK(n: Long, minK: Int = 8): Int =
    math.max(minK.toLong, math.ceil(math.sqrt(n.toDouble) / 2.0).toLong).toInt

  /** Keeper strategies for the representative of each duplicate group.
    *
    * Note: `maxClusterSize` defaults tightened from 100000 to 20000 in
    * round 10 — a 100k-member cluster costs ~5e9 within-cluster pairs,
    * which is a misconfiguration (k too small for the corpus; see
    * [[balancedK]]) that should refuse with the offending sizes rather
    * than crawl. Pass maxClusterSize explicitly to accept larger
    * clusters.
    */
  val KeepMinId = "min_id"
  /** The paper's §3.3 choice: keep the member with the LOWEST cosine
    * similarity to its cluster centroid (the least prototypical example),
    * which the authors found preserves the most diversity.
    */
  val KeepFarFromCentroid = "far_from_centroid"

  /** Semantic dedup at FIXED centers (the deterministic, oracle-checkable
    * core; [[semDedup]] trains the centers first and delegates here).
    *
    * Returns one audit row per input vector:
    * (id, cluster, centroid_sim, comp, keep) — `comp` is null for vectors
    * with no near-duplicate, `keep` marks the surviving representative
    * (always true outside duplicate groups).
    *
    * Assignment is by maximum cosine similarity (ties → lowest cluster
    * id); pairs are connected when cosine(a, b) >= epsilon.
    */
  /** Nearest-center assignment at FIXED centers — the shared front of
    * [[semDedupFixed]] and [[SemDedupIndex.probe]] (one definition so
    * the batch path and the incremental probe can never assign the same
    * vector to different clusters): one broadcast pass, maximum cosine
    * similarity, ties to the lowest cluster id. Returns
    * (id, cluster, centroid_sim, v), NOT persisted — callers own that.
    */
  private[graft] def assignFixed(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      centers: Array[Array[Double]]): DataFrame = {
    require(centers.nonEmpty, "semDedup needs at least one center")
    val spark = vectors.sparkSession
    // Per-ROW argmax in one closure projection, then the id-collapse
    // aggregation over n pre-reduced rows. The former formulation
    // (broadcast-join the k-row center frame, then min_by over the n×k
    // candidate rows) materialized k struct(cluster, sim, v) candidates
    // per vector through the partial aggregate — k copies of every
    // vector — before reducing back to n rows (guide §2.3: aggregate
    // before you shuffle / shuffle fewer bytes). The closure reproduces
    // the min_by ordering over struct(1.0 - sim, cluster) EXACTLY,
    // including its null semantics (a null cosine — null vector or
    // dimension mismatch — yields a NULL ordering key, and nulls sort
    // FIRST: such a candidate beats every real one, lowest cluster id
    // first) and NaN semantics (NaN sorts last, NaN == NaN ties break
    // by cluster id); per-center cosine is the same fused
    // s/(sqrt(na)*sqrt(nb)) loop as ArrayMath.cosine, so the sim values
    // are bit-identical. SemDedupSpec pins equality with the join
    // formulation on real + null/mismatch fixtures.
    // rule 14: broadcast a private copy — local-mode broadcast is
    // by-reference and callers may mutate their center arrays later.
    val bc = spark.sparkContext.broadcast(centers.map(_.clone()))
    // boxed element type: an array<double> may carry NULL ELEMENTS, and a
    // Seq[Double] parameter NPEs at auto-unboxing where the former
    // ArrayCosine expression read null slots as 0.0 (r19 advice) —
    // preserved here by mapping null elements to 0.0 explicitly
    val best = udf { (v: Seq[java.lang.Double]) =>
      val cs = bc.value
      if (v == null) {
        // every candidate key is NULL -> nulls-first, lowest cluster
        Some((0L, Option.empty[Double]))
      } else {
        // one pass over the (List-backed, rule 16) input: no v(p) walk
        val x = v.iterator.map(e => if (e eq null) 0.0 else e.doubleValue).toArray
        // real keys: 1 - sim with NaN ordered last, ties -> lowest cluster
        def betterKey(a: Double, b: Double): Boolean = {
          if (java.lang.Double.isNaN(b)) !java.lang.Double.isNaN(a)
          else if (java.lang.Double.isNaN(a)) false
          else a < b
        }
        var bestC = -1L
        var bestKey = 0.0
        var bestSim = 0.0
        var found = false
        var mismatch = -1L
        var i = 0
        while (i < cs.length && mismatch < 0L) {
          val c = cs(i)
          if (c.length != x.length) {
            // NULL ordering key: beats every real candidate; the first
            // (lowest-cluster) mismatch wins among nulls
            mismatch = i.toLong
          } else {
            var s = 0.0; var na = 0.0; var nb = 0.0; var j = 0
            while (j < x.length) {
              val xv = x(j); val cv = c(j)
              s += xv * cv; na += xv * xv; nb += cv * cv; j += 1
            }
            val sim = s / (math.sqrt(na) * math.sqrt(nb))
            val key = 1.0 - sim
            if (!found || betterKey(key, bestKey)) {
              found = true; bestKey = key; bestC = i.toLong; bestSim = sim
            }
          }
          i += 1
        }
        if (mismatch >= 0L) Some((mismatch, Option.empty[Double]))
        else Some((bestC, Some(bestSim)))
      }
    }
    val pts = Dedup.fanOut(
      vectors.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v")))
    pts.select(col("id"), best(col("v")).as("b"), col("v"))
      .groupBy(col("id"))
      .agg(
        min_by(struct(col("b._1").as("cluster"), col("b._2").as("sim"), col("v")),
          struct(lit(1.0) - col("b._2"), col("b._1"))).as("a"))
      .select(col("id"), col("a.cluster").as("cluster"),
        col("a.sim").as("centroid_sim"), col("a.v").as("v"))
  }

  def semDedupFixed(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      centers: Array[Array[Double]],
      epsilon: Double,
      keeper: String = KeepMinId,
      maxClusterSize: Int = 20000): DataFrame = {
    val (assigned, out) = semDedupFixedWithAssigned(vectors, idCol, vecCol,
      centers, epsilon, keeper, maxClusterSize)
    assigned.unpersist()
    out
  }

  /** [[semDedupFixed]] ALSO returning the persisted assignment frame
    * (id, cluster, centroid_sim, v) it computed internally — so callers
    * that need the assigned vectors of the same corpus
    * ([[SemDedupIndex.build]]'s keeper extraction) don't pay the
    * broadcast-assignment pass twice (r17 advice). Both frames come
    * back persisted; the caller owns BOTH releases.
    */
  private[ops] def semDedupFixedWithAssigned(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      centers: Array[Array[Double]],
      epsilon: Double,
      keeper: String = KeepMinId,
      maxClusterSize: Int = 20000): (DataFrame, DataFrame) = {
    require(epsilon > 0.0 && epsilon <= 1.0, s"epsilon must be in (0, 1], got $epsilon")
    require(keeper == KeepMinId || keeper == KeepFarFromCentroid,
      s"unknown keeper strategy '$keeper' (use $KeepMinId | $KeepFarFromCentroid)")
    // one broadcast pass: nearest center by cosine distance; the assigned
    // center's similarity rides along for the far-from-centroid keeper.
    // ONE job both materializes the cache and yields the per-cluster
    // counts for the skew guard (r20: was a count() + a second
    // groupBy-collect over the cache — guide §1.2, fewer passes)
    val assigned = assignFixed(vectors, idCol, vecCol, centers)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val clusterCounts = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // refuse quadratic blow-up on skewed clusters instead of running it
    val oversized = clusterCounts.filter(_._2 > maxClusterSize)
      .sortBy { case (c, n) => (-n, c) }.take(5)
    if (oversized.nonEmpty) {
      assigned.unpersist()
      throw new IllegalArgumentException(
        "semDedup: cluster(s) exceed maxClusterSize=" + maxClusterSize + ": " +
          oversized.map { case (c, n) => s"cluster $c has $n rows" }.mkString("; ") +
          ". Raise k (smaller clusters) or maxClusterSize.")
    }
    // within-cluster candidate pairs — hash equi-join on the cluster id
    val a = assigned.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"), col("v").as("vb"))
    // threshold at 6-decimal precision: near-dup verdicts then don't flip
    // on last-ulp differences across hardware / vectorization (and the
    // compare is replayable bit-for-bit by an independent engine)
    val pairs = a.join(b, Seq("cluster"))
      .where(col("id_b") > col("id_a"))
      .where(round(graft.functions.ArrayMath.cosine(col("va"), col("vb")), 6) >= epsilon)
      .select(col("id_a"), col("id_b"))
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val labeled = assigned.drop("v").join(labels, Seq("id"), "left")
    // representative per component; members outside any component keep
    val keepIds = labeled.where(col("comp").isNotNull)
      .groupBy(col("comp"))
      .agg((keeper match {
        case KeepMinId => min(col("id"))
        case KeepFarFromCentroid =>
          min_by(col("id"), struct(col("centroid_sim"), col("id")))
      }).as("keep_id"))
    // keepIds carries one row per duplicate GROUP — orders of magnitude
    // smaller than the corpus in any real run, but unbounded in principle,
    // so the broadcast decision is left to the optimizer/AQE instead of a
    // forced hint that could OOM the driver on a degenerate corpus
    val out = labeled
      .join(keepIds, Seq("comp"), "left")
      .select(col("id"), col("cluster"), col("centroid_sim"), col("comp"),
        (col("comp").isNull || col("id") === col("keep_id")).as("keep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try out.count()
    catch { case t: Throwable => out.unpersist(); assigned.unpersist(); throw t }
    (assigned, out)
  }

  /** Train spherical k-means on the vectors, then run [[semDedupFixed]]
    * at the fitted centers. This is the paper's end-to-end recipe.
    */
  def semDedup(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      epsilon: Double,
      seed: Long = 42L,
      maxIter: Int = 10,
      keeper: String = KeepMinId,
      maxClusterSize: Int = 20000): DataFrame = {
    val model = new graft.clustering.GeneralizedKMeans()
      .setK(k).setDivergence("spherical").setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol(vecCol)
      .fit(vectors)
    semDedupFixed(vectors, idCol, vecCol, model.clusterCenters, epsilon,
      keeper, maxClusterSize)
  }
}
