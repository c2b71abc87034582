package graft.clustering

import graft.kernels.SquaredEuclideanKernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Triangle-inequality-accelerated SE k-means (Elkan 2003 / Hamerly 2010).
  *
  * Two layers, both SE-only (the triangle inequality needs a metric):
  *
  *  - [[ElkanAssignment.assign]] — one-shot assignment with Lemma-1
  *    pruning: precompute the k x k center distance matrix on the driver
  *    (k^2 d work, broadcast k^2 doubles); when scanning centers for a
  *    point, skip center c when d(best, c) >= 2 * d(x, best). A
  *    LongAccumulator reports the pruning rate.
  *    (reference: impl/AcceleratedSEAssignment.scala:64-238)
  *
  *  - [[ElkanLloydsIterator.run]] — cross-iteration bounds as DataFrame
  *    columns (reference: df/ElkanLloydsIterator.scala:92-513): each row
  *    carries its cluster, an upper bound on the distance to its center
  *    and ONE lower bound on the distance to any other center
  *    (Hamerly-style single bound — k lower bounds would make the row
  *    state k-wide). After each center update with movements delta_c:
  *    ub += delta_cluster, lb -= max(delta); rows with ub <= lb keep
  *    their assignment with NO distance computation; the rest rescan with
  *    Lemma-1 pruning. Same fixed point as exact Lloyd (pruning is
  *    lossless), checked by tests.
  *
  * Scale design: the evolving (features, cluster, ub, lb) frame is the
  * only state; one aggregation + one bounded-recompute projection per
  * iteration, persisted with the same cadence as the plain loop. On late
  * iterations (small movements) almost every row short-circuits, which is
  * exactly the 100x-scale win: assignment cost drops from O(n k d) to
  * O(changed k d).
  */
object ElkanAssignment {

  /** k x k EUCLIDEAN (not halved-squared) center distances. */
  private[clustering] def centerDistances(centers: Array[Array[Double]]): Array[Array[Double]] = {
    val k = centers.length
    val m = Array.ofDim[Double](k, k)
    var i = 0
    while (i < k) {
      var j = i + 1
      while (j < k) {
        var s = 0.0
        var t = 0
        while (t < centers(i).length) { val d = centers(i)(t) - centers(j)(t); s += d * d; t += 1 }
        val d = math.sqrt(s)
        m(i)(j) = d; m(j)(i) = d
        j += 1
      }
      i += 1
    }
    m
  }

  /** Exact argmin with Lemma-1 pruning. Returns (cluster, halfSqDist,
    * lowerBoundOnSecondBestEuclidean, distancesComputed). For centers the
    * pruning skipped, the returned lower bound uses the triangle
    * inequality d(x,c) >= d(best,c) - d(x,best) — never the (unknown)
    * exact distance, so a later `ub <= lb` skip is always sound.
    */
  private[clustering] def findClosest(
      x: Array[Double],
      centers: Array[Array[Double]],
      cd: Array[Array[Double]]): (Int, Double, Double, Int) = {
    val k = centers.length
    val exact = new Array[Double](k) // euclidean; NaN = skipped
    java.util.Arrays.fill(exact, Double.NaN)
    var best = 0
    var bd = dist2(x, centers(0)) // squared euclidean
    var bdE = math.sqrt(bd)
    exact(0) = bdE
    var computed = 1
    var c = 1
    while (c < k) {
      // Lemma 1: d(best, c) >= 2 d(x, best)  =>  c cannot win
      if (cd(best)(c) < 2.0 * bdE) {
        val d = dist2(x, centers(c))
        val dE = math.sqrt(d)
        exact(c) = dE
        computed += 1
        if (d < bd) { bd = d; bdE = dE; best = c }
      }
      c += 1
    }
    var second = Double.MaxValue
    c = 0
    while (c < k) {
      if (c != best) {
        val lb = if (exact(c).isNaN) cd(best)(c) - bdE else exact(c)
        if (lb < second) second = lb
      }
      c += 1
    }
    (best, bd * 0.5, second, computed)
  }

  @inline private[clustering] def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** One-shot pruned assignment: appends `clusterCol` and `distCol`
    * (half-squared-Euclidean, matching the SE kernel). `computedAcc`, when
    * given, accumulates the number of full distance computations (vs n*k
    * for the naive scan).
    */
  def assign(
      df: DataFrame,
      featuresCol: String,
      centers: Array[Array[Double]],
      clusterCol: String = "cluster",
      distCol: String = "dist",
      computedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val bcC = sc.broadcast(centers)
    val bcD = sc.broadcast(centerDistances(centers))
    val f = udf { (xs: Seq[Double]) =>
      val (c, d, _, n) = findClosest(xs.toArray, bcC.value, bcD.value)
      computedAcc.foreach(_.add(n.toLong))
      (c, d)
    }
    val tmp = s"__${clusterCol}_eb"
    df.withColumn(tmp, f(col(featuresCol)))
      .withColumn(clusterCol, col(s"$tmp._1"))
      .withColumn(distCol, col(s"$tmp._2"))
      .drop(tmp)
  }
}

object ElkanLloydsIterator {

  /** Per-center-bounds cap: above this k the row state (k doubles) stops
    * paying for itself and the loop falls back to the single Hamerly
    * bound. The reference keeps per-center bounds unconditionally
    * (df/ElkanLloydsIterator.scala:92-513); we bound the memory.
    */
  val PerCenterBoundsMaxK = 1024

  /** SE-only Lloyd loop with cross-iteration triangle-inequality bounds.
    * Produces the same centers as the exact loop from the same
    * initialization (pruning is lossless).
    *
    * Two bound modes sharing one loop, selected by
    * `cfg.assignmentStrategy`:
    *
    *  - `"elkan"` — FULL per-center lower bounds (Elkan 2003; reference:
    *    df/ElkanLloydsIterator.scala:92-513): each row carries lb(j) for
    *    every center j, decayed by that center's own movement. A point
    *    whose upper bound stays under min-other lb does zero distance
    *    work; otherwise only centers whose individual bound is violated
    *    are recomputed. Prunes much harder at large k, at k doubles of
    *    row state. Falls back to hamerly above [[PerCenterBoundsMaxK]].
    *
    *  - `"hamerly"` — ONE lower bound to any other center (Hamerly 2010),
    *    decayed by the max movement. Constant row state; rescans whole
    *    rows when violated (with Lemma-1 pruning inside the rescan).
    *
    * `distortionHistory` entries are the sum of half-squared upper bounds
    * (exact on iterations where every row was rescanned, a tight upper
    * bound otherwise).
    *
    * State layout is identical in both modes — (features, __w, cluster,
    * ub, lbs array) with lbs length k (elkan) or 1 (hamerly) — so the
    * update/empty-cluster/convergence plumbing is shared and each
    * iteration is still exactly one aggregation + one projection job.
    */
  def run(df: DataFrame, cfg: LloydsConfig): LloydsResult = {
    require(cfg.kernel.isInstanceOf[SquaredEuclideanKernel],
      "Elkan acceleration requires the squaredEuclidean divergence")
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val data = if (cfg.managePersistence) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    val numPoints = cfg.knownNumPoints.getOrElse(data.count())
    require(numPoints > 0, "empty input")
    val dim = cfg.knownDim.getOrElse(
      data.select(col(cfg.featuresCol)).head().getSeq[Double](0).length)
    val wCol: Column = cfg.weightCol.map(col).getOrElse(lit(1.0))

    var centers = CenterInit.initialize(data, cfg, dim, numPoints)
    val perCenter =
      cfg.assignmentStrategy != "hamerly" && centers.length <= PerCenterBoundsMaxK

    // hot distance kernel shared with the one-shot assignment path
    @inline def dist2(a: Array[Double], b: Array[Double]): Double =
      ElkanAssignment.dist2(a, b)

    // initial full scan: (f, w, cluster, ub euclidean, lbs)
    // hamerly: lbs = [lower bound on second-closest] (lemma-1 pruned scan)
    // elkan:   lbs = exact euclidean distance to EVERY center
    def fullScan(frame: DataFrame, cs: Array[Array[Double]]): DataFrame = {
      val bcC = sc.broadcast(cs)
      val bcD = sc.broadcast(ElkanAssignment.centerDistances(cs))
      val f =
        if (perCenter) udf { (xs: Seq[Double]) =>
          val x = xs.toArray
          val k = bcC.value.length
          val lbs = new Array[Double](k)
          var best = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < k) {
            val d = math.sqrt(dist2(x, bcC.value(c)))
            lbs(c) = d
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          (best, bd, lbs.toSeq)
        }
        else udf { (xs: Seq[Double]) =>
          val x = xs.toArray
          val (c, _, second, _) = ElkanAssignment.findClosest(x, bcC.value, bcD.value)
          val ub = math.sqrt(dist2(x, bcC.value(c)))
          (c, ub, Seq(second))
        }
      frame.select(col(cfg.featuresCol), wCol.cast("double").as("__w"))
        .withColumn("__e", f(col(cfg.featuresCol)))
        .select(col(cfg.featuresCol), col("__w"),
          col("__e._1").as("cluster"), col("__e._2").as("ub"), col("__e._3").as("lbs"))
    }

    var state = fullScan(data, centers).persist(StorageLevel.MEMORY_AND_DISK)
    state.count()

    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]
    val moveHist = Seq.newBuilder[Double]
    // skip-rate telemetry: how many bound-maintenance row steps resolved
    // with zero distance work vs how many ran at all (the initial full
    // scan is excluded — every loop pays it)
    val skipAcc = sc.longAccumulator("elkanBoundSkips")
    val rowAcc = sc.longAccumulator("elkanBoundRows")

    while (iter < cfg.maxIter && !converged) {
      // center update from current assignments; distortion ~ sum w/2 ub^2
      val assigned = state
        .withColumn("dist", col("ub") * col("ub") * lit(0.5))
      val upd = Update.gradMean(assigned, cfg.featuresCol, col("__w"), cfg.kernel, dim, centers.length)

      val missing = centers.indices.filterNot(upd.centers.contains)
      val newCenters: Array[Array[Double]] =
        if (missing.isEmpty) Array.tabulate(centers.length)(i => upd.centers(i))
        else if (cfg.emptyClusterStrategy == "drop")
          centers.indices.flatMap(upd.centers.get).toArray
        else {
          val repl = missing.zip(
            CenterInit.samplePoints(data, cfg.featuresCol, missing.size, cfg.seed + iter, numPoints)).toMap
          Array.tabulate(centers.length)(i =>
            upd.centers.getOrElse(i, repl.getOrElse(i, centers(i))))
        }
      distHist += upd.distortion

      if (newCenters.length != centers.length) {
        // k changed (drop path): bounds invalid -> full rescan
        centers = newCenters
        val ns = fullScan(data, centers).persist(StorageLevel.MEMORY_AND_DISK)
        ns.count()
        state.unpersist()
        state = ns
        moveHist += Double.MaxValue
        iter += 1
      } else {
        // per-center movement (euclidean)
        val moves = centers.zip(newCenters).map { case (a, b) =>
          math.sqrt(dist2(a, b))
        }
        val maxMove = moves.max
        moveHist += maxMove
        centers = newCenters

        if (maxMove < cfg.tol) {
          converged = true
          iter += 1
        } else {
          // bounds maintenance + conditional rescan in ONE projection
          val bcC = sc.broadcast(centers)
          val bcD = sc.broadcast(ElkanAssignment.centerDistances(centers))
          val bcM = sc.broadcast(moves)
          val maxM = maxMove
          val stepUdf =
            if (perCenter) udf { (xs: Seq[Double], cl: Int, ub: Double, lbSeq: Seq[Double]) =>
              // Elkan step: decay each bound by ITS center's movement
              val lbs = lbSeq.toArray
              val cs = bcC.value
              val cd = bcD.value
              val mv = bcM.value
              val k = cs.length
              var ub2 = ub + mv(cl)
              val lbs2 = new Array[Double](k)
              var minOther = Double.MaxValue
              var j = 0
              while (j < k) {
                val v = lbs(j) - mv(j)
                lbs2(j) = if (v > 0.0) v else 0.0
                if (j != cl && lbs2(j) < minOther) minOther = lbs2(j)
                j += 1
              }
              rowAcc.add(1L)
              if (ub2 <= minOther) { skipAcc.add(1L); (cl, ub2, lbs2.toSeq) } // zero distance work
              else {
                val x = xs.toArray
                // tighten ub to the exact distance first (Elkan step 3a)
                var best = cl
                ub2 = math.sqrt(dist2(x, cs(cl)))
                lbs2(cl) = ub2
                j = 0
                while (j < k) {
                  // recompute ONLY centers whose own bound is violated and
                  // that lemma 1 cannot rule out vs the current best
                  if (j != best && lbs2(j) < ub2 && cd(best)(j) < 2.0 * ub2) {
                    val dj = math.sqrt(dist2(x, cs(j)))
                    lbs2(j) = dj
                    if (dj < ub2) { ub2 = dj; best = j }
                  }
                  j += 1
                }
                (best, ub2, lbs2.toSeq)
              }
            }
            else udf { (xs: Seq[Double], cl: Int, ub: Double, lbs: Seq[Double]) =>
              // Hamerly step: single bound, decayed by the max movement
              rowAcc.add(1L)
              val ub2 = ub + bcM.value(cl)
              val lb2 = lbs(0) - maxM
              if (ub2 <= lb2) { skipAcc.add(1L); (cl, ub2, Seq(lb2)) } // bound holds: zero distance work
              else {
                val x = xs.toArray
                val (c, _, second, _) = ElkanAssignment.findClosest(x, bcC.value, bcD.value)
                val ubx = math.sqrt(dist2(x, bcC.value(c)))
                (c, ubx, Seq(second))
              }
            }
          val checkpoint = (iter + 1) % cfg.checkpointInterval == 0
          val ns0 = state
            .withColumn("__e",
              stepUdf(col(cfg.featuresCol), col("cluster"), col("ub"), col("lbs")))
            .select(col(cfg.featuresCol), col("__w"),
              col("__e._1").as("cluster"), col("__e._2").as("ub"), col("__e._3").as("lbs"))
          val ns =
            if (checkpoint) ns0.localCheckpoint()
            else ns0.persist(StorageLevel.MEMORY_AND_DISK)
          ns.count()
          state.unpersist()
          state = ns
          iter += 1
        }
      }
    }
    state.unpersist()
    if (cfg.managePersistence) data.unpersist()
    val skipRate =
      if (rowAcc.value > 0L) Some(skipAcc.value.toDouble / rowAcc.value) else None
    LloydsResult(centers, iter, converged, distHist.result(), moveHist.result(), numPoints,
      skipRate)
  }
}
