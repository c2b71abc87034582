package graft.clustering

import graft.functions.{CenterSums, NearestCenter}
import graft.kernels._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Configuration for one Lloyd's run. The single-loop-with-pluggable-
  * strategies design mirrors the reference architecture
  * (reference: ARCHITECTURE.md:3-50, df/LloydsIterator.scala:70-110) but all
  * per-iteration dataflow is a single DataFrame aggregation — no RDD hops,
  * no per-iteration collect beyond the k x d center rows.
  */
case class LloydsConfig(
    k: Int,
    kernel: BregmanKernel,
    maxIter: Int = 20,
    tol: Double = 1e-4,
    seed: Long = 42L,
    initMode: String = "k-means||", // or "random"
    initSteps: Int = 2,
    assignmentStrategy: String = "auto", // auto|broadcast|chunked|expression|crossjoin|elkan|hamerly
    emptyClusterStrategy: String = "reseedRandom", // or "drop"
    // Lineage-truncation cadence. The core loop itself has FLAT lineage
    // (every iteration re-derives one projection + one aggregation from the
    // cached input, so there is nothing to checkpoint); estimators that
    // maintain an evolving DataFrame across rounds (e.g. BisectingKMeans'
    // membership column) honor this via localCheckpoint().
    checkpointInterval: Int = 10,
    featuresCol: String = "features",
    weightCol: Option[String] = None,
    // Skip the fit-time domain-validation sample for internal sub-runs
    // (e.g. per-split 2-means inside BisectingKMeans) whose input was
    // already validated by the outer estimator.
    validate: Boolean = true,
    // Pre-known input stats: sub-runs over frames the caller already
    // materialized pass these to skip the count()/head() jobs.
    knownDim: Option[Int] = None,
    knownNumPoints: Option[Long] = None,
    // Caller already persisted the input (sub-runs): skip persist/unpersist.
    managePersistence: Boolean = true,
    // Warm start: explicit initial centers (k x dim) bypass initMode
    // entirely — resume training from a previous model's centers, or pin
    // a deterministic start for reproducible runs.
    initialCenters: Option[Array[Array[Double]]] = None,
    // Typed training-event stream (IterationStarted/Completed, empty-
    // cluster + convergence events); Silent by default.
    sink: SummarySink = SummarySink.Silent)

case class LloydsResult(
    centers: Array[Array[Double]],
    iterations: Int,
    converged: Boolean,
    distortionHistory: Seq[Double],
    movementHistory: Seq[Double],
    numPoints: Long,
    // Fraction of row-iteration steps the cross-iteration triangle bounds
    // resolved with ZERO distance computations (Elkan/Hamerly loops only;
    // None for plain Lloyd). Telemetry from accumulators — approximate
    // under cache-eviction recomputation.
    boundSkipRate: Option[Double] = None)

/** Assignment: append a `cluster` (argmin-divergence index, ties to the
  * lowest) and `dist` (min divergence) column for a set of centers.
  *
  * Two paths: Elkan/Hamerly bound pruning (squared Euclidean, `elkan` or
  * `hamerly`), and for everything else one native
  * [[graft.functions.NearestCenter]] projection over broadcast centers —
  * O(n·k·d), no shuffle (reference: df/strategies/impl/
  * BroadcastUDFAssignment.scala:31-93).
  */
object Assignment {

  /** Every accepted `assignmentStrategy` name. `broadcast`, `chunked`,
    * `expression` and `crossjoin` name former physical tiers and are
    * aliases of `auto` (persisted models carry them).
    */
  val Strategies: Seq[String] =
    Seq("auto", "broadcast", "chunked", "expression", "crossjoin", "elkan", "hamerly")

  /** The plan reads a private copy of `centers` (local-mode broadcast is
    * by reference — CLAUDE.md rule 14), so a caller may mutate its array
    * (an in-place center merge) without changing what a re-execution of
    * the returned frame computes.
    *
    * @param oneShot unused: every strategy plans the same projection.
    */
  def assign(
      df: DataFrame,
      featuresCol: String,
      kernel: BregmanKernel,
      centers: Array[Array[Double]],
      strategy: String = "auto",
      clusterCol: String = "cluster",
      distCol: String = "dist",
      @deprecated("unused", "0.1.0") oneShot: Boolean = true): DataFrame = {
    val cs = centers.map(_.clone)
    if ((strategy == "elkan" || strategy == "hamerly") &&
        kernel.isInstanceOf[SquaredEuclideanKernel])
      return ElkanAssignment.assign(df, featuresCol, cs, clusterCol, distCol)
    val tmp = s"__${clusterCol}_best"
    df.withColumn(tmp, NearestCenter.column(col(featuresCol), cs, kernel))
      .withColumn(clusterCol, col(s"$tmp.cluster"))
      .withColumn(distCol, col(s"$tmp.dist"))
      .drop(tmp)
  }
}

/** Center update + distortion in ONE aggregation job.
  *
  * For a Bregman kernel the new center is invGrad(weighted mean of grads);
  * the sums come from the native [[graft.functions.CenterSums]] aggregate.
  * (Replaces the reference's rdd.aggregateByKey + collectAsMap hop,
  * reference: df/strategies/UpdateStrategy.scala:46-135.)
  */
object Update {

  /** Returns (newCenters sparse map cluster->center, distortion, counts). */
  case class UpdateResult(
      centers: Map[Int, Array[Double]],
      distortion: Double,
      weights: Map[Int, Double])

  /** Gradient-mean update of an assigned frame (`cluster` + `dist`).
    *
    * @param k dense cluster ids `0 until k`: one ungrouped aggregate fills
    *   a k×(dim+2) buffer per partition. Leave it out (0) when the ids are
    *   arbitrary ints: the sums are then grouped by `cluster`, one slot per
    *   group. Clusters with no positive weight are absent from `centers`.
    */
  def gradMean(
      assigned: DataFrame,
      featuresCol: String,
      weightCol: Column,
      kernel: BregmanKernel,
      dim: Int,
      k: Int = 0): UpdateResult = {
    val rows = sumsFrame(assigned, featuresCol, weightCol, kernel, dim, k).collect()
    if (k <= 0) grouped(rows, kernel, dim) else dense(CenterSums.values(rows(0), 0), k, kernel, dim)
  }

  /** The one aggregation [[gradMean]] runs (PlanShapeSpec pins its plan). */
  private[graft] def sumsFrame(assigned: DataFrame, featuresCol: String, weightCol: Column,
      kernel: BregmanKernel, dim: Int, k: Int): DataFrame =
    if (k <= 0) assigned.groupBy(col("cluster")).agg(sumsCol(featuresCol, weightCol, kernel, dim))
    else assigned.agg(sumsCol(featuresCol, weightCol, kernel, dim, k, col("cluster")))

  /** The [[graft.functions.CenterSums]] column over an assigned frame's
    * features and `dist`: `k` slots indexed by `slot`, or by default the
    * one-slot form for use under a `groupBy`.
    */
  def sumsCol(featuresCol: String, weightCol: Column, kernel: BregmanKernel, dim: Int,
      k: Int = 1, slot: Column = lit(0)): Column =
    CenterSums.column(col(featuresCol), slot, weightCol, col("dist"), kernel, k, dim)

  /** Update from one packed k-slot buffer (slot = cluster id). */
  def dense(sums: Array[Double], k: Int, kernel: BregmanKernel, dim: Int): UpdateResult =
    fold(Iterator.range(0, k).map(c => (c, sums, c)), kernel, dim)

  /** Update from grouped rows: (cluster id, one-slot buffer, ...). */
  def grouped(rows: Array[Row], kernel: BregmanKernel, dim: Int): UpdateResult =
    fold(rows.iterator.map(r => (r.getInt(0), CenterSums.values(r, 1), 0)), kernel, dim)

  private def fold(slots: Iterator[(Int, Array[Double], Int)], kernel: BregmanKernel,
      dim: Int): UpdateResult = {
    var distortion = 0.0
    val centers = Map.newBuilder[Int, Array[Double]]
    val weights = Map.newBuilder[Int, Double]
    slots.foreach { case (cid, sums, s) =>
      val base = s * (dim + 2)
      val wsum = sums(base + dim)
      distortion += sums(base + dim + 1)
      if (wsum > 0) {
        val mean = new Array[Double](dim)
        var i = 0
        while (i < dim) { mean(i) = sums(base + i) / wsum; i += 1 }
        centers += cid -> kernel.invGrad(mean)
        weights += cid -> wsum
      }
    }
    UpdateResult(centers.result(), distortion, weights.result())
  }

  /** K-medians: EXACT per-dimension weighted median per cluster in two
    * jobs, both distributed (replaces the reference's one-job-per-
    * (cluster, dimension) driver loop, reference: df/strategies/
    * UpdateStrategy.scala:145-252 computeWeightedMedian).
    *
    * Weighted median definition (matches the reference): the smallest
    * value v in the cluster's dimension-i column whose cumulative weight
    * (values sorted ascending) reaches half the total weight.
    *
    * Physical shape: posexplode the features to (cluster, dim, value)
    * rows, pre-aggregate equal values, then a window cumulative-sum per
    * (cluster, dim) partition — a sort of n*d rows, but sorted WITHIN
    * hash partitions of (cluster, dim), so it scales out; no driver
    * collect beyond the final k*d medians.
    */
  def median(
      assigned: DataFrame,
      featuresCol: String,
      weightCol: Column,
      dim: Int): UpdateResult = {
    import org.apache.spark.sql.expressions.Window

    // distortion + weight totals per cluster (one small agg job)
    val totals = assigned.groupBy(col("cluster"))
      .agg(sum(weightCol.cast("double")).as("wsum"), sum(col("dist") * weightCol).as("dsum"))
      .collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    val exploded = assigned
      .select(col("cluster"), weightCol.cast("double").as("__w"),
        posexplode(col(featuresCol)).as(Seq("d", "v")))
      .groupBy(col("cluster"), col("d"), col("v"))
      .agg(sum(col("__w")).as("w"))
    val part = Window.partitionBy(col("cluster"), col("d"))
    val byValue = part.orderBy(col("v"))
    val medians = exploded
      .withColumn("cw", sum(col("w")).over(byValue.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum(col("w")).over(part))
      .where(col("cw") >= col("tw") / 2)
      .groupBy(col("cluster"), col("d"))
      .agg(min(col("v")).as("med"))
      .collect()

    val centers = scala.collection.mutable.Map[Int, Array[Double]]()
    medians.foreach { r =>
      val c = centers.getOrElseUpdate(r.getInt(0), new Array[Double](dim))
      c(r.getInt(1)) = r.getDouble(2)
    }
    var distortion = 0.0
    val weights = Map.newBuilder[Int, Double]
    totals.foreach { case (cid, (wsum, dsum)) =>
      distortion += dsum
      if (wsum > 0) weights += cid -> wsum
    }
    UpdateResult(centers.filter { case (cid, _) => totals.get(cid).exists(_._1 > 0) }.toMap,
      distortion, weights.result())
  }
}

/** The Lloyd loop. One assignment projection + one aggregation job per
  * iteration; input cached once. (reference: df/LloydsIterator.scala:110-240)
  */
object LloydsIterator {

  def run(df: DataFrame, cfg: LloydsConfig): LloydsResult = {
    val spark = df.sparkSession
    val data = if (cfg.managePersistence) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    val numPoints = cfg.knownNumPoints.getOrElse(data.count())
    if (numPoints <= 0) throw new GKMException(GKMError.EmptyInput("LloydsIterator"))
    val dim = cfg.knownDim.getOrElse {
      val first = data.select(col(cfg.featuresCol))
        .where(col(cfg.featuresCol).isNotNull).limit(1).collect()
      if (first.isEmpty)
        throw new GKMException(GKMError.EmptyInput(
          "features column (every row is null)"))
      first(0).getSeq[Double](0).length
    }
    // Fit-time validation on a sample through the typed validator chain
    // (reference: df/ClusteringOps.scala:170-182 + df/Validator.scala):
    // catches null/NaN/ragged/out-of-domain inputs before they produce
    // NaN centers, with remediation text in the raised GKMException.
    // Null rows must survive extraction as nulls (not NPE in getSeq) so
    // NotNullFinite can refuse them with the typed error.
    if (cfg.validate) {
      val sample = data.select(col(cfg.featuresCol)).limit(1000).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[Double](0).toArray)
      Validators.validateSample(sample, Validators.forKernel(cfg.kernel, dim), dim)
        .foreach(e => throw new GKMException(e))
    }
    val wCol: Column = cfg.weightCol.map(col).getOrElse(lit(1.0))

    var centers = CenterInit.initialize(data, cfg, dim, numPoints)
    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]
    val moveHist = Seq.newBuilder[Double]
    val isMedian = cfg.kernel.isInstanceOf[L1Kernel]

    while (iter < cfg.maxIter && !converged) {
      cfg.sink.emit(TrainingEvent.IterationStarted(iter))
      val assigned = Assignment.assign(data, cfg.featuresCol, cfg.kernel, centers, cfg.assignmentStrategy)
      val upd =
        if (isMedian) Update.median(assigned, cfg.featuresCol, wCol, dim)
        else Update.gradMean(assigned, cfg.featuresCol, wCol, cfg.kernel, dim, centers.length)

      // Empty-cluster handling: reseed missing ids from a random sample
      // (reference: df/strategies/EmptyClusterHandler.scala:41-93, with the
      // self-comparing guard at line 57 fixed — we compare against cfg.k).
      val missing = (0 until centers.length).filterNot(upd.centers.contains)
      if (missing.nonEmpty) cfg.sink.emit(TrainingEvent.EmptyClustersDetected(iter, missing))
      val newCenters: Array[Array[Double]] =
        if (missing.isEmpty) {
          Array.tabulate(centers.length)(i => upd.centers(i))
        } else if (cfg.emptyClusterStrategy == "drop") {
          centers.indices.flatMap(upd.centers.get).toArray
        } else {
          val replacements = CenterInit.samplePoints(data, cfg.featuresCol, missing.size, cfg.seed + iter, numPoints)
          val repl = missing.zip(replacements).toMap
          cfg.sink.emit(TrainingEvent.ReseedPerformed(iter, missing))
          Array.tabulate(centers.length)(i =>
            upd.centers.getOrElse(i, repl.getOrElse(i, centers(i))))
        }

      // Movement: max L2 shift over surviving centers (driver-side, k x d).
      val movement =
        if (newCenters.length != centers.length) Double.MaxValue
        else {
          var m = 0.0
          var i = 0
          while (i < centers.length) {
            var s = 0.0
            var j = 0
            val a = centers(i); val b = newCenters(i)
            while (j < dim) { val d = a(j) - b(j); s += d * d; j += 1 }
            m = math.max(m, math.sqrt(s))
            i += 1
          }
          m
        }
      distHist += upd.distortion
      moveHist += movement
      cfg.sink.emit(TrainingEvent.IterationCompleted(iter, upd.distortion, movement))
      centers = newCenters
      iter += 1
      if (movement < cfg.tol) {
        converged = true
        cfg.sink.emit(TrainingEvent.ConvergenceDetected(iter, movement))
      }
    }
    if (cfg.managePersistence) data.unpersist()
    LloydsResult(centers, iter, converged, distHist.result(), moveHist.result(), numPoints)
  }
}

/** Driver-local weighted Lloyd for sub-problems that fit in driver memory
  * (e.g. the lower levels of BisectingKMeans' split tree, where a cluster's
  * rows are a few MB): identical semantics to the distributed loop —
  * argmin-divergence assignment, gradient-mean (or exact weighted median
  * for L1) update, max-center-movement convergence, empty clusters
  * dropped — with zero Spark jobs. The hybrid distributed-top/local-leaves
  * split is the scale-correct shape: at 100 TB the first splits run
  * distributed, and each leaf sub-fit stops paying per-job scheduling
  * overhead the moment its cluster fits on the driver.
  */
object LocalLloyds {

  def run(
      points: Array[Array[Double]],
      weights: Array[Double],
      k: Int,
      kernel: BregmanKernel,
      maxIter: Int,
      tol: Double,
      seed: Long,
      initCenters: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    val n = points.length
    if (n == 0) return Array.empty
    val dim = points(0).length
    val rnd = new java.util.Random(seed)
    var centers = initCenters.map(_.map(_.clone)).getOrElse {
      // random-init: k distinct row picks (mirrors CenterInit "random" mode)
      val idx = scala.collection.mutable.LinkedHashSet[Int]()
      var guard = 0
      while (idx.size < math.min(k, n) && guard < 20 * k) { idx += rnd.nextInt(n); guard += 1 }
      idx.toArray.map(i => points(i).clone)
    }
    val isMedian = kernel.isInstanceOf[L1Kernel]
    val assign = new Array[Int](n)

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged && centers.length > 0) {
      var p = 0
      while (p < n) {
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < centers.length) {
          val d = kernel.divergence(points(p), centers(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val newCenters = Array.ofDim[Array[Double]](centers.length)
      var c = 0
      while (c < centers.length) {
        newCenters(c) =
          if (isMedian) localMedian(points, weights, assign, c, dim)
          else localGradMean(points, weights, assign, c, dim, kernel)
        c += 1
      }
      val survivors = newCenters.filter(_ != null)
      var movement =
        if (survivors.length != centers.length) Double.MaxValue
        else {
          var m = 0.0; var i = 0
          while (i < centers.length) {
            var s = 0.0; var j = 0
            while (j < dim) { val d = centers(i)(j) - survivors(i)(j); s += d * d; j += 1 }
            m = math.max(m, math.sqrt(s)); i += 1
          }
          m
        }
      centers = survivors
      iter += 1
      if (movement < tol) converged = true
    }
    centers
  }

  private def localGradMean(
      points: Array[Array[Double]], weights: Array[Double], assign: Array[Int],
      c: Int, dim: Int, kernel: BregmanKernel): Array[Double] = {
    val gsum = new Array[Double](dim)
    var wsum = 0.0
    var p = 0
    while (p < points.length) {
      if (assign(p) == c) {
        val g = kernel.grad(points(p))
        val w = weights(p)
        var j = 0
        while (j < dim) { gsum(j) += g(j) * w; j += 1 }
        wsum += w
      }
      p += 1
    }
    if (wsum <= 0) null
    else {
      var j = 0
      while (j < dim) { gsum(j) /= wsum; j += 1 }
      kernel.invGrad(gsum)
    }
  }

  private def localMedian(
      points: Array[Array[Double]], weights: Array[Double], assign: Array[Int],
      c: Int, dim: Int): Array[Double] = {
    val members = points.indices.filter(assign(_) == c)
    if (members.isEmpty) return null
    val med = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      val vw = members.map(p => (points(p)(j), weights(p))).sortBy(_._1)
      val half = vw.map(_._2).sum / 2
      var cw = 0.0
      var i = 0
      while (i < vw.length && cw < half) { cw += vw(i)._2; i += 1 }
      med(j) = vw(math.max(0, i - 1))._1
      j += 1
    }
    med
  }
}

/** Center initialization: uniform random or distributed k-means||.
  *
  * Unlike the reference — whose "k-means||" collects the ENTIRE dataset to
  * the driver (reference: df/CenterInitializer.scala:145-231, collect at
  * line 156) — this is the true distributed algorithm: initSteps rounds of
  * D^2-weighted oversampling on executors, then a weighted local k-means++
  * on the ~O(l * initSteps) candidate pool on the driver.
  */
object CenterInit {

  /** Typed validation for explicitly-provided (warm-start) centers — one
    * contract for every estimator's setInitialCenters, whether the fit
    * runs through the distributed Lloyd loop or a driver-local path.
    */
  def validateExplicit(cs: Array[Array[Double]], k: Int, dim: Int): Unit = {
    if (cs.length != k)
      throw new GKMException(GKMError.InvalidParam(
        "initialCenters", s"${cs.length} centers provided but k=$k"))
    cs.find(_.length != dim).foreach(c =>
      throw new GKMException(GKMError.InvalidParam(
        "initialCenters", s"center has dim ${c.length}, data has dim $dim")))
  }

  def initialize(df: DataFrame, cfg: LloydsConfig, dim: Int, numPoints: Long): Array[Array[Double]] =
    cfg.initialCenters match {
      case Some(cs) =>
        validateExplicit(cs, cfg.k, dim)
        cs.map(_.clone())
      case None => cfg.initMode.toLowerCase match {
        case "random" => samplePoints(df, cfg.featuresCol, cfg.k, cfg.seed, numPoints).toArray
        case _        => kMeansParallel(df, cfg, numPoints)
      }
    }

  /** ~uniform random sample of n feature rows, scale-safe: Bernoulli sample
    * with 10x oversampling, then limit(n) over a RANDOMLY ORDERED subset —
    * a bare limit would take a prefix of the sampled rows in input order,
    * biasing picks toward early partitions. The sort touches only the
    * ~10n sampled rows, never the data.
    */
  def samplePoints(df: DataFrame, featuresCol: String, n: Int, seed: Long, numPoints: Long): Seq[Array[Double]] = {
    val fraction = math.min(1.0, (10.0 * n) / math.max(1L, numPoints))
    var rows = df.select(col(featuresCol)).sample(withReplacement = false, fraction, seed)
      .orderBy(rand(seed + 7))
      .limit(n).collect()
    if (rows.length < n) rows = df.select(col(featuresCol)).limit(n).collect()
    rows.map(_.getSeq[Double](0).toArray).toSeq
  }

  def kMeansParallel(df: DataFrame, cfg: LloydsConfig, numPoints: Long): Array[Array[Double]] = {
    val kernel = cfg.kernel
    val f = col(cfg.featuresCol)
    val l = 2.0 * cfg.k // oversampling per round

    var centers = samplePoints(df, cfg.featuresCol, 1, cfg.seed, numPoints).toBuffer
    var step = 0
    while (step < math.max(1, cfg.initSteps)) {
      val cost = NearestCenter.column(col("__f"), centers.toArray, kernel).getField("dist")
      val withCost = df.select(f.as("__f")).withColumn("__c", cost)
      val totalCost = withCost.agg(sum("__c")).head().getDouble(0)
      if (totalCost <= 0) {
        step = cfg.initSteps // degenerate: all points identical to centers
      } else {
        val seeded = withCost
          .withColumn("__r", rand(cfg.seed + 17 * step))
          .where(col("__r") < col("__c") * l / totalCost)
          .select("__f")
          .collect()
        centers ++= seeded.map(_.getSeq[Double](0).toArray)
        step += 1
      }
    }
    val cand = centers.toArray.distinct
    if (cand.length <= cfg.k) {
      // pad with random points if underprovisioned
      val pad = samplePoints(df, cfg.featuresCol, cfg.k - cand.length + 1, cfg.seed + 99, numPoints)
      (cand ++ pad).distinct.take(cfg.k)
    } else {
      // weight candidates by how many points they attract, then local
      // weighted k-means++ on the driver (candidate pool is O(l*initSteps)).
      val assigned = Assignment.assign(df.select(f.as(cfg.featuresCol)), cfg.featuresCol, kernel, cand)
      val counts = assigned.groupBy("cluster").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val weights = cand.indices.map(i => counts.getOrElse(i, 0L).toDouble + 1.0).toArray
      localKMeansPlusPlusBest(cand, weights, cfg.k, kernel, cfg.seed)
    }
  }

  /** Multi-restart pool seeding: run weighted k-means++ `restarts` times
    * and keep the seeding with the lowest pool quantization cost. A single
    * D^2 pass puts two seeds in one cluster with a few-percent probability
    * even on well-separated data; restarts drive that to ~zero for free
    * (driver-side, pool-sized work).
    */
  def localKMeansPlusPlusBest(
      points: Array[Array[Double]],
      weights: Array[Double],
      k: Int,
      kernel: BregmanKernel,
      seed: Long,
      restarts: Int = 5): Array[Array[Double]] = {
    var best: Array[Array[Double]] = null
    var bestCost = Double.MaxValue
    var r = 0
    while (r < math.max(1, restarts)) {
      val cand = localKMeansPlusPlus(points, weights, k, kernel, seed + 1000L * r)
      var cost = 0.0
      var i = 0
      while (i < points.length) {
        var bd = Double.MaxValue
        var c = 0
        while (c < cand.length) {
          val d = kernel.divergence(points(i), cand(c))
          if (d < bd) bd = d
          c += 1
        }
        cost += bd * weights(i)
        i += 1
      }
      if (cost < bestCost) { bestCost = cost; best = cand }
      r += 1
    }
    best
  }

  /** Weighted k-means++ seeding on a driver-side candidate pool. */
  def localKMeansPlusPlus(
      points: Array[Array[Double]],
      weights: Array[Double],
      k: Int,
      kernel: BregmanKernel,
      seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    val chosen = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val first = pickWeighted(weights, rnd)
    chosen += points(first)
    val minDist = points.map(p => kernel.divergence(p, chosen(0)))
    while (chosen.length < k) {
      val probs = minDist.zip(weights).map { case (d, w) => d * w }
      val total = probs.sum
      val idx = if (total <= 0) rnd.nextInt(points.length) else pickWeighted(probs, rnd)
      chosen += points(idx)
      var i = 0
      while (i < points.length) {
        val d = kernel.divergence(points(i), chosen.last)
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
    }
    chosen.toArray
  }

  private def pickWeighted(w: Array[Double], rnd: java.util.Random): Int = {
    val total = w.sum
    var r = rnd.nextDouble() * total
    var i = 0
    while (i < w.length - 1) {
      r -= w(i)
      if (r <= 0) return i
      i += 1
    }
    w.length - 1
  }
}
