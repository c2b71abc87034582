package graft.clustering

import graft.functions.CenterSums
import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Mini-batch k-means (Sculley-style incremental updates)
  * (reference: ml/MiniBatchKMeans.scala:98,152-338).
  *
  * Batches stay ON EXECUTORS — the reference collects every batch to the
  * driver (ml/MiniBatchKMeans.scala:243-247); here a batch is a Bernoulli
  * sample that is assigned via broadcast centers and reduced to one
  * k-slot (sum, count, distortion) buffer by the native CenterSums
  * aggregate. The driver-side
  * merge c' = (n_c*c + sum_c)/(n_c + m_c) is EXACTLY the reference's
  * per-point eta = 1/count running mean, applied batch-at-a-time.
  */
class MiniBatchKMeans(override val uid: String)
    extends Estimator[GeneralizedKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("minibatch-kmeans"))

  final val batchSize = new IntParam(this, "batchSize",
    "expected rows per mini-batch", ParamValidators.gt(0))
  def getBatchSize: Int = $(batchSize)
  def setBatchSize(v: Int): this.type = set(batchSize, v)

  final val maxNoImprovement = new IntParam(this, "maxNoImprovement",
    "stop after this many batches without distortion improvement (0 = never)",
    ParamValidators.gtEq(0))
  def getMaxNoImprovement: Int = $(maxNoImprovement)
  def setMaxNoImprovement(v: Int): this.type = set(maxNoImprovement, v)

  /** Sculley's dying-center control (reference:
    * ml/MiniBatchKMeans.scala:98,143-144,291-300, default 0.01 there
    * too): after each batch update, any center whose CUMULATIVE weight
    * is below `reassignmentRatio x max(counts)` is reassigned. The
    * reference moves dying centers to `rand.shuffle`d batch points;
    * here they move to the batch's HIGHEST-assignment-cost points
    * (cost DESC — deterministic given the seeded batch, and
    * cost-seeking: the point farthest from every center is where the
    * distortion lives, the k-means++ intuition). A reassigned center's
    * count resets to 1 so the next batches can move it freely. 0
    * disables the rule entirely.
    */
  final val reassignmentRatio = new DoubleParam(this, "reassignmentRatio",
    "centers with cumulative weight below this fraction of the heaviest " +
      "center's weight are reassigned to the batch's highest-cost points " +
      "(0 disables)",
    ParamValidators.inRange(0.0, 1.0, lowerInclusive = true,
      upperInclusive = false))
  def getReassignmentRatio: Double = $(reassignmentRatio)
  def setReassignmentRatio(v: Double): this.type = set(reassignmentRatio, v)

  setDefault(batchSize -> 1024, maxNoImprovement -> 10,
    reassignmentRatio -> 0.01)

  def setK(v: Int): this.type = set(k, v)
  def setDivergence(v: String): this.type = set(divergence, v)
  def setSmoothing(v: Double): this.type = set(smoothing, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setInitMode(v: String): this.type = set(initMode, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  /** Warm start: train from these centers instead of initMode (same
    * contract as GeneralizedKMeans.setInitialCenters; not persisted).
    */
  @transient private var initialCentersOpt: Option[Array[Array[Double]]] = None
  def setInitialCenters(cs: Array[Array[Double]]): this.type = {
    initialCentersOpt = Option(cs); this
  }
  def setWeightCol(v: String): this.type = set(weightCol, v)

  override def fit(dataset: Dataset[_]): GeneralizedKMeansModel = {
    val t0 = System.currentTimeMillis()
    val df0 = dataset.toDF()
    transformSchema(df0.schema)
    val (dfArr, arrCol) = FeatureCols.asArray(df0, $(featuresCol))
    val kern = kernel
    val wOpt = get(weightCol).filter(_.nonEmpty)
    val wCol = wOpt.map(col).getOrElse(lit(1.0))
    val data = dfArr.select((Seq(arrCol) ++ wOpt).distinct.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val numPoints = data.count()
    val dim = data.select(col(arrCol)).head().getSeq[Double](0).length
    require(numPoints > 0, "empty input")

    // init: local k-means++ over a candidate pool folded into the FIRST
    // mini-batch — one collect seeds the centers AND applies the batch-0
    // update driver-side (r3 verdict #3: a separate pool job plus its
    // orderBy(rand) stage made a scheduler-bound fit 2.1x slower). A bare
    // k-row sample would miss a 1/k-mass cluster with probability
    // ~(1-1/k)^k ~ 37%, so the pooled seeding stays.
    val poolN = math.max(10 * $(k), 20)
    val fraction = math.min(1.0, $(batchSize).toDouble / numPoints)
    val batch0 = data
      .sample(withReplacement = false,
        math.min(1.0, math.max(fraction, 2.0 * poolN / math.max(1L, numPoints))), $(seed))
      .select(col(arrCol), wCol.cast("double").as("__w"))
      .collect()
    // driver-side shuffle de-biases the partition-prefix order of a
    // Bernoulli sample before the pool is cut from it
    val rnd = new scala.util.Random($(seed))
    val shuffled = rnd.shuffle(batch0.toVector)
    val b0pts = shuffled.map(_.getSeq[Double](0).toArray).toArray
    val b0w = shuffled.map(_.getDouble(1)).toArray
    val pool = b0pts.take(poolN)
    val centers = initialCentersOpt match {
      case Some(cs) =>
        CenterInit.validateExplicit(cs, $(k), dim)
        cs.map(_.clone())
      case None =>
        if (pool.length <= $(k)) pool.map(_.clone())
        else CenterInit.localKMeansPlusPlusBest(pool, b0w.take(poolN), $(k), kern, $(seed))
    }
    val counts = new Array[Double]($(k))

    val distHist = Seq.newBuilder[Double]
    var nReassigned = 0L
    var best = Double.MaxValue
    var noImprove = 0
    var iter = 0
    var converged = false

    // batch 0: already on the driver — apply the Sculley update locally
    {
      val take = math.min(b0pts.length, math.max($(batchSize), 1))
      var batchW = 0.0
      var batchCost = 0.0
      val sums = Array.fill($(k))(new Array[Double](dim))
      val ws = new Array[Double]($(k))
      val b0dists = new Array[Double](take)
      var p = 0
      while (p < take) {
        val x = b0pts(p)
        var bi = 0; var bd = Double.MaxValue; var c = 0
        while (c < centers.length) {
          val d = kern.divergence(x, centers(c))
          if (d < bd) { bd = d; bi = c }
          c += 1
        }
        b0dists(p) = bd
        val w = b0w(p)
        var i = 0
        while (i < dim) { sums(bi)(i) += x(i) * w; i += 1 }
        ws(bi) += w
        batchW += w
        batchCost += bd * w
        p += 1
      }
      var c = 0
      while (c < $(k)) {
        if (ws(c) > 0) {
          val newCount = counts(c) + ws(c)
          var i = 0
          while (i < dim) { centers(c)(i) = (counts(c) * centers(c)(i) + sums(c)(i)) / newCount; i += 1 }
          counts(c) = newCount
        }
        c += 1
      }
      if ($(reassignmentRatio) > 0)
        nReassigned += MiniBatchKMeans.reassignDyingLocal(b0pts.take(take),
          b0dists, centers, counts, $(reassignmentRatio))
      if (batchW > 0) { distHist += batchCost / batchW; best = batchCost / batchW }
      iter = 1
    }

    while (iter < $(maxIter) && !converged) {
      val batch = data.sample(withReplacement = false, fraction, $(seed) + iter)
      // the assignment plan reads its OWN copy of the centers (Assignment
      // .assign copies before broadcasting — local-mode broadcast is BY
      // REFERENCE), so the in-place merge below cannot leak into the
      // reassignment rule's lazy re-execution of this plan (caught live by
      // the q_minibatch_reassign oracle — the dying-center candidate must
      // be ranked by distance to the PRE-update centers on every deployment)
      val assigned = Assignment.assign(batch, arrCol, kern, centers, $(assignmentStrategy))
      val (batchW, batchCost) =
        MiniBatchKMeans.mergeBatch(MiniBatchKMeans.batchSums(assigned, arrCol, wCol, centers),
          centers, counts)
      // dying-center rule AFTER the merge (the counts it tests include
      // this batch); candidate costs are vs the PRE-update centers (the
      // assigned plan owns a private copy) — same vantage as the
      // batch-0 local path. The batch carries no id column, so exact
      // dist ties (duplicate vectors are common pre-dedup) break on a
      // deterministic feature hash instead of partition order — fit is
      // replayable run-to-run given the seed
      if ($(reassignmentRatio) > 0)
        nReassigned += MiniBatchKMeans.reassignDying(assigned, arrCol,
          centers, counts, $(reassignmentRatio),
          Seq(xxhash64(col(arrCol)).asc))
      if (batchW > 0) {
        val avg = batchCost / batchW
        distHist += avg
        if (avg < best - $(tol)) { best = avg; noImprove = 0 }
        else noImprove += 1
        if ($(maxNoImprovement) > 0 && noImprove >= $(maxNoImprovement)) converged = true
      }
      iter += 1
    }
    data.unpersist()

    val model = new GeneralizedKMeansModel(uid, centers, $(divergence), $(smoothing))
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "MiniBatchKMeans", $(k), centers.length, dim, numPoints, iter, converged,
      distHist.result(), Nil, kern.name, System.currentTimeMillis() - t0,
      reassignments =
        if ($(reassignmentRatio) > 0) Some(nReassigned) else None))
    model
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)
  override def copy(extra: ParamMap): MiniBatchKMeans = defaultCopy(extra)
}

object MiniBatchKMeans
    extends org.apache.spark.ml.util.DefaultParamsReadable[MiniBatchKMeans] {

  import org.apache.spark.sql.{Column, DataFrame}

  /** One assigned batch's per-cluster (Σ x·w, Σ w, Σ dist·w) as one
    * packed k-slot [[CenterSums]] buffer: plain feature
    * sums (identity kernel), whatever the divergence.
    */
  private[clustering] def batchSums(assigned: DataFrame, arrCol: String, w: Column,
      centers: Array[Array[Double]]): Array[Double] = {
    val dim = if (centers.isEmpty) 0 else centers.head.length
    CenterSums.values(assigned.agg(Update.sumsCol(arrCol, w,
      CenterSums.Identity, dim, centers.length, col("cluster"))).head(), 0)
  }

  /** The Sculley closed-form merge of one batch's packed per-cluster
    * (sum, weight, cost) buffer ([[batchSums]]) into (centers, counts),
    * IN PLACE — c' = (n_c·c + sum_c)/(n_c + m_c), exactly the per-point
    * eta = 1/count running mean applied batch-at-a-time. Returns
    * (batchWeight, batchCost). Shared by [[MiniBatchKMeans.fit]]'s loop
    * and [[step]] so the gate-verified body IS the training body.
    */
  private[clustering] def mergeBatch(sums: Array[Double],
      centers: Array[Array[Double]], counts: Array[Double]): (Double, Double) = {
    val dim = if (centers.isEmpty) 0 else centers.head.length
    var batchW = 0.0
    var batchCost = 0.0
    var c = 0
    while (c < centers.length) {
      val base = c * (dim + 2)
      val w = sums(base + dim)
      batchCost += sums(base + dim + 1)
      batchW += w
      if (w > 0) {
        val newCount = counts(c) + w
        var i = 0
        while (i < dim) {
          centers(c)(i) = (counts(c) * centers(c)(i) + sums(base + i)) / newCount
          i += 1
        }
        counts(c) = newCount
      }
      c += 1
    }
    (batchW, batchCost)
  }

  /** The `reassignmentRatio` dying-center rule over a DISTRIBUTED
    * assigned batch (columns: features + cluster + dist): centers with
    * `counts(c) < ratio · max(counts)` move to the batch's
    * highest-assignment-cost points (ROUND-6 dist DESC, then `tieCols` —
    * pass an id column for exact replayability; fit passes a
    * feature-hash tiebreak so runs replay even without ids), counts
    * reset to 1. The cost key is rounded to 6 decimals BEFORE the DESC
    * order (the rule-1/13b float-argmax ban: two engines' sqdist sums
    * can differ a ulp near a tie and flip WHICH point a raw-float order
    * picks; at 6dp the tiebreak owns that zone — the q_semdedup round-6
    * msim discipline, and the q_minibatch_reassign oracle orders by
    * round(d2, 6) the same way). One extra |dying|-row top-k job over
    * the batch, paid ONLY when a center is actually dying. Mutates in
    * place; returns the number reassigned (≤ |dying| if the batch is
    * smaller). Ascending cluster ids claim candidates first.
    */
  private[clustering] def reassignDying(assigned: DataFrame, arrCol: String,
      centers: Array[Array[Double]], counts: Array[Double], ratio: Double,
      tieCols: Seq[Column]): Int = {
    val maxc = counts.max
    val dying = centers.indices.filter(c => counts(c) < ratio * maxc)
    if (dying.isEmpty) return 0
    val far = assigned
      .orderBy(round(col("dist"), 6).desc +: tieCols: _*)
      .limit(dying.length)
      .select(col(arrCol)).collect()
      .map(_.getSeq[Double](0).toArray)
    dying.zip(far).foreach { case (c, x) =>
      centers(c) = x.clone(); counts(c) = 1.0
    }
    math.min(dying.length, far.length)
  }

  /** [[reassignDying]] over a driver-local batch (the batch-0 seeding
    * path, whose points are already collected): same rule, same
    * cost-DESC candidate order (stable sort — ties keep the seeded
    * shuffle's order).
    */
  private[clustering] def reassignDyingLocal(pts: Array[Array[Double]],
      dists: Array[Double], centers: Array[Array[Double]],
      counts: Array[Double], ratio: Double): Int = {
    val maxc = counts.max
    val dying = centers.indices.filter(c => counts(c) < ratio * maxc)
    if (dying.isEmpty || pts.isEmpty) return 0
    val order = pts.indices.sortBy(i => -dists(i))
    dying.zip(order).foreach { case (c, pi) =>
      centers(c) = pts(pi).clone(); counts(c) = 1.0
    }
    math.min(dying.length, order.length)
  }

  /** ONE mini-batch update at caller-fixed state — assignment at the
    * current centers, [[mergeBatch]]'s closed-form running-mean merge,
    * then the `reassignmentRatio` dying-center rule — the fit loop's
    * exact batch body exposed for external incremental training loops
    * and for end-to-end gate verification (q_minibatch_reassign drives
    * it at fixed state; the oracle replays assignment, merge, AND the
    * dying-center move). `idCol` (empty = none) tie-breaks the
    * reassignment candidate order after cost DESC so the update is
    * exactly replayable. Weights are 1.0 (the verification surface;
    * weighted batches run through `fit`). Returns (newCenters,
    * newCounts) — inputs are NOT mutated.
    *
    * Unlike the reference's `rand.shuffle` reassignment
    * (ml/MiniBatchKMeans.scala:291-300), dying centers move to the
    * batch's highest-cost points: deterministic and cost-seeking (a
    * dying center is worthless where it is; the point farthest from
    * every center is where the distortion lives).
    */
  def step(
      batch: DataFrame,
      featuresCol: String,
      idCol: String,
      centers: Array[Array[Double]],
      counts: Array[Double],
      divergence: String = "squaredEuclidean",
      smoothing: Double = 1e-10,
      reassignmentRatio: Double = 0.01): (Array[Array[Double]], Array[Double]) = {
    require(centers.nonEmpty, "MiniBatchKMeans.step: no centers")
    require(centers.length == counts.length,
      s"MiniBatchKMeans.step: ${centers.length} centers vs ${counts.length} counts")
    val dim = centers.head.length
    require(centers.forall(_.length == dim),
      "MiniBatchKMeans.step: ragged centers")
    require(reassignmentRatio >= 0.0 && reassignmentRatio < 1.0,
      s"MiniBatchKMeans.step: reassignmentRatio must be in [0, 1), got $reassignmentRatio")
    val kern = graft.kernels.KernelFactory(divergence, smoothing)
    // project to exactly the consumed columns: assignment writes
    // "cluster"/"dist" columns, and a caller batch that already carries
    // those names would otherwise be silently clobbered
    val projected = batch.toDF().select(
      (Seq(featuresCol) ++ (if (idCol.isEmpty) Nil else Seq(idCol)))
        .distinct.map(col): _*)
    val (dfArr, arrCol) = FeatureCols.asArray(projected, featuresCol)
    val cs = centers.map(_.clone())
    val cn = counts.clone()
    // the plan reads Assignment.assign's private copy: the reassignment
    // rule re-executes it AFTER mergeBatch mutates cs — candidates must
    // rank by the PRE-update distances
    val assigned = Assignment.assign(dfArr, arrCol, kern, cs)
    mergeBatch(batchSums(assigned, arrCol, lit(1.0), cs), cs, cn)
    if (reassignmentRatio > 0)
      reassignDying(assigned, arrCol, cs, cn, reassignmentRatio,
        if (idCol.isEmpty) Nil else Seq(col(idCol).asc))
    (cs, cn)
  }

  /** py4j/gate bridge for [[step]]: state rides as a (cluster, cv, cnt)
    * frame in and out (a nested double matrix does not cross the
    * gateway — the [[graft.ops.SemDedupIndex.buildDf]] pattern). k-row
    * driver collect, model state.
    */
  def stepDf(
      batch: DataFrame,
      featuresCol: String,
      idCol: String,
      stateDf: DataFrame,
      divergence: String,
      smoothing: Double,
      reassignmentRatio: Double): DataFrame = {
    val st = stateDf
      .select(col("cluster").cast("long").as("cluster"),
        col("cv").cast("array<double>").as("cv"),
        col("cnt").cast("double").as("cnt"))
      .orderBy("cluster").collect()
    val (cs, cn) = step(batch, featuresCol, idCol,
      st.map(_.getSeq[Double](1).toArray), st.map(_.getDouble(2)),
      divergence, smoothing, reassignmentRatio)
    val spark = batch.sparkSession
    import spark.implicits._
    cs.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq, cn(i)) }
      .toSeq.toDF("cluster", "cv", "cnt")
  }
}
