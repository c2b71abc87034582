package graft.clustering

import graft.functions.CenterSums
import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Robust k-means with outlier-resistant center updates.
  * (reference: ml/RobustKMeans.scala:146-330)
  *
  * Modes:
  *  - `trim`: points beyond the (1-outlierFraction) divergence quantile get
  *    zero weight in the update (trimmed k-means)
  *  - `m_estimator`: Huber-style down-weighting — weight thr/dist beyond
  *    the quantile instead of a hard cut
  *
  * Scale design: the quantile is `percentile_approx` (one agg job), the
  * re-weighting is a column expression folded into the shared
  * Update.gradMean aggregation — two jobs per iteration, no collect, no
  * per-point driver pass. Outlier marking for the noise-cluster use case
  * is [[OutlierDetection.markOutliers]] over the fitted model.
  */
class RobustKMeans(override val uid: String)
    extends Estimator[GeneralizedKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("robustkmeans"))

  final val outlierFraction = new DoubleParam(this, "outlierFraction",
    "fraction of points treated as outliers", ParamValidators.inRange(0.0, 0.5))
  def getOutlierFraction: Double = $(outlierFraction)
  def setOutlierFraction(v: Double): this.type = set(outlierFraction, v)

  final val outlierMode = new Param[String](this, "outlierMode",
    "trim|m_estimator|noiseCluster (noiseCluster trains like trim but the " +
      "model predicts -1 beyond the final trim threshold)",
    ParamValidators.inArray(Array("trim", "m_estimator", "noiseCluster")))
  def getOutlierMode: String = $(outlierMode)
  def setOutlierMode(v: String): this.type = set(outlierMode, v)

  setDefault(outlierFraction -> 0.05, outlierMode -> "trim")

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
    val userW: Column = wOpt.map(col).getOrElse(lit(1.0))
    val data = dfArr.select((Seq(arrCol) ++ wOpt).distinct.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = data.count()
    val dim = data.select(col(arrCol)).head().getSeq[Double](0).length

    var centers = CenterInit.initialize(data,
      LloydsConfig(k = $(k), kernel = kern, seed = $(seed), initMode = $(initMode),
        featuresCol = arrCol, initialCenters = initialCentersOpt), dim, n)
    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]
    val keepQuantile = 1.0 - $(outlierFraction)
    // LAGGED trim threshold: iteration i weights by the quantile measured
    // in iteration i-1 (iteration 1 runs untrimmed), so the quantile rides
    // in the SAME aggregation pass as the center update instead of costing
    // a dedicated global-agg job per iteration — one aggregation yields
    // the per-cluster trimmed sums AND the global distance quantile
    // together (r4 bench: 3 jobs/iter -> 2).
    var thr = Double.MaxValue

    while (iter < $(maxIter) && !converged) {
      val assigned = Assignment.assign(data, arrCol, kern, centers, $(assignmentStrategy))
      val robustW: Column = $(outlierMode) match {
        case "m_estimator" =>
          when(col("dist") <= thr, userW).otherwise(userW * lit(thr) / col("dist"))
        case _ => // trim and noiseCluster share the trimmed update
          when(col("dist") <= thr, userW).otherwise(lit(0.0))
      }
      val (upd, newThr) = robustUpdate(assigned, arrCol, robustW, kern, dim, centers.length, keepQuantile)
      if ($(outlierFraction) > 0.0) thr = newThr
      distHist += upd.distortion
      // Noise-cluster cull: D^2-weighted init loves outliers, and a center
      // ON an outlier can never be trimmed away (self-distance 0). A
      // cluster whose surviving weight is noise-sized — below BOTH the
      // total outlier budget f*n and a small fraction of an average
      // cluster (0.05*n/k) — reseeds from the inlier set so real structure
      // reclaims the center. (tclust-style discipline; the tighter of the
      // two bounds keeps legitimate small clusters alive.)
      val noiseFloor = math.min($(outlierFraction) * n, 0.05 * n / $(k))
      val dead = centers.indices.filter(i => upd.weights.getOrElse(i, 0.0) <= noiseFloor)
      val next: Array[Array[Double]] =
        if (dead.size == centers.length) centers.indices.flatMap(upd.centers.get).toArray
        else if (dead.isEmpty) Array.tabulate(centers.length)(i => upd.centers(i))
        else {
          val inliers = assigned.where(col("dist") <= lit(thr))
          val repl = dead.zip(CenterInit.samplePoints(
            inliers, arrCol, dead.size, $(seed) + iter, math.max(1L, n))).toMap
          Array.tabulate(centers.length)(i =>
            if (repl.contains(i)) repl(i) else upd.centers.getOrElse(i, centers(i)))
        }
      val movement =
        if (next.length != centers.length || dead.nonEmpty) Double.MaxValue
        else centers.zip(next).map { case (a, b) =>
          math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
        }.max
      if (next.nonEmpty) centers = next
      iter += 1
      if (movement < $(tol)) converged = true
    }
    // noiseCluster: freeze the FINAL trim threshold into the model so
    // transform can emit prediction -1 for points beyond it
    // (reference: ml/RobustKMeans.scala noiseCluster mode, prediction -1)
    val noiseThr =
      if ($(outlierMode) == "noiseCluster" && $(outlierFraction) > 0.0) {
        val assigned = Assignment.assign(data, arrCol, kern, centers, $(assignmentStrategy))
        assigned.agg(percentile_approx(col("dist"), lit(keepQuantile), lit(10000)))
          .head().getDouble(0)
      } else Double.NaN
    data.unpersist()

    val model =
      if ($(outlierMode) == "noiseCluster")
        new NoiseClusterKMeansModel(uid, centers, $(divergence), $(smoothing), noiseThr)
      else new GeneralizedKMeansModel(uid, centers, $(divergence), $(smoothing))
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "RobustKMeans", $(k), centers.length, dim, n, iter, converged,
      distHist.result(), Nil, kern.name, System.currentTimeMillis() - t0))
    model
  }

  /** Trimmed center update AND the next trim threshold in ONE pass: the
    * ungrouped center sums and the (unweighted) global distance quantile
    * that becomes the next iteration's threshold, in one aggregation.
    */
  private def robustUpdate(
      assigned: DataFrame,
      arrCol: String,
      w: Column,
      kern: graft.kernels.BregmanKernel,
      dim: Int,
      k: Int,
      keepQuantile: Double): (Update.UpdateResult, Double) = {
    val r = assigned.agg(Update.sumsCol(arrCol, w, kern, dim, k, col("cluster")),
      percentile_approx(col("dist"), lit(keepQuantile), lit(10000))).head()
    (Update.dense(CenterSums.values(r, 0), k, kern, dim), r.getDouble(1))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)
  override def copy(extra: ParamMap): RobustKMeans = defaultCopy(extra)
}

/** Distance-based outlier scoring/marking over a fitted model.
  * (reference: df/OutlierDetection.scala:48-376 — DistanceBased and
  * Trimmed detectors; both are single-pass column expressions here.)
  */
object OutlierDetection {

  /** Appends `scoreCol` (divergence to the assigned center) and
    * `isOutlierCol` (score above the given absolute threshold).
    */
  def markOutliers(
      df: DataFrame,
      model: GeneralizedKMeansModel,
      threshold: Double,
      scoreCol: String = "outlier_score",
      isOutlierCol: String = "is_outlier"): DataFrame = {
    val (arr, arrCol) = FeatureCols.asArray(df, model.getFeaturesCol)
    val kern = graft.kernels.KernelFactory(model.divergenceName, model.smoothingValue)
    val tmpC = s"__${model.uid}_oc"
    val assigned = Assignment.assign(arr, arrCol, kern, model.clusterCenters,
      clusterCol = tmpC, distCol = scoreCol)
    assigned
      .withColumn(isOutlierCol, col(scoreCol) > lit(threshold))
      .drop((Seq(tmpC) ++ (if (arrCol != model.getFeaturesCol) Seq(arrCol) else Nil)): _*)
  }

  /** The (1 - fraction) divergence quantile — the trim threshold used by
    * RobustKMeans, exposed for noise-cluster pipelines.
    */
  def trimThreshold(
      df: DataFrame,
      model: GeneralizedKMeansModel,
      fraction: Double): Double = {
    require(fraction > 0 && fraction < 1, s"fraction must be in (0,1), got $fraction")
    val (arr, arrCol) = FeatureCols.asArray(df, model.getFeaturesCol)
    val kern = graft.kernels.KernelFactory(model.divergenceName, model.smoothingValue)
    val assigned = Assignment.assign(arr, arrCol, kern, model.clusterCenters)
    assigned.agg(percentile_approx(col("dist"), lit(1.0 - fraction), lit(10000)))
      .head().getDouble(0)
  }
}

object RobustKMeans extends org.apache.spark.ml.util.DefaultParamsReadable[RobustKMeans]

/** Noise-cluster model: points whose min divergence exceeds the frozen
  * trim threshold predict -1 (the noise cluster) instead of a center id.
  */
class NoiseClusterKMeansModel(
    uid: String,
    centers: Array[Array[Double]],
    divergenceName0: String,
    smoothingValue0: Double,
    val noiseThreshold: Double)
    extends GeneralizedKMeansModel(uid, centers, divergenceName0, smoothingValue0) {

  override def transform(dataset: Dataset[_]): DataFrame = {
    val (df, arrCol) = FeatureCols.asArray(dataset.toDF(), $(featuresCol))
    val kern = graft.kernels.KernelFactory(divergenceName, smoothingValue)
    val tmpC = s"__${uid}_c"
    val tmpD = s"__${uid}_d"
    val assigned = Assignment.assign(df, arrCol, kern, clusterCenters,
      getAssignmentStrategy, tmpC, tmpD)
    val pred =
      if (noiseThreshold.isNaN) col(tmpC)
      else when(col(tmpD) > lit(noiseThreshold), lit(-1)).otherwise(col(tmpC))
    val withPred = assigned.withColumn($(predictionCol), pred)
    val withDist =
      if ($(distanceCol).nonEmpty) withPred.withColumn($(distanceCol), col(tmpD))
      else withPred
    withDist.drop((Seq(tmpC, tmpD) ++
      (if (arrCol != $(featuresCol)) Seq(arrCol) else Nil)): _*)
  }

  override def write: org.apache.spark.ml.util.MLWriter =
    new NoiseClusterKMeansModel.Writer(this)
}

object NoiseClusterKMeansModel
    extends org.apache.spark.ml.util.MLReadable[NoiseClusterKMeansModel] {
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.json4s._
  import org.json4s.JsonDSL._

  private[graft] class Writer(m: NoiseClusterKMeansModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      ModelIO.writeMeta(path, sparkSession, m,
        ("divergence" -> m.divergenceName) ~ ("smoothing" -> m.smoothingValue) ~
          ("noiseThreshold" -> m.noiseThreshold),
        Seq("centers"))
      ModelIO.writeMatrix(path, "centers", sparkSession, m.clusterCenters)
    }
  }

  override def read: MLReader[NoiseClusterKMeansModel] = new MLReader[NoiseClusterKMeansModel] {
    override def load(path: String): NoiseClusterKMeansModel = {
      implicit val fmt: Formats = DefaultFormats
      val (uid, paramMap, extra) = ModelIO.extract(ModelIO.readMeta(path, sparkSession))
      val m = new NoiseClusterKMeansModel(uid,
        ModelIO.readMatrix(path, "centers", sparkSession),
        (extra \ "divergence").extract[String],
        (extra \ "smoothing").extract[Double],
        (extra \ "noiseThreshold").extract[Double])
      GeneralizedKMeansModel.restoreParams(m, paramMap)
      m
    }
  }
}
