package graft.clustering

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** DP-Means: nonparametric clustering where a point farther than `lambda`
  * from every center spawns a new cluster (at most one per iteration — the
  * farthest such point), alternating with standard Lloyd updates once no
  * new cluster appears (reference: ml/DPMeans.scala:210,240-360).
  *
  * The farthest-outlier pick is a single `max_by` aggregation (the
  * reference sorts the whole frame descending and takes head —
  * ml/DPMeans.scala:303-308; an agg needs no global sort).
  */
class DPMeans(override val uid: String)
    extends Estimator[GeneralizedKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("dpmeans"))

  final val lambda = new DoubleParam(this, "lambda",
    "divergence threshold beyond which a point spawns a new cluster",
    ParamValidators.gt(0))
  def getLambda: Double = $(lambda)
  def setLambda(v: Double): this.type = set(lambda, v)

  final val maxK = new IntParam(this, "maxK",
    "cap on discovered clusters (0 = unlimited)", ParamValidators.gtEq(0))
  def getMaxK: Int = $(maxK)
  def setMaxK(v: Int): this.type = set(maxK, v)

  setDefault(lambda -> 1.0, maxK -> 0)

  def setDivergence(v: String): this.type = set(divergence, v)
  def setSmoothing(v: Double): this.type = set(smoothing, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
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

    // first center: the first input point (deterministic, as the reference)
    var centers = Array(data.select(col(arrCol)).head().getSeq[Double](0).toArray)
    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]

    while (iter < $(maxIter) && !converged) {
      val assigned = Assignment.assign(data, arrCol, kern, centers, $(assignmentStrategy))
      val canGrow = $(maxK) == 0 || centers.length < $(maxK)
      val outlier =
        if (canGrow)
          assigned.where(col("dist") > $(lambda))
            .agg(max_by(col(arrCol), col("dist")).as("f"), max(col("dist")).as("d"))
            .collect().headOption.filter(!_.isNullAt(0))
        else None
      outlier match {
        case Some(r) =>
          centers = centers :+ r.getSeq[Double](0).toArray
        case None =>
          val upd = Update.gradMean(assigned, arrCol, wCol, kern, dim, centers.length)
          distHist += upd.distortion
          val newCenters = centers.indices.flatMap(upd.centers.get).toArray
          val movement =
            if (newCenters.length != centers.length) Double.MaxValue
            else centers.zip(newCenters).map { case (a, b) =>
              math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
            }.max
          centers = if (newCenters.nonEmpty) newCenters else centers
          if (movement < $(tol)) converged = true
      }
      iter += 1
    }
    data.unpersist()

    val model = new GeneralizedKMeansModel(uid, centers, $(divergence), $(smoothing))
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "DPMeans", centers.length, centers.length, dim, numPoints, iter, converged,
      distHist.result(), Nil, kern.name, System.currentTimeMillis() - t0))
    model
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)
  override def copy(extra: ParamMap): DPMeans = defaultCopy(extra)
}

object DPMeans extends org.apache.spark.ml.util.DefaultParamsReadable[DPMeans]
