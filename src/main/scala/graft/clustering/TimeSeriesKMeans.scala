package graft.clustering

import graft.functions.CenterSums
import graft.kernels.{DTWKernel, SequenceKernel}
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** k-means for time series under elastic distances (DTW family) with DBA
  * centroids. (reference: ml/TimeSeriesKMeans.scala:187-330 — same loop:
  * DTW assignment, DBA update, distortion convergence.)
  *
  * Scale design: assignment is a broadcast-centers UDF (O(n * k * L^2) DP
  * work fully parallel across rows). The DBA update aligns every series to
  * its cluster's barycenter ON EXECUTORS — `mapInPandas`-style per-cluster
  * alignment sums are collected as (cluster, index) partial sums via one
  * aggregation, so the driver only merges k x L accumulators; series never
  * leave the executors.
  */
class TimeSeriesKMeans(override val uid: String)
    extends Estimator[TimeSeriesKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("tskmeans"))

  final val tsDistance = new Param[String](this, "tsDistance",
    "dtw|softdtw|derivativedtw|gak",
    ParamValidators.inArray(Array("dtw", "softdtw", "derivativedtw", "gak")))
  def setTsDistance(v: String): this.type = set(tsDistance, v)

  final val sakoeChibaWindow = new IntParam(this, "sakoeChibaWindow",
    "DTW band width; 0 = unconstrained", ParamValidators.gtEq(0))
  def setSakoeChibaWindow(v: Int): this.type = set(sakoeChibaWindow, v)

  final val gamma = new DoubleParam(this, "gamma",
    "softdtw gamma / gak sigma", ParamValidators.gt(0))
  def setGamma(v: Double): this.type = set(gamma, v)

  final val dbaIter = new IntParam(this, "dbaIter",
    "DBA refinement iterations per k-means iteration", ParamValidators.gt(0))
  def setDbaIter(v: Int): this.type = set(dbaIter, v)

  /** Centroid update rule: "dba" (hard-DTW barycenter averaging, default)
    * or "softdtw" (one soft-DBA fixed-point update per k-means iteration:
    * c_i = sum_j E(i,j) x_j / sum_j E(i,j) over the soft-alignment
    * expectation matrix — for use with tsDistance=softdtw). Both run as
    * the SAME distributed shape: per-row executor work + one
    * groupBy(cluster) aggregation carrying k x L doubles.
    */
  final val centroidMode = new Param[String](this, "centroidMode",
    "dba|softdtw", ParamValidators.inArray(Array("dba", "softdtw")))
  def setCentroidMode(v: String): this.type = set(centroidMode, v)

  setDefault(tsDistance -> "dtw", sakoeChibaWindow -> 0, gamma -> 1.0, dbaIter -> 5,
    centroidMode -> "dba")

  def setK(v: Int): this.type = set(k, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  private def seqKernel: SequenceKernel = SequenceKernel(
    $(tsDistance), $(gamma), if ($(sakoeChibaWindow) > 0) Some($(sakoeChibaWindow)) else None)

  override def fit(dataset: Dataset[_]): TimeSeriesKMeansModel = {
    val t0 = System.currentTimeMillis()
    val df0 = dataset.toDF()
    transformSchema(df0.schema)
    val (dfArr, arrCol) = FeatureCols.asArray(df0, $(featuresCol))
    val kern = seqKernel
    val dtwForDba = DTWKernel(if ($(sakoeChibaWindow) > 0) Some($(sakoeChibaWindow)) else None)
    val data = dfArr.select(col(arrCol)).persist(StorageLevel.MEMORY_AND_DISK)
    val n = data.count()
    val len = data.select(col(arrCol)).head().getSeq[Double](0).length
    val sc = data.sparkSession.sparkContext

    var centers: Array[Array[Double]] =
      CenterInit.samplePoints(data, arrCol, $(k), $(seed), n).toArray
    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]
    // loop-invariant: the update kernel for the selected centroid mode is
    // broadcast once for the whole fit, not once per iteration
    val softMode = $(centroidMode) == "softdtw"
    val bcUpd: org.apache.spark.broadcast.Broadcast[SequenceKernel] =
      if (softMode)
        sc.broadcast(graft.kernels.SoftDTWKernel($(gamma),
          if ($(sakoeChibaWindow) > 0) Some($(sakoeChibaWindow)) else None))
      else sc.broadcast(dtwForDba)

    while (iter < $(maxIter) && !converged) {
      val bcC = sc.broadcast(centers)
      val bcK = sc.broadcast(kern)
      val asgUdf = udf { (xs: Seq[Double]) =>
        val x = xs.toArray
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < bcC.value.length) {
          val d = bcK.value.distance(x, bcC.value(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        (best, bd)
      }
      val assigned = data.withColumn("__b", asgUdf(col(arrCol)))
        .select(col(arrCol), col("__b._1").as("cluster"), col("__b._2").as("dist"))

      // one centroid-update round, distributed: each row emits per-index
      // (sum, count) vectors — DBA alignment sums, or the soft-DBA
      // expectation sums — and one k-slot CenterSums aggregate merges
      // them (slot c: len sums, len counts, rows, distortion)
      val alignUdf = udf { (xs: Seq[Double], cluster: Int) =>
        val x = xs.toArray
        val center = bcC.value(cluster)
        bcUpd.value match {
          // soft-DBA fixed point: per-index (sum E*x, sum E) — merged
          // across the cluster, c' = sums/counts, the soft analog of the
          // hard alignment sums below (same combine rule)
          case sk: graft.kernels.SoftDTWKernel => sk.alignmentExpectation(center, x)
          case hk =>
            val sums = new Array[Double](center.length)
            val counts = new Array[Double](center.length)
            hk.alignmentPath(center, x).foreach { case (ci, si) =>
              sums(ci) += x(si)
              counts(ci) += 1.0
            }
            (sums, counts)
        }
      }
      val kk = centers.length
      val width = 2 * len + 2
      val agg = CenterSums.values(assigned
        .withColumn("__a", alignUdf(col(arrCol), col("cluster")))
        .agg(CenterSums.column(concat(col("__a._1"), col("__a._2")), col("cluster"), lit(1.0),
          col("dist"), CenterSums.Identity, kk, 2 * len))
        .head(), 0)

      var distortion = 0.0
      // same combine for both modes: DBA path sums or soft-expectation
      // sums, normalized by their own mass; an empty cluster keeps its center
      val next = Array.tabulate(kk) { cid =>
        val base = cid * width
        distortion += agg(base + 2 * len + 1)
        val c = centers(cid)
        if (agg(base + 2 * len) <= 0) c
        else Array.tabulate(len)(i =>
          if (agg(base + len + i) > 0) agg(base + i) / agg(base + len + i) else c(i))
      }
      distHist += distortion
      val movement = centers.zip(next).map { case (a, b) =>
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.max
      centers = next
      iter += 1
      if (movement < $(tol)) converged = true
    }
    data.unpersist()

    val model = new TimeSeriesKMeansModel(uid, centers, $(tsDistance), $(gamma),
      if ($(sakoeChibaWindow) > 0) Some($(sakoeChibaWindow)) else None)
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "TimeSeriesKMeans", $(k), centers.length, len, n, iter, converged,
      distHist.result(), Nil, kern.name, System.currentTimeMillis() - t0))
    model
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)
  override def copy(extra: ParamMap): TimeSeriesKMeans = defaultCopy(extra)
}

class TimeSeriesKMeansModel(
    override val uid: String,
    val clusterCenters: Array[Array[Double]],
    val tsDistanceName: String,
    val gammaValue: Double,
    val window: Option[Int])
    extends Model[TimeSeriesKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.MLWritable {

  override def write: org.apache.spark.ml.util.MLWriter = new TimeSeriesKMeansModel.Writer(this)

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  private[graft] var trainingSummary: Option[TrainingSummary] = None
  def summary: TrainingSummary = trainingSummary.getOrElse(
    throw new IllegalStateException("No training summary"))
  def numClusters: Int = clusterCenters.length

  override def transform(dataset: Dataset[_]): DataFrame = {
    val (df, arrCol) = FeatureCols.asArray(dataset.toDF(), $(featuresCol))
    val sc = df.sparkSession.sparkContext
    val bcC = sc.broadcast(clusterCenters)
    val kern = SequenceKernel(tsDistanceName, gammaValue, window)
    val bcK = sc.broadcast(kern)
    val u = udf { (xs: Seq[Double]) =>
      val x = xs.toArray
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < bcC.value.length) {
        val d = bcK.value.distance(x, bcC.value(c))
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
    val out = df.withColumn($(predictionCol), u(col(arrCol)))
    if (arrCol != $(featuresCol)) out.drop(arrCol) else out
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): TimeSeriesKMeansModel = {
    val m = new TimeSeriesKMeansModel(uid, clusterCenters, tsDistanceName, gammaValue, window)
    m.trainingSummary = trainingSummary
    copyValues(m, extra).setParent(parent)
  }
}

object TimeSeriesKMeansModel extends org.apache.spark.ml.util.MLReadable[TimeSeriesKMeansModel] {
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.json4s._
  import org.json4s.JsonDSL._

  private[graft] class Writer(m: TimeSeriesKMeansModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      ModelIO.writeMeta(path, sparkSession, m,
        ("tsDistance" -> m.tsDistanceName) ~ ("gamma" -> m.gammaValue) ~
          ("window" -> m.window),
        Seq("centers"))
      ModelIO.writeMatrix(path, "centers", sparkSession, m.clusterCenters)
    }
  }

  override def read: MLReader[TimeSeriesKMeansModel] = new MLReader[TimeSeriesKMeansModel] {
    override def load(path: String): TimeSeriesKMeansModel = {
      implicit val fmt: Formats = DefaultFormats
      val (uid, paramMap, extra) = ModelIO.extract(ModelIO.readMeta(path, sparkSession))
      val m = new TimeSeriesKMeansModel(uid,
        ModelIO.readMatrix(path, "centers", sparkSession),
        (extra \ "tsDistance").extract[String],
        (extra \ "gamma").extract[Double],
        (extra \ "window").extractOpt[Int])
      GeneralizedKMeansModel.restoreParams(m, paramMap)
      m
    }
  }
}

object TimeSeriesKMeans extends org.apache.spark.ml.util.DefaultParamsReadable[TimeSeriesKMeans]
