package graft.streaming

import graft.clustering._
import graft.kernels.KernelFactory
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming k-means with exponential forgetting.
  * (reference: ml/StreamingKMeans.scala:173-206 estimator, :283-430 update
  * rule and dying-cluster split. The reference aggregates each micro-batch
  * with rdd.groupByKey + collect — ml/StreamingKMeans.scala:302-345; here
  * the per-cluster batch statistics come from the shared
  * Update.gradMean aggregation: map-side combine, one k-slot buffer
  * collected.)
  *
  * Update rule per batch (mini-batch):
  *   n_i <- n_i * discount            (discount = decay^1 for "batches",
  *                                     decay^|batch| for "points")
  *   c_i <- (n_i * c_i + m_i * x_i) / (n_i + m_i);  n_i <- n_i + m_i
  * Dying clusters (weight < 1e-8 * max) are re-seeded by splitting the
  * heaviest cluster.
  *
  * Streaming integration: `model.updateOn(stream)` attaches a
  * `writeStream.foreachBatch` updater. Reads of `clusterCenters` /
  * `transform` see an immutable snapshot swapped atomically after each
  * batch (SURVEY §7.4) — a concurrent scorer never observes a half-updated
  * center matrix.
  */
class StreamingKMeans(override val uid: String)
    extends GeneralizedKMeans(uid) {

  def this() = this(Identifiable.randomUID("streamingkmeans"))

  final val decayFactor = new DoubleParam(this, "decayFactor",
    "per-time-unit forgetting in [0,1]; 1 = never forget",
    ParamValidators.inRange(0.0, 1.0))
  def getDecayFactor: Double = $(decayFactor)
  def setDecayFactor(v: Double): this.type = set(decayFactor, v)

  final val timeUnit = new Param[String](this, "timeUnit",
    "batches|points", ParamValidators.inArray(Array("batches", "points")))
  def getTimeUnit: String = $(timeUnit)
  def setTimeUnit(v: String): this.type = set(timeUnit, v)

  final val halfLife = new DoubleParam(this, "halfLife",
    "overrides decayFactor with 0.5^(1/halfLife)", ParamValidators.gt(0))
  def setHalfLife(v: Double): this.type = set(halfLife, v)

  setDefault(decayFactor -> 1.0, timeUnit -> "batches")

  private[graft] def effectiveDecay: Double =
    if (isSet(halfLife)) math.pow(0.5, 1.0 / $(halfLife)) else $(decayFactor)

  /** Batch-fit the initial centers, then wrap them in a mutable streaming
    * model.
    */
  override def fit(dataset: Dataset[_]): GeneralizedKMeansModel = {
    val base = super.fit(dataset)
    val m = new StreamingKMeansModel(
      Identifiable.randomUID("streamingkmeans-model"),
      base.clusterCenters, $(divergence), $(smoothing),
      effectiveDecay, $(timeUnit))
    copyValues(m)
    m.trainingSummary = base.trainingSummary
    m.setParent(this)
    m
  }

  override def copy(extra: ParamMap): StreamingKMeans = defaultCopy(extra)
}

/** Mutable streaming model. All batch-facing reads go through an immutable
  * snapshot (`current`), swapped after each update.
  */
class StreamingKMeansModel(
    uid: String,
    initialCenters: Array[Array[Double]],
    divergenceName: String,
    smoothingValue: Double,
    val decay: Double,
    val timeUnit: String)
    extends GeneralizedKMeansModel(uid, initialCenters, divergenceName, smoothingValue) {

  @volatile private var state: (Array[Array[Double]], Array[Double]) =
    (initialCenters.map(_.clone), Array.fill(initialCenters.length)(1.0))

  /** Immutable snapshot of the current centers. */
  def currentCenters: Array[Array[Double]] = state._1
  def clusterWeights: Array[Double] = state._2.clone

  /** Restore persisted per-cluster weights (reader-side). */
  private[graft] def restoreWeights(w: Array[Double]): Unit =
    state = (state._1, w.clone)

  override def write: org.apache.spark.ml.util.MLWriter =
    new graft.clustering.StreamingModelIO.Writer(this)

  override def transform(dataset: Dataset[_]): DataFrame = {
    // score against the CURRENT snapshot, not the fit-time centers
    val snap = new GeneralizedKMeansModel(uid + "-snap", currentCenters,
      divergenceName, smoothingValue)
    copyValues(snap)
    snap.transform(dataset)
  }

  /** One mini-batch update; safe to call from foreachBatch. */
  def update(batch: Dataset[_]): this.type = {
    val df0 = batch.toDF()
    if (df0.isEmpty) return this
    val (df, arrCol) = FeatureCols.asArray(df0, getFeaturesCol)
    val kern = KernelFactory(divergenceName, smoothingValue)
    val (centers, weights) = state
    val dim = centers.headOption.map(_.length).getOrElse(0)

    val assigned = Assignment.assign(df, arrCol, kern, centers, getAssignmentStrategy)
    val upd = Update.gradMean(assigned, arrCol, lit(1.0), kern, dim, centers.length)
    val batchTotal = upd.weights.values.sum

    val discount = timeUnit match {
      case "points" => math.pow(decay, batchTotal)
      case _        => decay
    }
    val newCenters = centers.map(_.clone)
    val newWeights = weights.map(_ * discount)
    upd.centers.foreach { case (cid, batchCentroid) =>
      val m = upd.weights(cid)
      val nOld = newWeights(cid)
      val nNew = nOld + m
      val lambda = m / math.max(nNew, 1e-16)
      var j = 0
      while (j < dim) {
        newCenters(cid)(j) = (1.0 - lambda) * newCenters(cid)(j) + lambda * batchCentroid(j)
        j += 1
      }
      newWeights(cid) = nNew
    }

    // dying cluster: split the heaviest (reference: StreamingKMeans.scala:
    // handleDyingClusters)
    val maxW = newWeights.max
    val minW = newWeights.min
    if (minW < 1e-8 * maxW) {
      val largest = newWeights.indexOf(maxW)
      val smallest = newWeights.indexOf(minW)
      val half = (maxW + minW) / 2.0
      newWeights(largest) = half
      newWeights(smallest) = half
      val c = newCenters(largest)
      val eps = 1e-4
      newCenters(largest) = c.map(x => x + eps * math.max(math.abs(x), 1.0))
      newCenters(smallest) = c.map(x => x - eps * math.max(math.abs(x), 1.0))
    }
    state = (newCenters, newWeights) // atomic snapshot swap
    this
  }

  /** Attach this model as a foreachBatch sink on a streaming Dataset;
    * returns the started query.
    */
  def updateOn(stream: Dataset[_]): org.apache.spark.sql.streaming.StreamingQuery =
    stream.toDF().writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        update(batch); ()
      }
      .start()
}

object StreamingKMeans
    extends org.apache.spark.ml.util.DefaultParamsReadable[StreamingKMeans]

/** Standard MLReadable companion so `StreamingKMeansModel.load(path)`
  * works from Scala AND from PySpark's JavaMLReadable (which resolves the
  * static `load` on the class named by the Python module path); delegates
  * to [[graft.clustering.StreamingModelIO]].
  */
object StreamingKMeansModel
    extends org.apache.spark.ml.util.MLReadable[StreamingKMeansModel] {
  override def read: org.apache.spark.ml.util.MLReader[StreamingKMeansModel] =
    graft.clustering.StreamingModelIO.read
  override def load(path: String): StreamingKMeansModel = read.load(path)
}
