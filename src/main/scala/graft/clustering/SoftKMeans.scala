package graft.clustering

import graft.functions.CenterSums
import graft.kernels._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Boltzmann soft assignments: p(c|x) ∝ exp(-beta * (D(x, mu_c) - D_min)),
  * floored at `minMembership` and renormalized
  * (reference: df/SoftAssignments.scala:26-57).
  */
object SoftAssignments {

  /** UDF producing, per row, an array of (probability, divergence) structs —
    * one pass computes the k divergences, the stable softmax, AND keeps the
    * raw distances so a single downstream aggregation yields both new
    * centers and the soft cost.
    */
  def probDistUdf(centers: Array[Array[Double]], kernel: BregmanKernel,
      beta: Double, minMembership: Double) = udf { (xs: Seq[Double]) =>
    val x = xs.toArray
    val k = centers.length
    val d = new Array[Double](k)
    var minD = Double.MaxValue
    var i = 0
    while (i < k) {
      d(i) = kernel.divergence(x, centers(i))
      if (d(i) < minD) minD = d(i)
      i += 1
    }
    val p = new Array[Double](k)
    var z = 0.0
    i = 0
    while (i < k) { p(i) = math.exp(-beta * (d(i) - minD)); z += p(i); i += 1 }
    if (z > 1e-100) { i = 0; while (i < k) { p(i) /= z; i += 1 } }
    else { i = 0; while (i < k) { p(i) = 1.0 / k; i += 1 } }
    var z2 = 0.0
    i = 0
    while (i < k) { if (p(i) < minMembership) p(i) = minMembership; z2 += p(i); i += 1 }
    i = 0
    while (i < k) { p(i) /= z2; i += 1 }
    p.zip(d).toSeq
  }

  /** Append a probability column (array<double>, k entries summing to 1). */
  def withProbabilities(df: DataFrame, featuresCol: String,
      centers: Array[Array[Double]], kernel: BregmanKernel,
      beta: Double, minMembership: Double, probabilityCol: String): DataFrame = {
    val pd = probDistUdf(centers, kernel, beta, minMembership)
    df.withColumn(probabilityCol, transform(pd(col(featuresCol)), s => s.getField("_1")))
  }
}

trait SoftKMeansParams extends GeneralizedKMeansParams {
  final val beta = new DoubleParam(this, "beta",
    "inverse temperature of the Boltzmann soft assignment", ParamValidators.gt(0))
  def getBeta: Double = $(beta)

  final val minMembership = new DoubleParam(this, "minMembership",
    "probability floor per cluster before renormalization", ParamValidators.gtEq(0))
  def getMinMembership: Double = $(minMembership)

  final val probabilityCol = new Param[String](this, "probabilityCol",
    "output column with the k-dim membership probability array")
  def getProbabilityCol: String = $(probabilityCol)

  setDefault(beta -> 2.0, minMembership -> 0.0, probabilityCol -> "probability")
}

/** Soft (fuzzy) k-means via Boltzmann memberships
  * (reference: ml/SoftKMeans.scala:154,179-281).
  *
  * The M-step is fully DISTRIBUTED — the reference collects every row's
  * membership vector to the driver (ml/SoftKMeans.scala:335-338); here the
  * per-row (probability, divergence) pairs are exploded to (cluster, p, d)
  * and aggregated by the same CenterSums aggregate as the hard path, giving
  * new centers AND the soft cost in ONE aggregation job per iteration.
  * The soft Bregman centroid is the gamma-weighted primal mean (the
  * minimizer of sum p*D_F(x, mu) over mu for any Bregman divergence).
  */
class SoftKMeans(override val uid: String)
    extends Estimator[SoftKMeansModel] with SoftKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("soft-kmeans"))

  /** Warm start: train from these centers instead of initMode (same
    * contract as GeneralizedKMeans.setInitialCenters; not persisted).
    */
  @transient private var initialCentersOpt: Option[Array[Array[Double]]] = None
  def setInitialCenters(cs: Array[Array[Double]]): this.type = {
    initialCentersOpt = Option(cs); this
  }

  def setK(v: Int): this.type = set(k, v)
  def setBeta(v: Double): this.type = set(beta, v)
  def setMinMembership(v: Double): this.type = set(minMembership, v)
  def setDivergence(v: String): this.type = set(divergence, v)
  def setSmoothing(v: Double): this.type = set(smoothing, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setInitMode(v: String): this.type = set(initMode, v)
  def setInitSteps(v: Int): this.type = set(initSteps, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)
  def setWeightCol(v: String): this.type = set(weightCol, v)

  override def fit(dataset: Dataset[_]): SoftKMeansModel = {
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

    // D^2-weighted distributed seeding (same init as the hard path) — plain
    // random sampling frequently seeds two centers in one blob and the soft
    // EM then converges to a split-blob local optimum.
    var centers = CenterInit.initialize(data,
      LloydsConfig(k = $(k), kernel = kern, seed = $(seed), initMode = $(initMode),
        initSteps = $(initSteps), featuresCol = arrCol,
        initialCenters = initialCentersOpt),
      dim, numPoints)
    var prevCost = Double.MaxValue
    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]
    val moveHist = Seq.newBuilder[Double]

    while (iter < $(maxIter) && !converged) {
      val pd = SoftAssignments.probDistUdf(centers, kern, $(beta), $(minMembership))
      // one job: per-cluster gamma-weighted sums + global soft cost
      val kk = centers.length
      val sums = CenterSums.values(data
        .select(col(arrCol).as("f"), wCol.cast("double").as("w"), pd(col(arrCol)).as("pd"))
        .select(col("f"), col("w"), posexplode(col("pd")).as(Seq("c", "s")))
        .agg(CenterSums.column(col("f"), col("c"), col("s._1") * col("w"), col("s._2"),
          CenterSums.Identity, kk, dim))
        .head(), 0)

      val newCenters = centers.clone()
      var cost = 0.0
      var c = 0
      while (c < kk) {
        val base = c * (dim + 2)
        val psum = sums(base + dim)
        cost += sums(base + dim + 1)
        if (psum > 1e-10) newCenters(c) = Array.tabulate(dim)(i => sums(base + i) / psum)
        c += 1
      }
      var movement = 0.0
      var i = 0
      while (i < centers.length) {
        var s = 0.0
        var j = 0
        while (j < dim) { val dd = centers(i)(j) - newCenters(i)(j); s += dd * dd; j += 1 }
        movement = math.max(movement, math.sqrt(s))
        i += 1
      }
      distHist += cost
      moveHist += movement
      centers = newCenters
      iter += 1
      val improvement = (prevCost - cost) / math.max(math.abs(prevCost), 1e-10)
      if (improvement < $(tol) && improvement >= 0) converged = true
      prevCost = cost
    }
    data.unpersist()

    val model = new SoftKMeansModel(uid, centers, $(divergence), $(smoothing), $(beta), $(minMembership))
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "SoftKMeans", $(k), centers.length, dim, numPoints, iter, converged,
      distHist.result(), moveHist.result(), kern.name,
      System.currentTimeMillis() - t0))
    model
  }

  override def transformSchema(schema: StructType): StructType = {
    val base = validateAndTransformSchema(schema)
    base.add(StructField($(probabilityCol), ArrayType(DoubleType), nullable = false))
  }
  override def copy(extra: ParamMap): SoftKMeans = defaultCopy(extra)
}

/** Fitted soft k-means model: transform appends probability (array<double>)
  * and hard prediction (argmax) columns.
  * (reference: ml/SoftKMeansModel.scala:44-163)
  */
class SoftKMeansModel(
    override val uid: String,
    val clusterCenters: Array[Array[Double]],
    val divergenceName: String,
    val smoothingValue: Double,
    val betaValue: Double,
    val minMembershipValue: Double)
    extends Model[SoftKMeansModel] with SoftKMeansParams
    with org.apache.spark.ml.util.MLWritable {

  override def write: org.apache.spark.ml.util.MLWriter = new SoftKMeansModel.Writer(this)

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)

  private[graft] var trainingSummary: Option[TrainingSummary] = None
  def summary: TrainingSummary = trainingSummary.getOrElse(
    throw new IllegalStateException("No training summary"))
  def hasSummary: Boolean = trainingSummary.isDefined

  def numClusters: Int = clusterCenters.length
  def numFeatures: Int = clusterCenters.headOption.map(_.length).getOrElse(0)
  private def kern: BregmanKernel = KernelFactory(divergenceName, smoothingValue)

  override def transform(dataset: Dataset[_]): DataFrame = {
    val (df, arrCol) = FeatureCols.asArray(dataset.toDF(), $(featuresCol))
    val tmp = s"__${uid}_pd"
    val pd = SoftAssignments.probDistUdf(clusterCenters, kern, betaValue, minMembershipValue)
    val probs = transform_(col(tmp))
    val out = df.withColumn(tmp, pd(col(arrCol)))
      .withColumn($(probabilityCol), probs)
      .withColumn($(predictionCol),
        array_position(col($(probabilityCol)), array_max(col($(probabilityCol)))).cast("int") - 1)
      .drop(tmp)
    if (arrCol != $(featuresCol)) out.drop(arrCol) else out
  }

  private def transform_(pdCol: Column): Column =
    org.apache.spark.sql.functions.transform(pdCol, s => s.getField("_1"))

  /** Entropy-based effective cluster count: exp(H(p̄)) where p̄ is the
    * average membership distribution over the data — k when memberships
    * are uniform, ~1 when one cluster dominates.
    * (reference: ml/SoftKMeansModel.scala:120-160 soft metrics.)
    * One aggregation job: the probability vectors sum through the shared
    * one-slot [[CenterSums]] aggregate; entropy is k-element driver math.
    */
  def effectiveClusters(dataset: Dataset[_]): Double = {
    val k = clusterCenters.length
    val probs = transform(dataset).select(col($(probabilityCol)))
    val sums = CenterSums.values(probs.agg(CenterSums.column(col($(probabilityCol)), lit(0),
      lit(1.0), lit(0.0), CenterSums.Identity, 1, k)).head(), 0)
    val n = sums(k)
    if (n <= 0) return 0.0
    var h = 0.0
    var c = 0
    while (c < k) {
      val p = sums(c) / n
      if (p > 0) h -= p * math.log(p)
      c += 1
    }
    math.exp(h)
  }

  /** Soft membership for a single driver-side point. */
  def predictSoft(x: Array[Double]): Array[Double] = {
    val k = clusterCenters.length
    val d = clusterCenters.map(c => kern.divergence(x, c))
    val minD = d.min
    val p = d.map(v => math.exp(-betaValue * (v - minD)))
    val z = p.sum
    val p2 = if (z > 1e-100) p.map(_ / z) else Array.fill(k)(1.0 / k)
    val p3 = p2.map(v => math.max(v, minMembershipValue))
    val z2 = p3.sum
    p3.map(_ / z2)
  }

  def predict(x: Array[Double]): Int = {
    val p = predictSoft(x)
    var best = 0
    var i = 1
    while (i < p.length) { if (p(i) > p(best)) best = i; i += 1 }
    best
  }

  override def transformSchema(schema: StructType): StructType = {
    val base = validateAndTransformSchema(schema)
    base.add(StructField($(probabilityCol), ArrayType(DoubleType), nullable = false))
  }

  override def copy(extra: ParamMap): SoftKMeansModel = {
    val m = new SoftKMeansModel(uid, clusterCenters, divergenceName, smoothingValue,
      betaValue, minMembershipValue)
    m.trainingSummary = trainingSummary
    copyValues(m, extra).setParent(parent)
  }
}

object SoftKMeansModel extends org.apache.spark.ml.util.MLReadable[SoftKMeansModel] {
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.json4s._
  import org.json4s.JsonDSL._

  private[graft] class Writer(m: SoftKMeansModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      ModelIO.writeMeta(path, sparkSession, m,
        ("divergence" -> m.divergenceName) ~ ("smoothing" -> m.smoothingValue) ~
          ("beta" -> m.betaValue) ~ ("minMembership" -> m.minMembershipValue),
        Seq("centers"))
      ModelIO.writeMatrix(path, "centers", sparkSession, m.clusterCenters)
    }
  }

  override def read: MLReader[SoftKMeansModel] = new MLReader[SoftKMeansModel] {
    override def load(path: String): SoftKMeansModel = {
      implicit val fmt: Formats = DefaultFormats
      val (uid, paramMap, extra) = ModelIO.extract(ModelIO.readMeta(path, sparkSession))
      val m = new SoftKMeansModel(uid,
        ModelIO.readMatrix(path, "centers", sparkSession),
        (extra \ "divergence").extract[String],
        (extra \ "smoothing").extract[Double],
        (extra \ "beta").extract[Double],
        (extra \ "minMembership").extract[Double])
      GeneralizedKMeansModel.restoreParams(m, paramMap)
      m
    }
  }
}

object SoftKMeans extends org.apache.spark.ml.util.DefaultParamsReadable[SoftKMeans]
