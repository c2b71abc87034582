package graft.clustering

import graft.functions.CenterSums
import graft.kernels.BregmanKernel
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Bregman mixture model via EM (soft clustering with component weights).
  * (reference: df/EMIterator.scala:90-362 — identical E/M formulas:
  * γ_nc ∝ π_c·exp(−D(x,μ_c)) via log-sum-exp; π_c = (N_c + α)/Σ;
  * μ_c = invGrad(Σ γ·grad(x)/N_c); log-likelihood convergence.)
  *
  * Scale design: ONE aggregation job per EM iteration. The E-step
  * responsibilities and the row's log-likelihood contribution are computed
  * in a single UDF; exploded over the k responsibilities, the shared
  * CenterSums aggregate accumulates ALL M-step statistics at once — k x d
  * gradient sums and k effective counts — next to the log-likelihood sum,
  * with map-side combine.
  * The reference runs an RDD hop per M-step (EMIterator.scala:277-300);
  * here nothing but the k x d result crosses to the driver.
  */
class BregmanMixture(override val uid: String)
    extends Estimator[BregmanMixtureModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("bregman-mixture"))

  final val regularization = new DoubleParam(this, "regularization",
    "Dirichlet smoothing added to component counts", ParamValidators.gtEq(0))
  def getRegularization: Double = $(regularization)
  def setRegularization(v: Double): this.type = set(regularization, v)

  final val probabilityCol = new Param[String](this, "probabilityCol",
    "output column with the responsibility vector")
  def getProbabilityCol: String = $(probabilityCol)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)

  setDefault(regularization -> 1e-6, probabilityCol -> "probability")

  def setK(v: Int): this.type = set(k, v)
  def setDivergence(v: String): this.type = set(divergence, v)
  def setSmoothing(v: Double): this.type = set(smoothing, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setInitMode(v: String): this.type = set(initMode, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  /** Warm start: EM from these component centers instead of initMode
    * (same contract as GeneralizedKMeans.setInitialCenters; not persisted).
    */
  @transient private var initialCentersOpt: Option[Array[Array[Double]]] = None
  def setInitialCenters(cs: Array[Array[Double]]): this.type = {
    initialCentersOpt = Option(cs); this
  }

  override def fit(dataset: Dataset[_]): BregmanMixtureModel = {
    val t0 = System.currentTimeMillis()
    val df0 = dataset.toDF()
    transformSchema(df0.schema)
    val (dfArr, arrCol) = FeatureCols.asArray(df0, $(featuresCol))
    val kern = kernel
    val kk = $(k)
    val alpha = $(regularization)
    val data = dfArr.select(col(arrCol)).persist(StorageLevel.MEMORY_AND_DISK)
    val n = data.count()
    val dim = data.select(col(arrCol)).head().getSeq[Double](0).length
    val sc = data.sparkSession.sparkContext

    var centers = CenterInit.initialize(data,
      LloydsConfig(k = kk, kernel = kern, seed = $(seed), initMode = $(initMode),
        featuresCol = arrCol, initialCenters = initialCentersOpt), dim, n)
    var mixWeights = Array.fill(kk)(1.0 / kk)
    var prevLL = Double.NegativeInfinity
    var iter = 0
    var converged = false
    val llHist = Seq.newBuilder[Double]
    val needGrad = !(kern.isInstanceOf[graft.kernels.SquaredEuclideanKernel])

    while (iter < $(maxIter) && !converged) {
      val bcC = sc.broadcast(centers)
      val bcW = sc.broadcast(mixWeights)
      val bcK = sc.broadcast(kern)
      // E-step + per-row M-step inputs in one UDF: responsibilities via
      // log-sum-exp, the row's log-likelihood, and grad(x)
      val emUdf = udf { (xs: Seq[Double]) =>
        val x = xs.toArray
        val cs = bcC.value
        val pis = bcW.value
        val logp = new Array[Double](cs.length)
        var c = 0
        while (c < cs.length) {
          logp(c) = math.log(math.max(pis(c), 1e-300)) - bcK.value.divergence(x, cs(c))
          c += 1
        }
        var mx = Double.NegativeInfinity
        c = 0
        while (c < logp.length) { if (logp(c) > mx) mx = logp(c); c += 1 }
        var es = 0.0
        c = 0
        while (c < logp.length) { es += math.exp(logp(c) - mx); c += 1 }
        val logNorm = mx + math.log(es)
        val resp = new Array[Double](logp.length)
        c = 0
        while (c < logp.length) { resp(c) = math.exp(logp(c) - logNorm); c += 1 }
        val g = if (needGrad) bcK.value.grad(x) else x
        (resp, logNorm, g)
      }
      // M-step: each row's grad(x) exploded over its k responsibilities
      // into the k-slot center sums (γ the weight), plus Σ log-likelihood
      val r = data
        .withColumn("__em", emUdf(col(arrCol)))
        .select(col("__em._2").as("ll"), col("__em._3").as("g"),
          posexplode(col("__em._1")).as(Seq("c", "p")))
        .agg(CenterSums.column(col("g"), col("c"), col("p"), lit(0.0), CenterSums.Identity, kk, dim),
          sum(when(col("c") === 0, col("ll"))))
        .head()
      val upd = Update.dense(CenterSums.values(r, 0), kk, kern, dim)
      val ll = r.getDouble(1)
      llHist += ll
      val gamma = Array.tabulate(kk)(c => upd.weights.getOrElse(c, 0.0))
      val totalGamma = gamma.sum
      mixWeights = gamma.map(nc => (nc + alpha) / (totalGamma + alpha * kk))
      centers = Array.tabulate(kk)(c => upd.centers.getOrElse(c, centers(c)))
      iter += 1
      if (math.abs(ll - prevLL) < $(tol) * math.max(1.0, math.abs(ll))) converged = true
      prevLL = ll
    }
    data.unpersist()

    val model = new BregmanMixtureModel(uid, centers, mixWeights, $(divergence), $(smoothing))
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "BregmanMixture", kk, centers.length, dim, n, iter, converged,
      llHist.result(), Nil, kern.name, System.currentTimeMillis() - t0))
    model.logLikelihoodHistory = llHist.result()
    model
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)
  override def copy(extra: ParamMap): BregmanMixture = defaultCopy(extra)
}

/** Fitted Bregman mixture: component means + weights; transform appends the
  * responsibility vector and the MAP component.
  */
class BregmanMixtureModel(
    override val uid: String,
    val componentCenters: Array[Array[Double]],
    val componentWeights: Array[Double],
    val divergenceName: String,
    val smoothingValue: Double)
    extends Model[BregmanMixtureModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.MLWritable {

  override def write: org.apache.spark.ml.util.MLWriter = new BregmanMixtureModel.Writer(this)

  final val probabilityCol = new Param[String](this, "probabilityCol",
    "output column with the responsibility vector")
  setDefault(probabilityCol -> "probability")
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  private[graft] var trainingSummary: Option[TrainingSummary] = None
  private[graft] var logLikelihoodHistory: Seq[Double] = Nil
  def summary: TrainingSummary = trainingSummary.getOrElse(
    throw new IllegalStateException("No training summary"))
  def numComponents: Int = componentCenters.length

  override def transform(dataset: Dataset[_]): DataFrame = {
    val (df, arrCol) = FeatureCols.asArray(dataset.toDF(), $(featuresCol))
    val sc = df.sparkSession.sparkContext
    val bcC = sc.broadcast(componentCenters)
    val bcW = sc.broadcast(componentWeights)
    val kern = graft.kernels.KernelFactory(divergenceName, smoothingValue)
    val bcK = sc.broadcast(kern)
    val respUdf = udf { (xs: Seq[Double]) =>
      val x = xs.toArray
      val cs = bcC.value
      val logp = cs.indices.map(c =>
        math.log(math.max(bcW.value(c), 1e-300)) - bcK.value.divergence(x, cs(c))).toArray
      val mx = logp.max
      val es = logp.map(lp => math.exp(lp - mx)).sum
      val logNorm = mx + math.log(es)
      logp.map(lp => math.exp(lp - logNorm)).toSeq
    }
    val tmp = s"__${uid}_p"
    val withP = df.withColumn(tmp, respUdf(col(arrCol)))
      .withColumn($(probabilityCol), col(tmp))
      .withColumn($(predictionCol),
        expr(s"array_position(`$tmp`, array_max(`$tmp`))").cast("int") - 1)
      .drop(tmp)
    if (arrCol != $(featuresCol)) withP.drop(arrCol) else withP
  }

  override def transformSchema(schema: StructType): StructType = {
    val s1 = validateAndTransformSchema(schema)
    s1.add(StructField($(probabilityCol), ArrayType(DoubleType), nullable = false))
  }

  override def copy(extra: ParamMap): BregmanMixtureModel = {
    val m = new BregmanMixtureModel(uid, componentCenters, componentWeights,
      divergenceName, smoothingValue)
    m.trainingSummary = trainingSummary
    m.logLikelihoodHistory = logLikelihoodHistory
    copyValues(m, extra).setParent(parent)
  }
}

object BregmanMixtureModel extends org.apache.spark.ml.util.MLReadable[BregmanMixtureModel] {
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.json4s._
  import org.json4s.JsonDSL._

  private[graft] class Writer(m: BregmanMixtureModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      ModelIO.writeMeta(path, sparkSession, m,
        ("divergence" -> m.divergenceName) ~ ("smoothing" -> m.smoothingValue) ~
          ("componentWeights" -> m.componentWeights.toSeq),
        Seq("centers"))
      ModelIO.writeMatrix(path, "centers", sparkSession, m.componentCenters)
    }
  }

  override def read: MLReader[BregmanMixtureModel] = new MLReader[BregmanMixtureModel] {
    override def load(path: String): BregmanMixtureModel = {
      implicit val fmt: Formats = DefaultFormats
      val (uid, paramMap, extra) = ModelIO.extract(ModelIO.readMeta(path, sparkSession))
      val m = new BregmanMixtureModel(uid,
        ModelIO.readMatrix(path, "centers", sparkSession),
        (extra \ "componentWeights").extract[Seq[Double]].toArray,
        (extra \ "divergence").extract[String],
        (extra \ "smoothing").extract[Double])
      GeneralizedKMeansModel.restoreParams(m, paramMap)
      m
    }
  }
}

object BregmanMixture extends org.apache.spark.ml.util.DefaultParamsReadable[BregmanMixture]
