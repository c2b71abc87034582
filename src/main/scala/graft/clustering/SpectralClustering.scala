package graft.clustering

import graft.functions.CenterSums
import graft.kernels.MercerKernel
import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Spectral clustering: partition by the leading eigenvectors of a graph
  * Laplacian built from a Mercer-kernel affinity.
  * (reference: ml/SpectralClustering.scala:199-330, df/SpectralGraph.scala:
  * 71-614 — same capability surface: full/kNN/epsilon affinities, the
  * unnormalized/symmetric/randomWalk Laplacians, RBF/laplacian/polynomial/
  * linear kernels, Nystrom for large n.)
  *
  * Two paths:
  *  - exact (n <= maxDriverPoints): collect, dense affinity + Laplacian,
  *    Breeze eigSym, local k-means on the embedding. O(n^2) by nature —
  *    same cap discipline as KMedoids/exact KernelKMeans.
  *  - nystrom (the 100-TB path; auto above the cap): NO n x n object and
  *    NO full collect — m landmarks give the feature map
  *    phi(x) = B^{-1/2} k(x, landmarks) with <phi(x),phi(y)> ~ k(x,y), so
  *    the affinity is W ~ Phi Phi^T. Degrees d_i = phi_i . (sum_j phi_j)
  *    come from ONE distributed vector sum; the m x m covariance
  *    C = sum_i psi_i psi_i^T (psi = phi/sqrt(d)) from ONE treeAggregate;
  *    its top-k eigenpairs (driver, m^3) give the spectral embedding
  *    u_i = [psi_i . v_e / sqrt(lambda_e)]_e — computed distributed per
  *    row — and the shared k-means engine clusters it. (The reference's
  *    Nystrom still collects all points to the driver,
  *    ml/SpectralClustering.scala:234; ours never does.)
  */
class SpectralClustering(override val uid: String)
    extends Estimator[GeneralizedKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("spectral"))

  final val kernelType = new Param[String](this, "kernelType",
    "linear|polynomial|rbf|laplacian",
    ParamValidators.inArray(Array("linear", "polynomial", "rbf", "laplacian")))
  def setKernelType(v: String): this.type = set(kernelType, v)

  final val gamma = new DoubleParam(this, "gamma", "kernel bandwidth", ParamValidators.gt(0))
  def setGamma(v: Double): this.type = set(gamma, v)

  final val degree = new IntParam(this, "degree", "polynomial degree", ParamValidators.gtEq(1))
  def setDegree(v: Int): this.type = set(degree, v)

  final val affinityType = new Param[String](this, "affinityType",
    "full|knn|epsilon (exact path only; nystrom implies full)",
    ParamValidators.inArray(Array("full", "knn", "epsilon")))
  def setAffinityType(v: String): this.type = set(affinityType, v)

  final val numNeighbors = new IntParam(this, "numNeighbors",
    "k for the kNN affinity graph", ParamValidators.gt(0))
  def setNumNeighbors(v: Int): this.type = set(numNeighbors, v)

  final val epsilon = new DoubleParam(this, "epsilon",
    "radius for the epsilon-neighborhood affinity", ParamValidators.gt(0.0))
  def setEpsilon(v: Double): this.type = set(epsilon, v)

  final val laplacianType = new Param[String](this, "laplacianType",
    "unnormalized|symmetric|randomWalk",
    (s: String) => Seq("unnormalized", "symmetric", "randomwalk").contains(s.toLowerCase))
  def setLaplacianType(v: String): this.type = set(laplacianType, v)

  final val useNystrom = new BooleanParam(this, "useNystrom",
    "force the Nystrom path (auto-enabled above maxDriverPoints)")
  def setUseNystrom(v: Boolean): this.type = set(useNystrom, v)

  final val numLandmarks = new IntParam(this, "numLandmarks",
    "Nystrom landmark count", ParamValidators.gt(1))
  def setNumLandmarks(v: Int): this.type = set(numLandmarks, v)

  final val maxDriverPoints = new IntParam(this, "maxDriverPoints",
    "exact-path row cap (dense n^2 affinity + n^3 eigensolve)", ParamValidators.gt(0))
  def setMaxDriverPoints(v: Int): this.type = set(maxDriverPoints, v)

  setDefault(kernelType -> "rbf", gamma -> 1.0, degree -> 3,
    affinityType -> "full", numNeighbors -> 10, epsilon -> 1.0,
    laplacianType -> "symmetric", useNystrom -> false, numLandmarks -> 128,
    maxDriverPoints -> 2000)

  def setK(v: Int): this.type = set(k, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  private def mercer: MercerKernel = MercerKernel($(kernelType), $(gamma), $(degree))

  override def fit(dataset: Dataset[_]): GeneralizedKMeansModel = {
    val t0 = System.currentTimeMillis()
    val df0 = dataset.toDF()
    transformSchema(df0.schema)
    val (dfArr, arrCol) = FeatureCols.asArray(df0, $(featuresCol))
    val data = dfArr.select(col(arrCol)).persist(StorageLevel.MEMORY_AND_DISK)
    val n = data.count()
    val model =
      if ($(useNystrom) || n > $(maxDriverPoints)) fitNystrom(data, arrCol, n, t0)
      else fitExact(data, arrCol, t0)
    data.unpersist()
    model
  }

  /** Exact dense path (gated): reference-equivalent semantics. */
  private def fitExact(data: DataFrame, arrCol: String, t0: Long): GeneralizedKMeansModel = {
    val pts = data.collect().map(_.getSeq[Double](0).toArray)
    val n = pts.length
    val kern = mercer
    val w = SpectralGraph.buildAffinity(pts, kern, $(affinityType), $(numNeighbors), $(epsilon))
    val emb = SpectralGraph.embedding(w, $(laplacianType), $(k))
    // local k-means on the n x k embedding (points already on the driver)
    val se = new graft.kernels.SquaredEuclideanKernel
    val ones = Array.fill(n)(1.0)
    val init =
      if (n <= $(k)) emb
      else CenterInit.localKMeansPlusPlusBest(emb, ones, $(k), se, $(seed))
    val centers = LocalLloyds.run(emb, ones, $(k), se, $(maxIter), $(tol), $(seed),
      initCenters = Some(init))
    val model = new ExactSpectralModel(uid, centers, pts, emb)
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "SpectralClustering", $(k), centers.length,
      pts.headOption.map(_.length).getOrElse(0), n, $(maxIter), converged = true,
      Nil, Nil, s"spectral(${kern.name},${$(laplacianType)})",
      System.currentTimeMillis() - t0))
    model
  }

  /** Distributed Nystrom path — see class doc for the plan shape. */
  private def fitNystrom(data: DataFrame, arrCol: String, n: Long, t0: Long): GeneralizedKMeansModel = {
    val m = math.min($(numLandmarks).toLong, n).toInt
    val kern = mercer
    val landmarks = CenterInit.samplePoints(data, arrCol, m, $(seed), n).toArray
    val invSqrtB = SpectralNystrom.invSqrt(kern.gram(landmarks))
    val sc = data.sparkSession.sparkContext

    // phi column (m-dim feature-map approximation)
    val phiUdf = SpectralNystrom.embedUdf(sc, landmarks, invSqrtB, kern)
    val withPhi = data.withColumn("__phi", phiUdf(col(arrCol)))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // one vector-sum job: s = sum_j phi_j  ->  degrees d_i = phi_i . s
    // (the one-slot center sums' first m entries)
    val s = CenterSums.values(withPhi.agg(CenterSums.column(
      col("__phi"), lit(0), lit(1.0), lit(0.0), CenterSums.Identity, 1, m))
      .head(), 0).take(m)

    val lt = $(laplacianType).toLowerCase
    val normalizeByDegree = lt != "unnormalized"
    val psiUdf = SpectralNystrom.psiUdf(sc, s, normalizeByDegree)
    val withPsi = withPhi.withColumn("__psi", psiUdf(col("__phi")))

    // one treeAggregate: C = sum_i psi_i psi_i^T (m x m) — per-partition
    // imperative outer-product accumulation (the one genuinely RDD-shaped
    // step; everything else stays DataFrame)
    val cov = withPsi.select(col("__psi")).rdd
      .treeAggregate(Array.ofDim[Double](m, m))(
        seqOp = (acc, row) => {
          val p = row.getSeq[Double](0).toArray
          var i = 0
          while (i < m) {
            val pi = p(i)
            if (pi != 0.0) {
              val ai = acc(i)
              var j = 0
              while (j < m) { ai(j) += pi * p(j); j += 1 }
            }
            i += 1
          }
          acc
        },
        combOp = (a, b) => {
          var i = 0
          while (i < m) {
            var j = 0
            while (j < m) { a(i)(j) += b(i)(j); j += 1 }
            i += 1
          }
          a
        })

    // top-k eigenpairs of C (ascending from eigSym -> take the tail)
    val eig = breeze.linalg.eigSym(breeze.linalg.DenseMatrix(cov.map(_.toSeq): _*))
    val kk = math.min($(k), m)
    // spectral projector columns: v_e / sqrt(lambda_e), largest first
    val proj = Array.ofDim[Double](m, kk)
    var e = 0
    while (e < kk) {
      val srcCol = m - 1 - e
      val lam = math.max(eig.eigenvalues(srcCol), 1e-12)
      val isc = 1.0 / math.sqrt(lam)
      var i = 0
      while (i < m) { proj(i)(e) = eig.eigenvectors(i, srcCol) * isc; i += 1 }
      e += 1
    }
    val rowNorm = lt == "symmetric"
    val specUdf = SpectralNystrom.projectUdf(sc, proj, rowNorm)
    val embedded = withPsi.withColumn("__spec", specUdf(col("__psi"))).select(col("__spec"))

    val gk = new GeneralizedKMeans()
      .setK($(k)).setSeed($(seed)).setMaxIter($(maxIter)).setTol($(tol))
      .setFeaturesCol("__spec")
    val inner = gk.fit(embedded)
    withPhi.unpersist()

    val model = new NystromSpectralModel(uid, inner.clusterCenters,
      landmarks, invSqrtB, s, proj, rowNorm, normalizeByDegree,
      $(kernelType), $(gamma), $(degree))
    copyValues(model.setParent(this))
    model.trainingSummary = inner.trainingSummary.map(_.copy(
      algorithm = "SpectralClustering",
      divergence = s"spectral(${kern.name},${$(laplacianType)},nystrom)",
      elapsedMillis = System.currentTimeMillis() - t0))
    model
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)
  override def copy(extra: ParamMap): SpectralClustering = defaultCopy(extra)
}

/** Shared Nystrom linear algebra (also reusable by KernelKMeans). */
object SpectralNystrom {

  /** Symmetric inverse square root via eigendecomposition (driver, m^3). */
  def invSqrt(a: Array[Array[Double]]): Array[Array[Double]] = {
    val m = a.length
    val eig = breeze.linalg.eigSym(breeze.linalg.DenseMatrix(a.map(_.toSeq): _*))
    val out = Array.ofDim[Double](m, m)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < m) {
        var s = 0.0
        var e = 0
        while (e < m) {
          val l = eig.eigenvalues(e)
          if (l > 1e-10) s += eig.eigenvectors(i, e) * eig.eigenvectors(j, e) / math.sqrt(l)
          e += 1
        }
        out(i)(j) = s
        j += 1
      }
      i += 1
    }
    out
  }

  /** UDF mapping a feature row to phi(x) = W k(x, landmarks). */
  def embedUdf(
      sc: org.apache.spark.SparkContext,
      landmarks: Array[Array[Double]],
      whitener: Array[Array[Double]],
      kern: MercerKernel): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bcL = sc.broadcast(landmarks)
    val bcW = sc.broadcast(whitener)
    val bcK = sc.broadcast(kern)
    udf { (xs: Seq[Double]) =>
      val x = xs.toArray
      val ls = bcL.value
      val mm = ls.length
      val kx = new Array[Double](mm)
      var i = 0
      while (i < mm) { kx(i) = bcK.value(x, ls(i)); i += 1 }
      val w = bcW.value
      val out = new Array[Double](mm)
      i = 0
      while (i < mm) {
        var acc = 0.0
        var j = 0
        while (j < mm) { acc += w(i)(j) * kx(j); j += 1 }
        out(i) = acc
        i += 1
      }
      out
    }
  }

  /** UDF degree-normalizing the feature map: psi = phi / sqrt(phi · s)
    * with s the column sum of phi, or phi unchanged.
    */
  def psiUdf(
      sc: org.apache.spark.SparkContext,
      degreeSum: Array[Double],
      normalize: Boolean): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bcS = sc.broadcast(degreeSum)
    udf { (phi: Seq[Double]) =>
      val x = phi.toArray
      if (normalize) {
        val s = bcS.value
        var d = 0.0
        var i = 0
        while (i < x.length) { d += x(i) * s(i); i += 1 }
        val scale = 1.0 / math.sqrt(math.max(d, 1e-12))
        i = 0
        while (i < x.length) { x(i) *= scale; i += 1 }
      }
      x
    }
  }

  /** UDF projecting psi onto the spectral basis, optionally row-normalized. */
  def projectUdf(
      sc: org.apache.spark.SparkContext,
      proj: Array[Array[Double]],
      rowNormalize: Boolean): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bcP = sc.broadcast(proj)
    udf { (psiSeq: Seq[Double]) =>
      val psi = psiSeq.toArray
      val p = bcP.value
      val mm = p.length
      val kk = if (mm > 0) p(0).length else 0
      val u = new Array[Double](kk)
      var e = 0
      while (e < kk) {
        var acc = 0.0
        var i = 0
        while (i < mm) { acc += psi(i) * p(i)(e); i += 1 }
        u(e) = acc
        e += 1
      }
      if (rowNormalize) {
        var s = 0.0
        var t = 0
        while (t < kk) { s += u(t) * u(t); t += 1 }
        val nrm = math.sqrt(s)
        if (nrm > 1e-12) { t = 0; while (t < kk) { u(t) /= nrm; t += 1 } }
      }
      u
    }
  }
}

/** Exact-path model: new rows borrow the embedding of their nearest
  * training point (input space), then take the nearest embedding center —
  * the reference's out-of-sample rule (ml/SpectralClustering.scala:463-506).
  * Support size is capped by the estimator's maxDriverPoints.
  */
class ExactSpectralModel(
    uid: String,
    embCenters: Array[Array[Double]],
    val trainPoints: Array[Array[Double]],
    val trainEmbedding: Array[Array[Double]])
    extends GeneralizedKMeansModel(uid, embCenters, "squaredEuclidean", 1e-10) {

  override def write: org.apache.spark.ml.util.MLWriter = new ExactSpectralModel.Writer(this)

  override def transform(dataset: Dataset[_]): DataFrame = {
    val (df, arrCol) = FeatureCols.asArray(dataset.toDF(), $(featuresCol))
    val sc = df.sparkSession.sparkContext
    val bcT = sc.broadcast(trainPoints)
    val bcE = sc.broadcast(trainEmbedding)
    val bcC = sc.broadcast(clusterCenters)
    val u = udf { (xs: Seq[Double]) =>
      val x = xs.toArray
      val tp = bcT.value
      var nearest = 0
      var nd = Double.MaxValue
      var i = 0
      while (i < tp.length) {
        var s = 0.0
        var t = 0
        while (t < x.length) { val d = x(t) - tp(i)(t); s += d * d; t += 1 }
        if (s < nd) { nd = s; nearest = i }
        i += 1
      }
      val emb = bcE.value(nearest)
      val cs = bcC.value
      var best = 0
      var bd = Double.MaxValue
      i = 0
      while (i < cs.length) {
        var s = 0.0
        var t = 0
        while (t < emb.length) { val d = emb(t) - cs(i)(t); s += d * d; t += 1 }
        if (s < bd) { bd = s; best = i }
        i += 1
      }
      best
    }
    val out = df.withColumn($(predictionCol), u(col(arrCol)))
    if (arrCol != $(featuresCol)) out.drop(arrCol) else out
  }
}

/** Nystrom-path model: fully out-of-sample — any row is embedded through
  * the stored landmarks/whitener/degree-sum/spectral projector and scored
  * against the embedding-space centers. No training rows are retained.
  */
class NystromSpectralModel(
    uid: String,
    embCenters: Array[Array[Double]],
    val landmarks: Array[Array[Double]],
    val whitener: Array[Array[Double]],
    val degreeSum: Array[Double],
    val projector: Array[Array[Double]],
    val rowNormalized: Boolean,
    val degreeNormalized: Boolean,
    val kernelTypeName: String,
    val gammaValue: Double,
    val degreeValue: Int)
    extends GeneralizedKMeansModel(uid, embCenters, "squaredEuclidean", 1e-10) {

  override def write: org.apache.spark.ml.util.MLWriter = new NystromSpectralModel.Writer(this)

  private def kern: MercerKernel = MercerKernel(kernelTypeName, gammaValue, degreeValue)

  /** Append the spectral-embedding column for a frame. */
  def embed(df0: DataFrame, featuresColName: String, outCol: String): DataFrame = {
    val (df, arrCol) = FeatureCols.asArray(df0, featuresColName)
    val sc = df.sparkSession.sparkContext
    val phiU = SpectralNystrom.embedUdf(sc, landmarks, whitener, kern)
    val psiU = SpectralNystrom.psiUdf(sc, degreeSum, degreeNormalized)
    val specU = SpectralNystrom.projectUdf(sc, projector, rowNormalized)
    val out = df.withColumn(outCol, specU(psiU(phiU(col(arrCol)))))
    if (arrCol != featuresColName) out.drop(arrCol) else out
  }

  override def transform(dataset: Dataset[_]): DataFrame = {
    val tmp = s"__${uid}_spec"
    val embedded = embed(dataset.toDF(), $(featuresCol), tmp)
    val assigned = Assignment.assign(embedded, tmp,
      new graft.kernels.SquaredEuclideanKernel, clusterCenters,
      getAssignmentStrategy, s"__${uid}_c", s"__${uid}_d")
    assigned
      .withColumn($(predictionCol), col(s"__${uid}_c"))
      .drop(tmp, s"__${uid}_c", s"__${uid}_d")
  }
}

object NystromSpectralModel extends org.apache.spark.ml.util.MLReadable[NystromSpectralModel] {
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.json4s._
  import org.json4s.JsonDSL._

  private[graft] class Writer(m: NystromSpectralModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      ModelIO.writeMeta(path, sparkSession, m,
        ("kernelType" -> m.kernelTypeName) ~ ("gamma" -> m.gammaValue) ~
          ("degree" -> m.degreeValue) ~ ("rowNormalized" -> m.rowNormalized) ~
          ("degreeNormalized" -> m.degreeNormalized) ~
          ("degreeSum" -> m.degreeSum.toSeq),
        Seq("centers", "landmarks", "whitener", "projector"))
      ModelIO.writeMatrix(path, "centers", sparkSession, m.clusterCenters)
      ModelIO.writeMatrix(path, "landmarks", sparkSession, m.landmarks)
      ModelIO.writeMatrix(path, "whitener", sparkSession, m.whitener)
      ModelIO.writeMatrix(path, "projector", sparkSession, m.projector)
    }
  }

  override def read: MLReader[NystromSpectralModel] = new MLReader[NystromSpectralModel] {
    override def load(path: String): NystromSpectralModel = {
      implicit val fmt: Formats = DefaultFormats
      val (uid, paramMap, extra) = ModelIO.extract(ModelIO.readMeta(path, sparkSession))
      val m = new NystromSpectralModel(uid,
        ModelIO.readMatrix(path, "centers", sparkSession),
        ModelIO.readMatrix(path, "landmarks", sparkSession),
        ModelIO.readMatrix(path, "whitener", sparkSession),
        (extra \ "degreeSum").extract[Seq[Double]].toArray,
        ModelIO.readMatrix(path, "projector", sparkSession),
        (extra \ "rowNormalized").extract[Boolean],
        (extra \ "degreeNormalized").extract[Boolean],
        (extra \ "kernelType").extract[String],
        (extra \ "gamma").extract[Double],
        (extra \ "degree").extract[Int])
      GeneralizedKMeansModel.restoreParams(m, paramMap)
      m
    }
  }
}

object ExactSpectralModel extends org.apache.spark.ml.util.MLReadable[ExactSpectralModel] {
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.json4s._

  private[graft] class Writer(m: ExactSpectralModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      ModelIO.writeMeta(path, sparkSession, m, JObject(Nil),
        Seq("centers", "trainPoints", "trainEmbedding"))
      ModelIO.writeMatrix(path, "centers", sparkSession, m.clusterCenters)
      ModelIO.writeMatrix(path, "trainPoints", sparkSession, m.trainPoints)
      ModelIO.writeMatrix(path, "trainEmbedding", sparkSession, m.trainEmbedding)
    }
  }

  override def read: MLReader[ExactSpectralModel] = new MLReader[ExactSpectralModel] {
    override def load(path: String): ExactSpectralModel = {
      val (uid, paramMap, _) = ModelIO.extract(ModelIO.readMeta(path, sparkSession))
      val m = new ExactSpectralModel(uid,
        ModelIO.readMatrix(path, "centers", sparkSession),
        ModelIO.readMatrix(path, "trainPoints", sparkSession),
        ModelIO.readMatrix(path, "trainEmbedding", sparkSession))
      GeneralizedKMeansModel.restoreParams(m, paramMap)
      m
    }
  }
}

object SpectralClustering extends org.apache.spark.ml.util.DefaultParamsReadable[SpectralClustering]
