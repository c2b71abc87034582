package graft.clustering

import graft.functions.CenterSums
import graft.kernels._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** One view of a multi-view dataset: a feature column with its own
  * divergence and relative weight (reference: ml/MultiViewKMeans.scala:40-47).
  */
case class ViewSpec(
    featuresCol: String,
    weight: Double = 1.0,
    divergence: String = "squaredEuclidean") {
  require(weight > 0.0, s"View weight must be positive, got $weight")
  require(featuresCol.nonEmpty, "Feature column name cannot be empty")
}

/** Multi-view k-means: each row carries several feature columns (views),
  * each with its own Bregman divergence and weight; the assignment
  * minimizes the combined distance (weighted sum / max / min over views)
  * and every view keeps its own centers, updated from the shared
  * assignment. (reference: ml/MultiViewKMeans.scala:185-330.)
  *
  * Scale design: ONE aggregation job per iteration. The assignment UDF
  * computes the combined argmin AND the concatenation of all per-view
  * gradients; a single groupBy(cluster) aggregation (constant-size typed
  * buffer of total dimension) yields every view's gradient sums at once,
  * and the driver splits them back per view for invGrad. The reference
  * runs per-view RDD aggregations; this is one hash-agg regardless of the
  * number of views.
  */
class MultiViewKMeans(override val uid: String)
    extends Estimator[MultiViewKMeansModel] with GeneralizedKMeansParams {

  def this() = this(Identifiable.randomUID("multiview"))

  final val combineStrategy = new Param[String](this, "combineStrategy",
    "weighted|max|min", ParamValidators.inArray(Array("weighted", "max", "min")))
  def setCombineStrategy(v: String): this.type = set(combineStrategy, v)

  final val normalizeWeights = new BooleanParam(this, "normalizeWeights",
    "normalize view weights to sum to 1")
  def setNormalizeWeights(v: Boolean): this.type = set(normalizeWeights, v)

  setDefault(combineStrategy -> "weighted", normalizeWeights -> true)

  private var viewSpecs: Seq[ViewSpec] = Seq.empty
  def setViews(views: Seq[ViewSpec]): this.type = { viewSpecs = views; this }
  def getViews: Seq[ViewSpec] = viewSpecs
  def numViews: Int = viewSpecs.length

  /** Warm start: per-view initial centers, indexed (view)(cluster)(dim) —
    * same contract as GeneralizedKMeans.setInitialCenters; not persisted.
    */
  @transient private var initialViewCentersOpt: Option[Array[Array[Array[Double]]]] = None
  def setInitialCenters(cs: Array[Array[Array[Double]]]): this.type = {
    initialViewCentersOpt = Option(cs); this
  }

  def setK(v: Int): this.type = set(k, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setSmoothing(v: Double): this.type = set(smoothing, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  override def fit(dataset: Dataset[_]): MultiViewKMeansModel = {
    require(viewSpecs.nonEmpty, "Views must be set before fit(). Use setViews().")
    val t0 = System.currentTimeMillis()
    val df0 = dataset.toDF()
    viewSpecs.foreach { v =>
      require(df0.schema.fieldNames.contains(v.featuresCol),
        s"view column '${v.featuresCol}' not found")
    }
    val weights = {
      val raw = viewSpecs.map(_.weight)
      if ($(normalizeWeights)) { val t = raw.sum; raw.map(_ / t) } else raw
    }.toArray
    val kernels = viewSpecs.map(v => KernelFactory(v.divergence, $(smoothing))).toArray

    // normalize every view to array<double>, project to just the views
    var data = df0
    val arrCols = viewSpecs.zipWithIndex.map { case (v, i) =>
      val (d2, c) = FeatureCols.asArray(data, v.featuresCol)
      data = d2
      c
    }
    val proj = data.select(arrCols.map(c => col(c).cast("array<double>")): _*).toDF(
      arrCols.indices.map(i => s"__v$i"): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = proj.count()
    val head = proj.head()
    val dims = arrCols.indices.map(i => head.getSeq[Double](i).length).toArray
    val dimTotal = dims.sum
    val offsets = dims.scanLeft(0)(_ + _)

    // shared-row init: ONE sample drives every view's initial centers
    // (unless warm-started with explicit per-view centers)
    var centers: Array[Array[Array[Double]]] = initialViewCentersOpt match {
      case Some(cs) =>
        require(cs.length == viewSpecs.length,
          s"initialCenters has ${cs.length} views, estimator has ${viewSpecs.length}")
        require(cs.forall(_.length == $(k)),
          s"initialCenters must provide k=${$(k)} centers per view")
        cs.indices.foreach(v => CenterInit.validateExplicit(cs(v), $(k), dims(v)))
        cs.map(_.map(_.clone()))
      case None =>
        val initRows = sampleRows(proj, $(k), $(seed), n)
        Array.tabulate(viewSpecs.length) { v =>
          initRows.map(r => r.getSeq[Double](v).toArray)
        }
    }

    val sc = proj.sparkSession.sparkContext
    val strat = $(combineStrategy)
    val viewArr = array(arrCols.indices.map(i => col(s"__v$i")): _*)
    val distHist = Seq.newBuilder[Double]
    var iter = 0
    var converged = false

    while (iter < $(maxIter) && !converged) {
      val bcC = sc.broadcast(centers)
      val bcK = sc.broadcast(kernels)
      val bcW = sc.broadcast(weights)
      val assignUdf = udf { (views: Seq[Seq[Double]]) =>
        val cs = bcC.value
        val ks = bcK.value
        val ws = bcW.value
        val nv = cs.length
        val kk = cs(0).length
        val xs = views.iterator.map(_.toArray).toArray
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < kk) {
          var combined = if (strat == "max") Double.MinValue
            else if (strat == "min") Double.MaxValue else 0.0
          var v = 0
          while (v < nv) {
            val d = ks(v).divergence(xs(v), cs(v)(c))
            strat match {
              case "weighted" => combined += ws(v) * d
              case "max"      => if (d > combined) combined = d
              case "min"      => if (d < combined) combined = d
            }
            v += 1
          }
          if (combined < bd) { bd = combined; best = c }
          c += 1
        }
        // concatenated per-view gradients for the one-job update
        val grad = new Array[Double](bcC.value.map(_.headOption.map(_.length).getOrElse(0)).sum)
        var off = 0
        var v = 0
        while (v < nv) {
          val g = ks(v).grad(xs(v))
          System.arraycopy(g, 0, grad, off, g.length)
          off += g.length
          v += 1
        }
        (best, bd, grad.toSeq)
      }
      val assigned = proj.withColumn("__a", assignUdf(viewArr))
        .select(col("__a._1").as("cluster"), col("__a._3").as("grad"), col("__a._2").as("dist"))
      // the concatenated gradients are already in dual space: plain sums
      val kk = centers(0).length
      val gsum = CenterSums.values(assigned.agg(CenterSums.column(
        col("grad"), col("cluster"), lit(1.0), col("dist"),
        CenterSums.Identity, kk, dimTotal)).head(), 0)

      var distortion = 0.0
      val newByCluster = scala.collection.mutable.Map[Int, Array[Array[Double]]]()
      (0 until kk).foreach { cid =>
        val base = cid * (dimTotal + 2)
        val wsum = gsum(base + dimTotal)
        distortion += gsum(base + dimTotal + 1)
        if (wsum > 0) {
          newByCluster(cid) = Array.tabulate(viewSpecs.length) { v =>
            val mean = new Array[Double](dims(v))
            var i = 0
            while (i < dims(v)) { mean(i) = gsum(base + offsets(v) + i) / wsum; i += 1 }
            kernels(v).invGrad(mean)
          }
        }
      }
      distHist += distortion

      val missing = (0 until kk).filterNot(newByCluster.contains)
      var movement = 0.0
      if (missing.nonEmpty) {
        val repl = sampleRows(proj, missing.size, $(seed) + iter + 1, n)
        missing.zip(repl).foreach { case (cid, row) =>
          newByCluster(cid) = Array.tabulate(viewSpecs.length)(v => row.getSeq[Double](v).toArray)
        }
        movement = Double.MaxValue
      } else {
        var c = 0
        while (c < kk) {
          var v = 0
          while (v < viewSpecs.length) {
            var s = 0.0
            var i = 0
            while (i < dims(v)) {
              val d = centers(v)(c)(i) - newByCluster(c)(v)(i); s += d * d; i += 1
            }
            movement = math.max(movement, math.sqrt(s))
            v += 1
          }
          c += 1
        }
      }
      centers = Array.tabulate(viewSpecs.length)(v => Array.tabulate(kk)(c => newByCluster(c)(v)))
      iter += 1
      if (movement < $(tol)) converged = true
    }
    proj.unpersist()

    val model = new MultiViewKMeansModel(uid, centers, viewSpecs, weights, $(combineStrategy),
      $(smoothing))
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "MultiViewKMeans", $(k), centers(0).length, dimTotal, n, iter, converged,
      distHist.result(), Nil, viewSpecs.map(_.divergence).mkString(","),
      System.currentTimeMillis() - t0))
    model
  }

  /** k random rows of the projected frame (all views at once). */
  private def sampleRows(proj: DataFrame, k: Int, seed: Long, n: Long): Array[org.apache.spark.sql.Row] = {
    val fraction = math.min(1.0, (10.0 * k) / math.max(1L, n))
    var rows = proj.sample(withReplacement = false, fraction, seed)
      .orderBy(rand(seed + 7)).limit(k).collect()
    if (rows.length < k) rows = proj.limit(k).collect()
    rows
  }

  override def transformSchema(schema: StructType): StructType = {
    schema.add($(predictionCol), org.apache.spark.sql.types.IntegerType, nullable = false)
  }
  override def copy(extra: ParamMap): MultiViewKMeans = {
    val c = defaultCopy[MultiViewKMeans](extra)
    c.viewSpecs = viewSpecs
    c
  }
}

/** Fitted multi-view model: per-view centers (centers(view)(cluster)),
  * combined-distance transform.
  */
class MultiViewKMeansModel(
    override val uid: String,
    val viewCenters: Array[Array[Array[Double]]],
    val views: Seq[ViewSpec],
    val viewWeights: Array[Double],
    val combineStrategyName: String,
    val smoothingValue: Double)
    extends Model[MultiViewKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.MLWritable {

  override def write: org.apache.spark.ml.util.MLWriter = new MultiViewKMeansModel.Writer(this)

  private[graft] var trainingSummary: Option[TrainingSummary] = None
  def summary: TrainingSummary = trainingSummary.getOrElse(
    throw new IllegalStateException("No training summary"))

  def numClusters: Int = viewCenters.headOption.map(_.length).getOrElse(0)

  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  override def transform(dataset: Dataset[_]): DataFrame = {
    var data = dataset.toDF()
    val arrCols = views.map { v =>
      val (d2, c) = FeatureCols.asArray(data, v.featuresCol)
      data = d2
      c
    }
    val kernels = views.map(v => KernelFactory(v.divergence, smoothingValue)).toArray
    val sc = data.sparkSession.sparkContext
    val bcC = sc.broadcast(viewCenters)
    val bcK = sc.broadcast(kernels)
    val bcW = sc.broadcast(viewWeights)
    val strat = combineStrategyName
    val u = udf { (viewsIn: Seq[Seq[Double]]) =>
      val cs = bcC.value
      val ks = bcK.value
      val ws = bcW.value
      val nv = cs.length
      val kk = cs(0).length
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < kk) {
        var combined = if (strat == "max") Double.MinValue
          else if (strat == "min") Double.MaxValue else 0.0
        var v = 0
        while (v < nv) {
          val d = ks(v).divergence(viewsIn(v).toArray, cs(v)(c))
          strat match {
            case "weighted" => combined += ws(v) * d
            case "max"      => if (d > combined) combined = d
            case "min"      => if (d < combined) combined = d
          }
          v += 1
        }
        if (combined < bd) { bd = combined; best = c }
        c += 1
      }
      best
    }
    val viewArr = array(arrCols.map(c => col(c).cast("array<double>")): _*)
    val out = data.withColumn($(predictionCol), u(viewArr))
    val tmp = arrCols.filterNot(views.map(_.featuresCol).contains)
    if (tmp.nonEmpty) out.drop(tmp: _*) else out
  }

  override def transformSchema(schema: StructType): StructType =
    schema.add($(predictionCol), org.apache.spark.sql.types.IntegerType, nullable = false)

  override def copy(extra: ParamMap): MultiViewKMeansModel = {
    val m = new MultiViewKMeansModel(uid, viewCenters, views, viewWeights,
      combineStrategyName, smoothingValue)
    m.trainingSummary = trainingSummary
    copyValues(m, extra).setParent(parent)
  }
}

object MultiViewKMeansModel extends org.apache.spark.ml.util.MLReadable[MultiViewKMeansModel] {
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.apache.spark.ml.util.{MLReader, MLWriter}
  import org.json4s._
  import org.json4s.JsonDSL._

  private[graft] class Writer(m: MultiViewKMeansModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val viewNames = m.views.indices.map(i => s"view$i")
      ModelIO.writeMeta(path, sparkSession, m,
        ("combineStrategy" -> m.combineStrategyName) ~ ("smoothing" -> m.smoothingValue) ~
          ("viewCols" -> m.views.map(_.featuresCol)) ~
          ("viewWeightsRaw" -> m.views.map(_.weight)) ~
          ("viewDivergences" -> m.views.map(_.divergence)) ~
          ("viewWeights" -> m.viewWeights.toSeq),
        viewNames)
      m.views.indices.foreach { i =>
        ModelIO.writeMatrix(path, s"view$i", sparkSession, m.viewCenters(i))
      }
    }
  }

  override def read: MLReader[MultiViewKMeansModel] = new MLReader[MultiViewKMeansModel] {
    override def load(path: String): MultiViewKMeansModel = {
      implicit val fmt: Formats = DefaultFormats
      val (uid, paramMap, extra) = ModelIO.extract(ModelIO.readMeta(path, sparkSession))
      val cols = (extra \ "viewCols").extract[Seq[String]]
      val raws = (extra \ "viewWeightsRaw").extract[Seq[Double]]
      val divs = (extra \ "viewDivergences").extract[Seq[String]]
      val specs = cols.indices.map(i => ViewSpec(cols(i), raws(i), divs(i)))
      val centers = cols.indices.map(i =>
        ModelIO.readMatrix(path, s"view$i", sparkSession)).toArray
      val m = new MultiViewKMeansModel(uid, centers, specs,
        (extra \ "viewWeights").extract[Seq[Double]].toArray,
        (extra \ "combineStrategy").extract[String],
        (extra \ "smoothing").extract[Double])
      GeneralizedKMeansModel.restoreParams(m, paramMap)
      m
    }
  }
}
