package graft.clustering

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Top-down hierarchical k-means: repeatedly split the largest divisible
  * cluster with a k=2 Lloyd run until k clusters exist.
  * (reference: ml/BisectingKMeans.scala:93,136-190, split loop at :202,323)
  *
  * Scale design — hybrid distributed-top / local-leaves:
  *  - While a cluster's rows exceed `localFitElements` (rows x dims), it is
  *    held as its OWN persisted DataFrame (a filter over the split parent);
  *    a split touches only the target cluster's rows — one distributed
  *    2-means plus one filter-split over |target| rows, so the total
  *    distributed work is O(n log k) row visits, never a per-split
  *    full-data union/materialization. Per-split input stats (dim, count)
  *    are passed into the sub-fit via LloydsConfig so no redundant
  *    count()/head() jobs run.
  *  - Once a cluster fits in `localFitElements` (default 4M doubles ≈
  *    32 MB), its rows are collected ONCE and every descendant split runs
  *    driver-local with zero Spark jobs (LocalLloyds) — at 100 TB the top
  *    of the tree is distributed and the leaves stop paying per-job
  *    scheduling overhead; at bench scale the whole tree after the first
  *    collect is local (14s -> ~1s for 7 splits on 2k x 64).
  */
class BisectingKMeans(override val uid: String)
    extends Estimator[GeneralizedKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("bisecting-kmeans"))

  /** Minimum cluster size eligible for splitting (count of rows). */
  final val minDivisibleClusterSize = new DoubleParam(this, "minDivisibleClusterSize",
    "minimum number of points a cluster must have to be split", ParamValidators.gtEq(1.0))
  def getMinDivisibleClusterSize: Double = $(minDivisibleClusterSize)
  def setMinDivisibleClusterSize(v: Double): this.type = set(minDivisibleClusterSize, v)

  /** Clusters with rows x dims at or below this are collected to the driver
    * once and split locally (zero Spark jobs for the whole subtree).
    */
  final val localFitElements = new IntParam(this, "localFitElements",
    "max rows*dims for driver-local sub-splits (0 disables the local tier)",
    ParamValidators.gtEq(0))
  def getLocalFitElements: Int = $(localFitElements)
  def setLocalFitElements(v: Int): this.type = set(localFitElements, v)

  setDefault(minDivisibleClusterSize -> 1.0, localFitElements -> (1 << 22))

  def setK(v: Int): this.type = set(k, v)
  def setDivergence(v: String): this.type = set(divergence, v)
  def setSmoothing(v: Double): this.type = set(smoothing, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setWeightCol(v: String): this.type = set(weightCol, v)
  def setCheckpointInterval(v: Int): this.type = set(checkpointInterval, v)

  override def fit(dataset: Dataset[_]): GeneralizedKMeansModel = {
    val t0 = System.currentTimeMillis()
    val df0 = dataset.toDF()
    transformSchema(df0.schema)
    val (dfArr, arrCol) = FeatureCols.asArray(df0, $(featuresCol))
    val kern = kernel
    val wOpt = get(weightCol).filter(_.nonEmpty)
    val keep = (Seq(arrCol) ++ wOpt).distinct
    val wCol = wOpt.map(col).getOrElse(lit(1.0))

    val base = dfArr.select(keep.map(col): _*).persist(StorageLevel.MEMORY_AND_DISK)
    val numPoints = base.count()
    val dim = base.select(col(arrCol)).head().getSeq[Double](0).length

    // initial center: global mean (one aggregation)
    val root = Update.gradMean(
      base.withColumn("cluster", lit(0)).withColumn("dist", lit(0.0)),
      arrCol, wCol, kern, dim, k = 1)
    val centers = scala.collection.mutable.Map[Int, Array[Double]](0 -> root.centers(0))

    // A live cluster's rows: a persisted DataFrame while big, a driver
    // array once it fits localFitElements.
    sealed trait Rows { def size: Long }
    case class DistRows(df: DataFrame, size: Long) extends Rows
    case class LocalRows(points: Array[Array[Double]], weights: Array[Double]) extends Rows {
      def size: Long = points.length.toLong
    }

    def collectLocal(df: DataFrame): LocalRows = {
      val rows = df.select(col(arrCol), wCol.cast("double")).collect()
      val pts = new Array[Array[Double]](rows.length)
      val ws = new Array[Double](rows.length)
      var i = 0
      while (i < rows.length) {
        pts(i) = rows(i).getSeq[Double](0).toArray
        ws(i) = rows(i).getDouble(1)
        i += 1
      }
      LocalRows(pts, ws)
    }

    def isLocalSized(n: Long): Boolean =
      $(localFitElements) > 0 && n * dim <= $(localFitElements)

    val frames = scala.collection.mutable.Map[Int, Rows](
      0 -> (if (isLocalSized(numPoints)) collectLocal(base) else DistRows(base, numPoints)))

    var nextId = 1
    var numSplits = 0

    def cleanup(): Unit = {
      frames.values.foreach { case DistRows(f, _) => f.unpersist(); case _ => () }
      base.unpersist()
    }

    while (centers.size < $(k)) {
      val divisible = frames.view
        .filter { case (_, r) => r.size >= $(minDivisibleClusterSize) && r.size >= 2 }
      if (divisible.isEmpty) {
        cleanup()
        return finish(centers.toMap, numSplits, numPoints, dim, kern.name, t0)
      }
      // largest first; id tie-break for determinism
      val target = divisible.toSeq.maxBy { case (id, r) => (r.size, -id) }._1

      // demote a small distributed cluster to the local tier (one collect;
      // every descendant split of it is then job-free)
      frames(target) match {
        case DistRows(df, n) if isLocalSized(n) =>
          frames(target) = collectLocal(df)
          if (target != 0) df.unpersist()
        case _ => ()
      }

      frames(target) match {
        case lr @ LocalRows(pts, ws) =>
          val cs = LocalLloyds.run(pts, ws, 2, kern, $(maxIter), $(tol), $(seed) + numSplits)
          if (cs.length < 2) {
            cleanup()
            return finish(centers.toMap, numSplits, numPoints, dim, kern.name, t0)
          }
          val side = pts.map { p =>
            if (kern.divergence(p, cs(0)) <= kern.divergence(p, cs(1))) 0 else 1
          }
          def part(s: Int): LocalRows = {
            val sel = pts.indices.filter(side(_) == s)
            LocalRows(sel.map(pts).toArray, sel.map(ws).toArray)
          }
          frames(target) = part(0)
          frames(nextId) = part(1)
          centers(target) = cs(0)
          centers(nextId) = cs(1)

        case DistRows(subset, subsetSize) =>
          val cfg = LloydsConfig(
            k = 2, kernel = kern, maxIter = $(maxIter), tol = $(tol),
            seed = $(seed) + numSplits, initMode = "random",
            assignmentStrategy = $(assignmentStrategy),
            emptyClusterStrategy = "drop",
            featuresCol = arrCol, weightCol = wOpt, validate = false,
            knownDim = Some(dim), knownNumPoints = Some(subsetSize),
            managePersistence = false)
          val split = LloydsIterator.run(subset, cfg)
          if (split.centers.length < 2) {
            cleanup()
            return finish(centers.toMap, numSplits, numPoints, dim, kern.name, t0)
          }
          val reassigned = Assignment
            .assign(subset, arrCol, kern, split.centers, $(assignmentStrategy))
            .select((keep.map(col) :+ col("cluster")): _*)
          def leaf(s: Int): DataFrame = {
            val f = reassigned.where(col("cluster") === s).select(keep.map(col): _*)
            if ((numSplits + 1) % $(checkpointInterval) == 0) f.localCheckpoint()
            else f.persist(StorageLevel.MEMORY_AND_DISK)
          }
          val left = leaf(0)
          val right = leaf(1)
          // materialize BOTH children (two jobs over |target| rows, never
          // n) before dropping the parent so no recompute chain reaches base
          val leftSize = left.count()
          val rightSize = right.count()
          if (target != 0) subset.unpersist() // keep the base frame cached
          frames(target) = DistRows(left, leftSize)
          frames(nextId) = DistRows(right, rightSize)
          centers(target) = split.centers(0)
          centers(nextId) = split.centers(1)
      }
      nextId += 1
      numSplits += 1
    }
    cleanup()
    finish(centers.toMap, numSplits, numPoints, dim, kern.name, t0)
  }

  private def finish(
      centers: Map[Int, Array[Double]],
      numSplits: Int,
      numPoints: Long,
      dim: Int,
      kernName: String,
      t0: Long): GeneralizedKMeansModel = {
    val arr = (0 until centers.size).map(centers).toArray
    val model = new GeneralizedKMeansModel(uid, arr, $(divergence), $(smoothing))
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "BisectingKMeans", $(k), arr.length, dim, numPoints,
      iterations = numSplits, converged = arr.length == $(k),
      distortionHistory = Nil, movementHistory = Nil,
      divergence = kernName, elapsedMillis = System.currentTimeMillis() - t0))
    model
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)
  override def copy(extra: ParamMap): BisectingKMeans = defaultCopy(extra)
}

object BisectingKMeans extends org.apache.spark.ml.util.DefaultParamsReadable[BisectingKMeans]
