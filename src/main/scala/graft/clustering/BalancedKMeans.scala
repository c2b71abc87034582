package graft.clustering

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Size-balanced k-means (soft mode) via quantile shedding: each iteration,
  * a cluster over `maxClusterSize` sheds its ~oversize-count members with
  * the SMALLEST margin (gap between its distance and the second-best
  * center's) to their second choice. The shed threshold is the per-cluster
  * gap quantile at fraction `penaltyStrength * oversize/size`, so the
  * number of moved points is proportional to the overflow — a proportional
  * controller that converges instead of oscillating. (A uniform penalty —
  * multiplicative or additive — inflates EVERY member's cost equally, so
  * an oversized cluster dumps wholesale and sizes never settle; observed
  * as a 489-of-500 collapse on unit-norm embeddings, where margins are
  * tiny relative to any global penalty.)
  * (reference: ml/BalancedKMeans.scala:110-320, soft path at :384-425. The
  * reference's `hard` mode redistributes points in a driver-side loop over
  * the COLLECTED dataset — that shape cannot scale and is deliberately not
  * reproduced; quantile shedding is the distributed formulation.)
  *
  * Scale design: ONE job per iteration — the shed-aware argmin UDF feeds a
  * single groupBy(cluster) aggregation computing the center sums, sizes,
  * AND the gap-quantile grid together. Sizes/thresholds are LAGGED (from
  * iteration i-1), so no extra counting scan exists; iteration 1 runs
  * unpenalized — exactly a plain Lloyd step.
  */
class BalancedKMeans(override val uid: String)
    extends Estimator[GeneralizedKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("balancedkmeans"))

  final val maxClusterSize = new IntParam(this, "maxClusterSize",
    "soft size cap; 0 = auto (n/k * 1.1)", ParamValidators.gtEq(0))
  def getMaxClusterSize: Int = $(maxClusterSize)
  def setMaxClusterSize(v: Int): this.type = set(maxClusterSize, v)

  final val balancePenalty = new DoubleParam(this, "balancePenalty",
    "shed aggressiveness: fraction multiplier on oversize/size (values ~1 " +
      "shed the exact overflow per iteration; higher overshoots)",
    ParamValidators.gtEq(0))
  def getBalancePenalty: Double = $(balancePenalty)
  def setBalancePenalty(v: Double): this.type = set(balancePenalty, v)

  setDefault(maxClusterSize -> 0, balancePenalty -> 0.5)

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

  /** Quantile grid for the lagged shed thresholds (fractions 0.05..0.95). */
  private val QuantileGrid: Array[Double] = (1 to 19).map(_ * 0.05).toArray

  override def fit(dataset: Dataset[_]): GeneralizedKMeansModel = {
    val t0 = System.currentTimeMillis()
    val df0 = dataset.toDF()
    transformSchema(df0.schema)
    val (dfArr, arrCol) = FeatureCols.asArray(df0, $(featuresCol))
    val kern = kernel
    val data = dfArr.select(col(arrCol)).persist(StorageLevel.MEMORY_AND_DISK)
    val n = data.count()
    val dim = data.select(col(arrCol)).head().getSeq[Double](0).length
    val maxSize =
      if ($(maxClusterSize) > 0) $(maxClusterSize)
      else math.ceil(n.toDouble / $(k) * 1.1).toInt
    val aggressiveness = $(balancePenalty)

    var centers = CenterInit.initialize(data,
      LloydsConfig(k = $(k), kernel = kern, seed = $(seed), initMode = $(initMode),
        featuresCol = arrCol, initialCenters = initialCentersOpt), dim, n)
    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]
    val sc = data.sparkSession.sparkContext

    // Lagged control state: shedThr(c) > 0 means cluster c is oversized and
    // members with margin below the threshold go to their second choice.
    var shedThr: Array[Double] = Array.fill(centers.length)(0.0)

    while (iter < $(maxIter) && !converged) {
      val bcC = sc.broadcast(centers)
      val bcK = sc.broadcast(kern)
      val bcT = sc.broadcast(shedThr)
      // emits (cluster, dist-of-chosen, margin gap of the PLAIN ranking)
      val balUdf = udf { (xs: Seq[Double]) =>
        val x = xs.toArray
        val cs = bcC.value
        var best = 0; var bd = Double.MaxValue
        var second = 0; var sd = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val d = bcK.value.divergence(x, cs(i))
          if (d < bd) { sd = bd; second = best; bd = d; best = i }
          else if (d < sd) { sd = d; second = i }
          i += 1
        }
        val gap = if (sd == Double.MaxValue) Double.MaxValue else sd - bd
        if (cs.length > 1 && bcT.value(best) > 0.0 && gap < bcT.value(best))
          (second, sd, gap)
        else (best, bd, gap)
      }
      val assigned = data.withColumn("__b", balUdf(col(arrCol)))
        .withColumn("cluster", col("__b._1"))
        .withColumn("dist", col("__b._2"))
        .withColumn("__gap", col("__b._3"))
        .drop("__b")

      // ONE aggregation: per-cluster center sums (one-slot form) + gap
      // quantiles, grouped because the quantiles are per cluster.
      val rows = assigned.groupBy(col("cluster"))
        .agg(Update.sumsCol(arrCol, lit(1.0), kern, dim),
          percentile_approx(col("__gap"),
            array(QuantileGrid.map(lit(_)).toIndexedSeq: _*), lit(1000)).as("q"))
        .collect()
      val upd = Update.grouped(rows, kern, dim)
      val gapQ = rows.map(r => r.getInt(0) -> r.getSeq[Double](2)).toMap
      distHist += upd.distortion

      // next iteration's shed thresholds from this iteration's sizes
      shedThr = Array.tabulate(centers.length) { c =>
        val size = upd.weights.getOrElse(c, 0.0)
        val over = size - maxSize
        if (over <= 0 || size <= 0) 0.0
        else {
          val frac = math.min(0.95, aggressiveness * over / size)
          val gi = math.max(0, math.min(QuantileGrid.length - 1,
            math.round(frac / 0.05).toInt - 1))
          gapQ.get(c).map(_(gi)).getOrElse(0.0)
        }
      }

      // a cluster emptied by shedding is RESEEDED, not dropped, so k holds
      val missing = centers.indices.filterNot(upd.centers.contains)
      val next: Array[Array[Double]] =
        if (missing.isEmpty) Array.tabulate(centers.length)(i => upd.centers(i))
        else {
          val repl = missing.zip(
            CenterInit.samplePoints(data, arrCol, missing.size, $(seed) + iter, n)).toMap
          Array.tabulate(centers.length)(i =>
            upd.centers.getOrElse(i, repl.getOrElse(i, centers(i))))
        }
      val movement =
        if (missing.nonEmpty) Double.MaxValue
        else centers.zip(next).map { case (a, b) =>
          math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
        }.max
      centers = next
      iter += 1
      // converge only once the size caps are also satisfied
      if (movement < $(tol) && shedThr.forall(_ == 0.0)) converged = true
    }
    data.unpersist()

    val model = new GeneralizedKMeansModel(uid, centers, $(divergence), $(smoothing))
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "BalancedKMeans", $(k), centers.length, dim, n, iter, converged,
      distHist.result(), Nil, kern.name, System.currentTimeMillis() - t0))
    model
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)
  override def copy(extra: ParamMap): BalancedKMeans = defaultCopy(extra)
}

object BalancedKMeans extends org.apache.spark.ml.util.DefaultParamsReadable[BalancedKMeans] {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window

  /** HARD capacity assignment: no cluster receives more than `maxSize`
    * rows. Round r places each still-unplaced row at its r-th-choice
    * cluster, keeping the `remaining-capacity` closest rows per cluster
    * (windowed rank by distance — the distributed formulation of the
    * reference's driver-side redistribution loop,
    * ml/BalancedKMeans.scala:384-425). At most k rounds; each round is
    * one window pass over the shrinking unplaced set plus a k-row
    * capacity collect. Requires k * maxSize >= n.
    */
  def hardAssign(
      df: DataFrame,
      featuresCol: String,
      centers: Array[Array[Double]],
      kernel: graft.kernels.BregmanKernel,
      maxSize: Long,
      outputCol: String = "prediction"): DataFrame = {
    val k = centers.length
    require(k > 0, "no centers")
    val sc = df.sparkSession.sparkContext
    val bcC = sc.broadcast(centers)
    val bcK = sc.broadcast(kernel)
    // full preference list per row: clusters sorted by divergence
    val prefUdf = udf { (xs: Seq[Double]) =>
      val x = xs.toArray
      bcC.value.indices.map(c => (bcK.value.divergence(x, bcC.value(c)), c))
        .sortBy(identity).map { case (d, c) => (c, d) }
    }
    val (arr, arrCol) = FeatureCols.asArray(df, featuresCol)
    var unplaced = arr
      .withColumn("__id", monotonically_increasing_id())
      .withColumn("__pref", prefUdf(col(arrCol)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val capacity = scala.collection.mutable.Map((0 until k).map(_ -> maxSize): _*)
    var placed: DataFrame = null
    var round = 0
    while (round < k && !unplaced.isEmpty) {
      val cand = unplaced
        .withColumn("__c", col("__pref").getItem(round).getField("_1"))
        .withColumn("__d", col("__pref").getItem(round).getField("_2"))
      val capExpr = element_at(
        array((0 until k).map(c => lit(capacity(c))): _*), col("__c") + 1)
      val rank = row_number().over(Window.partitionBy(col("__c"))
        .orderBy(col("__d"), col("__id")))
      val ranked = cand.withColumn("__rk", rank)
      val nowPlaced = ranked.where(col("__rk") <= capExpr)
        .withColumn(outputCol, col("__c"))
        .drop("__pref", "__c", "__d", "__rk")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val counts = nowPlaced.groupBy(col(outputCol)).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      counts.foreach { case (c, n) => capacity(c) = capacity(c) - n }
      placed = if (placed == null) nowPlaced else placed.union(nowPlaced)
      val stillUnplaced = ranked.where(col("__rk") > capExpr)
        .drop("__c", "__d", "__rk")
        .persist(StorageLevel.MEMORY_AND_DISK)
      stillUnplaced.count()
      unplaced.unpersist()
      unplaced = stillUnplaced
      round += 1
    }
    // infeasible leftovers (k*maxSize < n): first choice, documented
    val result =
      if (unplaced.isEmpty) placed
      else placed.union(unplaced
        .withColumn(outputCol, col("__pref").getItem(0).getField("_1"))
        .drop("__pref"))
    val dropCols = Seq("__id") ++ (if (arrCol != featuresCol) Seq(arrCol) else Nil)
    result.drop(dropCols: _*)
  }
}
