package graft.clustering

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.linalg.{SparseVector, Vector}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** K-means for high-dimensional sparse data: iterates NON-ZERO entries
  * only, never densifying rows.
  * (reference: ml/SparseKMeans.scala:116-200 auto-detection,
  * df/kernels/SparseBregmanKernel.scala:64-304 — SE via
  * ||x||^2 + ||mu||^2 - 2<x,mu> over nnz.)
  *
  * Scale design: rows stay (indices, values) pairs end to end —
  *  - assignment: one UDF pass, O(k * nnz) per row against broadcast dense
  *    centers with precomputed ||mu||^2 (the 700+-dim sparse-text use case
  *    in the reference's README is exactly this shape);
  *  - update: one shuffle-free job whose partitions scatter nnz values
  *    into a dense k x d buffer, tree-reduced to the driver — O(nnz) adds
  *    per row (a densify-first plan does O(d));
  *  - `auto` mode samples rows, estimates the density ratio and falls back
  *    to the dense engine when the data isn't actually sparse.
  * Supported sparse divergences: squaredEuclidean and spherical (depend on
  * x only through <x,mu> and ||x||), plus KL and L1 via the zero-term
  * decomposition D(x,mu) = Z(mu) + sum_nnz [f(x_j,mu_j) - f(0,mu_j)] with
  * Z(mu) = sum_j f(0,mu_j) precomputed per center on the driver — EXACTLY
  * the dense value in O(nnz) per row (reference:
  * df/kernels/SparseBregmanKernel.scala:64-304 covers the same four).
  * KL's update uses shifted gradients (grad(v) - grad(0)) so zero entries
  * contribute literally nothing to the aggregation buffer yet the
  * resulting centroid equals the dense gradient-mean centroid; L1's exact
  * weighted median accounts for implicit zeros by weight arithmetic.
  */
class SparseKMeans(override val uid: String)
    extends Estimator[GeneralizedKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("sparsekmeans"))

  final val sparseMode = new Param[String](this, "sparseMode",
    "auto|sparse|dense", ParamValidators.inArray(Array("auto", "sparse", "dense")))
  def getSparseMode: String = $(sparseMode)
  def setSparseMode(v: String): this.type = set(sparseMode, v)

  final val sparsityThreshold = new DoubleParam(this, "sparsityThreshold",
    "auto mode: use the sparse path when density (nnz/d) is below this",
    ParamValidators.inRange(0.0, 1.0))
  def getSparsityThreshold: Double = $(sparsityThreshold)
  def setSparsityThreshold(v: Double): this.type = set(sparsityThreshold, v)

  setDefault(sparseMode -> "auto", sparsityThreshold -> 0.3)

  def setK(v: Int): this.type = set(k, v)
  def setDivergence(v: String): this.type = set(divergence, v)
  def setSmoothing(v: Double): this.type = set(smoothing, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  /** Warm start: dense k x dim initial centers bypassing the sampled
    * k-means++ seeding (same contract as GeneralizedKMeans; not persisted).
    * Honored by both the sparse path and the dense fallback.
    */
  @transient private var initialCentersOpt: Option[Array[Array[Double]]] = None
  def setInitialCenters(cs: Array[Array[Double]]): this.type = {
    initialCentersOpt = Option(cs); this
  }

  /** Density (nnz / dim) estimated on a sample. */
  private[graft] def estimateDensity(df: DataFrame): Double = {
    val rows = df.select(col($(featuresCol))).limit(1000).collect()
    if (rows.isEmpty) return 1.0
    val ratios = rows.map { r =>
      r.get(0) match {
        case sv: SparseVector => sv.numNonzeros.toDouble / sv.size
        case v: Vector        => v.numNonzeros.toDouble / v.size
        case s: Seq[_]        => s.asInstanceOf[Seq[Double]].count(_ != 0.0).toDouble / s.length
        case _                => 1.0
      }
    }
    ratios.sum / ratios.length
  }

  override def fit(dataset: Dataset[_]): GeneralizedKMeansModel = {
    val t0 = System.currentTimeMillis()
    val df = dataset.toDF()
    val divName = $(divergence).trim.toLowerCase
    val sparseCapable = Seq("squaredeuclidean", "se", "euclidean", "l2",
      "cosine", "spherical", "angular",
      "kl", "kullbackleibler", "l1", "manhattan", "kmedians").contains(divName)
    val density = if ($(sparseMode) == "auto") estimateDensity(df) else 0.0
    val useSparse = $(sparseMode) match {
      case "sparse" => true
      case "dense"  => false
      case _        => sparseCapable && density < $(sparsityThreshold)
    }

    val model =
      if (!useSparse) {
        // dense fallback: the shared engine
        val gk = new GeneralizedKMeans(uid)
        copyValues(gk)
        initialCentersOpt.foreach(gk.setInitialCenters)
        gk.fit(df)
      } else fitSparse(df, t0)
    copyValues(model.setParent(this))
    model
  }

  private def fitSparse(df: DataFrame, t0: Long): GeneralizedKMeansModel = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val mode = $(divergence).trim.toLowerCase match {
      case "cosine" | "spherical" | "angular" => "spherical"
      case "kl" | "kullbackleibler"           => "kl"
      case "l1" | "manhattan" | "kmedians"    => "l1"
      case _                                  => "se"
    }
    val spherical = mode == "spherical"
    val eps = $(smoothing)

    // decompose vectors ONCE into (indices, values); rows never densify
    val isVector = df.schema($(featuresCol)).dataType ==
      org.apache.spark.ml.linalg.SQLDataTypes.VectorType
    val toSparse =
      if (isVector) udf { (v: Vector) =>
        v match {
          case sv: SparseVector => (sv.size, sv.indices.toSeq, sv.values.toSeq)
          case d =>
            val idx = (0 until d.size).filter(d(_) != 0.0)
            (d.size, idx, idx.map(d(_)))
        }
      }
      else udf { (xs: Seq[Double]) =>
        val a = xs.toArray
        val idx = a.indices.filter(a(_) != 0.0)
        (a.length, idx, idx.map(a(_)))
      }
    val data = df.select(toSparse(col($(featuresCol))).as("s"))
      .select(col("s._1").as("d"), col("s._2").as("idx"), col("s._3").as("vals"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // row count and dimension in one aggregation (it also fills the cache)
    val stats = data.agg(count(lit(1)), max(col("d"))).head()
    val n = stats.getLong(0)
    require(n > 0, "empty input")
    val dim = stats.getInt(1)

    // init: k distinct sampled rows, densified driver-side (k x d only)
    def densify(idx: Seq[Int], vals: Seq[Double]): Array[Double] = {
      val a = new Array[Double](dim)
      idx.iterator.zip(vals.iterator).foreach { case (i, v) => a(i) = v }
      a
    }
    // sample a candidate pool (O(k) rows densified driver-side), then
    // local k-means++ seeding so disjoint-support clusters each get a seed
    // (a pool of 10k draws misses a 1/k-mass cluster with prob ~k*e^-10)
    val poolSize = math.max(10 * $(k), 20)
    var centers: Array[Array[Double]] = initialCentersOpt match {
      case Some(cs) =>
        CenterInit.validateExplicit(cs, $(k), dim)
        cs.map(_.clone())
      case None =>
        val sampled = data.select(col("idx"), col("vals"))
          .sample(withReplacement = false,
            math.min(1.0, 10.0 * poolSize / math.max(1L, n)), $(seed))
          .orderBy(rand($(seed) + 7)) // de-bias the partition-prefix order
          .limit(poolSize).collect()
        val pool =
          (if (sampled.length >= $(k)) sampled
           else data.select(col("idx"), col("vals")).limit(poolSize).collect())
            .map(r => densify(r.getSeq[Int](0), r.getSeq[Double](1)))
        if (pool.length <= $(k)) pool
        else CenterInit.localKMeansPlusPlusBest(pool, Array.fill(pool.length)(1.0),
          $(k), graft.kernels.KernelFactory($(divergence), $(smoothing)), $(seed))
    }
    if (spherical) centers = centers.map(SparseKMeans.l2normalize)

    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]

    while (iter < $(maxIter) && !converged) {
      val bcC = sc.broadcast(centers)
      val bcN = sc.broadcast(centers.map(c => { var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; s }))
      // per-center zero terms for the nnz-only decomposition:
      //   kl: Z_c = sum_j eps*log(eps/(mu_j+eps));  l1: Z_c = sum_j |mu_j|
      val bcZ = sc.broadcast(mode match {
        case "kl" => centers.map(c => c.map(m => eps * math.log(eps / (m + eps))).sum)
        case "l1" => centers.map(c => c.map(math.abs).sum)
        case _    => centers.map(_ => 0.0)
      })
      val asgUdf = udf { (idxSeq: Seq[Int], valsSeq: Seq[Double]) =>
        val idx = idxSeq.toArray
        val vals = valsSeq.toArray
        val cs = bcC.value
        val cn = bcN.value
        var x2 = 0.0
        var t = 0
        while (t < vals.length) { x2 += vals(t) * vals(t); t += 1 }
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          var d = 0.0
          mode match {
            case "spherical" =>
              var dot = 0.0
              var i = 0
              while (i < idx.length) { dot += vals(i) * cs(c)(idx(i)); i += 1 }
              d = 1.0 - dot / math.max(1e-300, math.sqrt(x2) * math.sqrt(cn(c)))
            case "kl" =>
              // Z_c + sum_nnz [(v+eps)log((v+eps)/(mu+eps)) - eps*log(eps/(mu+eps))]
              d = bcZ.value(c)
              var i = 0
              while (i < idx.length) {
                val m = cs(c)(idx(i)) + eps
                val v = vals(i) + eps
                d += v * math.log(v / m) - eps * math.log(eps / m)
                i += 1
              }
            case "l1" =>
              // Z_c + sum_nnz [|v - mu| - |mu|]
              d = bcZ.value(c)
              var i = 0
              while (i < idx.length) {
                val m = cs(c)(idx(i))
                d += math.abs(vals(i) - m) - math.abs(m)
                i += 1
              }
            case _ =>
              var dot = 0.0
              var i = 0
              while (i < idx.length) { dot += vals(i) * cs(c)(idx(i)); i += 1 }
              d = 0.5 * (x2 - 2.0 * dot + cn(c))
          }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        (best, bd)
      }
      val assigned = data
        .withColumn("__b", asgUdf(col("idx"), col("vals")))
        .select(col("idx"), col("vals"),
          col("__b._1").as("cluster"), col("__b._2").as("dist"))

      var distortion = 0.0
      val updated = scala.collection.mutable.Map[Int, Array[Double]]()
      if (mode == "l1") {
        // EXACT per-dimension weighted median including the implicit zeros:
        // nnz rows explode to (cluster, d, v, w=1); each (cluster, d) also
        // gets a synthetic v=0 row of weight n_c - nnzCount. Dims with no
        // nonzero anywhere in a cluster stay 0 (the majority value).
        distortion += medianUpdateSparse(assigned, dim, updated)
      } else {
        // kl aggregates SHIFTED gradients grad(v)-grad(0) = log((v+eps)/eps)
        // so implicit zeros add exactly nothing to the buffer; the centroid
        // eps*exp(buffer/n) equals the dense gradient-mean centroid.
        val aggInput =
          if (mode == "kl")
            assigned.withColumn("vals",
              transform(col("vals"),
                v => org.apache.spark.sql.functions.log((v + lit(eps)) / lit(eps))))
          else assigned
        val sums = SparseKMeans.clusterSums(aggInput, centers.length, dim)
        centers.indices.foreach { cid =>
          val base = cid * (dim + 2)
          val cnt = sums(base + dim)
          distortion += sums(base + dim + 1)
          if (cnt > 0) {
            val vsum = java.util.Arrays.copyOfRange(sums, base, base + dim)
            var i = 0
            if (mode == "kl") {
              while (i < vsum.length) { vsum(i) = eps * math.exp(vsum(i) / cnt); i += 1 }
            } else {
              while (i < vsum.length) { vsum(i) /= cnt; i += 1 }
            }
            updated(cid) = if (spherical) SparseKMeans.l2normalize(vsum) else vsum
          }
        }
      }
      distHist += distortion
      val next = centers.indices.flatMap(updated.get).toArray
      val movement =
        if (next.length != centers.length) Double.MaxValue
        else centers.zip(next).map { case (a, b) =>
          math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
        }.max
      if (next.nonEmpty) centers = next
      iter += 1
      if (movement < $(tol)) converged = true
    }
    data.unpersist()

    val model = new GeneralizedKMeansModel(uid, centers, $(divergence), $(smoothing))
    model.trainingSummary = Some(TrainingSummary(
      "SparseKMeans", $(k), centers.length, dim, n, iter, converged,
      distHist.result(), Nil, $(divergence), System.currentTimeMillis() - t0))
    model
  }

  /** Exact sparse K-medians update: per-(cluster, dim) weighted median
    * over nnz values UNION one synthetic zero row weighted by the count of
    * implicit zeros. Returns the distortion; fills `updated` (dims with no
    * entry stay 0.0, the correct all-zero median).
    */
  private def medianUpdateSparse(
      assigned: DataFrame,
      dim: Int,
      updated: scala.collection.mutable.Map[Int, Array[Double]]): Double = {
    import org.apache.spark.sql.expressions.Window
    val totals = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("dsum"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val k = totals.keys.max + 1
    val nArr = Array.tabulate(k)(c => totals.get(c).map(_._1).getOrElse(0L))
    val nExpr = element_at(array(nArr.map(lit(_)): _*), col("cluster") + 1)

    val nz = assigned
      .select(col("cluster"), explode(arrays_zip(col("idx"), col("vals"))).as("e"))
      .select(col("cluster"), col("e.idx").as("d"), col("e.vals").as("v"))
      .groupBy(col("cluster"), col("d"), col("v")).agg(count(lit(1)).cast("double").as("w"))
    val zeros = nz.groupBy(col("cluster"), col("d"))
      .agg(sum(col("w")).as("m"))
      .select(col("cluster"), col("d"), lit(0.0).as("v"), (nExpr - col("m")).as("w"))
      .where(col("w") > 0)
    val all = nz.unionByName(zeros)
    val part = Window.partitionBy(col("cluster"), col("d"))
    val medians = all
      .withColumn("cw", sum(col("w")).over(part.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum(col("w")).over(part))
      .where(col("cw") >= col("tw") / 2)
      .groupBy(col("cluster"), col("d"))
      .agg(min(col("v")).as("med"))
      .collect()
    medians.foreach { r =>
      val c = updated.getOrElseUpdate(r.getInt(0), new Array[Double](dim))
      c(r.getInt(1)) = r.getDouble(2)
    }
    // clusters whose every nnz dim resolved to median 0 still need a center
    totals.foreach { case (cid, (n, _)) =>
      if (n > 0 && !updated.contains(cid)) updated(cid) = new Array[Double](dim)
    }
    totals.values.map(_._2).sum
  }

  override def transformSchema(schema: StructType): StructType = {
    // VectorUDT or array features; prediction appended by the model
    validateAndTransformSchema(schema)
  }
  override def copy(extra: ParamMap): SparseKMeans = defaultCopy(extra)
}

object SparseKMeans extends org.apache.spark.ml.util.DefaultParamsReadable[SparseKMeans] {

  /** Per-cluster (Σ x, row count, Σ dist) over (cluster, idx, vals, dist)
    * rows as one k×(dim+2) buffer (the CenterSums layout), in ONE job with
    * no shuffle: each partition scatters its rows' nnz values into a dense
    * buffer — O(nnz) adds per row, a densify-first plan does O(d) — and the
    * partition buffers are tree-reduced.
    */
  private[clustering] def clusterSums(assigned: DataFrame, k: Int, dim: Int): Array[Double] = {
    val width = dim + 2
    assigned.select(col("cluster"), col("idx"), col("vals"), col("dist")).queryExecution.toRdd
      .mapPartitions { rows =>
        val buf = new Array[Double](k * width)
        rows.foreach { r =>
          val base = r.getInt(0) * width
          val idx = r.getArray(1)
          val vals = r.getArray(2)
          var i = 0
          while (i < idx.numElements()) { buf(base + idx.getInt(i)) += vals.getDouble(i); i += 1 }
          buf(base + dim) += 1.0
          buf(base + dim + 1) += r.getDouble(3)
        }
        Iterator.single(buf)
      }
      .treeReduce { (a, b) => var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
  }

  private[graft] def l2normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val nrm = math.sqrt(s)
    if (nrm == 0.0) v
    else { val r = new Array[Double](v.length); i = 0; while (i < v.length) { r(i) = v(i) / nrm; i += 1 }; r }
  }
}
