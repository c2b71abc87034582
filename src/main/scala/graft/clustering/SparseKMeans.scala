package graft.clustering

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.linalg.{SQLDataTypes, SparseVector, Vector}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** K-means for high-dimensional sparse data: iterates NON-ZERO entries
  * only, never densifying rows.
  * (reference: ml/SparseKMeans.scala:116-200 auto-detection,
  * df/kernels/SparseBregmanKernel.scala:64-304 — SE via
  * ||x||^2 + ||mu||^2 - 2<x,mu> over nnz.)
  *
  * Scale design: rows stay (indices, values) pairs end to end —
  *  - setup: one job decodes every row once into a cached SparseVector and
  *    returns the row count, the dimension and a seeded uniform sample of
  *    rows for the k-means++ candidate pool;
  *  - assignment: O(k * nnz) per row against dense centers with
  *    precomputed ||mu||^2 (the 700+-dim sparse-text use case in the
  *    reference's README is exactly this shape);
  *  - update: the same shuffle-free job as the assignment — partitions
  *    scatter nnz values into a dense k x d buffer, tree-reduced to the
  *    driver — O(nnz) adds per row (a densify-first plan does O(d));
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
    val mode = $(divergence).trim.toLowerCase match {
      case "cosine" | "spherical" | "angular" => "spherical"
      case "kl" | "kullbackleibler"           => "kl"
      case "l1" | "manhattan" | "kmedians"    => "l1"
      case _                                  => "se"
    }
    val spherical = mode == "spherical"
    val eps = $(smoothing)

    // decode rows ONCE into SparseVectors; rows never densify
    val featCol = $(featuresCol)
    val isVector = df.schema(featCol).dataType == SQLDataTypes.VectorType
    val vectorType = SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]
    val input = df.select(if (isVector) col(featCol) else col(featCol).cast("array<double>"))
    val rows = input.queryExecution.toRdd.map { r =>
      if (r.isNullAt(0)) throw new IllegalArgumentException(s"null features in column '$featCol'")
      if (isVector) SparseKMeans.sparseOf(vectorType.deserialize(r.getStruct(0, 4)))
      else SparseKMeans.sparseOf(r.getArray(0).toDoubleArray())
    }.persist(StorageLevel.MEMORY_AND_DISK)

    // one pass fills the cache and returns the row count, the dimension and
    // the candidate pool for seeding: the poolSize rows with the smallest
    // seeded uniform keys (a uniform sample of min(n, poolSize) rows), so
    // disjoint-support clusters each get a candidate (a pool of 10k draws
    // misses a 1/k-mass cluster with prob ~k*e^-10)
    val poolSize = math.max(10 * $(k), 20)
    val seed0 = $(seed)
    val parts = rows.mapPartitionsWithIndex { (p, it) =>
      val rnd = new java.util.Random(seed0 + 7919L * p)
      val pool = scala.collection.mutable.PriorityQueue.empty[(Double, SparseVector)](
        Ordering.by[(Double, SparseVector), Double](_._1))
      var n = 0L
      var dim = 0
      it.foreach { v =>
        n += 1
        dim = math.max(dim, v.size)
        val key = rnd.nextDouble()
        if (pool.size < poolSize) pool.enqueue(key -> v)
        else if (key < pool.head._1) { pool.dequeue(); pool.enqueue(key -> v) }
      }
      Iterator.single((n, dim, pool.toArray))
    }.collect()
    val n = parts.map(_._1).sum
    val dim = parts.map(_._2).foldLeft(0)(math.max)
    require(n > 0, "empty input")

    var centers: Array[Array[Double]] = initialCentersOpt match {
      case Some(cs) =>
        CenterInit.validateExplicit(cs, $(k), dim)
        cs.map(_.clone())
      case None =>
        // densify the pool driver-side (O(k) rows), then local k-means++
        val pool = parts.flatMap(_._3).sortBy(_._1).take(poolSize).map { case (_, v) =>
          val a = new Array[Double](dim)
          var i = 0
          while (i < v.indices.length) { a(v.indices(i)) = v.values(i); i += 1 }
          a
        }
        if (pool.length <= $(k)) pool
        else CenterInit.localKMeansPlusPlusBest(pool, Array.fill(pool.length)(1.0),
          $(k), graft.kernels.KernelFactory($(divergence), $(smoothing)), $(seed))
    }
    if (spherical) centers = centers.map(SparseKMeans.l2normalize)

    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]

    while (iter < $(maxIter) && !converged) {
      val near = new SparseKMeans.Nearest(mode, eps, centers)
      var distortion = 0.0
      val updated = scala.collection.mutable.Map[Int, Array[Double]]()
      if (mode == "l1") {
        // EXACT per-dimension weighted median including the implicit zeros:
        // nnz rows explode to (cluster, d, v, w=1); each (cluster, d) also
        // gets a synthetic v=0 row of weight n_c - nnzCount. Dims with no
        // nonzero anywhere in a cluster stay 0 (the majority value).
        val assigned = spark.createDataFrame(rows.map { v =>
          val (c, dist) = near(v.indices, v.values)
          Row(v.indices, v.values, c, dist)
        }, SparseKMeans.AssignedSchema)
        distortion += medianUpdateSparse(assigned, dim, updated)
      } else {
        // kl sums SHIFTED gradients grad(v)-grad(0) = log((v+eps)/eps), so
        // implicit zeros add exactly nothing to the buffer; the centroid
        // eps*exp(buffer/n) equals the dense gradient-mean centroid.
        val sums = SparseKMeans.clusterSums(rows, near, dim)
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
    rows.unpersist()

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

  /** The nonzeros of a row, as a SparseVector of the row's size. */
  private[clustering] def sparseOf(v: Vector): SparseVector = v match {
    case sv: SparseVector => sv
    case d                => sparseOf(d.toArray)
  }

  private[clustering] def sparseOf(a: Array[Double]): SparseVector = {
    var nnz = 0
    var i = 0
    while (i < a.length) { if (a(i) != 0.0) nnz += 1; i += 1 }
    val idx = new Array[Int](nnz)
    val vals = new Array[Double](nnz)
    var t = 0
    i = 0
    while (i < a.length) {
      if (a(i) != 0.0) { idx(t) = i; vals(t) = a(i); t += 1 }
      i += 1
    }
    new SparseVector(a.length, idx, vals)
  }

  /** Rows of one sparse K-medians assignment pass. */
  private val AssignedSchema = StructType(Seq(
    StructField("idx", ArrayType(IntegerType, containsNull = false)),
    StructField("vals", ArrayType(DoubleType, containsNull = false)),
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  /** Nearest center of a sparse row (idx, vals) in O(nnz) per center,
    * ties to the lowest index: the dense divergence decomposed into a
    * per-center term over the implicit zeros plus a sum over the nonzeros.
    */
  private[clustering] final class Nearest(val mode: String, val eps: Double,
      val centers: Array[Array[Double]]) extends Serializable {
    private val norms = centers.map { c =>
      var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; s
    }
    // per-center zero terms for the nnz-only decomposition:
    //   kl: Z_c = sum_j eps*log(eps/(mu_j+eps));  l1: Z_c = sum_j |mu_j|
    private val zeros = mode match {
      case "kl" => centers.map(c => c.map(m => eps * math.log(eps / (m + eps))).sum)
      case "l1" => centers.map(c => c.map(math.abs).sum)
      case _    => centers.map(_ => 0.0)
    }

    def apply(idx: Array[Int], vals: Array[Double]): (Int, Double) = {
      val cs = centers
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
            d = 1.0 - dot / math.max(1e-300, math.sqrt(x2) * math.sqrt(norms(c)))
          case "kl" =>
            // Z_c + sum_nnz [(v+eps)log((v+eps)/(mu+eps)) - eps*log(eps/(mu+eps))]
            d = zeros(c)
            var i = 0
            while (i < idx.length) {
              val m = cs(c)(idx(i)) + eps
              val v = vals(i) + eps
              d += v * math.log(v / m) - eps * math.log(eps / m)
              i += 1
            }
          case "l1" =>
            // Z_c + sum_nnz [|v - mu| - |mu|]
            d = zeros(c)
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
            d = 0.5 * (x2 - 2.0 * dot + norms(c))
        }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      (best, bd)
    }
  }

  /** One sparse Lloyd pass over the rows: assign each row with
    * `near`, then per cluster (Σ x, row count, Σ dist) into one k×(dim+2)
    * buffer (the CenterSums layout) — KL sums the shifted gradient
    * log((v+eps)/eps) — in ONE job with no shuffle: each partition
    * scatters its rows' nnz values into a dense buffer (O(nnz) adds per
    * row; a densify-first plan does O(d)) and the partition buffers are
    * tree-reduced. The centers travel in the task closure, so every task
    * reads the iteration's own snapshot.
    */
  private[clustering] def clusterSums(rows: RDD[SparseVector], near: Nearest,
      dim: Int): Array[Double] = {
    val width = dim + 2
    val k = near.centers.length
    val eps = near.eps
    val klShift = near.mode == "kl"
    rows.mapPartitions { it =>
      val buf = new Array[Double](k * width)
      it.foreach { v =>
        val idx = v.indices
        val vals = v.values
        val (c, dist) = near(idx, vals)
        val base = c * width
        var i = 0
        if (klShift) {
          // StrictMath: the `log` Spark's own expression evaluates
          while (i < idx.length) { buf(base + idx(i)) += StrictMath.log((vals(i) + eps) / eps); i += 1 }
        } else {
          while (i < idx.length) { buf(base + idx(i)) += vals(i); i += 1 }
        }
        buf(base + dim) += 1.0
        buf(base + dim + 1) += dist
      }
      Iterator.single(buf)
    }.treeReduce { (a, b) => var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
  }

  private[graft] def l2normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val nrm = math.sqrt(s)
    if (nrm == 0.0) v
    else { val r = new Array[Double](v.length); i = 0; while (i < v.length) { r(i) = v(i) / nrm; i += 1 }; r }
  }
}
