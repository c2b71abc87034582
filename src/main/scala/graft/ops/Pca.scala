package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PCA over an embedding column — the data-dependent
  * dimensionality reduction the pipeline lacks between the
  * data-oblivious JL projection ([[Similarity.randomProject]]) and the
  * lossy PQ codes ([[PqIndex]]): mean-center, estimate the d x d
  * covariance in ONE pass, eigensolve on the driver, project (optionally
  * whiten) in a second pass. PCA-whitening is the standard embedding
  * post-process before cosine retrieval and the rotation step OPQ-style
  * quantizers build on.
  *
  * Spark-first shape (vs the reference engine, which has no
  * decomposition surface at all): the covariance moment
  * (n, sum[d], sum-of-outer-products[d*d]) accumulates via ONE
  * treeAggregate — O(d²) state per task, combined pairwise, nothing
  * row-proportional ever reaches the driver. The eigensolve is a plain
  * cyclic Jacobi on the d x d symmetric matrix — driver-local by
  * design (d², not n, bounded by `graft.pca.maxDim`, default 1024 =
  * 8 MB — the same capped-driver-tier discipline as the k-row Lloyd
  * collects; wider vectors should JL-project down first, the measured
  * path). Projection is a broadcast closure doing k fused
  * multiply-adds per row in one pass.
  *
  * Covariance is hash-checked against DuckDB (q_pca_cov); the
  * eigensolve is pinned by spec (eigen-equation residual, orthonormal
  * basis, descending eigenvalues, whitened output has ~identity
  * covariance, reconstruction error shrinks as k grows).
  */
object Pca {

  /** Fitted model: `mean` (d), `components` (k x d eigenvectors, by
    * descending eigenvalue), `eigenvalues` (k, the component variances),
    * `totalVariance` (trace of the covariance — for explained-variance
    * ratios).
    */
  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double],
      totalVariance: Double) {
    def explainedVarianceRatio: Array[Double] =
      eigenvalues.map(v => if (totalVariance > 0) v / totalVariance else 0.0)
  }

  /** One-pass covariance moments: (n, sum_i, sum_ij upper triangle as a
    * flat row-major d*d array). Shared by [[fit]] and the oracle query.
    */
  private def moments(df: DataFrame, vecCol: String, d: Int): (Long, Array[Double], Array[Double]) = {
    val rdd = df.select(col(vecCol).cast("array<double>"))
      .where(col(vecCol).isNotNull)
      .rdd.map(_.getSeq[Double](0))
    val zero = (0L, new Array[Double](d), new Array[Double](d * d))
    val (n, s, ss) = rdd.treeAggregate(zero)(
      seqOp = { case ((cnt, sum, outer), v) =>
        require(v.length == d, s"pca: expected $d-dim vectors, got ${v.length}")
        var i = 0
        while (i < d) {
          val vi = v(i)
          sum(i) += vi
          var j = i
          while (j < d) { outer(i * d + j) += vi * v(j); j += 1 }
          i += 1
        }
        (cnt + 1, sum, outer)
      },
      combOp = { case ((c1, s1, o1), (c2, s2, o2)) =>
        var i = 0
        while (i < d) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < d * d) { o1(i) += o2(i); i += 1 }
        (c1 + c2, s1, o1)
      })
    (n, s, ss)
  }

  /** Sample covariance (divides by n-1) from the one-pass moments,
    * symmetrized from the upper triangle.
    */
  private def covarianceMatrix(n: Long, s: Array[Double], ss: Array[Double], d: Int): Array[Array[Double]] = {
    require(n >= 2, s"pca: need at least 2 rows, got $n")
    val c = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = (ss(i * d + j) - s(i) * s(j) / n) / (n - 1)
        c(i)(j) = v; c(j)(i) = v
        j += 1
      }
      i += 1
    }
    c
  }

  /** Cyclic Jacobi eigensolve of a symmetric matrix: rotations kill the
    * largest-magnitude off-diagonal entries until convergence. O(d³)
    * per sweep, a handful of sweeps — milliseconds at the d ≤ 1024 cap.
    * Returns (eigenvalues, eigenvectors as rows), sorted descending.
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]], tol: Double = 1e-12, maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offNorm(a)
    val scale = math.max(1.0, frobNorm(a))
    while (off > tol * scale && sweep < maxSweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // t = sign(theta)/(|theta| + sqrt(theta^2+1)); the theta = 0
            // case (equal diagonal) is the full 45-degree rotation t = 1
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offNorm(a)
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray, order.map(i => Array.tabulate(d)(k => v(k)(i))).toArray)
  }

  private def offNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { if (i != j) s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  private def frobNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  /** Fit a k-component PCA. One distributed pass (moments) + a driver
    * eigensolve; `inDim` is validated per row.
    */
  def fit(df: DataFrame, vecCol: String, inDim: Int, k: Int): PcaModel = {
    require(inDim >= 1 && k >= 1 && k <= inDim,
      s"pca: need 1 <= k <= inDim, got k=$k inDim=$inDim")
    val cap = graft.util.Conf.long(df.sparkSession, "graft.pca.maxDim", 1024L)
    require(inDim <= cap,
      s"pca: inDim=$inDim exceeds graft.pca.maxDim=$cap (the d x d covariance is a " +
        "driver-local tier) — JL-project down first (Similarity.randomProject) or raise the cap")
    val (n, s, ss) = moments(df, vecCol, inDim)
    val cov = covarianceMatrix(n, s, ss, inDim)
    val (evals, evecs) = jacobiEigen(cov)
    val mean = s.map(_ / n)
    // numerical noise can take a tiny eigenvalue epsilon-negative
    val trace = (0 until inDim).map(i => cov(i)(i)).sum
    PcaModel(mean, evecs.take(k), evals.take(k).map(v => math.max(v, 0.0)), trace)
  }

  /** Project (and optionally whiten) an embedding column with a fitted
    * model: out_j = (v - mean) · comp_j [ / sqrt(eig_j + eps) ]. One
    * broadcast closure pass; null vectors propagate as null.
    */
  def project(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: PcaModel,
      whiten: Boolean = false,
      eps: Double = 1e-9): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val k = model.components.length
    val projUdf = udf { (xsSeq: Seq[Double]) =>
      if (xsSeq == null) null
      else {
        val xs = xsSeq.toArray
        val m = bc.value
        val d = m.mean.length
        require(xs.length == d, s"pca.project: expected $d dims, got ${xs.length}")
        val centered = new Array[Double](d)
        var i = 0
        while (i < d) { centered(i) = xs(i) - m.mean(i); i += 1 }
        val out = new Array[Double](k)
        var j = 0
        while (j < k) {
          val comp = m.components(j)
          var acc = 0.0
          i = 0
          while (i < d) { acc += centered(i) * comp(i); i += 1 }
          out(j) = if (whiten) acc / math.sqrt(m.eigenvalues(j) + eps) else acc
          j += 1
        }
        out.toSeq
      }
    }
    df.select(col(idCol), projUdf(col(vecCol).cast("array<double>")).as("proj"))
  }

  /** The covariance as a long-form frame (i <= j upper triangle) — the
    * oracle surface for q_pca_cov (entries presentation-rounded by the
    * caller) and a reusable audit of feature correlations.
    */
  def covarianceFrame(df: DataFrame, vecCol: String, inDim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (n, s, ss) = moments(df, vecCol, inDim)
    val cov = covarianceMatrix(n, s, ss, inDim)
    (for { i <- 0 until inDim; j <- i until inDim }
      yield (i.toLong, j.toLong, cov(i)(j))).toDF("i", "j", "cov")
  }
}
