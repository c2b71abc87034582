package graft.kernels

/** Divergence kernels for generalized k-means.
  *
  * Semantics match the reference library's kernel layer
  * (reference: src/main/scala/com/massivedatascience/clusterer/ml/df/kernels/
  * ClusteringKernel.scala:16-46, BregmanKernel.scala:18-39) but the
  * implementation is Spark-first: every kernel operates on plain
  * `Array[Double]` (the runtime form of an `array<double>` column), which
  * is what the native assignment expression
  * ([[graft.functions.NearestCenter]]) calls per row.
  *
  * A Bregman divergence D_F(x, mu) = F(x) - F(mu) - <grad F(mu), x - mu>.
  * Lloyd's update for any Bregman divergence is the weighted mean in
  * gradient space: mu* = invGrad( sum(w * grad(x)) / sum(w) ).
  */
trait BregmanKernel extends Serializable {

  def name: String

  /** D(x, mu) >= 0, zero iff x == mu (within the kernel's domain). */
  def divergence(x: Array[Double], mu: Array[Double]): Double

  /** grad F(x) — maps a point into gradient (dual) space. */
  def grad(x: Array[Double]): Array[Double]

  /** (grad F)^-1 (theta) — maps a gradient-space mean back to a center. */
  def invGrad(theta: Array[Double]): Array[Double]

  /** The generator F(x) itself, when the kernel is a true Bregman
    * divergence (L1 is not — no generator). NaN marks "not available".
    */
  def generator(x: Array[Double]): Double = Double.NaN

  /** The canonical Bregman definition
    * D_F(x, mu) = F(x) - F(mu) - <grad F(mu), x - mu> — the single source
    * of truth each kernel's hand-optimized `divergence` must agree with
    * (reference: divergence/BregmanFunction.scala:66-130 generic D_F).
    */
  final def genericDivergence(x: Array[Double], mu: Array[Double]): Double = {
    val fx = generator(x)
    if (fx.isNaN) return divergence(x, mu)
    val fmu = generator(mu)
    val g = grad(mu)
    var dot = 0.0
    var i = 0
    while (i < x.length) { dot += g(i) * (x(i) - mu(i)); i += 1 }
    fx - fmu - dot
  }

  /** Domain check for a single point. */
  def validate(x: Array[Double]): Boolean =
    x.forall(v => !v.isNaN && !v.isInfinity)
}

/** Squared Euclidean: F(x) = 1/2 ||x||^2, D = 1/2 ||x-mu||^2.
  * Reference: df/kernels/SquaredEuclideanKernel.scala:12-38 (incl. the 1/2
  * factor at line 27).
  */
final class SquaredEuclideanKernel extends BregmanKernel {
  override val name = "SquaredEuclidean"

  override def generator(x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += 0.5 * x(i) * x(i); i += 1 }
    s
  }

  override def divergence(x: Array[Double], mu: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { val d = x(i) - mu(i); s += d * d; i += 1 }
    s * 0.5
  }

  override def grad(x: Array[Double]): Array[Double] = x
  override def invGrad(theta: Array[Double]): Array[Double] = theta
}

/** Kullback-Leibler: F(x) = sum x_i log x_i, D = sum x_i log(x_i/mu_i) with
  * epsilon smoothing added inside BOTH logs.
  * Reference: df/kernels/KLDivergenceKernel.scala:16-61.
  */
final class KLDivergenceKernel(val smoothing: Double = 1e-10) extends BregmanKernel {
  require(smoothing > 0, "smoothing must be positive")
  override val name = s"KL(smoothing=$smoothing)"

  /** F(x) = sum (x+eps) log(x+eps). NOTE: the hand-optimized `divergence`
    * is the SIMPLEX restriction of D_F (it omits the - sum(x - mu) term),
    * so genericDivergence == divergence exactly when sum(x) == sum(mu) —
    * pinned by KernelSpec.
    */
  override def generator(x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { val v = x(i) + smoothing; s += v * math.log(v); i += 1 }
    s
  }

  override def divergence(x: Array[Double], mu: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i) + smoothing
      val mi = mu(i) + smoothing
      s += xi * math.log(xi / mi)
      i += 1
    }
    s
  }

  override def grad(x: Array[Double]): Array[Double] = {
    val r = new Array[Double](x.length)
    var i = 0
    while (i < x.length) { r(i) = math.log(x(i) + smoothing) + 1.0; i += 1 }
    r
  }

  override def invGrad(theta: Array[Double]): Array[Double] = {
    val r = new Array[Double](theta.length)
    var i = 0
    while (i < theta.length) { r(i) = math.exp(theta(i) - 1.0); i += 1 }
    r
  }

  override def validate(x: Array[Double]): Boolean =
    x.forall(v => !v.isNaN && !v.isInfinity && v >= 0.0)
}

/** Itakura-Saito: D = sum (x/mu - log(x/mu) - 1), epsilon-smoothed.
  * Reference: df/kernels/ItakuraSaitoKernel.scala:16-60.
  */
final class ItakuraSaitoKernel(val smoothing: Double = 1e-10) extends BregmanKernel {
  require(smoothing > 0, "smoothing must be positive")
  override val name = s"ItakuraSaito(smoothing=$smoothing)"

  /** F(x) = -sum log(x+eps); D_F reproduces `divergence` exactly. */
  override def generator(x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += -math.log(x(i) + smoothing); i += 1 }
    s
  }

  override def divergence(x: Array[Double], mu: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) {
      val r = (x(i) + smoothing) / (mu(i) + smoothing)
      s += r - math.log(r) - 1.0
      i += 1
    }
    s
  }

  override def grad(x: Array[Double]): Array[Double] = {
    val r = new Array[Double](x.length)
    var i = 0
    while (i < x.length) { r(i) = -1.0 / (x(i) + smoothing); i += 1 }
    r
  }

  override def invGrad(theta: Array[Double]): Array[Double] = {
    val r = new Array[Double](theta.length)
    var i = 0
    while (i < theta.length) { r(i) = -1.0 / theta(i); i += 1 }
    r
  }

  override def validate(x: Array[Double]): Boolean =
    x.forall(v => !v.isNaN && !v.isInfinity && v >= 0.0)
}

/** Generalized I-divergence: D = sum (x log(x/mu) - x + mu), eps-smoothed.
  * Reference: df/kernels/GeneralizedIDivergenceKernel.scala:15-59.
  */
final class GeneralizedIDivergenceKernel(val smoothing: Double = 1e-10) extends BregmanKernel {
  require(smoothing > 0, "smoothing must be positive")
  override val name = s"GeneralizedI(smoothing=$smoothing)"

  /** F(x) = sum [(x+eps) log(x+eps) - (x+eps)]; D_F reproduces
    * `divergence` exactly.
    */
  override def generator(x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { val v = x(i) + smoothing; s += v * math.log(v) - v; i += 1 }
    s
  }

  override def divergence(x: Array[Double], mu: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i) + smoothing
      val mi = mu(i) + smoothing
      s += xi * math.log(xi / mi) - xi + mi
      i += 1
    }
    s
  }

  override def grad(x: Array[Double]): Array[Double] = {
    val r = new Array[Double](x.length)
    var i = 0
    while (i < x.length) { r(i) = math.log(x(i) + smoothing); i += 1 }
    r
  }

  override def invGrad(theta: Array[Double]): Array[Double] = {
    val r = new Array[Double](theta.length)
    var i = 0
    while (i < theta.length) { r(i) = math.exp(theta(i)); i += 1 }
    r
  }

  override def validate(x: Array[Double]): Boolean =
    x.forall(v => !v.isNaN && !v.isInfinity && v >= 0.0)
}

/** Logistic loss (binary cross-entropy); domain (0,1), values clamped to
  * [smoothing, 1-smoothing].
  * Reference: df/kernels/LogisticLossKernel.scala:15-60.
  */
final class LogisticLossKernel(val smoothing: Double = 1e-10) extends BregmanKernel {
  require(smoothing > 0, "smoothing must be positive")
  override val name = s"LogisticLoss(smoothing=$smoothing)"

  @inline private def clamp(v: Double): Double =
    math.max(smoothing, math.min(1.0 - smoothing, v))

  /** F(x) = sum [x log x + (1-x) log(1-x)] (clamped); D_F reproduces the
    * binary cross-entropy `divergence` exactly.
    */
  override def generator(x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) {
      val v = clamp(x(i))
      s += v * math.log(v) + (1.0 - v) * math.log(1.0 - v)
      i += 1
    }
    s
  }

  override def divergence(x: Array[Double], mu: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) {
      val xi = clamp(x(i))
      val mi = clamp(mu(i))
      s += xi * math.log(xi / mi) + (1.0 - xi) * math.log((1.0 - xi) / (1.0 - mi))
      i += 1
    }
    s
  }

  override def grad(x: Array[Double]): Array[Double] = {
    val r = new Array[Double](x.length)
    var i = 0
    while (i < x.length) { val xi = clamp(x(i)); r(i) = math.log(xi / (1.0 - xi)); i += 1 }
    r
  }

  override def invGrad(theta: Array[Double]): Array[Double] = {
    val r = new Array[Double](theta.length)
    var i = 0
    while (i < theta.length) { r(i) = 1.0 / (1.0 + math.exp(-theta(i))); i += 1 }
    r
  }

  override def validate(x: Array[Double]): Boolean =
    x.forall(v => !v.isNaN && !v.isInfinity && v >= 0.0 && v <= 1.0)
}

/** Beta-divergence family: F_β(x) = Σ (x+eps)^β / (β(β−1)), the parametric
  * bridge between the named kernels — β→0 is Itakura-Saito, β→1 is
  * generalized-I, β=2 is squared Euclidean (D = ½Σ(x−μ)², pinned by
  * KernelSpec). A named member registers via [[KernelFactory.registerBeta]]
  * so `setDivergence(name)` works across the estimator family, including
  * from PySpark (a plain (String, Double) py4j call — no closure crosses
  * the bridge, satisfying the same extension contract as
  * reference: df/kernels/KernelFactory.scala:57-199 custom kernels).
  *
  * D_β(x, μ) = Σ [ x'^β/(β(β−1)) − x'·μ'^(β−1)/(β−1) + μ'^β/β ] with
  * x' = x+eps, μ' = μ+eps; grad F = x'^(β−1)/(β−1) and
  * invGrad(θ) = ((β−1)θ)^(1/(β−1)) − eps, so the Lloyd update is the
  * standard mean-in-gradient-space the trait already runs.
  */
final class BetaDivergenceKernel(val beta: Double, val smoothing: Double = 1e-10)
    extends BregmanKernel {
  require(smoothing > 0, "smoothing must be positive")
  require(beta != 0.0 && beta != 1.0,
    "beta in {0, 1} is a removable singularity: use divergence " +
      "'itakuraSaito' (beta->0) or 'generalizedI' (beta->1) directly")
  require(!beta.isNaN && !beta.isInfinity, "beta must be finite")
  override val name = s"Beta(beta=$beta,smoothing=$smoothing)"

  override def generator(x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val denom = beta * (beta - 1.0)
    while (i < x.length) { s += math.pow(x(i) + smoothing, beta) / denom; i += 1 }
    s
  }

  override def divergence(x: Array[Double], mu: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i) + smoothing
      val mi = mu(i) + smoothing
      s += math.pow(xi, beta) / (beta * (beta - 1.0)) -
        xi * math.pow(mi, beta - 1.0) / (beta - 1.0) +
        math.pow(mi, beta) / beta
      i += 1
    }
    s
  }

  override def grad(x: Array[Double]): Array[Double] = {
    val r = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      r(i) = math.pow(x(i) + smoothing, beta - 1.0) / (beta - 1.0); i += 1
    }
    r
  }

  override def invGrad(theta: Array[Double]): Array[Double] = {
    val r = new Array[Double](theta.length)
    var i = 0
    while (i < theta.length) {
      r(i) = math.pow((beta - 1.0) * theta(i), 1.0 / (beta - 1.0)) - smoothing
      i += 1
    }
    r
  }

  override def validate(x: Array[Double]): Boolean =
    x.forall(v => !v.isNaN && !v.isInfinity && v >= 0.0)
}

/** L1 / Manhattan (K-Medians). NOT a Bregman divergence: grad/invGrad are
  * identity placeholders and the center update must use the per-dimension
  * weighted median instead of the gradient mean.
  * Reference: df/kernels/L1Kernel.scala:17-37.
  */
final class L1Kernel extends BregmanKernel {
  override val name = "L1"

  override def divergence(x: Array[Double], mu: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { s += math.abs(x(i) - mu(i)); i += 1 }
    s
  }

  override def grad(x: Array[Double]): Array[Double] = x
  override def invGrad(theta: Array[Double]): Array[Double] = theta

  /** True median update, not gradient mean. */
  def isMedianUpdate: Boolean = true
}

/** Spherical / cosine: D = 1 - cos(x, mu) computed on L2-normalized inputs.
  * Centers are re-normalized after the mean update.
  * Reference: df/kernels/SphericalKernel.scala:35-153.
  */
final class SphericalKernel extends BregmanKernel {
  override val name = "Spherical"

  private def normalize(x: Array[Double]): Array[Double] = {
    var n = 0.0
    var i = 0
    while (i < x.length) { n += x(i) * x(i); i += 1 }
    val nrm = math.sqrt(n)
    if (nrm == 0.0 || nrm == 1.0) x
    else {
      val r = new Array[Double](x.length)
      i = 0
      while (i < x.length) { r(i) = x(i) / nrm; i += 1 }
      r
    }
  }

  override def divergence(x: Array[Double], mu: Array[Double]): Double = {
    val xn = normalize(x)
    val mn = normalize(mu)
    var dot = 0.0
    var i = 0
    while (i < xn.length) { dot += xn(i) * mn(i); i += 1 }
    1.0 - dot
  }

  override def grad(x: Array[Double]): Array[Double] = normalize(x)
  override def invGrad(theta: Array[Double]): Array[Double] = normalize(theta)
}

/** Name -> kernel dispatch with the reference's aliases, plus a
  * user-extensible registry: the reference's extension contract lets
  * callers implement their own divergence and hand it to any estimator
  * (reference: df/kernels/KernelFactory.scala:57-199,
  * ARCHITECTURE.md:574-657 custom-kernel extension point);
  * [[register]] provides the same surface here — a registered name
  * works in every `setDivergence(name)` across the estimator family.
  *
  * The kernel instance must be Serializable (it rides a broadcast into
  * the assignment closure). Registration is process-local: models
  * persisted with a custom divergence name need the name re-registered
  * before `load` on a new driver — same contract as Spark UDF
  * registration.
  */
object KernelFactory {
  private val custom =
    new scala.collection.concurrent.TrieMap[String, Double => BregmanKernel]()

  /** Register (or replace) a custom divergence under `name`; the
    * builder receives the estimator's smoothing param. Built-in names
    * cannot be shadowed.
    */
  def register(name: String, builder: Double => BregmanKernel): Unit = {
    val key = name.trim.toLowerCase
    require(key.nonEmpty, "kernel name must be non-empty")
    require(!builtinNames(key),
      s"'$name' is a built-in divergence and cannot be replaced")
    custom.put(key, builder)
    ()
  }

  def unregister(name: String): Unit = { custom.remove(name.trim.toLowerCase); () }

  /** Register a named member of the beta-divergence family — the
    * PARAMETRIC registration surface reachable from PySpark (name and
    * beta are plain py4j scalars; the kernel itself never crosses the
    * bridge). After `registerBeta("beta15", 1.5)`, any estimator accepts
    * `setDivergence("beta15")`, and the estimator's smoothing param flows
    * into the kernel as usual.
    */
  def registerBeta(name: String, beta: Double): Unit = {
    // validate beta EAGERLY: a bad value must fail at the (possibly
    // py4j) registration call site, not at the first fit hours later
    new BetaDivergenceKernel(beta)
    register(name, smoothing => new BetaDivergenceKernel(beta, smoothing))
  }

  private val builtinNames = Set(
    "squaredeuclidean", "se", "euclidean", "l2",
    "kl", "kullbackleibler", "kl-divergence",
    "is", "itakurasaito", "itakura-saito",
    "geni", "generalizedi", "generalized-i",
    "logistic", "logisticloss",
    "l1", "manhattan", "kmedians",
    "cosine", "spherical", "angular")

  def apply(name: String, smoothing: Double = 1e-10): BregmanKernel =
    name.trim.toLowerCase match {
      case "squaredeuclidean" | "se" | "euclidean" | "l2" => new SquaredEuclideanKernel
      case "kl" | "kullbackleibler" | "kl-divergence"     => new KLDivergenceKernel(smoothing)
      case "is" | "itakurasaito" | "itakura-saito"        => new ItakuraSaitoKernel(smoothing)
      case "geni" | "generalizedi" | "generalized-i"      => new GeneralizedIDivergenceKernel(smoothing)
      case "logistic" | "logisticloss"                    => new LogisticLossKernel(smoothing)
      case "l1" | "manhattan" | "kmedians"                => new L1Kernel
      case "cosine" | "spherical" | "angular"             => new SphericalKernel
      case other =>
        custom.get(other).map(_(smoothing)).getOrElse(
          throw new IllegalArgumentException(
            s"Unknown divergence '$other'. Supported: squaredEuclidean|kl|is|" +
              "generalizedI|logistic|l1|spherical" +
              (if (custom.isEmpty) ""
               else custom.keys.toSeq.sorted.mkString("|", "|", " (registered)"))))
    }

  def supported: Seq[String] =
    Seq("squaredEuclidean", "kl", "itakuraSaito", "generalizedI", "logistic",
      "l1", "spherical") ++ custom.keys.toSeq.sorted
}
