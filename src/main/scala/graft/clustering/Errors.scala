package graft.clustering

import graft.kernels._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Typed error surface for the clustering engine: every fit-time failure
  * is a sealed [[GKMError]] carrying remediation text, surfaced either as
  * `GKMResult` (Either-style, for programmatic flows) or thrown as
  * [[GKMException]] from the estimator path.
  * (reference: df/GKMError.scala:31-421 — same shape: sealed ADT +
  * remediation strings + Either-like result.)
  */
sealed trait GKMError {
  def message: String
  def remediation: String
  final def render: String = s"$message. $remediation"
}

object GKMError {
  case class EmptyInput(where: String) extends GKMError {
    val message = s"empty input dataset in $where"
    val remediation = "Provide at least one row with a non-null features column"
  }
  case class InconsistentDimension(expected: Int, found: Int) extends GKMError {
    val message = s"inconsistent dimension: expected $expected, found $found"
    val remediation = "All feature vectors must share one dimension; filter or pad ragged rows"
  }
  case class NonFiniteFeature(sample: String) extends GKMError {
    val message = s"non-finite feature value (NaN/Infinity) in $sample"
    val remediation = "Clean the features (drop or impute NaN/Inf) before fitting"
  }
  case class DomainViolation(divergence: String, sample: String) extends GKMError {
    val message = s"input point $sample violates the domain of divergence '$divergence' " +
      "(e.g. KL/Itakura-Saito/generalized-I require non-negative values, logistic requires [0,1])"
    val remediation = "Shift/clip the features into the divergence's domain " +
      "(FeatureTransform.epsilonShift) or choose squaredEuclidean/l1"
  }
  case class InvalidParam(name: String, detail: String) extends GKMError {
    val message = s"invalid parameter '$name': $detail"
    val remediation = "Adjust the parameter to a value in its documented range"
  }
  case class ClusterIdOutOfRange(id: String, k: Int) extends GKMError {
    val message = s"cluster id $id is outside the dense range [0, $k)"
    val remediation = "Pass dense ids 0 until k, or leave k out of Update.gradMean so the " +
      "sums are grouped by the ids as given"
  }
  case class DriverCapExceeded(algorithm: String, n: Long, cap: Long) extends GKMError {
    val message = s"$algorithm is driver-local; n=$n exceeds the cap of $cap rows"
    val remediation = "Use the distributed variant (Nystrom/CLARA/BisectingKMeans) " +
      "or raise maxDriverPoints knowingly"
  }
}

/** Either-style result alias (reference: df/GKMError.scala GKMResult). */
object GKMResult {
  type GKMResult[A] = Either[GKMError, A]
  def ok[A](a: A): GKMResult[A] = Right(a)
  def fail[A](e: GKMError): GKMResult[A] = Left(e)
}

/** Thrown by estimator paths; message carries the remediation text. */
class GKMException(val error: GKMError)
    extends IllegalArgumentException(error.render)

/** Composable sample-based input validators
  * (reference: df/Validator.scala:108-469 — NoNaN/Finite/Positive/
  * NotNull/ConsistentDimension/KernelCompatibility; ours run over one
  * collected sample, which is exactly how the reference's fit-time check
  * behaves, df/ClusteringOps.scala:170-182).
  */
trait RowValidator extends Serializable {
  def name: String
  /** None = valid; Some(error) = first violation found. */
  def check(x: Array[Double], dim: Int): Option[GKMError]
}

object Validators {

  private def fmt(x: Array[Double]): String =
    x.take(8).mkString("[", ",", if (x.length > 8) ",...]" else "]")

  case object NotNullFinite extends RowValidator {
    val name = "finite"
    def check(x: Array[Double], dim: Int): Option[GKMError] =
      if (x == null) Some(GKMError.EmptyInput("features column (null row)"))
      else if (x.exists(v => v.isNaN || v.isInfinity))
        Some(GKMError.NonFiniteFeature(fmt(x)))
      else None
  }

  case class ConsistentDimension(expected: Int) extends RowValidator {
    val name = "dimension"
    def check(x: Array[Double], dim: Int): Option[GKMError] =
      if (x.length != expected) Some(GKMError.InconsistentDimension(expected, x.length))
      else None
  }

  case class KernelDomain(kernel: BregmanKernel) extends RowValidator {
    val name = s"domain(${kernel.name})"
    def check(x: Array[Double], dim: Int): Option[GKMError] =
      if (!kernel.validate(x)) Some(GKMError.DomainViolation(kernel.name, fmt(x)))
      else None
  }

  /** The standard fit-time chain for a kernel. */
  def forKernel(kernel: BregmanKernel, dim: Int): Seq[RowValidator] =
    Seq(NotNullFinite, ConsistentDimension(dim), KernelDomain(kernel))

  /** Run the chain over a driver-side sample; first error wins. */
  def validateSample(
      sample: Iterable[Array[Double]],
      validators: Seq[RowValidator],
      dim: Int): Option[GKMError] = {
    sample.foreach { x =>
      validators.foreach { v =>
        val e = v.check(x, dim)
        if (e.isDefined) return e
      }
    }
    None
  }
}

/** Typed training-event stream
  * (reference: df/SummarySink.scala:27-377 — IterationStarted/Completed,
  * ConvergenceDetected, EmptyClustersDetected + aggregated summary).
  */
sealed trait TrainingEvent { def iteration: Int }
object TrainingEvent {
  case class IterationStarted(iteration: Int) extends TrainingEvent
  case class IterationCompleted(iteration: Int, distortion: Double,
      movement: Double) extends TrainingEvent
  case class EmptyClustersDetected(iteration: Int, clusterIds: Seq[Int]) extends TrainingEvent
  case class ReseedPerformed(iteration: Int, clusterIds: Seq[Int]) extends TrainingEvent
  case class ConvergenceDetected(iteration: Int, movement: Double) extends TrainingEvent
}

trait SummarySink extends Serializable {
  def emit(e: TrainingEvent): Unit
}

object SummarySink {
  /** Driver-side collecting sink (the default for tests/inspection). */
  class Collecting extends SummarySink {
    private val buf = scala.collection.mutable.ArrayBuffer[TrainingEvent]()
    def emit(e: TrainingEvent): Unit = buf.synchronized { buf += e }
    def events: Seq[TrainingEvent] = buf.synchronized { buf.toSeq }
  }
  /** No-op sink. */
  object Silent extends SummarySink {
    def emit(e: TrainingEvent): Unit = ()
  }
}
