package graft.functions

import graft.clustering.{GKMError, GKMException}
import graft.kernels.{BregmanKernel, L1Kernel, SquaredEuclideanKernel}
import org.apache.spark.sql.{Column, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.Platform

/** The Bregman center update as ONE native aggregate: per slot, Σ grad(x)·w,
  * Σ w and Σ dist·w into a dense `double[slots·(dim+2)]` (slot s holds dim
  * gradient sums, then the weight sum, then the distortion sum at
  * `s·(dim+2)`); the new center is `invGrad(gradSum / weightSum)` for every
  * divergence. Ungrouped, `slot` is a dense cluster id in `[0, slots)`
  * and each partition ships one packed buffer; under `groupBy(key)` with
  * `slots = 1, slot = lit(0)` it serves arbitrary keys and lets a per-key
  * aggregate ride in the same pass.
  *
  * Rows are read from the `ArrayData` in place (no `Seq`, no boxing — rule
  * 16); identity-gradient kernels (squared Euclidean, L1) skip `grad`.
  * (PAPERS: "User-Defined Operators", VLDB 2022; the [[LogregResidual]]
  * precedent.) Null policy: a null feature array or null weight adds
  * nothing, a null `dist` adds no distortion; a null or out-of-range slot
  * or a wrong-length array raises [[GKMException]].
  */
case class CenterSums(
    features: Expression,
    slot: Expression,
    weight: Expression,
    dist: Expression,
    kernel: BregmanKernel,
    slots: Int,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with QuaternaryLike[Expression] {
  require(slots >= 1 && dim >= 0, s"CenterSums needs slots >= 1 and dim >= 0, got $slots, $dim")

  private val width = dim + 2
  private val identityGrad =
    kernel.isInstanceOf[SquaredEuclideanKernel] || kernel.isInstanceOf[L1Kernel]

  override def prettyName: String = "graft_center_sums"
  override def first: Expression = features
  override def second: Expression = slot
  override def third: Expression = weight
  override def fourth: Expression = dist
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def stringArgs: Iterator[Any] =
    Iterator(features, slot, weight, dist, kernel.name, slots, dim)

  override def checkInputDataTypes(): TypeCheckResult =
    (features.dataType, slot.dataType, weight.dataType, dist.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType, DoubleType, DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (f, s, w, d) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, int, double, double), got " +
          Seq(f, s, w, d).map(_.simpleString).mkString(", "))
    }

  override def createAggregationBuffer(): Array[Double] = new Array[Double](slots * width)

  override def update(buf: Array[Double], row: InternalRow): Array[Double] = {
    val f = features.eval(row)
    val w = weight.eval(row)
    if (f == null || w == null) return buf
    val s = slot.eval(row)
    if (s == null || s.asInstanceOf[Int] < 0 || s.asInstanceOf[Int] >= slots)
      throw new GKMException(GKMError.ClusterIdOutOfRange(String.valueOf(s), slots))
    val x = f.asInstanceOf[ArrayData]
    if (x.numElements() != dim)
      throw new GKMException(GKMError.InconsistentDimension(dim, x.numElements()))
    val wd = w.asInstanceOf[Double]
    val base = s.asInstanceOf[Int] * width
    var i = 0
    if (identityGrad) {
      while (i < dim) { buf(base + i) += x.getDouble(i) * wd; i += 1 }
    } else {
      val g = kernel.grad(x.toDoubleArray())
      while (i < dim) { buf(base + i) += g(i) * wd; i += 1 }
    }
    buf(base + dim) += wd
    val d = dist.eval(row)
    if (d != null) buf(base + dim + 1) += d.asInstanceOf[Double] * wd
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bytes = new Array[Byte](buf.length * 8)
    Platform.copyMemory(buf, Platform.DOUBLE_ARRAY_OFFSET, bytes, Platform.BYTE_ARRAY_OFFSET,
      bytes.length.toLong)
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val buf = new Array[Double](bytes.length / 8)
    Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, buf, Platform.DOUBLE_ARRAY_OFFSET,
      bytes.length.toLong)
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): CenterSums =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CenterSums =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, w: Expression, d: Expression): CenterSums =
    copy(features = f, slot = s, weight = w, dist = d)
}

object CenterSums {

  /** For plain Σ x·w sums (mini-batch centers, soft memberships, vector
    * sums): squared Euclidean's gradient is the identity.
    */
  val Identity: BregmanKernel = new SquaredEuclideanKernel

  /** The aggregate as a Column; inputs are cast to the operator's types. */
  def column(features: Column, slot: Column, weight: Column, dist: Column,
      kernel: BregmanKernel, slots: Int, dim: Int): Column =
    GraftSqlBridge.column(CenterSums(
      GraftSqlBridge.expression(features.cast("array<double>")),
      GraftSqlBridge.expression(slot.cast("int")),
      GraftSqlBridge.expression(weight.cast("double")),
      GraftSqlBridge.expression(dist.cast("double")),
      kernel, slots, dim).toAggregateExpression())

  /** The packed buffer a collected row carries at `ordinal`. */
  def values(row: Row, ordinal: Int): Array[Double] = row.getSeq[Double](ordinal).toArray
}
