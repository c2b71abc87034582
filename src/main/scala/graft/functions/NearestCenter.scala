package graft.functions

import graft.clustering.{GKMError, GKMException}
import graft.kernels.BregmanKernel
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** The Bregman assignment step as ONE native expression:
  * `struct(cluster = argmin_j D(x, c_j), dist = min_j D(x, c_j))`, ties to
  * the lowest index, for every divergence. The row helper reads the
  * `ArrayData` once and loops over the centers with `kernel.divergence` —
  * the arithmetic of [[graft.clustering.LocalLloyds]] — so a fit's last
  * assignment and its model's `transform` agree bit for bit.
  *
  * Centers ride one broadcast; the broadcast and the kernel enter the
  * generated code as reference objects, so the Java source is the same
  * for every iteration of a fit and Janino compiles it once (the
  * [[LogregResidual]] pattern; PAPERS: "User-Defined Operators", VLDB
  * 2022). Null policy: null features give a null struct; a row whose
  * length differs from the centers' raises [[GKMException]]
  * (`InconsistentDimension`, the [[CenterSums]] policy).
  */
case class NearestCenter(
    child: Expression,
    centers: Broadcast[Array[Array[Double]]],
    kernel: BregmanKernel) extends UnaryExpression {

  override def prettyName: String = "graft_nearest_center"
  override def dataType: DataType = NearestCenter.ResultType
  override protected def stringArgs: Iterator[Any] = Iterator(child, kernel.name)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.simpleString}")
  }

  override def nullSafeEval(f: Any): Any =
    NearestCenter.nearest(f.asInstanceOf[ArrayData], centers.value, kernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centers", centers, classOf[Broadcast[_]].getName)
    val k = ctx.addReferenceObj("kernel", kernel, classOf[BregmanKernel].getName)
    nullSafeCodeGen(ctx, ev, f =>
      s"${ev.value} = graft.functions.NearestCenter.nearest($f, (double[][]) $cs.value(), $k);")
  }

  override protected def withNewChildInternal(c: Expression): NearestCenter = copy(child = c)
}

object NearestCenter {

  val ResultType: StructType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  /** The `struct<cluster, dist>` column over `centers`, broadcast once.
    * Local-mode broadcast hands executors this very array (CLAUDE.md rule
    * 14): pass one nobody mutates while the plan may still run —
    * [[graft.clustering.Assignment.assign]] passes its private copy.
    */
  def column(features: Column, centers: Array[Array[Double]], kernel: BregmanKernel): Column = {
    val bc = SparkSession.active.sparkContext.broadcast(centers)
    GraftSqlBridge.column(
      NearestCenter(GraftSqlBridge.expression(features.cast("array<double>")), bc, kernel))
  }

  /** Row helper behind the expression (static forwarder for codegen). */
  def nearest(f: ArrayData, cs: Array[Array[Double]], kernel: BregmanKernel): InternalRow = {
    val x = f.toDoubleArray()
    if (cs.length > 0 && x.length != cs(0).length)
      throw new GKMException(GKMError.InconsistentDimension(cs(0).length, x.length))
    var best = 0
    var bestD = Double.MaxValue
    var i = 0
    while (i < cs.length) {
      val d = kernel.divergence(x, cs(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    new GenericInternalRow(Array[Any](best, bestD))
  }
}
