package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession, SparkSessionExtensions}

/** Native Catalyst expressions for the vector-math hot paths.
  *
  * Spark's higher-order functions (`zip_with`, `aggregate`) never enter
  * whole-stage codegen — each element evaluates a lambda through the
  * interpreted expression walker, so a d=64 distance costs ~3 array
  * traversals of boxed closure dispatch. These expressions compile the
  * same math to ONE fused Java loop inside WholeStageCodegen (SURVEY
  * §2.6: "a native Catalyst Expression beats a Scala UDF beats anything
  * else"). The reference computes every distance in black-box Scala UDFs
  * (`ARCHITECTURE.md` extension surface); this is the Spark-first
  * replacement.
  *
  * Length contract: mismatched array lengths yield NULL — exactly what
  * the `aggregate(zip_with(..))` HOF forms produce (zip_with pads the
  * short side with nulls and the sum poisons), so the optimizer rewrite
  * in [[HofDistanceRewrite]] is semantics-preserving, and a dimension
  * bug fails loudly instead of folding a prefix. Elements are assumed
  * non-null (enforced upstream by the validators).
  */
abstract class ArrayFoldExpression extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType

  // nullable even over non-null inputs: mismatched lengths yield NULL
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Driver-side fold over the two arrays (interpreted path). */
  protected def fold(a: ArrayData, b: ArrayData): Double

  /** Java loop body; read `x`/`y`, accumulate into `s`. */
  protected def perElement(x: String, y: String, s: String): String

  /** Extra accumulator declarations, e.g. for cosine's norms. */
  protected def extraAcc(s: String): String = ""

  /** Final value from accumulators. */
  protected def finish(s: String): String = s

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    if (ad.numElements() != bd.numElements()) null else fold(ad, bd)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $s = 0.0;
         |  ${extraAcc(s)}
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = $a.getDouble($i);
         |    final double $y = $b.getDouble($i);
         |    ${perElement(x, y, s)}
         |  }
         |  ${ev.value} = ${finish(s)};
         |}
       """.stripMargin
    })
}

/** Σ (a_i - b_i)^2 — squared euclidean distance (no ½ factor). */
case class ArraySqDist(left: Expression, right: Expression) extends ArrayFoldExpression {
  override def prettyName: String = "graft_sqdist"
  override protected def fold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); s += d * d; i += 1 }
    s
  }
  override protected def perElement(x: String, y: String, s: String): String =
    s"final double d = $x - $y; $s += d * d;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ a_i * b_i — dot product. */
case class ArrayDot(left: Expression, right: Expression) extends ArrayFoldExpression {
  override def prettyName: String = "graft_dot"
  override protected def fold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
  override protected def perElement(x: String, y: String, s: String): String =
    s"$s += $x * $y;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** dot/(‖a‖·‖b‖) — cosine similarity in ONE pass (the HOF formulation is
  * three interpreted traversals). Division semantics match the old
  * `dot/(na*nb)` column exactly (0-norm ⇒ NaN/Inf), so results are
  * bit-identical where defined.
  */
case class ArrayCosine(left: Expression, right: Expression) extends ArrayFoldExpression {
  override def prettyName: String = "graft_cosine"
  override protected def fold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      s += x * y; na += x * x; nb += y * y; i += 1
    }
    s / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def extraAcc(s: String): String =
    s"double ${s}_na = 0.0; double ${s}_nb = 0.0;"
  override protected def perElement(x: String, y: String, s: String): String =
    s"$s += $x * $y; ${s}_na += $x * $x; ${s}_nb += $y * $y;"
  override protected def finish(s: String): String =
    s"$s / (java.lang.Math.sqrt(${s}_na) * java.lang.Math.sqrt(${s}_nb))"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ |a_i - b_i| — L1 / Manhattan distance. */
case class ArrayL1Dist(left: Expression, right: Expression) extends ArrayFoldExpression {
  override def prettyName: String = "graft_l1dist"
  override protected def fold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += math.abs(a.getDouble(i) - b.getDouble(i)); i += 1 }
    s
  }
  override protected def perElement(x: String, y: String, s: String): String =
    s"$s += java.lang.Math.abs($x - $y);"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (x_i+ε)·log((x_i+ε)/(μ_i+ε)) — ε-smoothed KL divergence (simplex
  * restriction, same formula as [[graft.kernels.KLDivergenceKernel]]).
  */
case class ArrayKlDiv(left: Expression, right: Expression, eps: Double)
    extends ArrayFoldExpression {
  override def prettyName: String = "graft_kl"
  override protected def fold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i) + eps
      val m = b.getDouble(i) + eps
      s += x * math.log(x / m)
      i += 1
    }
    s
  }
  override protected def perElement(x: String, y: String, s: String): String =
    s"final double xs = $x + $eps; $s += xs * java.lang.Math.log(xs / ($y + $eps));"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (x/m − log(x/m) − 1) with x=x_i+ε, m=μ_i+ε — Itakura-Saito. */
case class ArrayIsDiv(left: Expression, right: Expression, eps: Double)
    extends ArrayFoldExpression {
  override def prettyName: String = "graft_is"
  override protected def fold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val r = (a.getDouble(i) + eps) / (b.getDouble(i) + eps)
      s += r - math.log(r) - 1.0
      i += 1
    }
    s
  }
  override protected def perElement(x: String, y: String, s: String): String =
    s"final double r = ($x + $eps) / ($y + $eps); $s += r - java.lang.Math.log(r) - 1.0;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (x·log(x/m) − x + m) with x=x_i+ε, m=μ_i+ε — generalized I-divergence. */
case class ArrayGenIDiv(left: Expression, right: Expression, eps: Double)
    extends ArrayFoldExpression {
  override def prettyName: String = "graft_geni"
  override protected def fold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i) + eps
      val m = b.getDouble(i) + eps
      s += x * math.log(x / m) - x + m
      i += 1
    }
    s
  }
  override protected def perElement(x: String, y: String, s: String): String =
    s"final double xs = $x + $eps; final double ms = $y + $eps; " +
      s"$s += xs * java.lang.Math.log(xs / ms) - xs + ms;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Binary cross-entropy with [ε, 1−ε] clamping — logistic loss. */
case class ArrayLogisticDiv(left: Expression, right: Expression, eps: Double)
    extends ArrayFoldExpression {
  override def prettyName: String = "graft_logistic"
  @inline private def clamp(v: Double): Double =
    math.max(eps, math.min(1.0 - eps, v))
  override protected def fold(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val x = clamp(a.getDouble(i))
      val m = clamp(b.getDouble(i))
      s += x * math.log(x / m) + (1.0 - x) * math.log((1.0 - x) / (1.0 - m))
      i += 1
    }
    s
  }
  override protected def perElement(x: String, y: String, s: String): String =
    s"final double xc = java.lang.Math.max($eps, java.lang.Math.min(${1.0 - eps}, $x)); " +
      s"final double mc = java.lang.Math.max($eps, java.lang.Math.min(${1.0 - eps}, $y)); " +
      s"$s += xc * java.lang.Math.log(xc / mc) + (1.0 - xc) * java.lang.Math.log((1.0 - xc) / (1.0 - mc));"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level helpers + SQL registration for the native expressions. */
object ArrayMath {

  /** A compact literal array<double> (ONE Literal node; the
    * `array(lit, lit, …)` formulation is d child expressions).
    */
  def literal(values: Array[Double]): Column =
    GraftSqlBridge.column(Literal.create(values, ArrayType(DoubleType, containsNull = false)))

  private def toDouble(c: Column): Expression =
    GraftSqlBridge.expression(c.cast("array<double>"))

  private def bin(f: (Expression, Expression) => Expression)(a: Column, b: Column): Column =
    GraftSqlBridge.column(f(toDouble(a), toDouble(b)))

  /** Σ(a-b)² */
  val sqdist: (Column, Column) => Column = bin(ArraySqDist.apply)
  /** Σ a·b */
  val dot: (Column, Column) => Column = bin(ArrayDot.apply)
  /** cos(a,b) */
  val cosine: (Column, Column) => Column = bin(ArrayCosine.apply)
  /** Σ|a-b| */
  val l1dist: (Column, Column) => Column = bin(ArrayL1Dist.apply)
  /** ε-smoothed KL */
  def kl(a: Column, b: Column, eps: Double = 1e-10): Column =
    GraftSqlBridge.column(ArrayKlDiv(toDouble(a), toDouble(b), eps))
  /** ε-smoothed Itakura-Saito */
  def itakuraSaito(a: Column, b: Column, eps: Double = 1e-10): Column =
    GraftSqlBridge.column(ArrayIsDiv(toDouble(a), toDouble(b), eps))
  /** ε-smoothed generalized I-divergence */
  def generalizedI(a: Column, b: Column, eps: Double = 1e-10): Column =
    GraftSqlBridge.column(ArrayGenIDiv(toDouble(a), toDouble(b), eps))
  /** clamped binary cross-entropy (logistic loss) */
  def logisticLoss(a: Column, b: Column, eps: Double = 1e-10): Column =
    GraftSqlBridge.column(ArrayLogisticDiv(toDouble(a), toDouble(b), eps))

  private[functions] val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_sqdist", "squared euclidean distance of two array<double>",
      (es: Seq[Expression]) => ArraySqDist(c(es(0)), c(es(1)))),
    ("graft_dot", "dot product of two array<double>",
      (es: Seq[Expression]) => ArrayDot(c(es(0)), c(es(1)))),
    ("graft_cosine", "cosine similarity of two array<double>",
      (es: Seq[Expression]) => ArrayCosine(c(es(0)), c(es(1)))),
    ("graft_l1dist", "L1 (manhattan) distance of two array<double>",
      (es: Seq[Expression]) => ArrayL1Dist(c(es(0)), c(es(1)))),
    ("graft_kl", "epsilon-smoothed KL divergence; optional 3rd arg = epsilon (default 1e-10)",
      (es: Seq[Expression]) => {
        val eps = es.lift(2) match {
          case Some(Literal(v, _)) => v.toString.toDouble
          case None                => 1e-10
          case other               => throw new IllegalArgumentException(
            s"graft_kl epsilon must be a literal, got $other")
        }
        ArrayKlDiv(c(es(0)), c(es(1)), eps)
      }),
    ("graft_is", "epsilon-smoothed Itakura-Saito divergence",
      (es: Seq[Expression]) => ArrayIsDiv(c(es(0)), c(es(1)), 1e-10)),
    ("graft_geni", "epsilon-smoothed generalized I-divergence",
      (es: Seq[Expression]) => ArrayGenIDiv(c(es(0)), c(es(1)), 1e-10)),
    ("graft_logistic", "clamped binary cross-entropy (logistic loss)",
      (es: Seq[Expression]) => ArrayLogisticDiv(c(es(0)), c(es(1)), 1e-10)),
    // text-pipeline scalars: the same oracle-checked Column compositions
    // the Scala API uses, exposed to plain SQL (pure builtin expression
    // trees — codegen'd, engine-portable semantics)
    ("graft_quality_micro",
      "integer micro-unit quality score of a text column (rule-1 safe ordering key)",
      (es: Seq[Expression]) => GraftSqlBridge.expressionTree(
        graft.ops.TextOps.qualityScoreMicro(GraftSqlBridge.column(arg(es, 0, "graft_quality_micro", 1))))),
    ("graft_normalize",
      "canonical text: lowercase, punctuation to spaces, squeezed/trimmed whitespace",
      (es: Seq[Expression]) => GraftSqlBridge.expressionTree(
        graft.ops.TextOps.normalizeText(GraftSqlBridge.column(arg(es, 0, "graft_normalize", 1))))),
    ("graft_token_count", "whitespace token count of a text column",
      (es: Seq[Expression]) => GraftSqlBridge.expressionTree(
        graft.ops.TextOps.tokenCount(GraftSqlBridge.column(arg(es, 0, "graft_token_count", 1))))),
    ("graft_uniform",
      "portable seeded uniform in [0,1): graft_uniform(key, 'seed') — md5 house hash",
      (es: Seq[Expression]) => {
        val seed = arg(es, 1, "graft_uniform", 2) match {
          case Literal(v, StringType) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_uniform's second argument (the seed) must be a string literal, got: $other")
        }
        GraftSqlBridge.expressionTree(
          graft.ops.Sampling.uniform(GraftSqlBridge.column(arg(es, 0, "graft_uniform", 2)), seed))
      })
  )

  /** Arity-checked argument access for the SQL builders: a missing
    * argument surfaces as a clear wrong-argument-count message instead
    * of an analyzer IndexOutOfBoundsException.
    */
  private def arg(es: Seq[Expression], i: Int, fn: String, expected: Int): Expression = {
    require(es.length == expected,
      s"$fn expects $expected argument(s), got ${es.length}")
    es(i)
  }

  /** Numeric-array inputs (float/int arrays) coerce to array<double>. */
  private def c(e: Expression): Expression = e.dataType match {
    case ArrayType(DoubleType, _) => e
    case _                        => Cast(e, ArrayType(DoubleType))
  }

  /** Register graft_* functions on an existing session (no extensions
    * config needed — for notebooks / spark-shell after the fact).
    */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, usage, builder) =>
      GraftSqlBridge.registerFunction(spark, name,
        new ExpressionInfo("graft.functions.ArrayMath", name, usage), builder)
    }
}

/** SparkSessionExtensions hook:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * makes every `graft_*` function — the codegen'd array math
  * (graft_sqdist / graft_dot / graft_cosine / graft_l1dist / graft_kl /
  * graft_is / graft_geni / graft_logistic) AND the text-pipeline
  * scalars (graft_quality_micro / graft_normalize / graft_token_count /
  * graft_uniform) — available in plain SQL on every session of the
  * cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ArrayMath.sqlFunctions.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.ArrayMath", name, usage),
        (es: Seq[Expression]) => builder(es)))
    }
    // auto-accelerate user-written HOF distance patterns
    ext.injectOptimizerRule(_ => HofDistanceRewrite)
  }
}
