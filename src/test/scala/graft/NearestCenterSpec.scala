package graft

import graft.clustering._
import graft.functions.NearestCenter
import graft.kernels._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, ScalaUDF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** The one native assignment expression: exact agreement with a driver
  * argmin over `kernel.divergence` for every built-in kernel, its null
  * and dimension policy, the private center copy, and every strategy
  * alias planning the same path.
  */
class NearestCenterSpec extends SparkSpec {

  import spark.implicits._

  private val kernels: Seq[BregmanKernel] = Seq(
    new SquaredEuclideanKernel, new KLDivergenceKernel(1e-9), new ItakuraSaitoKernel(1e-9),
    new GeneralizedIDivergenceKernel(1e-9), new LogisticLossKernel(1e-9), new L1Kernel,
    new SphericalKernel)

  private def driverArgmin(kernel: BregmanKernel, x: Array[Double],
      cs: Array[Array[Double]]): (Int, Double) = {
    var best = 0; var bd = Double.MaxValue; var i = 0
    while (i < cs.length) {
      val d = kernel.divergence(x, cs(i)); if (d < bd) { bd = d; best = i }; i += 1
    }
    (best, bd)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private def assignments(df: DataFrame): Map[Seq[Double], (Int, Double)] =
    df.select("features", "cluster", "dist").collect()
      .map(r => r.getSeq[Double](0) -> (r.getInt(1), r.getDouble(2))).toMap

  test("cluster and dist equal a driver argmin over kernel.divergence for every kernel; " +
    "ties go to the lowest index") {
    val rnd = new java.util.Random(17)
    // (0.1, 0.9) is in-domain for every kernel, logistic included
    def point() = Array.fill(12)(rnd.nextDouble() * 0.8 + 0.1)
    val distinct = Array.fill(6)(point())
    // centers 1 and 2 are equal: the row equal to them ties at both
    val centers = distinct.take(2) ++ Array(distinct(1).clone) ++ distinct.drop(2)
    val rows = Seq.fill(60)(point()) :+ distinct(1).clone
    val df = rows.map(_.toSeq).toDF("features")
    kernels.foreach { k =>
      val got = assignments(Assignment.assign(df, "features", k, centers))
      rows.foreach { x =>
        assert(got(x.toSeq) == driverArgmin(k, x, centers), s"${k.name} on ${x.toSeq}")
      }
      assert(got(distinct(1).toSeq)._1 == 1, s"${k.name}: tie must go to the lower index")
    }
  }

  test("null features give a null struct; a wrong-length row raises GKMException") {
    val kernel = new SquaredEuclideanKernel
    val centers = Array(Array(0.0, 0.0), Array(4.0, 4.0))
    val df = Seq(Some(Seq(1.0, 1.0)), None).toDF("features")
    val out = df.select(NearestCenter.column(col("features"), centers, kernel).as("nc"))
      .collect()
    assert(out(0).getStruct(0).getInt(0) == 0 && out(0).getStruct(0).getDouble(1) == 1.0)
    assert(out(1).isNullAt(0))
    // interpreted path: same policy outside whole-stage codegen
    val bc = spark.sparkContext.broadcast(centers)
    val arr = ArrayType(DoubleType, containsNull = false)
    assert(NearestCenter(Literal.create(null, arr), bc, kernel).eval(null) == null)
    val short = NearestCenter(Literal.create(Array(1.0), arr), bc, kernel)
    assert(intercept[GKMException](short.eval(null)).error ==
      GKMError.InconsistentDimension(2, 1))
    val ragged = Seq(Seq(1.0, 1.0), Seq(1.0, 1.0, 1.0)).toDF("features")
    val ex = intercept[Exception](
      Assignment.assign(ragged, "features", kernel, centers).collect())
    assert(causes(ex).exists {
      case g: GKMException => g.error == GKMError.InconsistentDimension(2, 3)
      case _ => false
    }, s"expected InconsistentDimension, got $ex")
  }

  test("assign plans a private copy: mutating the caller's centers does not change " +
    "a re-execution") {
    val centers = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val df = Seq(Seq(1.0, 1.0), Seq(9.0, 9.0), Seq(4.0, 6.0)).toDF("features")
    val assigned = Assignment.assign(df, "features", new SquaredEuclideanKernel, centers)
    val before = assigned.select("cluster", "dist").collect().toSeq
    centers(0)(0) = 50.0
    centers(1)(1) = -50.0
    val after = assigned.select("cluster", "dist").collect().toSeq
    assert(after == before)
  }

  test("every strategy alias runs the one NearestCenter path: identical assignments " +
    "and identical full fits") {
    val rnd = new java.util.Random(9)
    val blobs = Seq((0.0, 0.0), (10.0, 10.0), (-10.0, 8.0)).flatMap { case (cx, cy) =>
      Seq.fill(40)(Seq(cx + rnd.nextGaussian() * 0.5, cy + rnd.nextGaussian() * 0.5))
    }
    val df = blobs.toDF("features")
    // a duplicated center makes every row of its blob a tie
    val centers = Array(Array(0.5, 0.5), Array(9.0, 9.0), Array(9.0, 9.0), Array(-9.0, 7.0))
    val init = Array(Array(1.0, 1.0), Array(9.0, 9.0), Array(-9.0, 7.0))
    def fit(strategy: String) = new GeneralizedKMeans().setK(3).setMaxIter(5).setTol(0.0)
      .setInitialCenters(init).setAssignmentStrategy(strategy).fit(df)
    val auto = fit("auto")
    val autoPred = auto.transform(df).select("prediction").collect().toSeq
    for (k <- Seq(new SquaredEuclideanKernel, new L1Kernel)) {
      val want = assignments(Assignment.assign(df, "features", k, centers, "auto"))
      assert(want.values.count(_._1 == 1) == 40 && !want.values.exists(_._1 == 2))
      for (alias <- Seq("broadcast", "chunked", "expression", "crossjoin")) {
        val assigned = Assignment.assign(df, "features", k, centers, alias)
        val exprs = assigned.queryExecution.analyzed.collect { case p => p.expressions }
          .flatten.flatMap(_.collect { case e => e })
        assert(exprs.count(_.isInstanceOf[NearestCenter]) == 1, s"$alias plan")
        assert(!exprs.exists(_.isInstanceOf[ScalaUDF]), s"$alias plan")
        assert(assignments(assigned) == want, s"${k.name} through $alias")
      }
    }
    for (alias <- Seq("broadcast", "chunked", "expression", "crossjoin")) {
      val m = fit(alias)
      m.clusterCenters.zip(auto.clusterCenters).foreach { case (a, b) =>
        assert(a.sameElements(b), s"fit through $alias drifted from auto")
      }
      assert(m.transform(df).select("prediction").collect().toSeq == autoPred, alias)
    }
  }
}
