package graft

import graft.clustering._
import graft.kernels.{BetaDivergenceKernel, KernelFactory, SquaredEuclideanKernel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-16 hardening: MI driver-collect cap,
  * parametric beta-divergence family, memo-cache fingerprinting.
  */
class Round16Spec extends SparkSpec {

  import spark.implicits._

  def blobs(perBlob: Int = 60, seed: Int = 7): DataFrame = {
    val rnd = new java.util.Random(seed)
    val centers = Seq((0.0, 0.0), (10.0, 10.0), (-10.0, 8.0))
    val pts = for {
      ((cx, cy), label) <- centers.zipWithIndex
      _ <- 1 to perBlob
    } yield (Seq(cx + rnd.nextGaussian() * 0.5, cy + rnd.nextGaussian() * 0.5), label)
    pts.toDF("features", "label")
  }

  // ---- MutualInformation driver-collect cap ----

  test("estimateJoint refuses above graft.mi.maxSupportCells with remediation") {
    val df = (0 until 50).map(i => (i, i)).toDF("x", "y")
    spark.conf.set("graft.mi.maxSupportCells", "10")
    try {
      val ex = intercept[IllegalArgumentException](
        graft.ops.MutualInformation.estimateJoint(df, "x", "y"))
      assert(ex.getMessage.contains("graft.mi.maxSupportCells"))
      assert(ex.getMessage.contains("Bucketize"))
    } finally spark.conf.unset("graft.mi.maxSupportCells")
    // compliant support still works, and values are unaffected by the cap
    val (joint, xs, ys) = graft.ops.MutualInformation.estimateJoint(
      df.select((col("x") % 2).as("x"), (col("y") % 2).as("y")), "x", "y")
    assert(xs.length == 2 && ys.length == 2)
    assert(joint.map(_.sum).sum == 50.0)
    assert(math.abs(graft.ops.MutualInformation.mutualInformation(joint) - 1.0) < 1e-12)
  }

  // ---- beta-divergence family ----

  test("beta=2 is squared Euclidean; generic Bregman form agrees across betas") {
    val se = new SquaredEuclideanKernel
    val b2 = new BetaDivergenceKernel(2.0, smoothing = 1e-12)
    val x = Array(1.0, 2.5, 0.3)
    val mu = Array(0.5, 3.0, 0.2)
    assert(math.abs(b2.divergence(x, mu) - se.divergence(x, mu)) < 1e-9)
    for (beta <- Seq(-0.5, 0.5, 1.5, 2.0, 3.0)) {
      val k = new BetaDivergenceKernel(beta)
      assert(math.abs(k.divergence(x, mu) - k.genericDivergence(x, mu)) < 1e-9,
        s"hand form != generic Bregman form at beta=$beta")
      assert(k.divergence(x, x) < 1e-12, s"D(x,x) != 0 at beta=$beta")
      assert(k.divergence(x, mu) > 0, s"D(x,mu) <= 0 at beta=$beta")
      // invGrad is the true inverse of grad on the positive domain
      val round = k.invGrad(k.grad(x))
      x.indices.foreach(i => assert(math.abs(round(i) - x(i)) < 1e-8))
    }
    intercept[IllegalArgumentException](new BetaDivergenceKernel(0.0))
    intercept[IllegalArgumentException](new BetaDivergenceKernel(1.0))
  }

  test("registerBeta: a named beta member fits through the estimator family") {
    KernelFactory.registerBeta("beta2test", 2.0)
    try {
      val df = blobs(perBlob = 40).cache()
      val init = Array(Array(1.0, 1.0), Array(9.0, 9.0), Array(-9.0, 7.0))
      // shift to strictly positive features (beta kernels share the
      // non-negative domain of KL/IS)
      val pos = df.select(transform(col("features"), v => v + lit(20.0)).as("features"))
      val posInit = init.map(_.map(_ + 20.0))
      val bm = new GeneralizedKMeans().setK(3).setDivergence("beta2test")
        .setFeaturesCol("features").setMaxIter(5).setTol(0.0)
        .setInitialCenters(posInit).fit(pos)
      val se = new GeneralizedKMeans().setK(3).setDivergence("squaredEuclidean")
        .setFeaturesCol("features").setMaxIter(5).setTol(0.0)
        .setInitialCenters(posInit).fit(pos)
      bm.clusterCenters.zip(se.clusterCenters).foreach { case (a, b) =>
        a.indices.foreach(i => assert(math.abs(a(i) - b(i)) < 1e-6,
          "beta=2 fit must reproduce the SE fit"))
      }
      df.unpersist()
    } finally KernelFactory.unregister("beta2test")
  }

  // ---- null feature rows refuse with the typed error, not an NPE ----

  test("fit refuses null feature rows via the validator chain") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("features", ArrayType(DoubleType), nullable = true)))
    val rows = Seq(Row(Seq(0.0, 0.1)), Row(null), Row(Seq(9.9, 10.0)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(Option(r.get(0)).map(_.asInstanceOf[Seq[Double]]).orNull))), schema)
    val ex = intercept[GKMException](
      new GeneralizedKMeans().setK(2).setSeed(1).setMaxIter(3).fit(df))
    assert(ex.getMessage.toLowerCase.contains("null"),
      s"expected a typed null-row refusal, got: ${ex.getMessage}")
    // an ALL-null features column refuses as empty input, not a
    // NoSuchElementException from the dim probe
    val allNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null), Row(null))), schema)
    val ex2 = intercept[GKMException](
      new GeneralizedKMeans().setK(2).setSeed(1).setMaxIter(3).fit(allNull))
    assert(ex2.getMessage.toLowerCase.contains("null") ||
      ex2.getMessage.toLowerCase.contains("empty"))
  }

  // ---- memo-cache honesty hooks ----

  test("memoTrainers covers every memoized family and clearMemoCaches is total") {
    assert(SparkEntry.memoTrainers.keySet ==
      Set("q_logreg_fit", "q_bpe_train", "q_ann_ivf"))
    SparkEntry.memoTrainers.values.foreach(_.apply()) // must not throw
    SparkEntry.clearMemoCaches()
  }
}
