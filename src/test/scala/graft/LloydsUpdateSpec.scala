package graft

import graft.clustering._
import graft.kernels._
import org.apache.spark.sql.functions._

/** Center-update machinery: the native CenterSums aggregate
  * (constant-size plan at any dimension), exact weighted median,
  * empty-cluster reseed.
  */
class LloydsUpdateSpec extends SparkSpec {

  /** n seeded points of dim d with their assignment to `centers` (the
    * first k points). Points lie on the simplex, where KL is a true
    * divergence, so every center keeps at least itself.
    */
  private def assignedFixture(n: Int, d: Int, k: Int, kernel: BregmanKernel, seed: Int) = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val pts = Array.fill(n) {
      val x = Array.fill(d)(rnd.nextDouble() + 0.01)
      val s = x.sum
      x.map(_ / s)
    }
    val centers = pts.take(k).map(_.clone())
    val assigned = Assignment.assign(pts.map(_.toSeq).toSeq.toDF("features"), "features",
      kernel, centers, "broadcast")
    (pts, centers, assigned)
  }

  private def relErr(a: Array[Double], b: Array[Double]): Double = {
    val diff = math.sqrt(a.indices.map(i => math.pow(a(i) - b(i), 2)).sum)
    diff / math.max(1e-300, math.sqrt(b.map(v => v * v).sum))
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("CenterSums gradMean equals hand-computed weighted mean + distortion") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0), 1.0, 0, 0.5),
      (Seq(3.0, 4.0), 3.0, 0, 1.0),
      (Seq(10.0, 0.0), 2.0, 1, 2.0)
    ).toDF("features", "w", "cluster", "dist")
    val res = Update.gradMean(df, "features", col("w"), new SquaredEuclideanKernel, 2)
    // cluster 0: mean = (1*1+3*3, 2*1+4*3)/(1+3) = (10/4, 14/4)
    assert(res.centers(0).toSeq == Seq(2.5, 3.5))
    assert(res.centers(1).toSeq == Seq(10.0, 0.0))
    // distortion = sum dist*w = 0.5*1 + 1*3 + 2*2 = 7.5
    assert(math.abs(res.distortion - 7.5) < 1e-12)
    assert(res.weights(0) == 4.0 && res.weights(1) == 2.0)
  }

  test("fit at d=1024 works (constant-size aggregation plan)") {
    import spark.implicits._
    val rnd = new java.util.Random(11)
    val base = Array.fill(2)(Array.fill(1024)(rnd.nextGaussian() * 5))
    val pts = for {
      b <- base.toSeq
      _ <- 1 to 40
    } yield b.map(v => v + rnd.nextGaussian() * 0.1).toSeq
    val df = pts.toDF("features")
    val m = new GeneralizedKMeans().setK(2).setSeed(3).setMaxIter(5).fit(df)
    assert(m.numFeatures == 1024)
    val sizes = m.transform(df).groupBy("prediction").count().collect().map(_.getLong(1)).sorted
    assert(sizes.toSeq == Seq(40L, 40L))
  }

  test("weighted median update matches hand-computed cumulative-weight medians") {
    import spark.implicits._
    // cluster 0, dim 0: values 1(w=1), 2(w=1), 100(w=5) -> total 7, half 3.5,
    // cum: 1->1, 2->2, 100->7 => median 100.
    // dim 1: values 5(w=1), 6(w=1), 7(w=5) -> median 7
    val df = Seq(
      (Seq(1.0, 5.0), 1.0, 0, 1.0),
      (Seq(2.0, 6.0), 1.0, 0, 1.0),
      (Seq(100.0, 7.0), 5.0, 0, 1.0)
    ).toDF("features", "w", "cluster", "dist")
    val res = Update.median(df, "features", col("w"), 2)
    assert(res.centers(0).toSeq == Seq(100.0, 7.0))
    // unweighted: 3 equal weights -> cum half = 1.5 -> second value
    val dfU = df.withColumn("w", lit(1.0))
    val resU = Update.median(dfU, "features", col("w"), 2)
    assert(resU.centers(0).toSeq == Seq(2.0, 6.0))
  }

  test("L1 k-medians end-to-end: centers are per-dimension medians, robust to outlier") {
    import spark.implicits._
    // blob A (19 tight points) + an outlier that still belongs to A, plus a
    // far blob B: A's mean would be dragged ~1 unit by the outlier; the
    // median stays on the blob.
    val pts = (1 to 19).map(i => Seq(10.0 + (i % 3) * 0.01, -5.0)) ++
      Seq(Seq(30.0, -5.0)) ++ (1 to 20).map(_ => Seq(1000.0, 1000.0))
    val df = pts.toDF("features")
    val m = new GeneralizedKMeans().setK(2).setDivergence("l1").setSeed(1).setMaxIter(10).fit(df)
    val cA = m.clusterCenters.minBy(_.head)
    assert(math.abs(cA(0) - 10.01) < 0.02, s"median center expected ~10.01, got ${cA(0)}")
    assert(cA(1) == -5.0)
  }

  test("empty-cluster reseed: k greater than distinct points still yields k centers") {
    import spark.implicits._
    val df = Seq(Seq(0.0, 0.0), Seq(0.0, 0.0), Seq(1.0, 1.0)).toDF("features")
    val m = new GeneralizedKMeans().setK(3).setSeed(1).setMaxIter(5)
      .setEmptyClusterStrategy("reseedRandom").fit(df)
    assert(m.numClusters == 3)
    // drop strategy shrinks instead
    val m2 = new GeneralizedKMeans().setK(3).setSeed(1).setMaxIter(5)
      .setEmptyClusterStrategy("drop").fit(df)
    assert(m2.numClusters <= 3)
  }

  test("CenterSums equals LocalLloyds' gradient mean (SE and KL, d = 2, 32, 129, 1024)") {
    for (kernel <- Seq(new SquaredEuclideanKernel, new KLDivergenceKernel()); d <- Seq(2, 32, 129, 1024)) {
      val k = 3
      val (pts, centers, assigned) = assignedFixture(60, d, k, kernel, d)
      // one LocalLloyds iteration from the same centers = assign + gradient mean
      val local = LocalLloyds.run(pts, Array.fill(pts.length)(1.0), k, kernel, 1, 0.0, 1L,
        Some(centers))
      val res = Update.gradMean(assigned, "features", lit(1.0), kernel, d, k)
      assert(res.centers.size == local.length, s"${kernel.name} d=$d")
      (0 until k).foreach { c =>
        val err = relErr(res.centers(c), local(c))
        assert(err < 1e-9, s"${kernel.name} d=$d cluster $c: relative error $err")
      }
    }
  }

  test("a row with a null weight or null features adds nothing") {
    import spark.implicits._
    val df = Seq[(Option[Seq[Double]], Option[Double], Int, Double)](
      (Some(Seq(1.0, 2.0)), Some(1.0), 0, 0.5),
      (Some(Seq(100.0, 100.0)), None, 0, 9.0),
      (None, Some(5.0), 0, 9.0),
      (Some(Seq(3.0, 4.0)), Some(1.0), 0, 1.5)
    ).toDF("features", "w", "cluster", "dist")
    for (res <- Seq(Update.gradMean(df, "features", col("w"), new SquaredEuclideanKernel, 2, 1),
        Update.gradMean(df, "features", col("w"), new SquaredEuclideanKernel, 2))) {
      assert(res.centers(0).toSeq == Seq(2.0, 3.0))
      assert(res.weights(0) == 2.0)
      assert(math.abs(res.distortion - 2.0) < 1e-12)
    }
  }

  test("a zero-weight cluster is absent from centers") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0), 1.0, 0, 0.5),
      (Seq(7.0, 7.0), 0.0, 1, 3.0),
      (Seq(5.0, 6.0), 2.0, 2, 1.0)
    ).toDF("features", "w", "cluster", "dist")
    val res = Update.gradMean(df, "features", col("w"), new SquaredEuclideanKernel, 2, 4)
    assert(res.centers.keySet == Set(0, 2))
    assert(res.weights.keySet == Set(0, 2))
    assert(res.centers(2).toSeq == Seq(5.0, 6.0))
  }

  test("an out-of-range cluster id raises GKMException") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), 0, 0.5), (Seq(3.0, 4.0), 2, 0.5))
      .toDF("features", "cluster", "dist")
    val e = intercept[Exception] {
      Update.gradMean(df, "features", lit(1.0), new SquaredEuclideanKernel, 2, 2)
    }
    val typed = causes(e).collectFirst { case g: GKMException => g }
    assert(typed.exists(_.error == GKMError.ClusterIdOutOfRange("2", 2)), causes(e).mkString("\n"))
  }

  test("the grouped one-slot form matches the ungrouped form") {
    for (kernel <- Seq(new SquaredEuclideanKernel, new KLDivergenceKernel())) {
      val (_, _, assigned) = assignedFixture(200, 16, 5, kernel, 7)
      val w = (col("dist") * 0 + 1.5)
      val dense = Update.gradMean(assigned, "features", w, kernel, 16, 5)
      val grouped = Update.gradMean(assigned, "features", w, kernel, 16)
      assert(dense.centers.keySet == grouped.centers.keySet)
      dense.centers.foreach { case (c, v) =>
        assert(relErr(v, grouped.centers(c)) < 1e-12, s"${kernel.name} cluster $c")
        assert(math.abs(dense.weights(c) - grouped.weights(c)) < 1e-9)
      }
      assert(math.abs(dense.distortion - grouped.distortion) <= 1e-9 * math.abs(dense.distortion))
    }
  }
}
