package graft

import graft.clustering._
import graft.kernels.SquaredEuclideanKernel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r3 verdict tail items: noise-cluster mode, exact silhouette, soft
  * effective clusters, hard capacity assignment, sparse KL/L1 paths.
  */
class TailsSpec extends SparkSpec {

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

  test("RobustKMeans noiseCluster mode predicts -1 for outliers") {
    val outliers = Seq(Seq(100.0, 100.0), Seq(-80.0, 90.0)).map((_, -1))
    val df = blobs().union(outliers.toDF("features", "label")).cache()
    val m = new RobustKMeans().setK(3).setOutlierMode("noiseCluster")
      .setOutlierFraction(0.02).setSeed(42).setMaxIter(10).fit(df)
    assert(m.isInstanceOf[NoiseClusterKMeansModel])
    val preds = m.transform(df).select("features", "prediction").collect()
    val outlierPreds = preds.filter(r => r.getSeq[Double](0).head > 50 || r.getSeq[Double](0).head < -50)
      .map(_.getInt(1))
    assert(outlierPreds.forall(_ == -1), s"planted outliers must predict -1, got ${outlierPreds.toSeq}")
    val inlierPreds = preds.filter(r => math.abs(r.getSeq[Double](0).head) < 50).map(_.getInt(1))
    assert(inlierPreds.count(_ == -1) < inlierPreds.length * 0.1,
      "inliers must overwhelmingly get real clusters")
    df.unpersist()
  }

  test("NoiseClusterKMeansModel persistence round-trips the threshold") {
    val df = blobs()
    val m = new RobustKMeans().setK(3).setOutlierMode("noiseCluster")
      .setOutlierFraction(0.05).setSeed(42).setMaxIter(5).fit(df)
      .asInstanceOf[NoiseClusterKMeansModel]
    val dir = java.nio.file.Files.createTempDirectory("graft-noise").toFile
    dir.deleteOnExit()
    val p = new java.io.File(dir, "m").getAbsolutePath
    m.write.overwrite().save(p)
    val loaded = NoiseClusterKMeansModel.read.load(p)
    assert(loaded.noiseThreshold == m.noiseThreshold)
    val a = m.transform(df).select("prediction").collect().map(_.getInt(0)).toSeq
    val b = loaded.transform(df).select("prediction").collect().map(_.getInt(0)).toSeq
    assert(a == b)
  }

  test("exact silhouette: hand-computed value on a 4-point layout") {
    // two tight pairs far apart; SE divergence (with the 1/2 factor)
    val pts = Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(10.0, 0.0), Seq(11.0, 0.0))
    val df = pts.toDF("features")
    val centers = Array(Array(0.5, 0.0), Array(10.5, 0.0))
    val s = ClusteringMetrics.exactSilhouette(df, "features", new SquaredEuclideanKernel, centers)
    // point 0: a = D(0,1) = 0.5; b = (D(0,2)+D(0,3))/2 = (50+60.5)/2 = 55.25
    // s0 = (55.25-0.5)/55.25; symmetric for all 4 points by construction
    val a0 = 0.5
    val b0 = (50.0 + 60.5) / 2
    val expected0 = (b0 - a0) / b0
    val a1 = 0.5
    val b1 = (40.5 + 50.0) / 2
    val expected1 = (b1 - a1) / b1
    val expected = (2 * expected0 + 2 * expected1) / 4
    assert(math.abs(s - expected) < 1e-9, s"silhouette $s vs $expected")
  }

  test("exact silhouette: high on separated blobs, refuses above cap") {
    val df = blobs()
    val m = new GeneralizedKMeans().setK(3).setSeed(42).setMaxIter(10).fit(df)
    val s = ClusteringMetrics.exactSilhouette(df, "features",
      new SquaredEuclideanKernel, m.clusterCenters)
    assert(s > 0.8, s"separated blobs silhouette $s")
    val e = intercept[IllegalArgumentException] {
      ClusteringMetrics.exactSilhouette(df, "features",
        new SquaredEuclideanKernel, m.clusterCenters, maxPoints = 10)
    }
    assert(e.getMessage.contains("O(n^2)"))
  }

  test("soft effective clusters: ~k on balanced blobs, ~1 when one dominates") {
    val df = blobs().cache()
    val m = new SoftKMeans().setK(3).setBeta(5.0).setSeed(42).setMaxIter(8).fit(df)
    val eff = m.effectiveClusters(df)
    assert(eff > 2.5 && eff <= 3.0 + 1e-9, s"balanced effective clusters $eff")
    // score only one blob: memberships concentrate on one component
    val one = df.where(col("label") === 0)
    val eff1 = m.effectiveClusters(one)
    assert(eff1 < 1.5, s"single-blob effective clusters $eff1")
    df.unpersist()
  }

  test("hard capacity assignment never exceeds the quota") {
    val rnd = new java.util.Random(5)
    val big = (1 to 300).map(_ => Seq(rnd.nextGaussian() * 2.0, rnd.nextGaussian() * 2.0))
    val small = (1 to 60).map(_ => Seq(6.0 + rnd.nextGaussian() * 0.5, rnd.nextGaussian() * 0.5))
    val df = (big ++ small).toDF("features").cache()
    val m = new GeneralizedKMeans().setK(2).setSeed(8).setMaxIter(10).fit(df)
    val hard = BalancedKMeans.hardAssign(df, "features", m.clusterCenters,
      new SquaredEuclideanKernel, maxSize = 200)
    val sizes = hard.groupBy("prediction").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 200), s"sizes ${sizes.toSeq} exceed the 200 cap")
    assert(sizes.sum == 360)
    df.unpersist()
  }

  test("sparse KL recovers disjoint-support positive blobs without densifying") {
    val rnd = new java.util.Random(3)
    val d = 500
    // group A: support 0..9, group B: support 250..259 (positive values)
    def row(base: Int) = {
      val idx = (0 until 10).map(base + _)
      (idx.map(_.toDouble), idx.map(_ => 1.0 + rnd.nextDouble()))
    }
    val rows = (1 to 40).map(_ => row(0)) ++ (1 to 40).map(_ => row(250))
    val df = rows.map { case (i, v) =>
      val arr = new Array[Double](d)
      i.zip(v).foreach { case (ii, vv) => arr(ii.toInt) = vv }
      arr.toSeq
    }.toDF("features")
    val m = new SparseKMeans().setK(2).setDivergence("kl").setSparseMode("sparse")
      .setSeed(42).setMaxIter(10).fit(df)
    val preds = m.transform(df).select("prediction").collect().map(_.getInt(0))
    assert(preds.take(40).distinct.length == 1 && preds.drop(40).distinct.length == 1)
    assert(preds.head != preds.last, "support groups must separate")
    assert(m.clusterCenters.flatten.forall(_ >= 0.0), "KL centers stay non-negative")
  }

  test("sparse L1 centers are exact per-dimension medians including implicit zeros") {
    val d = 100
    // one tight support group; dim 0 values [1,1,3,5,5] -> median 3;
    // dim 1 only 2 of 5 rows nonzero -> median 0 (zeros majority)
    val rowVals = Seq(
      Seq((0, 1.0), (1, 7.0)),
      Seq((0, 1.0), (1, 9.0)),
      Seq((0, 3.0)),
      Seq((0, 5.0)),
      Seq((0, 5.0)))
    // second cluster far away on dims 50/51 so k=2 separates trivially
    val rowVals2 = (1 to 5).map(_ => Seq((50, 100.0), (51, 100.0)))
    val mk = (entries: Seq[(Int, Double)]) => {
      val a = new Array[Double](d); entries.foreach { case (i, v) => a(i) = v }; a.toSeq
    }
    val df = (rowVals ++ rowVals2).map(mk).toDF("features")
    val m = new SparseKMeans().setK(2).setDivergence("l1").setSparseMode("sparse")
      .setSeed(42).setMaxIter(6).fit(df)
    val centerA = m.clusterCenters.minBy(_(50)) // the cluster NOT at 100
    assert(centerA(0) == 3.0, s"dim0 median ${centerA(0)} != 3.0")
    assert(centerA(1) == 0.0, s"dim1 median ${centerA(1)} != 0.0 (zeros majority)")
  }

  test("sparse KL and L1 fits equal the dense engine from the same warm start") {
    val rnd = new java.util.Random(11)
    val d = 120
    def mkRow(base: Int) = {
      val a = new Array[Double](d)
      (0 until 8).foreach(j => a(base + j) = 1.0 + rnd.nextDouble())
      a.toSeq
    }
    val df = ((1 to 30).map(_ => mkRow(0)) ++ (1 to 30).map(_ => mkRow(60)))
      .toDF("features").cache()
    val init = Array(
      Array.tabulate(d)(j => if (j < 8) 1.5 else 0.0),
      Array.tabulate(d)(j => if (j >= 60 && j < 68) 1.5 else 0.0))
    def fitWith(mode: String, div: String) =
      new SparseKMeans().setK(2).setDivergence(div).setSparseMode(mode)
        .setMaxIter(4).setTol(0.0).setSeed(7)
        .setInitialCenters(init.map(_.clone())).fit(df)
    // KL: sparse shifted-gradient aggregation vs dense gradient mean —
    // mathematically identical, float order differs -> tight tolerance
    val (sKl, dKl) = (fitWith("sparse", "kl"), fitWith("dense", "kl"))
    sKl.clusterCenters.sortBy(_.indexWhere(_ > 0.5))
      .zip(dKl.clusterCenters.sortBy(_.indexWhere(_ > 0.5))).foreach { case (a, b) =>
        a.zip(b).foreach { case (x, y) =>
          assert(math.abs(x - y) < 1e-8, s"sparse KL center drift: $x vs $y") }
      }
    // L1: medians are data values -> bit-exact equality
    val (sL1, dL1) = (fitWith("sparse", "l1"), fitWith("dense", "l1"))
    sL1.clusterCenters.sortBy(_.indexWhere(_ != 0.0))
      .zip(dL1.clusterCenters.sortBy(_.indexWhere(_ != 0.0))).foreach { case (a, b) =>
        assert(a.toSeq == b.toSeq, "sparse L1 centers must equal dense exactly")
      }
    df.unpersist()
  }

  test("crossJoin assignment strategy matches broadcast incl. tie-break") {
    val df = blobs(perBlob = 40).cache()
    val m = new GeneralizedKMeans().setK(3).setSeed(42).setMaxIter(5).fit(df)
    val bc = Assignment.assign(df, "features", new SquaredEuclideanKernel,
      m.clusterCenters, "broadcast")
      .select("features", "cluster").collect()
      .map(r => r.getSeq[Double](0) -> r.getInt(1)).toMap
    val cj = Assignment.assign(df, "features", new SquaredEuclideanKernel,
      m.clusterCenters, "crossjoin")
      .select("features", "cluster").collect()
      .map(r => r.getSeq[Double](0) -> r.getInt(1)).toMap
    assert(cj == bc, "crossjoin and broadcast assignments must be identical")
    // a full fit through the strategy also works
    val m2 = new GeneralizedKMeans().setK(3).setSeed(42).setMaxIter(5)
      .setAssignmentStrategy("crossjoin").fit(df)
    assert(m2.numClusters == 3)
    df.unpersist()
  }

  test("generic Bregman D_F agrees with every hand-optimized divergence") {
    import graft.kernels._
    val rnd = new java.util.Random(11)
    val pairs = (1 to 50).map { _ =>
      (Array.fill(6)(0.1 + rnd.nextDouble()), Array.fill(6)(0.1 + rnd.nextDouble()))
    }
    // exact identities
    for (k <- Seq(new SquaredEuclideanKernel, new ItakuraSaitoKernel(),
        new GeneralizedIDivergenceKernel())) {
      pairs.foreach { case (x, mu) =>
        val a = k.divergence(x, mu)
        val b = k.genericDivergence(x, mu)
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)), s"${k.name}: $a vs $b")
      }
    }
    // logistic on (0,1)
    val lk = new LogisticLossKernel()
    pairs.map { case (x, mu) => (x.map(v => v / 2.5), mu.map(v => v / 2.5)) }
      .foreach { case (x, mu) =>
        val a = lk.divergence(x, mu)
        val b = lk.genericDivergence(x, mu)
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)), s"logistic: $a vs $b")
      }
    // KL is the simplex restriction: equal when sums match
    val kl = new KLDivergenceKernel()
    pairs.foreach { case (x, mu) =>
      val sx = x.sum
      val xn = x.map(_ / sx)
      val sm = mu.sum
      val mn = mu.map(_ / sm)
      val a = kl.divergence(xn, mn)
      val b = kl.genericDivergence(xn, mn)
      assert(math.abs(a - b) <= 1e-6, s"KL simplex: $a vs $b")
    }
    // L1 has no generator: genericDivergence falls back to divergence
    val l1 = new L1Kernel
    assert(l1.genericDivergence(Array(1.0, 2.0), Array(0.5, 3.0)) ==
      l1.divergence(Array(1.0, 2.0), Array(0.5, 3.0)))
  }

  test("custom kernel registration: a user divergence fits through the estimator family") {
    // diagonal-weighted SE: the reference's custom-kernel extension
    // contract (implement the trait, hand it to any estimator by name)
    class DiagWeightedSE(w: Double) extends graft.kernels.BregmanKernel {
      override val name = s"diagWSE($w)"
      override def divergence(x: Array[Double], mu: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < x.length) { val d = x(i) - mu(i); s += w * d * d; i += 1 }
        s
      }
      override def grad(x: Array[Double]): Array[Double] = x
      override def invGrad(t: Array[Double]): Array[Double] = t
    }
    graft.kernels.KernelFactory.register("diagwse", _ => new DiagWeightedSE(2.0))
    try {
      assert(graft.kernels.KernelFactory.supported.contains("diagwse"))
      val df = blobs(perBlob = 40).cache()
      val m = new GeneralizedKMeans().setK(3).setDivergence("diagwse")
        .setSeed(42).setMaxIter(5).fit(df)
      assert(m.clusterCenters.length == 3)
      // 2x-weighted SE has the same argmin as SE -> same assignment as the
      // built-in kernel from the same seed
      val se = new GeneralizedKMeans().setK(3).setDivergence("squaredEuclidean")
        .setSeed(42).setMaxIter(5).fit(df)
      val a = m.transform(df).select("prediction").collect().map(_.getInt(0)).toSeq
      val b = se.transform(df).select("prediction").collect().map(_.getInt(0)).toSeq
      assert(a == b, "scaled SE must induce the identical clustering")
      df.unpersist()
      // built-ins cannot be shadowed; unknown names list registered ones
      intercept[IllegalArgumentException](
        graft.kernels.KernelFactory.register("kl", _ => new DiagWeightedSE(1.0)))
      val ex = intercept[IllegalArgumentException](graft.kernels.KernelFactory("nope"))
      assert(ex.getMessage.contains("diagwse"))
    } finally graft.kernels.KernelFactory.unregister("diagwse")
    assert(!graft.kernels.KernelFactory.supported.contains("diagwse"))
  }
}
