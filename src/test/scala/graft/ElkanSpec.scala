package graft

import graft.clustering._
import org.apache.spark.sql.functions._

/** Elkan/Hamerly acceleration: identical results to the exact loop
  * (pruning is lossless) and measurably fewer distance computations.
  */
class ElkanSpec extends SparkSpec {

  private def blobs(perBlob: Int, k: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val centers = (0 until k).map(i =>
      (math.cos(2 * math.Pi * i / k) * 20, math.sin(2 * math.Pi * i / k) * 20))
    val pts = for {
      (cx, cy) <- centers
      _ <- 1 to perBlob
    } yield Seq(cx + rnd.nextGaussian(), cy + rnd.nextGaussian())
    pts.toDF("features")
  }

  test("ElkanAssignment agrees with exact assignment on every row") {
    val df = blobs(40, 8, 3)
    val rnd = new java.util.Random(5)
    val centers = Array.fill(8)(Array(rnd.nextGaussian() * 15, rnd.nextGaussian() * 15))
    val exact = Assignment.assign(df, "features", new graft.kernels.SquaredEuclideanKernel, centers)
      .select("features", "cluster", "dist").collect()
      .map(r => r.getSeq[Double](0) -> (r.getInt(1), r.getDouble(2))).toMap
    val fast = ElkanAssignment.assign(df, "features", centers)
      .select("features", "cluster", "dist").collect()
    fast.foreach { r =>
      val (ec, ed) = exact(r.getSeq[Double](0))
      assert(r.getInt(1) == ec)
      assert(math.abs(r.getDouble(2) - ed) < 1e-9)
    }
  }

  test("lemma-1 pruning computes far fewer than n*k distances") {
    val df = blobs(100, 10, 7).cache()
    val n = df.count()
    val model = new GeneralizedKMeans().setK(10).setSeed(5).setMaxIter(10).fit(df)
    val acc = spark.sparkContext.longAccumulator("elkanComputed")
    // force the UDF to actually run (count() would prune the projection)
    ElkanAssignment.assign(df, "features", model.clusterCenters, computedAcc = Some(acc))
      .agg(sum(col("cluster"))).head()
    val naive = n * 10
    assert(acc.value > 0, "assignment UDF never ran")
    assert(acc.value < naive / 2, s"computed ${acc.value} of $naive — pruning ineffective")
    df.unpersist()
  }

  test("elkan loop reaches the same centers as the exact loop (same seed)") {
    val df = blobs(60, 6, 11).cache()
    val std = new GeneralizedKMeans().setK(6).setSeed(9).setMaxIter(15).fit(df)
    val elk = new GeneralizedKMeans().setK(6).setSeed(9).setMaxIter(15)
      .setAssignmentStrategy("elkan").fit(df)
    std.clusterCenters.zip(elk.clusterCenters).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, s"$x vs $y") }
    }
    assert(elk.summary.algorithm == "GeneralizedKMeans")
    // transform with the elkan strategy matches too
    val p1 = std.transform(df).select("prediction").collect().map(_.getInt(0)).toSeq
    val p2 = elk.transform(df).select("prediction").collect().map(_.getInt(0)).toSeq
    assert(p1 == p2)
    df.unpersist()
  }

  test("hamerly (single-bound) loop reaches the same centers as the exact loop") {
    val df = blobs(60, 6, 11).cache()
    val std = new GeneralizedKMeans().setK(6).setSeed(9).setMaxIter(15).fit(df)
    val ham = new GeneralizedKMeans().setK(6).setSeed(9).setMaxIter(15)
      .setAssignmentStrategy("hamerly").fit(df)
    std.clusterCenters.zip(ham.clusterCenters).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, s"$x vs $y") }
    }
    df.unpersist()
  }

  test("per-center bounds match exact at larger k (the regime they exist for)") {
    val df = blobs(25, 24, 13).cache()
    val std = new GeneralizedKMeans().setK(24).setSeed(17).setMaxIter(12).fit(df)
    val elk = new GeneralizedKMeans().setK(24).setSeed(17).setMaxIter(12)
      .setAssignmentStrategy("elkan").fit(df)
    std.clusterCenters.zip(elk.clusterCenters).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, s"$x vs $y") }
    }
    // final-assignment parity on every row (ub/lbs state never desyncs)
    val p1 = std.transform(df).select("prediction").collect().map(_.getInt(0)).toSeq
    val p2 = elk.transform(df).select("prediction").collect().map(_.getInt(0)).toSeq
    assert(p1 == p2)
    df.unpersist()
  }

  test("k=50: per-center bounds skip more than the single Hamerly bound, and the summary reports it") {
    // the regime full per-center bounds exist for: many centers, so a
    // single min-other bound is loose (any center's movement decays it)
    // while per-center bounds only decay by each center's OWN movement
    val df = blobs(20, 50, 23).cache()
    def fitWith(strategy: String) = new GeneralizedKMeans()
      .setK(50).setSeed(31).setMaxIter(15).setTol(0.0)
      .setAssignmentStrategy(strategy).fit(df)
    val elkan = fitWith("elkan")
    val hamerly = fitWith("hamerly")
    val eRate = elkan.summary.boundSkipRate
    val hRate = hamerly.summary.boundSkipRate
    assert(eRate.isDefined && hRate.isDefined, "accelerated loops must report a skip rate")
    assert(eRate.get >= 0.0 && eRate.get <= 1.0 && hRate.get >= 0.0 && hRate.get <= 1.0)
    assert(eRate.get > hRate.get,
      f"per-center bounds should skip more at k=50: elkan=${eRate.get}%.3f hamerly=${hRate.get}%.3f")
    assert(eRate.get > 0.5,
      f"with converging centers most row steps should be bound-resolved, got ${eRate.get}%.3f")
    // losslessness at this k too: same centers from the same seed
    elkan.clusterCenters.zip(hamerly.clusterCenters).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
    // the plain loop reports no skip rate
    val plain = new GeneralizedKMeans().setK(8).setSeed(31).setMaxIter(3).fit(df)
    assert(plain.summary.boundSkipRate.isEmpty)
    df.unpersist()
  }

  test("elkan falls back gracefully for non-SE divergences") {
    import spark.implicits._
    val df = (1 to 50).map(i => Seq(0.1 + i * 0.01, 0.2, 0.3)).toDF("features")
    // KL + elkan: strategy silently uses the generic loop (SE-only pruning)
    val m = new GeneralizedKMeans().setK(2).setDivergence("kl").setSeed(2)
      .setMaxIter(5).setAssignmentStrategy("elkan").fit(df)
    assert(m.numClusters == 2)
  }
}
