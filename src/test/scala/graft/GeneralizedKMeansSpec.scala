package graft

import graft.clustering._
import org.apache.spark.sql.functions._

class GeneralizedKMeansSpec extends SparkSpec {

  def blobs = {
    import spark.implicits._
    // 3 well-separated 2-d blobs, 60 points each, deterministic
    val rnd = new java.util.Random(7)
    val centers = Seq((0.0, 0.0), (10.0, 10.0), (-10.0, 8.0))
    val pts = for {
      (cx, cy) <- centers
      _ <- 1 to 60
    } yield Seq(cx + rnd.nextGaussian() * 0.5, cy + rnd.nextGaussian() * 0.5)
    pts.toDF("features")
  }

  test("SE k-means recovers 3 well-separated blobs") {
    val model = new GeneralizedKMeans().setK(3).setDivergence("squaredEuclidean")
      .setSeed(1).setMaxIter(20).fit(blobs)
    assert(model.numClusters == 3)
    val preds = model.transform(blobs)
    val sizes = preds.groupBy("prediction").count().collect().map(_.getLong(1)).sorted
    assert(sizes.toSeq == Seq(60L, 60L, 60L), s"expected 60/60/60, got ${sizes.toSeq}")
    // each recovered center is near a true blob center
    val trueCs = Seq(Array(0.0, 0.0), Array(10.0, 10.0), Array(-10.0, 8.0))
    model.clusterCenters.foreach { c =>
      assert(trueCs.exists(t => math.sqrt(math.pow(t(0) - c(0), 2) + math.pow(t(1) - c(1), 2)) < 1.0))
    }
  }

  test("same seed => identical centers (determinism)") {
    def train() = new GeneralizedKMeans().setK(3).setSeed(99).setMaxIter(10).fit(blobs)
    val (a, b) = (train(), train())
    a.clusterCenters.zip(b.clusterCenters).foreach { case (x, y) =>
      assert(x.toSeq == y.toSeq)
    }
  }

  test("expression and broadcast assignment agree") {
    val m = new GeneralizedKMeans().setK(3).setSeed(5).setMaxIter(10).fit(blobs)
    val e = m.setAssignmentStrategy("expression").transform(blobs).select("prediction").collect().map(_.getInt(0)).toSeq
    val b = m.setAssignmentStrategy("broadcast").transform(blobs).select("prediction").collect().map(_.getInt(0)).toSeq
    assert(e == b)
  }

  test("assignmentStrategy: an unknown name is refused at set time; a persisted model " +
    "carrying each accepted name loads and transforms") {
    val ex = intercept[IllegalArgumentException](new GeneralizedKMeans().setAssignmentStrategy("elkn"))
    assert(ex.getMessage.contains("assignmentStrategy"))
    val m = new GeneralizedKMeans().setK(3).setSeed(5).setMaxIter(10).fit(blobs)
    intercept[IllegalArgumentException](m.setAssignmentStrategy("Broadcast"))
    val want = m.transform(blobs).select("prediction").collect().map(_.getInt(0)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("gkm-strategy").toString
    for (name <- Assignment.Strategies) {
      val path = s"$dir/$name"
      m.copy(org.apache.spark.ml.param.ParamMap.empty).setAssignmentStrategy(name).save(path, spark)
      val loaded = GeneralizedKMeansModel.load(path, spark)
      assert(loaded.getAssignmentStrategy == name)
      assert(loaded.transform(blobs).select("prediction").collect().map(_.getInt(0)).toSeq == want,
        s"model persisted with '$name'")
    }
  }

  test("KL divergence clusters on simplex data") {
    import spark.implicits._
    val rnd = new java.util.Random(3)
    def drawNear(base: Seq[Double]) = {
      val raw = base.map(v => math.max(1e-6, v + rnd.nextGaussian() * 0.02))
      val s = raw.sum; raw.map(_ / s)
    }
    val a = Seq(0.8, 0.1, 0.1); val b = Seq(0.1, 0.1, 0.8)
    val df = ((1 to 50).map(_ => drawNear(a)) ++ (1 to 50).map(_ => drawNear(b))).toDF("features")
    val m = new GeneralizedKMeans().setK(2).setDivergence("kl").setSeed(2).setMaxIter(15).fit(df)
    val sizes = m.transform(df).groupBy("prediction").count().collect().map(_.getLong(1)).sorted
    assert(sizes.toSeq == Seq(50L, 50L))
  }

  test("weighted fit: heavy point pulls its center") {
    import spark.implicits._
    val df = Seq(
      (Seq(0.0, 0.0), 1.0), (Seq(1.0, 0.0), 1.0),
      (Seq(10.0, 0.0), 100.0), (Seq(11.0, 0.0), 1.0)
    ).toDF("features", "w")
    val m = new GeneralizedKMeans().setK(2).setSeed(1).setWeightCol("w").setMaxIter(10).fit(df)
    // the k=2 solution must place one center very near (10, 0) due to weight
    assert(m.clusterCenters.exists(c => math.abs(c(0) - 10.0) < 0.5))
  }

  test("computeCost decreases vs a deliberately bad model") {
    val good = new GeneralizedKMeans().setK(3).setSeed(1).setMaxIter(20).fit(blobs)
    val cost = good.computeCost(blobs)
    val bad = new GeneralizedKMeansModel("bad",
      Array(Array(100.0, 100.0), Array(200.0, 200.0), Array(300.0, 300.0)),
      "squaredEuclidean", 1e-10)
    assert(cost < bad.computeCost(blobs))
    assert(cost >= 0)
  }

  test("save/load roundtrip") {
    val m = new GeneralizedKMeans().setK(3).setSeed(1).setMaxIter(10).fit(blobs)
    val dir = java.nio.file.Files.createTempDirectory("gkm").toString
    m.save(dir, spark)
    val loaded = GeneralizedKMeansModel.load(dir, spark)
    assert(loaded.numClusters == 3)
    loaded.clusterCenters.zip(m.clusterCenters).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    assert(loaded.divergenceName == m.divergenceName)
  }

  test("fit on real embeddings table (array<float> input)") {
    val df = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val m = new GeneralizedKMeans().setK(10).setFeaturesCol("embedding")
      .setSeed(42).setMaxIter(5).fit(df)
    assert(m.numClusters == 10)
    assert(m.numFeatures == 64)
    val out = m.transform(df)
    assert(out.count() == 500)
    assert(out.select("prediction").distinct().count() > 1)
  }

  test("training summary is populated") {
    val m = new GeneralizedKMeans().setK(3).setSeed(1).setMaxIter(20).fit(blobs)
    val s = m.summary
    assert(s.numPoints == 180)
    assert(s.iterations > 0 && s.iterations <= 20)
    assert(s.distortionHistory.nonEmpty)
    // distortion is non-increasing after the first couple of iterations
    val d = s.distortionHistory
    assert(d.last <= d.head + 1e-9)
  }
}
