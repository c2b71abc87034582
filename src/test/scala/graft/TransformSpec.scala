package graft

import graft.clustering._
import org.apache.spark.sql.functions._

/** FeatureTransform pipeline + the chunked assignment alias. */
class TransformSpec extends SparkSpec {

  test("log1p/epsilonShift/normalize expressions match driver-side math and invert") {
    import spark.implicits._
    val df = Seq(Seq(0.0, 1.0, 9.0), Seq(3.0, 4.0, 0.0)).toDF("f")
    val cases: Seq[FeatureTransform] = Seq(
      NoOpTransform, Log1pTransform, EpsilonShiftTransform(0.5),
      NormalizeL2Transform(), NormalizeL1Transform())
    cases.foreach { t =>
      val rows = df.select(t.expr(col("f"))).collect().map(_.getSeq[Double](0).toArray)
      val expect = df.select(col("f")).collect().map(r => t(r.getSeq[Double](0).toArray))
      rows.zip(expect).foreach { case (a, b) =>
        a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12, s"${t.name}: $x vs $y") }
      }
    }
    // exact inverses where defined
    val v = Array(0.2, 3.0, 7.5)
    assert(Log1pTransform.inverseCenter(Log1pTransform(v)).zip(v).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    val e = EpsilonShiftTransform(0.25)
    assert(e.inverseCenter(e(v)).zip(v).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("standardScale: fitted stats, exact inverse, compatibility table") {
    import spark.implicits._
    val df = Seq(Seq(1.0, 10.0), Seq(3.0, 20.0), Seq(5.0, 30.0)).toDF("f")
    val t = FeatureTransform.fitStandardScale(df, "f")
    assert(t.mean.toSeq == Seq(3.0, 20.0))
    val scaled = df.select(t.expr(col("f"))).collect().map(_.getSeq[Double](0))
    // mean of scaled cols = 0
    val m0 = scaled.map(_(0)).sum / 3
    assert(math.abs(m0) < 1e-12)
    val v = Array(4.0, 25.0)
    assert(t.inverseCenter(t(v)).zip(v).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(t.compatibleWith("squaredEuclidean"))
    assert(!t.compatibleWith("kl"), "negative standardized values are outside KL's domain")
    assert(!Log1pTransform.andThen(t).compatibleWith("kl"))
  }

  test("composed transform applies in order and inverts in reverse") {
    val t = EpsilonShiftTransform(1.0).andThen(Log1pTransform)
    val v = Array(0.0, 4.0)
    val f = t(v)
    assert(f.toSeq == Seq(math.log1p(1.0), math.log1p(5.0)))
    assert(t.inverseCenter(f).zip(v).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("fit on log1p-transformed features recovers heavy-tail structure") {
    import spark.implicits._
    val rnd = new java.util.Random(7)
    // two clusters distinguishable only after log compression of dim 0
    // (all values in log1p's domain x > -1: counts-like data)
    val a = (1 to 80).map(_ => Seq(math.exp(2 + rnd.nextGaussian() * 0.2), rnd.nextDouble() * 2))
    val b = (1 to 80).map(_ => Seq(math.exp(6 + rnd.nextGaussian() * 0.2), rnd.nextDouble() * 2))
    val df = (a ++ b).toDF("raw")
    val t = Log1pTransform
    val prepped = df.withColumn("features", t.expr(col("raw")))
    val m = new GeneralizedKMeans().setK(2).setSeed(3).setMaxIter(10).fit(prepped)
    val sizes = m.transform(prepped).groupBy("prediction").count()
      .collect().map(_.getLong(1)).sorted
    assert(sizes.toSeq == Seq(80L, 80L))
    // centers reported back in the original space via inverseCenter
    val orig = m.clusterCenters.map(t.inverseCenter).map(_(0)).sorted
    assert(orig(0) > 3 && orig(0) < 15, s"center0 ${orig(0)}")
    assert(orig(1) > 200 && orig(1) < 800, s"center1 ${orig(1)}")
  }

  test("chunked assignment equals broadcast assignment (tie-break included)") {
    import spark.implicits._
    val rnd = new java.util.Random(9)
    val df = (1 to 300).map(_ => Seq(rnd.nextGaussian(), rnd.nextGaussian(), rnd.nextGaussian()))
      .toDF("f")
    val centers = Array.fill(17)(Array(rnd.nextGaussian(), rnd.nextGaussian(), rnd.nextGaussian()))
    val kern = new graft.kernels.SquaredEuclideanKernel
    val a = Assignment.assign(df, "f", kern, centers, "broadcast")
      .select("f", "cluster", "dist").collect()
      .map(r => r.getSeq[Double](0) -> (r.getInt(1), r.getDouble(2))).toMap
    val b = Assignment.assign(df, "f", kern, centers, "chunked")
      .select("f", "cluster", "dist").collect()
    assert(b.length == 300)
    b.foreach { r =>
      val (ec, ed) = a(r.getSeq[Double](0))
      assert(r.getInt(1) == ec, s"cluster mismatch")
      assert(math.abs(r.getDouble(2) - ed) < 1e-12)
    }
  }
}
