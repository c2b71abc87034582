package graft

import graft.clustering.{GeneralizedKMeans, GeneralizedKMeansModel, InterchangeV1}
import org.apache.spark.ml.linalg.Vectors

/** Engine-neutral LayoutV1 interchange (reference:
  * df/persistence/PersistenceLayout.scala, PERSISTENCE_COMPATIBILITY.md):
  * round-trip through our writer, load of a FOREIGN hand-authored layout
  * (simulating a reference-written model, with unknown params to ignore),
  * and the validation/corruption failure modes.
  */
class InterchangeSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("gkm-interchange").toString

  private def data = {
    import spark.implicits._
    val rnd = new java.util.Random(7)
    (1 to 150).map { i =>
      val c = if (i % 3 == 0) 0.0 else if (i % 3 == 1) 8.0 else -8.0
      (i.toLong, Seq(c + rnd.nextGaussian(), c + rnd.nextGaussian(), c))
    }.toDF("id", "features")
  }

  test("resume training from an interchange checkpoint (load -> warm start)") {
    // the migration story end to end: a model written in the engine-neutral
    // layout (by us or by the reference) seeds continued training here
    val df = data
    val m1 = new GeneralizedKMeans().setK(3).setFeaturesCol("features")
      .setSeed(11).setMaxIter(4).fit(df)
    val dir = tmpDir()
    InterchangeV1.save(spark, m1, dir)
    val loaded = InterchangeV1.load(spark, dir)
    val resumed = new GeneralizedKMeans().setK(3).setFeaturesCol("features")
      .setMaxIter(10).setTol(1e-6)
      .setInitialCenters(loaded.clusterCenters).fit(df)
    // warm-started fit converges (first movement small-ish, cost no worse)
    assert(resumed.computeCost(df) <= m1.computeCost(df) + 1e-9)
    assert(resumed.summary.converged || resumed.summary.iterations == 10)
  }

  test("LayoutV1 round-trip preserves centers, divergence, and params") {
    val model = new GeneralizedKMeans()
      .setK(3).setSeed(11).setMaxIter(8).setDivergence("kl")
      .setSmoothing(1e-8).setPredictionCol("cl").setDistanceCol("d")
      .fit(data.selectExpr("id", "transform(features, v -> abs(v) + 0.5) AS features"))
    val path = tmpDir() + "/m"
    InterchangeV1.save(spark, model, path)

    // layout on disk is the engine-neutral contract, not our ML layout
    assert(new java.io.File(s"$path/metadata.json").isFile)
    assert(new java.io.File(s"$path/centers.parquet").isDirectory)

    val loaded = InterchangeV1.load(spark, path, strict = true)
    assert(loaded.clusterCenters.map(_.toSeq).toSeq ==
      model.clusterCenters.map(_.toSeq).toSeq)
    assert(loaded.divergenceName == "kl")
    assert(loaded.smoothingValue == 1e-8)
    assert(loaded.uid == model.uid)
    assert(loaded.getOrDefault(loaded.maxIter) == 8)
    assert(loaded.getOrDefault(loaded.seed) == 11L)
    assert(loaded.getPredictionCol == "cl")
    assert(loaded.getDistanceCol == "d")
  }

  test("metadata.json carries the reference schema fields and self-hash") {
    val model = new GeneralizedKMeans().setK(2).setSeed(3).setMaxIter(4).fit(data)
    val path = tmpDir() + "/m"
    InterchangeV1.save(spark, model, path)
    val metaStr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/metadata.json")), "UTF-8")
    import org.json4s._
    import org.json4s.jackson.JsonMethods._
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = parse(metaStr)
    assert((j \ "layoutVersion").extract[Int] == 1)
    assert((j \ "algo").extract[String] == "GeneralizedKMeansModel")
    assert((j \ "k").extract[Int] == 2)
    assert((j \ "dim").extract[Int] == 3)
    assert((j \ "centers" \ "ordering").extract[String].startsWith("center_id ASC"))
    assert((j \ "checksums" \ "centersParquetSHA256").extract[String].length == 64)
    // two-pass self-hash: stored hash == sha256 of the file with hash slot emptied
    val metaHash = (j \ "checksums" \ "metadataCanonicalSHA256").extract[String]
    assert(metaHash.length == 64)
    val emptied = metaStr.replace(metaHash, "")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val recomputed = md.digest(emptied.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(recomputed == metaHash)
  }

  /** A LayoutV1 model exactly as the reference writes it. */
  private def writeForeign(path: String, strategy: String = "auto"): Unit = {
    import spark.implicits._
    // centers.parquet exactly as the reference writes it:
    // (center_id INT, weight DOUBLE, vector ml VectorUDT), one file
    Seq(
      (0, 1.0, Vectors.dense(1.0, 2.0)),
      (1, 1.0, Vectors.dense(-3.0, 4.0)))
      .toDF("center_id", "weight", "vector")
      .coalesce(1).write.parquet(s"$path/centers.parquet")
    // metadata.json with the reference's key order, a params entry we don't
    // model (checkpointDir), and an unknown future param (convergenceMetric)
    val meta =
      s"""{"layoutVersion":1,"algo":"GeneralizedKMeansModel","sparkMLVersion":"3.5.1",
        |"scalaBinaryVersion":"2.12","divergence":"squaredEuclidean","k":2,"dim":2,
        |"uid":"gkmeans_ref1","kernelName":"SquaredEuclidean",
        |"params":{"maxIter":20,"tol":1.0E-4,"seed":1234,"assignmentStrategy":"$strategy",
        |"smoothing":1.0E-10,"emptyClusterStrategy":"reseedRandom","checkpointInterval":10,
        |"initMode":"k-means||","initSteps":2,"featuresCol":"features",
        |"predictionCol":"prediction","distanceCol":"","weightCol":"",
        |"checkpointDir":"","convergenceMetric":"distortion"},
        |"centers":{"count":2,"ordering":"center_id ASC (0..k-1)","storage":"parquet"},
        |"checksums":{"centersParquetSHA256":"","metadataCanonicalSHA256":""}}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/metadata.json"),
      meta.getBytes("UTF-8"))
  }

  test("loads a foreign LayoutV1 model (reference writer shape, unknown params ignored)") {
    import spark.implicits._
    val path = tmpDir() + "/foreign"
    writeForeign(path)

    val m = InterchangeV1.load(spark, path)
    assert(m.uid == "gkmeans_ref1")
    assert(m.numClusters == 2 && m.numFeatures == 2)
    assert(m.clusterCenters(0).toSeq == Seq(1.0, 2.0))
    assert(m.clusterCenters(1).toSeq == Seq(-3.0, 4.0))
    assert(m.getOrDefault(m.maxIter) == 20)
    assert(m.getOrDefault(m.seed) == 1234L)
    assert(m.divergenceName == "squaredEuclidean")
    // and the loaded model actually transforms
    val out = m.transform(Seq((1L, Seq(1.1, 2.1)), (2L, Seq(-3.0, 3.9)))
      .toDF("id", "features"))
    assert(out.select("prediction").as[Int].collect().toSeq == Seq(0, 1))
  }

  test("a foreign model's strategy name maps onto the accepted names") {
    for ((theirs, ours) <- Seq("crossJoin" -> "crossjoin", "Broadcast" -> "broadcast",
        "adaptive" -> "auto")) {
      val path = tmpDir() + "/foreign"
      writeForeign(path, theirs)
      assert(InterchangeV1.load(spark, path).getAssignmentStrategy == ours, theirs)
    }
  }

  test("loads the PINNED reference-layout fixture artifact (strict checksums)") {
    // A checked-in on-disk artifact in the reference's exact LayoutV1
    // shape (generated once by graft.tools.MakeLayoutFixture, which
    // re-implements the REFERENCE writer recipe independently of
    // InterchangeV1.save — field order, (center_id, weight, vector)
    // parquet schema, toJSON SHA-256, two-pass metadata self-hash;
    // reference: df/persistence/PersistenceLayout.scala:82-144). Frozen
    // bytes in git: if our reader drifts from the layout — even if our
    // writer drifts the same way — this fails. strict=true verifies the
    // centers checksum recorded in metadata.json against the parquet.
    val path = new java.io.File(
      getClass.getResource("/fixtures/layoutv1/gkm_kl_k3d4").toURI).getAbsolutePath
    val m = InterchangeV1.load(spark, path, strict = true)
    assert(m.numClusters == 3 && m.numFeatures == 4)
    assert(m.divergenceName == "kl")
    assert(m.smoothingValue == 1e-9)
    assert(m.clusterCenters(0).sameElements(Array(0.5, 1.25, 2.0, 0.125)))
    assert(m.clusterCenters(1).sameElements(Array(3.75, 0.25, 1.5, 2.5)))
    assert(m.clusterCenters(2).sameElements(Array(0.0625, 4.0, 0.75, 1.0)))
    assert(m.getOrDefault(m.maxIter) == 25 && m.getOrDefault(m.seed) == 4242L)
    assert(m.getOrDefault(m.predictionCol) == "prediction")
    // the unknown forward-compat param in the file was ignored, and the
    // loaded model is immediately usable
    import spark.implicits._
    val probe = Seq((1L, Seq(0.5, 1.25, 2.0, 0.125)), (2L, Seq(0.0625, 4.0, 0.75, 1.0)))
      .toDF("id", "features")
    val preds = m.transform(probe).select("id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(preds(1L) == 0 && preds(2L) == 2)
  }

  test("refuses wrong layoutVersion and k/count mismatch") {
    import spark.implicits._
    val path = tmpDir() + "/bad"
    Seq((0, 1.0, Vectors.dense(1.0))).toDF("center_id", "weight", "vector")
      .write.parquet(s"$path/centers.parquet")
    def writeMeta(version: Int, k: Int): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/metadata.json"),
        s"""{"layoutVersion":$version,"k":$k,"dim":1,"uid":"u","divergence":"squaredEuclidean","params":{}}"""
          .getBytes("UTF-8"))
    writeMeta(2, 1)
    intercept[IllegalArgumentException](InterchangeV1.load(spark, path))
    writeMeta(1, 3)
    intercept[IllegalArgumentException](InterchangeV1.load(spark, path))
  }

  test("strict load detects center corruption via checksum") {
    val model = new GeneralizedKMeans().setK(2).setSeed(9).setMaxIter(4).fit(data)
    val path = tmpDir() + "/c"
    InterchangeV1.save(spark, model, path)
    // tamper: rewrite centers with a different vector, keep metadata
    import spark.implicits._
    Seq((0, 1.0, Vectors.dense(9.0, 9.0, 9.0)), (1, 1.0, Vectors.dense(0.0, 0.0, 0.0)))
      .toDF("center_id", "weight", "vector")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centers.parquet")
    intercept[IllegalStateException](InterchangeV1.load(spark, path, strict = true))
    // lenient load still returns a model (cross-version tolerance)
    assert(InterchangeV1.load(spark, path).numClusters == 2)
  }
}
