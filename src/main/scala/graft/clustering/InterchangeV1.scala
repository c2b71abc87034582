package graft.clustering

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Engine-neutral LayoutV1 model interchange.
  *
  * The reference persists models in a versioned, engine-neutral layout
  * (reference: df/persistence/PersistenceLayout.scala:26-144,
  * PERSISTENCE_COMPATIBILITY.md):
  *
  * {{{
  * <modelPath>/
  *   metadata.json        # layoutVersion, algo, divergence, k, dim, params, checksums
  *   centers.parquet/     # (center_id INT, weight DOUBLE, vector ml.linalg.Vector)
  *   summary.json         # optional training metrics
  * }}}
  *
  * This module reads and writes that layout so a user migrating from the
  * reference library can `InterchangeV1.load` a model the reference saved
  * (and vice versa: models we save here load there), independent of our
  * own Spark-ML-native `GeneralizedKMeansModel.write` layout.
  *
  * Contract details matched to the reference:
  *   - centers are written coalesce(1), ordered by center_id ASC;
  *   - `centersParquetSHA256` = SHA-256 of the centers DataFrame rendered
  *     via Spark's `toJSON` in center_id order, newline-joined
  *     (reference: df/persistence/PersistenceLayout.scala:100-108);
  *   - `metadataCanonicalSHA256` = SHA-256 of the metadata.json bytes as
  *     first written with an EMPTY self-hash, then the file is rewritten
  *     with the hash filled in (two-pass, reference:
  *     ml/GeneralizedKMeansModel.scala:317-331);
  *   - readers ignore unknown params (forward compatibility) and apply
  *     defaults for absent ones (backward compatibility).
  */
object InterchangeV1 {

  val LayoutVersion: Int = 1

  import org.json4s._
  import org.json4s.jackson.JsonMethods._
  import org.json4s.JsonDSL._

  private def sha256(bytes: Array[Byte]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  private def scalaBinaryVersion: String =
    util.Properties.versionNumberString.split("\\.").take(2).mkString(".")

  /** Deterministic content hash of a centers frame: JSON rows in
    * center_id order, newline-joined. k rows only — driver-side collect
    * is O(k*d), not data-sized.
    */
  private def centersHash(df: DataFrame): String = {
    val json = df.orderBy("center_id").toJSON.collect().mkString("\n")
    sha256(json.getBytes(StandardCharsets.UTF_8))
  }

  private def writeLocalFile(spark: SparkSession, dir: String, name: String,
      content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    out.write(content.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  private def readLocalFile(spark: SparkSession, dir: String,
      name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Save a model in LayoutV1 at `path` (overwrites). */
  def save(spark: SparkSession, model: GeneralizedKMeansModel, path: String): Unit = {
    import spark.implicits._
    val centersDf = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, 1.0, Vectors.dense(c)) }
      .toSeq.sortBy(_._1)
      .toDF("center_id", "weight", "vector")
    centersDf.coalesce(1).write.mode("overwrite").parquet(s"$path/centers.parquet")
    val cHash = centersHash(spark.read.parquet(s"$path/centers.parquet"))

    def p[T](param: org.apache.spark.ml.param.Param[T]): T = model.getOrDefault(param)
    val params: JObject =
      ("maxIter" -> p(model.maxIter)) ~
        ("tol" -> p(model.tol)) ~
        ("seed" -> p(model.seed)) ~
        ("assignmentStrategy" -> p(model.assignmentStrategy)) ~
        ("smoothing" -> model.smoothingValue) ~
        ("emptyClusterStrategy" -> p(model.emptyClusterStrategy)) ~
        ("checkpointInterval" -> p(model.checkpointInterval)) ~
        ("initMode" -> p(model.initMode)) ~
        ("initSteps" -> p(model.initSteps)) ~
        ("featuresCol" -> p(model.featuresCol)) ~
        ("predictionCol" -> p(model.predictionCol)) ~
        ("distanceCol" -> model.get(model.distanceCol).getOrElse("")) ~
        ("weightCol" -> model.get(model.weightCol).getOrElse("")) ~
        ("checkpointDir" -> "") // reference param we don't model; readers default it

    def meta(metaHash: String): String = compact(render(
      ("layoutVersion" -> LayoutVersion) ~
        ("algo" -> "GeneralizedKMeansModel") ~
        ("sparkMLVersion" -> spark.version) ~
        ("scalaBinaryVersion" -> scalaBinaryVersion) ~
        ("divergence" -> model.divergenceName) ~
        ("k" -> model.numClusters) ~
        ("dim" -> model.numFeatures) ~
        ("uid" -> model.uid) ~
        ("kernelName" -> model.divergenceName) ~
        ("params" -> params) ~
        ("centers" -> (("count" -> model.numClusters) ~
          ("ordering" -> "center_id ASC (0..k-1)") ~
          ("storage" -> "parquet"))) ~
        ("checksums" -> (("centersParquetSHA256" -> cHash) ~
          ("metadataCanonicalSHA256" -> metaHash)))))

    // two-pass self-hash: hash the file as written with an empty hash slot,
    // then rewrite with the slot filled (matches the reference writer)
    val first = meta("")
    val metaHash = sha256(first.getBytes(StandardCharsets.UTF_8))
    writeLocalFile(spark, path, "metadata.json", meta(metaHash))

    model.trainingSummary.foreach { s =>
      writeLocalFile(spark, path, "summary.json", compact(render(
        ("iterations" -> s.iterations) ~
          ("initialization" -> "k-means||") ~
          ("strategy" -> "lloyd") ~
          ("elapsedMillis" -> s.elapsedMillis) ~
          ("events" -> JArray(s.distortionHistory.zipWithIndex.map {
            case (d, i) => ("iter" -> i) ~ ("distortion" -> d) ~ ("moved" -> 0): JValue
          }.toList)))))
    }
  }

  /** Load a LayoutV1 model from `path`.
    *
    * @param strict when true, recompute the centers checksum and fail on
    *   mismatch; default false (warn only) because `toJSON` double
    *   formatting may legitimately differ across Spark major versions.
    */
  def load(spark: SparkSession, path: String, strict: Boolean = false): GeneralizedKMeansModel = {
    implicit val formats: DefaultFormats.type = DefaultFormats
    val metaStr = readLocalFile(spark, path, "metadata.json").getOrElse(
      throw new IllegalArgumentException(s"no metadata.json under $path — not a LayoutV1 model"))
    val metaJ = parse(metaStr)

    val layoutVersion = (metaJ \ "layoutVersion").extract[Int]
    require(layoutVersion == LayoutVersion,
      s"Incompatible layoutVersion=$layoutVersion (expected $LayoutVersion)")
    val k = (metaJ \ "k").extract[Int]
    val dim = (metaJ \ "dim").extract[Int]
    val uid = (metaJ \ "uid").extractOpt[String].getOrElse("gkmeans_interchange")
    val divergence = (metaJ \ "divergence").extractOpt[String]
      .orElse((metaJ \ "kernelName").extractOpt[String])
      .getOrElse("squaredEuclidean")

    val centersDf = spark.read.parquet(s"$path/centers.parquet")
    (metaJ \ "checksums" \ "centersParquetSHA256").extractOpt[String]
      .filter(_.nonEmpty).foreach { expected =>
        val actual = centersHash(centersDf)
        if (actual != expected) {
          val msg = s"centers.parquet checksum mismatch under $path: " +
            s"expected $expected got $actual"
          if (strict) throw new IllegalStateException(msg)
          else System.err.println(s"[interchange] warning: $msg " +
            "(toJSON formatting differs across Spark versions; use strict=false to load anyway)")
        }
      }

    val rows = centersDf.collect().sortBy(_.getInt(0))
    require(rows.length == k, s"Expected k=$k centers; found ${rows.length}")
    val centers = rows.map(_.getAs[Vector]("vector").toArray)
    require(centers.forall(_.length == dim),
      s"center dim mismatch: metadata dim=$dim vs parquet ${centers.map(_.length).distinct.mkString(",")}")

    val paramsJ = metaJ \ "params"
    def sOpt(name: String): Option[String] = (paramsJ \ name).extractOpt[String]
    def iOpt(name: String): Option[Int] = (paramsJ \ name) match {
      case JInt(v) => Some(v.toInt)
      case JLong(v) => Some(v.toInt)
      case JDouble(v) => Some(v.toInt)
      case _ => None
    }
    def lOpt(name: String): Option[Long] = (paramsJ \ name) match {
      case JInt(v) => Some(v.toLong)
      case JLong(v) => Some(v)
      case JDouble(v) => Some(v.toLong)
      case _ => None
    }
    def dOpt(name: String): Option[Double] = (paramsJ \ name) match {
      case JDouble(v) => Some(v)
      case JInt(v) => Some(v.toDouble)
      case JDecimal(v) => Some(v.toDouble)
      case _ => None
    }

    val smoothing = dOpt("smoothing").getOrElse(1e-10)
    val model = new GeneralizedKMeansModel(uid, centers, divergence, smoothing)
    model.set(model.k, k)
    model.set(model.divergence, divergence)
    model.set(model.smoothing, smoothing)
    iOpt("maxIter").foreach(v => model.set(model.maxIter, v))
    dOpt("tol").foreach(v => model.set(model.tol, v))
    lOpt("seed").foreach(v => model.set(model.seed, v))
    // a reference spelling (`crossJoin`) maps onto ours; a name we lack ran
    // `auto` before names were validated, and still does
    sOpt("assignmentStrategy").foreach(v => model.set(model.assignmentStrategy,
      Assignment.Strategies.find(_.equalsIgnoreCase(v)).getOrElse("auto")))
    sOpt("emptyClusterStrategy").foreach(v => model.set(model.emptyClusterStrategy, v))
    iOpt("checkpointInterval").foreach(v => model.set(model.checkpointInterval, v))
    sOpt("initMode").foreach(v => model.set(model.initMode, v))
    iOpt("initSteps").foreach(v => model.set(model.initSteps, v))
    sOpt("featuresCol").foreach(v => model.set(model.featuresCol, v))
    sOpt("predictionCol").foreach(v => model.set(model.predictionCol, v))
    sOpt("distanceCol").filter(_.nonEmpty).foreach(v => model.set(model.distanceCol, v))
    sOpt("weightCol").filter(_.nonEmpty).foreach(v => model.set(model.weightCol, v))
    // unknown params in the file are ignored (forward compatibility);
    // params absent from the file keep our defaults (backward compatibility)
    model
  }
}
