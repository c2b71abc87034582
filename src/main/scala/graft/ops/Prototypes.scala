package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prototypicality scoring and diversity-preserving pruning over an
  * embedding corpus (Sorscher et al. 2022, "Beyond neural scaling laws:
  * beating power law scaling via data pruning"; the SSL-prototypes
  * metric): cluster the corpus, score each example by its cosine to its
  * cluster centroid, and prune per-cluster by that score — prototypical
  * (high-cosine) examples are the redundant "easy" mass a large corpus
  * can shed, while low-cosine examples carry the diversity. The
  * embedding-space complement to [[SemDedup]] (which removes near-DUPLICATE
  * pairs; this removes over-REPRESENTED regions wholesale).
  *
  * The reference engine clusters but has no selection layer on top; this
  * is `graft.ops` pipeline surface beyond it, reusing the same supplied-
  * quantizer discipline as [[IvfIndex.buildWithCenters]] so the whole
  * scoring chain is deterministic and SQL-replayable (q_prototypes).
  *
  * Plan shape: centroids broadcast with the closure (k·d doubles, the
  * Lloyds k-row tier), assignment + cosine are one projection over the
  * scan, the per-cluster rank is a window partitioned by cluster. The
  * rank's partition count is k — fine for the usual k in the thousands;
  * at extreme per-cluster mass the keep decision degrades gracefully
  * because the rank filter plans Spark's WindowGroupLimit only for
  * constant limits, so [[prunePrototypes]] (fraction-based) instead
  * bounds window memory by cluster size and spills — same posture as
  * every per-group total order in the engine. Centers typically come
  * from [[graft.clustering.GeneralizedKMeans]] on the same frame.
  */
object Prototypes {

  /** Score every row: nearest-centroid cluster (squared-Euclidean
    * assignment, ties to the lower cell id — the IVF rule), cosine to
    * that centroid, and the 1-based per-cluster rank by (cosine DESC,
    * id ASC): rank 1 = most prototypical. Returns
    * (idCol, cluster, n_cluster, rank, cosine).
    */
  def prototypicality(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "prototypicality: centroids must be non-empty")
    require(centroids.map(_.length).distinct.length == 1,
      "prototypicality: centroids must share one dimensionality")
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cluster", "__ct"))
    // null embeddings are DROPPED (a rank contract cannot carry them;
    // same policy as the dedup keepers' null-content rule) rather than
    // failing the cell assignment
    val assigned = df
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)
      .withColumn("cluster",
        Similarity.cellOf(col("__v"), centroids, s"prototypicality column '$vecCol'"))
      .join(centDf, Seq("cluster"))
      .withColumn("__sim", graft.functions.ArrayMath.cosine(col("__v"), col("__ct")))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__sim").desc, col(idCol).asc)
    assigned
      .withColumn("rank", row_number().over(w))
      .withColumn("n_cluster", count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .select(col(idCol), col("cluster").cast("long").as("cluster"),
        col("n_cluster"), col("rank").cast("long").as("rank"),
        col("__sim").as("cosine"))
  }

  /** [[prototypicality]] with the centroids supplied as a DataFrame
    * (`clusterCol` long 0..k-1, `centroidCol` array<double>) — the
    * py4j-safe carrier (a python caller cannot build Array[Array[
    * Double]] across the bridge; a small DataFrame crosses fine). The
    * centroid frame is k rows by contract and collects driver-side
    * (the Lloyd k-row tier); cluster ids must be exactly 0..k-1.
    */
  def prototypicalityDf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centers: DataFrame,
      clusterCol: String,
      centroidCol: String): DataFrame =
    prototypicality(df, idCol, vecCol, collectCenters(centers, clusterCol, centroidCol))

  /** [[prunePrototypes]] with DataFrame-supplied centroids (see
    * [[prototypicalityDf]]).
    */
  def prunePrototypesDf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centers: DataFrame,
      clusterCol: String,
      centroidCol: String,
      keepNum: Long,
      keepDen: Long,
      keepHardest: Boolean): DataFrame =
    prunePrototypes(df, idCol, vecCol, collectCenters(centers, clusterCol, centroidCol),
      keepNum, keepDen, keepHardest)

  private def collectCenters(
      centers: DataFrame, clusterCol: String, centroidCol: String): Array[Array[Double]] = {
    val cap = graft.util.Conf.long(centers.sparkSession, "graft.prototypes.maxCenters", 65536L)
    val rows = centers
      .select(col(clusterCol).cast("long"), col(centroidCol).cast("array<double>"))
      .limit(math.min(cap + 1, Int.MaxValue.toLong - 1).toInt)
      .collect()
    require(rows.length <= cap,
      s"prototypes: centers frame exceeds graft.prototypes.maxCenters=$cap — centroids " +
        "are a k-row driver tier; pass a clustering's centers, not a data-sized frame")
    require(rows.nonEmpty, "prototypes: centers frame is empty")
    val byId = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    require(byId.size == rows.length, "prototypes: duplicate cluster ids in centers frame")
    require((0L until byId.size.toLong).forall(byId.contains),
      s"prototypes: cluster ids must be exactly 0..${byId.size - 1}, got ${byId.keys.toSeq.sorted}")
    Array.tabulate(byId.size)(i => byId(i.toLong))
  }

  /** Per-cluster pruning by prototypicality: keep
    * ceil(n_cluster · keepNum / keepDen) rows of each cluster — the
    * LEAST prototypical (lowest cosine) when `keepHardest` (the
    * Sorscher et al. recommendation for large corpora: redundant easy
    * examples go first), the MOST prototypical otherwise (their
    * low-data regime). The boundary is pure 64-bit integer arithmetic
    * (rule-1: no float ever decides membership). Keep fraction =
    * keepNum/keepDen, e.g. (3, 4) keeps 75%.
    *
    * Returns [[prototypicality]]'s columns filtered to the kept rows.
    */
  def prunePrototypes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      keepNum: Long,
      keepDen: Long,
      keepHardest: Boolean = true): DataFrame = {
    require(keepNum >= 0 && keepDen > 0 && keepNum <= keepDen,
      s"prunePrototypes: keep fraction must be 0 <= $keepNum/$keepDen <= 1")
    val scored = prototypicality(df, idCol, vecCol, centroids)
    // integer ceil(n * num / den); `div`, not `/` (Spark's `/` is DOUBLE division)
    val keepN = expr(s"(n_cluster * $keepNum + ${keepDen - 1}) div $keepDen")
    val pick =
      if (keepHardest) col("n_cluster") - col("rank") < keepN // highest ranks = lowest cosine
      else col("rank") <= keepN
    scored.where(pick)
  }
}
