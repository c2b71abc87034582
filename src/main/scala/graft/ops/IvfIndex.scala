package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.clustering.GeneralizedKMeans
import graft.kernels.SquaredEuclideanKernel

/** Materialized IVF (inverted-file) index for a static corpus.
  *
  * [[Similarity.ivfTopK]] recomputes the corpus→cell assignment on every
  * call — right for ad-hoc use, wasteful for the static-corpus case (the
  * common one: index once, serve many query batches). This builds the cell
  * assignment ONCE and either keeps it cached ([[IvfIndex.build]]) or
  * persists it to parquet **partitioned by cell**
  * ([[IvfIndex#write]] / [[IvfIndex.load]]), so a probe of `nProbe` cells
  * is a partition-pruned scan reading `nProbe/nCells` of the data — at
  * 100 TB that is the difference between scanning 100 TB and ~1 TB per
  * query batch.
  *
  * (reference has no ANN surface; this is part of the LLM-pipeline brief.
  * Coarse quantizer = graft k-means, same as FAISS's IVF-flat design.)
  */
final class IvfIndex private (
    val cells: DataFrame, // (corpus_id, cv: array<double>, cell: int)
    val centroids: Array[Array[Double]]) {

  /** Approximate cosine top-k for a (small, broadcastable) query set.
    * Queries probe their `nProbe` nearest cells; only those cells' rows
    * are scored. Equi-join on cell id; deterministic tie-break.
    */
  def search(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val kern = new SquaredEuclideanKernel
    val probeUdf = udf { (xs: Seq[Double]) =>
      val x = xs.toArray
      bc.value.indices.map(i => (kern.divergence(x, bc.value(i)), i))
        .sortBy(t => (t._1, t._2)).take(nProbe).map(_._2)
    }
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cell", explode(probeUdf(col("qv"))))
    // Broadcast the query side: the corpus side (disk-backed, partitioned
    // by cell) is filtered by partition pruning before the join when the
    // probed cell set is known; in-memory it is a hash equi-join on cell.
    val joined = cells.join(broadcast(q), Seq("cell"))
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    Similarity.topKByCosine(joined, k)
  }

  /** Persist the index: cells as parquet PARTITIONED BY cell (so probes
    * prune partitions), centroids as a small parquet of (cell, centroid).
    */
  def write(path: String): Unit = {
    cells.write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    val spark = cells.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.toSeq.toDF("centroid", "cell")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  def unpersist(): Unit = { cells.unpersist(); () }

  /** Measured recall@k as a function of nProbe — the sizing curve
    * behind "what nProbe do I need?" (r18 verdict #3/#5), computed from
    * ONE all-cells pass instead of one search per candidate nProbe:
    * for a sample of stored vectors, find the EXACT top-k neighbors
    * (the all-cells IVF-flat search scores true cosines), then rank
    * each true neighbor's cell in its query's centroid-distance order.
    * A true neighbor is recalled at nProbe=p iff its cell rank ≤ p
    * (within the probed cells the search scores exact cosines, and at
    * most k−1 corpus rows beat a true top-k neighbor, so candidacy ⇒
    * retrieval), so the whole curve is the cumulative histogram of
    * cell ranks — (nProbe, recall) for nProbe = 1..nCells, with
    * recall(nCells) = 1 by construction. Sampled queries make it an
    * ESTIMATE of in-distribution recall; cost is one sample × corpus
    * brute-force pass (sampleN·n dot products), maintenance-cadence.
    * Deterministic given (seed, index).
    */
  def recallCurve(k: Int = 10, sampleN: Int = 256,
      seed: Long = 42L): DataFrame = {
    val spark = cells.sparkSession
    require(k > 0 && sampleN > 0, "IvfIndex.recallCurve: k, sampleN > 0")
    // seeded deterministic sample of STORED vectors as queries (hash
    // order, not .sample: replayable regardless of partitioning)
    val queries = cells
      .orderBy(xxhash64(col("corpus_id"), lit(seed)), col("corpus_id"))
      .limit(sampleN)
      .select(col("corpus_id"), col("cv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    queries.count()
    try {
      val exact = search(queries, "corpus_id", "cv", k,
        nProbe = centroids.length)
      val bc = spark.sparkContext.broadcast(centroids)
      val kern = new SquaredEuclideanKernel
      // rank of the neighbor's cell in the QUERY's centroid order — the
      // smallest nProbe that would have probed it
      val cellRankUdf = udf { (qv: Seq[Double], cell: Int) =>
        val q = qv.toArray
        val d = kern.divergence(q, bc.value(cell))
        var rank = 1
        var i = 0
        while (i < bc.value.length) {
          val di = kern.divergence(q, bc.value(i))
          if (di < d || (di == d && i < cell)) rank += 1
          i += 1
        }
        rank
      }
      val neighborCells = cells.select(col("corpus_id"), col("cell"))
      val ranked = exact
        .join(neighborCells, Seq("corpus_id"))
        .join(broadcast(queries.select(col("corpus_id").as("query_id"),
          col("cv").as("qv"))), Seq("query_id"))
        .select(cellRankUdf(col("qv"), col("cell")).as("cell_rank"))
      // ≤ nCells histogram rows collected; the curve is its cumsum
      val hist = ranked.groupBy(col("cell_rank"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = hist.values.sum
      require(total > 0, "IvfIndex.recallCurve: empty index or sample")
      import spark.implicits._
      var cum = 0L
      (1 to centroids.length).map { p =>
        cum += hist.getOrElse(p, 0L)
        (p, cum.toDouble / total)
      }.toDF("nProbe", "recall")
    } finally { queries.unpersist(); () }
  }

  /** The smallest nProbe whose measured recall@k (on a seeded sample of
    * stored vectors — [[recallCurve]]) meets `targetRecall`. Always ≤
    * nCells (the all-cells search is exact). The one-call answer to the
    * first question every ANN user asks; re-run after [[IvfIndex.append]]
    * drift or a retrain, like [[health]].
    */
  def probeFor(targetRecall: Double, k: Int = 10, sampleN: Int = 256,
      seed: Long = 42L): Int = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"IvfIndex.probeFor: targetRecall in (0, 1], got $targetRecall")
    recallCurve(k, sampleN, seed)
      .where(col("recall") >= targetRecall)
      .orderBy(col("nProbe"))
      .head().getInt(0)
  }

  /** Operational health — the frozen-quantizer drift audit (the
    * [[SemDedupIndex.health]] pattern for the ANN side): one
    * cell-bounded aggregation over the cells frame returning
    * (n_vectors, n_cells, max_cell, avg_cell, imbalance,
    * recommended_cells). `imbalance` = max_cell / avg_cell (1.0 =
    * perfectly balanced; as [[IvfIndex.append]] drifts the corpus away
    * from what the quantizer was trained on, the biggest cells absorb
    * the drift and probe cost/recall balance degrades — correctness
    * never does). When `recommended_cells`
    * ([[IvfIndex.recommendedCells]] of the CURRENT count) is well above
    * `n_cells`, or imbalance grows, run [[IvfIndex.retrain]] at the
    * next maintenance window. Gate-verified (q_ann_ivf_health).
    */
  def health(): DataFrame = IvfIndex.cellHealth(cells, centroids.length)
}

object IvfIndex {

  /** Build the index in memory: train the coarse quantizer (graft k-means
    * on a single persisted projection — no re-validation/re-count jobs),
    * assign every corpus row to its nearest cell, persist the result.
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      maxIter: Int = 5,
      seed: Long = 42L): IvfIndex = {
    // fan out before persisting: the coarse-quantizer fit and the cell
    // assignment both scan this cached frame with CPU-heavy closures and
    // would otherwise inherit a single-row-group file's 1-task parallelism
    val c = Dedup.fanOut(corpus
      .select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cv")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = c.count()
    // random init: a coarse quantizer needs rough Voronoi cells, not
    // optimal clusters (FAISS trains IVF the same way) — k-means|| would
    // cost ~2 extra scans per init step for no recall benefit at nProbe>=2
    val gk = new GeneralizedKMeans()
      .setK(nCells).setFeaturesCol("cv").setSeed(seed).setMaxIter(maxIter)
      .setInitMode("random")
    gk.reuseCachedInput = true
    gk.knownN = Some(n)
    val model = gk.fit(c)
    val cents = model.clusterCenters
    val cells = assignCells(c, cents, vecCol)
    c.unpersist()
    new IvfIndex(cells, cents)
  }

  /** Build with a CALLER-SUPPLIED coarse quantizer instead of training
    * one — FAISS's `clustering_index` analogue. The index is then fully
    * DETERMINISTIC in its inputs: same centers, same cells, same probe
    * sets, which makes the cell-PRUNED search path (nProbe < nCells)
    * engine-replayable end to end (harness query q_ann_ivf_pruned) and
    * lets a quantizer trained on a sample, an earlier corpus snapshot,
    * or another engine be reused verbatim. Cell i = index i in
    * `centers`; nearest-center ties resolve to the lowest index.
    */
  def buildWithCenters(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centers: Array[Array[Double]]): IvfIndex = {
    require(centers.nonEmpty, "centers must be non-empty")
    // clone ONCE and use the clone everywhere: assignment broadcasts and
    // the stored centroids must be the same snapshot, or a caller-side
    // mutation after return could desynchronize a recomputed cells
    // partition from the probe-side centroids
    val snap = centers.map(_.clone)
    val c = Dedup.fanOut(corpus
      .select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cv")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cells = assignCells(c, snap, vecCol)
    c.unpersist()
    new IvfIndex(cells, snap)
  }

  /** py4j bridge for [[buildWithCenters]]: the quantizer rides as a
    * k-row (cluster, cv) frame ordered by cluster (the
    * [[SemDedupIndex.buildDf]] pattern — a nested double matrix does
    * not cross the gateway). k-row driver collect, model state.
    */
  def buildWithCentersDf(corpus: DataFrame, idCol: String, vecCol: String,
      centersDf: DataFrame): IvfIndex =
    buildWithCenters(corpus, idCol, vecCol,
      centersDf.select(col("cluster").cast("long").as("cluster"),
          col("cv").cast("array<double>").as("cv"))
        .orderBy("cluster").collect().map(_.getSeq[Double](1).toArray))

  /** Nearest-center cell assignment, materialized once so every later
    * search skips it. Ties resolve to the lowest cell index; a null vector
    * fails the job, naming the caller's `vecCol`.
    */
  private def assignCells(c: DataFrame, cents: Array[Array[Double]], vecCol: String): DataFrame = {
    val cells = c
      .withColumn("cell", Similarity.cellOf(col("cv"), cents, s"IvfIndex column '$vecCol'"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    cells.count()
    cells
  }

  /** Append a new batch to a WRITTEN index without retraining — the
    * ANN-side analogue of [[IncrementalDedup]]'s ingest path: the
    * persisted quantizer assigns the batch to cells (bit-identical rule
    * to build/load: nearest center, ties to the lowest index), and the
    * rows append into their cell partitions. Ingest cost is one batch
    * scan plus a partitioned write touching only the batch's cells —
    * independent of index size. Returns the number of rows appended.
    *
    * The quantizer is FROZEN by design: as the corpus distribution
    * drifts, cell populations skew, which degrades probe recall/cost
    * balance but never correctness (a probe still searches the nProbe
    * nearest cells of whatever is stored). Periodic retrain + rewrite
    * is the maintenance story, same as FAISS IVF. Batch ids must be
    * new — append performs no dedup (run the corpus through
    * [[IncrementalDedup]] first; that is the pipeline order anyway).
    */
  def append(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String): Long = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy(col("cell"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty, s"no centroids at $path — not a written IvfIndex")
    // normalize the batch's id type to the STORED corpus_id type (r19
    // review): appending e.g. int32 ids next to a store's int64 writes
    // mixed-schema part files into the same cell partitions, and the
    // NEXT load fails ParquetDecoding against whichever footer it did
    // not sample — wedged store, manual repair. Upcasts are silent
    // (int→long widening); anything else refuses loudly.
    val storedIdType = spark.read.parquet(s"$path/cells")
      .schema("corpus_id").dataType
    val raw = batch.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val batchIdType = raw.schema("corpus_id").dataType
    require(batchIdType == storedIdType ||
      org.apache.spark.sql.catalyst.expressions.Cast
        .canUpCast(batchIdType, storedIdType),
      s"IvfIndex.append: batch id type ${batchIdType.catalogString} does " +
        s"not fit the stored corpus_id type ${storedIdType.catalogString} " +
        s"at $path — cast the batch's $idCol explicitly (a mixed-type " +
        "append would wedge the store for every later read)")
    val c = Dedup.fanOut(raw
      .select(col("corpus_id").cast(storedIdType).as("corpus_id"), col("cv")))
    val cells = assignCells(c, cents, vecCol)
    try {
      val n = cells.count()
      cells.write.mode("append").partitionBy("cell").parquet(s"$path/cells")
      n
    } finally { cells.unpersist(); () }
  }

  /** STREAMING ingest into a WRITTEN index — the ANN twin of
    * [[IncrementalDedup.ingestStream]] / [[SemDedupIndex.ingestStream]],
    * completing the batch+stream ingest symmetry across all three
    * persisted stores: each micro-batch is assigned against the frozen
    * quantizer and appended into its cell partitions
    * ([[IvfIndex.append]] — cost ∝ batch, touching only the batch's
    * cells), with the same frozen-quantizer drift contract
    * ([[IvfIndex#health]] audits; [[retrain]] at the maintenance
    * window). `sink(nAppended, batchId)` fires per batch.
    *
    * REPLAY SAFETY (foreachBatch is at-least-once): append is NOT
    * idempotent, so `path/ingest_meta.json` records the last batchId
    * whose append committed FOR THIS CHECKPOINT — a replayed committed
    * batch re-delivers its count to `sink` but skips the append.
    * The marker is CHECKPOINT-SCOPED because Spark's batchIds restart
    * at 0 with every fresh checkpoint: a store-global marker would
    * silently drop the early batches of a SECOND ingest campaign
    * (new checkpoint, new data, batchIds 0..N ≤ the old campaign's
    * high-water mark) while still reporting their counts (r19 review —
    * a silent-data-loss class, the opposite of the refuse-loudly
    * norm). A crash BETWEEN the append and the marker re-appends the
    * batch on replay: the duplicate rows are bit-identical
    * (deterministic assignment), rank adjacently in searches (each
    * occupies a top-k slot), and [[compact]] removes them at
    * maintenance cadence — the [[IncrementalDedup.ingestStream]]
    * tolerated-window trade, disclosed rather than hidden. Batch ids
    * must be new for the index's lifetime (dedup upstream; that is the
    * pipeline order).
    */
  def ingestStream(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      sink: (Long, Long) => Unit = (_, _) => ()): org.apache.spark.sql.streaming.StreamingQuery =
    markerGatedAppendStream(vectors, idCol, vecCol, path, checkpointDir,
      sink, "IvfIndex.ingestStream", append)

  /** The shared marker-gated streaming-append loop behind
    * [[IvfIndex.ingestStream]] and [[IvfPqIndex.ingestStream]]
    * (rule 5 — the replay/marker logic must not diverge between the
    * two index families): per micro-batch, `append` runs only when
    * this CHECKPOINT has not yet committed this batchId; the marker
    * write is last. Each family's `append` owns its own id/type
    * normalization against the stored schema.
    */
  private[ops] def markerGatedAppendStream(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      sink: (Long, Long) => Unit,
      site: String,
      append: (SparkSession, String, DataFrame, String, String) => Long): org.apache.spark.sql.streaming.StreamingQuery = {
    require(vectors.isStreaming,
      s"$site needs a streaming frame; use append for batch")
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch
          .select(col(idCol).as("corpus_id"),
            col(vecCol).cast("array<double>").as("cv"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val n = b.count()
          if (n > 0) {
            if (batchId > lastCommittedBatch(spark, path, checkpointDir)) {
              append(spark, path, b, "corpus_id", "cv")
              // commit marker LAST: replays of this batchId skip the append
              writeIngestMarker(spark, path, checkpointDir, batchId)
            }
            sink(n, batchId)
          }
        } finally { b.unpersist(); () }
        ()
      }
      .start()
  }

  private def writeIngestMarker(spark: SparkSession, path: String,
      checkpointDir: String, batchId: Long): Unit = {
    import org.json4s.JsonDSL._
    SketchIo.writeFile(spark, path, "ingest_meta.json",
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          ("checkpointDir" -> checkpointDir) ~ ("lastBatchId" -> batchId))))
  }

  /** Last committed streaming-ingest batch id at `path` for THIS
    * checkpoint (−1 = none): Spark batchIds are checkpoint-scoped, so
    * a marker recorded under a different (or absent — pre-r19 legacy)
    * checkpoint is a different campaign and gates nothing. Shared with
    * [[IvfPqIndex.ingestStream]] (rule 5).
    */
  private[ops] def lastCommittedBatch(spark: SparkSession, path: String,
      checkpointDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path, "ingest_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods._
      implicit val fmts: Formats = DefaultFormats
      val meta = parse(SketchIo.readFile(spark, path, "ingest_meta.json", site = "ingestStream"))
      val recorded = (meta \ "checkpointDir").extractOpt[String]
      if (recorded.contains(checkpointDir))
        (meta \ "lastBatchId").extract[Long]
      else -1L
    }
  }

  /** Maintenance compaction: drop duplicate (corpus_id) rows from a
    * WRITTEN index's cells — the repair for [[ingestStream]]'s
    * crash-between-append-and-marker window (duplicates are
    * bit-identical, so keep-any is exact). Whole-store rewrite via the
    * shared stage-and-swap ([[swapIndexDir]] preserves the
    * previous-index-recoverable crash contract); run at maintenance
    * cadence, like [[retrain]]. Returns the number of rows removed.
    */
  def compact(spark: SparkSession, path: String): Long = {
    val cur = load(spark, path)
    compactDedup(spark, path, "IvfIndex.compact", cur.cells)(
      d => new IvfIndex(d, cur.centroids).write)
  }

  /** The shared body behind [[compact]] and [[IvfPqIndex.compact]]
    * (rule 5): drop duplicate (corpus_id) rows from a cells frame and,
    * when anything was removed, rewrite the whole index via
    * [[swapIndexDir]] with the caller's write function. Returns rows
    * removed.
    */
  private[ops] def compactDedup(spark: SparkSession, path: String,
      site: String, cells: DataFrame)(
      writeWith: DataFrame => String => Unit): Long = {
    val before = cells.count()
    val deduped = cells.dropDuplicates("corpus_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val after = deduped.count()
    if (after < before)
      swapIndexDir(spark, path, site)(writeWith(deduped))
    deduped.unpersist()
    before - after
  }

  /** The ONE cell-population audit behind [[IvfIndex#health]] and
    * [[IvfPqIndex#health]] (rule 5): a single cell-bounded aggregation
    * over a (…, cell) frame. The q_ann_ivf_health gate hash-verifies
    * this body; the PQ index's health is the identical code path over
    * its own cells frame.
    */
  private[ops] def cellHealth(cells: DataFrame, nCells: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val row = cells.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_vectors"),
        coalesce(max(col("n")), lit(0L)).as("max_cell"))
      .head()
    val n = row.getLong(0)
    val avg = if (nCells == 0) 0.0 else n.toDouble / nCells
    Seq((n, nCells.toLong, row.getLong(1), avg,
      if (n == 0L) 0.0 else row.getLong(1).toDouble / avg,
      recommendedCells(n).toLong))
      .toDF("n_vectors", "n_cells", "max_cell", "avg_cell", "imbalance",
        "recommended_cells")
  }

  /** FAISS-style coarse-quantizer sizing: nCells ≈ √n balances the
    * probe's two cost terms (per-query work ~ nCells comparisons +
    * nProbe·n/nCells scanned rows), the [[SemDedup.balancedK]] argument
    * applied to IVF. [[IvfIndex#health]] reports this for the CURRENT
    * stored count so drift is visible before it hurts.
    */
  def recommendedCells(n: Long, minCells: Int = 8): Int =
    math.max(minCells.toLong, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** Retrain a WRITTEN index's coarse quantizer on its CURRENT stored
    * corpus and rewrite it IN PLACE — the maintenance operation
    * [[append]]'s frozen-quantizer contract defers to ("periodic
    * retrain + rewrite, same as FAISS IVF"), now one call. `nCells = 0`
    * uses [[recommendedCells]] of the stored count — exactly what
    * [[IvfIndex#health]] recommends. The WHOLE index directory is
    * staged as a sibling then swapped in one delete+rename (the
    * rebuilt cells' lineage reads `path/cells`, the rule-13b
    * read-while-overwrite surface — the cells frame is
    * persisted+materialized by the build before the old dir is
    * touched, and `refreshByPath` drops the stale file listing). A
    * whole-dir swap, NOT per-payload swaps: a crash between
    * per-payload renames would leave new cells next to old centroids —
    * a silently DESYNCHRONIZED index (wrong probes, no error; this
    * index carries no content digests to catch the mix, unlike
    * [[SemDedupIndex]]). With the whole-dir swap every crash window
    * leaves either the intact old index or a loudly-missing dir.
    * Returns the RELOADED (disk-backed, partition-pruned) index.
    */
  def retrain(
      spark: SparkSession,
      path: String,
      nCells: Int = 0,
      maxIter: Int = 5,
      seed: Long = 42L): IvfIndex = {
    val cur = load(spark, path)
    val n = cur.cells.count()
    require(n > 0, s"IvfIndex.retrain: empty index at $path")
    val k = if (nCells > 0) nCells else recommendedCells(n)
    val idx = build(cur.cells, "corpus_id", "cv", k, maxIter, seed)
    swapIndexDir(spark, path, "IvfIndex.retrain")(idx.write)
    idx.unpersist()
    load(spark, path)
  }

  /** Whole-directory stage-and-swap shared by [[retrain]] and
    * [[IvfPqIndex.retrain]] (rule 5): write the fresh index to a
    * SIBLING staging dir, park the live dir aside as `__retrain_old`,
    * rename the staged dir into place, THEN delete the parked old dir,
    * and `refreshByPath` so Spark's shared FileStatusCache forgets the
    * old part files (rule 13b). The park-then-swap order (r18 advice)
    * means no crash window ever deletes the only copy: a failure
    * between the two renames leaves the previous index intact at
    * `<path>__retrain_old` — recoverable by a single rename — where the
    * old delete-then-rename order left NO live index if the rename
    * failed or the process died between the two.
    */
  private[ops] def swapIndexDir(spark: SparkSession, path: String,
      site: String)(writeTo: String => Unit): Unit = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      base.getParent, base.getName + "__retrain_staged")
    val parked = new org.apache.hadoop.fs.Path(
      base.getParent, base.getName + "__retrain_old")
    fs.delete(staging, true)
    writeTo(staging.toString)
    fs.delete(parked, true)
    if (fs.exists(base))
      require(fs.rename(base, parked),
        s"$site: could not park the live index $base aside at $parked")
    require(fs.rename(staging, base),
      s"$site: could not swap $staging into place at $base" +
        s" (previous index preserved at $parked — rename it back to recover)")
    fs.delete(parked, true)
    spark.catalog.refreshByPath(base.toString)
  }

  /** Reopen a written index. The cells scan stays lazy — Spark prunes the
    * `cell=` partitions a probe filter selects.
    */
  def load(spark: SparkSession, path: String): IvfIndex = {
    val cells = spark.read.parquet(s"$path/cells")
      .select(col("corpus_id"), col("cv"), col("cell").cast("int").as("cell"))
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy(col("cell"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    new IvfIndex(cells, cents)
  }
}
