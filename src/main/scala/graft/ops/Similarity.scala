package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import graft.functions.NearestCenter
import graft.kernels.SquaredEuclideanKernel

/** Similarity search over embedding columns (`array<float>`/`array<double>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast join of the (small)
  * query set against the corpus, so the corpus is scanned once with no
  * shuffle of the big side. Scale path: IVF — partition the corpus by
  * nearest coarse centroid (trained with graft k-means), then search only
  * the nProbe closest cells; the corpus side is pre-bucketed so a query
  * touches |corpus| * nProbe / nCells rows.
  */
object Similarity {

  /** Cosine similarity between two array<double> columns — ONE native
    * codegen loop ([[graft.functions.ArrayCosine]]; the old HOF
    * formulation was three interpreted traversals).
    */
  def cosineSim(a: Column, b: Column): Column =
    graft.functions.ArrayMath.cosine(a, b)

  /** Deterministic Johnson–Lindenstrauss random projection: map a
    * `inDim`-dimensional embedding to `outDim` dimensions with a dense
    * ±1 sign matrix scaled by 1/√outDim (Achlioptas 2003's database-
    * friendly construction, sign-only variant) — pairwise distances are
    * preserved within ~√(log n / outDim) distortion, which is what lets
    * ANN / near-dup / clustering run on a fraction of the vector bytes
    * at corpus scale.
    *
    * The sign matrix derives from md5("seed:i:j") (high bit of the first
    * hex digit), NOT from a JVM RNG: the projection is reproducible
    * across runs/partitions/engines, and an independent SQL engine can
    * rebuild the exact matrix — q_random_project hash-checks the full
    * projection against DuckDB. The matrix (inDim × outDim doubles) is
    * built on the driver and broadcast with the closure; all outDim
    * lanes are computed in ONE pass over the row's values (the sketch
    * pattern — interpreted HOFs would traverse the array outDim times).
    *
    * Returns (idCol, proj array<double>).
    */
  def randomProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      inDim: Int,
      outDim: Int,
      seed: String): DataFrame = {
    require(inDim > 0 && outDim > 0, s"dims must be positive, got $inDim -> $outDim")
    val signs = Array.tabulate(inDim, outDim) { (i, j) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$i:$j".getBytes("UTF-8"))
      // high bit of the first hex digit == high bit of the first byte
      if ((md(0) & 0x80) == 0) 1.0 else -1.0
    }
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    // null embeddings PROPAGATE (null in -> null proj), matching the
    // pure-expression ops (quantizeInt8 etc.) — not an opaque NPE inside
    // codegen from an unconditional dereference
    val projUdf = udf { (xsSeq: Seq[Double]) =>
      if (xsSeq == null) null
      else {
      val xs = xsSeq.toArray
      require(xs.length == inDim,
        s"randomProject: expected $inDim dims, got ${xs.length}")
      val out = new Array[Double](outDim)
      var i = 0
      while (i < inDim) {
        val x = xs(i)
        if (x != 0.0) {
          val row = signs(i)
          var j = 0
          while (j < outDim) { out(j) += x * row(j); j += 1 }
        }
        i += 1
      }
      var j = 0
      while (j < outDim) { out(j) *= scale; j += 1 }
      out.toSeq
      }
    }
    df.select(col(idCol), projUdf(col(vecCol).cast("array<double>")).as("proj"))
  }

  /** Scalar int8 quantization of an embedding column: per-vector
    * symmetric max-abs scaling, code_j = round(x_j / scale · 127) ∈
    * [−127, 127] — the standard serving-time compression for embedding
    * corpora (8× smaller than float64, 4× smaller than float32) when
    * product quantization's 30× is more loss than the workload wants.
    * Pure Spark expressions (no UDF, engine-portable math) so the whole
    * encoding is DuckDB-replayable (q_quantize_int8); dot/cosine on
    * [[dequantizeInt8]] output approximates the exact value to ~1%
    * (asserted with recall preservation in RecallSpec).
    *
    * Returns (idCol, codes array<int>, scale double); all-zero vectors
    * encode as zero codes with scale 0.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .select(col(idCol), col("__v"),
        array_max(transform(col("__v"), x => abs(x))).as("scale"))
      .select(col(idCol),
        transform(col("__v"), x =>
          when(col("scale") === 0.0, lit(0))
            .otherwise(round(x / col("scale") * 127.0, 0).cast("int"))).as("codes"),
        col("scale"))

  /** Inverse of [[quantizeInt8]]: codes · scale / 127 as array<double>. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale / 127.0)

  /** Dot product of two array<double> columns (native codegen loop). */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dot(a, b)

  /** L2-normalize UDF — one pass, used to pre-normalize a corpus once so
    * every later cosine is a single dot product.
    */
  val normalizeUdf: UserDefinedFunction = udf { (xsSeq: Seq[Double]) =>
    val xs = xsSeq.toArray
    val n = xs.length
    var s = 0.0
    var i = 0
    while (i < n) { val v = xs(i); s += v * v; i += 1 }
    val nrm = math.sqrt(s)
    val r = new Array[Double](n)
    if (nrm > 0) { i = 0; while (i < n) { r(i) = xs(i) / nrm; i += 1 } }
    r
  }

  /** Single-pass dot product UDF for the hot confirm path (the Catalyst
    * `aggregate`/`zip_with` formulation is interpreted, costing ~3 array
    * traversals with per-element closure dispatch; one while-loop closure
    * is the scale-correct shape for millions of candidate pairs).
    */
  val dotUdf: UserDefinedFunction = udf { (aSeq: Seq[Double], bSeq: Seq[Double]) =>
    val a = aSeq.toArray
    val b = bSeq.toArray
    var s = 0.0
    var i = 0
    val n = a.length
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Per-executor cache of deterministic pseudo-random plane matrices so
    * each (seed, planes, dim) matrix is materialized once per JVM, not
    * re-hashed per row. Key: (seed, totalPlanes, dim); value laid out as
    * plane-major [p * dim + i].
    *
    * Entries come from the ENGINE-PORTABLE [[graft.util.Hashing.md5Unit]]
    * (index key p * dim + i), so an external SQL engine can rebuild the
    * exact matrix and replay the bucket assignment — q_embed_lsh
    * hash-checks the full banded-LSH pipeline against DuckDB. The md5
    * cost is paid once per JVM (matrix build), never per row.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Double]]()

  private[graft] def planes(seed: Long, total: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((seed, total, dim), { key =>
      val (s, t, d) = key
      val m = new Array[Double](t * d)
      var j = 0
      while (j < m.length) { m(j) = graft.util.Hashing.md5Unit(s, j.toLong); j += 1 }
      m
    })

  /** planesPerTable that keeps the banded-LSH join LINEAR in corpus size:
    * with pt sign bits a table has 2^pt buckets, so RANDOM-collision
    * candidate pairs cost ~L * n^2 / 2^(pt+1) — any FIXED pt turns the
    * join quadratic as n grows (measured: pt=12 at a 400k-vector corpus
    * planned ~470M collision pairs and ran past the bench timeout; the
    * same corpus at the log2-scaled pt=17 is ~14M). Choosing
    * 2^pt >= n / targetBucketSize caps expected bucket size at
    * targetBucketSize, making collision work O(L * n * targetBucketSize).
    * Exact integer computation (highest-set-bit), identical in SQL as
    * `length(bin(ceil(n / target) - 1))`.
    *
    * The flip side is per-table recall s^pt (s = 1 - theta/pi): sharper
    * bands admit fewer TRUE pairs per table, so a corpus 32x bigger
    * (pt+5) needs numTables scaled by ~s^-5 to keep the same recall
    * curve — the standard LSH n^rho tradeoff. High-similarity pairs
    * (cosine >= ~0.9) survive pt=17..20 at L=24; for mid thresholds at
    * large n use IVF/block-bucketed search instead (sign-LSH is a
    * high-similarity family, see [[graft.ops.Dedup.embeddingNearDup]]).
    */
  def lshPlanesForCorpus(
      n: Long,
      targetBucketSize: Int = 4,
      minPlanes: Int = 12,
      maxPlanes: Int = 28): Int = {
    require(n >= 0 && targetBucketSize > 0, s"bad lshPlanesForCorpus($n, $targetBucketSize)")
    val buckets = (n + targetBucketSize - 1) / targetBucketSize // ceil(n / target)
    val pt =
      if (buckets <= 1L) minPlanes
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1) // ceil(log2(buckets))
    math.min(maxPlanes, math.max(minPlanes, pt))
  }

  /** Banded hyperplane LSH keys: `numTables` independent sign-bit
    * signatures of `planesPerTable` planes each, ALL computed in a single
    * pass over the vector (one multiply-add per (dim, plane) pair against a
    * cached deterministic plane matrix). Returned as an array of per-table
    * bucket keys for posexplode + equi-join.
    */
  def hyperplaneTableKeysUdf(numTables: Int, planesPerTable: Int, seed: Long) = {
    val total = numTables * planesPerTable
    udf { (vecSeq: Seq[Double]) =>
      val vec = vecSeq.toArray
      val d = vec.length
      val m = planes(seed, total, d)
      val proj = new Array[Double](total)
      var i = 0
      while (i < d) {
        val x = vec(i)
        if (x != 0.0) {
          var p = 0
          val base = i // column index; matrix is plane-major
          while (p < total) {
            proj(p) += x * m(p * d + base)
            p += 1
          }
        }
        i += 1
      }
      val keys = new Array[Long](numTables)
      var t = 0
      while (t < numTables) {
        var sig = 0L
        var j = 0
        while (j < planesPerTable) {
          if (proj(t * planesPerTable + j) >= 0) sig |= (1L << j)
          j += 1
        }
        // fold the table id in so cross-table buckets never collide even
        // if the caller joins on bucket alone
        keys(t) = sig | (t.toLong << 32)
        t += 1
      }
      keys
    }
  }

  /** Shared cosine top-k tail (THE rule-1-sensitive part of every ANN
    * oracle contract: rank by sim desc with corpus_id tie-break, keep
    * rank <= k, emit 6dp cosine): one definition for
    * [[bruteForceTopK]], [[hardNegatives]], [[ivfTopK]],
    * [[ivfHardNegatives]], and [[IvfIndex.search]]. `joined` must carry
    * query_id, corpus_id, qv, cv; `extraCols` ride through the output
    * between corpus_id and cosine.
    */
  private[ops] def topKByCosine(
      joined: DataFrame,
      k: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val scored = joined.withColumn("sim", cosineSim(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select((Seq("query_id", "rank", "corpus_id") ++ extraCols).map(col) :+
        (round(col("sim"), 6).as("cosine")): _*)
  }

  /** Brute-force cosine top-k: broadcast the query set, scan the corpus
    * once, per-query top-k via min_by-style window on (sim desc, id asc).
    * Deterministic tie-break on corpus id.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // the per-pair cosine scan is the CPU-heavy map stage — fan out so it
    // never serializes on a single-row-group corpus file (Dedup's guard:
    // no-op when input splits already cover the cluster)
    val c = Dedup.fanOut(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    topKByCosine(joined, k)
  }

  /** Hard-negative mining for contrastive/embedding-model training
    * (DPR, Karpukhin et al. 2020 §4.2; SimCSE-style pipelines): for
    * each query vector, the top-`k` MOST similar corpus vectors whose
    * label differs — the negatives that sit closest to the decision
    * surface and carry the training signal random negatives lack.
    *
    * Same plan shape as [[bruteForceTopK]] (broadcast query side,
    * corpus-scan map stage, per-query rank-1..k via a window whose
    * rank filter plans the map-side WindowGroupLimit) with the label
    * mismatch fused into the join condition, so disqualified pairs die
    * before the cosine is ever computed. For corpus-scale mining swap
    * the scan for [[ivfTopK]]'s cell-pruned candidates and apply the
    * same label filter. Returns (query_id, rank, corpus_id, neg_label,
    * cosine).
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val c = Dedup.fanOut(
      corpus.select(col(idCol).as("corpus_id"), col(labelCol).as("neg_label"),
        col(vecCol).cast("array<double>").as("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(labelCol).as("__ql"),
      col(vecCol).cast("array<double>").as("qv"))
    val joined = c.join(broadcast(q), col("neg_label") =!= col("__ql"))
    topKByCosine(joined, k, Seq("neg_label"))
  }

  /** IVF (inverted-file) approximate top-k: assign corpus rows to coarse
    * cells once (nearest centroid), assign each query to its nProbe
    * closest cells, and only score rows in those cells. The corpus-side
    * cell assignment is reusable across queries (write it out once for a
    * static corpus). Join is an equi-join on cell id — shuffle-free on the
    * broadcast query side.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      nProbe: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val joined = ivfCandidates(c, q, centroids, nProbe, vecCol)
      .where(if (excludeSelf) col("corpus_id") =!= col("query_id") else lit(true))
    topKByCosine(joined, k)
  }

  /** Nearest coarse cell of a vector column: squared Euclidean, ties to
    * the lowest index ([[graft.functions.NearestCenter]]). A null vector
    * fails the job with a message naming `source`, never a null cell.
    */
  private[ops] def cellOf(v: Column, centroids: Array[Array[Double]], source: String): Column =
    coalesce(
      NearestCenter.column(v, centroids, new SquaredEuclideanKernel).getField("cluster"),
      raise_error(lit(s"$source holds a null vector: drop or impute null vectors first"))
        .cast("int"))

  /** Shared IVF candidate generation ([[ivfTopK]], [[ivfHardNegatives]]):
    * assign each corpus row its nearest coarse cell, each query its
    * nProbe closest cells, and equi-join on cell (query side broadcast) —
    * the corpus never shuffles and only nProbe/nCells of it is scored.
    * `c` must carry (corpus_id, cv [, extras]); `q` (query_id, qv
    * [, extras]).
    */
  private def ivfCandidates(
      c: DataFrame,
      q: DataFrame,
      centroids: Array[Array[Double]],
      nProbe: Int,
      vecCol: String): DataFrame = {
    val kern = new SquaredEuclideanKernel
    val spark = c.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val probeUdf = udf { (xs: Seq[Double]) =>
      val x = xs.toArray
      bc.value.indices.map(i => (kern.divergence(x, bc.value(i)), i))
        .sortBy(t => (t._1, t._2)).take(nProbe).map(_._2)
    }
    c.withColumn("cell", cellOf(col("cv"), centroids, s"IVF corpus column '$vecCol'"))
      .join(broadcast(q.withColumn("cell", explode(probeUdf(col("qv"))))), Seq("cell"))
  }

  /** [[hardNegatives]]' corpus-scale path: the same cross-label top-k
    * over IVF cell-pruned candidates instead of the full scan — only
    * nProbe/nCells of the corpus is ever scored per query, the posture
    * that stays flat as the corpus grows (q_ann_ivf_pruned's measured
    * curve). With a caller-supplied quantizer the candidate set is
    * deterministic, so the whole assignment/probe/label-filter/top-k
    * chain is SQL-replayable (q_hard_negatives_ivf). Recall caveat
    * mirrors ivfTopK: a near-boundary negative in an unprobed cell is
    * missed — acceptable for negative MINING, where candidates are
    * plentiful by definition.
    */
  def ivfHardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      nProbe: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val c = corpus.select(col(idCol).as("corpus_id"), col(labelCol).as("neg_label"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(labelCol).as("__ql"),
      col(vecCol).cast("array<double>").as("qv"))
    val joined = ivfCandidates(c, q, centroids, nProbe, vecCol)
      .where(col("neg_label") =!= col("__ql"))
    topKByCosine(joined, k, Seq("neg_label"))
  }
}
