package graft

import graft.clustering.{BalancedKMeans, BisectingKMeans, ConstrainedKMeans, CoresetKMeans, DPMeans, GeneralizedKMeans, MiniBatchKMeans, RobustKMeans, SoftAssignments, SoftKMeans, SparseKMeans, SpectralGraph, ViewSpec, XMeans}
import graft.kernels.SquaredEuclideanKernel
import graft.ops.{Dedup, IncrementalDedup, Similarity, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — the engine's query surface.
  *
  * Every operator family from SURVEY.md §2 that is observable as a
  * DataFrame-in/DataFrame-out query appears here; queries with an
  * `oracleSql` entry are hash-compared against DuckDB on identical
  * parquet inputs, the rest get a rows-only check (clustering results
  * are seed-deterministic but not SQL-expressible).
  */
object SparkEntry {

  private def t(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` as epoch milliseconds, robust to the physical parquet
    * type the generator produced: TIMESTAMP(NANOS) surfaced as a nanos
    * long (legacy `nanosAsLong` read), TIMESTAMP_NTZ (Spark 4 infers NTZ
    * for parquet timestamps not adjusted to UTC), or plain TIMESTAMP.
    * NTZ wall-clock is interpreted in the session time zone — Verify and
    * Bench both pin UTC, matching DuckDB's `epoch_ms` on a naive ts.
    */
  private def eventTsMs(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
    case _ => unix_millis(col("ts").cast("timestamp"))
  }

  /** Shared body of the full-fit oracle queries (q_kmeans_fit,
    * q_kmeans_fit_elkan, q_kmedians_fit, q_kl_fit): a full multi-iteration
    * GeneralizedKMeans fit warm-started from the embeddings with vec_id < 8,
    * emitting (cluster, d, v, n) — every final center coordinate (4 dp) plus
    * the cluster's size under the final assignment. Cluster labels are the
    * seeding vec_ids (ids below 8 need not be dense). `prep` maps the raw
    * double-cast embedding column into feature space (identity for SE/L1,
    * positive shift for KL).
    */
  /** Memo-cache key for a dir-scoped training artifact: the dir path plus
    * a cheap content fingerprint of the table the training reads (max
    * mtime + total bytes over its parquet files). Rule 3 says testdata is
    * regenerated between rounds — forked Verify/Bench JVMs were always
    * safe, but a long-lived driver (PySpark session, sbt console) must
    * MISS when the files change underneath it, not serve stale weights.
    */
  private def dirKey(dir: String, table: String): Option[String] = {
    val root = new java.io.File(s"$dir/$table.parquet")
    // RECURSIVE walk: a partitioned layout keeps its data files in
    // subdirectories, which a flat listFiles would fingerprint as zero
    // bytes — two generations could then collide on the same key.
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Seq.empty)
      else if (f.isFile) Seq(f)
      else Seq.empty
    val files = walk(root)
    // No locally listable files (remote FS path, mistyped dir that Spark
    // can still resolve, ...) -> NO fingerprint: return None so the memo
    // layer skips caching entirely. A degenerate empty-digest key would
    // hit forever and serve stale weights across regenerations — the
    // exact bug the fingerprint exists to prevent.
    if (files.isEmpty) None
    else {
      // digest the sorted (relativePath, length, mtime) tuples: immune to
      // a regeneration landing inside mtime granularity with identical
      // total bytes (per-file sizes would have to match too), and to
      // file-set changes that keep the aggregates constant
      val rootPath = root.toPath.toAbsolutePath
      val entries = files.map { f =>
        s"${rootPath.relativize(f.toPath.toAbsolutePath)}:${f.length}:${f.lastModified}"
      }.sorted.mkString("|")
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(entries.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      Some(s"$dir/$table@$hex")
    }
  }

  /** getOrElseUpdate with stale-generation eviction: a fingerprint miss
    * means the table was regenerated, so every OTHER entry for the same
    * `dir/table@` prefix is a dead generation — drop them, or a
    * long-lived driver leaks one training artifact per regeneration.
    */
  private def memoize[V](cache: scala.collection.concurrent.TrieMap[String, V],
      key: Option[String])(train: => V): V = key match {
    case None => train // unfingerprintable table: retrain rather than risk staleness
    case Some(k) =>
      cache.get(k).getOrElse {
        val prefix = k.substring(0, k.lastIndexOf('@') + 1)
        cache.keys.filter(c => c.startsWith(prefix) && c != k)
          .foreach(cache.remove)
        cache.getOrElseUpdate(k, train)
      }
  }

  /** Drop all memoized training state (logreg weights, BPE merges, IVF
    * quantizer). Bench clears the owning cache before every timed run of
    * a trainer query (see [[memoTrainers]]); tests use it for isolation.
    */
  def clearMemoCaches(): Unit = {
    logregWCache.clear(); bpeMergesCache.clear(); ivfCentersCache.clear()
  }

  /** Queries whose recorded bench time must INCLUDE the memoized training
    * cost, mapped to the clear that forces their retrain. Bench invokes
    * the mapped clear before EVERY timed execution (passes and sentinel
    * re-runs alike), so the trainer never records a cache hit — its
    * median carries the full training cost — while the family's consumer
    * queries (q_logreg_score, q_bpe_encode/pairs/words, q_ann_ivf_full)
    * measure consumption only. Without this, passes 2..N of a median-of-3
    * bench were cache hits and training silently vanished from the totals.
    */
  val memoTrainers: Map[String, () => Unit] = Map(
    "q_logreg_fit" -> (() => logregWCache.clear()),
    "q_bpe_train" -> (() => bpeMergesCache.clear()),
    "q_ann_ivf" -> (() => ivfCentersCache.clear()))

  /** Memoized logreg fit (final weights are a B-row driver-side table,
    * session-independent): q_logreg_fit and q_logreg_score share one
    * training run instead of the scorer silently re-training.
    */
  private val logregWCache =
    new scala.collection.concurrent.TrieMap[String, Seq[(Long, Double)]]()
  private def logregWeights(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val rows = memoize(logregWCache, dirKey(dir, "documents")) {
      val docs = t(dir, "documents")
      graft.ops.Classify.logisticFit(
        docs.withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0)),
        "doc_id", "text", "y", buckets = 64, iters = 3, lr = 0.5)
        .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    }
    import sp.implicits._
    rows.toDF("bucket", "weight")
  }

  /** Memoized BPE merge table (8 rounds over the documents table) —
    * q_bpe_train/encode/pairs/words all consume the identical training
    * run; merges are a tiny driver-side list.
    */
  private val bpeMergesCache =
    new scala.collection.concurrent.TrieMap[String, Seq[graft.ops.Bpe.BpeMerge]]()
  private def bpeMerges(s: SparkSession, dir: String): Seq[graft.ops.Bpe.BpeMerge] = {
    implicit val sp: SparkSession = s
    memoize(bpeMergesCache, dirKey(dir, "documents"))(
      graft.ops.Bpe.train(t(dir, "documents"), "text", numMerges = 8))
  }

  /** Memoized coarse quantizer for the seeded IVF queries: q_ann_ivf and
    * q_ann_ivf_full build the IDENTICAL index (same corpus/params/seed),
    * so the quantizer trains once and the second query pays only its own
    * cell assignment + search — same bench-attribution honesty as
    * [[logregWeights]]. Centers are a k×d driver array; the rebuilt
    * index's cells are bit-identical (same assignCells, same tie-break).
    */
  private val ivfCentersCache =
    new scala.collection.concurrent.TrieMap[String, Array[Array[Double]]]()
  private def ivfIndexCached(s: SparkSession, dir: String): graft.ops.IvfIndex = {
    implicit val sp: SparkSession = s
    val e = t(dir, "embeddings")
    val key = dirKey(dir, "embeddings")
    key.flatMap(ivfCentersCache.get) match {
      case Some(c) =>
        graft.ops.IvfIndex.buildWithCenters(e, "vec_id", "embedding", c)
      case None =>
        val idx = graft.ops.IvfIndex.build(
          e, "vec_id", "embedding", nCells = 8, maxIter = 5, seed = 42)
        memoize(ivfCentersCache, key)(idx.centroids)
        idx
    }
  }

  private def lloydFitQuery(
      s: SparkSession, dir: String, strategy: String, divergence: String,
      iters: Int, prep: Column => Column = identity): DataFrame = {
    implicit val sp: SparkSession = s
    val e = t(dir, "embeddings")
      .select(col("vec_id"), prep(col("embedding").cast("array<double>")).as("f"))
    val centerRows = e.where(col("vec_id") < 8).orderBy(col("vec_id")).collect()
    val centerIds = centerRows.map(_.getLong(0))
    val init = centerRows.map(_.getSeq[Double](1).toArray)
    val model = new GeneralizedKMeans()
      .setK(init.length).setFeaturesCol("f").setMaxIter(iters).setTol(0.0)
      .setDivergence(divergence)
      .setEmptyClusterStrategy("drop").setAssignmentStrategy(strategy)
      .setInitialCenters(init)
      .fit(e)
    require(model.clusterCenters.length == init.length,
      "a cluster emptied mid-fit; the oracle unroll assumes stable cluster ids")
    val idOf = array(centerIds.map(lit(_)): _*)
    val sizes = model.transform(e)
      .groupBy(element_at(idOf, col("prediction") + 1).cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"))
    import sp.implicits._
    val centers = model.clusterCenters.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, j) => (centerIds(i), j.toLong, v) }
    }.toSeq.toDF("cluster", "d", "v")
    centers.join(sizes, "cluster")
      .select(col("cluster"), col("d"), (round(col("v"), 4) + lit(0.0)).as("v"), col("n"))
  }

  /** Single-sourced (cluster, d, v, n) emission for the full-fit probes:
    * driver-local centers + a (cluster, n) sizes frame -> rounded rows
    * with the driver gate's negative-zero normalization (round + 0.0).
    * `ids` maps center slot -> emitted cluster id (seed vec_ids for
    * warm-started fits, slot index otherwise). LEFT join + coalesce keeps
    * clusters that win zero points — dropping them would silently shrink
    * oracle coverage.
    */
  private def emitCenters(sp: SparkSession, centers: Array[Array[Double]],
      sizes: DataFrame, ids: Int => Long = _.toLong): DataFrame = {
    import sp.implicits._
    val cdf = centers.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, j) => (ids(i), j.toLong, v) }
    }.toSeq.toDF("cluster", "d", "v")
    cdf.join(sizes, Seq("cluster"), "left")
      .select(col("cluster"), col("d"), (round(col("v"), 4) + lit(0.0)).as("v"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** DuckDB unroll of `iters` Lloyd iterations from the same deterministic
    * start as [[lloydFitQuery]] — chained CTEs c0 -> a1 -> c1 -> ... ->
    * c`iters`, then a final assignment for cluster sizes. `distSql` is the
    * divergence between point list `p` and center list `c`; `updateCte`
    * builds center CTE `cN` from assignment CTE `aN` (rows: vec_id, pv,
    * cid); `prepSql` maps the raw embedding into feature space.
    */
  /** DuckDB expression for a doc's DISTINCT word `n`-gram shingle list —
    * the ONE definition of TextOps.wordShingles' tokenization behind every
    * decontamination oracle (a drifted inline copy would silently break
    * parity for just that query). `textSql` lets callers shingle a
    * substring or other text expression.
    */
  private def shingleOccurrencesSql(n: Int, textSql: String = "text"): String =
    // list_filter: NULL text shingles to [NULL] in DuckDB (greatest
    // ignores the NULL token-count) where Spark's transform-over-NULL
    // yields NULL and the doc drops out of every shingle consumer — the
    // filter collapses [NULL] to [], aligning the engines; on non-null
    // text no element is NULL, so real-data hashes are untouched
    s"list_filter(list_transform(range(0, greatest(len(string_split($textSql, ' ')) - $n, 0) + 1), " +
      s"i -> array_to_string(string_split($textSql, ' ')[i+1:i+$n], ' ')), s -> s IS NOT NULL)"

  private def shingleListSql(n: Int, textSql: String = "text"): String =
    s"list_distinct(${shingleOccurrencesSql(n, textSql)})"

  /** The ONE HLL register-rollup fragment (rule 5 — behind
    * q_hll_registers, q_hll_merge, and q_hll_windowed): bucket =
    * first-8-hex md5 mod 512 (p = 9 everywhere this is used), rank =
    * 1 + leading zeros of the 13-hex (52-bit) md5 value via the
    * length(bin(w)) bit-length identity. `occSql` yields one row per
    * key occurrence as (grpSel..., k); `grpSel` prefix columns (e.g.
    * "ws, ") are carried through the rollup.
    */
  private def hllRegisterRollupSql(seed: String, occSql: String,
      grpSel: String = ""): String =
    s"""WITH occ AS ($occSql),
      |reg AS (
      |  SELECT $grpSel
      |    CAST(('0x' || substr(md5('$seed:b:' || k), 1, 8))::UBIGINT % 512 AS BIGINT) AS bucket,
      |    CAST(('0x' || substr(md5('$seed:r:' || k), 1, 13))::UBIGINT AS BIGINT) AS w
      |  FROM occ)
      |SELECT $grpSel bucket,
      |  CAST(max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS BIGINT) AS maxrank
      |FROM reg GROUP BY ${if (grpSel.isEmpty) "1" else "1, 2"}""".stripMargin

  /** Shared HLL register-replay SQL over document bigrams
    * (q_hll_registers and q_hll_merge differ ONLY in the filter).
    */
  private def hllRegistersSql(docsWhere: String = "TRUE"): String =
    hllRegisterRollupSql("hll19",
      s"""SELECT k FROM (
        |    SELECT unnest(${shingleOccurrencesSql(2)}) AS k
        |    FROM documents WHERE $docsWhere)
        |  WHERE k <> ''""".stripMargin)

  /** Per-language document-bigram occurrences — the grouped-HLL occ
    * source (rule 5 — q_hll_grouped and q_hll_overlap_grouped differ
    * only in the documents filter). NULL lang rides as a retained
    * group; NULL text explodes to nothing (the shingle fragment's
    * list_filter).
    */
  private def hllGroupedOccSql(docsWhere: String = "TRUE"): String =
    s"""SELECT lang, k FROM (
      |    SELECT lang, unnest(${shingleOccurrencesSql(2)}) AS k
      |    FROM documents WHERE $docsWhere)
      |  WHERE k <> ''""".stripMargin

  /** alpha_m·m² at p = 9 as the exact shortest-repr double literal:
    * Double.toString round-trips, so both engines parse back the
    * identical double and the raw-estimate division chain below is
    * operation-identical across engines (rule 1 — the only residual
    * float exposure is ln, masked by the round-6 output contract).
    * Same op sequence as Hll.alpha(512) · 512² on the Spark side.
    */
  private val hllAlphaM2P9: String =
    ((0.7213 / (1.0 + 1.079 / 512)) * 512.0 * 512.0).toString

  /** The p=9 grouped-HLL raw-estimate replay over (touched, sumscaled)
    * SQL subexpressions — operation-for-operation the Spark side's
    * estimator chain (suminv = sumscaled/2^53 + zeros; raw = αm²/suminv;
    * linear counting below 2.5·m with untouched registers). One
    * fragment behind q_hll_grouped and q_hll_overlap_grouped (rule 5).
    */
  private def hllEstSql(t: String, s: String): String = {
    val raw = s"($hllAlphaM2P9 / (($s) / 9007199254740992.0 + (512 - ($t))))"
    s"(CASE WHEN $raw <= 1280.0 AND (512 - ($t)) > 0 " +
      s"THEN 512.0 * ln(512.0 / (512 - ($t))) ELSE $raw END)"
  }

  /** Σ 2^(53−maxrank) over a register rollup's maxrank column, CAST
    * BIGINT (rule 1's HUGEINT ban; exact — ≤ 512·2^52 = 2^61 at p=9).
    * NULL maxranks (a side absent from a bucket) contribute nothing;
    * an all-NULL side coalesces to 0, the Spark side's zeroDec.
    */
  private def hllSumScaledSql(maxrankSql: String = "maxrank"): String =
    s"CAST(coalesce(sum(1::BIGINT << CAST(53 - $maxrankSql AS INT)), 0) AS BIGINT)"

  /** The epoch-aligned 1-day window start of events.ts, in ms — the
    * ONE window-bound expression behind the q_*_windowed oracles
    * (rule 5; pure integer arithmetic per rule 13c).
    */
  private val eventsWsSql =
    "CAST((epoch_ns(ts) // 1000000) " +
      "- ((epoch_ns(ts) // 1000000) % 86400000) AS BIGINT)"

  /** events keyed by user_id with the shared window start. */
  private def eventsDayKeySql(keyAlias: String): String =
    s"SELECT $eventsWsSql AS ws, CAST(user_id AS VARCHAR) AS $keyAlias " +
      "FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL"

  /** Shared rank-sketch summary-replay SQL (rule 5 — q_qsketch_summary
    * and q_qsketch_merge differ ONLY in the documents filter): the
    * bottom-128 rows by rank key rk = 60-bit (15-hex) md5 of
    * "qsk20:doc_id", tie-broken by value — the bottom-k-of-union
    * property means the merge gate needs no merge replay at all, its
    * oracle IS the one-shot build.
    */
  private def qsketchSummarySql(docsWhere: String = "TRUE"): String =
    s"""WITH v AS (
      |  SELECT
      |    ${rankKeySql("qsk20", "doc_id")} AS rk,
      |    CAST(n_chars AS BIGINT) AS value
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND ($docsWhere))
      |SELECT rk, value FROM (
      |  SELECT rk, value, row_number() OVER (ORDER BY rk, value) AS rn FROM v)
      |WHERE rn <= 128""".stripMargin

  /** The 60-bit md5 rank key (Sampling.uniformBits60), DuckDB form —
    * every rank-sketch oracle derives rk from this one fragment
    * (rule 5).
    */
  private def rankKeySql(seed: String, idSql: String): String =
    s"CAST(('0x' || substr(md5('$seed:' || $idSql), 1, 15))::UBIGINT AS BIGINT)"

  /** Grouped rank-sketch quantiles replay (rule 5 — ONE body behind
    * q_qsketch_grouped and q_qsketch_grouped_double): the per-group
    * bottom-32 cut by the shared rank key, then the pct-rank selection
    * over the SAMPLE — the pctByGroupWindow predicate
    * (rank == ceil(pct·s_g/100), multiplicative integer form) applied
    * to the cut instead of the corpus. Rank arithmetic is pure integers
    * (rule 1); the double variant's value is stored-bit-pattern ordered
    * (the q_quantiles_by_group_double precedent) and round(x,6)-emitted
    * output-only. NULL group values are retained groups and PARTITION
    * BY keeps them in both engines (rule 10).
    */
  private def qsketchGroupedSql(table: String, groupCol: String,
      idCol: String, valueSql: String, where: String, seed: String,
      valueOutSql: String): String =
    s"""WITH v AS (
      |  SELECT $groupCol,
      |    ${rankKeySql(seed, idCol)} AS rk,
      |    $valueSql AS value
      |  FROM $table
      |  WHERE $idCol IS NOT NULL AND ($where)),
      |cut AS (
      |  SELECT $groupCol, rk, value FROM (
      |    SELECT $groupCol, rk, value,
      |      row_number() OVER (PARTITION BY $groupCol ORDER BY rk, value) AS rn
      |    FROM v)
      |  WHERE rn <= 32),
      |ranked AS (
      |  SELECT $groupCol, value,
      |    CAST(row_number() OVER (PARTITION BY $groupCol ORDER BY value) AS BIGINT) AS vr,
      |    CAST(count(*) OVER (PARTITION BY $groupCol) AS BIGINT) AS sp
      |  FROM cut)
      |SELECT $groupCol, CAST(pct AS BIGINT) AS pct, vr AS k, $valueOutSql
      |FROM ranked, (SELECT unnest([10, 50, 90]) AS pct) pcts
      |WHERE pct * sp >= 100 * vr - 99 AND pct * sp <= 100 * vr""".stripMargin

  /** [[shingleListSql]] unnested to one row per shingle. */
  private def shingleRowsSql(n: Int, textSql: String = "text"): String =
    s"unnest(${shingleListSql(n, textSql)})"

  /** Shared Bloom position-replay SQL (rule 5 — the four q_bloom_*
    * oracles differ only in slice, geometry, and carried prefix
    * columns): the DISTINCT shingles of `src` (a SELECT producing
    * `sh` plus any `grpSel` prefix columns, e.g. "lang, " or "sh, ")
    * double-hashed Kirsch–Mitzenmacher to k positions mod m —
    * `pos_i = (h1 + i·h2) mod m`, h1/h2 the md5 digest's two unsigned
    * 8-byte halves mod m, the exact `Bloom.positions` math. h1/h2 are
    * cast to BIGINT IMMEDIATELY (they are < m ≤ 2^36, exact in signed
    * arithmetic), so the UBIGINT intermediate never reaches downstream
    * arithmetic or an output column (rule 1's HUGEINT/promotion ban).
    */
  private def bloomPositionsSql(src: String, m: Long, k: Int,
      grpSel: String = ""): String =
    s"""(SELECT DISTINCT $grpSel CAST((h1 + i * h2) % $m AS BIGINT) AS pos
      |  FROM (SELECT $grpSel
      |      CAST(('0x' || substr(md5(sh), 1, 16))::UBIGINT % $m AS BIGINT) AS h1,
      |      CAST(('0x' || substr(md5(sh), 17, 16))::UBIGINT % $m AS BIGINT) AS h2
      |    FROM (SELECT DISTINCT $grpSel sh FROM ($src)))
      |  CROSS JOIN range($k) r(i))""".stripMargin

  /** Packed-word replay over [[bloomPositionsSql]]: (grpSel..., w, lo,
    * hi) with each 64-bit word as two nonnegative 32-bit halves —
    * `1 << 63` is an overflow error in portable integer SQL, so the
    * contract never constructs the sign bit (`Bloom.wordHalves` is the
    * Spark side of the same split). bit_or over BIGINT stays BIGINT
    * (no HUGEINT promotion — rule 1 audited).
    */
  private def bloomWordsOracleSql(src: String, m: Long, k: Int,
      grpSel: String = ""): String = {
    val grpBy = if (grpSel.isEmpty) "1" else "1, 2"
    s"""WITH ep AS MATERIALIZED ${bloomPositionsSql(src, m, k, grpSel)}
      |SELECT $grpSel CAST(pos // 64 AS BIGINT) AS w,
      |  bit_or(CASE WHEN pos % 64 < 32
      |    THEN (1::BIGINT << (pos % 64)) ELSE 0::BIGINT END) AS lo,
      |  bit_or(CASE WHEN pos % 64 >= 32
      |    THEN (1::BIGINT << (pos % 64 - 32)) ELSE 0::BIGINT END) AS hi
      |FROM ep GROUP BY $grpBy""".stripMargin
  }

  /** The %13 documents slice with ids offset and text truncated to its
    * first ceil(mulNum·n/den) tokens (addDen = den−1 implements the
    * ceiling) — THE one prefix-truncation recipe behind the
    * q_jaccard_join and q_jaccard_join_ab near-dup fixtures, Spark side.
    * A drifted inline copy would silently desynchronize the two gates'
    * pair sets (house rule 5).
    */
  private def prefixTruncSlice(docs: DataFrame, offset: Long, mulNum: Long,
      addDen: Long, den: Long): DataFrame = {
    val toks = split(col("text"), " ")
    val keep = call_function("div",
      size(toks).cast("long") * lit(mulNum) + lit(addDen), lit(den))
    docs.where(col("doc_id") % 13 === 0).select(
      (col("doc_id") + lit(offset)).as("doc_id"),
      when(col("text").isNull, lit(null).cast("string"))
        .otherwise(concat_ws(" ", slice(toks, lit(1), keep.cast("int"))))
        .as("text"))
  }

  /** [[prefixTruncSlice]]'s DuckDB mirror — one SELECT over documents. */
  private def prefixTruncSql(offset: Long, mulNum: Long, addDen: Long,
      den: Long): String =
    s"""SELECT doc_id + $offset AS doc_id,
       |    CASE WHEN text IS NULL THEN NULL ELSE array_to_string(
       |      string_split(text, ' ')[1 : (len(string_split(text, ' ')) * $mulNum + $addDen) // $den], ' ') END AS text
       |  FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** HALF-UP integer micro-unit Jaccard of two shingle-list SQL
    * expressions: (2·|∩|·1e6 + |∪|) // (2·|∪|) = round(j·1e6) — pure
    * integer arithmetic, THE definition behind
    * [[graft.ops.IncrementalDedup.ingestVerdict]]'s confirm step.
    * Single fragment shared by every incremental-dedup oracle.
    */
  private def halfUpJaccardMicroSql(aSh: String, bSh: String): String =
    s"(len(list_intersect($aSh, $bSh)) * 2000000" +
      s" + len(list_distinct(list_concat($aSh, $bSh))))" +
      s" // (2 * len(list_distinct(list_concat($aSh, $bSh))))"

  /** Cell-pruned IVF search oracle shared by q_ann_ivf_pruned and
    * q_hard_negatives_ivf (the SQL mirror of `Similarity.ivfCandidates`
    * + top-k under a SUPPLIED quantizer — embeddings vec_id < 8):
    * nearest-cell assignment, nProbe=3 probing, a caller-chosen
    * candidate filter (self-exclusion vs label mismatch), cosine top-5.
    */
  private def ivfPrunedOracleSql(
      queryPredSql: String,
      candFilterSql: String,
      withLabel: Boolean): String = {
    val labelOut = if (withLabel) ", neg_label" else ""
    val labelCand = if (withLabel) ", a.label AS neg_label" else ""
    s"""WITH cent AS MATERIALIZED (
      |  SELECT vec_id AS cell, embedding::DOUBLE[] AS ct
      |  FROM embeddings WHERE vec_id < 8),
      |corp AS MATERIALIZED (
      |  SELECT vec_id AS corpus_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
      |asg AS (SELECT corpus_id, label, cell FROM (
      |  SELECT c.corpus_id, c.label, t.cell, row_number() OVER (PARTITION BY c.corpus_id
      |    ORDER BY list_sum(list_transform(range(1, len(c.cv)+1),
      |      i -> (c.cv[i]-t.ct[i])*(c.cv[i]-t.ct[i]))), t.cell) AS rn
      |  FROM corp c CROSS JOIN cent t) WHERE rn = 1),
      |probe AS (SELECT query_id, qlabel, cell FROM (
      |  SELECT q.corpus_id AS query_id, q.label AS qlabel, t.cell,
      |    row_number() OVER (PARTITION BY q.corpus_id
      |    ORDER BY list_sum(list_transform(range(1, len(q.cv)+1),
      |      i -> (q.cv[i]-t.ct[i])*(q.cv[i]-t.ct[i]))), t.cell) AS rn
      |  FROM corp q CROSS JOIN cent t WHERE $queryPredSql) WHERE rn <= 3),
      |cand AS (SELECT p.query_id, a.corpus_id$labelCand
      |  FROM probe p JOIN asg a USING (cell)
      |  WHERE $candFilterSql)
      |SELECT query_id, rank, corpus_id$labelOut FROM (
      |  SELECT cd.query_id, cd.corpus_id$labelOut,
      |    row_number() OVER (PARTITION BY cd.query_id
      |      ORDER BY list_cosine_similarity(q.cv, c.cv) DESC, cd.corpus_id) AS rank
      |  FROM cand cd JOIN corp q ON q.corpus_id = cd.query_id
      |               JOIN corp c ON c.corpus_id = cd.corpus_id)
      |WHERE rank <= 5""".stripMargin
  }

  /** Gap-session oracle shared by q_sessionize (custom state) and
    * q_session_native (session_window). The two operators are
    * spec-asserted equal on real (sub-ms-granular) data, but their
    * EXACT-gap boundary differs — custom is inclusive (diff <= gap
    * continues), session_window is half-open (diff == gap starts a new
    * session) — so each oracle replays its OWN boundary via
    * `newSessionCmp` and a regenerated dataset with exact 30-minute
    * deltas cannot flip either gate.
    */
  private def sessionOracleSql(newSessionCmp: String): String =
      s"""WITH e AS (
        |  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
        |    coalesce(value, 0) AS value,
        |    CASE WHEN CAST(epoch_ms(ts) AS BIGINT)
        |           - lag(CAST(epoch_ms(ts) AS BIGINT))
        |             OVER (PARTITION BY user_id ORDER BY ts) $newSessionCmp
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |s AS (
        |  SELECT user_id, ts_ms, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM e)
        |SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin

  /** Union/running-max as-of carry shared by q_asof_join and
    * q_fill_forward (the SQL mirror of `AsofJoin.asofJoin`'s
    * union-window form). Callers define CTEs `lft` (user_id, ts_ms
    * [, extras]) and `snaps` (snap_id, user_id, ts_ms, pv); this
    * fragment adds `u` (tagged union — snapshot side 0 sorts before
    * event side 1 at equal ts, the inclusive-join rule), `m` (running
    * max of the matched snapshot ts), and `sj` (the join-back side with
    * duplicate (user_id, ts_ms) snapshots pre-resolved to the HIGHEST
    * snap_id via max_by — the operator's documented tie-break, so the
    * replay stays row-stable if regenerated testdata ever collides
    * timestamps).
    */
  private def asofCarrySql(
      leftExtraSql: String, rightNullSql: String, withNext: Boolean = false): String = {
    // `withNext` (q_fill_interp) adds the FOLLOWING-frame window and its
    // join-back side: the next observation is the FIRST in window order,
    // so duplicate-ts snapshots resolve to the LOWEST id there (min_by),
    // mirroring the prev side's highest-id rule.
    val nextWin = if (!withNext) "" else
      """,
        |    min(CASE WHEN side = 0 THEN ts_ms END) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms, side, coalesce(snap_id, 0)
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS m_next""".stripMargin
    val nextSj = if (!withNext) "" else
      """,
        |sjn AS (SELECT user_id, ts_ms, min_by(pv, snap_id) AS pv
        |  FROM snaps GROUP BY 1, 2)""".stripMargin
    s"""u AS (
      |  SELECT user_id, ts_ms, 1 AS side, CAST(NULL AS BIGINT) AS snap_id$leftExtraSql
      |  FROM lft
      |  UNION ALL
      |  SELECT user_id, ts_ms, 0, snap_id$rightNullSql FROM snaps),
      |m AS (
      |  SELECT *, max(CASE WHEN side = 0 THEN ts_ms END) OVER (
      |    PARTITION BY user_id ORDER BY ts_ms, side, coalesce(snap_id, 0)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_ts$nextWin
      |  FROM u),
      |sj AS (SELECT user_id, ts_ms, max_by(pv, snap_id) AS pv
      |  FROM snaps GROUP BY 1, 2)$nextSj""".stripMargin
  }

  /** Prototypicality oracle core shared by q_prototypes and
    * q_proto_prune (the SQL mirror of `Prototypes.prototypicality`
    * under the supplied quantizer — embeddings vec_id < 8, the
    * ivfPrunedOracleSql trick): nearest-centroid assignment (ties to
    * the lower cell), cosine to the assigned centroid, per-cluster
    * size, (cosine desc, id) rank — ends in a CTE named `ranked`.
    */
  private def protoRankedSql: String =
    """WITH cent AS MATERIALIZED (
      |  SELECT vec_id AS cell, embedding::DOUBLE[] AS ct
      |  FROM embeddings WHERE vec_id < 8),
      |corp AS MATERIALIZED (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |asg AS (SELECT vec_id, cell, sim FROM (
      |  SELECT c.vec_id, t.cell, list_cosine_similarity(c.v, t.ct) AS sim,
      |    row_number() OVER (PARTITION BY c.vec_id
      |      ORDER BY list_sum(list_transform(range(1, len(c.v)+1),
      |        i -> (c.v[i]-t.ct[i])*(c.v[i]-t.ct[i]))), t.cell) AS rn
      |  FROM corp c CROSS JOIN cent t) WHERE rn = 1),
      |ranked AS (
      |  SELECT vec_id, cell AS cluster,
      |    count(*) OVER (PARTITION BY cell) AS n_cluster,
      |    row_number() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS rank,
      |    sim
      |  FROM asg)""".stripMargin

  /** Span-merge-and-cut oracle shared by q_substring_dedup and
    * q_boilerplate_cut (the SQL mirror of `Dedup.cutSpans`): fixed
    * `winLen`-token windows, a caller-supplied `dup` CTE selecting the
    * flagged window keys, gaps-and-islands span merge, token cut, and
    * the md5-pinned clean text. The two queries differ ONLY in window
    * length and the flagging rule (occurrence count vs document
    * frequency), so the replay lives in one fragment.
    */
  private def spanCutOracleSql(
      winLen: Int,
      dupCteSql: String,
      cutCol: String,
      fracCol: String): String = {
    val e = winLen - 1 // span end offset; starts run 0..n_tokens-winLen
    s"""WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents),
      |base2 AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM base),
      |wins AS (
      |  SELECT doc_id,
      |    unnest(range(0, greatest(n_tokens - $e, 0))) AS start,
      |    unnest(list_transform(range(0, greatest(n_tokens - $e, 0)),
      |      i -> array_to_string(toks[i+1:i+$winLen], ' '))) AS key
      |  FROM base2),
      |dup AS ($dupCteSql),
      |dwin AS (SELECT w.doc_id, w.start FROM wins w JOIN dup USING (key)),
      |isl AS (
      |  SELECT doc_id, start,
      |    CASE WHEN coalesce(max(start + $e) OVER (PARTITION BY doc_id ORDER BY start
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) < start - 1
      |         THEN 1 ELSE 0 END AS new_span
      |  FROM dwin),
      |grp AS (
      |  SELECT doc_id, start,
      |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY start) AS span_id
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, span_id, min(start) AS lo, max(start) + $e AS hi
      |  FROM grp GROUP BY doc_id, span_id),
      |perdoc AS (
      |  SELECT doc_id, CAST(sum(hi - lo + 1) AS BIGINT) AS $cutCol
      |  FROM spans GROUP BY doc_id),
      |tokpos AS (
      |  SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS p
      |  FROM base2),
      |clean AS (
      |  SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.p) AS clean_text
      |  FROM tokpos tp
      |  WHERE NOT EXISTS (SELECT 1 FROM spans s
      |    WHERE s.doc_id = tp.doc_id AND tp.p BETWEEN s.lo AND s.hi)
      |  GROUP BY tp.doc_id)
      |SELECT b.doc_id, b.n_tokens,
      |  coalesce(pd.$cutCol, 0) AS $cutCol,
      |  CASE WHEN b.n_tokens = 0 THEN 0.0
      |    ELSE round(coalesce(pd.$cutCol, 0) * 1.0 / b.n_tokens, 6) + 0.0
      |    END AS $fracCol,
      |  md5(coalesce(cl.clean_text, '')) AS clean_md5
      |FROM base2 b
      |LEFT JOIN perdoc pd USING (doc_id)
      |LEFT JOIN clean cl USING (doc_id)""".stripMargin
  }

  /** Full logistic-regression GD chain as CTEs (the SQL mirror of
    * `Classify.logisticFit`): hashed features (portable md5 bucket),
    * intercept rows, then `iters` unrolled full-batch steps from w = 0,
    * ending in a CTE named `wfin` (unrounded weights) plus `feats`.
    * Shared by q_logreg_fit and q_logreg_score.
    */
  private def logregChainSql(
      iters: Int,
      buckets: Int,
      lr: Double,
      labelSql: String): String = {
    val head =
      s"""toks AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |bt AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % $buckets AS BIGINT) AS bucket
        |  FROM toks),
        |nt AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM bt GROUP BY doc_id),
        |bf AS MATERIALIZED (SELECT doc_id, bucket, count(*) AS c FROM bt GROUP BY doc_id, bucket),
        |feats AS MATERIALIZED (
        |  SELECT bf.doc_id, bucket, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS x
        |  FROM bf JOIN nt USING (doc_id)
        |  UNION ALL SELECT doc_id, CAST(-1 AS BIGINT), 1.0 FROM nt),
        |yy AS MATERIALIZED (
        |  SELECT d.doc_id, $labelSql AS y
        |  FROM documents d JOIN nt ON d.doc_id = nt.doc_id),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM yy),
        |g0 AS (SELECT f.bucket, sum((0.5 - y.y) * f.x) / (SELECT n FROM nn) AS g
        |       FROM feats f JOIN yy y USING (doc_id) GROUP BY f.bucket),
        |w1 AS (SELECT bucket, -$lr * g AS w FROM g0)""".stripMargin
    val steps = (1 until iters).map { t =>
      s"""m$t AS (SELECT f.doc_id, sum(f.x * w$t.w) AS m
        |  FROM feats f JOIN w$t USING (bucket) GROUP BY f.doc_id),
        |r$t AS (SELECT m$t.doc_id, 1.0 / (1.0 + exp(-m)) - y.y AS r
        |  FROM m$t JOIN yy y USING (doc_id)),
        |g$t AS (SELECT f.bucket, sum(r$t.r * f.x) / (SELECT n FROM nn) AS g
        |  FROM feats f JOIN r$t USING (doc_id) GROUP BY f.bucket),
        |w${t + 1} AS (SELECT w$t.bucket, w$t.w - $lr * coalesce(g$t.g, 0.0) AS w
        |  FROM w$t LEFT JOIN g$t USING (bucket))""".stripMargin
    }
    (Seq(head) ++ steps :+ s"wfin AS (SELECT bucket, w FROM w$iters)").mkString(",\n")
  }

  /** Corpus bigram-count CTE chain (toks/prs/pw/c2/c1) shared by the
    * q_bigram_nll and q_ccnet_buckets oracles — the SQL mirror of
    * `TextOps.bigramJoined`.
    */
  private def bigramCountsSql(): String =
    """toks AS MATERIALIZED (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
      |  FROM documents),
      |prs AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])) AS pair
      |  FROM toks WHERE len(t) >= 2),
      |pw AS MATERIALIZED (
      |  SELECT doc_id, pair, string_split(pair, ' ')[1] AS w1 FROM prs),
      |c2 AS MATERIALIZED (SELECT pair, count(*) AS c2 FROM pw GROUP BY pair),
      |c1 AS MATERIALIZED (SELECT w1, count(*) AS c1 FROM pw GROUP BY w1)""".stripMargin

  /** The four integer counts feeding [[graft.ops.TextOps.qualityScoreMicro]],
    * as a DuckDB select-list fragment emitting columns len / n_tokens /
    * n_stop / n_noise. Single definition — every quality-micro oracle
    * composes this with [[qualityMicroSql]].
    */
  private def qualityCountsSql(textSql: String = "text"): String =
    s"CAST(length($textSql) AS BIGINT) AS len, " +
      s"CAST(len(string_split($textSql, ' ')) AS BIGINT) AS n_tokens, " +
      s"CAST(len(list_filter(string_split($textSql, ' '), " +
      "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS n_stop, " +
      s"CAST(length(regexp_replace(lower($textSql), '[a-z ]', '', 'g')) AS BIGINT) AS n_noise"

  /** [[graft.ops.Bpe]] training unrolled as DuckDB CTEs: word
    * frequencies, the wrapped-symbol initial form (chr(1)·c·chr(2) per
    * character — see Bpe.scala for why the wrapping makes literal
    * replace equal greedy symbol merging), then per merge round r:
    * weighted pair counts (p_r), the deterministic argmax (b_r), and the
    * merged vocabulary (w_r). Shared by q_bpe_train and q_bpe_encode.
    * Assumes the corpus yields all `m` merges at minPairFreq 2 (true for
    * the documents table at every gate SF; the Spark side stops early
    * otherwise, which the row-count check would surface).
    */
  private def bpeChainSql(m: Int): String = {
    val b = new StringBuilder
    b ++= """wf AS MATERIALIZED (
      |  SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
      |    FROM documents) GROUP BY word),
      |w0 AS MATERIALIZED (
      |  SELECT word, array_to_string(list_transform(string_split(word, ''),
      |    c -> chr(1) || c || chr(2)), '') AS w, freq FROM wf),""".stripMargin
    for (r <- 1 to m) {
      b ++= s"""
        |p$r AS (SELECT pr[1] AS lhs, pr[2] AS rhs, sum(freq) AS cnt FROM (
        |  SELECT unnest(list_transform(range(len(s) - 1), i -> [s[i+1], s[i+2]])) AS pr, freq
        |  FROM (SELECT list_filter(string_split(replace(w, chr(2), ''), chr(1)),
        |                x -> x <> '') AS s, freq FROM w${r - 1}))
        |  GROUP BY 1, 2),
        |b$r AS (SELECT lhs, rhs, cnt FROM p$r WHERE cnt >= 2
        |        ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |w$r AS MATERIALIZED (
        |  SELECT word, replace(w, chr(1) || lhs || chr(2) || chr(1) || rhs || chr(2),
        |    chr(1) || lhs || rhs || chr(2)) AS w, freq
        |  FROM w${r - 1}, b$r),""".stripMargin
    }
    b.toString.dropRight(1) // trailing comma
  }

  /** [[graft.ops.TextOps.qualityScoreMicro]] as pure 64-bit integer SQL
    * over the [[qualityCountsSql]] columns — identical in every engine
    * (integer mul/floor-div/min have exactly one possible result).
    */
  private def qualityMicroSql(len: String = "len", nTok: String = "n_tokens",
      nStop: String = "n_stop", nNoise: String = "n_noise"): String =
    s"800 * least($len, 500) " +
      s"+ least((2000000 * $nStop) // $nTok, 400000) " +
      s"+ (200000 - least((200000 * $nNoise) // greatest($len, 1), 200000))"

  private def lloydFitOracleSql(
      iters: Int,
      distSql: (String, String) => String,
      updateCte: (String, String) => String,
      prepSql: String = "embedding::DOUBLE[]"): String = {
    def assign(name: String, centersCte: String, keepPv: Boolean): String =
      s"""$name AS MATERIALIZED (SELECT vec_id${if (keepPv) ", pv" else ""}, cid FROM (
         |  SELECT p.vec_id, p.pv, c.cid, row_number() OVER (PARTITION BY p.vec_id
         |    ORDER BY ${distSql("p.pv", "c.cv")}, c.cid) AS rn
         |  FROM p, $centersCte c) WHERE rn = 1)""".stripMargin
    val steps = (1 to iters).map { i =>
      assign(s"a$i", s"c${i - 1}", keepPv = true) + ",\n" + updateCte(s"c$i", s"a$i")
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, $prepSql AS pv FROM embeddings),
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, $prepSql AS cv FROM embeddings WHERE vec_id < 8),
       |$steps,
       |${assign("af", s"c$iters", keepPv = false)},
       |sizes AS (SELECT cid AS cluster, count(*) AS n FROM af GROUP BY 1),
       |cx AS (SELECT cid AS cluster, CAST(j - 1 AS BIGINT) AS d, round(cv[j], 4) + 0.0 AS v
       |       FROM c$iters, unnest(range(1, len(cv)+1)) AS t(j))
       |SELECT cx.cluster, cx.d, cx.v, sizes.n FROM cx JOIN sizes USING (cluster)""".stripMargin
  }

  /** DuckDB replay of the ENTIRE XMeans selection loop: one independent
    * `iters`-step Lloyd unroll per candidate k (each warm-started from the
    * first k embeddings — [[lloydFitOracleSql]]'s chain with k-suffixed CTE
    * names), each candidate's final clustering cost, the Gaussian BIC
    * closed form of XMeans.score on that cost, and the argmin winner with
    * ties to the smaller k (reference: ml/XMeans.scala:117,250-271).
    */
  /** Per-k warm-started SE Lloyd chain ending in a cost$k CTE — the
    * shared fragment behind the XMeans selection and elbow oracles
    * (house rule 5: never inline-copy oracle fragments).
    */
  private def seFitCostChainSql(k: Int, iters: Int): String = {
    def assign(name: String, centersCte: String): String =
      s"""$name AS MATERIALIZED (SELECT vec_id, pv, cid FROM (
         |  SELECT p.vec_id, p.pv, c.cid, row_number() OVER (PARTITION BY p.vec_id
         |    ORDER BY ${seDistSql("p.pv", "c.cv")}, c.cid) AS rn
         |  FROM p, $centersCte c) WHERE rn = 1)""".stripMargin
    val steps = (1 to iters).map { i =>
      assign(s"a${k}_$i", s"c${k}_${i - 1}") + ",\n" + meanUpdateCte(s"c${k}_$i", s"a${k}_$i")
    }.mkString(",\n")
    s"""c${k}_0 AS MATERIALIZED (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
       |  FROM embeddings WHERE vec_id < $k),
       |$steps,
       |cost$k AS MATERIALIZED (SELECT sum(md) AS cost, count(*) AS n FROM (
       |  SELECT min(${seDistSql("p.pv", "c.cv")}) / 2 AS md
       |  FROM p, c${k}_$iters c GROUP BY p.vec_id))""".stripMargin
  }

  /** DuckDB replay of the full warm-started elbow sweep: one `iters`-step
    * Lloyd chain per k, each ending in its clustering cost.
    */
  private def elbowOracleSql(iters: Int, minK: Int, maxK: Int): String = {
    val chains = (minK to maxK).map(seFitCostChainSql(_, iters)).mkString(",\n")
    val scores = (minK to maxK).map(k => s"SELECT $k AS k, cost FROM cost$k")
      .mkString("\n  UNION ALL ")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv FROM embeddings),
       |$chains,
       |scores AS ($scores)
       |SELECT CAST(k AS BIGINT) AS k, round(cost, 4) + 0.0 AS wcss FROM scores""".stripMargin
  }

  private def xmeansSelectOracleSql(iters: Int, minK: Int, maxK: Int): String = {
    val chains = (minK to maxK).map(seFitCostChainSql(_, iters)).mkString(",\n")
    val scores = (minK to maxK).map(k => s"SELECT $k AS k, cost, n FROM cost$k")
      .mkString("\n  UNION ALL ")
    // the BIC expression keeps XMeans.score's exact operation order:
    // variance = max(cost/n, 1e-10); ll = -cost/(2 var) - n ln(sqrt(var))
    // - n ln(2 pi)/2; bic = -2 ll + (k d + 1) ln(n)
    s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv FROM embeddings),
       |$chains,
       |scores AS ($scores),
       |dims AS (SELECT max(len(pv)) AS d FROM p),
       |bics AS (SELECT k, -2 * (-(cost) / (2 * greatest(cost / n, 1e-10))
       |    - n * ln(sqrt(greatest(cost / n, 1e-10))) - n * ln(2 * pi()) / 2)
       |    + (k * d + 1) * ln(n) AS raw
       |  FROM scores, dims),
       |best AS (SELECT k FROM bics ORDER BY raw, k LIMIT 1)
       |SELECT CAST(k AS BIGINT) AS k, round(raw, 4) + 0.0 AS bic,
       |  CAST(k = (SELECT k FROM best) AS BIGINT) AS chosen FROM bics""".stripMargin
  }

  /** Shared body of q_dtw_dist / q_softdtw_dist: distances from embedding
    * 0 to the first 50 embeddings over their 16-dim prefix, through the
    * real SequenceKernel DP in an executor closure.
    */
  private def dtwDistQuery(s: SparkSession, dir: String, soft: Boolean): DataFrame = {
    implicit val sp: SparkSession = s
    val e = t(dir, "embeddings").where(col("vec_id") < 50).orderBy(col("vec_id"))
      .select(col("vec_id"), slice(col("embedding").cast("array<double>"), 1, 16).as("f"))
    val x0 = e.where(col("vec_id") === 0).head().getSeq[Double](1).toArray
    val kern: graft.kernels.SequenceKernel =
      if (soft) graft.kernels.SoftDTWKernel(gamma = 0.5)
      else graft.kernels.DTWKernel(None)
    val dUdf = udf { (ys: Seq[Double]) => kern.distance(x0, ys.toArray) }
    e.select(col("vec_id"), (round(dUdf(col("f")), 6) + lit(0.0)).as("dist"))
  }

  /** DuckDB cell-by-cell unroll of the (Soft-)DTW dynamic program over
    * 16-step series: a RECURSIVE CTE appends one DP cell per step to a
    * list column, combining the three predecessors with least() (DTW) or
    * the stabilized soft-min (Soft-DTW, gamma). Boundary cells read +inf;
    * cell (0,0)'s diagonal predecessor is the DP origin 0.
    */
  private def dtwDistOracleSql(soft: Boolean, gamma: Double): String = {
    val L = 16
    val diag = s"""CASE WHEN step // $L > 0 AND step % $L > 0 THEN cells[(step // $L - 1) * $L + (step % $L)]
                  |         WHEN step // $L = 0 AND step % $L = 0 THEN 0.0
                  |         ELSE CAST('Infinity' AS DOUBLE) END""".stripMargin
    val up = s"""CASE WHEN step // $L > 0 THEN cells[(step // $L - 1) * $L + (step % $L) + 1]
                |         ELSE CAST('Infinity' AS DOUBLE) END""".stripMargin
    val left = s"""CASE WHEN step % $L > 0 THEN cells[(step // $L) * $L + (step % $L)]
                  |         ELSE CAST('Infinity' AS DOUBLE) END""".stripMargin
    val combine =
      if (!soft) s"least(\n$diag,\n$up,\n$left)"
      else {
        // stabilized soft-min over (a, b, c) with m = least(a, b, c)
        s"""(SELECT CASE WHEN isinf(m) THEN m
           |  ELSE m - $gamma * ln(exp(-(a - m) / $gamma) + exp(-(b - m) / $gamma) + exp(-(c - m) / $gamma))
           |  END
           | FROM (SELECT a, b, c, least(a, b, c) AS m FROM (SELECT
           |$diag AS a,
           |$up AS b,
           |$left AS c)))""".stripMargin
      }
    val finish =
      if (!soft) s"round(sqrt(cells[$L * $L]), 6) + 0.0"
      else s"round(cells[$L * $L], 6) + 0.0"
    s"""WITH RECURSIVE
       |p AS MATERIALIZED (SELECT vec_id, (embedding::DOUBLE[])[1:$L] AS pv
       |  FROM embeddings WHERE vec_id < 50),
       |x0 AS MATERIALIZED (SELECT pv AS xv FROM p WHERE vec_id = 0),
       |dp AS (
       |  SELECT p.vec_id, p.pv AS yv, x0.xv AS xv, 0 AS step, CAST([] AS DOUBLE[]) AS cells
       |  FROM p, x0
       |  UNION ALL
       |  SELECT vec_id, yv, xv, step + 1,
       |    list_append(cells,
       |      (xv[(step // $L) + 1] - yv[(step % $L) + 1])^2 + $combine)
       |  FROM dp WHERE step < $L * $L)
       |SELECT vec_id, $finish AS dist FROM dp WHERE step = $L * $L""".stripMargin
  }

  /** DuckDB oracle for the DTW alignment-path export: the same forward DP
    * as [[dtwDistOracleSql]] (hard min — no transcendentals, so the cell
    * values are bit-identical to the Scala DP), then a second RECURSIVE
    * CTE backtracking from (L-1, L-1) with the Scala backtrack's exact
    * tie order (diag, then up, then left). Emits one (vec_id, i, j) row
    * per path point; row order is irrelevant to the sorted-hash compare.
    */
  private def dtwPathOracleSql(): String = {
    val L = 16
    val diag = s"""CASE WHEN step // $L > 0 AND step % $L > 0 THEN cells[(step // $L - 1) * $L + (step % $L)]
                  |         WHEN step // $L = 0 AND step % $L = 0 THEN 0.0
                  |         ELSE CAST('Infinity' AS DOUBLE) END""".stripMargin
    val up = s"""CASE WHEN step // $L > 0 THEN cells[(step // $L - 1) * $L + (step % $L) + 1]
                |         ELSE CAST('Infinity' AS DOUBLE) END""".stripMargin
    val left = s"""CASE WHEN step % $L > 0 THEN cells[(step // $L) * $L + (step % $L)]
                  |         ELSE CAST('Infinity' AS DOUBLE) END""".stripMargin
    s"""WITH RECURSIVE
       |p AS MATERIALIZED (SELECT vec_id, (embedding::DOUBLE[])[1:$L] AS pv
       |  FROM embeddings WHERE vec_id < 50),
       |x0 AS MATERIALIZED (SELECT pv AS xv FROM p WHERE vec_id = 0),
       |dp AS (
       |  SELECT p.vec_id, p.pv AS yv, x0.xv AS xv, 0 AS step, CAST([] AS DOUBLE[]) AS cells
       |  FROM p, x0
       |  UNION ALL
       |  SELECT vec_id, yv, xv, step + 1,
       |    list_append(cells,
       |      (xv[(step // $L) + 1] - yv[(step % $L) + 1])^2 + least(
       |$diag,
       |$up,
       |$left))
       |  FROM dp WHERE step < $L * $L),
       |m AS MATERIALIZED (SELECT vec_id, cells FROM dp WHERE step = $L * $L),
       |bt AS (
       |  SELECT vec_id, cells, ${L - 1} AS r, ${L - 1} AS c FROM m
       |  UNION ALL
       |  SELECT vec_id, cells,
       |    CASE WHEN dg <= u AND dg <= lf THEN r - 1 WHEN u <= lf THEN r - 1 ELSE r END,
       |    CASE WHEN dg <= u AND dg <= lf THEN c - 1 WHEN u <= lf THEN c ELSE c - 1 END
       |  FROM (SELECT vec_id, cells, r, c,
       |      CASE WHEN r > 0 AND c > 0 THEN cells[(r - 1) * $L + c]
       |           WHEN r = 0 AND c = 0 THEN 0.0
       |           ELSE CAST('Infinity' AS DOUBLE) END AS dg,
       |      CASE WHEN r > 0 THEN cells[(r - 1) * $L + c + 1]
       |           ELSE CAST('Infinity' AS DOUBLE) END AS u,
       |      CASE WHEN c > 0 THEN cells[r * $L + c]
       |           ELSE CAST('Infinity' AS DOUBLE) END AS lf
       |    FROM bt) WHERE r > 0 OR c > 0)
       |SELECT vec_id, CAST(r AS BIGINT) AS i, CAST(c AS BIGINT) AS j FROM bt""".stripMargin
  }

  /** DuckDB oracle for one DBA update: per series 1..12, the same
    * forward-DP + backtrack as [[dtwPathOracleSql]] (carrying the series
    * values through the backtrack), then the per-center-index mean of
    * aligned series values across all paths — exactly the trait
    * barycenter's single-iteration sums/mass rule.
    */
  private def dbaStepOracleSql(): String = {
    val L = 16
    val diag = s"""CASE WHEN step // $L > 0 AND step % $L > 0 THEN cells[(step // $L - 1) * $L + (step % $L)]
                  |         WHEN step // $L = 0 AND step % $L = 0 THEN 0.0
                  |         ELSE CAST('Infinity' AS DOUBLE) END""".stripMargin
    val up = s"""CASE WHEN step // $L > 0 THEN cells[(step // $L - 1) * $L + (step % $L) + 1]
                |         ELSE CAST('Infinity' AS DOUBLE) END""".stripMargin
    val left = s"""CASE WHEN step % $L > 0 THEN cells[(step // $L) * $L + (step % $L)]
                  |         ELSE CAST('Infinity' AS DOUBLE) END""".stripMargin
    s"""WITH RECURSIVE
       |p AS MATERIALIZED (SELECT vec_id, (embedding::DOUBLE[])[1:$L] AS pv
       |  FROM embeddings WHERE vec_id < 13),
       |x0 AS MATERIALIZED (SELECT pv AS xv FROM p WHERE vec_id = 0),
       |dp AS (
       |  SELECT p.vec_id, p.pv AS yv, x0.xv AS xv, 0 AS step, CAST([] AS DOUBLE[]) AS cells
       |  FROM p, x0 WHERE p.vec_id > 0
       |  UNION ALL
       |  SELECT vec_id, yv, xv, step + 1,
       |    list_append(cells,
       |      (xv[(step // $L) + 1] - yv[(step % $L) + 1])^2 + least(
       |$diag,
       |$up,
       |$left))
       |  FROM dp WHERE step < $L * $L),
       |m AS MATERIALIZED (SELECT vec_id, yv, cells FROM dp WHERE step = $L * $L),
       |bt AS (
       |  SELECT vec_id, yv, cells, ${L - 1} AS r, ${L - 1} AS c FROM m
       |  UNION ALL
       |  SELECT vec_id, yv, cells,
       |    CASE WHEN dg <= u AND dg <= lf THEN r - 1 WHEN u <= lf THEN r - 1 ELSE r END,
       |    CASE WHEN dg <= u AND dg <= lf THEN c - 1 WHEN u <= lf THEN c ELSE c - 1 END
       |  FROM (SELECT vec_id, yv, cells, r, c,
       |      CASE WHEN r > 0 AND c > 0 THEN cells[(r - 1) * $L + c]
       |           WHEN r = 0 AND c = 0 THEN 0.0
       |           ELSE CAST('Infinity' AS DOUBLE) END AS dg,
       |      CASE WHEN r > 0 THEN cells[(r - 1) * $L + c + 1]
       |           ELSE CAST('Infinity' AS DOUBLE) END AS u,
       |      CASE WHEN c > 0 THEN cells[r * $L + c]
       |           ELSE CAST('Infinity' AS DOUBLE) END AS lf
       |    FROM bt) WHERE r > 0 OR c > 0)
       |SELECT CAST(r AS BIGINT) AS i,
       |  round(sum(yv[c + 1]) / count(*), 6) + 0.0 AS cv,
       |  count(*) AS n_aligned
       |FROM bt GROUP BY r""".stripMargin
  }

  /** DuckDB unroll of the GAK log-space DP: for each row both k(x0,y) and
    * k(y,y) run as recursive-CTE DPs (kind 'xy' / 'yy') with the
    * stabilized log-sum-exp combiner; k(x0,x0) is row 0's 'yy'. Distance
    * = sqrt(max(0, 2 - 2 exp(kxy - (kxx + kyy)/2))).
    */
  private def gakDistOracleSql(sigma: Double): String = {
    val L = 16
    val diag = s"""CASE WHEN step // $L > 0 AND step % $L > 0 THEN cells[(step // $L - 1) * $L + (step % $L)]
                  |         WHEN step // $L = 0 AND step % $L = 0 THEN 0.0
                  |         ELSE CAST('-Infinity' AS DOUBLE) END""".stripMargin
    val up = s"""CASE WHEN step // $L > 0 THEN cells[(step // $L - 1) * $L + (step % $L) + 1]
                |         ELSE CAST('-Infinity' AS DOUBLE) END""".stripMargin
    val left = s"""CASE WHEN step % $L > 0 THEN cells[(step // $L) * $L + (step % $L)]
                  |         ELSE CAST('-Infinity' AS DOUBLE) END""".stripMargin
    val lse =
      s"""(SELECT CASE WHEN mx = CAST('-Infinity' AS DOUBLE) THEN mx
         |  ELSE mx + ln(exp(a - mx) + exp(b - mx) + exp(c - mx)) END
         | FROM (SELECT a, b, c, greatest(a, b, c) AS mx FROM (SELECT
         |$diag AS a,
         |$up AS b,
         |$left AS c)))""".stripMargin
    s"""WITH RECURSIVE
       |p AS MATERIALIZED (SELECT vec_id, (embedding::DOUBLE[])[1:$L] AS pv
       |  FROM embeddings WHERE vec_id < 30),
       |x0 AS MATERIALIZED (SELECT pv AS xv FROM p WHERE vec_id = 0),
       |dp AS (
       |  SELECT p.vec_id, 'xy' AS kind, x0.xv AS xv, p.pv AS yv, 0 AS step,
       |         CAST([] AS DOUBLE[]) AS cells FROM p, x0
       |  UNION ALL
       |  SELECT vec_id, kind, xv, yv, step, cells FROM (
       |    SELECT p.vec_id, 'yy' AS kind, p.pv AS xv, p.pv AS yv, 0 AS step,
       |           CAST([] AS DOUBLE[]) AS cells FROM p) base0
       |  UNION ALL
       |  SELECT vec_id, kind, xv, yv, step + 1,
       |    list_append(cells,
       |      -((xv[(step // $L) + 1] - yv[(step % $L) + 1])^2) / (2.0 * $sigma * $sigma) + $lse)
       |  FROM dp WHERE step < $L * $L),
       |res AS (SELECT vec_id, kind, cells[$L * $L] AS lk FROM dp WHERE step = $L * $L)
       |SELECT rxy.vec_id,
       |  round(sqrt(greatest(0.0, 2.0 - 2.0 * exp(rxy.lk
       |    - 0.5 * ((SELECT lk FROM res WHERE vec_id = 0 AND kind = 'yy') + ryy.lk)))), 6) + 0.0 AS dist
       |FROM (SELECT vec_id, lk FROM res WHERE kind = 'xy') rxy
       |JOIN (SELECT vec_id, lk FROM res WHERE kind = 'yy') ryy USING (vec_id)""".stripMargin
  }

  /** DuckDB unroll of full PAM (BUILD + SWAP, euclidean) over the first
    * `n` embeddings at k medoids: greedy BUILD steps maximize the
    * positive-part gain (ties -> smallest candidate); each SWAP step
    * scores every (slot, candidate) replacement's total cost, applies the
    * strictly-best improvement (Spark's -1e-12 threshold) or no-ops via a
    * LEFT JOIN on the empty pick — converged steps replay as identity.
    */
  private def pamFitOracleSql(n: Int, k: Int, swaps: Int): String = {
    val euclid = s"sqrt(${seDistSql("a.pv", "b.pv")})"
    val buildSteps = (1 to (k - 1)).map { s =>
      s"""md$s AS MATERIALIZED (SELECT b.i, min(b.dd) AS md FROM base b
         |  JOIN medB${s - 1} m ON b.j = m.pid GROUP BY b.i),
         |gain$s AS MATERIALIZED (
         |  SELECT b.j AS cand, sum(CASE WHEN md.md > b.dd THEN md.md - b.dd ELSE 0.0 END) AS g
         |  FROM base b JOIN md$s md ON md.i = b.i
         |  WHERE b.j NOT IN (SELECT pid FROM medB${s - 1}) GROUP BY 1),
         |pickB$s AS MATERIALIZED (SELECT cand FROM gain$s ORDER BY g DESC, cand LIMIT 1),
         |medB$s AS MATERIALIZED (SELECT mi, pid FROM medB${s - 1}
         |  UNION ALL SELECT $s AS mi, cand AS pid FROM pickB$s)""".stripMargin
    }.mkString(",\n")
    val swapSteps = (1 to swaps).map { t =>
      val prev = if (t == 1) s"medB${k - 1}" else s"med${t - 1}"
      val prevCost = if (t == 1) "cost0" else s"cost${t - 1}"
      s"""trial$t AS MATERIALIZED (
         |  SELECT cd.mi, cd.cand, m2.pid FROM
         |    (SELECT m.mi, c.vec_id AS cand FROM $prev m, p c
         |     WHERE c.vec_id NOT IN (SELECT pid FROM $prev)) cd
         |  JOIN $prev m2 ON m2.mi <> cd.mi
         |  UNION ALL
         |  SELECT m.mi, c.vec_id AS cand, c.vec_id AS pid FROM $prev m, p c
         |  WHERE c.vec_id NOT IN (SELECT pid FROM $prev)),
         |costs$t AS MATERIALIZED (
         |  SELECT mi, cand, sum(dmin) AS tc FROM (
         |    SELECT tr.mi, tr.cand, b.i, min(b.dd) AS dmin
         |    FROM trial$t tr JOIN base b ON b.j = tr.pid GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2),
         |pick$t AS MATERIALIZED (SELECT mi, cand, tc FROM costs$t
         |  WHERE tc < (SELECT c FROM $prevCost) - 1e-12 ORDER BY tc, mi, cand LIMIT 1),
         |med$t AS MATERIALIZED (
         |  SELECT m.mi, CASE WHEN m.mi = (SELECT mi FROM pick$t)
         |    THEN (SELECT cand FROM pick$t) ELSE m.pid END AS pid FROM $prev m),
         |cost$t AS MATERIALIZED (SELECT coalesce(
         |  (SELECT tc FROM pick$t), (SELECT c FROM $prevCost)) AS c)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv
       |  FROM embeddings WHERE vec_id < $n),
       |base AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j, $euclid AS dd FROM p a, p b),
       |medB0 AS MATERIALIZED (SELECT 0 AS mi, vec_id AS pid FROM (
       |  SELECT b.j AS vec_id, sum(b.dd) AS tot FROM base b WHERE b.i <> b.j GROUP BY 1
       |  ORDER BY tot, vec_id LIMIT 1)),
       |$buildSteps,
       |cost0 AS MATERIALIZED (SELECT sum(md) AS c FROM (
       |  SELECT b.i, min(b.dd) AS md FROM base b JOIN medB${k - 1} m ON b.j = m.pid GROUP BY b.i)),
       |$swapSteps,
       |af AS (SELECT i AS vec_id, mi FROM (
       |  SELECT b.i, m.mi, row_number() OVER (PARTITION BY b.i ORDER BY b.dd, m.mi) AS rn
       |  FROM base b JOIN med$swaps m ON m.pid = b.j) WHERE rn = 1),
       |sizes AS (SELECT CAST(mi AS BIGINT) AS cluster, count(*) AS n FROM af GROUP BY 1),
       |cx AS (SELECT CAST(m.mi AS BIGINT) AS cluster, CAST(j - 1 AS BIGINT) AS d,
       |              round(p.pv[j], 4) + 0.0 AS v
       |       FROM med$swaps m JOIN p ON p.vec_id = m.pid,
       |            unnest(range(1, len(p.pv)+1)) AS t(j))
       |SELECT cx.cluster, cx.d, cx.v, coalesce(sizes.n, 0) AS n
       |FROM cx LEFT JOIN sizes USING (cluster)""".stripMargin
  }

  /** DuckDB unroll of agglomerative single-linkage over the first `n`
    * embeddings down to `targetK` clusters: each of the n - targetK merge
    * steps picks the globally closest active pair (ORDER BY d, slotA,
    * slotB — the driver's strict-< scan order), folds the larger slot into
    * the smaller, and the epilogue rebuilds dendrogram node ids
    * (n + last merge index per surviving slot; leaf id for singletons) and
    * the sorted-node-id -> 0..k-1 label remap the estimator applies.
    */
  private def agglomerativeFitOracleSql(n: Int, targetK: Int): String = {
    val merges = n - targetK
    val steps = (1 to merges).map { t =>
      s"""sd$t AS MATERIALIZED (
         |  SELECT la.slot AS a, lb.slot AS b, min(bd.dd) AS dd
         |  FROM base bd
         |  JOIN m${t - 1} la ON la.vec_id = bd.i
         |  JOIN m${t - 1} lb ON lb.vec_id = bd.j
         |  WHERE la.slot < lb.slot GROUP BY 1, 2),
         |pick$t AS MATERIALIZED (SELECT a, b FROM sd$t ORDER BY dd, a, b LIMIT 1),
         |m$t AS MATERIALIZED (
         |  SELECT vec_id, CASE WHEN slot = (SELECT b FROM pick$t)
         |    THEN (SELECT a FROM pick$t) ELSE slot END AS slot FROM m${t - 1})""".stripMargin
    }.mkString(",\n")
    val picksUnion = (1 to merges)
      .map(t => s"SELECT $t AS t, a FROM pick$t").mkString("\n  UNION ALL ")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv
       |  FROM embeddings WHERE vec_id < $n),
       |base AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j,
       |  ${seDistSql("a.pv", "b.pv")} AS dd FROM p a, p b WHERE a.vec_id <> b.vec_id),
       |m0 AS MATERIALIZED (SELECT vec_id, vec_id AS slot FROM p),
       |$steps,
       |picks AS ($picksUnion),
       |lastm AS (SELECT a AS slot, max(t) AS lt FROM picks GROUP BY a),
       |nodes AS (
       |  SELECT f.slot,
       |    CASE WHEN lm.lt IS NULL THEN f.slot ELSE $n + lm.lt - 1 END AS node
       |  FROM (SELECT DISTINCT slot FROM m$merges) f
       |  LEFT JOIN lastm lm ON lm.slot = f.slot),
       |labels AS (SELECT slot,
       |    CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT) AS cluster FROM nodes),
       |mem AS (SELECT m.vec_id, l.cluster FROM m$merges m JOIN labels l ON l.slot = m.slot),
       |sizes AS (SELECT cluster, count(*) AS n FROM mem GROUP BY 1),
       |cx AS (SELECT mem.cluster, CAST(j - 1 AS BIGINT) AS d, round(avg(p.pv[j]), 4) + 0.0 AS v
       |       FROM mem JOIN p ON p.vec_id = mem.vec_id,
       |            unnest(range(1, len(p.pv)+1)) AS t(j)
       |       GROUP BY 1, 2)
       |SELECT cx.cluster, cx.d, cx.v, sizes.n FROM cx JOIN sizes USING (cluster)""".stripMargin
  }

  /** DuckDB unroll of `iters` constrained-k-means iterations with the
    * harness constraint set (must (0,9), (1,12); cannot (2,15); penalty
    * lambda): the greedy is replayed as chained one-row CTEs in sorted-id
    * order — each id's argmin cost is 0.5*sqdist plus lambda per violated
    * constraint against ALREADY-FIXED partners — then the unconstrained
    * argmin and mean update run as in the plain Lloyd unroll.
    */
  private def constrainedFitOracleSql(iters: Int, lambda: Double): String = {
    // (id, penalty-term builder given this iteration's CTE prefix)
    val greedy: Seq[(Long, String => String)] = Seq(
      0L -> (_ => ""),
      1L -> (_ => ""),
      2L -> (_ => ""),
      9L -> (p => s" + CASE WHEN c.cid <> (SELECT cid FROM ${p}f0) THEN $lambda ELSE 0.0 END"),
      12L -> (p => s" + CASE WHEN c.cid <> (SELECT cid FROM ${p}f1) THEN $lambda ELSE 0.0 END"),
      15L -> (p => s" + CASE WHEN c.cid = (SELECT cid FROM ${p}f2) THEN $lambda ELSE 0.0 END"))
    val conIds = greedy.map(_._1).mkString(", ")
    val steps = (1 to iters).map { i =>
      val pre = s"i$i"
      val fixed = greedy.map { case (id, pen) =>
        s"""${pre}f$id AS MATERIALIZED (SELECT cid FROM (
           |  SELECT c.cid, row_number() OVER (ORDER BY
           |    0.5 * ${seDistSql("px.pv", "c.cv")}${pen(pre)}, c.cid) AS rn
           |  FROM c${i - 1} c, (SELECT pv FROM p WHERE vec_id = $id) px) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val fixedUnion = greedy.map { case (id, _) =>
        s"SELECT $id AS vec_id, (SELECT pv FROM p WHERE vec_id = $id) AS pv, (SELECT cid FROM ${pre}f$id) AS cid"
      }.mkString("\n  UNION ALL ")
      s"""$fixed,
         |a$i AS MATERIALIZED (
         |  SELECT vec_id, pv, cid FROM (
         |    SELECT p.vec_id, p.pv, c.cid, row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${seDistSql("p.pv", "c.cv")}, c.cid) AS rn
         |    FROM p, c${i - 1} c WHERE p.vec_id NOT IN ($conIds)) WHERE rn = 1
         |  UNION ALL
         |  $fixedUnion),
         |${meanUpdateCte(s"c$i", s"a$i")}""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv FROM embeddings),
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8),
       |$steps,
       |af AS (SELECT vec_id, cid FROM (
       |  SELECT p.vec_id, c.cid, row_number() OVER (PARTITION BY p.vec_id
       |    ORDER BY ${seDistSql("p.pv", "c.cv")}, c.cid) AS rn
       |  FROM p, c$iters c) WHERE rn = 1),
       |sizes AS (SELECT cid AS cluster, count(*) AS n FROM af GROUP BY 1),
       |cx AS (SELECT cid AS cluster, CAST(j - 1 AS BIGINT) AS d, round(cv[j], 4) + 0.0 AS v
       |       FROM c$iters, unnest(range(1, len(cv)+1)) AS t(j))
       |SELECT cx.cluster, cx.d, cx.v, coalesce(sizes.n, 0) AS n
       |FROM cx LEFT JOIN sizes USING (cluster)""".stripMargin
  }

  /** DuckDB unroll of `iters` exact kernel k-means iterations over the
    * full RBF Gram: membership CTEs a0..aN, each iteration computing the
    * per-cluster self term (mean Gram over member pairs) and per-point
    * cross term, then the induced-distance argmin (ties -> smallest
    * cluster id, matching the strict-< scan). Output: per-cluster
    * pre-image means + training sizes.
    */
  private def kernelFitOracleSql(iters: Int, gamma: Double): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"a${i - 1}"
      s"""m$i AS MATERIALIZED (SELECT cid, count(*) AS cnt FROM $prev GROUP BY cid),
         |st$i AS MATERIALIZED (
         |  SELECT x.cid, sum(g.gv) / (max(m.cnt) * max(m.cnt)) AS self
         |  FROM $prev x JOIN $prev y ON x.cid = y.cid
         |  JOIN g ON g.i = x.vec_id AND g.j = y.vec_id
         |  JOIN m$i m ON m.cid = x.cid GROUP BY x.cid),
         |cr$i AS MATERIALIZED (
         |  SELECT g.i AS vec_id, a.cid, sum(g.gv) / max(m.cnt) AS crs
         |  FROM g JOIN $prev a ON a.vec_id = g.j JOIN m$i m ON m.cid = a.cid
         |  GROUP BY 1, 2),
         |a$i AS MATERIALIZED (SELECT vec_id, cid FROM (
         |  SELECT cr.vec_id, cr.cid, row_number() OVER (PARTITION BY cr.vec_id
         |    ORDER BY gii.gv - 2 * cr.crs + st.self, cr.cid) AS rn
         |  FROM cr$i cr JOIN st$i st USING (cid)
         |  JOIN gd gii ON gii.i = cr.vec_id) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv
       |  FROM embeddings WHERE vec_id < 500),
       |g AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j,
       |  exp(-$gamma * ${seDistSql("a.pv", "b.pv")}) AS gv FROM p a, p b),
       |gd AS MATERIALIZED (SELECT i, gv FROM g WHERE i = j),
       |s AS MATERIALIZED (SELECT vec_id AS cid, vec_id AS sid FROM embeddings WHERE vec_id < 8),
       |a0 AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT gii.i AS vec_id, s.cid, row_number() OVER (PARTITION BY gii.i
       |    ORDER BY gii.gv - 2 * gis.gv + gss.gv, s.cid) AS rn
       |  FROM gd gii
       |  CROSS JOIN s
       |  JOIN g gis ON gis.i = gii.i AND gis.j = s.sid
       |  JOIN gd gss ON gss.i = s.sid) WHERE rn = 1),
       |$steps,
       |sizes AS (SELECT CAST(cid AS BIGINT) AS cluster, count(*) AS n FROM a$iters GROUP BY 1),
       |cx AS (SELECT CAST(a.cid AS BIGINT) AS cluster, CAST(j - 1 AS BIGINT) AS d,
       |              round(avg(p.pv[j]), 4) + 0.0 AS v
       |       FROM a$iters a JOIN p ON p.vec_id = a.vec_id,
       |            unnest(range(1, len(p.pv)+1)) AS t(j)
       |       GROUP BY 1, 2)
       |SELECT cx.cluster, cx.d, cx.v, coalesce(sizes.n, 0) AS n
       |FROM cx LEFT JOIN sizes USING (cluster)""".stripMargin
  }

  /** DuckDB unroll of `iters` DP-means iterations: per iteration, either
    * adopt the farthest point with divergence > lambda as a new center
    * (cid = max+1, matching the array append) or — when no such point
    * exists — apply the mean update; the two branches are made exclusive
    * with EXISTS guards. Seed center is the first input row (min vec_id).
    */
  private def dpmeansFitOracleSql(iters: Int, lambda: Double): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"c${i - 1}"
      // MATERIALIZED: each CTE is referenced several times; inlining would
      // re-expand the whole iteration chain per reference (exponential
      // plan growth — observed as fd exhaustion re-opening the parquet)
      s"""a$i AS MATERIALIZED (SELECT vec_id, pv, cid, dv FROM (
         |  SELECT p.vec_id, p.pv, c.cid, 0.5 * ${seDistSql("p.pv", "c.cv")} AS dv,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY 0.5 * ${seDistSql("p.pv", "c.cv")}, c.cid) AS rn
         |  FROM p, $prev c) WHERE rn = 1),
         |o$i AS MATERIALIZED (SELECT pv FROM a$i WHERE dv > $lambda ORDER BY dv DESC, vec_id LIMIT 1),
         |c$i AS MATERIALIZED (
         |  SELECT cid, cv FROM $prev WHERE EXISTS (SELECT 1 FROM o$i)
         |  UNION ALL
         |  SELECT (SELECT max(cid) + 1 FROM $prev) AS cid, pv AS cv FROM o$i
         |  UNION ALL
         |  SELECT cid, cv FROM (
         |    SELECT cid, list(av ORDER BY j) AS cv FROM (
         |      SELECT cid, j, avg(pv[j]) AS av FROM a$i, unnest(range(1, len(pv)+1)) AS t(j)
         |      GROUP BY 1, 2) GROUP BY cid)
         |  WHERE NOT EXISTS (SELECT 1 FROM o$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv FROM embeddings),
       |c0 AS MATERIALIZED (SELECT 0 AS cid, pv AS cv FROM (SELECT pv FROM p ORDER BY vec_id LIMIT 1)),
       |$steps,
       |af AS (SELECT vec_id, cid FROM (
       |  SELECT p.vec_id, c.cid, row_number() OVER (PARTITION BY p.vec_id
       |    ORDER BY ${seDistSql("p.pv", "c.cv")}, c.cid) AS rn
       |  FROM p, c$iters c) WHERE rn = 1),
       |sizes AS (SELECT CAST(cid AS BIGINT) AS cluster, count(*) AS n FROM af GROUP BY 1),
       |cx AS (SELECT CAST(cid AS BIGINT) AS cluster, CAST(j - 1 AS BIGINT) AS d, round(cv[j], 4) + 0.0 AS v
       |       FROM c$iters, unnest(range(1, len(cv)+1)) AS t(j))
       |SELECT cx.cluster, cx.d, cx.v, coalesce(sizes.n, 0) AS n
       |FROM cx LEFT JOIN sizes USING (cluster)""".stripMargin
  }

  /** Mean update (SE): cN = per-cluster arithmetic mean of member points. */
  private def meanUpdateCte(cN: String, aN: String): String =
    s"""$cN AS MATERIALIZED (SELECT cid, list(av ORDER BY j) AS cv FROM (
       |  SELECT cid, j, avg(pv[j]) AS av FROM $aN, unnest(range(1, len(pv)+1)) AS t(j)
       |  GROUP BY 1, 2) GROUP BY cid)""".stripMargin

  /** Exact per-dimension median update (L1/K-medians): smallest value whose
    * cumulative count reaches half the cluster's total — same definition as
    * Update.median, and exact (medians are data values, so the unrolled
    * iterations carry NO float drift at all between engines).
    */
  private def medianUpdateCte(cN: String, aN: String): String =
    s"""$cN AS MATERIALIZED (SELECT cid, list(med ORDER BY d) AS cv FROM (
       |  SELECT cid, d, min(v) AS med FROM (
       |    SELECT cid, d, v, w,
       |      sum(w) OVER (PARTITION BY cid, d ORDER BY v) AS cw,
       |      sum(w) OVER (PARTITION BY cid, d) AS tw
       |    FROM (SELECT cid, j - 1 AS d, pv[j] AS v, count(*)::DOUBLE AS w
       |          FROM $aN, unnest(range(1, len(pv)+1)) AS t(j) GROUP BY 1, 2, 3))
       |  WHERE cw >= tw / 2 GROUP BY 1, 2) GROUP BY cid)""".stripMargin

  /** KL gradient-space mean update: invGrad(avg(grad(x))) with
    * grad = ln(x+eps)+1, invGrad = exp(t-1) — i.e. the geometric mean of
    * the eps-shifted members (reference: df/kernels/KLDivergenceKernel).
    */
  private def klUpdateCte(eps: Double)(cN: String, aN: String): String =
    s"""$cN AS MATERIALIZED (SELECT cid, list(gm ORDER BY j) AS cv FROM (
       |  SELECT cid, j, exp(avg(ln(pv[j] + $eps))) AS gm
       |  FROM $aN, unnest(range(1, len(pv)+1)) AS t(j)
       |  GROUP BY 1, 2) GROUP BY cid)""".stripMargin

  /** DuckDB unroll of `iters` mixture-EM iterations (SE kernel): E-step
    * responsibilities r ∝ exp(ln(pi) - D) via stable max-window softmax,
    * M-step responsibility-weighted means + Dirichlet-smoothed (alpha)
    * mixing-weight update; final MAP assignment for component sizes.
    * Matches BregmanMixture's fit loop from the same warm start.
    */
  private def mixtureFitOracleSql(iters: Int, k: Int, alpha: Double): String = {
    val steps = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (SELECT vec_id, pv, cid,
         |    ln(greatest(pi, 1e-300)) - 0.5 * ${seDistSql("pv", "cv")} AS logp
         |  FROM (SELECT p.vec_id, p.pv, c.cid, c.cv, w.pi
         |        FROM p, c${i - 1} c JOIN w${i - 1} w USING (cid))),
         |r$i AS MATERIALIZED (SELECT vec_id, pv, cid, u / (sum(u) OVER (PARTITION BY vec_id)) AS r
         |  FROM (SELECT vec_id, pv, cid,
         |          exp(logp - max(logp) OVER (PARTITION BY vec_id)) AS u FROM l$i)),
         |g$i AS MATERIALIZED (SELECT cid, sum(r) AS nc FROM r$i GROUP BY cid),
         |w$i AS MATERIALIZED (SELECT cid, (nc + $alpha) / ((SELECT sum(nc) FROM g$i) + $alpha * $k) AS pi FROM g$i),
         |c$i AS MATERIALIZED (SELECT cid, list(sv ORDER BY j) AS cv FROM (
         |  SELECT cid, j, sum(r * pv[j]) / sum(r) AS sv
         |  FROM r$i, unnest(range(1, len(pv)+1)) AS t(j) GROUP BY 1, 2) GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, list_transform(embedding::DOUBLE[], v -> v * 4.0) AS pv FROM embeddings),
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, list_transform(embedding::DOUBLE[], v -> v * 4.0) AS cv
       |       FROM embeddings WHERE vec_id < $k),
       |w0 AS MATERIALIZED (SELECT cid, 1.0 / $k AS pi FROM c0),
       |$steps,
       |af AS (SELECT vec_id, cid FROM (
       |  SELECT p.vec_id, c.cid, row_number() OVER (PARTITION BY p.vec_id
       |    ORDER BY ln(greatest(w.pi, 1e-300)) - 0.5 * ${seDistSql("p.pv", "c.cv")} DESC, c.cid) AS rn
       |  FROM p, c$iters c JOIN w$iters w USING (cid)) WHERE rn = 1),
       |sizes AS (SELECT cid AS cluster, count(*) AS n FROM af GROUP BY 1),
       |cx AS (SELECT c.cid AS cluster, CAST(j - 1 AS BIGINT) AS d, round(cv[j], 4) + 0.0 AS v,
       |              round(w.pi, 6) + 0.0 AS w
       |       FROM c$iters c JOIN w$iters w USING (cid), unnest(range(1, len(cv)+1)) AS t(j))
       |SELECT cx.cluster, cx.d, cx.v, cx.w, coalesce(sizes.n, 0) AS n
       |FROM cx LEFT JOIN sizes USING (cluster)""".stripMargin
  }

  /** DuckDB unroll of `iters` soft-EM iterations (SE kernel, beta=2,
    * minMembership=0): stable softmax p ∝ exp(-beta*(d - d_min)) via window
    * functions, then the gamma-weighted mean M-step; final hard argmin for
    * sizes. Matches SoftKMeans' fit loop from the same warm start.
    */
  private def softFitOracleSql(iters: Int, beta: Double): String = {
    // d = 0.5 * sqdist (SE kernel's 1/2 factor); exp(-beta*(d - dmin))
    val steps = (1 to iters).map { i =>
      s"""s$i AS MATERIALIZED (SELECT vec_id, pv, cid,
         |    exp(-$beta * 0.5 * (sq - min(sq) OVER (PARTITION BY vec_id))) AS u
         |  FROM (SELECT p.vec_id, p.pv, c.cid, ${seDistSql("p.pv", "c.cv")} AS sq
         |        FROM p, c${i - 1} c)),
         |a$i AS MATERIALIZED (SELECT vec_id, pv, cid, u / (sum(u) OVER (PARTITION BY vec_id)) AS pr FROM s$i),
         |c$i AS MATERIALIZED (SELECT cid, list(sv ORDER BY j) AS cv FROM (
         |  SELECT cid, j, sum(pr * pv[j]) / sum(pr) AS sv
         |  FROM a$i, unnest(range(1, len(pv)+1)) AS t(j) GROUP BY 1, 2) GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv FROM embeddings),
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8),
       |$steps,
       |af AS (SELECT vec_id, cid FROM (
       |  SELECT p.vec_id, c.cid, row_number() OVER (PARTITION BY p.vec_id
       |    ORDER BY ${seDistSql("p.pv", "c.cv")}, c.cid) AS rn
       |  FROM p, c$iters c) WHERE rn = 1),
       |sizes AS (SELECT cid AS cluster, count(*) AS n FROM af GROUP BY 1),
       |cx AS (SELECT cid AS cluster, CAST(j - 1 AS BIGINT) AS d, round(cv[j], 4) + 0.0 AS v
       |       FROM c$iters, unnest(range(1, len(cv)+1)) AS t(j))
       |SELECT cx.cluster, cx.d, cx.v, sizes.n FROM cx JOIN sizes USING (cluster)""".stripMargin
  }

  private def seDistSql(p: String, c: String): String =
    s"list_sum(list_transform(range(1, len($p)+1), i -> ($p[i] - $c[i])^2))"
  private def l1DistSql(p: String, c: String): String =
    s"list_sum(list_transform(range(1, len($p)+1), i -> abs($p[i] - $c[i])))"
  private def klDistSql(eps: Double)(p: String, c: String): String =
    s"list_sum(list_transform(range(1, len($p)+1), i -> ($p[i] + $eps) * ln(($p[i] + $eps) / ($c[i] + $eps))))"
  /** IS divergence, same per-element order as ArrayIsDiv: r - ln(r) - 1. */
  private def isDistSql(eps: Double)(p: String, c: String): String =
    s"list_sum(list_transform(range(1, len($p)+1), " +
      s"i -> (($p[i] + $eps) / ($c[i] + $eps)) - ln(($p[i] + $eps) / ($c[i] + $eps)) - 1.0))"
  /** GenI divergence, same per-element order as ArrayGenIDiv. */
  private def geniDistSql(eps: Double)(p: String, c: String): String =
    s"list_sum(list_transform(range(1, len($p)+1), " +
      s"i -> ($p[i] + $eps) * ln(($p[i] + $eps) / ($c[i] + $eps)) - ($p[i] + $eps) + ($c[i] + $eps)))"
  private def logitClampSql(v: String, eps: Double): String =
    s"greatest($eps, least(${1.0 - eps}, $v))"
  /** Clamped BCE, same per-element order as ArrayLogisticDiv. */
  private def logisticDistSql(eps: Double)(p: String, c: String): String = {
    def x = logitClampSql(s"$p[i]", eps)
    def m = logitClampSql(s"$c[i]", eps)
    s"list_sum(list_transform(range(1, len($p)+1), " +
      s"i -> $x * ln($x / $m) + (1.0 - $x) * ln((1.0 - $x) / (1.0 - $m))))"
  }

  /** IS gradient-space mean update: invGrad(avg(grad(x))) with
    * grad = -1/(x+eps), invGrad = -1/t — the harmonic mean of the
    * eps-shifted members (reference: df/kernels/ItakuraSaitoKernel).
    */
  private def isUpdateCte(eps: Double)(cN: String, aN: String): String =
    s"""$cN AS MATERIALIZED (SELECT cid, list(hm ORDER BY j) AS cv FROM (
       |  SELECT cid, j, -1.0 / avg(-1.0 / (pv[j] + $eps)) AS hm
       |  FROM $aN, unnest(range(1, len(pv)+1)) AS t(j)
       |  GROUP BY 1, 2) GROUP BY cid)""".stripMargin

  /** Logistic gradient-space mean update: sigmoid of the mean logit of
    * the clamped members (reference: df/kernels/LogisticLossKernel).
    */
  private def logisticUpdateCte(eps: Double)(cN: String, aN: String): String = {
    val x = logitClampSql("pv[j]", eps)
    s"""$cN AS MATERIALIZED (SELECT cid, list(sg ORDER BY j) AS cv FROM (
       |  SELECT cid, j, 1.0 / (1.0 + exp(-avg(ln($x / (1.0 - $x))))) AS sg
       |  FROM $aN, unnest(range(1, len(pv)+1)) AS t(j)
       |  GROUP BY 1, 2) GROUP BY cid)""".stripMargin
  }

  /** Flagship: k-means on the embeddings table, cluster profile output. */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s: SparkSession = spark
    val emb = t("/root/testdata/sf0.001", "embeddings")
    val model = new GeneralizedKMeans()
      .setK(10).setFeaturesCol("embedding").setSeed(42).setMaxIter(10)
      .fit(emb)
    model.transform(emb)
      .groupBy("prediction").agg(count(lit(1)).as("n"))
      .orderBy("prediction")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (Catalyst-native; oracle-checked) ----
    "q1_agg" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      t(dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n_rows"))
    },
    "q2_join_agg" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val o = t(dir, "orders")
      val c = t(dir, "customer")
      val n = t(dir, "nation")
      // broadcast the small dims; aggregate revenue per nation+segment
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 4).as("total"), count(lit(1)).as("n_orders"))
    },
    "q3_window" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
    },
    // ---- text analysis (expression-only; oracle-checked) ----
    "q_token_count" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      t(dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.tokenEstimate(col("text")).as("n_tokens_bpe"))
    },
    "q_text_quality" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      t(dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        TextOps.stopwordCount(col("text")).as("n_stop"),
        round(TextOps.meanWordLen(col("text")), 6).as("mean_word_len"),
        TextOps.qualityScore(col("text")).as("quality"))
    },
    // Gopher rule TABLE (Rae et al. 2021 A.1.1): named per-rule boolean
    // flags + conjunction keep, every threshold an integer
    // cross-multiplication — no ratio double exists on either side.
    "q_gopher_rules" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      TextOps.gopherRules(t(dir, "documents"), "doc_id", "text", minWords = 45L)
    },
    // Gopher-style repetition quality rules: duplicate-line fraction
    // (lines cut at ' table ' — the corpus has no newlines, so a
    // deterministic, SQL-replayable line structure is synthesized) and
    // duplicate word-n-gram fractions at n=3 and n=10.
    "q_repetition" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val lined = regexp_replace(col("text"), " table ", "\n")
      // both n-gram fractions from one tokenization pass (bit-identical
      // to the expression form, proven in VocabSpec)
      val fracs = TextOps.dupNgramFractions(Seq(3, 10))(col("text"))
      t(dir, "documents").select(
        col("doc_id"),
        TextOps.dupLineFraction(lined).as("dup_line_frac"),
        fracs.getItem(0).as("dup3_frac"),
        fracs.getItem(1).as("dup10_frac"))
    },
    // PII redaction audit: the corpus is synthetic (no real PII), so a
    // deterministic contact block derived from doc_id is appended and
    // must be found and redacted — counts per category plus the tail of
    // the redacted text (which carries all three tags) are the output.
    "q_pii_redact" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val withPii = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com at 10.0."), (col("doc_id") % 200).cast("string"),
        lit(".1 or call +1 (555) 010-"), (lit(1000) + col("doc_id") % 9000).cast("string"))
      val counts = TextOps.piiCounts(withPii)
      val red = TextOps.redactPii(withPii)
      // last-60-chars via explicit 1-based start: negative-start substring
      // semantics differ between engines, greatest(len-59, 1) does not
      t(dir, "documents").select(
        col("doc_id"),
        counts.getField("emails").cast("long").as("n_emails"),
        counts.getField("ips").cast("long").as("n_ips"),
        counts.getField("phones").cast("long").as("n_phones"),
        red.substr(greatest(length(red) - 59, lit(1)), lit(60)).as("redacted_tail"))
    },
    "q_lang_id" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      t(dir, "documents").select(
        col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"))
    },
    "q_doc_freq" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // top-100 vocabulary by document frequency (exact two-level agg)
      TextOps.vocabStats(t(dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_freq").desc, col("token"))
        .limit(100)
    },
    "q_tfidf" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // per-(doc, token) tf-idf over a bounded doc slice; df comes from
      // the FULL corpus (the slice only bounds the output rows)
      val docs = t(dir, "documents")
      TextOps.tfidf(docs, "doc_id", "text")
        .where(col("doc_id") < 50)
    },
    "q_pack_chunks" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // concat-and-chunk packing layout: 512-token chunks, 8 parallel groups
      TextOps.packDocuments(t(dir, "documents"), "doc_id", "text",
        capacity = 512, nGroups = 8)
    },
    // Sliding-window passage chunking (RAG indexing / long-doc prep):
    // 64-token windows advancing by 48 (16-token overlap); pure integer
    // layout arithmetic, string passages hash-compared verbatim.
    "q_chunk_passages" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      TextOps.chunkPassages(t(dir, "documents"), "doc_id", "text",
        windowTokens = 64, strideTokens = 48)
    },
    // Corpus boilerplate audit: top-100 word 5-grams by OCCURRENCE
    // count (two-phase agg + TakeOrdered; deterministic tie order).
    "q_frequent_ngrams" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      TextOps.frequentNgrams(t(dir, "documents"), "text", n = 5, k = 100)
    },
    // Cross-document duplicate n-gram coverage (Lee et al. 2021 signal,
    // n-gram approximation): per doc, the fraction of its distinct word
    // 5-grams appearing in >= 2 docs. String-keyed here for the oracle;
    // the hashed production path is proven equal in VocabSpec.
    "q_crossdoc_ngrams" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      TextOps.crossDocNgramStats(t(dir, "documents"), "doc_id", "text",
        n = 5, minDf = 2, hashNgrams = false)
    },
    // Substring-level exact dedup (Lee et al. 2022 ExactSubstr, token-
    // window formulation): duplicated >=8-token spans merged and CUT from
    // the text; clean text pinned by portable md5. String windows here so
    // the oracle replays them; hashed==string proven in DedupSpec.
    "q_substring_dedup" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.substringDedup(t(dir, "documents"), "doc_id", "text",
          minLen = 8, minCount = 2, hashWindows = false)
        .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
          col("dup_frac"), md5(col("clean_text")).as("clean_md5"))
    },
    // Cross-document boilerplate removal (RefinedWeb line-dedup
    // analogue, token-window form): 3-token windows in >= 4 distinct
    // docs are boilerplate; maximal covered spans cut from every doc.
    // String windows here so the oracle replays them; hashed==string
    // proven in DedupSpec.
    "q_boilerplate_cut" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.boilerplateCut(t(dir, "documents"), "doc_id", "text",
          n = 3, minDf = 4, hashWindows = false)
        .select(col("doc_id"), col("n_tokens"), col("boiler_tokens"),
          col("boiler_frac"), md5(col("clean_text")).as("clean_md5"))
    },
    "q_split_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // stable-hash 80/10/10 split on the portable md5 house uniform —
      // the per-row assignment (not just the proportions) replays in
      // DuckDB, so the counts hash-check end to end
      TextOps.splitByHash(t(dir, "documents"), "doc_id",
          Seq("train", "val", "test"), Seq(0.8, 0.1, 0.1))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
    },
    // ---- deterministic sampling / domain mixing (all oracle-checked:
    // the keyed md5 uniform is engine-portable by construction) ----
    "q_sample_hash" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Sampling.hashSample(t(dir, "documents"), "doc_id", 0.25, "r9")
        .select(col("doc_id"),
          (round(graft.ops.Sampling.uniform(col("doc_id"), "r9"), 6) + lit(0.0)).as("u"))
    },
    "q_sample_strata" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Sampling.sampleByStrata(t(dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25), defaultRate = 0.1, seed = "r9s")
        .select(col("doc_id"), col("lang"))
    },
    // Efraimidis–Spirakis weighted top-n (n_chars as the weight); the
    // output omits the u^(1/w) score itself — pow's last ulp is libm-
    // dependent — but the SELECTION it induces is compared exactly
    "q_sample_weighted" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Sampling.weightedSampleN(t(dir, "documents"), "doc_id", "n_chars",
          n = 50, seed = "r9w")
        .select(col("doc_id"), col("n_chars"))
    },
    // Quality-ranked per-domain selection: the 12 HIGHEST-quality docs
    // per source by the integer micro-unit score (rule-1 ordering), rank
    // included in the contract.
    "q_top_per_domain" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val scored = t(dir, "documents").select(col("doc_id"), col("source"),
        TextOps.qualityScoreMicro(col("text")).as("q_micro"))
      graft.ops.Sampling.topPerDomain(scored, "source", "doc_id", "q_micro", 12L)
        .select(col("doc_id"), col("source"), col("q_micro"),
          col("rk").cast("long").as("rk"))
    },
    // Per-domain document cap (C4/Dolma-style governance): keep <= 15
    // docs per source in seeded portable-hash order; the keep rank is
    // part of the contract, so the whole per-domain ordering replays.
    "q_domain_cap" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Sampling.capPerDomain(t(dir, "documents"), "source", "doc_id",
          maxDocs = 15L, seed = "r11cap")
        .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
    },
    "q_mixture_plan" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Sampling.mixturePlan(t(dir, "documents"), "lang",
          TextOps.tokenCount(col("text")).cast("long"),
          Map("en" -> 0.5, "zh" -> 0.3, "de" -> 0.2))
        .select(col("domain"), col("available"),
          (round(col("target_weight"), 6) + lit(0.0)).as("target_weight"),
          (round(col("rate"), 6) + lit(0.0)).as("rate"),
          (round(col("planned"), 6) + lit(0.0)).as("planned"))
    },
    // Temperature-flattened mixture plan (XLM-R alpha-sampling, tau=2):
    // flattened target shares from the corpus's own token masses, then
    // the max-retention realization — the pow/normalize/min-scale chain
    // replays in SQL with 6dp-rounded outputs.
    "q_temperature_plan" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Sampling.temperaturePlan(t(dir, "documents"), "lang",
          TextOps.tokenCount(col("text")).cast("long"), temperature = 2.0)
        .select(col("domain"), col("available"),
          (round(col("target_weight"), 6) + lit(0.0)).as("target_weight"),
          (round(col("rate"), 6) + lit(0.0)).as("rate"),
          (round(col("planned"), 6) + lit(0.0)).as("planned"))
    },
    // Quality enters the contract as integer micro-units computed in PURE
    // 64-bit integer arithmetic (counts, IntegralDivide, least/greatest —
    // see TextOps.qualityScoreMicro), so no double EXISTS on either side
    // of the window ORDER BY or the canon hash: both the r9 round() form
    // and the r10 floor(x*1e6+0.5) form drifted across DuckDB versions
    // at boundary values.
    "q_budget_select" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Sampling.budgetSelect(t(dir, "documents"), "lang", "doc_id",
        TextOps.qualityScoreMicro(col("text")), TextOps.tokenCount(col("text")), 2000L)
    },
    // Exact top-30%-by-quality selection WITHOUT a global sort (score
    // histogram -> boundary score -> boundary fill by lowest id); the
    // oracle is the single-window form the operator is contractually
    // equal to. Integer score — rule-1 compliant ordering.
    "q_select_top_quality" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val scored = t(dir, "documents").select(col("doc_id"),
        TextOps.qualityScoreMicro(col("text")).as("quality_micro"))
      graft.ops.Sampling.selectTopByScore(scored, "doc_id", "quality_micro", 0.3)
    },
    // DSIR (Xie et al. 2023): importance weights of every doc under a
    // target-domain unigram LM (target = the corpus's German slice) vs
    // the raw-corpus LM, then Gumbel top-k resampling. logw is rounded
    // 6dp post-aggregation; the Gumbel score is omitted from the select
    // output (libm ulp) — the SELECTION it induces is compared exactly.
    "q_dsir_weights" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.ops.Sampling.importanceWeights(
        docs, docs.where(col("lang") === "de"), "doc_id", "text")
    },
    "q_dsir_select" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      val w = graft.ops.Sampling.importanceWeights(
        docs, docs.where(col("lang") === "de"), "doc_id", "text")
      graft.ops.Sampling.dsirSelect(w, "doc_id", n = 50, seed = "r9d")
        .select(col("doc_id"), col("n_tokens"), col("logw"))
    },
    // Multinomial NB domain classifier trained on the doc_id % 7 slice
    // (label = lang), applied to the full corpus — the pipeline's
    // classifier-based filtering stage, train+score as pure dataflow
    "q_nb_classify" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.ops.Classify.nbClassify(
        docs, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", "lang")
    },
    // Trainable LR quality classifier (fastText/GPT-3-filter analogue):
    // 3 full-batch GD steps on hashed bag-of-words (B=64), label =
    // "is English". The ENTIRE training chain — features, margins,
    // sigmoid residuals, gradients, weight updates — replays in SQL.
    "q_logreg_fit" -> ((s, dir) => logregWeights(s, dir)),
    // The trained model applied back to the corpus: per-doc sigmoid
    // score under the q_logreg_fit weights (the selection signal that
    // feeds selectTopByScore / bucketByScore). The fit is memoized per
    // sfDir (driver-side B-row weight table), so this query's bench
    // time measures the SCORING pass — q_logreg_fit carries the
    // training cost exactly once.
    "q_logreg_score" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Classify.logisticScore(
        t(dir, "documents"), "doc_id", "text", logregWeights(s, dir), buckets = 64)
    },
    // The PRODUCTION feature-hashed path (bounded B×k model at any corpus
    // scale): same train/score composition, tokens bucketed by the
    // portable md5 house hash — the full hashed pipeline hash-checks
    // against DuckDB, not just the string-vocab sibling
    // Classifier calibration: exact decile rank buckets of the integer
    // quality score (no global sort) vs the lang=en label — per-bucket
    // positive rate in integer micro. Monotone-falling rates = the
    // score actually ranks the label.
    "q_calibration" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val scored = t(dir, "documents").select(col("doc_id"),
        TextOps.qualityScoreMicro(col("text")).as("q_micro"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
      graft.ops.Classify.calibration(scored, "doc_id", "q_micro", "is_en", nBuckets = 10)
    },
    "q_nb_classify_hashed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.ops.Classify.nbClassify(
        docs, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", "lang",
        hashBuckets = Some(4096))
    },
    "q_shuffle_order" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Sampling.deterministicShuffle(t(dir, "documents"), "doc_id", "r9o")
        .limit(200)
        .select(col("doc_id"), (round(col("shuffle_key"), 6) + lit(0.0)).as("u"))
    },
    // ---- dedup (oracle-checked where hash-free) ----
    "q_dedup_exact" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.exact(t(dir, "documents"), "doc_id", "text")
        .select(col("keeper_id"), col("dup_count"))
    },
    // Canonicalized exact dedup: UPPERCASED+punctuated variants are
    // injected, then normalizeText collapses them onto their originals —
    // min-id keeper per canonical form, the normalize+dedup composition
    // replayed end to end.
    "q_dedup_canonical" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      val variants = docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(upper(col("text")), lit("!!")).as("text"))
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(variants)
        .withColumn("canon", graft.ops.TextOps.normalizeText(col("text")))
      Dedup.exactKeepers(corpus, "doc_id", "canon")
        .select(col("doc_id"), md5(col("canon")).as("canon_md5"))
    },
    "q_ngram_jaccard" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      // candidate pairs: consecutive ids (deterministic, O(n) pairs)
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccard(pairs, docs, "doc_id", "text", 3)
    },
    "q_minhash_pairs" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // 64 hashes / 32 bands of 2 => P(miss | jaccard>=0.7) ~ 2e-10, so the
      // LSH + exact-confirm output equals the brute-force answer and is
      // oracle-checked against a DuckDB full self-join.
      Dedup.minhashDedup(t(dir, "documents"), "doc_id", "text", threshold = 0.7)
    },
    // EXACT-recall Jaccard self-join (prefix filtering, AllPairs/PPJoin):
    // the oracle is a deliberately INDEPENDENT brute-force all-pairs
    // reconstruction, so the hash check verifies the filter chain's
    // no-missed-pair guarantee end to end, not just the arithmetic.
    // Prefix-truncated variants (60% and 25% of tokens for doc_id%13==0)
    // populate the mid-Jaccard band so the 0.50 threshold and the length
    // filter genuinely discriminate (J≈0.6 in, J≈0.25 out); null source
    // text yields null variant text (rule 10) and no pair membership.
    "q_jaccard_join" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs
        .unionByName(prefixTruncSlice(docs, 2000000L, 3L, 4L, 5L)) // first ceil(3n/5) tokens
        .unionByName(prefixTruncSlice(docs, 4000000L, 1L, 3L, 4L)) // first ceil(n/4) tokens
      graft.ops.SetSimJoin.jaccardJoin(corpus, "doc_id", "text",
        thresholdPct = 50, shingleSize = 3)
    },
    // Cross-corpus exact-recall Jaccard join: snapshot A (the %13 slice,
    // full text) audited against snapshot B (the same slice truncated to
    // its first ceil(3n/5) tokens, ids offset so B never collides with
    // its own %17 slice, plus the %17 slice verbatim). Every A×B pair at
    // Jaccard >= 0.5 must surface: truncations at ~0.6, docs present in
    // both snapshots at 1.0. The oracle is an INDEPENDENT brute-force
    // cross join, so the hash check proves the shared-prefix-order
    // no-missed-pair guarantee across corpora end to end.
    "q_jaccard_join_ab" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents").select(col("doc_id"), col("text"))
      val left = docs.where(col("doc_id") % 13 === 0)
      val right = prefixTruncSlice(docs, 2000000L, 3L, 4L, 5L)
        .unionByName(docs.where(col("doc_id") % 17 === 0))
      graft.ops.SetSimJoin.jaccardJoinAB(left, right, "doc_id", "text",
        thresholdPct = 50, shingleSize = 3)
    },
    // Count-min-sketch heavy hitters over word-bigram OCCURRENCES:
    // depth 4 × width 2048 md5 cells, threshold 40. The md5 bucket
    // scheme replays bit-for-bit in SQL, so the one-sided estimates
    // (est ≥ true count, no false negatives) hash-check exactly — at
    // these parameters the output holds all 54 true ≥40 bigrams plus a
    // small collision-added tail, the sketch behavior under test.
    // Grouped CMS: one sketch PER LANG in one aggregation (the grouped
    // twin of q_cms_heavy, completing the grouped forms across the
    // sketch family), probed per (lang, bigram) pair against ITS lang's
    // cells via a null-safe join. Same md5 cell replay; per-lang
    // threshold 15 keeps true heavy bigrams plus the sketch's
    // deterministic collision tail.
    "q_cms_heavy_grouped" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val items = t(dir, "documents")
        .select(col("lang"), explode(
          graft.ops.TextOps.wordShingleOccurrences(col("text"), 2)).as("k"))
        .where(col("k") =!= "")
      val sk = graft.ops.Sketches.buildGrouped(
        items, "k", Seq("lang"), depth = 4, width = 2048, seed = "cms16g")
      graft.ops.Sketches.estimateGrouped(
          sk, items, "k", Seq("lang"), depth = 4, width = 2048, seed = "cms16g")
        .where(col("est") >= 15)
    },
    "q_cms_heavy" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val items = t(dir, "documents")
        .select(explode(
          graft.ops.TextOps.wordShingleOccurrences(col("text"), 2)).as("k"))
        .where(col("k") =!= "")
      graft.ops.Sketches.heavyHitters(items, "k",
        depth = 4, width = 2048, seed = "cms13", threshold = 40L)
    },
    // Two-pass EXACT heavy hitters: ONE fused Misra-Gries scan (emits
    // candidates AND N; m re-verified against the MG bound and re-run
    // if the initial-counter guess undershot — r17 fused the r16-era
    // count + MG + CMS-build scans down to this), then exact counts on
    // the candidates only. The result is partitioning-independent —
    // exactly {k : count >= 40} with true counts — so the oracle is a
    // trivial GROUP BY ... HAVING, which is the point: the candidate
    // machinery earns its keep by REPRODUCING the exact answer without
    // ever shuffling the key space. Returns persisted (topKExact
    // discipline); the harness's per-query clearCache releases it.
    "q_cms_heavy_exact" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val items = t(dir, "documents")
        .select(explode(
          graft.ops.TextOps.wordShingleOccurrences(col("text"), 2)).as("k"))
        .where(col("k") =!= "")
      graft.ops.Sketches.heavyHittersExact(items, "k",
        depth = 4, width = 2048, seed = "cms13", threshold = 40L)
    },
    // Exact top-100 bigrams WITHOUT a key-space sort: Misra-Gries
    // candidates, exact counts on candidates only, completeness VERIFIED
    // (c_k > N/(m+1)) before returning — so the trivial ORDER BY oracle
    // checks the whole verify-or-refuse machinery. Deterministic
    // (cnt desc, key asc) rank; binary string collation on both engines.
    // topKExact hands back a persisted frame the caller owns; here the
    // release is the harness's per-query spark.catalog.clearCache()
    // (Verify.scala / Bench.scala), the same isolation that releases the
    // dedup ops' persisted pair sets.
    "q_cms_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val items = t(dir, "documents")
        .select(explode(
          graft.ops.TextOps.wordShingleOccurrences(col("text"), 2)).as("k"))
        .where(col("k") =!= "")
      val out = graft.ops.Sketches.topKExact(items, "k", k = 100)
        .select(col("k"), col("cnt"), col("rank").cast("long").as("rank"))
      out
    },
    // HyperLogLog register frame over word-bigram OCCURRENCES: p=9
    // (512 registers), md5 bucket/rank hashes — the registers ARE the
    // sketch (mergeable, persistable), and they replay bit-for-bit in
    // SQL: bucket = first-8-hex md5 mod 512, rank = 1 + leading zeros
    // of the 52-bit (13-hex) md5 value via the length(bin(w)) identity.
    // Pure integer/string arithmetic end to end (rule 1); the float
    // ESTIMATE never enters the contract (accuracy is spec-pinned in
    // HllSpec against exact distinct counts). Null keys skipped (the
    // '' filter is the shingle-policy filter shared with q_cms_heavy).
    "q_hll_registers" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val items = t(dir, "documents")
        .select(explode(
          graft.ops.TextOps.wordShingleOccurrences(col("text"), 2)).as("k"))
        .where(col("k") =!= "")
      graft.ops.Hll.build(items, "k", p = 9, seed = "hll19")
    },
    // HLL merge semantics end to end: build over the even-id and odd-id
    // document slices SEPARATELY, max-merge the register frames — the
    // result must equal the one-shot build over all non-null-id docs
    // (the oracle), which is exactly the per-day/per-shard composition
    // a 100-TB pipeline relies on. Null doc_id is in neither slice and
    // not in the oracle's source (explicit rule-10 policy).
    "q_hll_merge" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      def bigrams(docs: org.apache.spark.sql.DataFrame) = docs
        .select(explode(
          graft.ops.TextOps.wordShingleOccurrences(col("text"), 2)).as("k"))
        .where(col("k") =!= "")
      val docs = t(dir, "documents")
      val even = graft.ops.Hll.build(
        bigrams(docs.where(col("doc_id") % 2 === 0)), "k", p = 9, seed = "hll19")
      val odd = graft.ops.Hll.build(
        bigrams(docs.where(!(col("doc_id") % 2 === 0))), "k", p = 9, seed = "hll19")
      graft.ops.Hll.merge(even, odd)
    },
    // Rank-sketch summary (the third sketch leg, after CMS cells and
    // HLL registers): the s=128 rows of documents with the SMALLEST
    // 60-bit md5 rank key rk = md5("qsk20:" || doc_id), carrying
    // n_chars — a deterministic bottom-k order-statistics sample that
    // replays bit-for-bit in SQL (rk is pure integer/string arithmetic,
    // rule 1; the float quantile ESTIMATES never enter the contract —
    // accuracy is spec-pinned in QuantileSketchSpec against
    // Quantiles.exactPct ground truth). Null doc_id or null n_chars
    // rows carry no sample identity / no rank on either side (rule 10).
    "q_qsketch_summary" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.QuantileSketch.build(t(dir, "documents"),
        "doc_id", "n_chars", s = 128, seed = "qsk20").summary
    },
    // Rank-sketch merge semantics end to end: build over the even-id
    // and odd-id document slices SEPARATELY (each slice's bottom-128 is
    // cut from ~250 rows, so both cuts are exercised), merge the
    // handles — the merged summary must equal the one-shot build over
    // all non-null-id docs (the oracle), the per-day/per-shard
    // composition the sketch exists for. Same q_hll_merge pattern;
    // null doc_id is in neither slice and not in the oracle's source.
    "q_qsketch_merge" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      val even = graft.ops.QuantileSketch.build(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "n_chars", 128, "qsk20")
      val odd = graft.ops.QuantileSketch.build(
        docs.where(!(col("doc_id") % 2 === 0)), "doc_id", "n_chars", 128, "qsk20")
      even.merge(odd).summary
    },
    // GROUPED rank sketch end to end: per-language bottom-32 summaries
    // (map-side WindowGroupLimit cut — the stratified persist-and-merge
    // path) and the per-group sample quantiles read off them. The
    // whole answer is pure integer arithmetic over md5 rank keys, so
    // the oracle replays build + cut + selection bit-for-bit (the
    // grouped twin of q_qsketch_summary). Null lang is a retained
    // group; null doc_id / null n_chars carry no identity/rank
    // (rule 10).
    "q_qsketch_grouped" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.GroupedQuantileSketch.buildGrouped(t(dir, "documents"),
        Seq("lang"), "doc_id", "n_chars", s = 32, seed = "gq20")
        .quantiles(Seq(10, 50, 90))
    },
    // The grouped rank sketch's DOUBLE twin (per-event-type value
    // percentiles off the per-group sample): rank keys and sample-rank
    // algebra are the same integers as q_qsketch_grouped; the value
    // rides as stored doubles (bit-pattern ordering on both sides, the
    // q_quantiles_by_group_double precedent), NaN/NULL carry no rank,
    // -0.0 normalized, round(x,6)-emitted output-only (rules 1 + 10).
    "q_qsketch_grouped_double" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.GroupedQuantileSketch.buildGroupedDouble(t(dir, "events"),
        Seq("event_type"), "event_id", "value", s = 32, seed = "gqd20")
        .quantiles(Seq(10, 50, 90))
        .select(col("event_type"), col("pct"), col("k"),
          round(col("value"), 6).as("value"))
    },
    // Per-language distinct-bigram cardinality estimates: the grouped
    // HLL path (register state m-bounded PER GROUP, one aggregation for
    // all groups), promoted from rows-only to a DIRECT hash oracle
    // (r17 verdict #2) via the estimator's sufficient statistics:
    // touched and sumscaled (Σ 2^(53-maxrank)) are exact integers —
    // at p=9 sumscaled ≤ 512·2^52 = 2^61 fits BIGINT — and the estimate
    // is a fixed function of them, emitted round-6 output-only per
    // rule 1 (the oracle replays the identical division/ln chain).
    // Null lang is a retained group; null text explodes to nothing on
    // both sides (rule 10).
    "q_hll_grouped" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val items = t(dir, "documents")
        .select(col("lang"), explode(
          graft.ops.TextOps.wordShingleOccurrences(col("text"), 2)).as("k"))
        .where(col("k") =!= "")
      val regs = graft.ops.Hll.buildGrouped(items, Seq("lang"), "k",
        p = 9, seed = "hll19")
      graft.ops.Hll.estimateGroupedStats(regs, Seq("lang"), p = 9)
        .select(col("lang"), col("touched"),
          col("sumscaled").cast("long").as("sumscaled"),
          (round(col("est"), 6) + lit(0.0)).as("est"))
    },
    // Per-language bigram-vocabulary OVERLAP between the even-id and
    // odd-id document slices: the grouped HLL overlap path
    // (inclusion–exclusion over two grouped register frames, groups
    // never collected), promoted from rows-only to a DIRECT hash oracle
    // (r17 verdict #2) via the three sketches' sufficient statistics —
    // the A/B/union touched counts and exact scaled register sums are
    // pure integers (BIGINT-safe at p=9); the inclusion–exclusion
    // estimate is a fixed function of them, round-6 output-only per
    // rule 1. Null lang is a retained group; null doc_id is in neither
    // slice (rule 10).
    "q_hll_overlap_grouped" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      def bigramsByLang(docs: org.apache.spark.sql.DataFrame) = docs
        .select(col("lang"), explode(
          graft.ops.TextOps.wordShingleOccurrences(col("text"), 2)).as("k"))
        .where(col("k") =!= "")
      val docs = t(dir, "documents")
      val even = graft.ops.Hll.buildGrouped(
        bigramsByLang(docs.where(col("doc_id") % 2 === 0)), Seq("lang"), "k",
        p = 9, seed = "hll19")
      val odd = graft.ops.Hll.buildGrouped(
        bigramsByLang(docs.where(!(col("doc_id") % 2 === 0))), Seq("lang"), "k",
        p = 9, seed = "hll19")
      graft.ops.Hll.intersectEstimateGroupedStats(even, odd, Seq("lang"), p = 9)
        .select(col("lang"), col("t_a"), col("t_b"), col("t_u"),
          col("s_a").cast("long").as("s_a"),
          col("s_b").cast("long").as("s_b"),
          col("s_u").cast("long").as("s_u"),
          (round(col("est"), 6) + lit(0.0)).as("est"))
    },
    // EXACT percentiles of n_chars by iterative histogram refinement —
    // never a global sort: pass 0 (count/min/max) + radix-histogram
    // passes whose shuffles carry ≤ 8192 count rows per interval. The
    // oracle is the definitionally-direct rank window (row_number =
    // ceil(pct·n/100)), so the hash proves the refinement machinery
    // lands on the exact order statistic. Pure integer arithmetic:
    // k = (pct·n + 99) div 100, values are BIGINT. Null n_chars rows
    // are excluded on both sides (rule 10).
    "q_quantiles_exact" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Quantiles.exactPct(t(dir, "documents"), "n_chars",
        Seq(1, 5, 10, 25, 50, 75, 90, 95, 99))
    },
    // WEIGHTED exact percentiles: n_chars weighted by itself — "the doc
    // length at which pct% of the CHARACTER mass lives" (char-weighted
    // median etc.). Same refinement machinery with weight-sum
    // histograms; oracle is the cumulative-weight window definition.
    // Integer arithmetic only; window sum CAST per rule 1's HUGEINT
    // ban; null n_chars rows carry no mass on either side (rule 10).
    "q_quantiles_weighted" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Quantiles.exactPctWeighted(t(dir, "documents"),
        "n_chars", "n_chars", Seq(1, 10, 25, 50, 75, 90, 99))
    },
    // Exact percentiles of a DOUBLE column (events.value) via the
    // sortable-bits transform: the SELECTION is decided by ordering
    // STORED doubles (identical bit patterns in both engines — no float
    // arithmetic enters the contract), and the selected element is
    // round(x,6)-emitted like every float output column (rule 1). NULL
    // and NaN values carry no rank on either side; −0.0 is normalized.
    "q_quantiles_double" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Quantiles.exactPctDouble(t(dir, "events"), "value",
          Seq(1, 25, 50, 75, 99))
        .select(col("pct"), col("k"), round(col("value"), 6).as("value"))
    },
    // Per-group exact percentiles (the rank-window sibling): doc-length
    // percentiles PER LANGUAGE. One window shuffle per group set; the
    // pct-match predicate is pure integer algebra on both sides. Null
    // lang is a retained group; null n_chars carries no rank (rule 10).
    "q_quantiles_by_group" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Quantiles.exactPctByGroup(t(dir, "documents"), Seq("lang"),
        "n_chars", Seq(10, 50, 90))
    },
    // The composition the quantile operator exists FOR: drop documents
    // outside the exact [5th, 95th] length-percentile band — cutoffs by
    // refinement, then one pushed-down filter. Oracle recomputes both
    // cutoffs by the rank-window definition. Null n_chars rows are
    // dropped on both sides (no rank — rule 10).
    "q_quantile_filter" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Quantiles.percentileFilter(t(dir, "documents"), "n_chars", 5, 95)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    },
    // Per-group exact percentiles of a DOUBLE column (events.value per
    // event_type): the double twin of q_quantiles_by_group. The window
    // ORDER BY ranks STORED doubles (identical bit patterns in both
    // engines — the q_quantiles_double precedent), the pct-match
    // predicate is pure integer algebra, and the value is
    // round(x,6)-emitted output-only (rule 1). NULL/NaN values carry no
    // rank on either side; −0.0 is normalized; null event_type is a
    // retained group (rule 10).
    "q_quantiles_by_group_double" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Quantiles.exactPctByGroupDouble(t(dir, "events"),
          Seq("event_type"), "value", Seq(10, 50, 90))
        .select(col("event_type"), col("pct"), col("k"),
          round(col("value"), 6).as("value"))
    },
    // The float-score curation cut the double quantile surface exists
    // FOR: drop events outside the exact [5th, 95th] value-percentile
    // band. Cutoffs come from the sortable-bits selection (bit-exact
    // elements of the column, inverted driver-side); the band predicate
    // is a plain pushed-down double comparison against those stored
    // values — comparing identical bit patterns, so the surviving row
    // SET is engine-exact even though values are floats; the emitted
    // value column is round(x,6) output-only (rule 1). NULL and NaN
    // rows are dropped on both sides (no rank — rule 10).
    "q_quantile_filter_double" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Quantiles.percentileFilterDouble(t(dir, "events"), "value", 5, 95)
        .select(col("event_id"),
          round(col("value") + lit(0.0), 6).as("value"))
    },
    // Intra-document chunk dedup (keep-first over non-overlapping
    // 2-token chunks): one tight per-row UDF pass, zero shuffles;
    // null text → null clean_text with zero counts (rule 10).
    "q_chunk_dedup" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.TextOps.dedupChunksWithin(t(dir, "documents"),
          "doc_id", "text", chunkTokens = 2)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_chunks"), col("n_kept"), col("n_removed"))
    },
    // Corpus drift (G² frequency profiling, Rayson & Garside 2000)
    // between the 'en' slice and everything else: the llr float is
    // output-only (round 6); the row set is decided by the integer
    // minCount filter and dir by integer cross-multiplication. Explicit
    // null-lang policy: IS DISTINCT FROM on both sides, so null-lang
    // docs land in corpus b instead of being dropped by `!=` (rule 10).
    "q_corpus_drift" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.ops.TextOps.corpusDrift(
        docs.where(col("lang") === "en"),
        docs.where(not(col("lang") <=> "en")),
        "text", minCount = 5L)
    },
    // Incremental ingest dedup: batch (doc_id % 7 == 0) deduped against
    // the already-ingested rest WITHOUT corpus-sized work — store probe +
    // exact confirm on matched ids only. Threshold 0.7 makes LSH recall
    // statistically exact (P(miss) ~ 2e-10), so the verdicts equal the
    // DuckDB brute-force batch-vs-all replay; jaccard carried as pure
    // integer micro-units.
    "q_incremental_dedup" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      IncrementalDedup.ingestVerdict(
        docs.where(col("doc_id") % 7 =!= 0),
        docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text", threshold = 0.7)
    },
    // Chained two-batch ingest: exactly the per-micro-batch cycle
    // IncrementalDedup.ingestStream runs (verdict vs admitted-so-far,
    // then admit novel docs), unrolled for two batches so the WHOLE
    // chain — including the fact that batch 2 compares against
    // ADMITTED batch-1 docs only, not dropped duplicates — hash-checks
    // against SQL.
    "q_ingest_chain" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents").select(col("doc_id"), col("text"))
      val b1 = docs.where(col("doc_id") % 2 === 0)
      val b2 = docs.where(col("doc_id") % 2 =!= 0)
      val empty = docs.where(lit(false))
      val v1 = graft.ops.IncrementalDedup.ingestVerdict(empty, b1, "doc_id", "text",
        threshold = 0.7)
      val admitted1 = b1.join(
        v1.where(col("dup_of").isNull).select(col("doc_id")), Seq("doc_id"))
      val v2 = graft.ops.IncrementalDedup.ingestVerdict(admitted1, b2, "doc_id", "text",
        threshold = 0.7)
      v1.withColumn("batch", lit(0L)).unionByName(v2.withColumn("batch", lit(1L)))
    },
    // Leakage-safe split: near-dup groups (same LSH+confirm+components
    // machinery as q_neardup_components) share one split via the
    // portable md5 hash of the group representative.
    "q_leakage_split" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.leakageSafeSplit(t(dir, "documents"), "doc_id", "text",
        Seq("train", "val", "test"), Seq(0.8, 0.1, 0.1))
    },
    "q_neardup_components" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // pairwise minhash candidates -> transitive dedup groups via
      // distributed min-label propagation (keeper = min id per component)
      val pairs = Dedup.minhashDedup(t(dir, "documents"), "doc_id", "text", threshold = 0.7)
      Dedup.nearDupGroups(pairs, "id_a", "id_b")
    },
    // Benchmark decontamination: flag training docs sharing any word
    // 5-gram with the (deterministic) eval subset doc_id % 50 == 0. The
    // eval shingle set broadcasts; the training side never shuffles.
    "q_decontaminate" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      // string-keyed join here: the production default (hashShingles)
      // joins on xxhash64, which DuckDB can't replay; CurateSpec proves
      // the hashed path equals this one row-for-row
      graft.ops.Curate.decontaminate(
        docs.where(col("doc_id") % 50 =!= 0), "doc_id", "text",
        docs.where(col("doc_id") % 50 === 0), "text", n = 5,
        hashShingles = false)
    },
    // Bloom-filter decontamination: same contract probed against the
    // distributed-built Bloom image of the eval shingles. Bit positions
    // are md5-derived (engine-portable), so DuckDB rebuilds the EXACT
    // filter — false positives included — and the hash check covers the
    // whole build+probe path end to end.
    "q_bloom_decontaminate" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.ops.Curate.decontaminateBloom(
        docs.where(col("doc_id") % 50 =!= 0), "doc_id", "text",
        docs.where(col("doc_id") % 50 === 0), "text", n = 5,
        bitsPerShingle = 10, numHashes = 7)
    },
    // Bloom membership filter as a first-class word frame (the fourth
    // sketch leg: membership, after CMS cells / HLL registers / the
    // rank-sketch summary): the eval slice's 5-shingles double-hashed
    // (Kirsch-Mitzenmacher, one md5 per key) into a fixed 65536-bit
    // space, packed words exposed as nonnegative 32-bit halves (lo/hi)
    // because portable integer SQL cannot construct the sign bit
    // (1 << 63 overflows ANSI engines; rule-1 pure-integer contract
    // preserved by the split). The words ARE the sketch - mergeable,
    // persistable - and DuckDB rebuilds them bit for bit. Null text
    // shingles to no keys on either side (rule 10; the shared
    // shingle-policy alignment documented at shingleOccurrencesSql).
    "q_bloom_bits" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val ev = t(dir, "documents").where(col("doc_id") % 50 === 0)
        .select(explode(
          graft.ops.TextOps.wordShingles(col("text"), 5)).as("sh"))
      graft.ops.Bloom.wordHalves(
        graft.ops.Bloom.build(ev, "sh", numBits = 65536, numHashes = 7))
    },
    // Bloom merge semantics end to end: build over the even-id and
    // odd-id halves of the eval slice SEPARATELY, OR-merge the word
    // frames - the result must equal the one-shot build (the oracle),
    // which is the per-day/per-shard filter composition a persisted
    // membership artifact exists for. Null doc_id is in neither slice
    // and not in the oracle's source (explicit rule-10 policy, the
    // q_hll_merge pattern).
    "q_bloom_merge" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      def sh(docs: org.apache.spark.sql.DataFrame) = docs
        .select(explode(
          graft.ops.TextOps.wordShingles(col("text"), 5)).as("sh"))
      val ev = t(dir, "documents").where(col("doc_id") % 50 === 0)
      val even = graft.ops.Bloom.build(
        sh(ev.where(col("doc_id") % 2 === 0)), "sh", 65536, 7)
      val odd = graft.ops.Bloom.build(
        sh(ev.where(!(col("doc_id") % 2 === 0))), "sh", 65536, 7)
      graft.ops.Bloom.wordHalves(graft.ops.Bloom.merge(even, odd))
    },
    // Membership verdicts INCLUDING the filter's false positives: a
    // deliberately tight 4096-bit / k=3 filter over the eval shingles,
    // probed with every distinct 5-shingle in the corpus (439 members,
    // ~23.6k non-members at sf0.01, ~2% deterministic false positives)
    // - the FP set is part of the contract because the positions are
    // engine-replayable, so the hash check proves probe semantics on
    // hits, misses, AND collisions. Verdicts are per DISTINCT non-null
    // key (rule 10: null text shingles to no keys on either side).
    "q_bloom_probe" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      def sh(d: org.apache.spark.sql.DataFrame) = d
        .select(explode(
          graft.ops.TextOps.wordShingles(col("text"), 5)).as("sh"))
      val filt = graft.ops.Bloom.build(
        sh(docs.where(col("doc_id") % 50 === 0)), "sh", 4096, 3)
      graft.ops.Bloom.mightContain(filt, sh(docs), "sh", 4096, 3)
    },
    // Per-group probe: each (lang, shingle) pair against ITS lang's
    // eval filter in one null-safe join (a NULL-lang doc probes the
    // NULL-lang filter - Spark <=> == DuckDB IS NOT DISTINCT FROM,
    // rule 10; a lang with no filter is contained=false). Tight
    // 4096-bit geometry so per-lang false positives are exercised and
    // replayed.
    "q_bloom_probe_grouped" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      def langSh(d: org.apache.spark.sql.DataFrame) = d
        .select(col("lang"), explode(
          graft.ops.TextOps.wordShingles(col("text"), 5)).as("sh"))
      val filt = graft.ops.Bloom.buildGrouped(
        langSh(docs.where(col("doc_id") % 50 === 0)), "sh", Seq("lang"), 4096, 3)
      graft.ops.Bloom.mightContainGrouped(
        filt, langSh(docs), "sh", Seq("lang"), 4096, 3)
    },
    // Per-event-time-window filter build, batch mode (the same
    // declarative plan the streaming path runs under a watermark):
    // 1-day tumbling windows over events.ts, user_id keys, 4096-bit
    // filters per day. Tumbling windows align to the EPOCH (rule 13c),
    // so the oracle replays the bounds as ms - ms % 86400000 - pure
    // integer arithmetic, ts read adaptively on both sides (rule 3:
    // eventTsMs / epoch_ns). Null ts or user_id carry no bits (rule 10).
    "q_bloom_windowed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val evRaw = t(dir, "events")
      val ev = evRaw.select(
        timestamp_millis(eventTsMs(evRaw)).as("ts"),
        col("user_id").cast("string").as("k"))
      val ww = graft.streaming.StreamBloom.windowedWords(
        ev, "ts", "k", "1 day", "1 hour", 4096L, 3)
      // the riding hash-mode flag (r18 verdict #2) is rebuild metadata,
      // not part of this gate's word contract
      graft.ops.Bloom.wordHalves(ww.drop("portable"),
        Seq("windowStartMs", "windowEndMs"))
    },
    // Per-event-time-window HLL register build, batch mode (the same
    // declarative plan the streaming path runs under a watermark) — the
    // HLL twin of q_bloom_windowed, closing the r16 evidence gap: 1-day
    // epoch-aligned tumbling windows over events.ts, user_id keys, p=9
    // registers per day. The oracle replays the window bounds as pure
    // ms arithmetic (rule 13c) and the registers with the shared
    // bucket/rank md5 scheme (rule 1); ts read adaptively on both sides
    // (rule 3). Null ts or user_id carry no register (rule 10).
    "q_hll_windowed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val evRaw = t(dir, "events")
      val ev = evRaw.select(
        timestamp_millis(eventTsMs(evRaw)).as("ts"),
        col("user_id").cast("string").as("k"))
      graft.streaming.StreamSketches.hllWindowedRegisters(
          ev, "ts", "k", "1 day", "1 hour", p = 9, seed = "hllw17")
        // the riding hash-mode flag (r18 verdict #2) is rebuild
        // metadata, not part of this gate's register contract
        .select(col("windowStartMs"), col("windowEndMs"),
          col("bucket"), col("maxrank"))
    },
    // Per-event-time-window CMS cell build, batch mode — the CMS twin
    // (cells are SUMS, the one non-idempotent leg, which is why its
    // sink rebuild refuses conflicting counts — spec-pinned in
    // SketchOpsSpec): 1-day windows, depth 4 x width 512 md5 cells over
    // user_id occurrences. Pure integer arithmetic end to end; r cast
    // long on both sides, cnt CAST BIGINT in the oracle (rule 1).
    "q_cms_windowed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val evRaw = t(dir, "events")
      val ev = evRaw.select(
        timestamp_millis(eventTsMs(evRaw)).as("ts"),
        col("user_id").cast("string").as("k"))
      graft.streaming.StreamSketches.cmsWindowedCells(
          ev, "ts", "k", "1 day", "1 hour", depth = 4, width = 512,
          seed = "cmsw17")
        .select(col("windowStartMs"), col("windowEndMs"),
          col("r").cast("long").as("r"), col("bucket"), col("cnt"))
    },
    // Per-event-time-window RANK-SKETCH summaries, batch mode — the
    // fourth leg's windowed gate, completing a uniform windowed-gate
    // matrix (Bloom words / HLL registers / CMS cells / rank
    // summaries): 1-day windows, bottom-32 of events.value by the md5
    // rank key, per-window n riding along. The double value rides
    // sortable-bits through the cut and inverts at emission
    // (q_qsketch_grouped_double's stored-double ordering precedent);
    // round-6 on the OUTPUT only; NULL ts/id/value and NaN carry no
    // window / identity / rank (rule 10).
    "q_qsketch_windowed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val evRaw = t(dir, "events")
      val ev = evRaw.select(
        timestamp_millis(eventTsMs(evRaw)).as("ts"),
        col("event_id"), col("value"))
      graft.streaming.StreamRankSketch.windowedBottomKDouble(
          ev, "ts", "event_id", "value", "1 day", "1 hour", s = 32,
          seed = "qskw17").toDF()
        .select(col("windowStartMs"), col("windowEndMs"), col("rk"),
          round(col("value"), 6).as("value"), col("n"))
    },
    // One filter PER GROUP in one aggregation (lang here): the grouped
    // twin of q_bloom_bits - (lang, w, lo, hi), <= groups x m/64 rows,
    // groups never collected. NULL group values are retained as their
    // own group on both sides (Spark groupBy == DuckDB GROUP BY,
    // rule 10).
    "q_bloom_grouped" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val ev = t(dir, "documents").where(col("doc_id") % 50 === 0)
        .select(col("lang"), explode(
          graft.ops.TextOps.wordShingles(col("text"), 5)).as("sh"))
      graft.ops.Bloom.wordHalves(
        graft.ops.Bloom.buildGrouped(ev, "sh", Seq("lang"), 65536, 7),
        Seq("lang"))
    },
    // Fuzzy decontamination: exact 3-gram Jaccard of every train doc
    // against its best-matching eval doc (eval = the doc_id % 97 slice,
    // which also self-tests: those docs must report jaccard 1.0 with
    // themselves). String shingles for the oracle; hashed == string
    // proven in CurateSpec.
    "q_fuzzy_decontaminate" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.ops.Curate.fuzzyDecontaminate(
        docs, "doc_id", "text",
        docs.where(col("doc_id") % 97 === 0), "doc_id", "text",
        n = 3, threshold = 0.5, hashShingles = false)
    },
    // Containment-mode decontamination: eval docs are 200-char snippets
    // CUT FROM train docs — Jaccard vs the full doc is low, containment
    // is ~1.0; the metric choice is exactly what catches quoted evals
    "q_decontaminate_contain" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      val ev = docs.where(col("doc_id") % 101 === 0)
        .select(col("doc_id"), substring(col("text"), 50, 200).as("text"))
      graft.ops.Curate.fuzzyDecontaminate(
        docs, "doc_id", "text", ev, "doc_id", "text",
        n = 3, threshold = 0.8, hashShingles = false, metric = "containment")
    },
    // One-call corpus curation: language filter -> quality filter ->
    // exact dedup -> near-dup components -> best-quality representative.
    // Fully deterministic composition, oracle-checked end to end.
    "q_curate_corpus" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Curate.curate(t(dir, "documents"), "doc_id", "text",
        lang = "en", minQuality = 0.5, jaccardThreshold = 0.7)
    },
    // The one-call STREAMING curation composition, run on its batch-mode
    // parity path (deterministic earliest-(ts, id) keeper): quality/lang
    // filter -> exact dedup -> decontamination against the doc_id%50==0
    // eval subset. Simhash near-dup stage off (its internal hash isn't
    // SQL-replayable); decontamination joins on 64-bit shingle hashes on
    // the Spark side and raw strings in DuckDB — identical up to 2^-64
    // collisions. ts = epoch + doc_id seconds, so arrival order == id
    // order.
    "q_curate_stream" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      graft.ops.Curate.curateStream(
        docs.where(col("doc_id") % 50 =!= 0), "doc_id", "ts", "text",
        docs.where(col("doc_id") % 50 === 0), "text",
        lang = "en", minQuality = 0.5, nearDupDedup = false, n = 5)
        .select(col("doc_id"), col("quality"), col("n_tokens"))
    },
    // Streaming per-domain admission quota on its batch parity path:
    // first 8 docs per source in (ts, id) arrival order (ts = epoch +
    // doc_id seconds, the q_curate_stream convention) — the stateful
    // operator's admission rule replayed as a window rank.
    "q_stream_quota" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      graft.streaming.StreamQuota.domainQuota(docs, "ts", "source", "doc_id", 8L)
        .select(col("domain"), col("id"), col("rk"))
    },
    // Windowed per-domain rate limit on its batch parity path: <= 3 docs
    // per source per 600-second tumbling event-time window (ts = epoch +
    // doc_id seconds); window starts are pure integer epoch arithmetic.
    "q_rate_limit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      graft.streaming.StreamQuota.rateLimit(docs, "ts", "source", "doc_id",
          maxDocs = 3L, windowSeconds = 600L)
        .select(col("domain"), col("id"), col("win_start_s"), col("rk"))
    },
    "q_unigram_nll" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.TextOps.unigramNll(t(dir, "documents"), "doc_id", "text")
    },
    "q_bigram_nll" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.TextOps.bigramNll(t(dir, "documents"), "doc_id", "text")
    },
    // CCNet head/middle/tail perplexity bucketing on the corpus's own
    // bigram model — integer micro-unit fluency score, exact global-rank
    // thirds via the histogram bucketing (no global sort); the oracle is
    // the single-window row_number form the operator contractually
    // equals.
    "q_ccnet_buckets" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Curate.perplexityBuckets(t(dir, "documents"), "doc_id", "text")
    },
    "q_bpe_train" -> ((s, dir) => graft.ops.Bpe.mergesDf(s, bpeMerges(s, dir))),
    "q_bpe_encode" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Bpe.encode(t(dir, "documents"), "doc_id", "text",
        bpeMerges(s, dir).map(m => (m.lhs, m.rhs)))
    },
    "q_corpus_profile" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.TextOps.profileCorpus(t(dir, "documents"), "doc_id", "text", "lang")
    },
    // --- column-bisection siblings (VERDICT r11 item 2): each emits a
    // column-subset of a formerly-red query so a driver-side divergence
    // localizes to a COLUMN in the gate itself, not to local theory.
    "q_budget_cum" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Sampling.budgetSelect(t(dir, "documents"), "lang", "doc_id",
        TextOps.qualityScoreMicro(col("text")), TextOps.tokenCount(col("text")), 2000L)
        .select(col("domain"), col("key"), col("cum_tokens"))
    },
    "q_bpe_pairs" -> ((s, dir) => graft.ops.Bpe.mergesDf(s, bpeMerges(s, dir))
      .select(col("rank"), col("lhs"), col("rhs"))),
    "q_bpe_words" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Bpe.encode(t(dir, "documents"), "doc_id", "text",
        bpeMerges(s, dir).map(m => (m.lhs, m.rhs)))
        .select(col("doc_id"), col("n_words"))
    },
    "q_profile_tokens" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      t(dir, "documents").groupBy(col("lang"))
        .agg(sum(TextOps.tokenCount(col("text"))).as("total_tokens"))
    },
    "q_dedup_stats" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // the synthetic corpus is duplicate-free, so plant exact dups
      // (every 10th doc re-appended) to make the histogram non-trivial;
      // group by the content HASH (portable md5) — the fixed-width-key
      // shuffle shape the scaladoc prescribes for long documents
      val d = t(dir, "documents")
      val corpus = d.unionAll(d.where(col("doc_id") % 10 === 0))
      Dedup.dupGroupStats(corpus.select(md5(col("text")).as("h")), "h")
    },
    "q_semantic_decontam" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // eval set = every 5th embedding; train = the rest. tau = 0.35 sits
      // inside the cross-split cosine range (median 0.30, max 0.49 at
      // sf0.01) so both outcomes genuinely occur.
      val e = t(dir, "embeddings")
      graft.ops.Curate.semanticDecontaminate(
        e.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
        e.where(col("vec_id") % 5 === 0), "vec_id", "embedding", tau = 0.35)
    },
    "q_simhash_pairs" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.simhashCandidates(t(dir, "documents"), "doc_id", "text", maxDist = 3)
    },
    "q_embed_neardup" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // oracle-checkable variant: pairs within the same floor(id/20) block.
      // The block id is an EQUI-join key, so Spark hash-joins (r1 used a
      // non-equi band condition that fell back to BroadcastNestedLoopJoin
      // over all n^2 pairs — 62s of the 148s bench).
      val e = t(dir, "embeddings")
      val a = e.select(col("vec_id").as("id_a"), floor(col("vec_id") / 20).as("blk"),
        col("embedding").cast("array<double>").as("va"))
      val b = e.select(col("vec_id").as("id_b"), floor(col("vec_id") / 20).as("blk"),
        col("embedding").cast("array<double>").as("vb"))
      a.join(b, Seq("blk"))
        .where(col("id_b") > col("id_a"))
        .withColumn("cosine", round(Similarity.cosineSim(col("va"), col("vb")), 6))
        .where(col("cosine") >= 0.2)
        .select(col("id_a"), col("id_b"), col("cosine"))
    },
    "q_embed_lsh" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // banded-hyperplane-LSH near-dup in its intended HIGH-similarity
      // regime. The raw table has no pairs above cosine 0.7 (sign-LSH at
      // mid thresholds is provably a cartesian product in disguise — r2
      // verdict), so the corpus is augmented with one deterministically
      // jittered copy per vector (cosine ~0.93 to its source): planted
      // near-dup pairs the operator must recover. Both the jitter and the
      // plane matrix are md5-derived (Hashing.md5Unit — every arithmetic
      // step exact), so the oracle rebuilds the exact planes, replays the
      // banded bucket join, and hash-checks the WHOLE pipeline end to end
      // (was rows-only before r10). Recall vs brute force is additionally
      // asserted in DedupSpec.
      val e = t(dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val jitterUdf = udf { (id: Long, xsSeq: Seq[Double]) =>
        val xs = xsSeq.toArray
        val r = new Array[Double](xs.length)
        var i = 0
        while (i < xs.length) {
          r(i) = xs(i) + 0.08 * graft.util.Hashing.md5Unit(id, i.toLong)
          i += 1
        }
        r
      }
      val jittered = e.select((col("vec_id") + 1000000L).as("vec_id"),
        jitterUdf(col("vec_id"), col("v")).as("v"))
      // planesPerTable scales as log2(corpus) (lshPlanesForCorpus): a
      // FIXED signature width makes random-collision pairs ~n^2/2^pt —
      // quadratic; caught at the r10 sf10 point (400k vectors, 12-bit
      // sigs, ~470M collision pairs, bench timeout). The oracle derives
      // the identical width from count(*).
      val ptLsh = Similarity.lshPlanesForCorpus(2L * e.count())
      Dedup.embeddingNearDup(e.union(jittered), "vec_id", "v",
        threshold = 0.85, numTables = 24, planesPerTable = ptLsh)
    },
    // SemDeDup (Abbas et al. 2023) at fixed centers (vec_id < 8): cosine
    // assignment -> within-cluster pairs at round(cos,6) >= 0.3 ->
    // connected components -> min-id representative. Fully deterministic,
    // oracle-replayed end to end (recursive CTE for the components).
    // k scales as sqrt(n) (SemDedup.balancedK): assignment work (k·n) and
    // within-cluster pair work (n²/k) then both grow as n^1.5. The r10
    // sf10 scale point caught the previous FIXED k=8 running 146x past
    // sublinear at 200k vectors (917 s -> 26 s re-measured). The oracle
    // derives the identical k from count(*).
    "q_semdedup" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val kC = graft.ops.SemDedup.balancedK(e.count())
      val centers = e.where(col("vec_id") < kC).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      graft.ops.SemDedup.semDedupFixed(e, "vec_id", "embedding", centers,
          epsilon = 0.3)
        .select(col("id"), col("cluster"),
          (round(col("centroid_sim"), 6) + lit(0.0)).as("centroid_sim"),
          col("comp"), col("keep"))
    },
    // INCREMENTAL semantic dedup (r16 verdict #3): bootstrap the keeper
    // index from the vec_id % 7 != 0 corpus slice (full semDedupFixed
    // components + min-id keepers), then probe the % 7 == 0 batch
    // against the stored keepers AND smaller-id co-batch docs — the
    // store-probe ingest shape, per-doc best match (highest ROUND-6
    // cosine, ties to the lowest id), q_incremental_dedup's verdict
    // schema adapted to cosine space. Threshold AND best-match ordering
    // both at 6dp (a raw-float argmax across engines is the rule-1
    // ban; the id tiebreak owns the ulp zone); centroid_sim round-6
    // output-only.
    "q_semdedup_incremental" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val kC = graft.ops.SemDedup.balancedK(e.count())
      val centers = e.where(col("vec_id") < kC).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val (bootVerdicts, idx) = graft.ops.SemDedupIndex.build(
        e.where(col("vec_id") % 7 =!= 0), "vec_id", "embedding", centers,
        epsilon = 0.3)
      val out = idx.probe(e.where(col("vec_id") % 7 === 0), "vec_id", "embedding")
        .select(col("id"), col("cluster"),
          (round(col("centroid_sim"), 6) + lit(0.0)).as("centroid_sim"),
          col("dup_of"), col("n_dup_matches"), col("keep"))
      bootVerdicts.unpersist()
      // probe's result is persisted+materialized, so the keeper cache can
      // release like the rebalance/stream siblings — build's contract
      // hands the caller the unpersist
      idx.keepers.unpersist()
      out
    },
    // The maintenance REBALANCE (SemDedupIndex.rebalanceTo): the same
    // bootstrap index re-partitioned at 16 fixed new centers — keeper
    // SET preserved exactly (maintenance, never a re-dedup of history),
    // every keeper re-assigned by the shared assignFixed rule. The
    // oracle replays the bootstrap keeper chain + the new-center argmax,
    // so the hash pins both "no keeper gained/lost" and the exact new
    // partitioning.
    "q_semdedup_rebalance" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val kC = graft.ops.SemDedup.balancedK(e.count())
      val centers = e.where(col("vec_id") < kC).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val (bootVerdicts, idx) = graft.ops.SemDedupIndex.build(
        e.where(col("vec_id") % 7 =!= 0), "vec_id", "embedding", centers,
        epsilon = 0.3)
      bootVerdicts.unpersist()
      val nc = e.where(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val idx2 = graft.ops.SemDedupIndex.rebalanceTo(idx, nc)
      idx.keepers.unpersist()
      idx2.keepers.select(col("id"), col("cluster"))
    },
    // The STREAMING semantic-dedup ingest (SemDedupIndex.ingestStream):
    // the SAME bootstrap index persisted to disk, the SAME %7==0 batch
    // delivered through a memory stream — foreachBatch probes the
    // persisted store, admits the novel docs via the stage-and-swap
    // write-back, and sinks the verdicts, which are DEFINED to equal the
    // batch probe's (shared oracle, rule 5). End to end this gates the
    // stream wiring, the read-path digest validation, the anti-join
    // replay heal, and the write-back on real data at every gate run.
    "q_semdedup_stream" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val e = t(dir, "embeddings")
      val kC = graft.ops.SemDedup.balancedK(e.count())
      val centers = e.where(col("vec_id") < kC).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val (bootVerdicts, idx) = graft.ops.SemDedupIndex.build(
        e.where(col("vec_id") % 7 =!= 0), "vec_id", "embedding", centers,
        epsilon = 0.3)
      bootVerdicts.unpersist()
      val storeDir = java.nio.file.Files
        .createTempDirectory("semstream-gate").toString
      graft.ops.SemDedupIndex.write(idx, storeDir)
      idx.keepers.unpersist()
      val batch = e.where(col("vec_id") % 7 === 0)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val stream = MemoryStream[(Long, Seq[Double])]
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      var schema: org.apache.spark.sql.types.StructType = null
      val q = graft.ops.SemDedupIndex.ingestStream(
        stream.toDF().select(col("_1").as("id"), col("_2").as("v")),
        "id", "v", storeDir,
        (v, _) => { schema = v.schema; buf ++= v.collect() },
        java.nio.file.Files.createTempDirectory("semstream-ckpt").toString)
      try {
        stream.addData(batch: _*)
        q.processAllAvailable()
      } finally q.stop()
      s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(buf.toSeq).asJava),
          schema)
        .select(col("id"), col("cluster"),
          (round(col("centroid_sim"), 6) + lit(0.0)).as("centroid_sim"),
          col("dup_of"), col("n_dup_matches"), col("keep"))
    },
    // ---- similarity search ----
    "q_ann_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val queriesDf = e.where(col("vec_id") < 10)
      Similarity.bruteForceTopK(e, queriesDf, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    },
    // Hard-negative mining (DPR-style): per query, top-5 most-similar
    // corpus vectors with a DIFFERENT label — same plan as topk with the
    // label mismatch fused into the join; cosine omitted from the
    // contract output only where float ties could reorder ranks (ties
    // broken by corpus_id on both sides).
    "q_hard_negatives" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val queriesDf = e.where(col("vec_id") % 20 === 0)
      Similarity.hardNegatives(e, queriesDf, "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("rank"), col("corpus_id"), col("neg_label"))
    },
    // int8 scalar quantization of the embedding corpus: codes + scale
    // are pure closed-form expressions, replayed exactly by the oracle
    "q_quantize_int8" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Similarity.quantizeInt8(t(dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos").cast("long").as("j"),
          col("col").cast("long").as("code"))
    },
    // Deterministic JL random projection 64 -> 16, md5-derived sign
    // matrix — the oracle rebuilds the exact matrix and projection
    "q_random_project" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Similarity.randomProject(t(dir, "embeddings"), "vec_id", "embedding",
          inDim = 64, outDim = 16, seed = "rp9")
        .select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos").cast("long").as("j"),
          (round(col("col"), 6) + lit(0.0)).as("v"))
    },
    "q_ann_ivf" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      // static-corpus path: quantizer + cell assignment materialized once,
      // then searches are cell-pruned joins against the prebuilt index
      val idx = ivfIndexCached(s, dir)
      val queriesDf = e.where(col("vec_id") < 10)
      idx.search(queriesDf, "vec_id", "embedding", k = 5, nProbe = 3)
        .select(col("query_id"), col("rank"), col("corpus_id"))
      // (index cache intentionally retained: a static corpus serves many
      // query batches; ~sizeof(corpus) memory, LRU-evictable)
    },
    // In-gate numeric guarantee for the PRODUCTION seeded IVF probe
    // (r17 verdict #3): recall@5 of q_ann_ivf's nProbe=3 pruned search
    // against the nProbe=8(=all cells, == brute force) search over the
    // SAME seeded index. Per-query hits are seed/layout-dependent (the
    // trained quantizer moves with testdata), so the gate pins the
    // GUARANTEE as integers: n_results is structural (5 per query), and
    // meets_floor verifies the aggregate recall floor IN-GATE — if the
    // pruned probe ever degrades below the floor, the flag flips and
    // the hash goes red. The sbt-side RecallSpec keeps the tighter 0.9
    // clusterable-fixture bound; this row holds the production path to
    // a floor on the REAL corpus at every gate run. Floor calibration
    // (r18, measured): recall@5 = 0.70 at sf0.01 and 0.76 at sf0.1 on
    // the near-uniform testdata sphere (RecallSpec's documented
    // hardest regime); 50 sits ~3 binomial sigma under the measured
    // point (n=50, sigma~6.5pp), so testdata regeneration (rule 3)
    // cannot flip a healthy probe red while a pruning regression
    // (recall collapses toward nProbe/nCells^2-ish) still trips it.
    "q_ann_ivf_recall" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val idx = ivfIndexCached(s, dir)
      val queriesDf = e.where(col("vec_id") < 10)
      def ids(nProbe: Int) =
        idx.search(queriesDf, "vec_id", "embedding", k = 5, nProbe = nProbe)
          .select(col("query_id"), col("corpus_id"))
      val hits = ids(3).join(ids(8), Seq("query_id", "corpus_id")).count()
      val total = ids(8).count()
      import sp.implicits._
      Seq((5L, total, 50L, hits * 100L >= total * 50L))
        .toDF("k", "n_results", "floor_pct", "meets_floor")
    },
    // IVF health audit (IvfIndex.health — the frozen-quantizer drift
    // report) under a hard oracle: a caller-supplied quantizer
    // (embeddings vec_id < 8, the q_ann_ivf_pruned fixture) makes the
    // cell assignment deterministic, so the per-cell population stats,
    // the imbalance ratio, and the recommendedCells rule all replay in
    // SQL. Integer counts hash exactly; the two ratios are round-6
    // output-only (rule 1).
    "q_ann_ivf_health" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val cents = e.where(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val idx = graft.ops.IvfIndex.buildWithCenters(e, "vec_id", "embedding", cents)
      idx.health()
        .select(col("n_vectors"), col("n_cells"), col("max_cell"),
          (round(col("avg_cell"), 6) + lit(0.0)).as("avg_cell"),
          (round(col("imbalance"), 6) + lit(0.0)).as("imbalance"),
          col("recommended_cells"))
    },
    // The cell-PRUNED IVF path (nProbe < nCells) under a hard oracle: a
    // caller-supplied quantizer (embeddings vec_id < 8) makes the cell
    // partition, the probe sets, and therefore the pruned candidate set
    // deterministic — DuckDB replays assignment, probing, and top-k
    // exactly. Complements q_ann_ivf_full (all-cells == brute force)
    // and q_ann_ivf (the seeded production build, rows-only).
    "q_ann_ivf_pruned" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val cents = e.where(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val idx = graft.ops.IvfIndex.buildWithCenters(e, "vec_id", "embedding", cents)
      idx.search(e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5, nProbe = 3)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    },
    // STREAMING ANN ingest (IvfIndex.ingestStream): bootstrap the index
    // from the vec_id % 3 != 0 slice at the q_ann_ivf_pruned fixed
    // quantizer, deliver the % 3 == 0 slice through a memory stream
    // (marker-gated cell-partition appends), then search the RELOADED
    // index — by construction the post-stream store equals the
    // whole-corpus build, so the pruned search replays with the SAME
    // oracle as q_ann_ivf_pruned (rule 5: shared ivfPrunedOracleSql).
    // End to end this gates the stream wiring, the append path, the
    // commit marker, and the partition-pruned read-back at every run.
    "q_ann_ivf_stream" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val e = t(dir, "embeddings")
      val cents = e.where(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val idx = graft.ops.IvfIndex.buildWithCenters(
        e.where(col("vec_id") % 3 =!= 0), "vec_id", "embedding", cents)
      val storeDir = java.nio.file.Files
        .createTempDirectory("ivfstream-gate").toString + "/idx"
      idx.write(storeDir)
      idx.unpersist()
      val batch = e.where(col("vec_id") % 3 === 0)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val stream = MemoryStream[(Long, Seq[Double])]
      val q = graft.ops.IvfIndex.ingestStream(
        stream.toDF().select(col("_1").as("id"), col("_2").as("v")),
        "id", "v", storeDir,
        java.nio.file.Files.createTempDirectory("ivfstream-ckpt").toString)
      try {
        stream.addData(batch: _*)
        q.processAllAvailable()
      } finally q.stop()
      graft.ops.IvfIndex.load(s, storeDir)
        .search(e.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbe = 3)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    },
    // Hard-negative mining over the cell-pruned IVF path — the
    // corpus-scale sibling of q_hard_negatives (same supplied-quantizer
    // trick as q_ann_ivf_pruned, so the candidate pruning + label filter
    // + top-k replay exactly).
    "q_hard_negatives_ivf" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val cents = e.where(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      Similarity.ivfHardNegatives(e, e.where(col("vec_id") % 20 === 0),
          "vec_id", "embedding", "label", k = 5, centroids = cents, nProbe = 3)
        .select(col("query_id"), col("rank"), col("corpus_id"), col("neg_label"))
    },
    "q_ann_ivf_full" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // IVF index driven END TO END with a hard oracle: probing ALL cells
      // (nProbe = nCells) makes the cell-pruned search exactly equal to
      // brute force, so the whole build-quantizer/assign-cells/probe/join/
      // top-k machinery is hash-checked against DuckDB's full self-join —
      // the approximation of the nProbe<nCells path is a recall knob, not
      // different machinery (recall itself is bounded in RecallSpec).
      val e = t(dir, "embeddings")
      val idx = ivfIndexCached(s, dir)
      val queriesDf = e.where(col("vec_id") < 10)
      idx.search(queriesDf, "vec_id", "embedding", k = 5, nProbe = 8)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    },
    "q_pam_build" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // KMedoids BUILD step 1 at a fixed candidate set: the first medoid is
      // the point minimizing total EUCLIDEAN (metric, not squared) distance
      // to all others — PAM's greedy seed — over the first 64 embeddings,
      // computed as a distributed self-join + one aggregate
      // (reference: ml/KMedoids.scala BUILD phase).
      val e = t(dir, "embeddings")
      val pts = e.where(col("vec_id") < 64)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val costs = pts.join(broadcast(pts.select(col("vec_id").as("id_b"), col("pv").as("pb"))))
        .where(col("vec_id") =!= col("id_b"))
        .withColumn("d", sqrt(graft.functions.ArrayMath.sqdist(col("pv"), col("pb"))))
        .groupBy(col("vec_id")).agg(sum(col("d")).as("cost"))
      costs.agg(
        min_by(col("vec_id"), struct(col("cost"), col("vec_id"))).as("medoid_id"),
        (round(min(struct(col("cost"), col("vec_id"))).getField("cost"), 4) + lit(0.0)).as("cost"))
    },
    // ---- clustering (seed-deterministic; rows-only or fixed-center oracle) ----
    "q_kmeans_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val model = new GeneralizedKMeans()
        .setK(10).setFeaturesCol("embedding").setSeed(42).setMaxIter(10).fit(e)
      model.transform(e)
        .groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    // Full 5-iteration Lloyd fit through the REAL estimator, warm-started
    // from deterministic centers (embeddings vec_id < 8) with tol=0 so both
    // engines run exactly 5 assignment+update rounds: DuckDB unrolls the
    // whole loop as chained CTEs (argmin is exact integer math; center
    // means drift only at ~1e-13 ulp between engines, far inside the 4-dp
    // rounding of the output). This oracle-checks the ACTUAL iterative
    // algorithm end to end — assignment strategy, mean update, movement
    // bookkeeping — not just one frozen step.
    "q_kmeans_fit" -> ((s, dir) => lloydFitQuery(s, dir, "auto", "squaredEuclidean", 5)),
    // Same oracle, but through the full per-center-bounds Elkan loop:
    // cross-iteration bound maintenance must be LOSSLESS, i.e. produce the
    // identical centers/sizes as the exhaustive loop and the SQL unroll.
    "q_kmeans_fit_elkan" -> ((s, dir) => lloydFitQuery(s, dir, "elkan", "squaredEuclidean", 5)),
    // Same oracle a third time, through the `chunked` strategy name: a
    // former assignment tier, now an alias of the one NearestCenter path
    // that persisted models and user code still set.
    "q_kmeans_fit_chunked" -> ((s, dir) => lloydFitQuery(s, dir, "chunked", "squaredEuclidean", 5)),
    // Full K-medians fit: L1 assignment + exact weighted-median update,
    // 5 unrolled iterations. Medians are actual data values, so the
    // inter-iteration centers are bit-identical between engines — the
    // strongest of the fit oracles (zero float drift).
    "q_kmedians_fit" -> ((s, dir) => lloydFitQuery(s, dir, "auto", "l1", 5)),
    // Full KL-divergence fit over positively-shifted features: KL argmin
    // assignment + gradient-space mean update (geometric mean of shifted
    // members), 4 unrolled iterations.
    "q_kl_fit" -> ((s, dir) =>
      lloydFitQuery(s, dir, "auto", "kl", 4,
        prep = c => transform(c, v => abs(v) + lit(0.1)))),
    // Full Itakura-Saito fit over positively-shifted features: IS argmin
    // assignment + harmonic-mean update (invGrad of the mean gradient:
    // -1/avg(-1/(x+eps))), 4 unrolled iterations.
    // Reference: df/kernels/ItakuraSaitoKernel.scala:16-60.
    "q_is_fit" -> ((s, dir) =>
      lloydFitQuery(s, dir, "auto", "is", 4,
        prep = c => transform(c, v => abs(v) + lit(0.1)))),
    // Full generalized-I fit: GenI argmin assignment + geometric-mean
    // update (grad=ln, invGrad=exp — same update as KL, different
    // distance). Reference: df/kernels/GeneralizedIDivergenceKernel.scala:15-59.
    "q_geni_fit" -> ((s, dir) =>
      lloydFitQuery(s, dir, "auto", "generalizedI", 4,
        prep = c => transform(c, v => abs(v) + lit(0.1)))),
    // Full logistic-loss (binary cross-entropy) fit over (0,1)-mapped
    // features x=|v|/(|v|+1): clamped BCE argmin + sigmoid-of-mean-logit
    // update. Reference: df/kernels/LogisticLossKernel.scala:15-60.
    "q_logistic_fit" -> ((s, dir) =>
      lloydFitQuery(s, dir, "auto", "logistic", 4,
        prep = c => transform(c, v => abs(v) / (abs(v) + lit(1.0))))),
    // DTW distances (the tskmeans family's core DP) between embedding 0
    // and the first 50 embeddings over 16-step series: the oracle replays
    // the full (n+1)x(m+1) dynamic program cell by cell in a DuckDB
    // RECURSIVE CTE carrying the DP table as a growing list — the
    // recurrence is the same IEEE expression in both engines, so the
    // distances match to the last bit before the 6-dp rounding.
    "q_dtw_dist" -> ((s, dir) => dtwDistQuery(s, dir, soft = false)),
    // Product-quantization ADC math, oracle-checked end to end: a FIXED
    // codebook (subvectors of the first 16 embeddings — no training, so
    // DuckDB can rebuild it), every row encoded through the real
    // PqCodebook.encode, scored against query vec 0 by the real ADC
    // lookup-table path, top 50 by (score, id). All float ops happen in
    // identical IEEE order on both sides, so ranks hash-match. The
    // TRAINED codebook path is covered by RecallSpec (recall + roundtrip).
    "q_pq_adc" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cbVecs = e.where(col("vec_id") < 16).orderBy(col("vec_id")).collect()
        .map(_.getSeq[Double](1).toArray)
      val cb = graft.ops.PqCodebook.fromVectors(cbVecs, m = 8)
      val q0 = cbVecs(0)
      val lut = cb.dotLut(q0)
      val qn = math.sqrt(q0.map(x => x * x).sum)
      val bc = s.sparkContext.broadcast((cb, lut))
      val scoreUdf = udf { (xs: Seq[Double]) =>
        val x = xs.toArray
        val codes = bc.value._1.encode(x)
        val norm = math.sqrt(x.map(v => v * v).sum)
        val d = bc.value._1.adcDot(bc.value._2, codes)
        if (norm > 0 && qn > 0) d / (qn * norm) else 0.0
      }
      // distributed partial top-k first (TakeOrderedAndProject), then the
      // global-rank window runs over 50 rows, not the whole table
      val top = e.withColumn("sim", scoreUdf(col("v")))
        .orderBy(col("sim").desc, col("vec_id")).limit(50)
      val w = Window.orderBy(col("sim").desc, col("vec_id"))
      top.withColumn("rank", row_number().over(w))
        .select(col("rank").cast("long").as("rank"), col("vec_id"),
          (round(col("sim"), 6) + lit(0.0)).as("adc_cosine"))
    },
    // In-gate recall floors for the PQ search paths (r18 verdict #4 —
    // the q_ann_ivf_recall discipline applied to IVFADC): one seeded
    // IvfPqIndex on the gate corpus, then two integer recall@5 counts
    // over the vec_id < 10 queries at nProbe=3: searchRerank (the
    // production path) against the exact brute-force top-5, and the
    // ADC-only search against the exact-reranked top-5 of its own
    // candidate pool (isolating ADC ordering error from probe-pruning
    // error, which the rerank row and q_ann_ivf_recall already floor).
    // Floors are ~3 sigma under the measured values (rerank 64-68% ->
    // 44; adc 46-48% -> 25; binomial sigma at n=50 is ~7pct) across
    // sf0.001/sf0.01/null-variant, so a regenerated-testdata wobble
    // passes but a real regression (wrong LUT, broken residual math,
    // dead pruning) trips the flag. Only the floor FLAGS and the
    // deterministic totals are hash-pinned (the seeded k-means build is
    // not SQL-replayable), like q_ann_ivf_recall.
    "q_pq_recall" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val idx = graft.ops.IvfPqIndex.build(e, "vec_id", "embedding",
        nCells = 8, m = 8, ksub = 32, maxIter = 5, sampleSize = 10000,
        seed = 42L)
      val queriesDf = e.where(col("vec_id") < 10)
      def ids(df: org.apache.spark.sql.DataFrame) = df
        .select(col("query_id"), col("corpus_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = ids(Similarity.bruteForceTopK(e, queriesDf, "vec_id",
        "embedding", k = 5))
      val rerank = ids(idx.searchRerank(queriesDf, "vec_id", "embedding",
        e, k = 5, nProbe = 3, rerankK = 50))
      val adc = ids(idx.search(queriesDf, "vec_id", "embedding", k = 5,
        nProbe = 3))
      idx.unpersist()
      import sp.implicits._
      Seq(
        ("rerank_vs_exact", 5L, exact.size.toLong, 44L,
          rerank.intersect(exact).size * 100L >= exact.size * 44L),
        ("adc_vs_rerank", 5L, rerank.size.toLong, 25L,
          adc.intersect(rerank).size * 100L >= rerank.size * 25L))
        .toDF("metric", "k", "n_results", "floor_pct", "meets_floor")
    },
    // One DBA barycenter update, oracle-checked: align series 1..12 to
    // center x0 (16-dim prefixes) through the REAL trait barycenter with
    // maxIter=1, emit the per-index mean of aligned values + alignment
    // mass. The oracle re-derives every alignment path by DP backtrack
    // (same CTE family as q_dtw_path) and recomputes the means.
    "q_dba_step" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings").where(col("vec_id") < 13).orderBy(col("vec_id"))
        .select(col("vec_id"), slice(col("embedding").cast("array<double>"), 1, 16).as("f"))
      val rows = e.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val x0 = rows.head._2
      val series = rows.tail.map(_._2).toSeq
      val kern = graft.kernels.DTWKernel(None)
      val next = kern.barycenter(series, x0, maxIter = 1)
      // alignment mass per index, from the same paths the update used
      val mass = new Array[Long](x0.length)
      series.foreach(y => kern.alignmentPath(x0, y).foreach { case (ci, _) => mass(ci) += 1 })
      import sp.implicits._
      next.zipWithIndex.map { case (v, i) => (i.toLong, v, mass(i)) }.toSeq
        .toDF("i", "cv", "n_aligned")
        .select(col("i"), (round(col("cv"), 6) + lit(0.0)).as("cv"), col("n_aligned"))
    },
    // DTW alignment-path export: the optimal warping path (i over x0,
    // j over y) for each of the first 50 embeddings' 16-dim prefix —
    // the path the oracle re-derives by backtracking its own DP matrix
    "q_dtw_path" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings").where(col("vec_id") < 50).orderBy(col("vec_id"))
        .select(col("vec_id"), slice(col("embedding").cast("array<double>"), 1, 16).as("f"))
      val x0 = e.where(col("vec_id") === 0).head().getSeq[Double](1).toArray
      val kern = graft.kernels.DTWKernel(None)
      val pUdf = udf { (ys: Seq[Double]) => kern.alignmentPath(x0, ys.toArray) }
      e.select(col("vec_id"), explode(pUdf(col("f"))).as("p"))
        .select(col("vec_id"), col("p._1").cast("long").as("i"), col("p._2").cast("long").as("j"))
    },
    // Soft-DTW (gamma=0.5): same unroll with the stabilized soft-min
    // (m - g*ln(sum exp(-(v-m)/g))) in place of least(); negative values
    // are legal (soft-DTW is a divergence, not a metric).
    "q_softdtw_dist" -> ((s, dir) => dtwDistQuery(s, dir, soft = true)),
    // GAK (Global Alignment Kernel) induced distance: three log-space DPs
    // per row (k(x,y), k(x,x), k(y,y)) each replayed cell by cell in the
    // same recursive-CTE scheme with log-sum-exp combining, then
    // sqrt(max(0, 2 - 2*exp(kxy - (kxx+kyy)/2))).
    "q_gak_dist" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings").where(col("vec_id") < 30).orderBy(col("vec_id"))
        .select(col("vec_id"), slice(col("embedding").cast("array<double>"), 1, 16).as("f"))
      val x0 = e.where(col("vec_id") === 0).head().getSeq[Double](1).toArray
      val kern = graft.kernels.GAKKernel(sigma = 1.0)
      val dUdf = udf { (ys: Seq[Double]) => kern.distance(x0, ys.toArray) }
      e.select(col("vec_id"), (round(dUdf(col("f")), 6) + lit(0.0)).as("dist"))
    },
    // Spectral graph construction at a fixed point set: RBF affinity
    // (zero diagonal), degree vector, and the full symmetric normalized
    // Laplacian I - D^{-1/2} W D^{-1/2} over the first 24 embeddings —
    // the deterministic half of spectral clustering (the eigensolve is
    // LAPACK's and is covered by sbt parity tests instead).
    "q_spectral_graph" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings").where(col("vec_id") < 24).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val rows = e.collect()
      val ids = rows.map(_.getLong(0))
      val pts = rows.map(_.getSeq[Double](1).toArray)
      val w = graft.clustering.SpectralGraph.buildAffinity(
        pts, graft.kernels.RBFKernel(1.0), "full")
      val deg = graft.clustering.SpectralGraph.degrees(w)
      val lap = graft.clustering.SpectralGraph.laplacian(w, "symmetric")
      import sp.implicits._
      pts.indices.flatMap { i =>
        pts.indices.map { j => (ids(i), ids(j), lap(i)(j), deg(i)) }
      }.toDF("i", "j", "l", "deg")
        .select(col("i"), col("j"), (round(col("l"), 6) + lit(0.0)).as("l"),
          (round(col("deg"), 6) + lit(0.0)).as("deg"))
    },
    // Full PAM fit (BUILD + best-improvement SWAP, euclidean metric) on
    // the first 60 embeddings, k=4, up to 3 swap iterations. The oracle
    // replays greedy BUILD (max positive-part gain, ties -> smallest
    // candidate), then each SWAP step evaluates EVERY (medoid-slot,
    // candidate) replacement's total cost and applies the strictly-best
    // one (-1e-12 threshold), no-op once converged — the full algorithm.
    "q_kmedoids_fit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings").where(col("vec_id") < 60).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val m = new graft.clustering.KMedoids()
        .setK(4).setMaxIter(3).setFeaturesCol("f").fit(e)
      val sizes = m.transform(e)
        .groupBy(col("prediction").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"))
      emitCenters(s, m.medoids, sizes)
    },
    // Full agglomerative fit (single linkage, 12 points -> 4 clusters):
    // 8 unrolled greedy merges of the closest active pair, tie-broken by
    // slot order exactly like the driver scan; the oracle replays the
    // merges, reconstructs dendrogram node ids (n + last merge index per
    // surviving component) and the same sorted-node-id label remap.
    "q_agglomerative_fit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings").where(col("vec_id") < 12).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val m = new graft.clustering.AgglomerativeBregman()
        .setNumClusters(4).setLinkage("single").setFeaturesCol("f").fit(e)
      import sp.implicits._
      val sizes = m.trainingAssignments.groupBy(identity).map { case (c, xs) =>
        (c.toLong, xs.length.toLong) }.toSeq.toDF("cluster", "n")
      emitCenters(s, m.clusterCenters, sizes)
    },
    // Full constrained fit: 2 unrolled iterations of greedy sequential
    // constrained assignment (sorted-id order; must-link (0,9), (1,12),
    // cannot-link (2,15), penalty 10) + plain argmin for unconstrained
    // rows + mean update, through the real ConstrainedKMeans estimator.
    // The oracle replays the greedy as chained one-row CTEs whose penalty
    // terms reference the earlier ids' fixed choices.
    "q_constrained_fit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val centerRows = e.where(col("vec_id") < 8).orderBy(col("vec_id")).collect()
      val centerIds = centerRows.map(_.getLong(0))
      val init = centerRows.map(_.getSeq[Double](1).toArray)
      val m = new ConstrainedKMeans().setK(init.length).setFeaturesCol("f")
        .setIdCol("vec_id").setConstraintWeight(10.0)
        .setConstraints(mustLinks = Seq((0L, 9L), (1L, 12L)), cannotLinks = Seq((2L, 15L)))
        .setMaxIter(2).setTol(0.0).setInitialCenters(init)
        .fit(e)
      val idOf = array(centerIds.map(lit(_)): _*)
      val sizes = m.transform(e)
        .groupBy(element_at(idOf, col("prediction") + 1).cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"))
      emitCenters(s, m.clusterCenters, sizes, centerIds(_))
    },
    // Full exact kernel k-means fit: RBF Gram, membership-based induced
    // distance d^2(i,C) = g_ii - 2/|C| sum g_ij + (1/|C|^2) sum g_jl, 4
    // unrolled batch-update iterations from singleton seeds 0..7. The
    // oracle rebuilds the whole Gram matrix in SQL and replays the same
    // membership iterations; output = pre-image means + training sizes.
    "q_kernelkmeans_fit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // cap at 500 rows: exact mode is an O(n^2) driver Gram by design
      // (the scale path is mode=nystrom); the cap keeps this correctness
      // probe constant-cost across SFs and matches the oracle's scan
      val e = t(dir, "embeddings").where(col("vec_id") < 500).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val m = new graft.clustering.KernelKMeans()
        .setK(8).setKernelType("rbf").setGamma(1.0).setMode("exact")
        .setMaxIter(4).setInitialSeedIndices(Array(0, 1, 2, 3, 4, 5, 6, 7))
        .setFeaturesCol("f").fit(e)
      val exact = m.asInstanceOf[graft.clustering.ExactKernelKMeansModel]
      import sp.implicits._
      val sizes = exact.assignments.groupBy(identity).map { case (c, xs) =>
        (c.toLong, xs.length.toLong) }.toSeq.toDF("cluster", "n")
      emitCenters(s, m.clusterCenters, sizes)
    },
    // Full DP-means fit: 6 unrolled iterations of the deterministic batch
    // rule — seed with the first input point; while any point's divergence
    // exceeds lambda, adopt the FARTHEST such point as a new center (one
    // per iteration), otherwise do a mean update. The oracle replays the
    // identical conditional schedule in SQL (EXISTS-guarded UNION branches)
    // so cluster discovery order, centers, and sizes must all agree.
    "q_dpmeans_fit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
        .orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val m = new DPMeans().setLambda(1.1).setMaxIter(6).setTol(0.0)
        .setFeaturesCol("f").fit(e)
      val sizes = m.transform(e)
        .groupBy(col("prediction").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"))
      emitCenters(s, m.clusterCenters, sizes)
    },
    // Full sparse-path fit: features thresholded to ~70% zeros, forced
    // through the (indices, values) O(nnz) sparse engine for 4 iterations
    // from a deterministic warm start. The oracle replays the SAME
    // iterations with plain dense SQL — proving the nnz-only expanded-form
    // distance (0.5(|x|^2 - 2x.c + |c|^2)) and sparse aggregation produce
    // exactly the dense math's centers and sizes.
    "q_sparse_fit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            v => when(abs(v) < lit(0.13), lit(0.0)).otherwise(v)).as("f"))
      val centerRows = e.where(col("vec_id") < 8).orderBy(col("vec_id")).collect()
      val centerIds = centerRows.map(_.getLong(0))
      val init = centerRows.map(_.getSeq[Double](1).toArray)
      val m = new SparseKMeans().setK(init.length).setFeaturesCol("f")
        .setSparseMode("sparse").setMaxIter(4).setTol(0.0)
        .setInitialCenters(init).fit(e)
      val idOf = array(centerIds.map(lit(_)): _*)
      val sizes = m.transform(e)
        .groupBy(element_at(idOf, col("prediction") + 1).cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"))
      emitCenters(s, m.clusterCenters, sizes, centerIds(_))
    },
    // Full multi-view fit: views = first/last 32 dims of the embedding
    // with weights 1:2 (normalized 1/3:2/3), combined weighted-SE argmin
    // assignment + per-view mean update, 3 unrolled iterations through the
    // real MultiViewKMeans estimator. The oracle recomputes the two-slice
    // weighted distance; since both views are SE, the concatenated
    // per-view means equal the full-vector mean, so the update CTE is the
    // plain mean over the whole embedding.
    "q_multiview_fit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), 1, 32).as("f1"),
          slice(col("embedding").cast("array<double>"), 33, 32).as("f2"))
      val centerRows = e.where(col("vec_id") < 8).orderBy(col("vec_id")).collect()
      val centerIds = centerRows.map(_.getLong(0))
      val init = Array(
        centerRows.map(_.getSeq[Double](1).toArray),
        centerRows.map(_.getSeq[Double](2).toArray))
      val m = new graft.clustering.MultiViewKMeans()
        .setViews(Seq(ViewSpec("f1", 1.0), ViewSpec("f2", 2.0)))
        .setK(init(0).length).setMaxIter(3).setTol(0.0)
        .setInitialCenters(init)
        .fit(e)
      val idOf = array(centerIds.map(lit(_)): _*)
      val sizes = m.transform(e)
        .groupBy(element_at(idOf, col("prediction") + 1).cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"))
      // both views are SE, so concatenated per-view centers = full-vector rows
      val full = Array.tabulate(init(0).length)(c =>
        m.viewCenters(0)(c) ++ m.viewCenters(1)(c))
      emitCenters(s, full, sizes, centerIds(_))
    },
    // Full mixture-EM fit: 3 unrolled iterations of log-sum-exp E-step
    // (responsibilities from log pi_c - D(x, mu_c)) + responsibility-
    // weighted M-step with Dirichlet-smoothed mixing weights, through the
    // real BregmanMixture estimator. Output carries centers, MAP-component
    // sizes AND the final mixing weights.
    "q_mixture_fit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // embeddings are unit-normalized (sqdist <= 2.8), which makes the
      // E-step nearly uniform and collapses every component to the global
      // mean — scale features x4 (divergences x16) so the mixture keeps
      // distinct components and the oracle checks real per-component math
      val e = t(dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"), v => v * lit(4.0)).as("f"))
      val centerRows = e.where(col("vec_id") < 8).orderBy(col("vec_id")).collect()
      val centerIds = centerRows.map(_.getLong(0))
      val init = centerRows.map(_.getSeq[Double](1).toArray)
      val m = new graft.clustering.BregmanMixture().setK(init.length)
        .setFeaturesCol("f").setMaxIter(3).setTol(0.0)
        .setInitialCenters(init).fit(e)
      val idOf = array(centerIds.map(lit(_)): _*)
      val sizes = m.transform(e)
        .groupBy(element_at(idOf, col("prediction") + 1).cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"))
      import sp.implicits._
      val centers = m.componentCenters.zipWithIndex.flatMap { case (c, i) =>
        c.zipWithIndex.map { case (v, j) =>
          (centerIds(i), j.toLong, v, m.componentWeights(i)) }
      }.toSeq.toDF("cluster", "d", "v", "w")
      // LEFT join + coalesce: a component that wins zero MAP points must
      // still surface its center and weight (dropping it would silently
      // shrink the oracle's coverage)
      centers.join(sizes, Seq("cluster"), "left")
        .select(col("cluster"), col("d"), (round(col("v"), 4) + lit(0.0)).as("v"),
          (round(col("w"), 6) + lit(0.0)).as("w"), coalesce(col("n"), lit(0L)).as("n"))
    },
    // Full soft-EM fit: 3 unrolled iterations of Boltzmann E-step
    // (stable softmax over SE divergences, beta=2) + gamma-weighted mean
    // M-step, through the real SoftKMeans estimator; the SQL unroll
    // recomputes the soft memberships with window functions.
    "q_softkmeans_fit" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val centerRows = e.where(col("vec_id") < 8).orderBy(col("vec_id")).collect()
      val centerIds = centerRows.map(_.getLong(0))
      val init = centerRows.map(_.getSeq[Double](1).toArray)
      val m = new SoftKMeans().setK(init.length).setBeta(2.0).setFeaturesCol("f")
        .setMaxIter(3).setTol(0.0).setInitialCenters(init).fit(e)
      val idOf = array(centerIds.map(lit(_)): _*)
      val sizes = m.transform(e)
        .groupBy(element_at(idOf, col("prediction") + 1).cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"))
      import sp.implicits._
      val centers = m.clusterCenters.zipWithIndex.flatMap { case (c, i) =>
        c.zipWithIndex.map { case (v, j) => (centerIds(i), j.toLong, v) }
      }.toSeq.toDF("cluster", "d", "v")
      centers.join(sizes, "cluster")
        .select(col("cluster"), col("d"), (round(col("v"), 4) + lit(0.0)).as("v"), col("n"))
    },
    "q_bisecting_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val m = new BisectingKMeans().setK(8).setFeaturesCol("embedding")
        .setSeed(42).setMaxIter(5).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_xmeans_k" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // END-TO-END model selection through XMeans itself, with every
      // candidate fit warm-started from the first k embeddings (tol=0,
      // fixed 3 iterations, drop-empty) — the r6/r7 warm-start recipe
      // applied to the selection LOOP, so the whole BIC curve and the
      // winning k are SQL-replayable. Emits the full selection trace:
      // one row per candidate (k, bic, chosen).
      val e = t(dir, "embeddings")
      val feats = e.select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val seeds = feats.where(col("vec_id") < 10).orderBy(col("vec_id")).collect()
        .map(_.getSeq[Double](1).toArray)
      val xm = new XMeans().setMinK(8).setMaxK(10).setFeaturesCol("f")
        .setMaxIter(3).setTol(0.0).setSeed(42)
        .setEmptyClusterStrategy("drop")
        .setInitialCentersForK(k => seeds.take(k))
      xm.fit(feats)
      val bestK = xm.allScores.minBy { case (k, sc) => (sc, k) }._1
      import sp.implicits._
      xm.allScores.map { case (k, sc) => (k.toLong, sc) }.toDF("k", "raw")
        .select(col("k"), (round(col("raw"), 4) + lit(0.0)).as("bic"),
          (col("k") === lit(bestK.toLong)).cast("long").as("chosen"))
    },
    "q_softkmeans_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val m = new SoftKMeans().setK(8).setBeta(5.0).setFeaturesCol("embedding")
        .setSeed(42).setMaxIter(8).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_minibatch_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val m = new MiniBatchKMeans().setK(10).setBatchSize(256).setFeaturesCol("embedding")
        .setSeed(42).setMaxIter(15).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_dpmeans_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      // maxK below maxIter so the fit reaches the refine phase: growth
      // saturates at 12 centers, then >=3 full Lloyd iterations run before
      // the iteration budget ends (r2 verdict #7: maxK=32/maxIter=15 meant
      // every iteration spawned and the centers were raw outlier points).
      val m = new DPMeans().setLambda(0.45).setMaxK(12).setFeaturesCol("embedding")
        .setSeed(42).setMaxIter(15).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_clara_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val m = new graft.clustering.CLARA().setK(8).setNumSamples(3)
        .setFeaturesCol("embedding").setSeed(42).setMaxIter(10).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_kernelkmeans_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val m = new graft.clustering.KernelKMeans().setK(8).setMode("nystrom")
        .setKernelType("rbf").setGamma(0.5).setNumLandmarks(64)
        .setFeaturesCol("embedding").setSeed(42).setMaxIter(8).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_agglomerative_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // driver-local by nature (O(n^2)); run on a bounded id-slice and
      // score the FULL table against the resulting centroids distributed
      val e = t(dir, "embeddings")
      val slice = e.where(col("vec_id") < 400)
      val m = new graft.clustering.AgglomerativeBregman().setNumClusters(8)
        .setLinkage("ward").setFeaturesCol("embedding").fit(slice)
      m.setFeaturesCol("embedding")
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_ib_info" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // Information Bottleneck END-TO-END oracle: deterministic init (the
      // same p0(t|x) ∝ 1+((x+t) mod 4) the q_ib_step oracle replays) and
      // EXACTLY two BA iterations, so the oracle SQL unrolls the full
      // fixed-point chain (the q_xmeans_k warm-start pattern) and
      // hash-checks I(X;T)/I(T;Y) — not just row counts. Same X/Y base
      // as q_ib_step: integer n_chars bins vs lang, no float boundary
      // for the engines to disagree on.
      val docs = t(dir, "documents")
      val pairs = docs.select(
        least(lit(15), floor(col("n_chars") / 150)).cast("int").as("xbin"),
        col("lang").as("y"))
      val m = new graft.clustering.InformationBottleneck().setK(4).setBeta(2.0)
        .setFeaturesCol("xbin").setRelevanceCol("y")
        .setSmoothing(1e-6).setMaxIter(2).setTol(0.0)
        .setInitialEncoder((key, kk) =>
          Array.tabulate(kk)(t => (1.0 + ((key.toInt + t) % 4)) / 10.0))
        .fit(pairs)
      s.range(1).select(
        (round(lit(m.getCompressionInfo), 6) + lit(0.0)).as("i_xt"),
        (round(lit(m.getRelevanceInfo), 6) + lit(0.0)).as("i_ty"),
        lit(m.numClusters).as("k"))
    },
    "q_multiview_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // two 32-dim views of the embedding, weighted-sum combined argmin;
      // one agg job per iteration regardless of view count
      val e = t(dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), 1, 32).as("v1"),
          slice(col("embedding").cast("array<double>"), 33, 32).as("v2"))
      val m = new graft.clustering.MultiViewKMeans().setK(8)
        .setViews(Seq(
          graft.clustering.ViewSpec("v1", weight = 2.0),
          graft.clustering.ViewSpec("v2", weight = 1.0)))
        .setSeed(42).setMaxIter(8).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_spectral_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // distributed Nystrom spectral: no n x n Gram, no full collect —
      // landmark feature map + one degree sum + one m x m covariance
      // treeAggregate + shared k-means on the spectral embedding
      val e = t(dir, "embeddings")
      val m = new graft.clustering.SpectralClustering().setK(8)
        .setKernelType("rbf").setGamma(0.5).setUseNystrom(true)
        .setNumLandmarks(64).setFeaturesCol("embedding")
        .setSeed(42).setMaxIter(8).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_tskmeans_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // embeddings as length-64 series under banded DTW with DBA centroids
      val e = t(dir, "embeddings")
      val m = new graft.clustering.TimeSeriesKMeans().setK(4)
        .setSakoeChibaWindow(4)
        .setFeaturesCol("embedding").setSeed(42).setMaxIter(3).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_mutual_info" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // information measures over two discrete columns — the joint comes
      // from ONE distributed groupBy; H/MI/NMI are driver math, all
      // replicated in ANSI SQL by the oracle
      val li = t(dir, "lineitem")
      val (joint, _, _) = graft.ops.MutualInformation.estimateJoint(
        li, "l_returnflag", "l_linestatus")
      val flat = joint.flatten
      val ny = joint.head.length
      val py = (0 until ny).map(j => joint.map(_(j)).sum).toArray
      s.range(1).select(
        round(lit(graft.ops.MutualInformation.entropy(joint.map(_.sum))), 6).as("h_x"),
        round(lit(graft.ops.MutualInformation.entropy(py)), 6).as("h_y"),
        round(lit(graft.ops.MutualInformation.entropy(flat)), 6).as("h_xy"),
        round(lit(graft.ops.MutualInformation.mutualInformation(joint)), 6).as("mi"),
        round(lit(graft.ops.MutualInformation.normalizedMutualInformation(joint)), 6).as("nmi"))
    },
    "q_mixture_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // unit-norm embeddings give SE divergences ~1 -> near-uniform
      // responsibilities and a single surviving MAP component; scaling the
      // features sets the Boltzmann temperature so EM actually partitions
      val e = t(dir, "embeddings")
        .select(transform(col("embedding").cast("array<double>"), v => v * lit(8.0)).as("f"))
      val m = new graft.clustering.BregmanMixture().setK(8)
        .setFeaturesCol("f").setSeed(42).setMaxIter(8).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_coreset_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val m = new CoresetKMeans().setK(8).setCoresetSize(400).setRefinementIterations(2)
        .setFeaturesCol("embedding").setSeed(42).setMaxIter(10).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_robust_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val m = new RobustKMeans().setK(8).setOutlierFraction(0.05).setOutlierMode("trim")
        .setFeaturesCol("embedding").setSeed(42).setMaxIter(8).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_balanced_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val m = new BalancedKMeans().setK(8).setBalancePenalty(2.0)
        .setFeaturesCol("embedding").setSeed(42).setMaxIter(8).fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_constrained_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val est = new ConstrainedKMeans().setK(8).setIdCol("vec_id")
        .setConstraintWeight(10.0)
        .setConstraints(
          mustLinks = Seq((0L, 1L), (2L, 3L), (10L, 11L)),
          cannotLinks = Seq((0L, 2L), (4L, 5L)))
        .setFeaturesCol("embedding").setSeed(42).setMaxIter(8)
      val m = est.fit(e)
      m.transform(e).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_sparse_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // top-8-magnitude sparsification of the embeddings (the shape of a
      // pruned feature/TF vector), then the nnz-iterating sparse engine
      val e = t(dir, "embeddings")
      val sparsify = udf { (xs: Seq[Double]) =>
        val top = xs.zipWithIndex.sortBy { case (v, _) => -math.abs(v) }.take(8)
          .sortBy(_._2)
        org.apache.spark.ml.linalg.Vectors.sparse(xs.length,
          top.map(_._2).toArray, top.map(_._1).toArray)
      }
      val sp8 = e.select(col("vec_id"),
        sparsify(col("embedding").cast("array<double>")).as("features"))
      val m = new SparseKMeans().setK(8).setSparseMode("sparse")
        .setSeed(42).setMaxIter(8).fit(sp8)
      m.transform(sp8).groupBy(col("prediction")).agg(count(lit(1)).as("n"))
    },
    "q_soft_assign_fixed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // Boltzmann soft assignment against fixed centers (the SoftAssignments
      // operator itself) — pure exp/ratio math, replicated in DuckDB SQL.
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 3).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val withP = SoftAssignments.withProbabilities(
        e.select(col("vec_id"), col("embedding").cast("array<double>").as("f")),
        "f", centers, new SquaredEuclideanKernel, beta = 2.0, minMembership = 0.0,
        probabilityCol = "p")
      withP.select(col("vec_id"),
        round(element_at(col("p"), 1), 6).as("p0"),
        round(element_at(col("p"), 2), 6).as("p1"),
        round(element_at(col("p"), 3), 6).as("p2"))
    },
    "q_assign_fixed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // one assignment step against fixed centers (= embeddings 0,1,2),
      // the cross-join + argmin-agg formulation of SECrossJoinAssignment
      // (reference: df/strategies/impl/SECrossJoinAssignment.scala:17-74)
      // with min_by instead of a window sort.
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      pts.join(broadcast(centers))
        .withColumn("d2", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min_by(col("center_id"), struct(col("d2"), col("center_id"))).as("cluster"))
    },
    "q_kmedians_fixed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // one K-medians update step against fixed centers: L1 assignment,
      // then EXACT per-(cluster, dimension) median via the same
      // pre-aggregate + cumulative-weight window as Update.median —
      // fully SQL-expressible, so DuckDB replicates it bit-for-bit.
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val assigned = pts.join(broadcast(centers))
        .withColumn("d1", graft.functions.ArrayMath.l1dist(col("pv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("center_id"), col("pv")), struct(col("d1"), col("center_id"))).as("b"))
        .select(col("b.center_id").as("cluster"), col("b.pv").as("pv"))
      val grp = assigned
        .select(col("cluster"), posexplode(col("pv")).as(Seq("d", "v")))
        .select(col("cluster"), col("d").cast("long").as("d"), col("v"))
        .groupBy(col("cluster"), col("d"), col("v")).agg(count(lit(1)).as("w"))
      val part = Window.partitionBy(col("cluster"), col("d"))
      grp
        .withColumn("cw", sum(col("w")).over(part.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tw", sum(col("w")).over(part))
        .where(col("cw") >= col("tw") / 2)
        .groupBy(col("cluster"), col("d"))
        .agg(min(col("v")).as("med"))
    },
    "q_metrics_fixed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // the full evaluation-metrics layer against fixed centers
      // (embeddings 0..2, SE kernel with the 1/2 factor): WCSS, BCSS,
      // Calinski-Harabasz, Davies-Bouldin, Dunn — one assignment +
      // one aggregation job + driver k x k math, all replicated in
      // ANSI SQL by the oracle.
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 3).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val m = graft.clustering.ClusteringMetrics.compute(
        e.select(col("embedding").cast("array<double>").as("f")),
        "f", new SquaredEuclideanKernel, centers)
      s.range(1).select(
        round(lit(m.wcss), 4).as("wcss"),
        round(lit(m.bcss), 4).as("bcss"),
        round(lit(m.calinskiHarabasz), 4).as("ch"),
        round(lit(m.daviesBouldin), 4).as("db"),
        round(lit(m.dunn), 6).as("dunn"),
        lit(m.clusterSizes(0)).as("n0"),
        lit(m.clusterSizes(1)).as("n1"),
        lit(m.clusterSizes(2)).as("n2"))
    },
    // The full elbow sweep through elbowCurve ITSELF (per-k fits +
    // computeCost), warm-started per k from the first k embeddings with
    // tol=0 so the SQL unroll replays every iteration exactly.
    "q_elbow" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val warm = e.where(col("vec_id") < 4).orderBy("vec_id")
        .select(col("f")).collect().map(_.getSeq[Double](0).toArray)
      val curve = graft.clustering.ClusteringMetrics.elbowCurve(
        e.select(col("f")), minK = 2, maxK = 4, featuresCol = "f",
        maxIter = 3, tol = 0.0, init = k => Some(warm.take(k)))
      import sp.implicits._
      curve.toDF("rk", "rw")
        .select(col("rk").cast("long").as("k"),
          (round(col("rw"), 4) + lit(0.0)).as("wcss"))
    },
    // Center-proxy silhouette at FIXED centers, full fraction (the
    // sampled estimator with sampling off so the SQL replay is exact):
    // a = nearest-center divergence, b = second nearest, s=(b-a)/max.
    "q_silhouette_proxy" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val sil = graft.clustering.ClusteringMetrics.silhouette(
        e.select(col("embedding").cast("array<double>").as("f")),
        "f", new SquaredEuclideanKernel, centers, sampleFraction = 1.0)
      s.range(1).select((round(lit(sil), 6) + lit(0.0)).as("silhouette"))
    },
    // EXACT pairwise silhouette on a capped slice (first 200 vectors,
    // fixed centers): the O(n²) definition the center-proxy estimator
    // approximates, replayed pair by pair in SQL.
    "q_silhouette_exact" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val sil = graft.clustering.ClusteringMetrics.exactSilhouette(
        e.where(col("vec_id") < 200)
          .select(col("embedding").cast("array<double>").as("f")),
        "f", new SquaredEuclideanKernel, centers)
      s.range(1).select((round(lit(sil), 6) + lit(0.0)).as("silhouette"))
    },
    // Soft-metrics layer at fixed centers through the ACTUAL
    // SoftKMeansModel.effectiveClusters (exp of the entropy of the mean
    // membership distribution; beta=2, no membership floor).
    "q_soft_metrics" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val model = new graft.clustering.SoftKMeansModel("softmetrics-oracle",
        centers, "squaredEuclidean", 1e-10, 2.0, 0.0)
      val eff = model.effectiveClusters(
        e.select(col("embedding").cast("array<double>").as("features")))
      s.range(1).select((round(lit(eff), 6) + lit(0.0)).as("eff_clusters"),
        lit(centers.length.toLong).as("k"))
    },
    // The declarative FeatureTransform pipeline (fitted standard-scale
    // composed with row L2 normalization) through the .expr codegen
    // path — first 8 dims of every transformed vector.
    "q_feature_transform" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val std = graft.clustering.FeatureTransform.fitStandardScale(e, "f")
      val tf = std.andThen(graft.clustering.NormalizeL2Transform())
      e.select(col("vec_id"), posexplode(slice(tf.expr(col("f")), 1, 8)).as(Seq("d", "rv")))
        .select(col("vec_id"), col("d").cast("long").as("d"),
          (round(col("rv"), 6) + lit(0.0)).as("v"))
    },
    "q_wcss_fixed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      pts.join(broadcast(centers))
        .withColumn("d2", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("md"))
        .agg(round(sum(col("md")), 4).as("wcss"))
    },
    "q_elkan_fixed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // Elkan lemma-1 PRUNED assignment at fixed centers must equal the
      // exhaustive argmin — the oracle recomputes the full argmin in SQL,
      // so this hash-checks the pruning logic itself on real data
      // (reference: df/strategies/impl/AcceleratedSEAssignment.scala:64-238).
      val e = t(dir, "embeddings")
      // collect (vec_id, embedding) PAIRS and remap the assignment's
      // array index back to the actual vec_id, so the oracle comparison
      // holds even if the ids below 8 are not dense (r5 ADVICE)
      val centerRows = e.where(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
        .collect()
      val centerIds = centerRows.map(_.getLong(0))
      val centers = centerRows.map(_.getSeq[Double](1).toArray)
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      graft.clustering.ElkanAssignment.assign(pts, "f", centers)
        .select(col("vec_id"),
          element_at(array(centerIds.map(lit(_)): _*), col("cluster") + 1)
            .cast("long").as("cluster"),
          round(col("dist"), 6).as("dist"))
    },
    "q_spherical_fixed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // cosine-distance assignment at fixed centers through the native
      // graft_cosine codegen expression; DuckDB rebuilds cos(x, mu) from
      // scratch (dot / norms) — oracle-checks the spherical kernel math.
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      pts.join(broadcast(centers))
        .withColumn("cd", lit(1.0) - graft.functions.ArrayMath.cosine(col("pv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min_by(col("center_id"), struct(col("cd"), col("center_id"))).as("cluster"),
          (round(min(col("cd")), 6) + lit(0.0)).as("cosdist"))
    },
    "q_kl_assign_fixed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // KL-divergence assignment at fixed centers over positively-shifted
      // features, through the native graft_kl expression (eps=1e-10);
      // DuckDB replicates sum((x+eps)*ln((x+eps)/(mu+eps))) independently.
      val e = t(dir, "embeddings")
      val pos = e.select(col("vec_id"),
        transform(col("embedding").cast("array<double>"), v => abs(v) + lit(0.1)).as("pv"))
      val centers = pos.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("pv").as("cv"))
      pos.join(broadcast(centers))
        .withColumn("kl", graft.functions.ArrayMath.kl(col("pv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min_by(col("center_id"), struct(col("kl"), col("center_id"))).as("cluster"),
          (round(min(col("kl")), 6) + lit(0.0)).as("kl"))
    },
    "q_huber_fixed" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // One M-estimator (Huber) robust center update at fixed centers:
      // euclidean assignment, weight w = 1 if d<=thr else thr/d, then the
      // per-cluster per-dimension weighted mean (first 8 dims) — the
      // RobustKMeans m_estimator update arithmetic, oracle-checked
      // (reference: df/OutlierDetection.scala Huber M-estimator update).
      val e = t(dir, "embeddings")
      val thr = 1.0
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      // branch on the SQUARED distance (d2 <= thr^2) on both engines: a
      // 1-ulp sqrt disagreement exactly at the threshold would flip the
      // weight branch and hash-mismatch (r5 ADVICE); sqrt only feeds the
      // else-branch VALUE, which the 6-decimal rounding absorbs
      pts.join(broadcast(centers))
        .withColumn("d2", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("center_id").as("cluster"), col("pv"), col("d2")),
          struct(col("d2"), col("center_id"))).as("b"))
        .select(col("b.cluster").as("cluster"), col("b.pv").as("pv"), col("b.d2").as("d2"))
        .withColumn("w",
          when(col("d2") <= thr * thr, lit(1.0)).otherwise(lit(thr) / sqrt(col("d2"))))
        .select(col("cluster"), col("w"), posexplode(col("pv")).as(Seq("i", "v")))
        .where(col("i") < 8)
        .groupBy(col("cluster"), col("i"))
        .agg((round(sum(col("v") * col("w")) / sum(col("w")), 6) + lit(0.0)).as("cv"))
    },
    "q_balanced_step" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // One BalancedKMeans soft-shed step at fixed centers: cluster 0 is
      // marked oversized with an always-shed threshold, so every point
      // whose best center is 0 must land on its SECOND choice — the
      // quantile-shed branch's second-choice redirect in a deterministic,
      // SQL-checkable form (full-shed/no-shed only: no data-dependent
      // threshold boundary that a 1-ulp disagreement could flip).
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val ranked = pts.join(broadcast(centers))
        .withColumn("d2", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("center_id"))))
        .where(col("rn") <= 2)
      ranked.groupBy(col("vec_id"))
        .agg(min_by(col("center_id"), col("rn")).as("first_c"),
          max_by(col("center_id"), col("rn")).as("second_c"),
          min_by(col("d2"), col("rn")).as("first_d2"),
          max_by(col("d2"), col("rn")).as("second_d2"))
        .select(col("vec_id"),
          when(col("first_c") === 0, col("second_c")).otherwise(col("first_c")).as("cluster"),
          (round(when(col("first_c") === 0, col("second_d2")).otherwise(col("first_d2")), 6)
            + lit(0.0)).as("dist"))
    },
    "q_coreset_weights" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // CoresetKMeans sensitivity -> clamped sampling probability -> 1/p
      // importance weight at FIXED pilot centers (hybrid strategy,
      // distanceWeight=0.5, coresetSize=100, minProb/maxWeight defaults):
      // exactly buildCoreset's arithmetic minus the rand() draw, so the
      // whole importance-sampling math is oracle-checked end to end
      // (reference: ml/CoresetKMeans.scala:269-340).
      val e = t(dir, "embeddings")
      val pilots = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val d2 = pts.join(broadcast(pilots))
        .withColumn("dd", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")))
        .groupBy(col("vec_id")).agg(min(col("dd")).as("d2"))
      val mx = d2.agg(max(col("d2")).as("mx"))
      val withS = d2.crossJoin(broadcast(mx))
        .withColumn("ds", col("d2") / col("mx"))
        .withColumn("sv",
          lit(0.5) * col("ds") + lit(0.5) * (lit(1.0) + lit(1.0) / (col("ds") + lit(0.1))))
      val tot = withS.agg(sum(col("sv")).as("tot"))
      withS.crossJoin(broadcast(tot))
        .withColumn("p", least(lit(1.0), greatest(lit(1e-6), lit(100.0) * col("sv") / col("tot"))))
        .select(col("vec_id"), round(col("sv"), 6).as("sens"),
          round(col("p"), 6).as("p"),
          round(least(lit(1e6), lit(1.0) / col("p")), 6).as("w"))
    },
    "q_minibatch_step" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // One Sculley mini-batch center update at fixed centers with fixed
      // prior counts n0=10. The sequential per-point eta=1/count running
      // mean over a batch collapses to the closed form
      // new_c = (n0*c + sum_batch) / (n0 + |batch_c|) — exactly what
      // MiniBatchKMeans applies batch-at-a-time; first 8 dims
      // (reference: ml/MiniBatchKMeans.scala:152-338).
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val batch = e.where(col("vec_id") < 256)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val assigned = batch.join(broadcast(centers))
        .withColumn("d2", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("center_id").as("cluster"), col("pv")),
          struct(col("d2"), col("center_id"))).as("b"))
        .select(col("b.cluster").as("cluster"), col("b.pv").as("pv"))
      val sums = assigned
        .select(col("cluster"), posexplode(col("pv")).as(Seq("i", "v")))
        .where(col("i") < 8)
        .groupBy(col("cluster"), col("i"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).cast("double").as("cnt"))
      centers.select(col("center_id").as("cluster"), posexplode(col("cv")).as(Seq("i", "cvi")))
        .where(col("i") < 8)
        .join(sums, Seq("cluster", "i"), "left")
        .select(col("cluster"), col("i"),
          (round((lit(10.0) * col("cvi") + coalesce(col("sv"), lit(0.0))) /
            (lit(10.0) + coalesce(col("cnt"), lit(0.0))), 6) + lit(0.0)).as("cv"))
    },
    "q_minibatch_reassign" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // One Sculley mini-batch update through the ACTUAL
      // MiniBatchKMeans.step (the fit loop's exact batch body) with the
      // reassignmentRatio dying-center rule deterministically exercised:
      // center 3 is a constant far-off vector ([100]^64) that can attract
      // no embedding (sqdist >= 64*(100-1)^2 >> any inter-embedding
      // distance), so its count stays at its 0 prior, 0 < ratio*max, and
      // it must move to the batch's highest-cost point (assignment sqdist
      // DESC, vec_id ASC tie-break) with count reset to 1. Centers 0..2
      // take the closed-form running-mean merge
      // new_c = (n0*c + sum_batch)/(n0 + |batch_c|) at prior counts 10.
      // First 8 dims (reference: ml/MiniBatchKMeans.scala:98,143-144,
      // 291-300 — the param's contract; the reassignment TARGET here is
      // the deterministic cost-seeking choice where the reference
      // rand.shuffles).
      val e = t(dir, "embeddings")
      val base = e.where(col("vec_id") < 3).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      val centers = base :+ Array.fill(64)(100.0)
      val counts = Array(10.0, 10.0, 10.0, 0.0)
      val batch = e.where(col("vec_id") >= 4 && col("vec_id") < 132)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val (cs, cn) = graft.clustering.MiniBatchKMeans.step(batch, "pv",
        "vec_id", centers, counts, "squaredEuclidean", 1e-10, 0.01)
      import sp.implicits._
      cs.zipWithIndex.flatMap { case (c, ci) =>
        c.take(8).zipWithIndex.map { case (v, i) =>
          (ci.toLong, i.toLong, v, cn(ci))
        }
      }.toSeq.toDF("cluster", "i", "rv", "rc")
        .select(col("cluster"), col("i"),
          (round(col("rv"), 6) + lit(0.0)).as("cv"),
          (round(col("rc"), 6) + lit(0.0)).as("cnt"))
    },
    "q_streamkm_step" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // One StreamingKMeans batch update through the ACTUAL
      // StreamingKMeansModel.update(): fixed initial centers (first 4
      // embeddings, weights 1.0), one fixed batch (vec_id 4..199),
      // decay 0.9 per batch. The forgetful update replays in closed
      // form: n' = 0.9 + m_c, center' = (1-λ)c + λ·centroid with
      // λ = m_c/max(n',1e-16); untouched clusters keep c and n'=0.9.
      // Weights stay >= 0.9 so the dying-cluster split cannot trigger —
      // the replay is exact (reference: ml/StreamingKMeans.scala
      // forgetful update; same math as Spark's streaming k-means).
      val e = t(dir, "embeddings")
      val init = e.where(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      val m = new graft.streaming.StreamingKMeansModel("streamkm-oracle",
        init, "squaredEuclidean", 1e-10, 0.9, "batches")
      val batch = e.where(col("vec_id") >= 4 && col("vec_id") < 200)
        .select(col("embedding").cast("array<double>").as("features"))
      m.update(batch)
      val ws = m.clusterWeights
      import sp.implicits._
      m.currentCenters.zipWithIndex.flatMap { case (c, i) =>
        c.zipWithIndex.map { case (v, j) => (i.toLong, j.toLong, v, ws(i)) }
      }.toSeq.toDF("cluster", "d", "rv", "rw")
        .select(col("cluster"), col("d"),
          (round(col("rv"), 4) + lit(0.0)).as("v"),
          (round(col("rw"), 6) + lit(0.0)).as("w"))
    },
    "q_xmeans_bic" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // BIC and AIC at fixed centers/assignments through XMeans.score
      // ITSELF (the actual model-selection code path), with the clustering
      // cost computed distributed; DuckDB rebuilds the Gaussian
      // log-likelihood closed form independently
      // (reference: ml/XMeans.scala:250-271).
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val dim = e.select(col("embedding")).head().getSeq[Any](0).length
      val row = pts.join(broadcast(centers))
        .withColumn("d2", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")))
        .groupBy(col("vec_id")).agg((min(col("d2")) / 2).as("md"))
        .agg(sum(col("md")).as("cost"), count(lit(1)).as("n")).head()
      val (cost, n) = (row.getDouble(0), row.getLong(1))
      val bic = new XMeans().score(cost, 4, n, dim)
      val aic = new XMeans().setCriterion("aic").score(cost, 4, n, dim)
      s.range(1).select(round(lit(bic), 4).as("bic"), round(lit(aic), 4).as("aic"),
        lit(n).as("n"))
    },
    "q_bisecting_split" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // BisectingKMeans split-selection pass at fixed centers: per-cluster
      // size and SSE, with the split target chosen as the LARGEST cluster
      // (id tie-break) — the reference's divisible-cluster selection rule
      // (reference: ml/BisectingKMeans.scala:136-202).
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val stats = pts.join(broadcast(centers))
        .withColumn("d2", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min_by(col("center_id"), struct(col("d2"), col("center_id"))).as("cluster"),
          min(col("d2")).as("md"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), round(sum(col("md")), 4).as("sse"))
      // split target = largest n, smallest cluster id on ties; a 1-row
      // max_by aggregate broadcast back instead of a global Window (which
      // collapses to one partition and trips the WindowExec warning)
      val best = stats.agg(
        max_by(col("cluster"), struct(col("n"), -col("cluster"))).as("bc"))
      stats.crossJoin(broadcast(best))
        .select(col("cluster"), col("n"), col("sse"),
          (col("cluster") === col("bc")).cast("int").cast("long").as("chosen"))
    },
    "q_softmix_estep" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // BregmanMixture E-step at fixed mixture weights and centers:
      // responsibilities r_c = exp(ln pi_c - D(x,mu_c) - logsumexp) with
      // the same stable log-sum-exp the EM UDF uses; pi_c = (c+1)/10 so
      // the weight term is non-uniform and actually exercised
      // (reference: ml/BregmanSoftClustering.scala E-step).
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("comp"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val w = Window.partitionBy(col("vec_id"))
      pts.join(broadcast(centers))
        .withColumn("lp",
          log((col("comp").cast("double") + lit(1.0)) / lit(10.0))
            - graft.functions.ArrayMath.sqdist(col("pv"), col("cv")) / 2)
        .withColumn("mx", max(col("lp")).over(w))
        .withColumn("lse", col("mx") + log(sum(exp(col("lp") - col("mx"))).over(w)))
        .select(col("vec_id"), col("comp"),
          (round(exp(col("lp") - col("lse")), 6) + lit(0.0)).as("resp"))
    },
    "q_dpmeans_step" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // One DP-means pass at fixed centers and lambda: each point takes
      // its argmin center unless the kernel (half-squared) distance
      // exceeds lambda, in which case it is an outlier / new-cluster
      // candidate (cluster -1) — the per-point decision rule of
      // DPMeans.fit, with lambda at the sf-stable median so both branches
      // are exercised (reference: ml/DPMeans.scala assignment/outlier split).
      val e = t(dir, "embeddings")
      val lambda = 0.875
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      pts.join(broadcast(centers))
        .withColumn("d", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")) / 2)
        .groupBy(col("vec_id"))
        .agg(min_by(col("center_id"), struct(col("d"), col("center_id"))).as("best"),
          min(col("d")).as("md"))
        .select(col("vec_id"),
          when(col("md") <= lit(lambda), col("best")).otherwise(lit(-1)).as("cluster"),
          (round(col("md"), 6) + lit(0.0)).as("dist"))
    },
    "q_multiview_step" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // One MultiViewKMeans combined-argmin pass at fixed centers: views
      // are dims [0,32) and [32,64) with weights 0.7/0.3; combined
      // distance = 0.7*d2(view1) + 0.3*d2(view2), argmin with center-id
      // tie-break — exactly the weighted-sum assignment MultiViewKMeans
      // runs per iteration (reference: ml/MultiViewKMeans.scala combined
      // distance).
      val e = t(dir, "embeddings")
      val full = e.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), 1, 32).as("v1"),
        slice(col("embedding").cast("array<double>"), 33, 32).as("v2"))
      val centers = full.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("v1").as("c1"), col("v2").as("c2"))
      full.join(broadcast(centers))
        .withColumn("comb",
          lit(0.7) * graft.functions.ArrayMath.sqdist(col("v1"), col("c1"))
            + lit(0.3) * graft.functions.ArrayMath.sqdist(col("v2"), col("c2")))
        .groupBy(col("vec_id"))
        .agg(min_by(col("center_id"), struct(col("comb"), col("center_id"))).as("cluster"),
          (round(min(col("comb")), 6) + lit(0.0)).as("dist"))
    },
    "q_clara_score" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // CLARA's distributed full-data scoring of fixed medoids: sum over
      // all rows of the min EUCLIDEAN (metric, not squared) distance to
      // any medoid — the one-agg scoring job CLARA.fit runs per sample
      // set (reference: ml/CLARA.scala full-data cost pass).
      val e = t(dir, "embeddings")
      val medoids = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("medoid_id"), col("embedding").cast("array<double>").as("mv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      pts.join(broadcast(medoids))
        .withColumn("d", sqrt(graft.functions.ArrayMath.sqdist(col("pv"), col("mv"))))
        .groupBy(col("vec_id")).agg(min(col("d")).as("md"))
        .agg(round(sum(col("md")), 4).as("cost"), count(lit(1)).as("n"))
    },
    "q_spectral_degree" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // Spectral affinity degrees through SpectralGraph ITSELF (the exact
      // driver-local path used for n <= cap): full RBF affinity
      // (gamma=0.25, zero diagonal) over the first 64 embeddings, then
      // the degree vector d_i = sum_j W_ij — the quantity that feeds the
      // normalized Laplacian; DuckDB rebuilds it independently
      // (reference: df/SpectralGraph.scala affinity + degrees).
      val e = t(dir, "embeddings")
      val pts = e.where(col("vec_id") < 64).orderBy("vec_id")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
        .collect()
      val ids = pts.map(_.getLong(0))
      val xs = pts.map(_.getSeq[Double](1).toArray)
      val w = SpectralGraph.buildAffinity(xs, graft.kernels.RBFKernel(0.25), "full")
      val deg = SpectralGraph.degrees(w)
      import s.implicits._
      ids.zip(deg).toSeq.toDF("vec_id", "deg")
        .select(col("vec_id"), (round(col("deg"), 6) + lit(0.0)).as("degree"))
    },
    "q_agglomerative_merge" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // First agglomerative merge decision through AgglomerativeBregman.fit
      // ITSELF on the first 8 embeddings (driver-local by design, SURVEY
      // §2.3): the closest pair under the ½-SE Bregman divergence with the
      // scan-order tie-break; DuckDB independently finds the closest pair
      // (reference: ml/AgglomerativeBregman.scala merge selection).
      val e = t(dir, "embeddings")
      val pts = e.where(col("vec_id") < 8).orderBy("vec_id") // leaf i == vec_id i
      val m = new graft.clustering.AgglomerativeBregman().setNumClusters(1)
        .setLinkage("single").setFeaturesCol("embedding").fit(pts)
      val first = m.dendrogram.head
      s.range(1).select(
        lit(first.a).cast("long").as("a"), lit(first.b).cast("long").as("b"),
        (round(lit(first.distance), 6) + lit(0.0)).as("dist"))
    },
    "q_robust_trim" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // RobustKMeans trimmed update at fixed centers: assign, drop the
      // ceil(20%) farthest rows by (distance, vec_id) RANK — rank-based,
      // so no data-dependent threshold boundary a 1-ulp disagreement could
      // flip — then the per-cluster mean of the first 4 dims over kept
      // rows (reference: ml/RobustKMeans.scala trimmed update; the drop
      // set is a distributed ordered top-k, not a global sort).
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val asg = pts.join(broadcast(centers))
        .withColumn("d2", graft.functions.ArrayMath.sqdist(col("pv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("center_id").as("cluster"), col("pv")),
          struct(col("d2"), col("center_id"))).as("b"), min(col("d2")).as("md"))
        .select(col("vec_id"), col("b.cluster").as("cluster"), col("b.pv").as("pv"), col("md"))
        // consumed 3x (count, top-k drop set, anti-join left side); cache
        // so the broadcast-join + min_by agg runs once (bench/verify
        // clearCache releases it)
        .persist()
      val nTotal = asg.count()
      val nDrop = math.ceil(0.2 * nTotal).toLong
      // TakeOrderedAndProject: each partition contributes its local top-k
      val dropped = asg.orderBy(col("md").desc, col("vec_id").desc)
        .limit(nDrop.toInt).select(col("vec_id"))
      asg.join(broadcast(dropped), Seq("vec_id"), "left_anti")
        .select(col("cluster"), posexplode(col("pv")).as(Seq("i", "v")))
        .where(col("i") < 4)
        .groupBy(col("cluster"), col("i").cast("long").as("i"))
        .agg((round(avg(col("v")), 6) + lit(0.0)).as("cv"),
          count(lit(1)).as("n_kept"))
    },
    "q_mixture_mstep" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // BregmanMixture M-step at responsibilities from the fixed-parameter
      // E-step (same stable log-sum-exp as q_softmix_estep): pi'_c =
      // sum(r)/n and mu'_c[i] = sum(r*x_i)/sum(r) — for SE the gradient is
      // the identity, so the weighted grad mean IS the weighted mean
      // (reference: df/EMIterator.scala M-step); first 4 dims.
      val e = t(dir, "embeddings")
      val centers = e.where(col("vec_id") < 4)
        .select(col("vec_id").as("comp"), col("embedding").cast("array<double>").as("cv"))
      val pts = e.select(col("vec_id"), col("embedding").cast("array<double>").as("pv"))
      val w = Window.partitionBy(col("vec_id"))
      val resp = pts.join(broadcast(centers))
        .withColumn("lp",
          log((col("comp").cast("double") + lit(1.0)) / lit(10.0))
            - graft.functions.ArrayMath.sqdist(col("pv"), col("cv")) / 2)
        .withColumn("mx", max(col("lp")).over(w))
        .withColumn("lse", col("mx") + log(sum(exp(col("lp") - col("mx"))).over(w)))
        .select(col("comp"), col("pv"), exp(col("lp") - col("lse")).as("r"))
      val nTotal = pts.count()
      resp.select(col("comp"), col("r"), posexplode(col("pv")).as(Seq("i", "v")))
        .where(col("i") < 4)
        .groupBy(col("comp"), col("i").cast("long").as("i"))
        .agg((round(sum(col("r") * col("v")) / sum(col("r")), 6) + lit(0.0)).as("mu"),
          (round(sum(col("r")) / lit(nTotal.toDouble), 6) + lit(0.0)).as("pi"))
    },
    "q_sparse_step" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // Sparse SE assignment at fixed centers over an (indices, values)
      // representation (|v| >= 0.15 kept, ~23% nnz at this SF): distance
      // via the sparse decomposition ||x||² − 2⟨x,c⟩ + ||c||² where the
      // dot touches only indices present in BOTH sparse vectors (map
      // lookup) — the O(nnz) arithmetic SparseKMeans runs instead of the
      // dense loop (reference: df/kernels/SparseBregmanKernel.scala SE
      // decomposition).
      val e = t(dir, "embeddings")
      val thr = 0.15
      def sparse(src: Column): (Column, Column) = {
        val idx = filter(sequence(lit(1), size(src)), i => abs(element_at(src, i)) >= thr)
        (idx, transform(idx, i => element_at(src, i)))
      }
      val arr = col("embedding").cast("array<double>")
      val (pi_, pv_) = sparse(arr)
      val base = e.select(col("vec_id"), pi_.as("pidx"), pv_.as("pval"))
        .withColumn("pn", aggregate(col("pval"), lit(0.0), (a, v) => a + v * v))
      val centers = base.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"),
          map_from_arrays(col("pidx"), col("pval")).as("cmap"), col("pn").as("cn"))
      base.join(broadcast(centers))
        .withColumn("dot", aggregate(
          zip_with(col("pidx"), col("pval"),
            (i, v) => v * coalesce(element_at(col("cmap"), i), lit(0.0))),
          lit(0.0), (a, v) => a + v))
        .withColumn("d", col("pn") - lit(2.0) * col("dot") + col("cn"))
        .groupBy(col("vec_id"))
        .agg(min_by(col("center_id"), struct(col("d"), col("center_id"))).as("cluster"),
          (round(min(col("d")), 6) + lit(0.0)).as("dist"),
          first(size(col("pidx"))).cast("long").as("nnz"))
    },
    "q_sparse_kl_step" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // Sparse KL assignment at fixed centers via the zero-term
      // decomposition SparseKMeans runs: D = Z_c + Σ_nnz [(v+ε)ln((v+ε)/
      // (m+ε)) − ε·ln(ε/(m+ε))] with Z_c = Σ_j ε·ln(ε/(m_j+ε)) — absent
      // center dims contribute ln(1)=0, so Z_c only touches the CENTER's
      // nnz. O(nnz) per row-center pair, rows never densify (reference:
      // df/kernels/SparseBregmanKernel.scala KL decomposition).
      val e = t(dir, "embeddings")
      val thr = 0.15
      val eps = 1e-6
      val arr = col("embedding").cast("array<double>")
      val pidx = filter(sequence(lit(1), size(arr)), i => abs(element_at(arr, i)) >= thr)
      val base = e.select(col("vec_id"), pidx.as("pidx"),
        transform(pidx, i => abs(element_at(arr, i))).as("pval"))
      val centers = base.where(col("vec_id") < 4)
        .select(col("vec_id").as("center_id"),
          map_from_arrays(col("pidx"), col("pval")).as("cmap"),
          aggregate(col("pval"), lit(0.0),
            (a, m) => a + lit(eps) * log(lit(eps) / (m + lit(eps)))).as("zc"))
      base.join(broadcast(centers))
        .withColumn("d", col("zc") + coalesce(aggregate(
          zip_with(col("pidx"), col("pval"), (i, v) => {
            val m = coalesce(element_at(col("cmap"), i), lit(0.0))
            (v + lit(eps)) * log((v + lit(eps)) / (m + lit(eps))) -
              lit(eps) * log(lit(eps) / (m + lit(eps)))
          }),
          lit(0.0), (a, x) => a + x), lit(0.0)))
        .groupBy(col("vec_id"))
        .agg(min_by(col("center_id"), struct(col("d"), col("center_id"))).as("cluster"),
          (round(min(col("d")), 6) + lit(0.0)).as("dist"),
          first(size(col("pidx"))).cast("long").as("nnz"))
    },
    "q_ib_step" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // One Blahut-Arimoto update at a FIXED deterministic p(t|x): the
      // joint comes from MutualInformation.estimateJoint (the same ONE
      // distributed groupBy the IB fit uses — 100 TB of rows reduce to a
      // contingency table); the update p(t|x)' ∝ p(t)·exp(−β·KL(p(y|x)‖
      // p(y|t))) mirrors the fit's loop body exactly (same smoothing,
      // same row-sum normalization, same log-space softmax). X = integer
      // length bins, Y = the lang column — no float binning boundary for
      // the two engines to disagree on. p0(t|x) ∝ 1+((x+t) mod 4), whose
      // row sum is always 10 (reference: ml/InformationBottleneck.scala
      // BA fixed point).
      val docs = t(dir, "documents")
      val kk = 4; val beta = 2.0; val eps = 1e-6
      val pairs = docs.select(
        least(lit(15), floor(col("n_chars") / 150)).cast("int").as("__x"),
        col("lang").as("__y"))
      val (joint, xVals, yVals) = graft.ops.MutualInformation.estimateJoint(pairs, "__x", "__y")
      val numX = xVals.length; val numY = yVals.length
      val total = joint.map(_.sum).sum
      val pX = joint.map(_.sum / total)
      val pYgX = joint.map { row =>
        val rs = row.sum + eps * numY
        row.map(v => (v + eps) / rs)
      }
      val xInts = xVals.map(_.toString.toInt)
      val p0 = Array.tabulate(numX, kk)((xi, tt) => (1.0 + ((xInts(xi) + tt) % 4)) / 10.0)
      val pT = Array.tabulate(kk)(tt => (0 until numX).map(x => pX(x) * p0(x)(tt)).sum)
      val pYgT = Array.tabulate(kk) { tt =>
        val row = new Array[Double](numY)
        for (x <- 0 until numX; y <- 0 until numY) row(y) += pX(x) * p0(x)(tt) * pYgX(x)(y)
        val rs = row.sum
        row.map(_ / rs) // rs > 0 always: smoothing keeps every cell positive
      }
      val out = (0 until numX).flatMap { xi =>
        val logits = Array.tabulate(kk) { tt =>
          var klv = 0.0
          var y = 0
          while (y < numY) {
            val p = pYgX(xi)(y)
            klv += p * math.log(p / math.max(pYgT(tt)(y), 1e-300))
            y += 1
          }
          math.log(math.max(pT(tt), 1e-300)) - beta * klv
        }
        val mx = logits.max
        val ex = logits.map(l => math.exp(l - mx))
        val z = ex.sum
        (0 until kk).map(tt => (xInts(xi).toLong, tt.toLong, ex(tt) / z))
      }
      import s.implicits._
      out.toDF("xbin", "t", "p")
        .select(col("xbin"), col("t"), (round(col("p"), 6) + lit(0.0)).as("p"))
    },
    // ---- multimodal columns ----
    "q_multimodal_fingerprint" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // binary-payload asset table (typed meta struct) -> exact binary
      // dedup via one md5 hash aggregate; DuckDB replicates the md5
      val assets = graft.ops.Multimodal.assetsFromDocuments(t(dir, "documents"))
      graft.ops.Multimodal.exactBinaryDedup(assets, "asset_id", "payload")
    },
    "q_multimodal_integrity" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // referential integrity of multimodal references: embeddings point
      // at asset_id = vec_id * 2; LEFT ANTI join surfaces dangling refs
      val assets = graft.ops.Multimodal.assetsFromDocuments(t(dir, "documents"))
      val refs = t(dir, "embeddings")
        .select(col("vec_id").as("ref_id"), (col("vec_id") * 2).as("asset_ref"))
      graft.ops.Multimodal.orphanRefs(refs, "asset_ref", assets, "asset_id")
        .select(col("ref_id"), col("asset_ref"))
    },
    "q_multimodal_features" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // stub-decode + per-partition feature extraction + byte-range frame
      // sampling over the binary payloads (deterministic fake decoder —
      // plumbing is real, codec is the documented stub)
      val assets = graft.ops.Multimodal.assetsFromDocuments(t(dir, "documents"))
      val withFrames = assets.withColumn("n_frames",
        size(graft.ops.Multimodal.sampleFrames(col("payload"), 64, 2)))
      graft.ops.Multimodal.extractFeatures(withFrames, "payload", "feat")
        .select(col("asset_id"), col("n_frames").cast("long").as("n_frames"),
          col("meta.sizeBytes").as("size_bytes"),
          (round(aggregate(col("feat").cast("array<double>"), lit(0.0),
            (a, v) => a + v * v), 6) + lit(0.0)).as("feat_sq_norm"))
    },
    // ---- co-clustering ----
    "q_cocluster_blocks" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // one co-clustering block-center pass with FIXED modulo assignments
      // over lineitem's (orderkey, linenumber, quantity) triples — exactly
      // the per-iteration block aggregation of CoClustering.fit, plain SQL
      // so DuckDB replicates it (objective term included via F(v)=v^2/2).
      t(dir, "lineitem")
        .groupBy(pmod(col("l_orderkey"), lit(4)).cast("int").as("rc"),
          pmod(col("l_linenumber"), lit(3)).cast("int").as("cc"))
        .agg(round(avg(col("l_quantity")), 6).as("block_mean"),
          count(lit(1)).as("n"),
          round(sum(col("l_quantity") * col("l_quantity") * lit(0.5)), 4).as("f_sum"))
    },
    "q_cocluster_sizes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // learned co-clustering on a parts x suppliers quantity matrix
      val li = t(dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(200)).as("rowIndex"),
          pmod(col("l_suppkey"), lit(50)).as("colIndex"),
          col("l_quantity").as("value"))
        .groupBy("rowIndex", "colIndex").agg(avg("value").as("value"))
      val m = new graft.clustering.CoClustering()
        .setNumRowClusters(4).setNumColClusters(3)
        .setMaxIter(8).setSeed(42).fit(li)
      m.rowAssignments.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    },
    // ---- event-time sessionization (flatMapGroupsWithState on batch) ----
    "q_sessionize" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // gap-based sessions per user via the custom-state operator (the
      // same code path Structured Streaming runs with event-time timeout);
      // ORACLE: the classic lag/cumsum session SQL reproduces it exactly
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = t(dir, "events")
      val ev = evRaw
        .select(col("user_id"), timestamp_millis(eventTsMs(evRaw)).as("ts"), col("value"))
      graft.streaming.EventOps.sessionize(ev, "user_id", "ts", "value",
        gapMs = 30 * 60000L).toDF()
        .select(col("key").as("user_id"), col("startMs").as("start_ms"),
          col("endMs").as("end_ms"), col("numEvents").as("n_events"),
          round(col("totalValue"), 4).as("total_value"))
    },
    // ---- event-time windowed aggregation (streaming semantics on batch) ----
    "q_events_window" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // bucket events to epoch-second hours (portable across engines);
      // ts handling is schema-adaptive via eventTsMs.
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = t(dir, "events")
      evRaw
        .groupBy((floor(eventTsMs(evRaw) / lit(3600000L)) * 3600).cast("long").as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
    },
    // ---- native session_window sibling of q_sessionize: the
    // declarative form Catalyst plans itself; SAME oracle fragment as
    // the custom-state operator (they are spec-asserted equal, and the
    // lag/cumsum SQL replays both).
    "q_session_native" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = t(dir, "events")
      val ev = evRaw
        .select(col("user_id"), timestamp_millis(eventTsMs(evRaw)).as("ts"), col("value"))
      graft.streaming.EventOps.sessionizeNative(ev, "user_id", "ts", "value",
          gap = "30 minutes")
        .select(col("key").as("user_id"), col("startMs").as("start_ms"),
          col("endMs").as("end_ms"), col("numEvents").as("n_events"),
          round(col("totalValue"), 4).as("total_value"))
    },
    // ---- temporal embargo split (eval hygiene for time-structured
    // data): fixed cutoff 2024-01-02T00:00Z + 6 h embargo.
    "q_time_split" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = t(dir, "events")
      // timeSplit refuses null timestamps by contract; the split of an
      // event with no event time is undefined, so exclude upstream (the
      // oracle filters identically)
      graft.ops.Sampling.timeSplit(
          evRaw.select(col("event_id"), eventTsMs(evRaw).as("ts_ms"))
            .where(col("ts_ms").isNotNull),
          "ts_ms", cutoff = 1704153600000L, embargo = 6 * 3600000L)
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
    },
    // ---- broadcast as-of lookup (the stream-safe serving sibling of
    // q_asof_join — zero shuffle, binary-search probe): same contract,
    // same carry oracle.
    "q_asof_lookup" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = t(dir, "events")
      val e = evRaw.select(col("event_id"), col("user_id"),
        eventTsMs(evRaw).as("ts_ms"), col("event_type"), col("value"))
      val snaps = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("snap_id"), col("user_id"), col("ts_ms"),
          col("value").as("pv"))
      val lefts = e.where(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts_ms")
      graft.ops.AsofJoin.asofLookup(lefts, snaps, "user_id", "ts_ms", "pv",
          "snap_id", tolerance = Some(86400000L))
        .select(col("event_id"), col("user_id"), col("ts_ms"), col("asof_ts"),
          (round(col("asof_pv"), 4) + lit(0.0)).as("asof_pv"))
    },
    // ---- backward as-of join (temporal enrichment, union-window form):
    // every non-purchase event picks the user's latest prior purchase
    // within 24 h; the whole union/window/tolerance chain replays in SQL.
    "q_asof_join" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = t(dir, "events")
      val e = evRaw.select(col("event_id"), col("user_id"),
        eventTsMs(evRaw).as("ts_ms"), col("event_type"), col("value"))
      val snaps = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("snap_id"), col("user_id"), col("ts_ms"),
          col("value").as("purchase_value"))
      val lefts = e.where(col("event_type") =!= "purchase")
      graft.ops.AsofJoin.asofJoin(lefts, snaps, "user_id", "ts_ms",
          Seq("purchase_value"), "snap_id", tolerance = Some(86400000L))
        .select(col("event_id"), col("user_id"), col("ts_ms"), col("event_type"),
          (round(col("value"), 4) + lit(0.0)).as("value"), col("asof_ts"),
          (round(col("asof_purchase_value"), 4) + lit(0.0)).as("asof_purchase_value"))
    },
    // ---- bucketed range join: every event attributed to its containing
    // session (sessionize output as the interval side). The ORACLE is
    // the naive inequality join over lag/cumsum sessions — an
    // INDEPENDENT formulation, not a replay of the bucketed plan.
    "q_range_join" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = t(dir, "events")
      val ev = evRaw.select(col("event_id"), col("user_id"),
        eventTsMs(evRaw).as("ts_ms"), col("value"))
      val sessions = graft.streaming.EventOps.sessionize(
          ev.select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts"), col("value")),
          "user_id", "ts", "value", gapMs = 30 * 60000L).toDF()
        .select(col("key").as("user_id"), col("startMs").as("start_ms"),
          col("endMs").as("end_ms"), col("numEvents").as("n_events"))
      graft.ops.RangeJoin.rangeJoin(ev.select("event_id", "user_id", "ts_ms"),
          sessions, "user_id", "ts_ms", "start_ms", "end_ms", widthMs = 3600000L)
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          col("ivl_start_ms"), col("ivl_end_ms"), col("ivl_n_events"))
    },
    // ---- fill-forward resampling: a 6-hour grid per user over their
    // purchase history, each tick carrying the latest prior purchase.
    "q_fill_forward" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = t(dir, "events")
      val obs = evRaw.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), eventTsMs(evRaw).as("ts_ms"), col("value"))
      graft.ops.AsofJoin.fillForward(obs, "user_id", "ts_ms", Seq("value"),
          "event_id", stepMs = 6 * 3600000L)
        .select(col("user_id"), col("ts_ms"), col("asof_ts"),
          (round(col("asof_value"), 4) + lit(0.0)).as("asof_value"))
    },
    // ---- linear-interpolation resampling: fillForward's interpolating
    // sibling on the same 6-hour purchase grid (both window directions
    // ride ONE exchange).
    "q_fill_interp" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = t(dir, "events")
      val obs = evRaw.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), eventTsMs(evRaw).as("ts_ms"), col("value"))
      graft.ops.AsofJoin.fillInterpolate(obs, "user_id", "ts_ms", "value",
          "event_id", stepMs = 6 * 3600000L)
        .select(col("user_id"), col("ts_ms"), col("prev_ts"), col("next_ts"),
          (round(col("value"), 4) + lit(0.0)).as("value"))
    },
    // ---- SSL-prototypes scoring (Sorscher et al. 2022) under a supplied
    // quantizer (embeddings vec_id < 8 — the q_ann_ivf_pruned trick, so
    // assignment, cosine, and per-cluster rank are all deterministic).
    "q_prototypes" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val cents = e.where(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      graft.ops.Prototypes.prototypicality(e, "vec_id", "embedding", cents)
        .select(col("vec_id"), col("cluster"), col("n_cluster"), col("rank"),
          (round(col("cosine"), 6) + lit(0.0)).as("cosine"))
    },
    // Diversity-preserving prune: keep the hardest third of each cluster
    // (integer ceil boundary — no float decides membership).
    "q_proto_prune" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
      val cents = e.where(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      graft.ops.Prototypes.prunePrototypes(e, "vec_id", "embedding", cents, 1L, 3L)
        .select(col("vec_id"), col("cluster"), col("n_cluster"), col("rank"),
          (round(col("cosine"), 6) + lit(0.0)).as("cosine"))
    },
    // ---- training-shard manifest: deterministic md5 shard assignment +
    // order-independent 60-bit XOR digests (the export integrity contract).
    "q_shard_manifest" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val sharded = graft.sources.ShardExport.assignShards(
        t(dir, "documents"), "doc_id", 8, "r14shard")
      graft.sources.ShardExport.manifest(sharded, "doc_id", Seq("text"),
        TextOps.tokenCount(col("text")))
    },
    // ---- corpus snapshot diff: a deterministically perturbed "today"
    // snapshot (drops %17, edits %5, re-keys %13 as additions) diffed
    // against the original — all four status classes exercised.
    "q_snapshot_diff" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      val newSnap = docs.where(pmod(col("doc_id"), lit(17)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" EDIT"))).otherwise(col("text")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(13)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L)))
      graft.ops.SnapshotDiff.diff(docs, newSnap, "doc_id", Seq("text", "lang"))
    },
    // ---- PCA covariance: the one-pass treeAggregate moment estimate
    // behind Pca.fit, emitted as the upper triangle (4-dp presentation —
    // the q_wcss float-sum class; the eigensolve itself is spec-pinned).
    "q_pca_cov" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      graft.ops.Pca.covarianceFrame(t(dir, "embeddings"), "embedding", 64)
        .select(col("i"), col("j"), (round(col("cov"), 4) + lit(0.0)).as("cov"))
    },
    // ---- PMI collocations: top-100 adjacent word pairs by count with
    // pointwise mutual information (6-dp presentation float; the
    // ordering is pure integer + string).
    "q_collocations" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      TextOps.collocations(t(dir, "documents"), "text", minCount = 5L, k = 100)
    })

  /** The sequential SemDedup ingest replay (bootstrap components +
    * keeper rule over the %7<>0 corpus, then the %7==0 batch probed
    * against keepers and smaller-id co-batch docs) - the ONE oracle
    * body behind q_semdedup_incremental AND q_semdedup_stream
    * (rule 5; the streaming path is defined to produce the batch
    * probe's verdicts).
    */
  /** The bootstrap-keeper CTE chain (corpus assignment, within-cluster
    * edges, connected components, keeper rule -> `ckeep(id, cluster, v)`)
    * shared by the incremental/stream probe oracle AND the rebalance
    * oracle (rule 5). Expects to sit inside a WITH RECURSIVE list.
    */
  private val semdedupBootCkeepSql: String =
      """p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |kc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*)) / 2) AS BIGINT)) AS k FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings, kc
        |      WHERE vec_id < kc.k),
        |corp AS (SELECT id, v FROM p WHERE id % 7 <> 0),
        |bat AS (SELECT id, v FROM p WHERE id % 7 = 0),
        |casg AS (
        |  SELECT id, cluster, v FROM (
        |    SELECT corp.id, c.cid AS cluster, corp.v,
        |      row_number() OVER (PARTITION BY corp.id
        |        ORDER BY list_cosine_similarity(corp.v, c.cv) DESC, c.cid) AS rn
        |    FROM corp, c) WHERE rn = 1),
        |pr AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM casg a JOIN casg b ON a.cluster = b.cluster AND b.id > a.id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
        |n AS (SELECT DISTINCT src AS id FROM e),
        |reach(a, b) AS (
        |  SELECT id, id FROM n
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |cc AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
        |ckeep AS (
        |  SELECT casg.id, casg.cluster, casg.v
        |  FROM casg LEFT JOIN cc USING (id)
        |  LEFT JOIN (SELECT comp, min(id) AS keep_id FROM cc GROUP BY comp) k
        |    ON cc.comp = k.comp
        |  WHERE cc.comp IS NULL OR casg.id = k.keep_id)""".stripMargin

  /** Rebalance replay (q_semdedup_rebalance): the shared bootstrap
    * keepers re-assigned to 16 fixed new centers (argmax cosine, ties
    * to the lowest cid) - keeper SET unchanged, partitioning refreshed.
    */
  private val semdedupRebalanceOracleSql: String =
    s"""WITH RECURSIVE $semdedupBootCkeepSql,
      |nc AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      |       FROM embeddings WHERE vec_id < 16)
      |SELECT id, cluster FROM (
      |  SELECT ckeep.id, nc.cid AS cluster,
      |    row_number() OVER (PARTITION BY ckeep.id
      |      ORDER BY list_cosine_similarity(ckeep.v, nc.cv) DESC, nc.cid) AS rn
      |  FROM ckeep, nc) WHERE rn = 1""".stripMargin

  /** The sequential SemDedup ingest replay (the shared bootstrap-keeper
    * chain, then the %7==0 batch probed against keepers and smaller-id
    * co-batch docs) - the ONE oracle body behind q_semdedup_incremental
    * AND q_semdedup_stream (rule 5; the streaming path is defined to
    * produce the batch probe's verdicts).
    */
  private val semdedupIncrementalOracleSql: String =
    s"""WITH RECURSIVE $semdedupBootCkeepSql,
        |basg AS (
        |  SELECT id, cluster, sim, v FROM (
        |    SELECT bat.id, c.cid AS cluster, list_cosine_similarity(bat.v, c.cv) AS sim, bat.v,
        |      row_number() OVER (PARTITION BY bat.id
        |        ORDER BY list_cosine_similarity(bat.v, c.cv) DESC, c.cid) AS rn
        |    FROM bat, c) WHERE rn = 1),
        |m AS (
        |  SELECT b.id, k.id AS match_id, round(list_cosine_similarity(b.v, k.v), 6) AS msim
        |  FROM basg b JOIN ckeep k ON b.cluster = k.cluster
        |  WHERE round(list_cosine_similarity(b.v, k.v), 6) >= 0.3
        |  UNION ALL
        |  SELECT b.id, b2.id AS match_id, round(list_cosine_similarity(b.v, b2.v), 6) AS msim
        |  FROM basg b JOIN basg b2 ON b.cluster = b2.cluster AND b2.id < b.id
        |  WHERE round(list_cosine_similarity(b.v, b2.v), 6) >= 0.3),
        |best AS (
        |  SELECT id, match_id FROM (
        |    SELECT id, match_id,
        |      row_number() OVER (PARTITION BY id ORDER BY msim DESC, match_id) AS rn
        |    FROM m) WHERE rn = 1),
        |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dup_matches FROM m GROUP BY id)
        |SELECT basg.id, basg.cluster, round(basg.sim, 6) + 0.0 AS centroid_sim,
        |  best.match_id AS dup_of,
        |  coalesce(agg.n_dup_matches, 0) AS n_dup_matches,
        |  best.match_id IS NULL AS keep
        |FROM basg
        |LEFT JOIN best ON best.id = basg.id
        |LEFT JOIN agg ON agg.id = basg.id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |count(*) AS n_rows FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q2_join_agg" ->
      """SELECT n_name, c_mktsegment, round(sum(o_totalprice), 4) AS total,
        |count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "q3_window" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 2""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |greatest(1, CAST(floor(length(text) / 4) AS INT)) AS n_tokens_bpe
        |FROM documents""".stripMargin,
    "q_repetition" ->
      """WITH lined AS (
        |  SELECT doc_id, string_split(regexp_replace(text, ' table ', chr(10), 'g'), chr(10)) AS ls,
        |    string_split(text, ' ') AS toks, text
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(ls) <= 0 THEN 0.0
        |    ELSE round((len(ls) - len(list_distinct(ls))) * 1.0 / len(ls), 6) END AS dup_line_frac,
        |  CASE WHEN greatest(len(toks) - 2, 0) <= 0 THEN 0.0
        |    ELSE round((greatest(len(toks) - 2, 0) - len(list_distinct(list_transform(
        |      range(0, greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[i+1:i+3], ' '))))) * 1.0 / greatest(len(toks) - 2, 0), 6)
        |  END AS dup3_frac,
        |  CASE WHEN greatest(len(toks) - 9, 0) <= 0 THEN 0.0
        |    ELSE round((greatest(len(toks) - 9, 0) - len(list_distinct(list_transform(
        |      range(0, greatest(len(toks) - 10, 0) + 1),
        |      i -> array_to_string(toks[i+1:i+10], ' '))))) * 1.0 / greatest(len(toks) - 9, 0), 6)
        |  END AS dup10_frac
        |FROM lined""".stripMargin,
    "q_pii_redact" ->
      """WITH pii AS (
        |  SELECT doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR)
        |    || '@example.com at 10.0.' || CAST(doc_id % 200 AS VARCHAR)
        |    || '.1 or call +1 (555) 010-' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS t
        |  FROM documents),
        |steps AS (
        |  SELECT doc_id, t,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email
        |  FROM pii),
        |steps2 AS (
        |  SELECT doc_id, t, after_email,
        |    regexp_replace(after_email, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS after_ip
        |  FROM steps),
        |red AS (
        |  SELECT doc_id, t, after_email, after_ip,
        |    regexp_replace(after_ip, '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
        |  FROM steps2)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(after_email, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
        |  len(regexp_extract_all(after_ip, '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS n_phones,
        |  substring(redacted, greatest(length(redacted) - 59, 1), 60) AS redacted_tail
        |FROM red""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
        |len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
        |round(list_sum(list_transform(string_split(text, ' '), t -> length(t)))
        |      * 1.0 / len(string_split(text, ' ')), 6) AS mean_word_len,
        |round(least(length(text) / 500.0, 1.0) * 0.4
        |  + least(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','of','and','to','in','is','it')))
        |      * 1.0 / len(string_split(text, ' ')) * 5.0, 1.0) * 0.4
        |  + (1.0 - least(length(regexp_replace(lower(text), '[a-z ]', '', 'g'))
        |      * 1.0 / greatest(length(text), 1), 1.0)) * 0.2, 6) AS quality
        |FROM documents""".stripMargin,
    "q_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS toks,
        |    (length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) // 3 AS n_sym
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id,
        |    len(toks) AS n_words,
        |    coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS sum_len,
        |    len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
        |    n_sym,
        |    len(list_intersect(list_distinct(toks),
        |        ['the','a','of','and','to','in','is','it'])) AS n_stop
        |  FROM base)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  n_words >= 45 AND n_words <= 100000 AS word_count_ok,
        |  sum_len >= 3 * n_words AND sum_len <= 10 * n_words AS mean_len_ok,
        |  10 * n_sym <= 1 * n_words AS symbol_ok,
        |  10 * n_alpha >= 8 * n_words AS alpha_ok,
        |  n_stop >= 2 AS stopword_ok,
        |  (n_words >= 45 AND n_words <= 100000)
        |    AND (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
        |    AND (10 * n_sym <= 1 * n_words)
        |    AND (10 * n_alpha >= 8 * n_words)
        |    AND (n_stop >= 2) AS keep
        |FROM feat""".stripMargin,
    "q_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    coalesce(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','and','of','is'))), 0) AS s_en,
        |    coalesce(len(list_filter(string_split(lower(text), ' '), t -> t IN ('el','la','de','que'))), 0) AS s_es,
        |    coalesce(len(list_filter(string_split(lower(text), ' '), t -> t IN ('le','la','et','les'))), 0) AS s_fr,
        |    coalesce(len(list_filter(string_split(lower(text), ' '), t -> t IN ('der','die','und','das'))), 0) AS s_de
        |  FROM documents)
        |SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
        |  WHEN s_es > s_en AND s_es >= s_fr AND s_es >= s_de THEN 'es'
        |  WHEN s_fr > s_en AND s_fr > s_es AND s_fr >= s_de THEN 'fr'
        |  WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
        |  ELSE 'en' END AS lang_pred
        |FROM sc""".stripMargin,
    "q_doc_freq" ->
      """WITH ex AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |per AS (
        |  SELECT token, doc_id, count(*) AS tf FROM ex WHERE token <> '' GROUP BY 1, 2)
        |SELECT token, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS term_freq
        |FROM per GROUP BY 1
        |ORDER BY doc_freq DESC, token LIMIT 100""".stripMargin,
    "q_tfidf" ->
      """WITH ex AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM ex WHERE token <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |  round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
        |FROM tf JOIN dfreq USING (token), n
        |WHERE tf.doc_id < 50""".stripMargin,
    "q_pack_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    CAST(doc_id % 8 AS INT) AS grp
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, grp, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM d)
        |SELECT doc_id, grp,
        |  CAST(floor(start / 512.0) AS BIGINT) AS chunk,
        |  CAST(start % 512 AS BIGINT) AS offset,
        |  CAST(n_tokens AS INT) AS n_tokens
        |FROM c""".stripMargin,
    "q_chunk_passages" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |w AS (SELECT doc_id, toks, n,
        |    CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 64 + 48 - 1) // 48 END AS nwin
        |  FROM b)
        |SELECT doc_id, CAST(t.pid AS BIGINT) AS passage_id,
        |  CAST(t.pid * 48 AS BIGINT) AS start_tok,
        |  CAST(least(64, n - t.pid * 48) AS BIGINT) AS n_tok,
        |  array_to_string(list_slice(toks, t.pid * 48 + 1, t.pid * 48 + 64), ' ') AS passage
        |FROM w, unnest(range(nwin)) AS t(pid)""".stripMargin,
    "q_frequent_ngrams" ->
      s"""SELECT ngram, count(*) AS cnt
        |FROM (SELECT unnest(${shingleOccurrencesSql(5)}) AS ngram FROM documents)
        |GROUP BY ngram
        |ORDER BY cnt DESC, ngram ASC
        |LIMIT 100""".stripMargin,
    "q_crossdoc_ngrams" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${shingleRowsSql(5)} AS g
        |  FROM documents),
        |dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY 1)
        |SELECT doc_id, n_ngrams, n_dup_ngrams,
        |  round(n_dup_ngrams * 1.0 / n_ngrams, 6) + 0.0 AS dup_frac
        |FROM (
        |  SELECT doc_id, count(*) AS n_ngrams,
        |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_ngrams
        |  FROM sh JOIN dfreq USING (g) GROUP BY 1)""".stripMargin,
    "q_substring_dedup" ->
      spanCutOracleSql(8,
        "SELECT key FROM wins GROUP BY key HAVING count(*) >= 2",
        "dup_tokens", "dup_frac"),
    "q_boilerplate_cut" ->
      spanCutOracleSql(3,
        "SELECT key FROM (SELECT DISTINCT doc_id, key FROM wins) GROUP BY key HAVING count(*) >= 4",
        "boiler_tokens", "boiler_frac"),
    "q_split_sizes" ->
      """SELECT split, count(*) AS n FROM (
        |  SELECT CASE WHEN u < 0.8 THEN 'train'
        |              WHEN u < 0.9 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM (SELECT ('0x' || substr(md5('graft:' || doc_id::VARCHAR), 1, 8))::UBIGINT
        |                 / 4294967296.0 AS u
        |        FROM documents))
        |GROUP BY split""".stripMargin,
    "q_top_per_domain" ->
      s"""WITH c AS (
        |  SELECT doc_id, source, ${qualityCountsSql()} FROM documents),
        |d AS (SELECT doc_id, source, ${qualityMicroSql()} AS q_micro FROM c)
        |SELECT doc_id, source, q_micro, rk FROM (
        |  SELECT doc_id, source, q_micro,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY q_micro DESC, doc_id) AS rk
        |  FROM d)
        |WHERE rk <= 12""".stripMargin,
    "q_rate_limit" ->
      """SELECT source AS domain, doc_id AS id, win_start_s, rk FROM (
        |  SELECT doc_id, source,
        |    ((1700000000 + doc_id) // 600) * 600 AS win_start_s,
        |    row_number() OVER (
        |      PARTITION BY source, (1700000000 + doc_id) // 600
        |      ORDER BY doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3""".stripMargin,
    "q_stream_quota" ->
      """SELECT source AS domain, doc_id AS id, rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 8""".stripMargin,
    "q_domain_cap" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ('0x' || substr(md5('r11cap:' || doc_id::VARCHAR), 1, 8))::UBIGINT,
        |      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 15""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, round(u, 6) + 0.0 AS u FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('r9:' || doc_id::VARCHAR), 1, 8))::UBIGINT / 4294967296.0 AS u
        |  FROM documents)
        |WHERE u < 0.25""".stripMargin,
    "q_sample_strata" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5('r9s:' || doc_id::VARCHAR), 1, 8))::UBIGINT / 4294967296.0 AS u,
        |    CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 WHEN 'fr' THEN 0.25
        |      ELSE 0.1 END AS rate
        |  FROM documents)
        |WHERE u < rate""".stripMargin,
    "q_sample_weighted" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars > 0
        |ORDER BY pow(('0x' || substr(md5('r9w:' || doc_id::VARCHAR), 1, 8))::UBIGINT
        |             / 4294967296.0, 1.0 / n_chars) DESC, doc_id
        |LIMIT 50""".stripMargin,
    "q_mixture_plan" ->
      """WITH avail AS (
        |  SELECT lang AS domain,
        |    CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS available
        |  FROM documents GROUP BY 1),
        |t(domain, target_weight) AS (VALUES ('en', 0.5), ('zh', 0.3), ('de', 0.2)),
        |j AS (SELECT t.domain, coalesce(available, 0) AS available, target_weight
        |      FROM t LEFT JOIN avail USING (domain)),
        |s AS (SELECT min(available / target_weight) AS scale FROM j)
        |SELECT domain, available, round(target_weight, 6) + 0.0 AS target_weight,
        |  round(CASE WHEN available = 0 THEN 0.0
        |             ELSE scale * target_weight / available END, 6) + 0.0 AS rate,
        |  round(scale * target_weight, 6) + 0.0 AS planned
        |FROM j, s""".stripMargin,
    "q_temperature_plan" ->
      """WITH avail AS (
        |  SELECT lang AS domain,
        |    CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS available
        |  -- temperaturePlan's contract: NULL domains carry no target
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |t AS (SELECT domain, available,
        |        pow(available, 0.5) / (SELECT sum(pow(available, 0.5)) FROM avail) AS tw
        |      FROM avail),
        |s AS (SELECT min(available / tw) AS scale FROM t)
        |SELECT domain, available, round(tw, 6) + 0.0 AS target_weight,
        |  round(CASE WHEN available = 0 THEN 0.0
        |             ELSE scale * tw / available END, 6) + 0.0 AS rate,
        |  round(scale * tw, 6) + 0.0 AS planned
        |FROM t, s""".stripMargin,
    "q_budget_select" ->
      s"""WITH c AS (
        |  SELECT lang AS domain, doc_id AS key, ${qualityCountsSql()}
        |  FROM documents),
        |d AS (
        |  -- pure 64-bit integer arithmetic: identical in every engine
        |  SELECT domain, key, ${qualityMicroSql()} AS quality, n_tokens
        |  FROM c)
        |SELECT domain, key, quality, n_tokens, cum_tokens FROM (
        |  SELECT domain, key, quality, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY domain ORDER BY quality DESC, key
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM d)
        |WHERE cum_tokens - n_tokens < 2000""".stripMargin,
    "q_select_top_quality" ->
      s"""WITH q AS (
        |  SELECT doc_id, ${qualityMicroSql()} AS quality_micro
        |  FROM (SELECT doc_id, ${qualityCountsSql()} FROM documents)),
        |r AS (
        |  SELECT doc_id, quality_micro,
        |    row_number() OVER (ORDER BY quality_micro DESC, doc_id ASC) AS rn
        |  FROM q)
        |SELECT doc_id, quality_micro FROM r
        |WHERE rn <= CAST(ceil(0.3 * (SELECT count(*) FROM documents)) AS BIGINT)""".stripMargin,
    "q_dsir_weights" ->
      """WITH rawt AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents),
        |tgtt AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents WHERE lang = 'de'),
        |rc AS (SELECT token, count(*) AS n FROM rawt GROUP BY 1),
        |tc AS (SELECT token, count(*) AS n FROM tgtt GROUP BY 1),
        |vocab AS (
        |  SELECT coalesce(rc.token, tc.token) AS token,
        |    coalesce(rc.n, 0) AS rcn, coalesce(tc.n, 0) AS tcn
        |  FROM rc FULL OUTER JOIN tc ON rc.token = tc.token),
        |tot AS (SELECT sum(rcn)::DOUBLE AS rtot, sum(tcn)::DOUBLE AS ttot,
        |  count(*)::DOUBLE AS v FROM vocab),
        |ratio AS (
        |  SELECT token,
        |    ln((tcn + 1.0) / (ttot + v)) - ln((rcn + 1.0) / (rtot + v)) AS lr
        |  FROM vocab, tot)
        |SELECT doc_id, count(*) AS n_tokens, round(sum(lr), 6) + 0.0 AS logw
        |FROM rawt JOIN ratio USING (token)
        |GROUP BY 1""".stripMargin,
    "q_dsir_select" ->
      """WITH rawt AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents),
        |tgtt AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents WHERE lang = 'de'),
        |rc AS (SELECT token, count(*) AS n FROM rawt GROUP BY 1),
        |tc AS (SELECT token, count(*) AS n FROM tgtt GROUP BY 1),
        |vocab AS (
        |  SELECT coalesce(rc.token, tc.token) AS token,
        |    coalesce(rc.n, 0) AS rcn, coalesce(tc.n, 0) AS tcn
        |  FROM rc FULL OUTER JOIN tc ON rc.token = tc.token),
        |tot AS (SELECT sum(rcn)::DOUBLE AS rtot, sum(tcn)::DOUBLE AS ttot,
        |  count(*)::DOUBLE AS v FROM vocab),
        |ratio AS (
        |  SELECT token,
        |    ln((tcn + 1.0) / (ttot + v)) - ln((rcn + 1.0) / (rtot + v)) AS lr
        |  FROM vocab, tot),
        |w AS (
        |  SELECT doc_id, count(*) AS n_tokens, round(sum(lr), 6) + 0.0 AS logw
        |  FROM rawt JOIN ratio USING (token)
        |  GROUP BY 1)
        |SELECT doc_id, n_tokens, logw FROM (
        |  SELECT doc_id, n_tokens, logw,
        |    logw - ln(-ln(('0x' || substr(md5('r9d:' || doc_id::VARCHAR), 1, 8))::UBIGINT
        |      / 4294967296.0)) AS score
        |  FROM w)
        |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
    "q_logreg_fit" ->
      s"""WITH ${logregChainSql(3, 64, 0.5,
            "CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END")}
        |SELECT bucket, round(w, 6) + 0.0 AS weight FROM wfin""".stripMargin,
    "q_logreg_score" ->
      s"""WITH ${logregChainSql(3, 64, 0.5,
            "CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END")},
        |ws AS (SELECT bucket, round(w, 6) + 0.0 AS w FROM wfin),
        |sm AS (SELECT f.doc_id, sum(f.x * coalesce(ws.w, 0.0)) AS m
        |  FROM feats f LEFT JOIN ws USING (bucket) GROUP BY f.doc_id)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-m)), 6) + 0.0 AS score
        |FROM sm""".stripMargin,
    "q_nb_classify" ->
      """WITH labt AS (
        |  SELECT lang AS label,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents WHERE doc_id % 7 = 0),
        |tokcnt AS (SELECT label, token, count(*) AS cnt FROM labt GROUP BY 1, 2),
        |classtot AS (SELECT label, sum(cnt)::DOUBLE AS tok_c FROM tokcnt GROUP BY 1),
        |prior AS (SELECT lang AS label, count(*)::DOUBLE AS n_docs
        |  FROM documents WHERE doc_id % 7 = 0 GROUP BY 1),
        |pt AS (SELECT sum(n_docs) AS nd FROM prior),
        |vs AS (SELECT count(DISTINCT token)::DOUBLE AS v FROM tokcnt),
        |vocab AS (SELECT DISTINCT token FROM tokcnt),
        |dense AS (
        |  SELECT v.token, ct.label,
        |    ln((coalesce(tc.cnt, 0) + 1.0) / (ct.tok_c + vs.v)) AS logp
        |  FROM vocab v CROSS JOIN classtot ct
        |  LEFT JOIN tokcnt tc ON tc.token = v.token AND tc.label = ct.label, vs),
        |doct AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents),
        |post AS (
        |  SELECT d.doc_id, dn.label, ln(p.n_docs / pt.nd) + sum(dn.logp) AS lp
        |  FROM doct d JOIN dense dn USING (token)
        |  JOIN prior p ON p.label = dn.label, pt
        |  GROUP BY d.doc_id, dn.label, p.n_docs, pt.nd),
        |ranked AS (
        |  SELECT doc_id, label, lp,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY lp DESC, label) AS rk
        |  FROM post)
        |SELECT d.doc_id, b.label AS label_pred,
        |  round(coalesce(b.lp, 0.0), 6) + 0.0 AS logpost,
        |  round(coalesce(b.lp - s.lp, 0.0), 6) + 0.0 AS margin
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN (SELECT doc_id, label, lp FROM ranked WHERE rk = 1) b USING (doc_id)
        |LEFT JOIN (SELECT doc_id, lp FROM ranked WHERE rk = 2) s USING (doc_id)""".stripMargin,
    "q_calibration" ->
      s"""WITH c AS MATERIALIZED (
        |  SELECT doc_id, ${qualityMicroSql()} AS q_micro,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM (SELECT doc_id, lang, ${qualityCountsSql()} FROM documents)),
        |r AS (SELECT doc_id, q_micro, y,
        |    row_number() OVER (ORDER BY q_micro DESC, doc_id) AS rk,
        |    count(*) OVER () AS n FROM c),
        |b AS (SELECT q_micro, y,
        |  CASE ${(1 to 9).map(i => s"WHEN rk <= (n * $i + 9) // 10 THEN 'b0${i - 1}'")
             .mkString(" ")}
        |       ELSE 'b09' END AS bucket FROM r)
        |SELECT bucket, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST((1000000 * CAST(sum(y) AS BIGINT)) // count(*) AS BIGINT) AS pos_rate_micro,
        |  CAST(min(q_micro) AS BIGINT) AS min_score,
        |  CAST(max(q_micro) AS BIGINT) AS max_score
        |FROM b GROUP BY bucket""".stripMargin,
    "q_nb_classify_hashed" ->
      """WITH labt AS (
        |  SELECT label, ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS token
        |  FROM (SELECT lang AS label,
        |          unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |        FROM documents WHERE doc_id % 7 = 0)),
        |tokcnt AS (SELECT label, token, count(*) AS cnt FROM labt GROUP BY 1, 2),
        |classtot AS (SELECT label, sum(cnt)::DOUBLE AS tok_c FROM tokcnt GROUP BY 1),
        |prior AS (SELECT lang AS label, count(*)::DOUBLE AS n_docs
        |  FROM documents WHERE doc_id % 7 = 0 GROUP BY 1),
        |pt AS (SELECT sum(n_docs) AS nd FROM prior),
        |vs AS (SELECT count(DISTINCT token)::DOUBLE AS v FROM tokcnt),
        |vocab AS (SELECT DISTINCT token FROM tokcnt),
        |dense AS (
        |  SELECT v.token, ct.label,
        |    ln((coalesce(tc.cnt, 0) + 1.0) / (ct.tok_c + vs.v)) AS logp
        |  FROM vocab v CROSS JOIN classtot ct
        |  LEFT JOIN tokcnt tc ON tc.token = v.token AND tc.label = ct.label, vs),
        |doct AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS token
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |        FROM documents)),
        |post AS (
        |  SELECT d.doc_id, dn.label, ln(p.n_docs / pt.nd) + sum(dn.logp) AS lp
        |  FROM doct d JOIN dense dn USING (token)
        |  JOIN prior p ON p.label = dn.label, pt
        |  GROUP BY d.doc_id, dn.label, p.n_docs, pt.nd),
        |ranked AS (
        |  SELECT doc_id, label, lp,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY lp DESC, label) AS rk
        |  FROM post)
        |SELECT d.doc_id, b.label AS label_pred,
        |  round(coalesce(b.lp, 0.0), 6) + 0.0 AS logpost,
        |  round(coalesce(b.lp - s.lp, 0.0), 6) + 0.0 AS margin
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN (SELECT doc_id, label, lp FROM ranked WHERE rk = 1) b USING (doc_id)
        |LEFT JOIN (SELECT doc_id, lp FROM ranked WHERE rk = 2) s USING (doc_id)""".stripMargin,
    "q_shuffle_order" ->
      """SELECT doc_id, round(u, 6) + 0.0 AS u FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('r9o:' || doc_id::VARCHAR), 1, 8))::UBIGINT / 4294967296.0 AS u
        |  FROM documents)
        |ORDER BY u, doc_id LIMIT 200""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
        |FROM documents GROUP BY text""".stripMargin,
    "q_dedup_canonical" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || '!!' FROM documents
        |  WHERE doc_id % 11 = 0),
        |canon AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
        |  FROM corpus),
        |k AS (SELECT min(doc_id) AS keeper FROM canon GROUP BY canon)
        |SELECT c.doc_id, md5(c.canon) AS canon_md5
        |FROM canon c JOIN k ON c.doc_id = k.keeper""".stripMargin,
    "q_sessionize" -> sessionOracleSql("> 1800000"),
    "q_session_native" -> sessionOracleSql(">= 1800000"),
    "q_multimodal_features" ->
      """WITH d AS MATERIALIZED (SELECT doc_id AS asset_id, text,
        |  CAST(strlen(text) AS BIGINT) AS size_bytes FROM documents),
        |pos AS (SELECT asset_id, text, size_bytes,
        |  unnest(range(1, CAST(size_bytes AS INT) + 1)) AS p FROM d),
        |b AS (SELECT asset_id, (p - 1) % 16 AS bucket,
        |  ascii(substr(text, CAST(p AS INT), 1)) AS byte FROM pos),
        |agg AS (SELECT asset_id, bucket,
        |  CAST(CAST(sum(byte) AS DOUBLE) / count(*) / 255.0 AS FLOAT) AS f
        |  FROM b GROUP BY 1, 2),
        |sq AS (SELECT asset_id,
        |  list_sum(list(CAST(f AS DOUBLE) * CAST(f AS DOUBLE) ORDER BY bucket)) AS sqn
        |  FROM agg GROUP BY 1)
        |SELECT d.asset_id,
        |  -- null payload has no bytes to frame-sample: 0 frames (the
        |  -- greatest() would otherwise treat NULL size as 1 chunk)
        |  CASE WHEN size_bytes IS NULL THEN 0
        |       ELSE (greatest(1, size_bytes // 64) + 1) // 2 END AS n_frames,
        |  d.size_bytes,
        |  round(coalesce(sq.sqn, 0.0), 6) + 0.0 AS feat_sq_norm
        |FROM d LEFT JOIN sq USING (asset_id)""".stripMargin,
    "q_multimodal_fingerprint" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,
    "q_multimodal_integrity" ->
      """SELECT e.vec_id AS ref_id, e.vec_id * 2 AS asset_ref
        |FROM embeddings e LEFT JOIN documents d ON e.vec_id * 2 = d.doc_id
        |WHERE d.doc_id IS NULL""".stripMargin,
    "q_cocluster_blocks" ->
      """SELECT CAST(l_orderkey % 4 AS INT) AS rc,
        |  CAST(l_linenumber % 3 AS INT) AS cc,
        |  round(avg(l_quantity), 6) AS block_mean,
        |  count(*) AS n,
        |  round(sum(l_quantity * l_quantity * 0.5), 4) AS f_sum
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(length(text) - 2, 1) + 1),
        |    i -> substring(text, i, 3))) AS s
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.s, b.s)) * 1.0
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "q_embed_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        |FROM embeddings a JOIN embeddings b
        |  ON floor(a.vec_id / 20) = floor(b.vec_id / 20) AND b.vec_id > a.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.2""".stripMargin,
    // Full banded-hyperplane-LSH replay: md5-rebuilt jitter + plane matrix
    // (24 tables x pt planes x 64 dims, index key '42:' || p*64+i), ORDERED
    // list dots so the sign decisions are bit-exact, pt-bit sign signature
    // per table, bucket equi-join, exact-cosine confirm at 0.85. pt is
    // derived from count(*) exactly as Similarity.lshPlanesForCorpus does
    // (highest set bit of ceil(corpus/4), clamped [12, 28]); the
    // maxBucketSize=4096 skew guard cannot fire below 4096 corpus rows, so
    // the replay omits it.
    "q_embed_lsh" ->
      """WITH par AS (
        |  SELECT least(28, greatest(12,
        |    CASE WHEN (count(*) + 1) // 2 <= 1 THEN 12
        |         ELSE length(bin((count(*) + 1) // 2 - 1)) END))::BIGINT AS pt
        |  FROM embeddings),
        |base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |jit AS (
        |  SELECT oid + 1000000 AS id, jv AS v FROM (
        |    SELECT id AS oid, list_transform(range(len(v)),
        |      i -> v[i+1] + 0.08 * (('0x' || substr(md5(id || ':' || i), 1, 8))::UBIGINT::DOUBLE
        |                            / 4294967296 * 2 - 1)) AS jv
        |    FROM base)),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM jit),
        |norm AS (
        |  SELECT id, CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm)
        |                  ELSE list_transform(v, x -> 0.0) END AS vn
        |  FROM (SELECT id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM corpus)),
        |pl AS (
        |  SELECT pp.p, list_transform(range(64),
        |    i -> ('0x' || substr(md5('42:' || (pp.p * 64 + i)), 1, 8))::UBIGINT::DOUBLE
        |         / 4294967296 * 2 - 1) AS m
        |  FROM (SELECT unnest(range(24 * pt)) AS p FROM par) pp),
        |proj AS (
        |  SELECT n.id, pl.p,
        |    list_sum(list_transform(range(64), i -> n.vn[i+1] * pl.m[i+1])) AS d
        |  FROM norm n CROSS JOIN pl),
        |sig AS (
        |  SELECT id, p // pt AS tbl,
        |    bit_or(CASE WHEN d >= 0 THEN 1::UBIGINT << (p % pt) ELSE 0::UBIGINT END)
        |      | (((p // pt)::UBIGINT) << 32) AS bucket
        |  FROM proj, par GROUP BY id, p // pt),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id)
        |SELECT id_a, id_b, cosine FROM (
        |  SELECT c.id_a, c.id_b,
        |    round(list_sum(list_transform(range(64), i -> na.vn[i+1] * nb.vn[i+1])), 6) AS cosine
        |  FROM cand c JOIN norm na ON na.id = c.id_a JOIN norm nb ON nb.id = c.id_b)
        |WHERE cosine >= 0.85""".stripMargin,
    // Incremental dedup verdict replay: brute-force batch-vs-all exact
    // word-shingle Jaccard in HALF-UP integer micro-units
    // ((2*inter*1e6 + union) // (2*union) = round(j*1e6) — pure integer
    // division both engines, threshold semantics aligned with the batch
    // pipeline's round(j,6)), best match ranked by the INTEGER
    // (jaccard_micro desc, match_id asc) window.
    "q_incremental_dedup" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${shingleListSql(3)} AS s FROM documents),
        |conf AS (
        |  SELECT b.doc_id AS doc_id, m.doc_id AS match_id,
        |    ${halfUpJaccardMicroSql("b.s", "m.s")} AS jaccard_micro
        |  FROM sh b JOIN sh m
        |    ON b.doc_id % 7 = 0
        |   AND ((m.doc_id % 7 <> 0) OR m.doc_id < b.doc_id)
        |   AND m.doc_id <> b.doc_id
        |  WHERE ${halfUpJaccardMicroSql("b.s", "m.s")} >= 700000),
        |ranked AS (
        |  SELECT doc_id, match_id, jaccard_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY jaccard_micro DESC, match_id ASC) AS rn
        |  FROM conf),
        |agg AS (SELECT doc_id, count(*) AS n_dup_matches FROM conf GROUP BY doc_id)
        |SELECT d.doc_id, r.match_id AS dup_of, r.jaccard_micro,
        |  coalesce(a.n_dup_matches, 0) AS n_dup_matches
        |FROM documents d
        |LEFT JOIN ranked r ON r.doc_id = d.doc_id AND r.rn = 1
        |LEFT JOIN agg a ON a.doc_id = d.doc_id
        |WHERE d.doc_id % 7 = 0""".stripMargin,
    "q_minhash_pairs" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${shingleListSql(3)} AS s
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.s, b.s)) * 1.0
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id > a.doc_id
        |WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |      / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7""".stripMargin,
    // Deliberately INDEPENDENT of the engine's prefix-filter plan: a
    // brute-force all-pairs shared-shingle join — a hash match proves the
    // AllPairs/PPJoin filter chain misses no qualifying pair. Integer
    // threshold compare (inter*100 >= pct*union); jaccard is output-only.
    "q_jaccard_join" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  ${prefixTruncSql(2000000L, 3L, 4L, 5L)}
        |  UNION ALL
        |  ${prefixTruncSql(4000000L, 1L, 3L, 4L)}),
        |sh AS (SELECT doc_id, s
        |  FROM (SELECT doc_id, ${shingleRowsSql(3)} AS s FROM corpus) WHERE s <> ''),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(inter * 1.0 / (la.len + lb.len - inter), 6) AS jaccard
        |FROM inter
        |JOIN sz la ON la.doc_id = id_a
        |JOIN sz lb ON lb.doc_id = id_b
        |WHERE inter * 100 >= 50 * (la.len + lb.len - inter)""".stripMargin,
    // Independent brute-force cross join over the two snapshot frames —
    // the no-missed-pair check for the AB variant's shared global prefix
    // order. Same integer threshold algebra as q_jaccard_join.
    "q_jaccard_join_ab" ->
      s"""WITH lft AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
        |rgt AS (
        |  ${prefixTruncSql(2000000L, 3L, 4L, 5L)}
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
        |sha AS (SELECT doc_id, s
        |  FROM (SELECT doc_id, ${shingleRowsSql(3)} AS s FROM lft) WHERE s <> ''),
        |shb AS (SELECT doc_id, s
        |  FROM (SELECT doc_id, ${shingleRowsSql(3)} AS s FROM rgt) WHERE s <> ''),
        |sza AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM sha GROUP BY doc_id),
        |szb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM shb GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM sha a JOIN shb b ON a.s = b.s
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(inter * 1.0 / (la.len + lb.len - inter), 6) AS jaccard
        |FROM inter
        |JOIN sza la ON la.doc_id = id_a
        |JOIN szb lb ON lb.doc_id = id_b
        |WHERE inter * 100 >= 50 * (la.len + lb.len - inter)""".stripMargin,
    // Per-lang CMS replay: the q_cms_heavy cell scheme with lang carried
    // through build and probe; the probe joins its lang's cells
    // null-safely (IS NOT DISTINCT FROM == Spark's <=>, rule 10).
    "q_cms_heavy_grouped" ->
      s"""WITH occ AS (
        |  SELECT lang, k FROM (
        |    SELECT lang, unnest(${shingleOccurrencesSql(2)}) AS k FROM documents)
        |  WHERE k <> ''),
        |cells AS (
        |  SELECT lang, r,
        |    CAST(('0x' || substr(md5('cms16g:' || r::VARCHAR || ':' || k), 1, 8))::UBIGINT
        |      % 2048 AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM occ CROSS JOIN range(4) t(r) GROUP BY 1, 2, 3),
        |kb AS (
        |  SELECT lang, k, r,
        |    CAST(('0x' || substr(md5('cms16g:' || r::VARCHAR || ':' || k), 1, 8))::UBIGINT
        |      % 2048 AS BIGINT) AS bucket
        |  FROM (SELECT DISTINCT lang, k FROM occ) CROSS JOIN range(4) t(r))
        |SELECT lang, k, est FROM (
        |  SELECT kb.lang, kb.k, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
        |  FROM kb LEFT JOIN cells
        |    ON kb.r = cells.r AND kb.bucket = cells.bucket
        |    AND kb.lang IS NOT DISTINCT FROM cells.lang
        |  GROUP BY 1, 2)
        |WHERE est >= 15""".stripMargin,
    // Bit-for-bit CMS replay: same md5 cell scheme ('cms13:r:key' first 8
    // hex % 2048), same depth-4 min — pure integer arithmetic throughout.
    "q_cms_heavy" ->
      s"""WITH occ AS (
        |  SELECT k FROM (
        |    SELECT unnest(${shingleOccurrencesSql(2)}) AS k FROM documents)
        |  WHERE k <> ''),
        |cells AS (
        |  SELECT r,
        |    CAST(('0x' || substr(md5('cms13:' || r::VARCHAR || ':' || k), 1, 8))::UBIGINT
        |      % 2048 AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM occ CROSS JOIN range(4) t(r) GROUP BY 1, 2),
        |kb AS (
        |  SELECT k, r,
        |    CAST(('0x' || substr(md5('cms13:' || r::VARCHAR || ':' || k), 1, 8))::UBIGINT
        |      % 2048 AS BIGINT) AS bucket
        |  FROM (SELECT DISTINCT k FROM occ) CROSS JOIN range(4) t(r))
        |SELECT k, est FROM (
        |  SELECT k, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
        |  FROM kb LEFT JOIN cells USING (r, bucket) GROUP BY k)
        |WHERE est >= 40""".stripMargin,
    // The exact two-pass path needs no sketch replay at all: its whole
    // contract is that MG candidates + CMS filter + exact confirm equal
    // the plain exact answer (CAST per rule 1's HUGEINT ban).
    "q_cms_heavy_exact" ->
      s"""WITH occ AS (
        |  SELECT k FROM (
        |    SELECT unnest(${shingleOccurrencesSql(2)}) AS k FROM documents)
        |  WHERE k <> '')
        |SELECT k, CAST(count(*) AS BIGINT) AS cnt
        |FROM occ GROUP BY k HAVING count(*) >= 40""".stripMargin,
    // Exact top-k replay: plain GROUP BY + deterministic rank window
    // (cnt desc, key asc — binary collation both engines; rank CAST per
    // rule 1's HUGEINT ban is unnecessary for row_number but the BIGINT
    // cast keeps the schema aligned with Spark's casted column).
    "q_cms_topk" ->
      s"""WITH occ AS (
        |  SELECT k FROM (
        |    SELECT unnest(${shingleOccurrencesSql(2)}) AS k FROM documents)
        |  WHERE k <> ''),
        |c AS (SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY k)
        |SELECT k, cnt, rank FROM (
        |  SELECT k, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, k) AS BIGINT) AS rank
        |  FROM c)
        |WHERE rank <= 100""".stripMargin,
    // Bit-for-bit HLL register replay: bucket = first-8-hex md5 mod 512,
    // rank = 1 + leading zeros of the 52-bit (13-hex) md5 value —
    // length(bin(w)) IS the bit length in both engines (bin drops
    // leading zeros), so rank = 53 - length(bin(w)), pure integer/string
    // arithmetic throughout (rule 1).
    "q_hll_registers" -> hllRegistersSql(),
    // The merge contract needs no merge replay at all: max-merging the
    // two disjoint-slice register frames must equal the one-shot build
    // over every non-null-id document — the oracle IS that one-shot
    // build (same shared register arithmetic as q_hll_registers).
    "q_hll_merge" -> hllRegistersSql("doc_id IS NOT NULL"),
    // Grouped-HLL estimate replay: the per-lang register rollup (shared
    // q_hll_registers arithmetic with lang riding through), its exact
    // integer sufficient statistics (touched, Σ 2^(53-maxrank) — the
    // hash contract), and the raw-estimate chain replayed
    // operation-for-operation, round-6 output-only (rule 1).
    "q_hll_grouped" ->
      s"""WITH rolled AS (
        |${hllRegisterRollupSql("hll19", hllGroupedOccSql(), grpSel = "lang, ")}),
        |agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS touched,
        |    ${hllSumScaledSql()} AS sumscaled
        |  FROM rolled GROUP BY lang)
        |SELECT lang, touched, sumscaled,
        |  round(${hllEstSql("touched", "sumscaled")}, 6) + 0.0 AS est
        |FROM agg""".stripMargin,
    // Grouped-HLL overlap replay: even/odd per-lang rollups, max-merge
    // union per (lang, bucket), the six exact A/B/union statistics, and
    // the inclusion-exclusion raw estimate clamped at 0 (round-6
    // output-only; NULL lang groups join the union via GROUP BY, never
    // an equi-join — rule 10).
    "q_hll_overlap_grouped" ->
      s"""WITH reg_a AS (
        |${hllRegisterRollupSql("hll19", hllGroupedOccSql("doc_id % 2 = 0"), grpSel = "lang, ")}),
        |reg_b AS (
        |${hllRegisterRollupSql("hll19", hllGroupedOccSql("doc_id % 2 <> 0"), grpSel = "lang, ")}),
        |u AS (
        |  SELECT lang, bucket,
        |    max(maxrank) AS mr_u,
        |    max(CASE WHEN side = 0 THEN maxrank END) AS mr_a,
        |    max(CASE WHEN side = 1 THEN maxrank END) AS mr_b
        |  FROM (
        |    SELECT lang, bucket, maxrank, 0 AS side FROM reg_a
        |    UNION ALL
        |    SELECT lang, bucket, maxrank, 1 AS side FROM reg_b)
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT lang,
        |    CAST(count(mr_a) AS BIGINT) AS t_a,
        |    CAST(count(mr_b) AS BIGINT) AS t_b,
        |    CAST(count(*) AS BIGINT) AS t_u,
        |    ${hllSumScaledSql("mr_a")} AS s_a,
        |    ${hllSumScaledSql("mr_b")} AS s_b,
        |    ${hllSumScaledSql("mr_u")} AS s_u
        |  FROM u GROUP BY 1)
        |SELECT lang, t_a, t_b, t_u, s_a, s_b, s_u,
        |  round(greatest(0.0,
        |    ${hllEstSql("t_a", "s_a")} + ${hllEstSql("t_b", "s_b")}
        |      - ${hllEstSql("t_u", "s_u")}), 6) + 0.0 AS est
        |FROM agg""".stripMargin,
    // Bit-for-bit rank-sketch summary replay: bottom-128 by the 60-bit
    // md5 rank key, pure integer/string arithmetic (rule 1).
    "q_qsketch_summary" -> qsketchSummarySql(),
    // Bottom-k of a union == bottom-k of the parts' bottom-k's, so the
    // merge contract's oracle is the one-shot build over every
    // non-null-id document (same shared summary SQL).
    "q_qsketch_merge" -> qsketchSummarySql("doc_id IS NOT NULL"),
    // Grouped sketch: per-lang bottom-32 cut + sample pct-rank
    // selection, all integer arithmetic over the shared rank key.
    "q_qsketch_grouped" -> qsketchGroupedSql("documents", "lang", "doc_id",
      "CAST(n_chars AS BIGINT)", "n_chars IS NOT NULL", "gq20", "value"),
    // The double twin over events.value: stored-bit-pattern ordering,
    // normalized -0.0, round(x,6) output-only (rule 1).
    "q_qsketch_grouped_double" -> qsketchGroupedSql("events", "event_type",
      "event_id", "value + 0", "value IS NOT NULL AND NOT isnan(value)",
      "gqd20", "round(value, 6) AS value"),
    // Definitionally-direct order statistic: value at row_number
    // k = ceil(pct·n/100) over the non-null values — the refinement
    // machinery must land on exactly this element. Integer division
    // only; ties under row_number don't matter (the VALUE at rank k is
    // tie-invariant under ORDER BY val).
    "q_quantiles_exact" ->
      """WITH v AS (SELECT n_chars AS val FROM documents WHERE n_chars IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |r AS (SELECT val, CAST(row_number() OVER (ORDER BY val) AS BIGINT) AS rn FROM v),
        |p AS (SELECT CAST(unnest([1,5,10,25,50,75,90,95,99]) AS BIGINT) AS pct)
        |SELECT p.pct AS pct, CAST((p.pct * n.n + 99) // 100 AS BIGINT) AS k,
        |  CAST(r.val AS BIGINT) AS value
        |FROM p CROSS JOIN n JOIN r ON r.rn = (p.pct * n.n + 99) // 100""".stripMargin,
    // Weighted order statistic by its cumulative-weight definition:
    // value = min val whose running weight reaches k = ceil(pct·W/100).
    // The window sum is CAST to BIGINT (rule 1: DuckDB promotes integer
    // window sums to HUGEINT, which the driver canonicalizes
    // differently than local).
    "q_quantiles_weighted" ->
      """WITH v AS (SELECT n_chars AS val, n_chars AS w FROM documents
        |           WHERE n_chars IS NOT NULL),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM v),
        |g AS (SELECT val, CAST(sum(w) AS BIGINT) AS gw FROM v GROUP BY val),
        |c AS (SELECT val, CAST(sum(gw) OVER (ORDER BY val) AS BIGINT) AS cum FROM g),
        |pk AS (SELECT pct, CAST((pct * t.tw + 99) // 100 AS BIGINT) AS k
        |       FROM (SELECT CAST(unnest([1,10,25,50,75,90,99]) AS BIGINT) AS pct) p
        |       CROSS JOIN tot t)
        |SELECT pk.pct AS pct, pk.k AS k, CAST(min(c.val) AS BIGINT) AS value
        |FROM pk JOIN c ON c.cum >= pk.k
        |GROUP BY pk.pct, pk.k""".stripMargin,
    // Double order statistic by the rank-window definition over STORED
    // values (value + 0 normalizes −0.0 on both engines); NaN excluded
    // like NULL.
    "q_quantiles_double" ->
      """WITH v AS (SELECT value + 0 AS val FROM events
        |           WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |r AS (SELECT val, CAST(row_number() OVER (ORDER BY val) AS BIGINT) AS rn FROM v),
        |p AS (SELECT CAST(unnest([1,25,50,75,99]) AS BIGINT) AS pct)
        |SELECT p.pct AS pct, CAST((p.pct * n.n + 99) // 100 AS BIGINT) AS k,
        |  round(r.val, 6) AS value
        |FROM p CROSS JOIN n JOIN r ON r.rn = (p.pct * n.n + 99) // 100""".stripMargin,
    // Per-group replay: partitioned rank window; the VALUE at rank k is
    // tie-invariant; ORDER BY val never sees a NULL (filtered), so the
    // engines' NULL-ordering difference cannot bite (rule 10). count(*)
    // windows are BIGINT in both engines; everything else is integer
    // multiplication.
    "q_quantiles_by_group" ->
      """WITH v AS (SELECT lang, n_chars AS val FROM documents
        |           WHERE n_chars IS NOT NULL),
        |r AS (SELECT lang, val,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY val) AS BIGINT) AS rn,
        |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |      FROM v),
        |p AS (SELECT CAST(unnest([10,50,90]) AS BIGINT) AS pct)
        |SELECT r.lang AS lang, p.pct AS pct, r.rn AS k, CAST(r.val AS BIGINT) AS value
        |FROM r JOIN p ON p.pct * r.n >= 100 * r.rn - 99
        |             AND p.pct * r.n <= 100 * r.rn""".stripMargin,
    // Double per-group replay: partitioned rank window over STORED
    // normalized doubles (val + 0 — identical bit patterns order
    // identically in both engines); same integer pct-match predicate as
    // q_quantiles_by_group; value round(x,6) output-only.
    "q_quantiles_by_group_double" ->
      """WITH v AS (SELECT event_type, value + 0 AS val FROM events
        |           WHERE value IS NOT NULL AND NOT isnan(value)),
        |r AS (SELECT event_type, val,
        |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY val) AS BIGINT) AS rn,
        |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM v),
        |p AS (SELECT CAST(unnest([10,50,90]) AS BIGINT) AS pct)
        |SELECT r.event_type AS event_type, p.pct AS pct, r.rn AS k, round(r.val, 6) AS value
        |FROM r JOIN p ON p.pct * r.n >= 100 * r.rn - 99
        |             AND p.pct * r.n <= 100 * r.rn""".stripMargin,
    // Double band filter by the same rank-window cutoff definition over
    // normalized stored doubles; the band comparison touches only stored
    // bit patterns (cutoffs are elements of the column), value emitted
    // round(x,6) output-only.
    "q_quantile_filter_double" ->
      """WITH v AS (SELECT value + 0 AS val FROM events
        |           WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |r AS (SELECT val, CAST(row_number() OVER (ORDER BY val) AS BIGINT) AS rn FROM v),
        |lo AS (SELECT val AS lov FROM r CROSS JOIN n WHERE rn = (5 * n.n + 99) // 100),
        |hi AS (SELECT val AS hiv FROM r CROSS JOIN n WHERE rn = (95 * n.n + 99) // 100)
        |SELECT event_id, round(value + 0, 6) AS value
        |FROM events CROSS JOIN lo CROSS JOIN hi
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND value >= lov AND value <= hiv""".stripMargin,
    // Band filter by the same rank-window cutoff definition; row_number
    // is unique so each cutoff CTE is exactly one row.
    "q_quantile_filter" ->
      """WITH v AS (SELECT n_chars AS val FROM documents WHERE n_chars IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |r AS (SELECT val, CAST(row_number() OVER (ORDER BY val) AS BIGINT) AS rn FROM v),
        |lo AS (SELECT val AS lov FROM r CROSS JOIN n WHERE rn = (5 * n.n + 99) // 100),
        |hi AS (SELECT val AS hiv FROM r CROSS JOIN n WHERE rn = (95 * n.n + 99) // 100)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents CROSS JOIN lo CROSS JOIN hi
        |WHERE n_chars IS NOT NULL AND n_chars >= lov AND n_chars <= hiv""".stripMargin,
    // Keep-first over non-overlapping 2-token chunks; null text → null
    // clean_md5 with zero counts on BOTH sides (rule 10).
    "q_chunk_dedup" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL THEN NULL
        |      ELSE list_transform(range(0, (len(string_split(text, ' ')) + 1) // 2),
        |        i -> array_to_string(string_split(text, ' ')[i*2+1 : i*2+2], ' ')) END AS chunks
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, chunks,
        |    list_transform(
        |      list_filter(range(0, len(chunks)), i -> list_position(chunks, chunks[i+1]) = i+1),
        |      i -> chunks[i+1]) AS kept
        |  FROM c)
        |SELECT doc_id,
        |  md5(CASE WHEN chunks IS NULL THEN NULL ELSE array_to_string(kept, ' ') END) AS clean_md5,
        |  CAST(coalesce(len(chunks), 0) AS BIGINT) AS n_chunks,
        |  CAST(coalesce(len(kept), 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(len(chunks), 0) - coalesce(len(kept), 0) AS BIGINT) AS n_removed
        |FROM k""".stripMargin,
    // G² drift replay with operation-order-exact float structure
    // (CAST-to-DOUBLE placement mirrors the engine); llr is output-only,
    // the row set and dir are pure integer arithmetic.
    "q_corpus_drift" ->
      """WITH ta AS (
        |  SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE lang = 'en'),
        |tb AS (
        |  SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE lang IS DISTINCT FROM 'en'),
        |ca AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt_a
        |  FROM ta WHERE token <> '' GROUP BY token),
        |cb AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt_b
        |  FROM tb WHERE token <> '' GROUP BY token),
        |j AS (
        |  SELECT coalesce(ca.token, cb.token) AS token,
        |    CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
        |    CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |tot AS (
        |  SELECT CAST(coalesce(sum(cnt_a), 0) AS BIGINT) AS tot_a,
        |    CAST(coalesce(sum(cnt_b), 0) AS BIGINT) AS tot_b FROM j)
        |SELECT token, cnt_a, cnt_b,
        |  CAST(CASE WHEN cnt_a * tot_b > cnt_b * tot_a THEN 1
        |    WHEN cnt_a * tot_b < cnt_b * tot_a THEN -1 ELSE 0 END AS BIGINT) AS dir,
        |  round(2.0 * (
        |    CASE WHEN cnt_a > 0 THEN CAST(cnt_a AS DOUBLE)
        |      * ln(CAST(cnt_a AS DOUBLE) / (CAST(tot_a AS DOUBLE)
        |        * CAST(cnt_a + cnt_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE)))
        |      ELSE 0.0 END
        |    + CASE WHEN cnt_b > 0 THEN CAST(cnt_b AS DOUBLE)
        |      * ln(CAST(cnt_b AS DOUBLE) / (CAST(tot_b AS DOUBLE)
        |        * CAST(cnt_a + cnt_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE)))
        |      ELSE 0.0 END), 6) + 0.0 AS llr
        |FROM j, tot
        |WHERE cnt_a + cnt_b >= 5""".stripMargin,
    // Full simhash replay: per-token md5Long (first 8 md5 bytes), 64
    // bit-votes, sign-bit signature, 4x16-bit band self-join (with the
    // operator's maxBucketSize=4096 skew guard replayed as a HAVING
    // filter), hamming via bit_count(xor). Portable because the token
    // hash is the md5 house hash — bit-identical as UBIGINT here and
    // signed long in the engine.
    "q_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS t FROM documents),
        |th AS (SELECT id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM toks),
        |votes AS (
        |  SELECT th.id, bits.b,
        |    sum(CASE WHEN (th.h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bits
        |  GROUP BY th.id, bits.b),
        |sig AS (
        |  SELECT id, bit_or(CASE WHEN v > 0 THEN 1::UBIGINT << b ELSE 0::UBIGINT END) AS sh
        |  FROM votes GROUP BY id),
        |chunked AS (
        |  SELECT id, sh, cs.c AS chunk, (sh >> (cs.c * 16)) & 65535 AS val
        |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c) cs),
        |small AS (
        |  SELECT chunk, val FROM chunked GROUP BY chunk, val HAVING count(*) <= 4096),
        |pruned AS (SELECT c.* FROM chunked c JOIN small USING (chunk, val))
        |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |  bit_count(xor(a.sh, b.sh)) AS hamming
        |FROM pruned a JOIN pruned b
        |  ON a.chunk = b.chunk AND a.val = b.val AND a.id < b.id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin,
    // Two-batch ingest chain replay: v1 = brute force within batch 1
    // (smaller ids); admitted = v1's novel docs; v2 = batch 2 vs
    // admitted ∪ smaller batch-2 ids. Same half-up micro jaccard and
    // integer-ordered rank-1 window as q_incremental_dedup.
    "q_ingest_chain" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${shingleListSql(3)} AS s FROM documents),
        |c1 AS (
        |  SELECT b.doc_id AS doc_id, m.doc_id AS match_id,
        |    ${halfUpJaccardMicroSql("b.s", "m.s")} AS jaccard_micro
        |  FROM sh b JOIN sh m
        |    ON b.doc_id % 2 = 0 AND m.doc_id % 2 = 0 AND m.doc_id < b.doc_id
        |  WHERE ${halfUpJaccardMicroSql("b.s", "m.s")} >= 700000),
        |r1 AS (
        |  SELECT doc_id, match_id, jaccard_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY jaccard_micro DESC, match_id ASC) AS rn
        |  FROM c1),
        |a1 AS (SELECT doc_id, count(*) AS n FROM c1 GROUP BY doc_id),
        |v1 AS (
        |  SELECT d.doc_id, r.match_id AS dup_of, r.jaccard_micro,
        |    coalesce(a1.n, 0) AS n_dup_matches, 0 AS batch
        |  FROM documents d
        |  LEFT JOIN r1 r ON r.doc_id = d.doc_id AND r.rn = 1
        |  LEFT JOIN a1 ON a1.doc_id = d.doc_id
        |  WHERE d.doc_id % 2 = 0),
        |adm AS (SELECT doc_id FROM v1 WHERE dup_of IS NULL),
        |c2 AS (
        |  SELECT b.doc_id AS doc_id, m.doc_id AS match_id,
        |    ${halfUpJaccardMicroSql("b.s", "m.s")} AS jaccard_micro
        |  FROM sh b JOIN sh m
        |    ON b.doc_id % 2 = 1 AND (
        |       m.doc_id IN (SELECT doc_id FROM adm)
        |       OR (m.doc_id % 2 = 1 AND m.doc_id < b.doc_id))
        |  WHERE ${halfUpJaccardMicroSql("b.s", "m.s")} >= 700000),
        |r2 AS (
        |  SELECT doc_id, match_id, jaccard_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY jaccard_micro DESC, match_id ASC) AS rn
        |  FROM c2),
        |a2 AS (SELECT doc_id, count(*) AS n FROM c2 GROUP BY doc_id),
        |v2 AS (
        |  SELECT d.doc_id, r.match_id AS dup_of, r.jaccard_micro,
        |    coalesce(a2.n, 0) AS n_dup_matches, 1 AS batch
        |  FROM documents d
        |  LEFT JOIN r2 r ON r.doc_id = d.doc_id AND r.rn = 1
        |  LEFT JOIN a2 ON a2.doc_id = d.doc_id
        |  WHERE d.doc_id % 2 = 1)
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2""".stripMargin,
    // Leakage-safe split replay: same recursive-CTE components as
    // q_neardup_components, then the house md5 split on the group key.
    "q_leakage_split" ->
      s"""WITH RECURSIVE sh AS (
        |  SELECT doc_id, ${shingleListSql(3)} AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |n AS (SELECT DISTINCT src AS id FROM e),
        |reach(a, b) AS (
        |  SELECT id, id FROM n
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |cc AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
        |keyed AS (
        |  SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS group_key
        |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id)
        |SELECT doc_id, group_key,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, group_key,
        |        ('0x' || substr(md5('graft:' || group_key::VARCHAR), 1, 8))::UBIGINT
        |          / 4294967296.0 AS u
        |      FROM keyed)""".stripMargin,
    "q_neardup_components" ->
      s"""WITH RECURSIVE sh AS (
        |  SELECT doc_id, ${shingleListSql(3)} AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |n AS (SELECT DISTINCT src AS id FROM e),
        |reach(a, b) AS (
        |  SELECT id, id FROM n
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |cc AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a)
        |SELECT comp, min(id) AS keeper_id, count(*) AS group_size
        |FROM cc GROUP BY comp""".stripMargin,
    "q_semdedup" ->
      """WITH RECURSIVE p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |kc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*)) / 2) AS BIGINT)) AS k FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings, kc
        |      WHERE vec_id < kc.k),
        |asg AS (
        |  SELECT id, cluster, sim, v FROM (
        |    SELECT p.id, c.cid AS cluster, list_cosine_similarity(p.v, c.cv) AS sim, p.v,
        |      row_number() OVER (PARTITION BY p.id
        |        ORDER BY list_cosine_similarity(p.v, c.cv) DESC, c.cid) AS rn
        |    FROM p, c) WHERE rn = 1),
        |pr AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND b.id > a.id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
        |n AS (SELECT DISTINCT src AS id FROM e),
        |reach(a, b) AS (
        |  SELECT id, id FROM n
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |cc AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
        |lab AS (SELECT asg.id, asg.cluster, asg.sim, cc.comp FROM asg LEFT JOIN cc USING (id)),
        |keep AS (SELECT comp, min(id) AS keep_id FROM lab WHERE comp IS NOT NULL GROUP BY comp)
        |SELECT lab.id, lab.cluster, round(lab.sim, 6) + 0.0 AS centroid_sim, lab.comp,
        |  (lab.comp IS NULL OR lab.id = keep.keep_id) AS keep
        |FROM lab LEFT JOIN keep USING (comp)""".stripMargin,
    // Incremental replay: the q_semdedup recursive-component machinery
    // over the CORPUS slice yields the keeper set; the batch slice then
    // best-matches (raw-cosine window order, the q_semdedup precedent;
    // round-6 threshold) against keepers plus smaller-id co-batch docs.
    "q_semdedup_incremental" -> semdedupIncrementalOracleSql,
    "q_semdedup_rebalance" -> semdedupRebalanceOracleSql,
    // The STREAMING ingest path (SemDedupIndex.ingestStream) drives the
    // IDENTICAL one-batch probe through foreachBatch + the persisted
    // store + the anti-join replay heal — its verdicts are defined to
    // equal the batch probe's, so it shares the oracle verbatim
    // (rule 5: one string, two gates).
    "q_semdedup_stream" -> semdedupIncrementalOracleSql,
    "q_ann_topk" ->
      """SELECT query_id, rank, corpus_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5""".stripMargin,
    "q_hard_negatives" ->
      """SELECT query_id, rank, corpus_id, neg_label FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, c.label AS neg_label,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.label <> q.label
        |  WHERE q.vec_id % 20 = 0)
        |WHERE rank <= 5""".stripMargin,
    "q_quantize_int8" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings)
        |SELECT vec_id,
        |  unnest(range(len(v))) AS j,
        |  unnest(list_transform(v, x -> CASE WHEN scale = 0
        |    THEN 0 ELSE CAST(round(x / scale * 127.0) AS BIGINT) END)) AS code
        |FROM q""".stripMargin,
    "q_random_project" ->
      """WITH signs AS (
        |  SELECT ii.i, jj.j,
        |    CASE WHEN ('0x' || substr(md5('rp9:' || ii.i || ':' || jj.j), 1, 1))::UBIGINT < 8
        |      THEN 1.0 ELSE -1.0 END AS s
        |  FROM (SELECT unnest(range(64)) AS i) ii,
        |       (SELECT unnest(range(16)) AS j) jj),
        |vecs AS (
        |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
        |    unnest(range(len(embedding))) AS i
        |  FROM embeddings)
        |SELECT v.vec_id, sg.j,
        |  round(sum(v.x * sg.s) / sqrt(16.0), 6) + 0.0 AS v
        |FROM vecs v JOIN signs sg ON sg.i = v.i
        |GROUP BY 1, 2""".stripMargin,
    "q_soft_assign_fixed" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 3),
        |d AS (SELECT p.vec_id, c.cid,
        |        0.5 * list_sum(list_transform(range(1, len(p.embedding)+1),
        |          i -> (p.embedding[i]::DOUBLE - c.ce[i]::DOUBLE)
        |             * (p.embedding[i]::DOUBLE - c.ce[i]::DOUBLE))) AS dist
        |      FROM embeddings p, c),
        |w AS (SELECT vec_id,
        |        max(CASE WHEN cid = 0 THEN dist END) AS d0,
        |        max(CASE WHEN cid = 1 THEN dist END) AS d1,
        |        max(CASE WHEN cid = 2 THEN dist END) AS d2
        |      FROM d GROUP BY 1),
        |u AS (SELECT vec_id,
        |        exp(-2.0 * (d0 - least(d0, d1, d2))) AS u0,
        |        exp(-2.0 * (d1 - least(d0, d1, d2))) AS u1,
        |        exp(-2.0 * (d2 - least(d0, d1, d2))) AS u2
        |      FROM w)
        |SELECT vec_id, round(u0 / (u0 + u1 + u2), 6) AS p0,
        |  round(u1 / (u0 + u1 + u2), 6) AS p1,
        |  round(u2 / (u0 + u1 + u2), 6) AS p2
        |FROM u""".stripMargin,
    "q_assign_fixed" ->
      """SELECT vec_id, cluster FROM (
        |  SELECT p.vec_id, c.vec_id AS cluster,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_distance(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), c.vec_id) AS rn
        |  FROM embeddings p, (SELECT * FROM embeddings WHERE vec_id < 3) c)
        |WHERE rn = 1""".stripMargin,
    "q_kmedians_fixed" ->
      """WITH assigned AS (
        |  SELECT vec_id, cluster, pv FROM (
        |    SELECT p.vec_id, c.vec_id AS cluster, p.embedding::DOUBLE[] AS pv,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY list_sum(list_transform(range(1, len(p.embedding)+1),
        |                 i -> abs(p.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), c.vec_id) AS rn
        |    FROM embeddings p, (SELECT * FROM embeddings WHERE vec_id < 3) c) WHERE rn = 1),
        |ex AS (
        |  SELECT cluster, CAST(i - 1 AS BIGINT) AS d, pv[i] AS v
        |  FROM assigned, unnest(range(1, len(pv)+1)) AS t(i)),
        |grp AS (SELECT cluster, d, v, count(*) AS w FROM ex GROUP BY 1, 2, 3),
        |win AS (SELECT cluster, d, v,
        |  sum(w) OVER (PARTITION BY cluster, d ORDER BY v) AS cw,
        |  sum(w) OVER (PARTITION BY cluster, d) AS tw FROM grp)
        |SELECT cluster, d, min(v) AS med FROM win WHERE cw >= tw / 2 GROUP BY 1, 2""".stripMargin,
    "q_mutual_info" ->
      """WITH j AS (SELECT l_returnflag AS x, l_linestatus AS y, count(*)::DOUBLE AS c
        |           FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT sum(c) AS n FROM j),
        |px AS (SELECT x, sum(c) AS cx FROM j GROUP BY 1),
        |py AS (SELECT y, sum(c) AS cy FROM j GROUP BY 1),
        |hx AS (SELECT -sum((cx / tot.n) * log2(cx / tot.n)) AS v FROM px, tot),
        |hy AS (SELECT -sum((cy / tot.n) * log2(cy / tot.n)) AS v FROM py, tot),
        |hxy AS (SELECT -sum((c / tot.n) * log2(c / tot.n)) AS v FROM j, tot),
        |mi AS (SELECT sum((j.c / tot.n) * log2((j.c / tot.n) / ((px.cx / tot.n) * (py.cy / tot.n)))) AS v
        |       FROM j JOIN px ON j.x = px.x JOIN py ON j.y = py.y, tot)
        |SELECT round(hx.v, 6) AS h_x, round(hy.v, 6) AS h_y,
        |  round(hxy.v, 6) AS h_xy, round(mi.v, 6) AS mi,
        |  round(mi.v / sqrt(hx.v * hy.v), 6) AS nmi
        |FROM hx, hy, hxy, mi""".stripMargin,
    "q_metrics_fixed" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 3),
        |asg AS (
        |  SELECT vec_id, cluster, d FROM (
        |    SELECT p.vec_id, c.cid AS cluster,
        |      0.5 * list_sum(list_transform(range(1, len(c.cv)+1),
        |        i -> (p.embedding[i]::DOUBLE - c.cv[i]) * (p.embedding[i]::DOUBLE - c.cv[i]))) AS d,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY list_sum(list_transform(range(1, len(c.cv)+1),
        |          i -> (p.embedding[i]::DOUBLE - c.cv[i]) * (p.embedding[i]::DOUBLE - c.cv[i]))), c.cid) AS rn
        |    FROM embeddings p, c) WHERE rn = 1),
        |stats AS (SELECT cluster, count(*) AS n, sum(d) AS sd, avg(d) AS ad, max(d) AS md
        |          FROM asg GROUP BY 1),
        |tot AS (SELECT sum(sd) AS wcss, sum(n) AS n FROM stats),
        |cexp AS (SELECT cid, j, cv[j] AS v FROM c, unnest(range(1, len(cv)+1)) AS t(j)),
        |ov AS (SELECT j, sum(ce.v * s.n) / (SELECT n FROM tot) AS o
        |       FROM cexp ce JOIN stats s ON s.cluster = ce.cid GROUP BY j),
        |bc AS (SELECT sum(term) AS bcss FROM (
        |        SELECT s.cluster, s.n * 0.5 * sum((ce.v - ov.o) * (ce.v - ov.o)) AS term
        |        FROM cexp ce JOIN ov ON ov.j = ce.j JOIN stats s ON s.cluster = ce.cid
        |        GROUP BY s.cluster, s.n)),
        |cd AS (SELECT a.cid AS i, b.cid AS j2,
        |        0.5 * list_sum(list_transform(range(1, len(a.cv)+1),
        |          i2 -> (a.cv[i2] - b.cv[i2]) * (a.cv[i2] - b.cv[i2]))) AS d
        |       FROM c a JOIN c b ON a.cid <> b.cid),
        |dbi AS (SELECT avg(mx) AS db FROM (
        |         SELECT cd.i, max((si.ad + sj.ad) / cd.d) AS mx
        |         FROM cd JOIN stats si ON si.cluster = cd.i JOIN stats sj ON sj.cluster = cd.j2
        |         GROUP BY cd.i)),
        |du AS (SELECT min(cd.d) / (SELECT max(md) FROM stats) AS dunn FROM cd)
        |SELECT round(tot.wcss, 4) AS wcss, round(bc.bcss, 4) AS bcss,
        |  round((bc.bcss / 2) / (tot.wcss / (tot.n - 3)), 4) AS ch,
        |  round(dbi.db, 4) AS db, round(du.dunn, 6) AS dunn,
        |  (SELECT n FROM stats WHERE cluster = 0) AS n0,
        |  (SELECT n FROM stats WHERE cluster = 1) AS n1,
        |  (SELECT n FROM stats WHERE cluster = 2) AS n2
        |FROM tot, bc, dbi, du""".stripMargin,
    "q_silhouette_proxy" ->
      s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv FROM embeddings),
        |c AS (SELECT vec_id AS cid, pv AS cv FROM p WHERE vec_id < 4),
        |d AS (SELECT p.vec_id, c.cid, 0.5 * ${seDistSql("p.pv", "c.cv")} AS dd FROM p, c),
        |ab AS (SELECT vec_id,
        |    max(CASE WHEN rn = 1 THEN dd END) AS a,
        |    max(CASE WHEN rn = 2 THEN dd END) AS b
        |  FROM (SELECT vec_id, dd,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn FROM d)
        |  WHERE rn <= 2 GROUP BY vec_id)
        |SELECT round(avg(CASE WHEN greatest(a, b) = 0 THEN 0.0
        |    ELSE (b - a) / greatest(a, b) END), 6) + 0.0 AS silhouette
        |FROM ab""".stripMargin,
    "q_silhouette_exact" ->
      s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 200),
        |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |asg AS MATERIALIZED (SELECT vec_id, pv, cid FROM (
        |  SELECT p.vec_id, p.pv, c.cid, row_number() OVER (PARTITION BY p.vec_id
        |    ORDER BY 0.5 * ${seDistSql("p.pv", "c.cv")}, c.cid) AS rn
        |  FROM p, c) WHERE rn = 1),
        |pair AS (SELECT a.vec_id AS i, a.cid AS ci, b.cid AS cj,
        |    0.5 * ${seDistSql("a.pv", "b.pv")} AS dij
        |  FROM asg a JOIN asg b ON a.vec_id <> b.vec_id),
        |sums AS (SELECT i, ci, cj, sum(dij) AS sd, count(*) AS cnt
        |  FROM pair GROUP BY 1, 2, 3),
        |per AS (SELECT i,
        |    max(CASE WHEN cj = ci THEN sd / cnt END) AS a,
        |    min(CASE WHEN cj <> ci THEN sd / cnt END) AS b
        |  FROM sums GROUP BY i)
        |SELECT round(avg((b - a) / greatest(a, b)), 6) + 0.0 AS silhouette
        |FROM per WHERE a IS NOT NULL AND b IS NOT NULL AND greatest(a, b) > 0""".stripMargin,
    "q_soft_metrics" ->
      s"""WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv FROM embeddings),
        |c AS (SELECT vec_id AS cid, pv AS cv FROM p WHERE vec_id < 4),
        |d AS (SELECT p.vec_id, c.cid, 0.5 * ${seDistSql("p.pv", "c.cv")} AS dd FROM p, c),
        |u AS (SELECT vec_id, cid,
        |    exp(-2.0 * (dd - min(dd) OVER (PARTITION BY vec_id))) AS pu FROM d),
        |pr AS (SELECT vec_id, cid, pu / (sum(pu) OVER (PARTITION BY vec_id)) AS pr FROM u),
        |pbar AS (SELECT cid, sum(pr) / (SELECT count(*) FROM p) AS pb FROM pr GROUP BY cid),
        |h AS (SELECT -sum(CASE WHEN pb > 0 THEN pb * ln(pb) ELSE 0.0 END) AS h FROM pbar)
        |SELECT round(exp(h), 6) + 0.0 AS eff_clusters,
        |  CAST((SELECT count(*) FROM c) AS BIGINT) AS k FROM h""".stripMargin,
    "q_feature_transform" ->
      """WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |stats AS MATERIALIZED (
        |  -- same closed form as fitStandardScale: m = Σv/n,
        |  -- sd = sqrt(max(0, Σv²/n − m²)) — NOT stddev_pop, whose
        |  -- Welford path would differ from the engine by float shape
        |  SELECT j, m, CASE WHEN sd > 0 THEN sd ELSE 1.0 END AS s FROM (
        |    SELECT j, s / n AS m, sqrt(greatest(0.0, s2 / n - (s / n) * (s / n))) AS sd
        |    FROM (SELECT j, count(*)::DOUBLE AS n, sum(v[j]) AS s, sum(v[j] * v[j]) AS s2
        |          FROM p, unnest(range(1, len(v)+1)) AS t(j) GROUP BY j))),
        |z AS MATERIALIZED (
        |  SELECT vec_id, j, (pe.v - stats.m) / stats.s AS zv
        |  FROM (SELECT vec_id, j, v[j] AS v FROM p, unnest(range(1, len(v)+1)) AS t(j)) pe
        |  JOIN stats USING (j)),
        |nrm AS (SELECT vec_id, sqrt(sum(zv * zv)) AS nr FROM z GROUP BY vec_id)
        |SELECT z.vec_id, CAST(z.j - 1 AS BIGINT) AS d,
        |  round(z.zv / greatest(nr, 1e-10), 6) + 0.0 AS v
        |FROM z JOIN nrm USING (vec_id) WHERE z.j <= 8""".stripMargin,
    "q_wcss_fixed" ->
      """SELECT round(sum(md), 4) AS wcss FROM (
        |  SELECT p.vec_id, min(list_distance(p.embedding::DOUBLE[], c.embedding::DOUBLE[])^2) AS md
        |  FROM embeddings p, (SELECT * FROM embeddings WHERE vec_id < 3) c
        |  GROUP BY p.vec_id)""".stripMargin,
    "q_events_window" ->
      """SELECT CAST(floor(epoch_ns(ts) / 3600000000000) * 3600 AS BIGINT) AS hour_epoch,
        |event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_elkan_fixed" ->
      """SELECT vec_id, cluster, round(0.5 * d2, 6) AS dist FROM (
        |  SELECT p.vec_id, c.vec_id AS cluster,
        |    list_sum(list_transform(range(1, len(p.embedding)+1),
        |      i -> (p.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)^2)) AS d2,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_sum(list_transform(range(1, len(p.embedding)+1),
        |        i -> (p.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)^2)), c.vec_id) AS rn
        |  FROM embeddings p, (SELECT * FROM embeddings WHERE vec_id < 8) c)
        |WHERE rn = 1""".stripMargin,
    "q_kmeans_fit" -> lloydFitOracleSql(5, seDistSql, meanUpdateCte),
    "q_kmeans_fit_elkan" -> lloydFitOracleSql(5, seDistSql, meanUpdateCte),
    "q_kmeans_fit_chunked" -> lloydFitOracleSql(5, seDistSql, meanUpdateCte),
    "q_kmedians_fit" -> lloydFitOracleSql(5, l1DistSql, medianUpdateCte),
    "q_softkmeans_fit" -> softFitOracleSql(3, 2.0),
    "q_mixture_fit" -> mixtureFitOracleSql(3, 8, 1e-6),
    "q_dpmeans_fit" -> dpmeansFitOracleSql(6, 1.1),
    "q_kernelkmeans_fit" -> kernelFitOracleSql(4, 1.0),
    "q_constrained_fit" -> constrainedFitOracleSql(2, 10.0),
    "q_agglomerative_fit" -> agglomerativeFitOracleSql(12, 4),
    "q_kmedoids_fit" -> pamFitOracleSql(60, 4, 3),
    "q_dtw_dist" -> dtwDistOracleSql(soft = false, gamma = 0.0),
    "q_dtw_path" -> dtwPathOracleSql(),
    "q_dba_step" -> dbaStepOracleSql(),
    "q_bpe_train" ->
      s"""WITH ${bpeChainSql(8)}
        |SELECT * FROM (
        |${(1 to 8).map(r => s"  SELECT CAST($r AS BIGINT) AS rank, lhs, rhs, CAST(cnt AS BIGINT) AS cnt FROM b$r")
             .mkString("  UNION ALL\n")}
        |)""".stripMargin,
    "q_bpe_encode" ->
      s"""WITH ${bpeChainSql(8)},
        |dw AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
        |  FROM documents)
        |SELECT dw.doc_id, count(*) AS n_words,
        |  CAST(sum(len(w) - len(replace(w, chr(1), ''))) AS BIGINT) AS n_tokens
        |FROM dw JOIN w8 USING (word)
        |GROUP BY dw.doc_id""".stripMargin,
    "q_bigram_nll" ->
      s"""WITH ${bigramCountsSql()}
        |SELECT pw.doc_id,
        |  round(avg(-ln(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))), 6) + 0.0 AS nll2,
        |  count(*) AS n_bigrams
        |FROM pw JOIN c2 USING (pair) JOIN c1 USING (w1)
        |GROUP BY pw.doc_id""".stripMargin,
    "q_ccnet_buckets" ->
      s"""WITH ${bigramCountsSql()},
        |sc AS MATERIALIZED (
        |  SELECT doc_id, CAST(sum((c2.c2 * 1000000) // c1.c1) AS BIGINT) // count(*) AS score_micro
        |  FROM pw JOIN c2 USING (pair) JOIN c1 USING (w1)
        |  GROUP BY doc_id),
        |r AS (
        |  SELECT doc_id, score_micro,
        |    row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rk,
        |    count(*) OVER () AS n
        |  FROM sc)
        |SELECT doc_id, score_micro,
        |  CASE WHEN rk <= (n * 1 + 2) // 3 THEN 'head'
        |       WHEN rk <= (n * 2 + 2) // 3 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM r""".stripMargin,
    "q_corpus_profile" ->
      s"""WITH c AS MATERIALIZED (
        |  SELECT lang, doc_id, ${qualityCountsSql()} FROM documents),
        |base AS MATERIALIZED (
        |  -- null text = 0 tokens, matching profileCorpus: the rank
        |  -- windows ORDER BY n_tokens, and NULL ordering is engine-
        |  -- dependent (Spark NULLS FIRST vs DuckDB NULLS LAST)
        |  SELECT lang, doc_id, coalesce(n_tokens, 0) AS n_tokens,
        |    ${qualityMicroSql()} AS q_micro FROM c),
        |r AS MATERIALIZED (
        |  SELECT lang, n_tokens, q_micro,
        |    count(*) OVER (PARTITION BY lang) AS cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rt,
        |    row_number() OVER (PARTITION BY lang ORDER BY q_micro, doc_id) AS rq
        |  FROM base)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
        |  max(CASE WHEN rt = (cnt * 1 + 9) // 10 THEN n_tokens END) AS p10_tokens,
        |  max(CASE WHEN rt = (cnt * 5 + 9) // 10 THEN n_tokens END) AS p50_tokens,
        |  max(CASE WHEN rt = (cnt * 9 + 9) // 10 THEN n_tokens END) AS p90_tokens,
        |  max(CASE WHEN rq = (cnt * 1 + 9) // 10 THEN q_micro END) AS p10_q_micro,
        |  max(CASE WHEN rq = (cnt * 5 + 9) // 10 THEN q_micro END) AS p50_q_micro,
        |  max(CASE WHEN rq = (cnt * 9 + 9) // 10 THEN q_micro END) AS p90_q_micro
        |FROM r GROUP BY lang""".stripMargin,
    // --- column-bisection siblings (see queries block) ---
    "q_budget_cum" ->
      s"""WITH c AS (
        |  SELECT lang AS domain, doc_id AS key, ${qualityCountsSql()}
        |  FROM documents),
        |d AS (
        |  SELECT domain, key, ${qualityMicroSql()} AS quality, n_tokens
        |  FROM c)
        |SELECT domain, key, cum_tokens FROM (
        |  SELECT domain, key, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY domain ORDER BY quality DESC, key
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM d)
        |WHERE cum_tokens - n_tokens < 2000""".stripMargin,
    "q_bpe_pairs" ->
      s"""WITH ${bpeChainSql(8)}
        |SELECT * FROM (
        |${(1 to 8).map(r => s"  SELECT CAST($r AS BIGINT) AS rank, lhs, rhs FROM b$r")
             .mkString("  UNION ALL\n")}
        |)""".stripMargin,
    "q_bpe_words" ->
      s"""WITH ${bpeChainSql(8)},
        |dw AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
        |  FROM documents)
        |SELECT dw.doc_id, count(*) AS n_words
        |FROM dw JOIN w8 USING (word)
        |GROUP BY dw.doc_id""".stripMargin,
    "q_profile_tokens" ->
      """SELECT lang,
        |  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang""".stripMargin,
    "q_dedup_stats" ->
      """WITH corpus AS (
        |  SELECT text FROM documents
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0),
        |g AS (
        |  SELECT md5(text) AS h, count(*) AS group_size FROM corpus GROUP BY 1)
        |SELECT group_size, count(*) AS n_groups,
        |  group_size * count(*) AS n_docs,
        |  (group_size - 1) * count(*) AS n_deletable
        |FROM g GROUP BY group_size""".stripMargin,
    "q_semantic_decontam" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT vec_id AS eval_id, embedding::DOUBLE[] AS evv
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |tr AS MATERIALIZED (
        |  SELECT vec_id AS doc_id, embedding::DOUBLE[] AS tv
        |  FROM embeddings WHERE vec_id % 5 <> 0),
        |hits AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS n_hits, max(cos) AS max_cos,
        |    min(eval_id) AS min_hit_eval_id
        |  FROM (SELECT tr.doc_id, ev.eval_id,
        |          round(list_cosine_similarity(tr.tv, ev.evv), 6) AS cos
        |        FROM tr CROSS JOIN ev)
        |  WHERE cos >= 0.35
        |  GROUP BY doc_id)
        |SELECT tr.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.max_cos, 0.0) + 0.0 AS max_cos,
        |  h.min_hit_eval_id,
        |  coalesce(h.n_hits, 0) >= 1 AS contaminated
        |FROM tr LEFT JOIN hits h USING (doc_id)""".stripMargin,
    "q_unigram_nll" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tk AS MATERIALIZED (SELECT doc_id, token FROM toks WHERE token <> ''),
        |counts AS MATERIALIZED (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM counts)
        |SELECT tk.doc_id, round(avg(-ln(CAST(counts.cnt AS DOUBLE) / tot.t)), 6) + 0.0 AS nll,
        |  count(*) AS n_tokens
        |FROM tk JOIN counts USING (token), tot
        |GROUP BY tk.doc_id""".stripMargin,
    "q_pq_adc" ->
      """WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cb AS MATERIALIZED (SELECT vec_id AS code, v FROM p WHERE vec_id < 16),
        |q0 AS MATERIALIZED (SELECT v AS qv,
        |  sqrt(list_sum(list_transform(v, x -> x * x))) AS qn FROM p WHERE vec_id = 0),
        |subs AS (SELECT unnest(range(0, 8)) AS s),
        |dists AS MATERIALIZED (
        |  SELECT p.vec_id, subs.s, cb.code,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (p.v[subs.s * 8 + i] - cb.v[subs.s * 8 + i])^2)) AS dist
        |  FROM p, subs, cb),
        |enc AS MATERIALIZED (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
        |    FROM dists) WHERE rn = 1),
        |lut AS MATERIALIZED (
        |  SELECT subs.s, cb.code,
        |    list_sum(list_transform(range(1, 9),
        |      i -> q0.qv[subs.s * 8 + i] * cb.v[subs.s * 8 + i])) AS lv
        |  FROM subs, cb, q0),
        |adc AS MATERIALIZED (
        |  SELECT enc.vec_id, list_sum(list(lut.lv ORDER BY enc.s)) AS d
        |  FROM enc JOIN lut ON lut.s = enc.s AND lut.code = enc.code
        |  GROUP BY enc.vec_id),
        |scored AS (
        |  SELECT adc.vec_id,
        |    CASE WHEN nrm.norm > 0 AND q0.qn > 0
        |         THEN adc.d / (q0.qn * nrm.norm) ELSE 0.0 END AS sim
        |  FROM adc
        |  JOIN (SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
        |        FROM p) nrm USING (vec_id), q0)
        |SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rank,
        |  vec_id, round(sim, 6) + 0.0 AS adc_cosine
        |FROM scored ORDER BY sim DESC, vec_id LIMIT 50""".stripMargin,
    "q_softdtw_dist" -> dtwDistOracleSql(soft = true, gamma = 0.5),
    "q_gak_dist" -> gakDistOracleSql(sigma = 1.0),
    "q_decontaminate" ->
      s"""WITH ev AS MATERIALIZED (SELECT DISTINCT sh FROM (
        |  SELECT ${shingleRowsSql(5)} AS sh
        |  FROM documents WHERE doc_id % 50 = 0)),
        |tr AS MATERIALIZED (
        |  SELECT doc_id, ${shingleRowsSql(5)} AS sh
        |  FROM documents WHERE doc_id % 50 <> 0),
        |hits AS (SELECT tr.doc_id, count(*) AS n_hits FROM tr JOIN ev USING (sh) GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        |LEFT JOIN hits h USING (doc_id)""".stripMargin,
    // Rebuilds the EXACT Bloom filter: m = max(64, 10 * nd) from the
    // distinct eval shingle count; 7 bit positions per shingle by
    // Kirsch-Mitzenmacher double hashing of ONE md5 — h1/h2 = the
    // digest's two unsigned 8-byte halves mod m, pos_i = (h1 + i*h2)
    // mod m. A train shingle passes iff all 7 positions are set by
    // SOME eval shingle.
    "q_bloom_decontaminate" ->
      s"""WITH ev AS MATERIALIZED (SELECT DISTINCT sh FROM (
        |  SELECT ${shingleRowsSql(5)} AS sh
        |  FROM documents WHERE doc_id % 50 = 0)),
        |par AS (SELECT CAST(greatest(1024, 10 * count(*)) AS UBIGINT) AS m FROM ev),
        |evh AS (SELECT
        |    ('0x' || substr(md5(sh), 1, 16))::UBIGINT % (SELECT m FROM par) AS h1,
        |    ('0x' || substr(md5(sh), 17, 16))::UBIGINT % (SELECT m FROM par) AS h2
        |  FROM ev),
        |ep AS MATERIALIZED (SELECT DISTINCT
        |    (h1 + i * h2) % (SELECT m FROM par) AS pos
        |  FROM evh CROSS JOIN range(7) r(i)),
        |tr AS MATERIALIZED (
        |  SELECT doc_id, ${shingleRowsSql(5)} AS sh
        |  FROM documents WHERE doc_id % 50 <> 0),
        |trh AS (SELECT doc_id, sh,
        |    ('0x' || substr(md5(sh), 1, 16))::UBIGINT % (SELECT m FROM par) AS h1,
        |    ('0x' || substr(md5(sh), 17, 16))::UBIGINT % (SELECT m FROM par) AS h2
        |  FROM tr),
        |trp AS (SELECT doc_id, sh, (h1 + i * h2) % (SELECT m FROM par) AS pos
        |  FROM trh CROSS JOIN range(7) r(i)),
        |-- a shingle passes iff EVERY one of its distinct positions is
        |-- set (double-hashed positions can self-collide, so compare
        |-- against the distinct-position count, not 7)
        |pass AS (SELECT t.doc_id, t.sh
        |  FROM (SELECT DISTINCT doc_id, sh, pos FROM trp) t
        |  LEFT JOIN ep ON t.pos = ep.pos
        |  GROUP BY t.doc_id, t.sh HAVING count(*) = count(ep.pos)),
        |hits AS (SELECT doc_id, count(*) AS n_hits FROM pass GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        |LEFT JOIN hits h USING (doc_id)""".stripMargin,
    // The word frame of the eval slice's Bloom filter, bit for bit
    // (m = 65536, k = 7 — fixed geometry: a merged filter's modulus
    // cannot be data-derived).
    "q_bloom_bits" -> bloomWordsOracleSql(
      s"SELECT ${shingleRowsSql(5)} AS sh FROM documents WHERE doc_id % 50 = 0",
      65536, 7),
    // OR-merge of the even/odd halves == the one-shot build: bitwise
    // OR is associative and idempotent, so the oracle IS the one-shot
    // word replay (same helper, same slice — rule 5).
    "q_bloom_merge" -> bloomWordsOracleSql(
      s"SELECT ${shingleRowsSql(5)} AS sh FROM documents WHERE doc_id % 50 = 0",
      65536, 7),
    // Membership verdicts per distinct corpus shingle against the
    // tight 4096-bit/k=3 eval filter: a shingle is contained iff EVERY
    // one of its distinct positions is set by some eval shingle
    // (double-hashed positions can self-collide, so compare against
    // the distinct-position count — the q_bloom_decontaminate lesson).
    // False positives replay exactly: they are position collisions,
    // and positions are pure integer arithmetic.
    "q_bloom_probe" ->
      s"""WITH ep AS MATERIALIZED ${bloomPositionsSql(
           s"SELECT ${shingleRowsSql(5)} AS sh FROM documents WHERE doc_id % 50 = 0",
           4096, 3)},
        |prp AS MATERIALIZED ${bloomPositionsSql(
           s"SELECT ${shingleRowsSql(5)} AS sh FROM documents",
           4096, 3, grpSel = "sh, ")}
        |SELECT p.sh, (count(*) = count(ep.pos)) AS contained
        |FROM prp p LEFT JOIN ep ON p.pos = ep.pos
        |GROUP BY p.sh""".stripMargin,
    // Per-group probe verdicts: positions join their lang's filter
    // NULL-SAFELY (IS NOT DISTINCT FROM == Spark's <=>, rule 10), so
    // null-lang docs probe the null-lang filter; a lang with no eval
    // filter left-joins nothing and counts zero matches.
    "q_bloom_probe_grouped" ->
      s"""WITH ep AS MATERIALIZED ${bloomPositionsSql(
           s"SELECT lang, ${shingleRowsSql(5)} AS sh FROM documents WHERE doc_id % 50 = 0",
           4096, 3, grpSel = "lang, ")},
        |prp AS MATERIALIZED ${bloomPositionsSql(
           s"SELECT lang, ${shingleRowsSql(5)} AS sh FROM documents",
           4096, 3, grpSel = "lang, sh, ")}
        |SELECT p.lang, p.sh, (count(*) = count(ep.pos)) AS contained
        |FROM prp p LEFT JOIN ep
        |  ON p.pos = ep.pos AND p.lang IS NOT DISTINCT FROM ep.lang
        |GROUP BY p.lang, p.sh""".stripMargin,
    // Windowed build replay: epoch-aligned 1-day bounds as pure ms
    // arithmetic, positions per distinct (window, user) — the same
    // shared fragment with the window start as the carried prefix.
    "q_bloom_windowed" ->
      s"""WITH ep AS MATERIALIZED ${bloomPositionsSql(
           eventsDayKeySql("sh"), 4096, 3, grpSel = "ws, ")}
        |SELECT CAST(ws AS BIGINT) AS windowStartMs,
        |  CAST(ws + 86400000 AS BIGINT) AS windowEndMs,
        |  CAST(pos // 64 AS BIGINT) AS w,
        |  bit_or(CASE WHEN pos % 64 < 32
        |    THEN (1::BIGINT << (pos % 64)) ELSE 0::BIGINT END) AS lo,
        |  bit_or(CASE WHEN pos % 64 >= 32
        |    THEN (1::BIGINT << (pos % 64 - 32)) ELSE 0::BIGINT END) AS hi
        |FROM ep GROUP BY 1, 2, 3""".stripMargin,
    // Windowed HLL replay: epoch-aligned 1-day bounds as pure ms
    // arithmetic (the q_bloom_windowed window fragment) + the shared
    // register arithmetic of q_hll_registers (bucket = first-8-hex md5
    // mod 512, rank via the length(bin(w)) bit-length identity).
    "q_hll_windowed" ->
      s"""WITH regs AS (
        |${hllRegisterRollupSql("hllw17", eventsDayKeySql("k"), grpSel = "ws, ")})
        |SELECT CAST(ws AS BIGINT) AS windowStartMs,
        |  CAST(ws + 86400000 AS BIGINT) AS windowEndMs, bucket, maxrank
        |FROM regs""".stripMargin,
    // Windowed CMS replay: same window fragment + the q_cms_heavy cell
    // scheme ('cmsw17:r:key' first 8 hex % 512); counts CAST BIGINT
    // (rule 1's HUGEINT ban).
    "q_cms_windowed" ->
      s"""WITH occ AS (${eventsDayKeySql("k")})
        |SELECT CAST(ws AS BIGINT) AS windowStartMs,
        |  CAST(ws + 86400000 AS BIGINT) AS windowEndMs,
        |  CAST(r AS BIGINT) AS r,
        |  CAST(('0x' || substr(md5('cmsw17:' || r::VARCHAR || ':' || k), 1, 8))::UBIGINT % 512 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM occ CROSS JOIN range(4) t(r)
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    // Windowed rank-sketch replay: the shared window expression + the
    // shared 60-bit rank key, per-window bottom-32 cut and counts —
    // the q_qsketch_grouped(_double) machinery with ws as the stratum.
    "q_qsketch_windowed" ->
      s"""WITH v AS (
        |  SELECT $eventsWsSql AS ws,
        |    ${rankKeySql("qskw17", "event_id")} AS rk,
        |    value + 0 AS value
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |cut AS (
        |  SELECT ws, rk, value FROM (
        |    SELECT ws, rk, value,
        |      row_number() OVER (PARTITION BY ws ORDER BY rk, value) AS rn
        |    FROM v) WHERE rn <= 32),
        |nn AS (SELECT ws, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY ws)
        |SELECT CAST(cut.ws AS BIGINT) AS windowStartMs,
        |  CAST(cut.ws + 86400000 AS BIGINT) AS windowEndMs,
        |  cut.rk, round(cut.value, 6) AS value, nn.n
        |FROM cut JOIN nn ON nn.ws = cut.ws""".stripMargin,
    // Grouped build: one filter per lang in one aggregation — the
    // grouped twin of q_bloom_bits (NULL lang retained as its own
    // group on both sides, rule 10).
    "q_bloom_grouped" -> bloomWordsOracleSql(
      s"SELECT lang, ${shingleRowsSql(5)} AS sh FROM documents WHERE doc_id % 50 = 0",
      65536, 7, grpSel = "lang, "),
    "q_fuzzy_decontaminate" ->
      s"""WITH sh AS MATERIALIZED (
        |  SELECT doc_id, ${shingleListSql(3)} AS s
        |  FROM documents),
        |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 97 = 0),
        |pairs AS (
        |  SELECT t.doc_id, e.eval_id, len(list_intersect(t.s, e.s)) AS inter,
        |    len(t.s) AS n_a, len(e.s) AS n_b
        |  FROM sh t, ev e),
        |scored AS (
        |  SELECT doc_id, eval_id,
        |    inter * 1.0 / (n_a + n_b - inter) AS jaccard,
        |    inter * 1.0 / n_b AS containment
        |  FROM pairs WHERE inter > 0),
        |best AS (
        |  SELECT doc_id, eval_id AS best_eval_id,
        |    round(jaccard, 6) + 0.0 AS jaccard,
        |    round(containment, 6) + 0.0 AS containment,
        |    jaccard >= 0.5 AS contaminated
        |  FROM (SELECT doc_id, eval_id, jaccard, containment,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY jaccard DESC, eval_id) AS rk
        |    FROM scored) WHERE rk = 1)
        |SELECT d.doc_id, b.best_eval_id,
        |  coalesce(b.jaccard, 0.0) AS jaccard,
        |  coalesce(b.containment, 0.0) AS containment,
        |  coalesce(b.contaminated, false) AS contaminated
        |FROM documents d LEFT JOIN best b USING (doc_id)""".stripMargin,
    "q_decontaminate_contain" ->
      s"""WITH tr AS MATERIALIZED (
        |  SELECT doc_id, ${shingleListSql(3)} AS s
        |  FROM documents),
        |ev AS (
        |  SELECT doc_id AS eval_id, ${shingleListSql(3, "substr(text, 50, 200)")} AS s
        |  FROM documents WHERE doc_id % 101 = 0),
        |pairs AS (
        |  SELECT t.doc_id, e.eval_id, len(list_intersect(t.s, e.s)) AS inter,
        |    len(t.s) AS n_a, len(e.s) AS n_b
        |  FROM tr t, ev e),
        |scored AS (
        |  SELECT doc_id, eval_id,
        |    inter * 1.0 / (n_a + n_b - inter) AS jaccard,
        |    inter * 1.0 / n_b AS containment
        |  FROM pairs WHERE inter > 0),
        |best AS (
        |  SELECT doc_id, eval_id AS best_eval_id,
        |    round(jaccard, 6) + 0.0 AS jaccard,
        |    round(containment, 6) + 0.0 AS containment,
        |    containment >= 0.8 AS contaminated
        |  FROM (SELECT doc_id, eval_id, jaccard, containment,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY containment DESC, eval_id) AS rk
        |    FROM scored) WHERE rk = 1)
        |SELECT d.doc_id, b.best_eval_id,
        |  coalesce(b.jaccard, 0.0) AS jaccard,
        |  coalesce(b.containment, 0.0) AS containment,
        |  coalesce(b.contaminated, false) AS contaminated
        |FROM documents d LEFT JOIN best b USING (doc_id)""".stripMargin,
    "q_curate_stream" ->
      s"""WITH sc AS MATERIALIZED (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','and','of','is'))) AS s_en,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('el','la','de','que'))) AS s_es,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('der','die','und','das'))) AS s_de,
        |    round(least(length(text) / 500.0, 1.0) * 0.4
        |      + least(len(list_filter(string_split(text, ' '),
        |            t -> t IN ('the','a','of','and','to','in','is','it')))
        |          * 1.0 / len(string_split(text, ' ')) * 5.0, 1.0) * 0.4
        |      + (1.0 - least(length(regexp_replace(lower(text), '[a-z ]', '', 'g'))
        |          * 1.0 / greatest(length(text), 1), 1.0)) * 0.2, 6) AS quality,
        |    len(string_split(text, ' ')) AS n_tokens
        |  -- null text: langId is 'und' engine-side, never 'en' — excluded
        |  -- here because DuckDB's least() IGNORES the NULL score terms
        |  -- and would otherwise hand a null-text doc quality 0.8
        |  FROM documents WHERE doc_id % 50 <> 0 AND text IS NOT NULL),
        |filt AS MATERIALIZED (
        |  SELECT doc_id, text, quality, n_tokens FROM sc
        |  WHERE quality >= 0.5 AND (CASE
        |    WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
        |    WHEN s_es > s_en AND s_es >= s_fr AND s_es >= s_de THEN 'es'
        |    WHEN s_fr > s_en AND s_fr > s_es AND s_fr >= s_de THEN 'fr'
        |    WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
        |    ELSE 'en' END) = 'en'),
        |-- deterministic batch keeper: earliest (ts, id) per exact text;
        |-- ts is monotone in doc_id, so min(doc_id) is THE keeper
        |uniq AS MATERIALIZED (
        |  SELECT doc_id, text, quality, n_tokens FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM filt) WHERE rn = 1),
        |ev AS MATERIALIZED (SELECT DISTINCT sh FROM (
        |  SELECT ${shingleRowsSql(5)} AS sh
        |  FROM documents WHERE doc_id % 50 = 0)),
        |tr AS MATERIALIZED (
        |  SELECT doc_id, ${shingleRowsSql(5)} AS sh
        |  FROM uniq),
        |contaminated AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (sh))
        |SELECT u.doc_id, u.quality, u.n_tokens FROM uniq u
        |WHERE u.doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,
    "q_curate_corpus" ->
      s"""WITH RECURSIVE
        |sc AS MATERIALIZED (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','and','of','is'))) AS s_en,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('el','la','de','que'))) AS s_es,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(string_split(lower(text), ' '), t -> t IN ('der','die','und','das'))) AS s_de,
        |    -- round(,6) matches TextOps.qualityScore, which rounds BEFORE
        |    -- the minQuality filter and the representative tie-break
        |    round(least(length(text) / 500.0, 1.0) * 0.4
        |      + least(len(list_filter(string_split(text, ' '),
        |            t -> t IN ('the','a','of','and','to','in','is','it')))
        |          * 1.0 / len(string_split(text, ' ')) * 5.0, 1.0) * 0.4
        |      + (1.0 - least(length(regexp_replace(lower(text), '[a-z ]', '', 'g'))
        |          * 1.0 / greatest(length(text), 1), 1.0)) * 0.2, 6) AS quality
        |  -- null text: langId is 'und' engine-side, never 'en' — excluded
        |  -- here because DuckDB's least() IGNORES the NULL score terms
        |  -- and would otherwise hand a null-text doc quality 0.8
        |  FROM documents WHERE text IS NOT NULL),
        |filt AS MATERIALIZED (
        |  SELECT doc_id, text, quality FROM sc
        |  WHERE quality >= 0.5 AND (CASE
        |    WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
        |    WHEN s_es > s_en AND s_es >= s_fr AND s_es >= s_de THEN 'es'
        |    WHEN s_fr > s_en AND s_fr > s_es AND s_fr >= s_de THEN 'fr'
        |    WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
        |    ELSE 'en' END) = 'en'),
        |uniq AS MATERIALIZED (SELECT min(doc_id) AS doc_id, text, min(quality) AS quality
        |  FROM filt GROUP BY text),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, ${shingleListSql(3)} AS s
        |  FROM uniq),
        |p AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |nn AS (SELECT DISTINCT src AS id FROM e),
        |reach(a, b) AS (
        |  SELECT id, id FROM nn
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |cc AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
        |lab AS MATERIALIZED (SELECT u.doc_id, u.text, u.quality, cc.comp
        |  FROM uniq u LEFT JOIN cc ON cc.id = u.doc_id),
        |reps AS (SELECT doc_id, text, quality FROM (
        |  SELECT doc_id, text, quality,
        |    row_number() OVER (PARTITION BY comp ORDER BY quality DESC, doc_id) AS rn
        |  FROM lab WHERE comp IS NOT NULL) WHERE rn = 1),
        |singles AS (SELECT doc_id, text, quality FROM lab WHERE comp IS NULL)
        |SELECT doc_id, round(quality, 6) + 0.0 AS quality,
        |  len(string_split(text, ' ')) AS n_tokens
        |FROM (SELECT * FROM reps UNION ALL SELECT * FROM singles)""".stripMargin,
    "q_spectral_graph" ->
      """WITH p AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 24),
        |w AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j,
        |  CASE WHEN a.vec_id = b.vec_id THEN 0.0
        |       ELSE exp(-1.0 * list_sum(list_transform(range(1, len(a.pv)+1),
        |              t -> (a.pv[t] - b.pv[t])^2))) END AS wv
        |  FROM p a, p b),
        |deg AS MATERIALIZED (SELECT i, sum(wv) AS d FROM w GROUP BY i)
        |SELECT w.i, w.j,
        |  round(CASE WHEN w.i = w.j THEN 1.0 ELSE 0.0 END
        |    - (CASE WHEN di.d > 1e-12 THEN 1.0 / sqrt(di.d) ELSE 0.0 END)
        |      * w.wv
        |      * (CASE WHEN dj.d > 1e-12 THEN 1.0 / sqrt(dj.d) ELSE 0.0 END), 6) + 0.0 AS l,
        |  round(di.d, 6) + 0.0 AS deg
        |FROM w JOIN deg di ON di.i = w.i JOIN deg dj ON dj.i = w.j""".stripMargin,
    "q_sparse_fit" -> lloydFitOracleSql(4, seDistSql, meanUpdateCte,
      prepSql = "list_transform(embedding::DOUBLE[], v -> CASE WHEN abs(v::DOUBLE) < 0.13 THEN 0.0 ELSE v::DOUBLE END)"),
    // two-view weighted-SE distance over the 32/32 embedding split; the
    // per-view mean update is the full-vector mean (both views SE)
    "q_multiview_fit" -> lloydFitOracleSql(3, (p, c) =>
      s"((1.0/3.0) * list_sum(list_transform(range(1, 33), i -> ($p[i] - $c[i])^2))" +
      s" + (2.0/3.0) * list_sum(list_transform(range(33, 65), i -> ($p[i] - $c[i])^2)))",
      meanUpdateCte),
    "q_kl_fit" -> lloydFitOracleSql(4, klDistSql(1e-10), klUpdateCte(1e-10),
      prepSql = "list_transform(embedding::DOUBLE[], v -> abs(v::DOUBLE) + 0.1)"),
    "q_is_fit" -> lloydFitOracleSql(4, isDistSql(1e-10), isUpdateCte(1e-10),
      prepSql = "list_transform(embedding::DOUBLE[], v -> abs(v::DOUBLE) + 0.1)"),
    "q_geni_fit" -> lloydFitOracleSql(4, geniDistSql(1e-10), klUpdateCte(1e-10),
      prepSql = "list_transform(embedding::DOUBLE[], v -> abs(v::DOUBLE) + 0.1)"),
    "q_logistic_fit" -> lloydFitOracleSql(4, logisticDistSql(1e-10), logisticUpdateCte(1e-10),
      prepSql = "list_transform(embedding::DOUBLE[], " +
        "v -> abs(v::DOUBLE) / (abs(v::DOUBLE) + 1.0))"),
    "q_spherical_fixed" ->
      """SELECT vec_id, cluster, round(cd, 6) + 0.0 AS cosdist FROM (
        |  SELECT p.vec_id, c.vec_id AS cluster,
        |    1.0 - list_sum(list_transform(range(1, len(p.embedding)+1),
        |            i -> p.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(p.embedding, v -> v::DOUBLE * v::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.embedding, v -> v::DOUBLE * v::DOUBLE)))) AS cd,
        |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |      1.0 - list_sum(list_transform(range(1, len(p.embedding)+1),
        |            i -> p.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(p.embedding, v -> v::DOUBLE * v::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.embedding, v -> v::DOUBLE * v::DOUBLE)))),
        |      c.vec_id) AS rn
        |  FROM embeddings p, (SELECT * FROM embeddings WHERE vec_id < 4) c)
        |WHERE rn = 1""".stripMargin,
    "q_kl_assign_fixed" ->
      """WITH pos AS (
        |  SELECT vec_id, list_transform(embedding, v -> abs(v::DOUBLE) + 0.1) AS pv
        |  FROM embeddings)
        |SELECT vec_id, cluster, round(kl, 6) + 0.0 AS kl FROM (
        |  SELECT p.vec_id, c.vec_id AS cluster,
        |    list_sum(list_transform(range(1, len(p.pv)+1),
        |      i -> (p.pv[i] + 1e-10) * ln((p.pv[i] + 1e-10) / (c.pv[i] + 1e-10)))) AS kl,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_sum(list_transform(range(1, len(p.pv)+1),
        |        i -> (p.pv[i] + 1e-10) * ln((p.pv[i] + 1e-10) / (c.pv[i] + 1e-10)))),
        |      c.vec_id) AS rn
        |  FROM pos p, (SELECT * FROM pos WHERE vec_id < 4) c)
        |WHERE rn = 1""".stripMargin,
    "q_huber_fixed" ->
      """WITH assigned AS (
        |  SELECT vec_id, cluster, pv, d2 FROM (
        |    SELECT p.vec_id, c.vec_id AS cluster, p.embedding::DOUBLE[] AS pv,
        |      list_sum(list_transform(range(1, len(p.embedding)+1),
        |        i -> (p.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)^2)) AS d2,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY list_sum(list_transform(range(1, len(p.embedding)+1),
        |          i -> (p.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)^2)),
        |        c.vec_id) AS rn
        |    FROM embeddings p, (SELECT * FROM embeddings WHERE vec_id < 4) c) WHERE rn = 1),
        |weighted AS (
        |  SELECT cluster, CASE WHEN d2 <= 1.0 THEN 1.0 ELSE 1.0 / sqrt(d2) END AS w, pv
        |  FROM assigned)
        |SELECT cluster, i - 1 AS i, round(sum(pv[i] * w) / sum(w), 6) + 0.0 AS cv
        |FROM weighted, generate_series(1, 8) AS t(i)
        |GROUP BY cluster, i - 1""".stripMargin,
    "q_balanced_step" ->
      """WITH ranked AS (
        |  SELECT p.vec_id, c.vec_id AS center_id,
        |    list_sum(list_transform(range(1, len(p.embedding)+1),
        |      i -> (p.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)^2)) AS d2,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_sum(list_transform(range(1, len(p.embedding)+1),
        |        i -> (p.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)^2)),
        |      c.vec_id) AS rn
        |  FROM embeddings p, (SELECT * FROM embeddings WHERE vec_id < 4) c),
        |top2 AS (SELECT vec_id,
        |    max(CASE WHEN rn = 1 THEN center_id END) AS first_c,
        |    max(CASE WHEN rn = 2 THEN center_id END) AS second_c,
        |    max(CASE WHEN rn = 1 THEN d2 END) AS first_d2,
        |    max(CASE WHEN rn = 2 THEN d2 END) AS second_d2
        |  FROM ranked WHERE rn <= 2 GROUP BY 1)
        |SELECT vec_id,
        |  CASE WHEN first_c = 0 THEN second_c ELSE first_c END AS cluster,
        |  round(CASE WHEN first_c = 0 THEN second_d2 ELSE first_d2 END, 6) + 0.0 AS dist
        |FROM top2""".stripMargin,
    "q_coreset_weights" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |d2 AS (SELECT p.vec_id,
        |    min(list_sum(list_transform(range(1, len(p.embedding)+1),
        |      i -> (p.embedding[i]::DOUBLE - c.cv[i])^2))) AS d2
        |  FROM embeddings p, c GROUP BY 1),
        |mx AS (SELECT max(d2) AS mx FROM d2),
        |s AS (SELECT vec_id, d2 / mx.mx AS ds,
        |    0.5 * (d2 / mx.mx) + 0.5 * (1.0 + 1.0 / (d2 / mx.mx + 0.1)) AS sv
        |  FROM d2, mx),
        |tot AS (SELECT sum(sv) AS tot FROM s),
        |p AS (SELECT vec_id, sv,
        |    least(1.0, greatest(1e-6, 100.0 * sv / tot.tot)) AS p FROM s, tot)
        |SELECT vec_id, round(sv, 6) AS sens, round(p, 6) AS p,
        |  round(least(1e6, 1.0 / p), 6) AS w FROM p""".stripMargin,
    "q_minibatch_step" ->
      """WITH c AS (SELECT vec_id AS cluster, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |asg AS (
        |  SELECT vec_id, cluster, pv FROM (
        |    SELECT p.vec_id, c.cluster, p.embedding::DOUBLE[] AS pv,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY list_sum(list_transform(range(1, len(p.embedding)+1),
        |          i -> (p.embedding[i]::DOUBLE - c.cv[i])^2)), c.cluster) AS rn
        |    FROM (SELECT * FROM embeddings WHERE vec_id < 256) p, c) WHERE rn = 1),
        |sums AS (SELECT cluster, i - 1 AS i, sum(pv[i]) AS sv, count(*)::DOUBLE AS cnt
        |  FROM asg, generate_series(1, 8) AS t(i) GROUP BY 1, 2),
        |cexp AS (SELECT cluster, i - 1 AS i, cv[i] AS cvi
        |  FROM c, generate_series(1, 8) AS t(i))
        |SELECT ce.cluster, ce.i,
        |  round((10.0 * ce.cvi + coalesce(s.sv, 0.0)) / (10.0 + coalesce(s.cnt, 0.0)), 6)
        |    + 0.0 AS cv
        |FROM cexp ce LEFT JOIN sums s ON s.cluster = ce.cluster AND s.i = ce.i""".stripMargin,
    "q_minibatch_reassign" ->
      """WITH c AS (
        |  SELECT vec_id AS cluster, embedding::DOUBLE[] AS cv,
        |    10.0 AS n0 FROM embeddings WHERE vec_id < 3
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), list_transform(range(64), x -> 100.0), 0.0),
        |b AS (SELECT vec_id, embedding::DOUBLE[] AS pv FROM embeddings
        |      WHERE vec_id >= 4 AND vec_id < 132),
        |asg AS (
        |  SELECT vec_id, cluster, pv, d2 FROM (
        |    SELECT b.vec_id, c.cluster, b.pv,
        |      list_sum(list_transform(range(1, len(b.pv)+1),
        |        i -> (b.pv[i] - c.cv[i])^2)) AS d2,
        |      row_number() OVER (PARTITION BY b.vec_id
        |        ORDER BY list_sum(list_transform(range(1, len(b.pv)+1),
        |          i -> (b.pv[i] - c.cv[i])^2)), c.cluster) AS rn
        |    FROM b, c) WHERE rn = 1),
        |sums AS (SELECT cluster, i - 1 AS i, sum(pv[i]) AS sv
        |  FROM asg, generate_series(1, 8) AS t(i) GROUP BY 1, 2),
        |ccnt AS (SELECT c.cluster, c.n0,
        |    c.n0 + coalesce(a.bc, 0.0) AS cnt
        |  FROM c LEFT JOIN (
        |    SELECT cluster, count(*)::DOUBLE AS bc FROM asg GROUP BY 1) a
        |  ON a.cluster = c.cluster),
        |cexp AS (SELECT c.cluster, c.n0, t.i - 1 AS i, c.cv[t.i] AS cvi
        |  FROM c, generate_series(1, 8) AS t(i)),
        |merged AS (
        |  SELECT ce.cluster, ce.i,
        |    CASE WHEN s.sv IS NULL THEN ce.cvi
        |      ELSE (ce.n0 * ce.cvi + s.sv) / n.cnt END AS cv,
        |    n.cnt
        |  FROM cexp ce
        |  LEFT JOIN sums s ON s.cluster = ce.cluster AND s.i = ce.i
        |  JOIN ccnt n ON n.cluster = ce.cluster),
        |mx AS (SELECT max(cnt) AS m FROM ccnt),
        |dying AS (SELECT cluster, row_number() OVER (ORDER BY cluster) AS r
        |  FROM ccnt, mx WHERE cnt < 0.01 * m),
        |cand AS (SELECT pv, row_number() OVER (ORDER BY round(d2, 6) DESC, vec_id) AS r
        |  FROM asg)
        |SELECT m.cluster, CAST(m.i AS BIGINT) AS i,
        |  round(CASE WHEN d.r IS NOT NULL THEN cand.pv[m.i + 1]
        |    ELSE m.cv END, 6) + 0.0 AS cv,
        |  round(CASE WHEN d.r IS NOT NULL THEN 1.0 ELSE m.cnt END, 6) + 0.0 AS cnt
        |FROM merged m
        |LEFT JOIN dying d ON d.cluster = m.cluster
        |LEFT JOIN cand ON cand.r = d.r""".stripMargin,
    "q_streamkm_step" ->
      """WITH c0 AS MATERIALIZED (
        |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |b AS (SELECT vec_id, embedding::DOUBLE[] AS pv FROM embeddings
        |      WHERE vec_id >= 4 AND vec_id < 200),
        |a AS (SELECT vec_id, pv, cid FROM (
        |  SELECT b.vec_id, b.pv, c.cid, row_number() OVER (PARTITION BY b.vec_id
        |    ORDER BY list_sum(list_transform(range(1, len(b.pv)+1),
        |      i -> (b.pv[i] - c.cv[i])^2)), c.cid) AS rn
        |  FROM b, c0 c) WHERE rn = 1),
        |g AS (SELECT cid, count(*)::DOUBLE AS m FROM a GROUP BY cid),
        |cm AS (SELECT cid, j, avg(pv[j]) AS av
        |  FROM a, unnest(range(1, len(pv)+1)) AS t(j) GROUP BY 1, 2),
        |grid AS (SELECT cid, cv[j] AS cvj, j FROM c0, unnest(range(1, len(cv)+1)) AS t(j))
        |SELECT grid.cid AS cluster, CAST(grid.j - 1 AS BIGINT) AS d,
        |  round(CASE WHEN g.m IS NULL THEN grid.cvj
        |    ELSE (1.0 - g.m / greatest(0.9 + g.m, 1e-16)) * grid.cvj
        |       + (g.m / greatest(0.9 + g.m, 1e-16)) * cm.av END, 4) + 0.0 AS v,
        |  round(0.9 + coalesce(g.m, 0.0), 6) + 0.0 AS w
        |FROM grid LEFT JOIN g ON g.cid = grid.cid
        |LEFT JOIN cm ON cm.cid = grid.cid AND cm.j = grid.j""".stripMargin,
    "q_xmeans_bic" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |md AS (SELECT p.vec_id,
        |    min(list_sum(list_transform(range(1, len(p.embedding)+1),
        |      i -> (p.embedding[i]::DOUBLE - c.cv[i])^2))) / 2 AS md
        |  FROM embeddings p, c GROUP BY 1),
        |agg AS (SELECT sum(md) AS cost, count(*) AS n FROM md),
        |v AS (SELECT cost, n, greatest(cost / n, 1e-10) AS var FROM agg),
        |ll AS (SELECT n,
        |    -cost / (2 * var) - n * ln(sqrt(var)) - n * ln(2 * pi()) / 2 AS ll FROM v)
        |SELECT round(-2 * ll + (4 * 64 + 1) * ln(n::DOUBLE), 4) AS bic,
        |  round(-2 * ll + 2 * (4 * 64 + 1), 4) AS aic, n FROM ll""".stripMargin,
    "q_xmeans_k" -> xmeansSelectOracleSql(iters = 3, minK = 8, maxK = 10),
    "q_elbow" -> elbowOracleSql(iters = 3, minK = 2, maxK = 4),
    "q_bisecting_split" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |asg AS (
        |  SELECT vec_id, cluster, md FROM (
        |    SELECT p.vec_id, c.cid AS cluster,
        |      list_sum(list_transform(range(1, len(p.embedding)+1),
        |        i -> (p.embedding[i]::DOUBLE - c.cv[i])^2)) AS md,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY list_sum(list_transform(range(1, len(p.embedding)+1),
        |          i -> (p.embedding[i]::DOUBLE - c.cv[i])^2)), c.cid) AS rn
        |    FROM embeddings p, c) WHERE rn = 1),
        |stats AS (SELECT cluster, count(*) AS n, round(sum(md), 4) AS sse
        |  FROM asg GROUP BY 1),
        |best AS (SELECT cluster AS bc FROM stats ORDER BY n DESC, cluster LIMIT 1)
        |SELECT s.cluster, s.n, s.sse,
        |  (CASE WHEN s.cluster = b.bc THEN 1 ELSE 0 END)::BIGINT AS chosen
        |FROM stats s, best b""".stripMargin,
    "q_softmix_estep" ->
      """WITH c AS (SELECT vec_id AS comp, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |lp AS (
        |  SELECT p.vec_id, c.comp,
        |    ln((c.comp + 1.0) / 10.0) - 0.5 * list_sum(list_transform(range(1, len(p.embedding)+1),
        |      i -> (p.embedding[i]::DOUBLE - c.cv[i])^2)) AS lp
        |  FROM embeddings p, c),
        |w AS (SELECT vec_id, comp, lp, max(lp) OVER (PARTITION BY vec_id) AS mx FROM lp),
        |l AS (SELECT vec_id, comp, lp,
        |    mx + ln(sum(exp(lp - mx)) OVER (PARTITION BY vec_id)) AS lse FROM w)
        |SELECT vec_id, comp, round(exp(lp - lse), 6) + 0.0 AS resp FROM l""".stripMargin,
    "q_dpmeans_step" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |asg AS (
        |  SELECT vec_id, cid, d FROM (
        |    SELECT p.vec_id, c.cid,
        |      0.5 * list_sum(list_transform(range(1, len(p.embedding)+1),
        |        i -> (p.embedding[i]::DOUBLE - c.cv[i])^2)) AS d,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY list_sum(list_transform(range(1, len(p.embedding)+1),
        |          i -> (p.embedding[i]::DOUBLE - c.cv[i])^2)), c.cid) AS rn
        |    FROM embeddings p, c) WHERE rn = 1)
        |SELECT vec_id,
        |  CASE WHEN d <= 0.875 THEN cid ELSE -1 END AS cluster,
        |  round(d, 6) + 0.0 AS dist
        |FROM asg""".stripMargin,
    "q_multiview_step" ->
      """WITH f AS (SELECT vec_id, embedding[1:32]::DOUBLE[] AS v1, embedding[33:64]::DOUBLE[] AS v2
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v1 AS c1, v2 AS c2 FROM f WHERE vec_id < 4),
        |d AS (SELECT p.vec_id, c.cid,
        |    0.7 * list_sum(list_transform(range(1, 33),
        |      i -> (p.v1[i] - c.c1[i]) * (p.v1[i] - c.c1[i])))
        |    + 0.3 * list_sum(list_transform(range(1, 33),
        |      i -> (p.v2[i] - c.c2[i]) * (p.v2[i] - c.c2[i]))) AS comb
        |  FROM f p, c)
        |SELECT vec_id, cluster, round(comb, 6) + 0.0 AS dist FROM (
        |  SELECT vec_id, cid AS cluster, comb,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY comb, cid) AS rn
        |  FROM d) WHERE rn = 1""".stripMargin,
    "q_clara_score" ->
      """SELECT round(sum(md), 4) AS cost, count(*) AS n FROM (
        |  SELECT p.vec_id,
        |    min(sqrt(list_sum(list_transform(range(1, len(p.embedding)+1),
        |      i -> (p.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)^2)))) AS md
        |  FROM embeddings p, (SELECT * FROM embeddings WHERE vec_id < 4) c
        |  GROUP BY p.vec_id)""".stripMargin,
    "q_spectral_degree" ->
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 64)
        |SELECT a.vec_id,
        |  round(sum(CASE WHEN a.vec_id = b.vec_id THEN 0.0
        |    ELSE exp(-0.25 * list_sum(list_transform(range(1, len(a.v)+1),
        |      i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))) END), 6) + 0.0 AS degree
        |FROM s a, s b GROUP BY 1""".stripMargin,
    "q_agglomerative_merge" ->
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 8),
        |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |    0.5 * list_sum(list_transform(range(1, len(a.v)+1),
        |      i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) AS d
        |  FROM s a, s b WHERE a.vec_id < b.vec_id)
        |SELECT a, b, round(d, 6) + 0.0 AS dist FROM (
        |  SELECT a, b, d, row_number() OVER (ORDER BY d, a, b) AS rn FROM p)
        |WHERE rn = 1""".stripMargin,
    "q_robust_trim" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |asg AS (
        |  SELECT vec_id, cid AS cluster, pv, md FROM (
        |    SELECT p.vec_id, c.cid, p.embedding::DOUBLE[] AS pv,
        |      list_sum(list_transform(range(1, len(p.embedding)+1),
        |        i -> (p.embedding[i]::DOUBLE - c.cv[i]) * (p.embedding[i]::DOUBLE - c.cv[i]))) AS md,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY list_sum(list_transform(range(1, len(p.embedding)+1),
        |          i -> (p.embedding[i]::DOUBLE - c.cv[i]) * (p.embedding[i]::DOUBLE - c.cv[i]))), c.cid) AS rn
        |    FROM embeddings p, c) WHERE rn = 1),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY md DESC, vec_id DESC) AS drop_rank,
        |    count(*) OVER () AS n FROM asg),
        |kept AS (SELECT * FROM ranked WHERE drop_rank > ceil(0.2 * n))
        |SELECT cluster, t.i - 1 AS i, round(avg(pv[t.i]), 6) + 0.0 AS cv, count(*) AS n_kept
        |FROM kept, range(1, 5) AS t(i)
        |GROUP BY cluster, t.i""".stripMargin,
    "q_mixture_mstep" ->
      """WITH c AS (SELECT vec_id AS comp, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 4),
        |lp AS (
        |  SELECT p.vec_id, c.comp, p.embedding::DOUBLE[] AS pv,
        |    ln((c.comp + 1.0) / 10.0) - 0.5 * list_sum(list_transform(range(1, len(p.embedding)+1),
        |      i -> (p.embedding[i]::DOUBLE - c.cv[i])^2)) AS lp
        |  FROM embeddings p, c),
        |w AS (SELECT vec_id, comp, pv, lp, max(lp) OVER (PARTITION BY vec_id) AS mx FROM lp),
        |r AS (SELECT vec_id, comp, pv,
        |    exp(lp - (mx + ln(sum(exp(lp - mx)) OVER (PARTITION BY vec_id)))) AS r FROM w),
        |n AS (SELECT count(*) AS n FROM embeddings)
        |SELECT comp, t.i - 1 AS i,
        |  round(sum(r * pv[t.i]) / sum(r), 6) + 0.0 AS mu,
        |  round(sum(r) / any_value(n.n), 6) + 0.0 AS pi
        |FROM r, n, range(1, 5) AS t(i)
        |GROUP BY comp, t.i""".stripMargin,
    "q_sparse_step" ->
      """WITH sp AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_filter(range(1, len(embedding)+1), i -> abs(embedding[i]::DOUBLE) >= 0.15) AS idx
        |  FROM embeddings),
        |base AS (SELECT vec_id, v, idx,
        |    list_sum(list_transform(idx, i -> v[i] * v[i])) AS pn FROM sp),
        |c AS (SELECT vec_id AS cid, v AS cv, idx AS cidx, pn AS cn FROM base WHERE vec_id < 4),
        |d AS (SELECT p.vec_id, c.cid, len(p.idx) AS nnz,
        |    p.pn - 2.0 * coalesce(list_sum(list_transform(p.idx,
        |      i -> CASE WHEN list_contains(c.cidx, i) THEN p.v[i] * c.cv[i] ELSE 0.0 END)), 0.0)
        |      + c.cn AS d
        |  FROM base p, c)
        |SELECT vec_id, cid AS cluster, round(d, 6) + 0.0 AS dist, nnz FROM (
        |  SELECT vec_id, cid, d, nnz, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |  FROM d) WHERE rn = 1""".stripMargin,
    "q_sparse_kl_step" ->
      """WITH sp AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_filter(range(1, len(embedding)+1), i -> abs(embedding[i]::DOUBLE) >= 0.15) AS idx
        |  FROM embeddings),
        |base AS (SELECT vec_id, idx, list_transform(idx, i -> abs(v[i])) AS pv FROM sp),
        |c AS (SELECT vec_id AS cid, idx AS cidx, pv AS cv,
        |    coalesce(list_sum(list_transform(pv, m -> 1e-6 * ln(1e-6 / (m + 1e-6)))), 0.0) AS zc
        |  FROM base WHERE vec_id < 4),
        |d AS (SELECT p.vec_id, c.cid, len(p.idx) AS nnz,
        |    c.zc + coalesce(list_sum(list_transform(range(1, len(p.idx)+1), t ->
        |      (p.pv[t] + 1e-6) * ln((p.pv[t] + 1e-6)
        |        / (coalesce(c.cv[list_position(c.cidx, p.idx[t])], 0.0) + 1e-6))
        |      - 1e-6 * ln(1e-6
        |        / (coalesce(c.cv[list_position(c.cidx, p.idx[t])], 0.0) + 1e-6)))), 0.0) AS d
        |  FROM base p, c)
        |SELECT vec_id, cid AS cluster, round(d, 6) + 0.0 AS dist, nnz FROM (
        |  SELECT vec_id, cid, d, nnz, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |  FROM d) WHERE rn = 1""".stripMargin,
    "q_ib_step" ->
      """WITH xs AS (SELECT least(15, n_chars // 150) AS x, lang AS y FROM documents),
        |cnt AS (SELECT x, y, count(*)::DOUBLE AS c FROM xs GROUP BY x, y),
        |xv AS (SELECT DISTINCT x FROM xs),
        |yv AS (SELECT DISTINCT y FROM xs),
        |ny AS (SELECT count(*)::DOUBLE AS ny FROM yv),
        |grid AS (SELECT xv.x, yv.y, coalesce(cnt.c, 0.0) AS c
        |  FROM xv CROSS JOIN yv LEFT JOIN cnt ON cnt.x = xv.x AND cnt.y IS NOT DISTINCT FROM yv.y),
        |rs AS (SELECT x, sum(c) AS rsum FROM grid GROUP BY x),
        |tot AS (SELECT sum(c) AS total FROM grid),
        |px AS (SELECT x, rsum / total AS px FROM rs, tot),
        |pygx AS (SELECT g.x, g.y, (g.c + 1e-6) / (r.rsum + 1e-6 * ny.ny) AS p
        |  FROM grid g JOIN rs r ON g.x = r.x, ny),
        |ts AS (SELECT i AS t FROM range(0, 4) r(i)),
        |p0 AS (SELECT xv.x, ts.t, (1.0 + ((xv.x + ts.t) % 4)) / 10.0 AS p0 FROM xv, ts),
        |pt AS (SELECT p0.t, sum(px.px * p0.p0) AS pt
        |  FROM p0 JOIN px ON p0.x = px.x GROUP BY p0.t),
        |un AS (SELECT p0.t, g.y, sum(px.px * p0.p0 * g.p) AS u
        |  FROM p0 JOIN px ON p0.x = px.x JOIN pygx g ON g.x = p0.x GROUP BY p0.t, g.y),
        |sn AS (SELECT t, sum(u) AS s FROM un GROUP BY t),
        |pygt AS (SELECT un.t, un.y, un.u / sn.s AS p FROM un JOIN sn ON un.t = sn.t),
        |kl AS (SELECT a.x, b.t, sum(a.p * ln(a.p / greatest(b.p, 1e-300))) AS kl
        |  FROM pygx a JOIN pygt b ON a.y IS NOT DISTINCT FROM b.y GROUP BY a.x, b.t),
        |lg AS (SELECT kl.x, kl.t, ln(greatest(pt.pt, 1e-300)) - 2.0 * kl.kl AS l
        |  FROM kl JOIN pt ON kl.t = pt.t),
        |sm AS (SELECT x, t, l, max(l) OVER (PARTITION BY x) AS mx FROM lg),
        |z AS (SELECT x, t, exp(l - mx) AS e, sum(exp(l - mx)) OVER (PARTITION BY x) AS z FROM sm)
        |SELECT x AS xbin, t, round(e / z, 6) + 0.0 AS p FROM z""".stripMargin,
    "q_ib_info" ->
      """WITH xs AS (SELECT least(15, n_chars // 150) AS x, lang AS y FROM documents),
        |cnt AS (SELECT x, y, count(*)::DOUBLE AS c FROM xs GROUP BY x, y),
        |xv AS (SELECT DISTINCT x FROM xs),
        |yv AS (SELECT DISTINCT y FROM xs),
        |ny AS (SELECT count(*)::DOUBLE AS ny FROM yv),
        |grid AS (SELECT xv.x, yv.y, coalesce(cnt.c, 0.0) AS c
        |  FROM xv CROSS JOIN yv LEFT JOIN cnt ON cnt.x = xv.x AND cnt.y IS NOT DISTINCT FROM yv.y),
        |rs AS (SELECT x, sum(c) AS rsum FROM grid GROUP BY x),
        |tot AS (SELECT sum(c) AS total FROM grid),
        |px AS (SELECT x, rsum / total AS px FROM rs, tot),
        |pygx AS (SELECT g.x, g.y, (g.c + 1e-6) / (r.rsum + 1e-6 * ny.ny) AS p
        |  FROM grid g JOIN rs r ON g.x = r.x, ny),
        |ts AS (SELECT i AS t FROM range(0, 4) r(i)),
        |p0 AS (SELECT xv.x, ts.t, (1.0 + ((xv.x + ts.t) % 4)) / 10.0 AS p FROM xv, ts),
        |pt1 AS (SELECT p0.t, sum(px.px * p0.p) AS pt
        |  FROM p0 JOIN px ON p0.x = px.x GROUP BY p0.t),
        |un1 AS (SELECT p0.t, g.y, sum(px.px * p0.p * g.p) AS u
        |  FROM p0 JOIN px ON p0.x = px.x JOIN pygx g ON g.x = p0.x GROUP BY p0.t, g.y),
        |sn1 AS (SELECT t, sum(u) AS s FROM un1 GROUP BY t),
        |pygt1 AS (SELECT un1.t, un1.y, un1.u / sn1.s AS p FROM un1 JOIN sn1 ON un1.t = sn1.t),
        |kl1 AS (SELECT a.x, b.t, sum(a.p * ln(a.p / greatest(b.p, 1e-300))) AS kl
        |  FROM pygx a JOIN pygt1 b ON a.y IS NOT DISTINCT FROM b.y GROUP BY a.x, b.t),
        |lg1 AS (SELECT kl1.x, kl1.t, ln(greatest(pt1.pt, 1e-300)) - 2.0 * kl1.kl AS l
        |  FROM kl1 JOIN pt1 ON kl1.t = pt1.t),
        |sm1 AS (SELECT x, t, l, max(l) OVER (PARTITION BY x) AS mx FROM lg1),
        |p1 AS (SELECT x, t, exp(l - mx) / sum(exp(l - mx)) OVER (PARTITION BY x) AS p FROM sm1),
        |pt2 AS (SELECT p1.t, sum(px.px * p1.p) AS pt
        |  FROM p1 JOIN px ON p1.x = px.x GROUP BY p1.t),
        |un2 AS (SELECT p1.t, g.y, sum(px.px * p1.p * g.p) AS u
        |  FROM p1 JOIN px ON p1.x = px.x JOIN pygx g ON g.x = p1.x GROUP BY p1.t, g.y),
        |sn2 AS (SELECT t, sum(u) AS s FROM un2 GROUP BY t),
        |pygt2 AS (SELECT un2.t, un2.y, un2.u / sn2.s AS p FROM un2 JOIN sn2 ON un2.t = sn2.t),
        |kl2 AS (SELECT a.x, b.t, sum(a.p * ln(a.p / greatest(b.p, 1e-300))) AS kl
        |  FROM pygx a JOIN pygt2 b ON a.y IS NOT DISTINCT FROM b.y GROUP BY a.x, b.t),
        |lg2 AS (SELECT kl2.x, kl2.t, ln(greatest(pt2.pt, 1e-300)) - 2.0 * kl2.kl AS l
        |  FROM kl2 JOIN pt2 ON kl2.t = pt2.t),
        |sm2 AS (SELECT x, t, l, max(l) OVER (PARTITION BY x) AS mx FROM lg2),
        |p2 AS (SELECT x, t, exp(l - mx) / sum(exp(l - mx)) OVER (PARTITION BY x) AS p FROM sm2),
        |ptf AS (SELECT p2.t, sum(px.px * p2.p) AS pt
        |  FROM p2 JOIN px ON p2.x = px.x GROUP BY p2.t),
        |unf AS (SELECT p2.t, g.y, sum(px.px * p2.p * g.p) AS u
        |  FROM p2 JOIN px ON p2.x = px.x JOIN pygx g ON g.x = p2.x GROUP BY p2.t, g.y),
        |snf AS (SELECT t, sum(u) AS s FROM unf GROUP BY t),
        |pygtf AS (SELECT unf.t, unf.y, unf.u / snf.s AS p FROM unf JOIN snf ON unf.t = snf.t),
        |jxt AS (SELECT p2.x, p2.t, px.px * p2.p AS j FROM p2 JOIN px ON p2.x = px.x),
        |jxtt AS (SELECT sum(j) AS tt FROM jxt),
        |jxtr AS (SELECT x, sum(j) AS r FROM jxt GROUP BY x),
        |jxtc AS (SELECT t, sum(j) AS c FROM jxt GROUP BY t),
        |ixt AS (SELECT sum((j / tt) * ln((j / tt) / ((r / tt) * (c / tt)))) / ln(2) AS i
        |  FROM jxt JOIN jxtr USING (x) JOIN jxtc USING (t), jxtt),
        |jty AS (SELECT pygtf.t, pygtf.y, ptf.pt * pygtf.p AS j
        |  FROM pygtf JOIN ptf ON pygtf.t = ptf.t),
        |jtyt AS (SELECT sum(j) AS tt FROM jty),
        |jtyr AS (SELECT t, sum(j) AS r FROM jty GROUP BY t),
        |jtyc AS (SELECT y, sum(j) AS c FROM jty GROUP BY y),
        |-- the y join must be null-safe (rule 10): USING (y) would drop
        |-- the NULL-lang category's mass from the I(T;Y) sum while jtyt
        |-- keeps it in the total
        |ity AS (SELECT sum((jty.j / tt) * ln((jty.j / tt) / ((r / tt) * (c / tt)))) / ln(2) AS i
        |  FROM jty JOIN jtyr USING (t)
        |  JOIN jtyc ON jty.y IS NOT DISTINCT FROM jtyc.y, jtyt)
        |SELECT round(ixt.i, 6) + 0.0 AS i_xt, round(ity.i, 6) + 0.0 AS i_ty, 4 AS k
        |FROM ixt, ity""".stripMargin,
    "q_ann_ivf_pruned" ->
      ivfPrunedOracleSql("q.corpus_id < 10", "a.corpus_id <> p.query_id",
        withLabel = false),
    // the streamed store equals the whole-corpus build by construction,
    // so the pruned search shares q_ann_ivf_pruned's oracle (rule 5)
    "q_ann_ivf_stream" ->
      ivfPrunedOracleSql("q.corpus_id < 10", "a.corpus_id <> p.query_id",
        withLabel = false),
    "q_hard_negatives_ivf" ->
      ivfPrunedOracleSql("q.corpus_id % 20 = 0", "a.label <> p.qlabel",
        withLabel = true),
    "q_ann_ivf_full" ->
      """SELECT query_id, rank, corpus_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5""".stripMargin,
    // IVF health replay: the fixed-quantizer assignment (min sqdist,
    // ties to the lowest cell), per-cell counts, and the health report's
    // arithmetic (avg = n/k; imbalance = max/avg; recommended = the
    // max(8, ceil(sqrt(n))) sizing rule) — counts exact, ratios round-6.
    "q_ann_ivf_health" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |           FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, cell FROM (
        |  SELECT p.vec_id, c.cid AS cell,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY list_sum(list_transform(range(1, len(p.embedding)+1),
        |        i -> (p.embedding[i]::DOUBLE - c.cv[i])^2)), c.cid) AS rn
        |  FROM embeddings p, c) WHERE rn = 1),
        |cnt AS (SELECT cell, count(*) AS n FROM asg GROUP BY 1),
        |agg AS (SELECT CAST(sum(n) AS BIGINT) AS n_vectors,
        |               CAST(max(n) AS BIGINT) AS max_cell FROM cnt)
        |SELECT n_vectors, CAST(8 AS BIGINT) AS n_cells, max_cell,
        |  round(n_vectors / 8.0, 6) + 0.0 AS avg_cell,
        |  round(max_cell / (n_vectors / 8.0), 6) + 0.0 AS imbalance,
        |  CAST(greatest(8, CAST(ceil(sqrt(n_vectors)) AS BIGINT)) AS BIGINT)
        |    AS recommended_cells
        |FROM agg""".stripMargin,
    // The in-gate recall guarantee row: structural integers (k, 5 results
    // per query, the floor) plus the verified flag — the Spark side
    // computes pruned-vs-full recall and asserts the floor; the oracle
    // pins what the guarantee must evaluate to. A recall regression
    // flips meets_floor and hash-fails the row.
    "q_ann_ivf_recall" ->
      """SELECT CAST(5 AS BIGINT) AS k,
        |  CAST(5 * count(*) AS BIGINT) AS n_results,
        |  CAST(50 AS BIGINT) AS floor_pct,
        |  true AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q_pq_recall" ->
      """WITH q AS (SELECT CAST(count(*) AS BIGINT) AS nq
        |  FROM embeddings WHERE vec_id < 10)
        |SELECT 'rerank_vs_exact' AS metric, CAST(5 AS BIGINT) AS k,
        |  CAST(5 * nq AS BIGINT) AS n_results,
        |  CAST(44 AS BIGINT) AS floor_pct, true AS meets_floor FROM q
        |UNION ALL
        |SELECT 'adc_vs_rerank', CAST(5 AS BIGINT), CAST(5 * nq AS BIGINT),
        |  CAST(25 AS BIGINT), true FROM q""".stripMargin,
    "q_pam_build" ->
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 64),
        |costs AS (
        |  SELECT a.vec_id, sum(sqrt(list_sum(list_transform(range(1, len(a.v)+1),
        |    i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))))) AS cost
        |  FROM s a JOIN s b ON a.vec_id <> b.vec_id GROUP BY a.vec_id)
        |SELECT vec_id AS medoid_id, round(cost, 4) + 0.0 AS cost FROM (
        |  SELECT vec_id, cost, row_number() OVER (ORDER BY cost, vec_id) AS rn FROM costs)
        |WHERE rn = 1""".stripMargin,
    "q_asof_join" ->
      s"""WITH e AS (
        |  SELECT event_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
        |    event_type, value
        |  FROM events),
        |snaps AS (SELECT event_id AS snap_id, user_id, ts_ms, value AS pv
        |  FROM e WHERE event_type = 'purchase'),
        |lft AS (SELECT user_id, ts_ms, event_id, event_type, value
        |  FROM e WHERE event_type <> 'purchase'),
        |${asofCarrySql(", event_id, event_type, value", ", NULL, NULL, NULL")}
        |SELECT l.event_id, l.user_id, l.ts_ms, l.event_type,
        |  round(l.value, 4) + 0.0 AS value,
        |  CASE WHEN l.ts_ms - s.ts_ms <= 86400000 THEN s.ts_ms END AS asof_ts,
        |  CASE WHEN l.ts_ms - s.ts_ms <= 86400000
        |    THEN round(s.pv, 4) + 0.0 END AS asof_purchase_value
        |FROM m l LEFT JOIN sj s ON s.user_id = l.user_id AND s.ts_ms = l.m_ts
        |WHERE l.side = 1""".stripMargin,
    "q_range_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
        |  FROM events WHERE ts IS NOT NULL),
        |marked AS (
        |  SELECT user_id, ts_ms, value,
        |    CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
        |           > 1800000
        |         OR lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (
        |  SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |    count(*) AS n_events
        |  FROM (SELECT user_id, ts_ms,
        |          sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |        FROM marked)
        |  GROUP BY user_id, sid)
        |SELECT e.event_id, e.user_id, e.ts_ms,
        |  s.start_ms AS ivl_start_ms, s.end_ms AS ivl_end_ms,
        |  s.n_events AS ivl_n_events
        |FROM e JOIN sess s
        |  ON s.user_id = e.user_id AND e.ts_ms BETWEEN s.start_ms AND s.end_ms""".stripMargin,
    "q_fill_forward" ->
      s"""WITH snaps AS (
        |  SELECT event_id AS snap_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
        |    value AS pv
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT user_id, min(ts_ms) AS lo0, max(ts_ms) AS hi0 FROM snaps GROUP BY 1),
        |al AS (SELECT user_id,
        |    lo0 + (((-lo0) % 21600000 + 21600000) % 21600000) AS lo,
        |    hi0 - ((hi0 % 21600000 + 21600000) % 21600000) AS hi
        |  FROM b),
        |lft AS (SELECT user_id, unnest(generate_series(lo, hi, 21600000)) AS ts_ms
        |  FROM al WHERE lo <= hi),
        |${asofCarrySql("", "")}
        |SELECT t.user_id, t.ts_ms, s.ts_ms AS asof_ts,
        |  round(s.pv, 4) + 0.0 AS asof_value
        |FROM m t LEFT JOIN sj s ON s.user_id = t.user_id AND s.ts_ms = t.m_ts
        |WHERE t.side = 1""".stripMargin,
    "q_fill_interp" ->
      s"""WITH snaps AS (
        |  SELECT event_id AS snap_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
        |    value AS pv
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT user_id, min(ts_ms) AS lo0, max(ts_ms) AS hi0 FROM snaps GROUP BY 1),
        |al AS (SELECT user_id,
        |    lo0 + (((-lo0) % 21600000 + 21600000) % 21600000) AS lo,
        |    hi0 - ((hi0 % 21600000 + 21600000) % 21600000) AS hi
        |  FROM b),
        |lft AS (SELECT user_id, unnest(generate_series(lo, hi, 21600000)) AS ts_ms
        |  FROM al WHERE lo <= hi),
        |${asofCarrySql("", "", withNext = true)}
        |SELECT t.user_id, t.ts_ms, p.ts_ms AS prev_ts, nx.ts_ms AS next_ts,
        |  round(CASE WHEN t.m_next IS NULL OR t.m_next = t.m_ts THEN p.pv
        |    ELSE p.pv + (nx.pv - p.pv) * (t.ts_ms - p.ts_ms) / (nx.ts_ms - p.ts_ms)
        |    END, 4) + 0.0 AS value
        |FROM m t LEFT JOIN sj p ON p.user_id = t.user_id AND p.ts_ms = t.m_ts
        |         LEFT JOIN sjn nx ON nx.user_id = t.user_id AND nx.ts_ms = t.m_next
        |WHERE t.side = 1""".stripMargin,
    "q_prototypes" ->
      s"""$protoRankedSql
        |SELECT vec_id, cluster, n_cluster, rank, round(sim, 6) + 0.0 AS cosine
        |FROM ranked""".stripMargin,
    "q_proto_prune" ->
      s"""$protoRankedSql
        |SELECT vec_id, cluster, n_cluster, rank, round(sim, 6) + 0.0 AS cosine
        |FROM ranked WHERE n_cluster - rank < (n_cluster * 1 + 2) // 3""".stripMargin,
    "q_shard_manifest" ->
      """WITH d AS (
        |  SELECT CAST(('0x' || substr(md5('r14shard:' || doc_id::VARCHAR), 1, 8))::UBIGINT
        |      % 8 AS BIGINT) AS shard,
        |    len(string_split(text, ' ')) AS n_tok,
        |    -- coalesce mirrors ShardExport.digest60 (null text -> ''), so a
        |    -- null row still contributes to the XOR instead of being skipped
        |    CAST(('0x' || substr(md5(doc_id::VARCHAR || chr(31) || coalesce(text, '')), 1, 15))::UBIGINT
        |      AS BIGINT) AS dig
        |  FROM documents)
        |SELECT shard, count(*) AS n_rows, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  bit_xor(dig) AS digest
        |FROM d GROUP BY shard""".stripMargin,
    "q_snapshot_diff" ->
      """WITH o AS (SELECT doc_id,
        |    md5(coalesce(text, '') || chr(31) || coalesce(lang, '')) AS old_md5
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    md5(coalesce(CASE WHEN doc_id % 5 = 0 THEN text || ' EDIT' ELSE text END, '')
        |      || chr(31) || coalesce(lang, '')) AS new_md5
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    md5(coalesce(text, '') || chr(31) || coalesce(lang, ''))
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.old_md5 = n.new_md5 THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  o.old_md5, n.new_md5
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,
    "q_time_split" ->
      """SELECT split, count(*) AS n FROM (
        |  SELECT CASE
        |    WHEN CAST(epoch_ms(ts) AS BIGINT) <= 1704153600000 THEN 'train'
        |    WHEN CAST(epoch_ms(ts) AS BIGINT) <= 1704153600000 + 21600000 THEN 'embargo'
        |    ELSE 'test' END AS split
        |  FROM events WHERE ts IS NOT NULL) GROUP BY 1""".stripMargin,
    "q_asof_lookup" ->
      s"""WITH e AS (
        |  SELECT event_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
        |    event_type, value
        |  FROM events),
        |snaps AS (SELECT event_id AS snap_id, user_id, ts_ms, value AS pv
        |  FROM e WHERE event_type = 'purchase'),
        |lft AS (SELECT user_id, ts_ms, event_id FROM e WHERE event_type <> 'purchase'),
        |${asofCarrySql(", event_id", ", NULL")}
        |SELECT l.event_id, l.user_id, l.ts_ms,
        |  CASE WHEN l.ts_ms - s.ts_ms <= 86400000 THEN s.ts_ms END AS asof_ts,
        |  CASE WHEN l.ts_ms - s.ts_ms <= 86400000
        |    THEN round(s.pv, 4) + 0.0 END AS asof_pv
        |FROM m l LEFT JOIN sj s ON s.user_id = l.user_id AND s.ts_ms = l.m_ts
        |WHERE l.side = 1""".stripMargin,
    "q_pca_cov" ->
      """WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM v),
        |idx AS (SELECT unnest(range(1, 65)) AS i),
        |s AS (SELECT i, sum(e[i]) AS si FROM v, idx GROUP BY i),
        |ss AS (SELECT a.i AS i, b.i AS j, sum(v.e[a.i] * v.e[b.i]) AS sij
        |  FROM v, idx a, idx b WHERE b.i >= a.i GROUP BY 1, 2)
        |SELECT CAST(ss.i - 1 AS BIGINT) AS i, CAST(ss.j - 1 AS BIGINT) AS j,
        |  round((sij - s1.si * s2.si / nn.n) / (nn.n - 1), 4) + 0.0 AS cov
        |FROM ss JOIN s s1 ON s1.i = ss.i JOIN s s2 ON s2.i = ss.j, nn""".stripMargin,
    "q_collocations" ->
      """WITH base AS (
        |  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
        |pairs AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM base WHERE len(toks) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        |cl AS (SELECT w1, count(*) AS c_left FROM pairs GROUP BY 1),
        |cr AS (SELECT w2, count(*) AS c_right FROM pairs GROUP BY 1),
        |n AS (SELECT count(*) AS n_pairs FROM pairs)
        |SELECT w1, w2, c2, c_left, c_right, n_pairs,
        |  round(ln(CAST(c2 AS DOUBLE) * n_pairs / (CAST(c_left AS DOUBLE) * c_right)), 6)
        |    + 0.0 AS pmi
        |FROM c2 JOIN cl USING (w1) JOIN cr USING (w2), n
        |WHERE c2 >= 5
        |ORDER BY c2 DESC, w1, w2
        |LIMIT 100""".stripMargin)
}
