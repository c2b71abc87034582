package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-based document scoring for corpus selection — the
  * "quality/domain classifier" stage of the standard LLM data pipeline
  * (CCNet's fastText filter, GPT-3's LR-vs-WebText filter): a
  * multinomial Naive Bayes model trained ON A LABELED FRAME and applied
  * to the full corpus, entirely as dataflow — no driver-side model
  * object, no UDF, every number a closed-form aggregate, so the whole
  * train+score composition is deterministic and replayable in any SQL
  * engine.
  *
  * Math: logpost(c | doc) = log prior(c) + Σ_tok log p(tok | c), with
  * add-α smoothing over the union vocabulary V of the labeled corpus:
  * p(tok|c) = (count(tok,c) + α) / (tokens_c + α·|V|). Out-of-vocabulary
  * tokens are ignored (the standard multinomial-NB treatment). The
  * prediction is the argmax class; `margin` (best − runner-up log
  * posterior) is the confidence signal to threshold on for filtering.
  *
  * Scale shape: class-token counts are one two-phase hash aggregation
  * over the labeled corpus; the dense (token × class) log-prob table is
  * vocab-sized × k and joins the scored corpus's token stream keyed
  * (same shape as [[TextOps.tfidf]]); per-(doc, class) partial sums
  * combine map-side, the per-doc frame carries k rows, and the argmax
  * is a rank-1 window (WindowGroupLimit). Class priors and totals ride
  * broadcast k-row aggregates. Nothing collects.
  *
  * Returns one row per scored doc: (doc_id, label_pred, logpost,
  * margin) — label_pred null when the doc shares no vocabulary token
  * (logpost/margin 0.0); margin 0.0 when the model has one class.
  * logpost/margin rounded 6dp post-aggregation for engine portability.
  */
object Classify {

  /** Portable feature-hash bucket: first 32 bits of md5 mod `b` — the
    * same house-hash family as [[Sampling.uniform]]; replayable in any
    * engine as `('0x' || substr(md5(tok), 1, 8))::UBIGINT % b`. Shared
    * (private[graft]) so the count-min cells ([[Sketches]]) ride the ONE
    * definition of this oracle-replayed contract instead of a drifting
    * copy (house rule 5).
    */
  private[graft] def md5Bucket(c: Column, b: Int): Column =
    pmod(conv(substring(md5(c), 1, 8), 16, 10).cast("long"), lit(b.toLong))

  /** @param hashBuckets when set, tokens are FEATURE-HASHED to
    *   `first32bits(md5(token)) mod B` buckets before counting (the
    *   fastText/Weinberger et al. 2009 trick): the dense feature × class
    *   table is then B×k rows REGARDLESS of corpus vocabulary — at
    *   100 TB the raw vocabulary keeps growing, the hashed model does
    *   not, and the token-stream join carries 8-byte longs instead of
    *   strings. Collisions merge token statistics (the standard
    *   hashing-trick tradeoff; accuracy parity asserted in
    *   ClassifySpec). The bucket hash is the PORTABLE md5 house hash
    *   (same family as [[Sampling.uniform]]), not xxhash64, so the
    *   hashed path is itself DuckDB-oracle-checkable end to end
    *   (q_nb_classify_hashed) — `('0x' || substr(md5(tok),1,8))::UBIGINT
    *   % B` rebuilds the exact bucketing in any engine. The string path
    *   (None) remains the vocabulary-exact form (q_nb_classify).
    */
  def nbClassify(
      docs: DataFrame,
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      smoothing: Double = 1.0,
      hashBuckets: Option[Int] = None): DataFrame = {
    require(smoothing > 0.0, s"smoothing must be positive, got $smoothing")
    require(hashBuckets.forall(_ > 1), s"hashBuckets must be > 1, got $hashBuckets")
    def key(c: Column): Column =
      hashBuckets.map(b => md5Bucket(c, b)).getOrElse(c)
    def toks(df: DataFrame, k: Column, keyName: String): DataFrame =
      Dedup.fanOut(df.select(k.as(keyName), col(textCol).as("__text")))
        .select(col(keyName), explode(split(col("__text"), " ")).as("__tok"))
        .where(col("__tok") =!= "")
        .select(col(keyName), key(col("__tok")).as("token"))
    val labToks = toks(labeled, col(labelCol).cast("string"), "label")
    // class-token counts + per-class totals + class priors (k rows)
    val tokCnt = labToks.groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val classTot = tokCnt.groupBy(col("label"))
      .agg(sum(col("cnt")).cast("double").as("tok_c"))
    val prior = labeled.groupBy(col(labelCol).cast("string").as("label"))
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val priorTot = prior.agg(sum(col("n_docs")).as("__nd"))
    val vocabSize = tokCnt.select(col("token")).distinct()
      .agg(count(lit(1)).cast("double").as("__v"))
    // dense (token x class) table: every vocab token gets a row per
    // class, absent counts falling to the smoothing floor
    val vocab = tokCnt.select(col("token")).distinct()
    val dense = vocab.crossJoin(broadcast(classTot))
      .join(tokCnt, Seq("token", "label"), "left")
      .crossJoin(broadcast(vocabSize))
      .select(col("token"), col("label"),
        log((coalesce(col("cnt"), lit(0L)) + lit(smoothing)) /
          (col("tok_c") + lit(smoothing) * col("__v"))).as("logp"))
    val docToks = toks(docs, col(idCol).cast("long"), "doc_id")
    val post = docToks.join(dense, "token")
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("logp")).as("__sum"))
      .join(broadcast(prior.crossJoin(priorTot)
        .select(col("label"), log(col("n_docs") / col("__nd")).as("logprior"))), "label")
      .select(col("doc_id"), col("label"), (col("logprior") + col("__sum")).as("lp"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("lp").desc, col("label").asc)
    val ranked = post.withColumn("__rk", row_number().over(byDoc))
    val best = ranked.where(col("__rk") === 1)
      .select(col("doc_id"), col("label").as("label_pred"), col("lp").as("__best"))
    val second = ranked.where(col("__rk") === 2)
      .select(col("doc_id"), col("lp").as("__second"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .join(second, Seq("doc_id"), "left")
      .select(col("doc_id"), col("label_pred"),
        (round(coalesce(col("__best"), lit(0.0)), 6) + lit(0.0)).as("logpost"),
        (round(coalesce(col("__best") - col("__second"), lit(0.0)), 6) + lit(0.0))
          .as("margin"))
  }

  /** Hashed bag-of-words features for the logistic classifier: one row
    * per (doc, bucket) with x = in-doc bucket count / doc token count,
    * plus one intercept row (bucket −1, x = 1) per non-empty doc. The
    * bucket hash is [[md5Bucket]] — engine-portable. Two map-side
    * combined aggregations over the token stream; rows carry 8-byte
    * bucket ids, never tokens.
    */
  private def hashedFeatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int): DataFrame = {
    val toks = Dedup.fanOut(
      df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"), explode(split(col("__text"), " ")).as("__tok"))
      .where(col("__tok") =!= "")
      .select(col("doc_id"), md5Bucket(col("__tok"), buckets).as("bucket"))
    val nt = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("__n"))
    val bf = toks.groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("__c"))
    bf.join(nt, "doc_id")
      .select(col("doc_id"), col("bucket"),
        (col("__c").cast("double") / col("__n").cast("double")).as("x"))
      .unionByName(nt.select(col("doc_id"), lit(-1L).as("bucket"), lit(1.0).as("x")))
  }

  /** Binary logistic-regression quality classifier trained as pure
    * dataflow — the trainable counterpart of [[nbClassify]] and the
    * in-engine analogue of the fastText/LR corpus filters (CCNet;
    * GPT-3's LR-vs-WebText selection; Joulin et al. 2016): hashed
    * bag-of-words features ([[hashedFeatures]] — B buckets bound the
    * model regardless of corpus vocabulary), full-batch gradient
    * descent on the mean log-loss, `iters` steps of rate `lr` from
    * w = 0. Every step is relational: margins are one keyed join of
    * the feature rows against the BROADCAST weight table plus a
    * per-doc sum; the gradient is one map-side-combined aggregation
    * per bucket; the weight table itself is a (B+1)-row driver
    * collect per iteration — the same capped k-row tier as Lloyds
    * center updates (`buckets` is driver-capped). Deterministic by
    * construction (no sampling, fixed init), so the full 3-iteration
    * chain replays in SQL (q_logreg_fit).
    *
    * `labelCol` must be numeric 0/1 (cast to double). Documents with
    * no tokens emit no feature rows and drop out of training, exactly
    * as in the oracle replay.
    *
    * Returns (bucket, weight): one row per feature bucket OBSERVED in
    * the training frame (unobserved buckets keep weight 0 and are
    * omitted), bucket −1 the intercept; weight rounded 6dp.
    */
  def logisticFit(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      buckets: Int = 4096,
      iters: Int = 5,
      lr: Double = 0.5): DataFrame = {
    require(buckets > 1 && buckets <= (1 << 20),
      s"buckets must be in (1, 2^20] (the per-iteration driver collect is B rows), got $buckets")
    require(iters >= 1 && iters <= 1000, s"iters must be in [1, 1000], got $iters")
    require(lr > 0.0, s"lr must be positive, got $lr")
    val spark = labeled.sparkSession
    import spark.implicits._
    // r19: when the per-doc feature row stays small (B bounds the distinct
    // buckets a doc can carry, ≤16 bytes each), pivot the feature table to
    // ONE cached row per doc and run each GD step as a single job — the
    // margin is a closure dot against the driver's weight map (no keyed
    // join, no per-iteration broadcast-frame build, no per-doc shuffle)
    // and the only exchange is the ≤(B+1)-row gradient aggregation
    // (guide §2.3/§2.4). Above the cap (wide-B models whose pivoted rows
    // could reach B·16 bytes) the original row-per-bucket path runs
    // unchanged — that shape never builds a wide row.
    val pivotMax = graft.util.Conf.long(spark, "graft.logreg.pivotMaxBuckets", 65536L)
    if (buckets <= pivotMax)
      return logisticFitPivoted(labeled, idCol, textCol, labelCol, buckets, iters, lr)
    val feats = hashedFeatures(labeled, idCol, textCol, buckets)
    val ydf = labeled.select(col(idCol).cast("long").as("doc_id"),
      col(labelCol).cast("double").as("y"))
    // only `joined` is re-read across iterations — persisting feats too
    // would pin a second copy of the feature set for zero hits
    val joined = feats.join(ydf, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
        val n = joined.select(col("doc_id")).distinct().count()
        if (n == 0) return spark.emptyDataset[(Long, Double)].toDF("bucket", "weight")
        // weights live on the driver between iterations (B+1 doubles);
        // margins/gradients are distributed
        var w = Map.empty[Long, Double].withDefaultValue(0.0)
        for (_ <- 1 to iters) {
          val wDf = broadcast(
            spark.createDataset(w.toSeq).toDF("bucket", "__w"))
          val resid = joined.join(wDf, Seq("bucket"), "left")
            .groupBy(col("doc_id"))
            .agg(sum(col("x") * coalesce(col("__w"), lit(0.0))).as("__m"),
              max(col("y")).as("y"))
            .select(col("doc_id"),
              (lit(1.0) / (lit(1.0) + exp(-col("__m"))) - col("y")).as("r"))
          // broadcast the per-doc residuals back onto the cached feature
          // table: the gradient join then streams `joined` IN PLACE
          // (no full-table exchange — one shuffle per iteration instead
          // of two) and the bucket aggregation map-side-combines to B
          // rows per partition. Residuals are 16 bytes/doc; above the
          // cap fall back to the shuffle join rather than a giant
          // broadcast.
          // default 2M docs ≈ 32 MB of (long, double) pairs: the broadcast
          // hash relation is built on the DRIVER and replicated to every
          // executor each iteration, so the cap is sized for the relation
          // (~5-10x the raw bytes), not for what an executor could scan
          val maxBcDocs = graft.util.Conf.long(
            spark, "graft.logreg.maxBroadcastDocs", 2000000L)
          val residSide = if (n <= maxBcDocs) broadcast(resid) else resid
          val grad = joined.join(residSide, "doc_id")
            .groupBy(col("bucket"))
            .agg((sum(col("r") * col("x")) / lit(n.toDouble)).as("g"))
            .collect()
          w = grad.foldLeft(w) { (acc, row) =>
            val b = row.getLong(0)
            acc.updated(b, acc(b) - lr * row.getDouble(1))
          }
        }
        spark.createDataset(w.toSeq).toDF("bucket", "weight")
          .select(col("bucket"), (round(col("weight"), 6) + lit(0.0)).as("weight"))
    } finally { joined.unpersist(); () }
  }

  /** [[logisticFit]]'s pivoted fast path (see the cap note there): the
    * feature table collapses to ONE cached row per doc — (fs: array of
    * (bucket, x), y) — so each GD step is a single job: margin and
    * residual are computed per row in a closure against the driver's
    * weight map (immutable, broadcast-safe by construction — rule 14
    * needs no clone), and the gradient is the one ≤(B+1)-row map-side-
    * combined aggregation over the exploded features. Arithmetic is
    * term-identical to the join path (same x·w products, same
    * 1/(1+exp(−m)) − y residual, same Σ(r·x)/n gradient, same driver
    * update w ← w − lr·g over OBSERVED buckets only); per-doc summation
    * order follows the cached collect_list order where the join path's
    * followed partial-aggregation order — both arbitrary, both inside
    * the 6-dp rounding tolerance the cross-engine oracle contract
    * already grants (DuckDB sums in its own order). ClassifySpec pins
    * the pivoted path equal to the join path at 6 dp.
    */
  private def logisticFitPivoted(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      buckets: Int,
      iters: Int,
      lr: Double): DataFrame = {
    val spark = labeled.sparkSession
    import spark.implicits._
    val feats = hashedFeatures(labeled, idCol, textCol, buckets)
    val ydf = labeled.select(col(idCol).cast("long").as("doc_id"),
      col(labelCol).cast("double").as("y"))
    val pivoted = feats.join(ydf, "doc_id")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("bucket"), col("x"))).as("fs"),
        max(col("y")).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = pivoted.count()
      if (n == 0) return spark.emptyDataset[(Long, Double)].toDF("bucket", "weight")
      var w = Map.empty[Long, Double].withDefaultValue(0.0)
      for (_ <- 1 to iters) {
        // r20 (r19 verdict #4): the residual is a native Catalyst
        // expression over the unsafe array — the former Scala UDF
        // decoded fs to a boxed Seq[Row] per doc per iteration (the
        // codegen barrier + allocation the shingle rewrite removed
        // elsewhere). Weights ride as a dense double[buckets+1]
        // (slot 0 = the −1 intercept): same stored values as the map
        // (absent buckets 0.0 = its default), so the residual is
        // bit-identical; LogregResidual's scaladoc carries the proof.
        val warr = new Array[Double](buckets + 1)
        w.foreach { case (b, v) => warr(b.toInt + 1) = v }
        val resid = org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.LogregResidual(
            org.apache.spark.sql.GraftSqlBridge.expression(col("fs")),
            org.apache.spark.sql.GraftSqlBridge.expression(col("y")),
            warr))
        val grad = pivoted
          .select(col("fs"), resid.as("r"))
          .select(explode(col("fs")).as("f"), col("r"))
          .groupBy(col("f.bucket").as("bucket"))
          .agg((sum(col("r") * col("f.x")) / lit(n.toDouble)).as("g"))
          .collect()
        w = grad.foldLeft(w) { (acc, row) =>
          val b = row.getLong(0)
          acc.updated(b, acc(b) - lr * row.getDouble(1))
        }
      }
      spark.createDataset(w.toSeq).toDF("bucket", "weight")
        .select(col("bucket"), (round(col("weight"), 6) + lit(0.0)).as("weight"))
    } finally { pivoted.unpersist(); () }
  }

  /** Score documents under a [[logisticFit]] model: p = σ(Σ_b w_b·x_b)
    * with the same hashed features. One keyed join against the
    * BROADCAST (B+1)-row weight table + one per-doc aggregation —
    * the corpus-scan-shaped scoring pass that feeds
    * [[Sampling.selectTopByScore]] / [[Sampling.bucketByScore]].
    * Documents with no tokens emit no row. Returns (doc_id, score)
    * rounded 6dp.
    */
  def logisticScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      buckets: Int = 4096): DataFrame = {
    hashedFeatures(docs, idCol, textCol, buckets)
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * coalesce(col("weight"), lit(0.0))).as("__m"))
      .select(col("doc_id"),
        (round(lit(1.0) / (lit(1.0) + exp(-col("__m"))), 6) + lit(0.0)).as("score"))
  }

  /** Calibration table for an integer-scored classifier: the corpus is
    * cut into `nBuckets` EXACT equal-rank buckets by (score desc, id) —
    * via [[Sampling.bucketByScore]]'s histogram trick, never a global
    * sort — and each bucket reports its size, positive count, and the
    * positive rate in integer micro (⌊10⁶·n_pos/n⌋: rule-1 pure). A
    * well-calibrated quality score shows pos_rate_micro falling
    * monotonically from b00 (top-ranked) to the last bucket; flat means
    * the score carries no signal for the label.
    *
    * Scale: one corpus-sized equi-join on the id (the bucketed frame
    * back onto the labels) + one B-row aggregation; the score histogram
    * is capped by `graft.bucket.maxDistinctScores`.
    *
    * `labelCol` is cast to long; nonzero counts as positive. Returns
    * (bucket, n, n_pos, pos_rate_micro, min_score, max_score).
    */
  def calibration(
      scored: DataFrame,
      idCol: String,
      scoreCol: String,
      labelCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets > 1 && nBuckets <= 1000,
      s"nBuckets must be in [2, 1000], got $nBuckets")
    val labels = (0 until nBuckets).map(i => f"b$i%02d")
    val bucketed = Sampling.bucketByScore(
      scored.select(col(idCol), col(scoreCol)),
      idCol, scoreCol, Seq.fill(nBuckets)(1), labels)
    bucketed
      .join(scored.select(col(idCol),
        (col(labelCol).cast("long") =!= 0L).cast("long").as("__y")), idCol)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        min(col(scoreCol)).cast("long").as("min_score"),
        max(col(scoreCol)).cast("long").as("max_score"))
      .select(col("bucket"), col("n"), col("n_pos"),
        call_function("div", lit(1000000L) * col("n_pos"), col("n"))
          .as("pos_rate_micro"),
        col("min_score"), col("max_score"))
  }
}
