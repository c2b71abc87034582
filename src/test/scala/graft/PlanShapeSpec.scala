package graft

import org.apache.spark.sql.functions._

/** Consolidated physical-plan regression guards: the load-bearing plan
  * properties PLANS.md's audit documents, asserted on EXECUTED plans so
  * an operator edit (or Spark upgrade) that silently degrades the plan
  * fails a test instead of a scale run. Complements the per-operator
  * assertions in BucketedCorpusSpec (zero-Exchange co-located joins),
  * IncrementalDedupSpec (bucket-pruned probes), CurateSpec (broadcast
  * eval sides), and GraftFunctionsSpec (WholeStageCodegen distances).
  */
class PlanShapeSpec extends SparkSpec {

  private def exchanges(plan: String): Int =
    "(?<!Broadcast)Exchange".r.findAllIn(plan).length

  test("model transform is a pure projection: zero Exchange, no shuffle") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val model = new graft.clustering.GeneralizedKMeans()
      .setK(4).setFeaturesCol("embedding").setSeed(1).setMaxIter(2)
      .fit(emb)
    val out = model.transform(emb)
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"transform must not shuffle; plan:\n${plan.take(1500)}")
  }

  test("Lloyd update is one native aggregate: no ScalaUDF, no ScalaAggregator, " +
    "one non-broadcast Exchange") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.aggregate.ScalaAggregator
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val assigned = emb.select(col("embedding").as("features"),
      (col("vec_id") % 4).cast("int").as("cluster"), lit(0.5).as("dist"))
    // KL: a gradient kernel, where the former update added a grad UDF
    val sums = graft.clustering.Update.sumsFrame(assigned, "features", lit(1.0),
      new graft.kernels.KLDivergenceKernel(), 64, 4)
    val plan = sums.queryExecution.executedPlan
    // the helper descends into the adaptive plan's current physical plan
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val exprs = helper.collect(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[graft.functions.CenterSums]), s"no CenterSums:\n$plan")
    assert(!exprs.exists(_.isInstanceOf[ScalaUDF]), s"ScalaUDF in update plan:\n$plan")
    assert(!exprs.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]), s"ScalaAggregator in update plan:\n$plan")
    assert(exchanges(plan.toString) == 1, s"expected one Exchange; plan:\n$plan")
    assert(sums.collect().length == 1)
  }

  /** One Lloyd iteration as the fit runs it: assign, then the update. */
  private def lloydIteration(centers: Array[Array[Double]]) = {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("features"))
    val kernel = new graft.kernels.KLDivergenceKernel()
    val assigned = graft.clustering.Assignment.assign(emb, "features", kernel, centers)
    graft.clustering.Update.sumsFrame(assigned, "features", lit(1.0), kernel, 64, centers.length)
  }

  private def iterationCenters(seed: Int) = {
    val rnd = new java.util.Random(seed)
    Array.fill(4)(Array.fill(64)(rnd.nextDouble()))
  }

  test("Lloyd iteration assigns through exactly one NearestCenter and no ScalaUDF") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val sums = lloydIteration(iterationCenters(1))
    assert(sums.collect().length == 1)
    val plan = sums.queryExecution.executedPlan
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val exprs = helper.collect(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case e => e })
    // one node: the struct is evaluated once per row, not once per field
    assert(exprs.count(_.isInstanceOf[graft.functions.NearestCenter]) == 1,
      s"expected one NearestCenter:\n$plan")
    assert(!exprs.exists(_.isInstanceOf[ScalaUDF]), s"ScalaUDF in iteration plan:\n$plan")
  }

  test("a second Lloyd iteration with new centers of the same shape compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    lloydIteration(iterationCenters(2)).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    lloydIteration(iterationCenters(3)).collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the generated code must not depend on the center values")
  }

  test("brute-force top-k plans a map-side WindowGroupLimit before the shuffle") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val out = graft.ops.Similarity.bruteForceTopK(
      emb, emb.where(col("id") < 4), "id", "v", k = 5)
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"top-k must partial-limit per group before exchanging; plan:\n${plan.take(1500)}")
  }

  test("capPerDomain plans a map-side WindowGroupLimit: shuffle never carries a domain's full mass") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val out = graft.ops.Sampling.capPerDomain(docs, "source", "doc_id", 5L, "ps")
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-domain cap must partial-limit per map task before exchanging; plan:\n${plan.take(1500)}")
  }

  test("topPerDomain plans a map-side WindowGroupLimit like the hash cap") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val out = graft.ops.Sampling.topPerDomain(docs, "source", "doc_id", "n_chars", 5L)
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"quality top-k must partial-limit per map task; plan:\n${plan.take(1500)}")
  }

  test("bucketByScore never plans a one-partition total order") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val scored = docs.select(col("doc_id"),
      graft.ops.TextOps.qualityScoreMicro(col("text")).as("q"))
    val out = graft.ops.Sampling.bucketByScore(scored, "doc_id", "q",
      Seq(1, 1, 1), Seq("head", "middle", "tail"))
    try {
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"),
        s"rank bucketing must stay hash-partitioned; plan:\n${plan.take(1500)}")
    } finally out.unpersist()
  }

  test("gopherRules is one projection over the scan: zero Exchange") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val out = graft.ops.TextOps.gopherRules(docs, "doc_id", "text")
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"rule table must not shuffle; plan:\n${plan.take(1500)}")
  }

  test("dimension joins broadcast: the fact side shuffles only for the final agg") {
    val dir = TestSpark.sf0001
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val q = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name")).agg(sum(col("o_totalprice")).as("rev"))
    q.write.format("noop").mode("overwrite").save()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dim joins must broadcast; plan:\n${plan.take(1500)}")
    assert(exchanges(plan) <= 2,
      s"only the partial/final agg may shuffle, found ${exchanges(plan)}; plan:\n${plan.take(1500)}")
  }

  test("banded signatures never re-evaluate the shingle expression in a pushed filter") {
    // Round-18 regression pin: a size()-style null-policy filter on the
    // computed shingle column gets pushed below the projection with the
    // whole wordShingles tree inlined into the predicate — the shingle
    // expression then evaluates TWICE per row (measured 1.56x on the
    // whole ingest cycle). The policy lives inside the band-keys UDF
    // (empty array -> no posexplode rows); this asserts no optimizer
    // pass reintroduces a Filter carrying the shingle tree.
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val banded = graft.ops.IncrementalDedup.bandedSignatures(docs, "doc_id", "text")
    val filters = banded.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    // "graft_word_shingle" is the common prefix of BOTH shingle pretty
    // names — graft_word_shingles (distinct) and
    // graft_word_shingle_occurrences, which does NOT contain the plural
    // substring (r19 advice) — so either form re-arms the pin;
    // array_distinct was the HOF-era outermost node, kept so a revert
    // re-arms it too. Presence in a Filter condition means the shingle
    // tree was inlined into a predicate
    filters.foreach { f =>
      val c = f.condition.toString
      assert(!c.contains("array_distinct") && !c.contains("graft_word_shingle"),
        s"shingle expression inlined into a filter predicate:\n${f.condition}")
    }
  }

  test("jaccardJoin never re-evaluates the shingle expression in an " +
    "inferred generate filter") {
    // r19 advice: explode over the __shs ATTRIBUTE arms
    // InferFiltersFromGenerate — size(__shs) > 0 inlines the whole
    // shingle tree into the scan Filter via pushdown (rule 11), paying
    // the hottest expression twice per input row. exactPairs excludes
    // that rule for its actions; this pins the shingle-free filters.
    // The optimizedPlan memoizes during exactPairs' own eager actions
    // (inside the exclusion scope), so reading it here sees what ran.
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val out = graft.ops.SetSimJoin.jaccardJoin(docs, "doc_id", "text", 80, 3)
    try {
      val filters = out.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }
      filters.foreach { f =>
        val c = f.condition.toString
        assert(!c.contains("graft_word_shingle"),
          s"shingle expression inlined into a filter predicate:\n${f.condition}")
      }
    } finally out.unpersist()
  }

  test("HLL build is one map-side-combined aggregation: a single Exchange " +
    "carrying registers, scan reads only the key column") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val items = docs.select(explode(split(col("text"), " ")).as("k"))
      .where(col("k") =!= "")
    val regs = graft.ops.Hll.build(items, "k", 10, "plan19")
    regs.write.format("noop").mode("overwrite").save()
    val plan = regs.queryExecution.executedPlan.toString
    // partial + final HashAggregate around exactly one HASH shuffle (the
    // register exchange, <= 2^p rows per partition, never keys); the
    // round-robin fanOut repartition on the scan-shaped input is the
    // deliberate file-split parallelism guard, not data movement by key
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected one hash Exchange; plan:\n${plan.take(1500)}")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregation; plan:\n${plan.take(1500)}")
    assert(plan.contains("ReadSchema: struct<text:string>"),
      s"scan must read only the text column; plan:\n${plan.take(1500)}")
  }

  test("grouped HLL stats chain is two map-side-combined aggregations " +
    "(register rollup, then group stats riding its partitioning), scan " +
    "pruned to (lang, text)") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val items = docs.select(col("lang"),
      explode(graft.ops.TextOps.wordShingleOccurrences(col("text"), 2)).as("k"))
      .where(col("k") =!= "")
    val regs = graft.ops.Hll.buildGrouped(items, Seq("lang"), "k", 9, "plan22")
    val stats = graft.ops.Hll.estimateGroupedStats(regs, Seq("lang"), 9)
    stats.write.format("noop").mode("overwrite").save()
    val plan = stats.queryExecution.executedPlan.toString
    // the register rollup exchanges on (lang, bucket); the stats
    // aggregation (including its countDistinct structural guard) then
    // exchanges on (lang) — never more, and never an exchange keyed on
    // raw occurrences (the <= m-rows-per-group 100-TB posture, q_hll_grouped)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2,
      s"expected exactly two hash Exchanges; plan:\n${plan.take(2000)}")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"expected partial+final aggregation at both levels; plan:\n${plan.take(2000)}")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("lang") && read.contains("text") &&
      !read.contains("doc_id") && !read.contains("n_chars"),
      s"scan must prune to (lang, text); got: $read")
  }

  test("Bloom build is one map-side-combined aggregation: a single hash " +
    "Exchange carrying <= m/64 packed words, scan reads only the text column") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val keys = docs.select(explode(
      graft.ops.TextOps.wordShingles(col("text"), 5)).as("sh"))
    val words = graft.ops.Bloom.build(keys, "sh", 65536L, 7)
    words.write.format("noop").mode("overwrite").save()
    val plan = words.queryExecution.executedPlan.toString
    // positions explode map-side, (w, bits) partials bit_or-combine
    // map-side, so the one hash shuffle is word-bounded, never
    // key-bounded — the geometry-bound 100-TB posture, plan-pinned
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected one hash Exchange; plan:\n${plan.take(1500)}")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregation; plan:\n${plan.take(1500)}")
    assert(plan.contains("ReadSchema: struct<text:string>"),
      s"scan must read only the text column; plan:\n${plan.take(1500)}")
  }

  test("fast-mode Bloom build and probe stay UDF-free (pure codegen'd " +
    "xxhash64 positions); the portable md5 path is the one paying the " +
    "UDF boundary") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val keys = docs.select(explode(
      graft.ops.TextOps.wordShingles(col("text"), 5)).as("sh"))
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan.toString
    }
    val fastBuild = planOf(graft.ops.Bloom.build(keys, "sh", 65536L, 7,
      portableHash = false))
    assert(!fastBuild.contains("UDF"),
      s"fast build must not cross a UDF boundary; plan:\n${fastBuild.take(1500)}")
    assert(fastBuild.contains("xxhash64"),
      s"fast build must hash via the codegen'd xxhash64; plan:\n${fastBuild.take(1500)}")
    val fastWords = graft.ops.Bloom.build(keys, "sh", 65536L, 7,
      portableHash = false)
    val fastProbe = planOf(graft.ops.Bloom.mightContain(fastWords,
      keys.limit(500), "sh", 65536L, 7, portableHash = false))
    assert(!fastProbe.contains("UDF"),
      s"fast probe must not cross a UDF boundary; plan:\n${fastProbe.take(1500)}")
    // the asymmetry is real and deliberate: md5 has no oracle-matching
    // codegen Column twin, so the PORTABLE path carries the UDF
    val md5Build = planOf(graft.ops.Bloom.build(keys, "sh", 65536L, 7))
    assert(md5Build.contains("UDF"),
      "expected the portable path to show its UDF (did md5 grow a codegen " +
        s"twin? update this pin and the scaladoc); plan:\n${md5Build.take(1500)}")
  }

  test("percentileFilterDouble's band predicate reaches the parquet scan as " +
    "pushed filters (plain double comparisons after driver-side inversion)") {
    val events = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    val band = graft.ops.Quantiles.percentileFilterDouble(events, "value", 5, 95)
    band.write.format("noop").mode("overwrite").save()
    val plan = band.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(value,") &&
      plan.contains("LessThanOrEqual(value,") && plan.contains("IsNotNull(value)"),
      s"band cutoffs must push to the scan; plan:\n${plan.take(1500)}")
    assert(!plan.contains("Exchange"),
      s"the band read is scan+filter, no shuffle; plan:\n${plan.take(1500)}")
  }

  test("grouped rank-sketch cut plans a map-side WindowGroupLimit: the " +
    "exchange carries <= s rows per group per partition") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val sk = graft.ops.GroupedQuantileSketch.buildGrouped(
      docs, Seq("lang"), "doc_id", "n_chars", 32, "pp")
    sk.summary.write.format("noop").mode("overwrite").save()
    val plan = sk.summary.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"the bottom-s cut must partial-limit per group before exchanging; " +
        s"plan:\n${plan.take(1500)}")
    // scan discipline: only (doc_id, lang, n_chars) read, null filters
    // pushed, and the whole build is ONE exchange
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      s"build must read only the three needed columns; plan:\n${plan.take(1500)}")
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), IsNotNull(n_chars)]"),
      s"null policy must push to the scan; plan:\n${plan.take(1500)}")
    assert(plan.split('\n').count(_.contains("Exchange")) == 1,
      s"the cut is the build's only shuffle; plan:\n${plan.take(1500)}")
  }

  test("Quantiles refinement scans read only the value column and shuffle " +
    "only histogram rows") {
    // the operator runs eagerly; pin the shape of the per-pass histogram
    // job it issues (projection + when-chain + two-phase count agg)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val vals = docs.select(col("n_chars").cast("long").as("__v"))
      .where(col("__v").isNotNull)
    val hist = vals
      .select(col("__v"), when(col("__v") >= 0L && col("__v") <= 1000000L, lit(0))
        .otherwise(lit(null).cast("int")).as("__gid"))
      .where(col("__gid").isNotNull)
      .select(col("__gid"), shiftright(col("__v"), 7).as("__b"))
      .groupBy("__gid", "__b").agg(count(lit(1)).as("__c"))
    hist.write.format("noop").mode("overwrite").save()
    val plan = hist.queryExecution.executedPlan.toString
    assert(exchanges(plan) == 1, s"one histogram shuffle; plan:\n${plan.take(1500)}")
    assert(plan.contains("ReadSchema: struct<n_chars:bigint>"),
      s"scan must read only n_chars; plan:\n${plan.take(1500)}")
  }
}
