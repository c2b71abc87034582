package perfbench

import scala.collection.mutable

import graft.clustering._
import graft.kernels.KernelFactory
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** lloyd_assign_heavy / lloyd_update_heavy: repeated `GeneralizedKMeans.fit`
  * of one parquet input from explicit initial centers. The traced run adds
  * the layer probes: `Assignment.assign`, `Update.gradMean`,
  * `CenterInit.initialize`, the kernel calls, a cached scan and the
  * `LocalLloyds` baseline; squared Euclidean also probes `Update.median`,
  * one-shot scoring and MLlib, and a workload with a store size probes
  * `SemDedupIndex` ([[StoreProbe]]).
  */
final class LloydBench(ctx: Ctx) {
  private val p = Workloads.lloyd(ctx.workload, ctx.tiny)
  private val spark = ctx.spark
  private val report = ctx.report
  private val kernel = KernelFactory(p.divergence)

  private var df: DataFrame = _
  private var warm: DataFrame = _
  private var init: Array[Array[Double]] = _

  private final case class Fit(seconds: Double, cpuS: Double, centers: Array[Array[Double]],
      iterations: Int, events: Seq[TimingSink.Stamped], startNs: Long, endNs: Long) {
    /** (IterationStarted, IterationCompleted) stamps of each iteration. */
    def iterationStamps: Seq[(TimingSink.Stamped, TimingSink.Stamped)] =
      events.filter(_.event.isInstanceOf[TrainingEvent.IterationStarted])
        .zip(events.filter(_.event.isInstanceOf[TrainingEvent.IterationCompleted]))
  }

  private def prepare(): Unit = {
    df = spark.read.parquet(s"${ctx.data}/data")
    warm = spark.read.parquet(s"${ctx.data}/warm")
    init = spark.read.parquet(s"${ctx.data}/init").orderBy("cluster").collect()
      .map(_.getSeq[Double](1).toArray)
  }

  private def fit(input: DataFrame = df): Fit = {
    val sink = new TimingSink
    val est = new GeneralizedKMeans()
      .setK(p.k).setDivergence(p.divergence).setMaxIter(p.iters).setTol(0.0)
      .setSeed(ctx.seed).setFeaturesCol("features")
      .setInitialCenters(init).setEventSink(sink)
    val c0 = ctx.cpuS
    val t0 = System.nanoTime()
    val model = est.fit(input)
    val t1 = System.nanoTime()
    Fit((t1 - t0) / 1e9, ctx.cpuS - c0, model.clusterCenters, model.summary.iterations,
      sink.events, t0, t1)
  }

  /** A traced fit: the fit span gets prelude / iteration / tail children
    * rebuilt from the event sink's timestamps.
    */
  private def tracedFit(): Fit = ctx.tracedOp("fit") {
    val f = fit()
    val its = f.iterationStamps
    its.headOption.foreach(i => ctx.tracer.record("lloyds.prelude", f.startNs, i._1.ns))
    its.foreach { case (a, b) => ctx.tracer.record("lloyds.iter", a.ns, b.ns) }
    its.lastOption.foreach(i => ctx.tracer.record("lloyds.tail", i._2.ns, f.endNs))
    f
  }._2

  def run(): Unit = {
    val (prepS, _) = ctx.timed(prepare())
    // warm-up: the same plans on an eighth of the rows, then full fits
    val (warmS, _) = ctx.timed { fit(warm); (1 to p.warmFits).foreach(_ => fit()) }
    val setupCpuS = ctx.cpuS
    val plain = mutable.ArrayBuffer[Fit]()
    val traced = mutable.ArrayBuffer[Fit]()
    val steal0 = ctx.stealS
    ctx.loop(minOps = if (ctx.traced) 4 else p.timedFits) { i =>
      if (ctx.tracedTurn(i)) traced += tracedFit() else plain += fit()
    }
    val loopStealS = ctx.stealS - steal0
    val fits = (plain ++ traced).toSeq

    // correctness, off the timed path
    val points = df.collect().map(_.getSeq[Double](0).toArray)
    val (localS, reference) = ctx.timed(LocalLloyds.run(points, Array.fill(points.length)(1.0),
      p.k, kernel, p.iters, 0.0, ctx.seed, Some(init)))
    report.check(s"every fit ran exactly maxIter=${p.iters} iterations",
      fits.nonEmpty && fits.forall(_.iterations == p.iters),
      fits.map(_.iterations).distinct.mkString("iterations seen: ", ",", ""))
    val empties = fits.flatMap(_.events.map(_.event)).count(_.isInstanceOf[TrainingEvent.EmptyClustersDetected])
    report.check("no EmptyClustersDetected event", empties == 0, s"$empties events")
    val worst = if (fits.isEmpty) Double.NaN else fits.map(f => relErr(f.centers, reference)).max
    report.check("centers match LocalLloyds.run within 1e-6 relative",
      worst <= 1e-6, f"worst relative center error $worst%.3e")

    report.named("fit_s", "s", plain.map(_.seconds).toSeq)
    report.named("fit_cpu_s", "s", plain.map(_.cpuS).toSeq)
    report.named("setup_wall_s", "s", Seq(ctx.sessionS + prepS + warmS))
    report.named("setup_cpu_s", "s", Seq(setupCpuS))
    report.named("host_steal_s", "s", Seq(loopStealS))
    report.endToEnd("setup_s", Seq(setupCpuS))
    report.endToEnd("op_cpu_s", plain.map(_.cpuS).toSeq)

    if (ctx.traced) {
      report.layer("setup.session_s", ctx.sessionS)
      report.layer("setup.prepare_s", prepS)
      report.layer("setup.warmup_s", warmS)
      report.layer("input.bytes", p.n.toDouble * p.d * 8)
      layers(traced.toSeq, plain.toSeq, points, localS)
    }
  }

  private def layers(traced: Seq[Fit], plain: Seq[Fit], points: Array[Array[Double]],
      localS: Double): Unit = {
    val iterSpans = traced.flatMap(_.iterationStamps)
    report.layer("lloyds.prelude_s", Stats.median(traced.map(f =>
      (f.iterationStamps.head._1.ns - f.startNs) / 1e9)))
    report.layer("lloyds.iter_s", Stats.median(iterSpans.map { case (a, b) => (b.ns - a.ns) / 1e9 }))
    report.layer("lloyds.tail_s", Stats.median(traced.map(f =>
      (f.endNs - f.iterationStamps.last._2.ns) / 1e9)))
    report.layer("lloyds.iterations", Stats.median(traced.map(_.iterations.toDouble)))
    report.layer("lloyds.jobs_per_fit", ctx.jobsPerOp("fit"))
    val iterJobs = iterSpans.map { case (a, b) => ctx.jobsIn("fit", a.epochMs, b.epochMs) }.sum
    report.layer("lloyds.jobs_per_iter", iterJobs.toDouble / math.max(1, iterSpans.size))
    report.layer("trace.overhead_ratio",
      Stats.median(traced.map(_.seconds)) / Stats.median(plain.map(_.seconds)))
    ctx.sparkCensus("fit")
    report.layer("baseline.local_fit_s", localS)

    // layer probes over the cached input, each the median of three
    val t = ctx.tracer
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    def noop(d: DataFrame): Unit = d.write.format("noop").mode("overwrite").save()
    def assigned = Assignment.assign(cached, "features", kernel, init, "auto",
      "cluster", "dist", oneShot = false)
    val scanS = t.op("io.scan")(ctx.medianOf(3)(noop(cached)))
    val assignS = t.op("assignment.assign")(ctx.medianOf(3)(noop(assigned)))
    val withUpdateS = t.op("assignment.assign+update.gradmean")(ctx.medianOf(3)(
      Update.gradMean(assigned, "features", lit(1.0), kernel, p.d)))
    val initS = t.op("centerinit.initialize")(ctx.timed(CenterInit.initialize(cached,
      LloydsConfig(k = p.k, kernel = kernel, seed = ctx.seed, featuresCol = "features"),
      p.d, p.n.toLong))._1)
    report.layer("io.scan_s", scanS)
    report.layer("assignment.assign_s", assignS)
    // computed: (assign + gradMean) minus assign alone
    report.layer("update.gradmean_s", math.max(0.0, withUpdateS - assignS))
    report.layer("centerinit.init_s", initS)
    if (p.divergence == "squaredEuclidean") {
      // the median (k-medians) update on the same assignment, computed the same way
      val withMedianS = t.op("assignment.assign+update.median")(ctx.timed(
        Update.median(assigned, "features", lit(1.0), p.d))._1)
      report.layer("update.median_s", math.max(0.0, withMedianS - assignS))
    }

    val sample = points.take(1000)
    report.layer("kernels.divergence_ns", t.op("kernels.divergence")(perCallNs { () =>
      var s = 0.0
      sample.foreach(x => init.foreach(c => s += kernel.divergence(x, c)))
      (s, sample.length.toLong * init.length)
    }))
    report.layer("kernels.grad_ns", t.op("kernels.grad")(perCallNs { () =>
      var s = 0.0
      sample.foreach(x => s += kernel.grad(x)(0))
      (s, sample.length.toLong)
    }))

    if (p.divergence == "squaredEuclidean") {
      transformProbe(points)
      import org.apache.spark.mllib.clustering.{KMeans => MLlibKMeans, KMeansModel}
      import org.apache.spark.mllib.linalg.Vectors
      val rdd = cached.rdd.map(r => Vectors.dense(r.getSeq[Double](0).toArray))
        .persist(StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      def mllib(): Unit = new MLlibKMeans().setK(p.k).setMaxIterations(p.iters).setEpsilon(0.0)
        .setInitialModel(new KMeansModel(init.map(c => Vectors.dense(c))))
        .run(rdd)
      report.layer("yardstick.mllib_fit_s", t.op("yardstick.mllib_fit")(ctx.medianOf(2)(mllib())))
      rdd.unpersist()
    }
    cached.unpersist()
    p.store.foreach(new StoreProbe(ctx, _, s"${ctx.data}/store").run())
  }

  /** One-shot scoring, closed loop with one client: each request is
    * `model.transform(batch).select("prediction").collect()` on a 1,000-row
    * driver-local batch, for a model of 16 of the initial centers
    * (k * d = 512, the literal-expression assignment tier fits never use).
    * Split into the transform build, physical planning and execution.
    */
  private def transformProbe(points: Array[Array[Double]]): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val model = new GeneralizedKMeansModel("perfbench_score", init.take(16), "squaredEuclidean", 1e-10)
    val schema = StructType(Seq(StructField("features", ArrayType(DoubleType, containsNull = false))))
    val batches = points.grouped(1000).take(8).map { xs =>
      (spark.createDataFrame(xs.map(x => Row(x.toSeq)).toSeq.asJava, schema), xs)
    }.toIndexedSeq
    val parts = mutable.ArrayBuffer[(Double, Double, Double)]()
    var mismatches = 0L
    (0 until 60).foreach { i =>
      val (b, xs) = batches(i % batches.size)
      val (_, preds) = ctx.tracedOp("request") {
        val t = ctx.tracer
        val (buildS, df) = ctx.timed(t.span("transform.build")(model.transform(b).select("prediction")))
        val (planS, _) = ctx.timed(t.span("transform.plan")(df.queryExecution.executedPlan))
        val (execS, rows) = ctx.timed(t.span("transform.exec")(df.collect()))
        // the first 20 requests warm the JVM
        if (i >= 20) parts += ((buildS, planS, execS))
        rows.map(_.getInt(0))
      }
      mismatches += xs.indices.count(r => preds(r) != model.predict(xs(r)))
    }
    report.check("every scored prediction equals model.predict on the driver", mismatches == 0,
      s"$mismatches rows differ")
    report.layer("transform.build_ms", Stats.median(parts.map(_._1 * 1000).toSeq))
    report.layer("transform.plan_ms", Stats.median(parts.map(_._2 * 1000).toSeq))
    report.layer("transform.exec_ms", Stats.median(parts.map(_._3 * 1000).toSeq))
    report.layer("transform.jobs_per_batch", ctx.jobsPerOp("request"))
  }

  /** Repeats `body` (returning a sink value and its call count) for at
    * least 0.2 s; nanoseconds per call.
    */
  private def perCallNs(body: () => (Double, Long)): Double = {
    var calls = 0L
    var sink = 0.0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L) {
      val (s, n) = body()
      sink += s; calls += n
    }
    val ns = (System.nanoTime() - t0).toDouble / calls
    if (sink == 42.4242) println("") // keeps the loop's result live
    ns
  }

  /** Worst per-center ||a - b|| / ||b||. */
  private def relErr(a: Array[Array[Double]], b: Array[Array[Double]]): Double =
    if (a.length != b.length) Double.PositiveInfinity
    else a.indices.map { i =>
      val diff = math.sqrt(a(i).indices.map(j => math.pow(a(i)(j) - b(i)(j), 2)).sum)
      diff / math.max(1e-300, math.sqrt(b(i).map(v => v * v).sum))
    }.max
}
