package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The measuring process for one workload.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --result FILE --traces DIR [--tiny 1] [--share P]
  *
  * It prints a table of the named metrics (median, tail percentile, sample
  * count) and writes the result object to FILE. With --trace 0 nothing is
  * attached to the session: no listener, no spans, no op tags. With
  * --trace 1 the same ops also run traced (the listener is attached only
  * while a traced op runs), and the run reports per-layer metrics instead
  * of end-to-end ones. With --share P this process is one of P that
  * measure one run in turn: it times its 1/P of the run's seconds and
  * fits, and the result carries the samples the caller merges.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(opt)
    val code =
      try {
        new LloydBench(ctx).run()
        ctx.finish()
      } finally ctx.spark.stop()
    System.exit(code)
  }
}

/** Everything one run shares: options, the session, the trace machinery
  * and the report being filled in.
  */
final class Ctx(opt: Map[String, String]) {
  val workload: String = opt("workload")
  val seed: Long = opt("seed").toLong
  val seconds: Double = opt("seconds").toDouble
  val traced: Boolean = opt("trace") == "1"
  val tiny: Boolean = opt.get("tiny").contains("1")
  val share: Int = opt.get("share").map(_.toInt).getOrElse(1)
  val data: String = opt("data")
  val work: String = opt("work")

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  val spark: SparkSession = Session.create("perfbench", work)
  val sessionS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  val tracer = new Tracer
  val census = new Census

  val report = new Report

  /** Times `f`; returns (wall seconds, result). */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** CPU seconds used so far by the whole process (driver, executor
    * threads, GC, JIT). Local mode runs every Spark thread in this process,
    * so the difference across an op is its CPU cost. On a guest kernel
    * with paravirtual steal accounting, time the hypervisor takes from a
    * vCPU is left out of task run time, so this figure does not grow with
    * steal; see [[stealS]].
    */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Seconds stolen from all of this machine's vCPUs since boot (the steal
    * column of /proc/stat, USER_HZ = 100), or 0 where there is none.
    * Printed beside the timings as context; no metric is corrected by it.
    */
  def stealS: Double =
    try {
      val cpu = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      cpu.trim.split("\\s+")(8).toDouble / 100
    } catch { case _: Exception => 0.0 }

  private var opSeq = 0
  private val opWindows = mutable.ArrayBuffer[(String, Long, Long, Double)]()

  /** One traced op: a root span plus a census tag. The listener is
    * attached for the op only, so untraced ops do not pay its callbacks;
    * after the timed part it drains (every event of the op is counted)
    * and is removed again.
    */
  def tracedOp[T](name: String)(f: => T): (Double, T) = {
    opSeq += 1
    val tag = s"$name#$opSeq"
    val sc = spark.sparkContext
    sc.addSparkListener(census)
    try {
      val ms0 = System.currentTimeMillis()
      val (s, r) = timed(tracer.op(name)(Census.tagged(sc, tag)(f)))
      opWindows += ((tag, ms0, System.currentTimeMillis(), s))
      census.drain(sc)
      (s, r)
    } finally sc.removeSparkListener(census)
  }

  /** In a traced run, whether op `i` runs traced: ABBA order (untraced,
    * traced, traced, untraced, ...) so a warming JVM favours neither side
    * of `trace.overhead_ratio`.
    */
  def tracedTurn(i: Int): Boolean = traced && (i % 4 == 1 || i % 4 == 2)

  /** Runs `step(i)` until this process's share of `seconds` has passed
    * and at least `minOps` ran. A step that throws counts as a failed op.
    */
  def loop(minOps: Int)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds / share) {
      report.attempted += 1
      try step(i)
      catch {
        case e: Exception =>
          report.failed += 1
          report.check(s"op $i completes", ok = false, e.toString.take(300))
      }
      i += 1
    }
  }

  /** Per-op Spark census of the traced ops named `prefix`, the `spark.*`
    * per-layer metrics: medians over those ops.
    */
  def sparkCensus(prefix: String): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    val per = opWindows.filter(_._1.startsWith(prefix + "#")).toSeq.map { case (tag, lo, hi, wall) =>
      val t = census.opTotals(tag)
      val jobMs = Census.covered(census.jobIntervals(tag), lo, hi)
      Seq(t.jobs.toDouble, t.stages.toDouble, t.tasks.toDouble, t.runMs / 1e3, t.cpuNs / 1e9,
        t.gcMs / 1e3, t.shuffleWrite.toDouble, t.shuffleRead.toDouble,
        math.max(0.0, (hi - lo - jobMs) / 1e3), t.runMs / 1e3 / (wall * cores))
    }
    val names = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
      "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
      "spark.shuffle_read_bytes", "spark.driver_nonjob_s", "spark.executor_busy_share")
    if (per.nonEmpty) names.zipWithIndex.foreach { case (name, i) =>
      report.layer(name, Stats.median(per.map(_(i))))
    }
  }

  /** Median jobs per traced op with this prefix. */
  def jobsPerOp(prefix: String): Double = {
    val ws = opWindows.filter(_._1.startsWith(prefix + "#"))
    if (ws.isEmpty) 0.0 else Stats.median(ws.map(w => census.opTotals(w._1).jobs.toDouble).toSeq)
  }

  /** Jobs of traced `prefix` ops that started within [lo, hi] (epoch ms). */
  def jobsIn(prefix: String, lo: Long, hi: Long): Int = {
    opWindows.filter(_._1.startsWith(prefix + "#")).map { w =>
      census.jobIntervals(w._1).count { case (s, _) => s >= lo && s <= hi }
    }.sum
  }

  /** Median of `reps` timings of `f` (not an op: set-up and layer probes). */
  def medianOf(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map(_ => timed(f)._1))

  def finish(): Int = {
    if (traced) {
      val file = java.nio.file.Paths.get(opt("traces"), s"$workload-$seed.jsonl")
      tracer.writeJsonLines(file)
      println(f"trace: ${tracer.all.size} spans written to $file")
      println("trace: self time by span (count, total s, self s)")
      tracer.selfTimes.foreach { case (n, c, tot, self) =>
        println(f"  $n%-34s $c%5d $tot%10.4f $self%10.4f")
      }
    }
    report.write(workload, traced, java.nio.file.Paths.get(opt("result")))
  }
}

/** Metric values, named samples, correctness checks and op counts. The
  * metric names and units here are the ones BENCHMARK.json declares.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  private val e2e = mutable.Map[String, Seq[Double]]()
  private val layers = mutable.Map[String, Double]()
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  private val samples = mutable.ArrayBuffer[(String, String, Seq[Double])]()

  /** An end-to-end metric: the median of `xs`, which the result also
    * carries so that the samples of several processes can be merged.
    */
  def endToEnd(name: String, xs: Seq[Double]): Unit = {
    require(Report.EndToEnd.exists(_._1 == name), s"undeclared metric $name")
    e2e(name) = xs
  }
  def layer(name: String, v: Double): Unit = {
    require(Report.PerLayer.exists(_._1 == name), s"undeclared metric $name")
    layers(name) = v
  }
  def check(name: String, ok: Boolean, detail: String = ""): Unit = checks += ((name, ok, detail))
  def named(name: String, unit: String, xs: Seq[Double]): Unit = samples += ((name, unit, xs))

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)

  /** Prints the human-readable table and writes the result object;
    * returns the process exit code. A per-layer metric of a layer this
    * workload bypasses reads 0.
    */
  def write(workload: String, traced: Boolean, file: java.nio.file.Path): Int = {
    println(s"workload $workload (${if (traced) "traced" else "untraced"} run)")
    samples.foreach { case (n, u, xs) =>
      val tail = Stats.tail(xs).map { case (p, v) => f"  p$p%s=$v%.4f" }.getOrElse("  tail=n/a")
      val all = if (xs.size <= 12) xs.map(x => f"$x%.3f").mkString("  [", " ", "]") else ""
      println(f"  $n%-22s median=${Stats.median(xs)}%.4f $u%-7s$tail  n=${xs.size}$all")
    }
    val failedRatio = if (attempted == 0) 0.0 else failed.toDouble / attempted
    println(f"  failed_ratio           $failedRatio%.4f failed/attempted ops ($failed of $attempted)")
    checks.foreach { case (n, ok, d) =>
      println(s"  check ${if (ok) "PASS" else "FAIL"} $n${if (d.nonEmpty) s" ($d)" else ""}")
    }
    val (declared, values) =
      if (traced) (Report.PerLayer, layers) else (Report.EndToEnd, e2e.map { case (n, xs) => n -> Stats.median(xs) })
    val metrics = declared.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
    metrics.foreach { case (n, v, u) => println(f"  metric $n%-28s $v%.6g $u") }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val samplesJson = if (traced) "" else e2e.map { case (n, xs) =>
      s""""$n": ${xs.map(Stats.num).mkString("[", ", ", "]")}"""
    }.mkString(""", "samples": {""", ", ", "}")
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}$samplesJson}"""
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.write(file, json.getBytes("UTF-8"))
    if (correct && failed == 0) 0 else 1
  }
}

object Report {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_cpu_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "lloyds.prelude_s" -> "s", "lloyds.iter_s" -> "s", "lloyds.tail_s" -> "s",
    "lloyds.iterations" -> "count", "lloyds.jobs_per_fit" -> "count",
    "lloyds.jobs_per_iter" -> "count",
    "assignment.assign_s" -> "s", "update.gradmean_s" -> "s", "update.median_s" -> "s",
    "centerinit.init_s" -> "s",
    "kernels.divergence_ns" -> "ns", "kernels.grad_ns" -> "ns", "io.scan_s" -> "s",
    "transform.build_ms" -> "ms", "transform.plan_ms" -> "ms", "transform.exec_ms" -> "ms",
    "transform.jobs_per_batch" -> "count",
    "store.ingest_into_s" -> "s", "store.read_s" -> "s", "store.probe_s" -> "s",
    "store.jobs_per_ingest" -> "count", "store.jobs_per_probe" -> "count",
    "store.bytes_written" -> "bytes", "store.files" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.driver_nonjob_s" -> "s", "spark.executor_busy_share" -> "ratio",
    "baseline.local_fit_s" -> "s", "yardstick.mllib_fit_s" -> "s",
    "trace.overhead_ratio" -> "ratio",
    "setup.session_s" -> "s", "setup.prepare_s" -> "s", "setup.warmup_s" -> "s",
    "input.bytes" -> "bytes")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    * above it (nearest-rank), or None when there are fewer than 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(String, Double)] = {
    val s = xs.sorted
    val n = s.size
    Seq("99.9" -> 0.999, "99" -> 0.99, "95" -> 0.95, "90" -> 0.90, "75" -> 0.75, "50" -> 0.50)
      .find { case (_, q) => n - math.ceil(q * n).toInt >= 10 }
      .map { case (name, q) => name -> s(math.max(0, math.ceil(q * n).toInt - 1)) }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
