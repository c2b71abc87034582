package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-owned job/stage/task census. Every job started while an op
  * runs carries the op's id as a local property, so attribution does not
  * depend on timing windows; per-op totals are read once the listener has
  * drained (see [[drain]]).
  */
final class Census extends SparkListener {
  import Census._

  private val jobs = mutable.Map[Int, JobRec]()
  private val stageOp = mutable.Map[Int, String]()
  private val ops = mutable.Map[String, OpTotals]()
  private var fencesSeen = 0

  private def totals(op: String): OpTotals = ops.getOrElseUpdate(op, new OpTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).orNull
    if (op != null) {
      jobs(e.jobId) = JobRec(op, e.time, -1L)
      e.stageIds.foreach(s => stageOp(s) = op)
      totals(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobs(e.jobId) = j.copy(end = e.time)
      if (j.op == FenceOp) fencesSeen += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => totals(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val t = totals(op)
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  /** Runs one tagged job and waits until its end event arrives: the
    * listener queue is FIFO, so every earlier event has been seen.
    */
  def drain(sc: SparkContext): Unit = {
    val target = synchronized(fencesSeen) + 1
    tagged(sc, FenceOp)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.currentTimeMillis() + 20000
    while (synchronized(fencesSeen) < target && System.currentTimeMillis() < deadline) Thread.sleep(2)
    require(synchronized(fencesSeen) >= target, "listener did not drain within 20 s")
  }

  def opTotals(op: String): OpTotals = synchronized(ops.getOrElse(op, new OpTotals))

  /** (start, end) epoch-ms intervals of the op's jobs. */
  def jobIntervals(op: String): Seq[(Long, Long)] = synchronized {
    jobs.values.filter(_.op == op).map(j => (j.start, j.end)).toSeq
  }
}

object Census {
  val OpKey = "perfbench.op"
  private val FenceOp = "__fence"

  final case class JobRec(op: String, start: Long, end: Long)

  final class OpTotals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L
  }

  def tagged[T](sc: SparkContext, op: String)(f: => T): T = {
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try f finally sc.setLocalProperty(OpKey, prev)
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, cur)
        if (b > s) { total += b - s; cur = b }
      }
    total
  }
}

/** In-memory span recorder: name, start, end, parent; all spans of one op
  * share the op id. Written out once, at the end of the run.
  */
final class Tracer {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var opId = 0

  def op[T](name: String)(f: => T): T = {
    opId += 1
    span(name)(f)
  }

  def span[T](name: String)(f: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(0)
    val s = Span(nextId, opId, name, parent, System.nanoTime(), 0L)
    nextId += 1
    stack = s :: stack
    try f
    finally {
      stack = stack.tail
      spans += s.copy(endNs = System.nanoTime())
    }
  }

  /** A span reconstructed from timestamps taken elsewhere (the training
    * event sink), parented to the innermost open span.
    */
  def record(name: String, startNs: Long, endNs: Long): Unit = {
    val parent = stack.headOption.map(_.id).getOrElse(0)
    spans += Span(nextId, opId, name, parent, startNs, endNs)
    nextId += 1
  }

  def all: Seq[Span] = spans.toSeq

  /** name -> (count, total seconds, self seconds): self time is the span's
    * duration minus the part of it its child spans cover.
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq
        (s.endNs - s.startNs) - Census.covered(kids, s.startNs, s.endNs)
      }.sum
      (name, ss.size, total / 1e9, self / 1e9)
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, op: Int, name: String, parent: Int, startNs: Long, endNs: Long)
}

/** Training-event sink that timestamps every event it receives. */
final class TimingSink extends graft.clustering.SummarySink {
  import TimingSink.Stamped
  @transient private val buf = mutable.ArrayBuffer[Stamped]()
  def emit(e: graft.clustering.TrainingEvent): Unit =
    synchronized { buf += Stamped(System.nanoTime(), System.currentTimeMillis(), e) }
  def events: Seq[Stamped] = synchronized(buf.toSeq)
}

object TimingSink {
  final case class Stamped(ns: Long, epochMs: Long, event: graft.clustering.TrainingEvent)
}
