package perfbench

import scala.collection.mutable

import graft.ops.SemDedupIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The `ops.SemDedupIndex` layer, probed in a traced run: build and
  * `write` a store over a seeded near-duplicate corpus, then rounds of one
  * `ingestInto` of a new batch (the write path) and one `read` + `probe`
  * of a batch (the read path, with full content-digest validation).
  */
final class StoreProbe(ctx: Ctx, p: Workloads.Dedup, data: String) {
  private val spark = ctx.spark
  private val report = ctx.report
  private val store = s"${ctx.work}/store"
  private val probeDf: DataFrame = spark.read.parquet(s"$data/probe")

  private def build(): Long = {
    val corpus = spark.read.parquet(s"$data/corpus")
    val centers = spark.read.parquet(s"$data/centers").orderBy("cluster").collect()
      .map(_.getSeq[Double](1).toArray)
    val (verdicts, index) = SemDedupIndex.build(corpus, "id", "v", centers, p.epsilon)
    SemDedupIndex.write(index, store)
    try index.keepers.count()
    finally { index.keepers.unpersist(); verdicts.unpersist() }
  }

  /** ingestInto of batch `b`; returns its keep=true verdict count. */
  private def ingest(b: Int): Long = {
    val verdicts = SemDedupIndex.ingestInto(spark,
      store, spark.read.parquet(s"$data/ingest/batch=$b"), "id", "v")
    try verdicts.where(col("keep")).count() finally verdicts.unpersist()
  }

  private def readIndex(): SemDedupIndex = SemDedupIndex.read(spark, store)

  private def probe(index: SemDedupIndex): Long = {
    val verdicts = index.probe(probeDf, "id", "v")
    try verdicts.count() finally verdicts.unpersist()
  }

  /** Bytes of the store's files modified at or after `sinceMs`, and the
    * store's file count.
    */
  private def storeFiles(sinceMs: Long): (Long, Long) = {
    val files = org.apache.commons.io.FileUtils.listFiles(new java.io.File(store), null, true)
    var bytes = 0L
    files.forEach(f => if (f.lastModified() >= sinceMs - 5) bytes += f.length())
    (bytes, files.size.toLong)
  }

  def run(): Unit = {
    val t = ctx.tracer
    val initialKeepers = t.op("store.build+write")(build())
    // the first round warms the JVM and is not reported
    var keeps = ingest(0)
    probe(readIndex())
    val ingestS = mutable.ArrayBuffer[Double]()
    val readS = mutable.ArrayBuffer[Double]()
    val probeS = mutable.ArrayBuffer[Double]()
    val written = mutable.ArrayBuffer[Double]()
    var probedOk = true
    (1 until p.ingestBatches).foreach { b =>
      val ms0 = System.currentTimeMillis()
      val (sI, k) = ctx.tracedOp("ingest")(t.span("store.ingest_into")(ingest(b)))
      written += storeFiles(ms0)._1.toDouble
      ctx.tracedOp("probe") {
        val (sr, index) = ctx.timed(t.span("store.read")(readIndex()))
        val (sp, n) = ctx.timed(t.span("store.probe")(probe(index)))
        readS += sr; probeS += sp
        probedOk &&= n == p.batch
      }
      keeps += k
      ingestS += sI
    }

    // the store reads back with full digest validation and holds exactly
    // the kept docs
    val finalKeepers = scala.util.Try(readIndex().keepers.count())
    report.check("final SemDedupIndex.read validates", finalKeepers.isSuccess,
      finalKeepers.failed.map(_.toString.take(300)).getOrElse(""))
    report.check("keepers = initial keepers + keep=true verdicts",
      finalKeepers.toOption.contains(initialKeepers + keeps),
      s"${finalKeepers.getOrElse(-1L)} on disk vs $initialKeepers + $keeps")
    report.check(s"every probe returns one verdict per doc (${p.batch})", probedOk)

    report.named("ingest_batch_s", "s", ingestS.toSeq)
    report.named("probe_batch_s", "s", readS.zip(probeS).map { case (a, b) => a + b }.toSeq)
    report.named("ingest_docs_per_s", "docs/s", ingestS.map(p.batch / _).toSeq)
    report.layer("store.ingest_into_s", Stats.median(ingestS.toSeq))
    report.layer("store.read_s", Stats.median(readS.toSeq))
    report.layer("store.probe_s", Stats.median(probeS.toSeq))
    report.layer("store.jobs_per_ingest", ctx.jobsPerOp("ingest"))
    report.layer("store.jobs_per_probe", ctx.jobsPerOp("probe"))
    report.layer("store.bytes_written", Stats.median(written.toSeq))
    report.layer("store.files", storeFiles(Long.MaxValue)._2.toDouble)
  }
}
