package perfbench

import java.util.Random

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded input generator, run as its own process before the measuring
  * one and without a Spark session: each output partition (one parquet
  * file) is written by its own thread from its own `java.util.Random`, in
  * the layout Spark reads as `array<double>` (a d-wide Catalyst `randn`
  * projection would outgrow the 64 KB method limit at d = 256 and run
  * interpreted).
  *
  *   Gen <workload> <seed> <outDir> <tiny 0|1>
  *
  * Every mixture is well separated and every explicit initial center is a
  * draw from its own component, so no cluster empties during a fit.
  */
object Gen {

  private val Parts = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, out, tinyS) = args
    val seed = seedS.toLong
    val tiny = tinyS == "1"
    val p = Workloads.lloyd(workload, tiny)
    lloyd(p, seed, out)
    p.store.foreach(dedup(_, seed, s"$out/store"))
  }

  private def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 31)) * 0x94D049BB133111EBL
    z ^ (z >>> 29)
  }

  /** A column is (name, "int" | "long" | "vector"). */
  private def schema(cols: (String, String)*): MessageType =
    MessageTypeParser.parseMessageType(cols.map {
      case (n, "int") => s"optional int32 $n;"
      case (n, "long") => s"optional int64 $n;"
      case (n, _) => s"optional group $n (LIST) { repeated group list { required double element; } }"
    }.mkString("message spark_schema { ", " ", " }"))

  private def row(s: MessageType, values: Any*): Group = {
    val g = new SimpleGroup(s)
    values.zipWithIndex.foreach {
      case (v: Int, i) => g.add(i, v)
      case (v: Long, i) => g.add(i, v)
      case (v: Array[Double], i) =>
        val list = g.addGroup(i)
        v.foreach(x => list.addGroup("list").append("element", x))
      case (v, _) => throw new IllegalArgumentException(s"unsupported value $v")
    }
    g
  }

  /** Rows [0, n) over `Parts` files under `dir`, one thread and one
    * `Random` per file; `make(rng, i)` builds row i.
    */
  private def write(dir: String, s: MessageType, n: Int, seed: Long)(
      make: (Random, Int) => Group): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val parts = math.max(1, math.min(Parts, n))
    val files = (0 until parts).map { p =>
      Future {
        val rng = new Random(mix(seed, p + 1L))
        val w = ExampleParquetWriter
          .builder(new LocalOutputFile(java.nio.file.Paths.get(dir, f"part-$p%05d.parquet")))
          .withType(s)
          .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
          .build()
        try {
          var i = (n.toLong * p / parts).toInt
          val hi = (n.toLong * (p + 1) / parts).toInt
          while (i < hi) { w.write(make(rng, i)); i += 1 }
        } finally w.close()
      }
    }
    Await.result(Future.sequence(files), Duration.Inf)
  }

  private def writeCenters(dir: String, cs: Array[Array[Double]]): Unit = {
    val s = schema("cluster" -> "int", "center" -> "vector")
    write(dir, s, cs.length, 0L)((_, i) => row(s, i, cs(i)))
  }

  private def lloyd(p: Workloads.Lloyd, seed: Long, out: String): Unit = {
    val rng = new Random(mix(seed, 0L))
    val kl = p.divergence == "kl"
    // SE: means spread over [-20, 20]^d with unit noise; KL: positive
    // means in [0.1, 2.0] with +-20% multiplicative noise
    val means = Array.fill(p.k, p.d)(
      if (kl) 0.1 + 1.9 * rng.nextDouble() else 40.0 * rng.nextDouble() - 20.0)
    def draw(r: Random, m: Array[Double]): Array[Double] =
      if (kl) m.map(v => v * (0.8 + 0.4 * r.nextDouble()))
      else m.map(v => v + r.nextGaussian())
    val s = schema("features" -> "vector")
    write(s"$out/data", s, p.n, seed)((r, i) => row(s, draw(r, means(i % p.k))))
    // an eighth-size sample of the same mixture for the warm-up fit
    write(s"$out/warm", s, math.max(p.k, p.n / 8), mix(seed, 3L))((r, i) =>
      row(s, draw(r, means(i % p.k))))
    writeCenters(s"$out/init", means.map(m => draw(rng, m)))
  }

  /** Near-duplicate corpus: ids with id % 5 == 4 (id % 5 >= 3 in ingest
    * batches) copy a smaller-id original at cosine ~0.998; originals sit
    * at cosine ~0.7 from their topic and ~0.5 from each other, far below
    * epsilon. Originals draw from a per-document `Random` so a copy can
    * be made anywhere.
    */
  private def dedup(p: Workloads.Dedup, seed: Long, out: String): Unit = {
    val k = graft.ops.SemDedup.balancedK(p.corpus.toLong)
    val rng = new Random(mix(seed, 0L))
    val topics = Array.fill(k)(unit(Array.fill(p.d)(rng.nextGaussian())))
    def original(o: Long): Array[Double] = {
      val r = new Random(mix(seed, 1000003L + o))
      val t = topics(r.nextInt(topics.length))
      val noise = unit(Array.fill(p.d)(r.nextGaussian()))
      unit(Array.tabulate(p.d)(j => 0.7 * t(j) + 0.714 * noise(j)))
    }
    def dupOf(r: Random, o: Long): Array[Double] =
      unit(original(o).map(v => v + 0.008 * r.nextGaussian()))
    // a smaller-id original below `below` (ids with id % 5 < 3 are originals)
    def earlierOriginal(r: Random, below: Long): Long =
      5L * r.nextInt((below / 5).toInt) + r.nextInt(3)
    val s = schema("id" -> "long", "v" -> "vector")
    val n = p.corpus.toLong
    write(s"$out/corpus", s, p.corpus, seed) { (r, i) =>
      val id = i.toLong
      row(s, id, if (id % 5 == 4 && id >= 5) dupOf(r, earlierOriginal(r, id)) else original(id))
    }
    // one directory per ingest batch: batch b holds ids n + b * batch, ...
    (0 until p.ingestBatches).foreach { b =>
      write(s"$out/ingest/batch=$b", s, p.batch, mix(seed, 7L + b)) { (r, i) =>
        val id = n + b.toLong * p.batch + i
        row(s, id, if (id % 5 >= 3) dupOf(r, earlierOriginal(r, id)) else original(id))
      }
    }
    // probe docs: ids never ingested; half copy corpus originals
    write(s"$out/probe", s, p.batch, mix(seed, 5L)) { (r, i) =>
      val id = 1000000000L + i
      row(s, id, if (i % 2 == 0) dupOf(r, earlierOriginal(r, n)) else original(id))
    }
    writeCenters(s"$out/centers", topics)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / nrm)
  }
}
