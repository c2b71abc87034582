package perfbench

import org.apache.spark.sql.SparkSession

/** One local[4] session per process. Scratch files (shuffle spill, the
  * warehouse) stay under `scratchDir`, inside the benchmark's build tree.
  */
object Session {
  def create(app: String, scratchDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(app)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$scratchDir/local")
      .config("spark.sql.warehouse.dir", s"$scratchDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
