package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's SparkSession: graft.Bench's execution profile (AQE
  * off, 8 shuffle partitions, uncompressed shuffle, no locality wait) on
  * `local[cpus]`, with every scratch directory inside the work dir. */
object Session {
  def build(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      .config("spark.shuffle.checksum.enabled", "false")
      .config("spark.locality.wait", "0ms")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The confs a run reports, so a drifted profile shows in its output. */
  def effectiveConfs(spark: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.io.compression.codec",
      "spark.shuffle.compress", "spark.shuffle.spill.compress",
      "spark.broadcast.compress", "spark.shuffle.checksum.enabled",
      "spark.locality.wait", "spark.sql.session.timeZone",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.codegen.wholeStage",
      "spark.default.parallelism")
      .map(k => k -> spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("<default>"))
      .toMap

  /** Write rows of a result as one ordered parquet file. */
  def writeOrdered(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)
}
