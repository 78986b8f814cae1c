package graft

import org.apache.spark.sql.SparkSession

/** The one local session that Bench times, Verify checks and GenScale
  * writes with, so the oracle gate sees the physical plan the bench
  * prices. The tuning is what we'd also start from on a real cluster:
  * shuffle partitions sized to cores (not the 200 default), AQE on
  * (runtime coalescing + skew-join splitting), auto broadcast for the
  * small dims. Cores come from SPARK_GRAFT_CPUS, else every core the
  * JVM sees.
  */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
