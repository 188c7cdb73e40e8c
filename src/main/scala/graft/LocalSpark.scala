package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a session: every main and the test suites
  * call [[session]], so the local master, shuffle width, time zone and
  * log level are decided here once. AQE and its skew-join split are
  * Spark's defaults and stay on.
  */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM may use (under taskset,
    * the pinned set). */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with one shuffle partition per core, UTC, no UI. */
  def session(cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
