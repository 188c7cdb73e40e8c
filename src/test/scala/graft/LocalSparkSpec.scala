package graft

/** Every session graft builds comes from LocalSpark.session, the suites'
  * shared session included. */
class LocalSparkSpec extends SparkTestBase {

  test("LocalSpark.session: local[cores], a shuffle partition per core, UTC, AQE and skew join on") {
    val cores = SparkTestBase.cores
    assert(spark.sparkContext.master == s"local[$cores]")
    assert(spark.sparkContext.defaultParallelism == cores)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("the suites' session is built through LocalSpark.session") {
    assert(spark.sparkContext.appName == "graft")
    assert(LocalSpark.session(SparkTestBase.cores) eq spark)
  }
}
