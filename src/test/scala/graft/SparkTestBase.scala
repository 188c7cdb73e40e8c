package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Turn

object SparkTestBase {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The smallest generated test scale (TESTDATA.md). */
  val smallSfDir: String = "/root/testdata/sf0.001"

  def ts(secs: Double): java.sql.Timestamp =
    new java.sql.Timestamp((secs * 1000).toLong)

  /** Build a turn; latency signal goes into the text as dur=...ms. */
  def turn(
      conv: String,
      idx: Int,
      role: String,
      tool: String,
      durMs: Long,
      status: Int = 200,
      url: String = "https://host/api/call",
      tSecs: Double = 0.0
  ): Turn =
    Turn(
      conv_id = conv,
      turn_idx = idx,
      role = role,
      text = s"call=$tool.m1 url=$url status=$status dur=${durMs}ms",
      tool = tool,
      ts = ts(tSecs)
    )

  def turnsDf(turns: Seq[Turn]): DataFrame = {
    val s = spark
    import s.implicits._
    s.createDataset(turns).toDF()
  }
}
