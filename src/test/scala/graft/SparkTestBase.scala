package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Turn

object SparkTestBase {
  /** The suites' one shared session: fixed at 4 cores so results and
    * plans do not depend on the machine. */
  val cores = 4
  lazy val spark: SparkSession = LocalSpark.session(cores)
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

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
