package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic transcript generator at arbitrary scale —
  * `spark.range`-based (no input files, no driver-side data), so a
  * 10^9-turn bench table is just a bigger range with the same seed.
  * Shares the text grammar with [[Transcripts]] so every pipeline stage
  * sees the same signal distribution as the oracle-checked queries.
  *
  * Skew: a configurable fraction of "hot" conversations get
  * `hotFactor`x the turns, modelling looping agents — the skew case the
  * routing stage must survive at scale.
  */
object TranscriptGen {

  val EventTypes = Seq("signup", "view", "click", "purchase", "error")

  def synthetic(
      spark: SparkSession,
      nConvs: Long,
      turnsPerConv: Int,
      hotConvs: Int = 0,
      hotFactor: Int = 100
  ): DataFrame = {
    val nPart = spark.sparkContext.defaultParallelism
    val base = spark
      .range(0L, nConvs * turnsPerConv, 1L, nPart)
      .select(
        (col("id") / turnsPerConv).cast("long").as("conv"),
        (col("id") % turnsPerConv).cast("int").as("turn_idx"),
        col("id")
      )
    val hot =
      if (hotConvs <= 0) None
      else Some(
        spark
          .range(0L, hotConvs.toLong * turnsPerConv * hotFactor, 1L, nPart)
          .select(
            (lit(nConvs) + col("id") / (turnsPerConv * hotFactor)).cast("long").as("conv"),
            (col("id") % (turnsPerConv * hotFactor)).cast("int").as("turn_idx"),
            (col("id") + nConvs * turnsPerConv).as("id")
          )
      )
    val ids = hot.map(base.unionByName(_)).getOrElse(base)

    val k = pmod(xxhash64(col("id"), lit(1)), lit(100)).cast("int")
    val evIdx = pmod(xxhash64(col("id"), lit(2)), lit(EventTypes.size)).cast("int")
    val eventType = EventTypes.zipWithIndex.foldLeft(lit(EventTypes.head)) {
      case (acc, (ev, i)) => when(evIdx === i, ev).otherwise(acc)
    }
    val withCols = ids
      .withColumn("k", k)
      .withColumn("event_type", eventType)
      .withColumn("svc", Transcripts.svcOf(col("event_type")))
      .withColumn("status", Transcripts.statusOf(col("event_type"), col("k")))
    // conv starts spread over ~30 days; 1-60s gaps between turns
    val baseEpoch = lit(1704067200000000L) // 2024-01-01 UTC in micros
    withCols
      .select(
        concat(lit("g"), col("conv").cast("string")).as("conv_id"),
        col("turn_idx"),
        Transcripts.roleOf(col("event_type")).as("role"),
        Transcripts.textOf(col("svc"), col("event_type"), col("k"), col("status")).as("text"),
        col("svc").as("tool"),
        timestamp_micros(
          baseEpoch + pmod(col("conv") * 977L, lit(2592000L)) * 1000000L +
            col("turn_idx").cast("long") * (lit(1L) + col("k") % 60) * 1000000L
        ).as("ts")
      )
  }
}
