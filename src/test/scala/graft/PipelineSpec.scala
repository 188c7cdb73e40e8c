package graft

import java.nio.file.{Files, Paths}
import graft.model.PipelineConfig
import graft.sources.Transcripts
import scala.jdk.CollectionConverters._

/** End-to-end fan-out, lineage manifest, observation metrics, resume. */
class PipelineSpec extends SparkTestBase {

  private val cfg = PipelineConfig.default

  test("sample_traces=false: pure passthrough, no trace counters, metrics still captured") {
    import org.apache.spark.sql.functions._
    val turns = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    val out = Pipeline.run(spark, turns, cfg.copy(sampleTraces = false))
    assert(out.routedTurns.count() == turns.count()) // every turn forwards
    assert(out.routedTurns.select("sink").distinct().collect().map(_.getString(0)).toSeq == Seq("forward"))
    // ALL four counters increment inside the sampler (sampler.go:115,
    // 241, 254), which passthrough bypasses — every counter stays empty
    assert(out.traceCounts.count() == 0 && out.sampledTraceCounts.count() == 0)
    assert(out.spanCounts.count() == 0 && out.sampledSpanCounts.count() == 0)
    // the metric path is unaffected (processor.go captures before sampling)
    assert(out.latencyHistogram.count() > 0)
  }

  test("degenerate rows (null text/tool/role, empty batch) survive the full pipeline") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val degenerate = Seq(
      ("c1", 0, null.asInstanceOf[String], null.asInstanceOf[String], null.asInstanceOf[String]),
      ("c1", 1, "user", null.asInstanceOf[String], "web"),
      ("c2", 0, null.asInstanceOf[String], "call=web.m1 url=https://h/a status=200 dur=5ms", "web"),
      ("c3", 5, "tool", "", "")
    ).toDF("conv_id", "turn_idx", "role", "text", "tool")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val out = Pipeline.run(spark, degenerate, cfg)
    // no crash anywhere in the DAG; every conversation still accounted for
    assert(out.routing.count() <= 3)
    out.routedTurns.count()
    out.spanCounts.count()
    out.latencyHistogram.count()
    // and an empty batch produces empty outputs, not an error
    val empty = Pipeline.run(spark, degenerate.filter(lit(false)), cfg)
    assert(empty.routing.count() == 0 && empty.routedTurns.count() == 0)
    assert(empty.latencyHistogram.count() == 0)
  }

  test("fan-out writes sinks + metrics with per-file lineage and observed counters") {
    val dir = Files.createTempDirectory("graft_pipe").toString
    val turns = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    val out = Pipeline.run(spark, turns, cfg)
    val counts = Pipeline.writeSinks(out, dir)

    // sinks partition the kept conversations' turns
    val keptTurns = out.routedTurns.count()
    assert(counts("sink_errors") + counts("sink_slow") + counts("sink_normal") == keptTurns)
    assert(counts("metrics") > 0)

    val manifest = Files.readAllLines(Paths.get(dir, "_lineage.jsonl")).asScala
    assert(manifest.count(_.contains("\"sink\"")) == 3) // sinks + metrics + observed
    val obsLine = manifest.find(_.contains("_observed_metrics")).get
    assert(obsLine.contains("turns_enriched"))
    assert("\"turns_enriched\":\\s*(\\d+)".r.findFirstMatchIn(obsLine).map(_.group(1).toLong).contains(turns.count()))

    // per-turn text equality: sink rows reproduce input text exactly
    val sinkRows = spark.read.parquet(s"$dir/sinks/sink=errors")
    val joined = sinkRows.as("s")
      .join(turns.as("t"), Seq("conv_id", "turn_idx"))
      .filter(org.apache.spark.sql.functions.col("s.text") =!= org.apache.spark.sql.functions.col("t.text"))
    assert(joined.count() == 0)
  }

  test("resume skips sinks already in the lineage manifest") {
    val dir = Files.createTempDirectory("graft_resume").toString
    val turns = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    val first = Pipeline.writeSinks(Pipeline.run(spark, turns, cfg), dir)
    val manifestBefore = Files.readAllLines(Paths.get(dir, "_lineage.jsonl")).asScala.toList
    // resume: nothing re-written, same counts returned from the manifest
    val second = Pipeline.writeSinks(Pipeline.run(spark, turns, cfg), dir, resume = true)
    assert(second == first)
    val manifestAfter = Files.readAllLines(Paths.get(dir, "_lineage.jsonl")).asScala.toList
    assert(manifestAfter == manifestBefore) // no new lineage lines
  }
}
