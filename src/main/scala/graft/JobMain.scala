package graft

import org.apache.spark.sql.SparkSession
import graft.model.PipelineConfig
import graft.sources.{TranscriptGen, Transcripts}

/** The spark-submit job driver (reference analogue: the collector factory
  * startup path, factory.go:49-138): parse args, load + validate the YAML
  * config (fail-fast), run the batch pipeline, fan out sinks with lineage,
  * print the per-sink counts and observed stage metrics as one JSON line.
  *
  * Usage:
  *   runMain graft.JobMain --input events:/root/testdata/sf0.01 --out /tmp/job
  *   runMain graft.JobMain --input gen:100000x5 --out /tmp/job \
  *     [--config cfg.yaml] [--dims dimdir] [--resume] [--cores N]
  */
object JobMain {

  private val boolFlags = Set("--resume")

  /** Scan-parse: standalone boolean flags anywhere, --key value pairs
    * elsewhere (sliding-pair parsing mispaired everything after a
    * mid-position `--resume`). */
  @annotation.tailrec
  private def parseArgs(rest: List[String], acc: Map[String, String]): Map[String, String] =
    rest match {
      case Nil => acc
      case f :: tail if boolFlags(f) => parseArgs(tail, acc + (f -> "true"))
      case k :: v :: tail if k.startsWith("--") => parseArgs(tail, acc + (k -> v))
      case other => sys.error(s"unparseable args: ${other.mkString(" ")}")
    }

  /** The whole job against a provided session — separated from [[main]]
    * so tests can drive the full CLI path (args -> config -> dims ->
    * pipeline -> sinks -> JSON) without owning session lifecycle.
    * Returns the result JSON line. */
  def run(args: Array[String], spark: SparkSession): String = {
    val opts = parseArgs(args.toList, Map.empty)
    val input = opts.getOrElse("--input", "events:/root/testdata/sf0.001")
    val outDir = opts.getOrElse("--out", sys.error("--out required"))
    val resume = opts.contains("--resume")

    val jobCfg: PipelineConfig = opts.get("--config") match {
      case Some(path) =>
        // fail-fast config validation happens here, before any Spark work
        ConfigLoader.fromYaml(java.nio.file.Files.readString(java.nio.file.Paths.get(path))).pipeline
      case None => PipelineConfig.default
    }

    val turns = input.split(":", 2) match {
      case Array("events", dir) => Transcripts.fromEvents(spark, dir)
      case Array("gen", spec) =>
        val Array(n, t) = spec.split("x")
        TranscriptGen.synthetic(spark, n.toLong, t.toInt)
      case other => sys.error(s"unknown --input ${other.mkString(":")}")
    }

    // loadable dimension tables (service/threshold parquet), built-in
    // constants as the fallback — the per-run REST dim fetch analogue
    val dims = opts.get("--dims")
      .map(d => graft.sources.Dims.load(spark, d))
      .getOrElse(graft.sources.Dims.default)

    val out = Pipeline.run(spark, turns, jobCfg, dims = dims)
    // materialize the cached intermediate once: completes the observation
    // even when --resume skips every write, and primes the fan-out
    out.enriched.count()
    val counts = Pipeline.writeSinks(out, outDir, resume = resume)
    val obs = scala.jdk.CollectionConverters.MapHasAsScala(out.observation.getAsJava).asScala
    val countsJson = counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val obsJson = obs.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    out.unpersistAll()
    s"""{"job":"graft","out":"$outDir","resume":$resume,"sink_counts":$countsJson,"observed":$obsJson}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList, Map.empty)
    val spark = LocalSpark.session(opts.get("--cores").fold(LocalSpark.envCores)(_.toInt))
    println(run(args, spark))
    spark.stop()
  }
}
