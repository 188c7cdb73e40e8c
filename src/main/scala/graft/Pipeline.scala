package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.PipelineConfig
import graft.operators.{Aggregates, Enrich, Route}

/** End-to-end parse -> enrich -> route -> aggregate pipeline over a
  * transcript table — the batch re-expression of the reference's
  * per-batch consume path + periodic flush
  * (reference: assertsprocessor/processor.go:58-76, sampler.go:215-276).
  *
  * One logical plan per output; the enriched intermediate is shared,
  * pruned to the columns routing + aggregates read, and cached (on a
  * cluster: checkpointed to a staging table so the fan-out writes are
  * exactly-once and resumable). The three shared relations (enriched,
  * routing, raw rollup) go through [[CacheBook]]: building the outputs
  * runs no job, the first sink write fills them, and one
  * `CacheBook.release()` (or [[PipelineOutputs.unpersistAll]]) drops them.
  *
  * Observability: the enriched scan carries an [[Observation]] with
  * per-stage row/error/slow counters (the reference's prometheus counters
  * on the ingest path, metrics.go:138-184) at zero extra passes; every
  * sink write appends a lineage record to `_lineage.jsonl` — row counts
  * observed ON the write plan itself (never a post-write rescan) plus the
  * written files' names/sizes from fs metadata — and
  * `writeSinks(resume = true)` skips sinks already recorded —
  * mid-pipeline resumability.
  */
final case class PipelineOutputs(
    enriched: DataFrame,
    routing: DataFrame,
    routedTurns: DataFrame,
    /** the CACHED uncapped rollup every metric table derives from */
    fineRollupRaw: DataFrame,
    /** the cardinality-capped rollup (a cheap derivation of the raw) */
    fineRollup: DataFrame,
    traceCounts: DataFrame,
    sampledTraceCounts: DataFrame,
    spanCounts: DataFrame,
    sampledSpanCounts: DataFrame,
    redRollup: DataFrame,
    latencyHistogram: DataFrame,
    observation: Observation
) {
  def unpersistAll(): Unit = {
    enriched.unpersist()
    routing.unpersist()
    fineRollupRaw.unpersist()
  }
}

object Pipeline {

  def run(
      spark: SparkSession,
      turns: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default,
      dims: graft.sources.Dims.DimTables = graft.sources.Dims.default
  ): PipelineOutputs = {
    val obs = Observation()
    val enriched = CacheBook.cached(Enrich.enriched(turns, spark, cfg, dims)
      // prune to the columns routing + aggregates read before caching:
      // the wide payload (text, url, ...) is re-read from the source only
      // by the final sink join, keeping the cached/shuffled rows narrow
      .select(
        "conv_id", "turn_idx", "service", "namespace", "env", "site",
        "entity_key", "service_key", "span_class", "request_context", "latency_secs",
        "dur_ms", "is_error", "error_routable", "is_slow_span", "threshold", "ts"
      )
      .observe(
        obs,
        count(lit(1)).as("turns_enriched"),
        sum(when(col("is_error"), 1L).otherwise(0L)).as("error_spans"),
        sum(when(col("is_slow_span"), 1L).otherwise(0L)).as("slow_spans"),
        approx_count_distinct(col("conv_id")).as("approx_convs")
      ))
    val routing = CacheBook.cached(Route.convRouting(enriched, cfg))
    // ONE pass over the spans feeds every metric table (rollup tree).
    // The UNCAPPED raw rollup is the cached node: the cardinality-cap dim
    // and every derived table then read the tiny aggregate from cache, so
    // the span relation is aggregated exactly once per run.
    val rawRollup = CacheBook.cached(Aggregates.fineRollupRaw(enriched, cfg))
    val rollup = Aggregates.capRollup(rawRollup, cfg)
    // sample_traces = false: the sampler is bypassed — every turn
    // forwards with sink "forward" and the trace/sampled counters stay
    // at zero; metric capture is unaffected (processor.go:70-74; the
    // counters are incremented inside sampleTraces, sampler.go:115)
    val routedTurns =
      if (cfg.sampleTraces) Route.routedTurns(turns, routing)
      else turns
        .withColumn("sink", lit("forward"))
        .withColumn("sample_type", lit(null).cast("string"))
        .withColumn("entity_key", lit(null).cast("string"))
        .withColumn("request_context", lit(null).cast("string"))
        .withColumn("latency", lit(null).cast("double"))
    def ifSampling(df: DataFrame): DataFrame =
      if (cfg.sampleTraces) df else df.filter(lit(false))
    PipelineOutputs(
      enriched = enriched,
      routing = routing,
      routedTurns = routedTurns,
      fineRollupRaw = rawRollup,
      fineRollup = rollup,
      traceCounts = ifSampling(Aggregates.traceCounts(routing)),
      sampledTraceCounts = ifSampling(Aggregates.sampledTraceCounts(routing)),
      // NOT derived from the rollup: the reference caps the metric
      // (histogram) path but counts EVERY consumed span (metrics.go
      // incrTotalCounts at sampler.go:115), so span counts read the
      // uncapped enriched relation directly. ALL four counters live
      // inside the sampler (sampler.go:115,241,254), which passthrough
      // mode bypasses entirely — hence the ifSampling gate on each.
      spanCounts = ifSampling(Aggregates.spanCounts(enriched)),
      sampledSpanCounts = ifSampling(Aggregates.sampledSpanCounts(enriched, routing)),
      redRollup = Aggregates.redRollupFrom(rollup),
      latencyHistogram = Aggregates.latencyHistogramFrom(rollup),
      observation = obs
    )
  }

  import Verify.jstr

  /** Written data files of a sink, from filesystem METADATA only (name +
    * byte size) — the per-file half of the lineage record. Zero data
    * reads: at 100 TB a post-write `spark.read.parquet(path)` rescan is a
    * second full pass over everything just written; row counts instead
    * ride an [[Observation]] on the write plan itself (the task-commit
    * statistics shape — Iceberg snapshot summaries on a real cluster). */
  private def listDataFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("_") && !name.startsWith("."))
        buf += (st.getPath.toString -> st.getLen)
    }
    buf.sortBy(_._1).toSeq
  }

  /** Fan-out sink writes from one cached intermediate: errors / slow /
    * normal routed turns + metric tables, each an ordered parquet write
    * (Iceberg `writeTo(...).append()` on a real cluster). Appends one
    * lineage JSON line per sink; with `resume = true`, sinks already in
    * the manifest are skipped (idempotent re-run after a mid-job failure).
    * Returns per-sink row counts.
    */
  def writeSinks(
      out: PipelineOutputs,
      outDir: String,
      resume: Boolean = false,
      writeMetrics: Boolean = true
  ): Map[String, Long] = {
    Files.createDirectories(Paths.get(outDir))
    val manifest = Paths.get(outDir, "_lineage.jsonl")
    // resume map: sink name -> its recorded count map. A legacy line
    // missing the "counts" object is treated as not-done (the write is
    // idempotent overwrite, so re-running it is safe and re-records).
    val done: Map[String, Map[String, Long]] =
      if (resume && Files.exists(manifest))
        scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(manifest)).asScala
          .flatMap { line =>
            for {
              s <- "\"sink\":\\s*\"([^\"]+)\"".r.findFirstMatchIn(line).map(_.group(1))
              c <- "\"counts\":\\s*\\{([^}]*)\\}".r.findFirstMatchIn(line).map(_.group(1))
            } yield s -> "\"([^\"]+)\":\\s*(\\d+)".r
              .findAllMatchIn(c).map(m => m.group(1) -> m.group(2).toLong).toMap
          }.toMap
      else Map.empty

    val spark = out.routedTurns.sparkSession
    val wroteAny = new java.util.concurrent.atomic.AtomicBoolean(false)
    val manifestLock = new Object

    /** Execute one sink write whose row counts ride an Observation on the
      * write plan (zero post-write data reads); append the lineage line
      * (observed counts + file names/bytes from fs metadata only). */
    def writeTarget(
        name: String,
        df: DataFrame,
        counters: Seq[(String, Column)],
        write: (DataFrame, String) => Unit
    ): Map[String, Long] =
      done.getOrElse(name, {
        wroteAny.set(true)
        val path = s"$outDir/$name"
        val obs = Observation()
        val obsExprs = count(lit(1)).as("rows") +: counters.map { case (n, c) => c.as(n) }
        val observed = df.observe(obs, obsExprs.head, obsExprs.tail: _*)
        write(observed, path)
        val metrics = obs.getAsJava
        val counts = scala.jdk.CollectionConverters.MapHasAsScala(metrics).asScala.toMap
          .map { case (k, v) => k -> v.asInstanceOf[Number].longValue() }
        val files = listDataFiles(spark, path)
        val filesJson = files
          .map { case (f, b) => s"{${jstr("file")}: ${jstr(f)}, ${jstr("bytes")}: $b}" }
          .mkString("[", ",", "]")
        val countsJson = counts.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ",", "}")
        val line =
          s"""{"sink": ${jstr(name)}, "rows": ${counts("rows")}, "n_files": ${files.size}, "counts": $countsJson, "files": $filesJson}"""
        manifestLock.synchronized {
          Files.writeString(
            manifest,
            line + "\n",
            StandardOpenOption.CREATE, StandardOpenOption.APPEND
          )
        }
        counts
      })

    // The two sink families are INDEPENDENT actions over the shared cached
    // intermediates, so submit them concurrently (a thread per action —
    // the standard multi-sink pattern): the scheduler interleaves their
    // stages and driver-side planning/commit of one overlaps executor work
    // of the other, shrinking the job's serial (non-scaling) term.
    // Cached partitions are computed once regardless — the block manager
    // serializes concurrent fills per partition.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // routed turns: ONE partitioned write fans out all three sinks
    // (sink=errors/slow/normal directories). Hash-repartition by
    // (sink, conv_id) + sortWithinPartitions keeps every conversation's
    // turns contiguous and in stable (conv_id, turn_idx) order per file
    // without a global range sort. Per-sink row counts ride the write
    // plan as observed conditional sums — no post-write rescan.
    def writeSinksTarget(): Map[String, Long] = writeTarget(
      "sinks",
      out.routedTurns,
      Seq("errors", "slow", "normal").map(s =>
        // coalesce: sum over an empty batch observes null, not 0
        s"sink_$s" -> coalesce(sum(when(col("sink") === s, 1L).otherwise(0L)), lit(0L))),
      (df, path) =>
        df
          .repartition(col("sink"), col("conv_id"))
          .sortWithinPartitions("conv_id", "turn_idx")
          .write.mode("overwrite").partitionBy("sink").parquet(path)
    )
    // all metric tables in one long-format write (one action, one sink
    // table — the Prometheus-endpoint shape)
    def writeMetricsTarget(): Map[String, Long] = writeTarget(
      "metrics",
      Aggregates
        .prometheusTable(
          out.traceCounts, out.sampledTraceCounts, out.spanCounts,
          out.redRollup, out.latencyHistogram, out.sampledSpanCounts),
      Nil,
      (df, path) => df.write.mode("overwrite").parquet(path)
    )
    val (sinkCounts, metricsCounts) =
      if (!writeMetrics) (writeSinksTarget(), Map.empty[String, Long])
      else {
        val sinksF = Future(writeSinksTarget())
        val metricsF = Future(writeMetricsTarget())
        // await BOTH before rethrowing either failure: a detached write
        // must never outlive this call (the caller may start cleaning up
        // the output directory on error)
        val sinksR = scala.util.Try(Await.result(sinksF, Duration.Inf))
        val metricsR = scala.util.Try(Await.result(metricsF, Duration.Inf))
        val m = metricsR.get
        (sinksR.get, m)
      }

    // uniform return shape: "metrics" is always present (0 when metrics
    // were skipped), so callers may read counts("metrics") unconditionally
    val counts =
      Seq("errors", "slow", "normal").map(s => s"sink_$s" -> sinkCounts.getOrElse(s"sink_$s", 0L)) :+
        ("metrics" -> (if (writeMetrics) metricsCounts.getOrElse("rows", 0L) else 0L))

    // stage metrics observed on the enriched pass — only read when a write
    // actually executed the plan (Observation.get blocks otherwise)
    if (wroteAny.get()) {
      val obsJson = out.observation.getAsJava
      val metrics = scala.jdk.CollectionConverters.MapHasAsScala(obsJson).asScala
        .map { case (k, v) => s"${jstr(k)}: $v" }
        .mkString("{", ",", "}")
      Files.writeString(
        manifest,
        s"""{"sink": "_observed_metrics", "rows": 0, "metrics": $metrics}""" + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND
      )
    }
    counts.toMap
  }
}
