package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.Pipeline
import graft.model.PipelineConfig

/** Structured-streaming re-expression of the reference's runtime shape:
  * the collector consumes span batches continuously and flushes retained
  * traces every `TraceFlushFrequencySeconds` (reference:
  * assertsprocessor/sampler.go:215-276, factory.go:45 default 30s).
  *
  * The batch pipeline IS the per-flush computation, so the streaming
  * variant is `foreachBatch` on a 30s trigger running the identical
  * logical plan per micro-batch — routing/top-K state is per-flush-window
  * in the reference (queues are drained and cleared on every flush,
  * service_queue.go:30-37), which maps exactly to per-micro-batch batch
  * semantics, not to cross-batch state.
  *
  * Two pieces of state are genuinely cross-batch: the periodic "normal"
  * sampler (one healthy trace per (entity, request) per N minutes,
  * periodic_sampler.go:13-31) — [[normalSamplerStream]] — and the
  * metric-path cardinality cap's TTL'd request-context cache
  * (metric_helper.go:91-141) — [[metricCapStream]]. Both are
  * `flatMapGroupsWithState` with processing-time timeouts bounding state.
  */
object StreamingPipeline {

  /** Continuous variant: run the full batch pipeline per micro-batch and
    * fan out to the per-sink directories.
    *
    * Config + dims are RE-READ inside foreachBatch on every micro-batch —
    * the streaming analogue of the reference's one-minute config/threshold
    * refresh tickers (config_refresh.go:28-84, thresholds.go:57-122):
    * editing the YAML at `configPath` or the dim parquet under `dimsDir`
    * between batches changes the next batch's routing without a restart.
    * Static `cfg` is the fallback when no path is given.
    */
  def start(
      spark: SparkSession,
      turnsStream: DataFrame,
      outDir: String,
      cfg: PipelineConfig = PipelineConfig.default,
      flushSeconds: Int = 30,
      configPath: Option[String] = None,
      dimsDir: Option[String] = None,
      metricsPerBatch: Boolean = true
  ): StreamingQuery =
    turnsStream.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.ProcessingTime(s"$flushSeconds seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val batchCfg = configPath
          .map(p => graft.ConfigLoader.fromYaml(
            java.nio.file.Files.readString(java.nio.file.Paths.get(p))).pipeline)
          .getOrElse(cfg)
        val batchDims = dimsDir
          .map(d => graft.sources.Dims.load(spark, d))
          .getOrElse(graft.sources.Dims.default)
        val out = Pipeline.run(spark, batch, batchCfg, dims = batchDims)
        Pipeline.writeSinks(out, s"$outDir/batch_$batchId", writeMetrics = metricsPerBatch)
        // per-batch plans die with the batch — drop every cache the batch
        // registered (the pipeline's and the operators', see CacheBook) so
        // a long-running stream's cache memory is bounded by one batch,
        // not the stream's lifetime
        graft.CacheBook.release()
      }
      .start()

  /** The two live queries of the production wiring ([[startWithStatefulCap]]). */
  final case class PipelineQueries(sinks: StreamingQuery, metrics: StreamingQuery) {
    def processAllAvailable(): Unit = { sinks.processAllAvailable(); metrics.processAllAvailable() }
    def stop(): Unit = {
      try sinks.stop()
      finally metrics.stop()
    }
  }

  /** Production wiring with the CROSS-BATCH stateful metric cap: the
    * per-flush routing/sink fan-out keeps its per-micro-batch semantics
    * (queues drain and clear on every flush, service_queue.go:30-37 — so
    * foreachBatch re-running the batch pipeline is exact), while the
    * METRIC path runs as one continuous stateful DAG — enrichment ->
    * [[metricCapStream]] (the TTL'd request-context cache,
    * metric_helper.go:91-141, its state persisted across micro-batches in
    * the streaming checkpoint) -> watermarked windowed RED rollup ->
    * appended parquet under `outDir/metrics`. A long-running stream's
    * metric cardinality is therefore governed by the TTL cache ACROSS
    * flushes — a context admitted in one micro-batch stays admitted in
    * the next, an over-cap newcomer is refused even across a flush
    * boundary, and an idle context is evicted then re-admitted — instead
    * of the cap resetting every 30 s.
    *
    * The metric DAG's cap/window parameters are fixed at start (a
    * continuous plan cannot hot-swap them); the routing path still
    * hot-refreshes config/dims per batch via `configPath`/`dimsDir`.
    */
  def startWithStatefulCap(
      spark: SparkSession,
      turnsStream: DataFrame,
      outDir: String,
      cfg: PipelineConfig = PipelineConfig.default,
      flushSeconds: Int = 30,
      configPath: Option[String] = None,
      dimsDir: Option[String] = None,
      windowMinutes: Int = 5,
      latenessMinutes: Int = 10,
      stateTtl: Boolean = true
  ): PipelineQueries = {
    val sinksQ =
      start(spark, turnsStream, outDir, cfg, flushSeconds, configPath, dimsDir,
        metricsPerBatch = false)
    val dims = dimsDir
      .map(d => graft.sources.Dims.load(spark, d))
      .getOrElse(graft.sources.Dims.default)
    val enrichedStream = graft.operators.Enrich.enriched(turnsStream, spark, cfg, dims)
    val metricsQ = streamingCappedRedRollup(
      spark, enrichedStream, cfg, windowMinutes, latenessMinutes, stateTtl)
      .writeStream
      .format("parquet")
      .option("path", s"$outDir/metrics")
      .option("checkpointLocation", s"$outDir/_metrics_checkpoint")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(s"$flushSeconds seconds"))
      .start()
    PipelineQueries(sinksQ, metricsQ)
  }

  /** Event-time windowed RED rollup as a PROPER streaming aggregate:
    * watermark + tumbling window + partial-aggregable sums, the
    * Structured Streaming shape of [[graft.operators.Aggregates.redRollup]]
    * (the reference accumulates the same counters continuously,
    * metrics.go:138-184). Late turns beyond `latenessMinutes` are dropped
    * and their windows finalized — state is bounded by (windows in the
    * watermark horizon) x (service, request_context) cardinality, which
    * the metric-path cap bounds in turn. Output mode Append emits each
    * window once, on watermark passage — the at-most-once-per-flush
    * semantics of the reference's scrape counters.
    *
    * Input: a stream with the parsed/enriched columns (ts, service,
    * request_context, is_error, dur_ms, latency_secs, span_class).
    */
  def streamingRedRollup(
      enrichedStream: DataFrame,
      windowMinutes: Int = 5,
      latenessMinutes: Int = 10
  ): DataFrame =
    enrichedStream
      .filter(col("span_class") =!= "internal")
      .withColumn("ts_event", col("ts").cast("timestamp"))
      .withWatermark("ts_event", s"$latenessMinutes minutes")
      .groupBy(
        window(col("ts_event"), s"$windowMinutes minutes").as("win"),
        col("service"),
        col("request_context")
      )
      .agg(
        count(lit(1)).as("requests"),
        sum(when(col("is_error"), 1L).otherwise(0L)).as("errors"),
        (sum(col("dur_ms")).cast("double") / 1000.0).as("duration_sum_secs"),
        max(col("latency_secs")).as("duration_max_secs")
      )
      .select(
        col("win.start").as("win_start"), col("service"), col("request_context"),
        col("requests"), col("errors"), col("duration_sum_secs"), col("duration_max_secs")
      )

  /** Cross-batch periodic sampling state for one (entity, request) key. */
  final case class SamplerKey(entity_key: String, request_context: String)
  final case class SamplerCandidate(
      entity_key: String,
      request_context: String,
      conv_id: String,
      ts_micros: Long
  )
  final case class SamplerState(lastSampleMicros: Long)
  final case class SampledConv(
      entity_key: String,
      request_context: String,
      conv_id: String,
      ts_micros: Long,
      sample_type: String
  )

  /** The reference's periodicSamplingState.sample() as a stateful stream:
    * for each key, emit the first candidate whose event time is >= one
    * sampling period after the last emitted sample (periodic_sampler.go:
    * 13-31, double-checked-locking semantics collapse to per-key
    * sequential state here). State idles out after `stateTtlMinutes`
    * without traffic (the RequestContextCacheTTL analogue).
    */
  def sampleGroup(
      samplingPeriodMinutes: Int,
      stateTtl: Boolean
  )(
      key: SamplerKey,
      rows: Iterator[SamplerCandidate],
      state: GroupState[SamplerState]
  ): Iterator[SampledConv] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val periodMicros = samplingPeriodMinutes.toLong * 60L * 1000000L
      var last = state.getOption.map(_.lastSampleMicros).getOrElse(Long.MinValue)
      val out = rows.toSeq.sortBy(c => (c.ts_micros, c.conv_id)).flatMap { c =>
        if (last == Long.MinValue || c.ts_micros >= last + periodMicros) {
          last = c.ts_micros
          Some(SampledConv(c.entity_key, c.request_context, c.conv_id, c.ts_micros, "normal"))
        } else None
      }
      state.update(SamplerState(last))
      if (stateTtl) state.setTimeoutDuration(s"${samplingPeriodMinutes * 12} minutes")
      out.iterator
    }
  }

  /** Wire the stateful sampler over a stream of healthy conv candidates.
    * `stateTtl = true` evicts idle keys via processing-time timeout (the
    * RequestContextCacheTTL analogue); tests run with `false` so
    * `processAllAvailable` terminates deterministically. */
  def normalSamplerStream(
      spark: SparkSession,
      candidates: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default,
      stateTtl: Boolean = true
  ): org.apache.spark.sql.Dataset[SampledConv] = {
    import spark.implicits._
    val timeout =
      if (stateTtl) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    candidates
      .as[SamplerCandidate]
      .groupByKey(c => SamplerKey(c.entity_key, c.request_context))
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(
        sampleGroup(cfg.normalSamplingFrequencyMinutes, stateTtl)
      )
  }

  /** One span/context observation headed for the metric path; the
    * measure fields ride along so an admitted span can feed a windowed
    * rollup directly (defaults keep decision-only call sites terse). */
  final case class CapCandidate(
      service_key: String,
      request_context: String,
      ts_micros: Long,
      service: String = "",
      dur_ms: Long = 0L,
      is_error: Boolean = false,
      latency_secs: Double = 0.0
  )

  /** Per-service cap cache: admitted context -> last-seen event time. */
  final case class CapState(entries: Map[String, Long])

  final case class CapDecision(
      service_key: String,
      request_context: String,
      ts_micros: Long,
      admitted: Boolean,
      service: String = "",
      dur_ms: Long = 0L,
      is_error: Boolean = false,
      latency_secs: Double = 0.0
  )

  /** The reference's TTL'd request-context cache as per-key sequential
    * state (metric_helper.go:91-141): a context is admitted to the metric
    * path iff it is already cached OR the service's cache holds fewer
    * than `limit` live entries; hits refresh the entry's TTL (ttlcache
    * Get touch semantics) and entries idle for a full TTL are evicted,
    * freeing slots for later contexts — the exact eviction-then-admission
    * of metric_helper_test.go:142-179. Rows are processed in event-time
    * order within each micro-batch; idle KEYS (whole services) are
    * dropped via processing-time timeout.
    */
  def capGroup(
      limit: Int,
      ttlMinutes: Int,
      stateTtl: Boolean
  )(
      key: String,
      rows: Iterator[CapCandidate],
      state: GroupState[CapState]
  ): Iterator[CapDecision] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val ttlMicros = ttlMinutes.toLong * 60L * 1000000L
      var entries = state.getOption.map(_.entries).getOrElse(Map.empty[String, Long])
      val out = rows.toSeq.sortBy(c => (c.ts_micros, c.request_context)).map { c =>
        entries = entries.filter { case (_, last) => last + ttlMicros > c.ts_micros }
        val admitted = entries.contains(c.request_context) || entries.size < limit
        if (admitted) entries = entries.updated(c.request_context, c.ts_micros)
        CapDecision(key, c.request_context, c.ts_micros, admitted,
          c.service, c.dur_ms, c.is_error, c.latency_secs)
      }
      state.update(CapState(entries))
      if (stateTtl) state.setTimeoutDuration(s"${ttlMinutes * 2} minutes")
      out.iterator
    }
  }

  /** Wire the stateful metric-cardinality cap over a stream of
    * (service_key, request_context, ts) observations — the streaming G6
    * mapping: state is bounded by limit entries per live service key. */
  def metricCapStream(
      spark: SparkSession,
      spans: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default,
      stateTtl: Boolean = true
  ): org.apache.spark.sql.Dataset[CapDecision] = {
    import spark.implicits._
    val timeout =
      if (stateTtl) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    spans
      .as[CapCandidate]
      .groupByKey(_.service_key)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(
        capGroup(cfg.limitPerService, cfg.requestContextCacheTTLMinutes, stateTtl)
      )
  }

  final case class DedupCandidate(doc_id: Long, fingerprint: String)
  final case class DedupSeen(canonical_doc_id: Long)
  final case class DedupDecision(
      doc_id: Long,
      fingerprint: String,
      canonical_doc_id: Long,
      is_duplicate: Boolean)

  /** Streaming exact dedup at ingest: admit the first document per
    * fingerprint, mark every later arrival a duplicate of the stored
    * canonical — the continuous form of [[graft.operators.Dedup.exact]]
    * for a corpus that grows by micro-batches (the state store holds one
    * tiny (fingerprint -> canonical id) entry per distinct document, the
    * same bound as the batch hash-aggregate's key space; at 100 TB this
    * rides the RocksDB state store).
    *
    * Within a micro-batch the group's rows are folded in ascending doc_id
    * order, so the canonical pick is DETERMINISTIC (min doc_id, the batch
    * operator's rule) regardless of partitioning/arrival order — batch
    * and stream declarations agree bit for bit when fed the same data
    * (proven in StreamingSpec), and a duplicate arriving many batches
    * later is still suppressed by state.
    */
  def dedupGroup(
      fingerprint: String,
      rows: Iterator[DedupCandidate],
      state: GroupState[DedupSeen]
  ): Iterator[DedupDecision] = {
    // presence tracked with Option, not a sentinel value — a legitimate
    // doc_id equal to Long.MinValue must not read as "no canonical yet".
    // Note the per-group materialization: rows.toSeq.sortBy holds one
    // fingerprint group in executor memory — bounded by the largest
    // duplicate group within a micro-batch (cross-batch copies ride
    // state, not the buffer).
    var canonical: Option[Long] = state.getOption.map(_.canonical_doc_id)
    val hasState = state.exists
    val out = rows.toSeq.sortBy(_.doc_id).map { c =>
      val first = canonical.isEmpty
      if (first) canonical = Some(c.doc_id)
      DedupDecision(c.doc_id, fingerprint, canonical.get, !first)
    }
    canonical.foreach { canon =>
      if (!hasState || out.nonEmpty) state.update(DedupSeen(canon))
    }
    out.iterator
  }

  /** Wire [[dedupGroup]] over a document stream carrying (doc_id, text).
    * The fingerprint is the batch operator's md5 over whitespace-
    * normalized lowercase text, computed as a projection on the stream. */
  def streamingExactDedup(
      spark: SparkSession,
      docsStream: DataFrame
  ): org.apache.spark.sql.Dataset[DedupDecision] = {
    import spark.implicits._
    docsStream
      .select(
        col("doc_id").cast("long").as("doc_id"),
        graft.operators.TextAnalysis.fingerprint(col("text")).as("fingerprint")
      )
      .as[DedupCandidate]
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(dedupGroup)
  }

  /** The G5+G6 streaming composition: the windowed RED rollup fed ONLY
    * by spans the TTL'd cardinality cache admits — the exact runtime
    * shape of the reference's metric path (captureMetrics gated by the
    * per-service cache, then the latency histogram records). Stateful
    * cap (Append) followed by a watermarked windowed aggregation; state
    * is bounded by (limit entries per live service) + (windows inside
    * the watermark horizon) x admitted-context cardinality — the cap
    * bounds the aggregation state in turn.
    *
    * Input: an enriched stream carrying (service_key, request_context,
    * ts, service, dur_ms, is_error, latency_secs, span_class).
    */
  def streamingCappedRedRollup(
      spark: SparkSession,
      enrichedStream: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default,
      windowMinutes: Int = 5,
      latenessMinutes: Int = 10,
      stateTtl: Boolean = true
  ): DataFrame = {
    val candidates = enrichedStream
      .filter(col("span_class") =!= "internal")
      .select(
        col("service_key"), col("request_context"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_micros"),
        col("service"), col("dur_ms"), col("is_error"), col("latency_secs")
      )
    metricCapStream(spark, candidates, cfg, stateTtl)
      .filter(_.admitted)
      .toDF()
      .withColumn("ts_event", expr("timestamp_micros(ts_micros)"))
      .withWatermark("ts_event", s"$latenessMinutes minutes")
      .groupBy(
        window(col("ts_event"), s"$windowMinutes minutes").as("win"),
        col("service"),
        col("request_context")
      )
      .agg(
        count(lit(1)).as("requests"),
        sum(when(col("is_error"), 1L).otherwise(0L)).as("errors"),
        (sum(col("dur_ms")).cast("double") / 1000.0).as("duration_sum_secs"),
        max(col("latency_secs")).as("duration_max_secs")
      )
      .select(
        col("win.start").as("win_start"), col("service"), col("request_context"),
        col("requests"), col("errors"), col("duration_sum_secs"), col("duration_max_secs")
      )
  }
}
