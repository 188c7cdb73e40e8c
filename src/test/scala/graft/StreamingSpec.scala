package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{SampledConv, SamplerCandidate}

/** Streaming re-expression: stateful periodic sampler + foreachBatch
  * pipeline (reference: periodic_sampler.go:13-31, sampler.go:215-276).
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def minutes(m: Long): Long = m * 60L * 1000000L

  test("stateful normal sampler emits one sample per key per period across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SamplerCandidate]
    val sampled = StreamingPipeline.normalSamplerStream(spark, input.toDF(), stateTtl = false)
    val q = sampled.writeStream
      .format("memory")
      .queryName("sampled_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: two candidates same key inside one period -> first only
      input.addData(
        SamplerCandidate("e1", "/r", "c1", minutes(0)),
        SamplerCandidate("e1", "/r", "c2", minutes(1)),
        SamplerCandidate("e2", "/r", "c3", minutes(0))
      )
      q.processAllAvailable()
      // batch 2: state persists -> c4 still inside e1's period, c5 past it
      input.addData(
        SamplerCandidate("e1", "/r", "c4", minutes(4)),
        SamplerCandidate("e1", "/r", "c5", minutes(6))
      )
      q.processAllAvailable()
      val got = spark.table("sampled_out").as[SampledConv].collect()
        .map(s => s.conv_id).sorted.toSeq
      assert(got == Seq("c1", "c3", "c5"))
    } finally q.stop()
  }

  test("TTL'd metric cap: eviction frees a slot and a late context is admitted") {
    // mirrors metric_helper_test.go:142-179: with limit 2, contexts A and
    // B fill svc's cache and C is refused; after A and B idle past the
    // TTL, C IS admitted (eviction freed the slots)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingPipeline.CapCandidate]
    val cfg = graft.model.PipelineConfig.default
      .copy(limitPerService = 2, requestContextCacheTTLMinutes = 60)
    val decisions = StreamingPipeline.metricCapStream(spark, input.toDF(), cfg, stateTtl = false)
    val q = decisions.writeStream
      .format("memory").queryName("cap_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        StreamingPipeline.CapCandidate("svc", "/a", minutes(0)),
        StreamingPipeline.CapCandidate("svc", "/b", minutes(1)),
        StreamingPipeline.CapCandidate("svc", "/c", minutes(2)) // cache full -> refused
      )
      q.processAllAvailable()
      // /b stays warm at t=30 (hit refreshes its TTL); /a goes idle
      input.addData(StreamingPipeline.CapCandidate("svc", "/b", minutes(30)))
      q.processAllAvailable()
      // t=70: /a idle since t=0 -> evicted; /c admitted into the free slot.
      // /b (last seen t=30) is still live.
      input.addData(
        StreamingPipeline.CapCandidate("svc", "/c", minutes(70)),
        StreamingPipeline.CapCandidate("svc", "/b", minutes(71))
      )
      q.processAllAvailable()
      val got = spark.table("cap_out").as[StreamingPipeline.CapDecision].collect()
        .map(d => (d.request_context, d.ts_micros / minutes(1), d.admitted)).toSet
      assert(got == Set(
        ("/a", 0L, true), ("/b", 1L, true), ("/c", 2L, false),
        ("/b", 30L, true),
        ("/c", 70L, true), ("/b", 71L, true)
      ))
    } finally q.stop()
  }

  test("foreachBatch pipeline: each micro-batch routes and writes sinks like the batch job") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[graft.model.Turn]
    val q = StreamingPipeline.start(spark, input.toDF(), dir, flushSeconds = 1)
    try {
      input.addData(
        turn("c1", 0, "user", "api-server", durMs = 700, tSecs = 10), // slow
        turn("c2", 0, "user", "api-server", durMs = 100, status = 503, tSecs = 20) // error
      )
      q.processAllAvailable()
    } finally q.stop()
    val errors = spark.read.parquet(s"$dir/batch_0/sinks/sink=errors")
    val slow = spark.read.parquet(s"$dir/batch_0/sinks/sink=slow")
    assert(errors.select("conv_id").collect().map(_.getString(0)).toSeq == Seq("c2"))
    assert(slow.select("conv_id").collect().map(_.getString(0)).toSeq == Seq("c1"))
  }

  test("foreachBatch pipeline: every micro-batch releases the caches it took") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_cache").toString
    val input = MemoryStream[graft.model.Turn]
    val before = spark.sparkContext.getPersistentRDDs.size
    val q = StreamingPipeline.start(spark, input.toDF(), dir, flushSeconds = 1)
    val resident =
      try (0 until 5).map { b =>
        input.addData(
          turn(s"s$b", 0, "user", "api-server", durMs = 700, tSecs = 10 + b), // slow
          turn(s"e$b", 0, "user", "api-server", durMs = 100, status = 503, tSecs = 20 + b) // error
        )
        q.processAllAvailable()
        spark.sparkContext.getPersistentRDDs.size
      }
      finally q.stop()
    assert(resident == Seq.fill(5)(before))
  }

  test("watermarked windowed RED rollup: windows finalize on watermark; late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[graft.model.Turn]
    val enrichedStream = graft.operators.Parse.parsed(
      graft.operators.Enrich.withServiceDim(input.toDF(), spark))
      .withColumn("is_error", col("error_type").isNotNull)
    val rollup = StreamingPipeline.streamingRedRollup(
      enrichedStream, windowMinutes = 5, latenessMinutes = 10)
    val q = rollup.writeStream
      .format("memory").queryName("red_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .start()
    try {
      // batch 1: two turns in the [0,5) window for web
      input.addData(
        turn("c1", 1, "user", "web", durMs = 100, tSecs = 60),
        turn("c2", 1, "user", "web", durMs = 300, tSecs = 120))
      q.processAllAvailable()
      // nothing emitted yet — watermark has not passed the window end
      assert(spark.table("red_out").count() == 0)
      // batch 2: event time jumps far ahead -> watermark passes [0,5)
      input.addData(turn("c3", 1, "user", "web", durMs = 50, tSecs = 3600))
      q.processAllAvailable()
      // batch 3: a LATE turn for the already-finalized [0,5) window
      input.addData(turn("c9", 1, "user", "web", durMs = 999, tSecs = 30))
      q.processAllAvailable()
      val rows = spark.table("red_out")
        .select("win_start", "service", "requests", "errors", "duration_sum_secs")
        .collect()
      assert(rows.length == 1) // only the finalized [0,5) window, once
      val r = rows.head
      assert(r.getAs[Long]("requests") == 2) // late c9 dropped
      assert(r.getAs[Long]("errors") == 0)
      assert(math.abs(r.getAs[Double]("duration_sum_secs") - 0.4) < 1e-9)
    } finally q.stop()
  }

  test("capped streaming RED rollup: over-cap context contributes no metric rows") {
    // G5+G6 composition: stateful TTL cap (Append) -> watermarked
    // windowed rollup. Limit 1: /a is admitted, /b refused — the
    // finalized window must contain ONLY /a's rows.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[graft.model.Turn]
    val cfg = graft.model.PipelineConfig.default
      .copy(limitPerService = 1, requestContextCacheTTLMinutes = 60)
    val enrichedStream = graft.operators.Enrich.enriched(input.toDF(), spark, cfg)
    val rollup = StreamingPipeline.streamingCappedRedRollup(
      spark, enrichedStream, cfg, windowMinutes = 5, latenessMinutes = 10, stateTtl = false)
    val q = rollup.writeStream
      .format("memory").queryName("capped_red_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        turn("c1", 1, "user", "web", durMs = 100, url = "https://h/a", tSecs = 0),
        turn("c2", 1, "user", "web", durMs = 300, url = "https://h/a", tSecs = 60),
        turn("c3", 1, "user", "web", durMs = 200, url = "https://h/b", tSecs = 120) // over cap
      )
      q.processAllAvailable()
      // event time jumps: watermark passes the [0,5) window; /a is idle
      // past the TTL by then, so the late /b IS admitted (eviction)
      input.addData(turn("c4", 1, "user", "web", durMs = 50, url = "https://h/b", tSecs = 7200))
      q.processAllAvailable()
      val rows = spark.table("capped_red_out")
        .select("request_context", "requests", "duration_sum_secs").collect()
      assert(rows.length == 1)
      assert(rows.head.getString(0) == "/a")
      assert(rows.head.getLong(1) == 2) // both /a turns, /b excluded
      assert(math.abs(rows.head.getDouble(2) - 0.4) < 1e-9)
    } finally q.stop()
  }

  test("production wiring: TTL cap governs metric cardinality ACROSS micro-batches") {
    // startWithStatefulCap: sinks flush per batch, but the metric path is
    // ONE continuous stateful DAG — with limit 1, the context admitted in
    // batch 1 must STAY admitted in batch 2 while a fresh over-cap
    // context is refused across the flush boundary, and after a full TTL
    // idle the slot frees and the late context IS admitted
    // (metric_helper.go:91-141; a per-batch cap would reset every flush)
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_statefulcap").toString
    val cfg = graft.model.PipelineConfig.default
      .copy(limitPerService = 1, requestContextCacheTTLMinutes = 60)
    val input = MemoryStream[graft.model.Turn]
    val qs = StreamingPipeline.startWithStatefulCap(
      spark, input.toDF(), dir, cfg, flushSeconds = 1, stateTtl = false)
    try {
      // batch 1: /a takes web's only slot
      input.addData(turn("c1", 1, "user", "web", durMs = 100, url = "https://h/a", tSecs = 0))
      qs.processAllAvailable()
      // batch 2 (NEW micro-batch): /b must be refused — /a's admission
      // survived the flush boundary; /a hits again (TTL refresh)
      input.addData(
        turn("c2", 1, "user", "web", durMs = 300, url = "https://h/b", tSecs = 60),
        turn("c3", 1, "user", "web", durMs = 100, url = "https://h/a", tSecs = 120))
      qs.processAllAvailable()
      // batch 3: 2h later /a has idled past the 60-min TTL -> evicted;
      // /b admitted into the freed slot; watermark passes the early window
      input.addData(turn("c4", 1, "user", "web", durMs = 50, url = "https://h/b", tSecs = 7260))
      qs.processAllAvailable()
      // batch 4: advance the watermark far enough to finalize /b's window
      input.addData(turn("c5", 1, "user", "web", durMs = 10, url = "https://h/a", tSecs = 14400))
      qs.processAllAvailable()
    } finally qs.stop()
    val metric = spark.read.parquet(s"$dir/metrics")
      .select("request_context", "requests").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // [0,5)min window: ONLY /a (c1 + c3), /b refused across the boundary;
    // [120,125)min window: /b admitted after /a's eviction
    assert(metric == Set(("/a", 2L), ("/b", 1L)))
    // the per-flush sink fan-out still ran per micro-batch, without a
    // per-batch metrics table (the stateful stream owns the metric path)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/batch_0/sinks")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/batch_0/metrics")))
  }

  test("sessionize streams: the batch declaration runs as a watermarked session aggregation") {
    // the IDENTICAL Sessions.sessionize declaration, with a watermark,
    // as a streaming Append aggregation: a session emits exactly once,
    // when the watermark passes its end; a late event for it is dropped
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user_id, event micros)
    val ev = input.toDF().toDF("user_id", "us")
      .select(col("user_id"), org.apache.spark.sql.functions.expr("timestamp_micros(us)").as("ts"))
    val sessions = graft.operators.Sessions
      .sessionize(ev, gapMinutes = 30, watermark = Some("10 minutes"))
    val q = sessions.writeStream
      .format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      def us(min: Long) = min * 60L * 1000000L
      input.addData((1L, us(0)), (1L, us(10)))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() == 0) // not finalized yet
      input.addData((1L, us(600))) // watermark jumps past [0, 40)
      q.processAllAvailable()
      input.addData((1L, us(20))) // LATE event for the finalized session
      q.processAllAvailable()
      val rows = spark.table("sessions_out")
        .select("user_id", "session_start_us", "session_end_us", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq((1L, us(0), us(40), 2L))) // once, late event dropped
    } finally q.stop()
  }

  test("config hot-refresh: a threshold change between micro-batches changes routing") {
    // mirrors config_refresh.go:28-84 listener semantics: the YAML is
    // re-read per batch, so the same turn routes 'normal' under a high
    // threshold and 'slow' after the file is overwritten
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh").toString
    val cfgPath = java.nio.file.Paths.get(dir, "cfg.yaml")
    def writeCfg(threshold: Double): Unit =
      java.nio.file.Files.writeString(
        cfgPath,
        s"""asserts_processor:
           |  sampling_latency_threshold_seconds: $threshold
           |""".stripMargin
      )
    writeCfg(10.0) // nothing is slow
    val input = MemoryStream[graft.model.Turn]
    val q = StreamingPipeline.start(
      spark, input.toDF(), dir, flushSeconds = 1, configPath = Some(cfgPath.toString))
    try {
      input.addData(turn("c1", 0, "user", "web", durMs = 700, tSecs = 10))
      q.processAllAvailable()
      writeCfg(0.2) // now 700ms is slow
      input.addData(turn("c2", 0, "user", "web", durMs = 700, tSecs = 7200))
      q.processAllAvailable()
    } finally q.stop()
    val b0 = spark.read.parquet(s"$dir/batch_0/sinks")
      .select("conv_id", "sample_type").collect().map(r => (r.getString(0), r.getString(1)))
    val b1 = spark.read.parquet(s"$dir/batch_1/sinks")
      .select("conv_id", "sample_type").collect().map(r => (r.getString(0), r.getString(1)))
    assert(b0.toSeq == Seq("c1" -> "normal"))
    assert(b1.toSeq == Seq("c2" -> "slow"))
  }

  test("dim hot-refresh: a threshold-dim change between micro-batches changes routing") {
    // the thresholds.go:57-122 sync analogue: dim parquet re-read per batch
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dimrefresh").toString
    val dimDir = s"$dir/dims"
    val entity = graft.sources.Dims.entityKey("dev", "frontend", "us-west-2", "web")
    def writeDims(threshold: Double): Unit = {
      import spark.implicits._
      spark.createDataset(Seq(graft.sources.Dims.ThresholdDim(entity, "", threshold)))
        .toDF().coalesce(1).write.mode("overwrite").parquet(s"$dimDir/thresholds.parquet")
    }
    writeDims(10.0)
    val input = MemoryStream[graft.model.Turn]
    val q = StreamingPipeline.start(
      spark, input.toDF(), dir, flushSeconds = 1, dimsDir = Some(dimDir))
    try {
      input.addData(turn("c1", 0, "user", "web", durMs = 700, tSecs = 10))
      q.processAllAvailable()
      writeDims(0.2)
      input.addData(turn("c2", 0, "user", "web", durMs = 700, tSecs = 7200))
      q.processAllAvailable()
    } finally q.stop()
    val b0 = spark.read.parquet(s"$dir/batch_0/sinks")
      .select("conv_id", "sample_type").collect().map(r => (r.getString(0), r.getString(1)))
    val b1 = spark.read.parquet(s"$dir/batch_1/sinks")
      .select("conv_id", "sample_type").collect().map(r => (r.getString(0), r.getString(1)))
    assert(b0.toSeq == Seq("c1" -> "normal"))
    assert(b1.toSeq == Seq("c2" -> "slow"))
  }

  test("streaming exact dedup matches the batch operator and suppresses dups across batches") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text")).cache()
    val input = MemoryStream[(Long, String)]
    val deduped = StreamingPipeline.streamingExactDedup(
      spark, input.toDF().toDF("doc_id", "text"))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: the whole corpus in one micro-batch
      input.addData(docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      q.processAllAvailable()
      // cross-batch: re-send the first doc's text under a fresh id ->
      // duplicate of the STORED canonical, decided purely from state
      val first = docs.orderBy("doc_id").head()
      input.addData((999999L, first.getString(1)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dedup_out")
      .select("doc_id", "canonical_doc_id", "is_duplicate").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val batch = graft.operators.Dedup.exact(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_doc_id"), r.getAs[Boolean]("is_duplicate"))).toMap
    // every corpus decision identical to the batch operator's
    assert(batch.forall { case (id, dec) => streamed(id) == dec })
    // the late re-ingest is flagged against the first doc's canonical group
    val canonFirst = batch(docs.orderBy("doc_id").head().getLong(0))._1
    assert(streamed(999999L) == (canonFirst, true))
    docs.unpersist()
  }
}
