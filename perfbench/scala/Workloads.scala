package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.{CacheBook, Pipeline, PipelineOutputs, SparkEntry, StreamParity}
import graft.model.PipelineConfig
import graft.operators.{Aggregates, Enrich, Route}
import graft.sources.Transcripts

object Workloads {
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Result parquet for the oracle compare, written the way graft.Verify
    * writes it (one ordered file). */
  def dump(df: DataFrame, path: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  def dirMb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum / 1048576.0
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** Rows in `df`'s cache entry, from the cache builder's row counter (no
    * action); 0 if `df` is not cached or its cache is not filled yet. */
  def cachedRows(df: DataFrame): Double =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.rowCountStats.value.doubleValue
    }.getOrElse(0.0)

  /** Spark storage residency right now: (cached RDDs, MiB in memory+disk). */
  def cacheResidency(spark: SparkSession): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}

import Workloads._

/** `job_gen`: the JobMain path over the staged `events` — one unit is
  * `Transcripts.fromEvents -> Pipeline.run -> enriched.count ->
  * Pipeline.writeSinks` (lineage on, both sink families), exactly the body
  * of `graft.JobMain.run` with the default config and dims. The first
  * unit's cached tables are dumped for the oracle after its timing
  * stops. */
final class JobGen(spark: SparkSession, input: String, work: String) extends Workload {
  private val cfg = PipelineConfig.default
  private var pass = 0
  private var expected = Map.empty[String, Long]
  private var lastDir = ""
  private val dumped = scala.collection.mutable.LinkedHashMap[String, String]()
  private var peakCache = (0, 0.0)

  private def nextDir(): String = {
    if (lastDir.nonEmpty) deleteTree(lastDir)
    pass += 1
    lastDir = s"$work/job_out/pass$pass"
    lastDir
  }

  private def release(out: PipelineOutputs): Unit = {
    out.unpersistAll()
    CacheBook.release()
  }

  def unit(tracer: Option[Tracer]): UnitResult = {
    val dir = nextDir()
    val r = scala.util.Try(tracer match {
      case None =>
        timed {
          val out = Pipeline.run(spark, Transcripts.fromEvents(spark, input), cfg)
          out.enriched.count()
          (out, Pipeline.writeSinks(out, dir))
        }
      case Some(t) => timed(layeredPass(t, dir))
    })
    r.failed.foreach(_.printStackTrace())
    for (((out, counts), _) <- r) {
      if (expected.isEmpty) {
        expected = counts
        dumpTables(out)
      }
      release(out)
    }
    val ok = r.toOption.exists(_._1._2 == expected)
    val s = r.map(_._2).getOrElse(Double.NaN)
    UnitResult(s, Seq(s), if (ok) 0 else 1)
  }

  /** The pipeline's own tables, in the projection and order of the
    * matching SparkEntry query, for the DuckDB oracle: routing, the RED
    * rollup and the histogram (the count tables are small folds of the
    * same relations; each dump costs a Spark write in every run). */
  private def dumpTables(out: PipelineOutputs): Unit = {
    val d = s"$work/check"
    dumped("q04_routing") = dump(out.routing.select(
      col("conv_id"), col("entity_key"), col("request_context"),
      col("sample_type"), col("latency"), col("n_turns"),
      col("request_rank").cast("int").as("request_rank"),
      col("queue_rn").cast("int").as("queue_rn"),
      col("kept"), col("sink")).orderBy("conv_id"), s"$d/q04")
    dumped("q09_red") =
      dump(out.redRollup.orderBy("win_start_us", "service", "request_context"), s"$d/q09")
    dumped("q10_histogram") = dump(out.latencyHistogram.orderBy("service", "le"), s"$d/q10")
  }

  /** The unit's calls with a span around each layer call: the body of
    * `Pipeline.run` (default config: same pruned, observed, cached
    * enriched relation, same cached conv routing with its eager fill,
    * same cached raw rollup), then `enriched.count()` and the default
    * (parallel) `Pipeline.writeSinks`. Two differences, which move data
    * work rather than add it: `enriched.count()` runs inside the enrich
    * span, before routing instead of after it, so it fills the enriched
    * cache that routing's eager count fills in the plain unit; and one
    * more `count()` fills the raw rollup cache inside the rollup span,
    * which the metrics write fills in the plain unit. Lazy layers (the
    * source, routed turns, the metric tables) are only built in their
    * spans and run inside the actions that read them. */
  private def layeredPass(t: Tracer, dir: String): (PipelineOutputs, Map[String, Long]) =
    t.span("job_pass", "job") { _ =>
      val turns = t.span("Transcripts.fromEvents", "source")(_ =>
        t.construct(Transcripts.fromEvents(spark, input)))
      val obs = Observation()
      val (enriched, enrichedRows) = t.span("Enrich.enriched", "enrich") { s =>
        val df = t.construct(Enrich.enriched(turns, spark, cfg)
          .select(
            "conv_id", "turn_idx", "service", "namespace", "env", "site",
            "entity_key", "service_key", "span_class", "request_context", "latency_secs",
            "dur_ms", "is_error", "error_routable", "is_slow_span", "threshold", "ts")
          .observe(obs,
            count(lit(1)).as("turns_enriched"),
            sum(when(col("is_error"), 1L).otherwise(0L)).as("error_spans"),
            sum(when(col("is_slow_span"), 1L).otherwise(0L)).as("slow_spans"),
            approx_count_distinct(col("conv_id")).as("approx_convs"))
          .cache())
        val n = df.count().toDouble
        s.attrs("rows_out") = n
        (df, n)
      }
      val (routing, routeSpan) = t.span("Route.convRouting", "route") { s =>
        (t.construct(Route.convRouting(enriched, cfg, eagerCache = true).cache()), s)
      }
      val (raw, rollup) = t.span("Aggregates.fineRollupRaw", "rollup") { s =>
        val df = t.construct(Aggregates.fineRollupRaw(enriched, cfg).cache())
        s.attrs("rows_in") = enrichedRows
        s.attrs("rows_out") = df.count().toDouble
        (df, t.construct(Aggregates.capRollup(df, cfg)))
      }
      val (routed, routedSpan) = t.span("Route.routedTurns", "route_turns")(s =>
        (t.construct(Route.routedTurns(turns, routing)), s))
      val (out, metricsSpan) = t.span("Aggregates.metricTables", "metrics")(s => (t.construct(PipelineOutputs(
        enriched = enriched, routing = routing, routedTurns = routed,
        fineRollupRaw = raw, fineRollup = rollup,
        traceCounts = Aggregates.traceCounts(routing),
        sampledTraceCounts = Aggregates.sampledTraceCounts(routing),
        spanCounts = Aggregates.spanCounts(enriched),
        sampledSpanCounts = Aggregates.sampledSpanCounts(enriched, routing),
        redRollup = Aggregates.redRollupFrom(rollup),
        latencyHistogram = Aggregates.latencyHistogramFrom(rollup),
        observation = obs)), s))
      val counts = t.span("Pipeline.writeSinks", "sink") { s =>
        val c = Pipeline.writeSinks(out, dir)
        s.attrs("rows") = c.values.sum.toDouble
        s.attrs("mb_written") = dirMb(dir)
        c
      }
      // rows of the lazy layers, known once the writes have run them:
      // routing's cache is filled by the first write that reads it, the
      // routed turns are the turn sinks' rows, the metric tables the
      // metrics sink's rows
      routeSpan.attrs("rows_out") = cachedRows(routing)
      routedSpan.attrs("rows_out") = (counts - "metrics").values.sum.toDouble
      metricsSpan.attrs("rows_out") = counts("metrics").toDouble
      if (t.enabled) {
        val res = cacheResidency(spark)
        if (res._2 >= peakCache._2) peakCache = res
      }
      (out, counts)
    }

  override def layerMetrics(t: Tracer): Map[String, Double] = {
    val n = t.spans.count(_.layer == "job").max(1).toDouble
    def per(x: Double) = x / n
    def self(l: String) = per(t.layerSelf(l))
    def rows(l: String, a: String = "rows_out") = per(t.layerAttr(l, a))
    val sinkActions = t.writesBy(Seq("/sinks", "/metrics"))
    val rin = rows("rollup", "rows_in")
    Map(
      "source.self_s" -> self("source"),
      "source.rows_out" -> per(t.scanStages.filter(st => t.layerOfStage(st).contains("enrich"))
        .map(_.inputRecords).sum.toDouble),
      "source.shuffle_mb" -> per(t.mb(t.scanStages.map(_.shuffleWriteBytes).sum)),
      "source.task_skew" -> t.taskSkew(t.scanStages),
      "enrich.self_s" -> self("enrich"), "enrich.rows_out" -> rows("enrich"),
      "route.self_s" -> self("route"), "route.rows_out" -> rows("route"),
      "route.shuffle_mb" -> per(t.shuffleMb("route")), "route.spill_mb" -> per(t.spillMb("route")),
      "route.task_skew" -> t.taskSkew("route"),
      "route_turns.self_s" -> self("route_turns"), "route_turns.rows_out" -> rows("route_turns"),
      "rollup.self_s" -> self("rollup"), "rollup.rows_in" -> rin, "rollup.rows_out" -> rows("rollup"),
      "rollup.reduction" -> (if (rows("rollup") > 0) rin / rows("rollup") else 0.0),
      "rollup.shuffle_mb" -> per(t.shuffleMb("rollup")), "rollup.peak_mem_mb" -> t.peakMemMb("rollup"),
      "metrics.self_s" -> self("metrics"), "metrics.rows_out" -> rows("metrics"),
      "sink.turns_s" -> per(sinkActions("/sinks")), "sink.metrics_s" -> per(sinkActions("/metrics")),
      "sink.rows" -> rows("sink", "rows"), "sink.mb_written" -> rows("sink", "mb_written"),
      "cache.entries" -> peakCache._1.toDouble, "cache.resident_mb" -> peakCache._2
    )
  }

  def finish(): Seq[Check] = {
    // the last unit's written turn sinks, against the q05 oracle
    dumped("q05_sink_rows") = s"$lastDir/sinks"
    Nil
  }

  override def dumps: Map[String, String] = dumped.toMap
  override def oracleSql: Map[String, String] =
    dumped.keys.map(k => k -> SparkEntry.oracleSql(k)).toMap
}

/** `query_suite`: a fixed list of `SparkEntry.queries`, in sorted order,
  * in one session, then `StreamParity.run` — the streaming entry
  * point graft.Verify drives (the production stateful-cap + watermarked
  * RED DAG over a MemoryStream, hash-checked against the batch rollup).
  * One unit is one pass over the list. Each query is timed from
  * construction until its full ordered result is written as parquet
  * (graft.Verify's path), so the timed output is the checked output; the
  * operator caches are released after the pass. */
final class QuerySuite(spark: SparkSession, input: String, work: String) extends Workload {
  import QuerySuite._

  private val dumped = scala.collection.mutable.LinkedHashMap[String, String]()
  private var peakCache = (0, 0.0)
  private var pass = 0
  private var parity: Seq[Check] = Nil

  /** The stream parity run; its JSON verdict is checked here. */
  private def streamParity(tracer: Option[Tracer]): (Boolean, Double) = {
    val dir = s"$work/results/pass$pass/stream_parity"
    val r = scala.util.Try(timed(tracer match {
      case None => StreamParity.run(spark, input, dir)
      case Some(t) => t.span("StreamParity.run", "stream")(_ => StreamParity.run(spark, input, dir))
    }))
    r.failed.foreach(_.printStackTrace())
    val json = r.map(_._1).getOrElse("")
    val ok = json.contains("\"rows_match\": true") && json.contains("\"hash_match\": true")
    if (parity.isEmpty) parity = Seq(Check("stream_parity", ok, json))
    (ok, r.map(_._2).getOrElse(Double.NaN))
  }

  def unit(tracer: Option[Tracer]): UnitResult = {
    pass += 1
    val results = Queries.map { q =>
      val path = s"$work/results/pass$pass/$q"
      val r = scala.util.Try(tracer match {
        case None => timed(dump(SparkEntry.queries(q)(spark, input), path))
        case Some(t) =>
          timed(t.span(q, LayerOf(q)) { _ =>
            dump(t.construct(SparkEntry.queries(q)(spark, input)), path)
          })
      })
      r.failed.foreach(_.printStackTrace())
      (q, path, r.map(_._2).getOrElse(Double.NaN), r.isSuccess)
    }
    val (streamOk, streamS) = streamParity(tracer)
    val wall = results.map(_._3).sum + streamS
    if (tracer.exists(_.enabled)) {
      val res = cacheResidency(spark)
      if (res._2 >= peakCache._2) peakCache = res
    }
    CacheBook.release()
    // every pass's results go to the oracle check (key `<query>@<pass>`);
    // traced spans get their row counts, read back outside the timing
    results.foreach { case (q, path, _, ok) =>
      if (ok) dumped(s"$q@$pass") = path
      tracer.foreach(_.spans.findLast(_.name == q).foreach(
        _.attrs("rows_out") = (if (ok) spark.read.parquet(path).count() else 0L).toDouble))
    }
    val failed = results.count(!_._4) + (if (streamOk) 0 else 1)
    UnitResult(wall, results.map(_._3) :+ streamS, failed)
  }

  override def layerMetrics(t: Tracer): Map[String, Double] = {
    val passes = t.spans.count(_.name == Queries.head).max(1).toDouble
    def self(l: String) = t.layerSelf(l) / passes
    /** output pairs / candidate pairs over the layer's pair queries */
    def pairsPerCandidate(l: String): Double = {
      val sp = t.spans.filter(s => s.layer == l && s.name.contains("pairs"))
      val cands = sp.map(s => t.observedIn(s).filter(_._1.endsWith("_candidate_pairs")).values.sum).sum
      val pairs = sp.map(_.attrs.getOrElse("rows_out", 0.0)).sum
      if (cands > 0) pairs / cands else 0.0
    }
    Map(
      "dedup.self_s" -> self("dedup"), "dedup.shuffle_mb" -> t.shuffleMb("dedup") / passes,
      "dedup.task_skew" -> t.taskSkew("dedup"), "dedup.pairs_per_candidate" -> pairsPerCandidate("dedup"),
      "similarity.self_s" -> self("similarity"),
      "similarity.shuffle_mb" -> t.shuffleMb("similarity") / passes,
      "similarity.pairs_per_candidate" -> pairsPerCandidate("similarity"),
      "text.self_s" -> self("text"), "text.shuffle_mb" -> t.shuffleMb("text") / passes,
      "corpus.self_s" -> self("corpus"),
      "cache.entries" -> peakCache._1.toDouble, "cache.resident_mb" -> peakCache._2,
      "stream.self_s" -> self("stream")
    ) ++ streamMetrics(t.progress.synchronized(t.progress.map(_.progress).toSeq))
  }

  /** Per-layer numbers of the stream, from its StreamingQueryProgress
    * events (micro-batches that read input). */
  private def streamMetrics(all: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val ps = all.filter(_.numInputRows > 0)
    def dur(k: String) = Harness.median(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)))
    val ops = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    Map(
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.plan_s" -> dur("queryPlanning"),
      "stream.wal_s" -> dur("walCommit"),
      "stream.state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
      "stream.state_mb" -> ops.map(_.memoryUsedBytes).sum / 1048576.0,
      "stream.state_commit_s" -> Harness.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum / 1000.0)),
      "stream.rows_dropped" -> all.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble
    )
  }

  def finish(): Seq[Check] = parity
  override def dumps: Map[String, String] = dumped.toMap
  override def oracleSql: Map[String, String] =
    Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
}

object QuerySuite {
  /** One query per corpus layer, each charged to the module its operator
    * lives in; sized to the run's time budget (see perfbench/README.md). */
  val LayerOf: Map[String, String] = Map(
    "q21_token_stats" -> "text", "q26_minhash_pairs" -> "dedup",
    "q32_cosine_pairs" -> "similarity", "q35_chunks" -> "corpus")
  val Queries: Seq[String] = LayerOf.keys.toSeq.sorted
}
