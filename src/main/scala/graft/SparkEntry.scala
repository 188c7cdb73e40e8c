package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.PipelineConfig
import graft.operators.{Aggregates, Dedup, Enrich, Parse, Route, Similarity, TextAnalysis}
import graft.sources.Transcripts

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query takes (spark, sfDir) and reads only the driver-generated
  * parquet under sfDir; the transcript table is derived deterministically
  * from `events` (see [[graft.sources.Transcripts]]) so the DuckDB oracle
  * can reproduce it from the same parquet.
  */
object SparkEntry {

  private val cfg = PipelineConfig.default

  /** q25 hot-shingle document-frequency cap (applied identically in the
    * oracle SQL): shingles shared by more than this many docs are dropped
    * before the inverted-index self-join. */
  private val MaxShingleDf = 20

  /** q13 config: a cap small enough to bind on the test data plus two
    * config-driven metric labels (attributes_as_metric_labels). */
  private val Q13Cfg = PipelineConfig.default.copy(
    limitPerService = 5,
    captureAttributesInMetric = Seq("call_service", "call_method")
  )

  /** q15 config: a tight cap (limit 1) with a 4-hour context TTL, so over
    * the test data's 30-day span contexts are evicted and late contexts
    * admitted many times (metric_helper.go:91-116 TTL-cache semantics). */
  private val Q15Cfg = PipelineConfig.default.copy(
    limitPerService = 1,
    requestContextCacheTTLMinutes = 240
  )

  /** q16 grok pattern: the transcript line layout as ONE named-capture
    * pass (SURVEY §7.3); the oracle uses the same regex with unnamed
    * groups (see [[grokPatternUnnamed]]). */
  private val GrokPattern =
    "call=(?<callsvc>[A-Za-z0-9_-]+)\\.(?<callmethod>[A-Za-z0-9_]+)" +
      " url=(?<url>https?://[^ ]+) status=(?<status>[0-9]+) dur=(?<durms>[0-9]+)ms"
  private def grokPatternUnnamed: String =
    GrokPattern.replaceAll("\\(\\?<[A-Za-z][A-Za-z0-9]*>", "(")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_routing")(spark, "/root/testdata/sf0.001")

  private def transcripts(spark: SparkSession, dir: String): DataFrame =
    Transcripts.fromEvents(spark, dir)

  private def enriched(spark: SparkSession, dir: String): DataFrame =
    Enrich.enriched(transcripts(spark, dir), spark, cfg)

  private def routing(spark: SparkSession, dir: String): DataFrame =
    Route.convRouting(enriched(spark, dir), cfg)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 source + per-turn text equality under stable (conv_id, turn_idx)
    // ordering (utils.go:109-126 re-serialization invariant)
    "q01_transcripts" -> ((s, dir) =>
      transcripts(s, dir).orderBy("conv_id", "turn_idx")),
    // P2-P11 parse scalar stage (regex rule fold, classification)
    "q02_parse" -> ((s, dir) =>
      Parse
        .parsed(Enrich.withServiceDim(transcripts(s, dir), s))
        .select(
          "conv_id", "turn_idx", "span_class", "request_type", "status_code",
          "error_type", "request_context", "call_service", "call_method",
          "dur_ms", "latency_secs"
        )
        .orderBy("conv_id", "turn_idx")),
    // J1/J2 broadcast enrichment: entity keys, threshold resolution, flags
    "q03_enrich" -> ((s, dir) =>
      enriched(s, dir)
        .select(
          "conv_id", "turn_idx", "service_key", "entity_key", "threshold",
          "is_error", "error_routable", "is_slow_span"
        )
        .orderBy("conv_id", "turn_idx")),
    // R1/R2/T1/T2/G6 conversation routing, sampling, caps, top-K
    "q04_routing" -> ((s, dir) =>
      routing(s, dir)
        .select(
          col("conv_id"), col("entity_key"), col("request_context"),
          col("sample_type"), col("latency"), col("n_turns"),
          col("request_rank").cast("int").as("request_rank"),
          col("queue_rn").cast("int").as("queue_rn"),
          col("kept"), col("sink")
        )
        .orderBy("conv_id")),
    // S3/S4/T3 sink fan-out rows with stable ordering + text equality
    "q05_sink_rows" -> ((s, dir) =>
      Route
        .routedTurns(transcripts(s, dir), routing(s, dir))
        .select("conv_id", "turn_idx", "role", "text", "tool", "sink", "sample_type")
        .orderBy("sink", "conv_id", "turn_idx")),
    // G4 trace counters — from the conv fold only (Route.convDims): the
    // cap/sampling/top-K window stages preserve rows and add nothing the
    // counter reads, so the standalone query skips them
    "q06_trace_counts" -> ((s, dir) =>
      Aggregates.traceCounts(Route.convDims(enriched(s, dir))).orderBy("env", "site")),
    "q07_sampled_counts" -> ((s, dir) =>
      Aggregates
        .sampledTraceCounts(routing(s, dir))
        .orderBy("env", "site", "sample_type")),
    "q08_span_counts" -> ((s, dir) =>
      Aggregates
        .spanCounts(enriched(s, dir))
        .orderBy("env", "site", "namespace", "service")),
    // G4 sampled span counters (metrics.go:48-52, trace.go:46-52: ALL
    // spans of flushed conversations, internal included)
    "q14_sampled_span_counts" -> ((s, dir) =>
      Aggregates
        .sampledSpanCounts(enriched(s, dir), routing(s, dir))
        .orderBy("env", "site", "namespace", "service")),
    // G5 RED rollups per tumbling window
    "q09_red" -> ((s, dir) =>
      Aggregates
        .redRollup(enriched(s, dir))
        .orderBy("win_start_us", "service", "request_context")),
    // G5 latency histogram buckets (cumulative, prometheus-style)
    "q10_histogram" -> ((s, dir) =>
      Aggregates
        .latencyHistogram(enriched(s, dir), cfg)
        .orderBy("service", "le")),
    // G6 TTL-expiring cardinality cap: RED rollup where a request context
    // idle for a full TTL window is evicted and a late context admitted
    // (metric_helper.go:91-116, eviction test metric_helper_test.go:142-179)
    "q15_ttl_capped_red" -> ((s, dir) =>
      Aggregates
        .ttlCappedRed(enriched(s, dir), Q15Cfg)
        .orderBy("win_start_us", "service", "request_context")),
    // P3 one-pass grok named-capture extraction (native codegen
    // Expression — SURVEY §7.3): all structured fields of the line from
    // a single matcher pass instead of one regexp_extract per field
    "q16_grok_parse" -> ((s, dir) => {
      graft.functions.Grok.register(s)
      val g = graft.functions.Grok.grokExtract(col("text"), GrokPattern)
      transcripts(s, dir)
        .select(col("conv_id"), col("turn_idx"), g.as("g"))
        .select(
          col("conv_id"), col("turn_idx"),
          col("g.callsvc").as("call_service"),
          col("g.callmethod").as("call_method"),
          col("g.url").as("url"),
          col("g.status").cast("int").as("status_code"),
          col("g.durms").cast("bigint").as("dur_ms")
        )
        .orderBy("conv_id", "turn_idx")
    }),
    // S5 Prometheus text-exposition rendering of the metric tables
    // (metrics_exporter.go scrape shape) — restricted to integer-valued
    // families so double-to-string formatting is cross-engine exact
    "q17_prom_text" -> ((s, dir) => {
      // Serve the scrape's surviving families (the metric_name filter
      // below constant-folds every other union arm to empty) from the
      // CHEAPEST sufficient relations: the trace counter reads the
      // conv-level fold ONLY (Route.convDims — no cap/sampling/top-K
      // windows, which preserve rows and add nothing the counter reads),
      // the histogram its one fine rollup. The two surviving arms stay
      // UNCACHED on purpose: they are independent AQE stages that scan
      // concurrently, which measured FASTER at sf0.1 than serializing on
      // a shared cached enriched relation (cache fill blocks both arms;
      // an interleaved A/B read cached ~9.6-10.6 s vs uncached recompute
      // ~6.6-8.5 s on the same box session).
      val e = enriched(s, dir)
      val conv = Route.convDims(e)
      Aggregates
        .prometheusText(
          Aggregates
            .prometheusTable(
              Aggregates.traceCounts(conv),
              Aggregates.sampledTraceCounts(Route.convRouting(e, cfg)),
              Aggregates.spanCounts(e),
              Aggregates.redRollup(e),
              Aggregates.latencyHistogram(e, cfg),
              Aggregates.sampledSpanCounts(e, Route.convRouting(e, cfg))
            )
            .filter(col("metric_name").isin(
              "asserts_trace_count_total", "otel_span_latency_seconds_bucket",
              "asserts_otelcol_build_info"))
        )
        .orderBy("line")
    }),
    // P9 turn-gap latency: event-time delta to the next turn in the
    // conversation (utils.go:27-29 end-start analogue for transcripts)
    "q12_turn_gap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      transcripts(s, dir)
        .withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))"))
        .withColumn("gap_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .select("conv_id", "turn_idx", "gap_us")
        .orderBy("conv_id", "turn_idx")
    }),
    // P11 prometheus name normalization over the label value domain
    "q11_prom_names" -> ((s, dir) =>
      Parse
        .parsed(Enrich.withServiceDim(transcripts(s, dir), s))
        .select("request_context").distinct()
        .withColumn("prom_name", graft.functions.Norm.promName(col("request_context")))
        .orderBy("request_context")),
    // G5/G6 the full-label latency histogram with the metric-path
    // cardinality cap binding (limit 5) and config-driven labels
    // (metric_helper.go:85-183, metrics.go:79-103)
    "q13_metric_capped" -> ((s, dir) => {
      val labelCols = Q13Cfg.captureAttributesInMetric.map(graft.functions.Norm.promName)
      val order = Seq("asserts_env", "asserts_site", "namespace", "service", "span_kind",
        "status_code") ++ labelCols ++ Seq("asserts_request_type", "asserts_request_context",
        "asserts_error_type", "le")
      Aggregates
        .cappedLabeledHistogram(enriched(s, dir), Q13Cfg)
        .orderBy(order.map(col): _*)
    }),

    // ---- training-data pipeline operators (documents / embeddings) ----
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir)).orderBy("doc_id")),
    "q21_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir)).orderBy("doc_id")),
    "q22_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir)).orderBy("doc_id")),
    "q23_langid" -> ((s, dir) =>
      TextAnalysis.languageId(docs(s, dir)).orderBy("doc_id")),
    "q24_fingerprints" -> ((s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir)).orderBy("doc_id")),
    // winnowing rolling-hash fingerprint sets (MOSS scheme)
    "q42_winnowing" -> ((s, dir) =>
      Dedup.winnowingFingerprints(docs(s, dir), k = 8, w = 4)
        .orderBy("doc_id", "fp")),
    "q25_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), w = 3, minJaccard = 0.05, maxDocFreq = MaxShingleDf)
        .orderBy("doc_a", "doc_b")),
    "q26_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), w = 3, minEstimate = 0.5)
        .orderBy("doc_a", "doc_b")),
    // SimHash near-dups via native codegen expression (md5-lower-64 token
    // hash — bit-identical to the DuckDB md5_number_lower oracle)
    "q27_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 6)
        .orderBy("doc_a", "doc_b")),
    // transitive dup-cluster resolution: connected components over the
    // q26 minhash-LSH edge set (min-label propagation)
    "q28_dup_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.duplicateClusters(d, Dedup.minhashLshPairs(d, w = 3, minEstimate = 0.5))
        .orderBy("doc_id")
    }),
    // deterministic hash-based train/val/test split
    "q29_train_split" -> ((s, dir) =>
      Dedup.trainSplit(docs(s, dir)).orderBy("doc_id")),
    // PII pattern counts + typed-placeholder scrubbing (redaction pass)
    "q43_pii" -> ((s, dir) =>
      TextAnalysis.piiStats(docs(s, dir)).orderBy("doc_id")),
    // deterministic per-language stratified sampling (corpus rebalance)
    "q37_stratified" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(docs(s, dir), Map("en" -> 0.3, "de" -> 0.8))
        .orderBy("doc_id")),
    // intra-document repetition signal (total vs distinct w-grams)
    "q38_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir)).orderBy("doc_id")),
    // sequence packing: concatenate-then-chunk layout into fixed
    // token-capacity training sequences, sharded for parallelism
    "q34_pack" -> ((s, dir) =>
      graft.operators.Assemble.packSequences(docs(s, dir), capacityTokens = 512, shardSize = 100)
        .orderBy("doc_id")),
    // context-window chunking with overlap
    "q35_chunks" -> ((s, dir) =>
      graft.operators.Assemble.chunk(docs(s, dir), size = 256, overlap = 32)
        .orderBy("doc_id", "chunk_idx")),
    // train/benchmark decontamination: test docs sharing winnowing
    // fingerprints with train docs (df-capped inverted-index join)
    "q36_decontam" -> ((s, dir) =>
      Dedup.decontaminationPairs(docs(s, dir))
        .orderBy("test_doc_id", "train_doc_id")),
    // content-defined chunking: rolling-hash boundaries that resync
    // after edits; chunk hashes are the storage-dedup unit
    "q39_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunks(docs(s, dir)).orderBy("doc_id", "chunk_idx")),
    // event sessionization: native session_window aggregation (30-min
    // inactivity gap), the batch==streaming session-boundary operator
    "q47_sessions" -> ((s, dir) =>
      graft.operators.Sessions.sessionize(s.read.parquet(s"$dir/events.parquet"), gapMinutes = 30)
        .orderBy("user_id", "session_start_us")),
    // cross-document duplicate w-token passages (near-verbatim reuse at
    // sub-document granularity)
    "q44_dup_passages" -> ((s, dir) =>
      TextAnalysis.duplicatePassages(docs(s, dir), w = 8)
        .orderBy("doc_id", "pos")),
    // corpus vocabulary: per-token term frequency + document frequency
    "q46_vocab_df" -> ((s, dir) =>
      TextAnalysis.vocabStats(docs(s, dir)).orderBy("token")),
    // ANN over int8 max-abs quantized vectors (compressed-index variant)
    "q45_ann_int8" -> ((s, dir) => {
      val emb = embs(s, dir)
      Similarity.int8TopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("q_id", "rank")
    }),
    // ANN: exact brute-force cosine top-k (oracle-checked)
    "q30_ann_topk" -> ((s, dir) => {
      val emb = embs(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("q_id", "rank")
    }),
    // ANN: LSH-bucketed approximate variant — oracle reproduces bucket
    // assignment from the same quantized hyperplane constants
    "q31_ann_lsh" -> ((s, dir) => {
      val emb = embs(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("q_id", "rank")
    }),
    // cosine near-dups via LSH-bucketed candidates + exact verify (the
    // round-1 all-pairs cartesian is gone; oracle is bucket-aware)
    "q32_cosine_pairs" -> ((s, dir) =>
      Similarity.nearDupPairs(embs(s, dir), threshold = 0.4)
        .orderBy("id_a", "id_b")),
    // ANN: IVF coarse-quantizer variant (inverted lists + nProbe probing)
    "q33_ann_ivf" -> ((s, dir) => {
      val emb = embs(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("q_id", "rank")
    }),
    // ANN: IVF + int8 scalar quantization (sublinear probe over 1-byte/dim
    // inverted lists — the composed billion-vector index shape)
    "q48_ann_ivf_int8" -> ((s, dir) => {
      val emb = embs(s, dir)
      Similarity.ivfInt8TopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("q_id", "rank")
    }),
    // maximal duplicated-substring spans (ExactSubstr-style interval
    // merge over the q44 duplicate-window hits)
    "q49_dup_spans" -> ((s, dir) =>
      TextAnalysis.duplicateSpans(docs(s, dir), w = 8)
        .orderBy("doc_id", "span_start")),
    // bloom-prefiltered decontamination drop list: test-side bloom built
    // distributedly, train side thinned at the scan by a codegen'd
    // might_contain, exactness restored by the verify join
    "q50_bloom_decontam" -> ((s, dir) =>
      Dedup.bloomDecontamination(docs(s, dir))
        .orderBy("train_doc_id")),
    // per-document top-k TF-IDF terms (rational idf for cross-engine
    // exactness; WindowGroupLimit top-k)
    "q51_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(docs(s, dir), k = 5)
        .orderBy("doc_id", "rank")),
    // end-to-end corpus selection: quality gate x exact dedup x split x
    // decontamination composed into the final keep/drop decision table
    "q52_corpus_filter" -> ((s, dir) =>
      graft.operators.Corpus.corpusFilter(docs(s, dir))
        .orderBy("doc_id")),
    // duplicated-span REMOVAL: each doc's text with q49's intervals cut
    // out (the ExactSubstr output artifact)
    "q53_dedup_clean" -> ((s, dir) =>
      TextAnalysis.removeDuplicateSpans(docs(s, dir), w = 8)
        .orderBy("doc_id")),
    // corpus-build report: per (lang, split) doc/token counts before and
    // after the q52 gates (the data-card rollup)
    "q54_corpus_report" -> ((s, dir) =>
      graft.operators.Corpus.corpusReport(docs(s, dir))
        .orderBy("lang", "split")),
    // corpus-wide top-k frequent trigram discovery (stop-phrase mining;
    // global top-k as TakeOrderedAndProject, never a full-vocab sort)
    "q55_top_ngrams" -> ((s, dir) =>
      TextAnalysis.topNgrams(docs(s, dir), w = 3, k = 100)),
    // SemDeDup: connected components over the embedding cosine near-dup
    // edge set (q32 geometry) — one canonical member per meaning-cluster
    "q56_semantic_clusters" -> ((s, dir) =>
      Similarity.semanticClusters(embs(s, dir), threshold = 0.4)
        .orderBy("vec_id")),
    // cross-source duplicate overlap matrix (distinct shared content
    // fingerprints per unordered source pair)
    "q57_source_overlap" -> ((s, dir) =>
      graft.operators.Corpus.sourceOverlap(docs(s, dir))
        .orderBy("source_a", "source_b")),
    // per-language exact token-length percentiles via the histogram
    // cumulative-sum shape (integer-exact disc percentiles)
    "q58_len_percentiles" -> ((s, dir) =>
      TextAnalysis.lengthPercentiles(docs(s, dir)).orderBy("lang")),
    // deterministic per-language token-budget cap: greedy hash-order
    // selection via the bucket-decomposed cumulative sum (never a
    // per-lang global sort)
    "q59_token_budget" -> ((s, dir) =>
      graft.operators.Corpus.tokenBudgetSample(docs(s, dir), budgetTokens = 2000L)
        .orderBy("doc_id")),

    // ---- multimodal plumbing (binary payload columns; md5-derived
    // synthetic media so the byte contract is oracle-checkable). The
    // payloads ride as raw `binary` through the operators; the QUERY
    // outputs hex-encode them because the driver's oracle compare hashes
    // values in pandas, where raw bytes are unhashable — the reference's
    // byte-bag comparisons are string-typed too (custom_attribute.go:84-86
    // `.AsString()`). ----
    "q40_media_stats" -> ((s, dir) =>
      graft.operators.Multimodal.syntheticMedia(docs(s, dir))
        .select(
          col("doc_id"), col("media_type"), col("width"), col("height"),
          lower(hex(col("payload"))).as("payload_hex")
        )
        .orderBy("doc_id")),
    "q41_frame_sample" -> ((s, dir) =>
      graft.operators.Multimodal
        .sampleFrames(graft.operators.Multimodal.syntheticMedia(docs(s, dir)), everyNthByte = 32)
        .select(
          col("doc_id"), col("frame_idx"),
          lower(hex(col("frame_bytes"))).as("frame_hex")
        )
        .orderBy("doc_id", "frame_idx"))
  )

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def embs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_transcripts" -> Transcripts.oracle(
      "SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts ORDER BY conv_id, turn_idx"
    ),
    "q02_parse" -> OracleSql.parsedQuery(
      """SELECT conv_id, turn_idx, span_class, request_type, status_code, error_type,
        |  request_context, call_service, call_method, dur_ms, latency_secs
        |FROM parsed2 ORDER BY conv_id, turn_idx""".stripMargin
    ),
    "q03_enrich" -> OracleSql.enrichedQuery(
      """SELECT conv_id, turn_idx, service_key, entity_key, threshold,
        |  is_error, error_routable, is_slow_span
        |FROM enr ORDER BY conv_id, turn_idx""".stripMargin
    ),
    "q04_routing" -> OracleSql.routingQuery(
      """SELECT conv_id, entity_key, request_context, sample_type, latency, n_turns,
        |  CAST(request_rank AS INT) AS request_rank,
        |  CAST(queue_rn AS INT) AS queue_rn, kept, sink
        |FROM routing ORDER BY conv_id""".stripMargin
    ),
    "q05_sink_rows" -> OracleSql.routingQuery(
      """SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, r.sink, r.sample_type
        |FROM transcripts t JOIN routing r ON t.conv_id = r.conv_id
        |WHERE r.kept ORDER BY r.sink, t.conv_id, t.turn_idx""".stripMargin
    ),
    "q06_trace_counts" -> OracleSql.routingQuery(
      """SELECT env, site, CAST(count(*) AS BIGINT) AS trace_count
        |FROM routing GROUP BY env, site ORDER BY env, site""".stripMargin
    ),
    "q07_sampled_counts" -> OracleSql.routingQuery(
      """SELECT env, site, sample_type, CAST(count(*) AS BIGINT) AS sampled_count
        |FROM routing WHERE kept GROUP BY env, site, sample_type
        |ORDER BY env, site, sample_type""".stripMargin
    ),
    "q08_span_counts" -> OracleSql.enrichedQuery(
      """SELECT env, site, namespace, service, CAST(count(*) AS BIGINT) AS span_count
        |FROM enr
        |GROUP BY env, site, namespace, service
        |ORDER BY env, site, namespace, service""".stripMargin
    ),
    "q09_red" -> OracleSql.cappedEnrQuery(
      s"""SELECT (epoch_us(ts) // ${5L * 60L * 1000000L}) * ${5L * 60L * 1000000L} AS win_start_us,
         |  service, request_context,
         |  CAST(count(*) AS BIGINT) AS requests,
         |  CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT) AS errors,
         |  CAST(sum(dur_ms) AS DOUBLE) / 1000.0 AS duration_sum_secs,
         |  max(latency_secs) AS duration_max_secs
         |FROM capped_enr
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    ),
    "q10_histogram" -> OracleSql.cappedEnrQuery {
      val buckets = cfg.histogramBuckets
      val leCase = buckets
        .map(b => s"WHEN latency_secs <= $b THEN CAST($b AS DOUBLE)")
        .mkString("CASE ", " ", " ELSE 'infinity'::DOUBLE END")
      s"""SELECT service, le, bucket_count,
         |  CAST(sum(bucket_count) OVER (PARTITION BY service ORDER BY le) AS BIGINT) AS cumulative_count
         |FROM (
         |  SELECT service, $leCase AS le, CAST(count(*) AS BIGINT) AS bucket_count
         |  FROM capped_enr GROUP BY 1, 2
         |) ORDER BY service, le""".stripMargin
    },

    "q14_sampled_span_counts" -> OracleSql.routingQuery(
      """SELECT e.env, e.site, e.namespace, e.service,
        |  CAST(count(*) AS BIGINT) AS sampled_span_count
        |FROM enr e JOIN (SELECT conv_id FROM routing WHERE kept) r
        |  ON e.conv_id = r.conv_id
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin
    ),
    "q13_metric_capped" -> OracleSql.cappedHistogramOracle(
      limit = Q13Cfg.limitPerService,
      extraLabels = Q13Cfg.captureAttributesInMetric,
      buckets = Q13Cfg.histogramBuckets
    ),
    "q15_ttl_capped_red" -> OracleSql.ttlCappedRedOracle(
      limit = Q15Cfg.limitPerService,
      ttlMinutes = Q15Cfg.requestContextCacheTTLMinutes,
      windowMinutes = 5
    ),
    "q17_prom_text" -> OracleSql.promTextOracle(cfg.histogramBuckets),
    "q16_grok_parse" -> {
      val p = grokPatternUnnamed.replace("'", "''")
      def f(i: Int) =
        s"CASE WHEN regexp_matches(text, '$p') THEN regexp_extract(text, '$p', $i) END"
      Transcripts.oracle(
        s"""SELECT conv_id, turn_idx,
           |  ${f(1)} AS call_service,
           |  ${f(2)} AS call_method,
           |  ${f(3)} AS url,
           |  CAST(${f(4)} AS INT) AS status_code,
           |  CAST(${f(5)} AS BIGINT) AS dur_ms
           |FROM transcripts ORDER BY conv_id, turn_idx""".stripMargin
      )
    },

    // ---- training-data pipeline oracles ----
    "q12_turn_gap" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
        |  lead(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx) - epoch_us(ts) AS gap_us
        |FROM transcripts ORDER BY conv_id, turn_idx""".stripMargin
    ),
    "q11_prom_names" -> OracleSql.parsedQuery(
      s"""SELECT DISTINCT request_context, ${OracleSql.duckPromName("request_context")} AS prom_name
         |FROM parsed2 ORDER BY request_context""".stripMargin
    ),
    "q20_dedup_exact" ->
      """SELECT doc_id, fingerprint,
        |  min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc_id,
        |  CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS group_size,
        |  doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
        |FROM (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |      FROM documents) ORDER BY doc_id""".stripMargin,
    "q21_token_stats" ->
      s"""SELECT doc_id, n_chars, CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
        |  CAST(greatest(len(toks), len(text) // 4) AS INT) AS n_tokens_bpe_est,
        |  CAST(len(regexp_extract_all(text, '${graft.operators.TextAnalysis.bpeTokenPattern}')) AS INT) AS n_tokens_re
        |FROM (SELECT *, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
        |      FROM documents) ORDER BY doc_id""".stripMargin,
    "q22_quality" ->
      s"""SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(len(list_filter(toks, x -> list_contains(${OracleSql.stopwordList}, x))) AS DOUBLE)
         |    / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |  (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[.,;:!?''"]', '', 'g')) AS DOUBLE))
         |    / CAST(len(text) AS DOUBLE) AS punct_ratio,
         |  (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE))
         |    / CAST(len(text) AS DOUBLE) AS digit_ratio,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_token_ratio,
         |  (len(toks) >= 10
         |    AND CAST(len(list_filter(toks, x -> list_contains(${OracleSql.stopwordList}, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) > 0.01
         |    AND (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[.,;:!?''"]', '', 'g')) AS DOUBLE)) / CAST(len(text) AS DOUBLE) < 0.2
         |    AND (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)) / CAST(len(text) AS DOUBLE) < 0.2
         |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) > 0.1) AS passes_quality
         |FROM (SELECT *, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
         |      FROM documents) ORDER BY doc_id""".stripMargin,
    "q23_langid" -> {
      val scores = OracleSql.langScoreExprs
      val scoreCols = scores.map { case (l, e) => s"$e AS score_$l" }.mkString(",\n  ")
      val maxExpr = scores.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
      val caseChain = scores
        .map { case (l, _) => s"WHEN score_$l = $maxExpr THEN '$l'" }
        .mkString("CASE ", " ", " END")
      s"""SELECT doc_id, lang_meta,
         |  CASE WHEN $maxExpr = 0 THEN 'und' ELSE $caseChain END AS lang_pred
         |FROM (
         |  SELECT doc_id, lang AS lang_meta, $scoreCols
         |  FROM (SELECT *, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
         |        FROM documents)
         |) ORDER BY doc_id""".stripMargin
    },
    "q24_fingerprints" ->
      """SELECT doc_id, fingerprint, substr(fingerprint, 1, 8) AS fingerprint_short
        |FROM (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |      FROM documents) ORDER BY doc_id""".stripMargin,
    "q25_jaccard_pairs" ->
      (OracleSql.docShinglesCte + s""",
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |hot AS (
        |  SELECT shingle FROM (SELECT shingle, count(*) AS df FROM inv GROUP BY 1)
        |  WHERE df > $MaxShingleDf
        |),
        |inv2 AS (SELECT * FROM inv WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM inv2 a JOIN inv2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM inv2 GROUP BY 1)
        |SELECT doc_a, doc_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |  CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.05
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q26_minhash_pairs" -> {
      val est = (1 to Dedup.NumHashes)
        .map(i => s"CASE WHEN sig_a[$i] = sig_b[$i] THEN 1 ELSE 0 END")
        .mkString("(", " + ", s") / ${Dedup.NumHashes}.0")
      OracleSql.docShinglesCte + s""",
        |${OracleSql.docMinhashCte},
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, $est AS est_jaccard
        |FROM cand WHERE $est >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
    },
    "q28_dup_clusters" -> {
      // recursive transitive closure over the q26 candidate edge set,
      // then min reachable id per node (includes self via the base case)
      val q26Cand = OracleSql.docShinglesCte + s""",
        |${OracleSql.docMinhashCte},
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |)""".stripMargin
      val est = (1 to Dedup.NumHashes)
        .map(i => s"CASE WHEN sig_a[$i] = sig_b[$i] THEN 1 ELSE 0 END")
        .mkString("(", " + ", s") / ${Dedup.NumHashes}.0")
      q26Cand.replaceFirst("^WITH ", "WITH RECURSIVE ") + s""",
        |pairs AS (SELECT doc_a, doc_b FROM cand WHERE $est >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        |)
        |SELECT src AS doc_id, min(dst) AS cluster_id, (src = min(dst)) AS is_canonical
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
    },
    "q29_train_split" ->
      """SELECT doc_id,
        |  CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':split')
        |        & CAST(9223372036854775807 AS UBIGINT)) % 100 AS BIGINT) AS bucket,
        |  CASE WHEN (md5_number_lower(CAST(doc_id AS VARCHAR) || ':split')
        |             & CAST(9223372036854775807 AS UBIGINT)) % 100 < 90 THEN 'train'
        |       WHEN (md5_number_lower(CAST(doc_id AS VARCHAR) || ':split')
        |             & CAST(9223372036854775807 AS UBIGINT)) % 100 < 95 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q47_sessions" -> {
      val gapUs = 30L * 60L * 1000000L
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
         |l AS (SELECT user_id, tus,
         |        lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev
         |      FROM e),
         |f AS (SELECT user_id, tus,
         |        CASE WHEN prev IS NULL OR tus - prev > $gapUs THEN 1 ELSE 0 END AS new_s
         |      FROM l),
         |g AS (SELECT user_id, tus,
         |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
         |                         ROWS UNBOUNDED PRECEDING) AS sid
         |      FROM f)
         |SELECT user_id, MIN(tus) AS session_start_us,
         |  MAX(tus) + $gapUs AS session_end_us,
         |  CAST(count(*) AS BIGINT) AS n_events
         |FROM g GROUP BY user_id, sid
         |ORDER BY user_id, session_start_us""".stripMargin
    },
    "q44_dup_passages" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |pos AS (
        |  SELECT doc_id, toks, CAST(unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS INT) AS i
        |  FROM toks
        |),
        |passages AS (
        |  SELECT doc_id, i - 1 AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS passage_hash
        |  FROM pos
        |),
        |dup AS (
        |  SELECT passage_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM passages GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        |)
        |SELECT p.doc_id, p.pos, p.passage_hash, d.n_docs
        |FROM passages p JOIN dup d USING (passage_hash)
        |ORDER BY doc_id, pos""".stripMargin,
    "q46_vocab_df" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |tf AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT unnest(toks) AS token FROM toks) GROUP BY 1
        |),
        |df AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM toks) GROUP BY 1
        |)
        |SELECT token, tf.tf, df.df FROM tf JOIN df USING (token) ORDER BY token""".stripMargin,
    "q45_ann_int8" ->
      (OracleSql.embQuantCte + """,
        |e8 AS (
        |  SELECT vec_id,
        |    CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(127.0 * x / m) AS BIGINT))
        |    END AS v8
        |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e)
        |),
        |q AS (SELECT * FROM e8 WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS q_id, e8.vec_id AS n_id,
        |    list_dot_product(q.v8, e8.v8)
        |      / sqrt(list_dot_product(q.v8, q.v8) * list_dot_product(e8.v8, e8.v8)) AS cosine_q8
        |  FROM e8 JOIN q ON q.vec_id <> e8.vec_id
        |),
        |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_q8 DESC, n_id) AS INT) AS rank
        |           FROM scored)
        |SELECT q_id, n_id, rank, cosine_q8 FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    "q30_ann_topk" ->
      (OracleSql.embQuantCte + """,
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
        |    list_dot_product(q.v, e.v)
        |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(e.v, e.v)) AS cosine
        |  FROM e JOIN q ON q.vec_id <> e.vec_id
        |),
        |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS INT) AS rank
        |           FROM scored)
        |SELECT q_id, n_id, rank, cosine FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    "q27_simhash_pairs" -> OracleSql.simhashOracle(maxHamming = 6),
    "q31_ann_lsh" -> OracleSql.annLshOracle(k = 5),
    "q33_ann_ivf" -> OracleSql.ivfOracle(k = 5, nCentroids = 16, nProbe = 4),
    "q48_ann_ivf_int8" -> OracleSql.ivfInt8Oracle(k = 5, nCentroids = 16, nProbe = 4),
    "q32_cosine_pairs" -> OracleSql.cosinePairsOracle(threshold = 0.4),
    "q42_winnowing" ->
      (OracleSql.winnowingCte + """
        |SELECT doc_id, fp FROM wfps ORDER BY doc_id, fp""".stripMargin),
    "q43_pii" -> {
      val pats = TextAnalysis.piiPatterns
      val counts = pats
        .map { case (n, p, _) => s"CAST(len(regexp_extract_all(text, '$p')) AS INT) AS n_$n" }
        .mkString(",\n  ")
      val scrub = pats.foldLeft("text") { case (acc, (_, p, r)) =>
        s"regexp_replace($acc, '$p', '$r', 'g')"
      }
      s"""SELECT doc_id,
         |  $counts,
         |  $scrub AS scrubbed_text,
         |  text <> $scrub AS had_pii
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q39_cdc_chunks" ->
      """WITH pos AS (
        |  SELECT doc_id, CAST(unnest(range(1, len(text) + 1)) AS INT) AS i, text
        |  FROM documents WHERE len(text) > 0
        |),
        |fl AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i >= 8
        |          AND ((md5_number_lower(substr(text, i - 7, 8))
        |                & CAST(9223372036854775807 AS UBIGINT)) % 64) = 0
        |         THEN 1 ELSE 0 END AS is_boundary
        |  FROM pos
        |),
        |ch AS (
        |  SELECT doc_id, i,
        |    COALESCE(CAST(sum(is_boundary) OVER (
        |      PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS chunk_idx
        |  FROM fl
        |),
        |sp AS (
        |  SELECT doc_id, chunk_idx, min(i) AS chunk_start, max(i) - min(i) + 1 AS chunk_len
        |  FROM ch GROUP BY 1, 2
        |)
        |SELECT s.doc_id, s.chunk_idx, s.chunk_start, s.chunk_len,
        |  md5(substr(d.text, s.chunk_start, s.chunk_len)) AS chunk_hash
        |FROM sp s JOIN documents d USING (doc_id)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q37_stratified" ->
      """SELECT doc_id, lang,
        |  CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':strat')
        |        & CAST(9223372036854775807 AS UBIGINT)) % 1000 AS BIGINT) AS bucket,
        |  CASE WHEN lang = 'de' THEN 0.8 WHEN lang = 'en' THEN 0.3 ELSE 1.0 END AS sample_rate,
        |  (CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':strat')
        |         & CAST(9223372036854775807 AS UBIGINT)) % 1000 AS BIGINT)
        |   < CAST(round(CASE WHEN lang = 'de' THEN 0.8 WHEN lang = 'en' THEN 0.3 ELSE 1.0 END * 1000.0) AS BIGINT)) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q38_repetition" ->
      """SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
        |  CASE WHEN len(grams) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
        |  END AS rep_ratio
        |FROM (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(toks) - 1, 1)),
        |                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)
        |) ORDER BY doc_id""".stripMargin,
    "q34_pack" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id // 100 AS shard,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |c AS (
        |  SELECT *, COALESCE(CAST(sum(n_tokens) OVER (
        |      PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
        |  FROM p
        |)
        |SELECT doc_id, shard, n_tokens,
        |  shard * 1000000 + cum_before // 512 AS seq_id,
        |  cum_before % 512 AS seq_offset,
        |  (cum_before % 512 + n_tokens > 512) AS straddles
        |FROM c ORDER BY doc_id""".stripMargin,
    "q35_chunks" ->
      """SELECT doc_id, chunk_idx,
        |  substr(text, chunk_idx * 224 + 1, 256) AS chunk_text,
        |  CAST(len(substr(text, chunk_idx * 224 + 1, 256)) AS INT) AS chunk_len
        |FROM (
        |  SELECT doc_id, text,
        |    CAST(unnest(range(0, greatest(CAST(ceil((len(text) - 32) / 224.0) AS BIGINT), 1))) AS INT) AS chunk_idx
        |  FROM documents
        |) ORDER BY doc_id, chunk_idx""".stripMargin,
    "q36_decontam" ->
      (OracleSql.winnowingCte + ",\n" + OracleSql.trainSplitCte + """,
        |fsp AS (SELECT f.doc_id, f.fp, s.split FROM wfps f JOIN spl s USING (doc_id)),
        |hot AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fsp GROUP BY 1) WHERE df > 20),
        |cool AS (SELECT * FROM fsp WHERE fp NOT IN (SELECT fp FROM hot))
        |SELECT t.doc_id AS test_doc_id, r.doc_id AS train_doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM cool t JOIN cool r ON t.fp = r.fp AND t.split = 'test' AND r.split = 'train'
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin),
    // q50 is the SAME relation as q36's pair set, summarized per train
    // doc — the bloom prefilter is a cost optimization with no semantic
    // footprint (no false negatives; false positives die in the verify
    // join), so the oracle needs no bloom model
    "q50_bloom_decontam" ->
      (OracleSql.winnowingCte + ",\n" + OracleSql.trainSplitCte + """,
        |fsp AS (SELECT f.doc_id, f.fp, s.split FROM wfps f JOIN spl s USING (doc_id)),
        |hot AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fsp GROUP BY 1) WHERE df > 20),
        |cool AS (SELECT * FROM fsp WHERE fp NOT IN (SELECT fp FROM hot)),
        |cp AS (
        |  SELECT t.doc_id AS test_doc_id, r.doc_id AS train_doc_id,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM cool t JOIN cool r ON t.fp = r.fp AND t.split = 'test' AND r.split = 'train'
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT train_doc_id,
        |  CAST(count(DISTINCT test_doc_id) AS BIGINT) AS n_test_docs,
        |  max(n_shared) AS max_shared
        |FROM cp GROUP BY 1 ORDER BY 1""".stripMargin),
    "q49_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |pos AS (
        |  SELECT doc_id, toks, CAST(unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS INT) AS i
        |  FROM toks
        |),
        |passages AS (
        |  SELECT doc_id, i - 1 AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS passage_hash
        |  FROM pos
        |),
        |dup AS (
        |  SELECT passage_hash FROM passages GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        |),
        |dpos AS (
        |  SELECT p.doc_id, p.pos FROM passages p JOIN dup d USING (passage_hash)
        |),
        |fl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM dpos
        |),
        |sp AS (
        |  SELECT doc_id, pos,
        |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |                        ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM fl
        |)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_windows,
        |  max(pos) + 7 - min(pos) + 1 AS span_tokens
        |FROM sp GROUP BY doc_id, span_id ORDER BY doc_id, span_start""".stripMargin,
    "q51_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS token FROM toks) GROUP BY 1, 2
        |),
        |dfd AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM toks) GROUP BY 1
        |),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfd.df,
        |    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE)
        |      / CAST(dfd.df + 1 AS DOUBLE) AS score
        |  FROM tf JOIN dfd USING (token) CROSS JOIN n
        |),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, token) AS INT) AS rank
        |  FROM s
        |)
        |SELECT doc_id, token, tf, df, score, rank
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "q52_corpus_filter" ->
      (OracleSql.winnowingCte + ",\n" + OracleSql.trainSplitCte + s""",
        |fsp AS (SELECT f.doc_id, f.fp, s.split FROM wfps f JOIN spl s USING (doc_id)),
        |hot AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fsp GROUP BY 1) WHERE df > 20),
        |cool AS (SELECT * FROM fsp WHERE fp NOT IN (SELECT fp FROM hot)),
        |cp AS (
        |  SELECT t.doc_id AS test_doc_id, r.doc_id AS train_doc_id
        |  FROM cool t JOIN cool r ON t.fp = r.fp AND t.split = 'test' AND r.split = 'train'
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |),
        |contam AS (SELECT DISTINCT train_doc_id AS doc_id FROM cp),
        |fpt AS (
        |  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents
        |),
        |dup AS (
        |  SELECT doc_id,
        |    doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_exact_dup
        |  FROM fpt
        |),
        |qt AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |qual AS (
        |  SELECT doc_id,
        |    (len(toks) >= 10
        |      AND CAST(len(list_filter(toks, x -> list_contains(${OracleSql.stopwordList}, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) > 0.01
        |      AND (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[.,;:!?''"]', '', 'g')) AS DOUBLE)) / CAST(len(text) AS DOUBLE) < 0.2
        |      AND (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)) / CAST(len(text) AS DOUBLE) < 0.2
        |      AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) > 0.1) AS passes_quality
        |  FROM qt
        |)
        |SELECT d.doc_id, s.split, q.passes_quality, u.is_exact_dup,
        |  (c.doc_id IS NOT NULL) AS is_contaminated,
        |  (s.split = 'train' AND q.passes_quality AND NOT u.is_exact_dup
        |    AND c.doc_id IS NULL) AS kept
        |FROM documents d
        |JOIN spl s USING (doc_id)
        |JOIN qual q USING (doc_id)
        |JOIN dup u USING (doc_id)
        |LEFT JOIN contam c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    "q53_dedup_clean" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |pos AS (
        |  SELECT doc_id, toks, CAST(unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS INT) AS i
        |  FROM toks
        |),
        |passages AS (
        |  SELECT doc_id, i - 1 AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS passage_hash
        |  FROM pos
        |),
        |dup AS (
        |  SELECT passage_hash FROM passages GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        |),
        |dpos AS (
        |  SELECT p.doc_id, p.pos FROM passages p JOIN dup d USING (passage_hash)
        |),
        |fl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM dpos
        |),
        |sp AS (
        |  SELECT doc_id, pos,
        |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |                        ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM fl
        |),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
        |  FROM sp GROUP BY doc_id, span_id
        |),
        |tk AS (
        |  SELECT doc_id, toks, CAST(unnest(range(1, len(toks) + 1)) AS INT) AS i
        |  FROM toks
        |),
        |tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok FROM tk),
        |keep AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM tok t
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM spans s
        |    WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.span_start AND s.span_end)
        |),
        |reb AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_tokens_kept
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  COALESCE(r.clean_text, '') AS clean_text,
        |  CAST(len(t2.toks) AS BIGINT) AS n_tokens,
        |  COALESCE(r.n_tokens_kept, 0) AS n_tokens_kept,
        |  CAST(len(t2.toks) AS BIGINT) - COALESCE(r.n_tokens_kept, 0) AS n_tokens_removed
        |FROM documents d
        |JOIN toks t2 USING (doc_id)
        |LEFT JOIN reb r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q54_corpus_report" ->
      (OracleSql.winnowingCte + ",\n" + OracleSql.trainSplitCte + s""",
        |fsp AS (SELECT f.doc_id, f.fp, s.split FROM wfps f JOIN spl s USING (doc_id)),
        |hot AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fsp GROUP BY 1) WHERE df > 20),
        |cool AS (SELECT * FROM fsp WHERE fp NOT IN (SELECT fp FROM hot)),
        |cp AS (
        |  SELECT t.doc_id AS test_doc_id, r.doc_id AS train_doc_id
        |  FROM cool t JOIN cool r ON t.fp = r.fp AND t.split = 'test' AND r.split = 'train'
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |),
        |contam AS (SELECT DISTINCT train_doc_id AS doc_id FROM cp),
        |fpt AS (
        |  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents
        |),
        |dup AS (
        |  SELECT doc_id,
        |    doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_exact_dup
        |  FROM fpt
        |),
        |qt AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |qual AS (
        |  SELECT doc_id,
        |    (len(toks) >= 10
        |      AND CAST(len(list_filter(toks, x -> list_contains(${OracleSql.stopwordList}, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) > 0.01
        |      AND (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[.,;:!?''"]', '', 'g')) AS DOUBLE)) / CAST(len(text) AS DOUBLE) < 0.2
        |      AND (CAST(len(text) AS DOUBLE) - CAST(len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)) / CAST(len(text) AS DOUBLE) < 0.2
        |      AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) > 0.1) AS passes_quality
        |  FROM qt
        |),
        |dec AS (
        |  SELECT d.doc_id, d.lang, s.split,
        |    (s.split = 'train' AND q.passes_quality AND NOT u.is_exact_dup
        |      AND c.doc_id IS NULL) AS kept,
        |    CAST(len(t.toks) AS BIGINT) AS n_tokens
        |  FROM documents d
        |  JOIN spl s USING (doc_id)
        |  JOIN qual q USING (doc_id)
        |  JOIN dup u USING (doc_id)
        |  JOIN qt t USING (doc_id)
        |  LEFT JOIN contam c USING (doc_id)
        |)
        |SELECT lang, split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS n_kept_tokens
        |FROM dec GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q55_top_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |pos AS (
        |  SELECT doc_id, toks, CAST(unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS INT) AS i
        |  FROM toks
        |),
        |grams AS (SELECT array_to_string(toks[i:i+2], ' ') AS gram FROM pos)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n
        |FROM grams GROUP BY 1 ORDER BY n DESC, gram LIMIT 100""".stripMargin,
    "q56_semantic_clusters" -> OracleSql.semanticClustersOracle(threshold = 0.4),
    "q57_source_overlap" ->
      (OracleSql.winnowingCte + """,
        |hotw AS (
        |  SELECT fp FROM (SELECT fp, count(*) AS df FROM wfps GROUP BY 1)
        |  WHERE df > 20
        |),
        |coolw AS (SELECT * FROM wfps WHERE fp NOT IN (SELECT fp FROM hotw)),
        |sfp AS (
        |  SELECT DISTINCT d.source, c.fp
        |  FROM coolw c JOIN documents d USING (doc_id)
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_fingerprints
        |FROM sfp a JOIN sfp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q58_len_percentiles" ->
      """WITH lens AS (
        |  SELECT lang,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |hist AS (
        |  SELECT lang, n_tokens, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lens GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT lang, n_tokens, cnt,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY n_tokens
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(cnt) OVER (PARTITION BY lang) AS n
        |  FROM hist
        |)
        |SELECT lang,
        |  CAST(max(n) AS BIGINT) AS n_docs,
        |  min(CASE WHEN cum >= (1 * n + 1) // 2 THEN n_tokens END) AS p50_tokens,
        |  min(CASE WHEN cum >= (9 * n + 9) // 10 THEN n_tokens END) AS p90_tokens,
        |  min(CASE WHEN cum >= (99 * n + 99) // 100 THEN n_tokens END) AS p99_tokens,
        |  min(n_tokens) AS min_tokens,
        |  max(n_tokens) AS max_tokens
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin,
    "q59_token_budget" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |    CAST(md5_number_lower(CAST(doc_id AS VARCHAR) || ':budget')
        |         & CAST(9223372036854775807 AS UBIGINT) AS BIGINT) AS h
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM b
        |)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  cum_tokens <= 2000 AS kept
        |FROM c ORDER BY doc_id""".stripMargin,
    "q40_media_stats" ->
      (OracleSql.syntheticMediaCte + """
        |SELECT doc_id, media_type, width, height, hex AS payload_hex
        |FROM media ORDER BY doc_id""".stripMargin),
    "q41_frame_sample" ->
      (OracleSql.syntheticMediaCte + """
        |SELECT doc_id, frame_idx,
        |  substr(hex, frame_idx * 64 + 1, 64) AS frame_hex
        |FROM (
        |  SELECT doc_id, hex,
        |    CAST(unnest(range(0, CAST(floor((octet_length(unhex(hex)) - 1) / 32) AS BIGINT) + 1)) AS INT) AS frame_idx
        |  FROM media WHERE media_type = 'video'
        |) ORDER BY doc_id, frame_idx""".stripMargin)
  )
}
