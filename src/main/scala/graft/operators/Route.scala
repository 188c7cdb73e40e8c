package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.PipelineConfig

/** Route stage: per-conversation error/slow/normal classification, request
  * cardinality caps, and top-K retention — the Spark re-expression of the
  * reference's sampler (reference: assertsprocessor/sampler.go:56-182,
  * service_queue.go:39-75, priority_queue.go:38-96).
  *
  * Semantics preserved (made deterministic via total order
  * (segment first-turn, class rank, turn_idx) — the reference depends on
  * arrival order):
  *   - a segment = the turns of one conversation for one service
  *     (utils.go:69-77); its main span is the first of root > entries >
  *     exits (trace.go:37-44); segments without a main span are skipped;
  *   - per non-internal span in order: an error span (minus ignorable
  *     client errors) routes the WHOLE conversation as `error`, else a
  *     slow span routes it as `slow`; first match wins and the routed
  *     (entity, request, latency) come from that span's segment
  *     (sampler.go:56-117);
  *   - conversations matching neither are normal-sampled: one per
  *     (entity, request) per sampling window, keyed by the first segment
  *     with a main span (sampler.go:119-182, periodic_sampler.go:13-31);
  *   - at most `limitPerService` distinct request contexts per entity
  *     (first-seen order); conversations routed to requests beyond the
  *     cap are dropped (service_queue.go:39-75);
  *   - per (entity, request): the error queue and the slow queue (slow +
  *     normal samples share it, sampler.go:171) each retain the top-K
  *     highest-latency conversations (priority_queue.go:38-96).
  *
  * Scale notes: segment windows shuffle on (conv_id, service) and the
  * conversation fold is a groupBy(conv_id) partial-aggregable min-of-struct
  * — both scale linearly and AQE handles skewed conversations; the
  * post-fold windows (sampling, cap, top-K) run on the conversation-level
  * relation, which is |convs| rows, orders of magnitude smaller than the
  * input. Top-K uses row_number <= K, which Spark rewrites to
  * WindowGroupLimit (no full sort per partition).
  */
object Route {

  /** Conversation-level fold — one row per conversation with its picked
    * main-span dims, BEFORE the cap / sampling / top-K stages.
    * Row-identical to [[convRouting]] output (every later stage only adds
    * columns: the rank dim join matches all rows by construction and the
    * windows are projections), so consumers that need conversation rows
    * but no routing decision — the trace counter, q17's scrape — read
    * this and skip the window stages entirely.
    *
    * Implemented as TWO stacked partial-aggregable hash aggregations
    * (span -> segment, segment -> conversation) instead of the previous
    * segment-groupBy + join-back-to-spans + conv-groupBy (guide §2.4:
    * remove shuffles outright): the join back shuffled every span row a
    * second time (wide rows, SMJ sort on (conv_id, service)) only so the
    * conv fold could re-read segment-level values that are min-of-struct
    * aggregable directly. Correctness argument, per field:
    *   - a segment's main span is the min (class_rank, turn_idx) among
    *     its non-internal spans (trace.go:37-44) -> min(mainStruct);
    *   - the conv's first flagged span minimizes (seg_first_idx,
    *     class_rank, turn_idx) over flagged spans; turn_idx is unique
    *     within a conversation, so the min distributes over segments:
    *     min over segments of (seg_first_idx, min over that segment's
    *     flagged spans of (class_rank, turn_idx, flag));
    *   - the seg_has_main gate on span flags is segment-level, so it is
    *     applied AFTER the segment aggregation (a segment without a main
    *     span contributes no flag candidate);
    *   - entity_key/env/site/namespace are functions of the service dim
    *     join, constant within a (conv_id, service) segment -> min();
    *   - the routed request/latency/ts come from the picked span's
    *     SEGMENT (sampler.go:96-117), i.e. from that segment's seg_main.
    * The map-side partial aggregation also makes hot conversations
    * (10^8-turn loops) collapse per input partition before any shuffle —
    * the skew story the old join-back needed AQE skew-split for.
    */
  def convDims(enriched: DataFrame): DataFrame = {
    val classRank =
      when(col("span_class") === "root", 0)
        .when(col("span_class") === "entry", 1)
        .when(col("span_class") === "exit", 2)
        .otherwise(3)
    val withRank = enriched.withColumn("class_rank", classRank)
    // main span candidate = lexicographic min of (class_rank, turn_idx)
    // among non-internal spans (trace.go:37-44 first-of root>entries>exits)
    val mainStruct = when(
      col("class_rank") < 3,
      struct(
        col("class_rank"), col("turn_idx"),
        col("latency_secs"), col("request_context"), col("ts")
      )
    )
    // per-span routing flag (error precedence, then slow) — the
    // segment-has-main gate is applied post-aggregation below
    val flagVal =
      when(col("error_routable"), "error").when(col("is_slow_span"), "slow")
    val flagStruct = when(
      col("class_rank") < 3 && flagVal.isNotNull,
      struct(col("class_rank"), col("turn_idx"), flagVal.as("flag"))
    )
    val segments = withRank
      .groupBy("conv_id", "service")
      .agg(
        min("turn_idx").as("seg_first_idx"),
        min(mainStruct).as("seg_main"),
        min(flagStruct).as("seg_flag"),
        min("ts").as("seg_ts_min"),
        count(lit(1)).as("seg_n_turns"),
        min("entity_key").as("entity_key"),
        min("env").as("env"),
        min("site").as("site"),
        min("namespace").as("namespace")
      )
    // conv-level candidate structs: ordered by (seg_first_idx,
    // class_rank, turn_idx) exactly like the old span-level routeStruct;
    // turn_idx uniqueness within a conversation means the comparison
    // never reads the payload fields, so their values ride along freely.
    def routeStruct(rank: Column, turnIdx: Column, flag: Column) = struct(
      col("seg_first_idx"), rank.as("class_rank"), turnIdx.as("turn_idx"),
      flag.as("flag"),
      col("entity_key"),
      col("seg_main").getField("request_context").as("seg_request"),
      col("seg_main").getField("latency_secs").as("seg_latency"),
      col("seg_main").getField("ts").as("seg_main_ts"),
      col("env"), col("site"), col("namespace"), col("service")
    )
    val segHasMain = col("seg_main").isNotNull
    val flagCandidate = when(
      segHasMain && col("seg_flag").isNotNull,
      routeStruct(
        col("seg_flag").getField("class_rank"),
        col("seg_flag").getField("turn_idx"),
        col("seg_flag").getField("flag")
      )
    )
    val segCandidate = when(
      segHasMain,
      routeStruct(
        col("seg_main").getField("class_rank"),
        col("seg_main").getField("turn_idx"),
        lit(null).cast("string")
      )
    )
    segments
      .groupBy("conv_id")
      .agg(
        min(flagCandidate).as("first_flag"),
        min(segCandidate).as("first_seg"),
        min("seg_ts_min").as("conv_start_ts"),
        sum("seg_n_turns").as("n_turns")
      )
      .withColumn("picked", coalesce(col("first_flag"), col("first_seg")))
      .filter(col("picked").isNotNull) // conversations with no main span anywhere are skipped
      .select(
        col("conv_id"),
        col("conv_start_ts"),
        col("n_turns"),
        col("first_flag").getField("flag").as("flag_type"),
        col("picked").getField("entity_key").as("entity_key"),
        col("picked").getField("seg_request").as("request_context"),
        col("picked").getField("seg_latency").as("latency"),
        col("picked").getField("seg_main_ts").as("main_ts"),
        col("picked").getField("env").as("env"),
        col("picked").getField("site").as("site"),
        col("picked").getField("namespace").as("namespace"),
        col("picked").getField("service").as("service")
      )
  }

  /** Full conversation-level routing: flags -> cardinality cap -> normal
    * sampling -> top-K retention. Returns one row per conversation with
    * `sample_type` (error/slow/normal/null), `sink`
    * (errors/slow/normal/null) and the routed key columns.
    */
  def convRouting(
      enriched: DataFrame,
      cfg: PipelineConfig = PipelineConfig.default,
      @deprecated("ignored: the conversation fold fills lazily on first action", "0.1.0")
      eagerCache: Boolean = false
  ): DataFrame = {
    // cache the tiny conv-level fold (one row per conversation): it feeds
    // the request-rank dim AND the join's left side — uncached, column
    // pruning specializes the two branches into two full span-level
    // aggregation DAGs with no reusable exchange (plan-audited: q04 ran
    // the enrich+segment pipeline twice). Same two-consumer shape as
    // Aggregates.fineRollup, and the same rule (see CacheBook): the cache
    // is lazy, so building the routing relation runs no job and the first
    // action that reads it fills it.
    val conv = graft.CacheBook.cached(convDims(enriched))

    // Request-cardinality cap: rank distinct request contexts per entity by
    // first-seen (min main_ts, then request for determinism); requests
    // ranked beyond the cap drop their conversations. Shares the ONE
    // first-seen-rank implementation with the metric-path cap
    // (Aggregates.firstSeenRank — service_queue.go:39-75 and
    // metric_helper.go:85-141 are the same admit-first-K shape, keyed by
    // entity here and by service_key there). The rank runs over the
    // DISTINCT (entity, request) dim, and the tiny ranked dim joins back
    // (AQE picks broadcast when it is small).
    val requestRank =
      Aggregates.firstSeenRank(conv, "entity_key", "request_context", "main_ts", "request_rank")
    // NULL-SAFE equi-join (<=>): a NULL request_context (possible when a
    // turn has no URL rule match and a NULL tool — Parse's coalesce ends
    // at tool) groups into its own rank-dim row, and the null-unsafe form
    // would silently DROP that conversation here while convDims — feeding
    // the trace counter — keeps it, breaking the documented row-identity
    // between the two. `<=>` keeps the join an equi-join (hash-joinable;
    // EqualNullSafe is a valid hash key) so the plan shape is unchanged.
    val rr = requestRank
      .withColumnRenamed("entity_key", "rr_entity_key")
      .withColumnRenamed("request_context", "rr_request_context")
    val capped = conv
      .join(
        rr,
        col("entity_key") <=> col("rr_entity_key") &&
          col("request_context") <=> col("rr_request_context")
      )
      .drop("rr_entity_key", "rr_request_context")
      .withColumn("request_capped", col("request_rank") > cfg.limitPerService)

    // Normal sampling: among unflagged, uncapped conversations, the first
    // (by main ts, conv_id) per (entity, request, tumbling window).
    // Non-candidate rows get a per-conv spreader key so they do not pile
    // into one fat (entity, request, NULL) window partition — their
    // row_number is masked to NULL anyway, only the partitioning changes.
    val winMicros = cfg.normalSamplingFrequencyMinutes.toLong * 60L * 1000000L
    val sampleW = Window
      .partitionBy(col("entity_key"), col("request_context"), col("sample_win"), col("sample_spread"))
      .orderBy(col("main_ts"), col("conv_id"))
    val sampled = capped
      .withColumn("is_normal_candidate", col("flag_type").isNull && !col("request_capped"))
      .withColumn(
        "sample_win",
        when(col("is_normal_candidate"), expr(s"unix_micros(cast(main_ts as timestamp)) div $winMicros"))
      )
      .withColumn("sample_spread", when(col("is_normal_candidate"), lit("")).otherwise(col("conv_id")))
      .withColumn(
        "normal_rn",
        when(col("is_normal_candidate"), row_number().over(sampleW))
      )
      .withColumn(
        "sample_type",
        when(col("request_capped"), lit(null).cast("string"))
          .when(col("flag_type").isNotNull, col("flag_type"))
          .when(col("normal_rn") === 1, "normal")
      )

    // Top-K retention: error queue, and the shared slow queue (slow +
    // normal), each per (entity, request), keep K highest-latency.
    // Same spreader trick for unqueued rows: masked rows get a per-conv
    // partition key so no fat NULL window partition forms, and the whole
    // conv relation passes the window shuffle exactly once. (A
    // filter/union split that keeps masked rows out of the shuffle was
    // measured 2x SLOWER end-to-end — the union's two arms traverse the
    // conv-level subtree twice and AQE exchange reuse does not recover
    // the second window + join execution.)
    val queueW = Window
      .partitionBy(col("entity_key"), col("request_context"), col("queue_class"), col("queue_spread"))
      .orderBy(col("latency").desc, col("conv_id"))
    sampled
      .withColumn(
        "queue_class",
        when(col("sample_type") === "error", "error")
          .when(col("sample_type").isin("slow", "normal"), "slow")
      )
      .withColumn("queue_spread", when(col("queue_class").isNotNull, lit("")).otherwise(col("conv_id")))
      .withColumn(
        "queue_rn",
        when(col("queue_class").isNotNull, row_number().over(queueW))
      )
      .withColumn("kept", col("queue_rn").isNotNull && col("queue_rn") <= cfg.topKPerRequest)
      .withColumn(
        "sink",
        when(
          col("kept"),
          when(col("sample_type") === "error", "errors")
            .when(col("sample_type") === "slow", "slow")
            .otherwise("normal")
        )
      )
      .drop("sample_win", "sample_spread", "normal_rn", "is_normal_candidate", "queue_spread")
  }

  /** Span-level sink rows: every turn of each retained conversation, tagged
    * with its sink, in stable (conv_id, turn_idx) order — the flush/
    * re-serialization step (utils.go:109-126; per-turn text equality
    * invariant lives here). The routing side is |kept convs| rows and
    * shuffles on conv_id to meet the turns.
    */
  def routedTurns(turns: DataFrame, routing: DataFrame): DataFrame =
    turns.join(
      routing
        .filter(col("kept"))
        .select("conv_id", "sink", "sample_type", "entity_key", "request_context", "latency"),
      Seq("conv_id")
    )
}
