package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.functions._

/** The SQL surface: operators compose from `spark.sql` over the
  * registered `graft_*` views and native SQL functions, returning the
  * same results as the Scala API. */
class SqlSurfaceSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"

  test("pipeline views: routing + enriched compose in SQL and match the API") {
    SqlSurface.registerPipeline(spark, sfDir)
    // operator 1 via SQL: trace counts from the routing view
    val sqlCounts = spark
      .sql("SELECT env, site, count(*) AS trace_count FROM graft_routing GROUP BY env, site")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val apiCounts = graft.operators.Aggregates
      .traceCounts(graft.operators.Route.convRouting(
        graft.operators.Enrich.enriched(
          graft.sources.Transcripts.fromEvents(spark, sfDir), spark)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(sqlCounts == apiCounts && sqlCounts.nonEmpty)
    // operator 2 via SQL: a JOIN across two registered views (sampled
    // span counts re-expressed in SQL over enriched x routing)
    val sampled = spark.sql(
      """SELECT e.service, count(*) AS n
        |FROM graft_enriched e
        |JOIN (SELECT conv_id FROM graft_routing WHERE kept) r USING (conv_id)
        |GROUP BY e.service""".stripMargin)
    assert(sampled.count() > 0)
    // the scrape view renders exposition lines
    val lines = spark.sql(
      "SELECT line FROM graft_prom_text WHERE line LIKE 'asserts_trace_count_total%'")
    assert(lines.count() > 0)
  }

  test("doc-op views + native SQL functions match the API") {
    SqlSurface.registerDocOps(spark, sfDir)
    val sqlDups = spark
      .sql("SELECT count(*) FROM graft_dedup_exact WHERE is_duplicate")
      .collect().head.getLong(0)
    val apiDups = graft.operators.Dedup
      .exact(spark.read.parquet(s"$sfDir/documents.parquet"))
      .filter(col("is_duplicate")).count()
    assert(sqlDups == apiDups)
    // native codegen expressions are SQL-callable
    val h = spark.sql("SELECT md5lower64('abc') AS h, simhash64('a b c') AS s").collect().head
    assert(h.schema.fieldNames.toSeq == Seq("h", "s"))
    // grok_extract composes in SQL with named-capture struct output
    val g = spark.sql(
      """SELECT grok_extract('dur=12ms', 'dur=(?<ms>[0-9]+)ms').ms AS ms""").collect().head
    assert(g.getString(0) == "12")
  }

  test("parameterized table functions: query-time arguments match the Scala API") {
    SqlSurface.registerPipeline(spark, sfDir)
    SqlSurface.registerDocOps(spark, sfDir)
    // sessionize at a NON-registration gap (45 min) — the TVF argument
    // reaches the native session_window, not a baked-in constant
    val sqlS = spark.sql("SELECT * FROM graft_sessionize(45)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val apiS = graft.operators.Sessions
      .sessionize(spark.read.parquet(s"$sfDir/events.parquet"), gapMinutes = 45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(sqlS == apiS && sqlS.nonEmpty)
    // a second gap gives a different sessionization (argument is live)
    val sqlS5 = spark.sql("SELECT count(*) FROM graft_sessionize(5)").collect().head.getLong(0)
    assert(sqlS5 != sqlS.size.toLong)
    // minhash pairs at the API's registration threshold
    val sqlM = spark.sql("SELECT doc_a, doc_b FROM graft_minhash_pairs_at(0.5D)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val apiM = graft.operators.Dedup
      .minhashLshPairs(spark.read.parquet(s"$sfDir/documents.parquet"), minEstimate = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlM == apiM)
    // ANN top-k with query-time k
    val sqlA = spark.sql("SELECT q_id, n_id FROM graft_ann_topk(3)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val apiA = graft.operators.Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlA == apiA && sqlA.nonEmpty)
    // decontamination with query-time evidence bar
    val sqlD = spark.sql(
      "SELECT test_doc_id, train_doc_id FROM graft_decontam_at(2)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val apiD = graft.operators.Dedup
      .decontaminationPairs(spark.read.parquet(s"$sfDir/documents.parquet"), minShared = 2)
      .select("test_doc_id", "train_doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlD == apiD)
    // token budget with query-time budget (cum relation is budget-free)
    val sqlB = spark.sql("SELECT doc_id, kept FROM graft_token_budget(2000)")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val apiB = graft.operators.Corpus
      .tokenBudgetSample(spark.read.parquet(s"$sfDir/documents.parquet"), budgetTokens = 2000L)
      .select("doc_id", "kept").collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(sqlB == apiB && sqlB.exists(_._2) && sqlB.exists(!_._2))
  }

  test("round-5 views: tfidf table function, dup spans, corpus filter match the API") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sqlT = spark.sql("SELECT doc_id, token, rank FROM graft_tfidf_topk(3)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val apiT = graft.operators.TextAnalysis.tfidfTopK(docs, k = 3)
      .select("doc_id", "token", "rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(sqlT == apiT && sqlT.nonEmpty)
    val sqlS = spark.sql(
      "SELECT doc_id, span_start, span_end FROM graft_dup_spans")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val apiS = graft.operators.TextAnalysis.duplicateSpans(docs)
      .select("doc_id", "span_start", "span_end")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(sqlS == apiS)
    val keptSql = spark.sql("SELECT count(*) FROM graft_corpus_filter WHERE kept").head().getLong(0)
    val keptApi = graft.operators.Corpus.corpusFilter(docs)
      .filter(col("kept")).count()
    assert(keptSql == keptApi && keptSql > 0)
  }

  test("top-k table functions run their rank filter as a WindowGroupLimit over the unthresholded views") {
    SqlSurface.registerDocOps(spark, sfDir)
    Seq("graft_ann_topk(3)", "graft_tfidf_topk(3)").foreach { tvf =>
      val df = spark.sql(s"SELECT * FROM $tvf")
      df.collect()
      val limits = collect(df.queryExecution.executedPlan) { case w: WindowGroupLimitExec => w }
      assert(limits.nonEmpty, s"$tvf ranks the whole corpus: no WindowGroupLimit in its plan")
    }
  }
}
