package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, TakeOrderedAndProjectExec, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.model.PipelineConfig
import graft.operators.{Assemble, Corpus, Dedup, Similarity, TextAnalysis}
import graft.sources.{DocGen, Transcripts}

/** Layer-by-layer cost probe: each named relation is written to the
  * `noop` sink (every column of every row computed, no sink cost) and
  * reported as one JSON line — wall time, the planning phases of
  * `QueryExecution.tracker`, and what the write's AQE-final executed plan
  * did, read node by node: shuffle exchanges, reused exchanges,
  * whole-stage-codegen stages, the root's output rows, shuffle bytes
  * written, spill and peak memory. The plan tree goes to stderr.
  *
  * Usage (cores from `SPARK_GRAFT_CPUS`, sf tables from `SPARK_GRAFT_SF_DIR`):
  * {{{
  *   dev/run.sh graft.Probe pipeline gen|sf [output...]  # each PipelineOutputs relation
  *   dev/run.sh graft.Probe q04_routing q09_red          # SparkEntry.queries entries
  *   dev/run.sh graft.Probe docs 20000 [op...]           # document operators, generated corpus
  * }}}
  */
final class Probe(spark: SparkSession) extends AutoCloseable {

  // The QueryExecution of each completed write: an overwrite-mode save to a
  // v2 source (noop) reports as "overwrite".
  private val writes = new LinkedBlockingQueue[QueryExecution]()
  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName == "overwrite") writes.put(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }
  spark.listenerManager.register(listener)

  // Cached plans already charged to a write: a cache's fill is counted in
  // the first write that reads it (the one that filled it), never again.
  private val charged = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  /** Every node of an executed plan: through AQE's final plan and its query
    * stages, into subqueries, and into cached plans not yet charged. */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan).filter(charged.add)
      case _ => p.children ++ p.subqueries
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }

  /** Rows the plan's root produced: the topmost row counter on the spine
    * (the nodes above it — projects, sorts, writes — keep the row count).
    * An exchange counts the records it wrote: a range exchange samples its
    * input in an extra pass, which doubles the `numOutputRows` below it.
    * A top-k keeps at most k of its input (its own shuffle counter reads 0
    * under a write). -1 when the spine has no counter. */
  private def rowsOut(p: SparkPlan): Long = p match {
    case t: TakeOrderedAndProjectExec =>
      math.max(0L, math.min(t.limit.toLong, rowsOut(t.child)) - t.offset)
    case _ =>
      Seq("numOutputRows", "shuffleRecordsWritten").flatMap(p.metrics.get).headOption
        .map(_.value).getOrElse(p match {
          case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
          case s: QueryStageExec => rowsOut(s.plan)
          case u: UnionExec => u.children.map(rowsOut).sum
          case _ => p.children.headOption.fold(-1L)(rowsOut)
        })
  }

  /** Mark the cached plans `df` reads as charged (inputs filled before
    * any timed write). */
  def precharge(df: DataFrame): Unit = nodes(df.queryExecution.executedPlan).foreach(_ => ())

  /** Build `df`, write it to `noop`, and return the JSON line. */
  def apply(source: String, name: String)(df: => DataFrame): String = {
    writes.clear()
    val (_, wall) = Bench.timed(df.write.format("noop").mode("overwrite").save())
    val qe = Option(writes.poll(60, TimeUnit.SECONDS))
      .getOrElse(sys.error(s"no write event for $name"))
    val plan = qe.executedPlan
    System.err.println(s"== $source $name ==\n${plan.treeString}")
    val all = nodes(plan).toSeq
    def total(metric: String, in: Seq[SparkPlan] = all): Long =
      in.flatMap(_.metrics.get(metric)).map(_.value).sum
    val shuffles = all.collect { case s: ShuffleExchangeExec => s }
    val phases = qe.tracker.phases.toSeq.sortBy(_._1)
      .map { case (phase, s) => s"${Verify.jstr(phase + "_s")}:${s.durationMs / 1e3}" }
    (Seq(
      s""""probe":${Verify.jstr(source)}""",
      s""""name":${Verify.jstr(name)}""",
      s""""wall_s":$wall""") ++ phases ++ Seq(
      s""""shuffles":${shuffles.size}""",
      s""""reused_exchanges":${all.count(_.isInstanceOf[ReusedExchangeExec])}""",
      s""""codegen_stages":${all.count(_.isInstanceOf[WholeStageCodegenExec])}""",
      s""""rows_out":${rowsOut(plan)}""",
      s""""shuffle_bytes":${total("shuffleBytesWritten", shuffles)}""",
      s""""spill_bytes":${total("spillSize")}""",
      s""""peak_mem_bytes":${total("peakMemory")}"""
    )).mkString("{", ",", "}")
  }

  override def close(): Unit = spark.listenerManager.unregister(listener)
}

object Probe {

  /** The document-operator table over a generated corpus of `nDocs`. */
  private def docOps(docs: DataFrame, embs: DataFrame, nDocs: Long)
      : Seq[(String, () => DataFrame)] = {
    // planted near-dup groups span sources (consecutive doc_ids, mod-20
    // source) so cross-source shared fingerprints exist by construction
    val srcDocs = docs.withColumn(
      "source", concat(lit("s"), pmod(col("doc_id"), lit(20)).cast("string")))
    val queries = embs.filter(col("vec_id") < 50)
    // bucket count must track corpus size: nPlanes ~ log2(n) keeps the
    // expected bucket occupancy (and so the candidate volume) flat — the
    // default 6 planes = 64 buckets is a test-scale setting
    val nPlanes = math.max(6, (math.log(nDocs.toDouble / 10) / math.log(2)).ceil.toInt)
    Seq[(String, () => DataFrame)](
      "exact_dedup" -> (() => Dedup.exact(docs).filter(col("is_duplicate"))),
      // mega-duplicate-group skew case: plant ONE fingerprint group holding
      // half the corpus (the 10^8x-duplicated boilerplate page of a real
      // crawl). The groupBy+join-back form must stay flat — the former
      // raw-row window over `fingerprint` funneled the whole group through
      // a single task.
      "exact_dedup_megagroup" -> (() => Dedup.exact(docs.withColumn(
        "text",
        when(pmod(col("doc_id"), lit(2)) === 0, lit("same boilerplate page"))
          .otherwise(col("text")))).filter(col("is_duplicate"))),
      "minhash_pairs" -> (() => Dedup.minhashLshPairs(docs, w = 3, minEstimate = 0.5)),
      "simhash_pairs" -> (() => Dedup.simhashPairs(docs, maxHamming = 6)),
      "jaccard_pairs" -> (() =>
        Dedup.ngramJaccardPairs(docs, w = 3, minJaccard = 0.5, maxDocFreq = 50)),
      "winnowing" -> (() => Dedup.winnowingFingerprints(docs)),
      "dup_clusters" -> (() =>
        Dedup.duplicateClusters(docs, Dedup.minhashLshPairs(docs, w = 3, minEstimate = 0.5))
          .filter(!col("is_canonical"))),
      "decontam" -> (() => Dedup.decontaminationPairs(docs, maxDocFreq = 50)),
      "pack" -> (() => Assemble.packSequences(docs)),
      "chunks" -> (() => Assemble.chunk(docs)),
      "token_stats" -> (() => TextAnalysis.tokenStats(docs)),
      "dup_span_removal" -> (() =>
        TextAnalysis.removeDuplicateSpans(docs).filter(col("n_tokens_removed") > 0)),
      "top_ngrams" -> (() => TextAnalysis.topNgrams(docs)),
      "len_percentiles" -> (() => TextAnalysis.lengthPercentiles(docs)),
      "token_budget" -> (() =>
        Corpus.tokenBudgetSample(docs, budgetTokens = nDocs * 40L).filter(col("kept"))),
      "source_overlap" -> (() => Corpus.sourceOverlap(srcDocs, maxDocFreq = 50)),
      // embedding-side operators at the same scale (planted-group vectors)
      "ann_lsh_topk" -> (() => Similarity.lshTopK(embs, queries, k = 5)),
      "ann_ivf_topk" -> (() => Similarity.ivfTopK(embs, queries, k = 5)),
      "cosine_pairs" -> (() => Similarity.nearDupPairs(embs, threshold = 0.9, nPlanes = nPlanes)),
      "semantic_clusters" -> (() =>
        Similarity.semanticClusters(embs, threshold = 0.9, nPlanes = nPlanes)
          .filter(!col("is_canonical")))
    )
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Probe pipeline gen|sf [output...] | docs N [op...] | qNN...")
    lazy val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to an sf parquet directory"))
    val spark = LocalSpark.session()
    val probe = new Probe(spark)
    // the named relations of `table` in the order given (all when none is)
    def run(source: String, table: Seq[(String, () => DataFrame)], names: Seq[String]): Unit = {
      val byName = table.toMap
      val unknown = names.filterNot(byName.contains)
      require(unknown.isEmpty, s"not in $source: ${unknown.mkString(", ")}")
      (if (names.isEmpty) table.map(_._1) else names)
        .foreach(n => println(probe(source, n)(byName(n)())))
    }
    try args.head match {
      case "pipeline" =>
        val turns = args(1) match {
          case "gen" => Bench.genTable(spark)
          case "sf" => Transcripts.fromEvents(spark, sfDir)
        }
        val out = Pipeline.run(spark, turns, PipelineConfig.default)
        val outputs = out.productElementNames.zip(out.productIterator)
          .collect { case (n, df: Dataset[_]) => n -> (() => df.toDF()) }.toSeq
        run(s"pipeline ${args(1)}", outputs, args.toSeq.drop(2))
      case "docs" =>
        val nDocs = args(1).toLong
        val telemetry = Telemetry.register(spark)
        val docs = DocGen.synthetic(spark, nDocs).cache()
        val embs = DocGen.syntheticEmbeddings(spark, nDocs).cache()
        val nd = docs.count() // generation outside the timed ops
        embs.count()
        Seq(docs, embs).foreach(probe.precharge)
        run(s"docs $nDocs", docOps(docs, embs, nDocs), args.toSeq.drop(2))
        println(s"""{"probe":"docs $nDocs","n_docs":$nd,"telemetry":${telemetry.toJson}}""")
      case _ =>
        val queries = SparkEntry.queries.toSeq.map { case (q, fn) => q -> (() => fn(spark, sfDir)) }
        run(s"queries $sfDir", queries, args.toSeq)
    } finally {
      probe.close()
      CacheBook.release()
      spark.stop()
    }
  }
}
