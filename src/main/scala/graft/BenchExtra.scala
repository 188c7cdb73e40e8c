package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.PipelineConfig
import graft.sources.{TranscriptGen, Transcripts}

/** Extra (non-graded) benchmarks for optimization work — guide §1.4:
  * isolate computations with the noop sink so the timing covers every
  * column of every row and no sink cost, and break the pipeline entries
  * into per-output timings so the expensive stage is attributable.
  *
  * The graded bench ([[Bench]]) is frozen; numbers from here are cited in
  * OPTIMIZATION_r06.md only.
  *
  * Usage:
  *   dev/run.sh graft.BenchExtra pipeline          # per-output pipeline breakdown (gen table)
  *   dev/run.sh graft.BenchExtra pipeline-sf       # same over the sf-derived table
  *   dev/run.sh graft.BenchExtra noop q27_simhash_pairs q32_cosine_pairs
  */
object BenchExtra {

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mode = args.headOption.getOrElse("pipeline")
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    def record[A](name: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(name)
      val (a, sec) = timed(f)
      results(name) = sec
      spark.sparkContext.setJobDescription(null)
      a
    }

    mode match {
      case "pipeline" | "pipeline-sf" =>
        val turns =
          if (mode == "pipeline-sf") Transcripts.fromEvents(spark, sfDir)
          else TranscriptGen.synthetic(spark, nConvs = 390000L, turnsPerConv = 5,
            hotConvs = 5, hotFactor = 10000)
        // construction is a recorded part (it runs no job; the caches fill
        // in the counts below) — totals stay comparable with Bench's
        // timed(forceAll(Pipeline.run(...)))
        val out = record("run.construct")(Pipeline.run(spark, turns, PipelineConfig.default))
        record("enriched.count")(out.enriched.count())
        record("routing.count")(out.routing.count())
        record("routedTurns.count")(out.routedTurns.count())
        record("traceCounts.count")(out.traceCounts.count())
        record("sampledTraceCounts.count")(out.sampledTraceCounts.count())
        record("spanCounts.count")(out.spanCounts.count())
        record("sampledSpanCounts.count")(out.sampledSpanCounts.count())
        record("redRollup.count")(out.redRollup.count())
        record("latencyHistogram.count")(out.latencyHistogram.count())
        record("unpersistAll")(out.unpersistAll())
      case "rollup" =>
        // cardinality probe: how big is the shared fine rollup vs its
        // derived tables at generator scale (sizing evidence for the
        // rollup-tree design)
        val turns = TranscriptGen.synthetic(spark, nConvs = 390000L, turnsPerConv = 5,
          hotConvs = 5, hotFactor = 10000)
        val enriched = graft.operators.Enrich.enriched(turns, spark, PipelineConfig.default)
        val raw = graft.operators.Aggregates.fineRollupRaw(enriched, PipelineConfig.default)
        val n = record("fineRollupRaw.count")(raw.count())
        println(s"fineRollupRaw rows=$n")
        val red = record("redRollup.direct.count")(
          graft.operators.Aggregates.redRollup(enriched).count())
        println(s"redRollup rows=$red")
      case "sqlaudit" =>
        // VERDICT r5 #5: do the unthresholded ranked views behind the SQL
        // table functions still execute the TVF's rank filter as a
        // WindowGroupLimit (bounded per-partition heaps), or does a SQL
        // user's graft_ann_topk(3) rank the entire corpus per query?
        SqlSurface.registerDocOps(spark, sfDir)
        Seq(
          "ann_topk" -> "SELECT * FROM graft_ann_topk(3)",
          "tfidf_topk" -> "SELECT * FROM graft_tfidf_topk(3)",
          "minhash_at" -> "SELECT * FROM graft_minhash_pairs_at(0.7)"
        ).foreach { case (name, sql) =>
          val df = spark.sql(sql)
          df.collect()
          val plan = df.queryExecution.executedPlan.toString
          val wgl = plan.linesIterator.count(_.contains("WindowGroupLimit"))
          val win = plan.linesIterator.count(_.contains("Window ["))
          println(s"[sqlaudit] $name WindowGroupLimit=$wgl Window=$win")
        }
      case "noop" =>
        args.drop(1).foreach { q =>
          record(q)(noop(SparkEntry.queries(q)(spark, sfDir)))
        }
      case other =>
        System.err.println(s"unknown mode $other")
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"bench_extra","mode":"$mode","total":${results.values.sum},"parts":$qs}""")
    CacheBook.release()
    spark.stop()
  }
}
