package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.model.PipelineConfig
import graft.sources.Transcripts

/** Building a plan runs no Spark job: caches are filled by the first
  * action that reads them (see CacheBook), so the only construction-time
  * jobs are the parquet sources' schema reads. */
class ConstructionSpec extends SparkTestBase {

  /** Jobs this thread starts while running `f`. A fence job submitted
    * after `f` marks the end: the listener bus delivers job starts in
    * order, so every job of `f` is counted once the fence is seen. */
  private def jobsStartedBy(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"construct-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group) {
          if (p.getProperty("spark.job.description") == "fence") fence.countDown()
          else jobs.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "construct")
    try {
      f
      sc.setJobDescription("fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fence.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("building the pipeline over a built turns relation starts no job") {
    val turns = Transcripts.fromEvents(spark, smallSfDir)
    val jobs = jobsStartedBy(Pipeline.run(spark, turns, PipelineConfig.default))
    assert(jobs == 0)
    CacheBook.release()
  }

  test("building the routing queries starts only their parquet source reads") {
    val perSource = jobsStartedBy(Transcripts.fromEvents(spark, smallSfDir))
    // sources read: q04/q07 the routing relation's one, q05/q14 a second
    // one for the turns or the span relation they join routing to
    val sources = Map(
      "q04_routing" -> 1, "q05_sink_rows" -> 2,
      "q07_sampled_counts" -> 1, "q14_sampled_span_counts" -> 2)
    sources.foreach { case (q, n) =>
      val jobs = jobsStartedBy(SparkEntry.queries(q)(spark, smallSfDir))
      assert(jobs == n * perSource, s"$q started $jobs jobs, expected $n source read(s) of $perSource")
    }
    CacheBook.release()
  }
}
