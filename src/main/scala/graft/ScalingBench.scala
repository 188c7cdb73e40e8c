package graft

import org.apache.spark.sql.SparkSession
import graft.sources.TranscriptGen

/** One arm of the N-vs-4N scaling evidence (see dev/scaling.sh): the full
  * pipeline job over a generated input in a `local[cores]` session whose
  * whole JVM — worker threads AND GC — is pinned to `cores` CPUs with
  * taskset. That models an N-core executor faithfully; in-JVM parallelism
  * knobs alone let a low-parallelism run borrow the idle cores' memory
  * bandwidth and GC threads and overstate its throughput. Cores come from
  * [[LocalSpark.envCores]]; the sinks are written under the first
  * `SPARK_LOCAL_DIRS` entry, next to Spark's shuffle files.
  *
  * Usage: dev/run.sh graft.ScalingBench <nConvs> <turnsPerConv> <repeats>
  */
object ScalingBench {

  /** One full job. Returns the turn count plus a cleanup thunk (unpersist
    * + output delete) so callers keep teardown OUT of the timed window —
    * deleting the previous run's output is not part of the job a cluster
    * would be measured on. */
  def jobAt(
      spark: SparkSession,
      nConvs: Long,
      turnsPerConv: Int,
      localDir: String
  ): (Long, () => Unit) = {
    val gen = TranscriptGen.synthetic(spark, nConvs, turnsPerConv, hotConvs = 5, hotFactor = 1000)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(localDir), "graft_scale").toString
    val out = Pipeline.run(spark, gen)
    Pipeline.writeSinks(out, dir)
    // turn count from the observation riding the enriched scan — no
    // extra count action
    val turns = out.observation.get("turns_enriched").asInstanceOf[Long]
    (turns, () => {
      out.unpersistAll()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    })
  }

  def main(args: Array[String]): Unit = {
    val Array(nConvs, turnsPerConv, repeats) = args
    val cores = LocalSpark.envCores
    val spark = LocalSpark.session(cores)
    // Spark created its local dirs at session start
    val localDir = sys.env.get("SPARK_LOCAL_DIRS")
      .fold(System.getProperty("java.io.tmpdir"))(_.split(',').head)
    def job() = jobAt(spark, nConvs.toLong, turnsPerConv.toInt, localDir)
    try {
      job()._2.apply() // warm-up
      val runs = (1 to repeats.toInt).map { _ =>
        val ((turns, cleanup), sec) = Bench.timed(job())
        cleanup()
        (turns, sec)
      }
      val turns = runs.head._1
      val sec = runs.map(_._2).min
      println(f"""{"arm":$cores,"turns":$turns,"sec":$sec%.2f,"turns_per_sec":${(turns / sec).toLong}}""")
    } finally spark.stop()
  }
}
