package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced layer call: name, layer, parent span, wall interval and
  * the counts the bench records at the boundary (`rows_out`, ...). */
final class Span(val id: Int, val name: String, val layer: String, val parent: Int,
    val startMs: Long, val startNs: Long) {
  var endNs: Long = startNs
  var childNs: Long = 0L
  val attrs = mutable.LinkedHashMap[String, Double]()
  def durS: Double = (endNs - startNs) / 1e9
  def selfS: Double = (endNs - startNs - childNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** One completed action: planning start and time, wall time, the root
  * node of its analyzed plan and its observed metrics. */
final case class Action(planStartMs: Long, planMs: Long, durS: Double, root: String,
    observed: Map[String, Long])

/** A job as the bench-owned listener saw it start. */
final case class JobStat(jobId: Int, group: String, startMs: Long)

/** Stage metrics as the bench-owned listener saw them. */
final case class StageStat(stageId: Int, jobId: Int, shuffleWriteBytes: Long,
    spillBytes: Long, runTimeMs: Long, taskMs: Vector[Long], peakTaskMemBytes: Long,
    inputRecords: Long, scansFiles: Boolean)

/** Spans around the bench's calls into each layer, plus a SparkListener
  * and a QueryExecutionListener that attribute stage metrics and planning
  * phases to them. Jobs are keyed by the job group the bench sets on
  * entering a span (`pb-<id>`, or `pb-<id>-c` while DataFrames are only
  * being constructed); a job whose group names no span open at its start
  * (one started on a pool thread, which keeps the group it inherited) goes
  * to the innermost span open at its start. Planning phases go to the
  * span open when planning started. Jobs and plans outside every span
  * are not counted. Everything is kept in memory and written once at the
  * end. A disabled tracer runs the same calls and records nothing: the
  * reference for the tracing overhead.
  */
final class Tracer(spark: SparkSession, runId: String, val enabled: Boolean = true)
    extends SparkListener with QueryExecutionListener {

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  // listener state (written on the listener-bus thread)
  private val jobs = mutable.Map[Int, JobStat]()
  private val stageJob = mutable.Map[Int, Int]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val taskPeak = mutable.Map[Int, Long]()
  val stages = mutable.ArrayBuffer[StageStat]()
  val actions = mutable.ArrayBuffer[Action]()
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  @volatile private var fenceDone = false

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  /** Detach after the event queues have drained: wait for a fence job's
    * end event, then until no planning event arrives for 250 ms. */
  def uninstall(): Unit = {
    sc.setJobGroup("pb-fence", "fence")
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (!fenceDone && System.currentTimeMillis() < deadline) Thread.sleep(10)
    var seen = -1
    while (seen != synchronized(actions.size + progress.size)) {
      seen = synchronized(actions.size + progress.size)
      Thread.sleep(250)
    }
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  /** Record a span around `f`; jobs it starts carry its job group. */
  def span[A](name: String, layer: String)(f: Span => A): A =
    if (!enabled) f(new Span(-1, name, layer, -1, 0L, 0L))
    else {
      val s = new Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      synchronized(spans += s)
      stack = s :: stack
      sc.setJobGroup(s"pb-${s.id}", name)
      try f(s)
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) =>
            p.childNs += s.endNs - s.startNs
            sc.setJobGroup(s"pb-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Build a DataFrame inside the current span; jobs started meanwhile
    * are construction-time jobs (`plan.construct_jobs`). */
  def construct[A](f: => A): A = stack.headOption match {
    case None => f
    case Some(s) =>
      sc.setJobGroup(s"pb-${s.id}-c", s.name)
      try f finally sc.setJobGroup(s"pb-${s.id}", s.name)
  }

  // ---- SparkListener ----
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobStat(e.jobId, g, e.time)
    e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobs.get(e.jobId).exists(_.group == "pb-fence")) fenceDone = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    if (e.taskMetrics != null)
      taskPeak(e.stageId) = math.max(taskPeak.getOrElse(e.stageId, 0L), e.taskMetrics.peakExecutionMemory)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val tm = i.taskMetrics
    stages += StageStat(
      i.stageId, stageJob.getOrElse(i.stageId, -1),
      if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
      if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled,
      if (tm == null) 0L else tm.executorRunTime,
      taskMs.getOrElse(i.stageId, mutable.ArrayBuffer()).toVector,
      taskPeak.getOrElse(i.stageId, 0L),
      if (tm == null) 0L else tm.inputMetrics.recordsRead,
      i.rddInfos.exists(_.name == "FileScanRDD"))
  }

  // ---- QueryExecutionListener ----
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    val observed = qe.observedMetrics.values.flatMap { row =>
      row.schema.fieldNames.zip(row.toSeq).collect { case (f, v: java.lang.Number) => f -> v.longValue() }
    }.toMap
    if (phases.nonEmpty)
      actions += Action(phases.values.map(_.startTimeMs).min, phases.values.map(_.durationMs).sum,
        durationNs / 1e9, qe.analyzed.toString.linesIterator.nextOption().getOrElse(""), observed)
  }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  // ---- attribution ----
  private def spanOfGroup(g: String): Option[Span] =
    if (!g.startsWith("pb-") || g == "pb-fence") None
    else g.stripPrefix("pb-").takeWhile(_.isDigit) match {
      case "" => None
      case id => spans.lift(id.toInt)
    }

  /** Innermost span open at wall-clock `ms`. */
  def spanAt(ms: Long): Option[Span] = spans.filter(open(_, ms)).maxByOption(_.startMs)

  private def open(s: Span, ms: Long): Boolean = s.startMs <= ms && ms <= s.endMs

  def spanOfJob(j: JobStat): Option[Span] =
    spanOfGroup(j.group).filter(open(_, j.startMs)).orElse(spanAt(j.startMs))

  /** Jobs started inside a span. */
  def tracedJobs: Seq[JobStat] = jobs.values.toSeq.filter(spanOfJob(_).nonEmpty)

  def layerOfStage(st: StageStat): Option[String] =
    jobs.get(st.jobId).flatMap(spanOfJob).map(_.layer)

  def stagesOf(layer: String): Seq[StageStat] =
    stages.toSeq.filter(layerOfStage(_).contains(layer))

  /** Stages inside spans that scan the staged input files (input records
    * also count cached blocks read, so the scan is told by its RDD). */
  def scanStages: Seq[StageStat] =
    stages.toSeq.filter(st => st.scansFiles && layerOfStage(st).nonEmpty)

  /** Actions planned inside a span. */
  def tracedActions: Seq[Action] = actions.toSeq.filter(a => spanAt(a.planStartMs).nonEmpty)

  /** Observed counters of the actions planned inside span `s`. */
  def observedIn(s: Span): Map[String, Long] =
    actions.filter(a => spanAt(a.planStartMs).contains(s))
      .flatMap(_.observed).groupMapReduce(_._1)(_._2)(_ + _)

  /** Wall time of the file writes whose output path contains each key. */
  def writesBy(keys: Seq[String]): Map[String, Double] =
    keys.map { k =>
      k -> tracedActions.filter(a => a.root.startsWith("InsertIntoHadoopFsRelationCommand") &&
        a.root.contains(k)).map(_.durS).sum
    }.toMap

  def mb(b: Long): Double = b / 1048576.0

  private def medianL(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0 else Harness.median(xs.map(_.toDouble))

  /** max / median task time in the layer's largest stage (0 if none). */
  def taskSkew(layer: String): Double = taskSkew(stagesOf(layer))

  def taskSkew(stages: Seq[StageStat]): Double = {
    val st = stages.filter(_.taskMs.nonEmpty)
    if (st.isEmpty) 0.0
    else {
      val big = st.maxBy(_.runTimeMs)
      val med = medianL(big.taskMs)
      if (med <= 0) 0.0 else big.taskMs.max / med
    }
  }

  def layerSelf(layer: String): Double = spans.filter(_.layer == layer).map(_.selfS).sum
  def layerAttr(layer: String, attr: String): Double =
    spans.filter(_.layer == layer).map(_.attrs.getOrElse(attr, 0.0)).sum
  def shuffleMb(layer: String): Double = mb(stagesOf(layer).map(_.shuffleWriteBytes).sum)
  def spillMb(layer: String): Double = mb(stagesOf(layer).map(_.spillBytes).sum)
  def peakMemMb(layer: String): Double = mb(stagesOf(layer).map(_.peakTaskMemBytes).foldLeft(0L)(math.max))

  /** The metrics every workload reports: planning and job counts of the
    * traced units, whose walls add up to `wall`. */
  def layerMetrics(wall: Double): Map[String, Double] = {
    val planS = tracedActions.map(_.planMs).sum / 1000.0
    val traced = tracedJobs
    Map(
      "plan.s" -> planS,
      "plan.share" -> (if (wall > 0) planS / wall else 0.0),
      "plan.jobs" -> traced.size.toDouble,
      "plan.construct_jobs" -> traced.count(_.group.endsWith("-c")).toDouble
    )
  }

  def toJson: String = {
    val spanJs = spans.map { s =>
      Map[String, Any](
        "run" -> runId, "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> s.durS, "self_s" -> s.selfS, "attrs" -> s.attrs)
    }
    val stageJs = stages.map { st =>
      Map[String, Any](
        "stage" -> st.stageId,
        "span" -> jobs.get(st.jobId).flatMap(spanOfJob).map(_.id).getOrElse(-1),
        "shuffle_write_bytes" -> st.shuffleWriteBytes, "spill_bytes" -> st.spillBytes,
        "run_ms" -> st.runTimeMs, "tasks" -> st.taskMs.size,
        "peak_task_mem_bytes" -> st.peakTaskMemBytes, "input_records" -> st.inputRecords,
        "scans_files" -> st.scansFiles)
    }
    Result.json(Map("run" -> runId, "spans" -> spanJs, "stages" -> stageJs))
  }
}
