package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: owns one `local[4]` session, runs one
  * workload closed-loop with a single client and writes `result.json`
  * into the work directory for `perfbench/run.py` to check and report.
  *
  * Phases of a run:
  *   1. session start (timed from the JVM launch `run.py` records);
  *   2. with `--trace 0`, the timed loop: whole units until `--seconds`
  *      have elapsed, at least `MinUnits`, tracing off. The first unit
  *      runs in the fresh session, as a one-shot job would, and pays the
  *      JIT and code-generation cost of the workload's plans; the next
  *      ones run warm. `wall_s` is their mean, so that all of a run's
  *      work counts. The workload dumps the first unit's outputs for the
  *      oracle check outside its timing;
  *   3. with `--trace 1`, instead: one untimed warm-up unit, then a loop
  *      of the same length with the tracer attached, for the per-layer
  *      table, between two reference units that make the same calls with
  *      a disabled tracer; tracing overhead = traced unit - mean of the
  *      references, which cancels what warm-up is left from one unit to
  *      the next.
  *
  * Usage (normally via run.py):
  *   Harness --workload W --input DIR --work DIR --seconds S --trace 0|1 --launch-ms T
  */
object Harness {
  /** Timed units per untraced run: the cold one and at least one warm. */
  val MinUnits = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val input = opts("input")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val launchMs = opts("launch-ms").toLong

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0

    val res = Result()
    res("workload") = workload
    res("session_s") = sessionS
    try {
      val w: Workload = workload match {
        case "job_gen" => new JobGen(spark, input, work)
        case "query_suite" => new QuerySuite(spark, input, work)
        case other => sys.error(s"unknown workload $other")
      }
      val rss = new RssSampler
      rss.start()
      if (!trace) {
        val (units, ops, failed) = loop(w, seconds, None, MinUnits)
        res("unit_s") = units
        res("op_s") = ops
        res("ops_failed") = failed
      } else {
        val warm = w.unit(None)
        res("warmup_s") = warm.wallS
        res("warmup_op_s") = warm.opSeconds
        def reference() = w.unit(Some(new Tracer(spark, "reference", enabled = false)))
        val before = reference()
        val tracer = new Tracer(spark, s"$workload-${launchMs}")
        tracer.install()
        val gc0 = gcSeconds()
        val (tUnits, tOps, tFailed) = loop(w, seconds, Some(tracer))
        val gc = (gcSeconds() - gc0) / tUnits.size
        tracer.uninstall()
        val after = reference()
        res("traced_unit_s") = tUnits
        res("traced_op_s") = tOps
        res("ops_failed") = warm.failed + tFailed + before.failed + after.failed
        res("reference_unit_s") = Seq(before.wallS, after.wallS)
        res("reference_op_s") = before.opSeconds ++ after.opSeconds
        val overhead = median(tUnits) - (before.wallS + after.wallS) / 2
        val layers = tracer.layerMetrics(tUnits.sum) ++ w.layerMetrics(tracer) ++
          Map("jvm.gc_s" -> gc, "trace.overhead_s" -> overhead)
        res("layers") = layers
        val spansPath = s"$work/spans.json"
        Files.writeString(Paths.get(spansPath), tracer.toJson)
        res("spans") = spansPath
      }
      rss.halt()
      res("peak_rss_mb") = rss.peakKb / 1024.0

      res("checks") = w.finish()
      res("dumps") = w.dumps
      res("oracle_sql") = w.oracleSql
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally {
      Files.writeString(Paths.get(s"$work/result.json"), res.toJson)
      spark.stop()
    }
  }

  /** Whole units until `seconds` have elapsed, at least `minUnits`.
    * Returns unit walls, op latencies and failed ops. */
  def loop(w: Workload, seconds: Double, tracer: Option[Tracer], minUnits: Int = 1)
      : (Seq[Double], Seq[Double], Int) = {
    val units = scala.collection.mutable.ArrayBuffer[Double]()
    val ops = Seq.newBuilder[Double]
    var failed = 0
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    do {
      val r = w.unit(tracer)
      units += r.wallS
      ops ++= r.opSeconds
      failed += r.failed
    } while (System.nanoTime() < deadline || units.size < minUnits)
    (units.toSeq, ops.result(), failed)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
}

/** One closed-loop unit of work: its wall time (check dumps excluded),
  * the latency of each operation in it and how many operations failed (a
  * throw or a wrong count). */
final case class UnitResult(wallS: Double, opSeconds: Seq[Double], failed: Int)

/** A correctness check: JVM-side checks carry their verdict; Python
  * checks the `dumps` against the DuckDB oracle. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  def unit(tracer: Option[Tracer]): UnitResult
  /** Workload-specific per-layer metrics read after the traced loop. */
  def layerMetrics(tracer: Tracer): Map[String, Double] = Map.empty
  /** Stop whatever is running and return the JVM-side checks. */
  def finish(): Seq[Check]
  /** name -> parquet dir of a result to compare against the oracle. */
  def dumps: Map[String, String] = Map.empty
  /** query name -> DuckDB SQL producing the expected rows of its dumps
    * (a dump named `<query>@<n>` is checked against `<query>`). */
  def oracleSql: Map[String, String] = Map.empty
}

/** Samples the process's resident set every 20 ms and keeps the peak. */
final class RssSampler extends Thread {
  @volatile private var running = true
  @volatile var peakKb = 0L
  setDaemon(true)

  private def rssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmRSS:"))
      .map(_.split("\\s+")(1).toLong)
      .getOrElse(0L)

  override def run(): Unit =
    while (running) {
      peakKb = math.max(peakKb, rssKb())
      Thread.sleep(20)
    }

  def halt(): Unit = {
    running = false
    join()
    peakKb = math.max(peakKb, rssKb())
  }
}

/** Insertion-ordered JSON object writer for the result file. */
final case class Result() {
  private val fields = scala.collection.mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = fields(k) = v
  def toJson: String = Result.json(fields)
}

object Result {
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case c: Check => json(Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
