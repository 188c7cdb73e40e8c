package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal. Escapes backslash, quote, and ALL control chars
    * (<0x20), naming \n, \r and \t: a raw tab or CR in an oracle SQL
    * string would otherwise make oracle_sql.json unparseable. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSpark.session()
    new java.io.File(outDir).mkdirs()
    val telemetry = Telemetry.register(spark)
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // candidate/output-pair counters of the bucketed similarity operators
    // (bucket-blow-up early warning — see graft.Telemetry)
    Files.writeString(Paths.get(s"$outDir/telemetry.json"), telemetry.toJson)
    // batch-vs-stream parity artifact (the streaming correctness oracle)
    try Files.writeString(
      Paths.get(s"$outDir/stream_parity.json"),
      StreamParity.run(spark, sfDir, s"$outDir/_stream_parity"))
    catch { case e: Throwable =>
      System.err.println(s"[verify] stream parity failed: ${e.getMessage}")
    }
    CacheBook.release() // drop the operators' internal caches (see CacheBook)
    spark.stop()
  }
}
