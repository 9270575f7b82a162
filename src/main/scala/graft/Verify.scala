package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: query names to run (iteration aid; the
    // driver's 2-arg invocation still dumps everything)
    val only = args.drop(2).toSet
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // durable run summary (stderr is lossy at the driver): which queries
    // dumped, which threw — a query missing from BOTH lists never ran
    val summary =
      s"""{"n_queries":${SparkEntry.queries.size},"n_failed":${failed.size},""" +
        s""""failed":${failed.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")},""" +
        s""""sf":${q(sfDir)}}"""
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summary)
    sys.env.get("GRAFT_VERIFY_OUT").foreach(p => Files.writeString(Paths.get(p), summary + "\n"))
    spark.stop()
  }
}
