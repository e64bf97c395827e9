package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.arm(spark) // loud bounded-report truncation watcher
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (tools/selfcheck.py
    // on one query); unset = full suite (what the driver runs)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val attempted = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = attempted.flatMap { case (name, fn) =>
      try {
        Tuning.withTuned(spark, name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(s"$name: ${e.getClass.getSimpleName}")
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
    spark.stop()
    // closing line, after stop so a log tail keeps it; the exit code stays
    // 0 either way
    System.err.println(
      s"[verify] ${attempted.size - failed.size}/${attempted.size} written, " +
      s"${failed.size} failed" + (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
  }
}
