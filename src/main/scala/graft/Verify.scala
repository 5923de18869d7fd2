package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: only dump queries whose name starts with the
    // given prefix (local iteration aid; the driver passes 2 args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, "")
      case Array(s, o, p) => (s, o, p)
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [queryNamePrefix]")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => name.startsWith(only) }
      .foreach { case (name, fn) =>
      // NonFatal, not Throwable: an OutOfMemoryError / fatal VM error
      // means the JVM is broken — results from the remaining queries
      // would be untrustworthy; let it propagate and kill the run
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any output from a PREVIOUS run: stale parquet under this
        // name would let the driver's DuckDB compare validate last run's
        // rows as current and report a pass for a query that no longer
        // runs. The cleanup itself must never abort the remaining
        // queries — log and continue if the walk/delete throws.
        try {
          val stale = Paths.get(s"$outDir/$name")
          if (Files.exists(stale)) {
            Files.walk(stale).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.deleteIfExists(p))
          }
        } catch { case scala.util.control.NonFatal(c) =>
          System.err.println(s"[verify] $name stale-output cleanup failed " +
            s"(${c.getMessage}) — remove $outDir/$name manually")
        }
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
  }
}
