package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional name filter for fast single-query iteration; the driver
    // passes exactly two args and gets the full dump
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) { // a typo must not read as a clean run
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
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
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> String.valueOf(e.getMessage))
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
    // the run's manifest: whether a name filter applied (tools/compare.py
    // counts a missing output as FAIL only in an unfiltered run) and
    // every query that threw, with its message
    val failedJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_manifest.json"),
      s"""{"filtered": ${only.nonEmpty}, "failed": $failedJson}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
