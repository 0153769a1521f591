package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().appName("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev loop: GRAFT_VERIFY_ONLY=q79_tfidf_top,q80_source_kl restricts the
    // dump; the driver leaves it unset and always dumps everything
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // a query that throws must leave NO output behind: a previous run's
      // parquet under the same name would otherwise be scored as this run's
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
