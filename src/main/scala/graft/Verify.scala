package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(sfDir)
    new java.io.File(outDir).mkdirs()
    // Dev-loop filter (driver never sets it): verify just the named queries.
    Harness.selectedQueries().foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // no query's persisted frames outlive its own action in this shared
      // session (HarnessSpec checks the sweep leaves nothing behind)
      finally Harness.sweep(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * (Unit-tested in VerifySpec against a real JSON parser.) */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
