package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** A crash must be a VISIBLE failure, not an omission: round 8's three
    * crashed queries were simply absent from the correctness artifact,
    * which then read as fully passing. A one-row error-marker output
    * guarantees the driver's DuckDB compare emits a failing entry
    * (rows/schema/hash all mismatch) whose content names the exception.
    * Best-effort by design — marker writing must never mask the original
    * failure path.
    */
  private[graft] def writeErrorMarker(spark: SparkSession, outDir: String,
                                      name: String, e: Throwable): Unit =
    try {
      import spark.implicits._
      val msg = String.valueOf(e).take(500)
      Seq(("GRAFT_QUERY_CRASHED", msg)).toDF("graft_error", "graft_message")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        writeErrorMarker(spark, outDir, name, e)
      }
      // operator-internal persists are scoped to one query run
      finally Caching.release(spark)
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
