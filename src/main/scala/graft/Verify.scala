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

  /** Writes `<outDir>/oracle_sql.json`: the DuckDB oracle SQL of each
    * named query that has one, for `tools/check_oracle.py` and the driver's
    * compare. Jackson escapes every control character in the SQL.
    */
  private[graft] def writeOracleSql(outDir: String, names: Iterable[String]): Unit = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    names.foreach(n => SparkEntry.oracleSql.get(n).foreach(node.put(n, _)))
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), node.toString)
  }

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
    writeOracleSql(outDir, SparkEntry.oracleSql.keys)
    spark.stop()
  }
}
