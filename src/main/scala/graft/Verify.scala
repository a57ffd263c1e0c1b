package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional extra args = only run these queries (local dev loop).
    val only: Set[String] = args.drop(2).toSet
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally
        // dd02/dd05 persist() signature intermediates; drop them so 66
        // queries don't accumulate cached blocks across the run
        spark.sharedState.cacheManager.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.string(k)}: ${Json.string(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
