package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Aggregates every operator module's query + oracle registry.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.defs ++ TimeSeries.defs ++ TextOps.defs ++ VectorOps.defs ++ Similarity.defs ++ Dedup.defs ++ Multimodal.defs ++ Pipeline.defs ++ Curation.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ TimeSeries.oracle ++ TextOps.oracle ++ VectorOps.oracle ++ Similarity.oracle ++ Dedup.oracle ++ Multimodal.oracle ++ Pipeline.oracle ++ Curation.oracle

  /** The session Bench, Verify and DevProbe run the registry in:
    * `local[SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
    * partitions, UTC session time, no UI, WARN logging. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
