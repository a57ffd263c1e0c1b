package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Per-layer observations of the topic store and session, taken from
  * outside graft: file listings of the topic directory, the scan node's
  * SQL metrics, and timings around public calls. Listings only happen
  * in a traced run; an untraced run pays for nothing but two clock
  * reads around each call. */
class Layer(ctx: Ctx, val tracing: Boolean) {
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap()
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap()
  // every parquet file the topic ever held, with its size
  private val seen = mutable.Map[String, Long]()

  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def add(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
  /** Build a frame and plan it physically (listing included). */
  def timed(body: => DataFrame): (DataFrame, Double) =
    timedMs { val df = body; if (tracing) df.queryExecution.executedPlan; df }

  private def fs: FileSystem = FileSystem.get(ctx.spark.sparkContext.hadoopConfiguration)

  /** Parquet files of the topic, by bucket: path -> size. */
  def bucketFiles(st: TsdbMixed.State): Map[String, Map[String, Long]] =
    if (!tracing) Map.empty
    else {
      val base = new Path(st.gs.store.topicPath(st.fqn))
      fs.listStatus(base).filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .map { b =>
          b.getPath.getName -> fs.listStatus(b.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => f.getPath.toString -> f.getLen).toMap
        }.toMap
    }

  def noteFiles(now: Map[String, Map[String, Long]]): Int = {
    val fresh = now.values.flatten.filterNot { case (p, _) => seen.contains(p) }
    seen ++= fresh
    add("sources.bytes_created", fresh.map(_._2).sum.toDouble)
    fresh.size
  }

  def afterPublish(st: TsdbMixed.State, before: Map[String, Map[String, Long]], ms: Double): Unit =
    if (tracing) {
      val after = bucketFiles(st)
      val compacted = before.count { case (b, fs0) => after.get(b).exists(_.size < fs0.size) }
      val created = noteFiles(after)
      add("sources.compactions", compacted)
      if (compacted > 0) sample("sources.compacting_publish_ms", ms)
      else {
        sample("sources.plain_publish_ms", ms)
        sample("sources.files_per_publish", created)
      }
    }

  def afterRead(st: TsdbMixed.State, df: DataFrame, planMs: Double, execMs: Double,
                truth: Map[String, (Long, Long)]): Unit =
    if (tracing) {
      sample("sources.range.plan_ms", planMs)
      sample("sources.range.exec_ms", execMs)
      val m = Trace.scanMetrics(df)
      val scanned = m.getOrElse("numOutputRows", 0L)
      sample("sources.range.files_read", m.getOrElse("numFiles", 0L).toDouble)
      sample("sources.range.buckets_read", m.getOrElse("numPartitions", 0L).toDouble)
      sample("sources.range.bytes_read", m.getOrElse("filesSize", 0L).toDouble)
      if (scanned > 0) sample("sources.range.scan_efficiency", truth.values.map(_._1).sum.toDouble / scanned)
    }

  def sessionPlan(ms: Double): Unit = if (tracing) sample("session.query_plan_ms", ms)

  /** End-of-run storage shape: live bytes, write amplification, files
    * per bucket and the catalog log. */
  def finishStore(st: TsdbMixed.State): Unit =
    if (tracing) {
      val now = bucketFiles(st)
      noteFiles(now)
      val live = now.values.flatMap(_.values).sum.toDouble
      counts("sources.write_amp") = counts.getOrElse("sources.bytes_created", 0.0) / math.max(1.0, live)
      counts("sources.bytes_per_row") = live / math.max(1, st.rows.size)
      counts("sources.files_per_bucket.max") = now.values.map(_.size).maxOption.getOrElse(0).toDouble
      val root = new Path(st.root)
      val topics = new Path(root, "topics").toString
      val it = fs.listFiles(root, true)
      var log = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.toString.startsWith(topics)) log += f.getLen
      }
      counts("sources.catalog_log_bytes") = log.toDouble
    }

  /** Seed the created-bytes ledger with the files setup wrote. */
  def startStore(st: TsdbMixed.State): Unit = if (tracing) noteFiles(bucketFiles(st))
}
