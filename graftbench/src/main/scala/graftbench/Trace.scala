package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** A timed interval: a call into a graft module made by the harness, or
  * a Spark job or stage reported by the listener. Times are epoch ns. */
final case class Span(id: Long, name: String, t0: Long, t1: Long, parent: Long, op: String)

/** Task-level work Spark attributes to one operation. */
final class Work {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, shuffleWrite, spill = 0L
  val taskIntervals = ArrayBuffer[(Long, Long)]()
  val stageSkewMilli = ArrayBuffer[Long]()
}

/** In-memory tracer for a traced run. Spans around the harness's calls
  * into graft are recorded by [[span]]; Spark jobs and stages become
  * child spans through the public listener interface, parented by the
  * local properties the harness sets before each call. Nothing is
  * written until [[spans]] is read at the end of the run. */
class Trace(spark: SparkSession) extends SparkListener {
  import Trace._
  private val sc = spark.sparkContext
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochBase

  private val recorded = ArrayBuffer[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val threadOp = new ThreadLocal[String] { override def initialValue(): String = "" }
  @volatile private var lastOp = ""

  private val jobOp = new ConcurrentHashMap[Int, (String, Long, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val work = new ConcurrentHashMap[String, Work]()

  def beginOp(op: String): Unit = {
    threadOp.set(op); lastOp = op
    sc.setLocalProperty(OpProp, op)
  }
  def endOp(): Unit = {
    threadOp.set("")
    sc.setLocalProperty(OpProp, null)
    sc.setLocalProperty(SpanProp, null)
  }

  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack.set(parents)
      sc.setLocalProperty(SpanProp, parents.headOption.map(_.toString).orNull)
      record(Span(id, name, t0, t1, parents.headOption.getOrElse(0L), threadOp.get()))
    }
  }

  private def record(s: Span): Unit = synchronized { recorded += s }

  def spans: Seq[Span] = { drain(); synchronized(recorded.toList) }

  /** Work attributed to each operation id (`kind#n`); streaming
    * micro-batches report under "stream". */
  def workByOp: Map[String, Work] = { drain(); work.asScala.toMap }

  private def drain(): Unit = org.apache.spark.sql.graft.bridge.drainListenerBus(spark, 30000L)

  private def workOf(op: String): Work = work.computeIfAbsent(op, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProp)))
      .orElse(props.flatMap(p => Option(p.getProperty(StreamProp))).map(_ => "stream"))
      .getOrElse(lastOp)
    val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
    jobOp.put(e.jobId, (op, parent, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val w = workOf(op)
    w.synchronized { w.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.get(e.jobId)).foreach { case (op, parent, t0) =>
      record(Span(jobSpanId(e.jobId), "spark.job", t0 * 1000000L, e.time * 1000000L, parent, op))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val job = stageJob.getOrDefault(info.stageId, -1)
    Option(jobOp.get(job)).foreach { case (op, _, _) =>
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        record(Span(stageSpanId(info.stageId), "spark.stage", t0 * 1000000L, t1 * 1000000L,
          jobSpanId(job), op))
      val durs = Option(stageTaskMs.remove(info.stageId)).map(_.toSeq).getOrElse(Nil)
      val w = workOf(op)
      w.synchronized {
        w.stages += 1
        if (durs.size >= 2) {
          val med = math.max(1.0, Stats.median(durs.map(_.toDouble)))
          w.stageSkewMilli += math.round(1000.0 * durs.max / med)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.getOrDefault(e.stageId, -1)
    val op = Option(jobOp.get(job)).map(_._1).getOrElse(lastOp)
    val info = e.taskInfo
    val durs = stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]())
    durs.synchronized(durs += info.duration)
    val w = workOf(op)
    w.synchronized {
      w.tasks += 1
      w.taskIntervals += ((info.launchTime, info.finishTime))
      Option(e.taskMetrics).foreach { m =>
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object Trace {
  val OpProp = "graftbench.op"
  val SpanProp = "graftbench.span"
  // set by Spark on every micro-batch job of a streaming query
  val StreamProp = "sql.streaming.queryId"

  // job and stage spans get ids far above the harness's own counter
  private def jobSpanId(job: Int): Long = (1L << 40) + job
  private def stageSpanId(stage: Int): Long = (1L << 41) + stage

  /** Self time per span name: each span's length minus the part of it
    * covered by its children, summed over spans of that name (ns). */
  def selfTime(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.t0, s.t0), math.min(c.t1, s.t1))).filter(c => c._2 > c._1))
        (s.t1 - s.t0) - covered
      }.sum
    }
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** SQL metrics of the file scans in an executed frame's final plan
    * (files, partitions, bytes and rows the scan node reports). */
  def scanMetrics(df: DataFrame): Map[String, Long] =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.map { case (k, m) => k -> m.value }
    }.flatten.groupMapReduce(_._1)(_._2)(_ + _)
}
