package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Summary statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above
    * it: with n sorted samples, the (n-10)-th smallest. `pct` is its
    * nearest-rank percentile. With ten or fewer samples no such
    * percentile exists and the maximum stands in (`pct` = 100). */
  final case class Tail(value: Double, pct: Double, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 10) Tail(s.last, 100.0, n)
    else Tail(s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Minimal JSON rendering for the results file (maps, seqs, numbers,
  * strings, booleans); keeps the harness free of extra libraries. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** The error class of a failed operation: Spark's error condition when
  * one is attached anywhere in the cause chain (for example
  * `FAILED_READ_FILE.FILE_NOT_EXIST`), else the exception class. */
object Errors {
  def classOf(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).toSeq
    chain.collectFirst {
      case st: org.apache.spark.SparkThrowable if st.getCondition != null => st.getCondition
    }.getOrElse(chain.last.getClass.getSimpleName)
  }
}

/** JVM process CPU time, the cost a cluster user pays for the work. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processNs(): Long = os.getProcessCpuTime
}

/** One timed operation of a workload. */
final case class Op(id: Int, kind: String, t0: Long, t1: Long, ok: Boolean, err: String) {
  def ms: Double = (t1 - t0) / 1e6
}

/** Runs and records operations. An operation that throws is counted as
  * failed with its error class and the workload carries on; an
  * operation that returns is checked against the generator's ground
  * truth, and any mismatch is recorded as a wrong answer, which fails
  * the whole run. */
class OpLog(trace: Option[Trace]) {
  private val ops = ArrayBuffer[Op]()
  private val wrongs = ArrayBuffer[String]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  private val messages = scala.collection.mutable.LinkedHashMap[String, String]()

  def run[A](kind: String)(body: => A): Option[A] = {
    val id = nextId.getAndIncrement()
    trace.foreach(_.beginOp(s"$kind#$id"))
    val t0 = System.nanoTime()
    val res =
      try Right(trace.fold(body)(_.span(kind)(body)))
      catch {
        case NonFatal(e) =>
          val cls = Errors.classOf(e)
          synchronized(messages.getOrElseUpdate(s"$kind:$cls", String.valueOf(e.getMessage).take(500)))
          Left(cls)
      }
    val t1 = System.nanoTime()
    trace.foreach(_.endOp())
    synchronized { ops += Op(id, kind, t0, t1, res.isRight, res.left.getOrElse("")) }
    res.toOption
  }
  /** Record a wrong answer unless `ok`. */
  def check(kind: String, ok: Boolean, detail: => String): Unit =
    if (!ok) synchronized { wrongs += s"$kind: $detail" }

  def all: Seq[Op] = synchronized(ops.toList)
  def wrong: Seq[String] = synchronized(wrongs.toList)
  def ofKind(kinds: String*): Seq[Op] = all.filter(o => kinds.contains(o.kind))
  def attempted: Int = all.size
  def failed: Int = all.count(!_.ok)
  /** The first message seen for each failing kind and error class. */
  def errorMessages: Map[String, String] = synchronized(messages.toMap)
  def errorClasses: Map[String, Int] =
    all.filterNot(_.ok).groupBy(o => s"${o.kind}:${o.err}").map { case (k, v) => k -> v.size }
}
