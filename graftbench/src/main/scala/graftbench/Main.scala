package graftbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The session every workload runs in, and the run's scratch space. */
final class Ctx(val spark: SparkSession, val work: String) {
  private var n = 0
  /** A fresh directory under the run's scratch space. */
  def dir(name: String): String = { n += 1; s"$work/$name-$n" }
}

/** Runs one workload and writes every metric to a results file:
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <scratch dir> --out <results.json>
  * }}}
  *
  * Set-up runs three times and the median counts. The measured phase
  * runs with tracing off. With `--trace 1` a second, traced phase
  * follows on a fresh set-up; it yields the per-layer metrics, and the
  * difference between the two phases' end-to-end metrics is the
  * tracing overhead. */
object Main {
  val Workloads = Seq("tsdb-mixed", "serve-rpc", "stream-tail", "curation-batch")
  val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"), need("out"))
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args.work)
    val ctx = new Ctx(spark, args.work)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace,
      "session" -> Map("master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "driver_max_heap_bytes" -> Runtime.getRuntime.maxMemory))
    val exit = try {
      val w = Workload(args.workload)
      val untraced = w.measure(ctx, args.seed, args.seconds, None)
      result("setup_s_samples") = untraced.setupS
      result ++= untraced.report
      if (args.trace) {
        val tr = new Trace(spark)
        spark.sparkContext.addSparkListener(tr)
        val traced = w.measure(ctx, args.seed, args.seconds, Some(tr))
        spark.sparkContext.removeSparkListener(tr)
        result("per_layer") = traced.perLayer ++ untraced.e2e.collect {
          case (k, v) if traced.e2e.contains(k) => s"trace.overhead.$k" -> (traced.e2e(k) - v)
        }
        result("traced") = traced.report
        val spans = tr.spans
        result("self_time_s") = Trace.selfTime(spans).map { case (k, v) => k -> v / 1e9 }
        Files.write(Paths.get(args.out.stripSuffix(".json") + ".spans.jsonl"),
          spans.map(s => Json.render(Map("id" -> s.id, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1,
            "parent" -> s.parent, "op" -> s.op))).mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      0
    } catch {
      case e: Throwable =>
        result("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
        2
    }
    Files.write(Paths.get(args.out), Json.render(result).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(exit)
  }
}

/** What one measured phase of a workload reports. */
final case class Phase(setupS: Seq[Double], e2e: Map[String, Double], perLayer: Map[String, Double],
                       report: Map[String, Any])

/** A workload: three timed set-ups, then one measured phase. */
trait Workload {
  def measure(ctx: Ctx, seed: Long, seconds: Double, trace: Option[Trace]): Phase
}

object Workload {
  def apply(name: String): Workload = name match {
    case "tsdb-mixed" => Tsdb
    case "serve-rpc" => Rpc
    case "stream-tail" => Stream
    case "curation-batch" => Curation
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Three set-ups from the same seed, each closed before the next
    * starts; the last one is used. A traced phase sets up once. */
  private def setups[S](seed: Long, traced: Boolean)(mk: SplittableRandom => S)(close: S => Unit): (S, SplittableRandom, Seq[Double]) = {
    val n = if (traced) 1 else Main.Setups
    val times = (1 until n).map { _ =>
      val (s, t) = timed(mk(new SplittableRandom(seed)))
      close(s)
      t
    }
    val rng = new SplittableRandom(seed)
    val (s, t) = timed(mk(rng))
    (s, rng, times :+ t)
  }

  /** Whether to start another op cycle: until `seconds` from now. */
  private def until(seconds: Double): Int => Boolean = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    _ => System.nanoTime() < deadline
  }

  /** Untimed op cycles on a log and layer of their own; their wrong
    * answers still fail the run, and their failed ops are reported. */
  private def warmup(ctx: Ctx)(cycles: (OpLog, Layer) => Unit): Map[String, Any] = {
    val log = new OpLog(None)
    val t0 = System.nanoTime()
    cycles(log, new Layer(ctx, false))
    Map("warmup_problems" -> log.wrong, "warmup_failed" -> log.errorClasses,
      "warmup_s" -> (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** End-to-end metrics every workload reports, from its own notion of
    * an operation and of the latency a user waits on. */
  def endToEnd(setupS: Seq[Double], log: OpLog, okOps: Double, perS: Double, latMs: Seq[Double],
               cpuNs: Long): Map[String, Double] = {
    Map(
      "setup_s" -> Stats.median(setupS),
      "op_ok_ratio" -> (log.attempted - log.failed).toDouble / math.max(1, log.attempted),
      "ops_per_s" -> perS,
      "lat_ms.p50" -> Stats.median(latMs),
      "cpu_ms_per_op" -> cpuNs / 1e6 / math.max(1.0, okOps))
  }

  def opsReport(log: OpLog, latMs: Seq[Double]): Map[String, Any] = {
    val tail = Stats.tail(latMs)
    Map("attempted" -> log.attempted, "failed" -> log.failed, "wrong" -> log.wrong,
      "lat_ms.tail" -> tail.value,
      "error_classes" -> log.errorClasses, "error_messages" -> log.errorMessages,
      "by_kind" -> log.all.groupBy(_.kind).map { case (k, os) => k -> Map("attempted" -> os.size,
        "failed" -> os.count(!_.ok), "ms.p50" -> Stats.median(os.map(_.ms))) },
      "lat_samples" -> latMs.size, "lat_tail_pct" -> tail.pct)
  }

  def pXX(name: String, xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map(s"$name.n" -> 0)
    else {
      val t = Stats.tail(xs)
      Map(s"$name.p50" -> Stats.median(xs), s"$name.tail" -> t.value, s"$name.tail_pct" -> t.pct,
        s"$name.n" -> xs.size)
    }

  /** Work Spark attributed to operations whose kind is in `kinds`. */
  def work(trace: Option[Trace], kinds: String*): Seq[Work] =
    trace.toSeq.flatMap(_.workByOp.collect { case (op, w) if kinds.contains(op.takeWhile(_ != '#')) => w })

  object Tsdb extends Workload {
    def measure(ctx: Ctx, seed: Long, seconds: Double, trace: Option[Trace]): Phase = {
      val layer = new Layer(ctx, trace.isDefined)
      val (st, rng, setupS) = setups(seed, trace.isDefined)(r => TsdbMixed.setup(ctx, r, ctx.dir("tsdb")))(_ => ())
      val warm = warmup(ctx)((log, layer) => TsdbMixed.run(ctx, st, rng, log, layer)(_ < TsdbMixed.WarmCycles))
      layer.startStore(st)
      val log = new OpLog(trace)
      val more = until(seconds)
      val c0 = Cpu.processNs()
      val t0 = System.nanoTime()
      TsdbMixed.run(ctx, st, rng, log, layer)(more)
      val el = (System.nanoTime() - t0) / 1e9
      val cpu = Cpu.processNs() - c0
      TsdbMixed.finalCount(st, log)
      layer.finishStore(st)
      val reads = log.ofKind("range_read", "query", "held_read").filter(_.ok).map(_.ms)
      val ok = log.ofKind("publish", "range_read", "query", "held_read").count(_.ok)
      val e2e = endToEnd(setupS, log, ok, ok / el, reads, cpu)
      val rr = work(trace, "range_read")
      val perLayer = summarize(layer) ++ Map(
        "sources.range.jobs_per_read" -> (if (rr.isEmpty) 0.0 else rr.map(_.jobs).sum.toDouble / rr.size))
      Phase(setupS, e2e, perLayer, Map("e2e" -> e2e, "ops" -> opsReport(log, reads),
        "workload_metrics" -> (pXX("publish_ms", log.ofKind("publish").filter(_.ok).map(_.ms)) ++
          pXX("range_ms", reads) ++ Map("ops_per_s" -> ok / el)),
        "rows" -> st.rows.size) ++ warm)
    }
  }

  object Rpc extends Workload {
    def measure(ctx: Ctx, seed: Long, seconds: Double, trace: Option[Trace]): Phase = {
      val layer = new Layer(ctx, trace.isDefined)
      val (st, rng, setupS) = setups(seed, trace.isDefined)(r => ServeRpc.setup(ctx, r, ctx.dir("serve")))(_.close())
      val warm = try warmup(ctx)((log, layer) => ServeRpc.run(ctx, st, rng, log, layer)(_ < ServeRpc.WarmCycles))
        catch { case e: Throwable => st.close(); throw e }
      val log = new OpLog(trace)
      val more = until(seconds)
      val c0 = Cpu.processNs()
      val t0 = System.nanoTime()
      val (el, cpu) = try {
        ServeRpc.run(ctx, st, rng, log, layer)(more)
        val t = ((System.nanoTime() - t0) / 1e9, Cpu.processNs() - c0)
        ServeRpc.finalCount(st, log)
        t
      } finally st.close()
      val reads = log.ofKind("rpc_read").filter(_.ok).map(_.ms)
      val inserts = log.ofKind("rpc_insert").filter(_.ok).map(_.ms)
      val ok = reads.size + inserts.size
      val e2e = endToEnd(setupS, log, ok, ok / el, reads, cpu)
      val ins = work(trace, "rpc_insert")
      val perLayer = summarize(layer) ++ Map("serve.connect_ms" -> st.connectMs,
        "serve.jobs_per_insert" -> (if (ins.isEmpty) 0.0 else ins.map(_.jobs).sum.toDouble / ins.size))
      Phase(setupS, e2e, perLayer, Map("e2e" -> e2e, "ops" -> opsReport(log, reads),
        "workload_metrics" -> (pXX("rpc_read_ms", reads) ++ pXX("rpc_insert_ms", inserts) ++
          Map("ops_per_s" -> ok / el))) ++ warm)
    }
  }

  object Stream extends Workload {
    def measure(ctx: Ctx, seed: Long, seconds: Double, trace: Option[Trace]): Phase = {
      val layer = new Layer(ctx, trace.isDefined)
      val progress = new StreamTail.Progress
      val (st, rng, setupS) = setups(seed, trace.isDefined)(r =>
        StreamTail.setup(ctx, r, ctx.dir("stream")))(_.stop())
      ctx.spark.streams.addListener(progress)
      val log = new OpLog(trace)
      val c0 = Cpu.processNs()
      val res = try StreamTail.run(ctx, st, rng, seconds, log, layer, progress) finally st.stop()
      val cpu = Cpu.processNs() - c0
      ctx.spark.streams.removeListener(progress)
      org.apache.spark.sql.graft.bridge.drainListenerBus(ctx.spark, 30000L)
      val drainRate = median(res.drainRowsPerS)
      val e2e = endToEnd(setupS, log, st.rows.size, drainRate, res.freshMs, cpu)
      val ps = progress.all
      def dur(k: String) = median(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
      val state = ps.lastOption.flatMap(_.stateOperators.headOption)
      val perLayer = summarize(layer) ++ Map(
        "streaming.batches" -> ps.size.toDouble,
        "streaming.rows_per_batch.p50" -> median(ps.filter(_.numInputRows > 0).map(_.numInputRows.toDouble)),
        "streaming.trigger_ms.p50" -> dur("triggerExecution"),
        "streaming.latest_offset_ms.p50" -> dur("latestOffset"),
        "streaming.query_planning_ms.p50" -> dur("queryPlanning"),
        "streaming.add_batch_ms.p50" -> dur("addBatch"),
        "streaming.wal_commit_ms.p50" -> dur("walCommit"),
        "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "streaming.overloaded_batches" -> st.gs.streamingOverloaded.size.toDouble)
      Phase(setupS, e2e, perLayer, Map("e2e" -> e2e, "ops" -> opsReport(log, res.freshMs),
        "workload_metrics" -> (pXX("freshness_ms", res.freshMs) ++ Map("drain_rows_per_s" -> drainRate,
          "drain_rows_per_s.samples" -> res.drainRowsPerS,
          "drain_rows_per_s.warm_samples" -> res.warmDrainRowsPerS, "freshness_ms.samples" -> res.freshMs,
          "publisher_late_ms.max" -> res.lateMaxMs)),
        "rows" -> st.rows.size))
    }
  }

  object Curation extends Workload {
    // the untraced phase's first pass; the traced phase, which runs
    // after it in the same JVM, must return the same rows
    private var reference = Map.empty[String, Seq[String]]

    def measure(ctx: Ctx, seed: Long, seconds: Double, trace: Option[Trace]): Phase = {
      val tables = Gen.curationTables(seed, CurationBatch.Sf)
      val dir = CurationBatch.write(ctx, tables, ctx.dir("curation"))
      val (_, _, setupS) = setups(seed, trace.isDefined)(_ =>
        CurationBatch.open(ctx, dir, tables.map(_._1)))(_ => ())
      val log = new OpLog(trace)
      val out = if (trace.isDefined) None else Some(ctx.dir("results"))
      val (passes, ref) = CurationBatch.run(ctx, dir, seconds, log, out,
        if (trace.isDefined) reference else Map.empty)
      reference = ref
      val qms = passes.flatMap(_.queryMs)
      val wall = passes.map(_.wallS)
      val cpuS = passes.map(_.cpuS)
      val nq = CurationBatch.Queries.size
      val e2e = endToEnd(setupS, log, nq, nq / median(wall), qms,
        (median(cpuS) * 1e9).toLong)
      val perLayer = trace.fold(Map.empty[String, Double]) { _ =>
        val np = passes.size.toDouble
        val perQuery = CurationBatch.Queries.zipWithIndex.flatMap { case (q, i) =>
          val ws = work(trace, q)
          Seq(s"operators.$q.wall_s" -> median(passes.map(_.queryMs(i) / 1e3)),
            s"operators.$q.cpu_s" -> ws.map(_.cpuNs).sum / 1e9 / np,
            s"operators.$q.shuffle_bytes" -> ws.map(_.shuffleWrite).sum / np,
            s"operators.$q.spill_bytes" -> ws.map(_.spill).sum / np,
            s"operators.$q.stages" -> ws.map(_.stages).sum / np)
        }
        val all = work(trace, CurationBatch.Queries: _*)
        val busy = passes.map { p =>
          val iv = all.flatMap(_.taskIntervals).map { case (a, b) => (a * 1000000L, b * 1000000L) }
          val epochOff = System.currentTimeMillis() * 1000000L - System.nanoTime()
          val (p0, p1) = (p.t0 + epochOff, p.t1 + epochOff)
          p.wallS - Trace.union(iv.map { case (a, b) => (math.max(a, p0), math.min(b, p1)) }
            .filter(x => x._2 > x._1)) / 1e9
        }
        perQuery.toMap ++ Map(
          "operators.task_cpu_s" -> all.map(_.cpuNs).sum / 1e9 / np,
          "operators.gc_s" -> all.map(_.gcMs).sum / 1e3 / np,
          "operators.driver_s" -> median(busy),
          "operators.jobs" -> all.map(_.jobs).sum / np,
          "operators.tasks" -> all.map(_.tasks).sum / np,
          "operators.skew_milli.max" -> all.flatMap(_.stageSkewMilli).maxOption.getOrElse(0L).toDouble) ++
          CurationBatch.kernels(ctx, dir, 50000).map { case (k, v) => s"plans.$k.ns_per_row" -> v }
      }
      Phase(setupS, e2e, perLayer, Map("e2e" -> e2e, "ops" -> opsReport(log, qms),
        "workload_metrics" -> Map("batch_s" -> median(wall), "batch_cpu_s" -> median(cpuS),
          "passes" -> passes.size),
        "oracle_dir" -> out, "data_dir" -> dir, "pass_wall_s" -> wall, "pass_cpu_s" -> cpuS))
    }
  }

  /** Medians of a layer's samples (latencies named `.p50`) and its
    * counters, by metric name. */
  def summarize(layer: Layer): Map[String, Double] =
    layer.samples.map { case (k, xs) =>
      (if (k.endsWith("_ms")) s"$k.p50" else k) -> Stats.median(xs.toSeq)
    }.toMap ++ layer.counts.filterNot(_._1 == "sources.bytes_created")
}
