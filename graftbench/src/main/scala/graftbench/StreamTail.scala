package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.GraftSession
import graft.streaming.TopicStream

/** stream-tail: an open loop. A publisher thread publishes event batches
  * at a fixed rate while `subscribe` feeds `TopicStream.windowedStats`
  * into a foreachBatch sink that upserts the emitted windows; then a
  * catch-up phase, five times (the first two untimed), stops the
  * subscriber, publishes a fixed backlog and restarts it from its
  * checkpoint. The only workload where micro-batch planning, file-source listing and
  * streaming state are on the critical path. No compaction cadence is
  * registered: `subscribe` re-delivers compacted rows (a known defect),
  * which would make the stream's output wrong rather than slow. */
object StreamTail {
  val Topic = "ev"
  // 2,000 rows/s: about a third of the ~6,000 rows/s the subscriber
  // drains in catch-up. One publisher sustains ~4 batches/s beside a live
  // subscriber; at 3 x 1,000 rows/s it already ran 50-70 ms late
  val RowsPerBatch = 667
  val BatchesPerSecond = 3.0
  // the first two catch-ups warm the restart path and are not measured:
  // a drain still speeds up over the first few catch-ups of a run
  val CatchUps = 5
  val WarmCatchUps = 2
  val BacklogBatches = 2
  val BacklogRowsPerBatch = 2500
  val InitialRows = 200
  // untimed open-loop publishing before the timed part
  val WarmS = 5.0
  // event time advances one minute per batch; disorder stays well
  // inside windowedStats' 30-minute watermark delay
  val StepS = 60L
  val DisorderS = 600L

  /** The sink's view: windows upserted by every micro-batch, and after
    * each batch, when it ended and how many rows the windows cover. */
  final class Sink {
    val windows = new ConcurrentHashMap[(Long, String), (Long, Long)]()
    val ends = mutable.ArrayBuffer[(Long, Long, Long)]() // (batch id, end ns, absorbed)
    def absorbed: Long = windows.values.asScala.map(_._1).sum
    def upsert(rows: Array[Row], id: Long): Unit = {
      rows.foreach(r => windows.put((r.getTimestamp(0).getTime / 1000, r.getString(1)),
        (r.getLong(2), r.getLong(3))))
      val a = absorbed
      synchronized { ends += ((id, System.nanoTime(), a)) }
    }
    def endsSnapshot: Seq[(Long, Long, Long)] = synchronized(ends.toList)
  }

  /** Streaming progress, read from Spark's public listener events. */
  final class Progress extends StreamingQueryListener {
    val events = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { events += e.progress }
    def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(events.toList)
  }

  final case class Result(freshMs: Seq[Double], drainRowsPerS: Seq[Double],
                          warmDrainRowsPerS: Seq[Double], lateMaxMs: Double)

  final class State(val gs: GraftSession, val dir: String, val sink: Sink) {
    val rows = mutable.ArrayBuffer[Ev]()
    var query: StreamingQuery = _
    var clock: Long = Gen.T0 + Gen.HourS
    def stop(): Unit = if (query != null) { query.stop(); query = null }
  }

  def start(ctx: Ctx, st: State): Unit = {
    val sinkFn: (Dataset[Row], Long) => Unit = (b, id) => st.sink.upsert(b.collect(), id)
    st.query = TopicStream.windowedStats(st.gs.subscribe(Topic))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"${st.dir}/checkpoint")
      .foreachBatch(sinkFn)
      .start()
  }

  /** Wait until the sink covers every published row. */
  def awaitAbsorbed(st: State, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (st.sink.absorbed < st.rows.size && System.nanoTime() < deadline) {
      if (st.query != null) st.query.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
    st.sink.absorbed >= st.rows.size
  }

  /** Let the running query commit its last batch, and any no-data batch
    * that advances the watermark, before it is stopped: a query stopped
    * between its sink call and its commit re-runs that batch on restart,
    * which would put a second micro-batch into some catch-ups only. */
  def quiesce(st: State): Unit = if (st.query != null) st.query.processAllAvailable()

  def setup(ctx: Ctx, rng: SplittableRandom, dir: String): State = {
    val st = new State(new GraftSession(ctx.spark, dir), dir, new Sink)
    val init = Gen.events(rng, InitialRows, Gen.T0, Gen.T0 + Gen.HourS)
    st.gs.publish(Topic, Gen.frame(ctx.spark, init), "ts")
    st.rows ++= init
    start(ctx, st)
    require(awaitAbsorbed(st, 60), "subscriber never absorbed the initial rows")
    st
  }

  private def batch(st: State, rng: SplittableRandom, n: Int): Vector[Ev] = {
    st.clock += StepS
    Gen.events(rng, n, st.clock - DisorderS, st.clock)
  }

  /** Open-loop publishing for `seconds` at BatchesPerSecond. A publisher
    * that fell behind publishes every batch already due in one call, as a
    * client flushing its buffer would. Published one at a time (~250 ms
    * each against the 333 ms period), overdue batches would take many
    * periods to clear, and one stall would raise the freshness of most of
    * a run. Returns each batch's (due ns, cumulative rows once published)
    * and how late, in ms, the publisher started it. */
  private def openLoop(ctx: Ctx, st: State, rng: SplittableRandom, seconds: Double,
                       log: OpLog): (Seq[(Long, Long)], Seq[Double]) = {
    val sent = mutable.ArrayBuffer[(Long, Long)]()
    val lateMs = mutable.ArrayBuffer[Double]()
    val period = (1e9 / BatchesPerSecond).toLong
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val publisher = new Thread(() => {
      var i = 0
      while (t0 + i * period < end) {
        val wait = t0 + i * period - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        // at least batch i, which is due by now
        val now = math.max(System.nanoTime(), t0 + i * period)
        val dues = Iterator.from(i).map(t0 + _ * period).takeWhile(d => d <= now && d < end).toVector
        lateMs ++= dues.map(d => (now - d) / 1e6)
        val evs = dues.flatMap(_ => batch(st, rng, RowsPerBatch))
        if (log.run("publish")(st.gs.publish(Topic, Gen.frame(ctx.spark, evs), "ts")).isDefined) {
          st.rows ++= evs
          sent ++= dues.map(d => (d, st.rows.size.toLong))
        }
        i += dues.size
      }
    }, "graftbench-publisher")
    publisher.start()
    publisher.join()
    (sent.toSeq, lateMs.toSeq)
  }

  def run(ctx: Ctx, st: State, rng: SplittableRandom, seconds: Double, log: OpLog,
          layer: Layer, progress: Progress): Result = {
    val pubRng = rng.split()
    // untimed publishing warms the publish and micro-batch paths; the
    // timed open loop follows without a pause
    openLoop(ctx, st, pubRng, WarmS, log)
    val (sent, lateMs) = openLoop(ctx, st, pubRng, seconds, log)
    log.run("drain_steady")(require(awaitAbsorbed(st, 60), "steady phase never drained"))
    val ends = st.sink.endsSnapshot

    // catch-up: stop, publish a backlog, restart from the checkpoint and
    // time the drain
    val drains = (1 to CatchUps).map { _ =>
      quiesce(st)
      st.stop()
      val before = st.rows.size
      (0 until BacklogBatches).foreach { _ =>
        val evs = batch(st, pubRng, BacklogRowsPerBatch)
        if (log.run("publish")(st.gs.publish(Topic, Gen.frame(ctx.spark, evs), "ts")).isDefined)
          st.rows ++= evs
      }
      val c0 = System.nanoTime()
      log.run("catch_up") {
        start(ctx, st)
        require(awaitAbsorbed(st, 120), "catch-up never drained")
      }.map(_ => (st.rows.size - before) / ((System.nanoTime() - c0) / 1e9))
    }
    val (warmDrains, measuredDrains) = drains.splitAt(WarmCatchUps)

    // correctness: absorbed total, ground truth, and a batch recomputation
    log.check("absorbed", st.sink.absorbed == st.rows.size,
      s"sink absorbed ${st.sink.absorbed} of ${st.rows.size} published rows")
    val truth = st.rows.groupBy(e => (e.ts / Gen.HourS * Gen.HourS, e.etype))
      .map { case (k, es) => k -> (es.size.toLong, es.map(_.cents).sum) }
    val got = st.sink.windows.asScala.toMap
    log.check("windows", got == truth, s"sink windows differ from ground truth in " +
      s"${(got.keySet ++ truth.keySet).count(k => got.get(k) != truth.get(k))} windows")
    log.run("recompute") {
      TopicStream.windowedStats(st.gs.table(Topic)).collect()
    }.foreach { rows =>
      val batchWin = rows.map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
      log.check("recompute", batchWin == got, "sink windows differ from a batch recomputation")
    }
    st.stop()

    // freshness: due time to the end of the first micro-batch after
    // which the sink covers the batch
    val fresh = sent.flatMap { case (due, cum) =>
      ends.find(e => e._3 >= cum && e._2 >= due).map(e => (e._2 - due) / 1e6)
    }
    if (layer.tracing) {
      val batchStart = progress.all.map(p => p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
      val epochOff = System.currentTimeMillis() * 1000000L - System.nanoTime()
      sent.foreach { case (due, cum) =>
        ends.find(e => e._3 >= cum && e._2 >= due).flatMap(e => batchStart.get(e._1)).foreach { s =>
          layer.sample("streaming.wait_ms", s - (due + epochOff) / 1e6)
        }
      }
    }
    Result(fresh, measuredDrains.flatten, warmDrains.flatten, lateMs.maxOption.getOrElse(0.0))
  }
}
