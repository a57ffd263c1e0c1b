package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** tsdb-mixed: one client in a closed loop running a seeded mix of
  * publishes, `readRange` aggregates, `query` range SQL and held reads
  * (a lazy frame built before a publish and executed after it) against
  * one topic with 96 hourly buckets (three times Spark's 32-path
  * parallel-listing threshold) and a registered compaction cadence.
  * Storage does most of the work: listing, pruning, append, compaction
  * and the catalog log, with writes beside reads. */
object TsdbMixed {
  val HistoryBuckets = 96
  val HistoryRowsPerBucket = 40
  val RowsPerPublish = 20
  val CompactEveryAppends = 2
  val CompactMaxFiles = 2
  val Topic = "ev"
  // publishes land in the newest few hours; the clock advances 15
  // minutes per publish, so new buckets keep opening during a run
  val PublishStepS = 900L

  final class State(val gs: GraftSession, val fqn: String, val root: String) {
    val rows = mutable.ArrayBuffer[Ev]()
    var clock: Long = Gen.T0 + HistoryBuckets * Gen.HourS
  }

  def setup(ctx: Ctx, rng: SplittableRandom, dir: String): State = {
    val gs = new GraftSession(ctx.spark, dir)
    val hist = Gen.events(rng, HistoryBuckets * HistoryRowsPerBucket, Gen.T0,
      Gen.T0 + HistoryBuckets * Gen.HourS)
    // sorted rows over one slice per core: each bucket is written by
    // one or two tasks, like a history that arrived in order
    gs.publish(Topic, Gen.frame(ctx.spark, hist), "ts")
    gs.setCompaction(Topic, everyAppends = CompactEveryAppends, maxFilesPerBucket = CompactMaxFiles)
    val st = new State(gs, gs.catalog.resolve(Topic), dir)
    st.rows ++= hist
    st
  }
  // untimed op cycles before the measured ones, so they see a warm JVM
  val WarmCycles = 1

  private def aggOf(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("c"))

  private def asTruth(rows: Array[Row]): Map[String, (Long, Long)] =
    rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Run whole op cycles while `more(cycles run so far)`. */
  def run(ctx: Ctx, st: State, rng: SplittableRandom, log: OpLog, layer: Layer)(more: Int => Boolean): Unit = {
    val gs = st.gs

    def nextBatch(): Vector[Ev] = {
      st.clock += PublishStepS
      Gen.events(rng, RowsPerPublish, st.clock - 2 * Gen.HourS, st.clock)
    }
    def publish(batch: Vector[Ev]): Boolean = {
      val before = layer.bucketFiles(st)
      val t0 = System.nanoTime()
      val ok = log.run("publish")(gs.publish(Topic, Gen.frame(ctx.spark, batch), "ts")).isDefined
      if (ok) {
        st.rows ++= batch
        layer.afterPublish(st, before, (System.nanoTime() - t0) / 1e6)
      }
      ok
    }
    // `hours` wide, ending at a seeded hour of the whole history
    def range(hours: Int): (Long, Long) = {
      val end = st.clock - rng.nextLong(HistoryBuckets - hours + 1) * Gen.HourS
      (end - hours * Gen.HourS, end)
    }

    def rangeRead(hours: Int): Unit = {
      val (from, to) = range(hours)
      log.run("range_read") {
        val (df, planMs) = layer.timed(aggOf(gs.store.readRange(st.fqn, from, to, "ts")))
        val (rows, execMs) = layer.timedMs(df.collect())
        layer.afterRead(st, df, planMs, execMs, Gen.rangeTruth(st.rows, from, to))
        rows
      }.foreach { rows =>
        val want = Gen.rangeTruth(st.rows, from, to)
        log.check("range_read", asTruth(rows) == want, s"[$from,$to) got ${asTruth(rows)} want $want")
      }
    }
    def query(hours: Int): Unit = {
      val (from, to) = range(hours)
      val sql = s"SELECT event_type, count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS c " +
        s"FROM $Topic WHERE ts >= timestamp_seconds($from) AND ts < timestamp_seconds($to) " +
        "GROUP BY event_type"
      log.run("query") {
        val (df, planMs) = layer.timedMs(gs.query(sql))
        layer.sessionPlan(planMs)
        df.collect()
      }.foreach { rows =>
        val want = Gen.rangeTruth(st.rows, from, to)
        log.check("query", asTruth(rows) == want, s"[$from,$to) got ${asTruth(rows)} want $want")
      }
    }
    // a lazy read over the hours the next publish writes into, built
    // before the publish and executed after it
    def heldRead(): Unit = {
      val batch = nextBatch()
      val (from, to) = (st.clock - 3 * Gen.HourS, st.clock + Gen.HourS)
      val want = Gen.rangeTruth(st.rows, from, to)
      val held = log.run("held_build")(aggOf(gs.store.readRange(st.fqn, from, to, "ts")))
      publish(batch)
      held.foreach { df =>
        log.run("held_read")(df.collect()).foreach { rows =>
          log.check("held_read", asTruth(rows) == want, s"[$from,$to) got ${asTruth(rows)} want $want")
        }
      }
    }

    // A fixed cycle of operations and range widths whose positions and
    // rows are seeded, run whole so every run measures the same mix.
    // Two publishes per
    // cycle put every held read's publish on the compaction cadence, so
    // the held reads fail the same way on every run until readers and
    // compaction are coordinated.
    val cycle: Seq[() => Unit] = Seq(() => publish(nextBatch()), () => rangeRead(1),
      () => query(6), () => heldRead(), () => rangeRead(24), () => rangeRead(6))
    var i = 0
    while (more(i)) { cycle.foreach(_()); i += 1 }
  }

  /** The topic must hold every row published. */
  def finalCount(st: State, log: OpLog): Unit =
    log.run("final_count")(st.gs.table(Topic).count()).foreach { n =>
      log.check("final_count", n == st.rows.size, s"topic holds $n rows, published ${st.rows.size}")
    }
}
