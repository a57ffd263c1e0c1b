package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.{Connect, GraftSession, Serve}

/** serve-rpc: one remote client over `graft.Connect.jdbc` against an
  * in-process `graft.Serve.start` endpoint, in a closed loop of
  * range-aggregate SELECTs and single-row INSERTs (four to one) on a
  * 24-bucket topic. The small topic keeps listing cheap, so the serve layer's
  * share of each operation is as large as this system allows. */
object ServeRpc {
  val HistoryBuckets = 24
  val HistoryRowsPerBucket = 40
  val Topic = "ev"

  final class State(val gs: GraftSession, val conn: java.sql.Connection, val connectMs: Double) {
    val rows = mutable.ArrayBuffer[Ev]()
    def close(): Unit = { conn.close(); Serve.shutdown(gs) }
  }

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  def setup(ctx: Ctx, rng: SplittableRandom, dir: String): State = {
    val seed = new GraftSession(ctx.spark, dir)
    val hist = Gen.events(rng, HistoryBuckets * HistoryRowsPerBucket, Gen.T0,
      Gen.T0 + HistoryBuckets * Gen.HourS)
    // the remote INSERT path derives buckets from a column named `time`
    seed.publish(Topic, Gen.frame(ctx.spark, hist, "time"), "time")
    val port = freePort()
    val gs = Serve.start(ctx.spark, dir, port)
    val t0 = System.nanoTime()
    val conn = Connect.jdbc(s"sc://localhost:$port")
    val st = new State(gs, conn, (System.nanoTime() - t0) / 1e6)
    st.rows ++= hist
    st
  }

  // untimed op cycles before the measured ones, so they see a warm JVM
  val WarmCycles = 2

  def selectSql(from: Long, to: Long): String =
    s"SELECT event_type, count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS c " +
      s"FROM graft.$Topic WHERE time >= timestamp_seconds($from) AND time < timestamp_seconds($to) " +
      "GROUP BY event_type"

  private def remote(conn: java.sql.Connection, sql: String): Map[String, (Long, Long)] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val out = mutable.Map[String, (Long, Long)]()
      while (rs.next()) out(rs.getString(1)) = (rs.getLong(2), rs.getLong(3))
      rs.close()
      out.toMap
    } finally st.close()
  }

  /** Run op cycles while `more(cycles run so far)`. */
  def run(ctx: Ctx, st: State, rng: SplittableRandom, log: OpLog, layer: Layer)(more: Int => Boolean): Unit = {
    val end = Gen.T0 + HistoryBuckets * Gen.HourS
    def read(hours: Int): Unit = {
      val to = Gen.T0 + (hours + rng.nextInt(HistoryBuckets - hours + 1)) * Gen.HourS
      val from = to - hours * Gen.HourS
      val sql = selectSql(from, to)
      log.run("rpc_read")(remote(st.conn, sql)).foreach { got =>
        val want = Gen.rangeTruth(st.rows, from, to)
        log.check("rpc_read", got == want, s"[$from,$to) got $got want $want")
      }
      if (layer.tracing) {
        val remoteMs = log.all.last.ms
        val (_, localMs) = layer.timedMs(ctx.spark.sql(sql).collect())
        layer.sample("serve.rpc_overhead_ms", remoteMs - localMs)
      }
    }
    def insert(): Unit = {
      val e = Gen.events(rng, 1, Gen.T0, end).head
      val sql = s"INSERT INTO graft.$Topic VALUES (timestamp_seconds(${e.ts}), ${e.user}, " +
        s"'${e.etype}', ${e.cents / 100.0}D)"
      val ok = log.run("rpc_insert") {
        val s = st.conn.createStatement()
        try s.execute(sql) finally s.close()
      }.isDefined
      if (ok) st.rows += e
    }
    // whole cycles of four reads of fixed widths and one insert, so
    // every run measures the same mix
    var i = 0
    while (more(i)) {
      read(1); read(6); insert(); read(12); read(3)
      i += 1
    }
  }

  /** The topic must hold every row published and inserted. */
  def finalCount(st: State, log: OpLog): Unit =
    log.run("final_count")(remote(st.conn,
      s"SELECT 'all', count(*), 0L FROM graft.$Topic")).foreach { got =>
      val n = got.get("all").map(_._1).getOrElse(-1L)
      log.check("final_count", n == st.rows.size, s"topic holds $n rows, inserted ${st.rows.size}")
    }
}
