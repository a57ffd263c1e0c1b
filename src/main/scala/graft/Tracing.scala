package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ScheduledExecutorService, ThreadLocalRandom, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** OTLP trace export — the counterpart of the reference's tracing
  * deployment (`tracing/otel-collector.yaml` + the
  * `opentelemetry-otlp` batch pipeline its examples install,
  * ella-engine/examples/pubsub.rs:21-31, and the `#[instrument]`
  * spans on publish/compact/shard paths, e.g.
  * ella-engine/src/table/topic/rw.rs:93).
  *
  * Spark-first translation: Spark's own listeners ARE the
  * instrumentation points, so no code path needs annotating —
  *   - a [[QueryExecutionListener]] emits one span per completed
  *     Dataset action (name = the action, duration from Spark's own
  *     nanotime, error recorded on failure), and
  *   - a [[StreamingQueryListener]] emits one span per micro-batch
  *     (name = `stream:<query>`, batch id + row count as attributes).
  *
  * Spans ship as OTLP/HTTP JSON (the stable public encoding,
  * `/v1/traces`) from a driver-side bounded batch queue: listener
  * threads only enqueue (never block on the network); a single
  * flusher drains the queue every `flushMs` into one POST, and
  * `stop()` flushes what remains. Failures drop spans, never queries
  * — telemetry must not become a second failure mode. The queue is
  * bounded (drop-oldest) so a dead collector cannot grow driver
  * memory: the same stance as the batch exporter the reference
  * installs.
  *
  * Driver-only cost, O(actions): nothing here touches executors.
  * Enable via `Tracing.start(spark, endpoint)` or let [[Serve]] own
  * it through `GRAFT_OTLP_ENDPOINT`.
  */
object Tracing {
  private val MaxQueued = 4096

  private final case class Span(name: String, startNanos: Long, endNanos: Long,
                                ok: Boolean, attrs: Seq[(String, Either[String, Long])])

  final class Handle private[Tracing] (spark: SparkSession, endpoint: String,
                                       flushMs: Long) {
    private val queue = new ConcurrentLinkedQueue[Span]()
    private val queued = new java.util.concurrent.atomic.AtomicInteger
    private val client = HttpClient.newHttpClient()
    /** Spans sent so far (POSTs acknowledged are not awaited; this
      * counts spans handed to the transport). */
    val sent = new java.util.concurrent.atomic.AtomicLong

    private def offer(s: Span): Unit = {
      // bounded drop-oldest: telemetry never grows driver memory
      if (queued.incrementAndGet() > MaxQueued) { queue.poll(); queued.decrementAndGet() }
      queue.add(s)
    }

    private val queryListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val end = System.currentTimeMillis() * 1000000L
        offer(Span(s"query:$funcName", end - durationNs, end, ok = true, Seq.empty))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
        val end = System.currentTimeMillis() * 1000000L
        offer(Span(s"query:$funcName", end, end, ok = false,
          Seq("error" -> Left(s"${exception.getClass.getSimpleName}"))))
      }
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val durMs = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
        val end = System.currentTimeMillis() * 1000000L
        offer(Span(s"stream:${Option(p.name).getOrElse(p.id.toString)}",
          end - durMs * 1000000L, end, ok = true,
          Seq("batch_id" -> Right(p.batchId), "input_rows" -> Right(p.numInputRows))))
      }
    }

    private val flusher: ScheduledExecutorService =
      Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "graft-otlp-flusher"); t.setDaemon(true); t
      }

    private[Tracing] def attach(): Unit = {
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
      flusher.scheduleWithFixedDelay(() => flush(), flushMs, flushMs, TimeUnit.MILLISECONDS)
    }

    /** Drain the queue into one OTLP POST (no-op when empty). */
    def flush(): Unit = {
      val batch = Vector.newBuilder[Span]
      var s = queue.poll()
      while (s != null) { queued.decrementAndGet(); batch += s; s = queue.poll() }
      val spans = batch.result()
      if (spans.nonEmpty) {
        val body = render(spans)
        val req = HttpRequest.newBuilder(URI.create(endpoint))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
          .build()
        // async + discard: a slow/dead collector drops telemetry, it
        // never stalls the flusher past one scheduling delay
        try { client.sendAsync(req, HttpResponse.BodyHandlers.discarding()); sent.addAndGet(spans.size.toLong) }
        catch { case _: Throwable => () }
      }
    }

    @volatile private var stopped = false
    /** Final flush, then detach the listeners; idempotent. */
    def stop(): Unit = synchronized {
      if (!stopped) {
        stopped = true
        flush()
        flusher.shutdown()
        spark.listenerManager.unregister(queryListener)
        spark.streams.removeListener(streamListener)
      }
    }
  }

  /** Start exporting spans to `endpoint` (an OTLP/HTTP traces URL,
    * e.g. `http://collector:4318/v1/traces`). */
  def start(spark: SparkSession, endpoint: String, flushMs: Long = 1000L): Handle = {
    val h = new Handle(spark, endpoint, flushMs)
    h.attach()
    h
  }

  private def hex(bytes: Int): String = {
    val b = new Array[Byte](bytes)
    ThreadLocalRandom.current().nextBytes(b)
    b.map("%02x".format(_)).mkString
  }

  /** OTLP/HTTP JSON: one resourceSpans / one scopeSpans envelope per
    * POST; span ids are fresh randoms (each action is its own trace —
    * Spark actions have no ambient parent context to propagate). */
  private def render(spans: Seq[Span]): String = {
    val items = spans.map { s =>
      val attrs = s.attrs.map {
        case (k, Left(v))  => s"""{"key":"${Json.escape(k)}","value":{"stringValue":"${Json.escape(v)}"}}"""
        case (k, Right(v)) => s"""{"key":"${Json.escape(k)}","value":{"intValue":"$v"}}"""
      }.mkString(",")
      s"""{"traceId":"${hex(16)}","spanId":"${hex(8)}","name":"${Json.escape(s.name)}","kind":1,""" +
        s""""startTimeUnixNano":"${s.startNanos}","endTimeUnixNano":"${s.endNanos}",""" +
        s""""attributes":[$attrs],"status":{"code":${if (s.ok) 1 else 2}}}"""
    }.mkString(",")
    """{"resourceSpans":[{"resource":{"attributes":[""" +
      """{"key":"service.name","value":{"stringValue":"graft"}}]},""" +
      s""""scopeSpans":[{"scope":{"name":"graft"},"spans":[$items]}]}]}"""
  }
}
