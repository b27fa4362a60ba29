package graft.streaming

import java.io.{IOException, OutputStream}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession

import graft.operators.EventLogService

/** The literal HTTP transport: serves live SSE tails to real HTTP
  * clients, mirroring the reference's net/http service
  * (/root/reference/internal/kinesis2sse/service.go):
  *
  *  - `GET /health` → 200 (service.go:88-90);
  *  - `GET /routes/{route}?since=...` → `Access-Control-Allow-Origin:
  *    *` + `Content-Type: text/event-stream`, an initial `:ok`
  *    comment frame, then `data: <json>\n\n` frames flushed as they
  *    arrive (service.go:245-283);
  *  - `since` optional: absent resumes at the route's LATEST retained
  *    offset — a pure live tail, seeked by offset exactly as the
  *    reference does (service.go:254-258), so timestamp ties can't drop
  *    events; present it is RFC3339 or a Go duration, resolved to an
  *    offset by the hub's in-memory index, with malformed input
  *    answered 400 before anything is subscribed (service.go:228-242);
  *  - SSE-spec resume: frames carry `id: <offset>`, and a reconnect
  *    with `Last-Event-ID: <offset>` replays strictly after it —
  *    exactly the missed frames the ring still retains (the
  *    README.md:46-48 contract the reference code never implemented);
  *    malformed header → 400;
  *  - per-client disconnect: a failed frame write tears down that
  *    client's subscription only (service.go:272-274 breaks on write
  *    error); idle connections are detected via SSE comment
  *    heartbeats; a client that stalls reading until its bounded frame
  *    queue fills is disconnected rather than buffered without limit;
  *  - ingest failure: when the hub's query is no longer active, every
  *    stream ends (a client never heartbeats against a dead feed), and
  *    the next connect restarts the ingest into the same rings, so a
  *    `Last-Event-ID` reconnect is gapless;
  *  - graceful shutdown: [[stop]] closes every subscription and the
  *    hub, then the listener and its handler pool (service.go:193-215).
  *
  * Every connection is a subscription on ONE [[SseHub]] — one
  * continuous Spark query filling per-route bounded rings, each
  * handler seeking into its route's ring (the reference's memlog
  * architecture, service.go:100-106, 244-262). A connect runs no Spark
  * job; only the first one (or the first after an ingest failure)
  * starts the hub's query. The hub pushes frames into a per-subscription bounded
  * queue; the handler thread drains it to the socket — so a slow
  * client back-pressures (and, at the bound, disconnects) only its own
  * connection, never the ingest. An idle handler blocks on its queue
  * for at most 20 ms, so a frame reaches the socket as
  * soon as the hub appends it. Built on the JDK's
  * com.sun.net.httpserver — no dependency beyond the JRE.
  *
  * `pollIntervalMs` is the hub's ingest trigger (see [[SseHub]]): the
  * default 0 starts each micro-batch when the previous one ends, so a
  * new file is not held for a wall-clock trigger tick; a positive
  * interval trades pickup latency for less idle CPU. The hub is built
  * here, so a negative interval fails this constructor, not the first
  * client's connect.
  *
  * `shared` is kept only for source compatibility with callers that
  * pass `shared = true` (the benchmark harness does); the hub is the
  * only serving mode, so `false` is rejected. A later change to the
  * benchmark removes the parameter together with that call.
  */
class SseHttpServer(spark: SparkSession, dir: String,
                    port: Int = 0,
                    pollIntervalMs: Long = 0L,
                    heartbeatMs: Long = 500L,
                    maxQueuedFrames: Int = 10000,
                    shared: Boolean = true,
                    nowNs: () => Long = () => System.currentTimeMillis() * 1000000L,
                    hubCapacity: Int = 100000) {

  require(shared, "shared = false (one query per connection) was removed; " +
    "every connection is served by the hub")

  // ONE hub query serves every client. Built first, so a bad capacity
  // or interval fails at construction, before the listener socket is
  // bound, rather than inside the first HTTP handler.
  private val hub = new SseHub(spark, dir, capacity = hubCapacity,
    pollIntervalMs = pollIntervalMs, maxQueuedFrames = maxQueuedFrames)
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool = Executors.newCachedThreadPool()
  private val activeSubs = TrieMap.empty[Long, SseHub.Subscription]
  @volatile private var closed = false
  // longest an idle handler waits on its queue between checks
  private val PollWaitMs = 20L

  /** Starts the ingest on the first connect, and restarts it on the
    * first connect after it died; restart() keeps the rings, so a
    * resume across the outage is gapless. */
  private def ensureIngest(): Unit = synchronized {
    if (closed) throw new IllegalStateException("server stopped")
    if (!hub.isIngesting) hub.restart()
  }

  server.createContext("/health", (ex: HttpExchange) => {
    ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })
  server.createContext("/routes/", (ex: HttpExchange) => handleRoute(ex))
  server.setExecutor(pool)

  def start(): Int = { server.start(); boundPort }
  def boundPort: Int = server.getAddress.getPort
  def activeClients: Int = activeSubs.size

  /** Graceful shutdown: new writes stop, every subscription and the
    * hub are closed, then the listener and handler pool close. Runs
    * under the same monitor as `ensureIngest`, so a connect racing
    * shutdown either subscribes before the sweep (and is swept) or
    * observes `closed` and refuses; late registrations that slip past
    * the sweep re-check `closed` after registering and tear themselves
    * down (see `streamTo`). */
  def stop(): Unit = synchronized {
    closed = true
    activeSubs.values.foreach(s => try s.close() catch { case _: Exception => () })
    try hub.stop() catch { case _: Exception => () }
    server.stop(0)
    pool.shutdown()
  }

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name => URLDecoder.decode(v, "UTF-8") }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handleRoute(ex: HttpExchange): Unit = {
    ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
    val route = ex.getRequestURI.getPath.stripPrefix("/routes/")
    if (route.isEmpty || route.contains("/")) { respond(ex, 404, "Not Found\n"); return }
    // SSE-spec resume: every delivered frame carries `id: <offset>`, so
    // a reconnecting client's `Last-Event-ID` header is a strictly-
    // after OFFSET seek — it wins over `since` (the browser re-sends
    // the original query string alongside the header; the header is
    // the more precise position). The reference README names this
    // contract (README.md:46-48); its code only ever did `?since=`.
    // None = a malformed seek position; resolved only once the ingest
    // runs, so a seek sees the ring the catch-up batch filled
    val seek: Option[() => Long] =
      Option(ex.getRequestHeaders.getFirst("Last-Event-ID")) match {
        case Some(v) => v.toLongOption.map(off => () => off)
        case None => queryParam(ex, "since") match {
          // the hub's in-memory ts->offset index resolves the instant
          // (the reference's t2o role) over the route's ring
          case Some(s) => EventLogService.parseSinceNs(s, nowNs()).toOption
            .map(ns => () => hub.resolveSinceOffset(route, ns))
          // absent since = the route's latest retained offset
          // (service.go:254-258: seek to the log's current end; an
          // empty log streams everything)
          case None => Some(() => hub.latestOffset(route))
        }
      }
    seek match {
      case None => respond(ex, 400, "Bad Request\n") // service.go:237
      case Some(resolve) =>
        try ensureIngest()
        catch { case _: IllegalStateException => // observed `closed`
          respond(ex, 503, "Service Unavailable\n"); return
        }
        streamTo(ex, hub.subscribe(route, resolve()))
    }
  }

  private def streamTo(ex: HttpExchange, sub: SseHub.Subscription): Unit = {
    activeSubs.put(sub.id, sub)
    try {
      // late registration may have slipped past stop()'s sweep
      if (closed) throw new IOException("server shutting down")
      ex.getResponseHeaders.add("Content-Type", "text/event-stream")
      ex.getResponseHeaders.add("Cache-Control", "no-cache")
      ex.sendResponseHeaders(200, 0) // chunked: the stream has no length
      val os = ex.getResponseBody
      os.write(":ok\n\n".getBytes(UTF_8)) // service.go:248-252
      os.flush()
      drainLoop(os, sub)
    }
    catch { case _: IOException => () } // client hung up: this sub only
    finally {
      activeSubs.remove(sub.id)
      sub.close()
      try ex.close() catch { case _: Exception => () }
    }
  }

  /** Pump queued frames to the socket; between frames, send SSE
    * comment heartbeats so a dead client is noticed even when the
    * route is idle (the write to a closed socket is what throws). A
    * queue that hit its bound means the client stalled while frames
    * kept arriving — disconnect it, as the reference does on a failed
    * write, instead of buffering without limit. */
  private def drainLoop(os: OutputStream, sub: SseHub.Subscription): Unit = {
    var lastWrite = System.currentTimeMillis()
    while (!closed) {
      // overflow disconnects IMMEDIATELY (the stream already has a
      // gap — frames were dropped at the add end; a busy feed could
      // keep the queue non-empty forever, so this cannot wait for a
      // drain), per the reference's failed-write teardown
      if (sub.overflowed)
        throw new IOException("client too slow")
      // a frame appended mid-wait is written at once; the overflow,
      // close and heartbeat checks still run at least every PollWaitMs
      val frame = sub.poll(PollWaitMs)
      if (frame != null) {
        os.write(frame)
        os.flush()
        lastWrite = System.currentTimeMillis()
      } else if (sub.isClosed || !hub.isIngesting) {
        // a dead ingest can never deliver another frame: end the
        // stream instead of heartbeating the client forever. Checked
        // only once the queue is DRAINED, so frames already buffered
        // when the feed ended are still delivered first
        throw new IOException("feed closed")
      } else if (System.currentTimeMillis() - lastWrite >= heartbeatMs) {
        os.write(":\n\n".getBytes(UTF_8))
        os.flush()
        lastWrite = System.currentTimeMillis()
      }
    }
  }
}
