package graft

import java.io.{BufferedReader, File, InputStreamReader}
import java.net.{HttpURLConnection, Socket, URL}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.SseHttpServer

/** The literal HTTP transport: real clients over a real socket —
  * /health, CORS, the 400 path, `:ok` preamble, catch-up + live tail
  * with route/since seeks, latest-offset default, per-client
  * disconnect, `Last-Event-ID` resume, ring-bounded replay, ingest
  * failure + restart, graceful shutdown (service.go:74-119, 217-283).
  * Every connection rides the server's one hub query.
  *
  * Streaming clients are RAW sockets speaking HTTP/1.0 (close-
  * delimited responses), not HttpURLConnection: the JDK client's
  * disconnect() drains the response toward EOF to recycle the
  * connection, and an SSE stream never ends — the server keeps
  * heartbeating, the drain keeps reading, and the "dropped" client
  * hangs forever (observed as a deadlocked suite). A hard
  * socket.close() is what a real dropped client looks like to the
  * server anyway: the next frame/heartbeat write fails and tears the
  * subscription down (service.go:272-274).
  */
class SseHttpSpec extends SparkSpec {

  private val T0 = 1705276800000000000L

  private def writeEvents(dst: File, ids: Range, append: Boolean): Unit = {
    import spark.implicits._
    val rows = ids.map { i =>
      (i.toLong, T0 + i.toLong * 1000000000L, i.toLong % 7,
        if (i % 2 == 0) "click" else "view", i * 1.5, s"""{"k":"$i"}""")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode(if (append) "append" else "overwrite").parquet(dst.getPath)
  }

  private def eventually(timeoutMs: Long = 60000L)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(100)
    }
    cond
  }

  /** Runs `f` against a hub server over events `ids`; however many
    * clients `f` connects, they must all ride ONE streaming query. */
  private def withServer(ids: Range = 1 to 5, hubCapacity: Int = 100000)(
      f: (SseHttpServer, File) => Unit): Unit = {
    val base = Files.createTempDirectory("graft_http").toFile
    writeEvents(new File(base, "events.parquet"), ids, append = false)
    val srv = new SseHttpServer(spark, base.getPath,
      heartbeatMs = 200L, hubCapacity = hubCapacity)
    val before = spark.streams.active.length
    srv.start()
    try {
      f(srv, new File(base, "events.parquet"))
      assert(spark.streams.active.length <= before + 1,
        s"${spark.streams.active.length - before} streaming queries for one hub")
    } finally srv.stop()
  }

  /** Non-streaming endpoints (health/400/404) via HttpURLConnection. */
  private def get(port: Int, path: String,
                  headers: Seq[(String, String)] = Nil): HttpURLConnection = {
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(5000)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    c
  }

  /** Raw-socket SSE client: HTTP/1.0 request, background line reader,
    * HARD close (see class doc). */
  private final class SseClient(port: Int, path: String,
                                headers: Seq[(String, String)] = Nil) {
    private val socket = new Socket("127.0.0.1", port)
    socket.setSoTimeout(120000)
    locally {
      val os = socket.getOutputStream
      os.write((s"GET $path HTTP/1.0\r\nHost: 127.0.0.1\r\n" +
        headers.map { case (k, v) => s"$k: $v\r\n" }.mkString +
        "\r\n").getBytes("UTF-8"))
      os.flush()
    }
    val lines = new ConcurrentLinkedQueue[String]()
    val respHeaders = TrieMap.empty[String, String]
    @volatile var status: Int = -1
    /** The server closed the stream (or the socket died). */
    @volatile var ended = false
    private val reader = new Thread(() => {
      try {
        val br = new BufferedReader(
          new InputStreamReader(socket.getInputStream, "UTF-8"))
        val statusLine = br.readLine()
        var l = br.readLine()
        while (l != null && l.nonEmpty) { // response headers
          val i = l.indexOf(':')
          // lowercase keys: the JDK server normalizes names on the
          // wire ("Content-type"), and HTTP header names are
          // case-insensitive anyway
          if (i > 0) respHeaders.put(l.substring(0, i).trim.toLowerCase,
            l.substring(i + 1).trim)
          l = br.readLine()
        }
        // status published only after the headers are parsed, so an
        // awaitStatus() caller can assert on respHeaders race-free
        if (statusLine != null && statusLine.split(" ").length >= 2)
          status = statusLine.split(" ")(1).toInt
        if (l != null) { // body lines until close
          var b = br.readLine()
          while (b != null) { lines.add(b); b = br.readLine() }
        }
      } catch { case _: Exception => () }
      ended = true
    })
    reader.setDaemon(true)
    reader.start()
    def awaitStatus(timeoutMs: Long = 10000L): Int = {
      val dl = System.currentTimeMillis() + timeoutMs
      while (status == -1 && System.currentTimeMillis() < dl) Thread.sleep(20)
      status
    }
    def has(i: Int): Boolean = lines.asScala.exists(_.contains(s""""k":"$i""""))
    def ids: Set[Long] = lines.asScala
      .filter(_.startsWith("id: ")).map(_.stripPrefix("id: ").toLong).toSet
    /** The drop: hard socket close — the server's next write fails. */
    def close(): Unit = try socket.close() catch { case _: Exception => () }
  }

  test("GET /health answers 200 with CORS") {
    withServer() { (srv, _) =>
      val c = get(srv.boundPort, "/health")
      assert(c.getResponseCode == 200)
      assert(c.getHeaderField("Access-Control-Allow-Origin") == "*")
    }
  }

  test("malformed since answers 400 before any query runs") {
    withServer() { (srv, _) =>
      val c = get(srv.boundPort, "/routes/click?since=yesterday")
      assert(c.getResponseCode == 400)
      assert(srv.activeClients == 0)
      assert(get(srv.boundPort, "/routes/").getResponseCode == 404)
    }
  }

  test("SSE stream: :ok preamble, catch-up from since, route filter, live tail") {
    withServer(1 to 10) { (srv, evDir) =>
      val cA = new SseClient(srv.boundPort, "/routes/click?since=2024-01-15T00:00:00Z")
      val cB = new SseClient(srv.boundPort, "/routes/click?since=2024-01-15T00:00:07Z")
      assert(cA.awaitStatus() == 200)
      assert(cA.respHeaders.get("content-type").exists(_.startsWith("text/event-stream")))
      assert(cA.respHeaders.get("access-control-allow-origin").contains("*"))
      assert(eventually()(srv.activeClients == 2), "clients never attached")
      // catch-up: clicks 2..10 exist at connect time
      assert(eventually()((2 to 10 by 2).forall(cA.has)), "client A window incomplete")
      assert(cA.lines.asScala.head == ":ok", "missing :ok preamble")
      // B's instant resolves to the nearest offset at/after 07s: clicks 8, 10
      assert(eventually()(cB.has(8) && cB.has(10)), "client B window incomplete")
      assert(!cB.has(6), "client B replayed before its seek")
      // live tail: appended clicks stream to both open connections
      writeEvents(evDir, 11 to 14, append = true)
      assert(eventually()(cA.has(12) && cA.has(14) && cB.has(12) && cB.has(14)),
        "tail frames missing")
      // route filter: view events never cross this route's stream
      for (i <- 1 to 13 by 2)
        assert(!cA.has(i) && !cB.has(i), s"view event $i leaked into /routes/click")
      cA.close(); cB.close()
    }
  }

  test("absent since resumes at the latest offset (pure live tail)") {
    withServer() { (srv, evDir) =>
      val c = new SseClient(srv.boundPort, "/routes/click")
      assert(c.awaitStatus() == 200)
      assert(eventually()(c.lines.asScala.nonEmpty), "no preamble") // :ok
      writeEvents(evDir, 6 to 8, append = true)
      assert(eventually()(c.has(6) && c.has(8)), "tail frames missing")
      // nothing from before the connect was replayed
      assert(!c.has(2) && !c.has(4), "historical frames leaked")
      c.close()
    }
  }

  test("since after every retained event replays the route's newest event, then the live tail") {
    withServer(1 to 10) { (srv, evDir) =>
      // clicks 2..10 sit at T0+2s..T0+10s; the instant is later than all
      val c = new SseClient(srv.boundPort, "/routes/click?since=2024-01-15T00:01:00Z")
      assert(c.awaitStatus() == 200)
      // the backward fallback: the largest earlier offset, click 10
      assert(eventually()(c.has(10)), "newest retained event not replayed")
      writeEvents(evDir, 11 to 14, append = true)
      assert(eventually()(c.has(12) && c.has(14)), "tail frames missing")
      val idLines = c.lines.asScala.filter(_.startsWith("id: ")).toSeq
      assert(c.lines.asScala.head == ":ok", "missing :ok preamble")
      assert(idLines == Seq("id: 10", "id: 12", "id: 14"),
        s"not the newest event then the live tail: $idLines")
      c.close()
    }
  }

  test("client disconnect tears down only that client's query") {
    withServer() { (srv, _) =>
      val cA = new SseClient(srv.boundPort, "/routes/click?since=2024-01-15T00:00:00Z")
      val cB = new SseClient(srv.boundPort, "/routes/click?since=2024-01-15T00:00:00Z")
      assert(eventually()(srv.activeClients == 2), "clients never attached")
      cA.close()
      // the idle-heartbeat write notices the dead socket and reaps A
      assert(eventually()(srv.activeClients == 1), "disconnect not detected")
      assert(eventually()(cB.has(2)), "surviving client lost its stream")
      cB.close()
    }
  }

  test("Last-Event-ID resume: a dropped client reconnects and receives exactly the missed frames") {
    withServer() { (srv, evDir) =>
      // first connection: catch-up delivers clicks 2 and 4, each frame
      // preceded by its SSE id line (id == event_id == offset)
      val c1 = new SseClient(srv.boundPort, "/routes/click?since=2024-01-15T00:00:00Z")
      assert(eventually()(c1.has(2) && c1.has(4)), "catch-up frames missing")
      assert(c1.ids == Set(2L, 4L),
        s"frames must carry their offsets as SSE ids: ${c1.ids}")
      c1.close() // the drop
      // events land while the client is away
      writeEvents(evDir, 6 to 10, append = true)
      // reconnect with the last id it saw: exactly the missed clicks —
      // since=T0 alone would replay 2..10, so the header must win
      val c2 = new SseClient(srv.boundPort,
        "/routes/click?since=2024-01-15T00:00:00Z",
        headers = Seq("Last-Event-ID" -> "4"))
      assert(c2.awaitStatus() == 200)
      assert(eventually()(c2.has(6) && c2.has(8) && c2.has(10)),
        "missed frames not replayed")
      assert(!c2.has(2) && !c2.has(4),
        "frames before Last-Event-ID re-delivered (header must win over since)")
      assert(!c2.has(7) && !c2.has(9), "route filter lost on resume")
      c2.close()
      // a malformed header answers 400 before anything is subscribed
      for (bad <- Seq("not-an-offset", "4; DROP TABLE")) {
        val c3 = get(srv.boundPort, "/routes/click?since=2024-01-15T00:00:00Z",
          headers = Seq("Last-Event-ID" -> bad))
        assert(c3.getResponseCode == 400, bad)
      }
    }
  }

  test("Last-Event-ID beyond ring eviction resumes from the oldest retained offset") {
    // memlog semantics (service.go:101, memlog.WithMaxSegmentSize): a
    // seek before the oldest retained offset replays only what capacity
    // kept — never an error, never a duplicate of evicted history
    withServer(1 to 10, hubCapacity = 2) { (srv, evDir) =>
      // clicks 2,4,6,8,10 ingested; route ring (capacity 2) retains 8,10.
      // A client that saw offset 2 before a long outage reconnects:
      val c = new SseClient(srv.boundPort, "/routes/click",
        headers = Seq("Last-Event-ID" -> "2"))
      assert(c.awaitStatus() == 200)
      assert(eventually()(c.has(8) && c.has(10)),
        "retained frames after the evicted seek not replayed")
      assert(!c.has(4) && !c.has(6),
        "evicted frames re-delivered (capacity must bound replay)")
      // live frames still follow the truncated replay
      writeEvents(evDir, 11 to 12, append = true)
      assert(eventually()(c.has(12)), "live tail lost after evicted-seek replay")
      c.close()
    }
  }

  test("dead ingest ends streams; next connect restarts it") {
    withServer() { (srv, evDir) =>
      val others = spark.streams.active.map(_.id).toSet
      val c1 = new SseClient(srv.boundPort, "/routes/click?since=2024-01-15T00:00:00Z")
      assert(eventually()(c1.has(2) && c1.has(4)), "catch-up frames missing")
      // the ingest dies under a connected client
      val hubQuery = spark.streams.active.filterNot(q => others(q.id))
      assert(hubQuery.length == 1, s"expected one hub query: ${hubQuery.toSeq}")
      hubQuery.foreach(_.stop())
      assert(eventually(20000L)(c1.ended),
        "client kept heartbeating against a dead ingest")
      assert(eventually()(srv.activeClients == 0), "ended client not reaped")
      // events land during the outage; the reconnect restarts the
      // ingest into the same rings and resumes after the last id seen
      writeEvents(evDir, 6 to 8, append = true)
      val c2 = new SseClient(srv.boundPort, "/routes/click",
        headers = Seq("Last-Event-ID" -> "4"))
      assert(c2.awaitStatus() == 200)
      assert(eventually()(c2.has(6) && c2.has(8)), "outage events not replayed")
      writeEvents(evDir, 9 to 10, append = true)
      assert(eventually()(c2.has(10)), "restarted ingest delivered no live frame")
      val idLines = c2.lines.asScala.filter(_.startsWith("id: ")).toSeq
      assert(idLines == Seq("id: 6", "id: 8", "id: 10"),
        s"resume not exactly the missed frames: $idLines")
      c2.close()
    }
  }

  test("shared = false is rejected at construction") {
    val e = intercept[IllegalArgumentException] {
      new SseHttpServer(spark, sfDir, shared = false)
    }
    assert(e.getMessage.contains("shared = false"), e.getMessage)
  }

  test("a negative poll interval fails at construction and starts no query") {
    val before = spark.streams.active.length
    val e = intercept[IllegalArgumentException] {
      new SseHttpServer(spark, sfDir, pollIntervalMs = -1L)
    }
    assert(e.getMessage.contains("pollIntervalMs"), e.getMessage)
    assert(spark.streams.active.length == before)
  }

  test("the server's hub runs its micro-batches back to back by default") {
    withServer() { (srv, _) =>
      val before = spark.streams.active.map(_.id).toSet
      val c = new SseClient(srv.boundPort, "/routes/click")
      try {
        assert(c.awaitStatus() == 200)
        val started = spark.streams.active.filterNot(q => before(q.id))
        assert(started.length == 1, s"${started.length} queries started by the first connect")
        assert(SseHubSpec.triggerOf(started.head) == Trigger.ProcessingTime(0L))
      } finally c.close()
    }
  }

  test("stop() is graceful: client queries stopped, listener closed") {
    val base = Files.createTempDirectory("graft_http2").toFile
    writeEvents(new File(base, "events.parquet"), 1 to 5, append = false)
    val srv = new SseHttpServer(spark, base.getPath,
      heartbeatMs = 200L)
    srv.start()
    val before = spark.streams.active.length
    val c = new SseClient(srv.boundPort, "/routes/click?since=2024-01-15T00:00:00Z")
    assert(eventually()(srv.activeClients == 1))
    srv.stop()
    assert(eventually()(srv.activeClients == 0), "clients survived stop()")
    assert(eventually()(c.ended), "client stream survived stop()")
    assert(eventually()(spark.streams.active.length <= before),
      "streaming queries survived stop()")
    c.close()
    intercept[Exception] {
      val c2 = get(srv.boundPort, "/health")
      c2.setReadTimeout(2000)
      c2.getResponseCode
    }
  }
}
