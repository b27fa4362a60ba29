package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.streaming.SseHttpServer

/** hub_serve: the shared serving path (`SseHttpServer(shared = true)`,
  * library defaults) fed by an open-loop file generator in its own
  * process (gen.py).
  *
  * Phases: the hub catches up a 150k-event prefill and a warmup
  * stream; then a steady phase at 5k events/s (10 files/s) with two
  * live tails (the corpus's most and least frequent route) and two
  * clients that each resume ten times a second, 3:1 short
  * `Last-Event-ID` gaps to long `?since=` replays, each reading until
  * caught up to the head seen at connect; then bursts of events made
  * visible at once, the first few unmeasured.
  *
  * A traced run attaches the recorder in every other second of the
  * steady phase, so traced and untraced windows share the hub's
  * warmup drift and their difference is the tracing overhead. */
object Hub {
  private val WarmFiles = 30
  private val Bursts = 44
  private val WarmBursts = 4
  private val WindowNs = 1000000000L
  /** The library's default trigger interval. */
  private val TriggerNs = 100L * 1000000L
  private val BurstEvents = 10000
  private val ResumeClients = 2
  private val ResumeEveryNs = 100L * 1000000L
  private val WaitNs = 20L * 1000000000L

  /** Ground truth from the generator: route and ts per event id. */
  final class Truth(root: String, routes: Seq[String]) {
    private val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(root, "truth.bin")))
      .order(ByteOrder.LITTLE_ENDIAN)
    val n: Int = buf.getLong().toInt
    val route: Array[Byte] = { val a = new Array[Byte](n); buf.get(a); a }
    val ts: Array[Long] = { val a = new Array[Long](n); buf.asLongBuffer().get(a); a }
    /** Ids of each route, ascending (event ids start at 1). */
    val ids: Map[String, Array[Long]] = routes.zipWithIndex.map { case (r, i) =>
      r -> (0 until n).filter(j => route(j) == i).map(_ + 1L).toArray }.toMap
    def tsOf(id: Long): Long = ts((id - 1).toInt)
    def indexOf(r: String, id: Long): Int = java.util.Arrays.binarySearch(ids(r), id)
    /** Index of the route's last id <= `id` (-1 if none). */
    def idxAtOrBefore(r: String, id: Long): Int = {
      val i = indexOf(r, id)
      if (i >= 0) i else -i - 2
    }
    def lastAtOrBefore(r: String, id: Long): Long = {
      val i = idxAtOrBefore(r, id)
      if (i >= 0) ids(r)(i) else -1L
    }
  }

  /** The generator process and its stdin/stdout protocol. */
  final class Gen(python: String, script: String, root: String, corpus: String,
                  seed: Long, steadyFiles: Int) {
    private val proc = new ProcessBuilder(python, script, root, corpus, seed.toString,
      WarmFiles.toString, steadyFiles.toString, Bursts.toString, BurstEvents.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    private val out = new BufferedReader(new InputStreamReader(proc.getInputStream))
    private val in = new PrintWriter(proc.getOutputStream, true)
    expect("staged")
    private def expect(prefix: String): String = {
      val l = out.readLine()
      require(l != null && l.startsWith(prefix), s"generator said '$l', wanted '$prefix'")
      l
    }
    def play(n: Int): Unit = { in.println(s"play $n"); expect("played") }
    def burst(k: Int): Long = { in.println(s"burst $k"); expect("burst").split(" ")(2).toLong }
    def quit(): Unit = { in.println("quit"); in.close(); proc.waitFor() }
    def kill(): Unit = if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor() }
  }

  /** A live tail: one connection kept open, every frame's read time. */
  final class Tail(port: Int, val route: String) extends Thread(s"tail-$route") {
    val ids = new ArrayBuffer[Long](1 << 18)
    val readNs = new ArrayBuffer[Long](1 << 18)
    /** Highest id read: frames of one micro-batch may interleave across
      * its input partitions, so the latest frame is not always the max. */
    @volatile var maxId: Long = -1L
    @volatile var connected = false
    @volatile var stopping = false
    @volatile var ended: Option[String] = None
    var conn: SseConn = _
    override def run(): Unit = try {
      conn = new SseConn(port, route, None, None)
      if (conn.status != 200) { ended = Some(s"http ${conn.status}"); return }
      connected = true
      var id = conn.next(stopping)
      while (id >= 0) {
        val t = System.nanoTime()
        synchronized { ids += id; readNs += t }
        if (id > maxId) maxId = id
        id = conn.next(stopping)
      }
      if (!stopping) ended = Some("stream closed")
    } catch { case e: Exception => if (!stopping) ended = Some(e.toString) }
    finally if (conn != null) conn.close()
    def shutdown(): Unit = { stopping = true; join(10000) }
  }

  final case class Resume(route: String, long: Boolean, connectNs: Long,
                          headersNs: Long, okNs: Long, firstNs: Long, doneNs: Long,
                          frames: Int, error: Option[String])

  def run(spark: SparkSession, a: Main.Args, rec: Result, heap: LiveHeap): Unit = {
    val root = s"${a.workDir}/hub"
    val steadyFiles = a.seconds * 10
    val gen = new Gen(sys.env.getOrElse("PERFBENCH_PYTHON", "python3"),
      s"${sys.env.getOrElse("PERFBENCH_DIR", "perfbench")}/gen.py", root,
      s"${a.dataDir}/events.parquet", a.seed, steadyFiles)
    val server = new SseHttpServer(spark, root, shared = true)
    var tails = Seq.empty[Tail]
    try {
      val manifest = Manifest.load(root)
      val truth = new Truth(root, manifest.routes)
      phase("staged")
      val port = server.start()
      tails = Seq(manifest.routes.head, manifest.routes.last).map(r => new Tail(port, r))
      tails.foreach(_.start())
      awaitOrFail(tails.forall(t => t.connected || t.ended.nonEmpty), "tails connect")
      def caughtUp(upTo: Long): Boolean =
        tails.forall(t => t.maxId >= truth.lastAtOrBefore(t.route, upTo) || t.ended.nonEmpty)
      phase("tails connected, hub caught up")
      gen.play(WarmFiles)
      awaitOrFail(caughtUp(manifest.stream(WarmFiles - 1).last), "warmup delivery")
      rec.metric("setup_s", Host.sinceJvmStartS(), "s", endToEnd = true)

      val recorder = if (a.trace) Some(new Recorder) else None
      val running = new java.util.concurrent.atomic.AtomicBoolean(true)
      val resumes = new java.util.concurrent.ConcurrentLinkedQueue[Resume]()
      // each client starts a resume every ResumeEveryNs (open loop; a
      // late one starts at once), so the resume load does not depend on
      // how fast the hub answers
      val clients = (0 until ResumeClients).map { c =>
        val t = new Thread(() => {
          val rnd = new Random(a.seed * 31 + c)
          var due = System.nanoTime()
          while (running.get()) {
            sleepUntil(due)
            resumes.add(resumeOnce(port, truth, tails, rnd))
            due += ResumeEveryNs
          }
        }, s"resume-$c")
        t.start(); t
      }
      phase("warm")
      // traced run: the recorder is attached in odd windows only
      val windows = ArrayBuffer.empty[(Long, Long)]
      val counters = new Recorder.Counters
      val steadyStartNs = System.nanoTime()
      val toggler = recorder.map { r =>
        val t = new Thread(() => {
          var k = 1L
          while (k < a.seconds) {
            sleepUntil(steadyStartNs + k * WindowNs)
            r.attach(spark)
            val on = System.nanoTime()
            sleepUntil(steadyStartNs + (k + 1) * WindowNs)
            val off = System.nanoTime()
            counters.add(r.detach(spark), 1)
            windows.synchronized(windows += ((on, off)))
            k += 2
          }
        }, "trace-toggle")
        t.start(); t
      }
      gen.play(steadyFiles)
      running.set(false)
      toggler.foreach(_.join())
      clients.foreach(_.join(WaitNs / 1000000L))
      awaitOrFail(caughtUp(manifest.stream.last.last), "steady delivery")
      heap.sample()
      phase("steady done")

      // bursts: visible at once → last event read by both tails. Spark
      // starts ProcessingTime triggers on multiples of the interval, so
      // a burst made visible right after the last one was read would
      // meet the trigger at a phase fixed by the hub's own timing, the
      // same in every burst of a run and different between runs. Each
      // burst is made visible at its own phase of that wall-clock grid
      // instead, the phases spread evenly over the interval
      val phases = new Random(a.seed).shuffle((0 until Bursts).map(_ * TriggerNs / Bursts))
      val burstS = manifest.bursts.indices.map { k =>
        val now = java.time.Instant.now()
        val nowNs = now.getEpochSecond * 1000000000L + now.getNano
        sleepUntil(System.nanoTime() + Math.floorMod(phases(k) - nowNs, TriggerNs))
        val visible = gen.burst(k)
        val lastId = manifest.bursts(k).last.last
        val ok = awaitOrFail(caughtUp(lastId), s"burst $k delivery")
        val read = tails.map(t => readTimeOf(t, truth.lastAtOrBefore(t.route, lastId))).max
        if (ok) (read - visible) / 1e9 else Double.NaN
      }
      System.err.println(burstS.map(s => f"$s%.3f").mkString("[perfbench] bursts s: ", " ", ""))
      heap.sample()
      phase("bursts done")
      gen.quit()
      tails.foreach(_.shutdown())

      phase("tails closed")
      val renames = Manifest.renames(root)
      HubReport.report(a, rec, truth, manifest, renames, tails, resumes.toArray(Array.empty[Resume]).toSeq,
        burstS.drop(WarmBursts).filterNot(_.isNaN), burstS.count(_.isNaN), BurstEvents,
        windows.synchronized(windows.toSeq), recorder.map(r => (r, counters)))
      phase("reported")
    } finally {
      tails.foreach(t => if (t.isAlive) t.shutdown())
      gen.kill()
      server.stop()
      phase("server stopped")
    }
  }

  private def readTimeOf(t: Tail, id: Long): Long = t.synchronized {
    val i = t.ids.lastIndexWhere(_ == id)
    if (i >= 0) t.readNs(i) else Long.MaxValue
  }

  private def sleepUntil(ns: Long): Unit = {
    val wait = ns - System.nanoTime()
    if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
  }

  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${Host.sinceJvmStartS()}%.1f s: $name")

  private def awaitOrFail(cond: => Boolean, what: String): Boolean = {
    val deadline = System.nanoTime() + WaitNs
    while (!cond && System.nanoTime() < deadline) Thread.sleep(2)
    if (!cond) System.err.println(s"[perfbench] timed out waiting for $what")
    cond
  }

  /** One resume: a seeded 3:1 mix of a short `Last-Event-ID` gap and a
    * long `?since=` replay on a tailed route (3:1 the most frequent one), read until caught up to
    * the head the route's live tail had seen at connect, and checked
    * to be a gapless, duplicate-free run of route ids starting where
    * the request says (`Last-Event-ID`: strictly after; `since`: the
    * first event with ts >= since). */
  private def resumeOnce(port: Int, truth: Truth, tails: Seq[Tail], rnd: Random): Resume = {
    val tail = if (rnd.nextDouble() < 0.75) tails.head else tails(1)
    val route = tail.route
    val ids = truth.ids(route)
    val head = tail.maxId
    val headIdx = truth.indexOf(route, head)
    val long = rnd.nextDouble() < 0.25
    // long replays stay short enough to drain before the live queue
    // (10k frames) fills at the route's live rate, and well inside the
    // ring (100k per route), so nothing they ask for is evicted
    val back = if (long) 2000 + rnd.nextInt(3000) else 1 + rnd.nextInt(500)
    val startIdx = math.max(0, headIdx - back + 1)
    val useSince = long || startIdx == 0
    val lastEventId = if (useSince) None else Some(ids(startIdx - 1))
    val since = if (useSince) Some(rfc3339(truth.tsOf(ids(startIdx)))) else None
    var c: SseConn = null
    var firstNs = 0L
    var frames = 0
    def fail(msg: String) =
      Resume(route, long, if (c == null) 0 else c.connectNs, if (c == null) 0 else c.headersNs,
        if (c == null) 0 else c.okNs, firstNs, 0, frames, Some(msg))
    try {
      c = new SseConn(port, route, lastEventId, since)
      if (c.status != 200) return fail(s"http ${c.status}")
      // a batch appends its input partitions concurrently, so frames
      // below the head may still arrive live after the replay: the
      // check is that [start, head] arrives exactly once, nothing before
      val got = new scala.collection.mutable.BitSet(back + 1)
      var have = 0
      while (have < headIdx - startIdx + 1) {
        val id = c.next()
        if (id < 0) return fail("stream ended before head")
        if (frames == 0) firstNs = System.nanoTime()
        frames += 1
        val idx = truth.indexOf(route, id)
        if (idx < startIdx) return fail(s"frame $id before the start ${ids(startIdx)}")
        if (idx <= headIdx) {
          if (got(idx - startIdx)) return fail(s"duplicate $id")
          got += idx - startIdx
          have += 1
        }
      }
      if (c.parseErrors > 0) return fail(s"${c.parseErrors} malformed frames")
      Resume(route, long, c.connectNs, c.headersNs, c.okNs, firstNs, System.nanoTime(), frames, None)
    } catch { case e: Exception => fail(e.toString) }
    finally if (c != null) c.close()
  }

  def rfc3339(ns: Long): String = java.time.Instant.ofEpochSecond(0, ns).toString
}

/** manifest.json and renames.json written by gen.py. */
object Manifest {
  final case class Entry(file: String, first: Long, last: Long)
  final case class M(routes: Seq[String], stream: IndexedSeq[Entry],
                     bursts: IndexedSeq[IndexedSeq[Entry]])
  final case class Rename(file: String, dueNs: Long, doneNs: Long)

  private val entryRe = """\{"file": "([^"]+)", "first": (\d+), "last": (\d+)\}""".r
  def load(root: String): M = {
    val s = Files.readString(Paths.get(root, "manifest.json"))
    val routesPart = s.substring(s.indexOf("\"routes\""), s.indexOf("\"stream\""))
    val routes = "\"([^\"]+)\"".r.findAllMatchIn(routesPart).map(_.group(1)).toSeq.drop(1)
    val streamPart = s.substring(s.indexOf("\"stream\""), s.indexOf("\"bursts\""))
    val burstPart = s.substring(s.indexOf("\"bursts\""))
    def entries(x: String) = entryRe.findAllMatchIn(x)
      .map(m => Entry(m.group(1), m.group(2).toLong, m.group(3).toLong)).toIndexedSeq
    val bursts = burstPart.split("\\], \\[").toIndexedSeq.map(entries).filter(_.nonEmpty)
    M(routes, entries(streamPart), bursts)
  }

  private val renameRe = """\{"file": "([^"]+)", "due_ns": (\d+), "done_ns": (\d+)\}""".r
  def renames(root: String): Seq[Rename] =
    renameRe.findAllMatchIn(Files.readString(Paths.get(root, "renames.json")))
      .map(m => Rename(m.group(1), m.group(2).toLong, m.group(3).toLong)).toSeq
}
