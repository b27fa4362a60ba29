package graft.streaming

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.EventLogOps

/** Shared-query serving core: ONE continuous Spark query per event
  * directory feeds an in-JVM bounded ring log, and every connected
  * client replays from its own seek position out of the ring and then
  * rides the live feed — the reference's actual architecture (one KCL
  * ingest into a capacity-bounded memlog, service.go:100-106, with an
  * independent `ml.Stream(ctx, off)` seek per connected handler,
  * service.go:244-262), including the in-memory timestamp→offset
  * index (timestamp2offset.go) so connects never run a Spark job.
  *
  * N subscribers cost ONE streaming query + N bounded queues; this is
  * the serving core behind every [[SseHttpServer]] connection. Like
  * the reference's memlog, the ring is bounded: a client seeking
  * before the oldest retained offset replays only what capacity kept
  * (memlog.WithMaxSegmentSize semantics).
  *
  * Ordering: within a source partition frames arrive in offset order;
  * across partitions interleaving can occur, exactly as the
  * reference's per-shard consumers interleave into one log. Each ring
  * is offset-sorted, so replays are always ordered; only the live
  * tail can interleave. Delivery is at-least-once end to end: the
  * live fan-out dedups on first ring insertion, so a task retry
  * re-appending an offset the ring still retains is suppressed; a
  * retry arriving after eviction (requires a failure outliving
  * `capacity` newer events) would re-deliver.
  *
  * Retention is PER ROUTE, as in the reference: every route has its
  * own bounded log (one memlog per RouteOptions entry,
  * service.go:38-47, 93-106), and `routeCapacities` overrides the
  * default `capacity` per route exactly as RouteOptions.Capacity
  * falls back to DefaultCapacity when unset. A chatty route can never
  * evict a quiet route's history.
  *
  * Checkpoint: each [[start]] runs the ingest on a fresh temp
  * checkpoint directory the hub owns and deletes on [[restart]] and
  * [[stop]] — never under `spark.sql.streaming.checkpointLocation`,
  * where Spark would leave one directory per query behind. Its
  * offset, commit and file-source logs are written through
  * [[LocalCheckpointFileManager]] (installed by
  * [[EventStreams.readEvents]]), so a micro-batch's metadata writes
  * cost system calls, not forked processes.
  *
  * @param pollIntervalMs the ingest's `ProcessingTime` trigger. The
  *   default 0 runs micro-batches back to back, as Spark's default
  *   trigger does: a batch starts as soon as the previous one ends, and
  *   after a batch that found no new file Spark sleeps its own polling
  *   delay (`spark.sql.streaming.pollingDelay`, 10 ms) before it lists
  *   the directory again. So a new file waits at most for the batch in
  *   flight, not for the next tick of a wall-clock grid (a 100 ms grid
  *   cost a burst ~50 ms on average). The price is idle CPU, because an
  *   idle hub re-lists its directory every ~10 ms.
  *   `graft.tools.IdleCost` measured it with no arrivals on a 4-vCPU VM
  *   (process CPU per idle second; BASELINE.md "Hub trigger"):
  *   0.14–0.18 s at 100 ms against 0.72–0.86 s at 0 over 200 files,
  *   and 0.62–0.73 s against 0.92–0.95 s over 2,000 files, where
  *   listing costs most of a core at either interval. A deployment
  *   that would rather spend less idle CPU and wait longer for pickup
  *   passes a positive interval. Negative is rejected.
  */
class SseHub(spark: SparkSession, dir: String,
             capacity: Int = 100000,
             pollIntervalMs: Long = 0L,
             maxQueuedFrames: Int = 10000,
             routeCapacities: Map[String, Int] = Map.empty) {

  import SseHub._

  require(pollIntervalMs >= 0, s"pollIntervalMs must be >= 0, got $pollIntervalMs")
  require(capacity > 0, "capacity must be positive")
  require(routeCapacities.values.forall(_ > 0),
    "route capacities must be positive")

  private val hubId = hubIds.incrementAndGet()

  private val rings = TrieMap.empty[String, RouteRing]
  private def capacityFor(route: String): Int =
    routeCapacities.getOrElse(route, capacity)

  private val subs = TrieMap.empty[Long, Subscription]
  // volatile: serving threads poll [[isIngesting]] without the monitor
  // that start/restart hold while waiting for the catch-up batch
  @volatile private var query: Option[StreamingQuery] = None
  // the running query's checkpoint; guarded by this hub's monitor
  private var checkpoint: Option[JPath] = None

  /** Start the single shared ingest query (idempotent) and wait for
    * its initial catch-up micro-batch, so connect-time seeks resolve
    * against a populated ring — the reference's handlers likewise only
    * ever see a memlog its boot-time ingest already filled
    * (service.go:100-106). Events still mid-ingest at a later connect
    * are missed by seeks exactly as in-flight Kinesis records are. */
  def start(): StreamingQuery = synchronized {
    query.getOrElse {
      hubs.put(hubId, this)
      val ckpt = Files.createTempDirectory("graft-hub-")
      checkpoint = Some(ckpt)
      val q = EventStreams.readEvents(spark, dir)
        .select(col("event_id"), col("event_type"), col("ts"),
          EventLogOps.sseFrameCol(spark, col("ts_us"), col("props")).cast("binary").as("frame"))
        .writeStream
        .foreach(new HubWriter(hubId))
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.ProcessingTime(pollIntervalMs))
        .start()
      query = Some(q)
      val deadline = System.currentTimeMillis() + 30000L
      while (q.recentProgress.isEmpty && q.isActive &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      q
    }
  }

  /** Restart the shared ingest after a failure WITHOUT dropping
    * subscriptions (the reference's KCL worker likewise resumes into
    * the same memlog, service.go:133-141). The replacement query runs
    * from a fresh temp checkpoint, so it re-reads the source from the
    * start and re-appends every retained offset — `append`'s
    * first-insertion gate suppresses those (the documented
    * at-least-once window), so connected clients see only genuinely
    * new frames, and events that landed during the outage are picked
    * up by the replacement's catch-up batch. An offset already evicted
    * from its route ring at restart time IS re-delivered — same
    * semantics as a task retry outliving `capacity` newer events. On
    * a hub that never started, this is [[start]]. */
  def restart(): StreamingQuery = synchronized {
    stopIngest()
    start()
  }

  /** Stop the ingest and CLOSE every subscription — a polling
    * consumer observes `closed` instead of an indefinitely quiet
    * queue. */
  def stop(): Unit = synchronized {
    stopIngest()
    hubs.remove(hubId)
    lock.synchronized {
      subs.values.foreach(_.markClosed())
      subs.clear()
    }
  }

  /** Stop the query, then delete the checkpoint it ran on. */
  private def stopIngest(): Unit = synchronized {
    query.foreach(q => try q.stop() catch { case _: Exception => () })
    query = None
    checkpoint.foreach(LocalCheckpointFileManager.deleteRecursively)
    checkpoint = None
  }

  /** The running ingest's checkpoint directory (specs inspect it). */
  private[graft] def checkpointDir: Option[JPath] = synchronized(checkpoint)

  def activeSubscribers: Int = subs.size

  /** The ingest query is running. False before [[start]], after
    * [[stop]], and once the query failed or was stopped — then no
    * subscription receives another live frame until [[restart]]. */
  def isIngesting: Boolean = query.exists(_.isActive)

  /** Offset span retained across ALL routes (diagnostics). */
  def retainedRange: Option[(Long, Long)] = lock.synchronized {
    val nonEmpty = rings.values.filter(_.size > 0)
    if (nonEmpty.isEmpty) None
    else Some((nonEmpty.map(_.offset(0)).min, nonEmpty.map(_.lastOffset).max))
  }

  /** Offset span retained for one route's bounded log. */
  def retainedRange(route: String): Option[(Long, Long)] = lock.synchronized {
    rings.get(route).filter(_.size > 0).map(r => (r.offset(0), r.lastOffset))
  }

  /** In-memory timestamp→offset seek over the route's retained ring
    * (the reference's t2o.NearestOffset role). This states the one
    * `since` rule (timestamp2offset.go:60-80), which
    * `EventLogOps.nearestOffsetFor` and `EventLogOps.startPosition`
    * also follow:
    *
    *  - the smallest offset whose ts is at/after the instant;
    *  - else (every event is earlier) the largest earlier offset;
    *  - empty log → no offset.
    *
    * The result is the resolved offset minus one, because a
    * subscription starts strictly after its offset: the client replays
    * from the resolved event on, then follows live. Empty ring →
    * everything (the reference's empty-log path, service.go:254-258).
    * No Spark job runs. The window follows OFFSETS, as in the
    * reference: an event whose ts precedes the instant but whose
    * offset follows the resolved one is delivered; one whose ts is
    * at/after the instant but whose offset precedes it (a late
    * arrival) is not. The seek sees only what the ring retains, so an
    * instant before the oldest retained event resolves to that event.
    * The seek scans the ring's ts array in offset order. */
  def resolveSinceOffset(route: String, sinceNs: Long): Long = lock.synchronized {
    rings.get(route).filter(_.size > 0)
      .fold(Long.MinValue)(_.resolveSince(sinceNs) - 1)
  }

  /** Latest retained offset for `route` (absent-`since` live tails);
    * empty ring → everything is new. */
  def latestOffset(route: String): Long = lock.synchronized {
    rings.get(route).filter(_.size > 0).fold(Long.MinValue)(_.lastOffset)
  }

  /** Subscribe a client at its own seek position: frames with offset
    * strictly after `afterOffset` on `route`. Retained history is
    * SNAPSHOTTED (not pushed into the live queue, whose bound exists
    * for slow LIVE consumers — a replay bigger than the bound must
    * not kill the client before it reads a byte) and served first by
    * `Subscription.poll`; later arrivals follow live. The snapshot
    * shares the ring's frame arrays. Snapshot and registration happen
    * under the append lock, so no frame is lost or doubled at the
    * hand-over point. */
  def subscribe(route: String, afterOffset: Long = Long.MinValue): Subscription =
    lock.synchronized {
      val id = subIds.incrementAndGet()
      val replay = rings.get(route).fold(Array.empty[Array[Byte]]) { r =>
        val from = r.indexAfter(afterOffset)
        Array.tabulate(r.size - from)(i => r.frame(from + i))
      }
      val sub = new Subscription(id, this, route, afterOffset,
        replay, new BoundedQueue(maxQueuedFrames))
      subs.put(id, sub)
      sub
    }

  private[streaming] def unsubscribe(id: Long): Unit = subs.remove(id)

  /** Append the first `n` rows of a chunk (parallel arrays; `frames`
    * are the bare frames, without the `id:` line). The rows are
    * grouped by route and each route's run is merged into its ring in
    * offset order, under one lock acquisition for the whole chunk. The
    * result equals appending the rows one at a time in that order:
    * each ring keeps its newest `capacity` distinct offsets, and only
    * an offset the ring does not hold fans out — the foreach sink is
    * at-least-once, and a retried batch must not double-deliver. An
    * offset older than a full ring is delivered but not stored, once
    * per chunk however often the chunk repeats it. */
  private[graft] def append(offsets: Array[Long], routes: Array[String],
                            ts: Array[Long], frames: Array[Array[Byte]],
                            n: Int): Unit = {
    val order = chunkOrder(routes, offsets, n)
    val fresh = new Fresh(n)
    lock.synchronized {
      var from = 0
      while (from < n) {
        val route = routes(order(from))
        var until = from + 1
        while (until < n && routes(order(until)) == route) until += 1
        rings.getOrElseUpdate(route, new RouteRing(capacityFor(route)))
          .merge(offsets, ts, frames, order, from, until, fresh)
        if (fresh.n > 0) subs.values.foreach { s =>
          if (s.route == route) {
            var i = 0
            while (i < fresh.n) {
              if (fresh.offsets(i) > s.afterOffset) s.queue.add(fresh.frames(i))
              i += 1
            }
          }
        }
        from = until
      }
    }
  }

  // One lock serializes append/subscribe/seek for exact replay
  // hand-over. It is taken once per CHUNK of up to ChunkRows rows
  // (HubWriter buffers a task's rows), from the micro-batch's task
  // threads; the critical section merges each route's run into its
  // ring and offers every first-time frame to each matching
  // subscriber. A production hub would shard it by route.
  private val lock = new Object
}

object SseHub {
  /** Rows a [[HubWriter]] buffers before it appends them as a chunk. */
  private val ChunkRows = 512

  /** The chunk's row indices `0 until n` grouped by route (routes in
    * order of first appearance) and ordered by offset within a route,
    * rows of equal route and offset in chunk order. Each row gets its
    * route's rank, then a stable bottom-up merge sort orders the
    * indices by (rank, offset) on primitive arrays, boxing nothing per
    * row. */
  private def chunkOrder(routes: Array[String], offsets: Array[Long],
                         n: Int): Array[Int] = {
    val ranks = new java.util.HashMap[String, Integer]()
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) {
      var r = ranks.get(routes(i))
      if (r == null) { r = ranks.size; ranks.put(routes(i), r) }
      rank(i) = r
      i += 1
    }
    def before(a: Int, b: Int): Boolean =
      rank(a) < rank(b) || rank(a) == rank(b) && offsets(a) < offsets(b)
    var src = Array.range(0, n)
    var dst = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var l = lo; var r = mid; var k = lo
        while (k < hi) {
          // the left run wins ties, so equal keys keep chunk order
          if (r == hi || l < mid && !before(src(r), src(l))) { dst(k) = src(l); l += 1 }
          else { dst(k) = src(r); r += 1 }
          k += 1
        }
        lo = hi
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    src
  }

  /** Delivered frames carry the SSE `id:` field (offset = event id) so
    * a client can resume with `Last-Event-ID` after a drop. The ring
    * builds the delivered bytes once, when an offset it does not hold
    * arrives: `id: <offset>\n` prepended to the frame's bytes. Every
    * replay and live delivery writes that array as it is. */
  private[streaming] def idFrame(offset: Long, frame: Array[Byte]): Array[Byte] = {
    val id = ("id: " + offset + "\n").getBytes(US_ASCII)
    val body = if (frame == null) Array.emptyByteArray else frame
    val out = java.util.Arrays.copyOf(id, id.length + body.length)
    System.arraycopy(body, 0, out, id.length, body.length)
    out
  }

  /** The first-time rows of one route's run, in offset order, with
    * their delivered frames: what [[RouteRing.merge]] hands the
    * fan-out. */
  private final class Fresh(cap: Int) {
    val offsets = new Array[Long](cap)
    val ts = new Array[Long](cap)
    val frames = new Array[Array[Byte]](cap)
    var n = 0
  }

  /** One route's bounded log (the reference's per-route memlog): at
    * most `cap` entries in strictly increasing offset order, held in a
    * circular set of primitive arrays that grow by doubling up to
    * `cap`. An entry's frame is its delivered bytes ([[idFrame]]),
    * shared with every snapshot and queue that delivers it. Guarded
    * by the hub's lock. */
  private final class RouteRing(cap: Int) {
    private var offs = new Array[Long](math.min(cap, 16))
    private var tss = new Array[Long](offs.length)
    private var frames = new Array[Array[Byte]](offs.length)
    private var head = 0
    var size = 0

    private def at(i: Int): Int = {
      val p = head + i
      if (p >= offs.length) p - offs.length else p
    }
    def offset(i: Int): Long = offs(at(i))
    def lastOffset: Long = offset(size - 1)
    def frame(i: Int): Array[Byte] = frames(at(i))
    private def ts(i: Int): Long = tss(at(i))

    /** The first index whose offset is greater than `off` (`size` if
      * none). */
    def indexAfter(off: Long): Int = {
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (offset(mid) <= off) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** The `since` rule on a non-empty ring: the smallest offset with
      * ts at/after `sinceNs`, else the largest. */
    def resolveSince(sinceNs: Long): Long = {
      var i = 0
      while (i < size && ts(i) < sinceNs) i += 1
      offset(math.min(i, size - 1))
    }

    /** Merge the chunk rows `order(from until until)` (one route, in
      * offset order) and leave the first-time ones in `fresh`. The run
      * is merged, never inserted row by row: the retained entries above
      * its first new offset are popped, then both sorted runs are
      * pushed back in order, each push onto a full ring evicting the
      * oldest entry. */
    def merge(chunkOffsets: Array[Long], chunkTs: Array[Long],
              chunkFrames: Array[Array[Byte]], order: Array[Int],
              from: Int, until: Int, fresh: Fresh): Unit = {
      fresh.n = 0
      var k = from
      while (k < until) {
        val r = order(k)
        val off = chunkOffsets(r)
        val i = indexAfter(off)
        if ((fresh.n == 0 || fresh.offsets(fresh.n - 1) != off) &&
            (i == 0 || offset(i - 1) != off)) {
          fresh.offsets(fresh.n) = off
          fresh.ts(fresh.n) = chunkTs(r)
          fresh.frames(fresh.n) = idFrame(off, chunkFrames(r))
          fresh.n += 1
        }
        k += 1
      }
      // a full ring never keeps an offset below its oldest one
      var s = 0
      if (size == cap) while (s < fresh.n && fresh.offsets(s) < offs(head)) s += 1
      if (s == fresh.n) return
      val p = indexAfter(fresh.offsets(s))
      val t = size - p
      val tOffs = Array.tabulate(t)(j => offset(p + j))
      val tTs = Array.tabulate(t)(j => ts(p + j))
      val tFrames = Array.tabulate(t)(j => frame(p + j))
      while (size > p) popBack()
      var j = 0
      while (s < fresh.n || j < t) {
        if (j == t || s < fresh.n && fresh.offsets(s) < tOffs(j)) {
          pushBack(fresh.offsets(s), fresh.ts(s), fresh.frames(s)); s += 1
        } else {
          pushBack(tOffs(j), tTs(j), tFrames(j)); j += 1
        }
      }
    }

    private def pushBack(off: Long, t: Long, f: Array[Byte]): Unit = {
      if (size == cap) popFront()
      else if (size == offs.length) grow()
      val p = at(size)
      offs(p) = off; tss(p) = t; frames(p) = f
      size += 1
    }

    private def popFront(): Unit = {
      frames(head) = null
      head = at(1)
      size -= 1
    }

    private def popBack(): Unit = {
      frames(at(size - 1)) = null
      size -= 1
    }

    private def grow(): Unit = {
      val len = math.min(cap, offs.length * 2)
      val o = new Array[Long](len)
      val t = new Array[Long](len)
      val f = new Array[Array[Byte]](len)
      var i = 0
      while (i < size) { o(i) = offset(i); t(i) = ts(i); f(i) = frame(i); i += 1 }
      offs = o; tss = t; frames = f; head = 0
    }
  }

  /** Handle a client holds: replay-then-live frame source + close.
    * `poll` drains the replay snapshot first (unbounded by the live
    * queue's cap — it is already bounded by ring capacity), then the
    * live queue. Frames are the bytes a socket writes. */
  final class Subscription private[streaming] (
      val id: Long, hub: SseHub,
      private[streaming] val route: String,
      private[streaming] val afterOffset: Long,
      replaySnapshot: Array[Array[Byte]],
      private[streaming] val queue: BoundedQueue) {
    private var replayAt = 0 // handler-thread-confined
    @volatile private var closedFlag = false

    /** Next frame, or null if none pending. */
    def poll(): Array[Byte] = poll(0L)

    /** Next frame, waiting up to `waitMs` for a live one to arrive;
      * null if none came. A serving loop waits here instead of
      * sleeping, so a frame is handed over the moment it is appended. */
    def poll(waitMs: Long): Array[Byte] =
      if (replayAt < replaySnapshot.length) {
        val f = replaySnapshot(replayAt); replayAt += 1; f
      } else queue.poll(waitMs)

    /** Every pending frame, decoded. */
    def drain(): Seq[String] = {
      val out = Vector.newBuilder[String]
      var f = poll()
      while (f != null) { out += new String(f, UTF_8); f = poll() }
      out.result()
    }

    def pending: Int = (replaySnapshot.length - replayAt) + queue.size
    /** The live queue overflowed: this consumer fell too far behind. */
    def overflowed: Boolean = queue.overflowed
    /** The hub was stopped; no further frames will ever arrive. */
    def isClosed: Boolean = closedFlag
    private[streaming] def markClosed(): Unit = closedFlag = true
    def close(): Unit = { closedFlag = true; hub.unsubscribe(id) }
  }

  /** Bounded frame buffer: overflow marks the subscriber dead rather
    * than growing the heap (the serving layer turns that into a
    * disconnect, as [[SseHttpServer]] does). */
  private[streaming] final class BoundedQueue(cap: Int) {
    private val q = new java.util.concurrent.LinkedBlockingQueue[Array[Byte]](cap)
    @volatile var overflowed = false
    def add(frame: Array[Byte]): Unit = if (!q.offer(frame)) overflowed = true
    def poll(waitMs: Long): Array[Byte] = q.poll(waitMs, TimeUnit.MILLISECONDS)
    def size: Int = q.size()
  }

  // Static registries: the ForeachWriter serializes per task, so it
  // carries only the hub id and resolves the JVM-side hub instance.
  private val hubIds = new AtomicLong(0L)
  private val subIds = new AtomicLong(0L)
  private val hubs = TrieMap.empty[Long, SseHub]

  /** Buffers a task's rows and appends them a chunk of up to
    * [[ChunkRows]] at a time, so the hub's lock is taken once per
    * chunk, not once per row. */
  private final class HubWriter(hubId: Long) extends ForeachWriter[Row] {
    private var offsets: Array[Long] = _
    private var routes: Array[String] = _
    private var ts: Array[Long] = _
    private var frames: Array[Array[Byte]] = _
    private var n = 0

    override def open(partitionId: Long, epochId: Long): Boolean = {
      offsets = new Array[Long](ChunkRows)
      routes = new Array[String](ChunkRows)
      ts = new Array[Long](ChunkRows)
      frames = new Array[Array[Byte]](ChunkRows)
      n = 0
      true
    }
    override def process(r: Row): Unit = {
      offsets(n) = r.getLong(0); routes(n) = r.getString(1)
      ts(n) = r.getLong(2); frames(n) = r.getAs[Array[Byte]](3)
      n += 1
      if (n == ChunkRows) flush()
    }
    override def close(errorOrNull: Throwable): Unit = flush()

    private def flush(): Unit = {
      if (n > 0) hubs.get(hubId).foreach(_.append(offsets, routes, ts, frames, n))
      n = 0
    }
  }
}
