package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.SseHub

/** Shared-query serving: one continuous Spark query feeds a bounded
  * ring log; N clients replay from their own seek positions and share
  * the live tail (the reference's memlog + per-handler stream
  * architecture, service.go:100-106, 244-262).
  */
class SseHubSpec extends SparkSpec {

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

  private def has(frames: Seq[String], i: Int): Boolean =
    frames.exists(_.contains(s""""k":"$i""""))

  test("a default hub runs its micro-batches back to back, not on a trigger grid") {
    val base = Files.createTempDirectory("graft_hub_trigger").toFile
    writeEvents(new File(base, "events.parquet"), 1 to 2, append = false)
    val hub = new SseHub(spark, base.getPath)
    try assert(SseHubSpec.triggerOf(hub.start()) == Trigger.ProcessingTime(0L))
    finally hub.stop()
  }

  test("a negative poll interval fails at construction and starts no query") {
    val before = spark.streams.active.length
    val e = intercept[IllegalArgumentException] {
      new SseHub(spark, sfDir, pollIntervalMs = -1L)
    }
    assert(e.getMessage.contains("pollIntervalMs"), e.getMessage)
    assert(spark.streams.active.length == before)
  }

  test("N subscribers share ONE query, each replaying exactly its own window") {
    val base = Files.createTempDirectory("graft_hub").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 10, append = false)
    val hub = new graft.streaming.SseHub(spark, base.getPath)
    val before = spark.streams.active.length
    hub.start()
    try {
      assert(spark.streams.active.length == before + 1)
      // wait for the ingest to reach the ring
      assert(eventually()(hub.retainedRange.exists(_._2 >= 10L)), "ingest never landed")

      val subA = hub.subscribe("click") // from the beginning
      val subB = hub.subscribe("click", afterOffset = 6L) // personal seek
      val subV = hub.subscribe("view")
      // STILL one query — that's the point
      assert(spark.streams.active.length == before + 1)
      assert(hub.activeSubscribers == 3)

      var fA = subA.drain()
      var fB = subB.drain()
      (2 to 10 by 2).foreach(i => assert(has(fA, i), s"A missing click $i"))
      assert(fA.size == 5)
      assert(has(fB, 8) && has(fB, 10) && fB.size == 2,
        s"B must replay only after its seek: $fB")

      // live tail fans out to matching subscribers from the one query
      writeEvents(evDir, 11 to 12, append = true)
      assert(eventually()(subA.pending >= 1 && subB.pending >= 1
        && subV.pending > 0), "live tail not fanned out")
      fA = subA.drain(); fB = subB.drain()
      assert(has(fA, 12) && has(fB, 12))
      val fV = subV.drain()
      assert(has(fV, 11) && !has(fV, 12), s"route filter leaked: $fV")

      // closed subscription receives nothing further
      subA.close()
      assert(hub.activeSubscribers == 2)
      writeEvents(evDir, 13 to 14, append = true)
      assert(eventually()(subB.pending >= 1))
      assert(subA.pending == 0, "closed subscription still receiving")
    } finally hub.stop()
    assert(spark.streams.active.length == before, "hub query survived stop()")
  }

  test("live tail: late files are served, equal to the batch frames") {
    val base = Files.createTempDirectory("graft_hub_live").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 5, append = false)
    val hub = new graft.streaming.SseHub(spark, base.getPath)
    hub.start()
    try {
      val subs = Seq(hub.subscribe("click"), hub.subscribe("view"))
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      def pump(): Int = { subs.foreach(got ++= _.drain()); got.size }
      // catch-up: everything present at start is served
      assert(eventually()(pump() >= 5), s"catch-up frames never arrived: $got")
      // follow: a file landing AFTER the subscriptions is picked up by
      // the same continuous query — no restart involved
      writeEvents(evDir, 6 to 8, append = true)
      assert(eventually()(pump() >= 8), s"tail frames never arrived: $got")
      // the served bytes, `id:` line aside, equal the batch projection
      val batch = graft.operators.EventLogOps.sseFrames(spark, base.getPath)
        .select("frame").collect().map(_.getString(0)).toSet
      val frames = got.toSeq.map(_.split("\n", 2)(1))
      assert(frames.size == 8 && frames.toSet == batch,
        s"served frames differ from the batch projection: $frames")
    } finally hub.stop()
  }

  test("two since seeks replay exactly their own windows") {
    val base = Files.createTempDirectory("graft_hub_since").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 10, append = false)
    val hub = new graft.streaming.SseHub(spark, base.getPath)
    hub.start()
    try {
      assert(eventually()(hub.retainedRange.exists(_._2 >= 10L)), "ingest never landed")
      // a client follows every route from its own instant: one seek
      // per route, each resolved by the hub's ts->offset index
      def client(sinceNs: Long) = Seq("click", "view")
        .map(r => hub.subscribe(r, hub.resolveSinceOffset(r, sinceNs)))
      val subsA = client(T0) // from the beginning
      val subsB = client(T0 + 6L * 1000000000L) // from event 6
      val fA = scala.collection.mutable.ArrayBuffer.empty[String]
      val fB = scala.collection.mutable.ArrayBuffer.empty[String]
      def pump(): Unit = { subsA.foreach(fA ++= _.drain()); subsB.foreach(fB ++= _.drain()) }
      assert(eventually() { pump(); fA.size >= 10 && fB.size >= 5 },
        s"catch-up incomplete: A=${fA.size} B=${fB.size}")
      // both clients share the live tail
      writeEvents(evDir, 11 to 12, append = true)
      assert(eventually() { pump(); fA.size >= 12 && fB.size >= 7 },
        s"tail frames never arrived: A=${fA.size} B=${fB.size}")
      pump()
      // exact windows: A = 1..12, B = 6..12 — and B must NOT have
      // replayed anything before its own seek position
      (1 to 12).foreach(i => assert(has(fA.toSeq, i), s"client A missing event $i"))
      (6 to 12).foreach(i => assert(has(fB.toSeq, i), s"client B missing event $i"))
      (1 to 5).foreach(i => assert(!has(fB.toSeq, i),
        s"client B replayed event $i from before its since position"))
      assert(fA.size == 12 && fB.size == 7, s"duplicate frames: A=${fA.size} B=${fB.size}")
    } finally hub.stop()
  }

  test("ring capacity bounds replay PER ROUTE like the reference memlog") {
    val base = Files.createTempDirectory("graft_hub_cap").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 20, append = false)
    // one memlog per route (service.go:93-106): capacity 6 retains the
    // newest 6 CLICKS, independent of the interleaved views
    val hub = new graft.streaming.SseHub(spark, base.getPath, capacity = 6)
    hub.start()
    try {
      assert(eventually()(hub.retainedRange("click").exists(_._2 >= 20L)))
      // clicks are the even ids 2..20; the newest 6 are 10..20
      val (lo, hi) = hub.retainedRange("click").get
      assert(hi == 20L && lo == 10L, s"retained [$lo,$hi]")
      val sub = hub.subscribe("click")
      val f = sub.drain()
      assert(f.size == 6 && has(f, 10) && has(f, 20) && !has(f, 8),
        s"capacity replay wrong: $f")
    } finally hub.stop()
  }

  test("per-route capacity overrides evict independently (RouteOptions.Capacity)") {
    val base = Files.createTempDirectory("graft_hub_rcap").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 20, append = false)
    // clicks capped tight; views fall back to the default — the chatty
    // route must not evict the other's history (and vice versa)
    val hub = new graft.streaming.SseHub(spark, base.getPath, capacity = 8,
      routeCapacities = Map("click" -> 2))
    hub.start()
    try {
      assert(eventually()(hub.retainedRange("click").exists(_._2 >= 20L)
        && hub.retainedRange("view").exists(_._2 >= 19L)))
      val clicks = hub.subscribe("click").drain()
      val views = hub.subscribe("view").drain()
      assert(clicks.size == 2 && has(clicks, 18) && has(clicks, 20),
        s"click override not applied: $clicks")
      // views are odd ids 1..19; default capacity 8 keeps 5..19
      assert(views.size == 8 && has(views, 5) && has(views, 19) && !has(views, 3),
        s"view default capacity wrong: $views")
      assert(hub.retainedRange("view").get._1 == 5L,
        "view eviction leaked across routes")
    } finally hub.stop()
  }

  test("restart mid-stream: retained re-appends suppressed, no retained frame lost") {
    val base = Files.createTempDirectory("graft_hub_restart").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 10, append = false)
    val hub = new graft.streaming.SseHub(spark, base.getPath)
    hub.start()
    try {
      assert(eventually()(hub.retainedRange.exists(_._2 >= 10L)), "ingest never landed")
      val sub = hub.subscribe("click") // survives the restart
      val replay = sub.drain()
      assert(replay.size == 5 && has(replay, 2) && has(replay, 10))

      // kill + resurrect the ingest; some events land during the outage
      hub.restart()
      assert(hub.activeSubscribers == 1, "restart dropped subscriptions")
      writeEvents(evDir, 11 to 12, append = true)

      // the replacement query (fresh checkpoint) re-reads EVERYTHING:
      // offsets 1..10 are re-appended and must be suppressed by the
      // ring's first-insertion gate; 11..12 must arrive exactly once.
      // Receipt of click 12 proves the catch-up batch (which contains
      // the re-appends) was fully processed before we assert.
      val live = scala.collection.mutable.ArrayBuffer.empty[String]
      assert(eventually() { live ++= sub.drain(); has(live.toSeq, 12) },
        s"post-restart live frame never arrived: $live")
      val post = live.toSeq
      assert(post.size == 1 && !has(post, 10) && !has(post, 2),
        s"retained offsets re-delivered after restart: $post")

      // no frame inside retention is lost: a fresh subscriber replays
      // the full pre-outage + outage + post-restart click history
      val all = hub.subscribe("click").drain()
      assert(all.size == 6 && (2 to 12 by 2).forall(i => has(all, i)),
        s"restart lost retained history: $all")
    } finally hub.stop()
  }
  test("eviction under load: concurrent evicting writers, reconnecting readers, gapless suffixes") {
    // the round-13 eviction case ran at capacity 2 against a quiet
    // ring; this is the production-shaped version: a 64-frame ring,
    // writers appending 600 events (the click ring evicts ~5x over),
    // and readers attaching MID-CHURN with long-evicted seeks. The
    // pinned property is that replay truncation is race-free: each
    // reader's delivered set is a CONTIGUOUS SUFFIX of the route's
    // stream — eviction may cut the front, never punch a hole between
    // the replay snapshot and the live hand-over (append/subscribe
    // share one lock) — with no duplicate and nothing at/before the
    // seek. Per-frame arrival ORDER inside a micro-batch is not
    // contractual (the foreach sink is task-parallel), so the
    // assertions are set-level.
    val base = Files.createTempDirectory("graft_hub_load").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 10, append = false)
    val hub = new graft.streaming.SseHub(spark, base.getPath, capacity = 64)
    hub.start()
    try {
      assert(eventually()(hub.retainedRange("click").exists(_._2 >= 10L)),
        "seed ingest never landed")
      val lastId = 610L // even -> the final click offset
      val writer = new Thread(() => {
        var next = 11
        while (next < lastId) {
          writeEvents(evDir, next to math.min(next + 19, lastId.toInt),
            append = true)
          next += 20
          Thread.sleep(30)
        }
      })
      writer.setDaemon(true)
      writer.start()
      // readers attach at staggered points of the churn, all seeking
      // offset 2 — evicted by (or soon after) the time they arrive
      val idRe = "(?m)^id: (\\d+)$".r
      val readers = (1 to 6).map { _ =>
        Thread.sleep(150)
        (hub.subscribe("click", afterOffset = 2L),
          scala.collection.mutable.ArrayBuffer.empty[Long])
      }
      def drainAll(): Unit = readers.foreach { case (sub, buf) =>
        sub.drain().foreach { f =>
          idRe.findFirstMatchIn(f).foreach(m => buf += m.group(1).toLong)
        }
      }
      // drain continuously (a stalled reader would overflow its queue
      // by design) until every reader saw the final head
      assert(eventually(180000L) {
        drainAll(); readers.forall(_._2.contains(lastId))
      }, s"readers never reached head $lastId: got ${readers.map(_._2.size)}")
      writer.join(10000L)
      drainAll()
      readers.foreach { case (sub, got) =>
        assert(!sub.overflowed, "drained reader still overflowed")
        assert(got.forall(o => o > 2L && o % 2 == 0),
          s"at/before-seek or foreign-route frame: ${got.filterNot(o => o > 2L && o % 2 == 0)}")
        assert(got.distinct.size == got.size,
          s"duplicate delivery: ${got.diff(got.distinct).take(5)}")
        val sorted = got.sorted
        val want = sorted.head to lastId by 2L
        assert(sorted == want.toBuffer,
          s"hole inside the delivered suffix: ${sorted.size} ids from ${sorted.head}, want ${want.size}")
      }
    } finally hub.stop()
  }

  test("500 concurrent clients incl. stalled readers: stalled overflow and die, everyone else stays gapless") {
    // The reference's real serving risk at fan-out: many clients on
    // one bounded log, some of them NEVER reading (a wedged proxy, a
    // phone in a tunnel). The contract under that load: a stalled
    // reader overflows its own bounded queue and is marked dead (the
    // serving layer disconnects it — heap stays bounded), and its
    // death never perturbs any draining client, whose delivered set
    // remains a contiguous gapless suffix of its route with no
    // duplicates. 500 subscriptions share the ONE ingest query.
    val base = Files.createTempDirectory("graft_hub_stress").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 1000, append = false)
    // queue cap 2000 < the ~5.5k live frames per route: stalled
    // readers MUST overflow; drainers never hold 2000 undrained
    val hub = new graft.streaming.SseHub(spark, base.getPath,
      capacity = 256, maxQueuedFrames = 2000)
    hub.start()
    try {
      assert(eventually()(hub.retainedRange("click").exists(_._2 >= 1000L)),
        "seed ingest never landed")
      val lastId = 12000L
      val nFast = 460
      val nStalled = 40
      val idRe = "(?m)^id: (\\d+)$".r
      val fast = (1 to nFast).map { i =>
        val route = if (i % 2 == 0) "click" else "view"
        (hub.subscribe(route), route,
          new java.util.concurrent.ConcurrentLinkedQueue[Long]())
      }
      val stalled = (1 to nStalled).map { i =>
        hub.subscribe(if (i % 2 == 0) "click" else "view")
      }
      assert(hub.activeSubscribers == nFast + nStalled)
      @volatile var stop = false
      val drainers = fast.map { case (sub, _, got) =>
        val t = new Thread(() => {
          while (!stop) {
            sub.drain().foreach { f =>
              idRe.findFirstMatchIn(f).foreach(m => got.add(m.group(1).toLong))
            }
            Thread.sleep(2)
          }
          sub.drain().foreach { f =>
            idRe.findFirstMatchIn(f).foreach(m => got.add(m.group(1).toLong))
          }
        })
        t.setDaemon(true); t.start(); t
      }
      // churn: ~11k live events in 500-event files — the 256-frame
      // ring evicts ~20x over while 500 clients are attached
      var next = 1001
      while (next <= lastId) {
        writeEvents(evDir, next to math.min(next + 499, lastId.toInt),
          append = true)
        next += 500
        Thread.sleep(20)
      }
      assert(eventually(240000L) {
        fast.forall { case (_, route, got) =>
          got.contains(if (route == "click") lastId else lastId - 1)
        }
      }, "fast readers never reached the head")
      stop = true
      drainers.foreach(_.join(10000L))

      // stalled readers: overflowed (their live volume >> queue cap),
      // the serving layer's disconnect signal
      assert(stalled.forall(_.overflowed),
        s"${stalled.count(!_.overflowed)} stalled readers never overflowed")
      // every draining client: no dup, nothing foreign, contiguous
      // suffix up to its route head — stalled deaths perturbed nobody
      fast.foreach { case (sub, route, gotQ) =>
        assert(!sub.overflowed, "draining reader overflowed")
        val got = {
          val b = scala.collection.mutable.ArrayBuffer.empty[Long]
          val it = gotQ.iterator(); while (it.hasNext) b += it.next(); b
        }
        val parity = if (route == "click") 0L else 1L
        assert(got.forall(_ % 2 == parity), s"foreign-route frame on $route")
        assert(got.distinct.size == got.size,
          s"duplicate delivery: ${got.diff(got.distinct).take(5)}")
        val sorted = got.sorted
        val head = if (route == "click") lastId else lastId - 1
        val want = sorted.head to head by 2L
        assert(sorted == want.toBuffer,
          s"hole in $route suffix: ${sorted.size} ids from ${sorted.head}, want ${want.size}")
      }
    } finally hub.stop()
  }

  /** Per route, the (offset, frame) pairs a hub over the corpus
    * replays to a subscriber from the beginning, in replay order. */
  private def corpusReplay(capacity: Int): Map[String, Seq[(Long, String)]] = {
    val routes = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy("event_type").agg(org.apache.spark.sql.functions.max("event_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hub = new graft.streaming.SseHub(spark, sfDir, capacity = capacity)
    hub.start()
    try {
      assert(eventually()(routes.forall { case (r, last) =>
        hub.retainedRange(r).exists(_._2 == last) }), "corpus ingest never landed")
      routes.keys.map { r =>
        r -> hub.subscribe(r).drain().map { f =>
          val Array(id, frame) = f.split("\n", 2)
          (id.stripPrefix("id: ").toLong, frame)
        }
      }.toMap
    } finally hub.stop()
  }

  test("hub over the corpus: each route replays the batch frame projection row for row") {
    val batch = graft.operators.EventLogOps.sseFrames(spark, sfDir)
      .join(spark.read.parquet(s"$sfDir/events.parquet")
        .select("event_id", "event_type"), "event_id")
      .collect().groupBy(_.getAs[String]("event_type"))
      .map { case (r, rows) => r -> rows.map(x =>
        (x.getAs[Long]("event_id"), x.getAs[String]("frame"))).toSeq.sortBy(_._1) }
    val replay = corpusReplay(capacity = 100000)
    assert(replay.keySet == batch.keySet)
    for ((r, want) <- batch)
      assert(replay(r) == want, s"route $r: hub replay differs from sseFrames")
  }

  test("hub over the corpus at capacity 50 retains each route's newest 50 offsets") {
    val ids = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_type", "event_id").collect()
      .groupBy(_.getString(0)).map { case (r, rows) => r -> rows.map(_.getLong(1)) }
    val replay = corpusReplay(capacity = 50)
    assert(replay.keySet == ids.keySet)
    for ((r, all) <- ids)
      assert(replay(r).map(_._1) == all.sorted.takeRight(50).toSeq,
        s"route $r: retained ids are not the newest 50")
  }

  private def filesUnder(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = Files.walk(dir)
    try { import scala.jdk.CollectionConverters._; st.iterator.asScala.toVector }
    finally st.close()
  }

  test("hub leaves nothing under spark.sql.streaming.checkpointLocation after restart + stop") {
    val base = Files.createTempDirectory("graft_hub_ckpt").toFile
    writeEvents(new File(base, "events.parquet"), 1 to 4, append = false)
    val loc = Files.createTempDirectory("graft_ckpt_loc")
    val key = "spark.sql.streaming.checkpointLocation"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, loc.toString)
    try {
      val hub = new graft.streaming.SseHub(spark, base.getPath)
      try {
        hub.start()
        assert(eventually()(hub.retainedRange.exists(_._2 >= 4L)), "ingest never landed")
        hub.restart()
        assert(eventually()(hub.retainedRange.exists(_._2 >= 4L)), "restart never ingested")
      } finally hub.stop()
      val left = filesUnder(loc).filter(_ != loc)
      assert(left.isEmpty, s"hub queries left checkpoints behind: ${left.take(5)}")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("hub checkpoint: written without .crc files, one fresh directory per start, deleted on restart and stop") {
    val base = Files.createTempDirectory("graft_hub_crc").toFile
    val evDir = new File(base, "events.parquet")
    writeEvents(evDir, 1 to 4, append = false)
    val hub = new graft.streaming.SseHub(spark, base.getPath)
    try {
      hub.start()
      writeEvents(evDir, 5 to 6, append = true)
      assert(eventually()(hub.retainedRange.exists(_._2 >= 6L)), "live file never landed")
      val first = hub.checkpointDir.get
      val files = filesUnder(first).map(_.getFileName.toString)
      // the checkpoint was really written: offset and commit logs exist
      assert(Files.exists(first.resolve("offsets/0")) && Files.exists(first.resolve("commits/0")),
        s"no offset/commit log under $first: $files")
      // Spark's default manager writes a .crc beside every file (and
      // forks processes doing it); the graft manager writes none
      assert(!files.exists(_.endsWith(".crc")), s".crc files in the hub checkpoint: $files")

      hub.restart()
      val second = hub.checkpointDir.get
      assert(second != first && !Files.exists(first), s"restart kept $first")
      hub.stop()
      assert(hub.checkpointDir.isEmpty && !Files.exists(second), s"stop kept $second")
    } finally hub.stop()
  }
}

object SseHubSpec {
  /** The trigger a started query runs on. */
  def triggerOf(q: StreamingQuery): Trigger =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger
}
