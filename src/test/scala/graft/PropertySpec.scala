package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopK
import graft.functions.TopK.Scored
import graft.streaming.SseHub

/** Randomized-property tests (seeded, 200 trials) for the
  * order-sensitivity-critical pieces: partial aggregation is only
  * correct if reduce/merge results are invariant to how Spark splits
  * and orders the input.
  */
class PropertySpec extends AnyFunSuite {

  private def rankKey(s: Scored) =
    (-BigDecimal(s.sim).setScale(9, BigDecimal.RoundingMode.HALF_UP), s.id)

  test("TopKAgg: any split/order of the input yields the exact top-k") {
    val agg = new TopK.TopKAgg(5)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val xs = List.tabulate(rnd.nextInt(40))(i =>
        Scored(i.toLong, rnd.nextDouble() * 2 - 1))
      val expected = xs.sortBy(rankKey).take(5)
      // random split into chunks, each reduced independently in
      // shuffled order, merged in random chunk order — mimics partial
      // aggregation across partitions
      val chunks = rnd.shuffle(xs).groupBy(_ => rnd.nextInt(4)).values.toList
      val partials = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(partials).foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) == expected)
    }
  }

  test("TopKAgg: buffer never exceeds k") {
    val agg = new TopK.TopKAgg(3)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 100) {
      val xs = List.tabulate(rnd.nextInt(50))(i => Scored(i.toLong, rnd.nextDouble()))
      assert(xs.foldLeft(agg.zero)(agg.reduce).length <= 3)
    }
  }

  test("native minhash/simhash match an independent reference on random inputs") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 200) {
      val toks = List.fill(1 + rnd.nextInt(30))(
        rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString).distinct
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray)
      // reference minhash: plain string min over hex digests
      val expectMh = (0 until 12).map(j => toks.map(x => md5hex(s"$j:$x")).min)
      val gotMh = graft.plans.ShingleHashes.minhash(arr, 12)
      assert((0 until 12).forall(j => gotMh.getUTF8String(j).toString == expectMh(j)),
        s"minhash mismatch on $toks")
      // reference simhash: hex-char majority votes
      val hexes = toks.map(x => (md5hex(x), md5hex(s"2:$x")))
      val expectSim = (1 to 60).map { p =>
        val hi = hexes.count { case (h1, h2) =>
          val c = if (p <= 32) h1.charAt(p - 1) else h2.charAt(p - 33)
          c >= '8' // lowercase hex: '8'..'9','a'..'f' are the high nibbles
        }
        if (2 * hi > toks.length) 1L << (p - 1) else 0L
      }.sum
      assert(graft.plans.ShingleHashes.simhash(arr) == expectSim,
        s"simhash mismatch on $toks")
    }
  }

  test("native SRP sketch matches an independent double-sum reference on random vectors") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 200) {
      val v = Array.fill(64)((rnd.nextGaussian() * 2).toFloat)
      val arr = new GenericArrayData(v)
      for (fam <- 0 until 2) {
        val expect = (0 until 16).map { j =>
          var dot = 0.0
          for (i <- 0 until 64)
            dot += v(i).toDouble * graft.plans.SrpSketch.sign(fam * 16 + j, i)
          if (dot > 0) 1L << j else 0L
        }.sum
        assert(graft.plans.SrpSketch.computeF(arr, fam) == expect)
      }
    }
  }

  test("native shingles/gramStats match the split-slice-concat reference on random text") {
    import org.apache.spark.unsafe.types.UTF8String
    // reference = the replaced HOF chain's semantics: split on EVERY
    // 0x20 (empties kept, "" -> [""]), gram i = concat_ws(' ',
    // slice(toks, i, n)) end-truncated, w = max(T-n+1, 1), distinct
    // keeps first occurrence
    def refShingles(s: String, n: Int, distinct: Boolean): Seq[String] = {
      val toks = s.split(" ", -1).toSeq
      val w = math.max(toks.length - n + 1, 1)
      val grams = (0 until w).map(i => toks.slice(i, i + n).mkString(" "))
      if (distinct) grams.distinct else grams
    }
    val rnd = new scala.util.Random(19)
    // alphabet stresses the byte-span logic: multi-byte UTF-8 (é, 漢,
    // 🚀 — a surrogate pair), repeated tokens for the distinct path,
    // and raw spaces so empty tokens appear mid/leading/trailing
    val alpha = Vector("a", "bb", "é", "漢字", "🚀", "tok", "a", " ")
    for (_ <- 1 to 300) {
      val s = List.fill(rnd.nextInt(25))(alpha(rnd.nextInt(alpha.size)))
        .mkString(if (rnd.nextBoolean()) " " else "")
      val n = 1 + rnd.nextInt(6)
      for (distinct <- Seq(false, true)) {
        val got = graft.plans.GramOps.shingles(UTF8String.fromString(s), n, distinct)
        val gotSeq = (0 until got.numElements())
          .map(i => got.getUTF8String(i).toString)
        assert(gotSeq == refShingles(s, n, distinct),
          s"shingles mismatch: n=$n distinct=$distinct text=${s.take(80)}")
      }
      val stats = graft.plans.GramOps.gramStats(UTF8String.fromString(s), n)
      assert(stats.getLong(0) == refShingles(s, n, distinct = false).length.toLong)
      assert(stats.getLong(1) == refShingles(s, n, distinct = true).length.toLong)
    }
  }

  /** One row appended as a chunk of one. */
  private def appendRow(hub: SseHub, offset: Long, route: String, ts: Long,
                        frame: String): Unit =
    hub.append(Array(offset), Array(route), Array(ts), Array(frame.getBytes(UTF_8)), 1)

  test("SseHub.append: keeps exactly the newest-N distinct offsets") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val cap = 1 + rnd.nextInt(10)
      // duplicates included: redelivery must not evict distinct entries
      val offs = List.fill(rnd.nextInt(40))(rnd.nextInt(20).toLong)
      // append/subscribe are the ring alone: no ingest starts, so the
      // hub needs no session
      val hub = new SseHub(null, "", capacity = cap)
      offs.foreach(o => appendRow(hub, o, "r", o * 10, s"data: $o\n\n"))
      val retained = hub.subscribe("r").drain()
        .map(_.linesIterator.next().stripPrefix("id: ").toLong)
      val expected = offs.distinct.sorted(Ordering[Long].reverse).take(cap)
      assert(retained == expected.reverse)
    }
  }

  test("SseHub.append: random chunks match a per-row model of the ring") {
    // The model is the per-row rule, applied to each chunk's distinct
    // (route, offset) rows in offset order: an offset the route's log
    // does not hold is stored and fans out, then the log drops its
    // oldest offsets down to the route's capacity. Chunks repeat
    // offsets within and across chunks, and arrive out of order
    // across chunks.
    val rnd = new scala.util.Random(23)
    val routes = Seq("a", "b")
    def frameOf(o: Long) = s"data: {\"k\":\"$o\u00e9\"}\n\n".getBytes(UTF_8)
    def bytesOf(sub: SseHub.Subscription): Seq[Seq[Byte]] =
      Iterator.continually(sub.poll()).takeWhile(_ != null).map(_.toSeq).toSeq
    def idOf(frame: Seq[Byte]): Long =
      new String(frame.toArray, UTF_8).linesIterator.next().stripPrefix("id: ").toLong
    def modelSince(log: java.util.TreeMap[Long, Long], instant: Long): Long =
      if (log.isEmpty) Long.MinValue
      else log.asScala.collectFirst { case (o, t) if t >= instant => o }
        .getOrElse(log.lastKey()) - 1
    final case class Client(route: String, after: Long, sub: SseHub.Subscription,
                            want: ArrayBuffer[Long])
    for (trial <- 1 to 300) {
      val caps = Map("a" -> (1 + rnd.nextInt(10)), "b" -> (1 + rnd.nextInt(10)))
      val inOrder = trial % 2 == 0
      // in-order: ts rises with the offset; otherwise shuffled, with ties
      val tsOf = Array.tabulate(40)(o => if (inOrder) o * 10L else rnd.nextInt(40) * 10L)
      val hub = new SseHub(null, "", capacity = caps("a"),
        routeCapacities = Map("b" -> caps("b")))
      val model = routes.map(_ -> new java.util.TreeMap[Long, Long]()).toMap
      val clients = ArrayBuffer.empty[Client]
      def connect(): Unit = {
        val route = routes(rnd.nextInt(2))
        val after = if (rnd.nextInt(4) == 0) Long.MinValue else rnd.nextInt(44) - 2L
        clients += Client(route, after, hub.subscribe(route, after),
          model(route).tailMap(after, false).keySet.asScala.to(ArrayBuffer))
      }
      (1 to 3).foreach(_ => connect())
      for (_ <- 1 to 1 + rnd.nextInt(8)) {
        val n = rnd.nextInt(13)
        val offs = Array.fill(n)(rnd.nextInt(40).toLong)
        val rs = Array.fill(n)(routes(rnd.nextInt(2)))
        hub.append(offs, rs, offs.map(o => tsOf(o.toInt)), offs.map(frameOf), n)
        for (i <- (0 until n).distinctBy(i => (rs(i), offs(i))).sortBy(offs(_))) {
          val (o, log) = (offs(i), model(rs(i)))
          if (!log.containsKey(o)) {
            log.put(o, tsOf(o.toInt))
            clients.foreach(c => if (c.route == rs(i) && o > c.after) c.want += o)
            while (log.size > caps(rs(i))) log.pollFirstEntry()
          }
        }
        for (r <- routes; _ <- 1 to 3) {
          val instant = rnd.nextInt(440) - 20L
          assert(hub.resolveSinceOffset(r, instant) == modelSince(model(r), instant),
            s"trial $trial: since $instant on $r")
        }
        if (rnd.nextInt(3) == 0) connect()
      }
      for (r <- routes) {
        val want = model(r).keySet.asScala.toSeq.map(o =>
          (s"id: $o\n".getBytes(UTF_8) ++ frameOf(o)).toSeq)
        assert(bytesOf(hub.subscribe(r)) == want, s"trial $trial: route $r retained")
      }
      clients.foreach(c => assert(bytesOf(c.sub).map(idOf) == c.want,
        s"trial $trial: client on ${c.route} after ${c.after}"))
    }
  }
}
