package perfbench

import scala.collection.mutable.ArrayBuffer

import perfbench.Hub.{Resume, Tail, Truth}

/** Checks and metrics of one hub_serve run, computed after it ends.
  *
  * Delivery latency of an event is its frame's read time at a live
  * tail minus its file's due time. In traced runs it splits into
  * trigger wait (due → start of the batch that read the file), batch
  * time and tail time (batch end → frame read; signed). */
object HubReport {
  private val MarginNs = 200L * 1000000L

  def report(a: Main.Args, rec: Result, truth: Truth, m: Manifest.M,
             renames: Seq[Manifest.Rename], tails: Seq[Tail], resumes: Seq[Resume],
             burstS: Seq[Double], failedBursts: Int, burstEvents: Int,
             windows: Seq[(Long, Long)],
             traced: Option[(Recorder, Recorder.Counters)]): Unit = {
    val renamed = renames.map(r => r.file -> r).toMap
    val firstStreamId = m.stream.head.first
    val lastId = m.bursts.last.last.last
    val steady = m.stream.drop(m.stream.size - a.seconds * 10)
    val steadyFirsts = steady.map(_.first).toArray

    // live tails: every route id after the prefill exactly once
    tails.foreach { t =>
      val ids = truth.ids(t.route)
      val from = truth.idxAtOrBefore(t.route, firstStreamId - 1) + 1
      val to = truth.idxAtOrBefore(t.route, lastId)
      // frames of one micro-batch may interleave across its input
      // partitions, so the check is exactly-once and gapless, not order
      val got = t.synchronized(t.ids.toArray)
      val want = ids.slice(from, to + 1)
      val missing = want.toSet -- got
      val bad = missing.size.toLong + (got.length - (want.length - missing.size))
      if (bad > 0) rec.note(s"tail ${t.route}: got ${got.length} frames for ${want.length} " +
        s"events, ${missing.size} missing")
      rec.attempted += want.length
      rec.failed += math.min(bad, want.length.toLong)
      if (t.conn != null && t.conn.parseErrors > 0) {
        rec.failed += t.conn.parseErrors
        rec.note(s"tail ${t.route}: ${t.conn.parseErrors} malformed frames")
      }
      t.ended.foreach(e => rec.note(s"tail ${t.route} ended early: $e"))
    }
    // resumes and bursts
    rec.attempted += resumes.size + m.bursts.size
    val failedResumes = resumes.filter(_.error.nonEmpty)
    rec.failed += failedResumes.size + failedBursts
    failedResumes.take(5).foreach(r => rec.note(s"resume ${r.route} failed: ${r.error.get}"))

    // per steady event: (file, read time)
    final case class Seen(fileIdx: Int, readNs: Long)
    val seen = ArrayBuffer.empty[Seen]
    tails.foreach { t =>
      val (ids, reads) = t.synchronized((t.ids.toArray, t.readNs.toArray))
      ids.indices.foreach { i =>
        val f = java.util.Arrays.binarySearch(steadyFirsts, ids(i))
        val fi = if (f >= 0) f else -f - 2
        if (fi >= 0 && ids(i) <= steady(fi).last) seen += Seen(fi, reads(i))
      }
    }
    val due = steady.map(e => renamed(e.file).dueNs)
    def deliverMs(s: Seen) = (s.readNs - due(s.fileIdx)) / 1e6
    val deliver = seen.map(deliverMs).toSeq

    rec.metric("pass_s", Stats.median(burstS), "s", endToEnd = true)
    rec.metric("serve.deliver_ms_p50", Stats.median(deliver), "ms")
    rec.metric("serve.deliver_ms_p90", Stats.quantile(deliver, 0.9), "ms")
    rec.metric("serve.deliver_ms_p99", Stats.quantile(deliver, 0.99), "ms")
    val late = steady.map(e => (renamed(e.file).doneNs - renamed(e.file).dueNs) / 1e6)
    rec.host("gen_late_ms_p99", Stats.quantile(late, 0.99).toString)
    rec.host("deliver_samples", deliver.size.toString)
    rec.host("resumes", resumes.size.toString)
    if (!a.trace) return

    // ---- per-layer (traced windows of the steady phase)
    rec.metric("gen.late_ms_p99", Stats.quantile(late, 0.99), "ms")
    rec.metric("serve.ingest_eps", burstEvents / Stats.median(burstS), "1/s")
    val bySeenFile = seen.groupBy(_.fileIdx)
    val firstRead = bySeenFile.map { case (f, xs) => f -> xs.map(_.readNs).min }
    val lastRead = bySeenFile.map { case (f, xs) => f -> xs.map(_.readNs).max }
    // a file is traced when the recorder was attached from its due time
    // until MarginNs after its last frame was read (so the progress
    // record of its batch, posted after the commit, is in), untraced
    // when the recorder was detached throughout; other files are left
    // out. Windows alternate from the first attach on (T U T U ... T),
    // so a drift linear in time weighs the same on both sides
    def tracedFile(f: Int) = windows.exists { case (on, off) =>
      on <= due(f) && lastRead(f) + MarginNs <= off }
    def untracedFile(f: Int) = due(f) >= windows.head._1 && !windows.exists { case (on, off) =>
      on < lastRead(f) + MarginNs && off > due(f) }
    val tracedSeen = seen.filter(s => tracedFile(s.fileIdx)).toSeq
    val dTraced = tracedSeen.map(deliverMs)
    val dUntraced = seen.filter(s => untracedFile(s.fileIdx)).map(deliverMs).toSeq
    rec.metric("trace.overhead_pct",
      100 * (Stats.median(dTraced) - Stats.median(dUntraced)) / Stats.median(dUntraced), "%")
    rec.host("trace_windows", windows.size.toString)
    rec.host("overhead_samples", s"[${dTraced.size},${dUntraced.size}]")

    // each file goes to the micro-batch that read it: the batch whose
    // span (to the next batch's start, or to its own end when the next
    // batch ran detached) holds the file's first frame read. The check
    // does not use the clocks: a batch's input rows (its progress
    // record) must equal the events of the files assigned to it, else
    // its files count as misattributed
    val (r, c) = traced.get
    val wallToMonoNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val batches = r.progress.synchronized(r.progress.toSeq).filter(_.rows > 0).sortBy(_.batchId)
    val startNs = batches.map(_.startMs * 1000000L - wallToMonoNs).toArray
    val endNs = batches.indices.map(b => startNs(b) + (batches(b).triggerMs * 1e6).toLong)
    val spanEndNs = batches.indices.map { b =>
      if (b + 1 < batches.size && batches(b + 1).batchId == batches(b).batchId + 1) startNs(b + 1)
      else endNs(b)
    }
    def batchOf(f: Int): Option[Int] = {
      val i = java.util.Arrays.binarySearch(startNs, firstRead(f))
      val b = if (i >= 0) i else -i - 2
      if (b >= 0 && firstRead(f) < spanEndNs(b)) Some(b) else None
    }
    val assigned = firstRead.keys.toSeq.flatMap(f => batchOf(f).map(f -> _)).toMap
    val assignedRows = assigned.groupBy(_._2).map { case (b, fs) =>
      b -> fs.keys.toSeq.map(f => steady(f).last - steady(f).first + 1).sum }
    val tracedFiles = firstRead.keys.filter(tracedFile).toSeq.sorted
    val attributed = tracedFiles.filter(f => assigned.get(f).exists(b =>
      assignedRows(b) == batches(b).rows)).toSet
    rec.metric("attr.hub_misattributed_pct",
      100.0 * (tracedFiles.size - attributed.size) / tracedFiles.size, "%")

    val tw, bm, tl = ArrayBuffer.empty[Double]
    tracedSeen.filter(s => attributed(s.fileIdx)).foreach { s =>
      val b = assigned(s.fileIdx)
      tw += (startNs(b) - due(s.fileIdx)) / 1e6
      bm += batches(b).triggerMs
      tl += (s.readNs - endNs(b)) / 1e6
    }
    // spans: per traced file due → visible → batch, and its frames
    // (first → last read; they arrive while the batch runs), and
    // per resume connect → headers → :ok → first frame → caught up
    val tr = new Tracer
    def us(monoNs: Long) = (monoNs + wallToMonoNs) / 1000L
    tracedFiles.foreach { f =>
      val rn = renamed(steady(f).file)
      val root = tr.span(s"deliver:${steady(f).file}", None, us(rn.dueNs), us(lastRead(f)))
      tr.span("rename", Some(root), us(rn.dueNs), us(rn.doneNs))
      assigned.get(f).foreach { b =>
        tr.span("trigger_wait", Some(root), us(rn.doneNs), us(startNs(b)))
        tr.span(s"batch:${batches(b).batchId}", Some(root), us(startNs(b)), us(endNs(b)))
        tr.span("frames", Some(root), us(firstRead(f)), us(lastRead(f)))
      }
    }
    resumes.filter(_.error.isEmpty).foreach { x =>
      val root = tr.span(if (x.long) "resume:since" else "resume:last_id", None,
        us(x.connectNs), us(x.doneNs))
      tr.span("connect", Some(root), us(x.connectNs), us(x.headersNs))
      tr.span("ok", Some(root), us(x.headersNs), us(x.okNs))
      tr.span("first_frame", Some(root), us(x.okNs), us(x.firstNs))
      tr.span("replay", Some(root), us(x.firstNs), us(x.doneNs))
    }
    tr.write(s"${a.workDir}/trace.json")

    def p50(xs: Seq[Double]) = Stats.median(xs)
    rec.metric("streaming.trigger_wait_ms_p50", p50(tw.toSeq), "ms")
    rec.metric("streaming.batch_ms_p50", p50(bm.toSeq), "ms")
    rec.metric("serve.tail_ms_p50", p50(tl.toSeq), "ms")
    rec.metric("streaming.list_ms_p50", p50(batches.map(_.latestOffsetMs)), "ms")
    rec.metric("streaming.getbatch_ms_p50", p50(batches.map(_.getBatchMs)), "ms")
    rec.metric("streaming.plan_ms_p50", p50(batches.map(_.planMs)), "ms")
    rec.metric("streaming.commit_ms_p50", p50(batches.map(_.commitMs)), "ms")
    rec.metric("streaming.add_batch_ms_p50", p50(batches.map(_.addBatchMs)), "ms")
    rec.metric("streaming.add_batch_ms_p99", Stats.quantile(batches.map(_.addBatchMs), 0.99), "ms")
    rec.metric("streaming.rows_per_batch_p50", p50(batches.map(_.rows.toDouble)), "count")
    rec.metric("streaming.batches", batches.size, "count")
    rec.metric("streaming.processed_rps", p50(batches.map(_.processedRps)), "1/s")

    val ok = resumes.filter(_.error.isEmpty)
    def ms(xs: Seq[Long]) = xs.map(_ / 1e6)
    rec.metric("serve.resume_ms_p50", p50(ms(ok.map(x => x.doneNs - x.connectNs))), "ms")
    rec.metric("serve.resume_ms_p90", Stats.quantile(ms(ok.map(x => x.doneNs - x.connectNs)), 0.9), "ms")
    rec.metric("serve.connect_ms_since_p50",
      p50(ms(ok.filter(_.long).map(x => x.headersNs - x.connectNs))), "ms")
    rec.metric("serve.connect_ms_lastid_p50",
      p50(ms(ok.filterNot(_.long).map(x => x.headersNs - x.connectNs))), "ms")
    rec.metric("serve.first_frame_ms_p50", p50(ms(ok.map(x => x.firstNs - x.okNs))), "ms")
    rec.metric("serve.replay_frames_p50", p50(ok.map(_.frames.toDouble)), "count")
    rec.metric("serve.replay_fps",
      ok.map(_.frames).sum / (ok.map(x => x.doneNs - x.firstNs).sum / 1e9), "1/s")
    rec.metric("serve.backlog_events_max", backlogMax(truth, renames, m, tails), "count")
    rec.metric("serve.overflow_disconnects",
      (tails.count(_.ended.nonEmpty) + resumes.count(_.error.exists(_.contains("ended")))).toDouble, "count")
    rec.metric("serve.http_errors",
      resumes.count(_.error.exists(e => e.startsWith("http") || e.contains("Exception"))).toDouble, "count")
    Recorder.report(rec, Seq(c))
  }

  /** Largest number of a tail's route events that were visible but not
    * yet read by that tail, at any frame read. */
  private def backlogMax(truth: Truth, renames: Seq[Manifest.Rename], m: Manifest.M,
                         tails: Seq[Tail]): Double = {
    val files = (m.stream ++ m.bursts.flatten).map(e => e.file -> e).toMap
    val order = renames.sortBy(_.doneNs)
    val doneNs = order.map(_.doneNs).toArray
    tails.map { t =>
      val cum = order.scanLeft(0L) { (acc, r) =>
        val e = files(r.file)
        acc + (truth.idxAtOrBefore(t.route, e.last) - truth.idxAtOrBefore(t.route, e.first - 1))
      }.toArray
      val reads = t.synchronized(t.readNs.toArray)
      var worst = 0L
      reads.indices.foreach { i =>
        val k = java.util.Arrays.binarySearch(doneNs, reads(i))
        val visible = cum(if (k >= 0) k + 1 else -k - 1)
        worst = math.max(worst, visible - (i + 1))
      }
      worst.toDouble
    }.max
  }
}
