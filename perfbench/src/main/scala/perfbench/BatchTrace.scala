package perfbench

import org.apache.spark.sql.SparkSession

import perfbench.Batch.Pass

/** Per-layer view of the batch workloads, built from traced passes.
  * Jobs are attributed to a query by time interval: one query runs at
  * a time, and `parStages` threads do not carry job groups. */
object BatchTrace {

  /** Spans pass → query → build/action → job for one traced pass, each
    * query's job count and job-busy time, and the busy time of every
    * job that ran during the pass. */
  def jobs(spark: SparkSession, r: Recorder, tr: Tracer, p: Pass): Pass = {
    r.snapshot(spark) // drains the bus: every job of the pass is in
    val qs = p.queries
    def us(ms: Long) = ms * 1000L
    val passId = tr.open("pass", None, us(qs.head.startMs))
    val out = qs.map { q =>
      val qId = tr.span(s"query:${q.name}", Some(passId), us(q.startMs), us(q.endMs))
      val buildEnd = q.startMs + q.buildNs / 1000000L
      val bId = tr.span("build", Some(qId), us(q.startMs), us(buildEnd))
      val aId = tr.span("action", Some(qId), us(buildEnd), us(q.endMs))
      val js = r.jobsIn(q.startMs, q.endMs)
      js.foreach { case (s, e, id) =>
        tr.span(s"job:$id", Some(if (s < buildEnd) bId else aId), us(s), us(e))
      }
      q.copy(jobs = js.size, busyMs = Recorder.unionLength(js.map(j => (j._1, j._2))))
    }
    tr.close(passId, us(qs.last.endMs))
    val all = r.jobsIn(qs.head.startMs, qs.last.endMs)
    p.copy(queries = out, jobBusyMs = Recorder.unionLength(all.map(j => (j._1, j._2))))
  }

  def report(rec: Result, traced: Seq[(Pass, Recorder.Counters)], untraced: Seq[Pass]): Unit = {
    def m(name: String, unit: String)(f: ((Pass, Recorder.Counters)) => Double): Unit =
      rec.metric(name, Stats.median(traced.map(f)), unit)
    def busy(p: Pass) = p.queries.map(_.busyMs).sum / 1000.0

    Recorder.report(rec, traced.map(_._2))
    m("operators.build_s", "s")(_._1.queries.map(_.buildNs).sum / 1e9)
    m("operators.action_s", "s")(_._1.queries.map(_.actionNs).sum / 1e9)
    m("spark.job_busy_s", "s")(t => busy(t._1))
    m("spark.driver_gap_s", "s")(t => t._1.queryS - busy(t._1))
    m("spark.slots_busy", "ratio")(t => t._2.runMs / 1000.0 / busy(t._1))

    // attribution: each split of a pass against an independent measure.
    // operators: Σ (build + action) against a clock around the pass;
    // spark: Σ per-query job busy and job count against the busy time
    // of all jobs during the pass and the listener's job count (a job
    // counted in two queries, or in none, shows here)
    m("attr.operators_unattributed_pct", "%") { t =>
      100 * (t._1.wallNs / 1e9 - t._1.queryS) / (t._1.wallNs / 1e9)
    }
    m("attr.spark_unattributed_pct", "%") { t =>
      100 * (t._1.jobBusyMs / 1000.0 - busy(t._1)) / (t._1.jobBusyMs / 1000.0)
    }
    m("attr.spark_unattributed_jobs", "count")(t => (t._2.jobs - t._1.queries.map(_.jobs).sum).toDouble)

    val untracedPass = Stats.median(untraced.map(_.queryS))
    val tracedPass = Stats.median(traced.map(_._1.queryS))
    rec.metric("trace.overhead_pct", 100 * (tracedPass - untracedPass) / untracedPass, "%")

    val tracedQs = traced.flatMap(_._1.queries)
    val perQuery = (tracedQs ++ untraced.flatMap(_.queries)).groupBy(_.name)
    val tracedPerQuery = tracedQs.groupBy(_.name)
    perQuery.keys.toSeq.sorted.foreach { n =>
      rec.metric(s"q.$n.wall_s", Stats.median(perQuery(n).map(_.wallS)), "s")
      val tq = tracedPerQuery(n)
      rec.metric(s"q.$n.jobs", Stats.median(tq.map(_.jobs.toDouble)), "count")
      rec.metric(s"q.$n.driver_gap_s",
        Stats.median(tq.map(q => q.wallS - q.busyMs / 1000.0)), "s")
    }
  }
}
