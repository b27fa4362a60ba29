package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Closed-loop batch workloads: one query at a time through
  * `SparkEntry.queries`, passes over a fixed query set in a
  * seed-permuted order.
  *
  * Untraced runs time whole passes. Traced runs alternate untraced and
  * traced passes, so the tracing overhead is the difference of their
  * medians, and report per-layer counters from the traced ones. */
object Batch {
  /** ROADMAP's worst case for job count (q_drop_ledger, 65 jobs) and
    * one of its worst for driver time outside jobs (q_ann_ivfpq);
    * together they run Reporting.parStages, Pipeline's drop set, the
    * dedup stages, SimilaritySearch and the centroid/PQ kernels. */
  val Queries: Seq[String] = Seq("q_drop_ledger", "q_ann_ivfpq")

  /** Warmup: the cold output-check pass, then WarmPasses warm ones. A
    * full GC precedes every later pass, so no pass pays for the
    * previous one's garbage. */
  private val WarmPasses = 3
  private val MinPasses = 2

  final case class QueryTime(name: String, buildNs: Long, actionNs: Long,
                             startMs: Long, endMs: Long, error: Option[String],
                             jobs: Int = 0, busyMs: Long = 0L) {
    def wallS: Double = (buildNs + actionNs) / 1e9
  }

  /** One pass: its queries, a clock around the whole pass, and (traced)
    * the busy time of every Spark job that ran during it. */
  final case class Pass(queries: Seq[QueryTime], wallNs: Long, jobBusyMs: Long = 0L) {
    def queryS: Double = queries.map(_.wallS).sum
  }

  def run(spark: SparkSession, a: Main.Args, rec: Result, heap: LiveHeap): Unit = {
    val dir = a.dataDir
    val rnd = new Random(a.seed)
    def order(): Seq[String] = rnd.shuffle(Queries)

    // the first, cold pass is the untimed output check: every result is
    // written for run.py to digest
    pass(spark, dir, order(), rec, None, Some(s"${a.workDir}/out"))
    (1 to WarmPasses).foreach { _ =>
      heap.sample()
      pass(spark, dir, order(), rec, None)
    }
    rec.metric("setup_s", Host.sinceJvmStartS(), "s", endToEnd = true)

    val recorder = if (a.trace) Some(new Recorder) else None
    val tracer = new Tracer
    val untraced = ArrayBuffer.empty[Pass]
    val traced = ArrayBuffer.empty[(Pass, Recorder.Counters)]
    val tEnd = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    // a traced run alternates: at least MinPasses of each kind
    while (System.nanoTime() < tEnd || untraced.size < MinPasses ||
           (a.trace && traced.size < MinPasses)) {
      heap.sample()
      recorder match {
        case Some(r) if i % 2 == 1 =>
          r.attach(spark)
          val p = pass(spark, dir, order(), rec, Some((r, tracer)))
          traced += ((p, r.detach(spark)))
        case _ => untraced += pass(spark, dir, order(), rec, None)
      }
      i += 1
    }

    val passS = untraced.map(_.queryS).toSeq
    rec.metric("pass_s", Stats.median(passS), "s", endToEnd = true)
    rec.metric("passes", passS.size, "count")
    if (a.trace) {
      BatchTrace.report(rec, traced.toSeq, untraced.toSeq)
      tracer.write(s"${a.workDir}/trace.json")
    }
    // make_digests.py: the DuckDB oracle SQL of this run's queries
    sys.env.get("PERFBENCH_ORACLE_OUT").foreach { f =>
      val sql = SparkEntry.oracleSql
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        Queries.map(q => s"${Json.str(q)}:${Json.str(sql(q))}").mkString("{", ",", "}"))
    }

  }

  /** One pass; with a recorder it records spans pass → query →
    * build/action → job; with `outDir` it writes each result there
    * instead of discarding it. A query that throws counts as failed. */
  private def pass(spark: SparkSession, dir: String, order: Seq[String],
                   rec: Result, trace: Option[(Recorder, Tracer)],
                   outDir: Option[String] = None): Pass = {
    val p0 = System.nanoTime()
    val qs = order.map { n =>
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      rec.attempted += 1
      val err = try {
        val df: DataFrame = SparkEntry.queries(n)(spark, dir)
        t1 = System.nanoTime()
        outDir match {
          case Some(o) =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$o/$n")
            rec.output(n, s"$o/$n")
          case None => df.write.mode("overwrite").format("noop").save()
        }
        None
      } catch { case e: Throwable =>
        rec.failed += 1
        rec.note(s"$n failed: ${e.getMessage}")
        Some(e.toString)
      }
      val t2 = System.nanoTime()
      QueryTime(n, t1 - t0, t2 - t1, startMs, startMs + (t2 - t0) / 1000000L, err)
    }
    val p = Pass(qs, System.nanoTime() - p0)
    System.err.println(f"[perfbench] pass ${qs.map(_.wallS).sum}%.3f s" +
      (if (trace.isDefined) " (traced)" else "") +
      qs.map(q => f" ${q.name}=${q.wallS}%.2f").mkString)
    trace.fold(p) { case (r, tr) => BatchTrace.jobs(spark, r, tr, p) }
  }

}
