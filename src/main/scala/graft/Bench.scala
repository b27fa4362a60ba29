package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{ceil, col, length, lit, sum}
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and emits ONE JSON line (stdout) plus a file copy (BENCH.json or
  * \$SPARK_GRAFT_BENCH_OUT) so a reader of the record is log-format
  * independent. A failing query records an "errors" entry instead of
  * masquerading as a fast timing.
  *
  * Load guard: the round-9 artifact was recorded on a host at loadavg
  * 8 and showed phantom 20-46× "regressions" (a contention window
  * sweeping a contiguous alphabetical block of queries; one rep of a
  * 1.8 s query measured 344 s). A contaminated run must never again
  * masquerade as a regression record, so the bench now (a) records
  * the 1-min loadavg after every rep ("loads" in the file copy),
  * (b) emits "load_skewed": true when the starting load exceeds
  * SPARK_GRAFT_BENCH_MAX_LOAD (default 4.0) or any query's rep
  * spread exceeds SPARK_GRAFT_BENCH_MAX_SPREAD (default 5×, floored
  * at 1 s so sub-second jitter can't trip it), naming the offenders
  * in "skew_queries", and (c) refuses to run at all — exit 2, no
  * record written — when SPARK_GRAFT_BENCH_REFUSE_LOAD=1 and the
  * host is already loaded (opt-in so the driver's unattended run
  * degrades to a flagged record, never to a missing one). Round 17
  * added `calib_sec` — a fixed single-threaded pure-JVM workload
  * timed per run — because a SECOND contamination class surfaced that
  * no loadavg can see: a clean-load host simply running ~1.3× slower
  * than in the record's window (measured by re-benching the previous
  * round's code). Cross-epoch record comparisons should normalize by
  * the calib_sec ratio before reading any per-query delta as a
  * regression.
  *
  * Composition pricing: the three multi-stage composites
  * (q_pipeline_pack / q_corpus_report / q_drop_ledger) deliberately
  * recompute their stages — honest for a one-shot query, but NOT the
  * number a 100 TB operator pays, where stages persist once and every
  * consumer reads them. The bench therefore also materializes the
  * shared stage outputs ONCE (untimed: stage persists are lazy vals,
  * and each form gets one untimed discard run that forces exactly the
  * stages it needs before its timing loop), then times the production
  * `*From` compositions alone over the persisted parquet
  * ("from_curate", "from_pipeline_pack", "from_corpus_report",
  * "from_drop_ledger") — rows-only entries (their equality to the
  * self-contained forms is spec-pinned: PipelineOpsSpec, MSeriesSpec).
  * Disable with SPARK_GRAFT_BENCH_FROM=0.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Host load before/after the run: the shared host shows up-to-2×
    // variance, and a skewed run is only interpretable next to the
    // loadavg it ran under (1/5/15-min averages from the OS).
    def loadavg: String =
      scala.util.Try(Files.readString(Paths.get("/proc/loadavg"))
        .split("\\s+").take(3).mkString("[", ",", "]")).getOrElse("null")
    def load1: Double =
      scala.util.Try(Files.readString(Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble).getOrElse(-1.0)
    val loadStart = loadavg
    val load1Start = load1
    val maxLoad = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "4.0").trim.toDouble)
      .getOrElse(4.0)
    val maxSpread = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_SPREAD", "5.0").trim.toDouble)
      .getOrElse(5.0)
    if (load1Start > maxLoad && sys.env.get("SPARK_GRAFT_BENCH_REFUSE_LOAD").contains("1")) {
      System.err.println(
        s"[bench] REFUSING: host 1-min load $load1Start > $maxLoad — timings " +
          "recorded now would be contention noise, not a regression record " +
          "(unset SPARK_GRAFT_BENCH_REFUSE_LOAD to run flagged instead)")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    graft.operators.OracleContext.dir.set(sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Subset probes (SPARK_GRAFT_BENCH_ONLY) must NOT clobber the
    // committed full-suite artifact — they default to /tmp unless the
    // caller names an output explicitly. (A 2-query 100× probe
    // overwrote BENCH.json in two separate rounds before this guard.)
    def defaultOut: String =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "/tmp/graft_bench_probe.json"
      else "BENCH.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // The SQL-tab plan-description string is built EAGERLY for every
      // executed query even with the UI disabled
      // (SQLExecution.withNewExecutionId), and the default "formatted"
      // renderer walks the whole tree per action — measured ~15-20% of
      // the per-DataFrame-action floor on trivial queries (OPTIMIZATION_r21.md
      // "Bench session: spark.sql.ui.explainMode=simple"). The UI is off in
      // this session, so the cheap renderer loses nothing; per-action
      // constant, so the setting is scale-independent (not a local[32] tune).
      .config("spark.sql.ui.explainMode",
        sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "simple"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: absorbs JVM/codegen/parquet-footer startup cost so
    // the first timed query isn't charged for it.
    try SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    // Best-of-N per query: the host shows up-to-2x run-to-run variance
    // (r2: 56 s for a 100k-row scan that takes 1.3 s steady-state), so a
    // single shot cannot distinguish noise from regression. All runs are
    // reported ("runs") so the spread itself is visible; "queries" keeps
    // the per-query minimum and "value" their sum.
    val reps = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").trim.toInt)
      .getOrElse(3).max(1)
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val allRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val allLoads = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timeQuery(name: String, mk: () => DataFrame): Unit = {
      val runs = scala.collection.mutable.ArrayBuffer[Double]()
      val loads = scala.collection.mutable.ArrayBuffer[Double]()
      var failed = false
      var r = 0
      while (r < reps && !failed) {
        val t0 = System.nanoTime()
        try {
          mk().write.mode("overwrite").format("noop").save()
          runs += (System.nanoTime() - t0) / 1e9
          loads += load1
        } catch {
          case e: Throwable =>
            failed = true
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        r += 1
      }
      if (runs.nonEmpty && !failed) {
        timings(name) = runs.min
        allRuns(name) = runs.toSeq
        allLoads(name) = loads.toSeq
      }
    }
    // Optional subset (comma-separated names) for local iteration; the
    // driver leaves it unset and gets the full suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet -- FromForms
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    }
    // from_* keys live in SparkEntry.queries too (driver-gated since
    // round 20) but are timed separately: the main loop would charge
    // rep 1 for the untimed stage builds the from-form convention
    // amortizes away, so they route through benchFromForms below.
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.contains(name)) && !FromForms.contains(name) }
      .foreach { case (name, fn) => timeQuery(name, () => fn(spark, sfDir)) }
    if (!sys.env.get("SPARK_GRAFT_BENCH_FROM").contains("0")
        && only.forall(_.exists(FromForms.contains)))
      benchFromForms(spark, sfDir, only, timeQuery)
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Millisecond precision on the wire: the driver captures only a
    // bounded TAIL of stdout, and r3's full-precision line (with the
    // per-rep "runs" object) overflowed it — the driver recorded
    // "parsed": null. The stdout line stays compact (rounded values, no
    // runs); the file copy keeps every rep at full precision.
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Host-speed calibration: the round-17 drift was a clean-load host
    // running ~1.3x slower than the record window — invisible to every
    // loadavg guard. calib_sec times a FIXED pure-JVM workload (min of
    // 3), so cross-epoch record comparisons can normalize by the
    // calib ratio instead of mistaking epoch drift for regression.
    val calibSec = calibrate()
    val loadEnd = loadavg
    val (loadSkewed, skewQueries) =
      skewVerdict(allRuns.toSeq, load1Start, maxLoad, maxSpread)
    if (loadSkewed) System.err.println(
      s"[bench] WARNING load_skewed: load_start=$load1Start (bar $maxLoad), " +
        s"spread>${maxSpread}x on [${skewQueries.mkString(", ")}] — treat " +
        "timings as contaminated; re-run on a quiet host")
    val qs = timings.map { case (k, v) => s"${jstr(k)}:${r3(v)}" }.mkString("{", ",", "}")
    val rs = allRuns.map { case (k, v) => s"${jstr(k)}:${v.mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    val ls = allLoads.map { case (k, v) => s"${jstr(k)}:${v.mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val sq = skewQueries.map(jstr).mkString("[", ",", "]")
    val total = timings.values.sum
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"reps":$reps,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"load_start":$loadStart,"load_end":$loadEnd,"load_skewed":$loadSkewed,"skew_queries":$sq,"calib_sec":${r3(calibSec)},"sf":${jstr(sfDir)}}"""
    println(line)
    // File copy keeps every value at full precision (calib_sec raw, not
    // r3'd — cross-epoch normalization divides by it).
    Files.writeString(Paths.get(out),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$rs,"loads":$ls,"reps":$reps,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"load_start":$loadStart,"load_end":$loadEnd,"load_skewed":$loadSkewed,"skew_queries":$sq,"calib_sec":$calibSec,"sf":${jstr(sfDir)}}""" + "\n")
    spark.stop()
    if (errors.nonEmpty) System.err.println(s"[bench] ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
  }

  /** Fixed pure-JVM calibration workload (xorshift chain, ~1 s on the
    * reference host), min of 3 runs. Single-threaded and allocation-
    * free on purpose: it measures the per-core speed the Spark tasks
    * see, not the scheduler. Deterministic, so the only variable is
    * the host. */
  private[graft] def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 300000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      // data dependency so the loop cannot be eliminated
      if (x == 42L) System.err.println("calib sentinel")
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).map(_ => once()).min
  }

  /** Skew verdict: starting load alone, or any query whose rep spread
    * (max/min over reps) exceeds the bar with a non-trivial max (≥1 s,
    * so sub-second jitter can't trip it) — the signature of a
    * contention window sweeping the suite, not a plan change.
    * Factored out of main so BenchGuardSpec can pin the behavior on
    * the round-9 contamination shape. */
  private[graft] def skewVerdict(runs: Seq[(String, Seq[Double])],
                                 load1Start: Double, maxLoad: Double,
                                 maxSpread: Double): (Boolean, Seq[String]) = {
    // The first rep pays one-time codegen/JIT compile for the query's
    // expression tree (observed 7x on lambda-heavy plans), and the
    // reported timing is runs.min which never includes it — so the
    // verdict reads the POST-WARMUP reps. Contention that only touches
    // rep 1 can't contaminate the min either.
    val skewQueries = runs.collect {
      case (name, rs0) if rs0.size >= 3 => (name, rs0.tail)
      case (name, rs0) => (name, rs0)
    }.collect {
      case (name, rs) if rs.size >= 2 && rs.max >= 1.0 &&
        rs.max / math.max(rs.min, 1e-9) > maxSpread => name
    }
    (load1Start > maxLoad || skewQueries.nonEmpty, skewQueries)
  }

  /** The production-composition entries — driver-gated through
    * SparkEntry.queries (round 20) AND timed here with their stage
    * builds untimed. Stage materialization lives in [[FromStages]],
    * shared with the correctness gate. */
  private val FromForms: Set[String] = FromStages.names.toSet

  /** Materialize the shared stage outputs once (untimed, via the
    * memoized [[FromStages]] the correctness gate also runs through),
    * then time ONLY the `*From` compositions over the persisted
    * parquet — the cost a 100 TB operator pays per consumer once
    * stages are shared. */
  private def benchFromForms(spark: SparkSession, sfDir: String,
                             only: Option[Set[String]],
                             timeQuery: (String, () => DataFrame) => Unit): Unit = {
    val stages = FromStages.of(spark, sfDir)
    try {
      stages.forms.filter { case (n, _) => only.forall(_.contains(n)) }
        .foreach { case (n, mk) =>
          // Force the form's stage dependencies (the lazy parquet
          // persists and model trainings) OUTSIDE the timed region:
          // one untimed discard run per form materializes exactly
          // what it needs, so rep 1 prices the steady-state
          // composition — never the stage build. (A failure here is
          // left for timeQuery to record as the form's error.)
          try mk().write.mode("overwrite").format("noop").save()
          catch { case _: Throwable => () }
          timeQuery(n, mk)
        }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] from-form setup failed: ${e.getMessage}")
    } finally stages.cleanup()
  }
}
