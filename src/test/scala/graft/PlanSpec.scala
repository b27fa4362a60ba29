package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{EventLogOps, Relational}

/** Physical-plan contracts: these queries must keep their scan
  * pushdowns, broadcasts, and top-N shapes — the properties that make
  * them survive a 100× scale-up. A regression here is a perf bug even
  * while results stay correct.
  */
class PlanSpec extends SparkSpec {

  private def finalPlan(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  private def finalExec(df: DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan
  }

  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }).flatMap(planNodes)
  }

  private def nestedLoop(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    p match {
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
      case _ => false
    }
  }

  /** The centroid-kernel contract. Every node that scores centroids
    * does it with graft_cent_best inside one whole-stage codegen stage
    * holding exactly one distinct kernel, and reads the embeddings scan
    * with no Exchange, BroadcastNestedLoopJoin or CartesianProduct
    * below it; the plan has no nested-loop join at all. The centroid
    * matrix rides the kernel expression, so it reaches the executors
    * in the stage's broadcast task binary while the corpus stays where
    * it is. */
  private def assertCentKernel(what: String,
                               plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.plans.CentBest
    // the nodes one codegen stage compiles: its subtree above the
    // InputAdapters that feed it
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    def kernels(p: SparkPlan): Seq[CentBest] =
      p.expressions.flatMap(_.collect { case b: CentBest => b })
    val all = planNodes(plan)
    val scoring = all.filter(kernels(_).nonEmpty)
    assert(scoring.nonEmpty, s"$what: centroids not scored by graft_cent_best:\n$plan")
    val stages = all.collect { case w: WholeStageCodegenExec => w }
    scoring.foreach { n =>
      val in = stages.filter(w => stage(w.child).exists(_ eq n))
      assert(in.size == 1, s"$what: graft_cent_best outside whole-stage codegen:\n$plan")
      val ks = stage(in.head.child).flatMap(kernels).map(_.canonicalized).distinct
      assert(ks.size == 1, s"$what: ${ks.size} centroid kernels in one stage:\n$plan")
      // between the kernel and the embeddings scan: narrow operators only
      val below = planNodes(n).tail
      assert(below.exists {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("embeddings"))
        case _ => false
      }, s"$what: graft_cent_best does not read the embeddings scan:\n$plan")
      assert(!below.exists(p => p.isInstanceOf[Exchange] || nestedLoop(p)),
        s"$what: exchange or nested-loop join below graft_cent_best:\n$plan")
    }
    assert(!all.exists(nestedLoop), s"$what: nested-loop join in the plan:\n$plan")
  }

  test("since-filter pushes down to the parquet scan") {
    val plan = finalPlan(EventLogOps.since(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      s"missing pushdown:\n$plan")
  }

  test("event parse: null skips reach the scan, the whole skip filter sits below the range exchange") {
    val plan = finalPlan(EventLogOps.parse(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(ts), IsNotNull(props)]"),
      s"null skips not pushed to the scan:\n$plan")
    // node lines, top to bottom, without the tree-drawing prefix
    val nodes = plan.split("\n").map(_.replaceAll("^[\\s:+-]*", "")).toSeq
    val exchange = nodes.indexWhere(_.startsWith("Exchange rangepartitioning"))
    val filters = nodes.zipWithIndex.collect { case (l, i) if l.startsWith("Filter ") => i }
    assert(exchange >= 0 && filters.size == 1 && filters.head > exchange,
      s"skip filter not (only) below the range exchange:\n$plan")
    assert(nodes(filters.head).contains("variant_get"),
      s"JSON k check not in the pushed filter:\n$plan")
  }

  test("q1 pushes the shipdate filter and prunes columns") {
    val plan = finalPlan(Relational.q1PricingSummary(spark, sfDir))
    assert(plan.contains("PushedFilters") && plan.contains("LessThanOrEqual(l_shipdate"),
      s"missing pushdown:\n$plan")
    // 7 of 11 lineitem columns are needed; the scan must not read the rest
    assert(!plan.contains("l_orderkey"), "scan reads unneeded columns")
  }

  test("q5 6-way join broadcasts the fixed-size dims") {
    val plan = finalPlan(Relational.q5LocalSupplier(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("nearest offset: both unpartitioned windows read only the hourly aggregate and the probes") {
    import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = EventLogOps.nearestOffset(spark, sfDir)
    df.collect() // force AQE to finalize
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)
    // a scan reached from `p` without first passing an aggregate
    def rawScan(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec => false
      case _: DataSourceScanExec => true
      case _ => children(p).exists(rawScan)
    }
    val plan = df.queryExecution.executedPlan
    val windows = nodes(plan).collect { case w: WindowExec => w }
    assert(windows.size == 2 && windows.forall(_.partitionSpec.isEmpty),
      s"expected the two unpartitioned windows:\n$plan")
    for (w <- windows) {
      assert(nodes(w).exists(_.isInstanceOf[UnionExec]), s"window not over the union:\n$plan")
      assert(!rawScan(w), s"window reads events rows, not the hourly aggregate:\n$plan")
    }
  }

  test("capacity retention plans as TakeOrderedAndProject (no full sort)") {
    val plan = finalPlan(EventLogOps.retentionCapacity(spark, sfDir, 100))
    assert(plan.contains("TakeOrderedAndProject"), s"full sort instead of top-N:\n$plan")
  }

  test("pricing summary partial-aggregates before the shuffle") {
    val plan = finalPlan(Relational.q1PricingSummary(spark, sfDir))
    // HashAggregate appears twice: partial (map-side) + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("dedup candidate generation never plans a cartesian product") {
    for (df <- Seq(
        graft.operators.Dedup.minhashLsh(spark, sfDir),
        graft.operators.Dedup.simhash(spark, sfDir),
        graft.operators.Dedup.embeddingNearDup(spark, sfDir))) {
      val plan = finalPlan(df)
      assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
    }
  }

  test("json extraction happens before the shuffle (partial agg on k)") {
    val plan = finalPlan(Relational.qJsonExtract(spark, sfDir))
    // the variant extraction must be below the exchange: the partial
    // HashAggregate already groups by the extracted key
    val exchangeIdx = plan.indexOf("Exchange")
    val jsonIdx = plan.indexOf("variant_get")
    assert(jsonIdx > exchangeIdx && exchangeIdx > 0,
      s"extraction not map-side:\n$plan")
  }

  test("hash sampling is a narrow scan (no shuffle at all)") {
    val plan = finalPlan(graft.operators.Sampling.hashSample(spark, sfDir))
    // the only exchange allowed is the final single-partition orderBy
    assert(!plan.contains("hashpartitioning"), s"sampling shuffles:\n$plan")
  }

  test("brute top-k partial-aggregates map-side (k rows per partition cross)") {
    val plan = finalPlan(graft.operators.SimilaritySearch.bruteTopK(spark, sfDir))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial object agg:\n$plan")
  }

  test("native graft_cosine stays in the codegen'd plan (no UDF)") {
    val df = graft.operators.SimilaritySearch.bruteTopK(spark, sfDir)
    val plan = finalPlan(df)
    assert(plan.contains("graft_cosine"), s"native expression missing:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("SSE frames: one graft_sse_frame inside whole-stage codegen, batch and hub ingest") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)
    // the nodes one codegen stage compiles: its subtree above the
    // InputAdapters that feed it
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    def named(ps: Seq[SparkPlan], names: Set[String]): Seq[Expression] =
      ps.flatMap(_.expressions.flatMap(_.collect {
        case e if names.contains(e.prettyName) => e
      }))
    def check(what: String, plan: SparkPlan): Unit = {
      val all = nodes(plan)
      val stages = all.collect { case w: WholeStageCodegenExec => w }
        .filter(w => named(stage(w.child), Set("graft_sse_frame")).nonEmpty)
      assert(named(all, Set("graft_sse_frame")).size == 1 && stages.size == 1,
        s"$what: not exactly one graft_sse_frame, inside whole-stage codegen:\n$plan")
      // a stage whose source Janino rejects runs interpreted, silently
      CodeGenerator.compile(stages.head.doCodeGen()._2)
      val old = named(all, Set("lpad", "date_format", "concat"))
      assert(old.isEmpty, s"$what: frame built from ${old.map(_.prettyName)}:\n$plan")
    }
    val df = EventLogOps.sseFrames(spark, sfDir)
    df.collect() // force AQE to finalize
    check("sseFrames", df.queryExecution.executedPlan)
    val hub = new graft.streaming.SseHub(spark, sfDir)
    try {
      val q = hub.start().asInstanceOf[StreamingQueryWrapper].streamingQuery
      assert(q.lastExecution != null, "hub ingest ran no batch")
      check("hub ingest", q.lastExecution.executedPlan)
    } finally hub.stop()
  }

  test("embedding dedup evaluates the native SRP sketch, not a generated term chain") {
    val plan = finalPlan(graft.operators.Dedup.embeddingNearDup(spark, sfDir))
    assert(plan.contains("graft_srp_sketch"), s"native sketch missing:\n$plan")
    // the interpreted giant-projection regression: thousands of
    // GetArrayItem terms would reappear as spelled-out array accesses
    assert(!plan.contains("embedding[63]"), s"spelled-out projection returned:\n$plan")
  }

  test("decontamination broadcasts the benchmark index (corpus side never shuffles to probe)") {
    val plan = finalPlan(graft.operators.Dedup.decontaminate(spark, sfDir))
    val finalSection = plan.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastHashJoin"),
      s"bench index not broadcast:\n$plan")
    assert(!finalSection.contains("CartesianProduct"))
    // the corpus side must reach the join without a hash exchange: the
    // ONLY hashpartitioning allowed anywhere is the post-join
    // (doc, bench) hit aggregation (the parallelizing exchange is
    // round-robin, the final sort is range)
    assert("hashpartitioning".r.findAllIn(finalSection).size <= 1,
      s"corpus side shuffles before the probe:\n$plan")
  }

  test("quantized ANN shortlists via map-side partial top-k, like brute force") {
    val plan = finalPlan(graft.operators.SimilaritySearch.quantizedTopK(spark, sfDir))
    // two TopK stages (shortlist + rescore), each partial+final
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 4,
      s"missing partial object aggs:\n$plan")
    assert(plan.contains("graft_cosine"), s"native cosine missing:\n$plan")
  }

  test("incremental dedup and fuzzy match never plan a cartesian or a self-joined signature pass") {
    for (df <- Seq(
        graft.operators.Dedup.incrementalDedup(spark, sfDir),
        graft.operators.Dedup.fuzzyPairs(spark, sfDir))) {
      val plan = finalPlan(df)
      assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
      // single-pass bucket-collect: exactly one scan of documents for
      // the pair generation side in fuzzy; incremental adds the
      // new-batch left-join scan — so documents may appear at most
      // twice (AQE's toString repeats the plan under "== Initial
      // Plan ==", so count only the final section)
      val finalSection = plan.split("== Initial Plan ==")(0)
      assert("parquet.*documents".r.findAllIn(finalSection).size <= 2,
        s"signature pipeline runs more than necessary:\n$plan")
    }
  }

  test("sketch profiling partial-aggregates (constant-size sketch crosses the shuffle)") {
    val plan = finalPlan(graft.operators.Sampling.approxProfile(spark, sfDir))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial sketch agg:\n$plan")
  }

  test("PQ search encodes via the native expression and never plans a cartesian") {
    for (df <- Seq(
        graft.operators.SimilaritySearch.pqTopK(spark, sfDir),
        graft.operators.SimilaritySearch.ivfPqTopK(spark, sfDir, c = 4))) {
      // the executed plan's toString truncates long field lists, which
      // can hide the encode projection — assert the expression on the
      // ANALYZED tree, the physical properties on the executed one
      val analyzed = df.queryExecution.analyzed.toString
      assert(analyzed.contains("graft_pq_encode"),
        s"native PQ encoder missing:\n$analyzed")
      val plan = finalPlan(df)
      assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
      assert(!plan.contains("BatchEvalPython"))
    }
  }

  test("token budget windows per (source, bucket) with broadcast offsets (no per-source single task)") {
    val plan = finalPlan(graft.operators.Sampling.tokenBudget(spark, sfDir))
    val finalSection = plan.split("== Initial Plan ==")(0)
    // the running-sum window over DOC rows must be partitioned by the
    // hash bucket too — partitionBy(source) alone serializes a
    // dominant source through one task
    assert("\\[source#\\d+, bkt#\\d+\\]".r.findAllIn(finalSection).nonEmpty,
      s"doc-row window not bucket-partitioned:\n$plan")
    // the per-bucket offsets are a bounded frame and must come back as
    // a broadcast, never a shuffled join of the corpus
    assert(finalSection.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast:\n$plan")
  }

  test("shard pack windows per bucket with broadcast offsets (no global single-task sort)") {
    val plan = finalPlan(graft.operators.Packing.shardPack(spark, sfDir))
    val finalSection = plan.split("== Initial Plan ==")(0)
    // the doc-row running sum must be partitioned by the hash-prefix
    // bucket — a Window over ORDER BY h with no partition key funnels
    // the corpus through ONE task
    assert("partitionBy=\\[bkt#\\d+\\]|Window.*\\[bkt#\\d+\\]".r.findAllIn(finalSection).nonEmpty,
      s"doc-row window not bucket-partitioned:\n$plan")
    assert(finalSection.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast:\n$plan")
  }

  test("stratified sample pushes the rank limit below the shuffle (WindowGroupLimit)") {
    val plan = finalPlan(graft.operators.Packing.stratifiedSample(spark, sfDir, quota = 3))
    // Spark rewrites row_number <= k into WindowGroupLimit: map tasks
    // keep local top-k per source, so the exchange moves O(sources x k
    // x tasks) rows instead of the corpus
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed into a group limit:\n$plan")
  }

  test("top grams plans TakeOrderedAndProject over a partial agg (no full sort)") {
    val plan = finalPlan(graft.operators.CorpusStats.topGrams(spark, sfDir, k = 10))
    assert(plan.contains("TakeOrderedAndProject"), s"full sort instead of top-k:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("dup-gram fraction joins co-partitioned on gram (no cartesian, no re-explode skew)") {
    val df = graft.operators.CorpusStats.dupGramFrac(spark, sfDir)
    assert(df.queryExecution.analyzed.toString.contains("graft_shingles"),
      "gram build must use the fused native expression")
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
  }

  test("semantic dedup pairs within clusters only (cid-key join, no cartesian)") {
    val df = graft.operators.SemanticDedup.semanticDedup(spark, sfDir)
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
    // the pairwise stage must key on cid — an equi-join (SMJ or
    // shuffled/broadcast hash) over the cluster id
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cid".r
      .findFirstIn(plan).isDefined, s"no cid-keyed equi-join:\n$plan")
  }

  test("partitioned events layout: since prunes date partitions (files), not just row groups") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toFile.getPath
    try {
      graft.sources.Tables.writeEventsPartitioned(spark, sfDir, dir)
      def parquetFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(parquetFiles).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      val totalFiles = parquetFiles(new java.io.File(s"$dir/events.parquet"))
      assert(totalFiles > 1, "fixture must span multiple event_date partitions")

      val df = EventLogOps.sincePartitioned(spark, dir)
      df.collect()
      // AQE nests the actual operators inside query stages, which are
      // not `children` — descend through them manually
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case f: FileSourceScanExec => Seq(f)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case other => other.children.flatMap(scans)
      }
      val scan = scans(df.queryExecution.executedPlan).headOption
        .getOrElse(fail("no FileSourceScanExec in the executed plan"))
      // the contract: a PARTITION filter on event_date (file pruning at
      // listing time) AND the exact ts predicate still pushed to the
      // scan for the boundary day
      assert(scan.partitionFilters.exists(_.toString.contains("event_date")),
        s"no event_date partition filter:\n${scan.toString}")
      assert(scan.toString.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
        s"ts predicate lost its pushdown:\n${scan.toString}")
      val filesRead = scan.metrics("numFiles").value
      assert(filesRead < totalFiles,
        s"partition pruning read every file ($filesRead of $totalFiles)")

      // same rows as the flat layout — the layout changes I/O, never
      // the answer
      val flat = EventLogOps.since(spark, sfDir)
      assert(df.exceptAll(flat).isEmpty && flat.exceptAll(df).isEmpty,
        "partitioned since diverged from the flat-layout since")
      println(s"[planspec] partitioned since read $filesRead of $totalFiles files")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("split leakage adds no join to the pair pipeline (splits derived in-row)") {
    val plan = finalPlan(graft.operators.Dedup.splitLeakage(spark, sfDir))
    // both ends' splits are pure functions of the pair row's own ids —
    // a Join here would mean the audit materialized the assignment
    // table and paid two doc_id joins for data it can compute in place
    assert(!plan.contains("Join"), s"leakage audit joins:\n$plan")
  }

  test("semantic split leakage adds no join beyond the pair pipeline it reuses") {
    def joins(p: String): Int = "Join".r.findAllIn(p).length
    val base = joins(finalPlan(graft.operators.Dedup.embeddingNearDup(spark, sfDir)))
    val audit = joins(finalPlan(graft.operators.Dedup.splitLeakageSemantic(spark, sfDir)))
    // both ends' splits are pure functions of the pair row's own ids
    // (vec_id rides the doc id space) — the audit must not materialize
    // the assignment table and pay joins for data it derives in place.
    // C5's own plan carries exactly one join (the 1-row bit-width
    // broadcast); the audit may not add to it.
    assert(audit == base,
      s"leakage audit added ${audit - base} join(s) over the C5 pipeline")
  }

  test("semantic decontamination broadcasts probes; corpus never shuffles") {
    val plan = finalPlan(graft.operators.Dedup.decontaminateSemantic(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"probe set not broadcast:\n$plan")
    // only exchanges allowed: the broadcast itself and the final
    // delta-sized orderBy (rangepartitioning) — no hash shuffle of
    // the corpus
    assert(!plan.contains("hashpartitioning"), s"corpus shuffled:\n$plan")
  }

  test("compaction planner partial-aggregates the day stats before its exchange") {
    val plan = finalPlan(graft.operators.Maintenance.compactionPlan(spark, sfDir))
    // the only corpus-sized stage is the per-day stats aggregation —
    // partial map-side agg means the exchange moves O(days x tasks)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("source-partitioned documents layout: per-source filter prunes files; rows equal flat") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docpart").toFile.getPath
    try {
      graft.sources.Tables.writeDocumentsPartitioned(spark, sfDir, dir)
      def parquetFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(parquetFiles).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      val totalFiles = parquetFiles(new java.io.File(s"$dir/documents.parquet"))
      assert(totalFiles > 1, "fixture must span multiple source partitions")

      import org.apache.spark.sql.functions.col
      val df = graft.sources.Tables.documentsPartitioned(spark, dir)
        .where(col("source") === "src7")
      df.collect()
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case f: FileSourceScanExec => Seq(f)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case other => other.children.flatMap(scans)
      }
      val scan = scans(df.queryExecution.executedPlan).headOption
        .getOrElse(fail("no FileSourceScanExec in the executed plan"))
      assert(scan.partitionFilters.exists(_.toString.contains("source")),
        s"no source partition filter:\n${scan.toString}")
      val filesRead = scan.metrics("numFiles").value
      assert(filesRead < totalFiles,
        s"source pruning read every file ($filesRead of $totalFiles)")

      val flat = graft.sources.Tables.documents(spark, sfDir)
        .where(col("source") === "src7")
      assert(df.exceptAll(flat).isEmpty && flat.exceptAll(df).isEmpty,
        "partitioned documents diverged from the flat layout")
      println(s"[planspec] source-pruned read $filesRead of $totalFiles files")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }
  test("tokenize export is one narrow pass: no join, only the presentation sort exchange") {
    val df = graft.SparkEntry.queries("q_tokenize_export")(spark, sfDir)
    val plan = finalPlan(df)
    assert(!plan.contains("Join"), s"export plans a join:\n$plan")
    // the ONLY exchange allowed is the total-order presentation sort
    // (rangepartitioning); a hash exchange would mean the encode pass
    // stopped being map-side
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.nonEmpty && exchanges.forall(_ == "rangepartitioning"),
      s"non-presentation exchange in export plan: $exchanges\n$plan")
  }

  test("rule filters and pareto sampling are single narrow scans (no join, presentation sort only)") {
    for (name <- Seq("q_gopher_rules", "q_c4_clean", "q_sample_pareto")) {
      val plan = finalPlan(graft.SparkEntry.queries(name)(spark, sfDir))
      assert(!plan.contains("Join"), s"$name plans a join:\n$plan")
      val exchanges =
        "Exchange (\\w+)".r.findAllMatchIn(plan).map(_.group(1)).toList
      assert(exchanges.nonEmpty && exchanges.forall(_ == "rangepartitioning"),
        s"$name has a non-presentation exchange: $exchanges\n$plan")
    }
  }

  test("proto prune broadcasts centroids and cuts; corpus never nested-loops") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    // q_proto_prune materializes its (vec_id, cid, proto9) assignment
    // with localCheckpoint, whose plan is an execution of its own
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = runs.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val proto = finalExec(graft.SparkEntry.queries("q_proto_prune")(spark, sfDir))
      val assign = eventually(timeout(Span(30, Seconds))) {
        runs.asScala.collectFirst {
          case ("localCheckpoint", qe) if qe.analyzed.output.exists(_.name == "proto9") =>
            qe.executedPlan
        }.getOrElse(fail(s"no proto9 checkpoint among ${runs.asScala.map(_._1)}"))
      }
      assertCentKernel("q_proto_prune assignment", assign)
      assert(!planNodes(proto).exists(nestedLoop), s"nested-loop join in proto prune:\n$proto")
      // the sampled per-cluster cut table rides a BroadcastExchange
      assert(proto.toString.contains("BroadcastExchange"), s"cut table not broadcast:\n$proto")
      assert(!proto.toString.contains("SortAggregate"),
        s"proto prune fell back to SortAggregate:\n$proto")
    } finally spark.listenerManager.unregister(listener)
  }

  test("trained IVF scores centroids via broadcast (corpus never shuffles to score)") {
    import graft.operators.{SemanticDedup, SimilaritySearch}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val cents = SimilaritySearch.trainCentroids(spark, emb, 16, iters = 1)
    assertCentKernel("assignViaIvf", finalExec(SemanticDedup.assignViaIvf(spark, emb, cents, probe = 2)))
  }

  test("cdc dedup aggregates chunk occurrences hash-side with no cartesian") {
    for (name <- Seq("q_cdc_dedup", "q_cdc_dedup_incremental")) {
      val plan = finalPlan(graft.SparkEntry.queries(name)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian:\n$plan")
      // the signature-grain occurrence count and the per-doc rollup
      // must both partial-aggregate before their exchanges
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$name missing partial aggregation:\n$plan")
      assert(!plan.contains("SortAggregate"),
        s"$name fell back to SortAggregate:\n$plan")
    }
  }

  test("vocab coverage cuts the histogram with TakeOrdered and broadcasts the totals") {
    val df = graft.SparkEntry.queries("q_vocab_coverage")(spark, sfDir)
    val plan = finalPlan(df)
    // the corpus-scale word histogram must be cut to the bounded
    // candidate table by top-N, never a full sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"histogram cut is not top-N:\n$plan")
    // the token-total side joins in as a broadcast (1-row frame);
    // nothing corpus-scale crosses a nested-loop join
    assert(plan.contains("BroadcastExchange"), s"totals not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unbounded cross join:\n$plan")
  }

  test("trained langid scoring is one narrow pass: no join, presentation sort only") {
    val plan = finalPlan(
      graft.SparkEntry.queries("q_langid_trained")(spark, sfDir))
    // the frozen log tables ride the plan as literals — scoring must
    // not join, aggregate, or window; the only exchanges are the
    // deliberate pre-sort materialization (hashpartitioning — without
    // it the presentation sort's range sampler re-executes the whole
    // gram-hash + scoring lineage, measured 58→47 s at 100×) and the
    // presentation ORDER BY itself (rangepartitioning)
    assert(!plan.contains("Join"), s"unexpected join in langid scoring:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"unexpected aggregate in langid scoring:\n$plan")
    val exchanges =
      "Exchange (\\w+)".r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.nonEmpty && exchanges.forall(e =>
      e == "rangepartitioning" || e == "hashpartitioning"),
      s"unexpected exchange kind in langid scoring: $exchanges\n$plan")
  }

  test("semantic recall pairs only the fixed probe; centroids and ids ride broadcasts") {
    val plan = finalPlan(
      graft.SparkEntry.queries("q_semantic_recall")(spark, sfDir))
    // the probe draw (TakeOrdered 256) materializes in the upstream
    // localCheckpoint, so this plan reads the BOUNDED probe back as
    // an ExistingRDD scan; the pair build is a broadcast nested loop
    // over those 256 rows and both cid joins are broadcast hash joins
    // — never a shuffle or an unbounded cartesian
    assert(plan.contains("Scan ExistingRDD"),
      s"probe not read from the bounded checkpoint:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"pair build not a broadcast NL over the probe:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cid joins not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unbounded cross join in recall eval:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"bounded probe should never sort-merge:\n$plan")
  }

  test("binary-quantized ANN: queries ride a broadcast; shortlist partial-aggregates map-side") {
    val plan = finalPlan(graft.SparkEntry.queries("q_ann_bq")(spark, sfDir))
    // the 8 packed query rows broadcast into a nested-loop join (the
    // =!= predicate); the corpus side never shuffles to score
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"hamming scan not broadcast-NL over the query rows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unbounded cross join in BQ scan:\n$plan")
    // bounded TopK: partial + final ObjectHashAggregate pairs for the
    // hamming shortlist and the rescore
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 4,
      s"BQ shortlist/rescore not partial-aggregated:\n$plan")
  }

  test("IVF-BQ: probes ride a broadcast cid join; shortlist partial-aggregates map-side") {
    val plan = finalPlan(graft.SparkEntry.queries("q_ann_ivf_bq")(spark, sfDir))
    // probe rows (<= NProbe * 8, each carrying the query's packed
    // words) broadcast into the cid equi-join — the corpus side never
    // shuffles to score inside its buckets
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket probe not a broadcast hash join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unbounded cross join in IVF-BQ:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"IVF-BQ shortlist not partial-aggregated:\n$plan")
  }

  test("fineweb filters are a single narrow scan (no join, presentation sort only)") {
    val plan = finalPlan(graft.SparkEntry.queries("q_fineweb_filters")(spark, sfDir))
    assert(!plan.contains("Join"), s"fineweb filters plan a join:\n$plan")
    val exchanges =
      "Exchange (\\w+)".r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.nonEmpty && exchanges.forall(_ == "rangepartitioning"),
      s"fineweb filters have a non-presentation exchange: $exchanges\n$plan")
  }

  test("quality qnorm joins docs to the bounded bin table via broadcast (no corpus window)") {
    val plan = finalPlan(graft.SparkEntry.queries("q_quality_qnorm")(spark, sfDir))
    // the percentile table is bounded (#sources x bins): it must come
    // back as a broadcast hash join, and the corpus itself must never
    // enter a Window (windows run over the bounded count table only,
    // i.e. strictly above a HashAggregate)
    assert(plan.contains("BroadcastHashJoin"),
      s"bin table not broadcast back:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled to meet the bounded bin table:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"bin counts not partial-aggregated:\n$plan")
  }

  test("cluster-cap sample: quota via bounded partial top-k, no corpus window") {
    val df = graft.SparkEntry.queries("q_sample_cluster_cap")(spark, sfDir)
    assertCentKernel("q_sample_cluster_cap", finalExec(df))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"corpus-scale cartesian in cluster-cap sample:\n$plan")
    // the per-cid quota is the bounded TopK aggregator (partial+final),
    // never a corpus-wide window rank
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"quota not a bounded partial top-k:\n$plan")
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window "),
      s"quota fell back to a corpus window:\n$plan")
  }
}
