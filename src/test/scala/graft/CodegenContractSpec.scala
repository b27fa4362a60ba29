package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** NO_FALLBACK codegen contract for every registered graft native
  * expression. The failure mode this pins: a generated-code bug (e.g.
  * the r14 fixed-local-name collision when graft_cosine appeared twice
  * in one codegen scope) does NOT fail any normal run — Janino rejects
  * the class, Spark logs one `ERROR CodeGenerator` and silently falls
  * back to interpreted eval, and every correctness gate stays green
  * while the hot path quietly drops out of WholeStageCodegen. Under
  * `spark.sql.codegen.fallback=false` (whole-stage compile errors
  * propagate) + `spark.sql.codegen.factoryMode=CODEGEN_ONLY` (the
  * no-fallback factory mode: projection/predicate/ordering factories
  * throw instead of interpreting), the same bug fails the query — so
  * "collect() succeeds" IS the contract.
  *
  * Each probe also re-runs under factoryMode=NO_CODEGEN and the two
  * results are compared, pinning codegen ≡ interpreted semantics for
  * every native expression in the same pass.
  */
class CodegenContractSpec extends SparkSpec {

  private def withCodegenMode[A](mode: String)(body: => A): A = {
    val fb = spark.conf.getOption("spark.sql.codegen.fallback")
    val fm = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    try body
    finally {
      fb.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
      fm.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  // Probe rows: enough shape variety to exercise null paths and both
  // element types; parallelize(2 slices) so codegen runs on executors.
  private lazy val probe: DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    // 64 dims (the SRP hyperplane matrix's minimum), deterministic
    // non-zero-norm values
    def fvec(seed: Int) =
      Array.tabulate(64)(i => ((i * seed + 3) % 17 - 8) * 0.25f)
    def dvec(seed: Int) =
      Array.tabulate(64)(i => ((i * seed + 5) % 13 - 6) * 0.5)
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", fvec(3), dvec(2)),
      (2L, "pack my box with five dozen liquor jugs", fvec(5), dvec(7)),
      (3L, "", fvec(11), dvec(1)))
    import spark.implicits._
    spark.createDataset(rows).toDF("id", "text", "emb_f", "emb_d")
      .repartition(2)
  }

  /** Tiny frozen models for the literal-parameter expressions (the
    * vocab must be strictly ascending — binary-search contract). */
  private val bpeWords = Seq("fox", "quick", "the")
  private val bpeCounts = Seq(3L, 2L, 1L)
  private val bpeOffsets = Seq(0L, 1L, 2L, 3L) // one piece per word
  private val bpeIds = Seq(0L, 1L, 2L)
  private val bpePieces = Seq("fox", "quick", "the")
  // m=2 subvectors, k=2 centroids, d=2 sub-dims -> m*k*d = 8 floats
  private val pqCodebook = Array(0.1f, 0.2f, -0.1f, -0.2f,
    0.3f, 0.4f, -0.3f, -0.4f)

  /** One projection invoking EVERY registered native function —
    * graft_cosine deliberately TWICE (and a third float-typed use),
    * the exact shape whose inline-loop codegen collided local names
    * before the r15 shared-kernel fix. */
  private def allNativeProjection(df: DataFrame): DataFrame = {
    val bloom = {
      val bf = probe.stat.bloomFilter("id", 100L, 0.03)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    df.select(
      col("id"),
      Vectors.cosineFast(spark, col("emb_d"), col("emb_d")).as("cos_self"),
      Vectors.cosineFast(spark, col("emb_d"),
        reverse(col("emb_d"))).as("cos_rev"),
      Vectors.cosineFast(spark, col("emb_f"), col("emb_f")).as("cos_f"),
      Vectors.srpSketchFast(spark, col("emb_f"), 0).as("srp0"),
      Vectors.srpSketchFast(spark, col("emb_f"), 1).as("srp1"),
      Vectors.shinglesFast(spark, col("text"), 3, distinct = true).as("sh"),
      Vectors.gramStatsFast(spark, col("text"), 3).as("gs"),
      call_function("graft_gram_buckets",
        coalesce(col("text"), lit("")), lit("lid"), lit(256)).as("gb"),
      Vectors.minhashFast(spark,
        Vectors.shinglesFast(spark, col("text"), 3, distinct = true), 4)
        .as("mh"),
      Vectors.simhashFast(spark,
        Vectors.shinglesFast(spark, col("text"), 3, distinct = true))
        .as("simh"),
      Vectors.sortedExceptFast(spark, split(col("text"), " "),
        sort_array(array(lit("the"), lit("fox")))).as("se"),
      Vectors.pqEncodeFast(spark, col("emb_f"),
        pqCodebook.toIndexedSeq, 2, 2, 2).as("pq"),
      call_function("graft_might_contain", col("id"), lit(bloom)).as("mc"),
      Vectors.bitpackFast(spark, col("emb_f")).as("bpk_f"),
      Vectors.bitpackFast(spark, col("emb_d")).as("bpk_d"),
      call_function("graft_bpe_count", col("text"),
        array(bpeWords.map(lit(_)): _*),
        array(bpeCounts.map(lit(_)): _*)).as("bc"),
      call_function("graft_nb_scores",
        call_function("graft_gram_buckets",
          coalesce(col("text"), lit("")), lit("lid"), lit(4)),
        typedlit(Seq(-0.5, -0.7)),
        typedlit(Seq(-1.0, -2.0, -3.0, -4.0,
          -1.5, -2.5, -3.5, -4.5))).as("nbs"),
      call_function("graft_winnow_fp",
        coalesce(col("text"), lit("")), lit(3), lit(4)).as("wfp"),
      call_function("graft_lm_score", coalesce(col("text"), lit("")),
        typedlit(Seq("he ", "the", "uic")),
        typedlit(Seq(-1.5, -0.5, -2.5)), lit(-4.605170185988091)).as("lms"),
      call_function("graft_bpe_encode", col("text"),
        array(bpeWords.map(lit(_)): _*),
        array(bpeOffsets.map(lit(_)): _*),
        array(bpeIds.map(lit(_)): _*),
        array(bpePieces.map(lit(_)): _*)).as("be"),
      call_function("graft_sse_frame",
        timestamp_micros(col("id") * -86399999999L), col("text")).as("sse"))
      .orderBy("id")
  }

  test("every graft native function compiles under no-fallback codegen (CODEGEN_ONLY)") {
    // Under fallback=false a whole-stage compile error PROPAGATES, so
    // this collect failing is the regression signal (reverting
    // CosineSimilarity to inline-loop codegen makes it throw here).
    val (n, planStr) = withCodegenMode("CODEGEN_ONLY") {
      val df = allNativeProjection(probe)
      val n = df.collect().length
      // read the plan AFTER execution so AQE has finalized and the
      // WholeStageCodegen spans are visible in the string
      (n, df.queryExecution.executedPlan.toString)
    }
    assert(n == 3)
    // and the plan must actually BE whole-stage-compiled, not merely
    // not-failing (a CodegenFallback expression would pass the above
    // by never entering codegen). AQE's final-plan rendering marks a
    // WholeStageCodegen span with the `*(n)` star rather than the
    // node name — the Project carrying every native call must be
    // starred.
    assert(planStr.matches("(?s).*\\*\\(\\d+\\) Project \\[id.*"),
      s"native projection fell out of WholeStageCodegen:\n$planStr")
  }

  test("codegen and interpreted eval agree bit-for-bit on every native function") {
    val compiled = withCodegenMode("CODEGEN_ONLY") {
      allNativeProjection(probe).collect()
    }
    val interpreted = withCodegenMode("NO_CODEGEN") {
      allNativeProjection(probe).collect()
    }
    assert(compiled.length == interpreted.length)
    compiled.zip(interpreted).foreach { case (c: Row, i: Row) =>
      assert(c == i, s"codegen/interpreted divergence:\n  $c\n  $i")
    }
  }
}
