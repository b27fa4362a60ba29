package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{SemanticDedup, SimilaritySearch}

/** Evidence tool for the IVF-probe path (BASELINE.md "IVF-probe"):
  * blows up the embeddings table ALONE to an arbitrary factor and
  * measures, at that scale,
  *
  *   1. WALL-CLOCK of the two end-to-end assignment regimes — exact
  *      (full-corpus Lloyd's + exact argmax, n·k per pass) vs probed
  *      (32·k-sample training + IVF probe) — the crossover question:
  *      where does the exact path actually lose?
  *   2. ROUTING agreement per probe width against the SAME centroid
  *      set (the probed regime's own sampled-training centroids);
  *   3. VERDICT agreement per probe width under those FIXED centroids
  *      — exact argmax vs probed argmax, both fed through the dedup
  *      rule. This isolates probe-induced verdict churn from
  *      training-sample churn: comparing the two END-TO-END regimes
  *      confounds the probe with a legitimately different clustering
  *      (sampled vs full-corpus training), which ScalingStats'
  *      `semverdict` row records separately.
  *
  * The blow-up composes two norm-preserving transforms so copies keep
  * the corpus's pairwise-cosine distribution without planting
  * cross-copy duplicates: rotation by (i % dim) positions (the
  * ScaleUp device, capped at dim copies) times a deterministic
  * per-(i/dim) sign-flip pattern — an orthogonal transform, so
  * within-copy near-dup structure survives intact at ANY factor.
  *
  * Run: sbt "runMain graft.ProbeLab <baseDir> <x> [probe,probe,...]"
  * (probes default to 2 and the adaptive dial; 0 = ProbeAuto).
  * Measurement only — the correctness gate never sees these tables.
  */
object ProbeLab {

  /** Embeddings-only blow-up; see object doc. Copy 0 is the identity
    * (the base corpus rides along unchanged). */
  def blowUpEmbeddings(spark: SparkSession, base: String, out: String,
                       x: Int): Unit = {
    require(x >= 1, s"x must be >= 1, got $x")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val stride = 10000000L
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    require(mx < stride, s"vec_id max $mx >= blow-up stride $stride")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until x).map { i =>
      val rot = i % dim
      val g = i / dim
      val rotated =
        if (rot == 0) col("embedding")
        else expr(s"concat(slice(embedding, $rot + 1, size(embedding) - $rot), " +
          s"slice(embedding, 1, $rot))")
      // deterministic +-1 per (group, dim index): xxhash64 parity —
      // an orthogonal (diagonal +-1) transform, cosine-preserving
      val flipped =
        if (g == 0) rotated
        else expr(s"transform($rotated, (v, j) -> " +
          s"CAST(v * (1 - 2 * (xxhash64(concat('g${g}_', j)) & 1)) AS FLOAT))")
      emb.select((col("vec_id") + lit(i.toLong * stride)).as("vec_id"),
        flipped.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val x = if (args.length > 1) args(1).toInt else 10
    val probes: Seq[Int] =
      (if (args.length > 2) args(2).split(",").map(_.trim.toInt).toSeq
       else Seq(2, 0))
        .map(p => if (p == 0) SemanticDedup.ProbeAuto else p)
    val tau = 0.35

    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = java.nio.file.Files.createTempDirectory("graft_probelab")
      .toFile.getPath
    try {
      blowUpEmbeddings(spark, base, tmp, x)
      // parallelized: the blow-up writes small files that pack into
      // few splits; without a spread the narrow argmax stages would
      // run nearly serially and the wall-clocks would measure file
      // layout, not algorithm (at real scale the scan yields >= cores
      // splits and this is a no-op)
      val emb = graft.sources.Tables.parallelized(spark,
        spark.read.parquet(s"$tmp/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))).localCheckpoint()
      val n = emb.count()
      val k = SemanticDedup.autoK(n)
      val kCoarse = math.ceil(math.sqrt(k.toDouble)).toInt
      println(s"[probelab] base=$base x=$x n=$n k=$k k'=$kCoarse " +
        s"adaptiveProbe=${SemanticDedup.adaptiveProbe(kCoarse)}")

      def timed[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f
        println(f"[probelab] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }

      // --- end-to-end wall-clock: the two regimes as shipped
      // (SPARK_GRAFT_PROBELAB_ROWS_ONLY=1 skips the regime timings to
      // re-measure just the controlled agreement rows)
      val rowsOnly = sys.env.get("SPARK_GRAFT_PROBELAB_ROWS_ONLY").contains("1")
      if (!rowsOnly)
      timed(s"EXACT regime (full train k=$k iters=3 + exact argmax)") {
        SemanticDedup.assignTo(spark, emb,
          SimilaritySearch.trainCentroids(spark, emb, k, 3))
          .write.mode("overwrite").format("noop").save()
      }
      // repartition: orderBy().limit() yields ONE partition — without
      // the spread every Lloyd pass over the sample runs single-threaded
      // (matches the operator's own sample idiom)
      def trainSample() = SimilaritySearch
        .hashOrderedSample(emb, 32 * k)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      if (!rowsOnly)
      timed(s"PROBED regime (32k-sample train + IVF probe=auto)") {
        SemanticDedup.assignViaIvf(spark, emb,
          SimilaritySearch.trainCentroids(spark, trainSample(), k, 3))
          .write.mode("overwrite").format("noop").save()
      }

      // --- controlled comparison under FIXED (sampled) centroids
      val sample = trainSample()
      val cents = timed(s"sampled training (32*$k rows)") {
        SimilaritySearch.trainCentroids(spark, sample, k, 3).localCheckpoint()
      }
      val exactA = timed("exact argmax vs sampled cents") {
        SemanticDedup.assignTo(spark, emb, cents).localCheckpoint()
      }
      val exactV = SemanticDedup.dedupAssigned(spark, exactA, tau)
        .select(col("vec_id"), col("keep").as("keep_x"),
          col("cid").as("cid_x")).localCheckpoint()
      val keepX = exactV.where(col("keep_x")).count()
      println(f"[probelab] exact-argmax keep rate ${keepX * 100.0 / n}%6.2f%% ($keepX/$n)")
      val exSlim = exactA.select(col("vec_id"), col("cid").as("cx"),
        col("cent_sim").as("sx"))

      for (p <- probes) {
        val plabel = if (p == SemanticDedup.ProbeAuto) "auto" else p.toString
        val probedA = timed(s"probed argmax (probe=$plabel)") {
          SemanticDedup.assignViaIvf(spark, emb, cents, probe = p)
            .localCheckpoint()
        }
        val j = exSlim.join(probedA.select(col("vec_id"),
          col("cid").as("ca"), col("cent_sim").as("sa")), Seq("vec_id"))
        val routeAgree = j.where(col("ca") === col("cx") ||
          col("sa") >= col("sx") - 1e-9).count()
        val probedV = SemanticDedup.dedupAssigned(spark, probedA, tau)
          .select(col("vec_id"), col("keep").as("keep_p"))
        val jv = exactV.join(probedV, Seq("vec_id")).localCheckpoint()
        val verdictAgree = jv.where(col("keep_x") === col("keep_p")).count()
        val keepP = jv.where(col("keep_p")).count()
        println(f"[probelab] probe=$plabel%-5s routing ${routeAgree * 100.0 / n}%6.2f%%" +
          f"  verdict ${verdictAgree * 100.0 / n}%6.2f%%" +
          f"  keepRate ${keepP * 100.0 / n}%6.2f%% (exact ${keepX * 100.0 / n}%5.2f%%, n=$n)")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(tmp))
      spark.stop()
    }
  }
}
