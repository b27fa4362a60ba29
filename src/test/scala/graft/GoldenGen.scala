package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Regenerates the checked-in golden files for the rows-only queries
  * (D3/D5/D6 ANN + H7 sketch profile) on the sf0.001 test fixture.
  * Training is deterministic by construction (md5 sample order, fixed
  * iteration counts, smallest-id tie-breaks), so the exact output is
  * pinnable — run this ONLY after an intentional algorithm change, and
  * say so in the commit message:
  *
  *   sbt "Test/runMain graft.GoldenGen"
  */
object GoldenGen {
  val Dir = "src/test/resources/golden"
  val SfDir = "/root/testdata/sf0.001"
  /** The driver's verify fixture — the semantic drop-set pinned here
    * feeds the q_pipeline_pack ORACLE (a MAIN resource: the oracle
    * SQL builder inlines it), so it lives under src/main. */
  val VerifyDir = "/root/testdata/sf0.01"
  val MainResDir = "src/main/resources/graft"

  /** (name, query, stringify-row) — scores rounded to 6 dp so the
    * golden pins ranking + ids, not last-bit float noise. */
  def cases(spark: SparkSession): Seq[(String, DataFrame)] = Seq(
    "q_ann_ivf_trained" -> SparkEntry.queries("q_ann_ivf_trained")(spark, SfDir),
    "q_ann_pq" -> SparkEntry.queries("q_ann_pq")(spark, SfDir),
    "q_ann_ivfpq" -> SparkEntry.queries("q_ann_ivfpq")(spark, SfDir))

  def annCsv(df: DataFrame): Seq[String] =
    df.select(col("query_id"), col("rank"), col("vec_id"),
      format_string("%.6f", col("cos_sim")).as("cos6"))
      .orderBy("query_id", "rank")
      .collect().map(r => s"${r.get(0)},${r.get(1)},${r.get(2)},${r.get(3)}").toSeq

  def semCsv(df: DataFrame): Seq[String] =
    df.select(col("vec_id"), col("cid"),
      format_string("%.6f", col("cent_sim")).as("cs6"), col("keep"))
      .orderBy("vec_id")
      .collect().map(r => s"${r.get(0)},${r.get(1)},${r.get(2)},${r.get(3)}").toSeq

  def profileCsv(df: DataFrame): Seq[String] =
    df.select(col("event_type"), col("n_events"), col("approx_users"),
      format_string("%.6f", col("p50_value")).as("p50"),
      format_string("%.6f", col("p99_value")).as("p99"))
      .orderBy("event_type")
      .collect().map(r =>
        s"${r.get(0)},${r.get(1)},${r.get(2)},${r.get(3)},${r.get(4)}").toSeq

  /** I6 incremental semantic dedup: one verdict row per batch vector.
    * first_old_match is NULL for kept vectors — pinned as empty. */
  def semIncCsv(df: DataFrame): Seq[String] =
    df.select(col("vec_id"), col("cid"), col("n_old_matches"),
      col("first_old_match"), col("keep"))
      .orderBy("vec_id")
      .collect().map(r => s"${r.get(0)},${r.get(1)},${r.get(2)}," +
        s"${if (r.isNullAt(3)) "" else r.get(3)},${r.get(4)}").toSeq

  /** I7 emission set: (vec_id, old_id, 6-dp cos_sim), sorted. */
  def semStreamCsv(df: DataFrame): Seq[String] =
    df.select(col("vec_id"), col("old_id"),
      format_string("%.6f", col("cos_sim")).as("cos6"))
      .orderBy("vec_id", "old_id")
      .collect().map(r => s"${r.get(0)},${r.get(1)},${r.get(2)}").toSeq

  /** The I7 golden fixture: sf0.001 is the deduped corpus (k = 16
    * centroids, tau = 0.35) and sf0.01's embeddings are the arriving
    * stream. GoldenGen pins via the BATCH twin (matchesOfBatch);
    * GoldenSpec replays the REAL stream (semanticMatches, the same
    * pipeline over readVecs) against the same golden. */
  val StreamTau = 0.35
  val StreamK = 16
  def streamMatchesBatchTwin(spark: SparkSession): DataFrame = {
    val cents = graft.streaming.VecStreams.corpusCentroids(spark, SfDir, StreamK)
    val kept = graft.streaming.VecStreams.keptIndex(spark, SfDir, cents, StreamTau)
    graft.streaming.VecStreams.matchesOfBatch(spark,
      graft.sources.Tables.embeddings(spark, VerifyDir), cents, kept, StreamTau)
  }

  private def write(name: String, lines: Seq[String], dir: String = Dir): Unit = {
    new File(dir).mkdirs()
    val pw = new PrintWriter(new File(s"$dir/$name.csv"))
    try lines.foreach(pw.println) finally pw.close()
    println(s"[golden] wrote $dir/$name.csv (${lines.size} rows)")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      cases(spark).foreach { case (n, df) => write(n, annCsv(df)) }
      write("q_profile_approx",
        profileCsv(graft.operators.Sampling.approxProfile(spark, SfDir)))
      write("q_dedup_semantic",
        semCsv(SparkEntry.queries("q_dedup_semantic")(spark, SfDir)))
      // I6/I7 pins (round 9): incremental verdicts + stream emissions
      write("q_dedup_semantic_incremental",
        semIncCsv(graft.operators.SemanticDedup
          .semanticDedupIncremental(spark, SfDir)))
      write("semantic_stream_matches",
        semStreamCsv(streamMatchesBatchTwin(spark)))
      // the pipeline oracle's pinned semantic drop-set at the DRIVER'S
      // verify fixture — a main resource (the oracle SQL inlines it)
      write("semantic_drop_sf0.01",
        graft.operators.SemanticDedup.semanticDedup(spark, VerifyDir)
          .where(!col("keep")).select("vec_id").orderBy("vec_id")
          .collect().map(_.getLong(0).toString).toSeq,
        dir = MainResDir)
    } finally spark.stop()
  }
}
