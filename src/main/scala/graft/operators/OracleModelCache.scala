package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing for in-engine-trained models whose frozen artifact
  * must ride the ORACLE SQL as a literal (the P1/P2 convention): a
  * per-dir cache that always records the LAST trained model — Verify
  * runs queries before it serializes oracle SQL, so the oracle embeds
  * exactly the model of the run it is compared against — plus the
  * dump-only fallback (train on demand off the active session at the
  * remembered/env/default dir). One implementation so the fallback
  * resolution rule cannot drift between learned-model operators. */
private[operators] final class OracleModelCache[M](
    train: (SparkSession, String) => M) {

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, M]()
  private val lastDir = new java.util.concurrent.atomic.AtomicReference[String]()

  /** Train for `dir` (ALWAYS retrains — a bench rep must not silently
    * become score-only via a warm cache) and record the result for
    * the oracle dump. */
  def model(spark: SparkSession, dir: String): M = {
    lastDir.set(dir)
    val m = train(spark, dir)
    cache.put(dir, m)
    m
  }

  /** The model the oracle SQL should embed: the last trained one,
    * training on demand for a dump-only path.
    *
    * Fallback order matters: [[OracleContext.dir]] (set by the CLI
    * mains to THIS run's data dir) outranks this cache's own
    * `lastDir` stale-ness hazards' root cause — a dump-only fallback
    * of one cache can NEST into another operator's trainer (e.g.
    * Pipeline.dropCache → semanticDedup → semCentCache) and trample
    * that cache's lastDir with the fallback dir; with the context
    * pinned to the run's dir, every nested (re)train lands on the
    * same data and retraining is bit-stable within a session, so
    * order of evaluation cannot change any embedded literal. */
  def oracleModel(): M = {
    val dir = Option(OracleContext.dir.get())
      .orElse(Option(lastDir.get()))
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    Option(cache.get(dir)).getOrElse {
      val spark = SparkSession.getActiveSession.getOrElse(
        throw new IllegalStateException(
          "oracle SQL requested a trained model before any session existed"))
      model(spark, dir)
    }
  }
}

/** The one rendering of a collected centroid model `(cid, c_emb)`:
  * as the (cid, c_emb) frame the operators score, and as the VALUES
  * rows its DuckDB twin embeds. */
private[operators] object OracleModelCache {

  /** Shortest-round-trip decimal (java.lang.Double.toString): DuckDB's
    * correctly-rounded parse recovers the exact double, so a literal
    * model artifact crosses engines bit-for-bit. */
  def fmtD(v: Double): String = java.lang.Double.toString(v)

  /** Collected centroids back to the (cid, c_emb) frame shape — a
    * LocalRelation of the SAME doubles the lineage form produced
    * (collect/createDataFrame round-trips doubles exactly). */
  def centsDf(spark: SparkSession, cents: Array[(Int, Array[Double])]): DataFrame =
    spark.createDataFrame(cents.toSeq.map { case (cid, ce) => (cid, ce.toSeq) })
      .toDF("cid", "c_emb")

  /** The model as `(cid, CAST([...] AS DOUBLE[]))` VALUES rows, one
    * per line, for a `cents(cid, c_emb) AS (VALUES ...)` CTE. */
  def centValuesSql(cents: Array[(Int, Array[Double])]): String =
    cents.map { case (cid, ce) =>
      s"($cid, CAST(${ce.map(fmtD).mkString("[", ", ", "]")} AS DOUBLE[]))"
    }.mkString(",\n    ")
}
