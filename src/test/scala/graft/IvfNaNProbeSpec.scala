package graft

import java.nio.file.Files

import graft.operators.{SemanticDedup, SimilaritySearch}

/** Pins how NaN cosines (a zero vector on either side) steer the IVF
  * search on each side of `SemanticDedup.LiteralAssignMaxK`. At
  * k ≤ 512 the centroid kernels map NaN to "loses"; above it the
  * broadcast fallback ranks by `round(c_cos, 9)` descending, where
  * Spark orders NaN above every number, so NaN wins. These specs
  * record today's answers on both sides; they change no code.
  * ROADMAP direction 3 (one centroid-assignment regime) deletes the
  * fallback, and with it the second rule — the "fallback" answers
  * below then become the kernel's.
  */
class IvfNaNProbeSpec extends SparkSpec {

  private val Zero = Array(0f, 0f, 0f, 0f)

  /** Query hit sets of `ivfTopK` (label-mean centroids) over a corpus
    * of `k` labels: labels 0..3 as given, labels 4..k-1 one
    * [0,0,0,1] vector each. Queries are vec_ids 0 and 1. */
  private def hits(k: Int, zeroCentroid: Boolean): Map[Long, Set[Long]] = {
    import spark.implicits._
    val fixed = Seq(
      (0L, Zero, 0), // the all-zero query
      (1L, Array(1f, 0f, 0f, 0f), 1),
      (100L, Array(0f, 0f, 1f, 0f), 0), // centroid 0 = [0, 0, .5, 0]
      (101L, Array(1f, 0f, 0f, 0f), 1), // centroid 1 = [1, 0, 0, 0]
      (102L, if (zeroCentroid) Zero else Array(0f, 1f, 0f, 0f), 2),
      (103L, Array(1f, 1f, 0f, 0f), 3))
    val filler = (4 until k).map(c => (100L + c, Array(0f, 0f, 0f, 1f), c))
    val dir = Files.createTempDirectory("graft_nan_probe").toFile
    (fixed ++ filler).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    SimilaritySearch.ivfTopK(spark, dir.getPath).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("vec_id")).toSet }
  }

  private val KernelK = 5
  private val FallbackK = SemanticDedup.LiteralAssignMaxK + 1

  test("all-zero query: both sides probe the two smallest cids") {
    // its cosine is NaN against every centroid, so the tie rule alone
    // decides — (cid asc) on both sides: centroids 0 and 1
    val kernel = hits(KernelK, zeroCentroid = false)
    val fallback = hits(FallbackK, zeroCentroid = false)
    assert(kernel(0L) == Set(1L, 100L, 101L), s"kernel side: ${kernel(0L)}")
    assert(fallback(0L) == kernel(0L), s"fallback side: ${fallback(0L)}")
    assert(fallback(1L) == kernel(1L))
  }

  test("zero centroid: the kernel side never picks it, the fallback side always does") {
    val kernel = hits(KernelK, zeroCentroid = true)
    val fallback = hits(FallbackK, zeroCentroid = true)
    // kernel: NaN loses. Query 1 probes centroids 1 and 3; the zero
    // vectors (0, 102) share bucket 0 with 100
    assert(kernel(1L) == Set(101L, 103L), s"kernel side, query 1: ${kernel(1L)}")
    assert(kernel(0L) == Set(1L, 100L, 101L, 102L), s"kernel side, query 0: ${kernel(0L)}")
    // fallback: NaN wins. Every non-zero vector is assigned to the
    // zero centroid 2, which query 1 probes first; the all-zero query
    // still probes 0 and 1, where only vector 102 is left
    assert(fallback(1L) == Set(100L, 101L, 103L, 104L, 105L),
      s"fallback side, query 1: ${fallback(1L)}")
    assert(fallback(0L) == Set(102L), s"fallback side, query 0: ${fallback(0L)}")
  }
}
