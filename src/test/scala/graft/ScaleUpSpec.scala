package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ScaleUp`'s embeddings blow-up: every copy is an orthogonal
  * transform of the base corpus, distinct from every other copy at any
  * factor, and copies below the vector dimension are the plain
  * rotation. */
class ScaleUpSpec extends SparkSpec {

  private val Stride = 1000000000L

  private def blowUp(x: Int): DataFrame = {
    val out = Files.createTempDirectory("graft_scaleup").toFile.getPath
    ScaleUp.build(spark, sfDir, out, x, tables = Set("embeddings"))
    spark.read.parquet(s"$out/embeddings.parquet").localCheckpoint()
  }

  private lazy val base = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("x past the dimension: unique ids, distinct vectors, norms preserved") {
    val n = base.count()
    val d = base.select(size(col("embedding"))).head().getInt(0)
    val x = d + 1
    val out = blowUp(x)
    assert(out.count() == n * x)
    assert(out.select("vec_id").distinct().count() == n * x)
    assert(out.select("embedding").distinct().count() == n * x,
      s"copy $d repeats copy 0")
    val norm = sqrt(aggregate(col("embedding"), lit(0.0),
      (a, v) => a + v.cast("double") * v.cast("double")))
    val gap = out.select((col("vec_id") % Stride).as("vec_id"), norm.as("n"))
      .join(base.select(col("vec_id"), norm.as("n0")), "vec_id")
      .agg(count(lit(1)), max(abs(col("n") - col("n0")))).head()
    assert(gap.getLong(0) == n * x)
    assert(gap.getDouble(1) <= 1e-6, s"norm drift ${gap.getDouble(1)}")
  }

  test("x below the dimension: output is the rotation-only device, row for row") {
    val x = 3
    val rotated = (0 until x).map { i =>
      base.select((col("vec_id") + lit(i * Stride)).as("vec_id"),
        expr(s"concat(slice(embedding, $i + 1, size(embedding) - $i), " +
          s"slice(embedding, 1, $i))").as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    def rows(df: DataFrame) = df.orderBy("vec_id").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.get(2)))
    assert(rows(blowUp(x)) == rows(rotated))
  }
}
