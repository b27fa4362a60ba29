package graft
package tools

import org.apache.spark.sql.SparkSession

/** Writes the 100 TB layouts (date-partitioned events, source-
  * partitioned documents — [[graft.sources.Tables]]) for a scale-factor
  * dir, so the FULL correctness suite can run against the partitioned
  * copies via SPARK_GRAFT_PARTITIONED_DIR: the oracle keeps reading the
  * flat files, and every green row proves the layout changed no answer.
  *
  * Run: sbt "Test/runMain graft.tools.LayoutPrep <sfDir> <outDir>"
  * then: SPARK_GRAFT_PARTITIONED_DIR=<outDir> sbt "runMain graft.Verify <sfDir> <out>"
  */
object LayoutPrep {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      graft.sources.Tables.writeEventsPartitioned(spark, sfDir, outDir)
      graft.sources.Tables.writeDocumentsPartitioned(spark, sfDir, outDir)
      println(s"[layoutprep] partitioned events + documents written to $outDir")
    } finally spark.stop()
  }
}
