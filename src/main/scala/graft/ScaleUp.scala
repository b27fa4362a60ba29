package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measurement-only corpus blow-up: builds an `x`× copy of a driver
  * scale-factor directory (ALL ten tables) so the FULL query suite can
  * be benchmarked above the largest generated sf. Each copy shifts
  * every synthetic key by a copy-local stride, so referential
  * integrity (orders→customer, lineitem→part/supplier, doc ids,
  * vec ids) holds across copies; fixed dimensions (region, nation) are
  * NOT multiplied, exactly like a real 10× corpus. Document text is
  * token-prefixed per copy (no cross-copy shingle can collide, so
  * dedup geometry stays honest instead of flooding with planted
  * cross-copy "dups"); embeddings get a per-copy orthogonal transform
  * (see the embeddings step), so copies stay distinct at any `x`.
  *
  * The correctness gate NEVER sees these tables — there is no oracle
  * at this scale; this exists to measure wall-clock scaling curves
  * (BASELINE.md "Full-suite scaling").
  *
  * Run: sbt "runMain graft.ScaleUp <baseDir> <outDir> <x> [tables]"
  * `tables` (optional, comma-list) restricts the build — the organic
  * 1000× sweep needs only documents+embeddings, and building 600M
  * lineitem rows for a dedup/ANN probe would be pure disk burn.
  */
object ScaleUp {

  /** Key stride between copies; big enough that no generated table's
    * keys reach it (asserted below). */
  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val (base, out, xs) = (args(0), args(1), args(2))
    val tables = if (args.length > 3)
      args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
    else AllTables
    val x = xs.toInt
    // 1000 copies shift keys by <= 999e9, still an order of magnitude
    // under copy stride collisions (ids are < 1e9 by the check below)
    require(x >= 1 && x <= 1000, s"x must be in [1, 1000], got $x")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try build(spark, base, out, x, tables)
    finally spark.stop()
  }

  private val AllTables = Set("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def build(spark: SparkSession, base: String, out: String, x: Int,
            tables: Set[String] = AllTables): Unit = {
    require((tables -- AllTables).isEmpty,
      s"unknown tables: ${(tables -- AllTables).mkString(", ")}")
    def read(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")
    def write(df: => DataFrame, t: String): Unit =
      if (tables(t))
        df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    def copies(df: DataFrame)(copy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until x).map(i => copy(df, i)).reduce(_ unionByName _)
    def shifted(i: Int)(c: String) = (col(c) + lit(i * Stride)).as(c)

    // every shifted key must stay under the stride, or copies collide
    // and silently corrupt the measured workload (events appears twice:
    // both event_id and user_id are shifted below)
    val keyCols = Seq(
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "events" -> "event_id",
      "events" -> "user_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
    keyCols.filter { case (t, _) => tables(t) }.foreach { case (t, k) =>
      val row = read(t).agg(max(col(k))).head()
      require(!row.isNullAt(0), s"$t is empty — nothing to scale")
      val mx = row.getLong(0)
      require(mx < Stride, s"$t.$k max $mx >= stride $Stride")
    }

    // fixed dims: one copy (a bigger corpus has more facts, not more
    // regions)
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(copies(read("customer")) { (df, i) =>
      df.select(shifted(i)("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }, "customer")
    write(copies(read("supplier")) { (df, i) =>
      df.select(shifted(i)("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    }, "supplier")
    write(copies(read("part")) { (df, i) =>
      df.select(shifted(i)("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    }, "part")
    write(copies(read("orders")) { (df, i) =>
      df.select(shifted(i)("o_orderkey"), shifted(i)("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders")
    write(copies(read("lineitem")) { (df, i) =>
      df.select(shifted(i)("l_orderkey"), shifted(i)("l_partkey"),
        shifted(i)("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")
    // events keep their timestamps (the suite's windows/probes cover a
    // fixed span — 10x events means 10x density, like a busier stream)
    write(copies(read("events")) { (df, i) =>
      df.select(shifted(i)("event_id"), col("ts"), shifted(i)("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")
    // token-prefix every copy's text: the trailing 'x' ends the copy
    // tag, so 'c1x' is never a prefix of 'c12x' and no cross-copy
    // shingle collides
    write(copies(read("documents")) { (df, i) =>
      df.select(shifted(i)("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"c${i}x$$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")
    // copy i rotates its embedding by i % d positions (d = its size,
    // so any corpus dim works) and, in copy group i / d >= 1, flips
    // signs by a deterministic +-1 per (group, dim index) from
    // xxhash64 parity: an orthogonal transform, so norms and in-copy
    // cosines hold and copies stay distinct at any x (rotation alone
    // repeats copy i at copy i + d); copies below d are rotation only
    write(copies(read("embeddings")) { (df, i) =>
      val rot = s"($i % size(embedding))"
      val g = s"($i DIV size(embedding))"
      val rotated = s"concat(slice(embedding, $rot + 1, size(embedding) - $rot), " +
        s"slice(embedding, 1, $rot))"
      df.select(shifted(i)("vec_id"),
        expr(s"IF($g = 0, $rotated, transform($rotated, (v, j) -> " +
          s"CAST(v * (1 - 2 * (xxhash64(concat('g', $g, '_', j)) & 1)) AS FLOAT)))")
          .as("embedding"),
        col("label"))
    }, "embeddings")
    println(s"[scaleup] built ${x}x of $base at $out")
  }
}
