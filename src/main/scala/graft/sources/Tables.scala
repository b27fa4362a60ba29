package graft.sources

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-pinned loaders for the driver-generated parquet tables.
  *
  * Schemas are declared explicitly (no inference): schema drift across
  * files or scale factors fails loudly at read, and the streaming file
  * source (which requires a user-supplied schema) reuses the same
  * StructType.
  *
  * `events.ts` has shipped in two physical vintages (see
  * `Tables.eventsTsIsMicros`): parquet TIMESTAMP(NANOS) — which
  * Spark's vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]), so it
  * is read as a nanos BIGINT via `spark.sql.legacy.parquet
  * .nanosAsLong` — and plain µs TIMESTAMP, normalized to the same
  * nanos BIGINT at the read. Either way operators see `ts` as
  * nanos-since-epoch plus a derived microsecond `ts_us` TimestampType
  * column (truncation, which is exactly what DuckDB 1.x does when it
  * reads the nanos file — so the oracle sees identical instants).
  * Predicates that must reach the parquet scan should compare the raw
  * `ts` nanos against literal nanos; everything else can use `ts_us`.
  *
  * Columns are pruned at call sites (select before shuffle) so the
  * scan's ReadSchema stays minimal; filters are expressed on raw
  * columns so they push down.
  */
object Tables {

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  /** `ts` carried as nanos-since-epoch BIGINT (see object Scaladoc). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema, "nation" -> nationSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema, "events" -> eventsRawSchema,
    "documents" -> documentsSchema, "embeddings" -> embeddingsSchema)

  val all: Seq[String] = schemas.keys.toSeq.sorted

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Layout override for the correctness gate: when
    * SPARK_GRAFT_PARTITIONED_DIR is set, `events` and `documents`
    * resolve to the hive-partitioned copies under that dir (written
    * by the test-tree tool `graft.tools.LayoutPrep`) instead of the
    * flat files — projected back to the flat column order, so EVERY
    * query runs unchanged and the oracle (still reading flat) must
    * agree: physical layout is invisible to answers, proven on the
    * whole suite rather than asserted per-fixture (J2's PlanSpec
    * contracts cover the pruning side). */
  private def partitionedDir: Option[String] =
    sys.env.get("SPARK_GRAFT_PARTITIONED_DIR").filter(_.nonEmpty)

  /** Physical `ts` type probe, memoized per events path: the driver's
    * testdata has shipped `ts` BOTH as parquet TIMESTAMP(NANOS)
    * (earlier rounds — read as a nanos BIGINT via `nanosAsLong`) and
    * as plain µs TIMESTAMP (round-10 regeneration). The internal
    * contract stays "ts = nanos-since-epoch BIGINT" either way: a µs
    * file is normalized by `unix_micros(ts) · 1000` at the read, so
    * every operator, the partitioned layouts (written nanos by
    * `graft.tools.LayoutPrep`), and the DuckDB oracle (epoch-function-
    * based, type agnostic) agree without caring which vintage
    * generated the file.
    * Footer-only probe — no data job. */
  private val microsTs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private[graft] def eventsTsIsMicros(spark: SparkSession, dir: String): Boolean =
    microsTs.computeIfAbsent(path(dir, "events"), p =>
      spark.read.parquet(p).schema("ts").dataType match {
        case TimestampType | TimestampNTZType => true
        case _ => false
      })

  /** Cast a µs-TIMESTAMP-typed raw events frame onto
    * [[eventsRawSchema]] (ts → nanos BIGINT). Exact: µs fit 2^63 ns
    * until year 2262, same bound the nanos vintage already has.
    * The NTZ vintage extracts µs ZONE-FREE (timestampdiff against the
    * NTZ epoch literal): casting NTZ through TimestampType interprets
    * the wall clock in the session timezone, so a non-UTC session
    * would shift every derived nanos value relative to DuckDB's
    * timezone-agnostic epoch read. */
  private[graft] def normalizeMicrosEvents(df: DataFrame): DataFrame = {
    val tsUs = df.schema("ts").dataType match {
      case TimestampNTZType => expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      case _ => unix_micros(col("ts").cast(TimestampType))
    }
    df.select(
      col("event_id").cast(LongType).as("event_id"),
      (tsUs * lit(1000L)).as("ts"),
      col("user_id").cast(LongType).as("user_id"),
      col("event_type").cast(StringType).as("event_type"),
      col("value").cast(DoubleType).as("value"),
      col("props").cast(StringType).as("props"))
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    resolve(spark, dir, name, partitionedDir)

  /** The layout dispatch behind [[apply]], with the partitioned-dir
    * override as an explicit parameter so LayoutDispatchSpec can GATE
    * that both `events` AND `documents` actually take the partitioned
    * read when an override is present (round 10 silently lost the
    * documents case in a merge — the J2 layout-invisibility suite then
    * tested the flat read against itself and proved nothing). */
  private[graft] def resolve(spark: SparkSession, dir: String, name: String,
                             pdir: Option[String]): DataFrame = {
    val schema = schemas.getOrElse(name, sys.error(s"unknown table: $name"))
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    (name, pdir) match {
      case ("events", Some(p)) =>
        eventsPartitionedRaw(spark, p)
          .select(ArraySeq.unsafeWrapArray(eventsRawSchema.fieldNames.map(col)): _*)
      case ("documents", Some(p)) =>
        documentsPartitioned(spark, p)
      case ("events", None) if eventsTsIsMicros(spark, dir) =>
        normalizeMicrosEvents(spark.read.parquet(path(dir, name)))
      case _ =>
        spark.read.schema(schema).parquet(path(dir, name))
    }
  }

  /** events with `ts >= loNs` (and `< hiNs` unless `Long.MaxValue`)
    * stated on the PHYSICAL column BEFORE normalization, so the
    * predicate reaches the parquet scan in EITHER ts vintage — a
    * filter written after `normalizeMicrosEvents` sits above the
    * `unix_micros · 1000` projection and never pushes. On µs files
    * the nanos bounds translate exactly (`ts_ns ⋈ L ⟺ ts_us ⋈
    * ⌈L/1000⌉` because every ts_ns is a µs multiple) to foldable
    * timestamp literals the scan can compare against footer stats;
    * the A2 since-resume at 100 TB is this pushdown or a full-history
    * read. Output is the normalized nanos contract either way. */
  def eventsRawRange(spark: SparkSession, dir: String,
                     loNs: Long, hiNs: Long = Long.MaxValue): DataFrame = {
    def nsPred = if (hiNs == Long.MaxValue) col("ts") >= loNs
                 else col("ts") >= loNs && col("ts") < hiNs
    (partitionedDir, eventsTsIsMicros(spark, dir)) match {
      case (Some(_), _) | (None, false) =>
        apply(spark, dir, "events").where(nsPred)
      case (None, true) =>
        val raw = spark.read.parquet(path(dir, "events"))
        normalizeMicrosEvents(
          raw.where(microsTsRangePred(raw.schema("ts").dataType, loNs, hiNs)))
    }
  }

  /** Overflow-safe ⌈ns/1000⌉ that also holds for NEGATIVE (pre-epoch)
    * nanos: `(ns + 999) / 1000` relies on `/` flooring, but Scala's
    * integer division truncates toward zero, so a negative ns
    * mis-rounded by one µs and could flip a boundary row. */
  private[graft] def ceilDivNanosToMicros(ns: Long): Long =
    Math.floorDiv(ns, 1000L) + (if (Math.floorMod(ns, 1000L) == 0L) 0L else 1L)

  /** Zone-free NTZ literal for a µs-since-epoch instant: the value a
    * timezone-agnostic reader (DuckDB) shows for that instant. Built
    * as a SQL literal string, so it is foldable and pushes to the
    * scan; a cast THROUGH TimestampType would re-interpret the wall
    * clock in the session timezone. */
  private def ntzLit(us: Long): Column = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L).toInt * 1000,
      java.time.ZoneOffset.UTC)
    val s = ldt.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    expr(s"TIMESTAMP_NTZ '$s'")
  }

  /** The nanos range restated against a µs-TIMESTAMP physical `ts`
    * (exact — see [[eventsRawRange]]); foldable literals, so the
    * parquet scan compares them against footer stats. The NTZ vintage
    * gets a zone-free literal (see [[ntzLit]]) so a non-UTC session
    * cannot shift the bound relative to the oracle's epoch read. */
  private[graft] def microsTsRangePred(tsType: DataType, loNs: Long,
                                       hiNs: Long): Column = {
    def usLit(ns: Long) = tsType match {
      case TimestampNTZType => ntzLit(ceilDivNanosToMicros(ns))
      case _ => timestamp_micros(lit(ceilDivNanosToMicros(ns))).cast(tsType)
    }
    if (hiNs == Long.MaxValue) col("ts") >= usLit(loNs)
    else col("ts") >= usLit(loNs) && col("ts") < usLit(hiNs)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Redistribute for CPU-bound narrow stages: when the scan yields
    * fewer input splits than cores (small files), a cheap row shuffle
    * buys full parallelism for expensive per-row work (minhash/simhash
    * signatures). At real scale the file source already produces
    * ≥cores splits and this is a no-op — no shuffle is added. */
  def parallelized(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    // Plan-time split estimate from relation statistics (total bytes /
    // maxPartitionBytes) instead of df.rdd.getNumPartitions, which
    // materialized the physical RDD lineage on the driver for every
    // signature-pipeline query. The estimate is a lower bound on the
    // real split count (file packing only produces MORE splits when
    // maxSplitBytes shrinks below maxPartitionBytes), so large inputs
    // — where estSplits >= cores — are a guaranteed no-op.
    val maxPartitionBytes = spark.sessionState.conf.filesMaxPartitionBytes.max(1L)
    // stats.sizeInBytes is a BigInt that join estimates can inflate
    // past Long range — min with Long.MaxValue before converting so the
    // estimate can't overflow negative and inject a spurious shuffle
    val estSplits = (df.queryExecution.optimizedPlan.stats.sizeInBytes /
      maxPartitionBytes).min(BigInt(Long.MaxValue) - 1).toLong + 1
    if (estSplits < target) df.repartition(target) else df
  }

  /** events with `ts` as raw nanos BIGINT (pushdown-friendly). */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")

  // ------------------------------------------------- partitioned layout
  /** The 100 TB layout for the event log: hive-style
    * `event_date=YYYY-MM-DD/` directories, so time-range predicates
    * (the `?since=` resume grammar, retention cuts, windowed reads)
    * prune whole FILES at planning time instead of relying on
    * row-group statistics inside one flat file. Flat parquet answers
    * the same queries correctly — this layout answers them without
    * opening a year of cold data to serve "since this morning".
    *
    * `event_date` is derived from the raw nanos (UTC truncation of
    * the µs instant DuckDB also sees), so the partition key is a pure
    * function of `ts` and the two layouts hold identical logical
    * content. */
  def writeEventsPartitioned(spark: SparkSession, srcDir: String,
                             outDir: String): Unit =
    eventsRaw(spark, srcDir)
      // UTC truncation stated arithmetically: to_date over a timestamp
      // truncates in the SESSION zone, so a non-UTC writer session
      // would place boundary events in different date directories than
      // the readers' (and the oracle's) UTC day
      .withColumn("event_date", graft.functions.Portable.utcDateOfMicros(
        expr("ts DIV 1000")))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(s"$outDir/events.parquet")

  /** Schema for the partitioned layout: the raw schema + the
    * `event_date` partition column (DateType, read from directory
    * names — zero bytes per row on disk). */
  val eventsPartitionedSchema: StructType =
    StructType(eventsRawSchema.fields :+ StructField("event_date", DateType))

  /** Partitioned-events reader. Same rows as [[eventsRaw]] over the
    * equivalent flat file, plus `event_date` for partition-pruning
    * predicates (PlanSpec pins that the pruning actually happens). */
  def eventsPartitionedRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(eventsPartitionedSchema)
      .parquet(s"$dir/events.parquet")

  /** The 100 TB layout for the corpus: `source=` directories, so
    * per-source work (source-mix rates, per-source budgets, a single
    * crawl's reprocess) prunes files at listing time. `source` is
    * already a column; the hive layout stores it once in the
    * directory name (zero bytes per row) and restores it at read. */
  def writeDocumentsPartitioned(spark: SparkSession, srcDir: String,
                                outDir: String): Unit =
    documents(spark, srcDir)
      .write.mode("overwrite")
      .partitionBy("source")
      .parquet(s"$outDir/documents.parquet")

  /** Partitioned-documents reader; same rows as [[documents]] over
    * the flat file (PlanSpec pins pruning + row equality). Partition
    * columns come back LAST in the schema, so reorder to the pinned
    * column order. */
  def documentsPartitioned(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(documentsSchema)
      .parquet(s"$dir/documents.parquet")
      .select(ArraySeq.unsafeWrapArray(documentsSchema.fieldNames.map(col)): _*)

  /** events plus derived `ts_us` TimestampType (µs, matches DuckDB).
    * Integer division (DIV) — a double quotient of ~1.7e18 nanos loses
    * the low bits and lands ±hundreds of ns off. */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsRaw(spark, dir)
      .withColumn("ts_us", timestamp_micros(expr("ts DIV 1000")))
}
