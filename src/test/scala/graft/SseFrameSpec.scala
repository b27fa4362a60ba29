package graft

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean

import graft.operators.EventLogOps

/** `graft_sse_frame` (the one SSE frame source, `EventLogOps.sseFrameCol`)
  * against the ~30-node concat column it replaced, kept here as the
  * reference, and against `java.time`. Every check runs in both
  * evaluation modes (whole-stage codegen with no interpreted fallback,
  * and interpreted) and in three session time zones.
  *
  * The concat column split day and time of day with a DOUBLE quotient,
  * `floor(us / 86400000000)`. Where that quotient floors to the right
  * day, the two columns must be byte-identical. Where it does not, the
  * old column renders the next day with hour `-1`; that happens at the
  * last µs of a day once the quotient's or the µs's double spacing is
  * too coarse (before ~1611, and from ~2255 when |µs| passes 2^53). The
  * kernel is exact there, and the pinned cases show both renderings.
  */
class SseFrameSpec extends SparkSpec {

  private val MicrosPerDay = 86400000000L

  /** The replaced concat column, verbatim. */
  private def concatFrame(tsUs: Column, detail: Column): Column = {
    val us = unix_micros(tsUs)
    val day = floor(us / 86400000000L)
    val rem = us - day * 86400000000L
    val h = floor(rem / 3600000000L)
    val m = floor(pmod(rem, lit(3600000000L)) / 60000000L)
    val s = floor(pmod(rem, lit(60000000L)) / 1000000L)
    def p2(c: Column) = lpad(c.cast("string"), 2, "0")
    concat(
      lit("data: {\"time\":\""),
      date_format(date_add(to_date(lit("1970-01-01")), day.cast("int")), "yyyy-MM-dd"),
      lit("T"), p2(h), lit(":"), p2(m), lit(":"), p2(s),
      lit("."), lpad(pmod(us, lit(1000000L)).cast("string"), 6, "0"), lit("Z"),
      lit("\",\"detail\":"), detail, lit("}\n\n"))
  }

  /** The old column's day floor is exact for this µs. */
  private def doubleFloorExact(us: Long): Boolean =
    math.floor(us.toDouble / MicrosPerDay.toDouble).toLong == Math.floorDiv(us, MicrosPerDay)

  /** The kernel's rendering rule, from `java.time`'s calendar fields. */
  private def javaTimeFrame(us: Long, detail: String): String = {
    val t = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    val y = t.getYear
    val year = (if (y < 0) "-" else "") + f"${math.abs(y)}%04d"
    f"""data: {"time":"$year-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT""" +
      f"""${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.""" +
      f"""${t.getNano / 1000}%06dZ","detail":$detail}""" + "\n\n"
  }

  private val Configs = for {
    mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")
    zone <- Seq("UTC", "America/Los_Angeles", "Asia/Kathmandu")
  } yield (mode, zone)

  private def session(mode: String, zone: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    // interpreted means no whole-stage codegen either; compiled means a
    // Janino failure fails the query instead of falling back
    s.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
    s.conf.set("spark.sql.codegen.fallback", (mode != "CODEGEN_ONLY").toString)
    s.conf.set("spark.sql.session.timeZone", zone)
    s
  }

  /** (kernel frame, concat frame) per input row, in input order; the
    * concat frame is null without `reference` (it overflows on the
    * `Long` extremes). The rows ride an RDD, not a local relation, so
    * the optimizer cannot fold the projection away from the evaluation
    * mode under test. */
  private def frames(s: SparkSession, rows: Seq[(java.lang.Long, String)],
                     reference: Boolean = true): Seq[(String, String)] = {
    val schema = StructType(Seq(StructField("i", IntegerType, nullable = false),
      StructField("us", LongType), StructField("detail", StringType)))
    val rdd = s.sparkContext.parallelize(
      rows.zipWithIndex.map { case ((us, d), i) => Row(i, us, d) }, 2)
    val ts = timestamp_micros(col("us"))
    s.createDataFrame(rdd, schema)
      .select(col("i"), EventLogOps.sseFrameCol(s, ts, col("detail")),
        if (reference) concatFrame(ts, col("detail")) else lit(null).cast("string"))
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
  }

  private def epochDay(y: Int, m: Int, d: Int): Long = LocalDate.of(y, m, d).toEpochDay

  private val genUs: Gen[Long] = {
    val loDay = epochDay(1000, 1, 1)
    val hiDay = epochDay(2200, 12, 31)
    val inDay = Gen.choose(0L, MicrosPerDay - 1)
    val leapYears = (1000 to 2200).filter(y => java.time.Year.isLeap(y.toLong))
    Gen.frequency(
      4 -> Gen.choose(loDay * MicrosPerDay, (hiDay + 1) * MicrosPerDay - 1),
      // first and last µs of a day, and their neighbours
      3 -> Gen.choose(loDay, hiDay).flatMap(d => Gen.oneOf(
        d * MicrosPerDay, d * MicrosPerDay + 1, d * MicrosPerDay - 1, d * MicrosPerDay - 2)),
      1 -> Gen.oneOf(leapYears).flatMap(y =>
        inDay.map(epochDay(y, 2, 29) * MicrosPerDay + _)),
      1 -> Gen.choose(1000, 2200).flatMap(y => Gen.oneOf(inDay, Gen.const(MicrosPerDay - 1))
        .map(epochDay(y, 12, 31) * MicrosPerDay + _)),
      1 -> Gen.oneOf(0L, -1L))
  }

  private val genDetail: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("", "{}", "\"", "{\"k\":\"a\\\"b\"}", "{\"name\":\"Zoë\"}",
      "{\"city\":\"東京\"}", "\"😀\"", "[1,2.5,null]"),
    3 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('"', '\\', ' ', 'é', 'ß', '字', '\n')))
      .map(_.mkString),
    1 -> Gen.asciiPrintableStr)

  private val genRow: Gen[(java.lang.Long, String)] = for {
    us <- Gen.frequency(12 -> genUs.map(java.lang.Long.valueOf), 1 -> Gen.const(null))
    d <- Gen.frequency(12 -> genDetail, 1 -> Gen.const(null))
  } yield (us, d)

  test("kernel equals the concat column wherever its day floor is exact, and java.time everywhere") {
    val sessions = Configs.map { case (mode, zone) => (s"$mode/$zone", session(mode, zone)) }
    val prop = Prop.forAll(Gen.listOfN(300, genRow)) { rows =>
      Prop.all(sessions.map { case (name, s) =>
        val got = frames(s, rows)
        val bad = rows.zip(got).collect {
          case ((us, d), (kernel, old))
              if (us == null || d == null) && (kernel != null || old != null) =>
            s"null input $us/$d gave $kernel / $old"
          case ((us, d), (kernel, old)) if us != null && d != null &&
              (kernel != javaTimeFrame(us, d) ||
                doubleFloorExact(us) && kernel != old) =>
            s"us=$us detail=$d: kernel ${kernel.trim} concat ${old.trim}"
        }
        bad.isEmpty :| s"$name: ${bad.take(3).mkString("; ")}"
      }: _*)
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(6).withWorkers(1).withInitialSeed(9L), prop)
    assert(res.passed, res.status.toString)
  }

  test("pinned: instants the double day floor misrenders, year 10000, and the Long extremes") {
    val lastUs2255 = (epochDay(2255, 6, 6) + 1) * MicrosPerDay - 1
    val lastUs1000 = (epochDay(1000, 3, 1) + 1) * MicrosPerDay - 1
    assert(lastUs2255 > (1L << 53) && lastUs1000 == -30605040000000001L)
    val cases = Seq[(Long, String, Option[String])](
      (0L, "1970-01-01T00:00:00.000000", None),
      (-1L, "1969-12-31T23:59:59.999999", None),
      (lastUs2255, "2255-06-06T23:59:59.999999", Some("2255-06-07T-1:59:59.999999")),
      (lastUs1000, "1000-03-01T23:59:59.999999", Some("1000-03-02T-1:59:59.999999")),
      (epochDay(10000, 1, 1) * MicrosPerDay, "10000-01-01T00:00:00.000000", None),
      (Long.MaxValue, "294247-01-10T04:00:54.775807", None),
      (Long.MinValue, "-290308-12-21T19:59:05.224192", None))
    def framed(instant: String) =
      "data: {\"time\":\"" + instant + "Z\",\"detail\":{}}\n\n"
    for ((mode, zone) <- Configs) {
      val s = session(mode, zone)
      val got = frames(s, cases.map(c => (java.lang.Long.valueOf(c._1), "{}")), reference = false)
      for (((us, want, _), (kernel, _)) <- cases.zip(got)) {
        assert(kernel == framed(want), s"$mode/$zone us=$us")
        assert(kernel == javaTimeFrame(us, "{}"), s"$mode/$zone us=$us")
      }
      val misrendered = cases.collect { case (us, _, Some(old)) => (us, old) }
      val olds = frames(s, misrendered.map(c => (java.lang.Long.valueOf(c._1), "{}")))
      for (((us, want), (_, old)) <- misrendered.zip(olds))
        assert(old == framed(want), s"$mode/$zone us=$us: concat $old")
    }
  }
}
