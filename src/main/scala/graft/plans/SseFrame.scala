package graft.plans

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for [[SseFrame]]: one SSE frame
  * `data: {"time":"<instant>","detail":<detail>}\n\n` (service.go:271)
  * written into one byte array in a single pass.
  *
  * The instant is µs since the epoch rendered in UTC as
  * `YYYY-MM-DDTHH:MM:SS.ffffffZ`, by exact integer arithmetic:
  * `floorDiv`/`floorMod` split day and time of day, and the proleptic
  * Gregorian date comes from the day number by the civil-from-days
  * algorithm (H. Hinnant, "chrono-Compatible Low-Level Date
  * Algorithms"). No zone, calendar object or formatter is consulted,
  * so the frame is the same in every session time zone, and every µs
  * of the `Long` range renders exactly, the last µs of a day included.
  *
  * Years 0000–9999 are four digits. A later year is written with all
  * its digits (`10000-01-01T00:00:00.000000Z`), an earlier one as `-`
  * and at least four digits of its magnitude (year 0 is 1 BCE). */
object SseFrameOps {
  private val MicrosPerDay = 86400000000L
  private val Head = "data: {\"time\":\"".getBytes(US_ASCII)
  private val Mid = "Z\",\"detail\":".getBytes(US_ASCII)
  private val Tail = "}\n\n".getBytes(US_ASCII)
  // "-MM-DDTHH:MM:SS.ffffff" after the year
  private val TimeLen = 22
  private val Fixed = Head.length + TimeLen + Mid.length + Tail.length

  /** The frame of instant `us` (µs since the epoch) around `detail`. */
  def frame(us: Long, detail: UTF8String): UTF8String = {
    val days = Math.floorDiv(us, MicrosPerDay)
    val usOfDay = Math.floorMod(us, MicrosPerDay)
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097L
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val dom = (doy - (153 * mp + 2) / 5 + 1).toInt
    val month = (if (mp < 10) mp + 3 else mp - 9).toInt
    val year = yoe + era * 400 + (if (month <= 2) 1 else 0)
    val mag = math.abs(year)
    var digits = 4
    var bound = 10000L
    while (mag >= bound) { digits += 1; bound *= 10 }
    val yearLen = digits + (if (year < 0) 1 else 0)

    val n = detail.numBytes()
    val out = new Array[Byte](Fixed + yearLen + n)
    System.arraycopy(Head, 0, out, 0, Head.length)
    var p = Head.length
    if (year < 0) { out(p) = '-'; p += 1 }
    put(out, p, mag, digits); p += digits
    out(p) = '-'; put(out, p + 1, month, 2)
    out(p + 3) = '-'; put(out, p + 4, dom, 2)
    out(p + 6) = 'T'
    val secOfDay = usOfDay / 1000000L
    put(out, p + 7, secOfDay / 3600, 2)
    out(p + 9) = ':'; put(out, p + 10, secOfDay / 60 % 60, 2)
    out(p + 12) = ':'; put(out, p + 13, secOfDay % 60, 2)
    out(p + 15) = '.'; put(out, p + 16, usOfDay % 1000000L, 6)
    p += TimeLen
    System.arraycopy(Mid, 0, out, p, Mid.length); p += Mid.length
    detail.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + p); p += n
    System.arraycopy(Tail, 0, out, p, Tail.length)
    UTF8String.fromBytes(out)
  }

  /** `v` (non-negative) as exactly `width` zero-padded digits at `at`. */
  private def put(out: Array[Byte], at: Int, v: Long, width: Int): Unit = {
    var x = v; var i = at + width - 1
    while (i >= at) { out(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
  }
}

/** `graft_sse_frame(ts, detail)` → string: the SSE frame of a
  * timestamp and a JSON detail, as [[SseFrameOps.frame]] writes it.
  * Null when either input is null, as the `concat` it replaces was.
  * One node in the plan, evaluated inside WholeStageCodegen as a call
  * to the precompiled kernel (the [[CosineOps]] house style). */
case class SseFrame(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (TimestampType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sse_frame expects (timestamp, string), got $l / $r")
    }

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_sse_frame"

  override protected def nullSafeEval(ts: Any, detail: Any): Any =
    SseFrameOps.frame(ts.asInstanceOf[Long], detail.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, d) => s"graft.plans.SseFrameOps$$.MODULE$$.frame($t, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SseFrame =
    copy(left = newLeft, right = newRight)
}
