package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native codegen'd sign-bit packing of an embedding column — the
  * storage/score primitive of binary vector quantization (the 1-bit
  * rung below the int8 scalar quantization of D4 and the 8-byte PQ
  * codes of D5; cf. Charikar's SRP hyperplanes, which [[SrpSketch]]
  * implements — here the "hyperplanes" are the coordinate axes, the
  * standard sign(x) binarization production vector stores ship as
  * "binary quantization"): bit j of word w is set iff
  * `emb[32·w + j] > 0`. A 64-dim float vector (256 B) becomes two
  * 32-bit sign words packed in BIGINTs (16 B as longs, 8 B on disk as
  * two INTs) — and candidate scoring against a query is pure
  * xor+popcount integer work, exact in BOTH engines, so the whole
  * shortlist stage sits under the DuckDB hash gate with no float
  * rounding rule at all.
  *
  * Words hold 32 bits (never 64): bit 63 of a BIGINT is its sign bit,
  * and the SQL twin builds each word as an explicit Σ 2^j literal
  * chain — 32-bit words keep every partial sum comfortably positive
  * and portable. Short arrays fail fast (the `SrpSketch.checkDims`
  * rationale: DuckDB's out-of-range list index yields NULL and would
  * silently unset bits the native side sets); longer arrays read
  * exactly the first [[BitPack.Dims]] elements.
  */
case class BitPack(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_bitpack expects array<float|double>, got $dt")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_bitpack"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (isFloat) BitPack.packF(arr) else BitPack.packD(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "packF" else "packD"
    defineCodeGen(ctx, ev, c => s"graft.plans.BitPack$$.MODULE$$.$fn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BitPack =
    copy(child = newChild)
}

object BitPack {
  /** Embedding dimensionality the packing is defined over — must match
    * the SQL twin, which spells out exactly this many CASE terms
    * (the [[SrpSketch.Dims]] convention). */
  val Dims = 64
  /** Bits per packed word (32, not 64 — see class doc). */
  val WordBits = 32
  val Words: Int = (Dims + WordBits - 1) / WordBits

  private def checkDims(arr: ArrayData): Unit =
    if (arr.numElements() < Dims)
      throw new IllegalArgumentException(
        s"graft_bitpack needs >= $Dims elements, got ${arr.numElements()}")

  def packF(arr: ArrayData): ArrayData = {
    checkDims(arr)
    val out = new Array[Long](Words)
    var w = 0
    while (w < Words) {
      var word = 0L; var j = 0
      while (j < WordBits) {
        if (arr.getFloat(w * WordBits + j) > 0f) word |= (1L << j)
        j += 1
      }
      out(w) = word; w += 1
    }
    new GenericArrayData(out)
  }

  def packD(arr: ArrayData): ArrayData = {
    checkDims(arr)
    val out = new Array[Long](Words)
    var w = 0
    while (w < Words) {
      var word = 0L; var j = 0
      while (j < WordBits) {
        if (arr.getDouble(w * WordBits + j) > 0d) word |= (1L << j)
        j += 1
      }
      out(w) = word; w += 1
    }
    new GenericArrayData(out)
  }
}
