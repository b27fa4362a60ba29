package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Fused centroid-scoring kernels behind SemanticDedup's literal
  * assignment route (round-22 optimization).
  *
  * The previous shape built the centroid table INTO the expression
  * tree — `array(struct(lit(cid), array(lit(d₀)…lit(d₆₃))))`, k·d
  * literal NODES (4,096 at the sf0.1 autoK, 32k at the 512 cap) —
  * then `transform` + `array_sort` per row. Two measured costs:
  * per-QUERY, every analysis/optimizer/canonicalization walk visits
  * k·d+2k nodes (the driver "gap" grew 2-7 s on queries whose trainer
  * runs 3 such plans); per-ROW, the lambda-driven transform allocates
  * k structs and sorts them just to read the head. Here the matrix
  * rides the expression as TWO FrozenSeq reference fields (O(1) plan
  * hashing, zero tree nodes — the LutSum/PqEncode device) and the
  * argmax/top-n is one precompiled static loop.
  *
  * Bit-compatibility with the expression chain it replaces (and with
  * [[graft.operators.SemanticDedup.assignToAgg]]'s argmaxRank rule —
  * PackingSpec gates it):
  *  - cosine: sequential double accumulation over min(|e|, d)
  *    elements, float inputs upcast per element — the CosineOps loop
  *    verbatim, 0/0 → NaN;
  *  - ns = −round(cos, 9) with Spark Round semantics (BigDecimal
  *    HALF_UP; NaN/Inf pass through), NaN mapped to the +2.0 sentinel
  *    ("NaN loses", decoding to cent_sim −2.0 like the agg route);
  *  - order: (ns asc, cid asc). ns is never NaN (sentinel) and never
  *    +0.0 (−round9 yields −0.0, BigDecimal never −0.0), so plain
  *    double comparison equals Spark's nan-safe struct ordering on
  *    this domain.
  */
object CentOps {

  /** Spark `round(v, 9)` for doubles: NaN/Inf pass through, else
    * BigDecimal HALF_UP — the same routine the trainer's driver-side
    * seeding uses. */
  def round9(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else BigDecimal(v).setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** ns score of centroid j (flat slice [j·d, (j+1)·d)) against `e`. */
  private def nsOf(e: ArrayData, ef: Boolean, flat: Array[Double],
                   base: Int, d: Int): Double = {
    val n = math.min(e.numElements(), d)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = if (ef) e.getFloat(i).toDouble else e.getDouble(i)
      val yv = flat(base + i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val c9 = round9(dot / (math.sqrt(na) * math.sqrt(nb)))
    if (java.lang.Double.isNaN(c9)) 2.0 else -c9
  }

  /** Winner under (ns asc, cid asc) → struct(ns, cid). */
  def best(e: ArrayData, ef: Boolean, flat: Array[Double],
           cids: Array[Int]): InternalRow = {
    val k = cids.length
    val d = flat.length / k
    var bestNs = 0.0; var bestCid = 0; var j = 0
    while (j < k) {
      val ns = nsOf(e, ef, flat, j * d, d)
      val cid = cids(j)
      if (j == 0 || ns < bestNs || (ns == bestNs && cid < bestCid)) {
        bestNs = ns; bestCid = cid
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestNs, bestCid))
  }

  /** First min(n, k) cids under (ns asc, cid asc) — the
    * `slice(array_sort(...), 1, n).cid` contract, so n ≤ 0 is empty.
    * Bounded insertion (n is a probe width, small by construction). */
  def topn(e: ArrayData, ef: Boolean, flat: Array[Double],
           cids: Array[Int], n: Int): ArrayData = {
    if (n <= 0) return new GenericArrayData(Array.emptyIntArray)
    val k = cids.length
    val d = flat.length / k
    val m = math.min(n, k)
    val selNs = new Array[Double](m)
    val selCid = new Array[Int](m)
    var filled = 0
    var j = 0
    while (j < k) {
      val ns = nsOf(e, ef, flat, j * d, d)
      val cid = cids(j)
      if (filled < m || ns < selNs(filled - 1) ||
          (ns == selNs(filled - 1) && cid < selCid(filled - 1))) {
        var pos = if (filled < m) filled else m - 1
        while (pos > 0 && (ns < selNs(pos - 1) ||
            (ns == selNs(pos - 1) && cid < selCid(pos - 1)))) {
          selNs(pos) = selNs(pos - 1); selCid(pos) = selCid(pos - 1)
          pos -= 1
        }
        selNs(pos) = ns; selCid(pos) = cid
        if (filled < m) filled += 1
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(selCid, filled))
  }
}

/** Shared plumbing for the two centroid-matrix kernels. */
sealed trait CentKernel extends UnaryExpression {
  def flat: IndexedSeq[Double]
  def cids: IndexedSeq[Int]
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
      if cids.nonEmpty && flat.length % cids.length == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName centroid matrix (${flat.length}) not a multiple of " +
          s"cid count (${cids.length}), or empty")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got $dt")
  }
  protected def elemFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient protected lazy val flatArr: Array[Double] = flat.toArray
  @transient protected lazy val cidArr: Array[Int] = cids.toArray
}

/** `graft_cent_best(embedding, flat_lit, cids_lit)` →
  * struct(ns double, cid int): the literal-route argmax. */
case class CentBest(child: org.apache.spark.sql.catalyst.expressions.Expression,
                    flat: IndexedSeq[Double], cids: IndexedSeq[Int])
    extends CentKernel {
  override def dataType: DataType = StructType(Seq(
    StructField("ns", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))
  override def prettyName: String = "graft_cent_best"
  override protected def nullSafeEval(input: Any): Any =
    CentOps.best(input.asInstanceOf[ArrayData], elemFloat, flatArr, cidArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("centFlat", flatArr, "double[]")
    val cRef = ctx.addReferenceObj("centCids", cidArr, "int[]")
    defineCodeGen(ctx, ev, e =>
      s"graft.plans.CentOps$$.MODULE$$.best($e, $elemFloat, $fRef, $cRef)")
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): CentBest =
    copy(child = newChild)
}

/** `graft_cent_topn(embedding, flat_lit, cids_lit, n)` → array<int>
  * of the top-n cids: the probe router. */
case class CentTopN(child: org.apache.spark.sql.catalyst.expressions.Expression,
                    flat: IndexedSeq[Double], cids: IndexedSeq[Int], n: Int)
    extends CentKernel {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_cent_topn"
  override protected def nullSafeEval(input: Any): Any =
    CentOps.topn(input.asInstanceOf[ArrayData], elemFloat, flatArr, cidArr, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("centFlat", flatArr, "double[]")
    val cRef = ctx.addReferenceObj("centCids", cidArr, "int[]")
    defineCodeGen(ctx, ev, e =>
      s"graft.plans.CentOps$$.MODULE$$.topn($e, $elemFloat, $fRef, $cRef, $n)")
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): CentTopN =
    copy(child = newChild)
}
