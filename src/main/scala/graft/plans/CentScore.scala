package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Fused centroid-scoring kernels: the one centroid assignment and
  * the probe router. Every centroid argmax runs [[CentOps.best]]:
  * `graft.operators.SemanticDedup.assignTo` at every k, batch and
  * streaming (the trainer's Lloyd's rounds, dedup, ANN search,
  * prototypicality pruning, the cluster-capped sample), the IVF
  * probe's fine scoring over its probed buckets and its fine→coarse
  * routing on the driver. The DuckDB oracles restate the same rule in
  * SQL (`row_number() OVER (ORDER BY round(cos, 9) DESC, cid)`).
  *
  * The previous shape built the centroid table INTO the expression
  * tree — `array(struct(lit(cid), array(lit(d₀)…lit(d₆₃))))`, k·d
  * literal NODES (4,096 at the sf0.1 autoK) — then `transform` +
  * `array_sort` per row. Two measured costs: per-QUERY, every
  * analysis/optimizer/canonicalization walk visits k·d+2k nodes (the
  * driver "gap" grew 2-7 s on queries whose trainer runs 3 such
  * plans); per-ROW, the lambda-driven transform allocates k structs
  * and sorts them just to read the head. Here the matrix rides the
  * expression as TWO FrozenSeq reference fields (O(1) plan hashing,
  * zero tree nodes — the LutSum/PqEncode device) and the argmax/top-n
  * is one precompiled static loop.
  *
  * The assignment rule — defined here and nowhere else:
  *  - cosine: sequential double accumulation over min(|e|, d)
  *    elements, float inputs upcast per element — the CosineOps loop
  *    verbatim, 0/0 → NaN;
  *  - ns = −round(cos, 9) with Spark Round semantics (BigDecimal
  *    HALF_UP; NaN/Inf pass through), NaN mapped to the +2.0 sentinel
  *    ("NaN loses", decoding to cent_sim −2.0);
  *  - order: (ns asc, cid asc). ns is never NaN (sentinel) and never
  *    +0.0 (−round9 yields −0.0, BigDecimal never −0.0), so plain
  *    double comparison equals Spark's nan-safe struct ordering on
  *    this domain.
  *
  * Near-tie rule ([[CentOps.best]]): rounding is monotone, so a raw
  * cosine more than `CentOps.NearTie` below the row's maximum rounds
  * strictly below the winner (HALF_UP moves a value by at most
  * 0.5·10⁻⁹). `best` therefore rounds only the NaN and near-maximum
  * cosines — every output bit is the all-rounded loop's, at one
  * BigDecimal per near tie instead of one per centroid.
  */
object CentOps {

  /** Spark `round(v, 9)` for doubles: NaN/Inf pass through, else
    * BigDecimal HALF_UP — the same routine the trainer's driver-side
    * seeding uses. */
  def round9(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else BigDecimal(v).setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Raw-cosine window below a row's maximum inside which [[best]]
    * rounds: twice the largest HALF_UP move, so everything outside it
    * rounds strictly below the maximum's rounded value. */
  private val NearTie = 2e-9

  /** Raw cosine of centroid j (flat slice [j·d, (j+1)·d)) against `e`. */
  private def cosOf(e: ArrayData, ef: Boolean, flat: Array[Double],
                    base: Int, d: Int): Double = {
    val n = math.min(e.numElements(), d)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = if (ef) e.getFloat(i).toDouble else e.getDouble(i)
      val yv = flat(base + i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** ns score of a raw cosine: −round9, NaN → the +2.0 sentinel. */
  private def nsOfCos(c: Double): Double = {
    val c9 = round9(c)
    if (java.lang.Double.isNaN(c9)) 2.0 else -c9
  }

  /** The exact assignment's probe: bucket 0, whose rows (starts
    * `[0, k]`) are the whole matrix. */
  val OneBucket: ArrayData = UnsafeArrayData.fromPrimitiveArray(Array(0))

  /** Winner under (ns asc, cid asc) → struct(ns, cid), over the
    * candidate rows: matrix rows [starts(g), starts(g + 1)) of every
    * bucket g in `probed` (the exact assignment is starts `[0, k]` with
    * [[OneBucket]]; the IVF probe passes a gid-sorted matrix and the
    * router's buckets, populated ones only, so there is always a
    * candidate). A bucket probed twice scores its rows twice, which
    * cannot change the winner. Raw cosines first; only NaN and
    * near-maximum ones (`NearTie`) are rounded and compared — the rest
    * cannot tie or beat the winner. */
  def best(e: ArrayData, ef: Boolean, flat: Array[Double], cids: Array[Int],
           starts: Array[Int], probed: ArrayData): InternalRow = {
    val d = flat.length / cids.length
    val np = probed.numElements()
    var m = 0
    var p = 0
    while (p < np) {
      val g = probed.getInt(p)
      m += starts(g + 1) - starts(g)
      p += 1
    }
    val raw = new Array[Double](m)
    var maxRaw = Double.NegativeInfinity
    var r = 0
    p = 0
    while (p < np) {
      val g = probed.getInt(p)
      var j = starts(g)
      while (j < starts(g + 1)) {
        val c = cosOf(e, ef, flat, j * d, d)
        raw(r) = c
        if (c > maxRaw) maxRaw = c
        r += 1; j += 1
      }
      p += 1
    }
    val floor = maxRaw - NearTie
    var bestNs = 0.0; var bestCid = 0; var found = false
    r = 0
    p = 0
    while (p < np) {
      val g = probed.getInt(p)
      var j = starts(g)
      while (j < starts(g + 1)) {
        val c = raw(r)
        if (java.lang.Double.isNaN(c) || c >= floor) {
          val ns = nsOfCos(c)
          val cid = cids(j)
          if (!found || ns < bestNs || (ns == bestNs && cid < bestCid)) {
            bestNs = ns; bestCid = cid; found = true
          }
        }
        r += 1; j += 1
      }
      p += 1
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
      val ns = nsOfCos(cosOf(e, ef, flat, j * d, d))
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
sealed trait CentKernel extends Expression {
  def embedding: Expression
  def flat: IndexedSeq[Double]
  def cids: IndexedSeq[Int]
  protected def checkMatrix(): TypeCheckResult = embedding.dataType match {
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
    embedding.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient protected lazy val flatArr: Array[Double] = flat.toArray
  @transient protected lazy val cidArr: Array[Int] = cids.toArray
}

/** `graft_cent_best(embedding, flat_lit, cids_lit[, starts_lit,
  * probed])` → struct(ns double, cid int): the centroid assignment
  * argmax ([[CentOps.best]]). `left` is the embedding, `right` the
  * probed buckets of the matrix split at `starts`; the three-argument
  * form is the exact assignment, one bucket holding every row. */
case class CentBest(left: Expression, right: Expression,
                    flat: IndexedSeq[Double], cids: IndexedSeq[Int],
                    starts: IndexedSeq[Int])
    extends BinaryExpression with CentKernel {
  override def embedding: Expression = left
  override def checkInputDataTypes(): TypeCheckResult = checkMatrix() match {
    case ok if ok.isSuccess => right.dataType match {
      case ArrayType(IntegerType, _) if starts.nonEmpty && starts.head == 0 &&
          starts.last == cids.length &&
          starts.indices.tail.forall(i => starts(i - 1) <= starts(i)) =>
        TypeCheckResult.TypeCheckSuccess
      case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName bucket starts must rise from 0 to the cid count")
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<int> probed buckets, got $dt")
    }
    case failed => failed
  }
  override def dataType: DataType = StructType(Seq(
    StructField("ns", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))
  override def prettyName: String = "graft_cent_best"
  @transient private lazy val startArr: Array[Int] = starts.toArray
  override protected def nullSafeEval(e: Any, probed: Any): Any =
    CentOps.best(e.asInstanceOf[ArrayData], elemFloat, flatArr, cidArr,
      startArr, probed.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("centFlat", flatArr, "double[]")
    val cRef = ctx.addReferenceObj("centCids", cidArr, "int[]")
    val sRef = ctx.addReferenceObj("centStarts", startArr, "int[]")
    defineCodeGen(ctx, ev, (e, p) =>
      s"graft.plans.CentOps$$.MODULE$$.best($e, $elemFloat, $fRef, $cRef, $sRef, $p)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentBest =
    copy(left = newLeft, right = newRight)
}

/** `graft_cent_topn(embedding, flat_lit, cids_lit, n)` → array<int>
  * of the top-n cids: the probe router. */
case class CentTopN(child: Expression,
                    flat: IndexedSeq[Double], cids: IndexedSeq[Int], n: Int)
    extends UnaryExpression with CentKernel {
  override def embedding: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = checkMatrix()
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
  override protected def withNewChildInternal(newChild: Expression): CentTopN =
    copy(child = newChild)
}
