package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Static kernel for [[CosineSimilarity]] — one precompiled fused
  * loop shared by interpreted eval and codegen. Codegen calls this
  * via `defineCodeGen` (the PqCodec house style) instead of emitting
  * an inline loop: an inline snippet with fixed local names fails
  * Janino compilation when the expression appears twice in one
  * codegen scope ("Redefinition of local variable i") and silently
  * drops the whole projection to interpreted mode — exactly the
  * trained-ANN assignment path this expression exists to accelerate.
  */
object CosineOps {
  /** Sequential double accumulation over min(|x|, |y|) elements;
    * `lf`/`rf` select float vs double element reads and are plan-time
    * constants, so the branch predicts perfectly. */
  def cosine(x: ArrayData, y: ArrayData, lf: Boolean, rf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Native codegen'd cosine similarity over array<float>/array<double>
  * columns — the hot-path replacement for the portable
  * zip_with/aggregate formulation in [[graft.functions.Vectors]]
  * (higher-order lambdas are interpreted per element; this stays
  * inside WholeStageCodegen as a call to the shared precompiled
  * [[CosineOps.cosine]] kernel — a static method the JIT inlines,
  * chosen over emitting the loop inline because an inline loop's
  * fixed local names collide when the expression appears twice in one
  * codegen scope, Janino rejects the class, and Spark silently falls
  * back to interpreted eval).
  *
  * Accumulation order per sum is identical to the portable version
  * (sequential over elements), so results are bit-identical and the
  * DuckDB oracle comparison is unaffected.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  private def okType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left.dataType) && okType(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects array<float|double>, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemType(left) == FloatType, elemType(right) == FloatType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.CosineOps$$.MODULE$$.cosine($a, $b, $lf, $rf)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  private val cosineDesc = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, null, "graft_cosine"),
    (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)): Expression)

  /** Foldable-non-null-int extraction for parameters that select
    * precompiled state (hyperplane matrices, hash-family width) —
    * never per-row data. */
  private def litInt(e: Expression, what: String): Int = e match {
    case x if x.foldable => x.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a non-null integer literal, got $other")
    }
    case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
  }

  private val srpDesc = (
    FunctionIdentifier("graft_srp_sketch"),
    new ExpressionInfo(classOf[SrpSketch].getName, null, "graft_srp_sketch"),
    (children: Seq[Expression]) =>
      SrpSketch(children(0), litInt(children(1), "graft_srp_sketch family")): Expression)

  private val minhashDesc = (
    FunctionIdentifier("graft_minhash"),
    new ExpressionInfo(classOf[MinhashSig].getName, null, "graft_minhash"),
    (children: Seq[Expression]) =>
      MinhashSig(children(0), litInt(children(1), "graft_minhash H")): Expression)

  private val simhashDesc = (
    FunctionIdentifier("graft_simhash"),
    new ExpressionInfo(classOf[SimhashSig].getName, null, "graft_simhash"),
    (children: Seq[Expression]) => SimhashSig(children(0)): Expression)

  /** Foldable float-array extraction: precomputed model state
    * (codebooks) arrives as an array literal and is unpacked ONCE at
    * resolution, never per row. */
  private def litFloatArray(e: Expression, what: String): IndexedSeq[Float] =
    e match {
      case x if x.foldable => x.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          x.dataType match {
            case ArrayType(FloatType, _) => FrozenSeq(a.toFloatArray().toIndexedSeq)
            case ArrayType(DoubleType, _) =>
              FrozenSeq(a.toDoubleArray().map(_.toFloat).toIndexedSeq)
            case dt => throw new IllegalArgumentException(
              s"$what must be array<float|double>, got $dt")
          }
        case other => throw new IllegalArgumentException(
          s"$what must be a non-null array literal, got $other")
      }
      case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
    }

  private val pqEncodeDesc = (
    FunctionIdentifier("graft_pq_encode"),
    new ExpressionInfo(classOf[PqEncode].getName, null, "graft_pq_encode"),
    (children: Seq[Expression]) => PqEncode(
      children(0),
      litFloatArray(children(1), "graft_pq_encode codebook"),
      litInt(children(2), "graft_pq_encode m"),
      litInt(children(3), "graft_pq_encode k"),
      litInt(children(4), "graft_pq_encode d")): Expression)

  /** Foldable-non-null-boolean extraction (mode flags, never per-row
    * data). */
  private def litBool(e: Expression, what: String): Boolean = e match {
    case x if x.foldable => x.eval() match {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a non-null boolean literal, got $other")
    }
    case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
  }

  private val shinglesDesc = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[Shingles].getName, null, "graft_shingles"),
    (children: Seq[Expression]) => Shingles(
      children(0),
      litInt(children(1), "graft_shingles n"),
      litBool(children(2), "graft_shingles distinct")): Expression)

  private val gramStatsDesc = (
    FunctionIdentifier("graft_gram_stats"),
    new ExpressionInfo(classOf[GramStats].getName, null, "graft_gram_stats"),
    (children: Seq[Expression]) => GramStats(
      children(0), litInt(children(1), "graft_gram_stats n")): Expression)

  /** Foldable-non-null-string extraction (salts, never per-row data). */
  private def litString(e: Expression, what: String): String = e match {
    case x if x.foldable => x.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a non-null string literal, got $other")
    }
    case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
  }

  private val gramBucketsDesc = (
    FunctionIdentifier("graft_gram_buckets"),
    new ExpressionInfo(classOf[GramBuckets].getName, null, "graft_gram_buckets"),
    (children: Seq[Expression]) => GramBuckets(
      children(0),
      litString(children(1), "graft_gram_buckets salt"),
      litInt(children(2), "graft_gram_buckets dim")): Expression)

  /** Foldable-binary extraction: serialized sketch state (bloom
    * filters) arrives as a binary literal and is unpacked once at
    * resolution, never per row. */
  private def litBinary(e: Expression, what: String): BloomBytes = e match {
    case x if x.foldable => x.eval() match {
      case b: Array[Byte] => new BloomBytes(b)
      case other => throw new IllegalArgumentException(
        s"$what must be a non-null binary literal, got $other")
    }
    case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
  }

  private val mightContainDesc = (
    FunctionIdentifier("graft_might_contain"),
    new ExpressionInfo(classOf[BloomMightContain].getName, null, "graft_might_contain"),
    (children: Seq[Expression]) => BloomMightContain(
      children(0), litBinary(children(1), "graft_might_contain bloom")): Expression)

  /** Foldable string-array extraction (frozen vocabularies). */
  private def litStringArray(e: Expression, what: String): IndexedSeq[String] =
    e match {
      case x if x.foldable => x.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          FrozenSeq((0 until a.numElements()).map(i => a.getUTF8String(i).toString))
        case other => throw new IllegalArgumentException(
          s"$what must be a non-null array literal, got $other")
      }
      case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
    }

  /** Foldable long-array extraction (frozen count tables). */
  private def litLongArray(e: Expression, what: String): IndexedSeq[Long] =
    e match {
      case x if x.foldable => x.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          FrozenSeq(a.toLongArray().toIndexedSeq)
        case other => throw new IllegalArgumentException(
          s"$what must be a non-null array literal, got $other")
      }
      case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
    }

  private val bpeCountDesc = (
    FunctionIdentifier("graft_bpe_count"),
    new ExpressionInfo(classOf[BpeCount].getName, null, "graft_bpe_count"),
    (children: Seq[Expression]) => BpeCount(
      children(0),
      litStringArray(children(1), "graft_bpe_count words"),
      litLongArray(children(2), "graft_bpe_count counts")): Expression)

  private val bpeEncodeDesc = (
    FunctionIdentifier("graft_bpe_encode"),
    new ExpressionInfo(classOf[BpeEncode].getName, null, "graft_bpe_encode"),
    (children: Seq[Expression]) => BpeEncode(
      children(0),
      litStringArray(children(1), "graft_bpe_encode words"),
      litLongArray(children(2), "graft_bpe_encode offsets"),
      litLongArray(children(3), "graft_bpe_encode ids"),
      litStringArray(children(4), "graft_bpe_encode pieces")): Expression)

  private val sortedExceptDesc = (
    FunctionIdentifier("graft_sorted_except"),
    new ExpressionInfo(classOf[SortedExcept].getName, null, "graft_sorted_except"),
    (children: Seq[Expression]) =>
      SortedExcept(children(0), children(1)): Expression)

  /** Foldable double-array extraction (frozen log-probability
    * tables). */
  private def litDoubleArray(e: Expression, what: String): IndexedSeq[Double] =
    e match {
      case x if x.foldable => x.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          FrozenSeq(a.toDoubleArray().toIndexedSeq)
        case other => throw new IllegalArgumentException(
          s"$what must be a non-null array literal, got $other")
      }
      case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
    }

  private val charGramsDesc = (
    FunctionIdentifier("graft_char_grams"),
    new ExpressionInfo(classOf[CharGrams].getName, null, "graft_char_grams"),
    (children: Seq[Expression]) => CharGrams(
      children(0), litInt(children(1), "graft_char_grams n")): Expression)

  /** Foldable int-array extraction (frozen centroid-id tables). */
  private def litIntArray(e: Expression, what: String): IndexedSeq[Int] =
    e match {
      case x if x.foldable => x.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          FrozenSeq(a.toIntArray().toIndexedSeq)
        case other => throw new IllegalArgumentException(
          s"$what must be a non-null array literal, got $other")
      }
      case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
    }

  private val centBestDesc = (
    FunctionIdentifier("graft_cent_best"),
    new ExpressionInfo(classOf[CentBest].getName, null, "graft_cent_best"),
    (children: Seq[Expression]) => {
      val cids = litIntArray(children(2), "graft_cent_best cids")
      val (starts, probed) =
        if (children.length == 3)
          (FrozenSeq(IndexedSeq(0, cids.length)), Literal(CentOps.OneBucket,
            ArrayType(IntegerType, containsNull = false)))
        else (litIntArray(children(3), "graft_cent_best starts"), children(4))
      CentBest(children(0), probed,
        litDoubleArray(children(1), "graft_cent_best centroids"), cids,
        starts): Expression
    })

  private val centTopNDesc = (
    FunctionIdentifier("graft_cent_topn"),
    new ExpressionInfo(classOf[CentTopN].getName, null, "graft_cent_topn"),
    (children: Seq[Expression]) => CentTopN(
      children(0),
      litDoubleArray(children(1), "graft_cent_topn centroids"),
      litIntArray(children(2), "graft_cent_topn cids"),
      litInt(children(3), "graft_cent_topn n")): Expression)

  private val lutSumDesc = (
    FunctionIdentifier("graft_lut_sum"),
    new ExpressionInfo(classOf[LutSum].getName, null, "graft_lut_sum"),
    (children: Seq[Expression]) => LutSum(
      children(0), children(1),
      litDoubleArray(children(2), "graft_lut_sum lut"),
      litInt(children(3), "graft_lut_sum k")): Expression)

  private val nbScoresDesc = (
    FunctionIdentifier("graft_nb_scores"),
    new ExpressionInfo(classOf[NbScores].getName, null, "graft_nb_scores"),
    (children: Seq[Expression]) => NbScores(
      children(0),
      litDoubleArray(children(1), "graft_nb_scores priors"),
      litDoubleArray(children(2), "graft_nb_scores probs")): Expression)

  private val bitPackDesc = (
    FunctionIdentifier("graft_bitpack"),
    new ExpressionInfo(classOf[BitPack].getName, null, "graft_bitpack"),
    (children: Seq[Expression]) => BitPack(children(0)): Expression)

  /** Foldable-non-null-double extraction (smoothing floors, never
    * per-row data). */
  private def litDouble(e: Expression, what: String): Double = e match {
    case x if x.foldable => x.eval() match {
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a non-null double literal, got $other")
    }
    case x => throw new IllegalArgumentException(s"$what must be a literal, got $x")
  }

  private val lmScoreDesc = (
    FunctionIdentifier("graft_lm_score"),
    new ExpressionInfo(classOf[LmScore].getName, null, "graft_lm_score"),
    (children: Seq[Expression]) => LmScore(
      children(0),
      litStringArray(children(1), "graft_lm_score vocab"),
      litDoubleArray(children(2), "graft_lm_score logps"),
      litDouble(children(3), "graft_lm_score floor")): Expression)

  private val winnowFpDesc = (
    FunctionIdentifier("graft_winnow_fp"),
    new ExpressionInfo(classOf[WinnowFp].getName, null, "graft_winnow_fp"),
    (children: Seq[Expression]) => WinnowFp(
      children(0),
      litInt(children(1), "graft_winnow_fp k"),
      litInt(children(2), "graft_winnow_fp w")): Expression)

  private val minIdsDesc = (
    FunctionIdentifier("graft_min_ids"),
    new ExpressionInfo(classOf[MinIds].getName, null, "graft_min_ids"),
    (children: Seq[Expression]) => MinIds(
      children(0), litInt(children(1), "graft_min_ids cap")): Expression)

  private val sseFrameDesc = (
    FunctionIdentifier("graft_sse_frame"),
    new ExpressionInfo(classOf[SseFrame].getName, null, "graft_sse_frame"),
    (children: Seq[Expression]) => SseFrame(children(0), children(1)): Expression)

  private val all = Seq(cosineDesc, srpDesc, minhashDesc, simhashDesc,
    pqEncodeDesc, shinglesDesc, gramStatsDesc, gramBucketsDesc,
    mightContainDesc, sortedExceptDesc, bpeCountDesc, bpeEncodeDesc,
    bitPackDesc, nbScoresDesc, winnowFpDesc, lmScoreDesc, minIdsDesc,
    lutSumDesc, charGramsDesc, centBestDesc, centTopNDesc, sseFrameDesc)

  /** Idempotent per-session registration (for sessions built without
    * the extensions config). */
  def register(spark: SparkSession): Unit =
    all.foreach { d =>
      spark.sessionState.functionRegistry.registerFunction(d._1, d._2, d._3)
    }

  private[plans] def inject(ext: SparkSessionExtensions): Unit =
    all.foreach(ext.injectFunction)
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` injects the
  * native functions at session build time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.inject(ext)
}
