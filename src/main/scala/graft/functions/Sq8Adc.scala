package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** SQ8 asymmetric-distance cosine as a NATIVE Catalyst expression
  * (SURVEY §4.4 / C11): cosine(query, decode(codes)) in ONE fused
  * codegen'd loop — decode, dot, and both squared norms accumulate per
  * element with no materialized decoded array. The column formulation it
  * replaces (`transform`-decode into a `dv` column, then HOF
  * `aggregate`/`zip_with` dot and norms) runs INTERPRETED and iterates
  * the vector four times, allocating the decoded array per row — on the
  * ADC scan, the per-(query, vector) hot loop of the whole SQ8 path at
  * 100 TB.
  *
  * Arithmetic is BIT-IDENTICAL to the column form (the gate hashes are
  * load-bearing): dv_i = lo_i + (code_i · (hi_i − lo_i)) / 255.0 in that
  * exact operation order (the SQL replay the sim_*sq8* oracles use), all
  * three sums accumulate in element order (the HOF fold order), and the
  * result is dot / (√Σq² · √Σdv²) — one division, same association. The
  * frozen (lo, hi) bounds ride as flattened reference objects, the
  * [[IvfAssignExpr]] pattern.
  */
object Sq8AdcFn {

  /** Dimension agreement — a query/codes/bounds length mismatch means a
    * WRONG index or a wrong embedding model, never valid data. The
    * replaced HOF form (zip_with null-padding) surfaced it as a null
    * score; scoring the common prefix would return a plausible cosine
    * that silently masks the bug, so the expression nulls out too.
    */
  def dimsAgree(q: ArrayData, codes: ArrayData, lo: Array[Double]): Boolean =
    q.numElements() == codes.numElements() && q.numElements() == lo.length

  def compute(q: ArrayData, qFloat: Boolean, codes: ArrayData,
      lo: Array[Double], hi: Array[Double]): Double = {
    val n = q.numElements()
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val x = if (qFloat) q.getFloat(i).toDouble else q.getDouble(i)
      val l = lo(i)
      val h = hi(i)
      val dv = l + codes.getInt(i).toDouble * (h - l) / 255.0
      ab += x * dv
      aa += x * x
      bb += dv * dv
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }
}

/** `sq8_adc_cosine(qvec, codes)` under fitted (lo, hi) bounds — null iff
  * either side is null OR the dimensions disagree (see
  * [[Sq8AdcFn.dimsAgree]]); qvec FLOAT or DOUBLE array, codes INT array.
  */
case class Sq8AdcCosineExpr(left: Expression, right: Expression,
    lo: Array[Double], hi: Array[Double]) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "sq8_adc_cosine expects (array<float|double>, array<int>), got " +
          s"${l.catalogString} / ${r.catalogString}")
    }

  private def qFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_adc_cosine"
  override def foldable: Boolean = left.foldable && right.foldable
  override def nullable: Boolean = true

  override protected def nullSafeEval(q: Any, codes: Any): Any = {
    val qa = q.asInstanceOf[ArrayData]
    val ca = codes.asInstanceOf[ArrayData]
    if (!Sq8AdcFn.dimsAgree(qa, ca, lo)) null
    else Sq8AdcFn.compute(qa, qFloat, ca, lo, hi)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("sq8lo", lo, "double[]")
    val hiRef = ctx.addReferenceObj("sq8hi", hi, "double[]")
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"""
         |if (!graft.functions.Sq8AdcFn.dimsAgree($q, $c, $loRef)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.Sq8AdcFn.compute(
         |    $q, $qFloat, $c, $loRef, $hiRef);
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sq8AdcCosineExpr =
    copy(left = newLeft, right = newRight)
}
