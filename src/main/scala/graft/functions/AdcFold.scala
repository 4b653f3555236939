package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The ADC scoring fold — Σ_s tarr[s·kc + codes[s]] — as a native
  * codegen'd Catalyst expression: the hot path of every PQ-family
  * search ([[graft.operators.Similarity]] ivfPqSearch, broadcast or
  * bulk, scores ONE of these per (query, candidate) pair, so a bulk
  * kNN-graph build evaluates it hundreds of millions of times).
  *
  * The composable alternative — aggregate(zip_with(codes,
  * sequence(0, m−1), (c, s) ⇒ element_at(tarr, s·kc+c+1)), 0d, +) —
  * is interpreted (HOFs have no doGenCode) and allocates a zipped
  * intermediate array plus boxed lambda frames per pair; this kernel
  * is m array reads and adds inside whole-stage codegen (the
  * [[DotProduct]]/[[NearestCode]] discipline). Summation is
  * left-to-right from 0.0 — bit-identical to the HOF it replaces, so
  * every oracle hash is unchanged (re-gated at sf0.01 on swap-in).
  *
  * NULL semantics match the HOF on every reachable input: a null code
  * or a null table entry nulls the whole sum. On the UNREACHABLE
  * out-of-bounds slot (an assigned code always has a table slot — the
  * dense ADC table contract) the kernel NULLs where the HOF under Spark 4
  * ANSI eval threw and failed the query — the strictly safer edge,
  * pinned in AdcFoldSpec. The
  * HOF additionally read `m` as a literal; since r18 the kernel does
  * too — `m` is a constructor param and [[AdcFold.isInvalid]] NULLs
  * any row whose codes array is not exactly m long, restoring the
  * HOF's null-on-length-mismatch behavior on corrupted artifacts
  * (zip_with against sequence(0, m−1) padded/truncated to m, so a
  * short codes row nulled the sum rather than summing a plausible
  * partial) — AdcFoldSpec pins the differential on randomized inputs.
  */
case class AdcFold(left: Expression, right: Expression, m: Int, kc: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_fold requires (array<int> codes, array<double> tarr), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_fold"

  override protected def nullSafeEval(c: Any, t: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]
    val tarr = t.asInstanceOf[ArrayData]
    if (AdcFold.isInvalid(codes, tarr, m, kc)) null
    else AdcFold.compute(codes, tarr, kc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => s"""
      |if (graft.functions.AdcFold.isInvalid($c, $t, $m, $kc)) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = graft.functions.AdcFold.compute($c, $t, $kc);
      |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcFold =
    copy(left = newLeft, right = newRight)
}

object AdcFold {
  /** Null code / null table slot / out-of-bounds slot / codes array
    * not exactly m long ⇒ the HOF's element_at-NULL (or zip_with pad)
    * propagates through the sum; mirror it exactly. */
  def isInvalid(codes: ArrayData, tarr: ArrayData, m: Int,
      kc: Int): Boolean = {
    if (codes.numElements() != m) return true
    val n = tarr.numElements()
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return true
      val slot = s * kc + codes.getInt(s)
      if (slot < 0 || slot >= n || tarr.isNullAt(slot)) return true
      s += 1
    }
    false
  }

  /** Shared by interpreted eval and generated code. Left-to-right sum
    * from 0.0 — bit-identical to the aggregate() fold. */
  def compute(codes: ArrayData, tarr: ArrayData, kc: Int): Double = {
    val m = codes.numElements()
    var sum = 0.0
    var s = 0
    while (s < m) {
      sum += tarr.getDouble(s * kc + codes.getInt(s))
      s += 1
    }
    sum
  }

  def column(codes: Column, tarr: Column, m: Int, kc: Int): Column =
    org.apache.spark.sql.graft.Shims.column(
      AdcFold(org.apache.spark.sql.graft.Shims.expression(codes),
        org.apache.spark.sql.graft.Shims.expression(tarr), m, kc))
}
