package graft.sfa.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, QuaternaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType}

/** Static-forwarder kernels for the per-series DFT expressions: the
  * generated code calls EXACTLY the Scala kernels
  * ([[graft.sfa.SFAOps.disjointKernelArr]] / [[graft.sfa.SFAOps.slidingKernelArr]] /
  * [[graft.sfa.Fourier.transformWindowing]]), so every value is
  * bit-identical to them; what the expressions remove is the per-row
  * serialization boundary — a ScalaUDF converts the full series into a
  * boxed `Seq[Double]` and the nested result array back through
  * CatalystTypeConverters on EVERY row of the hottest stage in the
  * engine. Here the input is one primitive-array copy, each window
  * computes only the `l` values it returns (one twiddle-table lookup per
  * series, see [[graft.sfa.Fourier.WindowDft]]), and each window's array
  * lands in an UnsafeArrayData wrapper directly.
  */
object DftKernels {
  private def toCatalyst(a: Array[Array[Double]]): ArrayData =
    new GenericArrayData(a.map(UnsafeArrayData.fromPrimitiveArray(_): AnyRef))

  def disjoint(data: ArrayData, w: Int, l: Int, normMean: Boolean,
      lowerBounding: Boolean, zNorm: Boolean): ArrayData =
    toCatalyst(graft.sfa.SFAOps.disjointKernelArr(
      data.toDoubleArray(), w, l, normMean, lowerBounding, zNorm))

  def sliding(data: ArrayData, w: Int, l: Int, normMean: Boolean): ArrayData =
    toCatalyst(graft.sfa.SFAOps.slidingKernelArr(data.toDoubleArray(), w, l, normMean))

  def mft(data: ArrayData, w: Int, l: Int, normMean: Boolean,
      lowerBounding: Boolean, applyZNorm: Boolean): ArrayData =
    toCatalyst(graft.sfa.Fourier.transformWindowing(
      data.toDoubleArray(), w, l, normMean, lowerBounding, applyZNorm))
}

/** Shared shape of the per-series DFT expressions:
  * `(data ARRAY<DOUBLE>, w INT, l INT, normMean BOOLEAN) → ARRAY<ARRAY<DOUBLE>>`,
  * one inner array of `l` values per window. The window length, the
  * value count and the norm are CHILDREN, so a grid that carries
  * `(norm, w)` as columns runs every configuration through one plan
  * node while the fixed-parameter paths pass literals; the transform
  * variant (lowerBounding, window z-norm) is a plan literal each caller
  * fixes. Nullable mirrors the ScalaUDFs these replaced. Structural
  * canonicalization makes two builds of the same plan compare equal, so
  * persisted stages are found again on re-run.
  */
sealed abstract class SeriesDftExpr extends QuaternaryExpression with ImplicitCastInputTypes {
  def data: Expression
  def w: Expression
  def l: Expression
  def normMean: Expression

  /** The [[DftKernels]] method and the plan-literal flags it takes after `normMean`. */
  protected def kernel: String
  protected def flags: Seq[Boolean]
  protected def run(d: ArrayData, w: Int, l: Int, normMean: Boolean): ArrayData

  override def first: Expression = data
  override def second: Expression = w
  override def third: Expression = l
  override def fourth: Expression = normMean
  override def dataType: DataType = ArrayType(ArrayType(DoubleType, containsNull = false))
  override def nullable: Boolean = true
  override def inputTypes = Seq(ArrayType(DoubleType), IntegerType, IntegerType, BooleanType)

  override def nullSafeEval(d: Any, wv: Any, lv: Any, nv: Any): Any =
    run(d.asInstanceOf[ArrayData], wv.asInstanceOf[Int], lv.asInstanceOf[Int], nv.asInstanceOf[Boolean])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, wv, lv, nv) =>
      s"${ev.value} = graft.sfa.expr.DftKernels.$kernel($d, $wv, $lv, $nv" +
        flags.map(f => s", $f").mkString + ");")
}

/** Disjoint-window DFT approximations (the quantizer-fit input), one
  * per complete window: each window z-normed first when `zNorm`, then
  * [[graft.sfa.Fourier.transformWindow]] with `lowerBounding`.
  */
case class DisjointDftExpr(
    data: Expression, w: Expression, l: Expression, normMean: Expression,
    lowerBounding: Boolean, zNorm: Boolean) extends SeriesDftExpr {
  override def prettyName: String = "sfa_disjoint_dft"
  protected def kernel = "disjoint"
  protected def flags = Seq(lowerBounding, zNorm)
  protected def run(d: ArrayData, wv: Int, lv: Int, nv: Boolean): ArrayData =
    DftKernels.disjoint(d, wv, lv, nv, lowerBounding, zNorm)

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): DisjointDftExpr =
    copy(data = newFirst, w = newSecond, l = newThird, normMean = newFourth)
}

/** Sliding-window direct-DFT approximations with per-window 1/σ
  * scaling and lowerBounding on — the expression twin of
  * [[graft.sfa.SFAOps.slidingKernelArr]]; series shorter than the
  * window yield no windows.
  */
case class SlidingDftExpr(data: Expression, w: Expression, l: Expression, normMean: Expression)
    extends SeriesDftExpr {
  override def prettyName: String = "sfa_sliding_dft"
  protected def kernel = "sliding"
  protected def flags = Nil
  protected def run(d: ArrayData, wv: Int, lv: Int, nv: Boolean): ArrayData =
    DftKernels.sliding(d, wv, lv, nv)

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SlidingDftExpr =
    copy(data = newFirst, w = newSecond, l = newThird, normMean = newFourth)
}

/** Sliding approximations via the O(1)-per-step MFT recurrence
  * ([[graft.sfa.Fourier.transformWindowing]]): every window of the
  * series, or one zero-padded window when the series is shorter.
  */
case class MftDftExpr(
    data: Expression, w: Expression, l: Expression, normMean: Expression,
    lowerBounding: Boolean, applyZNorm: Boolean) extends SeriesDftExpr {
  override def prettyName: String = "sfa_mft"
  protected def kernel = "mft"
  protected def flags = Seq(lowerBounding, applyZNorm)
  protected def run(d: ArrayData, wv: Int, lv: Int, nv: Boolean): ArrayData =
    DftKernels.mft(d, wv, lv, nv, lowerBounding, applyZNorm)

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): MftDftExpr =
    copy(data = newFirst, w = newSecond, l = newThird, normMean = newFourth)
}
