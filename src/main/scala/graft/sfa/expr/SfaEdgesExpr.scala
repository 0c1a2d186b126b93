package graft.sfa.expr

import graft.sfa.{HistogramType, SFA}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructField, StructType}

/** The kernel call of [[SfaEdgesExpr]]: sort the orderline in the JVM's
  * total order on doubles (the order the Scala fits sort in) and call
  * the unchanged [[SFA]] edge kernel of the histogram type.
  */
object EdgeKernels {
  def fit(orderline: ArrayData, alphabetSize: Int, histogram: HistogramType): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(histogram match {
      case HistogramType.EquiDepth       => SFA.equiDepthEdges(sortedValues(orderline), alphabetSize)
      case HistogramType.EquiWidth       => SFA.equiWidthEdges(sortedValues(orderline), alphabetSize)
      case HistogramType.InformationGain => SFA.infoGainEdges(sortedPairs(orderline), alphabetSize)
    })

  private def sortedValues(orderline: ArrayData): Array[Double] = {
    val a = orderline.toDoubleArray()
    java.util.Arrays.sort(a)
    a
  }

  private def sortedPairs(orderline: ArrayData): Array[(Double, Double)] = {
    val a = Array.tabulate(orderline.numElements()) { i =>
      val r = orderline.getStruct(i, 2)
      (r.getDouble(0), r.getDouble(1))
    }
    java.util.Arrays.sort(a, Ordering.Tuple2[Double, Double])
    a
  }
}

/** SFA bin edges of one coefficient as a native expression over its
  * collected orderline: `ARRAY<DOUBLE>` values for equi-depth and
  * equi-width, `ARRAY<STRUCT<DOUBLE, DOUBLE>>` (value, label) pairs for
  * information gain. The result is the kernel's full `alphabetSize − 1`
  * ascending edges, unassigned ones left at the `Double.MaxValue`
  * placeholder — exactly the bins row an [[graft.sfa.SFAModel]] holds.
  * Used as `SfaEdgesExpr(collect_list(…))` inside the grouped fit
  * aggregate, so every grid point's quantizer is fitted in one plan.
  */
case class SfaEdgesExpr(orderline: Expression, alphabetSize: Int, histogram: HistogramType)
    extends UnaryExpression {

  override def child: Expression = orderline
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sfa_edges"

  override def checkInputDataTypes(): TypeCheckResult = (histogram, orderline.dataType) match {
    case (HistogramType.InformationGain,
        ArrayType(StructType(Array(StructField(_, DoubleType, _, _), StructField(_, DoubleType, _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (HistogramType.EquiDepth | HistogramType.EquiWidth, ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (h, t) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName($h) cannot fit edges over ${t.simpleString}")
  }

  override def nullSafeEval(ol: Any): Any =
    EdgeKernels.fit(ol.asInstanceOf[ArrayData], alphabetSize, histogram)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("histogram", histogram, classOf[HistogramType].getName)
    nullSafeCodeGen(ctx, ev, ol =>
      s"${ev.value} = graft.sfa.expr.EdgeKernels.fit($ol, $alphabetSize, $h);")
  }

  override protected def withNewChildInternal(newChild: Expression): SfaEdgesExpr =
    copy(orderline = newChild)
}
