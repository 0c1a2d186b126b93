package graft.sfa.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Fused SFA quantize + word pack as a native Catalyst expression with
  * whole-stage codegen: given a window's Fourier approximation
  * (`ARRAY<DOUBLE>`) and the fitted per-coefficient bin edges
  * (`ARRAY<ARRAY<DOUBLE>>`, assigned edges only), produces the packed
  * word `Σ_c #[edges_c ≤ v_c] << (usedBits·c)` in one pass over the
  * row — no per-coefficient explosion, no join, no aggregation.
  *
  * Reference semantics: per-coefficient symbol lookup
  * (sfa/transformation/SFA.java:194-231) + bit packing
  * (sfa/classification/Classifier.java:163-192). The symbol counts ALL
  * edges ≤ v (no early break), as the SQL oracles' per-coefficient
  * `SUM(CASE WHEN v >= edge …)` does; a coefficient with no edges row,
  * or an empty one, yields symbol 0, matching their left join. On
  * ascending edges (a fitted bins row, +∞ placeholders included) the
  * count equals [[graft.sfa.SFAModel.quantize]]'s scan, and the symbol
  * is masked to `usedBits` as [[graft.sfa.Words.createWord]] masks it,
  * so the word is `createWord(quantize(approx), edges rows, usedBits)`.
  */
case class SfaWordExpr(approx: Expression, edges: Expression, usedBits: Int)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def left: Expression = approx
  override def right: Expression = edges
  override def dataType: DataType = LongType
  override def prettyName: String = "sfa_word"

  // Analysis-time contract for the SQL surface: mismatched element
  // types are implicitly cast or rejected instead of getDouble()
  // misreading the array storage at runtime.
  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))

  private def mask: Long = (1L << usedBits) - 1

  override def nullSafeEval(a: Any, e: Any): Any =
    SfaWordExpr.word(a.asInstanceOf[ArrayData], e.asInstanceOf[ArrayData], usedBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, e) => {
      val word = ctx.freshName("word")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val v = ctx.freshName("v")
      val sym = ctx.freshName("sym")
      val es = ctx.freshName("es")
      val em = ctx.freshName("em")
      val j = ctx.freshName("j")
      s"""
         |long $word = 0L;
         |final int $n = $a.numElements();
         |final int $m = $e.numElements();
         |for (int $c = 0; $c < $n; $c++) {
         |  final double $v = $a.getDouble($c);
         |  long $sym = 0L;
         |  if ($c < $m) {
         |    final org.apache.spark.sql.catalyst.util.ArrayData $es = $e.getArray($c);
         |    final int $em = $es.numElements();
         |    for (int $j = 0; $j < $em; $j++) {
         |      if ($v >= $es.getDouble($j)) $sym++;
         |    }
         |  }
         |  $word |= ($sym & ${mask}L) << ($usedBits * $c);
         |}
         |${ev.value} = $word;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SfaWordExpr =
    copy(approx = newLeft, edges = newRight)
}

object SfaWordExpr {
  /** The interpreted word kernel, the same loop the generated code runs. */
  def word(av: ArrayData, ev: ArrayData, usedBits: Int): Long = {
    val mask = (1L << usedBits) - 1
    val n = av.numElements()
    val m = ev.numElements()
    var word = 0L
    var c = 0
    while (c < n) {
      val v = av.getDouble(c)
      var sym = 0L
      if (c < m) {
        val es = ev.getArray(c)
        val em = es.numElements()
        var j = 0
        while (j < em) {
          if (v >= es.getDouble(j)) sym += 1
          j += 1
        }
      }
      word |= (sym & mask) << (usedBits * c)
      c += 1
    }
    word
  }
}

/** The words of every window of a series row: `(ARRAY<ARRAY<DOUBLE>>,
  * ARRAY<INT>, ARRAY<ARRAY<DOUBLE>>) → ARRAY<BIGINT>`, element i being
  * [[SfaWordExpr]] of [[SelectCoefsExpr]] of approximation i. A grid
  * that maps a sliding-DFT array to words this way evaluates its
  * per-config coefficients and edges once per row, where a `transform`
  * lambda would evaluate them once per window (and run interpreted).
  */
case class SfaWordsExpr(approxs: Expression, coefs: Expression, edges: Expression, usedBits: Int)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def first: Expression = approxs
  override def second: Expression = coefs
  override def third: Expression = edges
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sfa_words"
  override def inputTypes =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType), ArrayType(ArrayType(DoubleType)))

  override def nullSafeEval(a: Any, c: Any, e: Any): Any =
    SfaWordsExpr.words(a.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      e.asInstanceOf[ArrayData], usedBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c, e) =>
      s"${ev.value} = graft.sfa.expr.SfaWordsExpr.words($a, $c, $e, $usedBits);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): SfaWordsExpr =
    copy(approxs = newFirst, coefs = newSecond, edges = newThird)
}

object SfaWordsExpr {
  def words(approxs: ArrayData, coefs: ArrayData, edges: ArrayData, usedBits: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Array.tabulate(approxs.numElements()) { i =>
      SfaWordExpr.word(SelectCoefsExpr.select(approxs.getArray(i), coefs), edges, usedBits)
    })
}

/** The approximation values at the given coefficient indices, in index
  * order: `(ARRAY<DOUBLE>, ARRAY<INT>) → ARRAY<DOUBLE>` — WEASEL's
  * F-ranked coefficient selection ahead of [[SfaWordExpr]]. An index
  * past the approximation reads NaN, which no edge is ≤ to, so its
  * symbol is 0 (the `i < a.length` guard of
  * [[graft.sfa.Weasel.SupervisedModel.words]]).
  */
case class SelectCoefsExpr(approx: Expression, coefs: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def left: Expression = approx
  override def right: Expression = coefs
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sfa_select_coefs"
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(IntegerType))

  override def nullSafeEval(a: Any, c: Any): Any =
    SelectCoefsExpr.select(a.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) =>
      s"${ev.value} = graft.sfa.expr.SelectCoefsExpr.select($a, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SelectCoefsExpr =
    copy(approx = newLeft, coefs = newRight)
}

object SelectCoefsExpr {
  def select(approx: ArrayData, coefs: ArrayData): ArrayData = {
    val n = approx.numElements()
    UnsafeArrayData.fromPrimitiveArray(Array.tabulate(coefs.numElements()) { k =>
      val i = coefs.getInt(k)
      if (i < n) approx.getDouble(i) else Double.NaN
    })
  }
}
