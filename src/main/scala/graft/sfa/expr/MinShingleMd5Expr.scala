package graft.sfa.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `min(md5(concat_ws(' ', toks[i..i+n-1])))` over every n-gram shingle
  * of a token array, as ONE native kernel — the document-fingerprint
  * loop. The expression-tree form allocated, per shingle: the joined
  * UTF8String, a fresh MessageDigest inside `md5()`, and a 32-char hex
  * string, then compared hex strings in `array_min`. Here one
  * thread-cached digest is fed the token bytes and separator directly
  * (identical bytes to the concat), candidates compare as unsigned
  * digest bytes, and only the winning digest is hex-encoded.
  * Bit-identical: MD5 of the same bytes, and lowercase-hex lexicographic
  * order equals unsigned byte order (the nibble→hex-char map is
  * monotone in ASCII), so the minimum is the same fingerprint. Returns
  * null when the array holds fewer than n tokens (no shingles — the
  * callers' `size ≥ n` filter makes the case unreachable, mirroring
  * array_min's null on empty).
  */
case class MinShingleMd5Expr(toks: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def child: Expression = toks
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "min_shingle_md5"

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(a: Any): Any =
    ShingleKernels.minMd5(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.sfa.expr.ShingleKernels.minMd5($a, $n);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinShingleMd5Expr =
    copy(toks = newChild)
}

/** The kernel of [[MinShingleMd5Expr]], in an object of its own: the
  * generated code calls it as a static method, and Scala emits no static
  * forwarder for a companion method named like a member of its class
  * (the expression's own `eval`).
  */
object ShingleKernels {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray

  def minMd5(arr: ArrayData, n: Int): UTF8String = {
    val len = arr.numElements()
    if (len < n) return null
    val md = digests.get()
    var best: Array[Byte] = null
    var i = 0
    while (i <= len - n) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(arr.getUTF8String(i + j).getBytes)
        j += 1
      }
      val d = md.digest()
      if (best == null || unsignedLess(d, best)) best = d
      i += 1
    }
    val hex = new Array[Char](best.length * 2)
    var k = 0
    while (k < best.length) {
      hex(2 * k) = HexChars((best(k) >> 4) & 0xf)
      hex(2 * k + 1) = HexChars(best(k) & 0xf)
      k += 1
    }
    UTF8String.fromString(new String(hex))
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }
}
