package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** CPython-parity `str()` of a float: the shortest repr, in positional
  * notation for exponents -4..15 (`0.0001`, `1e-05`, `1e+16`, `100.0`),
  * and `nan`, `inf`, `-inf`. Spark's cast to string prints Java's form
  * (`1.0E16`, `NaN`, `Infinity`). Reference: application.py eval's Python
  * `str` builtin, and the str() rendering of branches that unify to string.
  */
case class PyStrExpr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(PyStrExpr.repr(input.asInstanceOf[Double]))

  override protected def withNewChildInternal(newChild: Expression): PyStrExpr =
    copy(child = newChild)
}

object PyStrExpr {

  def repr(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else {
      val s = java.lang.Double.toString(d)
      val eIdx = s.indexOf('E')
      val exp = if (eIdx < 0) 0 else s.substring(eIdx + 1).toInt
      if (eIdx < 0) s
      else if (exp >= -4 && exp < 16) {
        val plain = new java.math.BigDecimal(s).stripTrailingZeros.toPlainString
        if (plain.contains('.')) plain else plain + ".0"
      } else {
        val mantissa = s.substring(0, eIdx).stripSuffix(".0")
        f"${mantissa}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      }
    }
}
