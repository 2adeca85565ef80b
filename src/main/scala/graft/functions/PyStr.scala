package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
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

/** CPython-parity `str.replace(old, new)`. Spark's `replace` returns the
  * string as is for an empty `old`, where Python inserts `new` at every
  * code-point boundary: `'x'.replace('', '-')` is `'-x-'`, and
  * `''.replace('', '$')` is `'$'`. `MiniLambda` keeps Spark's `replace`
  * for a non-empty literal `old`, and lowers any other `old` to this.
  */
case class PyReplaceExpr(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(s: Any, old: Any, rep: Any): Any = {
    val (str, o, r) = (s.toString, old.toString, rep.toString)
    if (o.nonEmpty) UTF8String.fromString(str.replace(o, r))
    else {
      val sb = new java.lang.StringBuilder(r)
      str.codePoints.forEach(cp => sb.appendCodePoint(cp).append(r))
      UTF8String.fromString(sb.toString)
    }
  }

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): PyReplaceExpr = copy(a, b, c)
}

/** CPython-parity `str.title()`. Spark's `initcap` starts a word only after
  * whitespace; Python starts one at every character that follows an
  * uncased one (`'a-b'` → `'A-B'`, `"they're"` → `"They'Re"`, `'0000ö'` →
  * `'0000Ö'`), maps it by its full titlecase (`'ß'` → `'Ss'`) and lowercases
  * the rest, a capital sigma ending a word to `'ς'`. Case properties are
  * ICU's, which Spark ships.
  */
case class PyTitleExpr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(PyTitleExpr.title(input.toString))

  override protected def withNewChildInternal(newChild: Expression): PyTitleExpr =
    copy(child = newChild)
}

object PyTitleExpr {
  import com.ibm.icu.lang.{UCharacter, UProperty}
  import com.ibm.icu.text.CaseMap
  import java.util.Locale

  private val titleOne = CaseMap.toTitle().wholeString().noBreakAdjustment().noLowercase()

  private def cased(cp: Int) = UCharacter.hasBinaryProperty(cp, UProperty.CASED)
  private def ignorable(cp: Int) = UCharacter.hasBinaryProperty(cp, UProperty.CASE_IGNORABLE)

  def title(s: String): String = {
    val cps = s.codePoints.toArray
    val sb = new java.lang.StringBuilder
    cps.indices.foreach { i =>
      val cp = cps(i)
      val one = new String(Character.toChars(cp))
      if (i == 0 || !cased(cps(i - 1))) sb.append(titleOne.apply(Locale.ROOT, null, one))
      else if (cp == 0x3a3) sb.appendCodePoint(if (finalSigma(cps, i)) 0x3c2 else 0x3c3)
      else sb.append(UCharacter.toLowerCase(Locale.ROOT, one))
    }
    sb.toString
  }

  /** CPython's Final_Sigma test: a cased character before `i` and none
    * after it, skipping case-ignorable ones both ways.
    */
  private def finalSigma(cps: Array[Int], i: Int): Boolean = {
    val before = cps.take(i).reverseIterator.find(!ignorable(_))
    val after = cps.drop(i + 1).find(!ignorable(_))
    before.exists(cased) && !after.exists(cased)
  }
}

/** CPython-parity `==` between a str and a number or bool: both operands
  * are evaluated, so an error either raises surfaces on its row, and the
  * answer is False unless both are None. A null operand is None where its
  * flag says so, else a failed operand's, which gives null. The optimizer
  * keeps both children: no rule folds this expression's operands away,
  * whatever their nullability.
  */
case class PyStrScalarEqExpr(left: Expression, right: Expression, leftNone: Boolean, rightNone: Boolean)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val (l, r) = (left.eval(input), right.eval(input))
    if (l == null && !leftNone || r == null && !rightNone) null
    else l == null && r == null
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PyStrScalarEqExpr =
    copy(left = l, right = r)
}
