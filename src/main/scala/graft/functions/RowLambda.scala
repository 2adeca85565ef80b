package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** INTERPRETED backend for `application` lambdas outside [[MiniLambda]]'s
  * Column-lowerable surface (reference application.py:19 eval's arbitrary
  * Python per row). This is the SURVEY §7.4 escape hatch: it walks the
  * same [[LambdaSyntax.Ast]] MiniLambda lowers, per row, over the
  * referenced input columns, packaged as a native Expression so it plugs
  * into the plan like any other column (CodegenFallback — it interprets,
  * it does not codegen; that is the price of arbitrary lambdas and exactly
  * why it sits behind an explicit opt-in flag,
  * `spark.graft.application.fallback=true`, with CompileError remaining
  * the default feedback path).
  *
  * The interpreter is DYNAMICALLY typed (Python semantics), which covers
  * idioms the static lowering must reject: mixed-type conditional
  * branches (`x if c else 0`), truthy `and`/`or` returning operands,
  * lenient string + non-string concatenation, list literals, non-literal
  * slice bounds. The result column's Spark type is inferred by unifying
  * branch types; irreconcilable branches unify to string with Python
  * `str()` rendering.
  */
object RowLambda {

  import LambdaSyntax._
  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

  /** Parse + type-infer; returns the fallback Column. Throws
    * MiniLambda.CompileError on syntax errors (same feedback channel).
    */
  def compile(fnStr: String, schema: StructType): Column =
    interpreted(LambdaSyntax.parse(fnStr, schema), schema)

  /** The interpreted Column for an already parsed lambda. */
  private[graft] def interpreted(ast: Ast, schema: StructType): Column = {
    val names = LambdaSyntax.columns(ast)
    toCol(RowLambdaExpr(names.map(n => toExpr(col(n))), names, ast, widen(infer(ast, schema))))
  }

  // ------------------------------------------------------- type inference

  /** Dynamic-type unification to ONE Spark type: numeric widening long →
    * double; anything irreconcilable unifies to string, with runtime
    * values rendered via Python str() rules.
    */
  private[functions] def infer(a: Ast, schema: StructType): DataType = a match {
    case Lit(null) => NullType
    case Lit(_: Long) => LongType
    case Lit(_: Double) => DoubleType
    case Lit(_: String) => StringType
    case Lit(_: Boolean) => BooleanType
    case Lit(_) => StringType
    case ColRef(n) => schema(n).dataType match {
      case IntegerType | ShortType | ByteType => LongType
      case FloatType => DoubleType
      case other => other
    }
    case Cond(_, t, f) => unify(infer(t, schema), infer(f, schema))
    case OrOp(x, y) => unify(infer(x, schema), infer(y, schema))
    case AndOp(x, y) => unify(infer(x, schema), infer(y, schema))
    case NotOp(_) | Cmp(_, _, _) | InOp(_, _, _) | IsNone(_, _) => BooleanType
    case Bin("/", _, _) => DoubleType
    case Bin("+", x, y) =>
      (infer(x, schema), infer(y, schema)) match {
        case (StringType, _) | (_, StringType) => StringType
        case (ArrayType(e, n), _) => ArrayType(e, n)
        case (tx, ty) => unify(tx, ty)
      }
    case Bin("*", x, y) =>
      (infer(x, schema), infer(y, schema)) match {
        case (StringType, _) | (_, StringType) => StringType // repetition
        case (tx, ty) => unify(tx, ty)
      }
    case Bin("//", x, y) =>
      (infer(x, schema), infer(y, schema)) match {
        case (LongType, LongType) => LongType
        case _ => DoubleType
      }
    case Bin(_, x, y) => unify(infer(x, schema), infer(y, schema))
    case Neg(x) => infer(x, schema)
    case Method(t, m, _) => m match {
      case "split" => ArrayType(StringType)
      case "startswith" | "endswith" => BooleanType
      case "find" | "count" | "index" => LongType
      case _ => StringType
    }
    case Index(t, _) => infer(t, schema) match {
      case ArrayType(e, _) => e
      case _ => StringType
    }
    case Slice(t, _, _) => infer(t, schema)
    case Builtin("str", _) => StringType
    case Builtin("int", _) | Builtin("len", _) => LongType
    case Builtin("float", _) => DoubleType
    case Builtin("bool", _) => BooleanType
    case Builtin("abs", as) => infer(as.head, schema)
    case Builtin("round", as) => if (as.size > 1) DoubleType else LongType
    case Builtin(_, as) => as.map(infer(_, schema)).reduceLeft(unify)
    case ListLit(items) =>
      if (items.isEmpty) ArrayType(StringType)
      else ArrayType(items.map(infer(_, schema)).reduceLeft(unify))
  }

  private def unify(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, t) => t
    case (t, NullType) => t
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (ArrayType(x, nx), ArrayType(y, ny)) => ArrayType(unify(x, y), nx || ny)
    case _ => StringType
  }

  private[functions] def widen(dt: DataType): DataType = dt match {
    case NullType => StringType
    case other => other
  }

  // ---------------------------------------------------------- interpreter

  /** Python-ish truthiness. */
  private def truthy(v: Any): Boolean = v match {
    case null => false
    case b: Boolean => b
    case l: Long => l != 0
    case d: Double => d != 0.0
    case s: String => s.nonEmpty
    case xs: Seq[_] => xs.nonEmpty
    case _ => true
  }

  private def num(v: Any): Either[Long, Double] = v match {
    case l: Long => Left(l)
    case d: Double => Right(d)
    case b: Boolean => Left(if (b) 1L else 0L) // python bool is an int
    case _ => throw new IllegalArgumentException(s"expected number, got $v")
  }
  private def asD(v: Any): Double = num(v).fold(_.toDouble, identity)

  private def pyEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: String, y: String) => x == y
    case (x: Boolean, y: Boolean) => x == y
    case _ =>
      (a, b) match {
        case (x: Long, y: Long) => x == y
        case _ =>
          try asD(a) == asD(b)
          catch { case _: IllegalArgumentException => a == b }
      }
  }

  private def pyCompare(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case _ =>
      val (da, db) = (asD(a), asD(b))
      java.lang.Double.compare(da, db)
  }

  /** Python str() rendering (for explicit str() calls and string-unified
    * branches). None stays SQL null — null propagation beats the literal
    * 'None' string in a data pipeline.
    */
  private[functions] def pyStr(v: Any): String = v match {
    case null => null
    case b: Boolean => if (b) "True" else "False"
    case d: Double => pyRepr(d)
    case s: String => s
    case xs: Seq[_] =>
      xs.map {
        case s: String => "'" + s + "'"
        case other => pyStr(other)
      }.mkString("[", ", ", "]")
    case other => other.toString
  }

  private def pyRepr(d: Double): String = {
    if (d.isNaN) "nan"
    else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else {
      val s = java.lang.Double.toString(d)
      val eIdx = s.indexOf('E')
      if (eIdx < 0) s
      else {
        val exp = s.substring(eIdx + 1).toInt
        if (exp >= -4 && exp < 16) {
          val plain = new java.math.BigDecimal(s).toPlainString
          if (plain.contains('.')) plain else plain + ".0"
        } else {
          val mantissa = s.substring(0, eIdx)
          val m = if (mantissa.endsWith(".0")) mantissa.dropRight(2) else mantissa
          val sign = if (exp < 0) "-" else "+"
          val mag = math.abs(exp)
          s"${m}e$sign${if (mag < 10) "0" + mag else mag.toString}"
        }
      }
    }
  }

  /** Python round: banker's (half-even). */
  private def pyRound(d: Double, nd: Int): Double =
    BigDecimal(d).setScale(nd, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  private def pySliceBounds(len: Int, lo: Option[Int], hi: Option[Int]): (Int, Int) = {
    def clamp(i: Int): Int = { val j = if (i < 0) len + i else i; math.max(0, math.min(len, j)) }
    val a = lo.map(clamp).getOrElse(0)
    val b = hi.map(clamp).getOrElse(len)
    (a, math.max(a, b))
  }

  private[functions] def evalAst(a: Ast, env: Map[String, Any]): Any = a match {
    case Lit(v) => v
    case ColRef(n) => env(n)
    case Cond(c, t, f) => if (truthy(evalAst(c, env))) evalAst(t, env) else evalAst(f, env)
    case OrOp(x, y) => val v = evalAst(x, env); if (truthy(v)) v else evalAst(y, env)
    case AndOp(x, y) => val v = evalAst(x, env); if (!truthy(v)) v else evalAst(y, env)
    case NotOp(x) => !truthy(evalAst(x, env))
    case IsNone(x, neg) => (evalAst(x, env) == null) != neg
    case Cmp(op, x, y) =>
      val (va, vb) = (evalAst(x, env), evalAst(y, env))
      if (va == null || vb == null) {
        // SQL-style null propagation: comparisons with null are null-false
        op match { case "==" => pyEq(va, vb); case "!=" => !pyEq(va, vb); case _ => false }
      } else op match {
        case "==" => pyEq(va, vb)
        case "!=" => !pyEq(va, vb)
        case "<" => pyCompare(va, vb) < 0
        case ">" => pyCompare(va, vb) > 0
        case "<=" => pyCompare(va, vb) <= 0
        case ">=" => pyCompare(va, vb) >= 0
      }
    case InOp(item, coll, neg) =>
      val (i, c) = (evalAst(item, env), evalAst(coll, env))
      if (c == null) false
      else {
        val contains = c match {
          case s: String => i != null && s.contains(i.toString)
          case xs: Seq[_] => xs.exists(e => pyEq(e, i))
          case _ => false
        }
        contains != neg
      }
    case Bin(op, x, y) =>
      val (va, vb) = (evalAst(x, env), evalAst(y, env))
      if (va == null || vb == null) null
      else (op, va, vb) match {
        case ("+", s: String, t: String) => s + t
        case ("+", s: String, t) => s + pyStr(t) // lenient (python raises; pipelines prefer totality)
        case ("+", s, t: String) => pyStr(s) + t
        case ("+", xs: Seq[_], ys: Seq[_]) => xs ++ ys
        case ("*", s: String, n) => s * num(n).fold(_.toInt, _.toInt)
        case ("*", n, s: String) => s * num(n).fold(_.toInt, _.toInt)
        case ("*", xs: Seq[_], n) => Seq.fill(num(n).fold(_.toInt, _.toInt))(xs).flatten
        case ("/", p, q) => asD(p) / asD(q)
        case ("//", p, q) => (num(p), num(q)) match {
          case (Left(i), Left(j)) => Math.floorDiv(i, j)
          case _ => math.floor(asD(p) / asD(q))
        }
        case ("%", p, q) => (num(p), num(q)) match {
          case (Left(i), Left(j)) => Math.floorMod(i, j)
          case _ => val m = asD(p) % asD(q); if (m != 0 && (m < 0) != (asD(q) < 0)) m + asD(q) else m
        }
        case (o, p, q) => (num(p), num(q)) match {
          case (Left(i), Left(j)) => o match { case "+" => i + j; case "-" => i - j; case "*" => i * j }
          case _ => val (dp, dq) = (asD(p), asD(q))
            o match { case "+" => dp + dq; case "-" => dp - dq; case "*" => dp * dq }
        }
      }
    case Neg(x) => evalAst(x, env) match {
      case null => null
      case l: Long => -l
      case d: Double => -d
      case other => throw new IllegalArgumentException(s"cannot negate $other")
    }
    case Index(t, ie) =>
      val (tv, iv) = (evalAst(t, env), evalAst(ie, env))
      if (tv == null || iv == null) null
      else {
        val i0 = num(iv).fold(_.toInt, _.toInt)
        tv match {
          case s: String =>
            val i = if (i0 < 0) s.length + i0 else i0
            if (i >= 0 && i < s.length) s.charAt(i).toString else null
          case xs: Seq[_] =>
            val i = if (i0 < 0) xs.length + i0 else i0
            if (i >= 0 && i < xs.length) xs(i) else null
          case _ => null
        }
      }
    case Slice(t, loE, hiE) =>
      val tv = evalAst(t, env)
      if (tv == null) null
      else {
        val lo = loE.map(e => num(evalAst(e, env)).fold(_.toInt, _.toInt))
        val hi = hiE.map(e => num(evalAst(e, env)).fold(_.toInt, _.toInt))
        tv match {
          case s: String => val (a, b) = pySliceBounds(s.length, lo, hi); s.substring(a, b)
          case xs: Seq[_] => val (a, b) = pySliceBounds(xs.length, lo, hi); xs.slice(a, b)
          case _ => null
        }
      }
    case Method(t, m, args) =>
      val tv = evalAst(t, env)
      if (tv == null) null
      else {
        lazy val av = args.map(evalAst(_, env))
        (tv, m) match {
          case (s: String, "replace") => s.replace(av(0).toString, av(1).toString)
          case (s: String, "upper") => s.toUpperCase
          case (s: String, "lower") => s.toLowerCase
          case (s: String, "strip") => if (av.isEmpty) s.trim else s.dropWhile(c => av(0).toString.contains(c)).reverse.dropWhile(c => av(0).toString.contains(c)).reverse
          case (s: String, "lstrip") => if (av.isEmpty) s.dropWhile(_.isWhitespace) else s.dropWhile(c => av(0).toString.contains(c))
          case (s: String, "rstrip") => if (av.isEmpty) s.reverse.dropWhile(_.isWhitespace).reverse else s.reverse.dropWhile(c => av(0).toString.contains(c)).reverse
          case (s: String, "title") =>
            val sb = new StringBuilder; var prevAlpha = false
            s.foreach { c =>
              sb.append(if (c.isLetter && !prevAlpha) c.toUpper else c.toLower)
              prevAlpha = c.isLetter
            }
            sb.toString
          case (s: String, "capitalize") =>
            if (s.isEmpty) s else s.head.toUpper.toString + s.tail.toLowerCase
          case (s: String, "startswith") => s.startsWith(av(0).toString)
          case (s: String, "endswith") => s.endsWith(av(0).toString)
          case (s: String, "zfill") =>
            val w = num(av(0)).fold(_.toInt, _.toInt)
            if (s.length >= w) s
            else if (s.startsWith("-") || s.startsWith("+"))
              s.head.toString + ("0" * (w - s.length)) + s.tail
            else "0" * (w - s.length) + s
          case (s: String, "split") =>
            if (av.isEmpty) s.split("\\s+").filter(_.nonEmpty).toSeq
            else s.split(java.util.regex.Pattern.quote(av(0).toString), -1).toSeq
          case (s: String, "join") => av(0) match {
            case xs: Seq[_] => xs.map(x => if (x == null) "None" else pyStr(x)).mkString(s)
            case other => throw new IllegalArgumentException(s"join expects a list, got $other")
          }
          case (s: String, "find") => s.indexOf(av(0).toString).toLong
          case (s: String, "count") =>
            val sub = av(0).toString
            if (sub.isEmpty) (s.length + 1).toLong
            else { var c = 0L; var i = s.indexOf(sub); while (i >= 0) { c += 1; i = s.indexOf(sub, i + sub.length) }; c }
          case (v, name) =>
            throw new IllegalArgumentException(s"method .$name() unsupported on $v")
        }
      }
    case Builtin(f, args) =>
      lazy val av = args.map(evalAst(_, env))
      f match {
        case "str" => pyStr(av.head)
        case "len" => av.head match {
          case null => null
          case s: String => s.length.toLong
          case xs: Seq[_] => xs.length.toLong
          case other => throw new IllegalArgumentException(s"len() unsupported on $other")
        }
        case "int" => av.head match {
          case null => null
          case s: String => s.trim.toLong
          case b: Boolean => if (b) 1L else 0L
          case v => num(v).fold(identity, _.toLong)
        }
        case "float" => av.head match {
          case null => null
          case s: String => s.trim.toDouble
          case v => asD(v)
        }
        case "bool" => truthy(av.head)
        case "abs" => av.head match {
          case null => null
          case v => num(v).fold(l => math.abs(l): Any, d => math.abs(d): Any)
        }
        case "round" => av.head match {
          case null => null
          case v =>
            if (av.size > 1) pyRound(asD(v), num(av(1)).fold(_.toInt, _.toInt))
            else num(v).fold(identity, d => math.rint(d).toLong)
        }
        case "min" | "max" =>
          val vs = if (av.size == 1) av.head.asInstanceOf[Seq[Any]] else av
          if (vs.exists(_ == null)) null
          else if (f == "min") vs.reduceLeft((p, q) => if (pyCompare(p, q) <= 0) p else q)
          else vs.reduceLeft((p, q) => if (pyCompare(p, q) >= 0) p else q)
      }
    case ListLit(items) => items.map(evalAst(_, env))
  }

  /** Coerce an interpreter value to the statically declared column type. */
  private[functions] def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (_, StringType) => pyStr(v)
    case (l: Long, DoubleType) => l.toDouble
    case (b: Boolean, LongType) => if (b) 1L else 0L
    case (d: Double, LongType) => d.toLong
    case (x, ArrayType(e, _)) => x.asInstanceOf[Seq[Any]].map(coerce(_, e))
    case (x, _) => x
  }
}

/** Native Expression wrapper for the interpreted lambda: children are the
  * referenced input columns; each row's external values feed the
  * interpreter and the result converts back to Catalyst form.
  */
case class RowLambdaExpr(children: Seq[Expression], names: Seq[String],
                         ast: LambdaSyntax.Ast, resultType: DataType)
    extends Expression with CodegenFallback {
  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  @transient private lazy val toScala =
    children.map(c => CatalystTypeConverters.createToScalaConverter(c.dataType))
  @transient private lazy val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(resultType)
  @transient private lazy val normalize: Seq[Any => Any] = children.map(_.dataType match {
    case IntegerType => (v: Any) => if (v == null) null else v.asInstanceOf[Int].toLong
    case ShortType => (v: Any) => if (v == null) null else v.asInstanceOf[Short].toLong
    case ByteType => (v: Any) => if (v == null) null else v.asInstanceOf[Byte].toLong
    case FloatType => (v: Any) => if (v == null) null else v.asInstanceOf[Float].toDouble
    case DateType | TimestampType => (v: Any) => if (v == null) null else v.toString
    case _ => identity[Any] _
  })
  override def eval(input: InternalRow): Any = {
    val env = names.iterator.zip(
      children.iterator.zip(toScala.iterator.zip(normalize.iterator))
        .map { case (c, (conv, norm)) => norm(conv(c.eval(input))) }).toMap
    toCatalyst(RowLambda.coerce(RowLambda.evalAst(ast, env), resultType))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RowLambdaExpr = copy(children = newChildren)
  override def prettyName: String = "graft_row_lambda"
}
