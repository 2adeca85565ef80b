package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lowers the reference's `application` lambda strings (Python syntax, e.g.
  * `lambda r: r['unit_price'].replace('$', '')` — reference application.py:19,
  * idioms catalogued in instruct_prompt.py:80-97), parsed once by
  * [[LambdaSyntax]], to NATIVE Spark Column expressions. No UDF, no
  * interpreter at row time: the lambda becomes ordinary Catalyst
  * expressions that stay inside whole-stage codegen — unlike the
  * reference, which drops to a per-row Python closure
  * (application.py:26-29). [[RowLambda]] is the second backend over the
  * same syntax tree, for lambdas this lowering rejects.
  *
  * Supported surface (the observed/prompted idioms plus safe extensions):
  *   - row access: r['col'] / r["col"]
  *   - literals: ints, floats (incl. exponents, 1e3), 'str', "str",
  *     True/False/None
  *   - arithmetic + - * / % // and parentheses; unary -
  *   - comparisons == != < > <= >= (chained) ; boolean and/or/not
  *   - conditional: A if C else B
  *   - str methods: replace, upper, lower, strip, lstrip, rstrip, title,
  *     capitalize, startswith, endswith, zfill, split (+ list indexing
  *     r['c'].split(' ')[0]), 'sep'.join(list), format-free slicing s[a:b]
  *   - parenthesized sub-expressions, incl. method chains on conditionals:
  *     (r['a'] if r['b'] else r['c']).upper()
  *   - builtins: str(), int(), float(), bool(), len(), abs(), round(x[,n]),
  *     min(a,b,...), max(a,b,...)
  * Anything else raises CompileError with a precise message (fed back to the
  * external LLM loop, mirroring the reference's trial-run feedback).
  */
object MiniLambda {

  final case class CompileError(msg: String) extends RuntimeException(msg)

  import LambdaSyntax._
  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

  private def pyRound(c: Column, nd: Int, asLong: Boolean): Column =
    toCol(PyRoundExpr(toExpr(c), nd, asLong))

  /** A lowered sub-expression: the Column plus its inferred Spark type
    * (needed to resolve Python's overloaded `+` and method dispatch).
    */
  private final case class Typed(col: Column, dt: DataType)

  def compile(fnStr: String, schema: StructType): Column = lowered(parse(fnStr, schema), schema)

  /** Inferred result type of the lambda, for downstream schema reasoning. */
  def inferType(fnStr: String, schema: StructType): DataType =
    typed(parse(fnStr, schema), schema).dt

  /** The native Column for an already parsed lambda. */
  private[graft] def lowered(ast: Ast, schema: StructType): Column = typed(ast, schema).col

  private def typed(a: Ast, schema: StructType): Typed = {
    def go(a: Ast): Typed = a match {
      case Lit(null)       => Typed(lit(null).cast(StringType), NullType)
      case Lit(b: Boolean) => Typed(lit(b), BooleanType)
      case Lit(n: Long)    => Typed(lit(n), LongType)
      case Lit(d: Double)  => Typed(lit(d), DoubleType)
      case Lit(s: String)  => Typed(lit(s), StringType)
      case ColRef(n)       => Typed(col(n), schema.fields.find(_.name == n).get.dataType)
      case Cond(c, t, f) =>
        val (tt, ct, ft) = (go(t), go(c), go(f))
        val dt = unify(tt.dt, ft.dt)
        Typed(when(ct.col, tt.col.cast(dt)).otherwise(ft.col.cast(dt)), dt)
      case OrOp(x, y) =>
        val (l, r) = (go(x), go(y))
        requireBoolean(l, r, "or") // python truthy or/and (value-returning) → fallback surface
        Typed(l.col || r.col, BooleanType)
      case AndOp(x, y) =>
        val (l, r) = (go(x), go(y))
        requireBoolean(l, r, "and")
        Typed(l.col && r.col, BooleanType)
      case NotOp(x) => Typed(!go(x).col, BooleanType)
      case Cmp(op, x, y) =>
        val (l, r) = (go(x), go(y))
        Typed(op match {
          case "==" => l.col === r.col
          case "!=" => l.col =!= r.col
          case "<"  => l.col < r.col
          case ">"  => l.col > r.col
          case "<=" => l.col <= r.col
          case ">=" => l.col >= r.col
        }, BooleanType)
      case InOp(item, coll, negated) => // 'x' in s → substring; x in list → membership
        val (l, r) = (go(item), go(coll))
        val c = r.dt match {
          case ArrayType(_, _) => array_contains(r.col, l.col)
          case _ =>
            requireStrings(l, r, if (negated) "not in" else "in")
            r.col.contains(l.col)
        }
        Typed(if (negated) !c else c, BooleanType)
      case IsNone(x, negated) =>
        val l = go(x)
        Typed(if (negated) l.col.isNotNull else l.col.isNull, BooleanType)
      case Bin(op, x, y) => binary(op, go(x), go(y))
      case Neg(x) => val e = go(x); Typed(-e.col, e.dt)
      case Method(t, name, args) => applyMethod(t, go(t), name, args, args.map(go))
      case Index(t, i) => index(go(t), i)
      case Slice(t, lo, hi) => slice(go(t), lo, hi)
      case Builtin(fn, args) => applyBuiltin(fn, args, args.map(go))
      case ListLit(_) => throw CompileError("list literals are not supported in the compiled surface")
      case Lit(v) => throw CompileError(s"unsupported literal $v")
    }
    go(a)
  }

  private def requireBoolean(l: Typed, r: Typed, op: String): Unit =
    if (l.dt != BooleanType || r.dt != BooleanType)
      throw CompileError(s"'$op' requires boolean operands in the compiled surface " +
        s"(got ${l.dt.simpleString}, ${r.dt.simpleString}; python truthy '$op' needs the row fallback)")

  private def requireStrings(l: Typed, r: Typed, op: String): Unit =
    if (l.dt != StringType || r.dt != StringType)
      throw CompileError(s"'$op' requires string operands (got ${l.dt.simpleString}, ${r.dt.simpleString})")

  private def requireNumeric(l: Typed, r: Typed, op: String): Unit =
    if (l.dt == StringType || r.dt == StringType)
      throw CompileError(
        s"'$op' requires numeric operands (got ${l.dt.simpleString}, ${r.dt.simpleString})")

  private def binary(op: String, l: Typed, r: Typed): Typed = op match {
    case "+" =>
      if (l.dt == StringType && r.dt == StringType)
        Typed(concat(l.col, r.col), StringType) // null-propagating, like Python would TypeError on None anyway
      else if (l.dt == StringType || r.dt == StringType)
        throw CompileError("cannot add string and non-string (Python TypeError parity)")
      else Typed(l.col + r.col, numericResult(l.dt, r.dt))
    case "-" =>
      requireNumeric(l, r, "-")
      Typed(l.col - r.col, numericResult(l.dt, r.dt))
    case "*" =>
      // Python string repetition: s * n / n * s → repeat (a string
      // would otherwise be CAST to a number and throw at runtime)
      if (l.dt == StringType && r.dt != StringType)
        Typed(call_function("repeat", l.col, r.col.cast(IntegerType)), StringType)
      else if (r.dt == StringType && l.dt != StringType)
        Typed(call_function("repeat", r.col, l.col.cast(IntegerType)), StringType)
      else { requireNumeric(l, r, "*"); Typed(l.col * r.col, numericResult(l.dt, r.dt)) }
    case "/" =>
      // Python 3 true division → always float (Spark Divide also → double)
      requireNumeric(l, r, "/")
      Typed(l.col / r.col, DoubleType)
    case "//" =>
      requireNumeric(l, r, "//")
      Typed(floor(l.col / r.col).cast(LongType), LongType)
    case "%" =>
      // Python modulo takes the divisor's sign (-7 % 3 == 2); Spark's %
      // is the dividend-signed remainder, so shift a mismatched one by r
      requireNumeric(l, r, "%")
      val m = l.col % r.col
      Typed(when(m =!= 0 && ((m < 0) =!= (r.col < 0)), m + r.col).otherwise(m),
        numericResult(l.dt, r.dt))
  }

  /** An integer literal argument: `Lit(n)`, or `Neg(Lit(n))` for `-n`. */
  private def intLit(a: Ast): Option[Int] = a match {
    case Lit(n: Long) if n.isValidInt => Some(n.toInt)
    case Neg(Lit(n: Long)) if n.isValidInt => Some(-n.toInt)
    case _ => None
  }

  private def strLit(a: Ast): Option[String] = a match {
    case Lit(s: String) => Some(s)
    case _ => None
  }

  /** s[i] on strings → substring; list[i] (split() results) → element_at
    * with Python negative-index semantics (ANSI mode raises on out-of-range,
    * like IndexError).
    */
  private def index(e: Typed, i: Ast): Typed = e.dt match {
    case ArrayType(et, _) =>
      val n = intLit(i).getOrElse(throw CompileError(s"expected integer list index, got $i"))
      Typed(element_at(e.col, if (n >= 0) n + 1 else n), et)
    case StringType =>
      // Python s[i]; negative indexes count from the end. substring is 1-based.
      val n = intLit(i).getOrElse(throw CompileError(s"expected integer index, got $i"))
      Typed(if (n >= 0) substring(e.col, n + 1, 1) else substring(e.col, n, 1), StringType)
    case other => throw CompileError(s"subscript only supported on strings and lists, got ${other.simpleString}")
  }

  /** s[a:b], s[a:], s[:b] — Python slice on strings → substring. */
  private def slice(e: Typed, lo: Option[Ast], hi: Option[Ast]): Typed = {
    if (e.dt != StringType)
      throw CompileError(s"slicing only supported on strings, got ${e.dt.simpleString}")
    def bound(b: Ast): Int = intLit(b).getOrElse(throw CompileError(s"expected integer in slice, got $b"))
    val col = (lo.map(bound).getOrElse(0), hi.map(bound)) match {
      case (a, Some(b)) if a >= 0 && b >= 0 =>
        substring(e.col, a + 1, math.max(0, b - a))
      case (a, None) if a >= 0 => substring(e.col, a + 1, Int.MaxValue)
      case (a, None) if a < 0  => substring(e.col, a, -a)
      case _ => throw CompileError("unsupported slice form")
    }
    Typed(col, StringType)
  }

  // ------------------------------------------------------------ dispatch

  private def applyMethod(targetAst: Ast, target: Typed, name: String,
                          argAsts: Seq[Ast], args: Seq[Typed]): Typed = {
    if (target.dt != StringType)
      throw CompileError(s"method .$name() only supported on strings, got ${target.dt.simpleString}")
    val c = target.col
    def strArg(meth: String): String =
      strLit(argAsts.head).getOrElse(throw CompileError(s"$meth() argument must be a string literal"))
    (name, args) match {
      // Python str.split: no-arg splits on whitespace runs and drops
      // empties; with a separator it's a LITERAL split keeping empties
      case ("split", Nil) =>
        Typed(filter(split(c, "\\s+"), t => t =!= ""), ArrayType(StringType))
      case ("split", Seq(_)) =>
        val s = strLit(argAsts.head).getOrElse(
          throw CompileError("split() separator must be a string literal"))
        Typed(split(c, java.util.regex.Pattern.quote(s), -1), ArrayType(StringType))
      case ("join", Seq(a)) if a.dt.isInstanceOf[ArrayType] =>
        val s = strLit(targetAst).getOrElse(
          throw CompileError("join() target must be a string literal separator"))
        Typed(array_join(a.col, s), StringType)
      case ("replace", Seq(a, b)) => Typed(replace(c, a.col, b.col), StringType) // literal, not regex — Python str.replace
      case ("upper", Nil)      => Typed(upper(c), StringType)
      case ("lower", Nil)      => Typed(lower(c), StringType)
      case ("strip", Nil)      => Typed(trim(c), StringType)
      case ("lstrip", Nil)     => Typed(ltrim(c), StringType)
      case ("rstrip", Nil)     => Typed(rtrim(c), StringType)
      // strip(chars) family: drops any of the given chars (set semantics,
      // same as Python)
      case ("strip", Seq(_))  => Typed(trim(c, strArg("strip")), StringType)
      case ("lstrip", Seq(_)) => Typed(ltrim(c, strArg("lstrip")), StringType)
      case ("rstrip", Seq(_)) => Typed(rtrim(c, strArg("rstrip")), StringType)
      // non-overlapping substring count, via literal split
      case ("count", Seq(_)) =>
        val sub = strArg("count")
        if (sub.isEmpty) throw CompileError("count('') is not supported")
        Typed((size(split(c, java.util.regex.Pattern.quote(sub), -1)) - 1).cast(LongType), LongType)
      // first index of substring, -1 when absent (instr is 1-based, 0=absent)
      case ("find", Seq(_)) => Typed((instr(c, strArg("find")) - 1).cast(LongType), LongType)
      case ("isdigit", Nil) => Typed(c.rlike("^[0-9]+$"), BooleanType)
      case ("isalpha", Nil) => Typed(c.rlike("^[A-Za-z]+$"), BooleanType)
      case ("ljust", Seq(_)) => Typed(rpad(c, width(argAsts.head), " "), StringType)
      case ("rjust", Seq(_)) => Typed(lpad(c, width(argAsts.head), " "), StringType)
      case ("title", Nil)      => Typed(initcap(c), StringType)
      case ("capitalize", Nil) =>
        Typed(concat(upper(substring(c, 1, 1)), lower(substring(c, 2, Int.MaxValue))), StringType)
      case ("startswith", Seq(p)) => Typed(startswith(c, p.col), BooleanType)
      case ("endswith", Seq(p))   => Typed(endswith(c, p.col), BooleanType)
      case ("zfill", Seq(_))      => Typed(lpad(c, width(argAsts.head), "0"), StringType)
      case _ => throw CompileError(s"unsupported string method .$name/${args.length}")
    }
  }

  private def litInt(a: Ast): Int =
    intLit(a).getOrElse(throw CompileError("expected integer literal argument"))

  /** A pad width: a non-negative integer literal (lpad/rpad would
    * truncate to a negative one, where Python returns the string as is).
    */
  private def width(a: Ast): Int =
    intLit(a).filter(_ >= 0).getOrElse(throw CompileError("expected integer literal argument"))

  private def applyBuiltin(fn: String, argAsts: Seq[Ast], args: Seq[Typed]): Typed = (fn, args) match {
    case ("str", Seq(a))   => Typed(a.col.cast(StringType), StringType)
    case ("int", Seq(a))   => Typed(a.col.cast(LongType), LongType)
    case ("float", Seq(a)) => Typed(a.col.cast(DoubleType), DoubleType)
    case ("bool", Seq(a))  => Typed(a.col.cast(BooleanType), BooleanType)
    case ("len", Seq(a)) if a.dt == StringType => Typed(length(a.col).cast(LongType), LongType)
    case ("len", Seq(a)) if a.dt.isInstanceOf[ArrayType] => Typed(size(a.col).cast(LongType), LongType)
    case ("abs", Seq(a))   => Typed(abs(a.col), a.dt)
    // Python round() is banker's (half-even) on the exact binary value —
    // see PyRoundExpr; Spark's round (half-up) diverges on ties
    case ("round", Seq(a)) => a.dt match {
      case LongType => a // round(int) is identity in Python
      case _        => Typed(pyRound(a.col.cast(DoubleType), 0, asLong = true), LongType)
    }
    case ("round", Seq(a, _)) =>
      val nd = litInt(argAsts(1))
      a.dt match {
        case LongType if nd >= 0 => a // round(int, nonneg) is identity
        case LongType =>
          Typed(pyRound(a.col.cast(DoubleType), nd, asLong = false).cast(LongType), LongType)
        case _ => Typed(pyRound(a.col.cast(DoubleType), nd, asLong = false), DoubleType)
      }
    case ("min", as) if as.length >= 2 => Typed(least(as.map(_.col): _*), as.map(_.dt).reduce(unify))
    case ("max", as) if as.length >= 2 => Typed(greatest(as.map(_.col): _*), as.map(_.dt).reduce(unify))
    case _ => throw CompileError(s"unsupported function $fn/${args.length}")
  }

  private def numericResult(a: DataType, b: DataType): DataType =
    if (a == DoubleType || b == DoubleType) DoubleType else LongType

  private def unify(a: DataType, b: DataType): DataType =
    if (a == b) a
    else if (a == NullType) b else if (b == NullType) a
    else if (Set(a, b).subsetOf(Set[DataType](LongType, DoubleType, IntegerType))) DoubleType
    else StringType
}
