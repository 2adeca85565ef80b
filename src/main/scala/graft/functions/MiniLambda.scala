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
  * (application.py:26-29). This is the only backend; Python `eval` is the
  * contract, checked row by row by `LambdaOracleSpec` over the corpus
  * `scripts/lambda_oracle.py` generates, which also lists the documented
  * limits (a None input that Python raises on yields null, branches of
  * different types unify to one column type).
  *
  * Supported surface (the observed/prompted idioms plus safe extensions):
  *   - row access: r['col'] / r["col"]; int/short/byte columns read as
  *     long, float as double
  *   - literals: ints, floats (incl. exponents, 1e3), 'str', "str",
  *     True/False/None, lists [a, b, ...]
  *   - arithmetic + - * / % // and parentheses; unary -
  *   - comparisons == != < > <= >= (chained; NaN compares false, None
  *     equals only None)
  *   - truthy and/or/not returning an operand, as Python does, through
  *     one per-type truthiness test (also used by bool() and a
  *     non-boolean `if` condition)
  *   - conditional: A if C else B; branches of different types unify to
  *     float (int and float) or to their Python str()
  *   - membership: `x in s`, `x in [..]`, `x in s.split()`, `not in`
  *   - str methods: replace, upper, lower, strip, lstrip, rstrip, title,
  *     capitalize, startswith, endswith, zfill, ljust, rjust, count, find,
  *     isdigit, isalpha, split (+ list indexing r['c'].split(' ')[0]),
  *     'sep'.join(list), indexing s[i] and slicing s[a:b] with negative or
  *     column-computed bounds
  *   - parenthesized sub-expressions, incl. method chains on conditionals:
  *     (r['a'] if r['b'] else r['c']).upper()
  *   - builtins: str(), int(), float(), bool(), len(), abs(), round(x[,n]),
  *     min(a,b,...), max(a,b,...), min([..]), max([..])
  * Anything else, and anything Python raises a TypeError on for every
  * row (e.g. string + number), raises CompileError with a precise message
  * (fed back to the external LLM loop, mirroring the reference's
  * trial-run feedback).
  */
object MiniLambda {

  final case class CompileError(msg: String) extends RuntimeException(msg)

  import LambdaSyntax._
  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

  private def pyRound(c: Column, nd: Int, asLong: Boolean): Column =
    toCol(PyRoundExpr(toExpr(c), nd, asLong))

  /** A lowered sub-expression: the Column plus its inferred Spark type
    * (needed to resolve Python's overloaded `+` and method dispatch).
    * `noneable` marks a value whose null is Python's None (a column, a
    * None literal, a branch of those), not the null a failed
    * sub-expression propagates; only such a null is falsy and equal to
    * None.
    */
  private final case class Typed(col: Column, dt: DataType, noneable: Boolean = false)

  def compile(fnStr: String, schema: StructType): Column = typed(parse(fnStr, schema), schema).col

  /** Inferred result type of the lambda, for downstream schema reasoning. */
  def inferType(fnStr: String, schema: StructType): DataType =
    typed(parse(fnStr, schema), schema).dt

  private def typed(a: Ast, schema: StructType): Typed = {
    def go(a: Ast): Typed = a match {
      case Lit(null)       => Typed(lit(null).cast(StringType), NullType, noneable = true)
      case Lit(b: Boolean) => Typed(lit(b), BooleanType)
      case Lit(n: Long)    => Typed(lit(n), LongType)
      case Lit(d: Double)  => Typed(lit(d), DoubleType)
      case Lit(s: String)  => Typed(lit(s), StringType)
      case ColRef(n) => schema(n).dataType match {
        case IntegerType | ShortType | ByteType => Typed(col(n).cast(LongType), LongType, noneable = true)
        case FloatType => Typed(col(n).cast(DoubleType), DoubleType, noneable = true)
        case dt => Typed(col(n), dt, noneable = true)
      }
      case Cond(c, t, f) =>
        val (tt, ct, ft) = (go(t), go(c), go(f))
        val dt = unify(tt.dt, ft.dt)
        Typed(branch(ct, as(tt, dt), as(ft, dt)), dt, tt.noneable || ft.noneable)
      case OrOp(x, y) => logical(go(x), go(y), or = true)
      case AndOp(x, y) => logical(go(x), go(y), or = false)
      case NotOp(x) => Typed(!truthy(go(x)), BooleanType)
      case Cmp(op, x, y) => compare(op, go(x), go(y))
      case InOp(item, coll, negated) => // 'x' in s → substring; x in list → membership
        val l = go(item)
        val c = coll match {
          // Python `in` on a list is `==` against each item: a str never
          // equals a number, and None equals only None
          case ListLit(items) =>
            items.map(i => compare("==", l, go(i)).col).reduceOption(_ || _).getOrElse(lit(false))
          case _ =>
            val r = go(coll)
            r.dt match {
              case ArrayType(_, _) =>
                val c = array_contains(r.col, l.col)
                if (l.noneable) coalesce(c, lit(false)) else c
              case _ =>
                requireStrings(l, r, if (negated) "not in" else "in")
                r.col.contains(l.col)
            }
        }
        Typed(if (negated) !c else c, BooleanType)
      case IsNone(x, negated) =>
        val l = go(x)
        Typed(if (negated) l.col.isNotNull else l.col.isNull, BooleanType)
      case Bin(op, x, y) => binary(op, go(x), go(y))
      case Neg(x) => val e = go(x); Typed(-e.col, e.dt)
      case Method(Lit(sep: String), "join", Seq(ListLit(items))) =>
        // 'sep'.join([a, b]): null when an item is, as concat is; Python
        // raises on a None item
        val ts = items.map(go)
        if (ts.exists(_.dt != StringType)) throw CompileError("join() items must be strings (TypeError in Python)")
        Typed(if (ts.isEmpty) lit("") else concat(ts.flatMap(t => Seq(lit(sep), t.col)).tail: _*), StringType)
      case Method(t, name, args) => applyMethod(t, go(t), name, args, args.map(go))
      case Index(ListLit(items), i) => // [a, b][i]: the item, picked on the driver
        val n = intLit(i).getOrElse(throw CompileError(s"expected integer list index, got $i"))
        val ts = items.map(go) // Python builds the whole list: an item's error is the lambda's
        ts.lift(if (n < 0) items.size + n else n).getOrElse(
          throw CompileError(s"list index $n out of range (IndexError on every row)"))
      case Index(t, i) => index(go(t), i)
      case Slice(t, lo, hi) => slice(go(t), lo.map(b => (b, go(b))), hi.map(b => (b, go(b))))
      case Builtin(fn @ ("min" | "max"), Seq(ListLit(items))) => extreme(fn, items.map(go))
      case Builtin(fn, args) => applyBuiltin(fn, args, args.map(go))
      case ListLit(items) =>
        val ts = items.map(go)
        val dt = ts.map(_.dt).reduceOption(unify).getOrElse(StringType)
        Typed(array(ts.map(as(_, dt)): _*), ArrayType(dt))
      case Lit(v) => throw CompileError(s"unsupported literal $v")
    }
    go(a)
  }

  // ------------------------------------------------------ python values

  /** Python truthiness, one test per type: a number is true when nonzero
    * (NaN too), a string or list when non-empty, None is false.
    */
  private def truthy(e: Typed): Column = {
    val t = e.dt match {
      case BooleanType => e.col
      case NullType => lit(false)
      case StringType => e.col =!= lit("")
      case ArrayType(_, _) => size(e.col) =!= 0
      case _: NumericType => e.col =!= 0
      case other => throw CompileError(s"no truth value for ${other.simpleString}")
    }
    if (e.noneable) coalesce(t, lit(false)) else t
  }

  /** `t` where `c` is truthy, else `f`. A boolean is read as is (a null
    * one picks `f`, as None does); any other null that is not None is a
    * failed operand's, and gives null (Python raised there).
    */
  private def branch(c: Typed, t: Column, f: Column): Column =
    if (c.dt == BooleanType) when(c.col, t).otherwise(f)
    else if (c.noneable) when(truthy(c), t).otherwise(f)
    else when(c.col.isNull, lit(null)).when(truthy(c), t).otherwise(f)

  /** Python `a or b` / `a and b` return an operand; on two booleans that
    * is SQL OR / AND, unless `a` may be None: `None or False` is False
    * and `None and False` is None, where SQL gives null and false.
    */
  private def logical(l: Typed, r: Typed, or: Boolean): Typed = {
    val noneable = l.noneable || r.noneable
    if (l.dt == BooleanType && r.dt == BooleanType && !l.noneable)
      Typed(if (or) l.col || r.col else l.col && r.col, BooleanType, noneable)
    else {
      val dt = unify(l.dt, r.dt)
      val (a, b) = (as(l, dt), as(r, dt))
      Typed(if (or) branch(l, a, b) else branch(l, b, a), dt, noneable)
    }
  }

  /** Python str() of a value; a null stays null. */
  private def pyStr(e: Typed): Column = e.dt match {
    case StringType => e.col
    case BooleanType => when(e.col, lit("True")).when(!e.col, lit("False"))
    case DoubleType => toCol(PyStrExpr(toExpr(e.col)))
    case NullType | _: NumericType => e.col.cast(StringType)
    case other => throw CompileError(s"str() of ${other.simpleString} is not supported")
  }

  /** `e` as a value of the unified type `dt`. */
  private def as(e: Typed, dt: DataType): Column =
    if (dt == StringType && e.dt != StringType) pyStr(e) else e.col.cast(dt)

  /** Python comparison. `==` is false and `!=` true between None and a
    * value, and NaN is unequal and unordered; a null that is not None (a
    * failed operand) stays null.
    */
  private def compare(op: String, l0: Typed, r0: Typed): Typed = {
    // a bool is an int in Python comparisons
    def num(e: Typed, other: Typed) =
      if (e.dt == BooleanType && other.dt.isInstanceOf[NumericType]) e.copy(col = e.col.cast(LongType), dt = LongType)
      else e
    val (l, r) = (num(l0, r0), num(r0, l0))
    def nans = Seq(l, r).filter(_.dt == DoubleType).map(e => !isnan(e.col))
    // a str never equals a bool or number in Python, and ordering them
    // raises TypeError; a cast here would throw under ANSI instead. Two
    // None values are equal whatever their columns' types.
    if (strVsScalar(l.dt, r.dt) || strVsScalar(r.dt, l.dt)) op match {
      case "==" | "!=" =>
        val eq = if (l.noneable && r.noneable) l.col.isNull && r.col.isNull else lit(false)
        Typed(if (op == "==") eq else !eq, BooleanType)
      case _ => throw CompileError(s"'$op' between ${l.dt.simpleString} and " +
        s"${r.dt.simpleString} is a TypeError in Python")
    } else {
      val eq = {
        val e = if (!l.noneable && !r.noneable) l.col === r.col
          else Seq(l, r).find(!_.noneable).fold(l.col <=> r.col)(x => when(x.col.isNotNull, l.col <=> r.col))
        nans.headOption.fold(e)(e && _)
      }
      Typed(op match {
        case "==" => eq
        case "!=" => !eq
        case _ =>
          val c = op match {
            case "<"  => l.col < r.col
            case ">"  => l.col > r.col
            case "<=" => l.col <= r.col
            case ">=" => l.col >= r.col
          }
          nans.foldLeft(c)(_ && _)
      }, BooleanType)
    }
  }

  private def strVsScalar(a: DataType, b: DataType): Boolean =
    a == StringType && (b == BooleanType || b.isInstanceOf[NumericType])

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
      if (numericResult(l.dt, r.dt) == LongType) Typed(floor(l.col / r.col).cast(LongType), LongType)
      else {
        // float // is a float, computed as CPython does: from fmod's
        // remainder, floored with its rounding fix, and a zero quotient
        // signed as l / r is; floor() returns a long, so a NaN or
        // infinite quotient bypasses it
        val m = l.col % r.col
        val q = (l.col - m) / r.col
        val div = when(shifted(m, r.col), q - 1).otherwise(q)
        val fl = when(abs(div) < 1e18, floor(div).cast(DoubleType)).otherwise(div) // NaN, inf as is
        Typed(when(div === 0, lit(0.0) * (l.col / r.col)).when(div - fl > 0.5, fl + 1).otherwise(fl), DoubleType)
      }
    case "%" =>
      // Python modulo takes the divisor's sign (-7 % 3 == 2); Spark's %
      // is the dividend-signed remainder, so shift a mismatched one by r
      requireNumeric(l, r, "%")
      val m = l.col % r.col
      Typed(when(shifted(m, r.col), m + r.col).otherwise(m), numericResult(l.dt, r.dt))
  }

  /** The remainder `m` of a division by `r` is nonzero and of the other sign. */
  private def shifted(m: Column, r: Column): Column = m =!= 0 && ((m < 0) =!= (r < 0))

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
    * with Python negative-index semantics. Out of range raises, like
    * Python's IndexError (element_at does so under ANSI mode).
    */
  private def index(e: Typed, i: Ast): Typed = e.dt match {
    case ArrayType(et, _) =>
      val n = intLit(i).getOrElse(throw CompileError(s"expected integer list index, got $i"))
      Typed(element_at(e.col, if (n >= 0) n + 1 else n), et)
    case StringType =>
      // Python s[i]; negative indexes count from the end. substring is 1-based.
      val n = intLit(i).getOrElse(throw CompileError(s"expected integer index, got $i"))
      val inRange = if (n >= 0) length(e.col) > n else length(e.col) >= -n
      Typed(when(e.col.isNull || inRange, if (n >= 0) substring(e.col, n + 1, 1) else substring(e.col, n, 1))
        .otherwise(raise_error(lit("string index out of range"))), StringType)
    case other => throw CompileError(s"subscript only supported on strings and lists, got ${other.simpleString}")
  }

  /** s[a:b], s[a:], s[:b] — Python slice on strings → substring. Literal
    * bounds fold on the driver where they can; any other bound (negative
    * with an end, or computed from columns) is clamped per row as Python
    * does, and a None bound means no bound.
    */
  private def slice(e: Typed, lo: Option[(Ast, Typed)], hi: Option[(Ast, Typed)]): Typed = {
    if (e.dt != StringType)
      throw CompileError(s"slicing only supported on strings, got ${e.dt.simpleString}")
    val col = (lo.fold(Option(0))(b => intLit(b._1)), hi.map(b => intLit(b._1))) match {
      case (Some(a), Some(Some(b))) if a >= 0 && b >= 0 => substring(e.col, a + 1, math.max(0, b - a))
      case (Some(a), None) if a >= 0 => substring(e.col, a + 1, Int.MaxValue)
      case (Some(a), None) => substring(e.col, a, -a)
      case _ =>
        val n = length(e.col)
        def at(b: Typed, absent: Column): Column = {
          if (b.dt != LongType) throw CompileError(s"slice indices must be integers, got ${b.dt.simpleString}")
          val c = when(b.col < 0, greatest(n + b.col, lit(0))).when(b.col >= 0, least(b.col, n))
          if (b.noneable) coalesce(c, absent) else c
        }
        val a = lo.fold(lit(0))(b => at(b._2, lit(0)))
        val z = hi.fold(n)(b => at(b._2, n))
        e.col.substr((a + 1).cast(IntegerType), when(z < a, lit(0)).otherwise(z - a).cast(IntegerType))
    }
    Typed(col, StringType)
  }

  // ------------------------------------------------------------ dispatch

  private def applyMethod(targetAst: Ast, target: Typed, name: String,
                          argAsts: Seq[Ast], args: Seq[Typed]): Typed = {
    if (target.dt != StringType)
      throw CompileError(s"method .$name() only supported on strings, got ${target.dt.simpleString} " +
        "(AttributeError in Python)")
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
        if (s.isEmpty) throw CompileError("split() separator is empty (ValueError in Python)")
        Typed(split(c, java.util.regex.Pattern.quote(s), -1), ArrayType(StringType))
      case ("join", Seq(a)) if a.dt.isInstanceOf[ArrayType] =>
        val s = strLit(targetAst).getOrElse(
          throw CompileError("join() target must be a string literal separator"))
        Typed(array_join(a.col, s), StringType)
      case ("replace", Seq(a, b)) => Typed(replace(c, a.col, b.col), StringType) // literal, not regex — Python str.replace
      case ("upper", Nil)      => Typed(upper(c), StringType)
      case ("lower", Nil)      => Typed(lower(c), StringType)
      case ("strip", Nil)      => Typed(trim(c, whitespace), StringType)
      case ("lstrip", Nil)     => Typed(ltrim(c, whitespace), StringType)
      case ("rstrip", Nil)     => Typed(rtrim(c, whitespace), StringType)
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
      case ("isalpha", Nil) => Typed(c.rlike("^\\p{L}+$"), BooleanType)
      case ("ljust", Seq(_)) =>
        val w = width(argAsts.head)
        Typed(padded(c, w, rpad(c, w, " ")), StringType)
      case ("rjust", Seq(_)) =>
        val w = width(argAsts.head)
        Typed(padded(c, w, lpad(c, w, " ")), StringType)
      case ("title", Nil)      => Typed(initcap(c), StringType)
      case ("capitalize", Nil) =>
        Typed(concat(upper(substring(c, 1, 1)), lower(substring(c, 2, Int.MaxValue))), StringType)
      case ("startswith", Seq(p)) => Typed(startswith(c, p.col), BooleanType)
      case ("endswith", Seq(p))   => Typed(endswith(c, p.col), BooleanType)
      case ("zfill", Seq(_)) => // zeros go after a leading sign
        val w = width(argAsts.head)
        val signed = c.startsWith("-") || c.startsWith("+")
        Typed(padded(c, w, when(signed, concat(substring(c, 1, 1),
          lpad(substring(c, 2, Int.MaxValue), w - 1, "0"))).otherwise(lpad(c, w, "0"))), StringType)
      case _ => throw CompileError(s"unsupported string method .$name/${args.length}")
    }
  }

  /** The characters Python's str.isspace() accepts, which strip() drops. */
  private val whitespace =
    " \t\n\u000b\u000c\r\u001c\u001d\u001e\u001f\u0085\u00a0\u1680" +
      (0x2000 to 0x200a).map(_.toChar).mkString + "\u2028\u2029\u202f\u205f\u3000"

  private def litInt(a: Ast): Int =
    intLit(a).getOrElse(throw CompileError("expected integer literal argument"))

  /** A pad width: a non-negative integer literal (lpad/rpad would
    * truncate to a negative one, where Python returns the string as is).
    */
  private def width(a: Ast): Int =
    intLit(a).filter(_ >= 0).getOrElse(throw CompileError("expected integer literal argument"))

  /** `pad` where `c` is shorter than `w`, else `c` as is: Python never
    * shortens a string it pads, where lpad/rpad truncate to the width.
    */
  private def padded(c: Column, w: Int, pad: Column): Column =
    when(length(c) >= w, c).otherwise(pad)

  private def applyBuiltin(fn: String, argAsts: Seq[Ast], args: Seq[Typed]): Typed = (fn, args) match {
    case ("str", Seq(a))   => Typed(if (a.noneable) coalesce(pyStr(a), lit("None")) else pyStr(a), StringType)
    case ("int", Seq(a))   => Typed(a.col.cast(LongType), LongType)
    case ("float", Seq(a)) => Typed(a.col.cast(DoubleType), DoubleType)
    case ("bool", Seq(a))  => Typed(truthy(a), BooleanType)
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
    case ("min" | "max", as) if as.length >= 2 => extreme(fn, as)
    case _ => throw CompileError(s"unsupported function $fn/${args.length}")
  }

  /** min/max of two or more values. least/greatest skip nulls, where
    * Python raises on a None, so any null argument makes the result null.
    */
  private def extreme(fn: String, as: Seq[Typed]): Typed = {
    if (as.isEmpty) throw CompileError(s"$fn() of an empty list (ValueError in Python)")
    val dt = as.map(_.dt).reduce(unify)
    if (dt == StringType && as.exists(_.dt != StringType))
      throw CompileError(s"$fn() between str and ${as.map(_.dt).find(_ != StringType).get.simpleString} is a TypeError in Python")
    val cols = as.map(_.col)
    val m = if (fn == "min") least(cols: _*) else greatest(cols: _*)
    Typed(if (as.size == 1) m else when(!cols.map(_.isNull).reduce(_ || _), m), dt)
  }

  private def numericResult(a: DataType, b: DataType): DataType =
    if (a == DoubleType || b == DoubleType) DoubleType else LongType

  private def unify(a: DataType, b: DataType): DataType =
    if (a == b) a
    else if (a == NullType) b else if (b == NullType) a
    else if (Set(a, b) == Set[DataType](LongType, DoubleType)) DoubleType
    else StringType
}
