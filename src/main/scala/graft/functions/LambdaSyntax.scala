package graft.functions

import graft.functions.MiniLambda.CompileError
import org.apache.spark.sql.types.StructType

/** The one front end for the reference's `application` lambda strings
  * (Python syntax, e.g. `lambda r: r['unit_price'].replace('$', '')` —
  * reference application.py:19). A lambda is tokenized and parsed once,
  * on the driver, into an [[LambdaSyntax.Ast]], which [[MiniLambda]]
  * lowers to native Catalyst Columns (whole-stage codegen).
  * A syntax error, a bad lambda parameter or an unknown column raises
  * CompileError here, before the lowering runs.
  */
object LambdaSyntax {

  // ------------------------------------------------------------------ AST

  sealed trait Ast
  final case class Lit(v: Any) extends Ast
  final case class ColRef(name: String) extends Ast
  final case class Cond(c: Ast, t: Ast, f: Ast) extends Ast
  final case class OrOp(a: Ast, b: Ast) extends Ast
  final case class AndOp(a: Ast, b: Ast) extends Ast
  final case class NotOp(a: Ast) extends Ast
  final case class Cmp(op: String, a: Ast, b: Ast) extends Ast
  final case class Bin(op: String, a: Ast, b: Ast) extends Ast
  final case class Neg(a: Ast) extends Ast
  final case class Method(target: Ast, name: String, args: Seq[Ast]) extends Ast
  final case class Index(target: Ast, i: Ast) extends Ast
  final case class Slice(target: Ast, lo: Option[Ast], hi: Option[Ast]) extends Ast
  final case class InOp(item: Ast, coll: Ast, negated: Boolean) extends Ast
  final case class IsNone(a: Ast, negated: Boolean) extends Ast
  final case class Builtin(name: String, args: Seq[Ast]) extends Ast
  final case class ListLit(items: Seq[Ast]) extends Ast

  private val builtins = Set("str", "int", "float", "bool", "len", "abs", "round", "min", "max")

  /** Parses `lambda <var>: <expr>`; every `<var>['col']` must name a column
    * of `schema`.
    */
  def parse(fnStr: String, schema: StructType): Ast = {
    val t = fnStr.trim
    if (!t.startsWith("lambda")) throw CompileError(s"expected 'lambda <var>: <expr>', got: $fnStr")
    val colon = t.indexOf(':')
    if (colon < 0) throw CompileError("lambda missing ':'")
    val rowVar = t.substring("lambda".length, colon).trim
    if (rowVar.isEmpty || !rowVar.forall(c => c.isLetterOrDigit || c == '_'))
      throw CompileError(s"bad lambda parameter '$rowVar'")
    val p = new P(Tok.tokenize(t.substring(colon + 1)), rowVar, schema)
    val ast = p.ternary()
    p.end()
    ast
  }

  /** The columns the lambda reads, sorted. */
  def columns(a: Ast): Seq[String] = collectCols(a).toSeq.sorted

  private def collectCols(a: Ast): Set[String] = a match {
    case ColRef(n) => Set(n)
    case Lit(_) => Set.empty
    case Cond(c, t, f) => collectCols(c) ++ collectCols(t) ++ collectCols(f)
    case OrOp(x, y) => collectCols(x) ++ collectCols(y)
    case AndOp(x, y) => collectCols(x) ++ collectCols(y)
    case NotOp(x) => collectCols(x)
    case Cmp(_, x, y) => collectCols(x) ++ collectCols(y)
    case Bin(_, x, y) => collectCols(x) ++ collectCols(y)
    case Neg(x) => collectCols(x)
    case Method(t, _, as) => collectCols(t) ++ as.flatMap(collectCols)
    case Index(t, i) => collectCols(t) ++ collectCols(i)
    case Slice(t, lo, hi) => collectCols(t) ++ lo.toSeq.flatMap(collectCols) ++ hi.toSeq.flatMap(collectCols)
    case InOp(i, c, _) => collectCols(i) ++ collectCols(c)
    case IsNone(x, _) => collectCols(x)
    case Builtin(_, as) => as.flatMap(collectCols).toSet
    case ListLit(is) => is.flatMap(collectCols).toSet
  }

  // ------------------------------------------------------------ tokenizer

  private object Tok {
    sealed trait T
    final case class Ident(s: String) extends T
    final case class Num(s: String) extends T
    final case class Str(s: String) extends T
    final case class Op(s: String) extends T

    def tokenize(s: String): Vector[T] = {
      val out = Vector.newBuilder[T]
      var i = 0
      while (i < s.length) {
        val c = s(i)
        if (c.isWhitespace) i += 1
        else if (c.isDigit || (c == '.' && i + 1 < s.length && s(i + 1).isDigit)) {
          val start = i
          while (i < s.length && (s(i).isDigit || s(i) == '.' || s(i) == 'e' || s(i) == 'E' ||
            ((s(i) == '+' || s(i) == '-') && i > start && (s(i - 1) == 'e' || s(i - 1) == 'E')))) i += 1
          out += Num(s.substring(start, i))
        } else if (c.isLetter || c == '_') {
          val start = i
          while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
          out += Ident(s.substring(start, i))
        } else if (c == '\'' || c == '"') {
          val sb = new StringBuilder
          var closed = false
          i += 1
          while (i < s.length && !closed) {
            if (s(i) == '\\' && i + 1 < s.length) {
              sb.append(s(i + 1) match {
                case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
                case other => other
              }); i += 2
            } else if (s(i) == c) { closed = true; i += 1 }
            else { sb.append(s(i)); i += 1 }
          }
          if (!closed) throw CompileError(s"unterminated string literal in: $s")
          out += Str(sb.toString)
        } else {
          val two = if (i + 1 < s.length) s.substring(i, i + 2) else ""
          if (Set("==", "!=", "<=", ">=", "//", "**").contains(two)) { out += Op(two); i += 2 }
          else if ("+-*/%<>()[],:.".indexOf(c) >= 0) { out += Op(c.toString); i += 1 }
          else throw CompileError(s"unexpected character '$c' in lambda body")
        }
      }
      out.result()
    }
  }

  // --------------------------------------------------------------- parser

  private final class P(ts: Vector[Tok.T], rowVar: String, schema: StructType) {
    import Tok._
    private var pos = 0
    private def peek: Option[T] = if (pos < ts.length) Some(ts(pos)) else None
    private def next(): T =
      if (pos < ts.length) { val t = ts(pos); pos += 1; t }
      else throw CompileError("unexpected end of lambda body")
    private def acceptOp(o: String): Boolean = peek match {
      case Some(Op(`o`)) => pos += 1; true; case _ => false
    }
    private def acceptIdent(w: String): Boolean = peek match {
      case Some(Ident(`w`)) => pos += 1; true; case _ => false
    }
    private def expectOp(o: String): Unit =
      if (!acceptOp(o)) throw CompileError(s"expected '$o' at token $pos")
    def end(): Unit =
      if (pos < ts.length) throw CompileError(s"trailing tokens from position $pos")

    // Python conditional expression: A if C else B
    def ternary(): Ast = {
      val t = orExpr()
      if (acceptIdent("if")) {
        val c = orExpr()
        if (!acceptIdent("else")) throw CompileError("conditional expression missing 'else'")
        Cond(c, t, ternary())
      } else t
    }
    private def orExpr(): Ast = {
      var a = andExpr()
      while (acceptIdent("or")) a = OrOp(a, andExpr())
      a
    }
    private def andExpr(): Ast = {
      var a = notExpr()
      while (acceptIdent("and")) a = AndOp(a, notExpr())
      a
    }
    private def notExpr(): Ast =
      if (acceptIdent("not")) {
        if (acceptIdent("in")) throw CompileError("'not in' needs a left operand")
        NotOp(notExpr())
      } else comparison()

    // Python chained comparisons: a < b in c ≡ (a < b) and (b in c)
    private def comparison(): Ast = {
      val a = addSub()
      var result: Option[Ast] = None
      var prev = a
      def link(l: Ast): Unit = result = Some(result.map(AndOp(_, l)).getOrElse(l))
      var done = false
      while (!done) peek match {
        case Some(Op(o)) if Set("==", "!=", "<", ">", "<=", ">=").contains(o) =>
          pos += 1
          val b = addSub()
          link(Cmp(o, prev, b)); prev = b
        case Some(Ident("in")) =>
          pos += 1
          val b = addSub()
          link(InOp(prev, b, negated = false)); prev = b
        case Some(Ident("not")) =>
          pos += 1
          if (!acceptIdent("in")) throw CompileError("expected 'in' after 'not'")
          val b = addSub()
          link(InOp(prev, b, negated = true)); prev = b
        case Some(Ident("is")) =>
          pos += 1
          val neg = acceptIdent("not")
          if (!acceptIdent("None")) throw CompileError("only 'is [not] None' is supported")
          link(IsNone(prev, neg))
        case _ => done = true
      }
      result.getOrElse(a)
    }
    private def addSub(): Ast = {
      var a = mulDiv()
      var done = false
      while (!done) peek match {
        case Some(Op(o @ ("+" | "-"))) => pos += 1; a = Bin(o, a, mulDiv())
        case _ => done = true
      }
      a
    }
    private def mulDiv(): Ast = {
      var a = unary()
      var done = false
      while (!done) peek match {
        case Some(Op(o @ ("*" | "/" | "%" | "//"))) => pos += 1; a = Bin(o, a, unary())
        case _ => done = true
      }
      a
    }
    private def unary(): Ast =
      if (acceptOp("-")) Neg(unary()) else postfix()

    private def args(): Seq[Ast] = {
      expectOp("(")
      val out = Vector.newBuilder[Ast]
      if (!acceptOp(")")) {
        out += ternary()
        while (acceptOp(",")) out += ternary()
        expectOp(")")
      }
      out.result()
    }

    private def postfix(): Ast = {
      var a = atom()
      var done = false
      while (!done) peek match {
        case Some(Op(".")) =>
          pos += 1
          next() match {
            case Ident(m) => a = Method(a, m, args())
            case t => throw CompileError(s"expected method name after '.', got $t")
          }
        case Some(Op("[")) =>
          pos += 1
          // s[i], s[lo:hi], s[lo:], s[:hi], s[:]
          val first = if (peek.contains(Op(":"))) None else Some(ternary())
          if (acceptOp(":")) {
            val hi = if (peek.contains(Op("]"))) None else Some(ternary())
            expectOp("]")
            a = Slice(a, first, hi)
          } else {
            expectOp("]")
            a = Index(a, first.get)
          }
        case _ => done = true
      }
      a
    }

    private def atom(): Ast = next() match {
      case Num(s) =>
        try { if (s.contains('.') || s.toLowerCase.contains('e')) Lit(s.toDouble) else Lit(s.toLong) }
        catch { case _: NumberFormatException => throw CompileError(s"bad number literal '$s'") }
      case Str(s) => Lit(s)
      case Op("(") => val e = ternary(); expectOp(")"); e
      case Op("[") =>
        val items = Vector.newBuilder[Ast]
        if (!acceptOp("]")) {
          items += ternary()
          while (acceptOp(",")) items += ternary()
          expectOp("]")
        }
        ListLit(items.result())
      case Ident("True") => Lit(true)
      case Ident("False") => Lit(false)
      case Ident("None") => Lit(null)
      case Ident(`rowVar`) =>
        expectOp("[")
        next() match {
          case Str(colName) =>
            expectOp("]")
            if (!schema.fieldNames.contains(colName))
              throw CompileError(s"column '$colName' not found in schema")
            ColRef(colName)
          case t => throw CompileError(s"expected column-name string in $rowVar[...], got $t")
        }
      case Ident(f) if peek.contains(Op("(")) =>
        val as = args()
        if (!builtins.contains(f)) throw CompileError(s"unsupported function $f/${as.length}")
        Builtin(f, as)
      case t => throw CompileError(s"unexpected token $t")
    }
  }
}
