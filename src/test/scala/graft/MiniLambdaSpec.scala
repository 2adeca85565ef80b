package graft

import graft.functions.MiniLambda
import graft.operators.Ops
import graft.plans.Application
import org.apache.spark.sql.types._

class MiniLambdaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = Seq(
    ("$1050.00", "hello world", 3L, 2.5),
    ("$25.50", "FOO", 10L, 0.5)
  ).toDF("price", "txt", "n", "x")

  private def evalOne[T](expr: String): Seq[Any] =
    base.select(MiniLambda.compile(expr, base.schema).as("r")).collect().map(_.get(0)).toSeq

  /** Rows with a null string, an empty one, a zero and a null boolean,
    * through `Ops.application` as a pipeline runs it.
    */
  private def df = Seq(
    ("Alpha Beta Gamma", 5L, Some(true), "x", 7, 2.5),
    ("single", 0L, Some(false), "", 0, Double.NaN),
    ((null: String), 15L, None, "y", -3, 1e16)
  ).toDF("name", "x", "b", "s", "i", "d")

  private def run(fn: String, in: Seq[String] = Seq("name")) =
    Ops.application(df, Application(in, fn, Some("out")))
      .select("out").collect().map(r => Option(r.get(0))).toSeq

  test("replace strips characters literally (not regex)") {
    assert(evalOne("lambda r: r['price'].replace('$', '')") == Seq("1050.00", "25.50"))
  }

  test("upper/lower/strip chains") {
    assert(evalOne("lambda r: r['txt'].upper()") == Seq("HELLO WORLD", "FOO"))
    assert(evalOne("lambda r: r['txt'].lower().replace('o', '0')") == Seq("hell0 w0rld", "f00"))
  }

  test("arithmetic with python true division and floor division") {
    assert(evalOne("lambda r: r['n'] * 2") == Seq(6L, 20L))
    assert(evalOne("lambda r: r['n'] / 2") == Seq(1.5, 5.0))
    assert(evalOne("lambda r: r['n'] // 2") == Seq(1L, 5L))
    assert(evalOne("lambda r: r['n'] % 2") == Seq(1L, 0L))
    // Python modulo takes the divisor's sign (Spark's % is the remainder)
    assert(evalOne("lambda r: -7 % 3") == Seq(2L, 2L))
    assert(evalOne("lambda r: r['n'] % -4") == Seq(-1L, -2L))
    assert(evalOne("lambda r: -r['x'] % 2") == Seq(1.5, 1.5))
    // a zero float quotient is signed as the true quotient is
    assert(evalOne("lambda r: str(-0.0 // 1.0) + str(0.0 // -1.0) + str(0.5 // 1.0) + str(-0.5 // 1.0)") ==
      Seq("-0.0-0.00.0-1.0", "-0.0-0.00.0-1.0"))
    // exponent literals are ordinary double literals
    assert(evalOne("lambda r: r['x'] * 1e3") == Seq(2500.0, 500.0))
  }

  test("str()/int()/float() conversions and string + concat") {
    assert(evalOne("lambda r: str(r['n']) + '!'") == Seq("3!", "10!"))
    assert(evalOne("lambda r: float(r['n']) * r['x']") == Seq(7.5, 5.0))
  }

  test("conditional expression A if C else B") {
    assert(evalOne("lambda r: 'big' if r['n'] > 5 else 'small'") == Seq("small", "big"))
  }

  test("comparisons, and/or, startswith") {
    assert(evalOne("lambda r: r['n'] > 2 and r['x'] < 1.0") == Seq(false, true))
    assert(evalOne("lambda r: r['price'].startswith('$')") == Seq(true, true))
    // a str never equals a bool or number (CPython parity)
    assert(evalOne("lambda r: r['txt'] == True") == Seq(false, false))
    assert(evalOne("lambda r: r['txt'] != True") == Seq(true, true))
    assert(evalOne("lambda r: 3 == r['price']") == Seq(false, false))
    assert(evalOne("lambda r: 'o' in r['txt'] == True") == Seq(false, false))
  }

  test("slicing and len") {
    assert(evalOne("lambda r: r['price'][1:]") == Seq("1050.00", "25.50"))
    assert(evalOne("lambda r: r['txt'][0:4]") == Seq("hell", "FOO"))
    assert(evalOne("lambda r: len(r['txt'])") == Seq(11L, 3L))
  }

  test("round/abs/min/max") {
    assert(evalOne("lambda r: round(r['x'] * 2, 1)") == Seq(5.0, 1.0))
    assert(evalOne("lambda r: max(r['n'], 5)") == Seq(5L, 10L))
    // negative ndigits round to tens/hundreds, half-even like CPython
    assert(evalOne("lambda r: round(r['x'] * 100, -2)") == Seq(200.0, 0.0))
    assert(evalOne("lambda r: round(r['n'], -1)") == Seq(0L, 10L))
  }

  test("membership and None tests: in / not in / is None / is not None") {
    assert(evalOne("lambda r: 'o' in r['txt']") == Seq(true, false))
    assert(evalOne("lambda r: 'z' not in r['txt']") == Seq(true, true))
    assert(evalOne("lambda r: r['txt'] is None") == Seq(false, false))
    assert(evalOne("lambda r: r['txt'] is not None") == Seq(true, true))
    intercept[MiniLambda.CompileError] {
      MiniLambda.compile("lambda r: 5 in r['txt']", base.schema)
    }
  }

  test("round() is banker's rounding on the exact binary value (CPython parity)") {
    // x column holds 2.5 and 0.5 — CPython: round(2.5)=2, round(0.5)=0
    // (Spark's round would give 3 and 1)
    assert(evalOne("lambda r: round(r['x'])") == Seq(2L, 0L))
    assert(evalOne("lambda r: round(1.5)") == Seq(2L, 2L))
    assert(evalOne("lambda r: round(3.5)") == Seq(4L, 4L))
    assert(evalOne("lambda r: round(-1.5)") == Seq(-2L, -2L))
    // nearest double to 2.675 is 2.67499…, so CPython gives 2.67 — both
    // Spark round AND bround give 2.68 (they round the string repr)
    assert(evalOne("lambda r: round(2.675, 2)") == Seq(2.67, 2.67))
    // 0.125 is exact in binary: a true tie → half-even → 0.12
    assert(evalOne("lambda r: round(0.125, 2)") == Seq(0.12, 0.12))
    // round(int) is identity, stays integral
    assert(evalOne("lambda r: round(r['n'])") == Seq(3L, 10L))
  }

  test("split / list indexing / join (CPython parity)") {
    assert(evalOne("lambda r: r['txt'].split(' ')[0]") == Seq("hello", "FOO"))
    assert(evalOne("lambda r: r['txt'].split(' ')[-1]") == Seq("world", "FOO"))
    assert(evalOne("lambda r: len(r['txt'].split())") == Seq(2L, 1L))
    assert(evalOne("lambda r: '-'.join(r['txt'].split())") == Seq("hello-world", "FOO"))
    // literal-separator split keeps empty strings (Python str.split(sep))
    assert(evalOne("lambda r: r['price'].split('.')[1]") == Seq("00", "50"))
    assert(evalOne("lambda r: 'hello' in r['txt'].split()") == Seq(true, false))
  }

  test("chained comparisons (CPython parity)") {
    assert(evalOne("lambda r: 1 < r['n'] < 5") == Seq(true, false))
    assert(evalOne("lambda r: 3 <= r['n'] <= 10") == Seq(true, true))
    assert(evalOne("lambda r: 1 < 3 < 5") == Seq(true, true))
    assert(evalOne("lambda r: 3 < 3 <= 3") == Seq(false, false))
    // membership chains too: a in b in c ≡ (a in b) and (b in c)
    assert(evalOne("lambda r: 'l' in r['txt'] in 'say hello world'") == Seq(true, false))
  }

  test("count/find/isdigit/isalpha/ljust/rjust/strip-chars (CPython parity)") {
    assert(evalOne("lambda r: r['txt'].count('l')") == Seq(3L, 0L))
    assert(evalOne("lambda r: 'aaa'.count('aa')") == Seq(1L, 1L)) // non-overlapping
    assert(evalOne("lambda r: r['txt'].find('world')") == Seq(6L, -1L))
    assert(evalOne("lambda r: r['txt'].isdigit()") == Seq(false, false))
    assert(evalOne("lambda r: '42'.isdigit()") == Seq(true, true))
    assert(evalOne("lambda r: r['txt'].isalpha()") == Seq(false, true))
    assert(evalOne("lambda r: 'ab'.ljust(4) + '|'") == Seq("ab  |", "ab  |"))
    assert(evalOne("lambda r: 'ab'.rjust(4) + '|'") == Seq("  ab|", "  ab|"))
    // never shorter than the input, and zfill's zeros go after the sign
    assert(evalOne("lambda r: 'abc'.ljust(2)") == Seq("abc", "abc"))
    assert(evalOne("lambda r: 'abc'.rjust(2)") == Seq("abc", "abc"))
    assert(evalOne("lambda r: 'hello'.zfill(3)") == Seq("hello", "hello"))
    assert(evalOne("lambda r: '-5'.zfill(3)") == Seq("-05", "-05"))
    assert(evalOne("lambda r: r['txt'].zfill(5)") == Seq("hello world", "00FOO"))
    assert(evalOne("lambda r: 'xxhixx'.strip('x')") == Seq("hi", "hi"))
  }

  test("parenthesized expressions and method chains on conditionals") {
    assert(evalOne("lambda r: (r['n'] + 1) * 2") == Seq(8L, 22L))
    assert(evalOne("lambda r: (r['txt'] if r['n'] > 5 else r['price']).upper()")
      == Seq("$1050.00", "FOO"))
  }

  test("string + non-string is a compile error (Python TypeError parity)") {
    intercept[MiniLambda.CompileError] {
      MiniLambda.compile("lambda r: r['txt'] + r['n']", base.schema)
    }
    // so is ordering a str against a bool or number
    Seq("r['txt'] < 3", "r['n'] >= 'a'", "r['txt'] <= False").foreach { e =>
      intercept[MiniLambda.CompileError](MiniLambda.compile(s"lambda r: $e", base.schema))
    }
  }

  test("unknown column and unsupported syntax produce precise errors") {
    intercept[MiniLambda.CompileError] { MiniLambda.compile("lambda r: r['nope']", base.schema) }
    intercept[MiniLambda.CompileError] { MiniLambda.compile("lambda r: __import__('os')", base.schema) }
  }

  test("type inference tracks results") {
    assert(MiniLambda.inferType("lambda r: r['n'] / 2", base.schema) == DoubleType)
    assert(MiniLambda.inferType("lambda r: str(r['n'])", base.schema) == StringType)
    assert(MiniLambda.inferType("lambda r: r['n'] > 2", base.schema) == BooleanType)
  }

  test("an out-of-surface lambda raises CompileError whose message names no conf key") {
    val e = intercept[MiniLambda.CompileError] {
      run("lambda r: r['name'].casefold()")
    }
    assert(e.msg.contains("casefold") && !e.msg.contains("spark.graft"))
  }

  test("q_application_fallback builds on the default session and leaves its conf untouched") {
    val before = spark.conf.getAll
    val q = SparkEntry.queries("q_application_fallback")(spark, sf0001)
    assert(spark.conf.getAll == before)
    assert(q.limit(3).collect().length == 3)
  }

  test("truthy or-default and truthy and return an operand (value-returning)") {
    assert(run("lambda r: r['s'] or 'default'", Seq("s")) ==
      Seq(Some("x"), Some("default"), Some("y")))
    assert(run("lambda r: r['s'] and 'seen'", Seq("s")) ==
      Seq(Some("seen"), Some(""), Some("seen")))
    // or-chains with mixed truthiness sources (long 0 is falsy)
    assert(run("lambda r: r['x'] or 'zero'", Seq("x")) ==
      Seq(Some("5"), Some("zero"), Some("15")))
  }

  test("string + non-string is a CompileError on the application path too") {
    // a Python TypeError on every row: no lenient concatenation
    intercept[MiniLambda.CompileError](run("lambda r: r['name'] + 1"))
  }

  test("in-surface python parity stays compiled: repetition, chained compare, find/count") {
    assert(run("lambda r: r['s'] * 2", Seq("s")) == Seq(Some("xx"), Some(""), Some("yy")))
    assert(run("lambda r: 0 < r['x'] < 10", Seq("x")) ==
      Seq(Some(true), Some(false), Some(false)))
    assert(run("lambda r: r['name'].find('Beta')") == Seq(Some(6L), Some(-1L), None))
    assert(run("lambda r: r['name'].count('a')") == Seq(Some(4L), Some(0L), None))
  }

  test("application lambdas lower to native Columns: no interpreted expression in the plan") {
    val out = Ops.application(df, Application(Seq("name"),
      "lambda r: r['name'].replace(' ', '_').upper()", Some("out")))
    assert(out.select("out").collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some("ALPHA_BETA_GAMMA"), Some("SINGLE"), None))
    assert(!out.queryExecution.analyzed.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])))
  }

  test("not and bool() use Python truthiness on strings, numbers and None") {
    assert(run("lambda r: not r['s']", Seq("s")) == Seq(Some(false), Some(true), Some(false)))
    assert(run("lambda r: bool(r['s'])", Seq("s")) == Seq(Some(true), Some(false), Some(true)))
    assert(run("lambda r: not r['x']", Seq("x")) == Seq(Some(false), Some(true), Some(false)))
    assert(run("lambda r: bool(r['d'])", Seq("d")) == Seq(Some(true), Some(true), Some(true)))
    // None is falsy: not None is True, bool(None) is False
    assert(run("lambda r: not r['b']", Seq("b")) == Seq(Some(false), Some(true), Some(true)))
    assert(run("lambda r: bool(r['name'])") == Seq(Some(true), Some(true), Some(false)))
    assert(run("lambda r: 'yes' if r['s'] else 'no'", Seq("s")) ==
      Seq(Some("yes"), Some("no"), Some("yes")))
  }

  test("str() renders bools, doubles, NaN, infinities and None as Python does") {
    assert(run("lambda r: str(r['b'])", Seq("b")) == Seq(Some("True"), Some("False"), Some("None")))
    assert(run("lambda r: str(r['d'])", Seq("d")) == Seq(Some("2.5"), Some("nan"), Some("1e+16")))
    assert(evalOne("lambda r: str(1e-05) + str(0.0001) + str(100.0)") ==
      Seq("1e-050.0001100.0", "1e-050.0001100.0"))
    val inf = Seq(Double.PositiveInfinity, Double.NegativeInfinity, -0.0).toDF("v")
    assert(inf.select(MiniLambda.compile("lambda r: str(r['v'])", inf.schema)).collect()
      .map(_.getString(0)).toSeq == Seq("inf", "-inf", "-0.0"))
    // str-unified branches render the same way
    assert(run("lambda r: r['s'] if r['x'] > 10 else r['d']", Seq("s", "x", "d")) ==
      Seq(Some("2.5"), Some("nan"), Some("y")))
  }

  test("int columns read as bigint: r['i'] if c else 0 stays integral") {
    val out = Ops.application(df, Application(Seq("i", "x"),
      "lambda r: r['i'] if r['x'] > 1 else 0", Some("out")))
    assert(out.schema("out").dataType == LongType)
    assert(out.select("out").collect().map(_.get(0)).toSeq == Seq(7L, 0L, -3L))
    assert(run("lambda r: round(r['i'], 0)", Seq("i")) == Seq(Some(7L), Some(0L), Some(-3L)))
  }

  test("comparisons involving NaN and None follow Python") {
    // NaN is unordered and unequal to everything, itself included
    assert(run("lambda r: r['d'] > 1", Seq("d")) == Seq(Some(true), Some(false), Some(true)))
    assert(run("lambda r: r['d'] <= 1e20", Seq("d")) == Seq(Some(true), Some(false), Some(true)))
    assert(run("lambda r: r['d'] == r['d']", Seq("d")) == Seq(Some(true), Some(false), Some(true)))
    assert(run("lambda r: r['d'] != r['d']", Seq("d")) == Seq(Some(false), Some(true), Some(false)))
    // None == 'x' is False and None != 'x' is True; ordering None raises,
    // which the engine propagates as null
    assert(run("lambda r: r['name'] == 'single'") == Seq(Some(false), Some(true), Some(false)))
    assert(run("lambda r: r['name'] != 'single'") == Seq(Some(true), Some(false), Some(true)))
    assert(run("lambda r: r['name'] < 'b'") == Seq(Some(true), Some(false), None))
    // None or b is b, and None and b is None
    assert(run("lambda r: r['b'] or False", Seq("b")) == Seq(Some(true), Some(false), Some(false)))
    assert(run("lambda r: r['b'] and False", Seq("b")) == Seq(Some(false), Some(false), None))
  }

  test("list literals, computed slices and out-of-range string indexes") {
    assert(run("lambda r: r['s'] in ['x', 'y']", Seq("s")) == Seq(Some(true), Some(false), Some(true)))
    assert(run("lambda r: r['name'] not in ['single']") == Seq(Some(true), Some(false), Some(true)))
    // `in` on a list is ==: a str never equals a number or bool, None equals None
    assert(run("lambda r: r['x'] in ['5', 'a']", Seq("x")) == Seq(Some(false), Some(false), Some(false)))
    assert(run("lambda r: r['b'] in ['x', 0]", Seq("b")) == Seq(Some(false), Some(true), Some(false)))
    assert(run("lambda r: r['name'] in [r['b']]", Seq("name", "b")) == Seq(Some(false), Some(false), Some(true)))
    assert(run("lambda r: r['name'] in [None]") == Seq(Some(false), Some(false), Some(true)))
    assert(run("lambda r: '-'.join([r['s'], 'z'])", Seq("s")) == Seq(Some("x-z"), Some("-z"), Some("y-z")))
    assert(run("lambda r: max([r['x'], 3, r['i']])", Seq("x", "i")) == Seq(Some(7L), Some(3L), Some(15L)))
    assert(run("lambda r: r['name'][-3:-1]") == Seq(Some("mm"), Some("gl"), None))
    assert(run("lambda r: r['name'][1:-1]") == Seq(Some("lpha Beta Gamm"), Some("ingl"), None))
    assert(run("lambda r: r['name'][:r['x']]", Seq("name", "x")) ==
      Seq(Some("Alpha"), Some(""), None))
    assert(run("lambda r: r['name'][r['i']:]", Seq("name", "i")) ==
      Seq(Some("eta Gamma"), Some("single"), None))
    intercept[Exception](run("lambda r: r['s'][0]", Seq("s"))) // '' has no [0]: IndexError
    // Python builds the whole list before indexing it
    intercept[MiniLambda.CompileError](run("lambda r: [r['name'], r['name'] + 1][0]"))
    assert(run("lambda r: len([r['name'], 1])") == Seq(Some(2L), Some(2L), Some(2L)))
  }
}
