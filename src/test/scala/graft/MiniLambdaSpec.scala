package graft

import graft.functions.MiniLambda
import org.apache.spark.sql.types._

class MiniLambdaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = Seq(
    ("$1050.00", "hello world", 3L, 2.5),
    ("$25.50", "FOO", 10L, 0.5)
  ).toDF("price", "txt", "n", "x")

  private def evalOne[T](expr: String): Seq[Any] =
    base.select(MiniLambda.compile(expr, base.schema).as("r")).collect().map(_.get(0)).toSeq

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
}
