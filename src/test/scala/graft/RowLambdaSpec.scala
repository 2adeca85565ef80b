package graft

import graft.functions.MiniLambda
import graft.operators.Ops
import graft.plans.Application
import org.apache.spark.sql.functions._

/** The interpreted application fallback (SURVEY §7.4 escape hatch): lambdas
  * MiniLambda cannot compile to Columns error by default and run under the
  * explicit opt-in flag, with Python dynamic semantics.
  */
class RowLambdaSpec extends SparkSpec {
  import spark.implicits._

  private val FLAG = "spark.graft.application.fallback"

  private def df = Seq(
    ("Alpha Beta Gamma", 5L, true, "x"),
    ("single", 0L, false, ""),
    ((null: String), 15L, true, "y")
  ).toDF("name", "x", "b", "s")

  private def run(fn: String, in: Seq[String] = Seq("name")) =
    Ops.application(df, Application(in, fn, Some("out")))
      .select("out").collect().map(r => Option(r.get(0))).toSeq

  private def withFlag[T](body: => T): T = {
    spark.conf.set(FLAG, "true")
    try body finally spark.conf.unset(FLAG)
  }

  test("out-of-surface lambda: CompileError without the flag, mentions the flag") {
    // python truthy or (value-returning) is outside the compiled surface
    val e = intercept[MiniLambda.CompileError] {
      run("lambda r: r['s'] or 'default'", Seq("s"))
    }
    assert(e.msg.contains("spark.graft.application.fallback"))
    // string + non-string is a compile error in the Column surface
    val e2 = intercept[MiniLambda.CompileError] {
      run("lambda r: r['name'] + 1", Seq("name"))
    }
    assert(e2.msg.contains("fallback"))
  }

  test("q_application_fallback builds with the flag but does not leave it set") {
    val before = spark.conf.getOption(FLAG)
    val q = SparkEntry.queries("q_application_fallback")(spark, sf0001)
    assert(spark.conf.getOption(FLAG) == before)
    // the built frame keeps its RowLambda column after the flag is restored
    assert(q.limit(3).collect().length == 3)
    intercept[MiniLambda.CompileError] {
      run("lambda r: r['s'] or 'default'", Seq("s"))
    }
  }

  test("truthy or-default and truthy and run under the flag (value-returning)") {
    assert(withFlag { run("lambda r: r['s'] or 'default'", Seq("s")) } ==
      Seq(Some("x"), Some("default"), Some("y")))
    assert(withFlag { run("lambda r: r['s'] and 'seen'", Seq("s")) } ==
      Seq(Some("seen"), Some(""), Some("seen")))
    // or-chains with mixed truthiness sources (long 0 is falsy)
    assert(withFlag { run("lambda r: r['x'] or 'zero'", Seq("x")) } ==
      Seq(Some("5"), Some("zero"), Some("15")))
  }

  test("lenient string + non-string concat runs under the flag, null propagates") {
    assert(withFlag { run("lambda r: r['name'] + 1", Seq("name")) } ==
      Seq(Some("Alpha Beta Gamma1"), Some("single1"), None))
  }

  test("in-surface python parity stays compiled: repetition, chained compare, find/count") {
    // these now compile to native Columns (repeat / chained &&) — no flag
    assert(run("lambda r: r['s'] * 2", Seq("s")) == Seq(Some("xx"), Some(""), Some("yy")))
    assert(run("lambda r: 0 < r['x'] < 10", Seq("x")) ==
      Seq(Some(true), Some(false), Some(false)))
    assert(run("lambda r: r['name'].find('Beta')") == Seq(Some(6L), Some(-1L), None))
    assert(run("lambda r: r['name'].count('a')") == Seq(Some(4L), Some(0L), None))
  }

  test("in-surface lambdas still take the compiled Column path (no flag needed)") {
    val got = run("lambda r: r['name'].replace(' ', '_').upper()")
    assert(got == Seq(Some("ALPHA_BETA_GAMMA"), Some("SINGLE"), None))
  }
}
