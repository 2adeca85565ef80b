package graft

import graft.plans.RangeJoinRule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The RangeJoinRule rewrite: plan shape (nested-loop gone, equi-join in)
  * and result equality against the naive theta join, including edge cases
  * (boundary values, inverted/null intervals, strict bounds).
  */
class RangeRuleSpec extends SparkSpec {

  /** Runs `f` with the rule on at `width`, then leaves the shared session
    * as it found it: no rule, no width.
    */
  private def withRule[A](width: String)(f: => A): A = {
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = rules :+ RangeJoinRule
    spark.conf.set(RangeJoinRule.WidthConf, width)
    try f finally {
      spark.experimental.extraOptimizations = rules
      spark.conf.unset(RangeJoinRule.WidthConf)
    }
  }

  private def fixtures(): (DataFrame, DataFrame) = {
    import spark.implicits._
    val pts = (0 until 400).map(i => (i.toLong, (i % 97) * 1.5)).toDF("pid", "v")
    val ivs = Seq(
      (1L, 0.0, 10.0), (2L, 5.0, 5.0), (3L, 140.0, 150.0),
      (4L, 30.0, 20.0),                  // inverted: must match nothing
      (5L, Double.NaN, 10.0),            // NaN lo: must match nothing
      (6L, 100.0, 120.0)).toDF("iid", "lo", "hi")
    (pts, ivs)
  }

  private def sqlBetween(pts: DataFrame, ivs: DataFrame): DataFrame = {
    pts.createOrReplaceTempView("rr_pts")
    ivs.createOrReplaceTempView("rr_ivs")
    spark.sql("""SELECT pid, v, iid, lo, hi FROM rr_pts p JOIN rr_ivs i
                 ON p.v >= i.lo AND p.v <= i.hi""")
  }

  test("rewrite preserves results exactly and kills the nested loop") {
    val (pts, ivs) = fixtures()
    val naive = sqlBetween(pts, ivs).collect().map(_.toSeq).toSet
    assert(naive.nonEmpty)
    withRule("8") {
      val rewritten = sqlBetween(pts, ivs)
      val planStr = rewritten.queryExecution.executedPlan.toString
      assert(!planStr.contains("BroadcastNestedLoopJoin") && !planStr.contains("CartesianProduct"),
        s"nested loop survived:\n$planStr")
      assert(planStr.contains("Generate explode"), s"no bucket explode in:\n$planStr")
      assert(rewritten.collect().map(_.toSeq).toSet === naive)
    }
  }

  test("rule is off without the conf and skips equi-joins with it") {
    val (pts, ivs) = fixtures()
    val off = sqlBetween(pts, ivs).queryExecution.executedPlan.toString
    assert(off.contains("BroadcastNestedLoopJoin") || off.contains("CartesianProduct"))
    withRule("8") {
      // an equi conjunct means Spark already hash-joins — rule must not touch it
      pts.createOrReplaceTempView("rr_pts")
      ivs.createOrReplaceTempView("rr_ivs")
      val eq = spark.sql("""SELECT pid, v, iid FROM rr_pts p JOIN rr_ivs i
                            ON p.pid = i.iid AND p.v >= i.lo AND p.v <= i.hi""")
      assert(!eq.queryExecution.executedPlan.toString.contains("Generate explode"))
    }
  }

  test("strict bounds and flipped operand order rewrite too") {
    val (pts, ivs) = fixtures()
    pts.createOrReplaceTempView("rr_pts")
    ivs.createOrReplaceTempView("rr_ivs")
    val q = """SELECT pid, v, iid FROM rr_pts p JOIN rr_ivs i
               ON i.lo < p.v AND p.v < i.hi"""
    val naive = spark.sql(q).collect().map(_.toSeq).toSet
    withRule("8") {
      val rw = spark.sql(q)
      assert(rw.queryExecution.executedPlan.toString.contains("Generate explode"))
      assert(rw.collect().map(_.toSeq).toSet === naive)
    }
  }

  test("declarative injection via GraftExtensions carries the rule") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rules = org.apache.spark.sql.graftbridge.Bridge.optimizerRules(ext, spark)
    assert(rules.contains(RangeJoinRule))
  }

  test("q_range_sql rewrites its theta join and leaves the caller's session unchanged") {
    val df = SparkEntry.queries("q_range_sql")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested loop survived:\n$plan")
    assert(plan.contains("Generate explode"), s"no bucket explode in:\n$plan")
    assert(df.collect().nonEmpty)
    assert(spark.conf.getOption(RangeJoinRule.WidthConf).isEmpty)
    assert(!spark.experimental.extraOptimizations.contains(RangeJoinRule))
  }
}
