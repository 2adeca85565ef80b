package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 hides the conversion behind
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils); extension
  * libraries conventionally re-export it from an org.apache.spark.sql
  * subpackage. Used to expose graft's native Catalyst expressions
  * (SimHash/MinHash/vector ops) as ordinary Columns without registry
  * round-trips.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A new session that starts as a copy of `s`: its runtime conf, temp
    * views, functions and optimizer rules, on the same SparkContext. Later
    * changes to either session do not reach the other (Spark keeps
    * `cloneSession` `private[sql]`; `newSession` would drop the runtime conf).
    */
  def cloneSession(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Apply a SparkSessionExtensions' collected function injections to a
    * registry (the step SparkSession.Builder runs at session build) —
    * lets tests exercise an extensions class against the shared session,
    * where getOrCreate would skip extension application.
    */
  def registerFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
                        fr: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(fr)

  /** The optimizer rules an extensions class collected — what the session
    * builder wires into the optimizer's "User Provided Optimizers" batch.
    */
  def optimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
                     session: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(session.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
}
