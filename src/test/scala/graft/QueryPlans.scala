package graft

import org.apache.spark.sql.execution.SparkPlan

/** Every non-stream SparkEntry query built and planned ONCE per test JVM on
  * sf0.001, shared by the plan audits (PlanAuditSpec, ScanPruneSpec,
  * ShuffleBudgetSpec) instead of each re-planning all of them.
  *
  * The plans are taken with AQE off: shuffles are inserted by
  * EnsureRequirements in the executedPlan preparations, and AQE would wrap
  * the result in an opaque AdaptiveSparkPlanExec. The structural audits
  * read `sparkPlan`, which is taken before those preparations.
  */
object QueryPlans {

  /** One query's physical plan before preparations, and after them. */
  final case class Plans(sparkPlan: SparkPlan, executedPlan: SparkPlan)

  /** Each query, in SparkEntry.queries' order, with its plans or the
    * exception its build or planning threw.
    */
  lazy val all: Seq[(String, Either[Exception, Plans])] = {
    val spark = SparkSpec.session
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries.keys.filterNot(_.startsWith("stream_")).toSeq.map { name =>
      name -> (try {
        val qe = SparkEntry.queries(name)(spark, SparkSpec.sf0001).queryExecution
        Right(Plans(qe.sparkPlan, qe.executedPlan))
      } catch { case e: Exception => Left(e) })
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  /** The queries that planned. */
  def planned: Seq[(String, Plans)] = all.collect { case (name, Right(p)) => name -> p }

  /** Every node of `p`, pre-order; with `subqueries`, also every node of its
    * physical subqueries.
    */
  def nodes(p: SparkPlan, subqueries: Boolean = true): Seq[SparkPlan] = {
    // QueryPlan.subqueries is type-erased: at the sparkPlan stage a
    // runtime-filter subquery (e.g. the injected bloom_filter_agg) still
    // holds a LOGICAL subtree, so descend only into physical ones
    val subs = if (!subqueries) Nil else p.subqueries.asInstanceOf[Seq[Any]].collect {
      case s: SparkPlan => s
    }
    p +: (p.children ++ subs).flatMap(nodes(_, subqueries))
  }
}
