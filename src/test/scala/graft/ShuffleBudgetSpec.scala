package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Shuffle-budget regression gate — the quantitative companion to
  * PlanAuditSpec's structural doctrine. Every `groupBy`/`join`/
  * `distinct`/`repartition` is a shuffle, and at 100 TB an extra shuffle
  * on a data-scale frame is the difference between one pass over the
  * cluster network and two. This spec pins each query's ShuffleExchange
  * COUNT (physical plan, pre-AQE) to a committed baseline and fails any
  * query whose count GROWS — so a refactor that silently adds a shuffle
  * (a lost co-partitioning, a distinct that used to be map-side, a
  * broadcast that fell back to sort-merge-join's exchanges) is caught in
  * the build, not on the cluster.
  *
  * Counts may legitimately change when a query's algorithm changes:
  * regenerate with
  *   GRAFT_REGEN_SHUFFLE_BASELINE=1 sbt "testOnly graft.ShuffleBudgetSpec"
  * and review the diff of src/test/resources/shuffle_budget.json — the
  * diff IS the review artifact (which queries now shuffle more/less).
  *
  * Runtime-filter subqueries (Catalyst's injected bloom filters) are NOT
  * counted: their injection depends on scan statistics and would make
  * the count environment-sensitive; the main tree is deterministic.
  */
class ShuffleBudgetSpec extends SparkSpec {

  private val baselinePath = "src/test/resources/shuffle_budget.json"

  test("no query shuffles more than its committed budget") {
    // the pre-AQE executedPlan's main tree (QueryPlans); planning failures
    // are PlanAuditSpec's job. An adaptive plan is a leaf that hides its
    // exchanges, so a query that plans in a session with AQE on would count 0
    val adaptive = QueryPlans.planned.collect {
      case (name, p) if QueryPlans.nodes(p.executedPlan).exists(_.isInstanceOf[AdaptiveSparkPlanExec]) => name
    }
    assert(adaptive.isEmpty, s"planned with AQE on, exchanges not countable: ${adaptive.mkString(", ")}")
    val got = scala.collection.immutable.TreeMap.from(QueryPlans.planned.map { case (name, p) =>
      name -> QueryPlans.nodes(p.executedPlan, subqueries = false)
        .count(_.isInstanceOf[ShuffleExchangeExec])
    })
    val f = new java.io.File(baselinePath)
    if (sys.env.contains("GRAFT_REGEN_SHUFFLE_BASELINE") || !f.exists()) {
      val json = got.map { case (k, v) => s"""  "$k": $v""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.createDirectories(f.toPath.getParent)
      java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8"))
      info(s"shuffle baseline written for ${got.size} queries")
    } else {
      val entry = """\s*"([^"]+)":\s*(\d+),?\s*""".r
      val base = scala.io.Source.fromFile(f, "UTF-8").getLines().collect {
        case entry(k, v) => k -> v.toInt
      }.toMap
      val grew = got.collect {
        case (k, v) if base.get(k).exists(v > _) => s"$k: ${base(k)} -> $v"
      }
      val unbudgeted = got.keySet.diff(base.keySet)
      assert(grew.isEmpty,
        s"shuffle count grew (review, then regen with GRAFT_REGEN_SHUFFLE_BASELINE=1): ${grew.mkString(", ")}")
      assert(unbudgeted.isEmpty,
        s"new queries without a shuffle budget (regen with GRAFT_REGEN_SHUFFLE_BASELINE=1): ${unbudgeted.mkString(", ")}")
    }
  }
}
