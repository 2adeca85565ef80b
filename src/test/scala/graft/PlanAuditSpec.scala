package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** SCALE.md §8c as an enforced regression test: an unpartitioned window
  * (WindowExec with an empty partitionSpec — Spark's "moving all data to
  * a single partition" warning) is allowed ONLY for queries that first
  * collapse to a structurally bounded domain and say so inline. Any new
  * query that sorts an unbounded frame on one core fails here with its
  * name, instead of surfacing as a 100 TB incident.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose unpartitioned windows run over bounded domains
    * (score values, day grid, decile table, value histograms, …) —
    * each is documented at its definition site.
    */
  private val boundedDomainWhitelist = Set(
    "q_pr_curve",        // ≤50 score values
    "q_rolling_corr",    // day domain
    "q_bollinger",       // day domain
    "q_runs_test",       // day domain + value histogram
    "ev_flap",           // hour domain
    "ev_funnel_time",    // gap-value histogram
    "q_spearman",        // two value histograms
    "q_lorenz",          // 10-row decile table
    "q_cusum", "ta_zipf", "ev_hazard", "q_auc",
    "ta_curriculum",  // 4-row band-offset table only
    "ta_apportion",   // per-source remainder rows (#sources)
    "ta_quota_sample",// per-source quota rows (#sources)
    "srch_hybrid",    // pooled candidates ≤ 2·poolK rows
    "q_tcloseness",   // 10-band global distribution frame
    "q_fdr",          // ≤25-row brand panel (BH rank + suffix-min)
    "q_changepoint",  // day-domain prefix sums
    "srch_ndcg",      // 10-row retrieved frame
    "srch_ap",        // 10-row retrieved frame
    "q_rolling_median", // day-domain 7-value collect
    "q_kruskal",      // global value histogram (q_spearman's shape)
    "ev_uplift",      // 10-row decile table (q_lorenz's shape)
    "q_emd",          // 10-bin histogram CDF
    "q_volatility",   // day-domain log-returns
    "q_dw",           // day-domain residual lag
    "q_granger",      // day-domain lag pair
    "q_monotonicity", // bounded quantity panel lag
    "q_auc_delong",   // bounded score-domain prefix sums (q_auc's shape)
    "q_conformal"     // ≤50-row |score| histogram cumulative (conformal q̂)
  )

  /** Queries allowed a CartesianProductExec. None plans one today: the
    * reference's `how: cross` bind (q_bind_cross) plans a
    * BroadcastNestedLoopJoin instead.
    */
  private val cartesianWhitelist = Set.empty[String]

  test("the oracle-less bucket stays EMPTY: queries and oracleSql keys match") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty,
      s"queries without a DuckDB oracle: ${q.diff(o).toSeq.sorted.mkString(", ")}")
    assert(o.diff(q).isEmpty,
      s"orphan oracle entries: ${o.diff(q).toSeq.sorted.mkString(", ")}")
  }

  /** Fails on every query whose plan trips the audit outside `whitelist`,
    * and on every whitelist entry whose plan no longer trips it: a stale
    * entry would let its query grow the pattern without a failing test.
    * Planning failures are caught by the window test.
    */
  private def audit(whitelist: Set[String], listName: String, offenderMsg: String)(
      trips: SparkPlan => Boolean): Unit = {
    val triggered = QueryPlans.planned.collect { case (name, p) if trips(p.sparkPlan) => name }.toSet
    val unplanned = QueryPlans.all.collect { case (name, Left(_)) => name }.toSet
    val offenders = triggered -- whitelist
    assert(offenders.isEmpty, s"$offenderMsg: ${offenders.toSeq.sorted.mkString(", ")}")
    val stale = whitelist -- triggered -- unplanned
    assert(stale.isEmpty, s"stale $listName entries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("no CartesianProduct outside the explicit cross-join surface") {
    audit(cartesianWhitelist, "cartesianWhitelist", "unexpected CartesianProduct in") { p =>
      QueryPlans.nodes(p).exists(_.isInstanceOf[CartesianProductExec])
    }
  }

  /** Queries allowed a BroadcastNestedLoopJoin whose broadcast side is NOT
    * mechanically bounded (no global aggregate / limit / local table in the
    * build subtree): each broadcasts a deliberately small anchor frame whose
    * bound comes from a selective filter documented at the definition site.
    */
  private val bnljAnchorWhitelist = Set(
    "q_bind_cross",     // the reference's own `how: cross` bind surface
    "sim_topk",         // probe cohort: vec_id filter bounds the broadcast side
    "sim_mips",         // probe cohort (vec_id bound)
    "sim_knn",          // probe cohort (vec_id bound)
    "sim_radius",       // probe cohort (vec_id bound)
    "sim_recall",       // eval probe cohort (vec_id bound)
    "sim_graph_recall", // eval probe cohort (vec_id < 8)
    "sim_ivf_recall",   // eval probe cohort (vec_id < 8, brute-force arm)
    "sim_pq_recall",    // eval probe cohort (vec_id < 8, brute-force arm)
    "sim_matryoshka",   // eval probe cohort (vec_id < 8, both arms)
    "sim_hardneg",      // anchor cohort (% 10 sample)
    "geo_knn",          // probe cohort (bounded anchor set)
    "ta_nbc",           // per-class prior table (#classes = #sources rows)
    "ta_nbc_eval",      // per-class prior table (#classes rows)
    "q_cramers_v",      // contingency margin (flag x status domain)
    "q_kendall",        // day-panel pair frame (bounded day domain)
    "q_mannkendall",    // day-panel pair frame (bounded day domain)
    "q_isotonic",       // ≤50-row score-domain interval frames (minimax PAVA)
    "sim_nprobe_sweep", // eval probe cohort (vec_id < 8, brute-force arm)
    "sim_lid",          // eval probe cohort (vec_id < 8; appears twice — the
                        // top-10 frame and its rank-10 distance slice)
  )

  test("every BroadcastNestedLoopJoin build side is bounded or whitelisted") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec, LocalTableScanExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

    // a build subtree is provably small when some node caps its row count:
    // a grand-total aggregate (<= 1 row), an explicit limit/top-k, or an
    // in-memory literal table
    def bounded(p: SparkPlan): Boolean = p match {
      case a: HashAggregateExec if a.groupingExpressions.isEmpty       => true
      case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => true
      case a: SortAggregateExec if a.groupingExpressions.isEmpty       => true
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: LocalTableScanExec => true
      // a literal range is a known row count at plan time — bounded when
      // small (sweep axes like nprobe 1..4 broadcast such frames)
      case r: org.apache.spark.sql.execution.RangeExec =>
        r.numElements <= BigInt(10000)
      // a Generate (explode) re-expands rows, so a cap below it does not
      // bound its output — such a build side must be whitelisted instead
      case _: org.apache.spark.sql.execution.GenerateExec => false
      case _ => p.children.nonEmpty && p.children.forall(bounded)
    }

    audit(bnljAnchorWhitelist, "bnljAnchorWhitelist",
        "unbounded BroadcastNestedLoopJoin build side in") { p =>
      QueryPlans.nodes(p).exists {
        case j: BroadcastNestedLoopJoinExec =>
          !bounded(j.buildSide match {
            case BuildLeft  => j.left
            case BuildRight => j.right
          })
        case _ => false
      }
    }
  }

  test("no unpartitioned WindowExec outside the bounded-domain whitelist") {
    val skipped = QueryPlans.all.collect {
      case (name, Left(e)) => s"$name (${e.getClass.getSimpleName})"
    }
    assert(skipped.isEmpty, s"queries failed to plan: ${skipped.mkString(", ")}")
    audit(boundedDomainWhitelist, "boundedDomainWhitelist",
        "unpartitioned windows outside the whitelist") { p =>
      QueryPlans.nodes(p).exists {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _             => false
      }
    }
  }
}
