package graft

import org.apache.spark.sql.execution.FileSourceScanExec

/** Column-pruning audit, enforced: at 100 TB a scan that reads every
  * column of a wide table for a narrow projection is the single
  * largest avoidable I/O cost, so this walks every driver query's
  * physical plan and fails if a parquet scan of a >=5-column table
  * reads the FULL schema — unless the query is whitelisted with the
  * reason it genuinely consumes every column. Narrow dims (region,
  * nation, supplier, embeddings) are exempt: pruning them saves
  * nothing and the join side usually wants the whole row anyway.
  */
class ScanPruneSpec extends SparkSpec {

  /** Tables wide enough that an unpruned scan is a real cost. */
  private val auditedWidths: Map[String, Int] = Map(
    "lineitem"  -> 11,
    "events"    -> 6,
    "orders"    -> 6,
    "part"      -> 6,
    "customer"  -> 5,
    "documents" -> 5
  )

  /** (query, table) pairs that legitimately read the full row. Each
    * entry must say why; "it was convenient" is not a reason — and a
    * stale entry (no longer triggering) fails the test, so the list
    * can only ever shrink to truth.
    */
  private val fullRowWhitelist: Set[(String, String)] = Set(
    // whole-row checksum: the canonical rendering hashes every column
    ("q_checksum", "customer"),
    // exact whole-row dedup: the row hash covers every column
    ("dd_exact_rows", "documents"),
    // reference-parity golden pipeline: the reference flow reads and
    // re-emits the full orders row (enrich-then-write semantics)
    ("q_pipeline", "orders"),
    // typed Dataset[Event] sessionizer: the case-class Encoder
    // materializes all 6 fields — the price of running the IDENTICAL
    // flatMapGroupsWithState state machine the stream runs (SCALE.md:
    // typed encoders defeat column pruning; keep typed surfaces thin)
    ("ev_sessions_typed", "events")
  )

  test("every wide-table parquet scan prunes columns or documents why not") {
    // (query, table, columns read, width) of every full-width audited scan;
    // planning failures are caught by PlanAuditSpec
    val full = for {
      (name, p) <- QueryPlans.planned
      scan <- QueryPlans.nodes(p.sparkPlan).collect { case s: FileSourceScanExec => s }
      table = scan.relation.location.rootPaths.headOption
        .map(_.getName.stripSuffix(".parquet")).getOrElse("")
      width <- auditedWidths.get(table) if scan.requiredSchema.length >= width
    } yield (name, table, scan.requiredSchema.length, width)
    val (allowed, offending) = full.partition { case (n, t, _, _) => fullRowWhitelist((n, t)) }
    val triggered = allowed.map { case (n, t, _, _) => (n, t) }.toSet
    val offenders = offending.map { case (n, t, read, width) => s"$n:$t($read/$width)" }
    assert(offenders.isEmpty,
      s"unpruned wide-table scans (query:table(read/width)): ${offenders.distinct.sorted.mkString(", ")}")
    val stale = fullRowWhitelist.diff(triggered)
    assert(stale.isEmpty,
      s"stale fullRowWhitelist entries (no longer full-width scans): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
