package graft.plans

import org.apache.spark.sql.DataFrame

/** Per-query physical-plan feature digest — the regression ledger's unit
  * of comparison (round 13, VERDICT r12 #4).
  *
  * A correctness gate can't see a plan regression: a join that silently
  * flips from broadcast to sort-merge, a filter that stops pushing and
  * adds an Exchange, or a new Generate that doubles the row stream all
  * return the same rows. At 100 TB those are the regressions that matter.
  * The digest projects the executed plan onto the operator counts that
  * carry scale semantics, so any such flip diffs against the committed
  * snapshot (`PLAN_SNAPSHOT.json`, regenerated via `runMain
  * graft.PlanSnapshot`) and fails `PlanSnapshotSpec` with a named query
  * and a named feature.
  *
  * Counted by node NAME (the first identifier of each plan-tree line,
  * after tree-drawing chars and the whole-stage-codegen `*(n)` prefix),
  * never by argument text — partition counts, paths, and expression ids
  * vary run-to-run; the operator set does not (at a fixed sf: join
  * strategy choice is stats-driven, so the snapshot pins the sf it was
  * taken at).
  */
object PlanDigest {

  /** Plan features with scale semantics. Everything else (Project,
    * Filter, ColumnarToRow, ...) is noise that churns with refactors
    * without changing the shuffle/join/generate structure. */
  val Features: Set[String] = Set(
    "Exchange",                  // a shuffle
    "BroadcastExchange",         // a broadcast
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "Generate",                  // explode / posexplode / inline
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "Sort", "Window", "WindowGroupLimit",
    "TakeOrderedAndProject", "GlobalLimit",
    "Expand",                    // grouping sets / rollup / cube
    "FileScan",                  // number of distinct scans in the plan
    "InMemoryTableScan",
    // the custom bounded-heap operator and its map-side partial —
    // TreeNode.nodeName strips the "Exec" suffix, so these are the names
    // that actually appear in plan text (a "...Exec" entry never matches)
    "TopKPerGroup", "TopKPerGroupPartial",
    // the custom join tier (round 17): the ledger must pin that the
    // registered as-of/interval queries actually run the merge/sweep
    // execs — a refactor silently degrading them to a built-in join +
    // filter would change these counts, not just the Exchange count
    "AsOfJoin", "IntervalJoin",
    // streaming state operators (round 14, VERDICT r13 #2): where state
    // sits in the micro-batch plan IS the scale structure of a streaming
    // query — how many stores it opens per trigger, whether dedup state
    // precedes or follows the watermark, whether a join keeps two-sided
    // state. Captured from the last micro-batch's executed plan.
    "StateStoreSave", "StateStoreRestore",
    "SessionWindowStateStoreSave", "SessionWindowStateStoreRestore",
    "FlatMapGroupsWithState", "TransformWithState",
    "StreamingSymmetricHashJoin",
    "StreamingDeduplicate", "StreamingDeduplicateWithinWatermark",
    "EventTimeWatermark")

  /** Digest of a raw executed-plan string — the streaming path, where the
    * plan is captured from the micro-batch execution rather than a
    * DataFrame (the `plan` of [[graft.streaming.StreamingOps.lastRun]]). */
  def ofPlanString(plan: String): String =
    counts(plan).toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(" ")

  private val line = """^[\s+:\-]*(?:\*\(\d+\)\s+)?([A-Za-z][A-Za-z0-9]*)""".r

  /** Feature counts of one plan string (executedPlan.toString). */
  private[graft] def counts(plan: String): Map[String, Int] =
    plan.linesIterator
      .flatMap(l => line.findFirstMatchIn(l).map(_.group(1)))
      .filter(Features.contains)
      .toSeq.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Canonical one-line digest, e.g.
    * `Exchange=2 FileScan=1 HashAggregate=2 Sort=1`. */
  def of(df: DataFrame): String =
    ofPlanString(df.queryExecution.executedPlan.toString)
}
