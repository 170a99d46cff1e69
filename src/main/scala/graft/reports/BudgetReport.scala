package graft.reports

import graft.Materialize
import graft.ops.{Closure, Joins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's flagship analytics query: recursive budget-vs-tracked
  * rollup (`SAMPLE-REPORTS.md:20-112`).
  *
  * Logical chain (identical to the published DuckDB report):
  * tasks → transitive closure → entries ⋈ closure → SUM per ancestor →
  * tasks ⟕ rollup → budget filter → presentation projection → sort.
  *
  * Scale notes: the fact side is pre-aggregated per task BEFORE it meets
  * the hierarchy (eager aggregation, Yan & Larson VLDB'95 — SUM is
  * decomposable, so SUM-per-ancestor = SUM over SUM-per-task): the
  * 100 TB side is scanned exactly once and collapses to ≤|tasks| partial
  * rows via map-side combine. The task dimension is materialized once
  * and [[graft.ops.Closure.resolve]] picks the hierarchy route:
  *
  *  - Below the local-solve gate ([[graft.ops.Joins.fitsLocalSolve]])
  *    the hierarchy is resolved on the driver and each partial row is
  *    fanned out to its ancestors by a broadcast-variable lookup — no
  *    closure table, no closure join, and a job count independent of the
  *    tree's depth. The closure has set semantics here, so a parent
  *    cycle counts each member's seconds once per ancestor.
  *  - Above it the recursive-CTE closure runs: same UNION ALL shape as
  *    the published report's own CTE (SAMPLE-REPORTS.md:59-75), one
  *    `UnionLoop` iteration per level, joined broadcast only while it is
  *    broadcast-sized ([[graft.ops.Joins.broadcastIfSmall]]). Like the
  *    published report it ASSUMES A FOREST: on a parent cycle UNION ALL
  *    emits each pair once per winding up to the depth cap, multiplying
  *    the cycle members' tracked seconds.
  */
object BudgetReport {

  /** @param tasks   (task_id: String, parent_id: String nullable,
    *                 name: String, budgeted: Long seconds)
    * @param entries (task_id: String, duration: Long seconds)
    */
  def apply(tasks: DataFrame, entries: DataFrame): DataFrame = {
    val (dim, resolved) = Closure.resolve(tasks, "task_id", "parent_id")
    // Eager aggregation below the fan-out: 60M fact rows → ≤|tasks|
    // partials (the shuffle carries map-side-combined partial sums).
    val perTask = entries
      .groupBy(col("task_id").as("descendant_id"))
      .agg(sum("duration").as("_partial"))
    val perAncestor = resolved match {
      case Some((_, h)) =>
        val ancestorsOf = h.ancestorsOf(tasks.sparkSession)
        perTask.select(explode(ancestorsOf(col("descendant_id")))
          .as("ancestor_id"), col("_partial"))
      case None =>
        // counted checkpoint: the count IS the forcing job (the UnionLoop
        // would otherwise re-run inside the broadcast exchange), and it
        // feeds the broadcastIfSmall dispatch
        val (closure, nClosure) = Materialize.checkpointCounted(
          Closure.transitiveClosureRecursive(dim, "task_id", "parent_id"))
        perTask.join(Joins.broadcastIfSmall(closure, Some(nClosure)),
          Seq("descendant_id"))
    }
    val tracked = perAncestor
      .groupBy(col("ancestor_id").as("task_id"))
      .agg(sum("_partial").as("tracked_seconds"))
    dim
      .join(tracked, Seq("task_id"), "left")
      .where(col("budgeted") > 0)
      .select(
        col("task_id"), col("name"),
        col("budgeted").as("budgeted_seconds"),
        coalesce(col("tracked_seconds"), lit(0L)).as("tracked_seconds"),
        (col("budgeted") - coalesce(col("tracked_seconds"), lit(0L)))
          .as("remaining_seconds"),
        format_string("%.4f",
          coalesce(col("tracked_seconds"), lit(0L)).cast("double") / 3600.0)
          .as("tracked_hours"))
      .orderBy(col("tracked_seconds").desc, col("task_id"))
  }
}
