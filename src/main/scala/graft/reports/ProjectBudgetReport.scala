package graft.reports

import graft.Materialize
import graft.ops.{Closure, Joins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's second published report: per-project budget vs
  * cumulative tracked time (`SAMPLE-PROJECT-BUDGET-REPORT.md:20-119`).
  * A "project" is a root task; every entry rolls up to its root; budget is
  * the SUM of budgets in the project subtree.
  *
  * Same scale shape as BudgetReport: the task dimension is materialized
  * once, the fact side is pre-aggregated per task before it meets the
  * hierarchy (eager aggregation — SUM decomposes), and
  * [[graft.ops.Closure.resolve]] picks the route:
  *
  *  - Below the local-solve gate ([[graft.ops.Joins.fitsLocalSolve]])
  *    each task's project is a broadcast-variable lookup into the
  *    driver-resolved hierarchy — no closure, no member table, no
  *    per-level job.
  *  - Above it the recursive-CTE closure joins the roots into a member
  *    table (descendant → project), materialized once for its two
  *    consumers and broadcast only while it is broadcast-sized
  *    ([[graft.ops.Joins.broadcastIfSmall]]). This route assumes a
  *    forest, like the published report; cycle members reach no root on
  *    either route, so a cycle cannot inflate this report.
  */
object ProjectBudgetReport {

  def apply(tasks: DataFrame, entries: DataFrame): DataFrame = {
    val (dim, resolved) = Closure.resolve(tasks, "task_id", "parent_id")
    val roots = dim.where(col("parent_id").isNull)
      .select(col("task_id").as("project_id"), col("name").as("project_name"))
    // Eager aggregation: fact rows collapse to ≤|tasks| map-side-combined
    // partials before they ever meet the hierarchy.
    val perTask = entries
      .groupBy(col("task_id").as("descendant_id"))
      .agg(sum("duration").as("_partial"))
    val (budget, tracked) = resolved match {
      case Some((_, h)) =>
        val projectOf = h.rootOf(tasks.sparkSession)
        (dim.groupBy(projectOf(col("task_id")).as("project_id"))
          .agg(sum("budgeted").as("budget_seconds")),
         perTask.groupBy(projectOf(col("descendant_id")).as("project_id"))
          .agg(sum("_partial").as("cumulative_seconds")))
      case None =>
        val closure =
          Closure.transitiveClosureRecursive(dim, "task_id", "parent_id")
        // descendant → its root ancestor; materialized once for its two
        // consumers (budget + tracked). COUNTED: the count IS the forcing
        // job and feeds the broadcast dispatch.
        val (memberOf, nMember) = Materialize.checkpointCounted(closure
          .join(roots, closure("ancestor_id") === roots("project_id"))
          .select(col("descendant_id"), col("project_id"),
            col("project_name")))
        val member = Joins.broadcastIfSmall(memberOf, Some(nMember))
        (dim.join(member, dim("task_id") === col("descendant_id"))
          .groupBy("project_id")
          .agg(sum("budgeted").as("budget_seconds")),
         perTask.join(member, Seq("descendant_id"))
          .groupBy(col("project_id"), col("project_name"))
          .agg(sum("_partial").as("cumulative_seconds"))
          .drop("project_name"))
    }
    roots
      .join(tracked, Seq("project_id"), "left")
      .join(budget, Seq("project_id"), "left")
      .select(
        col("project_id"), col("project_name"),
        coalesce(col("budget_seconds"), lit(0L)).as("budget_seconds"),
        coalesce(col("cumulative_seconds"), lit(0L)).as("cumulative_seconds"),
        format_string("%.4f",
          coalesce(col("cumulative_seconds"), lit(0L)).cast("double") / 3600.0)
          .as("cumulative_hours"),
        when(coalesce(col("budget_seconds"), lit(0L)) > 0 &&
          coalesce(col("cumulative_seconds"), lit(0L)) >
            coalesce(col("budget_seconds"), lit(0L)), lit("OVER"))
          .otherwise(lit("OK")).as("status"))
      .orderBy(col("cumulative_seconds").desc, col("project_id"))
  }
}
