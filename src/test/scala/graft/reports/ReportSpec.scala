package graft.reports

import graft.SparkSpec
import graft.ops.{Closure, Joins}
import org.apache.spark.sql.DataFrame

/** Golden-row test for the flagship report over a hand-computed fixture —
  * the shape of `SAMPLE-REPORTS.md:128-137`.
  */
class ReportSpec extends SparkSpec {
  import spark.implicits._

  // project(10) -> task(11), task(12); separate root 20 with no entries
  private val tasks = Seq(
    ("10", null, "Project A", 7200L),
    ("11", "10", "Design", 3600L),
    ("12", "10", "Build", 0L),
    ("20", null, "Project B", 1800L)
  ).toDF("task_id", "parent_id", "name", "budgeted")

  private val entries = Seq(
    ("11", 600L), ("11", 600L), // 1200s on Design
    ("12", 3000L)               // 3000s on Build (no budget of its own)
  ).toDF("task_id", "duration")

  test("BudgetReport: recursive rollup, budget filter, formatting, order") {
    val rows = BudgetReport(tasks, entries).collect()
    // budgeted=0 (task 12) excluded; order by tracked desc
    assert(rows.map(_.getString(0)).toSeq == Seq("10", "11", "20"))
    val proj = rows(0)
    assert(proj.getAs[Long]("tracked_seconds") == 4200) // 1200 + 3000 rolled up
    assert(proj.getAs[Long]("remaining_seconds") == 3000)
    assert(proj.getAs[String]("tracked_hours") == "1.1667")
    val idle = rows(2)
    assert(idle.getAs[Long]("tracked_seconds") == 0)
  }

  test("ProjectBudgetReport: per-root rollup with OVER flag") {
    val rows = ProjectBudgetReport(tasks, entries).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("10", "20"))
    val a = rows(0)
    assert(a.getAs[Long]("budget_seconds") == 10800) // 7200+3600+0 subtree sum
    assert(a.getAs[Long]("cumulative_seconds") == 4200)
    assert(a.getAs[String]("status") == "OK")
    val b = rows(1)
    assert(b.getAs[Long]("cumulative_seconds") == 0)
  }

  test("BudgetReport counts a parent cycle's seconds once per ancestor") {
    // the forest above plus a 2-cycle 30 <-> 31: each member is the
    // other's ancestor, so each rolls up both members' seconds — once
    val withCycle = tasks.unionByName(Seq(
      ("30", "31", "Loop A", 600L), ("31", "30", "Loop B", 600L))
      .toDF("task_id", "parent_id", "name", "budgeted"))
    val withCycleEntries = entries.unionByName(
      Seq(("30", 100L), ("31", 10L)).toDF("task_id", "duration"))
    val tracked = BudgetReport(withCycle, withCycleEntries).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("tracked_seconds")).toMap
    assert(tracked === Map(
      "10" -> 4200L, "11" -> 1200L, "20" -> 0L, "30" -> 110L, "31" -> 110L))
  }

  test("both reports return identical rows with the local-solve gate " +
    "closed (the recursive-CTE route)") {
    // deeper than the fixture above, with an orphan (parent 404 missing)
    val deep = tasks.unionByName(Seq(
      ("13", "11", "Spec", 900L), ("14", "13", "Review", 300L),
      ("40", "404", "Orphan", 500L))
      .toDF("task_id", "parent_id", "name", "budgeted"))
    val deepEntries = entries.unionByName(Seq(("14", 240L), ("13", 60L),
      ("40", 30L), ("99", 5L)).toDF("task_id", "duration"))
    def run(): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) =
      (BudgetReport(deep, deepEntries).collect().toSeq,
        ProjectBudgetReport(deep, deepEntries).collect().toSeq)
    assert(Closure.resolve(deep, "task_id", "parent_id")._2.nonEmpty)
    val resolved = run()
    spark.conf.set(Joins.LocalSolveMaxBytesKey, "0")
    try {
      assert(Closure.resolve(deep, "task_id", "parent_id")._2.isEmpty)
      assert(run() === resolved)
    } finally spark.conf.unset(Joins.LocalSolveMaxBytesKey)
    assert(resolved._1.find(_.getString(0) == "10").get
      .getAs[Long]("tracked_seconds") === 4500L)
  }

  test("both reports run the same number of jobs on a 3-deep and a " +
    "12-deep forest") {
    // 24 tasks either way: 8 chains of 3 or 2 chains of 12, one 60 s
    // entry per task; not local relations, so the dimension goes through
    // the materialize-and-collect route a parquet input takes
    def forest(depth: Int): (DataFrame, DataFrame) = {
      val ids = (0 until 24).map(i => (i / depth, i % depth))
      def id(chain: Int, level: Int) = s"c${chain}_$level"
      (ids.map { case (c, l) =>
        (id(c, l), if (l == 0) null else id(c, l - 1), s"n$l", 100L)
      }.toDF("task_id", "parent_id", "name", "budgeted").repartition(2),
        ids.map { case (c, l) => (id(c, l), 60L) }
          .toDF("task_id", "duration").repartition(2))
    }
    def jobs(depth: Int, report: (DataFrame, DataFrame) => DataFrame)
        : (Seq[org.apache.spark.sql.Row], Int) = {
      val (t, e) = forest(depth)
      jobsDuring(report(t, e).collect().toSeq)
    }
    val (budget3, budgetJobs3) = jobs(3, BudgetReport(_, _))
    val (budget12, budgetJobs12) = jobs(12, BudgetReport(_, _))
    val (project3, projectJobs3) = jobs(3, ProjectBudgetReport(_, _))
    val (project12, projectJobs12) = jobs(12, ProjectBudgetReport(_, _))
    assert(budgetJobs3 === budgetJobs12)
    assert(projectJobs3 === projectJobs12)
    // a root rolls up its whole chain
    assert(budget3.head.getAs[Long]("tracked_seconds") === 3 * 60L)
    assert(budget12.head.getAs[Long]("tracked_seconds") === 12 * 60L)
    assert(project3.map(_.getAs[Long]("cumulative_seconds")).toSet ===
      Set(3 * 60L))
    assert(project12.map(_.getAs[Long]("budget_seconds")).toSet ===
      Set(12 * 100L))
  }

  test("ProjectBudgetReport flags OVER when tracked exceeds budget") {
    val over = ProjectBudgetReport(
      Seq(("1", null, "P", 100L)).toDF("task_id", "parent_id", "name", "budgeted"),
      Seq(("1", 200L)).toDF("task_id", "duration")).collect()
    assert(over.head.getAs[String]("status") == "OVER")
  }
}
