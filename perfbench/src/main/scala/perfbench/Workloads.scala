package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{PipelineMain, SparkEntry, Tables}
import graft.reports.{BudgetReport, ProjectBudgetReport}
import graft.sources.FileSink

/** One pass over a workload: the session, the pass number and a fresh
  * directory the pass may write into.
  */
final class Pass(val spark: SparkSession, val index: Int, val dir: Path)

/** One timed step. `frame` builds the step's result, which the harness then
  * forces; a step that does its work inside `frame` (the pipeline run)
  * returns None and sets `buildOnly = false`.
  */
final case class Step(name: String, frame: Pass => Option[DataFrame],
    buildOnly: Boolean = true)

trait Workload {
  def steps: Seq[Step]
  /** Generator and fixtures; runs inside every timed set-up. */
  def setup(spark: SparkSession): Unit
  /** Step order for one pass: a permutation drawn from `rnd`. */
  def order(rnd: scala.util.Random): Seq[Step] = rnd.shuffle(steps)
  /** Step -> the layer metric its wall is reported under. */
  def reportSteps: Map[String, String]
  /** Steps whose writes go through the pipeline's sink. */
  def sinkSteps: Set[String] = Set.empty
  /** DuckDB oracle SQL per step, checked outside the JVM. */
  def oracleSql: Map[String, String] = Map.empty
  /** In-process check of a step's check-pass output, written as parquet to
    * `out` (None when the step produced no frame). Some(error) on mismatch.
    */
  def check(step: Step, pass: Pass, out: Option[Path]): Option[String] = None
  /** Input sizes, for the result file. */
  def inputs: Map[String, Any] = Map.empty
  def beforePass(pass: Pass): Unit = ()
  /** Untimed per-pass figures (sources and sink counters). */
  def afterPass(pass: Pass): Map[String, Double] = Map.empty
}

/** A set of `SparkEntry.queries` rows over generated tables in `dataDir`,
  * each checked against its `SparkEntry.oracleSql` twin.
  */
final class QueryWorkload(names: Seq[String], dataDir: String) extends Workload {
  private val missing = names.filterNot(n =>
    SparkEntry.queries.contains(n) && SparkEntry.oracleSql.contains(n))
  require(missing.isEmpty, s"rows missing from SparkEntry: ${missing.mkString(", ")}")

  val steps: Seq[Step] = names.map { n =>
    val fn = SparkEntry.queries(n)
    Step(n, p => Some(fn(p.spark, dataDir)))
  }

  def setup(spark: SparkSession): Unit = {
    Tables.names.foreach(t => Tables(spark, dataDir, t).count())
    SparkEntry.prepare(spark, dataDir, names.toSet)
  }

  val reportSteps: Map[String, String] = Map(
    "q_budget_report" -> "report.budget_ms",
    "q_project_budget_report" -> "report.project_ms").filter(kv => names.contains(kv._1))

  override def oracleSql: Map[String, String] =
    names.map(n => n -> SparkEntry.oracleSql(n)).toMap
}

/** The paper's own job: one `PipelineMain.run` over all five datasets from
  * a generated account, then both budget reports over the read-back
  * `tasks` and `entries`.
  */
final class EltWorkload(seed: Long, size: AccountSize) extends Workload {
  private val TransportKey = "perfbench"
  @volatile private var account: TimeCampAccount = _
  @volatile private var budgets: DataFrame = _

  def setup(spark: SparkSession): Unit = {
    account = new TimeCampAccount(seed, size)
    PipelineMain.registerTransport(TransportKey, account.transport)
    import spark.implicits._
    // buildTasks drops `budgeted` on emit, so the reports get the
    // generator's budgets joined back on
    budgets = account.budgets.toDF("task_id", "budgeted")
  }

  override def inputs: Map[String, Any] = Map(
    "account" -> size.toString, "max_task_depth" -> account.maxDepth,
    "expected_rows" -> account.expectedCounts)

  private def reportInputs(p: Pass): (DataFrame, DataFrame) = {
    val out = p.dir.toString
    val tasks = FileSink.read(p.spark, out, "tasks", "parquet")
      .select("task_id", "parent_id", "name").join(budgets, Seq("task_id"))
    val entries = FileSink.read(p.spark, out, "entries", "parquet")
      .select("task_id", "duration")
    (tasks, entries)
  }

  val steps: Seq[Step] = Seq(
    Step("pipeline", p => {
      PipelineMain.run(p.spark, PipelineMain.Config(
        from = account.from, to = account.to, output = p.dir.toString,
        format = "parquet", datasets = PipelineMain.AvailableDatasets,
        transportKey = TransportKey))
      None
    }, buildOnly = false),
    Step("report_budget", p => {
      val (tasks, entries) = reportInputs(p)
      Some(BudgetReport(tasks, entries))
    }),
    Step("report_project", p => {
      val (tasks, entries) = reportInputs(p)
      Some(ProjectBudgetReport(tasks, entries))
    }))

  /** The pipeline runs first; the two reports in a seeded order. */
  override def order(rnd: scala.util.Random): Seq[Step] =
    steps.head +: rnd.shuffle(steps.tail)

  val reportSteps: Map[String, String] = Map(
    "report_budget" -> "report.budget_ms", "report_project" -> "report.project_ms")
  override val sinkSteps: Set[String] = Set("pipeline")

  override def check(step: Step, p: Pass, out: Option[Path]): Option[String] = {
    def rows(cols: String*) = p.spark.read.parquet(out.get.toString)
      .select(cols.map(col): _*).collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toSeq
    def compare(got: Seq[(String, (Long, Long))], want: Map[String, (Long, Long)]) =
      if (got.size != got.toMap.size) Some(s"${step.name}: duplicate keys in output")
      else if (got.toMap != want) {
        val bad = (got.toMap.keySet ++ want.keySet).filter(k => got.toMap.get(k) != want.get(k))
        Some(s"${step.name}: ${bad.size} rows differ from the generator, e.g. ${bad.head}")
      } else None
    step.name match {
      case "pipeline" =>
        val got = PipelineMain.AvailableDatasets.map(ds =>
          ds -> FileSink.read(p.spark, p.dir.toString, ds, "parquet").count()).toMap
        if (got != account.expectedCounts)
          Some(s"pipeline: rows $got, generator expects ${account.expectedCounts}")
        else None
      case "report_budget" =>
        compare(rows("task_id", "budgeted_seconds", "tracked_seconds"), account.expectedBudget)
      case "report_project" =>
        compare(rows("project_id", "budget_seconds", "cumulative_seconds"),
          account.expectedProjects)
    }
  }

  override def beforePass(p: Pass): Unit = account.resetCounters()

  override def afterPass(p: Pass): Map[String, Double] = {
    val files = Files.walk(p.dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val bytes = files.map(Files.size).sum.toDouble
    Map(
      "sources.requests" -> account.requests.get.toDouble,
      "sources.retries" -> account.throttled.get.toDouble,
      "sources.bytes_in" -> account.bytesOut.get.toDouble,
      "sources.serve_ms" -> account.serveNanos.get / 1e6,
      "sink.bytes_out" -> bytes,
      "sink.files" -> files.size.toDouble,
      "sink.rows" -> Parquet.rowsAndBytes(p.dir)._1.toDouble,
      "records" -> account.recordsOut.get.toDouble)
  }
}

object Workloads {
  /** Fixed-cost rows (planning, codegen, jobs, driver gap): scans,
    * scalar functions, joins, aggregates, windows, set operations and the
    * closure family, over neither `documents` nor `embeddings`.
    */
  val SqlReports: Seq[String] = Seq(
    "q_scan_entries", "q_parse_date", "q_string_funcs", "q_json_funcs",
    "q_broadcast_join", "q_inner_join", "q_multi_join_topk", "q_asof_join",
    "q_groupby_sum", "q_distinct", "q_rollup", "q_except", "q_window_agg",
    "q_sessionize", "q_topk_per_group", "q_transitive_closure",
    "q_user_enrichment")

  /** Rows that reach `graft.ops.Similarity`, the `Vec*` kernels and
    * `model_const` plans: k-means assignment, IVFADC, binary IVF and
    * binary-then-exact re-rank.
    */
  val VectorSearch: Seq[String] = Seq(
    "q_kmeans_assign", "q_ivfpq_res_topk", "q_ivfbin_probe", "q_hamming_rerank")

  val EltSize: AccountSize = AccountSize(
    users = 80, groups = 40, tasks = 1500, maxDepth = 12, entries = 12000,
    activityDays = 28, activityRowsPerDay = 10, apps = 600,
    throttledPerMille = 20)

  def apply(name: String, seed: Long, dataDir: Option[String]): Workload = name match {
    case "timecamp_elt" => new EltWorkload(seed, EltSize)
    case "engine_queries" => new QueryWorkload(SqlReports ++ VectorSearch, dataDir.get)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
