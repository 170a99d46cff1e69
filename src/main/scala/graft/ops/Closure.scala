package graft.ops

import scala.jdk.CollectionConverters._

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Recursive-hierarchy operators — the one capability the reference needs
  * that Spark has no single built-in operator for.
  *
  * Semantics from the reference's recursive CTE (`SAMPLE-REPORTS.md:59-75`,
  * `SAMPLE-PROJECT-BUDGET-REPORT.md:53-70`) and the Python breadcrumb
  * walkers (`dlt_fetch_timecamp.py:313-346`, `:527-547`).
  *
  * Two routes, picked per call by the shared local-solve gate
  * ([[graft.ops.Joins.fitsLocalSolve]], the gate of the CC union-find):
  *
  *  - Below the gate, [[resolve]] brings the dimension's rows to the
  *    driver once and [[Hierarchy]] walks id → parent there. Rows that
  *    are already a local relation (parsed on the driver, as in the
  *    pipeline) cost zero jobs; any other frame is materialized once
  *    (one forcing job) and its blocks collected. Hierarchy dimensions
  *    are small (tasks/groups — thousands to low millions of rows) even
  *    when the fact side is 100 TB, so this removes the one-job-per-tree-
  *    level cost the distributed walks pay, and the reports read the
  *    resolved hierarchy through a broadcast variable instead of joining
  *    a closure table.
  *  - Above the gate (or with duplicate or non-string ids) the
  *    distributed operators below run: the closure as Spark 4's
  *    recursive CTE or, cycle-tolerant, an iterative fixpoint of DataFrame
  *    self-joins; breadcrumbs by pointer doubling or a level walker. Each
  *    iteration is a small shuffle (or broadcast) join; an eager
  *    [[graft.Materialize.checkpoint]] per iteration truncates lineage so
  *    the plan stays O(1) per step instead of growing exponentially
  *    (local checkpoint on local mode, reliable checkpoint on clusters —
  *    see Materialize's scaladoc).
  */
object Closure {

  /** A parent-pointer hierarchy resolved on the driver: row `i` has id
    * `ids(i)` (NULL ids are kept for alignment but never looked up) and
    * parent `parents(i)` (NULL = root); `up(i)` is the parent's row, or
    * -1 when the parent is NULL or missing from the table. Ids are
    * unique — [[Hierarchy.resolve]] refuses anything else.
    *
    * Same semantics as the distributed operators, `maxDepth` boundary
    * included:
    *  - [[ancestors]] is the reflexive closure row set of one node: self,
    *    then each ancestor at walk distance ≤ `maxDepth`, a missing
    *    parent id as the last one (the distributed closures emit it
    *    too), and on a cycle each ancestor ONCE — the set semantics of
    *    [[transitiveClosure]];
    *  - [[paths]] is [[breadcrumbs]]' `path`: a missing parent starts its
    *    own path, levels ≤ `maxDepth` only, NULL for nodes whose chain
    *    enters a cycle.
    */
  final class Hierarchy private (
      ids: Array[String], parents: Array[String], up: Array[Int],
      index: Map[String, Int], maxDepth: Int) extends Serializable {

    /** Self first, then ancestors by distance; NULL for an unknown id. */
    def ancestors(id: String): Array[String] = index.get(id) match {
      case None => null
      case Some(i) =>
        val out = scala.collection.mutable.ArrayBuffer(ids(i))
        var cur = i
        var steps = 0
        while (cur >= 0 && steps < maxDepth && parents(cur) != null) {
          val p = up(cur)
          // ids are unique, so a present parent already in `out` closed
          // a cycle: every later ancestor is in `out` too
          if (p >= 0 && out.contains(ids(p))) cur = -1
          else {
            out += parents(cur)
            cur = p
            steps += 1
          }
        }
        out.toArray
    }

    /** The root (NULL-parent ancestor) within `maxDepth`, or NULL — a
      * chain ending in a missing parent or a cycle has none. */
    def root(id: String): String = index.get(id) match {
      case None => null
      case Some(i) =>
        var cur = i
        var steps = 0
        while (parents(cur) != null && up(cur) >= 0 && steps < maxDepth) {
          cur = up(cur)
          steps += 1
        }
        if (parents(cur) == null) ids(cur) else null
    }

    /** Root-first name paths aligned with the rows (`names(i)` is row
      * `i`'s name). Memoized: each row is walked once, and a chain stops
      * at the first row already resolved.
      */
    def paths(names: Array[String]): Array[Array[String]] = {
      // distance to the path's root; -2 unvisited, -3 on the chain being
      // walked, -1 never reaches a root (the chain enters a cycle)
      val dist = Array.fill(ids.length)(-2)
      val out = new Array[Array[String]](ids.length)
      val chain = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (i <- ids.indices if dist(i) == -2) {
        chain.clear()
        var cur = i
        while (cur >= 0 && dist(cur) == -2) {
          dist(cur) = -3
          chain += cur
          cur = up(cur)
        }
        if (cur >= 0 && dist(cur) < 0) chain.foreach(dist(_) = -1)
        else {
          var d = if (cur < 0) -1 else dist(cur)
          var above = if (cur < 0) Array.empty[String] else out(cur)
          for (k <- chain.reverseIterator) {
            d += 1
            dist(k) = d
            if (d < maxDepth) {
              above = above :+ names(k)
              out(k) = above
            }
          }
        }
      }
      ids.indices.foreach(i => if (ids(i) == null) out(i) = null)
      out
    }

    /** [[ancestors]] as a column lookup on the executors: the hierarchy
      * ships once as a broadcast variable (O(rows) pointers — KB at
      * dimension size, never a closure-sized pair table), so no closure
      * join is planned. */
    def ancestorsOf(spark: SparkSession): Column => Column = {
      val bc = spark.sparkContext.broadcast(this)
      val f = udf((id: String) => bc.value.ancestors(id))
      c => f(c)
    }

    /** [[root]] as a column lookup, shipped like [[ancestorsOf]]. */
    def rootOf(spark: SparkSession): Column => Column = {
      val bc = spark.sparkContext.broadcast(this)
      val f = udf((id: String) => bc.value.root(id))
      c => f(c)
    }
  }

  object Hierarchy {

    /** Resolve parallel id/parent arrays; None when two rows share an id
      * (the distributed operators' duplicate-id semantics are theirs to
      * keep).
      */
    def resolve(ids: Array[String], parents: Array[String],
        maxDepth: Int): Option[Hierarchy] = {
      val index = scala.collection.mutable.HashMap.empty[String, Int]
      val unique = ids.indices.forall { i =>
        ids(i) == null || index.put(ids(i), i).isEmpty
      }
      if (!unique) None
      else Some(new Hierarchy(ids, parents,
        parents.map(p => if (p == null) -1 else index.getOrElse(p, -1)),
        index.toMap, maxDepth))
    }
  }

  /** The local-solve dispatch every hierarchy consumer goes through.
    * Returns the frame the consumer should read — `nodes` itself when it
    * is a local relation, else `nodes` materialized once (it has several
    * consumers: the walk, and the caller's own joins) — and, when that
    * frame fits [[Joins.fitsLocalSolve]] and has unique string ids, its
    * rows with the resolved hierarchy. A local relation (rows parsed on
    * the driver) is counted and collected without a job; any other frame
    * pays one forcing job, whose count feeds the gate, plus a collect of
    * the materialized blocks. None means: run the distributed operator
    * over the returned frame.
    */
  def resolve(nodes: DataFrame, idCol: String, parentCol: String,
      maxDepth: Int = 32): (DataFrame, Option[(Array[Row], Hierarchy)]) = {
    val (dim, n) = nodes.queryExecution.optimizedPlan match {
      case local: LocalRelation => (nodes, local.data.length.toLong)
      case _ => Materialize.checkpointCounted(nodes)
    }
    val (id, parent) =
      (nodes.schema.fieldIndex(idCol), nodes.schema.fieldIndex(parentCol))
    val fits = Seq(id, parent).forall(nodes.schema(_).dataType == StringType) &&
      Joins.fitsLocalSolve(nodes.sparkSession, n, Joins.staticRowBytes(nodes))
    (dim, Option.when(fits)(dim.collect()).flatMap(rows =>
      Hierarchy.resolve(rows.map(_.getString(id)),
        rows.map(_.getString(parent)), maxDepth).map(h => (rows, h))))
  }

  /** [[breadcrumbs]] through [[resolve]]: same output columns (id first,
    * the other input columns, `path`, `breadcrumb`), built on the driver
    * below the gate as a local relation — no join, and no job when the
    * input was local — and the level walker above it.
    */
  def breadcrumbsResolved(
      nodes: DataFrame,
      idCol: String,
      parentCol: String,
      nameCol: String,
      maxDepth: Int = 32): DataFrame =
    if (nodes.schema(nameCol).dataType != StringType)
      breadcrumbs(nodes, idCol, parentCol, nameCol, maxDepth)
    else resolve(nodes, idCol, parentCol, maxDepth) match {
      case (dim, None) => breadcrumbs(dim, idCol, parentCol, nameCol, maxDepth)
      case (dim, Some((rows, h))) =>
        val fields = dim.schema.fields
        val id = dim.schema.fieldIndex(idCol)
        val rest = fields.indices.filter(_ != id)
        val name = dim.schema.fieldIndex(nameCol)
        val paths = h.paths(rows.map(_.getString(name)))
        val out = rows.indices.map { i =>
          val p = paths(i)
          Row.fromSeq(rows(i).get(id) +: rest.map(rows(i).get) :+
            (if (p == null) null else p.toSeq) :+
            (if (p == null) null else p.filter(_ != null).mkString(" / ")))
        }
        dim.sparkSession.createDataFrame(out.asJava, StructType(
          fields(id) +: rest.map(fields(_)) :+
            StructField("path", ArrayType(StringType)) :+
            StructField("breadcrumb", StringType)))
    }

  /** Transitive closure of a parent-pointer forest.
    *
    * Input: any DataFrame with an id column and a nullable parent column
    * (NULL parent = root). Output: `(descendant_id, ancestor_id)` pairs
    * including the reflexive self-pair for every node, exactly as the
    * reference's base case does (`SAMPLE-REPORTS.md:61-63`).
    *
    * `maxDepth` caps iterations: cycle *tolerance*, not cycle detection —
    * the reference's walkers return partial paths on cycles rather than
    * erroring (`dlt_fetch_timecamp.py:534`).
    */
  def transitiveClosure(
      nodes: DataFrame,
      idCol: String,
      parentCol: String,
      maxDepth: Int = 32): DataFrame = {
    val edges = nodes
      .select(col(idCol).as("_e_id"), col(parentCol).as("_e_parent"))
      .where(col(parentCol).isNotNull)
      .transform(Materialize.checkpoint)

    val self = nodes.select(
      col(idCol).as("descendant_id"), col(idCol).as("ancestor_id"))

    // frontier k = (descendant, ancestor-at-distance-k), minus pairs already
    // seen — the set-difference makes cyclic graphs converge (the pair
    // space is finite) instead of re-deriving pairs until the cap. Only
    // frontiers are eagerly checkpointed; the accumulated result is a
    // union of those materialized RDDs, so its plan stays shallow without
    // paying one extra materialization job per iteration.
    var result = self.transform(Materialize.checkpointIterative)
    // counted iterative checkpoints: the frontier count doubles as the
    // loop guard (one job per round; the retired isEmpty probe was a
    // second)
    var (frontier, nFrontier) = Materialize.checkpointIterativeCounted(
      edges.select(col("_e_id").as("descendant_id"),
        col("_e_parent").as("ancestor_id")))
    var depth = 0
    while (depth < maxDepth && nFrontier > 0) {
      result = result.unionByName(frontier)
      val (next, n) = Materialize.checkpointIterativeCounted(
        frontier
          .join(edges, frontier("ancestor_id") === edges("_e_id"))
          .select(frontier("descendant_id"), edges("_e_parent").as("ancestor_id"))
          .distinct()
          .join(result, Seq("descendant_id", "ancestor_id"), "left_anti"))
      frontier = next
      nFrontier = n
      depth += 1
    }
    result
  }

  /** Spark's recursive CTE guards against runaway recursion with a
    * 1M-row default cap (`RECURSION_ROW_LIMIT_EXCEEDED`) — sized for
    * interactive misuse, not ETL: a closure over a 2M-node forest
    * legitimately emits tens of millions of pairs (hit at sf10 by the
    * bench's error reporting). Raise the session cap, never lower it —
    * the depth cap (`cteRecursionLevelLimit`, default 100) stays, it is
    * the actual cycle guard.
    */
  private def raiseRecursionRowLimit(nodes: DataFrame, maxDepth: Int): Unit = {
    val conf = nodes.sparkSession.conf
    val rowKey = "spark.sql.cteRecursionRowLimit"
    if (conf.getOption(rowKey).map(_.toLong).getOrElse(1000000L) < Int.MaxValue)
      conf.set(rowKey, Int.MaxValue)
    // The engine depth guard (default 100) must sit ABOVE the requested
    // truncation boundary, or the query errors before our own lvl cap
    // truncates; never lower it (it stays the runaway backstop for
    // misconfigured caps).
    val lvlKey = "spark.sql.cteRecursionLevelLimit"
    val need = maxDepth.toLong + 2
    if (conf.getOption(lvlKey).map(_.toLong).getOrElse(100L) < need)
      conf.set(lvlKey, need)
  }

  /** Transitive closure via Spark 4's native recursive CTE (`WITH
    * RECURSIVE` → `UnionLoop`): one query execution, no driver-side
    * fixpoint loop or per-iteration checkpoints. Spark only supports the
    * UNION ALL step form, which re-derives pairs forever on a cycle — use
    * this on inputs known to be acyclic (every hierarchy the reference
    * ships is a forest) and `transitiveClosure` when cycle tolerance is
    * required. Semantics on forests are identical.
    *
    * Cap semantics unified with [[transitiveClosure]]: the step tracks its
    * level and stops at distance `maxDepth`, TRUNCATING like the iterative
    * variant instead of erroring into the engine recursion limit (which is
    * raised above the cap when needed and kept as the backstop). On cyclic
    * input the level bound also makes the UNION ALL loop terminate — the
    * output is then a multiset (one row per winding); callers needing the
    * iterative variant's set semantics on possibly-cyclic input use
    * [[transitiveClosure]].
    */
  def transitiveClosureRecursive(
      nodes: DataFrame, idCol: String, parentCol: String,
      maxDepth: Int = 32): DataFrame = {
    raiseRecursionRowLimit(nodes, maxDepth)
    val view = s"_graft_closure_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    // Materialize the projection once: UnionLoop re-executes the step plan
    // per level, which would otherwise re-run the source scan every level.
    nodes.select(col(idCol).as("id"), col(parentCol).as("parent"))
      .transform(Materialize.checkpoint)
      .createOrReplaceTempView(view)
    val out = nodes.sparkSession.sql(
      s"""WITH RECURSIVE th(descendant_id, ancestor_id, lvl) AS (
         |  SELECT id AS descendant_id, id AS ancestor_id, 0 AS lvl FROM $view
         |  UNION ALL
         |  SELECT th.descendant_id, n.parent AS ancestor_id, th.lvl + 1
         |  FROM th JOIN $view n ON th.ancestor_id = n.id
         |  WHERE n.parent IS NOT NULL AND th.lvl < $maxDepth
         |) SELECT descendant_id, ancestor_id FROM th""".stripMargin)
    // views resolve during analysis (spark.sql above), so the returned
    // plan no longer needs the catalog entry — dropping it immediately
    // keeps a per-job caller from accumulating one pinned checkpointed
    // frame per call for the session's lifetime
    nodes.sparkSession.catalog.dropTempView(view)
    out
  }

  /** Breadcrumbs by recursive doubling: the state is ONE row per node at
    * every round — `(id, up, path)` where `up` is the ancestor at distance
    * exactly 2^k (NULL once the root is within reach) and `path` holds the
    * last min(2^k, depth+1) names ending at the node. One self-join per
    * round composes both: `path ← path(up) ++ path`, `up ← up(up)`.
    *
    * ⌈log₂(depth)⌉ rounds of n-row joins, vs `depth` rounds for the
    * level walker — AND no per-level frontier materialization (the walker
    * materializes O(n) rows per level; a recursive-CTE walker, measured
    * and retired, re-executed its step scan per level). Semantics match
    * `breadcrumbs` exactly, including the cap boundary: paths cover
    * levels ≤ `maxDepth` (the loop overshoots to the next power of two,
    * then the emit clamps on `size(path)`), a missing parent starts its
    * own path (orphan tolerance, `dlt_fetch_timecamp.py:534`), and nodes
    * whose ancestor chain enters a cycle still hold a non-NULL `up` when
    * the round cap fires and are emitted with NULL path/breadcrumb.
    */
  def breadcrumbsDoubling(
      nodes: DataFrame,
      idCol: String,
      parentCol: String,
      nameCol: String,
      maxDepth: Int = 32): DataFrame = {
    val base = nodes
      .select(col(idCol).as("_id"), col(parentCol).as("_parent"),
        col(nameCol).as("_name"))
      .transform(Materialize.checkpointIterative)
    val ids = base.select(col("_id").as("_x"))
    // counted-while-forcing: each round's convergence probe (any rows
    // still walking, i.e. non-null _up?) is the checkpoint's forcing
    // action — one job per round, not checkpoint + isEmpty
    def pending(df: DataFrame): Long =
      df.where(col("_up").isNotNull).queryExecution.toRdd.count()
    var (state, nPending) = Materialize.checkpointIterativeForced(
      base
        .join(ids, base("_parent") === col("_x"), "left")
        .select(col("_id"),
          when(col("_x").isNotNull, col("_parent")).as("_up"),
          array(col("_name")).as("path")))(pending)
    var span = 1L
    while (span < maxDepth && nPending > 0) {
      val anc = state.select(col("_id").as("_a_id"),
        col("_up").as("_a_up"), col("path").as("_a_path"))
      // `_up` non-null ⇒ the ancestor row exists (pointers are only ever
      // set to ids present in the table), so the left join's NULL branch
      // is exactly the already-complete rows.
      val (next, n) = Materialize.checkpointIterativeForced(
        state
          .join(anc, state("_up") === col("_a_id"), "left")
          .select(state("_id"),
            when(state("_up").isNotNull, col("_a_up")).as("_up"),
            when(state("_up").isNotNull, concat(col("_a_path"), state("path")))
              .otherwise(state("path")).as("path")))(pending)
      state = next
      nPending = n
      span *= 2
    }
    // clamp to the walker's boundary: completed paths deeper than
    // maxDepth levels (covered because rounds overshoot to a power of
    // two) emit NULL exactly like an uncompleted one
    val done = state.select(col("_id").as(idCol),
      when(col("_up").isNull && size(col("path")) <= maxDepth,
        col("path")).as("path"))
    nodes.join(
      done.withColumn("breadcrumb",
        when(col("path").isNotNull, concat_ws(" / ", col("path")))),
      Seq(idCol), "left")
  }

  /** Root-to-self breadcrumb paths for a parent-pointer forest.
    *
    * Returns the input columns plus:
    *  - `path`: ArrayType(String) of names, root first, self last
    *  - `breadcrumb`: `" / "`-joined path (`dlt_fetch_timecamp.py:559-561`)
    *
    * Missing-parent tolerance matches the reference: a node whose parent id
    * does not exist in the table starts its own path (the walker stops at
    * the missing ancestor, `dlt_fetch_timecamp.py:534`). Depth is capped.
    */
  def breadcrumbs(
      nodes: DataFrame,
      idCol: String,
      parentCol: String,
      nameCol: String,
      maxDepth: Int = 32): DataFrame = {
    val base = nodes
      .select(col(idCol).as("_b_id"), col(parentCol).as("_b_parent"),
        col(nameCol).as("_b_name"))
      .transform(Materialize.checkpointIterative)

    val ids = base.select(col("_b_id"))
    // Roots: parent NULL, or parent not present in the table (orphans).
    val roots = base
      .join(ids.withColumnRenamed("_b_id", "_p_id"),
        base("_b_parent") === col("_p_id"), "left_anti")
      .select(col("_b_id"), array(col("_b_name")).as("path"))

    // Each level is checkpointed once (the next level's join re-reads it),
    // but the ACCUMULATED result is unioned lazily at the end — re-
    // checkpointing `done` per level re-materializes O(depth × n) rows
    // for nothing (~25% of the operator at sf1/200k nodes). The final
    // union's lineage is `depth` flat union nodes over already-
    // materialized frames.
    // counted iterative checkpoints: the level count doubles as the loop
    // guard and the append condition (one job per frontier; the retired
    // checkpoint-then-isEmpty shape was two)
    val (roots0, nRoots) = Materialize.checkpointIterativeCounted(roots)
    val levels = scala.collection.mutable.ArrayBuffer(roots0)
    var level = roots0
    var levelEmpty = nRoots == 0L
    var depth = 1
    while (depth < maxDepth && !levelEmpty) {
      val (next, n) = Materialize.checkpointIterativeCounted(
        base
          .join(level.withColumnRenamed("_b_id", "_l_id"),
            base("_b_parent") === col("_l_id"))
          .select(base("_b_id"),
            concat(col("path"), array(col("_b_name"))).as("path")))
      level = next
      levelEmpty = n == 0L
      if (!levelEmpty) levels += next
      depth += 1
    }
    val done = levels.reduce(_ unionByName _)
    nodes.join(
      done.select(col("_b_id").as(idCol), col("path"),
        concat_ws(" / ", col("path")).as("breadcrumb")),
      Seq(idCol), "left")
  }

  /** Fan the first `levels` breadcrumb elements out to string columns
    * (`task_level_1..8` / `group_level_1..5`, empty string beyond depth —
    * `dlt_fetch_timecamp.py:563-567`). Expects a `path` array column.
    */
  def withLevelColumns(df: DataFrame, prefix: String, levels: Int): DataFrame =
    (1 to levels).foldLeft(df) { (d, i) =>
      d.withColumn(s"${prefix}_level_$i",
        coalesce(try_element_at(col("path"), lit(i)), lit("")))
    }
}
