package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixture trees per FIXTURES.md §2: ≥3 levels, a cycle pair, an orphan,
  * deep chains — semantics from the reference walkers
  * (`dlt_fetch_timecamp.py:313-346`, `:527-547`).
  */
class ClosureSpec extends SparkSpec {
  import spark.implicits._

  private def tree = Seq(
    // (task_id, parent_id, name)
    ("1", null, "root"),
    ("2", "1", "child"),
    ("3", "2", "grandchild"),
    ("4", null, "root2"),
    ("9", "404", "orphan"),      // parent missing from table
    ("7", "8", "cycA"),          // 7 <-> 8 cycle
    ("8", "7", "cycB")
  ).toDF("task_id", "parent_id", "name")

  /** The driver resolver's closure as sorted (descendant, ancestor) pairs. */
  private def resolvedClosure(nodes: DataFrame, maxDepth: Int)
      : Seq[(String, String)] = {
    val (rows, h) = Closure.resolve(nodes, "task_id", "parent_id", maxDepth)
      ._2.getOrElse(fail("the resolver route was not taken"))
    rows.toSeq.map(_.getString(0))
      .flatMap(d => h.ancestors(d).map(d -> _)).sorted
  }

  test("transitive closure contains all self-pairs (base case)") {
    val c = Closure.transitiveClosure(tree, "task_id", "parent_id")
    val selfPairs = c.where($"descendant_id" === $"ancestor_id").count()
    assert(selfPairs == 7)
  }

  test("transitive closure reaches all ancestors") {
    val c = Closure.transitiveClosure(tree, "task_id", "parent_id")
      .where($"descendant_id" === "3").orderBy("ancestor_id")
      .select("ancestor_id").as[String].collect().toSet
    assert(c == Set("1", "2", "3"))
  }

  test("closure converges on cycles to the exact finite pair set") {
    val c = Closure.transitiveClosure(tree, "task_id", "parent_id", maxDepth = 50)
    // cycle 7<->8 yields exactly {(7,7),(7,8),(8,8),(8,7)} — no duplicates,
    // termination before the cap
    import spark.implicits._
    val cyc = c.where($"descendant_id".isin("7", "8"))
      .as[(String, String)].collect().toSet
    assert(cyc == Set(("7", "7"), ("7", "8"), ("8", "8"), ("8", "7")))
    // whole-closure row count is exact: 7 self + (2,1)(3,2)(3,1)(9,404)(7,8)(8,7)
    assert(c.count() == 13)
    assert(c.distinct().count() == 13)
  }

  test("breadcrumbs: root-to-self path joined by ' / '") {
    val b = Closure.breadcrumbs(tree, "task_id", "parent_id", "name")
    val bc = b.where($"task_id" === "3").select("breadcrumb").as[String].head()
    assert(bc == "root / child / grandchild")
  }

  test("breadcrumbs: orphan starts its own path (missing-parent tolerance)") {
    val b = Closure.breadcrumbs(tree, "task_id", "parent_id", "name")
    val bc = b.where($"task_id" === "9").select("breadcrumb").as[String].head()
    assert(bc == "orphan")
  }

  test("breadcrumbs: cycle nodes get no path rather than an infinite loop") {
    val b = Closure.breadcrumbs(tree, "task_id", "parent_id", "name", maxDepth = 6)
    val cyc = b.where($"task_id".isin("7", "8")).select("breadcrumb")
      .collect().map(_.isNullAt(0))
    assert(cyc.forall(identity))
  }

  test("level columns fan out with empty-string fill beyond depth") {
    val b = Closure.withLevelColumns(
      Closure.breadcrumbs(tree, "task_id", "parent_id", "name"), "task", 8)
    val r = b.where($"task_id" === "3")
      .select("task_level_1", "task_level_2", "task_level_3", "task_level_4")
      .head()
    assert(r.getString(0) == "root" && r.getString(1) == "child" &&
      r.getString(2) == "grandchild" && r.getString(3) == "")
  }

  test("closure of a 10-deep chain reaches the root (depth > default levels)") {
    val chain = (1 to 10).map(i =>
      (i.toString, if (i == 1) null else (i - 1).toString, s"n$i"))
      .toDF("task_id", "parent_id", "name")
    val c = Closure.transitiveClosure(chain, "task_id", "parent_id")
    val anc10 = c.where($"descendant_id" === "10").count()
    assert(anc10 == 10) // self + 9 ancestors
  }

  test("recursive-CTE closure matches the iterative fixpoint on a forest") {
    val forest = tree.where(!$"task_id".isin("7", "8")) // drop the cycle pair
    val iter = Closure.transitiveClosure(forest, "task_id", "parent_id")
      .orderBy("descendant_id", "ancestor_id").collect()
    val rec = Closure.transitiveClosureRecursive(forest, "task_id", "parent_id")
      .orderBy("descendant_id", "ancestor_id").collect()
    assert(iter.toSeq == rec.toSeq)
  }

  test("recursive-CTE paths raise the engine's 1M-row recursion cap " +
    "(an ETL closure legitimately exceeds the interactive default)") {
    val key = "spark.sql.cteRecursionRowLimit"
    val before = spark.conf.getOption(key)
    val forest = tree.where(!$"task_id".isin("7", "8"))
    try {
      spark.conf.set(key, 1000000)
      Closure.transitiveClosureRecursive(forest, "task_id", "parent_id").count()
      assert(spark.conf.get(key).toLong === Int.MaxValue.toLong)
      // never LOWERED if a session already set it higher than our target
      spark.conf.set(key, Int.MaxValue)
      Closure.transitiveClosureRecursive(forest, "task_id", "parent_id").count()
      assert(spark.conf.get(key).toLong === Int.MaxValue.toLong)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("doubling breadcrumbs: orphan + cycle semantics match iterative, deep chain composes") {
    val iter = Closure.breadcrumbs(tree, "task_id", "parent_id", "name")
      .select("task_id", "breadcrumb").orderBy("task_id").collect()
    val dbl = Closure.breadcrumbsDoubling(tree, "task_id", "parent_id", "name")
      .select("task_id", "breadcrumb").orderBy("task_id").collect()
    assert(iter.toSeq == dbl.toSeq) // NULL for 7<->8; orphan 9 starts its own path
    // depth 11: crosses spans 1,2,4,8 with a non-power-of-two remainder,
    // so the final compose glues a full-path prefix onto a 2^k segment
    val chain = (1 to 11).map(i =>
      (i.toString, if (i == 1) null else (i - 1).toString, s"n$i"))
      .toDF("task_id", "parent_id", "name")
    val bc = Closure.breadcrumbsDoubling(chain, "task_id", "parent_id", "name")
      .where($"task_id" === "11").select("breadcrumb").as[String].head()
    assert(bc === (1 to 11).map(i => s"n$i").mkString(" / "))
  }

  test("depth-cap boundary is unified: all three closure variants agree " +
    "at exactly maxDepth and maxDepth+1") {
    val chain = (1 to 8).map(i =>
      (i.toString, if (i == 1) null else (i - 1).toString, s"n$i"))
      .toDF("task_id", "parent_id", "name")
    for (cap <- Seq(4, 5)) {
      val iter = Closure.transitiveClosure(chain, "task_id", "parent_id",
        maxDepth = cap).orderBy("descendant_id", "ancestor_id").collect().toSeq
      val rec = Closure.transitiveClosureRecursive(chain, "task_id", "parent_id",
        maxDepth = cap).orderBy("descendant_id", "ancestor_id").collect().toSeq
      assert(iter == rec, s"iterative vs recursive at cap $cap")
      assert(iter.map(r => (r.getString(0), r.getString(1))) ==
        resolvedClosure(chain, cap), s"iterative vs resolver at cap $cap")
      // distance ≤ cap exactly: node 8 sees itself + cap ancestors
      assert(iter.count(_.getString(0) == "8") == cap + 1)
    }
  }

  test("depth-cap boundary is unified: all three breadcrumb variants agree " +
    "at exactly maxDepth and maxDepth+1") {
    val chain = (1 to 8).map(i =>
      (i.toString, if (i == 1) null else (i - 1).toString, s"n$i"))
      .toDF("task_id", "parent_id", "name")
    for (cap <- Seq(4, 5)) {
      val iter = Closure.breadcrumbs(chain, "task_id", "parent_id", "name",
        maxDepth = cap).select("task_id", "breadcrumb").orderBy("task_id")
        .collect().toSeq
      val dbl = Closure.breadcrumbsDoubling(chain, "task_id", "parent_id",
        "name", maxDepth = cap).select("task_id", "breadcrumb")
        .orderBy("task_id").collect().toSeq
      val res = Closure.breadcrumbsResolved(chain, "task_id", "parent_id",
        "name", maxDepth = cap).select("task_id", "breadcrumb")
        .orderBy("task_id").collect().toSeq
      assert(iter == dbl, s"walker vs doubling at cap $cap")
      assert(iter == res, s"walker vs resolver at cap $cap")
      // levels ≤ cap have paths; deeper nodes NULL
      assert(iter.count(!_.isNullAt(1)) == cap)
    }
  }
}
