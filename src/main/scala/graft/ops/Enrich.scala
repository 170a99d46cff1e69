package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity-enrichment chains from the reference pipeline (§3.2): user →
  * primary group with breadcrumb + per-level columns, empty-string defaults
  * (NOT nulls — `dlt_fetch_timecamp.py:377-381`).
  *
  * Scale notes: groups/users are dimensions; the group hierarchy resolves
  * on the driver below the local-solve gate ([[Closure.breadcrumbsResolved]]),
  * and every join here is a broadcast of the small lookup side, so
  * enriching a 100 TB fact stream stays a map-side operation.
  */
object Enrich {

  /** Enrich `entities` with its group's name, breadcrumb and level columns.
    *
    * @param entities  fact-or-dim rows carrying `groupKeyCol`
    * @param groups    (idCol, parentCol, nameCol) adjacency-list hierarchy
    * @param levels    number of `group_level_i` columns (reference: 5)
    */
  def withGroup(
      entities: DataFrame, groupKeyCol: String,
      groups: DataFrame, idCol: String, parentCol: String, nameCol: String,
      levels: Int = 5): DataFrame = {
    val crumbs = Closure
      .breadcrumbsResolved(groups, idCol, parentCol, nameCol)
      .select(col(idCol).as("_g_id"), col(nameCol).as("_g_name"),
        col("breadcrumb").as("_g_breadcrumb"), col("path"))
    val withCols = Closure.withLevelColumns(crumbs, "group", levels)
    val lookup = withCols.drop("path")
    val joined = entities.join(broadcast(lookup),
      entities(groupKeyCol) === lookup("_g_id"), "left")
    val defaults = joined
      .withColumn("group_name", coalesce(col("_g_name"), lit("")))
      .withColumn("group_breadcrumb", coalesce(col("_g_breadcrumb"), lit("")))
    (1 to levels).foldLeft(defaults) { (d, i) =>
      d.withColumn(s"group_level_$i", coalesce(col(s"group_level_$i"), lit("")))
    }.drop("_g_id", "_g_name", "_g_breadcrumb")
  }
}
