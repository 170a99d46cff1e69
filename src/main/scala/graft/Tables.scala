package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * Each table is a single parquet file under the sf dir; reads go through
  * the DataSource V2 parquet scan so filter pushdown / column pruning apply.
  *
  * `events.ts` is TIMESTAMP(NANOS) parquet, which Spark only reads as a
  * nanos-since-epoch Long (`spark.sql.legacy.parquet.nanosAsLong=true`,
  * set by every [[GraftSession]]); the loader normalizes it to a
  * micros TimestampType column — the same truncation DuckDB applies when
  * casting timestamp_ns → timestamp.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Type-adaptive: the driver's parquet stores ts as TIMESTAMP(NANOS)
    // (read as Long under nanosAsLong); re-materialized copies store a
    // real timestamp. DuckDB-written copies (the scaled sf1/sf10 evidence
    // sets) carry isAdjustedToUTC=false and surface as TIMESTAMP_NTZ,
    // which timestamp functions (unix_micros, windows) reject — normalize
    // to TimestampType (identity on values: every session here runs UTC).
    // Caught by the bench's error reporting at sf10; the old
    // swallow-and-time bench recorded the failure as a fast run.
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    else df
  }
}
